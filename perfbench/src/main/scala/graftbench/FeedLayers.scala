package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.Pipeline
import graft.engine.Flatten
import graft.sinks.{CsvSink, Filenames, XmlSink}
import graft.sources.{CsvSource, XmlSource}

/** The large-feed path, traced layer by layer: one YML feed above the
  * split threshold converted XML to CSV, and a same-shape CSV converted
  * back to XML. Each conversion runs as the whole Pipeline call and again
  * as the same public steps Pipeline takes, each its own span and job
  * group; the two outputs must match byte for byte. */
object FeedLayers {
  /** Feed size: offers carry long descriptions, so the file is well above
    * the 8 MB split threshold while the conversion stays within a run. */
  val Offers = 6000
  val Categories = 3000
  val DescWords = 150

  def run(ctx: Ctx, l: Listener): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val (offers, cats) = if (ctx.tiny) (300, 60) else (Offers, Categories)
    val dir = ctx.workDir.resolve("feed")
    val feed = Gen.ymlFeed(dir.resolve("feed.xml"), ctx.seed + 11, offers, cats, descWords = DescWords)
    val csv = Gen.offersCsv(dir.resolve("feed.csv"), ctx.seed + 12, offers, cats)
    if (!ctx.tiny)
      require(feed.bytes > XmlSource.SplitThresholdBytes,
        s"feed is ${feed.bytes} bytes: the split read would not run")
    var opNo = 1000L
    def outDir(): Path = { opNo += 1; dir.resolve(s"out/$opNo") }
    def util(a: GroupAgg, wallS: Double): Double = a.taskS / (wallS * ctx.cores)
    def same(a: Path, b: Path, what: String): Unit = ctx.record(what) {
      if (java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b))) None
      else Some("decomposed output differs from the Pipeline call")
    }

    // --- XML -> CSV -------------------------------------------------------
    // untraced first: the serve mix has warmed flatten and the sinks, not
    // the split read
    val plain = outDir()
    val t00 = System.nanoTime()
    val plainOut = Pipeline.processXmlFileToCsv(spark, feed.path.toString, plain.toString)
    val plainS = (System.nanoTime() - t00) / 1e9
    ctx.record("large feed xml_to_csv")(Checks.ymlCsv(Files.readAllBytes(plainOut), feed))
    ctx.put("feed.xml_to_csv_offers_per_s", feed.records / plainS, "1/s")

    val whole = outDir()
    val (wholeOut, wholeS) = Trace.span(spark, "feed.xml_to_csv", opNo) {
      Pipeline.processXmlFileToCsv(spark, feed.path.toString, whole.toString)
    }
    val p = l.group(sc, "feed.xml_to_csv")
    ctx.put("feed.xml_to_csv.jobs", p.jobs, "count")
    ctx.put("feed.xml_to_csv.task_s", p.taskS, "s")
    ctx.put("feed.xml_to_csv.util", util(p, wholeS), "ratio")
    ctx.put("feed.xml_to_csv.input_bytes_ratio", p.inputBytes.toDouble / feed.bytes, "ratio")

    val path = feed.path.toString
    val parts = outDir()
    val op = opNo
    val (dialect, headS) = Trace.span(spark, "sources.xml_head", op) {
      val head = XmlSource.readHead(path)
      XmlSource.validate(head)
      XmlSource.detect(head)
    }
    val (src, scrubS) = Trace.span(spark, "sources.xml_scrub", op)(XmlSource.scrubbedIfNeeded(path))
    val (rows, readS) = Trace.span(spark, "sources.xml_read", op)(XmlSource.read(spark, src, dialect))
    val (catPaths, catS) = Trace.span(spark, "sources.categories", op) {
      XmlSource.categoryPaths(XmlSource.readCategories(spark, src))
    }
    val (flat, flatS) = Trace.span(spark, "engine.flatten", op) {
      Flatten.flattenOffers(rows, XmlSource.Yml, Some(catPaths))
    }
    val (pruned, pruneS) = Trace.span(spark, "engine.prune", op)(CsvSink.exportColumns(flat))
    val out = parts.resolve(Filenames.csvNameFor(feed.path.getFileName.toString))
    Files.createDirectories(parts)
    val (_, writeS) = Trace.span(spark, "sinks.csv_write", op)(CsvSink.writeSingleFile(pruned, out.toString))
    if (src != path) Files.deleteIfExists(Paths.get(src))
    same(out, wholeOut, "traced xml_to_csv equals Pipeline")
    val read = l.group(sc, "sources.xml_read")
    val fl = l.group(sc, "engine.flatten")
    val wr = l.group(sc, "sinks.csv_write")
    ctx.put("sources.xml_head.s", headS, "s")
    ctx.put("sources.xml_scrub.s", scrubS, "s")
    ctx.put("sources.xml_read.s", readS, "s")
    ctx.put("sources.xml_read.jobs", read.jobs, "count")
    ctx.put("sources.xml_read.task_s", read.taskS, "s")
    ctx.put("sources.categories.s", catS, "s")
    ctx.put("engine.flatten.s", flatS, "s")
    ctx.put("engine.flatten.jobs", fl.jobs, "count")
    ctx.put("engine.flatten.cols_out", flat.columns.length, "count")
    ctx.put("engine.prune.s", pruneS, "s")
    ctx.put("engine.prune.kept_ratio", pruned.columns.length.toDouble / flat.columns.length, "ratio")
    ctx.put("sinks.csv_write.s", writeS, "s")
    ctx.put("sinks.csv_write.task_s", wr.taskS, "s")
    ctx.put("sinks.csv_write.util", util(wr, writeS), "ratio")
    ctx.put("sinks.csv_write.spill_bytes", wr.spillBytes, "bytes")
    ctx.put("sinks.csv_write.bytes_out", Files.size(out), "bytes")

    // --- CSV -> XML -------------------------------------------------------
    val o1 = outDir()
    val t0 = System.nanoTime()
    val csvOut = Pipeline.processCsvToXml(spark, csv.path.toString, o1.toString)
    val csvS = (System.nanoTime() - t0) / 1e9
    ctx.record("large csv_to_xml")(Checks.ymlXml(Files.readAllBytes(csvOut), csv))
    ctx.put("feed.csv_to_xml_offers_per_s", csv.records / csvS, "1/s")
    val whole2 = outDir()
    val (whole2Out, whole2S) = Trace.span(spark, "feed.csv_to_xml", opNo) {
      Pipeline.processCsvToXml(spark, csv.path.toString, whole2.toString)
    }
    val p2 = l.group(sc, "feed.csv_to_xml")
    ctx.put("feed.csv_to_xml.jobs", p2.jobs, "count")
    ctx.put("feed.csv_to_xml.task_s", p2.taskS, "s")
    ctx.put("feed.csv_to_xml.util", util(p2, whole2S), "ratio")
    val parts2 = outDir()
    Files.createDirectories(parts2)
    val (df, csvReadS) = Trace.span(spark, "sources.csv_read", opNo)(CsvSource.read(spark, csv.path.toString))
    val out2 = parts2.resolve(Filenames.xmlNameFor(csv.path.getFileName.toString, "yandex_market"))
    val (_, xmlWriteS) = Trace.span(spark, "sinks.xml_write", opNo) {
      XmlSink.writeYandexMarket(df, out2.toString, "")
    }
    same(out2, whole2Out, "traced csv_to_xml equals Pipeline")
    val xw = l.group(sc, "sinks.xml_write")
    ctx.put("sources.csv_read.s", csvReadS, "s")
    ctx.put("sinks.xml_write.s", xmlWriteS, "s")
    ctx.put("sinks.xml_write.task_s", xw.taskS, "s")
    ctx.put("sinks.xml_write.util", util(xw, xmlWriteS), "ratio")
    ctx.put("sinks.xml_write.shuffle_bytes", xw.shuffleBytes, "bytes")
    Main.rmrf(dir)
  }
}
