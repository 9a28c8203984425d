package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Flatten
import graft.sinks.{CsvSink, Excel, Filenames, JsonSink, XmlSink}
import graft.sources.{CsvSource, HttpFetch, JsonSource, PdfSource, XmlSource}

/** The reference's HTTP endpoints as composed library entry points — a user
  * of the reference maps each route onto one function here:
  *
  *   POST /process_link          -> [[processLink]]        (main.py:2287-2318)
  *   POST /process_file          -> [[processFile]]        (main.py:1776-1822)
  *   POST /convert_csv_to_xml    -> [[processCsvToXml]]    (main.py:1824-1855)
  *   POST /convert_csv_to_json   -> [[processCsvToJson]]   (main.py:797-835)
  *   POST /convert_json_to_csv   -> [[processJsonToCsv]]   (main.py:756-794)
  *   POST /convert_xml_to_json   -> [[processXmlToJson]]   (main.py:838-880)
  *   POST /convert_excel_to_csv  -> [[processExcelToCsv]]  (main.py:717-753)
  *   POST /convert_csv_to_excel  -> [[processCsvToExcel]]  (main.py:622-714)
  *
  * Each is: distributed read -> transform -> sink, with the flagship XML
  * path being read(xml) -> flatten(dialect) -> category join -> prune ->
  * sorted ;/BOM CSV (reference entry point 1, SURVEY.md §3).
  */
object Pipeline {

  /** S1 steps 3-6 of entry point 1: validate, detect (or honor the
    * explicit `targetNode` override), read, flatten. Returns the flat
    * all-string offer table BEFORE export pruning, plus the scrubbed temp
    * copy's path when F8 parse repair rewrote the feed — the DataFrame is
    * LAZY, so the temp must outlive every action on it; callers delete it
    * after their sink write completes. */
  def processXmlDataTracked(spark: SparkSession, path: String,
                            targetNode: String = "auto"): (DataFrame, Option[Path]) = {
    val head = XmlSource.readHead(path)
    XmlSource.validate(head)
    val dialect = targetNode match {
      case "auto"                    => XmlSource.detect(head)
      case "offer"                   => XmlSource.Yml
      case "product"                 => XmlSource.Product
      case "russian"                 => XmlSource.Russian
      case "service"                 => XmlSource.Service
      case other => throw new IllegalArgumentException(s"Unknown target node: $other")
    }
    // F8 parse repair: control bytes, BOM, and bare ampersands are
    // scrubbed into a temp copy (streaming; no-op when the feed is clean)
    val src = XmlSource.scrubbedIfNeeded(path)
    val scrubTmp = if (src == path) None else Some(Paths.get(src))
    val rows = XmlSource.read(spark, src, dialect)
    val flat = dialect match {
      case XmlSource.Yml =>
        val cats = XmlSource.categoryPaths(XmlSource.readCategories(spark, src))
        Flatten.flattenOffers(rows, XmlSource.Yml, Some(cats))
      case XmlSource.Product => Flatten.flattenOffers(rows, XmlSource.Product)
      case XmlSource.Russian => Flatten.flattenRussian(rows)
      case XmlSource.Service => Flatten.flattenService(rows)
    }
    (flat, scrubTmp)
  }

  /** Entry point 1 tail: flatten -> prune -> sorted ; CSV with BOM
    * (main.py:1540-1582). Returns the written path. */
  def processXmlFileToCsv(spark: SparkSession, inPath: String, outDir: String,
                          targetNode: String = "auto"): Path = {
    val (flat, scrubTmp) = processXmlDataTracked(spark, inPath, targetNode)
    try {
      val out = Paths.get(outDir, Filenames.csvNameFor(Paths.get(inPath).getFileName.toString))
      Files.createDirectories(out.getParent)
      CsvSink.writeSingleFile(CsvSink.exportColumns(flat), out.toString)
      out
    } finally scrubTmp.foreach(Files.deleteIfExists(_)) // feed-sized temp
  }

  /** Entry point: URL fetch -> XML pipeline (main.py:1586-1741 + 1384).
    * When `returnUrl` is set, the [[postCompletion]] webhook fires once
    * the CSV is written. */
  def processLink(spark: SparkSession, url: String, outDir: String,
                  targetNode: String = "auto",
                  returnUrl: Option[String] = None): Path = {
    val tmp = HttpFetch.fetchToFile(url)
    try {
      val (flat, scrubTmp) = processXmlDataTracked(spark, tmp.toString, targetNode)
      try {
        val out = Paths.get(outDir, Filenames.csvNameFor(url))
        Files.createDirectories(out.getParent)
        CsvSink.writeSingleFile(CsvSink.exportColumns(flat), out.toString)
        returnUrl.foreach(postCompletion(_, out, targetNode))
        out
      } finally scrubTmp.foreach(Files.deleteIfExists(_))
    } finally Files.deleteIfExists(tmp) // a feed-sized temp per call
  }

  /** The completion webhook (main.py:2303-2310): POSTs
    * `{"file_url", "preset_id", "status": "completed"}` to `callbackUrl`.
    * A failed callback never fails the conversion — the reference logs
    * and returns the result, so the POST is best-effort the same way. */
  private[graft] def postCompletion(callbackUrl: String, file: Path,
                                    presetId: String): Unit = {
    val body =
      s"""{"file_url": ${Json.str(file.toString)}, """ +
        s""""preset_id": ${Json.str(presetId)}, "status": "completed"}"""
    try HttpFetch.postJson(callbackUrl, body)
    catch { case e: Exception =>
      System.err.println(s"[pipeline] callback error: ${e.getMessage}")
    }
  }

  /** POST /process_file dispatch by extension (main.py:1803-1812). */
  def processFile(spark: SparkSession, path: String, outDir: String): Path = {
    val name = Paths.get(path).getFileName.toString.toLowerCase
    if (name.endsWith(".csv")) processCsvToXml(spark, path, outDir)
    else if (name.endsWith(".xlsx") || name.endsWith(".xls"))
      processExcelToCsv(spark, path, outDir)
    else if (name.endsWith(".json")) processJsonToCsv(spark, path, outDir)
    else processXmlFileToCsv(spark, path, outDir)
  }

  def processCsvToXml(spark: SparkSession, csvPath: String, outDir: String,
                      xmlFormat: String = "yandex_market",
                      date: String = ""): Path = {
    val df = CsvSource.read(spark, csvPath)
    val out = Paths.get(outDir, Filenames.xmlNameFor(
      Paths.get(csvPath).getFileName.toString, xmlFormat))
    Files.createDirectories(out.getParent)
    xmlFormat match {
      case "simple"             => XmlSink.writeSimple(df, out.toString)
      case "yandex_market" | "" => XmlSink.writeYandexMarket(df, out.toString, date)
      case other => throw new IllegalArgumentException(s"Unknown XML format: $other")
    }
    out
  }

  def processCsvToJson(spark: SparkSession, csvPath: String, outDir: String,
                       jsonFormat: String = "array",
                       exportedAt: String = ""): Path = {
    val df = CsvSource.read(spark, csvPath)
    val base = Paths.get(csvPath).getFileName.toString.replaceAll("(?i)\\.csv$", "")
    val out = Paths.get(outDir, s"$base.json")
    Files.createDirectories(out.getParent)
    jsonFormat match {
      case "object"       => JsonSink.writeEnvelope(df, out.toString, exportedAt)
      case "array" | ""   => JsonSink.writeArray(df, out.toString)
      case other => throw new IllegalArgumentException(
        s"Unknown JSON format: $other") // fail fast like processCsvToXml
    }
    out
  }

  def processJsonToCsv(spark: SparkSession, jsonPath: String, outDir: String): Path = {
    val df = JsonSource.read(spark, jsonPath)
    val base = Paths.get(jsonPath).getFileName.toString.replaceAll("(?i)\\.json$", "")
    val out = Paths.get(outDir, s"$base.csv")
    Files.createDirectories(out.getParent)
    CsvSink.writeSingleFile(
      df.select(df.columns.sorted.toSeq.map(c =>
        org.apache.spark.sql.functions.col("`" + c + "`").cast("string").as(c)): _*),
      out.toString)
    out
  }

  def processXmlToJson(spark: SparkSession, xmlPath: String, outDir: String,
                       rowTag: String): Path = {
    val df = spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("attributePrefix", XmlSource.AttrPrefix)
      .option("valueTag", XmlSource.ValueTag)
      .load(xmlPath)
    val json = JsonSink.xmlToJson(df)
    val base = Paths.get(xmlPath).getFileName.toString.replaceAll("(?i)\\.xml$", "")
    val out = Paths.get(outDir, s"$base.json")
    Files.createDirectories(out.getParent)
    // stream partition iterators: constant driver memory (collect() would
    // materialize the whole converted dataset in one driver array)
    val w = Files.newBufferedWriter(out, StandardCharsets.UTF_8)
    try {
      w.write("[\n")
      // natural partitioning: toLocalIterator holds ONE partition's rows
      // at a time, so many small partitions = bounded driver memory
      // (coalescing first would concentrate ~dataset/n in each)
      val it = json.toLocalIterator()
      var first = true
      while (it.hasNext) {
        if (!first) w.write(",\n")
        w.write(it.next().getString(0))
        first = false
      }
      w.write("\n]")
    } finally w.close()
    out
  }

  def processExcelToCsv(spark: SparkSession, xlsxPath: String, outDir: String): Path = {
    val df = Excel.readXlsx(spark, xlsxPath)
    val base = Paths.get(xlsxPath).getFileName.toString
      .replaceAll("(?i)\\.xlsx?$", "").replaceAll("(?i)\\.xls$", "")
    val out = Paths.get(outDir, s"$base.csv")
    Files.createDirectories(out.getParent)
    CsvSink.writeSingleFile(df, out.toString)
    out
  }

  def processCsvToExcel(spark: SparkSession, csvPath: String, outDir: String): Path = {
    val df = CsvSource.read(spark, csvPath)
    val base = Paths.get(csvPath).getFileName.toString.replaceAll("(?i)\\.csv$", "")
    val out = Paths.get(outDir, s"$base.xlsx")
    Files.createDirectories(out.getParent)
    Excel.writeXlsx(df, out.toString)
    out
  }

  // ---------------------------------------------------------------------
  // PDF / image converter endpoints (reference main.py:2050-2285)
  //   POST /convert_pdf_to_csv    -> processPdfToCsv    (main.py:2092-2111)
  //   POST /convert_pdf_to_excel  -> processPdfToExcel  (main.py:2114-2142)
  //   POST /convert_pdf_to_json   -> processPdfToJson   (main.py:2145-2164)
  //   POST /convert_csv_to_pdf    -> processCsvToPdf    (main.py:2167-2198)
  //   POST /convert_excel_to_pdf  -> processExcelToPdf  (main.py:2201-2221)
  //   POST /convert_image_to_pdf  -> processImageToPdf  (main.py:2224-2243)
  //   POST /convert_pdf_to_png    -> processPdfToImages (main.py:2246-2265)
  //   POST /convert_pdf_to_jpg    -> processPdfToImages (main.py:2268-2285)
  //   POST /convert_jpg_to_png    -> processJpgToPng    (main.py:2050-2068)
  // Each composes the verified S8/K8/K9 capabilities; bounded driver work
  // is exactly the report-sink contract (one uploaded file per call).
  // ---------------------------------------------------------------------

  /** The tables of one PDF as a WIDE DataFrame — the reference's
    * pdfplumber extraction shape (main.py:914-978: per-table DataFrames
    * with the table's first row as header, pandas-concat'd into a union
    * of columns, plus `pdf_page`/`table_number` provenance). Column
    * order is first appearance across the document. The extraction
    * itself is [[PdfSource.readTableCells]]'s distributed x/y
    * clustering; only the header dictionary (≤ one row of names per
    * table, MediaBox-bounded) is collected to drive the pivot.
    *
    * Header-name edge rules (all deterministic, no silent data loss):
    * a column with NO header cell in row 1 keeps its data under a
    * positional `col_N` name; duplicate header names within one table
    * get an occurrence suffix (`name`, `name_2`, ...) — a plain
    * `first()` pivot would nondeterministically drop one of them; a
    * header named `pdf_page`/`table_number` is overwritten by the
    * provenance columns (the reference's pandas assignment does the
    * same). Returns (wide, output column order, internal key column
    * names) — the key names are chosen to never collide with
    * header-derived names. */
  private def pdfTablesWide(spark: SparkSession, pdfPath: String)
      : (DataFrame, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val cells = PdfSource.readTableCells(spark, pdfPath)
    val named = cells.select("file", "page", "table", "col").distinct()
      .join(cells.filter(col("row") === 1)
        .select(col("file"), col("page"), col("table"), col("col"),
          col("cell")),
        Seq("file", "page", "table", "col"), "left")
      .withColumn("colname",
        coalesce(col("cell"), concat(lit("col_"), col("col"))))
    val wOcc = Window
      .partitionBy(col("file"), col("page"), col("table"), col("colname"))
      .orderBy(col("col"))
    val hdr = named.withColumn("occ", row_number().over(wOcc))
      .withColumn("colname",
        when(col("occ") > 1, concat(col("colname"), lit("_"), col("occ")))
          .otherwise(col("colname")))
      .select("file", "page", "table", "col", "colname")
    // pivot targets: header names in document-order of first appearance
    val colOrder = hdr
      .groupBy("colname")
      .agg(min(struct(col("page"), col("table"), col("col"))).as("ord"))
      .orderBy("ord")
      .select("colname").collect().map(_.getString(0)).toSeq
    require(colOrder.nonEmpty, s"No tables found in PDF file: $pdfPath")
    // internal key columns must not collide with ANY header-derived name
    // (a real header may legitimately start with '_')
    val pfx = Iterator.iterate("_")(_ + "_").find(p =>
      !Seq("file", "page", "tbl", "row")
        .exists(k => colOrder.contains(p + k))).get
    val keys = Seq("file", "page", "tbl", "row").map(pfx + _)
    val wide = cells.filter(col("row") > 1)
      .join(hdr, Seq("file", "page", "table", "col"))
      .groupBy(col("file").as(keys(0)), col("page").as(keys(1)),
        col("table").as(keys(2)), col("row").as(keys(3)))
      .pivot("colname", colOrder)
      .agg(first(col("cell")))
      .withColumn("pdf_page", col("`" + keys(1) + "`"))
      .withColumn("table_number", col("`" + keys(2) + "`"))
    (wide, colOrder.filterNot(Seq("pdf_page", "table_number").contains)
      ++ Seq("pdf_page", "table_number"), keys)
  }

  /** PDF tables -> `;`/BOM CSV (main.py:914-978 + 2092-2111): header
    * union of all tables, one row per table body row in (page, table,
    * row) order, `pdf_page`/`table_number` appended. */
  def processPdfToCsv(spark: SparkSession, pdfPath: String, outDir: String): Path = {
    import org.apache.spark.sql.functions.col
    val (wide, dataCols, keys) = pdfTablesWide(spark, pdfPath)
    val base = Paths.get(pdfPath).getFileName.toString.replaceAll("(?i)\\.pdf$", "")
    val out = Paths.get(outDir, s"${base}_tables.csv")
    Files.createDirectories(out.getParent)
    CsvSink.writeSingleFile(
      wide.orderBy(keys.map(k => col("`" + k + "`")): _*)
        .select(dataCols.map(c => col("`" + c + "`")): _*),
      out.toString)
    out
  }

  /** PDF tables -> xlsx (main.py:2114-2142 routes pdf->csv->excel; same
    * composition here, with the intermediate CSV deleted after the
    * workbook is written). */
  def processPdfToExcel(spark: SparkSession, pdfPath: String, outDir: String): Path = {
    val csv = processPdfToCsv(spark, pdfPath, outDir)
    try processCsvToExcel(spark, csv.toString, outDir)
    finally Files.deleteIfExists(csv)
  }

  /** Basename minus its last extension (any extension — the image/PDF
    * converters accept several), matching the reference's
    * `os.path.splitext` use. */
  private def stripExt(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot > 0) name.substring(0, dot) else name
  }

  /** PDF -> structured JSON (main.py:981-1053): document_info envelope,
    * per-page text + tables + image counts, plus flat `tables` /
    * `text_content` indexes. Table structure comes from
    * [[PdfSource.readTableCells]]'s distributed clustering; the per-page
    * text/image walk and the final assembly are driver-side over ONE
    * uploaded file (the converter-endpoint contract — this is a document
    * serializer, not a corpus operator). Metadata fields the pure-JVM
    * parser does not index (title/author/...) are empty strings, shape
    * parity with the reference's `pdf.metadata.get(..., '')`. */
  def processPdfToJson(spark: SparkSession, pdfPath: String, outDir: String): Path = {
    val bytes = Files.readAllBytes(Paths.get(pdfPath))
    val pages = PdfSource.pageContents(bytes)
    // readTableCells numbers pages on the TEXT-BEARING-stream scale
    // (extractCells skips image-only pages); remap its k-th text page to
    // the unified page number pageContents assigned, so a table after an
    // image-only page lands in the right page object
    val textPageNo = pages.collect { case (pg, lines, _) if lines.nonEmpty => pg }
    def unified(textPage: Int): Int =
      if (textPage >= 1 && textPage <= textPageNo.length) textPageNo(textPage - 1)
      else textPage
    val cells = PdfSource.readTableCells(spark, pdfPath)
      .orderBy("page", "table", "row", "col")
      .select("page", "table", "row", "col", "cell")
      .collect()
      .map(r => (unified(r.getInt(0)), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    // (page, table) -> header row + body rows, cols left-to-right
    val tables = cells.groupBy(t => (t._1, t._2)).toSeq.sortBy(_._1).map {
      case ((page, tbl), tc) =>
        val byRow = tc.groupBy(_._3).toSeq.sortBy(_._1)
          .map { case (_, rc) => rc.sortBy(_._4).map(_._5).toSeq }
        (page, tbl, byRow.head, byRow.tail)
    }
    def tableJson(tbl: Int, headers: Seq[String], rows: Seq[Seq[String]],
                  extra: String = ""): String =
      s"""{$extra"table_number": $tbl, "headers": [${headers.map(Json.str).mkString(", ")}], """ +
        s""""rows": [${rows.map(r => "[" + r.map(Json.str).mkString(", ") + "]").mkString(", ")}], """ +
        s""""rows_count": ${rows.length}, "columns_count": ${headers.length}}"""
    val pageObjs = pages.map { case (pg, lines, nImages) =>
      val text = lines.mkString("\n")
      val pageTables = tables.filter(_._1 == pg)
        .map { case (_, tbl, h, rs) => tableJson(tbl, h, rs) }
      s"""{"page_number": $pg, "text": ${Json.str(text)}, """ +
        s""""tables": [${pageTables.mkString(", ")}], "images_count": $nImages}"""
    }
    val flatTables = tables.map { case (pg, tbl, h, rs) =>
      tableJson(tbl, h, rs, extra = s""""page": $pg, """)
    }
    val textContent = pages.filter(_._2.nonEmpty).map { case (pg, lines, _) =>
      s"""{"page": $pg, "text": ${Json.str(lines.mkString("\n"))}}"""
    }
    val doc =
      s"""{
         |  "document_info": {"title": "", "author": "", "creator": "", "producer": "", "creation_date": "", "modification_date": "", "pages_count": ${pages.length}},
         |  "pages": [${pageObjs.mkString(", ")}],
         |  "tables": [${flatTables.mkString(", ")}],
         |  "text_content": [${textContent.mkString(", ")}]
         |}""".stripMargin
    val base = Paths.get(pdfPath).getFileName.toString.replaceAll("(?i)\\.pdf$", "")
    val out = Paths.get(outDir, s"${base}_data.json")
    Files.createDirectories(out.getParent)
    Files.writeString(out, doc, StandardCharsets.UTF_8)
    out
  }

  /** CSV -> PDF report (main.py:1056-1152 + 2167-2198). `table` style is
    * the positioned grid [[graft.sinks.PdfSink.writeGridPdf]] renders and
    * [[PdfSource.readTableCells]] round-trips (header + first 50 rows,
    * the reference's `rows[:50]` cap); `summary` style is the text
    * report: record/field counts, field names, first 5 example records
    * with values truncated at 100 chars. */
  def processCsvToPdf(spark: SparkSession, csvPath: String, outDir: String,
                      reportStyle: String = "table"): Path = {
    val df = CsvSource.read(spark, csvPath)
    val base = Paths.get(csvPath).getFileName.toString.replaceAll("(?i)\\.csv$", "")
    val out = Paths.get(outDir, s"${base}_report.pdf")
    Files.createDirectories(out.getParent)
    writeReportPdf(df, base, out, reportStyle)
    out
  }

  /** Excel -> PDF report (main.py:1155-1170: read workbook, route through
    * the CSV report writer — same composition without the temp CSV). */
  def processExcelToPdf(spark: SparkSession, xlsxPath: String, outDir: String,
                        reportStyle: String = "table"): Path = {
    val df = Excel.readXlsx(spark, xlsxPath)
    val base = Paths.get(xlsxPath).getFileName.toString
      .replaceAll("(?i)\\.xlsx?$", "")
    val out = Paths.get(outDir, s"${base}_report.pdf")
    Files.createDirectories(out.getParent)
    writeReportPdf(df, base, out, reportStyle)
    out
  }

  /** Shared report tail for the CSV/Excel -> PDF endpoints. The collects
    * are report-bounded (≤ 50 grid rows / 5 example records), the K8
    * sink contract. File order is recovered per-partition via
    * `monotonically_increasing_id` — exact for the single-file reads
    * these endpoints do. */
  private def writeReportPdf(df: DataFrame, title: String, out: Path,
                             reportStyle: String): Unit = {
    import org.apache.spark.sql.functions._
    val names = df.columns.toSeq
    require(names.nonEmpty, "CSV file is empty or invalid")
    val ordered = df
      .withColumn("_ord", monotonically_increasing_id())
      .orderBy(col("_ord"))
    reportStyle match {
      case "table" =>
        val rows = ordered.limit(50)
          .select(names.map(c => col("`" + c + "`").cast("string")): _*)
          .collect()
          .map(r => names.indices.map(i =>
            if (r.isNullAt(i)) "" else r.getString(i)).toSeq)
          .toSeq
        // header + the 50-row cap on ONE page (rowsPerPage 51 ≤ the 55
        // MediaBox bound): a page split would orphan data rows under the
        // header-is-row-1 contract readTableCells/pdfTablesWide recover
        graft.sinks.PdfSink.writeGridPdf(names +: rows, out.toString,
          rowsPerPage = 51)
      case "summary" =>
        val total = df.count()
        val examples = ordered.limit(5)
          .select(names.map(c => col("`" + c + "`").cast("string")): _*)
          .collect()
        val exampleLines = examples.zipWithIndex.flatMap { case (r, i) =>
          s"Record ${i + 1}:" +: names.indices.map { j =>
            val v = if (r.isNullAt(j)) "" else r.getString(j)
            val shown = if (v.length > 100) v.take(100) + "..." else v
            s"  - ${names(j)}: $shown"
          }
        }
        val lines = Seq(
          s"Report: $title",
          "",
          "Summary:",
          s"  - records: $total",
          s"  - fields: ${names.length}",
          s"  - field names: ${names.mkString(", ")}",
          "",
          "Examples:") ++ exampleLines
        graft.sinks.PdfSink.writeTextPdf(lines, out.toString)
      case other =>
        throw new IllegalArgumentException(s"Unknown report style: $other")
    }
  }

  /** Image (png/jpg/bmp/gif) -> one-page PDF (main.py:1173-1241 +
    * 2224-2243): the K9 [[graft.sinks.PdfSink.writeImagePdf]] embed —
    * JPEG passthrough as DCTDecode, everything else as FlateDecode RGB. */
  def processImageToPdf(imagePath: String, outDir: String): Path = {
    val bytes = Files.readAllBytes(Paths.get(imagePath))
    val base = stripExt(Paths.get(imagePath).getFileName.toString)
    val out = Paths.get(outDir, s"$base.pdf")
    Files.createDirectories(out.getParent)
    graft.sinks.PdfSink.writeImagePdf(Seq(bytes), out.toString)
    out
  }

  /** PDF -> page raster(s) (main.py:1244-1381 + 2246-2285): a single-page
    * document writes `base.png`/`base.jpg`; a multi-page one writes
    * `base_images.zip` with `page_NNN.<fmt>` entries — the reference's
    * exact envelope split. Rasterization is
    * [[PdfSource.pdfToImages]]'s pure-JVM Java2D render. */
  def processPdfToImages(pdfPath: String, outDir: String,
                         format: String = "png", dpi: Int = 150): Path = {
    val bytes = Files.readAllBytes(Paths.get(pdfPath))
    val pages = PdfSource.pdfToImages(bytes, format, dpi)
    require(pages.nonEmpty, s"No renderable pages in PDF file: $pdfPath")
    val fmt = if (format.toLowerCase.startsWith("j")) "jpg" else "png"
    val base = Paths.get(pdfPath).getFileName.toString.replaceAll("(?i)\\.pdf$", "")
    Files.createDirectories(Paths.get(outDir))
    if (pages.length == 1) {
      val out = Paths.get(outDir, s"$base.$fmt")
      Files.write(out, pages.head._4)
      out
    } else {
      val out = Paths.get(outDir, s"${base}_images.zip")
      val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(out))
      try pages.foreach { case (pg, _, _, img) =>
        zip.putNextEntry(new java.util.zip.ZipEntry(f"page_$pg%03d.$fmt"))
        zip.write(img)
        zip.closeEntry()
      } finally zip.close()
      out
    }
  }

  /** PNG -> JPG re-encode (main.py:2071-2089). The reference's helper
    * `process_png_to_jpg` is ABSENT from its source — the endpoint would
    * NameError — so semantics here mirror its jpg→png twin plus the
    * RGBA→JPEG flattening every other reference image path applies
    * (main.py:1302-1310): alpha composites onto a white background,
    * then a JPEG encode (the JDK writer rejects ARGB rasters, so the
    * flatten is load-bearing, not just cosmetic parity). */
  def processPngToJpg(imagePath: String, outDir: String): Path = {
    val bytes = Files.readAllBytes(Paths.get(imagePath))
    val img = graft.analytics.Multimodal.decodeImage(bytes).getOrElse(
      throw new IllegalArgumentException(s"Undecodable image: $imagePath"))
    val rgb = new java.awt.image.BufferedImage(
      img.getWidth, img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = rgb.createGraphics()
    try {
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, img.getWidth, img.getHeight)
      g.drawImage(img, 0, 0, null)
    } finally g.dispose()
    val base = stripExt(Paths.get(imagePath).getFileName.toString)
    val out = Paths.get(outDir, s"$base.jpg")
    Files.createDirectories(out.getParent)
    Files.write(out, graft.analytics.Multimodal.encodeImage(rgb, "jpg"))
    out
  }

  /** JPG -> PNG re-encode (main.py:886-911 + 2050-2068): decode via the
    * K9 raster codec, re-encode lossless PNG. */
  def processJpgToPng(imagePath: String, outDir: String): Path = {
    val bytes = Files.readAllBytes(Paths.get(imagePath))
    val img = graft.analytics.Multimodal.decodeImage(bytes).getOrElse(
      throw new IllegalArgumentException(s"Undecodable image: $imagePath"))
    val base = stripExt(Paths.get(imagePath).getFileName.toString)
    val out = Paths.get(outDir, s"$base.png")
    Files.createDirectories(out.getParent)
    Files.write(out, graft.analytics.Multimodal.encodeImage(img, "png"))
    out
  }
}
