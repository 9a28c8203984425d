package graft.sources

import graft.analytics.Par.Mat

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.CategoryPath

/** S1/S2 — the XML catalog source (reference `process_xml_data`
  * main.py:1384-1583). Four dialects, auto-detected from document markers
  * (main.py:1463-1473), each mapped to a native Spark 4 XML read with the
  * dialect's element as `rowTag` — the reference's chunked XPath iteration
  * (`split_offers` main.py:98-112) is subsumed by source partitioning.
  *
  * Validation (P7, main.py:1390-1424) and the control-char/BOM/entity scrub
  * (F8, main.py:1426-1461) operate on the raw text before the distributed
  * read; they mirror the reference's error messages.
  */
object XmlSource {

  sealed abstract class Dialect(val rowTag: String)
  case object Yml     extends Dialect("offer")
  case object Product extends Dialect("product")
  case object Russian extends Dialect("ЭлементСправочника")
  case object Service extends Dialect("service")

  val AttrPrefix = "_"
  val ValueTag   = "_VALUE"

  /** P7 input validation (main.py:1390-1424): reject HTML, error pages, and
    * non-XML payloads with the reference's messages. */
  def validate(raw: String): Unit = {
    val dataLower = raw.trim.toLowerCase
    if (dataLower.startsWith("<html") || dataLower.startsWith("<!doctype html"))
      throw new IllegalArgumentException(
        "Data contains HTML page instead of XML/YML file.")
    val markers = Seq("<yml_catalog", "<catalog", "<offers", "<products",
                      "<shop", "<корневой")
    if ((dataLower.contains("error") || dataLower.contains("not found") ||
         dataLower.contains("404")) &&
        !raw.trim.startsWith("<?xml") && !markers.exists(dataLower.contains))
      throw new IllegalArgumentException("Data contains error page.")
    if (!stripBom(raw.trim).startsWith("<"))
      throw new IllegalArgumentException(
        "Received data is not an XML file. Make sure the URL leads to a " +
          "valid XML or YML file.")
    val structural = Seq("<yml_catalog", "<catalog", "<offers", "<offer",
                         "<products", "<product", "<shop", "<categories",
                         "<category", "<корневой", "<элементсправочника",
                         "<service")
    if (!structural.exists(dataLower.contains))
      throw new IllegalArgumentException(
        "XML file does not contain expected elements (yml_catalog, catalog, " +
          "offers, products, shop, categories, Russian format, or service " +
          "format). This may not be a valid XML catalog file.")
  }

  private def stripBom(s: String): String =
    if (s.startsWith("﻿")) s.substring(1) else s

  /** S1 dialect auto-detect (main.py:1463-1473) from a document sample:
    * first matching marker wins, in the reference's priority order. */
  def detect(sample: String): Dialect = {
    val l = sample.toLowerCase
    if (l.contains("<offer")) Yml
    else if (l.contains("<product")) Product
    else if (l.contains("<элементсправочника")) Russian
    else if (l.contains("<service")) Service
    else throw new IllegalArgumentException(
      "Unsupported XML format, auto-detection failed.")
  }

  /** Bounded head read (driver-side, cheap). readNBytes: a single read()
    * is not guaranteed to fill the buffer on every filesystem. */
  def readHead(path: String, maxBytes: Int = 4 << 20): String = {
    val in = new java.io.FileInputStream(path)
    try {
      val buf = in.readNBytes(maxBytes)
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Detect from the head of a file. 4MB default: a feed with a large
    * `<categories>` prolog can push the first row element past 1MB. */
  def detectFile(path: String, headBytes: Int = 4 << 20): Dialect =
    detect(readHead(path, headBytes))

  /** F8 at file level (the reference's parse-repair, main.py:1426-1461,
    * applied up front): stream the file once; if any control byte, BOM, or
    * bare `&` is found, write a scrubbed temp copy and return its path,
    * else return the original. Byte-level streaming with a small carry for
    * `&` entities straddling chunk boundaries — never holds the file in
    * memory. */
  def scrubbedIfNeeded(path: String): String = {
    val entityTail = 12 // longest entity name we accept before ';'
    def isCtl(b: Byte): Boolean =
      (b >= 0x00 && b <= 0x08) || b == 0x0B || b == 0x0C ||
        (b >= 0x0E && b <= 0x1F) || b == 0x7F
    def isEntityChar(b: Byte): Boolean =
      (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9') || b == '#'
    val tmp = java.nio.file.Files.createTempFile("graft_scrub", ".xml")
    val in = new java.io.BufferedInputStream(
      new java.io.FileInputStream(path), 1 << 20)
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(tmp), 1 << 20)
    var changed = false
    try {
      // strip a UTF-8 BOM
      in.mark(4)
      val bom = in.readNBytes(3)
      if (!(bom.length == 3 && bom(0) == 0xEF.toByte &&
            bom(1) == 0xBB.toByte && bom(2) == 0xBF.toByte)) in.reset()
      else changed = true
      val amp = "&amp;".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      var pending = in.readNBytes(1 << 20)
      while (pending.nonEmpty) {
        val next = in.readNBytes(1 << 20)
        // defer a trailing possible-entity region to the next chunk
        val safeLen =
          if (next.isEmpty) pending.length
          else {
            // cut at the FIRST '&' near the end: every later '&' could
            // also have its entity straddling the boundary
            var cut = pending.length
            val floor = math.max(0, pending.length - entityTail)
            var i = floor
            while (i < pending.length && cut == pending.length) {
              if (pending(i) == '&') cut = i
              i += 1
            }
            cut
          }
        var i = 0
        while (i < safeLen) {
          val b = pending(i)
          if (isCtl(b)) changed = true // dropped
          else if (b == '&') {
            // bare & unless a valid entity reference follows
            var j = i + 1
            while (j < pending.length && j <= i + entityTail &&
                   isEntityChar(pending(j))) j += 1
            if (j < pending.length && pending(j) == ';' && j > i + 1) {
              out.write(b)
            } else { out.write(amp); changed = true }
          } else out.write(b.toInt)
          i += 1
        }
        pending =
          if (next.isEmpty) Array.empty[Byte]
          else pending.drop(safeLen) ++ next
      }
    } finally { in.close(); out.close() }
    if (changed) {
      // backstop for callers that never reach their cleanup (JVM exit
      // between read and sink); primary cleanup is Pipeline's finally
      tmp.toFile.deleteOnExit()
      tmp.toString
    } else { java.nio.file.Files.deleteIfExists(tmp); path }
  }

  /** Files at least this large go through the distributed element splitter
    * ([[readSplit]]); the native multiLine XML read is NOT splittable, so a
    * large single-file catalog would otherwise parse (twice — inference +
    * read) on one core. */
  val SplitThresholdBytes: Long = 8L << 20

  /** Distributed read of one dialect's row elements. Large single files
    * dispatch to the splittable element-splitter path. */
  def read(spark: SparkSession, path: String, dialect: Dialect): DataFrame = {
    val f = new java.io.File(path)
    if (f.isFile && f.length >= SplitThresholdBytes)
      readSplit(spark, path, dialect)
    else
      spark.read
        .format("xml")
        .option("rowTag", dialect.rowTag)
        .option("attributePrefix", AttrPrefix)
        .option("valueTag", ValueTag)
        .option("ignoreSurroundingSpaces", "true")
        .load(path)
  }

  /** S2 distributed element splitter (reference `split_offers`
    * main.py:98-112, re-expressed as a DISTRIBUTED operator): split the file
    * on `</rowTag>` boundaries via the splittable text source (custom
    * `lineSep` — the record reader handles elements spanning split
    * boundaries), cut each record down to its `<rowTag ...>` start,
    * re-append the end tag, and hand the element strings to
    * `DataFrameReader.xml(Dataset[String])` — so BOTH schema inference and
    * parsing run parallel over file splits, vs the single-core multiLine
    * scan. Limitations (same as the classic Hadoop XmlInputFormat): no
    * self-closing row elements, and a literal `</rowTag>` inside CDATA
    * would split early — neither occurs in the four dialects' feeds. */
  def readSplit(spark: SparkSession, path: String, dialect: Dialect): DataFrame = {
    import spark.implicits._
    val endTag  = s"</${dialect.rowTag}>"
    val openPat = java.util.regex.Pattern.quote(s"<${dialect.rowTag}")
    // NOT Par.ensure'd: a repartition here would scramble row order, and
    // the single-file sinks emit rows in partition order — feed order must
    // survive the round trip (reference parity). Parse width = the text
    // source's split count (totalBytes/openCost), which grows with feed
    // size — exactly when the width is needed.
    val elems = spark.read.option("lineSep", endTag).text(path)
      .select(regexp_extract(col("value"), "(?s)(" + openPat + "[\\s/>].*)$", 1)
        .as("e"))
      .filter(col("e") =!= "")
      .select(concat(col("e"), lit(endTag)).as("value"))
      .as[String]
      // schema inference + parse are TWO passes over the elements;
      // materialize the split/extract work once (partitioned blocks,
      // memory-and-disk) instead of re-scanning + re-regexing the file.
      // Single-file feeds are upload-bounded (reference caps at 100 MB),
      // so the block footprint is a non-issue even per-executor.
      .materialized()
    spark.read
      .option("rowTag", dialect.rowTag)
      .option("attributePrefix", AttrPrefix)
      .option("valueTag", ValueTag)
      .option("ignoreSurroundingSpaces", "true")
      .xml(elems)
  }

  /** YML category dimension: `<category id parentId>name</category>` rows
    * (reference builds two hash maps, main.py:1477-1485) as a local
    * relation, from one streaming StAX pass on the driver that keeps only
    * category elements and stops at `</categories>` (a feed without one is
    * read to its end): no buffer and no Spark job. Decoded as UTF-8 like
    * the element splitter (an `encoding` declaration is ignored, a BOM
    * skipped); DTDs and external entities are never loaded. XML that is
    * not well-formed before the stop fails naming its position, as the
    * reference's whole-document parse does. A self-closing `<category/>`
    * is one element; `<categoryId>` and `<categories>` are not categories.
    * Names are trimmed text; a missing or blank name is `Undefined`. */
  def readCategories(spark: SparkSession, path: String): DataFrame = {
    import javax.xml.stream.{XMLInputFactory, XMLStreamException}
    import javax.xml.stream.XMLStreamConstants._
    val f = XMLInputFactory.newDefaultFactory()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(path), java.nio.charset.StandardCharsets.UTF_8))
    val rows = new java.util.ArrayList[Row]()
    try {
      in.mark(1)
      if (in.read() != '\uFEFF') in.reset()
      val x = f.createXMLStreamReader(in)
      var done = false
      while (!done && x.hasNext) x.next() match {
        case START_ELEMENT if x.getLocalName == "category" =>
          // attribute values trimmed, like Spark's XML reader
          def attr(n: String) = Option(x.getAttributeValue(null, n)).map(_.trim).orNull
          val (id, parentId) = (attr("id"), attr("parentId"))
          val text = new StringBuilder
          var depth = 1
          while (depth > 0) x.next() match {
            case START_ELEMENT => depth += 1
            case END_ELEMENT => depth -= 1
            case CHARACTERS | CDATA | SPACE => text ++= x.getText
            case _ =>
          }
          val name = text.toString.trim
          rows.add(Row(id, parentId, if (name.isEmpty) "Undefined" else name))
        case END_ELEMENT if x.getLocalName == "categories" => done = true
        case _ =>
      }
    } catch { case e: XMLStreamException =>
      throw new IllegalArgumentException(
        s"Malformed XML before the end of <categories>: ${e.getMessage}", e)
    } finally in.close()
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", StringType), StructField("parentId", StringType),
      StructField("name", StringType, nullable = false))))
  }

  /** `id -> category_path` with the reference's walk semantics
    * (main.py:1487-1507): 'Undefined'-named segments are skipped; an empty
    * filtered path falls back to the category's own name, which is the
    * last segment of the walk. Each id has one path (a duplicate id's last
    * definition, like the reference's dicts). No join: the path table is
    * the walk's own result, which no later action recomputes. */
  def categoryPaths(cats: DataFrame): DataFrame = {
    val spark = cats.sparkSession
    import spark.implicits._
    val kept = filter($"segs", s => s =!= "Undefined")
    CategoryPath.resolveSegs(cats)
      .select($"id",
        when(size(kept) === 0, element_at($"segs", -1))
          .otherwise(array_join(kept, "///"))
          .as("category_path"))
  }
}
