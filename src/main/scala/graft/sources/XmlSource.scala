package graft.sources

import graft.analytics.Par.Mat

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    * (reference builds two hash maps, main.py:1477-1485). The element shape
    * is fixed, so the schema is supplied explicitly — skipping the
    * inference pass halves the file scans. */
  private val CatSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("_id", StringType), StructField("_parentId", StringType),
      StructField(ValueTag, StringType)))
  }

  /** Bounded head scan for the category dictionary: YML feeds put
    * `<categories>` in the head, so the driver streams the file only until
    * `</categories>` (capped), then the collected block parses as element
    * strings. A whole-file approach — multiLine scan OR lineSep split on
    * `</category>` — would walk/materialize the entire feed for a
    * dictionary-sized result (the split variant is worse: everything after
    * the LAST category becomes one text record, multi-GB on a large feed).
    */
  def readCategoriesSplit(spark: SparkSession, path: String,
                          maxHeadBytes: Long = 256L << 20): DataFrame = {
    import spark.implicits._
    val endMark = "</categories>"
    // accumulate BYTES and decode once: per-chunk decoding would corrupt
    // multibyte (Cyrillic) names straddling a chunk boundary; the ASCII
    // end marker is searched in the byte domain with a carry for the
    // straddling case
    val marker = endMark.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def indexOfBytes(hay: Array[Byte], needle: Array[Byte]): Int = {
      var i = 0
      while (i <= hay.length - needle.length) {
        var j = 0
        while (j < needle.length && hay(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
        i += 1
      }
      -1
    }
    val out = new java.io.ByteArrayOutputStream()
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(path))
    try {
      val buf = new Array[Byte](1 << 20)
      var carry = Array.empty[Byte]
      var done = false
      while (!done && out.size < maxHeadBytes) {
        val n = in.read(buf)
        if (n < 0) done = true
        else {
          out.write(buf, 0, n)
          val window = carry ++ buf.take(n)
          if (indexOfBytes(window, marker) >= 0) done = true
          else carry = window.takeRight(marker.length - 1)
        }
      }
    } finally in.close()
    val head = new String(out.toByteArray,
      java.nio.charset.StandardCharsets.UTF_8)
    val catRe =
      java.util.regex.Pattern.compile("<category[\\s/>].*?</category>",
        java.util.regex.Pattern.DOTALL)
    val m = catRe.matcher(head)
    val elems = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) elems += m.group()
    spark.read
      .option("rowTag", "category")
      .option("attributePrefix", AttrPrefix)
      .option("valueTag", ValueTag)
      .schema(CatSchema)
      .xml(spark.createDataset(elems.toSeq))
  }

  def readCategories(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    val df =
      if (f.isFile && f.length >= SplitThresholdBytes)
        readCategoriesSplit(spark, path)
      else spark.read
        .format("xml")
        .option("rowTag", "category")
        .option("attributePrefix", AttrPrefix)
        .option("valueTag", ValueTag)
        .schema(CatSchema)
        .load(path)
    val name =
      if (df.columns.contains(ValueTag)) col(ValueTag).cast("string")
      else lit(null).cast("string")
    val parent =
      if (df.columns.contains("_parentId")) col("_parentId").cast("string")
      else lit(null).cast("string")
    df.select(
      col("_id").cast("string").as("id"),
      parent.as("parentId"),
      coalesce(nullif(trim(name), lit("")), lit("Undefined")).as("name"))
  }

  /** Materialized `id -> category_path` with the reference's walk semantics
    * (main.py:1487-1507): 'Undefined'-named segments are skipped; an empty
    * filtered path falls back to the category's own name. */
  def categoryPaths(cats: DataFrame): DataFrame = {
    val spark = cats.sparkSession
    import spark.implicits._
    val segs = CategoryPath.resolveSegs(cats)
    segs
      .join(cats.select($"id", $"name"), Seq("id"))
      .select($"id",
        when(size(filter($"segs", s => s =!= "Undefined")) === 0, $"name")
          .otherwise(array_join(filter($"segs", s => s =!= "Undefined"), "///"))
          .as("category_path"))
  }
}
