package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S8 — minimal PDF text extraction (reference main.py:914-978 reads table
  * text through pdfplumber). Pure-JVM parse of the PDF content-stream
  * layer: every `stream`/`endstream` segment is located, FlateDecode
  * streams are inflated with `java.util.zip.Inflater`, and text lines are
  * read from `BT`/`ET` blocks — one line per `(string) Tj` show (the
  * layout [[graft.sinks.PdfSink]] and simple text-report generators emit;
  * a full y-coordinate layout engine à la pdfplumber is out of scope and
  * documented as such in COVERAGE.md).
  *
  * The distributed shape is the multimodal one: `binaryFile` scan →
  * partition-wise decode, one parser per partition, no driver funnel.
  */
object PdfSource {

  /** Unescape a PDF literal string: `\(`, `\)`, `\\`, `\n`, `\r`, `\t`,
    * and octal `\ddd`. */
  private def unescape(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => out.append('\n'); i += 2
          case 'r' => out.append('\r'); i += 2
          case 't' => out.append('\t'); i += 2
          case d if d >= '0' && d <= '7' =>
            val end = math.min(i + 4, s.length)
            val oct = s.substring(i + 1, end).takeWhile(ch => ch >= '0' && ch <= '7')
            out.append(Integer.parseInt(oct, 8).toChar)
            i += 1 + oct.length
          case other => out.append(other); i += 2
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (n == 0 && inf.needsDictionary()) return Array.empty
      }
      out.toByteArray
    } catch { case _: java.util.zip.DataFormatException => Array.empty }
    finally inf.end()
  }

  private val LengthRe = java.util.regex.Pattern.compile("""/Length\s+(\d+)""")

  /** A direct `/Length N` value, or None when absent or an indirect
    * reference (`/Length N G R` — the number is an object id, not a
    * length; a regex lookahead would backtrack into a wrong partial
    * match, so the reference check is explicit). */
  private def directLength(dict: String): Option[Int] = {
    val m = LengthRe.matcher(dict)
    if (!m.find()) None
    else {
      var j = m.end()
      while (j < dict.length && Character.isWhitespace(dict.charAt(j))) j += 1
      val gStart = j
      while (j < dict.length && Character.isDigit(dict.charAt(j))) j += 1
      val hasGen = j > gStart
      while (j < dict.length && Character.isWhitespace(dict.charAt(j))) j += 1
      val indirect = hasGen && j < dict.length && dict.charAt(j) == 'R'
      if (indirect) None else scala.util.Try(m.group(1).toInt).toOption
    }
  }

  /** Parsed drawing operations of one decoded content stream: whether a
    * `BT` text block exists at all, the Tj-shown strings with their
    * text-matrix position and active font size, and image-XObject
    * placements (`/Name ... Do`) with the transformation matrix active at
    * `Do` time. */
  private final case class StreamOps(
      hasBT: Boolean,
      shows: Seq[(Double, Double, Double, String)], // x, y, fontSize, text
      images: Seq[(String, Array[Double])])         // name, cm 6-tuple

  /** Tj-shown strings WITH their text-matrix positions from one decoded
    * content stream, via a string-literal-aware scan: `BT`/`ET`/
    * `endstream`-looking bytes INSIDE a `(...)` literal never terminate
    * anything (a report cell containing "MARKET" has the bytes "ET" in
    * it). Literals handle `\`-escapes and balanced nested parens per
    * spec. Position tracking covers the operators our writers and
    * report-class PDFs emit: numeric operands are buffered and consumed
    * by `Tm` (absolute: e, f of the 6-tuple), `Td`/`TD` (relative
    * translation), `Tf` (font size — for the rasterizer), `cm` (current
    * transformation, consumed by `Do`; `Q` restores identity, the
    * one-level `q…Q` bracket every report/image writer emits); `BT`
    * resets the text matrix to the origin. */
  private def streamOps(s: String): StreamOps = {
    val shows = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, String)]
    val images = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Double])]
    val pending = scala.collection.mutable.ArrayBuffer.empty[Double]
    val identity = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    var hasBT = false
    var inText = false
    var x = 0.0
    var y = 0.0
    var fs = 10.0
    var cm = identity
    var lastName: String = null
    var i = 0
    val n = s.length
    def isNumChar(c: Char): Boolean =
      (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'
    while (i < n) {
      val c = s.charAt(i)
      if (c == '(') {
        val sb = new StringBuilder
        var depth = 1
        i += 1
        while (i < n && depth > 0) {
          val ch = s.charAt(i)
          if (ch == '\\' && i + 1 < n) { sb.append(ch).append(s.charAt(i + 1)); i += 2 }
          else if (ch == '(') { depth += 1; sb.append(ch); i += 1 }
          else if (ch == ')') { depth -= 1; if (depth > 0) sb.append(ch); i += 1 }
          else { sb.append(ch); i += 1 }
        }
        var j = i
        while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
        if (inText && s.startsWith("Tj", j)) {
          // UTF-8 bytes were written raw; decode them back
          shows += ((x, y, fs, new String(
            unescape(sb.toString).getBytes(StandardCharsets.ISO_8859_1),
            StandardCharsets.UTF_8)))
          i = j + 2
        }
        pending.clear()
      } else if (c == '/') {
        // a name token: never an operator (a PDF named /Tj must not be
        // mistaken for the show operator), remembered for `Do`
        var j = i + 1
        while (j < n && (Character.isLetterOrDigit(s.charAt(j)) ||
                         s.charAt(j) == '_' || s.charAt(j) == '.')) j += 1
        lastName = s.substring(i + 1, j)
        i = j
      } else if (isNumChar(c)) {
        var j = i + 1
        while (j < n && isNumChar(s.charAt(j))) j += 1
        s.substring(i, j).toDoubleOption match {
          case Some(v) => pending += v
          case None    => pending.clear()
        }
        i = j
      } else if (Character.isLetter(c)) {
        var j = i + 1
        while (j < n && (Character.isLetterOrDigit(s.charAt(j)) ||
                         s.charAt(j) == '*')) j += 1
        s.substring(i, j) match {
          case "BT" => hasBT = true; inText = true; x = 0.0; y = 0.0
          case "ET" => inText = false
          case "Tm" if pending.size >= 6 =>
            x = pending(pending.size - 2); y = pending.last
          case "Td" | "TD" if pending.size >= 2 =>
            x += pending(pending.size - 2); y += pending.last
          case "Tf" if pending.nonEmpty => fs = pending.last
          case "cm" if pending.size >= 6 =>
            cm = pending.takeRight(6).toArray
          case "Q" => cm = identity
          case "Do" if lastName != null =>
            images += ((lastName, cm))
          case _ => () // Tz, gs, re, ... — operands just drop
        }
        pending.clear()
        i = j
      } else i += 1 // whitespace, '[', '<' ... delimiters
    }
    StreamOps(hasBT, shows.toSeq, images.toSeq)
  }

  /** Positioned text shows, or None when the stream has no `BT` block at
    * all — the S8 text view of [[streamOps]]. */
  private def textShows(s: String): Option[Seq[(Double, Double, String)]] = {
    val ops = streamOps(s)
    if (ops.hasBT) Some(ops.shows.map { case (x, y, _, t) => (x, y, t) })
    else None
  }

  /** [[textShows]] stripped to the show strings, in stream order — the
    * line-oriented S8 view. */
  private def textLines(s: String): Option[Seq[String]] =
    textShows(s).map(_.map(_._3))

  /** Every stream segment in document order as (dict, RAW payload) —
    * no filter decoding. Stream bounds come from the dict's direct
    * `/Length` when present (so payload bytes that happen to spell
    * "endstream" can't truncate the stream); the keyword scan is the
    * fallback for indirect-length PDFs. */
  private def rawStreams(raw: String): Seq[(String, String)] = {
    val streams = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while ({ i = raw.indexOf("stream", i); i >= 0 }) {
      // "endstream" also contains "stream" — require a real stream start:
      // the keyword is followed by an EOL per spec
      val afterKw = i + "stream".length
      val isStart = raw.startsWith("stream\r\n", i) || raw.startsWith("stream\n", i)
      if (isStart) {
        val contentStart = if (raw.startsWith("stream\r\n", i)) afterKw + 2
                           else afterKw + 1
        // the dict immediately before the keyword declares filter + length
        val dictStart = math.max(0, raw.lastIndexOf("<<", i))
        val dict = raw.substring(dictStart, i)
        val declared = directLength(dict)
        val end = declared match {
          case Some(len) if contentStart + len <= raw.length =>
            contentStart + len
          case _ => raw.indexOf("endstream", contentStart)
        }
        if (end < 0) { i = afterKw }
        else {
          var payload = raw.substring(contentStart, end)
          if (declared.isEmpty)
            payload = payload.stripSuffix("\n").stripSuffix("\r")
          streams += ((dict, payload))
          val es = raw.indexOf("endstream", end)
          i = if (es < 0) raw.length else es + "endstream".length
        }
      } else i = afterKw
    }
    streams.toSeq
  }

  private def isImageDict(dict: String): Boolean =
    dict.replaceAll("\\s+", "").contains("/Subtype/Image")

  /** Decoded CONTENT streams in document order: image XObject streams are
    * excluded (their binary payloads could otherwise fake `BT`/`Tj`
    * tokens and surface phantom text pages), FlateDecode payloads are
    * inflated. */
  private def contentStreams(raw: String): Seq[String] =
    rawStreams(raw).collect {
      case (dict, payload) if !isImageDict(dict) =>
        if (dict.contains("/FlateDecode"))
          new String(inflate(payload.getBytes(StandardCharsets.ISO_8859_1)),
            StandardCharsets.ISO_8859_1)
        else payload
    }

  private val WidthRe = java.util.regex.Pattern.compile("""/Width\s+(\d+)""")
  private val HeightRe = java.util.regex.Pattern.compile("""/Height\s+(\d+)""")
  private val FilterRe = java.util.regex.Pattern.compile("""/Filter\s*/(\w+)""")

  /** Image XObjects from raw PDF bytes as (image_no, width, height,
    * filter, payload) — payload bytes are RAW (a `DCTDecode` image is the
    * embedded JPEG byte-for-byte, the lossless K9 pdf→image direction for
    * JPEG pages; `FlateDecode` payloads inflate to top-down RGB rows). */
  def extractImages(data: Array[Byte]): Seq[(Int, Int, Int, String, Array[Byte])] = {
    val raw = new String(data, StandardCharsets.ISO_8859_1)
    rawStreams(raw).filter { case (dict, _) => isImageDict(dict) }
      .zipWithIndex.map { case ((dict, payload), i) =>
        def grp(p: java.util.regex.Pattern): String = {
          val m = p.matcher(dict)
          if (m.find()) m.group(1) else ""
        }
        (i + 1, grp(WidthRe).toIntOption.getOrElse(-1),
          grp(HeightRe).toIntOption.getOrElse(-1), grp(FilterRe),
          payload.getBytes(StandardCharsets.ISO_8859_1))
      }
  }

  /** Decode one image XObject's payload to a raster: `DCTDecode` is the
    * embedded JPEG (JDK decodes it), `FlateDecode` inflates to top-down
    * 8-bit RGB rows (the layout [[graft.sinks.PdfSink.writeImagePdf]]
    * emits). Anything else — or a payload shorter than w*h*3 — is None. */
  private def xobjectImage(w: Int, h: Int, filter: String, payload: Array[Byte])
      : Option[java.awt.image.BufferedImage] = filter match {
    case "DCTDecode" => graft.analytics.Multimodal.decodeImage(payload)
    case "FlateDecode" =>
      val rgb = inflate(payload)
      // LONG pixel arithmetic + an area cap: crafted /Width x /Height
      // near 2^31 would overflow an Int product into a passing guard and
      // then OOM the allocation (the WavHeaders crafted-size rule)
      if (w <= 0 || h <= 0 || w.toLong * h > 64000000L ||
          rgb.length < w.toLong * h * 3) None
      else {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var p = 0
        var yy = 0
        while (yy < h) {
          var xx = 0
          while (xx < w) {
            img.setRGB(xx, yy,
              ((rgb(p) & 0xff) << 16) | ((rgb(p + 1) & 0xff) << 8) |
                (rgb(p + 2) & 0xff))
            p += 3
            xx += 1
          }
          yy += 1
        }
        Some(img)
      }
    case _ => None
  }

  /** K9 pdf→image rasterizer (reference main.py:1244-1381 renders pages
    * through PyMuPDF/pdf2image at a caller dpi): pure-JVM Java2D render of
    * the page classes this engine writes — positioned text (Helvetica ≈
    * the logical SansSerif; `Tm`/`Td` positions and `Tf` sizes honored)
    * and image XObjects placed by their `cm` box (axis-aligned, the
    * `q a 0 0 d e f cm /ImN Do Q` bracket [[graft.sinks.PdfSink]] emits;
    * rotation/skew terms are out of scope like the rest of the parser).
    * XObject references resolve positionally — the k-th `Do` in document
    * order draws the k-th image stream — exact for one-XObject-per-page
    * writers, the same single-pass resource heuristic the page numbering
    * already uses (no xref walk). A page is any content stream with a
    * `BT` block or a placement; it renders at `dpi` onto the fixed
    * 595×842pt MediaBox every writer declares. Returns (page, raster). */
  def rasterize(data: Array[Byte], dpi: Int = 150)
      : Seq[(Int, java.awt.image.BufferedImage)] = {
    require(dpi >= 18 && dpi <= 600, s"dpi $dpi outside [18, 600]")
    val raw = new String(data, StandardCharsets.ISO_8859_1)
    val xobjs = extractImages(data)
    var nextImg = 0
    val scale = dpi / 72.0
    val pw = math.round(595 * scale).toInt
    val ph = math.round(842 * scale).toInt
    var page = 0
    contentStreams(raw).flatMap { s =>
      val ops = streamOps(s)
      if (!ops.hasBT && ops.images.isEmpty) None
      else {
        page += 1
        val img = new java.awt.image.BufferedImage(
          pw, ph, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_ANTIALIASING,
            java.awt.RenderingHints.VALUE_ANTIALIAS_ON)
          g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
            java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_ON)
          g.setColor(java.awt.Color.WHITE)
          g.fillRect(0, 0, pw, ph)
          g.scale(scale, scale) // user space = points, y still top-down
          ops.images.foreach { case (_, cm) =>
            if (nextImg < xobjs.length) {
              val (_, w, h, filter, payload) = xobjs(nextImg)
              nextImg += 1
              xobjectImage(w, h, filter, payload).foreach { xi =>
                // cm maps the unit square to [e,e+a]×[f,f+d] (y-up);
                // image row 0 is the TOP edge, so in top-down user space
                // the destination starts at 842-(f+d) and keeps row order
                val a = cm(0); val d = cm(3); val e = cm(4); val f = cm(5)
                g.drawImage(xi, new java.awt.geom.AffineTransform(
                  a / xi.getWidth, 0.0, 0.0, d / xi.getHeight,
                  e, 842.0 - f - d), null)
              }
            }
          }
          g.setColor(java.awt.Color.BLACK)
          ops.shows.foreach { case (x, y, fs, text) =>
            g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF,
              java.awt.Font.PLAIN, 12).deriveFont(fs.toFloat))
            // Td/Tm y is the text BASELINE, exactly drawString's y
            g.drawString(text, x.toFloat, (842.0 - y).toFloat)
          }
        } finally g.dispose()
        Some((page, img))
      }
    }
  }

  /** [[rasterize]] encoded for transport: (page, width, height, bytes) in
    * `format` ("png" or "jpg") — the reference's single-page /
    * page-per-entry output shape with the file/zip envelope left to the
    * caller (a DataFrame row per page IS the distributed envelope). */
  def pdfToImages(data: Array[Byte], format: String = "png",
                  dpi: Int = 150): Seq[(Int, Int, Int, Array[Byte])] = {
    val fmt = format.toLowerCase match {
      case "jpg" | "jpeg" => "jpg"
      case "png"          => "png"
      case f => throw new IllegalArgumentException(
        s"unsupported page-image format: $f")
    }
    rasterize(data, dpi).map { case (page, img) =>
      (page, img.getWidth, img.getHeight,
        graft.analytics.Multimodal.encodeImage(img, fmt))
    }
  }

  /** Extract text lines from raw PDF bytes as (page, line_no, text).
    * "Page" is the 1-based index of the text-bearing content stream —
    * exact for PDFs with one content stream per page (the common report
    * layout and everything [[graft.sinks.PdfSink]] writes). */
  def extractLines(data: Array[Byte]): Seq[(Int, Int, String)] = {
    // ISO-8859-1 maps bytes 1:1 to chars, so offsets in the string match
    // byte offsets and stream payloads survive the round-trip
    val raw = new String(data, StandardCharsets.ISO_8859_1)
    var page = 0
    contentStreams(raw).flatMap { s =>
      textLines(s) match {
        case Some(lines) if lines.nonEmpty =>
          page += 1
          lines.zipWithIndex.map { case (t, ln) => (page, ln + 1, t) }
        case _ => Nil
      }
    }
  }

  /** Extract positioned text shows from raw PDF bytes as
    * (page, x, y, text) — the spatial S8 view [[readTableCells]] clusters
    * into table structure. Page numbering follows [[extractLines]]. */
  def extractCells(data: Array[Byte]): Seq[(Int, Double, Double, String)] = {
    val raw = new String(data, StandardCharsets.ISO_8859_1)
    var page = 0
    contentStreams(raw).flatMap { s =>
      textShows(s) match {
        case Some(shows) if shows.nonEmpty =>
          page += 1
          shows.map { case (x, y, t) => (page, x, y, t) }
        case _ => Nil
      }
    }
  }

  /** Unified per-page summary under [[rasterize]]'s page numbering (any
    * content stream with a `BT` block or an XObject placement is a
    * page): (page, text lines, image placement count). This is the
    * per-page envelope the JSON converter emits (reference
    * main.py:1003-1035 walks pdf.pages collecting text + image counts);
    * unlike [[extractLines]] it also counts image-only pages, so mixed
    * text/image documents keep reference page numbers. */
  def pageContents(data: Array[Byte]): Seq[(Int, Seq[String], Int)] = {
    val raw = new String(data, StandardCharsets.ISO_8859_1)
    var page = 0
    contentStreams(raw).flatMap { s =>
      val ops = streamOps(s)
      if (!ops.hasBT && ops.images.isEmpty) None
      else {
        page += 1
        Some((page, textLines(s).getOrElse(Nil), ops.images.length))
      }
    }
  }

  /** S8 distributed read: every PDF under `path` (a file or directory)
    * parsed partition-wise into (file, page, line_no, text) rows. */
  def readTextRows(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        // one parser scope per partition (mirrors the multimodal decode)
        it.flatMap { case (p, bytes) =>
          extractLines(bytes).map { case (pg, ln, t) => (p, pg, ln, t) }
        }
      }
      .toDF("file", "page", "line_no", "text")
  }

  /** S8 distributed TABLE read — the pdfplumber-class layout semantics
    * (reference main.py:914-978 emits tables with column structure via
    * y/x-coordinate clustering): every PDF under `path` parsed
    * partition-wise into positioned shows, then clustered into
    * `(file, page, table, row, col, cell)`:
    *
    *  - ROWS: distinct y positions per page, top-down; a new row starts
    *    when the gap to the previous y exceeds `yTol`.
    *  - TABLES: a y-gap exceeding `tableGap` (a blank band taller than a
    *    few leadings) starts a new table on the page; rows renumber from
    *    1 inside each table.
    *  - COLS: distinct x positions per (page, table), left-to-right,
    *    clustered with `xTol` — columns are PER TABLE, as pdfplumber
    *    scopes them.
    *  - CELL: shows landing in one (row, col) concatenate left-to-right.
    *
    * Scale shape: decode is partition-wise over `binaryFile` (no driver
    * funnel); the clustering windows run over DISTINCT COORDINATE VALUES
    * per page/table — bounded by the 842pt MediaBox (≤ 55 rows) and the
    * page width, never by corpus size; the shows themselves only
    * hash-join against those tiny cluster tables and partial-aggregate
    * per cell. */
  def readTableCells(spark: SparkSession, path: String,
                     xTol: Double = 2.0, yTol: Double = 2.0,
                     tableGap: Double = 40.0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(yTol > 0 && xTol > 0 && tableGap > yTol,
      "tolerances must be positive with tableGap > yTol")
    val shows = spark.read.format("binaryFile").load(path)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (p, bytes) =>
          extractCells(bytes).map { case (pg, x, y, t) => (p, pg, x, y, t) }
        }
      }
      .toDF("file", "page", "x", "y", "text")
    // row + table clustering over the distinct y values of a page
    val wy = Window.partitionBy($"file", $"page").orderBy($"y".desc)
    val cumY = wy.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rowsC = shows.select($"file", $"page", $"y").distinct()
      .withColumn("gap", lag($"y", 1).over(wy) - $"y")
      .withColumn("tbl",
        (sum(when($"gap" > tableGap, 1).otherwise(0)).over(cumY) + 1)
          .cast("int"))
      .withColumn("rid",
        sum(when($"gap".isNull || $"gap" > yTol, 1).otherwise(0)).over(cumY))
    val wt = Window.partitionBy($"file", $"page", $"tbl").orderBy($"rid")
    val rowIdx = rowsC
      .withColumn("row", dense_rank().over(wt).cast("int"))
      .select($"file", $"page", $"y", $"tbl", $"row")
    val withRows = shows.join(rowIdx, Seq("file", "page", "y"))
    // column clustering over the distinct x values of a (page, table)
    val wx = Window.partitionBy($"file", $"page", $"tbl").orderBy($"x")
    val cumX = wx.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val colIdx = withRows.select($"file", $"page", $"tbl", $"x").distinct()
      .withColumn("gapx", $"x" - lag($"x", 1).over(wx))
      .withColumn("col",
        sum(when($"gapx".isNull || $"gapx" > xTol, 1).otherwise(0)).over(cumX)
          .cast("int"))
      .select($"file", $"page", $"tbl", $"x", $"col")
    withRows.join(colIdx, Seq("file", "page", "tbl", "x"))
      .groupBy($"file", $"page", $"tbl", $"row", $"col")
      .agg(array_join(
        transform(array_sort(collect_list(struct($"x", $"text"))),
          e => e.getField("text")),
        " ").as("cell"))
      .select($"file", $"page", $"tbl".as("table"), $"row", $"col", $"cell")
  }
}
