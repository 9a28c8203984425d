package graft.sinks

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** K8 — minimal PDF 1.4 writer for text reports (reference main.py:1056-1118
  * emits the same content through reportlab). Deterministic bytes: fixed
  * header, one Helvetica font object, one content stream per page with one
  * `Td`/`Tj` pair per line, classic xref table. No compression, no
  * dependencies.
  *
  * String bytes are written as UTF-8 with `(`/`)`/`\` escaped — our own
  * extractor ([[graft.sources.PdfSource]]) round-trips them exactly.
  * External viewers render non-Latin-1 text approximately (real font
  * CMaps are out of scope — the reference's reportlab path has the same
  * Cyrillic caveat with its builtin fonts); the DATA survives byte-exact.
  */
object PdfSink {

  private[sinks] def escapeText(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
      .replace("\r", " ").replace("\n", " ")

  /** Shared document assembly: one content stream per page, classic xref.
    * obj 1: catalog; obj 2: page tree; obj 3: font; then per page i:
    * page obj (4+2i), content obj (5+2i). */
  private def writePdf(pageContents: Seq[String], path: String): Unit = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def write(s: String): Unit =
      out.write(s.getBytes(StandardCharsets.UTF_8))
    def beginObj(): Unit = offsets += out.size()

    write("%PDF-1.4\n")
    val nPages = pageContents.length
    val pageObjIds = (0 until nPages).map(i => 4 + 2 * i)
    beginObj()
    write("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    beginObj()
    write(s"2 0 obj\n<< /Type /Pages /Kids [" +
      pageObjIds.map(id => s"$id 0 R").mkString(" ") +
      s"] /Count $nPages >>\nendobj\n")
    beginObj()
    write("3 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n")
    pageContents.zipWithIndex.foreach { case (content, i) =>
      val pageId = 4 + 2 * i
      val contId = 5 + 2 * i
      beginObj()
      write(s"$pageId 0 obj\n<< /Type /Page /Parent 2 0 R " +
        "/MediaBox [0 0 595 842] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents $contId 0 R >>\nendobj\n")
      val cb = content.getBytes(StandardCharsets.UTF_8)
      beginObj()
      write(s"$contId 0 obj\n<< /Length ${cb.length} >>\nstream\n")
      out.write(cb)
      write("\nendstream\nendobj\n")
    }
    val xrefPos = out.size()
    val nObjs = 3 + 2 * nPages
    write(s"xref\n0 ${nObjs + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => write(f"$o%010d 00000 n \n"))
    write(s"trailer\n<< /Size ${nObjs + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefPos\n%%EOF\n")
    Files.write(Paths.get(path), out.toByteArray)
  }

  /** Write `lines` as a paginated text PDF. Text starts at y=778 with a
    * 14pt leading on an 842pt page, so at most 55 lines stay inside the
    * MediaBox — the default keeps every line visible in a real viewer. */
  def writeTextPdf(lines: Seq[String], path: String,
                   linesPerPage: Int = 55): Unit = {
    require(linesPerPage <= 55,
      s"linesPerPage $linesPerPage would render below the MediaBox (max 55)")
    require(linesPerPage >= 1, "linesPerPage must be >= 1")
    val pages = if (lines.isEmpty) Seq(Seq.empty[String])
                else lines.grouped(linesPerPage).toSeq
    writePdf(pages.map { pl =>
      val content = new StringBuilder("BT\n/F1 10 Tf\n50 792 Td\n")
      pl.foreach { l =>
        content.append("0 -14 Td\n(").append(escapeText(l)).append(") Tj\n")
      }
      content.append("ET\n")
      content.toString
    }, path)
  }

  /** Write rows of CELLS as a positioned table grid — unlike
    * [[writeTextPdf]]'s single `Td` flow, every cell is shown at an
    * absolute text-matrix position (`1 0 0 1 x y Tm`): column `c` of row
    * `r` (both 0-based within the page) renders at
    * `x = 50 + c*colWidth`, `y = 792 - (r+1)*14` — the layout
    * [[graft.sources.PdfSource.readTableCells]]'s x/y clustering
    * recovers as (row, col) structure, and the spatial contract
    * pdfplumber-class extractors expect from a table PDF. */
  def writeGridPdf(rows: Seq[Seq[String]], path: String,
                   colWidth: Double = 110.0, rowsPerPage: Int = 50): Unit = {
    require(rowsPerPage >= 1 && rowsPerPage <= 55,
      s"rowsPerPage $rowsPerPage must be in [1, 55] (MediaBox bound)")
    val pages = if (rows.isEmpty) Seq(Seq.empty[Seq[String]])
                else rows.grouped(rowsPerPage).toSeq
    writePdf(pages.map { pr =>
      val content = new StringBuilder("BT\n/F1 10 Tf\n")
      pr.zipWithIndex.foreach { case (cells, r) =>
        val y = 792 - (r + 1) * 14
        cells.zipWithIndex.foreach { case (cell, c) =>
          val x = 50 + c * colWidth
          content.append(s"1 0 0 1 $x $y Tm\n(")
            .append(escapeText(cell)).append(") Tj\n")
        }
      }
      content.append("ET\n")
      content.toString
    }, path)
  }

  /** A DataFrame as a positioned table-grid PDF: header row (column
    * names) followed by the first `maxRows` rows in `orderCol` order,
    * every value stringified (null → empty cell). Bounded driver
    * collect — the report-sink contract (≤ maxRows rows), same as the
    * K8 text report. */
  def writeTableGridPdf(df: org.apache.spark.sql.DataFrame, orderCol: String,
                        path: String, maxRows: Int = 50,
                        colWidth: Double = 110.0,
                        rowsPerPage: Int = 50): Unit = {
    import org.apache.spark.sql.functions.col
    val names = df.columns.toSeq
    val data = df.orderBy(col(orderCol)).limit(maxRows)
      .select(names.map(c => col(c).cast("string")): _*)
      .collect()
      .map(r => names.indices.map(i =>
        if (r.isNullAt(i)) "" else r.getString(i)))
      .toSeq
    writeGridPdf(names +: data, path, colWidth, rowsPerPage)
  }

  /** K9 image→PDF converter (reference main.py:1173-1241 drives the same
    * conversion through img2pdf/PIL): one page per image, drawn as an
    * image XObject scaled to fit the MediaBox (50pt margin, aspect
    * preserved, no upscaling). JPEG payloads embed BYTE-FOR-BYTE as
    * `DCTDecode` streams — PDF viewers decode JPEG natively, so the
    * passthrough is lossless and recompression-free; every other raster
    * the JDK decodes (PNG/BMP/GIF) embeds as `FlateDecode` raw RGB rows.
    * [[graft.sources.PdfSource.extractImages]] round-trips the XObjects
    * (JPEG bytes exactly). Undecodable payloads fail loudly — a silent
    * skip would ship a PDF with pages missing. */
  def writeImagePdf(images: Seq[Array[Byte]], path: String): Unit = {
    require(images.nonEmpty, "writeImagePdf needs at least one image")
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def write(s: String): Unit =
      out.write(s.getBytes(StandardCharsets.UTF_8))
    def beginObj(): Unit = offsets += out.size()

    write("%PDF-1.4\n")
    // obj 1: catalog; obj 2: page tree; per image i: page (3+3i),
    // content (4+3i), image XObject (5+3i)
    val n = images.length
    val pageIds = (0 until n).map(i => 3 + 3 * i)
    beginObj()
    write("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    beginObj()
    write(s"2 0 obj\n<< /Type /Pages /Kids [" +
      pageIds.map(id => s"$id 0 R").mkString(" ") +
      s"] /Count $n >>\nendobj\n")
    images.zipWithIndex.foreach { case (bytes, i) =>
      val img = graft.analytics.Multimodal.decodeImage(bytes).getOrElse(
        throw new IllegalArgumentException(
          s"image $i is not a decodable raster payload"))
      val w = img.getWidth
      val h = img.getHeight
      val isJpeg = bytes.length >= 2 &&
        (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8
      val (filter, data) =
        if (isJpeg) ("DCTDecode", bytes)
        else {
          // raw RGB rows (top-down, 3 bytes/pixel), flate-compressed
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          var yy = 0
          while (yy < h) {
            var xx = 0
            while (xx < w) {
              val px = img.getRGB(xx, yy)
              rgb(p) = ((px >> 16) & 0xff).toByte
              rgb(p + 1) = ((px >> 8) & 0xff).toByte
              rgb(p + 2) = (px & 0xff).toByte
              p += 3
              xx += 1
            }
            yy += 1
          }
          val defl = new java.util.zip.Deflater()
          defl.setInput(rgb)
          defl.finish()
          val bos = new ByteArrayOutputStream(rgb.length / 2 + 64)
          val buf = new Array[Byte](8192)
          while (!defl.finished()) {
            val k = defl.deflate(buf)
            bos.write(buf, 0, k)
          }
          defl.end()
          ("FlateDecode", bos.toByteArray)
        }
      val scale = math.min(1.0, math.min(495.0 / w, 742.0 / h))
      val dw = w * scale
      val dh = h * scale
      val ox = 50.0
      val oy = 842.0 - 50.0 - dh
      val pageId = 3 + 3 * i
      val contId = pageId + 1
      val xId = pageId + 2
      beginObj()
      write(s"$pageId 0 obj\n<< /Type /Page /Parent 2 0 R " +
        "/MediaBox [0 0 595 842] " +
        s"/Resources << /XObject << /Im0 $xId 0 R >> >> " +
        s"/Contents $contId 0 R >>\nendobj\n")
      val cb = s"q $dw 0 0 $dh $ox $oy cm /Im0 Do Q\n"
        .getBytes(StandardCharsets.UTF_8)
      beginObj()
      write(s"$contId 0 obj\n<< /Length ${cb.length} >>\nstream\n")
      out.write(cb)
      write("\nendstream\nendobj\n")
      beginObj()
      write(s"$xId 0 obj\n<< /Type /XObject /Subtype /Image " +
        s"/Width $w /Height $h /ColorSpace /DeviceRGB " +
        s"/BitsPerComponent 8 /Filter /$filter " +
        s"/Length ${data.length} >>\nstream\n")
      out.write(data)
      write("\nendstream\nendobj\n")
    }
    val xrefPos = out.size()
    val nObjs = 2 + 3 * n
    write(s"xref\n0 ${nObjs + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => write(f"$o%010d 00000 n \n"))
    write(s"trailer\n<< /Size ${nObjs + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefPos\n%%EOF\n")
    Files.write(Paths.get(path), out.toByteArray)
  }

  /** The K8 report as a real PDF artifact: [[Reports.tableReportLines]]
    * content (title, header, first-50 rows) through [[writeTextPdf]]. */
  def writeTableReportPdf(df: org.apache.spark.sql.DataFrame,
                          orderCol: String, title: String, path: String,
                          maxRows: Int = 50, linesPerPage: Int = 55): Unit = {
    val lines = Reports.tableReportLines(df, orderCol, title, maxRows)
      .orderBy("line_no").select("line").collect().map(_.getString(0)).toSeq
    writeTextPdf(lines, path, linesPerPage)
  }
}
