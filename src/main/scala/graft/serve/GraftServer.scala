package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.{Json, Pipeline}
import graft.sources.{FileTree, PathGuard, XmlSource}

/** The serving shim: binds the reference's 24 HTTP routes
  * (main.py:1744–2331, client routing static/js/main.js:265–288) over
  * the engine's [[graft.Pipeline]] functions with the JDK's built-in
  * `com.sun.net.httpserver` — no web framework, no new dependency. A
  * reference user's client can point at this server and run every
  * conversion they run today:
  *
  *   GET  /  /robots.txt  /sitemap.xml  /api/user-info   (chrome)
  *   POST /process_file            extension-dispatched conversion
  *   POST /process_link            {link_url, preset_id, return_url}
  *   POST /convert_csv_to_xml      (+ xml_format form/query field)
  *   POST /convert_csv_to_excel | /convert_excel_to_csv
  *   POST /convert_json_to_csv  | /convert_csv_to_json
  *   POST /convert_xml_to_json     (+ optional row_tag, else detected)
  *   POST /convert_pdf_to_csv | _excel | _json | _png | _jpg
  *   POST /convert_csv_to_pdf | /convert_excel_to_pdf (+ report_style)
  *   POST /convert_image_to_pdf | /convert_jpg_to_png | /convert_png_to_jpg
  *   GET  /status/{preset_id}      completed echo (main.py:2321)
  *   GET  /download/data_files/{f} PathGuard-validated file serving
  *
  * Upload envelope is `multipart/form-data` ([[Multipart]]); converted
  * files land in `dataDir` (the reference's `data_files/`) and are
  * served back via `/download/data_files/<name>`, the same URL shape
  * the reference returns. Error mapping mirrors the reference:
  * client-side validation failures → 400, missing download → 404,
  * oversize upload (100 MB, main.py:1779) → 413, engine errors → 500
  * with a `{"detail": ...}` body.
  *
  * Threading: handlers run on a cached pool; SparkSession is
  * thread-safe, so concurrent conversions interleave as independent
  * jobs on the shared session — the GIL-free answer to the reference's
  * single-process service.
  *
  * Hardening (the shim is a real attack surface the reference's
  * framework absorbed for it): request bodies must finish arriving
  * within `readTimeoutMillis` or a watchdog aborts the exchange (a
  * slow-loris trickle cannot pin a handler thread forever); multipart
  * boundaries are length-capped (RFC 2046 allows 70 chars — an
  * attacker-sized boundary would turn the body scan quadratic);
  * conversions write into a per-request staging dir inside `dataDir`
  * and PUBLISH by atomic rename, so two concurrent uploads deriving
  * the same output filename each serve a complete file (last writer
  * wins wholesale — never an interleaved torn write).
  */
final class GraftServer(spark: SparkSession, dataDir: Path,
                        host: String = "127.0.0.1", port: Int = 0,
                        readTimeoutMillis: Long = 30000L) {

  import GraftServer._

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
  private val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-read-watchdog")
        t.setDaemon(true)
        t
      })
  Files.createDirectories(dataDir)

  // route storage must precede the route() calls below (class body
  // initializes in order)
  private val exactRoutes =
    scala.collection.mutable.Map.empty[String, HttpExchange => Unit]
  private val prefixRoutes =
    scala.collection.mutable.Map.empty[String, HttpExchange => Unit]

  // ---- route table ------------------------------------------------------

  route("/", ex => respond(ex, 200, IndexHtml, "text/html"))
  route("/robots.txt",
    ex => respond(ex, 200, "User-agent: *\nAllow: /\n", "text/plain"))
  route("/sitemap.xml", ex => respond(ex, 200,
    """<?xml version="1.0" encoding="UTF-8"?>
      |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"><url><loc>/</loc></url></urlset>
      |""".stripMargin, "application/xml"))
  route("/api/user-info",
    ex => respondJson(ex, 200, """{"authenticated": false, "user": null}"""))

  route("/process_file", upload(Seq.empty) { (in, _, outDir) =>
    Pipeline.processFile(spark, in.toString, outDir)
  })
  route("/convert_csv_to_xml", upload(Seq(".csv")) { (in, fields, outDir) =>
    Pipeline.processCsvToXml(spark, in.toString, outDir,
      xmlFormat = fields.getOrElse("xml_format", "yandex_market"))
  })
  route("/convert_csv_to_excel", upload(Seq(".csv")) { (in, _, outDir) =>
    Pipeline.processCsvToExcel(spark, in.toString, outDir)
  })
  route("/convert_excel_to_csv", upload(Seq(".xlsx", ".xls")) { (in, _, outDir) =>
    Pipeline.processExcelToCsv(spark, in.toString, outDir)
  })
  route("/convert_json_to_csv", upload(Seq(".json")) { (in, _, outDir) =>
    Pipeline.processJsonToCsv(spark, in.toString, outDir)
  })
  route("/convert_csv_to_json", upload(Seq(".csv")) { (in, fields, outDir) =>
    Pipeline.processCsvToJson(spark, in.toString, outDir,
      jsonFormat = fields.getOrElse("json_format", "array"))
  })
  route("/convert_xml_to_json", upload(Seq(".xml")) { (in, fields, outDir) =>
    val rowTag = fields.getOrElse("row_tag",
      XmlSource.detectFile(in.toString).rowTag)
    Pipeline.processXmlToJson(spark, in.toString, outDir, rowTag)
  })
  route("/convert_jpg_to_png", upload(Seq(".jpg", ".jpeg")) { (in, _, outDir) =>
    Pipeline.processJpgToPng(in.toString, outDir)
  })
  route("/convert_png_to_jpg", upload(Seq(".png")) { (in, _, outDir) =>
    Pipeline.processPngToJpg(in.toString, outDir)
  })
  route("/convert_pdf_to_csv", upload(Seq(".pdf")) { (in, _, outDir) =>
    Pipeline.processPdfToCsv(spark, in.toString, outDir)
  })
  route("/convert_pdf_to_excel", upload(Seq(".pdf")) { (in, _, outDir) =>
    Pipeline.processPdfToExcel(spark, in.toString, outDir)
  })
  route("/convert_pdf_to_json", upload(Seq(".pdf")) { (in, _, outDir) =>
    Pipeline.processPdfToJson(spark, in.toString, outDir)
  })
  route("/convert_csv_to_pdf", upload(Seq(".csv")) { (in, fields, outDir) =>
    Pipeline.processCsvToPdf(spark, in.toString, outDir,
      reportStyle = fields.getOrElse("report_style", "table"))
  })
  route("/convert_excel_to_pdf", upload(Seq(".xlsx", ".xls")) { (in, fields, outDir) =>
    Pipeline.processExcelToPdf(spark, in.toString, outDir,
      reportStyle = fields.getOrElse("report_style", "table"))
  })
  route("/convert_image_to_pdf", upload(Seq(".jpg", ".jpeg", ".png")) {
    (in, _, outDir) => Pipeline.processImageToPdf(in.toString, outDir)
  })
  route("/convert_pdf_to_png", upload(Seq(".pdf")) { (in, _, outDir) =>
    Pipeline.processPdfToImages(in.toString, outDir, "png")
  })
  route("/convert_pdf_to_jpg", upload(Seq(".pdf")) { (in, _, outDir) =>
    Pipeline.processPdfToImages(in.toString, outDir, "jpg")
  })

  route("/process_link", ex => handled(ex) {
    val body = new String(readBody(ex), UTF_8)
    val linkUrl = jsonField(body, "link_url")
      .getOrElse(throw new IllegalArgumentException("link_url is required"))
    val presetId = jsonField(body, "preset_id").getOrElse("")
    val returnUrl = jsonField(body, "return_url").filter(_.nonEmpty)
    val targetNode = if (presetId.isEmpty) "auto" else presetId
    val stage = Files.createTempDirectory(dataDir, ".stage_")
    try {
      // the conversion stages like every upload route; the completion
      // webhook fires HERE, after publication, so its file_url names
      // the published path (Pipeline's own webhook would name the
      // staging path, deleted moments later) — still strictly before
      // the HTTP response, which the spec pins
      val out = Pipeline.processLink(spark, linkUrl, stage.toString,
        targetNode = targetNode, returnUrl = None)
      val name = out.getFileName.toString
      publishStaged(stage)
      val published = dataDir.resolve(name)
      returnUrl.foreach(Pipeline.postCompletion(_, published, targetNode))
      respondJson(ex, 200,
        s"""{"file_url": ${Json.str(downloadUrl(published))}, """ +
          s""""preset_id": ${Json.str(presetId)}, "status": "completed"}""")
    } finally FileTree.delete(stage)
  })

  // main.py:2321 returns a hardcoded completed body; mirror its shape
  // against our own download namespace
  route("/status/", ex => handled(ex) {
    val presetId = ex.getRequestURI.getPath.stripPrefix("/status/")
    respondJson(ex, 200,
      s"""{"status": "completed", "preset_id": ${Json.str(presetId)}}""")
  })

  route("/download/data_files/", ex => handled(ex) {
    val filename = ex.getRequestURI.getPath
      .stripPrefix("/download/data_files/")
    val f = PathGuard.validatedFilePath(dataDir, filename)
    respondBytes(ex, 200, Files.readAllBytes(f), "application/octet-stream")
  })

  // ---- lifecycle --------------------------------------------------------

  installDispatcher() // after every route() above has registered

  def start(): GraftServer = { server.start(); this }
  def boundPort: Int = server.getAddress.getPort
  def baseUrl: String = s"http://$host:$boundPort"
  def stop(): Unit = { server.stop(0); watchdog.shutdownNow() }

  // ---- handler plumbing -------------------------------------------------

  /** All dispatch happens in ONE root context against the DECODED
    * request path (`URI.getPath`): JDK HttpServer contexts match the
    * RAW path by string prefix, which both 200s unknown paths through
    * "/" and misroutes typo'd or percent-encoded spellings — the
    * reference (Starlette) decodes before routing, so
    * `/api/user%2Dinfo` must serve and `/convert_csv_to_excelXYZ`
    * must 404. Fixed routes answer only their exact decoded path; the
    * two namespace routes (/status/, /download/data_files/) accept
    * suffixes. */
  private def route(path: String, h: HttpExchange => Unit): Unit =
    if (path.endsWith("/") && path.length > 1) prefixRoutes(path) = h
    else exactRoutes(path) = h

  private def installDispatcher(): Unit =
    server.createContext("/", { (ex: HttpExchange) =>
      val p = ex.getRequestURI.getPath // decoded
      exactRoutes.get(p)
        .orElse(prefixRoutes.collectFirst {
          case (pre, h) if p.startsWith(pre) => h
        }) match {
        case Some(h) => h(ex)
        case None =>
          respondJson(ex, 404, """{"detail": "Not Found"}""")
          ex.close()
      }
    })

  /** Wrap a handler with the reference's error mapping. The error
    * responses themselves are best-effort: a watchdog-aborted exchange
    * is already closed, and a second failure while reporting the first
    * must not escape into the dispatcher. */
  private def handled(ex: HttpExchange)(body: => Unit): Unit = {
    def tryRespond(code: Int, detail: String): Unit =
      try respondJson(ex, code, s"""{"detail": ${Json.str(detail)}}""")
      catch { case _: java.io.IOException => }
    try body
    catch {
      case e: TooLarge => tryRespond(413, e.getMessage)
      case e: java.io.FileNotFoundException => tryRespond(404, e.getMessage)
      case e: IllegalArgumentException =>
        tryRespond(400, Option(e.getMessage).getOrElse("Bad request"))
      case e: Throwable =>
        tryRespond(500, "Error processing file: " +
          Option(e.getMessage).getOrElse(e.toString))
    }
    finally ex.close()
  }

  /** Multipart-upload route body: save the `file` part under its
    * (sanitized, extension-validated) client name, run the conversion
    * into a per-request staging dir, atomically publish the outputs
    * into `dataDir`, answer the reference's completion JSON. */
  private def upload(exts: Seq[String])(
      run: (Path, Map[String, String], String) => Path): HttpExchange => Unit =
    ex => handled(ex) {
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .getOrElse("")
      val boundary = Multipart.boundaryOf(ct).getOrElse(
        throw new IllegalArgumentException("Expected multipart/form-data"))
      // RFC 2046 caps boundaries at 70 chars; an attacker-sized one
      // would make the body scan O(body x boundary) — reject early
      if (boundary.isEmpty || boundary.length > 256)
        throw new IllegalArgumentException("Invalid multipart boundary")
      val parts = Multipart.parse(readBody(ex), boundary)
      val filePart = parts.find(_.filename.isDefined)
        .orElse(parts.find(_.name == "file"))
        .getOrElse(throw new IllegalArgumentException("Missing file part"))
      if (filePart.data.isEmpty)
        throw new IllegalArgumentException("File is empty")
      val safeName = Paths.get(
        filePart.filename.getOrElse("uploaded_file").replace('\\', '/'))
        .getFileName.toString
      if (exts.nonEmpty && !exts.exists(safeName.toLowerCase.endsWith))
        throw new IllegalArgumentException(
          s"Only ${exts.mkString("/")} files are supported")
      // precedence mirrors the reference exactly: its endpoints declare
      // plain scalar params (never Form(...)), which FastAPI binds from
      // the QUERY STRING — the bundled client's FormData fields are
      // silently ignored there (main.py:1825, static/js/main.js:272).
      // We honor the query first for fidelity and fall back to the
      // posted form field, serving the client's evident intent (the
      // processPngToJpg precedent for reference quirks)
      val fields = parts.filter(_.filename.isEmpty)
        .map(p => p.name -> new String(p.data, UTF_8)).toMap ++
        queryParams(ex)
      val tmpDir = Files.createTempDirectory("graft_upload")
      val stage = Files.createTempDirectory(dataDir, ".stage_")
      try {
        val in = tmpDir.resolve(safeName)
        Files.write(in, filePart.data)
        val out = run(in, fields, stage.toString)
        val name = out.getFileName.toString
        publishStaged(stage)
        respondJson(ex, 200,
          s"""{"file_url": ${Json.str(
            downloadUrl(dataDir.resolve(name)))}, """ +
            s""""status": "completed", "filename": ${Json.str(name)}}""")
      } finally Seq(tmpDir, stage).foreach(FileTree.delete)
    }

  /** Atomically publish every file a conversion staged: rename into
    * `dataDir`, replacing whole files — the staging dir shares
    * `dataDir`'s filestore, so the rename IS atomic and a concurrent
    * download of a colliding name sees either the old or the new
    * complete file, never a torn write. */
  private[serve] def publishStaged(stage: Path): Unit = {
    val ls = Files.list(stage)
    val staged = try ls.iterator().asScala.toSeq finally ls.close()
    // every conversion stages flat regular files; a directory (or any
    // other kind) here means a new Pipeline output shape this publisher
    // doesn't know how to move — fail LOUDLY instead of letting the
    // finally-cleanup silently delete it and 404 the returned file_url
    val odd = staged.filterNot(Files.isRegularFile(_))
    require(odd.isEmpty,
      s"staging dir holds non-regular-file entries ${odd.map(_.getFileName)}: " +
        "publishStaged only publishes flat regular files")
    staged.foreach { f =>
      val dest = dataDir.resolve(f.getFileName.toString)
      try Files.move(f, dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // ATOMIC_MOVE+REPLACE_EXISTING replace semantics are
        // implementation-specific off POSIX; staging shares dataDir's
        // filestore so this should not happen, but a plain replace
        // still publishes a complete file if it does
        case _: java.nio.file.AtomicMoveNotSupportedException |
             _: java.nio.file.FileAlreadyExistsException =>
          Files.move(f, dest,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // publishing may OVERWRITE a path a memoized operator (trained
    // model, candidate graph, ranking — Memo.scala) already read in
    // this session: invalidate engine-wide, the REFRESH-TABLE moral
    // equivalent, so a long-lived server never serves results derived
    // from replaced data. Safe under concurrency: invalidation only
    // CONDEMNS snapshot directories — a query planned before this
    // publish keeps scanning its files until the 15-minute grace
    // window (Memo.graceMs) lapses, so no in-flight reader loses its
    // snapshot mid-scan (MemoSpec pins this).
    if (staged.nonEmpty) graft.analytics.Memo.invalidateAll()
  }

  private def downloadUrl(out: Path): String =
    s"/download/data_files/${out.getFileName.toString}"

  private def readBody(ex: HttpExchange): Array[Byte] = {
    // slow-loris guard: if the body hasn't fully arrived within the
    // timeout, abort the exchange from the watchdog thread — closing it
    // unblocks the stuck read below, freeing the handler thread
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    val abort = watchdog.schedule(new Runnable {
      override def run(): Unit = { timedOut.set(true); ex.close() }
    }, readTimeoutMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
    try {
      // reference cap: 100 MB (main.py:1779); read one byte past to
      // distinguish at-limit from over-limit
      val in = ex.getRequestBody
      val bytes = in.readNBytes(MaxUpload + 1)
      // a watchdog-closed stream can also surface as a SHORT read
      // rather than an IOException — never hand a truncated body on
      if (timedOut.get)
        throw new java.io.IOException("request body read timed out")
      if (bytes.length > MaxUpload)
        throw new TooLarge("File too large. Maximum size is 100MB")
      bytes
    } finally abort.cancel(false)
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, UTF_8) ->
              java.net.URLDecoder.decode(v, UTF_8))
          case _ => None
        }
      }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String,
                      cType: String): Unit =
    respondBytes(ex, code, body.getBytes(UTF_8), s"$cType; charset=utf-8")

  private def respondJson(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, body, "application/json")

  private def respondBytes(ex: HttpExchange, code: Int, bytes: Array[Byte],
                           cType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", cType)
    ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }
}

object GraftServer {

  private final class TooLarge(msg: String) extends RuntimeException(msg)
  private val MaxUpload = 100 * 1024 * 1024

  /** Minimal extraction of a STRING field from a flat JSON object —
    * the `/process_link` body is `{link_url, preset_id, return_url}`
    * (main.py LinkData); handles escaped quotes/backslashes and the
    * standard escape set, which is all a URL/id field can carry. */
  private[serve] def jsonField(body: String, name: String): Option[String] = {
    val re = ("\"" + java.util.regex.Pattern.quote(name) +
      "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
    re.findFirstMatchIn(body).map { m =>
      val sb = new StringBuilder
      val s = m.group(1)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' if i + 5 < s.length =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 4
            case other => sb.append(other)
          }
          i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
  }

  private val IndexHtml =
    """<!doctype html><html><head><title>graft</title></head><body>
      |<h1>graft — Spark-native feed/tabular conversion service</h1>
      |<p>POST multipart uploads to /process_file or any
      |/convert_* route; POST JSON {"link_url": ...} to /process_link;
      |fetch results from /download/data_files/&lt;name&gt;.</p>
      |</body></html>
      |""".stripMargin
}
