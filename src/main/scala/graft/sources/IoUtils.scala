package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Path, Paths}
import java.time.Duration

/** P9 — download-path validation (reference `path_utils.py:6-22`): the
  * resolved path must stay inside the base directory and point at an
  * existing file; traversal attempts raise with the reference's messages. */
object PathGuard {

  def validatedFilePath(baseDir: Path, filename: String): Path = {
    val base = baseDir.toAbsolutePath.normalize()
    val resolved = base.resolve(filename).normalize()
    if (!resolved.startsWith(base))
      throw new IllegalArgumentException("Invalid filename")
    if (!Files.isRegularFile(resolved))
      throw new java.io.FileNotFoundException("File not found")
    resolved
  }
}

/** Local file trees: staging, scratch and dump directories. */
object FileTree {

  /** Delete a file tree if it exists, children before parents. */
  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}

/** S4 — charset-fallback decode (reference main.py:1787-1797, repeated at
  * five call sites): try UTF-8, windows-1251, latin-1, iso-8859-1, cp1252
  * strictly in order; final fallback decodes UTF-8 with replacement.
  * (Like the reference's chain, latin-1 accepts every byte sequence, so in
  * practice the chain ends there; the remaining entries mirror the
  * reference's list for fidelity.) */
object CharsetFallback {

  val Chain: Seq[String] =
    Seq("UTF-8", "windows-1251", "ISO-8859-1", "ISO-8859-1", "windows-1252")

  def decode(bytes: Array[Byte]): (String, String) = {
    Chain.foreach { name =>
      try {
        val dec = Charset.forName(name).newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
        return (dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString, name)
      } catch { case _: java.nio.charset.CharacterCodingException => }
    }
    (new String(bytes, StandardCharsets.UTF_8), "UTF-8+replace")
  }
}

/** S3 — HTTP fetch source (reference `process_link` main.py:1586-1741):
  * driver-side GET with a fast-path probe and four header-spoofing retry
  * strategies with a 2 s inter-strategy delay, 60 s total timeout, and the
  * reference's content acceptance rule (body must start `<?xml` or
  * `<yml_catalog`, regardless of Content-Type).
  *
  * A single URL yields a single blob, so this is deliberately NOT a
  * DataSource: fetch to a temp file on the driver, then `XmlSource.read`
  * that file distributed.
  */
object HttpFetch {

  final case class Strategy(name: String, headers: Map[String, String])

  /** The reference's four strategies (main.py:1629-1681), header sets
    * abbreviated to the load-bearing ones (UA/Accept/Referer). */
  def strategies(host: String): Seq[Strategy] = Seq(
    Strategy("Standard request", Map(
      "User-Agent" -> "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
      "Accept" -> "application/xml,text/xml,*/*")),
    Strategy("Chrome browser simulation", Map(
      "User-Agent" -> "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
      "Accept" -> "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
      "Referer" -> s"https://$host/")),
    Strategy("Firefox browser simulation", Map(
      "User-Agent" -> "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:122.0) Gecko/20100101 Firefox/122.0",
      "Accept" -> "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
      "Referer" -> s"https://$host/")),
    Strategy("Mobile browser simulation", Map(
      "User-Agent" -> "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Mobile/15E148 Safari/604.1",
      "Accept" -> "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
      "Referer" -> s"https://$host/")))

  def looksLikeXml(body: String): Boolean = {
    val t = body.trim
    t.startsWith("<?xml") || t.startsWith("<yml_catalog")
  }

  /** Fetch `url`, trying the fast path then each strategy; returns the body
    * on the first 200 whose content looks like XML. `sleepMillis` is the
    * reference's 2 s inter-strategy delay (injectable for tests). */
  def fetch(url: String, timeout: Duration = Duration.ofSeconds(60),
            sleepMillis: Long = 2000): String = {
    val client = HttpClient.newBuilder()
      .connectTimeout(timeout)
      .followRedirects(HttpClient.Redirect.ALWAYS)
      .build()
    val host = Option(URI.create(url).getHost).getOrElse("")

    def attempt(headers: Map[String, String]): Option[String] = {
      val builder = HttpRequest.newBuilder(URI.create(url)).timeout(timeout).GET()
      headers.foreach { case (k, v) => builder.header(k, v) }
      try {
        val resp = client.send(builder.build(), HttpResponse.BodyHandlers.ofByteArray())
        if (resp.statusCode() == 200) {
          val (body, _) = CharsetFallback.decode(resp.body())
          if (looksLikeXml(body)) Some(body) else None
        } else None
      } catch { case _: java.io.IOException => None }
    }

    attempt(strategies(host).head.headers) match {
      case Some(body) => body
      case None =>
        // the head strategy just failed — retry only the REMAINING ones
        strategies(host).tail.foreach { s =>
          Thread.sleep(sleepMillis)
          attempt(s.headers) match {
            case Some(body) => return body
            case None       =>
          }
        }
        throw new IllegalArgumentException(
          s"Unable to access the file at $url: the server blocks all access " +
            "attempts or does not return XML. Download the file manually and " +
            "upload it instead.")
    }
  }

  /** Completion-webhook POST (reference main.py:2303-2310: the
    * `return_url` callback after /process_link finishes): JSON body,
    * 10 s timeout, result status returned to the caller — who treats a
    * failed callback as log-and-continue, exactly like the reference's
    * swallowed `callback_error`. */
  def postJson(url: String, body: String,
               timeout: Duration = Duration.ofSeconds(10)): Int = {
    val client = HttpClient.newBuilder().connectTimeout(timeout).build()
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(timeout)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  /** Fetch to a temp file for a distributed `XmlSource.read`. */
  def fetchToFile(url: String): Path = {
    val body = fetch(url)
    val tmp = Files.createTempFile("graft_fetch", ".xml")
    Files.writeString(tmp, body, StandardCharsets.UTF_8)
    tmp
  }
}
