package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkTestBase

/** End-to-end serving-shim coverage: a real HTTP client against the
  * full router over a live SparkSession — the reference-user workflow
  * (upload/link in, completion JSON out, converted bytes via
  * /download), with the flagship CSV byte-compared against the same
  * golden the Pipeline spec pins. */
class GraftServerSpec extends SparkTestBase {

  private val client = HttpClient.newHttpClient()

  private def fixtureBytes(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/fixtures/$name").getPath))

  private def withServer(f: GraftServer => Unit): Unit = {
    val dataDir = Files.createTempDirectory("graft_serve_data")
    val srv = new GraftServer(spark, dataDir).start()
    try f(srv)
    finally {
      srv.stop()
      val walk = Files.walk(dataDir)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  private def get(url: String): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def postJson(url: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** Build a multipart/form-data body by hand (filename part + plain
    * fields), the envelope every reference endpoint accepts. */
  private def postMultipart(url: String, filename: String,
                            data: Array[Byte],
                            fields: Map[String, String] = Map.empty)
      : HttpResponse[String] = {
    val boundary = "graftspecboundary42"
    val buf = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = buf.write(s.getBytes(UTF_8))
    for ((k, v) <- fields) {
      w(s"--$boundary\r\n")
      w(s"""Content-Disposition: form-data; name="$k"\r\n\r\n""")
      w(v); w("\r\n")
    }
    w(s"--$boundary\r\n")
    w(s"""Content-Disposition: form-data; name="file"; filename="$filename"\r\n""")
    w("Content-Type: application/octet-stream\r\n\r\n")
    buf.write(data); w("\r\n")
    w(s"--$boundary--\r\n")
    client.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(buf.toByteArray)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  private def fileUrlOf(body: String): String =
    GraftServer.jsonField(body, "file_url")
      .getOrElse(fail(s"no file_url in: $body"))

  test("process_link e2e: fetch a live YML feed, convert, webhook " +
       "fires, downloaded CSV byte-matches the flagship golden") {
    val feed = fixtureBytes("yml_offer.xml")
    @volatile var webhookBody: String = null
    val src = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    src.createContext("/feed.xml", (ex: HttpExchange) => {
      ex.getResponseHeaders.set("Content-Type", "application/xml")
      ex.sendResponseHeaders(200, feed.length)
      val os = ex.getResponseBody; os.write(feed); os.close()
    })
    src.createContext("/done", (ex: HttpExchange) => {
      webhookBody = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    src.start()
    try withServer { srv =>
      val srcBase = s"http://127.0.0.1:${src.getAddress.getPort}"
      val r = postJson(s"${srv.baseUrl}/process_link",
        s"""{"link_url": "$srcBase/feed.xml", "preset_id": "",
           | "return_url": "$srcBase/done"}""".stripMargin)
      assert(r.statusCode() === 200, r.body())
      assert(r.body().contains(""""status": "completed""""))
      assert(webhookBody != null &&
        webhookBody.contains(""""status": "completed""""),
        "completion webhook must have fired before the response")
      val dl = get(srv.baseUrl + fileUrlOf(r.body()))
      assert(dl.statusCode() === 200)
      assert(java.util.Arrays.equals(dl.body(),
        fixtureBytes("yml_offer_expected.csv")),
        "served CSV must byte-match the flagship golden")
    } finally src.stop(0)
  }

  test("process_file multipart: XML upload converts to CSV (golden " +
       "bytes); CSV upload dispatches to the XML sink") {
    withServer { srv =>
      val r = postMultipart(s"${srv.baseUrl}/process_file", "feed.xml",
        fixtureBytes("yml_offer.xml"))
      assert(r.statusCode() === 200, r.body())
      val dl = get(srv.baseUrl + fileUrlOf(r.body()))
      assert(java.util.Arrays.equals(dl.body(),
        fixtureBytes("yml_offer_expected.csv")))
      // extension dispatch: a .csv upload returns an XML conversion
      val csv = "id;name;price\n1;w;10\n".getBytes(UTF_8)
      val r2 = postMultipart(s"${srv.baseUrl}/process_file", "t.csv", csv)
      assert(r2.statusCode() === 200, r2.body())
      assert(fileUrlOf(r2.body()).endsWith(".xml"))
    }
  }

  test("convert_csv_to_json honors the json_format form field; wrong " +
       "extension and empty upload are 400s") {
    withServer { srv =>
      val csv = "id;name\n1;w\n2;x\n".getBytes(UTF_8)
      val r = postMultipart(s"${srv.baseUrl}/convert_csv_to_json", "t.csv",
        csv, fields = Map("json_format" -> "object"))
      assert(r.statusCode() === 200, r.body())
      val body = new String(get(srv.baseUrl + fileUrlOf(r.body())).body(), UTF_8)
      assert(body.contains("\"id\""), s"converted JSON carries columns: $body")
      val bad = postMultipart(s"${srv.baseUrl}/convert_csv_to_json",
        "t.json", csv)
      assert(bad.statusCode() === 400)
      assert(bad.body().contains("Only .csv"))
      val empty = postMultipart(s"${srv.baseUrl}/convert_csv_to_json",
        "t.csv", Array.emptyByteArray)
      assert(empty.statusCode() === 400)
      assert(empty.body().contains("File is empty"))
    }
  }

  test("download guards: traversal is a 400, missing file a 404; " +
       "status and chrome routes answer") {
    withServer { srv =>
      // JDK HttpClient normalizes ../ in paths, so drive the raw URI
      // through an encoded traversal the server must still reject
      val trav = get(s"${srv.baseUrl}/download/data_files/..%2Fsecret")
      assert(trav.statusCode() === 400)
      val missing = get(s"${srv.baseUrl}/download/data_files/nope.csv")
      assert(missing.statusCode() === 404)
      val st = get(s"${srv.baseUrl}/status/abc123")
      assert(st.statusCode() === 200 &&
        new String(st.body(), UTF_8).contains("completed"))
      assert(get(s"${srv.baseUrl}/robots.txt").statusCode() === 200)
      assert(new String(get(s"${srv.baseUrl}/").body(), UTF_8)
        .contains("graft"))
    }
  }

  test("binary round trip over HTTP: csv -> xlsx (binary download) -> " +
       "re-upload the xlsx -> csv preserves the cells") {
    withServer { srv =>
      val csv = "id;name;price\n1;widget;10.5\n2;gadget;7.25\n"
      val r1 = postMultipart(s"${srv.baseUrl}/convert_csv_to_excel",
        "items.csv", csv.getBytes(UTF_8))
      assert(r1.statusCode() === 200, r1.body())
      val xlsx = get(srv.baseUrl + fileUrlOf(r1.body())).body()
      // a real OOXML container comes back: zip magic, nontrivial size
      assert(xlsx.length > 100 && xlsx(0) === 'P'.toByte &&
        xlsx(1) === 'K'.toByte, "downloaded xlsx is a zip container")
      // feed the binary download straight back through the multipart
      // path — this is the byte-exactness test for Multipart framing
      val r2 = postMultipart(s"${srv.baseUrl}/convert_excel_to_csv",
        "items.xlsx", xlsx)
      assert(r2.statusCode() === 200, r2.body())
      val back = new String(get(srv.baseUrl + fileUrlOf(r2.body())).body(),
        UTF_8)
      for (cell <- Seq("widget", "gadget", "10.5", "7.25"))
        assert(back.contains(cell), s"round-tripped CSV lost '$cell': $back")
    }
  }

  test("routing is exact: unknown paths and typo'd route names are " +
       "404s, not silent prefix matches") {
    withServer { srv =>
      assert(get(s"${srv.baseUrl}/nonexistent").statusCode() === 404)
      assert(get(s"${srv.baseUrl}/favicon.ico").statusCode() === 404)
      // raw-prefix trap: without the path check this would RUN the
      // csv_to_excel conversion for a path the reference 404s
      val typo = postMultipart(s"${srv.baseUrl}/convert_csv_to_excelXYZ",
        "t.csv", "id;name\n1;w\n".getBytes(UTF_8))
      assert(typo.statusCode() === 404)
      assert(get(s"${srv.baseUrl}/robots.txtXYZ").statusCode() === 404)
      assert(get(s"${srv.baseUrl}/").statusCode() === 200)
      // routing happens on the DECODED path (the reference's Starlette
      // decodes before matching): a %-encoded spelling of a real route
      // must serve, not fall through to 404
      val enc = get(s"${srv.baseUrl}/api/user%2Dinfo")
      assert(enc.statusCode() === 200 &&
        new String(enc.body(), UTF_8).contains("authenticated"))
    }
  }

  test("Multipart: filename attribute BEFORE name still parses the " +
       "part name (RFC 7578 mandates no attribute order)") {
    val boundary = "bnd42"
    val body = (s"--$boundary\r\n" +
      "Content-Disposition: form-data; filename=\"report.csv\"; name=\"file\"\r\n\r\n" +
      "data\r\n" +
      s"--$boundary--\r\n").getBytes(UTF_8)
    val parts = Multipart.parse(body, boundary)
    assert(parts.size === 1)
    assert(parts.head.name === "file",
      s"name must not be captured from filename=: ${parts.head.name}")
    assert(parts.head.filename.contains("report.csv"))
  }

  test("concurrent conversions interleave as independent jobs: parallel " +
       "uploads all complete with distinct output files") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    withServer { srv =>
      val results = Await.result(Future.sequence((1 to 4).map { i =>
        Future {
          postMultipart(s"${srv.baseUrl}/convert_csv_to_json", s"t$i.csv",
            s"id;name\n$i;row$i\n".getBytes(UTF_8))
        }
      }), 120.seconds)
      assert(results.forall(_.statusCode() == 200),
        results.map(_.body()).mkString("; "))
      val urls = results.map(r => fileUrlOf(r.body()))
      assert(urls.distinct.size === 4, s"distinct outputs: $urls")
      urls.zipWithIndex.foreach { case (u, i) =>
        val body = new String(get(srv.baseUrl + u).body(), UTF_8)
        assert(body.contains(s"row${i + 1}"), s"$u carries its own rows")
      }
    }
  }

  test("abuse: an attacker-sized multipart boundary is rejected 400 " +
       "before the body scan can go quadratic") {
    withServer { srv =>
      val boundary = "b" * 10000
      val body = (s"--$boundary\r\n" +
        "Content-Disposition: form-data; name=\"file\"; filename=\"t.csv\"\r\n\r\n" +
        "id;name\n1;w\n\r\n" + s"--$boundary--\r\n").getBytes(UTF_8)
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"${srv.baseUrl}/convert_csv_to_json"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 400, r.body())
      assert(r.body().contains("Invalid multipart boundary"))
    }
  }

  test("abuse: a slow-loris partial body is aborted by the read " +
       "watchdog and the server stays responsive") {
    val dataDir = Files.createTempDirectory("graft_serve_slow")
    val srv = new GraftServer(spark, dataDir,
      readTimeoutMillis = 500L).start()
    try {
      val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
      sock.setSoTimeout(15000)
      val os = sock.getOutputStream
      os.write(("POST /convert_csv_to_json HTTP/1.1\r\n" +
        s"Host: 127.0.0.1:${srv.boundPort}\r\n" +
        "Content-Type: multipart/form-data; boundary=bnd\r\n" +
        "Content-Length: 100000\r\n\r\n").getBytes(UTF_8))
      os.write("--bnd\r\ntrickle".getBytes(UTF_8))
      os.flush()
      // never send the rest: the watchdog must abort the exchange —
      // observable as connection close (EOF or reset) well before the
      // claimed body could have "arrived"
      val t0 = System.nanoTime()
      val closed =
        try sock.getInputStream.readAllBytes() != null // EOF -> returns
        catch { case _: java.io.IOException => true }  // reset -> throws
      val waitedMs = (System.nanoTime() - t0) / 1e6
      assert(closed, "connection must be aborted")
      assert(waitedMs < 10000, s"aborted in ${waitedMs}ms, not at SoTimeout")
      sock.close()
      // the handler thread is free again: a normal request still serves
      val ok = postMultipart(s"${srv.baseUrl}/convert_csv_to_json",
        "t.csv", "id;name\n1;w\n".getBytes(UTF_8))
      assert(ok.statusCode() === 200, ok.body())
    } finally {
      srv.stop()
      val walk = Files.walk(dataDir)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  test("abuse: fully-encoded %2e%2e traversal through the decoded-path " +
       "router cannot escape the download namespace") {
    withServer { srv =>
      // plant a secret OUTSIDE dataDir that a successful traversal
      // would read; the raw URI decodes to /download/data_files/../...
      val secret = Files.createTempFile("graft_secret", ".txt")
      Files.writeString(secret, "do-not-serve")
      try {
        val name = secret.getFileName.toString
        for (path <- Seq(
            s"%2e%2e%2f$name",
            s"%2e%2e/%2e%2e/tmp/$name",
            s"..%2f..%2ftmp%2f$name",
            s"foo%2f..%2f..%2f$name")) {
          val r = get(s"${srv.baseUrl}/download/data_files/$path")
          assert(r.statusCode() === 400 || r.statusCode() === 404,
            s"$path -> ${r.statusCode()}")
          assert(!new String(r.body(), UTF_8).contains("do-not-serve"),
            s"$path leaked the secret")
        }
      } finally Files.deleteIfExists(secret)
    }
  }

  test("abuse: concurrent uploads colliding on the SAME derived output " +
       "filename each serve a complete file, never a torn write") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    withServer { srv =>
      def csvOf(tag: String): Array[Byte] =
        (Seq("id;name") ++ (1 to 50).map(i => s"$i;${tag}_row$i"))
          .mkString("", "\n", "\n").getBytes(UTF_8)
      // serial references: what each conversion alone produces
      def serial(tag: String): String = {
        val r = postMultipart(s"${srv.baseUrl}/convert_csv_to_json",
          "same.csv", csvOf(tag))
        assert(r.statusCode() === 200, r.body())
        new String(get(srv.baseUrl + fileUrlOf(r.body())).body(), UTF_8)
      }
      val refA = serial("aa")
      val refB = serial("bb")
      assert(refA !== refB)
      // now race them: same client filename -> same output name
      for (_ <- 1 to 3) {
        val (ra, rb) = Await.result(
          Future(postMultipart(s"${srv.baseUrl}/convert_csv_to_json",
            "same.csv", csvOf("aa")))
            .zip(Future(postMultipart(s"${srv.baseUrl}/convert_csv_to_json",
              "same.csv", csvOf("bb")))), 120.seconds)
        assert(ra.statusCode() === 200 && rb.statusCode() === 200)
        val url = fileUrlOf(ra.body())
        assert(url === fileUrlOf(rb.body()), "same derived output name")
        val got = new String(get(srv.baseUrl + url).body(), UTF_8)
        assert(got === refA || got === refB,
          s"download must be ONE complete conversion, got:\n$got")
      }
    }
  }

  test("Multipart parser: binary payload with embedded CRLFs and " +
       "quoted boundary round-trips byte-exact") {
    val payload = Array.tabulate[Byte](512)(i => (i % 256).toByte)
    val boundary = "xyzBoundary"
    val buf = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = buf.write(s.getBytes(UTF_8))
    w(s"--$boundary\r\n")
    w("Content-Disposition: form-data; name=\"xml_format\"\r\n\r\n")
    w("simple\r\n")
    w(s"--$boundary\r\n")
    w("Content-Disposition: form-data; name=\"file\"; filename=\"b.bin\"\r\n")
    w("Content-Type: application/octet-stream\r\n\r\n")
    buf.write(payload); w("\r\n")
    w(s"--$boundary--\r\n")
    assert(Multipart.boundaryOf(
      s"""multipart/form-data; boundary="$boundary"""").contains(boundary))
    val parts = Multipart.parse(buf.toByteArray, boundary)
    assert(parts.map(_.name) === Seq("xml_format", "file"))
    assert(new String(parts.head.data, UTF_8) === "simple")
    assert(parts(1).filename.contains("b.bin"))
    assert(java.util.Arrays.equals(parts(1).data, payload))
    // malformed framing: no parts, no throw
    assert(Multipart.parse("garbage".getBytes(UTF_8), boundary).isEmpty)
  }

  test("publishStaged: a staged DIRECTORY fails loudly instead of being " +
       "silently deleted into a 404; flat files still publish") {
    // a THROWAWAY server with its own dataDir: publishing into the
    // shared withServer fixture's dataDir would leak ok.csv across the
    // suite's later download/listing assertions
    val dataDir = Files.createTempDirectory("graft_pub")
    val srv = new GraftServer(spark, dataDir)
    try {
      val stage = Files.createTempDirectory(dataDir, ".stage_")
      Files.writeString(stage.resolve("ok.csv"), "a;b\n1;2\n")
      Files.createDirectory(stage.resolve("part-dir"))
      val e = intercept[IllegalArgumentException](srv.publishStaged(stage))
      assert(e.getMessage.contains("non-regular-file"),
        s"wrong failure: ${e.getMessage}")
      // flat staging publishes (idempotent replace of an existing file)
      val stage2 = Files.createTempDirectory(dataDir, ".stage_")
      Files.writeString(stage2.resolve("ok.csv"), "a;b\n3;4\n")
      srv.publishStaged(stage2)
      assert(!Files.exists(stage2.resolve("ok.csv")),
        "staged file should have been moved out")
      assert(Files.readString(dataDir.resolve("ok.csv")) == "a;b\n3;4\n",
        "flat staging must publish into the server's dataDir")
    } finally {
      srv.stop()
      val walk = Files.walk(dataDir)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  test("publishStaged invalidates the session memos: a scorer over an " +
       "overwritten dataset path RETRAINS instead of serving stale " +
       "weights (the r10 staleness contract, now wired)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_pub_inval")
    val srv = new GraftServer(spark, dataDir)
    try {
      // a dataset the server serves and a scorer trains on
      val path = dataDir.resolve("docs.parquet").toString
      (0L until 30L).map { i =>
        (i, if (i % 2 == 0) "good clean prose text here"
            else "spam junk garbage noise blob")
      }.toDF("doc_id", "text").write.mode("overwrite").parquet(path)
      def train() = graft.analytics.Selection.logregTrain(
        spark.read.parquet(path), "doc_id", "text",
        col("doc_id") % 2 === 0, dim = 16, iters = 3).count()
      train()
      val hits = graft.analytics.Selection.logregModels.hits.get()
      train()
      assert(graft.analytics.Selection.logregModels.hits.get() == hits + 1,
        "second identical training must hit the model memo")
      // the server publishes (a route just overwrote data in dataDir)
      val stage = Files.createTempDirectory(dataDir, ".stage_")
      Files.writeString(stage.resolve("refresh.csv"), "a;b\n1;2\n")
      srv.publishStaged(stage)
      // the next identical training must MISS — fresh weights, not the
      // memo entry keyed on the pre-publish read
      val hits2 = graft.analytics.Selection.logregModels.hits.get()
      train()
      assert(graft.analytics.Selection.logregModels.hits.get() == hits2,
        "publish must invalidate the model memo (stale-weight guard)")
    } finally {
      srv.stop()
      val walk = Files.walk(dataDir)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}
