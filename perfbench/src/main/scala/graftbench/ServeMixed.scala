package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Duration

import scala.collection.mutable
import scala.util.Random

import graft.Pipeline
import graft.serve.{GraftServer, Multipart}
import graft.sources.{HttpFetch, XmlSource}

/** A closed loop of clients against an in-process GraftServer on
  * 127.0.0.1: each client waits for its conversion and the download of
  * the result before it sends the next, as the reference's browser
  * client does. Uploads are shop-sized and below the split threshold, so
  * per-request fixed cost and contention on the shared session dominate. */
final class ServeMixed extends Workload {
  import ServeMixed._

  private var inputs: Map[String, Gen.Input] = Map.empty
  private var server: GraftServer = _
  private def dataDir(ctx: Ctx): Path = ctx.workDir.resolve("data_files")

  def generate(ctx: Ctx): Unit = {
    val k = if (ctx.tiny) 10 else 1
    val dir = ctx.workDir.resolve("inputs")
    val s = ctx.seed
    // shop-sized uploads, below the split threshold; YML feeds use 20 of
    // the param names
    inputs = Map(
      "yml" -> Gen.ymlFeed(dir.resolve("yml.xml"), s, 400 / k, 150, params = 20),
      "yml_dirty" -> Gen.ymlFeed(dir.resolve("ymld.xml"), s + 1, 400 / k, 150, dirty = true,
        idPrefix = "d", params = 20),
      "product" -> Gen.productXml(dir.resolve("product.xml"), s + 2, 1000 / k),
      "1c" -> Gen.russian1cXml(dir.resolve("1c.xml"), s + 3, 350 / k),
      "service" -> Gen.serviceXml(dir.resolve("service.xml"), s + 4, 1400 / k),
      "link" -> Gen.ymlFeed(dir.resolve("linkfeed.xml"), s + 5, 400 / k, 150, idPrefix = "l", params = 20),
      "csv" -> Gen.offersCsv(dir.resolve("offers.csv"), s + 6, 700 / k, 150),
      "json" -> Gen.offersJson(dir.resolve("items.json"), s + 7, 1400 / k),
      "xlsx" -> Gen.offersXlsx(dir.resolve("sheet.xlsx"), s + 8, 1000 / k))
    // the link route fetches its feed from the server's own download route
    Files.createDirectories(dataDir(ctx))
    Files.copy(inputs("link").path, dataDir(ctx).resolve(LinkFile),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def prepare(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.clearJobGroup() // handler threads must not inherit one
    server = new GraftServer(ctx.spark, dataDir(ctx)).start()
  }

  override def release(ctx: Ctx): Unit = if (server != null) { server.stop(); server = null }

  private val routes: Seq[Route] = Seq(
    Route("process_file_yml", "/process_file", "yml", (b, in) => Checks.ymlCsv(b, in)),
    Route("process_file_product", "/process_file", "product",
      (b, in) => Checks.dialectCsv(b, in, "attr_id")._1),
    Route("process_file_1c", "/process_file", "1c", (b, in) => Checks.dialectCsv(b, in, "id")._1),
    Route("process_file_service", "/process_file", "service",
      (b, in) => Checks.dialectCsv(b, in, "id")._1),
    Route("process_link", "/process_link", "link", (b, in) => Checks.ymlCsv(b, in)),
    Route("csv_to_xml", "/convert_csv_to_xml", "csv", (b, in) => Checks.ymlXml(b, in)),
    Route("csv_to_json", "/convert_csv_to_json", "csv", (b, in) => Checks.jsonArray(b, in, "id")),
    Route("json_to_csv", "/convert_json_to_csv", "json",
      (b, in) => Checks.dialectCsv(b, in, "id", in.columns)._1),
    Route("csv_to_excel", "/convert_csv_to_excel", "csv", (b, in) => Checks.xlsx(b, in)),
    Route("excel_to_csv", "/convert_excel_to_csv", "xlsx",
      (b, in) => Checks.dialectCsv(b, in, "id", in.columns, sortedHeader = false)._1),
    Route("xml_to_json", "/convert_xml_to_json", "yml", (b, in) => Checks.jsonArray(b, in, "@id")))
  private val byKind = routes.map(r => r.kind -> r).toMap

  /** Round `n` of the mix: every route kind once, in a seeded order;
    * five of the eleven kinds are XML feeds, and on odd rounds the YML
    * upload is the malformed one, so the repair path runs. */
  private def round(ctx: Ctx, n: Int): Seq[(String, Boolean)] =
    new Random(ctx.seed * 7919 + n).shuffle(routes.map(r =>
      r.kind -> (r.kind == "process_file_yml" && n % 2 == 1)))

  private def inputOf(r: Route, dirty: Boolean): Gen.Input =
    inputs(if (dirty && r.input == "yml") "yml_dirty" else r.input)

  private def multipart(bytes: Array[Byte], filename: String): (Array[Byte], String) = {
    val boundary = "bench" + Integer.toHexString(filename.hashCode) + "b0undary"
    val head = s"--$boundary\r\nContent-Disposition: form-data; name=\"file\"; filename=\"$filename\"\r\n" +
      "Content-Type: application/octet-stream\r\n\r\n"
    val out = new java.io.ByteArrayOutputStream(bytes.length + 512)
    out.write(head.getBytes(UTF_8)); out.write(bytes)
    out.write(s"\r\n--$boundary--\r\n".getBytes(UTF_8))
    (out.toByteArray, boundary)
  }

  private val FileUrl = """"file_url":\s*"([^"]*)"""".r

  /** One user op: the conversion POST, then the GET of its `file_url`.
    * Returns the op's milliseconds and the downloaded bytes. */
  private def op(http: HttpClient, base: String, r: Route, in: Gen.Input,
                 client: Int): (Double, Array[Byte]) = {
    val req =
      if (r.kind == "process_link")
        HttpRequest.newBuilder(URI.create(base + r.path))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"link_url": "$base/download/data_files/$LinkFile"}"""))
      else {
        // per-client names: a concurrent publish never replaces another
        // client's output
        val name = s"c$client-${in.path.getFileName}"
        val (body, boundary) = multipart(Files.readAllBytes(in.path), name)
        HttpRequest.newBuilder(URI.create(base + r.path))
          .header("Content-Type", s"multipart/form-data; boundary=$boundary")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body))
      }
    val t0 = System.nanoTime()
    val resp = http.send(req.timeout(Duration.ofSeconds(120)).build(), HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode == 200, s"${r.kind}: HTTP ${resp.statusCode}: ${resp.body.take(300)}")
    val url = FileUrl.findFirstMatchIn(resp.body).map(_.group(1))
      .getOrElse(throw new IllegalStateException(s"${r.kind}: no file_url in ${resp.body.take(300)}"))
    val got = http.send(HttpRequest.newBuilder(URI.create(base + url)).GET()
      .timeout(Duration.ofSeconds(120)).build(), HttpResponse.BodyHandlers.ofByteArray())
    val ms = (System.nanoTime() - t0) / 1e6
    require(got.statusCode == 200, s"${r.kind}: download HTTP ${got.statusCode}")
    (ms, got.body)
  }

  private lazy val clients: IndexedSeq[HttpClient] = IndexedSeq.fill(Clients)(
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build())

  /** Run one op and check its bytes outside the timed region. */
  private def checkedOp(ctx: Ctx, http: HttpClient, kind: String, dirty: Boolean,
                        client: Int): Option[Op] = {
    val r = byKind(kind)
    val in = inputOf(r, dirty)
    var res: Option[Op] = None
    val outcome =
      try {
        val (ms, bytes) = op(http, server.baseUrl, r, in, client)
        res = Some(Op(kind, ms, in.records))
        System.err.println(f"[bench] client $client%d $kind%-22s $ms%.0f ms")
        r.check(bytes, in)
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    ctx.synchronized(ctx.record(s"$kind (client $client)")(outcome))
    if (outcome.isEmpty) res else None
  }

  /** The closed loop: `Clients` threads share a queue of whole rounds;
    * each takes its next op only after the previous one finished. Rounds
    * `first`, `first + 1`, ... are queued until `seconds` have passed and
    * at least `rounds` were queued, and a queued round always completes,
    * so every kind appears equally. */
  private def window(ctx: Ctx, first: Int, seconds: Double,
                     rounds: Int = 1): (Seq[Op], Double, Int) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val queue = mutable.Queue.empty[(String, Boolean)]
    var next = first
    val t0 = System.nanoTime()
    def take(): Option[(String, Boolean)] = queue.synchronized {
      if (queue.isEmpty && (next - first < rounds || (System.nanoTime() - t0) / 1e9 < seconds)) {
        queue ++= round(ctx, next)
        next += 1
      }
      if (queue.isEmpty) None else Some(queue.dequeue())
    }
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val http = clients(c)
        var item = take()
        while (item.isDefined) {
          val (kind, dirty) = item.get
          checkedOp(ctx, http, kind, dirty, c).foreach(o => ops.synchronized(ops += o))
          item = take()
        }
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (ops.toSeq, (System.nanoTime() - t0) / 1e9, next)
  }

  def run(ctx: Ctx): Unit = {
    val http = clients(0)
    // the first round pays JIT and codegen: its wall time is reported
    // apart; the second still runs measurably slower and is not timed
    val (_, cold, warm) = window(ctx, 0, 0)
    val (_, _, next) = window(ctx, warm, 0)
    val seconds = if (ctx.trace) ctx.seconds / 2 else ctx.seconds
    // untraced runs take at least MinRounds rounds, enough samples for
    // the tail percentile
    val (ops, wall, after) = window(ctx, next, seconds, if (ctx.trace) 1 else MinRounds)
    require(ops.nonEmpty, "no op completed")
    val ms = ops.map(_.ms)
    if (!ctx.trace) {
      ctx.put("ops_per_s", ops.size / wall, "1/s")
      ctx.put("op_p50_ms", Stats.median(ms), "ms")
      ctx.put("op_tail_ms", Stats.pct(ms, Stats.TailP), "ms")
      ctx.put("rows_per_s", ops.map(_.records).sum / wall, "1/s")
      ctx.put("cold_s", cold, "s")
      ctx.put("steady_s", routes.map(_.kind).flatMap { k =>
        val mine = ops.filter(_.kind == k).map(_.ms)
        if (mine.isEmpty) None else Some(Stats.median(mine))
      }.sum / 1000, "s")
    } else traced(ctx, http, Stats.median(ms), seconds, after)
  }

  private def traced(ctx: Ctx, http: HttpClient, untracedP50: Double, seconds: Double,
                     first: Int): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val l = new Listener
    sc.addSparkListener(l)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    threads.resetPeakThreadCount()
    val (ops, wall, _) = window(ctx, first, seconds)
    val all = l.sum(sc, "")
    ctx.put("serve.util", all.taskS / (wall * ctx.cores), "ratio")
    ctx.put("serve.jobs_per_op", all.jobs.toDouble / ops.size, "count")
    ctx.put("serve.task_s_per_op", all.taskS / ops.size, "s")
    ctx.put("serve.job_wait_ms", if (all.waitsMs.isEmpty) 0.0 else Stats.median(all.waitsMs.toSeq), "ms")
    ctx.put("serve.threads_peak", threads.getPeakThreadCount, "count")
    ctx.put("trace.overhead_pct", (Stats.median(ops.map(_.ms)) / untracedP50 - 1) * 100, "%")

    // each route kind once, called directly, one at a time
    val out = ctx.workDir.resolve("direct")
    val base = server.baseUrl
    var opNo = 100L
    def direct(r: Route, in: Gen.Input): (Array[Byte], Double) = {
      opNo += 1
      val dir = out.resolve(opNo.toString).toString
      val p = in.path.toString
      val (path, s) = Trace.span(spark, s"pipeline.${r.kind}", opNo) {
        r.kind match {
          case k if k.startsWith("process_file") => Pipeline.processFile(spark, p, dir)
          case "process_link" => Pipeline.processLink(spark, s"$base/download/data_files/$LinkFile", dir)
          case "csv_to_xml" => Pipeline.processCsvToXml(spark, p, dir)
          case "csv_to_json" => Pipeline.processCsvToJson(spark, p, dir)
          case "json_to_csv" => Pipeline.processJsonToCsv(spark, p, dir)
          case "csv_to_excel" => Pipeline.processCsvToExcel(spark, p, dir)
          case "excel_to_csv" => Pipeline.processExcelToCsv(spark, p, dir)
          case "xml_to_json" => Pipeline.processXmlToJson(spark, p, dir, XmlSource.detectFile(p).rowTag)
        }
      }
      (Files.readAllBytes(path), s)
    }
    routes.foreach { r =>
      val in = inputOf(r, dirty = false)
      val (bytes, s) = direct(r, in)
      ctx.record(s"direct ${r.kind}")(r.check(bytes, in))
      ctx.put(s"pipeline.${r.kind}.ms", s * 1000, "ms")
      ctx.put(s"pipeline.${r.kind}.jobs", l.group(sc, s"pipeline.${r.kind}").jobs, "count")
    }

    // serve overhead on one route: one client over HTTP vs the direct call
    val yml = byKind("process_file_yml")
    val viaHttp = (0 until 2).flatMap(_ => checkedOp(ctx, http, yml.kind, dirty = false, 0)).map(_.ms)
    val viaCall = (0 until 2).map(_ => direct(yml, inputs("yml"))._2 * 1000)
    ctx.put("serve.overhead_ms", Stats.median(viaHttp) - Stats.median(viaCall), "ms")

    val parseMs = routes.filter(_.kind != "process_link").map { r =>
      val (body, boundary) = multipart(Files.readAllBytes(inputOf(r, dirty = false).path), "x")
      Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        require(Multipart.parse(body, boundary).size == 1, "multipart parse lost the file part")
        (System.nanoTime() - t0) / 1e6
      })
    }
    ctx.put("serve.multipart_parse_ms", Stats.median(parseMs), "ms")
    val fetchMs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val tmp = HttpFetch.fetchToFile(s"$base/download/data_files/$LinkFile")
      val ms = (System.nanoTime() - t0) / 1e6
      Files.deleteIfExists(tmp)
      ms
    }
    ctx.put("sources.http_fetch.ms", Stats.median(fetchMs), "ms")
    Main.rmrf(out)
    FeedLayers.run(ctx, l)
    sc.removeSparkListener(l)
  }
}

object ServeMixed {
  /** One route kind: its HTTP path, the input it uploads, and its check. */
  private final case class Route(kind: String, path: String, input: String,
                                 check: (Array[Byte], Gen.Input) => Option[String])

  private final case class Op(kind: String, ms: Double, records: Int)

  /** Closed-loop client count: one per core of this 4-core host. */
  val Clients = 4
  /** Rounds an untraced window takes at least: 33 ops. */
  val MinRounds = 3
  val LinkFile = "linkfeed.xml"
}
