package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** What one run needs: its arguments, the live session and the result
  * it fills in. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val tiny: Boolean, val workDir: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty

  def put(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  /** Count one operation; a check that returns an error counts it as
    * failed and reports why on stderr. */
  def record(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    val err =
      try check
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach { m => failed += 1; System.err.println(s"[bench] FAILED $what: $m") }
  }
}

/** A workload: inputs, per-session preparation, and the measured run. */
trait Workload {
  def generate(ctx: Ctx): Unit
  def prepare(ctx: Ctx): Unit = ()
  def release(ctx: Ctx): Unit = ()
  def run(ctx: Ctx): Unit
}

/** Driver heap after a full collection, taken when the run has ended:
  * the live set has grown over the run and is largest there. It is
  * bimodal from run to run (about 85 or 120 MB on serve_mixed, 4-core
  * host), so it is a per-layer figure, not a bounded end-to-end one. */
object Heap {
  def settledMb(): Double = {
    // up to ~1 s after the last op ends, its buffers are still being
    // released (measured: 120 MB at once, 88 MB a second later, then
    // flat); the second collection frees what Spark's cleaner released
    // after the first one cleared its weak references
    Thread.sleep(1000)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    System.err.println(f"[bench] heap after full collection ${used / 1048576.0}%.1f MB")
    used / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** The tail percentile every workload reports as `op_tail_ms`: the
    * highest that leaves at least 10 samples beyond it at the fewest
    * samples a run takes (33 serve ops, 27 catalog executions). */
  val TailP = 0.62
}

/** `;`-delimited CSV as the program writes it: optional BOM, `""`
  * quoting, CRLF rows. */
object Csv {
  def parse(bytes: Array[Byte]): (Boolean, IndexedSeq[String], IndexedSeq[Array[String]]) = {
    val s0 = new String(bytes, UTF_8)
    val bom = s0.startsWith("﻿")
    val s = if (bom) s0.substring(1) else s0
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    val cur = mutable.ArrayBuffer.empty[String]
    val cell = new java.lang.StringBuilder
    var i = 0
    var quoted = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (quoted) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { cell.append('"'); i += 1 }
          else quoted = false
        } else cell.append(c)
      } else c match {
        case '"' => quoted = true
        case ';' => cur += cell.toString; cell.setLength(0)
        case '\r' => ()
        case '\n' =>
          cur += cell.toString; cell.setLength(0)
          rows += cur.toArray; cur.clear()
        case _ => cell.append(c)
      }
      i += 1
    }
    if (cell.length > 0 || cur.nonEmpty) { cur += cell.toString; rows += cur.toArray }
    if (rows.isEmpty) (bom, IndexedSeq.empty, IndexedSeq.empty)
    else (bom, rows.head.toIndexedSeq, rows.tail.toIndexedSeq)
  }
}

object Main {

  private def arg(args: Array[String], k: String, default: String): String = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  def session(cores: Int): SparkSession = Sessions.local(cores, "graft-bench")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ctx = new Ctx(
      workload = arg(args, "--workload", ""),
      seed = arg(args, "--seed", "1").toLong,
      seconds = arg(args, "--seconds", "10").toDouble,
      trace = arg(args, "--trace", "0") == "1",
      tiny = arg(args, "--size", "full") == "tiny",
      workDir = Paths.get(arg(args, "--work-dir", ".bench_build/run")).toAbsolutePath)
    val wl: Workload = ctx.workload match {
      case "serve_mixed"  => new ServeMixed
      case "catalog_core" => new CatalogCore
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    val genOnly = args.contains("--gen-only")
    var code = 0
    try {
      // set-up runs from JVM start to a ready session (and server): class
      // loading and the first session are part of it, input generation
      // comes after and is reported apart. A process starts only once,
      // so a run holds one set-up; the median is taken across runs.
      ctx.spark = session(ctx.cores)
      wl.prepare(ctx)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val g0 = System.nanoTime()
      wl.generate(ctx)
      val genS = (System.nanoTime() - g0) / 1e9
      if (ctx.trace) {
        ctx.put("bench.input_gen_s", genS, "s")
        ctx.put("sessions.cold_setup_s", setupS, "s")
      } else ctx.put("setup_s", setupS, "s")
      if (!genOnly) wl.run(ctx)
      if (ctx.trace) ctx.put("jvm.heap_live_mb", Heap.settledMb(), "MB")
      wl.release(ctx)
      if (ctx.trace) Trace.write(ctx.workDir.getParent.resolve(s"spans-${ctx.workload}.jsonl"))
      if (!genOnly) {
        val ms = ctx.metrics.map { case (k, (v, u)) =>
          s""""$k": {"value": $v, "unit": "$u"}"""
        }.mkString(", ")
        val correct = ctx.failed == 0 && ctx.attempted > 0
        println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$ms}}""")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      try if (ctx.spark != null) ctx.spark.stop() catch { case _: Throwable => () }
    }
    System.out.flush()
    sys.exit(code)
  }

  /** Delete a directory tree if it exists. */
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
}
