package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-job-group Spark work, aggregated by [[Listener]]. */
final class GroupAgg {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val waitsMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def taskS: Double = taskMs / 1000.0
}

/** A listener the benchmark installs in traced runs only. It keys every
  * job by the job group the calling thread set, and sums jobs, tasks,
  * task time, input/shuffle/spill bytes and the wait from job submit to
  * its first task launch. Jobs run without a group land in `""`. */
final class Listener extends SparkListener {
  import Trace.JobGroupKey
  private val groups = new ConcurrentHashMap[String, GroupAgg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()

  private def agg(g: String): GroupAgg = groups.computeIfAbsent(g, _ => new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse("")
    val a = agg(g)
    a.synchronized(a.jobs += 1)
    e.stageInfos.foreach { s => stageGroup.put(s.stageId, g); stageJob.put(s.stageId, e.jobId) }
    jobSubmit.put(e.jobId, e.time)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val job = stageJob.get(e.stageId)
    val submitted = jobSubmit.remove(job) // first task of the job only
    if (submitted != null) {
      val a = agg(stageGroup.getOrDefault(e.stageId, ""))
      a.synchronized(a.waitsMs += (e.taskInfo.launchTime - submitted).toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The aggregate of one group, after every queued event is processed. */
  def group(sc: SparkContext, g: String): GroupAgg = {
    org.apache.spark.BenchBridge.drain(sc)
    agg(g)
  }

  /** The sum over every group whose name starts with `prefix`. */
  def sum(sc: SparkContext, prefix: String): GroupAgg = {
    org.apache.spark.BenchBridge.drain(sc)
    val out = new GroupAgg
    groups.asScala.foreach { case (g, a) =>
      if (g.startsWith(prefix)) a.synchronized {
        out.jobs += a.jobs; out.tasks += a.tasks; out.taskMs += a.taskMs
        out.inputBytes += a.inputBytes; out.shuffleBytes += a.shuffleBytes
        out.spillBytes += a.spillBytes; out.waitsMs ++= a.waitsMs
      }
    }
    out
  }
}

/** Spans kept in memory and written out when the run ends: name, start,
  * end, the enclosing span on the same thread, and the op they belong
  * to. A span also names the Spark job group of the work inside it. */
object Trace {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Long, op: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Run `body` as span `name` of op `op`, with the job group set to
    * `name`; returns the result and the span's seconds. */
  def span[T](spark: SparkSession, name: String, op: Long)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val prevGroup = Option(sc.getLocalProperty(JobGroupKey))
    sc.setJobGroup(name, name)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try {
      val out = body
      val t1 = System.nanoTime()
      spans.add(Span(id, name, t0, t1, parent, op))
      (out, (t1 - t0) / 1e9)
    } finally {
      stack.set(stack.get.tail)
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Write every span as one JSON line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
