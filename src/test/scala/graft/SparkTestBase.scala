package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.configured(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // a STARTUP conf (read when a reliable checkpoint registers for
      // cleanup): lets ParSpec assert that long-lived reliable-path
      // sessions actually reap checkpoint files on RDD GC
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The sf0.001 testdata tables (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"

  /** Evaluate a scalar Column expression over a one-row frame. */
  def evalStr(c: org.apache.spark.sql.Column): String = {
    val row = spark.range(1).select(c.as("v")).collect().head
    if (row.isNullAt(0)) null else row.getString(0)
  }
  def evalBool(c: org.apache.spark.sql.Column): Boolean =
    spark.range(1).select(c.as("v")).collect().head.getBoolean(0)

  /** Run `body` with session confs set, restoring each prior value (or
    * its absence) afterwards. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The call sites of the Spark jobs `body` runs on this thread, in
    * start order. A job of a SQL execution is named by the execution's
    * call site (`collect at CategoryPath.scala:68`), any other job by its
    * own (`parquet at Catalog.scala:67`, a schema inference). Jobs carry
    * the job group of the thread that started them, so other threads'
    * jobs are not counted. */
  def jobsOf[A](body: => A): (A, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = "jobs-of-" + java.util.UUID.randomUUID()
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId.toString, x.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(props.flatMap(p =>
              Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(executions.get(id)))
            .getOrElse(e.stageInfos.maxBy(_.stageId).name))
      }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, null) // no description: executions keep their call sites
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, sites.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** Size-gate decisions made by `body`: gate -> (local, distributed),
    * gates that decided only (see `Par.gate`). */
  def gatesOf[A](body: => A): (A, Map[String, (Long, Long)]) = {
    graft.analytics.Par.resetGateStats()
    val out = body
    (out, graft.analytics.Par.gateStats().collect {
      case (g, m) if m.values.sum > 0 => g -> (m("local"), m("distributed"))
    })
  }
}
