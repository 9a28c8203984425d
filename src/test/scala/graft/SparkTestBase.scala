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
