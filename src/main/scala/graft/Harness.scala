package graft

import org.apache.spark.sql.SparkSession

/** Plumbing shared by the local harnesses (Bench, ScaleBench, Verify). */
private[graft] object Harness {

  /** Parse a `SPARK_GRAFT_CONF`-style spec: comma-separated `key=value`
    * entries (value may itself contain `=`). A blank spec sets nothing;
    * a malformed entry fails naming the entry, never a bare MatchError. */
  def parseConf(spec: String): Seq[(String, String)] =
    if (spec.trim.isEmpty) Nil
    else spec.split(",", -1).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' in '$spec' is not key=value")
      }
    }

  /** Branch A/B passthrough: `SPARK_GRAFT_CONF="k=v,k=v"` sets session
    * confs before any query runs — sbt forks the run JVM, so -D system
    * properties on the sbt command line never arrive. Profiling-only;
    * with the env unset every harness measures defaults. */
  def applyConf(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })

  /** Several operators Par.materialize/persist() intermediates; those
    * blocks are only freed when the RDD is GC'd, so over a catalog run
    * executor storage and GC pressure accumulate and later queries pay
    * for earlier ones' garbage. Harnesses drop every persisted block
    * after each measured query, outside the timed section. */
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }

  /** Size-gate decisions since the last `Par.resetGateStats`, as a JSON
    * object over the gates that decided, e.g.
    * `{"cumsum":{"distributed":1,"local":2}}`. */
  def gatesJson(): String = graft.analytics.Par.gateStats().toSeq
    .filter(_._2.values.sum > 0).sortBy(_._1)
    .map { case (g, m) =>
      Json.str(g) + m.toSeq.sortBy(_._1)
        .map { case (b, n) => Json.str(b) + ":" + n }.mkString(":{", ",", "}")
    }.mkString("{", ",", "}")
}
