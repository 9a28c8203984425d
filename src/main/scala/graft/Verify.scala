package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.sources.FileTree
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: comma-separated exact names; unset = all
    // (the driver sets nothing, so the gate always runs the full catalog)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // scrub any stale dump from a prior run: a leftover parquet dir
        // would make the driver compare old results and report a FALSE
        // PASS for a now-broken query
        // the scrub itself must not abort the loop: a still-flushing
        // failed task can recreate files between walk and delete
        try FileTree.delete(Paths.get(s"$outDir/$name"))
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name stale-scrub failed: ${e2.getMessage}")
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
