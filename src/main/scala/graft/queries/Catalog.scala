package graft.queries

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

import graft.analytics.ValueMemo

/** One registered operator-query: the Spark implementation plus (when
  * SQL-expressible) the DuckDB oracle the driver hash-compares against.
  * Column names and row order are part of the contract — every query ends
  * with an explicit ORDER BY on its key in BOTH forms, and every computed
  * column is aliased identically in both.
  */
final case class Q(
    name: String,
    doc: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object Tables {
  import org.apache.spark.sql.functions._

  /** The schema this session inferred for each table version. Keyed on
    * the session, the qualified path and the path's recursive file
    * listing (names, lengths, mtimes): a rewritten table lists
    * differently and is inferred again, and `Memo.invalidateAll` drops
    * every entry like any other memo's. */
  private[graft] val schemas = new ValueMemo[StructType]("parquet_schema")

  /** Load a testdata table, normalizing `events.ts` to a session-TZ
    * (UTC) microsecond TIMESTAMP whichever physical form the driver wrote:
    *  - TIMESTAMP(NANOS) + `nanosAsLong=true` → LONG nanoseconds,
    *    converted with integer DIV (double division would lose precision
    *    above 2^53 ns);
    *  - timestamp[us] without UTC adjustment → TIMESTAMP_NTZ, cast to
    *    TIMESTAMP (the UTC session TZ makes the wall clock the instant).
    * DuckDB oracles read either form natively as a naive timestamp, and
    * both engines agree at `date_trunc`/`epoch_us` granularity.
    *
    * One inference per table version: the first read of a version in a
    * session runs Spark's footer-inference job; every later read passes
    * the schema it learned and runs no job until its consumer's action. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val raw = new HPath(path)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(raw)
    val root = qualified.toString
    val files = fs.listFiles(qualified, true)
    val listing = scala.collection.mutable.ArrayBuffer.empty[String]
    while (files.hasNext) {
      val f = files.next()
      listing += s"${f.getPath.toString.stripPrefix(root)}|${f.getLen}|" +
        f.getModificationTime
    }
    schemas.getOrCompute(spark, (root +: listing.sorted).mkString("\n")) {
      spark.read.parquet(path).schema
    }
  }
}

object Catalog {
  def all: Seq[Q] = {
    val qs = CoreQueries.all ++ AnalyticsQueries.all ++ ConverterQueries.all ++
      MiscQueries.all
    // a duplicate name would silently DROP a query from the driver gate
    // (SparkEntry builds a Map keyed by name) — fail loudly instead
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    qs
  }

  def byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
