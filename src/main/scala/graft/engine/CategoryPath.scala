package graft.engine

import graft.analytics.Par
import graft.analytics.Par.Mat

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** J1/J2 — category dimension lookup + hierarchical path materialization
  * (reference `build_category_path` main.py:1487-1507; maps built
  * main.py:1477-1485).
  *
  * The reference walks a parent-pointer hash map per row on the driver.
  * Here `id -> path` is materialized ONCE on the (small) dimension — by the
  * same driver walk, or past the `graph` gate by an iterative self-join to
  * fixpoint — and [[attach]] broadcast-joins the result to the fact table,
  * so path resolution adds NO shuffle to the fact table at any scale.
  */
object CategoryPath {

  /** Resolve materialized paths over a parent-pointer forest.
    *
    * @param edges   (id: string, parentId: string nullable, name: string)
    * @param maxDepth cycle guard — mirrors the reference's `visited` set
    *                 (main.py:1495); hierarchies deeper than this are cut.
    * @return (id, category_path) with path = "Root///...///Self"
    */
  def resolvePaths(edges: DataFrame, maxDepth: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    resolveSegs(edges, maxDepth)
      .select($"id", array_join($"segs", "///").as("category_path"))
  }

  /** Like [[resolvePaths]] but returns the raw root-first segment array, for
    * callers that post-filter segments (the reference's YML walk skips
    * 'Undefined'-named categories, main.py:1498-1501). One row per id; a
    * duplicate id takes its last definition in input order, like the
    * reference's dicts, and the last segment is always the id's own name.
    *
    * Two physical strategies, same semantics, chosen by the `graph` gate
    * ([[Par.gateRows]]) over the dimension's rows:
    *  - dimension fits in driver memory (the common case — any path set
    *    that will be broadcast-joined to facts must fit in memory anyway):
    *    the gate's one bounded collect (`limit(threshold + 1)`) hands the
    *    parent-pointer rows to a driver walk, exactly the reference's
    *    two-hash-map walk (main.py:1477-1507). No count runs first, and a
    *    local-relation dimension (the feed's categories) collects with no
    *    job. The result is a local relation, so every later action on it
    *    reads driver memory, not the dimension's source.
    *  - larger hierarchies: iterative broadcast self-join to fixpoint
    *    (bounded by maxDepth), never collecting the dimension.
    */
  def resolveSegs(edges: DataFrame, maxDepth: Int = 20): DataFrame = {
    // the walk keys on string ids under their own name: a second column
    // named `id` breaks Spark 4.1's limit-over-union plan validation
    val walk = edges.select(col("id").cast("string").as("key"),
      col("parentId").cast("string"), col("name").cast("string"), col("id"))
    Par.gateRows(edges.sparkSession, "graph", walk) match {
      case Some(rows) => resolveSegsLocal(edges, rows, maxDepth)
      case None => resolveSegsIterative(edges, maxDepth)
    }
  }

  /** Driver-side walk over the gate's rows (key, parentId, name, id).
    * Semantics identical to [[resolveSegsIterative]]: root-first segments,
    * cycle guard via visited set, missing parents stop the walk. */
  private def resolveSegsLocal(edges: DataFrame, rows: Array[Row],
                               maxDepth: Int): DataFrame = {
    val parentOf = new scala.collection.mutable.HashMap[String, String]()
    val nameOf   = new scala.collection.mutable.HashMap[String, String]()
    rows.foreach { r =>
      val id = r.getString(0)
      parentOf(id) = r.getString(1)
      nameOf(id) = r.getString(2)
    }
    // one row per id, at its first position; the maps hold its last
    // definition
    val out = rows.toSeq.distinctBy(_.getString(0)).map { r =>
      val id   = r.getString(0)
      val segs = scala.collection.mutable.ListBuffer(nameOf(id))
      val seen = scala.collection.mutable.HashSet(id)
      var cur  = parentOf(id)
      var iter = 0
      while (cur != null && !seen.contains(cur) && nameOf.contains(cur) &&
             iter < maxDepth) {
        nameOf(cur) +=: segs
        seen += cur
        cur = parentOf(cur)
        iter += 1
      }
      Row(r.get(3), segs.toSeq)
    }
    // the iterative branch's schema: the input's id, a never-null path
    // whose segments come out of a left join
    edges.sparkSession.createDataFrame(out.asJava, StructType(Seq(
      edges.schema("id"),
      StructField("segs", ArrayType(StringType, containsNull = true),
        nullable = false))))
  }

  /** Iterative broadcast self-join to fixpoint — the no-collect path for
    * hierarchies too large to hold on the driver. */
  private def resolveSegsIterative(all: DataFrame,
                                   maxDepth: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    // each id's last definition in input order, the one the local walk's
    // maps keep
    val edges = all
      .withColumn("__pos", monotonically_increasing_id())
      .groupBy($"id")
      .agg(max_by(struct($"parentId", $"name"), $"__pos").as("__def"))
      .select($"id", $"__def.parentId".as("parentId"),
              $"__def.name".as("name"))
      .materialized()

    // state: (id, cur = next ancestor to visit, segs = path so far root-first,
    //         seen = visited ids for cycle guard)
    var state = edges
      .select($"id", $"parentId".as("cur"), array($"name").as("segs"),
              array($"id").as("seen"))
    val dim = edges.select($"id".as("e_id"), $"parentId".as("e_parent"),
                           $"name".as("e_name"))

    var iter    = 0
    var anyOpen = true
    while (anyOpen && iter < maxDepth) {
      val joined = state
        .join(broadcast(dim),
              state("cur") === dim("e_id") && !array_contains($"seen", $"cur"),
              "left")
      state = joined.select(
        $"id",
        when($"e_id".isNotNull, $"e_parent").otherwise(lit(null)).as("cur"),
        when($"e_id".isNotNull, concat(array($"e_name"), $"segs"))
          .otherwise($"segs").as("segs"),
        when($"e_id".isNotNull, concat($"seen", array($"e_id")))
          .otherwise($"seen").as("seen"))
        .materialized() // dimension is small; truncate lineage
      anyOpen = state.filter($"cur".isNotNull).limit(1).count() > 0
      iter += 1
    }
    state.select($"id", $"segs")
  }

  /** J1: attach `category_path` (+`categoryId`) to a fact table via broadcast
    * join, defaulting to `'Undefined'` like the reference (main.py:182-184).
    */
  def attach(facts: DataFrame, factKey: String, paths: DataFrame): DataFrame = {
    val spark = facts.sparkSession
    import spark.implicits._
    // drop the PATHS side's id by Column reference — drop("id") by name
    // would also remove a fact column named id
    val p = broadcast(paths)
    facts
      .join(p, facts(factKey) === p("id"), "left")
      .drop(p("id"))
      .withColumn("category_path", coalesce($"category_path", lit("Undefined")))
  }
}
