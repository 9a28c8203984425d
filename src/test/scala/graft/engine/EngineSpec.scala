package graft.engine

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class MultiValueSpec extends SparkTestBase {
  import org.apache.spark.sql.Row

  test("A1 collectDistinctSorted dedups and sorts") {
    import spark.implicits._
    val df = Seq((1, "b"), (1, "a"), (1, "b"), (2, "z")).toDF("id", "v")
    val out = df.groupBy("id")
      .agg(MultiValue.collectDistinctSorted($"v").as("vs"))
      .orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("a///b", "z"))
  }

  test("A4/A5 stock flag and price resolution") {
    import spark.implicits._
    val stock = Seq(("o1", 0.0), ("o1", 5.0), ("o2", 0.0)).toDF("id", "qty")
    val flags = stock.groupBy("id")
      .agg(MultiValue.availableFlag(sum($"qty")).as("f"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(flags === Seq("1", "0"))

    val prices = Seq(("p1", "Цена", 1000.0), ("p1", "ЦенаСкидка", 800.0),
                     ("p2", "Цена", 500.0), ("p2", "ЦенаСкидка", 0.0))
      .toDF("id", "name", "value")
    val resolved = prices.groupBy("id")
      .agg(MultiValue.basePrice($"name", $"value", "Цена").as("b"),
           MultiValue.discountPrice($"name", $"value", "ЦенаСкидка").as("d"))
      .select($"id", MultiValue.resolvedPrice($"b", $"d").as("price"),
              MultiValue.resolvedOldPrice($"b", $"d").as("oldprice"))
      .orderBy("id").collect()
    assert(resolved(0).getDouble(1) === 800.0 && resolved(0).getDouble(2) === 1000.0)
    assert(resolved(1).getDouble(1) === 500.0 && resolved(1).isNullAt(2))
  }
}

class PruneSpec extends SparkTestBase {

  test("P3 never drops a column containing a real value; drops empty/Undefined-only") {
    import spark.implicits._
    val df = Seq(("x", "", "Undefined", "keep"), ("y", " ", "Undefined", ""))
      .toDF("full", "blank", "undef", "mixed")
    val out = Prune.prune(df)
    assert(out.columns.toSet === Set("full", "mixed"))
  }

  test("P4 drops numeric-named columns, P2 important override wins") {
    import spark.implicits._
    val df = Seq(("a", "b", "c")).toDF("name", "123", "4.5")
    assert(Prune.prune(df).columns.toSeq === Seq("name"))
    assert(Prune.prune(df, important = Set("123")).columns.toSet === Set("name", "123"))
  }

  test("P1 static exclusion") {
    import spark.implicits._
    val df = Seq(("a", "b")).toDF("keep", "param")
    assert(Prune.prune(df, exclude = Seq("param")).columns.toSeq === Seq("keep"))
  }

  test("P3 on an empty DataFrame drops all columns without NPE") {
    import spark.implicits._
    val df = Seq(("a", "b")).toDF("c1", "c2").filter(lit(false))
    assert(Prune.prune(df).columns.isEmpty)
  }

  test("T1 sorted output columns") {
    import spark.implicits._
    val df = Seq((1, 2, 3)).toDF("b", "a", "c")
    assert(Prune.sortedColumns(df).columns.toSeq === Seq("a", "b", "c"))
  }
}

class CategoryPathSpec extends SparkTestBase {

  test("J2 materializes root///...///leaf paths") {
    import spark.implicits._
    val edges = Seq(
      ("1", null, "Lighting"),
      ("2", "1", "Chandeliers"),
      ("3", "2", "Crystal")).toDF("id", "parentId", "name")
    val paths = CategoryPath.resolvePaths(edges)
      .orderBy("id").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(paths("1") === "Lighting")
    assert(paths("2") === "Lighting///Chandeliers")
    assert(paths("3") === "Lighting///Chandeliers///Crystal")
  }

  test("J2 cycle guard terminates and keeps partial path (reference visited set main.py:1495)") {
    import spark.implicits._
    val edges = Seq(("a", "b", "A"), ("b", "a", "B")).toDF("id", "parentId", "name")
    val paths = CategoryPath.resolvePaths(edges)
      .orderBy("id").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(paths("a") === "B///A")
    assert(paths("b") === "A///B")
  }

  test("J1 attach defaults missing keys to Undefined (main.py:182-184)") {
    import spark.implicits._
    val paths = Seq(("1", "Root")).toDF("id", "category_path")
    val facts = Seq(("f1", "1"), ("f2", "999")).toDF("fact", "cat")
    val out = CategoryPath.attach(facts, "cat", paths)
      .orderBy("fact").collect().map(_.getString(2)).toSeq
    assert(out === Seq("Root", "Undefined"))
  }
}

class CategoryPathStressSpec extends SparkTestBase {

  test("J2 deep/cyclic hierarchies: local walk == iterative fixpoint, " +
       "cycles terminate via the visited set, over-depth chains are cut " +
       "at maxDepth (reference visited-set semantics, main.py:1495)") {
    import spark.implicits._
    // chain c0 -> c1 -> ... -> c29 (deeper than maxDepth=20), a 3-cycle
    // x -> y -> z -> x, and an orphan whose parent id doesn't exist
    val chain = (0 until 30).map(i =>
      (s"c$i", if (i == 29) null else s"c${i + 1}", s"N$i"))
    val cycle = Seq(("x", "y", "X"), ("y", "z", "Y"), ("z", "x", "Z"))
    val orphan = Seq(("o", "missing", "O"))
    val edges = (chain ++ cycle ++ orphan).toDF("id", "parentId", "name")

    def segs() = CategoryPath.resolveSegs(edges, maxDepth = 20)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val (loc, gD) = gatesOf(segs())
    assert(gD === Map("graph" -> (1L, 0L)), "default gate: local walk")
    val (iter, gX) =
      gatesOf(withConf("spark.graft.gate.graph" -> "0")(segs()))
    assert(gX === Map("graph" -> (0L, 1L)), "gate 0: iterative fixpoint")
    assert(loc === iter) // both strategies, identical semantics

    // cycle: walk from x visits y, z, then stops at the seen x
    assert(loc("x") === Seq("Z", "Y", "X"))
    assert(loc("y") === Seq("X", "Z", "Y"))
    // over-depth: self + exactly maxDepth ancestors, root-first
    assert(loc("c0") === (20 to 0 by -1).map(i => s"N$i"))
    // missing parent stops the walk without error
    assert(loc("o") === Seq("O"))
  }

  test("J2 empty dimension: size 0 takes the iterative branch, which " +
       "returns the local walk's columns and types and no rows") {
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val edges =
      Seq.empty[(String, String, String)].toDF("id", "parentId", "name")
    val (out, g) = gatesOf(CategoryPath.resolveSegs(edges))
    assert(g === Map("graph" -> (0L, 1L)))
    assert(out.schema.map(f => f.name -> f.dataType) ===
      Seq("id" -> StringType, "segs" -> ArrayType(StringType)))
    assert(out.isEmpty)
  }
}

class FlattenCapSpec extends SparkTestBase {

  test("param-name discovery fails loudly past the driver-side cap " +
       "instead of collecting an unbounded name set") {
    val df = spark.range(1).select(
      lit("1").as("id"),
      transform(sequence(lit(0), lit(Flatten.MaxDiscoveredNames)),
        i => struct(
          concat(lit("p"), lpad(i.cast("string"), 6, "0")).as("_name"),
          lit("v").as("_VALUE"))).as("param"))
    val ex = intercept[IllegalArgumentException] {
      Flatten.flattenOffers(df, graft.sources.XmlSource.Yml).columns
    }
    assert(ex.getMessage.contains("name discovery exceeded"))
  }

  test("the cap counts every pivot container of one flatten: product " +
       "fabric and feature names, each set under it, fail together") {
    val half = Flatten.MaxDiscoveredNames / 2 + 1
    def feats(p: String) = struct(transform(sequence(lit(1), lit(half)),
      i => struct(concat(lit(p), i.cast("string")).as("_name"),
        lit("v").as("_VALUE"))).as("feature"))
    val df = spark.range(1).select(lit("1").as("_id"),
      feats("f").as("fabric"), feats("g").as("features"))
    val ex = intercept[IllegalArgumentException] {
      Flatten.flattenOffers(df, graft.sources.XmlSource.Product).columns
    }
    assert(ex.getMessage.contains("name discovery exceeded"))
  }

  test("param-name discovery at exactly the cap still pivots") {
    val n = 50 // representative bounded feed; the cap itself is 10k
    val df = spark.range(1).select(
      lit("1").as("id"),
      transform(sequence(lit(1), lit(n)),
        i => struct(
          concat(lit("p"), lpad(i.cast("string"), 6, "0")).as("_name"),
          lit("v").as("_VALUE"))).as("param"))
    val cols = Flatten.flattenOffers(df, graft.sources.XmlSource.Yml).columns
    assert((1 to n).forall(i => cols.contains(f"p$i%06d")))
  }
}
