package graft

import org.apache.spark.sql.functions.{col, xxhash64}

import graft.analytics.Memo
import graft.queries.Catalog

/** Spark jobs per query for the nine queries of the `catalog_core`
  * benchmark workload, at sf0.001, and per XML feed route on the four
  * FIXTURES.md dialect files, checked against a committed budget.
  * PlanShapeSpec pins plan shapes, not how many times a plan runs; a
  * recompute, an extra `count()` or a schema-inference read adds jobs
  * and fails here, naming every job's call site.
  *
  * Each query runs twice after `Memo.invalidateAll()`: the cold run
  * infers each table's schema once and builds the memos it needs, the
  * warm run hits them. Both runs consume the result as the benchmark
  * does: one hash over every output column, collected. A change that
  * lowers a count lowers its budget in the same diff. */
class JobBudgetSpec extends SparkTestBase {

  /** query -> (cold jobs, warm jobs) */
  private val budget = Map(
    "q01_multivalue_dedup" -> (5, 4),
    "q02_category_path" -> (9, 6),
    "q03_prune_stats" -> (3, 2),
    "q06_sanitize_name" -> (4, 3),
    "q07_clean_description" -> (4, 3),
    "q30_tfidf_classify" -> (19, 18),
    "q273_quantile_normalize" -> (15, 14),
    "q90_minhash_estimate" -> (18, 3),
    "q19_minhash_lsh" -> (17, 3))

  /** fixture -> (target node, jobs of one XML -> CSV conversion) */
  private val feedBudget = Map(
    "yml_offer.xml" -> ("auto", 8),
    "product.xml" -> ("product", 6),
    "russian_1c.xml" -> ("auto", 4),
    "service.xml" -> ("auto", 4))

  private def fixture(f: String): String =
    getClass.getResource(s"/fixtures/$f").getPath

  private def consume(q: String): Unit = {
    val df = Catalog.byName(q).run(spark, sf0001)
    df.select(xxhash64(df.columns.map(c => col("`" + c + "`")).toIndexedSeq: _*))
      .collect()
  }

  test("catalog_core queries run within their cold and warm job budgets") {
    val over = budget.toSeq.sortBy(_._1).flatMap { case (q, (cold, warm)) =>
      Memo.invalidateAll()
      val (_, c) = jobsOf(consume(q))
      val (_, w) = jobsOf(consume(q))
      Seq(("cold", c, cold), ("warm", w, warm)).collect {
        case (run, sites, want) if sites.size != want =>
          s"$q $run: ${sites.size} jobs, budget $want:\n    " +
            sites.mkString("\n    ")
      }
    }
    if (over.nonEmpty) fail("job counts off budget (a count below " +
      "budget lowers the budget):\n  " + over.mkString("\n  "))
  }

  test("XML feed routes convert to CSV within their job budgets") {
    val out = java.nio.file.Files.createTempDirectory("graft_jobbudget")
    val over = feedBudget.toSeq.sortBy(_._1).flatMap {
      case (f, (node, want)) =>
        val in = fixture(f)
        val (csv, sites) = jobsOf(
          Pipeline.processXmlFileToCsv(spark, in, out.toString, node))
        java.nio.file.Files.delete(csv)
        if (sites.size == want) Nil
        else Seq(s"$f ($node): ${sites.size} jobs, budget $want:\n    " +
          sites.mkString("\n    "))
    }
    java.nio.file.Files.delete(out)
    if (over.nonEmpty) fail("job counts off budget (a count below " +
      "budget lowers the budget):\n  " + over.mkString("\n  "))
  }

  test("CSV -> XML and XML -> JSON convert within their job budgets") {
    val out = java.nio.file.Files.createTempDirectory("graft_jobbudget").toString
    // (route, jobs of one conversion, the conversion) on FIXTURES.md-shaped
    // inputs: the golden YML export as the round-trip CSV, service.xml
    val routes = Seq[(String, Int, () => java.nio.file.Path)](
      ("csv_to_xml", 10, () => Pipeline.processCsvToXml(spark,
        fixture("yml_offer_expected.csv"), out, date = "2025-01-01 00:00")),
      ("xml_to_json", 2, () =>
        Pipeline.processXmlToJson(spark, fixture("service.xml"), out, "service")))
    val over = routes.flatMap { case (r, want, convert) =>
      val (file, sites) = jobsOf(convert())
      java.nio.file.Files.delete(file)
      if (sites.size == want) Nil
      else Seq(s"$r: ${sites.size} jobs, budget $want:\n    " +
        sites.mkString("\n    "))
    }
    java.nio.file.Files.delete(java.nio.file.Paths.get(out))
    if (over.nonEmpty) fail("job counts off budget (a count below " +
      "budget lowers the budget):\n  " + over.mkString("\n  "))
  }
}
