package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness plumbing shared by Bench, ScaleBench and Verify. */
class HarnessSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF spec parses k=v entries, trimming, with '=' " +
       "allowed in the value") {
    assert(Harness.parseConf(" a.b = 1 ,c=x=y") ===
      Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Harness.parseConf("") === Nil)
  }

  test("a malformed SPARK_GRAFT_CONF entry fails naming the entry, not " +
       "with a bare MatchError") {
    for ((spec, bad) <- Seq("foo" -> "'foo'", ",a=b" -> "''",
                            "a=b,=c" -> "'=c'")) {
      val e = intercept[IllegalArgumentException](Harness.parseConf(spec))
      assert(e.getMessage.contains(s"entry $bad"), e.getMessage)
    }
  }
}
