package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper shared by the harnesses, Pipeline and
  * GraftServer. */
class JsonSpec extends AnyFunSuite {

  test("str escapes quotes, backslashes and every control char") {
    assert(Json.str("q\"1\\\n\t\u0001") ===
      "\"q\\\"1\\\\\\n\\t\\u0001\"")
    assert(Json.str("plain_q01") === "\"plain_q01\"")
  }
}
