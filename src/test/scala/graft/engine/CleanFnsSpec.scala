package graft.engine

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Edge cases lifted from the reference's own functions (file:line cites in
  * CleanFns scaladoc). */
class CleanFnsSpec extends SparkTestBase {

  // ----- F2 sanitize_name (main.py:79-85) -----
  test("F2 keeps the reference allowlist incl «»№°") {
    assert(evalStr(CleanFns.sanitizeName(lit("Люстра «Пример» №5, 30°C")))
      === "Люстра «Пример» №5, 30°C")
  }
  test("F2 strips disallowed symbols and collapses whitespace") {
    assert(evalStr(CleanFns.sanitizeName(lit("{Chair}™   ©  x")))
      === "Chair x")
  }
  test("F2 trims leading space inside parens (trailing kept: the reference's " +
       "greedy [^)]+ capture eats it, main.py:84)") {
    assert(evalStr(CleanFns.sanitizeName(lit("name ( padded )")))
      === "name (padded )")
  }
  test("F2 null -> empty string") {
    assert(evalStr(CleanFns.sanitizeName(lit(null).cast("string"))) === "")
  }

  // ----- F3 dedup delimited (main.py:87-95) -----
  test("F3 dedups keeping first occurrence, drops empties, trims") {
    assert(evalStr(CleanFns.dedupDelimited(lit("b/// a ///b/// ///a")))
      === "b///a")
  }
  test("F3 is idempotent") {
    val once  = evalStr(CleanFns.dedupDelimited(lit("x///y///x///z///y")))
    val twice = evalStr(CleanFns.dedupDelimited(lit(once)))
    assert(once === twice && once === "x///y///z")
  }

  // ----- F1 clean_description (main.py:57-76) -----
  test("F1 keeps p/br, unwraps other tags, wraps bare text") {
    assert(evalStr(CleanFns.cleanDescription(lit("<div><b>Bold</b> text<br>line</div>")))
      === "<p>Bold text<br>line</p>")
  }
  test("F1 preserves existing leading <p>") {
    assert(evalStr(CleanFns.cleanDescription(lit("<p>already</p>")))
      === "<p>already</p>")
  }
  test("F1 input that cleans to empty yields empty (not <p></p>)") {
    assert(evalStr(CleanFns.cleanDescription(lit("<div></div>"))) === "")
  }

  // ----- F4/F5/F7 -----
  test("F4 decimal comma") {
    assert(evalStr(CleanFns.decimalComma(lit("4.5"))) === "4,5")
  }
  test("F5 strips ? and trims") {
    assert(evalStr(CleanFns.stripQuestion(lit("52? см"))) === "52 см")
  }
  test("F5 size-key heuristic matches Размер and size") {
    assert(evalBool(CleanFns.sizeKeyish(lit("Размер"))))
    assert(evalBool(CleanFns.sizeKeyish(lit("shoeSize"))))
    assert(!evalBool(CleanFns.sizeKeyish(lit("цвет"))))
  }
  test("F7 re-delimits ', ' to ///") {
    assert(evalStr(CleanFns.redelimit(lit("a, b, c"))) === "a///b///c")
  }

  // ----- F6/F8 -----
  test("F6 scrubs newlines to spaces") {
    assert(evalStr(CleanFns.scrubCell(lit("a\nb\rc"))) === "a b c")
  }
  test("F8 strips control chars and BOM") {
    assert(evalStr(CleanFns.stripControlChars(lit("﻿ab"))) === "ab")
  }

  // ----- F11 image-URL predicate (main.py:201-210) -----
  test("F11 accepts extensions, img/ paths, http") {
    assert(evalBool(CleanFns.isImageUrl(lit("x/photo.JPG"))))
    assert(evalBool(CleanFns.isImageUrl(lit("cdn/img/123"))))
    assert(evalBool(CleanFns.isImageUrl(lit("http://x/y"))))
    assert(!evalBool(CleanFns.isImageUrl(lit("ftp://nope.txt"))))
  }

  // ----- F13/F14 -----
  test("F13 md5 short id: upper 8 hex chars") {
    val v = evalStr(CleanFns.shortMd5(lit("1.2.3.4")))
    assert(v.length === 8 && v === v.toUpperCase)
  }
  test("F14 numeric-string matches reference isdigit-after-one-dot") {
    assert(evalBool(CleanFns.isNumericString(lit("5"))))
    assert(evalBool(CleanFns.isNumericString(lit("5.5"))))
    assert(evalBool(CleanFns.isNumericString(lit(".5"))))
    assert(evalBool(CleanFns.isNumericString(lit("5."))))
    assert(!evalBool(CleanFns.isNumericString(lit("5.5.5"))))
    assert(!evalBool(CleanFns.isNumericString(lit("a5"))))
    assert(!evalBool(CleanFns.isNumericString(lit("."))))
  }

  // ----- P8 -----
  test("P8 availability defaulting") {
    assert(evalStr(CleanFns.defaultAvailable(Some(lit(null).cast("string")))) === "1")
    assert(evalStr(CleanFns.defaultAvailable(Some(lit("0")))) === "0")
    assert(evalStr(CleanFns.defaultAvailable(None)) === "1")
  }
}

/** F1 divergence corpus (VERDICT r4 #8): differential test of the regex
  * `cleanDescription` against a minimal html5lib-LIKE tokenizer (quoted
  * attributes, comments, per-top-level-text-run `<p>` wrapping — the tree
  * semantics of reference main.py:57-76). Agreement is asserted on the
  * well-formed corpus; the malformed corpus pins the KNOWN divergence
  * classes as golden behavior (documented in COVERAGE.md §F1, not fixed:
  * the regex form is what the DuckDB oracle can reproduce).
  */
class CleanDescriptionDivergenceSpec extends SparkTestBase {

  /** Tokenizer-based reference: unwrap all tags but p/br, drop comments,
    * wrap each contiguous top-level bare-text run in its own <p>. */
  private def referenceClean(input: String): String = {
    if (input == null || input.trim.isEmpty) return ""
    sealed trait Tok
    case class Text(s: String) extends Tok
    case class Tag(norm: String) extends Tok // "<p>", "</p>", "<br>" or "" (dropped)
    val toks = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    val n = input.length
    val text = new StringBuilder
    def flushText(): Unit =
      if (text.nonEmpty) { toks += Text(text.toString); text.clear() }
    while (i < n) {
      val c = input.charAt(i)
      if (c == '<') {
        if (input.startsWith("<!--", i)) {
          val e = input.indexOf("-->", i + 4)
          flushText()
          i = if (e < 0) n else e + 3 // comment dropped entirely
        } else {
          // scan to the tag end honoring quoted attribute values
          var j = i + 1; var quote = 0.toChar
          var end = -1
          while (j < n && end < 0) {
            val cj = input.charAt(j)
            if (quote != 0) { if (cj == quote) quote = 0 }
            else if (cj == '"' || cj == '\'') quote = cj
            else if (cj == '>') end = j
            j += 1
          }
          if (end < 0) { text.append(input.substring(i)); i = n }
          else {
            val raw = input.substring(i + 1, end).trim
            val closing = raw.startsWith("/")
            val name = raw.stripPrefix("/").takeWhile(ch =>
              ch.isLetterOrDigit).toLowerCase
            flushText()
            val norm =
              if (name == "br" && !closing) "<br>"
              else if (name == "p") (if (closing) "</p>" else "<p>")
              else "" // unwrapped
            if (norm.nonEmpty) toks += Tag(norm)
            i = end + 1
          }
        }
      } else { text.append(c); i += 1 }
    }
    flushText()
    // wrap top-level (outside any <p>) non-blank text runs in their own <p>
    val out = new StringBuilder
    var pDepth = 0
    toks.foreach {
      case Tag("<p>")  => pDepth += 1; out.append("<p>")
      case Tag("</p>") => pDepth = math.max(0, pDepth - 1); out.append("</p>")
      case Tag(t)      => out.append(t)
      case Text(s) =>
        if (pDepth > 0) out.append(s)
        else if (s.trim.nonEmpty) out.append("<p>").append(s.trim).append("</p>")
        else out.append(s)
    }
    out.toString.trim
  }

  private def regexClean(inputs: Seq[String]): Seq[String] = {
    import spark.implicits._
    inputs.toDF("s").select(CleanFns.cleanDescription(col("s")).as("c"))
      .collect().map(_.getString(0)).toSeq
  }

  test("well-formed corpus: regex form == tree-semantics reference") {
    val corpus = Seq(
      "hello world",
      "<p>kept</p>",
      "<div>hello</div>",
      "<p>a<br>b</p>",
      "<P>upper</P>",
      "<span style=\"x\">styled</span>",
      "<!-- note -->text",
      "  <em>trimmed</em>  ")
    val got = regexClean(corpus)
    corpus.zip(got).foreach { case (in, g) =>
      assert(g === referenceClean(in), s"input: $in")
    }
  }

  test("malformed corpus: known divergence classes, pinned as golden " +
       "(documented in COVERAGE.md, intentionally not fixed)") {
    // 1. text BEFORE a <p>: tree form wraps each top-level run in its own
    //    <p>; regex form wraps the whole string once
    assert(regexClean(Seq("lead<p>b</p>")).head === "<p>lead<p>b</p></p>")
    assert(referenceClean("lead<p>b</p>") === "<p>lead</p><p>b</p>")
    // 2. text AFTER a </p>: tree form wraps the tail; regex form leaves it
    assert(regexClean(Seq("<p>a</p>tail")).head === "<p>a</p>tail")
    assert(referenceClean("<p>a</p>tail") === "<p>a</p><p>tail</p>")
    // 3. '>' inside a comment: regex strips to the FIRST '>', leaving
    //    residue; tree form drops the whole comment
    assert(regexClean(Seq("<!-- a > b -->x")).head === "<p>b -->x</p>")
    assert(referenceClean("<!-- a > b -->x") === "<p>x</p>")
    // 4. '>' inside a quoted attribute: regex cuts the tag at the quoted
    //    '>'; tree form parses the attribute
    assert(regexClean(Seq("<img alt=\"a>b\">x")).head === "<p>b\">x</p>")
    assert(referenceClean("<img alt=\"a>b\">x") === "<p>x</p>")
    // 5. unterminated tag: regex leaves the fragment (no '>' to anchor);
    //    tree form treats it as trailing text
    assert(regexClean(Seq("ok <b")).head === "<p>ok <b</p>")
    // 6. inline tags SPLIT text into separate nodes: the tree form wraps
    //    each fragment in its own <p> (BeautifulSoup does not merge
    //    adjacent strings after unwrap); the regex form merges them into
    //    one — the friendlier output, kept deliberately
    assert(regexClean(Seq("<b>x</b> and <i>y</i>")).head === "<p>x and y</p>")
    assert(referenceClean("<b>x</b> and <i>y</i>") ===
      "<p>x</p><p>and</p><p>y</p>")
    assert(regexClean(Seq("<ul><li>a</li><li>b</li></ul>")).head === "<p>ab</p>")
    assert(referenceClean("<ul><li>a</li><li>b</li></ul>") ===
      "<p>a</p><p>b</p>")
    // 7. tag-only input: regex wraps the lone <br> in a <p>; the tree form
    //    leaves the bare element at the top level
    assert(regexClean(Seq("<br/>")).head === "<p><br></p>")
    assert(referenceClean("<br/>") === "<br>")
  }
}
