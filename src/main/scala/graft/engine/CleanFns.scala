package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar string-cleaning expression library (reference: Solrikk/MagicXML
  * `main.py`). Every function is a pure `Column` builder so Catalyst can
  * fold/push/codegen them — no row UDFs anywhere.
  *
  * Reference cites:
  *  - F1 clean_description   main.py:57-76
  *  - F2 sanitize_name       main.py:79-85
  *  - F3 remove_duplicates_from_delimited_string main.py:87-95
  *  - F4 decimal comma       main.py:190-192
  *  - F5 size '?' strip      main.py:195-196, 252-257, 1576-1577
  *  - F6 CSV cell scrub      main.py:1580
  *  - F7 re-delimit          main.py:1578-1579
  *  - F8 control-char strip  main.py:1434-1437
  *  - F11 image-URL predicate main.py:201-210
  *  - F13 md5 user id        main.py:1767-1768
  *  - F14 numeric-string predicate main.py:191, 260, 1564
  */
object CleanFns {

  val Sep = "///"

  /** F2 `sanitize_name` (main.py:79-85): delete chars outside the allowlist,
    * collapse whitespace, trim inside parens, strip. `(?U)` makes Java's
    * `\w`/`\s` match Unicode word chars like Python's `re` does (Cyrillic
    * names in the 1C dialect).
    */
  def sanitizeName(c: Column): Column =
    sanitizeImpl(c, unicodeClasses = true)

  /** F2 variant with ASCII-only `\w`/`\s` — byte-identical to the RE2
    * (DuckDB) oracle semantics on ASCII data; used by oracle-facing queries.
    */
  def sanitizeNameAscii(c: Column): Column =
    sanitizeImpl(c, unicodeClasses = false)

  private def sanitizeImpl(c: Column, unicodeClasses: Boolean): Column = {
    val u = if (unicodeClasses) "(?U)" else ""
    val allow =
      u + "[^\\w\\s\\-\\(\\)\\[\\]/\\\\,\\.;:!?'\"«»„“”`~@#$%^&*+=<>|№°]"
    val dropped   = regexp_replace(c, allow, "")
    val collapsed = regexp_replace(dropped, u + "\\s+", " ")
    val parens    = regexp_replace(collapsed, u + "\\(\\s*([^)]+)\\s*\\)", "($1)")
    when(c.isNull, lit("")).otherwise(trim(parens))
  }

  /** F3 `remove_duplicates_from_delimited_string` (main.py:87-95): split on
    * `///`, trim items, drop empties, first-occurrence-stable dedup, rejoin.
    * Routed through the native [[graft.functions.DedupDelimited]]
    * expression (one codegen'd static call; the composed
    * split/transform/filter/distinct/join chain is interpreted). */
  def dedupDelimited(c: Column, delimiter: String = Sep): Column =
    graft.functions.DedupDelimited.dedupDelimited(c, delimiter)

  /** The composed-expression form of F3, kept as the differential-test
    * reference for the native expression. */
  private[graft] def dedupDelimitedComposed(c: Column, delimiter: String = Sep): Column =
    array_join(
      array_distinct(
        filter(transform(split(c, java.util.regex.Pattern.quote(delimiter)), x => trim(x)),
               x => x =!= "")),
      delimiter)

  /** F1 `clean_description` (main.py:57-76), regex re-expression (documented
    * divergence from html5lib tree semantics, SURVEY.md §2.7 F1): keep only
    * `<p>`/`<br>` tags, strip every other tag, wrap bare text in `<p>...</p>`.
    * Sentinel dance because RE2 (the DuckDB oracle) has no lookahead.
    */
  def cleanDescription(c: Column): Column = {
    val br = "\u0001" // sentinel for <br>
    val po = "\u0002" // sentinel for <p>
    val pc = "\u0003" // sentinel for </p>
    val s1 = regexp_replace(c, "(?i)<br\\s*/?>", br)
    val s2 = regexp_replace(s1, "(?i)<p(\\s[^>]*)?>", po)
    val s3 = regexp_replace(s2, "(?i)</p>", pc)
    val s4 = regexp_replace(s3, "<[^>]*>", "") // unwrap everything else
    val r1 = regexp_replace(s4, br, "<br>")
    val r2 = regexp_replace(r1, po, "<p>")
    val r3 = regexp_replace(r2, pc, "</p>")
    val t  = trim(r3)
    // emptiness is judged on the CLEANED text (reference checks the parsed
    // result, main.py:62): '<div></div>' cleans to '' — not '<p></p>'.
    when(c.isNull || t === "", lit(""))
      .otherwise(when(t.startsWith("<p>"), t).otherwise(concat(lit("<p>"), t, lit("</p>"))))
  }

  /** F4 decimal comma (main.py:190-192): `.` -> `,` in the value of
    * numeric-named tags. */
  def decimalComma(c: Column): Column = translate(c, ".", ",")

  /** F5 size-'?' strip (main.py:195-196 / 252-257): remove `?`, trim. */
  def stripQuestion(c: Column): Column = trim(regexp_replace(c, "\\?", ""))

  /** F5 heuristic predicate (main.py:252-257): applies when the key is
    * size-ish. */
  def sizeKeyish(key: Column): Column =
    lower(key).contains("размер") || lower(key).contains("size")

  /** F6 CSV cell scrub (main.py:1580): newlines/CRs -> space (quote doubling
    * is the writer's job). */
  def scrubCell(c: Column): Column = regexp_replace(c, "[\\n\\r]", " ")

  /** F7 ROOM_TYPE/PURPOSE re-delimit (main.py:1578-1579): `", "` -> `///`. */
  def redelimit(c: Column): Column = regexp_replace(c, ", ", Sep)

  /** F8 control-char strip (main.py:1434-1437) + BOM strip (main.py:1404). */
  def stripControlChars(c: Column): Column =
    regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\ufeff]", "")

  /** F11 image-URL predicate (main.py:201-210): known extension, or contains
    * `img/`, or starts with http. */
  def isImageUrl(c: Column): Column = {
    val lc   = lower(c)
    val exts = Seq(".jpg", ".jpeg", ".png", ".gif", ".bmp", ".webp", ".svg")
    exts.map(lc.endsWith(_)).reduce(_ || _) ||
      lc.contains("img/") || c.startsWith("http")
  }

  /** F13 md5 user id (main.py:1767-1768): `md5(s)[:8].upper()`. */
  def shortMd5(c: Column): Column = upper(substring(md5(c), 1, 8))

  /** F14 numeric-string predicate (main.py:191): `s.replace('.','',1).isdigit()`
    * — accepts '.5' and '5.' (one optional dot, at least one digit). */
  def isNumericString(c: Column): Column = c.rlike("^(\\d+\\.?\\d*|\\.\\d+)$")

  /** P8 availability defaulting (main.py:322-323): the flattened
    * `available` cell when there is one, else "1". */
  def defaultAvailable(c: Option[Column]): Column = coalesce(c.toSeq :+ lit("1"): _*)
}
