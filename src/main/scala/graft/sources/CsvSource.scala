package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S5 — CSV source with delimiter sniffing (reference `process_csv_to_xml`
  * main.py:504-519 and `process_csv_to_excel` main.py:631-649).
  *
  * The sniff is a driver-side head-line probe (the reference counts `,` vs
  * `;` on the first line, falling back to trying `;`/`,`/tab until a read
  * yields more than one column); the read itself is the distributed Spark
  * CSV source, all columns string-typed (the reference's data model).
  */
object CsvSource {

  /** Reference sniff (main.py:513-516): `,` wins only if strictly more
    * frequent than `;` on the first line. */
  def sniffDelimiter(firstLine: String): String =
    if (firstLine.count(_ == ',') > firstLine.count(_ == ';')) "," else ";"

  /** Head probe through the S4 charset chain — a strict UTF-8 read would
    * throw on windows-1251 headers (Cyrillic CSVs are the reference's home
    * turf) before the delimiter fallback even ran. Returns (delimiter,
    * charset) so the distributed read decodes with the same charset the
    * sniff detected. */
  private val HeadBytes = 64 * 1024

  /** A hard-truncated head can cut a UTF-8 multibyte char in half, making
    * the strict UTF-8 probe "fail" and the whole file silently decode as
    * windows-1251. Drop a trailing incomplete sequence before judging. */
  private[sources] def dropTruncatedUtf8Tail(b: Array[Byte]): Array[Byte] = {
    var i = b.length - 1
    var cont = 0
    while (i >= 0 && cont < 3 && (b(i) & 0xC0) == 0x80) { i -= 1; cont += 1 }
    if (i < 0) return b
    val lead = b(i) & 0xFF
    val need =
      if (lead >= 0xF0) 3 else if (lead >= 0xE0) 2
      else if (lead >= 0xC0) 1 else 0
    if (need > cont) b.take(i) else b
  }

  def sniffFileWithCharset(path: String): (String, String) = {
    val in = new java.io.FileInputStream(path)
    val head =
      try in.readNBytes(HeadBytes)
      finally in.close()
    val probe = if (head.length == HeadBytes) dropTruncatedUtf8Tail(head)
                else head
    val (text, charset) = CharsetFallback.decode(probe)
    (sniffDelimiter(text.linesIterator.nextOption().getOrElse("")), charset)
  }

  /** Distributed header'd read, all-string schema, BOM-tolerant.
    * escape=`"` matches the RFC-4180 `""` doubling our sinks (and the
    * reference's csv module) write — Spark's default escape is `\`, which
    * would corrupt quoted cells on read-back.
    *
    * `multiLine=true` parses embedded newlines inside quoted cells (the
    * reference's csv.DictReader does this by default) at the cost of
    * splittability — one core per FILE. Default false: the scale path, and
    * our own sinks scrub newlines to spaces on export (F6) so engine
    * round-trips never need it. Enable it for foreign CSVs with multiline
    * cells. */
  def read(spark: SparkSession, path: String,
           delimiter: Option[String] = None,
           multiLine: Boolean = false,
           charset: Option[String] = None): DataFrame = {
    val (sniffSep, sniffCs) = sniffFileWithCharset(path)
    val sep = delimiter.getOrElse(sniffSep)
    val cs  = charset.getOrElse(sniffCs)
    def readWith(s: String): DataFrame = spark.read
      .option("header", "true")
      .option("sep", s)
      .option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .option("encoding", cs)
      .option("inferSchema", "false")
      .csv(path)
    val df = readWith(sep)
    // fallback chain (main.py:631-649): a 1-column parse means the
    // delimiter was wrong — try the alternatives
    if (df.columns.length > 1) df
    else Seq(";", ",", "\t").filterNot(_ == sep).iterator
      .map(readWith)
      .find(_.columns.length > 1)
      .getOrElse(df)
  }
}
