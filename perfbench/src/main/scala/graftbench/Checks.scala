package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** Output checks derived from what the generator wrote, never from the
  * program under test. Each returns the first problem found. */
object Checks {

  private def fail(msg: String): Option[String] = Some(msg)

  /** A `;` CSV with BOM and sorted header: `records` rows whose `key`
    * column holds exactly the generated ids; `mustHave` columns present. */
  def dialectCsv(bytes: Array[Byte], in: Gen.Input, key: String,
                 mustHave: Seq[String] = Nil, sortedHeader: Boolean = true)
      : (Option[String], IndexedSeq[String], IndexedSeq[Array[String]]) = {
    val (bom, header, rows) = Csv.parse(bytes)
    val err =
      if (!bom) fail("no UTF-8 BOM")
      else if (sortedHeader && header != header.sorted) fail("header is not sorted")
      else if (rows.size != in.records) fail(s"${rows.size} rows, expected ${in.records}")
      else (mustHave :+ key).find(c => !header.contains(c)) match {
        case Some(c) => fail(s"missing column $c in header ${header.mkString(";").take(300)}")
        case None =>
          val k = header.indexOf(key)
          val got = rows.map(r => if (k < r.length) r(k) else "").toSet
          if (got != in.ids.toSet) fail(s"the $key column does not hold the generated ids")
          else rows.find(_.length != header.length)
            .map(r => s"a row has ${r.length} cells, header has ${header.length}")
      }
    (err, header, rows)
  }

  /** YML feed converted to CSV: rows, ids, the param columns, and for the
    * sampled offers their category path, pictures and params. */
  def ymlCsv(bytes: Array[Byte], feed: Gen.Input): Option[String] = {
    val (err, header, rows) = dialectCsv(bytes, feed, "attr_id",
      Seq("category_path", "pictures", "description", "price", "categoryId") ++ feed.paramNames)
    err.orElse {
      val idx = header.zipWithIndex.toMap
      val byId = rows.iterator.map(r => r(idx("attr_id")) -> r).toMap
      feed.sample.iterator.flatMap { e =>
        val r = byId(e.id)
        val pics = r(idx("pictures")).split("///").toSet
        if (r(idx("category_path")) != e.categoryPath)
          Some(s"offer ${e.id}: category_path ${r(idx("category_path"))}, expected ${e.categoryPath}")
        else if (pics != e.pictures) Some(s"offer ${e.id}: pictures $pics, expected ${e.pictures}")
        else e.params.collectFirst {
          case (k, v) if r(idx(k)) != v => s"offer ${e.id}: param $k = ${r(idx(k))}, expected $v"
        }
      }.nextOption()
    }
  }

  private val OfferId = """<offer id="([^"]*)"""".r
  private val CategoryEl = """<category id=""".r

  /** Offers CSV converted to a yandex_market XML: one `<offer>` per row
    * carrying the generated ids, one `<category>` per distinct path. */
  def ymlXml(bytes: Array[Byte], csv: Gen.Input): Option[String] = {
    val s = new String(bytes, UTF_8)
    val ids = OfferId.findAllMatchIn(s).map(_.group(1)).toIndexedSeq
    val cats = CategoryEl.findAllMatchIn(s).size
    if (!s.startsWith("<?xml")) fail("no XML declaration")
    else if (ids.size != csv.records) fail(s"${ids.size} offers, expected ${csv.records}")
    else if (ids.toSet != csv.ids.toSet) fail("offer ids differ from the generated ids")
    else if (cats != csv.categories) fail(s"$cats categories, expected ${csv.categories}")
    else if (!s.trim.endsWith("</yml_catalog>")) fail("document is not closed")
    else None
  }

  /** A JSON array written one element per line; each element names its
    * id, and the ids are the generated ones. */
  def jsonArray(bytes: Array[Byte], in: Gen.Input, idField: String): Option[String] = {
    val s = new String(bytes, UTF_8).trim
    val elems = s.split("\n").map(_.trim.stripSuffix(",")).filter(_.startsWith("{")).toIndexedSeq
    val re = ("\"" + idField + "\":\"([^\"]*)\"").r
    val ids = elems.flatMap(e => re.findFirstMatchIn(e).map(_.group(1))).toSet
    if (!s.startsWith("[") || !s.endsWith("]")) fail("not a JSON array")
    else if (elems.size != in.records) fail(s"${elems.size} elements, expected ${in.records}")
    else if (ids != in.ids.toSet)
      fail(s"element ids differ from the generated ids; first element ${elems.headOption.map(_.take(200))}")
    else None
  }

  /** An xlsx whose first sheet has a header row plus one row per record. */
  def xlsx(bytes: Array[Byte], in: Gen.Input): Option[String] = {
    val zip = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    var sheet: Option[String] = None
    try {
      var e = zip.getNextEntry
      while (e != null) {
        if (e.getName == "xl/worksheets/sheet1.xml") sheet = Some(new String(zip.readAllBytes(), UTF_8))
        e = zip.getNextEntry
      }
    } finally zip.close()
    sheet match {
      case None => fail("no xl/worksheets/sheet1.xml")
      case Some(x) =>
        val rows = "<row ".r.findAllMatchIn(x).size
        if (rows != in.records + 1) fail(s"$rows sheet rows, expected ${in.records + 1}")
        else in.ids.find(id => !x.contains(s">$id<")).map(id => s"id $id missing from the sheet")
    }
  }
}
