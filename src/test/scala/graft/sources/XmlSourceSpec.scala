package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.SparkTestBase
import graft.engine.Flatten

/** End-to-end dialect tests over the FIXTURES.md XML fixtures: native XML
  * read -> schema-driven flatten -> reference column model. */
class XmlSourceSpec extends SparkTestBase {

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private def rowMap(r: Row): Map[String, String] =
    r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (if (r.isNullAt(i)) null else r.getString(i))
    }.toMap

  // ---------------- dialect detection ----------------

  test("S1 detects all four dialects (offer wins over product, matching the " +
       "reference's priority, main.py:1464-1469 — product files with nested " +
       "offers need the explicit target_node override, main.py:2292)") {
    assert(XmlSource.detectFile(fixture("yml_offer.xml")) === XmlSource.Yml)
    assert(XmlSource.detectFile(fixture("product.xml")) === XmlSource.Yml)
    assert(XmlSource.detect("<catalog><products><product id='1'/></products></catalog>")
      === XmlSource.Product)
    assert(XmlSource.detectFile(fixture("russian_1c.xml")) === XmlSource.Russian)
    assert(XmlSource.detectFile(fixture("service.xml")) === XmlSource.Service)
  }

  test("P7 validation rejects HTML, error pages, non-XML") {
    intercept[IllegalArgumentException](XmlSource.validate("<html><body>x</body></html>"))
    intercept[IllegalArgumentException](XmlSource.validate("404 error not found"))
    intercept[IllegalArgumentException](XmlSource.validate("just text"))
    XmlSource.validate("<?xml version=\"1.0\"?><yml_catalog><offer/></yml_catalog>")
  }

  private def scrubbedText(raw: String): String = {
    val tmp = java.nio.file.Files.createTempFile("graft_scrub_in", ".xml")
    java.nio.file.Files.writeString(tmp, raw)
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(XmlSource.scrubbedIfNeeded(tmp.toString)))
  }

  test("F8 scrub strips control chars and fixes bare ampersands") {
    assert(scrubbedText("<a>xy &amp; z & w</a>")
      === "<a>xy &amp; z &amp; w</a>")
  }

  test("F8 repair e2e: scrubbed malformed feed (bare &, BOM) parses") {
    val malformed = "\ufeff<?xml version=\"1.0\"?><yml_catalog><shop><offers>" +
      "<offer id=\"1\"><name>A & B</name><price>10</price></offer>" +
      "</offers></shop></yml_catalog>"
    val tmp = java.nio.file.Files.createTempFile("graft_repair", ".xml")
    java.nio.file.Files.writeString(tmp, malformed)
    val repaired = XmlSource.scrubbedIfNeeded(tmp.toString)
    val flat = Flatten.flattenOffers(
      XmlSource.read(spark, repaired, XmlSource.Yml), XmlSource.Yml)
    val row = flat.collect().head
    assert(row.getAs[String]("name") === "A & B")
    assert(row.getAs[String]("price") === "10")
  }

  // ---------------- YML offer dialect ----------------

  lazy val ymlFlat = {
    val path = fixture("yml_offer.xml")
    val offers = XmlSource.read(spark, path, XmlSource.Yml)
    val paths = XmlSource.categoryPaths(XmlSource.readCategories(spark, path))
    Flatten.flattenOffers(offers, XmlSource.Yml, Some(paths))
      .orderBy("attr_id").collect().map(rowMap)
  }

  test("YML: attrs become attr_* columns") {
    assert(ymlFlat(0)("attr_id") === "101")
    assert(ymlFlat(0)("attr_available") === "true")
  }

  test("YML: category path resolves through the parent walk") {
    assert(ymlFlat(0)("categoryId") === "3")
    assert(ymlFlat(0)("category_path") === "Lighting///Chandeliers///Crystal")
    assert(ymlFlat(1)("categoryId") === "Undefined")
    assert(ymlFlat(1)("category_path") === "Undefined")
  }

  test("YML: pictures deduped, sorted, ///-joined; image tags not columns") {
    assert(ymlFlat(0)("pictures") === "http://x/im1.jpg///http://x/im2.png")
    assert(!ymlFlat(0).contains("picture"))
    assert(ymlFlat(1)("pictures") === "")
  }

  test("YML: params pivot to raw-name columns with ', ' concat and ? strip") {
    assert(ymlFlat(0)("Цвет") === "золото, белый")
    assert(ymlFlat(0)("Размер") === "52 см")
  }

  test("YML: description cleaned (keep br, unwrap div/b)") {
    assert(ymlFlat(0)("description") === "<p>Bold text<br>line</p>")
  }

  test("YML: stock sub-table flattens one level with attr columns") {
    assert(ymlFlat(0)("quantity") === "7")
    assert(ymlFlat(0)("quantity_unit") === "pcs")
  }

  test("YML: available defaults to '1' when no child tag") {
    assert(ymlFlat(0)("available") === "1")
    assert(ymlFlat(1)("available") === "1")
  }

  test("YML: plain scalars kept as strings") {
    assert(ymlFlat(0)("price") === "12990")
    assert(ymlFlat(0)("weight") === "4.5")
    assert(ymlFlat(0)("name") === "Люстра «Пример» (хрусталь)")
  }

  // ---------------- product dialect ----------------

  lazy val productFlat = {
    val offers = XmlSource.read(spark, fixture("product.xml"), XmlSource.Product)
    Flatten.flattenOffers(offers, XmlSource.Product)
      .orderBy("attr_id").collect().map(rowMap)
  }

  test("product: P5 skips variant parents with nested offers") {
    assert(productFlat.length === 1)
    assert(productFlat(0)("attr_id") === "P2")
  }

  test("product: P5 keeps offer-less products when offer infers as ARRAY " +
       "(size(null) is NULL, not <= 0)") {
    val xml =
      """<catalog><products>
        |  <product id="V1">
        |    <offer id="a"><size>S</size></offer>
        |    <offer id="b"><size>M</size></offer>
        |  </product>
        |  <product id="KEEP"><name>Plain</name></product>
        |</products></catalog>""".stripMargin
    val tmp = java.nio.file.Files.createTempFile("graft_p5", ".xml")
    java.nio.file.Files.writeString(tmp, xml)
    val flat = Flatten.flattenOffers(
      XmlSource.read(spark, tmp.toString, XmlSource.Product), XmlSource.Product)
      .collect().map(rowMap)
    assert(flat.length === 1)
    assert(flat(0)("attr_id") === "KEEP")
  }

  test("product: nested photos collected, fabric_/feature_ pivoted") {
    assert(productFlat(0)("pictures") === "http://x/p2.jpg")
    assert(productFlat(0)("fabric_Состав") === "хлопок")
    assert(productFlat(0)("feature_Стиль") === "лофт")
  }

  test("product: description falls back to name; category Undefined") {
    assert(productFlat(0)("description") === "<p>Sofa Uno</p>")
    assert(productFlat(0)("category_path") === "Undefined")
    assert(productFlat(0)("categoryId") === "Undefined")
  }

  // ---------------- russian 1C dialect ----------------

  lazy val ruFlat = {
    val df = XmlSource.read(spark, fixture("russian_1c.xml"), XmlSource.Russian)
    Flatten.flattenRussian(df).collect().map(rowMap)
  }

  test("1C: aliases ID->id, Наименование->name (sanitized), Артикул->vendor+vendorCode") {
    assert(ruFlat(0)("id") === "A-1")
    assert(ruFlat(0)("ID") === "A-1")
    assert(ruFlat(0)("name") === "Диван \"Тест\"")
    assert(ruFlat(0)("vendor") === "SKU-1")
    assert(ruFlat(0)("vendorCode") === "SKU-1")
    assert(ruFlat(0)("Артикул") === "SKU-1")
    assert(ruFlat(0)("param_Цвет") === "синий")
    assert(ruFlat(0)("глубина") === "90")
  }

  test("1C: Остатки -> available/stock_total/stock_details") {
    assert(ruFlat(0)("available") === "1")
    assert(ruFlat(0)("stock_total") === "5.0")
    assert(ruFlat(0)("stock_details") === "Main: 5")
  }

  test("1C: Цены -> price/oldprice resolution") {
    assert(ruFlat(0)("price") === "800")
    assert(ruFlat(0)("oldprice") === "1000")
  }

  test("1C: Материалы + ГруппыСайта -> материалы/ID_Материала/category") {
    assert(ruFlat(0)("материалы") === "дуб")
    assert(ruFlat(0)("ID_Материала") === "M1")
    assert(ruFlat(0)("category_path") === "Мебель")
    assert(ruFlat(0)("categoryId") === "Мебель")
  }

  test("1C: description cleaned") {
    assert(ruFlat(0)("description") === "<p>Текст</p>")
  }

  // ---------------- service dialect ----------------

  lazy val svcFlat = {
    val df = XmlSource.read(spark, fixture("service.xml"), XmlSource.Service)
    Flatten.flattenService(df).collect().map(rowMap)
  }

  test("service: unprefixed attrs, tag_attr columns, defaults") {
    assert(svcFlat(0)("id") === "svc-1")
    assert(svcFlat(0)("sid") === "77")
    assert(svcFlat(0)("price") === "500")
    assert(svcFlat(0)("price_currency") === "RUR")
    assert(svcFlat(0)("name") === "Проверка")
    assert(svcFlat(0)("category_path") === "Проверка")
    assert(svcFlat(0)("categoryId") === "svc-1")
    assert(svcFlat(0)("available") === "1")
    assert(svcFlat(0)("service_type") === "verification_service")
  }

  test("1C: an element whose Цены rows lack 'Цена' (and whose Остатки " +
       "quantity is non-numeric) flattens instead of throwing under ANSI") {
    val xml =
      """<Корневой>
        |  <ЭлементСправочника>
        |    <ID>B-1</ID>
        |    <Наименование>Стол</Наименование>
        |    <ТЧ ИмяТабличнойЧасти="Остатки">
        |      <ЭлементТЧ><СкладНаименование>Main</СкладНаименование><КоличествоОстаток>5 шт</КоличествоОстаток></ЭлементТЧ>
        |    </ТЧ>
        |    <ТЧ ИмяТабличнойЧасти="Цены">
        |      <ЭлементТЧ><Наименование>Оптовая</Наименование><Значение>700</Значение></ЭлементТЧ>
        |    </ТЧ>
        |  </ЭлементСправочника>
        |  <ЭлементСправочника>
        |    <ID>B-2</ID>
        |    <Наименование>Стул</Наименование>
        |    <ТЧ ИмяТабличнойЧасти="Цены">
        |      <ЭлементТЧ><Наименование>Цена</Наименование><Значение>100</Значение></ЭлементТЧ>
        |    </ТЧ>
        |  </ЭлементСправочника>
        |</Корневой>""".stripMargin
    val path = java.nio.file.Files.createTempDirectory("graft_1c")
      .resolve("no_price.xml")
    java.nio.file.Files.writeString(path, xml)
    val flat = Flatten.flattenRussian(
        XmlSource.read(spark, path.toString, XmlSource.Russian))
      .orderBy("id").collect().map(rowMap)
    assert(flat.length === 2)
    // B-1: no 'Цена' row -> null price (no ANSI throw); the non-numeric
    // quantity contributes 0 to the total but its detail row is kept
    assert(flat(0)("price") == null || flat(0)("price") == "")
    assert(flat(0)("available") === "0")
    assert(flat(0)("stock_details") === "Main: 5 шт")
    assert(flat(1)("price") === "100")
  }

  test("YML: pictures under EVERY instance of a repeated ancestor are " +
       "collected, not just the first") {
    val xml =
      """<yml_catalog><shop>
        |  <offers>
        |    <offer id="V1">
        |      <name>Combo</name>
        |      <variants>
        |        <variant><picture>http://x/a.jpg</picture></variant>
        |        <variant><picture>http://x/b.jpg</picture></variant>
        |      </variants>
        |    </offer>
        |  </offers>
        |</shop></yml_catalog>""".stripMargin
    val path = java.nio.file.Files.createTempDirectory("graft_pic")
      .resolve("variants.xml")
    java.nio.file.Files.writeString(path, xml)
    val flat = Flatten.flattenOffers(
        XmlSource.read(spark, path.toString, XmlSource.Yml),
        XmlSource.Yml, None)
      .collect().map(rowMap)
    assert(flat.length === 1)
    assert(flat(0)("pictures") === "http://x/a.jpg///http://x/b.jpg")
  }

  test("F8 scrubbedIfNeeded: streaming file scrub fixes bare ampersands " +
       "and control bytes, keeps entities, no-ops on clean feeds") {
    val dirty = "<yml_catalog><shop><offers>" +
      "<offer id=\"1\"><name>A & B  &amp; C &lt;ok&gt;</name></offer>" +
      "</offers></shop></yml_catalog>"
    val dir = java.nio.file.Files.createTempDirectory("graft_scrub_t")
    val dp = dir.resolve("dirty.xml")
    java.nio.file.Files.writeString(dp, dirty)
    val scrubbed = XmlSource.scrubbedIfNeeded(dp.toString)
    assert(scrubbed != dp.toString, "dirty feed must be rewritten")
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(scrubbed))
    assert(text.contains("A &amp; B  &amp; C &lt;ok&gt;"))
    // parses after scrub
    val rows = XmlSource.read(spark, scrubbed, XmlSource.Yml).collect()
    assert(rows.length === 1)
    // clean feed: returned untouched
    val cp = dir.resolve("clean.xml")
    java.nio.file.Files.writeString(cp,
      "<yml_catalog><shop><offers><offer id=\"1\"><name>ok</name></offer></offers></shop></yml_catalog>")
    assert(XmlSource.scrubbedIfNeeded(cp.toString) === cp.toString)
  }

  // ---------------- S2 distributed element splitter ----------------

  test("S2 readSplit matches the multiLine read on every dialect fixture " +
       "(same rows, same schema)") {
    val cases = Seq(
      ("yml_offer.xml", XmlSource.Yml, "_id"),
      // product: nested <offer> children inside the row element must ride
      // along inside the split record
      ("product.xml", XmlSource.Product, "_id"),
      ("russian_1c.xml", XmlSource.Russian, "ID"),
      ("service.xml", XmlSource.Service, "_id"))
    for ((f, d, key) <- cases) {
      val plain = spark.read.format("xml")
        .option("rowTag", d.rowTag)
        .option("attributePrefix", XmlSource.AttrPrefix)
        .option("valueTag", XmlSource.ValueTag)
        .option("ignoreSurroundingSpaces", "true")
        .load(fixture(f))
      val split = XmlSource.readSplit(spark, fixture(f), d)
      assert(split.schema.fieldNames.sorted.toSeq ===
             plain.schema.fieldNames.sorted.toSeq, s"schema mismatch for $f")
      val cols = plain.schema.fieldNames.sorted.map(c => col("`" + c + "`").cast("string"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.toSeq: _*).orderBy(col("`" + key + "`")).collect().toSeq
      assert(canon(split) === canon(plain), s"row mismatch for $f")
    }
  }

  private def feedFile(name: String, text: String): String = {
    val f = java.nio.file.Files.createTempFile(name, ".xml")
    f.toFile.deleteOnExit()
    java.nio.file.Files.writeString(f, text)
    f.toString
  }

  private def ymlFeed(categories: String, offers: String = ""): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?><yml_catalog><shop>" +
      categories + "<offers>" + offers + "</offers></shop></yml_catalog>"

  private def catRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), col("parentId"), col("name"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq

  test("S2 the head-scan category read matches the multiLine category read " +
       "(self-closing elements, entities, CDATA, a multibyte name across " +
       "the read chunk, categoryId tags, no categories block)") {
    import org.apache.spark.sql.functions.{coalesce, lit, nullif, trim}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // the name straddles byte 1 MiB: its first Cyrillic character's two
    // bytes sit on either side, where a chunked decode would cut it
    val open = "<?xml version=\"1.0\"?><yml_catalog><shop><company>"
    val catOpen = "</company><categories><category id=\"1\">"
    val pad = (1 << 20) - 1 - open.length - catOpen.length
    val straddle = open + "x" * pad + catOpen + "Люстры</category>" +
      "<category id=\"2\" parentId=\"1\">Бра</category></categories>" +
      "<offers><offer id=\"9\"><categoryId>2</categoryId></offer></offers>" +
      "</shop></yml_catalog>"
    val cases = Seq(
      "FIXTURES yml_offer.xml" -> fixture("yml_offer.xml"),
      // past the split threshold: the scan once read a self-closing
      // element and the next one as one record there
      "self-closing category" -> feedFile("cat_selfclose", ymlFeed(
        "<categories><category id=\"1\">A</category>" +
          "<category id=\"2\" parentId=\"1\"/>" +
          "<category id=\"3\" parentId=\"2\">C</category>" +
          "<category id=\"4\" parentId=\"1\" /></categories>",
        "<offer id=\"1\"><description>" +
          "x" * XmlSource.SplitThresholdBytes.toInt + "</description></offer>")),
      "entities and CDATA" -> feedFile("cat_entities", ymlFeed(
        "<categories><category id=\"1\">Tools &amp; Hardware</category>" +
          "<category id=\"2\" parentId=\"1\"><![CDATA[Lamps & <Shades>]]>" +
          "</category><category id=\"3\" parentId=\"1\">  </category>" +
          "</categories>")),
      "multibyte name across the read chunk" -> feedFile("cat_chunk", straddle),
      "categoryId inside offers" -> feedFile("cat_offers_first",
        "<yml_catalog><shop><offers>" +
          "<offer id=\"7\"><categoryId>2</categoryId></offer></offers>" +
          "<categories><category id=\"2\">Two</category></categories>" +
          "</shop></yml_catalog>"),
      "no categories block" -> feedFile("cat_none", ymlFeed("",
        "<offer id=\"1\"><categoryId>5</categoryId></offer>")),
      "surrounding whitespace, empty attributes" -> feedFile("cat_ws", ymlFeed(
        "<categories>\n\t<category id=\" 1 \" parentId=\"\">\n\t\tLamps \n\t" +
          "</category>\n\t<category id=\"\" parentId=\" 1 \">\tWall\t" +
          "</category>\n</categories>")),
      // real YML feeds carry an external DTD; it is never loaded
      "DOCTYPE with an external DTD" -> feedFile("cat_doctype",
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<!DOCTYPE yml_catalog SYSTEM \"shops.dtd\"><yml_catalog><shop>" +
          "<categories><category id=\"1\">Свет</category>" +
          "<category id=\"2\" parentId=\"1\">Бра</category></categories>" +
          "<offers/></shop></yml_catalog>"))
    val schema = StructType(Seq(StructField("_id", StringType),
      StructField("_parentId", StringType),
      StructField(XmlSource.ValueTag, StringType)))
    for ((what, path) <- cases) {
      val multiLine = spark.read.format("xml")
        .option("rowTag", "category")
        .option("attributePrefix", XmlSource.AttrPrefix)
        .option("valueTag", XmlSource.ValueTag)
        .schema(schema)
        .load(path)
        .select(col("_id").as("id"), col("_parentId").as("parentId"),
          coalesce(nullif(trim(col(XmlSource.ValueTag)), lit("")),
            lit("Undefined")).as("name"))
      assert(catRows(XmlSource.readCategories(spark, path)) ===
        catRows(multiLine), what)
    }
    assert(catRows(XmlSource.readCategories(spark, cases(1)._2)) === Seq(
      ("1", null, "A"), ("2", "1", "Undefined"), ("3", "2", "C"),
      ("4", "1", "Undefined")))
    assert(catRows(XmlSource.readCategories(spark, cases(3)._2)).map(_._3) ===
      Seq("Люстры", "Бра"))
    // an encoding declaration is ignored: UTF-8, like the element splitter
    // (the multiLine read alone decodes by the declaration, and reads
    // these bytes as windows-1251 mojibake)
    assert(catRows(XmlSource.readCategories(spark, feedFile("cat_cp1251",
      "<?xml version=\"1.0\" encoding=\"windows-1251\"?>" +
        "<yml_catalog><shop><categories><category id=\"1\">Люстры" +
        "</category></categories></shop></yml_catalog>"))) ===
      Seq(("1", null, "Люстры")))
    // the read stops at </categories>, before a malformed offer (where
    // the multiLine read adds an all-null row)
    assert(catRows(XmlSource.readCategories(spark, feedFile("cat_bad_after",
      ymlFeed("<categories><category id=\"1\">A</category></categories>",
        "<offer id=\"1\"><name>x</nme></offer>")))) === Seq(("1", null, "A")))
    // before the stop the feed must be well-formed: a malformed offer ahead
    // of the categories fails naming its position (the reference's
    // whole-document parse fails there too), never a partial dictionary
    val bad = intercept[IllegalArgumentException](XmlSource.readCategories(
      spark, feedFile("cat_bad_before", "<yml_catalog><shop><offers>" +
        "<offer id=\"1\"><name>x</nme></offer></offers><categories>" +
        "<category id=\"1\">A</category></categories></shop></yml_catalog>")))
    assert(bad.getMessage.contains("Malformed XML before the end of " +
      "<categories>") && bad.getMessage.contains("[row,col]:[1,"), bad.getMessage)
  }

  test("S2 the category read never loads an external entity") {
    val secret = java.nio.file.Files.createTempFile("graft_secret", ".txt")
    secret.toFile.deleteOnExit()
    java.nio.file.Files.writeString(secret, "TOP-SECRET")
    val path = feedFile("cat_xxe", "<?xml version=\"1.0\"?>" +
      "<!DOCTYPE yml_catalog [<!ENTITY e SYSTEM \"" + secret.toUri + "\">]>" +
      "<yml_catalog><shop><categories><category id=\"1\">&e;</category>" +
      "</categories></shop></yml_catalog>")
    // the DTD is not read, so the entity is undeclared: the read fails
    // without the file's content
    val ex = intercept[IllegalArgumentException](
      XmlSource.readCategories(spark, path))
    assert(ex.getMessage.contains("\"e\"") &&
      !ex.getMessage.contains("TOP-SECRET"), ex.getMessage)
  }

  test("J2 a duplicate category id has one path, its last definition, " +
       "so each offer is emitted once (both gate branches)") {
    val path = feedFile("cat_dup", ymlFeed(
      "<categories><category id=\"1\">Old</category>" +
        "<category id=\"2\" parentId=\"1\">Child</category>" +
        "<category id=\"1\">New</category></categories>",
      "<offer id=\"10\"><categoryId>1</categoryId></offer>" +
        "<offer id=\"20\"><categoryId>2</categoryId></offer>"))
    def offers() = Flatten.flattenOffers(
        XmlSource.read(spark, path, XmlSource.Yml), XmlSource.Yml,
        Some(XmlSource.categoryPaths(XmlSource.readCategories(spark, path))))
      .select("attr_id", "category_path").collect()
      .map(r => r.getString(0) -> r.getString(1)).sorted.toSeq
    val want = Seq("10" -> "New", "20" -> "New///Child")
    val (local, gL) = gatesOf(offers())
    assert(gL === Map("graph" -> (1L, 0L)))
    assert(local === want)
    val (iter, gI) = gatesOf(withConf("spark.graft.gate.graph" -> "0")(offers()))
    assert(gI === Map("graph" -> (0L, 1L)))
    assert(iter === want)
  }
}
