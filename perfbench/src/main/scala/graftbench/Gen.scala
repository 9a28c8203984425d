package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every byte is written here, with the
  * benchmark's own writers and never with the program's sinks, so a sink
  * change cannot change its own inputs. The same seed gives the same
  * bytes. Shapes follow FIXTURES.md. */
object Gen {

  /** What a generated offer should look like after conversion. */
  final case class OfferExp(id: String, categoryPath: String,
                            pictures: Set[String], params: Map[String, String])

  /** A generated feed or table file plus the facts its checks need. */
  final case class Input(path: Path, records: Int,
                         ids: IndexedSeq[String],
                         sample: Seq[OfferExp] = Nil,
                         paramNames: Seq[String] = Nil,
                         columns: Seq[String] = Nil,
                         categories: Int = 0) {
    def bytes: Long = Files.size(path)
  }

  private val Words = IndexedSeq("диван", "кресло", "стол", "стул", "шкаф",
    "люстра", "лампа", "полка", "комод", "кровать", "зеркало", "ковёр",
    "дуб", "бук", "орех", "сосна", "хлопок", "лён", "бархат", "кожа",
    "белый", "чёрный", "серый", "синий", "зелёный", "золото", "хром",
    "лофт", "модерн", "классика", "прованс", "сканди")
  private val Latin = IndexedSeq("Acme", "Nordic", "Hoff", "Ikon", "Mebel",
    "Lumen", "Casa", "Vento", "Forma", "Arte")
  private val ParamBases = IndexedSeq("Цвет", "Материал", "Стиль", "Покрытие",
    "Фурнитура", "Страна", "Гарантия", "Форма", "Назначение", "Серия")

  /** 100 distinct param names, none numeric and none size-like (the
    * exporter rewrites size-named values). */
  val ParamNames: IndexedSeq[String] =
    for (b <- ParamBases; k <- 1 to 10) yield s"$b $k"

  private def word(r: Random): String = Words(r.nextInt(Words.length))
  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def writer(p: Path): BufferedWriter = {
    Files.createDirectories(p.getParent)
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8),
      1 << 20)
  }

  /** A parent-pointer category tree: a chain `depth` deep from the root,
    * then every further node hangs under a random earlier node that is
    * less than 8 deep. Returns (parent ids, names, id -> /// path). */
  private def categoryTree(r: Random, n: Int, depth: Int = 6)
      : (IndexedSeq[Option[Int]], IndexedSeq[String], IndexedSeq[String]) = {
    val parent = mutable.ArrayBuffer.empty[Option[Int]]
    val level = mutable.ArrayBuffer.empty[Int]
    val names = mutable.ArrayBuffer.empty[String]
    val paths = mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val p =
        if (i == 0) None
        else if (i < depth) Some(i - 1)
        else {
          var c = r.nextInt(i)
          while (level(c) >= 8) c = parent(c).get
          Some(c)
        }
      val nm = s"${word(r).capitalize} ${Latin(r.nextInt(Latin.length))} $i"
      parent += p; names += nm
      level += p.map(level(_) + 1).getOrElse(1)
      paths += p.map(paths(_) + "///" + nm).getOrElse(nm)
    }
    (parent.toIndexedSeq, names.toIndexedSeq, paths.toIndexedSeq)
  }

  /** A YML `offer` feed: a category tree of `cats` nodes, 5-9 of the
    * first `params` param names per offer, 1-3 pictures with one repeated, HTML
    * descriptions, Cyrillic text. `dirty` adds a UTF-8 BOM and bare `&`
    * in some names, so the parse-repair copy runs. */
  def ymlFeed(out: Path, seed: Long, offers: Int, cats: Int,
              dirty: Boolean = false, idPrefix: String = "o",
              descWords: Int = 4, params: Int = ParamNames.length): Input = {
    val r = new Random(seed)
    val (parent, names, paths) = categoryTree(r, cats)
    val w = writer(out)
    val ids = new Array[String](offers)
    val sample = mutable.ArrayBuffer.empty[OfferExp]
    val sampleEvery = math.max(1, offers / 40)
    try {
      if (dirty) w.write("﻿")
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      w.write("<yml_catalog date=\"2025-08-24 12:00\">\n<shop>\n")
      w.write("<name>Магазин мебели</name>\n")
      w.write("<currencies><currency id=\"RUR\" rate=\"1\"/></currencies>\n")
      w.write("<categories>\n")
      for (i <- 0 until cats) {
        val pa = parent(i).map(p => s""" parentId="${p + 1}"""").getOrElse("")
        w.write(s"""<category id="${i + 1}"$pa>${xmlEsc(names(i))}</category>\n""")
      }
      w.write("</categories>\n<offers>\n")
      for (i <- 0 until offers) {
        val id = s"$idPrefix$i"
        ids(i) = id
        val cat = r.nextInt(cats)
        val name0 = s"${word(r).capitalize} «${Latin(r.nextInt(Latin.length))}-${r.nextInt(900) + 100}» (${word(r)})"
        // a bare `&` on purpose: the feed is malformed until repaired
        val nameXml =
          xmlEsc(name0) + (if (dirty && i % 7 == 0) " & " + word(r) else "")
        val price = 500 + r.nextInt(200000)
        val pics = (0 until 1 + r.nextInt(3)).map(k => s"https://img.example/$id/$k.jpg")
        val picSeq = pics :+ pics.head // one duplicate picture per offer
        val nParams = math.min(params, 5 + r.nextInt(5))
        val kv = mutable.LinkedHashMap.empty[String, String]
        while (kv.size < nParams)
          kv(ParamNames(r.nextInt(params))) = word(r)
        val desc = s"<div><p><b>${word(r).capitalize}</b> ${word(r)} ${word(r)}<br>" +
          Seq.fill(descWords)(word(r)).mkString(" ") + "</p></div>"
        w.write(s"""<offer id="$id" available="${if (r.nextInt(5) == 0) "false" else "true"}">""")
        w.write(s"<name>$nameXml</name><categoryId>${cat + 1}</categoryId>")
        w.write(s"<price>$price</price>")
        if (r.nextBoolean()) w.write(s"<oldprice>${price + 1000}</oldprice>")
        w.write(s"<currencyId>RUR</currencyId><vendor>${Latin(r.nextInt(Latin.length))}</vendor>")
        w.write(s"<vendorCode>VC-$i</vendorCode>")
        picSeq.foreach(p => w.write(s"<picture>$p</picture>"))
        w.write(s"<description>${xmlEsc(desc)}</description>")
        kv.foreach { case (k, v) => w.write(s"""<param name="$k">$v</param>""") }
        w.write(s"<weight>${r.nextInt(50) + 1}.${r.nextInt(10)}</weight>")
        w.write("</offer>\n")
        if (i % sampleEvery == 0)
          sample += OfferExp(id, paths(cat), pics.toSet, kv.toMap)
      }
      w.write("</offers>\n</shop>\n</yml_catalog>\n")
    } finally w.close()
    Input(out, offers, ids.toIndexedSeq, sample.toSeq, ParamNames.take(params),
      categories = cats)
  }

  /** The same offers as a `;`-delimited UTF-8 CSV with a BOM, in the
    * column layout the CSV-to-XML route reads (`param_*` columns). */
  def offersCsv(out: Path, seed: Long, offers: Int, cats: Int,
                idPrefix: String = "c"): Input = {
    val r = new Random(seed)
    val (_, _, paths) = categoryTree(r, cats)
    val params = ParamNames.take(20)
    val cols = Seq("id", "available", "name", "price", "oldprice",
      "currencyId", "vendor", "vendorCode", "description", "category_path",
      "pictures") ++ params.map("param_" + _)
    def q(v: String): String =
      if (v.exists(c => c == ';' || c == '"' || c == '\n'))
        "\"" + v.replace("\"", "\"\"") + "\"" else v
    val w = writer(out)
    val ids = new Array[String](offers)
    val usedPaths = mutable.HashSet.empty[String]
    try {
      w.write("﻿")
      w.write(cols.mkString(";")); w.write("\r\n")
      for (i <- 0 until offers) {
        val id = s"$idPrefix$i"
        ids(i) = id
        val path = paths(r.nextInt(cats))
        usedPaths += path
        val price = 500 + r.nextInt(200000)
        val pics = (0 until 1 + r.nextInt(3))
          .map(k => s"https://img.example/$id/$k.jpg").mkString("///")
        val pv = params.map(_ => if (r.nextInt(3) == 0) word(r) else "")
        val row = Seq(id, if (r.nextInt(5) == 0) "0" else "1",
          s"${word(r).capitalize} «${Latin(r.nextInt(Latin.length))}» ${r.nextInt(1000)}",
          price.toString, if (r.nextBoolean()) (price + 1000).toString else "",
          "RUR", Latin(r.nextInt(Latin.length)), s"VC-$i",
          s"${word(r).capitalize}; ${word(r)} \"${word(r)}\" ${word(r)}",
          path, pics) ++ pv
        w.write(row.map(q).mkString(";")); w.write("\r\n")
      }
    } finally w.close()
    Input(out, offers, ids.toIndexedSeq, columns = cols,
      paramNames = params, categories = usedPaths.size)
  }

  /** `product` dialect (FIXTURES.md section 2). */
  def productXml(out: Path, seed: Long, n: Int): Input = {
    val r = new Random(seed)
    val w = writer(out)
    val ids = (0 until n).map(i => s"P$i")
    try {
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<catalog>\n<products>\n")
      ids.foreach { id =>
        w.write(s"""<product id="$id"><name>${word(r).capitalize} ${Latin(r.nextInt(Latin.length))}</name>""")
        w.write(s"<price>${500 + r.nextInt(90000)}</price>")
        w.write(s"<photos><photo>https://img.example/$id/a.jpg</photo><photo>https://img.example/$id/b.jpg</photo></photos>")
        w.write(s"""<fabric><feature name="Состав">${word(r)}</feature></fabric>""")
        w.write(s"""<features><feature name="Стиль">${word(r)}</feature><feature name="Цвет">${word(r)}</feature></features>""")
        w.write(s"<desc>${word(r)} ${word(r)} ${word(r)} ${word(r)}</desc>")
        w.write("</product>\n")
      }
      w.write("</products>\n</catalog>\n")
    } finally w.close()
    Input(out, n, ids)
  }

  /** Russian 1C `ЭлементСправочника` dialect (FIXTURES.md section 3). */
  def russian1cXml(out: Path, seed: Long, n: Int): Input = {
    val r = new Random(seed)
    val w = writer(out)
    val ids = (0 until n).map(i => s"R-$i")
    def tch(kind: String, rows: Seq[String]): String =
      s"""<ТЧ ИмяТабличнойЧасти="$kind">""" +
        rows.map(x => s"<ЭлементТЧ>$x</ЭлементТЧ>").mkString + "</ТЧ>"
    try {
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<Корневой>\n")
      ids.foreach { id =>
        w.write(s"<ЭлементСправочника><ID>$id</ID>")
        w.write(s"<Наименование>${word(r).capitalize} ${word(r)}</Наименование>")
        w.write(s"<Артикул>SKU-$id</Артикул><Цвет>${word(r)}</Цвет>")
        w.write(s"<Глубина>${40 + r.nextInt(60)}</Глубина>")
        w.write(s"<ОписаниеДляСайта>${xmlEsc(s"<p>${word(r)} ${word(r)}</p>")}</ОписаниеДляСайта>")
        w.write(tch("Остатки", Seq(
          s"<СкладНаименование>Main</СкладНаименование><КоличествоОстаток>${r.nextInt(9)}</КоличествоОстаток>",
          s"<СкладНаименование>Spb</СкладНаименование><КоличествоОстаток>${r.nextInt(9)}</КоличествоОстаток>")))
        val base = 1000 + r.nextInt(90000)
        w.write(tch("Цены", Seq(
          s"<Наименование>Цена</Наименование><Значение>$base</Значение>",
          s"<Наименование>ЦенаСкидка</Наименование><Значение>${base - 100}</Значение>")))
        w.write(tch("ГруппыСайта", Seq(s"<Наименование>${word(r).capitalize}</Наименование>")))
        w.write("</ЭлементСправочника>\n")
      }
      w.write("</Корневой>\n")
    } finally w.close()
    Input(out, n, ids)
  }

  /** `service` dialect (FIXTURES.md section 4). */
  def serviceXml(out: Path, seed: Long, n: Int): Input = {
    val r = new Random(seed)
    val w = writer(out)
    val ids = (0 until n).map(i => s"svc-$i")
    try {
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<services>\n")
      ids.zipWithIndex.foreach { case (id, i) =>
        w.write(s"""<service id="$id" sid="${1000 + i}"><name>Проверка ${word(r)} $i</name>""")
        w.write(s"""<price currency="RUR">${100 + r.nextInt(5000)}</price>""")
        w.write(s"<description>${word(r)} ${word(r)} ${word(r)}</description></service>\n")
      }
      w.write("</services>\n")
    } finally w.close()
    Input(out, n, ids)
  }

  /** A JSON array of flat-plus-one-nested objects. */
  def offersJson(out: Path, seed: Long, n: Int): Input = {
    val r = new Random(seed)
    val w = writer(out)
    val ids = (0 until n).map(i => s"j$i")
    try {
      w.write("[\n")
      ids.zipWithIndex.foreach { case (id, i) =>
        if (i > 0) w.write(",\n")
        w.write(s"""  {"id": "$id", "name": "${word(r).capitalize} ${word(r)}", """ +
          s""""price": ${500 + r.nextInt(90000)}, "vendor": "${Latin(r.nextInt(Latin.length))}", """ +
          s""""stock": {"warehouse": "${word(r)}", "qty": ${r.nextInt(50)}}, """ +
          s""""description": "${word(r)} ${word(r)} ${word(r)} ${word(r)} ${word(r)}"}""")
      }
      w.write("\n]\n")
    } finally w.close()
    Input(out, n, ids, columns = Seq("id", "name", "price"))
  }

  val XlsxColumns: Seq[String] = Seq("id", "name", "price", "category", "vendor")

  /** A minimal OOXML workbook: one sheet of inline-string cells, zip
    * entries with a fixed timestamp so the bytes repeat. */
  def offersXlsx(out: Path, seed: Long, n: Int): Input = {
    val r = new Random(seed)
    Files.createDirectories(out.getParent)
    val ids = (0 until n).map(i => s"x$i")
    def ref(c: Int, row: Int): String = s"${('A' + c).toChar}$row"
    def cell(c: Int, row: Int, v: String): String =
      s"""<c r="${ref(c, row)}" t="inlineStr"><is><t>${xmlEsc(v)}</t></is></c>"""
    val sheet = new StringBuilder
    sheet ++= "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n"
    sheet ++= "<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"><sheetData>"
    sheet ++= "<row r=\"1\">" + XlsxColumns.zipWithIndex.map { case (h, c) => cell(c, 1, h) }.mkString + "</row>"
    ids.zipWithIndex.foreach { case (id, i) =>
      val row = i + 2
      val vals = Seq(id, s"${word(r).capitalize} ${word(r)}",
        (500 + r.nextInt(90000)).toString, word(r).capitalize,
        Latin(r.nextInt(Latin.length)))
      sheet ++= s"""<row r="$row">""" + vals.zipWithIndex.map { case (v, c) => cell(c, row, v) }.mkString + "</row>"
    }
    sheet ++= "</sheetData></worksheet>"
    val entries = Seq(
      "[Content_Types].xml" ->
        ("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
          "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">" +
          "<Default Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-package.relationships+xml\"/>" +
          "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
          "<Override PartName=\"/xl/workbook.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml\"/>" +
          "<Override PartName=\"/xl/worksheets/sheet1.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml\"/>" +
          "</Types>"),
      "_rels/.rels" ->
        ("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
          "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
          "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument\" Target=\"xl/workbook.xml\"/>" +
          "</Relationships>"),
      "xl/workbook.xml" ->
        ("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
          "<workbook xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\" " +
          "xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\">" +
          "<sheets><sheet name=\"Sheet1\" sheetId=\"1\" r:id=\"rId1\"/></sheets></workbook>"),
      "xl/_rels/workbook.xml.rels" ->
        ("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
          "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
          "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet\" Target=\"worksheets/sheet1.xml\"/>" +
          "</Relationships>"),
      "xl/worksheets/sheet1.xml" -> sheet.toString)
    val zip = new ZipOutputStream(Files.newOutputStream(out))
    try entries.foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(java.time.LocalDateTime.of(1980, 1, 1, 0, 0)) // fixed bytes
      zip.putNextEntry(e)
      zip.write(body.getBytes(UTF_8))
      zip.closeEntry()
    } finally zip.close()
    Input(out, n, ids, columns = XlsxColumns)
  }
}
