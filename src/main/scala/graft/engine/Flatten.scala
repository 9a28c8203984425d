package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.XmlSource
import graft.sources.XmlSource.{AttrPrefix, ValueTag}

/** The dynamic-schema XML→relational flattener (reference `process_offer`
  * main.py:115-325, `process_russian_xml` main.py:328-455,
  * `process_service_xml` main.py:458-491).
  *
  * Design: the reference walks each element tree per row in Python; here the
  * walk happens ONCE, over the inferred schema on the driver, and emits pure
  * `Column` expressions — a schema→plan compiler. Execution is a single
  * narrow projection (plus one broadcast join for the category path and one
  * capped distinct-scan that discovers every pivot container's names),
  * whole-stage-codegen'd, no UDFs, no shuffles of the fact data.
  *
  * "First-wins" precedence (direct child > descendant, main.py:149-168) is
  * per-ROW: every column is a `coalesce` chain over its candidate paths in
  * schema DFS order. Union-of-keys schema inference (A8, main.py:1541-1543)
  * is the XML reader's schema inference; every emitted column is
  * string-typed (the reference's all-string data model, SURVEY.md §1).
  *
  * Documented divergences: descendant candidate ORDER is schema DFS order,
  * not per-document element order; whitespace-only text counts as missing
  * (the reader trims); `Цены` resolution takes the last base/discount row
  * rather than replaying interleaved row order.
  */
object Flatten {

  /** Image child tags excluded from columns, collected into `pictures`
    * (main.py:121-125, 200-231). */
  val ImageTags: Set[String] =
    Set("picture", "photo", "optionalImages", "image", "images", "img")

  private def isAttr(name: String): Boolean =
    name.startsWith(AttrPrefix) && name != ValueTag

  private def attrName(field: String): String = field.stripPrefix(AttrPrefix)

  /** Non-empty trimmed text, else null (reference only sets non-blank text;
    * missing keys export as empty cells). */
  private def txt(c: Column): Column = nullif(trim(c.cast("string")), lit(""))

  /** Multi-value text merge for a repeated tag: `///`-join + stable dedup
    * (main.py:134-139 + remove_duplicates main.py:87-95). */
  private def mergedText(arr: Column): Column =
    nullif(
      array_join(
        array_distinct(filter(
          transform(arr, x => trim(x.cast("string"))),
          x => x.isNotNull && x =!= "")),
        "///"),
      lit(""))

  /** Repeated-tag attribute merge: plain `///` concat, NO dedup
    * (main.py:128-132 appends without dedup). */
  private def mergedAttr(arr: Column, field: String): Column =
    nullif(
      array_join(
        filter(transform(arr, x => x.getField(field).cast("string")),
               x => x.isNotNull),
        "///"),
      lit(""))

  /** First non-empty text among repeated instances (descendant first-wins
    * fill, main.py:154-168). try_element_at: every instance can be empty
    * for a row (e.g. attribute-only elements), and under Spark 4's default
    * ANSI mode plain element_at on the empty filtered array would THROW
    * instead of yielding a missing value. */
  private def firstText(arr: Column): Column =
    try_element_at(
      filter(transform(arr, x => trim(x.cast("string"))),
             x => x.isNotNull && x =!= ""), lit(1))

  private def fieldOf(st: StructType, name: String): Option[StructField] =
    st.fields.find(_.name == name)

  // ---------------------------------------------------------------------
  // YML `offer` / generic `product` dialects (process_offer)
  // ---------------------------------------------------------------------

  /** Flatten one offer/product row-element DataFrame to the reference's
    * column model. `categoryPaths` (id -> category_path) enables the J1/J2
    * category broadcast join for the YML dialect. */
  def flattenOffers(df: DataFrame,
                    dialect: XmlSource.Dialect,
                    categoryPaths: Option[DataFrame] = None): DataFrame = {
    val isYml = dialect == XmlSource.Yml
    val schema = df.schema

    // P5: `product` elements containing nested `offer` children are variant
    // parents — skipped (main.py:497-498)
    val base =
      if (dialect == XmlSource.Product && schema.fieldNames.contains("offer"))
        schema("offer").dataType match {
          // isNull FIRST: size(null) is NULL (not <= 0), which would drop
          // every product WITHOUT nested offers too
          case _: ArrayType =>
            df.filter(col("offer").isNull || size(col("offer")) <= 0)
          case _            => df.filter(col("offer").isNull)
        }
      else df

    val cols = mutable.LinkedHashMap.empty[String, Column]
    // per-row first-wins: later candidates only fill rows where every
    // earlier candidate was null
    def merge(k: String, v: Column): Unit =
      cols(k) = cols.get(k).map(e => coalesce(e, v)).getOrElse(v)

    // -- pass 1: offer attributes -> attr_* (main.py:118-119)
    schema.fields.foreach { f =>
      if (isAttr(f.name)) cols(s"attr_${attrName(f.name)}") = txt(col(f.name))
    }

    // -- pass 2: direct children (main.py:126-147)
    schema.fields.filterNot(f => isAttr(f.name) || f.name == ValueTag).foreach { f =>
      if (!ImageTags.contains(f.name)) f.dataType match {
        case st: StructType =>
          st.fields.filter(x => isAttr(x.name)).foreach { a =>
            merge(s"${f.name}_${attrName(a.name)}",
                  txt(col(f.name).getField(a.name)))
          }
          if (st.fieldNames.contains(ValueTag))
            merge(f.name, txt(col(f.name).getField(ValueTag)))
          // nested `stock` sub-table flattens one level, overwriting
          // (main.py:141-147 assigns directly)
          if (f.name == "stock") flattenStock(st, col(f.name), cols)
        case ArrayType(st: StructType, _) =>
          st.fields.filter(x => isAttr(x.name)).foreach { a =>
            merge(s"${f.name}_${attrName(a.name)}", mergedAttr(col(f.name), a.name))
          }
          if (st.fieldNames.contains(ValueTag))
            merge(f.name,
                  mergedText(transform(col(f.name), x => x.getField(ValueTag))))
        case _: ArrayType =>
          merge(f.name, mergedText(col(f.name)))
        case _ =>
          merge(f.name, txt(col(f.name)))
      }
    }

    // -- pass 3: deeper descendants fill per-row-unset columns (coalesce),
    //    schema DFS order (main.py:149-168)
    descendantEntries(schema).foreach { case (k, v) => merge(k, v) }

    // -- categoryId: direct child, else descendant, else Undefined
    //    (main.py:170-184); non-YML dialects default both (main.py:182-184)
    cols("categoryId") =
      coalesce(cols.get("categoryId").toSeq :+ lit("Undefined"): _*)
    if (!isYml) cols("category_path") = lit("Undefined")

    // -- pictures (A3, main.py:200-244)
    cols("pictures") = picturesColumn(schema)

    // -- pivots (main.py:245-266, 284-307): raw param / feature names
    //    become columns (update() overwrites), same-key values joined ", "
    val pivots =
      if (isYml) fieldOf(schema, "param").flatMap(f =>
        pivot(col("param"), f.dataType, "", isParam = true)).toSeq
      else Seq("fabric" -> "fabric_", "features" -> "feature_").flatMap {
        case (container, prefix) => fieldOf(schema, container)
          .collect { case StructField(_, st: StructType, _, _) => st }
          .flatMap(fieldOf(_, "feature"))
          .flatMap(f => pivot(col(s"$container.feature"), f.dataType, prefix,
            isParam = false))
      }
    pivotColumns(base, pivots).foreach { case (k, v) => cols(k) = v }

    // -- description: cleaned, with per-row fallback tags (main.py:309-320)
    val descSource =
      if (isYml) Seq("description", "desc", "descr", "description_full",
                     "full_description")
      else Seq("name", "desc", "descr", "description_full", "full_description")
    val descCandidates = descSource.flatMap(cols.get)
    cols("description") =
      if (descCandidates.isEmpty) lit("")
      else coalesce(CleanFns.cleanDescription(coalesce(descCandidates: _*)), lit(""))

    // -- available default (P8, main.py:322-323)
    cols("available") = CleanFns.defaultAvailable(cols.get("available"))

    val flat = base.select(cols.map { case (k, v) =>
      v.cast("string").as(k)
    }.toSeq: _*)

    // -- J1 category broadcast join (YML)
    if (isYml) categoryPaths match {
      case Some(paths) => CategoryPath.attach(flat, "categoryId", paths)
      case None => flat.withColumn("category_path", lit("Undefined"))
    } else flat
  }

  private def flattenStock(st: StructType, c: Column,
                           cols: mutable.LinkedHashMap[String, Column]): Unit =
    st.fields.filterNot(x => isAttr(x.name) || x.name == ValueTag).foreach { f2 =>
      f2.dataType match {
        case st2: StructType =>
          if (st2.fieldNames.contains(ValueTag))
            cols(f2.name) = txt(c.getField(f2.name).getField(ValueTag))
          st2.fields.filter(x => isAttr(x.name)).foreach { a =>
            cols(s"${f2.name}_${attrName(a.name)}") =
              txt(c.getField(f2.name).getField(a.name))
          }
        case _ =>
          cols(f2.name) = txt(c.getField(f2.name))
      }
    }

  /** DFS over depth>=2 schema paths: (columnName, candidate) entries in
    * first-wins order. Arrays are reduced to their first instance for
    * deeper traversal (first-wins over repeated elements). */
  private def descendantEntries(schema: StructType): Seq[(String, Column)] = {
    val out = mutable.ArrayBuffer.empty[(String, Column)]

    def children(st: StructType, c: Column): Seq[(String, DataType, Column)] =
      st.fields.toSeq
        .filterNot(f => isAttr(f.name) || f.name == ValueTag)
        .map(f => (f.name, f.dataType, c.getField(f.name)))

    def visit(tag: String, dt: DataType, c: Column): Unit =
      if (!ImageTags.contains(tag)) dt match {
        case st: StructType =>
          st.fields.filter(a => isAttr(a.name)).foreach { a =>
            out += s"${tag}_${attrName(a.name)}" -> txt(c.getField(a.name))
          }
          if (st.fieldNames.contains(ValueTag))
            out += tag -> txt(c.getField(ValueTag))
          children(st, c).foreach { case (t2, d2, c2) => visit(t2, d2, c2) }
        case ArrayType(st: StructType, _) =>
          if (st.fieldNames.contains(ValueTag))
            out += tag -> firstText(transform(c, x => x.getField(ValueTag)))
          st.fields.filter(a => isAttr(a.name)).foreach { a =>
            out += s"${tag}_${attrName(a.name)}" ->
              firstText(transform(c, x => x.getField(a.name)))
          }
          children(st, element_at(c, 1)).foreach {
            case (t2, d2, c2) => visit(t2, d2, c2)
          }
        case _: ArrayType =>
          out += tag -> firstText(c)
        case _ =>
          out += tag -> txt(c)
      }

    // depth >= 2: start from the children of the top-level element children
    schema.fields.filterNot(f => isAttr(f.name) || f.name == ValueTag).foreach { f =>
      if (!ImageTags.contains(f.name)) f.dataType match {
        case st: StructType =>
          children(st, col(f.name)).foreach { case (t, d, c) => visit(t, d, c) }
        case ArrayType(st: StructType, _) =>
          children(st, element_at(col(f.name), 1)).foreach {
            case (t, d, c) => visit(t, d, c)
          }
        case _ => // scalars have no descendants
      }
    }
    out.toSeq
  }

  /** A3: every image-tag text at any depth, plus any attribute whose name
    * contains image/photo (attr predicate has no 'img/' clause,
    * main.py:227-229); URL-filtered, distinct, sorted, ///-joined. */
  private def picturesColumn(schema: StructType): Column = {
    val tagCands  = mutable.ArrayBuffer.empty[Column] // full F11 predicate
    val attrCands = mutable.ArrayBuffer.empty[Column] // ext-or-http predicate

    def attrIsImagey(field: String): Boolean = {
      val an = attrName(field).toLowerCase
      an.contains("image") || an.contains("photo")
    }

    def collect(name: String, dt: DataType, c: Column): Unit = dt match {
      case st: StructType =>
        st.fields.foreach { f =>
          if (isAttr(f.name)) {
            if (attrIsImagey(f.name)) attrCands += array(txt(c.getField(f.name)))
          } else if (f.name != ValueTag)
            collect(f.name, f.dataType, c.getField(f.name))
        }
        if (ImageTags.contains(name) && st.fieldNames.contains(ValueTag))
          tagCands += array(txt(c.getField(ValueTag)))
      case ArrayType(st: StructType, _) =>
        if (ImageTags.contains(name) && st.fieldNames.contains(ValueTag))
          tagCands += transform(c, x => txt(x.getField(ValueTag)))
        st.fields.foreach { f =>
          if (isAttr(f.name)) {
            if (attrIsImagey(f.name))
              attrCands += transform(c, x => txt(x.getField(f.name)))
          } else if (f.name != ValueTag) f.dataType match {
            // image tags directly under a REPEATED ancestor: collect from
            // every instance (the reference's walk visits all nodes) —
            // element_at(c, 1) descent would drop instances 2..N
            case cst: StructType
                if ImageTags.contains(f.name) &&
                  cst.fieldNames.contains(ValueTag) =>
              tagCands += transform(c,
                x => txt(x.getField(f.name).getField(ValueTag)))
            case ArrayType(ist: StructType, _)
                if ImageTags.contains(f.name) &&
                  ist.fieldNames.contains(ValueTag) =>
              tagCands += flatten(transform(c, x =>
                transform(coalesce(x.getField(f.name), array()),
                          y => txt(y.getField(ValueTag)))))
            case ArrayType(_: StructType, _) if ImageTags.contains(f.name) =>
              () // struct instances without _VALUE carry no text
            case ArrayType(_, _) if ImageTags.contains(f.name) =>
              tagCands += flatten(transform(c, x =>
                transform(coalesce(x.getField(f.name), array()), y => txt(y))))
            case _ if ImageTags.contains(f.name) =>
              tagCands += transform(c, x => txt(x.getField(f.name)))
            case _ =>
              // deeper non-image subtrees: first-instance descent (matches
              // the descendant first-wins fill semantics)
              collect(f.name, f.dataType, element_at(c, 1).getField(f.name))
          }
        }
      case _: ArrayType if ImageTags.contains(name) =>
        tagCands += transform(c, x => txt(x))
      case _ if ImageTags.contains(name) =>
        tagCands += array(txt(c))
      case _ => // non-image scalar leaf
    }

    schema.fields.foreach { f =>
      if (isAttr(f.name)) {
        if (attrIsImagey(f.name)) attrCands += array(txt(col(f.name)))
      } else if (f.name != ValueTag) collect(f.name, f.dataType, col(f.name))
    }

    val exts = Seq(".jpg", ".jpeg", ".png", ".gif", ".bmp", ".webp", ".svg")
    def extOrHttp(u: Column): Column =
      exts.map(e => lower(u).endsWith(e)).reduce(_ || _) || u.startsWith("http")

    val fromTags = tagCands.toSeq.map(a =>
      filter(coalesce(a, array()), u => u.isNotNull && CleanFns.isImageUrl(u)))
    val fromAttrs = attrCands.toSeq.map(a =>
      filter(coalesce(a, array()), u => u.isNotNull && extOrHttp(u)))
    val all = fromTags ++ fromAttrs
    if (all.isEmpty) lit("")
    else
      coalesce(
        array_join(array_sort(array_distinct(concat(all: _*))), "///"),
        lit(""))
  }

  /** Hard cap on the driver-side name-discovery collect: the distinct
    * pivot names of one flatten become COLUMNS, so the set is
    * vocabulary-bounded for any real feed — but an adversarial feed with
    * per-row unique names would otherwise grow the collect (and the output
    * schema) without bound and OOM the driver at scale. `limit(cap+1)`
    * bounds what ever reaches the driver; crossing the cap fails loudly
    * instead of truncating, because a silently-dropped column is a wrong
    * answer. */
  private[engine] val MaxDiscoveredNames = 10000

  /** One pivot container: its `_name`-bearing elements as an array, the
    * column prefix, and whether the param rules apply (numeric names
    * dropped; size-ish keys and digit-bearing '?' values get the F5
    * strip). */
  private final case class Pivot(elems: Column, hasValue: Boolean,
                                 prefix: String, isParam: Boolean)

  private def pivot(c: Column, dt: DataType, prefix: String,
                    isParam: Boolean): Option[Pivot] = {
    val (elems, st) = dt match {
      case ArrayType(st: StructType, _) => (c, st)
      case st: StructType               => (array(c), st)
      case _                            => return None
    }
    Option.when(st.fieldNames.contains(AttrPrefix + "name"))(
      Pivot(elems, st.fieldNames.contains(ValueTag), prefix, isParam))
  }

  /** Dynamic pivots (main.py:245-266, 284-307): each container's distinct
    * trimmed names become columns, in name order per container; same-key
    * values join ", ". Names are discovered by ONE capped distinct over
    * every container's (container, name) pairs, so a dialect with two
    * containers still reads the feed once (the documented 2-job pattern,
    * like P3). */
  private def pivotColumns(df: DataFrame,
                           pivots: Seq[Pivot]): Seq[(String, Column)] = {
    if (pivots.isEmpty) return Nil
    val nameF = AttrPrefix + "name"
    val tag = ArrayType(StructType(Seq(
      StructField("c", IntegerType, nullable = false),
      StructField("k", StringType))))
    // a row missing one container must not hide the others' names
    val tagged = pivots.zipWithIndex.map { case (p, i) =>
      coalesce(filter(
        transform(p.elems, e =>
          struct(lit(i).as("c"), trim(e.getField(nameF)).as("k"))),
        e => e.getField("k") =!= "" &&
          (if (p.isParam) !CleanFns.isNumericString(e.getField("k"))
           else lit(true))), array().cast(tag))
    }
    val found = df.select(explode(concat(tagged: _*)).as("p"))
      .select("p.c", "p.k").distinct()
      .limit(MaxDiscoveredNames + 1).collect()
    if (found.length > MaxDiscoveredNames)
      throw new IllegalArgumentException(
        s"pivot name discovery exceeded $MaxDiscoveredNames distinct names; " +
        "this feed's names are not vocabulary-bounded (each would become an " +
        "output column) — clean the feed or pivot explicitly")
    val names = found.groupMap(_.getInt(0))(_.getString(1))
    pivots.zipWithIndex.flatMap { case (p, i) =>
      names.getOrElse(i, Array.empty[String]).sorted.map { name =>
        val vals = transform(
          filter(p.elems, e => trim(e.getField(nameF)) === name),
          e => {
            val v =
              if (p.hasValue) coalesce(trim(e.getField(ValueTag).cast("string")), lit(""))
              else lit("")
            if (!p.isParam) v
            else when(CleanFns.sizeKeyish(lit(name)) ||
                        (v.contains("?") && v.rlike("[0-9]")),
                      CleanFns.stripQuestion(v))
              .otherwise(v)
          })
        s"${p.prefix}$name" -> array_join(vals, ", ")
      }
    }
  }

  // ---------------------------------------------------------------------
  // Russian 1C dialect (process_russian_xml, main.py:328-455)
  // ---------------------------------------------------------------------

  def flattenRussian(df: DataFrame): DataFrame = {
    val schema = df.schema
    val cols = mutable.LinkedHashMap.empty[String, Column]

    // scalar children with RU field aliasing (F10, main.py:418-447)
    schema.fields
      .filterNot(f => isAttr(f.name) || f.name == ValueTag || f.name == "ТЧ")
      .foreach { f =>
        val v = f.dataType match {
          case _: ArrayType => mergedText(col(f.name))
          case st: StructType if st.fieldNames.contains(ValueTag) =>
            txt(col(f.name).getField(ValueTag))
          case _: StructType => lit(null).cast("string")
          case _             => txt(col(f.name))
        }
        f.name match {
          case "ОписаниеДляСайта" | "description" =>
            cols("description") = when(v.isNotNull, CleanFns.cleanDescription(v))
          case "Наименование" =>
            cols("name") = when(v.isNotNull, CleanFns.sanitizeName(v))
          case "ПолноеНазваниеСайт" =>
            cols("full_name") = when(v.isNotNull, CleanFns.sanitizeName(v))
          case "Артикул" =>
            cols("Артикул") = v; cols("vendor") = v; cols("vendorCode") = v
          case "Глубина" | "Ширина" | "Высота" | "Вес" =>
            cols(f.name.toLowerCase) = v
          case "Цвет" =>
            cols("param_Цвет") = v
          case other =>
            cols(other) = v
        }
      }

    // ТЧ sub-tables (main.py:335-412)
    if (schema.fieldNames.contains("ТЧ")) {
      val tcKind = AttrPrefix + "ИмяТабличнойЧасти"
      val (tcArr, tcType) = schema("ТЧ").dataType match {
        case ArrayType(st: StructType, _) => (col("ТЧ"), st)
        case st: StructType               => (array(col("ТЧ")), st)
        case _                            => (array(), new StructType())
      }
      val rowsType: Option[StructType] =
        fieldOf(tcType, "ЭлементТЧ").map(_.dataType).flatMap {
          case ArrayType(st: StructType, _) => Some(st)
          case st: StructType               => Some(st)
          case _                            => None
        }

      if (tcType.fieldNames.contains(tcKind) && rowsType.isDefined) {
        val rt = rowsType.get
        def fld(r: Column, name: String): Column =
          if (rt.fieldNames.contains(name)) txt(r.getField(name))
          else lit(null).cast("string")
        /** All ЭлементТЧ rows of every ТЧ with the given kind, in order. */
        def rowsOf(kind: String): Column = {
          val matched = filter(tcArr, t => trim(t.getField(tcKind)) === kind)
          val arrays = transform(matched, t =>
            fieldOf(tcType, "ЭлементТЧ").get.dataType match {
              case _: ArrayType => t.getField("ЭлементТЧ")
              case _            => array(t.getField("ЭлементТЧ"))
            })
          flatten(filter(arrays, a => a.isNotNull))
        }
        def nonEmpty(r: Column): Column = coalesce(size(r), lit(0)) > 0

        // Остатки: stock sum + availability + details (main.py:348-365)
        val stock = rowsOf("Остатки")
        val qty   = (r: Column) => coalesce(fld(r, "КоличествоОстаток"), lit("0"))
        // try_cast: a non-numeric quantity ('1,5', '5 шт') must degrade to
        // null, not throw under default ANSI — the isNull branches below
        // rely on null-on-bad-cast semantics
        val total = aggregate(stock, lit(0.0),
          (acc, r) => acc + coalesce(qty(r).try_cast("double"), lit(0.0)))
        cols("available") = when(nonEmpty(stock),
          when(total > 0, "1").otherwise("0"))
        cols("stock_total") = when(nonEmpty(stock), total.cast("string"))
        // array_distinct: the reference's final pass dedups every
        // ///-valued cell (main.py:449-451), incl. repeated warehouse rows
        cols("stock_details") = when(nonEmpty(stock),
          array_join(
            array_distinct(transform(
              filter(stock, r => {
                val d = qty(r).try_cast("double")
                (d > 0) || (d.isNull && qty(r) =!= "0")
              }),
              r => concat(coalesce(fld(r, "СкладНаименование"), lit("")),
                          lit(": "), qty(r)))),
            "///"))

        // Цены: price/oldprice resolution (A5, main.py:367-376)
        val prices = rowsOf("Цены")
        // try_element_at: a ТЧ present without matching Цены rows filters
        // to an empty array — plain element_at(-1) would throw under ANSI
        def lastVal(r: Column, pred: Column => Column): Column =
          try_element_at(
            transform(filter(r, x => pred(x)), x => fld(x, "Значение")),
            lit(-1))
        val baseP = lastVal(prices, x =>
          fld(x, "Наименование") === "Цена" && fld(x, "Значение").isNotNull)
        val discP = lastVal(prices, x =>
          fld(x, "Наименование") === "ЦенаСкидка" &&
            fld(x, "Значение").isNotNull && fld(x, "Значение") =!= "0")
        cols("price")    = coalesce(discP, baseP)
        cols("oldprice") = when(discP.isNotNull, coalesce(baseP, lit("")))

        // Материалы: name + id dedup merge (main.py:378-399, U3)
        val mats = rowsOf("Материалы")
        val matNames = array_distinct(filter(
          transform(mats, r => fld(r, "Наименование")), x => x.isNotNull))
        cols("материалы") =
          when(coalesce(size(matNames), lit(0)) > 0, array_join(matNames, "///"))
        val matIds = array_distinct(filter(
          transform(mats, r => fld(r, "ID_Материала")), x => x.isNotNull))
        val existingIds = cols.get("ID_Материала")
        cols("ID_Материала") = when(coalesce(size(matIds), lit(0)) > 0,
            array_join(
              array_distinct(concat(
                filter(transform(
                  split(coalesce(existingIds.getOrElse(lit(null)), lit("")), "///"),
                  x => trim(x)), x => x =!= ""),
                matIds)),
              "///"))
          .otherwise(existingIds.getOrElse(lit(null)))

        // Стили / ГруппыСайта (main.py:400-412)
        val styles = rowsOf("Стили")
        val styleNames = array_distinct(filter(
          transform(styles, r => fld(r, "Наименование")), x => x.isNotNull))
        cols("стили") =
          when(coalesce(size(styleNames), lit(0)) > 0, array_join(styleNames, "///"))

        val groups = rowsOf("ГруппыСайта")
        val groupNames = array_distinct(filter(
          transform(groups, r => fld(r, "Наименование")), x => x.isNotNull))
        cols("category_path") =
          when(coalesce(size(groupNames), lit(0)) > 0, array_join(groupNames, "///"))
        cols("categoryId") =
          when(coalesce(size(groupNames), lit(0)) > 0, element_at(groupNames, 1))
      }
    }

    // defaults + ID alias (main.py:440-450)
    cols("available") = CleanFns.defaultAvailable(cols.get("available"))
    cols("category_path") =
      coalesce(cols.get("category_path").toSeq :+ lit("Undefined"): _*)
    cols("categoryId") =
      coalesce(cols.get("categoryId").toSeq :+ lit("Undefined"): _*)
    cols.get("ID").foreach { idv =>
      cols("id") = coalesce(idv +: cols.get("id").toSeq: _*)
    }

    df.select(cols.map { case (k, v) => v.cast("string").as(k) }.toSeq: _*)
  }

  // ---------------------------------------------------------------------
  // `service` dialect (process_service_xml, main.py:458-491)
  // ---------------------------------------------------------------------

  def flattenService(df: DataFrame): DataFrame = {
    val schema = df.schema
    val cols = mutable.LinkedHashMap.empty[String, Column]

    // service attributes are UNprefixed (main.py:463-464)
    schema.fields.foreach { f =>
      if (isAttr(f.name)) cols(attrName(f.name)) = txt(col(f.name))
    }
    // children: text + tag_attr columns (main.py:466-473)
    schema.fields.filterNot(f => isAttr(f.name) || f.name == ValueTag).foreach { f =>
      f.dataType match {
        case st: StructType =>
          if (st.fieldNames.contains(ValueTag))
            cols(f.name) = txt(col(f.name).getField(ValueTag))
          st.fields.filter(x => isAttr(x.name)).foreach { a =>
            cols(s"${f.name}_${attrName(a.name)}") =
              txt(col(f.name).getField(a.name))
          }
        case ArrayType(st: StructType, _) =>
          if (st.fieldNames.contains(ValueTag))
            cols(f.name) =
              mergedText(transform(col(f.name), x => x.getField(ValueTag)))
          st.fields.filter(x => isAttr(x.name)).foreach { a =>
            cols(s"${f.name}_${attrName(a.name)}") = mergedAttr(col(f.name), a.name)
          }
        case _: ArrayType => cols(f.name) = mergedText(col(f.name))
        case _            => cols(f.name) = txt(col(f.name))
      }
    }

    // defaults (main.py:475-487): category_path uses the UNsanitized name,
    // THEN name is sanitized
    cols("available") = CleanFns.defaultAvailable(cols.get("available"))
    cols("category_path") = coalesce(
      (cols.get("category_path").toSeq ++ cols.get("name").toSeq :+ lit("Service")): _*)
    cols("categoryId") = coalesce(
      (cols.get("categoryId").toSeq ++ cols.get("id").toSeq ++
        cols.get("sid").toSeq :+ lit("service")): _*)
    cols.get("name").foreach { n =>
      cols("name") = when(n.isNotNull, CleanFns.sanitizeName(n))
    }
    cols("service_type") = lit("verification_service")

    df.select(cols.map { case (k, v) => v.cast("string").as(k) }.toSeq: _*)
  }
}
