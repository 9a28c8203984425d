package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{CleanFns, MultiValue}
import graft.operators.{AsOfJoin, Bucketing, RangeJoin, SaltedJoin}

/** Remaining small operators from SURVEY.md §2 registered as verified
  * queries: A2 param concat, F6/F8 cell scrubs, F11 image predicate,
  * F14 numeric predicate, T3/T4 row caps, U3 value-level dedup merge. */
object MiscQueries {

  val all: Seq[Q] = Seq(

    // ----- A2: same-key param concat with ", " (main.py:263-266) -----
    Q("q31_param_concat",
      "A2 sorted ', '-joined value concat per group",
      Some("""SELECT o_custkey,
             |       string_agg(o_orderstatus, ', ' ORDER BY o_orderstatus) AS statuses
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(MultiValue.paramConcat($"o_orderstatus").as("statuses"))
          .orderBy("o_custkey")
      }),

    // ----- F11: image-URL predicate (main.py:201-210) -----
    Q("q32_image_predicate",
      "F11 extension/img-path/http URL-shape predicate over synthetic urls",
      Some("""SELECT p_partkey, url,
             |       CASE WHEN lower(url) LIKE '%.jpg' OR lower(url) LIKE '%.jpeg'
             |              OR lower(url) LIKE '%.png' OR lower(url) LIKE '%.gif'
             |              OR lower(url) LIKE '%.bmp' OR lower(url) LIKE '%.webp'
             |              OR lower(url) LIKE '%.svg' OR lower(url) LIKE '%img/%'
             |              OR url LIKE 'http%' THEN 1 ELSE 0 END AS is_image
             |FROM (
             |  SELECT p_partkey,
             |         CASE CAST(p_partkey % 4 AS INT)
             |           WHEN 0 THEN 'http://cdn/' || replace(p_name, ' ', '_')
             |           WHEN 1 THEN replace(p_name, ' ', '_') || '.JPG'
             |           WHEN 2 THEN 'cdn/img/' || replace(p_name, ' ', '_')
             |           ELSE replace(p_name, ' ', '_') || '.txt' END AS url
             |  FROM part) t
             |ORDER BY p_partkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val stem = regexp_replace($"p_name", " ", "_")
        val url = when($"p_partkey" % 4 === 0, concat(lit("http://cdn/"), stem))
          .when($"p_partkey" % 4 === 1, concat(stem, lit(".JPG")))
          .when($"p_partkey" % 4 === 2, concat(lit("cdn/img/"), stem))
          .otherwise(concat(stem, lit(".txt")))
        Tables(s, dir, "part")
          .select($"p_partkey", url.as("url"),
                  when(CleanFns.isImageUrl($"url"), 1).otherwise(0).as("is_image"))
          .orderBy("p_partkey")
      }),

    // ----- F6/F8: CSV cell scrub + control-char strip -----
    Q("q33_scrub_cells",
      "F6 newline->space scrub and F8 control-char strip",
      Some("""SELECT c_custkey,
             |       regexp_replace(c_name || chr(10) || 'x' || chr(13) || 'y', '[\n\r]', ' ', 'g') AS scrubbed,
             |       regexp_replace(chr(1) || c_name || chr(127), '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g') AS stripped
             |FROM customer ORDER BY c_custkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "customer")
          .select($"c_custkey",
            CleanFns.scrubCell(concat($"c_name", lit("\nx\ry"))).as("scrubbed"),
            CleanFns.stripControlChars(
              concat(lit("\u0001"), $"c_name", lit("\u007f"))).as("stripped"))
          .orderBy("c_custkey")
      }),

    // ----- F14: numeric-string predicate (main.py:191) -----
    Q("q34_numeric_predicate",
      "F14 isdigit-after-one-dot predicate over synthetic numeric strings",
      Some("""SELECT p_partkey, s,
             |       CASE WHEN regexp_matches(s, '^(\d+\.?\d*|\.\d+)$') THEN 1 ELSE 0 END AS is_numeric
             |FROM (
             |  SELECT p_partkey,
             |         CASE CAST(p_partkey % 4 AS INT)
             |           WHEN 0 THEN CAST(p_size AS VARCHAR)
             |           WHEN 1 THEN CAST(p_size AS VARCHAR) || '.'
             |           WHEN 2 THEN '.' || CAST(p_size AS VARCHAR)
             |           ELSE CAST(p_size AS VARCHAR) || 'x' END AS s
             |  FROM part) t
             |ORDER BY p_partkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val sz = $"p_size".cast("string")
        val v = when($"p_partkey" % 4 === 0, sz)
          .when($"p_partkey" % 4 === 1, concat(sz, lit(".")))
          .when($"p_partkey" % 4 === 2, concat(lit("."), sz))
          .otherwise(concat(sz, lit("x")))
        Tables(s, dir, "part")
          .select($"p_partkey", v.as("s"),
                  when(CleanFns.isNumericString($"s"), 1).otherwise(0).as("is_numeric"))
          .orderBy("p_partkey")
      }),

    // ----- T3/T4: first-N caps (main.py:1100, 1133) -----
    Q("q35_limit_cap",
      "T3/T4 deterministic first-50 cap after explicit ordering",
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
             |FROM orders ORDER BY o_orderkey LIMIT 50""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
          .orderBy("o_orderkey")
          .limit(50)
      }),

    // ----- extension: as-of join (union+window form; oracle = native ASOF) -----
    Q("q39_asof_join",
      "each purchase enriched with the latest click value at-or-before it " +
        "per user (one shuffle on the key, no range explosion)",
      Some("""WITH clicks AS (
             |  SELECT user_id, ts, max(value) AS click_value
             |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
             |       p.value, c.click_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts", $"value")
        val clicks = ev.filter($"event_type" === "click")
          .groupBy($"user_id", $"ts").agg(max($"value").as("click_value"))
        AsOfJoin.asofJoin(purchases, clicks, "user_id", "ts", Seq("click_value"))
          .select($"event_id", $"user_id", $"ts", $"value", $"click_value")
          .orderBy("event_id")
      }),

    // ----- extension: rollup aggregation (SURVEY §2.4 "free if we extend") -----
    Q("q40_rollup",
      "ROLLUP over (returnflag, linestatus): subtotals + grand total",
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n_rows"),
               sum($"l_quantity".cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
          .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
      }),

    // ----- extension: running-total window frame -----
    Q("q41_running_total",
      "per-customer running order total in orderkey order (rows frame)",
      Some("""SELECT o_custkey, o_orderkey,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |            OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             |         AS running_total
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "orders")
          .select($"o_custkey", $"o_orderkey",
            sum($"o_totalprice".cast(DecimalType(18, 2))).over(w)
              .cast("double").as("running_total"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // ----- U3: value-level dedup merge (main.py:392-399) -----
    Q("q36_value_dedup_merge",
      "U3 merge of two ///-delimited cells with stable dedup (F3)",
      Some("""SELECT p_partkey,
             |       CASE WHEN p_brand = p_type THEN p_brand
             |            ELSE p_brand || '///' || p_type END AS merged
             |FROM part ORDER BY p_partkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val a = concat($"p_brand", lit("///"), $"p_type")
        val b = concat($"p_type", lit("///"), $"p_brand")
        Tables(s, dir, "part")
          .select($"p_partkey",
            CleanFns.dedupDelimited(concat(a, lit("///"), b)).as("merged"))
          .orderBy("p_partkey")
      }),

    // ----- extension: bucketed interval (range) join -----
    Q("q43_range_join",
      "events inside [anchor, anchor+2h) windows via the BUCKETED range " +
        "join (equi join on time bin, never a nested-loop product)",
      Some("""WITH anchors AS (
             |  SELECT event_id AS window_id, ts AS start_ts,
             |         ts + INTERVAL 2 HOUR AS end_ts
             |  FROM events WHERE event_type = 'purchase' AND user_id % 500 = 0)
             |SELECT a.window_id,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM anchors a JOIN events e
             |  ON e.ts >= a.start_ts AND e.ts < a.end_ts
             |GROUP BY a.window_id ORDER BY a.window_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val ev = Tables(s, dir, "events")
        val anchors = ev
          .filter($"event_type" === "purchase" && $"user_id" % 500 === 0)
          .select($"event_id".as("window_id"), $"ts".as("start_ts"),
                  ($"ts" + expr("INTERVAL 2 HOUR")).as("end_ts"))
        RangeJoin.byBucket(ev.select($"ts", $"value"), "ts",
                           anchors, "start_ts", "end_ts",
                           binSeconds = 3600L)
          .groupBy($"window_id")
          .agg(count(lit(1)).as("n_events"),
               sum($"value".cast(DecimalType(18, 2))).cast("double")
                 .as("sum_value"))
          .orderBy("window_id")
      }),

    // ----- extension: cube aggregation (SURVEY §2.4 "free if we extend") -----
    Q("q44_cube",
      "CUBE over (event_type, hour-of-day): every subtotal combination",
      Some("""SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hod,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY CUBE (event_type, hod)
             |ORDER BY event_type NULLS FIRST, hod NULLS FIRST""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .withColumn("hod", hour($"ts").cast("long"))
          .cube($"event_type", $"hod")
          .agg(count(lit(1)).as("n_events"),
               sum($"value".cast(DecimalType(18, 2))).cast("double")
                 .as("sum_value"))
          .orderBy($"event_type".asc_nulls_first, $"hod".asc_nulls_first)
      })
    ,

    // ----- extension: salted join over a skewed key -----
    Q("q45_salted_join",
      "lineitem joined to a 3-row flag dim through the SALTED join (hot " +
        "keys span numSalts tasks); result identical to the plain join",
      Some("""WITH dim AS (SELECT * FROM (VALUES ('A','accepted'),('N','new'),
             |                                   ('R','returned')) AS t(l_returnflag, label))
             |SELECT d.label, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem l JOIN dim d USING (l_returnflag)
             |GROUP BY d.label ORDER BY d.label""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val dim = Seq(("A", "accepted"), ("N", "new"), ("R", "returned"))
          .toDF("l_returnflag", "label")
        SaltedJoin.join(Tables(s, dir, "lineitem"), dim, "l_returnflag",
                        numSalts = 32,
                        saltSource = struct($"l_orderkey", $"l_linenumber"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n_rows"),
               sum($"l_quantity".cast(DecimalType(18, 2))).cast("double")
                 .as("sum_qty"))
          .orderBy("label")
      }),

    // ----- extension: distinct aggregation (exact; the HLL approx variant
    // is spec-verified against this within tolerance, sketches differ
    // across engines so it cannot hash-match an oracle) -----
    Q("q47_distinct_users",
      "exact per-group distinct-count aggregation",
      Some("""SELECT event_type,
             |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |       CAST(count(*) AS BIGINT) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .groupBy($"event_type")
          .agg(countDistinct($"user_id").as("n_users"),
               count(lit(1)).as("n_events"))
          .orderBy("event_type")
      }),

    // ----- extension: INTERSECT / EXCEPT set ops (SURVEY §2.6) -----
    Q("q58_set_ops",
      "customer keys buying in BOTH halves of the order history " +
        "(INTERSECT) and only in the first half (EXCEPT)",
      Some("""WITH h1 AS (SELECT DISTINCT o_custkey FROM orders
             |            WHERE o_orderdate <  DATE '1995-01-01'),
             |     h2 AS (SELECT DISTINCT o_custkey FROM orders
             |            WHERE o_orderdate >= DATE '1995-01-01'),
             |     both_h AS (SELECT o_custkey FROM h1 INTERSECT
             |                SELECT o_custkey FROM h2),
             |     only1 AS (SELECT o_custkey FROM h1 EXCEPT
             |               SELECT o_custkey FROM h2)
             |SELECT 'both' AS bucket, CAST(count(*) AS BIGINT) AS n FROM both_h
             |UNION ALL
             |SELECT 'h1_only', CAST(count(*) AS BIGINT) FROM only1
             |ORDER BY bucket""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val o = Tables(s, dir, "orders")
        val h1 = o.filter($"o_orderdate" < "1995-01-01")
          .select($"o_custkey").distinct()
        val h2 = o.filter($"o_orderdate" >= "1995-01-01")
          .select($"o_custkey").distinct()
        val both = h1.intersect(h2).agg(count(lit(1)).as("n"))
          .withColumn("bucket", lit("both"))
        val only1 = h1.except(h2).agg(count(lit(1)).as("n"))
          .withColumn("bucket", lit("h1_only"))
        both.unionByName(only1).select($"bucket", $"n").orderBy("bucket")
      }),

    // ----- extension: RANGE window frame (time-based moving aggregate) -----
    Q("q57_range_frame",
      "per-user trailing 1-hour event count at each event (RANGE frame " +
        "over event time — value-based, not row-count-based)",
      Some("""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             |       CAST(count(*) OVER (
             |         PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
             |         AS n_last_hour
             |FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id")
          .orderBy(unix_micros($"ts"))
          .rangeBetween(-3600L * 1000000L, Window.currentRow)
        Tables(s, dir, "events")
          .withColumn("n_last_hour", count(lit(1)).over(w))
          .select($"event_id", $"user_id", $"ts", $"n_last_hour")
          .orderBy("event_id")
      }),

    // ----- extension: latest-row-per-key (SCD-style upsert compaction) -----
    Q("q55_latest_per_key",
      "each user's most recent event (row_number=1 over ts desc, " +
        "event_id tiebreak) — the compaction step of any upsert feed",
      Some("""SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
             |FROM (SELECT user_id, event_id, ts, event_type,
             |             row_number() OVER (PARTITION BY user_id
             |                                ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id")
          .orderBy($"ts".desc, $"event_id".desc)
        Tables(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"user_id", $"event_id", $"ts", $"event_type")
          .orderBy("user_id")
      }),

    // ----- extension: semi/anti joins (SURVEY §2.3 "free in Spark") -----
    Q("q56_semi_anti",
      "per-nation counts of customers WITH orders (semi) and WITHOUT " +
        "orders (anti) in one result",
      Some("""SELECT c_nationkey,
             |       CAST(count(*) FILTER (WHERE has_order) AS BIGINT) AS with_orders,
             |       CAST(count(*) FILTER (WHERE NOT has_order) AS BIGINT) AS without_orders
             |FROM (SELECT c_custkey, c_nationkey,
             |             EXISTS (SELECT 1 FROM orders o
             |                     WHERE o.o_custkey = c.c_custkey) AS has_order
             |      FROM customer c)
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val customer = Tables(s, dir, "customer")
        val orders = Tables(s, dir, "orders")
          .select($"o_custkey".as("c_custkey"))
        val withO = customer.join(orders, Seq("c_custkey"), "left_semi")
          .groupBy($"c_nationkey").agg(count(lit(1)).as("with_orders"))
        val withoutO = customer.join(orders, Seq("c_custkey"), "left_anti")
          .groupBy($"c_nationkey").agg(count(lit(1)).as("without_orders"))
        withO.join(withoutO, Seq("c_nationkey"), "full")
          .na.fill(0L, Seq("with_orders", "without_orders"))
          .orderBy("c_nationkey")
      }),

    // ----- extension: batch gap sessionization -----
    Q("q54_sessionize",
      "30-minute-gap sessions per user from the events history: gap " +
        "flags, a running sum into session indexes, one user-keyed aggregate",
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id,
             |         CASE WHEN lag(ts) OVER w IS NULL
             |                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             |              THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             | sessions AS (
             |  SELECT user_id, ts,
             |         sum(new_session) OVER (PARTITION BY user_id
             |                                ORDER BY ts, event_id) AS session_idx
             |  FROM flagged)
             |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             |       CAST(min(ts) AS TIMESTAMP) AS session_start,
             |       CAST(max(ts) AS TIMESTAMP) AS session_end,
             |       CAST(count(*) AS BIGINT) AS n_events
             |FROM sessions GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin),
      (s, dir) => {
        import s.implicits._
        graft.streaming.EventStreams.sessionizeBatch(
            Tables(s, dir, "events"), gapMinutes = 30)
          // total_value is a float sum (addition-order-dependent) — the
          // hash contract covers the exact columns only
          .select($"user_id", $"session_idx", $"session_start",
                  $"session_end", $"n_events")
          .orderBy("user_id", "session_idx")
      }),

    // ----- extension: GROUPING SETS (the general rollup/cube form) -----
    Q("q51_grouping_sets",
      "explicit GROUPING SETS: by type, by user-bucket, and grand total " +
        "in one pass",
      Some("""SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
             |ORDER BY event_type NULLS FIRST, user_bucket NULLS FIRST""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .withColumn("user_bucket", ($"user_id" % 10).cast("long"))
          .createOrReplaceTempView("events_gs")
        s.sql("""SELECT event_type, user_bucket,
                |       count(*) AS n_events,
                |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
                |FROM events_gs
                |GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
                |ORDER BY event_type ASC NULLS FIRST,
                |         user_bucket ASC NULLS FIRST""".stripMargin)
      }),

    // ----- extension: exact percentiles (interpolated, both engines) -----
    Q("q52_percentiles",
      "exact interpolated median/p95 of value per event type (rounded to " +
        "6 decimals so both engines' float formatting agrees)",
      Some("""SELECT event_type,
             |       round(quantile_cont(value, 0.5), 6) AS p50,
             |       round(quantile_cont(value, 0.95), 6) AS p95
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .groupBy($"event_type")
          .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
               round(expr("percentile(value, 0.95)"), 6).as("p95"))
          .orderBy("event_type")
      }),

    // ----- extension: pivot (long -> wide, the reference's param pivot) -----
    Q("q53_pivot",
      "event counts pivoted to one column per type (the long->wide reshape " +
        "behind the reference's param_* columns)",
      Some("""SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
             |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
             |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
             |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
             |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
             |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
             |FROM events GROUP BY user_bucket ORDER BY user_bucket""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "events")
          .withColumn("user_bucket", ($"user_id" % 10).cast("long"))
          .groupBy($"user_bucket")
          // explicit value list: no extra distinct-discovery job, stable
          // column order (the dynamic form would scan for types first)
          .pivot("event_type",
                 Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_bucket")
      }),

    // ----- extension: FORWARD as-of join with tolerance -----
    Q("q50_asof_forward_tol",
      "next click value at-or-after each purchase per user, nulled when " +
        "farther than 30 minutes (forward as-of + tolerance)",
      Some("""WITH clicks AS (
             |  SELECT user_id, ts, max(value) AS next_click_value
             |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
             |       p.value,
             |       CASE WHEN c.ts IS NOT NULL AND c.ts - p.ts <= INTERVAL 30 MINUTE
             |            THEN c.next_click_value END AS next_click_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND p.ts <= c.ts
             |ORDER BY p.event_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts", $"value")
        val clicks = ev.filter($"event_type" === "click")
          .groupBy($"user_id", $"ts").agg(max($"value").as("next_click_value"))
        AsOfJoin.asofJoin(purchases, clicks, "user_id", "ts",
                          Seq("next_click_value"),
                          direction = "forward",
                          toleranceSeconds = Some(30L * 60))
          .select($"event_id", $"user_id", $"ts", $"value",
                  $"next_click_value")
          .orderBy("event_id")
      }),

    // ----- bucketed co-located join (write once, join shuffle-free) -----
    Q("q154_bucketed_join",
      "documents joined to their embedding rows through BUCKETED table " +
        "layout: both sides written bucketed+bucket-sorted by their id " +
        "into 16 buckets, then a sort-merge join whose children need NO " +
        "shuffle (the bucket spec satisfies the join's distribution " +
        "requirement — PlanShapeSpec pins the exchange-free shape); the " +
        "write-once/join-many design for text-embedding sibling tables",
      Some("""SELECT d.doc_id, d.lang, d.n_chars, e.label
             |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => {
        val base = new java.io.File(
          sys.props("java.io.tmpdir"),
          "graft_bucketed_" + Bucketing.pathKey(dir)).toString
        Bucketing.writeBucketed(Tables(s, dir, "documents"),
          "graft_q154_documents", s"$base/documents", "doc_id", 16)
        Bucketing.writeBucketed(
          Tables(s, dir, "embeddings").select(col("vec_id"), col("label")),
          "graft_q154_embeddings", s"$base/embeddings", "vec_id", 16)
        val d = s.table("graft_q154_documents")
        val e = s.table("graft_q154_embeddings")
        d.hint("merge").join(e, d("doc_id") === e("vec_id"))
          .select(d("doc_id"), d("lang"), d("n_chars"), e("label"))
          .orderBy("doc_id")
      }),

    // ----- event-rate anomaly vs trailing window -----
    Q("q157_rate_anomaly",
      "per-type hourly event counts z-scored against each type's OWN " +
        "trailing 24h window (avg/stddev over the 24 preceding hour " +
        "slots, current hour excluded; z only when >= 12 slots of " +
        "history) — the rate-spike monitor over an ingest feed; the " +
        "corpus compresses to (type, hour) rows before any window runs",
      Some("""WITH h AS (
             |  SELECT event_type,
             |         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2),
             |w AS (
             |  SELECT event_type, hr, c,
             |         count(*) OVER tw AS n_hist,
             |         avg(c) OVER tw AS mu,
             |         stddev_pop(c) OVER tw AS sd
             |  FROM h
             |  WINDOW tw AS (PARTITION BY event_type ORDER BY hr
             |                RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |SELECT event_type, hr, c,
             |       CAST(n_hist AS BIGINT) AS n_hist,
             |       CASE WHEN n_hist >= 12 AND sd > 0
             |            THEN round((c - mu) / sd, 6) END AS z,
             |       coalesce(n_hist >= 12 AND sd > 0
             |                AND abs(round((c - mu) / sd, 6)) > 2.0,
             |                false) AS anomaly
             |FROM w ORDER BY event_type, hr""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.rateAnomaly(Tables(s, dir, "events"),
            "event_type", "ts", trailing = 24, minHist = 12, zThresh = 2.0)
          .orderBy("event_type", "hr")),

    // ----- small-file compaction -----
    Q("q161_compaction",
      "small-files maintenance: documents scattered across 64 tiny part " +
        "files are compacted into size-targeted files (coalesce — no " +
        "shuffle), and the per-source checksum table proves content is " +
        "byte-identical through the rewrite; LayoutSpec pins the file " +
        "counts — the continuous table-health job of a streaming lake",
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(('0x' || substring(md5(text), 1, 10))::BIGINT)
             |         AS BIGINT) AS checksum
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_compact_" + graft.operators.Bucketing.pathKey(dir)).toString
        Tables(s, dir, "documents").repartition(64)
          .write.mode("overwrite").parquet(s"$base/small")
        graft.sinks.Layout.compactParquet(s, s"$base/small",
          s"$base/compact", targetBytes = 4L * 1024 * 1024)
        s.read.parquet(s"$base/compact")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(conv(substring(md5(col("text")), 1, 10), 16, 10)
              .cast("long")).cast("long").as("checksum"))
          .orderBy("source")
      }),

    // ----- sort-clustered layout: file-level data skipping -----
    Q("q162_clustered_scan",
      "documents rewritten range-clustered on n_chars (disjoint per-file " +
        "ranges + in-file sort -> tight footer min/max), then a " +
        "selective length filter aggregated per lang: the reader admits " +
        "only the files whose range overlaps the predicate — LayoutSpec " +
        "pins the scan decoding strictly fewer rows than the unclustered " +
        "layout pays for the same answer",
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM documents WHERE n_chars >= 400
             |GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_cluster_" + graft.operators.Bucketing.pathKey(dir)).toString
        graft.sinks.Layout.writeClustered(
          Tables(s, dir, "documents"), base, n = 4, "n_chars")
        s.read.parquet(base)
          .filter(col("n_chars") >= 400)
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .orderBy("lang")
      }),

    // ----- parquet bloom filter: point lookups on an unsorted key -----
    Q("q163_bloom_lookup",
      "documents written id-SHUFFLED with a parquet bloom filter on " +
        "doc_id, then a point-lookup of three ids: min/max stats are " +
        "useless under the shuffle, the bloom filter still skips every " +
        "row group that definitely lacks the keys — equality skipping " +
        "on a key the data is not sorted by; LayoutSpec pins the " +
        "decoded-row metric",
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
             |WHERE doc_id IN (37, 123, 222) ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_bloom_" + graft.operators.Bucketing.pathKey(dir)).toString
        // round-robin repartition alone stripes every file across the
        // full id range (min/max stats useless) — no sort needed
        graft.sinks.Layout.writeWithBloom(
          Tables(s, dir, "documents").repartition(4),
          base, "doc_id", expectedNdv = 100000L)
        s.read.parquet(base)
          .filter(col("doc_id").isin(37L, 123L, 222L))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy("doc_id")
      }),

    // ----- parquet schema evolution (mergeSchema union) -----
    Q("q165_schema_evolution",
      "a table whose schema GREW between writes: v1 files carry " +
        "(doc_id, lang), later v2 files add (source, n_chars); one " +
        "mergeSchema read unions both generations — absent columns " +
        "null-fill — and the per-lang rollup counts how much of the " +
        "table has the new columns; the append-only schema-growth path " +
        "every long-lived lake table walks",
      Some("""WITH u AS (
             |  SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
             |         CAST(NULL AS BIGINT) AS n_chars
             |  FROM documents WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT doc_id, lang, source, n_chars FROM documents
             |  WHERE doc_id % 2 <> 0)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(count(source) AS BIGINT) AS n_with_source,
             |       CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS total_chars
             |FROM u GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_evolve_" + graft.operators.Bucketing.pathKey(dir)).toString
        val docs = Tables(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$base/v1")
        docs.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$base/v2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$base/v1", s"$base/v2")
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            count(col("source")).cast("long").as("n_with_source"),
            sum(coalesce(col("n_chars"), lit(0L))).cast("long")
              .as("total_chars"))
          .orderBy("lang")
      }),

    // ----- semi-structured JSON column -----
    Q("q166_json_props",
      "the events feed's semi-structured props column ('{\"k\": N}') " +
        "parsed in place and rolled up per (event_type, k-decade): " +
        "JSON stays a string column until the one projection that " +
        "extracts the path — no schema migration, no UDF, the " +
        "get_json_object expression is codegen'd map-side",
      Some("""SELECT event_type,
             |       CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
             |         // 10 AS BIGINT) AS k_bucket,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       round(sum(value), 6) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("event_type"),
            // FLOOR division, matching DuckDB's `//` on negative keys
            // (Spark's `div` truncates toward zero instead)
            floor(expr("CAST(get_json_object(props, '$.k') AS BIGINT)")
              .cast("double") / 10.0).cast("long").as("k_bucket"),
            col("value"))
          .groupBy("event_type", "k_bucket")
          .agg(count(lit(1)).cast("long").as("n_events"),
            round(sum(col("value")), 6).as("total_value"))
          .orderBy("event_type", "k_bucket")),

    // ----- robust MAD outlier gate -----
    Q("q170_mad_outliers",
      "per-type robust outlier gate on event value via median absolute " +
        "deviation (Iglewicz-Hoaglin modified z: 0.6745*(x-med)/mad, " +
        "|rz| > 3.5) — medians don't move with the spikes they hunt, " +
        "unlike the mean/sigma z a single 1000x value can hide inside; " +
        "two bounded percentile aggs broadcast back, the flag map-side",
      Some("""WITH med AS (
             |  SELECT event_type AS grp, round(quantile_cont(value, 0.5), 6) AS med
             |  FROM events GROUP BY 1),
             |mad AS (
             |  SELECT e.event_type AS grp,
             |         round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
             |  FROM events e JOIN med m ON e.event_type = m.grp GROUP BY 1)
             |SELECT e.event_id AS id, e.event_type, e.value, m.med, d.mad,
             |       CASE WHEN d.mad > 0
             |            THEN round(0.6745 * (e.value - m.med) / d.mad, 6)
             |       END AS rz,
             |       coalesce(abs(CASE WHEN d.mad > 0
             |           THEN round(0.6745 * (e.value - m.med) / d.mad, 6)
             |         END) > 3.5, false) AS is_outlier
             |FROM events e JOIN med m ON e.event_type = m.grp
             |              JOIN mad d ON e.event_type = d.grp
             |ORDER BY id""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.madOutliers(Tables(s, dir, "events"),
            "event_id", "value", "event_type", thresh = 3.5)
          .orderBy("id")),

    // ----- ordered funnel conversion -----
    Q("q171_funnel",
      "ordered view->click->purchase funnel: a user reaches a step only " +
        "with an event of that type STRICTLY AFTER their earliest " +
        "completion of the previous step (unordered 'did all three' " +
        "overcounts purchase-before-view); one user-keyed min-agg per " +
        "step over that type's slice, never a full-history window",
      Some("""WITH s1 AS (
             |  SELECT user_id AS u, min(ts) AS t FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id AS u, min(e.ts) AS t
             |  FROM events e JOIN s1 ON e.user_id = s1.u
             |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
             |s3 AS (
             |  SELECT e.user_id AS u, min(e.ts) AS t
             |  FROM events e JOIN s2 ON e.user_id = s2.u
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
             |c AS (
             |  SELECT 1 AS step, 'view' AS step_name,
             |         CAST(count(*) AS BIGINT) AS n_users FROM s1
             |  UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
             |  UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
             |SELECT step, step_name, n_users,
             |       round(CAST(n_users AS DOUBLE) /
             |         nullif(coalesce(lag(n_users) OVER (ORDER BY step),
             |                         n_users), 0), 6)
             |         AS rate_vs_prev,
             |       round(CAST(n_users AS DOUBLE) /
             |         nullif((SELECT n_users FROM c WHERE step = 1), 0), 6)
             |         AS rate_vs_first
             |FROM c ORDER BY step""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.funnel(Tables(s, dir, "events"),
            "user_id", "event_type", "ts",
            Seq("view", "click", "purchase"))
          .orderBy("step")),

    // ----- cohort retention triangle -----
    Q("q172_cohort_retention",
      "cohort retention: users cohorted by FIRST active day, counted " +
        "once per (cohort, day-offset) they return on — the retention " +
        "triangle; the feed compresses to (user, day)-distinct rows " +
        "first, cohorting is one user-keyed min-agg, cohort sizes a " +
        "dictionary-sized join — nothing holds more than users x days",
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
             |  FROM events),
             |fd AS (SELECT u, min(d) AS cohort_day FROM days GROUP BY 1),
             |act AS (
             |  SELECT f.u, f.cohort_day,
             |         date_diff('day', f.cohort_day, d.d) AS day_offset
             |  FROM days d JOIN fd f ON d.u = f.u),
             |cs AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
             |       FROM fd GROUP BY 1)
             |SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
             |       CAST(a.day_offset AS INT) AS day_offset,
             |       CAST(count(*) AS BIGINT) AS n_active, cs.cohort_size,
             |       round(CAST(count(*) AS DOUBLE) / cs.cohort_size, 6)
             |         AS retention
             |FROM act a JOIN cs USING (cohort_day)
             |GROUP BY a.cohort_day, a.day_offset, cs.cohort_size
             |ORDER BY cohort_day, day_offset""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.cohortRetention(Tables(s, dir, "events"),
            "user_id", "ts")
          .select(date_format(col("cohort_day"), "yyyy-MM-dd")
              .as("cohort_day"),
            col("day_offset"), col("n_active"), col("cohort_size"),
            col("retention"))
          .orderBy("cohort_day", "day_offset")),

    // ----- CUSUM level-shift detection -----
    Q("q176_cusum_shift",
      "one-sided CUSUM on per-type hourly counts (Page 1954): " +
        "S_t = max(0, S_{t-1} + x_t - mu - 0.5*sd) accumulates a " +
        "SUSTAINED upward level shift that q157's pointwise z never " +
        "sums; computed EXACTLY by the prefix-sum identity " +
        "S_t = P_t - min(0, running-min P) — two stacked windows over " +
        "the (type, hour) table, never event volume; alarm at 4*sd",
      Some("""WITH h0 AS (
             |  SELECT event_type,
             |         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2),
             |sp AS (SELECT event_type, min(hr) AS hlo, max(hr) AS hhi
             |       FROM h0 GROUP BY 1),
             |grid AS (SELECT event_type,
             |                CAST(unnest(range(hlo, hhi + 1)) AS BIGINT) AS hr
             |         FROM sp),
             |h AS (SELECT g.event_type, g.hr,
             |             coalesce(h0.c, CAST(0 AS BIGINT)) AS c
             |      FROM grid g LEFT JOIN h0
             |        ON h0.event_type = g.event_type AND h0.hr = g.hr),
             |st AS (SELECT event_type, avg(c) AS mu, stddev_pop(c) AS sd
             |       FROM h GROUP BY 1),
             |p AS (
             |  SELECT h.event_type, h.hr, h.c, st.sd,
             |         sum(h.c - st.mu - 0.5 * st.sd) OVER w AS p
             |  FROM h JOIN st USING (event_type)
             |  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hr
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |sline AS (
             |  SELECT event_type, hr, c, sd,
             |         p - least(min(p) OVER w, 0.0) AS s
             |  FROM p
             |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT event_type, hr, c, round(s, 6) AS cusum,
             |       round(s, 6) > round(4.0 * sd, 6) AS shift
             |FROM sline ORDER BY event_type, hr""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.cusumShift(Tables(s, dir, "events"),
            "event_type", "ts", slackSds = 0.5, threshSds = 4.0)
          .orderBy("event_type", "hr")),

    // ----- Markov transition matrix between event types -----
    Q("q177_transition_matrix",
      "first-order Markov transitions between event types over each " +
        "user's time-ordered sequence — P(next | cur), the journey " +
        "fingerprint; the only per-event work is one lead window inside " +
        "each user's partition (the q54 shape), then everything is a " +
        "states x states table; (ts, id) ordering pins engine parity",
      Some("""WITH seq AS (
             |  SELECT event_type AS cur,
             |         lead(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS next
             |  FROM events),
             |pairs AS (
             |  SELECT cur, next, CAST(count(*) AS BIGINT) AS n
             |  FROM seq WHERE next IS NOT NULL GROUP BY cur, next),
             |tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS tot
             |        FROM pairs GROUP BY cur)
             |SELECT p.cur, p.next, p.n,
             |       round(CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
             |FROM pairs p JOIN tot t ON t.cur = p.cur
             |ORDER BY p.cur, p.next""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.transitionMatrix(Tables(s, dir, "events"),
            "user_id", "event_type", "ts", "event_id")
          .orderBy("cur", "next")),

    // ----- top journey trigrams -----
    Q("q187_top_journeys",
      "the 20 most frequent 3-step event-type journeys within user " +
        "sequences — the Sankey/path input one step deeper than q177's " +
        "pair matrix (a->b->c separates checkout flows from bounce " +
        "loops a 2-gram blurs); two lead windows per user partition, " +
        "a path-keyed count, and a rank<=k filter the optimizer " +
        "rewrites to a per-partition WindowGroupLimit",
      Some("""WITH seq AS (
             |  SELECT event_type AS t0,
             |         lead(event_type, 1) OVER w AS t1,
             |         lead(event_type, 2) OVER w AS t2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |p AS (
             |  SELECT t0 || ' > ' || t1 || ' > ' || t2 AS path,
             |         CAST(count(*) AS BIGINT) AS n_occurrences
             |  FROM seq WHERE t2 IS NOT NULL GROUP BY 1)
             |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, path)
             |            AS INT) AS rank,
             |       path, n_occurrences
             |FROM p QUALIFY rank <= 20 ORDER BY rank""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.topJourneys(Tables(s, dir, "events"),
            "user_id", "event_type", "ts", "event_id", n = 3, k = 20)
          .orderBy("rank")),

    // ----- k-anonymity release gate -----
    Q("q188_k_anonymity",
      "k-anonymity audit (Sweeney 2002) over the documents corpus's " +
        "quasi-identifiers (lang, source, length-centile-bucket): a " +
        "row is re-identifiable when its equivalence class holds fewer " +
        "than k=10 rows, and those classes are exactly what the " +
        "release gate suppresses or generalizes; ONE aggregation keyed " +
        "on the quasi tuple, output equivalence-class-sized",
      Some("""SELECT lang, source,
             |       CAST(n_chars // 100 AS BIGINT) AS len_bucket,
             |       CAST(count(*) AS BIGINT) AS class_size,
             |       count(*) < 10 AS suppress
             |FROM documents
             |GROUP BY lang, source, len_bucket
             |ORDER BY lang, source, len_bucket""".stripMargin),
      (s, dir) =>
        graft.analytics.DataAudit.kAnonymity(
            Tables(s, dir, "documents")
              .withColumn("len_bucket",
                floor(col("n_chars").cast("double") / 100.0).cast("long")),
            k = 10L, "lang", "source", "len_bucket")
          .orderBy("lang", "source", "len_bucket")),

    // ----- touch attribution -----
    Q("q189_attribution",
      "first/last/linear touch attribution: each purchase finds its " +
        "user's clicks in a 7-day lookback — earliest and latest touch " +
        "ids (min_by/max_by over a (ts, id) struct, deterministic under " +
        "timestamp ties) plus the linear per-touch credit; conversions " +
        "with NO in-window touch keep their row (unattributed revenue " +
        "is a number the report needs); one user-keyed join, candidates " +
        "bounded per conversion by that user's window",
      Some("""WITH p AS (
             |  SELECT event_id AS conv_id, user_id AS u, ts AS pts, value
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (
             |  SELECT event_id AS touch_id, user_id AS u, ts AS cts
             |  FROM events WHERE event_type = 'click'),
             |j AS (
             |  SELECT p.conv_id, p.u, p.value, c.touch_id, c.cts
             |  FROM p LEFT JOIN c ON c.u = p.u AND c.cts <= p.pts
             |    AND c.cts >= p.pts - INTERVAL 7 DAY),
             |a AS (
             |  SELECT conv_id, u, value,
             |         CAST(count(touch_id) AS BIGINT) AS n_touches
             |  FROM j GROUP BY 1, 2, 3),
             |f AS (
             |  SELECT conv_id, touch_id AS first_touch_id FROM (
             |    SELECT conv_id, touch_id,
             |           row_number() OVER (PARTITION BY conv_id
             |             ORDER BY cts, touch_id) AS rn
             |    FROM j WHERE touch_id IS NOT NULL) WHERE rn = 1),
             |l AS (
             |  SELECT conv_id, touch_id AS last_touch_id FROM (
             |    SELECT conv_id, touch_id,
             |           row_number() OVER (PARTITION BY conv_id
             |             ORDER BY cts DESC, touch_id DESC) AS rn
             |    FROM j WHERE touch_id IS NOT NULL) WHERE rn = 1)
             |SELECT a.conv_id, a.u AS user, a.value, a.n_touches,
             |       f.first_touch_id, l.last_touch_id,
             |       CASE WHEN a.n_touches > 0
             |            THEN round(a.value / a.n_touches, 6)
             |       END AS linear_share
             |FROM a LEFT JOIN f USING (conv_id) LEFT JOIN l USING (conv_id)
             |ORDER BY conv_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.attribution(Tables(s, dir, "events"),
            "user_id", "event_type", "ts", "event_id", "value",
            convType = "purchase", touchType = "click", windowDays = 7)
          .orderBy("conv_id")),

    // ----- time-to-convert distribution -----
    Q("q190_time_to_convert",
      "latency from first view to first later purchase per converting " +
        "user, summarized as p50/p90/p99 minutes — the conversion-RATE " +
        "funnel (q171) says how many make it, this says how long they " +
        "take; two user-keyed min-aggs joined user-keyed, one bounded " +
        "percentile row, exact integer microseconds until one division",
      Some("""WITH s0 AS (
             |  SELECT user_id AS u, min(ts) AS t0 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s1 AS (
             |  SELECT user_id AS u, min(ts) AS t1 FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |d AS (
             |  SELECT CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE) / 60000000.0 AS mins
             |  FROM s0 JOIN s1 USING (u) WHERE t1 > t0)
             |SELECT CAST(count(*) AS BIGINT) AS n_converted,
             |       round(quantile_cont(mins, 0.5), 6) AS p50_minutes,
             |       round(quantile_cont(mins, 0.9), 6) AS p90_minutes,
             |       round(quantile_cont(mins, 0.99), 6) AS p99_minutes
             |FROM d""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.timeToConvert(Tables(s, dir, "events"),
            "user_id", "event_type", "ts",
            startType = "view", endType = "purchase")),

    // ----- z-order layout: two-column data skipping -----
    Q("q178_zorder_scan",
      "events rewritten Z-ORDERED on (user_id, hour) — 16-bit min-max " +
        "normalization interleaved into a Morton key, range-partitioned " +
        "and sorted on it, so every file covers a SQUARE of the plane " +
        "and footer min/max stays tight on BOTH columns — then a " +
        "two-predicate slice aggregated per type; writeClustered buys " +
        "one ordering, z-order splits the skipping across two " +
        "(LayoutSpec pins both single-column scans decoding less than " +
        "the unordered layout pays)",
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |       round(sum(value), 6) AS total_value
             |FROM events
             |WHERE user_id BETWEEN 4 AND 70
             |  AND CAST(floor(epoch(ts) / 3600) AS BIGINT) < 473568
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_zorder_" + graft.operators.Bucketing.pathKey(dir)).toString
        graft.sinks.Layout.writeZOrdered(
          Tables(s, dir, "events")
            .withColumn("hr",
              floor(unix_timestamp(col("ts")) / 3600L).cast("long")),
          base, n = 16, "user_id", "hr")
        s.read.parquet(base)
          .filter(col("user_id").between(4, 70) &&
            col("hr") < 473568L)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n_events"),
            round(sum(col("value")), 6).as("total_value"))
          .orderBy("event_type")
      }),

    // ----- time-weighted average value -----
    Q("q180_twap",
      "per-(type, day) TIME-WEIGHTED average value: each observation " +
        "holds until the next of its type that day (last holds to " +
        "midnight), weighted by EXACT integer microsecond durations — " +
        "the correct daily level when observations arrive unevenly, " +
        "where a row-average over-weights bursts; the lead window " +
        "partitions by (type, DAY) — bounded slices that parallelize " +
        "over the calendar, never a per-type full-history funnel",
      Some("""WITH e AS (
             |  SELECT event_type, ts, value, event_id,
             |         CAST(ts AS DATE) AS day,
             |         lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
             |                        ORDER BY ts, event_id) AS next_ts
             |  FROM events),
             |d AS (
             |  SELECT event_type, day, value,
             |         epoch_us(coalesce(next_ts,
             |           CAST(day + INTERVAL 1 DAY AS TIMESTAMP)))
             |           - epoch_us(ts) AS dur
             |  FROM e)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
             |       CAST(count(*) AS BIGINT) AS n,
             |       round(sum(value * CAST(dur AS DOUBLE))
             |         / CAST(sum(dur) AS DOUBLE), 6) AS twap
             |FROM d GROUP BY event_type, day
             |ORDER BY event_type, day""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.twap(Tables(s, dir, "events"),
            "event_type", "ts", "value", "event_id")
          .orderBy("event_type", "day")),

    // ----- A/B conversion lift + two-proportion z -----
    Q("q181_ab_lift",
      "two-sample A/B readout with users hash-split by parity: " +
        "per-cohort purchase-conversion rates, relative lift, pooled " +
        "two-proportion z — the experiment call; one user-keyed agg " +
        "collapses the feed to a row per user (conversion is an " +
        "order-free max flag), then ONE 1-row conditional aggregate " +
        "computes every cell",
      Some("""WITH u AS (
             |  SELECT user_id AS u, CAST(max(user_id % 2) AS INT) AS g,
             |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
             |  FROM events GROUP BY user_id),
             |a AS (
             |  SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |         CAST(sum(CASE WHEN g = 0 THEN c ELSE 0 END) AS BIGINT) AS conv_a,
             |         CAST(sum(CASE WHEN g = 1 THEN c ELSE 0 END) AS BIGINT) AS conv_b
             |  FROM u),
             |b AS (
             |  SELECT *, CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
             |         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
             |         CAST(conv_a + conv_b AS DOUBLE)
             |           / CAST(n_a + n_b AS DOUBLE) AS pp
             |  FROM a)
             |SELECT n_a, n_b, conv_a, conv_b,
             |       round(pa, 6) AS p_a, round(pb, 6) AS p_b,
             |       CASE WHEN n_a > 0 AND n_b > 0 AND conv_a > 0
             |            THEN round(pb / pa - 1.0, 6) END AS lift,
             |       CASE WHEN n_a > 0 AND n_b > 0
             |             AND sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) > 0
             |            THEN round((pb - pa) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
             |       END AS z
             |FROM b""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.abLift(Tables(s, dir, "events"),
            "user_id", "event_type", "purchase",
            cohortCol = col("user_id") % 2)),

    // ----- Kaplan-Meier retention curve -----
    Q("q182_kaplan_meier",
      "Kaplan-Meier retention over user lifetimes (first-to-last active " +
        "day): churn observed when the last day predates the feed " +
        "cutoff, CENSORED otherwise — the right-censoring a naive " +
        "lifetime average gets wrong; S(t) multiplies (1 - d/n) over " +
        "churn times, every window over the bounded distinct-lifetime " +
        "table; the everyone-churns terminal factor pins S to exactly 0",
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
             |  FROM events),
             |life AS (SELECT u, min(d) AS d0, max(d) AS d1
             |         FROM days GROUP BY u),
             |gm AS (SELECT max(d) AS gmax FROM days),
             |lt AS (SELECT date_diff('day', d0, d1) AS t,
             |              d1 < gm.gmax AS observed
             |       FROM life CROSS JOIN gm),
             |byt AS (
             |  SELECT t, CAST(count(*) AS BIGINT) AS n_at,
             |         CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_churned
             |  FROM lt GROUP BY t),
             |r AS (
             |  SELECT t, n_at, n_churned,
             |         CAST(sum(n_at) OVER (ORDER BY t
             |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |           AS BIGINT) AS n_risk
             |  FROM byt),
             |sline AS (
             |  SELECT t, n_risk, n_churned,
             |         max(CASE WHEN 1.0 - CAST(n_churned AS DOUBLE) / CAST(n_risk AS DOUBLE) <= 0.0
             |                  THEN 1 ELSE 0 END) OVER w AS hit0,
             |         sum(CASE WHEN 1.0 - CAST(n_churned AS DOUBLE) / CAST(n_risk AS DOUBLE) > 0.0
             |                  THEN ln(1.0 - CAST(n_churned AS DOUBLE) / CAST(n_risk AS DOUBLE))
             |                  ELSE 0.0 END) OVER w AS lsum
             |  FROM r
             |  WINDOW w AS (ORDER BY t
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT CAST(t AS BIGINT) AS t_days, n_risk, n_churned,
             |       CASE WHEN hit0 = 1 THEN 0.0
             |            ELSE round(exp(lsum), 6) END AS survival
             |FROM sline WHERE n_churned > 0 ORDER BY t_days""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.kaplanMeier(Tables(s, dir, "events"),
            "user_id", "ts")
          .orderBy("t_days")),

    // ----- seasonal hour-of-day baseline anomaly -----
    Q("q185_seasonal_anomaly",
      "each (type, hour) judged against the MEDIAN count of its own " +
        "HOUR-OF-DAY across the feed's days — the seasonality-aware " +
        "monitor q157's trailing window lacks: 3 AM compares to other " +
        "3 AMs, so the nightly trough never reads as an incident; " +
        "hours densify per type (q176's zero-sample rule), baselines " +
        "are groups x 24 medians broadcast back, flag outside " +
        "[1/2, 2]x with >= 14 day samples",
      Some("""WITH h0 AS (
             |  SELECT event_type,
             |         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2),
             |sp AS (SELECT event_type, min(hr) AS hlo, max(hr) AS hhi
             |       FROM h0 GROUP BY 1),
             |grid AS (SELECT event_type,
             |                CAST(unnest(range(hlo, hhi + 1)) AS BIGINT) AS hr
             |         FROM sp),
             |h AS (SELECT g.event_type, g.hr,
             |             coalesce(h0.c, CAST(0 AS BIGINT)) AS c,
             |             CAST(g.hr % 24 AS INT) AS hod
             |      FROM grid g LEFT JOIN h0
             |        ON h0.event_type = g.event_type AND h0.hr = g.hr),
             |base AS (
             |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_days,
             |         round(quantile_cont(c, 0.5), 6) AS med_hod
             |  FROM h GROUP BY 1, 2)
             |SELECT h.event_type, h.hr, h.c, h.hod, b.n_days, b.med_hod,
             |       CASE WHEN b.n_days >= 14 AND b.med_hod > 0
             |            THEN round(CAST(h.c AS DOUBLE) / b.med_hod, 6)
             |       END AS ratio,
             |       coalesce(b.n_days >= 14 AND b.med_hod > 0 AND
             |         (round(CAST(h.c AS DOUBLE) / b.med_hod, 6) > 2.0 OR
             |          round(CAST(h.c AS DOUBLE) / b.med_hod, 6) < 1.0 / 2.0),
             |         false) AS seasonal
             |FROM h JOIN base b
             |  ON b.event_type = h.event_type AND b.hod = h.hod
             |ORDER BY h.event_type, h.hr""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.seasonalAnomaly(Tables(s, dir, "events"),
            "event_type", "ts", factor = 2.0, minDays = 14)
          .orderBy("event_type", "hr")),

    // ----- declarative data-quality audit -----
    Q("q186_dq_audit",
      "the dbt-tests-style contract report in one union: row-count " +
        "floor, primary-key uniqueness (orders, part), FK orphans " +
        "(lineitem->orders, orders->customer; null keys excluded by " +
        "the nullable-FK convention), null rate, value range, accepted " +
        "values — every check ONE aggregate over its table, all rows " +
        "the same schema so the lake's daily audit is one query",
      Some("""SELECT 'lineitem' AS tbl, 'row_count' AS chk,
             |       round(CAST(count(*) AS DOUBLE), 6) AS metric,
             |       CAST(0 AS BIGINT) AS violations,
             |       count(*) >= 1000 AS pass FROM lineitem
             |UNION ALL
             |SELECT 'orders', 'pk_unique:o_orderkey',
             |       round(CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE), 6),
             |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
             |       count(*) = count(DISTINCT o_orderkey) FROM orders
             |UNION ALL
             |SELECT 'part', 'pk_unique:p_partkey',
             |       round(CAST(count(*) - count(DISTINCT p_partkey) AS DOUBLE), 6),
             |       CAST(count(*) - count(DISTINCT p_partkey) AS BIGINT),
             |       count(*) = count(DISTINCT p_partkey) FROM part
             |UNION ALL
             |SELECT 'lineitem', 'fk_orphans:l_orderkey',
             |       round(CAST(count(*) AS DOUBLE), 6),
             |       CAST(count(*) AS BIGINT), count(*) = 0
             |FROM (SELECT l.l_orderkey FROM lineitem l
             |      WHERE l.l_orderkey IS NOT NULL
             |        AND NOT EXISTS (SELECT 1 FROM orders o
             |                        WHERE o.o_orderkey = l.l_orderkey))
             |UNION ALL
             |SELECT 'orders', 'fk_orphans:o_custkey',
             |       round(CAST(count(*) AS DOUBLE), 6),
             |       CAST(count(*) AS BIGINT), count(*) = 0
             |FROM (SELECT o.o_custkey FROM orders o
             |      WHERE o.o_custkey IS NOT NULL
             |        AND NOT EXISTS (SELECT 1 FROM customer c
             |                        WHERE c.c_custkey = o.o_custkey))
             |UNION ALL
             |SELECT 'customer', 'null_rate:c_name',
             |       round(CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / CAST(count(*) AS DOUBLE), 6),
             |       CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |       CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |         / CAST(count(*) AS DOUBLE) <= 0.0
             |FROM customer
             |UNION ALL
             |SELECT 'lineitem', 'value_range:l_quantity',
             |       round(CAST(sum(CASE WHEN l_quantity IS NOT NULL
             |           AND (l_quantity < 1 OR l_quantity > 50)
             |           THEN 1 ELSE 0 END) AS DOUBLE), 6),
             |       CAST(sum(CASE WHEN l_quantity IS NOT NULL
             |           AND (l_quantity < 1 OR l_quantity > 50)
             |           THEN 1 ELSE 0 END) AS BIGINT),
             |       sum(CASE WHEN l_quantity IS NOT NULL
             |           AND (l_quantity < 1 OR l_quantity > 50)
             |           THEN 1 ELSE 0 END) = 0
             |FROM lineitem
             |UNION ALL
             |SELECT 'orders', 'accepted_values:o_orderstatus',
             |       round(CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
             |           AND o_orderstatus NOT IN ('O', 'F', 'P')
             |           THEN 1 ELSE 0 END) AS DOUBLE), 6),
             |       CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
             |           AND o_orderstatus NOT IN ('O', 'F', 'P')
             |           THEN 1 ELSE 0 END) AS BIGINT),
             |       sum(CASE WHEN o_orderstatus IS NOT NULL
             |           AND o_orderstatus NOT IN ('O', 'F', 'P')
             |           THEN 1 ELSE 0 END) = 0
             |FROM orders
             |ORDER BY tbl, chk""".stripMargin),
      (s, dir) => {
        import graft.analytics.DataAudit._
        val li = Tables(s, dir, "lineitem")
        val ord = Tables(s, dir, "orders")
        val cust = Tables(s, dir, "customer")
        val part = Tables(s, dir, "part")
        report(Seq(
          rowCount(li, "lineitem", minRows = 1000L),
          pkUnique(ord, "orders", "o_orderkey"),
          pkUnique(part, "part", "p_partkey"),
          fkOrphans(li, ord, "lineitem", "l_orderkey", "o_orderkey"),
          fkOrphans(ord, cust, "orders", "o_custkey", "c_custkey"),
          nullRate(cust, "customer", "c_name", maxRate = 0.0),
          valueRange(li, "lineitem", "l_quantity", lo = 1, hi = 50),
          acceptedValues(ord, "orders", "o_orderstatus",
            Seq("O", "F", "P"))))
          .orderBy("tbl", "chk")
      }),

    // ----- corpus ingest gate -----
    Q("q191_ingest_gate",
      "the corpus ingest gate over the historical documents table: " +
        "min-id-per-fingerprint dedup, quality + language via the SAME " +
        "corpusFlags expressions corpusFilter uses, and the q60-split " +
        "eval fingerprints anti-joined broadcast — one ~50-byte/row " +
        "exchange on fp, text never shuffles",
      Some("""WITH flags AS (
             |  SELECT doc_id, md5(text) AS fp,
             |         min(doc_id) OVER (PARTITION BY md5(text)) AS first_id,
             |         len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS n_tokens,
             |         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / nullif(length(text), 0) AS punct_ratio,
             |         len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS en_hits,
             |         len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de_hits,
             |         len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en)\b')) AS es_hits,
             |         len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|que)\b')) AS fr_hits,
             |         CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
             |              WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
             |              WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
             |              WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
             |              ELSE 'fr' END AS lang_guess
             |  FROM documents),
             |ev AS (SELECT DISTINCT md5(text) AS fp FROM documents
             |       WHERE doc_id % 10 = 0)
             |SELECT f.doc_id, f.lang_guess
             |FROM flags f
             |WHERE f.doc_id = f.first_id
             |  AND f.n_tokens >= 10 AND f.punct_ratio < 0.2
             |  AND f.lang_guess = 'en'
             |  AND NOT EXISTS (SELECT 1 FROM ev WHERE ev.fp = f.fp)
             |ORDER BY f.doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.streaming.CorpusIngest.ingestGateBatch(docs, "doc_id",
            "text",
            evalFps = docs.filter(col("doc_id") % 10 === 0)
              .select(md5(col("text")).as("fp")).distinct())
          .orderBy("doc_id")
      }),

    // ----- stream-stream click attribution, batch-replayed -----
    Q("q192_click_attribution",
      "the stream-stream click-attribution join run as a batch query " +
        "over the events table — the SAME EventStreams.clickAttribution " +
        "code (batch planning elides the watermarks), purchases joining " +
        "their user's clicks in the 30-minute lookback: one user-keyed " +
        "equi join with the time bracket as a join-side filter",
      Some("""SELECT p.user_id, p.ts AS purchase_ts,
             |       p.event_id AS purchase_id, p.value,
             |       c.ts AS click_ts, c.event_id AS click_id
             |FROM events p JOIN events c
             |  ON c.user_id = p.user_id
             | AND p.event_type = 'purchase' AND c.event_type = 'click'
             | AND c.ts <= p.ts
             | AND c.ts >= p.ts - INTERVAL 30 MINUTE
             |ORDER BY purchase_id, click_id""".stripMargin),
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        graft.streaming.EventStreams.clickAttribution(
            clicks = ev.filter(col("event_type") === "click"),
            purchases = ev.filter(col("event_type") === "purchase"),
            windowMinutes = 30)
          .orderBy("purchase_id", "click_id")
      }),

    // ----- SCD type-2 interval build -----
    Q("q205_scd2_intervals",
      "slowly-changing-dimension (type 2) intervals from the event " +
        "change log: per user, consecutive same-type events collapse " +
        "into the open version and each surviving change point opens " +
        "a (valid_from, valid_to] interval, null valid_to = current — " +
        "the warehouse view of any mutable entity; per-key windows " +
        "over (ts, event_id) only, ONE exchange, history never leaves " +
        "its partition, equal-ts changes made deterministic by the " +
        "tie-break column (a change log without a total order has no " +
        "well-defined previous state)",
      Some("""WITH s AS (
             |  SELECT user_id, ts, event_id, event_type,
             |         lag(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS prev
             |  FROM events),
             |c AS (SELECT user_id, ts, event_id, event_type FROM s
             |      WHERE prev IS NULL OR event_type IS DISTINCT FROM prev),
             |v AS (SELECT user_id,
             |        CAST(row_number() OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) AS BIGINT) AS version,
             |        event_type, ts AS valid_from,
             |        lead(ts) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) AS valid_to
             |      FROM c)
             |SELECT user_id, version, event_type, valid_from, valid_to,
             |       valid_to IS NULL AS is_current
             |FROM v ORDER BY user_id, version""".stripMargin),
      (s, dir) =>
        graft.operators.Scd.scd2Intervals(Tables(s, dir, "events"),
            key = "user_id", ts = "ts", tieBreak = "event_id",
            attrCols = Seq("event_type"))
          .select(col("user_id"), col("version"), col("event_type"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy("user_id", "version")),

    // ----- linearly-interpolating as-of join -----
    Q("q206_interpolate_asof",
      "interpolating as-of join: each purchase reads the user's view-" +
        "value series at its exact timestamp by linear interpolation " +
        "between the bracketing points (exact-ts hits return the " +
        "point; off-span rows null — never extrapolate), the quote-" +
        "curve/sensor-resample operator stepwise as-of can't express; " +
        "union + ONE key-partitioned window pass (backward and " +
        "forward carries over the same sort), time arithmetic on " +
        "integer epoch micros so the oracle replays exactly",
      Some("""WITH u AS (
             |  SELECT user_id, ts, event_id,
             |         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS is_q,
             |         CASE WHEN event_type = 'view' THEN value END AS sv
             |  FROM events WHERE event_type IN ('view', 'purchase')),
             |w AS (
             |  SELECT user_id, ts, event_id, is_q,
             |    last_value(sv IGNORE NULLS) OVER (PARTITION BY user_id
             |      ORDER BY ts, is_q, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             |    last_value(CASE WHEN sv IS NOT NULL THEN epoch_us(ts) END
             |      IGNORE NULLS) OVER (PARTITION BY user_id
             |      ORDER BY ts, is_q, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             |    first_value(sv IGNORE NULLS) OVER (PARTITION BY user_id
             |      ORDER BY ts, is_q, event_id
             |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v1,
             |    first_value(CASE WHEN sv IS NOT NULL THEN epoch_us(ts) END
             |      IGNORE NULLS) OVER (PARTITION BY user_id
             |      ORDER BY ts, is_q, event_id
             |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t1
             |  FROM u)
             |SELECT user_id, event_id, ts,
             |  CASE WHEN t0 = epoch_us(ts) THEN round(v0 * 1e6) / 1e6
             |       ELSE round((v0 + (v1 - v0)
             |         * (CAST(epoch_us(ts) - t0 AS DOUBLE)
             |            / CAST(CASE WHEN t1 - t0 > 0 THEN t1 - t0 END
             |                   AS DOUBLE))) * 1e6) / 1e6
             |  END AS interp_value
             |FROM w WHERE is_q = 1
             |ORDER BY user_id, event_id""".stripMargin),
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        AsOfJoin.interpolateJoin(
            left = ev.filter(col("event_type") === "purchase")
              .select("user_id", "event_id", "ts"),
            series = ev.filter(col("event_type") === "view")
              .select("user_id", "ts", "value"),
            key = "user_id", ts = "ts", valueCol = "value")
          .orderBy("user_id", "event_id")
      }),

    // ----- weighted percentiles -----
    Q("q207_weighted_percentiles",
      "per-flag price percentiles weighted by units sold (the median " +
        "UNIT pays, not the median LINE): lower-bound weighted " +
        "quantiles computed INTEGER-exact — weights quantized once to " +
        "1e3, mass pre-aggregated per distinct value so the cumulative " +
        "sum runs over a total order, thresholds tested by integer " +
        "cross-multiplication cum*1e6 >= p_ppm*tot (no float-sum " +
        "reassociation anywhere); one keyed pre-agg + one window over " +
        "DISTINCT values only + one group agg",
      Some("""WITH w AS (
             |  SELECT l_returnflag AS grp, l_extendedprice AS v,
             |         CAST(round(l_quantity * 1000) AS BIGINT) AS wt
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
             |dv AS (SELECT grp, v, CAST(sum(wt) AS BIGINT) AS wt
             |       FROM w GROUP BY grp, v),
             |cw AS (SELECT grp, v, wt,
             |         CAST(sum(wt) OVER (PARTITION BY grp ORDER BY v)
             |              AS BIGINT) AS cum,
             |         CAST(sum(wt) OVER (PARTITION BY grp) AS BIGINT) AS tot
             |       FROM dv)
             |SELECT grp,
             |       round(CAST(max(tot) AS DOUBLE) / 1000 * 1e6) / 1e6
             |         AS total_weight,
             |       min(CASE WHEN cum * 1000000 >= 500000 * tot THEN v END)
             |         AS p50_weighted,
             |       min(CASE WHEN cum * 1000000 >= 900000 * tot THEN v END)
             |         AS p90_weighted
             |FROM cw GROUP BY grp ORDER BY grp""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.weightedPercentiles(
            Tables(s, dir, "lineitem"), "l_returnflag",
            "l_extendedprice", "l_quantity",
            percentiles = Seq(0.5, 0.9), weightScale = 1000L)
          .orderBy("grp")),

    // ----- l-diversity release gate -----
    Q("q208_l_diversity",
      "distinct l-diversity over the q188 quasi-identifiers (source, " +
        "length-centile) with lang as the sensitive attribute: a " +
        "quasi-class passing k-anonymity still leaks when every member " +
        "shares one sensitive value (the homogeneity attack), so each " +
        "class must hold >= l distinct values too; ONE aggregation " +
        "keyed on the quasi tuple, the exact distinct riding the same " +
        "exchange",
      Some("""SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
             |       CAST(count(*) AS BIGINT) AS class_size,
             |       CAST(count(DISTINCT lang) AS BIGINT) AS l_distinct,
             |       count(*) < 10 OR count(DISTINCT lang) < 3 AS suppress
             |FROM documents
             |GROUP BY source, len_bucket
             |ORDER BY source, len_bucket""".stripMargin),
      (s, dir) =>
        graft.analytics.DataAudit.lDiversity(
            Tables(s, dir, "documents")
              .withColumn("len_bucket",
                floor(col("n_chars").cast("double") / 100.0).cast("long")),
            k = 10L, l = 3L, "lang", "source", "len_bucket")
          .orderBy("source", "len_bucket")),

    // ----- Flesch readability -----
    Q("q209_readability",
      "Flesch reading-ease + Flesch-Kincaid grade per document — the " +
        "prose-vs-boilerplate curation signal (keyword stuffing scores " +
        "absurdly easy, legalese absurdly hard; both are filter " +
        "fodder); words from the corpus tokenizer, sentences as " +
        "[.!?]+ runs floored at 1, syllables as vowel-group runs over " +
        "the lowered text (whitespace breaks groups, so the whole-text " +
        "regexp count equals the per-word sum with NO explode) — " +
        "entirely map-side, zero exchanges",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS n_words,
             |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
             |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
             |  FROM documents)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  round((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             |    - 84.6 * (CAST(n_syllables AS DOUBLE)
             |              / CASE WHEN n_words > 0 THEN n_words END)) * 1e6)
             |    / 1e6 AS flesch,
             |  round((0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             |    + 11.8 * (CAST(n_syllables AS DOUBLE)
             |              / CASE WHEN n_words > 0 THEN n_words END)
             |    - 15.59) * 1e6) / 1e6 AS fk_grade
             |FROM t ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.TextAnalysis.readability(
            Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- Welch test battery + Benjamini-Hochberg FDR -----
    Q("q210_welch_bh",
      "Welch two-sample tests on every (event_type, hour-of-day) slice " +
        "between the user-parity arms, Benjamini-Hochberg FDR across " +
        "the 120-test family (per-test alpha false-alarms daily at " +
        "this width): exact-integer sums (values quantized 1e3, " +
        "squares DECIMAL(38,0) — the q144 overflow rule), logistic " +
        "normal-tail p monotone in |t| so BH ordering is exact, " +
        "reject = rank <= the largest k with p_k <= k*alpha/m; on " +
        "parity-split null data every reject is FALSE by construction " +
        "— the gate pins the arithmetic, not a synthetic effect",
      Some("""WITH s AS (
             |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             |         CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
             |         CAST(round(value * 1000) AS BIGINT) AS v3
             |  FROM events WHERE value IS NOT NULL),
             |g AS (SELECT event_type, hr, arm, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(v3) AS BIGINT) AS sv,
             |             CAST(sum(v3 * v3) AS DECIMAL(38, 0)) AS ss
             |      FROM s GROUP BY 1, 2, 3),
             |w AS (SELECT a.event_type, a.hr, a.n AS n_a, b.n AS n_b,
             |        CAST(a.sv AS DOUBLE) / a.n / 1000 AS m_a,
             |        CAST(b.sv AS DOUBLE) / b.n / 1000 AS m_b,
             |        (CAST(a.ss AS DOUBLE) / 1000000
             |          - a.n * (CAST(a.sv AS DOUBLE) / a.n / 1000)
             |                * (CAST(a.sv AS DOUBLE) / a.n / 1000))
             |          / CAST(CASE WHEN a.n > 1 THEN a.n - 1 END AS DOUBLE) AS var_a,
             |        (CAST(b.ss AS DOUBLE) / 1000000
             |          - b.n * (CAST(b.sv AS DOUBLE) / b.n / 1000)
             |                * (CAST(b.sv AS DOUBLE) / b.n / 1000))
             |          / CAST(CASE WHEN b.n > 1 THEN b.n - 1 END AS DOUBLE) AS var_b
             |      FROM (SELECT * FROM g WHERE arm = 'a' AND n >= 2) a
             |      JOIN (SELECT * FROM g WHERE arm = 'b' AND n >= 2) b
             |        USING (event_type, hr)),
             |t AS (SELECT event_type, hr, n_a, n_b,
             |        (m_a - m_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
             |        2.0 / (1.0 + exp(1.702 * abs(
             |          (m_a - m_b) / sqrt(var_a / n_a + var_b / n_b)))) AS p
             |      FROM w),
             |r AS (SELECT *, CAST(row_number() OVER
             |          (ORDER BY p, event_type, hr) AS BIGINT) AS rnk,
             |        CAST(count(*) OVER () AS BIGINT) AS m
             |      FROM t),
             |mx AS (SELECT coalesce(max(rnk) FILTER (p <= rnk * 0.1 / m),
             |         CAST(0 AS BIGINT)) AS kmax FROM r)
             |SELECT event_type, hr, n_a, n_b,
             |       round(t_stat * 1e6) / 1e6 AS t_stat,
             |       round(p * 1e6) / 1e6 AS p_value, rnk,
             |       rnk <= mx.kmax AS reject
             |FROM r CROSS JOIN mx ORDER BY rnk""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.welchTestsBH(
          Tables(s, dir, "events")
            .withColumn("hr", hour(col("ts")).cast("long")),
          sliceCols = Seq("event_type", "hr"), valueCol = "value",
          armA = col("user_id") % 2 === 0,
          armB = col("user_id") % 2 =!= 0,
          alpha = 0.1, valueScale = 1000L)),

    // ----- Theil-Sen robust trend -----
    Q("q211_theil_sen",
      "Theil-Sen robust trend of daily event volume per type: the " +
        "median of all pairwise day-count slopes — the estimator one " +
        "outage day cannot drag where OLS breaks at a single bad " +
        "point; the per-key pair expansion is quadratic in DISTINCT " +
        "days (calendar-bounded by nature, maxPoints-capped by " +
        "contract) and pairs never leave their key's partition; even " +
        "pair counts average the two middle slopes",
      Some("""WITH d AS (
             |  SELECT event_type,
             |         CAST(date_diff('day', DATE '1970-01-01',
             |           CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS x,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |pr AS (SELECT a.event_type,
             |         CAST(b.n - a.n AS DOUBLE)
             |           / CAST(b.x - a.x AS DOUBLE) AS slope
             |       FROM d a JOIN d b
             |         ON b.event_type = a.event_type AND b.x > a.x),
             |rk AS (SELECT event_type, slope,
             |         CAST(row_number() OVER (PARTITION BY event_type
             |           ORDER BY slope) AS BIGINT) AS rn,
             |         CAST(count(*) OVER (PARTITION BY event_type)
             |           AS BIGINT) AS m
             |       FROM pr),
             |np AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
             |       FROM d GROUP BY 1)
             |SELECT rk.event_type, np.n_points,
             |       CAST(max(rk.m) AS BIGINT) AS n_pairs,
             |       round(avg(slope) FILTER (rn * 2 = m OR rn * 2 = m + 2
             |         OR (m % 2 = 1 AND rn * 2 = m + 1)) * 1e6) / 1e6
             |         AS ts_slope
             |FROM rk JOIN np USING (event_type)
             |GROUP BY rk.event_type, np.n_points
             |ORDER BY event_type""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.theilSenSlope(
          Tables(s, dir, "events")
            .groupBy(col("event_type"),
              datediff(to_date(col("ts")), lit("1970-01-01"))
                .cast("long").as("x"))
            .agg(count(lit(1)).cast("long").as("n")),
          keyCol = "event_type", xCol = "x", yCol = "n")
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type")),

    // ----- split-conformal calibration gate -----
    Q("q213_conformal_gate",
      "split-conformal calibration per event type: odd-user rows set " +
        "qhat = the ceil(0.9*(n+1))-th smallest |residual| around the " +
        "calibration mean, even-user rows measure empirical coverage " +
        "of mean ± qhat — the distribution-FREE >= 1-alpha guarantee, " +
        "so a slice below minCoverage has genuinely shifted between " +
        "splits; integer-quantized sums, integer rank cross-" +
        "multiplication for the quantile, no windows over test data; " +
        "measured coverage lands 0.88-0.90 at the nominal 0.90",
      Some("""WITH s AS (SELECT event_type, user_id,
             |         CAST(round(value * 1000) AS BIGINT) AS v3
             |       FROM events WHERE value IS NOT NULL),
             |cal AS (SELECT event_type, v3 FROM s WHERE user_id % 2 <> 0),
             |tst AS (SELECT event_type, v3 FROM s WHERE user_id % 2 = 0),
             |mu AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
             |         CAST(sum(v3) AS DOUBLE) / count(*) / 1000 AS mean_cal
             |       FROM cal GROUP BY 1),
             |res AS (SELECT c.event_type,
             |          abs(CAST(c.v3 AS DOUBLE) / 1000 - mu.mean_cal) AS r
             |        FROM cal c JOIN mu USING (event_type)),
             |rk AS (SELECT event_type, r,
             |         CAST(row_number() OVER (PARTITION BY event_type
             |           ORDER BY r) AS BIGINT) AS rn
             |       FROM res),
             |qh AS (SELECT rk.event_type, mu.n_cal, mu.mean_cal,
             |         min(r) FILTER (rn * 1000000 >= 900000 * (mu.n_cal + 1))
             |           AS qhat
             |       FROM rk JOIN mu USING (event_type) GROUP BY 1, 2, 3),
             |cov AS (SELECT t.event_type, CAST(count(*) AS BIGINT) AS n_test,
             |          CAST(sum(CASE WHEN abs(CAST(t.v3 AS DOUBLE) / 1000
             |              - qh.mean_cal) <= qh.qhat THEN 1 ELSE 0 END)
             |            AS BIGINT) AS covered
             |        FROM tst t JOIN qh USING (event_type) GROUP BY 1)
             |SELECT qh.event_type, qh.n_cal, cov.n_test,
             |       round(qh.mean_cal * 1e6) / 1e6 AS mean_cal,
             |       round(qh.qhat * 1e6) / 1e6 AS qhat,
             |       round(CAST(cov.covered AS DOUBLE)
             |         / CAST(CASE WHEN cov.n_test > 0 THEN cov.n_test END
             |                AS DOUBLE) * 1e6) / 1e6 AS coverage,
             |       CAST(cov.covered AS DOUBLE)
             |         / CAST(CASE WHEN cov.n_test > 0 THEN cov.n_test END
             |                AS DOUBLE) >= 0.85 AS calibrated
             |FROM qh JOIN cov USING (event_type)
             |ORDER BY event_type""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.conformalGate(
          Tables(s, dir, "events"), "event_type", "value",
          calibPred = col("user_id") % 2 =!= 0,
          alpha = 0.1, minCoverage = 0.85, valueScale = 1000L)
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type")),

    // ----- Gini concentration audit -----
    Q("q214_gini_concentration",
      "Gini concentration of character mass across each source's " +
        "documents — the corpus-concentration audit (is a source four " +
        "giant dumps and a million stubs, or evenly spread?); the rank " +
        "identity 2*sum(i*x_(i))/(n*sum(x)) - (n+1)/n with rank-mass " +
        "products in DECIMAL(38,0) (the q144 overflow rule), ties " +
        "rank-stable by algebra; one rank window + one group agg",
      Some("""WITH w AS (SELECT source AS grp, n_chars AS x FROM documents
             |  WHERE n_chars IS NOT NULL AND n_chars >= 0),
             |rk AS (SELECT grp, x, CAST(row_number() OVER
             |         (PARTITION BY grp ORDER BY x) AS BIGINT) AS rn
             |       FROM w),
             |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
             |        CAST(sum(x) AS BIGINT) AS total_mass,
             |        CAST(sum(CAST(rn * x AS HUGEINT)) AS DECIMAL(38, 0)) AS s1
             |      FROM rk GROUP BY grp)
             |SELECT grp, n_rows, total_mass,
             |       round((2.0 * CAST(s1 AS DOUBLE)
             |         / (CAST(n_rows AS DOUBLE)
             |            * CAST(CASE WHEN total_mass > 0 THEN total_mass END
             |                   AS DOUBLE))
             |         - CAST(n_rows + 1 AS DOUBLE) / CAST(n_rows AS DOUBLE))
             |         * 1e6) / 1e6 AS gini
             |FROM g ORDER BY grp""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.giniConcentration(
          Tables(s, dir, "documents"), "source", "n_chars")
          .orderBy("grp")),

    // ----- trimmed mean -----
    Q("q215_trimmed_mean",
      "10%-trimmed mean price per return flag: drop floor(n/10) rows " +
        "off each end by value rank and average the middle — the " +
        "robust location a whale order can't move; values quantized " +
        "once so rank, trim and sum are integer-exact, boundary ties " +
        "value-stable under any row_number order; one rank window + " +
        "one group agg",
      Some("""WITH w AS (SELECT l_returnflag AS grp,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
             |       FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |rk AS (SELECT grp, v,
             |         CAST(row_number() OVER (PARTITION BY grp ORDER BY v)
             |           AS BIGINT) AS rn,
             |         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
             |       FROM w),
             |t AS (SELECT grp, v, n,
             |        CAST(floor(n * 0.1) AS BIGINT) AS k FROM rk
             |      WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
             |        AND rn <= n - CAST(floor(n * 0.1) AS BIGINT))
             |SELECT grp, CAST(max(n) AS BIGINT) AS n_rows,
             |       CAST(count(*) AS BIGINT) AS n_kept,
             |       round(CAST(sum(v) AS DOUBLE) / count(*) / 100 * 1e6)
             |         / 1e6 AS trimmed_mean
             |FROM t GROUP BY grp ORDER BY grp""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.trimmedMean(
          Tables(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          trimFrac = 0.1, valueScale = 100L)
          .orderBy("grp")),

    // ----- Pareto frontier (skyline) -----
    Q("q216_pareto_frontier",
      "per-brand Pareto frontier of (price minimize, size maximize): a " +
        "part survives when no brand-mate is at least as cheap AND at " +
        "least as big with one strict — the cheapest-thing-that-is-" +
        "also-best query; the classic 2D sweep, ONE window pass over " +
        "the (price asc, size desc, id) sort with a strictly-preceding " +
        "running max, no pair join anywhere; equal-coordinate twins " +
        "keep the id-first representative",
      Some("""WITH p AS (SELECT p_brand, p_partkey, p_retailprice, p_size
             |  FROM part WHERE p_brand IS NOT NULL
             |    AND p_retailprice IS NOT NULL AND p_size IS NOT NULL
             |    AND p_partkey IS NOT NULL),
             |o AS (SELECT *, max(p_size) OVER (PARTITION BY p_brand
             |        ORDER BY p_retailprice, p_size DESC, p_partkey
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS best_prev
             |      FROM p)
             |SELECT p_brand, p_partkey, p_retailprice,
             |       CAST(p_size AS INT) AS p_size
             |FROM o WHERE best_prev IS NULL OR p_size > best_prev
             |ORDER BY p_brand, p_partkey""".stripMargin),
      (s, dir) =>
        graft.operators.Skyline.paretoFrontier2d(Tables(s, dir, "part"),
            groupCol = "p_brand", minimizeCol = "p_retailprice",
            maximizeCol = "p_size", idCol = "p_partkey")
          .orderBy("p_brand", "p_partkey")),

    // ----- lag-feature builder -----
    Q("q217_lag_features",
      "forecasting feature matrix over daily volumes per type: lag-1, " +
        "lag-7, trailing-7 moving average (dividing by the ACTUAL " +
        "trailing row count) and day-over-day relative change; leading " +
        "rows keep null features — fabricated zeros would teach a " +
        "model the series started at zero; ONE key-partitioned window " +
        "sort serves every feature",
      Some("""WITH d AS (SELECT event_type,
             |         CAST(date_trunc('day', ts) AS DATE) AS day,
             |         CAST(count(*) AS BIGINT) AS n
             |       FROM events GROUP BY 1, 2)
             |SELECT event_type, day, n,
             |  lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS lag_1,
             |  lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS lag_7,
             |  round(CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    / count(*) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 1e6) / 1e6
             |    AS ma_7,
             |  round((CAST(n AS DOUBLE)
             |    / CAST(CASE WHEN lag(n, 1) OVER (PARTITION BY event_type
             |        ORDER BY day) > 0 THEN lag(n, 1) OVER (PARTITION BY
             |        event_type ORDER BY day) END AS DOUBLE) - 1.0) * 1e6)
             |    / 1e6 AS pct_change
             |FROM d ORDER BY event_type, day""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.lagFeatures(
          Tables(s, dir, "events")
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).cast("long").as("n")),
          keyCol = "event_type", xCol = "day", yCol = "n",
          lags = Seq(1, 7), maWindow = 7)
          .orderBy("event_type", "day")),

    // ----- RFM segmentation -----
    Q("q218_rfm_segments",
      "RFM lifecycle segmentation: per customer, days since last order " +
        "(from the feed's max date), order count, total spend " +
        "(quantized integer sums), each scored into quintiles via the " +
        "q116 rule — exact percentile cut points as ONE broadcast row, " +
        "bucket = 1 + thresholds passed, map-side — no single-task " +
        "ntile sort over the customer table; r_score 1 = most recent, " +
        "f/m_score 5 = most frequent / biggest",
      Some("""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mxd
             |  FROM orders),
             |c AS (SELECT o_custkey AS custkey,
             |        CAST(min(date_diff('day', CAST(o_orderdate AS DATE),
             |          mx.mxd)) AS BIGINT) AS rec,
             |        CAST(count(*) AS BIGINT) AS freq,
             |        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |          AS BIGINT) AS mon
             |      FROM orders CROSS JOIN mx
             |      WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
             |        AND o_totalprice IS NOT NULL
             |      GROUP BY o_custkey),
             |thr AS (SELECT
             |    list_transform(quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]),
             |      t -> round(t, 6)) AS tr,
             |    list_transform(quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]),
             |      t -> round(t, 6)) AS tf,
             |    list_transform(quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]),
             |      t -> round(t, 6)) AS tm
             |  FROM c)
             |SELECT custkey, rec AS recency_days, freq AS frequency,
             |       round(CAST(mon AS DOUBLE) / 100 * 1e6) / 1e6 AS monetary,
             |       CAST(1 + len(list_filter(thr.tr, t -> c.rec > t)) AS INT)
             |         AS r_score,
             |       CAST(1 + len(list_filter(thr.tf, t -> c.freq > t)) AS INT)
             |         AS f_score,
             |       CAST(1 + len(list_filter(thr.tm, t -> c.mon > t)) AS INT)
             |         AS m_score
             |FROM c, thr ORDER BY custkey""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.rfmSegments(Tables(s, dir, "orders"),
            custCol = "o_custkey", dateCol = "o_orderdate",
            amountCol = "o_totalprice", q = 5, amountScale = 100L)
          .orderBy("custkey")),

    // ----- single changepoint by binary segmentation -----
    Q("q219_changepoint",
      "single changepoint per type over daily volumes: the split " +
        "maximizing SSE_total - (SSE_left + SSE_right) — WHERE the " +
        "regime changed, which CUSUM only answers with 'somewhere " +
        "recent'; every SSE term comes off integer prefix sums so the " +
        "argmax (gain desc, day) is bit-reproducible with NO rounding " +
        "knife edge; one window pass + one argmax per key",
      Some("""WITH d AS (SELECT event_type,
             |         CAST(date_trunc('day', ts) AS DATE) AS day,
             |         CAST(count(*) AS BIGINT) AS x
             |       FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, day, x,
             |        CAST(row_number() OVER (PARTITION BY event_type
             |          ORDER BY day) AS BIGINT) AS i,
             |        CAST(sum(x) OVER (PARTITION BY event_type
             |          ORDER BY day) AS BIGINT) AS cs,
             |        CAST(sum(x * x) OVER (PARTITION BY event_type
             |          ORDER BY day) AS BIGINT) AS css,
             |        CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS ts_,
             |        CAST(sum(x * x) OVER (PARTITION BY event_type) AS BIGINT) AS tss,
             |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
             |      FROM d),
             |g AS (SELECT event_type, day, i, n, cs, ts_,
             |        (CAST(tss AS DOUBLE) - CAST(ts_ AS DOUBLE) * ts_ / n)
             |        - ((CAST(css AS DOUBLE) - CAST(cs AS DOUBLE) * cs / i)
             |           + (CAST(tss - css AS DOUBLE)
             |              - CAST(ts_ - cs AS DOUBLE) * (ts_ - cs) / (n - i)))
             |          AS gain
             |      FROM r WHERE i < n),
             |pk AS (SELECT *, row_number() OVER (PARTITION BY event_type
             |         ORDER BY gain DESC, day) AS rk FROM g)
             |SELECT event_type, day AS split_x, i AS n_before,
             |       CAST(n - i AS BIGINT) AS n_after,
             |       round(CAST(cs AS DOUBLE) / i * 1e6) / 1e6 AS mean_before,
             |       round(CAST(ts_ - cs AS DOUBLE) / (n - i) * 1e6) / 1e6
             |         AS mean_after,
             |       round(gain * 1e6) / 1e6 AS gain
             |FROM pk WHERE rk = 1 ORDER BY event_type""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.changepoint(
          Tables(s, dir, "events")
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).cast("long").as("n")),
          keyCol = "event_type", xCol = "day", yCol = "n")
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type")),

    // ----- seasonal-naive forecast backtest (MASE) -----
    Q("q220_mase_backtest",
      "seasonal-naive backtest per type: score 'same weekday last " +
        "week' (lag-7) against the naive lag-1 baseline on rows where " +
        "BOTH predict, MASE = MAE_seasonal / MAE_naive — under 1 means " +
        "the weekly structure is real and worth a forecaster; count " +
        "errors are integer so both MAE sums are exact, the one ratio " +
        "is the only float op; one window pass + one agg",
      Some("""WITH d AS (SELECT event_type,
             |         CAST(date_trunc('day', ts) AS DATE) AS day,
             |         CAST(count(*) AS BIGINT) AS x
             |       FROM events GROUP BY 1, 2),
             |f AS (SELECT event_type, day, x,
             |        lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS sn,
             |        lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS n1
             |      FROM d),
             |s AS (SELECT event_type, x, sn, n1 FROM f
             |      WHERE sn IS NOT NULL AND n1 IS NOT NULL)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
             |       CAST(sum(abs(x - sn)) AS BIGINT) AS mae_seasonal_sum,
             |       CAST(sum(abs(x - n1)) AS BIGINT) AS mae_naive_sum,
             |       round(CAST(sum(abs(x - sn)) AS DOUBLE)
             |         / CAST(CASE WHEN sum(abs(x - n1)) > 0
             |                THEN sum(abs(x - n1)) END AS DOUBLE) * 1e6)
             |         / 1e6 AS mase
             |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.maseBacktest(
          Tables(s, dir, "events")
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).cast("long").as("n")),
          keyCol = "event_type", xCol = "day", yCol = "n", season = 7)
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type")),

    // ----- ABC / contribution classification -----
    Q("q221_abc_classification",
      "ABC contribution classes per return flag: items ranked by " +
        "integer-quantized revenue, A = the head carrying 80% of " +
        "cumulative revenue, B to 95%, C the tail — the 80/15/5 " +
        "inventory classic and the shape that ranks corpus sources by " +
        "token contribution; the cumulative ranking runs over DISTINCT " +
        "revenue values (tie blocks classify as a unit by block-END " +
        "share — the only tie-consistent definition), thresholds are " +
        "integer cross-multiplications, no float boundary anywhere",
      Some("""WITH rev AS (SELECT l_returnflag AS grp, l_partkey AS item,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS r
             |  FROM lineitem
             |  WHERE l_returnflag IS NOT NULL AND l_partkey IS NOT NULL
             |    AND l_extendedprice IS NOT NULL
             |  GROUP BY 1, 2),
             |b AS (SELECT grp, r, CAST(sum(r) AS BIGINT) AS mass
             |      FROM rev GROUP BY grp, r),
             |c AS (SELECT grp, r,
             |        CAST(sum(mass) OVER (PARTITION BY grp ORDER BY r DESC)
             |          AS BIGINT) AS cum,
             |        CAST(sum(mass) OVER (PARTITION BY grp) AS BIGINT) AS tot
             |      FROM b)
             |SELECT rev.grp, rev.item,
             |       round(CAST(rev.r AS DOUBLE) / 100 * 1e6) / 1e6 AS revenue,
             |       round(CAST(cum AS DOUBLE)
             |         / CAST(CASE WHEN tot > 0 THEN tot END AS DOUBLE) * 1e6)
             |         / 1e6 AS cum_share,
             |       CASE WHEN cum * 100 <= 80 * tot THEN 'A'
             |            WHEN cum * 100 <= 95 * tot THEN 'B'
             |            ELSE 'C' END AS abc_class
             |FROM rev JOIN c ON c.grp = rev.grp AND c.r = rev.r
             |ORDER BY rev.grp, rev.item""".stripMargin),
      (s, dir) =>
        graft.analytics.Baskets.abcClassification(
          Tables(s, dir, "lineitem"), "l_returnflag", "l_partkey",
          "l_extendedprice", aPct = 80, bPct = 95, amountScale = 100L)
          .orderBy("grp", "item")),

    // ----- Holt double-exponential smoothing -----
    Q("q222_holt_smoothing",
      "Holt level+trend smoothing per type over daily volumes, " +
        "forecast = level + trend one step out — the per-key " +
        "recurrence that is the classic Spark anti-shape (a driver " +
        "loop per step) run instead as ONE map-side aggregate() fold " +
        "over the calendar-bounded day array; the oracle folds the " +
        "identical sequence with list_reduce over the same struct " +
        "state, smoothing constants interpolated as driver-computed " +
        "IEEE literals (the pageRank rule) so both engines iterate " +
        "the same recurrence",
      Some(holtOracleSql(alpha = 0.3, beta = 0.1)),
      (s, dir) =>
        graft.analytics.Stats.holtSmoothing(
          Tables(s, dir, "events")
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).cast("long").as("n")),
          keyCol = "event_type", xCol = "day", yCol = "n",
          alpha = 0.3, beta = 0.1)
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type")),

    // ----- parent-child amount reconciliation -----
    Q("q223_reconciliation",
      "the warehouse invariant 'header total = sum of its lines' as " +
        "audit rows: childless orders counted once in their own check, " +
        "mismatches beyond a one-cent tolerance in QUANTIZED integer " +
        "units (both sides round once to cents — no float comparison); " +
        "the charge formula is the TPC-H extendedprice*(1-disc)*(1+tax); " +
        "one child agg + one key-partitioned left join + grouping-free " +
        "rollups; on this synthetic feed BOTH checks genuinely fail — " +
        "the audit exists to catch exactly that",
      Some("""WITH l AS (SELECT l_orderkey AS k,
             |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
             |      * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS child_sum
             |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
             |o AS (SELECT o_orderkey AS k,
             |        CAST(round(o_totalprice * 100) AS BIGINT) AS pa
             |      FROM orders WHERE o_orderkey IS NOT NULL),
             |j AS (SELECT o.k, o.pa, l.child_sum FROM o LEFT JOIN l USING (k))
             |SELECT 'orders~lineitem' AS tbl, 'childless:o_orderkey' AS chk,
             |       round(CAST(coalesce(sum(CASE WHEN child_sum IS NULL
             |         THEN 1 ELSE 0 END), 0) AS DOUBLE), 6) AS metric,
             |       CAST(coalesce(sum(CASE WHEN child_sum IS NULL
             |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations,
             |       coalesce(sum(CASE WHEN child_sum IS NULL
             |         THEN 1 ELSE 0 END), 0) = 0 AS pass
             |FROM j
             |UNION ALL
             |SELECT 'orders~lineitem', 'amount_reconcile:o_totalprice',
             |       round(CAST(coalesce(sum(CASE WHEN child_sum IS NOT NULL
             |         AND abs(pa - child_sum) > 1 THEN 1 ELSE 0 END), 0)
             |         AS DOUBLE), 6),
             |       CAST(coalesce(sum(CASE WHEN child_sum IS NOT NULL
             |         AND abs(pa - child_sum) > 1 THEN 1 ELSE 0 END), 0)
             |         AS BIGINT),
             |       coalesce(sum(CASE WHEN child_sum IS NOT NULL
             |         AND abs(pa - child_sum) > 1 THEN 1 ELSE 0 END), 0) = 0
             |FROM j
             |ORDER BY chk""".stripMargin),
      (s, dir) =>
        graft.analytics.DataAudit.reconcile(
          parent = Tables(s, dir, "orders"),
          child = Tables(s, dir, "lineitem"),
          tbl = "orders~lineitem",
          parentKey = "o_orderkey", childKey = "l_orderkey",
          parentAmount = "o_totalprice",
          childAmount = col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")),
          tolerance = 0.01, scale = 100L)
          .orderBy("chk")),

    // ----- PMI collocations -----
    Q("q224_pmi_collocations",
      "adjacent-bigram pointwise mutual information with positional " +
        "marginals (left counts over bigram-firsts, right over " +
        "seconds — the textbook contingency normalization) and a " +
        "min-count floor so one-off pairs can't post infinite-looking " +
        "scores — THE collocation extractor a phrase-aware tokenizer " +
        "runs before training; one bigram explode + three keyed aggs " +
        "+ a broadcast one-row total, top-100 by scaled-integer PMI",
      Some("""WITH toks AS (
             |  SELECT list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |bg AS (SELECT t[i] AS w1, t[i+1] AS w2
             |       FROM (SELECT t, unnest(range(1, len(t))) AS i
             |             FROM toks WHERE len(t) >= 2)),
             |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
             |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
             |u1 AS (SELECT w1 AS w, CAST(count(*) AS BIGINT) AS c
             |       FROM bg GROUP BY 1),
             |u2 AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS c
             |       FROM bg GROUP BY 1),
             |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
             |p AS (SELECT cb.w1, cb.w2, cb.c12,
             |        ln(CAST(cb.c12 AS DOUBLE) * nt.n
             |           / (CAST(u1.c AS DOUBLE) * u2.c)) AS pmi
             |      FROM cb JOIN u1 ON u1.w = cb.w1
             |              JOIN u2 ON u2.w = cb.w2 CROSS JOIN nt)
             |SELECT w1, w2, c12, round(pmi * 1e6) / 1e6 AS pmi
             |FROM p ORDER BY round(pmi * 1e6) DESC, w1, w2
             |LIMIT 100""".stripMargin),
      (s, dir) =>
        graft.analytics.TextAnalysis.pmiCollocations(
          Tables(s, dir, "documents"), "doc_id", "text",
          minCount = 5L, topK = 100)),

    // ----- Hampel despiking filter -----
    Q("q225_hampel_filter",
      "Hampel despiking over daily volumes per type: each point " +
        "against the MEDIAN of its ±3-day neighborhood, spike when " +
        "|v - med| > 3 * 1.4826 * MAD, filtered series replaces " +
        "spikes with the rolling median — the telemetry despiker a " +
        "rolling mean can't be (the mean drags toward the spike); ONE " +
        "window sort collects 7-bounded neighborhood arrays, medians " +
        "are map-side folds, integer inputs make every median an " +
        "exact .0/.5 double so the oracle replays bit-for-bit",
      Some("""WITH d AS (SELECT event_type,
             |         CAST(date_trunc('day', ts) AS DATE) AS day,
             |         CAST(count(*) AS BIGINT) AS v
             |       FROM events GROUP BY 1, 2),
             |a AS (SELECT event_type, day, v,
             |        list(v) OVER (PARTITION BY event_type ORDER BY day
             |          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS l
             |      FROM d),
             |m AS (SELECT *, CASE WHEN len(l) % 2 = 1
             |          THEN CAST(list_sort(l)[(len(l) + 1) // 2] AS DOUBLE)
             |          ELSE (CAST(list_sort(l)[len(l) // 2] AS DOUBLE)
             |                + list_sort(l)[len(l) // 2 + 1]) / 2.0
             |        END AS med FROM a),
             |md AS (SELECT *, CASE WHEN len(l) % 2 = 1
             |          THEN CAST(list_sort(list_transform(l, x -> abs(x - med)))
             |                 [(len(l) + 1) // 2] AS DOUBLE)
             |          ELSE (CAST(list_sort(list_transform(l, x -> abs(x - med)))
             |                 [len(l) // 2] AS DOUBLE)
             |                + list_sort(list_transform(l, x -> abs(x - med)))
             |                 [len(l) // 2 + 1]) / 2.0
             |        END AS mad FROM m)
             |SELECT event_type, day, v, med, mad,
             |       abs(v - med) > 3.0 * 1.4826 * mad AS is_spike,
             |       CASE WHEN abs(v - med) > 3.0 * 1.4826 * mad THEN med
             |            ELSE CAST(v AS DOUBLE) END AS filtered
             |FROM md ORDER BY event_type, day""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.hampelFilter(
          Tables(s, dir, "events")
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).cast("long").as("n")),
          keyCol = "event_type", xCol = "day", yCol = "n",
          halfWindow = 3, nSigma = 3.0)
          .withColumnRenamed("key", "event_type")
          .withColumnRenamed("x", "day")
          .orderBy("event_type", "day")),

    // ----- abandonment (funnel negative) -----
    Q("q228_abandonment",
      "cart-abandonment per user: a view with NO purchase by the same " +
        "user within 30 minutes is abandoned — the funnel NEGATIVE " +
        "(attribution joins conversions back to touches; this finds " +
        "the touches nothing ever joined); one user-keyed equi join " +
        "with the time bracket as a join filter, the left join's null " +
        "row IS the signal — no NOT EXISTS over raw volume",
      Some("""WITH v AS (SELECT event_id, user_id, ts FROM events
             |       WHERE event_type = 'view'),
             |p AS (SELECT user_id, ts FROM events
             |      WHERE event_type = 'purchase'),
             |a AS (SELECT v.user_id, v.event_id,
             |        NOT EXISTS (SELECT 1 FROM p
             |          WHERE p.user_id = v.user_id AND p.ts >= v.ts
             |            AND p.ts <= v.ts + INTERVAL 30 MINUTE)
             |          AS abandoned
             |      FROM v)
             |SELECT user_id AS "user", CAST(count(*) AS BIGINT) AS n_views,
             |       CAST(sum(CASE WHEN abandoned THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_abandoned,
             |       round(CAST(sum(CASE WHEN abandoned THEN 1 ELSE 0 END)
             |           AS DOUBLE)
             |         / CAST(CASE WHEN count(*) > 0 THEN count(*) END
             |                AS DOUBLE) * 1e6) / 1e6 AS abandon_rate
             |FROM a GROUP BY user_id ORDER BY "user"""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.abandonment(Tables(s, dir, "events"),
            userCol = "user_id", tsCol = "ts", idCol = "event_id",
            viewType = "view", convType = "purchase",
            windowMinutes = 30)
          .orderBy("user")),

    // ----- feed freshness / completeness audit -----
    Q("q229_freshness_audit",
      "per-type feed freshness: staleness of each slice's last event " +
        "vs the FEED max (slices audited against each other — a " +
        "wall-clock lag needs the caller's clock), distinct active " +
        "hours, and completeness over the slice's own first-seen to " +
        "feed-max span; minute/hour arithmetic counts BOUNDARY " +
        "CROSSINGS (both sides truncated first) matching SQL " +
        "date_diff; one keyed agg + a broadcast one-row feed max",
      Some("""WITH mx AS (SELECT max(ts) AS feed_max FROM events),
             |t AS (SELECT event_type, max(ts) AS last_seen,
             |        min(ts) AS first_seen,
             |        CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
             |          AS hours_active
             |      FROM events GROUP BY 1)
             |SELECT t.event_type, t.last_seen,
             |       CAST(date_diff('minute', t.last_seen, mx.feed_max)
             |         AS BIGINT) AS staleness_minutes,
             |       t.hours_active,
             |       CAST(date_diff('hour', t.first_seen, mx.feed_max) + 1
             |         AS BIGINT) AS hours_span,
             |       round(CAST(t.hours_active AS DOUBLE)
             |         / CAST(CASE WHEN date_diff('hour', t.first_seen,
             |             mx.feed_max) + 1 > 0
             |           THEN date_diff('hour', t.first_seen, mx.feed_max) + 1
             |           END AS DOUBLE) * 1e6) / 1e6 AS completeness
             |FROM t CROSS JOIN mx ORDER BY event_type""".stripMargin),
      (s, dir) =>
        graft.analytics.DataAudit.freshness(Tables(s, dir, "events"),
            keyCol = "event_type", tsCol = "ts")
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type")),

    // ----- Benford first-digit audit -----
    Q("q230_benford_audit",
      "Benford first-digit audit of order totals — the fraud/" +
        "synthetic-data screen: natural amounts follow log10(1+1/d), " +
        "fabricated or uniform ones don't, and this synthetic feed's " +
        "near-uniform digits FAIL loudly (deviation up to 0.12 where " +
        "real books sit under 0.02) — which is the audit doing its " +
        "job; first digit off the QUANTIZED integer (powers of ten " +
        "never change a leading digit), all nine digits always emit; " +
        "one agg + a broadcast one-row total",
      Some("""WITH d AS (SELECT CAST(substring(CAST(CAST(round(
             |         o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
             |         AS BIGINT) AS digit
             |       FROM orders
             |       WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
             |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
             |      FROM d GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
             |g AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit)
             |SELECT g.digit, coalesce(c.n, CAST(0 AS BIGINT)) AS observed_n,
             |       round(CAST(coalesce(c.n, 0) AS DOUBLE)
             |         / CAST(CASE WHEN t.tot > 0 THEN t.tot END AS DOUBLE)
             |         * 1e6) / 1e6 AS observed_p,
             |       round(ln(1.0 + 1.0 / g.digit) / ln(10.0) * 1e6) / 1e6
             |         AS benford_p,
             |       round(abs(CAST(coalesce(c.n, 0) AS DOUBLE)
             |           / CAST(CASE WHEN t.tot > 0 THEN t.tot END AS DOUBLE)
             |         - ln(1.0 + 1.0 / g.digit) / ln(10.0)) * 1e6) / 1e6
             |         AS abs_dev
             |FROM g LEFT JOIN c ON c.digit = g.digit CROSS JOIN t
             |ORDER BY g.digit""".stripMargin),
      (s, dir) =>
        graft.analytics.DataAudit.benford(Tables(s, dir, "orders"),
            amountCol = "o_totalprice", scale = 100L)
          .orderBy("digit")),

    // ----- grouped Pearson correlation -----
    Q("q231_pearson_by_group",
      "Pearson correlation of quantity vs price per return flag from " +
        "the five integer power sums — the elasticity/leakage probe; " +
        "products summed in DECIMAL(38,0) (the q144 overflow rule) so " +
        "both engines derive r from identical integers through one " +
        "identical tree; zero-variance groups null (undefined, not 0); " +
        "ONE keyed aggregate with map-side partials",
      Some("""WITH w AS (SELECT l_returnflag AS grp,
             |         CAST(round(l_quantity * 1) AS BIGINT) AS x,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
             |       FROM lineitem
             |       WHERE l_quantity IS NOT NULL
             |         AND l_extendedprice IS NOT NULL),
             |s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(x) AS BIGINT) AS sx,
             |        CAST(sum(y) AS BIGINT) AS sy,
             |        CAST(sum(CAST(x * x AS HUGEINT)) AS DECIMAL(38, 0)) AS sxx,
             |        CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38, 0)) AS syy,
             |        CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38, 0)) AS sxy
             |      FROM w GROUP BY 1)
             |SELECT grp, n,
             |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             |    / CAST(CASE WHEN sqrt(
             |          (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             |        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             |        > 0
             |      THEN sqrt(
             |          (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             |        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             |      END AS DOUBLE) * 1e6) / 1e6 AS pearson_r
             |FROM s ORDER BY grp""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.pearsonByGroup(Tables(s, dir, "lineitem"),
            groupCol = "l_returnflag", xCol = "l_quantity",
            yCol = "l_extendedprice", xScale = 1L, yScale = 100L)
          .orderBy("grp")),

    // ----- embedding centroid drift -----
    Q("q232_centroid_drift",
      "embedding-centroid drift per label between two corpus slices " +
        "(even vs odd vec_id standing in for old vs new snapshot): " +
        "cosine of the slices' mean vectors + their L2 shift — the " +
        "vector-space drift monitor (PSI/KS watch one scalar; an " +
        "encoder swap moves the whole embedding); ONE (label, dim) " +
        "keyed agg over raw volume, then a dictionary-sized fold — " +
        "vectors never pairwise-join",
      Some("""WITH v AS (SELECT vec_id, label,
             |        list_transform(embedding, e -> CAST(e AS DOUBLE)) AS vv
             |      FROM embeddings),
             |x AS (SELECT label, vec_id % 2 = 0 AS in_a,
             |        CAST(generate_subscripts(vv, 1) AS INT) AS i,
             |        unnest(vv) AS xi
             |      FROM v),
             |d AS (SELECT label, i,
             |        sum(CASE WHEN in_a THEN xi ELSE 0.0 END) AS sa,
             |        sum(CASE WHEN NOT in_a THEN xi ELSE 0.0 END) AS sb,
             |        CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
             |          AS na,
             |        CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END)
             |          AS BIGINT) AS nb
             |      FROM x GROUP BY 1, 2),
             |m AS (SELECT label, na, nb,
             |        sa / CAST(CASE WHEN na > 0 THEN na END AS DOUBLE) AS ma,
             |        sb / CAST(CASE WHEN nb > 0 THEN nb END AS DOUBLE) AS mb
             |      FROM d),
             |g AS (SELECT label, max(na) AS n_a, max(nb) AS n_b,
             |        sum(ma * mb) AS dot, sum(ma * ma) AS naa,
             |        sum(mb * mb) AS nbb,
             |        sum((ma - mb) * (ma - mb)) AS ss
             |      FROM m GROUP BY 1)
             |SELECT label, n_a, n_b,
             |  round(dot / CASE WHEN sqrt(naa * nbb) > 0
             |      THEN sqrt(naa * nbb) END * 1e6) / 1e6 AS centroid_cosine,
             |  round(sqrt(ss) * 1e6) / 1e6 AS centroid_l2
             |FROM g ORDER BY label""".stripMargin),
      (s, dir) =>
        graft.analytics.Similarity.centroidDrift(
            Tables(s, dir, "embeddings"), labelCol = "label",
            vecCol = "embedding",
            sliceA = org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
          .orderBy("label")),

    // ----- chi-square independence cells -----
    Q("q233_chi_square",
      "chi-square independence grid of lang x source over documents: " +
        "observed counts, expected under independence, per-cell " +
        "contribution (sum = the statistic on (r-1)(c-1) dof) — the " +
        "categorical-association audit; one keyed agg to the observed " +
        "cells, margins re-aggregate CELLS, and the r x c spine is a " +
        "broadcast margin x margin nested loop — raw rows never " +
        "cross-join; zero-observed cells still emit",
      Some("""WITH o AS (SELECT lang AS a, source AS b,
             |        CAST(count(*) AS BIGINT) AS n
             |      FROM documents
             |      WHERE lang IS NOT NULL AND source IS NOT NULL
             |      GROUP BY 1, 2),
             |r AS (SELECT a, CAST(sum(n) AS BIGINT) AS row_n FROM o
             |      GROUP BY 1),
             |c AS (SELECT b, CAST(sum(n) AS BIGINT) AS col_n FROM o
             |      GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM o),
             |e AS (SELECT r.a, c.b,
             |        CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
             |          / CAST(CASE WHEN tot > 0 THEN tot END AS DOUBLE)
             |          AS expected
             |      FROM r CROSS JOIN c CROSS JOIN t)
             |SELECT e.a AS lang, e.b AS source,
             |  coalesce(o.n, CAST(0 AS BIGINT)) AS observed_n,
             |  round(e.expected * 1e6) / 1e6 AS expected,
             |  round((CAST(coalesce(o.n, 0) AS DOUBLE) - e.expected)
             |      * (CAST(coalesce(o.n, 0) AS DOUBLE) - e.expected)
             |      / CASE WHEN e.expected > 0 THEN e.expected END * 1e6)
             |    / 1e6 AS chi2_contrib
             |FROM e LEFT JOIN o ON o.a = e.a AND o.b = e.b
             |ORDER BY lang, source""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.chiSquareCells(Tables(s, dir, "documents"),
            aCol = "lang", bCol = "source")
          .withColumnRenamed("a", "lang")
          .withColumnRenamed("b", "source")
          .orderBy("lang", "source")),

    // ----- differentially-private noisy counts -----
    Q("q234_dp_noisy_counts",
      "epsilon-DP count release per (event_type, day): Laplace(1/eps) " +
        "noise via deterministic-by-hash inverse-CDF (the bootstrap " +
        "rule — a production caller salts the hash per release), " +
        "released counts clamped at 0 by post-processing — the privacy " +
        "family's third leg (k-anon and l-div suppress, DP perturbs); " +
        "one keyed agg, then map-side scalar math on group rows",
      Some("""WITH c AS (SELECT event_type,
             |        CAST(date_trunc('day', ts) AS DATE) AS day,
             |        CAST(count(*) AS BIGINT) AS n
             |      FROM events GROUP BY 1, 2),
             |h AS (SELECT event_type, day, n,
             |        (CAST(('0x' || substring(md5(concat_ws('|',
             |            event_type, CAST(day AS VARCHAR))), 1, 15))::BIGINT
             |          AS DOUBLE) + 0.5) / 1152921504606846976.0 AS u
             |      FROM c),
             |g AS (SELECT event_type, day, n,
             |        round(-1.0 * sign(u - 0.5)
             |          * ln(1.0 - 2.0 * abs(u - 0.5)) * 1e6) / 1e6 AS noise
             |      FROM h)
             |SELECT event_type, day, n, noise,
             |  CAST(greatest(0.0, round(CAST(n AS DOUBLE) + noise))
             |    AS BIGINT) AS noisy_n
             |FROM g ORDER BY event_type, day""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, to_date}
        graft.analytics.DataAudit.dpNoisyCounts(
            Tables(s, dir, "events")
              .select(col("event_type"), to_date(col("ts")).as("day")),
            epsilon = 1.0, "event_type", "day")
          .orderBy("event_type", "day")
      }),

    // ----- positional phrase search -----
    Q("q235_phrase_search",
      "exact-phrase occurrence counts for \"table key\" via positional " +
        "posting-list intersection: postings FILTERED to the phrase's " +
        "terms before anything joins (at 100 TB only the phrase's " +
        "posting lists move — a prebuilt term-keyed index makes the " +
        "scan itself a probe), consecutive terms chained on " +
        "(doc, pos - i) equi-keys; the naive regex scan touches every " +
        "byte instead",
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
             |      FROM documents),
             |p AS (SELECT doc_id, unnest(toks) AS w,
             |        CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos
             |      FROM t),
             |f AS (SELECT doc_id, pos FROM p WHERE w = 'table'),
             |s1 AS (SELECT doc_id, pos - 1 AS pos FROM p WHERE w = 'key')
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
             |FROM f JOIN s1 USING (doc_id, pos)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Retrieval.phraseOccurrences(
            Tables(s, dir, "documents"), idCol = "doc_id",
            textCol = "text", phrase = "table key")
          .orderBy("doc_id")),

    // ----- per-series autocorrelation -----
    Q("q236_daily_acf",
      "sample autocorrelation of each event type's daily count series " +
        "at calendar lags 1..7 — the seasonality fingerprint (weekly " +
        "cycles spike lag 7, white noise sits near 0); pairs align by " +
        "CALENDAR day via a (key, day+lag) equi self-join of the " +
        "pre-aggregated series (gaps pair nothing, never silently " +
        "shift), r derived from five integer power sums per (key, lag) " +
        "— the q231 parity tree",
      Some("""WITH d AS (SELECT event_type AS key,
             |        CAST(date_trunc('day', ts) AS DATE) AS day,
             |        CAST(count(*) AS BIGINT) AS x
             |      FROM events GROUP BY 1, 2),
             |b AS (SELECT key, day, x AS x0,
             |        CAST(unnest(range(1, 8)) AS INT) AS lag_days
             |      FROM d),
             |p AS (SELECT b.key, b.lag_days, b.x0, d2.x AS x1
             |      FROM b JOIN d d2
             |        ON d2.key = b.key AND d2.day = b.day + b.lag_days),
             |s AS (SELECT key, lag_days, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(x0) AS BIGINT) AS sx,
             |        CAST(sum(x1) AS BIGINT) AS sy,
             |        CAST(sum(CAST(x0 AS HUGEINT) * x0) AS DECIMAL(38, 0))
             |          AS sxx,
             |        CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DECIMAL(38, 0))
             |          AS syy,
             |        CAST(sum(CAST(x0 AS HUGEINT) * x1) AS DECIMAL(38, 0))
             |          AS sxy
             |      FROM p GROUP BY 1, 2)
             |SELECT key AS event_type, lag_days, n,
             |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             |    / CAST(CASE WHEN sqrt(
             |          (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             |        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             |        > 0
             |      THEN sqrt(
             |          (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             |        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             |      END AS DOUBLE) * 1e6) / 1e6 AS acf_r
             |FROM s ORDER BY event_type, lag_days""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, count, lit, to_date}
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type").as("key"),
            to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("x"))
        graft.analytics.Stats.acfByKey(daily, keyCol = "key",
            dayCol = "day", xCol = "x", maxLag = 7)
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type", "lag_days")
      }),

    // ----- Mann-Kendall trend test -----
    Q("q237_mann_kendall",
      "Mann-Kendall trend test per event type's daily count series: " +
        "S = sum of sign(x_j - x_i) over day pairs i<j, tie-corrected " +
        "variance, continuity-corrected z — the nonparametric 'is it " +
        "trending' companion to Theil-Sen (q211 sizes the trend, this " +
        "scores it); the pairwise join runs over the CALENDAR-bounded " +
        "pre-aggregated series, never raw volume; exact integers until " +
        "the final /18",
      Some("""WITH d AS (SELECT event_type AS key,
             |        CAST(date_trunc('day', ts) AS DATE) AS day,
             |        CAST(count(*) AS BIGINT) AS x
             |      FROM events GROUP BY 1, 2),
             |p AS (SELECT a.key,
             |        CAST(sign(CAST(b.x - a.x AS DOUBLE)) AS BIGINT) AS sgn
             |      FROM d a JOIN d b
             |        ON b.key = a.key AND a.day < b.day),
             |sa AS (SELECT key, CAST(sum(sgn) AS BIGINT) AS s_stat
             |       FROM p GROUP BY 1),
             |na AS (SELECT key, CAST(count(*) AS BIGINT) AS n
             |       FROM d GROUP BY 1),
             |tt AS (SELECT key,
             |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
             |           AS tie_term
             |       FROM (SELECT key, x, CAST(count(*) AS BIGINT) AS t
             |             FROM d GROUP BY 1, 2)
             |       GROUP BY 1),
             |j AS (SELECT na.key, na.n,
             |        coalesce(sa.s_stat, CAST(0 AS BIGINT)) AS s_stat,
             |        CAST(na.n * (na.n - 1) * (2 * na.n + 5) - tt.tie_term
             |          AS DOUBLE) / 18.0 AS v
             |      FROM na LEFT JOIN sa USING (key) JOIN tt USING (key))
             |SELECT key AS event_type, n, s_stat,
             |  round(v * 1e6) / 1e6 AS var_s,
             |  round((CAST(s_stat AS DOUBLE) - sign(CAST(s_stat AS DOUBLE)))
             |    / CASE WHEN sqrt(v) > 0 THEN sqrt(v) END * 1e6) / 1e6 AS z
             |FROM j ORDER BY event_type""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, count, lit, to_date}
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type").as("key"),
            to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("x"))
        graft.analytics.Stats.mannKendall(daily, keyCol = "key",
            dayCol = "day", xCol = "x")
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type")
      }),

    // ----- CUPED variance-reduced A/B readout -----
    Q("q238_cuped",
      "CUPED-adjusted A/B revenue readout: per-user post-period " +
        "purchase revenue adjusted by the pre-period covariate via " +
        "pooled theta = cov(X,Y)/var(X) — the standard " +
        "variance-reduction that makes continuous-metric experiments " +
        "readable sooner; arms by user_id parity, split at day 16; " +
        "revenue quantized to integer cents so both engines derive " +
        "theta from identical integers; one user-keyed agg then ONE " +
        "1-row power-sum aggregate",
      Some("""WITH u AS (SELECT user_id AS u,
             |        CAST(user_id % 2 AS INT) AS g,
             |        CAST(sum(CASE WHEN event_type = 'purchase'
             |            AND CAST(date_trunc('day', ts) AS DATE)
             |              < DATE '2024-01-16'
             |          THEN CAST(round(value * 100) AS BIGINT)
             |          ELSE 0 END) AS BIGINT) AS x,
             |        CAST(sum(CASE WHEN event_type = 'purchase'
             |            AND CAST(date_trunc('day', ts) AS DATE)
             |              >= DATE '2024-01-16'
             |          THEN CAST(round(value * 100) AS BIGINT)
             |          ELSE 0 END) AS BIGINT) AS y
             |      FROM events GROUP BY 1, 2),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_a,
             |        CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_b,
             |        CAST(sum(x) AS BIGINT) AS sx,
             |        CAST(sum(y) AS BIGINT) AS sy,
             |        CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT)
             |          AS sx_a,
             |        CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT)
             |          AS sx_b,
             |        CAST(sum(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT)
             |          AS sy_a,
             |        CAST(sum(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT)
             |          AS sy_b,
             |        CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38, 0))
             |          AS sxx,
             |        CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38, 0))
             |          AS sxy,
             |        CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38, 0))
             |          AS syy
             |      FROM u),
             |k AS (SELECT n_a, n_b,
             |        n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy
             |          AS cov_n,
             |        n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx
             |          AS varx_n,
             |        n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy
             |          AS vary_n,
             |        sy_a / CAST(CASE WHEN n_a > 0 THEN n_a END AS DOUBLE)
             |          / 100.0 AS my_a,
             |        sy_b / CAST(CASE WHEN n_b > 0 THEN n_b END AS DOUBLE)
             |          / 100.0 AS my_b,
             |        sx_a / CAST(CASE WHEN n_a > 0 THEN n_a END AS DOUBLE)
             |          / 100.0 AS mx_a,
             |        sx_b / CAST(CASE WHEN n_b > 0 THEN n_b END AS DOUBLE)
             |          / 100.0 AS mx_b
             |      FROM a)
             |SELECT n_a, n_b,
             |  round(my_a * 1e6) / 1e6 AS mean_y_a,
             |  round(my_b * 1e6) / 1e6 AS mean_y_b,
             |  round((my_b - my_a) * 1e6) / 1e6 AS diff_raw,
             |  round(cov_n / CASE WHEN varx_n > 0 THEN varx_n END * 1e6)
             |    / 1e6 AS theta,
             |  round(((my_b - my_a)
             |      - cov_n / CASE WHEN varx_n > 0 THEN varx_n END
             |        * (mx_b - mx_a)) * 1e6) / 1e6 AS diff_adj,
             |  round(cov_n * cov_n
             |    / CASE WHEN varx_n * vary_n > 0 THEN varx_n * vary_n END
             |    * 1e6) / 1e6 AS var_reduction
             |FROM k""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.cupedLift(Tables(s, dir, "events"),
          userCol = "user_id", tsCol = "ts", typeCol = "event_type",
          convType = "purchase", valueCol = "value",
          splitDay = "2024-01-16",
          cohortCol = org.apache.spark.sql.functions.col("user_id") % 2)),

    // ----- Markov next-event model, trained and evaluated -----
    Q("q239_markov_accuracy",
      "first-order Markov next-event model trained on days 1-15, " +
        "evaluated on days 16+: per-from-state argmax successor " +
        "(ties to the smallest, the q203 total order), held-out " +
        "accuracy per from-state — the eval loop the q177 transition " +
        "matrix feeds; per-user lead windows per period, a " +
        "dictionary-sized model agg + min_by argmax, one broadcast " +
        "join of test transitions; unseen from-states predict null " +
        "and score 0",
      Some("""WITH e AS (SELECT user_id AS u, ts, event_id AS eid,
             |        event_type AS s,
             |        CAST(date_trunc('day', ts) AS DATE)
             |          < DATE '2024-01-16' AS pre
             |      FROM events),
             |tr AS (SELECT s AS from_s,
             |         lead(s) OVER (PARTITION BY u, pre
             |           ORDER BY ts, eid) AS to_s,
             |         pre
             |       FROM e),
             |m AS (SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS cnt
             |      FROM tr WHERE to_s IS NOT NULL AND pre
             |      GROUP BY 1, 2),
             |p AS (SELECT from_s, to_s AS predicted FROM (
             |        SELECT from_s, to_s,
             |               row_number() OVER (PARTITION BY from_s
             |                 ORDER BY cnt DESC, to_s) AS rn
             |        FROM m) WHERE rn = 1),
             |tt AS (SELECT from_s, to_s FROM tr
             |       WHERE to_s IS NOT NULL AND NOT pre),
             |j AS (SELECT tt.from_s, tt.to_s, p.predicted
             |      FROM tt LEFT JOIN p USING (from_s))
             |SELECT from_s, CAST(count(*) AS BIGINT) AS n_test,
             |  CAST(sum(CASE WHEN to_s = predicted THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  max(predicted) AS predicted,
             |  round(CAST(sum(CASE WHEN to_s = predicted THEN 1 ELSE 0 END)
             |      AS DOUBLE)
             |    / CAST(CASE WHEN count(*) > 0 THEN count(*) END AS DOUBLE)
             |    * 1e6) / 1e6 AS accuracy
             |FROM j GROUP BY from_s ORDER BY from_s""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.markovAccuracy(Tables(s, dir, "events"),
            userCol = "user_id", tsCol = "ts", idCol = "event_id",
            typeCol = "event_type", splitDay = "2024-01-16")
          .orderBy("from_s")),

    // ----- calendar-spine LOCF gap fill -----
    Q("q240_locf_gapfill",
      "per-user daily activity series completed to a calendar spine " +
        "(each user's own first..last day), gaps flagged and filled " +
        "with last-observation-carried-forward — the regularization " +
        "every window/lag/ACF op silently assumes (a gap-blind lag " +
        "pairs week-apart readings as neighbors); spine is " +
        "calendar-bounded sequence() per key, fill is ONE keyed " +
        "window over spine rows, never raw volume",
      Some("""WITH d AS (SELECT user_id AS key,
             |        CAST(date_trunc('day', ts) AS DATE) AS day,
             |        CAST(count(*) AS BIGINT) AS x
             |      FROM events GROUP BY 1, 2),
             |b AS (SELECT key, min(day) AS d0, max(day) AS d1
             |      FROM d GROUP BY 1),
             |o AS (SELECT key, d0,
             |        unnest(range(0, date_diff('day', d0, d1) + 1)) AS i
             |      FROM b),
             |sp AS (SELECT key, d0 + CAST(i AS INT) AS day FROM o),
             |j AS (SELECT sp.key, sp.day, d.x
             |      FROM sp LEFT JOIN d USING (key, day))
             |SELECT key AS user_id, day,
             |  last_value(x IGNORE NULLS) OVER (PARTITION BY key
             |    ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS filled,
             |  x IS NULL AS was_gap
             |FROM j ORDER BY user_id, day""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, count, lit, to_date}
        val daily = Tables(s, dir, "events")
          .groupBy(col("user_id").as("key"),
            to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("x"))
        graft.analytics.Stats.locfGapfill(daily, keyCol = "key",
            dayCol = "day", xCol = "x")
          .withColumnRenamed("key", "user_id")
          .orderBy("user_id", "day")
      }),

    // ----- time-decayed popularity top-k -----
    Q("q241_decayed_topk",
      "time-decayed popularity top-3 parts per brand: each lineitem " +
        "row contributes exp(-0.05 * age_days) vs the feed max date — " +
        "the trending-items / cold-start shelf; per-ROW weights round " +
        "to integer micro-units BEFORE summing so the ranking compares " +
        "exact integers (the q194 scaled-round rule at the row); facts " +
        "aggregate to the item dictionary against a broadcast one-row " +
        "max date, dim join + top-k window run over items only",
      Some("""WITH f AS (SELECT l_partkey AS item,
             |        CAST(date_trunc('day', l_shipdate) AS DATE) AS d
             |      FROM lineitem
             |      WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL),
             |mx AS (SELECT max(d) AS dmax FROM f),
             |s AS (SELECT item, CAST(count(*) AS BIGINT) AS n_rows,
             |        CAST(sum(CAST(round(exp(-0.05
             |            * CAST(date_diff('day', d, dmax) AS DOUBLE))
             |          * 1e6) AS BIGINT)) AS BIGINT) AS score_micro
             |      FROM f CROSS JOIN mx GROUP BY 1),
             |j AS (SELECT p.p_brand AS grp, s.item, s.n_rows,
             |        s.score_micro
             |      FROM s JOIN part p ON p.p_partkey = s.item),
             |r AS (SELECT grp, item, n_rows, score_micro,
             |        CAST(row_number() OVER (PARTITION BY grp
             |          ORDER BY score_micro DESC, item) AS INT) AS rnk
             |      FROM j)
             |SELECT grp, rnk, item, n_rows, score_micro
             |FROM r WHERE rnk <= 3 ORDER BY grp, rnk""".stripMargin),
      (s, dir) =>
        graft.analytics.Baskets.decayedTopK(Tables(s, dir, "lineitem"),
            itemCol = "l_partkey", dateCol = "l_shipdate",
            dim = Tables(s, dir, "part"), dimKeyCol = "p_partkey",
            groupCol = "p_brand", lambda = 0.05, k = 3)
          .orderBy("grp", "rnk")),

    // ----- hive-partitioned layout: listing-level pruning -----
    Q("q242_partition_prune",
      "events rewritten hive-partitioned by event_type, then one " +
        "slice's daily counts read back through the pruned listing — " +
        "the coarsest tier of the skipping ladder (partition dirs > " +
        "footer stats q162 > bloom q163): non-matching files are " +
        "never OPENED, not even footers; LayoutSpec pins the actual " +
        "file count admitted",
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             |       CAST(count(*) AS BIGINT) AS n_events
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY day""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, count, lit, to_date}
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_hivepart_" + graft.operators.Bucketing.pathKey(dir)).toString
        graft.sinks.Layout.writePartitioned(
          Tables(s, dir, "events"), base, "event_type")
        s.read.parquet(base)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("n_events"))
          .orderBy("day")
      }),

    // ----- minimum detectable effect -----
    Q("q243_mde_readout",
      "minimum-detectable-effect readout for the revenue experiment: " +
        "with the arms' observed sizes and variances, the smallest " +
        "true difference the test would flag at alpha .05 / power .80 " +
        "— the 'could this test even see it' pre-check; per-user " +
        "revenue in integer cents (the q238 rule), z constants " +
        "driver-interpolated into both trees; one user agg + ONE " +
        "1-row power-sum aggregate",
      Some({
        val zs = (1.959964 + 0.841621).toString
        s"""WITH u AS (SELECT user_id AS u,
           |        CAST(user_id % 2 AS INT) AS g,
           |        CAST(sum(CASE WHEN event_type = 'purchase'
           |          THEN CAST(round(value * 100) AS BIGINT)
           |          ELSE 0 END) AS BIGINT) AS x
           |      FROM events GROUP BY 1, 2),
           |a AS (SELECT
           |        CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |          AS n_a,
           |        CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |          AS n_b,
           |        CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT)
           |          AS sx_a,
           |        CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT)
           |          AS sx_b,
           |        CAST(sum(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) * x
           |          ELSE 0 END) AS DECIMAL(38, 0)) AS sxx_a,
           |        CAST(sum(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) * x
           |          ELSE 0 END) AS DECIMAL(38, 0)) AS sxx_b
           |      FROM u),
           |k AS (SELECT n_a, n_b, sx_a, sx_b,
           |        (n_a * CAST(sxx_a AS DOUBLE)
           |            - CAST(sx_a AS DOUBLE) * sx_a)
           |          / CAST(CASE WHEN n_a * (n_a - 1) > 0
           |            THEN n_a * (n_a - 1) END AS DOUBLE) AS var_a,
           |        (n_b * CAST(sxx_b AS DOUBLE)
           |            - CAST(sx_b AS DOUBLE) * sx_b)
           |          / CAST(CASE WHEN n_b * (n_b - 1) > 0
           |            THEN n_b * (n_b - 1) END AS DOUBLE) AS var_b
           |      FROM a),
           |m AS (SELECT n_a, n_b,
           |        sx_a / CAST(CASE WHEN n_a > 0 THEN n_a END AS DOUBLE)
           |          / 100.0 AS mean_a,
           |        sx_b / CAST(CASE WHEN n_b > 0 THEN n_b END AS DOUBLE)
           |          / 100.0 AS mean_b,
           |        $zs * sqrt(
           |            var_a / CAST(CASE WHEN n_a > 0 THEN n_a END
           |              AS DOUBLE)
           |          + var_b / CAST(CASE WHEN n_b > 0 THEN n_b END
           |              AS DOUBLE)) / 100.0 AS mde,
           |        (sx_a + sx_b) / CAST(CASE WHEN n_a + n_b > 0
           |          THEN n_a + n_b END AS DOUBLE) / 100.0 AS pooled
           |      FROM k)
           |SELECT n_a, n_b,
           |  round(mean_a * 1e6) / 1e6 AS mean_a,
           |  round(mean_b * 1e6) / 1e6 AS mean_b,
           |  round(mde * 1e6) / 1e6 AS mde_abs,
           |  round(mde / CASE WHEN pooled > 0 THEN pooled END * 1e6) / 1e6
           |    AS mde_rel
           |FROM m""".stripMargin
      }),
      (s, dir) =>
        graft.analytics.Events.mdeReadout(Tables(s, dir, "events"),
          userCol = "user_id", typeCol = "event_type",
          convType = "purchase", valueCol = "value",
          cohortCol = org.apache.spark.sql.functions.col("user_id") % 2)),

    // ----- sample-ratio-mismatch gate -----
    Q("q244_srm_check",
      "sample-ratio-mismatch gate on the hash-bucket split: chi-square " +
        "of observed arm sizes vs the expected 50/50 on 1 dof, flagged " +
        "past 3.841459 — the experiment-health check that must pass " +
        "before ANY readout is believed (a broken split makes every " +
        "metric garbage); one distinct-user pass + a 1-row aggregate, " +
        "exact integer counts",
      Some("""WITH u AS (SELECT user_id AS u,
             |        CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
             |          1, 15))::BIGINT % 2 AS INT) AS g
             |      FROM events GROUP BY 1, 2),
             |a AS (SELECT
             |        CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_a,
             |        CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_b
             |      FROM u),
             |k AS (SELECT n_a, n_b,
             |        CAST(n_a + n_b AS DOUBLE) * 0.5 AS ea,
             |        CAST(n_a + n_b AS DOUBLE) * 0.5 AS eb
             |      FROM a)
             |SELECT n_a, n_b,
             |  round(((n_a - ea) * (n_a - ea)
             |      / CASE WHEN ea > 0 THEN ea END
             |    + (n_b - eb) * (n_b - eb)
             |      / CASE WHEN eb > 0 THEN eb END) * 1e6) / 1e6 AS chi2,
             |  ((n_a - ea) * (n_a - ea) / CASE WHEN ea > 0 THEN ea END
             |    + (n_b - eb) * (n_b - eb) / CASE WHEN eb > 0 THEN eb END)
             |    > 3.841459 AS srm
             |FROM k""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.srmCheck(Tables(s, dir, "events"),
          userCol = "user_id",
          cohortCol = graft.analytics.Sketches.h60(
            org.apache.spark.sql.functions.col("user_id")
              .cast("string")) % 2)),

    // ----- language-ID confusion matrix -----
    Q("q245_lang_confusion",
      "the q22 language detector evaluated against the corpus's " +
        "DECLARED labels: per (declared, detected) cell the count and " +
        "its share of the declared row — the eval artifact that says " +
        "WHICH languages leak where (zh has no stopword set; its row " +
        "landing in und/misdetections is the finding); detection " +
        "map-side, one cell agg, row totals re-aggregate the " +
        "language-dictionary-sized cells",
      Some("""WITH d AS (SELECT lang AS declared,
             |  len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS en_hits,
             |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de_hits,
             |  len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en)\b')) AS es_hits,
             |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|que)\b')) AS fr_hits
             |  FROM documents),
             |g AS (SELECT declared,
             |  CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
             |       WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
             |       WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
             |       WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
             |       ELSE 'fr' END AS detected
             |  FROM d),
             |c AS (SELECT declared, detected, CAST(count(*) AS BIGINT) AS n
             |      FROM g GROUP BY 1, 2),
             |r AS (SELECT declared, CAST(sum(n) AS BIGINT) AS row_n
             |      FROM c GROUP BY 1)
             |SELECT c.declared, c.detected, c.n,
             |  round(CAST(c.n AS DOUBLE)
             |    / CAST(CASE WHEN row_n > 0 THEN row_n END AS DOUBLE)
             |    * 1e6) / 1e6 AS row_share
             |FROM c JOIN r USING (declared)
             |ORDER BY declared, detected""".stripMargin),
      (s, dir) =>
        graft.analytics.TextAnalysis.langConfusion(
            Tables(s, dir, "documents"), declaredCol = "lang",
            textCol = "text")
          .orderBy("declared", "detected")),

    // ----- resharding movement audit -----
    Q("q246_reshard_movement",
      "resharding-movement audit, 8 -> 9 shards over document keys: " +
        "fraction of keys that relocate under naive modulo (~8/9 — " +
        "everything reshuffles) vs rendezvous hashing (~1/9 — only " +
        "what the new shard wins): the receipt a migration plan " +
        "attaches, and why stateful layouts reshard with HRW; one " +
        "distinct-key pass, a 9-way fan with min_by placements, ONE " +
        "1-row rollup",
      Some("""WITH k AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS kk
             |      FROM documents WHERE doc_id IS NOT NULL),
             |f AS (SELECT kk, CAST(unnest(range(0, 9)) AS INT) AS s
             |      FROM k),
             |sc AS (SELECT kk, s,
             |        ('0x' || substring(md5(kk || '|' ||
             |          CAST(s AS VARCHAR)), 1, 15))::BIGINT AS score
             |      FROM f),
             |t1 AS (SELECT kk, s AS hrw_to FROM (
             |        SELECT kk, s, row_number() OVER (PARTITION BY kk
             |          ORDER BY score DESC, s) AS rn FROM sc)
             |       WHERE rn = 1),
             |t0 AS (SELECT kk, s AS hrw_from FROM (
             |        SELECT kk, s, row_number() OVER (PARTITION BY kk
             |          ORDER BY score DESC, s) AS rn
             |        FROM sc WHERE s < 8)
             |       WHERE rn = 1),
             |h AS (SELECT kk,
             |        ('0x' || substring(md5(kk), 1, 15))::BIGINT AS hk
             |      FROM k),
             |j AS (SELECT h.kk, hk % 8 <> hk % 9 AS mod_moved,
             |        t0.hrw_from <> t1.hrw_to AS hrw_moved
             |      FROM h JOIN t0 USING (kk) JOIN t1 USING (kk))
             |SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END) AS BIGINT)
             |    AS moved_mod,
             |  CAST(sum(CASE WHEN hrw_moved THEN 1 ELSE 0 END) AS BIGINT)
             |    AS moved_hrw,
             |  round(CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END)
             |      AS DOUBLE)
             |    / CAST(CASE WHEN count(*) > 0 THEN count(*) END AS DOUBLE)
             |    * 1e6) / 1e6 AS frac_mod,
             |  round(CAST(sum(CASE WHEN hrw_moved THEN 1 ELSE 0 END)
             |      AS DOUBLE)
             |    / CAST(CASE WHEN count(*) > 0 THEN count(*) END AS DOUBLE)
             |    * 1e6) / 1e6 AS frac_hrw
             |FROM j""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.reshardMovement(
          Tables(s, dir, "documents"), keyCol = "doc_id",
          nFrom = 8, nTo = 9)),

    // ----- weight-of-evidence feature audit -----
    Q("q247_woe_buckets",
      "weight-of-evidence buckets + IV contributions of the first " +
        "embedding dimension against the parity label — the " +
        "predictiveness audit a feature earns BEFORE a model trains " +
        "on it (IV < .02 useless, > .3 strong); fixed-width " +
        "value-derived integer bins via the non-negative-offset trick " +
        "(engines disagree on integer division below 0), " +
        "Laplace-smoothed cells so empties stay finite; one keyed agg " +
        "+ broadcast one-row totals",
      Some("""WITH v AS (SELECT CAST(embedding[1] AS DOUBLE) AS x,
             |        CAST(label % 2 AS BIGINT) AS y FROM embeddings),
             |c0 AS (SELECT CAST((CAST(round(x * 1000) AS BIGINT) + 1000000
             |          - (CAST(round(x * 1000) AS BIGINT) + 1000000) % 200)
             |          / 200 AS BIGINT) - 5000 AS bucket,
             |        CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_pos
             |      FROM v GROUP BY 1),
             |c AS (SELECT bucket, n, n_pos, n - n_pos AS n_neg FROM c0),
             |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS pos_tot,
             |        CAST(sum(n_neg) AS BIGINT) AS neg_tot FROM c)
             |SELECT bucket, n, n_pos, n_neg,
             |  round(ln(((n_pos + 0.5)
             |      / CAST(CASE WHEN pos_tot > 0 THEN pos_tot END
             |        AS DOUBLE))
             |    / ((n_neg + 0.5)
             |      / CAST(CASE WHEN neg_tot > 0 THEN neg_tot END
             |        AS DOUBLE))) * 1e6) / 1e6 AS woe,
             |  round((((n_pos + 0.5)
             |      / CAST(CASE WHEN pos_tot > 0 THEN pos_tot END
             |        AS DOUBLE))
             |    - ((n_neg + 0.5)
             |      / CAST(CASE WHEN neg_tot > 0 THEN neg_tot END
             |        AS DOUBLE)))
             |    * ln(((n_pos + 0.5)
             |      / CAST(CASE WHEN pos_tot > 0 THEN pos_tot END
             |        AS DOUBLE))
             |    / ((n_neg + 0.5)
             |      / CAST(CASE WHEN neg_tot > 0 THEN neg_tot END
             |        AS DOUBLE))) * 1e6) / 1e6 AS iv_contrib
             |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, element_at}
        graft.analytics.Selection.woeBuckets(
            Tables(s, dir, "embeddings"),
            xCol = element_at(col("embedding"), 1).cast("double"),
            labelCol = col("label") % 2)
          .orderBy("bucket")
      }),

    // ----- vocabulary coverage curve -----
    Q("q248_vocab_coverage",
      "token share covered by the top-k most frequent types at ranks " +
        "5/10/20 — the Zipf-tail readout that sizes tokenizer vocabs " +
        "and stopword lists; one word-keyed agg absorbs raw volume, " +
        "top-k via TakeOrderedAndProject (map-side partial top-k, " +
        "never a global vocab sort), rank/cumulative windows over the " +
        "<= 20 survivors, broadcast one-row token total",
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
             |      FROM documents),
             |ww AS (SELECT word FROM w WHERE word <> ''),
             |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
             |      FROM ww GROUP BY 1),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM c),
             |r AS (SELECT cnt,
             |        CAST(row_number() OVER (ORDER BY cnt DESC, word)
             |          AS BIGINT) AS rnk,
             |        CAST(sum(cnt) OVER (ORDER BY cnt DESC, word
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) AS covered
             |      FROM c)
             |SELECT rnk AS k, covered AS top_k_tokens, t.total_tokens,
             |  round(CAST(covered AS DOUBLE)
             |    / CAST(CASE WHEN total_tokens > 0 THEN total_tokens END
             |      AS DOUBLE) * 1e6) / 1e6 AS coverage
             |FROM r CROSS JOIN t WHERE rnk IN (5, 10, 20)
             |ORDER BY k""".stripMargin),
      (s, dir) =>
        graft.analytics.TextAnalysis.vocabCoverage(
            Tables(s, dir, "documents"), textCol = "text",
            ks = Seq(5, 10, 20))
          .orderBy("k")),

    // ----- decile lift / gains table -----
    Q("q249_decile_lift",
      "decile lift and gains for the first embedding dimension " +
        "scoring the parity label: per descending-score decile the " +
        "positive rate, lift over base, and cumulative capture — the " +
        "campaign-targeting readout; TIE-INVARIANT deciles via " +
        "distinct-value compression + integer cross-multiplied cuts " +
        "(the q215 rule — no row-rank window over raw volume), " +
        "windows only over distinct values and the 10-row rollup",
      Some("""WITH v AS (SELECT
             |        CAST(round(CAST(embedding[1] AS DOUBLE) * 1000)
             |          AS BIGINT) AS q,
             |        CAST(CASE WHEN label % 2 <> 0 THEN 1 ELSE 0 END
             |          AS BIGINT) AS y
             |      FROM embeddings),
             |dv AS (SELECT q, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(y) AS BIGINT) AS np
             |      FROM v GROUP BY 1),
             |sc AS (SELECT q, n, np,
             |        CAST(coalesce(sum(n) OVER (ORDER BY q DESC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |          0) AS BIGINT) AS cb,
             |        CAST(sum(n) OVER () AS BIGINT) AS tot
             |      FROM dv),
             |d AS (SELECT CAST((cb * 10 - (cb * 10) % tot) / tot
             |          AS BIGINT) AS decile,
             |        CAST(sum(n) AS BIGINT) AS n,
             |        CAST(sum(np) AS BIGINT) AS n_pos
             |      FROM sc GROUP BY 1),
             |f AS (SELECT decile, n, n_pos,
             |        CAST(sum(n_pos) OVER (ORDER BY decile
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS DOUBLE) AS cum_pos,
             |        CAST(sum(n_pos) OVER () AS DOUBLE) AS pos_all,
             |        CAST(sum(n) OVER () AS DOUBLE) AS n_all
             |      FROM d)
             |SELECT decile, n, n_pos,
             |  round(CAST(n_pos AS DOUBLE)
             |    / CAST(CASE WHEN n > 0 THEN n END AS DOUBLE) * 1e6) / 1e6
             |    AS pos_rate,
             |  round((CAST(n_pos AS DOUBLE)
             |      / CAST(CASE WHEN n > 0 THEN n END AS DOUBLE))
             |    / CASE WHEN pos_all / CASE WHEN n_all > 0 THEN n_all END
             |        > 0
             |      THEN pos_all / CASE WHEN n_all > 0 THEN n_all END END
             |    * 1e6) / 1e6 AS lift,
             |  round(cum_pos
             |    / CASE WHEN pos_all > 0 THEN pos_all END * 1e6) / 1e6
             |    AS cum_capture
             |FROM f ORDER BY decile""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, element_at}
        graft.analytics.Selection.decileLift(
            Tables(s, dir, "embeddings"),
            xCol = element_at(col("embedding"), 1).cast("double"),
            labelCol = col("label") % 2)
          .orderBy("decile")
      }),

    // ----- bootstrap diff-in-means CI -----
    Q("q250_bootstrap_diff_ci",
      "hash-seeded bootstrap 95% CI for the DIFFERENCE in arm means " +
        "of event value (the q184 machinery pointed at the quantity " +
        "experimenters decide on): 32 replicates reweight both arms " +
        "with the same md5(id|rep) Exp(1) weights, CI = percentile " +
        "band of the replicate diffs, significant = the ROUNDED band " +
        "excludes 0; map-side explode, one (rep, arm) agg, the diff " +
        "join and percentile over 64 rows",
      Some("""WITH e AS (SELECT CAST(user_id % 2 AS INT) AS g, value,
             |        event_id
             |      FROM events WHERE value IS NOT NULL),
             |rep AS (SELECT g, value, event_id,
             |        CAST(unnest(range(0, 32)) AS INT) AS rep FROM e),
             |wts AS (SELECT g, rep, value,
             |        -ln((CAST(('0x' || substring(md5(CAST(event_id
             |            AS VARCHAR) || '|' || CAST(rep AS VARCHAR)),
             |            1, 15))::BIGINT AS DOUBLE) + 1.0)
             |          / 1152921504606846976) AS w
             |      FROM rep),
             |mb AS (SELECT rep, g, round(sum(w * value) / sum(w), 6) AS mb
             |       FROM wts GROUP BY 1, 2),
             |dv AS (SELECT b.mb - a.mb AS d
             |       FROM mb a JOIN mb b
             |         ON b.rep = a.rep AND a.g = 0 AND b.g = 1),
             |ci AS (SELECT round(quantile_cont(d, 0.025), 6) AS ci_lo,
             |              round(quantile_cont(d, 0.975), 6) AS ci_hi
             |       FROM dv),
             |obs AS (SELECT
             |        CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_a,
             |        CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_b,
             |        round(avg(CASE WHEN g = 1 THEN value END)
             |          - avg(CASE WHEN g = 0 THEN value END), 6)
             |          AS diff_obs
             |       FROM e)
             |SELECT obs.n_a, obs.n_b, obs.diff_obs, ci.ci_lo, ci.ci_hi,
             |  (ci.ci_lo > 0 OR ci.ci_hi < 0) AS significant
             |FROM obs CROSS JOIN ci""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.bootstrapDiffCI(Tables(s, dir, "events"),
          cohortCol = org.apache.spark.sql.functions.col("user_id") % 2,
          valueCol = "value", idCol = "event_id", b = 32)),

    // ----- day-of-week seasonal index -----
    Q("q251_dow_seasonality",
      "ISO-weekday seasonal index per event type: each weekday's " +
        "AVERAGE daily volume vs the type's all-days average — the " +
        "demand-planning multiplier table; averages divide by DISTINCT " +
        "active days per weekday so a 30-day feed (5 Mondays, 4 " +
        "Sundays) can't fake skew from calendar coverage; windows over " +
        "the <= 7-row dow table per key",
      Some("""WITH d AS (SELECT event_type AS key,
             |        CAST(date_trunc('day', ts) AS DATE) AS day,
             |        CAST(count(*) AS BIGINT) AS x
             |      FROM events GROUP BY 1, 2),
             |c AS (SELECT key, CAST(isodow(day) AS INT) AS isodow,
             |        CAST(sum(x) AS BIGINT) AS n_events,
             |        CAST(count(*) AS BIGINT) AS n_days
             |      FROM d GROUP BY 1, 2),
             |f AS (SELECT key, isodow, n_events, n_days,
             |        CAST(sum(n_events) OVER (PARTITION BY key) AS DOUBLE)
             |          AS te,
             |        CAST(sum(n_days) OVER (PARTITION BY key) AS DOUBLE)
             |          AS td
             |      FROM c)
             |SELECT key AS event_type, isodow, n_events, n_days,
             |  round(CAST(n_events AS DOUBLE)
             |    / CAST(CASE WHEN n_days > 0 THEN n_days END AS DOUBLE)
             |    * 1e6) / 1e6 AS daily_rate,
             |  round((CAST(n_events AS DOUBLE)
             |      / CAST(CASE WHEN n_days > 0 THEN n_days END AS DOUBLE))
             |    / CASE WHEN te / CASE WHEN td > 0 THEN td END > 0
             |      THEN te / CASE WHEN td > 0 THEN td END END * 1e6) / 1e6
             |    AS seasonal_index
             |FROM f ORDER BY event_type, isodow""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, count, lit, to_date}
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type").as("key"),
            to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("x"))
        graft.analytics.Stats.dowSeasonalIndex(daily, keyCol = "key",
            dayCol = "day", xCol = "x")
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type", "isodow")
      }),

    // ----- session exit rates -----
    Q("q252_exit_rates",
      "where sessions die: per event type, gap-sessions (q54 rule, 30 " +
        "min) that CONTAIN it vs END on it, exit rate = ended/" +
        "contained — the q228 abandonment signal generalized to every " +
        "type; one per-user window sort assigns sessions, the exit is " +
        "a max_by per session (no second window), containment a " +
        "(session, type)-distinct agg, final join over the type " +
        "dictionary",
      Some("""WITH e AS (SELECT user_id AS u, ts, event_id AS eid,
             |        event_type AS t FROM events),
             |s0 AS (SELECT u, ts, eid, t,
             |        CASE WHEN lag(ts) OVER (PARTITION BY u
             |            ORDER BY ts, eid) IS NULL
             |          OR epoch_us(ts) - epoch_us(lag(ts) OVER (
             |            PARTITION BY u ORDER BY ts, eid)) > 1800000000
             |          THEN 1 ELSE 0 END AS news
             |      FROM e),
             |s AS (SELECT u, t, ts, eid,
             |        sum(news) OVER (PARTITION BY u ORDER BY ts, eid
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS sid
             |      FROM s0),
             |x AS (SELECT t, CAST(count(*) AS BIGINT) AS n_exits FROM (
             |        SELECT u, sid, t,
             |          row_number() OVER (PARTITION BY u, sid
             |            ORDER BY ts DESC, eid DESC) AS rn
             |        FROM s) WHERE rn = 1 GROUP BY t),
             |c AS (SELECT t, CAST(count(*) AS BIGINT) AS n_sessions
             |      FROM (SELECT DISTINCT u, sid, t FROM s) GROUP BY t)
             |SELECT c.t AS event_type, c.n_sessions,
             |  coalesce(x.n_exits, CAST(0 AS BIGINT)) AS n_exits,
             |  round(CAST(coalesce(x.n_exits, 0) AS DOUBLE)
             |    / CAST(CASE WHEN c.n_sessions > 0 THEN c.n_sessions END
             |      AS DOUBLE) * 1e6) / 1e6 AS exit_rate
             |FROM c LEFT JOIN x USING (t)
             |ORDER BY event_type""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.exitRates(Tables(s, dir, "events"),
            userCol = "user_id", tsCol = "ts", idCol = "event_id",
            typeCol = "event_type", gapMinutes = 30)
          .orderBy("event_type")),

    // ----- capture-recapture population estimate -----
    Q("q253_capture_recapture",
      "Lincoln-Petersen population estimate of distinct users from " +
        "two overlapping observation windows (even vs odd event ids): " +
        "n1*n2/overlap, audited against the actual distinct count " +
        "with relative error — the coverage estimator for ANY partial " +
        "observation (two crawls, two log shards); one user-keyed agg " +
        "to membership flags + ONE 1-row rollup",
      Some("""WITH k AS (SELECT user_id AS k,
             |        CAST(max(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0
             |          END) AS BIGINT) AS ina,
             |        CAST(max(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0
             |          END) AS BIGINT) AS inb
             |      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_actual,
             |        CAST(sum(ina) AS BIGINT) AS n1,
             |        CAST(sum(inb) AS BIGINT) AS n2,
             |        CAST(sum(ina * inb) AS BIGINT) AS overlap
             |      FROM k)
             |SELECT n1, n2, overlap,
             |  round(CAST(n1 AS DOUBLE) * n2
             |    / CAST(CASE WHEN overlap > 0 THEN overlap END AS DOUBLE)
             |    * 1e6) / 1e6 AS lp_estimate,
             |  n_actual,
             |  round((CAST(n1 AS DOUBLE) * n2
             |      / CAST(CASE WHEN overlap > 0 THEN overlap END
             |        AS DOUBLE) - n_actual)
             |    / CAST(CASE WHEN n_actual > 0 THEN n_actual END
             |      AS DOUBLE) * 1e6) / 1e6 AS rel_err
             |FROM a""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        graft.analytics.Sketches.captureRecapture(
          Tables(s, dir, "events"), keyCol = "user_id",
          sampleA = col("event_id") % 2 === 0,
          sampleB = col("event_id") % 2 === 1)
      }),

    // ----- vocabulary richness / unseen mass -----
    Q("q254_vocab_richness",
      "Good-Turing unseen mass (singletons/tokens — the probability " +
        "the NEXT token is a never-seen type) and bias-corrected " +
        "Chao1 type-count estimate (types + n1(n1-1)/(2(n2+1))) — the " +
        "'is this slice saturated' readout that tells a crawl whether " +
        "more of the same source still buys vocabulary; exact " +
        "frequency-of-frequency integers, one word agg + ONE 1-row " +
        "rollup",
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
             |      FROM documents),
             |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
             |      FROM w WHERE word <> '' GROUP BY 1),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
             |        CAST(sum(cnt) AS BIGINT) AS n_tokens,
             |        CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS singletons,
             |        CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS doubletons
             |      FROM c)
             |SELECT n_types, n_tokens, singletons, doubletons,
             |  round(CAST(singletons AS DOUBLE)
             |    / CAST(CASE WHEN n_tokens > 0 THEN n_tokens END
             |      AS DOUBLE) * 1e6) / 1e6 AS unseen_mass,
             |  round((CAST(n_types AS DOUBLE)
             |    + CAST(singletons AS DOUBLE) * (singletons - 1)
             |      / (2.0 * (doubletons + 1))) * 1e6) / 1e6
             |    AS chao1_types
             |FROM a""".stripMargin),
      (s, dir) =>
        graft.analytics.TextAnalysis.vocabRichness(
          Tables(s, dir, "documents"), textCol = "text")),

    // ----- post-stratified A/B difference -----
    Q("q255_post_stratified",
      "post-stratified A/B revenue diff: per-stratum arm diffs " +
        "reweighted by each stratum's OVERALL share — the weighting " +
        "complement to CUPED (q238 removes pre-period variance, this " +
        "removes lopsided-mix bias); one-armed strata are excluded " +
        "and their weight REPORTED (w_excluded), never silently " +
        "dropped; cents-quantized, one user agg + dictionary stratum " +
        "agg + 1-row rollup",
      Some("""WITH u AS (SELECT user_id AS u,
             |        CAST(user_id % 2 AS INT) AS g,
             |        CAST(user_id % 5 AS VARCHAR) AS s,
             |        CAST(sum(CASE WHEN event_type = 'purchase'
             |          THEN CAST(round(value * 100) AS BIGINT)
             |          ELSE 0 END) AS BIGINT) AS y
             |      FROM events GROUP BY 1, 2, 3),
             |st AS (SELECT s,
             |        CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_a,
             |        CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_b,
             |        CAST(sum(CASE WHEN g = 0 THEN y ELSE 0 END)
             |          AS BIGINT) AS sy_a,
             |        CAST(sum(CASE WHEN g = 1 THEN y ELSE 0 END)
             |          AS BIGINT) AS sy_b
             |      FROM u GROUP BY 1),
             |r AS (SELECT CAST(sum(n_a) AS BIGINT) AS n_a,
             |        CAST(sum(n_b) AS BIGINT) AS n_b,
             |        CAST(sum(sy_a) AS BIGINT) AS sy_a,
             |        CAST(sum(sy_b) AS BIGINT) AS sy_b,
             |        CAST(count(*) AS BIGINT) AS n_strata,
             |        sum(CAST(n_a + n_b AS DOUBLE)
             |          * (sy_b / CAST(CASE WHEN n_b > 0 THEN n_b END
             |              AS DOUBLE)
             |            - sy_a / CAST(CASE WHEN n_a > 0 THEN n_a END
             |              AS DOUBLE))) AS wsum,
             |        CAST(sum(CASE WHEN n_a = 0 OR n_b = 0
             |          THEN n_a + n_b ELSE 0 END) AS BIGINT)
             |          AS n_excluded
             |      FROM st)
             |SELECT n_a, n_b,
             |  round((sy_b / CAST(CASE WHEN n_b > 0 THEN n_b END
             |        AS DOUBLE)
             |      - sy_a / CAST(CASE WHEN n_a > 0 THEN n_a END
             |        AS DOUBLE)) / 100.0 * 1e6) / 1e6 AS diff_raw,
             |  round(wsum / CAST(CASE WHEN n_a + n_b > 0
             |      THEN n_a + n_b END AS DOUBLE) / 100.0 * 1e6) / 1e6
             |    AS diff_post,
             |  n_strata,
             |  round(CAST(n_excluded AS DOUBLE)
             |    / CAST(CASE WHEN n_a + n_b > 0 THEN n_a + n_b END
             |      AS DOUBLE) * 1e6) / 1e6 AS w_excluded
             |FROM r""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        graft.analytics.Events.postStratifiedDiff(
          Tables(s, dir, "events"), userCol = "user_id",
          typeCol = "event_type", convType = "purchase",
          valueCol = "value", cohortCol = col("user_id") % 2,
          stratumCol = col("user_id") % 5)
      }),

    // ----- gap-episode SLA audit -----
    Q("q256_gap_episodes",
      "gap-episode SLA audit of each user's daily activity: number of " +
        "missing-day runs, total missing days, longest single outage, " +
        "coverage over the user's own span — the gaps-and-islands " +
        "episode view the q229 point-in-time staleness can't give; " +
        "ONE keyed window lag over the pre-aggregated day series, " +
        "then keyed aggregates",
      Some("""WITH d AS (SELECT user_id AS key,
             |        CAST(date_trunc('day', ts) AS DATE) AS day
             |      FROM events GROUP BY 1, 2),
             |g AS (SELECT key, day,
             |        date_diff('day', lag(day) OVER (PARTITION BY key
             |          ORDER BY day), day) - 1 AS gb
             |      FROM d)
             |SELECT key AS user_id, CAST(count(*) AS BIGINT) AS n_days,
             |  CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
             |    AS span_days,
             |  CAST(sum(CASE WHEN gb > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_gap_episodes,
             |  CAST(sum(CASE WHEN gb > 0 THEN gb ELSE 0 END) AS BIGINT)
             |    AS missing_days,
             |  CAST(coalesce(max(CASE WHEN gb > 0 THEN gb END), 0)
             |    AS BIGINT) AS longest_gap,
             |  round(CAST(count(*) AS DOUBLE)
             |    / CAST(CASE WHEN date_diff('day', min(day), max(day)) + 1
             |        > 0
             |      THEN date_diff('day', min(day), max(day)) + 1 END
             |      AS DOUBLE) * 1e6) / 1e6 AS coverage
             |FROM g GROUP BY key ORDER BY user_id""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, to_date}
        val d = Tables(s, dir, "events")
          .select(col("user_id").as("key"),
            to_date(col("ts")).as("day")).distinct()
        graft.analytics.DataAudit.gapEpisodes(d, keyCol = "key",
            dayCol = "day")
          .withColumnRenamed("key", "user_id")
          .orderBy("user_id")
      }),

    // ----- Fano factor / burstiness -----
    Q("q258_fano_factor",
      "index of dispersion (sample variance / mean) of each type's " +
        "daily count series — the is-this-Poisson readout that says " +
        "whether a z-score monitor threshold is even meaningful for " +
        "this key (Poisson sits at 1, bursty traffic far above); " +
        "exact integer power sums, q231 tree, <2-day or zero-mean " +
        "keys null",
      Some("""WITH d AS (SELECT event_type AS key,
             |        CAST(date_trunc('day', ts) AS DATE) AS day,
             |        CAST(count(*) AS BIGINT) AS x
             |      FROM events GROUP BY 1, 2),
             |g AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(x) AS BIGINT) AS sx,
             |        CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38, 0))
             |          AS sxx
             |      FROM d GROUP BY 1),
             |k AS (SELECT key, n,
             |        sx / CAST(CASE WHEN n > 0 THEN n END AS DOUBLE)
             |          AS mean,
             |        (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             |          / CAST(CASE WHEN n * (n - 1) > 0 THEN n * (n - 1)
             |            END AS DOUBLE) AS variance
             |      FROM g)
             |SELECT key AS event_type, n AS n_days,
             |  round(mean * 1e6) / 1e6 AS mean,
             |  round(variance * 1e6) / 1e6 AS variance,
             |  round(variance / CASE WHEN mean > 0 THEN mean END * 1e6)
             |    / 1e6 AS fano
             |FROM k ORDER BY event_type""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, count, lit, to_date}
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type").as("key"),
            to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("x"))
        graft.analytics.Stats.fanoFactor(daily, keyCol = "key",
            xCol = "x")
          .withColumnRenamed("key", "event_type")
          .orderBy("event_type")
      }),

    // ----- Spearman rank correlation -----
    Q("q259_spearman",
      "Spearman rank correlation of quantity vs price per return flag " +
        "— q231's Pearson on AVERAGE ranks, the monotone-association " +
        "probe robust to the fat tails Pearson folds into its moments; " +
        "doubled ranks (2*cnt_less + cnt_eq + 1) stay integer so the " +
        "five power sums replay exactly (q144/q231 overflow rule); " +
        "one scan into the (group, x, y) grid, ranks and ALL moments " +
        "fold out of dictionaries — never a window or join over raw " +
        "rows",
      Some("""WITH w AS (SELECT l_returnflag AS grp,
             |         CAST(round(l_quantity * 1) AS BIGINT) AS x,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
             |       FROM lineitem
             |       WHERE l_quantity IS NOT NULL
             |         AND l_extendedprice IS NOT NULL),
             |dx AS (SELECT grp, x, CAST(count(*) AS BIGINT) AS cnt
             |       FROM w GROUP BY 1, 2),
             |rx AS (SELECT grp, x,
             |        CAST(2 * coalesce(sum(cnt) OVER (PARTITION BY grp
             |            ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
             |            AND 1 PRECEDING), 0) + cnt + 1 AS BIGINT) AS a
             |       FROM dx),
             |dy AS (SELECT grp, y, CAST(count(*) AS BIGINT) AS cnt
             |       FROM w GROUP BY 1, 2),
             |ry AS (SELECT grp, y,
             |        CAST(2 * coalesce(sum(cnt) OVER (PARTITION BY grp
             |            ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
             |            AND 1 PRECEDING), 0) + cnt + 1 AS BIGINT) AS b
             |       FROM dy),
             |j AS (SELECT w.grp, rx.a, ry.b
             |      FROM w JOIN rx ON rx.grp = w.grp AND rx.x = w.x
             |      JOIN ry ON ry.grp = w.grp AND ry.y = w.y),
             |s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(a) AS BIGINT) AS sa,
             |        CAST(sum(b) AS BIGINT) AS sb,
             |        CAST(sum(CAST(a AS HUGEINT) * a) AS DECIMAL(38, 0)) AS saa,
             |        CAST(sum(CAST(b AS HUGEINT) * b) AS DECIMAL(38, 0)) AS sbb,
             |        CAST(sum(CAST(a AS HUGEINT) * b) AS DECIMAL(38, 0)) AS sab
             |      FROM j GROUP BY 1)
             |SELECT grp, n,
             |  round((n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb)
             |    / CAST(CASE WHEN sqrt(
             |          (n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
             |        * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb))
             |        > 0
             |      THEN sqrt(
             |          (n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
             |        * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb))
             |      END AS DOUBLE) * 1e6) / 1e6 AS spearman_rho
             |FROM s ORDER BY grp""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.spearmanByGroup(Tables(s, dir, "lineitem"),
            groupCol = "l_returnflag", xCol = "l_quantity",
            yCol = "l_extendedprice", xScale = 1L, yScale = 100L)
          .orderBy("grp")),

    // ----- Jensen-Shannon categorical drift -----
    Q("q260_js_drift",
      "Jensen-Shannon divergence of the event-type MIX between the " +
        "even- and odd-user halves — the symmetric always-finite " +
        "categorical drift number (log2, so [0,1]; one-sided " +
        "categories contribute a bounded term instead of riding " +
        "q195's eps floor); two dictionary aggs + full-outer join, " +
        "terms summed as scaled integers",
      Some("""WITH r AS (SELECT event_type AS cat,
             |        CAST(count(*) AS BIGINT) AS cr
             |      FROM events
             |      WHERE event_type IS NOT NULL AND user_id % 2 = 0
             |      GROUP BY 1),
             |c AS (SELECT event_type AS cat,
             |        CAST(count(*) AS BIGINT) AS cc
             |      FROM events
             |      WHERE event_type IS NOT NULL AND user_id % 2 = 1
             |      GROUP BY 1),
             |j AS (SELECT coalesce(r.cat, c.cat) AS cat, r.cr, c.cc
             |      FROM r FULL OUTER JOIN c ON r.cat = c.cat),
             |t AS (SELECT CAST(sum(coalesce(cr, 0)) AS BIGINT) AS nr,
             |             CAST(sum(coalesce(cc, 0)) AS BIGINT) AS nc
             |      FROM j),
             |sl AS (SELECT j.cat, t.nr, t.nc,
             |        CAST(coalesce(j.cr, 0) AS DOUBLE)
             |          / CAST(CASE WHEN t.nr > 0 THEN t.nr END AS DOUBLE)
             |          AS p,
             |        CAST(coalesce(j.cc, 0) AS DOUBLE)
             |          / CAST(CASE WHEN t.nc > 0 THEN t.nc END AS DOUBLE)
             |          AS q
             |      FROM j CROSS JOIN t),
             |a AS (SELECT max(nr) AS n_ref, max(nc) AS n_cur,
             |        CAST(count(*) AS BIGINT) AS n_categories,
             |        round(sum(CAST(round((
             |            (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0))
             |                  ELSE 0.0 END)
             |          + (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0))
             |                  ELSE 0.0 END)
             |          ) / 2.0 / ln(2.0) * 1e9) AS BIGINT)) / 1e9 * 1e6)
             |          / 1e6 AS js_raw
             |      FROM sl)
             |SELECT n_ref, n_cur, n_categories,
             |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN js_raw END
             |    AS js_divergence,
             |  CASE WHEN n_ref > 0 AND n_cur > 0
             |    THEN round(sqrt(greatest(js_raw, 0.0)), 6) END
             |    AS js_distance
             |FROM a""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.jsDrift(Tables(s, dir, "events"),
            "event_type",
            refPred = col("user_id") % 2 === 0,
            curPred = col("user_id") % 2 === 1)),

    // ----- smoothed target encoding -----
    Q("q261_target_encoding",
      "m-estimate target encoding of part brand against the return " +
        "flag: enc = (n_pos + m*prior)/(n + m) — empirical-Bayes " +
        "shrinkage toward the global rate, the high-cardinality " +
        "encoder whose output table IS the serving artifact (fit-once " +
        "like q146, never a per-row label-visible pass); one " +
        "category-keyed agg + broadcast 1-row prior",
      Some("""WITH w AS (SELECT p_brand AS category,
             |        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
             |      FROM lineitem JOIN part ON p_partkey = l_partkey
             |      WHERE p_brand IS NOT NULL),
             |cells AS (SELECT category, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(y) AS BIGINT) AS n_pos
             |      FROM w GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
             |        CAST(sum(n_pos) AS BIGINT) AS pos_tot FROM cells)
             |SELECT category, n, n_pos,
             |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 1e6)
             |    / 1e6 AS raw_rate,
             |  round(CAST(pos_tot AS DOUBLE)
             |    / CAST(CASE WHEN n_tot > 0 THEN n_tot END AS DOUBLE)
             |    * 1e6) / 1e6 AS prior,
             |  round((CAST(n_pos AS DOUBLE) + 20.0
             |      * (CAST(pos_tot AS DOUBLE)
             |        / CAST(CASE WHEN n_tot > 0 THEN n_tot END AS DOUBLE)))
             |    / (CAST(n AS DOUBLE) + 20.0) * 1e6) / 1e6 AS enc
             |FROM cells CROSS JOIN t ORDER BY category""".stripMargin),
      (s, dir) =>
        graft.analytics.Selection.targetEncode(
            Tables(s, dir, "lineitem").join(Tables(s, dir, "part"),
              col("p_partkey") === col("l_partkey")),
            catCol = col("p_brand"),
            labelCol = col("l_returnflag") === "R", m = 20.0)
          .orderBy("category")),

    // ----- equal-frequency binning -----
    Q("q262_equal_freq_bins",
      "equal-frequency 10-bin discretization of extended price over " +
        "the distinct-value CDF (bin = min(k, ceil(cdf*k)), ALL ties " +
        "of one value in one bin — the q215 distinct-value-compression " +
        "rule, so the one cumulative window runs over the bounded " +
        "price grid, never rows); per-bin counts + (lo, hi) split " +
        "points, the serving discretizer artifact",
      Some("""WITH v AS (SELECT CAST(round(l_extendedprice * 100)
             |          AS BIGINT) AS v
             |      FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |dv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
             |       FROM v GROUP BY 1),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM dv),
             |c AS (SELECT v, cnt,
             |        CAST(sum(cnt) OVER (ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) AS cum
             |      FROM dv),
             |b AS (SELECT v, cnt,
             |        CAST(least(10, CAST(ceil(CAST(cum AS DOUBLE)
             |          / CAST(total AS DOUBLE) * 10) AS BIGINT))
             |          AS BIGINT) AS bin
             |      FROM c CROSS JOIN t)
             |SELECT bin, CAST(sum(cnt) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_values,
             |  CAST(min(v) AS DOUBLE) / 100 AS lo,
             |  CAST(max(v) AS DOUBLE) / 100 AS hi
             |FROM b GROUP BY 1 ORDER BY bin""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.equalFreqBins(Tables(s, dir, "lineitem"),
            valueCol = "l_extendedprice", k = 10, scale = 100L)
          .orderBy("bin")),

    // ----- t-closeness -----
    Q("q263_t_closeness",
      "t-closeness of the market-segment distribution within each " +
        "nation vs the global mix (total-variation distance, the " +
        "categorical EMD of the 2007 paper) — the skew leak k-anonymity " +
        "(q188) and l-diversity (q208) both miss: a big, varied class " +
        "that is 90% one segment still discloses; class x value " +
        "completion runs over dictionaries, terms sum as scaled ints",
      Some("""WITH base AS (SELECT c_nationkey,
             |        CAST(c_mktsegment AS VARCHAR) AS s
             |      FROM customer WHERE c_mktsegment IS NOT NULL),
             |cells AS (SELECT c_nationkey, s,
             |        CAST(count(*) AS BIGINT) AS c
             |      FROM base GROUP BY 1, 2),
             |cls AS (SELECT c_nationkey,
             |        CAST(sum(c) AS BIGINT) AS class_size
             |      FROM cells GROUP BY 1),
             |g AS (SELECT s, CAST(count(*) AS BIGINT) AS g
             |      FROM base GROUP BY 1),
             |t AS (SELECT CAST(sum(g) AS BIGINT) AS tot FROM g),
             |x AS (SELECT cls.c_nationkey, cls.class_size, g.s, g.g,
             |        t.tot, cells.c
             |      FROM cls CROSS JOIN g CROSS JOIN t
             |      LEFT JOIN cells ON cells.c_nationkey = cls.c_nationkey
             |        AND cells.s = g.s),
             |a AS (SELECT c_nationkey, class_size,
             |        round(sum(CAST(round(abs(
             |            CAST(coalesce(c, 0) AS DOUBLE)
             |              / CAST(class_size AS DOUBLE)
             |            - CAST(g AS DOUBLE) / CAST(tot AS DOUBLE))
             |          * 1e9) AS BIGINT)) / 2.0 / 1e9 * 1e6) / 1e6 AS tvd
             |      FROM x GROUP BY 1, 2)
             |SELECT c_nationkey, class_size, tvd, tvd > 0.2 AS suppress
             |FROM a ORDER BY c_nationkey""".stripMargin),
      (s, dir) =>
        graft.analytics.DataAudit.tCloseness(Tables(s, dir, "customer"),
            0.2, "c_mktsegment", "c_nationkey")
          .orderBy("c_nationkey")),

    // ----- AMS F2 / self-join-size sketch -----
    Q("q265_ams_f2",
      "AMS second-frequency-moment sketch of the orderkey column: 16 " +
        "md5-nibble sign estimators (the q20 convention) against the " +
        "exact self-join size sum(cnt^2) — the join-size estimate a " +
        "planner needs BEFORE the join, from one map-side pass holding " +
        "16 integers; mean-of-16 and the classic median-of-4-means " +
        "both reported with signed relative error",
      Some("""WITH w AS (SELECT md5(CAST(l_orderkey AS VARCHAR)) AS h
             |      FROM lineitem WHERE l_orderkey IS NOT NULL),
             |sk AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |""".stripMargin +
        (1 to 16).map(j =>
          s"""        CAST(sum(CASE WHEN substr(h, $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS BIGINT) AS z$j""")
          .mkString(",\n") + "\n" +
        """      FROM w),
          |e AS (SELECT n_rows,
          |        round((""".stripMargin +
        (1 to 16).map(j => s"CAST(z$j AS DOUBLE) * z$j")
          .mkString(" + ") + """) / 16.0, 6) AS est_mean,
          |        round((list_sort([
          |            (CAST(z1 AS DOUBLE) * z1 + CAST(z2 AS DOUBLE) * z2 + CAST(z3 AS DOUBLE) * z3 + CAST(z4 AS DOUBLE) * z4) / 4.0,
          |            (CAST(z5 AS DOUBLE) * z5 + CAST(z6 AS DOUBLE) * z6 + CAST(z7 AS DOUBLE) * z7 + CAST(z8 AS DOUBLE) * z8) / 4.0,
          |            (CAST(z9 AS DOUBLE) * z9 + CAST(z10 AS DOUBLE) * z10 + CAST(z11 AS DOUBLE) * z11 + CAST(z12 AS DOUBLE) * z12) / 4.0,
          |            (CAST(z13 AS DOUBLE) * z13 + CAST(z14 AS DOUBLE) * z14 + CAST(z15 AS DOUBLE) * z15 + CAST(z16 AS DOUBLE) * z16) / 4.0
          |          ])[2] + list_sort([
          |            (CAST(z1 AS DOUBLE) * z1 + CAST(z2 AS DOUBLE) * z2 + CAST(z3 AS DOUBLE) * z3 + CAST(z4 AS DOUBLE) * z4) / 4.0,
          |            (CAST(z5 AS DOUBLE) * z5 + CAST(z6 AS DOUBLE) * z6 + CAST(z7 AS DOUBLE) * z7 + CAST(z8 AS DOUBLE) * z8) / 4.0,
          |            (CAST(z9 AS DOUBLE) * z9 + CAST(z10 AS DOUBLE) * z10 + CAST(z11 AS DOUBLE) * z11 + CAST(z12 AS DOUBLE) * z12) / 4.0,
          |            (CAST(z13 AS DOUBLE) * z13 + CAST(z14 AS DOUBLE) * z14 + CAST(z15 AS DOUBLE) * z15 + CAST(z16 AS DOUBLE) * z16) / 4.0
          |          ])[3]) / 2.0, 6) AS est_median_means
          |      FROM sk),
          |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |        CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS BIGINT)
          |          AS exact_f2
          |      FROM (SELECT CAST(count(*) AS BIGINT) AS cnt
          |            FROM lineitem WHERE l_orderkey IS NOT NULL
          |            GROUP BY l_orderkey))
          |SELECT n_rows, n_keys, exact_f2, est_mean, est_median_means,
          |  round((est_mean - CAST(exact_f2 AS DOUBLE))
          |    / CAST(CASE WHEN exact_f2 > 0 THEN exact_f2 END AS DOUBLE)
          |    * 1e6) / 1e6 AS rel_err_mean,
          |  round((est_median_means - CAST(exact_f2 AS DOUBLE))
          |    / CAST(CASE WHEN exact_f2 > 0 THEN exact_f2 END AS DOUBLE)
          |    * 1e6) / 1e6 AS rel_err_mom
          |FROM e CROSS JOIN ex""".stripMargin),
      (s, dir) =>
        graft.analytics.Sketches.amsF2(Tables(s, dir, "lineitem"),
            keyCol = "l_orderkey")),

    // ----- Nelson-Aalen cumulative hazard -----
    Q("q266_nelson_aalen",
      "Nelson-Aalen cumulative hazard over the q182 right-censored " +
        "user lifetimes (H = sum d/n, Aalen variance sum d/n^2, " +
        "Fleming-Harrington exp(-H) survival) — the hazard-view " +
        "complement when churn PRESSURE is the quantity under study; " +
        "same bounded distinct-lifetime table, per-step terms summed " +
        "as scaled integers",
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
             |  FROM events),
             |life AS (SELECT u, min(d) AS d0, max(d) AS d1
             |         FROM days GROUP BY u),
             |gm AS (SELECT max(d) AS gmax FROM days),
             |lt AS (SELECT date_diff('day', d0, d1) AS t,
             |              d1 < gm.gmax AS observed
             |       FROM life CROSS JOIN gm),
             |byt AS (
             |  SELECT t, CAST(count(*) AS BIGINT) AS n_at,
             |         CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_churned
             |  FROM lt GROUP BY t),
             |r AS (
             |  SELECT t, n_at, n_churned,
             |         CAST(sum(n_at) OVER (ORDER BY t
             |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |           AS BIGINT) AS n_risk
             |  FROM byt),
             |sline AS (
             |  SELECT t, n_risk, n_churned,
             |         sum(CAST(round(CAST(n_churned AS DOUBLE)
             |             / CAST(n_risk AS DOUBLE) * 1e9) AS BIGINT))
             |           OVER w AS hsum,
             |         sum(CAST(round(CAST(n_churned AS DOUBLE)
             |             / (CAST(n_risk AS DOUBLE) * n_risk) * 1e9)
             |             AS BIGINT)) OVER w AS vsum
             |  FROM r
             |  WINDOW w AS (ORDER BY t
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT CAST(t AS BIGINT) AS t_days, n_risk, n_churned,
             |       round(hsum / 1e9, 6) AS cum_hazard,
             |       round(vsum / 1e9, 6) AS hazard_var,
             |       round(exp(-hsum / 1e9), 6) AS fh_survival
             |FROM sline WHERE n_churned > 0 ORDER BY t_days""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.nelsonAalen(Tables(s, dir, "events"),
            "user_id", "ts")
          .orderBy("t_days")),

    // ----- embedding hubness audit -----
    Q("q267_hubness",
      "k-occurrence histogram of the embedding space (Radovanovic " +
        "2010): how many times each corpus vector lands in the exact " +
        "top-5 of the 1-in-100 query sample — the hub/antihub " +
        "go-no-go BEFORE shipping a space into the q24/q95 pipelines; " +
        "top-k per query via the BOUNDED native TopKBy aggregate " +
        "(k pairs of map-side state; the window form is what the " +
        "oracle runs), then two dictionary aggs",
      Some("""WITH v AS (SELECT vec_id AS vid,
             |        list_transform(embedding, x -> CAST(x AS DOUBLE))
             |          AS vv
             |      FROM embeddings),
             |q AS (SELECT vec_id AS qid,
             |        list_transform(embedding, x -> CAST(x AS DOUBLE))
             |          AS qv
             |      FROM embeddings WHERE vec_id % 100 = 0),
             |cand AS (SELECT q.qid, v.vid,
             |        CAST(round(list_dot_product(qv, vv)
             |          / (sqrt(list_dot_product(qv, qv))
             |             * sqrt(list_dot_product(vv, vv))) * 1e6)
             |          AS BIGINT) AS c6
             |      FROM v CROSS JOIN q WHERE v.vid <> q.qid),
             |top AS (SELECT qid, vid,
             |        row_number() OVER (PARTITION BY qid
             |          ORDER BY c6 DESC, vid) AS rn
             |      FROM cand),
             |occ AS (SELECT vid, CAST(count(*) AS BIGINT)
             |          AS k_occurrence
             |      FROM top WHERE rn <= 5 GROUP BY 1),
             |hist AS (SELECT k_occurrence,
             |        CAST(count(*) AS BIGINT) AS n_vectors
             |      FROM occ GROUP BY 1),
             |t AS (SELECT CAST(sum(k_occurrence * n_vectors) AS BIGINT)
             |        AS n_slots FROM hist)
             |SELECT k_occurrence, n_vectors,
             |  round(CAST(k_occurrence * n_vectors AS DOUBLE)
             |    / CAST(CASE WHEN n_slots > 0 THEN n_slots END AS DOUBLE)
             |    * 1e6) / 1e6 AS slot_share
             |FROM hist CROSS JOIN t ORDER BY k_occurrence""".stripMargin),
      (s, dir) =>
        graft.analytics.Similarity.hubnessAudit(
            Tables(s, dir, "embeddings"), "vec_id", "embedding",
            queryPred = col("vec_id") % 100 === 0, k = 5)
          .orderBy("k_occurrence")),

    // ----- join-skew pre-flight audit -----
    Q("q268_join_skew",
      "per-key row-count distribution of the partkey join key — mean, " +
        "key-weighted p50/p99, max, top-10-key share, max/mean — the " +
        "will-this-shuffle-straggle pre-flight read BEFORE moving " +
        "100 TB on a key (the audit complement to q265's self-join-" +
        "size sketch); percentiles over per-DISTINCT-count frequencies " +
        "(the q215 rule), top-10 a bounded TakeOrdered, never a " +
        "global sort",
      Some("""WITH kc AS (SELECT l_partkey AS k,
             |        CAST(count(*) AS BIGINT) AS cnt
             |      FROM lineitem WHERE l_partkey IS NOT NULL
             |      GROUP BY 1),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             |        CAST(count(*) AS BIGINT) AS n_keys,
             |        CAST(max(cnt) AS BIGINT) AS max_rows FROM kc),
             |f AS (SELECT cnt, CAST(count(*) AS BIGINT) AS nk
             |      FROM kc GROUP BY 1),
             |cm AS (SELECT cnt,
             |        CAST(sum(nk) OVER (ORDER BY cnt
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) AS cumk
             |      FROM f),
             |p50 AS (SELECT CAST(min(cnt) AS BIGINT) AS p50_rows
             |      FROM cm CROSS JOIN t
             |      WHERE cumk >= CAST(ceil(0.5 * CAST(n_keys AS DOUBLE))
             |        AS BIGINT)),
             |p99 AS (SELECT CAST(min(cnt) AS BIGINT) AS p99_rows
             |      FROM cm CROSS JOIN t
             |      WHERE cumk >= CAST(ceil(0.99 * CAST(n_keys AS DOUBLE))
             |        AS BIGINT)),
             |tp AS (SELECT CAST(sum(cnt) AS BIGINT) AS top10_rows
             |      FROM (SELECT cnt FROM kc ORDER BY cnt DESC, k
             |            LIMIT 10))
             |SELECT n_rows, n_keys,
             |  round(CAST(n_rows AS DOUBLE)
             |    / CAST(CASE WHEN n_keys > 0 THEN n_keys END AS DOUBLE)
             |    * 1e6) / 1e6 AS mean_rows,
             |  p50_rows, p99_rows, max_rows,
             |  round(CAST(top10_rows AS DOUBLE)
             |    / CAST(CASE WHEN n_rows > 0 THEN n_rows END AS DOUBLE)
             |    * 1e6) / 1e6 AS top10_share,
             |  round(CAST(max_rows AS DOUBLE) * n_keys
             |    / CAST(CASE WHEN n_rows > 0 THEN n_rows END AS DOUBLE)
             |    * 1e6) / 1e6 AS skew_ratio
             |FROM t CROSS JOIN p50 CROSS JOIN p99 CROSS JOIN tp"""
        .stripMargin),
      (s, dir) =>
        graft.analytics.DataAudit.joinSkewAudit(
            Tables(s, dir, "lineitem"), keyCol = "l_partkey")),

    // ----- Cramer's V effect size -----
    Q("q269_cramers_v",
      "Cramer's V over the q233 lang x source chi-square grid: the " +
        "[0,1] effect-size normalization sqrt(chi2/(n*(min(r,c)-1))) " +
        "that makes association comparable ACROSS tables (a huge chi2 " +
        "on a huge feed can still be a nothing association); chi2 sums " +
        "the round-6 cell contributions as scaled integers, degenerate " +
        "single-level grids null",
      Some("""WITH o AS (SELECT lang AS a, source AS b,
             |        CAST(count(*) AS BIGINT) AS n
             |      FROM documents
             |      WHERE lang IS NOT NULL AND source IS NOT NULL
             |      GROUP BY 1, 2),
             |r AS (SELECT a, CAST(sum(n) AS BIGINT) AS row_n FROM o
             |      GROUP BY 1),
             |c AS (SELECT b, CAST(sum(n) AS BIGINT) AS col_n FROM o
             |      GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM o),
             |e AS (SELECT r.a, c.b,
             |        CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
             |          / CAST(CASE WHEN tot > 0 THEN tot END AS DOUBLE)
             |          AS expected
             |      FROM r CROSS JOIN c CROSS JOIN t),
             |cells AS (SELECT e.a, e.b,
             |        coalesce(o.n, CAST(0 AS BIGINT)) AS observed_n,
             |        round((CAST(coalesce(o.n, 0) AS DOUBLE) - e.expected)
             |            * (CAST(coalesce(o.n, 0) AS DOUBLE) - e.expected)
             |            / CASE WHEN e.expected > 0 THEN e.expected END
             |            * 1e6) / 1e6 AS chi2_contrib
             |      FROM e LEFT JOIN o ON o.a = e.a AND o.b = e.b),
             |s AS (SELECT CAST(sum(observed_n) AS BIGINT) AS n,
             |        CAST(count(DISTINCT a) AS BIGINT) AS r_levels,
             |        CAST(count(DISTINCT b) AS BIGINT) AS c_levels,
             |        round(sum(CAST(round(chi2_contrib * 1e6) AS BIGINT))
             |          / 1e6 * 1e6) / 1e6 AS chi2
             |      FROM cells)
             |SELECT n, r_levels, c_levels,
             |  (r_levels - 1) * (c_levels - 1) AS dof, chi2,
             |  round(sqrt(chi2 / CAST(CASE WHEN n > 0
             |        AND least(r_levels, c_levels) > 1
             |      THEN CAST(n AS DOUBLE)
             |        * CAST(least(r_levels, c_levels) - 1 AS DOUBLE)
             |      END AS DOUBLE)) * 1e6) / 1e6 AS cramers_v
             |FROM s""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.cramersV(Tables(s, dir, "documents"),
            aCol = "lang", bCol = "source")),

    // ----- categorical mutual information -----
    Q("q270_mutual_information",
      "mutual information of lang x source in nats with marginal " +
        "entropies and sqrt-normalized NMI — the feature-relevance/" +
        "redundancy number for categorical pairs; observed cells only " +
        "(zero cells contribute 0 by continuity), per-cell and " +
        "per-margin terms summed as scaled integers, NMI null when a " +
        "constant column leaves nothing to normalize by",
      Some("""WITH o AS (SELECT lang AS a, source AS b,
             |        CAST(count(*) AS BIGINT) AS n
             |      FROM documents
             |      WHERE lang IS NOT NULL AND source IS NOT NULL
             |      GROUP BY 1, 2),
             |r AS (SELECT a, CAST(sum(n) AS BIGINT) AS row_n FROM o
             |      GROUP BY 1),
             |c AS (SELECT b, CAST(sum(n) AS BIGINT) AS col_n FROM o
             |      GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM o),
             |ha AS (SELECT round(sum(CAST(round(
             |        -(CAST(row_n AS DOUBLE) / CAST(CASE WHEN tot > 0
             |            THEN tot END AS DOUBLE))
             |        * ln(CAST(row_n AS DOUBLE) / CAST(CASE WHEN tot > 0
             |            THEN tot END AS DOUBLE)) * 1e9) AS BIGINT))
             |        / 1e9 * 1e6) / 1e6 AS h_a
             |      FROM r CROSS JOIN t),
             |hb AS (SELECT round(sum(CAST(round(
             |        -(CAST(col_n AS DOUBLE) / CAST(CASE WHEN tot > 0
             |            THEN tot END AS DOUBLE))
             |        * ln(CAST(col_n AS DOUBLE) / CAST(CASE WHEN tot > 0
             |            THEN tot END AS DOUBLE)) * 1e9) AS BIGINT))
             |        / 1e9 * 1e6) / 1e6 AS h_b
             |      FROM c CROSS JOIN t),
             |mi AS (SELECT CAST(max(tot) AS BIGINT) AS n,
             |        CAST(count(*) AS BIGINT) AS n_cells,
             |        round(sum(CAST(round(
             |          (CAST(o.n AS DOUBLE) / CAST(CASE WHEN tot > 0
             |              THEN tot END AS DOUBLE))
             |          * ln(CAST(o.n AS DOUBLE) * CAST(tot AS DOUBLE)
             |            / (CAST(row_n AS DOUBLE)
             |              * CAST(col_n AS DOUBLE))) * 1e9) AS BIGINT))
             |          / 1e9 * 1e6) / 1e6 AS mi
             |      FROM o JOIN r USING (a) JOIN c USING (b)
             |      CROSS JOIN t)
             |SELECT n, n_cells, mi, h_a, h_b,
             |  round(mi / CAST(CASE WHEN h_a > 0 AND h_b > 0
             |      THEN sqrt(h_a * h_b) END AS DOUBLE) * 1e6) / 1e6
             |    AS nmi
             |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.mutualInformation(
            Tables(s, dir, "documents"), aCol = "lang", bCol = "source")),

    // ----- isotonic (PAV) calibration via the minimax identity -----
    Q("q272_isotonic_calibration",
      "isotonic return-rate fit against the discount grid via the PAV " +
        "minimax identity fitted(i) = max_{j<=i} min_{k>=i} avg(j..k) " +
        "— the monotone calibration artifact a serving layer applies " +
        "when q142's raw reliability curve is non-monotone; one keyed " +
        "agg to score buckets, then the B^2 window-average pair grid + " +
        "two min/max windows, all bucket-bounded; window averages are " +
        "exact integer-cumsum ratios so both engines compare identical " +
        "doubles",
      Some("""WITH b AS (SELECT CAST(round(l_discount * 1000) AS BIGINT)
             |          AS s,
             |        CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
             |          ELSE 0 END) AS BIGINT) AS np
             |      FROM lineitem WHERE l_discount IS NOT NULL
             |      GROUP BY 1),
             |cum AS (SELECT s, n, np,
             |        CAST(sum(n) OVER w AS BIGINT) AS cn,
             |        CAST(sum(np) OVER w AS BIGINT) AS cp
             |      FROM b WINDOW w AS (ORDER BY s
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |a AS (SELECT s AS sj, cn - n AS cnj, cp - np AS cpj
             |      FROM cum),
             |bk AS (SELECT s AS sk, cn AS cnk, cp AS cpk FROM cum),
             |pairs AS (SELECT sj, sk,
             |        CAST(cpk - cpj AS DOUBLE) / CAST(cnk - cnj AS DOUBLE)
             |          AS wavg
             |      FROM a JOIN bk ON sj <= sk),
             |mt AS (SELECT sj, sk,
             |        min(wavg) OVER (PARTITION BY sj ORDER BY sk
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |          AS mt
             |      FROM pairs),
             |f AS (SELECT sk AS s, max(mt) AS fit FROM mt GROUP BY 1)
             |SELECT CAST(b.s AS DOUBLE) / 1000 AS score, b.n,
             |  b.np AS n_pos,
             |  round(CAST(b.np AS DOUBLE) / CAST(b.n AS DOUBLE) * 1e6)
             |    / 1e6 AS raw_rate,
             |  round(f.fit * 1e6) / 1e6 AS fitted_rate
             |FROM b JOIN f ON f.s = b.s ORDER BY score""".stripMargin),
      (s, dir) =>
        graft.analytics.Selection.isotonicCalibration(
            Tables(s, dir, "lineitem"), scoreCol = col("l_discount"),
            labelCol = col("l_returnflag") === "R", scale = 1000L)
          .orderBy("score")),

    // ----- quantile normalization across groups -----
    Q("q273_quantile_normalize",
      "quantile-normalization mapping of extended price per return " +
        "flag onto the pooled distribution (each (group, value) maps " +
        "to the smallest pooled value whose pooled CDF reaches the " +
        "group CDF) — the batch-effect correction that puts every " +
        "source's scores on one scale; the lookup is the forward-as-of " +
        "union-window trick, so no group x pooled cross term exists " +
        "(a pcdf >= gcdf join is grid^2 — the shape this op avoids)",
      Some("""WITH w AS (SELECT l_returnflag AS grp,
             |        CAST(round(l_extendedprice * 100) AS BIGINT) AS v
             |      FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |g AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS n
             |      FROM w GROUP BY 1, 2),
             |gt AS (SELECT grp, CAST(sum(n) AS BIGINT) AS gt
             |      FROM g GROUP BY 1),
             |gc AS (SELECT g.grp, g.v, g.n,
             |        CAST(sum(g.n) OVER (PARTITION BY g.grp
             |            ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING
             |            AND CURRENT ROW) AS DOUBLE)
             |          / CAST(gt.gt AS DOUBLE) AS cdf,
             |        0 AS tag, CAST(NULL AS DOUBLE) AS pv
             |      FROM g JOIN gt ON gt.grp = g.grp),
             |p AS (SELECT v, CAST(count(*) AS BIGINT) AS pn
             |      FROM w GROUP BY 1),
             |pt AS (SELECT CAST(sum(pn) AS BIGINT) AS pt FROM p),
             |pc AS (SELECT CAST(NULL AS VARCHAR) AS grp, v,
             |        CAST(NULL AS BIGINT) AS n,
             |        CAST(sum(pn) OVER (ORDER BY v
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
             |            ROW) AS DOUBLE) / CAST(pt.pt AS DOUBLE) AS cdf,
             |        1 AS tag, CAST(v AS DOUBLE) / 100 AS pv
             |      FROM p CROSS JOIN pt),
             |u AS (SELECT * FROM gc UNION ALL SELECT * FROM pc),
             |x AS (SELECT grp, v, n, cdf, tag,
             |        min(pv) OVER (ORDER BY cdf, tag, v
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |          AS normalized
             |      FROM u)
             |SELECT grp, CAST(v AS DOUBLE) / 100 AS value, n,
             |  round(cdf * 1e6) / 1e6 AS gcdf,
             |  round(normalized, 6) AS normalized
             |FROM x WHERE tag = 0 ORDER BY grp, value""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.quantileNormalize(
            Tables(s, dir, "lineitem"), groupCol = "l_returnflag",
            valueCol = "l_extendedprice", scale = 100L)
          .orderBy("grp", "value")),

    // ----- Hill power-law tail index -----
    Q("q274_hill_tail_index",
      "Hill tail-index MLE over word frequencies (alpha = 1 + k / sum " +
        "ln(f_i/f_(k+1)) over the top-k types) — the is-it-really-Zipf " +
        "receipt, unbiased where q155's log-log regression slope is " +
        "dragged by the head; top-(k+1) via bounded TakeOrdered with " +
        "word tie-break, everything after runs over <= k+1 rows, log " +
        "terms summed as scaled integers, all-tied top nulls alpha",
      Some("""WITH wd AS (SELECT unnest(string_split(text, ' ')) AS word
             |      FROM documents),
             |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
             |      FROM wd WHERE word <> '' GROUP BY 1),
             |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c),
             |r AS (SELECT cnt, rn FROM (
             |        SELECT cnt, row_number() OVER (ORDER BY cnt DESC,
             |          word) AS rn FROM c)
             |      WHERE rn <= 101),
             |mm AS (SELECT max(rn) AS m FROM r),
             |thr AS (SELECT r.cnt AS xmin, mm.m
             |      FROM r CROSS JOIN mm WHERE r.rn = mm.m),
             |ag AS (SELECT max(t.m) AS m, max(t.xmin) AS xmin,
             |        CAST(sum(CAST(round(ln(CAST(r.cnt AS DOUBLE)
             |          / CAST(t.xmin AS DOUBLE)) * 1e9) AS BIGINT))
             |          AS BIGINT) AS slog
             |      FROM r CROSS JOIN thr t WHERE r.rn < t.m)
             |SELECT n_types, CAST(m - 1 AS BIGINT) AS k_used, xmin,
             |  round(slog / 1e9 * 1e6) / 1e6 AS sum_log,
             |  round((1.0 + CAST(m - 1 AS DOUBLE)
             |    / CAST(CASE WHEN slog > 0 THEN slog / 1e9 END
             |      AS DOUBLE)) * 1e6) / 1e6 AS alpha
             |FROM ag CROSS JOIN nt""".stripMargin),
      (s, dir) =>
        graft.analytics.TextAnalysis.hillEstimator(
            Tables(s, dir, "documents"), textCol = "text", k = 100)),

    // ----- log-rank test between two churn arms -----
    Q("q275_log_rank_test",
      "log-rank test between even/odd user-id arms over the q182 " +
        "right-censored lifetimes (per churn time O vs hypergeometric " +
        "E = d*nA/n with variance d*(nA/n)(1-nA/n)(n-d)/(n-1); z = " +
        "(O-E)/sqrt(V), chi2 on 1 dof) — the do-these-cohorts-churn-" +
        "differently receipt KM curves alone cannot give; risk sets " +
        "are per-arm reverse cumsums over the arm x distinct-lifetime " +
        "completed grid, E/V terms summed as 1e9-scaled integers",
      Some("""WITH days AS (
             |  SELECT user_id AS u, CAST(ts AS DATE) AS d,
             |         max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             |           AS arm
             |  FROM events GROUP BY 1, 2),
             |life AS (SELECT u, min(d) AS d0, max(d) AS d1,
             |                max(arm) AS arm
             |         FROM days GROUP BY u),
             |gm AS (SELECT max(d) AS gmax FROM days),
             |lt AS (SELECT CAST(date_diff('day', d0, d1) AS BIGINT)
             |                AS t,
             |              d1 < gm.gmax AS observed, arm
             |       FROM life CROSS JOIN gm),
             |byta AS (SELECT t, arm, CAST(count(*) AS BIGINT) AS n_at,
             |                CAST(sum(CASE WHEN observed THEN 1 ELSE 0
             |                  END) AS BIGINT) AS d
             |         FROM lt GROUP BY 1, 2),
             |grid AS (SELECT DISTINCT t, a.arm
             |         FROM byta
             |         CROSS JOIN (SELECT unnest([0, 1]) AS arm) a),
             |fl AS (SELECT g.t, g.arm,
             |              coalesce(b.n_at, CAST(0 AS BIGINT)) AS n_at,
             |              coalesce(b.d, CAST(0 AS BIGINT)) AS d
             |       FROM grid g LEFT JOIN byta b
             |         ON b.t = g.t AND b.arm = g.arm),
             |r AS (SELECT t, arm, d,
             |             CAST(sum(n_at) OVER (PARTITION BY arm
             |               ORDER BY t ROWS BETWEEN CURRENT ROW AND
             |               UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
             |      FROM fl),
             |byt AS (SELECT t, CAST(sum(d) AS BIGINT) AS dt,
             |               CAST(sum(n_risk) AS BIGINT) AS nt,
             |               CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0
             |                 END) AS BIGINT) AS da,
             |               CAST(sum(CASE WHEN arm = 1 THEN n_risk
             |                 ELSE 0 END) AS BIGINT) AS na
             |        FROM r GROUP BY t
             |        HAVING CAST(sum(d) AS BIGINT) > 0),
             |terms AS (SELECT da,
             |        CAST(round(CAST(dt AS DOUBLE)
             |          * (CAST(na AS DOUBLE) / CAST(nt AS DOUBLE))
             |          * 1e9) AS BIGINT) AS et,
             |        CAST(round(CASE WHEN nt > 1
             |            THEN CAST(dt AS DOUBLE)
             |              * (CAST(na AS DOUBLE) / CAST(nt AS DOUBLE))
             |              * (1.0 - CAST(na AS DOUBLE)
             |                 / CAST(nt AS DOUBLE))
             |              * CAST(nt - dt AS DOUBLE)
             |              / CAST(nt - 1 AS DOUBLE)
             |            ELSE 0.0 END * 1e9) AS BIGINT) AS vt
             |   FROM byt),
             |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
             |              CAST(sum(da) AS BIGINT) AS o_a,
             |              round(CAST(sum(et) AS DOUBLE) / 1e9 * 1e6)
             |                / 1e6 AS e_a,
             |              round(CAST(sum(vt) AS DOUBLE) / 1e9 * 1e6)
             |                / 1e6 AS v
             |       FROM terms),
             |zc AS (SELECT n_times, o_a, e_a, v,
             |              (CAST(o_a AS DOUBLE) - e_a)
             |                / (CASE WHEN v > 0.0 THEN sqrt(v) END) AS z
             |       FROM ag)
             |SELECT n_times, o_a, e_a, v,
             |  round(z * 1e6) / 1e6 AS z,
             |  round(z * z * 1e6) / 1e6 AS chi2,
             |  round(z * z * 1e6) / 1e6 > 3.841459 AS significant
             |FROM zc""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.logRankTest(Tables(s, dir, "events"),
            "user_id", "ts", armPred = col("user_id") % 2 === 0)),

    // ----- concentration profile: HHI / entropy / effective N -----
    Q("q276_concentration_profile",
      "per-returnflag concentration of extended-price mass over part " +
        "keys: HHI (sum share^2), Shannon entropy, effective entity " +
        "count 1/HHI, top share — the corpus/traffic-diversity audit " +
        "(an effective-N collapse is one template away from a dedup " +
        "blow-up); one (grp, entity) agg absorbs raw volume map-side, " +
        "then one group-keyed fold, HHI terms 1e12-scaled and entropy " +
        "terms 1e9-scaled integers so partition order cannot move the " +
        "rounded result; entities summing <= 0 excluded per entity",
      Some("""WITH w AS (SELECT l_returnflag AS grp, l_partkey AS ent,
             |        CAST(round(l_extendedprice * 100) AS BIGINT) AS v
             |      FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |e AS (SELECT grp, ent, CAST(sum(v) AS BIGINT) AS sv
             |      FROM w GROUP BY 1, 2
             |      HAVING CAST(sum(v) AS BIGINT) > 0),
             |t AS (SELECT grp, CAST(sum(sv) AS BIGINT) AS tot
             |      FROM e GROUP BY 1),
             |j AS (SELECT e.grp, e.sv, t.tot,
             |        CAST(e.sv AS DOUBLE) / CAST(t.tot AS DOUBLE)
             |          AS share
             |      FROM e JOIN t ON t.grp = e.grp),
             |a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_entities,
             |        CAST(max(tot) AS DOUBLE) / 100 AS total,
             |        round(CAST(sum(CAST(round(share * share * 1e12)
             |            AS BIGINT)) AS DOUBLE) / 1e12 * 1e6) / 1e6
             |          AS hhi,
             |        round(CAST(sum(CAST(round(-share * ln(share)
             |            * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 * 1e6)
             |          / 1e6 AS entropy,
             |        round(CAST(max(sv) AS DOUBLE) / max(tot) * 1e6)
             |          / 1e6 AS top_share
             |      FROM j GROUP BY grp)
             |SELECT grp, n_entities, total, hhi, entropy,
             |  round(1.0 / (CASE WHEN hhi > 0.0 THEN hhi END), 6)
             |    AS effective_n,
             |  top_share
             |FROM a ORDER BY grp""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.concentrationProfile(
            Tables(s, dir, "lineitem"), groupCol = "l_returnflag",
            entityCol = "l_partkey", valueCol = "l_extendedprice",
            valueScale = 100L)
          .orderBy("grp")),

    // ----- Mann-Whitney U per event type -----
    Q("q279_mann_whitney",
      "Mann-Whitney U per event type between even/odd user arms " +
        "(tie-corrected normal approximation, no continuity " +
        "correction, rank-biserial effect size) — the rank test a " +
        "heavy-tailed metric needs where q210's Welch t chases one " +
        "bot user's mean; doubled-ranks from the distinct-value CDF " +
        "are exact integers, products DECIMAL(38,0), the rank window " +
        "runs over value cardinality per key",
      Some("""WITH dv AS (SELECT event_type AS key,
             |        CAST(round(value * 100) AS BIGINT) AS v,
             |        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0
             |          END) AS BIGINT) AS c0,
             |        CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0
             |          END) AS BIGINT) AS c1
             |      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
             |c AS (SELECT key, c0, c1, c0 + c1 AS t,
             |        CAST(sum(c0 + c1) OVER (PARTITION BY key
             |          ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
             |          CURRENT ROW) AS BIGINT) AS cum
             |      FROM dv),
             |a AS (SELECT key, CAST(sum(c0) AS BIGINT) AS n0,
             |        CAST(sum(c1) AS BIGINT) AS n1,
             |        CAST(sum(CAST(c1 AS HUGEINT)
             |          * ((cum - t) * 2 + t + 1)) AS DECIMAL(38, 0))
             |          AS r1x2,
             |        CAST(sum(CAST(t AS HUGEINT) * t * t - t)
             |          AS DECIMAL(38, 0)) AS ties
             |      FROM c GROUP BY key),
             |zz AS (SELECT key, n0, n1,
             |        CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)
             |          AS DOUBLE) AS u1x2,
             |        CAST(n0 AS DOUBLE) * n1 / 12.0
             |          * (CAST(n0 + n1 + 1 AS DOUBLE)
             |            - CAST(ties AS DOUBLE)
             |              / (CAST(n0 + n1 AS DOUBLE)
             |                * CAST(CASE WHEN n0 + n1 > 1
             |                  THEN n0 + n1 - 1 END AS DOUBLE))) AS s2
             |      FROM a),
             |o AS (SELECT key, n0, n1, u1x2 / 2 AS u1,
             |        round((u1x2 - CAST(n0 AS DOUBLE) * n1)
             |          / (2.0 * sqrt(CASE WHEN s2 > 0 THEN s2 END))
             |          * 1e6) / 1e6 AS z,
             |        round((u1x2 / (CASE WHEN n0 > 0 AND n1 > 0
             |            THEN CAST(n0 AS DOUBLE) * n1 END) - 1.0)
             |          * 1e6) / 1e6 AS rank_biserial
             |      FROM zz)
             |SELECT key, n0, n1, u1, z, rank_biserial,
             |  coalesce(abs(z) > 1.959964, false) AS significant
             |FROM o ORDER BY key""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.mannWhitneyU(Tables(s, dir, "events"),
            "event_type", "value", armPred = col("user_id") % 2 === 1)
          .orderBy("key")),

    // ----- Kruskal-Wallis H across event types -----
    Q("q280_kruskal_wallis",
      "Kruskal-Wallis H across event types over the value metric " +
        "(rank-based one-way ANOVA, tie-corrected, significance vs " +
        "the Wilson-Hilferty closed-form 0.95 chi-square quantile) — " +
        "does ANY group differ, the first question of a per-source " +
        "quality metric; global doubled-ranks over the distinct-value " +
        "grid, per-group terms as 1e6-scaled integers, everything " +
        "after the one (group, value) agg is dictionary-sized",
      Some("""WITH gv AS (SELECT event_type AS grp,
             |        CAST(round(value * 100) AS BIGINT) AS v,
             |        CAST(count(*) AS BIGINT) AS cnt
             |      FROM events WHERE value IS NOT NULL
             |        AND event_type IS NOT NULL GROUP BY 1, 2),
             |vt AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS t,
             |        CAST(sum(sum(cnt)) OVER (ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
             |          ROW) AS BIGINT) AS cum
             |      FROM gv GROUP BY v),
             |vr AS (SELECT v, t, (cum - t) * 2 + t + 1 AS r2 FROM vt),
             |pg AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS ng,
             |        CAST(sum(CAST(cnt AS HUGEINT) * r2)
             |          AS DECIMAL(38, 0)) AS rgx2
             |      FROM gv JOIN vr ON vr.v = gv.v GROUP BY grp),
             |tt AS (SELECT CAST(sum(t) AS BIGINT) AS n,
             |        CAST(sum(CAST(t AS HUGEINT) * t * t - t)
             |          AS DECIMAL(38, 0)) AS ties
             |      FROM vr),
             |gg AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
             |        CAST(sum(CAST(round(CAST(rgx2 AS DOUBLE)
             |          * CAST(rgx2 AS DOUBLE)
             |          / (4.0 * CAST(ng AS DOUBLE)) * 1e6) AS HUGEINT))
             |          AS DECIMAL(38, 0)) AS s
             |      FROM pg),
             |hh AS (SELECT n_groups, n,
             |        12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)
             |          + 1.0)) * (CAST(s AS DOUBLE) / 1e6)
             |          - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
             |        1.0 - CAST(ties AS DOUBLE)
             |          / (CASE WHEN CAST(n AS DOUBLE) * n * n - n > 0
             |            THEN CAST(n AS DOUBLE) * n * n - n END) AS c,
             |        CAST(n_groups - 1 AS DOUBLE) AS dofd
             |      FROM gg CROSS JOIN tt)
             |SELECT n_groups, n, CAST(n_groups - 1 AS BIGINT) AS dof,
             |  round(h * 1e6) / 1e6 AS h,
             |  round(h / (CASE WHEN c > 0 THEN c END) * 1e6) / 1e6
             |    AS h_tie_corrected,
             |  round((CASE WHEN dofd > 0 THEN dofd
             |    * pow(1.0 - 2.0 / (9.0 * dofd)
             |      + 1.6448536269514722 * sqrt(2.0 / (9.0 * dofd)),
             |      3.0) END) * 1e6) / 1e6 AS chi2_crit_05,
             |  coalesce(round(h / (CASE WHEN c > 0 THEN c END) * 1e6)
             |      / 1e6
             |    > round((CASE WHEN dofd > 0 THEN dofd
             |      * pow(1.0 - 2.0 / (9.0 * dofd)
             |        + 1.6448536269514722 * sqrt(2.0 / (9.0 * dofd)),
             |        3.0) END) * 1e6) / 1e6, false) AS significant
             |FROM hh""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.kruskalWallis(Tables(s, dir, "events"),
            "event_type", "value")),

    // ----- winsorized mean per return flag -----
    Q("q281_winsorized_mean",
      "winsorized mean of extended price per return flag (tails " +
        "CLAMPED to the k-th order statistics, not dropped — the " +
        "robust KPI mean that keeps n constant, q215's sibling); " +
        "distinct-value compression, clamp values via conditional " +
        "mins over the CDF, integer-exact until one division",
      Some("""WITH dv AS (SELECT l_returnflag AS grp,
             |        CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             |        CAST(count(*) AS BIGINT) AS cnt
             |      FROM lineitem WHERE l_extendedprice IS NOT NULL
             |      GROUP BY 1, 2),
             |c AS (SELECT grp, v, cnt,
             |        CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY v
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
             |          ROW) AS BIGINT) AS cum,
             |        CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT)
             |          AS n
             |      FROM dv),
             |k AS (SELECT grp, v, cnt, cum, n,
             |        CAST(floor(n * 0.05) AS BIGINT) AS k FROM c),
             |a AS (SELECT grp, max(n) AS n_rows, max(k) AS k,
             |        min(CASE WHEN cum >= k + 1 THEN v END) AS lo,
             |        min(CASE WHEN cum >= n - k THEN v END) AS hi,
             |        CAST(sum(CAST(greatest(least(cum, n - k)
             |          - greatest(cum - cnt, k), 0) AS HUGEINT) * v)
             |          AS DECIMAL(38, 0)) AS s
             |      FROM k GROUP BY grp)
             |SELECT grp, CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST(lo AS DOUBLE) / 100 AS lo_clamp,
             |  CAST(hi AS DOUBLE) / 100 AS hi_clamp,
             |  round((CAST(s AS DOUBLE) + CAST(k AS DOUBLE)
             |    * (lo + hi)) / (CASE WHEN n_rows > 0
             |      THEN CAST(n_rows AS DOUBLE) END) / 100 * 1e6) / 1e6
             |    AS winsorized_mean
             |FROM a ORDER BY grp""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.winsorizedMean(Tables(s, dir, "lineitem"),
            "l_returnflag", "l_extendedprice")
          .orderBy("grp")),

    // ----- consistent per-key sample -----
    Q("q282_consistent_sample",
      "deterministic k-per-language document sample: the 5 smallest " +
        "(32-bit md5-prefix hash of doc_id, doc_id) rows per lang — " +
        "the show-me-examples-from-every-slice primitive behind " +
        "eyeball QA and golden-set refreshes, identical across " +
        "re-runs and engines (LIMIT is partition-order roulette); " +
        "one bounded TopKBy aggregate per key, k rows of state per " +
        "partition, no window over raw volume",
      Some("""WITH h AS (SELECT lang AS key, doc_id AS id,
             |        CAST(('0x' || substring(md5(CAST(doc_id AS
             |          VARCHAR)), 1, 8))::BIGINT AS BIGINT) AS hash32
             |      FROM documents),
             |r AS (SELECT key, id, hash32,
             |        row_number() OVER (PARTITION BY key
             |          ORDER BY hash32, id) AS rn
             |      FROM h)
             |SELECT key, id, hash32 FROM r WHERE rn <= 5
             |ORDER BY key, hash32, id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.consistentSample(
            Tables(s, dir, "documents"), "lang", "doc_id", k = 5)
          .orderBy("key", "hash32", "id")),

    // ----- pairwise source JS-divergence matrix -----
    Q("q283_js_matrix",
      "pairwise Jensen-Shannon divergence between sources' unigram " +
        "distributions (nats + /ln2 normalization) — which sources " +
        "are near-clones of EACH OTHER, the mix audit q143's " +
        "source-vs-corpus KL can't answer; disjoint-support mass " +
        "needs no word rows (closed-form ln2/2 terms from co-support " +
        "masses), the word-keyed self-join carries co-occurring " +
        "words only, the completion cross is dictionary x dictionary",
      Some {
        val ln2 = math.log(2.0).toString
        val ln2h = (math.log(2.0) / 2.0).toString
        s"""WITH w AS (SELECT source AS key, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
           |      FROM documents WHERE source IS NOT NULL),
           |c AS (SELECT key, word, CAST(count(*) AS BIGINT) AS cnt
           |      FROM w GROUP BY 1, 2),
           |kt AS (SELECT key, CAST(sum(cnt) AS BIGINT) AS tot
           |      FROM c GROUP BY 1),
           |p AS (SELECT c.key, c.word,
           |        CAST(cnt AS DOUBLE) / tot AS p
           |      FROM c JOIN kt ON kt.key = c.key),
           |co AS (SELECT a.key AS key_a, b.key AS key_b,
           |        CAST(count(*) AS BIGINT) AS n_words_shared,
           |        CAST(sum(CAST(round((0.5 * a.p
           |            * ln(2 * a.p / (a.p + b.p))
           |          + 0.5 * b.p * ln(2 * b.p / (a.p + b.p))) * 1e9)
           |          AS BIGINT)) AS BIGINT) AS s,
           |        CAST(sum(CAST(round(a.p * 1e9) AS BIGINT))
           |          AS BIGINT) AS spa,
           |        CAST(sum(CAST(round(b.p * 1e9) AS BIGINT))
           |          AS BIGINT) AS spb
           |      FROM p a JOIN p b
           |        ON a.word = b.word AND a.key < b.key
           |      GROUP BY 1, 2),
           |grid AS (SELECT a.key AS key_a, b.key AS key_b
           |      FROM kt a JOIN kt b ON a.key < b.key),
           |f AS (SELECT g.key_a, g.key_b,
           |        CAST(coalesce(co.n_words_shared, 0) AS BIGINT)
           |          AS n_words_shared,
           |        round((coalesce(co.s, 0) / 1e9 + $ln2h
           |          * ((1.0 - coalesce(co.spa, 0) / 1e9)
           |            + (1.0 - coalesce(co.spb, 0) / 1e9))) * 1e6)
           |          / 1e6 AS js_nats
           |      FROM grid g LEFT JOIN co
           |        ON co.key_a = g.key_a AND co.key_b = g.key_b)
           |SELECT key_a, key_b, n_words_shared, js_nats,
           |  round(js_nats / $ln2, 6) AS js_normalized
           |FROM f ORDER BY key_a, key_b""".stripMargin
      },
      (s, dir) =>
        graft.analytics.TextAnalysis.jsDivergenceMatrix(
            Tables(s, dir, "documents"), "source", "text")
          .orderBy("key_a", "key_b")),

    // ----- hourly value percentiles -----
    Q("q284_hourly_percentiles",
      "per-(type, hour) p50/p90/p99 of the value metric from the " +
        "bounded log_hist sketch in micro-units " +
        "(Sketches.logHistQuantiles; this row hash-pins the sketch " +
        "against DuckDB); 960 integer counters per " +
        "(type, hour), map-side partials, the quantile walk " +
        "dictionary x calendar bounded",
      Some("""WITH e AS (SELECT event_type,
             |        CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             |        CAST(round(value * 1e6) AS BIGINT) AS v
             |      FROM events WHERE value IS NOT NULL),
             |b AS (SELECT event_type, hr,
             |        CASE WHEN v < 16 THEN v
             |             ELSE ((length(bin(v)) - 4) << 4)
             |                  + (v >> (length(bin(v)) - 5)) - 16
             |        END AS idx
             |      FROM e WHERE v >= 1),
             |g AS (SELECT event_type, hr, idx,
             |        CAST(count(*) AS BIGINT) AS c
             |      FROM b GROUP BY 1, 2, 3),
             |cm AS (SELECT event_type, hr, idx, c,
             |        CAST(sum(c) OVER (PARTITION BY event_type, hr
             |          ORDER BY idx) AS BIGINT) AS cum,
             |        CAST(sum(c) OVER (PARTITION BY event_type, hr)
             |          AS BIGINT) AS n
             |      FROM g),
             |lb AS (SELECT *, CASE WHEN idx < 16 THEN idx
             |          ELSE ((idx % 16) + 16) << ((idx // 16) - 1)
             |        END AS lo
             |      FROM cm)
             |SELECT event_type, hr, max(n) AS n,
             |  CAST(min(CASE WHEN cum >= ceil(0.5 * n) THEN lo END)
             |    AS BIGINT) AS p50,
             |  CAST(min(CASE WHEN cum >= ceil(0.9 * n) THEN lo END)
             |    AS BIGINT) AS p90,
             |  CAST(min(CASE WHEN cum >= ceil(0.99 * n) THEN lo END)
             |    AS BIGINT) AS p99
             |FROM lb GROUP BY 1, 2 ORDER BY event_type, hr""".stripMargin),
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .filter(col("value").isNotNull)
          .select(
            concat_ws("|", col("event_type"),
              // floor division (matches the oracle's floor(epoch/3600)
              // on pre-1970 timestamps too; DIV truncates toward zero)
              expr("(unix_micros(ts) - pmod(unix_micros(ts), " +
                "3600000000)) DIV 3600000000")).as("key"),
            round(col("value") * 1e6).cast("long").as("v"))
        graft.analytics.Sketches.logHistQuantiles(ev, "key", col("v"))
          .select(
            substring_index(col("key"), "|", 1).as("event_type"),
            substring_index(col("key"), "|", -1).cast("long").as("hr"),
            col("n"), col("p50"), col("p90"), col("p99"))
          .orderBy("event_type", "hr")
      }),

    // ----- delta-method ratio-metric test (revenue per view) -----
    Q("q285_ratio_metric_delta",
      "delta-method two-arm test of revenue-per-view (sum of purchase " +
        "value / count of views) with USER-level variance — the ratio " +
        "metric whose unit of randomization is not its unit of " +
        "analysis, where a per-event t-test is the classic A/B " +
        "false-positive factory; per-unit sums quantize to scaled " +
        "longs, each arm's five power sums accumulate DECIMAL(38,0) " +
        "in ONE grouping-free aggregate (no join, no window, 1 row), " +
        "zero-denominator users INCLUDED (the point of the method)",
      Some("""WITH pu AS (SELECT user_id AS u,
             |        CAST(sum(CAST(round((CASE WHEN event_type =
             |          'purchase' THEN value ELSE 0.0 END) * 100)
             |          AS BIGINT)) AS BIGINT) AS x,
             |        CAST(sum(CAST(round((CASE WHEN event_type =
             |          'view' THEN 1.0 ELSE 0.0 END) * 100)
             |          AS BIGINT)) AS BIGINT) AS y,
             |        max(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
             |          AS arm
             |      FROM events GROUP BY 1),
             |m AS (SELECT
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n0,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n1,
             |    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END)
             |      AS BIGINT) AS sx0,
             |    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END)
             |      AS BIGINT) AS sx1,
             |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END)
             |      AS BIGINT) AS sy0,
             |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END)
             |      AS BIGINT) AS sy1,
             |    CAST(sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT)
             |      * x ELSE 0 END) AS DECIMAL(38, 0)) AS sxx0,
             |    CAST(sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT)
             |      * x ELSE 0 END) AS DECIMAL(38, 0)) AS sxx1,
             |    CAST(sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT)
             |      * y ELSE 0 END) AS DECIMAL(38, 0)) AS syy0,
             |    CAST(sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT)
             |      * y ELSE 0 END) AS DECIMAL(38, 0)) AS syy1,
             |    CAST(sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT)
             |      * y ELSE 0 END) AS DECIMAL(38, 0)) AS sxy0,
             |    CAST(sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT)
             |      * y ELSE 0 END) AS DECIMAL(38, 0)) AS sxy1
             |  FROM pu),
             |d AS (SELECT n0, n1,
             |    CAST(sx0 AS DOUBLE) / (CASE WHEN sy0 > 0
             |      THEN CAST(sy0 AS DOUBLE) END) AS r0,
             |    CAST(sx1 AS DOUBLE) / (CASE WHEN sy1 > 0
             |      THEN CAST(sy1 AS DOUBLE) END) AS r1,
             |    (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sx0
             |      / CAST(n0 AS DOUBLE))
             |      / (CASE WHEN n0 > 1 THEN CAST(n0 AS DOUBLE) - 1.0
             |        END) AS vxx0,
             |    (CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE) * sy0
             |      / CAST(n0 AS DOUBLE))
             |      / (CASE WHEN n0 > 1 THEN CAST(n0 AS DOUBLE) - 1.0
             |        END) AS vyy0,
             |    (CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sy0
             |      / CAST(n0 AS DOUBLE))
             |      / (CASE WHEN n0 > 1 THEN CAST(n0 AS DOUBLE) - 1.0
             |        END) AS vxy0,
             |    (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1
             |      / CAST(n1 AS DOUBLE))
             |      / (CASE WHEN n1 > 1 THEN CAST(n1 AS DOUBLE) - 1.0
             |        END) AS vxx1,
             |    (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy1
             |      / CAST(n1 AS DOUBLE))
             |      / (CASE WHEN n1 > 1 THEN CAST(n1 AS DOUBLE) - 1.0
             |        END) AS vyy1,
             |    (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy1
             |      / CAST(n1 AS DOUBLE))
             |      / (CASE WHEN n1 > 1 THEN CAST(n1 AS DOUBLE) - 1.0
             |        END) AS vxy1,
             |    CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS yb0,
             |    CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS yb1
             |  FROM m),
             |v AS (SELECT n0, n1, r0, r1,
             |    (vxx0 - 2.0 * r0 * vxy0 + r0 * r0 * vyy0)
             |      / (CAST(n0 AS DOUBLE) * (CASE WHEN yb0 > 0
             |        THEN yb0 * yb0 END)) AS v0,
             |    (vxx1 - 2.0 * r1 * vxy1 + r1 * r1 * vyy1)
             |      / (CAST(n1 AS DOUBLE) * (CASE WHEN yb1 > 0
             |        THEN yb1 * yb1 END)) AS v1
             |  FROM d),
             |f AS (SELECT n0, n1, r0, r1, r1 - r0 AS df,
             |    sqrt(CASE WHEN v0 + v1 > 0 THEN v0 + v1 END) AS se
             |  FROM v)
             |SELECT n0, n1,
             |  round(r0 * 1e6) / 1e6 AS ratio0,
             |  round(r1 * 1e6) / 1e6 AS ratio1,
             |  round(df * 1e6) / 1e6 AS diff,
             |  round(df / se * 1e6) / 1e6 AS z,
             |  round((df - 1.959964 * se) * 1e6) / 1e6 AS ci_lo,
             |  round((df + 1.959964 * se) * 1e6) / 1e6 AS ci_hi,
             |  coalesce(abs(round(df / se * 1e6) / 1e6) > 1.959964,
             |    false) AS significant
             |FROM f""".stripMargin),
      (s, dir) =>
        graft.analytics.Events.ratioMetricDelta(
            Tables(s, dir, "events"), "user_id",
            armPred = col("user_id") % 2 === 1,
            num = when(col("event_type") === "purchase", col("value"))
              .otherwise(lit(0.0)),
            den = when(col("event_type") === "view", lit(1.0))
              .otherwise(lit(0.0)))),

    // ----- int8 quantize -> dequantize round-trip audit -----
    Q("q286_int8_roundtrip",
      "per-vector int8 quantize -> dequantize reconstruction audit: " +
        "max absolute error, 1e9-scaled L1 error, and the " +
        "within-half-step guarantee |deq - orig| <= scale/2 (symmetric " +
        "scheme, no clamp error possible since |v|/scale <= 127 by " +
        "construction) — the is-the-compressed-corpus-still-usable " +
        "receipt for the q74 storage path; entirely map-side per " +
        "vector, one id-keyed join of the quantized form back to the " +
        "originals, element errors through identical IEEE trees in " +
        "both engines (max is order-free, L1 sums scaled integers)",
      Some("""WITH v AS (SELECT vec_id,
             |        list_transform(embedding, x -> CAST(x AS DOUBLE))
             |          AS vv
             |      FROM embeddings),
             |s AS (SELECT vec_id, vv,
             |        list_max(list_transform(vv, x -> abs(x))) / 127
             |          AS sc0
             |      FROM v),
             |q AS (SELECT vec_id, vv,
             |        CASE WHEN sc0 IS NOT NULL AND sc0 > 0 THEN sc0
             |             ELSE 0.0 END AS scale,
             |        CASE WHEN sc0 IS NOT NULL AND sc0 > 0
             |             THEN list_transform(vv, x ->
             |               CAST(greatest(-127, least(127,
             |                 floor(x / sc0 + 0.5))) AS BIGINT))
             |             ELSE list_transform(vv, x -> CAST(0 AS
             |               BIGINT)) END AS qq
             |      FROM s),
             |e AS (SELECT vec_id, scale,
             |        list_transform(range(1, len(vv) + 1), i ->
             |          abs(CAST(qq[i] AS DOUBLE) * scale - vv[i]))
             |          AS errs
             |      FROM q)
             |SELECT vec_id, round(scale, 6) AS qscale,
             |  round(list_max(errs), 9) AS max_abs_err,
             |  CAST(list_aggregate(list_transform(errs, x ->
             |    CAST(round(x * 1e9) AS BIGINT)), 'sum') AS BIGINT)
             |    AS err_l1_nanos,
             |  list_max(errs) <= scale / 2 AS within_half_step
             |FROM e ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val qv = graft.analytics.Quantize.int8Vectors(emb, "vec_id",
          "embedding")
        val deq = graft.analytics.Quantize.dequantize(col("q"),
          col("scale"))
        val errs = zip_with(col("vv"), deq, (a, b) => abs(a - b))
        emb.select(col("vec_id"),
            graft.analytics.Similarity.asDouble(col("embedding"))
              .as("vv"))
          .join(qv, "vec_id")
          .select(col("vec_id"), round(col("scale"), 6).as("qscale"),
            round(array_max(errs), 9).as("max_abs_err"),
            aggregate(errs, lit(0L),
              (acc, x) => acc + round(x * 1e9).cast("long"))
              .as("err_l1_nanos"),
            (array_max(errs) <= col("scale") / 2).as("within_half_step"))
          .orderBy("vec_id")
      })
  )

  /** DuckDB mirror of [[graft.analytics.Stats.holtSmoothing]]: the
    * same fold via list_reduce with every smoothing constant
    * interpolated from the DRIVER-computed double (Scala's toString
    * round-trips, so DuckDB parses the identical IEEE value —
    * `1.0 - alpha` is NOT the same double as a hand-typed 0.7).
    *
    * The accumulator is a 2-element LIST [level, trend], NOT a struct:
    * DuckDB v1.0's list_reduce resolves `acc.field` inside a LATER
    * struct field against the PARTIALLY-UPDATED accumulator (the trend
    * expression saw the new level as `acc.l` — measured, off by
    * exactly that substitution), while list-element indexing reads the
    * whole previous state consistently. */
  private def holtOracleSql(alpha: Double, beta: Double): String = {
    val a = alpha.toString; val oma = (1.0 - alpha).toString
    val b = beta.toString; val omb = (1.0 - beta).toString
    s"""WITH d AS (SELECT event_type,
       |         CAST(date_trunc('day', ts) AS DATE) AS day,
       |         CAST(count(*) AS BIGINT) AS x
       |       FROM events GROUP BY 1, 2),
       |s AS (SELECT event_type,
       |        list(CAST(x AS DOUBLE) ORDER BY day) AS vals
       |      FROM d GROUP BY 1),
       |f AS (SELECT event_type, CAST(len(vals) AS BIGINT) AS n_points,
       |        list_reduce(
       |          list_prepend([vals[1], CAST(0 AS DOUBLE)],
       |            list_transform(vals[2:],
       |              x -> [x, CAST(0 AS DOUBLE)])),
       |          (acc, e) -> [
       |            $a * e[1] + $oma * (acc[1] + acc[2]),
       |            $b * ($a * e[1] + $oma * (acc[1] + acc[2]) - acc[1])
       |              + $omb * acc[2]]) AS st
       |      FROM s)
       |SELECT event_type, n_points,
       |       round(st[1] * 1e6) / 1e6 AS level,
       |       round(st[2] * 1e6) / 1e6 AS trend,
       |       round((st[1] + st[2]) * 1e6) / 1e6 AS forecast_next
       |FROM f ORDER BY event_type""".stripMargin
  }
}
