package graft.queries

import graft.analytics.Par.Mat

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analytics.{Dedup, Multimodal, Similarity, TextAnalysis, TfIdf}

/** LLM-training-data pipeline operators registered as driver-verifiable
  * queries over the `documents` / `embeddings` testdata tables: exact and
  * near deduplication, similarity search, text analysis, multimodal
  * plumbing. (Extension surface per SURVEY.md §7 step 5; the reference's
  * own text handling stops at value-level dedup, main.py:87-95.)
  *
  * Every operator is deterministic by construction (md5 hashing, integer
  * arithmetic, round(,6) before ranking, explicit tie-breaks) so the DuckDB
  * oracles reproduce results bit-for-bit.
  */
object AnalyticsQueries {

  /** Shared DuckDB CTE: normalized tokens + distinct 3-gram shingles.
    * Mirrors Dedup.tokens / Dedup.shingles exactly. */
  private val shCte =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
      |  FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      |  FROM (SELECT doc_id AS doc, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3)
      |)""".stripMargin

  /** Hot-shingle cap (df > 1000 dropped) — non-binding at test scale, load-
    * bearing at corpus scale; the Spark side applies the identical cap. */
  private val shCapped =
    shCte + """,
      | sh AS (SELECT doc, sh FROM sh0 WHERE sh NOT IN (
      |   SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000))""".stripMargin

  /** Shared DuckDB CTE chain: MinHash signatures -> LSH bands -> capped
    * candidate pairs (`cand`). Mirrors Dedup.minhashBands /
    * minhashCandidates exactly; appended after [[shCte]]. */
  private val lshCte =
    """,
      | sigs AS (
      |   SELECT doc, k, min(md5(k || '|' || sh)) AS sig
      |   FROM sh0, (SELECT unnest(range(0, 8)) AS k) ks
      |   GROUP BY doc, k),
      | bands AS (
      |   SELECT doc, CAST(floor(k / 2) AS INT) AS band,
      |          md5(string_agg(sig, ',' ORDER BY k)) AS bucket
      |   FROM sigs GROUP BY doc, band),
      | keep AS (
      |   SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 1000),
      | cand AS (
      |   SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      |   FROM (SELECT b.* FROM bands b JOIN keep USING (band, bucket)) a
      |   JOIN (SELECT b.* FROM bands b JOIN keep USING (band, bucket)) b
      |     ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc)""".stripMargin

  /** Shared DuckDB CTE chain: capped order baskets -> canonical
    * co-occurrence pairs with support. Mirrors Baskets.basketItems /
    * coOccurrencePairs exactly: distinct (order, part), baskets over
    * 1000 DISTINCT items dropped whole, pairs in item_a < item_b order.
    * Ends at `bif` (basket items) and `pr` (pair support). */
  private val basketCte =
    """WITH bi AS (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |bsz AS (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 1000),
      |bif AS MATERIALIZED (SELECT bi.bk, bi.it FROM bi JOIN bsz USING (bk)),
      |pr AS MATERIALIZED (
      |  SELECT a.it AS item_a, b.it AS item_b, CAST(count(*) AS BIGINT) AS pair_n
      |  FROM bif a JOIN bif b ON a.bk = b.bk AND a.it < b.it
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB CTE: per-(doc, word) token counts + corpus word
    * frequencies. Mirrors TextAnalysis.docWordCounts / vocabulary exactly
    * (same tokenizer as [[shCte]]'s `toks`). */
  private val wCte =
    """WITH w AS (
      |  SELECT doc_id, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
      |  FROM documents),
      |dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY doc_id, word),
      |wf AS (SELECT word, CAST(sum(n) AS BIGINT) AS c FROM dw GROUP BY word)""".stripMargin

  /** BM25 CTE tail shared by q135/q136 (appended after [[wCte]]): doc
    * lengths, document frequencies, the 1-row corpus stats (N over ALL
    * documents, total token count), and the distinct query-term table.
    * Mirrors [[graft.analytics.Retrieval.bm25TopK]] exactly. */
  private val bm25Ctes =
    """,
      |dl AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS dl FROM dw GROUP BY doc_id),
      |dfr AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY word),
      |st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS nd,
      |              (SELECT CAST(coalesce(sum(n), 0) AS DOUBLE) FROM dw) AS tot),
      |qt AS (SELECT DISTINCT doc_id AS qid, word FROM w WHERE doc_id % 100 = 0)"""
      .stripMargin

  /** The per-(query, doc) BM25 sum — operand order matches the Spark
    * Column expression term-for-term so both engines evaluate the same
    * IEEE sequence (ln may differ by an ulp; round(,6) absorbs it). */
  private val bm25Sum =
    """round(sum(ln((st.nd - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
      |           * CAST(dw.n AS DOUBLE) * 2.2
      |           / (CAST(dw.n AS DOUBLE)
      |              + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / (st.tot / st.nd)))), 6)"""
      .stripMargin

  /** Shared DuckDB CTE chain for PQ: uniform-dim vectors, the 16-entry
    * md5-ordered codebook, per-(vector, subspace) squared distances, and
    * the argmin code selection. Mirrors [[graft.analytics.Pq]] exactly
    * (8 subspaces × 8 dims over the 64-dim testdata embeddings;
    * `list_distance²` vs the index-ordered fold agree to ulps, absorbed
    * by the round-6 on every emitted/ranked value). */
  /** PQ codebook + per-subspace assignment CTEs (`cb`, `dist`, `sel`),
    * appended after ANY chain that already defines `v` — [[pqCte]]'s own
    * prologue or [[kmCte]] (the q175 IVF-PQ composition needs both
    * models over the same `v`). */
  private val pqTail =
    """,
      |cb AS (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, vv AS cv
      |  FROM (SELECT * FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
      |dist AS (
      |  SELECT v.vec_id, ss.s, cb.j,
      |         pow(list_distance(v.vv[ss.s*8+1 : ss.s*8+8], cb.cv[ss.s*8+1 : ss.s*8+8]), 2) AS d2
      |  FROM v, (SELECT unnest(range(0, 8)) AS s) ss, cb),
      |sel AS (
      |  SELECT vec_id, s, j, d2 FROM (
      |    SELECT vec_id, s, j, d2,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
      |    FROM dist) WHERE rn = 1)""".stripMargin

  private val pqCte =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      |  FROM embeddings WHERE len(embedding) = 64)""".stripMargin + pqTail

  /** Shared DuckDB CTE chain for k-means (2 Lloyd iterations, k=8):
    * md5-ordered init, first assignment, round-6 per-dimension means,
    * second-model centroids (empty clusters fall back to init), and the
    * final assignment `a2(vec_id, vv, c, d2)`. Mirrors
    * [[graft.analytics.Cluster]] exactly. */
  private val kmCte =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      |  FROM embeddings WHERE len(embedding) = 64),
      |init AS (
      |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c, vv AS cv
      |  FROM (SELECT * FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
      |a1 AS (
      |  SELECT vec_id, vv, c FROM (
      |    SELECT v.vec_id, v.vv, i.c,
      |           row_number() OVER (PARTITION BY v.vec_id
      |             ORDER BY pow(list_distance(v.vv, i.cv), 2), i.c) AS rn
      |    FROM v, init i) WHERE rn = 1),
      |pos AS (SELECT unnest(range(1, 65)) AS p),
      |m2 AS (
      |  SELECT a1.c, pos.p, round(avg(a1.vv[pos.p]), 6) AS m
      |  FROM a1, pos GROUP BY a1.c, pos.p),
      |cent2 AS (
      |  SELECT i.c, COALESCE(mm.mv, i.cv) AS cv
      |  FROM init i LEFT JOIN
      |    (SELECT c, list(m ORDER BY p) AS mv FROM m2 GROUP BY c) mm USING (c)),
      |a2 AS (
      |  SELECT vec_id, vv, c, d2 FROM (
      |    SELECT v.vec_id, v.vv, i.c, pow(list_distance(v.vv, i.cv), 2) AS d2,
      |           row_number() OVER (PARTITION BY v.vec_id
      |             ORDER BY pow(list_distance(v.vv, i.cv), 2), i.c) AS rn
      |    FROM v, cent2 i) WHERE rn = 1)""".stripMargin

  /** How many BPE merges the gate queries train. */
  private val bpeMerges = 20

  /** The BPE training replay as DuckDB CTEs: v0 is the word-frequency
    * table with space-padded symbol state, then per merge rank r —
    * p{r} adjacent-pair counts, b{r} the argmax pair (count desc, pair
    * asc), v{r+1} the vocab after replaying that merge as a literal
    * string replace. MATERIALIZED pins each state so the chain is O(n),
    * not a re-derivation per step. Mirrors [[graft.analytics.Bpe.train]]
    * step for step. */
  private def bpeChainSql(n: Int): String = {
    val head =
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
        |  FROM documents
        |), words AS (SELECT unnest(t) AS w FROM toks),
        | v0 AS MATERIALIZED (
        |  SELECT w, count(*) AS f,
        |         ' ' || array_to_string(string_split(w, ''), ' ') || ' </w> ' AS s
        |  FROM words GROUP BY w)""".stripMargin
    val steps = (0 until n).map { i =>
      s""",
         | p$i AS (SELECT l[k] AS a, l[k+1] AS b, sum(f) AS c
         |          FROM (SELECT l, f, unnest(range(1, len(l))) AS k
         |                FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS l, f FROM v$i))
         |          GROUP BY 1, 2),
         | b$i AS MATERIALIZED (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         | v${i + 1} AS MATERIALIZED (SELECT w, f, replace(s, ' '||a||' '||b||' ', ' '||a||b||' ') AS s FROM v$i, b$i)""".stripMargin
    }.mkString
    head + steps
  }

  /** Shared DuckDB CTE: embeddings as double vectors + cosine helper shape. */
  private val vCte =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      |  FROM embeddings
      |)""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** Shared DuckDB CTE chain for the DSIR model: hashed-bucket counts,
    * target/raw totals, rounded per-bucket log-weights, per-doc scores
    * (`sc`). Mirrors [[graft.analytics.Selection.dsirWeights]] exactly;
    * shared by q108 and the q121 selection gate. */
  private val dsirCte =
    """WITH w AS (
      |  SELECT doc_id, (lang = 'en') AS tgt, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
      |  FROM documents),
      |db AS (SELECT doc_id, tgt,
      |         CAST(('0x' || substring(md5(word), 1, 8))::BIGINT % 64 AS INT) AS bucket,
      |         CAST(count(*) AS BIGINT) AS tf
      |       FROM w GROUP BY 1, 2, 3),
      |model AS (SELECT bucket, sum(tf) AS raw_n,
      |                 sum(CASE WHEN tgt THEN tf ELSE 0 END) AS tgt_n
      |          FROM db GROUP BY bucket),
      |tot AS (SELECT sum(raw_n) AS raw_t, sum(tgt_n) AS tgt_t FROM model),
      |lw AS (SELECT bucket,
      |         round(ln(CAST(tgt_n + 1 AS DOUBLE) / CAST(tgt_t + 64 AS DOUBLE))
      |             - ln(CAST(raw_n + 1 AS DOUBLE) / CAST(raw_t + 64 AS DOUBLE)), 6) AS logw
      |       FROM model, tot),
      |sc AS (SELECT doc_id, round(sum(CAST(tf AS DOUBLE) * logw), 6) + 0.0 AS dsir_weight
      |       FROM db JOIN lw USING (bucket) GROUP BY doc_id)""".stripMargin


  /** Shared DuckDB CTE chain recomputing the aHash of the synthetic BMPs
    * from the generative pixel formula (same dims/rgb arithmetic as the
    * q68 oracle): 8x8 nearest-neighbor sample, integer gray, strict
    * above-mean bits packed into 32-bit halves `h(doc_id, hi, lo)`.
    * Mirrors [[graft.analytics.Multimodal.perceptualHash]] bit-for-bit. */
  private val phashCte =
    """WITH dims AS (
      |  SELECT doc_id, CAST(doc_id % 4 + 2 AS INT) AS in_w, CAST(doc_id % 3 + 2 AS INT) AS in_h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, y * 8 + x AS pos, (x * in_w) // 8 AS sx, (y * in_h) // 8 AS sy
      |  FROM dims, (SELECT unnest(range(8)) AS x) xs, (SELECT unnest(range(8)) AS y) ys),
      |g AS (
      |  SELECT doc_id, pos,
      |         (((doc_id * 7 + sx * 5 + sy * 3) % 256) +
      |          ((doc_id * 11 + sx * 2 + sy) % 256) +
      |          ((doc_id + sx + sy * 9) % 256)) // 3 AS gray
      |  FROM px),
      |s AS (SELECT doc_id, sum(gray) AS tot FROM g GROUP BY doc_id),
      |bits AS (
      |  SELECT g.doc_id, g.pos, CASE WHEN g.gray * 64 > s.tot THEN 1 ELSE 0 END AS b
      |  FROM g JOIN s USING (doc_id)),
      |h AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN pos < 32 THEN b * power(2, pos) ELSE 0 END) AS BIGINT) AS lo,
      |         CAST(sum(CASE WHEN pos >= 32 THEN b * power(2, pos - 32) ELSE 0 END) AS BIGINT) AS hi
      |  FROM bits GROUP BY doc_id)""".stripMargin

  val all: Seq[Q] = Seq(

    // ----- exact dedup: hash-groupBy on md5 fingerprint -----
    Q("q17_exact_dedup",
      "exact dedup via md5 fingerprint; canonical = min doc_id per group",
      Some("""SELECT doc_id, md5(text) AS fp,
             |       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             |       CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text)) THEN 0 ELSE 1 END AS is_dup
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Dedup.exactDupTags(Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- n-gram Jaccard near-dup pairs (inverted-index join) -----
    Q("q18_ngram_jaccard",
      "3-gram shingle Jaccard >= 0.5 candidate pairs, hot-shingle capped",
      Some(shCapped + """,
             | counts AS (SELECT doc, count(*) AS n FROM sh0 GROUP BY doc),
             | inter AS (
             |   SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter_n
             |   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
             |   GROUP BY 1, 2)
             |SELECT doc_a, doc_b, inter_n, ca.n AS n_a, cb.n AS n_b,
             |       CAST(inter_n AS DOUBLE) / (ca.n + cb.n - inter_n) AS jaccard
             |FROM inter
             |JOIN counts ca ON ca.doc = doc_a
             |JOIN counts cb ON cb.doc = doc_b
             |WHERE CAST(inter_n AS DOUBLE) / (ca.n + cb.n - inter_n) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) =>
        Dedup.ngramJaccardPairsFromDocs(Tables(s, dir, "documents"),
            "doc_id", "text", minJaccard = 0.5, n = 3, maxDocFreq = 1000)
          .orderBy("doc_a", "doc_b")),

    // ----- MinHash + LSH banding candidates -----
    Q("q19_minhash_lsh",
      "MinHash(8 seeds) + LSH banding(2/band) near-dup candidate pairs",
      Some(shCte + lshCte + """
             |SELECT doc_a, doc_b FROM cand
             |ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) =>
        Dedup.minhashCandidatePairs(Tables(s, dir, "documents"),
            "doc_id", "text", n = 3, numHashes = 8, bandSize = 2,
            maxBucket = 1000)
          .orderBy("doc_a", "doc_b")),

    // ----- SimHash fingerprints -----
    Q("q20_simhash",
      "16-bit SimHash from md5 nibbles, token-occurrence weighted",
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS tok
             |  FROM documents
             |), bits AS (
             |  SELECT doc_id, i,
             |         sum(CASE WHEN substr(md5(tok), i, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
             |  FROM toks, (SELECT unnest(range(1, 17)) AS i) ii
             |  GROUP BY doc_id, i)
             |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN CAST(2 ** (i-1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
             |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Dedup.simhash(Tables(s, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id")),

    // ----- text quality scoring -----
    Q("q21_text_quality",
      "per-doc quality metrics: counts, ratios, categorical flag",
      Some("""SELECT doc_id,
             |       length(text) AS n_chars,
             |       len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS n_tokens,
             |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
             |       length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
             |       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / nullif(length(text), 0) AS punct_ratio,
             |       CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
             |         / nullif(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')), 0) AS stopword_ratio,
             |       CASE WHEN len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) >= 10
             |                 AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) < 0.2
             |            THEN 'ok' ELSE 'low' END AS quality
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.quality(Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- language-ID heuristic -----
    Q("q22_lang_id",
      "stopword-set language scoring with deterministic argmax",
      Some("""SELECT doc_id,
             |       len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS en_hits,
             |       len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de_hits,
             |       len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en)\b')) AS es_hits,
             |       len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|que)\b')) AS fr_hits,
             |       CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
             |            WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
             |            WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
             |            WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
             |            ELSE 'fr' END AS lang_guess
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.langId(Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- document fingerprint + shard -----
    Q("q23_fingerprint",
      "md5 fingerprint of normalized text + 16-way shard nibble",
      Some("""SELECT doc_id,
             |       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
             |       substr(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 1) AS shard
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.fingerprint(Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- brute-force cosine top-k -----
    Q("q24_knn_brute",
      "brute-force cosine top-5 neighbors for query vectors (vec_id % 100 = 0)",
      Some(vCte + """,
             | q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id % 100 = 0),
             | scored AS (
             |   SELECT qid, vec_id AS neighbor_id, """.stripMargin +
             cosSql("qv", "vv") + """ AS cos_sim
             |   FROM q, v WHERE qid <> vec_id)
             |SELECT qid, rn, neighbor_id, cos_sim FROM (
             |  SELECT qid, neighbor_id, cos_sim,
             |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rn
             |  FROM scored)
             |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),
      (s, dir) =>
        Similarity.bruteForceTopK(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", col("vec_id") % 100 === 0, k = 5)
          .orderBy("qid", "rn")),

    // ----- IVF approximate top-k -----
    Q("q25_knn_ivf",
      "IVF top-5: hash-selected ~1/50 centroids (md5 rule, any id type), " +
        "map-side argmax assignment, nprobe=2",
      Some(vCte + """,
             | c AS (SELECT vec_id AS cid, vv AS cv FROM v
             |        WHERE md5(CAST(vec_id AS VARCHAR)) < '05'),
             | ac AS (SELECT v.vec_id, v.vv, c.cid, """.stripMargin +
             cosSql("vv", "cv") + """ AS csim FROM v, c),
             | assigned AS (
             |   SELECT vec_id, vv, cid FROM (
             |     SELECT vec_id, vv, cid,
             |            row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crn
             |     FROM ac) WHERE crn = 1),
             | q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id % 100 = 0),
             | qc AS (SELECT q.qid, q.qv, c.cid, """.stripMargin +
             cosSql("qv", "cv") + """ AS csim FROM q, c),
             | probes AS (
             |   SELECT qid, qv, cid FROM (
             |     SELECT qid, qv, cid,
             |            row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS crn
             |     FROM qc) WHERE crn <= 2),
             | scored AS (
             |   SELECT qid, a.vec_id AS neighbor_id, """.stripMargin +
             cosSql("qv", "a.vv") + """ AS cos_sim
             |   FROM probes p JOIN assigned a ON p.cid = a.cid WHERE qid <> a.vec_id)
             |SELECT qid, rn, neighbor_id, cos_sim FROM (
             |  SELECT qid, neighbor_id, cos_sim,
             |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rn
             |  FROM scored)
             |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),
      (s, dir) =>
        Similarity.ivfTopK(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", col("vec_id") % 100 === 0, k = 5,
            centroidStride = 50, nprobe = 2)
          .orderBy("qid", "rn")),

    // ----- embedding-cosine near-dup pairs (IVF-bucketed) -----
    Q("q38_cosine_neardup",
      "same-centroid-bucket (md5-selected centroids) embedding pairs with " +
        "cosine >= 0.4",
      Some(vCte + """,
             | c AS (SELECT vec_id AS cid, vv AS cv FROM v
             |        WHERE md5(CAST(vec_id AS VARCHAR)) < '05'),
             | ac AS (SELECT v.vec_id, v.vv, c.cid, """.stripMargin +
             cosSql("vv", "cv") + """ AS csim FROM v, c),
             | assigned AS (
             |   SELECT vec_id, vv, cid FROM (
             |     SELECT vec_id, vv, cid,
             |            row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crn
             |     FROM ac) WHERE crn = 1)
             |SELECT a.vec_id AS vid_a, b.vec_id AS vid_b, """.stripMargin +
             cosSql("a.vv", "b.vv") + """ AS cos_sim
             |FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
             |WHERE """.stripMargin + cosSql("a.vv", "b.vv") + """ >= 0.4
             |ORDER BY vid_a, vid_b""".stripMargin),
      (s, dir) =>
        Similarity.cosineNearDupPairs(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", minCosine = 0.4, centroidStride = 50)
          .orderBy("vid_a", "vid_b")),

    // ----- TF-IDF + cosine category classification (README_RU.md:96-117) -----
    Q("q30_tfidf_classify",
      "sparse TF-IDF (reciprocal-df integer weights) + cosine argmax: " +
        "classify held-out docs (doc_id % 10 = 0) against per-lang centroids",
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS term
             |  FROM documents
             |), tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             | w AS (SELECT doc, term, CAST(tf * 1000 // df AS BIGINT) AS w
             |       FROM tf JOIN dfreq USING (term)),
             | cent AS (
             |   SELECT d.lang AS label, term, CAST(sum(w) AS BIGINT) AS cw
             |   FROM w JOIN documents d ON d.doc_id = w.doc
             |   WHERE d.doc_id % 10 <> 0 GROUP BY 1, 2),
             | qw AS (SELECT * FROM w WHERE doc % 10 = 0),
             | qn AS (SELECT doc, CAST(sum(w * w) AS BIGINT) AS qn FROM qw GROUP BY doc),
             | cn AS (SELECT label, CAST(sum(cw * cw) AS BIGINT) AS cn FROM cent GROUP BY label),
             | dots AS (SELECT doc, label, CAST(sum(w * cw) AS BIGINT) AS dot
             |          FROM qw JOIN cent USING (term) GROUP BY 1, 2),
             | scored AS (
             |   SELECT doc, label, round(CAST(dot AS DOUBLE) /
             |          (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))), 6) AS cos_sim
             |   FROM dots JOIN qn USING (doc) JOIN cn USING (label)),
             | best AS (
             |   SELECT doc, label AS predicted, cos_sim,
             |          row_number() OVER (PARTITION BY doc ORDER BY cos_sim DESC, label) AS rn
             |   FROM scored)
             |SELECT doc AS doc_id, predicted, cos_sim FROM best WHERE rn = 1
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val weights = TfIdf.termWeights(docs, "doc_id", "text", scale = 1000)
        val centroids = TfIdf.classCentroids(
          weights.filter($"doc" % 10 =!= 0),
          docs.filter($"doc_id" % 10 =!= 0), "doc_id", "lang")
        TfIdf.classify(weights.filter($"doc" % 10 === 0), centroids)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id")
      }),

    // ----- multimodal plumbing: binary column + partition-wise decode -----
    Q("q26_multimodal_meta",
      "binary-payload metadata extraction via mapPartitions (decoder stubbed; " +
        "stub arithmetic is deterministic so even this path gets an oracle)",
      Some("""SELECT doc_id, 'image/stub' AS media_type,
             |       CAST(strlen(text) AS BIGINT) AS n_bytes,
             |       CAST((strlen(text) % 64) * 10 + 32 AS INT) AS width,
             |       CAST((strlen(text) % 48) * 10 + 32 AS INT) AS height,
             |       CAST((strlen(text) % 24) + 1 AS INT) AS n_frames
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.extractMeta(
            Multimodal.asBlobs(Tables(s, dir, "documents"), "doc_id", "text"))
          .toDF()
          .orderBy("doc_id")),

    // ----- duplicate clusters: connected components over LSH candidates -----
    Q("q42_dup_clusters",
      "near-dup CLUSTERS: connected components (min-label propagation) over " +
        "the LSH candidate pairs; component = min reachable doc_id",
      Some("WITH RECURSIVE" + shCte.stripPrefix("WITH") + lshCte + """,
             | edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
             |           UNION ALL SELECT doc_b, doc_a FROM cand),
             | walk AS (
             |   SELECT a AS node, b AS reach FROM edges
             |   UNION
             |   SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
             | comp AS (
             |   SELECT node, least(node, min(reach)) AS component
             |   FROM walk GROUP BY node)
             |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
             |       CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id THEN 0 ELSE 1 END AS is_dup
             |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Dedup.dupClusters(Tables(s, dir, "documents"), "doc_id", "text")
          .select($"doc_id", $"component",
            when($"component" === $"doc_id", 0).otherwise(1).as("is_dup"))
          .orderBy("doc_id")
      }),

    // ----- composed corpus filter: dedup + quality + language in one pass -----
    Q("q46_corpus_filter",
      "the shipped training-data decision: exact-dup, quality, and language " +
        "gates fused into one scan + one 50-byte/row exchange",
      Some("""WITH flags AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS is_dup,
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
             |  FROM documents)
             |SELECT doc_id,
             |       CASE WHEN is_dup = 1 THEN 'dup'
             |            WHEN NOT (n_tokens >= 10 AND punct_ratio < 0.2) THEN 'low_quality'
             |            WHEN lang_guess <> 'en' THEN 'non_en'
             |            ELSE 'keep' END AS verdict,
             |       CASE WHEN is_dup = 0 AND n_tokens >= 10 AND punct_ratio < 0.2
             |                 AND lang_guess = 'en' THEN 1 ELSE 0 END AS keep
             |FROM flags ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.corpusFilter(Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- leakage-safe split: hash the dup-cluster id, not the doc id -----
    Q("q48_leakage_safe_split",
      "train/val/test assignment hashed from the near-dup CLUSTER id so " +
        "duplicates never straddle a split (no train/test contamination)",
      Some("WITH RECURSIVE" + shCte.stripPrefix("WITH") + lshCte + """,
             | edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
             |           UNION ALL SELECT doc_b, doc_a FROM cand),
             | walk AS (
             |   SELECT a AS node, b AS reach FROM edges
             |   UNION
             |   SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
             | comp AS (
             |   SELECT node, least(node, min(reach)) AS component
             |   FROM walk GROUP BY node),
             | tagged AS (
             |   SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
             |   FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
             |SELECT doc_id, component,
             |       CASE WHEN md5(CAST(component AS VARCHAR)) < 'c' THEN 'train'
             |            WHEN md5(CAST(component AS VARCHAR)) < 'e' THEN 'val'
             |            ELSE 'test' END AS split
             |FROM tagged ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Dedup.leakageSafeSplit(
            Dedup.dupClusters(Tables(s, dir, "documents"), "doc_id", "text"),
            "doc_id", "component")
          .orderBy("doc_id")),

    // ----- multimodal frame sampling (explode shape over decoded frames) -----
    Q("q49_frame_sample",
      "k=4 evenly-spread frame indices per media payload with md5 lineage " +
        "keys (per-frame explode a video pipeline feeds feature extraction)",
      Some("""WITH meta AS (
             |  SELECT doc_id, CAST((strlen(text) % 24) + 1 AS INT) AS n_frames
             |  FROM documents),
             | s AS (
             |  SELECT doc_id, n_frames,
             |         unnest(range(0, least(4, n_frames))) AS sample_ord
             |  FROM meta)
             |SELECT doc_id, CAST(sample_ord AS INT) AS sample_ord,
             |       CAST((sample_ord * (n_frames - 1)) // 3 AS INT) AS frame_idx,
             |       md5(CAST(doc_id AS VARCHAR) || '|' ||
             |           CAST(CAST((sample_ord * (n_frames - 1)) // 3 AS INT) AS VARCHAR)) AS frame_key
             |FROM s ORDER BY doc_id, sample_ord""".stripMargin),
      (s, dir) =>
        Multimodal.sampleFrames(
            Multimodal.extractMeta(
              Multimodal.asBlobs(Tables(s, dir, "documents"), "doc_id", "text")),
            k = 4)
          .orderBy("doc_id", "sample_ord")),

    // ----- embedding near-dup pairs via banded hyperplane LSH -----
    Q("q59_lsh_neardup",
      "sign-bit hyperplane LSH (3 bands x 6 planes): same-band-signature " +
        "embedding pairs with exact cosine >= 0.4 (second scale path next " +
        "to q38's IVF bucketing)",
      Some(vCte + """,
             | planes AS (SELECT * FROM (VALUES
             |""".stripMargin + planeValuesSql(bands = 3, planesPerBand = 6) +
             """) AS t(band, j, p)),
             | vr AS (SELECT * FROM v WHERE vv IS NOT NULL AND len(vv) > 0),
             | sigs AS (
             |   SELECT vec_id, band,
             |          CAST(sum(CASE WHEN list_dot_product(vv, p) >= 0
             |                        THEN 1 << j ELSE 0 END) AS BIGINT) AS sig
             |   FROM vr, planes GROUP BY vec_id, band),
             | keep AS (
             |   SELECT band, sig FROM sigs GROUP BY band, sig HAVING count(*) <= 1000),
             | cand AS (
             |   SELECT DISTINCT a.vec_id AS vid_a, b.vec_id AS vid_b
             |   FROM (SELECT s.* FROM sigs s JOIN keep USING (band, sig)) a
             |   JOIN (SELECT s.* FROM sigs s JOIN keep USING (band, sig)) b
             |     ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
             |SELECT vid_a, vid_b, """.stripMargin +
             cosSql("a.vv", "b.vv") + """ AS cos_sim
             |FROM cand JOIN vr a ON a.vec_id = vid_a JOIN vr b ON b.vec_id = vid_b
             |WHERE """.stripMargin + cosSql("a.vv", "b.vv") + """ >= 0.4
             |ORDER BY vid_a, vid_b""".stripMargin),
      (s, dir) =>
        Similarity.lshNearDupPairs(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", minCosine = 0.4,
            bands = 3, planesPerBand = 6)
          .orderBy("vid_a", "vid_b")),

    // ----- eval-set decontamination: train/eval n-gram overlap -----
    Q("q60_decontaminate",
      "training docs sharing >= 2 shingles with any eval doc (doc_id%10=0 " +
        "eval split, hot-shingle capped) — pre-ship benchmark-leak check",
      Some(shCapped + """
             |SELECT t.doc AS train_doc, e.doc AS eval_doc,
             |       count(*) AS n_shared
             |FROM sh t JOIN sh e ON t.sh = e.sh
             |WHERE t.doc % 10 <> 0 AND e.doc % 10 = 0
             |GROUP BY 1, 2 HAVING count(*) >= 2
             |ORDER BY train_doc, eval_doc""".stripMargin),
      (s, dir) =>
        Dedup.decontaminate(Tables(s, dir, "documents"), "doc_id", "text",
            evalPred = col("doc_id") % 10 === 0, n = 3, minShared = 2)
          .orderBy("train_doc", "eval_doc")),

    // ----- within-document n-gram repetition (boilerplate signal) -----
    Q("q61_repetition",
      "per-doc 3-gram repetition ratio (1 - distinct/total), map-side only",
      Some(shCte + """,
             | nd AS (SELECT doc, count(*) AS n_distinct FROM sh0 GROUP BY doc)
             |SELECT doc_id,
             |       CAST(CASE WHEN t IS NULL THEN NULL
             |                 ELSE greatest(len(t) - 2, 0) END AS BIGINT) AS n_ngrams,
             |       CAST(CASE WHEN t IS NULL THEN NULL
             |                 ELSE coalesce(nd.n_distinct, 0) END AS BIGINT) AS n_distinct,
             |       round(1 - CAST(coalesce(nd.n_distinct, 0) AS DOUBLE) /
             |             nullif(greatest(len(t) - 2, 0), 0), 6) AS rep_ratio
             |FROM toks LEFT JOIN nd ON nd.doc = doc_id
             |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.repetition(Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- PII redaction + audit counts -----
    Q("q62_pii_redact",
      "email/phone redaction to typed placeholders with per-doc hit counts " +
        "(docs augmented with synthetic deterministic contact strings so " +
        "the patterns actually fire)",
      Some(s"""WITH aug AS (
             |  SELECT doc_id,
             |         text || ' Contact: user' || CAST(doc_id AS VARCHAR) ||
             |         '@example.com or +1 555 0100 x' || CAST(doc_id AS VARCHAR) AS t
             |  FROM documents)
             |SELECT doc_id,
             |       CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
             |       CAST(len(regexp_extract_all(regexp_replace(t, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'), '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
             |       regexp_replace(regexp_replace(t, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'), '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS redacted
             |FROM aug ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val aug = Tables(s, dir, "documents").select($"doc_id",
          concat($"text", lit(" Contact: user"), $"doc_id".cast("string"),
                 lit("@example.com or +1 555 0100 x"),
                 $"doc_id".cast("string")).as("t"))
        TextAnalysis.piiCounts(aug, "doc_id", "t").orderBy("doc_id")
      }),

    // ----- deterministic stratified downsampling -----
    Q("q63_stratified_sample",
      "md5-threshold stratified sample by lang (en 50%, de 25%, rest kept) " +
        "— reproducible across engines/partitionings, unlike RNG sampling",
      Some(s"""SELECT doc_id, lang FROM documents
             |WHERE CASE
             |  WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.analytics.Sampling.hexThreshold(0.5)}'
             |  WHEN lang = 'de' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.analytics.Sampling.hexThreshold(0.25)}'
             |  ELSE TRUE END
             |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.stratifiedSample(
            Tables(s, dir, "documents"), "doc_id", "lang",
            Map("en" -> 0.5, "de" -> 0.25))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")),

    // ----- token-budget shard packing (distributed prefix sum) -----
    Q("q64_token_shards",
      "pack documents (in id order) into ~10k-token training shards via a " +
        "two-level distributed prefix sum (per-partition totals + offsets)",
      Some("""WITH n AS (
             |  SELECT doc_id,
             |         CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
             |  FROM documents),
             | c AS (
             |  SELECT doc_id, n_tokens,
             |         sum(n_tokens) OVER (ORDER BY doc_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           - n_tokens AS prefix
             |  FROM n)
             |SELECT doc_id, n_tokens, CAST(prefix // 10000 AS BIGINT) AS shard
             |FROM c ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.tokenBudgetShards(
            Tables(s, dir, "documents"), "doc_id", "text",
            budgetTokens = 10000L)
          .orderBy("doc_id")),

    // ----- multimodal feature extraction (real per-payload computation) -----
    Q("q65_payload_features",
      "code-point count/sum/distinct + position-weighted checksum per " +
        "payload via the partition-wise decode path (exact arithmetic)",
      Some("""WITH cp AS (
             |  SELECT doc_id, i, ord(substr(text, i, 1)) AS c
             |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
             |        FROM documents)),
             | g AS (
             |  SELECT doc_id,
             |         CAST(count(*) AS BIGINT) AS n_cp,
             |         CAST(sum(c) AS BIGINT) AS sum_cp,
             |         CAST(count(DISTINCT c) AS BIGINT) AS n_distinct_cp,
             |         CAST(sum(i * c) % 1000000007 AS BIGINT) AS wsum
             |  FROM cp GROUP BY doc_id)
             |SELECT d.doc_id,
             |       coalesce(g.n_cp, 0) AS n_cp,
             |       coalesce(g.sum_cp, 0) AS sum_cp,
             |       coalesce(g.n_distinct_cp, 0) AS n_distinct_cp,
             |       coalesce(g.wsum, 0) AS wsum
             |FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.extractFeatures(
            Multimodal.asBlobs(Tables(s, dir, "documents"), "doc_id", "text"))
          .toDF()
          .orderBy("doc_id")),

    // ----- corpus n-gram document-frequency table -----
    Q("q66_shingle_df",
      "top-100 3-gram shingles by document frequency — the corpus " +
        "statistic the hot-shingle caps and contamination checks read",
      Some(shCte + """
             |SELECT sh, CAST(count(*) AS BIGINT) AS df
             |FROM sh0 GROUP BY sh
             |ORDER BY df DESC, sh LIMIT 100""".stripMargin),
      (s, dir) =>
        Dedup.shingles(Tables(s, dir, "documents"), "doc_id", "text", n = 3)
          .groupBy(col("sh")).agg(count(lit(1)).cast("long").as("df"))
          .orderBy(col("df").desc, col("sh"))
          .limit(100)),

    // ----- pairwise TF-IDF cosine similarity matrix (reference assets) -----
    Q("q67_tfidf_simmatrix",
      "sparse pairwise document TF-IDF cosine >= 0.9 (the reference's " +
        "similarity-matrix asset), inverted-index join with hot-term cap",
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS term
             |  FROM documents
             |), tf AS (SELECT doc_id AS doc, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             | w AS (SELECT doc, term, CAST(tf * 1000 // df AS BIGINT) AS w
             |       FROM tf JOIN dfreq USING (term)),
             | norms AS (SELECT doc, CAST(sum(w * w) AS BIGINT) AS nn FROM w GROUP BY doc),
             | cold AS (SELECT * FROM w WHERE term NOT IN (
             |   SELECT term FROM w GROUP BY term HAVING count(*) > 1000)),
             | dots AS (
             |   SELECT a.doc AS doc_a, b.doc AS doc_b,
             |          CAST(sum(a.w * b.w) AS BIGINT) AS dot
             |   FROM cold a JOIN cold b ON a.term = b.term AND a.doc < b.doc
             |   GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       round(CAST(dot AS DOUBLE) /
             |             nullif(sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)), 0), 6) AS cos_sim
             |FROM dots JOIN norms na ON na.doc = doc_a
             |          JOIN norms nb ON nb.doc = doc_b
             |WHERE round(CAST(dot AS DOUBLE) /
             |            nullif(sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)), 0), 6) >= 0.9
             |ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) =>
        TfIdf.pairwiseCosine(
            TfIdf.termWeights(Tables(s, dir, "documents"), "doc_id", "text",
                              scale = 1000),
            minCosine = 0.9)
          .orderBy("doc_a", "doc_b")),

    // ----- REAL image decode gate: ImageIO + nearest-neighbor resize -----
    Q("q68_image_resize",
      "real javax.imageio decode of synthetic per-doc BMPs + deterministic " +
        "nearest-neighbor resize to 8x8 + exact raster checksum; the oracle " +
        "recomputes the resized raster from the pixel formula, so a match " +
        "proves BMP layout, JDK decode, and resample agree pixel-for-pixel",
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |         CAST(doc_id % 4 + 2 AS INT) AS in_w,
             |         CAST(doc_id % 3 + 2 AS INT) AS in_h
             |  FROM documents),
             | px AS (
             |  SELECT doc_id, in_w, in_h, x, y,
             |         (x * in_w) // 8 AS sx, (y * in_h) // 8 AS sy
             |  FROM dims,
             |       (SELECT unnest(range(8)) AS x) xs,
             |       (SELECT unnest(range(8)) AS y) ys),
             | v AS (
             |  SELECT doc_id, in_w, in_h, y * 8 + x + 1 AS pos,
             |         ((doc_id * 7 + sx * 5 + sy * 3) % 256) * 65536 +
             |         ((doc_id * 11 + sx * 2 + sy) % 256) * 256 +
             |         ((doc_id + sx + sy * 9) % 256) AS rgb
             |  FROM px)
             |SELECT doc_id, in_w, in_h,
             |       CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
             |       CAST(54 + in_h * (((in_w * 3 + 3) // 4) * 4) AS BIGINT) AS n_bytes_in,
             |       CAST(sum(pos * rgb) AS BIGINT) AS checksum
             |FROM v GROUP BY doc_id, in_w, in_h
             |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.decodeResizeChecksum(
            Multimodal.syntheticImageBlobs(
              Tables(s, dir, "documents"), "doc_id"),
            outW = 8, outH = 8)
          .orderBy("doc_id")),

    // ----- REAL audio metadata: RIFF/WAVE header parse -----
    Q("q71_audio_meta",
      "real WAV (RIFF) header parse of synthetic per-doc PCM audio: " +
        "sample rate, channels, bit depth, sample count, exact duration — " +
        "the oracle recomputes all of it from the generative formula",
      Some("""SELECT doc_id,
             |       'audio/wav' AS media_type,
             |       CAST(44 + (100 + doc_id % 50) * (1 + doc_id % 2) * 2 AS BIGINT) AS n_bytes,
             |       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
             |       CAST(1 + doc_id % 2 AS INT) AS channels,
             |       CAST(16 AS INT) AS bits_per_sample,
             |       CAST(100 + doc_id % 50 AS BIGINT) AS n_samples,
             |       CAST((100 + doc_id % 50) * 1000 // (8000 + (doc_id % 4) * 4000) AS BIGINT) AS duration_ms
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.audioMeta(
            Multimodal.syntheticWavBlobs(Tables(s, dir, "documents"), "doc_id"))
          .orderBy("doc_id")),

    // ----- REAL video container metadata: MP4 moov/mvhd parse -----
    Q("q72_video_meta",
      "real ISO-BMFF box walk of synthetic per-doc MP4 skeletons: " +
        "timescale, duration units, exact integer duration from mvhd",
      Some("""SELECT doc_id,
             |       'video/mp4' AS media_type,
             |       CAST(228 + 4 * (doc_id % 4) AS BIGINT) AS n_bytes,
             |       CAST(1000 * (doc_id % 3 + 1) AS BIGINT) AS timescale,
             |       CAST(500 + doc_id % 100 AS BIGINT) AS duration_units,
             |       CAST((500 + doc_id % 100) * 1000 // (1000 * (doc_id % 3 + 1)) AS BIGINT) AS duration_ms
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.videoMeta(
            Multimodal.syntheticMp4Blobs(Tables(s, dir, "documents"), "doc_id"))
          .orderBy("doc_id")),

    // ----- video frame index: stts/stsz sample-table parse, no codec -----
    Q("q193_video_frame_index",
      "container-level frame inventory from the MP4 sample tables: " +
        "frame count + track duration from stts runs, per-frame byte " +
        "totals/max from stsz, fps implied against the mvhd timescale " +
        "— the packet-level metadata a video pipeline shards and " +
        "filters on with ZERO codec work; map-side per-row byte walk, " +
        "oracle recomputes every field from the generative formula",
      Some("""SELECT doc_id,
             |       CAST(5 + doc_id % 4 AS BIGINT) AS n_frames,
             |       CAST((5 + doc_id % 4) * (100 + doc_id % 7) AS BIGINT) AS duration_units_frames,
             |       (SELECT CAST(sum(200 + (doc_id + i.x) % 50) AS BIGINT)
             |        FROM unnest(range(5 + doc_id % 4)) AS i(x)) AS total_sample_bytes,
             |       (SELECT CAST(max(200 + (doc_id + i.x) % 50) AS BIGINT)
             |        FROM unnest(range(5 + doc_id % 4)) AS i(x)) AS max_sample_bytes,
             |       round(CAST((5 + doc_id % 4) AS DOUBLE) * (1000 * (doc_id % 3 + 1))
             |             / ((5 + doc_id % 4) * (100 + doc_id % 7)), 6) AS fps
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.videoFrameIndex(
            Multimodal.syntheticMp4Blobs(Tables(s, dir, "documents"), "doc_id"))
          .orderBy("doc_id")),

    // ----- Unicode NFC normalization (native codegen kernel) -----
    Q("q73_nfc_normalize",
      "NFC text normalization via the native codegen kernel (the C4/CCNet " +
        "pre-tokenization step; a decomposed e+combining-acute prefix is " +
        "injected so the normalization is actually exercised)",
      Some("""SELECT doc_id,
             |       nfc_normalize('Cafe' || chr(769) || ' | ' || text) AS norm_text,
             |       CAST(length('Cafe' || chr(769) || ' | ' || text) AS BIGINT) AS n_before,
             |       CAST(length(nfc_normalize('Cafe' || chr(769) || ' | ' || text)) AS BIGINT) AS n_after
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        import graft.functions.NfcNormalize.nfc
        val raw = concat(lit("Cafe\u0301 | "), $"text")
        Tables(s, dir, "documents").select(
          $"doc_id",
          nfc(raw).as("norm_text"),
          length(raw).cast("long").as("n_before"),
          length(nfc(raw)).cast("long").as("n_after"))
          .orderBy("doc_id")
      }),

    // ----- int8 embedding quantization (map-side, exact integer norms) -----
    Q("q74_embedding_quantize",
      "symmetric per-vector int8 quantization (scale = max|v|/127, " +
        "floor(x+0.5) rounding — identical IEEE ops in any engine): " +
        "scale + exact integer L1/L2² of the quantized vector",
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
             |  FROM embeddings),
             | s AS (
             |  SELECT vec_id, vv,
             |         list_max(list_transform(vv, x -> abs(x))) / 127 AS scale
             |  FROM v),
             | q AS (
             |  SELECT vec_id, scale,
             |         list_transform(vv, x ->
             |           CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS BIGINT)) AS qq
             |  FROM s WHERE scale IS NOT NULL AND scale > 0)
             |SELECT vec_id,
             |       round(scale, 6) AS qscale,
             |       CAST(list_aggregate(list_transform(qq, x -> abs(x)), 'sum') AS BIGINT) AS q_l1,
             |       CAST(list_aggregate(list_transform(qq, x -> x * x), 'sum') AS BIGINT) AS q_l2sq
             |FROM q
             |UNION ALL
             |SELECT vec_id, 0.0 AS qscale, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |FROM s WHERE scale IS NULL OR scale <= 0
             |ORDER BY vec_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Quantize.int8Summary(
            Tables(s, dir, "embeddings"), "vec_id", "embedding")
          .orderBy("vec_id")),

    // ----- corpus vocabulary (top-N words by frequency) -----
    Q("q75_vocabulary",
      "top-16 corpus vocabulary by word frequency (ties lexicographic) " +
        "with dense rank — the tokenizer-vocabulary construction step",
      Some(wCte + """
             |SELECT word, c, CAST(row_number() OVER (ORDER BY c DESC, word) AS INT) AS vocab_rank
             |FROM wf ORDER BY vocab_rank LIMIT 16""".stripMargin),
      (s, dir) =>
        TextAnalysis.vocabulary(Tables(s, dir, "documents"),
            "doc_id", "text", topN = 16)
          .orderBy("vocab_rank")),

    // ----- per-document OOV rate against the top-N vocabulary -----
    Q("q76_oov_rate",
      "per-doc out-of-vocabulary token rate against the top-16 corpus " +
        "vocabulary — the tokenizer-coverage quality gate",
      Some(wCte + """,
             |vocab AS (SELECT word FROM wf ORDER BY c DESC, word LIMIT 16),
             |sc AS (SELECT dw.doc_id, sum(dw.n) AS nt,
             |              sum(CASE WHEN v.word IS NOT NULL THEN dw.n ELSE 0 END) AS iv
             |       FROM dw LEFT JOIN vocab v USING (word) GROUP BY dw.doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(sc.nt, 0) AS BIGINT) AS n_tokens,
             |       CAST(coalesce(sc.nt, 0) - coalesce(sc.iv, 0) AS BIGINT) AS n_oov,
             |       CAST(coalesce(sc.nt, 0) - coalesce(sc.iv, 0) AS DOUBLE) / nullif(coalesce(sc.nt, 0), 0) AS oov_rate
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.oovRate(Tables(s, dir, "documents"),
            "doc_id", "text", topN = 16)
          .orderBy("doc_id")),

    // ----- unigram-LM surprisal (CCNet-style perplexity proxy) -----
    Q("q77_unigram_surprisal",
      "per-doc mean unigram surprisal -ln c(w)/T over the corpus MLE LM " +
        "— the CCNet/C4 perplexity-proxy quality score",
      Some(wCte + """,
             |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM wf),
             |sc AS (SELECT dw.doc_id, sum(dw.n) AS nt,
             |              sum(CAST(dw.n AS DOUBLE) * -ln(CAST(wf.c AS DOUBLE) / tot.t)) AS s
             |       FROM dw JOIN wf USING (word) CROSS JOIN tot GROUP BY dw.doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(sc.nt, 0) AS BIGINT) AS n_tokens,
             |       CASE WHEN sc.nt > 0 THEN round(sc.s / sc.nt, 6) END AS avg_surprisal
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.unigramSurprisal(Tables(s, dir, "documents"),
            "doc_id", "text")
          .orderBy("doc_id")),

    // ----- product quantization: encode -----
    Q("q78_pq_encode",
      "PQ-encode the embedding corpus (8 subspaces x 16 deterministic " +
        "md5-sampled codebook entries): per-vector code string + squared " +
        "quantization error — one map-side projection, zero shuffles",
      Some(pqCte + """
             |SELECT vec_id,
             |       string_agg(CAST(j AS VARCHAR), ',' ORDER BY s) AS codes,
             |       round(sum(d2), 6) AS qerr
             |FROM sel GROUP BY vec_id ORDER BY vec_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Pq.encode(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", m = 8, k = 16)
          .orderBy("vec_id")),

    // ----- product quantization: ADC approximate top-k -----
    Q("q79_pq_adc_topk",
      "asymmetric-distance (ADC) top-5: exact query vectors against the " +
        "PQ-coded corpus — the serving probe that never materializes a " +
        "corpus vector",
      Some(pqCte + """,
             |q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id % 100 = 0),
             |adc AS (
             |  SELECT q.qid, e.vec_id AS neighbor_id,
             |         round(sum(pow(list_distance(q.qv[e.s*8+1 : e.s*8+8], cb.cv[e.s*8+1 : e.s*8+8]), 2)), 6) AS adist
             |  FROM q, sel e JOIN cb ON cb.j = e.j
             |  WHERE e.vec_id <> q.qid
             |  GROUP BY q.qid, e.vec_id)
             |SELECT qid, rn, neighbor_id, adist FROM (
             |  SELECT qid, neighbor_id, adist,
             |         CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, neighbor_id) AS INT) AS rn
             |  FROM adc) WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),
      (s, dir) =>
        graft.analytics.Pq.adcTopK(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", col("vec_id") % 100 === 0, kNN = 5,
            m = 8, k = 16)
          .orderBy("qid", "rn")),

    // ----- deterministic k-means corpus clustering -----
    Q("q80_kmeans_cluster",
      "2-iteration Lloyd k-means (k=8, md5-sampled init, round-6 " +
        "fixed-point model exchange) — the SemDeDup-style corpus " +
        "organization step; assignment is the m=1 PQ argmin kernel",
      Some(kmCte + """
             |SELECT vec_id, CAST(c AS INT) AS cluster, round(d2, 6) AS dist2
             |FROM a2 ORDER BY vec_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Cluster.kmeansAssign(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", k = 8, iters = 2)
          .orderBy("vec_id")),

    // ----- SemDeDup: cluster-scoped semantic near-dup pruning -----
    Q("q81_semdedup",
      "SemDeDup composition: k-means clusters, then within-cluster " +
        "cosine >= 0.45 near-dups dropped by the keep-lowest-id rule " +
        "(cluster-keyed self-join, capped clusters)",
      Some(kmCte + """,
             |big AS (SELECT c FROM a2 GROUP BY c HAVING count(*) > 1000),
             |sm AS (SELECT a2.* FROM a2 LEFT JOIN big USING (c) WHERE big.c IS NULL),
             |dup AS (
             |  SELECT DISTINCT b.vec_id
             |  FROM sm a JOIN sm b ON a.c = b.c AND a.vec_id < b.vec_id
             |  WHERE round(list_dot_product(a.vv, b.vv) / (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(b.vv, b.vv))), 6) >= 0.45)
             |SELECT a2.vec_id, CAST(a2.c AS INT) AS cluster,
             |       CAST(dup.vec_id IS NULL AS BOOLEAN) AS keep
             |FROM a2 LEFT JOIN dup ON dup.vec_id = a2.vec_id
             |ORDER BY a2.vec_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Cluster.semDedup(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", minCosine = 0.45, k = 8, iters = 2)
          .orderBy("vec_id")),

    // ----- Gopher-style quality rule flags -----
    Q("q82_gopher_rules",
      "Gopher data-filter rule flags: word-count bounds, mean-word-length " +
        "band, alphabetic-word fraction, symbol ratio, stopword floor, " +
        "and the conjunction (all map-side)",
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |         CAST(len(t) AS BIGINT) AS n_tokens,
             |         CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS DOUBLE) / nullif(len(t), 0) AS mean_word_len,
             |         CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / nullif(len(t), 0) AS alpha_frac,
             |         CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE) / nullif(len(t), 0) AS symbol_ratio,
             |         CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS stop_hits
             |  FROM d)
             |SELECT doc_id, n_tokens, mean_word_len, alpha_frac, symbol_ratio, stop_hits,
             |       coalesce(n_tokens BETWEEN 50 AND 100000
             |                AND mean_word_len BETWEEN 3.0 AND 10.0
             |                AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1
             |                AND stop_hits >= 2, false) AS pass
             |FROM m ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.gopherRules(Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- temperature-weighted mixture sampling -----
    Q("q83_temperature_sample",
      "alpha-temperature mixture downsampling over lang (alpha=0.7): " +
        "keep-rate (n_g/n_min)^(alpha-1) per group, md5-threshold keep " +
        "(data-driven rates, broadcast join, corpus never shuffles)",
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |mn AS (SELECT min(n) AS nmin FROM c),
             |r AS (SELECT lang, round(pow(CAST(n AS DOUBLE) / nmin, 0.7 - 1.0), 6) AS rate FROM c, mn)
             |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
             |FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
             |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |      < round(r.rate * 4294967296.0)
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.temperatureSample(
            Tables(s, dir, "documents"), "doc_id", "lang", alpha = 0.7)
          .orderBy("doc_id")),

    // ----- per-doc duplicated-shingle coverage -----
    Q("q84_dup_coverage",
      "per-doc duplicated-shingle coverage: distinct 3-gram shingles, " +
        "those shared with another doc, and the fraction (shingle-df " +
        "aggregate joined back, doc-keyed partial agg)",
      Some(shCte + """,
             |df AS (SELECT sh, count(*) AS df FROM sh0 GROUP BY sh),
             |cov AS (
             |  SELECT doc, count(*) AS ns,
             |         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS nd
             |  FROM sh0 JOIN df USING (sh) GROUP BY doc)
             |SELECT d.doc_id,
             |       CAST(coalesce(cov.ns, 0) AS BIGINT) AS n_shingles,
             |       CAST(coalesce(cov.nd, 0) AS BIGINT) AS n_dup,
             |       CAST(cov.nd AS DOUBLE) / nullif(cov.ns, 0) AS dup_frac
             |FROM documents d LEFT JOIN cov ON cov.doc = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        Dedup.dupShingleCoverage(Tables(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id")),

    // ----- bigram-LM surprisal -----
    Q("q85_bigram_surprisal",
      "per-doc mean bigram surprisal -ln c(w1,w2)/c(w1,*) over the corpus " +
        "MLE bigram model — the KenLM-shaped perplexity filter, one model " +
        "order above q77",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |db AS (
             |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, count(*) AS n
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
             |  GROUP BY doc_id, w1, w2),
             |bf AS (SELECT w1, w2, sum(n) AS c FROM db GROUP BY w1, w2),
             |pf AS (SELECT w1, sum(c) AS p FROM bf GROUP BY w1),
             |sc AS (
             |  SELECT db.doc_id, sum(db.n) AS nb,
             |         sum(CAST(db.n AS DOUBLE) * -ln(CAST(bf.c AS DOUBLE) / pf.p)) AS s
             |  FROM db JOIN bf USING (w1, w2) JOIN pf USING (w1)
             |  GROUP BY db.doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
             |       CASE WHEN sc.nb > 0 THEN round(sc.s / sc.nb, 6) END AS avg_surprisal
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.bigramSurprisal(Tables(s, dir, "documents"),
            "doc_id", "text")
          .orderBy("doc_id")),

    // ----- perceptual image hash (aHash) -----
    Q("q86_image_phash",
      "64-bit average perceptual hash of the synthetic per-doc BMPs: real " +
        "ImageIO decode, 8x8 nearest-neighbor, integer gray mean bits — " +
        "the oracle recomputes every bit from the pixel formula",
      Some(phashCte + """
             |SELECT doc_id, hi AS hash_hi, lo AS hash_lo
             |FROM h ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.perceptualHash(
            Multimodal.syntheticImageBlobs(
              Tables(s, dir, "documents"), "doc_id"))
          .orderBy("doc_id")),

    // ----- perceptual near-dup image pairs -----
    Q("q87_image_neardup",
      "perceptual near-dup image pairs: identical aHashes collapse to a " +
        "min-id canonical, distinct hashes band 4x16-bit for candidates " +
        "(capped buckets), exact hamming <= 4 filters — image dedup as a " +
        "first-class op",
      Some(phashCte + """,
             |ch AS (SELECT hi, lo, min(doc_id) AS canon FROM h GROUP BY hi, lo),
             |bands AS (
             |  SELECT canon, hi, lo,
             |         unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bv,
             |         unnest([0, 1, 2, 3]) AS bi
             |  FROM ch),
             |keep AS (SELECT bi, bv FROM bands GROUP BY bi, bv HAVING count(*) <= 1000),
             |kb AS (SELECT b.* FROM bands b JOIN keep USING (bi, bv)),
             |cand AS (
             |  SELECT DISTINCT a.canon AS doc_a, a.hi AS hi_a, a.lo AS lo_a,
             |                  b.canon AS doc_b, b.hi AS hi_b, b.lo AS lo_b
             |  FROM kb a JOIN kb b ON a.bi = b.bi AND a.bv = b.bv AND a.canon < b.canon)
             |SELECT doc_a, doc_b,
             |       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 4
             |ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) =>
        Multimodal.phashNearDupPairs(
            Multimodal.perceptualHash(
              Multimodal.syntheticImageBlobs(
                Tables(s, dir, "documents"), "doc_id")),
            maxHamming = 4)
          .orderBy("doc_a", "doc_b")),

    // ----- perplexity-percentile gate (CCNet head/middle selection) -----
    Q("q88_surprisal_gate",
      "keep docs at or below the corpus p75 of mean unigram surprisal — " +
        "the CCNet-style data-driven perplexity gate; threshold is a " +
        "1-row exact percentile broadcast over the scored corpus",
      Some(wCte + """,
             |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM wf),
             |sc AS (SELECT dw.doc_id, sum(dw.n) AS nt,
             |              sum(CAST(dw.n AS DOUBLE) * -ln(CAST(wf.c AS DOUBLE) / tot.t)) AS s
             |       FROM dw JOIN wf USING (word) CROSS JOIN tot GROUP BY dw.doc_id),
             |sv AS (SELECT d.doc_id,
             |              CASE WHEN sc.nt > 0 THEN round(sc.s / sc.nt, 6) END AS avg_surprisal
             |       FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
             |thr AS (SELECT round(quantile_cont(avg_surprisal, 0.75), 6) AS thr
             |        FROM sv WHERE avg_surprisal IS NOT NULL)
             |SELECT sv.doc_id, sv.avg_surprisal,
             |       coalesce(sv.avg_surprisal <= thr.thr, false) AS keep
             |FROM sv, thr ORDER BY sv.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.surprisalGate(Tables(s, dir, "documents"),
            "doc_id", "text", p = 0.75)
          .orderBy("doc_id")),

    // ----- quality-canonical dup clusters -----
    Q("q89_quality_canonical",
      "near-dup clusters keep their BEST member (max n_chars, ties to min " +
        "id) instead of the min id — canonical selection by quality, " +
        "partial-aggregable max(struct) per component",
      Some("WITH RECURSIVE" + shCte.stripPrefix("WITH") + lshCte + """,
             | edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
             |           UNION ALL SELECT doc_b, doc_a FROM cand),
             | walk AS (
             |   SELECT a AS node, b AS reach FROM edges
             |   UNION
             |   SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
             | comp AS (
             |   SELECT node, least(node, min(reach)) AS component
             |   FROM walk GROUP BY node),
             | scored AS (
             |   SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
             |          CAST(coalesce(d.n_chars, 0) AS BIGINT) AS quality
             |   FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
             | canon AS (
             |   SELECT component, doc_id AS canon_id FROM (
             |     SELECT component, doc_id,
             |            row_number() OVER (PARTITION BY component
             |              ORDER BY quality DESC, doc_id) AS rn
             |     FROM scored) WHERE rn = 1)
             |SELECT s.doc_id, s.component, s.quality, c.canon_id,
             |       s.doc_id = c.canon_id AS keep
             |FROM scored s JOIN canon c USING (component)
             |ORDER BY s.doc_id""".stripMargin),
      (s, dir) =>
        Dedup.qualityCanonical(Tables(s, dir, "documents"),
            "doc_id", "n_chars", "text")
          .orderBy("doc_id")),

    // ----- MinHash Jaccard estimate (sketch-only scoring) -----
    Q("q90_minhash_estimate",
      "Jaccard ESTIMATED from MinHash signature agreement over the LSH " +
        "candidates (est = agreeing positions / 8) — pair scoring without " +
        "ever re-reading text; est >= 0.25 kept",
      Some(shCte + lshCte + """,
             |est AS (
             |  SELECT c.doc_a, c.doc_b,
             |         CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est
             |  FROM cand c
             |  JOIN sigs sa ON sa.doc = c.doc_a
             |  JOIN sigs sb ON sb.doc = c.doc_b AND sb.k = sa.k
             |  GROUP BY c.doc_a, c.doc_b)
             |SELECT doc_a, doc_b, est FROM est
             |WHERE est >= 0.25 ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) =>
        Dedup.minhashJaccardEstimate(Tables(s, dir, "documents"),
            "doc_id", "text", minEstimate = 0.25)
          .orderBy("doc_a", "doc_b")),

    // ----- fixed-length training-sequence packing -----
    Q("q91_pack_sequences",
      "cut the id-ordered corpus into exact 128-token training sequences: " +
        "one row per (doc, sequence-it-touches) span, from the same " +
        "two-level distributed prefix sum as q64",
      Some("""WITH n AS (
             |  SELECT doc_id,
             |         CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
             |  FROM documents),
             | c AS (
             |  SELECT doc_id, n_tokens,
             |         sum(n_tokens) OVER (ORDER BY doc_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           - n_tokens AS prefix
             |  FROM n),
             | spans AS (
             |  SELECT doc_id, n_tokens, prefix,
             |         unnest(range(CAST(prefix // 128 AS BIGINT),
             |                      CAST((prefix + n_tokens - 1) // 128 + 1 AS BIGINT))) AS seq_id
             |  FROM c WHERE n_tokens > 0)
             |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
             |       CAST(greatest(0, seq_id * 128 - prefix) AS BIGINT) AS tok_start,
             |       CAST(least((seq_id + 1) * 128 - prefix, n_tokens)
             |            - greatest(0, seq_id * 128 - prefix) AS BIGINT) AS n_toks
             |FROM spans ORDER BY doc_id, seq_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.packSequences(
            Tables(s, dir, "documents"), "doc_id", "text", seqLen = 128L)
          .orderBy("doc_id", "seq_id")),

    // ----- exactly-k-per-stratum sample (eval-set construction) -----
    Q("q92_exact_k_sample",
      "exactly 20 docs per lang, ranked by md5(id) — the deterministic " +
        "holdout-set construction where a probabilistic rate won't do",
      Some("""SELECT doc_id, text, lang, source, n_chars FROM (
             |  SELECT *, row_number() OVER (PARTITION BY lang
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 20 ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.exactKPerStratum(
            Tables(s, dir, "documents"), "doc_id", "lang", k = 20)
          .orderBy("doc_id")),

    // ----- exact substring-duplication pairs -----
    Q("q93_substring_dups",
      "doc pairs sharing runs of 5 consecutive tokens (exact-substring " +
        "dedup signal: verbatim overlap even at low whole-doc Jaccard) — " +
        "inverted-index self-join on 5-gram spans, hot-span cap",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |sh0 AS (
             |  SELECT DISTINCT doc_id AS doc, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS sh
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM toks WHERE len(t) >= 5)),
             |cap AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000),
             |cold AS (SELECT s.* FROM sh0 s LEFT JOIN cap USING (sh) WHERE cap.sh IS NULL)
             |SELECT a.doc AS doc_a, b.doc AS doc_b,
             |       CAST(count(*) AS BIGINT) AS n_shared_spans
             |FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc < b.doc
             |GROUP BY doc_a, doc_b HAVING count(*) >= 1
             |ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) =>
        Dedup.substringDupPairs(Tables(s, dir, "documents"),
            "doc_id", "text", spanLen = 5, minShared = 1)
          .orderBy("doc_a", "doc_b")),

    // ----- Unicode script ratios (lang-id pre-filter) -----
    Q("q94_script_ratios",
      "per-doc Unicode script character ratios (latin/cyrillic/CJK via " +
        "portable code-point ranges) + dominant script — the lang-id " +
        "pre-filter that works where stopword scoring is blind",
      Some("""SELECT doc_id,
             |       CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
             |         / nullif(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')), 0) AS latin_ratio,
             |       CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS DOUBLE)
             |         / nullif(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')), 0) AS cyrillic_ratio,
             |       CAST(len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS DOUBLE)
             |         / nullif(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')), 0) AS cjk_ratio,
             |       CASE WHEN nullif(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')), 0) IS NULL
             |              OR greatest(len(regexp_extract_all(text, '[A-Za-z]')),
             |                          len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')),
             |                          len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]'))) = 0
             |            THEN 'und'
             |            WHEN len(regexp_extract_all(text, '[A-Za-z]')) =
             |                 greatest(len(regexp_extract_all(text, '[A-Za-z]')),
             |                          len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')),
             |                          len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')))
             |            THEN 'latin'
             |            WHEN len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) =
             |                 greatest(len(regexp_extract_all(text, '[A-Za-z]')),
             |                          len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')),
             |                          len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')))
             |            THEN 'cyrillic' ELSE 'cjk' END AS script
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.scriptRatios(Tables(s, dir, "documents"),
            "doc_id", "text")
          .orderBy("doc_id")),

    // ----- IVF top-k over the TRAINED k-means index -----
    Q("q95_kmeans_ivf_topk",
      "top-5 nearest neighbors through the trained k-means IVF index " +
        "(nprobe=2 learned centroids select the inverted lists; exact " +
        "distances rank candidates) — the production ANN structure, vs " +
        "q25's hash-derived centroids",
      Some(kmCte + """,
             |probe AS (
             |  SELECT vec_id AS qid, vv AS qv, c AS pc FROM (
             |    SELECT v.vec_id, v.vv, i.c,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY round(pow(list_distance(v.vv, i.cv), 2), 6), i.c) AS rn
             |    FROM v, cent2 i) WHERE rn <= 2),
             |cand AS (
             |  SELECT p.qid, a.vec_id AS nid,
             |         round(pow(list_distance(p.qv, a.vv), 2), 6) AS nd
             |  FROM probe p JOIN a2 a ON a.c = p.pc AND a.vec_id <> p.qid)
             |SELECT qid AS query_id, nid AS neighbor_id, nd AS dist2 FROM (
             |  SELECT qid, nid, nd,
             |         row_number() OVER (PARTITION BY qid ORDER BY nd, nid) AS rn
             |  FROM cand) WHERE rn <= 5
             |ORDER BY query_id, dist2, neighbor_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Cluster.kmeansIvfTopK(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", k = 8, iters = 2, kTop = 5, nprobe = 2)
          .orderBy("query_id", "dist2", "neighbor_id")),

    // ----- Jaccard distribution histogram (threshold tuning) -----
    Q("q96_jaccard_histogram",
      "candidate-pair count per 0.1-wide Jaccard bucket — the similarity " +
        "distribution a pipeline reads to pick its dedup threshold " +
        "(pairs from the q18 machinery at minJaccard=0)",
      Some(shCapped + """,
             | counts AS (SELECT doc, count(*) AS n FROM sh0 GROUP BY doc),
             | inter AS (
             |   SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter_n
             |   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
             |   GROUP BY 1, 2),
             | j AS (
             |   SELECT least(CAST(floor(CAST(inter_n AS DOUBLE)
             |            / (ca.n + cb.n - inter_n) * 10) AS INT), 9) AS bucket
             |   FROM inter
             |   JOIN counts ca ON ca.doc = doc_a
             |   JOIN counts cb ON cb.doc = doc_b)
             |SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
             |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin),
      (s, dir) =>
        Dedup.ngramJaccardPairsFromDocs(Tables(s, dir, "documents"),
            "doc_id", "text", minJaccard = 0.0, n = 3, maxDocFreq = 1000)
          .select(least(floor(col("jaccard") * 10).cast("int"), lit(9))
            .cast("long").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).cast("long").as("n_pairs"))
          .orderBy("bucket")),

    // ----- perplexity gate under an EXTERNAL language model -----
    Q("q97_external_surprisal",
      "CCNet perplexity gate scored under a caller-supplied (word, logp) " +
        "model table instead of the corpus MLE — in-model words score " +
        "-logp, OOV words the model's floor mass; threshold at the " +
        "corpus p75 of the external score",
      Some(wCte + """,
             |model(word, logp) AS (VALUES
             |  ('the', -2.0), ('a', -2.5), ('of', -3.0), ('and', -3.2),
             |  ('to', -3.4), ('in', -3.6), ('is', -3.8)),
             |sc AS (SELECT dw.doc_id, sum(dw.n) AS nt,
             |              sum(CAST(dw.n AS DOUBLE) * -coalesce(m.logp, -8.0)) AS s
             |       FROM dw LEFT JOIN model m USING (word) GROUP BY dw.doc_id),
             |sv AS (SELECT d.doc_id,
             |              CASE WHEN sc.nt > 0 THEN round(sc.s / sc.nt, 6) END AS avg_surprisal
             |       FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
             |thr AS (SELECT round(quantile_cont(avg_surprisal, 0.75), 6) AS thr
             |        FROM sv WHERE avg_surprisal IS NOT NULL)
             |SELECT sv.doc_id, sv.avg_surprisal,
             |       coalesce(sv.avg_surprisal <= thr.thr, false) AS keep
             |FROM sv, thr ORDER BY sv.doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        // the fixed external model: ln-probabilities for the 7 function
        // words the stopword scorer pins, -8.0 as the OOV floor
        val model = Seq(("the", -2.0), ("a", -2.5), ("of", -3.0),
          ("and", -3.2), ("to", -3.4), ("in", -3.6), ("is", -3.8))
          .toDF("word", "logp")
        TextAnalysis.externalSurprisalGate(Tables(s, dir, "documents"),
            "doc_id", "text", model, oovLogp = -8.0, p = 0.75)
          .orderBy("doc_id")
      }),

    // ----- line-level boilerplate removal (C4/RefinedWeb) -----
    Q("q99_line_dedup",
      "C4/RefinedWeb line-level boilerplate removal: reflow each doc " +
        "into 5-word lines, remove every line occurring in >= 3 distinct " +
        "documents, rebuild the text — the corpus-level cleanup between " +
        "exact and near dedup",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |rl AS (
             |  SELECT doc_id, i, array_to_string(t[i*5+1 : i*5+5], ' ') AS line
             |  FROM (SELECT doc_id, t, unnest(range(greatest(1, CAST(ceil(len(t)/5.0) AS BIGINT)))) AS i FROM toks)),
             |boiler AS (
             |  SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df
             |                    FROM rl WHERE line <> '' GROUP BY line)
             |  WHERE df >= 3),
             |kept AS (
             |  SELECT rl.doc_id, rl.i, rl.line
             |  FROM rl LEFT JOIN boiler b USING (line) WHERE b.line IS NULL),
             |nl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
             |       FROM rl GROUP BY doc_id),
             |ka AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text,
             |              CAST(count(*) AS BIGINT) AS n_kept
             |       FROM kept GROUP BY doc_id)
             |SELECT d.doc_id,
             |       coalesce(ka.text, '') AS text,
             |       coalesce(nl.n_lines, 0) AS n_lines,
             |       coalesce(nl.n_lines, 0) - coalesce(ka.n_kept, 0) AS n_removed
             |FROM documents d
             |LEFT JOIN nl USING (doc_id)
             |LEFT JOIN ka USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        // reflow into 5-word lines: the corpus text is single-line, so
        // the gate constructs the newline structure the operator keys on
        val reflowed = Tables(s, dir, "documents").select(col("doc_id"),
          Dedup.reflowLines(col("text"), 5).as("text"))
        Dedup.removeBoilerplateLines(reflowed, "doc_id", "text",
            minDocFreq = 3)
          .orderBy("doc_id")
      }),

    // ----- sample-level PCM audio decode (real codec-level decode) -----
    Q("q100_audio_features",
      "16-bit PCM sample decode over the synthetic WAV corpus: amplitude " +
        "sum / sum of squares (RMS numerator) / peak / channel-0 " +
        "zero-crossings, one map-side pass per payload",
      Some("""WITH p AS (
             |  SELECT doc_id,
             |         CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
             |         CAST(1 + doc_id % 2 AS INT) AS channels,
             |         100 + doc_id % 50 AS n_frames
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, channels, k,
             |         ((doc_id + 2*k) % 256) + 256 * ((doc_id + 2*k + 1) % 256) AS v
             |  FROM (SELECT doc_id, channels,
             |               unnest(range(n_frames * channels)) AS k
             |        FROM p)),
             |sv AS (SELECT doc_id, channels, k,
             |              CAST(v - CASE WHEN v >= 32768 THEN 65536 ELSE 0 END AS BIGINT) AS smp
             |       FROM s),
             |agg AS (SELECT doc_id,
             |               CAST(sum(smp) AS BIGINT) AS sum_amp,
             |               CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
             |               CAST(max(abs(smp)) AS BIGINT) AS peak_abs
             |        FROM sv GROUP BY doc_id),
             |c0 AS (SELECT doc_id, smp,
             |              lag(smp) OVER (PARTITION BY doc_id ORDER BY k) AS prv
             |       FROM sv WHERE k % channels = 0),
             |zc AS (SELECT doc_id,
             |              CAST(count(*) FILTER (WHERE prv * smp < 0) AS BIGINT) AS zero_cross
             |       FROM c0 GROUP BY doc_id)
             |SELECT p.doc_id, p.sample_rate, p.channels,
             |       CAST(p.n_frames AS BIGINT) AS n_frames,
             |       agg.sum_amp, agg.sum_sq, agg.peak_abs, zc.zero_cross
             |FROM p JOIN agg USING (doc_id) JOIN zc USING (doc_id)
             |ORDER BY p.doc_id""".stripMargin),
      (s, dir) =>
        Multimodal.audioFeatures(
            Multimodal.syntheticWavBlobs(Tables(s, dir, "documents"),
              "doc_id"))
          .orderBy("doc_id")),

    // ----- kNN majority-vote classification -----
    Q("q101_knn_classify",
      "kNN label prediction: exact cosine top-5 neighbors per query vector " +
        "(vec_id % 100 = 0), majority vote over neighbor labels, " +
        "deterministic (votes desc, label asc) tie-break",
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv, label
             |  FROM embeddings
             |), q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id % 100 = 0),
             | scored AS (
             |   SELECT qid, vec_id AS neighbor_id, label, """.stripMargin +
             cosSql("qv", "vv") + """ AS cos_sim
             |   FROM q, v WHERE qid <> vec_id),
             | topk AS (
             |   SELECT qid, label FROM (
             |     SELECT qid, label,
             |            row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
             |     FROM scored) WHERE rn <= 5),
             | votes AS (SELECT qid, label, count(*) AS votes FROM topk GROUP BY qid, label)
             |SELECT qid, pred_label, votes FROM (
             |  SELECT qid, label AS pred_label, votes,
             |         row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
             |  FROM votes) WHERE vr = 1 ORDER BY qid""".stripMargin),
      (s, dir) =>
        Similarity.knnClassify(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", "label", col("vec_id") % 100 === 0, k = 5)
          .orderBy("qid")),

    // ----- embedding covariance matrix -----
    Q("q102_embedding_covariance",
      "population covariance matrix of the embedding column, upper " +
        "triangle (i <= j): one narrow moments pass, partial-aggregated " +
        "to d(d+1)/2 + d groups — the whitening / drift-check statistic",
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
             |  FROM embeddings
             |), x AS (
             |  SELECT vec_id, CAST(generate_subscripts(vv, 1) - 1 AS INT) AS i,
             |         unnest(vv) AS xi
             |  FROM v)
             |SELECT a.i AS i, b.i AS j,
             |       round(sum(a.xi * b.xi) / count(*)
             |             - (sum(a.xi) / count(*)) * (sum(b.xi) / count(*)), 6) + 0.0 AS cov
             |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
             |GROUP BY a.i, b.i ORDER BY i, j""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.covarianceMatrix(
            Tables(s, dir, "embeddings"), "vec_id", "embedding")
          .orderBy("i", "j")),

    // ----- BPE tokenizer training + token counting -----
    Q("q103_bpe_train",
      s"BPE tokenizer training, $bpeMerges merges: one corpus scan to the " +
        "word-frequency table, then one vocab-sized pair-count shuffle + " +
        "1-row model collect per merge; ties (count desc, pair asc)",
      Some(bpeChainSql(bpeMerges) + ",\n merges AS (" +
        (0 until bpeMerges).map(r =>
          s"SELECT $r AS rank, a AS left_sym, b AS right_sym, CAST(c AS BIGINT) AS pair_count FROM b$r")
          .mkString(" UNION ALL ") +
        ")\nSELECT rank, left_sym, right_sym, pair_count FROM merges ORDER BY rank"),
      (s, dir) =>
        graft.analytics.Bpe.train(Tables(s, dir, "documents"), "text",
          bpeMerges)._1.orderBy("rank")),

    Q("q104_bpe_tokens",
      "per-document token counts under the trained BPE vocab: corpus " +
        "words join the final segmentation table by key — the text is " +
        "never re-segmented per document",
      Some(bpeChainSql(bpeMerges) + s""",
             | wt AS (SELECT w, len(list_filter(string_split(s, ' '), x -> x <> '')) AS nt
             |        FROM v$bpeMerges),
             | dw AS (SELECT doc_id, unnest(t) AS w FROM toks)
             |SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_words,
             |       CAST(sum(nt) AS BIGINT) AS n_tokens
             |FROM dw JOIN wt USING (w) GROUP BY doc_id ORDER BY id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val vocab =
          graft.analytics.Bpe.train(docs, "text", bpeMerges)._2
        graft.analytics.Bpe.tokenCounts(docs, "doc_id", "text", vocab)
          .orderBy("id")
      }),

    // ----- embedding standardization (z-scores) -----
    Q("q105_standardize",
      "per-dimension z-score standardization: global stats pass, then a " +
        "map-side rescale through the broadcast d-row stats table; " +
        "zero-variance dims pin z = 0",
      Some(vCte + """,
             | x AS (SELECT vec_id, CAST(generate_subscripts(vv, 1) - 1 AS INT) AS i,
             |              unnest(vv) AS xi FROM v),
             | m AS (SELECT i, sum(xi) / count(*) AS mu,
             |              sqrt(greatest(sum(xi * xi) / count(*)
             |                            - pow(sum(xi) / count(*), 2), 0)) AS sd
             |       FROM x GROUP BY i)
             |SELECT vec_id, i,
             |       round(CASE WHEN sd > 0 THEN (xi - mu) / sd ELSE 0 END, 6) + 0.0 AS z
             |FROM x JOIN m USING (i) ORDER BY vec_id, i""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.standardize(
            Tables(s, dir, "embeddings"), "vec_id", "embedding")
          .orderBy("vec_id", "i")),

    // ----- nearest-centroid (Rocchio) classification -----
    Q("q106_centroid_classify",
      "nearest-centroid classification: per-label mean centroids " +
        "(rounded model exchange), corpus x broadcast centroid cosine, " +
        "partial-aggregable argmax (cs desc, label asc)",
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv, label
             |  FROM embeddings
             |), x AS (
             |  SELECT label, CAST(generate_subscripts(vv, 1) AS INT) AS i,
             |         unnest(vv) AS xi FROM v),
             | cm AS (SELECT label, i, round(sum(xi) / count(*), 6) AS mu
             |        FROM x GROUP BY label, i),
             | cent AS (SELECT label AS clabel, list(mu ORDER BY i) AS cv
             |          FROM cm GROUP BY label),
             | scored AS (SELECT vec_id, clabel, """.stripMargin +
             cosSql("vv", "cv") + """ AS cs FROM v, cent)
             |SELECT vec_id, pred_label, cos_sim FROM (
             |  SELECT vec_id, clabel AS pred_label, cs AS cos_sim,
             |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, clabel) AS rn
             |  FROM scored) WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      (s, dir) =>
        Similarity.centroidClassify(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", "label")
          .orderBy("vec_id")),

    // ----- feature-hashing TF vectors -----
    Q("q107_hashing_tf",
      "hashing-trick term-frequency vectors (bucket = md5[0:8] mod 64): " +
        "the vocabulary-free text-to-vector bridge — one scan, one " +
        "partial-aggregable groupBy, no vocab table",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents
             |), dw AS (SELECT doc_id, unnest(t) AS w FROM toks)
             |SELECT doc_id AS id,
             |       CAST(('0x' || substring(md5(w), 1, 8))::BIGINT % 64 AS INT) AS bucket,
             |       CAST(count(*) AS BIGINT) AS tf
             |FROM dw GROUP BY 1, 2 ORDER BY id, bucket""".stripMargin),
      (s, dir) =>
        TfIdf.hashingTf(Tables(s, dir, "documents"), "doc_id", "text",
            dim = 64)
          .orderBy("id", "bucket")),

    // ----- DSIR importance weights -----
    Q("q108_dsir_weights",
      "DSIR importance weights: log-likelihood ratio of the target " +
        "(lang='en') hashed-unigram model over the raw-corpus model, " +
        "add-one smoothed over 64 buckets; one tokenization pass feeds " +
        "model and scoring; empty docs weigh null",
      Some(dsirCte + """
             |SELECT doc_id AS id, dsir_weight
             |FROM documents LEFT JOIN sc USING (doc_id) ORDER BY id""".stripMargin),
      (s, dir) =>
        graft.analytics.Selection.dsirWeights(
            Tables(s, dir, "documents"), "doc_id", "text",
            col("lang") === "en")
          .orderBy("id")),

    // ----- corpus mixing toward target proportions -----
    Q("q109_mix_corpus",
      "target-mix rebalancing: per-source keep rates derived from target " +
        "shares + observed counts (rate = min(1, budget*share/n)), " +
        "applied as the deterministic md5-threshold filter; unlisted " +
        "sources drop",
      Some("""WITH n AS (SELECT source AS s, count(*) AS n FROM documents GROUP BY 1),
             |sh(s, share) AS (VALUES
             |  ('src0', CAST(0.30 AS DOUBLE)), ('src1', CAST(0.20 AS DOUBLE)),
             |  ('src2', CAST(0.10 AS DOUBLE)), ('src3', CAST(0.05 AS DOUBLE)),
             |  ('src4', CAST(0.02 AS DOUBLE))),
             |r AS (SELECT n.s, least(CAST(1.0 AS DOUBLE),
             |               200 * coalesce(sh.share, CAST(0.0 AS DOUBLE)) / n.n) AS rate
             |      FROM n LEFT JOIN sh USING (s))
             |SELECT d.doc_id AS doc_id, d.source AS source,
             |       round(r.rate, 6) + 0.0 AS rate
             |FROM documents d JOIN r ON d.source = r.s
             |WHERE CASE WHEN r.rate >= 1 THEN TRUE WHEN r.rate <= 0 THEN FALSE
             |  ELSE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
             |       < least(greatest(round(r.rate * 4294967296), 1), 4294967295) END
             |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Selection.mixCorpus(
            Tables(s, dir, "documents"), "doc_id", "source",
            Map("src0" -> 0.30, "src1" -> 0.20, "src2" -> 0.10,
                "src3" -> 0.05, "src4" -> 0.02), budget = 200L)
          .select("doc_id", "source", "rate")
          .orderBy("doc_id")),

    // ----- hashed multinomial Naive Bayes classifier -----
    Q("q110_nb_classify",
      "hashed Naive Bayes lang classifier: per-class prior + add-one " +
        "smoothed bucket likelihoods over the FULL class x 64-bucket " +
        "grid (broadcast model), argmax (score desc, class asc); " +
        "empty docs score prior-only",
      Some("""WITH w AS (
             |  SELECT doc_id, lang, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
             |  FROM documents),
             |db AS (SELECT doc_id, lang AS dcls,
             |         CAST(('0x' || substring(md5(word), 1, 8))::BIGINT % 64 AS INT) AS bucket,
             |         CAST(count(*) AS BIGINT) AS tf
             |       FROM w GROUP BY 1, 2, 3),
             |classes AS (SELECT lang AS cls, count(*) AS n_docs FROM documents GROUP BY 1),
             |ntot AS (SELECT sum(n_docs) AS n_tot FROM classes),
             |priors AS (SELECT cls, round(ln(CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE)), 6) AS prior
             |           FROM classes, ntot),
             |counts AS (SELECT dcls AS cls, bucket, sum(tf) AS cn FROM db GROUP BY 1, 2),
             |ctot AS (SELECT cls, sum(cn) AS ct FROM counts GROUP BY 1),
             |grid AS (SELECT cls, CAST(b AS INT) AS bucket
             |         FROM classes, (SELECT unnest(range(0, 64)) AS b)),
             |model AS (SELECT g.cls, g.bucket,
             |            round(ln(CAST(coalesce(c.cn, 0) + 1 AS DOUBLE)
             |                     / CAST(coalesce(t.ct, 0) + 64 AS DOUBLE)), 6) AS logp
             |          FROM grid g
             |          LEFT JOIN counts c ON g.cls = c.cls AND g.bucket = c.bucket
             |          LEFT JOIN ctot t ON g.cls = t.cls),
             |ll AS (SELECT db.doc_id, m.cls, sum(CAST(tf AS DOUBLE) * logp) AS llsum
             |       FROM db JOIN model m ON db.bucket = m.bucket GROUP BY 1, 2),
             |sc AS (SELECT d.doc_id, p.cls,
             |         round(p.prior + coalesce(ll.llsum, 0.0), 6) AS score
             |       FROM documents d CROSS JOIN priors p
             |       LEFT JOIN ll ON ll.doc_id = d.doc_id AND ll.cls = p.cls)
             |SELECT doc_id AS id, pred_cls, score + 0.0 AS score FROM (
             |  SELECT doc_id, cls AS pred_cls, score,
             |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
             |  FROM sc) WHERE rn = 1 ORDER BY id""".stripMargin),
      (s, dir) =>
        TfIdf.hashedNaiveBayes(Tables(s, dir, "documents"),
            "doc_id", "text", "lang")
          .orderBy("id")),

    // ----- winnowing fingerprints (MOSS) -----
    Q("q111_winnow_fp",
      "winnowing fingerprints (k=4, w=4): positional 4-gram hashes, " +
        "min per 4-hash window, distinct per doc — the local-overlap " +
        "sketch; map-side array math, zero shuffles before the sink sort",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |g AS (SELECT doc_id, list_transform(range(1, len(t) - 2),
             |               i -> array_to_string(t[i:i+3], ' ')) AS grams
             |      FROM toks WHERE len(t) >= 4),
             |h AS (SELECT doc_id, list_transform(grams,
             |               x -> ('0x' || substring(md5(x), 1, 8))::BIGINT) AS hs FROM g),
             |m AS (SELECT doc_id, list_distinct(list_transform(
             |               range(0, greatest(len(hs) - 4, 0) + 1),
             |               i -> list_min(hs[i+1:i+4]))) AS mins FROM h)
             |SELECT doc, fp FROM (SELECT doc_id AS doc, unnest(mins) AS fp FROM m)
             |ORDER BY doc, fp""".stripMargin),
      (s, dir) =>
        Dedup.winnowFingerprints(Tables(s, dir, "documents"),
            "doc_id", "text", k = 4, w = 4)
          .orderBy("doc", "fp")),

    // ----- HyperLogLog distinct-token estimate per source -----
    Q("q112_hll_distinct",
      "HLL distinct-word estimate per source (m=64 registers, md5-60bit " +
        "hash, integer register sums, linear-counting correction): " +
        "64-long state per group, fully partial-aggregable — the " +
        "capacity stat count(distinct) can't give without a full " +
        "token shuffle",
      Some("""WITH w AS (
             |  SELECT source, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
             |  FROM documents),
             |h AS (SELECT source, ('0x' || substring(md5(word), 1, 15))::BIGINT AS h FROM w),
             |b AS (SELECT source, CAST(h % 64 AS INT) AS bucket, h // 64 AS wv FROM h),
             |r AS (SELECT source, bucket,
             |        max(CASE WHEN wv = 0 THEN 55
             |                 ELSE CAST(floor(log2(wv & (-wv))) AS INT) + 1 END) AS r
             |      FROM b GROUP BY source, bucket),
             |ag AS (SELECT source, sum(1::BIGINT << (55 - r)) AS s, count(*) AS nb
             |       FROM r GROUP BY source),
             |e AS (SELECT source, nb,
             |        ((CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)) * 4096) * 36028797018963968
             |          / CAST(s + (64 - nb) * 36028797018963968 AS DOUBLE) AS raw
             |      FROM ag)
             |SELECT source, CAST(nb AS BIGINT) AS n_registers,
             |       round(CASE WHEN raw <= 160 AND nb < 64
             |                  THEN 64 * ln(CAST(64 AS DOUBLE) / (64 - nb))
             |                  ELSE raw END, 6) + 0.0 AS est_distinct
             |FROM e ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.analytics.Sketches.hllDistinct(
            docs.select(col("source"),
              explode(Dedup.tokens(col("text"))).as("word")),
            "source", col("word"))
          .orderBy("source")
      }),

    // ----- k-minimum-values distinct estimate per source -----
    Q("q113_kmv_distinct",
      "KMV distinct-word estimate per source (k=16 smallest distinct " +
        "md5-60bit hashes via the bounded native KmvSketch aggregate, " +
        "est = (k-1)/(h_k/2^60)); groups under k distinct return the " +
        "exact count — the oracle replays the sketch as a rank window",
      Some("""WITH w AS (
             |  SELECT source, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
             |  FROM documents),
             |h AS (SELECT DISTINCT source, ('0x' || substring(md5(word), 1, 15))::BIGINT AS h FROM w),
             |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
             |tk AS (SELECT source, count(CASE WHEN rn <= 16 THEN 1 END) AS ns,
             |              max(CASE WHEN rn = 16 THEN h END) AS h16
             |       FROM rk GROUP BY source)
             |SELECT source, CAST(ns AS BIGINT) AS n_sketch,
             |       round(CASE WHEN ns < 16 THEN CAST(ns AS DOUBLE)
             |             ELSE 15 / (CAST(h16 AS DOUBLE) / 1152921504606846976) END, 6) + 0.0 AS est_distinct
             |FROM tk ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.analytics.Sketches.kmvDistinct(
            docs.select(col("source"),
              explode(Dedup.tokens(col("text"))).as("word")),
            "source", col("word"), k = 16)
          .orderBy("source")
      }),

    // ----- graded contamination score -----
    Q("q114_contam_score",
      "per-training-doc contamination: distinct-shingle overlap count + " +
        "fraction vs the broadcast eval shingle set (doc_id%10=0 eval " +
        "split) — q60's binary verdict refined into the triage ranking",
      Some(shCte + """,
             | ev AS (SELECT DISTINCT sh FROM sh0 WHERE doc % 10 = 0),
             | tr AS (SELECT doc, sh FROM sh0 WHERE doc % 10 <> 0),
             | ag AS (SELECT tr.doc, count(*) AS ns,
             |               sum(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS nc
             |        FROM tr LEFT JOIN ev ON tr.sh = ev.sh GROUP BY tr.doc)
             |SELECT d.doc_id, CAST(coalesce(ag.ns, 0) AS BIGINT) AS n_shingles,
             |       CAST(coalesce(ag.nc, 0) AS BIGINT) AS n_contam,
             |       round(CAST(ag.nc AS DOUBLE) / nullif(ag.ns, 0), 6) + 0.0 AS contam_frac
             |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc
             |WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        Dedup.contaminationScore(Tables(s, dir, "documents"),
            "doc_id", "text", evalPred = col("doc_id") % 10 === 0, n = 3)
          .orderBy("doc_id")),

    // ----- cross-source near-dup matrix -----
    Q("q115_source_dup_matrix",
      "near-dup pair counts rolled up by unordered source pair (MinHash " +
        "estimate >= 0.25 over LSH candidates) — the which-source-" +
        "copies-which diagnostic; labels join id-keyed, never the text",
      Some(shCte + lshCte + """,
             |est AS (
             |  SELECT c.doc_a, c.doc_b,
             |         CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est
             |  FROM cand c
             |  JOIN sigs sa ON sa.doc = c.doc_a
             |  JOIN sigs sb ON sb.doc = c.doc_b AND sb.k = sa.k
             |  GROUP BY c.doc_a, c.doc_b),
             |p AS (SELECT doc_a, doc_b FROM est WHERE est >= 0.25),
             |m AS (SELECT least(da.source, db.source) AS group_a,
             |             greatest(da.source, db.source) AS group_b
             |      FROM p JOIN documents da ON p.doc_a = da.doc_id
             |             JOIN documents db ON p.doc_b = db.doc_id)
             |SELECT group_a, group_b, CAST(count(*) AS BIGINT) AS n_pairs
             |FROM m GROUP BY 1, 2 ORDER BY group_a, group_b""".stripMargin),
      (s, dir) =>
        Dedup.crossGroupNearDupMatrix(Tables(s, dir, "documents"),
            "doc_id", "text", "source", minEstimate = 0.25)
          .orderBy("group_a", "group_b")),

    // ----- exact decile bucketing without a global sort -----
    Q("q116_quantile_buckets",
      "token-count decile per doc: q-1 exact percentile cut points as a " +
        "ONE-ROW broadcast, bucket = map-side count of thresholds " +
        "passed — the ntile() result without the single-task corpus sort",
      Some("""WITH n AS (
             |  SELECT doc_id,
             |         CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS score
             |  FROM documents),
             |thr AS (SELECT list_transform(
             |          quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
             |          t -> round(t, 6)) AS ts
             |        FROM n WHERE score IS NOT NULL)
             |SELECT n.doc_id, n.score,
             |       CAST(1 + len(list_filter(thr.ts, t -> n.score > t)) AS INT) AS bucket
             |FROM n, thr ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.analytics.Stats.quantileBuckets(
            docs.select(col("doc_id"),
              size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
            "doc_id", col("n_tokens"), q = 10)
          .orderBy("doc_id")
      }),

    // ----- Johnson-Lindenstrauss random projection -----
    Q("q117_random_projection",
      "deterministic JL projection 64 -> 16 dims (Achlioptas ±1 planes, " +
        "the shared md5 sign model): d' codegen'd dot products per row " +
        "against plan-time literals — no model table, no shuffle; the " +
        "dim-reduction front end for LSH/scoring at scale",
      Some(vCte + ", planes(j, p) AS (VALUES\n" + jlPlanesSql(16) + """
             |)
             |SELECT vec_id, j, round(list_dot_product(vv, p) * 0.25, 6) + 0.0 AS yj
             |FROM v CROSS JOIN planes ORDER BY vec_id, j""".stripMargin),
      (s, dir) =>
        Similarity.randomProject(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", outDim = 16)
          .orderBy("vec_id", "j")),

    // ----- hourly distinct-user HLL over the events stream shape -----
    Q("q118_hourly_hll_users",
      "distinct users per hour via the HLL register fold — per-(hour, " +
        "bucket) max registers (Sketches.withHllCols) folded to an " +
        "estimate (Sketches.estimateFromRegisters); linear-counting " +
        "regime at this cardinality",
      Some("""WITH h AS (
             |  SELECT date_trunc('hour', ts) AS hour,
             |         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
             |  FROM events),
             |b AS (SELECT hour, CAST(h % 64 AS INT) AS bucket, h // 64 AS wv FROM h),
             |r AS (SELECT hour, bucket,
             |        max(CASE WHEN wv = 0 THEN 55
             |                 ELSE CAST(floor(log2(wv & (-wv))) AS INT) + 1 END) AS r
             |      FROM b GROUP BY hour, bucket),
             |ag AS (SELECT hour, sum(1::BIGINT << (55 - r)) AS s, count(*) AS nb
             |       FROM r GROUP BY hour),
             |e AS (SELECT hour, nb,
             |        ((CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)) * 4096) * 36028797018963968
             |          / CAST(s + (64 - nb) * 36028797018963968 AS DOUBLE) AS raw
             |      FROM ag)
             |SELECT hour, CAST(nb AS BIGINT) AS n_registers,
             |       round(CASE WHEN raw <= 160 AND nb < 64
             |                  THEN 64 * ln(CAST(64 AS DOUBLE) / (64 - nb))
             |                  ELSE raw END, 6) + 0.0 AS est_distinct
             |FROM e ORDER BY hour""".stripMargin),
      (s, dir) => {
        val regs = graft.analytics.Sketches.withHllCols(
            Tables(s, dir, "events"),
            col("user_id").cast("string"))
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("bucket"))
          .agg(max(col("rho")).as("r"))
        graft.analytics.Sketches.estimateFromRegisters(regs, Seq("hour"))
          .orderBy("hour")
      }),

    // ----- end-to-end curation pipeline -----
    Q("q119_curation_pipeline",
      "the full curation decision per doc in ONE composed plan: q46 " +
        "quality/lang/exact-dup verdict -> near-dup components over the " +
        "keepers (q42 machinery) -> leakage-safe split (q48 rule); " +
        "dropped docs carry null component/split",
      Some("WITH RECURSIVE flags AS (" + """
             |  SELECT doc_id,
             |         CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS is_dup,
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
             |verdicts AS (
             |  SELECT doc_id,
             |         CASE WHEN is_dup = 1 THEN 'dup'
             |              WHEN NOT (n_tokens >= 10 AND punct_ratio < 0.2) THEN 'low_quality'
             |              WHEN lang_guess <> 'en' THEN 'non_en'
             |              ELSE 'keep' END AS verdict,
             |         CASE WHEN is_dup = 0 AND n_tokens >= 10 AND punct_ratio < 0.2
             |                   AND lang_guess = 'en' THEN 1 ELSE 0 END AS keep
             |  FROM flags),
             |kept AS (
             |  SELECT d.doc_id, d.text FROM documents d
             |  JOIN verdicts USING (doc_id) WHERE keep = 1),""".stripMargin +
        shCte.stripPrefix("WITH").replace("FROM documents", "FROM kept") +
        lshCte + """,
             | edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
             |           UNION ALL SELECT doc_b, doc_a FROM cand),
             | walk AS (
             |   SELECT a AS node, b AS reach FROM edges
             |   UNION
             |   SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
             | comp AS (
             |   SELECT node, least(node, min(reach)) AS component
             |   FROM walk GROUP BY node),
             | tagged AS (
             |   SELECT k.doc_id, coalesce(c.component, k.doc_id) AS component
             |   FROM kept k LEFT JOIN comp c ON c.node = k.doc_id)
             |SELECT v.doc_id, v.verdict, v.keep, t.component,
             |       CASE WHEN t.component IS NULL THEN NULL
             |            WHEN md5(CAST(t.component AS VARCHAR)) < 'c' THEN 'train'
             |            WHEN md5(CAST(t.component AS VARCHAR)) < 'e' THEN 'val'
             |            ELSE 'test' END AS split
             |FROM verdicts v LEFT JOIN tagged t USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // the verdict frame feeds the final join — checkpointed so the
        // fp window behind THAT branch runs once
        val cfPlan = TextAnalysis.corpusFilter(docs, "doc_id", "text")
        val cf = cfPlan.materialized()
        // the cluster branch builds from the LOGICAL corpusFilter plan,
        // not the checkpointed frame: a localCheckpoint leaf carries a
        // fresh RDD identity every run, which would make dupClusters'
        // candidate memo miss (and re-snapshot) on every execution —
        // the logical plan canonicalizes stably, so repeat runs hit.
        // DELIBERATE exception to the house reuse rule: the keep-filter
        // branch therefore re-evaluates corpusFilter once per cold run
        // (sound — corpusFilter is deterministic); the stable memo key
        // it buys eliminates the far larger candidate-graph rebuild on
        // every warm run, which is the trade the bracketed r11 memo-key
        // fix measured (q119 1.86 -> 1.28 steady)
        val kept = docs.join(
          cfPlan.filter(col("keep") === 1).select("doc_id"), "doc_id")
        val split = Dedup.leakageSafeSplit(
          Dedup.dupClusters(kept, "doc_id", "text"), "doc_id", "component")
        cf.join(split, Seq("doc_id"), "left")
          .select(col("doc_id"), col("verdict"), col("keep"),
            col("component"), col("split"))
          .orderBy("doc_id")
      }),

    // ----- Count-Min frequency sketch -----
    Q("q120_cm_sketch",
      "Count-Min point-frequency estimates per source (4 x 64 integer " +
        "counters, md5 buckets, min-over-depth probe of 8 literal " +
        "words incl. one absent) — bounded frequency state where the " +
        "exact table is vocabulary-sized; counters merge by addition",
      Some("""WITH w AS (
             |  SELECT source, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
             |  FROM documents),
             |cnt AS (SELECT source, d,
             |          CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || '|' || word), 1, 8))::BIGINT % 64 AS INT) AS bucket,
             |          CAST(count(*) AS BIGINT) AS c
             |        FROM w, (SELECT unnest(range(0, 4)) AS d) dd GROUP BY 1, 2, 3),
             |probes(word) AS (VALUES ('the'), ('a'), ('of'), ('and'), ('to'), ('in'), ('is'), ('zzz_absent')),
             |grid AS (SELECT s.source, p.word, d.d,
             |                CAST(('0x' || substring(md5(CAST(d.d AS VARCHAR) || '|' || p.word), 1, 8))::BIGINT % 64 AS INT) AS bucket
             |         FROM (SELECT DISTINCT source FROM cnt) s, probes p,
             |              (SELECT unnest(range(0, 4)) AS d) d)
             |SELECT g.source AS source, g.word AS word,
             |       CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est
             |FROM grid g LEFT JOIN cnt c
             |  ON g.source = c.source AND g.d = c.d AND g.bucket = c.bucket
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val counters = graft.analytics.Sketches.cmCounters(
          docs.select(col("source"),
            explode(Dedup.tokens(col("text"))).as("word")),
          "source", col("word"))
        graft.analytics.Sketches.cmEstimate(counters,
            Seq("the", "a", "of", "and", "to", "in", "is", "zzz_absent"))
          .withColumnRenamed("key", "source")
          .orderBy("source", "word")
      }),

    // ----- DSIR selection gate -----
    Q("q121_dsir_select",
      "the DSIR selection step: keep the top 25% of docs by importance " +
        "weight — the corpus p75 of q108's weights as a 1-row broadcast " +
        "threshold, map-side keep flags; null weights fail closed",
      Some(dsirCte + """,
             |wts AS (SELECT doc_id, dsir_weight
             |        FROM documents LEFT JOIN sc USING (doc_id)),
             |thr AS (SELECT round(quantile_cont(dsir_weight, 0.75), 6) AS thr
             |        FROM wts WHERE dsir_weight IS NOT NULL)
             |SELECT doc_id AS id, dsir_weight,
             |       coalesce(dsir_weight >= thr.thr, false) AS keep
             |FROM wts, thr ORDER BY id""".stripMargin),
      (s, dir) =>
        graft.analytics.Selection.dsirSelect(
            Tables(s, dir, "documents"), "doc_id", "text",
            col("lang") === "en", topFrac = 0.25)
          .orderBy("id")),

    // ----- token-span repeated-substring removal -----
    Q("q122_span_dedup",
      "remove every token covered by a 5-token span occurring in >= 3 " +
        "distinct docs (Lee et al. repeated-sequence rule, the " +
        "token-level sibling of q99): (doc,pos,hash) span table, " +
        "hash-keyed df, map-side rebuild; output is the normalized " +
        "token stream",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |sp AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+4], ' ')) AS h
             |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |             FROM toks WHERE len(t) >= 5)),
             |boiler AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sp) dd
             |           GROUP BY h HAVING count(*) >= 3),
             |cov AS (SELECT doc_id, list_distinct(list(ci)) AS cover
             |        FROM (SELECT sp.doc_id, unnest(range(sp.pos, sp.pos + 5)) AS ci
             |              FROM sp JOIN boiler USING (h)) cc GROUP BY doc_id)
             |SELECT t.doc_id,
             |       coalesce(CASE WHEN c.cover IS NULL THEN array_to_string(t.t, ' ')
             |            ELSE array_to_string(list_transform(
             |                   list_filter(range(0, len(t.t)),
             |                               i -> NOT list_contains(c.cover, i)),
             |                   i -> t.t[i + 1]), ' ') END, '') AS text,
             |       CAST(len(t.t) AS BIGINT) AS n_tokens,
             |       CAST(coalesce(len(c.cover), 0) AS BIGINT) AS n_removed
             |FROM toks t LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Dedup.removeRepeatedSpans(Tables(s, dir, "documents"),
            "doc_id", "text", spanLen = 5, minDocFreq = 3)
          .orderBy("doc_id")),

    // ----- Bloom-filter membership sketch -----
    Q("q123_bloom_filter",
      "per-source Bloom filter of the word set (1024 bits as 16 longs, " +
        "3 md5 positions/word, bit_or registers — map-side partials, " +
        "OR-mergeable across shards) probed for 3 literal words; " +
        "n_set_bits is the fill feeding the fp-rate formula",
      Some("""WITH w AS (
             |  SELECT source, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
             |  FROM documents),
             |pos AS (SELECT DISTINCT source, ('0x' || substring(md5(word || '|' || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 1024 AS p
             |        FROM w, (SELECT unnest(range(0, 3)) AS j) t),
             |fill AS (SELECT source, CAST(count(*) AS BIGINT) AS n_set_bits
             |         FROM pos GROUP BY source),
             |probes(word) AS (VALUES ('the'), ('data'), ('zzz_absent_token')),
             |pp AS (SELECT word, ('0x' || substring(md5(word || '|' || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 1024 AS p
             |       FROM probes, (SELECT unnest(range(0, 3)) AS j) t),
             |grid AS (SELECT k.source, pp.word, pp.p
             |         FROM (SELECT DISTINCT source FROM w) k CROSS JOIN pp)
             |SELECT g.source, g.word, bool_and(ps.p IS NOT NULL) AS member,
             |       f.n_set_bits
             |FROM grid g
             |LEFT JOIN pos ps ON ps.source = g.source AND ps.p = g.p
             |JOIN fill f ON f.source = g.source
             |GROUP BY g.source, g.word, f.n_set_bits
             |ORDER BY g.source, g.word""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.analytics.Sketches.bloomContains(
            graft.analytics.Sketches.bloomRegisters(
              docs.select(col("source"),
                explode(Dedup.tokens(col("text"))).as("word")),
              "source", col("word"), mBits = 1024, kHashes = 3),
            Seq("the", "data", "zzz_absent_token"),
            mBits = 1024, kHashes = 3)
          .withColumnRenamed("key", "source")
          .orderBy("source", "word")
      }),

    // ----- weighted sampling without replacement -----
    Q("q124_weighted_sample",
      "Efraimidis-Spirakis A-ES weighted sample: k=100 docs with " +
        "inclusion probability proportional to token count; key = " +
        "ln(md5-uniform)/w pinned by round(,9), id tie-break — map-side " +
        "keys + bounded TakeOrdered, no window, no global sort",
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS w
             |  FROM documents),
             |keyed AS (
             |  SELECT doc_id, w,
             |         round(ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE) + 1.0)
             |                  / 1152921504606846976.0) / w, 9) AS es_key
             |  FROM t WHERE w > 0)
             |SELECT doc_id, w, es_key FROM keyed
             |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.analytics.Sampling.weightedSample(
            docs.select(col("doc_id"),
              size(Dedup.tokens(col("text"))).cast("long").as("w")),
            "doc_id", col("w"), k = 100)
          .orderBy(col("es_key").desc, col("doc_id"))
      }),

    // ----- edit-distance verification of candidate pairs -----
    Q("q125_edit_verify",
      "exact Levenshtein verification of the q19 MinHash/LSH candidate " +
        "pairs (the final dedup-pipeline stage): dist when <= 100 else " +
        "-1 (banded early-exit); corpus never self-joins — two id-keyed " +
        "text joins over the candidate-sized pair table",
      Some(shCte + lshCte + """
             |SELECT c.doc_a, c.doc_b,
             |       CAST(CASE WHEN levenshtein(a.text, b.text) <= 100
             |                 THEN levenshtein(a.text, b.text)
             |                 ELSE -1 END AS INT) AS dist
             |FROM cand c
             |JOIN documents a ON a.doc_id = c.doc_a
             |JOIN documents b ON b.doc_id = c.doc_b
             |ORDER BY c.doc_a, c.doc_b""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
          n = 3, numHashes = 8, bandSize = 2, maxBucket = 1000)
        Dedup.editDistanceVerify(cand, docs, "doc_id", "text",
            maxDist = 100)
          .orderBy("doc_a", "doc_b")
      }),

    // ----- incremental-ingest dedup against persisted artifacts -----
    Q("q126_incremental_dedup",
      "screen a new shard (doc_id % 5 <> 0) against the persisted corpus " +
        "index built from doc_id % 5 = 0 — exact md5 fingerprint " +
        "anti-probe + LSH band-table probe with the hot-bucket cap; the " +
        "corpus is never rescanned per shard",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |sh0 AS (SELECT DISTINCT doc_id AS doc, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
             |        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3)),
             |sigs AS (SELECT doc, k, min(md5(k || '|' || sh)) AS sig
             |         FROM sh0, (SELECT unnest(range(0, 8)) AS k) ks GROUP BY doc, k),
             |bands AS (SELECT doc, CAST(floor(k / 2) AS INT) AS band,
             |                 md5(string_agg(sig, ',' ORDER BY k)) AS bucket
             |          FROM sigs GROUP BY doc, band),
             |oldb AS (SELECT * FROM bands WHERE doc % 5 = 0),
             |newb AS (SELECT * FROM bands WHERE doc % 5 <> 0),
             |okb AS (SELECT band, bucket FROM oldb
             |        GROUP BY band, bucket HAVING count(*) <= 1000),
             |near AS (SELECT n.doc, count(DISTINCT o.doc) AS n_near
             |         FROM newb n JOIN okb USING (band, bucket)
             |         JOIN oldb o USING (band, bucket) GROUP BY n.doc),
             |oldfp AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 = 0),
             |nd AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0)
             |SELECT d.doc_id, (o.fp IS NOT NULL) AS exact_dup,
             |       CAST(coalesce(nr.n_near, 0) AS BIGINT) AS n_near_candidates,
             |       (o.fp IS NULL AND coalesce(nr.n_near, 0) = 0) AS keep
             |FROM nd d
             |LEFT JOIN oldfp o USING (fp)
             |LEFT JOIN near nr ON nr.doc = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val old = docs.filter(col("doc_id") % 5 === 0)
        val fresh = docs.filter(col("doc_id") % 5 =!= 0)
        Dedup.incrementalDedup(fresh, "doc_id", "text",
            Dedup.corpusFingerprints(old, "text"),
            Dedup.minhashBandsFromDocs(old, "doc_id", "text"))
          .orderBy("doc_id")
      }),

    // ----- sliding-window token chunking -----
    Q("q127_chunk_windows",
      "cut each document into 128-token training sequences starting " +
        "every 64 tokens (overlapping context windows; short tail kept) " +
        "— entirely map-side: tokenize, explode starts, slice",
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |s AS (SELECT doc_id, t, len(t) AS n, unnest(range(0, len(t), 64)) AS tok_start
             |      FROM d WHERE len(t) > 0)
             |SELECT doc_id,
             |       CAST(tok_start // 64 AS BIGINT) AS chunk_id,
             |       CAST(tok_start AS BIGINT) AS tok_start,
             |       CAST(least(128, n - tok_start) AS BIGINT) AS n_toks,
             |       array_to_string(t[tok_start + 1 : tok_start + 128], ' ') AS chunk_text
             |FROM s ORDER BY doc_id, chunk_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.chunkTokenWindows(
            Tables(s, dir, "documents"), "doc_id", "text",
            chunkSize = 128, stride = 64)
          .orderBy("doc_id", "chunk_id")),

    // ----- target-mixture domain rebalancing -----
    Q("q128_mixture_balance",
      "rebalance the corpus to a target lang mixture (en .5, de .2, " +
        "fr .2, es .1; zh dropped): largest achievable corpus without " +
        "upsampling — N* = min(n_d/target_d), rate_d = target_d*N*/n_d, " +
        "md5-threshold keep; corpus never shuffles",
      Some("""WITH t(g, target) AS (VALUES ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)), ('es', CAST(0.1 AS DOUBLE))),
             |c AS (SELECT lang AS g, count(*) AS n FROM documents GROUP BY lang),
             |j AS (SELECT c.g, c.n, t.target FROM c JOIN t USING (g)),
             |ns AS (SELECT min(CAST(n AS DOUBLE) / target) AS nstar FROM j),
             |r AS (SELECT g, round(least(1.0, target * nstar / CAST(n AS DOUBLE)), 6) AS rate FROM j, ns)
             |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
             |FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.g
             |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |      < round(r.rate * 4294967296.0)
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.mixtureBalance(
            Tables(s, dir, "documents"), "doc_id", "lang",
            Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1))
          .orderBy("doc_id")),

    // ----- deterministic corpus shuffle + sharding -----
    Q("q129_shuffle_shards",
      "deterministic global training-order shuffle: rank the corpus by " +
        "md5(doc_id) (ties by id) and cut into 100-doc shards — " +
        "two-level distributed rank, no global single-task sort",
      Some("""WITH p AS (
             |  SELECT doc_id,
             |         CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
             |  FROM documents)
             |SELECT doc_id, pos, pos // 100 AS shard
             |FROM p ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.shuffleShards(
            Tables(s, dir, "documents"), "doc_id", docsPerShard = 100L)
          .orderBy("doc_id")),

    // ----- PCA top-component projection -----
    Q("q130_pca_project",
      "projection of every embedding onto the corpus's top principal " +
        "component (curriculum / diversity ordering): one native moments " +
        "pass + bounded d² model collect + 30 driver-side power-" +
        "iteration rounds, then a map-side fused-dot projection",
      Some(pcaOracleSql(30)),
      (s, dir) =>
        graft.analytics.Stats.pcaProject(
            Tables(s, dir, "embeddings"), "vec_id", "embedding")
          .orderBy("vec_id")),

    // ----- Stupid-Backoff bigram LM with a train/score split -----
    Q("q131_stupid_backoff",
      "Stupid-Backoff bigram surprisal: model trained on the md5-hashed " +
        "half of the corpus, every doc scored under it — unseen bigrams " +
        "back off to alpha*c(w2)/T, so the backoff path actually fires; " +
        "word-keyed model joins, nothing corpus-sized on the driver",
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.analytics.Sampling.hexThreshold(0.5)}' AS tr,
             |         list_filter(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |db AS (
             |  SELECT doc_id, tr, t[i] AS w1, t[i+1] AS w2, count(*) AS n
             |  FROM (SELECT doc_id, tr, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
             |  GROUP BY doc_id, tr, w1, w2),
             |bf AS (SELECT w1, w2, sum(n) AS c12 FROM db WHERE tr GROUP BY w1, w2),
             |pf AS (SELECT w1, sum(c12) AS c1 FROM bf GROUP BY w1),
             |uf AS (SELECT w2, count(*) AS cw
             |       FROM (SELECT unnest(t) AS w2 FROM toks WHERE tr)
             |       GROUP BY w2),
             |tot AS (SELECT sum(cw) AS t FROM uf),
             |sc AS (
             |  SELECT db.doc_id, sum(db.n) AS nb,
             |         sum(CASE WHEN bf.c12 IS NULL THEN db.n ELSE 0 END) AS nbk,
             |         sum(CAST(db.n AS DOUBLE) * -ln(
             |           CASE WHEN bf.c12 IS NOT NULL
             |                THEN CAST(bf.c12 AS DOUBLE) / pf.c1
             |                ELSE 0.4 * CAST(coalesce(uf.cw, 1) AS DOUBLE) / tot.t
             |           END)) AS s
             |  FROM db LEFT JOIN bf USING (w1, w2)
             |          LEFT JOIN pf USING (w1)
             |          LEFT JOIN uf ON uf.w2 = db.w2, tot
             |  GROUP BY db.doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
             |       CASE WHEN sc.nb > 0 THEN round(CAST(sc.nbk AS DOUBLE) / sc.nb, 6) END AS backoff_rate,
             |       CASE WHEN sc.nb > 0 THEN round(sc.s / sc.nb, 6) END AS avg_surprisal
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.stupidBackoffSurprisal(Tables(s, dir, "documents"),
            "doc_id", "text", alpha = 0.4, trainFrac = 0.5)
          .orderBy("doc_id")),

    // ----- interpolated Kneser-Ney bigram LM -----
    Q("q147_kneser_ney",
      "interpolated Kneser-Ney bigram surprisal (d=0.75, md5-half " +
        "train/score split): absolute discounting + continuation " +
        "probability N1+(.,w2)/N1+(..) — the canonical count-based LM " +
        "smoothing; every model table is an aggregate of the one " +
        "(doc,bigram) exchange, word-keyed joins back",
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.analytics.Sampling.hexThreshold(0.5)}' AS tr,
             |         list_filter(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |db AS (
             |  SELECT doc_id, tr, t[i] AS w1, t[i+1] AS w2, count(*) AS n
             |  FROM (SELECT doc_id, tr, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
             |  GROUP BY doc_id, tr, w1, w2),
             |bf AS (SELECT w1, w2, sum(n) AS c12 FROM db WHERE tr GROUP BY w1, w2),
             |pf AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p FROM bf GROUP BY w1),
             |cc AS (SELECT w2, count(*) AS n1c FROM bf GROUP BY w2),
             |nbi AS (SELECT count(*) AS nbi FROM bf),
             |sc AS (
             |  SELECT db.doc_id, sum(db.n) AS nb,
             |         sum(CASE WHEN bf.c12 IS NULL THEN db.n ELSE 0 END) AS nun,
             |         sum(CAST(db.n AS DOUBLE) * -ln(
             |           CASE WHEN pf.c1 IS NOT NULL
             |                THEN greatest(CAST(coalesce(bf.c12, 0) AS DOUBLE) - 0.75, 0.0)
             |                       / CAST(pf.c1 AS DOUBLE)
             |                     + 0.75 * CAST(pf.n1p AS DOUBLE) / CAST(pf.c1 AS DOUBLE)
             |                       * (CAST(coalesce(cc.n1c, 1) AS DOUBLE) / nullif(CAST(nbi.nbi AS DOUBLE), 0.0))
             |                ELSE CAST(coalesce(cc.n1c, 1) AS DOUBLE) / nullif(CAST(nbi.nbi AS DOUBLE), 0.0)
             |           END)) AS s
             |  FROM db LEFT JOIN bf USING (w1, w2)
             |          LEFT JOIN pf USING (w1)
             |          LEFT JOIN cc ON cc.w2 = db.w2, nbi
             |  GROUP BY db.doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
             |       CASE WHEN sc.nb > 0 THEN round(CAST(sc.nun AS DOUBLE) / sc.nb, 6) END AS unseen_rate,
             |       CASE WHEN sc.nb > 0 THEN round(sc.s / sc.nb, 6) END AS avg_surprisal
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.kneserNeySurprisal(Tables(s, dir, "documents"),
            "doc_id", "text", discount = 0.75, trainFrac = 0.5)
          .orderBy("doc_id")),

    // ----- character-entropy gibberish filter -----
    Q("q148_char_entropy",
      "per-doc Shannon entropy of the non-whitespace character " +
        "distribution via H = log2(n) - sum(k*log2 k)/n — low flags " +
        "repeated-char spam, high flags base64/binary blobs; one " +
        "(doc,char) partial agg (pre-compressed to alphabet-size rows " +
        "per partition) + one doc agg, nothing on the driver",
      Some("""WITH ch AS (
             |  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
             |  FROM (SELECT doc_id,
             |               unnest(list_filter(regexp_extract_all(text, '.', 0, 's'),
             |                                  x -> x NOT IN (' ', chr(9), chr(10), chr(11), chr(12), chr(13)))) AS c
             |        FROM documents)
             |  GROUP BY doc_id, c),
             |sc AS (
             |  SELECT doc_id, sum(k) AS n, CAST(count(*) AS BIGINT) AS nd,
             |         sum(CAST(k AS DOUBLE) * log2(CAST(k AS DOUBLE))) AS slk
             |  FROM ch GROUP BY doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(sc.n, 0) AS BIGINT) AS n_chars,
             |       coalesce(sc.nd, 0) AS n_distinct,
             |       round(log2(CAST(sc.n AS DOUBLE)) - sc.slk / CAST(sc.n AS DOUBLE), 6) AS entropy
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.charEntropy(Tables(s, dir, "documents"),
            "doc_id", "text")
          .orderBy("doc_id")),

    // ----- mojibake repair (ftfy rule) -----
    Q("q149_mojibake_roundtrip",
      "fix_mojibake round-trip gate: every doc is garbled in-engine " +
        "(UTF-8 bytes re-read as Latin-1 — the charset-lying-server " +
        "corruption) and repaired by the strict-decode kernel; the " +
        "oracle pins the INVARIANT (n_recovered = n_docs, n_garbled = " +
        "docs with any non-ASCII char) rather than replaying the " +
        "byte-level op DuckDB cannot express — a kernel regression " +
        "breaks the Spark-side counts, not the oracle",
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(CASE WHEN strlen(text) <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_garbled,
             |       CAST(count(text) AS BIGINT) AS n_recovered
             |FROM documents""".stripMargin),
      (s, dir) => {
        val t = col("text")
        // the classic corruption: UTF-8 bytes mis-decoded as Latin-1
        val garbled = decode(encode(t, "UTF-8"), "ISO-8859-1")
        Tables(s, dir, "documents")
          .select(t, garbled.as("g"),
            graft.functions.FixMojibake.fixMojibake(garbled).as("fx"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("g") =!= t, 1).otherwise(0)).cast("long")
              .as("n_garbled"),
            sum(when(col("fx") === t, 1).otherwise(0)).cast("long")
              .as("n_recovered"))
      }),

    // ----- corpus-wide keep-first line dedup -----
    Q("q151_keep_first_lines",
      "RefinedWeb/ExactSubstr keep-first line dedup: every line " +
        "occurring >1 time corpus-wide keeps only its (doc,pos)-first " +
        "occurrence, text rebuilt — one copy of shared content " +
        "survives, unlike q99's remove-all boilerplate rule; winner = " +
        "partial-aggregable min(struct), no corpus window",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |rl AS (
             |  SELECT doc_id, i, array_to_string(t[i*5+1 : i*5+5], ' ') AS line
             |  FROM (SELECT doc_id, t, unnest(range(greatest(1, CAST(ceil(len(t)/5.0) AS BIGINT)))) AS i FROM toks)),
             |rk AS (
             |  SELECT doc_id, i,
             |         row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rn,
             |         count(*) OVER (PARTITION BY line) AS cnt
             |  FROM rl WHERE line <> ''),
             |drops AS (SELECT doc_id, i FROM rk WHERE cnt > 1 AND rn > 1),
             |kept AS (
             |  SELECT r.doc_id, r.i, r.line
             |  FROM rl r LEFT JOIN drops d ON d.doc_id = r.doc_id AND d.i = r.i
             |  WHERE d.doc_id IS NULL),
             |nl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
             |       FROM rl GROUP BY doc_id),
             |ka AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text,
             |              CAST(count(*) AS BIGINT) AS n_kept
             |       FROM kept GROUP BY doc_id)
             |SELECT d.doc_id,
             |       coalesce(ka.text, '') AS text,
             |       coalesce(nl.n_lines, 0) AS n_lines,
             |       coalesce(nl.n_lines, 0) - coalesce(ka.n_kept, 0) AS n_removed
             |FROM documents d
             |LEFT JOIN nl USING (doc_id)
             |LEFT JOIN ka USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val reflowed = Tables(s, dir, "documents").select(col("doc_id"),
          Dedup.reflowLines(col("text"), 5).as("text"))
        Dedup.keepFirstLines(reflowed, "doc_id", "text")
          .orderBy("doc_id")
      }),

    // ----- C4 cleaning heuristics -----
    Q("q152_c4_filters",
      "the C4 cleaning rules (Raffel et al. 2020 §2.2): keep lines " +
        "ending in terminal punctuation with >= 5 words and no " +
        "'javascript'; drop pages with < 3 surviving lines, a '{', or " +
        "'lorem ipsum' — entirely map-side line-array folds over " +
        "reflowed docs",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |rl AS (
             |  SELECT doc_id, i, array_to_string(t[i*5+1 : i*5+5], ' ') AS line
             |  FROM (SELECT doc_id, t, unnest(range(greatest(1, CAST(ceil(len(t)/5.0) AS BIGINT)))) AS i FROM toks)),
             |ft AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS rt
             |       FROM rl GROUP BY doc_id),
             |nz AS (SELECT doc_id, i, line FROM rl WHERE line <> ''),
             |kp AS (SELECT doc_id, i, line FROM nz
             |       WHERE (line LIKE '%.' OR line LIKE '%!' OR line LIKE '%?' OR line LIKE '%"')
             |         AND len(list_filter(string_split(line, ' '), x -> x <> '')) >= 5
             |         AND NOT contains(lower(line), 'javascript')),
             |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nl FROM nz GROUP BY doc_id),
             |ka AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS ct,
             |              CAST(count(*) AS BIGINT) AS nk
             |       FROM kp GROUP BY doc_id)
             |SELECT d.doc_id,
             |       coalesce(ka.ct, '') AS clean_text,
             |       coalesce(ag.nl, 0) AS n_lines,
             |       coalesce(ka.nk, 0) AS n_kept,
             |       coalesce(ka.nk >= 3 AND NOT contains(ft.rt, '{')
             |                AND NOT contains(lower(ft.rt), 'lorem ipsum'),
             |                false) AS keep
             |FROM documents d
             |LEFT JOIN ag USING (doc_id)
             |LEFT JOIN ka USING (doc_id)
             |LEFT JOIN ft USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.c4Filters(
            Tables(s, dir, "documents").select(col("doc_id"),
              Dedup.reflowLines(col("text"), 5).as("text")),
            "doc_id", "text")
          .orderBy("doc_id")),

    // ----- Gopher line-level rules -----
    Q("q150_gopher_line_rules",
      "the line-level half of the Gopher A1 filters: per-doc bullet/" +
        "ellipsis line fractions + within-doc duplicate-line and " +
        "duplicate-char fractions with the published thresholds " +
        "(0.9/0.3/0.3/0.2); docs reflowed into 7-word lines first " +
        "(q99's structure rule); entirely map-side, the line array " +
        "never leaves its row",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS t
             |  FROM documents),
             |rl AS (
             |  SELECT doc_id, i, array_to_string(t[i*7+1 : i*7+7], ' ') AS line
             |  FROM (SELECT doc_id, t, unnest(range(greatest(1, CAST(ceil(len(t)/7.0) AS BIGINT)))) AS i FROM toks)),
             |nz AS (SELECT doc_id, line FROM rl WHERE line <> ''),
             |grp AS (SELECT doc_id, line, count(*) AS c, length(line) AS l
             |        FROM nz GROUP BY doc_id, line),
             |agg AS (
             |  SELECT doc_id,
             |         CAST(sum(c) AS BIGINT) AS n,
             |         CAST(sum(CASE WHEN line LIKE '•%' OR line LIKE '-%' OR line LIKE '*%' THEN c ELSE 0 END) AS BIGINT) AS nb,
             |         CAST(sum(CASE WHEN line LIKE '%...' OR line LIKE '%…' THEN c ELSE 0 END) AS BIGINT) AS ne,
             |         CAST(sum(c) - count(*) AS BIGINT) AS nd,
             |         CAST(sum(c * l) AS BIGINT) AS tc,
             |         CAST(sum(CASE WHEN c > 1 THEN c * l ELSE 0 END) AS BIGINT) AS dc
             |  FROM grp GROUP BY doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(a.n, 0) AS BIGINT) AS n_lines,
             |       round(CAST(a.nb AS DOUBLE) / a.n, 6) AS frac_bullet,
             |       round(CAST(a.ne AS DOUBLE) / a.n, 6) AS frac_ellipsis,
             |       round(CAST(a.nd AS DOUBLE) / a.n, 6) AS frac_dup_lines,
             |       round(CAST(a.dc AS DOUBLE) / nullif(a.tc, 0), 6) AS frac_dup_chars,
             |       coalesce(round(CAST(a.nb AS DOUBLE) / a.n, 6) <= 0.9
             |                AND round(CAST(a.ne AS DOUBLE) / a.n, 6) <= 0.3
             |                AND round(CAST(a.nd AS DOUBLE) / a.n, 6) <= 0.3
             |                AND round(CAST(a.dc AS DOUBLE) / nullif(a.tc, 0), 6) <= 0.2,
             |                false) AS pass
             |FROM documents d LEFT JOIN agg a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
      (s, dir) =>
        TextAnalysis.gopherLineRules(
            Tables(s, dir, "documents").select(col("doc_id"),
              Dedup.reflowLines(col("text"), 7).as("text")),
            "doc_id", "text")
          .orderBy("doc_id")),

    // ----- epoch-replicated target mixture (upsampling) -----
    Q("q132_mixture_epochs",
      "hit the target lang mixture by REPLICATION (training epochs): " +
        "N* = max(n_d/target_d), rate_d >= 1, floor(rate) epochs per doc " +
        "+ md5-fractional extra — map-side explode, corpus never shuffles",
      Some("""WITH t(g, target) AS (VALUES ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)), ('es', CAST(0.1 AS DOUBLE))),
             |c AS (SELECT lang AS g, count(*) AS n FROM documents GROUP BY lang),
             |j AS (SELECT c.g, c.n, t.target FROM c JOIN t USING (g)),
             |ns AS (SELECT max(CAST(n AS DOUBLE) / target) AS nstar FROM j),
             |r AS (SELECT g, round(target * nstar / CAST(n AS DOUBLE), 6) AS rate FROM j, ns),
             |e AS (
             |  SELECT d.doc_id, d.lang,
             |         CAST(floor(r.rate) AS BIGINT) +
             |         CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |                   < round((r.rate - floor(r.rate)) * 4294967296.0)
             |              THEN 1 ELSE 0 END AS k
             |  FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.g)
             |SELECT doc_id, lang, CAST(unnest(range(k)) AS BIGINT) AS epoch
             |FROM e ORDER BY doc_id, epoch""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.mixtureEpochs(
            Tables(s, dir, "documents"), "doc_id", "lang",
            Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1))
          .orderBy("doc_id", "epoch")),

    // ----- sentence-boundary chunking -----
    Q("q133_sentence_chunks",
      "greedy sentence-boundary chunking to a 16-token budget: whole " +
        "sentences per chunk, marker-substitution boundary regex (RE2-" +
        "portable, no lookbehind), HOF running sums — fully map-side; " +
        "sentence ends synthesized onto the punctuation-free testdata " +
        "by the same deterministic regex in both engines",
      Some("""WITH s0 AS (
             |  SELECT doc_id, string_split(regexp_replace(regexp_replace(text, '(scan|join|sort) ', '\1. ', 'g'), '([.!?])[ \t\n\x0B\f\r]+', '\1' || chr(1), 'g'), chr(1)) AS ss
             |  FROM documents),
             |s1 AS (
             |  SELECT doc_id, i, s FROM (
             |    SELECT doc_id, generate_subscripts(ss, 1) AS i, unnest(ss) AS s FROM s0)
             |  WHERE trim(s) <> ''),
             |s2 AS (
             |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i2, s,
             |         len(list_filter(string_split_regex(s, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS n
             |  FROM s1),
             |s3 AS (
             |  SELECT doc_id, i2, s, n,
             |         coalesce(sum(n) OVER (PARTITION BY doc_id ORDER BY i2
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 16 AS chunk_id
             |  FROM s2)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |       CAST(count(*) AS BIGINT) AS n_sentences,
             |       CAST(sum(n) AS BIGINT) AS n_tokens,
             |       string_agg(s, ' ' ORDER BY i2) AS chunk_text
             |FROM s3 GROUP BY doc_id, chunk_id
             |ORDER BY doc_id, chunk_id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sampling.chunkSentences(
            Tables(s, dir, "documents")
              .withColumn("ptext",
                regexp_replace(col("text"), "(scan|join|sort) ", "$1. ")),
            "doc_id", "ptext", maxTokens = 16)
          .orderBy("doc_id", "chunk_id")),

    // ----- contrastive hard-negative mining -----
    Q("q134_hard_negatives",
      "contrastive hard-negative mining: top-5 most-similar DIFFERENT-" +
        "label corpus vectors per query (vec_id % 100 = 0) — the " +
        "boundary-hugging negatives triplet training wants; exact " +
        "baseline, per-query bounded window, deterministic tie-break",
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv, label
             |  FROM embeddings
             |), q AS (SELECT vec_id AS qid, vv AS qv, label AS ql FROM v WHERE vec_id % 100 = 0),
             | scored AS (
             |   SELECT qid, vec_id AS neighbor_id, label AS neg_label, """.stripMargin +
             cosSql("qv", "vv") + """ AS cos_sim
             |   FROM q, v WHERE qid <> vec_id AND ql IS DISTINCT FROM label)
             |SELECT qid, CAST(rn AS INT) AS rn, neighbor_id, neg_label, cos_sim FROM (
             |  SELECT qid, neighbor_id, neg_label, cos_sim,
             |         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
             |  FROM scored) WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),
      (s, dir) =>
        Similarity.hardNegatives(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", "label", col("vec_id") % 100 === 0, k = 5)
          .orderBy("qid", "rn")),

    // ----- BM25 lexical retrieval -----
    Q("q135_bm25_topk",
      "BM25 top-10 retrieval for query docs (doc_id % 100 = 0): " +
        "Robertson/Lucene idf ln((N-df+.5)/(df+.5)+1), k1=1.2 b=0.75, " +
        "distinct query terms, self excluded — word-keyed posting join, " +
        "broadcast query terms, 1-row stats crossJoin",
      Some(wCte + bm25Ctes + """,
             |sc AS (
             |  SELECT qt.qid, dw.doc_id AS did, """.stripMargin +
             bm25Sum + """ AS bm25
             |  FROM qt
             |  JOIN dw USING (word)
             |  JOIN dfr USING (word)
             |  JOIN dl ON dl.doc_id = dw.doc_id
             |  CROSS JOIN st
             |  WHERE dw.doc_id <> qt.qid
             |  GROUP BY qt.qid, dw.doc_id)
             |SELECT qid, rn, did, bm25 FROM (
             |  SELECT qid, did, bm25,
             |         CAST(row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, did) AS INT) AS rn
             |  FROM sc)
             |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin),
      (s, dir) =>
        graft.analytics.Retrieval.bm25TopK(Tables(s, dir, "documents"),
            "doc_id", "text", col("doc_id") % 100 === 0, k = 10)
          .orderBy("qid", "rn")),

    // ----- hybrid lexical + vector retrieval (RRF) -----
    Q("q136_hybrid_rrf",
      "hybrid retrieval: BM25 top-20 and cosine top-20 per query " +
        "(doc_id = vec_id % 100 = 0) fused by reciprocal rank " +
        "1/(60+rn), consensus top-5 — the RAG hybrid-search stack; " +
        "branch plans stay independent (BM25 never touches vectors)",
      Some(wCte + bm25Ctes + """,
             |sc AS (
             |  SELECT qt.qid, dw.doc_id AS did, """.stripMargin +
             bm25Sum + """ AS bm25
             |  FROM qt
             |  JOIN dw USING (word)
             |  JOIN dfr USING (word)
             |  JOIN dl ON dl.doc_id = dw.doc_id
             |  CROSS JOIN st
             |  WHERE dw.doc_id <> qt.qid
             |  GROUP BY qt.qid, dw.doc_id),
             |lex AS (SELECT qid, did, rn FROM (
             |  SELECT qid, did,
             |         row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, did) AS rn
             |  FROM sc) WHERE rn <= 20),
             |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
             |      FROM embeddings),
             |qv AS (SELECT vec_id AS qid, vv AS qvec FROM v WHERE vec_id % 100 = 0),
             |vsc AS (SELECT qid, vec_id AS did, """.stripMargin +
             cosSql("qvec", "vv") + """ AS cos_sim
             |       FROM qv, v WHERE qid <> vec_id),
             |vec AS (SELECT qid, did, rn FROM (
             |  SELECT qid, did,
             |         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, did) AS rn
             |  FROM vsc) WHERE rn <= 20),
             |u AS (SELECT qid, did, rn FROM lex
             |      UNION ALL SELECT qid, did, rn FROM vec),
             |f AS (SELECT qid, did,
             |             round(sum(1.0 / (60.0 + CAST(rn AS DOUBLE))), 6) AS rrf_score
             |      FROM u GROUP BY qid, did)
             |SELECT qid, rn, did, rrf_score FROM (
             |  SELECT qid, did, rrf_score,
             |         CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, did) AS INT) AS rn
             |  FROM f)
             |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),
      (s, dir) =>
        graft.analytics.Retrieval.hybridTopK(
            Tables(s, dir, "documents"), "doc_id", "text",
            Tables(s, dir, "embeddings"), "vec_id", "embedding",
            col("doc_id") % 100 === 0, col("vec_id") % 100 === 0,
            k = 5, poolK = 20)
          .orderBy("qid", "rn")),

    // ----- tokenizer fertility -----
    Q("q137_tokenizer_fertility",
      "per-language tokenizer fertility: corpus subword/word ratio + " +
        "chars-per-subword from the BPE-ish tokenizer — the vocab-budget " +
        "metric; exact long/long divisions, map-side counters, the text " +
        "never shuffles",
      Some("""WITH c AS (
             |  SELECT lang,
             |         len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS w,
             |         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bt,
             |         length(text) AS nc
             |  FROM documents)
             |SELECT lang,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(w) AS BIGINT) AS n_words,
             |       CAST(sum(bt) AS BIGINT) AS n_bpe_tokens,
             |       CAST(sum(bt) AS DOUBLE) / nullif(sum(w), 0) AS fertility,
             |       CAST(sum(nc) AS DOUBLE) / nullif(sum(bt), 0) AS chars_per_token
             |FROM c GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin),
      (s, dir) =>
        TextAnalysis.fertility(Tables(s, dir, "documents"),
            "doc_id", "text", "lang")
          .orderBy("lang")),

    // ----- retrieval-quality metrics -----
    Q("q139_retrieval_metrics",
      "MRR / recall@10 / nDCG@10 of the q135 BM25 run judged by label " +
        "agreement (embeddings.label, vec_id = doc_id; relevant = same " +
        "label, query excluded; unlabeled retrieved docs judged " +
        "non-relevant, unlabeled queries out of the eval) — the " +
        "retrieval-QA gate before rankings feed hard-negative mining; " +
        "all joins bounded by |queries| x k",
      Some(wCte + bm25Ctes + """,
             |sc AS (
             |  SELECT qt.qid, dw.doc_id AS did, """.stripMargin +
             bm25Sum + """ AS bm25
             |  FROM qt
             |  JOIN dw USING (word)
             |  JOIN dfr USING (word)
             |  JOIN dl ON dl.doc_id = dw.doc_id
             |  CROSS JOIN st
             |  WHERE dw.doc_id <> qt.qid
             |  GROUP BY qt.qid, dw.doc_id),
             |r AS (SELECT qid, did, rn FROM (
             |  SELECT qid, did,
             |         row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, did) AS rn
             |  FROM sc) WHERE rn <= 10),
             |lab AS (SELECT vec_id AS id, label FROM embeddings),
             |rt AS (SELECT label AS rlbl, CAST(count(*) AS BIGINT) AS cnt
             |       FROM lab GROUP BY label),
             |j AS (SELECT r.qid, r.rn, ql.label AS qlbl,
             |             CASE WHEN dl2.id IS NULL THEN 0
             |                  WHEN dl2.label IS NOT DISTINCT FROM ql.label
             |                  THEN 1 ELSE 0 END AS is_rel
             |      FROM r JOIN lab ql ON ql.id = r.qid
             |             LEFT JOIN lab dl2 ON dl2.id = r.did),
             |per AS (SELECT qid, qlbl,
             |               CAST(sum(is_rel) AS BIGINT) AS hits,
             |               min(CASE WHEN is_rel = 1 THEN rn END) AS first_rel,
             |               sum(CASE WHEN is_rel = 1
             |                        THEN 1.0 / log2(rn + 1.0) ELSE 0.0 END) AS dcg
             |        FROM j GROUP BY qid, qlbl),
             |fin AS (SELECT qid, coalesce(rt.cnt, 1) - 1 AS n_rel, hits,
             |               first_rel, dcg
             |        FROM per LEFT JOIN rt ON per.qlbl IS NOT DISTINCT FROM rt.rlbl)
             |SELECT qid, CAST(n_rel AS BIGINT) AS n_rel, hits,
             |       coalesce(1.0 / first_rel, 0.0) AS rr,
             |       CASE WHEN n_rel > 0
             |            THEN round(CAST(hits AS DOUBLE) / least(10, n_rel), 6)
             |       END AS recall_at_k,
             |       CASE WHEN n_rel > 0
             |            THEN round(dcg / list_sum(list_transform(
             |                   range(1, least(10, n_rel) + 1),
             |                   i -> 1.0 / log2(i + 1.0))), 6)
             |       END AS ndcg_at_k
             |FROM fin ORDER BY qid""".stripMargin),
      (s, dir) =>
        graft.analytics.Retrieval.rankingMetrics(
            graft.analytics.Retrieval.bm25TopK(Tables(s, dir, "documents"),
              "doc_id", "text", col("doc_id") % 100 === 0, k = 10),
            Tables(s, dir, "embeddings"), "vec_id", "label", k = 10)
          .orderBy("qid")),

    // ----- learned quality classifier (logistic regression) -----
    Q("q141_logreg_quality",
      "fastText/DCLM-style learned quality filter: full-batch logistic " +
        "regression on hashed-unigram tf/len features + bias, 30 GD " +
        "steps from w=0 with the round-6 gradient fixed-point (the " +
        "kmeans centroid-exchange trick), scoring every doc against the " +
        "lang='en' label — oracle is the SAME recurrence unrolled as " +
        "MATERIALIZED CTE triples",
      Some(logregScoreSql(iters = 30)),
      (s, dir) =>
        graft.analytics.Selection.logregQuality(Tables(s, dir, "documents"),
            "doc_id", "text", col("lang") === "en", dim = 64, iters = 30)
          .orderBy("id")),

    // ----- classifier ROC-AUC -----
    Q("q144_classifier_auc",
      "exact tie-aware ROC-AUC of the q141 classifier via the " +
        "Mann-Whitney midrank identity — long arithmetic until one " +
        "final division, bit-exact with NO rounding; the distinct-score " +
        "window is bounded at 1e6+1 rows by round-6 scores",
      Some(logregOracleSql(iters = 30) + """,
             | sq AS (SELECT round(1.0 / (1.0 + exp(-mg)), 6) AS score, y FROM m31),
             | gg AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             |               CAST(sum(y) AS BIGINT) AS np
             |        FROM sq GROUP BY score),
             | oo AS (SELECT score, cnt, np,
             |               coalesce(sum(cnt) OVER (ORDER BY score
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
             |        FROM gg),
             | tt AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
             |               CAST(sum(cnt - np) AS BIGINT) AS n_neg,
             |               CAST(sum(np * (2 * cb + cnt + 1)) AS BIGINT) AS s2
             |        FROM oo)
             |SELECT n_pos, n_neg,
             |       CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
             |         / nullif(CAST(2 * n_pos * n_neg AS DOUBLE), 0.0) AS auc
             |FROM tt""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.aucScore(
            graft.analytics.Selection.logregQuality(
              Tables(s, dir, "documents"),
              "doc_id", "text", col("lang") === "en", dim = 64, iters = 30),
            "score", "y")),

    // ----- classifier average precision -----
    Q("q145_avg_precision",
      "tie-grouped average precision of the q141 classifier (thresholds " +
        "sweep distinct scores descending; AP = sum np_g*(TP_g/N_g) / " +
        "nPos) — the PR summary that weights the ranking head, the " +
        "number that matters when a selection gate keeps the top few " +
        "percent; exact per-group ratios, round-6 final sum",
      Some(logregOracleSql(iters = 30) + """,
             | sq AS (SELECT round(1.0 / (1.0 + exp(-mg)), 6) AS score, y FROM m31),
             | gg AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             |               CAST(sum(y) AS BIGINT) AS np
             |        FROM sq GROUP BY score),
             | oo AS (SELECT score, cnt, np,
             |               sum(np) OVER (ORDER BY score DESC
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             |               sum(cnt) OVER (ORDER BY score DESC
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nc
             |        FROM gg),
             | tt AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
             |               CAST(sum(cnt - np) AS BIGINT) AS n_neg,
             |               sum(CAST(np AS DOUBLE)
             |                 * (CAST(tp AS DOUBLE) / CAST(nc AS DOUBLE))) AS s
             |        FROM oo)
             |SELECT n_pos, n_neg,
             |       round(s / nullif(CAST(n_pos AS DOUBLE), 0.0), 6) AS avg_precision
             |FROM tt""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.averagePrecision(
            graft.analytics.Selection.logregQuality(
              Tables(s, dir, "documents"),
              "doc_id", "text", col("lang") === "en", dim = 64, iters = 30),
            "score", "y")),

    // ----- train-once artifact path: persist model, score a holdout -----
    Q("q146_logreg_artifact_score",
      "the PRODUCTION quality-filter path: logregTrain on the md5-low " +
        "half of documents, model persisted to parquet and read back, " +
        "logregScore on the unseen md5-high half under the persisted " +
        "(b, wt, mu, s) artifact — train once, score many; the oracle " +
        "replays the training CTEs once on the same half and scores the " +
        "holdout's features with the trained weights",
      Some(logregOracleSql(iters = 30,
          trainWhere = "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'",
          holdoutWhere =
            Some("WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'")) +
        s"""
           |SELECT doc_id AS id, y,
           |       round(1.0 / (1.0 + exp(-mg)), 6) AS score,
           |       round(1.0 / (1.0 + exp(-mg)), 6) >= 0.5 AS keep
           |FROM m31 ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val half = substring(md5(col("doc_id").cast("string")), 1, 1)
        val modelDir = java.nio.file.Files
          .createTempDirectory("graft_q146_model")
        try {
          graft.analytics.Selection.logregTrain(docs.filter(half < "8"),
              "doc_id", "text", col("lang") === "en", dim = 64, iters = 30)
            .write.mode("overwrite").parquet(modelDir.toString)
          graft.analytics.Selection.logregScore(
              s.read.parquet(modelDir.toString),
              docs.filter(half >= "8"), "doc_id", "text",
              col("lang") === "en", dim = 64)
            .orderBy("id")
        } finally {
          // logregScore COLLECTS the 65-row model eagerly, so the lazy
          // scored plan no longer references the parquet — safe to
          // delete now rather than leak one model dir per invocation
          graft.sources.FileTree.delete(modelDir)
        }
      }),

    // ----- per-source vocabulary drift -----
    Q("q143_vocab_drift",
      "per-source unigram KL(source || corpus): the drift statistic " +
        "that flags a source whose word mix diverges from the blend; " +
        "restricted to the source's own support so no smoothing — " +
        "exact-count ratios, round-6 sum; one (source, word) agg reused " +
        "by totals + corpus table + scoring join",
      Some("""WITH w AS (
             |  SELECT source, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
             |  FROM documents),
             |sw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
             |       FROM w GROUP BY source, word),
             |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS t
             |       FROM sw GROUP BY source),
             |cw AS (SELECT word, CAST(sum(c) AS BIGINT) AS cw
             |       FROM sw GROUP BY word),
             |ct AS (SELECT CAST(sum(cw) AS DOUBLE) AS tt FROM cw)
             |SELECT sw.source, st.t AS n_tokens,
             |       CAST(count(*) AS BIGINT) AS n_distinct,
             |       round(sum((CAST(sw.c AS DOUBLE) / CAST(st.t AS DOUBLE))
             |         * ln((CAST(sw.c AS DOUBLE) / CAST(st.t AS DOUBLE))
             |               / (CAST(cw.cw AS DOUBLE) / ct.tt))), 6) AS kl_vs_corpus
             |FROM sw JOIN st USING (source) JOIN cw USING (word) CROSS JOIN ct
             |GROUP BY sw.source, st.t
             |ORDER BY sw.source""".stripMargin),
      (s, dir) =>
        TextAnalysis.vocabDrift(Tables(s, dir, "documents"),
            "text", "source")
          .orderBy("source")),

    // ----- classifier calibration -----
    Q("q142_calibration_bins",
      "reliability-diagram bins of the q141 classifier: 10 equal-width " +
        "score bins, per-bin count, mean predicted score, observed " +
        "positive fraction — the ECE table behind the keep-threshold " +
        "choice; one map-side bin projection + a bins-row partial agg",
      Some(logregCalibrationSql(iters = 30, bins = 10)),
      (s, dir) =>
        graft.analytics.Stats.calibrationBins(
            graft.analytics.Selection.logregQuality(
              Tables(s, dir, "documents"),
              "doc_id", "text", col("lang") === "en", dim = 64, iters = 30),
            "score", "y", bins = 10)
          .orderBy("bin")),

    // ----- exact heavy hitters via bounded Misra-Gries candidates -----
    Q("q153_heavy_hitters",
      "exact corpus heavy hitters (words with freq > N/32) through the " +
        "two-pass Misra-Gries plan: the bounded k=32 mergeable summary " +
        "yields a guaranteed candidate superset in one scan, then ONLY " +
        "candidates are recounted exactly (map-side <=k-literal In " +
        "filter, partial agg over <=k keys) — no vocabulary-sized " +
        "aggregation state ever forms on any task",
      Some(wCte + """,
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM wf)
             |SELECT word AS item, c AS cnt,
             |       round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac
             |FROM wf, tot WHERE c * 32 > n ORDER BY item""".stripMargin),
      (s, dir) =>
        graft.analytics.Sketches.heavyHitters(
            Tables(s, dir, "documents")
              .select(explode(Dedup.tokens(col("text"))).as("word")),
            col("word"), k = 32)
          .orderBy("item")),

    // ----- Zipf frequency-rank fit -----
    Q("q155_zipf_slope",
      "OLS slope/intercept of ln(freq) on ln(rank) over the top-1000 " +
        "vocabulary — the one-glance corpus-health diagnostic (natural " +
        "text near -1, templated text flat); rank comes from the " +
        "distributed top-N TakeOrdered, never a full-vocab window, and " +
        "the regression is one partial-aggregable moments pass",
      Some(wCte + """,
             |rk AS (SELECT word, c,
             |              row_number() OVER (ORDER BY c DESC, word) AS rank
             |       FROM wf),
             |pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
             |               ln(CAST(c AS DOUBLE)) AS y
             |        FROM rk WHERE rank <= 1000)
             |SELECT CAST(count(*) AS BIGINT) AS n_words,
             |       round(regr_slope(y, x), 6) AS zipf_slope,
             |       round(regr_intercept(y, x), 6) AS log_intercept
             |FROM pts""".stripMargin),
      (s, dir) =>
        TextAnalysis.zipfSlope(Tables(s, dir, "documents"),
          "doc_id", "text", topN = 1000)),

    // ----- per-language adaptive length gate -----
    Q("q156_length_gate",
      "per-language adaptive length gate: keep docs whose n_chars lies " +
        "within their OWN language's exact [p05, p95] percentiles — " +
        "per-group thresholds instead of one global cutoff; the " +
        "thresholds table is language-dictionary-sized and broadcast, " +
        "the keep flag entirely map-side",
      Some("""WITH thr AS (
             |  SELECT lang, round(quantile_cont(n_chars, 0.05), 6) AS p_lo,
             |         round(quantile_cont(n_chars, 0.95), 6) AS p_hi
             |  FROM documents GROUP BY lang)
             |SELECT d.doc_id AS id, d.lang, d.n_chars, t.p_lo, t.p_hi,
             |       d.n_chars >= t.p_lo AND d.n_chars <= t.p_hi AS keep
             |FROM documents d JOIN thr t ON d.lang = t.lang
             |ORDER BY id""".stripMargin),
      (s, dir) =>
        graft.analytics.Selection.lengthPercentileGate(
            Tables(s, dir, "documents"), "doc_id", "n_chars", "lang",
            lo = 0.05, hi = 0.95)
          .orderBy("id")),

    // ----- cluster-stratified coreset via bounded native top-k -----
    Q("q158_cluster_coreset",
      "the m=25 vectors closest to their centroid from EVERY k-means " +
        "cluster — diversity-balanced prototype selection; per-cluster " +
        "pick is the bounded native top_k_by aggregate (k pairs of " +
        "state, map-side combined), never the row_number window the " +
        "oracle replays — a 1e8-member cluster keeps 25 without " +
        "sorting itself through one task",
      Some(kmCte + """,
             |sel AS (
             |  SELECT vec_id, c, round(d2, 6) AS dist2,
             |         row_number() OVER (PARTITION BY c
             |           ORDER BY round(d2, 6), vec_id) AS rank
             |  FROM a2)
             |SELECT CAST(c AS INT) AS cluster, CAST(rank AS INT) AS rank,
             |       vec_id, dist2
             |FROM sel WHERE rank <= 25 ORDER BY cluster, rank""".stripMargin),
      (s, dir) =>
        graft.analytics.Cluster.clusterCoreset(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", k = 8, iters = 2, m = 25)
          .orderBy("cluster", "rank")),

    // ----- corpus snapshot diff -----
    Q("q159_snapshot_diff",
      "added/removed/changed/unchanged audit between two corpus " +
        "versions (new snapshot derived deterministically: %7 ids " +
        "removed, %5 texts revised, %11 re-added under shifted ids) — " +
        "each side compresses to (id, md5) BEFORE the full-outer join, " +
        "so the shuffle carries 48-byte rows, never document bodies",
      Some("""WITH newsnap AS (
             |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
             |                      ELSE text END AS text
             |  FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents
             |  WHERE doc_id % 11 = 0),
             |o AS (SELECT doc_id AS id, md5(text) AS fp_old FROM documents),
             |n AS (SELECT doc_id AS id, md5(text) AS fp_new FROM newsnap)
             |SELECT coalesce(o.id, n.id) AS id,
             |       CASE WHEN o.id IS NULL THEN 'added'
             |            WHEN n.id IS NULL THEN 'removed'
             |            WHEN fp_old = fp_new THEN 'unchanged'
             |            ELSE 'changed' END AS status
             |FROM o FULL OUTER JOIN n ON o.id = n.id
             |ORDER BY id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        Dedup.snapshotDiff(docs, newSnap, "doc_id", "text").orderBy("id")
      }),

    // ----- incremental aggregate maintenance over a snapshot diff -----
    Q("q164_incremental_agg",
      "maintain the per-source (n_docs, total_chars) aggregate across a " +
        "corpus refresh WITHOUT re-aggregating unchanged rows: q159's " +
        "diff selects only added/removed/changed ids, their per-source " +
        "deltas merge into the v1 aggregate, and the result equals the " +
        "direct v2 aggregate (the oracle computes it directly) — " +
        "incremental view maintenance, where the refresh touches the " +
        "delta instead of the corpus",
      Some("""WITH v1 AS (SELECT doc_id, source, text FROM documents),
             |v2 AS (
             |  SELECT doc_id, source,
             |         CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
             |              ELSE text END AS text
             |  FROM v1 WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, source, text FROM v1
             |  WHERE doc_id % 11 = 0)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(length(text)) AS BIGINT) AS total_chars
             |FROM v2 GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val v1 = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val v2 = v1.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")).as("text"))
          .unionByName(v1.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
              col("text")))
        // the persisted v1 aggregate (production: a stored table)
        val oldAgg = v1.groupBy("source")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(length(col("text"))).cast("long").as("chars"))
        // per-source deltas from ONLY the non-unchanged ids — the whole
        // point: unchanged rows are never re-read past the diff's
        // (id, md5) projection
        val delta = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
          .filter(col("status") =!= "unchanged")
          .join(v1.select(col("doc_id").as("id"),
            col("source").as("src_old"),
            length(col("text")).cast("long").as("len_old")), Seq("id"), "left")
          .join(v2.select(col("doc_id").as("id"),
            col("source").as("src_new"),
            length(col("text")).cast("long").as("len_new")), Seq("id"), "left")
          .select(coalesce(col("src_new"), col("src_old")).as("source"),
            when(col("status") === "added", 1L)
              .when(col("status") === "removed", -1L)
              .otherwise(0L).as("dn"),
            (coalesce(col("len_new"), lit(0L)) -
              coalesce(col("len_old"), lit(0L))).as("dchars"))
          .groupBy("source")
          .agg(sum(col("dn")).as("dn"), sum(col("dchars")).as("dchars"))
        oldAgg.join(delta, Seq("source"), "full_outer")
          .select(col("source"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .cast("long").as("n_docs"),
            (coalesce(col("chars"), lit(0L)) +
              coalesce(col("dchars"), lit(0L)))
              .cast("long").as("total_chars"))
          .filter(col("n_docs") > 0)
          .orderBy("source")
      }),

    // ----- LSH candidate quality vs exact ground truth -----
    Q("q160_lsh_recall",
      "recall/precision of the q19 LSH candidate pairs against the " +
        "exact Jaccard>=0.5 ground truth (q18 machinery) — the " +
        "calibration harness a pipeline runs ON A SAMPLE before " +
        "trusting banding parameters corpus-wide: the exact side's " +
        "pair join is only feasible at tuning scale, the LSH side is " +
        "the production path; one full-outer pair join + 1-row metrics",
      Some(shCapped + lshCte + """,
             | counts AS (SELECT doc, count(*) AS n FROM sh0 GROUP BY doc),
             | inter AS (
             |   SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter_n
             |   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
             |   GROUP BY 1, 2),
             | tp AS (
             |   SELECT doc_a, doc_b FROM inter
             |   JOIN counts ca ON ca.doc = doc_a
             |   JOIN counts cb ON cb.doc = doc_b
             |   WHERE CAST(inter_n AS DOUBLE) / (ca.n + cb.n - inter_n) >= 0.5),
             | j AS (
             |   SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_true,
             |          CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_cand
             |   FROM tp t FULL OUTER JOIN cand c
             |     ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
             |SELECT CAST(sum(in_true) AS BIGINT) AS n_true,
             |       CAST(sum(in_cand) AS BIGINT) AS n_cand,
             |       CAST(sum(in_true * in_cand) AS BIGINT) AS n_hit,
             |       round(CAST(sum(in_true * in_cand) AS DOUBLE)
             |         / nullif(sum(in_true), 0), 6) AS pair_recall,
             |       round(CAST(sum(in_true * in_cand) AS DOUBLE)
             |         / nullif(sum(in_cand), 0), 6) AS pair_precision
             |FROM j""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val t = Dedup.ngramJaccardPairsFromDocs(docs, "doc_id", "text",
            minJaccard = 0.5, n = 3, maxDocFreq = 1000)
          .select(col("doc_a"), col("doc_b"), lit(1).as("in_true"))
        val c = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
            n = 3, numHashes = 8, bandSize = 2, maxBucket = 1000)
          .select(col("doc_a"), col("doc_b"), lit(1).as("in_cand"))
        val it = coalesce(col("in_true"), lit(0))
        val ic = coalesce(col("in_cand"), lit(0))
        t.join(c, Seq("doc_a", "doc_b"), "full_outer")
          .agg(sum(it).cast("long").as("n_true"),
            sum(ic).cast("long").as("n_cand"),
            sum(it * ic).cast("long").as("n_hit"),
            round(sum(it * ic).cast("double") /
              nullif(sum(it), lit(0)), 6).as("pair_recall"),
            round(sum(it * ic).cast("double") /
              nullif(sum(ic), lit(0)), 6).as("pair_precision"))
      }),

    // ----- log-histogram quantile sketch -----
    Q("q167_loghist_quantiles",
      "per-source p50/p90/p99 of n_chars from the bounded native " +
        "log_hist aggregate — the HDR-style base-2 log-linear histogram " +
        "(16 sub-buckets per octave, relative error < 1/16, values < 16 " +
        "exact): ONE pass, 960 integer counters per group, map-side " +
        "partials, merges by addition (streaming-state-safe) — where " +
        "exact percentile() holds every distinct value per group; " +
        "bucket boundaries are pure integer shifts (never log()), so " +
        "the oracle reproduces every index from length(bin(x))",
      Some("""WITH b AS (
             |  SELECT source,
             |         CASE WHEN n_chars < 16 THEN n_chars
             |              ELSE ((length(bin(n_chars)) - 4) << 4)
             |                   + (n_chars >> (length(bin(n_chars)) - 5)) - 16
             |         END AS idx
             |  FROM documents WHERE n_chars >= 1),
             |g AS (SELECT source, idx, CAST(count(*) AS BIGINT) AS c
             |      FROM b GROUP BY source, idx),
             |cm AS (
             |  SELECT source, idx, c,
             |         CAST(sum(c) OVER (PARTITION BY source ORDER BY idx)
             |              AS BIGINT) AS cum,
             |         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
             |  FROM g),
             |lb AS (
             |  SELECT *, CASE WHEN idx < 16 THEN idx
             |                 ELSE ((idx % 16) + 16) << ((idx // 16) - 1)
             |            END AS lo
             |  FROM cm)
             |SELECT source, max(n) AS n,
             |       CAST(min(CASE WHEN cum >= ceil(0.5 * n) THEN lo END)
             |            AS BIGINT) AS p50,
             |       CAST(min(CASE WHEN cum >= ceil(0.9 * n) THEN lo END)
             |            AS BIGINT) AS p90,
             |       CAST(min(CASE WHEN cum >= ceil(0.99 * n) THEN lo END)
             |            AS BIGINT) AS p99
             |FROM lb GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) =>
        graft.analytics.Sketches.logHistQuantiles(
            Tables(s, dir, "documents"), "source", col("n_chars"),
            subBits = 4, qs = Seq(0.5, 0.9, 0.99))
          .orderBy("source")),

    // ----- exact similarity join via prefix filtering -----
    Q("q168_prefix_filter_join",
      "EXACT Jaccard>=0.5 pairs via prefix filtering (Bayardo et al. " +
        "WWW'07): each doc indexes only its |T|-ceil(tau|T|)+1 RAREST " +
        "shingles (df-ascending order), qualifying pairs provably " +
        "collide there, candidates verify against the per-doc sorted " +
        "arrays — the exact-answer scale path next to q18's df-capped " +
        "index: no cap, no lower-bound answer, and the indexed fraction " +
        "is precisely the shingles with the SMALLEST inverted lists",
      Some(shCte + """,
             | cnt AS (SELECT doc, CAST(count(*) AS BIGINT) AS n
             |         FROM sh0 GROUP BY doc),
             | dfq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df
             |         FROM sh0 GROUP BY sh),
             | rk AS (
             |   SELECT s.doc, s.sh, c.n,
             |          row_number() OVER (PARTITION BY s.doc
             |            ORDER BY d.df, s.sh) AS r
             |   FROM sh0 s JOIN dfq d USING (sh) JOIN cnt c USING (doc)),
             | pre AS (SELECT doc, sh FROM rk
             |         WHERE r <= n - ceil(0.5 * n) + 1),
             | cand AS (
             |   SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
             |   FROM pre a JOIN pre b ON a.sh = b.sh AND a.doc < b.doc),
             | inter AS (
             |   SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter_n
             |   FROM cand c JOIN sh0 x ON x.doc = c.doc_a
             |               JOIN sh0 y ON y.doc = c.doc_b AND y.sh = x.sh
             |   GROUP BY c.doc_a, c.doc_b)
             |SELECT i.doc_a, i.doc_b, i.inter_n, ca.n AS n_a, cb.n AS n_b,
             |       CAST(i.inter_n AS DOUBLE) / (ca.n + cb.n - i.inter_n)
             |         AS jaccard
             |FROM inter i JOIN cnt ca ON ca.doc = i.doc_a
             |             JOIN cnt cb ON cb.doc = i.doc_b
             |WHERE CAST(i.inter_n AS DOUBLE) / (ca.n + cb.n - i.inter_n)
             |      >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) =>
        Dedup.prefixFilterJaccardPairs(Tables(s, dir, "documents"),
            "doc_id", "text", minJaccard = 0.5, n = 3)
          .orderBy("doc_a", "doc_b")),

    // ----- KMV sketch set operations: pairwise overlap matrix -----
    Q("q169_kmv_overlap",
      "distinct-user overlap between every event-type pair from KMV " +
        "sketches alone (theta-sketch union rule: k smallest of the " +
        "merged sketches estimates |A∪B|, inclusion-exclusion gives " +
        "|A∩B| and Jaccard) — the audience-overlap matrix WITHOUT " +
        "rescanning the feed: one corpus pass builds dictionary-sized " +
        "sketch rows, the pair probe is a broadcast cross of that tiny " +
        "table, every merge a bounded 2k-element array op; the exact " +
        "q115-style matrix shuffles every (group, value) pair instead",
      Some("""WITH h AS (
             |  SELECT DISTINCT event_type AS key,
             |         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
             |  FROM events),
             |rk AS (SELECT key, h,
             |         row_number() OVER (PARTITION BY key ORDER BY h) AS rn
             |       FROM h),
             |sk AS (SELECT key, list(h ORDER BY h) AS l
             |       FROM rk WHERE rn <= 64 GROUP BY key),
             |p AS (SELECT a.key AS key_a, b.key AS key_b, a.l AS la,
             |             b.l AS lb,
             |             list_sort(list_distinct(list_concat(a.l, b.l)))[:64] AS lu
             |      FROM sk a JOIN sk b ON a.key < b.key),
             |e AS (SELECT key_a, key_b,
             |        CASE WHEN len(la) < 64 THEN CAST(len(la) AS DOUBLE)
             |             ELSE 63 / (CAST(la[64] AS DOUBLE) / 1152921504606846976)
             |        END AS ea,
             |        CASE WHEN len(lb) < 64 THEN CAST(len(lb) AS DOUBLE)
             |             ELSE 63 / (CAST(lb[64] AS DOUBLE) / 1152921504606846976)
             |        END AS eb,
             |        CASE WHEN len(lu) < 64 THEN CAST(len(lu) AS DOUBLE)
             |             ELSE 63 / (CAST(lu[64] AS DOUBLE) / 1152921504606846976)
             |        END AS eu
             |      FROM p)
             |SELECT key_a, key_b, round(ea, 6) AS est_a, round(eb, 6) AS est_b,
             |       round(eu, 6) AS est_union,
             |       round(greatest(0.0, ea + eb - eu), 6) AS est_inter,
             |       round(greatest(0.0, ea + eb - eu) / eu, 6) AS est_jaccard
             |FROM e ORDER BY key_a, key_b""".stripMargin),
      (s, dir) =>
        graft.analytics.Sketches.kmvOverlap(Tables(s, dir, "events"),
            "event_type", col("user_id").cast("string"), k = 64)
          .orderBy("key_a", "key_b")),

    // ----- PageRank over the near-dup candidate graph -----
    Q("q173_pagerank",
      "PageRank (10 rounds, d=0.85) over the UNDIRECTED q19 LSH " +
        "candidate graph — centrality in the duplicate graph ranks the " +
        "boilerplate templates a raw dup-count misses; each round is " +
        "one edge-keyed join + node-keyed agg over the persisted " +
        "symmetrized edges (N is the single driver scalar); a " +
        "dictionary-sized edge set (<= spark.graft.gate.graph) " +
        "runs the same recurrence driver-side over one edge collect " +
        "(the bradleyTerry gate pattern, branch equality spec-pinned)",
      Some(pageRankOracleSql(iters = 10, damping = 0.85)),
      (s, dir) =>
        graft.analytics.Graph.pageRank(
            Dedup.minhashCandidatePairs(Tables(s, dir, "documents"),
              "doc_id", "text", n = 3, numHashes = 8, bandSize = 2,
              maxBucket = 1000),
            "doc_a", "doc_b", iters = 10, damping = 0.85)
          .orderBy("node")),

    // ----- triangle counts / clustering coefficient -----
    Q("q174_triangles",
      "per-node triangle counts + local clustering coefficient over " +
        "the q19 candidate graph (each triangle enumerated once in " +
        "a<b<c orientation by the standard two-join wedge plan) — " +
        "clustering near 1 marks tight clone clusters, low clustering " +
        "with high degree marks chained drift or a template hub; two " +
        "equi-joins + one node-keyed count, no neighborhood arrays",
      Some(shCte + lshCte + """,
             | ed AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand),
             | dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
             |          SELECT a AS v FROM ed
             |          UNION ALL SELECT b FROM ed) GROUP BY v),
             | tri AS (
             |   SELECT e1.a, e1.b, e2.b AS c
             |   FROM ed e1 JOIN ed e2 ON e2.a = e1.b
             |   JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
             | pn AS (SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
             |        FROM (SELECT a AS v FROM tri
             |              UNION ALL SELECT b FROM tri
             |              UNION ALL SELECT c FROM tri) GROUP BY v)
             |SELECT dg.v AS node, dg.deg,
             |       coalesce(pn.n_triangles, CAST(0 AS BIGINT))
             |         AS n_triangles,
             |       CASE WHEN dg.deg >= 2
             |            THEN round(2.0 * coalesce(pn.n_triangles, 0)
             |              / (dg.deg * (dg.deg - 1)), 6) END AS clustering
             |FROM dg LEFT JOIN pn ON pn.v = dg.v
             |ORDER BY node""".stripMargin),
      (s, dir) =>
        graft.analytics.Graph.triangleCounts(
            Dedup.minhashCandidatePairs(Tables(s, dir, "documents"),
              "doc_id", "text", n = 3, numHashes = 8, bandSize = 2,
              maxBucket = 1000),
            "doc_a", "doc_b")
          .orderBy("node")),

    // ----- IVF-PQ with exact re-rank: the full ANN serving pipeline -----
    Q("q175_ivf_pq_rerank",
      "the FAISS-shape IVF-PQ serving pipeline in one plan: queries " +
        "probe nprobe=2 trained centroids, candidates from ONLY those " +
        "inverted lists score by ASYMMETRIC distance against 8-byte PQ " +
        "codes (no corpus vector touched), the top-25 ADC shortlist " +
        "re-ranks by exact distance, top-5 emerge — the recall/latency " +
        "dial is (nprobe, shortlist); composes the q95 trained index " +
        "with the q79 codes under one probe",
      Some(kmCte + pqTail + """,
             |q AS (SELECT vec_id AS qid, vv AS qv FROM v
             |      WHERE vec_id % 100 = 0),
             |pr AS (
             |  SELECT qid, qv, c AS pc FROM (
             |    SELECT q.qid, q.qv, i.c,
             |           row_number() OVER (PARTITION BY q.qid
             |             ORDER BY round(pow(list_distance(q.qv, i.cv), 2), 6), i.c) AS rn
             |    FROM q, cent2 i) WHERE rn <= 2),
             |adc AS (
             |  SELECT p.qid, a.vec_id AS nid,
             |         round(sum(pow(list_distance(p.qv[e.s*8+1 : e.s*8+8], cb.cv[e.s*8+1 : e.s*8+8]), 2)), 6) AS adist
             |  FROM pr p JOIN a2 a ON a.c = p.pc AND a.vec_id <> p.qid
             |  JOIN sel e ON e.vec_id = a.vec_id JOIN cb ON cb.j = e.j
             |  GROUP BY p.qid, a.vec_id),
             |sh AS (
             |  SELECT qid, nid FROM (
             |    SELECT qid, nid,
             |           row_number() OVER (PARTITION BY qid
             |             ORDER BY adist, nid) AS ra
             |    FROM adc) WHERE ra <= 25),
             |ex AS (
             |  SELECT s.qid, s.nid,
             |         round(pow(list_distance(q.qv, v.vv), 2), 6) AS dist2
             |  FROM sh s JOIN q ON q.qid = s.qid
             |            JOIN v ON v.vec_id = s.nid)
             |SELECT qid AS query_id, CAST(rn AS INT) AS rank,
             |       nid AS neighbor_id, dist2
             |FROM (SELECT qid, nid, dist2,
             |             row_number() OVER (PARTITION BY qid
             |               ORDER BY dist2, nid) AS rn
             |      FROM ex) WHERE rn <= 5
             |ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        graft.analytics.Cluster.ivfPqTopK(
            graft.analytics.Cluster.train(emb, "vec_id", "embedding",
              k = 8, iters = 2),
            emb, "vec_id", "embedding",
            queryPred = col("vec_id") % 100 === 0,
            kTop = 5, nprobe = 2, shortlist = 25, m = 8, kCodes = 16)
          .orderBy("query_id", "rank")
      }),

    // ----- sketch-based CDF normalization -----
    Q("q179_cdf_normalize",
      "per-doc percentile rank of n_chars within its OWN source's " +
        "distribution, from the broadcast log-hist sketch — the " +
        "cross-source score-fusion step, where exact cume_dist would " +
        "funnel each source through one task's sort: the per-source " +
        "histogram aggregates once (960 integer counters), broadcasts, " +
        "and the normalization is a pure map-side prefix-sum fold — " +
        "step-CDF at sketch resolution, monotone, deterministic",
      Some("""WITH b AS (
             |  SELECT doc_id, source, n_chars,
             |         CASE WHEN n_chars < 16 THEN n_chars
             |              ELSE ((length(bin(n_chars)) - 4) << 4)
             |                   + (n_chars >> (length(bin(n_chars)) - 5)) - 16
             |         END AS idx
             |  FROM documents),
             |g AS (SELECT source, idx, CAST(count(*) AS BIGINT) AS c
             |      FROM b WHERE n_chars >= 1 GROUP BY source, idx),
             |cm AS (
             |  SELECT source, idx,
             |         CAST(sum(c) OVER (PARTITION BY source ORDER BY idx)
             |              AS BIGINT) AS cum,
             |         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
             |  FROM g)
             |SELECT b.doc_id AS id, b.source, b.n_chars,
             |       CASE WHEN b.n_chars >= 1
             |            THEN round(CAST(cm.cum AS DOUBLE)
             |              / CAST(cm.n AS DOUBLE), 6) END AS cdf
             |FROM b LEFT JOIN cm
             |  ON cm.source = b.source AND cm.idx = b.idx
             |ORDER BY id""".stripMargin),
      (s, dir) =>
        graft.analytics.Sketches.logHistCdf(
            Tables(s, dir, "documents"), "doc_id", "n_chars", "source",
            subBits = 4)
          .orderBy("id")),

    // ----- sliding-window distinct via HLL register merging -----
    Q("q183_sliding_hll_users",
      "trailing-24h distinct users per (type, hour) by MERGING hourly " +
        "HLL registers with per-bucket MAX (the HLL union rule, " +
        "associative + idempotent) — the rolling-distinct dashboard " +
        "metric that exact count(distinct) can only serve by " +
        "re-scanning 24h of events per hour; each hour's estimate " +
        "reads 64 integers per covered hour, the bucket grid densifies " +
        "so buckets seen only earlier in the window still merge",
      Some("""WITH h0 AS (
             |  SELECT event_type AS key,
             |         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             |         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
             |  FROM events),
             |b AS (SELECT key, hr, CAST(h % 64 AS INT) AS bucket,
             |             h // 64 AS wv FROM h0),
             |r AS (SELECT key, hr, bucket,
             |        max(CASE WHEN wv = 0 THEN 55
             |                 ELSE CAST(floor(log2(wv & (-wv))) AS INT) + 1
             |            END) AS r
             |      FROM b GROUP BY 1, 2, 3),
             |grid AS (SELECT DISTINCT key, hr FROM r),
             |g2 AS (SELECT key, hr, CAST(unnest(range(0, 64)) AS INT) AS bucket
             |       FROM grid),
             |mg AS (
             |  SELECT g2.key, g2.hr, g2.bucket,
             |         max(r.r) OVER (PARTITION BY g2.key, g2.bucket
             |           ORDER BY g2.hr
             |           RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS rm
             |  FROM g2 LEFT JOIN r ON r.key = g2.key AND r.hr = g2.hr
             |                      AND r.bucket = g2.bucket),
             |mm AS (SELECT key, hr, rm AS r FROM mg WHERE rm IS NOT NULL),
             |ag AS (SELECT key, hr, sum(1::BIGINT << (55 - r)) AS s,
             |              count(*) AS nb
             |       FROM mm GROUP BY 1, 2),
             |e AS (SELECT key, hr, nb,
             |        ((CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)) * 4096) * 36028797018963968
             |          / CAST(s + (64 - nb) * 36028797018963968 AS DOUBLE) AS raw
             |      FROM ag)
             |SELECT key AS event_type, hr, CAST(nb AS BIGINT) AS n_registers,
             |       round(CASE WHEN raw <= 160 AND nb < 64
             |                  THEN 64 * ln(CAST(64 AS DOUBLE) / (64 - nb))
             |                  ELSE raw END, 6) + 0.0 AS est_distinct
             |FROM e ORDER BY event_type, hr""".stripMargin),
      (s, dir) =>
        graft.analytics.Sketches.hllSlidingDistinct(
            Tables(s, dir, "events"), "event_type", "ts",
            col("user_id").cast("string"), trailing = 24)
          .orderBy("event_type", "hr")),

    // ----- deterministic Bayesian-bootstrap mean CI -----
    Q("q184_bootstrap_ci",
      "hash-seeded Bayesian-bootstrap 95% CI for each type's mean event " +
        "value (Rubin 1981: Exp(1) weights w = -ln(u) with u from " +
        "md5(id|replicate) — REPRODUCIBLE resampling, no RNG state): " +
        "32 weighted replicate means, the CI their percentile band; " +
        "the explode is map-side and the percentile runs over 32 rows " +
        "per group — uncertainty without distributional assumptions",
      Some("""WITH rep AS (
             |  SELECT event_type AS key, value,
             |         CAST(unnest(range(0, 32)) AS INT) AS rep, event_id
             |  FROM events),
             |wts AS (
             |  SELECT key, rep, value,
             |         -ln((CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || '|' || CAST(rep AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE) + 1.0)
             |             / 1152921504606846976) AS w
             |  FROM rep),
             |mb AS (SELECT key, rep, round(sum(w * value) / sum(w), 6) AS mb
             |       FROM wts GROUP BY 1, 2),
             |ci AS (SELECT key, round(quantile_cont(mb, 0.025), 6) AS ci_lo,
             |              round(quantile_cont(mb, 0.975), 6) AS ci_hi
             |       FROM mb GROUP BY 1)
             |SELECT e.event_type, CAST(count(e.value) AS BIGINT) AS n,
             |       round(avg(e.value), 6) AS mean, ci.ci_lo, ci.ci_hi
             |FROM events e JOIN ci ON ci.key = e.event_type
             |GROUP BY e.event_type, ci.ci_lo, ci.ci_hi
             |ORDER BY e.event_type""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.bootstrapMeanCI(Tables(s, dir, "events"),
            "event_type", "value", "event_id", b = 32)
          .orderBy("event_type")),

    // ----- MMR diversified re-rank -----
    Q("q194_mmr_rerank",
      "Maximal Marginal Relevance top-5 from each query's 10-deep " +
        "cosine shortlist (lambda=0.7): greedy select maximizing " +
        "relevance minus max-similarity-to-selected, so near-duplicate " +
        "hits can't crowd the result page; candidate pair table is " +
        "10^2 rows per query; a dictionary-sized shortlist " +
        "(<= spark.graft.gate.mmr collected rows) collects probe + pair tables " +
        "once and replays the greedy argmax driver-side (the graph " +
        "gate pattern, branch equality spec-pinned), above the gate 5 " +
        "unrolled anti-join + penalty-max + argmax steps (the pageRank " +
        "unroll); every score rounded 6 with id tiebreak so the oracle " +
        "replays the exact greedy trajectory",
      Some(mmrOracleSql(candidates = 10, k = 5, lambda = 0.7)),
      (s, dir) =>
        graft.analytics.Similarity.mmrRerank(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", col("vec_id") % 100 === 0,
            candidates = 10, k = 5, lambda = 0.7)
          .orderBy("qid", "step")),

    // ----- PSI distribution drift -----
    Q("q195_psi_drift",
      "Population Stability Index per event type between the even- and " +
        "odd-user halves of the feed (fixed-width value bins, eps " +
        "floor, industry 0.1/0.25 thresholds) — the did-the-serving-" +
        "distribution-drift gate; two map-side-filtered (key, bin) " +
        "aggs joined full-outer, per-bin terms summed as scaled " +
        "integers so float order can't flip the rounded result",
      Some("""WITH r AS (
             |  SELECT event_type AS key,
             |         CAST(least(19, greatest(0, floor(value / 10.0))) AS INT) AS bkt,
             |         count(*) AS cr
             |  FROM events WHERE value IS NOT NULL AND user_id % 2 = 0
             |  GROUP BY 1, 2),
             |c AS (
             |  SELECT event_type AS key,
             |         CAST(least(19, greatest(0, floor(value / 10.0))) AS INT) AS bkt,
             |         count(*) AS cc
             |  FROM events WHERE value IS NOT NULL AND user_id % 2 = 1
             |  GROUP BY 1, 2),
             |j AS (SELECT coalesce(r.key, c.key) AS key,
             |             coalesce(r.bkt, c.bkt) AS bkt, r.cr, c.cc
             |      FROM r FULL OUTER JOIN c ON r.key = c.key AND r.bkt = c.bkt),
             |t AS (SELECT key, sum(coalesce(cr, 0)) AS nr,
             |             sum(coalesce(cc, 0)) AS nc
             |      FROM j GROUP BY 1),
             |s AS (SELECT j.key, t.nr, t.nc,
             |        greatest(CAST(coalesce(j.cr, 0) AS DOUBLE) / nullif(t.nr, 0), 0.0001) AS p,
             |        greatest(CAST(coalesce(j.cc, 0) AS DOUBLE) / nullif(t.nc, 0), 0.0001) AS q
             |      FROM j JOIN t ON t.key = j.key),
             |a AS (SELECT key, CAST(max(nr) AS BIGINT) AS n_ref,
             |             CAST(max(nc) AS BIGINT) AS n_cur,
             |             round(sum(CAST(round((p - q) * ln(p / q) * 1e9) AS BIGINT)) / 1e9 * 1e6) / 1e6 AS psi_raw
             |      FROM s GROUP BY key)
             |SELECT key, n_ref, n_cur,
             |       CASE WHEN n_ref > 0 AND n_cur > 0 THEN psi_raw END AS psi,
             |       CASE WHEN n_ref = 0 OR n_cur = 0 THEN 'no_data'
             |            WHEN psi_raw > 0.25 THEN 'drifted'
             |            WHEN psi_raw > 0.1 THEN 'watch'
             |            ELSE 'stable' END AS verdict
             |FROM a ORDER BY key""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.psiDrift(Tables(s, dir, "events"),
            "event_type", "value",
            refPred = col("user_id") % 2 === 0,
            curPred = col("user_id") % 2 === 1)
          .orderBy("key")),

    // ----- two-sample KS drift -----
    Q("q196_ks_drift",
      "two-sample Kolmogorov-Smirnov statistic per event type between " +
        "the even- and odd-user halves: max |F_ref - F_cur| over the " +
        "pooled distinct-value grid + the alpha=0.05 large-sample " +
        "threshold — the bin-free complement of q195; the feed " +
        "compresses to (key, value)-distinct counts, one window sort " +
        "over that table, one key-keyed max",
      Some("""WITH f AS (
             |  SELECT event_type AS key, value AS v,
             |         CAST(user_id % 2 = 0 AS BIGINT) AS ir,
             |         CAST(user_id % 2 = 1 AS BIGINT) AS ic
             |  FROM events
             |  WHERE value IS NOT NULL AND (user_id % 2 = 0 OR user_id % 2 = 1)),
             |g AS (SELECT key, v, sum(ir) AS cr, sum(ic) AS cc
             |      FROM f GROUP BY 1, 2),
             |cm AS (SELECT key, v,
             |         sum(cr) OVER (PARTITION BY key ORDER BY v) AS ar,
             |         sum(cc) OVER (PARTITION BY key ORDER BY v) AS ac
             |       FROM g),
             |t AS (SELECT key, max(ar) AS nr, max(ac) AS nc
             |      FROM cm GROUP BY 1),
             |gp AS (SELECT cm.key, t.nr, t.nc,
             |         abs(CAST(ar AS DOUBLE) / nullif(CAST(t.nr AS DOUBLE), 0)
             |           - CAST(ac AS DOUBLE) / nullif(CAST(t.nc AS DOUBLE), 0)) AS gap
             |       FROM cm JOIN t ON t.key = cm.key),
             |a AS (SELECT key, CAST(max(nr) AS BIGINT) AS n_ref,
             |             CAST(max(nc) AS BIGINT) AS n_cur,
             |             round(max(gap) * 1e6) / 1e6 AS ks
             |      FROM gp GROUP BY key)
             |SELECT key, n_ref, n_cur, ks,
             |       round(1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
             |         / nullif(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE), 0)) * 1e6) / 1e6 AS threshold,
             |       ks > round(1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
             |         / nullif(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE), 0)) * 1e6) / 1e6 AS drifted
             |FROM a ORDER BY key""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.ksDrift(Tables(s, dir, "events"),
            "event_type", "value",
            refPred = col("user_id") % 2 === 0,
            curPred = col("user_id") % 2 === 1)
          .orderBy("key")),

    // ----- k-core peel of the candidate graph -----
    Q("q197_kcore",
      "2-core membership of the q19 LSH candidate graph by 8 FIXED " +
        "peel rounds (drop degree<2 nodes + their edges, repeat): " +
        "strips template-hub pendants and exposed chains before " +
        "cluster analysis; each round is one node-keyed degree agg + " +
        "one survivor semi-join (the pageRank round shape), round " +
        "count part of the contract so the oracle replays the " +
        "identical partial peel; dictionary-sized edge sets peel " +
        "driver-side under the shared graph gate (integer-exact, " +
        "branch equality spec-pinned)",
      Some(kCoreOracleSql(k = 2, rounds = 8)),
      (s, dir) =>
        graft.analytics.Graph.kCore(
            Dedup.minhashCandidatePairs(Tables(s, dir, "documents"),
              "doc_id", "text", n = 3, numHashes = 8, bandSize = 2,
              maxBucket = 1000),
            "doc_a", "doc_b", k = 2, rounds = 8)
          .orderBy("node")),

    // ----- Cohen's kappa: metadata labels vs the language heuristic -----
    Q("q198_kappa",
      "Cohen's kappa between the documents table's source `lang` " +
        "metadata and the q22 language-ID heuristic — chance-corrected " +
        "agreement, THE reliability number for any labeling pipeline; " +
        "one agree-count pass + two label-keyed marginals collapsed to " +
        "the expected-agreement sum as scaled integers",
      Some("""WITH f AS (
             |  SELECT lang AS a,
             |         CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
             |              WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
             |              WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
             |              WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
             |              ELSE 'fr' END AS b
             |  FROM (SELECT lang,
             |          len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS en_hits,
             |          len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS de_hits,
             |          len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en)\b')) AS es_hits,
             |          len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|que)\b')) AS fr_hits
             |        FROM documents)),
             |fb AS (SELECT a, b FROM f WHERE a IS NOT NULL AND b IS NOT NULL),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
             |        FROM fb),
             |ma AS (SELECT a AS lbl, count(*) AS ca FROM fb GROUP BY 1),
             |mb AS (SELECT b AS lbl, count(*) AS cb FROM fb GROUP BY 1),
             |pe AS (SELECT coalesce(sum(CAST(round(CAST(ca AS DOUBLE) / tot.n
             |                 * (CAST(cb AS DOUBLE) / tot.n) * 1e9) AS BIGINT)),
             |               CAST(0 AS BIGINT)) AS pes
             |       FROM ma JOIN mb USING (lbl) CROSS JOIN tot),
             |o AS (SELECT tot.n,
             |             round(CAST(agree AS DOUBLE)
             |               / nullif(CAST(tot.n AS DOUBLE), 0) * 1e6) / 1e6 AS po,
             |             round(pes / 1e9 * 1e6) / 1e6 AS pe
             |      FROM tot CROSS JOIN pe)
             |SELECT n, po, pe,
             |       round((po - pe) / nullif(1.0 - pe, 0) * 1e6) / 1e6 AS kappa
             |FROM o""".stripMargin),
      (s, dir) =>
        graft.analytics.Stats.cohensKappa(
          TextAnalysis.corpusFlags(Tables(s, dir, "documents"), "text")
            .select(col("lang"), col("lang_guess")),
          "lang", "lang_guess")),

    // ----- Bradley-Terry preference aggregation -----
    Q("q199_bradley_terry",
      "Bradley-Terry strength scores over deterministic pairwise " +
        "preferences on the q19 candidate graph (the content-richer " +
        "doc of each pair wins; ties to the lower id) — the RLHF " +
        "preference-aggregation shape: 10 rounds of Hunter's MM " +
        "update with a phantom-opponent prior, each round two " +
        "node-keyed joins + one agg + a broadcast 1-row geometric-" +
        "mean normalize, the pageRank unroll replayed by the oracle",
      Some(bradleyTerryOracleSql(iters = 10)),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
          n = 3, numHashes = 8, bandSize = 2, maxBucket = 1000)
        val cmp = cand
          .join(docs.select(col("doc_id").as("doc_a"),
            col("n_chars").as("la")), Seq("doc_a"))
          .join(docs.select(col("doc_id").as("doc_b"),
            col("n_chars").as("lb")), Seq("doc_b"))
          .select(
            when(col("la") > col("lb"), col("doc_a"))
              .when(col("la") < col("lb"), col("doc_b"))
              .otherwise(least(col("doc_a"), col("doc_b"))).as("w"),
            when(col("la") > col("lb"), col("doc_b"))
              .when(col("la") < col("lb"), col("doc_a"))
              .otherwise(greatest(col("doc_a"), col("doc_b"))).as("l"))
        graft.analytics.Preference.bradleyTerry(cmp, "w", "l", iters = 10)
          .orderBy("node")
      }),

    // ----- per-source corpus scorecard -----
    Q("q200_source_scorecard",
      "the domain-curation rollup: per source, doc count, exact-dup " +
        "rate (min-id-per-fingerprint), mean tokens per doc, and share " +
        "of total corpus tokens — what keeping/dropping each source " +
        "actually costs; one map-side scan, the ~50-byte fingerprint " +
        "window, one source-keyed agg against the broadcast one-row " +
        "token total",
      Some("""WITH f AS (
             |  SELECT source, doc_id, md5(text) AS fp,
             |         CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS ntok,
             |         CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(text))
             |              THEN 1 ELSE 0 END AS is_dup
             |  FROM documents),
             |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |              CAST(sum(is_dup) AS BIGINT) AS n_dups,
             |              CAST(sum(ntok) AS BIGINT) AS toks
             |       FROM f GROUP BY 1),
             |tt AS (SELECT CAST(sum(toks) AS BIGINT) AS total_toks FROM ps)
             |SELECT source, n_docs,
             |       round(CAST(n_dups AS DOUBLE) / nullif(CAST(n_docs AS DOUBLE), 0) * 1e6) / 1e6 AS dup_rate,
             |       round(CAST(toks AS DOUBLE) / nullif(CAST(n_docs AS DOUBLE), 0) * 1e6) / 1e6 AS mean_tokens,
             |       round(CAST(toks AS DOUBLE) / nullif(CAST(tt.total_toks AS DOUBLE), 0) * 1e6) / 1e6 AS token_share
             |FROM ps CROSS JOIN tt ORDER BY source""".stripMargin),
      (s, dir) =>
        TextAnalysis.sourceScorecard(Tables(s, dir, "documents"),
            "doc_id", "text", "source")
          .orderBy("source")),

    // ----- margin-based pair mining (ratio margin) -----
    Q("q201_margin_mining",
      "LASER/CCMatrix-style margin mining between the even and odd " +
        "halves of the embedding corpus: each source pairs with the " +
        "target whose cosine stands out against BOTH points' k=4 " +
        "neighborhood averages (margin > 1.05) — raw thresholds can't " +
        "separate aligned pairs from dense regions, the ratio margin " +
        "can; cosines as scaled integers, neighborhood sums integer, " +
        "ONE integer-ratio division — the oracle replays bit-for-bit",
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
             |  FROM embeddings),
             |s AS (SELECT vec_id AS sid, vv AS sv FROM v WHERE vec_id % 2 = 0),
             |t AS (SELECT vec_id AS tid, vv AS tv FROM v WHERE vec_id % 2 <> 0),
             |sc AS MATERIALIZED (
             |  SELECT sid, tid,
             |         CAST(round(list_dot_product(sv, tv)
             |           / (sqrt(list_dot_product(sv, sv)) * sqrt(list_dot_product(tv, tv)))
             |           * 1e6) AS BIGINT) AS c6
             |  FROM s, t WHERE sid <> tid),
             |nx AS (SELECT sid, CAST(sum(c6) AS BIGINT) AS ax,
             |              CAST(count(*) AS BIGINT) AS kx FROM (
             |  SELECT sid, c6, row_number() OVER (PARTITION BY sid
             |           ORDER BY c6 DESC, tid) AS rn FROM sc)
             |  WHERE rn <= 4 GROUP BY sid),
             |ny AS (SELECT tid, CAST(sum(c6) AS BIGINT) AS ay,
             |              CAST(count(*) AS BIGINT) AS ky FROM (
             |  SELECT tid, c6, row_number() OVER (PARTITION BY tid
             |           ORDER BY c6 DESC, sid) AS rn FROM sc)
             |  WHERE rn <= 4 GROUP BY tid),
             |mg AS (SELECT sc.sid, sc.tid, sc.c6,
             |         round(CAST(sc.c6 AS DOUBLE) * 2 * nx.kx * ny.ky
             |           / nullif(CASE WHEN nx.ax * ny.ky + ny.ay * nx.kx > 0
             |                    THEN CAST(nx.ax * ny.ky + ny.ay * nx.kx AS DOUBLE) END, 0)
             |           * 1e6) / 1e6 AS margin
             |       FROM sc JOIN nx ON nx.sid = sc.sid
             |               JOIN ny ON ny.tid = sc.tid),
             |pk AS (SELECT sid, tid, c6, margin,
             |         row_number() OVER (PARTITION BY sid
             |           ORDER BY margin DESC, tid) AS rn
             |       FROM mg)
             |SELECT sid AS src_id, tid AS tgt_id, c6 / 1e6 AS cos_sim, margin
             |FROM pk WHERE rn = 1 AND margin > 1.05
             |ORDER BY src_id""".stripMargin),
      (s, dir) =>
        Similarity.marginMining(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", srcPred = col("vec_id") % 2 === 0,
            k = 4, minMargin = 1.05)
          .orderBy("src_id")),

    // ----- Adamic-Adar link prediction -----
    Q("q202_adamic_adar",
      "Adamic-Adar link prediction over the repeatedly-co-purchased " +
        "part graph (support >= 2 basket pairs — one-off coincidences " +
        "would close the graph into cliques with no open wedges to " +
        "predict): every non-adjacent pair sharing a neighbor scores " +
        "sum(1/ln(deg(z))) over common neighbors, rare shared " +
        "neighbors weighted over hubs; open wedges ARE the semantics " +
        "so the only principled bound is the center-degree cap (the " +
        "over-cap hub's term is the evidence the measure already " +
        "discounts); top-200 by SCALED-integer score so both engines " +
        "replay the order",
      Some(basketCte + """,
             | ed AS MATERIALIZED (
             |   SELECT item_a AS a, item_b AS b FROM pr WHERE pair_n >= 2),
             | un AS (SELECT a AS z, b AS n FROM ed UNION ALL SELECT b, a FROM ed),
             | dg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM un GROUP BY z),
             | ctr AS (SELECT un.z, un.n, dg.deg FROM un JOIN dg USING (z)
             |         WHERE dg.deg <= 1000),
             | wg AS (SELECT c1.n AS na, c2.n AS nb, c1.deg
             |        FROM ctr c1 JOIN ctr c2 ON c2.z = c1.z AND c1.n < c2.n),
             | sc AS (SELECT na AS node_a, nb AS node_b,
             |               CAST(count(*) AS BIGINT) AS common_neighbors,
             |               sum(1.0 / ln(deg)) AS aa
             |        FROM wg GROUP BY 1, 2),
             | ne AS (SELECT sc.* FROM sc LEFT JOIN ed
             |          ON ed.a = sc.node_a AND ed.b = sc.node_b
             |        WHERE ed.a IS NULL)
             |SELECT node_a, node_b, common_neighbors,
             |       round(aa * 1e6) / 1e6 AS aa_score
             |FROM ne
             |ORDER BY round(aa * 1e6) DESC, node_a, node_b
             |LIMIT 200""".stripMargin),
      (s, dir) =>
        graft.analytics.Graph.adamicAdar(
          graft.analytics.Baskets.coOccurrencePairs(
            Tables(s, dir, "lineitem"), "l_orderkey", "l_partkey",
            minSupport = 2L, maxBasket = 1000),
          "item_a", "item_b", maxDegree = 1000, topK = 200)),

    // ----- association rules (confidence / lift) -----
    Q("q204_association_rules",
      "pairwise association rules over capped order baskets: every " +
        "support >= 2 co-purchase pair emits both directed rules with " +
        "confidence = pair/antecedent support and lift = pair * " +
        "n_baskets / (support_a * support_b), the n_baskets normalizer " +
        "counted over the SAME cap-surviving population as the " +
        "supports (a biased normalizer fakes lift); per-basket pair " +
        "expansion is the only quadratic, bounded by maxBasket and " +
        "co-located on the basket key; top-100 by scaled-integer lift",
      Some(basketCte + """,
             | it AS (SELECT it, CAST(count(*) AS BIGINT) AS item_n FROM bif GROUP BY it),
             | nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM bif),
             | dir AS (
             |   SELECT item_a AS antecedent, item_b AS consequent, pair_n
             |   FROM pr WHERE pair_n >= 2
             |   UNION ALL
             |   SELECT item_b, item_a, pair_n FROM pr WHERE pair_n >= 2),
             | sc AS (SELECT d.antecedent, d.consequent, d.pair_n,
             |          round(CAST(d.pair_n AS DOUBLE) / ia.item_n * 1e6) / 1e6 AS confidence,
             |          round(CAST(d.pair_n AS DOUBLE) * nb.n
             |            / CAST(ia.item_n * ic.item_n AS DOUBLE) * 1e6) / 1e6 AS lift,
             |          round(CAST(d.pair_n AS DOUBLE) * nb.n
             |            / CAST(ia.item_n * ic.item_n AS DOUBLE) * 1e6) AS l6
             |        FROM dir d JOIN it ia ON ia.it = d.antecedent
             |                   JOIN it ic ON ic.it = d.consequent
             |                   CROSS JOIN nb)
             |SELECT antecedent, consequent, pair_n, confidence, lift
             |FROM sc ORDER BY l6 DESC, antecedent, consequent
             |LIMIT 100""".stripMargin),
      (s, dir) =>
        graft.analytics.Baskets.associationRules(
          Tables(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minPairSupport = 2L, maxBasket = 1000, topK = 100)),

    // ----- label propagation communities -----
    Q("q203_label_propagation",
      "synchronous label-propagation communities over the q19 candidate " +
        "graph, 5 fixed rounds (the kCore contract: the oracle replays " +
        "the exact intermediate state, converged or not): each node " +
        "adopts its neighbors' MODE label, ties to the smallest — the " +
        "soft community view that connected components overstate by " +
        "chaining through single weak edges; per round one node-keyed " +
        "join + a max_by hash agg (no per-node windows), labels " +
        "checkpointed so lineage stays one round deep; dictionary-" +
        "sized edge sets propagate driver-side under the shared graph " +
        "gate (label-exact, branch equality spec-pinned)",
      Some(labelPropOracleSql(rounds = 5)),
      (s, dir) =>
        graft.analytics.Graph.labelPropagation(
          Dedup.minhashCandidatePairs(Tables(s, dir, "documents"),
            "doc_id", "text", n = 3, numHashes = 8, bandSize = 2,
            maxBucket = 1000),
          "doc_a", "doc_b", rounds = 5)
          .orderBy("node")),

    // ----- blocked fuzzy record linkage (native Jaro-Winkler) -----
    Q("q212_name_linkage",
      "blocked fuzzy record linkage over parts: pairs sharing the " +
        "(brand, size) blocking key score their names with the native " +
        "Jaro-Winkler codegen kernel (textbook Winkler 1990 — matches " +
        "DuckDB's jaro_winkler_similarity bit-for-bit on ASCII, " +
        "including the both-empty = 0 convention), keep jw >= 0.88 — " +
        "the entity-resolution shape where exact fingerprints see " +
        "nothing; blocking IS the scale contract (candidate volume = " +
        "sum of block^2/2, over-cap blocks dropped whole)",
      Some("""WITH p AS (SELECT p_partkey, p_brand, p_size, p_name FROM part
             |  WHERE p_brand IS NOT NULL AND p_size IS NOT NULL
             |    AND p_partkey IS NOT NULL),
             |pr AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             |              jaro_winkler_similarity(a.p_name, b.p_name) AS s
             |       FROM p a JOIN p b
             |         ON b.p_brand = a.p_brand AND b.p_size = a.p_size
             |        AND a.p_partkey < b.p_partkey)
             |SELECT id_a, id_b, round(s * 1e6) / 1e6 AS jw
             |FROM pr WHERE s >= 0.88
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) =>
        Dedup.blockedNameLink(Tables(s, dir, "part"),
            "p_partkey", "p_name", Seq("p_brand", "p_size"),
            minSim = 0.88, maxBlock = 10000)
          .orderBy("id_a", "id_b")),

    // ----- Matryoshka truncation audit -----
    Q("q227_truncation_recall",
      "MRL-style truncation audit: does the PREFIX of each embedding " +
        "(8/16/32 of 64 dims) retrieve the same top-1 neighbor as the " +
        "full vector? recall@1 per dim is the go/no-go before serving " +
        "truncated embeddings (a 4x index shrink IF recall holds); " +
        "cosines as scaled integers with id tie-break (the q201 rule), " +
        "prefixes renormalized; corpus x broadcast query sample (the " +
        "q24 baseline probe — swap IVF upstream at scale), max_by " +
        "argmaxes, one dim-keyed rollup",
      Some("""WITH v AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
             |  FROM embeddings),
             |qs AS (SELECT vec_id AS qid, vv AS qv FROM v
             |       WHERE vec_id % 10 = 0),
             |cand AS (SELECT qs.qid, qs.qv, v.vec_id AS vid, v.vv
             |         FROM qs JOIN v ON v.vec_id <> qs.qid),
             |fr AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
             |         ORDER BY CAST(round(list_dot_product(qv, vv)
             |           / (sqrt(list_dot_product(qv, qv))
             |              * sqrt(list_dot_product(vv, vv))) * 1e6)
             |           AS BIGINT) DESC, vid) AS rn
             |       FROM cand),
             |ft AS (SELECT qid, vid AS nn_full FROM fr WHERE rn = 1),
             |tr AS (SELECT d.d AS trunc_dim, c.qid, c.vid,
             |         row_number() OVER (PARTITION BY d.d, c.qid
             |         ORDER BY CAST(round(
             |             list_dot_product(c.qv[1:d.d], c.vv[1:d.d])
             |           / (sqrt(list_dot_product(c.qv[1:d.d], c.qv[1:d.d]))
             |              * sqrt(list_dot_product(c.vv[1:d.d], c.vv[1:d.d])))
             |           * 1e6) AS BIGINT) DESC, c.vid) AS rn
             |       FROM cand c
             |       CROSS JOIN (SELECT unnest([8, 16, 32]) AS d) d),
             |tt AS (SELECT trunc_dim, qid, vid AS nn FROM tr WHERE rn = 1)
             |SELECT tt.trunc_dim, CAST(count(*) AS BIGINT) AS n_queries,
             |       round(CAST(sum(CASE WHEN tt.nn = f.nn_full
             |           THEN 1 ELSE 0 END) AS DOUBLE)
             |         / CAST(CASE WHEN count(*) > 0 THEN count(*) END
             |                AS DOUBLE) * 1e6) / 1e6 AS recall_at_1
             |FROM tt JOIN ft f USING (qid)
             |GROUP BY tt.trunc_dim ORDER BY trunc_dim""".stripMargin),
      (s, dir) =>
        Similarity.truncationRecall(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", queryPred = col("vec_id") % 10 === 0,
            dims = Seq(8, 16, 32))
          .orderBy("trunc_dim"))
  ) ++ Seq(

    // ----- MinHash estimator calibration -----
    Q("q257_minhash_calibration",
      "the q90 signature-agreement Jaccard estimator audited against " +
        "EXACT Jaccard over its own LSH candidates: per exact-J bucket " +
        "the MAE, signed bias, and worst case — the receipt that says " +
        "whether an 8-hash signature can be trusted at the pipeline's " +
        "cut thresholds (theory sd ~ sqrt(J(1-J)/8)); exact J only for " +
        "the capped candidate set, zero-overlap candidates score 0 " +
        "instead of dropping",
      Some(shCte + lshCte + """,
             |ja AS (SELECT c.doc_a, c.doc_b,
             |        CAST(count(*) AS BIGINT) AS inter_n
             |       FROM cand c JOIN sh0 a ON a.doc = c.doc_a
             |       JOIN sh0 b ON b.doc = c.doc_b AND b.sh = a.sh
             |       GROUP BY 1, 2),
             |sz AS (SELECT doc, CAST(count(*) AS BIGINT) AS nn
             |       FROM sh0 GROUP BY 1),
             |estt AS (SELECT c.doc_a, c.doc_b,
             |        CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END)
             |          AS DOUBLE) / 8 AS est
             |       FROM cand c JOIN sigs sa ON sa.doc = c.doc_a
             |       JOIN sigs sb ON sb.doc = c.doc_b AND sb.k = sa.k
             |       GROUP BY 1, 2),
             |ex AS (SELECT e.est,
             |        coalesce(ja.inter_n, CAST(0 AS BIGINT)) AS inter_n,
             |        sa.nn AS na, sb.nn AS nb
             |       FROM estt e LEFT JOIN ja USING (doc_a, doc_b)
             |       JOIN sz sa ON sa.doc = e.doc_a
             |       JOIN sz sb ON sb.doc = e.doc_b),
             |sc AS (SELECT est,
             |        CAST(inter_n AS DOUBLE)
             |          / CAST(CASE WHEN na + nb - inter_n > 0
             |            THEN na + nb - inter_n END AS DOUBLE) AS exact_j
             |       FROM ex),
             |bk AS (SELECT CAST(least(7, floor(exact_j * 8)) AS INT)
             |          AS bucket,
             |        est - exact_j AS err
             |       FROM sc)
             |SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
             |  round(avg(abs(err)) * 1e6) / 1e6 AS mae,
             |  round(avg(err) * 1e6) / 1e6 AS bias,
             |  round(max(abs(err)) * 1e6) / 1e6 AS max_abs_err
             |FROM bk GROUP BY 1 ORDER BY bucket""".stripMargin),
      (s, dir) =>
        Dedup.minhashCalibration(Tables(s, dir, "documents"),
            "doc_id", "text")
          .orderBy("bucket")),

    // ----- degree assortativity of the candidate graph -----
    Q("q264_assortativity",
      "Newman degree assortativity of the q19 LSH candidate graph " +
        "(Pearson over endpoint degrees of every directed edge; " +
        "shift-invariance makes full degrees equal the textbook " +
        "remaining-degree form) — strongly negative = hub-and-spoke, " +
        "the shape that blows up wedge pipelines, known BEFORE q174 " +
        "runs; one degree agg + two edge joins + one moment agg, " +
        "DECIMAL(38,0) products",
      Some(shCte + lshCte + """,
             | ed AS MATERIALIZED (SELECT doc_a, doc_b FROM cand
             |       WHERE doc_a <> doc_b),
             | e2 AS (SELECT doc_a AS src, doc_b AS dst FROM ed
             |        UNION SELECT doc_b, doc_a FROM ed),
             | dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
             |        FROM e2 GROUP BY 1),
             | j AS (SELECT dx.deg AS x, dy.deg AS y
             |       FROM e2 JOIN dg dx ON dx.node = e2.src
             |       JOIN dg dy ON dy.node = e2.dst),
             | s AS (SELECT CAST(count(*) AS BIGINT) AS m2,
             |        CAST(sum(x) AS BIGINT) AS sx,
             |        CAST(sum(y) AS BIGINT) AS sy,
             |        CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38, 0)) AS sxx,
             |        CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38, 0)) AS syy,
             |        CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38, 0)) AS sxy
             |       FROM j),
             | nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM dg)
             |SELECT n_nodes, CAST(m2 / 2 AS BIGINT) AS n_edges,
             |  round((m2 * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             |    / CAST(CASE WHEN sqrt(
             |          (m2 * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             |        * (m2 * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             |        > 0
             |      THEN sqrt(
             |          (m2 * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             |        * (m2 * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
             |      END AS DOUBLE) * 1e6) / 1e6 AS assortativity
             |FROM s CROSS JOIN nn""".stripMargin),
      (s, dir) =>
        // the MEMOIZED pair wrapper (not raw minhashCandidates): same
        // deterministic table, but the session-shared snapshot keys
        // identically across the whole graph family — a raw-pipeline
        // plan here fragmented the second-level edge/degree memo
        graft.analytics.Graph.degreeAssortativity(
            Dedup.minhashCandidatePairs(Tables(s, dir, "documents"),
              "doc_id", "text", n = 3, numHashes = 8, bandSize = 2,
              maxBucket = 1000),
            "doc_a", "doc_b")),

    // ----- simplified silhouette: clustering-quality audit -----
    Q("q271_silhouette",
      "centroid-based silhouette per q80 k-means cluster (a = d2 to " +
        "own centroid, b = min d2 to any other, s = (b-a)/max(a,b)) — " +
        "does the organization SemDeDup/coreset/IVF stand on actually " +
        "separate anything; the centroid form IS the silhouette that " +
        "scales (the pairwise form is sum n_c^2 work), one map-side " +
        "pass against the broadcast k x dim model, distances rounded " +
        "6 BEFORE the compare so both engines pick b identically",
      Some(kmCte + """,
             |dd AS (SELECT a2.vec_id, a2.c, ce.c AS oc,
             |        round(pow(list_distance(a2.vv, ce.cv), 2), 6) AS d2
             |      FROM a2 CROSS JOIN cent2 ce),
             |ab AS (SELECT vec_id, c,
             |        max(CASE WHEN oc = c THEN d2 END) AS a2d,
             |        min(CASE WHEN oc <> c THEN d2 END) AS b2d
             |      FROM dd GROUP BY 1, 2),
             |sc AS (SELECT c,
             |        CASE WHEN greatest(a2d, b2d) > 0
             |          THEN (b2d - a2d) / greatest(a2d, b2d)
             |          ELSE 0.0 END AS s
             |      FROM ab)
             |SELECT CAST(c AS INT) AS cluster,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(CAST(round(s * 1e9) AS BIGINT)) / 1e9
             |    / CAST(count(*) AS DOUBLE) * 1e6) / 1e6
             |    AS mean_silhouette,
             |  round(min(CAST(round(s * 1e9) AS BIGINT)) / 1e9 * 1e6)
             |    / 1e6 AS min_silhouette
             |FROM sc GROUP BY c ORDER BY cluster""".stripMargin),
      (s, dir) =>
        graft.analytics.Cluster.simplifiedSilhouette(
            Tables(s, dir, "embeddings"), "vec_id", "embedding",
            k = 8, iters = 2)
          .orderBy("cluster")),

    // ----- model-artifact stream scorer, batch-replayed -----
    Q("q277_stream_scorer",
      "the streaming model-serving scorer (CorpusIngest.scoreStream) " +
        "replayed over the md5-high holdout under a model logregTrained " +
        "on the low half — the stateless per-token weff fold a stream " +
        "can run without aggregation, algebraically the q146 batch " +
        "margin (x_b = tf_b/len collapses into the token sum, round-6 " +
        "absorbs the ulps); pure map-side serving, zero streaming state",
      Some(logregOracleSql(iters = 30,
          trainWhere = "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'",
          holdoutWhere =
            Some("WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'")) +
        s"""
           |SELECT doc_id AS id,
           |       round(1.0 / (1.0 + exp(-mg)), 6) AS score,
           |       round(1.0 / (1.0 + exp(-mg)), 6) >= 0.5 AS keep
           |FROM m31 ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val half = substring(md5(col("doc_id").cast("string")), 1, 1)
        graft.streaming.CorpusIngest.scoreStream(
            graft.analytics.Selection.logregTrain(docs.filter(half < "8"),
              "doc_id", "text", col("lang") === "en", dim = 64, iters = 30),
            docs.filter(half >= "8"), "doc_id", "text", dim = 64)
          .orderBy("id")
      }),

    // ----- hourly PSI serving monitor -----
    Q("q278_psi_hourly_monitor",
      "the hourly PSI drift monitor (EventStreams.psiMonitorBatch): " +
        "every feed hour's value distribution scored " +
        "against the even-user reference slice with the q195 " +
        "expression tree verbatim (eps floor, 1e9-scaled integer " +
        "terms, 0.1/0.25 verdicts) — raw volume stops at ONE " +
        "(key, hour, bin) agg carrying the reference slice as a " +
        "conditional count (the (key, bin) reference re-aggregates " +
        "that grid), everything downstream is dictionary x calendar " +
        "bounded",
      Some("""WITH b AS (SELECT event_type AS key,
             |        CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             |        CAST(least(19, greatest(0, floor(value / 10.0)))
             |          AS INT) AS bkt,
             |        user_id % 2 = 0 AS is_ref
             |      FROM events WHERE value IS NOT NULL),
             |cur AS (SELECT key, hr, bkt, CAST(count(*) AS BIGINT) AS cc
             |      FROM b GROUP BY 1, 2, 3),
             |ref AS (SELECT key, bkt, CAST(count(*) AS BIGINT) AS cr
             |      FROM b WHERE is_ref GROUP BY 1, 2),
             |rt AS (SELECT key, CAST(sum(cr) AS BIGINT) AS nr
             |      FROM ref GROUP BY 1),
             |hrs AS (SELECT key, hr, CAST(sum(cc) AS BIGINT) AS n
             |      FROM cur GROUP BY 1, 2),
             |u AS (SELECT key, hr, bkt FROM cur
             |      UNION
             |      SELECT h.key, h.hr, r.bkt
             |      FROM hrs h JOIN ref r ON r.key = h.key),
             |j AS (SELECT u.key, u.hr, u.bkt, cur.cc, ref.cr
             |      FROM u
             |      LEFT JOIN cur ON cur.key = u.key AND cur.hr = u.hr
             |        AND cur.bkt = u.bkt
             |      LEFT JOIN ref ON ref.key = u.key AND ref.bkt = u.bkt),
             |s AS (SELECT j.key, j.hr, h.n, coalesce(rt.nr, 0) AS nr,
             |        greatest(CAST(coalesce(j.cr, 0) AS DOUBLE)
             |          / nullif(coalesce(rt.nr, 0), 0), 0.0001) AS p,
             |        greatest(CAST(coalesce(j.cc, 0) AS DOUBLE)
             |          / nullif(h.n, 0), 0.0001) AS q
             |      FROM j JOIN hrs h ON h.key = j.key AND h.hr = j.hr
             |      LEFT JOIN rt ON rt.key = j.key),
             |a AS (SELECT key, hr, CAST(max(n) AS BIGINT) AS n,
             |        CAST(max(nr) AS BIGINT) AS nr,
             |        round(sum(CAST(round((p - q) * ln(p / q) * 1e9)
             |          AS BIGINT)) / 1e9 * 1e6) / 1e6 AS psi_raw
             |      FROM s GROUP BY 1, 2)
             |SELECT key, hr, n,
             |  CASE WHEN nr > 0 THEN psi_raw END AS psi,
             |  CASE WHEN nr = 0 THEN 'no_data'
             |       WHEN psi_raw > 0.25 THEN 'drifted'
             |       WHEN psi_raw > 0.1 THEN 'watch'
             |       ELSE 'stable' END AS verdict
             |FROM a ORDER BY key, hr""".stripMargin),
      (s, dir) =>
        graft.streaming.EventStreams.psiMonitorBatch(
            Tables(s, dir, "events"),
            refPred = col("user_id") % 2 === 0,
            keyCol = "event_type", tsCol = "ts", valueCol = "value")
          .orderBy("key", "hr"))
  )

  /** Unrolled synchronous label propagation in DuckDB — the SAME
    * fixed-round recurrence [[graft.analytics.Graph.labelPropagation]]
    * runs: mode of neighbor labels, ties to the smallest label, one
    * MATERIALIZED CTE per round (inlined chains go exponential — the
    * pageRank/q130 lesson). The argmax is a row_number window here vs
    * max_by on the Spark side: same total (count desc, label asc)
    * order, same values. */
  private def labelPropOracleSql(rounds: Int): String = {
    val head = shCte + lshCte + """,
      | ed AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand),
      | un AS MATERIALIZED (
      |   SELECT a AS node, b AS nb FROM ed UNION ALL SELECT b, a FROM ed),
      | l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM un)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s""",
      | l$r AS MATERIALIZED (
      |   SELECT node, label FROM (
      |     SELECT t.node, t.label,
      |            row_number() OVER (PARTITION BY t.node
      |              ORDER BY t.c DESC, t.label) AS rn
      |     FROM (SELECT un.node, p.label, CAST(count(*) AS BIGINT) AS c
      |           FROM un JOIN l${r - 1} p ON p.node = un.nb
      |           GROUP BY un.node, p.label) t) WHERE rn = 1)""".stripMargin
    }.mkString
    val tail = s"""
      |SELECT lf.node, lf.label, cs.community_size
      |FROM l$rounds lf JOIN (
      |  SELECT label, CAST(count(*) AS BIGINT) AS community_size
      |  FROM l$rounds GROUP BY label) cs USING (label)
      |ORDER BY node""".stripMargin
    head + steps + tail
  }

  /** Unrolled full-batch STANDARDIZED logistic-regression GD in DuckDB —
    * the SAME recurrence [[graft.analytics.Selection.logregQuality]]
    * runs: sparse tf/len features, round-6 (μ, s) stats with the
    * zero-variance s=1 pin, margins via the sparse decomposition
    * `Σ (w/s)x − Σ wμ/s + w_bias` (every doc, token-free included),
    * round-6 gradients `(Σrx − μΣr)/(s·n)`, zero init, fixed `iters`.
    * MATERIALIZED on every recurrence step (the q130 lesson: DuckDB
    * inlines single-reference CTEs and a deep inlined chain goes
    * exponential). Ends at CTE `m${iters+1}` = final margins. */
  /** Unrolled full-batch logreg GD in DuckDB (the q141 family oracle).
    * `trainWhere` restricts the TRAINING corpus (empty = all docs);
    * `holdoutWhere`, when set, emits a second feature table `fh` over
    * that complementary slice and points the final scoring margins
    * `m{iters+1}` at it — the oracle side of the train-once →
    * persist → score-the-holdout artifact path (q146). */
  private def logregOracleSql(iters: Int, dim: Int = 64, lr: Double = 0.5,
      trainWhere: String = "", holdoutWhere: Option[String] = None): String = {
    def featCtes(suffix: String, where: String): String =
      s"""tk$suffix AS (
         |  SELECT doc_id, CAST(lang = 'en' AS INT) AS y, unnest(list_filter(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '')) AS word
         |  FROM documents $where),
         |db$suffix AS (SELECT doc_id, y,
         |         CAST(('0x' || substring(md5(word), 1, 8))::BIGINT % $dim AS INT) AS bucket,
         |         CAST(count(*) AS BIGINT) AS tf
         |       FROM tk$suffix GROUP BY doc_id, y, bucket),
         |f$suffix AS MATERIALIZED (
         |  SELECT doc_id, y, bucket,
         |         CAST(tf AS DOUBLE) / CAST(sum(tf) OVER (PARTITION BY doc_id) AS DOUBLE) AS x
         |  FROM db$suffix
         |  UNION ALL
         |  SELECT doc_id, CAST(lang = 'en' AS INT), $dim, 1.0 FROM documents $where)""".stripMargin
    val head =
      "WITH " + featCtes("", trainWhere) + s""",
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents $trainWhere),
         |bs0 AS (SELECT bucket, round(sum(x) / nn.n, 6) AS mu,
         |               sum(x * x) / nn.n AS exx
         |        FROM f CROSS JOIN nn WHERE bucket < $dim
         |        GROUP BY bucket, nn.n),
         |bsx AS MATERIALIZED (
         |  SELECT bucket, mu,
         |         CASE WHEN round(sqrt(greatest(exx - mu * mu, 0.0)), 6) = 0.0
         |              THEN 1.0
         |              ELSE round(sqrt(greatest(exx - mu * mu, 0.0)), 6) END AS s
         |  FROM bs0
         |  UNION ALL
         |  SELECT $dim, 0.0, 1.0),
         |w0 AS (SELECT CAST(unnest(range(0, ${dim + 1})) AS INT) AS b, 0.0 AS wt)""".stripMargin
    // margins CTE m$i under weights w${i-1} (shared by the iteration
    // steps and, at i = iters+1, the final scoring margins, which score
    // table `ft` — the holdout features in the artifact path); the bias
    // row x=1, mu=0, s=1 makes every coordinate uniform and every doc
    // present
    def marginCtes(i: Int, ft: String = "f"): String =
      s""",
         | e$i AS (SELECT bsx.bucket, w${i - 1}.wt / bsx.s AS weff,
         |               w${i - 1}.wt * bsx.mu / bsx.s AS ct
         |        FROM w${i - 1} JOIN bsx ON bsx.bucket = w${i - 1}.b),
         | c$i AS (SELECT coalesce(sum(ct), 0.0) AS c FROM e$i),
         | m$i AS MATERIALIZED (
         |   SELECT $ft.doc_id, $ft.y, sum(e$i.weff * $ft.x) - c$i.c AS mg
         |   FROM $ft JOIN e$i ON e$i.bucket = $ft.bucket CROSS JOIN c$i
         |   GROUP BY $ft.doc_id, $ft.y, c$i.c)""".stripMargin
    val steps = (1 to iters).map { i =>
      marginCtes(i) +
      s""",
         | rx$i AS MATERIALIZED (
         |   SELECT f.bucket,
         |          sum((1.0 / (1.0 + exp(-m$i.mg)) - CAST(m$i.y AS DOUBLE)) * f.x) AS v
         |   FROM f JOIN m$i ON m$i.doc_id = f.doc_id
         |   GROUP BY f.bucket),
         | t$i AS (SELECT coalesce((SELECT v FROM rx$i WHERE bucket = $dim), 0.0) AS t),
         | g$i AS MATERIALIZED (
         |   SELECT bsx.bucket AS b,
         |          round((coalesce(rx$i.v, 0.0) - bsx.mu * t$i.t) / (bsx.s * nn.n), 6) AS g
         |   FROM bsx LEFT JOIN rx$i ON rx$i.bucket = bsx.bucket
         |   CROSS JOIN t$i CROSS JOIN nn),
         | w$i AS MATERIALIZED (
         |   SELECT w${i - 1}.b, w${i - 1}.wt - $lr * coalesce(g$i.g, 0.0) AS wt
         |   FROM w${i - 1} LEFT JOIN g$i ON g$i.b = w${i - 1}.b)""".stripMargin
    }.mkString
    holdoutWhere match {
      case None => head + steps + marginCtes(iters + 1)
      case Some(wh) =>
        head + steps + ",\n" + featCtes("h", wh) + marginCtes(iters + 1, "fh")
    }
  }

  /** q141 tail over [[logregOracleSql]]'s final `m{iters+1}` margins. */
  private def logregScoreSql(iters: Int): String =
    logregOracleSql(iters) +
      s"""
        |SELECT doc_id AS id, y,
        |       round(1.0 / (1.0 + exp(-mg)), 6) AS score,
        |       round(1.0 / (1.0 + exp(-mg)), 6) >= 0.5 AS keep
        |FROM m${iters + 1} ORDER BY doc_id""".stripMargin

  /** q142 tail: reliability-diagram bins over the same trained scores. */
  private def logregCalibrationSql(iters: Int, bins: Int): String =
    logregOracleSql(iters) +
      s""",
         | s AS (SELECT round(1.0 / (1.0 + exp(-mg)), 6) AS score, y FROM m${iters + 1})
         |SELECT CAST(least(floor(score * $bins), ${bins - 1}) AS INT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(round(score * 1000000.0) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 AS mean_score,
         |       CAST(sum(y) AS DOUBLE) / count(*) AS frac_pos
         |FROM s GROUP BY bin ORDER BY bin""".stripMargin

  /** Unrolled PageRank in DuckDB over the q19 candidate graph: edges
    * symmetrize from `cand`, then `iters` MATERIALIZED recurrence CTEs
    * (the q130 inlining lesson) of the same join + aggregate
    * [[graft.analytics.Graph.pageRank]] runs; `1 - damping` is
    * interpolated as the SAME IEEE constant the Scala side computes, so
    * both engines iterate the identical recurrence. */
  private def pageRankOracleSql(iters: Int, damping: Double): String = {
    val teleport = 1.0 - damping
    val head = shCte + lshCte + """,
      | ed AS MATERIALIZED (
      |   SELECT doc_a AS src, doc_b AS dst FROM cand
      |   UNION SELECT doc_b, doc_a FROM cand),
      | dg AS MATERIALIZED (
      |   SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY src),
      | nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dg),
      | r0 AS (SELECT src AS v, 1.0 / nn.n AS r FROM dg CROSS JOIN nn)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""",
         | r$k AS MATERIALIZED (
         |   SELECT ed.dst AS v,
         |          $teleport / nn.n + $damping * sum(p.r / dg.deg) AS r
         |   FROM ed JOIN r${k - 1} p ON p.v = ed.src
         |           JOIN dg ON dg.src = ed.src
         |   CROSS JOIN nn
         |   GROUP BY ed.dst, nn.n)""".stripMargin
    }.mkString
    head + steps +
      s"""
         |SELECT v AS node, round(r, 6) AS rank
         |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Unrolled greedy MMR in DuckDB: the q24 shortlist + candidate-pair
    * cosine table, then `k` MATERIALIZED selection steps, each scoring
    * the unselected candidates (`lambda * simq - (1-lambda) * max sim
    * to selected`, rounded 6, id tiebreak) and picking the argmax —
    * the same unrolled trajectory
    * [[graft.analytics.Similarity.mmrRerank]] runs; the `1 - lambda`
    * constant interpolates as the identical IEEE double. */
  private def mmrOracleSql(candidates: Int, k: Int,
                           lambda: Double): String = {
    val pen = 1.0 - lambda
    val head = vCte + s""",
      |mq AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id % 100 = 0),
      |msc AS (SELECT qid, vec_id AS vid, ${cosSql("qv", "vv")} AS simq
      |        FROM mq, v WHERE qid <> vec_id),
      |cand AS MATERIALIZED (SELECT qid, vid, simq FROM (
      |  SELECT qid, vid, simq,
      |         row_number() OVER (PARTITION BY qid ORDER BY simq DESC, vid) AS rn
      |  FROM msc) WHERE rn <= $candidates),
      |cv AS MATERIALIZED (SELECT c.qid, c.vid, c.simq, v.vv
      |      FROM cand c JOIN v ON v.vec_id = c.vid),
      |pr AS MATERIALIZED (
      |  SELECT a.qid, a.vid AS vid_a, b.vid AS vid_b,
      |         ${cosSql("a.vv", "b.vv")} AS sim_ab
      |  FROM cv a JOIN cv b ON a.qid = b.qid AND a.vid <> b.vid),
      |s1 AS MATERIALIZED (SELECT qid, vid, score, 1 AS step FROM (
      |  SELECT qid, vid, round($lambda * simq * 1e6) / 1e6 AS score,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY round($lambda * simq * 1e6) / 1e6 DESC, vid) AS rn
      |  FROM cand) WHERE rn = 1),
      |sel1 AS (SELECT qid, vid, score, step FROM s1)""".stripMargin
    val steps = (2 to k).map { s =>
      s""",
         |sc$s AS (
         |  SELECT r.qid, r.vid,
         |         round(($lambda * r.simq - $pen * coalesce(p.ms, 0.0)) * 1e6) / 1e6 AS score
         |  FROM (SELECT c.* FROM cand c
         |        ANTI JOIN sel${s - 1} x ON x.qid = c.qid AND x.vid = c.vid) r
         |  LEFT JOIN (SELECT pr.qid, pr.vid_a AS vid, max(pr.sim_ab) AS ms
         |             FROM pr JOIN sel${s - 1} x
         |               ON x.qid = pr.qid AND x.vid = pr.vid_b
         |             GROUP BY pr.qid, pr.vid_a) p
         |    ON p.qid = r.qid AND p.vid = r.vid),
         |s$s AS MATERIALIZED (SELECT qid, vid, score, $s AS step FROM (
         |  SELECT qid, vid, score,
         |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rn
         |  FROM sc$s) WHERE rn = 1),
         |sel$s AS (SELECT * FROM sel${s - 1} UNION ALL SELECT * FROM s$s)""".stripMargin
    }.mkString
    head + steps + s"""
      |SELECT qid, CAST(step AS INT) AS step, vid AS neighbor_id,
      |       score AS mmr_score
      |FROM sel$k ORDER BY qid, step""".stripMargin
  }

  /** Unrolled fixed-round k-core peel in DuckDB over the q19 candidate
    * graph: `rounds` MATERIALIZED (degree, survivor, edge-filter) CTE
    * triples replaying [[graft.analytics.Graph.kCore]]'s exact partial
    * peel, then the final survivor degrees left-joined to the original
    * node set. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val head = shCte + lshCte + """,
      | e0 AS MATERIALIZED (
      |   SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
      |   FROM cand WHERE doc_a <> doc_b),
      | n0 AS (SELECT a AS node FROM e0 UNION SELECT b FROM e0)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s""",
         | d$r AS (SELECT node, count(*) AS deg FROM (
         |   SELECT a AS node FROM e${r - 1}
         |   UNION ALL SELECT b FROM e${r - 1}) GROUP BY 1),
         | k$r AS (SELECT node FROM d$r WHERE deg >= $k),
         | e$r AS MATERIALIZED (
         |   SELECT e.a, e.b FROM e${r - 1} e
         |   JOIN k$r x ON x.node = e.a
         |   JOIN k$r y ON y.node = e.b)""".stripMargin
    }.mkString
    head + steps + s""",
      | ds AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |   SELECT a AS node FROM e$rounds
      |   UNION ALL SELECT b FROM e$rounds) GROUP BY 1),
      | sv AS (SELECT node, deg FROM ds WHERE deg >= $k)
      |SELECT n0.node, sv.deg,
      |       CASE WHEN sv.deg IS NOT NULL THEN 1 ELSE 0 END AS in_core
      |FROM n0 LEFT JOIN sv ON sv.node = n0.node
      |ORDER BY n0.node""".stripMargin
  }

  /** Unrolled Bradley-Terry MM iteration in DuckDB over the q19
    * candidate-graph preference feed (richer doc wins, ties to lower
    * id): `iters` MATERIALIZED (denominator, raw-score, normalize) CTE
    * triples replaying [[graft.analytics.Preference.bradleyTerry]]'s
    * exact recurrence — phantom-opponent prior, geometric-mean
    * normalize, final scaled-integer round. */
  private def bradleyTerryOracleSql(iters: Int): String = {
    val head = shCte + lshCte + """,
      | dl AS (SELECT doc_id, n_chars FROM documents),
      | cmp AS MATERIALIZED (
      |   SELECT CASE WHEN a.n_chars > b.n_chars THEN c.doc_a
      |               WHEN a.n_chars < b.n_chars THEN c.doc_b
      |               ELSE least(c.doc_a, c.doc_b) END AS w,
      |          CASE WHEN a.n_chars > b.n_chars THEN c.doc_b
      |               WHEN a.n_chars < b.n_chars THEN c.doc_a
      |               ELSE greatest(c.doc_a, c.doc_b) END AS l
      |   FROM cand c JOIN dl a ON a.doc_id = c.doc_a
      |               JOIN dl b ON b.doc_id = c.doc_b),
      | bm AS MATERIALIZED (SELECT i, j, CAST(count(*) AS BIGINT) AS nij
      |   FROM (SELECT w AS i, l AS j FROM cmp
      |         UNION ALL SELECT l, w FROM cmp) GROUP BY 1, 2),
      | bw AS MATERIALIZED (
      |   SELECT ng.node, ng.n_games, coalesce(wc.wins, CAST(0 AS BIGINT)) AS wins
      |   FROM (SELECT i AS node, CAST(sum(nij) AS BIGINT) AS n_games
      |         FROM bm GROUP BY 1) ng
      |   LEFT JOIN (SELECT w AS node, CAST(count(*) AS BIGINT) AS wins
      |              FROM cmp GROUP BY 1) wc ON wc.node = ng.node),
      | t0 AS (SELECT node, 1.0 AS th FROM bw)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""",
         | d$k AS (SELECT bm.i AS node, ti.th AS ti,
         |         sum(bm.nij / (ti.th + tj.th)) AS dsum
         |         FROM bm JOIN t${k - 1} ti ON ti.node = bm.i
         |                 JOIN t${k - 1} tj ON tj.node = bm.j
         |         GROUP BY 1, 2),
         | r$k AS MATERIALIZED (SELECT bw.node,
         |         CAST(bw.wins + 1 AS DOUBLE)
         |           / (d.dsum + 2.0 / (d.ti + 1.0)) AS score
         |         FROM bw JOIN d$k d ON d.node = bw.node),
         | t$k AS MATERIALIZED (SELECT node,
         |         score / (SELECT exp(avg(ln(score))) FROM r$k) AS th
         |         FROM r$k)""".stripMargin
    }.mkString
    head + steps + s"""
      |SELECT bw.node, bw.n_games, bw.wins,
      |       round(t$iters.th * 1e6) / 1e6 AS score
      |FROM bw JOIN t$iters ON t$iters.node = bw.node
      |ORDER BY bw.node""".stripMargin
  }

  /** Unrolled power iteration in DuckDB: `iters` CTE pairs, each one
    * matrix-vector product over the full d×d covariance (both triangles)
    * + a window-normalization — the same deterministic recurrence
    * [[graft.analytics.Stats.topComponent]] runs driver-side, with the
    * identical uniform start vector and largest-|component| sign pin. */
  private def pcaOracleSql(iters: Int): String = {
    val head =
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        |x AS (
        |  SELECT vec_id, CAST(generate_subscripts(vv, 1) - 1 AS INT) AS i,
        |         unnest(vv) AS xi
        |  FROM v),
        |mu AS (SELECT i, sum(xi) / count(*) AS mu FROM x GROUP BY i),
        |cov AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j,
        |         sum(a.xi * b.xi) / count(*)
        |           - (sum(a.xi) / count(*)) * (sum(b.xi) / count(*)) AS c
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id
        |  GROUP BY a.i, b.i),
        |w0 AS (SELECT i, 1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM mu)) AS w
        |       FROM mu)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""",
         |u$k AS MATERIALIZED (SELECT c.i AS i, sum(c.c * w.w) AS u
         |       FROM cov c JOIN w${k - 1} w ON c.j = w.i GROUP BY c.i),
         |w$k AS MATERIALIZED (SELECT i, u / sqrt(sum(u * u) OVER ()) AS w FROM u$k)""".stripMargin
    }.mkString
    val tail =
      s""",
         |sgn AS (SELECT CASE WHEN w < 0 THEN -1.0 ELSE 1.0 END AS s
         |        FROM w$iters ORDER BY abs(w) DESC, i LIMIT 1),
         |wf AS (SELECT i, w * (SELECT s FROM sgn) AS w FROM w$iters)
         |SELECT x.vec_id AS vec_id,
         |       round(sum((x.xi - mu.mu) * wf.w), 6) + 0.0 AS pc1
         |FROM x JOIN mu USING (i) JOIN wf USING (i)
         |GROUP BY x.vec_id ORDER BY vec_id""".stripMargin
    head + steps + tail
  }

  /** The 16 JL sign planes as DuckDB VALUES rows `(j, p)` — the same
    * [[Similarity.hyperplaneSigns]] constants, so the oracle projects
    * identically (scale 1/sqrt(16) = 0.25, exact in both engines). */
  private def jlPlanesSql(outDim: Int, dim: Int = 64): String = {
    val planes = Similarity.hyperplaneSigns(outDim, dim)
    (0 until outDim).map { j =>
      val p = planes(j).map(x => if (x > 0) "1" else "-1").mkString(",")
      s"  ($j, [$p]::DOUBLE[])"
    }.mkString(",\n")
  }

  /** The hyperplane sign matrix as DuckDB VALUES rows `(band, j, plane)` —
    * the same model constants [[Similarity.hyperplaneSigns]] computes, so
    * the oracle buckets identically. Testdata embeddings are 64-dim. */
  private def planeValuesSql(bands: Int, planesPerBand: Int,
                             dim: Int = 64): String = {
    val planes = Similarity.hyperplaneSigns(bands * planesPerBand, dim)
    (0 until bands).flatMap { b =>
      (0 until planesPerBand).map { j =>
        val p = planes(b * planesPerBand + j)
          .map(x => if (x > 0) "1" else "-1").mkString(",")
        s"  ($b, $j, [$p]::DOUBLE[])"
      }
    }.mkString(",\n")
  }
}
