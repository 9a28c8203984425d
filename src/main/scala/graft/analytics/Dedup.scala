package graft.analytics

import Par.Mat

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora (SURVEY.md §7 step 5;
  * north-star extension beyond the reference's `remove_duplicates…`
  * main.py:87-95 value-level dedup).
  *
  * All operators are shuffle-lean by construction:
  *  - exact dedup: one hash-groupBy on a 32-char fingerprint (not the text);
  *  - MinHash/LSH: candidate generation joins on (band, bucket) — the classic
  *    shingle→minhash→band trick keeps the self-join linear-ish instead of
  *    the O(n²) all-pairs cross join;
  *  - n-gram Jaccard: computed only on candidate pairs that share a shingle
  *    (inverted-index join), never on the full cross product.
  *
  * Hashing is md5-based so the DuckDB oracle can reproduce every step
  * bit-for-bit (both engines emit lowercase-hex md5; min/sort on hex strings
  * is plain binary collation in both).
  */
object Dedup {

  /** Exact dedup via content fingerprint: every doc tagged with its group's
    * canonical (minimum) id. Carries a 32-byte hash through the shuffle, not
    * the document text; a window-min over the fingerprint partition needs
    * ONE scan and ONE exchange (the groupBy+join-back form scanned the
    * corpus twice — Spark does not reuse the aliased subtree). */
  def exactDupTags(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    docs.select(col(idCol), md5(col(textCol)).as("fp"))
      .withColumn("canonical_id", min(col(idCol)).over(Window.partitionBy($"fp")))
      .withColumn("is_dup",
        when(col(idCol) === $"canonical_id", 0).otherwise(1))
  }

  /** Lowercased whitespace tokens. Whitespace is normalized to single
    * spaces BEFORE splitting so both engines (Java regex vs RE2) agree on
    * leading/trailing-whitespace edge cases, and empties are dropped. */
  def tokens(text: Column): Column =
    filter(split(regexp_replace(trim(lower(text)), "\\s+", " "), " "),
           t => t =!= "")

  /** Distinct word n-gram shingles per document: (id, sh). Documents shorter
    * than n tokens produce no shingles (same guard in the oracle SQL).
    * Routed through the native [[graft.functions.WordNgrams]] expression —
    * one codegen'd kernel call per document instead of interpreting a
    * transform/sequence/element_at/concat_ws chain per token position. */
  def shingles(docs0: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("doc"),
        explode(graft.functions.WordNgrams.wordNgrams(col(textCol), n)).as("sh"))
  }

  /** Per-doc distinct shingle ARRAYS (doc, shs), MEMOIZED: the dedup
    * family's cold builds (lsh_cand, minhash_estimate, ngram_jaccard)
    * and the q257 calibration sets all explode the SAME shingle sets
    * from the same corpus — one snapshot of the arrays makes every
    * build after the first a columnar read instead of a full
    * tokenize+shingle pass over the text. Deterministic (wordNgrams is
    * a pure function of the text), so a hit is bit-identical to a
    * recompute; snapshot volume is the distinct shingle sets (~n ×
    * corpus tokens) — the rows every consumer already materializes
    * inside its own plan today, written once instead of rebuilt per
    * build. Docs shorter than n tokens carry no row (same size>0 guard
    * every consumer applied). */
  private[graft] def docShingleArrays(docs0: DataFrame, idCol: String,
                                      textCol: String,
                                      n: Int = 3): DataFrame =
    shingleMemo.getOrCompute(
      Seq(docs0.select(col(idCol), col(textCol))), s"n=$n") {
      val docs = Par.ensure(docs0)
      docs.select(col(idCol).as("doc"),
        graft.functions.WordNgrams.wordNgrams(col(textCol), n).as("shs"))
        .filter(size(col("shs")) > 0)
    }

  private[graft] val shingleMemo = new FrameMemo("doc_shingles")

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): per document, hash every POSITIONAL k-gram
    * (ordered, duplicates kept — unlike [[shingles]]'s distinct set),
    * then every window of `w` consecutive hashes contributes its MINIMUM;
    * the distinct selected hashes are the document's fingerprints.
    * Guarantee: any shared token run of length >= w + k - 1 between two
    * documents shares at least one fingerprint, with ~2/(w+1) of k-grams
    * retained — the sub-linear sketch for local (plagiarism-style)
    * overlap, where [[simhash]]/MinHash sketch GLOBAL similarity.
    *
    * Entirely MAP-SIDE: one codegen'd kernel call per row (the native
    * [[graft.functions.WinnowFp]] expression: tokens -> gram md5s ->
    * monotone-deque sliding min -> first-occurrence distinct, O(m) per
    * doc) — ZERO shuffles; the first exchange is whatever the downstream
    * fingerprint join needs. Hash = first 8 md5 nibbles as int64 (the
    * [[TfIdf.hashingTf]] rule), so DuckDB reproduces it exactly and all
    * comparisons are integer. Documents with fewer than k tokens emit
    * nothing; documents with fewer than w windows emit the global
    * minimum (one fingerprint).
    */
  def winnowFingerprints(docs0: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).as("doc"),
        graft.functions.WinnowFp.winnowFp(col(textCol), k, w).as("fps"))
      .select($"doc", explode($"fps").as("fp"))
  }

  /** The composed-expression form of [[winnowFingerprints]], kept as the
    * differential-test reference for the native kernel. NOT for real
    * corpora: the per-window lambda re-evaluates the inlined hash-array
    * subexpression (no loop-invariant hoisting in interpreted HOFs), so
    * it is O(m²k) per document — 312 s at sf0.1 where the kernel takes
    * under a second. */
  private[analytics] def winnowFingerprintsComposed(
      docs0: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = transform(
      sequence(lit(0), size($"t") - k),
      i => concat_ws(" ", slice($"t", i + 1, lit(k))))
    docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("t"))
      .filter(size($"t") >= k)
      .withColumn("hs", transform(grams,
        g => conv(substring(md5(g), 1, 8), 16, 10).cast("long")))
      // window i covers hs[i+1 .. i+w] (slice clamps at the end); when
      // m < w there is exactly one window spanning the whole array
      .withColumn("fps", array_distinct(transform(
        sequence(lit(0), greatest(size($"hs") - w, lit(0))),
        i => array_min(slice($"hs", i + 1, lit(w))))))
      .select($"doc", explode($"fps").as("fp"))
  }

  /** The composed-expression form of [[shingles]], kept as the differential-
    * test reference for the native expression. */
  private[graft] def shinglesComposed(docs0: DataFrame, idCol: String, textCol: String,
                       n: Int = 3): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("t"))
      .filter(size($"t") >= n)
      .select($"doc",
        explode(array_distinct(
          transform(sequence(lit(1), size($"t") - (n - 1)),
            i => concat_ws(" ", (0 until n).map(o => element_at($"t", i + o)): _*))
        )).as("sh"))
  }

  /** Per-document duplicated-shingle coverage: for each doc, how many of
    * its distinct n-gram shingles also occur in >= 1 OTHER document, and
    * the fraction — the "how much of me is boilerplate" signal used to
    * rank documents for substring-level dedup (the per-doc aggregate view
    * of the corpus shingle-df table, q66). Docs with < n tokens have no
    * shingles: counts 0, fraction null.
    *
    * Scale shape: the shingle set is materialized ONCE (checkpoint) and
    * feeds both the df aggregate and the join back; both exchanges are
    * shingle-keyed with map-side combine, then one doc-keyed partial agg.
    * No caps needed — a hot shingle contributes one df row and one join
    * row per containing doc, never a pair blow-up. */
  def dupShingleCoverage(docs0: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingles(docs, idCol, textCol, n).materialized()
    val df = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    val cov = sh.join(df, Seq("sh"))
      .groupBy($"doc")
      .agg(count(lit(1)).as("ns"),
           sum(when($"df" >= 2, 1L).otherwise(0L)).as("nd"))
    docs.select(col(idCol).as("doc")).join(cov, Seq("doc"), "left")
      .select($"doc".as("doc_id"),
        coalesce($"ns", lit(0L)).cast("long").as("n_shingles"),
        coalesce($"nd", lit(0L)).cast("long").as("n_dup"),
        ($"nd".cast("double") / nullif($"ns", lit(0L))).as("dup_frac"))
  }

  /** n-gram Jaccard similarity over candidate pairs sharing >= 1 shingle
    * (inverted-index self-join; no cross product).
    *
    * `maxDocFreq` caps the document frequency of shingles admitted to the
    * self-join: a stopword shingle shared by 10^6 docs would make the join
    * quadratic on that key. Dropping hot shingles only shrinks the observed
    * intersection (CCNet-style common-shingle filtering); `n_a`/`n_b` stay
    * exact, so `jaccard` is a lower bound — and the oracle applies the
    * identical cap, so results stay bit-for-bit comparable. Kept as the
    * exploded-shingle reference specs compare
    * [[ngramJaccardPairsFromDocs]] against.
    */
  private[graft] def ngramJaccardPairs(sh: DataFrame, minJaccard: Double,
                        maxDocFreq: Int = 1000): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    jaccardCore(sh,
      shP => shP.groupBy($"doc").agg(count(lit(1)).as("n")),
      minJaccard, maxDocFreq)
  }

  /** [[ngramJaccardPairs]] computed straight from the corpus: per-doc
    * shingle counts are `size` of the shingle ARRAY — map-side, instead of
    * shuffling the whole exploded shingle set BACK to doc just to count it.
    * One fewer corpus-sized shuffle; identical output. */
  def ngramJaccardPairsFromDocs(docs0: DataFrame, idCol: String,
                                textCol: String, minJaccard: Double,
                                n: Int = 3, maxDocFreq: Int = 1000): DataFrame =
    // memoized at the THRESHOLD-0 superset: minJaccard is a final
    // filter in jaccardCore (no compute pruning depends on it), so one
    // snapshot serves every threshold over the same (docs, n, df-cap) —
    // the q18 gate, q160's exact ground-truth side, and q96's full
    // histogram all read it. Deterministic (integer shingle counts,
    // exact divisions), so a hit is bit-identical to a recompute.
    // Worst-case snapshot volume (the superset's price when only ONE
    // high-threshold consumer exists): every pair sharing a surviving
    // shingle — Σ_sh C(min(df, maxDocFreq), 2) rows of three scalars,
    // bounded by the df-cap, never corpus text. That is the same volume
    // the un-memoized operator already shuffled to score; the memo adds
    // one parquet write of it (a bypassed memo — no shared dir on a
    // non-local master — materializes it instead); locally the write
    // is bench-measured in the artifact's `memos` map.
    jaccardMemo.getOrCompute(
      Seq(docs0.select(col(idCol), col(textCol))),
      s"n=$n,df=$maxDocFreq") {
      val spark = docs0.sparkSession
      import spark.implicits._
      // shingle arrays come from the shared family snapshot — the
      // build's two consumers (explode side, map-side counts) read
      // parquet blocks instead of each re-shingling the corpus
      val arr = docShingleArrays(docs0, idCol, textCol, n)
      val sh = arr.select($"doc", explode($"shs").as("sh"))
      val counts = arr.select($"doc", size($"shs").cast("long").as("n"))
      jaccardCore(sh, _ => counts, minJaccard = 0.0, maxDocFreq)
    }.filter(col("jaccard") >= minJaccard)

  private[graft] val jaccardMemo = new FrameMemo("ngram_jaccard")

  /** Shared candidate-pair + Jaccard tail: inverted-index self-join over
    * the (doc, sh) rows with the hot-shingle cap, scored against per-doc
    * shingle counts (`countsOf` receives the CHECKPOINTED shingles so a
    * count-by-aggregation reads the materialized blocks, while map-side
    * callers can ignore it). */
  /** The one physical shape behind every inverted-index pair operator
    * ([[jaccardCore]], [[decontaminate]], [[substringDupPairs]]):
    * materialize a (…, sh) table ONCE — hash-partitioned on the shingle
    * so the downstream self-join needs no further exchange,
    * Par.materialize'd because the plan consumes the subtree up to four
    * times (df scan, anti-join, both join sides) and Spark does not
    * reuse non-identical aliased subtrees — then drop rows whose
    * shingle's document frequency exceeds `maxDocFreq`. The HOT set is
    * tiny by construction, so it broadcast-anti-joins away (broadcasting
    * the rare set would ship ~the whole vocabulary). Returns
    * (materialized, capped). */
  private def cappedColdShingles(sh: DataFrame,
                                 maxDocFreq: Int): (DataFrame, DataFrame) = {
    val spark = sh.sparkSession
    import spark.implicits._
    val shP = sh.repartition($"sh").materialized()
    val hot = shP.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" > maxDocFreq).select($"sh")
    (shP, shP.join(broadcast(hot), Seq("sh"), "left_anti"))
  }

  private def jaccardCore(sh: DataFrame, countsOf: DataFrame => DataFrame,
                          minJaccard: Double, maxDocFreq: Int): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val (shP, cold) = cappedColdShingles(sh, maxDocFreq)
    val counts = countsOf(shP)
    val a = cold.select($"doc".as("doc_a"), $"sh")
    val b = cold.select($"doc".as("doc_b"), $"sh")
    val inter = a.join(b, Seq("sh")).filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter_n"))
    inter
      .join(counts.select($"doc".as("doc_a"), $"n".as("n_a")), "doc_a")
      .join(counts.select($"doc".as("doc_b"), $"n".as("n_b")), "doc_b")
      .withColumn("jaccard",
        $"inter_n".cast("double") / ($"n_a" + $"n_b" - $"inter_n"))
      .filter($"jaccard" >= minJaccard)
      .select($"doc_a", $"doc_b", $"inter_n", $"n_a", $"n_b", $"jaccard")
  }

  /** EXACT all-pairs Jaccard self-join via PREFIX FILTERING (Bayardo,
    * Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007):
    * order every document's shingles by global rarity — the ordering key
    * is `(df, sh)` itself, so no dense-rank assignment pass — and index
    * only each document's PREFIX, its first `|T| - ceil(tau*|T|) + 1`
    * rarest shingles. Completeness: Jaccard >= tau forces overlap
    * `o >= tau * max(|x|,|y|)`, so a qualifying pair that shared no
    * prefix shingle would fit all `o` common shingles into the last
    * `ceil(tau*|T|) - 1` positions — a contradiction; every qualifying
    * pair therefore collides on a prefix shingle in BOTH prefixes and
    * exact verification of the candidates loses nothing.
    *
    * This is the EXACT-answer scale path next to [[jaccardCore]]'s
    * df-capped inverted index: the cap drops hot shingles (answer becomes
    * a lower bound) while the prefix filter keeps the answer exact and
    * shrinks the index by construction — the indexed ~(1-tau) fraction of
    * each document is its RAREST shingles, precisely the ones with the
    * smallest inverted lists, so bucket sizes collapse where the full
    * index's hot heads explode. A size filter
    * (`tau*|x| <= |y| <= |x|/tau`, implied by the threshold) prunes
    * candidates before verification. Verification joins the per-doc
    * sorted shingle arrays (doc-bounded rows) by id — two id-keyed joins,
    * never a re-scan of the corpus.
    *
    * Output: (doc_a, doc_b, inter_n, n_a, n_b, jaccard) — identical
    * schema to [[ngramJaccardPairsFromDocs]], equal to its UNCAPPED
    * exact answer.
    *
    * Caching contract: the sorted-shingle table persists
    * (MEMORY_AND_DISK) because the plan consumes it three times (prefix
    * probe + both verify sides); the verified pairs are then
    * MATERIALIZED via Par.materialize and the cache released before
    * returning — the returned frame reads its own checkpointed blocks,
    * so repeated calls in a long-lived session leave nothing behind in
    * the CacheManager (the Graph.scala pageRank release pattern). The
    * checkpoint itself is bounded by the true near-dup pairs — the
    * table a dedup run materializes anyway. Two deliberate trade-offs
    * of that contract: the returned frame is EAGER (a caller composing
    * a further filter/limit still pays full materialization first — the
    * price of releasing the cache before returning), and under the
    * default local strategy the truncated lineage is not recoverable on
    * executor loss — configure `spark.graft.checkpoint.dir` to upgrade
    * every [[Par.materialize]] site to a reliable checkpoint for
    * preemptible-cluster runs. */
  def prefixFilterJaccardPairs(docs0: DataFrame, idCol: String,
                               textCol: String, minJaccard: Double,
                               n: Int = 3): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      "minJaccard must lie in (0, 1]")
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val tau = minJaccard
    val arr = docs.select(col(idCol).as("doc"),
        graft.functions.WordNgrams.wordNgrams(col(textCol), n).as("shs"))
      .filter(size($"shs") > 0)
    // shingles ride as md5-60-bit int64s from here on: distinctness is
    // preserved (deterministic hash; a collision needs ~2^30 distinct
    // shingles per birthday pair), and every downstream shuffle, sort
    // and intersection works on 8-byte longs instead of n-word strings
    val sh = arr.select($"doc", explode($"shs").as("sh0"))
      .select($"doc", Sketches.h60($"sh0").as("sh"))
    val dfs = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    // per-doc shingles sorted rare-first — each doc's array follows the
    // one GLOBAL (df, sh) order, which both the prefix theorem and the
    // positional filter below rely on. Consumed three times (prefix
    // probe + both verify sides), so cache it — persist() rather than
    // Par.materialize because the groupBy leaves the table
    // hash-partitioned on doc, and KEEPING that partitioning info lets
    // both verify joins reuse it (only the candidate side exchanges)
    val sets = sh.join(dfs, Seq("sh"))
      .groupBy($"doc")
      .agg(sort_array(collect_list(struct($"df", $"sh"))).as("ts"))
      .select($"doc", $"ts", size($"ts").cast("long").as("sz"))
      // the -1e-9 slack guards the IEEE knife edge (e.g. 0.8*15 =
      // 12.000000000000002): when tau*sz lands a hair ABOVE an exact
      // integer the un-guarded ceil would shorten the prefix by one and
      // could miss a J == tau boundary pair; erring longer only adds
      // candidates, which verification discards
      .withColumn("plen",
        ($"sz" - ceil(lit(tau) * $"sz".cast("double") - lit(1e-9)) + 1)
          .cast("int"))
      // df-singleton elision, both arrays, EXACT: a df=1 shingle lives
      // in exactly one document, so it can neither collide in the
      // prefix index nor contribute to any pair's intersection —
      // `toks` (the verify side) keeps only df>=2 tokens while `sz`
      // stays the FULL set size, and `pref` (the index side) keeps only
      // df>=2 prefix entries WITH their full-order positions (the
      // positional filter needs positions in the uncut rare-first
      // order). On a mostly-unique corpus this is the verify-shuffle
      // fix: the ~420-byte-per-candidate arrays SCALE.md measured at
      // 30x shrink to the shared-token subset, and the persisted
      // footprint shrinks with them.
      .select($"doc", $"sz", $"plen",
        transform(filter($"ts", x => x.getField("df") >= 2),
          x => x.getField("sh")).as("toks"),
        filter(
          transform($"ts", (x, i) =>
            struct((i + 1).as("pos"), x.getField("df").as("df"),
              x.getField("sh").as("sh"))),
          e => e.getField("pos") <= $"plen" &&
            e.getField("df") >= 2).as("pref"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pre = sets.select($"doc", $"sz", explode($"pref").as("p"))
      .select($"doc", $"sz", $"p.pos".as("pos1"), $"p.sh".as("sh"))
    // candidate generation with BOTH classic prunes folded into the
    // collision aggregation (PPJoin, Xiao et al. WWW 2008):
    //  - size filter: tau*|x| <= |y| <= |x|/tau, else J < tau;
    //  - positional filter: per-doc order == global order, so for a
    //    common shingle at ranks (pa, pb) the overlap is at most
    //    min(pa,pb) + min(sz_a-pa, sz_b-pb); the pair's tightest such
    //    bound must still reach ceil(tau/(1+tau)*(sz_a+sz_b)), the
    //    overlap any Jaccard >= tau pair needs
    val a = pre.select($"doc".as("doc_a"), $"sz".as("sz_a"),
      $"pos1".as("pa"), $"sh")
    val b = pre.select($"doc".as("doc_b"), $"sz".as("sz_b"),
      $"pos1".as("pb"), $"sh")
    // two provable overlap upper bounds, the pair pruned when the
    // TIGHTER one misses the required overlap:
    //  - ub1 (per-collision): for a common shingle at ranks (pa, pb),
    //    overlap <= min(pa,pb) + min(sz_a-pa, sz_b-pb); take the min
    //    over the pair's collisions. Degenerates to sz for equal-size
    //    pairs whose collision sits at pa = pb.
    //  - ub2 (PPJoin's accumulated bound, Xiao et al. WWW 2008): let
    //    alpha = the pair's prefix-collision COUNT and (pa*, pb*) the
    //    positions of the LAST collision (max shared token w; per-doc
    //    order == global order, so max(pa) and max(pb) both name it).
    //    Every other common token is > w — a token in either suffix
    //    sits above that doc's whole prefix, hence above w — so it
    //    lies beyond pa* in a AND beyond pb* in b:
    //    overlap <= alpha + min(sz_a - pa*, sz_b - pb*). For the
    //    dominant false-positive shape (few accidental collisions at
    //    small ranks in similar-size docs) alpha << min(pa*, pb*)
    //    makes ub2 the bound that actually prunes.
    val cand = a.join(b, Seq("sh"))
      .filter($"doc_a" < $"doc_b" &&
        $"sz_b".cast("double") >= lit(tau) * $"sz_a".cast("double") - lit(1e-9) &&
        $"sz_a".cast("double") >= lit(tau) * $"sz_b".cast("double") - lit(1e-9))
      .groupBy($"doc_a", $"doc_b", $"sz_a", $"sz_b")
      .agg(
        min(least($"pa", $"pb") +
          least($"sz_a" - $"pa", $"sz_b" - $"pb")).as("ub1"),
        count(lit(1)).as("alpha"),
        max($"pa").as("pa_last"),
        max($"pb").as("pb_last"))
      .filter(least($"ub1",
          $"alpha" + least($"sz_a" - $"pa_last", $"sz_b" - $"pb_last")) >=
        ceil(lit(tau / (1.0 + tau)) *
          ($"sz_a" + $"sz_b").cast("double") - lit(1e-9)))
      .select($"doc_a", $"doc_b")
    val verified = cand
      .join(sets.select($"doc".as("doc_a"), $"toks".as("toks_a"),
        $"sz".as("n_a")), "doc_a")
      .join(sets.select($"doc".as("doc_b"), $"toks".as("toks_b"),
        $"sz".as("n_b")), "doc_b")
      .withColumn("inter_n",
        size(array_intersect($"toks_a", $"toks_b")).cast("long"))
      .withColumn("jaccard",
        $"inter_n".cast("double") / ($"n_a" + $"n_b" - $"inter_n"))
      .filter($"jaccard" >= tau)
      .select($"doc_a", $"doc_b", $"inter_n", $"n_a", $"n_b", $"jaccard")
    // materialize, then release the cached sets table: repeated calls
    // must not accumulate CacheManager storage across a session
    val out = verified.materialized()
    sets.unpersist()
    out
  }

  /** Exact substring-duplication pairs: documents sharing at least
    * `minShared` runs of `spanLen` CONSECUTIVE tokens — the
    * exact-substring dedup signal (long verbatim overlaps mean copied
    * text even when overall Jaccard is low, the failure mode
    * whole-document similarity misses). A span is a spanLen-token
    * shingle, so this is the inverted-index self-join with a longer
    * n-gram and a shared-count threshold instead of a ratio; the
    * hot-span df cap bounds the hottest key exactly as in
    * [[ngramJaccardPairsFromDocs]] (boilerplate spans shared by
    * thousands of docs are dropped, so the count is a lower bound — and
    * the oracle applies the identical cap). Output:
    * (doc_a, doc_b, n_shared_spans). */
  def substringDupPairs(docs0: DataFrame, idCol: String, textCol: String,
                        spanLen: Int = 5, minShared: Int = 1,
                        maxDocFreq: Int = 1000): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, cold) = cappedColdShingles(
      shingles(docs, idCol, textCol, n = spanLen), maxDocFreq)
    val a = cold.select($"doc".as("doc_a"), $"sh")
    val b = cold.select($"doc".as("doc_b"), $"sh")
    a.join(b, Seq("sh")).filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared_spans"))
      .filter($"n_shared_spans" >= minShared)
  }

  /** Incremental-ingest dedup: screen a NEW shard against a PERSISTED
    * corpus index — an exact-fingerprint table ([[corpusFingerprints]])
    * and an LSH band table ([[minhashBandsFromDocs]], parquet-written at
    * corpus build time) — withOUT rescanning the corpus. The artifact
    * contract is the point: at 100 TB nobody re-deduplicates the corpus
    * per arriving shard; the index persists, each shard pays one scan of
    * ITSELF plus joins keyed by fingerprint and (band, bucket).
    *
    * Hot-bucket guard: corpus buckets holding more than `maxBucket` docs
    * are dropped from the probe (the [[minhashCandidates]] cap, applied
    * to the corpus side) so one degenerate bucket cannot multiply a
    * shard by the corpus.
    *
    * Output per new doc: (id, exact_dup, n_near_candidates, keep) —
    * keep = no exact hit and no surviving near-candidate. */
  def incrementalDedup(newDocs: DataFrame, idCol: String, textCol: String,
                       corpusFps: DataFrame, corpusBands: DataFrame,
                       n: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
                       maxBucket: Int = 1000): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val nd = Par.ensure(newDocs)
    val withFp = nd.select(col(idCol).as("doc"), md5(col(textCol)).as("fp"))
    val exact = withFp.join(
        corpusFps.select($"fp").distinct().withColumn("__hit", lit(1)),
        Seq("fp"), "left")
      .select($"doc", $"__hit".isNotNull.as("exact_dup"))
    val ob = corpusBands.select($"doc".as("old_doc"), $"band", $"bucket")
    val okBuckets = ob.groupBy($"band", $"bucket")
      .agg(count(lit(1)).as("__n")).filter($"__n" <= maxBucket)
      .select($"band", $"bucket")
    val near = minhashBandsFromDocs(nd, idCol, textCol, n, numHashes, bandSize)
      .join(okBuckets, Seq("band", "bucket"))
      .join(ob, Seq("band", "bucket"))
      .groupBy($"doc").agg(countDistinct($"old_doc").as("n_near_candidates"))
    exact.join(near, Seq("doc"), "left")
      .select($"doc".as(idCol), $"exact_dup",
        coalesce($"n_near_candidates", lit(0L)).as("n_near_candidates"),
        (!$"exact_dup" && coalesce($"n_near_candidates", lit(0L)) === 0)
          .as("keep"))
  }

  /** The exact-fingerprint artifact for [[incrementalDedup]]: the
    * corpus's distinct md5(text) set — parquet-written once at corpus
    * build, appended per accepted shard. */
  def corpusFingerprints(docs: DataFrame, textCol: String): DataFrame =
    Par.ensure(docs).select(md5(col(textCol)).as("fp")).distinct()

  /** Corpus snapshot diff — the audit between two versions of a
    * document table: every id classified `added` (new snapshot only),
    * `removed` (old only), `changed` (both, content fingerprint
    * differs) or `unchanged`. The crawl-refresh / recuration diff a
    * pipeline reads before deciding what to reprocess (changed + added)
    * and what downstream artifacts to invalidate.
    *
    * Scale shape: each side compresses to (id, md5(text)) BEFORE the
    * full-outer join, so the shuffle carries 48-byte rows, never
    * document bodies; the join is id-keyed with no skew term (ids are
    * unique per side). Presence is keyed on the ID, not the
    * fingerprint, so a null text never masquerades as an absent row; a
    * null text on either (or both) sides of a present pair reports
    * `changed` — null content is never treated as equal, matching the
    * SQL `fp_old = fp_new` three-valued comparison. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = Par.ensure(oldDocs)
      .select(col(idCol).as("id"), md5(col(textCol)).as("fp_old"),
        lit(true).as("in_old"))
    val n = Par.ensure(newDocs)
      .select(col(idCol).as("id"), md5(col(textCol)).as("fp_new"),
        lit(true).as("in_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Edit-distance verification of candidate pairs — the exact final
    * stage of a dedup pipeline: sketch stages (MinHash/LSH/SimHash)
    * nominate candidates, THIS confirms them with a real Levenshtein
    * distance. `dist` is the exact distance when <= `maxDist`, else -1
    * (the banded early-exit contract: cost is O(len * maxDist), not
    * O(len^2), per pair).
    *
    * Scale shape: the corpus never self-joins — `pairs` is already
    * candidate-sized (capped by the sketch stage), text attaches via two
    * id-keyed joins, and the distance is one codegen'd kernel per pair.
    * Distances are codepoint-level on both engines for ASCII text; the
    * oracle engine (byte-level Levenshtein) diverges on multi-byte
    * codepoints — documented, and immaterial for candidate verification
    * (a threshold decision, not a metric export). */
  def editDistanceVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val d = docs.select(col(idCol), col(textCol))
    pairs.select("doc_a", "doc_b")
      .join(d.toDF("doc_a", "__ta"), "doc_a")
      .join(d.toDF("doc_b", "__tb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("dist"))
  }

  /** TOKEN-SPAN repeated-substring removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * within-corpus repeated-sequence rule): every run of `spanLen`
    * consecutive tokens that occurs in at least `minDocFreq` DISTINCT
    * documents is boilerplate, and every token COVERED by any such span
    * is removed from every document. The token-level sibling of
    * [[removeBoilerplateLines]]: catches templated sentences and
    * verbatim copies that don't align on line boundaries.
    *
    * Output text is the NORMALIZED token stream re-joined with single
    * spaces (the tokenizer contract: lowercased, whitespace-collapsed) —
    * span identity must be tokenizer-exact, so the rebuilt text is too.
    *
    * Scale shape: the span table carries (doc, pos, 32-char md5) rows —
    * never text; df is a distinct-count keyed by the hash (a hot span is
    * LINEAR in its occurrences — one row per containing doc position, no
    * pair term anywhere, so no cap is needed); covered positions come
    * from one hash-keyed join back and one doc-keyed partial agg; the
    * document rebuild is a map-side array_except per row. */
  def removeRepeatedSpans(docs0: DataFrame, idCol: String, textCol: String,
                          spanLen: Int = 5,
                          minDocFreq: Int = 3): DataFrame = {
    require(spanLen >= 1 && minDocFreq >= 2,
      "spanLen must be >= 1 and minDocFreq >= 2")
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val withToks = docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("t"))
      .materialized() // feeds the span table AND the rebuild join
    // positional span hashes: ONE transform per row (hash inside the
    // same lambda — no alias re-evaluation, the q111 lesson)
    val sp = withToks.filter(size($"t") >= spanLen)
      .select($"doc", posexplode(
        transform(sequence(lit(0), size($"t") - spanLen),
          i => md5(concat_ws(" ", slice($"t", i + 1, lit(spanLen))))))
        .as(Seq("pos", "h")))
      .materialized() // feeds the df aggregate AND the drop join
    val boiler = sp.select($"doc", $"h").distinct()
      .groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" >= minDocFreq)
    val drops = sp.join(boiler, Seq("h"))
      .select($"doc",
        explode(sequence($"pos", $"pos" + spanLen - 1)).as("ci"))
      .groupBy($"doc").agg(collect_set($"ci").as("cover"))
    withToks.join(drops, Seq("doc"), "left")
      .select($"doc".as(idCol),
        when(size($"t") > 0,
          concat_ws(" ", transform(
            array_except(sequence(lit(0), size($"t") - 1),
              coalesce($"cover", typedLit(Seq.empty[Int]))),
            i => element_at($"t", i + 1))))
          .otherwise(lit("")).as(textCol),
        size($"t").cast("long").as("n_tokens"),
        coalesce(size($"cover"), lit(0)).cast("long").as("n_removed"))
  }

  /** C4/RefinedWeb-style LINE-level boilerplate removal: a line (newline-
    * delimited, keyed by its trimmed content) is boilerplate when it
    * occurs in at least `minDocFreq` DISTINCT documents, and every
    * occurrence is removed (RefinedWeb's remove-all rule — C4's keep-one
    * variant needs a global occurrence order no distributed engine should
    * pay for). Blank/whitespace-only lines are structure, not content:
    * never counted toward df, never removed. Returns
    * (id, text, n_lines, n_removed) with `text` rebuilt from the
    * surviving lines in original order.
    *
    * Scale shape: the exploded table carries (doc, pos, xxhash64(line)) —
    * fixed-width rows, never line text; df is a distinct-count keyed by
    * hash (a hot line contributes one row per containing doc — linear in
    * occurrences, no pair blow-up); the join back is hash-keyed; the only
    * exchange that moves document text is the final doc-keyed join
    * against the per-doc drop-position list, which AQE downgrades to a
    * broadcast when few docs are hit. The text rebuild is linear per
    * doc: `array_except` hashes the drop list once (an `array_contains`
    * scan per line would cost O(lines x drops) on a boilerplate-heavy
    * 100k-line template page). Line identity by 64-bit hash: a
    * collision can only remove one extra line, and at 10^11 lines the
    * expected collision count is still < 1 per ~300 corpora. */
  /** Shared hashed-line prologue of the line-dedup family: each doc's
    * line array plus the exploded (doc, pos, xxhash64(trimmed line))
    * table. Blank lines are structure, never hashed — via the explicit
    * whitespace set (incl. U+000B): plain trim() strips only spaces, so
    * a tab-only line would otherwise count as content; \n can't occur
    * inside a split line. BOTH tables are materialized
    * (Par.materialize): the hashed table feeds an aggregate AND a join
    * back within one action (the explode would otherwise run twice),
    * and the (doc, lines) table is the rebuild join's other side — the
    * gates feed a REFLOW expression upstream, and leaving the line
    * table lazy re-ran tokenize+reflow+split inside the final action
    * (~1.1 s of q99's 3.8 s gate, round-13 decomposition; the stored
    * volume is the corpus text once, the same order as the ln table).
    * One definition so the trim set and hashing can never
    * desynchronize the dedup rules. */
  private def hashedLines(docs: DataFrame, idCol: String,
                          textCol: String): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val withLines = docs.select(col(idCol).as("doc"),
        split(col(textCol), "\n").as("lines"))
      .materialized()
    val ln = withLines
      .select($"doc", posexplode($"lines").as(Seq("pos", "line")))
      .withColumn("lt", trim($"line", " \t\u000B\f\r"))
      .filter($"lt" =!= "")
      .select($"doc", $"pos", xxhash64($"lt").as("h"))
      .materialized()
    (withLines, ln)
  }

  def removeBoilerplateLines(docs0: DataFrame, idCol: String,
                             textCol: String,
                             minDocFreq: Int = 3): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq must be >= 2")
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val (withLines, ln) = hashedLines(docs, idCol, textCol)
    val boiler = ln.select($"doc", $"h").distinct()
      .groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" >= minDocFreq)
    val drops = ln.join(boiler, Seq("h"))
      .groupBy($"doc").agg(collect_list($"pos").as("drop_pos"))
    rebuildWithoutPositions(withLines, drops, idCol, textCol)
  }

  /** Shared text-rebuild tail of the line-dedup family: drop each doc's
    * `drop_pos` line positions and rejoin the survivors in order.
    * `array_except` hashes the drop list once (an `array_contains` scan
    * per line would cost O(lines × drops) on a boilerplate-heavy
    * 100k-line template page). */
  private def rebuildWithoutPositions(withLines: DataFrame, drops: DataFrame,
                                      idCol: String, textCol: String): DataFrame = {
    val spark = withLines.sparkSession
    import spark.implicits._
    withLines.join(drops, Seq("doc"), "left")
      .select($"doc".as(idCol),
        concat_ws("\n", transform(
          array_except(sequence(lit(0), size($"lines") - 1),
            coalesce($"drop_pos", typedLit(Seq.empty[Int]))),
          p => element_at($"lines", p + 1))).as(textCol),
        size($"lines").cast("long").as("n_lines"),
        coalesce(size($"drop_pos"), lit(0)).cast("long").as("n_removed"))
  }

  /** Corpus-wide KEEP-FIRST line dedup (the RefinedWeb/ExactSubstr rule
    * at line granularity): every line that occurs more than once in the
    * corpus keeps ONLY its first occurrence — first in (doc id, position)
    * order — and every later occurrence is dropped; text is rebuilt from
    * the survivors. Complements [[removeBoilerplateLines]], which removes
    * ALL occurrences of high-df lines including the first: boilerplate
    * removal cleans templates, keep-first preserves one copy of
    * legitimately shared content (quotes, licenses, headers) so the
    * corpus keeps the information while losing the repetition.
    *
    * Scale shape: identical to [[removeBoilerplateLines]] — the exploded
    * table carries (doc, pos, xxhash64(line)), never text; the
    * first-occurrence winner per hash is a PARTIAL-AGGREGABLE
    * `min(struct(doc, pos))` (no corpus-wide window; the oracle's
    * row_number formulation would sort every duplicate group through
    * single tasks), and the only text-moving exchange is the final
    * doc-keyed drop-list join. */
  def keepFirstLines(docs0: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val (withLines, ln) = hashedLines(docs, idCol, textCol)
    val firsts = ln.groupBy($"h")
      .agg(min(struct($"doc", $"pos")).as("w"), count(lit(1)).as("cnt"))
      .filter($"cnt" > 1)
    val drops = ln.join(firsts, Seq("h"))
      .filter(struct($"doc", $"pos") =!= $"w")
      .groupBy($"doc").agg(collect_list($"pos").as("drop_pos"))
    rebuildWithoutPositions(withLines, drops, idCol, textCol)
  }

  /** Reflow `text` into newline-delimited lines of `wordsPerLine`
    * whitespace tokens — the q99 gate's deterministic line constructor
    * (a single-line corpus needs line structure before the line rule can
    * bite; both engines reflow identically).
    * Zero-token docs reflow to ONE empty line (`greatest(1, …)` — the
    * oracle mirrors it), never a descending `sequence(0, -1)` phantom
    * pair. */
  def reflowLines(text: Column, wordsPerLine: Int): Column = {
    require(wordsPerLine >= 1, "wordsPerLine must be >= 1")
    val t = tokens(text)
    val nLines = greatest(lit(1),
      ceil(size(t) / lit(wordsPerLine.toDouble)).cast("int"))
    concat_ws("\n", transform(sequence(lit(0), nLines - 1),
      i => concat_ws(" ", slice(t, i * wordsPerLine + 1, lit(wordsPerLine)))))
  }

  /** Eval-set decontamination: training documents sharing >= `minShared`
    * word n-gram shingles with any held-out (eval) document — the overlap
    * check a training pipeline runs before shipping a corpus, so benchmark
    * answers don't leak into training text (GPT-3-style n-gram
    * decontamination). Same inverted-index + hot-shingle-cap shape as
    * [[ngramJaccardPairsFromDocs]]: the join key is the shingle, the cap
    * bounds the hottest key, and only (train x eval) rows survive — never
    * a train x train self-join. At scale the eval side is tiny, so the
    * post-cap join is effectively a semi-join probe of the training
    * corpus's inverted index. */
  def decontaminate(docs0: DataFrame, idCol: String, textCol: String,
                    evalPred: Column, n: Int = 3, minShared: Int = 2,
                    maxDocFreq: Int = 1000): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs
      .select(col(idCol).as("doc"), evalPred.as("is_eval"),
        explode(graft.functions.WordNgrams.wordNgrams(col(textCol), n)).as("sh"))
    // eval sets are benchmark-sized: broadcast the distinct eval shingles
    // and semi-join the corpus MAP-SIDE, so only rows whose shingle occurs
    // in some eval doc ever shuffle. The document-frequency cap computed
    // on the filtered rows equals the corpus-wide df for every surviving
    // shingle (every (doc, sh) row with that shingle passes the semi-join)
    // — and shingles outside the eval set can't produce pairs anyway, so
    // the result is identical to capping the full corpus first.
    val evalShingles = sh.filter($"is_eval").select($"sh").distinct()
    val (_, cold) = cappedColdShingles(
      sh.join(broadcast(evalShingles), Seq("sh"), "left_semi"), maxDocFreq)
    val train = cold.filter(!$"is_eval").select($"sh", $"doc".as("train_doc"))
    val eval  = cold.filter($"is_eval").select($"sh", $"doc".as("eval_doc"))
    train.join(eval, Seq("sh"))
      .groupBy($"train_doc", $"eval_doc").agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
  }

  /** MinHash signatures: for seed k in [0, numHashes), sig_k =
    * min(md5(k || '|' || shingle)). Long format (doc, k, sig), kept as
    * the definition specs check [[minhashBands]] against. */
  private[graft] def minhashSignatures(sh: DataFrame, numHashes: Int = 8): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    sh.withColumn("k", explode(sequence(lit(0), lit(numHashes - 1))))
      .groupBy($"doc", $"k")
      .agg(min(md5(concat($"k".cast("string"), lit("|"), $"sh"))).as("sig"))
  }

  /** LSH banding straight from shingles: ONE groupBy(doc) computes all
    * numHashes signature mins as parallel aggregates (map-side combine:
    * the shuffle carries numHashes strings per doc, not |shingles| x
    * numHashes exploded rows), then band buckets are a map-side explode of
    * md5s over adjacent signature pairs. Identical math to
    * [[minhashSignatures]] + per-band string_agg: bucket = md5 of the
    * band's sigs in seed order. Kept as the reference specs compare
    * [[minhashBandsFromDocs]] against. */
  private[graft] def minhashBands(sh: DataFrame, numHashes: Int = 8,
                   bandSize: Int = 2): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    require(numHashes % bandSize == 0, "bandSize must divide numHashes")
    val sigCols = (0 until numHashes).map(k =>
      min(md5(concat(lit(s"$k|"), $"sh"))).as(s"sig$k"))
    val sigs = sh.groupBy($"doc").agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until numHashes / bandSize).map { b =>
      val parts = (b * bandSize until (b + 1) * bandSize).map(k => col(s"sig$k"))
      struct(lit(b).as("band"), md5(concat_ws(",", parts: _*)).as("bucket"))
    }
    sigs.select($"doc", explode(array(bandCols: _*)).as("bb"))
      .select($"doc", $"bb.band".as("band"), $"bb.bucket".as("bucket"))
  }

  /** [[minhashBands]] computed straight from the corpus, entirely MAP-SIDE:
    * each doc's shingle ARRAY (native [[graft.functions.WordNgrams]]) is
    * folded with `array_min` per seed — no shingle explode, no groupBy(doc)
    * shuffle. Identical output to `minhashBands(shingles(docs, ...))`:
    * array_min on strings is the same binary-collation min as the `min`
    * aggregate, and docs with < n tokens (empty shingle array) emit no
    * bands in both forms. The ONLY shuffles left in the LSH pipeline are
    * the candidate-stage ones. */
  def minhashBandsFromDocs(docs0: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, numHashes: Int = 8,
                           bandSize: Int = 2): DataFrame =
    bandsFromSigs(minhashSigs(docs0, idCol, textCol, n, numHashes),
      numHashes, bandSize)

  /** MinHash signature table (doc, sigs[numHashes]) — entirely map-side:
    * each doc's shingle ARRAY is folded with `array_min` per seed. Docs
    * with < n tokens emit no row. The signature IS the sketch: banding
    * (candidates) and positional agreement (Jaccard estimation) both
    * derive from it without touching text again. */
  def minhashSigs(docs0: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, numHashes: Int = 8): DataFrame =
    // MEMOIZED (r15): lsh_cand and minhash_estimate both built this
    // exact table — shingle pass + numHashes md5's per shingle, the
    // single most expensive map stage in the family — once each on the
    // cold pass. One signature snapshot (numHashes 32-char hashes per
    // doc — far smaller than the text) serves both builds; the shingle
    // arrays themselves come from the shared [[docShingleArrays]]
    // snapshot, so the corpus is tokenized ONCE for the whole family.
    sigsMemo.getOrCompute(
      Seq(docs0.select(col(idCol), col(textCol))),
      s"n=$n,h=$numHashes") {
      val spark = docs0.sparkSession
      import spark.implicits._
      val sigs = transform(sequence(lit(0), lit(numHashes - 1)),
        k => array_min(transform($"shs",
          s => md5(concat(k.cast("string"), lit("|"), s)))))
      docShingleArrays(docs0, idCol, textCol, n)
        .select($"doc", sigs.as("sigs"))
    }

  private[graft] val sigsMemo = new FrameMemo("minhash_sigs")

  /** LSH band buckets from a [[minhashSigs]] table (map-side projection;
    * Catalyst collapses it into the signature scan). */
  def bandsFromSigs(sigsDf: DataFrame, numHashes: Int,
                    bandSize: Int): DataFrame = {
    val spark = sigsDf.sparkSession
    import spark.implicits._
    require(numHashes % bandSize == 0, "bandSize must divide numHashes")
    sigsDf
      .select($"doc",
        explode(transform(sequence(lit(0), lit(numHashes / bandSize - 1)),
          b => struct(b.as("band"),
            md5(array_join(slice($"sigs", b * bandSize + 1, lit(bandSize)), ","))
              .as("bucket")))).as("bb"))
      .select($"doc", $"bb.band".as("band"), $"bb.bucket".as("bucket"))
  }

  /** MinHash Jaccard ESTIMATE over the LSH candidate pairs — similarity
    * from signature agreement alone (est = agreeing positions /
    * numHashes, the unbiased sketch estimator: each min-hash position
    * agrees with probability J). This is the sketch-only fast path of the
    * dedup family: unlike [[ngramJaccardPairsFromDocs]] the text is never
    * re-read after the one signature pass, so pair scoring costs
    * numHashes string compares instead of a shingle-set intersection.
    *
    * Scale shape: the signature table is materialized ONCE (checkpoint)
    * and feeds banding + both score-join sides; candidates are the same
    * capped bucket join as q19. */
  def minhashJaccardEstimate(docs0: DataFrame, idCol: String,
                             textCol: String, minEstimate: Double,
                             n: Int = 3, numHashes: Int = 8,
                             bandSize: Int = 2,
                             maxBucket: Int = 1000): DataFrame =
    // memoized at the THRESHOLD-0 superset (the ngramJaccard rule:
    // minEstimate is a final filter, so one snapshot of the scored LSH
    // candidate pairs serves the q90 gate, the q257 calibration, and
    // the q115 cross-group matrix). Worst-case snapshot volume: the
    // capped LSH candidate set (≤ C(maxBucket,2) pairs per band
    // bucket) × three scalars — the volume the operator scored anyway;
    // see ngramJaccardPairsFromDocs for the single-consumer trade
    estimateMemo.getOrCompute(
      Seq(docs0.select(col(idCol), col(textCol))),
      s"n=$n,h=$numHashes,bs=$bandSize,cap=$maxBucket") {
      val spark = docs0.sparkSession
      import spark.implicits._
      // the sig table feeds banding + both score-join sides: a memo
      // result is already materialized, so nothing re-runs the corpus
      val sigsDf = minhashSigs(docs0, idCol, textCol, n, numHashes)
      val cand = minhashCandidates(
        bandsFromSigs(sigsDf, numHashes, bandSize), maxBucket)
      cand
        .join(sigsDf.select($"doc".as("doc_a"), $"sigs".as("sa")),
          Seq("doc_a"))
        .join(sigsDf.select($"doc".as("doc_b"), $"sigs".as("sb")),
          Seq("doc_b"))
        .select($"doc_a", $"doc_b",
          (size(filter(zip_with($"sa", $"sb", (x, y) => x === y), b => b))
            .cast("double") / numHashes).as("est"))
    }.filter(col("est") >= minEstimate)

  private[graft] val estimateMemo = new FrameMemo("minhash_estimate")

  /** MinHash estimator CALIBRATION over its own LSH candidates: per
    * exact-Jaccard bucket, the estimator's mean absolute error, signed
    * bias, and worst case — the audit that says whether the q90
    * signature-agreement estimate can be TRUSTED at the thresholds the
    * dedup pipeline cuts on (theory: sd ~ sqrt(J(1-J)/k) per pair; an
    * 8-hash signature is coarse, and this table is the receipt).
    * Exact Jaccard is computed ONLY for the candidate pairs the bands
    * emitted — the same capped set the estimator scores — via the
    * distinct-shingle array intersection; a candidate pair sharing no
    * shingle scores exact 0, not a dropped row.
    *
    * Output: (bucket = floor(exact*k) capped, n_pairs, mae, bias,
    * max_abs_err), bucket-keyed. */
  def minhashCalibration(docs0: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, numHashes: Int = 8,
                         bandSize: Int = 2,
                         maxBucket: Int = 1000): DataFrame = {
    val spark = docs0.sparkSession
    import spark.implicits._
    val est = minhashJaccardEstimate(docs0, idCol, textCol,
      minEstimate = 0.0, n, numHashes, bandSize, maxBucket)
    // both pair sides join this per-doc shingle-array table — it reads
    // MAP-SIDE off the shared [[docShingleArrays]] snapshot (sort_array
    // + size of the already-distinct array), zero exchanges. Both joins
    // key per doc ROW, so a reused id would silently pair texts that
    // were never candidates: reject it with one aggregate over the
    // snapshot's doc column (docs under n tokens carry no row, and
    // cannot pair either)
    val arrays = docShingleArrays(docs0, idCol, textCol, n)
    arrays.groupBy($"doc").count().filter($"count" > 1).limit(1)
      .collect().headOption.foreach(r => throw new IllegalArgumentException(
        s"minhashCalibration needs unique $idCol values; ${r.get(0)} " +
          "appears more than once"))
    val sets = arrays.select($"doc", sort_array($"shs").as("toks"),
      size($"shs").cast("long").as("sz"))
    val den = $"na" + $"nb" - $"inter_n"
    val scored = est
      .join(sets.select($"doc".as("doc_a"), $"toks".as("ta"),
        $"sz".as("na")), Seq("doc_a"))
      .join(sets.select($"doc".as("doc_b"), $"toks".as("tb"),
        $"sz".as("nb")), Seq("doc_b"))
      .withColumn("inter_n",
        size(array_intersect($"ta", $"tb")).cast("long"))
      .withColumn("exact_j", $"inter_n".cast("double") /
        when(den > 0L, den).cast("double"))
      .withColumn("bucket",
        least(lit(numHashes - 1), floor($"exact_j" * numHashes))
          .cast("int"))
      .withColumn("err", $"est" - $"exact_j")
    scored.groupBy($"bucket")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        (round(avg(abs($"err")) * 1e6) / 1e6).as("mae"),
        (round(avg($"err") * 1e6) / 1e6).as("bias"),
        (round(max(abs($"err")) * 1e6) / 1e6).as("max_abs_err"))
  }

  /** Graded contamination score per TRAINING document: how many of its
    * distinct n-gram shingles appear in ANY eval document, and the
    * fraction — [[decontaminate]]'s binary verdict refined into the
    * ranked signal used to triage "how leaked is this shard" before
    * dropping. Same plan skeleton: the distinct eval shingle set is
    * BROADCAST (eval suites are benchmark-sized, not corpus-sized) and
    * probed map-side; one doc-keyed partial agg finishes. Train docs with
    * no shingles score (0, 0, null).
    */
  def contaminationScore(docs0: DataFrame, idCol: String, textCol: String,
                         evalPred: Column, n: Int = 3): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingles(docs, idCol, textCol, n)
    val evalSh = shingles(docs.filter(evalPred), idCol, textCol, n)
      .select($"sh").distinct()
    val ag = sh.join(docs.select(col(idCol).as("doc"), evalPred.as("ev")),
        Seq("doc"))
      .filter(!$"ev")
      .join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("sh"), "left")
      .groupBy($"doc")
      .agg(count(lit(1)).as("ns"),
        sum(coalesce($"hit", lit(0))).as("nc"))
    docs.filter(!evalPred).select(col(idCol).as("doc"))
      .join(ag, Seq("doc"), "left")
      .select($"doc".as(idCol),
        coalesce($"ns", lit(0L)).cast("long").as("n_shingles"),
        coalesce($"nc", lit(0L)).cast("long").as("n_contam"),
        (round($"nc".cast("double") / nullif($"ns", lit(0L)), 6) +
          lit(0.0)).as("contam_frac"))
  }

  /** Cross-group near-duplicate matrix: MinHash-estimated near-dup pairs
    * ([[minhashJaccardEstimate]]) rolled up by the UNORDERED pair of
    * group labels (source, shard, snapshot...) — the "which sources copy
    * from which" diagnostic that decides where dedup budget goes. The
    * label join is id-keyed against the (id, group) projection — never
    * the text — and the pair table is the small side after LSH capping.
    */
  def crossGroupNearDupMatrix(docs0: DataFrame, idCol: String,
                              textCol: String, groupCol: String,
                              minEstimate: Double, n: Int = 3,
                              numHashes: Int = 8, bandSize: Int = 2,
                              maxBucket: Int = 1000): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = minhashJaccardEstimate(docs, idCol, textCol, minEstimate,
      n, numHashes, bandSize, maxBucket)
    val g = docs.select(col(idCol).as("gid"), col(groupCol).as("grp"))
    pairs
      .join(g.select($"gid".as("doc_a"), $"grp".as("ga")), Seq("doc_a"))
      .join(g.select($"gid".as("doc_b"), $"grp".as("gb")), Seq("doc_b"))
      .groupBy(least($"ga", $"gb").as("group_a"),
        greatest($"ga", $"gb").as("group_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Distinct candidate pairs from LSH buckets. `maxBucket` drops giant
    * buckets before the self-join — a degenerate bucket of B docs yields
    * B^2/2 pairs, so one hot bucket (boilerplate/empty docs) can dominate
    * the whole job. The oracle applies the identical cap. */
  def minhashCandidates(bands: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val spark = bands.sparkSession
    import spark.implicits._
    // bands feed three subtrees (bucket-size scan + both join sides):
    // materialize once, pre-partitioned on the join key
    val bandsC = bands.repartition($"band", $"bucket").materialized()
    val big = bandsC.groupBy($"band", $"bucket").agg(count(lit(1)).as("bn"))
      .filter($"bn" > maxBucket).select($"band", $"bucket")
    val capped = bandsC.join(broadcast(big), Seq("band", "bucket"), "left_anti")
    val a = capped.select($"band", $"bucket", $"doc".as("doc_a"))
    val b = capped.select($"band", $"bucket", $"doc".as("doc_b"))
    a.join(b, Seq("band", "bucket")).filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
  }

  /** Session memo of [[minhashCandidatePairs]] results (see Memo.scala
    * for the contract); exposed `private[graft]` so specs can pin the
    * hit behavior. */
  private[graft] val candidateMemo = new FrameMemo("lsh_cand")

  /** The full corpus → LSH candidate-pair pipeline
    * ([[minhashCandidates]] over [[minhashBandsFromDocs]]), MEMOIZED per
    * session: seven catalog gates consume this exact graph (q19's own
    * gate, Levenshtein verify, LSH recall, PageRank, triangles, k-core,
    * LPA, Bradley-Terry), and each must stay independently verifiable —
    * so the engine caches the deterministic pair table (md5-seeded
    * MinHash; a hit is bit-identical to a recompute) as a parquet
    * snapshot and every consumer after the first reads a two-column
    * scan instead of re-running shingle → signature → band → bucket
    * self-join from raw text. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, numHashes: Int = 8,
                            bandSize: Int = 2,
                            maxBucket: Int = 1000): DataFrame =
    candidateMemo.getOrCompute(
      Seq(docs.select(col(idCol), col(textCol))),
      s"n=$n,h=$numHashes,bs=$bandSize,cap=$maxBucket") {
      minhashCandidates(
        minhashBandsFromDocs(docs, idCol, textCol, n, numHashes, bandSize),
        maxBucket)
    }

  /** Connected components over candidate duplicate pairs — the final stage
    * of the near-dup pipeline: LSH/Jaccard emit PAIRS, but dedup decisions
    * need CLUSTERS (a~b, b~c => {a,b,c} keep one). Two physical tiers, same
    * semantics, chosen by the `graph` gate ([[Par.gate]]) over the
    * materialized pair rows: driver union-find when the pair set fits in
    * memory (the common case after LSH bucket capping), else iterative
    * min-label propagation — every node starts labeled with itself; each
    * round pushes the smaller label across every edge until fixpoint.
    *
    * Scale shape: per round, one join of edges against the label set (both
    * keyed by node id) + one min-aggregate — linear in |E| per round, and
    * rounds = cluster diameter, which for near-dup graphs is tiny (clusters
    * are near-cliques: every member shares shingles with most others). The
    * label set is Par.materialize'd per round to truncate the iterative
    * lineage. For general billion-edge graphs with long chains one would
    * switch to alternating large-star/small-star (O(log n) rounds); dup
    * graphs don't need it.
    *
    * @param pairs (doc_a, doc_b) candidate pairs, any orientation
    * @return (node, component) for every node appearing in some pair;
    *         component = min doc id reachable. Callers left-join docs and
    *         coalesce to the doc's own id for singletons.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // candidate sets after LSH capping are usually driver-sized: a local
    // union-find is one collect instead of ~4 jobs per diameter round.
    // The pair plan is often the whole shingle->MinHash->LSH pipeline —
    // materialize it ONCE so the gate's count, the collect/propagation,
    // and any caller join-back all read the checkpointed blocks instead
    // of recomputing the pipeline.
    val p = pairs.materialized()
    if (Par.gate(p.sparkSession, "graph", p.count()))
      connectedComponentsLocal(p)
    else connectedComponentsIterative(p, maxIter)
  }

  /** Driver-side union-find over a collected pair set; same output contract
    * as the iterative form (component = min reachable id). */
  private def connectedComponentsLocal(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val rows = pairs.select(col("doc_a"), col("doc_b")).collect()
    val parent = new scala.collection.mutable.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    rows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN id so every root is its component's minimum
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val out = parent.keys.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
    val (a, b) = (pairs.schema("doc_a"), pairs.schema("doc_b"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, math.max(1, out.size / 100000)),
      org.apache.spark.sql.types.StructType(Seq(
        a.copy(name = "node", nullable = a.nullable || b.nullable),
        org.apache.spark.sql.types.StructField("comp", a.dataType))))
  }

  /** Distributed min-label propagation — the no-collect path. */
  private def connectedComponentsIterative(
      pairs: DataFrame, maxIter: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val und = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
      .materialized() // consumed every round; freeze once
    var labels = und.select($"src".as("node")).distinct()
      .withColumn("comp", $"node")
      .materialized()
    var iter    = 0
    var changed = true
    while (changed && iter < maxIter) {
      // push each node's current label to its neighbors, keep the min of
      // (own label, incoming labels)
      val pushed = und
        .join(labels.withColumnRenamed("node", "src"), "src")
        .select($"dst".as("node"), $"comp")
      val next = labels.union(pushed)
        .groupBy($"node").agg(min($"comp").as("comp"))
        .materialized()
      changed = next
        .join(labels.withColumnRenamed("comp", "prev"), "node")
        .filter($"comp" =!= $"prev")
        .limit(1).count() > 0
      labels = next
      iter += 1
    }
    labels
  }

  /** The full near-dup clustering pipeline over a corpus: shingles ->
    * MinHash/LSH bands -> capped candidate pairs -> connected components,
    * joined back so EVERY document carries its cluster id (singletons get
    * their own id). The composition q42/q48 and any dedup decision build
    * on. */
  def dupClusters(docs: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 8, bandSize: Int = 2,
                  maxBucket: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cand = minhashCandidatePairs(docs, idCol, textCol,
      n = 3, numHashes = numHashes, bandSize = bandSize,
      maxBucket = maxBucket)
    val comp = connectedComponents(cand)
    docs.select(col(idCol))
      .join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce($"comp", col(idCol)).as("component"))
  }

  /** Near-dup clusters with the KEEP representative chosen by QUALITY
    * (highest `qualityCol`, ties to smallest id) instead of smallest id —
    * the curation rule real pipelines ship: when near-duplicates differ,
    * keep the best copy, not the first-seen one. Null quality sorts as 0.
    *
    * Scale shape: clustering is [[dupClusters]] (capped LSH candidates +
    * tiered components); canonical selection is a partial-aggregable
    * `min(struct(-quality, id))` per component — the QUALITY side is
    * negated, never the id, so string ids work — no window over the
    * corpus. */
  def qualityCanonical(docs0: DataFrame, idCol: String, qualityCol: String,
                       textCol: String, numHashes: Int = 8,
                       bandSize: Int = 2, maxBucket: Int = 1000): DataFrame = {
    val docs = Par.ensure(docs0)
    // clusters build from docs0, not the ensured frame: the pipeline
    // ops re-ensure internally, and keying the candidate memo on the
    // RAW input plan lets this share the q19 snapshot instead of
    // fragmenting the key on a local repartition node
    val clusters = dupClusters(docs0, idCol, textCol,
      numHashes, bandSize, maxBucket)
    // checkpoint: scored feeds the canon aggregate AND the output join
    // (same reason semDedup freezes its assignment table)
    val scored = clusters.join(
      docs.select(col(idCol),
        coalesce(col(qualityCol).cast("long"), lit(0L)).as("quality")),
      Seq(idCol)).materialized()
    // min over (-quality, id): highest quality, ties to smallest id.
    // The QUALITY side is negated (always numeric), never the id — string
    // ids work, matching the generic-id contract of the rest of the family
    val canon = scored.groupBy(col("component"))
      .agg(min(struct((-col("quality")).as("nq"), col(idCol).as("cid"))).as("m"))
      .select(col("component"), col("m.cid").as("canon_id"))
    scored.join(canon, Seq("component"))
      .select(col(idCol).as("doc_id"), col("component"), col("quality"),
        col("canon_id"), (col(idCol) === col("canon_id")).as("keep"))
  }

  /** Leakage-safe train/val/test assignment: the split is hashed from the
    * duplicate-CLUSTER id, not the document id, so near-duplicates can
    * never straddle a split boundary (the classic train/test contamination
    * bug: doc in train, its near-copy in test). Deterministic md5 hashing —
    * the same hex-prefix range split in any engine. Default cuts: md5 hex
    * first char < 'c' -> train (12/16 = 75%), < 'e' -> val (12.5%), else
    * test (12.5%). Pure map-side over the (doc, component) frame.
    *
    * @param tagged (idCol, componentCol) — e.g. [[connectedComponents]]
    *               joined back to the corpus with singletons coalesced to
    *               their own id
    */
  def leakageSafeSplit(tagged: DataFrame, idCol: String, componentCol: String,
                       trainCut: String = "c", valCut: String = "e"): DataFrame = {
    val h = md5(col(componentCol).cast("string"))
    tagged.withColumn("split",
      when(h < trainCut, "train").when(h < valCut, "val").otherwise("test"))
  }

  /** 16-bit SimHash from md5 nibbles: bit i (1-based) is set iff the
    * token-occurrence-weighted sum of (+1 if nibble i's high bit set else -1)
    * is positive. Integer arithmetic end-to-end → exact in both engines.
    *
    * Entirely MAP-SIDE: one md5 per token, folded into a 16-slot running
    * sum with `aggregate`, zero shuffles. (The exploded form amplified the
    * corpus to tokens x 16 rows through TWO shuffles and recomputed each
    * token's md5 16 times — same math, ~20x the work.) Docs with zero
    * tokens emit no row, matching the exploded form's semantics. */
  def simhash(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = Par.ensure(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    val bits = 16
    val hiNibble = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val sums = aggregate(
      transform($"toks", t => md5(t)),
      array_repeat(lit(0L), bits),
      (acc, h) => transform(sequence(lit(1), lit(bits)),
        i => element_at(acc, i) +
          when(h.substr(i, lit(1)).isin(hiNibble: _*), 1L).otherwise(-1L)))
    docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc",
        aggregate(sequence(lit(1), lit(bits)), lit(0L),
          (acc, i) => acc + when(element_at(sums, i) > 0,
            pow(lit(2.0), i - 1).cast("long")).otherwise(0L)).as("simhash"))
  }

  /** Blocked fuzzy record linkage: pair every two rows that share a
    * blocking key and score their names with native Jaro-Winkler
    * ([[graft.functions.JaroWinkler]]) — the entity-resolution shape
    * (same product under two spellings, same supplier with a typo'd
    * name) where exact fingerprints see nothing and corpus-wide fuzzy
    * all-pairs is quadratic suicide. Blocking IS the scale contract:
    * candidate volume is `sum over blocks of n_b^2 / 2`, so blocks
    * larger than `maxBlock` rows are dropped whole (the maxBasket
    * rule — an over-cap block means the blocking key is too coarse,
    * and the fix is a better key, not an unbounded join).
    *
    * The similarity is computed once per pair inside whole-stage
    * codegen; the threshold keeps a pair when `jw >= minSim`. Output:
    * (id_a, id_b, jw) in canonical id_a < id_b order, jw rounded 6. */
  def blockedNameLink(df: DataFrame, idCol: String, nameCol: String,
                      blockCols: Seq[String], minSim: Double = 0.88,
                      maxBlock: Int = 10000): DataFrame = {
    require(blockCols.nonEmpty && minSim > 0.0 && minSim <= 1.0 &&
      maxBlock >= 2, "need block columns, minSim in (0,1], maxBlock >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val rel = df
      .select((blockCols.map(col) ++
        Seq(col(idCol).as("__id"), col(nameCol).as("__name"))): _*)
      .filter(blockCols.map(col(_).isNotNull).reduce(_ && _) &&
        $"__id".isNotNull)
    val ok = rel.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
      .filter($"__bn" <= maxBlock.toLong)
      .select(blockCols.map(col): _*)
    val capped = rel.join(ok, blockCols, "left_semi")
    val jw = graft.functions.JaroWinkler.jaroWinkler($"__na", $"__nb")
    capped.select((blockCols.map(col) ++
        Seq($"__id".as("id_a"), $"__name".as("__na"))): _*)
      .join(capped.select((blockCols.map(col) ++
        Seq($"__id".as("id_b"), $"__name".as("__nb"))): _*), blockCols)
      .filter($"id_a" < $"id_b")
      .filter(jw >= minSim)
      .select($"id_a", $"id_b", (round(jw * 1e6) / 1e6).as("jw"))
  }
}
