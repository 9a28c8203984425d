package graft.analytics

import Par.Mat

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Distributed byte-pair-encoding tokenizer training + application — the
  * subword vocabulary step of an LLM data pipeline (Sennrich et al. 2016
  * semantics: greedy highest-count pair merges, `</w>` end-of-word
  * marker).
  *
  * Scale shape: the corpus is scanned ONCE to build the word-frequency
  * table; training afterwards runs over that vocab table only (distinct
  * words — orders of magnitude smaller than the corpus and independent
  * of corpus growth once saturated). Training is two-tier ([[train]]):
  * when the vocab table fits the driver the merge loop runs local with
  * incremental pair bookkeeping (the tier a realistic 32k–50k-merge
  * vocabulary needs); otherwise each merge is one partial-aggregable
  * pair-count shuffle over the vocab plus a 1-row TakeOrdered (bounded
  * model exchange), the rewrite a codegen'd string `replace` — no UDF
  * anywhere. Token counting joins the corpus words against the final
  * vocab by key (broadcast when the vocab is small, shuffle join
  * otherwise — AQE decides); the text is never re-segmented per
  * document.
  *
  * Determinism: pair ties break lexicographically (count desc, left asc,
  * right asc); symbol state is a canonical space-padded string, so a SQL
  * oracle replays the identical `replace` algebra.
  */
object Bpe {

  /** Vocab symbol state for `word`: `" w o r d </w> "` — every symbol
    * space-separated with leading/trailing pads so a merge of pair (a, b)
    * is exactly `replace(s, " a b ", " ab ")` (greedy left-to-right
    * non-overlapping, the classic merge order). */
  private def initialSyms(w: Column): Column =
    concat(lit(" "), array_join(filter(split(w, ""), c => c =!= ""), " "),
      lit(" </w> "))

  /** The distributed word-frequency table with initial symbol state:
    * `(w, f, s)`. One corpus scan. */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(Dedup.tokens(col(textCol))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .withColumn("s", initialSyms($"w"))
  }

  /** Adjacent symbol pairs of the padded state `s`, as (a, b) structs. */
  private def adjacentPairs(s: Column): Column = {
    val l = filter(split(s, " "), x => x =!= "")
    zip_with(slice(l, lit(1), greatest(size(l) - 1, lit(0))),
             slice(l, lit(2), greatest(size(l) - 1, lit(0))),
             (x, y) => struct(x.as("a"), y.as("b")))
  }

  /** Train `numMerges` BPE merges over the corpus. Returns
    * `(merges, vocab)`:
    *  - `merges`: `(rank, left_sym, right_sym, pair_count)` — the model,
    *    one row per learned merge in rank order;
    *  - `vocab`: `(w, f, n_tokens)` — every corpus word with its token
    *    count under the final merge table (the segmentation join table
    *    [[tokenCounts]] uses).
    * Training stops early if the corpus runs out of adjacent pairs.
    *
    * TWO-TIER TRAINING (the [[graft.engine.CategoryPath]] precedent):
    * the word-frequency table is vocab-sized by construction — distinct
    * words, not corpus tokens — so once it fits the driver (the `bpe`
    * gate, [[Par.gate]], over its rows) the merge loop runs DRIVER-LOCAL
    * with incremental pair-count bookkeeping (the subword-nmt
    * algorithm: only words containing the merged pair are touched, a
    * tree-ordered pair index serves argmax in O(log P)). Only the
    * corpus scan that builds the table and the downstream
    * [[tokenCounts]] join stay distributed. This is what makes a REAL
    * 32k–50k-merge tokenizer trainable: the distributed tier costs one
    * driver-synchronized pair-count job PER MERGE — 50k sequential
    * Spark rounds — where the local tier's whole loop is seconds of
    * driver CPU on the same table. The distributed tier (forced by
    * `spark.graft.gate.bpe=0`) remains for vocabularies too large to
    * collect; both tiers step through bit-identical merges (tie order
    * count desc, pair asc — spec-pinned parity). */
  def train(docs: DataFrame, textCol: String,
            numMerges: Int): (DataFrame, DataFrame) = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // the ONE corpus scan, materialized — the gate's count and whichever
    // tier trains read the checkpointed vocab table, never the raw
    // corpus again
    val vocab = wordTable(docs, textCol).materialized()
    if (Par.gate(spark, "bpe", vocab.count())) {
      val words = vocab.select($"w", $"f").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val (merges, finalSyms) = localTrain(words, numMerges)
      val mergeDf = spark.createDataFrame(merges)
        .toDF("rank", "left_sym", "right_sym", "pair_count")
      val vocabDf = spark.createDataFrame(
        words.toIndexedSeq.zip(finalSyms.toIndexedSeq).map {
          case ((w, f), syms) => Row(w, f, syms.length)
        }.asJava,
        StructType(Seq(vocab.schema("w"), vocab.schema("f"),
          StructField("n_tokens", IntegerType, nullable = false))))
      (mergeDf, vocabDf)
    } else trainOnTable(vocab, numMerges)
  }

  /** The distributed merge loop over an already-materialized `(w, f, s)`
    * vocab table — one vocab-sized pair-count shuffle + 1-row model
    * collect per merge. Correct at any vocab size, but each merge is a
    * driver-synchronized Spark round: use [[train]]'s default local tier
    * unless the vocab genuinely cannot fit the driver. */
  private def trainOnTable(vocab0: DataFrame,
      numMerges: Int): (DataFrame, DataFrame) = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    // each iteration's state is materialized (Par.materialize): the next
    // pair count must not recompute the whole merge chain from the raw
    // corpus — 20 merges would otherwise cost O(20²) corpus scans
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val best = vocab
        .select(explode(adjacentPairs($"s")).as("p"), $"f")
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"f").as("c"))
        .orderBy($"c".desc, $"a", $"b")
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (best.head.getString(0), best.head.getString(1),
           best.head.getLong(2))
        merges += ((r, a, b, c))
        vocab = vocab
          // literal (non-regex) replace: symbols may contain any corpus
          // punctuation; semantics = greedy left-to-right non-overlapping,
          // identical to the oracle's replace()
          .withColumn("s", replace($"s", lit(s" $a $b "), lit(s" $a$b ")))
          .materialized()
        r += 1
      }
    }
    val mergeDf = spark.createDataFrame(merges.result())
      .toDF("rank", "left_sym", "right_sym", "pair_count")
    val vocabDf = vocab.select($"w", $"f",
      size(filter(split($"s", " "), x => x =!= "")).as("n_tokens"))
    (mergeDf, vocabDf)
  }

  /** Driver-local merge loop over a collected `(word, freq)` table —
    * subword-nmt's incremental algorithm. State per word is its symbol
    * array; a `(count, a, b)` tree set (count desc, pair asc — the
    * distributed tier's exact tie order) serves argmax; each merge
    * touches ONLY the words containing the winning pair, decrementing
    * their old adjacent-pair counts and re-adding the rewritten ones.
    * Overlapping occurrences count individually (matching the
    * distributed `explode(adjacentPairs)`), while the rewrite is greedy
    * left-to-right non-overlapping ([[mergePair]] = the `replace`
    * algebra) — the classic Sennrich count/merge asymmetry, preserved
    * for bit parity. Initial symbols are CODE POINTS: Java's
    * `String.split("")` splits surrogate pairs into lone halves (whose
    * UTF-8 encoding degrades to `?`), while Spark's `split(w, "")` and
    * DuckDB keep supplementary characters whole — spec-pinned on a
    * U+1F600 corpus. */
  /** Tie order = UNSIGNED UTF-8 byte comparison, NOT Java's
    * `String.compareTo`: Spark's `orderBy` on strings and DuckDB's
    * `ORDER BY` both compare UTF-8 binary, and the two orders diverge
    * between U+E000–U+FFFF (UTF-16 code units above the surrogate
    * range, UTF-8 three bytes ≤ 0xEF) and supplementary chars (UTF-16
    * surrogates 0xD800+, UTF-8 four bytes ≥ 0xF0). A code-unit
    * comparator here would break tier parity on exactly those ties. */
  private[analytics] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }

  private[analytics] def localTrain(words: Array[(String, Long)],
      numMerges: Int): (Seq[(Int, String, String, Long)], Array[Array[String]]) = {
    val syms: Array[Array[String]] = words.map { case (w, _) =>
      w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))) :+ "</w>"
    }
    val freq = words.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    val order = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          if (x._1 != y._1) java.lang.Long.compare(y._1, x._1)
          else {
            val c = utf8Compare(x._2, y._2)
            if (c != 0) c else utf8Compare(x._3, y._3)
          }
        }
      })
    def bump(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) order.remove((old, p._1, p._2))
      val next = old + delta
      if (next == 0L) counts.remove(p)
      else { counts(p) = next; order.add((next, p._1, p._2)) }
    }
    def wordPairs(s: Array[String]): Iterator[(String, String)] =
      (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1)))
    var i = 0
    while (i < syms.length) {
      wordPairs(syms(i)).foreach { p =>
        bump(p, freq(i))
        where.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += i
      }
      i += 1
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 0
    while (r < numMerges && !order.isEmpty) {
      val (c, a, b) = order.first()
      merges += ((r, a, b, c))
      val affected = where.getOrElse((a, b),
        scala.collection.mutable.HashSet.empty[Int]).toArray
      affected.foreach { wi =>
        val f = freq(wi)
        wordPairs(syms(wi)).foreach { p =>
          bump(p, -f)
          where.get(p).foreach(_ -= wi)
        }
        syms(wi) = mergePair(syms(wi).toSeq, a, b).toArray
        wordPairs(syms(wi)).foreach { p =>
          bump(p, f)
          where.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += wi
        }
      }
      r += 1
    }
    (merges.result(), syms)
  }

  /** Greedy left-to-right merge of one pair — the driver-side reference
    * of the `replace` rewrite, for segmenting out-of-corpus words. */
  private[analytics] def mergePair(syms: Seq[String], a: String,
                                   b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Segment one word under a trained merge list (rank order replay —
    * the original subword-nmt application rule). For words seen in
    * training this reproduces the vocab table's segmentation exactly —
    * the reference replay specs check [[train]]'s vocab against. */
  private[graft] def segment(word: String, merges: Seq[(String, String)]): Seq[String] = {
    val init = word.toCharArray.map(_.toString).toSeq :+ "</w>"
    merges.foldLeft(init) { case (s, (a, b)) => mergePair(s, a, b) }
  }

  /** Per-document token counts under the trained vocab: `(id, n_words,
    * n_tokens)`. Pure joins — the corpus explodes to words, each word
    * looks up its trained token count, one partial-aggregable groupBy
    * back to documents. Documents with no tokens produce no row (same
    * rule as every tokenizing op here). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  vocab: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("id"),
        explode(Dedup.tokens(col(textCol))).as("w"))
      .join(vocab.select($"w", $"n_tokens"), "w")
      .groupBy($"id")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_tokens").cast("long").as("n_tokens"))
  }
}
