package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-value aggregation library (reference SURVEY.md §2.4, A1-A7).
  * The reference encodes multi-valued cells as `///`-joined strings built by
  * per-row Python loops (main.py:130-139, 200-244, 348-412). Here each one is
  * a distributed aggregate expression: Catalyst plans them as partial+final
  * hash aggregation (map-side combine), so the shuffle carries pre-deduped
  * arrays, not raw rows.
  */
object MultiValue {

  val Sep = "///"

  /** A1 sorted-deterministic variant: distinct values, sorted, `///`-joined.
    * (Sorted rather than first-occurrence order so results are stable across
    * partitionings — the cross-engine-verifiable form.) */
  def collectDistinctSorted(value: Column, sep: String = Sep): Column =
    array_join(array_sort(array_distinct(collect_list(value))), sep)

  /** A1 first-occurrence-ordered variant (exact reference semantics,
    * main.py:87-95): pair each value with an arrival-order key, keep the
    * minimum key per value upstream, sort by it here. Use after a
    * `groupBy(id, value).agg(min(pos))` pre-step, passing that min-pos.
    */
  def collectFirstOccurrence(value: Column, pos: Column, sep: String = Sep): Column =
    array_join(
      transform(array_sort(collect_list(struct(pos.as("p"), value.as("v")))),
                s => s.getField("v")),
      sep)

  /** A2 param concat (main.py:263-266): same-key values joined with ", "
    * in deterministic (sorted) order. */
  def paramConcat(value: Column): Column =
    array_join(array_sort(collect_list(value)), ", ")

  /** A4 availability flag over a stock total (main.py:348-365). */
  def availableFlag(totalQty: Column): Column =
    when(totalQty > 0, lit("1")).otherwise(lit("0"))

  /** A4 per-warehouse detail strings `"wh: qty"` joined `///` (main.py:361-365). */
  def stockDetails(wh: Column, qty: Column): Column =
    array_join(array_sort(collect_list(concat(wh, lit(": "), qty))), Sep)

  /** A5 price resolution (main.py:367-376): `price` from the base row;
    * if a nonzero discount row exists, it becomes the price and the base
    * becomes `oldprice`. Build from two conditional aggregates. */
  def basePrice(name: Column, value: Column, baseName: String): Column =
    max(when(name === baseName, value))
  def discountPrice(name: Column, value: Column, discName: String): Column =
    max(when(name === discName && value =!= 0, value))
  def resolvedPrice(base: Column, disc: Column): Column = coalesce(disc, base)
  def resolvedOldPrice(base: Column, disc: Column): Column =
    when(disc.isNotNull, base)
}
