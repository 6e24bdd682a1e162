package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) join: points against [lo, hi] intervals. Spark
  * compiles the naive form `p.join(i, p.v >= i.lo && p.v <= i.hi)` to a
  * broadcast-nested-loop — O(|points| × |intervals|), a scale killer.
  *
  * The scalable form bins the value axis: every interval explodes into
  * the fixed-width bins it overlaps, points map to their single bin, and
  * the join becomes an EQUI-join on the bin id plus an exact post-filter.
  * Cost: |points| + Σ(interval spans / binWidth) exploded rows and a
  * hash join — linear, partitionable, AQE-friendly. `binWidth` trades
  * explode factor against per-bin candidate density (pick ~ the median
  * interval width).
  */
object RangeJoin {

  /** Equi-join `points` (with `valueCol`) to `intervals` (with
    * `loCol`/`hiCol`, inclusive ends) via value-axis binning. Output:
    * all point columns + all interval columns, one row per (point,
    * containing interval).
    */
  def binned(points: DataFrame, intervals: DataFrame, valueCol: String,
      loCol: String, hiCol: String, binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val pBin = points.withColumn("__bin",
      floor(col(valueCol) / binWidth).cast("long"))
    val iBins = intervals.withColumn("__bin",
      explode(sequence(
        floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    pBin.join(iBins, "__bin")
      .filter(col(valueCol) >= col(loCol) && col(valueCol) <= col(hiCol))
      .drop("__bin")
  }

  /** Interval-OVERLAP join (no equi key at all): both sides explode to
    * fixed-width bins, candidates meet on the bin id, the exact overlap
    * test filters, and each overlapping pair is kept ONLY in the bin
    * containing `max(lo1, lo2)` — that bin lies inside both intervals,
    * so every pair emits exactly once with no `distinct()` pass. Same
    * linear cost model as [[binned]]; the naive form is a
    * nested-loop cross product.
    *
    * Inclusive interval ends; output = left columns + right columns.
    */
  def overlapBinned(left: DataFrame, right: DataFrame,
      lo1: String, hi1: String, lo2: String, hi2: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    def explodeBins(df: DataFrame, lo: String, hi: String) =
      df.withColumn("__bin", explode(sequence(
        floor(col(lo) / binWidth).cast("long"),
        floor(col(hi) / binWidth).cast("long"))))
    explodeBins(left, lo1, hi1)
      .join(explodeBins(right, lo2, hi2), "__bin")
      .filter(col(lo1) <= col(hi2) && col(lo2) <= col(hi1))
      .filter(col("__bin") ===
        floor(greatest(col(lo1), col(lo2)) / binWidth).cast("long"))
      .drop("__bin")
  }
}
