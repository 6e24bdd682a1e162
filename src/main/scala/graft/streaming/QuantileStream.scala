package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sketch.ApproxQuantiles

/** Streaming per-group quantiles with BOUNDED state — the t18
  * log-histogram as a continuously-maintained store: each micro-batch
  * reduces to its own `(group, bin, count)` grid (≤ 64·2^subBits cells
  * per group, whatever the batch size) and appends; the current
  * quantiles resolve from ONE grouped sum over the partial store plus
  * the shared bin→estimate arithmetic. Grids over disjoint row sets sum
  * cell-wise into the grid of their union, so the accreted store is
  * IDENTICAL to a one-shot histogram of everything — QuantileStreamSpec
  * pins streamed ≡ batch [[ApproxQuantiles.quantilesByGroup]] across
  * batch splits (the t26 KMV-merge stance, for quantiles).
  *
  * This is the streaming form t31/t17's EXACT medians cannot have:
  * exact per-group quantile state grows with distinct values, but the
  * grid is fixed — a quantile dashboard over an unbounded stream at
  * bounded memory, within the t18 bin-relative error (≤ 3.1% at
  * subBits=4).
  *
  * Replay idempotence: [[StreamHost.overwriteBatch]].
  */
object QuantileStream {

  /** The foreachBatch sink: this batch's (group, bin, count) grid. */
  def quantileSink(storePath: String, groupCol: String, valueCol: String,
      subBits: Int = 4)(batch: DataFrame, batchId: Long): Unit = {
    StreamHost.overwriteBatch(
      ApproxQuantiles.histogram(batch, groupCol, valueCol, subBits), batchId,
      storePath)
  }

  /** Current per-group quantiles from the partial store: one grouped
    * sum to merge the grids, then the shared resolution.
    */
  def currentQuantiles(spark: SparkSession, storePath: String,
      groupCol: String,
      qs: Seq[(Int, Int, Int)] = Seq((0, 1, 4), (1, 2, 4), (2, 3, 4)),
      subBits: Int = 4): DataFrame = {
    val merged = spark.read.parquet(storePath)
      .groupBy(col("g"), col("id")).agg(sum(col("c")).as("c"))
    ApproxQuantiles.quantilesFromHistogram(merged, qs, subBits)
      .withColumnRenamed("g", groupCol)
  }
}
