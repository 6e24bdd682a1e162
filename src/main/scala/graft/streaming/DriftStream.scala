package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sketch.Drift

/** Streaming drift monitor with BOUNDED state — the t48 PSI audit as a
  * continuously-maintained store: each micro-batch reduces to its own
  * `(group, log₂-bin, count)` grid (≤ 63 cells per group, whatever the
  * batch size) and appends; the current per-source PSI-vs-rest
  * resolves from ONE grouped sum over the partial store plus the
  * shared [[Drift.psiFromCounts]] arithmetic. Count grids over
  * disjoint row sets sum cell-wise into the grid of their union, so
  * the accreted store is IDENTICAL to a one-shot binning of everything
  * — DriftStreamSpec pins streamed ≡ batch [[Drift.psiByGroup]] across
  * batch splits (the QuantileStream stance, for drift).
  *
  * This is the deployment shape a feed monitor actually needs: ingest
  * lands continuously, and "which source drifted" must be answerable
  * at any moment without rescanning history — the store is
  * |groups|·|bins| rows per batch, never corpus-sized.
  *
  * Replay idempotence: [[StreamHost.overwriteBatch]], so a redelivered
  * batch replaces its own partition instead of double-counting.
  */
object DriftStream {

  /** The foreachBatch sink: this batch's (g, b, c) grid. */
  def driftSink(storePath: String, groupCol: String, valueCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    StreamHost.overwriteBatch(
      Drift.binCounts(batch, groupCol, col(valueCol)), batchId, storePath)
  }

  /** Current per-group PSI vs rest from the partial store: one grouped
    * sum to merge the grids, then the shared resolution.
    */
  def currentPsi(spark: SparkSession, storePath: String,
      groupCol: String): DataFrame = {
    val merged = spark.read.parquet(storePath)
      .groupBy(col("g"), col("b")).agg(sum(col("c")).as("c"))
    Drift.psiFromCounts(merged).withColumnRenamed("g", groupCol)
  }
}
