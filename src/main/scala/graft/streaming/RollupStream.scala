package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.IncrementalRollup

/** Streaming twin of the j12 incremental rollup
  * ([[graft.pipeline.IncrementalRollup]]): a retractable CDC feed
  * arrives in micro-batches, each batch is reduced to per-group SIGNED
  * delta partials (`d_cnt`, `d_sum` — before-images retract, after-
  * images assert) and appended; the current rollup resolves with one
  * grouped sum over the partial store, never re-reading earlier
  * batches. Deltas commute and are additive, so the resolved rollup is
  * IDENTICAL to a from-scratch recompute of the applied state no matter
  * where the batch boundaries fall — RollupStreamSpec pins streamed ≡
  * batch across splits.
  *
  * Replay idempotence: partials land through
  * [[StreamHost.overwriteBatch]] — a redelivered batch id replaces its
  * own partition bit-for-bit.
  *
  * Scale: per-batch work is O(Δ) with one group-bounded aggregate; the
  * store grows one bounded row-set per group per batch and compacts by
  * the same grouped sum that resolves it.
  */
object RollupStream {

  /** The foreachBatch sink: this batch's signed per-group deltas. */
  def rollupSink(storePath: String, groupCol: String, valueCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    StreamHost.overwriteBatch(
      IncrementalRollup.delta(batch, groupCol, valueCol), batchId, storePath)
  }

  /** Resolve the current rollup from the partial store: one grouped
    * sum; groups whose net count drained to zero vanish (the
    * [[IncrementalRollup.maintain]] contract).
    */
  def currentRollup(spark: SparkSession, storePath: String,
      groupCol: String): DataFrame =
    spark.read.parquet(storePath)
      .groupBy(col("g").as(groupCol))
      .agg(sum(col("d_cnt")).as("cnt"), sum(col("d_sum")).as("sum"))
      .filter(col("cnt") > 0)
}
