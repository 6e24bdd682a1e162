package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sketch.Sketch

/** Streaming per-group cardinality via HyperLogLog registers — the t37
  * sketch as a continuously-maintained store: each micro-batch reduces
  * to its own `(group, bucket, r)` register frame (≤ 256 cells per
  * group, whatever the batch size) and appends; the current estimate
  * resolves from ONE grouped MAX over the partial store plus the shared
  * integer estimator arithmetic.
  *
  * Register merge is cell-wise MAX — idempotent AND commutative, the
  * strongest accretion algebra in the streaming layer: where the KMV
  * store (t26) needs the k-minima fold and the quantile grids
  * ([[QuantileStream]]) need exactly-once cell sums, a re-delivered or
  * even PARTIALLY re-delivered batch cannot move a max. The
  * `batch_id=` dynamic-overwrite replay guard is kept for store-size
  * hygiene only (a redelivery replaces rather than duplicates rows) —
  * correctness never depended on it. HllStreamSpec pins streamed ≡
  * one-shot [[Sketch.hllEstimateByGroup]] across batch splits and
  * under replay.
  */
object HllStream {

  /** The foreachBatch sink: this batch's register frame. */
  def hllSink(storePath: String, groupCol: String, valueCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    StreamHost.overwriteBatch(
      Sketch.hllRegistersByGroup(batch, Seq(groupCol), valueCol), batchId,
      storePath)
  }

  /** Current per-group distinct estimates from the partial store: one
    * grouped max to merge the registers, then the shared estimator.
    */
  def currentEstimates(spark: SparkSession, storePath: String,
      groupCol: String): DataFrame = {
    val merged = spark.read.parquet(storePath)
      .groupBy(col(groupCol), col("bucket")).agg(max(col("r")).as("r"))
    Sketch.hllEstimateFromRegisters(merged, Seq(groupCol))
  }
}
