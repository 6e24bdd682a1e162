package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sketch.Sketch

/** Streaming heavy hitters with BOUNDED state — the t12 Misra–Gries
  * sketch as a continuously-maintained store: each micro-batch reduces
  * to its OWN ≤ k (token, count) partial (whatever the batch size) and
  * appends; the current hitters resolve from one grouped sum over the
  * partial store. This closes the streaming family: every sketch in
  * [[Sketch]] now has an accreting host (KMV → t26's store, HLL →
  * [[HllStream]], quantile grids → [[QuantileStream]], MG → here).
  *
  * Guarantee algebra: per-batch MG counts undercount by at most that
  * batch's decrement mass, and sums of lower bounds are lower bounds —
  * so a candidate's summed count is a LOWER bound on its true stream
  * count, and any item with true frequency > N/(k+1) within every
  * batch survives every per-batch sketch and therefore the store. In
  * the exact regime (≤ k distinct per batch, the t12 gate stance) no
  * decrement ever fires and streamed ≡ batch exactly —
  * HeavyHitterStreamSpec pins that across batch splits.
  *
  * Replay idempotence: [[StreamHost.overwriteBatch]] — a redelivered
  * batch replaces its own partial bit-for-bit.
  */
object HeavyHitterStream {

  /** The foreachBatch sink: this batch's ≤ k (token, cnt) MG partial. */
  def mgSink(storePath: String, valueCol: String, k: Int = 64)(
      batch: DataFrame, batchId: Long): Unit = {
    val mg = udaf(Sketch.MisraGriesAggregator(k))
    StreamHost.overwriteBatch(batch.agg(mg(col(valueCol)).as("mg"))
      .select(explode(col("mg")).as(Seq("token", "cnt"))), batchId, storePath)
  }

  /** Current hitters from the partial store: one grouped sum (the
    * lower-bound counts), descending. `minCount` drops sub-threshold
    * stragglers (callers threshold MG output — the sketch's contract).
    */
  def currentHitters(spark: SparkSession, storePath: String,
      minCount: Long = 1L): DataFrame =
    spark.read.parquet(storePath)
      .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token"))
}
