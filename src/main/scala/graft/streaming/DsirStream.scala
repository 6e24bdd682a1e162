package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sampling.Dsir

/** Streaming DSIR distribution store with BOUNDED state — selection-
  * at-ingest, the importance-weighting twin of [[LshIngestStream]]'s
  * dedup-at-ingest: each micro-batch reduces to its own per-bucket
  * `(b, cr, ct)` count grid (≤ `buckets` rows whatever the batch size)
  * and appends; the current per-bucket surprisals — and with them any
  * document's importance weight — resolve from ONE grouped sum over
  * the partial store plus the shared [[Dsir.statsToSurprisals]]
  * arithmetic. Bucket counts over disjoint doc sets sum cell-wise
  * into the counts of their union, so the accreted store is IDENTICAL
  * to a one-shot fit on everything — DsirStreamSpec pins accreted ≡
  * batch [[Dsir.importanceWeights]] across batch splits.
  *
  * This is how importance weighting actually deploys over a landing
  * crawl: the target/raw distributions accrete as data arrives and
  * "how target-like is this document" is answerable at any moment
  * without refitting over history — the store is 2·`buckets` longs of
  * state per batch, never corpus-sized.
  *
  * Replay idempotence: [[StreamHost.overwriteBatch]].
  */
object DsirStream {

  /** The foreachBatch sink: this batch's per-bucket (cr, ct) grid.
    * `targetExpr` is a SQL boolean over the batch's columns (a Column
    * does not survive into foreachBatch closures across plans).
    */
  def dsirSink(storePath: String, idCol: String, textCol: String,
      targetExpr: String, buckets: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val pb = Dsir.perDocBucketCounts(batch, idCol, textCol,
      expr(targetExpr), buckets)
    val grid = pb.groupBy(col("b"))
      .agg(sum(col("c")).as("cr"),
        sum(when(col("__tgt"), col("c")).otherwise(lit(0L))).as("ct"))
    StreamHost.overwriteBatch(grid, batchId, storePath)
  }

  /** Current per-bucket surprisals from the partial store: one grouped
    * sum to merge the grids, then the shared resolution.
    */
  def currentSurprisals(spark: SparkSession, storePath: String)
      : DataFrame = {
    val merged = spark.read.parquet(storePath)
      .groupBy(col("b"))
      .agg(sum(col("cr")).as("cr"), sum(col("ct")).as("ct"))
    Dsir.statsToSurprisals(merged)
  }

  /** Score a document frame against the ACCRETED distributions —
    * `(idCol, weight, n_bigrams, n_unseen)`, gramless docs kept at 0.
    * `n_unseen` counts gram mass in buckets the store never observed
    * (out-of-register content), which a gramless doc (n_bigrams = 0)
    * never has — the two zero-weight cases are distinguishable.
    */
  def scoreAgainstStore(spark: SparkSession, storePath: String,
      docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val pb = Dsir.perDocBucketCounts(docs, idCol, textCol, lit(false),
      buckets)
    Dsir.scoreAgainst(docs.select(col(idCol)), pb,
      currentSurprisals(spark, storePath), idCol)
  }
}
