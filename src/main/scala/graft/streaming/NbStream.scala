package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.NbLang

/** Streaming Naive Bayes model store with BOUNDED state —
  * classification-at-ingest, the trained-classifier twin of
  * [[DsirStream]]'s selection-at-ingest: each micro-batch reduces to
  * its own (label, bucket) count grid plus per-label doc priors
  * (≤ |labels|·(nBuckets+1) rows whatever the batch size) and appends;
  * the current model — and with it any document's predicted label —
  * resolves from ONE grouped sum over the partial store plus the
  * shared [[NbLang]] smoothing/argmin arithmetic. Count grids over
  * disjoint doc sets sum cell-wise into the grid of their union, so
  * the accreted model is IDENTICAL to a one-shot fit on everything —
  * NbStreamSpec pins accreted ≡ batch [[NbLang.predict]] across batch
  * splits.
  *
  * This is how a lang-ID / domain-router model deploys over a landing
  * crawl: labeled history accretes as it arrives and "what does the
  * current model say about this document" is answerable at any moment
  * without refitting over history. Priors ride in the same store as
  * `bucket = -1` rows, so one parquet path carries the whole model.
  *
  * Replay idempotence: [[StreamHost.overwriteBatch]] — a redelivered
  * batch replaces its own partition instead of double-counting.
  */
object NbStream {

  /** The foreachBatch sink: this batch's (label, bucket) grid with the
    * prior row at bucket −1.
    */
  def nbSink(storePath: String, labelCol: String, textCol: String,
      nBuckets: Int)(batch: DataFrame, batchId: Long): Unit = {
    val counts = NbLang.trainCounts(batch, labelCol, textCol, nBuckets)
    val priors = batch.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("c"))
      .select(col("label"), lit(-1L).as("bucket"), col("c"))
    StreamHost.overwriteBatch(counts.unionByName(priors), batchId, storePath)
  }

  /** Current model from the partial store: one grouped sum merges the
    * grids, then the store splits into the (counts, labelStats) pair
    * [[NbLang.predict]] consumes.
    */
  def currentModel(spark: SparkSession, storePath: String)
      : (DataFrame, DataFrame) = {
    val merged = spark.read.parquet(storePath)
      .groupBy(col("label"), col("bucket"))
      .agg(sum(col("c")).as("c"))
      .localCheckpoint(eager = false) // counts filter + prior filter
    val counts = merged.filter(col("bucket") >= 0L)
    val priors = merged.filter(col("bucket") === -1L)
      .select(col("label"), col("c").as("p"))
    (counts, NbLang.labelStatsFromPriors(priors, counts))
  }

  /** Classify a document frame with the ACCRETED model — `(idCol,
    * pred)`, total (gramless docs fall back to the prior argmin).
    */
  def classifyAgainstStore(spark: SparkSession, storePath: String,
      docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val (counts, labels) = currentModel(spark, storePath)
    NbLang.predict(docs, idCol, textCol, counts, labels, nBuckets)
  }
}
