package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** Streaming decontamination-at-ingest — the deployment shape of the
  * s21 exact asymmetric scan ([[Similarity.exactNearPairsAsym]]): the
  * eval/val vectors are FIXED and small by construction, so each
  * arriving corpus micro-batch is one linear broadcast-confirmed scan
  * (the batch never shuffles into a pair space, recall 10⁶ ppm by
  * construction), and the confirmed `(eval_id, corpus_id, dot_q)`
  * pairs append to a contamination ledger. Per-batch work is
  * O(|batch|·|eval|·dims) multiply-accumulates — the cost profile a
  * landing crawl can pay continuously, vs. the corpus-wide rescan a
  * batch detector would re-run per delivery.
  *
  * The ledger is keyed by the CORPUS side: "which newly-ingested
  * documents are too close to something in the benchmark" is the
  * question answered at any moment by [[contaminatedIds]] without
  * touching history — each batch's verdict is independent (the scan is
  * per-corpus-row), so the accreted ledger is IDENTICAL to a one-shot
  * s21 scan over everything ingested (DecontamStreamSpec pins
  * streamed ≡ batch across split choices).
  *
  * Replay idempotence: [[StreamHost.overwriteBatch]] — a redelivered
  * batch replaces its own partition and nothing else.
  */
object DecontamStream {

  /** The foreachBatch sink: this batch's confirmed cross pairs against
    * the fixed eval frame, overwrite-partitioned by batch id.
    */
  def decontamSink(storePath: String, evalSide: DataFrame, idCol: String,
      vecCol: String, thresholdPpm: Long)(
      batch: DataFrame, batchId: Long): Unit =
    StreamHost.overwriteBatch(Similarity.exactNearPairsAsym(evalSide, batch,
      idCol, vecCol, thresholdPpm), batchId, storePath)

  /** All confirmed pairs accreted so far (deduplicated — a corpus row
    * redelivered in two distinct batches confirms twice).
    */
  def contaminationLedger(spark: SparkSession, storePath: String)
      : DataFrame =
    spark.read.parquet(storePath)
      .select(col("eval_id"), col("corpus_id"), col("dot_q"))
      .distinct()

  /** Distinct corpus ids the ledger has flagged — the prune list a
    * training-set build subtracts.
    */
  def contaminatedIds(spark: SparkSession, storePath: String): DataFrame =
    contaminationLedger(spark, storePath)
      .select(col("corpus_id")).distinct()
}
