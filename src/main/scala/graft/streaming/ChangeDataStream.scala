package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming CDC host — [[graft.pipeline.SnapshotDiff]]'s classification
  * applied continuously: every micro-batch is classified against the
  * running fingerprint store (`added` / `changed` / `unchanged` per
  * arriving key — `removed` does not exist in a stream, absence is not
  * an event; it belongs to snapshot boundaries, d13), the change log is
  * emitted, and only the added ∪ changed slice opens new store versions.
  * Downstream incremental stages (re-embedding, index refresh, shard
  * rebuild) subscribe to the change log instead of re-reading the corpus.
  *
  * Idempotence under micro-batch replay (foreachBatch redelivers a
  * batchId after a crash): both writes go through
  * [[StreamHost.overwriteBatch]], so a replayed batch replaces its own
  * partitions bit-for-bit instead of appending duplicates — the store
  * and the log are exactly-once per batch id by construction.
  *
  * Scale: the store is append-only versions (key, fp, batch_id); the
  * read side resolves "current fingerprint" with a max_by hash
  * aggregate, no window. One key-equi-join per batch (batch ⋈ current),
  * AQE-splittable; at 100 TB the store would be bucketed on the key to
  * make it co-located (k7's lever).
  */
object ChangeDataStream {

  /** Latest fingerprint per key from the version store: max_by on
    * batch_id with the fingerprint itself as a deterministic tiebreak
    * (replayed duplicates of one batch resolve identically).
    */
  def currentState(store: DataFrame, keyCol: String): DataFrame =
    store.groupBy(col(keyCol))
      .agg(max(struct(col("batch_id"), col("fp"))).as("v"))
      .select(col(keyCol), col("v.fp").as("cur_fp"))

  /** The foreachBatch sink. `fp` must be a deterministic pure column
    * over the batch row (e.g. `md5(text)`).
    */
  def cdcSink(storePath: String, changeLogPath: String, keyCol: String,
      fp: org.apache.spark.sql.Column)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // one fingerprint per key per batch, deterministic under redelivery
    val inBatch = batch.select(col(keyCol), fp.as("fp"))
      .groupBy(col(keyCol)).agg(max(col("fp")).as("fp"))
      .localCheckpoint() // classification + both writes share one read
    val empty = graft.pipeline.StoreMaintenance
      .committedPartCount(storePath) == 0L
    val classified = (
      if (empty) inBatch.withColumn("cur_fp", lit(null).cast("string"))
      else inBatch.join(
        currentState(spark.read.parquet(storePath), keyCol),
        Seq(keyCol), "left")
      ).select(col(keyCol), col("fp"),
        when(col("cur_fp").isNull, lit("added"))
          .when(col("cur_fp") === col("fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("change"))
      .localCheckpoint()
    StreamHost.overwriteBatch(classified.select(col(keyCol), col("change")),
      batchId, changeLogPath)
    StreamHost.overwriteBatch(classified.filter(col("change") =!= "unchanged")
      .select(col(keyCol), col("fp")), batchId, storePath)
  }
}
