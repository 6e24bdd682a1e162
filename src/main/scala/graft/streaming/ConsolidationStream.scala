package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.domain.InvoiceRecord
import graft.operators.{Merge, Reconcile, Validate}
import graft.pipeline.ConsolidationPipeline

/** Structured-Streaming host for the consolidation pipeline — the
  * incremental-micro-batch shape the reference's architecture implies
  * (SURVEY §2.8: file discovery S1 + per-file exactly-once J4 + archival
  * S10 map to a file source + checkpoint + `cleanSource`).
  *
  * The stream consumes CANONICAL staged files (header-discovery formats go
  * through the batch path first); each micro-batch replays the batch
  * pipeline as the [[StreamHost]] sink: validate split (P6) → insert-only
  * merge (J1) against the store → reconcile (A2) → append inserted slice
  * + error-channel audit. `Trigger.AvailableNow` + checkpointing give
  * file-level exactly-once across restarts — the streaming form of J4 —
  * with no tracker probe needed.
  */
object ConsolidationStream {

  final case class Config(
      landingDir: String,
      consolidatedPath: String,
      checkpointDir: String,
      errorDir: String,
      archiveDir: Option[String] = None)

  /** Canonical staged-file schema: the validated-core columns as CSV. */
  val stagedSchema: StructType = StructType(
    InvoiceRecord.schema.fields.filterNot(f =>
      Set("source_file", "processed_at", "status").contains(f.name)))

  /** Run one `AvailableNow` pass: process every unseen file then stop.
    * Returns the number of micro-batches executed.
    */
  def runAvailableNow(spark: SparkSession, cfg: Config): Long = {
    val reader = spark.readStream
      .schema(stagedSchema)
      .option("header", "true")
    val source = cfg.archiveDir.fold(reader)(arch => reader
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", arch))
      .csv(cfg.landingDir)
      .withColumn("source_file", input_file_name())
      .withColumn("processed_at", current_timestamp())
      .withColumn("status", lit("new"))
    StreamHost.runNamed("consolidation", source, cfg.checkpointDir)(
      validated(cfg) { (valid, _) =>
        // the per-micro-batch pipeline — identical semantics to the batch
        // path: insert-only merge (J1) against the store → reconcile (A2)
        // → append the inserted slice aligned to the store's columns
        val store = ConsolidationPipeline.readStore(valid.sparkSession,
          cfg.consolidatedPath)
        val m = Merge.insertOnly(Merge.lenientExisting(store), valid,
          InvoiceRecord.pk)
        Reconcile.check(valid, m.result, InvoiceRecord.pk, "total_amount")
        ConsolidationPipeline.alignToStore(m.inserted, store.schema)
          .write.mode(SaveMode.Append).parquet(cfg.consolidatedPath)
      })
  }

  /** The shape both hosts share around their store write: pin the
    * micro-batch with a first-wins ordinal (not allowed on the stream
    * itself), split it (P6), hand the valid side to `write`, then append
    * the error channel to the audit dir tagged with the batch id. Errors
    * are DATA on both hosts: silently dropping the invalid rows would make
    * streamed and batch runs unreconcilable and lose the audit trail.
    *
    * The micro-batch is materialized once: an eager
    * `localCheckpoint` that also counts the rows as an observed metric
    * (the DupClusters idiom), so an empty batch costs no separate
    * `isEmpty` job, and both sides of the split (the store merge and the
    * error write) read the checkpoint rather than the source files.
    */
  private def validated(cfg: Config)(write: (DataFrame, Long) => Unit)(
      batch: DataFrame, batchId: Long): Unit = {
    val rows = org.apache.spark.sql.Observation()
    val pinned = batch.withColumn("row_index", monotonically_increasing_id())
      .observe(rows, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    if (rows.get("n").asInstanceOf[Long] > 0L) {
      val split = Validate.split(pinned)
      write(split.valid, batchId)
      split.errors.withColumn("batch_id", lit(batchId))
        .write.mode(SaveMode.Append).parquet(cfg.errorDir)
    }
  }

  /** SCD2 streaming host: each micro-batch applies the history-preserving
    * upsert ([[Merge.scd2Upsert]], `batchTs = batchId`) to the store —
    * the streaming form of a warehouse dimension load. The store is
    * OVERWRITTEN each batch (versions change in place), so the result
    * materializes via `localCheckpoint()` BEFORE the write — the
    * overwrite-while-reading hazard the batch pipeline documents.
    * Checkpoint + AvailableNow give exactly-once file handling across
    * restarts, and J7's redelivery-no-op semantics make even a replayed
    * batch harmless.
    */
  def runScd2AvailableNow(spark: SparkSession, cfg: Config,
      changeFields: Seq[String]): Long = {
    val source = spark.readStream
      .schema(stagedSchema)
      .option("header", "true")
      .csv(cfg.landingDir)
    StreamHost.runNamed("scd2-consolidation", source, cfg.checkpointDir)(
      validated(cfg) { (valid, batchId) =>
        val store = readScd2Store(valid.sparkSession, cfg.consolidatedPath,
          valid.schema)
        val m = Merge.scd2Upsert(store, valid, InvoiceRecord.pk,
          changeFields, batchTs = batchId + 1)
        val out = m.result.localCheckpoint() // store is overwritten next
        out.write.mode(SaveMode.Overwrite).parquet(cfg.consolidatedPath)
      })
  }

  private def readScd2Store(spark: SparkSession, path: String,
      dataSchema: StructType): DataFrame =
    if (Files.exists(Paths.get(path))) spark.read.parquet(path)
    else {
      val schema = StructType(dataSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("valid_from",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("valid_to",
          org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
}
