package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.domain.{InvoiceRecord, RecordAction}
import graft.operators.{Merge, Reconcile, Validate}
import graft.sources.{OfficialFormatExtract, StagedWorkbook}

/** The end-to-end consolidation "query" (reference: smartbots-etl/src/
  * application/use_cases/consolidate_invoices.py:45-233) over a local
  * landing directory of staged workbooks:
  *
  * per file: idempotence probe (J4) → extract (S3-S5, P2-P5) → validate
  * split (P6) → lenient re-parse of the consolidated side (J5) →
  * insert-only merge (J1, or full upsert J3) → reconcile BEFORE commit
  * (A2) → append inserted slice (S7 semantics) → audit rows (S8/J2) →
  * archive (S10); per-file fault isolation → PARTIAL, roll-up (A5),
  * always-render report (S9).
  *
  * The consolidated store is a parquet table (the Excel-with-template
  * rendering is an egress formatter, see [[Egress]]); at scale it is the
  * big side of the anti-join and never collects.
  */
object ConsolidationPipeline {

  final case class Config(
      landingDir: String,
      consolidatedPath: String,
      auditDir: String,
      lifecycleDir: String,
      mergeMode: String = "insert-only", // or "upsert"
      dateFormat: String = "dd-MM-yyyy",
      /** Partition the store on these columns (e.g. invoice_date): date-
        * scoped reads prune partitions instead of scanning the store.
        */
      partitionBy: Seq[String] = Nil,
      /** Fault-injection seam: invoked with the file name immediately
        * before each store mutation. Production default is a no-op; specs
        * use it to exercise the rollback path without filesystem tricks.
        */
      beforeStoreWrite: String => Unit = _ => (),
      /** Compact the audit tables every N runs (0 = never). The audit
        * trail appends small files every run; without a cadence the J4
        * probe's read eventually pays a listing of years of part files.
        */
      auditCompactEveryRuns: Int = 0)

  /** A store mutation failed and the pre-run backup was restored. The
    * restore rolls back EVERY file merged in this run, so this aborts the
    * whole run (reference consolidate_invoices.py:147-155 restores only at
    * run level and marks the run ERROR) — continuing per-file would merge
    * later files against the rewound store while earlier files' rows stay
    * lost but logged COMPLETED.
    */
  final case class StoreRollbackException(fileName: String, cause: Throwable)
    extends RuntimeException(
      s"Fallo al escribir el consolidado procesando '$fileName'; " +
        "respaldo pre-ejecución restaurado", cause)

  final case class SchemaValidationException(missing: Seq[String], extra: Seq[String])
    extends RuntimeException(
      s"Columnas faltantes: ${missing.mkString(", ")}; extra: ${extra.mkString(", ")}")

  /** One run. Returns the report; writes audit + consolidated as side
    * effects. Missing consolidated store → ERROR (mirrors the reference's
    * FileNotFoundError path) unless `createIfMissing`.
    */
  def run(spark: SparkSession, cfg: Config,
      createIfMissing: Boolean = true): Report.ExecutionReport = {
    val runId = UUID.randomUUID().toString
    val startedAt = new Timestamp(System.currentTimeMillis())
    val tracker = new Audit.Tracker(spark, cfg.auditDir)
    val lifecycle = new Lifecycle(cfg.lifecycleDir)

    // consolidated-store pre-flight (consolidate_invoices.py:85-90: a
    // missing consolidado is FileNotFoundError → the run reports ERROR)
    if (!createIfMissing && !Files.exists(Paths.get(cfg.consolidatedPath))) {
      val msg = s"Consolidado '${cfg.consolidatedPath}' no encontrado"
      val report = Report.ExecutionReport(runId, "ERROR", Vector.empty,
        BigDecimal(0), BigDecimal(0), Vector(msg))
      tracker.logRun(Audit.ExecutionRun(runId, startedAt, Some(now()), "ERROR",
        0, 0, 0, 0, 0, 0, BigDecimal(0).bigDecimal, BigDecimal(0).bigDecimal,
        Some(msg)))
      return report
    }

    val landing = Paths.get(cfg.landingDir)
    val files: Seq[Path] =
      if (Files.isDirectory(landing)) {
        // close the directory stream: each leaked one holds an fd, and a
        // scheduler-hosted driver runs this every few minutes for years
        val st = Files.list(landing)
        try st.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            (p.toString.endsWith(".csv") || p.toString.endsWith(".xlsx")))
          .toSeq
          // S1/O1: newest first by modification time
          .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
        finally st.close()
      } else Seq.empty

    var outcomes = Vector.empty[Report.FileOutcome]
    var allErrors = Vector.empty[String]

    if (files.nonEmpty) {
      lifecycle.initBackupFolder()
      lifecycle.backupConsolidated(cfg.consolidatedPath, runId)
    }

    var skipped = 0
    var rolledBack = false
    files.foreach { file =>
      val mtime = new Timestamp(Files.getLastModifiedTime(file).toMillis)
      val fileName = file.getFileName.toString
      if (rolledBack) {
        () // run aborted after a store rollback — remaining files untouched
      } else if (tracker.isFileProcessed(fileName, mtime)) {
        skipped += 1 // J4: silently skip (consolidate_invoices.py:194-196)
      } else {
        val fileLogId = UUID.randomUUID().toString
        val fStart = new Timestamp(System.currentTimeMillis())
        // tracks the moved file so every failure path can put it back in
        // landing — the J4 probe's "errored files reprocess" answer is
        // useless if the bytes are stranded in En Proceso/
        var inProcessOpt: Option[Path] = None
        def returnFailedToLanding(): Unit = {
          inProcessOpt.foreach(p => lifecycle.returnToLanding(p, landing))
          inProcessOpt = None
        }
        try {
          val inProcess = lifecycle.moveToInProcess(file)
          inProcessOpt = Some(inProcess)
          val outcome = processFile(spark, cfg, tracker, lifecycle, runId,
            fileLogId, fileName, mtime, fStart, inProcess)
          lifecycle.moveToBackup(inProcess)
          inProcessOpt = None
          outcomes :+= outcome
          allErrors ++= outcome.errorDetail
        } catch {
          case e: StoreRollbackException =>
            returnFailedToLanding()
            // run-level failure: the restore rewound EVERY merge of this
            // run, so (a) supersede this run's COMPLETED file logs so the
            // J4 probe reprocesses those files next run, (b) abort the
            // remaining files, (c) the run reports ERROR + rollback
            tracker.logFile(Audit.FileLog(runId, fileLogId, fileName, mtime,
              schema_valid = true, Nil, Nil, 0, 0, 0,
              "ERROR", fStart, Some(now())))
            tracker.markRolledBack(runId)
            outcomes = outcomes.map(o =>
              if (o.status == "COMPLETED") {
                // the rewound file was already archived — copy its bytes
                // back to landing so the reopened J4 probe has something
                // to reprocess next run (no re-delivery needed)
                val restored = lifecycle.restoreFromBackup(o.fileName, landing)
                // a missing backup copy means the rewound data exists
                // NOWHERE (store rewound, bytes gone) — that silent-loss
                // case must be loud, not folded into a routine rollback
                val lost =
                  if (restored) Nil
                  else {
                    val msg = s"${o.fileName}: copia de seguridad ausente — " +
                      "datos revertidos sin bytes de origen; requiere reenvío"
                    allErrors :+= msg
                    Seq(msg)
                  }
                o.copy(status = "ROLLED_BACK", inserted = 0, updated = 0,
                  unchanged = 0, sourceTotal = BigDecimal(0),
                  errorDetail = o.errorDetail ++ lost)
              } else o)
            outcomes :+= Report.FileOutcome(fileName, "ERROR",
              0, 0, 0, 0, 0, 0, BigDecimal(0), Seq(e.getMessage))
            allErrors :+= s"$fileName: ${e.getMessage}"
            rolledBack = true
          case e: SchemaValidationException =>
            returnFailedToLanding()
            tracker.logFile(Audit.FileLog(runId, fileLogId, fileName, mtime,
              schema_valid = false, e.missing, e.extra, 0, 0, 0,
              "SCHEMA_ERROR", fStart, Some(now())))
            outcomes :+= Report.FileOutcome(fileName, "SCHEMA_ERROR",
              0, 0, 0, 0, 0, 0, BigDecimal(0), Seq(e.getMessage))
            allErrors :+= s"$fileName: ${e.getMessage}"
          case NonFatal(e) =>
            returnFailedToLanding()
            tracker.logFile(Audit.FileLog(runId, fileLogId, fileName, mtime,
              schema_valid = true, Nil, Nil, 0, 0, 0,
              "ERROR", fStart, Some(now())))
            outcomes :+= Report.FileOutcome(fileName, "ERROR",
              0, 0, 0, 0, 0, 0, BigDecimal(0), Seq(e.getMessage))
            allErrors :+= s"$fileName: ${e.getMessage}"
        }
      }
    }

    val status =
      if (rolledBack) "ERROR" // run-level failure, store rewound to pre-run
      else if (files.isEmpty) "NO_FILES"
      else if (outcomes.isEmpty && skipped > 0) "SUCCESS" // everything idempotent-skipped
      else Report.rollUp(outcomes.size, outcomes.count(o => o.status != "COMPLETED"))

    val sourceTotal = outcomes.map(_.sourceTotal).sum
    val outputTotal = sourceTotal // reconcile enforces variance ≤ 1 per file
    val report = Report.ExecutionReport(runId, status, outcomes,
      sourceTotal, outputTotal, allErrors)

    // finish_run + notify ALWAYS (finally-equivalent; :157-158)
    tracker.logRun(Audit.ExecutionRun(runId, startedAt, Some(now()), status,
      report.totalFiles, report.totalRecords, report.inserted, report.updated,
      report.unchanged, report.errors, sourceTotal.bigDecimal,
      outputTotal.bigDecimal,
      if (rolledBack) Some("rollback_executed") else None))
    // S9 — the rendered notification is a run artifact (the reference
    // sends it via Gmail; the engine renders the same HTML and leaves
    // the transport to a connector). Never fails the run.
    try {
      val dir = Paths.get(cfg.auditDir, "notifications")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"$runId.html"),
        Report.renderHtml(report,
          consolidatedLink = cfg.consolidatedPath,
          timestamp = startedAt.toInstant.toString))
    } catch { case NonFatal(_) => () }
    // audit small-files cadence: every Nth run rewrites the three audit
    // tables in place (swap-safe, append semantics preserved). Counted on
    // execution_runs, which this run just appended to. Never fails the run.
    if (cfg.auditCompactEveryRuns > 0) try {
      if (tracker.runs.count() % cfg.auditCompactEveryRuns == 0)
        StoreMaintenance.compactAudit(spark, cfg.auditDir)
    } catch { case NonFatal(_) => () }
    report
  }

  private def now() = new Timestamp(System.currentTimeMillis())

  private def processFile(spark: SparkSession, cfg: Config,
      tracker: Audit.Tracker, lifecycle: Lifecycle, runId: String,
      fileLogId: String, fileName: String, mtime: Timestamp,
      fStart: Timestamp, path: Path): Report.FileOutcome = {

    // S3: stage by format — real Excel bytes via the dependency-free
    // XLSX reader, staged CSV workbooks via the CSV reader
    val sheet =
      if (path.toString.endsWith(".xlsx"))
        graft.sources.XlsxIngress.stage(spark, path.toString)
      else StagedWorkbook.fromCsv(spark, path.toString)
    val fc = StagedWorkbook.fixedCells(sheet)
    val headerRow =
      if (StagedWorkbook.isMixedFormat(fc))
        StagedWorkbook.discoverHeaderRow(sheet, "Órdenes de Embarque",
          OfficialFormatExtract.MixedKnownHeaders)
      else
        StagedWorkbook.discoverHeaderRow(sheet, "N° Factura",
          OfficialFormatExtract.SimpleColumns.toSet)
    val detail = StagedWorkbook.table(sheet, headerRow)

    // schema pre-flight (S3/SchemaValidationError)
    val required =
      if (StagedWorkbook.isMixedFormat(fc)) Seq("Órdenes de Embarque")
      else Seq("N° Factura", "N° Referencia", "Transportista", "Monto Total")
    val (ok, missing, extra) =
      StagedWorkbook.validateSchema(detail.columns.toSeq, required)
    if (!ok) throw SchemaValidationException(missing, extra)

    val extracted =
      (if (StagedWorkbook.isMixedFormat(fc))
        OfficialFormatExtract.mixedFormat(detail, fc, cfg.dateFormat)
      else OfficialFormatExtract.simpleTabular(detail, cfg.dateFormat))
        .withColumn("source_file", lit(fileName))
        .withColumn("processed_at", current_timestamp())
        .withColumn("status", lit("new"))
        .localCheckpoint() // small per-file batch; avoids re-extraction per action

    val split = Validate.split(extracted)
    val valid = split.valid.localCheckpoint()
    val errors = split.errors.localCheckpoint()
    // NEVER collect the full error channel: one poison file with millions
    // of bad rows would OOM the driver. Count distributed; pull only the
    // first `errorCap` (+1 to detect truncation) for the report detail —
    // orderBy+limit compiles to TakeOrderedAndProject (no full sort).
    val errorCount = errors.count()
    val errorSample = errors.orderBy(col("row_index")).limit(errorCap + 1).collect()
    val rowsTotal = extracted.count()
    val rowsValid = valid.count()

    // consolidated side: lenient re-parse (J5) — invalid legacy rows keep
    // living in the store but leave the probe set
    val store = readStore(spark, cfg.consolidatedPath)
    val existing = Merge.lenientExisting(store)

    // both merge sides must share the store's column set; extractor output
    // lacks passthrough fields (fecha_recepcion_digital, …) → null-fill,
    // keeping row_index for first-wins dedup + audit attribution
    val aligned =
      alignToStore(valid, store.schema.add(valid.schema("row_index")))

    val m = cfg.mergeMode match {
      case "upsert" => Merge.fullUpsert(existing, aligned, InvoiceRecord.pk,
        InvoiceRecord.changeFields)
      case _ => Merge.insertOnly(existing, aligned, InvoiceRecord.pk)
    }

    // pin the merge result BEFORE any store mutation: the upsert path
    // overwrites the very files m.result's lineage reads, so every
    // downstream use (reconcile, audit, counters) works off this
    // materialized copy
    val mResult = m.result.localCheckpoint()

    // A2 — reconcile BEFORE the sink commit; throws on loss/variance
    Reconcile.check(valid, mResult, InvoiceRecord.pk, "total_amount")

    val inserted = (cfg.mergeMode match {
      case "upsert" => mResult.filter(col("status") === "new")
      case _ => m.inserted
    }).localCheckpoint()
    val insertedCount = inserted.count()

    // J2 + S8 — record-level lineage: merge actions for valid rows,
    // VALIDATION_ERROR rows from the split side-channel. Insert-only
    // attribution comes from the inserted slice (the merged view labels
    // kept rows `new` too, which would misreport skipped duplicates as
    // INSERT and contradict the file log's inserted count).
    val attributed = (cfg.mergeMode match {
      case "upsert" => Merge.attributeActions(valid, mResult, InvoiceRecord.pk)
      case _ => Merge.attributeInsertOnly(valid, inserted, InvoiceRecord.pk)
    }).localCheckpoint()
    val errDf = errors.select(col("row_index"), col("invoice_number"),
      lit(null).cast("string").as("reference_number"),
      lit(RecordAction.ValidationError).as("action"),
      col("error").as("error_message"))
    tracker.logRecords(runId, fileLogId,
      attributed.unionByName(errDf, allowMissingColumns = true))

    // per-file counters mirror the record_log actions: in insert-only
    // mode the merged-view statuses are all `new` (whole-store counts,
    // not this file's), so count the attribution instead
    val counters: Map[String, Long] = cfg.mergeMode match {
      case "upsert" => mResult.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      case _ => Map("unchanged" -> attributed
        .filter(col("action") === RecordAction.Unchanged).count())
    }
    val srcTotal = Reconcile.decimalTotal(valid, "total_amount")

    // S7 semantics — the store mutation happens LAST: append only the
    // inserted slice (insert-only) or overwrite with the merged view
    // (upsert; safe because mResult/inserted are already materialized)
    def partitioned(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
      if (cfg.partitionBy.nonEmpty) w.partitionBy(cfg.partitionBy: _*) else w
    try {
      cfg.beforeStoreWrite(fileName)
      cfg.mergeMode match {
        case "upsert" =>
          partitioned(mResult.write.mode(SaveMode.Overwrite))
            .parquet(cfg.consolidatedPath)
        case _ =>
          partitioned(alignToStore(inserted, store.schema)
            .write.mode(SaveMode.Append))
            .parquet(cfg.consolidatedPath)
      }
    } catch {
      case NonFatal(e) =>
        // a failed Overwrite can leave the store truncated/corrupt — roll
        // back to the pre-run backup. The restore rewinds the WHOLE run,
        // so escalate to a run-level abort (caller supersedes this run's
        // COMPLETED audit logs and stops processing further files);
        // reference consolidate_invoices.py:147-155 + restore_backup.
        lifecycle.restoreBackup(cfg.consolidatedPath, runId)
        throw StoreRollbackException(fileName, e)
    }

    tracker.logFile(Audit.FileLog(runId, fileLogId, fileName, mtime,
      schema_valid = true, Nil, Nil, rowsTotal, rowsValid,
      errorCount, "COMPLETED", fStart, Some(now())))

    Report.FileOutcome(fileName, "COMPLETED", rowsTotal, rowsValid,
      errorCount,
      inserted = insertedCount,
      updated = counters.getOrElse("updated", 0L),
      unchanged = counters.getOrElse("unchanged", 0L),
      sourceTotal = BigDecimal(srcTotal),
      errorDetail = Report.cappedErrorsTotal(
        errorSample.take(errorCap).toSeq.map(r =>
          s"$fileName fila ${r.getAs[Any]("row_index")}: ${r.getAs[String]("error")}"),
        errorCount, errorCap))
  }

  /** Error-detail cap per file (reference dtos.py:74-88 caps at 20). */
  val errorCap = 20

  /** The consolidated store — batch and streaming paths read it the same
    * way: the parquet table, or an empty frame of the record schema
    * before the first write.
    */
  private[graft] def readStore(spark: SparkSession, path: String): DataFrame =
    if (Files.exists(Paths.get(path)))
      spark.read.parquet(path)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        InvoiceRecord.schema)

  /** Align `df` to the store's column set so unions across runs stay
    * schema-stable: present columns cast to the store field's type, and
    * missing ones filled with a null of that type — a string-typed null
    * column appended into a decimal/timestamp store would make every
    * later read fail on schema merge.
    */
  private[graft] def alignToStore(df: DataFrame, store: StructType)
      : DataFrame = {
    val present = df.columns.toSet
    df.select(store.fields.map(f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
  }
}
