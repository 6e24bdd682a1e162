package graftbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{InvoiceRecord, RecordAction}
import graft.operators.{Merge, Reconcile, Validate}
import graft.pipeline.{Audit, ConsolidationPipeline, Lifecycle, Report}
import graft.queries.{InvoiceView, Tables}
import graft.sources.{OfficialFormatExtract, StagedWorkbook, XlsxEgress, XlsxIngress}

/** `consolidate`: scheduled ingest cycles. Each cycle is one
  * `ConsolidationPipeline.run` call (insert-only) over a generated landing
  * workbook, against a store seeded from the invoice view of lineitem,
  * followed by one AvailableNow pass of the streaming host over the CSV
  * files that landed for it (`StreamIngest`). One operation = one cycle.
  */
object Consolidate {
  private val pk = InvoiceRecord.pk

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val inputs = ctx.plan.resolve("inputs")
    val plan = Stats.readTsv(ctx.plan.resolve("plan.tsv"))
    val expect = Stats.readExpect(ctx.plan.resolve("expect.tsv"))

    // set-up, once: the .xlsx landing files are written by the engine's
    // own workbook writer
    val t0 = System.nanoTime()
    writeXlsxInputs(inputs)
    val xlsxSecs = (System.nanoTime() - t0) / 1e9

    // set-up: seed the store
    val dir = ctx.work.resolve("consolidate")
    val tSeed = System.nanoTime()
    seedStore(spark, ctx.data, dir.resolve("consolidado.parquet"))
    val seedSecs = (System.nanoTime() - tSeed) / 1e9
    val cfg = config(dir)
    // set-up: the first (warm-up, verifying) run, all rows new
    val tWarm = System.nanoTime()
    Landing.land(inputs, "warm.csv", dir.resolve("landing"),
      Some(expect("warm_mtime_ms")))
    val warm = ConsolidationPipeline.run(spark, cfg)
    val warmSecs = (System.nanoTime() - tWarm) / 1e9
    if (warm.status != "SUCCESS" || warm.inserted != expect("warm_inserted"))
      ctx.fail(s"warm-up run: status=${warm.status} inserted=${warm.inserted}" +
        s" expected SUCCESS/${expect("warm_inserted")}: " +
        warm.validationErrors.take(3).mkString("; "))
    // set-up: the stream's first pass
    val stream = new StreamIngest(ctx)
    val streamWarmSecs = stream.warm()
    if (ctx.trace) { // the warm-up pass is set-up, not measured
      ctx.tracer.drain()
      ctx.tracer.streamMs.clear()
    }
    val landing = dir.resolve("landing")
    val scratch = ctx.work.resolve("consolidate/replay")

    val lat, runLat = Seq.newBuilder[Double]
    val runIds = Seq.newBuilder[(String, Array[String])]
    var rows = 0L
    var redelivered, skipped = 0
    var jobs, passJobs = SparkCounts()
    var filesProcessed = 0
    val tLoop = System.nanoTime()
    plan.zipWithIndex.foreach { case (a, i) =>
      ctx.spans.op = i
      val files = a(1).split(",").toSeq.map { f =>
        val at = f.lastIndexOf('@'); (f.take(at), f.drop(at + 1).toLong)
      }
      files.foreach { case (n, m) => Landing.land(inputs, n, landing, Some(m)) }
      if (ctx.trace) {
        replay(ctx, cfg, inputs, files, scratch)
        ctx.tracer.drain()
        ctx.tracer.attributeJobs = true
      }
      val before = if (ctx.trace) ctx.tracer.snapshot else null
      val t = System.nanoTime()
      val report = ctx.spans("pipeline.run") {
        ConsolidationPipeline.run(spark, cfg)
      }
      val secs = (System.nanoTime() - t) / 1e9
      if (ctx.trace) {
        ctx.tracer.drain()
        ctx.tracer.attributeJobs = false
        jobs = jobs + (ctx.tracer.snapshot - before)
      }
      val beforePass = if (ctx.trace) ctx.tracer.snapshot else null
      val (passSecs, passOk) = stream.pass(i)
      if (ctx.trace) {
        ctx.tracer.drain()
        passJobs = passJobs + (ctx.tracer.snapshot - beforePass)
      }
      lat += secs + passSecs
      runLat += secs
      ctx.attempted += 1
      rows += a(5).toLong + a(6).toLong + a(7).toLong
      filesProcessed += report.files.size
      val problems = Seq(
        Option.when(report.status != a(4))(s"status ${report.status} != ${a(4)}"),
        Option.when(report.inserted != a(5).toLong)(
          s"inserted ${report.inserted} != ${a(5)}"),
        Option.when(a(2) != "-" && report.files.exists(_.fileName == a(2)))(
          s"re-delivered ${a(2)} was processed again"),
        Option.when(a(3) != "-" && !report.files.exists(f =>
          f.fileName == a(3) && f.status == "SCHEMA_ERROR"))(
          s"schema-invalid ${a(3)} not rejected")).flatten
      if (a(2) != "-") {
        redelivered += 1
        if (!report.files.exists(_.fileName == a(2))) skipped += 1
      }
      if (problems.nonEmpty)
        ctx.fail(s"run ${a(0)}: ${problems.mkString("; ")}: " +
          report.validationErrors.take(3).mkString("; "))
      if (problems.nonEmpty || !passOk) ctx.failedOps += 1
      runIds += report.runUuid -> a
      // the operator clears what the run left in landing: a skipped
      // re-delivery and a rejected file
      clear(landing)
    }
    val wall = (System.nanoTime() - tLoop) / 1e9
    val latencies = lat.result()

    Stats.putEndToEnd(ctx,
      setup = ctx.sessionSeconds + xlsxSecs + seedSecs + warmSecs +
        streamWarmSecs,
      wall = wall, lat = latencies, rows = (rows + stream.rows).toDouble)
    ctx.notes("setup_seed_store_s") = f"$seedSecs%.3f"
    ctx.notes("setup_warm_run_s") = f"$warmSecs%.3f"
    ctx.notes("setup_warm_stream_pass_s") = f"$streamWarmSecs%.3f"
    ctx.notes("run_latencies_s") = runLat.result().map(v => f"$v%.4f")
      .mkString(" ")

    val storeRows = verify(ctx, cfg, expect, runIds.result())
    val streamRows = stream.verify()
    if (ctx.trace) {
      Stats.putSpark(ctx, jobs + passJobs, plan.size, latencies.sum)
      layerMetrics(ctx, dir, runLat.result(), jobs, filesProcessed,
        redelivered, skipped, plan.size)
      stream.layerMetrics(plan.size)
      val bytes = Stats.du(dir.resolve("consolidado.parquet")) +
        Stats.du(dir.resolve("audit")) + Stats.du(dir.resolve("lifecycle")) +
        stream.diskBytes
      ctx.put("store.bytes_per_row",
        bytes.toDouble / math.max(storeRows + streamRows, 1L), "B/row")
    }
  }

  def config(dir: Path): ConsolidationPipeline.Config =
    ConsolidationPipeline.Config(
      landingDir = dir.resolve("landing").toString,
      consolidatedPath = dir.resolve("consolidado.parquet").toString,
      auditDir = dir.resolve("audit").toString,
      lifecycleDir = dir.resolve("lifecycle").toString)

  /** The store starts as the invoice view of the generated lineitem. */
  def seedStore(spark: SparkSession, data: String, path: Path): Unit = {
    val v = InvoiceView.clean(Tables.load(spark, data, "lineitem"))
    v.select(InvoiceRecord.schema.fields.toSeq.map { f =>
        if (f.name == "status") lit("new").as(f.name)
        else if (v.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      .write.mode(SaveMode.Overwrite).parquet(path.toString)
  }

  private def clear(landing: Path): Unit = {
    val st = Files.list(landing)
    try st.iterator().asScala.toList.foreach(Files.delete)
    finally st.close()
  }

  /** Minimal CSV reader for the generator's all-quoted rows. */
  def readCsvRows(p: Path): Seq[Seq[String]] =
    Files.readAllLines(p).asScala.toSeq.map { line =>
      val cells = Seq.newBuilder[String]
      val cur = new StringBuilder
      var inQ = false
      var i = 0
      while (i < line.length) {
        val ch = line.charAt(i)
        if (inQ) {
          if (ch == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') {
            cur += '"'; i += 1
          } else if (ch == '"') inQ = false
          else cur += ch
        } else if (ch == '"') inQ = true
        else if (ch == ',') { cells += cur.toString; cur.clear() }
        else cur += ch
        i += 1
      }
      cells += cur.toString
      cells.result()
    }

  private def writeXlsxInputs(inputs: Path): Unit = {
    val st = Files.list(inputs)
    val specs = try st.iterator().asScala.toList
      .filter(_.getFileName.toString.endsWith(".xlsx.rows.csv"))
    finally st.close()
    specs.foreach { p =>
      val rows: Seq[Seq[Any]] = readCsvRows(p).map(_.map(c =>
        if (c.isEmpty) null else c))
      XlsxEgress.write(
        p.resolveSibling(p.getFileName.toString.stripSuffix(".rows.csv"))
          .toString, rows)
    }
  }

  /** Compares the store and the audit trail against the ledger. Returns
    * the rows stored.
    */
  private def verify(ctx: Main.Ctx, cfg: ConsolidationPipeline.Config,
      expect: Map[String, Long], runs: Seq[(String, Array[String])]): Long = {
    val spark = ctx.spark
    val s = spark.read.parquet(cfg.consolidatedPath)
      .agg(count(lit(1)), sum(col("total_amount"))).collect().head
    val storeRows = s.getLong(0)
    val storeCents = s.getDecimal(1).movePointRight(2).longValueExact()
    if (storeRows != expect("store_rows"))
      ctx.fail(s"store rows $storeRows != ${expect("store_rows")}")
    if (storeCents != expect("store_cents"))
      ctx.fail(s"store total $storeCents != ${expect("store_cents")} cents")
    val byRun = new Audit.Tracker(spark, cfg.auditDir).records
      .groupBy("run_uuid", "action").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    runs.foreach { case (id, a) =>
      val got = Seq(RecordAction.Insert, RecordAction.Unchanged,
        RecordAction.ValidationError).map(k => byRun.getOrElse((id, k), 0L))
      val want = Seq(a(5), a(6), a(7)).map(_.toLong)
      if (got != want)
        ctx.fail(s"run ${a(0)} record_log INSERT/UNCHANGED/VALIDATION_ERROR " +
          s"${got.mkString("/")} != ${want.mkString("/")}")
    }
    storeRows
  }

  /** Replays one run's files through the public calls the pipeline makes,
    * in its order, each span closed after its result is forced. Writes go
    * to a scratch directory, so the real store and audit trail are only
    * read.
    */
  private def replay(ctx: Main.Ctx, cfg: ConsolidationPipeline.Config,
      inputs: Path, files: Seq[(String, Long)], scratch: Path): Unit = {
    val spark = ctx.spark
    val sp = ctx.spans
    deleteTree(scratch)
    val runId = UUID.randomUUID().toString
    val real = new Audit.Tracker(spark, cfg.auditDir)
    val audit = new Audit.Tracker(spark, scratch.resolve("audit").toString)
    val lc = new Lifecycle(scratch.resolve("lifecycle").toString)
    sp("replay") {
      sp("pipeline.lifecycle") {
        lc.initBackupFolder()
        lc.backupConsolidated(cfg.consolidatedPath, runId)
      }
      // newest first, as the pipeline lists them
      files.sortBy(-_._2).foreach { case (name, mtime) =>
        val done = sp("pipeline.audit_probe") {
          real.isFileProcessed(name, new Timestamp(mtime))
        }
        if (!done) replayFile(ctx, cfg, inputs, name, mtime, scratch, runId,
          audit, lc)
      }
    }
    deleteTree(scratch)
  }

  private def replayFile(ctx: Main.Ctx, cfg: ConsolidationPipeline.Config,
      inputs: Path, name: String, mtime: Long, scratch: Path, runId: String,
      audit: Audit.Tracker, lc: Lifecycle): Unit = {
    val spark = ctx.spark
    val sp = ctx.spans
    val fileLogId = UUID.randomUUID().toString
    val start = new Timestamp(System.currentTimeMillis())
    val inProcess = sp("pipeline.lifecycle") {
      Landing.land(inputs, name, scratch.resolve("landing"), Some(mtime))
      lc.moveToInProcess(scratch.resolve("landing").resolve(name))
    }
    val staged = sp("sources.stage") {
      val sheet =
        if (name.endsWith(".xlsx")) XlsxIngress.stage(spark, inProcess.toString)
        else StagedWorkbook.fromCsv(spark, inProcess.toString)
      val fc = StagedWorkbook.fixedCells(sheet)
      val mixed = StagedWorkbook.isMixedFormat(fc)
      val header =
        if (mixed) StagedWorkbook.discoverHeaderRow(sheet, "Órdenes de Embarque",
          OfficialFormatExtract.MixedKnownHeaders)
        else StagedWorkbook.discoverHeaderRow(sheet, "N° Factura",
          OfficialFormatExtract.SimpleColumns.toSet)
      val detail = StagedWorkbook.table(sheet, header)
      val required =
        if (mixed) Seq("Órdenes de Embarque")
        else Seq("N° Factura", "N° Referencia", "Transportista", "Monto Total")
      val (ok, _, _) = StagedWorkbook.validateSchema(detail.columns.toSeq, required)
      Option.when(ok)((detail, fc, mixed))
    }
    staged.foreach { case (detail, fc, mixed) =>
      val extracted = sp("sources.extract") {
        (if (mixed) OfficialFormatExtract.mixedFormat(detail, fc)
        else OfficialFormatExtract.simpleTabular(detail))
          .withColumn("source_file", lit(name))
          .withColumn("processed_at", current_timestamp())
          .withColumn("status", lit("new"))
          .localCheckpoint()
      }
      val (valid, errors, rowsTotal, rowsValid, errorCount) =
        sp("operators.validate") {
          val split = Validate.split(extracted)
          val valid = split.valid.localCheckpoint()
          val errors = split.errors.localCheckpoint()
          val errorCount = errors.count()
          errors.orderBy(col("row_index"))
            .limit(ConsolidationPipeline.errorCap + 1).collect()
          (valid, errors, extracted.count(), valid.count(), errorCount)
        }
      ctx.tracer.drain()
      val beforeMerge = ctx.tracer.snapshot
      val (mResult, inserted, attributed, insertedCount) =
        sp("operators.merge") {
          val store = spark.read.parquet(cfg.consolidatedPath)
          val existing = Merge.lenientExisting(store)
          val present = valid.columns.toSet
          val aligned = valid.select(store.schema.fields.toSeq.map(f =>
            if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)) :+ col("row_index"): _*)
          val m = Merge.insertOnly(existing, aligned, pk)
          val mResult = m.result.localCheckpoint()
          val inserted = m.inserted.localCheckpoint()
          val n = inserted.count()
          val attributed = Merge.attributeInsertOnly(valid, inserted, pk)
            .localCheckpoint()
          attributed.filter(col("action") === RecordAction.Unchanged).count()
          (mResult, inserted, attributed, n)
        }
      ctx.tracer.drain()
      mergeRowsRead += (ctx.tracer.snapshot - beforeMerge).inputRecords
      val srcTotal = sp("operators.reconcile") {
        Reconcile.check(valid, mResult, pk, "total_amount")
        Reconcile.decimalTotal(valid, "total_amount")
      }
      sp("pipeline.audit_write") {
        val errDf = errors.select(col("row_index"), col("invoice_number"),
          lit(null).cast("string").as("reference_number"),
          lit(RecordAction.ValidationError).as("action"),
          col("error").as("error_message"))
        audit.logRecords(runId, fileLogId,
          attributed.unionByName(errDf, allowMissingColumns = true))
      }
      sp("pipeline.store_write") {
        val schema = spark.read.parquet(cfg.consolidatedPath).schema
        val present = inserted.columns.toSet
        inserted.select(schema.fields.toSeq.map(f =>
            if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)): _*)
          .write.mode(SaveMode.Append)
          .parquet(scratch.resolve("store.parquet").toString)
      }
      sp("pipeline.audit_write") {
        audit.logFile(Audit.FileLog(runId, fileLogId, name, new Timestamp(mtime),
          schema_valid = true, Nil, Nil, rowsTotal, rowsValid, errorCount,
          "COMPLETED", start, Some(new Timestamp(System.currentTimeMillis()))))
      }
      sp("pipeline.lifecycle") { lc.moveToBackup(inProcess) }
      sp("pipeline.report") {
        val outcome = Report.FileOutcome(name, "COMPLETED", rowsTotal, rowsValid,
          errorCount, insertedCount, 0, rowsValid - insertedCount,
          BigDecimal(srcTotal), Nil)
        val report = Report.ExecutionReport(runId, "SUCCESS", Vector(outcome),
          BigDecimal(srcTotal), BigDecimal(srcTotal), Vector.empty)
        audit.logRun(Audit.ExecutionRun(runId, start,
          Some(new Timestamp(System.currentTimeMillis())), report.status,
          report.totalFiles, report.totalRecords, report.inserted, 0,
          report.unchanged, report.errors, srcTotal, srcTotal, None))
        Files.createDirectories(scratch.resolve("notifications"))
        Files.writeString(scratch.resolve("notifications").resolve(s"$runId.html"),
          Report.renderHtml(report, cfg.consolidatedPath, start.toInstant.toString))
      }
    }
  }

  private val replayLayers = Seq("sources.stage", "sources.extract",
    "operators.validate", "operators.merge", "operators.reconcile",
    "pipeline.audit_probe", "pipeline.audit_write", "pipeline.store_write",
    "pipeline.lifecycle", "pipeline.report")

  /** `sources.*`, `operators.*` and `pipeline.*` per-layer metrics; `runLat`
    * are the latencies of the real `run` calls, `jobs` their Spark jobs.
    */
  private def layerMetrics(ctx: Main.Ctx, dir: Path, runLat: Seq[Double],
      jobs: SparkCounts, filesProcessed: Int, redelivered: Int, skipped: Int,
      ops: Int): Unit = {
    val sp = ctx.spans
    val n = math.max(ops, 1).toDouble
    val wall = runLat.sum
    ctx.put("pipeline.run_s", wall / n, "s/op")
    replayLayers.foreach(l => ctx.put(s"${l}_s", sp.total(l) / n, "s/op"))
    // rows read from disk inside the merge spans: the store scan
    ctx.put("operators.store_rows_read", mergeRowsRead / n, "rows/op")
    val layerSum = replayLayers.map(sp.total).sum
    val coverage = if (wall > 0) layerSum / wall else 0.0
    ctx.put("pipeline.coverage", coverage, "ratio")
    Bounds.check(ctx, "pipeline.coverage", coverage)
    ctx.put("pipeline.jobs_per_file",
      if (filesProcessed == 0) 0.0 else jobs.jobs.toDouble / filesProcessed,
      "count")
    ctx.put("pipeline.skip_ratio",
      if (redelivered == 0) 1.0 else skipped.toDouble / redelivered, "ratio")
    Seq("sources", "operators", "pipeline", "other").foreach { m =>
      ctx.put(s"pipeline.jobs.$m", ctx.tracer.jobsByModule(m) / n, "count/op")
    }
    val lcDir = dir.resolve("lifecycle")
    ctx.put("pipeline.backup_bytes", Stats.du(lcDir).toDouble, "B")
    ctx.put("pipeline.store_files",
      Stats.parts(dir.resolve("consolidado.parquet")).toDouble, "count")
    ctx.put("pipeline.audit_files", Stats.parts(dir.resolve("audit")).toDouble,
      "count")
  }

  /** Input records read by jobs inside merge spans (set by the replay). */
  @volatile private var mergeRowsRead = 0L

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally st.close()
    }
}
