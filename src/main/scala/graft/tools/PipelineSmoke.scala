package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.pipeline.ConsolidationPipeline
import graft.streaming.ConsolidationStream

/** End-to-end smoke of the batch pipeline + streaming host against a real
  * temp landing dir (library-surface drive, no test harness).
  */
object PipelineSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, 4)
    spark.sparkContext.setLogLevel("ERROR")

    val base = Files.createTempDirectory("graft-smoke")
    // batch path: one simple-tabular staged workbook
    val headers = Seq("N° Factura", "N° Referencia", "Transportista",
      "Fecha Factura", "Descripción", "Monto Neto", "IVA", "Monto Total", "Moneda")
    val rows = Seq(
      Seq("FAC-1", "R1", "Carrier", "15-01-2026", "d", "100", "19", "119", "CLP"),
      Seq("FAC-2", "R2", "Carrier", "16-01-2026", "d", "200", "38", "238", "CLP"))
    val csv = (Seq.fill(10)(Seq.fill(9)("")) ++ Seq(headers) ++ rows)
      .map(_.map(c => "\"" + c + "\"").mkString(",")).mkString("\n")
    Files.createDirectories(Paths.get(s"$base/landing"))
    Files.writeString(Paths.get(s"$base/landing/f1.csv"), csv)

    val report = ConsolidationPipeline.run(spark, ConsolidationPipeline.Config(
      s"$base/landing", s"$base/consolidado.parquet", s"$base/audit", s"$base/lc"))
    println(s"[smoke] batch: status=${report.status} inserted=${report.inserted}")
    println(Report0.render(report))

    // streaming path: canonical staged file, two AvailableNow passes
    val sBase = Files.createTempDirectory("graft-smoke-stream")
    val header2 = "invoice_number,reference_number,carrier_name,ship_name," +
      "dispatch_guides,invoice_date,description,net_amount,tax_amount," +
      "total_amount,currency,fecha_recepcion_digital,aprobado_por," +
      "estado_operaciones,fecha_aprobacion_operaciones"
    Files.createDirectories(Paths.get(s"$sBase/landing"))
    Files.writeString(Paths.get(s"$sBase/landing/b1.csv"),
      header2 + "\nF9,R9,C,,,2026-01-15,,50,0,50,CLP,,,,")
    val cfg = ConsolidationStream.Config(s"$sBase/landing",
      s"$sBase/consolidado.parquet", s"$sBase/ckpt", s"$sBase/errors")
    ConsolidationStream.runAvailableNow(spark, cfg)
    val n1 = spark.read.parquet(cfg.consolidatedPath).count()
    ConsolidationStream.runAvailableNow(spark, cfg) // restart: must not re-add
    val n2 = spark.read.parquet(cfg.consolidatedPath).count()
    println(s"[smoke] stream: firstPass=$n1 afterRestart=$n2")

    // event-time streaming surface: watermarked window counts over a file
    // stream of the driver's events table
    val ewBase = Files.createTempDirectory("graft-smoke-ew")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(s"$ewBase/in/p1")
    val q = graft.streaming.EventWindows.windowedCounts(
        spark.readStream.schema(events.schema).parquet(s"$ewBase/in/*"))
      .writeStream.format("memory").queryName("smoke_win")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$ewBase/ckpt").start()
    q.awaitTermination()
    println(s"[smoke] windows: closed=${spark.table("smoke_win").count()}")

    // bucketed-store surface: PK aggregation over the bucketed layout must
    // plan without a shuffle exchange
    spark.sql("DROP TABLE IF EXISTS smoke_bucketed")
    val inv = spark.read.parquet(s"$base/consolidado.parquet")
    graft.pipeline.BucketedStore.write(inv, "smoke_bucketed",
      Seq("invoice_number", "reference_number"), buckets = 4)
    val agg = graft.pipeline.BucketedStore.read(spark, "smoke_bucketed")
      .groupBy("invoice_number", "reference_number")
      .agg(org.apache.spark.sql.functions.sum("total_amount"))
    println(s"[smoke] bucketed: shuffleFree=${graft.pipeline.BucketedStore.hasNoShuffle(agg)}" +
      s" rows=${agg.count()}")
    spark.sql("DROP TABLE IF EXISTS smoke_bucketed")

    // SQL surface: native expressions + the composite SQL-function layer
    graft.GraftExtensions.registerAll(spark)
    val sqlRow = spark.sql(
      "SELECT parse_clp_money('$1.234.567') AS a, parse_clp_money('N/A') AS b, " +
        "rolling_hash('abc') AS c, quality_score('the of and to in') AS q")
      .collect().head
    println(s"[smoke] sql: parse_clp_money=${sqlRow.getDecimal(0)} " +
      s"invalid=${sqlRow.isNullAt(1)} rolling_hash=${sqlRow.getLong(2)} " +
      s"quality=${sqlRow.getLong(3)}")

    // real Excel bytes through the pipeline: xlsx landing file + styled
    // consolidated egress render
    val xBase = Files.createTempDirectory("graft-smoke-xlsx")
    Files.createDirectories(Paths.get(s"$xBase/landing"))
    val xlsxRows: Seq[Seq[Any]] = Seq.fill(10)(Seq.fill(9)(null: Any)) ++
      Seq(headers.map(h => h: Any)) ++
      Seq(Seq[Any]("FAC-X1", "RX1", "Carrier", "15-01-2026", "d", 100, 19, 119, "CLP"))
    graft.sources.XlsxEgress.write(s"$xBase/landing/fx.xlsx", xlsxRows)
    val xReport = ConsolidationPipeline.run(spark, ConsolidationPipeline.Config(
      s"$xBase/landing", s"$xBase/consolidado.parquet", s"$xBase/audit", s"$xBase/lc"))
    graft.pipeline.Egress.writeConsolidatedXlsx(
      spark.read.parquet(s"$xBase/consolidado.parquet"), s"$xBase/out.xlsx")
    val egressRows = graft.sources.XlsxIngress.readRows(s"$xBase/out.xlsx")
    println(s"[smoke] xlsx: status=${xReport.status} inserted=${xReport.inserted} " +
      s"egressRows=${egressRows.size}")

    // YAML-config-driven run + notification artifact + compaction
    val yBase = Files.createTempDirectory("graft-smoke-yaml")
    Files.writeString(Paths.get(s"$yBase/configuration.yaml"),
      """google:
        |  credentials_path: ./cred.json
        |drive:
        |  source_path: "landing"
        |email:
        |  sender: bot@example.com
        |  to: "ops@example.com, fin@example.com"
        |  cc: "jefe@example.com"
        |  templates:
        |    success: "ETL_Consolidacion_Exito.html"
        |    partial: "ETL_Consolidacion_Parcial.html"
        |    error: "ETL_Consolidacion_Error.html"
        |    empty: "ETL_Consolidacion_Vacio.html"
        |""".stripMargin)
    val app = graft.pipeline.AppConfig.load(s"$yBase/configuration.yaml")
    val pc = app.toPipelineConfig(yBase.toString)
    Files.createDirectories(Paths.get(pc.landingDir))
    Files.writeString(Paths.get(pc.landingDir, "f1.csv"), csv)
    val yReport = ConsolidationPipeline.run(spark, pc)
    val notif = Files.list(Paths.get(s"${pc.auditDir}/notifications")).count()
    // S9 envelope: the full message as data from the YAML email config
    val env = graft.pipeline.Report.envelope(app.email, yReport,
      consolidatedLink = pc.consolidatedPath)
    Files.writeString(Paths.get(s"$yBase/envelope.txt"), env.renderArtifact)
    val partsBefore = graft.pipeline.StoreMaintenance.partFileCount(pc.consolidatedPath)
    val partsAfter = graft.pipeline.StoreMaintenance.compact(spark, pc.consolidatedPath)
    println(s"[smoke] yaml: status=${yReport.status} notifications=$notif " +
      s"envelopeTo=${env.to.size} compact=$partsBefore->$partsAfter")
    spark.stop()
  }

  private object Report0 {
    def render(r: graft.pipeline.Report.ExecutionReport): String =
      graft.pipeline.Report.summary(r)
  }
}
