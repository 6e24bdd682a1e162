package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming host: exactly-once file processing via checkpoint
  * (J4-as-checkpoint), insert-only merge per micro-batch, error channel.
  */
class ConsolidationStreamSpec extends SparkSpec {

  private def writeStaged(dir: String, name: String,
      rows: Seq[(String, String, String, String, String, String, String)]): Path = {
    val header = "invoice_number,reference_number,carrier_name,ship_name," +
      "dispatch_guides,invoice_date,description,net_amount,tax_amount," +
      "total_amount,currency,fecha_recepcion_digital,aprobado_por," +
      "estado_operaciones,fecha_aprobacion_operaciones"
    val lines = rows.map { case (inv, ref, car, date, net, tax, total) =>
      s"$inv,$ref,$car,,,$date,,$net,$tax,$total,CLP,,,,"
    }
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, (header +: lines).mkString("\n"))
    p
  }

  private def cfg(base: Path) = ConsolidationStream.Config(
    landingDir = s"$base/landing",
    consolidatedPath = s"$base/consolidado.parquet",
    checkpointDir = s"$base/checkpoint",
    errorDir = s"$base/errors")

  test("AvailableNow pass processes files once; restart skips them; merge stays insert-only") {
    val base = Files.createTempDirectory("graft-stream")
    val c = cfg(base)
    writeStaged(c.landingDir, "b1.csv", Seq(
      ("F1", "R1", "Carrier A", "2026-01-15", "100", "0", "100"),
      ("F2", "R2", "Carrier B", "2026-01-16", "200", "0", "200")))

    // the pass count is the host contract a caller (the benchmark's
    // stream pass) checks: a pass over a new file runs ≥ 1 micro-batch
    assert(ConsolidationStream.runAvailableNow(spark, c) == 1L)
    val store1 = spark.read.parquet(c.consolidatedPath)
    assert(store1.count() == 2)

    // restart with NO new files → checkpoint skips everything, no dupes,
    // and no micro-batch runs at all
    assert(ConsolidationStream.runAvailableNow(spark, c) == 0L)
    assert(spark.read.parquet(c.consolidatedPath).count() == 2)

    // new file: one overlapping PK (kept old), one new, one invalid row
    writeStaged(c.landingDir, "b2.csv", Seq(
      ("F1", "R1", "CHANGED", "2026-01-15", "100", "0", "100"),
      ("F3", "R3", "Carrier C", "2026-01-17", "300", "0", "300"),
      ("", "RX", "Carrier X", "2026-01-18", "1", "0", "1")))
    assert(ConsolidationStream.runAvailableNow(spark, c) == 1L)

    val store2 = spark.read.parquet(c.consolidatedPath)
    assert(store2.count() == 3)
    val f1 = store2.filter(col("invoice_number") === "F1").collect()
    assert(f1.length == 1 && f1(0).getAs[String]("carrier_name") == "Carrier A")

    val errs = spark.read.parquet(c.errorDir)
    assert(errs.count() == 1)
    assert(errs.head().getAs[String]("error").contains("invoice_number"))
  }

  test("a header-only CSV pass writes nothing to the store or the error dir") {
    val base = Files.createTempDirectory("graft-stream-empty")
    val c = cfg(base)
    writeStaged(c.landingDir, "empty.csv", Seq.empty)
    // the file is consumed by one micro-batch whose observed row count
    // is 0: no merge, no store append, no error write
    assert(ConsolidationStream.runAvailableNow(spark, c) == 1L)
    assert(!Files.exists(Paths.get(c.consolidatedPath)))
    assert(!Files.exists(Paths.get(c.errorDir)))
    assert(ConsolidationStream.runAvailableNow(spark, c) == 0L)
  }

  test("SCD2 streaming host: changes version the store; restart is a no-op") {
    val base = Files.createTempDirectory("graft-scd2-stream")
    val c = cfg(base)
    writeStaged(c.landingDir, "b1.csv", Seq(
      ("F1", "R1", "Carrier A", "2026-01-15", "100", "0", "100"),
      ("F2", "R2", "Carrier B", "2026-01-16", "200", "0", "200")))
    assert(ConsolidationStream
      .runScd2AvailableNow(spark, c, Seq("carrier_name")) == 1L)

    val s1 = spark.read.parquet(c.consolidatedPath)
    assert(s1.count() == 2 && s1.filter(col("valid_to").isNotNull).isEmpty)

    // F1 changes carrier, F3 is new, F2 redelivered unchanged
    writeStaged(c.landingDir, "b2.csv", Seq(
      ("F1", "R1", "Carrier A2", "2026-01-15", "100", "0", "100"),
      ("F2", "R2", "Carrier B", "2026-01-16", "200", "0", "200"),
      ("F3", "R3", "Carrier C", "2026-01-17", "300", "0", "300")))
    assert(ConsolidationStream
      .runScd2AvailableNow(spark, c, Seq("carrier_name")) == 1L)

    val s2 = spark.read.parquet(c.consolidatedPath)
    assert(s2.count() == 4, "F1 v1+v2, F2, F3")
    val f1 = s2.filter(col("invoice_number") === "F1")
      .orderBy("valid_from").collect()
      .map(r => (r.getAs[String]("carrier_name"),
        Option(r.getAs[java.lang.Long]("valid_to")).isDefined))
    assert(f1.toSeq == Seq(("Carrier A", true), ("Carrier A2", false)),
      "old version closed, new version open")
    assert(s2.filter(col("invoice_number") === "F2").count() == 1,
      "unchanged redelivery must not version")

    // restart with no new files: checkpoint skips, store byte-stable
    assert(ConsolidationStream
      .runScd2AvailableNow(spark, c, Seq("carrier_name")) == 0L)
    assert(spark.read.parquet(c.consolidatedPath).count() == 4)
  }
}
