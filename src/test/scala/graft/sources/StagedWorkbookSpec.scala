package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpec

/** Ingestion-layer semantics: Excel addressing, header-row discovery by
  * marker / known-header vote / fallback, format detection, schema
  * pre-flight (reference: official_format_extractor.py:111-121, :376-396;
  * excel_handler.py:168-183), and the staging contract: CSV rows as the
  * reader gives them, and lookups on a staged sheet that run no job.
  */
class StagedWorkbookSpec extends SparkSpec {

  private def sheet(rows: Seq[String]*) =
    StagedWorkbook.fromRows(spark, rows.map(_.toSeq))

  test("Excel column letters map to 1-indexed positions") {
    assert(StagedWorkbook.colIndex("A") == 1)
    assert(StagedWorkbook.colIndex("C") == 3)
    assert(StagedWorkbook.colIndex("Z") == 26)
    assert(StagedWorkbook.colIndex("AA") == 27)
  }

  test("fixedCell reads by address; blank/absent → None") {
    val s = sheet(
      Seq("", "", ""),
      Seq("", "", " FAC-9 "),
      Seq("", "  ", ""))
    assert(StagedWorkbook.fixedCell(s, "C2").contains("FAC-9")) // trimmed
    assert(StagedWorkbook.fixedCell(s, "B3").isEmpty)           // blank
    assert(StagedWorkbook.fixedCell(s, "A9").isEmpty)           // beyond rows
  }

  test("header discovery: marker wins, else >=3 known headers, else default") {
    val withMarker = sheet(
      Seq("junk", ""),
      Seq("", "Órdenes de Embarque"))
    assert(StagedWorkbook.discoverHeaderRow(withMarker, "Órdenes de Embarque",
      Set.empty) == 2)

    val withKnown = sheet(
      Seq("x", "y", "z"),
      Seq("Unidad", "Conductor", "Contenedor"))
    assert(StagedWorkbook.discoverHeaderRow(withKnown, "NOPE",
      Set("Unidad", "Conductor", "Contenedor", "Plantas")) == 2)

    val nothing = sheet(Seq("a"), Seq("b"))
    assert(StagedWorkbook.discoverHeaderRow(nothing, "NOPE", Set("Q")) == 11)
  }

  test("format detect: mixed requires BOTH C8 and C6 populated") {
    def fc(c6: Option[String], c8: Option[String]) =
      StagedWorkbook.FixedCells(c6, None, c8, None, None, None)
    assert(StagedWorkbook.isMixedFormat(fc(Some("Carrier"), Some("FAC"))))
    assert(!StagedWorkbook.isMixedFormat(fc(Some("Carrier"), None)))
    assert(!StagedWorkbook.isMixedFormat(fc(None, Some("FAC"))))
  }

  test("table projection: headers from the header row, dupes keep first, row_index carried") {
    val s = sheet(
      Seq("A", "B", "", "A"),   // row 1: headers (dup A, blank col 3)
      Seq("1", "2", "x", "9"),
      Seq("3", "4", "y", "8"))
    val t = StagedWorkbook.table(s, 1)
    assert(t.columns.toSeq == Seq("row_index", "A", "B"))
    val rows = t.orderBy("row_index").collect()
    assert(rows.map(_.getAs[String]("A")).toSeq == Seq("1", "3"))
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 3))
  }

  test("schema pre-flight reports missing and extra columns") {
    val (ok1, m1, e1) = StagedWorkbook.validateSchema(
      Seq("row_index", "A", "B", "X"), Seq("A", "B", "C"))
    assert(!ok1 && m1 == Seq("C") && e1 == Seq("X"))
    val (ok2, m2, e2) = StagedWorkbook.validateSchema(
      Seq("row_index", "A", "B"), Seq("A", "B"))
    assert(ok2 && m2.isEmpty && e2.isEmpty)
  }

  private def tmpFile(suffix: String, lines: Seq[String]): String = {
    val f = Files.createTempFile("graft-staged", suffix)
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  /** Spark jobs `body` starts on this thread (the listener bus drained). */
  private def jobs(body: => Unit): Int = {
    val group = s"staged-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      GraftSqlBridge.waitListenerBusEmpty(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    n.get
  }

  test("fromCsv rows equal the CSV reader's own output, numbered in file order") {
    // the reader drops the blank line 3; fromCsv stages it as a null row
    val wide = (1 to 70).map(i => s"w$i").mkString(",")
    val path = tmpFile(".csv", Seq(
      "Año,\"Dirección, calle\",Ñandú,Guías",
      "\"dijo \"\"hola\"\"\",b,,d",
      "",
      wide,
      "solo"))
    val reader = spark.read
      .option("header", "false").option("quote", "\"").option("escape", "\"")
      .schema(StructType((0 until 64).map(i => StructField(s"_c$i", StringType))))
      .csv(path).collect().map(_.toSeq.map(_.asInstanceOf[String]))
    val staged = StagedWorkbook.fromCsv(spark, path).collect()
      .sortBy(_.getInt(0))
    assert(staged.map(_.getInt(0)).toSeq == (1 to reader.length + 1))
    assert(staged.map(_.getSeq[String](1)).toSeq ==
      reader.take(2).toSeq ++ Seq(Seq.fill[String](64)(null)) ++ reader.drop(2))
    assert(reader.map(_.head).toSeq == Seq("Año", "dijo \"hola\"", "w1", "solo"))
    assert(reader(0)(1) == "Dirección, calle" && reader.forall(_.size == 64))
  }

  test("a mixed-format CSV with a blank line above row 6 reads C6/C8 from their physical rows") {
    val cells = (1 to 9).map {
      case 2 => ""
      case 6 => "\"\",\"\",\"Naviera Sur\""
      case 8 => "\"\",\"\",\"FAC-77\""
      case 9 => "   "
      case _ => "\"\",\"\",\"\""
    } :+ "\"\",\"\",\"last\""
    val sheet = StagedWorkbook.fromCsv(spark, tmpFile(".csv", cells))
    val fc = StagedWorkbook.fixedCells(sheet)
    assert(fc.empresaTransporte.contains("Naviera Sur"))
    assert(fc.numeroFactura.contains("FAC-77"))
    assert(StagedWorkbook.isMixedFormat(fc))
    assert(sheet.count() == 10 && StagedWorkbook.fixedCell(sheet, "C10").contains("last"))
  }

  test("a staged sheet serves fixed cells, header discovery and header names without a job") {
    val filler = Seq.fill(10)(Seq.fill(4)(""))
    val rows = filler ++ Seq(Seq("N° Factura", "N° Referencia", "Transportista",
      "Monto Total"), Seq("FAC-1", "REF-1", "Carrier", "1000"))
    val csv = tmpFile(".csv", rows.map(_.map(c => "\"" + c + "\"").mkString(",")))
    val xlsx = Files.createTempFile("graft-staged", ".xlsx").toString
    XlsxEgress.write(xlsx, rows)
    def lookups(sheet: DataFrame): Seq[String] = {
      assert(!StagedWorkbook.isMixedFormat(StagedWorkbook.fixedCells(sheet)))
      val header = StagedWorkbook.discoverHeaderRow(sheet, "N° Factura",
        OfficialFormatExtract.SimpleColumns.toSet)
      StagedWorkbook.table(sheet, header).columns.toSeq
    }
    var sheet: DataFrame = null
    assert(jobs { sheet = StagedWorkbook.fromCsv(spark, csv) } == 1)
    var columns = Seq.empty[String]
    assert(jobs { columns = lookups(sheet) } == 0)
    assert(columns == "row_index" +: rows(10))
    assert(jobs { columns = lookups(XlsxIngress.stage(spark, xlsx)) } == 0)
    assert(columns == "row_index" +: rows(10))
  }

  test("extract: simple-tabular rows stop at the first blank N° Factura, with no job") {
    val s = sheet(Seq("N° Factura", "N° Referencia", "Transportista", "Monto Total"),
      Seq("FAC-1", "R1", "C", "100"), Seq("FAC-2", "R2", "C", "200"),
      Seq(" ", "R3", "C", "300"), Seq("FAC-4", "R4", "C", "400"))
    var out: DataFrame = null
    assert(jobs { out = OfficialFormatExtract.extract(s) } == 0)
    assert(out.orderBy("row_index").collect().map(_.getAs[String]("invoice_number"))
      .toSeq == Seq("FAC-1", "FAC-2"))
    assert(out.rdd.getNumPartitions == 1)
    // no single-partition take-while window (Spark warns "No Partition Defined")
    assert(!out.queryExecution.optimizedPlan.toString.contains("Window"))
  }

  test("extract: the schema pre-flight names the missing columns") {
    val s = sheet(Seq("N° Factura", "Transportista", "Otra"), Seq("FAC-1", "C", "x"))
    val e = intercept[SchemaValidationException](OfficialFormatExtract.extract(s))
    assert(e.missing == Seq("N° Referencia", "Monto Total") && e.extra == Seq("Otra"))
  }
}
