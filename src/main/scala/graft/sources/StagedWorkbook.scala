package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Staged-workbook ingestion — the Spark-side model of the reference's
  * Excel reading layer (reference: smartbots-etl/src/infrastructure/
  * official_format_extractor.py, excel_handler.py). A "sheet" is staged as
  * raw rows: `(_row_num: 1-indexed physical row, cells: array<string>)`;
  * the Excel→staging conversion itself (XLSX bytes → rows) is
  * [[XlsxIngress]], as the egress Excel rendering is [[XlsxEgress]].
  *
  * Scale posture: one workbook is a FILE-SIZED driver-side artifact, read
  * once, as the reference reads it (official_format_extractor.py:91-125).
  * Every staging path ends in [[fromRows]], so a sheet is a local relation:
  * the fixed cells (S5), header discovery (S4) and the header names of
  * [[table]] are served from it on the driver without a Spark job
  * (Catalyst's `ConvertToLocalRelation` folds their filter and projection
  * into the relation). The extracted DATA path stays distributed.
  *
  * Order-dependent semantics (header discovery S4, fixed cells S5,
  * take-while P5) key off `_row_num`, never off DataFrame order.
  */
object StagedWorkbook {

  val schema: StructType = StructType(Seq(
    StructField("_row_num", IntegerType, nullable = false),
    StructField("cells", ArrayType(StringType), nullable = false)))

  /** Stage a headerless CSV file as raw sheet rows, one row per physical
    * line: one read by Spark's CSV reader (quote and escape `"`, 64
    * cells), collected on the driver. The reader drops blank lines (those
    * whose `trim` is empty), so the file's lines, re-read on the driver
    * without a job, put a row of 64 null cells back at each blank line, as
    * [[XlsxIngress]] stages an empty row: `_row_num` stays the physical row
    * the fixed cells (S5) and header discovery (S4) address. A final line
    * terminator adds no row.
    */
  def fromCsv(spark: SparkSession, path: String): DataFrame = {
    val parsed = spark.read
      .option("header", "false")
      .option("quote", "\"")
      .option("escape", "\"")
      .schema(StructType((0 until 64).map(i =>
        StructField(s"_c$i", StringType))))
      .csv(path)
      .collect().iterator
    val blank = Seq.fill[String](64)(null)
    fromRows(spark, readLines(spark, path).map { line =>
      if (line.trim.isEmpty) blank
      else { val r = parsed.next(); (0 until r.length).map(r.getString) }
    })
  }

  /** The lines of a text file as Spark's line reader splits them (`\n`,
    * `\r\n` or `\r`), read on the driver without a Spark job.
    */
  private def readLines(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val lines = text.split("\r\n|\r|\n", -1).toSeq
    if (lines.lastOption.contains("")) lines.init else lines
  }

  /** Build a staged sheet (a local relation) from in-memory rows. */
  def fromRows(spark: SparkSession, rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      rows.zipWithIndex.map { case (cells, i) => Row(i + 1, cells) }.asJava,
      schema)

  /** Excel column letter → 1-indexed column number ("A"→1, "C"→3, "AA"→27). */
  def colIndex(letters: String): Int =
    letters.toUpperCase.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1))

  /** S5 — read one fixed cell by Excel address ("C8"): value of column C at
    * physical row 8, null when blank/absent (also past a narrow .xlsx
    * row's last column). A driver-side lookup in the local sheet (one tiny
    * lookup per file, as in the reference).
    */
  def fixedCell(sheet: DataFrame, address: String): Option[String] = {
    val (letters, digits) = address.partition(_.isLetter)
    val rowNum = digits.toInt
    val cIdx = colIndex(letters)
    sheet.filter(col("_row_num") === rowNum)
      .select(try_element_at(col("cells"), lit(cIdx)))
      .collect().headOption.flatMap(r => Option(r.getString(0)))
      .map(_.trim).filter(_.nonEmpty)
  }

  final case class FixedCells(
      empresaTransporte: Option[String], fechaEmision: Option[String],
      numeroFactura: Option[String], nave: Option[String],
      puertoEmbarque: Option[String], responsable: Option[String])

  /** S5 — the reference's six header cells (C6, G3, C8, H6, H7, F4 —
    * official_format_extractor.py:77-84, :455-476).
    */
  def fixedCells(sheet: DataFrame): FixedCells = FixedCells(
    empresaTransporte = fixedCell(sheet, "C6"),
    fechaEmision = fixedCell(sheet, "G3"),
    numeroFactura = fixedCell(sheet, "C8"),
    nave = fixedCell(sheet, "H6"),
    puertoEmbarque = fixedCell(sheet, "H7"),
    responsable = fixedCell(sheet, "F4"))

  /** Format auto-detect (official_format_extractor.py:111-121): mixed when
    * both C8 (invoice number) and C6 (carrier) are populated, else simple
    * tabular.
    */
  def isMixedFormat(fc: FixedCells): Boolean =
    fc.numeroFactura.isDefined && fc.empresaTransporte.isDefined

  /** S4 — header-row discovery: scan the first `maxScan` physical rows for
    * one containing `marker` or ≥ `minKnown` of `knownHeaders`; fall back
    * to `defaultRow` (official_format_extractor.py:376-396: marker
    * "Órdenes de Embarque", default row 11). Driver-side scan of ≤15 rows,
    * put in row order on the driver.
    */
  def discoverHeaderRow(sheet: DataFrame, marker: String,
      knownHeaders: Set[String], maxScan: Int = 15, minKnown: Int = 3,
      defaultRow: Int = 11): Int = {
    val head = sheet.filter(col("_row_num") <= maxScan).collect()
      .sortBy(_.getInt(0))
    head.collectFirst {
      case r if {
        val cells = r.getSeq[String](1).filter(_ != null).map(_.trim)
        cells.contains(marker) || cells.count(knownHeaders.contains) >= minKnown
      } => r.getInt(0)
    }.getOrElse(defaultRow)
  }

  /** Project the staged sheet into a named-column table: headers from
    * physical row `headerRow`, data from `headerRow + 1` on. Blank/null
    * header cells are dropped; duplicate headers keep the first column.
    * `_row_num` is carried (order-dependent operators need it).
    */
  def table(sheet: DataFrame, headerRow: Int): DataFrame = {
    val headers = sheet.filter(col("_row_num") === headerRow)
      .select("cells").collect().headOption
      .map(_.getSeq[String](0)).getOrElse(Seq.empty)
    val named = headers.zipWithIndex
      .collect { case (h, i) if h != null && h.trim.nonEmpty => (h.trim, i) }
      .groupBy(_._1).map { case (h, xs) => (h, xs.head._2) }.toSeq
      .sortBy(_._2)
    sheet.filter(col("_row_num") > headerRow)
      .select(col("_row_num").as("row_index") +:
        named.map { case (h, i) =>
          element_at(col("cells"), i + 1).as(h) }: _*)
  }

  /** Schema pre-flight (excel_handler.py:168-183): actual vs expected
    * column sets → (isValid, missing, extra).
    */
  def validateSchema(actual: Seq[String], expected: Seq[String])
      : (Boolean, Seq[String], Seq[String]) = {
    val a = actual.toSet -- Set("row_index")
    val e = expected.toSet
    val missing = expected.filterNot(a.contains)
    val extra = (a -- e).toSeq.sorted
    (missing.isEmpty, missing, extra)
  }
}
