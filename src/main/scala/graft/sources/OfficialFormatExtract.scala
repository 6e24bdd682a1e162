package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.domain.InvoiceRecord
import graft.functions._
import graft.operators.Canonicalize

/** The per-file ingestion sub-query (reference: smartbots-etl/src/
  * infrastructure/official_format_extractor.py:91-326): staged sheet →
  * canonical invoice rows + validation-error side channel. Two formats:
  *
  *   - MIXED (`_extract_mixed_format` :127-246): invoice-level values live
  *     in six fixed header cells and broadcast to every detail row; the
  *     detail table is discovered by header-row scan; P2/P3/P4 row filters
  *     apply; total = explicit `Total Servicio ($)` override else the sum
  *     of 7 charge components (F7); net = total, tax = 0 (F8).
  *   - SIMPLE tabular (`_extract_simple_tabular` :248-326): direct column
  *     mapping from row 11, stop at the first empty `N° Factura` (P5
  *     take-while), NaN money → 0.
  *
  * Output schema (both paths): row_index, invoice_number, reference_number,
  * carrier_name, ship_name, dispatch_guides, invoice_date, description,
  * net_amount, tax_amount, total_amount, currency, aprobado_por. Both paths
  * return one partition per file: the staged sheet is a local relation
  * that Spark would otherwise split across every core, and each extra
  * partition adds a task to every downstream per-file job (validate,
  * merge, audit).
  */
object OfficialFormatExtract {

  val money = InvoiceRecord.money

  val MixedMoneyComponents = Seq(
    "Flete($)", "Underslung($)", "Planta Adicional ($)", "Retiro Cruzado ($)",
    "Porteo($)", "Sobre Estadía Planta ($)", "Sobre Estadía Puerto ($)")

  val MixedKnownHeaders: Set[String] = Set(
    "Fecha Servicio", "Unidad", "Conductor", "Contenedor", "Patente Camión",
    "Órdenes de Embarque", "Guías de Despacho", "Total Servicio ($)") ++
    MixedMoneyComponents

  private def cOpt(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(s"`$name`") else lit(null).cast("string")

  /** Mixed-format extraction over an already-projected detail table
    * (from [[StagedWorkbook.table]]) plus the file's fixed cells.
    */
  def mixedFormat(detail: DataFrame, fc: StagedWorkbook.FixedCells,
      dateFormat: String = "dd-MM-yyyy"): DataFrame = {
    val allCols = detail.columns.filterNot(_ == "row_index").toSeq
    // P2: fully-empty rows; P3: blank reference; P4: NETO/IVA/TOTAL rows
    val filtered = Canonicalize.dropSummaryRows(
      Canonicalize.requireNonBlank(
        Canonicalize.dropFullyEmpty(detail, allCols),
        "Órdenes de Embarque"),
      allCols)
    val total = row_total_override(
      parse_clp_money(cOpt(filtered, "Total Servicio ($)")),
      MixedMoneyComponents.map(c => parse_clp_money(cOpt(filtered, c))))
    filtered.select(
      col("row_index"),
      lit(fc.numeroFactura.map(_.trim).orNull).as("invoice_number"),
      // reference_number defaults to "N/A" when blank (extractor :187)
      coalesce(nullif(clean_string(col("`Órdenes de Embarque`")), lit("")),
        lit("N/A")).as("reference_number"),
      lit(fc.empresaTransporte.map(_.trim).orNull).as("carrier_name"),
      lit(fc.nave.map(_.trim).orNull).as("ship_name"),
      clean_string(cOpt(filtered, "Guías de Despacho")).as("dispatch_guides"),
      parse_multi_date(lit(fc.fechaEmision.orNull), dateFormat).as("invoice_date"),
      clean_string(cOpt(filtered, "Observaciones")).as("description"),
      total.as("net_amount"),             // F8: net := total
      lit(0).cast(money).as("tax_amount"), // F8: tax := 0
      total.as("total_amount"),
      lit("CLP").as("currency"),
      lit(fc.responsable.map(stripAprobado).orNull).as("aprobado_por"))
      .coalesce(1)
  }

  private def stripAprobado(s: String): String =
    s.replaceFirst("^Aprobado por: ", "").trim

  val SimpleColumns = Seq(
    "N° Factura", "N° Referencia", "Transportista", "Fecha Factura",
    "Descripción", "Monto Neto", "IVA", "Monto Total", "Moneda")

  /** Simple-tabular extraction: direct mapping with the P5 take-while at
    * the first empty `N° Factura` (row order by `row_index`; the whole file
    * is one take-while partition, so its first stop row is a driver read
    * of the staged table). NaN/blank money → 0 for net/tax
    * (transformers.py:16-18), total parsed strictly.
    */
  def simpleTabular(detail: DataFrame,
      dateFormat: String = "dd-MM-yyyy"): DataFrame = {
    val firstStop = detail
      .filter(cOpt(detail, "N° Factura").isNull ||
        trim(cOpt(detail, "N° Factura")) === "")
      .select("row_index").collect().map(_.getInt(0)).minOption
    val stopped = firstStop.fold(detail)(s => detail.filter(col("row_index") < s))
    val nonEmpty = Canonicalize.dropFullyEmpty(stopped,
      detail.columns.filterNot(_ == "row_index").toSeq)
    nonEmpty.select(
      col("row_index"),
      clean_string(cOpt(nonEmpty, "N° Factura")).as("invoice_number"),
      clean_string(cOpt(nonEmpty, "N° Referencia")).as("reference_number"),
      clean_string(cOpt(nonEmpty, "Transportista")).as("carrier_name"),
      lit(null).cast("string").as("ship_name"),
      lit(null).cast("string").as("dispatch_guides"),
      parse_multi_date(cOpt(nonEmpty, "Fecha Factura"), dateFormat).as("invoice_date"),
      clean_string(cOpt(nonEmpty, "Descripción")).as("description"),
      coalesce(parse_clp_money(cOpt(nonEmpty, "Monto Neto")),
        parse_clp_money(cOpt(nonEmpty, "Monto Total"))).as("net_amount"),
      coalesce(parse_clp_money(cOpt(nonEmpty, "IVA")), lit(0).cast(money))
        .as("tax_amount"),
      parse_clp_money(cOpt(nonEmpty, "Monto Total")).as("total_amount"),
      upper(coalesce(nullif(clean_string(cOpt(nonEmpty, "Moneda")), lit("")),
        lit("CLP"))).as("currency"),
      lit(null).cast("string").as("aprobado_por"))
      .coalesce(1)
  }

  /** Full per-file extraction: fixed cells → format detect → header
    * discovery → schema pre-flight → the matching path. Mirrors
    * `extract()` :91-125. Throws [[SchemaValidationException]] when the
    * detail table lacks a column its format requires.
    */
  def extract(sheet: DataFrame, dateFormat: String = "dd-MM-yyyy"): DataFrame = {
    val fc = StagedWorkbook.fixedCells(sheet)
    val mixed = StagedWorkbook.isMixedFormat(fc)
    val headerRow =
      if (mixed) StagedWorkbook.discoverHeaderRow(
        sheet, "Órdenes de Embarque", MixedKnownHeaders)
      else StagedWorkbook.discoverHeaderRow(sheet, "N° Factura", SimpleColumns.toSet)
    val detail = StagedWorkbook.table(sheet, headerRow)

    // schema pre-flight (excel_handler.py:168-183)
    val required =
      if (mixed) Seq("Órdenes de Embarque")
      else Seq("N° Factura", "N° Referencia", "Transportista", "Monto Total")
    val (ok, missing, extra) =
      StagedWorkbook.validateSchema(detail.columns.toSeq, required)
    if (!ok) throw SchemaValidationException(missing, extra)

    if (mixed) mixedFormat(detail, fc, dateFormat)
    else simpleTabular(detail, dateFormat)
  }
}

/** A workbook's detail table lacks a column its format requires. */
final case class SchemaValidationException(missing: Seq[String], extra: Seq[String])
  extends RuntimeException(
    s"Columnas faltantes: ${missing.mkString(", ")}; extra: ${extra.mkString(", ")}")
