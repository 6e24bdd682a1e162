package graft.sources

import java.io.InputStream
import java.util.zip.ZipFile

import scala.collection.mutable

import javax.xml.parsers.SAXParserFactory
import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dependency-free XLSX → staged-sheet ingress (reference byte surface:
  * smartbots-etl/src/infrastructure/official_format_extractor.py:354-453,
  * excel_handler.py:40-59). An .xlsx is a ZIP of XML parts; this reads
  * `xl/sharedStrings.xml` + the requested `xl/worksheets/sheetN.xml` with
  * the JDK's SAX parser (java.util.zip + javax.xml — no external jars)
  * and produces the same `(_row_num, cells)` rows as
  * [[StagedWorkbook.fromCsv]], so header discovery (S4), fixed cells (S5)
  * and both extraction formats run unchanged on real Excel bytes.
  *
  * Scale posture: one workbook is a FILE-SIZED driver-side artifact (tens
  * of rows in the reference); the staged rows become a local sheet via
  * [[StagedWorkbook.fromRows]], so the fixed-cell, header-discovery and
  * header-name lookups are served from it without a Spark job, and the
  * extracted rows enter the distributed path from there. Cell semantics:
  * shared strings (`t="s"`), inline strings (`t="inlineStr"`), formula
  * string results (`t="str"`), booleans, and numbers; numeric text is
  * normalized to an integral string when the value is integral (Excel
  * stores `119000` — a stray `.0` would mislead the Chilean-locale money
  * parser downstream, which reads '.' as a thousands separator).
  */
object XlsxIngress {

  /** All cell rows of one sheet, 1-indexed dense (empty rows present as
    * empty seqs), each row padded to the sheet's max used column count.
    */
  def readRows(path: String, sheetIndex: Int = 0): Seq[Seq[String]] =
    readSheet(path)(sheetEntryName(_, sheetIndex))

  /** All cell rows of the sheet with the given NAME, with the reference's
    * resolution contract (excel_handler.py:147-166): exact name →
    * `Sheet1` fallback → error listing the available sheets. A workbook
    * whose target sheet isn't first reads the RIGHT sheet, not sheet 1.
    */
  def readRowsByName(path: String, sheetName: String): Seq[Seq[String]] =
    readSheet(path)(sheetEntryForName(_, sheetName, path))

  /** The rows of the worksheet part `resolvePart` picks in the workbook. */
  private def readSheet(path: String)(resolvePart: ZipFile => String)
      : Seq[Seq[String]] = {
    val zip = new ZipFile(path)
    try {
      val shared = readSharedStrings(zip)
      val part = resolvePart(zip)
      val entry = zip.getEntry(part)
      require(entry != null, s"worksheet part $part not found in $path")
      val cells = parseSheet(zip.getInputStream(entry), shared)
      if (cells.isEmpty) return Seq.empty
      val maxRow = cells.keys.map(_._1).max
      val maxCol = cells.keys.map(_._2).max
      (1 to maxRow).map(r => (1 to maxCol).map(c => cells.getOrElse((r, c), null)))
    } finally zip.close()
  }

  /** Stage a real workbook file for the extraction pipeline. */
  def stage(spark: SparkSession, path: String, sheetIndex: Int = 0): DataFrame =
    StagedWorkbook.fromRows(spark, readRows(path, sheetIndex))

  /** Stage the sheet with the given name ([[readRowsByName]] semantics). */
  def stageByName(spark: SparkSession, path: String, sheetName: String): DataFrame =
    StagedWorkbook.fromRows(spark, readRowsByName(path, sheetName))

  // ------------------------------------------------------------------ parts

  /** `Sheet1` — the reference's fallback sheet name (excel_handler.py:15). */
  val FallbackSheet = "Sheet1"

  /** (sheet name, worksheet part) pairs in user-visible order, resolved
    * through workbook.xml + its rels (sheet order in workbook.xml is the
    * user-visible order; the rel target is the physical part). Empty when
    * the workbook parts are missing.
    */
  private[sources] def sheetParts(zip: ZipFile): Seq[(String, String)] = {
    val wb = zip.getEntry("xl/workbook.xml")
    val rels = zip.getEntry("xl/_rels/workbook.xml.rels")
    if (wb == null || rels == null) return Seq.empty
    val sheets = mutable.ArrayBuffer.empty[(String, String)] // (name, rid)
    parse(zip.getInputStream(wb), new DefaultHandler {
      override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
        if (local(q, l) == "sheet") {
          val rid = Option(a.getValue("r:id")).getOrElse(a.getValue("id"))
          if (rid != null) sheets += ((Option(a.getValue("name")).getOrElse(""), rid))
        }
    })
    val targets = mutable.Map.empty[String, String]
    parse(zip.getInputStream(rels), new DefaultHandler {
      override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
        if (local(q, l) == "Relationship")
          targets(a.getValue("Id")) = a.getValue("Target")
    })
    sheets.toSeq.flatMap { case (name, rid) =>
      targets.get(rid)
        .map(t => if (t.startsWith("/")) t.drop(1) else s"xl/$t")
        .map(name -> _)
    }
  }

  /** Worksheet part for `sheetIndex`. Falls back to the conventional
    * `xl/worksheets/sheet{n}.xml` when the workbook parts are absent.
    */
  private[sources] def sheetEntryName(zip: ZipFile, sheetIndex: Int): String =
    sheetParts(zip).lift(sheetIndex).map(_._2)
      .getOrElse(s"xl/worksheets/sheet${sheetIndex + 1}.xml")

  /** Worksheet part for a sheet NAME: exact match, else [[FallbackSheet]],
    * else fail listing what exists (the reference's `_resolve_sheet`).
    */
  private[sources] def sheetEntryForName(zip: ZipFile, sheetName: String,
      path: String): String = {
    val parts = sheetParts(zip)
    parts.collectFirst { case (n, p) if n == sheetName => p }
      .orElse(parts.collectFirst { case (n, p) if n == FallbackSheet => p })
      .getOrElse(throw new IllegalArgumentException(
        s"Sheet '$sheetName' no encontrado en $path. " +
          s"Sheets disponibles: ${parts.map(_._1).mkString("[", ", ", "]")}"))
  }

  private def readSharedStrings(zip: ZipFile): IndexedSeq[String] = {
    val entry = zip.getEntry("xl/sharedStrings.xml")
    if (entry == null) return IndexedSeq.empty
    val out = mutable.ArrayBuffer.empty[String]
    parse(zip.getInputStream(entry), new DefaultHandler {
      private val sb = new StringBuilder
      private var inT = false
      override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
        local(q, l) match {
          case "si" => sb.clear()
          case "t"  => inT = true
          case _    =>
        }
      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (inT) sb.appendAll(ch, start, len)
      override def endElement(u: String, l: String, q: String): Unit =
        local(q, l) match {
          case "t"  => inT = false
          case "si" => out += sb.toString
          case _    =>
        }
    })
    out.toIndexedSeq
  }

  /** One worksheet's populated cells: (row, col) → rendered string. */
  private def parseSheet(in: InputStream,
      shared: IndexedSeq[String]): Map[(Int, Int), String] = {
    val out = mutable.Map.empty[(Int, Int), String]
    parse(in, new DefaultHandler {
      private var row = 0
      private var colInRow = 0
      private var cellCol = 0
      private var cellType = ""
      private val text = new StringBuilder
      private var collecting = false
      private var inlineStr = false

      override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
        local(q, l) match {
          case "row" =>
            // some writers omit r= — then rows/cells are sequential
            row = Option(a.getValue("r")).map(_.toInt).getOrElse(row + 1)
            colInRow = 0
          case "c" =>
            val ref = a.getValue("r")
            cellCol =
              if (ref != null) StagedWorkbook.colIndex(ref.takeWhile(_.isLetter))
              else colInRow + 1
            colInRow = cellCol
            cellType = Option(a.getValue("t")).getOrElse("n")
            text.clear()
            inlineStr = false
          case "is" => inlineStr = true
          case "v" => collecting = true; text.clear()
          // rich-text <is> holds MULTIPLE <t> runs (one per format span);
          // they concatenate — clearing per run would keep only the last
          case "t" if inlineStr => collecting = true
          case _ =>
        }
      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (collecting) text.appendAll(ch, start, len)
      override def endElement(u: String, l: String, q: String): Unit =
        local(q, l) match {
          case "v" | "t" => collecting = false
          case "c" =>
            val raw = text.toString
            val rendered = cellType match {
              // a shared-string cell with no <v> child (`<c t="s"/>`,
              // emitted by some writers) renders empty, not a crash
              case "s"              => raw.trim.toIntOption.flatMap(shared.lift).orNull
              case "inlineStr"      => raw
              case "str"            => raw
              case "b"              => if (raw.trim == "1") "TRUE" else "FALSE"
              case "e"              => raw
              case _                => if (raw.isEmpty) null else renderNumber(raw)
            }
            if (rendered != null && rendered.nonEmpty) out((row, cellCol)) = rendered
          case _ =>
        }
    })
    out.toMap
  }

  /** Numeric cell text → canonical string: integral values lose any
    * fractional tail ("119000.0" → "119000", "1.2E5" → "120000"); true
    * fractions keep a plain minimal form. Keeps the staged text exactly
    * what the reference's pandas read would show the parser.
    */
  private[sources] def renderNumber(raw: String): String =
    try {
      val bd = new java.math.BigDecimal(raw.trim).stripTrailingZeros
      if (bd.scale <= 0) bd.toBigInteger.toString else bd.toPlainString
    } catch { case _: NumberFormatException => raw }

  private def local(qName: String, localName: String): String =
    if (localName != null && localName.nonEmpty) localName
    else qName.substring(qName.indexOf(':') + 1)

  private def parse(in: InputStream, handler: DefaultHandler): Unit = {
    val f = SAXParserFactory.newInstance()
    // hardened: workbook XML never needs DTDs or external entities
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    try f.newSAXParser().parse(in, handler) finally in.close()
  }
}
