package graft.pipeline

/** A4/A5/S9 — run-level report aggregation and notification rendering
  * (reference: smartbots-etl/src/application/dtos.py:21-88, template
  * rendering gmail_notifier.py:92-111). The "email" is driver-side
  * reporting after the Spark jobs complete; rendering keeps the reference's
  * quirks: only `{word}` placeholders substitute (CSS braces survive),
  * error lists truncate at 20 with "y N más".
  */
object Report {

  final case class FileOutcome(
      fileName: String, status: String, rowsTotal: Long, rowsValid: Long,
      rowsError: Long, inserted: Long, updated: Long, unchanged: Long,
      sourceTotal: BigDecimal, errorDetail: Seq[String])

  final case class ExecutionReport(
      runUuid: String, status: String, files: Seq[FileOutcome],
      sourceTotal: BigDecimal, outputTotal: BigDecimal,
      validationErrors: Seq[String]) {
    def totalFiles: Int = files.size
    def failedFiles: Int = files.count(f => f.status != "COMPLETED" && f.status != "SKIPPED")
    def totalRecords: Long = files.map(_.rowsTotal).sum
    def inserted: Long = files.map(_.inserted).sum
    def updated: Long = files.map(_.updated).sum
    def unchanged: Long = files.map(_.unchanged).sum
    def errors: Long = files.map(_.rowsError).sum
    def amountVariance: BigDecimal = (sourceTotal - outputTotal).abs
  }

  /** Error list capped at `cap` entries plus a "y N más" tail
    * (dtos.py:74-88).
    */
  def cappedErrors(errors: Seq[String], cap: Int = 20): Seq[String] =
    if (errors.size <= cap) errors
    else errors.take(cap) :+ s"... y ${errors.size - cap} más"

  /** Like [[cappedErrors]] but with the TRUE total known out-of-band —
    * used when the caller only materialized a bounded sample of the error
    * channel (the full count comes from a distributed count, not from the
    * collected list).
    */
  def cappedErrorsTotal(sample: Seq[String], total: Long, cap: Int = 20): Seq[String] =
    if (total <= cap) sample.take(cap)
    else sample.take(cap) :+ s"... y ${total - cap} más"

  /** `{word}` template substitution that leaves non-identifier braces (CSS
    * blocks) intact (gmail_notifier.py:92-111: regex `\{(\w+)\}` with
    * lookup fallback to the literal).
    */
  def renderTemplate(template: String, vars: Map[String, String]): String =
    "\\{(\\w+)\\}".r.replaceAllIn(template, m =>
      scala.util.matching.Regex.quoteReplacement(
        vars.getOrElse(m.group(1), m.matched)))

  // ----------------------------------------------------- HTML notification

  /** status → template file (consolidate_invoices.py TEMPLATE_MAP +
    * config default `ETL_Consolidacion_Error.html`).
    */
  def templateFor(status: String): String = status match {
    case "SUCCESS"  => "ETL_Consolidacion_Exito.html"
    case "PARTIAL"  => "ETL_Consolidacion_Parcial.html"
    case "NO_FILES" => "ETL_Consolidacion_Vacio.html"
    case _          => "ETL_Consolidacion_Error.html"
  }

  /** Status → subject label (consolidate_invoices.py STATUS_LABELS). */
  def statusLabel(status: String): String = status match {
    case "SUCCESS"  => "EXITOSO"
    case "PARTIAL"  => "ADVERTENCIA"
    case "ERROR"    => "ERROR"
    case "NO_FILES" => "SIN ARCHIVOS"
    case other      => other
  }

  private def escapeHtml(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Error rows table body (dtos.py:74-88): first 20 as
    * `<tr><td>file</td><td>row</td><td>error</td></tr>`, then a
    * `colspan='3'` "... y N más" tail. Entries look like
    * "file fila N: message" (the pipeline's detail format); anything else
    * renders as (N/A, N/A, entry). `total` carries the true error count
    * when the caller only materialized a bounded sample.
    */
  def errorRowsHtml(errors: Seq[String], total: Long, cap: Int = 20): String = {
    if (errors.isEmpty) return ""
    val Parsed = "(.*?) fila (\\d+): (.*)".r
    val rows = errors.take(cap).map {
      case Parsed(f, r, e) =>
        s"<tr><td>${escapeHtml(f)}</td><td>$r</td><td>${escapeHtml(e)}</td></tr>"
      case other =>
        s"<tr><td>N/A</td><td>N/A</td><td>${escapeHtml(other)}</td></tr>"
    }
    val tail =
      if (total > cap) Seq(s"<tr><td colspan='3'>... y ${total - cap} más</td></tr>")
      else Nil
    (rows ++ tail).mkString("\n")
  }

  /** Template variables (dtos.py:59-72): the exact placeholder names the
    * ETL_Consolidacion_* templates consume.
    */
  def toTemplateVars(r: ExecutionReport, consolidatedLink: String = "",
      timestamp: String = ""): Map[String, String] = {
    // drop the pipeline's own "... y N más" sample tails — the HTML table
    // re-derives its tail from the true count
    val errs = r.validationErrors.filterNot(_.startsWith("... y "))
    Map(
      "run_id" -> r.runUuid,
      "timestamp" -> timestamp,
      "archivos_procesados" -> r.totalFiles.toString,
      "registros_insertados" -> r.inserted.toString,
      "total_registros" -> r.totalRecords.toString,
      "errores_validacion" -> errorRowsHtml(errs, math.max(r.errors, errs.size)),
      "error_detalle" -> errs.take(5).mkString("; "),
      "link_consolidado" -> consolidatedLink)
  }

  /** Plain-text fallback of an HTML body (gmail_notifier.py:113-119:
    * `<br>` → newline, strip tags, collapse 3+ newlines to 2, trim) —
    * the text/plain alternative part of the notification.
    */
  def htmlToPlain(html: String): String = {
    val br = "(?i)<br\\s*/?>".r.replaceAllIn(html, "\n")
    val noTags = "<[^>]+>".r.replaceAllIn(br, "")
    "\\n{3,}".r.replaceAllIn(noTags, "\n\n").trim
  }

  /** Load a bundled template (src/main/resources/templates). */
  def loadTemplate(name: String): String = {
    val in = getClass.getResourceAsStream(s"/templates/$name")
    require(in != null, s"Template no encontrado: $name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Full HTML notification body for a run: status-selected template +
    * placeholder substitution (CSS braces survive — see
    * [[renderTemplate]]).
    */
  def renderHtml(r: ExecutionReport, consolidatedLink: String = "",
      timestamp: String = ""): String =
    renderTemplate(loadTemplate(templateFor(r.status)),
      toTemplateVars(r, consolidatedLink, timestamp))

  // ------------------------------------------------------------ S9 envelope

  /** status → template-map key for the YAML `email.templates` section
    * (consolidate_invoices.py TEMPLATE_MAP).
    */
  def templateKey(status: String): String = status match {
    case "SUCCESS"  => "success"
    case "PARTIAL"  => "partial"
    case "NO_FILES" => "empty"
    case _          => "error"
  }

  final case class Attachment(fileName: String, bytes: Array[Byte])

  /** The full notification message as DATA — the reference notifier's
    * MIME contract (oauth_gmail_notifier.py:72-111: From/To/Subject plus
    * Cc/Bcc only when present; a text/plain fallback alternative beside
    * the HTML body; base64 attachments named by file). The engine renders
    * the envelope and leaves transport to a connector.
    */
  final case class Envelope(
      from: String, to: Seq[String], cc: Seq[String], bcc: Seq[String],
      subject: String, htmlBody: String, textBody: String,
      attachments: Seq[Attachment]) {

    /** Message headers in the reference's order; Cc/Bcc appear only when
      * non-empty, recipient lists join with ", ".
      */
    def headers: Seq[(String, String)] =
      Seq("From" -> from, "To" -> to.mkString(", "), "Subject" -> subject) ++
        (if (cc.nonEmpty) Seq("Cc" -> cc.mkString(", ")) else Nil) ++
        (if (bcc.nonEmpty) Seq("Bcc" -> bcc.mkString(", ")) else Nil)

    /** Serialized artifact: headers, both body parts, and each attachment
      * base64-encoded under its filename — everything a transport
      * connector needs to build the real MIME message, reviewable as text.
      */
    def renderArtifact: String = {
      val h = headers.map { case (k, v) => s"$k: $v" }.mkString("\n")
      val atts = attachments.map { a =>
        val b64 = java.util.Base64.getEncoder.encodeToString(a.bytes)
        s"--- attachment: ${a.fileName} (${a.bytes.length} bytes) ---\n$b64"
      }
      (Seq(h, "--- text/plain ---", textBody, "--- text/html ---", htmlBody)
        ++ atts).mkString("\n\n")
    }
  }

  /** Build the run notification envelope from the YAML email config
    * (consolidate_invoices.py:642-663 + oauth_gmail_notifier.py:72-111):
    * subject = `<prefix> - <status label>`; template = the config map at
    * [[templateKey]] with the reference's literal fallback to the Error
    * template (an unconfigured `templates:` section renders every status
    * through `ETL_Consolidacion_Error.html` — the reference's behavior,
    * kept as-is); attachment paths that don't exist skip silently
    * (oauth_gmail_notifier.py:102-103).
    */
  def envelope(email: AppConfig.Email, r: ExecutionReport,
      consolidatedLink: String = "", timestamp: String = "",
      attachmentPaths: Seq[java.nio.file.Path] = Nil): Envelope = {
    val templateName = email.templates.getOrElse(
      templateKey(r.status), "ETL_Consolidacion_Error.html")
    val html = renderTemplate(loadTemplate(templateName),
      toTemplateVars(r, consolidatedLink, timestamp))
    Envelope(
      from = email.sender, to = email.to, cc = email.cc, bcc = email.bcc,
      subject = s"${email.subjectPrefix} - ${statusLabel(r.status)}",
      htmlBody = html, textBody = htmlToPlain(html),
      attachments = attachmentPaths
        .filter(java.nio.file.Files.exists(_))
        .map(p => Attachment(p.getFileName.toString,
          java.nio.file.Files.readAllBytes(p))))
  }

  /** Plain-text run summary (the notification body's data). */
  def summary(r: ExecutionReport): String = {
    val lines = Seq(
      s"Ejecución: ${r.runUuid}",
      s"Estado: ${r.status}",
      s"Archivos: ${r.totalFiles} (${r.failedFiles} con error)",
      s"Registros: ${r.totalRecords} — insertados ${r.inserted}, " +
        s"actualizados ${r.updated}, sin cambio ${r.unchanged}, errores ${r.errors}",
      s"Total origen: ${r.sourceTotal}",
      s"Total salida: ${r.outputTotal}",
      s"Varianza: ${r.amountVariance}") ++
      cappedErrors(r.validationErrors).map(e => s"  - $e")
    lines.mkString("\n")
  }
}
