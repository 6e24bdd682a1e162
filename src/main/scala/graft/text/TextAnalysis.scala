package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, document
  * fingerprinting. All are per-row Column expressions built from codegen'd
  * built-ins (no UDFs, no shuffles) — at 100 TB these run inside the scan
  * stage and cost one pass.
  *
  * Determinism notes (the DuckDB oracle recomputes everything):
  *   - ratios are integer-scaled (`floor(a*K/b)`) — integer-quotient IEEE
  *     division is exact, so engines agree bit-for-bit;
  *   - hashes derive from md5 hex (identical everywhere), never from
  *     engine-specific hash functions.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text, empties removed. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** T-token-count — whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Context-window chunking: one row per `(doc, chunk)` where chunk
    * `i` covers tokens `[i·step, i·step + chunkTokens)` and
    * `step = chunkTokens − overlap` — the pre-tokenization op that fits
    * long documents to a model's context length with lookback overlap.
    * Chunk starts explode per document (no shuffle; row explosion stays
    * inside the scan stage) and the slice/concat run codegen'd.
    * Zero-token documents produce no chunks; a document shorter than
    * one chunk produces exactly one. A start only qualifies while it
    * still adds tokens beyond the previous chunk's coverage
    * (`start < n − overlap`): without that bound, any document whose
    * final remnant fits inside the overlap emits a trailing chunk that
    * is a strict SUBSET of the one before it — pure duplicate text
    * injected into the training set.
    *
    * Returns (idCol, chunk_idx, chunk_tokens, chunk_text).
    */
  def chunkRows(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int, overlap: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      "need chunkTokens > overlap >= 0")
    val step = chunkTokens - overlap
    val toks = tokens(col(textCol))
    df.select(col(idCol), toks.as("__t"))
      .filter(size(col("__t")) > 0)
      .select(col(idCol),
        posexplode(sequence(lit(0),
          greatest(size(col("__t")) - overlap - 1, lit(0)), lit(step)))
          .as(Seq("chunk_idx", "__start")),
        col("__t"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__t"), col("__start") + 1, lit(chunkTokens)).as("__c"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__c")).as("chunk_tokens"),
        concat_ws(" ", col("__c")).as("chunk_text"))
  }

  /** BPE-ish subword count: letter runs count 1 per 4 chars (ceil), digits
    * and punctuation 1 each — a cheap, deterministic stand-in for a BPE
    * tokenizer's token count. Counts come from the one-pass native
    * [[graft.functions.CharClassCounts]] census (formerly three separate
    * full-text regexp_replace passes — the hottest expression in the
    * text-stats profile); subexpression elimination shares the census
    * with [[punctCount]] and [[qualityScore]] in the same projection.
    */
  def subwordCount(text: Column): Column = {
    val c = graft.functions.char_class_counts(text)
    val letters = c.getField("n_letters")
    val digits = c.getField("n_digits")
    val punct = c.getField("n_punct")
    ((letters + lit(3)) / lit(4)).cast("long") + digits + punct
  }

  /** Punctuation character count (non-alnum, non-space) — one-pass native
    * census, shared with [[subwordCount]] via subexpression elimination.
    */
  def punctCount(text: Column): Column =
    graft.functions.char_class_counts(text).getField("n_punct")

  /** Distinct-stopword hit count against a fixed vocabulary. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(array_intersect(tokens(text), array(stopwords.map(lit): _*)))

  val EnglishStopwords: Seq[String] =
    Seq("the", "of", "and", "to", "in", "is", "for", "on", "with", "as")
  val SpanishStopwords: Seq[String] =
    Seq("de", "la", "que", "el", "en", "y", "los", "del", "las", "por")

  /** T-quality — integer quality score in [0, 300]: rewards moderate token
    * length, penalizes punctuation density, rewards stopword presence.
    * All components are integer-scaled ratios (engine-exact):
    *   len_score  = min(100, tokens)                      — enough content
    *   stop_score = min(100, 500 * distinct_stop_hits / tokens)
    *   punct_score = 100 - min(100, 300 * punct_chars / chars)
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val nChr = length(text)
    val stopHits = stopwordHits(text, EnglishStopwords ++ SpanishStopwords)
    val lenScore = least(lit(100), nTok)
    // zero-token / zero-char guards keep the expression TOTAL: without
    // them an empty document makes 0/0 = NaN and ANSI mode (Spark 4
    // default) throws on the int cast — one dirty row would kill a
    // corpus-wide pass. The guard is a greatest(·,1) denominator, NOT a
    // when() branch: codegen subexpression elimination skips conditional
    // branches, so a when() here re-evaluates tokenCount/punctCount even
    // when the same subtree is selected unconditionally alongside (the
    // full-text regexes then run twice per row). With nTok==0 the
    // numerator stopHits is also 0, and with nChr==0 punctCount is 0, so
    // x*K/greatest(d,1) equals the branchy form on every input.
    val stopScore =
      least(lit(100), floor(stopHits * 500 / greatest(nTok, lit(1))).cast("int"))
    val punctScore = lit(100) -
      least(lit(100), floor(punctCount(text) * 300 / greatest(nChr, lit(1))).cast("int"))
    // NULL text scores NULL, not 200: least()/when() SKIP nulls, so
    // without this guard a failed-extraction row would get lenScore=100
    // + punctScore=100 and outrank most real documents — quality-
    // weighted curation would then UP-sample exactly the rows that
    // carry no text
    when(text.isNull, lit(null).cast("long"))
      .otherwise((lenScore + stopScore + punctScore).cast("long"))
  }

  /** T-lang-id — stopword-vote language heuristic: 'en' / 'es' / 'und'. */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, EnglishStopwords)
    val es = stopwordHits(text, SpanishStopwords)
    when(en > es, "en").when(es > en, "es").otherwise("und")
  }

  /** T-fingerprint — polynomial rolling hash over code points,
    * `h = (h*31 + cp) mod (2^31-1)`, null/empty → null. A native codegen'd
    * expression ([[graft.functions.RollingHash]]) — the HOF character loop
    * ran interpreted and dominated the text-stats pass.
    */
  def fingerprint(text: Column): Column =
    graft.functions.rolling_hash(text)

  /** Exact content identity: md5 of the UTF-8 bytes. */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  // --------------------------------------------------------------- PII scrub

  /** PII patterns, written in the dialect-portable subset shared by
    * Java's regex (Spark codegen) and RE2 (DuckDB, Go scrubbers): no
    * backreferences, no lookaround — so the redaction is reproducible
    * across engines and the oracle can hash-check it. Deliberately
    * conservative (standard curation practice): a false positive costs
    * one masked token, a false negative leaks PII into training data.
    */
  val EmailRegex = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  /** International-format phone: +CC then 8+ digits with optional
    * space/dash separators, ending on a digit. Anchored on `+` to stay
    * out of plain ids/amounts.
    */
  val PhoneRegex = "\\+[0-9]{1,3}[ -][0-9][0-9 -]{6,}[0-9]"

  /** Mask emails then phones — per-row scan-stage `regexp_replace`,
    * codegen'd, no shuffle: the form that runs at firehose width.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRegex, "[EMAIL]"),
      PhoneRegex, "[PHONE]")

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRegex), lit(0)))

  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhoneRegex), lit(0)))

  // ------------------------------------------------------- canonical form

  /** Punctuation stripped by [[canonicalText]]: the ASCII set whose
    * presence/absence most often distinguishes re-crawls of the same
    * page. A fixed `translate` set (not a regex class) so both engines
    * delete exactly the same bytes — Unicode category classes are a
    * known Java-vs-RE2 divergence point.
    */
  val CanonicalStrip = ".,;:!?\"'()[]"

  /** Canonical text form for normalization-aware exact dedup: lowercase,
    * strip [[CanonicalStrip]] punctuation, collapse whitespace runs to a
    * single space, trim. Re-crawls of one page differ overwhelmingly in
    * case, padding, and punctuation rendering — hashing the canonical
    * form instead of the raw bytes recovers those duplicate groups at
    * exact-dedup cost (one scan-stage expression, no shuffle; the CCNet/
    * RefinedWeb normalization step before hashing). Composition order
    * matters: punctuation is deleted BEFORE whitespace collapses, so
    * `"end . start"` and `"end  start"` canonicalize identically.
    * Likewise whitespace collapses BEFORE the trim: `trim` strips only
    * ASCII spaces, so a tab- or newline-padded re-crawl would
    * canonicalize to `" foo"` while its space-padded twin gives
    * `"foo"` — the collapse first turns ANY leading/trailing
    * whitespace run into a single space the trim can see.
    */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      translate(lower(text), CanonicalStrip, ""), "\\s+", " "))
}
