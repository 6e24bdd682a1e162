package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CharClassCounts, LongArrayDot, LongArrayQuantize, ParseClpMoney, RollingHash}

/** Session extensions exposing the engine's functions to SQL users:
  * `spark.sql.extensions=graft.GraftExtensions` (or pass to
  * `SparkSession.builder.withExtensions`). Registers the three native
  * codegen'd expressions (`parse_clp_money`, `rolling_hash`,
  * `long_array_dot`) plus the composite text / dedup / similarity layer
  * (`token_count`, `quality_score`, `lang_id`, `content_hash`,
  * `shingles`, `jaccard_ppm`, `simhash60`, `quantize_vec`, `cosine_q`) —
  * each composite expands to the same codegen'd Column tree the Scala
  * API builds, so SQL users get identical plans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("parse_clp_money"),
      new ExpressionInfo(classOf[ParseClpMoney].getName, "parse_clp_money"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "parse_clp_money takes exactly one argument")
        ParseClpMoney(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "rolling_hash takes exactly one argument")
        RollingHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("char_class_counts"),
      new ExpressionInfo(classOf[CharClassCounts].getName, "char_class_counts"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "char_class_counts takes exactly one argument")
        CharClassCounts(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("long_array_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "long_array_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "long_array_dot takes exactly two arguments")
        LongArrayDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("long_array_quantize"),
      new ExpressionInfo(classOf[LongArrayQuantize].getName, "long_array_quantize"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "long_array_quantize takes exactly one argument")
        LongArrayQuantize(children.head)
      }))
  }
}

object GraftExtensions {

  private val enWords = "'the','of','and','to','in','is','for','on','with','as'"
  private val esWords = "'de','la','que','el','en','y','los','del','las','por'"

  /** Escape a Scala regex for use inside a Spark SQL single-quoted string
    * literal: the SQL parser consumes one level of backslash escaping.
    */
  private def sqlLit(re: String): String = re.replace("\\", "\\\\")

  /** The composite text / dedup / similarity layer as Spark 4 SQL scalar
    * functions (`CREATE TEMPORARY FUNCTION ... RETURN <expr>`): each body
    * is the same expression tree the Scala API builds, inlined into the
    * calling plan by the analyzer — full codegen, no UDF boundary.
    */
  val sqlFunctions: Seq[String] = Seq(
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_tokens(t STRING)
      |RETURNS ARRAY<STRING>
      |RETURN filter(split(trim(t), '\\s+'), x -> x != '')""",
    """CREATE OR REPLACE TEMPORARY FUNCTION token_count(t STRING)
      |RETURNS INT RETURN size(graft_tokens(t))""",
    // the one-pass native census replaces the former regexp_replace
    // passes — same values, and the SQL surface now builds the same
    // expression tree as the Scala API (TextAnalysis.subwordCount)
    """CREATE OR REPLACE TEMPORARY FUNCTION subword_count(t STRING)
      |RETURNS BIGINT
      |RETURN CAST((char_class_counts(t).n_letters + 3) / 4 AS BIGINT)
      |       + char_class_counts(t).n_digits
      |       + char_class_counts(t).n_punct""",
    """CREATE OR REPLACE TEMPORARY FUNCTION punct_count(t STRING)
      |RETURNS INT RETURN char_class_counts(t).n_punct""",
    s"""CREATE OR REPLACE TEMPORARY FUNCTION quality_score(t STRING)
      |RETURNS BIGINT
      |RETURN CASE WHEN t IS NULL THEN NULL ELSE 0 END
      |  + least(100, token_count(t))
      |  + CASE WHEN token_count(t) > 0
      |         THEN least(100, CAST(floor(
      |           size(array_intersect(graft_tokens(t), array($enWords,$esWords)))
      |             * 500 / token_count(t)) AS INT))
      |         ELSE 0 END
      |  + 100 - CASE WHEN length(t) > 0
      |         THEN least(100, CAST(floor(punct_count(t) * 300 / length(t)) AS INT))
      |         ELSE 0 END""",
    s"""CREATE OR REPLACE TEMPORARY FUNCTION lang_id(t STRING)
      |RETURNS STRING
      |RETURN CASE
      |  WHEN size(array_intersect(graft_tokens(t), array($enWords))) >
      |       size(array_intersect(graft_tokens(t), array($esWords))) THEN 'en'
      |  WHEN size(array_intersect(graft_tokens(t), array($esWords))) >
      |       size(array_intersect(graft_tokens(t), array($enWords))) THEN 'es'
      |  ELSE 'und' END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION content_hash(t STRING)
      |RETURNS STRING RETURN md5(CAST(t AS BINARY))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION shingles(t STRING, n INT)
      |RETURNS ARRAY<STRING>
      |RETURN CASE WHEN size(graft_tokens(t)) - n + 1 > 0
      |  THEN array_distinct(transform(
      |         sequence(1, size(graft_tokens(t)) - n + 1),
      |         i -> concat_ws(' ', slice(graft_tokens(t), i, n))))
      |  ELSE CAST(array() AS ARRAY<STRING>) END""",
    // ALL shingle positions (non-distinct) — the boilerplate census
    // counts positions, so the distinct form above can't feed it
    """CREATE OR REPLACE TEMPORARY FUNCTION shingles_all(t STRING, n INT)
      |RETURNS ARRAY<STRING>
      |RETURN CASE WHEN size(graft_tokens(t)) - n + 1 > 0
      |  THEN transform(
      |         sequence(1, size(graft_tokens(t)) - n + 1),
      |         i -> concat_ws(' ', slice(graft_tokens(t), i, n)))
      |  ELSE CAST(array() AS ARRAY<STRING>) END""",
    // count-min sketch cell (Sketch.cmsBucket): with this, the whole
    // grid build AND point probes are pure-SQL expressible — see
    // GraftExtensionsSpec for the canonical query shape
    """CREATE OR REPLACE TEMPORARY FUNCTION cms_bucket(v STRING, r INT, width INT)
      |RETURNS BIGINT
      |RETURN CAST(conv(substring(md5(CAST(concat(CAST(r AS STRING), ':', v)
      |              AS BINARY)), 1, 10), 16, 10) AS BIGINT) % width""",
    // integer log-histogram bin + midpoint (ApproxQuantiles.logBin /
    // binEstimate): the bounded-state by-group quantile surface in SQL
    """CREATE OR REPLACE TEMPORARY FUNCTION log_bin(v BIGINT, sub_bits INT)
      |RETURNS BIGINT
      |RETURN CASE WHEN v < shiftleft(1L, sub_bits) THEN v
      |  ELSE CAST(length(bin(v)) - 1 AS BIGINT) * shiftleft(1L, sub_bits)
      |       + shiftrightunsigned(v - shiftleft(1L, length(bin(v)) - 1),
      |                            length(bin(v)) - 1 - sub_bits) END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION bin_midpoint(id BIGINT, sub_bits INT)
      |RETURNS DOUBLE
      |RETURN CASE WHEN id < shiftleft(1L, sub_bits) THEN CAST(id AS DOUBLE)
      |  ELSE CAST(shiftleft(1L, CAST(id DIV shiftleft(1L, sub_bits) AS INT))
      |            AS DOUBLE)
      |       + (CAST(id % shiftleft(1L, sub_bits) AS DOUBLE) + 0.5D)
      |         * CAST(shiftleft(1L, CAST(id DIV shiftleft(1L, sub_bits) AS INT)
      |                              - sub_bits) AS DOUBLE) END""",
    // per-row HOF form — fine for ad-hoc SQL; its CASE branches
    // re-tokenize per reference (conditional subtrees are excluded from
    // codegen subexpression elimination), so bulk scans should use
    // Dedup.repetitionStats, which projects the tokens once
    """CREATE OR REPLACE TEMPORARY FUNCTION repetition_ppm(t STRING, n INT)
      |RETURNS BIGINT
      |RETURN CASE WHEN size(graft_tokens(t)) - n + 1 > 0
      |  THEN ((size(graft_tokens(t)) - n + 1) - size(shingles(t, n)))
      |         * 1000000L div (size(graft_tokens(t)) - n + 1)
      |  ELSE 0L END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION jaccard_ppm(a ARRAY<STRING>, b ARRAY<STRING>)
      |RETURNS BIGINT
      |RETURN CASE WHEN size(array_union(a, b)) > 0
      |  THEN floor(CAST(size(array_intersect(a, b)) AS BIGINT) * 1000000
      |             / size(array_union(a, b)))
      |  ELSE 0 END""",
    // per-row HOF form — fine for ad-hoc SQL; bulk signature jobs should
    // use the aggregate form (Dedup.simhashes), which is measured faster
    """CREATE OR REPLACE TEMPORARY FUNCTION simhash60(t STRING)
      |RETURNS BIGINT
      |RETURN aggregate(sequence(0, 59), 0L, (acc, j) -> acc +
      |  CASE WHEN aggregate(
      |         transform(graft_tokens(t),
      |           tok -> CAST(conv(substring(md5(CAST(tok AS BINARY)), 1, 15), 16, 10) AS BIGINT)),
      |         0L, (a, h) -> a + (shiftright(h, j) & 1) * 2 - 1) > 0
      |       THEN shiftleft(1L, j) ELSE 0L END)""",
    // deterministic sampling surface (graft.sampling.Sampling): md5-
    // uniform ppm of the row KEY — reproducible on any engine, any
    // partitioning; the salt is the "seed"
    """CREATE OR REPLACE TEMPORARY FUNCTION hash_uniform_ppm(k STRING, salt STRING)
      |RETURNS BIGINT
      |RETURN CAST(conv(substring(md5(concat(k, '|', salt)), 1, 15), 16, 10)
      |            AS BIGINT) % 1000000L""",
    """CREATE OR REPLACE TEMPORARY FUNCTION hash_sample_keep(k STRING, fraction_ppm BIGINT, salt STRING)
      |RETURNS BOOLEAN RETURN hash_uniform_ppm(k, salt) < fraction_ppm""",
    """CREATE OR REPLACE TEMPORARY FUNCTION weighted_sample_keep(k STRING, weight_ppm BIGINT, salt STRING)
      |RETURNS BOOLEAN
      |RETURN hash_uniform_ppm(k, salt) < least(1000000L, greatest(0L, weight_ppm))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION split_assign(k STRING)
      |RETURNS STRING
      |RETURN CASE WHEN hash_uniform_ppm(k, 'split') < 900000 THEN 'train'
      |            WHEN hash_uniform_ppm(k, 'split') < 950000 THEN 'val'
      |            ELSE 'test' END""",
    // fixed-size overlapping chunks (TextAnalysis.chunkRows' arithmetic:
    // same starts, same subset-tail bound); caller contract
    // chunk_tokens > overlap >= 0 — SQL bodies cannot require()
    """CREATE OR REPLACE TEMPORARY FUNCTION chunk_texts(t STRING, chunk_tokens INT, overlap INT)
      |RETURNS ARRAY<STRING>
      |RETURN CASE WHEN size(graft_tokens(t)) > 0
      |  THEN transform(
      |         sequence(0, greatest(size(graft_tokens(t)) - overlap - 1, 0),
      |                  chunk_tokens - overlap),
      |         st -> concat_ws(' ', slice(graft_tokens(t), st + 1, chunk_tokens)))
      |  ELSE CAST(array() AS ARRAY<STRING>) END""",
    // PII scrub surface (TextAnalysis.redactPii): patterns embedded from
    // the same Scala constants so the dialects cannot drift; backslashes
    // doubled for the SQL string literal
    s"""CREATE OR REPLACE TEMPORARY FUNCTION redact_pii(t STRING)
      |RETURNS STRING
      |RETURN regexp_replace(regexp_replace(t,
      |  '${sqlLit(graft.text.TextAnalysis.EmailRegex)}', '[EMAIL]'),
      |  '${sqlLit(graft.text.TextAnalysis.PhoneRegex)}', '[PHONE]')""",
    s"""CREATE OR REPLACE TEMPORARY FUNCTION email_count(t STRING)
      |RETURNS INT
      |RETURN size(regexp_extract_all(t, '${sqlLit(graft.text.TextAnalysis.EmailRegex)}', 0))""",
    s"""CREATE OR REPLACE TEMPORARY FUNCTION phone_count(t STRING)
      |RETURNS INT
      |RETURN size(regexp_extract_all(t, '${sqlLit(graft.text.TextAnalysis.PhoneRegex)}', 0))""",
    // Morton interleave (graft.functions.zorder_key): layout/key surface
    // for SQL-side clustering audits
    """CREATE OR REPLACE TEMPORARY FUNCTION zorder_key(a BIGINT, b BIGINT, bits INT)
      |RETURNS BIGINT
      |RETURN aggregate(sequence(0, bits - 1), 0L, (acc, i) ->
      |  acc | shiftleft(shiftright(a, i) & 1L, 2 * i)
      |      | shiftleft(shiftright(b, i) & 1L, 2 * i + 1))""",
    // N-dimensional Morton interleave (graft.functions.zorder_key_n):
    // dims as an array; bit i·d + j is dimension j's bit i
    """CREATE OR REPLACE TEMPORARY FUNCTION zorder_key_n(dims ARRAY<BIGINT>, bits INT)
      |RETURNS BIGINT
      |RETURN aggregate(sequence(0, bits - 1), 0L, (acc, i) ->
      |  acc | aggregate(sequence(0, size(dims) - 1), 0L, (a2, j) ->
      |    a2 | shiftleft(shiftright(element_at(dims, j + 1), i) & 1L,
      |                   i * size(dims) + j)))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION quantize_vec(v ARRAY<DOUBLE>)
      |RETURNS ARRAY<BIGINT>
      |RETURN transform(v, x -> CAST(round(x * 1000, 0) AS BIGINT))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION cosine_q(a ARRAY<BIGINT>, b ARRAY<BIGINT>)
      |RETURNS DOUBLE
      |RETURN CASE WHEN long_array_dot(a, a) > 0 AND long_array_dot(b, b) > 0
      |  THEN CAST(long_array_dot(a, b) AS DOUBLE)
      |       / sqrt(CAST(long_array_dot(a, a) * long_array_dot(b, b) AS DOUBLE))
      |  END""",
    // t30's Duffield–Lund–Thorup priority: w·2^40 div (h40+1) over the
    // keyed 40-bit md5 uniform — SQL-only users can replicate the
    // priority sample with ORDER BY sample_priority(...) DESC LIMIT k+1
    """CREATE OR REPLACE TEMPORARY FUNCTION sample_priority(k STRING, w BIGINT)
      |RETURNS BIGINT
      |RETURN w * 1099511627776L div
      |  (CAST(conv(substr(md5(concat(k, '|psample')), 1, 10), 16, 10)
      |        AS BIGINT) + 1)""",
    // d17's normalized edit similarity over capped prefixes
    """CREATE OR REPLACE TEMPORARY FUNCTION edit_sim_ppm(a STRING, b STRING, pfx INT)
      |RETURNS BIGINT
      |RETURN CASE
      |  WHEN greatest(length(substr(a, 1, pfx)), length(substr(b, 1, pfx))) = 0
      |    THEN 1000000L
      |  ELSE (greatest(length(substr(a, 1, pfx)), length(substr(b, 1, pfx)))
      |        - levenshtein(substr(a, 1, pfx), substr(b, 1, pfx))) * 1000000L
      |       div greatest(length(substr(a, 1, pfx)), length(substr(b, 1, pfx)))
      |  END""").map(_.stripMargin)

  /** One-call SQL setup on a LIVE session: the three native expressions
    * (extensions only apply at session creation) plus every SQL scalar
    * function above. Idempotent.
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    GraftSqlBridge.registerFunction(spark, "parse_clp_money",
      ch => ParseClpMoney(ch.head))
    GraftSqlBridge.registerFunction(spark, "rolling_hash",
      ch => RollingHash(ch.head))
    GraftSqlBridge.registerFunction(spark, "char_class_counts",
      ch => CharClassCounts(ch.head))
    GraftSqlBridge.registerFunction(spark, "long_array_dot",
      ch => LongArrayDot(ch.head, ch(1)))
    GraftSqlBridge.registerFunction(spark, "long_array_quantize",
      ch => LongArrayQuantize(ch.head))
    sqlFunctions.foreach(spark.sql(_))
  }
}
