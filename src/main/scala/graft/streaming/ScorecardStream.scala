package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Incremental per-source curation scorecard — the continuous
  * counterpart of the batch t27 scorecard: every micro-batch of
  * arriving documents is reduced to per-source PARTIALS and appended;
  * the current scorecard resolves with one grouped merge over the
  * partial store, never re-reading earlier batches.
  *
  * Partial design (everything mergeable, everything bounded):
  *   - `n_docs`, `sum_quality`, `pii_hits` — plain sums.
  *   - `langs` — the distinct language set per (source, batch); merged by
  *     flatten+distinct. Bounded by the language vocabulary, not the
  *     corpus (the t17 bounded-domain stance).
  *   - `kmv` — a per-source KMV sketch (k smallest distinct 40-bit
  *     content-hash values, ascending) for distinct-content counting:
  *     k longs per source per batch regardless of batch size, and KMV
  *     merge (union → k minima) makes the accreted sketch IDENTICAL to
  *     a one-shot sketch of everything (the t26 property). Below k
  *     distinct contents per source the resolved count is EXACT —
  *     ScorecardStreamSpec pins streamed ≡ batch t27 in that regime —
  *     and above k it degrades to the calibrated KMV estimate instead
  *     of unbounded state.
  *
  * Replay idempotence: [[StreamHost.overwriteBatch]].
  */
object ScorecardStream {

  val K = 256

  /** One micro-batch reduced to per-source partials. The KMV column is
    * built by the bounded [[graft.sketch.Sketch.KmvAggregator]] (k longs
    * per group in EVERY intermediate buffer, map-side partials included)
    * — not collect_set+slice, whose pre-slice state is O(distinct hashes
    * per source per batch).
    */
  def partials(batch: DataFrame): DataFrame = {
    val kmvAgg = udaf(graft.sketch.Sketch.KmvAggregator(K))
    batch
      .select(col("source"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        (TextAnalysis.emailCount(col("text")) +
          TextAnalysis.phoneCount(col("text"))).cast("long").as("pii"),
        graft.sketch.Sketch.hash40(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q")).as("sum_quality"),
        sum(col("pii")).as("pii_hits"),
        array_distinct(collect_list(col("lang"))).as("langs"),
        kmvAgg(col("h")).as("kmv"))
  }

  /** The foreachBatch sink: append this batch's partials. */
  def scorecardSink(storePath: String)(batch: DataFrame,
      batchId: Long): Unit =
    StreamHost.overwriteBatch(partials(batch), batchId, storePath)

  /** Resolve the current scorecard from the partial store: one grouped
    * merge. The KMV columns merge by flatten → distinct → k minima
    * (inputs are ≤ k longs per batch per source — bounded), then the
    * t26 estimate rule; below k the count is exact.
    */
  def currentScorecard(spark: SparkSession, storePath: String): DataFrame = {
    val hs = graft.sketch.Sketch.HashSpace
    spark.read.parquet(storePath)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_quality")).as("sum_quality"),
        sum(col("pii_hits")).as("pii_hits"),
        array_distinct(flatten(collect_list(col("langs")))).as("langs"),
        slice(array_sort(array_distinct(flatten(collect_list(col("kmv"))))),
          1, K).as("kmv"))
      .select(col("source"), col("n_docs"),
        size(col("langs")).cast("long").as("n_langs"),
        // clamp at n_docs: above K the estimate can overshoot the doc
        // count, which would flip dup_ppm negative — a sign the exact
        // batch scorecard (t27) can never produce
        least(
          when(size(col("kmv")) < K, size(col("kmv")).cast("long"))
            .otherwise(
              expr(s"${(K - 1).toLong * hs}L DIV element_at(kmv, -1)")),
          col("n_docs")).as("distinct_contents"),
        col("sum_quality"), col("pii_hits"))
      .withColumn("dup_ppm",
        expr("(n_docs - distinct_contents) * 1000000L div n_docs"))
      .withColumn("qual_mean_milli", expr("sum_quality * 1000L div n_docs"))
  }
}
