package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** The curation funnel — training-set selection (exact dedup first-wins →
  * length band → zero window repetition) with cumulative per-stage
  * survivor counts — shared between the batch gate (t16) and the
  * streaming ingest host, so the two paths cannot drift: both consume
  * the same [[signals]] projection and the same stage predicates.
  */
object Curation {

  /** Per-document curation signals: (idCol, content_hash, n_tok,
    * rep_ppm). Tokens are projected ONCE (the t13 multi-reference rule)
    * and everything is a scan-stage expression — no shuffle, runs at
    * firehose width.
    */
  def signals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        TextAnalysis.contentHash(col(textCol)).as("content_hash"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("content_hash"),
        size(col("__tk")).as("n_tok"),
        greatest(size(col("__tk")) - 2, lit(0)).cast("long").as("windows"),
        size(Dedup.shinglesOfTokens(col("__tk"), 3)).cast("long").as("dw"))
      .withColumn("rep_ppm",
        when(col("windows") > 0,
          expr("(windows - dw) * 1000000 div windows")).otherwise(0L))
      .drop("windows", "dw")

  /** Stage-2/3 predicates over a keeper's signals — the single source of
    * truth for both the batch aggregate and the streamed store rollup.
    */
  def lengthBand(nTok: Column): Column = nTok.between(10, 95)
  def clean(nTok: Column, repPpm: Column): Column =
    lengthBand(nTok) && repPpm === 0

  /** Batch funnel over [[signals]] rows: first-wins election is a
    * struct-argmax hash aggregate keyed on content_hash (`min(struct(
    * id, …))`, the d8 shape), NOT a window — a window partition over
    * content_hash cannot be AQE-skew-split, so a boilerplate page
    * duplicated millions of times would pin its cluster on one reducer;
    * a hash aggregate's map-side partials absorb that skew. One more
    * aggregate folds the four stage counts and `stack` unpivots them.
    */
  def funnel(sig: DataFrame, idCol: String): DataFrame = {
    val byHash = sig.groupBy(col("content_hash"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col(idCol), col("n_tok"), col("rep_ppm"))).as("k"))
    val p2 = lengthBand(col("k.n_tok"))
    val p3 = clean(col("k.n_tok"), col("k.rep_ppm"))
    byHash.agg(
        sum(col("cnt")).as("t"),
        count(lit(1)).as("u"),
        sum(when(p2, 1L).otherwise(0L)).as("l"),
        sum(when(p3, 1L).otherwise(0L)).as("c"))
      .select(expr(
        "stack(4, '0_total', t, '1_unique', u, '2_length', l, '3_clean', c)")
        .as(Seq("stage", "n_docs")))
      .orderBy(col("stage"))
  }

  /** Streaming funnel sink: each micro-batch's [[signals]] flow through
    * the store-backed dedup ([[graft.streaming.StreamingDedup
    * .storeDedupSink]] — first occurrence per content_hash survives and
    * the store IS the state, so restarts replay idempotently), plus a
    * one-row-per-batch ingest total. Host it with
    * [[graft.streaming.StreamHost.run]]; call [[streamedFunnelCounts]]
    * afterwards for the four-stage report.
    *
    * Equivalence note: across batches the FIRST arrival wins, where the
    * batch funnel elects min-id — but a keeper's stage predicates
    * depend only on its TEXT (hash collisions aside, same hash ⇒ same
    * text ⇒ same n_tok/rep_ppm), so the stage counts agree regardless
    * of which duplicate survived. CurationFunnelStreamSpec pins this.
    */
  def funnelSink(idCol: String, textCol: String, workDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val sig = signals(batch, idCol, textCol)
    graft.streaming.StreamingDedup.storeDedupSink(
      s"$workDir/kept", "content_hash", Seq(idCol))(sig, batchId)
    // ingest total: one tiny row per batch. A crash between this
    // append and the checkpoint commit replays the batch id — the
    // reader dedups on batch_id (max of identical counts), so the
    // counter is idempotent like the store probe.
    val sp = batch.sparkSession
    import sp.implicits._
    Seq((batchId, batch.count())).toDF("batch_id", "n")
      .coalesce(1).write.mode("append").parquet(s"$workDir/totals")
  }

  /** The streamed funnel's cumulative counts, shaped exactly like the
    * batch [[funnel]] output: stage 0 from the replay-proof batch
    * totals, stages 1–3 from the kept store (whose rows ARE the
    * keepers' signals).
    */
  def streamedFunnelCounts(spark: SparkSession, workDir: String): DataFrame = {
    val kept = spark.read.parquet(s"$workDir/kept")
    val totals = spark.read.parquet(s"$workDir/totals")
      .groupBy(col("batch_id")).agg(max(col("n")).as("n"))
      .agg(sum(col("n")).as("t"))
    val p2 = lengthBand(col("n_tok"))
    val p3 = clean(col("n_tok"), col("rep_ppm"))
    kept.agg(count(lit(1)).as("u"),
        sum(when(p2, 1L).otherwise(0L)).as("l"),
        sum(when(p3, 1L).otherwise(0L)).as("c"))
      .crossJoin(totals)
      .select(expr(
        "stack(4, '0_total', t, '1_unique', u, '2_length', l, '3_clean', c)")
        .as(Seq("stage", "n_docs")))
      .orderBy(col("stage"))
  }
}
