package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Watermarked STREAM–STREAM join — the one Structured Streaming
  * primitive the [[StreamHost]] sinks deliberately avoid, demonstrated
  * on view→click attribution: every click joins every view by the same
  * user within an attribution window (`click_ts ∈ [view_ts, view_ts +
  * W]`). Two live streams, symmetric state, no batch-side store:
  * Spark's join state holds each side's rows only until the OTHER
  * side's watermark proves no future match can exist, then evicts —
  * the range constraint in the join condition is what makes the state
  * bounded, and the watermark delay is the disorder budget.
  *
  * Emission semantics are append-mode exact: a (view, click) pair is
  * emitted exactly once, when both sides have arrived. With
  * time-ordered input and a watermark delay ≥ the attribution window,
  * the streamed pair set is IDENTICAL to the batch range join —
  * AttributionStreamSpec pins streamed ≡ batch across batch
  * boundaries, and that join state is actually EVICTED (observed
  * peak state rows ≪ total input rows) rather than accreted forever.
  *
  * At 100 TB-of-events scale this is the attribution shape that works:
  * the pair space never materializes beyond in-flight state, state is
  * bounded by (arrival disorder + window) × event rate, and the same
  * plan runs unchanged on a real dual-topic source.
  */
object AttributionStream {

  /** The attribution join, usable on batch AND streaming frames: all
    * (view, click) pairs per user with the click inside
    * `[view_ts, view_ts + windowMinutes]`. Callers pass pre-filtered
    * view/click frames with (user_id, event_id, ts).
    */
  def attributionPairs(views: DataFrame, clicks: DataFrame,
      windowMinutes: Int): DataFrame = {
    val v = views.select(col("user_id").as("v_user"),
      col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = clicks.select(col("user_id").as("c_user"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    v.join(c, col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") +
          expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("v_user").as("user_id"), col("view_id"),
        col("click_id"), col("view_ts"), col("click_ts"))
  }

  /** Batch twin over a raw events frame (timestamp `ts`). */
  def attributionBatch(events: DataFrame, windowMinutes: Int)
      : DataFrame =
    attributionPairs(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "click"),
      windowMinutes)

  /** Host: run the attribution join over a file-landing event stream
    * ([[StreamHost.files]]) to completion (AvailableNow), pairs appended
    * to `workDir/pairs` — a file sink, not a foreachBatch sink, so it
    * keeps its own writer. Returns the terminated query so callers can
    * inspect state-operator metrics (peak state rows = the eviction
    * proof). `watermarkDelay` ≥ the window keeps time-ordered input
    * exact; tighter trades late data for state.
    */
  def runAttributionStream(spark: org.apache.spark.sql.SparkSession,
      inputGlob: String, schema: org.apache.spark.sql.types.StructType,
      workDir: String, windowMinutes: Int, watermarkDelay: String)
      : StreamingQuery = {
    val ev = StreamHost.files(spark, inputGlob, schema)
    val views = ev.filter(col("event_type") === "view")
      .withWatermark("ts", watermarkDelay)
    val clicks = ev.filter(col("event_type") === "click")
      .withWatermark("ts", watermarkDelay)
    val q = attributionPairs(views, clicks, windowMinutes)
      .writeStream
      .format("parquet")
      .option("path", s"$workDir/pairs")
      .option("checkpointLocation", s"$workDir/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
