package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming conversion funnel — the continuous counterpart of the e6
  * batch funnel (view → click strictly after the first view → purchase
  * strictly after that first qualifying click), maintained incrementally
  * over a micro-batched event log.
  *
  * State is an append-only store of per-user stage timestamps
  * `(user_id, tv, tc, tp, batch_id)`. All three timestamps are MONOTONE
  * NON-INCREASING per user across batches (a later batch can only reach
  * a stage, never un-reach it, and `least` with prior state never
  * raises), so the current state resolves with a min-per-column hash
  * aggregate — no window, no latest-version ranking. Each batch folds
  * the full e6 algebra over (state ∪ batch): three key-equi join + agg
  * stages, AQE-splittable, nothing driver-side.
  *
  * Replay idempotence: writes go through [[StreamHost.overwriteBatch]]
  * — a crash between the append and the checkpoint commit replays the
  * batch id, which then replaces its own partition bit-for-bit instead
  * of double-appending.
  *
  * Correctness contract (documented, spec'd, ENFORCED): micro-batches
  * must be TIME-ORDERED log segments — no event in batch N+1 is earlier
  * than any event in batch N (the log-replay / kafka-segment shape;
  * arbitrary disorder WITHIN a batch is fine, the batch-local fold sorts
  * it out). Under that contract a user's first-view time is final before
  * any later-batch click is judged against it, and the streamed stage
  * times equal the batch computation exactly — FunnelStreamSpec asserts
  * streamed ≡ batch across different batch boundaries. The contract is
  * checked at runtime: each batch's max event ts is persisted to a
  * `_wm` sidecar store (batch_id-partitioned, so replays overwrite their
  * own row), and a batch whose min ts precedes the max of any EARLIER
  * batch fails fast with [[IllegalStateException]] instead of silently
  * producing wrong stage counts. An out-of-order source needs a
  * watermark hold-back in front of this sink.
  */
object FunnelStream {

  /** Fail fast if this batch breaks the time-ordered-segments contract,
    * then record its (min, max) ts in the `_wm` sidecar. The check is a
    * two-value driver-side compare: one row from this batch's agg, one
    * from the sidecar scan (strictly earlier batch ids only, so a
    * redelivered batch is judged against its predecessors, not itself).
    */
  private[streaming] def enforceOrderedAndRecord(ev: DataFrame,
      wmPath: String, batchId: Long): Unit = {
    val spark = ev.sparkSession
    val mm = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
    if (mm.isNullAt(0)) return // empty batch: nothing to order or record
    val (bmin, bmax) = (mm.getLong(0), mm.getLong(1))
    if (graft.pipeline.StoreMaintenance.committedPartCount(wmPath) > 0L) {
      val prior = spark.read.parquet(wmPath)
        .filter(col("batch_id") < batchId)
        .agg(max(col("max_ts")).as("mx")).head()
      if (!prior.isNullAt(0) && bmin < prior.getLong(0))
        throw new IllegalStateException(
          s"FunnelStream contract violation: batch $batchId has min ts " +
            s"$bmin earlier than a prior batch's max ts ${prior.getLong(0)}" +
            " — the source is not delivering time-ordered log segments")
    }
    StreamHost.overwriteBatch(spark.range(1).select(lit(bmin).as("min_ts"),
      lit(bmax).as("max_ts")), batchId, wmPath)
  }

  /** Current per-user funnel state from the version store: min per
    * column (see monotonicity argument above). `min` ignores nulls, so
    * a stage first reached in a later batch resolves correctly.
    */
  def currentState(store: DataFrame): DataFrame =
    store.groupBy(col("user_id"))
      .agg(min(col("tv")).as("tv"), min(col("tc")).as("tc"),
        min(col("tp")).as("tp"))

  /** The foreachBatch sink: fold one micro-batch of events
    * `(user_id, ts, event_type)` into the state store at `storePath`.
    */
  def funnelSink(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val rawEv = batch.select(col("user_id"), col("ts"), col("event_type"))
    // normalize event time to the epoch-nanos long axis (the
    // graft.queries.Tables convention) so state columns are stable longs
    // whatever the landing files' timestamp encoding
    val ev = (rawEv.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        rawEv.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
      case _ => rawEv
    }).localCheckpoint() // three stage folds share one source read
    enforceOrderedAndRecord(ev, s"${storePath}_wm", batchId)
    val empty =
      graft.pipeline.StoreMaintenance.committedPartCount(storePath) == 0L
    val cur =
      if (empty)
        ev.select(col("user_id")).limit(0)
          .withColumn("tv", lit(null).cast("long"))
          .withColumn("tc", lit(null).cast("long"))
          .withColumn("tp", lit(null).cast("long"))
      else currentState(spark.read.parquet(storePath))

    // stage 1: first view — least of prior state and this batch's min
    val bv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("btv"))
    val users = ev.select(col("user_id")).distinct()
    val s1 = users.join(cur, Seq("user_id"), "left")
      .join(bv, Seq("user_id"), "left")
      .select(col("user_id"), least(col("tv"), col("btv")).as("tv"),
        col("tc"), col("tp"))
      .localCheckpoint() // feeds the click fold AND the final write
    // stage 2: first click strictly after the (now final) first view
    val bc = ev.filter(col("event_type") === "click")
      .join(s1.select(col("user_id"), col("tv")), "user_id")
      .filter(col("tv").isNotNull && col("ts") > col("tv"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("btc"))
    val s2 = s1.join(bc, Seq("user_id"), "left")
      .select(col("user_id"), col("tv"),
        least(col("tc"), col("btc")).as("tc"), col("tp"))
      .localCheckpoint()
    // stage 3: first purchase strictly after that first qualifying click
    val bp = ev.filter(col("event_type") === "purchase")
      .join(s2.select(col("user_id"), col("tc")), "user_id")
      .filter(col("tc").isNotNull && col("ts") > col("tc"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("btp"))
    val out = s2.join(bp, Seq("user_id"), "left")
      .select(col("user_id"), col("tv"), col("tc"),
        least(col("tp"), col("btp")).as("tp"))
    StreamHost.overwriteBatch(out, batchId, storePath)
  }

  /** The streamed funnel's stage counts, shaped exactly like the batch
    * e6 output: `(stage, step, users)`.
    */
  def streamedFunnelCounts(spark: SparkSession, workDir: String): DataFrame = {
    val st = currentState(spark.read.parquet(s"$workDir/state"))
      .localCheckpoint(eager = false)
    def row(stage: Int, step: String, c: org.apache.spark.sql.Column) =
      st.filter(c.isNotNull).agg(count(lit(1)).as("users"))
        .select(lit(stage).as("stage"), lit(step).as("step"), col("users"))
    row(1, "view", col("tv"))
      .unionByName(row(2, "click_after_view", col("tc")))
      .unionByName(row(3, "purchase_after_click", col("tp")))
      .orderBy(col("stage"))
  }
}
