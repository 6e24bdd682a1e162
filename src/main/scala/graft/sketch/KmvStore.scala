package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted KMV k-minima store — the a12 sketch profiler's store
  * format accreted the [[HllStore]] way: hash the history ONCE into
  * per-group k-minima, append each new batch's minima with the store's
  * own parameters, and answer "how many distinct values does each
  * group hold, history included?" by a distinct-union + k-minima cut
  * at read — never a rescan of 100 TB of history per profiling run.
  *
  * Layout (self-describing, the `_meta` sidecar stance):
  * {{{
  *   path/minima/...  (group..., h) — APPEND-ONLY minima log: each
  *                    ingest appends its batch's per-group k smallest
  *                    distinct hash40 values verbatim; merging happens
  *                    at read
  *   path/_meta/...   one row: (group_cols ARRAY, value_col, k) —
  *                    appends MUST hash with the parameters the store
  *                    was born with
  * }}}
  *
  * Why append-only + merge-on-read is the right accretion algebra:
  * KMV's defining property (Beyer et al. 2007) is that the k minima of
  * a union are a pure function of the two sides' k minima, and the
  * distinct-union fold is IDEMPOTENT and commutative — a replayed
  * batch (crash-retry, at-least-once ingest) changes nothing and
  * out-of-order appends change nothing, so no dedup ledger is needed
  * in front of the store. The log grows by ≤ |groups|·k rows per
  * batch; [[compact]] folds it back to one minima set per group via
  * the shared crash-safe aside-swap ([[StoreDirOps]]).
  *
  * Streaming: like the register store, [[append]] is the whole
  * foreachBatch sink of a file-landing stream into the store
  * ([[graft.streaming.StreamHost.run]]) with NO replay guard — the
  * algebra is the guard, so a micro-batch redelivered after a restart
  * between the append and the checkpoint commit changes no estimate.
  * KmvStoreStreamSpec gates streamed ≡ batch-built ≡ one-shot and
  * replays the whole stream against the same store to pin it. The sink
  * ships ≤ |groups|·k longs per micro-batch into one parquet append,
  * independent of batch row count.
  *
  * Scale posture: writes are one distinct + one bounded window per
  * batch (both shuffles on (group, hash) keys, ≤ k rows per group
  * survive); reads are the same over the log; estimates are the exact
  * integer Bar-Yossef estimator both engines share (t4/t7/a12's
  * `(k-1)·2^40 DIV h_k`), so a store built from N appends is
  * bit-identical to a one-shot sketch of the union — the property the
  * a17 oracle gates from the raw tables.
  */
object KmvStore {

  final case class Meta(groupCols: Seq[String], valueCol: String, k: Int)

  /** This frame's per-group k-minima: distinct hashes, k smallest kept.
    * Pure scan → distinct → bounded window; nothing corpus-sized
    * survives.
    */
  private def minimaOf(df: DataFrame, groupCols: Seq[String],
      hCol: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("h"))
    df.select((groupCols.map(col) :+ hCol.as("h")): _*)
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Bootstrap write: sketch `df` and create the store. */
  def write(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int, path: String): Unit = {
    val spark = df.sparkSession
    // NULLs carry no distinct value: hash40(NULL) would mint a
    // sentinel hash the estimator must not count
    minimaOf(df.filter(col(valueCol).isNotNull), groupCols,
        Sketch.hash40(col(valueCol)), k)
      .write.mode("overwrite").parquet(s"$path/minima")
    import spark.implicits._
    Seq((groupCols, valueCol, k))
      .toDF("group_cols", "value_col", "k").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** The parameters the store was born with (one row — bounded pull). */
  def readMeta(spark: SparkSession, path: String): Meta = {
    val r = spark.read.parquet(s"$path/_meta").head()
    Meta(r.getSeq[String](r.fieldIndex("group_cols")).toIndexedSeq,
      r.getAs[String]("value_col"), r.getAs[Int]("k"))
  }

  /** Incremental maintenance: sketch ONLY the new batch with the
    * store's stored parameters and append its minima. Idempotent under
    * replay — the read-side distinct-union absorbs duplicates.
    */
  def append(df: DataFrame, path: String): Unit = {
    val m = readMeta(df.sparkSession, path)
    minimaOf(df.filter(col(m.valueCol).isNotNull), m.groupCols,
        Sketch.hash40(col(m.valueCol)), m.k)
      .write.mode("append").parquet(s"$path/minima")
  }

  /** The merged minima: distinct union of every appended batch, cut
    * back to the k smallest per group. ≤ k rows per group regardless
    * of how many batches were ingested.
    */
  def minima(spark: SparkSession, path: String): DataFrame = {
    val m = readMeta(spark, path)
    minimaOf(spark.read.parquet(s"$path/minima"), m.groupCols, col("h"),
      m.k)
  }

  /** Per-group distinct estimate from the merged minima — the exact
    * integer estimator t4/t7/a12 run (`(k-1)·2^40 DIV h_k`; exact count
    * when fewer than k distinct hashes exist), so store-backed and
    * one-shot profiles agree bit-for-bit.
    */
  def estimate(spark: SparkSession, path: String): DataFrame = {
    val m = readMeta(spark, path)
    minima(spark, path)
      .groupBy(m.groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(m.groupCols.map(col) ++ Seq(
        when(col("n") < m.k, col("n"))
          .otherwise(
            expr(s"${(m.k - 1).toLong * Sketch.HashSpace}L DIV hk"))
          .cast("long").as("n_distinct_est"),
        col("n").cast("long").as("sketch_size")): _*)
  }

  /** Fold the append log back to one minima set per group (the shared
    * crash-safe aside-swap — see [[StoreDirOps]]). Estimate-invisible,
    * safe against concurrent appends (stragglers are rescued), single
    * compactor per store. Returns (rows before, rows after).
    */
  def compact(spark: SparkSession, path: String): (Long, Long) =
    compactImpl(spark, path, () => ())

  /** Test seam: `beforeSwap` runs between the snapshot merge and the
    * swap — the concurrent-append window.
    */
  private[sketch] def compactImpl(spark: SparkSession, path: String,
      beforeSwap: () => Unit): (Long, Long) = {
    val m = readMeta(spark, path)
    val logDir = s"$path/minima"
    val snapshot = spark.read.parquet(logDir).inputFiles
    val snapNames = snapshot.map(f => f.substring(f.lastIndexOf('/') + 1))
      .toSet
    val log = spark.read.parquet(snapshot.toIndexedSeq: _*)
    val before = log.count()
    val merged = minimaOf(log, m.groupCols, col("h"), m.k)
      .localCheckpoint(eager = true) // fully read before the swap
    val after = merged.count()
    beforeSwap()
    merged.write.mode("overwrite")
      .parquet(StoreDirOps.compactTmp(logDir))
    StoreDirOps.swapAndRescue(logDir, snapNames)
    (before, after)
  }

  /** Crash recovery for a compact that died mid-swap (see
    * [[StoreDirOps.repair]] — the distinct-union algebra makes
    * re-folding already-compacted files harmless). Idempotent; no-op
    * on a healthy store. Returns files restored from the aside.
    */
  def repair(spark: SparkSession, path: String): Long =
    StoreDirOps.repair(s"$path/minima")
}
