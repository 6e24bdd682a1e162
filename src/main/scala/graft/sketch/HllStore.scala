package graft.sketch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted HLL register store — the accreted twin of the a15 column
  * profiler (the s18/s25/d14 store discipline applied to cardinality
  * profiling): sketch the history ONCE into per-group 256-register
  * grids, append each new batch's grid with the store's own parameters,
  * and answer "how many distinct values does each group hold, history
  * included?" by a cell-wise MAX merge at read — never a rescan of
  * 100 TB of history per profiling run.
  *
  * Layout (self-describing, the `_meta` sidecar stance):
  * {{{
  *   path/registers/...  (group..., bucket, r) — APPEND-ONLY grid log:
  *                       each ingest appends its batch's registers
  *                       verbatim; merging happens at read
  *   path/_meta/...      one row: (group_cols ARRAY, value_col, m) —
  *                       appends MUST sketch with the parameters the
  *                       store was born with
  * }}}
  *
  * Why append-only + merge-on-read is the right accretion algebra here:
  * HLL registers merge by cell-wise max, and max is IDEMPOTENT and
  * commutative — a replayed batch (crash-retry, at-least-once ingest)
  * changes nothing, out-of-order appends change nothing, and no
  * read-modify-write cycle ever holds the store locked. The log grows
  * by ≤ |groups|·256 rows per batch; [[compact]] folds it back to one
  * merged grid via the crash-safe aside-swap when the log's read cost
  * exceeds its write convenience.
  *
  * Streaming: [[append]] is the whole foreachBatch sink of a file-landing
  * stream into the store ([[graft.streaming.StreamHost.run]]), and it
  * needs NEITHER the `batch_id` dynamic-overwrite guard nor an
  * idempotence ledger: a micro-batch redelivered after a restart between
  * the append and the checkpoint commit changes no estimate — the
  * algebra IS the guard. HllStoreStreamSpec gates streamed ≡ batch-built
  * ≡ one-shot and replays the whole stream against the same store to pin
  * it. Per micro-batch the sink ships ≤ |groups|·256 register cells into
  * one parquet append, independent of batch row count.
  *
  * Concurrency: [[append]] is safe against other appends AND against a
  * running [[compact]] — compact snapshots the log's file list up
  * front and, after the swap, RESCUES any part file that landed later
  * (a straggler append) into the new log instead of deleting it, so
  * no batch's registers are ever silently dropped. compact itself is
  * single-writer: run at most one at a time per store. A crash inside
  * compact leaves a `registers__compact_old` / `__compact_tmp` aside;
  * [[repair]] restores the store from any such state (max-merge makes
  * re-adding old files harmless, so recovery never needs to know how
  * far the crash got).
  *
  * Scale posture: every operation is one hash aggregate over bounded
  * state (≤ 256 cells per group per batch); estimates replay the exact
  * integer estimator both engines share ([[Sketch.hllEstimateSql]] —
  * raw harmonic above the 2.5m cutoff, compile-time linear-counting
  * table below it), so a store built from N appends is bit-identical
  * to a one-shot sketch of the union — the property the a16 oracle
  * gates from the raw tables.
  */
object HllStore {

  final case class Meta(groupCols: Seq[String], valueCol: String, m: Int)

  /** Bootstrap write: sketch `df` and create the store. */
  def write(df: DataFrame, groupCols: Seq[String], valueCol: String,
      path: String): Unit = {
    val spark = df.sparkSession
    // NULLs carry no distinct value and would add a null-bucket cell
    // that the estimate's register count must not see
    Sketch.hllRegistersByGroup(df.filter(col(valueCol).isNotNull),
        groupCols, valueCol)
      .write.mode("overwrite").parquet(s"$path/registers")
    import spark.implicits._
    // group_cols persists as a real array column — a name containing
    // a comma (or anything else) round-trips verbatim
    Seq((groupCols, valueCol, Sketch.HllM))
      .toDF("group_cols", "value_col", "m").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** The parameters the store was born with (one row — bounded pull). */
  def readMeta(spark: SparkSession, path: String): Meta = {
    val r = spark.read.parquet(s"$path/_meta").head()
    Meta(r.getSeq[String](r.fieldIndex("group_cols")).toIndexedSeq,
      r.getAs[String]("value_col"), r.getAs[Int]("m"))
  }

  /** Incremental maintenance: sketch ONLY the new batch with the store's
    * stored parameters and append its grid. Idempotent under replay —
    * appending the same batch twice leaves every estimate unchanged
    * (cell-wise max absorbs duplicates), so an at-least-once ingest
    * needs no dedup ledger in front of this store.
    */
  def append(df: DataFrame, path: String): Unit = {
    val m = readMeta(df.sparkSession, path)
    require(m.m == Sketch.HllM,
      s"store sketched at m=${m.m}, engine compiled for m=${Sketch.HllM}")
    Sketch.hllRegistersByGroup(df.filter(col(m.valueCol).isNotNull),
        m.groupCols, m.valueCol)
      .write.mode("append").parquet(s"$path/registers")
  }

  /** The merged register grid: cell-wise MAX over every appended batch.
    * ≤ 256 rows per group regardless of how many batches were ingested.
    */
  def registers(spark: SparkSession, path: String): DataFrame = {
    val m = readMeta(spark, path)
    mergeGrid(spark.read.parquet(s"$path/registers"), m)
  }

  private def mergeGrid(log: DataFrame, m: Meta): DataFrame =
    log.groupBy((m.groupCols :+ "bucket").map(col): _*)
      .agg(max(col("r")).as("r"))

  /** Per-group distinct estimate from the merged grid, with the full
    * small-range correction (raw harmonic when the raw estimate clears
    * 2.5m; the linear-counting table on the empty-bucket count below
    * it) — the same integer estimator a15 runs, so store-backed and
    * one-shot profiles agree bit-for-bit.
    */
  def estimate(spark: SparkSession, path: String): DataFrame = {
    val m = readMeta(spark, path)
    registers(spark, path)
      .groupBy(m.groupCols.map(col): _*)
      .agg(
        sum(expr("shiftleft(cast(1 as bigint), cast(33 - r as int))"))
          .as("s_ne"),
        count(lit(1)).as("ne"))
      .select(m.groupCols.map(col) ++ Seq(
        expr("CAST(" + Sketch.hllEstimateSql("s_ne", "ne", spark = true)
          + " AS BIGINT)").as("n_distinct_est"),
        col("ne").cast("long").as("sketch_size")): _*)
  }

  /** Fold the append log back to one merged grid (crash-safe
    * aside-swap, the VecIndex.repair discipline). Estimate-invisible:
    * the merged grid IS what [[registers]] was already computing.
    * Safe against concurrent [[append]]s: the merge reads a SNAPSHOT
    * of the log's part files, and any file that lands between the
    * snapshot and the swap is rescued into the new log (its registers
    * survive verbatim; the next compact folds it). Single-compactor:
    * do not run two compacts on one store at once.
    * Returns (rows before, rows after).
    */
  def compact(spark: SparkSession, path: String): (Long, Long) = {
    compactImpl(spark, path, () => ())
  }

  /** Test seam: `beforeSwap` runs after the snapshot is fully
    * materialized and before the directory swap — the window a
    * concurrent append can land in. Package-private; production code
    * goes through [[compact]].
    */
  private[sketch] def compactImpl(spark: SparkSession, path: String,
      beforeSwap: () => Unit): (Long, Long) = {
    val meta = readMeta(spark, path)
    val logDir = s"$path/registers"
    // snapshot the log's file list: the merge covers exactly these
    // files, so anything newer is a straggler append to rescue, never
    // a silently-dropped batch
    val snapshot = spark.read.parquet(logDir).inputFiles
    val snapNames = snapshot.map(f => f.substring(f.lastIndexOf('/') + 1))
      .toSet
    val log = spark.read.parquet(snapshot.toIndexedSeq: _*)
    val before = log.count()
    val merged = mergeGrid(log, meta)
      .localCheckpoint(eager = true) // fully read before the swap
    val after = merged.count()
    beforeSwap()
    merged.write.mode("overwrite")
      .parquet(StoreDirOps.compactTmp(logDir))
    StoreDirOps.swapAndRescue(logDir, snapNames)
    (before, after)
  }

  /** Crash recovery for a compact that died mid-swap (see
    * [[StoreDirOps.repair]] — max-merge absorbs re-folded files, so
    * recovery never reconstructs how far the crash got). Idempotent;
    * no-op on a healthy store. Returns files restored from the aside.
    */
  def repair(spark: SparkSession, path: String): Long =
    StoreDirOps.repair(s"$path/registers")
}
