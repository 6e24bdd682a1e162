package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The streamed conversion funnel (per-user stage state folded over
  * time-ordered micro-batches) must report the SAME per-stage user
  * counts as the batch e6 funnel on the same events — and the counts
  * must be invariant to WHERE the batch boundaries fall.
  */
class FunnelStreamSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** sf0.001 is dense enough that every user completes all three stages;
    * thin clicks and purchases for user cohorts so the funnel strictly
    * narrows and the parity check has real structure to preserve.
    */
  private def corpus = spark.read.parquet(s"$sfDir/events.parquet")
    .select(col("user_id"), col("ts"), col("event_type"))
    .filter(!(col("event_type") === "purchase" && col("user_id") % 3 === 0))
    .filter(!(col("event_type") === "click" && col("user_id") % 5 === 0))

  private def batchCounts(base: java.nio.file.Path): Seq[(Int, Long)] = {
    corpus.write.mode("ignore").parquet(s"$base/table/events.parquet")
    graft.queries.CoreQueries.e6Funnel.fn(spark, s"$base/table")
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toSeq
  }

  private def runSliced(base: java.nio.file.Path, cuts: Seq[Double]): Seq[(Int, Long)] = {
    val ev = corpus
    // contiguous time slices → the time-ordered log-segment contract the
    // sink documents; slice files land sequentially so mtime order (the
    // order of StreamHost.files, one file per batch) follows time
    val ms = unix_millis(col("ts").cast("timestamp"))
    val bounds = ev.agg(min(ms).as("lo"), max(ms).as("hi")).collect().head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val edges = (Seq(0.0) ++ cuts ++ Seq(1.0)).map(f => lo + ((hi - lo + 1) * f).toLong)
    edges.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      ev.filter(ms >= a && ms < b)
        .coalesce(1).write.parquet(s"$base/landing/p$i")
      Thread.sleep(5) // distinct mtimes → deterministic pickup order
    }
    StreamHost.run(StreamHost.files(spark, s"$base/landing/*", ev.schema),
      s"$base/work/ckpt")(FunnelStream.funnelSink(s"$base/work/state"))
    FunnelStream.streamedFunnelCounts(spark, s"$base/work")
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toSeq
  }

  test("streamed funnel ≡ batch e6 across 3 time-ordered micro-batches") {
    val base = Files.createTempDirectory("graft-funnel3")
    try {
      val streamed = runSliced(base, Seq(0.33, 0.66))
      val batch = batchCounts(base)
      assert(streamed == batch, s"streamed $streamed != batch $batch")
      // the funnel actually funnels (guards a vacuous 0 == 0 pass)
      val m = streamed.toMap
      assert(m(1) > m(2) && m(2) > m(3) && m(3) > 0)
    } finally deleteRecursively(base)
  }

  test("replaying a batch id is idempotent (dynamic partition overwrite)") {
    val base = Files.createTempDirectory("graft-funnel-replay")
    try {
      val path = s"$base/state"
      val ms = unix_millis(col("ts").cast("timestamp"))
      val bounds = corpus.agg(min(ms).as("lo"), max(ms).as("hi")).collect().head
      val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val b0 = corpus.filter(ms < mid)
      val b1 = corpus.filter(ms >= mid)
      FunnelStream.funnelSink(path)(b0, 0L)
      FunnelStream.funnelSink(path)(b1, 1L)
      def snap = FunnelStream.currentState(spark.read.parquet(path))
        .orderBy("user_id").collect().toSeq
      val before = snap
      // crash-replay of batch 1: the foreachBatch host redelivers the id
      FunnelStream.funnelSink(path)(b1, 1L)
      assert(snap == before, "replayed batch must replace, not re-append")
    } finally deleteRecursively(base)
  }

  test("an out-of-order batch fails fast instead of silently corrupting counts") {
    val base = Files.createTempDirectory("graft-funnel-ooo")
    try {
      val path = s"$base/state"
      val ms = unix_millis(col("ts").cast("timestamp"))
      val bounds = corpus.agg(min(ms).as("lo"), max(ms).as("hi")).collect().head
      val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val early = corpus.filter(ms < mid)
      val late = corpus.filter(ms >= mid)
      FunnelStream.funnelSink(path)(late, 0L) // later segment delivered first
      val ex = intercept[IllegalStateException] {
        FunnelStream.funnelSink(path)(early, 1L)
      }
      assert(ex.getMessage.contains("contract violation"))
      // replaying the SAME id with the same segment is still fine — the
      // check excludes the batch's own prior watermark row
      FunnelStream.funnelSink(path)(late, 0L)
    } finally deleteRecursively(base)
  }

  test("crash between the _wm write and the state write replays cleanly") {
    val base = Files.createTempDirectory("graft-funnel-wmcrash")
    try {
      val path = s"$base/state"
      val ms = unix_millis(col("ts").cast("timestamp"))
      val bounds = corpus.agg(min(ms).as("lo"), max(ms).as("hi")).collect().head
      val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val b0 = corpus.filter(ms < mid)
      val b1 = corpus.filter(ms >= mid)
      FunnelStream.funnelSink(path)(b0, 0L)
      // simulate the crash window: batch 1's watermark lands, the state
      // write never happens (funnelSink writes the _wm sidecar FIRST)
      val ev1 = b1.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * 1000L)
      FunnelStream.enforceOrderedAndRecord(ev1, s"${path}_wm", 1L)
      // foreachBatch redelivers batch 1: the ordering check must judge
      // it against batch 0 only (its own orphaned wm row is excluded),
      // and the full replay must land the same state as a clean run
      FunnelStream.funnelSink(path)(b1, 1L)
      val got = FunnelStream.currentState(spark.read.parquet(path))
        .orderBy("user_id").collect().toSeq
      val clean = Files.createTempDirectory("graft-funnel-wmclean")
      try {
        FunnelStream.funnelSink(s"$clean/state")(b0, 0L)
        FunnelStream.funnelSink(s"$clean/state")(b1, 1L)
        val want = FunnelStream
          .currentState(spark.read.parquet(s"$clean/state"))
          .orderBy("user_id").collect().toSeq
        assert(got == want, "post-crash replay must equal the clean run")
      } finally deleteRecursively(clean)
    } finally deleteRecursively(base)
  }

  test("stage counts are batch-boundary invariant (2 uneven slices)") {
    val base = Files.createTempDirectory("graft-funnel2")
    try assert(runSliced(base, Seq(0.8)) == batchCounts(base))
    finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
