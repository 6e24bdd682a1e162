package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The watermarked stream–stream attribution join must emit EXACTLY
  * the batch range join's pairs when input is time-ordered and the
  * watermark covers the attribution window — and must actually EVICT
  * join state (bounded peak, not forever-accretion).
  */
class AttributionStreamSpec extends SparkSpec {

  private val windowMin = 360 // 6 h: 25 pairs at sf0.001 — non-vacuous, cross-batch

  // raw parquet read (ts stays a timestamp — the stream's event-time
  // axis), NOT Tables.load's nanos-long normalization
  private def events = spark.read
    .parquet("/root/testdata/sf0.001/events.parquet")
    .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"))

  private def batchPairs = AttributionStream
    .attributionBatch(events, windowMin)
    .select("user_id", "view_id", "click_id")
    .collect().map(_.toSeq).toSet

  test("streamed pairs ≡ batch range join across time-ordered batches") {
    val base = Files.createTempDirectory("graft-attrib")
    try {
      val want = batchPairs
      assert(want.nonEmpty, "the corpus must produce attribution pairs")
      // three time-ordered landing files (the multi-batch axis);
      // one file per micro-batch → three batches, watermark advances
      // between them and cross-batch pairs must still emit
      val sorted = events.orderBy("ts").localCheckpoint()
      val n = sorted.count()
      val third = (n / 3).toInt
      val rows = sorted.collect()
      Seq(rows.slice(0, third), rows.slice(third, 2 * third),
          rows.slice(2 * third, n.toInt)).zipWithIndex
        .foreach { case (slice, i) =>
          spark.createDataFrame(
              spark.sparkContext.parallelize(slice.toIndexedSeq, 1),
              sorted.schema)
            .coalesce(1).write.parquet(s"$base/landing/p$i")
          Thread.sleep(5)
        }
      val q = AttributionStream.runAttributionStream(spark,
        s"$base/landing/*", sorted.schema, s"$base/work", windowMin,
        watermarkDelay = "720 minutes")
      val got = spark.read.parquet(s"$base/work/pairs")
        .select("user_id", "view_id", "click_id")
        .collect().map(_.toSeq).toSet
      assert(got == want,
        s"streamed ${got.size} pairs vs batch ${want.size}")
      // eviction proof: peak join state stays far below total input —
      // the range constraint + watermark let Spark drop matched-out rows
      val peakState = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).maxOption.getOrElse(0L)
      val inputRows = events
        .filter(col("event_type").isin("view", "click")).count()
      assert(peakState > 0L, "join state metrics must be observable")
      assert(peakState < inputRows,
        s"state never evicted: peak $peakState vs input $inputRows")
    } finally deleteRecursively(base)
  }

  test("attribution window is inclusive at both ends and user-scoped") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def t(min: Int) = new java.sql.Timestamp(ts0.getTime + min * 60000L)
    val views = Seq((1L, 100L, t(0)), (2L, 101L, t(0)))
      .toDF("user_id", "event_id", "ts")
    val clicks = Seq(
      (1L, 200L, t(0)),   // boundary: same instant — inclusive
      (1L, 201L, t(30)),  // boundary: exactly +window — inclusive
      (1L, 202L, t(31)),  // beyond window — excluded
      (2L, 203L, t(5)),   // other user's click must not cross
      (3L, 204L, t(5)))   // user with no view — no pair
      .toDF("user_id", "event_id", "ts")
    val got = AttributionStream.attributionPairs(views, clicks, 30)
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 200L), (100L, 201L), (101L, 203L)))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
