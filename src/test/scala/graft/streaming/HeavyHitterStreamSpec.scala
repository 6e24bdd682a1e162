package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** In the exact regime (≤ k distinct values per batch) the streamed
  * MG store must resolve to EXACTLY the batch counts wherever the
  * boundaries fall, each batch's partial must stay k-bounded, and a
  * redelivered batch id must replace, not re-append.
  */
class HeavyHitterStreamSpec extends SparkSpec {

  private def events = spark.read
    .parquet("/root/testdata/sf0.001/events.parquet")
    .select(col("event_id"), col("event_type"))

  private def batchAnswer = events
    .groupBy(col("event_type").as("token"))
    .agg(count(lit(1)).as("cnt"))
    .orderBy(col("cnt").desc, col("token"))
    .collect().map(_.toSeq).toSeq

  test("streamed hitters ≡ batch counts across two splits; replay idempotent; partials k-bounded") {
    val base = Files.createTempDirectory("graft-hhstream")
    try {
      for ((m, i) <- Seq(3L, 7L).zipWithIndex) {
        val path = s"$base/p$i"
        val b0 = events.filter(col("event_id") % m === 0)
        val b1 = events.filter(col("event_id") % m =!= 0)
        HeavyHitterStream.mgSink(path, "event_type")(b0, 0L)
        HeavyHitterStream.mgSink(path, "event_type")(b1, 1L)
        val streamed = HeavyHitterStream.currentHitters(spark, path)
          .collect().map(_.toSeq).toSeq
        assert(streamed == batchAnswer, s"split %$m diverged")
        // each batch partial carries at most k rows (bounded state)
        val perBatch = spark.read.parquet(path)
          .groupBy(col("batch_id")).agg(count(lit(1)).as("n"))
          .collect().map(_.getLong(1))
        assert(perBatch.forall(_ <= 64), "partial exceeded the k bound")
        // replayed batch id replaces its partial bit-for-bit
        HeavyHitterStream.mgSink(path, "event_type")(b1, 1L)
        val replayed = HeavyHitterStream.currentHitters(spark, path)
          .collect().map(_.toSeq).toSeq
        assert(replayed == batchAnswer, "replay must not inflate counts")
      }
    } finally deleteRecursively(base)
  }

  test("the AvailableNow host accretes a landing stream end-to-end") {
    val base = Files.createTempDirectory("graft-hhstream-host")
    try {
      events.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$base/landing/p0")
      Thread.sleep(5)
      events.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      StreamHost.run(
        StreamHost.files(spark, s"$base/landing/*", events.schema),
        s"$base/work/ckpt")(
        HeavyHitterStream.mgSink(s"$base/work/partials", "event_type"))
      val streamed = HeavyHitterStream
        .currentHitters(spark, s"$base/work/partials")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batchAnswer)
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
