package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.IncrementalRollup

/** The streamed rollup must equal the batch j12 maintenance — and a
  * from-scratch recompute of the applied state — wherever the batch
  * boundaries fall, and must replace (not re-append) a redelivered
  * batch id.
  */
class RollupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def feed = Seq(
    ("I", "a", 10L, null, null),
    ("I", "a", 20L, null, null),
    ("I", "b", 5L, null, null),
    ("U", "b", 25L, "a", 20L),   // group-moving update
    ("D", null, null, "b", 5L),
    ("I", "c", 7L, null, null)
  ).asInstanceOf[Seq[(String, String, java.lang.Long, String, java.lang.Long)]]
    .toDF("op", "grp", "v", "old_grp", "old_v")

  private def expected = {
    val empty = feed.limit(0).select(col("grp"), col("v"))
    IncrementalRollup.maintain(
      IncrementalRollup.recompute(empty, "grp", "v"), feed, "grp", "v")
      .orderBy("grp").collect().map(_.toSeq).toSeq
  }

  test("streamed rollup ≡ batch maintenance across splits; replay idempotent") {
    val base = Files.createTempDirectory("graft-rollup-stream")
    try {
      val path = s"$base/partials"
      val b0 = feed.limit(3)
      val b1 = feed.except(b0)
      RollupStream.rollupSink(path, "grp", "v")(b0, 0L)
      RollupStream.rollupSink(path, "grp", "v")(b1, 1L)
      def snap = RollupStream.currentRollup(spark, path, "grp")
        .orderBy("grp").collect().map(_.toSeq).toSeq
      assert(snap == expected)
      // crash-replay of batch 1 replaces its partition, counts unchanged
      RollupStream.rollupSink(path, "grp", "v")(b1, 1L)
      assert(snap == expected)
      // different split point, fresh store: same resolved rollup
      val path2 = s"$base/partials2"
      RollupStream.rollupSink(path2, "grp", "v")(feed.limit(5), 0L)
      RollupStream.rollupSink(path2, "grp", "v")(feed.except(feed.limit(5)), 1L)
      assert(RollupStream.currentRollup(spark, path2, "grp")
        .orderBy("grp").collect().map(_.toSeq).toSeq == expected)
    } finally deleteRecursively(base)
  }

  test("the AvailableNow host folds a landing feed end-to-end") {
    val base = Files.createTempDirectory("graft-rollup-host")
    try {
      feed.limit(4).coalesce(1).write.parquet(s"$base/landing/p0")
      Thread.sleep(5)
      feed.except(feed.limit(4)).coalesce(1).write.parquet(s"$base/landing/p1")
      StreamHost.run(StreamHost.files(spark, s"$base/landing/*", feed.schema),
        s"$base/work/ckpt")(
        RollupStream.rollupSink(s"$base/work/partials", "grp", "v"))
      assert(RollupStream.currentRollup(spark, s"$base/work/partials", "grp")
        .orderBy("grp").collect().map(_.toSeq).toSeq == expected)
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
