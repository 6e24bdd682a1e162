package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sketch.Sketch

/** The streamed register store must resolve to EXACTLY the one-shot
  * per-group HLL estimate wherever the batch boundaries fall (register
  * merge = cell-wise max), and — uniquely in the streaming layer —
  * must survive replay even WITHOUT the batch_id overwrite guard,
  * because max is idempotent.
  */
class HllStreamSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("lang"), col("text"))

  private def batchAnswer = Sketch
    .hllEstimateByGroup(docs, Seq("lang"), "text")
    .orderBy("lang").collect().map(_.toSeq).toSeq

  test("streamed estimates ≡ one-shot across two different splits; replay idempotent") {
    val base = Files.createTempDirectory("graft-hllstream")
    try {
      for ((m, i) <- Seq(3L, 7L).zipWithIndex) {
        val path = s"$base/p$i"
        val b0 = docs.filter(col("doc_id") % m === 0)
        val b1 = docs.filter(col("doc_id") % m =!= 0)
        HllStream.hllSink(path, "lang", "text")(b0, 0L)
        HllStream.hllSink(path, "lang", "text")(b1, 1L)
        val streamed = HllStream.currentEstimates(spark, path, "lang")
          .orderBy("lang").collect().map(_.toSeq).toSeq
        assert(streamed == batchAnswer, s"split %$m diverged")
        // replay under a FRESH batch id: the overwrite guard does not
        // fire, duplicate register rows land — and the grouped max
        // still resolves identically (idempotent algebra)
        HllStream.hllSink(path, "lang", "text")(b1, 2L)
        val replayed = HllStream.currentEstimates(spark, path, "lang")
          .orderBy("lang").collect().map(_.toSeq).toSeq
        assert(replayed == batchAnswer,
          "max-merge must absorb a re-delivered batch even under a new id")
      }
    } finally deleteRecursively(base)
  }

  test("the AvailableNow host accretes a landing stream end-to-end") {
    val base = Files.createTempDirectory("graft-hllstream-host")
    try {
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$base/landing/p0")
      Thread.sleep(5)
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      val batches = StreamHost.run(
        StreamHost.files(spark, s"$base/landing/*", docs.schema),
        s"$base/work/ckpt")(
        HllStream.hllSink(s"$base/work/partials", "lang", "text"))
      // the shared file source reads ONE file per micro-batch — the
      // batch boundaries the funnel, attribution and curation specs
      // split on
      assert(batches == 2, s"2 landed files ran as $batches micro-batches")
      val streamed = HllStream
        .currentEstimates(spark, s"$base/work/partials", "lang")
        .orderBy("lang").collect().map(_.toSeq).toSeq
      assert(streamed == batchAnswer)
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
