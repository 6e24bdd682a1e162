package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sketch.Drift

/** The streamed drift store must resolve to EXACTLY the one-shot t48
  * PSI wherever the batch boundaries fall (count grids sum cell-wise),
  * and must replace, not re-append, a redelivered batch id.
  */
class DriftStreamSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("source"), col("n_chars"))

  private def batchAnswer = Drift
    .psiByGroup(docs, "source", col("n_chars"))
    .orderBy("source").collect().map(_.toSeq).toSeq

  test("streamed PSI ≡ one-shot across two different splits; replay idempotent") {
    val base = Files.createTempDirectory("graft-driftstream")
    try {
      for ((cut, i) <- Seq(0.3, 0.8).zipWithIndex) {
        val path = s"$base/p$i"
        val bound = (cut * 1000).toLong
        val b0 = docs.filter(pmod(col("doc_id"), lit(1000L)) < bound)
        val b1 = docs.filter(pmod(col("doc_id"), lit(1000L)) >= bound)
        DriftStream.driftSink(path, "source", "n_chars")(b0, 0L)
        DriftStream.driftSink(path, "source", "n_chars")(b1, 1L)
        val streamed = DriftStream.currentPsi(spark, path, "source")
          .orderBy("source").collect().map(_.toSeq).toSeq
        assert(streamed == batchAnswer, s"split $cut diverged")
        // replayed batch id replaces its partition bit-for-bit
        DriftStream.driftSink(path, "source", "n_chars")(b1, 1L)
        val replayed = DriftStream.currentPsi(spark, path, "source")
          .orderBy("source").collect().map(_.toSeq).toSeq
        assert(replayed == batchAnswer, "replay must not inflate the grid")
      }
    } finally deleteRecursively(base)
  }

  test("the AvailableNow host accretes a landing stream end-to-end") {
    val base = Files.createTempDirectory("graft-driftstream-host")
    try {
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$base/landing/p0")
      Thread.sleep(5)
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      StreamHost.run(StreamHost.files(spark, s"$base/landing/*", docs.schema),
        s"$base/work/ckpt")(
        DriftStream.driftSink(s"$base/work/partials", "source", "n_chars"))
      val streamed = DriftStream
        .currentPsi(spark, s"$base/work/partials", "source")
        .orderBy("source").collect().map(_.toSeq).toSeq
      assert(streamed == batchAnswer)
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
