package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sketch.ApproxQuantiles

/** The streamed quantile store must resolve to EXACTLY the one-shot
  * t18 quantiles wherever the batch boundaries fall (grid merge ≡
  * one-shot histogram), and must replace, not re-append, a redelivered
  * batch id.
  */
class QuantileStreamSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("lang"), col("n_chars"))

  private def batchAnswer = ApproxQuantiles
    .quantilesByGroup(docs, "lang", "n_chars")
    .orderBy("lang", "qi").collect().map(_.toSeq).toSeq

  test("streamed quantiles ≡ one-shot across two different splits; replay idempotent") {
    val base = Files.createTempDirectory("graft-qstream")
    try {
      for ((cut, i) <- Seq(0.3, 0.8).zipWithIndex) {
        val path = s"$base/p$i"
        val bound = (cut * 1000).toLong
        val b0 = docs.filter(pmod(col("n_chars"), lit(1000L)) < bound)
        val b1 = docs.filter(pmod(col("n_chars"), lit(1000L)) >= bound)
        QuantileStream.quantileSink(path, "lang", "n_chars")(b0, 0L)
        QuantileStream.quantileSink(path, "lang", "n_chars")(b1, 1L)
        val streamed = QuantileStream.currentQuantiles(spark, path, "lang")
          .orderBy("lang", "qi").collect().map(_.toSeq).toSeq
        assert(streamed == batchAnswer, s"split $cut diverged")
        // replayed batch id replaces its partition bit-for-bit
        QuantileStream.quantileSink(path, "lang", "n_chars")(b1, 1L)
        val replayed = QuantileStream.currentQuantiles(spark, path, "lang")
          .orderBy("lang", "qi").collect().map(_.toSeq).toSeq
        assert(replayed == batchAnswer, "replay must not inflate the grid")
      }
    } finally deleteRecursively(base)
  }

  test("the AvailableNow host accretes a landing stream end-to-end") {
    val base = Files.createTempDirectory("graft-qstream-host")
    try {
      // disjoint by id, duplicates preserved — except() would collapse
      // repeated (lang, n_chars) rows and corrupt the multiset
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$base/landing/p0")
      Thread.sleep(5)
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      StreamHost.run(StreamHost.files(spark, s"$base/landing/*", docs.schema),
        s"$base/work/ckpt")(
        QuantileStream.quantileSink(s"$base/work/partials", "lang", "n_chars"))
      val streamed = QuantileStream
        .currentQuantiles(spark, s"$base/work/partials", "lang")
        .orderBy("lang", "qi").collect().map(_.toSeq).toSeq
      assert(streamed == batchAnswer)
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
