package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sampling.Dsir

/** The accreted DSIR distribution store must score documents EXACTLY
  * like the one-shot batch fit wherever the batch boundaries fall
  * (bucket grids sum cell-wise), and must replace, not re-append, a
  * redelivered batch id.
  */
class DsirStreamSpec extends SparkSpec {

  private val buckets = 256

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("lang"), col("text"))

  private def batchAnswer = Dsir
    .importanceWeights(docs, "doc_id", "text", col("lang") === "en",
      buckets)
    .orderBy("doc_id").collect().map(_.toSeq).toSeq

  test("accreted store scores ≡ one-shot batch fit across two splits; replay idempotent") {
    val base = Files.createTempDirectory("graft-dsirstream")
    try {
      for ((cut, i) <- Seq(0.3, 0.8).zipWithIndex) {
        val path = s"$base/p$i"
        val bound = (cut * 1000).toLong
        val b0 = docs.filter(pmod(col("doc_id"), lit(1000L)) < bound)
        val b1 = docs.filter(pmod(col("doc_id"), lit(1000L)) >= bound)
        DsirStream.dsirSink(path, "doc_id", "text", "lang = 'en'",
          buckets)(b0, 0L)
        DsirStream.dsirSink(path, "doc_id", "text", "lang = 'en'",
          buckets)(b1, 1L)
        val streamed = DsirStream.scoreAgainstStore(spark, path, docs,
            "doc_id", "text", buckets)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
        assert(streamed == batchAnswer, s"split $cut diverged")
        // replayed batch id replaces its partition bit-for-bit
        DsirStream.dsirSink(path, "doc_id", "text", "lang = 'en'",
          buckets)(b1, 1L)
        val replayed = DsirStream.scoreAgainstStore(spark, path, docs,
            "doc_id", "text", buckets)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
        assert(replayed == batchAnswer, "replay must not inflate counts")
      }
    } finally deleteRecursively(base)
  }

  test("the AvailableNow host accretes a landing stream end-to-end") {
    val base = Files.createTempDirectory("graft-dsirstream-host")
    try {
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$base/landing/p0")
      Thread.sleep(5)
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      StreamHost.run(StreamHost.files(spark, s"$base/landing/*", docs.schema),
        s"$base/work/ckpt")(DsirStream.dsirSink(s"$base/work/partials",
        "doc_id", "text", "lang = 'en'", buckets))
      val streamed = DsirStream.scoreAgainstStore(spark,
          s"$base/work/partials", docs, "doc_id", "text", buckets)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamed == batchAnswer)
    } finally deleteRecursively(base)
  }

  test("out-of-register docs are distinguishable from gramless ones (n_unseen)") {
    val base = Files.createTempDirectory("graft-dsirstream-unseen")
    try {
      import spark.implicits._
      val path = s"$base/p"
      val history = Seq((1L, "alpha beta gamma alpha", "en"))
        .toDF("doc_id", "text", "lang")
      DsirStream.dsirSink(path, "doc_id", "text", "lang = 'en'",
        buckets)(history, 0L)
      // 10: in-register (every bigram seen); 11: disjoint vocabulary
      // (bigrams hash into buckets the store never observed); 12: gramless
      val newDocs = Seq((10L, "alpha beta gamma"),
        (11L, "uno dos tres"), (12L, "solo")).toDF("doc_id", "text")
      val out = DsirStream.scoreAgainstStore(spark, path, newDocs,
          "doc_id", "text", buckets)
        .orderBy("doc_id").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("weight"), r.getAs[Long]("n_bigrams"),
            r.getAs[Long]("n_unseen"))).toMap
      assert(out(10L)._3 == 0L, s"in-register doc has no unseen mass: $out")
      assert(out(11L)._2 == 2L && out(11L)._3 > 0L,
        s"out-of-register grams must surface as n_unseen, not vanish: $out")
      assert(out(12L) == ((0L, 0L, 0L)), "gramless stays all-zero")
      assert(out(11L)._2 > 0L && out(12L)._2 == 0L,
        "the two zero-weight cases are distinguishable")
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
