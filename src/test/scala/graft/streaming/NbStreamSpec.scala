package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.NbLang

/** The accreted NB model store must classify EXACTLY like the one-shot
  * batch fit wherever the batch boundaries fall (count grids and
  * priors sum cell-wise), and must replace, not re-append, a
  * redelivered batch id.
  */
class NbStreamSpec extends SparkSpec {

  private val buckets = 1024

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("lang"), col("text"))

  private def batchAnswer = {
    val counts = NbLang.trainCounts(docs, "lang", "text", buckets)
    val labels = NbLang.labelStats(docs, "lang", counts)
    NbLang.predict(docs, "doc_id", "text", counts, labels, buckets)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
  }

  test("accreted model classifies ≡ one-shot fit across splits; replay idempotent") {
    val base = Files.createTempDirectory("graft-nbstream")
    try {
      for ((cut, i) <- Seq(0.3, 0.8).zipWithIndex) {
        val path = s"$base/p$i"
        val bound = (cut * 1000).toLong
        val b0 = docs.filter(pmod(col("doc_id"), lit(1000L)) < bound)
        val b1 = docs.filter(pmod(col("doc_id"), lit(1000L)) >= bound)
        NbStream.nbSink(path, "lang", "text", buckets)(b0, 0L)
        NbStream.nbSink(path, "lang", "text", buckets)(b1, 1L)
        val streamed = NbStream.classifyAgainstStore(spark, path, docs,
            "doc_id", "text", buckets)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
        assert(streamed == batchAnswer, s"split $cut diverged")
        // redelivered batch id replaces its partition, never doubles it
        NbStream.nbSink(path, "lang", "text", buckets)(b1, 1L)
        val replayed = NbStream.classifyAgainstStore(spark, path, docs,
            "doc_id", "text", buckets)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
        assert(replayed == batchAnswer, "replay must not inflate counts")
      }
    } finally deleteRecursively(base)
  }

  test("the AvailableNow host accretes a labeled landing stream end-to-end") {
    val base = Files.createTempDirectory("graft-nbstream-host")
    try {
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$base/landing/p0")
      Thread.sleep(5)
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      StreamHost.run(StreamHost.files(spark, s"$base/landing/*", docs.schema),
        s"$base/work/ckpt")(
        NbStream.nbSink(s"$base/work/partials", "lang", "text", buckets))
      val streamed = NbStream.classifyAgainstStore(spark,
          s"$base/work/partials", docs, "doc_id", "text", buckets)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamed == batchAnswer)
    } finally deleteRecursively(base)
  }

  test("priors ride the store: a label seen only in batch 0 still predicts") {
    val base = Files.createTempDirectory("graft-nbstream-prior")
    try {
      import spark.implicits._
      val path = s"$base/p"
      val b0 = Seq((1L, "zz", "zebra yak zebra"), (2L, "zz", "yak"))
        .toDF("doc_id", "lang", "text")
      val b1 = Seq((3L, "aa", "apple banana"))
        .toDF("doc_id", "lang", "text")
      NbStream.nbSink(path, "lang", "text", buckets)(b0, 0L)
      NbStream.nbSink(path, "lang", "text", buckets)(b1, 1L)
      val got = NbStream.classifyAgainstStore(spark, path,
          Seq((9L, "zebra zebra")).toDF("doc_id", "text"),
          "doc_id", "text", buckets)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(9L) == "zz")
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
