package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.Similarity

/** The decontamination ledger must equal a one-shot s21 scan over
  * everything ingested, wherever the batch boundaries fall (each
  * corpus row's verdict is independent of its batch), and a
  * redelivered batch must replace its partition, not double the
  * pairs.
  */
class DecontamStreamSpec extends SparkSpec {

  private val threshold = 400000L

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  // the benchmark side: small by construction (1-in-17 of the corpus)
  private def evalSide = emb.filter(col("vec_id") % 17 === 0)

  private def batchAnswer = Similarity
    .exactNearPairsAsym(evalSide, emb, "vec_id", "embedding", threshold)
    .orderBy("eval_id", "corpus_id")
    .collect().map(_.toSeq.take(3)).toSeq

  test("accreted ledger ≡ one-shot scan across two splits; replay idempotent") {
    val base = Files.createTempDirectory("graft-decontam")
    try {
      for ((bound, i) <- Seq(300L, 800L).zipWithIndex) {
        val path = s"$base/p$i"
        val b0 = emb.filter(pmod(col("vec_id"), lit(1000L)) < bound)
        val b1 = emb.filter(pmod(col("vec_id"), lit(1000L)) >= bound)
        DecontamStream.decontamSink(path, evalSide, "vec_id",
          "embedding", threshold)(b0, 0L)
        DecontamStream.decontamSink(path, evalSide, "vec_id",
          "embedding", threshold)(b1, 1L)
        val streamed = DecontamStream.contaminationLedger(spark, path)
          .orderBy("eval_id", "corpus_id")
          .collect().map(_.toSeq).toSeq
        assert(streamed == batchAnswer, s"split at $bound diverged")
        DecontamStream.decontamSink(path, evalSide, "vec_id",
          "embedding", threshold)(b1, 1L)
        val replayed = DecontamStream.contaminationLedger(spark, path)
          .orderBy("eval_id", "corpus_id")
          .collect().map(_.toSeq).toSeq
        assert(replayed == batchAnswer, "replay must not duplicate pairs")
      }
    } finally deleteRecursively(base)
  }

  test("the AvailableNow host scans a landing stream end-to-end") {
    val base = Files.createTempDirectory("graft-decontam-host")
    try {
      emb.filter(col("vec_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$base/landing/p0")
      Thread.sleep(5)
      emb.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      StreamHost.run(StreamHost.files(spark, s"$base/landing/*", emb.schema),
        s"$base/work/ckpt")(DecontamStream.decontamSink(s"$base/work/ledger",
        evalSide, "vec_id", "embedding", threshold))
      val streamed = DecontamStream.contaminationLedger(spark,
          s"$base/work/ledger")
        .orderBy("eval_id", "corpus_id")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batchAnswer)
      val flagged = DecontamStream.contaminatedIds(spark,
        s"$base/work/ledger").collect().map(_.getLong(0)).toSet
      assert(flagged == batchAnswer.map(_(1).asInstanceOf[Long]).toSet,
        "the prune list is the distinct corpus side of the ledger")
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }
}
