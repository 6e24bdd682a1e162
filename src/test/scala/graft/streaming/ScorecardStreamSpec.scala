package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The streamed per-source scorecard (mergeable partials accreted over
  * micro-batches) must equal the batch t27 scorecard on the same corpus
  * — including the distinct-content count, which is exact while each
  * source holds fewer than K distinct contents (the documented regime;
  * the test corpus is far below it and free of 40-bit hash collisions).
  */
class ScorecardStreamSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed scorecard ≡ batch t27 across 3 micro-batches; replay idempotent") {
    val base = Files.createTempDirectory("graft-scorecard")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.write.parquet(s"$base/table/documents.parquet")
      for (i <- 0 to 2) {
        docs.filter(col("doc_id") % 3 === i).coalesce(1)
          .write.parquet(s"$base/landing/p$i")
        Thread.sleep(5)
      }
      StreamHost.run(StreamHost.files(spark, s"$base/landing/*", docs.schema),
        s"$base/work/ckpt")(
        ScorecardStream.scorecardSink(s"$base/work/partials"))

      def snap = ScorecardStream
        .currentScorecard(spark, s"$base/work/partials")
        .select("source", "n_docs", "n_langs", "distinct_contents",
          "sum_quality", "pii_hits", "dup_ppm", "qual_mean_milli")
        .orderBy("source").collect().map(_.toString).toSeq
      val streamed = snap
      val batch = graft.queries.PipelineQueries.t27SourceScorecard
        .fn(spark, s"$base/table")
        .select("source", "n_docs", "n_langs", "distinct_contents",
          "sum_quality", "pii_hits", "dup_ppm", "qual_mean_milli")
        .orderBy("source").collect().map(_.toString).toSeq
      assert(streamed == batch,
        s"streamed:\n${streamed.take(3).mkString("\n")}\nbatch:\n${batch.take(3).mkString("\n")}")

      // crash-replay of the last batch id replaces its own partition
      val lastBatch = docs.filter(col("doc_id") % 3 === 2)
      ScorecardStream.scorecardSink(s"$base/work/partials")(lastBatch, 2L)
      assert(snap == streamed, "replayed batch must replace, not re-append")
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(base))(
        _.iterator().asScala.toSeq).reverse.foreach(Files.delete)
    }
  }

  test("above-K regime: estimate stays within the KMV error envelope, clamped, non-negative dup_ppm") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-scorecard-abovek")
    try {
      // ONE source with 2000 distinct contents (≫ K=256) plus 400 exact
      // dups — the regime where the resolved count is the (K−1)·U/h_K
      // ESTIMATE, not the exact sketch size. The draw is deterministic
      // (md5 hashes), so the envelope assertion is stable.
      val nDistinct = 2000
      val docs = ((1 to nDistinct).map(i => (s"src", "en", s"unique document body number $i")) ++
        (1 to 400).map(i => ("src", "en", s"unique document body number ${i % 40 + 1}")))
        .toDF("source", "lang", "text")
      val store = s"$base/partials"
      // accrete across 3 batches through the real sink
      val rows = docs.collect()
      Seq(0, 1, 2).foreach { b =>
        val slice = rows.zipWithIndex.collect { case (r, i) if i % 3 == b => r }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toSeq), docs.schema)
        ScorecardStream.scorecardSink(store)(df, b.toLong)
      }
      val row = ScorecardStream.currentScorecard(spark, store)
        .collect().head
      val nDocs = row.getAs[Long]("n_docs")
      val est = row.getAs[Long]("distinct_contents")
      assert(nDocs == nDistinct + 400L)
      // KMV relative error σ ≈ 1/√(K−2) ≈ 6.3%; 3σ ≈ 19% — the
      // documented degradation bound for the above-K regime
      val rel = math.abs(est - nDistinct.toDouble) / nDistinct
      assert(rel < 0.19, s"estimate $est vs true $nDistinct (rel $rel)")
      assert(est <= nDocs, "clamp: estimate must never exceed the doc count")
      assert(row.getAs[Long]("dup_ppm") >= 0L, "dup_ppm must stay non-negative")
      // replay while above K is still idempotent (partition overwrite)
      val snap1 = ScorecardStream.currentScorecard(spark, store)
        .collect().map(_.toString).toSeq
      val slice2 = rows.zipWithIndex.collect { case (r, i) if i % 3 == 2 => r }
      ScorecardStream.scorecardSink(store)(
        spark.createDataFrame(spark.sparkContext.parallelize(slice2.toSeq),
          docs.schema), 2L)
      val snap2 = ScorecardStream.currentScorecard(spark, store)
        .collect().map(_.toString).toSeq
      assert(snap2 == snap1, "above-K replay must replace, not re-append")
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(base))(
        _.iterator().asScala.toSeq).reverse.foreach(Files.delete)
    }
  }
}
