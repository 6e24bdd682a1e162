package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The crash WINDOW (not just clean redelivery) for every partial-store
  * streaming sink: the sink's dynamic `batch_id=` overwrite
  * ([[StreamHost.overwriteBatch]]) can be interrupted mid-write, leaving
  * a torn partition — some of the batch's files on disk, some lost.
  * foreachBatch then redelivers the batch. The contract under test: one
  * replayed sink call REPLACES the torn partition wholesale and the
  * resolved state equals a never-crashed run — for each of the nine
  * sinks that claim it (quantiles, HLL, heavy hitters, drift, DSIR,
  * rollup, Naive Bayes, decontamination, scorecard). The funnel's own
  * crash window (a _wm sidecar) has its own spec in FunnelStreamSpec.
  */
class TornWriteReplaySpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  /** Delete the largest data file of `store/batch_id=<id>` — the torn
    * write: the batch committed some files, lost others. Returns how
    * many data files remain.
    */
  private def tear(store: String, id: Long): Long = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(store, s"batch_id=$id")
    val files = scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.toSeq)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.nonEmpty, s"no data files in $dir to tear")
    Files.delete(files.maxBy(Files.size))
    files.size - 1L
  }

  /** The shared scenario: 3 clean batches = reference; fresh store with
    * batch 2 torn then replayed must resolve identically.
    */
  private def scenario(
      sink: String => (org.apache.spark.sql.DataFrame, Long) => Unit,
      resolve: String => Seq[String],
      batches: Seq[org.apache.spark.sql.DataFrame],
      tornMustChangeResolution: Boolean): Unit = {
    val base = Files.createTempDirectory("graft-torn")
    try {
      val clean = s"$base/clean"
      batches.zipWithIndex.foreach { case (b, i) => sink(clean)(b, i.toLong) }
      val want = resolve(clean)

      val torn = s"$base/torn"
      batches.zipWithIndex.foreach { case (b, i) => sink(torn)(b, i.toLong) }
      tear(torn, 2L)
      if (tornMustChangeResolution)
        assert(resolve(torn) != want,
          "the tear must be observable pre-replay, or this test has no teeth")
      sink(torn)(batches(2), 2L) // foreachBatch redelivery
      assert(resolve(torn) == want,
        "replay after a torn write must equal the never-crashed run")
    } finally deleteRecursively(base)
  }

  test("quantile store: torn batch partition + replay ≡ clean run") {
    val d = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    scenario(
      p => QuantileStream.quantileSink(p, "lang", "n_chars"),
      p => QuantileStream.currentQuantiles(spark, p, "lang")
        .orderBy("lang", "qi").collect().map(_.toString).toSeq,
      Seq(0, 1, 2).map(i => d.filter(col("doc_id") % 3 === i)),
      tornMustChangeResolution = true)
  }

  test("HLL register store: torn batch partition + replay ≡ clean run") {
    val d = docs.select(col("doc_id"), col("lang"), col("text"))
    // max-merge can absorb a tear in the RESOLVED estimate (registers
    // duplicated across batches), so teeth are asserted on the store
    // itself inside the scenario via the replay contract only
    scenario(
      p => HllStream.hllSink(p, "lang", "text"),
      p => HllStream.currentEstimates(spark, p, "lang")
        .orderBy("lang").collect().map(_.toString).toSeq,
      Seq(0, 1, 2).map(i => d.filter(col("doc_id") % 3 === i)),
      tornMustChangeResolution = false)
  }

  test("heavy-hitter store: torn batch partition + replay ≡ clean run") {
    val d = docs.select(col("doc_id"), col("lang"))
    scenario(
      p => HeavyHitterStream.mgSink(p, "lang"),
      p => HeavyHitterStream.currentHitters(spark, p)
        .collect().map(_.toString).toSeq,
      Seq(0, 1, 2).map(i => d.filter(col("doc_id") % 3 === i)),
      tornMustChangeResolution = true)
  }

  test("drift store: torn batch partition + replay ≡ clean run") {
    val d = docs.select(col("doc_id"), col("source"), col("n_chars"))
    scenario(
      p => DriftStream.driftSink(p, "source", "n_chars"),
      p => DriftStream.currentPsi(spark, p, "source")
        .orderBy("source").collect().map(_.toString).toSeq,
      Seq(0, 1, 2).map(i => d.filter(col("doc_id") % 3 === i)),
      tornMustChangeResolution = true)
  }

  test("DSIR distribution store: torn batch partition + replay ≡ clean run") {
    val d = docs.select(col("doc_id"), col("lang"), col("text"))
    scenario(
      p => DsirStream.dsirSink(p, "doc_id", "text", "lang = 'en'", 256),
      p => DsirStream.currentSurprisals(spark, p)
        .orderBy("b").collect().map(_.toString).toSeq,
      Seq(0, 1, 2).map(i => d.filter(col("doc_id") % 3 === i)),
      tornMustChangeResolution = true)
  }

  test("rollup store: torn batch partition + replay ≡ clean run") {
    val feed = Seq(
      ("I", "a", 10L, null, null),
      ("I", "a", 20L, null, null),
      ("I", "b", 5L, null, null),
      ("U", "b", 25L, "a", 20L),
      ("D", null, null, "b", 5L),
      ("I", "c", 7L, null, null)
    ).asInstanceOf[Seq[(String, String, java.lang.Long, String, java.lang.Long)]]
      .toDF("op", "grp", "v", "old_grp", "old_v")
      .withColumn("rn", monotonically_increasing_id())
    val batches = Seq(
      feed.filter(col("rn") < 2), feed.filter(col("rn") >= 2 && col("rn") < 4),
      feed.filter(col("rn") >= 4)).map(_.drop("rn"))
    scenario(
      p => RollupStream.rollupSink(p, "grp", "v"),
      p => RollupStream.currentRollup(spark, p, "grp")
        .orderBy("grp").collect().map(_.toString).toSeq,
      batches,
      tornMustChangeResolution = true)
  }

  test("Naive Bayes model store: torn batch partition + replay ≡ clean run") {
    val d = docs.select(col("doc_id"), col("lang"), col("text"))
    scenario(
      p => NbStream.nbSink(p, "lang", "text", 1024),
      p => {
        val (counts, labels) = NbStream.currentModel(spark, p)
        (counts.orderBy("label", "bucket").collect() ++
          labels.orderBy("label").collect()).map(_.toString).toSeq
      },
      Seq(0, 1, 2).map(i => d.filter(col("doc_id") % 3 === i)),
      tornMustChangeResolution = true)
  }

  test("decontamination ledger: torn batch partition + replay ≡ clean run") {
    // the sf0.001 embeddings table sits next to the documents table
    val emb = spark.read.parquet(docs.inputFiles.head
        .replace("documents.parquet", "embeddings.parquet"))
      .select(col("vec_id"), col("embedding"))
    val evalSide = emb.filter(col("vec_id") % 17 === 0)
    scenario(
      p => DecontamStream.decontamSink(p, evalSide, "vec_id", "embedding",
        400000L),
      p => DecontamStream.contaminationLedger(spark, p)
        .orderBy("eval_id", "corpus_id").collect().map(_.toString).toSeq,
      Seq(0, 1, 2).map(i => emb.filter(col("vec_id") % 3 === i)),
      tornMustChangeResolution = true)
  }

  test("scorecard store: torn batch partition + replay ≡ clean run") {
    val d = docs.select(col("doc_id"), col("source"), col("lang"),
      col("text"))
    scenario(
      p => ScorecardStream.scorecardSink(p),
      p => ScorecardStream.currentScorecard(spark, p)
        .orderBy("source").collect().map(_.toString).toSeq,
      Seq(0, 1, 2).map(i => d.filter(col("doc_id") % 3 === i)),
      tornMustChangeResolution = true)
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.toSeq).reverse.foreach(Files.delete)
  }
}
