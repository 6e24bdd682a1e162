package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.queries.Tables
import graft.similarity.{Similarity, VecIndex}

/** Price the serving store's DISCOVERY lever before anyone proposes
  * re-gating it (the PqLadderProbe/GraphRecallProbe discipline): s30
  * measured that the PQ tier + exact re-rank lose NOTHING on
  * discovered candidates — end recall ≡ the 8-band discovery's 63%
  * (sf1) — so the only lever that moves the composite is the band
  * count fixed at store-write time. For each requested band count
  * this builds a throwaway store + m=16,k=256 sidecar, runs the exact
  * s30 measurement (1-in-20 organic probes, exact top-5 truth,
  * 50-deep shortlist, exact re-rank), and prints recall@5,
  * shortlist recall, the bands/ row count (the storage/shuffle cost
  * that scales linearly with bands at 100 TB), and wall.
  *
  * Args: sfDir, then band counts (default 8 16 24).
  */
object StoreBandProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val bandCounts =
      if (args.length > 1) args.drop(1).toSeq.map(_.toInt)
      else Seq(8, 16, 24)
    val spark = GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val bits = Similarity.scaledBits(emb.count())
    val baseQ = emb.select(col("vec_id").as("query_id"),
        Similarity.quantize(col("embedding")).as("qv"))
      .localCheckpoint(eager = true)
    val exact = Similarity.topKFromQuantized(
        baseQ.filter(col("query_id") % 20 === 0),
        baseQ.select(col("query_id").as("neighbor_id"),
          col("qv").as("cv")), 5)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = true)
    bandCounts.foreach { bands =>
      val t0 = System.nanoTime()
      val path = java.nio.file.Files
        .createTempDirectory("graft-bandprobe").toString + "/vidx"
      VecIndex.writeVecIndex(emb, "vec_id", "embedding", path,
        bands = bands, bitsPerBand = bits, nBuckets = 64)
      VecIndex.writePqSidecar(spark, path, m = 16, kCodes = 256,
        iterations = 2, trainMod = 5L)
      val bandRows = spark.read.parquet(s"$path/bands").count()
      val got = VecIndex.annProbeVecIndex(spark,
          emb.filter(col("vec_id") % 20 === 0), "vec_id", "embedding",
          path, shortlist = 50)
        .select(col("query_id"), col("neighbor_id"),
          when(col("rank") <= 5, 1L).otherwise(0L).as("__topk"),
          lit(1L).as("__short"))
      val r = exact
        .join(got, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("__topk")), lit(0L)).as("h"),
          coalesce(sum(col("__short")), lit(0L)).as("hs"))
        .head()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[band-probe] bands=$bands%2d bits=$bits " +
        f"recall5=${r.getLong(1) * 100.0 / r.getLong(0)}%.1f%% " +
        f"short50=${r.getLong(2) * 100.0 / r.getLong(0)}%.1f%% " +
        f"bandRows=$bandRows wall=$wall%.1f s")
      org.apache.hadoop.fs.FileUtil.fullyDelete(
        java.nio.file.Paths.get(path).getParent.toFile)
    }
    spark.stop()
  }
}
