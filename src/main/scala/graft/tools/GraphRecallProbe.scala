package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.queries.Tables
import graft.similarity.Similarity

/** Measure s17's k-NN graph recall@5 as a function of the `bands`
  * lever (args: sfDir, then a list of band counts): for each bands
  * value, build the graph on the 1-in-20 node sample's candidate lists
  * and score against the exact brute-force top-5 — the s22 metric.
  * This is the measurement behind the graph build's bands choice: the
  * verdict's documented escalation lever, priced here as mean
  * recall@5 vs wall time so the trade is a number, not a guess.
  */
object GraphRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val bandsList =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(8, 12, 16)
    val spark = GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val bits = Similarity.scaledBits(Tables.rowCount(spark, sfDir, "embeddings"))
    val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 20 === 0), emb, "vec_id", "embedding", 5)
      .select(col("query_id").as("node_id"), col("neighbor_id"))
      .localCheckpoint()
    bandsList.foreach { bands =>
      val t0 = System.nanoTime()
      val graph = Similarity.knnGraphBanded(emb, "vec_id", "embedding",
          k = 5, bands = bands, bitsPerBand = bits, probe1 = true)
        .filter(col("node_id") % 20 === 0)
      val row = exact
        .join(graph.select(col("node_id"), col("neighbor_id"))
            .withColumn("hit", lit(1L)),
          Seq("node_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("hits"))
        .collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val (n, h) = (row.getLong(0), row.getLong(1))
      println(f"[graph-recall] bands=$bands%2d bits=$bits " +
        f"recall@5=${h * 100.0 / n}%.1f%% ($h/$n) wall=$sec%.1fs")
    }
    spark.stop()
  }
}
