package graft.tools

import graft.GraftSession
import graft.queries.Tables
import graft.similarity.Similarity

/** Price the remaining product-quantization operating points before
  * anyone proposes gating one (the GraphRecallProbe discipline: the
  * trade must be a number before it is a decision). Args: sfDir, then
  * `m:kCodes:trainMod` triples. For each point this runs the exact
  * s27/s28 measurement shape ([[Similarity.pqRecallAudit]] — integer
  * Lloyd, ADC through the codegen'd native dot, rank-k fidelity AND
  * shortlist-recall vs exact cosine on the 1-in-20 sample) and prints
  * mean recall_ppm, mean short_recall_ppm, bytes/vector, and wall.
  *
  * Context the numbers land in: int8 = 64 B/vector at 94.5% sf1 store
  * recall (s26); m=8,k=16 = 4 B at 5.0%/22.2% sf1 (s27, the cliff);
  * m=8,k=256 = 8 B at 21.7%/61.9% sf1 (s28, closes the ladder). The
  * open candidates this probe prices are m=16,k=256 (16 B — twice the
  * subspaces halve what each codeword must model) and any other
  * (m, k) a future round wants costed.
  */
object PqLadderProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val points =
      if (args.length > 1) args.drop(1).toSeq.map { s =>
        val Array(m, k, tm) = s.split(":"); (m.toInt, k.toInt, tm.toLong)
      }
      else Seq((8, 16, 1L), (8, 256, 5L), (16, 256, 5L), (16, 16, 1L))
    val spark = GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.load(spark, sfDir, "embeddings")
    points.foreach { case (m, kCodes, trainMod) =>
      val t0 = System.nanoTime()
      val out = Similarity.pqRecallAudit(emb, "vec_id", "embedding",
          m = m, kCodes = kCodes, iterations = 2, k = 5, sampleMod = 20L,
          trainMod = trainMod)
        .selectExpr("avg(recall_ppm) AS r", "avg(short_recall_ppm) AS s",
          "count(*) AS n")
        .head()
      val wall = (System.nanoTime() - t0) / 1e9
      // storage cost of a code: ceil(log2(kCodes)) bits per subspace
      // index — correct for any kCodes, not just the 4-bit/1-byte ends
      val bits = 32 - Integer.numberOfLeadingZeros(math.max(1, kCodes - 1))
      val bytes = m * bits / 8.0
      println(f"[pq-probe] m=$m%2d k=$kCodes%3d trainMod=$trainMod " +
        f"bytes/vec=$bytes%.1f rank5=${out.getDouble(0) / 10000}%.1f%% " +
        f"short50=${out.getDouble(1) / 10000}%.1f%% " +
        f"n=${out.getLong(2)} wall=$wall%.1f s")
    }
    spark.stop()
  }
}
