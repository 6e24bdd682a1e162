package graft.tools

import graft.GraftSession
import graft.text.BpeTrainer

/** Measure the local BPE fold at production merge depth on a real
  * corpus vocabulary: collect the sf word-frequency table, fold to the
  * requested depth (args: sfDir, n), print vocab size, depth reached
  * (the census can run dry first), wall time, and the last few merges.
  * This is the measurement behind the README's deep-merge scale story
  * and the depth the BpeTrainerSpec deep test pins.
  */
object BpeDepthProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val n = if (args.length > 1) args(1).toInt else 1000
    val spark = GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val words = BpeTrainer.wordFreqs(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    println(s"[bpe-probe] vocab=${words.size} " +
      s"chars=${words.map(_._1.length.toLong).sum}")
    val t0 = System.nanoTime()
    val (reached, merges) =
      try (n, BpeTrainer.trainFromWordFreqs(words, n))
      catch {
        case e: IllegalArgumentException if e.getMessage.contains("ran dry") =>
          // binary-search-free fallback: the message carries the round
          val r = "round (\\d+)".r.findFirstMatchIn(e.getMessage)
            .map(_.group(1).toInt - 1).getOrElse(0)
          (r, BpeTrainer.trainFromWordFreqs(words, math.max(1, r)))
      }
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[bpe-probe] depth=$reached%d of $n%d requested in $secs%.1f s")
    println(s"[bpe-probe] tail=${merges.takeRight(3)}")
    spark.stop()
  }
}
