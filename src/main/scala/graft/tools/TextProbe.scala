package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.text.TextAnalysis
import graft.queries.Tables

/** Dev probe: time individual t_text_stats components to find the hot
  * expression (best of 3, noop sink) — deleted once the regression is
  * understood.
  */
object TextProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, sfDir, "documents")
    val width = 32
    def base = docs.repartitionByRange(width, col("doc_id"))
    val variants: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "scan_only" -> docs.select(col("doc_id")),
      "scan_text" -> docs.select(col("doc_id"), length(col("text")).as("l")),
      "shuffle_only" -> base.select(col("doc_id"), length(col("text")).as("l")),
      "tokens" -> base.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("c")),
      "subwords" -> base.select(col("doc_id"), TextAnalysis.subwordCount(col("text")).as("c")),
      "punct" -> base.select(col("doc_id"), TextAnalysis.punctCount(col("text")).as("c")),
      "quality" -> base.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("c")),
      "langid" -> base.select(col("doc_id"), TextAnalysis.langId(col("text")).as("c")),
      "fingerprint" -> base.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("c")),
      "md5" -> base.select(col("doc_id"), TextAnalysis.contentHash(col("text")).as("c")),
      "full_no_sort" -> base.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        TextAnalysis.contentHash(col("text")).as("content_hash"))
    )
    variants.foreach { case (n, df) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $n%-14s best=${times.min}%.3f runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
