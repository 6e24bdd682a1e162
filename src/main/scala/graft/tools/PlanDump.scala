package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Prints the formatted physical plan of selected queries — the
  * plan-review loop: check PushedFilters, broadcast choices, and
  * WholeStageCodegen spans before trusting a query at scale.
  *
  * Besides query names it prints `banding`: the banding frame itself,
  * which query plans hide behind the similarity layer's localCheckpoint
  * (they show only `Scan ExistingRDD`), so this is the one place to see
  * which expression computes the buckets (the fused
  * [[graft.functions.BandSignBuckets]]).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = if (args.isEmpty) Seq("q3_top_revenue", "j1_insert_only_merge")
      else args.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(4, 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      val df = if (n == "banding") banding(spark, sfDir)
        else graft.SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
    }
    spark.stop()
  }

  /** The banded sign-bucket frame over the embeddings (bands=24). */
  private def banding(spark: SparkSession, sfDir: String): DataFrame = {
    val qdf = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        graft.similarity.Similarity.quantize(col("embedding")).as("qv"))
    graft.similarity.Similarity
      .bandedSignBucketsQ(qdf, "id", "qv", bands = 24, bitsPerBand = 9)
  }
}
