package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.Curation

/** The streamed curation funnel (store-backed dedup over micro-batches)
  * must report the SAME four-stage counts as the batch t16 funnel on the
  * same corpus — batch/streaming parity for the whole selection
  * pipeline, not just the dedup stage.
  */
class CurationFunnelStreamSpec extends SparkSpec {

  test("streamed funnel counts ≡ batch funnel, with cross-batch duplicates") {
    val base = Files.createTempDirectory("graft-cfunnel")
    try {
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      // heavy cross-batch duplication: a fifth of the corpus re-lands in
      // a LATER batch under fresh ids — same text, so same content_hash
      // and same signals; the streamed first-wins keeper then differs
      // from the batch min-id keeper, and the stage counts must still
      // agree (the equivalence Curation.funnelSink documents)
      val dup = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val corpus = docs.unionByName(dup)
      corpus.write.parquet(s"$base/table/documents.parquet")

      // three landing slices → ≥3 micro-batches, one file per batch
      docs.filter(col("doc_id") < 300).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      docs.filter(col("doc_id") >= 300).coalesce(1)
        .write.parquet(s"$base/landing/p2")
      dup.coalesce(1).write.parquet(s"$base/landing/p3")

      def run(): Long = StreamHost.run(
        StreamHost.files(spark, s"$base/landing/*", docs.schema),
        s"$base/work/ckpt")(
        Curation.funnelSink("doc_id", "text", s"$base/work"))
      run()

      val streamed = Curation.streamedFunnelCounts(spark, s"$base/work")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val batch = graft.queries.PipelineQueries.t16CurationFunnel
        .fn(spark, s"$base/table")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(streamed == batch,
        s"streamed $streamed != batch $batch")
      // the funnel actually funnels on this corpus (each stage strictly
      // keeps fewer docs than the last — guards a vacuous all-equal pass)
      val m = streamed.toMap
      assert(m("0_total") > m("1_unique"), "duplicates must be elected out")
      assert(m("1_unique") >= m("2_length") && m("2_length") >= m("3_clean"))

      // restart idempotence: re-running the finished stream (same
      // checkpoint) must not change a single count
      run()
      val again = Curation.streamedFunnelCounts(spark, s"$base/work")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(again == streamed, "restart must be a no-op")
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(base))(
        _.iterator().asScala.toSeq).reverse.foreach(Files.delete)
    }
  }
}
