package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sketch.KmvStore

/** The a17 store maintained by the streaming host must equal the
  * batch-built store (and hence the one-shot sketch the a17 oracle
  * gates) after N micro-batches — and a FULL re-delivery of the
  * stream must change nothing (the k-minima distinct-union algebra
  * is the replay guard).
  */
class KmvStoreStreamSpec extends SparkSpec {

  private val K = 16

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("source"), col("text"))

  private def estMap(path: String) =
    KmvStore.estimate(spark, path).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_distinct_est"), r.getAs[Long]("sketch_size")))
      .toMap

  test("streamed store ≡ batch store ≡ one-shot; full-stream replay is a no-op") {
    val base = Files.createTempDirectory("graft-kmvstorestream")
    try {
      val oneShot = s"$base/one"
      KmvStore.write(docs, Seq("source"), "text", K, oneShot)
      val want = estMap(oneShot)
      val streamed = s"$base/str"
      KmvStore.write(docs.filter(col("doc_id") % 3 === 0),
        Seq("source"), "text", K, streamed)
      docs.filter(col("doc_id") % 3 === 1).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      Thread.sleep(5)
      docs.filter(col("doc_id") % 3 === 2).coalesce(1)
        .write.parquet(s"$base/landing/p2")
      // KmvStore.append is the whole sink: no batch id, no guard
      def run(ckpt: String): Long = StreamHost.run(
        StreamHost.files(spark, s"$base/landing/*", docs.schema), ckpt)(
        (batch, _) => KmvStore.append(batch, streamed))
      run(s"$base/ckpt")
      assert(estMap(streamed) == want,
        "streamed accretion must equal the one-shot store")
      assert(KmvStore.minima(spark, streamed).collect().toSet
        == KmvStore.minima(spark, oneShot).collect().toSet,
        "the merged minima SET itself must match the one-shot store")
      // an at-least-once catastrophe: the WHOLE stream re-delivers
      // under a fresh checkpoint — idempotent algebra absorbs it
      run(s"$base/ckpt2")
      assert(estMap(streamed) == want,
        "a full stream replay must not move any estimate")
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(p))(
      _.iterator().asScala.toSeq).reverse.foreach(java.nio.file.Files.delete)
  }
}
