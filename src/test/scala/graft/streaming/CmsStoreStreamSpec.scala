package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sketch.CmsStore

/** The a18 store maintained by the streaming host must equal the
  * batch-built store (grids add cell-wise over disjoint batches) after
  * N micro-batches — and redelivery must be absorbed by the epoch TAG,
  * not the merge algebra (sum is not idempotent): a re-run under the
  * SAME checkpoint is a no-op, and a fresh-checkpoint full replay is
  * absorbed exactly because the file source re-chunks deterministically
  * into the same tagged batches.
  */
class CmsStoreStreamSpec extends SparkSpec {

  private val D = 4
  private val W = 256

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("source"), col("text"))

  private def toTokens(df: org.apache.spark.sql.DataFrame) =
    df.select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")

  private def gridSet(path: String) =
    CmsStore.grid(spark, path)
      .select(col("source"), col("r").cast("long"),
        col("bucket").cast("long"), col("cnt").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  test("streamed store ≡ batch store ≡ one-shot; same-checkpoint re-run and deterministic full replay absorbed") {
    val base = Files.createTempDirectory("graft-cmsstorestream")
    try {
      val oneShot = s"$base/one"
      CmsStore.write(toTokens(docs), Seq("source"), "token", D, W,
        "all", oneShot)
      val want = gridSet(oneShot)
      val streamed = s"$base/str"
      CmsStore.write(toTokens(docs.filter(col("doc_id") % 3 === 0)),
        Seq("source"), "token", D, W, "boot", streamed)
      // token-level landing files: the host's sink grids whatever
      // arrives with the store's own parameters
      toTokens(docs.filter(col("doc_id") % 3 === 1)).coalesce(1)
        .write.parquet(s"$base/landing/p1")
      Thread.sleep(5)
      toTokens(docs.filter(col("doc_id") % 3 === 2)).coalesce(1)
        .write.parquet(s"$base/landing/p2")
      val schema = toTokens(docs).schema
      def run(ckpt: String): Long = StreamHost.run(
        StreamHost.files(spark, s"$base/landing/*", schema), ckpt)(
        CmsStoreStream.sink(streamed))
      run(s"$base/ckpt")
      assert(gridSet(streamed) == want,
        "streamed accretion must equal the one-shot grid cell for cell")
      // restart under the SAME checkpoint: no new files, no new epochs
      run(s"$base/ckpt")
      assert(gridSet(streamed) == want)
      // the at-least-once catastrophe: the WHOLE stream re-delivers
      // under a FRESH checkpoint — epoch ids restart at 0 and the file
      // source re-chunks the same files in the same order, so every
      // re-delivered batch re-writes its original tag and the store's
      // distinct absorbs it (the sum algebra's guard is the tag)
      run(s"$base/ckpt2")
      assert(gridSet(streamed) == want,
        "a deterministically re-chunked full replay must not move any cell")
    } finally deleteRecursively(base)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(p))(
      _.iterator().asScala.toSeq).reverse.foreach(java.nio.file.Files.delete)
  }
}
