package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.VecIndex

/** Incremental SEMANTIC ingest against the persisted banded vector
  * store (the s18 serving path hosted in a stream — the embedding twin
  * of [[LshIngestStreamSpec]]): every micro-batch of embeddings is
  * probed against the store FIRST (near-dups against all history
  * ingested so far, at the 0.9 dedup threshold), then appended. After
  * the stream drains, the accreted store must be probe-identical to a
  * one-shot build over the same corpus — probe-then-append composes
  * exactly like `appendToVecIndex`'s batch contract, micro-batch
  * boundaries and all.
  */
class VecIngestStreamSpec extends SparkSpec {

  test("streamed probe-then-append vector ingest ≡ one-shot batch store") {
    val base = Files.createTempDirectory("graft-vecstream")
    val emb0 = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // plant re-ingests of BOOTSTRAP vectors under fresh, disjoint ids
    // (+1000 → they stream in batch 2) so in-flight probes genuinely
    // hit history
    val emb = emb0.unionByName(
      emb0.filter(col("vec_id") % 17 === 0 && col("vec_id") < 200)
        .withColumn("vec_id", col("vec_id") + 1000L))
    val index = s"$base/index"
    val hitsDir = s"$base/hits"

    VecIndex.writeVecIndex(emb.filter(col("vec_id") < 200),
      "vec_id", "embedding", index, bands = 8, bitsPerBand = 8,
      nBuckets = 16)
    emb.filter(col("vec_id") >= 200 && col("vec_id") < 350)
      .write.parquet(s"$base/landing/b1")
    emb.filter(col("vec_id") >= 350)
      .write.parquet(s"$base/landing/b2")

    StreamHost.run(StreamHost.files(spark, s"$base/landing/*", emb.schema),
        s"$base/ckpt") { (batch, _) =>
      val b = batch.localCheckpoint() // probe and append share one read
      VecIndex.probeVecIndex(b.sparkSession, b, "vec_id", "embedding",
          index, 900000L)
        .write.mode("append").parquet(hitsDir)
      VecIndex.appendToVecIndex(b, "vec_id", "embedding", index)
    }

    // accreted store ≡ one-shot rebuild, under the same probe set
    val rebuilt = s"$base/rebuilt"
    VecIndex.writeVecIndex(emb, "vec_id", "embedding", rebuilt,
      bands = 8, bitsPerBand = 8, nBuckets = 16)
    val probes = emb.filter(col("vec_id") % 7 === 0)
    def probeSet(path: String) =
      VecIndex.probeVecIndex(spark, probes, "vec_id", "embedding",
          path, 900000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probeSet(index) == probeSet(rebuilt))

    // the planted re-ingests streamed in batch 2 and their originals sit
    // in the bootstrap slice — the stream's own probes must catch every
    // one of them, against exactly its original
    val hits = spark.read.parquet(hitsDir)
    val planted = hits.filter(col("probe_id") >= 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb0
      .filter(col("vec_id") % 17 === 0 && col("vec_id") < 200)
      .select("vec_id").collect()
      .map(o => (o.getLong(0) + 1000L, o.getLong(0))).toSet
    assert(expected.subsetOf(planted),
      s"planted re-ingests must hit their bootstrap originals in-flight: " +
        s"missing ${expected -- planted}")
    // and no probe ever matched history that had not been ingested yet
    val b1Hits = hits.filter(col("probe_id") >= 200 && col("probe_id") < 350)
    assert(b1Hits.filter(col("corpus_id") >= 350).count() == 0L,
      "a batch-1 probe matched an embedding that had not been ingested yet")
  }
}
