package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.LshIndex

/** Incremental ingest against the persisted LSH index (the d14 serving
  * path hosted in a stream): every micro-batch is probed against the
  * index FIRST (near-dup hits against all history ingested so far), then
  * appended into it. After the stream drains, the accreted index must be
  * probe-identical to a one-shot batch build over the same corpus —
  * probe-then-append composes exactly like `appendToLshIndex`'s batch
  * contract, micro-batch boundaries and all.
  */
class LshIngestStreamSpec extends SparkSpec {

  test("streamed probe-then-append ingest ≡ one-shot batch index") {
    val base = Files.createTempDirectory("graft-lshstream")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val index = s"$base/index"
    val hitsDir = s"$base/hits"

    // bootstrap the index with history, stream the rest in two batches
    LshIndex.writeLshIndex(
      docs.filter(col("doc_id") < 200), "doc_id", "text", index)
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
      .write.parquet(s"$base/landing/b1")
    docs.filter(col("doc_id") >= 350)
      .write.parquet(s"$base/landing/b2")

    StreamHost.run(StreamHost.files(spark, s"$base/landing/*", docs.schema),
        s"$base/ckpt") { (batch, _) =>
      val b = batch.localCheckpoint() // probe and append share one read
      LshIndex.probeLshIndex(b.sparkSession, b, "doc_id", "text", index)
        .write.mode("append").parquet(hitsDir)
      LshIndex.appendToLshIndex(b, "doc_id", "text", index)
    }

    // accreted index ≡ one-shot rebuild, under the same probe set
    val rebuilt = s"$base/rebuilt"
    LshIndex.writeLshIndex(docs, "doc_id", "text", rebuilt)
    val probes = docs.filter(col("doc_id") % 7 === 0)
    def probeSet(path: String) =
      LshIndex.probeLshIndex(spark, probes, "doc_id", "text", path)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(probeSet(index) == probeSet(rebuilt))

    // the in-flight probes only ever saw PRIOR history: batch-1 docs may
    // hit the bootstrap slice, never batch-2 docs (ingest order respected)
    val hits = spark.read.parquet(hitsDir)
    val b1Hits = hits.filter(col("probe_id") >= 200 && col("probe_id") < 350)
    assert(b1Hits.filter(col("corpus_id") >= 350).count() == 0L,
      "a batch-1 probe matched a document that had not been ingested yet")
  }
}
