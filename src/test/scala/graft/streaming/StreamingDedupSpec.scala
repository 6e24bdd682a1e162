package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.dedup.Dedup

/** Streaming exact dedup over a document file stream keeps exactly the
  * batch keep-set (one winner per distinct content) and drops duplicates
  * across micro-batches.
  */
class StreamingDedupSpec extends SparkSpec {

  test("streamed exact dedup keeps one doc per distinct content, across batches") {
    val base = Files.createTempDirectory("graft-sdedup")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      // deterministic ingestion time so the watermark has an event-time
      // axis; offset from the epoch — the initial watermark is epoch 0
      // and the stateful late-row filter is inclusive, so a row AT the
      // epoch would be dropped as late
      .withColumn("ingested_at",
        timestamp_micros((col("doc_id") + 86400L) * 1000000L))
    // two landing files with OVERLAP: part2 re-delivers 20 docs of part1
    docs.filter(col("doc_id") < 400).write.parquet(s"$base/landing/part1")
    docs.filter(col("doc_id") >= 380).write.parquet(s"$base/landing/part2")

    val streamed = StreamHost.files(spark, s"$base/landing/*", docs.schema)
    val q = StreamingDedup.exactDedupStream(streamed, "text", "ingested_at")
      .writeStream
      .format("memory")
      .queryName("dedup_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.awaitTermination()

    val got = spark.table("dedup_stream")
    // one emission per distinct content hash, matching the batch count
    val batchDistinct = Dedup.exactDedup(docs, "text", "doc_id").count()
    assert(got.count() == batchDistinct,
      s"streamed ${got.count()} != batch distinct $batchDistinct")
    assert(got.groupBy("content_hash").count()
      .filter(col("count") > 1).count() == 0, "a hash emitted twice")
    // the stream ingested 520 rows (500 + 20 redelivered) but emitted
    // only the distinct 500 — the overlap never re-emitted
    val ingested = spark.read.parquet(s"$base/landing/*").count()
    assert(ingested == docs.count() + 20)
    assert(got.count() < ingested)
  }

  test("store-backed dedup ingest: corpus-lifetime suppression, restart-safe") {
    val base = Files.createTempDirectory("graft-storededup")
    val store = s"$base/store"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("content_hash", md5(col("text").cast("binary")))

    // pass 1: first 300 docs land (one file)
    docs.filter(col("doc_id") < 300).write.parquet(s"$base/landing/p1")
    def runOnce(): Long = StreamHost.run(
      StreamHost.files(spark, s"$base/landing/*", docs.schema),
      s"$base/ckpt")(StreamingDedup.storeDedupSink(
      store, "content_hash", Seq("doc_id"), compactEveryBatches = 2))
    runOnce()
    val afterP1 = spark.read.parquet(store).count()

    // pass 2 (a RESTART — new query, same checkpoint): 100 re-delivered
    // docs + 200 new ones; only the new content may append
    docs.filter(col("doc_id") >= 200).write.parquet(s"$base/landing/p2")
    runOnce()
    val result = spark.read.parquet(store)
    val want = docs.groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id")).count()
    assert(result.count() == want,
      s"store has ${result.count()}, want $want distinct contents")
    assert(result.groupBy("content_hash").count()
      .filter(col("count") > 1).count() == 0,
      "a content hash was inserted twice across batches")
    assert(afterP1 < want, "second pass must have added the new docs")
    // the cadence compaction folded per-batch appends back together:
    // strictly fewer parts than batches (each batch appends >=1 part,
    // so without compaction parts >= batches). Batch count = landing
    // part files, one per trigger — exact part layout of each append
    // is not assumed
    val batches = new java.io.File(s"$base/landing").listFiles()
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val parts = graft.pipeline.StoreMaintenance.partFileCount(store)
    assert(parts < batches,
      s"compaction never ran: $parts parts after $batches batches")
  }
}
