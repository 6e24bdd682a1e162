package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming CDC (ChangeDataStream): per-batch change classification
  * against the running fingerprint store, replay-idempotent writes, and
  * final state ≡ the last fingerprint each key shipped.
  */
class ChangeDataStreamSpec extends SparkSpec {
  import spark.implicits._

  test("cdcSink: classes per batch, replay-idempotent, final state correct") {
    val base = Files.createTempDirectory("graft-cdc")
    val store = s"$base/store"; val log = s"$base/log"
    def doc(id: Long, v: Int) = (id, s"doc-$id-v$v")

    // b1: 1..10 v1 → all added
    (1L to 10L).map(doc(_, 1)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/landing/b1")
    Thread.sleep(1100) // distinct mtimes → deterministic batch order
    // b2: 6..10 unchanged, 3 revised, 11..15 new
    ((6L to 10L).map(doc(_, 1)) ++ Seq(doc(3L, 2)) ++
      (11L to 15L).map(doc(_, 1))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/landing/b2")

    val schema = spark.read.parquet(s"$base/landing/b1").schema
    StreamHost.run(StreamHost.files(spark, s"$base/landing/*", schema),
      s"$base/ckpt")(ChangeDataStream.cdcSink(
      store, log, "doc_id", md5(col("text").cast("binary"))))

    val logDf = spark.read.parquet(log)
    def classes(b: Long): Map[String, Set[Long]] =
      logDf.filter(col("batch_id") === b).collect()
        .groupBy(_.getString(1)).map { case (c, rs) =>
          c -> rs.map(_.getLong(0)).toSet }
    assert(classes(0L) == Map("added" -> (1L to 10L).toSet))
    assert(classes(1L) == Map(
      "unchanged" -> (6L to 10L).toSet,
      "changed" -> Set(3L),
      "added" -> (11L to 15L).toSet))

    // final state: every key's latest fingerprint
    val cur = ChangeDataStream
      .currentState(spark.read.parquet(store), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur.keySet == (1L to 15L).toSet)
    val md5v2 = spark.range(1)
      .select(md5(lit("doc-3-v2").cast("binary"))).head().getString(0)
    assert(cur(3L) == md5v2, "changed key must carry its NEW fingerprint")

    // replay idempotence: re-running a batch overwrites its own
    // partitions — simulate by re-invoking the sink with batch 1's data
    val b2df = spark.read.parquet(s"$base/landing/b2")
    ChangeDataStream.cdcSink(store, log,
      "doc_id", md5(col("text").cast("binary")))(b2df, 1L)
    assert(spark.read.parquet(log).filter(col("batch_id") === 1)
      .count() == 11L, "replayed batch must not duplicate its log rows")
    val cur2 = ChangeDataStream
      .currentState(spark.read.parquet(store), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur2 == cur, "replay must leave the state unchanged")
  }
}
