package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Event-time streaming: watermarked window counts over a file stream
  * match the batch computation; stateful sessionization closes sessions at
  * the inactivity gap.
  */
class EventWindowsSpec extends SparkSpec {
  import spark.implicits._

  test("watermarked windowed counts over a stream match the batch result") {
    val base = Files.createTempDirectory("graft-ew")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(s"$base/landing/part1")

    val streamed = StreamHost.files(spark, s"$base/landing/*", events.schema)
    val q = EventWindows.windowedCounts(streamed)
      .writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.awaitTermination()

    val got = spark.table("win_counts")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val want = EventWindows.windowedCounts(events)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    // append mode emits only watermark-CLOSED windows; the stream's tail
    // windows (within the 2h watermark of max event time) stay open at
    // end-of-stream, so the streamed result is a strict prefix of batch
    assert(got.nonEmpty)
    assert(got.toSet.subsetOf(want.toSet),
      s"streamed rows must match batch: ${got.toSet -- want.toSet}")
    val maxClosed = got.map(_._1.getTime).max
    val wantClosed = want.filter(_._1.getTime <= maxClosed)
    assert(got.toSet == wantClosed.toSet,
      "every batch window up to the last closed one must have streamed")
  }

  test("sessionization closes sessions at the inactivity gap (batch-mode state op)") {
    val min = 60L * 1000 * 1000
    val evs = Seq(
      EventWindows.SessionEvent(1L, 0 * min),
      EventWindows.SessionEvent(1L, 5 * min),    // same session (gap 10)
      EventWindows.SessionEvent(1L, 30 * min),   // new session
      EventWindows.SessionEvent(2L, 0 * min)).toDS()
    val sessions = EventWindows.sessionize(evs, gapMinutes = 10)
      .collect().sortBy(s => (s.user_id, s.start_us))
    // only CLOSED sessions emit in batch mode (open state never times out
    // inside a single batch): user 1's first session closed at 5min
    assert(sessions.length == 1)
    assert(sessions.head == EventWindows.Session(1L, 0, 5 * min, 2))
  }

  test("event-time sessionization: identical sessions at ANY micro-batch split") {
    // the determinism contract of EventTimeTimeout: session boundaries
    // depend on the DATA, not on how the stream is chopped into batches
    // or how fast it replays (a processing-time timeout breaks this)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hour = 3600L * 1000 * 1000
    val min = 60L * 1000 * 1000
    // all times offset +1h: the initial watermark is epoch 0 and its
    // late-filter is inclusive, so a t=0 event would be dropped as late
    // globally time-ordered: a per-event replay (split B) advances the
    // watermark after every batch, so any event out of order by more than
    // the gap would be dropped as late — in-order replay is the realistic
    // backfill shape
    val main = Seq(
      EventWindows.SessionEvent(1L, hour + 0 * min),
      EventWindows.SessionEvent(2L, hour + 1 * min),
      EventWindows.SessionEvent(1L, hour + 5 * min),   // same session (gap 10)
      EventWindows.SessionEvent(1L, hour + 30 * min),  // new session
      EventWindows.SessionEvent(1L, hour + 32 * min))
    // sentinels march the watermark past every timeout so sessions close;
    // the LAST batch is identical in both splits (timeouts fire one batch
    // after the watermark advance)
    val sentinel1 = EventWindows.SessionEvent(99L, hour + 120 * min)
    val sentinel2 = EventWindows.SessionEvent(99L, hour + 180 * min)

    def run(name: String, batches: Seq[Seq[EventWindows.SessionEvent]]) = {
      val base = Files.createTempDirectory("graft-sess")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[EventWindows.SessionEvent]
      val q = EventWindows.sessionize(ms.toDS(), gapMinutes = 10)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[EventWindows.Session].collect().toSet
    }

    // split A: everything in one batch, then the closing sentinel
    val a = run("sess_a", Seq(main :+ sentinel1, Seq(sentinel2)))
    // split B: one event per batch — maximally different replay
    val b = run("sess_b", (main :+ sentinel1).map(Seq(_)) :+ Seq(sentinel2))

    val want = Set(
      EventWindows.Session(1L, hour, hour + 5 * min, 2),
      EventWindows.Session(1L, hour + 30 * min, hour + 32 * min, 2),
      EventWindows.Session(2L, hour + 1 * min, hour + 1 * min, 1),
      EventWindows.Session(99L, hour + 120 * min, hour + 120 * min, 1))
    assert(a == want, s"split A sessions: $a")
    assert(b == a, s"split B diverged from split A:\nA=$a\nB=$b")
  }

  test("late in-gap event cannot move a session's end backward") {
    // batch 2 delivers an event OLDER than the session's last (late but
    // inside the watermark). Overwriting last_us would set end < start
    // and make the next on-time event falsely split the session; the
    // min/max update must absorb it into ONE session instead
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hour = 3600L * 1000 * 1000
    val min = 60L * 1000 * 1000
    val base = Files.createTempDirectory("graft-sess-late")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EventWindows.SessionEvent]
    val q = EventWindows.sessionize(ms.toDS(), gapMinutes = 10)
      .writeStream.format("memory").queryName("sess_late")
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    ms.addData(EventWindows.SessionEvent(1L, hour + 10 * min))
    q.processAllAvailable() // watermark → hour + 0min
    ms.addData( // late-but-allowed 8min, then on-time 19min
      EventWindows.SessionEvent(1L, hour + 8 * min),
      EventWindows.SessionEvent(1L, hour + 19 * min))
    q.processAllAvailable()
    ms.addData(EventWindows.SessionEvent(99L, hour + 120 * min))
    q.processAllAvailable()
    ms.addData(EventWindows.SessionEvent(99L, hour + 240 * min))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_late").as[EventWindows.Session]
      .collect().filter(_.user_id == 1L).toSet
    assert(got == Set(EventWindows.Session(
      1L, hour + 8 * min, hour + 19 * min, 3)),
      s"late event split or regressed the session: $got")
  }

  test("streaming sessionize agrees with the batch gaps-and-islands form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hour = 3600L * 1000 * 1000
    val min = 60L * 1000 * 1000
    val main = Seq(
      EventWindows.SessionEvent(1L, hour + 0 * min),
      EventWindows.SessionEvent(2L, hour + 1 * min),
      EventWindows.SessionEvent(1L, hour + 5 * min),
      EventWindows.SessionEvent(1L, hour + 30 * min),
      EventWindows.SessionEvent(1L, hour + 32 * min),
      EventWindows.SessionEvent(2L, hour + 45 * min))
    // sentinels march the watermark far enough that every main session
    // closes; sentinel2's own session stays open at end-of-stream
    val sentinel1 = EventWindows.SessionEvent(99L, hour + 240 * min)
    val sentinel2 = EventWindows.SessionEvent(99L, hour + 480 * min)

    val base = Files.createTempDirectory("graft-sess-agree")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EventWindows.SessionEvent]
    val q = EventWindows.sessionize(ms.toDS(), gapMinutes = 10)
      .writeStream.format("memory").queryName("sess_agree")
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    Seq(main :+ sentinel1, Seq(sentinel2)).foreach { b =>
      ms.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("sess_agree").as[EventWindows.Session]
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.events)).toSet

    // batch form over the SAME events (tie-break on a synthetic event id);
    // it emits every session including ones still open on the stream, so
    // drop sessions that the final watermark (sentinel2 - gap) hasn't
    // closed yet — the agreement claim is on everything closable
    val all = (main ++ Seq(sentinel1, sentinel2)).zipWithIndex
      .map { case (e, i) => (e.user_id, e.event_time_us, i.toLong) }
      .toDF("user_id", "ts", "event_id")
    val gapUs = 10L * 60 * 1000 * 1000
    val watermark = sentinel2.event_time_us - gapUs
    val batch = EventWindows.sessionizeBatch(all, "user_id", "ts", "event_id", gapUs)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events")))
      .filter { case (_, _, end, _) => end + gapUs < watermark }
      .toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed=$streamed\nbatch(closable)=$batch")
  }

  test("stream-static enrichment: windowed counts per dim attribute match batch") {
    val base = Files.createTempDirectory("graft-enrich")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(s"$base/in/p1")
    val dim = events.select(col("user_id")).distinct()
      .withColumn("cohort", col("user_id") % 3)

    def counts(df: org.apache.spark.sql.DataFrame) =
      EventWindows.windowedCounts(
        EventWindows.enriched(df, dim, Seq("user_id"))
          .withColumn("event_type", concat(col("cohort").cast("string"),
            lit(":"), col("event_type"))))

    val q = counts(spark.readStream.schema(events.schema).parquet(s"$base/in/*"))
      .writeStream.format("memory").queryName("enrich_win")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()

    val got = spark.table("enrich_win").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = counts(events).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got.subsetOf(want))
    // cohort-prefixed types prove the dim columns flowed through the stream
    assert(got.exists(_._2.startsWith("0:")) && got.exists(_._2.startsWith("2:")))
  }

  test("stream-stream attribution join matches the batch join") {
    val base = Files.createTempDirectory("graft-ssj")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val clicks = events.filter(col("event_type") === "click")
    val purchases = events.filter(col("event_type") === "purchase")
    clicks.write.parquet(s"$base/clicks/p1")
    purchases.write.parquet(s"$base/purch/p1")

    def cStream = StreamHost.files(spark, s"$base/clicks/*", events.schema)
    def pStream = StreamHost.files(spark, s"$base/purch/*", events.schema)

    val q = EventWindows.attributionJoin(cStream, pStream)
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()

    val got = spark.table("attrib").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = EventWindows.attributionJoin(clicks, purchases).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // inner stream-stream join with AvailableNow emits every match whose
    // state survived to the batch it arrived in; end-of-stream flush
    // emits the rest — the full inner join must stream out
    assert(want.nonEmpty, "fixture must produce at least one attribution")
    assert(got == want,
      s"streamed join must equal batch join (missing=${(want -- got).size}, extra=${(got -- want).size})")
  }
}
