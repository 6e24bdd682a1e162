package graft.queries

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SaveMode}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.SparkSpec

/** Footer-metadata row counts ([[Tables.rowCount]]) must agree with a full
  * Spark count on every layout the loader accepts: a single parquet file,
  * a flat multi-part directory, and a partitionBy (nested-subdirectory)
  * layout. Builders size ANN blocking parameters from this — a silent
  * undercount would shrink bucket bits / centroid counts instead of
  * failing, so wrong layouts must throw.
  *
  * [[Tables.load]] resolves a table once per session: a later load runs
  * no Spark job (no schema inference) yet is still a relation of its own
  * — a self-join of two loads analyzes — and a new session resolves
  * again. Each test loads its own table names, so the registry counters
  * it reads are its own.
  */
class TablesSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-tables").toString

  /** Spark jobs `body` starts on this thread (the listener bus drained). */
  private def jobs[T](body: => T): (T, Int) = {
    val group = s"tables-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    val out =
      try body
      finally {
        spark.sparkContext.clearJobGroup()
        GraftSqlBridge.waitListenerBusEmpty(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    (out, n.get)
  }

  private def writeIds(base: String, name: String, n: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, i % 7)).toDF("id", "k")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$base/$name.parquet")
  }

  test("a second load in the session runs no Spark job and reads the same table") {
    val base = tmpDir()
    writeIds(base, "reuse_jobs", 100)
    val (first, firstJobs) = jobs(Tables.load(spark, base, "reuse_jobs"))
    assert(firstJobs >= 1, "the first load infers the parquet schema")
    val (second, secondJobs) = jobs(Tables.load(spark, base, "reuse_jobs"))
    assert(secondJobs == 0)
    assert(second.schema == first.schema)
    assert(second.orderBy("id").collect().toSeq == first.orderBy("id").collect().toSeq)
    assert(SessionViews.builds("table.reuse_jobs") == 1)
    assert(SessionViews.hits("table.reuse_jobs") == 1)
  }

  test("two loads of one table are distinct relations: a self-join analyzes") {
    val base = tmpDir()
    writeIds(base, "reuse_self", 70)
    val a = Tables.load(spark, base, "reuse_self")
    val b = Tables.load(spark, base, "reuse_self")
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    // every id shares k with 10 ids (70 rows, k = id % 7)
    val joined = a.as("a").join(b.as("b"), a("k") === b("k"))
    assert(joined.count() == 7L * 10 * 10)
    assert(joined.filter(a("id") === b("id")).count() == 70L)
  }

  test("a new session resolves the table again") {
    val base = tmpDir()
    writeIds(base, "reuse_session", 10)
    Tables.load(spark, base, "reuse_session")
    Tables.load(spark, base, "reuse_session")
    assert(SessionViews.builds("table.reuse_session") == 1)
    val other = spark.newSession()
    assert(Tables.load(other, base, "reuse_session").count() == 10L)
    assert(SessionViews.builds("table.reuse_session") == 2)
  }

  test("a TIMESTAMP_NTZ ts still loads as epoch nanos on a reused relation") {
    import spark.implicits._
    val base = tmpDir()
    val at = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000)
    Seq((1L, at)).toDF("event_id", "ts")
      .write.parquet(s"$base/reuse_events.parquet")
    assert(spark.read.parquet(s"$base/reuse_events.parquet").schema("ts").dataType
      == TimestampNTZType)
    val nanos = at.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + 123456000L
    val loads = (1 to 2).map(_ => Tables.load(spark, base, "reuse_events"))
    assert(SessionViews.hits("table.reuse_events") == 1)
    loads.foreach { df =>
      assert(df.schema("ts").dataType == LongType)
      assert(df.select("ts").as[Long].collect().toSeq == Seq(nanos))
    }
  }

  test("rowCount == count() for single-file and multi-part layouts") {
    import spark.implicits._
    val base = tmpDir()
    val df = (1 to 1000).map(i => (i.toLong, i % 7)).toDF("id", "k")

    // directory of part files (the standard Spark write)
    df.repartition(4).write.mode(SaveMode.Overwrite)
      .parquet(s"$base/multi.parquet")
    assert(Tables.rowCount(spark, base, "multi") == 1000L)
    assert(Tables.load(spark, base, "multi").count() == 1000L)

    // bare single file (the driver's testdata layout): move one part up
    val single = s"$base/single.parquet"
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$base/__tmp")
    val part = new java.io.File(s"$base/__tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(single))
    assert(Tables.rowCount(spark, base, "single") == 1000L)
  }

  test("rowCount recurses into partitionBy subdirectories") {
    import spark.implicits._
    val base = tmpDir()
    (1 to 500).map(i => (i.toLong, i % 3)).toDF("id", "p")
      .write.partitionBy("p").mode(SaveMode.Overwrite)
      .parquet(s"$base/parted.parquet")
    assert(Tables.rowCount(spark, base, "parted") == 500L)
  }

  test("rowCount fails loud on a directory with no parquet parts") {
    val base = tmpDir()
    Files.createDirectories(java.nio.file.Paths.get(s"$base/empty.parquet"))
    Files.writeString(
      java.nio.file.Paths.get(s"$base/empty.parquet/data.orc"), "not parquet")
    val ex = intercept[IllegalArgumentException] {
      Tables.rowCount(spark, base, "empty")
    }
    assert(ex.getMessage.contains("no .parquet part files"))
  }
}
