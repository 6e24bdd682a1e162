package graftbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

import graft.streaming.ConsolidationStream

/** The streaming ingest path of the `consolidate` workload, in the same JVM
  * and session as the batch pipeline: AvailableNow passes of
  * `ConsolidationStream` over canonical CSV files that land before each
  * pass, into a store of its own that starts empty. Inputs and ledger are
  * in `<plan>/stream`, written by `gen.stream`.
  */
final class StreamIngest(ctx: Main.Ctx) {
  private val spark = ctx.spark
  private val planDir = ctx.plan.resolve("stream")
  private val inputs = planDir.resolve("inputs")
  private val plan = Stats.readTsv(planDir.resolve("plan.tsv"))
  private val expect = Stats.readExpect(planDir.resolve("expect.tsv"))
  private val dir = ctx.work.resolve("stream")
  private val cfg = StreamIngest.config(dir)
  /** Source rows of the measured passes. */
  var rows = 0L

  private def landPass(files: Seq[String]): Unit =
    files.foreach(Landing.land(inputs, _, dir.resolve("landing")))

  /** Set-up: the first pass, over the warm-up file. Returns its seconds. */
  def warm(): Double = {
    val w = plan.head
    val t = System.nanoTime()
    landPass(w(1).split(",").toSeq)
    ConsolidationStream.runAvailableNow(spark, cfg)
    val secs = (System.nanoTime() - t) / 1e9
    val stored = spark.read.parquet(cfg.consolidatedPath).count()
    if (stored != w(2).toLong)
      ctx.fail(s"stream warm-up pass stored $stored rows, expected ${w(2)}")
    secs
  }

  /** Measured pass `i`: its files land, then one AvailableNow pass. Returns
    * its seconds and whether it ran a micro-batch.
    */
  def pass(i: Int): (Double, Boolean) = {
    val a = plan(i + 1)
    val files = a(1).split(",").toSeq
    landPass(files)
    rows += files.map { f =>
      val st = java.nio.file.Files.lines(inputs.resolve(f))
      try st.count() - 1 finally st.close() // minus the header line
    }.sum
    val t = System.nanoTime()
    val batches = ctx.spans("streaming.pass") {
      ConsolidationStream.runAvailableNow(spark, cfg)
    }
    val secs = (System.nanoTime() - t) / 1e9
    if (batches < 1)
      ctx.fail(s"stream pass ${a(0)} ran no micro-batch over ${files.size} new files")
    (secs, batches >= 1)
  }

  private def store() = spark.read.parquet(cfg.consolidatedPath)
    .agg(count(lit(1)), sum(col("total_amount"))).collect().head

  /** Checks the ledger, then that a restart pass adds nothing. Returns the
    * rows stored.
    */
  def verify(): Long = {
    val s = store()
    val storeRows = s.getLong(0)
    val storeCents = s.getDecimal(1).movePointRight(2).longValueExact()
    if (storeRows != expect("store_rows"))
      ctx.fail(s"stream store rows $storeRows != ${expect("store_rows")}")
    if (storeCents != expect("store_cents"))
      ctx.fail(s"stream store total $storeCents != ${expect("store_cents")} cents")
    val errRows = spark.read.parquet(cfg.errorDir).count()
    if (errRows != expect("error_rows"))
      ctx.fail(s"stream error rows $errRows != ${expect("error_rows")}")
    ConsolidationStream.runAvailableNow(spark, cfg)
    val again = store().getLong(0)
    if (again != storeRows)
      ctx.fail(s"stream restart pass changed the store: $storeRows -> $again rows")
    storeRows
  }

  /** Bytes the stream leaves on disk: store, checkpoint and error rows. */
  def diskBytes: Long = Stats.du(dir.resolve("consolidado.parquet")) +
    Stats.du(dir.resolve("ckpt")) + Stats.du(dir.resolve("errors"))

  /** `streaming.*` per-layer metrics over `passes` measured passes. */
  def layerMetrics(passes: Int): Unit = {
    val n = math.max(passes, 1).toDouble
    val ms = ctx.tracer.streamMs
    ctx.put("streaming.batches", ms("batches") / n, "count/op")
    Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch",
      "latest_offset" -> "latestOffset", "query_planning" -> "queryPlanning",
      "wal_commit" -> "walCommit").foreach { case (name, key) =>
      ctx.put(s"streaming.${name}_s", ms(key) / 1e3 / n, "s/op")
    }
    val passSum = ctx.spans.total("streaming.pass")
    ctx.put("streaming.pass_s", passSum / n, "s/op")
    ctx.put("streaming.store_files",
      Stats.parts(dir.resolve("consolidado.parquet")).toDouble, "count")
    ctx.put("streaming.checkpoint_bytes", Stats.du(dir.resolve("ckpt")).toDouble,
      "B")
    val coverage = if (passSum > 0) ms("triggerExecution") / 1e3 / passSum else 0.0
    ctx.put("streaming.coverage", coverage, "ratio")
    Bounds.check(ctx, "streaming.coverage", coverage)
  }
}

object StreamIngest {
  def config(dir: Path): ConsolidationStream.Config =
    ConsolidationStream.Config(
      landingDir = dir.resolve("landing").toString,
      consolidatedPath = dir.resolve("consolidado.parquet").toString,
      checkpointDir = dir.resolve("ckpt").toString,
      errorDir = dir.resolve("errors").toString)
}
