package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: a closed loop with a single client that
  * issues the workload's operations back to back.
  *
  * Usage: graftbench.Main <workload> <work-dir> <data-dir> <plan-dir>
  *   <trace 0|1> <out-file> [options as key=value]
  *
  * The inputs were generated by `gen.py` before the JVM starts; the engine
  * receives only those files. The result is written to <out-file> as one
  * JSON object (metrics, attempted, failed, correct, notes).
  */
object Main {
  final class Ctx(val spark: SparkSession, val work: Path, val data: String,
      val plan: Path, val trace: Boolean, val opts: Map[String, String],
      val sessionSeconds: Double, val cores: Int) {
    val tracer = new Tracer(spark)
    val spans = new Spans
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failedOps = 0L
    def put(name: String, v: Double, unit: String): Unit =
      metrics(name) = (v, unit)
    def fail(msg: String): Unit = {
      failures += msg
      System.err.println(s"[bench] CHECK FAILED: $msg")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, dataDir, planDir, traceArg, outFile) =
      args.take(6)
    val opts = args.drop(6).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val work = Paths.get(workDir).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      // fixed widths, independent of the host's core count, so that
      // pinned query outputs do not depend on it
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.default.parallelism", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val sessionSeconds = (System.currentTimeMillis() - jvmStart) / 1e3
    val ctx = new Ctx(spark, work, dataDir, Paths.get(planDir),
      traceArg == "1", opts, sessionSeconds, cores)
    if (ctx.trace) ctx.tracer.register()
    ErrorLines.install()
    val ok =
      try {
        workload match {
          case "consolidate" => Consolidate.run(ctx)
          case "query_mix" => QueryMix.run(ctx)
          case "pin" => QueryMix.pin(ctx)
          case other => sys.error(s"unknown workload $other")
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.fail(s"workload aborted: $e")
          false
      }
    ctx.put("peak_rss_mb", Stats.vmHwmMb(), "MB")
    if (ctx.trace) {
      ctx.put("spark.error_log_lines", ErrorLines.count.toDouble, "count")
      ctx.spans.writeTsv(work.resolve("spans.tsv"))
    }
    ctx.notes("error_log_lines") = ErrorLines.count.toString
    ctx.notes("spark_threads") = cores.toString
    Files.writeString(Paths.get(outFile), Stats.resultJson(ctx, ok))
    spark.stop()
  }
}

/** Counts ERROR log events of the whole JVM with an appender of its own. */
object ErrorLines {
  @volatile var count = 0L
  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lc = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("bench-error-counter", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count += 1
    }
    app.start()
    lc.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    lc.updateLoggers()
  }
}

/** Input files land whole: copied beside the landing directory, given
  * their modification time (the pipeline's re-delivery probe keys on name
  * and mtime), then moved in.
  */
object Landing {
  def land(inputs: Path, name: String, landing: Path,
      mtime: Option[Long] = None): Unit = {
    Files.createDirectories(landing)
    val tmp = landing.resolveSibling("landing.tmp")
    Files.createDirectories(tmp)
    val staged = tmp.resolve(name)
    Files.copy(inputs.resolve(name), staged, StandardCopyOption.REPLACE_EXISTING)
    mtime.foreach(m => Files.setLastModifiedTime(staged, FileTime.fromMillis(m)))
    Files.move(staged, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Bounds the traced run checks its own layer accounting against. */
object Bounds {
  /** Layer sum ÷ operation wall must land in this range. */
  val CoverageLow = 0.75
  val CoverageHigh = 1.25

  def check(ctx: Main.Ctx, name: String, coverage: Double): Unit =
    if (coverage < CoverageLow || coverage > CoverageHigh)
      ctx.fail(f"$name $coverage%.3f outside [$CoverageLow, $CoverageHigh]")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it
    * (nearest rank). Below twenty samples no percentile from the median up
    * qualifies and the maximum is reported, marked as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0)
    else if (n < 20) (s.last, 100)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val k = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (s(k - 1), p)
    }
  }

  def vmHwmMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  /** Bytes of every regular file under `p` (0 when absent). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally st.close()
    }

  /** Data files (parquet parts) under `p`. */
  def parts(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.count(f => Files.isRegularFile(f) &&
        f.getFileName.toString.startsWith("part-")).toLong
      finally st.close()
    }

  /** Per-operation Spark layer metrics over a window of the run. */
  def putSpark(ctx: Main.Ctx, d: SparkCounts, ops: Int, wall: Double): Unit = {
    val n = math.max(ops, 1).toDouble
    ctx.put("spark.jobs", d.jobs / n, "count/op")
    ctx.put("spark.stages", d.stages / n, "count/op")
    ctx.put("spark.tasks", d.tasks / n, "count/op")
    ctx.put("spark.empty_task_ratio",
      if (d.tasks == 0) 0.0 else d.emptyTasks.toDouble / d.tasks, "ratio")
    ctx.put("spark.driver_gap_s", math.max(0.0, wall - d.busyNanos / 1e9) / n,
      "s/op")
    ctx.put("spark.job_s", d.jobNanos / 1e9 / n, "s/op")
    ctx.put("spark.task_run_s", d.taskRunMs / 1e3 / n, "s/op")
    ctx.put("spark.task_cpu_s", d.taskCpuNs / 1e9 / n, "s/op")
    ctx.put("spark.core_use",
      if (wall <= 0) 0.0 else d.taskCpuNs / 1e9 / (wall * ctx.cores), "ratio")
    ctx.put("spark.gc_s", d.gcMs / 1e3 / n, "s/op")
    ctx.put("spark.shuffle_read_bytes", d.shuffleRead / n, "B/op")
    ctx.put("spark.shuffle_write_bytes", d.shuffleWrite / n, "B/op")
    ctx.put("spark.spill_bytes", d.spill / n, "B/op")
    ctx.put("spark.input_bytes", d.input / n, "B/op")
    ctx.put("spark.output_bytes", d.output / n, "B/op")
    ctx.put("spark.peak_exec_mem_bytes", d.peakExecMem.toDouble, "B")
    ctx.put("spark.task_skew", ctx.tracer.takeSkew(), "ratio")
  }

  /** The end-to-end metrics every workload reports. */
  def putEndToEnd(ctx: Main.Ctx, setup: Double, wall: Double,
      lat: Seq[Double], rows: Double): Unit = {
    val (tailV, tailP) = tail(lat)
    ctx.put("setup_s", setup, "s")
    ctx.put("wall_s", wall, "s")
    ctx.put("latency_p50_s", median(lat), "s")
    ctx.put("latency_tail_s", tailV, "s")
    ctx.put("rows_per_s", if (wall > 0) rows / wall else 0.0, "rows/s")
    ctx.notes("latency_tail_percentile") = tailP.toString
    ctx.notes("latency_samples") = lat.size.toString
    ctx.notes("latencies_s") = lat.map(v => f"$v%.4f").mkString(" ")
  }

  /** A JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def resultJson(ctx: Main.Ctx, ran: Boolean): String = {
    val m = ctx.metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s"${q(k)}: {${q("value")}: $num, ${q("unit")}: ${q(u)}}"
    }.mkString("{", ", ", "}")
    val notes = ctx.notes.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ", ", "}")
    val fails = ctx.failures.map(q).mkString("[", ", ", "]")
    val correct = ran && ctx.failures.isEmpty
    s"""{"correct": $correct, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failedOps}, "metrics": $m, "notes": $notes, """ +
      s""""failures": $fails}"""
  }

  def readTsv(p: Path): Seq[Array[String]] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map(_.split("\t", -1))
      .toSeq

  def readExpect(p: Path): Map[String, Long] =
    readTsv(p).map(a => a(0) -> a(1).toLong).toMap
}
