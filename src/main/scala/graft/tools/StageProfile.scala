package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/** Dev utility: per-stage profile of ONE named query — wall clock,
  * task count, max/total task time, input + shuffle bytes. Pinpoints
  * single-task stages (the unsplittable-one-row-group scan problem) and
  * skew without the Spark UI. Warm-up run first, then one profiled run.
  * Usage: runMain graft.tools.StageProfile <query_name> [sfDir]
  */
object StageProfile {
  final case class StageRow(id: Int, name: String, tasks: Int,
      wallMs: Long, taskTotalMs: Long, taskMaxMs: Long,
      inputMB: Double, shReadMB: Double, shWriteMB: Double)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")

    val rows = ArrayBuffer.empty[StageRow]
    var record = false
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {
            a <- si.completionTime; b <- si.submissionTime
          } yield a - b).getOrElse(-1L)
          rows.synchronized {
            rows += StageRow(si.stageId,
              si.name.takeWhile(_ != '\n').take(90), si.numTasks, wall,
              m.executorRunTime, -1L,
              m.inputMetrics.bytesRead / 1e6,
              m.shuffleReadMetrics.remoteBytesRead / 1e6 +
                m.shuffleReadMetrics.localBytesRead / 1e6,
              m.shuffleWriteMetrics.bytesWritten / 1e6)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val fn = graft.SparkEntry.queries(name)
    // two warm runs (codegen + any shared-view cache), then profile
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    record = true
    // in-process sampling profiler over executor task threads (the
    // sandbox blocks jcmd/jstack attach): 10 ms wall sampling of the
    // deepest non-runtime frame plus the top frame of each stack
    val samples = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    // sampling distorts stage metrics (safepoint storms at 10 ms) —
    // enable only when hunting hot frames, not when timing stages
    val wantSampler = sys.env.get("GRAFT_SAMPLE").contains("1")
    @volatile var sampling = wantSampler
    val sampler = new Thread(() => {
      while (sampling) {
        val all = Thread.getAllStackTraces()
        all.forEach { (t, st) =>
          if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
            val frame = st.iterator.collectFirst {
              case f if f.getClassName.startsWith("org.apache.spark") ||
                f.getClassName.startsWith("graft") ||
                f.getClassName.contains("generated") ||
                f.getClassName.startsWith("scala.collection") =>
                f.getClassName + "." + f.getMethodName
            }.getOrElse(st(0).getClassName + "." + st(0).getMethodName)
            val top = st(0).getClassName + "." + st(0).getMethodName
            samples.computeIfAbsent(s"$frame  <top:$top>",
              _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    sampling = false
    record = false
    import scala.jdk.CollectionConverters._
    val hot = samples.asScala.toSeq.map { case (k, v) => k -> v.get() }
      .sortBy(-_._2).take(25)
    println("[stage-profile] hot frames (task-thread samples):")
    hot.foreach { case (k, v) => println(f"  $v%6d  $k") }
    Thread.sleep(500) // let listener drain
    println(f"[stage-profile] $name total=$secs%.3f s, ${rows.size} stages")
    println(f"${"stage"}%6s ${"tasks"}%5s ${"wallMs"}%8s ${"cpuMs"}%8s " +
      f"${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s  name")
    rows.sortBy(_.id).foreach { r =>
      println(f"${r.id}%6d ${r.tasks}%5d ${r.wallMs}%8d ${r.taskTotalMs}%8d " +
        f"${r.inputMB}%8.2f ${r.shReadMB}%8.2f ${r.shWriteMB}%8.2f  ${r.name}")
    }
    spark.stop()
  }
}
