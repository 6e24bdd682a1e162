package graft.tools

import graft.GraftSession

/** Dev utility: time ONE named query (best of 3, noop sink) at an
  * arbitrary scale dir — the single-query loop Bench doesn't expose.
  * Usage: runMain graft.tools.QueryTime <query_name> [sfDir]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[query-time] $name best=${times.min}%.3f runs=${times.map(t => f"$t%.2f").mkString(",")}")
    spark.stop()
  }
}
