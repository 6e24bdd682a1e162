package graft.tools

import graft.GraftSession

/** Executes every SparkEntry query at the given sf dir (default the
  * bench scale) and FAILS LOUDLY on any exception — Bench's timing loop
  * deliberately swallows errors, so this is the "everything actually
  * runs at sf0.1" proof.
  */
object AllQueriesSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(8, 8)
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val n = fn(spark, sfDir).count()
        println(s"[all-queries] $name rows=$n")
      } catch { case e: Throwable =>
        failed += 1
        println(s"[all-queries] $name FAILED: ${e.getMessage}")
      }
    }
    println(s"[all-queries] failed=$failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
