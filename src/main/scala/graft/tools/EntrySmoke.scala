package graft.tools

import graft.GraftSession

/** Replays the driver's t1 smoke check: SparkEntry.entry on sf0.001 must
  * return rows > 0. Prints the row count and the first rows.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, 4)
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    println(s"[entry-smoke] rows=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
