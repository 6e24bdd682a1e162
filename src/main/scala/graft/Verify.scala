package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // default to every core: the gate is a batch of independent queries
    // over a fixed dataset — there is no reason to run it narrower than
    // the machine (the old default of 4 made sf1 replays ~8× slower)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional subset for local iteration (comma-separated names); the
    // driver never sets it, so the gate always runs the full set. Unknown
    // names fail loudly — a typo must not produce a silent empty run.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { sel =>
      val unknown = sel -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query names: $unknown")
    }
    val selected = only match {
      case Some(sel) => SparkEntry.queries.filter { case (n, _) => sel(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      // coalesce(1) directly on the query would collapse every shuffle-free
      // chain into ONE task (the whole scan+compute runs single-threaded —
      // minutes per full-text query at sf1). Eager localCheckpoint executes
      // the plan at full parallelism first; coalesce(1) then merges the
      // checkpointed partitions in partition-index order, preserving the
      // query's global sort, and the write is a cheap single-file copy.
      val t0 = System.nanoTime()
      try {
        val result = fn(spark, sfDir).localCheckpoint()
        result.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
