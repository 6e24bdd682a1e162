package graft

import org.apache.spark.sql.SparkSession

/** The one local-session config every entry point shares (Bench, Verify,
  * the `graft.tools` mains, the test suites). Callers set their own log
  * level. AQE and its 1m coalesce floor stay at Spark's defaults: the
  * CPU-dense exchanges are pinned at the operator level (explicit-width
  * repartitions keyed on the operator's own keys), which AQE never
  * coalesces, so no global floor is needed.
  */
object GraftSession {
  def local(cores: Int, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // NTZ ts -> epoch normalization (Tables.load) casts through the
      // session time zone; an unpinned JVM-default TZ would silently
      // shift every event-time bucket on non-UTC machines
      .config("spark.sql.session.timeZone", "UTC")
      // old-generator events.parquet stores ts as TIMESTAMP(NANOS); Spark
      // has no nanos type, so surface it as long (nanos since epoch).
      // Harmless on current micros data — Tables.load normalizes both.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
