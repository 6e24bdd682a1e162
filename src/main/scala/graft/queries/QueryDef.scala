package graft.queries

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType

/** One driver-checkable query: a Spark implementation over the test tables
  * in `sfDir`, plus (when SQL-expressible) an equivalent DuckDB oracle.
  * Column names and explicit output types must match between the two — the
  * driver sorts columns by name and hash-compares values.
  *
  * Output-boundary rule (round-1 lesson): a query's FINAL schema must never
  * contain DECIMAL. The driver reads the Spark result via pyarrow (decimals
  * render scale-preserving, `'123.40'`) but the DuckDB oracle lands in
  * float64 (`'123.4'`), so any trailing-zero cent hash-mismatches. All
  * internal arithmetic stays DECIMAL (exact); [[QueryDef.noDecimals]] casts
  * the money columns to DOUBLE at the boundary — lossless for exact cents
  * below 2^53, and bit-identical on both engines because each does one
  * correctly-rounded conversion of the same exact decimal value. Oracle SQL
  * mirrors this with `CAST(... AS DOUBLE)` on the same columns.
  */
final case class QueryDef(
    name: String,
    raw: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {

  /** The raw plan with the output-boundary decimal→double cast applied —
    * this is what Verify/Bench run and the driver checks.
    */
  def fn: (SparkSession, String) => DataFrame =
    (s, dir) => QueryDef.noDecimals(raw(s, dir))
}

object QueryDef {

  /** Casts every top-level DecimalType column to DOUBLE, preserving column
    * order and (being a bare projection) row order. No-op when the schema
    * is already decimal-free.
    */
  def noDecimals(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(_.dataType.isInstanceOf[DecimalType])) df
    else df.select(df.schema.fields.map { f =>
      val c: Column = col("`" + f.name + "`")
      f.dataType match {
        case _: DecimalType => c.cast("double").as(f.name)
        case _              => c
      }
    }.toIndexedSeq: _*)
}

/** The query registries' table readers, shared by [[CoreQueries]] and
  * [[PipelineQueries]]: `t` is [[Tables.load]], and `tw` is `t`
  * hash-repartitioned to engine width on `keys` — for queries whose
  * per-row CPU (multi-md5 sketching, decimal money math, wide aggregates)
  * dominates the scan. A compacted table (one parquet row group per file
  * — the gate tables' layout, and common after production compaction)
  * caps everything up to the first exchange at SCAN parallelism, which
  * can be a single task while the rest of the engine idles; one narrow
  * key-hash exchange up front runs the expensive pass at full width (the
  * guide's repartition-after-unsplittable-read rule, and the
  * t_text_stats precedent). Hash on a high-cardinality key, not
  * round-robin: round-robin pays the sort-before-repartition pass inside
  * the narrow scan stage. At multi-row-group scale the scan is already
  * wide and this exchange is a bounded one-pass cost the CPU-dense pass
  * amortizes.
  */
private[queries] object QueryTables {
  def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  def tw(s: SparkSession, dir: String, n: String, keys: String*): DataFrame = {
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    t(s, dir, n).repartition(width, keys.map(col): _*)
  }
}

object Tables {

  /** `sfDir/name.parquet` as a DataFrame. The relation (file listing plus
    * parquet schema inference, which runs a Spark job) is resolved once
    * per (session, sfDir, name) in [[SessionViews]]; every call returns a
    * fresh instance of it — new attribute ids, so two loads of one table
    * self-join cleanly — with the `ts` normalization on top. The files at
    * the path must not change while the session reads them: the test
    * tables are read-only, and each session-built store is written once,
    * before its first load.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val rel = SessionViews(spark, sfDir, s"table.$name") {
      spark.read.parquet(s"$sfDir/$name.parquet").queryExecution.analyzed
        .asInstanceOf[MultiInstanceRelation]
    }
    normalizeTs(GraftSqlBridge.ofRows(spark, rel.newInstance()))
  }

  /** The events table's `ts` has shipped in two generator encodings:
    * INT64 epoch NANOS (old pandas datetime64[ns], surfaced as LongType
    * via spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS)
    * (current generator — Spark reads TIMESTAMP_NTZ). All downstream
    * event-time arithmetic (hour buckets, interarrival gaps, range
    * windows, as-of) is defined on the epoch-nanos long axis, so
    * normalize the timestamp encodings back to it: `unix_micros` is
    * lossless and the ×1000 widening cannot overflow a long before the
    * year 2262. TIMESTAMP_NTZ → TIMESTAMP uses the session time zone,
    * which every entry point pins to UTC, so the instant is preserved
    * exactly — the same naive-UTC reading DuckDB's `epoch_ns(ts)` gives
    * the oracle side. Queries that never touch `ts` lose nothing:
    * Catalyst prunes the unused projection and the scan skips the
    * column.
    */
  private def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df
    }
  }

  private val rowCounts = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Exact table row count from parquet FOOTER metadata — a driver-side
    * file listing plus one footer read per part file, never a Spark job.
    * Query builders that size blocking parameters from corpus cardinality
    * (ANN bucket bits, IVF centroid counts) must use this instead of
    * `df.count()`: a count() inside a builder is a hidden full-pass job
    * paid on EVERY query construction, and at 100 TB that second scan
    * dwarfs the query itself. Footer row counts are exact (parquet stores
    * them per row group) and cached per path for the JVM's lifetime —
    * which assumes the table is immutable at that path (true for the
    * read-only test tables; a store that rewrites in-session must not
    * size from this cache).
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val path = s"$sfDir/$name.parquet"
    rowCounts.getOrElseUpdate(path, footerRowCount(spark, path))
  }

  /** Uncached footer row count for an arbitrary parquet path — for
    * MUTABLE stores (streaming ingest, compaction targets) where the
    * per-path cache behind [[rowCount]] would go stale.
    */
  def rowCountAt(spark: SparkSession, path: String): Long =
    footerRowCount(spark, path)

  private def footerRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val files =
      if (fs.getFileStatus(p).isDirectory) {
        // recursive: partitionBy layouts nest part files in subdirectories
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val s = it.next()
          if (s.isFile && s.getPath.getName.endsWith(".parquet"))
            buf += s.getPath
        }
        buf.toArray
      } else Array(p)
    // an empty listing means the layout isn't what we expect (no .parquet
    // parts at all) — sizing blocking parameters from 0 would silently
    // clamp them to minimums; fail loud instead
    require(files.nonEmpty, s"no .parquet part files under $path")
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
