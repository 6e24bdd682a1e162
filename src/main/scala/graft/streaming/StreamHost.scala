package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** The one AvailableNow host of the streaming layer — the shape file
  * discovery (S1), per-file exactly-once (J4) and archival (S10) all map
  * to (SURVEY §2.8): a file source, a checkpoint and
  * `Trigger.AvailableNow`. A host is a source frame plus a sink function;
  * [[run]] feeds every file the checkpoint has not committed through the
  * sink, one micro-batch at a time, then stops. A restart skips what an
  * earlier pass committed, and a micro-batch interrupted between its sink
  * write and the checkpoint commit is redelivered under the SAME batch id
  * from the SAME offsets — which is what [[overwriteBatch]] makes
  * harmless for the partial stores.
  */
object StreamHost {

  /** Files per micro-batch of [[files]]: one, so the landing order fixes
    * the batch boundaries (the funnel's ordered-segments contract and
    * the streamed ≡ batch specs split on them).
    */
  private val FilesPerTrigger = "1"

  /** A parquet file-landing stream over `glob`, one file per micro-batch. */
  def files(spark: SparkSession, glob: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(glob)

  /** Run one AvailableNow pass of `source` into `sink`, checkpointed at
    * `checkpointDir`. Returns the number of micro-batches run — 0 when the
    * checkpoint has already committed every file.
    */
  def run(source: DataFrame, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): Long =
    drain(source.writeStream, checkpointDir, sink)

  /** [[run]] under a query name, for hosts that listeners key on. */
  private[streaming] def runNamed(name: String, source: DataFrame,
      checkpointDir: String)(sink: (DataFrame, Long) => Unit): Long =
    drain(source.writeStream.queryName(name), checkpointDir, sink)

  private def drain(writer: DataStreamWriter[org.apache.spark.sql.Row],
      checkpointDir: String, sink: (DataFrame, Long) => Unit): Long = {
    var batches = 0L
    val q = writer
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches += 1
        sink(batch, batchId)
      }
      .start()
    q.awaitTermination()
    batches
  }

  /** Tag `df` with `batch_id` and write it as a dynamic partition
    * overwrite of `path` — the replay guard of every partial store: a
    * redelivered batch replaces its own `batch_id=` partition
    * bit-for-bit (torn files included) and touches no other, so the store
    * is exactly-once per batch id.
    */
  def overwriteBatch(df: DataFrame, batchId: Long, path: String): Unit =
    // per-write option, NOT a session conf: a sink frame built on a
    // broadcast side (DecontamStream's eval frame) inherits that OUTER
    // session, so a conf set on the micro-batch clone would never reach
    // this write — the overwrite would silently turn STATIC and each batch
    // would wipe the store. A session conf would also turn any concurrent
    // overwrite on the same session dynamic.
    df.withColumn("batch_id", lit(batchId))
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("batch_id").parquet(path)
}
