package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video ride as opaque `binary` columns with typed metadata, and
  * decode / feature-extract / resize / frame-sample run as BATCHED
  * per-partition operators (`Dataset.mapPartitions` — the Scala analogue
  * of `mapInPandas`: one iterator per partition, arbitrary native code per
  * batch, no per-row JVM↔native chatter).
  *
  * The actual media decoding is STUBBED with [[StubCodec]] — a
  * deterministic fake (media libraries are not available here) — but the
  * Spark-side contract is real: schema, encoders, partition-batch shape,
  * and the composition into the similarity layer are all exercised and
  * tested. Swap [[Codec]] for a JNI/FFmpeg-backed one without touching the
  * plan.
  *
  * Scale notes: media bytes never shuffle except when explicitly
  * repartitioned for decode parallelism (`repartitionForDecode`); feature
  * extraction emits small fixed-width vectors, so downstream joins carry
  * kilobytes, not frames.
  */
object Multimodal {

  final case class MediaMeta(
      width: Int, height: Int, sampleRate: Int, durationMs: Long,
      format: String)

  final case class MediaItem(
      media_id: Long, kind: String, content: Array[Byte])

  final case class DecodedMedia(
      media_id: Long, kind: String, width: Int, height: Int,
      sample_rate: Int, duration_ms: Long, format: String)

  final case class MediaFeatures(
      media_id: Long, features: Array[Float])

  final case class MediaFrame(
      media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Pluggable media codec — swap the stub for a real implementation. */
  trait Codec extends Serializable {
    def decodeMeta(kind: String, bytes: Array[Byte]): MediaMeta
    def features(kind: String, bytes: Array[Byte], dims: Int): Array[Float]
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
    def frames(bytes: Array[Byte], n: Int): Seq[Array[Byte]]
  }

  /** Deterministic fake codec: "headers" are read from the leading bytes,
    * features are byte-derived — stable across engines and runs, so tests
    * and oracles can verify the plumbing end-to-end.
    */
  object StubCodec extends Codec {
    private def b(bytes: Array[Byte], i: Int): Int =
      if (i < bytes.length) bytes(i) & 0xff else 0
    def decodeMeta(kind: String, bytes: Array[Byte]): MediaMeta = MediaMeta(
      width = 1 + (b(bytes, 0) & 0x7f),
      height = 1 + (b(bytes, 1) & 0x7f),
      sampleRate = 8000 + 100 * b(bytes, 2),
      durationMs = 1000L + b(bytes, 3).toLong * 100,
      format = kind match {
        case "image" => "png"
        case "audio" => "wav"
        case _ => "mp4"
      })
    // `max 1` guards empty content like frames() below — one zero-byte
    // blob in the corpus must not kill the job with a division by zero
    def features(kind: String, bytes: Array[Byte], dims: Int): Array[Float] =
      Array.tabulate(dims)(i =>
        ((b(bytes, i % (bytes.length max 1)) - 128) / 128.0f))
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val out = new Array[Byte]((w * h) min 4096)
      var i = 0
      while (i < out.length) {
        out(i) = if (bytes.isEmpty) 0 else bytes(i % bytes.length)
        i += 1
      }
      out
    }
    def frames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] =
      (0 until n).map(i => bytes.drop(i % (bytes.length max 1)))
  }

  /** Spread media rows for decode parallelism: hash-partition on media_id
    * so each task decodes an even share (media blobs skew by size; at
    * scale pair this with `spark.sql.files.maxPartitionBytes` on ingest).
    */
  def repartitionForDecode(ds: Dataset[MediaItem], partitions: Int): Dataset[MediaItem] =
    ds.repartition(partitions, col("media_id"))

  /** Batched metadata decode: one codec invocation per row, one iterator
    * per partition (the mapInPandas batch shape).
    */
  def decodeMeta(ds: Dataset[MediaItem], codec: Codec = StubCodec): Dataset[DecodedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { item =>
      val m = codec.decodeMeta(item.kind, item.content)
      DecodedMedia(item.media_id, item.kind, m.width, m.height,
        m.sampleRate, m.durationMs, m.format)
    })
  }

  /** Batched feature extraction: binary → fixed-width float vector,
    * composable with [[graft.similarity.Similarity]] operators.
    */
  def extractFeatures(ds: Dataset[MediaItem], dims: Int,
      codec: Codec = StubCodec): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(item =>
      MediaFeatures(item.media_id, codec.features(item.kind, item.content, dims))))
  }

  /** Batched resize: new binary + updated metadata. */
  def resize(ds: Dataset[MediaItem], w: Int, h: Int,
      codec: Codec = StubCodec): Dataset[MediaItem] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(item =>
      item.copy(content = codec.resize(item.content, w, h))))
  }

  /** Frame sampling: one row per sampled frame (flatMap shape — row
    * explosion happens inside the partition, no shuffle).
    */
  def sampleFrames(ds: Dataset[MediaItem], n: Int,
      codec: Codec = StubCodec): Dataset[MediaFrame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(item =>
      codec.frames(item.content, n).zipWithIndex.map { case (f, i) =>
        MediaFrame(item.media_id, i, f)
      }))
  }

  /** Synthesize a deterministic media corpus from the documents table
    * (content = md5 bytes of the text): exercises the binary-column path
    * with oracle-reproducible values.
    */
  def synthesizeFromDocs(docs: DataFrame): Dataset[MediaItem] = {
    import docs.sparkSession.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        // pmod, not %: Spark's % preserves sign, so a negative doc_id
        // would index 0 (runtime error) or -1 (silently the wrong kind)
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        unhex(md5(col("text").cast("binary"))).as("content"))
      .as[MediaItem]
  }
}
