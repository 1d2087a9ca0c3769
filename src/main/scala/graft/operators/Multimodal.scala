package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (SURVEY §2B E40; north-star mandate).
  *
  * Media travels as an opaque `binary` payload plus a typed metadata
  * struct — the riff envelope generalized (SURVEY §1.5). The Spark-side
  * plumbing (schema, per-partition batch decode via `mapPartitions`, typed
  * rows, partition sizing) is real and tested; the codec itself is a
  * clearly-marked STUB because this container ships no image/audio
  * libraries — `decodeStub` derives deterministic pseudo-metadata from the
  * payload bytes so the pipeline is end-to-end verifiable, and a real
  * deployment swaps [[MediaDecoder]] for a JNI/FFI codec with the same
  * signature.
  *
  * Scale notes: decode runs inside `mapPartitions`, one decoder instance
  * per task (same lifecycle seam as the gRPC [[graft.functions.MessageFunction]]);
  * payloads never shuffle — decode→feature-extract→project happens
  * scan-side, and only features/metadata flow onward.
  */
object Multimodal {

  /** A media row: opaque bytes + envelope metadata. */
  case class MediaRow(media_id: Long, modality: String, payload: Array[Byte],
      source: String)

  /** Decoded metadata — the shape a real image/audio decoder fills. */
  case class DecodedMedia(media_id: Long, modality: String, source: String,
      n_bytes: Int, width: Int, height: Int, n_frames: Int,
      feature: Array[Float])

  /** Decoder contract: one instance per partition-task. */
  trait MediaDecoder extends Serializable {
    def decode(m: MediaRow): DecodedMedia
  }

  /** STUB codec — deterministic arithmetic on the payload so tests and
    * oracles can verify the plumbing. A real build replaces this with an
    * actual image/audio decode (??? in spirit; kept runnable). */
  object StubDecoder extends MediaDecoder {
    override def decode(m: MediaRow): DecodedMedia = {
      val n = m.payload.length
      // fake dimensions/frame count derived from byte length only
      val width = n % 640
      val height = n % 480
      val frames = if (m.modality == "video") n % 30 else 1
      // fake 8-dim feature: byte-sum folded per lane — deterministic,
      // cheap, and exactly reproducible in SQL for the oracle
      val feature = new Array[Float](8)
      var i = 0
      while (i < n) {
        feature(i % 8) += (m.payload(i) & 0xff).toFloat
        i += 1
      }
      DecodedMedia(m.media_id, m.modality, m.source, n, width, height,
        frames, feature)
    }
  }

  /** Per-row STUB resize (also the building block for fused single-pass
    * pipelines): a real build re-encodes the payload at (w, h); the stub
    * truncates/pads bytes proportionally so output size tracks the
    * target dimensions deterministically. */
  def resizeRow(m: MediaRow, w: Int, h: Int): MediaRow = {
    val target = math.max(1, (m.payload.length.toLong * w * h /
      math.max(1, 640 * 480)).toInt)
    m.copy(payload = java.util.Arrays.copyOf(m.payload, target))
  }

  /** STUB resize over a Dataset — signature and partition behavior match
    * the real operator. */
  def resizeStub(media: Dataset[MediaRow], w: Int, h: Int)
      : Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(resizeRow(_, w, h)))
  }

  /** Per-row STUB frame sampling: a real build decodes and keeps every
    * k-th frame; the stub strides over fixed-size fake "frames" of the
    * byte payload. Non-video rows pass through. */
  def frameSampleRow(m: MediaRow, everyK: Int,
      frameBytes: Int = 64): MediaRow =
    if (m.modality != "video") m
    else {
      val frames = m.payload.grouped(frameBytes).toArray
      val kept = frames.zipWithIndex.collect {
        case (f, i) if i % everyK == 0 => f
      }
      m.copy(payload = kept.flatten)
    }

  /** STUB frame sampling over a Dataset. */
  def frameSampleStub(media: Dataset[MediaRow], everyK: Int,
      frameBytes: Int = 64): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(frameSampleRow(_, everyK, frameBytes)))
  }

  /** Wrap a text table as media rows (the testdata carries no real media;
    * payload = UTF-8 bytes, modality round-robined). */
  def documentsAsMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"),
        // null text ⇒ empty payload: the transform stubs dereference the
        // byte array, and a null media body carries no information an
        // empty one doesn't
        coalesce(col("text"), lit("")).cast("binary").as("payload"),
        col("source"))
      .as[MediaRow]
  }

  /** Ingest a directory of raw media FILES as media rows — the real
    * ingestion surface for image/audio/video corpora, via Spark's
    * `binaryFile` source: each file becomes (path, modificationTime,
    * length, content), streamed straight into the envelope schema with
    * no driver-side file listing loop. `pathGlobFilter` prunes at the
    * listing (only matching files are ever opened), and modality is
    * derived from the file extension. `media_id` is the xxhash64 of the
    * path — stable across re-ingests of the same tree.
    *
    * Scale note: binaryFile caps single-file size at
    * `spark.sql.sources.binaryFile.maxLength` (2 GB default); bigger
    * assets should land as chunked rows upstream. Files are
    * splittable-by-file, not within a file, so parallelism = file count
    * — the right granularity for media corpora. */
  def readBinaryDir(spark: SparkSession, dir: String,
      glob: String = "*"): Dataset[MediaRow] = {
    import spark.implicits._
    val ext = lower(element_at(split(col("path"), "\\."), -1))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(xxhash64(col("path")).as("media_id"),
        when(ext.isin("jpg", "jpeg", "png", "gif", "bmp"), "image")
          .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
          .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
          .otherwise("binary").as("modality"),
        col("content").as("payload"),
        col("path").as("source"))
      .as[MediaRow]
  }

  /** Batch decode: one decoder per partition, payloads never leave the
    * scan stage. */
  def decodeAll(media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it => it.map(decoder.decode) }
  }

  /** Metadata + feature projection used by the oracle query. */
  def decodedMeta(spark: SparkSession, dir: String): DataFrame = {
    decodeAll(documentsAsMedia(spark, dir))
      .select(col("media_id"), col("modality"), col("n_bytes"),
        col("width"), col("height"), col("n_frames"),
        round(element_at(col("feature"), 1).cast("double"), 2).as("f0"))
  }
}
