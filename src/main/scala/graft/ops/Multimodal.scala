package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Opaque media record: the multimodal column convention (SURVEY §2.3
  * L12) — payload is an opaque `binary` column, metadata is typed.
  * Image/audio/video all ride the same shape; `mediaType` selects the
  * decoder.
  */
final case class MediaRecord(
    docId: Long,
    mediaType: String,
    payload: Array[Byte],
    sourceUri: String)

/** Decoded features. Width/height/durationMs are decoder outputs; for
  * the stub decoder they are deterministic functions of the payload. */
final case class MediaFeatures(
    docId: Long,
    mediaType: String,
    byteLen: Int,
    sha256: String,
    width: Int,
    height: Int,
    durationMs: Long)

/** One sampled frame reference from a video payload. */
final case class FrameSample(docId: Long, frameIndex: Int, offsetMs: Long)

/** Multimodal-column plumbing: schema, partition-preserving batched
  * decode, frame sampling. The Spark-side mechanics (encoders, batch
  * shape, partitioning) are real and tested; the codec itself is a
  * clearly-marked deterministic STUB because no image/audio libraries
  * exist in this container — production binds e.g. a JNI codec or
  * `mapInPandas`+PIL at exactly the `stubDecode` seam.
  *
  * Scale design: decode runs inside `mapPartitions` with bounded batch
  * buffers — executors stream record batches through the codec without
  * materializing a partition, the same execution shape as Arrow-batched
  * Pandas UDFs; no shuffle is introduced.
  */
object Multimodal {

  /** Lift a text corpus into media records (payload = encoded text as a
    * stand-in for real media bytes; the driver's tables carry no binary
    * column). */
  def toMediaRecords(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id").cast("long").as("docId"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("mediaType"),
        col("text").cast("binary").as("payload"),
        concat(lit("synthetic://"), col("source"), lit("/"), col("doc_id")).as("sourceUri"))
      .as[MediaRecord]
  }

  /** STUB decoder — deterministic fake. Production replaces this body
    * with a real codec call; everything around it stays. */
  private[ops] def stubDecode(r: MediaRecord): MediaFeatures = {
    val digest = MessageDigest.getInstance("SHA-256").digest(r.payload)
    val hex = digest.map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.take(8), 16)
    MediaFeatures(
      docId = r.docId,
      mediaType = r.mediaType,
      byteLen = r.payload.length,
      sha256 = hex,
      width = (h % 1920).toInt + 1,
      height = ((h / 1920) % 1080).toInt + 1,
      durationMs = if (r.mediaType == "image") 0L else (h % 600000L))
  }

  /** Batched per-partition decode: records stream through the codec in
    * `batchSize` groups (the Arrow-batch analogue). Partitioning is
    * preserved — no shuffle. */
  def decodeFeatures(ds: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // a real codec would decode `batch` as one vectorized call
        batch.map(stubDecode)
      }
    }
  }

  /** Sample up to `maxFrames` evenly-spaced frames per video payload. */
  def sampleFrames(ds: Dataset[MediaRecord], maxFrames: Int = 4): Dataset[FrameSample] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.filter(_.mediaType == "video").flatMap { r =>
      val feats = stubDecode(r)
      val n = math.min(maxFrames, math.max(1, (feats.durationMs / 10000L).toInt))
      (0 until n).map(i => FrameSample(r.docId, i, if (n == 1) 0L else i * feats.durationMs / (n - 1)))
    }
  }

  /** Resize stub: recompute target dims preserving aspect ratio; payload
    * untouched (a real implementation re-encodes). */
  def resizeStub(ds: Dataset[MediaFeatures], maxDim: Int): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { f =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(f.width, f.height))
      f.copy(
        width = math.max(1, (f.width * scale).toInt),
        height = math.max(1, (f.height * scale).toInt))
    }
  }
}
