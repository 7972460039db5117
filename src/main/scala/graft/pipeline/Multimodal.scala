package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media payloads are opaque binary columns
  * with typed metadata; decode / feature-extract run per-partition over
  * batches. The actual byte decoding is STUBBED (no image/audio libs in
  * this environment) behind `FakeCodec` — a deterministic stand-in — but
  * the Spark-side plumbing (schema, batching, partition-parallel map,
  * metadata struct) is real and tested.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = true)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("head_byte", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("media_type", StringType, nullable = true)))

  /** STUB decoder: a real implementation would parse image headers /
    * decode frames; this deterministic fake derives "dimensions" from the
    * payload so tests and oracles can pin the plumbing end to end. */
  object FakeCodec {
    def decode(bytes: Array[Byte]): (Int, Int) = {
      val n = bytes.length
      (n % 640, (n / 7) % 480)
    }
  }

  /** Wrap a text table as a media table (payload = UTF-8 bytes) — the
    * stand-in source for binary ingestion tests. */
  def asMedia(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(
      col(idCol).cast("long").as("doc_id"),
      encode(col(textCol), "UTF-8").as("media"),
      lit("text/plain").as("media_type"))

  /** Partition-parallel batch decode: mapPartitions over the binary rows
    * (the Scala analogue of a Pandas-UDF mapInPandas batch), emitting
    * typed metadata + fake-decoded dimensions. */
  def decode(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(decodedSchema)
    media.select("doc_id", "media", "media_type").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.empty[Byte] else r.getAs[Array[Byte]](1)
        val (w, h) = FakeCodec.decode(bytes)
        val head = if (bytes.isEmpty) -1 else bytes(0) & 0xff
        Row(id, bytes.length.toLong, head, w, h, if (r.isNullAt(2)) null else r.getString(2))
      }
    }(enc)
  }

  /** Deterministic frame sampling stub: pick every k-th byte as a "frame"
    * signature — stands in for video frame extraction; shows the
    * explode-to-frames shape (one row per sampled frame). */
  def sampleFrames(media: DataFrame, everyK: Int = 64): DataFrame = {
    val frameSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_sig", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(frameSchema)
    media.select("doc_id", "media").flatMap { r =>
      val id = r.getLong(0)
      val bytes = if (r.isNullAt(1)) Array.empty[Byte] else r.getAs[Array[Byte]](1)
      bytes.indices.by(everyK).map(i => Row(id, i / everyK, bytes(i) & 0xff))
    }(enc)
  }
}
