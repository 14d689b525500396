package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `BinaryType` columns plus a typed metadata struct —
  * the layout a 100 TB training-data lake actually uses (parquet with a
  * binary payload column, partitioned by modality/date; payloads never
  * pass through the driver). No image/audio codecs are installed, so
  * the byte-level steps here ([[sampleFrames]], [[resizeStub]]) are
  * STUBS that keep the surrounding plumbing — schema, exploded frame
  * shape, partition sizing — real and testable end-to-end;
  * [[withByteStats]] needs no codec at all.
  */
object Multimodal {

  /** Metadata carried next to every media payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Full media-table schema: metadata + opaque payload. */
  val mediaSchema: StructType =
    StructType(metaSchema.fields :+
      StructField("payload", BinaryType, nullable = false))

  /** STUB frame sampler: every `stride`-th fixed-size block of the
    * payload stands in for a decoded video frame. Output one row per
    * sampled frame: (media_id, frame_no, frame_bytes). The exploded
    * shape (and the fact that it multiplies row counts — repartition
    * after sampling) is the part that matters at scale.
    */
  def sampleFrames(media: DataFrame, blockSize: Int = 1024,
                   stride: Int = 4): DataFrame =
    media
      .withColumn("n_frames",
        expr(s"int(ceil(octet_length(payload) / cast($blockSize as double)))"))
      .withColumn("frame_no",
        explode(expr(s"filter(sequence(0, greatest(n_frames - 1, 0)), " +
          s"f -> f % $stride = 0)")))
      .withColumn("frame_bytes",
        expr(s"substring(payload, frame_no * $blockSize + 1, $blockSize)"))
      .select("media_id", "frame_no", "frame_bytes")

  /** STUB resize: a real implementation decodes, scales and re-encodes
    * the payload; the stub keeps every `factor`-th byte (deterministic,
    * byte-exact testable) so the payload shrinks ~factor×. The plumbing
    * that matters at scale is real: a per-partition binary transform
    * (resize state — scaler context, target profile — initialized once
    * per task), payload bytes never touch the driver, and the output
    * keeps the (media_id, payload) contract every downstream operator
    * expects. Output: (media_id, orig_bytes, payload).
    */
  def resizeStub(media: DataFrame, factor: Int = 2): DataFrame = {
    require(factor >= 1, "resize factor must be >= 1")
    val spark = media.sparkSession
    val out = media.select("media_id", "payload").rdd
      .mapPartitions { rows =>
        // per-partition init (scaler context stand-in)
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val resized = Array.tabulate((bytes.length + factor - 1) / factor)(
            j => bytes(j * factor))
          Row(id, bytes.length.toLong, resized)
        }
      }
    spark.createDataFrame(out, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("orig_bytes", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false))))
  }

  /** Byte-level metadata extraction as pure codegen'd SQL — the part of
    * the pipeline that needs no codec at all: sizes, digests, magic-byte
    * sniffing. Works on any BinaryType column.
    */
  def withByteStats(media: DataFrame, payloadCol: String = "payload"): DataFrame =
    media
      .withColumn("n_bytes", expr(s"bigint(octet_length($payloadCol))"))
      .withColumn("digest", md5(col(payloadCol)))
      .withColumn("head_hex", expr(s"hex(substring($payloadCol, 1, 4))"))
}
