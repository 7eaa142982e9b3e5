package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §2.7 X5): image/audio/video as
  * opaque `binary` columns with typed metadata, plus decode / feature-extract
  * / frame-sample operators implemented as `mapPartitions` over the binary
  * payload.
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * environment) with a deterministic fake decoder — everything around it
  * (schema, batch iteration, partition sizing, null-safety) is the real
  * Spark-side contract a production decoder would plug into. Swap
  * [[StubCodec.decodeImage]] for a real JNI/library call and nothing else
  * changes.
  *
  * Scale posture: binary payloads ride in the row (parquet binary columns);
  * decode work is per-partition with no shuffle; `maxPartitionBytes` sizing
  * governs decoder memory. Metadata-only queries never touch the bytes
  * (column pruning drops the binary column at the scan).
  */
object Multimodal {

  /** Wrap a (id, bytes, kind) frame into the media envelope with computed
    * metadata — the ingest normalization step. */
  def toMediaFrame(df: DataFrame, idCol: String, bytesCol: String, kindCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(kindCol).as("media_type"),
      col(bytesCol).cast("binary").as("payload"),
      length(col(bytesCol).cast("binary")).cast("long").as("n_bytes"),
      sha2(col(bytesCol).cast("binary"), 256).as("checksum"))

  /** Deterministic stand-in for the real codec layer. */
  object StubCodec {
    /** STUB — a real implementation would decode the image and return
      * (width, height, channels). The fake derives deterministic dims from
      * the payload so tests are stable. */
    def decodeImage(payload: Array[Byte]): (Int, Int, Int) = {
      val h = if (payload == null || payload.isEmpty) 0
              else java.util.Arrays.hashCode(payload)
      (math.abs(h % 1920) + 1, math.abs((h / 1920) % 1080) + 1, 3)
    }

    /** STUB — feature vector (a real impl runs an encoder model). The fake
      * is a deterministic byte-histogram-derived embedding. */
    def extractFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      if (payload != null) {
        var i = 0
        while (i < payload.length) {
          out(i % dim) += (payload(i) & 0xFF) / 255.0f
          i += 1
        }
      }
      out
    }

    /** The CERTIFIED-INTEGER twin of [[extractFeatures]]: the identical
      * strided byte fold carried as exact int64 sums (`out(i % dim) +=
      * payload(i) & 0xFF`) instead of the /255 float accumulation — same
      * access pattern, same plumbing, but every output is an integer a SQL
      * oracle can replay bit-for-bit over the payload bytes. This is the
      * evidence path for the codec stub family: the float twin stays the
      * declared production shape. */
    def extractFeaturesInt(payload: Array[Byte], dim: Int): Array[Long] = {
      val out = new Array[Long](dim)
      if (payload != null) {
        var i = 0
        while (i < payload.length) {
          out(i % dim) += (payload(i) & 0xFF).toLong
          i += 1
        }
      }
      out
    }
  }

  /** Decode metadata for image payloads — `mapPartitions` so a real decoder
    * could amortize per-partition init (model load, codec context). Output
    * keeps (media_id, width, height, channels). */
  def decodeImages(media: DataFrame): DataFrame = {
    val enc = Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false))))
    media.select("media_id", "payload").mapPartitions { rows =>
      // per-partition decoder init would happen here
      rows.map { r =>
        val (w, h, c) = StubCodec.decodeImage(r.getAs[Array[Byte]]("payload"))
        Row(r.getLong(0), w, h, c)
      }
    }(enc)
  }

  /** Integer-certified feature extraction ([[StubCodec.extractFeaturesInt]])
    * through the same `mapPartitions` plumbing as [[extractFeatures]] —
    * identical schema shape, partition iteration, and per-partition init
    * point, so certifying this path certifies the plumbing the float/real
    * codec rides on. */
  def extractFeaturesInt(media: DataFrame, dim: Int = 16): DataFrame = {
    val enc = Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features_int", ArrayType(LongType, containsNull = false), nullable = false))))
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0),
          StubCodec.extractFeaturesInt(r.getAs[Array[Byte]]("payload"), dim).toSeq)
      }
    }(enc)
  }

  /** Feature extraction: binary payload → `array<float>` embedding column,
    * ready for the [[Similarity]] operators. */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val enc = Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false))))
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0), StubCodec.extractFeatures(r.getAs[Array[Byte]]("payload"), dim).toSeq)
      }
    }(enc)
  }
}
