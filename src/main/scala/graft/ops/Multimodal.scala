package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus decode / feature-extract / resize / frame-sample
  * plumbing.
  *
  * ==STUBS== No image/audio codecs ship in this container, so the byte-level
  * decode below is a DETERMINISTIC FAKE (hash-derived dimensions/features),
  * clearly marked. Everything around it — the asset schema, the
  * `mapPartitions` batch shape (the Scala analog of `mapInPandas`: one
  * iterator per partition so a real decoder amortizes model/codec init across
  * the partition), partitioning, and output schemas — is the real production
  * plumbing and is tested.
  *
  * Scale note: assets are large blobs; all operators here are narrow
  * (per-partition) and never shuffle payload bytes. Feature outputs are slim
  * typed rows — only those flow into downstream joins.
  */
object Multimodal {

  /** Canonical asset schema: opaque payload + typed metadata. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType),        // image | audio | video
    StructField("payload", BinaryType),          // opaque encoded bytes
    StructField("meta", MapType(StringType, StringType))
  ))

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("features", ArrayType(FloatType))
  ))

  /** STUB decoder: derives deterministic pseudo-dimensions and a feature
    * vector from the payload bytes. A real deployment replaces ONLY the body
    * of this function with an actual codec (e.g. TwelveMonkeys/javacv), keeping
    * the signature — the per-partition batching shape stays identical.
    */
  def stubDecodeImage(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val h = if (payload == null) 0L else {
      var acc = 0xcbf29ce484222325L
      var i = 0
      while (i < payload.length) { acc ^= payload(i); acc *= 0x100000001b3L; i += 1 }
      acc
    }
    val width = 64 + (math.abs(h) % 1024).toInt
    val height = 64 + (math.abs(h >>> 16) % 1024).toInt
    val feats = Array.tabulate(16)(i => ((Dedup.mix64(h ^ i) & 0xFFFF).toFloat / 65535.0f))
    (width, height, 3, feats)
  }

  /** Decode + feature-extract images. `mapPartitions` so a real decoder would
    * initialize once per partition (the mapInPandas batch shape).
    */
  def decodeImages(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val enc = RowEncoder.encoderFor(imageFeatureSchema)
    assets
      .where(col("modality") === "image")
      .select(col("asset_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        // real impl: init codec/model HERE, once per partition
        rows.map { r =>
          val (w, ht, c, f) = stubDecodeImage(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), w, ht, c, f)
        }
      }(enc)
  }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", IntegerType),
    StructField("features", ArrayType(FloatType)) // MFCC-shaped stub vector
  ))

  /** STUB audio decoder — hash-derived sample rate / duration / features;
    * a real deployment swaps the body for an actual codec, keeping the
    * per-partition batch shape.
    */
  def stubDecodeAudio(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    val h = if (payload == null) 0L else {
      var acc = 0xcbf29ce484222325L
      var i = 0
      while (i < payload.length) { acc ^= payload(i); acc *= 0x100000001b3L; i += 1 }
      acc
    }
    val rates = Array(8000, 16000, 22050, 44100, 48000)
    val rate = rates((math.abs(h) % rates.length).toInt)
    val durMs = 500 + (math.abs(h >>> 16) % 60000).toInt
    val feats = Array.tabulate(13)(i => ((Dedup.mix64(h ^ (i + 100)) & 0xFFFF).toFloat / 65535.0f))
    (rate, durMs, feats)
  }

  /** Decode + feature-extract audio assets (same mapPartitions shape). */
  def decodeAudio(assets: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(audioFeatureSchema)
    assets
      .where(col("modality") === "audio")
      .select(col("asset_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (rate, dur, f) = stubDecodeAudio(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), rate, dur, f)
        }
      }(enc)
  }

  /** Frame sampling for video assets: emits (asset_id, frame_idx) every
    * `everyNth` frame of `frame_count` from metadata — the explode side of a
    * video pipeline; the frame decode itself is the stub decoder above.
    */
  def sampleFrames(assets: DataFrame, everyNth: Int): DataFrame =
    assets.where(col("modality") === "video")
      .withColumn("frame_count",
        coalesce(element_at(col("meta"), "frame_count").cast("int"), lit(0)))
      // zero-frame / missing-metadata assets emit NO rows (not a phantom frame 0)
      .where(col("frame_count") > 0)
      .select(col("asset_id"),
        explode(sequence(lit(0), col("frame_count") - 1, lit(everyNth))).as("frame_idx"))

  /** Synthesize a deterministic asset table from any keyed table — test/demo
    * input; payload bytes derive from the key.
    */
  def syntheticAssets(df: DataFrame, idCol: String, modality: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit(modality).as("modality"),
      // deterministic fake payload: the utf8 bytes of a key-derived string
      encode(concat(lit(s"$modality-payload-"), col(idCol)), "UTF-8").as("payload"),
      map(lit("frame_count"), (pmod(col(idCol), lit(32)) + 1).cast("string")).as("meta"))
}
