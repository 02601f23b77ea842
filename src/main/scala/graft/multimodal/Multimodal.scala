package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column support (north-star mandate): media as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The Spark-side plumbing is real — schemas, typed Datasets, partition-wise
  * batch iteration (`mapPartitions`, the Scala analog of a Pandas-batch UDF:
  * one decoder instantiation per partition, streamed row batches) — behind a
  * pluggable `Codec`. Two implementations ship: `ImageIoCodec`, a REAL
  * pure-JVM image decoder (JDK ImageIO — PNG/BMP/GIF/JPEG, no native libs),
  * and `FakeCodec`, a deterministic byte-arithmetic stub that the DuckDB
  * oracle can reproduce (the driver gate cannot decode PNG, so the
  * oracle-checked queries run the stub; PhashSpec fingerprints real pixels
  * through the same stages). Audio/video decode remains stubbed — no codec
  * for those exists in the JDK.
  */
object Multimodal {

  /** A media row: opaque payload + envelope metadata. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      source: String)

  /** Decoded media: envelope + extracted metadata + a feature vector. */
  case class Decoded(media_id: Long, kind: String, source: String,
                     width: Int, height: Int, n_frames: Int,
                     byte_len: Long, features: Array[Float])

  /** Pluggable media decoder. `decode` extracts envelope metadata + a small
    * feature vector; `lumaPlane` renders the payload as a row-major 8-bit
    * luminance plane — the input every perceptual fingerprint
    * (`phashOf`) windows over. Implementations must be Serializable: one
    * instance ships to each executor and is reused across the partition's
    * rows (the mapPartitions batch shape). */
  trait Codec extends Serializable {
    def decode(kind: String, payload: Array[Byte]): (Int, Int, Int, Array[Float])
    def lumaPlane(payload: Array[Byte]): Array[Byte]
  }

  /** ==== STUB ====
    * Deterministic fake decoder standing in for a real image/audio/video
    * codec in the ORACLE path (the driver's DuckDB twin can reproduce its
    * byte arithmetic; it cannot decode PNG). Metadata and features are pure
    * functions of the payload bytes, so tests are reproducible and the
    * distributed plumbing (serialization, batching, partitioning) is
    * exercised for real. For real pixels, see `ImageIoCodec`. */
  object FakeCodec extends Codec {
    /** The stub's "luma plane" is the payload itself — `phashOf` windows
      * raw bytes, which is what the oracle twin reproduces. */
    def lumaPlane(payload: Array[Byte]): Array[Byte] = payload

    def decode(kind: String, payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      val h = payload.foldLeft(17L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
      val width = (h % 640).toInt + 16
      val height = ((h / 640) % 480).toInt + 16
      val frames = kind match {
        case "video" => (h % 120).toInt + 2
        case _ => 1
      }
      // fake 8-dim feature: windowed byte averages
      val n = math.max(1, payload.length / 8)
      val feats = (0 until 8).map { i =>
        val slice = payload.slice(i * n, math.min((i + 1) * n, payload.length))
        if (slice.isEmpty) 0f
        else slice.map(b => (b & 0xff).toFloat).sum / slice.length / 255f
      }.toArray
      (width, height, frames, feats)
    }
  }

  /** REAL pure-JVM image codec: `javax.imageio.ImageIO` (PNG/BMP/GIF/JPEG
    * readers ship in the JDK — no native libraries, works in this offline
    * container). `decode` reports true pixel dimensions and 8 windowed luma
    * means as the feature vector; `lumaPlane` is the row-major ITU-R BT.601
    * integer luma (299·R + 587·G + 114·B) / 1000 — so `phashOf` over it is
    * a real image aHash: re-encoding the same pixels in another lossless
    * format yields the identical fingerprint, and a local edit flips only
    * the bits whose windows cover the edited rows (PhashSpec pins both).
    * Wire it with `decodeWith`/`phashWith`; the oracle-checked queries stay
    * on FakeCodec because DuckDB cannot decode PNG. */
  object ImageIoCodec extends Codec {
    private def image(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image")
      img
    }

    private def lumaOf(img: java.awt.image.BufferedImage): Array[Byte] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val l = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
            + 114 * (rgb & 0xff)) / 1000
          out(y * w + x) = l.toByte
          x += 1
        }
        y += 1
      }
      out
    }

    def lumaPlane(payload: Array[Byte]): Array[Byte] = lumaOf(image(payload))

    def decode(kind: String, payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      val img = image(payload)
      val luma = lumaOf(img)
      val n = math.max(1, luma.length / 8)
      val feats = (0 until 8).map { i =>
        val slice = luma.slice(i * n, math.min((i + 1) * n, luma.length))
        if (slice.isEmpty) 0f
        else slice.map(b => (b & 0xff).toFloat).sum / slice.length / 255f
      }.toArray
      (img.getWidth, img.getHeight, 1, feats)
    }
  }

  /** Synthesize a media table from `documents` (deterministic: payload =
    * UTF-8 bytes of the text; kind cycles by doc_id). Stands in for reading
    * real blobs; at scale this is `spark.read.format("binaryFile")`. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.parquet(spark, s"$dir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        col("source"))
      .as[MediaRow]
  }

  /** Decode stage: partition-wise batch map — the decoder is instantiated
    * once per partition (like a Pandas-batch UDF), rows stream through it.
    * Narrow transformation: no shuffle, scales with input partitions. */
  def decode(media: Dataset[MediaRow]): Dataset[Decoded] =
    decodeWith(media, FakeCodec)

  /** Codec-parameterized decode: same partition-wise batch shape, any
    * `Codec` (ImageIoCodec for real pixels, FakeCodec for the oracle). */
  def decodeWith(media: Dataset[MediaRow], codec: Codec): Dataset[Decoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder setup would happen here (codec init, buffers)
      rows.map { r =>
        val (w, h, f, feats) = codec.decode(r.kind, r.payload)
        Decoded(r.media_id, r.kind, r.source, w, h, f, r.payload.length.toLong, feats)
      }
    }
  }

  /** Declared-query form: decoded metadata aggregated by kind — runs the
    * whole synthesize → mapPartitions-decode → typed-Dataset → aggregate
    * path under the oracle (FakeCodec's arithmetic is reproducible in SQL
    * for ASCII payloads, so even the stub is correctness-checked). */
  def decodeStats(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    decode(mediaTable(spark, dir)).toDF()
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n"),
        sum(col("width").cast("long")).as("sum_w"),
        sum(col("height").cast("long")).as("sum_h"),
        sum(col("n_frames").cast("long")).as("sum_frames"),
        sum(col("byte_len")).as("sum_bytes"))
      .orderBy("kind")
  }

  /** Resize stage: metadata transform + feature rescale (stub arithmetic;
    * a real resize would re-decode the payload). Pure column ops. */
  def resize(decoded: Dataset[Decoded], maxSide: Int): DataFrame =
    decoded.toDF()
      .withColumn("scale",
        least(lit(1.0), lit(maxSide) / greatest(col("width"), col("height"))))
      .withColumn("out_width", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", floor(col("height") * col("scale")).cast("int"))
      .drop("scale")

  /** Frame sampling for videos: every `stride`-th frame index, exploded to
    * one row per sampled frame (sequence + explode — no UDF, codegen'd). */
  def sampleFrames(decoded: Dataset[Decoded], stride: Int): DataFrame =
    decoded.toDF()
      .filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select("media_id", "n_frames", "frame_idx")

  /** Declared-query form of `resize`: the decode → resize pipeline's
    * per-media metadata (stub decode, real plumbing). The scale factor is
    * double arithmetic mirrored EXACTLY in the oracle (least/greatest/
    * floor over IEEE doubles — both engines compute the identical value,
    * the repo's float discipline), so the stage is correctness-checked,
    * not just smoke-run. Narrow plan: scan → map, no shuffle. */
  def resizeStats(spark: SparkSession, dir: String): DataFrame =
    resize(decode(mediaTable(spark, dir)), 256)
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("out_width"), col("out_height"))
      .orderBy("media_id")

  /** Declared-query form of `sampleFrames`: stride-8 frame plan for every
    * video. Output is one row per SAMPLED frame — the fan-out a video
    * training pipeline feeds to the frame decoder; at 100 TB the explode
    * stays narrow (no shuffle) and the downstream decode is the same
    * mapPartitions batch shape as `decode`. */
  def frameStats(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(decode(mediaTable(spark, dir)), 8)
      .orderBy("media_id", "frame_idx")

  /** Perceptual-hash bits (60, the SimHash width — bit 63 would need
    * two's-complement shift agreement across engines; 60 avoids it). */
  val PhashBits = 60
  /** LSH bands over the hash for the near-dup pair join: 4 × 15 bits. */
  val PhashBands = 4
  /** Max hamming distance for a reported near-dup pair. */
  val PhashHamMax = 3

  /** Average-hash (aHash) over the payload — the classic image
    * perceptual fingerprint (per-block mean vs global mean), on the stub's
    * byte plane: bit i covers window [i·n/60, (i+1)·n/60) and is set iff
    * the window's byte mean exceeds the global mean. INTEGER-ONLY compare
    * (ws·n > total·wl — division-free, exact at any payload size), so the
    * DuckDB twin reproduces every bit. A real codec would feed the decoded
    * luma plane through the same windowing; only this function changes. */
  def phashOf(payload: Array[Byte]): Long = {
    val n = payload.length
    var total = 0L
    var j = 0
    while (j < n) { total += (payload(j) & 0xff); j += 1 }
    var h = 0L
    var i = 0
    while (i < PhashBits) {
      val st = (i.toLong * n / PhashBits).toInt
      val en = ((i + 1).toLong * n / PhashBits).toInt
      var ws = 0L
      j = st
      while (j < en) { ws += (payload(j) & 0xff); j += 1 }
      if (ws * n > total * (en - st)) h |= (1L << i)
      i += 1
    }
    h
  }

  /** A fingerprinted media row. */
  case class Phashed(media_id: Long, kind: String, phash: Long)

  /** Fingerprint stage: same partition-wise batch shape as `decode` (codec
    * init once per partition; narrow, no shuffle). */
  def phash(media: Dataset[MediaRow]): Dataset[Phashed] =
    phashWith(media, FakeCodec)

  /** Codec-parameterized fingerprint: `phashOf` windows whatever luma
    * plane the codec renders — raw bytes for the stub, real BT.601 pixels
    * for ImageIoCodec. */
  def phashWith(media: Dataset[MediaRow], codec: Codec): Dataset[Phashed] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r =>
      Phashed(r.media_id, r.kind, phashOf(codec.lumaPlane(r.payload)))))
  }

  /** q_multimodal_phash: the per-media fingerprint table — what an image
    * dedup pipeline persists (8 bytes per media item). */
  def phashStats(spark: SparkSession, dir: String): DataFrame =
    phash(mediaTable(spark, dir)).toDF()
      .select("media_id", "kind", "phash")
      .orderBy("media_id")

  /** q_multimodal_dedup: near-duplicate MEDIA pairs — hamming ≤ 3 on the
    * perceptual hash, candidates blocked by 15-bit LSH bands (the
    * q_dedup_simhash_pairs machinery on the image modality: a hamming-≤3
    * pair agrees exactly on ≥1 of 4 bands, so the equi-join finds every
    * true pair and the quadratic term is bounded per band bucket). This
    * completes near-dup detection across the three modalities: token sets
    * (minhash), embeddings (cosine LSH), media payloads (phash). */
  def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    val bandBits = PhashBits / PhashBands
    val mask = (1L << bandBits) - 1
    // the Dedup.MinhashMaxClass discipline on hash classes: only the cap
    // smallest media per IDENTICAL hash are pair-eligible, so an m-fold
    // re-uploaded image emits C(cap,2) distance-0 pairs, not C(m,2) —
    // every declared pair query in the engine is linear under duplication
    // (DuckDB twin mirrors the qualification)
    val p = phash(mediaTable(spark, dir)).toDF()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("phash").orderBy("media_id")))
      .filter(col("rn") <= graft.llm.Dedup.MinhashMaxClass)
      .drop("rn")
    val bands = p.select(col("media_id"), col("phash"),
      explode(expr(s"transform(sequence(0, ${PhashBands - 1}), " +
        s"b -> struct(b AS band, shiftright(phash, b * $bandBits) & $mask AS bh))")).as("t"))
      .select(col("media_id"), col("phash"), col("t.band").as("band"), col("t.bh").as("bh"))
    bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        expr("CAST(bit_count(x.phash ^ y.phash) AS BIGINT)").as("dist"))
      .distinct()
      .filter(col("dist") <= PhashHamMax)
      .orderBy("media_a", "media_b")
  }
}
