package graft.operators.multimodal

import graft.operators.store.{IndexManifest, LeafStore}
import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media as opaque `binary` + typed metadata
  * struct, with decode/feature-extract as partition-wise batch functions.
  *
  * Decode is REAL where the JVM allows it: [[Codec]] sniffs each blob's
  * magic bytes and routes image containers to `javax.imageio`
  * ([[ImageCodec]] — PNG/JPEG/GIF/BMP pixels, headers, animation
  * frames), audio containers to `javax.sound.sampled` ([[AudioCodec]] —
  * RIFF/WAVE PCM), and MP4/MOV to an ISO BMFF box walker ([[VideoCodec]]
  * — header geometry/timing; the JDK ships no video pixel codec).
  * Everything else — including the driver's text-blob fixtures — runs
  * through the clearly-marked deterministic `FakeCodec` stand-in, which
  * also documents the swap point for heavier production decoders (JNI,
  * or Arrow-batched python via mapInArrow/mapInPandas).
  *
  * Scale: decode is a narrow map — no shuffle; partitions stay at parquet
  * split granularity so 100 TB of blobs decode with full parallelism.
  * Metadata-only predicates (width/codec/duration) are column filters that
  * never touch the blob bytes (parquet column pruning skips them).
  */
object Multimodal {

  /** STUB codec: deterministic fake decode. Replace with a real decoder in
    * production; signature and batch shape are the contract.
    */
  object FakeCodec {
    final case class Meta(width: Int, height: Int, nFrames: Int, codec: String)
    def probe(blob: Array[Byte], mediaId: Long): Meta = Meta(
      width = 16 + (mediaId % 64).toInt,
      height = 16 + (mediaId % 48).toInt,
      nFrames = 1 + (blob.length % 7),
      codec = if (mediaId % 2 == 0) "fake-h264" else "fake-av1")
    /** "Frame sample": deterministic byte slice standing in for a decoded
      * keyframe. ??? in spirit — no real pixels exist in this container.
      */
    def sampleFrame(blob: Array[Byte], frameIdx: Int): Array[Byte] = {
      val start = math.min(frameIdx * 8, math.max(blob.length - 8, 0))
      blob.slice(start, math.min(start + 8, blob.length))
    }

    /** "Resize": 1-D nearest-neighbor resampling of the blob to `n` bytes
      * (byte i of the output = source byte floor(i·len/n)) — the exact
      * index arithmetic of a nearest-neighbor image resize, one dimension
      * down. ??? in spirit: a real codec resamples pixels, not bytes.
      */
    def resize(blob: Array[Byte], n: Int): Array[Byte] =
      if (blob.isEmpty) Array.emptyByteArray // hex('') oracle-side
      else Array.tabulate(n)(i => blob(((i.toLong * blob.length) / n).toInt))

    /** "Feature extraction": 16-bucket byte histogram (bucket = high
      * nibble) — the stand-in for an embedding extractor; fixed-length
      * numeric vector per media, computed inside the decode seam.
      */
    def features(blob: Array[Byte]): Array[Long] = {
      val h = new Array[Long](16)
      var i = 0
      while (i < blob.length) { h((blob(i) & 0xFF) >>> 4) += 1L; i += 1 }
      h
    }
  }

  /** The codec seam's dispatcher: blobs whose magic bytes identify a real
    * container decode through the real parsers — images via
    * [[ImageCodec]] (the JDK's own PNG/JPEG/GIF/BMP codecs — real
    * headers, pixels, animation frames), audio via [[AudioCodec]]
    * (RIFF/WAVE PCM), MP4/MOV headers via [[VideoCodec]] — and
    * everything else routes to the synthetic [[FakeCodec]]. The driver
    * fixtures are text blobs — no magic — so the oracle-verified
    * mm01–mm05 lanes stay bit-identical on the synthetic contract, while
    * real media flows through the SAME operators (spec: a mixed
    * PNG/WAV/MP4 binary column through mediaTableFrom/resizedFrom/
    * featuresFrom; driver gate: mm06/mm07/mm08 round trips).
    */
  object Codec {
    /** Image containers probe through the JDK codecs; MP4/MOV video
      * containers through the ISO BMFF box walk ([[VideoCodec]] — real
      * presentation geometry; nFrames stays 1 because frame COUNT needs
      * the sample tables a pixel decoder would read, and this lane does
      * not pretend to decode video pixels); everything else synthetic.
      */
    def probe(blob: Array[Byte], mediaId: Long): FakeCodec.Meta =
      ImageCodec.probe(blob)
        .orElse(VideoCodec.probe(blob).map(v =>
          FakeCodec.Meta(v.width, v.height, 1, "mp4")))
        .getOrElse(FakeCodec.probe(blob, mediaId))

    /** Image frame sample = first 8 RGB bytes of the DECODED frame `idx`
      * (real pixels, real animation frames for GIF); synthetic fallback
      * keeps the byte-slice contract.
      */
    def sampleFrame(blob: Array[Byte], frameIdx: Int): Array[Byte] =
      ImageCodec.sniff(blob) match {
        case Some(_) => ImageCodec.decodeFrame(blob, frameIdx)
          .map(f => ImageCodec.rgbBytes(f).take(8))
          .getOrElse(FakeCodec.sampleFrame(blob, frameIdx))
        case None => FakeCodec.sampleFrame(blob, frameIdx)
      }

    /** All of one media's sampled frames in ONE container pass — the
      * per-media batch [[frameSamplesFrom]] uses so an N-frame animation
      * costs one parse, not N ([[ImageCodec.decodeFrames]]); synthetic
      * blobs keep the per-index byte slices.
      */
    def sampleFrames(blob: Array[Byte], indices: Seq[Int]): Seq[Array[Byte]] =
      ImageCodec.sniff(blob) match {
        case Some(_) =>
          ImageCodec.decodeFrames(blob, indices).zip(indices).map {
            case (Some(f), _) => ImageCodec.rgbBytes(f).take(8)
            case (None, i)    => FakeCodec.sampleFrame(blob, i)
          }
        case None => indices.map(FakeCodec.sampleFrame(blob, _))
      }

    /** Image resize = real 2-D nearest-neighbor resample to `target`,
      * payload = packed RGB; synthetic fallback keeps the 1-D `strip`-byte
      * resample.
      */
    def resize(blob: Array[Byte], strip: Int, target: (Int, Int)): Array[Byte] =
      ImageCodec.sniff(blob) match {
        case Some(_) => ImageCodec.decode(blob)
          .map(i => ImageCodec.rgbBytes(ImageCodec.resizeNN(i, target._1, target._2)))
          .getOrElse(FakeCodec.resize(blob, strip))
        case None => FakeCodec.resize(blob, strip)
      }

    /** Features = 16-bucket luminance histogram over real pixels for
      * image containers, 16-bucket amplitude histogram over real PCM
      * samples for audio containers ([[AudioCodec]]), byte histogram for
      * everything else. Same fixed length, same downstream shape.
      */
    def features(blob: Array[Byte]): Array[Long] =
      ImageCodec.sniff(blob) match {
        case Some(_) => ImageCodec.decode(blob)
          .map(ImageCodec.lumaHistogram16).getOrElse(FakeCodec.features(blob))
        case None => AudioCodec.sniff(blob) match {
          case Some(_) => AudioCodec.decodePcm16(blob)
            .map(AudioCodec.ampHistogram16).getOrElse(FakeCodec.features(blob))
          case None => FakeCodec.features(blob)
        }
      }
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("blob", BinaryType),
    StructField("byte_len", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("codec", StringType),
    StructField("frame0_hex", StringType)))

  /** documents → (media_id, blob): the one place the blob derivation
    * lives (text bytes stand in for real binary columns here).
    */
  private def mediaSrc(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("blob"))

  /** Build a media table from documents, then run the decode/probe stage
    * partition-wise.
    */
  def mediaTable(spark: SparkSession, d: String): DataFrame =
    mediaTableFrom(mediaSrc(spark, d))

  /** The decode/probe stage over ANY `(media_id: long, blob: binary)`
    * frame — the entry point for real media columns (parquet binary
    * columns of PNGs/WAVs/MP4s take this path; the documents-table
    * wrapper above is the driver-fixture lane).
    */
  def mediaTableFrom(src: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    src.select(col("media_id"), col("blob")).mapPartitions { rows =>
      rows.map { r =>
        val id   = r.getLong(0)
        val blob = r.getAs[Array[Byte]](1)
        val meta = Codec.probe(blob, id)
        val f0   = Codec.sampleFrame(blob, 0)
        Row(id, blob, blob.length, meta.width, meta.height, meta.nFrames,
          meta.codec, f0.map("%02X".format(_)).mkString)
      }
    }(enc)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame_hex", StringType)))

  /** Frame sampling through the decode seam: every `stride`-th frame of
    * each media is materialized by the codec inside `mapPartitions` — the
    * exact plumbing a real decoder (JNI, or Arrow-batched python via
    * mapInArrow/mapInPandas) drops into, with the fan-out (one row per
    * sampled frame) happening AFTER decode so blob bytes are read once
    * per media, not once per frame.
    *
    * Scale: the sampling itself is a narrow map + bounded fan-out
    * (n_frames per media) — no shuffle, parquet split parallelism
    * preserved; downstream per-frame feature extraction chains onto
    * [[frameSamplesRaw]]. [[frameSamples]] adds a global orderBy (a sort
    * shuffle) purely as the driver-verification presentation edge.
    */
  def frameSamplesRaw(spark: SparkSession, d: String, stride: Int = 2): DataFrame =
    frameSamplesFrom(mediaSrc(spark, d), stride)

  /** Frame sampling over ANY `(media_id, blob)` frame — see
    * [[mediaTableFrom]] for the real-media entry-point contract.
    */
  def frameSamplesFrom(src: DataFrame, stride: Int = 2): DataFrame = {
    val enc = RowEncoder.encoderFor(frameSchema)
    src.select(col("media_id"), col("blob")).mapPartitions { rows =>
      rows.flatMap { r =>
        val id   = r.getLong(0)
        val blob = r.getAs[Array[Byte]](1)
        val meta = Codec.probe(blob, id)
        val indices = (0 until meta.nFrames by stride).toSeq
        // one container pass for ALL of this media's frames (real
        // animations parse once, not once per frame)
        indices.iterator.zip(Codec.sampleFrames(blob, indices).iterator).map {
          case (i, f) => Row(id, i, f.map("%02X".format(_)).mkString)
        }
      }
    }(enc)
  }

  def frameSamples(spark: SparkSession, d: String, stride: Int = 2): DataFrame =
    frameSamplesRaw(spark, d, stride).orderBy(col("media_id"), col("frame_idx"))

  val resizeSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("src_w", IntegerType, nullable = false),
    StructField("src_h", IntegerType, nullable = false),
    StructField("dst_w", IntegerType, nullable = false),
    StructField("dst_h", IntegerType, nullable = false),
    StructField("resized_hex", StringType)))

  /** Fixed fake resize target: dims are request metadata, the payload is
    * an 8-byte NN resample strip (one constant contract, mirrored by the
    * mm03 oracle — a parameterized target would need the payload length
    * derived from it, which the byte-level stand-in can't represent
    * honestly, so the knob is deliberately absent).
    */
  val resizeTarget: (Int, Int) = (32, 24)
  private val resizeStrip = 8

  /** Resize through the decode seam: each media's frame-0 payload is
    * nearest-neighbor resampled to [[resizeTarget]] inside `mapPartitions`
    * (blob read once, narrow map, no shuffle — same contract as
    * [[frameSamplesRaw]]). Output carries source dims from the probe and
    * the resampled payload; a real deployment swaps `FakeCodec.resize`
    * for the pixel version and nothing else moves.
    */
  def resized(spark: SparkSession, d: String): DataFrame =
    resizedFrom(mediaSrc(spark, d))

  /** Resize over ANY `(media_id, blob)` frame — real image blobs get the
    * real 2-D resample to [[resizeTarget]]; see [[mediaTableFrom]].
    */
  def resizedFrom(src: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(resizeSchema)
    val (dstW, dstH) = resizeTarget
    src.select(col("media_id"), col("blob")).mapPartitions { rows =>
      rows.map { r =>
        val id   = r.getLong(0)
        val blob = r.getAs[Array[Byte]](1)
        val meta = Codec.probe(blob, id)
        val rz   = Codec.resize(blob, resizeStrip, resizeTarget)
        Row(id, meta.width, meta.height, dstW, dstH,
          rz.map("%02X".format(_)).mkString)
      }
    }(enc).orderBy(col("media_id"))
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false)))

  /** Feature extraction through the decode seam: a fixed-length numeric
    * vector per media (here the 16-bucket byte histogram; in production an
    * embedding model behind the same signature), emitted long-form
    * (media_id, bucket, n) with zero buckets dropped. Narrow map +
    * bounded 16× fan-out after the blob is read once; features then flow
    * into the ANN/dedup families like any other embedding column.
    */
  def features(spark: SparkSession, d: String): DataFrame =
    featuresFrom(mediaSrc(spark, d))

  /** Feature extraction over ANY `(media_id, blob)` frame — real
    * image/audio blobs get real luminance/amplitude histograms; see
    * [[mediaTableFrom]].
    */
  def featuresFrom(src: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(featureSchema)
    src.select(col("media_id"), col("blob")).mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val h  = Codec.features(r.getAs[Array[Byte]](1))
        (0 until 16).iterator.filter(h(_) > 0L).map(b => Row(id, b, h(b)))
      }
    }(enc).orderBy(col("media_id"), col("bucket"))
  }

  /** Metadata projection — fully declarative. The probe fields are pure
    * functions of media_id/byte length (the FakeCodec contract), so a
    * metadata-only query must stay a column projection: it keeps
    * whole-stage codegen, lets parquet prune the blob column's pages where
    * the layout allows, and never routes blobs through a JVM row
    * round-trip. The `mapPartitions` decode seam ([[mediaTable]]) is
    * reserved for consumers that actually need decoded frames.
    */
  def mediaMeta(spark: SparkSession, d: String): DataFrame = {
    val src = mediaSrc(spark, d)
    src.select(
      col("media_id"),
      length(col("blob")).cast("int").as("byte_len"),
      (lit(16) + col("media_id") % 64).cast("int").as("width"),
      (lit(16) + col("media_id") % 48).cast("int").as("height"),
      (lit(1) + length(col("blob")) % 7).cast("int").as("n_frames"),
      when(col("media_id") % 2 === 0, "fake-h264").otherwise("fake-av1").as("codec"),
      // frame 0 = first min(8, len) bytes (FakeCodec.sampleFrame(blob, 0))
      hex(substring(col("blob"), 1, 8)).as("frame0_hex"))
      .orderBy(col("media_id"))
  }

  val roundTripSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("hist_total", LongType, nullable = false),
    StructField("luma_checksum", LongType, nullable = false),
    StructField("resize_sum", LongType, nullable = false),
    StructField("png_ok", BooleanType, nullable = false)))

  /** mm06 — the REAL codec driver-verified end-to-end. Per document a
    * deterministic RGB image (pixel (x,y) a fixed integer formula of
    * (media_id, x, y)) is PNG-ENCODED and then DECODED BACK through
    * `javax.imageio` — real compressed container, real pixel decode — and
    * every output column is computed from the DECODED side:
    * width/height from the real header, `luma_checksum` the sum of
    * 16-bucket luminance indexes over all decoded pixels,
    * `resize_sum` the RGB sum of a real 2-D nearest-neighbor resample to
    * 4×4, `png_ok` the magic-byte sniff. The DuckDB oracle re-derives the
    * same numbers from the pixel FORMULA alone — it never sees a PNG — so
    * a hash match proves the encode→decode round trip is bit-exact on
    * every pixel of every image (PNG is lossless; any codec deviation
    * breaks the checksums).
    *
    * Scale: generation+decode is a narrow `mapPartitions` map over the
    * id column only (blob never materializes outside the row), one sort
    * at the presentation edge. Real-media ingestion replaces the
    * generator with a binary column scan; the decode side is unchanged.
    */
  def imageRoundTrip(spark: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(spark, d).select(col("doc_id"))
    val enc = RowEncoder.encoderFor(roundTripSchema)
    src.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = 8 + (id % 24).toInt
        val h = 8 + (id % 16).toInt
        def red(x: Int, y: Int)   = ((id + 3L * x + 5L * y) % 256).toInt
        def green(x: Int, y: Int) = ((2L * id + 7L * x + y) % 256).toInt
        def blue(x: Int, y: Int)  = ((5L * id + x + 11L * y) % 256).toInt
        val png = ImageCodec.encodePng(w, h,
          (x, y) => (red(x, y) << 16) | (green(x, y) << 8) | blue(x, y))
        val img = ImageCodec.decode(png).getOrElse(
          throw new IllegalStateException(s"PNG for media $id failed to decode"))
        val lumaSum = ImageCodec.lumaHistogram16(img).zipWithIndex
          .map { case (n, b) => n * b }.sum
        val rz = ImageCodec.resizeNN(img, 4, 4)
        var resizeSum = 0L
        ImageCodec.rgbBytes(rz).foreach(b => resizeSum += (b & 0xFF))
        Row(id, img.getWidth, img.getHeight,
          img.getWidth.toLong * img.getHeight, lumaSum, resizeSum,
          ImageCodec.sniff(png).contains("png"))
      }
    }(enc).orderBy(col("media_id"))
  }

  val aHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ahash_hi", LongType, nullable = false),
    StructField("ahash_lo", LongType, nullable = false)))

  /** mm09 — PERCEPTUAL near-duplicate detection by average-hash (aHash),
    * the image analogue of dd01's exact-hash dedup: decode each image
    * through the REAL codec, compute the 8×8 luma average-hash from the
    * DECODED pixels, and bucket by hash equality — images whose content
    * differs only by imperceptible perturbation land in one bucket.
    *
    * Fixture: per document an 8×8 PNG whose pixels follow a NONLINEAR
    * integer formula of (media_id, x, y) (nonlinear so hash bits vary
    * per id — a linear gradient would give every image the same bit
    * pattern); every `doc_id % 5 == 0` also plants a NOISY COPY
    * (media_id + 100000) with the blue channel bumped by 1 on every 7th
    * pixel — a sub-luma-quantum perturbation for most pixels, exactly
    * the "same image, different bytes" case a content-hash (mm05)
    * misses. The aHash bit is `luma·64 > Σluma` (cross-multiplied: no
    * division rounding to disagree on), packed into two unsigned 32-bit
    * halves so the DuckDB oracle can re-derive every bit in integer SQL
    * without 64-bit shift-overflow semantics entering the contract.
    * PNG is lossless, so the decoded-side hash equals the formula-side
    * hash — the oracle derives buckets from FIRST PRINCIPLES (pixel
    * formula → luma → bits → equality join), proving decode + hash +
    * bucket end to end; whether a given noisy copy collides with its
    * original is decided by the same arithmetic on both engines, not
    * assumed.
    *
    * Scale shape: generation+decode+hash is a narrow `mapPartitions`
    * over the id column (blobs never leave the task); the bucket count
    * is ONE map-side-combined groupBy of (hi, lo) pairs — 16 bytes per
    * image rides the shuffle, never pixels; the join-back is by the
    * same tiny key. The dd01 discipline on perceptual keys.
    */
  def imageAHashDedup(spark: SparkSession, d: String): DataFrame = {
    val ids = Tables.documents(spark, d).select(col("doc_id"))
      .select(explode(when(col("doc_id") % 5 === 0,
        array(col("doc_id"), col("doc_id") + 100000L))
        .otherwise(array(col("doc_id")))).as("media_id"))
    val hashed = ahashOf(ids)
    val buckets = hashed.groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(count(lit(1)).as("bucket_size"))
    hashed.join(buckets, Seq("ahash_hi", "ahash_lo"))
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
        col("bucket_size"), (col("bucket_size") > 1L).as("is_dup"))
      .orderBy(col("media_id"))
  }

  /** mm15 — perceptual near-dup WITHIN HAMMING DISTANCE, the search mm09
    * cannot do: a real edit (crop, logo, re-filter) flips a few aHash
    * bits, so equal-hash bucketing misses it — the match predicate must
    * be `popcount(h_a XOR h_b) ≤ d`. All-pairs XOR is n² at 100 TB; this
    * runs MULTI-INDEX HASHING (Norouzi et al. 2012): split the 64-bit
    * hash into 4 16-bit chunks — by pigeonhole, two hashes within
    * distance d ≤ 3 agree EXACTLY on at least one chunk (3 flips cannot
    * touch all 4) — so candidates come from four chunk-equality
    * equi-joins and only candidates pay the popcount verify. The
    * candidate guarantee is a theorem, not a recall estimate, which is
    * what lets DuckDB mirror the SEMANTIC relation (all pairs within
    * distance d, derived from the pixel formulas bit by bit) while the
    * engine runs the whole chunk-index machinery: a missed candidate or
    * a wrong popcount breaks the hash.
    *
    * Fixture: mm09's corpus (originals + `%5` sub-quantum noisy copies
    * at +100000, distance 0) PLUS `%7` EDITED copies at +200000 — blue
    * bumped by 64 on every 9th pixel, a real visible edit whose exact
    * bit-flip count both engines derive from the same integer
    * arithmetic.
    *
    * Scale shape: decode+hash is the mm09 narrow mapPartitions (blobs
    * never shuffle); the chunk index is 4 rows × 16-byte payload per
    * image; candidates ≈ pairs sharing a 16-bit chunk value — AQE's
    * skew handling covers pathological chunk hot spots; the verify is
    * two codegen'd bit_counts per candidate.
    */
  def imageHammingNearDup(spark: SparkSession, d: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole guarantees candidates only for d <= 3")
    val ids = Tables.documents(spark, d).select(col("doc_id"))
      .select(explode(
        when(col("doc_id") % 35 === 0,
          array(col("doc_id"), col("doc_id") + 100000L, col("doc_id") + 200000L))
          .when(col("doc_id") % 5 === 0,
            array(col("doc_id"), col("doc_id") + 100000L))
          .when(col("doc_id") % 7 === 0,
            array(col("doc_id"), col("doc_id") + 200000L))
          .otherwise(array(col("doc_id")))).as("media_id"))
    val hashed = ahashOf(ids)
    val chunks = hashed.select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
      posexplode(array(
        expr("ahash_lo % 65536"), expr("(ahash_lo div 65536) % 65536"),
        expr("ahash_hi % 65536"), expr("(ahash_hi div 65536) % 65536"))))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    val a = chunks.select(col("chunk_idx"), col("chunk"),
      col("media_id").as("a_id"), col("ahash_hi").as("a_hi"),
      col("ahash_lo").as("a_lo"))
    val b = chunks.select(col("chunk_idx"), col("chunk"),
      col("media_id").as("b_id"), col("ahash_hi").as("b_hi"),
      col("ahash_lo").as("b_lo"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_hi"), col("a_lo"),
        col("b_hi"), col("b_lo"))
      .distinct() // pairs sharing several chunks enter once
      .withColumn("dist",
        expr("CAST(bit_count(a_hi ^ b_hi) + bit_count(a_lo ^ b_lo) AS BIGINT)"))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The mm09 fixture generator + REAL decode + aHash, reusable by the
    * batch (mm09) and streaming (mm10) lanes: per media_id, render the
    * deterministic PNG, decode it through `javax.imageio`, hash the
    * DECODED pixels. One narrow mapPartitions — blobs never leave the
    * task, 16 bytes of hash per image is all that ever shuffles.
    */
  private[graft] def ahashOf(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(aHashSchema)
    ids.select(col("media_id")).mapPartitions { rows =>
      rows.map { r =>
        val mid = r.getLong(0)
        val id = mid % 100000L
        val noisy = mid >= 100000L && mid < 200000L
        val edited = mid >= 200000L // mm15: a REAL edit, not sub-quantum
        // pixels are an integer HASH of (id, position) — mod a prime
        // before the byte fold so neither an additive id constant (which
        // the mean-threshold bits are invariant to) nor a mod-256 id
        // period (which would plant accidental identical images) leaks
        // structure into the hash space
        def mix(idMul: Long, posMul: Long, c: Long, x: Int, y: Int): Long =
          ((id * idMul + (y * 8L + x) * posMul + c) % 65521L) % 256L
        def red(x: Int, y: Int)   = mix(2654435761L, 40503L, 17L, x, y).toInt
        def green(x: Int, y: Int) = mix(2246822519L, 52361L, 101L, x, y).toInt
        def blue(x: Int, y: Int) = {
          val b = mix(3266489917L, 44131L, 233L, x, y)
          (if (noisy && (x + y) % 7 == 0) (b + 1L) % 256L
           else if (edited && (x + y) % 9 == 0) (b + 64L) % 256L
           else b).toInt
        }
        val png = ImageCodec.encodePng(8, 8,
          (x, y) => (red(x, y) << 16) | (green(x, y) << 8) | blue(x, y))
        val img = ImageCodec.decode(png).getOrElse(
          throw new IllegalStateException(s"PNG for media $mid failed to decode"))
        // aHash from the DECODED pixels: bit(x,y) = luma*64 > total
        val lumas = Array.tabulate(8, 8)((y, x) => ImageCodec.luma(img.getRGB(x, y)))
        val total = lumas.map(_.sum.toLong).sum
        var hi = 0L; var lo = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            val bit = y * 8 + x
            if (lumas(y)(x).toLong * 64L > total) {
              if (bit >= 32) hi |= 1L << (bit - 32) else lo |= 1L << bit
            }
            x += 1
          }
          y += 1
        }
        Row(mid, hi, lo)
      }
    }(enc)
  }

  // ---- mm10: the IMAGE crawl loop — aHash screen over a persisted,
  // growing hash index (dd13's discipline on the perceptual key) ----

  /** DEFAULT hash-range partition count for the persisted aHash/chunk
    * index leaves — the dd13 sizing: small enough that a batch's
    * touched-group list is driver-side metadata, large enough that
    * small batches prune most partitions. A BUILD parameter now: the
    * first append records it in the index manifest, later appends and
    * screens read it back, a mismatched append is refused, and
    * [[regroupAhashIndex]]/[[regroupAhashChunkIndex]] re-key the store
    * offline when the fleet outgrows the count.
    */
  val DefaultAHashGroups = 32

  private def ahashGroup(groups: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("ahash_hi"), col("ahash_lo")),
      lit(groups.toLong)).cast("int")

  private def chunkGroup(groups: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("chunk_idx"), col("chunk")),
      lit(groups.toLong)).cast("int")

  private val Hashes = LeafStore.Rel("hashes", StructType(Seq(
      StructField("media_id", LongType), StructField("ahash_hi", LongType),
      StructField("ahash_lo", LongType), StructField("hgrp", IntegerType),
      StructField("leaf", StringType))),
    Some("hgrp" -> ahashGroup))

  private val Chunks = LeafStore.Rel("chunks", StructType(Seq(
      StructField("media_id", LongType), StructField("ahash_hi", LongType),
      StructField("ahash_lo", LongType), StructField("chunk_idx", IntegerType),
      StructField("chunk", LongType), StructField("cgrp", IntegerType),
      StructField("leaf", StringType))),
    Some("cgrp" -> chunkGroup))

  private val MediaTombs = LeafStore.Rel("tombs", StructType(Seq(
    StructField("media_id", LongType), StructField("leaf", StringType))))

  /** The two multimodal index families — ONE relation per index
    * directory (the equality hash index, the Hamming chunk index), each
    * with kill-all media_id tombstones. Semantics are
    * [[graft.operators.ann.PqIndex.delete]]'s, NOT the dedup index's bid
    * order: a tombstone kills EVERY row of its media_id — current and
    * future folds alike — until a compaction drops the dead rows
    * physically and clears the set, after which a re-crawl restores the
    * media (the resurrection contract
    * [[graft.streaming.Graft.syncVectorIndex]] automates). Every screen
    * anti-joins the tombstone set BEFORE its verify/distinct cut — dead
    * content can neither match nor consume verify work.
    */
  private[graft] val HashStore = LeafStore.Family("ahash", Seq(Hashes),
    MediaTombs, DefaultAHashGroups)
  private[graft] val ChunkStore = LeafStore.Family("hamming", Seq(Chunks),
    MediaTombs, DefaultAHashGroups)

  /** The committed tombstoned media_ids as a relation (empty when none)
    * — public so reconcile jobs
    * ([[graft.streaming.Graft.syncAhashIndex]]) can diff against the
    * SEARCHABLE set and detect resurrections, the
    * [[graft.operators.ann.PqIndex.tombstonedIds]] rationale.
    */
  def mmTombstonedIds(spark: SparkSession, indexDir: String): DataFrame =
    LeafStore.tombstonedIds(spark, indexDir, HashStore)

  /** The index's LIVE media_ids — every committed row's id minus the
    * tombstone set (what the screens can still match): the
    * reconcile-job diff base ([[graft.operators.dedup.Dedup.indexedLiveIds]]
    * on the multimodal axis).
    */
  def mmIndexedLiveIds(spark: SparkSession, indexDir: String,
      rel: String = "hashes"): DataFrame = {
    val store = if (rel == Chunks.name) ChunkStore else HashStore
    LeafStore.liveIds(spark, indexDir, store, store.rels.head)
  }

  /** Anti-join a screen's candidate side against `meta`'s tombstones —
    * applied BEFORE the verify/distinct cut so dead content neither
    * matches nor consumes verify work. Broadcast: the tombstone relation
    * is bounded by deletes since the last compaction.
    */
  private def withoutTombstoned(spark: SparkSession, indexDir: String,
      cands: DataFrame, meta: IndexManifest.Meta): DataFrame =
    LeafStore.tombRows(spark, indexDir, HashStore, meta).fold(cands)(t =>
      cands.join(broadcast(t.distinct().withColumnRenamed("media_id", "corpus_id")),
        Seq("corpus_id"), "left_anti"))

  /** Fold every committed leaf's rows into ONE new leaf — the
    * small-file maintenance pass the crawl loops need (after N
    * micro-batches every group partition holds N tiny files). LIVE rows
    * are copied VERBATIM while TOMBSTONED rows drop out physically and
    * the tombstone set clears — deletes are already invisible to every
    * screen, so the compacted relation is screen-identical.
    */
  private def mmIndexCompact(spark: SparkSession, indexDir: String,
      store: LeafStore.Family, tag: String): Unit = {
    val rel = store.rels.head
    LeafStore.rewrite(indexDir, store, tag, meta => {
      val src = LeafStore.read(spark, indexDir, rel, meta)
      Seq(rel -> LeafStore.tombRows(spark, indexDir, store, meta).fold(src)(t =>
        src.join(broadcast(t.distinct()), Seq("media_id"), "left_anti")))
    }, clearTombs = true)
  }

  /** Re-key the whole relation into `newGroups` hash-range partitions —
    * the Materializer-rebucket move for the multimodal indexes; the
    * manifest records the new dial and old-dial appends are refused.
    */
  private def mmIndexRegroup(spark: SparkSession, indexDir: String,
      store: LeafStore.Family, newGroups: Int, tag: String): Unit = {
    require(newGroups > 0, "newGroups must be positive")
    val rel = store.rels.head
    LeafStore.rewrite(indexDir, store, tag,
      meta => Seq(rel -> LeafStore.read(spark, indexDir, rel, meta)),
      clearTombs = false, groups = Some(newGroups))
  }

  /** Committed leaf count — the census the compaction harnesses gate
    * (N appends in, 1 referenced out; retained-but-superseded
    * directories don't count).
    */
  def mmIndexLeafCount(indexDir: String): Int = LeafStore.leafCount(indexDir)

  /** MERGE several multimodal indexes into one — the scale-out BUILD
    * path (dd22's device on the perceptual stores): a 100 TB media
    * corpus hashes as N independent shards (each a plain append over
    * its slice, no coordination), then one merge folds the shards'
    * committed rows into the destination as a single leaf
    * ([[LeafStore.merge]]). Rows are PURE per-media functions — only
    * the group key depends on the dial — so the merged index is
    * row-identical to a single build; kill-all tombstones ride per
    * source (overlapping media_id spaces therefore OR their deletes).
    */
  def mergeAhashIndexes(spark: SparkSession, srcDirs: Seq[String],
      destDir: String, tag: String,
      groups: Int = DefaultAHashGroups): Unit =
    LeafStore.merge(spark, srcDirs, destDir, HashStore, tag, groups)

  /** [[mergeAhashIndexes]] for the Hamming chunk index. */
  def mergeAhashChunkIndexes(spark: SparkSession, srcDirs: Seq[String],
      destDir: String, tag: String,
      groups: Int = DefaultAHashGroups): Unit =
    LeafStore.merge(spark, srcDirs, destDir, ChunkStore, tag, groups)

  /** Idempotent O(batch) leaf append of (media_id, ahash) rows into the
    * partitioned hash table `hashes/hgrp=g/leaf=v<N>-tag` — a replayed
    * foreachBatch tag no-ops (the dd13 fold discipline).
    */
  def ahashIndexAppend(hashed: DataFrame, indexDir: String,
      leaf: String, groups: Int = DefaultAHashGroups): Unit =
    LeafStore.append(indexDir, HashStore, leaf, groups, Seq(Hashes -> hashed))

  /** Kill-all tombstone deletes for the aHash equality index — the
    * takedown lane (mm18's device on the hash store).
    */
  def ahashIndexDelete(spark: SparkSession, indexDir: String,
      ids: DataFrame, leaf: String): Unit =
    LeafStore.tombstone(indexDir, HashStore, leaf, ids.select(col("media_id")))

  /** [[mmIndexCompact]] for the aHash equality index. */
  def compactAhashIndex(spark: SparkSession, indexDir: String,
      tag: String): Unit =
    mmIndexCompact(spark, indexDir, HashStore, tag)

  /** [[mmIndexRegroup]] for the aHash equality index. */
  def regroupAhashIndex(spark: SparkSession, indexDir: String,
      newGroups: Int, tag: String): Unit =
    mmIndexRegroup(spark, indexDir, HashStore, newGroups, tag)

  /** Screen a hashed batch against the committed index leaves: exact
    * (hi, lo) equi-collisions, the scan PRUNED to the batch's touched
    * hash groups (≤ groups ints collected driver-side — the dd13
    * PartitionFilters device) and to the manifest's committed leaves.
    * Shuffle carries 24-byte hash rows. The manifest is resolved ONCE
    * (leaves + group dial from the same committed version), and
    * retained manifests keep this plan executable across later commits
    * including compactions.
    */
  def screenAhash(spark: SparkSession, indexDir: String,
      batchHashed: DataFrame): DataFrame =
    screenAhashSnapshot(spark, indexDir, LeafStore.head(indexDir, HashStore),
      batchHashed)

  /** TIME-TRAVEL equality screen — [[screenAhash]] against the exact
    * snapshot a PAST manifest version committed (leaves, dial, AND the
    * tombstone set — the dd23 device on the perceptual store); asking
    * beyond the retained window throws.
    */
  def screenAhashAt(spark: SparkSession, indexDir: String,
      batchHashed: DataFrame, asOfVersion: Long): DataFrame =
    screenAhashSnapshot(spark, indexDir, LeafStore.at(indexDir, asOfVersion),
      batchHashed)

  private def screenAhashSnapshot(spark: SparkSession, indexDir: String,
      meta: IndexManifest.Meta, batchHashed: DataFrame): DataFrame = {
    val groups = batchHashed.select(ahashGroup(meta.groups).as("hgrp")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    val index = LeafStore.read(spark, indexDir, Hashes, meta)
      .filter(col("hgrp").isin(groups: _*))
      .select(col("media_id").as("corpus_id"),
        col("ahash_hi"), col("ahash_lo"))
    // tombstone anti-join BEFORE the projection cut: a taken-down
    // media's hash rows can never surface (the mm18 delete lane)
    withoutTombstoned(spark, indexDir,
        batchHashed.select(col("media_id").as("batch_id"),
            col("ahash_hi"), col("ahash_lo"))
          .join(index, Seq("ahash_hi", "ahash_lo")), meta)
      .select(col("batch_id"), col("corpus_id"))
  }

  /** The 4 × 16-bit multi-index chunks of a hash relation (mm15's MIH
    * decomposition) — the unit the Hamming-tolerant index stores and the
    * screen joins on.
    */
  private[graft] def ahashChunks(hashed: DataFrame): DataFrame = hashed
    .select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
      posexplode(array(
        expr("ahash_lo % 65536"), expr("(ahash_lo div 65536) % 65536"),
        expr("ahash_hi % 65536"), expr("(ahash_hi div 65536) % 65536"))))
    .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")

  /** Fold a hashed batch into the persisted CHUNK index (4 rows per
    * image, partitioned by chunk-hash group) — the Hamming-searchable
    * sibling of [[ahashIndexAppend]]'s equality index.
    */
  def ahashChunkIndexAppend(hashed: DataFrame, indexDir: String,
      leaf: String, groups: Int = DefaultAHashGroups): Unit =
    LeafStore.append(indexDir, ChunkStore, leaf, groups,
      Seq(Chunks -> ahashChunks(hashed)))

  /** [[ahashIndexDelete]] for the Hamming chunk index. */
  def ahashChunkIndexDelete(spark: SparkSession, indexDir: String,
      ids: DataFrame, leaf: String): Unit =
    LeafStore.tombstone(indexDir, ChunkStore, leaf, ids.select(col("media_id")))

  /** [[mmIndexCompact]] for the Hamming chunk index. */
  def compactAhashChunkIndex(spark: SparkSession, indexDir: String,
      tag: String): Unit =
    mmIndexCompact(spark, indexDir, ChunkStore, tag)

  /** [[mmIndexRegroup]] for the Hamming chunk index. */
  def regroupAhashChunkIndex(spark: SparkSession, indexDir: String,
      newGroups: Int, tag: String): Unit =
    mmIndexRegroup(spark, indexDir, ChunkStore, newGroups, tag)

  /** Screen a hashed batch against the chunk index WITHIN HAMMING
    * DISTANCE `maxDist` (≤ 3 — the 4-chunk pigeonhole bound): candidates
    * from chunk-equality joins over the batch's touched chunk groups
    * (pruned scan, the dd13 device) restricted to committed leaves,
    * popcount verify on candidates only.
    */
  def screenAhashHamming(spark: SparkSession, indexDir: String,
      batchHashed: DataFrame, maxDist: Int = 3): DataFrame =
    screenAhashHammingSnapshot(spark, indexDir,
      LeafStore.head(indexDir, ChunkStore), batchHashed, maxDist)

  /** TIME-TRAVEL Hamming screen — [[screenAhashHamming]] pinned to a
    * retained manifest version (the dd23 device; see [[screenAhashAt]]).
    */
  def screenAhashHammingAt(spark: SparkSession, indexDir: String,
      batchHashed: DataFrame, asOfVersion: Long,
      maxDist: Int = 3): DataFrame =
    screenAhashHammingSnapshot(spark, indexDir,
      LeafStore.at(indexDir, asOfVersion), batchHashed, maxDist)

  private def screenAhashHammingSnapshot(spark: SparkSession,
      indexDir: String, meta: IndexManifest.Meta,
      batchHashed: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole guarantees candidates only for d <= 3")
    val bc = ahashChunks(batchHashed)
      .select(col("media_id").as("batch_id"), col("ahash_hi").as("b_hi"),
        col("ahash_lo").as("b_lo"), col("chunk_idx"), col("chunk"))
    val groups = bc.select(chunkGroup(meta.groups).as("cgrp")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    val index = LeafStore.read(spark, indexDir, Chunks, meta)
      .filter(col("cgrp").isin(groups: _*))
      .select(col("chunk_idx"), col("chunk"), col("media_id").as("corpus_id"),
        col("ahash_hi").as("c_hi"), col("ahash_lo").as("c_lo"))
    // tombstone anti-join BEFORE the distinct + popcount verify: dead
    // media neither match nor consume verify work (the mm18 delete lane)
    withoutTombstoned(spark, indexDir,
        bc.join(index, Seq("chunk_idx", "chunk")), meta)
      .select(col("batch_id"), col("corpus_id"), col("b_hi"), col("b_lo"),
        col("c_hi"), col("c_lo"))
      .distinct()
      .withColumn("dist",
        expr("CAST(bit_count(b_hi ^ c_hi) + bit_count(b_lo ^ c_lo) AS BIGINT)"))
      .filter(col("dist") <= maxDist)
      .select(col("batch_id"), col("corpus_id"), col("dist"))
  }

  /** mm17's driver-checked shape — mm16's Hamming relation run THROUGH
    * [[compactAhashChunkIndex]]: the originals fold into the chunk
    * index as FOUR separate leaves (the post-crawl small-file state),
    * compaction rewrites them to one committed leaf, and the edited
    * arrivals (+200000, the mm15 blue-bump edit) are then screened
    * within Hamming distance 3 against the compacted store. Rows are
    * copied verbatim, so the output is provably mm16's semantic
    * relation — every (arrival, original) pair within distance 3,
    * hashes re-derived bit by bit oracle-side, candidate completeness
    * the pigeonhole theorem — and the leaf census before/after rides
    * the gated relation (the ann13/dd19 device).
    */
  def compactedHammingSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_mm17")
    val indexDir = s"$tmp/index"
    val orig = Tables.documents(spark, d)
      .select(col("doc_id").as("media_id"))
    (0 until 4).foreach { i =>
      ahashChunkIndexAppend(ahashOf(orig.filter(col("media_id") % 4 === i)),
        indexDir, s"inc$i")
    }
    val before = mmIndexLeafCount(indexDir)
    compactAhashChunkIndex(spark, indexDir, "compact0")
    val after = mmIndexLeafCount(indexDir)
    val batch = Tables.documents(spark, d).select(col("doc_id"))
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000L).as("media_id"))
    screenAhashHamming(spark, indexDir, ahashOf(batch))
      .select(col("batch_id"), col("corpus_id"), col("dist"),
        lit(before).as("n_leaves_before"), lit(after).as("n_leaves_after"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** mm18's driver-checked shape — TAKEDOWN DELETES through BOTH
    * multimodal indexes (the dd20/ann15 device on the perceptual
    * stores, closing the CDC delete matrix's last family): the corpus
    * folds into the equality hash index AND the Hamming chunk index,
    * every `media_id % 9 == 0` original is tombstoned in both
    * ([[ahashIndexDelete]] / [[ahashChunkIndexDelete]] — the replica
    * dropped those media), and the arriving copies are screened: a
    * noisy copy of a SURVIVING original matches exactly when its
    * derived hash collides (the mm09/mm10 relation), an edited copy
    * within Hamming 3 (the mm15/mm16 relation), and a copy of a
    * DELETED original provably matches NOTHING in EITHER lane — the
    * anti-join runs before each screen's verify cut. Then compaction
    * drops the tombstoned rows physically in both stores and the
    * re-screens are row-identical: `n_passes == 2` rides every gated
    * row (the dd20 n_lanes device), so a screen that ignored
    * tombstones, a compaction that lost live rows, or one that FAILED
    * to drop dead rows all break the hash.
    */
  def deletedAhashSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_mm18")
    val hIdx = s"$tmp/hashes"
    val cIdx = s"$tmp/chunks"
    val orig = Tables.documents(spark, d)
      .select(col("doc_id").as("media_id"))
    val hashed = ahashOf(orig).cache()
    try {
      ahashIndexAppend(hashed, hIdx, "corpus")
      ahashChunkIndexAppend(hashed, cIdx, "corpus")
    } finally { hashed.unpersist(); () }
    // the takedown wave: every ninth original leaves both indexes
    val dead = orig.filter(col("media_id") % 9 === 0)
    ahashIndexDelete(spark, hIdx, dead, "takedown0")
    ahashChunkIndexDelete(spark, cIdx, dead, "takedown0")
    // arrivals: mm10's noisy copies against the equality lane, mm16's
    // edited copies against the Hamming lane
    val noisy = ahashOf(Tables.documents(spark, d).select(col("doc_id"))
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("media_id"))).cache()
    val edited = ahashOf(Tables.documents(spark, d).select(col("doc_id"))
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000L).as("media_id"))).cache()
    def bothLanes(): DataFrame =
      screenAhash(spark, hIdx, noisy)
        .withColumn("lane", lit("eq")).withColumn("dist", lit(0L))
        .unionByName(screenAhashHamming(spark, cIdx, edited)
          .withColumn("lane", lit("ham")))
    // planned BEFORE the compactions, executed after — the manifest
    // grace window keeps this scan's files alive (the dd20 device)
    val pre = bothLanes()
    compactAhashIndex(spark, hIdx, "compact0")
    compactAhashChunkIndex(spark, cIdx, "compact0")
    val post = bothLanes()
    pre.unionByName(post)
      .groupBy(col("lane"), col("batch_id"), col("corpus_id"), col("dist"))
      .agg(count(lit(1)).as("n_passes")) // 2 ⇔ pre- and post-compaction agree
      .orderBy(col("lane"), col("batch_id"), col("corpus_id"))
  }

  /** mm19's driver-checked shape — the planted Hamming theorem through
    * the SHARDED build (dd22's scale-out device on the chunk index):
    * the originals hash into TWO chunk-index shards built independently
    * (media parity — a parallel fleet's slices), each shard tombstones
    * its own `% 9 == 0` members (a takedown known to one shard), and
    * [[mergeAhashChunkIndexes]] folds both into a fresh destination.
    * Chunk rows are pure per-media functions, so the merged store is
    * provably row-identical to a single build-then-delete: the edited
    * arrivals match every SURVIVING original within Hamming 3 (the
    * mm16 semantic relation minus the union of shard tombstones —
    * which is exactly `% 9 == 0`) and nothing of a deleted one,
    * whichever shard held it. The shard census rides the gated
    * relation.
    */
  def shardMergedHammingSelfRecall(spark: SparkSession, d: String): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_mm19")
    val orig = Tables.documents(spark, d)
      .select(col("doc_id").as("media_id"))
    (0 until 2).foreach { i =>
      val slice = orig.filter(col("media_id") % 2 === i)
      ahashChunkIndexAppend(ahashOf(slice), s"$tmp/shard$i", "corpus")
      ahashChunkIndexDelete(spark, s"$tmp/shard$i",
        slice.filter(col("media_id") % 9 === 0), "takedown0")
    }
    mergeAhashChunkIndexes(spark, Seq(s"$tmp/shard0", s"$tmp/shard1"),
      s"$tmp/merged", "merge0")
    val edited = ahashOf(Tables.documents(spark, d).select(col("doc_id"))
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000L).as("media_id")))
    screenAhashHamming(spark, s"$tmp/merged", edited)
      .withColumn("n_shards", lit(2))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** mm16 — the HAMMING-tolerant image crawl loop: mm10 screens arriving
    * images by EXACT hash equality, which a real edit defeats; this loop
    * screens each micro-batch within Hamming distance 3 via the
    * persisted chunk index ([[screenAhashHamming]] — mm15's multi-index
    * machinery made incremental), then folds the batch's chunks in. The
    * fixture streams really-EDITED copies (+200000, the mm15 blue-bump
    * edit) against an index bootstrapped with the originals; the gated
    * relation is the SEMANTIC one — every (arrival, original) pair
    * within distance 3, hashes re-derived bit by bit oracle-side, with
    * candidate completeness the pigeonhole theorem, so a missed chunk
    * join, a wrong popcount, or a lost fold all break the hash.
    *
    * Scale per batch: decode+hash is one narrow mapPartitions; the
    * chunk join carries 4 rows × 34 bytes per image against a
    * group-pruned scan; the fold is one immutable leaf. Per-batch cost
    * is independent of index size.
    */
  def streamingHammingSelfRecall(spark: SparkSession, d: String,
      nBatches: Int = 4): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_mm16")
    val indexDir = s"$tmp/index"
    val stageDir = s"$tmp/arrivals"
    val outDir = s"$tmp/pairs"
    val orig = Tables.documents(spark, d)
      .select(col("doc_id").as("media_id"))
    graft.streaming.Graft.CrawlMetrics.timed("graft-mm16-hamming-loop-bootstrap") {
      ahashChunkIndexAppend(ahashOf(orig), indexDir, "corpus")
    }
    Tables.documents(spark, d).select(col("doc_id"))
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000L).as("media_id"))
      .repartition(nBatches, col("media_id"))
      .write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val q = graft.GraftSession.withStreamShuffle(spark)(
      stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.streaming.Graft.CrawlMetrics.timed("graft-mm16-hamming-loop") {
          val hashed = ahashOf(batch).cache()
          try {
            screenAhashHamming(spark, indexDir, hashed)
              .write.mode("append").parquet(outDir)
            ahashChunkIndexAppend(hashed, indexDir, f"b$bid%06d")
          } finally { hashed.unpersist(); () }
        }
      }.queryName("graft-mm16-hamming-loop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    graft.GraftSession.awaitFinished(q)
    // gate on the arrival→ORIGINAL relation (fully formula-derivable);
    // arrival↔arrival matches across batches would be batch-order-
    // dependent and leave the driver-checked output
    spark.read.parquet(outDir)
      .filter(col("corpus_id") < 100000L)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** mm10 — mm09's perceptual dedup as a CRAWL LOOP: arriving image
    * batches are decoded + aHashed, screened against the persisted hash
    * index, and folded into it, inside one Structured Streaming query —
    * the text (dd13) and embedding (ann07) crawl loops' missing
    * multimodal sibling. The fixture streams the mm09 noisy copies in
    * micro-batches against an index bootstrapped with the originals;
    * matched (batch, corpus-original) pairs are EXACTLY the
    * equal-derived-hash relation, which the DuckDB oracle re-computes
    * bit by bit from the pixel formulas (whether a given noisy copy
    * collides is decided by the same integer arithmetic on both engines
    * — never assumed; accidental cross-original collisions rank too).
    *
    * Scale per batch: decode+hash is one narrow mapPartitions (blobs
    * never shuffle); the screen joins 16-byte keys against a
    * group-pruned scan; the fold is one immutable leaf. Per-batch cost
    * is independent of index size.
    */
  def streamingAHashSelfRecall(spark: SparkSession, d: String,
      nBatches: Int = 4): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_mm10")
    val indexDir = s"$tmp/index"
    val stageDir = s"$tmp/arrivals"
    val outDir = s"$tmp/pairs"
    val orig = Tables.documents(spark, d)
      .select(col("doc_id").as("media_id"))
    // bootstrap metered apart from the increments (bench: bootstrap_sec)
    graft.streaming.Graft.CrawlMetrics.timed("graft-mm10-ahash-loop-bootstrap") {
      ahashIndexAppend(ahashOf(orig), indexDir, "corpus")
    }
    Tables.documents(spark, d).select(col("doc_id"))
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("media_id"))
      .repartition(nBatches, col("media_id"))
      .write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val q = graft.GraftSession.withStreamShuffle(spark)(
      stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.streaming.Graft.CrawlMetrics.timed("graft-mm10-ahash-loop") {
          // cache: the decoded hashes feed THREE consumers per batch (the
          // screen's driver-side group collect, the screen join, the index
          // fold) — uncached, every image would render+decode 3×
          val hashed = ahashOf(batch).cache()
          try {
            screenAhash(spark, indexDir, hashed)
              .write.mode("append").parquet(outDir)
            ahashIndexAppend(hashed, indexDir, f"b$bid%06d")
          } finally { hashed.unpersist(); () }
        }
      }.queryName("graft-mm10-ahash-loop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    graft.GraftSession.awaitFinished(q)
    // gate on the copy→ORIGINAL relation (fully formula-derivable); the
    // loop also folds copies so later batches screen against them —
    // copy↔copy collisions would be batch-order-dependent and are
    // filtered out of the driver-checked output (none exist at any
    // fixture sf: distinct base images hash apart)
    spark.read.parquet(outDir)
      .filter(col("corpus_id") < 100000L)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  val audioRoundTripSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("amp_checksum", LongType, nullable = false),
    StructField("hist_checksum", LongType, nullable = false),
    StructField("wav_ok", BooleanType, nullable = false)))

  /** mm07 — the REAL audio codec driver-verified end-to-end, mm06's
    * sibling for the audio half of the multimodal family. Per document a
    * deterministic 16-bit PCM signal (sample i a fixed integer formula of
    * (media_id, i)) is WAV-ENCODED and DECODED BACK through
    * `javax.sound.sampled` — real RIFF/WAVE container, real PCM parse —
    * and every output column comes from the DECODED side: sample rate and
    * channel count from the real header, `n_samples` from the decoded
    * payload, `amp_checksum` the sum of |sample| over decoded samples,
    * `hist_checksum` the amplitude-bucket mass. The DuckDB oracle
    * re-derives all of it from the sample formula alone — WAV PCM is
    * lossless, so a hash match proves the container round trip is
    * bit-exact on every sample of every file.
    *
    * Scale: same contract as [[imageRoundTrip]] — narrow `mapPartitions`
    * over the id column, one presentation-edge sort.
    */
  def audioRoundTrip(spark: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(spark, d).select(col("doc_id"))
    val enc = RowEncoder.encoderFor(audioRoundTripSchema)
    src.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val sr = 8000 + (id % 8).toInt * 1000
        val n = 64 + (id % 128).toInt
        def sampleAt(i: Int): Short =
          (((id * 31L + i * 17L) % 65536L) - 32768L).toShort
        val wav = AudioCodec.encodeWav(n, sr, sampleAt)
        val meta = AudioCodec.probe(wav).getOrElse(
          throw new IllegalStateException(s"WAV for media $id failed to probe"))
        val pcm = AudioCodec.decodePcm16(wav).getOrElse(
          throw new IllegalStateException(s"WAV for media $id failed to decode"))
        var ampSum = 0L
        pcm.foreach(s => ampSum += math.abs(s.toInt))
        val histSum = AudioCodec.ampHistogram16(pcm).zipWithIndex
          .map { case (c, b) => c * b }.sum
        Row(id, meta.sampleRate, meta.channels, pcm.length, ampSum, histSum,
          AudioCodec.sniff(wav).contains("wav"))
      }
    }(enc).orderBy(col("media_id"))
  }

  val videoProbeSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("mp4_ok", BooleanType, nullable = false)))

  /** mm08 — the video half of the multimodal family, scoped to what is
    * REAL without a pixel codec: per document a spec-conformant ISO BMFF
    * header (`ftyp` + `moov/mvhd` + `trak/tkhd`, geometry and timing from
    * fixed integer formulas of media_id) is written and then parsed back
    * by the independent box-tree walker — every output column from the
    * PARSED side (16.16 fixed-point geometry, v0 mvhd timescale/duration,
    * track census, magic sniff). The DuckDB oracle re-derives the numbers
    * from the formulas; a hash match pins the parser's offset arithmetic
    * against the writer's spec layout. Weaker than mm06/mm07 (both halves
    * are this repo's code — the JDK ships no video parser) but the same
    * boxes real muxers write; the metadata-probe stage is exactly what a
    * curation pipeline's resolution/duration admission filters run.
    */
  def videoProbe(spark: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(spark, d).select(col("doc_id"))
    val enc = RowEncoder.encoderFor(videoProbeSchema)
    src.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = 320 + (id % 16).toInt * 8
        val h = 180 + (id % 9).toInt * 8
        val ts = 1000L + (id % 4) * 500L
        val ticks = 10000L + id % 5000L
        val mp4 = VideoCodec.encodeMp4Header(w, h, ts, ticks)
        val meta = VideoCodec.probe(mp4).getOrElse(
          throw new IllegalStateException(s"MP4 header for media $id failed to parse"))
        Row(id, meta.width, meta.height, meta.nTracks,
          VideoCodec.durationMs(meta), VideoCodec.sniff(mp4).contains("mp4"))
      }
    }(enc).orderBy(col("media_id"))
  }

  /** mm05 — media dedup by content hash (the standard first dedup pass an
    * image/video pipeline runs before any perceptual hashing): canonical
    * id + copy count per identical blob. Planted exact-copy blobs at
    * `media_id + 100000` make the relation non-trivial and the DuckDB
    * oracle re-derives it from the blob derivation + planting formula.
    *
    * Scale shape is dd01's: fingerprint is computed ON the binary column
    * (one scan, codegen md5), the canonical map is a map-side-combined
    * `groupBy(fp)` (never a window over a hot fingerprint — dup storms
    * are the workload), and the join-back carries (media_id, fp) only;
    * blobs never shuffle.
    */
  def blobDedup(spark: SparkSession, d: String): DataFrame = {
    // null blobs are EXCLUDED, explicitly (mirrored in the oracle): a null
    // join key never matches in the join-back, so without the filter the
    // rows would silently vanish from the output while a window-based
    // oracle kept them — dd10's defensive isNotNull, applied to the blob
    // lane
    val media = mediaSrc(spark, d).filter(col("blob").isNotNull)
    val withCopies = media.union(media.select(
      (col("media_id") + 100000L).as("media_id"), col("blob")))
    val fp = withCopies.select(col("media_id"), md5(col("blob")).as("fp"))
    val canon = fp.groupBy(col("fp"))
      .agg(min(col("media_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    fp.join(canon, Seq("fp"))
      .select(col("media_id"), col("canonical_id"), col("n_copies"))
      .orderBy(col("media_id"))
  }

  /** mm12 — mm11's perceptual audio dedup as a CRAWL LOOP, completing the
    * crawl-loop × modality matrix (text dd13, embeddings ann07, image
    * mm10, audio here): arriving recordings are decoded + fingerprinted,
    * screened against the persisted hash index, and folded into it per
    * micro-batch. The index layer is the SAME generic 64-bit-pair-key
    * store mm10 uses ([[ahashIndexAppend]]/[[screenAhash]] — nothing in
    * it is image-specific; the fingerprint columns rename at the seam),
    * so the audio lane inherits the group-pruned partitioned leaves and
    * idempotent batch-tag folds unchanged.
    *
    * Gate: the matched (batch, corpus-original) pairs are exactly the
    * equal-derived-fingerprint relation, which the DuckDB oracle
    * re-computes bit by bit from the mm11 sample formulas — whether a
    * given dithered copy collides is decided by the same integer
    * arithmetic on both engines. Copies folded into the index screen
    * later batches too; copy↔copy pairs are batch-order-dependent and
    * filtered from the gated output (the mm10 discipline).
    */
  def streamingAudioFpSelfRecall(spark: SparkSession, d: String,
      nBatches: Int = 4): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_mm12")
    val indexDir = s"$tmp/index"
    val stageDir = s"$tmp/arrivals"
    val outDir = s"$tmp/pairs"
    def asKey(fp: DataFrame): DataFrame = fp
      .withColumnRenamed("afp_hi", "ahash_hi")
      .withColumnRenamed("afp_lo", "ahash_lo")
    val orig = Tables.documents(spark, d)
      .select(col("doc_id").as("media_id"))
    graft.streaming.Graft.CrawlMetrics.timed("graft-mm12-afp-loop-bootstrap") {
      ahashIndexAppend(asKey(audioFpOf(orig)), indexDir, "corpus")
    }
    Tables.documents(spark, d).select(col("doc_id"))
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("media_id"))
      .repartition(nBatches, col("media_id"))
      .write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val q = graft.GraftSession.withStreamShuffle(spark)(
      stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.streaming.Graft.CrawlMetrics.timed("graft-mm12-afp-loop") {
          // cache: decode+fingerprint feeds the screen's group collect,
          // the screen join, and the fold — uncached it would run 3×
          val hashed = asKey(audioFpOf(batch)).cache()
          try {
            screenAhash(spark, indexDir, hashed)
              .write.mode("append").parquet(outDir)
            ahashIndexAppend(hashed, indexDir, f"b$bid%06d")
          } finally { hashed.unpersist(); () }
        }
      }.queryName("graft-mm12-afp-loop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    graft.GraftSession.awaitFinished(q)
    spark.read.parquet(outDir)
      .filter(col("corpus_id") < 100000L)
      .select(col("batch_id"), col("corpus_id"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  val audioFpSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("afp_hi", LongType, nullable = false),
    StructField("afp_lo", LongType, nullable = false)))

  /** mm11 — PERCEPTUAL near-duplicate detection for AUDIO, mm09's
    * sibling on the sound half of the multimodal family: each signal is
    * WAV-encoded and decoded back through the REAL `javax.sound.sampled`
    * codec, a 64-bit frame-energy fingerprint is computed from the
    * DECODED samples (64 frames × 16 samples; bit f = `E_f·64 > ΣE`,
    * the aHash mean-threshold discipline on energies — cross-multiplied,
    * no division rounding to disagree on), and recordings bucket by
    * fingerprint equality — re-encodes and sample-level dither that
    * leave the energy envelope alone land in one bucket while a
    * byte-hash (mm05) misses them.
    *
    * Fixture: per document a 1024-sample PCM signal whose samples follow
    * a NONLINEAR integer formula of (media_id, i) (mod a prime before
    * the amplitude fold, exactly mm09's reasoning); every
    * `doc_id % 5 == 0` also plants a DITHERED COPY (media_id + 100000)
    * with the amplitude code bumped by 1 on every 13th sample — a
    * sub-envelope perturbation, the "same recording, different bytes"
    * case. Fingerprint halves are packed unsigned-32 so the DuckDB
    * oracle re-derives every bit in integer SQL (sample formula →
    * |amp| → frame energy → threshold bits → equality join); WAV PCM is
    * lossless, so the decoded-side fingerprint equals the formula-side
    * one — decode + fingerprint + bucket proven end to end, and whether
    * a given dithered copy collides is decided by the same integer
    * arithmetic on both engines, never assumed.
    *
    * Scale shape: encode+decode+fingerprint is one narrow
    * `mapPartitions` over the id column (PCM never leaves the task);
    * 16 bytes per recording ride the bucket-count shuffle and the tiny
    * join-back key — the dd01/mm09 discipline on the audio key.
    */
  def audioFpDedup(spark: SparkSession, d: String): DataFrame = {
    val ids = Tables.documents(spark, d).select(col("doc_id"))
      .select(explode(when(col("doc_id") % 5 === 0,
        array(col("doc_id"), col("doc_id") + 100000L))
        .otherwise(array(col("doc_id")))).as("media_id"))
    val printed = audioFpOf(ids)
    val buckets = printed.groupBy(col("afp_hi"), col("afp_lo"))
      .agg(count(lit(1)).as("bucket_size"))
    printed.join(buckets, Seq("afp_hi", "afp_lo"))
      .select(col("media_id"), col("afp_hi"), col("afp_lo"),
        col("bucket_size"), (col("bucket_size") > 1L).as("is_dup"))
      .orderBy(col("media_id"))
  }

  /** The mm11 fixture generator + REAL decode + fingerprint: per
    * media_id, synthesize the deterministic WAV, decode it through
    * `javax.sound.sampled`, fingerprint the DECODED samples. Exposed for
    * the spec's codec-exactness cross-check.
    */
  private[graft] def audioFpOf(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(audioFpSchema)
    ids.select(col("media_id")).mapPartitions { rows =>
      rows.map { r =>
        val mid = r.getLong(0)
        val id = if (mid >= 100000L) mid - 100000L else mid
        val dithered = mid >= 100000L
        // amplitude code in [0, 4096) — a HASH of (id, i) mod a prime
        // with an id·i CROSS-TERM (without it the per-sample stride in
        // the mod-65521 ring is id-independent, frame energies vary
        // smoothly with the id offset, and distinct signals collide in
        // droves); sample = code - 2048
        def code(i: Int): Long = {
          val c = ((id * 2654435761L + i * 40503L + id * i * 7919L + 17L)
            % 65521L) % 4096L
          if (dithered && i % 13 == 0) (c + 1L) % 4096L else c
        }
        val wav = AudioCodec.encodeWav(1024, 16000,
          i => (code(i) - 2048L).toShort)
        val pcm = AudioCodec.decodePcm16(wav).getOrElse(
          throw new IllegalStateException(s"WAV for media $mid failed to decode"))
        // fingerprint from the DECODED samples: 64 frames × 16 samples,
        // bit f = E_f * 64 > total (cross-multiplied mean threshold)
        val energy = new Array[Long](64)
        var i = 0
        while (i < pcm.length) {
          energy(i / 16) += math.abs(pcm(i).toInt).toLong
          i += 1
        }
        val total = energy.sum
        var hi = 0L; var lo = 0L
        var f = 0
        while (f < 64) {
          if (energy(f) * 64L > total) {
            if (f >= 32) hi |= 1L << (f - 32) else lo |= 1L << f
          }
          f += 1
        }
        Row(mid, hi, lo)
      }
    }(enc)
  }

  // ---- mm13: VIDEO near-dup — frame-sampled perceptual signatures ----

  val videoFpSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("fh_hi", LongType, nullable = false),
    StructField("fh_lo", LongType, nullable = false)))

  /** mm13 — VIDEO perceptual near-dup: the temporal member of the
    * image (mm09) / audio (mm11) near-dup family. A clip is matched by
    * its SAMPLED-FRAME signature — per video, 4 frames are rendered as
    * real PNGs (pixel formula of (id, frame, position), real
    * `javax.imageio` decode), each frame aHashed exactly as mm09, and
    * two clips are near-dups when ≥3 of 4 frame hashes agree AT THE SAME
    * TIMESTAMP — the frame-vote rule production video dedup uses so a
    * re-encode with one visibly-edited frame (thumbnail swap, intro
    * card) still matches. Every `doc_id % 5 == 0` plants a noisy copy at
    * `+100000`: frames ≠ 2 get the sub-luma-quantum blue bump (mm09's
    * "same pixels, different bytes"), frame 2 a SUPER-quantum
    * checkerboard edit (+96 blue on half the pixels) so copies genuinely
    * disagree on one frame and the ≥3-of-4 vote — not all-equality — is
    * what links them; whether each frame hash matches is decided by the
    * same integer arithmetic on both engines, never assumed.
    *
    * Scale shape: render+decode+hash is one narrow `mapPartitions`
    * (pixels never leave the task; 20 bytes per frame ride the shuffle);
    * the match is an equi-JOIN on (frame_idx, hash) — candidate buckets
    * are hash-equal frames only, never a clip×clip cross join — followed
    * by one map-side-combined pair count. The dd01 discipline in the
    * time dimension.
    */
  def videoFpDedup(spark: SparkSession, d: String): DataFrame = {
    val ids = Tables.documents(spark, d).select(col("doc_id"))
      .select(explode(when(col("doc_id") % 5 === 0,
        array(col("doc_id"), col("doc_id") + 100000L))
        .otherwise(array(col("doc_id")))).as("media_id"))
    val hashed = videoFrameHashes(ids)
    val a = hashed.select(col("media_id").as("a_id"), col("frame_idx"),
      col("fh_hi"), col("fh_lo"))
    val b = hashed.select(col("media_id").as("b_id"), col("frame_idx"),
      col("fh_hi"), col("fh_lo"))
    a.join(b, Seq("frame_idx", "fh_hi", "fh_lo"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .select(col("a_id"), col("b_id"), col("n_frames_matched"),
        (col("n_frames_matched") >= 3L).as("is_neardup"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** mm14 — mm13's VIDEO near-dup as a CRAWL LOOP, completing the
    * crawl-loop × modality matrix (text dd13, embeddings ann07, image
    * mm10, audio mm12, video here): arriving clips are rendered through
    * the REAL codec, per-frame aHashed, screened against the persisted
    * hash index with TIMESTAMP-ALIGNED frame matching, linked by the
    * ≥3-of-4 frame vote, and folded in. The index is the SAME generic
    * group-pruned hash store the image/audio loops use — the frame
    * dimension rides INSIDE the key (`media_id·4 + frame_idx` on the id,
    * the frame hash on the 64-bit pair), so same-timestamp matching is
    * plain key equality plus a `% 4` alignment check, and the vote is
    * integer arithmetic the DuckDB oracle replays exactly (whether each
    * frame of each dithered copy matches — including the planted f=2
    * super-quantum edit that breaks one frame — is DECIDED by the shared
    * formula, never assumed).
    *
    * Scale per batch: render+decode+hash one narrow mapPartitions
    * (pixels never shuffle; 20 bytes/frame ride); the screen joins
    * 24-byte keys against the group-pruned scan; the vote groups the
    * few colliding pairs; the fold is one immutable leaf. Per-batch
    * cost independent of index size — the dd13 discipline in the time
    * dimension.
    */
  def streamingVideoFpSelfRecall(spark: SparkSession, d: String,
      nBatches: Int = 4): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_mm14")
    val indexDir = s"$tmp/index"
    val stageDir = s"$tmp/arrivals"
    val outDir = s"$tmp/frame_matches"
    def asKey(h: DataFrame): DataFrame = h.select(
      (col("media_id") * 4L + col("frame_idx")).as("media_id"),
      col("fh_hi").as("ahash_hi"), col("fh_lo").as("ahash_lo"))
    val orig = Tables.documents(spark, d)
      .select(col("doc_id").as("media_id"))
    graft.streaming.Graft.CrawlMetrics.timed("graft-mm14-vfp-loop-bootstrap") {
      ahashIndexAppend(asKey(videoFrameHashes(orig)), indexDir, "corpus")
    }
    Tables.documents(spark, d).select(col("doc_id"))
      .filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("media_id"))
      .repartition(nBatches, col("media_id"))
      .write.parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val q = graft.GraftSession.withStreamShuffle(spark)(
      stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.streaming.Graft.CrawlMetrics.timed("graft-mm14-vfp-loop") {
          // cache: 4 rendered frames per clip feed the screen's group
          // collect, the screen join, and the fold
          val hashed = asKey(videoFrameHashes(batch)).cache()
          try {
            screenAhash(spark, indexDir, hashed)
              // timestamp alignment: frame i matches frame i only
              .filter(col("batch_id") % 4 === col("corpus_id") % 4)
              .write.mode("append").parquet(outDir)
            ahashIndexAppend(hashed, indexDir, f"b$bid%06d")
          } finally { hashed.unpersist(); () }
        }
      }.queryName("graft-mm14-vfp-loop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    graft.GraftSession.awaitFinished(q)
    // the ≥3-of-4 vote over copy→ORIGINAL frame matches (fully
    // formula-derivable; copy↔copy matches are batch-order-dependent
    // and filtered, the mm10/mm12 convention)
    spark.read.parquet(outDir)
      .filter(col("corpus_id") < 400000L) // original clips: keys < 4·10⁵
      .groupBy(expr("batch_id DIV 4").as("batch_clip"),
        expr("corpus_id DIV 4").as("corpus_clip"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= 3L)
      .select(col("batch_clip").as("batch_id"),
        col("corpus_clip").as("corpus_id"), col("n_frames_matched"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** The mm13 fixture generator + REAL codec + per-frame aHash: per
    * media_id, render 4 deterministic 8×8 PNG frames (position term
    * spans the full 256-pixel clip so frames differ), decode through
    * `javax.imageio`, aHash each frame's DECODED pixels exactly as mm09.
    */
  private[graft] def videoFrameHashes(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(videoFpSchema)
    ids.select(col("media_id")).mapPartitions { rows =>
      rows.flatMap { r =>
        val mid = r.getLong(0)
        val id = if (mid >= 100000L) mid - 100000L else mid
        val noisy = mid >= 100000L
        (0 until 4).iterator.map { f =>
          def mix(idMul: Long, posMul: Long, c: Long, x: Int, y: Int): Long =
            ((id * idMul + (f * 64L + y * 8L + x) * posMul + c) % 65521L) % 256L
          def red(x: Int, y: Int)   = mix(2654435761L, 40503L, 17L, x, y).toInt
          def green(x: Int, y: Int) = mix(2246822519L, 52361L, 101L, x, y).toInt
          def blue(x: Int, y: Int) = {
            val base = mix(3266489917L, 44131L, 233L, x, y)
            val v =
              if (noisy && f != 2 && (x + y) % 7 == 0) (base + 1L) % 256L
              else if (noisy && f == 2 && (x + y) % 2 == 0) (base + 96L) % 256L
              else base
            v.toInt
          }
          val png = ImageCodec.encodePng(8, 8,
            (x, y) => (red(x, y) << 16) | (green(x, y) << 8) | blue(x, y))
          val img = ImageCodec.decode(png).getOrElse(
            throw new IllegalStateException(
              s"PNG frame $f for media $mid failed to decode"))
          val lumas = Array.tabulate(8, 8)((y, x) => ImageCodec.luma(img.getRGB(x, y)))
          val total = lumas.map(_.sum.toLong).sum
          var hi = 0L; var lo = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val bit = y * 8 + x
              if (lumas(y)(x).toLong * 64L > total) {
                if (bit >= 32) hi |= 1L << (bit - 32) else lo |= 1L << bit
              }
              x += 1
            }
            y += 1
          }
          Row(mid, f, hi, lo)
        }
      }
    }(enc)
  }
}
