package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing (SURVEY.md §2 ext tier): treat media as an
  * opaque `binary` column with typed metadata, and run decode /
  * feature-extract as a partition-batched pipeline.
  *
  * Decode is REAL for images: payloads that are genuine PNG/JPEG/GIF/BMP
  * bytes go through JDK `javax.imageio` (no external dependency) — a
  * true raster decode, 16-bin luminance histogram features, and a
  * deterministic nearest-neighbour resize re-encoded as PNG. Non-image
  * payloads (this repo's testdata media table carries UTF-8 text bytes)
  * fall back to the byte-level stand-ins (`decodeStub` histogram, byte
  * subsample), which keeps the oracle-gated queries exactly replayable
  * in DuckDB while MultimodalSpec drives real PNGs through the same
  * entry points end-to-end. Decode is REAL for audio too: WAV/PCM
  * payloads parse through JDK `javax.sound.sampled` into a 16-slice RMS
  * energy envelope (same 16-dim feature slot as the image histogram;
  * MultimodalSpec drives a synthesized PCM WAV through it). A video
  * model embedding would slot in at the same `mapPartitions` boundary.
  *
  * Scale notes: media bytes never shuffle — the pipeline is scan →
  * narrow mapPartitions → write. Partition sizing comes from
  * `spark.sql.files.maxPartitionBytes`; at 100 TB the binary column
  * dominates row size, so keep media in its own table (media_id, data)
  * joined by id to metadata, exactly like this layout.
  */
object Multimodal {

  /** One media row: opaque payload + typed metadata. */
  final case class MediaRow(doc_id: Long, data: Array[Byte],
      format: String, width: Int, height: Int)
  final case class MediaFeatures(doc_id: Long, n_bytes: Int,
      features: Array[Double])

  /** Build a media table from `documents` (deterministic fake payloads:
    * UTF-8 bytes of the text; metadata from n_chars).
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        col("text").cast("binary").as("data"),
        struct(lit("txt").as("format"),
          col("n_chars").cast("int").as("width"),
          lit(1).as("height")).as("meta"))
  }

  // ImageIO's default stream cache is DISK-backed: one temp file
  // created and deleted per ImageIO.read call — per-row filesystem I/O
  // on a path documented as a narrow projection. The payloads are
  // already whole byte arrays; cache in memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** Cheap magic-byte sniff so the (overwhelmingly common at this
    * repo's data) non-image payloads never construct an ImageIO stream
    * at all: PNG, JPEG, GIF, BMP — the formats every JVM's ImageIO
    * registry decodes.
    */
  private def looksLikeImage(d: Array[Byte]): Boolean =
    d.length >= 4 && (
      (d(0) == 0x89.toByte && d(1) == 'P' && d(2) == 'N' && d(3) == 'G') ||
      (d(0) == 0xff.toByte && d(1) == 0xd8.toByte) || // JPEG SOI
      (d(0) == 'G' && d(1) == 'I' && d(2) == 'F') ||
      (d(0) == 'B' && d(1) == 'M'))

  /** Try a REAL raster decode through the JDK's ImageIO registry (PNG,
    * JPEG, GIF, BMP readers ship with every JVM). Returns None for
    * payloads that don't carry an image magic number or whose decode
    * throws (truncated file).
    */
  private[ext] def decodeImage(data: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (!looksLikeImage(data)) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data)))
      catch { case _: Exception => None }

  /** 16-bin normalized LUMINANCE histogram of a decoded raster — the
    * image-side analogue of the byte histogram (Rec. 601 luma weights).
    */
  private[ext] def lumHistogram(img: java.awt.image.BufferedImage): Array[Double] = {
    val hist = new Array[Double](16)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        hist(math.min(15, lum.toInt >> 4)) += 1.0
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    if (n > 0) { var j = 0; while (j < 16) { hist(j) /= n; j += 1 } }
    hist
  }

  /** Byte-histogram fallback for non-image payloads: 16 buckets,
    * normalized — deterministic, and exactly replayable by the DuckDB
    * oracle as regex char-class counts over the text.
    */
  private[ext] def decodeStub(data: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](16)
    var i = 0
    while (i < data.length) { hist((data(i) & 0xff) >> 4) += 1.0; i += 1 }
    if (data.length > 0) { var j = 0; while (j < 16) { hist(j) /= data.length; j += 1 } }
    hist
  }

  private def looksLikeWav(d: Array[Byte]): Boolean =
    d.length >= 12 &&
      d(0) == 'R' && d(1) == 'I' && d(2) == 'F' && d(3) == 'F' &&
      d(8) == 'W' && d(9) == 'A' && d(10) == 'V' && d(11) == 'E'

  /** REAL audio decode through the JDK's `javax.sound.sampled` (WAV/PCM
    * readers ship with every JVM — no external dependency, mirroring the
    * ImageIO path): parses the RIFF header and streams the PCM frames.
    * Returns the 16-slice RMS ENERGY envelope — the audio analogue of
    * the luminance histogram (the feature a framing/VAD stage consumes)
    * — plus (sample_rate, channels, n_frames) metadata. Deterministic:
    * integer PCM samples, fixed slice boundaries, one sqrt per slice.
    */
  private[ext] final case class AudioMeta(sampleRate: Int, channels: Int,
      frames: Long, energy: Array[Double])

  private[ext] def decodeAudio(data: Array[Byte]): Option[AudioMeta] =
    if (!looksLikeWav(data)) None
    else
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(data))
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16) None
          else {
            val bytes = in.readAllBytes()
            val n = bytes.length / 2 // 16-bit little-endian samples
            val energy = new Array[Double](16)
            val counts = new Array[Long](16)
            var i = 0
            while (i < n) {
              val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort
              val slice = math.min(15, (i.toLong * 16 / math.max(1, n)).toInt)
              val v = s / 32768.0
              energy(slice) += v * v
              counts(slice) += 1
              i += 1
            }
            var j = 0
            while (j < 16) {
              energy(j) = if (counts(j) > 0) math.sqrt(energy(j) / counts(j)) else 0.0
              j += 1
            }
            Some(AudioMeta(fmt.getSampleRate.toInt, fmt.getChannels,
              n.toLong / math.max(1, fmt.getChannels), energy))
          }
        } finally in.close()
      } catch { case _: Exception => None }

  /** Per-payload features: a real raster decode when the bytes are an
    * image, the PCM energy envelope when they are WAV audio, the byte
    * histogram otherwise — one 16-dim feature slot either way.
    */
  private[ext] def decode(data: Array[Byte]): Array[Double] =
    decodeImage(data).map(lumHistogram)
      .orElse(decodeAudio(data).map(_.energy))
      .getOrElse(decodeStub(data))

  /** Feature extraction over the media table via partition-batched map. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("data"),
        col("meta.format").as("format"), col("meta.width").as("width"),
        col("meta.height").as("height"))
      .as[MediaRow]
      .mapPartitions { rows =>
        // a model-embedding impl would gather rows into batches here;
        // ImageIO decodes row-at-a-time
        rows.map(r => MediaFeatures(r.doc_id, r.data.length, decode(r.data)))
      }
  }

  /** Image-aware resize at the partition-batch boundary: genuine image
    * payloads get a REAL nearest-neighbour raster resize (explicit
    * `src = x·w/W` floor arithmetic — no Graphics2D filtering, so the
    * output raster is bit-deterministic across runs) re-encoded as PNG
    * with metadata from the DECODED dimensions; non-image payloads take
    * the character-subsample fallback, character-for-character the same
    * arithmetic as the codegen'd [[resize]] expression (MultimodalSpec
    * pins both equalities). Payloads already at or under `targetW` pass
    * through untouched.
    */
  def resizeMedia(spark: SparkSession, media: DataFrame, targetW: Int): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("data"),
        col("meta.format").as("format"), col("meta.width").as("width"),
        col("meta.height").as("height"))
      .as[MediaRow]
      .mapPartitions(_.map { r =>
        decodeImage(r.data) match {
          case Some(img) =>
            val (w, h) = (img.getWidth, img.getHeight)
            if (w <= targetW) MediaRow(r.doc_id, r.data, r.format, w, h)
            else {
              val tw = targetW
              val th = math.max(1, (h.toLong * targetW / w).toInt)
              val out = new java.awt.image.BufferedImage(
                tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < th) {
                var x = 0
                while (x < tw) {
                  out.setRGB(x, y, img.getRGB(
                    (x.toLong * w / tw).toInt, (y.toLong * h / th).toInt))
                  x += 1
                }
                y += 1
              }
              val buf = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", buf)
              MediaRow(r.doc_id, buf.toByteArray, "png", tw, th)
            }
          case None =>
            // CHARACTER subsample on the decoded string (not bytes): the
            // expression path substrings `cast(data AS string)`, and the
            // two must agree on any UTF-8 payload, not just ASCII. Index
            // by CODE POINT — Spark's substring counts code points, and
            // UTF-16 charAt would both shift indexes and split surrogate
            // pairs on astral characters (emoji)
            if (r.width <= targetW) r
            else {
              val s = new String(r.data, java.nio.charset.StandardCharsets.UTF_8)
              val cps = s.codePoints().toArray
              // out-of-range indexes contribute nothing, exactly like the
              // expression path's substring (metadata wider than the
              // payload must not throw)
              val subCps = (0 until targetW).flatMap { i =>
                val idx = (i.toLong * r.width / targetW).toInt
                if (idx < cps.length) Some(cps(idx)) else None
              }.toArray
              val sub = new String(subCps, 0, subCps.length)
              MediaRow(r.doc_id,
                sub.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                r.format, targetW, r.height)
            }
        }
      })
      .select(col("doc_id"), col("data"),
        struct(col("format"), col("width"), col("height")).as("meta"))
  }

  /** Codegen'd byte/character subsample to `targetW` columns — the
    * whole-stage-codegen fast path for NON-image payloads (text, token
    * streams); [[resizeMedia]] is the image-aware form and falls back to
    * exactly this arithmetic.
    */
  def resize(media: DataFrame, targetW: Int): DataFrame = {
    val w = col("meta.width")
    media.withColumn("data",
        expr(s"""CASE WHEN meta.width <= $targetW THEN data ELSE
                  cast(concat_ws('', transform(sequence(0, $targetW - 1),
                    i -> substring(cast(data AS string),
                           cast(i * meta.width / $targetW AS int) + 1, 1))) AS binary)
                END"""))
      .withColumn("meta", struct(col("meta.format").as("format"),
        least(w, lit(targetW)).as("width"), col("meta.height").as("height")))
  }

  /** Registered query: byte-level features with an oracle (histogram
    * buckets 2/6/7 are expressible as regex char-class counts in DuckDB —
    * ASCII space is 0x20, lowercase letters span 0x60–0x7a).
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    extractFeatures(spark, mediaTable(spark, dir))
      .select(col("doc_id"), col("n_bytes"),
        round(element_at(col("features"), 3), 6).as("h2"),
        round(element_at(col("features"), 7), 6).as("h6"),
        round(element_at(col("features"), 8), 6).as("h7"))
      .orderBy("doc_id")
  }

  val multimodalFeaturesSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  ROUND(CAST(len(regexp_extract_all(text, '[\x20-\x2f]')) AS DOUBLE)
      |    / octet_length(encode(text)), 6) AS h2,
      |  ROUND(CAST(len(regexp_extract_all(text, '[\x60-\x6f]')) AS DOUBLE)
      |    / octet_length(encode(text)), 6) AS h6,
      |  ROUND(CAST(len(regexp_extract_all(text, '[\x70-\x7f]')) AS DOUBLE)
      |    / octet_length(encode(text)), 6) AS h7
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Registered query: the resize stage end-to-end — every payload
    * subsampled to ≤32 columns, verified by an md5 fingerprint of the
    * resized BYTES (the corpus is pure ASCII, byte length == char length,
    * so DuckDB can rebuild the exact subsample from the text). The oracle
    * uses explicit floor(): Spark's double→int cast truncates while
    * DuckDB's rounds — the one semantic seam in the index arithmetic.
    */
  def multimodalResize(spark: SparkSession, dir: String): DataFrame = {
    // routed through the image-AWARE path so the driver gate exercises
    // the production entry point; on this table every payload takes the
    // character-subsample fallback, which the oracle replays exactly
    resizeMedia(spark, mediaTable(spark, dir), 32)
      .select(col("doc_id"),
        col("meta.width").cast("long").as("width"),
        md5(col("data")).as("data_fp"))
      .orderBy("doc_id")
  }

  val multimodalResizeSql: String =
    """SELECT doc_id,
      |  CAST(LEAST(n_chars, 32) AS BIGINT) AS width,
      |  md5(CASE WHEN n_chars <= 32 THEN text ELSE
      |    array_to_string(list_transform(range(0, 32),
      |      i -> substr(text, CAST(floor(i * n_chars / 32.0) AS INT) + 1, 1)), '')
      |  END) AS data_fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** PERCEPTUAL MEDIA DEDUP — duplicate groups keyed by the fingerprint
    * of the DECODED-AND-RESIZED content (the [[resizeMedia]] 32-column
    * normalization), not the raw bytes: two assets that differ only in
    * resolution/container collapse to one fingerprint, which byte-hash
    * dedup ([[DedupQueries.dedupExact]]) structurally misses — the
    * image analogue of text near-dup, with the resize as the
    * canonicalizer (a coarse perceptual hash). One decode+resize pass
    * to (doc_id, fp), one fingerprint shuffle; groups of ≥2 report
    * size + representative + member range.
    */
  def mediaDupGroups(spark: SparkSession, dir: String): DataFrame = {
    // width 4 = the aggressive "thumbnail hash" end of the
    // precision/recall dial (dHash's 8×8 in text mode): recall-heavy
    // buckets a production pipeline re-verifies at higher width
    resizeMedia(spark, mediaTable(spark, dir), 4)
      .select(col("doc_id"), md5(col("data")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_dups"),
        min("doc_id").as("keep_doc"), max("doc_id").as("max_doc"))
      .filter(col("n_dups") >= 2)
      .orderBy(desc("n_dups"), asc("fp"))
  }

  val mediaDupGroupsSql: String =
    """WITH fps AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN n_chars <= 4 THEN text ELSE
      |      array_to_string(list_transform(range(0, 4),
      |        i -> substr(text, CAST(floor(i * n_chars / 4.0) AS INT) + 1,
      |          1)), '')
      |    END) AS fp
      |  FROM documents)
      |SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_dups,
      |  CAST(MIN(doc_id) AS BIGINT) AS keep_doc,
      |  CAST(MAX(doc_id) AS BIGINT) AS max_doc
      |FROM fps
      |GROUP BY fp
      |HAVING COUNT(*) >= 2
      |ORDER BY n_dups DESC, fp""".stripMargin

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "multimodal_features" -> ((multimodalFeatures _, multimodalFeaturesSql)),
    "media_dup_groups" -> ((mediaDupGroups _, mediaDupGroupsSql)),
    "multimodal_resize" -> ((multimodalResize _, multimodalResizeSql))
  )
}
