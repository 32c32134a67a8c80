package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  private lazy val media = Multimodal.mediaTable(spark, "/root/testdata/sf0.001")

  test("media table schema: opaque binary + typed metadata") {
    val s = media.schema
    assert(s("data").dataType.typeName == "binary")
    assert(s("meta").dataType.typeName == "struct")
  }

  test("feature extraction is deterministic and normalized") {
    val f = Multimodal.extractFeatures(spark, media)
    val rows = f.orderBy("doc_id").limit(5).collect()
    rows.foreach { r =>
      assert(r.features.length == 16)
      assert(math.abs(r.features.sum - 1.0) < 1e-9) // histogram sums to 1
      assert(r.n_bytes > 0)
    }
    val again = Multimodal.extractFeatures(spark, media)
      .orderBy("doc_id").limit(5).collect()
    assert(rows.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
  }

  test("resize stub caps width and shrinks payload; metadata tracks it") {
    val r = Multimodal.resize(media, 16)
    val rows = r.select(col("doc_id"), length(col("data")).as("n"),
        col("meta.width").as("w")).orderBy("doc_id").collect()
    rows.foreach { row =>
      assert(row.getAs[Int]("w") <= 16)
      assert(row.getAs[Int]("n") <= math.max(16, row.getAs[Int]("w")))
    }
  }

  // ---- real-image path: genuine PNGs through the same entry points ----

  private def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  test("decode recognises real PNG bytes and computes a luminance histogram") {
    val black = Multimodal.decode(png(8, 8)((_, _) => 0x000000))
    assert(black(0) == 1.0 && black.sum == 1.0)
    val white = Multimodal.decode(png(8, 8)((_, _) => 0xffffff))
    assert(white(15) == 1.0)
    // half black half gray 0x88 (luma 136 → bucket 8; mid-bucket, so the
    // Rec-601 float sum can't straddle a bucket edge)
    val split = Multimodal.decode(png(8, 8)((x, _) => if (x < 4) 0x000000 else 0x888888))
    assert(math.abs(split(0) - 0.5) < 1e-9 && math.abs(split(8) - 0.5) < 1e-9)
    // and the SAME entry point still byte-histograms non-image payloads
    val txt = "aaaa".getBytes("UTF-8")
    assert(Multimodal.decode(txt).toSeq == Multimodal.decodeStub(txt).toSeq)
  }

  test("extractFeatures end-to-end over a mixed image/text media table") {
    import spark.implicits._
    val rows = Seq(
      (1L, png(8, 8)((_, _) => 0x000000), "png", 8, 8),
      (2L, "plain text payload here".getBytes("UTF-8"), "txt", 23, 1))
      .toDF("doc_id", "data", "format", "width", "height")
      .select(col("doc_id"), col("data"),
        struct(col("format"), col("width"), col("height")).as("meta"))
    val f = Multimodal.extractFeatures(spark, rows).orderBy("doc_id").collect()
    assert(f(0).features(0) == 1.0)          // real decode: all-black image
    assert(f(0).n_bytes > 16)                // PNG container, not raw text
    assert(f(1).features.sum > 0.999)        // fallback histogram
  }

  test("resizeMedia really resizes a PNG: decoded dims, nearest-neighbour pixels") {
    import spark.implicits._
    // 64×32, left half red, right half blue — NN resize to 16 wide must
    // keep the halves exactly (no filtering blur)
    val src = png(64, 32)((x, _) => if (x < 32) 0xff0000 else 0x0000ff)
    val media = Seq((1L, src, "png", 64, 32))
      .toDF("doc_id", "data", "format", "width", "height")
      .select(col("doc_id"), col("data"),
        struct(col("format"), col("width"), col("height")).as("meta"))
    val out = Multimodal.resizeMedia(spark, media, 16).collect()(0)
    val meta = out.getStruct(out.fieldIndex("meta"))
    assert(meta.getInt(1) == 16 && meta.getInt(2) == 8) // w, h (aspect kept)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.getAs[Array[Byte]]("data")))
    assert(img.getWidth == 16 && img.getHeight == 8)
    assert((img.getRGB(3, 4) & 0xffffff) == 0xff0000)
    assert((img.getRGB(12, 4) & 0xffffff) == 0x0000ff)
    // already-narrow images pass through byte-identical
    val small = png(8, 8)((_, _) => 0x00ff00)
    val media2 = Seq((2L, small, "png", 8, 8))
      .toDF("doc_id", "data", "format", "width", "height")
      .select(col("doc_id"), col("data"),
        struct(col("format"), col("width"), col("height")).as("meta"))
    val kept = Multimodal.resizeMedia(spark, media2, 16).collect()(0)
    assert(kept.getAs[Array[Byte]]("data").toSeq == small.toSeq)
  }

  test("resizeMedia text fallback == the codegen resize expression") {
    val viaExpr = Multimodal.resize(media, 16)
      .select(col("doc_id"), md5(col("data")).as("fp"), col("meta.width").as("w"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val viaMap = Multimodal.resizeMedia(spark, media, 16)
      .select(col("doc_id"), md5(col("data")).as("fp"), col("meta.width").as("w"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(viaExpr.toSeq == viaMap.toSeq)
  }

  test("resizeMedia fallback == expression on non-BMP payloads (code points, not chars)") {
    import spark.implicits._
    // astral characters (UTF-16 surrogate pairs): charAt-based indexing
    // would shift positions and emit lone surrogates
    val txt = "héllo 😀 wörld ab 😃 cd xyz end"
    val width = txt.codePointCount(0, txt.length)
    val m = Seq((1L, txt.getBytes("UTF-8"), "txt", width, 1))
      .toDF("doc_id", "data", "format", "width", "height")
      .select(col("doc_id"), col("data"),
        struct(col("format"), col("width"), col("height")).as("meta"))
    val viaExpr = Multimodal.resize(m, 9)
      .select(md5(col("data"))).collect()(0).getString(0)
    val viaMap = Multimodal.resizeMedia(spark, m, 9)
      .select(md5(col("data"))).collect()(0).getString(0)
    assert(viaExpr == viaMap)
  }

  /** A genuine 16-bit mono PCM WAV, synthesized through the JDK's own
    * writer so the reader sees a spec-conformant RIFF container.
    */
  private def wav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      bytes(2 * i) = (s & 0xff).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }

  test("decodeAudio parses a real WAV: metadata and RMS energy envelope") {
    // first half silence, second half a full-scale square wave
    val n = 1600
    val samples = Array.tabulate[Short](n)(i =>
      if (i < n / 2) 0
      else if (i % 2 == 0) 16384 else -16384)
    val bytes = wav(8000, samples)
    val meta = Multimodal.decodeAudio(bytes).get
    assert(meta.sampleRate == 8000 && meta.channels == 1 && meta.frames == n)
    // silent slices ~0, loud slices = 16384/32768 = 0.5 RMS exactly
    assert(meta.energy.take(8).forall(_ == 0.0))
    assert(meta.energy.drop(8).forall(e => math.abs(e - 0.5) < 1e-9))
    // the shared 16-dim feature slot routes audio
    assert(Multimodal.decode(bytes).toSeq == meta.energy.toSeq)
    assert(Multimodal.decodeAudio("RIFFxxxxJUNK".getBytes).isEmpty)
  }

  test("to_json/from_json round-trip of metadata (F5 encode side)") {
    val enc = media.select(col("doc_id"), to_json(col("meta")).as("j"))
    val dec = enc.select(col("doc_id"),
      from_json(col("j"), media.schema("meta").dataType).as("meta2"))
    val joined = media.join(dec, "doc_id")
      .filter(col("meta.width") =!= col("meta2.width") ||
              col("meta.format") =!= col("meta2.format"))
    assert(joined.isEmpty)
  }
}
