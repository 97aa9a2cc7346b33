package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines (driver contract, BASELINE.json north_star).
  *
  * Media payloads are opaque `binary` columns with a typed metadata
  * struct; decode / feature-extract / resize / frame-sample run as
  * per-row kernels over the binary payload. Decode is REAL for the
  * formats the JDK itself ships ([[imageioDecodeRgb]] — javax.imageio
  * handles PNG/JPEG/BMP/GIF with zero extra dependencies, exercised
  * against PNGs synthesized in the spec); payloads no JDK codec
  * accepts (the driver's synthetic blobs, video containers) fall back
  * to a clearly-marked deterministic fake ([[fakeDecodeRgb]]) so the
  * Spark-side contract (schema, batching, partitioning, UDF
  * signature) stays testable end-to-end. A production deploy swaps
  * ONLY the fallback (e.g. ffmpeg bindings for video).
  */
object Multimodal {

  /** FALLBACK — deterministic fake decode for payloads no JDK codec
    * accepts (see [[decodeRgb]]; real PNG/JPEG/BMP/GIF go through
    * [[imageioDecodeRgb]]). Production swaps this for the remaining
    * formats (e.g. ffmpeg bindings for video); signature and schema
    * are the production contract: binary → row-major RGB float array
    * of width*height*3 in [0,1]. The fake derives pixels from a hash
    * of the bytes so tests are deterministic and content-sensitive.
    */
  val fakeDecodeRgb: (Array[Byte], Int, Int) => Array[Float] =
    (bytes: Array[Byte], width: Int, height: Int) => {
      val n = width * height * 3
      val out = new Array[Float](n)
      var h = 1125899906842597L // deterministic content hash seed
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      i = 0
      while (i < n) {
        h = h * 6364136223846793005L + 1442695040888963407L
        out(i) = ((h >>> 40).toInt & 0xffff).toFloat / 65535f
        i += 1
      }
      out
    }

  /** REAL image decode + resize on the JDK's own codecs: returns null
    * when no installed ImageReader accepts the payload (garbage or
    * video), so callers can fall back to [[fakeDecodeRgb]]. PNG decode
    * is lossless-deterministic; resize is Graphics2D bilinear. Output
    * contract matches the fake: row-major RGB floats in [0,1].
    */
  def imageioDecodeRgb(bytes: Array[Byte], w: Int, h: Int): Array[Float] = {
    // catch only ImageIO's documented failure modes — an Error
    // (OOM/linkage) must propagate, not silently become a fake decode
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch {
        case _: java.io.IOException => null
        case _: RuntimeException => null
      }
    if (img == null) null
    else {
      val scaled =
        if (img.getWidth == w && img.getHeight == h) img
        else {
          val out = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
          g.dispose()
          out
        }
      val arr = new Array[Float](w * h * 3)
      var i = 0; var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = scaled.getRGB(x, y)
          arr(i) = ((rgb >> 16) & 0xff) / 255f
          arr(i + 1) = ((rgb >> 8) & 0xff) / 255f
          arr(i + 2) = (rgb & 0xff) / 255f
          i += 3; x += 1
        }
        y += 1
      }
      arr
    }
  }

  /** Decode dispatch: real JDK codec when one accepts the payload,
    * deterministic fake otherwise (identical output for the synthetic
    * driver payloads, which no codec accepts).
    */
  def decodeRgb(bytes: Array[Byte], w: Int, h: Int): Array[Float] = {
    val real = imageioDecodeRgb(bytes, w, h)
    if (real != null) real else fakeDecodeRgb(bytes, w, h)
  }

  private val decodeResizeUdf = udf(
    (bytes: Array[Byte], w: Int, h: Int) => decodeRgb(bytes, w, h).toSeq)

  /** Decode + resize to (w, h): binary column → `array<float>` pixels.
    * Per-row kernel, map-side only; partitioning/pushdown unaffected.
    */
  def decodeResize(bin: Column, w: Int, h: Int): Column =
    decodeResizeUdf(bin, lit(w), lit(h))

  /** Batched decode via mapPartitions — the Scala analog of a pandas-UDF
    * `mapInPandas` media pipeline: the decoder is handed a whole partition
    * iterator so a real implementation can amortize codec init / GPU
    * transfer per batch instead of per row. Input df must have
    * (id: long, payload: binary); output (id, pixels: array<float>).
    */
  def decodeResizeBatched(df: DataFrame, w: Int, h: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // per-partition (per-"batch") setup happens here — codec handles,
        // scratch buffers — then each row reuses it
        batch.map { case (id, payload) =>
          (id, decodeRgb(payload, w, h).toSeq)
        }
      }
      .toDF("id", "pixels")
  }

  /** Mean-pool pixel features per channel: array<float> (w*h*3) →
    * array<double>(3). Codegen'd HOF — no UDF.
    */
  def channelMeans(pixels: Column): Column = {
    val n = size(pixels) / 3
    array((0 until 3).map { c =>
      aggregate(
        filter(zip_with(pixels, sequence(lit(0), size(pixels) - 1),
          (v, i) => when(i % 3 === c, v.cast("double"))), v => v.isNotNull),
        lit(0.0), (acc, v) => acc + v) / n.cast("double")
    }: _*)
  }

  /** Sanity/statistics projection over a binary media column — real
    * (non-stub) operations on the payload bytes: size, digest, magic-based
    * format sniff.
    */
  def mediaStats(bin: Column): Column = {
    val head = hex(substring(bin, 1, 4))
    struct(
      length(bin).cast("long").as("n_bytes"),
      md5(bin).as("digest"),
      when(head.startsWith("FFD8"), "jpeg")
        .when(head === "89504E47", "png")
        .when(head.startsWith("52494646"), "riff")
        .otherwise("unknown").as("format"))
  }

  /** 64-bit dHash (difference hash) over a 9×8 decoded RGB pixel
    * array — the published perceptual image fingerprint: per grid
    * cell, gray = r+g+b (left-assoc float sum); bit (y·8+x) is set iff
    * gray(x+1, y) > gray(x, y). Robust to re-encode/resize on real
    * codecs because only sign-of-gradient survives. Returned as TWO
    * 32-bit halves (hash_hi = bits 32..63, hash_lo = bits 0..31) so
    * neither engine ever forms a 2⁶³ term — every sum stays in exact
    * BIGINT range, which is what lets the DuckDB oracle replay the
    * whole hash bit-for-bit over the fake-decode LCG pixels (q219).
    * Pure expression tree (64 comparisons), codegen'd, map-side.
    */
  def dHashHalves(pixels: Column): (Column, Column) = {
    def gray(p: Int): Column =
      pixels.getItem(3 * p) + pixels.getItem(3 * p + 1) +
        pixels.getItem(3 * p + 2)
    def half(range: Range): Column =
      range.map { b =>
        val y = b / 8; val x = b % 8
        when(gray(y * 9 + x + 1) > gray(y * 9 + x),
          lit(1L << (b % 32))).otherwise(lit(0L))
      }.reduce(_ + _)
    (half(32 until 64), half(0 until 32))
  }

  /** Perceptual image dedup: decode every payload to the 9×8 grid,
    * dHash it, and group identical hashes — re-encoded/resized copies
    * of the same picture collapse to one group on real codecs (the
    * fake-decode path collapses exact payload duplicates, which is
    * what the synthetic corpus contains). Output: (hash_hi, hash_lo,
    * n_images, keep_id = min id). One decode scan + one 64-bit-key
    * groupBy — the md5-exact-dedup shape with a perceptual key.
    */
  def perceptualDedup(df: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame = {
    val withPx = df.withColumn("_px", decodeResize(col(payloadCol), 9, 8))
    val (hi, lo) = dHashHalves(col("_px"))
    withPx.select(col(idCol), hi.as("hash_hi"), lo.as("hash_lo"))
      .groupBy("hash_hi", "hash_lo")
      .agg(count(lit(1)).as("n_images"), min(col(idCol)).as("keep_id"))
  }
}
