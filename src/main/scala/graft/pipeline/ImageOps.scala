package graft.pipeline

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** JVM-native image helpers for the crop path (P13; reference
  * `cropper/pnp-cropperLambda.py:85-97` uses PIL). javax.imageio ships with
  * the JDK, so — unlike the PDF renderer — this path is REAL, not stubbed.
  * Used from plain Scala UDFs: pixel decoding is inherently opaque to
  * Catalyst, so a UDF is the correct tool here (SURVEY §7.3).
  *
  * Every decode and encode streams through an in-memory cache: the
  * `ImageIO` entry points that take a plain stream cache through a temp
  * file under `java.io.tmpdir` per call while `ImageIO.getUseCache` is on
  * (the JDK default, a JVM-wide switch this object leaves alone). Same
  * bytes out, no file per image.
  */
object ImageOps {

  /** The decoded image, or None if no reader takes the bytes. */
  private def decode(bytes: Array[Byte]): Option[BufferedImage] =
    // read(ImageInputStream) closes the stream itself
    Option(ImageIO.read(new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))))

  /** (width, height) of an encoded image, or None if undecodable. */
  def decodeDims(bytes: Array[Byte]): Option[(Int, Int)] =
    decode(bytes).map(i => (i.getWidth, i.getHeight))

  /** Crop by float pixel coords (PIL-style truncation to int, clamped to
    * the image), re-encoded JPEG quality 90 (`pnp-cropperLambda.py:97`).
    * Returns None for undecodable input or an empty crop window.
    */
  def cropJpeg(bytes: Array[Byte], left: Double, top: Double,
               right: Double, bottom: Double): Option[Array[Byte]] = {
    decode(bytes).flatMap { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val l = math.min(math.max(left.toInt, 0), w)
      val t = math.min(math.max(top.toInt, 0), h)
      val r = math.min(math.max(right.toInt, 0), w)
      val b = math.min(math.max(bottom.toInt, 0), h)
      if (r <= l || b <= t) None
      else {
        // copy out of the shared sub-raster: JPEG writers reject offset rasters
        val copy = new BufferedImage(r - l, b - t, BufferedImage.TYPE_3BYTE_BGR)
        val g = copy.createGraphics()
        try g.drawImage(img.getSubimage(l, t, r - l, b - t), 0, 0, null)
        finally g.dispose()
        Some(encodeJpeg(copy, quality = 0.9f))
      }
    }
  }

  /** Resize to exact target dims (bilinear), re-encoded JPEG — the
    * thumbnail/normalize step of a training-data image pipeline. Real
    * decode+render (JDK), not stubbed.
    */
  def resizeJpeg(bytes: Array[Byte], width: Int, height: Int): Option[Array[Byte]] =
    decode(bytes).map { img =>
      val out = new BufferedImage(width, height, BufferedImage.TYPE_3BYTE_BGR)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, width, height, null)
      } finally g.dispose()
      encodeJpeg(out, quality = 0.9f)
    }

  /** 64-bit average-hash (aHash), the standard perceptual image
    * fingerprint: decode → 8×8 bilinear downscale → luminance → each bit =
    * pixel ≥ mean. Stable under re-encoding and resizing, one Long per
    * image — the multimodal twin of the text fingerprint (t4): exact-dup
    * and near-dup detection over image columns via plain groupBy/equi-join
    * on the hash, never a pixel comparison.
    */
  def aHash(bytes: Array[Byte]): Option[Long] =
    decode(bytes).map { img =>
      // pyramid-downscale by halving: one-step bilinear to 8x8 samples only
      // a 2x2 neighborhood per output pixel (point sampling on big images),
      // which would break hash stability under resizing — the property the
      // perceptual dedup depends on
      var cur = img
      while (cur.getWidth > 16 || cur.getHeight > 16)
        cur = renderScaled(cur,
          math.max(8, cur.getWidth / 2), math.max(8, cur.getHeight / 2))
      val small = renderScaled(cur, 8, 8)
      val lum = new Array[Int](64)
      var i = 0
      while (i < 64) {
        val p = small.getRGB(i % 8, i / 8)
        // integer Rec.601 luma ×1000 — no float rounding in the threshold
        lum(i) = ((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114
        i += 1
      }
      val mean = lum.sum / 64
      var h = 0L
      i = 0
      while (i < 64) { if (lum(i) >= mean) h |= (1L << i); i += 1 }
      h
    }

  private def renderScaled(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  def encodeJpeg(img: BufferedImage, quality: Float): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val out = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), params)
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }
}
