package graft.pipeline

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.security.MessageDigest

import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageOutputStream

/** PDF→page-image rasterization (P14/G2; reference
  * `pdf_converter/gen_pdf_imgLambda.py:51-57` uses poppler via pdf2image).
  *
  * No PDF rendering library ships in this environment, so the DECODE step is
  * a clearly-marked deterministic stub: page COUNT is parsed from the real
  * PDF structure (`/Type /Page` objects), and each "rendered" page is a real
  * JPEG (javax.imageio) whose pixels derive deterministically from
  * (pdf bytes, page index). Everything around the stub — binaryFile
  * ingestion, the 1→N flatMap, binary-column handling, the image sink, the
  * downstream crop join — is real and exercised end-to-end. Swapping in a
  * real renderer (e.g. PDFBox's PDFRenderer) changes ONLY [[renderPage]].
  */
trait PageRasterizer extends Serializable {
  /** One JPEG byte array per page of the given PDF. */
  def rasterize(pdfBytes: Array[Byte]): Seq[Array[Byte]]
}

object StubRasterizer extends PageRasterizer {

  /** Stub page dimensions (a real 300-DPI A4 render would be 2480x3508;
    * the stub renders small to keep fixtures fast).
    */
  val PageWidth = 248
  val PageHeight = 350

  // [^s] (not a lookahead) so the DuckDB oracle — RE2, no lookahead — can
  // use the EXACT same pattern: both engines miscount the same inputs the
  // same way, which is the parity that matters
  private val PageMarker = "/Type\\s*/Page[^s]".r

  /** Page count from the PDF object structure — real parsing, works on any
    * uncompressed-object PDF (incl. the checked-in fixtures).
    */
  def pageCount(pdfBytes: Array[Byte]): Int = {
    val text = new String(pdfBytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    PageMarker.findAllIn(text).size
  }

  override def rasterize(pdfBytes: Array[Byte]): Seq[Array[Byte]] =
    (0 until pageCount(pdfBytes)).map(renderPage(pdfBytes, _))

  /** STUB render: deterministic solid fill + page-index band derived from
    * md5(pdf bytes). Replace with a real renderer to leave stub-land.
    */
  private def renderPage(pdfBytes: Array[Byte], pageIdx: Int): Array[Byte] = {
    val digest = MessageDigest.getInstance("MD5").digest(pdfBytes)
    val rgb = ((digest(0) & 0xff) << 16) | ((digest(1) & 0xff) << 8) | (digest(2) & 0xff)
    val img = new BufferedImage(PageWidth, PageHeight, BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    try {
      g.setColor(new java.awt.Color(rgb))
      g.fillRect(0, 0, PageWidth, PageHeight)
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, (pageIdx * 13) % PageHeight, PageWidth, 10)
    } finally g.dispose()
    val out = new ByteArrayOutputStream()
    // an in-memory cache, not ImageIO's temp file per call (see ImageOps)
    val ios = new MemoryCacheImageOutputStream(out)
    try ImageIO.write(img, "jpg", ios) finally ios.close()
    out.toByteArray
  }
}

/** Photographic-ish stub renderer: a smooth seeded 2-D luminance wave plus
  * per-pixel noise, real JPEG encode. Same fan-out contract as
  * [[StubRasterizer]] (page count from the real PDF structure), but the
  * pixels have the continuous, non-uniform luminance distribution of a
  * photograph — the regime the perceptual aHash dedup (c3) actually targets,
  * which flat fills never exercise. Still NOT a real PDF decode: no PDF
  * raster library exists in this offline environment (see COVERAGE.md);
  * a real renderer swaps in behind [[PageRasterizer]] unchanged.
  */
object PhotoRasterizer extends PageRasterizer {

  val PageWidth: Int = StubRasterizer.PageWidth
  val PageHeight: Int = StubRasterizer.PageHeight

  override def rasterize(pdfBytes: Array[Byte]): Seq[Array[Byte]] = {
    val digest = MessageDigest.getInstance("MD5").digest(pdfBytes)
    val base = java.nio.ByteBuffer.wrap(digest).getLong
    (0 until StubRasterizer.pageCount(pdfBytes))
      .map(i => renderPhoto(base + i, PageWidth, PageHeight))
  }

  /** Deterministic "photo": seed fixes the wave orientation, frequency,
    * phase and brightness; a seeded PRNG adds ±15 uniform noise per pixel.
    * The noise averages out under aHash's 8×8 pooling (each cell pools
    * hundreds of pixels), so near-dup detection across resize/re-encode
    * holds, while different seeds give structurally different images.
    */
  def renderPhoto(seed: Long, w: Int, h: Int): Array[Byte] = {
    val rnd = new java.util.Random(seed)
    val angle = rnd.nextDouble() * math.Pi
    val freq = 1.5 + rnd.nextDouble() * 2.5
    val phase = rnd.nextDouble() * math.Pi
    val base = 90 + rnd.nextInt(60)
    val (dx, dy) = (math.cos(angle), math.sin(angle))
    val span = math.max(w, h).toDouble
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    // one bulk setRGB: per-pixel setRGB round-trips the color model ~87k
    // times per page
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val u = (x * dx + y * dy) / span
        val lum = base + 70.0 * math.sin(u * freq * math.Pi + phase)
        val noise = rnd.nextInt(31) - 15
        def ch(off: Int): Int =
          math.min(255, math.max(0, (lum + noise + off).toInt))
        px(y * w + x) = (ch(10) << 16) | (ch(0) << 8) | ch(-10)
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    ImageOps.encodeJpeg(img, quality = 0.9f)
  }
}

/** Deterministic fixture binaries for the raw zone (FIXTURES.md A3): a
  * hand-written minimal PDF (uncompressed objects, one `/Type /Page` per
  * page) that the stub rasterizer can page-count.
  */
object FixtureBinaries {

  def minimalPdf(nPages: Int): Array[Byte] = {
    val kids = (0 until nPages).map(i => s"${3 + i} 0 R").mkString(" ")
    val pages = (0 until nPages).map { i =>
      s"${3 + i} 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] >> endobj"
    }.mkString("\n")
    val doc =
      s"""%PDF-1.4
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [$kids] /Count $nPages >> endobj
         |$pages
         |trailer << /Root 1 0 R >>
         |%%EOF
         |""".stripMargin
    doc.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Write the raw-zone PDF fixtures matching the checked-in silver JSON
    * fixtures (same {province}/{date_range} keys, 2 pages each). Idempotent.
    */
  def writeRawPdfs(rawRoot: String): Unit = {
    import java.nio.file.{Files, Paths}
    Seq(
      "Gauteng/13_February_-_15_February_2026.pdf",
      "Eastern_Cape/20_February_-_22_February_2026.pdf"
    ).foreach { rel =>
      val p = Paths.get(s"$rawRoot/PnP/$rel")
      Files.createDirectories(p.getParent)
      Files.write(p, minimalPdf(2))
    }
  }
}
