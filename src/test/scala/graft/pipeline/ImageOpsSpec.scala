package graft.pipeline

import graft.SparkTestBase

/** The real (non-stub) image operators: crop, resize, perceptual hash —
  * all JDK javax.imageio, verified on deterministic stub-rendered pages.
  */
class ImageOpsSpec extends SparkTestBase {

  private val page = StubRasterizer.rasterize(FixtureBinaries.minimalPdf(1)).head

  test("resize produces a decodable JPEG at exactly the target dimensions") {
    val thumb = ImageOps.resizeJpeg(page, 64, 90)
    assert(thumb.isDefined)
    assert(ImageOps.decodeDims(thumb.get) === Some((64, 90)))
    assert((thumb.get(0) & 0xff) === 0xff && (thumb.get(1) & 0xff) === 0xd8)
  }

  test("aHash is deterministic, survives re-encoding, and separates different images") {
    val h1 = ImageOps.aHash(page)
    assert(h1.isDefined)
    assert(ImageOps.aHash(page) === h1, "same bytes must hash identically")
    // re-encode via a lossy resize round-trip at the same dims: perceptual
    // hash must be stable (that is its entire point vs md5)
    val dims = ImageOps.decodeDims(page).get
    val reenc = ImageOps.resizeJpeg(page, dims._1, dims._2).get
    assert(ImageOps.aHash(reenc) === h1, "aHash must survive JPEG re-encoding")
    // a half-size rendition of the same image must stay within a small
    // hamming distance — the resize-stability property the pyramid
    // downscale exists for (one-step bilinear would point-sample and fail)
    val half = ImageOps.resizeJpeg(page, dims._1 / 2, dims._2 / 2).get
    val hd = java.lang.Long.bitCount(ImageOps.aHash(half).get ^ h1.get)
    assert(hd <= 8, s"aHash must survive downscaling (hamming $hd)")
    // a STRUCTURALLY different image must not collide: a crop excluding
    // the white band is a uniform field (all bits ≥ mean), unlike the
    // banded page. (Two stub pages with bands in the same 8x8 cell
    // correctly DO collide — aHash keys on structure, not fill color.)
    val other = ImageOps.cropJpeg(page, 0, 50, 248, 350).get
    assert(ImageOps.aHash(other) !== h1)
  }

  test("aHash near-dup detection on photographic imagery (resize + re-encode)") {
    // seeded gradient+noise "photo": continuous luminance, unlike the flat
    // stub pages — the distribution the perceptual dedup actually targets
    val photo = PhotoRasterizer.renderPhoto(42L, 248, 350)
    val h = ImageOps.aHash(photo)
    assert(h.isDefined)
    assert(ImageOps.aHash(photo) === h, "deterministic on identical bytes")
    // a 60%-size lossy rendition must land within near-dup range: the ±15
    // pixel noise pools away under the 8x8 aHash averaging
    val small = ImageOps.resizeJpeg(photo, 149, 210).get
    val hd = java.lang.Long.bitCount(ImageOps.aHash(small).get ^ h.get)
    assert(hd <= 8, s"resized+re-encoded photo must be a near-dup (hamming $hd)")
    // and a different seed = different wave structure = NOT a near-dup
    val other = PhotoRasterizer.renderPhoto(43L, 248, 350)
    val hdOther = java.lang.Long.bitCount(ImageOps.aHash(other).get ^ h.get)
    assert(hdOther > 8, s"different photos must separate (hamming $hdOther)")
  }

  test("undecodable bytes yield None across all operators") {
    val junk = Array[Byte](1, 2, 3, 4)
    assert(ImageOps.decodeDims(junk).isEmpty)
    assert(ImageOps.resizeJpeg(junk, 10, 10).isEmpty)
    assert(ImageOps.cropJpeg(junk, 0, 0, 5, 5).isEmpty)
    assert(ImageOps.aHash(junk).isEmpty)
  }

  test("degenerate crop windows yield None, not errors") {
    assert(ImageOps.cropJpeg(page, 50, 50, 50, 80).isEmpty)  // zero width
    assert(ImageOps.cropJpeg(page, 400, 0, 500, 50).isEmpty) // fully clamped out
  }
}
