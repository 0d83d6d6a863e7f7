package graft.operators

/** The deterministic synthetic image corpus of q151 and its specs:
  * docs come in groups of 4 (`g = id / 4`) whose members are
  * near-duplicate variants of one base image, so the perceptual-hash
  * pipeline has planted within-group pairs and — by the mixing below —
  * essentially no cross-group collisions.
  *
  * Kernel notes (earned at sf0.01, kept verbatim so the bench measures
  * the SAME corpus q151 is oracle-checked on):
  *  - group-MULTIPLICATIVE mix: an additive g-term would shift every
  *    pixel of a group by the same offset, which aHash is (by design)
  *    invariant to — measured 3.5k cross-group Hamming-0 pairs at
  *    sf0.01 under the additive kernel, ~0 under this one;
  *  - xorshift + small-prime multiply: the bare group-slope LCG left
  *    linear structure (91 cross-group Hamming collisions at 500 docs;
  *    0 after the mix). 104729 keeps the product inside i64 on both
  *    engines (the DuckDB oracle replays this arithmetic).
  */
object ImageGen {

  /** The 64 grayscale pixels (8×8, row-major, 0–255) of document `id`. */
  def grayPixels(id: Long): Array[Int] = {
    val g = id / 4
    val v = (id % 4).toInt
    Array.tabulate(64) { j =>
      val mg = ((g + 1L) * 2654435761L) % 4294967296L
      val h0 = (mg * (j + 17L) + j * 1013904223L) % 4294967296L
      val h = (((h0 ^ (h0 / 8192L)) * 104729L) % 4294967296L)
      val base = ((h / 65536L) % 256L).toInt
      if (v == 3) 255 - base
      else if (j % 16 == v) base ^ (v + 1)
      else base
    }
  }

  /** Document `id` rendered at an arbitrary `w`×`h` (row-major) by
    * nearest-neighbor upscale of its 8×8 pattern — the cross-size
    * corpus for [[ImageHash.gridReduce]]: big-image pixel (x, y) takes
    * base pixel (⌊8x/w⌋, ⌊8y/h⌋). When 8 | w and 8 | h every gridReduce
    * block is constant, so the floor-mean recovers [[grayPixels]]`(id)`
    * EXACTLY and the hash — hence the whole measured banding-recall
    * regime — is size-invariant; at non-multiple dims blocks straddle
    * base pixels and the reduction is a genuine mean (spec'd against an
    * independent reference, not an identity).
    */
  def grayPixelsAt(id: Long, w: Int, h: Int): Array[Int] = {
    require(w >= 8 && h >= 8, s"need w,h >= 8, got ${w}x$h")
    val base = grayPixels(id)
    Array.tabulate(w * h) { i =>
      val y = i / w; val x = i % w
      base((y * 8 / h) * 8 + (x * 8 / w))
    }
  }

  /** Per-doc deterministic render shape for the cross-size corpus
    * (q157): six W×H shapes cycled by `id % 6` — three exact-identity
    * reductions (8 | W and 8 | H, where [[ImageHash.gridReduce]]
    * recovers [[grayPixels]]`(id)` bit-for-bit, so near-dups land
    * ACROSS sizes) and three genuine floor-means (8 ∤ W or 8 ∤ H).
    * Group members (consecutive ids) span shapes independently of the
    * variant cycle, so both variant classes see both shape kinds.
    */
  val Shapes: Array[(Int, Int)] =
    Array((8, 8), (16, 16), (24, 8), (11, 9), (16, 10), (13, 13))

  /** The render shape of document `id` ([[Shapes]]`(id % 6)`). */
  def shapeFor(id: Long): (Int, Int) = Shapes((id % 6).toInt)

  /** Content fingerprint of the generator kernel: CRC32 over a few
    * probe PNGs. On-disk corpora (IMSCALE's million-file arm) are
    * reused across runs keyed on this — if the kernel constants ever
    * change, a stale file corpus regenerates instead of silently
    * benching a different corpus than the packed arm (r15 ADVICE).
    */
  lazy val kernelHash: String = {
    val crc = new java.util.zip.CRC32
    Seq(0L, 1L, 2L, 3L, 12345L).foreach(id => crc.update(pngFor(id)))
    java.lang.Long.toHexString(crc.getValue)
  }

  /** Document `id` as a real PNG (lossless, so decode→gray is exactly
    * [[grayPixels]] — the q125/q151 roundtrip property).
    */
  def pngFor(id: Long): Array[Byte] = {
    val px = grayPixels(id)
    val rgb = new Array[Byte](64 * 3)
    var i = 0
    while (i < 64) {
      val b = px(i).toByte
      rgb(i * 3) = b; rgb(i * 3 + 1) = b; rgb(i * 3 + 2) = b
      i += 1
    }
    MediaCodecs.encodePng(8, 8, rgb)
  }
}
