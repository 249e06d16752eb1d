package graft.corpus

/** 64-bit perceptual hash: 8x8 block-average hash.
  *
  * DCT-free average-hash variant (public aHash technique): downsample the
  * raster to 8x8 by block averaging, then set bit (r*8+c) iff the block mean
  * exceeds the global mean. Stable under the `lq` quantization (max pixel
  * error 2 rarely flips a block relative to the mean at our noise scale) and
  * cheap enough to recompute in verification.
  */
object Phash {
  def compute(pixels: Array[Int], w: Int, h: Int): Long = {
    require(w >= 8 && h >= 8 && w % 8 == 0 && h % 8 == 0, s"w=$w h=$h must be multiples of 8")
    val bw = w / 8
    val bh = h / 8
    val means = new Array[Double](64)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        var s = 0L
        var y = r * bh
        while (y < (r + 1) * bh) {
          var x = c * bw
          while (x < (c + 1) * bw) { s += pixels(y * w + x); x += 1 }
          y += 1
        }
        means(r * 8 + c) = s.toDouble / (bw * bh)
        c += 1
      }
      r += 1
    }
    val global = means.sum / 64.0
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (means(i) > global) bits |= (1L << i)
      i += 1
    }
    bits
  }
}
