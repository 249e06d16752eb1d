package graft.corpus

/** Tiny deterministic raster codec for the synthetic image corpus.
  *
  * `input_hint` requires a `bytes:binary` payload with formats whose decode
  * either roundtrips byte-exactly (`raw`) or within PSNR >= 40 dB (`lq`).
  * Real image libraries are not in this container, so the codec is a
  * self-contained, fully-specified stand-in: single-channel 8-bit rasters.
  *
  *  - `raw`: payload = pixels verbatim. Decode is byte-exact.
  *  - `lq` : payload = pixels quantized to the nearest multiple of 3
  *           (255 = 85*3, so the range endpoints are exact). Max per-pixel
  *           error is 1, so MSE <= 1 and PSNR = 10*log10(255^2 / MSE)
  *           >= 48 dB — the >=40 dB contract holds by construction, not by
  *           measurement.
  *
  * A 1-byte magic header tags the format so decode is payload-driven.
  * Everything is endianness-free (bytes only).
  */
object Codec {
  val FmtRaw = "raw"
  val FmtLq = "lq"
  private val MagicRaw: Byte = 0x52 // 'R'
  private val MagicLq: Byte = 0x51 // 'Q'

  /** Encode pixels (values 0..255 as ints) into the given format. */
  def encode(pixels: Array[Int], fmt: String): Array[Byte] = {
    val out = new Array[Byte](pixels.length + 1)
    fmt match {
      case FmtRaw =>
        out(0) = MagicRaw
        var i = 0
        while (i < pixels.length) { out(i + 1) = pixels(i).toByte; i += 1 }
      case FmtLq =>
        out(0) = MagicLq
        var i = 0
        while (i < pixels.length) {
          val q = ((pixels(i) + 1) / 3) * 3
          out(i + 1) = q.toByte
          i += 1
        }
      case other => throw new IllegalArgumentException(s"unknown fmt: $other")
    }
    out
  }

  /** Decode a payload back to pixels (0..255 ints). */
  def decode(bytes: Array[Byte]): Array[Int] = {
    require(bytes.nonEmpty, "empty payload")
    require(bytes(0) == MagicRaw || bytes(0) == MagicLq, "bad magic")
    val out = new Array[Int](bytes.length - 1)
    var i = 0
    while (i < out.length) { out(i) = bytes(i + 1) & 0xff; i += 1 }
    out
  }

  /** Encode ALREADY-STORED pixel values (raw payload for `raw`; values
    * pre-quantized in place for `lq`) — the allocation-lean twin of
    * [[encode]] for scratch-buffer generation. Only the payload byte array
    * is allocated.
    */
  def encodeStored(stored: Array[Int], n: Int, fmt: String): Array[Byte] = {
    val out = new Array[Byte](n + 1)
    out(0) = if (fmt == FmtRaw) MagicRaw else MagicLq
    var i = 0
    while (i < n) { out(i + 1) = stored(i).toByte; i += 1 }
    out
  }

  /** Deterministic pixel function: pixel (x,y) of image i under seed, into
    * a caller-provided scratch buffer (capacity >= w*h). Smooth-ish
    * gradient + hashed noise so phash is non-degenerate.
    */
  def pixelsInto(seed: Long, imageIdx: Long, w: Int, h: Int, out: Array[Int]): Unit = {
    val base = Rng.hash(seed, imageIdx, 1)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val grad = (x * 255 / math.max(1, w - 1) + y * 255 / math.max(1, h - 1)) / 2
        val noise = Rng.int(Rng.mix(base ^ (y.toLong << 32) ^ x.toLong), 64) - 32
        out(y * w + x) = math.max(0, math.min(255, grad + noise))
        x += 1
      }
      y += 1
    }
  }
}
