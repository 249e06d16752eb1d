package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{Codec, Corpus, ImageRow, Phash, Rng}

/** The pure, allocating forms of the corpus generator and codec checks:
  * the references the scratch-buffer paths in main are checked against.
  */
object CorpusSpec {
  import Corpus.{captionOf, entityOf, Params}

  /** Deterministic pixel function: pixel (x,y) of image i under seed. */
  def pixels(seed: Long, imageIdx: Long, w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    Codec.pixelsInto(seed, imageIdx, w, h, out)
    out
  }

  /** Peak signal-to-noise ratio between two rasters; infinity if identical. */
  def psnr(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length && a.nonEmpty)
    var se = 0.0
    var i = 0
    while (i < a.length) { val d = (a(i) - b(i)).toDouble; se += d * d; i += 1 }
    val mse = se / a.length
    if (mse == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / mse)
  }

  /** The pure generator: one row from scratch, every buffer its own — the
    * reference for [[graft.corpus.Corpus.imageRowFast]].
    */
  def imageRow(p: Params, i: Long): ImageRow = {
    val entity = entityOf(p.seed, i, p.entities)
    val imageId = s"$entity-%012d".format(i)
    val h = Rng.hash(p.seed, i, 5)
    val w = p.sizes(Rng.int(h, p.sizes.length))
    val ht = p.sizes(Rng.int(Rng.mix(h), p.sizes.length))
    val fmt = if (Rng.int(Rng.hash(p.seed, i, 6), 2) == 0) Codec.FmtRaw else Codec.FmtLq
    val px = pixels(p.seed, i, w, ht)
    val bytes = Codec.encode(px, fmt)
    // phash is computed over the *stored* (decoded) pixels so recomputation
    // from the payload always matches the stored value, for both formats.
    val phash = Phash.compute(Codec.decode(bytes), w, ht)
    ImageRow(imageId, bytes, w, ht, fmt, captionOf(p.seed, i), phash)
  }

  /** Parse the row index back out of an image_id (suffix after '-'). */
  def indexOf(imageId: String): Long =
    imageId.substring(imageId.lastIndexOf('-') + 1).toLong
}

class CorpusSpec extends AnyFunSuite {
  import CorpusSpec._

  test("raw codec roundtrips byte-exactly") {
    for (i <- 0L until 50L) {
      val px = pixels(42L, i, 16, 16)
      assert(Codec.decode(Codec.encode(px, Codec.FmtRaw)).sameElements(px))
    }
  }

  test("lq codec decodes within PSNR >= 40 dB (input_hint contract)") {
    for (i <- 0L until 200L) {
      val px = pixels(42L, i, 16, 16)
      val dec = Codec.decode(Codec.encode(px, Codec.FmtLq))
      val p = psnr(px, dec)
      assert(p >= 40.0, s"image $i psnr=$p")
      // quantization error bound: |e| <= 1 per pixel
      px.zip(dec).foreach { case (a, b) => assert(math.abs(a - b) <= 1) }
    }
  }

  test("phash recomputation from payload matches stored value") {
    val p = Corpus.Params(rows = 100)
    for (i <- 0L until 100L) {
      val r = imageRow(p, i)
      assert(Phash.compute(Codec.decode(r.bytes), r.w, r.h) == r.phash)
    }
  }

  test("generation is a pure function of (seed, i) — partition independent") {
    val p = Corpus.Params(rows = 10)
    val a = imageRow(p, 7L)
    val b = imageRow(p, 7L)
    assert(a.image_id == b.image_id && a.caption == b.caption &&
      a.phash == b.phash && a.bytes.sameElements(b.bytes))
  }

  test("scratch-buffer fast path is byte-identical to the pure generator") {
    val p = Corpus.Params(rows = 500)
    val scratch = new Array[Int](p.sizes.max * p.sizes.max)
    for (i <- 0L until 500L) {
      val pure = imageRow(p, i)
      val fast = Corpus.imageRowFast(p, i, scratch)
      assert(pure.image_id == fast.image_id)
      assert(pure.bytes.sameElements(fast.bytes), s"bytes differ at $i")
      assert(pure.phash == fast.phash, s"phash differs at $i")
      assert(pure.caption == fast.caption && pure.w == fast.w &&
        pure.h == fast.h && pure.fmt == fast.fmt)
    }
  }

  test("event times are monotone non-decreasing per entity and contain dups") {
    val p = Corpus.Params(rows = 3000)
    val rows = (0L until p.rows).map { i =>
      (Corpus.entityOf(p.seed, i, p.entities), Corpus.eventMsOf(p.seed, i, p.baseMs, p.stepMs))
    }
    var dups = 0
    rows.groupBy(_._1).foreach { case (_, es) =>
      val ts = es.map(_._2) // already in i order
      ts.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a <= b, "non-monotone per entity")
          if (a == b) dups += 1
        case _ =>
      }
    }
    assert(dups > 0, "expected duplicate-timestamp edge cases")
  }

  test("zipf entity assignment is skewed (hot prefix exists)") {
    val p = Corpus.Params(rows = 5000)
    val counts = (0L until p.rows)
      .groupBy(i => Corpus.entityOf(p.seed, i, p.entities)).view.mapValues(_.size)
    val max = counts.values.max
    assert(max > 2 * p.rows.toInt / p.entities, s"max=$max not skewed")
  }

  test("rng mix is stable across calls (golden values)") {
    assert(Rng.mix(0L) == Rng.mix(0L))
    assert(Rng.hash(42L, 0L) != Rng.hash(42L, 1L))
    assert(Rng.double01(Rng.hash(42L, 5L)) >= 0.0 && Rng.double01(Rng.hash(42L, 5L)) < 1.0)
  }
}
