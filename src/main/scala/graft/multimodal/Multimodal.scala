package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.corpus.{Codec, ImageRow, Phash, Rng}

/** Multimodal (binary-column) processing plumbing.
  *
  * Images/audio/video are opaque `binary` columns with typed metadata
  * (w, h, fmt — per `input_hint`). All per-payload compute runs inside
  * `mapPartitions` over a typed Dataset so payload bytes never pass through
  * a shuffle unless the operator genuinely requires it; outputs are small
  * typed rows (stats/features), keeping downstream plans codegen-friendly.
  *
  * STUB BOUNDARY: this container has no image/audio codec libraries. The
  * engine's own `raw`/`lq` formats decode for real via [[Codec]]; any OTHER
  * fmt falls into [[decodeOrStub]]'s deterministic fake decoder (pixels
  * derived from a hash of the payload) — clearly marked, and shaped exactly
  * like a real decoder (same signature, same batch iteration), so swapping
  * in e.g. a JPEG decoder on a real cluster changes one function.
  */
object Multimodal {

  final case class DecodedStats(
      image_id: String, fmt: String, w: Int, h: Int,
      px_mean: Double, px_min: Int, px_max: Int,
      phash_recomputed: Long, phash_matches: Boolean)

  final case class ThumbRow(image_id: String, tw: Int, th: Int, thumb: Array[Byte])

  final case class FrameStat(image_id: String, frame_idx: Int, px_mean: Double)

  /** Decode a payload to pixels. Real for the engine's own formats; a
    * deterministic STUB for foreign formats (no codec libs in sandbox).
    */
  def decodeOrStub(bytes: Array[Byte], w: Int, h: Int, fmt: String): Array[Int] =
    fmt match {
      case Codec.FmtRaw | Codec.FmtLq => Codec.decode(bytes)
      case _ =>
        // STUB: deterministic fake decode (hash-derived pixels). Replace with
        // a real codec call (e.g. ImageIO/libjpeg) outside this sandbox.
        val seed = bytes.foldLeft(0L)((a, b) => Rng.mix(a ^ (b & 0xffL)))
        Array.tabulate(w * h)(i => Rng.int(Rng.hash(seed, i), 256))
    }

  /** Block-average resample to (tw, th) — integer box filter. */
  def resize(px: Array[Int], w: Int, h: Int, tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * h / th; val y1 = math.max(y0 + 1, (ty + 1) * h / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * w / tw; val x1 = math.max(x0 + 1, (tx + 1) * w / tw)
        var s = 0L; var n = 0
        var y = y0
        while (y < y1) { var x = x0; while (x < x1) { s += px(y * w + x); n += 1; x += 1 }; y += 1 }
        out(ty * tw + tx) = (s / n).toInt
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Per-image decode + pixel stats + phash recomputation check.
    * mapPartitions: payloads stay where they were read; output is tiny.
    */
  def decodeStats(images: Dataset[ImageRow]): Dataset[DecodedStats] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      it.map { r =>
        val px = decodeOrStub(r.bytes, r.w, r.h, r.fmt)
        var mn = 255; var mx = 0; var s = 0L
        var i = 0
        while (i < px.length) {
          val v = px(i); if (v < mn) mn = v; if (v > mx) mx = v; s += v; i += 1
        }
        val ph = Phash.compute(px, r.w, r.h)
        DecodedStats(r.image_id, r.fmt, r.w, r.h,
          math.round(s.toDouble / px.length * 10000).toDouble / 10000, mn, mx,
          ph, ph == r.phash)
      }
    }
  }

  /** Thumbnail extraction: decode → box-resize → re-encode raw payload. */
  def thumbnails(images: Dataset[ImageRow], tw: Int = 8, th: Int = 8): Dataset[ThumbRow] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      it.map { r =>
        val px = decodeOrStub(r.bytes, r.w, r.h, r.fmt)
        ThumbRow(r.image_id, tw, th, Codec.encode(resize(px, r.w, r.h, tw, th), Codec.FmtRaw))
      }
    }
  }

  /** Training-data image quality gate: the standard pre-training filter a
    * corpus passes through before feature extraction (the reference's analog
    * is its row-level sample QC before model fitting,
    * `helper/computeInteractionMatrix.R:164-170` — entities failing basic
    * validity rules are masked out before any statistics run).
    *
    * Adds a `reject_reason` string column — the FIRST failing rule in a
    * fixed order, null when the row passes (filter `reject_reason IS NULL`
    * to keep survivors; keeping the reason makes the gate auditable, which
    * a silent filter is not):
    *
    *  0. `missing_field`      w, h, fmt, caption — or bytes when the
    *                          corrupt rule is armed — is null. Checked
    *                          FIRST and explicitly: a null skips every
    *                          `when` branch, so without this rule the
    *                          nullest (most broken) rows would be exactly
    *                          the ones sailing through the gate;
    *  1. `too_small`          w·h below `minPixels`;
    *  2. `bad_aspect`         max(w/h, h/w) above `maxAspect`;
    *  3. `bad_fmt`            fmt outside `fmtAllowed`;
    *  4. `corrupt`            actual payload length ≠ `expectedByteLen`
    *                          (pass e.g. the codec's w·h+1 contract; rule
    *                          skipped when None — callers without bytes);
    *  5. `caption_short`      whitespace token count below `minTokens`;
    *  6. `caption_stopwordy`  stopword ratio above `maxStopwordRatio`.
    *
    * Scale shape: every rule is a pure column expression over the row (the
    * caption rules reuse [[graft.functions.Text]]'s codegen'd token
    * expressions) — the gate is a map over the scan, no UDF, no shuffle,
    * and at 100 TB it fuses into the reading stage's WholeStageCodegen.
    */
  def qualityGate(df: DataFrame, stopwords: Seq[String],
      minPixels: Long = 128L, maxAspect: Double = 1.5,
      fmtAllowed: Seq[String] = Seq(Codec.FmtRaw, Codec.FmtLq),
      minTokens: Int = 3, maxStopwordRatio: Double = 0.7,
      expectedByteLen: Option[Column] = None): DataFrame = {
    import graft.functions.Text
    val px = col("w").cast("long") * col("h").cast("long")
    val aspect = greatest(col("w").cast("double") / col("h"),
      col("h").cast("double") / col("w"))
    val corrupt = expectedByteLen
      .map(e => length(col("bytes")).cast("long") =!= e.cast("long"))
      .getOrElse(lit(false))
    val missing = Seq(col("w"), col("h"), col("fmt"), col("caption"))
      .++(expectedByteLen.map(_ => col("bytes")).toSeq)
      .map(_.isNull).reduce(_ || _)
    df.withColumn("reject_reason",
      when(missing, "missing_field")
        .when(px < minPixels, "too_small")
        .when(aspect > maxAspect, "bad_aspect")
        .when(!col("fmt").isin(fmtAllowed.map(lit(_)): _*), "bad_fmt")
        .when(corrupt, "corrupt")
        .when(Text.tokenCount(col("caption")) < minTokens, "caption_short")
        .when(Text.stopwordRatio(col("caption"), stopwords) > maxStopwordRatio,
          "caption_stopwordy"))
  }

  /** Frame sampling: treat the payload as a sequence of h-row "frames" and
    * emit stats for every k-th frame — the video-frame-sample plumbing shape
    * (batch iteration, one-to-many output) with the decode stubbed.
    */
  def frameSample(images: Dataset[ImageRow], everyK: Int = 2): Dataset[FrameStat] = {
    import images.sparkSession.implicits._
    images.flatMap { r =>
      val px = decodeOrStub(r.bytes, r.w, r.h, r.fmt)
      (0 until r.h by everyK).map { fy =>
        var s = 0L
        var x = 0
        while (x < r.w) { s += px(fy * r.w + x); x += 1 }
        FrameStat(r.image_id, fy, math.round(s.toDouble / r.w * 10000).toDouble / 10000)
      }
    }
  }
}
