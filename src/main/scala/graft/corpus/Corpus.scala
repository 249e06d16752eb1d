package graft.corpus

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One row of the primary corpus — exactly the `input_hint` schema:
  * (image_id:string, bytes:binary, w:int, h:int, fmt:string, caption:string,
  * phash:long).
  */
case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

/** Deterministic synthetic image+caption corpus (FIXTURES.md §1).
  *
  * Mirrors the reference's sample×gene + per-sample-metadata shape
  * (`train_functions.R:7-12` via SURVEY.md §1.1) onto the graft's
  * entity×event_time corpus. Every row is a pure function of
  * (seed, row index), so generation is embarrassingly parallel
  * (`spark.range(...).mapPartitions`), reproducible at any partitioning, and
  * streamable at bench scale without materializing the corpus.
  *
  * Skew: entity assignment is Zipf-distributed so a few entity prefixes are
  * hot — this is what the salting/AQE-skew path is exercised against.
  */
object Corpus {

  final case class Params(
      seed: Long = 42L,
      rows: Long = 1000L,
      entities: Int = 20,
      partitions: Int = 8,
      /** raster sizes drawn from this set (multiples of 8 for phash) */
      sizes: Seq[Int] = Seq(8, 16),
      /** base epoch millis for event_time (2024-01-01T00:00Z) */
      baseMs: Long = 1704067200000L,
      /** mean inter-row step in ms (per-entity gaps scale with skew) */
      stepMs: Long = 60000L)

  /** Session gap threshold used by the flagship pipeline (30 min). */
  val SessionGapMs: Long = 30L * 60L * 1000L

  // --- vocabulary -----------------------------------------------------------
  /** English function words first (hot under Zipf), then content tokens.
    * Analog of the reference's gene-symbol universe (19,924 genes,
    * SURVEY.md §6) at test scale.
    */
  val Stopwords: IndexedSeq[String] = IndexedSeq(
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "on",
    "was", "for", "with", "as", "at", "by", "an", "be", "this", "are",
    "or", "from", "had", "not", "but", "has", "they", "you", "his", "her")
  val ContentVocabSize = 970
  val VocabSize: Int = Stopwords.length + ContentVocabSize

  def token(idx: Int): String =
    if (idx < Stopwords.length) Stopwords(idx)
    else "t%04d".format(idx - Stopwords.length)

  // --- pure per-row generators ---------------------------------------------

  def entityOf(seed: Long, i: Long, entities: Int): String =
    "e%05d".format(Rng.zipf(Rng.hash(seed, i, 2), entities))

  /** Monotone-in-i event time with deterministic session gaps and occasional
    * duplicate timestamps (i and i-1 share a quantized slot when i%3==0).
    * The 2h jump every 50 slots is CUMULATIVE (a pure function of slot), so
    * time is globally — hence per-entity — non-decreasing.
    */
  def eventMsOf(seed: Long, i: Long, baseMs: Long, stepMs: Long): Long = {
    val slot = if (i % 3 == 0 && i > 0) i - 1 else i
    val jumps = (slot / 50) * 2L * 60 * 60 * 1000
    baseMs + slot * stepMs + jumps
  }

  def captionOf(seed: Long, i: Long): String = {
    val h = Rng.hash(seed, i, 4)
    val n = 3 + Rng.int(h, 10)
    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(token(Rng.zipf(Rng.hash(seed, i, 100 + k), VocabSize)))
      k += 1
    }
    sb.toString
  }

  /** Allocation-lean generator used by the distributed paths: pixel raster
    * is produced into a per-partition scratch buffer and quantized in place
    * (the lq decode equals its in-place quantization, so phash can be
    * computed without a decode copy). Byte-identical output to the
    * spec-side pure generator `CorpusSpec.imageRow` — at 32 local threads
    * the pure version's ~3 KB/row garbage makes generation GC-bound,
    * inverting N-vs-4N scaling.
    */
  def imageRowFast(p: Params, i: Long, scratch: Array[Int]): ImageRow = {
    val entity = entityOf(p.seed, i, p.entities)
    val imageId = s"$entity-%012d".format(i)
    val h0 = Rng.hash(p.seed, i, 5)
    val w = p.sizes(Rng.int(h0, p.sizes.length))
    val ht = p.sizes(Rng.int(Rng.mix(h0), p.sizes.length))
    val fmt = if (Rng.int(Rng.hash(p.seed, i, 6), 2) == 0) Codec.FmtRaw else Codec.FmtLq
    Codec.pixelsInto(p.seed, i, w, ht, scratch)
    if (fmt == Codec.FmtLq) {
      var k = 0
      val n = w * ht
      while (k < n) { scratch(k) = ((scratch(k) + 1) / 3) * 3; k += 1 }
    }
    val bytes = Codec.encodeStored(scratch, w * ht, fmt)
    val phash = Phash.compute(scratch, w, ht)
    ImageRow(imageId, bytes, w, ht, fmt, captionOf(p.seed, i), phash)
  }

  // --- distributed generators ----------------------------------------------

  /** The corpus as a typed Dataset — `input_hint` schema exactly. */
  def images(spark: SparkSession, p: Params): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(0L, p.rows, 1L, p.partitions).mapPartitions { it =>
      val scratch = new Array[Int](p.sizes.max * p.sizes.max)
      it.map(i => imageRowFast(p, i, scratch))
    }
  }

  /** Event-shaped view: corpus + derived (entity_id, event_time, event_ms).
    * entity_id is the image_id prefix group; event_time is monotone per
    * entity with session-sized gaps and duplicate-timestamp edge cases.
    */
  def events(spark: SparkSession, p: Params): DataFrame = {
    import spark.implicits._
    spark.range(0L, p.rows, 1L, p.partitions).mapPartitions { it =>
      val scratch = new Array[Int](p.sizes.max * p.sizes.max)
      it.map { i =>
        val r = imageRowFast(p, i, scratch)
        val ms = eventMsOf(p.seed, i, p.baseMs, p.stepMs)
        (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash,
          r.image_id.substring(0, r.image_id.lastIndexOf('-')), ms, i)
      }
    }.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "entity_id", "event_ms", "seq")
      .withColumn("event_time", timestamp_millis(col("event_ms")))
  }

  /** Small broadcast dimension table — analog of the per-drug text-mining
    * rank tables (`text_mining_feature/Erlotinib.csv:1`): one ranked token
    * list per topic with deterministic counts and an FDR-like score.
    */
  def dimFeatures(spark: SparkSession, seed: Long, topics: Int = 5, k: Int = 50): DataFrame = {
    import spark.implicits._
    val rows = for {
      t <- 0 until topics
      r <- 1 to k
    } yield {
      val h = Rng.hash(seed, t.toLong * 100000 + r, 7)
      // stride coprime to ContentVocabSize keeps tokens distinct per topic
      val idx = Stopwords.length + ((t * 131 + r * 7) % ContentVocabSize)
      val n = 50 + Rng.int(h, 1000)
      val nPos = Rng.int(Rng.mix(h), n + 1)
      val score = r * 0.002 + Rng.double01(Rng.hash(seed, t.toLong * 100000 + r, 8)) * 0.001
      ("topic%d".format(t), token(idx), r, n.toLong, nPos.toLong, score)
    }
    rows.toDF("topic", "token", "rank", "n", "n_pos", "score")
  }

  /** As-of probe table (FIXTURES.md §3): probe times before the first event,
    * at an event, between events, after the last event, and at duplicate
    * slots — the as-of join's edge-case matrix.
    */
  def probes(spark: SparkSession, p: Params, perEntity: Int = 8): DataFrame = {
    import spark.implicits._
    val maxMs = p.baseMs + p.rows * p.stepMs + 3L * 60 * 60 * 1000
    val rows = for {
      e <- 0 until p.entities
      j <- 0 until perEntity
    } yield {
      val ent = "e%05d".format(e)
      val h = Rng.hash(p.seed, e.toLong * 1000 + j, 9)
      val ms = j match {
        case 0 => p.baseMs - 1000L // before first
        case 1 => p.baseMs // exactly at base
        case _ => p.baseMs + (Rng.double01(h) * (maxMs - p.baseMs)).toLong
      }
      (ent, ms)
    }
    rows.toDF("entity_id", "probe_ms")
      .withColumn("probe_time", timestamp_millis(col("probe_ms")))
  }
}
