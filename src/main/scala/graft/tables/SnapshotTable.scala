package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Iceberg-shaped table layout: partitioned Parquet + JSON snapshot metadata
  * with per-partition lineage manifests and an atomically-swapped pointer.
  *
  * No Iceberg runtime jar exists in this environment (SURVEY.md §7.0), so the
  * engine owns the same *semantics* with zero new dependencies:
  *
  *  - snapshots: every commit creates `snapshots/v<id>.json` listing, per
  *    entity-hash bucket, the data directory and files, row count, watermark
  *    (max event time), and an order-insensitive content digest
  *    (bit_xor of row hashes — commutative, so equal at any parallelism);
  *  - time travel: `read(root, Some(id))` reconstructs exactly snapshot id;
  *  - resumable, idempotent commits: a commit diffs its per-bucket digests
  *    against the parent snapshot and rewrites ONLY buckets whose digest
  *    changed (the reference's resume-if-exists checkpoint contract,
  *    `az_ml_models.R:270-282,330-345`, generalized to partitions);
  *  - atomic visibility: the COMMIT POINT is the atomic creation of
  *    `snapshots/v<id>.json` (tmp file + hard link, create-if-absent) —
  *    exactly one writer can claim a given id. The `CURRENT` pointer file
  *    is a fast-path hint swapped with an atomic rename after the claim;
  *    [[currentId]] probes forward from it, so a writer that crashed (or
  *    lost a pointer race) between claim and swap still has its snapshot
  *    visible. A killed writer leaves only unreferenced staging files.
  *  - optimistic concurrency: concurrent writers race on the claim;
  *    losers re-read the new head and retry (appends restage nothing —
  *    their slices are parent-independent), so no commit is ever silently
  *    lost (Iceberg's optimistic-concurrency contract on a plain
  *    filesystem).
  *
  * Manifests have ONE format, [[Snapshot]] written through Spark's bundled
  * Jackson ([[graft.Json]]). Reading is strict: a manifest that is torn
  * (cut short) or lacks a field fails loudly, naming the file, instead of
  * parsing as a smaller table.
  *
  * Layout:
  * {{{
  *   root/CURRENT                    # "v<id>\n" (hint; claim is truth)
  *   root/snapshots/v<id>.json      # manifest (see Snapshot)
  *   root/data/s<id>_<pid>c<n>/pbucket=<k>/ (parquet files)
  * }}}
  */
object SnapshotTable {

  val BucketCol = "pbucket"

  /** Bucket id of an entity key. xxhash64 is null-TOLERANT (a null input
    * hashes to the bare seed, landing every null entity in one silently
    * shared bucket), so nulls are explicitly propagated here — they surface
    * as a null group in [[bucketStats]], where commit fails fast with a
    * "filter or recode null entities" message instead of quietly co-locating
    * them under an arbitrary bucket id.
    */
  private def bucketExpr(entityCol: String, buckets: Int) =
    when(col(entityCol).isNotNull,
      pmod(xxhash64(col(entityCol)), lit(buckets)).cast("int"))

  private val NullEntities =
    "SnapshotTable: the entity column contains nulls — a null key has no " +
      "bucket; filter or recode null entities before commit"

  /** The bucket ids `df`'s entity keys hash into — a distinct over the
    * bucket expression, one tiny job. A null key fails fast.
    */
  private def bucketsOf(df: DataFrame, entityCol: String, buckets: Int): Set[Int] =
    df.select(bucketExpr(entityCol, buckets).as("b")).distinct().collect()
      .map { r =>
        if (r.isNullAt(0)) throw new IllegalArgumentException(NullEntities)
        r.getInt(0)
      }.toSet

  /** The bucket ids of a null-free key list already on the driver, with no
    * Spark job: the bucket expression over the keys' LocalRelation is folded
    * on the driver (ConvertToLocalRelation), and the dedupe is Scala's.
    */
  private def keyBuckets[T](spark: SparkSession, keys: Seq[T], snap: Snapshot,
      what: String)(implicit enc: org.apache.spark.sql.Encoder[T]): Set[Int] = {
    val keyDf = spark.createDataset(keys).toDF(snap.entityCol)
    // a mistyped key hashes to the WRONG bucket (e.g. Long 5 vs the table's
    // string "5") and silently misses its rows — fail fast instead
    requireTypesMatch(snap, keyDf, what)
    keyDf.select(bucketExpr(snap.entityCol, snap.nbuckets)).collect()
      .map(_.getInt(0)).toSet
  }

  /** One SLICE of a bucket's data: a directory of parquet files plus its
    * lineage stats. A bucket may have several slices (initial load + each
    * appended delta — Iceberg's manifest-lists-files shape); the bucket's
    * logical manifest is the FOLD of its slices (rows: sum, watermark: max,
    * digest: xor, tmin: min — all associative+commutative, which is what
    * makes O(delta) appends possible).
    *
    * `tmin` is the slice's MIN event time — with `watermark` (the max) it
    * gives [[readRange]] an Iceberg-style min/max skipping interval per
    * slice. `Long.MinValue` means "no lower-bound claim" (a slice whose
    * time column is entirely null): such a slice is never skipped on its
    * lower bound — pruning degrades, correctness doesn't.
    * `files` maps each data file of the slice dir to its length, listed
    * once when the slice is staged: reads plan from it ([[ManifestIndex]]).
    */
  final case class BucketManifest(bucket: Int, dir: String, rows: Long,
      watermark: Long, digest: Long, tmin: Long,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) files: SortedMap[String, Long])
  /** One snapshot's manifest: the whole input of read planning. */
  final case class Snapshot(id: Long, parent: Long,
      entityCol: String, timeCol: String, nbuckets: Int, batchId: Long,
      columns: Seq[String], buckets: Seq[BucketManifest],
      /** Typed schema (Spark DDL, columns in `columns` order) — every read
        * scans with it, so no parquet footer is read at planning, and a
        * slice written before an additive evolution reads the newer columns
        * as correctly-TYPED nulls.
        */
      schemaDdl: String) {
    def schema: StructType = StructType.fromDDL(schemaDdl)
    /** Per-bucket folded (rows, watermark, digest) over slices. */
    def folded: Map[Int, (Long, Long, Long)] =
      buckets.groupBy(_.bucket).map { case (k, ss) =>
        k -> ((ss.map(_.rows).sum, ss.map(_.watermark).max,
          ss.map(_.digest).reduce(_ ^ _)))
      }
  }

  /** Per-bucket (rows, watermark, digest, tmin) of one staged write. */
  private type Stats = (Long, Long, Long, Long)

  private def sliceOf(stage: Path, files: Map[Int, SortedMap[String, Long]],
      k: Int, st: Stats): BucketManifest =
    BucketManifest(k, s"$stage/$BucketCol=$k", st._1, st._2, st._3, st._4, files(k))

  /** The data files (name -> length) per `pbucket=<k>` dir of `stage`, from
    * one driver-side listing (`_`/`.` names are not data, as in Spark's). A
    * null-key dir (`pbucket=__HIVE_DEFAULT_PARTITION__`) deletes the stage and fails. */
  private def stageFiles(stage: Path): Map[Int, SortedMap[String, Long]] =
    children(stage).filter(_.getFileName.toString.startsWith(s"$BucketCol=")).map { d =>
      val k = d.getFileName.toString.stripPrefix(s"$BucketCol=").toIntOption.getOrElse {
        deleteRecursively(stage); throw new IllegalArgumentException(NullEntities) }
      k -> SortedMap.from(children(d).map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .map(n => n -> Files.size(d.resolve(n))))
    }.toMap

  /** Parse the manifest at `p`. Strict: a manifest cut short (a torn
    * O_EXCL claim, see [[claimManifest]]), or one missing a field, fails
    * here naming the file — it never parses as a smaller table.
    */
  private def readManifest(p: Path): Snapshot =
    try graft.Json.mapper.readValue(Files.readAllBytes(p), classOf[Snapshot])
    catch {
      case e: JacksonException =>
        throw new IllegalStateException(
          s"unreadable manifest $p: ${e.getOriginalMessage}", e)
    }

  /** Manifest bytes, slices sorted by (bucket, dir) so a manifest reads
    * back in a stable order whatever order the commit built them in.
    */
  private def manifestBytes(s: Snapshot): Array[Byte] =
    graft.Json.mapper.writeValueAsBytes(
      s.copy(buckets = s.buckets.sortBy(b => (b.bucket, b.dir))))

  /** Entries of `dir`; empty when it does not exist. */
  private def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.toList
      finally st.close()
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)
      finally walk.close()
    }

  /** Every manifest of the table, in no particular order. */
  private def snapshots(root: String): Seq[Snapshot] =
    children(Paths.get(root, "snapshots"))
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .map(readManifest)

  // --- pointer --------------------------------------------------------------
  /** Head snapshot id. The CURRENT pointer is only a hint: a writer that
    * crashed (or lost a pointer race to a slower concurrent writer) after
    * claiming `v<id>.json` but before swapping the pointer has still
    * committed — claims are complete by construction (tmp + link) — so the
    * true head is found by probing forward from the hint. The next
    * successful commit's swap heals the pointer.
    */
  def currentId(root: String): Option[Long] = {
    val p = Paths.get(root, "CURRENT")
    val hint =
      if (Files.exists(p)) Files.readString(p).trim.stripPrefix("v").toLong
      else -1L
    var head = hint
    while (Files.exists(Paths.get(root, "snapshots", s"v${head + 1}.json")))
      head += 1
    if (head >= 0) Some(head) else None
  }

  def snapshot(root: String, id: Long): Snapshot =
    readManifest(Paths.get(root, "snapshots", s"v$id.json"))

  def currentSnapshot(root: String): Option[Snapshot] =
    currentId(root).map(snapshot(root, _))

  /** Snapshot `id`, or the head when None; fails when the table has none. */
  private def resolve(root: String, id: Option[Long]): Snapshot =
    id.map(snapshot(root, _)).orElse(currentSnapshot(root))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))

  private def swapPointer(root: String, id: Long): Unit = {
    val dir = Paths.get(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"CURRENT.tmp$id")
    Files.writeString(tmp, s"v$id\n")
    Files.move(tmp, dir.resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Per-bucket (rows, watermark, digest, tmin) aggregate of a frame that
    * already carries [[BucketCol]].
    *
    * to_json renders timestamps in the SESSION timezone by default, which
    * would make the same content digest differently across heterogeneously-
    * configured drivers and silently defeat the resume-if-unchanged path —
    * pinned to UTC so digests are a pure function of content.
    *
    * A null entity key fails fast (it would land in a null bucket and
    * corrupt the partition layout); a bucket whose time column is entirely
    * null gets watermark Long.MinValue ("no completeness claim") and tmin
    * Long.MinValue ("no lower-bound claim").
    */
  private def bucketStats(df: DataFrame, dataCols: Seq[String],
      timeCol: String): Map[Int, Stats] = {
    val rowHash = xxhash64(to_json(struct(dataCols.sorted.map(col): _*),
      Map("timeZone" -> "UTC").asJava))
    df.withColumn("__h", rowHash)
      .groupBy(col(BucketCol))
      .agg(count(lit(1)).as("rows"), max(col(timeCol)).cast("long").as("wm"),
        expr("bit_xor(__h)").as("digest"),
        min(col(timeCol)).cast("long").as("tmn"))
      .collect()
      .map { r =>
        if (r.isNullAt(0)) throw new IllegalArgumentException(NullEntities)
        val wm = if (r.isNullAt(2)) Long.MinValue else r.getLong(2)
        val tmn = if (r.isNullAt(4)) Long.MinValue else r.getLong(4)
        r.getInt(0) -> ((r.getLong(1), wm, r.getLong(3), tmn))
      }
      .toMap
  }

  /** The slices a write staged under `stage`: their files from one listing
    * ([[stageFiles]], where a null entity key fails), their stats from ONE
    * scan of those files through [[readSlices]] with `schema`, so the input
    * that produced the stage is never evaluated a second time. A stage with
    * no bucket dir (nothing was written) is deleted.
    */
  private def stagedSlices(spark: SparkSession, stage: Path, schema: StructType,
      timeCol: String): Map[Int, BucketManifest] = {
    val files = stageFiles(stage)
    if (files.isEmpty) { deleteRecursively(stage); Map.empty }
    else {
      val unscanned = files.keys.toSeq.map(sliceOf(stage, files, _, (0L, 0L, 0L, 0L)))
      bucketStats(readSlices(spark, unscanned, schema), schema.fieldNames.toSeq, timeCol)
        .map { case (k, st) => k -> sliceOf(stage, files, k, st) }
    }
  }

  private val stageCounter = new java.util.concurrent.atomic.AtomicLong

  /** Unique staging dir per attempt — unique by CONSTRUCTION (pid + a
    * per-JVM counter), not by an exists-probe, so two concurrent writers
    * computing the same newId can never race into one directory. A killed
    * previous attempt's dir never collides (Spark's overwrite mode clears
    * a recycled-pid leftover first) and its garbage is unreferenced.
    */
  private def newStage(root: String, newId: Long): Path =
    Paths.get(root, "data",
      s"s${newId}_${ProcessHandle.current.pid}c${stageCounter.getAndIncrement()}")

  /** Atomically claim `v<id>.json` — the COMMIT POINT. The manifest is
    * fully written to a tmp file first, then hard-linked into place
    * (create-if-absent is atomic on POSIX), so a visible manifest is always
    * complete and exactly one writer commits a given id. Returns false when
    * another writer holds the claim. Filesystems without hard links fall
    * back to an O_EXCL (CREATE_NEW) write: still a true compare-and-swap —
    * a crash mid-write can leave a truncated claim there, which fails
    * LOUDLY at the next parse ([[readManifest]]), whereas a rename-based
    * fallback would silently replace a racing writer's committed manifest
    * (a lost commit; the one failure mode this layer exists to rule out).
    */
  private def claimManifest(root: String, snap: Snapshot): Boolean = {
    val snapsDir = Paths.get(root, "snapshots")
    Files.createDirectories(snapsDir)
    val target = snapsDir.resolve(s"v${snap.id}.json")
    if (Files.exists(target)) return false // fast path: already claimed
    val json = manifestBytes(snap)
    val tmp = Files.createTempFile(snapsDir, s"v${snap.id}.", ".tmp")
    try {
      Files.write(tmp, json)
      try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          try {
            Files.write(target, json, java.nio.file.StandardOpenOption.CREATE_NEW)
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      }
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** Claim + pointer swap. None = lost the race; the caller re-reads the
    * head and retries.
    */
  private def publish(root: String, snap: Snapshot): Option[Long] =
    if (!claimManifest(root, snap)) None
    else { swapPointer(root, snap.id); Some(snap.id) }

  private val MaxCommitAttempts = 10

  /** The optimistic-concurrency loop every writer shares. `attempt` reads
    * the head, stages what it must and publishes: Some(id) when done
    * (committed, or nothing to commit), None when a concurrent writer won
    * the claim — then the head is re-read and the attempt rerun.
    */
  private def retrying(what: String, root: String)(attempt: => Option[Long]): Long =
    Iterator.fill(MaxCommitAttempts)(attempt).collectFirst { case Some(id) => id }
      .getOrElse(throw new IllegalStateException(
        s"$what lost the optimistic claim $MaxCommitAttempts times at $root " +
          "— a writer is committing faster than this one can retry"))

  /** Every writer must use the table's own bucketing and key columns: a
    * count or key-column typo would silently re-bucket the table.
    */
  private def requireLayout(p: Snapshot, root: String, entityCol: String,
      timeCol: String, buckets: Int): Unit = {
    require(p.nbuckets == buckets,
      s"bucket count $buckets != table's ${p.nbuckets} at $root")
    require(p.entityCol == entityCol && p.timeCol == timeCol,
      s"key columns ($entityCol, $timeCol) != table's (${p.entityCol}, ${p.timeCol}) at $root")
  }

  /** Type-aware schema rail: the name-equality checks alone let a column's
    * TYPE change slip through (e.g. v: Int re-appended as v: Long), mixing
    * physically-incompatible parquet slices inside one bucket — which the
    * non-merging read path then mis-decodes or rejects. Every column the
    * table recorded must keep its exact type; evolution may only ADD
    * columns, never mutate one.
    */
  private def requireTypesMatch(p: Snapshot, df: DataFrame, what: String): Unit = {
    val recorded = p.schema.fields.map(f => f.name -> f.dataType).toMap
    df.schema.fields.foreach { f =>
      recorded.get(f.name).foreach { t =>
        require(f.dataType == t,
          s"$what column '${f.name}' has type ${f.dataType.sql}, the table " +
            s"recorded ${t.sql} — column types cannot change")
      }
    }
  }

  /** Spark DDL of `df`'s columns in the manifest's (sorted) order. */
  private def sortedDdl(df: DataFrame): String =
    df.select(df.columns.sorted.toSeq.map(col): _*).schema.toDDL

  /** Commit the FULL content `df` as a new snapshot of the table at `root`
    * (overwrite semantics: the new snapshot's content is exactly `df`).
    * Returns the new snapshot id. Buckets whose folded digest equals the
    * parent snapshot's are NOT rewritten — their slices are reused (resume
    * path). For appends, [[commitDelta]] does the same with an O(delta)
    * scan instead of re-reading the whole table.
    *
    * `evolveSchema = true` permits a DIFFERENT column set than the table's
    * recorded one (any change — the full content is rewritten anyway, so
    * no slice is left behind on the old schema); the manifest then records
    * the new columns. Note the resume-if-unchanged diff compares digests
    * hashed over each side's own column set, so a schema-changing commit
    * rewrites every bucket even if the shared columns are identical.
    */
  def commit(df0: DataFrame, root: String, entityCol: String, timeCol: String,
      buckets: Int = 16, evolveSchema: Boolean = false): Long = {
    val df = df0.withColumn(BucketCol, bucketExpr(entityCol, buckets))
    val cols = df0.columns.sorted.toSeq
    // ONE stats scan of df, reused across optimistic retries (the diff and
    // the changed-bucket write depend on the parent, so those rerun)
    lazy val man = bucketStats(df, df0.columns.toSeq, timeCol)
    retrying("commit", root) {
      val parent = currentSnapshot(root)
      parent.foreach { p =>
        requireLayout(p, root, entityCol, timeCol, buckets)
        require(evolveSchema || p.columns == cols,
          s"schema $cols != table's ${p.columns} at $root " +
            "(pass evolveSchema = true to change it)")
        // an evolving full commit rewrites every slice, so new types are
        // fine there; a plain commit must not mutate a column's type (the
        // resume path can carry old slices)
        if (!evolveSchema) requireTypesMatch(p, df0, "commit")
      }
      val parentFolded = parent.map(_.folded).getOrElse(Map.empty)
      val parentSlices = parent.map(_.buckets.groupBy(_.bucket)).getOrElse(Map.empty)
      val newId = parent.map(_.id + 1).getOrElse(0L)

      // a bucket is unchanged only if digest AND row count AND watermark
      // all match the parent's folded manifest: bit_xor alone cancels
      // pairs, so adding two identical rows (exact duplicates are central
      // to this corpus) would otherwise leave the digest unchanged and
      // silently drop the new rows
      val changed = man.filter { case (k, (rows, wm, dg, _)) =>
        !parentFolded.get(k).contains((rows, wm, dg))
      }.keys.toSeq.sorted

      val stage = newStage(root, newId)
      if (changed.nonEmpty) {
        df.filter(col(BucketCol).isin(changed.map(Integer.valueOf): _*))
          .sortWithinPartitions(col(entityCol), col(timeCol))
          .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
      }
      val files = stageFiles(stage)
      val newBuckets = man.toSeq.sortBy(_._1).flatMap { case (k, st) =>
        if (changed.contains(k)) Seq(sliceOf(stage, files, k, st)) else parentSlices(k)
      }
      // a full commit is no streaming micro-batch: it records no replay marker
      publish(root, Snapshot(newId, parent.map(_.id).getOrElse(-1L),
        entityCol, timeCol, buckets, -1L, cols, newBuckets, sortedDdl(df0)))
    }
  }

  /** APPEND `delta` as a new snapshot costing O(delta): the delta is
    * evaluated once, by the write that stages it (one new slice per touched
    * bucket), and only that staged slice is scanned and hashed; every
    * parent slice is carried over verbatim and the folded per-bucket
    * manifests update arithmetically (rows: +, watermark: max, digest: xor)
    * — byte-identical to what a full recompute over parent ∪ delta would
    * produce, because all three folds are associative and commutative.
    * This is the per-micro-batch path: `commit` re-hashes the entire table
    * per call, which is O(history) per append — the one shape that cannot
    * survive frequent appends at 100 TB.
    *
    * `batchId` (>= 0) makes the commit idempotent under at-least-once
    * replay: if the CURRENT snapshot already carries this batchId, the call
    * is a no-op returning the current id. Streaming batchIds are
    * monotonically increasing and only the last uncommitted batch is ever
    * replayed, so checking the current snapshot suffices.
    *
    * On an empty table this degenerates to [[commit]].
    *
    * `evolveSchema = true` permits ADDITIVE evolution: the delta may carry
    * new columns on top of every recorded one (Iceberg's add-column). The
    * manifest records the widened set; slices written before the evolution
    * read back with null in the new columns. Dropping or renaming a column
    * on APPEND stays an error either way — old slices are carried verbatim,
    * so a narrower delta would make the same column half-present.
    */
  def commitDelta(delta: DataFrame, root: String, entityCol: String,
      timeCol: String, buckets: Int = 16, batchId: Long = -1L,
      evolveSchema: Boolean = false): Long = {
    val deltaCols = delta.columns.sorted.toSeq
    // the delta's slices are PARENT-INDEPENDENT: the delta is evaluated
    // ONCE, by the staging write, and its slices (stats from the staged
    // parquet) are reused verbatim across optimistic retries (only the
    // manifest's id/parent change when a concurrent writer wins a claim)
    var staged: Option[Seq[BucketManifest]] = None
    def slices(newIdHint: Long): Seq[BucketManifest] = staged.getOrElse {
      val stage = newStage(root, newIdHint)
      delta.withColumn(BucketCol, bucketExpr(entityCol, buckets))
        .sortWithinPartitions(col(entityCol), col(timeCol))
        .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
      val ss = stagedSlices(delta.sparkSession, stage, delta.schema, timeCol)
        .values.toSeq.sortBy(_.bucket)
      staged = Some(ss)
      ss
    }
    retrying("commitDelta", root) {
      currentSnapshot(root) match {
        case None =>
          // empty table: try to create v0 holding exactly the delta. Losing
          // this claim means a concurrent writer created the table — the
          // next attempt takes the APPEND path against it (delegating to
          // commit here would retry with overwrite semantics and erase the
          // winner's rows)
          publish(root, Snapshot(0L, -1L, entityCol, timeCol, buckets,
            batchId, deltaCols, slices(0L), sortedDdl(delta)))
        case Some(p) if batchId >= 0 && p.batchId == batchId => Some(p.id)
        case Some(p) =>
          requireLayout(p, root, entityCol, timeCol, buckets)
          if (evolveSchema)
            require(p.columns.forall(deltaCols.contains),
              s"schema evolution on append is ADDITIVE only: delta $deltaCols " +
                s"is missing recorded columns ${p.columns.filterNot(deltaCols.contains)}")
          else
            require(p.columns == deltaCols,
              s"delta schema $deltaCols != table's ${p.columns} " +
                "(pass evolveSchema = true to add columns)")
          requireTypesMatch(p, delta, "delta")
          val ds = slices(p.id + 1)
          if (ds.isEmpty) Some(p.id) // empty delta: nothing to commit
          else
            // the delta's DDL: equal on a plain append, WIDENED under
            // evolution, which is exactly what reads of older slices pad to
            publish(root, Snapshot(p.id + 1, p.id, entityCol, timeCol, buckets,
              batchId, deltaCols, p.buckets ++ ds, sortedDdl(delta)))
      }
    }
  }

  /** Rewrite the `touched` buckets of `p` as `content` — ONE consolidated
    * sorted slice each — and publish the result as `p`'s child, carrying
    * `p`'s replay marker (`batchId`): a maintenance rewrite must not let a
    * crash-replayed micro-batch re-append. Every other bucket's slices carry
    * over verbatim; a touched bucket left without rows disappears from the
    * manifest. The new slices' stats come from one scan of the staged
    * parquet, never of the untouched buckets.
    */
  private def publishRewrite(root: String, p: Snapshot, touched: Set[Int],
      content: DataFrame): Option[Long] = {
    val stage = newStage(root, p.id + 1)
    content.repartition(math.max(1, touched.size), col(BucketCol))
      .sortWithinPartitions(col(BucketCol), col(p.entityCol), col(p.timeCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
    val staged = stagedSlices(content.sparkSession, stage, p.schema, p.timeCol)
    val bySlices = p.buckets.groupBy(_.bucket)
    val newBuckets = (bySlices.keySet ++ touched).toSeq.sorted.flatMap { k =>
      if (touched.contains(k)) staged.get(k).toSeq else bySlices(k)
    }
    publish(root, p.copy(id = p.id + 1, parent = p.id, buckets = newBuckets))
  }

  /** UPSERT `updates` by the table's (entity, time) key — Iceberg's MERGE
    * INTO shape, the feature-refresh operation of a point-in-time store:
    * every existing row whose key matches an update row is replaced, the
    * rest of the updates insert. Costs O(touched buckets + updates): only
    * the buckets the updates hash into are read, merged and rewritten
    * (each as ONE consolidated slice — an incidental compaction); every
    * other bucket's slices carry over verbatim. At 10^12 rows refreshing
    * one entity's features touches 1/nbuckets of the table.
    *
    * Deterministic delete-then-insert: ALL old rows matching some update
    * key are dropped, then ALL update rows are written — an `updates`
    * frame carrying several rows for one key keeps them all. The new
    * snapshot carries the parent's replay marker (`batchId`).
    */
  def commitUpsert(updates: DataFrame, root: String, entityCol: String,
      timeCol: String, buckets: Int = 16): Long = {
    val spark = updates.sparkSession
    retrying("commitUpsert", root) {
      currentSnapshot(root) match {
        case None =>
          // empty table: an upsert is just a first commit of the updates
          Some(commitDelta(updates, root, entityCol, timeCol, buckets))
        case Some(p) =>
          requireLayout(p, root, entityCol, timeCol, buckets)
          require(p.columns == updates.columns.sorted.toSeq,
            s"updates schema ${updates.columns.sorted.toSeq} != table's ${p.columns}")
          requireTypesMatch(p, updates, "updates")

          val df = updates.withColumn(BucketCol, bucketExpr(entityCol, buckets))
          // only the bucket IDS are needed up front (stats of what is
          // actually written come from the staged merge)
          val touched = bucketsOf(updates, entityCol, buckets)
          if (touched.isEmpty) Some(p.id)
          else {
            val bySlices = p.buckets.groupBy(_.bucket)
            val oldSlices = touched.toSeq.sorted.flatMap(k => bySlices.getOrElse(k, Seq.empty))
            // merged content of the touched buckets: surviving old rows (read
            // on the recorded schema, old slices padded) + all updates
            val merged = readSlices(spark, oldSlices, p.schema)
              .join(df.select(col(entityCol), col(timeCol)).distinct(),
                Seq(entityCol, timeCol), "left_anti")
              .unionByName(df)
            publishRewrite(root, p, touched, merged)
          }
      }
    }
  }

  /** DELETE every row of the given entities (the right-to-be-forgotten
    * shape: per-entity erasure, not per-row tombstones). Costs O(touched
    * buckets): only the buckets the keys hash into are read, filtered and
    * rewritten; a bucket left empty disappears from the manifest. Returns
    * the new snapshot id — the current one if no key had rows.
    *
    * Older snapshots keep their pre-delete slices (time travel is the point
    * of snapshots), and the engine has no step that removes them: a read
    * at a pre-delete id still returns the deleted entities' rows.
    */
  def commitDelete[T](spark: SparkSession, root: String, keys: Seq[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): Long = {
    require(keys.nonEmpty && !keys.contains(null.asInstanceOf[T]),
      "commitDelete: keys must be a non-empty, null-free list")
    retrying("commitDelete", root) {
      val p = resolve(root, None)
      val touched = keyBuckets(spark, keys, p, "delete key")
      val bySlices = p.buckets.groupBy(_.bucket)
      val oldSlices = touched.toSeq.sorted.flatMap(k => bySlices.getOrElse(k, Seq.empty))
      if (oldSlices.isEmpty) Some(p.id) // keys hash only into empty buckets
      else
        publishRewrite(root, p, touched,
          readSlices(spark, oldSlices, p.schema).filter(!col(p.entityCol).isInCollection(keys)))
    }
  }

  /** Compact buckets that have accumulated more than `maxSlices` slices
    * (the small-files cost of O(delta) appends — Iceberg's rewrite-data-
    * files maintenance): each such bucket's slices are read back, rewritten
    * as ONE sorted slice, and replaced in the manifest by a single entry
    * whose stats are the FOLD of the replaced ones (no re-hash — same rows,
    * same digest by xor-associativity). Buckets at or under the threshold
    * are untouched. Returns the new snapshot id, or the current one if
    * nothing needed compaction.
    */
  def compact(spark: SparkSession, root: String, maxSlices: Int = 8): Long =
    // a lost claim means a concurrent append changed the slice set: the
    // next attempt recomputes the compaction plan whole
    retrying("compact", root) {
      val p = resolve(root, None)
      val bySlices = p.buckets.groupBy(_.bucket)
      val toCompact = bySlices.filter(_._2.size > maxSlices).keys.toSeq.sorted
      if (toCompact.isEmpty) Some(p.id)
      else {
        val stage = newStage(root, p.id + 1)
        val folded = p.folded
        // ONE job for all compacted buckets (not a driver loop of per-bucket
        // jobs): one scan, one shuffle hash-partitioned by bucket, one sorted
        // file per bucket out of partitionBy
        readSlices(spark, toCompact.flatMap(k => bySlices(k)), p.schema)
          .repartition(toCompact.size, col(BucketCol))
          .sortWithinPartitions(col(BucketCol), col(p.entityCol), col(p.timeCol))
          .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
        val files = stageFiles(stage)
        val newBuckets = bySlices.toSeq.sortBy(_._1).flatMap { case (k, ss) =>
          if (toCompact.contains(k)) {
            val (rows, wm, dg) = folded(k)
            // tmin folds by min — a slice without a claim (MinValue) keeps
            // the compacted slice claim-free, same conservative semantics
            Seq(sliceOf(stage, files, k, (rows, wm, dg, ss.map(_.tmin).min)))
          } else ss
        }
        // batchId carries over: compaction must not defeat the replay-skip
        // of the delta commit it follows (a crash between them would
        // otherwise re-append the batch on restart)
        publish(root, p.copy(id = p.id + 1, parent = p.id, buckets = newBuckets))
      }
    }

  /** ONE typed parquet scan over `slices`, planned from the manifest alone
    * through a [[ManifestIndex]] (no footer read, no dir listed), with
    * [[BucketCol]] as each bucket's partition value. Every field is read
    * nullable, as `DataFrameReader.schema` makes them: a slice written before
    * an additive evolution reads the newer columns as typed nulls.
    */
  private def readSlices(spark: SparkSession, slices: Seq[BucketManifest],
      schema: StructType): DataFrame = {
    val index = new ManifestIndex(spark, slices)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      StructType(schema.map(_.copy(nullable = true))), None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat, Map.empty)(spark))
  }

  /** Read the table at a snapshot (default: current): exactly the committed
    * content, the recorded columns in manifest (sorted) order, then the
    * bucket column, planned from the manifest with no Spark job or listing.
    */
  def read(spark: SparkSession, root: String, id: Option[Long] = None): DataFrame = {
    val snap = resolve(root, id)
    readSlices(spark, snap.buckets, snap.schema)
  }

  /** Point-lookup read: opens ONLY the buckets that can hold `keys` —
    * O(|keys|/nbuckets) of the table's slices at any table size — then
    * filters to the exact keys (the filter pushes into the parquet scan,
    * so row-group stats prune within the touched slices too). At 10^12
    * rows a single-entity lookup reads 1/nbuckets of the data instead of
    * scanning the table; the bucket ids come from the same hash expression
    * commits use, folded on the driver over the key list (no Spark job).
    *
    * `from`/`until` (inclusive, [[readRange]]'s semantics) additionally
    * skip slices whose [tmin, watermark] interval misses the window — the
    * point-in-time feature fetch ("these entities' events in this time
    * window") prunes on bucket AND interval simultaneously, so under
    * time-chunked ingestion it opens O(|keys|/nbuckets × window/history)
    * of the table's slices.
    */
  def readEntities[T](spark: SparkSession, root: String, keys: Seq[T],
      id: Option[Long] = None, from: Option[Long] = None,
      until: Option[Long] = None)(
      implicit enc: org.apache.spark.sql.Encoder[T]): DataFrame = {
    require(keys.nonEmpty && !keys.contains(null.asInstanceOf[T]),
      "readEntities: keys must be a non-empty, null-free list")
    requireWindow("readEntities", from, until)
    val snap = resolve(root, id)
    val wanted = keyBuckets(spark, keys, snap, "lookup key")
    val keep = snap.buckets.filter(b =>
      wanted.contains(b.bucket) && sliceInWindow(b, from, until))
    val pred = (Seq(col(snap.entityCol).isInCollection(keys)) ++
      windowPredicates(snap.timeCol, from, until)).reduce(_ && _)
    readSlices(spark, keep, snap.schema).filter(pred)
  }

  /** Can this slice's [tmin, watermark] stats interval intersect the
    * inclusive [from, until] window? The single definition both windowed
    * read paths ([[readEntities]], [[readRange]]) prune with — slices
    * making no tmin claim (all-null-time slices) carry tmin =
    * Long.MinValue and are never skipped on the lower bound.
    */
  private def sliceInWindow(b: BucketManifest, from: Option[Long],
      until: Option[Long]): Boolean =
    from.forall(b.watermark >= _) && until.forall(b.tmin <= _)

  /** Residual row predicates enforcing the exact inclusive bounds inside
    * kept slices (they push into the parquet scan). Empty when unbounded.
    */
  private def windowPredicates(timeCol: String, from: Option[Long],
      until: Option[Long]): Seq[org.apache.spark.sql.Column] = {
    val tc = col(timeCol).cast("long")
    (from.map(tc >= _) ++ until.map(tc <= _)).toSeq
  }

  private def requireWindow(what: String, from: Option[Long],
      until: Option[Long]): Unit =
    from.zip(until).foreach { case (lo, hi) =>
      require(lo <= hi, s"$what: empty interval [$lo, $hi]")
    }

  /** Time-range read (bounds inclusive, in the long unit the manifests
    * record): opens ONLY the slices whose stats interval [tmin, watermark]
    * intersects [from, until] — Iceberg's min/max file skipping, decided
    * entirely on the manifest with zero data/footer I/O for skipped
    * slices. A residual row predicate enforces the exact bounds inside
    * kept slices (and pushes into the parquet scan, so row-group stats
    * prune within them too). At 10^12 rows a narrow time window over an
    * append-per-interval history reads a handful of slices instead of the
    * table; time-bucketed ingestion (e.g. one [[commitDelta]] per hour)
    * makes the skip rate proportional to history length.
    *
    * Rows with a null event time never match a range (SQL comparison
    * semantics), and slices that make no tmin claim (all-null-time slices)
    * are never skipped on the lower bound — pruning degrades to a scan,
    * correctness is unchanged.
    */
  def readRange(spark: SparkSession, root: String, from: Option[Long],
      until: Option[Long], id: Option[Long] = None): DataFrame = {
    require(from.nonEmpty || until.nonEmpty,
      "readRange: at least one bound (from/until) is required — use read() " +
        "for a full scan")
    requireWindow("readRange", from, until)
    val snap = resolve(root, id)
    val keep = snap.buckets.filter(sliceInWindow(_, from, until))
    val pred = windowPredicates(snap.timeCol, from, until).reduce(_ && _)
    readSlices(spark, keep, snap.schema).filter(pred)
  }

  /** Read ONLY the rows appended between `fromId` (exclusive) and `toId`
    * (inclusive, default current): the slices present in `to` but not in
    * `from` — an O(delta) incremental read straight off the manifests, the
    * consumer-side twin of [[commitDelta]] (no diffing of data files, no
    * full-table scan). Compaction rewrites slice identities, so the `from`
    * snapshot must predate any compaction between the two ids (enforced:
    * every `from` slice must still be present in `to`).
    */
  def readIncremental(spark: SparkSession, root: String, fromId: Long,
      toId: Option[Long] = None): DataFrame = {
    val from = snapshot(root, fromId)
    val to = resolve(root, toId)
    val fromDirs = from.buckets.map(_.dir).toSet
    require(fromDirs.subsetOf(to.buckets.map(_.dir).toSet),
      s"snapshot $fromId's slices were compacted away after id ${from.id}; " +
        "incremental read is only valid across append-only history")
    readSlices(spark, to.buckets.filterNot(b => fromDirs.contains(b.dir)), to.schema)
  }

  /** Per-partition lineage across ALL snapshots as a queryable DataFrame
    * (snapshot_id, parent_id, bucket, dir, rows, watermark, digest, tmin,
    * is_current) — the "work table over table metadata" surface (SURVEY.md
    * §2.1 S9): incremental jobs diff `rows`/`digest` between snapshot ids to
    * find what changed without touching data files; `[tmin, watermark]` is
    * the slice interval [[readRange]] skips on.
    */
  def lineage(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentId(root)
    snapshots(root).sortBy(_.id)
      .flatMap(s => s.buckets.map(b => (s.id, s.parent, b.bucket, b.dir,
        b.rows, b.watermark, b.digest, b.tmin, cur.contains(s.id))))
      .toDF("snapshot_id", "parent_id", "bucket", "dir", "rows", "watermark",
        "digest", "tmin", "is_current")
  }

  /** Global watermark of a snapshot = min over buckets of each bucket's
    * FOLDED (max-over-slices) watermark — all buckets complete up to at
    * least this event time. None when the table has no snapshot OR the
    * snapshot is empty (a commit of zero rows is legal — e.g. an empty
    * first micro-batch — and an empty table makes no completeness claim).
    */
  def watermark(root: String, id: Option[Long] = None): Option[Long] =
    id.orElse(currentId(root)).map(snapshot(root, _))
      .filter(_.buckets.nonEmpty).map(_.folded.values.map(_._2).min)
}

/** A [[FileIndex]] over manifest slices: one [[PartitionDirectory]] per bucket,
  * its value the manifest bucket and its files the recorded ones, so planning
  * touches no filesystem. `listFiles` applies the partition filters itself:
  * the scan does not re-apply them above it. */
private[tables] final class ManifestIndex(spark: SparkSession,
    slices: Seq[SnapshotTable.BucketManifest]) extends FileIndex {
  private val buckets: Seq[(Int, Array[FileStatus])] =
    slices.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> ss.sortBy(_.dir).toArray.flatMap { s =>
        val dir = new HPath(s.dir)
        val qualified = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dir)
        s.files.map { case (n, l) => new FileStatus(l, false, 0, 0L, 0L, new HPath(qualified, n)) }
      }
    }
  override val partitionSchema = new StructType().add(SnapshotTable.BucketCol, IntegerType)
  override def rootPaths: Seq[HPath] = buckets.flatMap(_._2.map(_.getPath.getParent)).distinct
  override def inputFiles: Array[String] = buckets.flatMap(_._2.map(_.getPath.toString)).toArray
  override def sizeInBytes: Long = buckets.map(_._2.map(_.getLen).sum).sum
  override def refresh(): Unit = ()
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = partitionFilters.map(f => Predicate.createInterpreted(
      f.transform { case _: Attribute => BoundReference(0, IntegerType, nullable = true) }))
    buckets.collect { case (k, fs) if keep.forall(_.eval(InternalRow(k))) =>
      PartitionDirectory(InternalRow(k), fs)
    }
  }
}
