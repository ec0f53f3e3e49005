package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.ext.{SketchIndex, Versioned}

/** The ONE persisted-index write/serve contract shared by every
  * incremental index in the engine — MinHash band index
  * ([[DedupStream]]), sign-LSH vector index ([[EmbedStream]]), gram
  * index ([[NoveltyStream]]), postings index
  * ([[graft.ext.Search.appendToSearchIndex]]/[[SearchStream]]).
  * Before this object each implementation repeated the discipline by
  * hand; the contract is:
  *
  *   1. '''batch_id-partitioned dynamic-overwrite writes'''
  *      ([[writePartition]]): each micro-batch lands under its own
  *      `batch_id=` partition with `partitionOverwriteMode=dynamic`, so
  *      an at-least-once checkpoint replay rewrites exactly its own
  *      partition and never duplicates rows — idempotence without a
  *      transaction log.
  *   2. '''replay-excluding reads''' ([[readBefore]]): a batch screens
  *      against `batch_id < ownId` only, so a crash between "write
  *      output" and "extend index" cannot make the replay collide with
  *      its first attempt. Absent-only recovery: a missing/empty index
  *      dir means "first batch" and yields the caller's typed empty
  *      frame; ANY other read failure (corrupt footer, transient FS
  *      error) propagates so the checkpoint retries instead of silently
  *      screening against nothing.
  *   3. '''compaction''' ([[compact]]): per-batch partitions accrete
  *      duplicate rows (a batch cannot know what earlier batches
  *      indexed) and small files; folding into a single distinct
  *      partition under `batch_id = -1` (below every real id, so the
  *      `batch_id < ownId` read keeps working) is staged to a temp dir
  *      and promoted via dynamic partition overwrite INTO the live path
  *      — the live path never stops existing, so a concurrent reader
  *      can never take the empty-index recovery branch. A crash
  *      mid-compaction leaves a duplicate-only (correctness-neutral)
  *      state and the compaction is rerunnable. Replay caveat: folding
  *      committed batches into `-1` means a later replay of one of them
  *      would screen against its own rows — compact only with the
  *      stream stopped and its checkpoint fully committed.
  *
  * Maintenance runs once here for every index a stream leg grows. Each
  * leg declares its index once as an [[Index]] (its component dirs,
  * their levels, fold and bucket rule): `DedupStream.BandIndex` (also
  * the graph leg's band index), `EmbedStream.LshIndex`,
  * `NoveltyStream.GramIndex`, `SearchStream.PostingsIndex`,
  * `Multimodal.MediaFpIndex`, `SketchStream.HllIndex`,
  * `HeavyHitterStream.CounterIndex` and `CorpusGraph.PairIndex`.
  * [[report]] diagnoses one, [[compact]] folds it and [[maintain]]
  * does the first and, when due, the second.
  *
  * At 100 TB the indexes stay hash-sized (bands/buckets/gram hashes,
  * never payloads), writes touch only the current batch's partition,
  * and compaction IO is proportional to the index, never the corpus.
  */
object BatchIndex {

  /** Docs-per-trigger bound under which a stream's BATCH-derived
    * frames (ids, band tables, drop/resent sets) broadcast-join
    * against stored-side scans; above it the hints drop and the joins
    * plan normally (AQE may still pick a broadcast from runtime
    * sizes). The [[graft.ext.CorpusGraph.BroadcastMemberMax]]
    * rationale applied to the TRIGGER: triggers are usually
    * seconds-sized, but a catch-up macro-batch after downtime can
    * carry tens of millions of docs, and a FORCED broadcast of its
    * ~4-rows/doc band table is a multi-GB driver allocation shipped
    * to every executor — an OOM where a shuffle join just pays one
    * exchange of the same rows. ~512k docs ≈ 2 M band rows ≈ 100 MB
    * serialized, comfortably broadcastable with headroom. Every leg
    * applies it through one hint, [[MicroBatch.Batch.bc]].
    */
  val TriggerBroadcastMaxDocs = 524288L

  /** Contract 1: land `rows` as `batchId`'s own partition of the index
    * at `path`. `bucketCol` adds a leading hash-bucket partition level
    * (the postings layout) and clusters the write so each bucket gets
    * one file per batch.
    */
  def writePartition(rows: DataFrame, batchId: Long, path: String,
      bucketCol: Option[String] = None): Unit = {
    val withId = rows.withColumn("batch_id", lit(batchId))
    val clustered =
      bucketCol.fold(withId)(c => withId.repartition(col(c)))
    clustered.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(bucketCol.toSeq :+ "batch_id": _*)
      .parquet(path)
  }

  /** Contract 2: the accumulated index as visible to `batchId` — every
    * partition strictly before it (including a compacted `-1`),
    * projected to `cols`. `empty` supplies the typed zero-row frame for
    * the first-batch case; any non-absence failure propagates.
    */
  def readBefore(spark: SparkSession, path: String, batchId: Long,
      cols: Seq[String], empty: => DataFrame): DataFrame =
    Versioned.readOr(empty) {
      spark.read.parquet(path)
        .filter(col("batch_id") < batchId)
        .select(cols.map(col): _*)
    }

  /** The key-bucket expression for KEY-bucketed index layouts: indexes
    * whose per-trigger read is an equi-join against the current
    * batch's keys (band hashes, LSH buckets, gram hashes) partition by
    * `bucketCol = keyBucket(B, keyCols…)` so [[readBeforeBuckets]] can
    * prune the read to the buckets the batch actually hits. Without
    * it, every trigger re-scans the WHOLE accumulated index — read IO
    * linear in corpus size, which is what caps a streaming screen's
    * docs/s at scale. pmod of xxhash64 is deterministic across
    * sessions (required: writer and every future reader must agree).
    */
  def keyBucket(buckets: Long,
      keyCols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column =
    pmod(xxhash64(keyCols: _*), lit(buckets))

  /** [[readBefore]] pruned to the `bucketCol` partitions in `buckets`
    * — the per-trigger read of a key-bucketed index. The batch's
    * distinct hit-bucket list is ≤ min(batch keys, B) values, so the
    * scan touches only hit partitions: per-trigger IO proportional to
    * the batch's key spread × (index/B), not the whole index. Rows
    * outside `buckets` cannot join any batch key by construction
    * (same bucket function both sides), so pruning is lossless. Same
    * absent-only recovery and replay-excluding `batch_id < batchId`
    * semantics as [[readBefore]].
    *
    * LISTING COST: the read is constructed from EXPLICIT hit-bucket
    * directory paths (one top-level `listStatus` of the B bucket dirs,
    * intersected with `buckets`, then a `basePath` read of the hit
    * dirs) — NOT a whole-root `spark.read.parquet(path)` with an
    * `isin` filter. Filter-pruned partition discovery lists ALL B × L
    * leaf directories before the filter prunes any of them, which is
    * exactly the measured trigger decay law (SCALING.md "Streaming
    * compaction cadence": trigger wall tracks TOTAL partition dirs,
    * 3× at 65 k, 35× at 262 k). Direct paths cut per-trigger listing
    * from O(B × L) to O(B + hit × L): one directory-entry scan of the
    * top level, then leaf listing only inside hit buckets. The
    * compaction cadence still matters — it bounds L (read volume per
    * hit bucket and duplicate accretion) and file health — but the
    * whole-index metadata walk no longer taxes every trigger.
    */
  def readBeforeBuckets(spark: SparkSession, path: String,
      batchId: Long, cols: Seq[String], empty: => DataFrame,
      bucketCol: String, buckets: Seq[Long]): DataFrame =
    if (buckets.isEmpty) empty
    else presentBuckets(spark, path, bucketCol) match {
      case None => empty // absent index: first batch
      case Some(present) =>
        val hit = buckets.distinct.filter(present.contains)
        if (hit.isEmpty) empty // nothing stored where this batch probes
        // hit dirs that hold no files (purged clean) read as empty
        else Versioned.readOr(empty) {
          spark.read.option("basePath", path)
            .parquet(hit.map(b => s"$path/$bucketCol=$b"): _*)
            .filter(col("batch_id") < batchId)
            .select(cols.map(col): _*)
        }
    }

  /** Direct-path read of the `partCol=v` partition dirs under `path`
    * for v ∈ `values` — the SERVED-index face of [[readBeforeBuckets]]'s
    * listing discipline, for probe-style reads against a value-
    * partitioned layout (IVF `cell=` data, PQ `cell=` codes): a
    * whole-root read with an `isin` filter lists every partition dir
    * before the filter prunes any, so a k-cell probe against an
    * N-cell index pays an O(N × files) metadata walk; one top-level
    * `listStatus` + explicit hit dirs pays O(N + k × files-per-cell).
    * Values with no dir are skipped (lossless for equi-probes — a
    * missing dir holds no rows); absent path or no hit dirs returns
    * `empty`. No batch semantics here — callers add their own filters.
    */
  def readHitPartitions(spark: SparkSession, path: String,
      partCol: String, values: Seq[Long],
      empty: => DataFrame): DataFrame =
    listPartitions(spark, path, partCol).fold(empty) { case (present, _) =>
      val hit = values.distinct.filter(present.contains)
      if (hit.isEmpty) empty
      else Versioned.readOr(empty)(spark.read.option("basePath", path)
        .parquet(hit.map(v => s"$path/$partCol=$v"): _*))
    }

  /** The one top-level listing of a value-partitioned layout: the
    * `partCol=` values present as dirs directly under `path`, plus
    * whether any `name=value` dir sits there at all. None = the path
    * does not exist.
    */
  private def listPartitions(spark: SparkSession, path: String,
      partCol: String): Option[(Set[Long], Boolean)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      p.toUri, spark.sparkContext.hadoopConfiguration)
    val dirs =
      try fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => return None }
    val prefix = s"$partCol="
    val present = dirs.iterator.filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(prefix).toLong).toOption)
      .toSet
    Some((present, dirs.exists(_.contains("="))))
  }

  /** The bucket values present as `bucketCol=` partition dirs directly
    * under `path` — the one top-level listing a direct-path bucket
    * read needs. None = the path does not exist (absent index).
    * Detects the legacy flat layout (batch_id-only dirs, written
    * before the index was key-bucketed) and fails with the migration
    * message — resuming a checkpoint over a pre-bucketing index is a
    * one-time [[migrateToBucketed]] rewrite, and silently treating it
    * as "no hit buckets" would screen against nothing.
    */
  private def presentBuckets(spark: SparkSession, path: String,
      bucketCol: String): Option[Set[Long]] =
    listPartitions(spark, path, bucketCol).map { case (present, anyPart) =>
      require(present.nonEmpty || !anyPart,
        s"index at $path predates the $bucketCol-bucketed layout — " +
          "run BatchIndex.migrateToBucketed (stream stopped) before " +
          "resuming this checkpoint")
      present
    }

  /** Read the key-bucket count an index was WRITTEN with — its layout
    * metadata sidecar (`<path>/_graft_buckets`; the `_` prefix keeps
    * it invisible to parquet partition discovery). B is a FUNCTION of
    * corpus size (SCALING.md "Per-trigger read volume": bucket content
    * must stay bounded as the corpus grows), so it cannot live only as
    * a code constant — a reader probing with a different B than the
    * writer's addresses the WRONG buckets and pruning silently drops
    * recall. Absent file = `default` (an index from before this
    * metadata, at its stream's compiled-in fixture B).
    */
  def bucketCountOf(spark: SparkSession, path: String,
      default: Long): Long = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      p.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) default
    else {
      val in = fs.open(p)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** BYTES-per-bucket target of the B-sizing rule. The r15 rule sized
    * B by ROWS (~512/bucket, per-trigger read volume), but the r16
    * rebucket probe measured that rule already LISTING-BOUND at 16 M
    * rows on local fs: B = rows/512 = 32 768 buckets of ~74 KB files,
    * and trigger wall tracks total partition dirs (the
    * [[CompactFileBudget]] table), so a row-pure B buys nothing past
    * the point where each bucket is already a small file — it only
    * multiplies the metadata walk. The binding constraint is FILE
    * HEALTH: size buckets toward healthy parquet files (≳ 8–64 MB),
    * i.e. B = ⌈bytes / target⌉ rounded up to a power of two.
    * Per-trigger reads stay hit-bucket-pruned either way; only the
    * read's granularity grows with the target. 16 MB sits mid-band
    * with 4× [[RebucketDriftFactor]] headroom before a bucket file
    * leaves the healthy range.
    */
  val TargetBytesPerBucket: Long = 16L << 20

  /** Planning width (parquet bytes/row) for hash-row index entries —
    * the width [[autoBucketCount]] assumes when sizing a NEW index
    * from its first batch's ROW count (nothing is on disk yet to
    * measure). Measured: the 4 M-row band index of the SCALING.md
    * compaction-cadence table is 153 MB across 2 048 small files
    * (~38 B/row, footer-heavy); at healthy file sizes the same
    * (long, int, long) rows encode nearer 24–30 B. 32 is the
    * conservative planning constant; a caller with a measured width
    * for its own schema passes it explicitly (e.g. the graph stream's
    * TEXT corpus at ~1 KB/doc). Existing indexes never use this —
    * their drift diagnostics read ACTUAL bytes from the filesystem.
    */
  val DefaultIndexRowBytes: Long = 32L

  /** Bytes-per-bucket drift past which [[report]] recommends a
    * [[rebucket]]: resizing is a full rewrite, so the rule carries
    * hysteresis — fire at 4× the target (one doubling of B would
    * land the index back inside 2×), not at every crossing.
    */
  val RebucketDriftFactor = 4L

  /** Batch levels per bucket past which [[report]] recommends a
    * [[compact]]: each committed batch adds one file per touched
    * bucket, and every trigger's partition discovery lists ALL B × L
    * directories — the file-count counterweight to scaling B. The
    * measured law (SCALING.md "Streaming compaction cadence", 4 M-row
    * index, local[32]): trigger wall tracks TOTAL partition count,
    * ~flat to 16 k dirs, 3× at 65 k, 35× at 262 k — and the compaction
    * itself grows with accretion (579 s at 65 k, 2 733 s at 262 k), so
    * the cadence must fire while the repair is still affordable.
    * Hence TWO triggers, either sufficient: levels past this constant,
    * or total dirs past [[CompactFileBudget]].
    */
  val CompactAfterLevels = 16L

  /** Total partition-dir budget (B × batch levels) past which
    * [[report]] recommends compaction regardless of the level
    * count — at large B a handful of levels already multiplies into
    * the file-count regime the measured table shows degrading
    * (B = 8 192 × L = 8 = 65 k dirs was 2× slower than L = 1).
    */
  val CompactFileBudget = 32768L

  /** The B-sizing rule at index creation: enough power-of-two buckets
    * to hold `keyRows` rows of `rowBytes` width at
    * [[TargetBytesPerBucket]] per bucket, never below `floor` (the
    * compiled fixture default — tiny first batches must not create
    * degenerate 1-bucket layouts). A catch-up first macro batch thus
    * creates its index at a B sized for the data it actually carries
    * instead of the fixture constant, and the [[report]]
    * diagnostics watch the byte drift from there (against MEASURED
    * bytes, not this planning estimate).
    */
  def autoBucketCount(keyRows: Long, floor: Long,
      rowBytes: Long = DefaultIndexRowBytes,
      targetBytes: Long = TargetBytesPerBucket): Long =
    autoBucketCountBytes(keyRows * math.max(rowBytes, 1L), floor,
      targetBytes)

  /** The byte-rule core: smallest power-of-two multiple of `floor`
    * holding `totalBytes` at ≤ `targetBytes` per bucket.
    */
  def autoBucketCountBytes(totalBytes: Long, floor: Long,
      targetBytes: Long = TargetBytesPerBucket): Long = {
    var b = math.max(floor, 1L)
    while (b * targetBytes < totalBytes) b *= 2
    b
  }

  /** Resolve the bucket count a WRITER must use at `path`: the
    * recorded layout metadata when present; the compiled `default`
    * for an existing pre-metadata index (its rows are laid out at
    * that default — re-deriving would corrupt addressing); and for a
    * NEW index the [[autoBucketCount]] rule over the first batch's
    * key rows (evaluated only in this branch — existing indexes never
    * pay the count).
    */
  def bucketCountForWrite(spark: SparkSession, path: String,
      default: Long, firstBatchKeyRows: => Long,
      rowBytes: Long = DefaultIndexRowBytes): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      p.toUri, spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path, "_graft_buckets")))
      bucketCountOf(spark, path, default)
    else if (fs.exists(p)) default // pre-metadata index: compiled layout
    else autoBucketCount(firstBatchKeyRows, default, rowBytes)
  }

  /** How a component finds its bucket count (the [[LayoutReport]]
    * denominator) and the floor of its resize recommendation.
    */
  sealed trait Buckets
  object Buckets {
    /** The count the index was written with ([[bucketCountOf]]: its
      * `_graft_buckets` record, else `default`); the floor is
      * `default`. The key-bucketed layouts.
      */
    final case class Recorded(default: Long) extends Buckets
    /** The level combinations the index holds, counted by the
      * report's own per-bucket rollup (each is one directory fan-out,
      * which is what the file-count cadence prices); the floor is
      * `floor`. Layouts with no recorded count.
      */
    final case class Observed(floor: Long) extends Buckets
    /** `n`, also the floor: a count fixed by a constant, or 1 for a
      * component with no level above `batch_id`.
      */
    final case class Fixed(n: Long) extends Buckets
  }

  /** A component's merge semantics for [[compact]]. There is no
    * default: a sum-served index folded as distinct rows would
    * double-count across the crash window (see [[compact]]).
    */
  sealed trait Fold
  object Fold {
    /** Distinct rows over the levels and `cols`, for indexes served by
      * set lookup, where a crash window's duplicates are neutral.
      */
    final case class Distinct(cols: Seq[String]) extends Fold
    /** Distinct rows over the levels and `cols` for indexes served by
      * aggregating rows (pair evidence, postings, doclen): screen
      * first ([[graft.ext.SketchIndex.screenFolded]], keyed on the
      * levels) so a re-run over a crashed compaction's leftovers
      * cannot resurrect superseded rows, then stamp each level key's
      * `folded_through`, the highest batch id it merged, which the
      * readers' screen compares against.
      */
    final case class ScreenedDistinct(cols: Seq[String]) extends Fold
    /** `aggs` per levels and `keys` over the screened rows, stamping
      * `folded_through` the same way: the exact merge of a sum-served
      * sketch index (HLL registers, Misra–Gries counters).
      */
    final case class ScreenedMerge(keys: Seq[String], aggs: Seq[Column])
        extends Fold
  }

  /** One `batch_id`-partitioned dir of an accreting index: `dir` under
    * the index's root ("" for the root itself), the partition `levels`
    * above `batch_id`, its [[Fold]] and its [[Buckets]] rule.
    */
  final case class Component(dir: String, levels: Seq[String],
      fold: Fold, buckets: Buckets)

  /** An accreting index as its maintenance sees it, declared once by
    * the leg that writes it. The report comes from the first
    * component, whose absence means no index yet; a compaction folds
    * every present component. `resizable = false` marks levels that are
    * semantic (a day), where a resize means nothing: the rebucket arm
    * is dropped from the report.
    */
  final case class Index(components: Seq[Component], resizable: Boolean)

  object Index {
    /** The [[ingestKeyed]] layout: `cols` under the key-bucket level,
      * distinct-folded, at the recorded bucket count.
      */
    def keyed(cols: Seq[String], defaultBuckets: Long): Index =
      Index(Seq(Component("", Seq(KeyBucketCol), Fold.Distinct(cols),
        Buckets.Recorded(defaultBuckets))), resizable = true)
  }

  /** One index's layout health — the diagnostics op behind the B rule
    * and the compaction cadence: MEASURED bytes per bucket vs the
    * byte target (with the [[autoBucketCountBytes]] recommendation
    * when drifted past [[RebucketDriftFactor]]) and batch levels per
    * bucket vs [[CompactAfterLevels]]. Bytes are the filesystem's, not
    * a width estimate — the stored index is the sample the sizing rule
    * wants. A deployment runs this per index on its maintenance
    * cadence and acts on the two booleans; both fixes ([[rebucket]] /
    * [[compact]]) are stream-stopped ops, and [[maintain]] is the
    * wired form of the compact arm.
    */
  final case class LayoutReport(buckets: Long, rows: Long, bytes: Long,
      meanRowsPerBucket: Double, meanBytesPerBucket: Double,
      maxBucketRows: Long,
      batchLevels: Long, maxLevelsPerBucket: Long,
      recommendedBuckets: Long, rebucketRecommended: Boolean,
      compactRecommended: Boolean)

  /** Outcome of one [[maintain]] pass: the diagnostics that drove it,
    * the compaction's (before, after) row counts when one ran, and
    * whether a rebucket is (still) recommended — rebuckets change
    * addressing, so they are REPORTED for a deliberate operator run
    * ([[rebucket]] with the stream's own bucket expression), never
    * auto-run.
    */
  final case class Maintenance(report: LayoutReport,
      compacted: Option[(Long, Long)]) {
    def rebucketRecommended: Boolean = report.rebucketRecommended
  }

  /** The layout report of `index` at `path` (its first component);
    * None when the index is absent.
    */
  def report(spark: SparkSession, index: Index, path: String,
      targetBytes: Long = TargetBytesPerBucket): Option[LayoutReport] =
    present(spark, index, path).headOption.map { case (c, dir) =>
      layout(spark, dir, c, index.resizable, targetBytes)
    }

  /** The maintenance hook that turns the measured cadence into a
    * running code path: diagnose the index and, when any present
    * component is due, [[compact]] every present one. The measured
    * decay law (SCALING.md "Streaming compaction cadence": triggers 3×
    * at 65 k partition dirs, 35× at 262 k, while the repair itself
    * grows super-linearly) means a long-running stream that nobody
    * compacts degrades without bound — stream owners call this
    * BETWEEN bounded runs / with the stream stopped and its checkpoint
    * committed (the [[compact]] contract; the caller owns that
    * precondition), as [[graft.RunStream]]'s bounded modes do for
    * every index they grow. Returns the first component's report;
    * None = absent index (stream never committed), nothing to
    * maintain.
    */
  def maintain(spark: SparkSession, index: Index, path: String,
      foldThrough: Long = Long.MaxValue): Option[Maintenance] = {
    val parts = present(spark, index, path)
    parts.headOption.map { case (c, dir) =>
      val head = layout(spark, dir, c, index.resizable,
        TargetBytesPerBucket)
      val due = head.compactRecommended || parts.tail.exists {
        case (ci, d) => layout(spark, d, ci, index.resizable,
          TargetBytesPerBucket).compactRecommended
      }
      Maintenance(head,
        if (due) Some(foldAll(spark, parts, foldThrough)) else None)
    }
  }

  /** Contract 3: fold every committed `batch_id >= 0` partition of
    * each present component into one `batch_id = -1` partition per
    * level combination, with the component's [[Fold]]. Returns the
    * first component's (rows before, rows after); None = absent index.
    * Run only with the stream stopped (see object doc). Crash window:
    * the `-1` rows promote before the old partitions delete, so a
    * crash can leave BOTH visible — row-level duplicates are
    * correctness-neutral for [[Fold.Distinct]] indexes, but an index
    * whose serving SUMS across rows must screen batch rows out of
    * folded buckets at read time (the SketchIndex discipline) and
    * fold through the same screen ([[Fold.ScreenedDistinct]],
    * [[Fold.ScreenedMerge]]).
    *
    * `foldThrough`: partitions above the caller's last fully-committed
    * batch are left in place — NOT folded, NOT deleted. An in-flight
    * batch interrupted mid-processBatch has landed SOME of its
    * artifacts (e.g. a graph trigger's bands but not its pairs);
    * folding those rows into `-1` would defeat the reader-side
    * `batch_id < storedId` replay exclusion — the replay would see its
    * own first attempt as stored state, classify every doc as re-sent,
    * and silently never produce the batch's evidence. Callers that
    * know their committed boundary (RunStream's post-run maintenance)
    * pass it; Long.MaxValue folds everything (safe only when
    * checkpoints are known committed).
    */
  def compact(spark: SparkSession, index: Index, path: String,
      foldThrough: Long = Long.MaxValue): Option[(Long, Long)] = {
    val parts = present(spark, index, path)
    if (parts.isEmpty) None else Some(foldAll(spark, parts, foldThrough))
  }

  /** `index`'s components with their dirs under the root `path`
    * resolves to ([[Versioned.resolve]]; an unversioned path resolves
    * to itself), keeping the present ones; empty when the first
    * component is absent.
    */
  private def present(spark: SparkSession, index: Index, path: String)
      : Seq[(Component, String)] = {
    val root = Versioned.resolve(spark, path)
    val dirs = index.components.map(c =>
      c -> (if (c.dir.isEmpty) root else s"$root/${c.dir}"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    def exists(d: String) = fs.exists(new org.apache.hadoop.fs.Path(d))
    if (!exists(dirs.head._2)) Nil
    else dirs.filter { case (_, d) => exists(d) }
  }

  private def foldAll(spark: SparkSession,
      parts: Seq[(Component, String)], foldThrough: Long): (Long, Long) =
    parts.map { case (c, dir) => fold(spark, dir, c, foldThrough) }.head

  /** The layout scan: one index read whose per-(levels…, batch) cell
    * counts (all PARTITION columns, so no data page is read) give the
    * per-bucket rollup, the global distinct-level count and, for
    * [[Buckets.Observed]], the bucket count.
    */
  private def layout(spark: SparkSession, path: String, c: Component,
      resizable: Boolean, targetBytes: Long): LayoutReport = {
    val bytes = org.apache.hadoop.fs.FileSystem.get(
        new org.apache.hadoop.fs.Path(path).toUri,
        spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(path))
      .getLength
    // the cell frame's exchange is reused across the rollup and the
    // distinct-level branch; the index itself is never re-scanned
    val cells = spark.read.parquet(path)
      .groupBy((c.levels :+ "batch_id").map(col): _*)
      .agg(count(lit(1)).as("rows"))
    val per = cells.groupBy(c.levels.map(col): _*)
      .agg(sum("rows").as("rows"), count(lit(1)).as("levels"))
      .agg(sum("rows").as("rows"), max("rows").as("maxRows"),
        max("levels").as("maxLevels"), count(lit(1)).as("groups"))
      .crossJoin(cells.agg(
        countDistinct(col("batch_id")).as("levels")))
      .head()
    def at(i: Int): Long = if (per.isNullAt(i)) 0L else per.getLong(i)
    val (rows, maxRows, maxLevels, levels) = (at(0), at(1), at(2), at(4))
    val (b, floor) = c.buckets match {
      case Buckets.Recorded(d) => (bucketCountOf(spark, path, d), d)
      case Buckets.Observed(f) => (at(3), f)
      case Buckets.Fixed(n) => (n, n)
    }
    LayoutReport(b, rows, bytes, rows.toDouble / math.max(b, 1L),
      bytes.toDouble / math.max(b, 1L), maxRows,
      levels, maxLevels,
      if (resizable) autoBucketCountBytes(bytes, floor, targetBytes)
      else b,
      rebucketRecommended =
        resizable && bytes > b * targetBytes * RebucketDriftFactor,
      compactRecommended = maxLevels > CompactAfterLevels
        || b * levels > CompactFileBudget)
  }

  /** The fold primitive of [[compact]] over one component dir. */
  private def fold(spark: SparkSession, path: String, c: Component,
      foldThrough: Long): (Long, Long) = {
    val parts = c.levels :+ "batch_id"
    // mergeSchema: a screened fold adds folded_through, which plain
    // per-file inference would drop when the first-listed file
    // predates it
    val full = spark.read.option("mergeSchema", "true").parquet(path)
    val before = full.count()
    val index = full.filter(col("batch_id") <= foldThrough)
    // nothing in fold scope (a fresh index, or a bound below every
    // partition): writing an empty partitioned frame emits only
    // _SUCCESS and the tmp read-back would throw UNABLE_TO_INFER_SCHEMA
    // after staging — short-circuit instead of half-running
    if (index.isEmpty) return (before, before)
    // bounded collect: one row per LIVE partition directory — ≤ buckets
    // × committed batches (the partition space, never row counts), and
    // compaction's whole point is to keep that space folded down
    val liveDirs: Seq[String] =
      index.filter(col("batch_id") >= 0L)
        .select(parts.map(p => col(p).cast("string")): _*)
        .distinct().collect().toIndexedSeq
        .map(r => parts.indices
          .map(i => s"${parts(i)}=${r.getString(i)}").mkString("/"))
    // the fold sees the FULL frame (incl. batch_id), which the
    // folded_through stamp needs
    val foldedThrough = max(greatest(coalesce(col("folded_through"),
      lit(-1L)), col("batch_id"))).as("folded_through")
    val folded = c.fold match {
      case Fold.Distinct(cols) =>
        index.select((c.levels ++ cols).distinct.map(col): _*).distinct()
      case Fold.ScreenedDistinct(cols) =>
        val withFt =
          if (index.columns.contains("folded_through")) index
          else index.withColumn("folded_through", lit(null).cast("long"))
        val live = SketchIndex.screenFolded(withFt, c.levels)
          .select((c.levels ++ cols).map(col): _*).distinct()
        if (c.levels.isEmpty)
          live.crossJoin(broadcast(withFt.agg(foldedThrough)))
        else live.join(broadcast(withFt.groupBy(c.levels.map(col): _*)
          .agg(foldedThrough)), c.levels)
      case Fold.ScreenedMerge(keys, aggs) =>
        SketchIndex.screenFolded(index, c.levels)
          .groupBy((c.levels ++ keys).map(col): _*)
          .agg(aggs.head, aggs.tail :+ foldedThrough: _*)
    }
    val tmp = new org.apache.hadoop.fs.Path(path + ".compacting")
    folded
      .withColumn("batch_id", lit(-1L))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(parts: _*).parquet(tmp.toString)
    spark.read.parquet(tmp.toString)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*).parquet(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
    liveDirs.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(path, d), true)
      ()
    }
    fs.delete(tmp, true)
    // cached plans over the pre-compaction files must not outlive the
    // fold (nor feed the count below)
    spark.catalog.refreshByPath(path)
    val after = spark.read.parquet(path).count()
    (before, after)
  }

  /** Record (or verify) an index's bucket count before writing to it.
    * First write stamps the metadata; later writes FAIL LOUDLY on a
    * mismatch — the state where a stream's compiled-in default moved
    * (or a misconfigured writer attached) without a [[rebucket]], in
    * which new rows would land in buckets no reader probes.
    */
  def ensureBucketMeta(spark: SparkSession, path: String,
      buckets: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      p.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) writeBucketMeta(fs, p.getParent, buckets)
    else {
      val have = bucketCountOf(spark, path, buckets)
      require(have == buckets,
        s"index at $path is laid out at $have buckets but the writer " +
          s"is configured for $buckets — run BatchIndex.rebucket " +
          "(stream stopped) before resuming")
    }
  }

  /** Bucket partition column of the [[ingestKeyed]] index layouts. */
  private val KeyBucketCol = "band_bucket"

  /** Ledger and counters of a key-bucketed ingest leg
    * ([[ingestKeyed]]): batch rows `seen`, and the rows its screen
    * `passed` (kept, or fully novel), both added only on commit.
    */
  class KeyedStats(spark: SparkSession, leg: String, passedName: String)
      extends MicroBatch.Ledger {
    val seen: LongAccumulator =
      spark.sparkContext.longAccumulator(s"${leg}_seen")
    val passed: LongAccumulator =
      spark.sparkContext.longAccumulator(s"${leg}_$passedName")
  }

  /** The per-trigger ingest of a key-bucketed index leg
    * ([[DedupStream]], [[EmbedStream]], [[NoveltyStream]]) over the
    * [[MicroBatch.commit]] handle `b` (an empty batch commits nothing):
    * key the batch (`keysOf`, kept for the batch); resolve the index's
    * bucket count ([[bucketCountForWrite]], sized from those key rows
    * for a new index); read the stored rows in the batch's hit buckets
    * ([[readBeforeBuckets]] over `cols`); run the leg's `screen` over
    * the handle, the keys and that index, which writes the leg's own
    * output and returns the key rows to index and its `passed` count;
    * stamp the layout ([[ensureBucketMeta]]); land those keys under
    * `bucketAt` of that count ([[writePartition]]); then count. The
    * index write follows the output write, so a replay between the two
    * rewrites both, and the index read excludes the batch's own
    * partition.
    */
  def ingestKeyed(b: MicroBatch.Batch, indexPath: String,
      stats: KeyedStats, defaultBuckets: Long, cols: Seq[String],
      keysOf: DataFrame => DataFrame, bucketAt: Long => Column)(
      screen: (MicroBatch.Batch, DataFrame, DataFrame) => (DataFrame, Long))
      : Boolean =
    b.n > 0 && {
      val spark = b.rows.sparkSession
      val keys = b.keep(keysOf(b.rows))
      val buckets = bucketCountForWrite(spark, indexPath, defaultBuckets,
        keys.count())
      // rows in other buckets cannot join a batch key by construction,
      // so the pruned read is lossless
      val hit = keys.select(bucketAt(buckets)).distinct()
        .collect().map(_.getLong(0)).toSeq
      val index = readBeforeBuckets(spark, indexPath, b.id, cols,
        keysOf(b.rows.limit(0)), KeyBucketCol, hit)
      val (indexed, nPassed) = screen(b, keys, index)
      ensureBucketMeta(spark, indexPath, buckets)
      writePartition(indexed.withColumn(KeyBucketCol, bucketAt(buckets)),
        b.id, indexPath, bucketCol = Some(KeyBucketCol))
      stats.seen.add(b.n); stats.passed.add(nPassed)
      true
    }

  /** The keep-first candidate screen of the dedup legs
    * ([[DedupStream]], [[EmbedStream]]): a batch row drops when one of
    * its `keyCols` rows collides with the index, or with a batch-mate
    * of lower `id`; survivors land as the batch's partition of
    * `corpusPath`, and only their keys extend the index.
    */
  def keepFirst(corpusPath: String, id: String, keyCols: Seq[String])(
      b: MicroBatch.Batch, keys: DataFrame,
      index: DataFrame): (DataFrame, Long) = {
    val drops = b.bc(b.keep(dropSet(keys, index, id, keyCols)))
    val survivors = b.keep(b.rows.join(drops, Seq(id), "left_anti"))
    val nKept = survivors.count()
    writePartition(survivors, b.id, corpusPath)
    (keys.join(drops, Seq(id), "left_anti"), nKept)
  }

  /** Ids of batch `keys` rows that share all `keyCols` with an `index`
    * row or with a lower-id batch-mate (keep-first within the batch).
    */
  private def dropSet(keys: DataFrame, index: DataFrame, id: String,
      keyCols: Seq[String]): DataFrame = {
    def sameKey(l: String, r: String): Column =
      keyCols.map(c => col(s"$l.$c") === col(s"$r.$c")).reduce(_ && _)
    val vsIndex = keys.as("b").join(index.as("i"), sameKey("b", "i"))
      .select(col(s"b.$id"))
    val inBatch = keys.as("a").join(keys.as("b"),
        sameKey("a", "b") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"b.$id"))
    vsIndex.unionByName(inBatch).distinct()
  }

  /** Resize a key-bucketed index to `newBuckets` — the maintenance op
    * the B-sizing rule requires as the corpus grows (SCALING.md: keep
    * bucket content at tens of MB; B must scale with the index). Full
    * rewrite under the new layout (`bucketExpr` must be the stream's
    * own key expression evaluated at the NEW count), staged then
    * swapped; the metadata rides INSIDE the staged dir so the rename
    * promotes data + layout record atomically — a crash leaves either
    * the old consistent index or the new one, never data at one B
    * with metadata at another. Run with the stream stopped;
    * rerunnable (same recovery shape as [[migrateToBucketed]]).
    */
  def rebucket(spark: SparkSession, path: String, bucketCol: String,
      newBuckets: Long,
      bucketExpr: Long => org.apache.spark.sql.Column): Unit =
    relayout(spark, path, bucketCol, newBuckets, bucketExpr, "rebucket")(
      _ => false)

  /** One-time, in-place migration of an index written under the flat
    * `batch_id=`-only layout to the key-bucketed `bucketCol/batch_id`
    * layout every [[readBeforeBuckets]] stream now requires
    * ([[DedupStream]]/[[GraphStream]] band indexes, [[EmbedStream]]
    * LSH tables, [[NoveltyStream]] gram index). `bucketExpr(buckets)`
    * must be the stream's own bucket expression at the migration's
    * target count (e.g. [[DedupStream.bandBucketAt]]) — writer and
    * every future reader must agree, which is why the count is ALSO
    * stamped as `_graft_buckets` layout metadata inside the staged dir
    * (the [[rebucket]] discipline: data and layout record promote in
    * one rename — a migrated index left without metadata would resolve
    * whatever compiled-in default a FUTURE reader ships, silently
    * losing recall the moment that default moves). Run with the stream
    * stopped; rerunnable: a crash before the old layout is deleted
    * restages from the live data, a crash after it completes the
    * promote from the staged copy (the stage is only ever
    * deleted-then-renamed once its write fully committed). No-op when
    * the index already carries `bucketCol` — except stamping the
    * metadata if a pre-metadata migration left it absent.
    */
  def migrateToBucketed(spark: SparkSession, path: String,
      bucketCol: String, buckets: Long,
      bucketExpr: Long => org.apache.spark.sql.Column): Unit =
    relayout(spark, path, bucketCol, buckets, bucketExpr, "migrate") {
      index => index.columns.contains(bucketCol) && {
        // already bucketed — just ensure the layout metadata exists
        // (verifies on mismatch rather than silently restamping)
        ensureBucketMeta(spark, path, buckets)
        true
      }
    }

  /** The staged full rewrite of [[rebucket]] and [[migrateToBucketed]]:
    * the live index re-bucketed by `bucketExpr(buckets)` into a stage
    * dir with its layout record, then swapped in. `done` sees the live
    * index first and ends the op when it returns true.
    */
  private def relayout(spark: SparkSession, path: String,
      bucketCol: String, buckets: Long,
      bucketExpr: Long => org.apache.spark.sql.Column, verb: String)(
      done: DataFrame => Boolean): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".rebucketing")
    if (fs.exists(live)) {
      fs.delete(tmp, true) // partial stage from a crashed run
      // mergeSchema: same reason as [[compact]] — a full rewrite
      // that inferred schema from the first-listed file would silently
      // drop columns added by later batches of a schema-evolved index
      val index = spark.read.option("mergeSchema", "true").parquet(path)
      if (done(index)) return
      index.drop(bucketCol)
        .withColumn(bucketCol, bucketExpr(buckets))
        .repartition(col(bucketCol))
        .write.partitionBy(bucketCol, "batch_id").parquet(tmp.toString)
      // layout record INSIDE the stage — promoted by the same rename
      writeBucketMeta(fs, tmp, buckets)
      fs.delete(live, true)
    } else require(fs.exists(tmp),
      s"nothing to $verb at $path (no index, no staged copy)")
    fs.rename(tmp, live)
    spark.catalog.refreshByPath(path) // drop pre-rewrite cached plans
    ()
  }

  private def writeBucketMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, buckets: Long): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, "_graft_buckets"), true)
    try out.write(buckets.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
