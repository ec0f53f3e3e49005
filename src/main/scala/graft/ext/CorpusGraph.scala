package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted corpus-wide dedup graph: the 4-channel near-dup PAIR
  * table (image/audio/video perceptual pairs + text MinHash pairs —
  * [[Multimodal.corpusPairs]]) together with its connected-component
  * LABEL table, stored as one serving artifact so the cluster and
  * manifest consumers ([[Multimodal.corpusDedupClustersServedFrom]] /
  * [[Multimodal.corpusDedupManifestFrom]]) read two bounded tables
  * instead of re-deriving pair generation + labeling per query.
  *
  * Why the graph needs its own INGEST and TAKEDOWN paths instead of
  * rebuild-only maintenance: its sources grow incrementally (the media
  * fingerprint index via [[Multimodal.appendToMediaFpIndex]], the
  * MinHash band index via the DedupStream discipline), and connected
  * components are the one derived artifact where a row-level edit has
  * NON-LOCAL effect — an appended edge can merge two stored clusters,
  * and a purged doc can SPLIT one (removing a bridge node) — so both
  * operations must relabel, but only the components they touch.
  *
  * Layout (all numeric partition values, takedown-compatible); the
  * root is [[Versioned]]-managed — the flat base below lives at
  * `path` itself, [[rebuildGraph]] snapshots live under `path/v-<n>`,
  * and every reader/maintainer resolves the serving root once per
  * operation:
  * {{{
  *   <root>/pairs/bucket=<b>/batch_id=<n>/   (doc_a, doc_b, modality)
  *   <root>/labels/bucket=<b>/               (doc_id, label)
  * }}}
  * with b = pmod(doc_a resp. doc_id, LabelBuckets). Pairs follow the
  * append-friendly batch_id discipline (an at-least-once replay
  * rewrites exactly its own partitions via dynamic overwrite) UNDER a
  * doc_a-bucket level, so a legal-sized takedown's pair purge rewrites
  * only the buckets its ids hash to instead of every pair row (the
  * doc_b pass still discovers by content — a purged id's partner-side
  * rows live wherever their doc_a hashed — but rewrite stays
  * hit-partition-proportional either way); labels are doc-id-bucketed
  * so a relabel rewrites only the buckets holding touched docs.
  *
  * Invariants (pinned in CorpusGraphSpec and the
  * `corpus_graph_incremental` / `corpus_graph_takedown` verified rows):
  *   - labels == [[Dedup.clusterLabels]](stored pairs) at all times —
  *     label = component min doc_id, membership = docs in ≥1 pair
  *     ([[staleLabelCount]] is the audit);
  *   - append ≡ rebuild over the unioned pair set; replay idempotent;
  *   - purge ≡ rebuild over the surviving pair set (including
  *     bridge-removal cluster splits).
  *
  * CONCURRENT-READER CONTRACT (label table): the graph is a
  * ONE-WRITER artifact, and label reads that must be snapshot-
  * consistent with a concurrent [[append]]/[[purge]] are NOT
  * guaranteed — unlike the [[Versioned]] roots (IVF/search/media fp),
  * in-place label writes promote per bucket via dynamic overwrite,
  * which is atomic per bucket but not across buckets. What IS
  * guaranteed, and spec-pinned (CorpusGraphSpec "label-write
  * concurrency contract"):
  *   - a BOUNDED delta append leaves every bucket outside its touched
  *     components byte-identical — a straddling reader of untouched
  *     components reads exactly what it would have before or after;
  *   - a torn promote (reader-visible mixed old/new buckets, or a
  *     writer crash mid-promote) is always DETECTED by
  *     [[staleLabelCount]] and REPAIRED by [[repairLabels]] — the
  *     mixed state cannot serve silently past the audit cadence.
  * Readers needing a hard snapshot read a [[rebuildGraph]] version
  * (one `Versioned.resolve`, swap-straddling reads pinned) or run in
  * the stream-stopped window — today's deployment posture
  * ([[graft.streaming.GraphStream]] is the one writer; roll-ups run
  * between bounded runs).
  *
  * Scale: components only MERGE on append — a batch's new labels are
  * computable from (batch pairs ∪ one star edge `(doc_id,
  * stored_label)` per member of each touched component), never from
  * the stored pair set; on purge they only split WITHIN touched
  * components, so the relabel reads surviving pairs of those
  * components only. Both are bounded by touched-component size +
  * batch size, independent of graph size — and because power-law
  * graphs make "touched-component size" itself unbounded (one
  * boilerplate mega-cluster), every touched/member/id-set join is
  * size-gated: broadcast below [[BroadcastMemberMax]] rows, shuffle
  * join above it (mega-component envelope in SCALING.md).
  */
object CorpusGraph {

  /** Label-table bucket count (fixture value — see
    * [[Multimodal.MediaFpBuckets]] for the sizing discussion; a 100 TB
    * deployment sizes this to its target relabel-rewrite granularity).
    */
  val LabelBuckets = 16L

  val PairsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_a", LongType),
      StructField("doc_b", LongType),
      StructField("modality", StringType),
      StructField("bucket", LongType),
      StructField("batch_id", LongType)))
  }

  /** The pair table's partition-column list in directory order — the
    * [[Takedown.purgeIndex]] `partCols` argument for both endpoint
    * passes.
    */
  val PairPartCols: Seq[String] = Seq("bucket", "batch_id")

  val LabelsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("label", LongType),
      StructField("bucket", LongType)))
  }

  private def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(c, lit(LabelBuckets))

  /** Row bound under which the touched-component frames (touched ids,
    * touched labels, members, purge id sets) broadcast-join; above it
    * they fall back to shuffle joins. Real web-scale dedup graphs are
    * power-law — one boilerplate mega-cluster can hold millions of
    * members, and "bounded by touched-component size" then approaches
    * graph size: a forced broadcast of such a member set is a
    * multi-GB driver allocation (OOM), while a shuffle join just
    * pays one exchange of the same rows. ~512k two-long rows ≈ 30 MB
    * serialized — comfortably under Spark's 8 GB broadcast ceiling
    * with headroom for row overhead (the maxBandBucket-style skew
    * guard applied to relabel inputs; mega-component envelope measured
    * in SCALING.md "Corpus graph maintenance").
    */
  val BroadcastMemberMax = 524288L

  /** Test seam over [[BroadcastMemberMax]]: CorpusGraphSpec pins
    * append ≡ rebuild and purge ≡ rebuild THROUGH the shuffle-join
    * fallback by setting this to 0 (the paths a fixture-sized graph
    * would otherwise never take).
    */
  @volatile private[graft] var memberBroadcastBound: Long =
    BroadcastMemberMax

  /** Join `left` against a touched-component-bounded frame, forcing
    * the broadcast only while the bound is actually small ([[
    * BroadcastMemberMax]]); callers pass the frame's materialized
    * count (they persist+count these frames anyway for the relabel
    * bookkeeping).
    */
  private def gatedJoin(left: DataFrame, small: DataFrame,
      keys: Seq[String], joinType: String, smallRows: Long): DataFrame =
    if (smallRows <= memberBroadcastBound)
      left.join(broadcast(small), keys, joinType)
    else left.join(small, keys, joinType)

  /** Base build: land the pair stream under batch_id=0 and label it
    * once (the ingest-time labeling the clusterLabelsFor economics
    * prescribe — consumers never label per query). Full-replace
    * semantics: stale version dirs from earlier [[rebuildGraph]]s are
    * cleared so they cannot out-rank the fresh base (the
    * writeMediaFpIndex lesson).
    */
  def write(pairs: DataFrame, path: String): Unit =
    Versioned.writeBase(pairs.sparkSession, path)(writeSnapshot(pairs, _))

  /** One complete pairs+labels snapshot under `root` — shared by the
    * flat base build ([[write]]) and the staged rebuild
    * ([[rebuildGraph]]).
    */
  private def writeSnapshot(pairs: DataFrame, root: String): Unit = {
    val spark = pairs.sparkSession
    // clustered by the doc_a bucket (one write task per bucket — a
    // forced repartition(1) was measured to OOM the single writer at a
    // 24 M-pair graph; bucket volume is duplicate-volume/buckets)
    pairs.select(col("doc_a"), col("doc_b"), col("modality"))
      .withColumn("bucket", bucketOf(col("doc_a")))
      .withColumn("batch_id", lit(0L))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket", "batch_id")
      .parquet(s"$root/pairs")
    Dedup.clusterLabels(readPairsAt(spark, root)
        .select("doc_a", "doc_b"))
      .withColumn("bucket", bucketOf(col("doc_id")))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/labels")
  }

  /** Both components of ONE resolved snapshot: (pairs, labels). The
    * resolve-once read every multi-component consumer must use — a
    * cluster roll-up that resolved pairs and labels separately could
    * straddle a [[rebuildGraph]] commit and join new pairs against
    * old labels (the BM25 straddle hazard, pinned for the graph in
    * IndexLifecycleSpec).
    */
  def readGraph(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    val root = Versioned.resolve(spark, path)
    (readPairsAt(spark, root), readLabelsAt(spark, root))
  }

  def readPairs(spark: SparkSession, path: String): DataFrame =
    readPairsAt(spark, Versioned.resolve(spark, path))

  /** [[PairsSchema]] plus the compaction screen column: `-1` fold
    * partitions record the highest batch id they merged (the
    * [[PairIndex]] fold); pre-fold batch files lack the column and
    * read as null.
    */
  private val PairsReadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(PairsSchema.fields :+
      org.apache.spark.sql.types.StructField("folded_through",
        org.apache.spark.sql.types.LongType))

  private[graft] def readPairsAt(spark: SparkSession,
      root: String): DataFrame =
    // screen before serving: a crashed pair compaction (fold promoted,
    // stale batch dirs not yet deleted) or a replay of a folded batch
    // (bounded stop mid-trigger, then restart) re-lands rows the fold
    // already carries, and the evidence roll-ups COUNT pair rows. The
    // per-bucket screen is crash-consistent under partial promotes: a
    // bucket only screens batches its own fold row merged. Cost when
    // no fold exists: one partition-pruned empty read of batch_id=-1.
    graft.ext.SketchIndex.screenFolded(
      spark.read.schema(PairsReadSchema).parquet(s"$root/pairs"),
      keyCols = Seq("bucket"))
      .select("doc_a", "doc_b", "modality", "batch_id")

  def readLabels(spark: SparkSession, path: String): DataFrame =
    readLabelsAt(spark, Versioned.resolve(spark, path))

  private[graft] def readLabelsAt(spark: SparkSession,
      root: String): DataFrame =
    spark.read.schema(LabelsSchema).parquet(s"$root/labels")
      .select("doc_id", "label")

  /** Absent-tolerant label read — the not-yet-built case a STREAMING
    * first batch hits ([[graft.streaming.GraphStream]] bootstraps the
    * graph through the same idempotent [[append]] path; a base
    * [[write]] is the batch-build convenience, not a precondition).
    * The existence probe comes first because a read of the missing
    * path, though [[Versioned.readOr]] maps it to empty, makes Spark's
    * sink-metadata check log a `FileNotFoundException` stack trace for
    * this expected case.
    */
  private def storedLabelsOrEmpty(spark: SparkSession,
      root: String): DataFrame = {
    val dir = s"$root/labels"
    val p = new org.apache.hadoop.fs.Path(dir)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), LabelsSchema)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      empty
    else Versioned.readOr(empty)(spark.read.schema(LabelsSchema).parquet(dir))
  }

  private def readLabelsOrEmpty(spark: SparkSession,
      root: String): DataFrame =
    storedLabelsOrEmpty(spark, root).select("doc_id", "label")

  /** One [[append]]'s cost/shape accounting — the structured signal a
    * deployment routes on instead of a doc-comment note: touchedMembers
    * vs graphMembers is the mega-component detector (a batch whose
    * touched components approach the graph is ingesting into a
    * boilerplate cluster — [[graft.ext.Curation]]'s boilerplate_report
    * finds the cluster to excise), and `routedFullRelabel` records
    * that the append took the full-relabel path because the bounded
    * path's own cost model said it would lose. `graphMembers` is -1
    * when the append never priced the graph (touched stayed under
    * [[FullRelabelRouteMinMembers]] — the common trigger-sized case,
    * which must not pay a label-table count per batch).
    */
  final case class AppendReport(batchPairRows: Long, touchedDocs: Long,
      touchedComponents: Long, touchedMembers: Long, graphMembers: Long,
      routedFullRelabel: Boolean)

  /** Touched-member floor below which [[append]] skips the
    * append-vs-rebuild pricing entirely: pricing needs a label-table
    * count (a scan), and a trigger-sized append must not pay one per
    * batch. [[BroadcastMemberMax]] on purpose — past the broadcast
    * bound the append is already mega-component-shaped (its joins
    * fell back to shuffles) and one count is noise next to the
    * relabel either way.
    */
  val FullRelabelRouteMinMembers: Long = BroadcastMemberMax

  /** Touched-members / graph-members ratio above which [[append]]
    * routes to the full relabel. Measured at the 1 M-member star probe
    * (SCALING.md "Mega-component star", r16 two-point sweep): at ratio
    * 0.25 the bounded path wins 2× (18.2 s vs 36.7 s routed), at 0.50
    * the routed path wins 13 % (19.9 s vs 22.8 s bounded) — the
    * bounded path's star-edge labeling plus its member anti-join
    * bookkeeping overtakes one blind full relabel as the members it
    * drags approach the graph. Linear crossover ≈ 0.47; 0.45 routes
    * the measured winning case with a small margin.
    */
  val FullRelabelRouteFraction: Double = 0.45

  /** Test seams over the routing knobs: specs force the route on
    * fixture-sized graphs (min 0, fraction 0) to pin routed ≡ rebuild,
    * and probes sweep the fraction to locate the real crossover.
    */
  @volatile private[graft] var routeMinMembers: Long =
    FullRelabelRouteMinMembers
  @volatile private[graft] var routeFraction: Double =
    FullRelabelRouteFraction

  /** Incremental ingest: union a new batch's pairs into the stored
    * pair table and relabel ONLY the components the batch touches.
    *
    * `batchPairs` is every pair of the grown corpus involving ≥1 new
    * doc (cross batch↔corpus + batch-internal), the shape the
    * incremental screens emit
    * ([[Multimodal.mediaNearDupPairsIncremental]],
    * [[Dedup.incrementalNearDups]]). Edges only ever MERGE components
    * on append, so the new labels are the fixed point of a graph
    * bounded by (touched components + batch): batch pairs plus one
    * star edge `(doc_id, stored_label)` per member of each touched
    * component — the star edges stand in for the component's whole
    * stored pair set (same connectivity; and the stored label IS a
    * member doc id, the component min, so min-label semantics carry
    * through to the merged min). Unaffected components are never read
    * past the one semi-join that proves they are unaffected, and only
    * the label buckets holding relabeled/new docs rewrite.
    *
    * COST ROUTING: "bounded by touched-component size" stops being a
    * bound when the batch lands in a power-law mega-component — the
    * r15 star probe measured the bounded path COSTLIER than a full
    * relabel once touched members ≈ graph members. So when touched
    * members exceed [[FullRelabelRouteFraction]] of the graph (checked
    * only past [[FullRelabelRouteMinMembers]] — pricing costs a
    * count), the append routes to [[repairLabels]]' full relabel:
    * label the whole grown pair set once and delta-write, identical
    * labels by construction (both compute the same fixed point),
    * cheaper by the measured crossover. The returned [[AppendReport]]
    * carries the route and the ratio inputs as the deployment's
    * excision signal.
    *
    * Replay-idempotent: the pair write rewrites exactly its own
    * batch_id partition, and a re-run's relabel reproduces the same
    * fixed point from the already-merged stored labels.
    */
  def append(spark: SparkSession, path: String, batchPairs: DataFrame,
      batchId: Long): AppendReport = {
    require(batchId > 0, "batch_id 0 is the base build")
    // resolve ONCE: pair write and label relabel land in the same
    // snapshot; the post-write guard fails loudly if a rebuild
    // committed concurrently (re-running the append recovers — both
    // the pair write and the relabel are replay-idempotent)
    val root = Versioned.resolve(spark, path)
    val report = appendAt(spark, root, batchPairs, batchId)
    Versioned.assertAppendLanded(spark, path, root, "corpus graph")
    report
  }

  private def appendAt(spark: SparkSession, root: String,
      batchPairs: DataFrame, batchId: Long): AppendReport = {
    // SPARK_GRAFT_TRACE: per-phase wall of the append (the graphAppend
    // slice of a GraphStream trigger) — same knob as the stream trace
    val trace = sys.env.contains("SPARK_GRAFT_TRACE")
    var tPrev = System.nanoTime()
    def mark(phase: String): Unit = if (trace) {
      val now = System.nanoTime()
      println(f"[cg-trace] $phase%-14s ${(now - tPrev) / 1e9}%6.2fs")
      tPrev = now
    }
    val bp = Scratch.track(batchPairs
      .select(col("doc_a"), col("doc_b"), col("modality")).persist())
    bp.withColumn("bucket", bucketOf(col("doc_a")))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch_id")
      .parquet(s"$root/pairs")
    // a session-cached pair plan (roll-ups persist the pair table)
    // must see the appended batch, not its cached file listing
    spark.catalog.refreshByPath(s"$root/pairs")
    // counted AFTER the write materialized bp's cache — a cache scan,
    // not an extra cold action on the stream's shared executor pool
    val nBatchPairs = bp.count()
    mark("pairWrite")

    val stored = readLabelsOrEmpty(spark, root)
    val touched = Scratch.track(bp.select(col("doc_a").as("doc_id"))
      .unionByName(bp.select(col("doc_b").as("doc_id"))).distinct()
      .persist())
    val nTouched = touched.count()
    // members of every touched component: label rows whose label is a
    // touched doc's label (two bounded semi-joins — the stored table
    // is scanned, never shuffled on itself while the touched frames
    // stay broadcastable; a mega-component degrades to shuffle joins
    // instead of OOMing, see gatedJoin)
    val touchedLabels = Scratch.track(
      gatedJoin(stored, touched, Seq("doc_id"), "left_semi", nTouched)
        .select(col("label")).distinct().persist())
    val nTouchedLabels = touchedLabels.count()
    val members = Scratch.track(
      gatedJoin(stored, touchedLabels, Seq("label"), "left_semi",
        nTouchedLabels).persist())
    val nMembers = members.count()
    mark("touchedScope")
    // append-vs-rebuild pricing (see Scaladoc): past the member floor,
    // one label-table count decides whether dragging the touched
    // members through star-edge labeling still beats labeling the
    // whole pair set once
    val graphMembers =
      if (nMembers >= routeMinMembers) stored.count() else -1L
    val routeFull = graphMembers > 0L &&
      nMembers.toDouble > routeFraction * graphMembers
    mark("pricing")
    if (routeFull) {
      // full relabel of the grown pair set, BLIND-written: when
      // touched ≈ graph, the bounded path's star-edge labeling input
      // is nearly the full pair set anyway, and what actually costs is
      // the delta machinery (graph-sized anti-joins + keep-row merges
      // of every affected bucket). A rebuild beats it precisely by
      // writing labels without reading them — so the route does the
      // same in place: label the whole pair set, stage, promote. The
      // round-16 star probe measures the crossover this routes at.
      writeLabelsFull(spark, root, Dedup.clusterLabels(
        readPairsAt(spark, root).select("doc_a", "doc_b")))
      mark("fullRelabel")
    } else {
      // bounded relabel input: batch pairs ∪ member star edges
      val edges = bp.select(col("doc_a"), col("doc_b"))
        .unionByName(members.select(col("doc_id").as("doc_a"),
          col("label").as("doc_b")))
      // the written delta is only rows that actually CHANGE (new docs
      // or moved labels) — an unchanged member must not force its
      // bucket to rewrite
      val delta = gatedJoin(Dedup.clusterLabels(edges), members,
        Seq("doc_id", "label"), "left_anti", nMembers)
      mark("relabel")
      writeLabelDelta(spark, root, delta)
      mark("deltaWrite")
      ()
    }
    AppendReport(nBatchPairs, nTouched, nTouchedLabels, nMembers,
      graphMembers, routeFull)
  }

  /** Replace the ENTIRE label table with `labels` (complete content,
    * no delta semantics): staged blind write, then promoted with
    * dynamic partition overwrite so no reader ever sees a half-deleted
    * table, then live buckets absent from the staged set are dropped.
    * This is the routed append's write path — unlike
    * [[writeLabelDelta]] it never reads the stored labels, which is
    * exactly what makes a full relabel cheaper than the bounded path
    * once the touched components approach the graph.
    */
  private def writeLabelsFull(spark: SparkSession, root: String,
      labels: DataFrame): Unit = {
    val path = root
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/labels.rewriting")
    fs.delete(tmp, true) // crashed previous rewrite
    labels.withColumn("bucket", bucketOf(col("doc_id")))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(tmp.toString)
    val staged = spark.read.schema(LabelsSchema).parquet(tmp.toString)
    staged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(s"$path/labels")
    val surviving = staged.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSet
    val liveDir = new org.apache.hadoop.fs.Path(s"$path/labels")
    if (fs.exists(liveDir)) fs.listStatus(liveDir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("bucket=")
          && !surviving.contains(name.stripPrefix("bucket=").toLong)) {
        fs.delete(st.getPath, true)
        ()
      }
    }
    fs.delete(tmp, true)
    spark.catalog.refreshByPath(s"$path/labels")
  }

  /** Rewrite exactly the label buckets whose content changes: each
    * affected bucket's new content is its unchanged stored rows plus
    * its `delta` rows, minus `dropDocs`. Staged to a scratch dir
    * first, then promoted with dynamic partition overwrite (the
    * [[Takedown.purgeIndex]] discipline — never read the live
    * partitions while overwriting them); fully-emptied affected
    * buckets are deleted outright. Shared by [[append]] (delta =
    * merge relabel) and [[purge]] (delta = post-split relabel,
    * dropDocs = purged docs + pairless singletons).
    */
  private def writeLabelDelta(spark: SparkSession, root: String,
      delta: DataFrame, dropDocs: Option[DataFrame] = None)
      : (Long, Long) = {
    val path = root // resolved snapshot root (never the artifact path)
    val d = Scratch.track(delta
      .withColumn("bucket", bucketOf(col("doc_id"))).persist())
    val dropped = dropDocs.map(df =>
      Scratch.track(df.select("doc_id").persist()))
    val affectedBuckets = dropped.fold(d.select(col("bucket")))(ids =>
        d.select(col("bucket")).unionByName(
          ids.select(bucketOf(col("doc_id")).as("bucket"))))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (affectedBuckets.isEmpty) return (0L, 0L)
    val storedB =
      // first streaming append bootstraps the label table
      storedLabelsOrEmpty(spark, path)
      .filter(col("bucket").isin(affectedBuckets: _*)) // partition pruning
      .select("doc_id", "label", "bucket")
    val keep0 = storedB.join(d.select("doc_id"), Seq("doc_id"),
      "left_anti")
    val keep = dropped.fold(keep0)(ids =>
      gatedJoin(keep0, ids, Seq("doc_id"), "left_anti", ids.count()))
    val out = keep.unionByName(
      d.select(col("doc_id"), col("label"), col("bucket")))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/labels.rewriting")
    fs.delete(tmp, true) // crashed previous rewrite
    out.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(tmp.toString)
    val staged = spark.read.schema(LabelsSchema).parquet(tmp.toString)
    staged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(s"$path/labels")
    val surviving = staged.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSet
    fs.delete(tmp, true)
    val emptied = affectedBuckets.filterNot(surviving.contains)
    emptied.foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/labels/bucket=$b"), true)
    }
    // cache coherence: a session that cached a label read (the served
    // cluster roll-up persists labels) must see the rewrite, and so
    // must this operation's own trailing audits
    spark.catalog.refreshByPath(s"$path/labels")
    ((affectedBuckets.size - emptied.size).toLong, emptied.size.toLong)
  }

  /** The pair table as [[graft.streaming.BatchIndex.maintain]] sees
    * it: `pairs` under (bucket, batch_id) in the resolved graph root,
    * folded screen-first (writers stopped). Each bucket's fold row
    * records `folded_through` = the highest batch id it merged, and
    * [[readPairsAt]] screens batch rows a fold already carries — so
    * BOTH residual hazards of a plain fold are exact: a crashed
    * compaction's leftover batch dirs, and a bounded run's interrupted
    * in-flight trigger whose replay re-lands a folded batch after
    * restart. Labels are untouched — membership is set-semantics,
    * compaction is row-identity-preserving. Every downstream read
    * survives the fold: relabel/rebuild and the audits read pairs
    * un-predicated or prefix-predicated (`batch_id <= committed`,
    * which `-1` passes), and the per-batch seed reads
    * ([[graft.streaming.GraphStream]]'s touched audit) only ever target
    * the batch just written, never a folded one. The report's rebucket
    * arm is a DIAGNOSTIC here: pair bucketing is fixed by
    * [[LabelBuckets]], so acting on byte drift means a [[rebuildGraph]]
    * with a resized constant (the rebuild re-buckets pairs and labels
    * together), not an in-place [[graft.streaming.BatchIndex.rebucket]].
    */
  val PairIndex: graft.streaming.BatchIndex.Index = {
    import graft.streaming.BatchIndex.{Buckets, Component, Fold, Index}
    Index(Seq(Component("pairs", Seq("bucket"),
        Fold.ScreenedDistinct(Seq("doc_a", "doc_b", "modality")),
        Buckets.Fixed(LabelBuckets))),
      resizable = true)
  }

  /** Outcome of one [[purge]] run: pair rows removed, label rows
    * removed (purged docs + post-split singletons), docs whose label
    * CHANGED (split-component relabels — the rows a row-filter-only
    * purge would serve stale), IO evidence (rewrite/delete OPERATIONS
    * over the pair-batch + label-bucket partition space; the two
    * endpoint passes count separately), and the two convergence
    * audits re-read after the purge (both 0 = complete;
    * staleLabels = -1 when the audit was deferred).
    */
  final case class GraphPurge(pairRowsRemoved: Long,
      labelRowsRemoved: Long, labelsChanged: Long,
      partsTotal: Long, partsRewritten: Long, partsDeleted: Long,
      leftover: Long, staleLabels: Long)

  /** Takedown against the graph — the artifact a row filter is
    * structurally blind on, the same way it was blind on HLL
    * aggregates: dropping a purged doc's pair rows and label row is
    * NOT enough, because removing a bridge node splits its component
    * and every surviving member's label may change (the component min
    * may itself be the purged doc). The purge therefore:
    *
    *   1. discovers touched components from the purged docs' stored
    *      labels (broadcast semi-joins — bounded);
    *   2. purges pair rows touching a purged doc — one
    *      [[Takedown.purgeIndex]] pass per id column
    *      (batch_id-partition-pruned staged rewrites, rerunnable);
    *   3. relabels the touched components from their SURVIVING pairs
    *      only (one member-keyed semi-join — bounded by
    *      touched-component size); members left pairless drop out of
    *      the label table (membership = docs in ≥1 pair);
    *   4. rewrites only the affected label buckets.
    *
    * Rerunnable to convergence; [[staleLabelCount]] is the audit that
    * a leftover row count is structurally blind to. The audit is a
    * FULL label recompute (independence from the bookkeeping it
    * checks), so at scale it runs at audit cadence, not per purge —
    * `audit = false` skips it (staleLabels reported as -1) and the
    * deployment runs [[staleLabelCount]] on its own schedule.
    */
  def purge(spark: SparkSession, path: String,
      ids: DataFrame, audit: Boolean = true): GraphPurge =
    purgeAt(spark, Versioned.resolve(spark, path), ids, audit)

  /** [[purge]] against one RESOLVED snapshot root. Takedown must run
    * this over EVERY retained root ([[graphRetainedRoots]]) — retained
    * snapshots are real copies of the pair/label data, and purging
    * only the serving one would leave the previous snapshot serving
    * the purged docs to any straddling reader (the
    * [[Takedown.DedupGraph]] arm does exactly this enumeration).
    */
  private[graft] def purgeAt(spark: SparkSession, root: String,
      ids: DataFrame, audit: Boolean = true): GraphPurge = {
    val path = root // resolved snapshot root (never the artifact path)
    val idSet = Scratch.track(
      ids.toDF("doc_id").select("doc_id").distinct().persist())
    val nIds = idSet.count()

    // touched components, discovered BEFORE any rewrite; absent-
    // tolerant label read so a takedown against a graph in the
    // bootstrap crash window (pair write landed, first label write
    // never ran) still purges the pair rows and converges instead of
    // aborting on the missing table
    val stored = readLabelsOrEmpty(spark, path)
    val touchedLabels = Scratch.track(
      gatedJoin(stored, idSet, Seq("doc_id"), "left_semi", nIds)
        .select(col("label")).distinct().persist())
    val nTouchedLabels = touchedLabels.count()
    val members = Scratch.track(
      gatedJoin(stored, touchedLabels, Seq("label"), "left_semi",
        nTouchedLabels)
        .select("doc_id", "label").persist())
    // materialize: the label table rewrites below; the count also
    // gates the member joins (mega-component shuffle fallback)
    val nMembers = members.count()

    // pair purge: one pruned pass per endpoint column (bucket+batch
    // partitions — a legal-sized list rewrites only the partitions
    // actually holding its rows)
    val sA = Takedown.purgeIndex(spark, s"$path/pairs", "doc_a",
      idSet.toDF("doc_a"), PairPartCols)
    val sB = Takedown.purgeIndex(spark, s"$path/pairs", "doc_b",
      idSet.toDF("doc_b"), PairPartCols)
    val pairRowsRemoved = sA.rowsRemoved + sB.rowsRemoved

    // bounded relabel of touched components from surviving pairs
    // (both endpoints of a component's pair are members — a pair
    // never crosses components)
    val touchedPairs = gatedJoin(readPairsAt(spark, path),
        members.select(col("doc_id").as("doc_a")),
        Seq("doc_a"), "left_semi", nMembers)
      .select(col("doc_a"), col("doc_b"))
    val relabeled = Scratch.track(
      Dedup.clusterLabels(touchedPairs).persist())
    // docs leaving the label table: purged docs + members with no
    // surviving pair (post-split singletons)
    val drops = members.select("doc_id")
      .join(relabeled.select("doc_id"), Seq("doc_id"), "left_anti")
    // only rows whose label MOVED rewrite their bucket (every
    // relabeled doc is a member, so the anti-join is bounded)
    val delta = Scratch.track(
      gatedJoin(relabeled, members, Seq("doc_id", "label"), "left_anti",
        nMembers)
      .persist())
    val changed = delta.count()
    val removedLabelRows = drops.count()
    val (bucketsRewritten, bucketsDeleted) =
      writeLabelDelta(spark, path, delta, dropDocs = Some(drops))

    // convergence audits, re-read from the purged artifact. Each
    // offending pair ROW counts once — a row with BOTH endpoints
    // purged hits the doc_a pass and is excluded from the doc_b pass —
    // so the reported magnitude is row-accurate, not a per-endpoint
    // double count (the zero/nonzero convergence signal is the same
    // either way)
    val post = readPairsAt(spark, path)
    val leftover =
      gatedJoin(post, idSet.toDF("doc_a"), Seq("doc_a"),
        "left_semi", nIds).count() +
      gatedJoin(
        gatedJoin(post, idSet.toDF("doc_b"), Seq("doc_b"),
          "left_semi", nIds),
        idSet.toDF("doc_a"), Seq("doc_a"), "left_anti", nIds).count() +
      gatedJoin(readLabelsOrEmpty(spark, path), idSet, Seq("doc_id"),
        "left_semi", nIds).count()
    GraphPurge(pairRowsRemoved, removedLabelRows, changed,
      // parts accounting: rewritten/deleted count REWRITE OPERATIONS
      // summed across the two endpoint passes plus the label-bucket
      // rewrite (a pair partition hit by both passes counts twice —
      // it was rewritten twice); the total is the pair-partition
      // space at discovery time plus the label-bucket space
      partsTotal = sA.partsTotal + LabelBuckets,
      partsRewritten = sA.partsRewritten + sB.partsRewritten
        + bucketsRewritten,
      partsDeleted = sA.partsDeleted + sB.partsDeleted + bucketsDeleted,
      leftover,
      if (audit) staleLabelCountAt(spark, path) else -1L)
  }

  /** Audit-triggered recovery: recompute labels from the stored pair
    * table and rewrite only the buckets whose content differs — the
    * repair for states the incremental bookkeeping cannot reach (an
    * external row-filter edit that deleted a purged doc's label row
    * before [[purge]] could discover its component; a torn
    * multi-bucket promote). [[purge]]'s own crash windows converge on
    * re-run without this — the purged docs' label rows drop in the
    * LAST step, so discovery stays intact — but an audit that can
    * detect a state must come with the operation that exits it.
    * Labeling cost is a rebuild's (full relabel, run at audit cadence);
    * write IO stays delta-proportional. Returns rows corrected.
    */
  def repairLabels(spark: SparkSession, path: String): Long =
    repairLabelsAt(spark, Versioned.resolve(spark, path))

  private[graft] def repairLabelsAt(spark: SparkSession,
      root: String): Long = {
    val path = root // resolved snapshot root
    val expect = Scratch.track(Dedup.clusterLabels(
      readPairsAt(spark, path).select("doc_a", "doc_b")).persist())
    // absent-tolerant: repairing the bootstrap crash window (pairs
    // landed, labels never written) means writing the whole label
    // table, which is exactly a delta against an empty one
    val got = readLabelsOrEmpty(spark, path)
    // wrong-or-missing rows rewrite; ghost docs (in no pair) drop
    val delta = Scratch.track(expect
      .join(got, Seq("doc_id", "label"), "left_anti").persist())
    val drops = Scratch.track(got.select("doc_id")
      .join(expect.select("doc_id"), Seq("doc_id"), "left_anti")
      .persist())
    val corrected = delta.count() + drops.count()
    if (corrected > 0)
      writeLabelDelta(spark, path, delta, dropDocs = Some(drops))
    corrected
  }

  /** The stale-label audit — the graph twin of
    * [[Takedown.hllStaleDays]]: recompute component labels from the
    * STORED pair table and count label rows that disagree (wrong
    * label, missing member, or a ghost row for a doc in no pair). A
    * leftover row count is provably blind to the split case — after a
    * bridge purge every remaining row passes the id filter, yet
    * members of the split component can still serve the dead merged
    * label. 0 = labels consistent with pairs. (Full recompute by
    * design: an audit's job is independence from the incremental
    * bookkeeping it checks; run it at rebuild cadence, not per query.)
    */
  def staleLabelCount(spark: SparkSession, path: String): Long =
    staleLabelCountAt(spark, Versioned.resolve(spark, path))

  private[graft] def staleLabelCountAt(spark: SparkSession,
      root: String): Long = {
    val expect = Dedup.clusterLabels(
      readPairsAt(spark, root).select("doc_a", "doc_b"))
    // absent-tolerant: an absent label table is maximally stale (every
    // expected row missing), not an audit crash
    val got = readLabelsOrEmpty(spark, root)
    got.join(expect, Seq("doc_id", "label"), "left_anti").count() +
      expect.join(got, Seq("doc_id", "label"), "left_anti").count()
  }

  /** Outcome of one [[staleLabelCountTouched]] run: disagreement rows
    * found within the audited scope, the scope's size (docs / pairs),
    * closure rounds taken, and whether the audit fell back to the
    * full-graph recompute (adversarially long stale chains only —
    * scopeDocs/scopePairs report -1 there).
    */
  final case class TouchedAudit(stale: Long, scopeDocs: Long,
      scopePairs: Long, rounds: Int, fellBackToFull: Boolean)

  /** The stale-label audit scoped to the components `ids` touch — the
    * per-ingest monitor [[staleLabelCount]] is too expensive to be: the
    * full audit relabels the ENTIRE surviving pair set (≈ one rebuild
    * per audit — 174 s at 32 M docs, SCALING.md), which is
    * unaffordable after every append/purge at scale. This variant
    * relabels only the components incident to `ids`, so its cost is
    * bounded by touched-component size + batch size — the same
    * envelope as the append it monitors — while the full audit runs on
    * a cadence for independence from ALL incremental bookkeeping.
    *
    * Scope closure: starting from `ids`, alternate (a) the stored-label
    * jump (docs sharing a stored label with any scope doc — one step
    * per component when labels are healthy, and the step that finds
    * GHOST rows pointing into the scope's labels) and (b) the pair hop
    * (endpoints of pairs incident to scope — the step that finds docs
    * a stale label table has disconnected from their true component)
    * until the doc set stops growing. At the fixed point the scope
    * holds every doc of every component that `ids` touch under EITHER
    * the stored labeling or the true pair connectivity, so the audit
    * verdict on those components equals the full audit's restriction
    * to them (spec-pinned). Healthy graphs converge in 2 rounds (the
    * label jump is component-complete); a disagreement region adds a
    * round per label-connectivity mismatch layer. A scope still
    * growing after [[TouchedAuditMaxRounds]] rounds (only reachable by
    * adversarially long chains of pairwise-inconsistent labels) falls
    * back to the full audit — the honest degenerate: at that point
    * touched ≈ graph and the full recompute IS the bounded option.
    *
    * Caller contract: after an [[append]], pass the batch's pair
    * endpoints; after a [[purge]], pass the purged docs' former
    * partners or the purge's touched members (the purged ids
    * themselves no longer appear in any table, so they seed nothing).
    */
  def staleLabelCountTouched(spark: SparkSession, path: String,
      ids: DataFrame): TouchedAudit =
    staleLabelCountTouchedAt(spark, Versioned.resolve(spark, path), ids)

  /** Closure-round cap for [[staleLabelCountTouched]] before falling
    * back to the full audit. Healthy graphs need 2; each extra round
    * is only consumed by a CHAIN of stale-label layers, and 8 such
    * layers means the bookkeeping is broken badly enough that a full
    * recompute is the right spend.
    */
  val TouchedAuditMaxRounds = 8

  private[graft] def staleLabelCountTouchedAt(spark: SparkSession,
      root: String, ids: DataFrame): TouchedAudit =
    // scopedAll: each closure round tracks a scope/scopeLabels/inc
    // frame, and THIS is the per-ingest monitor designed to run from a
    // foreachBatch — without its own scope, a caller outside
    // Scratch.scopedAll would accrete unreleased MEMORY_AND_DISK cache
    // entries per invocation (exactly the unbounded-cache failure the
    // scopedAll doc warns about). Scopes nest, so a caller that already
    // runs one (GraphStream's trigger body, ScaleProbe) is unaffected —
    // the frames just release at this inner boundary instead.
    Scratch.scopedAll {
    val pairs = readPairsAt(spark, root).select("doc_a", "doc_b")
    val labels = readLabelsOrEmpty(spark, root)
    var scope = Scratch.track(
      ids.toDF("doc_id").select("doc_id").distinct().persist())
    var n = scope.count()
    var rounds = 0
    var grown = true
    while (grown && rounds < TouchedAuditMaxRounds) {
      rounds += 1
      // (a) label jump: every doc sharing a stored label with scope
      val scopeLabels = Scratch.track(
        gatedJoin(labels, scope, Seq("doc_id"), "left_semi", n)
          .select("label").distinct().persist())
      val nL = scopeLabels.count()
      val byLabel = gatedJoin(labels, scopeLabels, Seq("label"),
        "left_semi", nL).select("doc_id")
      // (b) pair hop: endpoints of pairs incident to scope (either side)
      val inc = Scratch.track(
        gatedJoin(pairs, scope.select(col("doc_id").as("doc_a")),
          Seq("doc_a"), "left_semi", n)
        .unionByName(
          gatedJoin(pairs, scope.select(col("doc_id").as("doc_b")),
            Seq("doc_b"), "left_semi", n))
        .persist())
      val endpoints = inc.select(col("doc_a").as("doc_id"))
        .unionByName(inc.select(col("doc_b").as("doc_id")))
      val next = Scratch.track(scope.unionByName(byLabel)
        .unionByName(endpoints).distinct().persist())
      val n2 = next.count()
      grown = n2 > n
      scope = next
      n = n2
    }
    if (grown)
      TouchedAudit(staleLabelCountAt(spark, root), -1L, -1L,
        rounds, fellBackToFull = true)
    else {
      // at the fixed point every incident pair has BOTH endpoints in
      // scope, so the doc_a-side semi-join captures all touched pairs
      val touchedPairs = Scratch.track(
        gatedJoin(pairs, scope.select(col("doc_id").as("doc_a")),
          Seq("doc_a"), "left_semi", n).persist())
      val nP = touchedPairs.count()
      val expect = Dedup.clusterLabels(touchedPairs)
      val got = gatedJoin(labels, scope, Seq("doc_id"), "left_semi", n)
      val stale =
        got.join(expect, Seq("doc_id", "label"), "left_anti").count() +
          expect.join(got, Seq("doc_id", "label"), "left_anti").count()
      TouchedAudit(stale, n, nP, rounds, fellBackToFull = false)
    }
  }

  /** Rebuild the graph with atomic swap — the [[Versioned]] lifecycle
    * applied to the dedup graph (trigger: a BANDING-PARAMETER upgrade —
    * MinHash threshold, band count, fingerprint Hamming radius —
    * invalidates every stored pair corpus-wide, the same class of
    * event as a tokenizer upgrade for the search artifact). The
    * in-place [[write]] has a serving window where new pairs coexist
    * with old labels; the staged rebuild lands pairs AND labels into
    * `v-<n>`, validates the two components against each other
    * ([[staleLabelCount]] ≡ 0 on the staged snapshot), and promotes
    * via the atomic `_COMMITTED` marker, so a cluster roll-up
    * straddling the swap reads one snapshot for both components.
    *
    * `pairs` is the full re-screened pair set under the new
    * parameters (pairs cannot be re-derived from themselves after a
    * banding change). Pair membership legitimately CHANGES across a
    * banding upgrade, so there is no doc-coverage validation; appends
    * racing the rebuild are caught by [[Versioned.rebuild]]'s
    * baseline checks.
    */
  def rebuildGraph(spark: SparkSession, pairs: DataFrame,
      path: String): Long =
    rebuildGraphHooked(spark, pairs, path)

  /** [[rebuildGraph]] with the test seam before the commit
    * ([[Versioned.rebuild]]).
    */
  private[graft] def rebuildGraphHooked(spark: SparkSession,
      pairs: DataFrame, path: String,
      beforeCommit: () => Unit = () => ()): Long =
    Versioned.rebuild(spark, path, GraphArtifact,
        beforeCommit = beforeCommit) { (_, stage) =>
      writeSnapshot(pairs, stage)
      require(staleLabelCountAt(spark, stage) == 0L,
        "staged graph snapshot's labels disagree with its pairs — " +
          "incomplete stage write; clear and re-run the rebuild")
    }

  /** The graph to [[Versioned]]: a root serves its pair rows. No key
    * set — a banding upgrade is defined to change pair membership.
    */
  private val GraphArtifact = Versioned.Artifact("corpus graph",
    Seq("pairs", "labels"), rowsOf = readPairsAt(_, _).count())

  /** Every root still holding pair/label data — the takedown
    * enumeration for the graph artifact (retained snapshots are real
    * copies; [[Takedown.DedupGraph]] purges each).
    */
  def graphRetainedRoots(spark: SparkSession, path: String): Seq[String] =
    Versioned.retainedRoots(spark, path, GraphArtifact.components)
}
