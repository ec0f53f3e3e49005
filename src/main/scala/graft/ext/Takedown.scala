package graft.ext

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Takedown propagation — remove a document set from the corpus AND
  * from every persisted serving artifact derived from it (IVF vector
  * index, postings index, MinHash band index, doc-length sidecar),
  * without rebuilding any of them.
  *
  * Why this is an operator and not a one-off script: a training-data
  * pipeline that serves ANN / BM25 / dedup screens from persisted
  * indexes has COPIES of (parts of) every document in those indexes. A
  * legal takedown (opt-out, DMCA, right-to-be-forgotten) is only
  * complete when the derived artifacts stop returning the document —
  * filtering the corpus alone leaves the index serving ghosts.
  * (Reference scope: the reference engine persists no derived indexes,
  * so this surface is north-star; its closest relative is the
  * quarantine/replay path, reference `spark/jobs/ingest_transform.py`.)
  *
  * Scale contract (the reason this isn't "read index, anti-join,
  * rewrite"): indexes here are hive-partitioned (cell / bucket /
  * batch_id — see [[graft.streaming.BatchIndex]],
  * [[Similarity.writeIvfIndex]], [[Search.writePostingsIndex]]), and a
  * takedown list is legal-process-sized (thousands), touching a small
  * fraction of partitions. [[purgeIndex]] therefore:
  *
  *   1. finds the affected partitions with one column-pruned scan
  *      (id column + partition columns only, broadcast semi-join
  *      against the takedown set);
  *   2. rewrites ONLY those partitions (partition-pruned read →
  *      anti-join → staged write promoted by dynamic partition
  *      overwrite, the [[graft.streaming.BatchIndex.compact]]
  *      discipline — the live path never stops existing);
  *   3. deletes the affected partitions whose rows were ALL removed
  *      (dynamic overwrite cannot touch a partition it writes no rows
  *      for).
  *
  * Crash windows: the staged write promotes before the fully-emptied
  * dirs delete, so a crash can leave a purged-id partition visible —
  * the purge is RERUNNABLE to convergence (a re-run re-detects the
  * leftover rows; a completed purge re-runs as a no-op), and
  * [[leftoverCount]] is the audit that proves convergence. Run with
  * writers stopped, like compaction.
  *
  * Aggregate-only artifacts, for completeness of the takedown story:
  * the HLL registers ([[graft.streaming.SketchStream]]) and
  * Misra–Gries counters ([[graft.streaming.HeavyHitterStream]]) hold
  * only hashed identifiers / bare symbols, never document content, so
  * they are not takedown TARGETS; where a deployment's policy counts
  * aggregates anyway, they are not row-purgeable (a sketch cannot
  * subtract one contributor) and must be rebuilt from the purged
  * corpus. The IVF `centroids` table is a k-means aggregate of the
  * same kind — a purged vector's trace in a centroid persists until
  * the next rebuild ([[Similarity.ivfIndexDrift]]'s rebuild cadence),
  * standard IVF practice; the vector itself leaves `data/` here and
  * can never be SERVED again.
  */
object Takedown {

  /** Outcome of one [[purgeIndex]] run: rows physically removed, the
    * index's total partition count, and how many partitions were
    * rewritten in place vs deleted outright. `partsRewritten +
    * partsDeleted` over `partsTotal` is the IO-pruning ratio the
    * 100 TB story rests on.
    */
  final case class PurgeStats(rowsRemoved: Long, partsTotal: Long,
      partsRewritten: Long, partsDeleted: Long)

  /** The corpus-side purge: `df` minus rows whose `idCol` is in `ids`.
    * Broadcast anti-join — the corpus never shuffles; takedown lists
    * are broadcast-sized by nature.
    */
  def purged(df: DataFrame, ids: DataFrame, idCol: String): DataFrame =
    df.join(broadcast(ids.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Docs of the takedown set still reachable through `df` — the
    * convergence audit (0 = takedown complete on this artifact).
    */
  def leftoverCount(df: DataFrame, ids: DataFrame, idCol: String): Long =
    df.join(broadcast(ids.select(col(idCol)).distinct()),
      Seq(idCol), "left_semi").count()

  /** Purge a hive-partitioned index at `path` of every row whose
    * `idCol` ∈ `ids`, rewriting only the partitions that contain one.
    * `partCols` is the index's partition-column list in directory
    * order (e.g. `Seq("cell", "batch_id")` for the IVF index,
    * `Seq("bucket", "batch_id")` for postings, `Seq("batch_id")` for
    * the band index). Numeric partition values only (every graft index
    * qualifies) — hive-escaping of string partition dirs is out of
    * scope.
    */
  def purgeIndex(spark: SparkSession, path: String, idCol: String,
      ids: DataFrame, partCols: Seq[String]): PurgeStats = {
    val idSet = broadcast(ids.select(col(idCol)).distinct())
    val index =
      // mergeSchema: same reason as BatchIndex's full rewrites — a
      // partition rewrite must carry columns only SOME files have
      // (a compaction's folded_through screen lives only in the -1
      // fold files; single-file inference would silently drop it and
      // un-screen superseded duplicates)
      Versioned.readOr(Option.empty[DataFrame])(Some(
          spark.read.option("mergeSchema", "true").parquet(path)))
        .getOrElse(return PurgeStats(0L, 0L, 0L, 0L))
    val partKey = partCols.map(col)
    // ONE column-pruned pass discovers the affected partitions AND the
    // total partition count (the stats field): left-join the broadcast
    // takedown set and count hits per partition key — the scan reads
    // only the id column plus directory metadata
    val partRows: Seq[Row] = index
      .join(idSet.withColumn("__takedown", lit(1)), Seq(idCol), "left")
      .groupBy(partKey: _*).agg(count(col("__takedown")).as("__hits"))
      .collect().toIndexedSeq
    val partsTotal = partRows.size.toLong
    val affected: Seq[Row] = partRows
      .filter(_.getAs[Long]("__hits") > 0L)
      .map(r => Row.fromSeq(partCols.indices.map(r.get)))
    if (affected.isEmpty) return PurgeStats(0L, partsTotal, 0L, 0L)

    // per-column isin prunes the scan to a cartesian superset of the
    // affected partitions (partition filters, no data read); the
    // broadcast key-join restores exactness without an O(parts)
    // expression tree
    val prune = partCols.zipWithIndex.map { case (c, i) =>
      col(c).isin(affected.map(_.get(i)).distinct: _*)
    }.reduce(_ && _)
    import scala.jdk.CollectionConverters._
    val keySchema = index.select(partKey: _*).schema
    val keysDf = broadcast(
      spark.createDataFrame(affected.asJava, keySchema))
    val slice = index.filter(prune).join(keysDf, partCols)
      .select(index.columns.map(col).toIndexedSeq: _*)
    val removed = slice.join(idSet, Seq(idCol), "left_semi").count()
    val survivors = slice.join(idSet, Seq(idCol), "left_anti")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".purging")
    // stage survivors, promote into the live path (dynamic overwrite
    // replaces exactly the partitions present in the staged data), then
    // read the staged dir's partition listing to learn which affected
    // partitions still exist
    survivors.repartition(partKey: _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(tmp.toString)
    val staged =
      try Some(spark.read.parquet(tmp.toString))
      catch {
        case e: AnalysisException
            if e.getCondition != null
              && e.getCondition.contains("UNABLE_TO_INFER_SCHEMA") =>
          None // every affected partition emptied: nothing staged
      }
    staged.foreach {
      _.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCols: _*).parquet(path)
    }
    val survivingKeys: Set[Seq[String]] = staged match {
      case None => Set.empty
      case Some(df) => df.select(partKey: _*).distinct().collect()
        .map(r => partCols.indices.map(i => s"${r.get(i)}")).toSet
    }
    fs.delete(tmp, true)
    val emptied = affected
      .map(r => partCols.indices.map(i => s"${r.get(i)}"))
      .filterNot(survivingKeys.contains)
    val root = new org.apache.hadoop.fs.Path(path)
    emptied.foreach { vals =>
      val dir = partCols.zip(vals).map { case (c, v) => s"$c=$v" }
        .mkString("/")
      val leaf = new org.apache.hadoop.fs.Path(path, dir)
      fs.delete(leaf, true)
      // prune now-empty ancestor partition dirs (deleting the last
      // batch_id= leaf must not leave a stale empty cell= shell)
      var p = leaf.getParent
      while (p != null && p.toString != root.toString
          && fs.exists(p) && fs.listStatus(p).isEmpty) {
        fs.delete(p, false)
        p = p.getParent
      }
    }
    // cache coherence: a query that CACHED this artifact (cluster
    // roll-ups persist the pair table; Spark substitutes a cached
    // plan into any later identical read) must not keep serving the
    // pre-purge rows — nor feed them to a downstream relabel/audit in
    // this same takedown (the CorpusGraph purge reads pairs right
    // after this rewrite)
    spark.catalog.refreshByPath(path)
    PurgeStats(removed, partsTotal,
      (affected.size - emptied.size).toLong, emptied.size.toLong)
  }

  /** Purge an UNPARTITIONED sidecar table (e.g. the MinHash band
    * index, [[Dedup.writeBandIndex]]; the BM25 doc-length table moved
    * to the batch_id-partitioned layout in round 13 — purge it with
    * [[purgeIndex]] so the partition layout survives):
    * snapshot-to-temp then two
    * directory renames — the [[graft.ops.Incidents.compactLog]]
    * discipline, atomic on local FS / HDFS, so a crash leaves either
    * the old table, the new table, or the old table renamed aside
    * (recoverable), never a half-deleted live path. Sidecars are
    * narrow summary tables; a full rewrite is their partition-pruned
    * equivalent. Returns rows removed. Total even when the takedown
    * covers EVERY row: the staged dir is read back with the declared
    * schema, so a data-less snapshot promotes as a valid empty table.
    */
  def purgeParquet(spark: SparkSession, path: String, idCol: String,
      ids: DataFrame): Long = {
    val live = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".pre-purge")
    val tmp = new org.apache.hadoop.fs.Path(path + ".purging")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      live.toUri, spark.sparkContext.hadoopConfiguration)
    // crash recovery FIRST, so a re-run always converges: a death
    // between the two promote renames leaves only the aside copy
    // (restore it); a death after the promote leaves a stale aside
    // snapshot that still holds every taken-down row (remove it —
    // right-to-be-forgotten is not complete while it exists); a stale
    // stage dir is always dead weight
    if (!fs.exists(live) && fs.exists(old))
      require(fs.rename(old, live), s"could not restore $old")
    else fs.delete(old, true)
    fs.delete(tmp, true)
    val idSet = broadcast(ids.select(col(idCol)).distinct())
    val t =
      try spark.read.parquet(path)
      catch {
        // a previous run purged every row: the live dir exists but has
        // no schema-bearing files — nothing left to purge (a MISSING
        // path still throws: that is a caller error, not convergence)
        case e: AnalysisException
            if e.getCondition != null
              && e.getCondition.contains("UNABLE_TO_INFER_SCHEMA") =>
          return 0L
      }
    val removed = t.join(idSet, Seq(idCol), "left_semi").count()
    if (removed == 0L) return 0L
    t.join(idSet, Seq(idCol), "left_anti")
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // schema declared: an all-rows-purged snapshot has no part files
    // to infer from, but is still a valid (empty) table to promote
    spark.read.schema(t.schema).parquet(tmp.toString).count()
    require(fs.rename(live, old), s"could not stage $live aside")
    require(fs.rename(tmp, live), s"could not promote $tmp")
    fs.delete(old, true)
    // cached plans over the old files must not outlive the rewrite
    // (see purgeIndex)
    spark.catalog.refreshByPath(path)
    removed
  }

  /** A deployment artifact [[propagate]] purges: a hive-partitioned
    * index or a flat sidecar table. `idCol` names the document-id
    * column AS THAT ARTIFACT STORES IT (`vec_id` in the IVF index,
    * `doc_id` elsewhere).
    */
  sealed trait Artifact { def name: String }
  final case class PartitionedIndex(name: String, path: String,
      idCol: String, partCols: Seq[String]) extends Artifact
  final case class FlatTable(name: String, path: String,
      idCol: String) extends Artifact

  /** The corpus dedup graph ([[CorpusGraph]] pairs + labels) — the
    * artifact a row filter cannot purge correctly: removing a bridge
    * doc splits its component and surviving members must RELABEL, so
    * its purge is [[CorpusGraph.purge]]'s bounded relabel, and its
    * completeness audit is leftover rows AND the stale-label check
    * (both folded into the reported `leftover`; 0 = complete).
    * `audit = false` defers the full-recompute stale check to its own
    * cadence ([[CorpusGraph.staleLabelCount]]) — at large graphs the
    * per-purge audit is rebuild-shaped, exactly what the bounded
    * relabel avoids paying per call.
    */
  final case class DedupGraph(name: String, path: String,
      audit: Boolean = true) extends Artifact

  /** Per-artifact outcome of a [[propagate]] run; `leftover` is the
    * convergence audit re-read AFTER the purge (0 = complete).
    */
  final case class ArtifactPurge(artifact: String, rowsRemoved: Long,
      partsTotal: Long, partsRewritten: Long, partsDeleted: Long,
      leftover: Long)

  /** One-call takedown across a deployment's whole artifact set: purge
    * every artifact and re-audit each one. `ids` is a ONE-COLUMN frame
    * (any column name — it is re-labeled per artifact's `idCol`).
    * Artifacts are processed independently; a completed propagate has
    * every `leftover == 0`, and a crashed one re-runs to convergence
    * because each underlying purge does.
    */
  def propagate(spark: SparkSession, ids: DataFrame,
      artifacts: Seq[Artifact]): Seq[ArtifactPurge] = {
    require(ids.columns.length == 1,
      "ids must be a one-column takedown frame")
    // fail FAST on a missing artifact path, before purging anything: a
    // typo'd path reported as "leftover 0" would read as a completed
    // takedown while the real artifact still serves every document
    artifacts.foreach {
      case g: DedupGraph =>
        // versioned artifact: present iff ANY retained root holds data
        // (flat base or a committed v-<n> snapshot)
        require(CorpusGraph.graphRetainedRoots(spark, g.path).nonEmpty,
          s"takedown artifact '${g.name}' not found at ${g.path}")
      case a =>
        val p = new org.apache.hadoop.fs.Path(a match {
          case PartitionedIndex(_, path, _, _) => path
          case FlatTable(_, path, _) => path
          case g: DedupGraph => s"${g.path}/pairs" // unreachable
        })
        val fs = org.apache.hadoop.fs.FileSystem.get(
          p.toUri, spark.sparkContext.hadoopConfiguration)
        // the aside copy counts: a crash between purgeParquet's renames
        // leaves only <path>.pre-purge, which its re-run restores
        require(fs.exists(p)
            || fs.exists(new org.apache.hadoop.fs.Path(p + ".pre-purge")),
          s"takedown artifact '${a.name}' not found at $p")
    }
    // the purges below each fire several actions; evaluate the caller's
    // ids lineage once, not once per action per artifact
    val cached = ids.persist()
    try {
      def idsAs(c: String) = cached.toDF(c)
      def leftoverOf(path: String, idCol: String): Long =
        try leftoverCount(spark.read.parquet(path), idsAs(idCol), idCol)
        catch {
          case e: AnalysisException
              if e.getCondition != null
                && e.getCondition.contains("UNABLE_TO_INFER_SCHEMA") =>
            0L // fully-purged artifact with no data files left
        }
      artifacts.map {
        case PartitionedIndex(n, p, idc, pcs) =>
          val s = purgeIndex(spark, p, idc, idsAs(idc), pcs)
          ArtifactPurge(n, s.rowsRemoved, s.partsTotal, s.partsRewritten,
            s.partsDeleted, leftoverOf(p, idc))
        case FlatTable(n, p, idc) =>
          val removed = purgeParquet(spark, p, idc, idsAs(idc))
          ArtifactPurge(n, removed, 1L, if (removed > 0) 1L else 0L, 0L,
            leftoverOf(p, idc))
        case DedupGraph(n, p, audit) =>
          // retained snapshots are REAL copies of pairs+labels (the
          // Versioned retention contract) — purge every root, not just
          // the serving one, or the previous snapshot keeps serving
          // the purged docs to straddling readers
          val outs = CorpusGraph.graphRetainedRoots(spark, p)
            .map(r => CorpusGraph.purgeAt(spark, r, idsAs("doc_id"),
              audit))
          ArtifactPurge(n,
            outs.map(g => g.pairRowsRemoved + g.labelRowsRemoved).sum,
            outs.map(_.partsTotal).sum,
            outs.map(_.partsRewritten).sum,
            outs.map(_.partsDeleted).sum,
            outs.map(g =>
              g.leftover + math.max(g.staleLabels, 0L)).sum)
      }
    } finally { cached.unpersist(); () }
  }

  /** The fixture takedown predicate for the verified audit: a
    * deterministic pseudo-arbitrary ~2.4% slice (doc_id ≡ 7 mod 41),
    * expressible identically in both engines. A real deployment passes
    * its legal list; the audit shape is unchanged.
    */
  def isTakedown(docId: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(docId, lit(41L)) === lit(7L)

  /** The takedown set as a one-column frame (for [[purged]]/
    * [[purgeIndex]] composition and the specs).
    */
  def takedownSet(documents: DataFrame): DataFrame =
    documents.filter(isTakedown(col("doc_id"))).select("doc_id")

  /** Verified audit row per source: corpus size, rows the takedown
    * removes, the removed-id checksum (pins exact removal MEMBERSHIP
    * cross-engine, not just counts), and the post-purge count.
    *
    * ONE corpus scan, all conditional aggregates (map-side
    * combinable); `n_after` is definitionally `n_docs - n_removed`,
    * emitted so the driver's oracle pins the complement arithmetic
    * too. That `n_after` equals what [[purged]] actually produces is
    * pinned in TakedownSpec (running the anti-join here would scan the
    * corpus twice for an audit — the quality_calibrated lesson).
    */
  def takedownAudit(documents: DataFrame): DataFrame = {
    val t = isTakedown(col("doc_id"))
    documents.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        count(when(t, 1)).as("n_removed"),
        coalesce(sum(when(t, col("doc_id"))), lit(0L))
          .as("removed_id_sum"),
        count(when(!t, 1)).as("n_after"))
      .orderBy("source")
  }

  /** DuckDB mirror of [[takedownAudit]] (doc_id is non-negative, so
    * `%` ≡ pmod).
    */
  val takedownAuditSql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(CASE WHEN doc_id % 41 = 7 THEN 1 END) AS n_removed,
      |  CAST(coalesce(sum(CASE WHEN doc_id % 41 = 7 THEN doc_id END), 0)
      |    AS BIGINT) AS removed_id_sum,
      |  count(CASE WHEN doc_id % 41 != 7 THEN 1 END) AS n_after
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- aggregate-artifact takedown: the HLL day index ---------------------

  /** Outcome of one [[purgeHllIndex]] run. Rebuild/delete counts are
    * the partition-proportional evidence; `staleBefore`/`staleAfter`
    * are the audit arm (a takedown is complete only when no stored
    * aggregate still folds a purged user in).
    */
  final case class HllPurge(affectedDays: Long, daysRebuilt: Long,
      daysDeleted: Long, staleBefore: Long, staleAfter: Long)

  /** Affected-day discovery for a user-level takedown against the HLL
    * day index: one column-pruned (user_id, ts) scan of the SOURCE
    * semi-joined to the broadcast id list. The index itself cannot
    * answer "which days contain this user" — the user is FOLDED into
    * the sketch, which is exactly why aggregate artifacts need
    * source-side discovery and a rebuild, not a row filter.
    */
  private def affectedDaysOf(events: DataFrame,
      userIds: DataFrame): DataFrame =
    events.join(broadcast(userIds.select(col("user_id")).distinct()),
        Seq("user_id"), "left_semi")
      .select(SketchIndex.dayCol(col("ts")).as("day")).distinct()

  /** Stale-aggregate audit: for every affected day, compare the stored
    * index's event accounting against a recompute from the PURGED
    * source. `stale = true` means the stored sketch row still folds a
    * taken-down user's events — the failure mode a row-level leftover
    * count can never see (the purged id appears in no row of an
    * aggregate index). One index read pruned to the affected day
    * partitions + one day-filtered source aggregation.
    */
  def hllStaleDays(spark: SparkSession, path: String,
      events: DataFrame, userIds: DataFrame): DataFrame = {
    val days = affectedDaysOf(events, userIds)
    val expected = purged(events, userIds, "user_id")
      .select(SketchIndex.dayCol(col("ts")).as("day"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day").agg(count(lit(1)).as("expected_events"))
    val stored = SketchIndex.screenFolded(
        spark.read.option("mergeSchema", "true").parquet(path))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day").agg(sum("n_events").as("stored_events"))
    // full outer: a stored all-purged day (expected side empty) is
    // stale until deleted; a deleted day with survivors would be a
    // lost-data bug the audit must also surface
    days.join(expected, Seq("day"), "left")
      .join(stored, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("stored_events"), lit(0L)).as("stored_events"),
        coalesce(col("expected_events"), lit(0L)).as("expected_events"))
      .withColumn("stale",
        col("stored_events") =!= col("expected_events"))
      .orderBy("day")
  }

  /** Takedown against the HLL day index — the AGGREGATE-artifact arm
    * of [[propagate]]'s matrix: users cannot be filtered out of a
    * sketch, so the purge rebuilds exactly the affected day partitions
    * from the purged source (`SketchIndex.upsertDays` dynamic
    * overwrite: untouched days keep their files) and DELETES a day
    * whose events were entirely the taken-down users' (an upsert with
    * zero surviving rows would leave the stale partition serving).
    * Cost is affected-days-proportional: discovery is one
    * column-pruned source scan, the rebuild aggregates only affected
    * days' events. Rerunnable: a second run rebuilds the same days to
    * identical content and the stale audit stays at zero.
    */
  def purgeHllIndex(spark: SparkSession, path: String,
      events: DataFrame, userIds: DataFrame): HllPurge = {
    val staleBefore = hllStaleDays(spark, path, events, userIds)
      .filter(col("stale")).count()
    // bounded: O(distinct affected days)
    val affected = affectedDaysOf(events, userIds)
      .collect().map(_.getLong(0)).toSeq
    if (affected.isEmpty)
      return HllPurge(0L, 0L, 0L, staleBefore, 0L)
    val survivors = purged(events, userIds, "user_id")
      .filter(SketchIndex.dayCol(col("ts")).isin(affected: _*))
    SketchIndex.upsertDays(survivors, path)
    val survivingDays = survivors
      .select(SketchIndex.dayCol(col("ts")).as("day")).distinct()
      .collect().map(_.getLong(0)).toSet
    val emptied = affected.filterNot(survivingDays.contains)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    emptied.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/day=$d"), true)
    }
    val staleAfter = hllStaleDays(spark, path, events, userIds)
      .filter(col("stale")).count()
    HllPurge(affected.size.toLong, survivingDays.size.toLong,
      emptied.size.toLong, staleBefore, staleAfter)
  }

  /** The fixture takedown users (user_id ≡ 7 mod 41) — the
    * [[isTakedown]] predicate on the events surface.
    */
  def takedownUsers(events: DataFrame): DataFrame =
    events.filter(isTakedown(col("user_id")))
      .select("user_id").distinct()

  /** The verified-row form (the [[SketchIndex.hllWindowVerified]]
    * discipline) over an ALREADY-PURGED index (the purge is an
    * ingest-side operation run once — [[purgeHllIndex]]; rerunning it
    * per query call would be a harness artifact): emit per affected
    * day the EXACT post-purge answers plus the verdicts — stored event
    * accounting matches the purged corpus exactly, and the served
    * distinct estimate lands within the sketch's acceptance band of
    * the exact post-purge distinct count. The oracle recomputes the
    * exact values and pins the verdicts literally true.
    */
  def hllTakedownVerified(spark: SparkSession, events: DataFrame,
      path: String): DataFrame = {
    val ids = takedownUsers(events)
    val days = affectedDaysOf(events, ids)
    val exact = purged(events, ids, "user_id")
      .select(SketchIndex.dayCol(col("ts")).as("day"), col("user_id"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(count(lit(1)).as("exact_events"),
        countDistinct(col("user_id")).as("exact_distinct"))
    val stored = SketchIndex.screenFolded(
        spark.read.option("mergeSchema", "true").parquet(path))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(sum("n_events").as("stored_events"),
        hll_sketch_estimate(hll_union_agg(col("sketch")))
          .as("est_distinct"))
    exact.join(stored, Seq("day"))
      .select(col("day"), col("exact_events"), col("exact_distinct"),
        (col("stored_events") === col("exact_events"))
          .as("events_match"),
        (abs(col("est_distinct") - col("exact_distinct"))
          <= lit(SketchIndex.HllRelBound) * col("exact_distinct"))
          .as("within_bound"))
      .orderBy("day")
  }

  /** DuckDB mirror of [[hllTakedownVerified]]: exact post-purge
    * answers per affected day + literal-true verdicts (the purged
    * index side is what is under test). A day whose events were
    * entirely the takedown users' is deleted, so only days with
    * survivors emit.
    */
  val hllTakedownVerifiedSql: String =
    """WITH days AS MATERIALIZED (
      |  SELECT epoch_ms(ts) // 86400000 AS day, user_id FROM events),
      |affected AS (
      |  SELECT DISTINCT day FROM days WHERE user_id % 41 = 7)
      |SELECT d.day, count(*) AS exact_events,
      |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS exact_distinct,
      |  true AS events_match,
      |  true AS within_bound
      |FROM days d JOIN affected a ON d.day = a.day
      |WHERE d.user_id % 41 != 7
      |GROUP BY d.day ORDER BY d.day""".stripMargin
}
