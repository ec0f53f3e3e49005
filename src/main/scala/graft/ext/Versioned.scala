package graft.ext

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Versioned persisted-artifact lifecycle: base build, staged rebuild
  * and retire, for the served artifacts that grow by idempotent
  * appends and are periodically REBUILT while queries keep serving
  * (search postings, IVF index, media fingerprint index, corpus dedup
  * graph, PQ codebooks). Each artifact states only what is specific to
  * it — an [[Artifact]] (component dirs, rows a root serves, and the
  * key set a rebuild must keep) plus a snapshot writer — and this
  * object runs the protocol once for all of them.
  *
  * Layout: `<path>/v-<n>/…` per rebuilt snapshot, committed by an
  * atomically-created `_COMMITTED` marker written AFTER the snapshot's
  * data is complete and validated. Readers [[resolve]] the highest
  * committed version ONCE per query and read every component from that
  * one root — so a query straddling a rebuild sees entirely the old
  * snapshot or entirely the new one, never a mix: the marker create is
  * the only promotion step, there is no pointer file to half-update and
  * no rename window where the serving root is missing. A snapshot with
  * no marker (crashed rebuild) is invisible to readers and overwritten
  * by the next rebuild.
  *
  * Back-compat: an artifact with NO committed versions resolves to
  * `<path>` itself — the flat layout [[writeBase]] writes. The flat
  * base is retired like any superseded version once rebuilds move past
  * it.
  *
  * Retention: [[retire]] keeps the newest `keep` committed versions
  * (default 2: current + previous, so a query that resolved just
  * before a commit can still finish against its snapshot) and deletes
  * everything older, including the flat base once it is older than the
  * retention window. Because retained snapshots are REAL copies of the
  * data, takedown must purge all of them — [[retainedRoots]] is the
  * enumeration a `Takedown.propagate` artifact set must cover.
  *
  * Appends vs rebuilds: an append resolves the serving root, writes
  * its batch there, then calls [[assertAppendLanded]], which fails if a
  * rebuild committed in between. [[rebuild]] covers the other orderings
  * with ONE baseline, the served root's row count read when the rebuild
  * resolves it, checked twice:
  *  - Before the commit. Any change fails the rebuild with nothing
  *    committed. The stage may or may not hold a batch appended while it
  *    was written: committing could drop it, or, where the stage reads
  *    the served root, report a batch the snapshot already holds (and
  *    re-running that append would duplicate it). A takedown purge shows
  *    up the same way; a stage that predates it would resurrect rows.
  *  - After the commit. Growth means an append wrote AND passed its own
  *    guard between the first check and the commit: the old root is
  *    kept and the error carries the recovery (re-run the append).
  * So every append after the resolve is in the committed snapshot or
  * rejected loudly. The retire audit is the crash-recovery face of the
  * same race: a root about to be deleted whose keys the new snapshot
  * lacks holds an append stranded by a rebuild that died between its
  * commit and its own post-commit check.
  *
  * Single-writer: concurrent rebuilds of the same artifact are a
  * deployment error (run them from one maintenance job, like
  * compaction); readers need no coordination at any time.
  */
object Versioned {

  val Marker = "_COMMITTED"

  private val VersionDir = "^v-(\\d+)$".r

  /** Committed versions [[retire]] keeps by default. */
  private val Keep = 2

  /** What the rebuild protocol needs to know about one artifact.
    * `components` are its dirs under a root (the first one is the
    * probe that tells whether the flat base still exists); `rowsOf`
    * counts the rows a root serves; `keysOf`, when set, reads the keys
    * a rebuild must keep serving (an artifact whose rebuild is defined
    * to change its contents has none). Both may throw the absent
    * failure [[readOr]] maps: a root not written yet serves nothing.
    */
  final case class Artifact(name: String, components: Seq[String],
      rowsOf: (SparkSession, String) => Long,
      keysOf: Option[(SparkSession, String) => DataFrame] = None)

  /** The absent-artifact rule: a read of something not written yet —
    * no path, or no data files to infer a schema from — yields
    * `ifAbsent`; any other failure propagates.
    */
  def readOr[A](ifAbsent: => A)(read: => A): A =
    try read
    catch {
      case e: AnalysisException
          if Option(e.getCondition).exists(c =>
            c.contains("PATH_NOT_FOUND")
              || c.contains("UNABLE_TO_INFER_SCHEMA")) => ifAbsent
    }

  private def fsOf(spark: SparkSession, path: String)
      : org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)

  def versionDir(path: String, n: Long): String = s"$path/v-$n"

  /** Committed version numbers under `path`, ascending. */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case VersionDir(n)
            if fs.exists(new org.apache.hadoop.fs.Path(
              s.getPath, Marker)) => Some(n.toLong)
        case _ => None
      })
      .sorted
  }

  /** The serving root: highest committed version, or the flat `path`
    * itself when no version has ever been committed. Resolve ONCE per
    * query and read every component from the result.
    */
  def resolve(spark: SparkSession, path: String): String =
    committedVersions(spark, path).lastOption
      .map(versionDir(path, _)).getOrElse(path)

  /** The next version number a rebuild stages (crashed uncommitted
    * stages are superseded in place — their number is NOT reserved,
    * so the stage dir must be cleared with [[clearStage]] first).
    */
  def nextVersion(spark: SparkSession, path: String): Long =
    committedVersions(spark, path).lastOption.getOrElse(0L) + 1

  /** Remove a dir (a crashed previous rebuild's stage, a superseded
    * version, staging scratch) so what is written there starts clean.
    */
  def clearStage(spark: SparkSession, stage: String): Unit = {
    fsOf(spark, stage)
      .delete(new org.apache.hadoop.fs.Path(stage), true)
    ()
  }

  /** PROMOTE a fully-written, validated stage dir: atomically create
    * its `_COMMITTED` marker. After this single filesystem operation
    * every new [[resolve]] returns the staged snapshot.
    */
  def commit(spark: SparkSession, stage: String): Unit = {
    val fs = fsOf(spark, stage)
    require(fs.exists(new org.apache.hadoop.fs.Path(stage)),
      s"cannot commit missing stage $stage")
    // createNewFile semantics: fails rather than truncates if present
    val marker = new org.apache.hadoop.fs.Path(stage, Marker)
    val out = fs.create(marker, false)
    out.close()
  }

  /** Delete committed versions older than the newest `keep`, plus the
    * flat base layout (`flatSubdirs` under `path`) once at least
    * `keep` versions have superseded it. Uncommitted stage dirs older
    * than the current version are crashed-rebuild debris and are
    * removed too.
    */
  def retire(spark: SparkSession, path: String,
      flatSubdirs: Seq[String], keep: Int = Keep): Unit = {
    require(keep >= 1, "must keep at least the current version")
    val fs = fsOf(spark, path)
    val committed = committedVersions(spark, path)
    val drop = committed.dropRight(keep).toSet
    val cur = committed.lastOption.getOrElse(0L)
    val p = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(p)) fs.listStatus(p).foreach { s =>
      s.getPath.getName match {
        case VersionDir(n)
            if drop.contains(n.toLong)
              || (n.toLong < cur && !committed.contains(n.toLong)) =>
          fs.delete(s.getPath, true)
        case _ => ()
      }
    }
    // the flat base is "version 0": retired once `keep` committed
    // versions exist beyond it
    if (committed.size >= keep) flatSubdirs.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true)
    }
    ()
  }

  /** Base build, a FULL REPLACE: clear every committed `v-<n>` (a
    * stale version would out-rank the fresh flat base, since readers
    * resolve to the highest committed one), then write the snapshot at
    * `path` itself.
    */
  def writeBase(spark: SparkSession, path: String)(
      snapshot: String => Unit): Unit = {
    committedVersions(spark, path).foreach(n =>
      clearStage(spark, versionDir(path, n)))
    snapshot(path)
  }

  /** Staged rebuild with atomic swap; returns the committed version.
    * `stage(served, staged)` writes and validates a complete snapshot
    * under `staged` (`served` is the root being replaced, for a
    * rebuild that re-derives from what is served). The steps, in
    * order (see the object doc for why one baseline):
    * (1) resolve the served root and read its row count, the baseline;
    * (2) clear the stage, then write and validate the snapshot;
    * (3) unless `allowShrink` or the artifact has no key set, every
    * served key must be in the snapshot ("grown corpus");
    * (4) the served root must still hold its baseline row count, else
    * fail with nothing committed;
    * (5) `beforeCommit` (a test seam), then commit;
    * (6) growth of the old root since the baseline keeps it and fails
    * ("superseded snapshot");
    * (7) under step 3's conditions, every root the retire would delete
    * must have its keys in the snapshot ("retire would delete");
    * (8) retire.
    */
  def rebuild(spark: SparkSession, path: String, artifact: Artifact,
      allowShrink: Boolean = false,
      beforeCommit: () => Unit = () => ())(
      stage: (String, String) => Unit): Long = {
    def rows(root: String): Long =
      readOr(0L)(artifact.rowsOf(spark, root))
    val served = resolve(spark, path)
    val baseline = rows(served)
    val n = nextVersion(spark, path)
    val staged = versionDir(path, n)
    clearStage(spark, staged)
    stage(served, staged)
    // keys `root` serves that the staged snapshot lacks (an absent
    // root holds none)
    def uncovered(root: String): Long =
      artifact.keysOf.filterNot(_ => allowShrink).fold(0L) { keys =>
        val kept = keys(spark, staged).distinct()
        readOr(Option.empty[DataFrame])(Some(keys(spark, root).distinct()))
          .fold(0L)(held =>
            held.join(kept, held.columns.toSeq, "left_anti").count())
      }
    val missing = uncovered(served)
    require(missing == 0L,
      s"staged ${artifact.name} rebuild drops $missing keys the " +
        "serving root holds — pass the full grown corpus (base + " +
        "appended batches)")
    val early = rows(served) - baseline
    require(early == 0L,
      s"the serving ${artifact.name} changed by $early rows while the " +
        "rebuild staged; nothing committed — rebuild again")
    beforeCommit()
    commit(spark, staged)
    val late = rows(served) - baseline
    require(late <= 0L,
      s"an append landed $late rows in the superseded snapshot " +
        "during the rebuild; old root retained — re-run the append " +
        "against the committed snapshot, then rebuild again")
    retainedRoots(spark, path, artifact.components).dropRight(Keep)
      .foreach { r =>
        val lost = uncovered(r)
        require(lost == 0L,
          s"retire would delete $r holding $lost keys absent from the " +
            "new snapshot — a stranded append from a crashed rebuild; " +
            "re-run the append, then rebuild again")
      }
    retire(spark, path, artifact.components)
    n
  }

  /** Post-append race guard. An incremental append resolves the
    * serving root, writes its batch into it, then calls this: if a
    * rebuild COMMITTED between the resolve and the write, the batch
    * landed in a snapshot that is now superseded and would be silently
    * lost when the old one retires. The append's dynamic-partition
    * write is replay-idempotent, so the recovery is exactly "re-run the
    * append" — it re-resolves to the new snapshot and lands there. The
    * rebuild side of the same race is [[rebuild]]'s baseline checks.
    */
  def assertAppendLanded(spark: SparkSession, path: String,
      landedRoot: String, what: String): Unit = {
    val now = resolve(spark, path)
    if (now != landedRoot)
      throw new IllegalStateException(
        s"$what append landed in $landedRoot but $now committed "
          + "concurrently; the batch is in a superseded snapshot and "
          + "will not be served — re-run the append (idempotent) so it "
          + "lands in the current snapshot")
  }

  /** Every root that still holds a copy of the data — the flat base
    * (if its first component still exists) plus all committed
    * versions. A takedown is complete only when it purged ALL of
    * these; the oldest beyond the newest two are what [[retire]]
    * deletes.
    */
  def retainedRoots(spark: SparkSession, path: String,
      components: Seq[String]): Seq[String] = {
    val fs = fsOf(spark, path)
    val flat =
      if (fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/${components.head}"))) Seq(path)
      else Seq.empty
    flat ++ committedVersions(spark, path).map(versionDir(path, _))
  }
}
