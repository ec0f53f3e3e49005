package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session factory and its per-process tuning. Every
  * entry point (Bench, Verify, QueryProfile, ExplainAudit, RunStream,
  * RunPipeline, RunCuration, ScaleProbe) and the spec suite's shared
  * session build through [[session]]; the benchmark under `perfbench/`
  * applies [[tuned]] to its own builder. One definition so a measured
  * win lands in every session and an A/B can flip one env var against
  * one binary.
  *
  * Each setting is measured (OPTIMIZATION_r17/r18.md) and justified at
  * production scale — none is a local[32]-only trick:
  *
  *   - codegen class cache (`SPARK_GRAFT_CODEGEN_CACHE`, default 4096):
  *     the stock 100-entry LRU is sized for a handful of hot queries; a
  *     JVM serving this library's 186-query surface compiles ~10^3
  *     distinct whole-stage-codegen units, so the cache thrashes and
  *     janino recompiles every plan on every pass. Bounded by
  *     compiled-class memory (tens of MB); a long-lived serving driver
  *     wants the same value. r17 controlled A/B: −24 % suite.
  *
  *   - shuffle local dirs on tmpfs when present
  *     (`SPARK_GRAFT_LOCAL_DIR`; default /dev/shm/graft-spark when
  *     writable with at least the heap's size free, else the JVM
  *     tmpdir — see [[localDir]]): thread dumps of the 32-core
  *     bench showed task threads dominated by shuffle-file
  *     open/copy/commit syscalls on ext4 (DiskBlockObjectWriter
  *     .initialize, copyFileStreamNIO, a BLOCKED
  *     writeMetadataFileAndCommit lock) — shuffle I/O, not compute,
  *     was the scaling ceiling. The guide's premise is "machines with
  *     fast local disks" (§9); a production fleet puts local dirs on
  *     NVMe, and tmpfs is the sandbox's equivalent. r18 same-box A/B
  *     (18-query subset, calibration flat): 22.6 → 17.0 s (−25 %).
  *
  *   - `spark.shuffle.sort.bypassMergeThreshold` = 2
  *     (`SPARK_GRAFT_BYPASS_THRESHOLD`): with reduce-partition counts
  *     at or below the default threshold (200), the bypass writer
  *     opens one file PER (map task × reduce partition) — M×R file
  *     creates/merges/deletes per shuffle, 1024 at local[32]'s 32×32
  *     versus 64 at 8×8, which is exactly the measured t8/t32
  *     anti-scaling of the shuffle-heavy queries (PERF_r17 scaling
  *     0.3–0.7). Forcing the serialized sort writer makes every map
  *     task write ONE file + index — the SAME writer any production
  *     shape uses anyway (at scale R ≫ 200, the bypass path never
  *     fires), so local plan behavior matches deployment. r18 A/B:
  *     22.6 → 16.5 s (−27 %), every subset query improved.
  *
  *   - the `file:` scheme through [[ForkFreeLocalFileSystem]]
  *     (`fs.file.impl`) and [[ForkFreeLocalFs]]
  *     (`fs.AbstractFileSystem.file.impl`, the FileContext that
  *     Structured Streaming's checkpoint log uses): without libhadoop,
  *     Hadoop's local filesystem forks a `chmod` per mkdir and per file
  *     create (`.crc` twins included) and a `readlink` per FileContext
  *     rename. JFR `jdk.ProcessStart`, one perfbench run each (4
  *     cores): `ingest_stream` 4,004 `chmod` + 120 `readlink` → 0;
  *     `etl_cycle` 1,610 `chmod` over 14 sink writes → 0. Sink modes
  *     and `.crc` files are unchanged. Alternating pairs, medians:
  *     `ingest_stream` 1,190 → 2,264 ev/s (10/10 pairs won),
  *     `etl_cycle` cycle p50 2.96 → 1.82 s (8/8). Scoped to `file:` on
  *     purpose: `FileSystemBasedCheckpointFileManager` also drops the
  *     forks, but for every scheme, and gives up FileContext's atomic
  *     rename on HDFS-like stores. A/B back to stock through
  *     `SPARK_GRAFT_CONF`, set to
  *     `spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem;`
  *     `spark.hadoop.fs.AbstractFileSystem.file.impl=org.apache.hadoop.fs.local.LocalFs`
  *     (one value, the two pairs joined by the `;`).
  */
object SessionTuning {

  /** Local-mode core count: `SPARK_GRAFT_CPUS`, else 32. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** Build (or get) the process session: `local[cores]` with one
    * shuffle partition per core, UTC, no UI, the measured settings of
    * [[tuned]], then `confs`, which win over all of those, and finally
    * the driver's log level.
    */
  def session(cores: Int = cpus, confs: Seq[(String, String)] = Nil,
      logLevel: String = "WARN"): SparkSession = {
    val base = tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Spark scratch (shuffle/spill/broadcast) directory: env override,
    * else tmpfs when available and large enough, else the JVM tmpdir.
    * Spark creates a per-app `spark-<uuid>` subdir and removes it via
    * shutdown hook, so the tmpfs footprint is bounded by one app's live
    * shuffle data.
    *
    * The trade: tmpfs is RAM. Shuffle and spill files written there
    * compete with the heap for the host's memory, and a spill — the
    * path Spark takes precisely when memory is short — lands in memory
    * again. On a host whose tmpfs is smaller than the heap, a large
    * shuffle would fail with ENOSPC instead of slowing down, so tmpfs
    * is used only when it has at least the heap's size free (see
    * [[scratchDirUnder]]).
    */
  def localDir: String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      scratchDirUnder(new java.io.File("/dev/shm")))

  /** `root/graft-spark` when `root` has at least `floorBytes` usable
    * (default: the JVM's max heap, which `SPARK_DRIVER_MEM` sets) and
    * `root/graft-spark` is, or can be made, a writable directory; else
    * the JVM tmpdir.
    */
  private[graft] def scratchDirUnder(root: java.io.File,
      floorBytes: Long = Runtime.getRuntime.maxMemory): String = {
    val d = new java.io.File(root, "graft-spark")
    val roomy = root.getUsableSpace >= floorBytes
    if (roomy && root.isDirectory && root.canWrite) d.mkdirs()
    if (roomy && d.isDirectory && d.canWrite) d.getAbsolutePath
    else java.lang.System.getProperty("java.io.tmpdir", "/tmp")
  }

  /** AQE `coalescePartitions.parallelismFirst`:
    * `SPARK_GRAFT_AQE_PARALLELISM_FIRST`, else `default` (false for
    * the batch sessions of [[tuned]], true for RunStream's
    * micro-batches).
    */
  def aqeParallelismFirst(default: Boolean): String =
    sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", default.toString)

  /** Apply the measured process-level settings to a builder. Static
    * confs (codegen cache, local.dir, the `file:` filesystem classes)
    * only take effect for the first session of a JVM — exactly the
    * entry-point usage.
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    val tb = b
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.local.dir", localDir)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "2"))
      // AQE coalescing sized by BYTES, not by core count
      // (`SPARK_GRAFT_AQE_PARALLELISM_FIRST`): with the default
      // parallelismFirst=true, AQE refuses to coalesce a post-shuffle
      // read below the session's parallelism, so every tiny shuffle
      // still schedules ~cores reduce tasks — per-task overhead, not
      // compute, at fixture scale, and the Spark docs themselves
      // recommend false ("respect the configured target size").
      // Size-derived partitioning is exactly the scale-adaptive
      // posture: at 100 TB the same setting yields thousands of
      // advisory-sized partitions. r18 same-box A/B (33-query subset):
      // suite 29.6 → 23.4 s (−21 %), isolated 32.1 → 23.3 s (−27 %),
      // calibration flat; 29 of 31 queries improved or flat
      // (winnow_matches −58 %, dedup_incremental −44 %,
      // media_dedup_clusters_served −46 %).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        aqeParallelismFirst(default = false))
      .config("spark.hadoop.fs.file.impl",
        classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)
    // dev seam: `SPARK_GRAFT_CONF=k=v;k=v` extra confs, so a candidate
    // setting can be A/B'd against one binary before it earns a
    // measured default above
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';').toSeq)
      .map(_.split("=", 2))
      .collect { case Array(k, v) => (k.trim, v.trim) }
      .foldLeft(tb) { case (bb, (k, v)) => bb.config(k, v) }
  }
}
