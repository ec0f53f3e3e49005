package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session factory and its per-process tuning. Every
  * entry point (Bench, Verify, QueryProfile, ExplainAudit, RunStream,
  * RunPipeline, RunCuration, ScaleProbe) and the spec suite's shared
  * session build through [[session]]; the benchmark under `perfbench/`
  * applies [[tuned]] to its own builder. One definition so a measured
  * win lands in every session. Precedence, lowest first: base settings
  * (master, shuffle partitions = cores, UTC, UI off) < the measured
  * settings below < the entry point's `confs` < `SPARK_GRAFT_CONF=k=v;
  * k=v`, the one override seam, so one env var A/Bs any setting an
  * entry point fixes against one binary. [[tuned]] applies measured <
  * `SPARK_GRAFT_CONF` to a caller's builder.
  *
  * Each setting is measured (OPTIMIZATION_r17/r18.md) and justified at
  * production scale — none is a local[32]-only trick:
  *
  *   - codegen class cache, 4096 entries (A/B: `SPARK_GRAFT_CONF=`
  *     `spark.sql.codegen.cache.maxEntries=100`): the stock 100-entry
  *     LRU is sized for a handful of hot queries; a JVM serving this
  *     library's 186-query surface compiles ~10^3
  *     distinct whole-stage-codegen units, so the cache thrashes and
  *     janino recompiles every plan on every pass. Bounded by
  *     compiled-class memory (tens of MB); a long-lived serving driver
  *     wants the same value. r17 controlled A/B: −24 % suite.
  *
  *   - shuffle local dirs on tmpfs when present
  *     (`SPARK_GRAFT_LOCAL_DIR`; default /dev/shm/graft-spark when
  *     writable with at least the heap's size free, else the JVM
  *     tmpdir — see [[localDir]]; A/B: `SPARK_GRAFT_CONF=`
  *     `spark.local.dir=/tmp`): thread dumps of the 32-core bench
  *     showed task threads dominated by shuffle-file open/copy/commit
  *     syscalls on ext4 (DiskBlockObjectWriter
  *     .initialize, copyFileStreamNIO, a BLOCKED
  *     writeMetadataFileAndCommit lock) — shuffle I/O, not compute,
  *     was the scaling ceiling. The guide's premise is "machines with
  *     fast local disks" (§9); a production fleet puts local dirs on
  *     NVMe, and tmpfs is the sandbox's equivalent. r18 same-box A/B
  *     (18-query subset, calibration flat): 22.6 → 17.0 s (−25 %).
  *
  *   - `spark.shuffle.sort.bypassMergeThreshold` = 2 (A/B:
  *     `SPARK_GRAFT_CONF=spark.shuffle.sort.bypassMergeThreshold=200`):
  *     with reduce-partition counts at or below the default threshold
  *     (200), the bypass writer opens one file PER (map task × reduce
  *     partition) — M×R file creates/merges/deletes per shuffle, 1024
  *     at local[32]'s 32×32
  *     versus 64 at 8×8, which is exactly the measured t8/t32
  *     anti-scaling of the shuffle-heavy queries (PERF_r17 scaling
  *     0.3–0.7). Forcing the serialized sort writer makes every map
  *     task write ONE file + index — the SAME writer any production
  *     shape uses anyway (at scale R ≫ 200, the bypass path never
  *     fires), so local plan behavior matches deployment. r18 A/B:
  *     22.6 → 16.5 s (−27 %), every subset query improved.
  *
  *   - AQE coalescing sized by bytes, not by core count:
  *     `spark.sql.adaptive.coalescePartitions.parallelismFirst` = false
  *     (A/B: `SPARK_GRAFT_CONF=` that key `=true`; RunStream's
  *     micro-batches set true, so its A/B is `=false`): with
  *     parallelismFirst=true, AQE refuses to coalesce a post-shuffle
  *     read below the session's parallelism, so every tiny shuffle
  *     still schedules ~cores reduce tasks — per-task overhead, not
  *     compute, at fixture scale, and the Spark docs themselves
  *     recommend false ("respect the configured target size").
  *     Size-derived partitioning is exactly the scale-adaptive
  *     posture: at 100 TB the same setting yields thousands of
  *     advisory-sized partitions. r18 same-box A/B (33-query subset):
  *     suite 29.6 → 23.4 s (−21 %), isolated 32.1 → 23.3 s (−27 %),
  *     calibration flat; 29 of 31 queries improved or flat
  *     (winnow_matches −58 %, dedup_incremental −44 %,
  *     media_dedup_clusters_served −46 %).
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
  *     rename on HDFS-like stores. A/B back to stock: `SPARK_GRAFT_CONF=`
  *     `spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem;`
  *     `spark.hadoop.fs.AbstractFileSystem.file.impl=org.apache.hadoop.fs.local.LocalFs`
  *     (one value, the two pairs joined by the `;`).
  */
object SessionTuning {

  /** Local-mode core count: `SPARK_GRAFT_CPUS`, else 32. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** Build (or get) the process session from [[sessionConfs]]. */
  def session(cores: Int = cpus, confs: Seq[(String, String)] = Nil,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .config(sessionConfs(cores, confs, sys.env.get("SPARK_GRAFT_CONF")))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Apply the measured settings, then `SPARK_GRAFT_CONF`, to a
    * builder. Static confs (codegen cache, local.dir, the `file:`
    * filesystem classes) only take effect for the first session of a
    * JVM — exactly the entry-point usage.
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config(resolve(sys.env.get("SPARK_GRAFT_CONF"), measured))

  /** A [[session]]'s confs; `overrides` is `SPARK_GRAFT_CONF`. */
  private[graft] def sessionConfs(cores: Int, confs: Seq[(String, String)],
      overrides: Option[String]): Map[String, String] =
    resolve(overrides, Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"), measured, confs)

  /** `layers`, then `overrides` (`k=v;k=v`), the later winning. Blank
    * entries are skipped; one that is not `key=value` fails, so a
    * typo'd A/B cannot silently measure the defaults.
    */
  private[graft] def resolve(overrides: Option[String],
      layers: Seq[(String, String)]*): Map[String, String] =
    (layers.flatten ++ overrides.toSeq.flatMap(_.split(';')).map(_.trim)
      .filter(_.nonEmpty).map { e =>
        e.split("=", 2).map(_.trim) match {
          case Array(k, v) if k.nonEmpty => k -> v
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$e' is not key=value")
        }
      }).toMap

  /** The measured process-level settings (see the object's doc). */
  private def measured: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.local.dir" -> localDir,
    "spark.shuffle.sort.bypassMergeThreshold" -> "2",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[ForkFreeLocalFs].getName)

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
}
