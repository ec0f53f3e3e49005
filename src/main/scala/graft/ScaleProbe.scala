package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}

/** Scale probe ("measure, don't guess"): synthesize an N-doc corpus with
  * planted near-dups entirely as column expressions (no fixture bound),
  * then time the heavy ext operators at increasing N. Every timing goes
  * through [[Metrics.record]]. Results recorded in SCALING.md.
  *
  * `sbt "runMain graft.ScaleProbe 50000 200000"`
  */
object ScaleProbe {

  /** `f`'s value and wall seconds, timed by [[Metrics.record]]. */
  private def timed[T](spark: SparkSession)(f: => T): (T, Double) = {
    val (v, run) = Metrics.record(spark)(f)
    (v, run.seconds)
  }

  /** Wall seconds of `f`, timed by [[Metrics.record]]. */
  private def secondsOf(spark: SparkSession)(f: => Any): Double =
    timed(spark)(f)._2

  /** Timed rows of a per-operator sweep: `time(name) { f }` prints
    * `head name seconds field=f`, the name padded to `width`.
    */
  private final class TimedRows(spark: SparkSession, head: String,
      width: Int, field: String = "rows") {
    def apply(name: String)(f: => Long): Unit = {
      val (v, secs) = timed(spark)(f)
      println(s"$head %-${width}s %7.2fs $field=$v".format(name, secs))
    }
  }

  /** Deterministic word-salad corpus: ~55-word docs over a 30-word
    * vocabulary; ids ≡ 1 (mod 17) mirror the previous id's text with one
    * word changed (planted near-dup pairs, like the fixtures).
    */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val vocab = array((0 until 30).map(i => lit(s"w$i")): _*)
    // ids ≡ 1 (mod 17) share the previous id's seed -> planted pairs
    val seed = when(col("id") % 17 === 1, col("id") - 1).otherwise(col("id"))
    val words = transform(sequence(lit(1), lit(40) + pmod(seed, lit(30))),
      i => element_at(vocab,
        (pmod(xxhash64(seed, i), lit(30)) + 1).cast("int")))
    spark.range(n).select(
      col("id").as("doc_id"),
      concat(array_join(words, " "),
        when(col("id") % 17 === 1, concat(lit(" tail"), col("id")))
          .otherwise(lit(""))).as("text"),
      lit("en").as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Deterministic embedding corpus: 32 cluster centers in [-1,1]^64
    * with ±0.1 per-component noise — near neighbors are cluster-mates,
    * so ANN recall against brute force is meaningful. Same schema as the
    * fixture table (vec_id, label, embedding Array[Float]).
    */
  def synthEmbeddings(spark: SparkSession, n: Long,
      clusters: Int = 32): DataFrame = {
    val cluster = pmod(col("id"), lit(clusters))
    val dims = sequence(lit(0), lit(Similarity.Dim - 1))
    val v = transform(dims, d =>
      (pmod(xxhash64(cluster, d), lit(2001)) - 1000.0) / 1000.0
        + (pmod(xxhash64(col("id"), d), lit(2001)) - 1000.0) / 10000.0)
    spark.range(n).select(
      col("id").as("vec_id"),
      concat(lit("c"), cluster.cast("string")).as("label"),
      v.cast("array<float>").as("embedding"))
  }

  /** Recall-vs-work curve for the ANN variants at corpus size n:
    * ground truth from brute force, then each index config reports
    * elapsed time, recall@5 over the 10 fixed queries, and average
    * scored-candidate count (the work knob). Run with
    * `sbt "runMain graft.ScaleProbe ann 200000 1280000"`.
    */
  def annProbe(spark: SparkSession, n: Long): Unit = {
    val emb = synthEmbeddings(spark, n).persist()
    emb.count()
    val truth: Map[Long, Set[Long]] = Similarity.topKBruteForce(emb)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    def report(name: String, df: DataFrame, params: String): Unit = {
      val (rows, secs) =
        timed(spark)(df.select("q_id", "vec_id", "n_candidates").collect())
      val byQ = rows.groupBy(_.getLong(0))
      val recall = truth.map { case (q, t) =>
        byQ.get(q).fold(0.0)(
          rs => rs.count(r => t(r.getLong(1))).toDouble / t.size)
      }.sum / truth.size
      val avgCand = if (byQ.isEmpty) 0.0
        else byQ.values.map(_.head.getLong(2)).sum.toDouble / byQ.size
      println(f"[scale-ann] n=$n%-8d $name%-12s $params%-18s " +
        f"$secs%6.2fs recall@5=$recall%.3f avg_cand=$avgCand%.0f")
    }
    val planes = Similarity.numPlanesFor(n)
    report("lsh", Similarity.topKLsh(emb), s"planes=${Similarity.NumPlanes}")
    report("lsh", Similarity.topKLsh(emb, planes), s"planes=$planes")
    report("lsh_multi", Similarity.topKLshMultiProbe(emb),
      s"planes=${Similarity.NumPlanes}")
    report("lsh_multi", Similarity.topKLshMultiProbe(emb, planes),
      s"planes=$planes")
    val cells = Similarity.ivfCellsFor(n)
    // flat assignment is O(N·cells): keep it at its measured 256-cell
    // ceiling for the baseline comparison (SCALING.md, 150 s at 1 132)
    val flatCells = math.min(256, cells)
    for ((c, p) <- Seq((Similarity.IvfCells, Similarity.IvfProbes),
        (flatCells, Similarity.IvfProbes), (flatCells, 8))) {
      val ivf = Similarity.topKIvf(emb, c, p)
        .withColumn("n_candidates", lit(-1L)) // IVF reports no cand count
      report("ivf", ivf, s"cells=$c probes=$p")
    }
    // hierarchical assignment runs the UNCAPPED √N cell count, with and
    // without nProbe scaling (the recall knob ivfProbesFor supplies)
    val hProbes = Similarity.ivfProbesFor(cells)
    for (p <- Seq(Similarity.IvfProbes, hProbes).distinct) {
      val hier = Similarity.topKIvfHier(emb, cells, p)
        .withColumn("n_candidates", lit(-1L))
      report("ivf_hier", hier, s"cells=$cells probes=$p")
    }
    // sign-bucket occupancy at this plane count — skew evidence for the
    // bucket self-join (max/avg bucket size)
    val occ = emb.select(Similarity.bucketExpr(
        col("embedding").cast("array<double>"), planes).as("b"))
      .groupBy("b").count()
      .agg(count(lit(1)).as("buckets"), max("count").as("max"),
        avg("count").as("avg")).head()
    println(s"[scale-ann] n=$n planes=$planes occupied_buckets=" +
      s"${occ.getLong(0)} max_bucket=${occ.getLong(1)} " +
      f"avg_bucket=${occ.getDouble(2)}%.1f")
    emb.unpersist()
  }

  /** Band-hash bucket-size distribution of the MinHash LSH self-join at
    * corpus size n — the skew evidence for `minhashNearDups`'s candidate
    * join. The join key is (band_idx, band_hash); a bucket of size c
    * contributes c·(c−1)/2 candidate pairs, so the tail of this
    * distribution IS the join's worst partition. Run with
    * `sbt "runMain graft.ScaleProbe lsh 1280000 5000000"`.
    */
  def lshSkewProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val buckets = Dedup.bandTable(docs)
      .groupBy("band_idx", "band_hash").count()
      .persist()
    val (stats, secs) = timed(spark)(buckets.agg(
      count(lit(1)).as("buckets"),
      max("count").as("max"),
      avg("count").as("avg"),
      expr("percentile_approx(count, 0.99, 10000)").as("p99"),
      sum(expr("count * (count - 1) / 2")).as("cand_pairs")).head())
    val top = buckets.orderBy(col("count").desc).limit(5)
      .collect().map(_.getAs[Long]("count")).mkString(",")
    println(f"[scale-lsh] n=$n%-8d band_time=$secs%6.1fs " +
      s"buckets=${stats.getLong(0)} max_bucket=${stats.getLong(1)} " +
      f"avg_bucket=${stats.getDouble(2)}%.2f p99=${stats.getLong(3)} " +
      s"cand_pairs=${stats.getAs[Any]("cand_pairs")} top5=[$top]")
    buckets.unpersist(); docs.unpersist()
    spark.catalog.clearCache()
  }

  /** Throughput of the temporal-join operators at n left rows (n/4 right
    * rows, 100k keys): as-of join (union-tag window) and keyless range
    * join (bucketized). The quadratic naive plans these replace are not
    * run — at these sizes they would not finish. Run with
    * `sbt "runMain graft.ScaleProbe joins 1000000 5000000"`.
    */
  def joinsProbe(spark: SparkSession, n: Long): Unit = {
    import graft.operators.{AsOfJoin, RangeJoin}
    val keys = 100000L
    val left = spark.range(n).select(
      pmod(col("id"), lit(keys)).as("k"),
      pmod(xxhash64(col("id")), lit(n * 10)).as("lts"),
      col("id").as("lid")).persist()
    val right = spark.range(n / 4).select(
      pmod(col("id") * 31, lit(keys)).as("k"),
      pmod(xxhash64(col("id"), lit(1)), lit(n * 10)).as("rts"),
      col("id").as("rid")).persist()
    left.count(); right.count()
    def report(name: String, timedRows: (Long, Double)): Unit = {
      val (rows, secs) = timedRows
      println(f"[scale-joins] n=$n%-8d $name%-14s $secs%7.2fs rows=$rows " +
        f"(${n / secs / 1e6}%.1f M left rows/s)")
    }
    report("asof", timed(spark) {
      // aggregate OVER the matched payload: a bare count() would let
      // Catalyst prune the window away and time only the union
      AsOfJoin.backward(left, right, Seq("k"), "lts", "rts", Seq("rts"))
        .agg(count(col("asof_rts"))).head().getLong(0)
    })
    // keyless range join: n/200 intervals of FIXED ~2000-tick width over
    // a 0.1 points/tick domain — ~200 matches per interval, output ~n
    // (fixed window length is the realistic shape; width scaling with
    // the domain would make any algorithm's output quadratic)
    val intervals = spark.range(n / 200).select(
      pmod(xxhash64(col("id"), lit(2)), lit(n * 10)).as("s"),
      col("id").as("iv_id"))
      .withColumn("e", col("s") + pmod(xxhash64(col("iv_id")), lit(4000L)))
      .persist()
    intervals.count()
    report("range", timed(spark) {
      RangeJoin.pointInInterval(
          left.select(col("lts").as("v"), col("lid")), intervals,
          "v", "s", "e", bucketWidth = 4000L)
        .count()
    })
    left.unpersist(); right.unpersist(); intervals.unpersist()
    spark.catalog.clearCache()
  }

  /** Embedding corpus with LOW-RANK intra-cluster structure: noise is a
    * 2-dim latent (z₁, z₂ per vector) through a per-(cluster, dim)
    * mixing matrix, instead of [[synthEmbeddings]]' 64-dim isotropic
    * noise. Learned embeddings look like this locally (variation
    * concentrates in few directions); isotropic noise is the adversarial
    * case where NO quantizer can rank neighbors (the distance gaps carry
    * less information than any code). Probing both separates "PQ is
    * broken" from "the corpus is information-theoretically unrankable
    * from codes".
    */
  def synthEmbeddingsStructured(spark: SparkSession, n: Long,
      clusters: Int = 32): DataFrame = {
    val cluster = pmod(col("id"), lit(clusters))
    val dims = sequence(lit(0), lit(Similarity.Dim - 1))
    def u(seed: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column,
        salt: Int): org.apache.spark.sql.Column =
      (pmod(xxhash64(seed, d, lit(salt)), lit(2001)) - 1000.0) / 1000.0
    val z1 = u(col("id"), lit(0), 11)
    val z2 = u(col("id"), lit(0), 12)
    val v = transform(dims, d =>
      u(cluster, d, 0)                           // center ±1
        + z1 * u(cluster, d, 1) * 0.1            // rank-1 direction ±0.1
        + z2 * u(cluster, d, 2) * 0.1)           // rank-2 direction ±0.1
    spark.range(n).select(
      col("id").as("vec_id"),
      concat(lit("c"), cluster.cast("string")).as("label"),
      v.cast("array<float>").as("embedding"))
  }

  /** PQ cost model at corpus size n: codebook-training time, map-side
    * encode throughput, ADC scan + re-rank time, and recall@5 against
    * brute force — on both the isotropic-noise corpus (adversarial
    * bound) and the low-rank-structure corpus (the realistic regime).
    * `sbt "runMain graft.ScaleProbe pq 200000 1280000"`.
    */
  def pqProbe(spark: SparkSession, n: Long): Unit = {
    import graft.ext.ProductQuant
    val emb = synthEmbeddings(spark, n).persist()
    emb.count()
    val truth = Similarity.topKBruteForce(emb)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getLong(0))
      truth.map { case (q, t) =>
        byQ.get(q).fold(0.0)(
          rs => rs.count(r => t(r.getLong(1))).toDouble / t.size)
      }.sum / truth.size
    }
    // fixture config: K=16 full-corpus training, fixed shortlist
    val (cbs, trainS) = timed(spark)(ProductQuant.trainCodebooks(emb))
    val (_, encodeS) = timed(spark) {
      emb.select(ProductQuant.encodeExpr(
        col("embedding").cast("array<double>"), cbs).as("c"))
        .select(max(element_at(col("c"), 1))).head()
    }
    val (pqRows, searchS) = timed(spark)(
      ProductQuant.topKPq(emb).select("q_id", "vec_id").collect())
    println(f"[scale-pq] n=$n%-8d cfg=K16      train=$trainS%7.2fs " +
      f"encode=$encodeS%6.2fs (${n / encodeS / 1e6}%.2f M vec/s) " +
      f"search=$searchS%7.2fs recall@5=${recallOf(pqRows)}%.3f")
    // scaled config: sample-trained K=codebookKFor(n), scaled shortlist
    val (scRows, scS) = timed(spark)(
      ProductQuant.topKPqScaled(emb).select("q_id", "vec_id").collect())
    println(f"[scale-pq] n=$n%-8d cfg=scaled   " +
      f"K=${ProductQuant.codebookKFor(n)}%-4d " +
      f"shortlist=${ProductQuant.shortlistFor(n)}%-5d " +
      f"total=$scS%7.2fs recall@5=${recallOf(scRows)}%.3f")
    emb.unpersist()
    // low-rank-structure corpus: the regime PQ is built for
    val embS = synthEmbeddingsStructured(spark, n).persist()
    embS.count()
    val truthS = Similarity.topKBruteForce(embS)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    def recallOfS(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getLong(0))
      truthS.map { case (q, t) =>
        byQ.get(q).fold(0.0)(
          rs => rs.count(r => t(r.getLong(1))).toDouble / t.size)
      }.sum / truthS.size
    }
    val (stRows, stS) = timed(spark)(
      ProductQuant.topKPqScaled(embS).select("q_id", "vec_id").collect())
    println(f"[scale-pq] n=$n%-8d cfg=lowrank  " +
      f"K=${ProductQuant.codebookKFor(n)}%-4d " +
      f"shortlist=${ProductQuant.shortlistFor(n)}%-5d " +
      f"total=$stS%7.2fs recall@5=${recallOfS(stRows)}%.3f")
    embS.unpersist()
    spark.catalog.clearCache()
  }

  /** Persisted-index economics at corpus size n: one-time build+write
    * cost vs the per-query-batch cost of (a) the in-flight hierarchical
    * path (recomputes the index every time) and (b) the served path
    * (reads only probed cell= partitions). The ratio is the argument
    * for indexing at 100 TB: build amortizes across every subsequent
    * query batch. `sbt "runMain graft.ScaleProbe ivf 1280000"`.
    */
  def ivfIndexProbe(spark: SparkSession, n: Long): Unit = {
    val emb = synthEmbeddings(spark, n).persist()
    emb.count()
    val cells = Similarity.ivfCellsFor(n)
    val nProbe = Similarity.ivfProbesFor(cells)
    val path = s"/tmp/graft_scaleprobe_ivf_$n"
    val buildS = secondsOf(spark)(Similarity.writeIvfIndex(emb, path, cells))
    val inflightS =
      secondsOf(spark)(Similarity.topKIvfHier(emb, cells, nProbe).count())
    val servedS =
      secondsOf(spark)(Similarity.topKIvfServed(spark, path, nProbe).count())
    val served2S =
      secondsOf(spark)(Similarity.topKIvfServed(spark, path, nProbe).count())
    println(f"[scale-ivf] n=$n%-8d cells=$cells nprobe=$nProbe " +
      f"build=$buildS%7.2fs inflight_query=$inflightS%7.2fs " +
      f"served_query=$servedS%6.2fs served_query2=$served2S%6.2fs " +
      f"(amortized speedup ${inflightS / served2S}%.1fx/batch)")
    emb.unpersist()
    spark.catalog.clearCache()
  }

  /** Index-lifecycle cost at corpus size n: base build vs
    * drift-triggered [[Similarity.rebuildIvfIndex]] (re-cluster of
    * base + one appended batch into a staged v-1, validate, atomic
    * commit, retire). The rebuild's extra costs over a build are the
    * index read (instead of a corpus scan), the validation count, and
    * the swap bookkeeping — the probe pins that the total stays
    * build-shaped. `sbt "runMain graft.ScaleProbe ivfrebuild 1280000 5120000"`.
    */
  def ivfRebuildProbe(spark: SparkSession, n: Long): Unit = {
    // STORAGE-backed source: a production build reads a stored corpus
    // table, and the rebuild reads the stored index — comparing
    // build-from-generator against rebuild-from-storage would
    // attribute the storage-scan cost to the rebuild
    val src = s"/tmp/graft_scaleprobe_ivfrb_src_$n"
    synthEmbeddings(spark, n).write.mode("overwrite").parquet(src)
    val emb = spark.read.parquet(src)
    val cells = Similarity.ivfCellsFor(n)
    val nProbe = Similarity.ivfProbesFor(cells)
    val path = s"/tmp/graft_scaleprobe_ivfrb_$n"
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path))
    val buildS = secondsOf(spark)(Similarity.writeIvfIndex(emb, path, cells))
    // append a 1% drifted batch, then rebuild over base + batch
    val batch = synthEmbeddings(spark, n / 100)
      .select((col("vec_id") + n * 2).as("vec_id"), col("label"),
        transform(col("embedding").cast("array<double>"),
          x => x + lit(0.25)).as("embedding"))
    val appendS = secondsOf(spark)(
      Similarity.appendToIvfIndex(batch, path, batchId = 1L))
    val rebuildS =
      secondsOf(spark)(Similarity.rebuildIvfIndex(spark, path, cells))
    val rebuild2S =
      secondsOf(spark)(Similarity.rebuildIvfIndex(spark, path, cells))
    val servedS =
      secondsOf(spark)(Similarity.topKIvfServed(spark, path, nProbe).count())
    println(f"[scale-ivfrebuild] n=$n%-8d cells=$cells " +
      f"build=$buildS%7.2fs append_1pct=$appendS%6.2fs " +
      f"rebuild=$rebuildS%7.2fs (${rebuildS / buildS}%.2fx build) " +
      f"rebuild_noappend=$rebuild2S%7.2fs " +
      f"served_after_swap=$servedS%6.2fs")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(src))
    spark.catalog.clearCache()
  }

  /** Corpus-graph maintenance at pair-graph scale: n docs in planted
    * 4-chains (i—i+1 within each aligned 4-block → n/4 components,
    * 3n/4 pairs; above [[graft.ext.Dedup.DriverClusterMaxPairs]] the
    * labeling runs the distributed pointer-jumping path — the 100 TB
    * shape). Measures the base build (pair land + FULL label), an
    * append of 10 k bridging docs (the BOUNDED relabel — touched
    * components only), the full rebuild of the grown graph (the cost
    * append avoids), label equality append ≡ rebuild, a purge of 2 k
    * bridge docs (cluster splits, partition-pruned rewrite, audit
    * deferred), and the full stale audit on its own clock.
    * `sbt "runMain graft.ScaleProbe graph 2000000 8000000"`.
    */
  def graphProbe(spark: SparkSession, n: Long): Unit = {
    import graft.ext.CorpusGraph
    val mods = array(lit("image"), lit("audio"), lit("video"),
      lit("text"))
    def modOf(c: org.apache.spark.sql.Column) =
      element_at(mods, (pmod(c, lit(4)) + 1).cast("int"))
    val base = spark.range(n).filter(col("id") % 4 =!= 3)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"),
        modOf(col("id")).as("modality"))
    val root = s"/tmp/graft_scaleprobe_graph_$n"
    val root2 = s"${root}_rebuild"
    Seq(root, root2).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(p)))
    val buildS = secondsOf(spark)(CorpusGraph.write(base, root))
    // 10k new docs, each bridging into a distinct standing component
    val b = math.min(10000L, n / 4)
    val batch = spark.range(b).select(
      (col("id") * 4).as("doc_a"), (lit(n) + col("id")).as("doc_b"),
      modOf(col("id")).as("modality"))
    val appendS =
      secondsOf(spark)(CorpusGraph.append(spark, root, batch, 1L))
    // the per-ingest monitor: touched-scope stale audit over the
    // batch's own endpoints — priced by the touched components, vs the
    // full audit (≈ a rebuild) timed at the end of this probe
    val batchIds = batch.select(col("doc_a").as("doc_id"))
      .unionByName(batch.select(col("doc_b").as("doc_id"))).distinct()
    var touched = CorpusGraph.TouchedAudit(-1L, -1L, -1L, 0, false)
    val auditTouchedS =
      if (sys.env.contains("SPARK_GRAFT_SKIP_TOUCHED_AUDIT")) -1.0
      else secondsOf(spark) {
        // scoped: the audit is a monitor — its scratch frames must not
        // ride into the next phase's memory envelope
        graft.ext.Scratch.scopedAll {
          touched =
            CorpusGraph.staleLabelCountTouched(spark, root, batchIds)
        }
      }
    val rebuildS = secondsOf(spark)(
      CorpusGraph.write(base.unionByName(batch), root2))
    val inc = CorpusGraph.readLabels(spark, root)
    val reb = CorpusGraph.readLabels(spark, root2)
    val mismatch =
      inc.join(reb, Seq("doc_id", "label"), "left_anti").count() +
        reb.join(inc, Seq("doc_id", "label"), "left_anti").count()
    // small LEGAL-sized purge first: 50 bridge docs whose pair rows
    // localize to two doc_a buckets — the pruning case the pair
    // table's bucket level exists for (a takedown list is dozens of
    // ids, not thousands)
    import spark.implicits._
    val smallIds = spark.range(50L.min(n / 256))
      .select((col("id") * 256 + 1).as("doc_id"))
    val (small, smallS) = timed(spark)(
      CorpusGraph.purge(spark, root, smallIds, audit = false))
    // then 2k bridge docs spread across every bucket (each removal
    // splits its component); the full-recompute audit runs on its own
    // clock
    val purgeIds = spark.range(2000L.min(n / 4))
      .select((col("id") * 4 + 1).as("doc_id"))
    val (out, purgeS) = timed(spark)(
      CorpusGraph.purge(spark, root, purgeIds, audit = false))
    val (stale, auditS) =
      timed(spark)(CorpusGraph.staleLabelCount(spark, root))
    println(f"[scale-graph] n=$n%-8d pairs=${n * 3 / 4}%-9d " +
      f"build=$buildS%7.1fs append_10k=$appendS%6.1fs " +
      f"auditTouched=$auditTouchedS%6.1fs " +
      f"(scope=${touched.scopeDocs} rounds=${touched.rounds} " +
      f"stale=${touched.stale}) " +
      f"rebuild=$rebuildS%7.1fs (append=${appendS / rebuildS}%.2fx " +
      f"rebuild) labelsMatch=${mismatch == 0} " +
      f"purge_50=$smallS%6.1fs parts=${small.partsRewritten}rw+" +
      f"${small.partsDeleted}del/${small.partsTotal} " +
      f"purge_2k=$purgeS%6.1fs parts=${out.partsRewritten}rw+" +
      f"${out.partsDeleted}del/${out.partsTotal} " +
      f"relabeled=${out.labelsChanged} leftover=${out.leftover} " +
      f"audit=$auditS%6.1fs stale=$stale")
    Seq(root, root2).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(p)))
    spark.catalog.clearCache()
  }

  /** Per-trigger index READ volume of the bucketed streaming screen vs
    * corpus size — the measurement behind the round-14 key-bucketed
    * layouts and the [[graft.streaming.DedupStream.BandBuckets]]
    * sizing rule. The band index is synthesized directly in the exact
    * stream layout (n×4 unique band rows — the measured read depends
    * on layout + volume, not on how rows got there), then ONE
    * 50-doc DedupStream trigger runs and its file-read bytes are
    * captured at two bucket counts: the fixture B=64 and a B scaled to
    * hold ~500 rows/bucket (B ∝ n). The model: per-trigger read =
    * hitBuckets × (index/B). A realistic trigger's ≤4×|batch| distinct
    * band hashes exceed any FIXED B, so every bucket is hit and the
    * read grows linearly with the corpus (the pre-bucketing cost,
    * just via a different path); under the sizing rule B ∝ corpus,
    * hitBuckets stays ≈ the trigger's key count and the read is FLAT
    * in corpus size. The same layout + rule covers the GraphStream
    * band index, the EmbedStream LSH tables, the NoveltyStream gram
    * index, and the media band sidecar.
    * `sbt "runMain graft.ScaleProbe streamread 250000 1000000 4000000"`.
    */
  def streamReadProbe(spark: SparkSession, n: Long): Unit = {
    import graft.streaming.{BatchIndex, DedupStream}
    var scaledB = 64L
    while (scaledB * 500L < n * 4L) scaledB *= 2
    Seq(("fixture", 64L), ("scaled ", scaledB)).foreach { case (tag, b) =>
      val dir = s"/tmp/graft_scaleprobe_sr_${n}_$b"
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
      DedupStream.bandBucketCount = b
      try {
        val bands = spark.range(n).select(col("id").as("doc_id"),
            explode(sequence(lit(0L), lit(3L))).as("band_idx"))
          .withColumn("band_hash", md5(concat_ws(",",
            col("doc_id").cast("string"), col("band_idx").cast("string"))))
        BatchIndex.writePartition(
          bands.withColumn("band_bucket", DedupStream.bandBucket),
          1L, s"$dir/index", bucketCol = Some("band_bucket"))
        val (idxBytes, idxFiles) = dirStats(s"$dir/index")
        val batch = synthDocs(spark, 50)
          .withColumn("doc_id", col("doc_id") + lit(n))
        val hit = graft.ext.Dedup.bandTable(batch)
          .select(DedupStream.bandBucket.as("b")).distinct()
          .collect().map(_.getLong(0)).toSeq
        // ADDRESSED bytes: parquet data under the hit bucket dirs —
        // exactly what the pruned scan must read on a real filesystem
        // (task inputMetrics.bytesRead on local fs reports only
        // footer/metadata IO — measured 0.45 MB for a full 37 MB scan
        // — so partition-addressed file bytes are the honest measure)
        val addressed = hit
          .map(bk => dirStats(s"$dir/index/band_bucket=$bk")._1).sum
        val stats = new DedupStream.DedupStats(spark)
        val wall = secondsOf(spark)(DedupStream.processBatch(batch, 2L,
          s"$dir/corpus", s"$dir/index", stats))
        println(f"[scale-streamread] n=$n%-8d B=$b%-6d ($tag) " +
          f"index=${idxBytes / 1e6}%7.1fMB files=$idxFiles%-5d " +
          f"hitBuckets=${hit.size}%-5d " +
          f"addressedMB=${addressed / 1e6}%7.1f " +
          f"(${100.0 * addressed / math.max(idxBytes, 1L)}%5.1f%% " +
          f"of index) trigger=$wall%5.2fs")
      } finally {
        DedupStream.bandBucketCount = DedupStream.BandBuckets
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir))
      }
      spark.catalog.clearCache()
    }
  }

  /** Trigger cost vs batch-levels-per-bucket at large B — the
    * file-count counterweight to the B ∝ corpus sizing rule
    * (SCALING.md "Per-trigger read volume" showed scaled-B triggers
    * slowing as levels accrete: partition discovery lists all B×L
    * directories per read and the pruned scan opens hitBuckets×L
    * files). The same 4n-row band index is laid out as L batch levels
    * for L ∈ {1, 8, 32} at B ∈ {2048, 8192}, one 50-doc DedupStream
    * trigger is timed against each, and the largest-L variant is
    * compacted ([[graft.streaming.DedupStream.compactIndex]]) and
    * re-triggered — the recovery the
    * [[graft.streaming.BatchIndex.CompactAfterLevels]] cadence rule
    * buys. `sbt "runMain graft.ScaleProbe levels 1000000"`.
    */
  def levelsProbe(spark: SparkSession, n: Long): Unit = {
    import graft.streaming.{BatchIndex, DedupStream}
    for {
      b <- Seq(2048L, 8192L)
      levels <- Seq(1, 8, 32)
    } {
      val dir = s"/tmp/graft_scaleprobe_lv_${n}_${b}_$levels"
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
      DedupStream.bandBucketCount = b
      try {
        val per = n / levels
        (0 until levels).foreach { l =>
          // band_idx INT like Dedup.bandTable — the later trigger and
          // the mergeSchema compact must see one schema
          val bands = spark.range(l * per, (l + 1) * per)
            .select(col("id").as("doc_id"),
              explode(sequence(lit(0), lit(3))).as("band_idx"))
            .withColumn("band_hash", md5(concat_ws(",",
              col("doc_id").cast("string"),
              col("band_idx").cast("string"))))
          BatchIndex.writePartition(
            bands.withColumn("band_bucket", DedupStream.bandBucket),
            l.toLong + 1L, s"$dir/index",
            bucketCol = Some("band_bucket"))
        }
        BatchIndex.ensureBucketMeta(spark, s"$dir/index", b)
        val (idxBytes, idxFiles) = dirStats(s"$dir/index")
        def trigger(id: Long): Double = {
          val batch = synthDocs(spark, 50)
            .withColumn("doc_id", col("doc_id") + lit(4 * n))
          val stats = new DedupStream.DedupStats(spark)
          stats.lastCommitted = id - 1
          secondsOf(spark)(DedupStream.processBatch(batch, id,
            s"$dir/corpus", s"$dir/index", stats))
        }
        val trig = trigger(100L)
        val report = BatchIndex.layoutReport(spark, s"$dir/index",
          "band_bucket", b)
        // compaction recovery, priced on the worst layout only
        val (compactS, trigAfter) =
          if (levels == 32)
            (secondsOf(spark)(DedupStream.compactIndex(spark, s"$dir/index")),
              trigger(101L))
          else (-1.0, -1.0)
        println(f"[scale-levels] n=$n%-8d B=$b%-6d L=$levels%-4d " +
          f"files=$idxFiles%-7d sizeMB=${idxBytes / 1e6}%7.1f " +
          f"trigger=$trig%6.2fs " +
          f"maxLevels=${report.maxLevelsPerBucket} " +
          f"compactDue=${report.compactRecommended} " +
          f"compact=$compactS%6.1fs trigAfter=$trigAfter%6.2fs")
      } finally {
        DedupStream.bandBucketCount = DedupStream.BandBuckets
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir))
      }
      spark.catalog.clearCache()
    }
  }

  /** The price — and now the PAYOFF — of a
    * [[graft.streaming.BatchIndex.rebucket]] resize at probe scale: a
    * 4n-row band index is written at the RETIRED row rule's B
    * (rows/512 — the r16 probe showed that layout already
    * listing-bound on local fs), a trigger is timed against it, the
    * index is rebucketed to the BYTE rule's B
    * (`autoBucketCount` at the measured planning width — healthy
    * 8–64 MB files), and the trigger re-timed: the resize must take
    * the trigger OUT of the listing-bound regime.
    * `sbt "runMain graft.ScaleProbe rebucket 4000000"`.
    */
  def rebucketProbe(spark: SparkSession, n: Long): Unit = {
    import graft.streaming.{BatchIndex, DedupStream}
    val dir = s"/tmp/graft_scaleprobe_rbk_$n"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    try {
      // the retired ROW rule's layout (rows/512), written directly
      val rowRuleB = BatchIndex.autoBucketCount(4 * n, 64L,
        rowBytes = 32768L) // 16 MB / 32 KB = 512 rows/bucket
      // band_idx INT like Dedup.bandTable (one schema with the trigger)
      val bands = spark.range(n).select(col("id").as("doc_id"),
          explode(sequence(lit(0), lit(3))).as("band_idx"))
        .withColumn("band_hash", md5(concat_ws(",",
          col("doc_id").cast("string"), col("band_idx").cast("string"))))
      BatchIndex.writePartition(
        bands.withColumn("band_bucket",
          DedupStream.bandBucketAt(rowRuleB)),
        1L, s"$dir/index", bucketCol = Some("band_bucket"))
      BatchIndex.ensureBucketMeta(spark, s"$dir/index", rowRuleB)
      val (szBytes, szFiles) = dirStats(s"$dir/index")
      def trigger(id: Long, off: Long): Double = {
        val stats = new DedupStream.DedupStats(spark)
        stats.lastCommitted = id - 1
        secondsOf(spark)(DedupStream.processBatch(
          synthDocs(spark, 50).withColumn("doc_id",
            col("doc_id") + lit(off)),
          id, s"$dir/corpus", s"$dir/index", stats))
      }
      val trigRowRule = trigger(2L, 5 * n)
      // resize to the byte rule's B from the MEASURED index bytes
      val newB = BatchIndex.autoBucketCountBytes(szBytes, 64L)
      val wall = secondsOf(spark)(BatchIndex.rebucket(spark,
        s"$dir/index", "band_bucket", newB, DedupStream.bandBucketAt))
      val (szBytes2, szFiles2) = dirStats(s"$dir/index")
      val trigByteRule = trigger(3L, 6 * n)
      println(f"[scale-rebucket] n=$n%-8d rows=${4 * n}%-9d " +
        f"B=$rowRuleB(row-rule)->" +
        f"${BatchIndex.bucketCountOf(spark, s"$dir/index", -1L)}" +
        "(byte-rule) " +
        f"trigRowRule=$trigRowRule%6.2fs trigByteRule=$trigByteRule%6.2fs " +
        f"rewrite=$wall%7.1fs " +
        f"sizeMB=${szBytes / 1e6}%.1f->${szBytes2 / 1e6}%.1f " +
        f"files=$szFiles->$szFiles2")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      spark.catalog.clearCache()
    }
  }

  /** The long-horizon proof that the WIRED cadence keeps triggers
    * fast: `batches` micro-batches of fresh docs stream through
    * [[graft.streaming.DedupStream.processBatch]] on TWO roots — root
    * A runs [[graft.streaming.DedupStream.maintain]] between batches
    * (the hook RunStream wires after every bounded run; compacts only
    * when the diagnostics say so), root B never compacts — and every
    * batch's trigger is timed on both. Without the cadence, partition
    * dirs accrete B × L and the trigger decays along the measured
    * file-count law; with it, trigger time stays flat and the
    * compactions fire exactly when `CompactFileBudget`/
    * `CompactAfterLevels` say. Batches carry DISTINCT docs (the index
    * must grow). Result-neutrality is asserted (equal kept counts and
    * index content row counts). `sbt "runMain graft.ScaleProbe
    * cadence 48"` — the size arg is the BATCH COUNT;
    * SPARK_GRAFT_CADENCE_B / _DOCS override B (1024) and docs/batch
    * (1000).
    */
  def cadenceProbe(spark: SparkSession, batches: Long): Unit = {
    import graft.streaming.{BatchIndex, DedupStream}
    val b = sys.env.getOrElse("SPARK_GRAFT_CADENCE_B", "1024").toLong
    val dpb = sys.env.getOrElse("SPARK_GRAFT_CADENCE_DOCS", "1000").toLong
    val withRoot = "/tmp/graft_scaleprobe_cad_with"
    val noRoot = "/tmp/graft_scaleprobe_cad_without"
    Seq(withRoot, noRoot).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    val savedB = DedupStream.bandBucketCount
    DedupStream.bandBucketCount = b
    val sA = new DedupStream.DedupStats(spark)
    val sB = new DedupStream.DedupStats(spark)
    try {
      var compactions = 0
      (0 until batches.toInt).foreach { i =>
        // fresh vocabulary per batch so every doc survives and the
        // index grows one level per batch
        val docs = spark.range(i * dpb, (i + 1) * dpb)
          .select(col("id").as("doc_id"),
            concat_ws(" ", (0 until 45).map(p =>
              concat(lit("w"), pmod(xxhash64(col("id"), lit(p)),
                lit(1000000L)))): _*).as("text"))
        val tA = secondsOf(spark)(DedupStream.processBatch(docs, i.toLong,
          s"$withRoot/corpus", s"$withRoot/index", sA))
        val tB = secondsOf(spark)(DedupStream.processBatch(docs, i.toLong,
          s"$noRoot/corpus", s"$noRoot/index", sB))
        // the wired cadence, between batches (the stream-stopped seam)
        val m = DedupStream.maintain(spark, s"$withRoot/index")
        val compacted = m.exists(_.compacted.isDefined)
        if (compacted) compactions += 1
        val rep = m.get.report
        val dirsB = b * (i + 1)
        if (i % 4 == 3 || compacted || i == batches.toInt - 1)
          println(f"[scale-cadence] batch=$i%-4d " +
            f"trigWith=$tA%6.2fs trigWithout=$tB%6.2fs " +
            f"dirsWith=${rep.buckets * rep.batchLevels}%-7d " +
            f"dirsWithout=$dirsB%-7d " +
            (if (compacted) "COMPACTED" else ""))
      }
      assert(sA.seen.value == sB.seen.value
        && sA.kept.value == sB.kept.value,
        s"cadence changed results: A=(${sA.seen.value},${sA.kept.value})"
          + s" B=(${sB.seen.value},${sB.kept.value})")
      val rowsA = spark.read.parquet(s"$withRoot/index")
        .select("doc_id", "band_idx", "band_hash").distinct().count()
      val rowsB = spark.read.parquet(s"$noRoot/index")
        .select("doc_id", "band_idx", "band_hash").distinct().count()
      assert(rowsA == rowsB, s"index content diverged: $rowsA vs $rowsB")
      println(s"[scale-cadence] done batches=$batches B=$b " +
        s"docsPerBatch=$dpb compactions=$compactions " +
        s"kept=${sA.kept.value} indexRows=$rowsA (content ≡ uncompacted)")
    } finally {
      DedupStream.bandBucketCount = savedB
      Seq(withRoot, noRoot).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(p)))
      spark.catalog.clearCache()
    }
  }

  /** Whole-root filter-pruned discovery vs DIRECT hit-bucket paths —
    * the listing cost of one per-trigger index read, isolated. The
    * r16 decay law showed trigger wall tracking TOTAL partition dirs
    * (B × L): a `spark.read.parquet(root).filter(isin)` read builds
    * its file index over EVERY leaf dir before the filter prunes any.
    * [[graft.streaming.BatchIndex.readBeforeBuckets]] now lists the
    * top level once and reads only hit-bucket dirs — O(B + hit × L).
    * The two regimes: a saturated trigger (hit ≈ B) pays the same
    * either way (compaction stays the repair there); a BOUNDED-spread
    * trigger (hit ≪ B — candidate-driven corpus reads, media legs,
    * small triggers against byte-rule B in the tens of thousands)
    * drops the (B−hit) × L share of the walk. This probe measures the
    * bounded regime: an index at B×L dirs, a hit list of `HITS`
    * buckets, the same screen counted through both plans (direct =
    * cold median of 3 run FIRST; legacy = one page-cache-warm run —
    * both biases run against the claimed speedup; equality asserted).
    * `sbt "runMain graft.ScaleProbe listing 32"` — the size arg is
    * the LEVEL count; SPARK_GRAFT_LISTING_B / _ROWS / _HITS override
    * B (8192), band rows per level (100000), and hit-bucket count
    * (800).
    */
  def listingProbe(spark: SparkSession, levels: Long): Unit = {
    import graft.streaming.BatchIndex
    val b = sys.env.getOrElse("SPARK_GRAFT_LISTING_B", "8192").toLong
    val rowsPerLevel =
      sys.env.getOrElse("SPARK_GRAFT_LISTING_ROWS", "100000").toLong
    val hitN = sys.env.getOrElse("SPARK_GRAFT_LISTING_HITS", "800").toInt
    val dir = s"/tmp/graft_scaleprobe_lst_$levels/idx"
    // the build (B × levels files on local fs) dwarfs the measurement
    // — reuse a complete prior build (deterministic content), rebuild
    // otherwise; the dir is left in place for re-runs
    val complete = {
      val d = new java.io.File(s"$dir/band_bucket=0")
      d.isDirectory && d.list().count(_.startsWith("batch_id=")) ==
        levels && BatchIndex.bucketCountOf(spark, dir, -1L) == b
    }
    try {
      if (!complete) {
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"/tmp/graft_scaleprobe_lst_$levels"))
        (0L until levels).foreach { l =>
          val bands = spark.range(l * rowsPerLevel,
              (l + 1) * rowsPerLevel)
            .select(col("id").as("doc_id"),
              (col("id") % 4).cast("int").as("band_idx"),
              md5(col("id").cast("string")).as("band_hash"))
            .withColumn("band_bucket",
              pmod(xxhash64(col("band_hash")), lit(b)))
          BatchIndex.writePartition(bands, l, dir,
            bucketCol = Some("band_bucket"))
        }
        BatchIndex.ensureBucketMeta(spark, dir, b)
      }
      // a bounded-spread batch: hitN buckets spread across [0, B)
      val hit = (0 until hitN).map(i => i.toLong * b / hitN).distinct
      val cols = Seq("doc_id", "band_idx", "band_hash")
      def empty = spark.range(0).select(col("id").as("doc_id"),
        lit(0).cast("int").as("band_idx"),
        lit("").as("band_hash"))
      def legacy(): Long = spark.read.parquet(dir)
        .filter(col("band_bucket").isin(hit: _*)
          && col("batch_id") < levels)
        .select(cols.map(col): _*).count()
      def direct(): Long = BatchIndex.readBeforeBuckets(spark, dir,
        levels, cols, empty, "band_bucket", hit).count()
      def median3(f: () => Long): (Double, Long) = {
        val runs = (1 to 3).map(_ => timed(spark)(f()))
        (runs.map(_._2).sorted.apply(1), runs.head._1)
      }
      // DIRECT first, COLD (no warmup): every page-cache/dentry byte
      // the legacy run then re-reads is warm — the bias runs AGAINST
      // the claimed speedup. Legacy is one run, not a median: at probe
      // scale the whole-root read's driver-side partition resolution
      // (PartitioningUtils.resolvePartitions — single-threaded over
      // all B × L dirs) runs MINUTES; a median would triple a cost
      // the number's magnitude already makes unambiguous.
      val (tDirect, cDirect) = median3(() => direct())
      val (cLegacy, tLegacy) = timed(spark)(legacy())
      assert(cLegacy == cDirect,
        s"direct read lost rows: $cDirect vs $cLegacy")
      println(f"[scale-listing] B=$b levels=$levels " +
        f"dirs=${b * levels} hit=${hit.size} rows=$cLegacy " +
        f"legacy=$tLegacy%6.2fs direct(median3)=$tDirect%6.2fs " +
        f"speedup=${tLegacy / tDirect}%.1fx")
    } finally spark.catalog.clearCache()
  }

  /** The mega-component envelope, measured: a STAR component of n
    * members (hub doc 0 — the power-law worst case
    * [[graft.ext.CorpusGraph.BroadcastMemberMax]] exists for) next to
    * 3n/4 background chain pairs, driven through append and a
    * hub takedown. The star's member set exceeds the broadcast bound,
    * so every touched/member join runs the real shuffle fallback (no
    * test seam); purging the hub splits the star into singletons —
    * the maximal relabel/drop volume one takedown can cause (≈n label
    * rows leave the table).
    * `sbt "runMain graft.ScaleProbe graphstar 1000000"`.
    */
  def graphStarProbe(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    import graft.ext.CorpusGraph
    val root = s"/tmp/graft_scaleprobe_gstar_$n"
    val root2 = s"${root}_rebuild"
    Seq(root, root2).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(p)))
    // SPARK_GRAFT_STAR_BG scales the untouched background (chain docs
    // ≈ bg × n), setting the probe's touched-members/graph-members
    // ratio to ≈ 1/(1+bg) — the knob that locates the append-vs-full-
    // relabel crossover the routeFraction default encodes
    val bg = sys.env.getOrElse("SPARK_GRAFT_STAR_BG", "1").toLong
    val star = spark.range(1, n).select(lit(0L).as("doc_a"),
      col("id").as("doc_b"), lit("image").as("modality"))
    val chains = spark.range(n, (1 + bg) * n).filter(col("id") % 4 =!= 3)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"),
        lit("text").as("modality"))
    val base = star.unionByName(chains)
    val buildS = secondsOf(spark)(CorpusGraph.write(base, root))
    // twin root with identical on-disk state: the bounded and routed
    // append paths must start from the same graph to compare fairly
    // (an append mutates its root; a replay would find the labels
    // already merged and measure nothing)
    val rootR = s"${root}_routed"
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(rootR))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(rootR))
    // 10k new docs, each pairing into a star member: ONE touched
    // component with n members — every gated join above the bound
    val b = math.min(10000L, n / 2)
    val batch = spark.range(b).select((col("id") + 1).as("doc_a"),
      (lit(2 * n) + col("id")).as("doc_b"), lit("text").as("modality"))
    // bounded path (routing disabled): the r15 measurement — star-edge
    // labeling dragging ~n members
    val savedFrac = CorpusGraph.routeFraction
    val savedMin = CorpusGraph.routeMinMembers
    var boundedReport: CorpusGraph.AppendReport = null
    var routedReport: CorpusGraph.AppendReport = null
    var appendS = 0.0
    var appendRoutedS = 0.0
    // try/finally: a timed append that throws at probe scale (heap-OOM
    // is documented at these sizes) must not strand the global routing
    // seams at the forced values for every later probe size in the JVM
    try {
      appendS = secondsOf(spark) {
        CorpusGraph.routeFraction = Double.MaxValue
        boundedReport = CorpusGraph.append(spark, root, batch, 1L)
      }
      // routed path on the twin root: force the full-relabel route (the
      // decision the production fraction makes at this measured ratio)
      appendRoutedS = secondsOf(spark) {
        CorpusGraph.routeFraction = 0.0
        CorpusGraph.routeMinMembers = 0L
        routedReport = CorpusGraph.append(spark, rootR, batch, 1L)
      }
    } finally {
      CorpusGraph.routeFraction = savedFrac
      CorpusGraph.routeMinMembers = savedMin
    }
    val memberRatio = boundedReport.touchedMembers.toDouble /
      math.max(routedReport.graphMembers, 1L)
    val rebuildS = secondsOf(spark)(
      CorpusGraph.write(base.unionByName(batch), root2))
    val mismatch = CorpusGraph.readLabels(spark, root)
      .join(CorpusGraph.readLabels(spark, root2),
        Seq("doc_id", "label"), "left_anti").count() +
      CorpusGraph.readLabels(spark, root2)
        .join(CorpusGraph.readLabels(spark, root),
          Seq("doc_id", "label"), "left_anti").count()
    // routed ≡ bounded ≡ rebuild (three labelings of one pair set)
    val mismatchRouted = CorpusGraph.readLabels(spark, rootR)
      .join(CorpusGraph.readLabels(spark, root2),
        Seq("doc_id", "label"), "left_anti").count() +
      CorpusGraph.readLabels(spark, root2)
        .join(CorpusGraph.readLabels(spark, rootR),
          Seq("doc_id", "label"), "left_anti").count()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(rootR))
    // hub takedown: the star's pair rows all touch doc 0, so the
    // component splits to singletons and ~n label rows drop
    val (out, purgeS) = timed(spark)(
      CorpusGraph.purge(spark, root, Seq(0L).toDF("doc_id"), audit = false))
    val (stale, auditS) =
      timed(spark)(CorpusGraph.staleLabelCount(spark, root))
    println(f"[scale-graphstar] n=$n%-8d starPairs=${n - 1}%-9d " +
      f"build=$buildS%7.1fs append_10k=$appendS%6.1fs " +
      f"appendRouted=$appendRoutedS%6.1fs " +
      f"memberRatio=$memberRatio%.2f " +
      f"(wouldRoute@default=${memberRatio > CorpusGraph.FullRelabelRouteFraction}) " +
      f"routedMatch=${mismatchRouted == 0} " +
      f"rebuild=$rebuildS%7.1fs labelsMatch=${mismatch == 0} " +
      f"hubPurge=$purgeS%6.1fs pairsRemoved=${out.pairRowsRemoved} " +
      f"labelsDropped=${out.labelRowsRemoved} " +
      f"relabeled=${out.labelsChanged} " +
      f"parts=${out.partsRewritten}rw+${out.partsDeleted}del/" +
      f"${out.partsTotal} leftover=${out.leftover} " +
      f"audit=$auditS%6.1fs stale=$stale")
    Seq(root, root2).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(p)))
    spark.catalog.clearCache()
  }

  /** Span-dedup cost at corpus size n: the gram stream is one row per
    * token position (~55/doc here), shuffled on an 8-byte xxhash64 key;
    * the planted near-dup pairs (ids ≡ 1 mod 17) make ~12 % of docs
    * carry long duplicated prefixes, so the dup-only join has real
    * traffic. `sbt "runMain graft.ScaleProbe spans 320000 1280000"`.
    */
  def spanProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val time = new TimedRows(spark, f"[scale-spans] n=$n%-8d", 18, "agg")
    time("dup_span_report") {
      Dedup.dupSpanReport(docs).agg(sum("dup_spans")).head().getLong(0)
    }
    time("dup_span_scrub") {
      Dedup.dupSpanScrub(docs).agg(sum("tokens_removed")).head().getLong(0)
    }
    docs.unpersist()
    spark.catalog.clearCache()
  }

  /** Winnow fingerprint extraction + match join at corpus size n —
    * the containment-detection cost shape (SCALING.md).
    */
  def winnowProbe(spark: SparkSession, n: Long): Unit = {
    import graft.ext.Winnow
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val time = new TimedRows(spark, f"[winnow] n=$n%-8d", 22)
    time("fingerprints") {
      // read the aggregate VALUE — count() would let column pruning
      // drop the fingerprint computation entirely
      Winnow.fingerprintReport(docs)
        .agg(sum(col("fp_checksum"))).head().getLong(0)
      1L
    }
    time("matches") { Winnow.matches(docs).count() }
    docs.unpersist()
    spark.catalog.clearCache()
  }

  /** Native BPE tokenization throughput at corpus size n with a table
    * trained once on a 100k-doc sample (SCALING.md).
    */
  def bpeTokProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val (merges, tTrain) = timed(spark)(graft.ext.Bpe.trainMerges(
      synthDocs(spark, math.min(n, 100000L)), k = 32))
    val (toks, tApply) = timed(spark)(
      graft.ext.Bpe.tokenizeReport(docs, merges)
        .agg(sum(col("n_bpe_tokens"))).head().getLong(0))
    println(f"[bpetok] n=$n%-8d train(k=32)=$tTrain%7.2fs apply=$tApply%7.2fs" +
      f" tokens=$toks (${toks / tApply / 1e6}%.1f M tok/s)")
    docs.unpersist()
    spark.catalog.clearCache()
  }

  /** DSIR weighting + semantic decontamination at corpus scale: dsir is
    * one bigram scan + a bucket-table broadcast; semantic decontam is a
    * 1000-vector benchmark broadcast against a corpus 10× smaller than
    * `n` (the realistic shape: eval sets are tiny, corpora huge).
    */
  def curationProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val (feats, tDsir) = timed(spark)(graft.ext.Curation.dsirWeights(docs)
      .agg(sum("n_feats")).head().getLong(0))
    println(f"[curation] n=$n%-8d dsir=$tDsir%7.2fs " +
      f"bigrams=$feats (${feats / tDsir / 1e6}%.1f M feats/s)")
    docs.unpersist()
    val emb = synthEmbeddings(spark, math.max(n / 10, 2000)).persist()
    val ne = emb.count()
    val (flagged, tSem) = timed(spark)(graft.ext.Curation
      .semanticDecontam(emb, nBench = 1000, tau = 0.95).count())
    println(f"[curation] vecs=$ne%-8d semantic_decontam(bench=1000)=" +
      f"$tSem%7.2fs flagged=$flagged " +
      f"(${(ne - 1000) * 1000 / tSem / 1e6}%.1f M pairs/s)")
    emb.unpersist()
    spark.catalog.clearCache()
  }

  /** Exact vs theta-sketch source-overlap at n docs: the exact matrix
    * shuffles the full distinct-(source, gram) volume twice; the sketch
    * pre-filters grams map-side to 1/mod of that volume before anything
    * shuffles, for the same O(sources²) answer. Prints both runtimes
    * and both shuffled-gram volumes plus the worst absolute Jaccard
    * deviation across pairs the sketch retains.
    */
  def overlapProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val exact = graft.ext.Curation.sourceOverlap(docs)
      .select(col("source_a"), col("source_b"), col("jaccard")).persist()
    val (nPairsExact, tExact) = timed(spark)(exact.count())
    val approx = graft.ext.Curation.sourceOverlapApprox(docs)
      .select(col("source_a"), col("source_b"), col("jaccard_est"))
      .persist()
    val (nPairsApprox, tApprox) = timed(spark)(approx.count())
    val fullGrams = docs.select(col("source"),
        explode(graft.ext.TextAnalysis.shingles(col("text"))).as("g"))
      .distinct().count()
    val sampledGrams = docs.select(col("source"),
        explode(graft.ext.TextAnalysis.shingles(col("text"))).as("g"))
      .select(col("source"), graft.ext.Hashing.h32(col("g")).as("h"))
      .filter(col("h") % graft.ext.Curation.OverlapSampleMod === 0)
      .distinct().count()
    val maxDev = exact.join(approx, Seq("source_a", "source_b"))
      .agg(max(abs(col("jaccard") - col("jaccard_est")))).head().getDouble(0)
    println(f"[overlap] n=$n%-8d exact=$tExact%7.2fs (grams=$fullGrams) " +
      f"approx=$tApprox%7.2fs (grams=$sampledGrams, " +
      f"${fullGrams.toDouble / math.max(sampledGrams, 1)}%.0fx less) " +
      f"pairs=$nPairsExact/$nPairsApprox maxJaccardDev=$maxDev%.4f")
    exact.unpersist(); approx.unpersist(); docs.unpersist()
    spark.catalog.clearCache()
  }

  /** Fuzzy-linkage throughput at n distinct keys: synthetic email-like
    * strings, a typo'd twin for every 13th key. Fan-out is ~len
    * deletion variants per key; the join carries variant-bucket
    * candidates only (recall for distance ≤ 1 is structural, so the
    * planted-pair count is exact).
    */
  def linkProbe(spark: SparkSession, n: Long): Unit = {
    val base = spark.range(n).select(
      concat(lit("user"), col("id").cast("string"), lit("@ex"),
        pmod(col("id"), lit(97)).cast("string"), lit(".com")).as("key"),
      col("id"))
    val clean = base.select("key").persist()
    // every 13th key gets a deterministic substitution typo mid-string
    val dirty = base.filter(col("id") % 13 === 0)
      .select(concat(col("key").substr(lit(1), lit(3)), lit("Q"),
        col("key").substr(lit(5), length(col("key")))).as("key"))
      .persist()
    val (nc, nd) = (clean.count(), dirty.count())
    val (links, secs) =
      timed(spark)(graft.operators.FuzzyLink.linkage(clean, dirty).count())
    println(f"[link] clean=$nc%-8d dirty=$nd%-7d links=$links " +
      f"time=$secs%6.1fs (${nc / secs / 1000}%.0f k keys/s)")
    clean.unpersist(); dirty.unpersist()
    spark.catalog.clearCache()
  }

  /** Deterministic event stream shaped like the fixture `events` table:
    * roughly time-ordered over 30 days, ~[[n]]/users events per user,
    * the fixture's 5-value event_type domain, and the props JSON shape.
    */
  /** Source-cap probe: the same rank-filter with Catalyst's
    * WindowGroupLimit pushdown disabled vs enabled. Disabled, every row
    * shuffles to its source's reducer (20 hot keys carry the corpus);
    * enabled, each input partition pre-prunes to its own top-cap per
    * source, so the exchange carries O(sources × cap × partitions).
    */
  def capProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    spark.conf.set(key, -1)
    val (r1, t1) = timed(spark)(graft.ext.Curation.sourceCap(docs).count())
    spark.conf.set(key, 1000) // Spark default
    val (r2, t2) = timed(spark)(graft.ext.Curation.sourceCap(docs).count())
    require(r1 == r2, s"pushdown changed the result: $r1 vs $r2")
    val plan = graft.ext.Curation.sourceCap(docs)
      .queryExecution.executedPlan.toString
    require(plan.contains("WindowGroupLimit"), "expected group-limit node")
    println(f"capProbe n=$n%d kept=$r2%d " +
      f"noPushdown=$t1%.2fs windowGroupLimit=$t2%.2fs")
    docs.unpersist()
    ()
  }

  def synthEvents(spark: SparkSession, n: Long,
      users: Long = 0L): DataFrame = {
    val nUsers = if (users > 0) users else math.max(n / 64L, 16L)
    val baseMicros = 1704067200000000L // 2024-01-01 00:00:00 UTC
    val spanMicros = 30L * 86400L * 1000000L
    val types = array(Seq("signup", "click", "error", "view", "purchase")
      .map(lit): _*)
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(baseMicros)
        + col("id") * lit(spanMicros / math.max(n, 1L))
        + pmod(xxhash64(col("id")), lit(60000000L))).as("ts"),
      pmod(col("id") * 2654435761L, lit(nUsers)).as("user_id"),
      element_at(types,
        (pmod(xxhash64(col("id"), lit(7)), lit(5)) + 1).cast("int"))
        .as("event_type"),
      round(pmod(xxhash64(col("id"), lit(11)), lit(100000))
        .cast("double") / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(col("id"), lit(100)).cast("string"),
        lit("}")).as("props"))
  }

  /** The restored event surface at scale: enrich+DQ chain (map-side),
    * the one-pass 15-expectation suite aggregate, sessionization (one
    * user_id exchange), hourly tumbling windows, and the anomaly series.
    * Linear wall-clock across sizes = the 100 TB posture holds.
    */
  def eventsProbe(spark: SparkSession, n: Long): Unit = {
    import graft.enrich.Enrich
    import graft.report.Analytics
    val events = synthEvents(spark, n).persist()
    events.count() // materialize outside the timings
    val time = new TimedRows(spark, f"[scale-events] n=$n%-9d", 18)
    val curated = Enrich.curated(events)
    time("curated") { curated.count() }
    time("dq_suite") {
      graft.dq.DqSuite.evaluate(curated, graft.dq.DqSuite.customersSuite)
        .count()
    }
    time("sessions") { Analytics.sessionsPerUser(events).count() }
    time("hourly_counts") { Analytics.hourlyEventCounts(events).count() }
    time("hourly_anomalies") { Analytics.hourlyAnomalies(events).count() }
    events.unpersist()
  }

  /** Corpus-statistics probe (round 9): PMI collocations, token
    * entropy, covariance, and the log-derived ops at growing n —
    * verifies wall-clock follows the scan (the shuffles are
    * vocabulary-/d²-/key-shaped, not corpus-shaped). Run with
    * `sbt "runMain graft.ScaleProbe stats 200000 800000"`.
    */
  def statsProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val time = new TimedRows(spark, f"[scale-stats] n=$n%-9d", 22)
    time("pmi_collocations") {
      graft.ext.TextAnalysis.pmiCollocations(docs).count()
    }
    time("token_entropy") {
      graft.ext.TextAnalysis.tokenEntropy(docs).count()
    }
    time("quality_calibrated") {
      graft.ext.TextAnalysis.qualityCalibrated(docs).count()
    }
    time("length_outliers") {
      graft.ext.TextAnalysis.lengthOutliers(docs).count()
    }
    val emb = synthEmbeddings(spark, n / 4).persist()
    emb.count()
    time("embed_covariance") {
      graft.ext.EmbedStats.covariance(emb).count()
    }
    emb.unpersist()
    // dense per-user stream (~2000 events/user over 30 days ≈ 21-min
    // mean gap) so sessions actually span multiple events
    val events = synthEvents(spark, n, math.max(n / 2000L, 4L)).persist()
    events.count()
    time("session_texts") {
      graft.report.Analytics.sessionTexts(events).count()
    }
    time("dialog_pairs") {
      graft.report.Analytics.dialogPairs(events).count()
    }
    time("decayed_engagement") {
      graft.report.Analytics.decayedEngagement(events).count()
    }
    events.unpersist()
    docs.unpersist()
  }

  private def dirStats(p: String): (Long, Long) = { // (bytes, parquet files)
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory)
        f.listFiles().map(walk).foldLeft((0L, 0L)) {
          case ((b1, n1), (b2, n2)) => (b1 + b2, n1 + n2) }
      else if (f.getName.endsWith(".parquet")) (f.length(), 1L)
      else (0L, 0L)
    walk(new java.io.File(p))
  }

  /** Filtered-recall vs selectivity probe — the known weak spot of
    * every IVF-filtered design: a selective metadata predicate thins
    * each probed cell's candidate pool, so filtered recall can fall
    * off a cliff while unfiltered recall at the same nProbe stays
    * high. Labels here are hash-assigned INDEPENDENT of the cluster
    * geometry (the hard case — a geometry-aligned label would hide
    * the loss), and selectivity sweeps 1/4 → 1/256 by label count.
    * Reports mean recall@5 (ppm) of [[Similarity.annRecallFiltered]]
    * against the same-predicate exact scan, next to the unfiltered
    * [[Similarity.annRecallReport]] at the identical index + nProbe.
    * `sbt "runMain graft.ScaleProbe recallf 5120000"`.
    */
  def filteredRecallProbe(spark: SparkSession, n: Long): Unit = {
    Seq(4, 16, 64, 256).foreach { nLabels =>
      val emb = synthEmbeddings(spark, n)
        .withColumn("label", concat(lit("l"),
          pmod(xxhash64(col("vec_id"), lit(7)), lit(nLabels))
            .cast("string")))
        .persist()
      emb.count()
      val cells = Similarity.ivfCellsFor(n)
      val nProbe = Similarity.ivfProbesFor(cells)
      val path = s"/tmp/graft_scaleprobe_recallf_${n}_$nLabels"
      val buildS = secondsOf(spark)(Similarity.writeIvfIndex(emb, path, cells))
      val (fRows, fS) = timed(spark)(
        Similarity.annRecallFiltered(spark, path, emb, nProbe).collect())
      val (uRows, uS) = timed(spark)(
        Similarity.annRecallReport(spark, path, emb, nProbe).collect())
      def mean(rows: Array[org.apache.spark.sql.Row], c: String): Long =
        if (rows.isEmpty) 0L else rows.map(_.getAs[Long](c)).sum / rows.length
      println(f"[recallf] n=$n%-8d labels=$nLabels%-4d " +
        f"selectivity=${1000000 / nLabels}%6d ppm build=$buildS%6.1fs | " +
        f"filtered recall=${mean(fRows, "recall_ppm")}%7d ppm " +
        f"mrr=${mean(fRows, "mrr_ppm")}%7d ppm (${fS}%5.1fs) | " +
        f"unfiltered recall=${mean(uRows, "recall_ppm")}%7d ppm " +
        f"(${uS}%5.1fs)")
      // nProbe ladder at this selectivity: the recall-vs-work knob a
      // deployment turns when the filter thins its candidate pools —
      // reuses the index just built, and the exact ground truth (the
      // dominant corpus scan, nProbe-independent) computes ONCE
      if (nLabels == 64) {
        val defProbe = Similarity.ivfProbesFor(cells)
        val brute = Similarity.topKBruteForceFiltered(emb)
          .localCheckpoint()
        Seq(1, 2, 4, defProbe).distinct.foreach { np =>
          val (rows, s) = timed(spark)(Similarity.recallFrom(brute,
            Similarity.topKIvfFiltered(spark, path, emb, np)).collect())
          println(f"[recallf] n=$n%-8d labels=$nLabels%-4d nProbe=$np%-4d" +
            f" filtered recall=${mean(rows, "recall_ppm")}%7d ppm " +
            f"mrr=${mean(rows, "mrr_ppm")}%7d ppm (${s}%5.1fs)")
        }
        brute.unpersist()
      }
      emb.unpersist(blocking = true)
    }
  }

  /** Served-path probe: build each persisted index once at size n, then
    * pin that a SERVED query's read volume is index-slice-proportional
    * — probed cells / in-window days / term buckets — never
    * corpus-proportional. `sbt "runMain graft.ScaleProbe served 5120000"`.
    */
  def servedProbe(spark: SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.functions.input_file_name
    // ---- IVF: hard negatives + label-noise audit served from cells --
    val emb = synthEmbeddings(spark, n).persist()
    emb.count()
    val cells = Similarity.ivfCellsFor(n)
    val nProbe = Similarity.ivfProbesFor(cells)
    val ivfPath = s"/tmp/graft_scaleprobe_served_ivf_$n"
    val buildS =
      secondsOf(spark)(Similarity.writeIvfIndex(emb, ivfPath, cells))
    val (ivfBytes, ivfFiles) = dirStats(ivfPath)
    // unpersist BEFORE measuring: inputMetrics counts cache-block
    // reads too, and the synthesized corpus recomputes from range()
    // with zero file input — so the measured bytes are index-only
    emb.unpersist(blocking = true)
    // each serve's read volume is its recorded input total
    val (_, hn) = Metrics.record(spark)(
      Similarity.hardNegativesServed(spark, ivfPath, emb, nProbe).count())
    val (_, ln) = Metrics.record(spark)(
      Similarity.labelNoiseKnnServed(spark, ivfPath, emb, nProbe).count())
    val (_, fl) = Metrics.record(spark)(
      Similarity.topKIvfFiltered(spark, ivfPath, emb, nProbe).count())
    println(f"[served] n=$n%-8d ivf build=$buildS%7.1fs " +
      f"index=${ivfBytes / 1e6}%8.1fMB/$ivfFiles%d files | " +
      f"hard_neg serve=${hn.seconds}%6.2fs " +
      f"read=${hn.inputBytes / 1e6}%7.1fMB " +
      f"(${100.0 * hn.inputBytes / ivfBytes}%4.1f%% of index) | " +
      f"label_noise serve=${ln.seconds}%6.2fs " +
      f"read=${ln.inputBytes / 1e6}%7.1fMB " +
      f"(${100.0 * ln.inputBytes / ivfBytes}%4.1f%% of index) | " +
      f"filtered serve=${fl.seconds}%6.2fs " +
      f"read=${fl.inputBytes / 1e6}%7.1fMB " +
      f"(${100.0 * fl.inputBytes / ivfBytes}%4.1f%% of index)")

    // ---- HLL sketch index: 10-day window over a 30-day corpus -------
    val events = synthEvents(spark, n).persist()
    events.count()
    val hllPath = s"/tmp/graft_scaleprobe_served_hll_$n"
    val hllBuildS = secondsOf(spark)(
      graft.ext.SketchIndex.writeHllIndex(events, hllPath))
    val (hllBytes, hllFiles) = dirStats(hllPath)
    val day0 = events
      .agg(min(graft.ext.SketchIndex.dayCol(col("ts")))).head().getLong(0)
    val (_, hll) = Metrics.record(spark)(
      graft.ext.SketchIndex.distinctUsersOverRange(
        spark, hllPath, day0 + 10, day0 + 19).count())
    val hllFilesRead = spark.read.parquet(hllPath)
      .filter(col("day") >= day0 + 10 && col("day") <= day0 + 19)
      .select(input_file_name()).distinct().count()
    println(f"[served] n=$n%-8d hll build=$hllBuildS%7.1fs " +
      f"index=${hllBytes / 1e6}%8.1fMB/$hllFiles%d files | " +
      f"serve=${hll.seconds}%6.2fs read=${hll.inputBytes / 1e6}%7.1fMB " +
      f"files_read=$hllFilesRead/$hllFiles (10 of 30 days)")
    events.unpersist()

    // ---- BM25 postings: 3 terms of a bucketed postings index --------
    val nDocs = math.max(n / 4L, 100000L)
    val docs = synthDocs(spark, nDocs).persist()
    docs.count()
    val terms = Seq("w1", "w7", "w13")
    val bmPath = s"/tmp/graft_scaleprobe_served_bm25_$nDocs"
    val bmBuildS = secondsOf(spark) {
      graft.ext.Search.writeSearchIndex(docs, bmPath)
    }
    val (bmBytes, bmFiles) = dirStats(s"$bmPath/postings")
    val (dlBytes, _) = dirStats(s"$bmPath/doclen")
    val (_, bm) = Metrics.record(spark)(
      graft.ext.Search.bm25Served(spark, bmPath, terms).count())
    val termBuckets = terms.map(graft.ext.Search.bucketOf(_)).distinct
    val bmFilesRead = spark.read.parquet(s"$bmPath/postings")
      .filter(col("bucket").isin(termBuckets: _*))
      .select(input_file_name()).distinct().count()
    println(f"[served] ndocs=$nDocs%-7d bm25 build=$bmBuildS%7.1fs " +
      f"postings=${bmBytes / 1e6}%8.1fMB/$bmFiles%d files " +
      f"dl=${dlBytes / 1e6}%.1fMB | serve=${bm.seconds}%6.2fs " +
      f"read=${bm.inputBytes / 1e6}%7.1fMB " +
      f"postings_files_read=$bmFilesRead/$bmFiles " +
      f"(${termBuckets.size} of ${graft.ext.Search.NumBuckets} buckets)")
    docs.unpersist()
    spark.catalog.clearCache()
  }

  /** BoW near-dup cost at corpus size n — the oversized-block shard
    * guard under the worst case (word-salad docs over a 30-word vocab
    * cluster HARD in BoW space, so sign buckets are few and huge).
    * `sbt "runMain graft.ScaleProbe bow 320000 1280000"`.
    */
  def bowProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count()
    val (rows, secs) = timed(spark)(Dedup.bowNearDups(docs).count())
    println(f"[bow] n=$n%-8d bow_near_dups $secs%7.2fs rows=$rows")
    docs.unpersist()
    spark.catalog.clearCache()
  }

  /** Natural-clustering corpus for the BoW probe: `topics` disjoint
    * sub-vocabularies, each doc ~60–100 words drawn from its topic's
    * vocab with a Zipf-ish skew (min of two uniforms → frequent words
    * dominate), near-dups planted like [[synthDocs]]. Same-topic docs
    * share their frequent words, so hashed-BoW vectors cluster BY
    * TOPIC — the realistic middle ground between the fixture corpus
    * and the degenerate word salad.
    */
  def synthNaturalDocs(spark: SparkSession, n: Long,
      topics: Int = 200, topicVocab: Int = 120): DataFrame = {
    val seed = when(col("id") % 17 === 1, col("id") - 1).otherwise(col("id"))
    val topic = pmod(xxhash64(seed, lit(11)), lit(topics))
    val words = transform(sequence(lit(1), lit(60) + pmod(seed, lit(40))),
      i => {
        val rank = least(
          pmod(xxhash64(seed, i, lit(1)), lit(topicVocab)),
          pmod(xxhash64(seed, i, lit(2)), lit(topicVocab)))
        concat(lit("t"), topic.cast("string"),
          lit("w"), rank.cast("string"))
      })
    spark.range(n).select(
      col("id").as("doc_id"),
      concat(array_join(words, " "),
        when(col("id") % 17 === 1, concat(lit(" tail"), col("id")))
          .otherwise(lit(""))).as("text"))
  }

  /** Takedown purge cost on the persisted IVF index at n vectors:
    * build once, then purge three DISJOINT spread-out id sets
    * (k = 10 / 100 / 1000 — residue classes of stride n/k, so each
    * round removes exactly k live vectors). The claim under test:
    * purge IO is affected-partition-proportional (≤ min(k, cells)
    * of partsTotal), never index-proportional — the rewrite ratio and
    * the purge/build wall ratio are the printed evidence.
    * `sbt "runMain graft.ScaleProbe takedown 1280000 5120000"`.
    */
  def takedownProbe(spark: SparkSession, n: Long): Unit = {
    import graft.ext.Takedown
    val emb = synthEmbeddings(spark, n).persist()
    emb.count()
    val cells = Similarity.ivfCellsFor(n)
    val path = s"/tmp/graft_scaleprobe_td_$n"
    val buildS = secondsOf(spark)(Similarity.writeIvfIndex(emb, path, cells))
    println(f"[scale-takedown] n=$n%-8d cells=$cells build=$buildS%7.2fs")
    Seq(10L, 100L, 1000L).zipWithIndex.foreach { case (k, r) =>
      // odd stride: a multiple of the synthetic cluster modulus (32)
      // would pick ids of ONE cluster and touch a handful of cells —
      // a legal takedown list is cluster-arbitrary, the harder case
      val stride = math.max(1L, n / k) | 1L
      val ids = spark.range(k)
        .select(pmod(col("id") * stride + r, lit(n)).as("vec_id"))
      val (stats, purgeS) = timed(spark)(Takedown.purgeIndex(spark,
        s"$path/data", "vec_id", ids, Seq("cell", "batch_id")))
      val touched = stats.partsRewritten + stats.partsDeleted
      val ratio = touched.toDouble / stats.partsTotal
      println(f"[scale-takedown] n=$n%-8d k=$k%-5d purge=$purgeS%6.2fs " +
        f"removed=${stats.rowsRemoved} parts=$touched/${stats.partsTotal} " +
        f"(ratio $ratio%.3f, purge/build ${purgeS / buildS}%.2fx)")
    }
    emb.unpersist()
    spark.catalog.clearCache()
  }

  /** Perceptual image near-dup cost at n docs: the planted-twin PNG
    * corpus (ids ≡ 7 mod 10 are perceptual twins of id − 7) through
    * encode → real javax.imageio decode → aHash → band join. The
    * decode is embarrassingly parallel (two chained mapPartitions, no
    * shuffle); the only shuffle is the 4-band bucket join at n/2¹⁶
    * docs per bucket — wall should track n near-linearly.
    * `sbt "runMain graft.ScaleProbe imagedup 80000 320000"`.
    */
  def imageDupProbe(spark: SparkSession, n: Long): Unit = {
    val docs = spark.range(n).select(col("id").as("doc_id"))
    val (pairs, wall) =
      timed(spark)(graft.ext.Multimodal.imageNearDups(docs).count())
    println(f"[scale-imagedup] n=$n%-8d pairs=$pairs " +
      f"wall=$wall%7.2fs (${n / wall}%.0f docs/s encode+decode+join)")
    // release this size's persisted fingerprint table (Scratch.track is
    // scope-gated and no scope is active here) — heavy-neighbor hygiene
    spark.catalog.clearCache()
  }

  /** Audio near-dup cost at n docs — the WAV twin of
    * [[imageDupProbe]]: encode → real javax.sound decode →
    * energy-delta fingerprint → the same shared band join.
    * `sbt "runMain graft.ScaleProbe audiodup 320000 1280000"`.
    */
  def audioDupProbe(spark: SparkSession, n: Long): Unit = {
    val docs = spark.range(n).select(col("id").as("doc_id"))
    val (pairs, wall) =
      timed(spark)(graft.ext.Multimodal.audioNearDups(docs).count())
    println(f"[scale-audiodup] n=$n%-8d pairs=$pairs " +
      f"wall=$wall%7.2fs (${n / wall}%.0f docs/s encode+decode+join)")
    spark.catalog.clearCache() // release the fingerprint persist
  }

  /** Bloom decontam screen cost at n corpus docs against a FIXED
    * 2000-doc benchmark with a DISJOINT vocabulary — every flag is a
    * false positive, so the probe measures (a) the corpus-scan-
    * proportional screen cost with its constant 2¹⁵-bit state, and
    * (b) the realized FP rate against the (fill)^k theory line.
    * `sbt "runMain graft.ScaleProbe bloom 1280000 5120000"`.
    */
  def bloomProbe(spark: SparkSession, n: Long): Unit = {
    // q-vocabulary corpus: shares no gram with the w-vocabulary bench,
    // so every flag is a false positive by construction
    val vocab = array((0 until 30).map(i => lit(s"q$i")): _*)
    val words = transform(sequence(lit(1), lit(40) + pmod(col("id"), lit(30))),
      i => element_at(vocab,
        (pmod(xxhash64(col("id"), i), lit(30)) + 1).cast("int")))
    val corpus = spark.range(n).select(col("id").as("doc_id"),
      array_join(words, " ").as("text")).persist()
    val totGrams = corpus.select(
      explode(array_distinct(TextAnalysis.shingles(col("text"))))).count()
    for (benchDocs <- Seq(25L, 100L, 2000L)) {
      val bench = synthDocs(spark, benchDocs)
      val fill = graft.ext.Curation.bloomFillBits(bench).toDouble /
        graft.ext.Curation.BloomBits
      // the n_hits>0 filter drops only zero-hit docs, so the filtered
      // sum IS the corpus-total FP gram count
      val (out, wall) = timed(spark)(
        graft.ext.Curation.bloomDecontamAgainst(corpus, bench)
          .agg(count(lit(1)).as("d"), sum("n_hits").as("h")).head())
      val fpDocs = out.getLong(0)
      val fpGrams = if (out.isNullAt(1)) 0L else out.getLong(1)
      val k = graft.ext.Curation.BloomK
      println(f"[scale-bloom] n=$n%-8d bench=$benchDocs%-5d " +
        f"fill=$fill%.3f gramFP=${fpGrams.toDouble / totGrams}%.5f " +
        f"theory=${math.pow(fill, k)}%.5f " +
        f"fpDocs=${fpDocs * 100.0 / n}%.2f%% " +
        f"wall=$wall%6.2fs (${n / wall}%.0f docs/s)")
    }
    corpus.unpersist()
    spark.catalog.clearCache()
  }

  /** Video near-dup cost at n docs — GVID mux → demux → per-frame real
    * PNG decode ([[Multimodal.VFpFrames]]× the image probe's codec
    * work) → temporal-delta pooling → the same shared band join.
    * `sbt "runMain graft.ScaleProbe videodup 320000 1280000"`.
    */
  def videoDupProbe(spark: SparkSession, n: Long): Unit = {
    val docs = spark.range(n).select(col("id").as("doc_id"))
    val (pairs, wall) =
      timed(spark)(graft.ext.Multimodal.videoNearDups(docs).count())
    println(f"[scale-videodup] n=$n%-8d pairs=$pairs " +
      f"wall=$wall%7.2fs (${n / wall}%.0f docs/s mux+demux+decode+join)")
    spark.catalog.clearCache() // release the fingerprint persist
  }

  /** Served-media economics at n docs: build the unified fingerprint
    * index ONCE (the decode-heavy step — all three codecs), then serve
    * every screen and the cluster roll-up from it; contrast with the
    * in-flight cluster query that re-runs all three codec pipelines.
    * `sbt "runMain graft.ScaleProbe mediaserved 320000 1280000"`.
    */
  def mediaServedProbe(spark: SparkSession, n: Long): Unit = {
    val docs = spark.range(n).select(col("id").as("doc_id"))
    val path = java.nio.file.Files
      .createTempDirectory(s"mediafp_probe_$n").toString
    val tBuild =
      secondsOf(spark)(graft.ext.Multimodal.writeMediaFpIndex(docs, path))
    val served = graft.ext.Multimodal.MediaFpModalities.map { m =>
      val (p, t) =
        timed(spark)(graft.ext.Multimodal
          .mediaNearDupsServed(spark, path, m).count())
      f"$m=$t%.2fs/$p"
    }
    val (cs, tClusters) = timed(spark)(
      graft.ext.Multimodal.mediaDedupClustersServed(spark, path).count())
    spark.catalog.clearCache() // screens persist fingerprint frames
    val (ci, tInflight) = timed(spark)(
      graft.ext.Multimodal.mediaDedupClusters(docs).count())
    require(cs == ci, s"served clusters $cs != in-flight $ci")
    println(f"[mediaserved] n=$n%-8d build=$tBuild%7.2fs " +
      s"served(${served.mkString(" ")}) " +
      f"clusters_served=$tClusters%6.2fs " +
      f"clusters_inflight=$tInflight%7.2fs clusters=$cs")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(path))
    spark.catalog.clearCache()
  }

  /** BoW near-dup cost on the NATURAL-clustering corpus — the
    * word-salad probe is the degenerate case (a handful of giant
    * buckets); this one pins that topic-shaped clustering (hundreds of
    * mid-sized hot buckets) stays linear another 4× up.
    * `sbt "runMain graft.ScaleProbe bownat 1280000 5120000"`.
    */
  def bowNaturalProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthNaturalDocs(spark, n).persist()
    docs.count()
    val (rows, secs) = timed(spark)(Dedup.bowNearDups(docs).count())
    println(f"[bownat] n=$n%-8d bow_near_dups $secs%7.2fs rows=$rows")
    docs.unpersist()
    spark.catalog.clearCache()
  }

  /** The default sweep: the heavy text operators over one N-doc
    * synthetic corpus.
    */
  def corpusProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count() // materialize corpus outside the timings
    val time = new TimedRows(spark, f"[scale] n=$n%-8d", 22)
    time("text_stats") { TextAnalysis.textStats(docs).count() }
    time("quality_gate") { TextAnalysis.qualityFilter(docs).count() }
    time("normalize_md5") {
      docs.select(md5(graft.ext.Curation.normalizeText(col("text")))
        .as("h")).filter(col("h").isNotNull).count()
    }
    time("minhash_near_dups") { Dedup.minhashNearDups(docs).count() }
    // 24-bit blocking saturates quadratically past ~1.28M on this
    // near-identical corpus (SCALING.md) — probe it only below that
    if (n <= 1280000L)
      time("simhash_near_dups") { Dedup.simhashNearDups(docs).count() }
    time("simhash_adaptive") {
      Dedup.simhashNearDupsAdaptive(docs, Some(n)).count() }
    time("simhash60_near_dups") { Dedup.simhash60NearDups(docs).count() }
    time("exact_dedup") { Dedup.exactSummary(docs).count() }
    time("novelty") { TextAnalysis.noveltyReport(docs).count() }
    time("soft_dedup_weights") { Dedup.softDedupWeights(docs).count() }
    time("keep_best") { Dedup.keepBestSurvivors(docs).count() }
    docs.unpersist()
    spark.catalog.clearCache()
  }

  /** Probe per mode name (`sbt "runMain graft.ScaleProbe MODE N..."`);
    * with no mode, [[corpusProbe]] runs.
    */
  private val probes: Map[String, (SparkSession, Long) => Unit] = Map(
    "ann" -> annProbe _, "audiodup" -> audioDupProbe _,
    "bloom" -> bloomProbe _, "bow" -> bowProbe _,
    "bownat" -> bowNaturalProbe _, "bpetok" -> bpeTokProbe _,
    "cadence" -> cadenceProbe _, "cap" -> capProbe _,
    "curation" -> curationProbe _, "events" -> eventsProbe _,
    "graph" -> graphProbe _, "graphstar" -> graphStarProbe _,
    "imagedup" -> imageDupProbe _, "ivf" -> ivfIndexProbe _,
    "ivfrebuild" -> ivfRebuildProbe _, "joins" -> joinsProbe _,
    "levels" -> levelsProbe _, "link" -> linkProbe _,
    "listing" -> listingProbe _, "lsh" -> lshSkewProbe _,
    "mediaserved" -> mediaServedProbe _, "overlap" -> overlapProbe _,
    "pq" -> pqProbe _, "rebucket" -> rebucketProbe _,
    "recallf" -> filteredRecallProbe _, "served" -> servedProbe _,
    "spans" -> spanProbe _, "stats" -> statsProbe _,
    "streamread" -> streamReadProbe _, "takedown" -> takedownProbe _,
    "videodup" -> videoDupProbe _, "winnow" -> winnowProbe _)

  def main(args: Array[String]): Unit = {
    val (probe, sizeArgs) = args.headOption.flatMap(probes.get) match {
      case Some(p) => (p, args.drop(1))
      case None => (corpusProbe _, args)
    }
    sizeArgs.find(_.toLongOption.isEmpty).foreach { bad =>
      System.err.println(s"unknown mode or size '$bad'; modes: " +
        probes.keys.toSeq.sorted.mkString(" "))
      sys.exit(2)
    }
    val sizes = if (sizeArgs.nonEmpty) sizeArgs.map(_.toLong).toSeq
      else Seq(50000L, 200000L)
    // probes default partitions = cores; the graph probes at 32 M need
    // more under small heaps (per-task memory share = 0.6 × heap /
    // cores — partitions must keep each task's join state under it;
    // measured in SCALING.md "Corpus graph driver memory"): set
    // SPARK_GRAFT_CONF=spark.sql.shuffle.partitions=N
    val spark = SessionTuning.session(logLevel = "ERROR")
    sizes.foreach(probe(spark, _))
    spark.stop()
  }
}
