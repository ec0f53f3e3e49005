package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}

/** Scale probe ("measure, don't guess"): synthesize an N-doc corpus with
  * planted near-dups entirely as column expressions (no fixture bound),
  * then time the heavy ext operators at increasing N. Every timing goes
  * through [[Metrics.record]]. Results recorded in SCALING.md.
  *
  * Keep rule: a mode stays only while some constant or sizing function
  * in `src/main` cites that mode's SCALING.md measurement as the source
  * of its value, so changing the value means running the probe again
  * (the table in [[probes]] names each one). A mode that records a cost
  * shape or a fix that has shipped is deleted once its numbers are in
  * SCALING.md; the section keeps a pointer to the commit that held it.
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
    // scoped: the audit is a monitor — its scratch frames must not
    // ride into the next phase's memory envelope
    val (touched, auditTouchedS) = timed(spark)(graft.ext.Scratch.scopedAll(
      CorpusGraph.staleLabelCountTouched(spark, root, batchIds)))
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
    * compacted ([[graft.streaming.BatchIndex.compact]]) and
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
        val report =
          BatchIndex.report(spark, DedupStream.BandIndex, s"$dir/index").get
        // compaction recovery, priced on the worst layout only
        val (compactS, trigAfter) =
          if (levels == 32)
            (secondsOf(spark)(BatchIndex.compact(spark,
              DedupStream.BandIndex, s"$dir/index")),
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

  /** The long-horizon proof that the WIRED cadence keeps triggers
    * fast: `batches` micro-batches of fresh docs stream through
    * [[graft.streaming.DedupStream.processBatch]] on TWO roots — root
    * A runs [[graft.streaming.BatchIndex.maintain]] between batches
    * (the hook RunStream wires after every bounded run; compacts only
    * when the diagnostics say so), root B never compacts — and every
    * batch's trigger is timed on both. Without the cadence, partition
    * dirs accrete B × L and the trigger decays along the measured
    * file-count law; with it, trigger time stays flat and the
    * compactions fire exactly when `CompactFileBudget`/
    * `CompactAfterLevels` say. Batches carry DISTINCT docs (the index
    * must grow). Result-neutrality is asserted (equal kept counts and
    * index content row counts). `sbt "runMain graft.ScaleProbe
    * cadence 48"` — the size arg is the BATCH COUNT; B is 1024 and
    * each batch carries 1000 docs, the values of SCALING.md's cadence
    * run.
    */
  def cadenceProbe(spark: SparkSession, batches: Long): Unit = {
    import graft.streaming.{BatchIndex, DedupStream}
    val b = 1024L
    val dpb = 1000L
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
        val m = BatchIndex.maintain(spark, DedupStream.BandIndex,
          s"$withRoot/index")
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

  private def dirStats(p: String): (Long, Long) = { // (bytes, parquet files)
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory)
        f.listFiles().map(walk).foldLeft((0L, 0L)) {
          case ((b1, n1), (b2, n2)) => (b1 + b2, n1 + n2) }
      else if (f.getName.endsWith(".parquet")) (f.length(), 1L)
      else (0L, 0L)
    walk(new java.io.File(p))
  }

  /** The default sweep: the heavy text operators over one N-doc
    * synthetic corpus.
    */
  def corpusProbe(spark: SparkSession, n: Long): Unit = {
    val docs = synthDocs(spark, n).persist()
    docs.count() // materialize corpus outside the timings
    def time(name: String)(f: => Long): Unit = {
      val (rows, secs) = timed(spark)(f)
      println(f"[scale] n=$n%-8d $name%-22s $secs%7.2fs rows=$rows")
    }
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
    * with no mode, [[corpusProbe]] runs (the source of
    * [[Dedup.SimHashAdaptiveMaxDocs]]). Each mode is the measurement
    * behind the values named beside it.
    */
  private[graft] val probes: Map[String, (SparkSession, Long) => Unit] = Map(
    // Similarity.numPlanesFor, ivfCellsFor / ivfProbesFor
    "ann" -> annProbe _,
    // BatchIndex.CompactAfterLevels / CompactFileBudget
    "cadence" -> cadenceProbe _, "levels" -> levelsProbe _,
    // CorpusGraph.BroadcastMemberMax
    "graph" -> graphProbe _,
    // CorpusGraph.FullRelabelRouteFraction
    "graphstar" -> graphStarProbe _,
    // ProductQuant.codebookKFor / shortlistFor
    "pq" -> pqProbe _,
    // DedupStream.BandBuckets and BatchIndex's bucket-count sizing rule
    "streamread" -> streamReadProbe _)

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
