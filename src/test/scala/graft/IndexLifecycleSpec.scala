package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{ProductQuant, Similarity, Takedown, Versioned}

/** The ANN index lifecycle: drift-triggered rebuild with atomic swap.
  * Pins (a) snapshot isolation — a served query straddling the swap
  * sees entirely the old index or entirely the new one, never a mix;
  * (b) recall restoration — a planted drifted batch that degrades
  * served recall under the frozen centroids is fully recovered by
  * [[Similarity.rebuildIvfIndex]]; (c) crash posture — an uncommitted
  * stage dir is invisible to readers and superseded in place; (d)
  * retention + takedown — retained snapshots are enumerable and a
  * propagate over all of them leaves no copy of a purged id; and (e)
  * the PQ codebook artifact follows the same stage→commit→retire
  * lifecycle.
  */
class IndexLifecycleSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val emb = Tables(spark, Sf0001).embeddings

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The planted drift: the fixture vectors shifted by +0.25 per
    * component (the `ann_index_drift` batch), appended under fresh
    * vec_ids — new data the frozen centroids no longer describe.
    */
  private def driftedBatch = emb
    .select((col("vec_id") + 10000L).as("vec_id"), col("label"),
      transform(col("embedding").cast("array<double>"),
        x => x + lit(0.25)).as("embedding"))

  /** Exact cosine top-k over everything the index stores, computed
    * driver-side (bounded fixture) — the ground truth for recall.
    */
  private def bruteTopK(path: String,
      queries: Seq[(Long, Array[Double])], k: Int): Map[Long, Set[Long]] = {
    val corpus = spark.read.parquet(
      s"${Versioned.resolve(spark, path)}/data")
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    queries.map { case (qid, qv) =>
      qid -> corpus.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    }.toMap
  }

  private def servedTopK(path: String, queries: Seq[(Long, Array[Double])],
      k: Int): Map[Long, Set[Long]] = {
    import spark.implicits._
    val q = queries.toDF("vec_id", "v")
      .select(col("vec_id"), col("v"),
        sqrt(aggregate(transform(col("v"), x => x * x),
          lit(0.0), (acc, x) => acc + x)).as("nrm"))
    Similarity.topKIvfServedFor(q, path,
        nProbe = Similarity.ivfProbesFor(Similarity.IvfCells))
      .filter(col("rank") <= k)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid -> rs.map(_.getLong(1)).toSet
      }
  }

  private def meanRecall(brute: Map[Long, Set[Long]],
      served: Map[Long, Set[Long]]): Double = {
    val per = brute.map { case (qid, truth) =>
      val got = served.getOrElse(qid, Set.empty)
      (truth & got).size.toDouble / truth.size
    }
    per.sum / per.size
  }

  test("planted drift degrades served recall; rebuild restores it and swaps atomically") {
    val path = tmpDir("ivflc")
    Similarity.writeIvfIndex(emb, path)
    // drift monitor flags the rebuild BEFORE the batch is ingested
    // (the ann_index_drift posture: the incoming batch against the
    // index-build distance distribution)
    val drift = Similarity.ivfIndexDrift(spark, path,
      driftedBatch.select(col("vec_id"), col("embedding"))).head()
    assert(drift.getAs[Boolean]("rebuild_recommended"),
      s"planted drift must trip the monitor: $drift")
    Similarity.appendToIvfIndex(driftedBatch, path, batchId = 1L)
    // recall over drifted queries, served under FROZEN centroids
    val queries = driftedBatch
      .filter(col("vec_id") % 17 === 3).limit(10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val truth = bruteTopK(path, queries, Similarity.TopK)
    val before = meanRecall(truth, servedTopK(path, queries, Similarity.TopK))

    // STRADDLING query: constructed (centroids read + probes collected)
    // against the pre-rebuild snapshot, executed only after the swap
    val straddler = Similarity.topKIvfServed(spark, path,
      nProbe = Similarity.ivfProbesFor(Similarity.IvfCells))
    val preSwapAnswer = Similarity.topKIvfServed(spark, path,
      nProbe = Similarity.ivfProbesFor(Similarity.IvfCells))
      .collect().map(_.toSeq).toSeq

    val v = Similarity.rebuildIvfIndex(spark, path)
    assert(v == 1L)
    assert(Versioned.resolve(spark, path) == s"$path/v-1")

    // the straddler resolved the OLD snapshot: same answer as before
    // the swap, bit for bit — old or new, never a mix
    assert(straddler.collect().map(_.toSeq).toSeq == preSwapAnswer,
      "query straddling the swap must serve its resolved snapshot")

    // a FRESH query sees the rebuilt index: appended rows are now in
    // cells that describe them, recall over the drifted queries is
    // restored (ground truth re-derived from the new snapshot — the
    // corpus content is identical, the rebuild only re-clusters)
    val truthAfter = bruteTopK(path, queries, Similarity.TopK)
    assert(truthAfter == truth, "rebuild must not change the corpus")
    val after = meanRecall(truth, servedTopK(path, queries, Similarity.TopK))
    info(f"served recall over drifted queries: before=$before%.3f after=$after%.3f")
    assert(after > before,
      f"rebuild must restore recall (before=$before%.3f after=$after%.3f)")
    assert(after == 1.0,
      f"re-clustered index must serve the drifted region exactly ($after%.3f)")
  }

  test("a fresh base build clears stale committed versions (full replace)") {
    val path = tmpDir("ivfbase")
    Similarity.writeIvfIndex(emb, path)
    Similarity.rebuildIvfIndex(spark, path)
    assert(Versioned.resolve(spark, path) == s"$path/v-1")
    // a NEW base build over the same path must serve ITSELF, not be
    // silently out-ranked by the leftover v-1 snapshot
    Similarity.writeIvfIndex(emb, path)
    assert(Versioned.resolve(spark, path) == path,
      "base build must not be shadowed by a stale rebuilt version")
    assert(!new java.io.File(s"$path/v-1").exists())
    assert(Similarity.topKIvfServed(spark, path).count() > 0)
  }

  test("uncommitted stage is invisible; crashed rebuild is superseded in place") {
    val path = tmpDir("ivfcrash")
    Similarity.writeIvfIndex(emb, path)
    val before = Similarity.topKIvfServed(spark, path)
      .collect().map(_.toSeq).toSeq
    // simulate a rebuild that died after writing data but before the
    // marker: a v-1 dir with garbage and NO _COMMITTED
    val stage = new java.io.File(s"$path/v-1"); stage.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/v-1/garbage"), Array[Byte](1, 2))
    assert(Versioned.resolve(spark, path) == path,
      "an uncommitted stage must not serve")
    assert(Similarity.topKIvfServed(spark, path)
      .collect().map(_.toSeq).toSeq == before)
    // the next rebuild claims the same version number, clears the
    // debris, and commits
    assert(Similarity.rebuildIvfIndex(spark, path) == 1L)
    assert(Versioned.resolve(spark, path) == s"$path/v-1")
    assert(!new java.io.File(s"$path/v-1/garbage").exists(),
      "crashed-stage debris must be cleared by the retry")
  }

  test("retention keeps current+previous; takedown purges every retained root") {
    val path = tmpDir("ivfret")
    Similarity.writeIvfIndex(emb, path)
    assert(Similarity.ivfRetainedRoots(spark, path) == Seq(path))
    Similarity.rebuildIvfIndex(spark, path)
    // one rebuild: flat base is the retained previous snapshot
    assert(Similarity.ivfRetainedRoots(spark, path)
      == Seq(path, s"$path/v-1"))
    Similarity.rebuildIvfIndex(spark, path)
    // two rebuilds: flat base retired, v-1 + v-2 retained
    assert(!new java.io.File(s"$path/data").exists(),
      "flat base must retire once two versions supersede it")
    assert(Similarity.ivfRetainedRoots(spark, path)
      == Seq(s"$path/v-1", s"$path/v-2"))
    Similarity.rebuildIvfIndex(spark, path)
    assert(Similarity.ivfRetainedRoots(spark, path)
      == Seq(s"$path/v-2", s"$path/v-3"))
    // takedown must cover EVERY retained snapshot: the previous
    // version is still a real, servable copy of the data
    import spark.implicits._
    val ids = Seq(3L, 17L).toDF("vec_id")
    val out = Takedown.propagate(spark, ids,
      Similarity.ivfRetainedRoots(spark, path).map(r =>
        Takedown.PartitionedIndex(s"ivf:$r", s"$r/data", "vec_id",
          Seq("cell", "batch_id"))))
    assert(out.size == 2)
    out.foreach { a =>
      assert(a.rowsRemoved == 2L, s"${a.artifact}: $a")
      assert(a.leftover == 0L, s"${a.artifact}: takedown incomplete")
    }
  }

  test("versioned retention invariant holds across many rebuild cycles") {
    // drive the lifecycle primitives directly through 7 cycles: after
    // every commit+retire, resolve points at the newest snapshot and
    // exactly {current, previous} survive (the flat base counting as
    // the zeroth snapshot until two versions pass it)
    val path = tmpDir("verprop")
    new java.io.File(s"$path/data").mkdirs()
    for (n <- 1L to 7L) {
      assert(Versioned.nextVersion(spark, path) == n)
      val stage = Versioned.versionDir(path, n)
      new java.io.File(s"$stage/data").mkdirs()
      Versioned.commit(spark, stage)
      Versioned.retire(spark, path, flatSubdirs = Seq("data"))
      assert(Versioned.resolve(spark, path) == stage)
      val expected =
        if (n == 1L) Seq(path, stage)
        else Seq(Versioned.versionDir(path, n - 1), stage)
      assert(Versioned.retainedRoots(spark, path, Seq("data")) == expected,
        s"cycle $n")
      assert(new java.io.File(s"$path/data").exists() == (n == 1L),
        "flat base retires exactly when two versions pass it")
    }
  }

  test("media fp index rebuild: atomic swap, snapshot-consistent roll-up, retained-root takedown") {
    import graft.ext.{Multimodal, Takedown}
    val docs = Tables(spark, Sf0001).documents
    val path = tmpDir("mediafplc")
    Multimodal.writeMediaFpIndex(docs, path)
    val before = Multimodal.mediaDedupClustersServed(spark, path)
      .collect().map(_.toSeq).toSeq
    // straddler: constructed against the flat base, executed after the
    // swap — must answer from its resolved snapshot
    val straddler = Multimodal.mediaDedupClustersServed(spark, path)
    // rebuild over a SHRUNKEN corpus so the snapshots differ (the
    // shrink is deliberate here, so it must be declared — the default
    // coverage validation rejects it; pinned in its own test below)
    val shrunk = docs.filter(col("doc_id") % 10 =!= 7)
    val v = Multimodal.rebuildMediaFpIndex(spark, shrunk, path,
      allowShrink = true)
    assert(v == 1L)
    assert(graft.ext.Versioned.resolve(spark, path) == s"$path/v-1")
    assert(straddler.collect().map(_.toSeq).toSeq == before,
      "roll-up straddling the swap must serve its resolved snapshot")
    // fresh reads see the rebuilt index: every twin's right leg is
    // gone, so no pairs and no clusters
    assert(Multimodal.mediaDedupClustersServed(spark, path).count() == 0)
    // retention + takedown surface: flat base is the retained previous
    assert(Multimodal.mediaFpRetainedRoots(spark, path)
      == Seq(path, s"$path/v-1"))
    import spark.implicits._
    val ids = Seq(3L).toDF("doc_id")
    // the artifact enumeration covers BOTH components of every root:
    // data (3 rows/doc — one per modality) and the band sidecar
    // (12 rows/doc — 4 bands × 3 modalities)
    val arts = Multimodal.mediaFpTakedownArtifacts(spark, path)
    assert(arts.map(_.name).toSet == Set(
      s"mediafp:$path", s"mediafp_bands:$path",
      s"mediafp:$path/v-1", s"mediafp_bands:$path/v-1"), arts.toString)
    // pre-purge truth: 4 band rows per decoded (modality, doc) pair
    val expectedBands = Multimodal.mediaFpRetainedRoots(spark, path)
      .map { r =>
        s"mediafp_bands:$r" -> spark.read
          .schema(Multimodal.MediaBandSchema).parquet(s"$r/bands")
          .filter(col("doc_id") === 3L).count()
      }.toMap
    assert(expectedBands.values.forall(_ > 0L), expectedBands.toString)
    val out = Takedown.propagate(spark, ids, arts)
    out.foreach { a =>
      assert(a.leftover == 0L, s"$a")
      assert(a.rowsRemoved ==
        (if (a.artifact.startsWith("mediafp_bands"))
          expectedBands(a.artifact) else 3L),
        s"$a")
    }
  }

  test("media fp rebuild rejects a corpus frame missing appended batches") {
    import graft.ext.Multimodal
    val docs = Tables(spark, Sf0001).documents
    val path = tmpDir("mediafpcov")
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    Multimodal.writeMediaFpIndex(base, path)
    Multimodal.appendToMediaFpIndex(batch, path, batchId = 1L)
    // the exact ADVICE failure mode: a caller rebuilding from the base
    // corpus alone (appended batch forgotten) — row counts against the
    // caller's own frame would pass; the snapshot-coverage validation
    // must fail instead of silently dropping the appended docs
    val ex = intercept[IllegalArgumentException] {
      Multimodal.rebuildMediaFpIndex(spark, base, path)
    }
    assert(ex.getMessage.contains("grown corpus"), ex.getMessage)
    // nothing promoted: the serving root is still the flat base and
    // still serves the appended docs
    assert(Versioned.resolve(spark, path) == path)
    assert(Multimodal.readMediaFpIndex(spark, path)
      .filter(col("doc_id") % 10 === 7).count() > 0)
    // the FULL grown corpus rebuilds cleanly and keeps every doc
    val v = Multimodal.rebuildMediaFpIndex(spark, docs, path)
    assert(v == 1L)
    assert(Multimodal.readMediaFpIndex(spark, path)
      .select("doc_id").distinct().count() == docs.count())
  }

  test("append racing a rebuild's commit fails loudly (no silent loss)") {
    import graft.ext.Multimodal
    val docs = Tables(spark, Sf0001).documents
    val path = tmpDir("mediafprace")
    Multimodal.writeMediaFpIndex(docs.filter(col("doc_id") < 30), path)
    // the guard primitive itself: resolved root goes stale once a
    // newer version commits
    val root = Versioned.resolve(spark, path)
    Versioned.assertAppendLanded(spark, path, root, "media fp") // no-op
    val stage = Versioned.versionDir(path, Versioned.nextVersion(spark, path))
    new java.io.File(s"$stage/data").mkdirs()
    Versioned.commit(spark, stage)
    val ex = intercept[IllegalStateException] {
      Versioned.assertAppendLanded(spark, path, root, "media fp")
    }
    assert(ex.getMessage.contains("re-run the append"), ex.getMessage)
    // recovery is exactly the documented recipe: re-running the append
    // resolves the new snapshot and lands there
    val batch = docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)
    Multimodal.appendToMediaFpIndex(batch, path, batchId = 1L)
    assert(Multimodal.readMediaFpIndex(spark, path)
      .filter(col("doc_id") >= 30).select("doc_id").distinct().count()
      == batch.count())
  }

  test("search artifact rebuild: atomic swap, one-snapshot BM25 straddle, retained-root takedown") {
    import graft.ext.Search
    val docs = Tables(spark, Sf0001).documents
    val path = tmpDir("searchlc")
    Search.writeSearchIndex(docs, path)
    val terms = SparkEntry.SearchTerms
    val before = Search.bm25Served(spark, path, terms)
      .collect().map(_.toSeq).toSeq
    // straddler: plan constructed (snapshot resolved for BOTH
    // components) against the flat base, executed after the swap
    val straddler = Search.bm25Served(spark, path, terms)
    // rebuild over a SHRUNKEN corpus so the snapshots differ (a
    // deliberate shrink must be declared; the default rejects it —
    // pinned below)
    val shrunk = docs.filter(col("doc_id") % 10 =!= 7)
    val v = Search.rebuildSearchIndex(spark, shrunk, path,
      allowShrink = true)
    assert(v == 1L)
    assert(Versioned.resolve(spark, path) == s"$path/v-1")
    assert(straddler.collect().map(_.toSeq).toSeq == before,
      "BM25 straddling the swap must serve its resolved snapshot " +
        "for postings AND doc lengths")
    // fresh queries serve the rebuilt snapshot: ≡ in-flight BM25 over
    // the shrunken corpus (df/N/avgdl all moved together)
    assert(Search.bm25Served(spark, path, terms)
      .collect().map(_.toSeq).toSeq
      == Search.bm25TopDocs(shrunk, terms).collect().map(_.toSeq).toSeq)
    // coverage validation: an append then a rebuild from a frame
    // missing the appended batch must fail
    import spark.implicits._
    val extra = Seq((910000L, "spark join window"))
      .toDF("doc_id", "text")
    Search.appendToSearchIndex(extra, path, batchId = 1L)
    val ex = intercept[IllegalArgumentException] {
      Search.rebuildSearchIndex(spark, shrunk, path)
    }
    assert(ex.getMessage.contains("grown corpus"), ex.getMessage)
    // retained roots enumerate every copy; propagate purges them all
    assert(Search.searchRetainedRoots(spark, path)
      == Seq(path, s"$path/v-1"))
    val ids = Seq(3L).toDF("doc_id")
    val out = Takedown.propagate(spark, ids,
      Search.searchRetainedRoots(spark, path).flatMap(r => Seq(
        Takedown.PartitionedIndex(s"postings:$r", s"$r/postings",
          "doc_id", Seq("bucket", "batch_id")),
        Takedown.PartitionedIndex(s"doclen:$r", s"$r/doclen",
          "doc_id", Seq("batch_id")))))
    assert(out.size == 4)
    out.foreach(a => assert(a.leftover == 0L, s"$a"))
  }

  test("corpus graph rebuild: atomic swap, one-snapshot straddle, retained-root takedown") {
    import graft.ext.CorpusGraph
    import spark.implicits._
    def pairsDf(ps: Seq[(Long, Long, String)]) =
      ps.toDF("doc_a", "doc_b", "modality")
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val path = tmpDir("graphlc")
    CorpusGraph.write(pairsDf(Seq(
      (1L, 2L, "text"), (2L, 3L, "image"), (10L, 11L, "audio"))), path)
    // straddler: a cluster roll-up that resolved its snapshot (ONCE,
    // for both components) before the swap
    val (straddlePairs, straddleLabels) = CorpusGraph.readGraph(spark, path)
    // banding-parameter upgrade: the re-screened pair set differs
    val v = CorpusGraph.rebuildGraph(spark, pairsDf(Seq(
      (1L, 2L, "text"), (20L, 21L, "video"))), path)
    assert(v == 1L)
    assert(Versioned.resolve(spark, path) == s"$path/v-1")
    // the straddler serves its resolved snapshot for pairs AND labels
    assert(straddlePairs.count() == 3L)
    assert(labelsOf(straddleLabels) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L),
      "straddling roll-up must read one snapshot for both components")
    // fresh resolve-once readers serve the rebuilt snapshot, and its
    // two components are mutually consistent
    val (newPairs, newLabels) = CorpusGraph.readGraph(spark, path)
    assert(newPairs.count() == 2L)
    assert(labelsOf(newLabels) == Map(1L -> 1L, 2L -> 1L,
      20L -> 20L, 21L -> 20L))
    assert(CorpusGraph.staleLabelCount(spark, path) == 0L)
    // incremental appends land in the CURRENT snapshot
    CorpusGraph.append(spark, path, pairsDf(Seq((21L, 30L, "text"))),
      batchId = 1L)
    assert(labelsOf(CorpusGraph.readLabels(spark, path))(30L) == 20L)
    // retained roots enumerate every copy; propagate purges them all
    // (flat base + committed snapshot), leftover+stale 0
    assert(CorpusGraph.graphRetainedRoots(spark, path)
      == Seq(path, s"$path/v-1"))
    val out = Takedown.propagate(spark, Seq(2L).toDF("doc_id"),
      Seq(Takedown.DedupGraph("corpus_graph", path)))
    assert(out.size == 1)
    assert(out.head.leftover == 0L, s"${out.head}")
    // the FLAT root was purged too — not just the serving snapshot
    assert(CorpusGraph.readPairsAt(spark, path)
      .filter(col("doc_a") === 2L || col("doc_b") === 2L).count() == 0L)
    assert(labelsOf(CorpusGraph.readLabelsAt(spark, path))
      == Map(10L -> 10L, 11L -> 10L))
    // an append racing the rebuild's validate→commit window is caught
    // post-commit: the old root is retained (the batch's only copy)
    val ex = intercept[IllegalArgumentException] {
      CorpusGraph.rebuildGraphHooked(spark,
        pairsDf(Seq((50L, 51L, "text"))), path,
        beforeCommit = () => CorpusGraph.append(spark, path,
          pairsDf(Seq((40L, 41L, "image"))), batchId = 2L))
    }
    assert(ex.getMessage.contains("superseded snapshot"), ex.getMessage)
    assert(new java.io.File(s"$path/v-1/pairs").exists(),
      "old root must be retained when the late batch is detected")
  }

  test("append inside the rebuild's validate→commit window is caught post-commit (no silent loss)") {
    import graft.ext.{Multimodal, Search}
    import spark.implicits._
    val docs = Tables(spark, Sf0001).documents
    // MEDIA: the racing append's write AND guard both run before the
    // commit (the one ordering the append-side guard cannot see — the
    // marker does not exist yet, so resolve still returns the old
    // root); the rebuild must detect it after commit and keep the old
    // root instead of retiring the only copy of the batch
    val mPath = tmpDir("racemedia")
    val base = docs.filter(col("doc_id") < 30)
    val batch = docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)
    Multimodal.writeMediaFpIndex(base, mPath)
    val ex = intercept[IllegalArgumentException] {
      Multimodal.rebuildMediaFpIndexHooked(spark, base, mPath,
        beforeCommit = () =>
          Multimodal.appendToMediaFpIndex(batch, mPath, batchId = 1L))
    }
    assert(ex.getMessage.contains("superseded snapshot"), ex.getMessage)
    // the new snapshot committed and serves; the old root survived
    // (not retired), so the batch's rows still exist on disk
    assert(Versioned.resolve(spark, mPath) == s"$mPath/v-1")
    assert(new java.io.File(s"$mPath/data").exists(),
      "old root must be retained when the late batch is detected")
    // CRASH-RECOVERY face: suppose that rebuild had died right after
    // its commit (the thrown require IS that state — v-1 serves, the
    // stranded batch sits only in the flat root). A later rebuild
    // that does not know about the batch must not let its retire
    // delete the flat root — the retire-target coverage audit throws
    val ex1b = intercept[IllegalArgumentException] {
      Multimodal.rebuildMediaFpIndex(spark, base, mPath)
    }
    assert(ex1b.getMessage.contains("retire would delete"),
      ex1b.getMessage)
    assert(new java.io.File(s"$mPath/data").exists(),
      "the audited retire must keep the root holding the batch")
    // recovery is the error's recipe: re-run the append (lands in the
    // committed snapshot), then rebuild from the full grown corpus —
    // now every retire target is covered and the flat root retires
    Multimodal.appendToMediaFpIndex(batch, mPath, batchId = 1L)
    assert(Multimodal.readMediaFpIndex(spark, mPath)
      .filter(col("doc_id") >= 30).select("doc_id").distinct().count()
      == batch.count())
    assert(Multimodal.rebuildMediaFpIndex(spark,
      base.unionByName(batch), mPath) == 3L)
    assert(!new java.io.File(s"$mPath/data").exists(),
      "covered flat root retires normally")

    // SEARCH: same window, same detection, through the doclen coverage
    val sPath = tmpDir("racesearch")
    Search.writeSearchIndex(base, sPath)
    val extra = Seq((920000L, "spark join window"))
      .toDF("doc_id", "text")
    val ex2 = intercept[IllegalArgumentException] {
      Search.rebuildSearchIndexHooked(spark, base, sPath,
        beforeCommit = () =>
          Search.appendToSearchIndex(extra, sPath, batchId = 1L))
    }
    assert(ex2.getMessage.contains("superseded snapshot"), ex2.getMessage)
    assert(new java.io.File(s"$sPath/postings").exists())

    // IVF: the vector twin of the same window
    val vPath = tmpDir("raceivf")
    Similarity.writeIvfIndex(emb, vPath)
    val ex3 = intercept[IllegalArgumentException] {
      Similarity.rebuildIvfIndexHooked(spark, vPath,
        beforeCommit = () =>
          Similarity.appendToIvfIndex(driftedBatch, vPath, batchId = 1L))
    }
    assert(ex3.getMessage.contains("superseded snapshot"), ex3.getMessage)
    assert(new java.io.File(s"$vPath/data").exists())
  }

  test("shared rebuild: an append while the stage is written fails with nothing committed") {
    import spark.implicits._
    def read(s: org.apache.spark.sql.SparkSession, root: String) =
      s.read.parquet(s"$root/data")
    val keyed = Versioned.Artifact("toy", Seq("data"),
      rowsOf = read(_, _).count(), keysOf = Some(read(_, _).select("k")))
    val keyless = keyed.copy(keysOf = None)
    def rows(ks: Range) = ks.map(_.toLong).toDF("k")
    // two orders of the stage's served read and the racing append:
    // append first (the stage already holds it, like the IVF rebuild)
    // and append last (the stage lacks it, like a keyless artifact)
    for ((artifact, appendFirst) <- Seq((keyed, true), (keyless, false))) {
      val path = tmpDir("protocol")
      Versioned.writeBase(spark, path)(root =>
        rows(0 until 10).write.parquet(s"$root/data"))
      def append(ks: Range): Unit = rows(ks).write.mode("append")
        .parquet(s"${Versioned.resolve(spark, path)}/data")
      val ex = intercept[IllegalArgumentException] {
        Versioned.rebuild(spark, path, artifact) { (served, stage) =>
          if (appendFirst) append(10 until 12)
          read(spark, served).write.parquet(s"$stage/data")
          if (!appendFirst) append(10 until 12)
        }
      }
      assert(ex.getMessage.contains("nothing committed"), ex.getMessage)
      assert(Versioned.committedVersions(spark, path).isEmpty)
      assert(Versioned.resolve(spark, path) == path)
      assert(read(spark, path).count() == 12L)
      // an append inside the commit window still reads as superseded
      val ex2 = intercept[IllegalArgumentException] {
        Versioned.rebuild(spark, path, artifact,
            beforeCommit = () => append(12 until 13)) { (served, stage) =>
          read(spark, served).write.parquet(s"$stage/data")
        }
      }
      assert(ex2.getMessage.contains("superseded snapshot"), ex2.getMessage)
      assert(Versioned.committedVersions(spark, path) == Seq(1L))
      assert(read(spark, path).count() == 13L, "old root retained")
    }
  }

  // the rebuild protocol and the absent-artifact rule each live in one
  // place; a copy elsewhere is a visible edit here
  test("src/main has one absent-artifact rule and one rebuild protocol") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .toList
      finally files.close()
    def filesWith(text: String): Set[String] = sources
      .filter(f => Files.readString(f).contains(text))
      .map(_.getFileName.toString).toSet
    assert(filesWith("PATH_NOT_FOUND") == Set("Versioned.scala"))
    Seq("Versioned.commit(", "Versioned.retire(", "Versioned.clearStage(")
      .foreach(call => assert(filesWith(call).isEmpty,
        s"$call is called outside Versioned.scala"))
  }

  test("PQ codebooks: persisted read-back exact; retrain stages, commits, retires") {
    val path = tmpDir("pqlc")
    ProductQuant.writePqCodebooks(emb, path)
    val trained = ProductQuant.trainCodebooks(emb)
    assert(ProductQuant.readPqCodebooks(spark, path) == trained,
      "persisted codebooks must read back exactly")
    // a straddling reader resolved the flat base; retrain on the
    // drifted corpus commits v-1 with DIFFERENT codebooks
    val drifted = emb.unionByName(driftedBatch)
    val v = ProductQuant.retrainPqCodebooks(spark, path, drifted)
    assert(v == 1L)
    val retrained = ProductQuant.readPqCodebooks(spark, path)
    assert(retrained == ProductQuant.trainCodebooks(drifted))
    assert(retrained != trained, "drifted corpus must move the codebooks")
    // retention: flat base still readable (previous snapshot) until a
    // second retrain supersedes it
    assert(new java.io.File(s"$path/codebooks").exists())
    assert(ProductQuant.retrainPqCodebooks(spark, path, emb) == 2L)
    assert(!new java.io.File(s"$path/codebooks").exists(),
      "flat base must retire once two versions supersede it")
    assert(ProductQuant.readPqCodebooks(spark, path) == trained)
  }
}
