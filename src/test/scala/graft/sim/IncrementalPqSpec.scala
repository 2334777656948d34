package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** PQ-compressed incremental index: ADC ranking must equal the
  * full-scan pinned ADC path when every list is probed, the probe plan
  * must stay Exchange-free on the index side and bucket-prune, the
  * maintenance ops (append/delete/compact) must carry over, and the
  * codes table must actually be small — the reason it exists. */
class IncrementalPqSpec extends SparkSuite {
  import spark.implicits._

  private val dim = 64
  private val coarse = Pinned.ivfCentroids(8, dim)
  private val books = Pinned.pqBooks() // 8 subspaces x 16 codes x 8 dims

  private def vecs(lo: Int, hi: Int) = (lo until hi)
    .map(i => (i.toLong, Array.tabulate(dim)(d =>
      math.sin(i * 0.37 + d * 0.61) + 0.1)))
    .toDF("id", "vec")

  private def vecsOf(rows: Seq[(Long, Array[Double])]) =
    rows.toDF("id", "vec")

  test("probing every list equals the full-scan pinned ADC ranking") {
    val table = "graft_incpq_parity_idx"
    try {
      val corpus = vecs(0, 150)
      IncrementalPq.buildIndex(corpus, table, 4, coarse, books)
      val q = vecs(500, 510)
      // nProbe = nCentroids drops the IVF restriction: the index path
      // must then rank EXACTLY like the full-scan ADC (same integer
      // LUT arithmetic, same (adc_e6 DESC, neighbor_id) order)
      val got = IncrementalPq.probe(spark, q, table, coarse, books,
          k = 5, nProbe = coarse.length)
        .select("query_id", "neighbor_id", "adc_e6", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      val expected = Pq.pinnedAdcTopK(q, corpus, books, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("adc_e6"),
          col("rank").cast("int"))
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(got == expected && got.nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("probe plan: no index-side shuffle, bucket-pruned scan, 24-byte candidates") {
    val table = "graft_incpq_plan_idx"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      IncrementalPq.buildIndex(vecs(0, 200), table, 8, coarse, books)
      val one = vecs(500, 501)
      val df = IncrementalPq.probe(spark, one, table, coarse, books,
        k = 5, nProbe = 2)
      val plan = df.queryExecution.executedPlan.toString
      // both LUT and probe-pair joins broadcast; the only hash
      // exchanges are the partial-agg sum and the top-k window
      val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(nEx == 2, s"expected 2 hash exchanges (agg + window):\n$plan")
      // a 1-query probe of 2 of 8 lists cannot need all 8 buckets
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"expected bucket pruning:\n$plan")
      assert(sel.get.group(1).toInt <= 2 && sel.get.group(2).toInt == 8,
        sel.get.matched)
      assert(df.count() == 5)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("append is visible to later probes; delete erases; compaction preserves") {
    val table = "graft_incpq_maint_idx"
    try {
      IncrementalPq.buildIndex(vecs(0, 100), table, 4, coarse, books)
      val q = vecs(500, 505)
      def ids(k: Int): Set[Long] = IncrementalPq
        .probe(spark, q, table, coarse, books, k = k, nProbe = 8)
        .select("neighbor_id").as[Long].collect().toSet
      val before = ids(3)
      // append clones of the queries' own vectors: with every list
      // probed they MUST surface in a k-wide probe (PQ quantization
      // ties mean they need not beat smaller ids into the top-3 — the
      // tie-break is neighbor_id ASC — so visibility is asserted wide)
      def clones = (0 until 5).map(i => (700L + i,
        Array.tabulate(dim)(d => math.sin((500 + i) * 0.37 + d * 0.61) + 0.1)))
        .toDF("id", "vec")
      IncrementalPq.appendToIndex(clones, table, 4, coarse, books)
      val wide = ids(500)
      assert((700L until 705L).forall(wide.contains),
        s"appended clones missing from the k-wide probe: $wide")
      // bounded-cost erasure: the clones go, results return to before
      val n = IncrementalPq.deleteFromIndex(clones, table, 4, coarse, books)
      assert(n >= 1)
      assert(!ids(500).exists(id => id >= 700L && id < 705L),
        "deleted postings still probed")
      assert(ids(3) == before, "delete must restore the pre-append results")
      // compaction is verdict-neutral
      IncrementalPq.compactIndex(spark, table, maxFilesPerBucket = 1)
      assert(ids(3) == before)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("probeRerank with a full-width shortlist equals the exact full-vector probe") {
    val tCodes = "graft_incpq_rr_codes"
    val tVn = "graft_incpq_rr_vn"
    try {
      val corpus = vecs(0, 150)
      IncrementalPq.buildIndex(corpus, tCodes, 4, coarse, books)
      IncrementalAnn.buildIndex(corpus, tVn, 4, coarse)
      val q = vecs(500, 508)
      // every list probed + shortlist wider than the corpus: the ADC
      // stage degenerates to pure candidate generation, so the exact
      // re-rank must reproduce IncrementalAnn.probe bit for bit (same
      // DotE6, same (cos_e6 DESC, neighbor_id) order)
      val got = IncrementalPq.probeRerank(spark, q, tCodes, tVn,
          coarse, books, k = 5, nProbe = coarse.length,
          rerankFactor = 100)
        .select("query_id", "neighbor_id", "cos_e6", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      val exact = IncrementalAnn.probe(spark, q, tVn, coarse, k = 5,
          nProbe = coarse.length)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("int"))
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(got == exact && got.nonEmpty)
      // and the vector fetch stays bucket-pruned + broadcast: the only
      // hash exchanges in the WHOLE plan are the ADC agg, the ADC
      // window, and the re-rank window — both index scans bucket-prune
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val narrow = IncrementalPq.probeRerank(spark, vecs(500, 501),
        tCodes, tVn, coarse, books, k = 3, nProbe = 2)
      val plan = narrow.queryExecution.executedPlan.toString
      val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(nEx == 3, s"expected 3 hash exchanges:\n$plan")
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findAllMatchIn(plan).toSeq
      assert(sel.size == 2 && sel.forall(m => m.group(1).toInt <= 2),
        s"expected BOTH index scans bucket-pruned:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql(s"DROP TABLE IF EXISTS $tCodes")
      spark.sql(s"DROP TABLE IF EXISTS $tVn")
    }
  }

  test("residual encoding improves recall over raw encoding on clustered corpora") {
    val tRaw = "graft_incpq_res_raw"
    val tRes = "graft_incpq_res_res"
    // 8 clusters with DENSE centers (spread across every subspace —
    // the real-embedding regime) + small deterministic noise. This is
    // exactly where residual encoding earns its keep: raw books must
    // spend their 16 codes per subspace covering 8 distinct center
    // projections × noise, residual books cover only the noise.
    // (With subspace-ALIGNED one-hot centers the raw books quantize
    // the structure trivially and residual measures WORSE — verified
    // while building this test; the claim is regime-dependent and the
    // fixture encodes the regime the refinement exists for.)
    def member(cluster: Int, i: Long): Array[Double] =
      Array.tabulate(dim)(d =>
        math.sin(cluster * 2.17 + d * 1.31) +
          0.35 * math.sin(i * 0.83 + d * 0.47))
    val corpus = (0 until 320).map(i => (i.toLong, member(i % 8, i.toLong)))
    val queries = (0 until 16).map(i => (9000L + i, member(i % 8, 9000L + i)))
    try {
      val coarseT = Ivf.trainCentroids(vecsOf(corpus), 8, iters = 3)
      // residual training set: vn - coarse(assigned), the same
      // arithmetic the index build runs
      val spark2 = spark
      import spark2.implicits._
      val resCorpus = Ivf.normalized(vecsOf(corpus), "id", "vn")
        .as[(Long, Array[Double])]
        .map { case (id, vn) =>
          val c = coarseT(Ivf.nearestCentroid(vn, coarseT))
          (id, Array.tabulate(vn.length)(d =>
            vn(d) - (if (d < c.length) c(d) else 0.0)))
        }
        .toDF("id", "vn")
      val booksRaw = Pq.trainCodebooks(vecsOf(corpus), m = 8, ksub = 16,
        iters = 3)
      val booksRes = Pq.trainFromNormalized(resCorpus, m = 8, ksub = 16,
        iters = 3)
      IncrementalPq.buildIndex(vecsOf(corpus), tRaw, 4, coarseT, booksRaw)
      IncrementalPq.buildIndex(vecsOf(corpus), tRes, 4, coarseT, booksRes,
        residual = true)
      val truth = Similarity
        .bruteForceTopK(vecsOf(queries), vecsOf(corpus), k = 5)
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      def recall(t: String, books: Pq.Codebooks, res: Boolean): Double = {
        val got = IncrementalPq
          .probe(spark, vecsOf(queries), t, coarseT, books, k = 5,
            nProbe = 8, residual = res)
          .select("query_id", "neighbor_id")
          .as[(Long, Long)].collect().toSet
        (got intersect truth).size.toDouble / truth.size
      }
      val raw = recall(tRaw, booksRaw, res = false)
      val residual = recall(tRes, booksRes, res = true)
      info(s"recall@5, pure ADC (no re-rank): raw $raw, residual $residual")
      assert(residual >= raw + 0.1,
        s"residual encoding did not clearly improve recall: " +
          s"raw $raw vs residual $residual")
      // loose collapse floor — pure ADC at m=8/ksub=16 with no re-rank
      // is not a high-recall configuration, and that is fine; the
      // refinement claim above is the test's point
      assert(residual >= 0.4, s"residual recall collapsed: $residual")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tRaw")
      spark.sql(s"DROP TABLE IF EXISTS $tRes")
    }
  }

  test("refreshFromVnIndex is bit-identical to a fresh build under the new codebooks") {
    val tCodes = "graft_incpq_refresh_codes"
    val tVn = "graft_incpq_refresh_vn"
    val tFresh = "graft_incpq_refresh_fresh"
    val coarseB = Pinned.ivfCentroids(8, dim, salt = "r-")
    val booksB = Pinned.pqBooks(salt = "r-")
    try {
      val corpus = vecs(0, 150)
      val q = vecs(500, 508)
      for (res <- Seq(false, true)) {
        IncrementalPq.buildIndex(corpus, tCodes, 4, coarse, books,
          residual = res)
        IncrementalAnn.buildIndex(corpus, tVn, 4, coarse)
        // drift maintenance: no corpus re-read — the code table
        // re-encodes from the companion vn index under codebook set B
        IncrementalPq.refreshFromVnIndex(spark, tCodes, tVn, coarseB,
          booksB, residual = res)
        IncrementalPq.buildIndex(corpus, tFresh, 4, coarseB, booksB,
          residual = res)
        // the refreshed index's ROWS equal the fresh build's — the
        // stored vn is bit-for-bit the normalize output, so skipping
        // re-normalization reproduces identical codes and centroids
        def rowsOf(t: String): Set[(Int, Long, Seq[Int])] =
          graft.sources.Bucketed.load(spark, t)
            .select("centroid", "id", "codes")
            .as[(Int, Long, Seq[Int])].collect().toSet
        assert(rowsOf(tCodes) == rowsOf(tFresh) && rowsOf(tCodes).nonEmpty,
          s"residual=$res: refreshed rows differ from a fresh build")
        def probeSet(t: String): Set[(Long, Long, Long, Int)] =
          IncrementalPq.probe(spark, q, t, coarseB, booksB, k = 5,
              nProbe = 8, residual = res)
            .select("query_id", "neighbor_id", "adc_e6", "rank")
            .as[(Long, Long, Long, Int)].collect().toSet
        assert(probeSet(tCodes) == probeSet(tFresh),
          s"residual=$res: refreshed probe differs from a fresh build")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tCodes")
      spark.sql(s"DROP TABLE IF EXISTS $tVn")
      spark.sql(s"DROP TABLE IF EXISTS $tFresh")
    }
  }

  test("streamAppend ingests the serving pair; replay heals at the compaction tick") {
    val tCodes = "graft_incpq_ing_codes"
    val tVn = "graft_incpq_ing_vn"
    val fCodes = "graft_incpq_ing_fcodes"
    val fVn = "graft_incpq_ing_fvn"
    try {
      IncrementalPq.buildIndex(vecs(0, 60), tCodes, 4, coarse, books)
      IncrementalAnn.buildIndex(vecs(0, 60), tVn, 4, coarse)
      val base = tempDir("graft-pq-ingest").toString
      def writeFile(fname: String, mtimeMs: Long, lo: Int, hi: Int): Unit = {
        val stage = tempDir("graft-pq-st")
        vecs(lo, hi).coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$base/src", fname)
        dest.getParentFile.mkdirs()
        java.nio.file.Files.copy(part.toPath, dest.toPath)
        assert(dest.setLastModified(mtimeMs))
      }
      writeFile("f1.parquet", 1000000L, 60, 80)
      writeFile("f2.parquet", 2000000L, 80, 100)
      IncrementalPq.streamAppend(
        graft.streaming.Streaming.fileStream(spark, s"$base/src",
          maxFilesPerTrigger = Some(1)),
        tCodes, 4, coarse, books, vnTable = Some(tVn),
        compactEvery = 2, maxFilesPerBucket = 1)
      // the streamed pair must serve exactly like a batch-built pair
      // over the union — rerank included (vn side ingested too)
      val q = vecs(500, 506)
      def rerankOf(c: String, v: String) = IncrementalPq
        .probeRerank(spark, q, c, v, coarse, books, k = 5,
          nProbe = coarse.length, rerankFactor = 10)
        .select("query_id", "neighbor_id", "cos_e6", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      IncrementalPq.buildIndex(vecs(0, 100), fCodes, 4, coarse, books)
      IncrementalAnn.buildIndex(vecs(0, 100), fVn, 4, coarse)
      assert(rerankOf(tCodes, tVn) == rerankOf(fCodes, fVn) &&
        rerankOf(tCodes, tVn).nonEmpty,
        "continuous ingest must equal the batch-built pair")
      // at-least-once REPLAY: the same shard appended twice to both
      // tables (a redelivered batch), then the tick's compaction —
      // dedup restores the posting SET on each, so the served scores
      // return to the clean pair's (the ADC double-count window ends)
      // each redelivered batch ends with the pair stamp, exactly like
      // the real foreachBatch body — the pointer never lags more than
      // one batch's commits (the commitPair retention contract)
      def replay(lo: Int, hi: Int): Unit = {
        IncrementalAnn.appendToIndex(vecs(lo, hi), tVn, 4, coarse)
        IncrementalPq.appendToIndex(vecs(lo, hi), tCodes, 4, coarse, books)
        IncrementalPq.commitPair(spark, tCodes, tVn)
      }
      replay(100, 110); replay(100, 110)
      IncrementalPq.compactIndex(spark, tCodes, maxFilesPerBucket = 1)
      IncrementalAnn.compactIndex(spark, tVn, maxFilesPerBucket = 1)
      IncrementalPq.commitPair(spark, tCodes, tVn)
      IncrementalPq.buildIndex(vecs(0, 110), fCodes, 4, coarse, books)
      IncrementalAnn.buildIndex(vecs(0, 110), fVn, 4, coarse)
      assert(rerankOf(tCodes, tVn) == rerankOf(fCodes, fVn),
        "replayed append must heal to the clean pair at the tick")
    } finally Seq(tCodes, tVn, fCodes, fVn)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("codes postings are at least 4x smaller on disk than full-vector postings") {
    val tPq = "graft_incpq_size_codes"
    val tVn = "graft_incpq_size_vn"
    def tableBytes(t: String): Long = {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
      val dir = new org.apache.hadoop.fs.Path(meta.location)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).filter(f => f.isFile &&
        f.getPath.getName.startsWith("part-")).map(_.getLen).sum
    }
    try {
      val corpus = vecs(0, 2000)
      IncrementalPq.buildIndex(corpus, tPq, 4, coarse, books)
      IncrementalAnn.buildIndex(corpus, tVn, 4, coarse)
      val (pqB, vnB) = (tableBytes(tPq), tableBytes(tVn))
      assert(pqB * 4 <= vnB,
        s"codes table $pqB B vs vector table $vnB B — expected >=4x smaller")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tPq")
      spark.sql(s"DROP TABLE IF EXISTS $tVn")
    }
  }

  test("pair pointer: a reader never observes codes outside the committed pair at any kill point") {
    val codeT = "graft_incpq_pair_codes"
    val vnT = "graft_incpq_pair_vn"
    try {
      val corpus = vecs(0, 120)
      IncrementalAnn.buildIndex(corpus, vnT, 4, coarse)
      IncrementalPq.buildIndex(corpus, codeT, 4, coarse, books)
      IncrementalPq.commitPair(spark, codeT, vnT)
      // steady state (pointer == heads): the pointer-resolved probe
      // plans EXACTLY like a head read — bucket pruning included
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val planned = IncrementalPq.probe(spark, vecs(500, 501), codeT,
          coarse, books, k = 3, nProbe = 2)
        val plan = planned.queryExecution.executedPlan.toString
        assert(plan.contains("SelectedBucketsCount"),
          s"pointer-resolved probe must keep bucket pruning:\n$plan")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      val q = vecs(500, 505)
      def rerank(): Set[(Long, Long, Long, Int)] =
        IncrementalPq.probeRerank(spark, q, codeT, vnT, coarse, books,
            k = 5, nProbe = coarse.length, rerankFactor = 4)
          .select("query_id", "neighbor_id", "cos_e6", "rank")
          .as[(Long, Long, Long, Int)].collect().toSet
      val baseline = rerank()
      assert(baseline.nonEmpty)
      // KILL POINT 1 — vn appended, codes and pointer did not: the
      // reader stays on the complete old pair (new vectors invisible)
      val batch = vecs(2000, 2040)
      IncrementalAnn.appendToIndex(batch, vnT, 4, coarse)
      assert(rerank() == baseline,
        "vn-only append must not surface before the pair commit")
      // KILL POINT 2 — vn AND codes appended, pointer did not: the old
      // pair still serves (previously the new codes would shortlist)
      IncrementalPq.appendToIndex(batch, codeT, 4, coarse, books)
      assert(rerank() == baseline,
        "codes past the pointer must stay invisible — the pointer IS the commit")
      // and every shortlisted id finds its vector: the shortlist and
      // the re-rank read ONE pair, so the rerank output is full-k
      assert(rerank().groupBy(_._1).forall(_._2.size == 5))
      // the pair commit flips readers atomically to the new pair
      IncrementalPq.commitPair(spark, codeT, vnT)
      val after = rerank()
      assert(after != baseline,
        "the batch's vectors must rank after the pair commit")
      assert(after.groupBy(_._1).forall(_._2.size == 5))
      // replayed batch (at-least-once): duplicates land, compaction
      // ticks + a fresh pair commit keep the pair consistent
      IncrementalAnn.appendToIndex(batch, vnT, 4, coarse)
      IncrementalPq.appendToIndex(batch, codeT, 4, coarse, books)
      IncrementalPq.compactIndex(spark, codeT, maxFilesPerBucket = 1)
      IncrementalAnn.compactIndex(spark, vnT, maxFilesPerBucket = 1)
      IncrementalPq.commitPair(spark, codeT, vnT)
      assert(rerank() == after,
        "replay + compaction + commit must converge to the same pair")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $codeT")
      spark.sql(s"DROP TABLE IF EXISTS $vnT")
    }
  }

  test("steady-state delete/compact re-stamp the pair pointer; un-stamped appends stay invisible") {
    val codeT = "graft_incpq_restamp_codes"
    val vnT = "graft_incpq_restamp_vn"
    try {
      val corpus = vecs(0, 100)
      IncrementalAnn.buildIndex(corpus, vnT, 4, coarse)
      IncrementalPq.buildIndex(corpus, codeT, 4, coarse, books)
      IncrementalPq.commitPair(spark, codeT, vnT)
      def servedIds(): Set[Long] = {
        val (gc, _) = graft.sources.Bucketed
          .readPairPointer(spark, codeT).get
        graft.sources.Bucketed.loadAsOf(spark, codeT, gc)
          .select("id").as[Long].collect().toSet
      }
      def probeOk(): Unit = assert(
        IncrementalPq.probe(spark, vecs(500, 502), codeT, coarse, books,
          k = 3, nProbe = coarse.length).count() > 0)
      assert(servedIds() == (0L until 100L).toSet)
      // a STEADY-STATE delete must advance the pointer's owner side:
      // pre-fix, pointer-reading probes kept serving the deleted ids
      IncrementalPq.deleteFromIndex(vecs(0, 10), codeT, 4, coarse, books)
      assert((servedIds() & (0L until 10L).toSet).isEmpty,
        "deleted ids still served through a stale pointer")
      val ptr = graft.sources.Bucketed.readPairPointer(spark, codeT).get
      assert(ptr._1 == graft.sources.Bucketed
        .currentGeneration(spark, codeT), "owner side must be the new head")
      // three further steady-state maintenance commits must NOT strand
      // the pointer behind the retention-3 window (pre-fix every probe
      // then failed loudly until a manual commitPair)
      IncrementalPq.deleteFromIndex(vecs(10, 12), codeT, 4, coarse, books)
      IncrementalPq.deleteFromIndex(vecs(12, 14), codeT, 4, coarse, books)
      IncrementalPq.compactIndex(spark, codeT, maxFilesPerBucket = 1)
      probeOk()
      val steady = servedIds()
      assert((steady & (0L until 14L).toSet).isEmpty)
      // MID-BATCH guard: after an un-stamped append, a compact must
      // NOT advance the pointer — it would publish the appended codes
      // against the pinned old vn (codes ⊄ vn, the window the pointer
      // closes); the lagging pointer waits for the batch's commitPair
      IncrementalPq.appendToIndex(vecs(3000, 3030), codeT, 4, coarse,
        books)
      IncrementalPq.compactIndex(spark, codeT, maxFilesPerBucket = 1)
      assert(servedIds() == steady,
        "compact after an un-stamped append must not publish the append")
      IncrementalPq.commitPair(spark, codeT, vnT)
      assert((servedIds() & (3000L until 3030L).toSet).size == 30)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $codeT")
      spark.sql(s"DROP TABLE IF EXISTS $vnT")
    }
  }

  test("buildIndex over a pair-stamped code table: the probe serves the rebuilt codes") {
    val codeT = "graft_incpq_rebuild_codes"
    val vnT = "graft_incpq_rebuild_vn"
    try {
      IncrementalAnn.buildIndex(vecs(0, 100), vnT, 4, coarse)
      IncrementalPq.buildIndex(vecs(0, 100), codeT, 4, coarse, books)
      IncrementalPq.commitPair(spark, codeT, vnT)
      // the rebuild's superseded codes stay on disk (retention 3), so
      // a pointer that survived it would keep serving them
      IncrementalPq.buildIndex(vecs(200, 260), codeT, 4, coarse, books)
      assert(graft.sources.Bucketed.readPairPointer(spark, codeT).isEmpty)
      val got = IncrementalPq.probe(spark, vecs(500, 503), codeT, coarse,
          books, k = 5, nProbe = coarse.length)
        .select("neighbor_id").as[Long].collect().toSet
      assert(got.nonEmpty && got.subsetOf((200L until 260L).toSet), got)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $codeT")
      spark.sql(s"DROP TABLE IF EXISTS $vnT")
    }
  }
}
