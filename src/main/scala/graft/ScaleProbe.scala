package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress probe (dev tool, not part of the driver contract): runs
  * the heavy corpus operators on 1x / 4x / 16x replications of the
  * sf0.1 documents table and prints per-factor wall-clock, so scaling
  * behavior is MEASURED rather than asserted. Replication remaps doc
  * ids (id + k*N) but repeats text verbatim — deliberately the WORST
  * case for dedup operators: every document becomes an f-way duplicate,
  * so candidate structures (minhash buckets, line counts, components)
  * carry maximal load per row.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // the 1x/4x/16x factors re-run each operator's plan shapes; the
      // default 100-entry compiled-class cache churns them (Bench r11
      // telemetry) — hold the whole probe suite instead
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // replica stride = max id + 1, NOT the row count: sparse/offset id
    // spaces would otherwise collide replicas onto the same doc_id.
    // cast + coalesce: survives int32 id schemas and an empty table
    val stride = base
      .agg(coalesce(max(col("doc_id").cast("long")), lit(-1L)))
      .head().getLong(0) + 1

    def replicated(f: Int): DataFrame = {
      // cache keyed by the SOURCE dir so a re-run against a different
      // scale factor cannot silently measure the previous corpus
      val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val out = s"/tmp/graft-scaleprobe-$tag-x$f"
      val path = new java.io.File(out)
      if (!path.exists()) {
        base.crossJoin(spark.range(f).select(col("id").as("__k")))
          .select((col("doc_id") + col("__k") * stride).as("doc_id"), col("text"))
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(out)
      }
      spark.read.parquet(out)
    }

    // SPARK_GRAFT_PROBE_ONLY=op1,op2 runs a subset (substring match) —
    // the focused-iteration loop; unset runs everything. Mind the
    // dependencies: the index probe/gate/compact ops read the table
    // their _index_build op creates, so include the build when
    // filtering to any of them
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    def time(name: String, f: Int)(body: => Long): Unit =
      if (only.forall(_.exists(name.contains))) {
        val t0 = System.nanoTime()
        val rows = body
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""SCALE {"op":"$name","factor":$f,"sec":$sec%.2f,"rows":$rows}""")
      }

    for (f <- Seq(1, 4, 16)) {
      val d = replicated(f)
      d.count() // warm the file listing
      time("exact_dedup", f) {
        graft.text.Dedup.exact(d).count()
      }
      time("minhash_pairs_complete", f) {
        graft.text.Dedup.minhashCandidatePairsComplete(d, maxBucket = 1000).count()
      }
      time("dedup_clusters_cc", f) {
        val pairs = graft.text.Dedup.minhashCandidatePairs(d, maxBucket = 1000)
        graft.text.Components.dedupClusters(d, pairs).count()
      }
      time("line_dedup", f) {
        graft.text.Dedup.removeRepeatedLines(d).count()
      }
      time("tfidf_topk", f) {
        graft.text.InvertedIndex.tfidfTopK(d, k = 5).count()
      }
      time("dsir_weights", f) {
        graft.text.Dsir.importanceWeights(
          d.filter(col("doc_id") % 10 =!= 0),
          d.filter(col("doc_id") % 10 === 0)).count()
      }
      time("span_dedup", f) {
        graft.text.SpanDedup.removeRepeatedSpans(
          d.withColumnRenamed("text", "content"), textCol = "content").count()
      }
      time("training_pipeline", f) {
        graft.text.TrainingData.prepare(d,
          eval = d.filter(col("doc_id") % 13 === 0)).count()
      }
      time("portable_bloom", f) {
        graft.text.Curation.portableBloomDecontaminate(
          d.filter(col("doc_id") % 10 =!= 0),
          d.filter(col("doc_id") % 10 === 0)).count()
      }
      time("count_min", f) {
        val toks = d.select(explode(
          graft.text.TextAnalysis.wordsCol(col("text"))).as("tok"))
        graft.ops.Sketch.countMin(toks, "tok").n
      }
      time("grouped_quantiles", f) {
        // 64 pseudo-groups over the replicated corpus, 4 ranks each
        graft.ops.Quantiles.groupedQuantiles(
          d.withColumn("g", pmod(col("doc_id"), lit(64)))
            .withColumn("v", length(col("text"))),
          Seq("g"), "v", Seq(0.25, 0.5, 0.75, 0.99)).count()
      }
      // index-and-probe: the PROBE is the recurring cost — the index
      // build is the corpus-scaled one-time write, timed separately
      val idxTable = s"graft_scaleprobe_idx_x$f"
      time("incdedup_index_build", f) {
        graft.text.IncrementalDedup.buildIndex(d, idxTable, buckets = 32)
        spark.table(idxTable).count()
      }
      time("incdedup_probe_1pct", f) {
        // a fixed-size shard (the 1x corpus's doc_id%97 slice, ~1%)
        // probed against the f-scaled index: the probe should cost
        // ~O(shard + matched buckets), NOT O(index)
        val shard = replicated(1).filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + lit(20000000L)).as("doc_id"), col("text"))
        graft.text.IncrementalDedup.probe(spark, shard, idxTable).count()
      }
      time("incdedup_gate_batch", f) {
        // the STEADY-STATE cost of the continuous gate: one fixed-size
        // batch gated against the f-scaled index (sign the batch, one
        // co-located index join, one in-batch band join, one bucketed
        // append) — should stay flat in f like the probe
        val batch = replicated(1).filter(col("doc_id") % 97 === 3)
          .select((col("doc_id") + lit(30000000L)).as("doc_id"), col("text"))
        graft.text.IncrementalDedup.gateBatch(batch, idxTable, 32,
          "text", "doc_id", 3, 16, 4).count()
      }
      time("clustered_append_split", f) {
        // the oversized-append guard (save()'s write-parallelism
        // contract): a bulk append f× the seed, written with
        // appendSubSplits = f, lands as f clustered waves — per-task
        // (= per-file) input stays ~the seed's bucket size however
        // large the batch grows — committed as ONE atomic generation
        // of f files per bucket. `rows` reports the table's data-file
        // count: 8 seed files + 8·f wave files.
        val splitName = s"graft_scaleprobe_split_x$f"
        val seed = replicated(1).select(col("doc_id").as("k"),
          length(col("text")).cast("long").as("v"))
        graft.sources.Bucketed.save(seed, splitName, Seq("k"), 8)
        val bulk = replicated(f).select(
          (col("doc_id") + lit(60000000L)).as("k"),
          length(col("text")).cast("long").as("v"))
        graft.sources.Bucketed.save(bulk, splitName, Seq("k"), 8,
          mode = org.apache.spark.sql.SaveMode.Append,
          appendSubSplits = f)
        val n = graft.sources.Bucketed.load(spark, splitName).count()
        assert(n > 0)
        val files = spark.table(splitName).inputFiles.length.toLong
        spark.sql(s"DROP TABLE IF EXISTS $splitName")
        files
      }
      time("compact_buckets", f) {
        // maintenance pass after the build + gate appends: rewrites
        // every bucket over the file bound into one sorted file — the
        // AMORTIZED cost that keeps the probe/gate rows flat forever;
        // linear in the rewritten buckets' bytes by design
        graft.sources.Bucketed.compactBuckets(spark, idxTable,
          maxFilesPerBucket = 1).toLong
      }
      time("maintain_decision", f) {
        // the auto-maintenance DECISION scan on a just-compacted index:
        // a metadata-only file-count profile + one partial-agg load
        // profile — the recurring cost of asking "does this index need
        // work?", which must track the index scan, never blow past it
        val d0 = graft.sources.IndexMaintenance.maintainIfNeeded(
          spark, idxTable, keyCol = "bkey")
        d0.maxLoadE6
      }
      time("incdedup_probe_postcompact", f) {
        // same shard as probe_1pct against the compacted index — the
        // probe contract must survive (and benefit from) compaction
        val shard = replicated(1).filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + lit(20000000L)).as("doc_id"), col("text"))
        graft.text.IncrementalDedup.probe(spark, shard, idxTable).count()
      }
      spark.sql(s"DROP TABLE IF EXISTS $idxTable")

      // ANN index-and-probe at scale: replicated embeddings (vectors
      // verbatim, ids remapped), fixed query set. With a FIXED codebook
      // the probed lists grow with the corpus, so probe cost tracks
      // nProbe/nlist of the index (sub-linear vs a full scan by that
      // constant) — production grows the codebook with the corpus,
      // which this probe cannot replicate.
      val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val strideE = embBase.agg(coalesce(max("id"), lit(-1L)))
        .head().getLong(0) + 1
      def replicatedEmb(f: Int): DataFrame =
        embBase.crossJoin(spark.range(f).select(col("id").as("__k")))
          .select((col("id") + col("__k") * strideE).as("id"), col("vec"))
      val cents = graft.sim.Pinned.ivfCentroids()
      val annTable = s"graft_scaleprobe_ann_x$f"
      time("incann_index_build", f) {
        graft.sim.IncrementalAnn.buildIndex(replicatedEmb(f), annTable,
          buckets = 16, cents)
        spark.table(annTable).count()
      }
      time("incann_probe", f) {
        val qs = replicatedEmb(1).filter(col("id") % 97 === 0)
          .select((col("id") + lit(90000000L)).as("id"), col("vec"))
        graft.sim.IncrementalAnn.probe(spark, qs, annTable, cents,
          k = 10, nProbe = 4).count()
      }
      time("incann_gate_batch", f) {
        // fixed batch through the vector gate against the f-scaled
        // index (threshold high enough that most of the batch appends)
        val batch = replicatedEmb(1).filter(col("id") % 97 === 11)
          .select((col("id") + lit(91000000L)).as("id"), col("vec"))
        graft.sim.IncrementalAnn.gateBatch(batch, annTable, 16, cents,
          thresholdE6 = 990000L, nProbe = 4).count()
      }
      // FILTERED vector search: its own attr-tagged index (the gate
      // appends attr-less postings, so the shared table stays plain and
      // every pre-existing row stays comparable); the build delta vs
      // incann_index_build is the attr id-join, the probe claim is
      // "filtered probe ≈ plain probe" — the predicate prunes at the
      // scan beside the probed-centroid set, no post-filter blowup
      val annAttrTable = s"graft_scaleprobe_annattr_x$f"
      time("incann_attr_index_build", f) {
        graft.sim.IncrementalAnn.buildIndex(
          replicatedEmb(f).withColumn("grp", pmod(col("id"), lit(7))),
          annAttrTable, buckets = 16, cents, attrCols = Seq("grp"))
        spark.table(annAttrTable).count()
      }
      time("incann_probe_filtered", f) {
        val qs = replicatedEmb(1).filter(col("id") % 97 === 0)
          .select((col("id") + lit(90000000L)).as("id"), col("vec"))
        graft.sim.IncrementalAnn.probe(spark, qs, annAttrTable, cents,
          k = 10, nProbe = 4, filter = Some(col("grp") === 3)).count()
      }
      spark.sql(s"DROP TABLE IF EXISTS $annAttrTable")

      // PQ-compressed incremental index: same probe contract served
      // from codes (~8 effective bytes/posting vs 512 of float64) —
      // the flatness must hold AND the index bytes must shrink
      val pqBooks = graft.sim.Pinned.pqBooks()
      val pqTable = s"graft_scaleprobe_pq_x$f"
      time("incpq_index_build", f) {
        graft.sim.IncrementalPq.buildIndex(replicatedEmb(f), pqTable,
          buckets = 16, cents, pqBooks)
        spark.table(pqTable).count()
      }
      time("incpq_probe", f) {
        val qs = replicatedEmb(1).filter(col("id") % 97 === 0)
          .select((col("id") + lit(90000000L)).as("id"), col("vec"))
        graft.sim.IncrementalPq.probe(spark, qs, pqTable, cents, pqBooks,
          k = 10, nProbe = 4).count()
      }
      time("incpq_rerank", f) {
        // the q141 serving stack: ADC shortlist from the code index +
        // exact re-rank fetching full vectors for the shortlist only —
        // both scans bucket-pruned, vn table touched via a broadcast
        // of the shortlist. Fixed queries + codebook-bounded probed
        // lists ⇒ should track incpq_probe, NOT the index size
        val qs = replicatedEmb(1).filter(col("id") % 97 === 0)
          .select((col("id") + lit(90000000L)).as("id"), col("vec"))
        graft.sim.IncrementalPq.probeRerank(spark, qs, pqTable, annTable,
          cents, pqBooks, k = 10, nProbe = 4, rerankFactor = 5).count()
      }
      time("incpq_pair_append", f) {
        // continuous-ingest steady state (streamAppend's per-batch
        // body): a FIXED 500-vector batch appended to the f-scaled
        // SERVING PAIR — vn first, then codes. Cost claim: flat vs
        // index size — each append normalizes+assigns+encodes ITS
        // batch and bucket-writes it; existing postings are never
        // read (compaction amortizes file growth, measured elsewhere)
        val batch = replicatedEmb(1).limit(500)
          .select((col("id") + lit(80000000L)).as("id"), col("vec"))
        graft.sim.IncrementalAnn.appendToIndex(batch, annTable,
          buckets = 16, cents)
        graft.sim.IncrementalPq.appendToIndex(batch, pqTable,
          buckets = 16, cents, pqBooks)
        500L
      }
      time("incpq_refresh_from_vn", f) {
        // PQ drift maintenance WITHOUT the corpus: re-encode the whole
        // code table from the companion vn index under new codebooks —
        // the claim is cost ≈ one code-table rewrite (one vn read +
        // one staged bucket write), i.e. the same shape as
        // incpq_index_build, never MORE
        graft.sim.IncrementalPq.refreshFromVnIndex(spark, pqTable,
          annTable, graft.sim.Pinned.ivfCentroids(salt = "r-"),
          graft.sim.Pinned.pqBooks(salt = "r-")).toLong
      }
      spark.sql(s"DROP TABLE IF EXISTS $pqTable")

      time("incann_reassign", f) {
        // codebook refresh's re-key job over the WHOLE f-scaled index:
        // the claim is "same cost shape as buildIndex" — one read +
        // one bucket-write shuffle, corpus never re-read
        graft.sim.IncrementalAnn.reassignIndex(spark, annTable,
          graft.sim.Pinned.ivfCentroids(salt = "r-")).toLong
      }
      spark.sql(s"DROP TABLE IF EXISTS $annTable")

      // incremental BM25 index: tokenize once, serve query batches
      // from the persisted postings — probe cost is bound by the
      // MATCHING postings (term df grows with the corpus), never a
      // corpus re-scan; the fixed job floor dominates at this size
      val bmName = s"graft_scaleprobe_bm25_x$f"
      time("incbm25_index_build", f) {
        graft.text.IncrementalBm25.buildIndex(d, bmName, buckets = 32)
        spark.table(s"${bmName}_postings").count()
      }
      time("incbm25_probe", f) {
        val qterms = graft.queries.SimQueries.hybridQueryTerms
          .toDF("query_id", "terms")
        graft.text.IncrementalBm25.probe(spark, qterms, bmName, k = 20)
          .count()
      }
      time("incbm25_append", f) {
        // continuous-ingest steady state (streamAppend's per-batch
        // body): a FIXED-size batch appended to the f-scaled index.
        // Cost claim: flat vs index size — an append tokenizes ITS
        // batch and bucket-writes it plus one stats-row swap; the
        // existing postings are never read (compaction, measured by
        // its own rows elsewhere, amortizes the file growth)
        val batch = replicated(1).limit(500)
          .select((col("doc_id") + lit(90000000L)).as("doc_id"),
            col("text"))
        graft.text.IncrementalBm25.appendToIndex(batch, bmName,
          buckets = 32)
        500L
      }
      spark.sql(s"DROP TABLE IF EXISTS ${bmName}_postings")
      spark.sql(s"DROP TABLE IF EXISTS ${bmName}_stats")

      // incremental materialized aggregate + distinct sketch: serve
      // reads O(group partials) / O(k hashes per group) — bounded by
      // the 4096 fixed groups, NOT the f-scaled corpus; a fixed-size
      // append is flat vs index size (tokenize/hash ITS batch + one
      // bucket write + the sentinel check's pruned scan)
      val aggName = s"graft_scaleprobe_incagg_x$f"
      time("incagg_build", f) {
        val src = d.select(pmod(col("doc_id"), lit(4096)).as("g"),
          length(col("text")).cast("long").as("v"))
        graft.ops.IncrementalAgg.buildIndex(src, aggName, buckets = 16,
          "g", Seq("v"))
        spark.table(s"${aggName}_partials").count()
      }
      time("incagg_append", f) {
        val batch = replicated(1).limit(500)
          .select(pmod(col("doc_id") + lit(70000000L), lit(4096)).as("g"),
            length(col("text")).cast("long").as("v"))
        graft.ops.IncrementalAgg.append(batch, aggName, 16, "g", Seq("v"),
          tag = "sp1")
        500L
      }
      time("incagg_serve", f) {
        graft.ops.IncrementalAgg.serve(spark, aggName).count()
      }
      spark.sql(s"DROP TABLE IF EXISTS ${aggName}_partials")

      val kmvName = s"graft_scaleprobe_incdist_x$f"
      time("incdist_build", f) {
        val src = d.select(pmod(col("doc_id"), lit(4096)).as("g"),
          col("doc_id").as("v"))
        graft.ops.IncrementalDistinct.buildIndex(src, kmvName,
          buckets = 16, "g", "v", k = 64)
        spark.table(s"${kmvName}_kmv").count()
      }
      time("incdist_serve", f) {
        graft.ops.IncrementalDistinct.serve(spark, kmvName, k = 64).count()
      }
      spark.sql(s"DROP TABLE IF EXISTS ${kmvName}_kmv")

      val qskName = s"graft_scaleprobe_incq_x$f"
      time("incq_build", f) {
        val src = d.select(pmod(col("doc_id"), lit(4096)).as("g"),
          col("doc_id").as("id"), length(col("text")).cast("long").as("v"))
        graft.ops.IncrementalQuantiles.buildIndex(src, qskName,
          buckets = 16, "g", "id", "v", k = 64)
        spark.table(s"${qskName}_qsk").count()
      }
      time("incq_serve", f) {
        graft.ops.IncrementalQuantiles.serve(spark, qskName,
          qs = Seq(0.5, 0.99), k = 64).count()
      }
      spark.sql(s"DROP TABLE IF EXISTS ${qskName}_qsk")

      // keyed merge: cost tracks the TOUCHED buckets' size, not the
      // table — an 8-key batch against 64 buckets rewrites ≤ 8/64 of
      // the data whatever the factor (the bucket count is the knob: at
      // 100 TB size buckets so a batch touches a small fraction).
      // replica_sync ships the merge's changed files only, so it
      // should track merge_batch, not the table.
      val mrgName = s"graft_scaleprobe_merge_x$f"
      val dstName = s"graft_scaleprobe_replica_x$f"
      val ivmName = s"graft_scaleprobe_ivm_x$f"
      time("merge_table_build", f) {
        val src = d.select(col("doc_id").as("k"),
          length(col("text")).cast("long").as("v"))
        graft.sources.Bucketed.save(src, mrgName, Seq("k"), 64)
        graft.sources.Bucketed.setRetention(spark, mrgName, 6)
        graft.sources.Replication.bootstrap(spark, mrgName, dstName, 64)
        graft.ops.Ivm.create(spark, mrgName,
          ivmName, 16, "k", Seq("v"))
        spark.table(mrgName).count()
      }
      time("merge_batch", f) {
        val batch = replicated(1).limit(8)
          .select(col("doc_id").as("k"), lit(-1L).as("v"))
        graft.sources.Bucketed.mergeByKey(spark, mrgName, batch)
        8L
      }
      time("replica_sync", f) {
        graft.sources.Replication.sync(spark, mrgName, dstName)
      }
      // the view refreshes off the SAME merge delta: per-changed-files
      // cost, flat vs the table's factor like replica_sync
      time("ivm_refresh", f) {
        graft.ops.Ivm.refresh(spark, mrgName, ivmName, 16, "k", Seq("v"))
      }
      spark.sql(s"DROP TABLE IF EXISTS ${ivmName}_partials")
      spark.sql(s"DROP TABLE IF EXISTS $dstName")
      spark.sql(s"DROP TABLE IF EXISTS $mrgName")

      // file skipping: three time-ordered thirds, a range read inside
      // one third — pruned scan cost should stay ~1/3 of the full scan
      // at every factor (the pruning itself is O(files) footer reads)
      val skipName = s"graft_scaleprobe_skip_x$f"
      time("statprune_table_build", f) {
        val src = d.select(col("doc_id").as("k"),
          (col("doc_id") % 300L).as("t"),
          length(col("text")).cast("long").as("v"))
        graft.sources.Bucketed.save(src.filter(col("t") < 100), skipName,
          Seq("k"), 8)
        graft.sources.Bucketed.save(
          src.filter(col("t") >= 100 && col("t") < 200), skipName,
          Seq("k"), 8, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.save(src.filter(col("t") >= 200), skipName,
          Seq("k"), 8, mode = org.apache.spark.sql.SaveMode.Append)
        spark.table(skipName).count()
      }
      time("statprune_scan_full", f) {
        graft.sources.Bucketed.load(spark, skipName)
          .filter(col("t").between(220L, 260L)).count()
      }
      time("statprune_scan_pruned", f) {
        graft.sources.FileStats.loadBetween(spark, skipName, "t",
          220L, 260L).count()
      }
      time("metadata_topk", f) {
        // ORDER BY t DESC LIMIT 100 on the same three time-ordered
        // thirds: the scan stops at the newest third's files (ties on
        // t force its full slice, never the older thirds) — flat in f
        // like every boundary-file read, with the first call's footer
        // pass amortized by the sidecar
        val r = graft.sources.FileStats.topK(spark, skipName, "t",
          k = 100, tieCols = Seq("k"))
        r.rows.count() + r.scannedFiles.toLong
      }
      time("filtered_topk", f) {
        // WHERE t in the middle third ORDER BY t ASC LIMIT 100: the
        // range pruning drops 2/3 of the candidate files before the
        // ascending boundary visit — the full retrieval shape, still
        // boundary-file cost at every factor
        val r = graft.sources.FileStats.topK(spark, skipName, "t",
          k = 100, tieCols = Seq("k"), ascending = true,
          range = Some(("t", 100L, 199L)))
        r.rows.count() + r.scannedFiles.toLong
      }
      time("maintain_table_decision", f) {
        // governed-table auto-maintenance on a HEALTHY table: the
        // decision scan is one dir listing + manifest/sidecar parses
        // (the sidecar is current after the topk calls above) — zero
        // data reads, poll-safe at any frequency and any factor. The
        // threshold is set above this fixture's per-bucket file count
        // so the row measures the DECISION, not a compaction.
        val d0 = graft.sources.IndexMaintenance.maintainTableIfNeeded(
          spark, skipName, maxFilesPerBucket = 1000)
        (d0.compactedBuckets + d0.vacuumedFiles).toLong
      }
      spark.sql(s"DROP TABLE IF EXISTS $skipName")

      // JOIN-view IVM: fact-side deltas refresh at O(delta ⋈ dim) —
      // flat in f (dim-side deltas inherently cost O(fact slice ⋈
      // Δdim); this row measures the common fact-append/update case)
      val jvA = s"graft_scaleprobe_jivm_a_x$f"
      val jvB = s"graft_scaleprobe_jivm_b_x$f"
      val jvV = s"graft_scaleprobe_jivm_v_x$f"
      time("joinivm_build", f) {
        val src = d.select(col("doc_id").as("k"),
          (col("doc_id") % 64L).as("j"),
          length(col("text")).cast("long").as("v"))
        graft.sources.Bucketed.save(src, jvA, Seq("k"), 64)
        graft.sources.Bucketed.setRetention(spark, jvA, 6)
        graft.sources.Bucketed.save(
          spark.range(64).select(col("id").as("j"),
            (col("id") * 7L).as("w")),
          jvB, Seq("j"), 4)
        graft.sources.Bucketed.setRetention(spark, jvB, 6)
        graft.ops.Ivm.createJoin(spark, jvA, jvB, "j", jvV, 64,
          aKey = "k", bKey = "j")
        spark.table(jvV).count()
      }
      time("joinivm_refresh_batch", f) {
        val batch = replicated(1).limit(8)
          .select(col("doc_id").as("k"), (col("doc_id") % 64L).as("j"),
            lit(-5L).as("v"))
        graft.sources.Bucketed.mergeByKey(spark, jvA, batch)
        graft.ops.Ivm.refreshJoin(spark, jvA, jvB, "j", jvV)._1
      }
      // SINGLE-view join+agg IVM over the same sources: a fact batch
      // lands as two exactly-once partial appends over delta ⋈ dim —
      // O(batch), flat in f, where the q173+q174 composition would
      // maintain two tables for the same rollup
      val jgV = s"graft_scaleprobe_jagg_v_x$f"
      time("joinagg_build", f) {
        graft.ops.Ivm.createJoinAgg(spark, jvA, jvB, "j", jgV, 16,
          "w", Seq("v"))
        graft.ops.Ivm.serve(spark, jgV).count()
      }
      time("joinagg_fact_batch", f) {
        val batch = replicated(1).limit(8)
          .select(col("doc_id").as("k"), (col("doc_id") % 64L).as("j"),
            lit(-9L).as("v"))
        graft.sources.Bucketed.mergeByKey(spark, jvA, batch)
        graft.ops.Ivm.refreshJoinAgg(spark, jvA, jvB, "j", jgV, 16,
          "w", Seq("v"))._1
      }
      spark.sql(s"DROP TABLE IF EXISTS ${jgV}_partials")
      // LEFT-OUTER join view: the fact case refreshes like the inner
      // view (delta ⋈ dim); the DIM-side delta is the outer family's
      // scaling question — its null-extension recompute reads the
      // fact side SEMI-JOINED to the pair's changed join values, so
      // cost follows the touched values' fact slice (1/64 here), not
      // the whole table
      val ojV = s"graft_scaleprobe_oivm_v_x$f"
      time("outerivm_build", f) {
        graft.ops.Ivm.createJoinLeft(spark, jvA, jvB, "j", ojV, 64,
          aKey = "k")
        spark.table(ojV).count()
      }
      time("outerivm_dim_delta", f) {
        // one dim row deletes → its join value's groups recompute
        // null-extended (the 1→0 transition at scale)
        graft.sources.Bucketed.mergeByKey(spark, jvB,
          spark.range(1).select(lit(5L).as("j"), lit(0L).as("w"),
            lit(true).as("del")),
          deleteCol = Some("del"))
        graft.ops.Ivm.refreshJoinLeft(spark, jvA, jvB, "j", ojV)._2
      }
      // round 14: LEFT-outer join+agg single view — a fact batch is
      // PURE delta (phase 1: ΔA LEFT JOIN the pinned dim → two
      // exactly-once partial appends); flat in f like joinagg
      val jglV = s"graft_scaleprobe_jaggl_v_x$f"
      time("joinaggleft_build", f) {
        graft.ops.Ivm.createJoinAggLeft(spark, jvA, jvB, "j", jglV,
          16, "w", Seq("v"))
        graft.ops.Ivm.serve(spark, jglV).count()
      }
      time("joinaggleft_fact_batch", f) {
        val batch = replicated(1).limit(8)
          .select(col("doc_id").as("k"), (col("doc_id") % 64L).as("j"),
            lit(-7L).as("v"))
        graft.sources.Bucketed.mergeByKey(spark, jvA, batch)
        graft.ops.Ivm.refreshJoinAggLeft(spark, jvA, jvB, "j", jglV,
          16, "w", Seq("v"))._1
      }
      spark.sql(s"DROP TABLE IF EXISTS ${jglV}_partials")
      // round 14: FULL-outer view + the rollup FOLLOWING the pair as
      // one logical source — a fact batch folds the view (pure delta)
      // and the rollup reads the two tables' generation deltas
      // (O(changed files) each, never the A-scan the row views pay on
      // dim deltas); flat in f
      val fvV = s"graft_scaleprobe_fivm_v_x$f"
      val fvR = s"graft_scaleprobe_fivm_r_x$f"
      time("fullivm_build", f) {
        graft.ops.Ivm.createJoinFull(spark, jvA, jvB, "j", fvV, 64,
          aKey = "k", bKey = "j")
        graft.sources.Bucketed.setRetention(spark, fvV, 6)
        graft.sources.Bucketed.setRetention(spark, s"${fvV}_orphans", 6)
        graft.ops.Ivm.createOverFull(spark, fvV, fvR, 16, "w", Seq("v"))
        spark.table(fvV).count()
      }
      time("full_pair_rollup_batch", f) {
        val batch = replicated(1).limit(8)
          .select(col("doc_id").as("k"), (col("doc_id") % 64L).as("j"),
            lit(-3L).as("v"))
        graft.sources.Bucketed.mergeByKey(spark, jvA, batch)
        graft.ops.Ivm.refreshJoinFull(spark, jvA, jvB, "j", fvV)
        graft.ops.Ivm.refreshOverFull(spark, fvV, fvR, 16, "w", Seq("v"))._1
      }
      Seq(s"${fvR}_partials", s"${fvV}_orphans", fvV, ojV, jvV, jvB,
        jvA).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

      // round 14: multi-measure maintained view — one partials table
      // serves N measures; a fixed batch refresh folds every measure
      // in the one pair delta (flat in f)
      val mmName = s"graft_scaleprobe_mm_x$f"
      val mmV = s"graft_scaleprobe_mmv_x$f"
      time("multimeasure_build", f) {
        val src = d.select(col("doc_id").as("k"),
          pmod(col("doc_id"), lit(4096)).as("g"),
          length(col("text")).cast("long").as("v0"),
          (col("doc_id") % 997L).as("v1"))
        graft.sources.Bucketed.save(src, mmName, Seq("k"), 64)
        graft.sources.Bucketed.setRetention(spark, mmName, 6)
        graft.ops.Ivm.create(spark, mmName, mmV, 16, "g",
          Seq("v0", "v1"))
        graft.ops.Ivm.serve(spark, mmV).count()
      }
      time("multimeasure_refresh", f) {
        val batch = replicated(1).limit(8)
          .select(col("doc_id").as("k"),
            pmod(col("doc_id"), lit(4096)).as("g"),
            lit(-1L).as("v0"), lit(2L).as("v1"))
        graft.sources.Bucketed.mergeByKey(spark, mmName, batch)
        graft.ops.Ivm.refresh(spark, mmName, mmV, 16, "g",
          Seq("v0", "v1"))
      }
      Seq(s"${mmV}_partials", mmName).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))

      // round 14: index as a maintained view of a governed corpus —
      // one refreshFromSource propagates a corpus churn (append +
      // keyed delete, two generation pairs) into the BM25 index at
      // O(delta) per pair: the batch tokenizes, the deletes rewrite
      // their content-derived buckets, existing postings never read.
      // Flat in f (the build converts the corpus once, like
      // incbm25_index_build)
      val folSrc = s"graft_scaleprobe_folsrc_x$f"
      val folIdx = s"graft_scaleprobe_folidx_x$f"
      time("follower_bind_build", f) {
        graft.sources.Bucketed.save(d.select(col("doc_id"), col("text")),
          folSrc, Seq("doc_id"), 32)
        graft.sources.Bucketed.setRetention(spark, folSrc, 6)
        graft.text.IncrementalBm25.createFromSource(spark, folSrc,
          folIdx, buckets = 32)
        spark.table(s"${folIdx}_postings").count()
      }
      time("follower_refresh_batch", f) {
        val add = replicated(1).limit(250)
          .select((col("doc_id") + lit(92000000L)).as("doc_id"),
            col("text"))
        graft.sources.Bucketed.save(add, folSrc, Seq("doc_id"), 32,
          mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(spark, folSrc,
          replicated(1).limit(50)
            .select(col("doc_id"), col("text"), lit(true).as("del")),
          deleteCol = Some("del"))
        graft.text.IncrementalBm25.refreshFromSource(spark, folSrc,
          folIdx, buckets = 32)
      }
      Seq(s"${folIdx}_postings", s"${folIdx}_stats", folSrc).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))

      time("hybrid_fusion_batch", f) {
        // the q145 shape at scale: batched BM25 over the f-scaled
        // documents (one postings scan for all queries) + brute-force
        // dense top-20 over the f-scaled embeddings (linear by
        // design — the brute baseline) + RRF. Dominated by the two
        // corpus passes; fusion itself is rank-row arithmetic
        val qterms = graft.queries.SimQueries.hybridQueryTerms
          .toDF("query_id", "terms")
        val text = graft.text.Bm25.topKBatch(d, qterms, k = 20)
          .select("query_id", "doc_id", "rank")
        val vec = graft.sim.Similarity
          .bruteForceTopK(replicatedEmb(1).filter(col("id").isin(3, 7, 11)),
            replicatedEmb(f), k = 20)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank"))
        graft.text.Hybrid.rrf(Seq(text, vec), queryCols = Seq("query_id"),
          idCol = "doc_id", k = 10).count()
      }

      // native vs composed as-of join on replicated events (user ids
      // remapped per replica → f× keys at the same per-key density; the
      // q59 shape: clicks asof-joined to views). Same contract, two
      // implementations — the row pair measures what the custom
      // operator buys: no union of both sides through one sort+window,
      // and one exchange per side instead.
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id").cast("long").as("user_id"),
          col("ts"), col("value"), col("event_type"))
      val strideU = ev.agg(coalesce(max("user_id"), lit(-1L))).head().getLong(0) + 1
      def replicatedEv(f: Int): DataFrame =
        ev.crossJoin(spark.range(f).select(col("id").as("__k")))
          .select(col("event_id"),
            (col("user_id") + col("__k") * strideU).as("user_id"),
            col("ts"), col("value"), col("event_type"))
      val evF = replicatedEv(f).cache(); evF.count()
      val clicks = evF.filter(col("event_type") === "click").drop("event_type")
      val views = evF.filter(col("event_type") === "view").drop("event_type")
      // count(asof_event_id), NOT count(*): counting the PAYLOAD forces
      // the match computation — a bare count lets Catalyst prune the
      // composed form's whole window away (the node-opaque native form
      // can't be pruned), which silently biases the compare
      def evalAsof(df: DataFrame): Long =
        df.agg(count(col("asof_event_id"))).head().getLong(0)
      time("asof_composed", f) {
        evalAsof(graft.ops.Relational.asofJoin(clicks, views,
          Seq("user_id"), "ts", payload = Seq("event_id", "value"),
          rightTieBreak = Seq("event_id")))
      }
      time("asof_native", f) {
        evalAsof(graft.plans.AsofJoin.join(clicks, views,
          Seq("user_id"), "ts", payload = Seq("event_id", "value"),
          rightTieBreak = Seq("event_id")))
      }
      evF.unpersist()
    }

    // Gate-batch LATENCY with compaction on vs off the critical path:
    // streamNovel runs Bucketed.compactBuckets synchronously inside
    // every compactEvery-th foreachBatch, so that batch pays the full
    // rewrite in its own latency. 12 fixed disjoint batches against a
    // corpus-seeded index; median = steady-state batch, max = the
    // compacting batch (on) / plain worst batch (off). Decides VERDICT
    // r8 item 3: if the inline max is tolerable, synchronous stays —
    // an async compaction thread would race the next batch's ANN
    // top-k window (duplicate postings double-count mid-swap).
    if (only.forall(_.exists("gate_latency".contains))) {
      def gateLatency(compactEvery: Int): Seq[Double] = {
        val t = s"graft_scaleprobe_gatelat_$compactEvery"
        graft.text.IncrementalDedup.buildIndex(replicated(1), t, buckets = 32)
        val times = (0 until 12).map { b =>
          // NOVEL batches (synthesized per-doc text, unique shingles):
          // every batch's docs are kept and APPENDED, so the
          // every-compactEvery-th compaction rewrites genuinely
          // re-fragmented buckets — verbatim corpus slices would all
          // be dropped as dups, append nothing, and leave nothing to
          // compact after the first pass (measured: that fixture only
          // timed the one-off seed-fragmentation cleanup)
          val batch = replicated(1)
            .filter(pmod(col("doc_id"), lit(53)) === b)
            .select((col("doc_id") + lit((40 + b) * 1000000L)).as("doc_id"))
            .select(col("doc_id"), concat_ws(" ",
              (0 until 30).map(j => concat(lit("n"),
                ((col("doc_id") * 31 + j * 7) % 9973).cast("string"),
                lit("v"), col("doc_id").cast("string"))): _*).as("text"))
          val t0 = System.nanoTime()
          graft.text.IncrementalDedup.gateBatch(batch, t, 32,
            "text", "doc_id", 3, 16, 4).count()
          if (compactEvery > 0 && (b + 1) % compactEvery == 0)
            graft.sources.Bucketed.compactBuckets(spark, t,
              maxFilesPerBucket = 4)
          (System.nanoTime() - t0) / 1e9
        }
        spark.sql(s"DROP TABLE IF EXISTS $t")
        times
      }
      for ((label, every) <- Seq(("nocompact", 0), ("compact4", 4))) {
        val times = gateLatency(every).sorted
        val med = times(times.length / 2)
        println(f"""SCALE {"op":"gate_batch_latency_$label","batches":${times.length},"median_sec":$med%.2f,"max_sec":${times.last}%.2f}""")
      }
    }
    spark.stop()
  }
}
