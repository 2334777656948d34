package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** Similarity-search queries over `embeddings.parquet`. Determinism:
  * similarities quantized to ×1e6 bigints before ranking, ties broken by
  * neighbor id; dot products summed sequentially in double on both
  * engines (zip_with/aggregate ↔ list_transform/list_reduce).
  */
object SimQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force exact cosine top-k (the ANN baseline): 20 query vectors
    // broadcast against the corpus
    "q27_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e.filter(col("id") < 20), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed ANN (the scale path): same queries, bucketed candidate
    // generation — correctness gate is the recall scalatest vs q27 plus
    // exact row parity with the symmetric-join lshTopK; rows here are
    // checked shape-only by the driver (no closed-form SQL oracle).
    // The broadcast variant is the small-query serving shape: ONE corpus
    // scan, zero corpus shuffle before the top-k window.
    "q28_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopKBroadcast(e.filter(col("id") < 20), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Cluster-balanced sampling (the topic-diversification curation
    // step): assign every embedding to its deterministic k-means
    // centroid, cap each cluster (lowest ids kept — the scale-safe
    // two-pass capPerGroup, no per-cluster global window), report
    // per-cluster totals vs kept. Rows-only for the driver (k-means has
    // no SQL form); ClusterBalanceSpec pins cap semantics + determinism
    "q94_cluster_balance" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = graft.sim.Ivf.trainCentroids(e, nCentroids = 16)
      // checkpoint: consumed by the totals agg AND capPerGroup's two rdd
      // passes — the typed assignment pass would otherwise re-run 3x
      val assigned = graft.sim.Ivf.assignments(e, cents)
        .localCheckpoint(eager = false)
      val capped = graft.text.Curation.capPerGroup(
        assigned, "centroid", Seq(col("id").asc), cap = 20)
      assigned.groupBy("centroid").agg(count(lit(1)).as("n_total"))
        .join(capped.groupBy("centroid").agg(count(lit(1)).as("n_kept")),
          Seq("centroid"), "left_outer")
        .select(col("centroid").cast("long").as("centroid"),
          col("n_total"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("centroid")
    }),

    // IVF ANN (the centroid-bucketed scale path): deterministic spherical
    // k-means codebook, nProbe inverted lists per query, exact re-rank —
    // correctness gate is the recall scalatest vs q27, rows shape-only
    "q41_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.sim.Ivf.ivfTopK(e.filter(col("id") < 20), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Product-quantized ANN (the 25x vector-store compression serving
    // path): per-subspace k-means codebooks, ADC lookup-table scoring,
    // exact re-rank of the shortlist. Rows-only (float k-means has no
    // SQL form); recall ≥0.9 vs q27 and exact-rerank-score parity are
    // scalatested (PqSpec)
    "q82_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.sim.Pq.adcTopK(e.filter(col("id") < 20), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF+PQ composed serving (the canonical billion-vector shape):
    // coarse centroids restrict scoring to probed inverted lists, PQ
    // codes score them with ADC table adds, shortlist re-ranks exactly.
    // Rows-only; recall gate in PqSpec
    "q84_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.sim.Pq.ivfPqTopK(e.filter(col("id") < 20), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Scalar int8 quantization of the embedding store (the 4-8x vector
    // compression path): per-vector code stats are integer-exact, so the
    // oracle checks the quantization arithmetic itself; ANN recall on the
    // codes is scalatested (QuantizeSpec)
    "q50_quantize_int8" -> ((s, dir) => {
      val q = graft.sim.Quantize.int8(emb(s, dir))
      q.select(col("id"), col("scale_e9"),
          size(col("codes")).cast("long").as("n_codes"),
          expr("aggregate(codes, 0L, (a, x) -> a + x)").as("sum_codes"),
          array_min(col("codes")).cast("long").as("min_code"),
          array_max(col("codes")).cast("long").as("max_code"))
        .orderBy("id")
    }),

    // SemDeDup-style semantic dedup: IVF-centroid blocking -> in-block
    // cosine pairs -> connected components -> keep min id. Rows-only for
    // the driver (k-means has no closed-form SQL); the correctness gate
    // is SemanticDedupSpec (planted duplicates collapse, distinct
    // vectors survive, representative is the min id)
    "q58_semantic_dedup" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.sim.SemanticDedup.assignments(e, thresholdE6 = 900000L)
        .orderBy("id")
    }),

    // Per-label embedding stats, quantize-then-sum so group aggregation
    // order cannot introduce FP drift
    "q29_embedding_stats" -> ((s, dir) =>
      graft.sources.Tables.table(s, dir, "embeddings")
        .select(col("label"),
          floor(Similarity.normCol(col("embedding").cast("array<double>"))
            * lit(1000000.0d)).cast("long").as("norm_e6"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("norm_e6").as("sum_norm_e6"))
        .orderBy("label")),

    // Embedding-cosine near-dup pairs, blocked by label — exact within
    // blocks (the oracle-checkable blocked-dedup baseline; LSH-bucketed
    // blocking is the unblocked scale path, recall-tested in scalatest)
    "q39_embedding_neardup" -> ((s, dir) =>
      Similarity.nearDupBlocked(
          graft.sources.Tables.table(s, dir, "embeddings")
            .select(col("vec_id").as("id"), col("embedding").as("vec"),
              col("label")),
          "label", thresholdE6 = 300000L)
        .orderBy("id_a", "id_b")),

    // kNN majority-vote classification: label the vec_id%5==0 holdout
    // from its 10 nearest labeled neighbors (exact cosine, q27 ranking
    // contract; vote ties to the smaller label). The embedding-space
    // auto-labeling shape — graft.sim.Knn scaladoc for the scale plan
    "q89_knn_classify" -> ((s, dir) => {
      val e = graft.sources.Tables.table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label"))
      graft.sim.Knn.classify(
          queries = e.filter(col("id") % 5 === 0).select("id", "vec"),
          labeled = e.filter(col("id") % 5 =!= 0), k = 10)
        .orderBy("query_id")
    }),

    // Signed-random-projection sketch (hyperplane LSH): 16-bit angular
    // signatures, map-only, hyperplanes regenerated from polyhash parity
    // and vector components floor-quantized so the bit pattern is
    // integer-exact cross-engine (graft.sim.Srp scaladoc)
    "q99_srp_sketch" -> ((s, dir) =>
      graft.sim.Srp.sketch(emb(s, dir), planes = 16,
          idCol = "id", vecCol = "vec")
        .orderBy("id")),

    // Dense JL random projection (Achlioptas +-1): 64d float -> 16d
    // integer components, long format; map-only, same deterministic
    // hyperplanes as q99
    "q105_random_projection" -> ((s, dir) =>
      graft.sim.Srp.project(emb(s, dir), outDims = 16,
          idCol = "id", vecCol = "vec")
        .orderBy("id", "j")),

    // q28's candidate-generation substep, hash-checked: the (table,
    // bucket) sign-pattern keys and the compact candidate equi-join are
    // deterministic double arithmetic (left-to-right projections against
    // the polyhash hyperplanes) the oracle replays exactly — so the LSH
    // serving path's bucketing is driver-verified even though the full
    // ANN ranking stays recall-gated
    "q113_lsh_candidates" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshCandidates(e.filter(col("id") < 20), e)
        .orderBy("query_id", "neighbor_id")
    }),

    // q41's assignment substep against the PINNED codebook
    // (graft.sim.Pinned): nearest-centroid inverted-list assignment is
    // normalize + 16 ordered dots + argmax — bit-exact both engines.
    // Same Ivf.assignments code the trained path runs
    "q114_ivf_assign" -> ((s, dir) =>
      graft.sim.Ivf.assignments(emb(s, dir), graft.sim.Pinned.ivfCentroids())
        .select(col("id"), col("centroid").cast("long").as("centroid"))
        .orderBy("id")),

    // q82/q84's serving substeps against PINNED PQ codebooks: subspace
    // code assignment (argmin squared distance) + integer-exact ADC
    // lookup-table scoring, ranked. Same Pq.encode the trained path runs
    "q115_pq_adc" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.sim.Pq.pinnedAdcTopK(e.filter(col("id") < 20), e,
          graft.sim.Pinned.pqBooks(), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("adc_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // q58's hash-checked companion: the full SemDeDup pipeline
    // (centroid blocking -> in-block cosine pairs -> connected
    // components -> min-id representative) against the PINNED codebook;
    // same SemanticDedup/nearDupBlocked/Components code, training
    // dropped out, so the driver verifies the whole keep/drop output
    "q121_semantic_dedup_pinned" -> ((s, dir) =>
      graft.sim.SemanticDedup.assignmentsWith(emb(s, dir),
          thresholdE6 = 900000L, graft.sim.Pinned.ivfCentroids())
        .orderBy("id")),

    // q94's hash-checked companion: the same assignment -> capPerGroup
    // -> balance-report composition (same Ivf.assignments + Curation
    // .capPerGroup code), but against the PINNED codebook so k-means
    // training drops out and the whole pipeline is driver-verified —
    // including WHICH rows the cap kept (max_kept_id pins the boundary)
    "q120_cluster_balance_pinned" -> ((s, dir) => {
      val e = emb(s, dir)
      // checkpoint for the same 3-consumer reason as q94
      val assigned =
        graft.sim.Ivf.assignments(e, graft.sim.Pinned.ivfCentroids())
          .localCheckpoint(eager = false)
      val capped = graft.text.Curation.capPerGroup(
        assigned, "centroid", Seq(col("id").asc), cap = 20)
      assigned.groupBy("centroid").agg(count(lit(1)).as("n_total"))
        .join(capped.groupBy("centroid")
            .agg(count(lit(1)).as("n_kept"), max("id").as("max_kept_id")),
          Seq("centroid"), "left_outer")
        .select(col("centroid").cast("long").as("centroid"),
          col("n_total"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          col("max_kept_id"))
        .orderBy("centroid")
    }),

    // Index-and-probe incremental ANN — the continuous-ingest form of
    // q41 (the q128 shape for embeddings): the corpus's inverted lists
    // persist as a centroid-bucketed table (built once), an arriving
    // query batch computes only its own probe lists and joins the index
    // Exchange-free, bucket-pruned to the probed centroids. The PINNED
    // codebook makes build→probe deterministic arithmetic the oracle
    // replays end to end (the q114 assignment + q27 re-rank doctrine)
    "q131_incremental_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      // index built once per process (the operator's whole point);
      // bench passes 2+ time the probe steady state. dir in the table
      // name, not just the memo key (see q123)
      Setup.once(s"q131:$dir") {
        graft.sim.IncrementalAnn.buildIndex(e.filter(col("id") % 5 =!= 0),
          s"graft_q131_idx_$tag", buckets = 8,
          graft.sim.Pinned.ivfCentroids())
      }
      graft.sim.IncrementalAnn.probe(s, e.filter(col("id") % 5 === 0),
          s"graft_q131_idx_$tag", graft.sim.Pinned.ivfCentroids(),
          k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Right-to-erasure on the inverted-list index (the q133 doctrine
    // for vectors): build the q131 index, delete the id%3==0 slice of
    // the indexed corpus at O(touched buckets) — the deleted vectors
    // re-assign map-only, so the affected buckets are known without
    // scanning the index — then probe. Fresh index per execution (the
    // delete MUTATES it); the oracle is q131's with the erased slice
    // excluded from the index side
    "q134_ann_index_delete" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val table = s"graft_q134_idx_$tag"
      val cents = graft.sim.Pinned.ivfCentroids()
      val corpus = e.filter(col("id") % 5 =!= 0)
      graft.sim.IncrementalAnn.buildIndex(corpus, table, buckets = 8, cents)
      graft.sim.IncrementalAnn.deleteFromIndex(
        corpus.filter(col("id") % 3 === 0), table, buckets = 8, cents)
      graft.sim.IncrementalAnn.probe(s, e.filter(col("id") % 5 === 0),
          table, cents, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Continuous novel-vectors gate (the q130 shape for embeddings):
    // seed the inverted-list index with the id%4!=0 corpus, stream the
    // id%4==0 vectors in 4 micro-batches; each batch keeps only vectors
    // with no cos>=0.33 match in its probed lists or earlier in the
    // batch (symmetric visibility, larger id drops), appends the kept
    // postings, and compacts once. Fresh index every execution — the
    // gate MUTATES it. The oracle unrolls the 4 steps over the same
    // pinned-codebook assignment arithmetic
    "q132_vector_novel_gate" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val table = s"graft_q132_idx_$tag"
      val cents = graft.sim.Pinned.ivfCentroids()
      graft.sim.IncrementalAnn.buildIndex(
        e.filter(col("id") % 4 =!= 0), table, buckets = 8, cents)
      val base = Setup.scratchDir("q132")
      val stream = e.filter(col("id") % 4 === 0)
        .withColumn("b", pmod(floor(col("id") / 4), lit(4)))
      // staged source files: fixture INPUT, shared across executions
      // (Setup.stageOnce); the index, gate state and outputs below stay
      // per-execution — the gate still mutates a fresh index every run
      val src = Setup.stageOnce("q132", dir,
        (0 to 3).map(j => stream.filter(col("b") === j).drop("b")))
      graft.sim.IncrementalAnn.streamNovel(
          graft.streaming.Streaming.fileStream(s, src,
            maxFilesPerTrigger = Some(1)),
          table, buckets = 8, cents, s"$base/out",
          thresholdE6 = 330000L, nProbe = 4, compactEvery = 4)
        .select(col("id"), col("centroid").cast("long").as("centroid"))
        .orderBy("id")
    }),

    // Codebook refresh on the inverted-list index (the run-forever
    // drift-maintenance op): build under pinned codebook A, re-key
    // every posting to pinned codebook B in one full-table rewrite —
    // ids and stored vectors preserved bit-for-bit — then probe with
    // B. The oracle replays the probe against codebook B DIRECTLY
    // (q131's CTE, salted): a refreshed index must be
    // indistinguishable from a fresh build under B. Fresh index per
    // execution (the refresh MUTATES it)
    "q138_ann_codebook_refresh" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val table = s"graft_q138_idx_$tag"
      graft.sim.IncrementalAnn.buildIndex(e.filter(col("id") % 5 =!= 0),
        table, buckets = 8, graft.sim.Pinned.ivfCentroids())
      val centsB = graft.sim.Pinned.ivfCentroids(salt = "r-")
      graft.sim.IncrementalAnn.reassignIndex(s, table, centsB)
      graft.sim.IncrementalAnn.probe(s, e.filter(col("id") % 5 === 0),
          table, centsB, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // PQ-compressed incremental index (IVF-PQ, incrementalized): the
    // q131 layout with postings holding PQ CODES instead of the
    // vector — m·log2(ksub) bits vs dim float64s per posting, the
    // 100 TB index-storage answer. Probe = probed-list bucket-pruned
    // scan + broadcast integer-LUT ADC scoring (floor per subspace
    // BEFORE the order-free BIGINT sum), all of it pinned-codebook
    // arithmetic the oracle replays (the q114 coarse CTE + the q115
    // PQ CTEs, composed)
    "q139_incremental_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      Setup.once(s"q139:$dir") {
        graft.sim.IncrementalPq.buildIndex(e.filter(col("id") % 5 =!= 0),
          s"graft_q139_idx_$tag", buckets = 8,
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks())
      }
      graft.sim.IncrementalPq.probe(s, e.filter(col("id") % 5 === 0),
          s"graft_q139_idx_$tag", graft.sim.Pinned.ivfCentroids(),
          graft.sim.Pinned.pqBooks(), k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("adc_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // RESIDUAL IVF-PQ (the canonical Jégou form): codes quantize
    // vn − coarse(centroid) — residuals are smaller, the same codebook
    // budget quantizes finer — and the probe adds the q·centroid
    // offset back per probed list, integer-quantized so the score
    // stays an order-free BIGINT sum the oracle replays
    "q140_ivfpq_residual" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      Setup.once(s"q140:$dir") {
        graft.sim.IncrementalPq.buildIndex(e.filter(col("id") % 5 =!= 0),
          s"graft_q140_idx_$tag", buckets = 8,
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks(),
          residual = true)
      }
      graft.sim.IncrementalPq.probe(s, e.filter(col("id") % 5 === 0),
          s"graft_q140_idx_$tag", graft.sim.Pinned.ivfCentroids(),
          graft.sim.Pinned.pqBooks(), k = 3, nProbe = 4, residual = true)
        .select(col("query_id"), col("neighbor_id"), col("adc_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // The full IVF-PQ serving stack: ADC shortlist from the CODE index
    // (q139's), exact re-rank fetching vectors from the FULL-VECTOR
    // index (q131's layout) for the shortlist only — the bulk scan
    // reads codes, the big table is touched for queries × 5k rows via
    // a broadcast against its probed buckets. Oracle = q139's ADC
    // CTEs top-15 → q131's exact-dot re-rank → top-3
    "q141_ivfpq_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      Setup.once(s"q141:$dir") {
        graft.sim.IncrementalPq.buildIndex(e.filter(col("id") % 5 =!= 0),
          s"graft_q141_codes_$tag", buckets = 8,
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks())
        graft.sim.IncrementalAnn.buildIndex(e.filter(col("id") % 5 =!= 0),
          s"graft_q141_vn_$tag", buckets = 8,
          graft.sim.Pinned.ivfCentroids())
      }
      graft.sim.IncrementalPq.probeRerank(s, e.filter(col("id") % 5 === 0),
          s"graft_q141_codes_$tag", s"graft_q141_vn_$tag",
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks(),
          k = 3, nProbe = 4, rerankFactor = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // FILTERED vector search (the vector-store feature): attribute
    // columns ride the postings, and the probe's predicate applies
    // BEFORE scoring — pushed into the index scan beside the
    // probed-centroid set — so the top-k is the exact filtered answer
    // (post-filtering an unfiltered top-k under-delivers whenever
    // non-matching neighbours crowd the window)
    "q142_filtered_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      Setup.once(s"q142:$dir") {
        graft.sim.IncrementalAnn.buildIndex(
          e.filter(col("id") % 5 =!= 0)
            .withColumn("grp", pmod(col("id"), lit(7))),
          s"graft_q142_idx_$tag", buckets = 8,
          graft.sim.Pinned.ivfCentroids(), attrCols = Seq("grp"))
      }
      graft.sim.IncrementalAnn.probe(s, e.filter(col("id") % 5 === 0),
          s"graft_q142_idx_$tag", graft.sim.Pinned.ivfCentroids(),
          k = 3, nProbe = 4, filter = Some(col("grp") === 3))
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Hybrid retrieval: BM25 keyword top-20 and exact-cosine vector
    // top-20 for one session (terms + doc 7's embedding, ids aligned
    // doc_id = vec_id), fused by reciprocal-rank fusion with
    // integer-quantized contributions (1e6 div (60 + rank)) — the
    // standard normalization-free fusion, order-free BIGINT sum
    "q143_hybrid_rrf" -> ((s, dir) => {
      val d = graft.sources.Tables.table(s, dir, "documents")
      val e = emb(s, dir)
      val text = graft.text.Hybrid.rankCut(
          graft.text.Bm25.topK(d,
            Seq("spark", "join", "window", "stream"), k = 20),
          queryId = 7L,
          Seq(col("score_e6").desc, col("doc_id").asc))
        .select("query_id", "doc_id", "rank")
      val vec = graft.sim.Similarity
        .bruteForceTopK(e.filter(col("id") === 7), e, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.text.Hybrid.rrf(Seq(text, vec), queryCols = Seq("query_id"),
          idCol = "doc_id", k = 10)
        .select(col("query_id"), col("doc_id"), col("rrf_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // PQ codebook refresh WITHOUT the corpus re-read (the 100 TB
    // drift answer for the lossy-code family): the code index
    // re-encodes itself from the companion FULL-VECTOR index (q141's
    // pair) — one vn-index read + one staged code-table write through
    // the generation-manifest commit — under NEW pinned coarse +
    // product codebooks (salt "r-"), then probes under them. The
    // oracle replays q139's CTEs entirely under the salted codebooks:
    // a refreshed code index must be indistinguishable from a fresh
    // buildIndex under the new books (the q138 doctrine, for codes).
    // The refresh runs per execution (idempotent — its output depends
    // only on the vn index and the new codebooks)
    "q144_ivfpq_refresh" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val codes = s"graft_q144_codes_$tag"
      val vn = s"graft_q144_vn_$tag"
      Setup.once(s"q144:$dir") {
        graft.sim.IncrementalPq.buildIndex(e.filter(col("id") % 5 =!= 0),
          codes, buckets = 8,
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks())
        graft.sim.IncrementalAnn.buildIndex(e.filter(col("id") % 5 =!= 0),
          vn, buckets = 8, graft.sim.Pinned.ivfCentroids())
      }
      graft.sim.IncrementalPq.refreshFromVnIndex(s, codes, vn,
        graft.sim.Pinned.ivfCentroids(salt = "r-"),
        graft.sim.Pinned.pqBooks(salt = "r-"))
      graft.sim.IncrementalPq.probe(s, e.filter(col("id") % 5 === 0),
          codes, graft.sim.Pinned.ivfCentroids(salt = "r-"),
          graft.sim.Pinned.pqBooks(salt = "r-"), k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("adc_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // MULTI-QUERY hybrid retrieval — the batch contract on the TEXT
    // side too: Bm25.topKBatch scores a (query_id, terms) table in
    // one postings scan (queries enter as a broadcast join, so adding
    // a query adds rows, not jobs or scans — the shape the ANN side's
    // query-batch probes already serve), the dense side retrieves the
    // same ids' embeddings, and RRF fuses per query. Oracle composes
    // the q88 BM25 CTEs grouped per query with the q27 cosine CTEs
    // and replays the fusion
    "q145_hybrid_batch" -> ((s, dir) => {
      import s.implicits._
      val d = graft.sources.Tables.table(s, dir, "documents")
      val e = emb(s, dir)
      val qterms = hybridQueryTerms.toDF("query_id", "terms")
      val text = graft.text.Bm25.topKBatch(d, qterms, k = 20)
        .select("query_id", "doc_id", "rank")
      val vec = graft.sim.Similarity
        .bruteForceTopK(e.filter(col("id").isin(3, 7, 11)), e, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.text.Hybrid.rrf(Seq(text, vec), queryCols = Seq("query_id"),
          idCol = "doc_id", k = 10)
        .select(col("query_id"), col("doc_id"), col("rrf_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Cross-batch re-arrival guard, driver-checked end to end: gate
    // the id%5=0 slice against a batch-tagged index (batch 0 keeps
    // the novel vectors and appends their postings), then re-send the
    // IDENTICAL batch as batch 1 — every kept id's own posting now
    // carries a DIFFERENT batch and counts as an index hit, and every
    // originally-dropped id still hits, so batch 1 contributes
    // NOTHING. The oracle replays only the single batch-0 gate step
    // (the q132 arithmetic): output ≡ batch-0 kept set, each id
    // emitted once. Fresh index per execution (the gate mutates it)
    "q146_gate_rearrival_guard" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val table = s"graft_q146_idx_$tag"
      graft.sim.IncrementalAnn.buildIndex(e.filter(col("id") % 5 =!= 0),
        table, buckets = 8, graft.sim.Pinned.ivfCentroids(),
        batchTagged = true)
      val batch = e.filter(col("id") % 5 === 0)
      def gate(bid: Long): DataFrame =
        graft.sim.IncrementalAnn.gateBatch(batch, table, 8,
            graft.sim.Pinned.ivfCentroids(), thresholdE6 = 330000L,
            nProbe = 4, reArrivalGuard = Some(bid))
          .select(col("id"), col("centroid").cast("long").as("centroid"),
            lit(bid).as("batch"))
      // gate(0) both evaluates and appends before gate(1) runs — the
      // save inside gateBatch materializes the kept checkpoint
      val k0 = gate(0L).localCheckpoint(eager = false)
      val k1 = gate(1L)
      k0.unionByName(k1).orderBy("id")
    }),

    // Incremental BM25 index (the text-retrieval third index family):
    // tokenize the corpus ONCE into persisted (tok, id, tf, dl)
    // postings bucketed on tok + a one-row stats table, then serve
    // the q145 query batch from the index — term-pruned postings
    // scan, df/idf from the pruned rows, dl riding the posting, the
    // corpus never re-read. The oracle replays the index-transparent
    // batched BM25 (the q145 CTEs): an index probe must be
    // indistinguishable from scoring the raw documents
    "q147_incremental_bm25" -> ((s, dir) => {
      import s.implicits._
      val d = graft.sources.Tables.table(s, dir, "documents")
      val tag = Setup.dirTag(dir)
      val name = s"graft_q147_bm25_$tag"
      Setup.once(s"q147:$dir") {
        graft.text.IncrementalBm25.buildIndex(d, name, buckets = 8)
      }
      val qterms = hybridQueryTerms.toDF("query_id", "terms")
      graft.text.IncrementalBm25.probe(s, qterms, name, k = 10)
        .select(col("query_id"), col("doc_id"), col("score_e6"),
          col("n_terms"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // The fully-INDEXED hybrid serving stack — the deployment shape
    // all the index families exist for, composed and driver-checked:
    // BM25 from the persisted postings index (q147), dense from the
    // IVF-PQ code index + exact re-rank off the companion full-vector
    // index (q141), RRF-fused per query — at serving time neither the
    // corpus nor the embeddings table is ever scanned. The oracle
    // composes the shared batched-BM25 CTEs with the parameterized
    // IVF-PQ rerank replay (queries 3/7/11 against the whole-table
    // index, self excluded) and replays the fusion
    "q148_indexed_hybrid" -> ((s, dir) => {
      import s.implicits._
      val d = graft.sources.Tables.table(s, dir, "documents")
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val bm = s"graft_q148_bm25_$tag"
      val codes = s"graft_q148_codes_$tag"
      val vn = s"graft_q148_vn_$tag"
      Setup.once(s"q148:$dir") {
        graft.text.IncrementalBm25.buildIndex(d, bm, buckets = 8)
        graft.sim.IncrementalPq.buildIndex(e, codes, buckets = 8,
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks())
        graft.sim.IncrementalAnn.buildIndex(e, vn, buckets = 8,
          graft.sim.Pinned.ivfCentroids())
      }
      val qterms = hybridQueryTerms.toDF("query_id", "terms")
      val text = graft.text.IncrementalBm25.probe(s, qterms, bm, k = 20)
        .select("query_id", "doc_id", "rank")
      val dense = graft.sim.IncrementalPq.probeRerank(s,
          e.filter(col("id").isin(3, 7, 11)), codes, vn,
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks(),
          k = 20, nProbe = 4, rerankFactor = 3)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.text.Hybrid.rrf(Seq(text, dense), queryCols = Seq("query_id"),
          idCol = "doc_id", k = 10)
        .select(col("query_id"), col("doc_id"), col("rrf_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // FILTERED hybrid retrieval — the q148 serving stack under a
    // metadata predicate (lang = 'de'): the attribute rides BOTH
    // index families' postings (the q142 attr doctrine), so each
    // retriever applies the filter BEFORE scoring, inside its pruned
    // index scan (term isin + lang conjunct for BM25; probed
    // centroids + lang conjunct for the vector side), and RRF fuses
    // k SURVIVING docs per query — post-filtering either top-k would
    // under-deliver whenever non-matching docs crowd the window.
    // BM25 df counts surviving docs (derivable from the one pruned
    // scan); N/avgdl stay corpus-global from the stats row
    "q149_filtered_hybrid" -> ((s, dir) => {
      import s.implicits._
      val d = graft.sources.Tables.table(s, dir, "documents")
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val bm = s"graft_q149_bm25_$tag"
      val vn = s"graft_q149_vn_$tag"
      Setup.once(s"q149:$dir") {
        graft.text.IncrementalBm25.buildIndex(d, bm, buckets = 8,
          attrCols = Seq("lang"))
        graft.sim.IncrementalAnn.buildIndex(
          e.join(d.select(col("doc_id").as("id"), col("lang")), "id"),
          vn, buckets = 8, graft.sim.Pinned.ivfCentroids(),
          attrCols = Seq("lang"))
      }
      val pred = col("lang") === "de"
      val qterms = hybridQueryTerms.toDF("query_id", "terms")
      val text = graft.text.IncrementalBm25.probe(s, qterms, bm, k = 20,
          filter = Some(pred))
        .select("query_id", "doc_id", "rank")
      val dense = graft.sim.IncrementalAnn.probe(s,
          e.filter(col("id").isin(3, 7, 11)), vn,
          graft.sim.Pinned.ivfCentroids(), k = 20, nProbe = 4,
          filter = Some(pred))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.text.Hybrid.rrf(Seq(text, dense), queryCols = Seq("query_id"),
          idCol = "doc_id", k = 10)
        .select(col("query_id"), col("doc_id"), col("rrf_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // FILTERED IVF-PQ rerank — the compressed family's filtered
    // serving stack (q142's doctrine carried to codes, composed with
    // q141's rerank): the attribute rides each CODE posting, the
    // predicate prunes the code scan BEFORE the ADC sum, so the
    // shortlist is already the exact filtered ranking and the exact
    // re-rank off the companion vn index touches only surviving ids.
    // Pre-filtering matters doubly here — a post-filtered shortlist
    // loses both window slots AND re-rank candidates. Oracle: q139's
    // ADC CTEs with the attr predicate in the index selection, then
    // q141's rerank tail
    "q150_filtered_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      Setup.once(s"q150:$dir") {
        graft.sim.IncrementalPq.buildIndex(
          e.filter(col("id") % 5 =!= 0)
            .withColumn("grp", pmod(col("id"), lit(7))),
          s"graft_q150_codes_$tag", buckets = 8,
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks(),
          attrCols = Seq("grp"))
        graft.sim.IncrementalAnn.buildIndex(e.filter(col("id") % 5 =!= 0),
          s"graft_q150_vn_$tag", buckets = 8,
          graft.sim.Pinned.ivfCentroids())
      }
      graft.sim.IncrementalPq.probeRerank(s, e.filter(col("id") % 5 === 0),
          s"graft_q150_codes_$tag", s"graft_q150_vn_$tag",
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks(),
          k = 3, nProbe = 4, rerankFactor = 5,
          filter = Some(col("grp") === 3))
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Streaming ingest into the IVF-PQ SERVING PAIR (the last index
    // family without a continuous-arrival surface): seed half the
    // index as a batch build, stream the other half in 4 file
    // micro-batches — each appends codes AND the companion vn
    // postings (vn first: codes ⊆ vn across every crash window, so a
    // shortlisted id always re-ranks), with a mid-stream compaction
    // tick — then serve probeRerank. The pair must be
    // INDISTINGUISHABLE from q141's batch-built pair, so the oracle
    // is q141's SQL verbatim. Fresh build + stream per execution
    // (the temp checkpoint makes AvailableNow reprocess all files —
    // a rebuild keeps re-execution idempotent, the q132 shape)
    "q151_pq_stream_ingest" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val codes = s"graft_q151_codes_$tag"
      val vn = s"graft_q151_vn_$tag"
      val cents = graft.sim.Pinned.ivfCentroids()
      val books = graft.sim.Pinned.pqBooks()
      val idx = e.filter(col("id") % 5 =!= 0)
      // the two seed builds are independent fresh creates of disjoint
      // tables with no ordering contract (the pair pointer is first
      // stamped by the stream's own commitPair) — overlap their
      // per-job fixed costs (guide §2.6)
      graft.ops.Par.both(
        graft.sim.IncrementalPq.buildIndex(
          idx.filter(pmod(col("id"), lit(2)) === 1), codes, buckets = 8,
          cents, books),
        graft.sim.IncrementalAnn.buildIndex(
          idx.filter(pmod(col("id"), lit(2)) === 1), vn, buckets = 8,
          cents))
      val stream = idx.filter(pmod(col("id"), lit(2)) === 0)
        .withColumn("b", pmod(floor(col("id") / 2), lit(4)))
      // staged source files: fixture INPUT, shared across executions
      // (Setup.stageOnce); the serving pair, its commits, compaction
      // ticks and checkpoint below stay per-execution (fresh rebuild —
      // the re-execution-idempotence contract is unchanged)
      val src = Setup.stageOnce("q151", dir,
        (0 to 3).map(j => stream.filter(col("b") === j).drop("b")))
      graft.sim.IncrementalPq.streamAppend(
        graft.streaming.Streaming.fileStream(s, src,
          maxFilesPerTrigger = Some(1)),
        codes, buckets = 8, cents, books, vnTable = Some(vn),
        compactEvery = 2)
      graft.sim.IncrementalPq.probeRerank(s, e.filter(col("id") % 5 === 0),
          codes, vn, cents, books, k = 3, nProbe = 4, rerankFactor = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Index HEALTH observability — the per-list load profile that
    // tells a run-forever deployment WHEN to pay a codebook refresh
    // (drift piles vectors into few lists; skew shows here long
    // before probe cost or recall degrades). One partial-agg shuffle
    // + a broadcast scalar fold, generic over every posting family's
    // bucketed contract; load_e6 = 1e6 means a perfectly balanced
    // list. Oracle replays the pinned assignment and the same
    // left-associated double arithmetic
    "q152_index_health" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val table = s"graft_q152_idx_$tag"
      Setup.once(s"q152:$dir") {
        graft.sim.IncrementalAnn.buildIndex(e.filter(col("id") % 5 =!= 0),
          table, buckets = 8, graft.sim.Pinned.ivfCentroids())
      }
      graft.sources.IndexMaintenance.listLoadProfile(s, table)
        .select(col("centroid").cast("long").as("centroid"),
          col("n_postings"), col("load_e6"))
        .orderBy("centroid")
    }),

    // The FILTERED fully-indexed hybrid stack — the last composition
    // cell: q148's all-index serving shape (BM25 postings + IVF-PQ
    // codes + exact rerank off the vn companion + RRF) under q149's
    // metadata predicate, with the attribute riding BOTH retrievers'
    // postings so each filters BEFORE scoring inside its pruned scan:
    // the BM25 term isin gains the lang conjunct, and the PQ code
    // scan prunes on lang beside the probed centroids — the ADC
    // shortlist is already the filtered ranking, so the rerank fetch
    // touches only surviving ids. Neither the corpus nor the
    // embeddings table is scanned at serving time
    "q153_filtered_indexed_hybrid" -> ((s, dir) => {
      import s.implicits._
      val d = graft.sources.Tables.table(s, dir, "documents")
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val bm = s"graft_q153_bm25_$tag"
      val codes = s"graft_q153_codes_$tag"
      val vn = s"graft_q153_vn_$tag"
      Setup.once(s"q153:$dir") {
        graft.text.IncrementalBm25.buildIndex(d, bm, buckets = 8,
          attrCols = Seq("lang"))
        graft.sim.IncrementalPq.buildIndex(
          e.join(d.select(col("doc_id").as("id"), col("lang")), "id"),
          codes, buckets = 8, graft.sim.Pinned.ivfCentroids(),
          graft.sim.Pinned.pqBooks(), attrCols = Seq("lang"))
        graft.sim.IncrementalAnn.buildIndex(e, vn, buckets = 8,
          graft.sim.Pinned.ivfCentroids())
      }
      val pred = col("lang") === "de"
      val qterms = hybridQueryTerms.toDF("query_id", "terms")
      val text = graft.text.IncrementalBm25.probe(s, qterms, bm, k = 20,
          filter = Some(pred))
        .select("query_id", "doc_id", "rank")
      val dense = graft.sim.IncrementalPq.probeRerank(s,
          e.filter(col("id").isin(3, 7, 11)), codes, vn,
          graft.sim.Pinned.ivfCentroids(), graft.sim.Pinned.pqBooks(),
          k = 20, nProbe = 4, rerankFactor = 3, filter = Some(pred))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.text.Hybrid.rrf(Seq(text, dense), queryCols = Seq("query_id"),
          idCol = "doc_id", k = 10)
        .select(col("query_id"), col("doc_id"), col("rrf_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Index as a MAINTAINED VIEW of a governed corpus table (the
    // round-14 follower tier): seed a governed table with 3/4 of the
    // corpus, build the BM25 index bound to it
    // (createFromSource), then churn the SOURCE — append the last
    // quarter, mergeByKey-update the %10==1 docs (text gains a
    // ' spark' token), keyed-delete the %9==0 slice — and propagate
    // with ONE refreshFromSource call (per-pair delete-then-append,
    // intent-scrub exactly-once; no dual-writing). The probe must be
    // indistinguishable from a fresh build on the final corpus: the
    // oracle scores the churned corpus directly (the q147 CTEs over a
    // derived docs relation)
    "q180_bm25_follower" -> ((s, dir) => {
      import s.implicits._
      val d = graft.sources.Tables.table(s, dir, "documents")
      val tag = Setup.dirTag(dir)
      val src = s"graft_q180_corpus_$tag"
      val name = s"graft_q180_bm25_$tag"
      Setup.once(s"q180:$dir") {
        val docs = d.select(col("doc_id"), col("text"))
        graft.sources.Bucketed.save(docs.filter(col("doc_id") % 4 =!= 0),
          src, Seq("doc_id"), 8)
        graft.sources.Bucketed.setRetention(s, src, 10)
        graft.text.IncrementalBm25.createFromSource(s, src, name,
          buckets = 8)
        graft.sources.Bucketed.save(docs.filter(col("doc_id") % 4 === 0),
          src, Seq("doc_id"), 8,
          mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, src,
          docs.filter(col("doc_id") % 10 === 1)
            .select(col("doc_id"),
              concat(col("text"), lit(" spark")).as("text")))
        graft.sources.Bucketed.mergeByKey(s, src,
          docs.filter(col("doc_id") % 9 === 0)
            .withColumn("del", lit(true)),
          deleteCol = Some("del"))
        graft.text.IncrementalBm25.refreshFromSource(s, src, name,
          buckets = 8)
      }
      val qterms = hybridQueryTerms.toDF("query_id", "terms")
      graft.text.IncrementalBm25.probe(s, qterms, name, k = 10)
        .select(col("query_id"), col("doc_id"), col("score_e6"),
          col("n_terms"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // The vector-tier follower (q180's doctrine for ANN): a governed
    // (id, vec) table churns — append the %4==0 slice, keyed-delete
    // the %6==0 slice — and the inverted-list index follows via
    // refreshFromSource only. Probe parity with a fresh build on the
    // final state is oracle-checked with the pinned codebook (the
    // q131/q134 CTEs, index side = the churned survivors)
    "q181_ann_follower" -> ((s, dir) => {
      val e = emb(s, dir)
      val tag = Setup.dirTag(dir)
      val src = s"graft_q181_vecs_$tag"
      val table = s"graft_q181_idx_$tag"
      val cents = graft.sim.Pinned.ivfCentroids()
      Setup.once(s"q181:$dir") {
        val corpus = e.filter(col("id") % 5 =!= 0)
        graft.sources.Bucketed.save(corpus.filter(col("id") % 4 =!= 0),
          src, Seq("id"), 8)
        graft.sources.Bucketed.setRetention(s, src, 10)
        graft.sim.IncrementalAnn.createFromSource(s, src, table,
          buckets = 8, cents)
        graft.sources.Bucketed.save(corpus.filter(col("id") % 4 === 0),
          src, Seq("id"), 8,
          mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, src,
          corpus.filter(col("id") % 6 === 0)
            .withColumn("del", lit(true)),
          deleteCol = Some("del"))
        graft.sim.IncrementalAnn.refreshFromSource(s, src, table,
          buckets = 8, cents)
      }
      graft.sim.IncrementalAnn.probe(s, e.filter(col("id") % 5 === 0),
          table, cents, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }))

  private val dotSql =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |  list_transform(list_zip(qv, cv), p -> p[1] * p[2])), (a, b) -> a + b)""".stripMargin

  private def normSql(v: String) =
    s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform($v, x -> x * x)), (a, b) -> a + b))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q27_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql / (${normSql("qv")} * ${normSql("cv")}) * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos_e6, rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q50_quantize_int8" ->
      """WITH q AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM q),
        |c AS (SELECT id,
        |        CAST(floor(maxabs / 127.0 * 1e9) AS BIGINT) AS scale_e9,
        |        CASE WHEN maxabs > 0
        |          THEN list_transform(v, x -> CAST(floor(x / maxabs * 127.0 + 0.5) AS BIGINT))
        |          ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
        |      FROM m)
        |SELECT id, scale_e9,
        |       CAST(len(codes) AS BIGINT) AS n_codes,
        |       CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |       CAST(list_min(codes) AS BIGINT) AS min_code,
        |       CAST(list_max(codes) AS BIGINT) AS max_code
        |FROM c ORDER BY id""".stripMargin,

    "q29_embedding_stats" ->
      s"""WITH x AS (
         |  SELECT label,
         |         CAST(floor(${normSql("embedding::DOUBLE[]")} * 1000000.0) AS BIGINT) AS norm_e6
         |  FROM embeddings)
         |SELECT label, COUNT(*) AS n, CAST(SUM(norm_e6) AS BIGINT) AS sum_norm_e6
         |FROM x GROUP BY label ORDER BY label""".stripMargin,

    "q39_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         |p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         CAST(floor(
         |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |             list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])),
         |             (acc, x) -> acc + x)
         |           / (${normSql("a.v")} * ${normSql("b.v")}) * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos_e6 FROM p WHERE cos_e6 >= 300000
         |ORDER BY id_a, id_b""".stripMargin,

    "q89_knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE vec_id % 5 = 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
         |             CAST(label AS BIGINT) AS label
         |      FROM embeddings WHERE vec_id % 5 <> 0),
         |scored AS (
         |  SELECT query_id, neighbor_id, label,
         |         CAST(floor($dotSql / (${normSql("qv")} * ${normSql("cv")}) * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM q CROSS JOIN c),
         |ranked AS (
         |  SELECT query_id, label,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM scored),
         |votes AS (
         |  SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
         |  FROM ranked WHERE rank <= 10 GROUP BY query_id, label),
         |best AS (
         |  SELECT query_id, label, n_votes,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY n_votes DESC, label) AS r
         |  FROM votes)
         |SELECT query_id, label AS pred_label, n_votes
         |FROM best WHERE r = 1 ORDER BY query_id""".stripMargin,

    // sign matrix regenerated from polyhash("j:d") parity; components
    // floor-quantized to e6 bigints so the per-plane dot is an integer
    // GROUP BY sum (order-free — float sums would not be)
    "q99_srp_sketch" ->
      s"""$srpDotsCte
         |SELECT id,
         |       CAST(SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << j)
         |                     ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS srp
         |FROM dots GROUP BY id ORDER BY id""".stripMargin,

    // same quantized-dot base as q99, keeping magnitudes (long format)
    "q105_random_projection" ->
      s"""$srpDotsCte
         |SELECT id, CAST(j AS BIGINT) AS j, dot AS y_e6
         |FROM dots ORDER BY id, j""".stripMargin,

    // replay of Similarity.lshCandidates: hyperplane component (plane
    // t*131+p, dim d) = polyhash("plane:d")/P*2-1 as DOUBLE, projection
    // = left-to-right ordered sum over the raw double vector (the same
    // IEEE sequence bucketOf runs), bucket = 6-bit sign string per
    // table, candidates = distinct equi-join on (t, bucket)
    "q113_lsh_candidates" ->
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |pr AS (SELECT id, t, p,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           [v[d + 1] *
         |              (CAST(${TextQueries.Sql.poly(
                          "CAST(t * 131 + p AS VARCHAR) || ':' || " +
                          "CAST(d AS VARCHAR)")} AS DOUBLE)
         |               / 1000000007 * 2.0 - 1.0)
         |            for d in range(0, least(len(v), 64))]),
         |           (a, b) -> a + b) AS proj
         |       FROM e
         |       CROSS JOIN (SELECT unnest(range(0, 8)) AS t) tt
         |       CROSS JOIN (SELECT unnest(range(0, 6)) AS p) pp),
         |bk AS (SELECT id, t,
         |         string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END,
         |                    '' ORDER BY p) AS bucket
         |       FROM pr GROUP BY id, t)
         |SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
         |FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
         |WHERE q.id < 20 AND q.id <> c.id
         |ORDER BY query_id, neighbor_id""".stripMargin,

    // replay of Ivf.assignments against the Pinned codebook: normalize
    // (x * (1/sqrt(ss)), the exact operation order), 16 ordered dots,
    // argmax with ties to the lower centroid index
    "q114_ivf_assign" ->
      s"""$pinnedAssignCte
         |SELECT id, CAST(centroid AS BIGINT) AS centroid
         |FROM asg ORDER BY id""".stripMargin,

    // SemDeDup replay against the pinned codebook: blocked exact-cosine
    // pairs (raw-vector dot/norm, the q39 arithmetic) within pinned
    // centroids, recursive component closure, min-id representative
    "q121_semantic_dedup_pinned" ->
      s"""${pinnedAssignCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |prs AS (SELECT a.id AS id_a, b.id AS id_b
         |        FROM (SELECT e.id, e.v, g.centroid
         |              FROM e JOIN asg g ON e.id = g.id) a
         |        JOIN (SELECT e.id, e.v, g.centroid
         |              FROM e JOIN asg g ON e.id = g.id) b
         |          ON a.centroid = b.centroid AND a.id < b.id
         |        WHERE CAST(floor(
         |            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |              list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])),
         |              (acc, x) -> acc + x)
         |            / (${normSql("a.v")} * ${normSql("b.v")})
         |            * 1000000.0) AS BIGINT) >= 900000),
         |edges AS (SELECT id_a AS u, id_b AS w2 FROM prs
         |          UNION SELECT id_b, id_a FROM prs),
         |reach(u, m) AS (
         |  SELECT id, id FROM asg
         |  UNION
         |  SELECT e2.u, r.m FROM edges e2 JOIN reach r ON r.u = e2.w2),
         |comp AS (SELECT u AS id, MIN(m) AS component
         |         FROM reach GROUP BY u)
         |SELECT id, component, CAST(component = id AS BIGINT) AS kept
         |FROM comp ORDER BY id""".stripMargin,

    // q94's pipeline (assignment -> capPerGroup -> balance report)
    // against the pinned codebook: totals, kept counts under the cap of
    // 20 lowest ids, and the 20th-lowest kept id per cluster
    "q120_cluster_balance_pinned" ->
      s"""$pinnedAssignCte,
         |tot AS (SELECT centroid, CAST(COUNT(*) AS BIGINT) AS n_total
         |        FROM asg GROUP BY centroid),
         |kept AS (SELECT centroid, id FROM (
         |           SELECT centroid, id,
         |                  row_number() OVER (PARTITION BY centroid
         |                                     ORDER BY id) AS rn
         |           FROM asg)
         |         WHERE rn <= 20),
         |k2 AS (SELECT centroid, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |         CAST(MAX(id) AS BIGINT) AS max_kept_id
         |       FROM kept GROUP BY centroid)
         |SELECT CAST(t.centroid AS BIGINT) AS centroid, t.n_total,
         |       k2.n_kept, k2.max_kept_id
         |FROM tot t JOIN k2 USING (centroid)
         |ORDER BY centroid""".stripMargin,

    // replay of Pq.encode + pinnedAdcTopK against the Pinned PQ
    // codebooks: per-subspace argmin squared distance (ordered sums,
    // ties to the lower code), per-query integer LUT (floor(dot*1e6)
    // per subspace BEFORE the sum), order-free BIGINT score sum, top-5
    "q115_pq_adc" ->
      s"""$vnCte,
         |bk AS (SELECT s, c, j,
         |         (CAST(${sqmixOfPoly(
                     "CAST(s AS VARCHAR) || ':' || CAST(c AS VARCHAR)" +
                     " || ':' || CAST(j AS VARCHAR)")} % 5
         |               AS BIGINT) - 2) * 0.25 AS w
         |       FROM (SELECT unnest(range(0, 8)) AS s) ss
         |       CROSS JOIN (SELECT unnest(range(0, 16)) AS c) cc
         |       CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj),
         |bl AS (SELECT s, c, list(w ORDER BY j) AS bv FROM bk GROUP BY s, c),
         |dist AS (SELECT id, s, c,
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             [(vn[s * 8 + j + 1] - bv[j + 1])
         |                * (vn[s * 8 + j + 1] - bv[j + 1])
         |              for j in range(0, 8)]),
         |             (a, b) -> a + b) AS d2
         |         FROM vn CROSS JOIN bl),
         |codes AS (SELECT id AS neighbor_id, s, c AS code FROM (
         |            SELECT id, s, c, row_number() OVER (PARTITION BY id, s
         |                                                ORDER BY d2 ASC, c) AS rn
         |            FROM dist)
         |          WHERE rn = 1),
         |lut AS (SELECT q.id AS query_id, bl.s, bl.c AS code,
         |          CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |            [q.vn[bl.s * 8 + j + 1] * bv[j + 1] for j in range(0, 8)]),
         |            (a, b) -> a + b) * 1000000.0) AS BIGINT) AS lut_e6
         |        FROM vn q CROSS JOIN bl WHERE q.id < 20),
         |score AS (SELECT query_id, neighbor_id,
         |            CAST(SUM(lut_e6) AS BIGINT) AS adc_e6
         |          FROM codes JOIN lut USING (s, code)
         |          WHERE query_id <> neighbor_id
         |          GROUP BY query_id, neighbor_id)
         |SELECT query_id, neighbor_id, adc_e6, rank FROM (
         |  SELECT query_id, neighbor_id, adc_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adc_e6 DESC, neighbor_id) AS rank
         |  FROM score)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // incremental-ANN replay: pinned assignment (the q114 CTE) for the
    // index side, per-query top-4 probe lists by (dot DESC, centroid),
    // join on centroid — each neighbour has ONE centroid, so pairs are
    // unique — exact normalized-dot re-rank, top-3
    "q131_incremental_ann" ->
      s"""$pinnedAssignCte,
         |pr AS (SELECT id AS query_id, c AS centroid FROM (
         |         SELECT id, c, row_number() OVER (PARTITION BY id
         |                          ORDER BY dot DESC, c) AS rn
         |         FROM sc WHERE id % 5 = 0)
         |       WHERE rn <= 4),
         |qn AS (SELECT pr.query_id, pr.centroid, vn.vn AS qv
         |       FROM pr JOIN vn ON vn.id = pr.query_id),
         |idx AS (SELECT asg.id AS neighbor_id, asg.centroid, vn.vn AS cv
         |        FROM asg JOIN vn USING (id) WHERE asg.id % 5 <> 0),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM qn JOIN idx USING (centroid))
         |SELECT query_id, neighbor_id, cos_e6, rank FROM (
         |  SELECT query_id, neighbor_id, cos_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // refresh replay: q131's probe computed entirely under the SALTED
    // pinned codebook — refresh-then-probe must equal
    // build-under-B-then-probe, so the oracle never models the
    // refresh, only codebook B
    "q138_ann_codebook_refresh" ->
      s"""${pinnedAssignCteWith("r-")},
         |pr AS (SELECT id AS query_id, c AS centroid FROM (
         |         SELECT id, c, row_number() OVER (PARTITION BY id
         |                          ORDER BY dot DESC, c) AS rn
         |         FROM sc WHERE id % 5 = 0)
         |       WHERE rn <= 4),
         |qn AS (SELECT pr.query_id, pr.centroid, vn.vn AS qv
         |       FROM pr JOIN vn ON vn.id = pr.query_id),
         |idx AS (SELECT asg.id AS neighbor_id, asg.centroid, vn.vn AS cv
         |        FROM asg JOIN vn USING (id) WHERE asg.id % 5 <> 0),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM qn JOIN idx USING (centroid))
         |SELECT query_id, neighbor_id, cos_e6, rank FROM (
         |  SELECT query_id, neighbor_id, cos_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // IVF-PQ replay: the coarse assignment + probe lists come from the
    // q114/q131 pinned CTE; PQ code assignment and the per-query
    // integer LUT come from the q115 CTEs (index side restricted to
    // id%5<>0, queries to id%5=0); candidates join on centroid, score
    // = order-free BIGINT sum of per-subspace LUT entries, top-3
    "q139_incremental_ivfpq" ->
      (s"$pinnedAssignCte,\n${ivfPqReplayCtes(residual = false)},\n" +
       """score AS (SELECT c2.query_id, c2.neighbor_id,
         |            CAST(SUM(lut_e6) AS BIGINT) AS adc_e6
         |          FROM cand c2
         |          JOIN codes USING (neighbor_id)
         |          JOIN lut ON lut.query_id = c2.query_id
         |                  AND lut.s = codes.s AND lut.code = codes.code
         |          GROUP BY c2.query_id, c2.neighbor_id)
         |SELECT query_id, neighbor_id, adc_e6, rank FROM (
         |  SELECT query_id, neighbor_id, adc_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adc_e6 DESC, neighbor_id) AS rank
         |  FROM score)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // filtered-ANN replay: q131's probe with the attribute predicate
    // (id % 7 = 3, the stored grp column's definition) applied to the
    // index side BEFORE the top-k — exact pre-filtered semantics
    "q142_filtered_ann" ->
      s"""$pinnedAssignCte,
         |pr AS (SELECT id AS query_id, c AS centroid FROM (
         |         SELECT id, c, row_number() OVER (PARTITION BY id
         |                          ORDER BY dot DESC, c) AS rn
         |         FROM sc WHERE id % 5 = 0)
         |       WHERE rn <= 4),
         |qn AS (SELECT pr.query_id, pr.centroid, vn.vn AS qv
         |       FROM pr JOIN vn ON vn.id = pr.query_id),
         |idx AS (SELECT asg.id AS neighbor_id, asg.centroid, vn.vn AS cv
         |        FROM asg JOIN vn USING (id)
         |        WHERE asg.id % 5 <> 0 AND asg.id % 7 = 3),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM qn JOIN idx USING (centroid))
         |SELECT query_id, neighbor_id, cos_e6, rank FROM (
         |  SELECT query_id, neighbor_id, cos_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // hybrid-RRF replay: the q88 BM25 CTEs produce the keyword top-20,
    // the q27 cosine CTEs the vector top-20 for query 7; contributions
    // 1e6 // (60 + rank) sum per doc, top-10
    "q143_hybrid_rrf" -> {
      val words = TextQueries.Sql.words
      s"""WITH dl AS (
         |  SELECT doc_id, CAST(len($words) AS BIGINT) AS dl FROM documents),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM dl),
         |tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($words) AS tok FROM documents)
         |  WHERE tok IN ('spark', 'join', 'window', 'stream')
         |  GROUP BY doc_id, tok),
         |idf AS (
         |  SELECT tok,
         |         CAST(floor((CAST(n_docs - df AS DOUBLE) + 0.5)
         |           / (CAST(df AS DOUBLE) + 0.5) * 1000000.0) AS BIGINT) AS idf_e6
         |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok)
         |  CROSS JOIN stats),
         |w AS (
         |  SELECT tf.doc_id,
         |         CAST(floor(CAST(idf_e6 AS DOUBLE) * (CAST(tf AS DOUBLE) * 2.2)
         |           / (CAST(tf AS DOUBLE)
         |             + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
         |           AS BIGINT) AS w_e6
         |  FROM tf JOIN dl USING (doc_id) JOIN idf USING (tok)
         |  CROSS JOIN stats),
         |bm AS (SELECT doc_id, CAST(SUM(w_e6) AS BIGINT) AS score_e6
         |       FROM w GROUP BY doc_id
         |       ORDER BY score_e6 DESC, doc_id LIMIT 20),
         |tr AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rank
         |       FROM bm),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id = 7),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |      FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql / (${normSql("qv")} * ${normSql("cv")}) * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |vr AS (SELECT neighbor_id AS doc_id, rank FROM (
         |         SELECT neighbor_id,
         |                row_number() OVER (ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |         FROM scored)
         |       WHERE rank <= 20),
         |contrib AS (SELECT doc_id, 1000000 // (60 + rank) AS c2 FROM tr
         |            UNION ALL
         |            SELECT doc_id, 1000000 // (60 + rank) FROM vr),
         |f AS (SELECT doc_id, CAST(SUM(c2) AS BIGINT) AS rrf_e6
         |      FROM contrib GROUP BY doc_id)
         |SELECT query_id, doc_id, rrf_e6, rank FROM (
         |  SELECT CAST(7 AS BIGINT) AS query_id, doc_id, rrf_e6,
         |         CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id)
         |              AS BIGINT) AS rank
         |  FROM f)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    // multi-query hybrid replay: the q88 BM25 CTEs with a qt
    // (query_id, tok) VALUES table and per-query grouping, the q27
    // cosine CTEs for the same query ids, RRF contributions
    // 1e6 // (60 + rank) summed per (query, doc), top-10 per query
    "q145_hybrid_batch" -> {
      s"""$bm25BatchCtes,
         |bmq AS (SELECT qt.query_id, w.doc_id,
         |          CAST(SUM(w_e6) AS BIGINT) AS score_e6
         |        FROM w JOIN qt USING (tok) GROUP BY qt.query_id, w.doc_id),
         |tr AS (SELECT query_id, doc_id, rank FROM (
         |         SELECT query_id, doc_id,
         |                row_number() OVER (PARTITION BY query_id
         |                  ORDER BY score_e6 DESC, doc_id) AS rank
         |         FROM bmq)
         |       WHERE rank <= 20),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id IN (3, 7, 11)),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |      FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql / (${normSql("qv")} * ${normSql("cv")}) * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |vr AS (SELECT query_id, neighbor_id AS doc_id, rank FROM (
         |         SELECT query_id, neighbor_id,
         |                row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |         FROM scored)
         |       WHERE rank <= 20),
         |contrib AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS c2
         |            FROM tr
         |            UNION ALL
         |            SELECT query_id, doc_id, 1000000 // (60 + rank) FROM vr),
         |f AS (SELECT query_id, doc_id, CAST(SUM(c2) AS BIGINT) AS rrf_e6
         |      FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, rrf_e6, rank FROM (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_e6,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rank
         |  FROM f)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    // IVF-PQ + exact-re-rank replay: q139's ADC CTEs produce the
    // top-15 shortlist per query, q131's exact normalized-dot scores
    // re-rank it, top-3
    "q141_ivfpq_rerank" -> ivfPqRerankOracle,

    // stream-ingest replay: q141's oracle VERBATIM — a pair ingested
    // as seed + micro-batch appends must be indistinguishable from
    // the batch-built pair, so the oracle never models the stream,
    // only the final index content (the q138/q144 doctrine, for
    // continuous ingest)
    "q151_pq_stream_ingest" -> ivfPqRerankOracle,

    // filtered IVF-PQ rerank replay: q141's oracle with the attribute
    // predicate (id % 7 = 3, the stored grp column's definition) in
    // the index selection — it restricts cand, so the ADC shortlist
    // AND the re-rank see only matching rows (exact pre-filtered
    // semantics on the compressed family)
    "q150_filtered_ivfpq" ->
      (s"$pinnedAssignCte,\n${ivfPqReplayCtes(residual = false,
        indexSel = "id % 5 <> 0 AND id % 7 = 3")},\n" +
       s"${adcRerankCtes(15)}\n" +
       """SELECT query_id, neighbor_id, cos_e6, rank FROM (
         |  SELECT query_id, neighbor_id, cos_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM rs)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // index-health replay: per-centroid posting counts of the pinned
    // id%5<>0 index + the left-associated double load ratio — the
    // denominator is OCCUPIED lists (a zero-posting centroid never
    // appears in the engine's group-by either)
    "q152_index_health" ->
      s"""$pinnedAssignCte,
         |cnt AS (SELECT centroid, CAST(COUNT(*) AS BIGINT) AS n_postings
         |        FROM asg WHERE id % 5 <> 0 GROUP BY centroid),
         |tot AS (SELECT CAST(SUM(n_postings) AS DOUBLE) AS total,
         |               CAST(COUNT(*) AS DOUBLE) AS lists FROM cnt)
         |SELECT centroid, n_postings,
         |       CAST(floor(CAST(n_postings AS DOUBLE) * lists / total
         |              * 1000000.0) AS BIGINT) AS load_e6
         |FROM cnt CROSS JOIN tot ORDER BY centroid""".stripMargin,

    // refresh replay: q139's oracle computed entirely under the SALTED
    // pinned coarse AND product codebooks — refresh-from-vn-then-probe
    // must equal build-under-B-then-probe, so the oracle never models
    // the refresh, only codebook set B (the q138 doctrine)
    "q144_ivfpq_refresh" ->
      (s"${pinnedAssignCteWith("r-")},\n" +
       s"${ivfPqReplayCtes(residual = false, salt = "r-")},\n" +
       """score AS (SELECT c2.query_id, c2.neighbor_id,
         |            CAST(SUM(lut_e6) AS BIGINT) AS adc_e6
         |          FROM cand c2
         |          JOIN codes USING (neighbor_id)
         |          JOIN lut ON lut.query_id = c2.query_id
         |                  AND lut.s = codes.s AND lut.code = codes.code
         |          GROUP BY c2.query_id, c2.neighbor_id)
         |SELECT query_id, neighbor_id, adc_e6, rank FROM (
         |  SELECT query_id, neighbor_id, adc_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adc_e6 DESC, neighbor_id) AS rank
         |  FROM score)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // residual IVF-PQ replay: q139's oracle with the dist CTE on
    // RESIDUALS (vn minus the assigned centroid's vector) and the
    // probe pairs carrying the floor(q·centroid × 1e6) offset that the
    // score adds back
    "q140_ivfpq_residual" ->
      (s"$pinnedAssignCte,\n${ivfPqReplayCtes(residual = true)},\n" +
       """score AS (SELECT c2.query_id, c2.neighbor_id,
         |            CAST(c2.off_e6 + SUM(lut_e6) AS BIGINT) AS adc_e6
         |          FROM cand c2
         |          JOIN codes USING (neighbor_id)
         |          JOIN lut ON lut.query_id = c2.query_id
         |                  AND lut.s = codes.s AND lut.code = codes.code
         |          GROUP BY c2.query_id, c2.neighbor_id, c2.off_e6)
         |SELECT query_id, neighbor_id, adc_e6, rank FROM (
         |  SELECT query_id, neighbor_id, adc_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adc_e6 DESC, neighbor_id) AS rank
         |  FROM score)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // delete replay: q131's probe with the erased corpus slice
    // (id%3==0) excluded from the index side
    "q134_ann_index_delete" ->
      s"""$pinnedAssignCte,
         |pr AS (SELECT id AS query_id, c AS centroid FROM (
         |         SELECT id, c, row_number() OVER (PARTITION BY id
         |                          ORDER BY dot DESC, c) AS rn
         |         FROM sc WHERE id % 5 = 0)
         |       WHERE rn <= 4),
         |qn AS (SELECT pr.query_id, pr.centroid, vn.vn AS qv
         |       FROM pr JOIN vn ON vn.id = pr.query_id),
         |idx AS (SELECT asg.id AS neighbor_id, asg.centroid, vn.vn AS cv
         |        FROM asg JOIN vn USING (id)
         |        WHERE asg.id % 5 <> 0 AND asg.id % 3 <> 0),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM qn JOIN idx USING (centroid))
         |SELECT query_id, neighbor_id, cos_e6, rank FROM (
         |  SELECT query_id, neighbor_id, cos_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // incremental-BM25 replay: the shared q145 batched-BM25 CTEs,
    // per-query top-10 with score and matched-term count — the oracle
    // never models the index, only the scoring the index must
    // reproduce bit for bit
    "q147_incremental_bm25" ->
      (s"$bm25BatchCtes,\n" +
       """bmq AS (SELECT qt.query_id, w.doc_id,
         |          CAST(SUM(w_e6) AS BIGINT) AS score_e6,
         |          CAST(COUNT(*) AS BIGINT) AS n_terms
         |        FROM w JOIN qt USING (tok) GROUP BY qt.query_id, w.doc_id)
         |SELECT query_id, doc_id, score_e6, n_terms, rank FROM (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_e6,
         |         n_terms,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank
         |  FROM bmq)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // follower replay: the q147 scoring CTEs over the CHURNED corpus's
    // final state as a derived relation — update = ' spark' suffix on
    // the %10==1 docs, delete = the %9==0 slice gone; the index
    // maintained only through refreshFromSource must score exactly
    // this corpus (N/avgdl included)
    "q180_bm25_follower" ->
      (s"""WITH q180docs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 1 THEN text || ' spark'
         |              ELSE text END AS text
         |  FROM documents WHERE doc_id % 9 <> 0),
         |${bm25BatchCtesOver("q180docs", "TRUE").stripPrefix("WITH ")},
         |""".stripMargin +
       """bmq AS (SELECT qt.query_id, w.doc_id,
         |          CAST(SUM(w_e6) AS BIGINT) AS score_e6,
         |          CAST(COUNT(*) AS BIGINT) AS n_terms
         |        FROM w JOIN qt USING (tok) GROUP BY qt.query_id, w.doc_id)
         |SELECT query_id, doc_id, score_e6, n_terms, rank FROM (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_e6,
         |         n_terms,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank
         |  FROM bmq)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // ANN-follower replay: q131's probe with the index side = the
    // churned survivors (seed %4<>0 plus appended %4==0, minus the
    // deleted %6==0 slice — net: id%5<>0 AND id%6<>0)
    "q181_ann_follower" ->
      s"""$pinnedAssignCte,
         |pr AS (SELECT id AS query_id, c AS centroid FROM (
         |         SELECT id, c, row_number() OVER (PARTITION BY id
         |                          ORDER BY dot DESC, c) AS rn
         |         FROM sc WHERE id % 5 = 0)
         |       WHERE rn <= 4),
         |qn AS (SELECT pr.query_id, pr.centroid, vn.vn AS qv
         |       FROM pr JOIN vn ON vn.id = pr.query_id),
         |idx AS (SELECT asg.id AS neighbor_id, asg.centroid, vn.vn AS cv
         |        FROM asg JOIN vn USING (id)
         |        WHERE asg.id % 5 <> 0 AND asg.id % 6 <> 0),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM qn JOIN idx USING (centroid))
         |SELECT query_id, neighbor_id, cos_e6, rank FROM (
         |  SELECT query_id, neighbor_id, cos_e6,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // indexed-hybrid replay: the shared batched-BM25 CTEs + the
    // parameterized IVF-PQ rerank CTEs (queries id IN (3,7,11),
    // whole-table index side — self excluded by the cand CTE), fused
    // per query by RRF exactly as q145
    "q148_indexed_hybrid" -> {
      val pq = ivfPqReplayCtes(residual = false,
        querySel = "id IN (3, 7, 11)", indexSel = "id >= 0")
      s"""$pinnedAssignCte,
         |${bm25BatchCtes.stripPrefix("WITH ")},
         |$pq,
         |${adcRerankCtes(60)},
         |$indexedHybridFusionTail""".stripMargin
    },

    // filtered fully-indexed hybrid replay: q148's composition with
    // the lang predicate in BOTH retrievers — the batched-BM25 CTEs
    // under the doc predicate (df over survivors, N/avgdl global) and
    // the IVF-PQ index selection restricted to matching doc ids (an
    // IN-subquery on documents, the stored lang attribute's
    // definition) — so shortlist, rerank, and fusion all see only
    // surviving docs; the shared fusion tail is q148's verbatim
    "q153_filtered_indexed_hybrid" -> {
      val pq = ivfPqReplayCtes(residual = false,
        querySel = "id IN (3, 7, 11)",
        indexSel =
          "id IN (SELECT doc_id FROM documents WHERE lang = 'de')")
      s"""$pinnedAssignCte,
         |${bm25BatchCtesWhere("lang = 'de'").stripPrefix("WITH ")},
         |$pq,
         |${adcRerankCtes(60)},
         |$indexedHybridFusionTail""".stripMargin
    },

    // filtered-hybrid replay: the batched-BM25 CTEs under the doc
    // predicate (df over surviving docs, N/avgdl global — the probe's
    // documented filter semantics), the q142-style filtered-ANN CTEs
    // against the lang attribute (index side restricted BEFORE
    // scoring, self excluded), RRF-fused exactly as q148
    "q149_filtered_hybrid" ->
      (s"$pinnedAssignCte,\n" +
       s"${bm25BatchCtesWhere("lang = 'de'").stripPrefix("WITH ")},\n" +
       s"""pr AS (SELECT id AS query_id, c AS centroid FROM (
         |         SELECT id, c, row_number() OVER (PARTITION BY id
         |                          ORDER BY dot DESC, c) AS rn
         |         FROM sc WHERE id IN (3, 7, 11))
         |       WHERE rn <= 4),
         |qn AS (SELECT pr.query_id, pr.centroid, vn.vn AS qv
         |       FROM pr JOIN vn ON vn.id = pr.query_id),
         |fidx AS (SELECT asg.id AS neighbor_id, asg.centroid, vn.vn AS cv
         |         FROM asg JOIN vn USING (id)
         |         JOIN documents dd ON dd.doc_id = asg.id
         |         WHERE dd.lang = 'de'),
         |vscore AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(floor($dotSql * 1000000.0) AS BIGINT) AS cos_e6
         |  FROM qn JOIN fidx USING (centroid)
         |  WHERE neighbor_id <> query_id),
         |vr AS (SELECT query_id, neighbor_id AS doc_id, rank FROM (
         |         SELECT query_id, neighbor_id,
         |                row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |         FROM vscore)
         |       WHERE rank <= 20),
         |bmq AS (SELECT qt.query_id, w.doc_id,
         |          CAST(SUM(w_e6) AS BIGINT) AS score_e6
         |        FROM w JOIN qt USING (tok) GROUP BY qt.query_id, w.doc_id),
         |tr AS (SELECT query_id, doc_id, rank FROM (
         |         SELECT query_id, doc_id,
         |                row_number() OVER (PARTITION BY query_id
         |                  ORDER BY score_e6 DESC, doc_id) AS rank
         |         FROM bmq)
         |       WHERE rank <= 20),
         |contrib AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS c2
         |            FROM tr
         |            UNION ALL
         |            SELECT query_id, doc_id, 1000000 // (60 + rank) FROM vr),
         |f AS (SELECT query_id, doc_id, CAST(SUM(c2) AS BIGINT) AS rrf_e6
         |      FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, rrf_e6, rank FROM (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_e6,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rank
         |  FROM f)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // re-arrival-guard replay: ONE q132-style gate step for batch 0
    // (index hits vs the id%5<>0 seed, symmetric in-batch rule) — the
    // re-sent batch 1 must contribute nothing, so the oracle never
    // models it; its kept set being empty IS the checked claim
    "q146_gate_rearrival_guard" -> {
      def gdot(a: String, b: String) =
        s"""CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(list_zip($a, $b), p -> p[1] * p[2])),
           |  (x, y) -> x + y) * 1000000.0) AS BIGINT)""".stripMargin
      s"""$pinnedAssignCte,
         |pr AS (SELECT id AS query_id, c AS centroid FROM (
         |         SELECT id, c, row_number() OVER (PARTITION BY id
         |                          ORDER BY dot DESC, c) AS rn
         |         FROM sc WHERE id % 5 = 0)
         |       WHERE rn <= 4),
         |prq AS MATERIALIZED (SELECT pr.query_id, pr.centroid, vn.vn AS qv
         |       FROM pr JOIN vn ON vn.id = pr.query_id),
         |strm AS MATERIALIZED (SELECT asg.id, asg.centroid, vn.vn AS cv
         |       FROM asg JOIN vn USING (id) WHERE asg.id % 5 = 0),
         |i_seed AS MATERIALIZED (SELECT asg.id, asg.centroid, vn.vn AS cv
         |        FROM asg JOIN vn USING (id) WHERE asg.id % 5 <> 0),
         |d0 AS (SELECT DISTINCT p.query_id AS id
         |        FROM prq p JOIN i_seed u ON u.centroid = p.centroid
         |        WHERE u.id <> p.query_id
         |          AND ${gdot("p.qv", "u.cv")} >= 330000
         |      UNION
         |      SELECT DISTINCT CASE WHEN x.id > p.query_id THEN x.id
         |                           ELSE p.query_id END AS id
         |        FROM strm x JOIN prq p ON p.centroid = x.centroid
         |        WHERE x.id <> p.query_id
         |          AND ${gdot("p.qv", "x.cv")} >= 330000),
         |k0 AS (SELECT id FROM strm
         |       WHERE id NOT IN (SELECT id FROM d0))
         |SELECT s.id, CAST(s.centroid AS BIGINT) AS centroid,
         |       CAST(0 AS BIGINT) AS batch
         |FROM strm s JOIN k0 USING (id) ORDER BY id""".stripMargin
    },

    // vector-gate replay: 4 unrolled batch steps over the pinned
    // assignment — d_j = batch-j vectors dropped (cos>=0.33 match in
    // their probed lists vs the evolving index i_{j-1}, or the larger
    // id of an in-batch pair visible in either direction), k_j = the
    // rest, i_j = i_{j-1} + k_j postings
    "q132_vector_novel_gate" -> {
      def gdot(a: String, b: String) =
        s"""CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(list_zip($a, $b), p -> p[1] * p[2])),
           |  (x, y) -> x + y) * 1000000.0) AS BIGINT)""".stripMargin
      val steps = (0 to 3).map { j =>
        val prev = if (j == 0) "i_seed" else s"i${j - 1}"
        s"""d$j AS (SELECT DISTINCT p.query_id AS id
           |        FROM prq p JOIN strm s ON s.id = p.query_id AND s.b = $j
           |        JOIN $prev u ON u.centroid = p.centroid
           |        WHERE u.id <> p.query_id
           |          AND ${gdot("p.qv", "u.cv")} >= 330000
           |      UNION
           |      SELECT DISTINCT CASE WHEN x.id > p.query_id THEN x.id
           |                           ELSE p.query_id END AS id
           |        FROM strm x JOIN prq p ON p.centroid = x.centroid
           |        JOIN strm y ON y.id = p.query_id AND y.b = $j
           |        WHERE x.b = $j AND x.id <> p.query_id
           |          AND ${gdot("p.qv", "x.cv")} >= 330000),
           |k$j AS MATERIALIZED (SELECT id FROM strm WHERE b = $j
           |       AND id NOT IN (SELECT id FROM d$j)),
           |i$j AS MATERIALIZED (SELECT id, centroid, cv FROM $prev
           |       UNION ALL
           |       SELECT s.id, s.centroid, s.cv FROM strm s
           |       JOIN k$j USING (id))""".stripMargin
      }.mkString(",\n")
      s"""$pinnedAssignCte,
         |pr AS (SELECT id AS query_id, c AS centroid FROM (
         |         SELECT id, c, row_number() OVER (PARTITION BY id
         |                          ORDER BY dot DESC, c) AS rn
         |         FROM sc WHERE id % 4 = 0)
         |       WHERE rn <= 4),
         |prq AS MATERIALIZED (SELECT pr.query_id, pr.centroid, vn.vn AS qv
         |       FROM pr JOIN vn ON vn.id = pr.query_id),
         |strm AS MATERIALIZED (SELECT asg.id, (asg.id // 4) % 4 AS b,
         |        asg.centroid, vn.vn AS cv
         |       FROM asg JOIN vn USING (id) WHERE asg.id % 4 = 0),
         |i_seed AS MATERIALIZED (SELECT asg.id, asg.centroid, vn.vn AS cv
         |        FROM asg JOIN vn USING (id) WHERE asg.id % 4 <> 0),
         |$steps,
         |kept AS (SELECT id FROM k0 UNION ALL SELECT id FROM k1
         |         UNION ALL SELECT id FROM k2 UNION ALL SELECT id FROM k3)
         |SELECT s.id, s.centroid FROM strm s JOIN kept USING (id)
         |ORDER BY id""".stripMargin
    })

  /** Shared q114/q120/q131 oracle base: pinned-codebook nearest-centroid
    * assignment, ending in `asg(id, centroid)`. `salt` selects the
    * alternate pinned codebook (Pinned.ivfCentroids' salt — q138's
    * refreshed-to codebook). */
  private def pinnedAssignCteWith(salt: String): String =
    s"""$vnCte,
       |cd AS (SELECT c, d,
       |         (CAST(${sqmixOfPoly(s"'$salt' || CAST(c AS VARCHAR) || ':' || CAST(d AS VARCHAR)")} % 5
       |               AS BIGINT) - 2) * 0.25 AS w
       |       FROM (SELECT unnest(range(0, 16)) AS c) cc
       |       CROSS JOIN (SELECT unnest(range(0, 64)) AS d) dd),
       |cl AS (SELECT c, list(w ORDER BY d) AS cv FROM cd GROUP BY c),
       |sc AS (SELECT id, c,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(list_zip(vn, cv), p -> p[1] * p[2])),
       |           (a, b) -> a + b) AS dot
       |       FROM vn CROSS JOIN cl),
       |asg AS (SELECT id, c AS centroid FROM (
       |          SELECT id, c, row_number() OVER (PARTITION BY id
       |                                           ORDER BY dot DESC, c) AS rn
       |          FROM sc)
       |        WHERE rn = 1)""".stripMargin

  private lazy val pinnedAssignCte: String = pinnedAssignCteWith("")

  /** Shared q139/q140/q141 IVF-PQ replay fragment (follows
    * [[pinnedAssignCte]]): pinned PQ books, code assignment for the
    * id%5<>0 index side — over vn, or over residuals vs the assigned
    * centroid when `residual` — top-4 probe lists for the id%5=0
    * queries (carrying the floor(q·centroid × 1e6) offset when
    * `residual`), the per-query integer LUT, and the centroid-joined
    * candidate set. ONE copy for the three oracles, so the replay
    * arithmetic cannot drift between them (the pinnedAssignCteWith /
    * dotSql factoring doctrine). */
  private def ivfPqReplayCtes(residual: Boolean,
                              salt: String = "",
                              querySel: String = "id % 5 = 0",
                              indexSel: String = "id % 5 <> 0",
                              nProbe: Int = 4): String = {
    val saltSql = if (salt.isEmpty) "" else s"'$salt' || "
    val pqBooks =
      s"""bk AS (SELECT s, c, j,
         |         (CAST(${sqmixOfPoly(
                     saltSql +
                     "CAST(s AS VARCHAR) || ':' || CAST(c AS VARCHAR)" +
                     " || ':' || CAST(j AS VARCHAR)")} % 5
         |               AS BIGINT) - 2) * 0.25 AS w
         |       FROM (SELECT unnest(range(0, 8)) AS s) ss
         |       CROSS JOIN (SELECT unnest(range(0, 16)) AS c) cc
         |       CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj),
         |bl AS (SELECT s, c, list(w ORDER BY j) AS bv FROM bk GROUP BY s, c)""".stripMargin
    val enc = if (residual) "rv" else "vn"
    val distBody =
      s"""dist0 AS (SELECT id, s, c,
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             [($enc[s * 8 + j + 1] - bv[j + 1])
         |                * ($enc[s * 8 + j + 1] - bv[j + 1])
         |              for j in range(0, 8)]),
         |             (a, b) -> a + b) AS d2""".stripMargin
    val dist =
      if (residual)
        s"""rv AS (SELECT vn.id,
           |         [vn.vn[d + 1] - cl.cv[d + 1] for d in range(0, 64)] AS rv
           |       FROM vn JOIN asg USING (id) JOIN cl ON cl.c = asg.centroid
           |       WHERE vn.$indexSel),
           |$distBody
           |         FROM rv CROSS JOIN bl)""".stripMargin
      else
        s"""$distBody
           |         FROM vn CROSS JOIN bl WHERE $indexSel)""".stripMargin
    val codes =
      """codes AS (SELECT id AS neighbor_id, s, c AS code FROM (
        |            SELECT id, s, c, row_number() OVER (PARTITION BY id, s
        |                                                ORDER BY d2 ASC, c) AS rn
        |            FROM dist0)
        |          WHERE rn = 1)""".stripMargin
    val pr =
      if (residual)
        s"""pr AS (SELECT id AS query_id, c AS centroid,
          |              CAST(floor(dot * 1000000.0) AS BIGINT) AS off_e6
          |       FROM (
          |         SELECT id, c, dot, row_number() OVER (PARTITION BY id
          |                          ORDER BY dot DESC, c) AS rn
          |         FROM sc WHERE $querySel)
          |       WHERE rn <= $nProbe)""".stripMargin
      else
        s"""pr AS (SELECT id AS query_id, c AS centroid FROM (
          |         SELECT id, c, row_number() OVER (PARTITION BY id
          |                          ORDER BY dot DESC, c) AS rn
          |         FROM sc WHERE $querySel)
          |       WHERE rn <= $nProbe)""".stripMargin
    val lut =
      s"""lut AS (SELECT q.id AS query_id, bl.s, bl.c AS code,
        |          CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |            [q.vn[bl.s * 8 + j + 1] * bv[j + 1] for j in range(0, 8)]),
        |            (a, b) -> a + b) * 1000000.0) AS BIGINT) AS lut_e6
        |        FROM vn q CROSS JOIN bl WHERE q.$querySel)""".stripMargin
    val cand =
      if (residual)
        s"""cand AS (SELECT pr.query_id, a.id AS neighbor_id, pr.off_e6
          |         FROM pr JOIN asg a USING (centroid)
          |         WHERE a.$indexSel AND a.id <> pr.query_id)""".stripMargin
      else
        s"""cand AS (SELECT pr.query_id, a.id AS neighbor_id
          |         FROM pr JOIN asg a USING (centroid)
          |         WHERE a.$indexSel AND a.id <> pr.query_id)""".stripMargin
    Seq(pqBooks, dist, codes, pr, lut, cand).mkString(",\n")
  }

  /** The q148/q153 fusion tail (follows [[adcRerankCtes]] + the
    * batched-BM25 CTEs): dense top-20 from the reranked shortlist,
    * keyword top-20 from the per-query BM25 sums, RRF contributions
    * 1e6 // (60 + rank) summed per (query, doc), top-10 — ONE copy so
    * the filtered and unfiltered indexed-hybrid replays cannot
    * drift. */
  private def indexedHybridFusionTail: String =
    """vr AS (SELECT query_id, neighbor_id AS doc_id, rank FROM (
      |         SELECT query_id, neighbor_id,
      |                row_number() OVER (PARTITION BY query_id
      |                  ORDER BY cos_e6 DESC, neighbor_id) AS rank
      |         FROM rs)
      |       WHERE rank <= 20),
      |bmq AS (SELECT qt.query_id, w.doc_id,
      |          CAST(SUM(w_e6) AS BIGINT) AS score_e6
      |        FROM w JOIN qt USING (tok) GROUP BY qt.query_id, w.doc_id),
      |tr AS (SELECT query_id, doc_id, rank FROM (
      |         SELECT query_id, doc_id,
      |                row_number() OVER (PARTITION BY query_id
      |                  ORDER BY score_e6 DESC, doc_id) AS rank
      |         FROM bmq)
      |       WHERE rank <= 20),
      |contrib AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS c2
      |            FROM tr
      |            UNION ALL
      |            SELECT query_id, doc_id, 1000000 // (60 + rank) FROM vr),
      |f AS (SELECT query_id, doc_id, CAST(SUM(c2) AS BIGINT) AS rrf_e6
      |      FROM contrib GROUP BY query_id, doc_id)
      |SELECT query_id, doc_id, rrf_e6, rank FROM (
      |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_e6,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |              ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rank
      |  FROM f)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The q141 IVF-PQ + exact-re-rank replay, shared verbatim with
    * q151 (stream ingest must be indistinguishable from the batch
    * build, so both probes replay to the same SQL). */
  private def ivfPqRerankOracle: String =
    s"$pinnedAssignCte,\n${ivfPqReplayCtes(residual = false)},\n" +
      s"${adcRerankCtes(15)}\n" +
      """SELECT query_id, neighbor_id, cos_e6, rank FROM (
        |  SELECT query_id, neighbor_id, cos_e6,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos_e6 DESC, neighbor_id) AS rank
        |  FROM rs)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Shared q141/q148 replay tail (follows [[ivfPqReplayCtes]]): the
    * ADC sum over cand×codes×lut, the top-`shortN` shortlist, and the
    * exact normalized-dot re-rank `rs(query_id, neighbor_id, cos_e6)`
    * — ONE copy of the serving-stack arithmetic (the factoring
    * doctrine; q139/q140/q144's plain-ADC `score` projections differ
    * and keep their own CTE). */
  private def adcRerankCtes(shortN: Int): String =
    s"""adc AS (SELECT c2.query_id, c2.neighbor_id,
       |          CAST(SUM(lut_e6) AS BIGINT) AS adc_e6
       |        FROM cand c2
       |        JOIN codes USING (neighbor_id)
       |        JOIN lut ON lut.query_id = c2.query_id
       |                AND lut.s = codes.s AND lut.code = codes.code
       |        GROUP BY c2.query_id, c2.neighbor_id),
       |short AS (SELECT query_id, neighbor_id FROM (
       |            SELECT query_id, neighbor_id,
       |                   row_number() OVER (PARTITION BY query_id
       |                     ORDER BY adc_e6 DESC, neighbor_id) AS rn
       |            FROM adc)
       |          WHERE rn <= $shortN),
       |rs AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |         CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list_transform(list_zip(q.vn, n.vn), p -> p[1] * p[2])),
       |           (a, b) -> a + b) * 1000000.0) AS BIGINT) AS cos_e6
       |  FROM short sh
       |  JOIN vn q ON q.id = sh.query_id
       |  JOIN vn n ON n.id = sh.neighbor_id)""".stripMargin

  private def sqmixOfPoly(e: String): String =
    TextQueries.Sql.sqmixOfPoly(e)

  /** The shared 3-query hybrid/BM25 batch (q145/q147/q148 drivers,
    * ScaleProbe's fusion row) — ONE copy, mirrored into
    * [[bm25BatchCtes]]' qt VALUES so the driver term lists and the
    * oracle's cannot drift. */
  // lazy: bm25BatchCtes (forced by the eager `oracles` val) reads it
  // during object init, which precedes this declaration in source order
  private[graft] lazy val hybridQueryTerms: Seq[(Long, Seq[String])] = Seq(
    (3L, Seq("hash", "scan", "filter")),
    (7L, Seq("spark", "join", "window", "stream")),
    (11L, Seq("vector", "merge", "sort")))

  /** Shared q145/q147/q148/q149 batched-BM25 replay base: the q88
    * arithmetic with a qt (query_id, tok) VALUES table — per-term
    * df/idf over the batch's term union, quantized weights joined per
    * query. ONE copy so the hybrid fusion and the incremental-index
    * probe cannot drift (the pinnedAssignCteWith factoring doctrine);
    * ends in `w(doc_id, tok, w_e6)` + `qt`. `docSel` restricts the
    * SCORED docs (the filtered-retrieval replay: df counts surviving
    * docs) while N/avgdl stay corpus-global — exactly
    * [[graft.text.IncrementalBm25.probe]]'s filter semantics. */
  private def bm25BatchCtesWhere(docSel: String): String =
    bm25BatchCtesOver("documents", docSel)

  /** [[bm25BatchCtesWhere]] generalized over the DOCS relation — the
    * follower oracle (q180) scores a DERIVED corpus CTE (the churned
    * final state) with the same arithmetic; dl/stats/tf all read
    * `docsRel`, so N and avgdl reflect the relation scored. */
  private def bm25BatchCtesOver(docsRel: String, docSel: String): String = {
    val words = TextQueries.Sql.words
    val qtValues = hybridQueryTerms
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""WITH qt(query_id, tok) AS (VALUES $qtValues),
       |dl AS (
       |  SELECT doc_id, CAST(len($words) AS BIGINT) AS dl FROM $docsRel),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM dl),
       |tf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest($words) AS tok FROM $docsRel
       |        WHERE $docSel)
       |  WHERE tok IN (SELECT DISTINCT tok FROM qt)
       |  GROUP BY doc_id, tok),
       |idf AS (
       |  SELECT tok,
       |         CAST(floor((CAST(n_docs - df AS DOUBLE) + 0.5)
       |           / (CAST(df AS DOUBLE) + 0.5) * 1000000.0) AS BIGINT) AS idf_e6
       |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok)
       |  CROSS JOIN stats),
       |w AS (
       |  SELECT tf.doc_id, tf.tok,
       |         CAST(floor(CAST(idf_e6 AS DOUBLE) * (CAST(tf AS DOUBLE) * 2.2)
       |           / (CAST(tf AS DOUBLE)
       |             + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
       |           AS BIGINT) AS w_e6
       |  FROM tf JOIN dl USING (doc_id) JOIN idf USING (tok)
       |  CROSS JOIN stats)""".stripMargin
  }

  private lazy val bm25BatchCtes: String = bm25BatchCtesWhere("TRUE")

  /** Shared pinned-codebook oracle base: L2-normalized vectors with the
    * exact Ivf.normalized operation order (ordered sum of squares,
    * multiply by reciprocal — NOT divide). */
  private lazy val vnCte: String =
    """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
      |           FROM embeddings),
      |n AS (SELECT id, v,
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(v, x -> x * x)), (a, b) -> a + b) AS ss
      |      FROM e),
      |vn AS (SELECT id,
      |         list_transform(v, x -> x *
      |           (CASE WHEN ss = 0 THEN CAST(0.0 AS DOUBLE)
      |                 ELSE 1.0 / sqrt(ss) END)) AS vn
      |       FROM n)""".stripMargin

  /** Shared q99/q105 oracle base: per-(vector, hyperplane) integer dot
    * products with the polyhash-parity sign matrix. */
  private lazy val srpDotsCte: String =
    s"""WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |q AS (SELECT id,
       |        [CAST(floor(x * 1000000.0) AS BIGINT) for x in v] AS xi
       |      FROM c),
       |ex AS (SELECT id, t.d, xi[t.d] AS x
       |       FROM q, LATERAL (SELECT unnest(range(1, len(xi) + 1)) AS d) t),
       |sp AS (SELECT j, d,
       |         ${TextQueries.Sql.poly(
                  "CAST(j AS VARCHAR) || ':' || CAST(d - 1 AS VARCHAR)")} AS hp
       |       FROM (SELECT unnest(range(0, 16)) AS j) pj
       |       -- dim domain covers Srp's full maxDims = 4096 (the join
       |       -- on d keeps only real dims; an undersized domain would
       |       -- silently truncate the oracle's dots if the fixture ever
       |       -- grows past it)
       |       CROSS JOIN (SELECT unnest(range(1, 4097)) AS d) pd),
       |s AS (SELECT j, d,
       |        CASE WHEN ((hp * hp) % 1000000007 * 2654435761) % 1000000007
       |                   * 2 < 1000000007
       |             THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sgn
       |      FROM sp),
       |dots AS (SELECT id, j, CAST(SUM(x * s.sgn) AS BIGINT) AS dot
       |         FROM ex JOIN s USING (d) GROUP BY id, j)""".stripMargin
}
