package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.Curation

/** Corpus-curation + warehouse-analytics queries: the star-schema join
  * shape every lakehouse runs daily, and the sampling / packing /
  * contamination / vocabulary-mining operators a training-data pipeline
  * needs (graft.text.Curation). Every query carries a DuckDB oracle
  * replicating the arithmetic exactly.
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(s, dir, "documents")
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.table(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Star-schema revenue rollup (the TPC-H Q5 shape): fact lineitem
    // joined through orders to customer and supplier, dims nation/region
    // BROADCAST (no shuffle for the dim sides; the fact-side joins
    // shuffle on their keys — the plan that survives 1000 executors).
    // Revenue is per-row-quantized to cents so the SUM is integer-exact
    // regardless of aggregation order.
    "q43_star_join" -> ((s, dir) => {
      val lineitem = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1998-01-01"))
      val customer = t(s, dir, "customer")
      val supplier = t(s, dir, "supplier")
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE"))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * lit(100.0)).cast("long").as("rev_cents"))
        .groupBy("n_name")
        .agg(sum("rev_cents").as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("n_name").asc)
    }),

    // Deterministic hash sample: map-only hex-prefix filter — the
    // zero-shuffle way to cut a stable ~12.5% slice of a corpus
    // (PlanSpec asserts the plan has no Exchange)
    "q44_hash_sample" -> ((s, dir) =>
      Curation.hashSample(docs(s, dir), "doc_id", hexCeil = "20")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // Deterministic WEIGHTED sample: keep probability scales with doc
    // length (importance sampling by quality weight) — still map-only,
    // still reproducible: the keep decision is md5(id) vs a per-row
    // threshold, replicated bit-for-bit in the oracle
    "q64_weighted_sample" -> ((s, dir) =>
      Curation.weightedSample(docs(s, dir), "doc_id",
          least(lit(1.0), col("n_chars").cast("double") / lit(400.0)))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // Bloom-filter decontamination: eval-split shingles -> broadcast
    // Bloom sketch -> ONE map-only corpus scan (no join, no corpus
    // shuffle). Rows-only for the driver (a Bloom bitset has no
    // closed-form SQL); CurationSpec gates it against the exact join:
    // zero false negatives, fp rate within 10x of fpp
    "q65_bloom_decontam" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.bloomDecontaminate(
          corpus = d.filter(col("doc_id") % 10 =!= 0),
          eval = d.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }),

    // Bucketed co-located join, end-to-end: both sides written
    // bucketBy+sortBy on the join key (the pay-the-shuffle-ONCE 100 TB
    // layout), then the recurring join + rollup runs over the bucketed
    // tables — zero-Exchange plan pinned by BucketedSpec; THIS query
    // pins the result itself against the plain-join oracle
    "q123_bucketed_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("price_cents"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      // write-once setup; repeat executions (bench passes 2+) measure
      // the recurring zero-Exchange join the tables exist to amortize.
      // The dir rides in the TABLE NAME, not just the memo key — a
      // dir-keyed memo over a global name would serve another dir's
      // data after a same-JVM dir switch-and-return
      val tag = Setup.dirTag(dir)
      Setup.once(s"q123:$dir") {
        graft.sources.Bucketed.save(li, s"graft_q123_li_$tag",
          Seq("l_orderkey"), buckets = 8)
        graft.sources.Bucketed.save(ord, s"graft_q123_ord_$tag",
          Seq("l_orderkey"), buckets = 8)
      }
      graft.sources.Bucketed.load(s, s"graft_q123_li_$tag")
        .join(graft.sources.Bucketed.load(s, s"graft_q123_ord_$tag"),
          Seq("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum("price_cents").as("sum_price_cents"))
        .orderBy("o_orderpriority")
    }),

    // q65's hash-checked companion: identical decontamination semantics
    // but the Bloom bitset is built from PORTABLE polynomial reseed
    // positions, so both engines reproduce the filter bit-for-bit and
    // the driver verifies the full flag/keep output — false positives
    // included (Spark's built-in Bloom hashes are engine-specific,
    // which is why q65 itself stays spec-gated)
    "q118_portable_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.portableBloomDecontaminate(
          corpus = d.filter(col("doc_id") % 10 =!= 0),
          eval = d.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }),

    // Salted join: the skew-mitigation shape — dim replicated nSalt x,
    // fact rows spread over (key, salt); result == the plain inner
    // join, which is exactly the oracle SQL
    "q67_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          floor(col("l_quantity") * 100.0).cast("long").as("qty_cents"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.Relational.saltedJoin(li, ord, "l_orderkey", nSalt = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum("qty_cents").as("sum_qty_cents"))
        .orderBy("o_orderpriority")
    }),

    // Unigram-LM quality scoring: broadcast top-V token model trained on
    // the held-out split scores the corpus in one map-only pass; integer-
    // quantized probabilities keep the scores bit-stable (the oracle
    // rebuilds the identical vocab + scoring in SQL)
    "q68_lm_score" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.lmScore(
          corpus = d.filter(col("doc_id") % 10 =!= 0),
          train = d.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }),

    // Bigram-LM transition scoring (the n-gram-LM quality-filter shape):
    // top-1000 bigrams by count, integer-quantized conditional
    // probabilities, one broadcast map-only scoring pass — same
    // train/corpus split as q68, oracle replicates the arithmetic
    "q95_bigram_lm" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.lmScoreBigram(
          corpus = d.filter(col("doc_id") % 10 =!= 0),
          train = d.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }),

    // DSIR-shape importance weights: hashed-unigram bucket multinomials
    // (256 buckets, add-one smoothed, integer-quantized clamped ratios)
    // fit on the SAME target/raw split as q95; the ratio table is 256
    // rows broadcast, scoring is one explode + per-doc agg
    "q98_dsir_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.Dsir.importanceWeights(
          raw = d.filter(col("doc_id") % 10 =!= 0),
          target = d.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }),

    // CCNet-shape perplexity bucketing over the q95 bigram LM: mean
    // in-model transition probability -> fixed head/middle/tail cut,
    // keep = not tail; map-only on top of the broadcast scoring pass
    "q102_ppl_bucket" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.perplexityBucket(
          corpus = d.filter(col("doc_id") % 10 =!= 0),
          train = d.filter(col("doc_id") % 10 === 0))
        .select("doc_id", "n_bigrams", "n_oov_bigrams", "sum_p_e9",
          "mean_p_e9", "oov_e4", "bucket", "keep")
        .orderBy("doc_id")
    }),

    // Deequ-style data-quality report: every constraint compiles into ONE
    // aggregation pass (map-side partial agg; a single row per partition
    // reaches the reducer); integer-exact metrics
    "q71_quality_report" -> ((s, dir) =>
      graft.ops.Quality.report(docs(s, dir),
        completeness = Seq("text", "source"),
        uniqueness = Seq(Seq("doc_id")),
        ranges = Seq(("n_chars", 10.0, 5000.0)))),

    // Deterministic stratified sample: smallest-md5 25 docs per source —
    // the window is partitioned by stratum (no global sort)
    "q45_stratified_sample" -> ((s, dir) =>
      Curation.stratifiedSample(docs(s, dir), "source", "doc_id", n = 25)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")),

    // Token-budget sequence packing: per-source head-to-tail layout cut
    // into 512-token bins (shard-partitioned window)
    "q46_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(docs(s, dir), budget = 512L)
        .orderBy("source", "doc_id")),

    // Train/test contamination: distinct 3-word-shingle overlap of each
    // held-out doc (doc_id % 10 == 0) against the train split's shingle
    // index — joins on shingle hash, never doc x doc
    "q47_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.contamination(
          train = d.filter(col("doc_id") % 10 =!= 0),
          test = d.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }),

    // Vocabulary mining: the 50 most frequent word bigrams corpus-wide
    // (explode -> partial agg -> one shuffle on the gram -> sort-limit)
    "q48_ngram_topk" -> ((s, dir) =>
      Curation.topNgrams(docs(s, dir), n = 2, k = 50)),

    // Deterministic training shuffle: hash-keyed shard + in-shard
    // position. One shuffle on the shard key; the per-shard ranking
    // window parallelizes across shards (never a global sort)
    "q55_shard_assign" -> ((s, dir) =>
      Curation.shardAssignments(docs(s, dir), nShards = 64)
        .orderBy("doc_id")),

    // Sliding-window chunking (20-token chunks, 5-token overlap): the
    // chunk text itself is hash-compared, so word-slice boundaries and
    // the short tail chunk must agree with the oracle exactly
    "q57_chunk_documents" -> ((s, dir) =>
      Curation.chunkDocuments(docs(s, dir), chunkTokens = 20, overlap = 5)
        .orderBy("doc_id", "chunk_idx")),

    // Token-budget domain mixture: per-source budgets derived from the
    // source index (300 + 150*(i%4)) so the oracle can rebuild the same
    // map; docs taken in hash order until each domain's budget fills
    "q56_token_mixture" -> ((s, dir) => {
      val budgets = (0 until 20)
        .map(i => s"src$i" -> (300L + 150L * (i % 4))).toMap
      Curation.tokenBudgetMixture(docs(s, dir), budgets)
        .orderBy("doc_id")
    }),

    // EXACT length quantiles per source (quantile_disc semantics via a
    // stratum-partitioned ranking — portable across engines, unlike
    // approx_percentile; the window never crosses strata)
    "q51_length_quantiles" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("n_chars", "doc_id")
      def pick(p: Double) = max(when(
        col("rn") === ceil(lit(p) * col("n")).cast("long"), col("n_chars")))
      docs(s, dir)
        .select(col("source"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("source")))
        .groupBy("source")
        .agg(max("n").as("n"), pick(0.5).as("p50"),
          pick(0.9).as("p90"), pick(0.99).as("p99"))
        .orderBy("source")
    }),

    // q51's scale path: the same per-source exact quantiles WITHOUT the
    // per-group row_number window (which funnels each group through one
    // task) — histogram-narrowing rounds with one treeAggregate per
    // round across ALL groups at once (Quantiles.groupedQuantiles); the
    // oracle replays the windowed form, so the equality IS the
    // selection-vs-window equivalence proof
    "q129_grouped_quantiles" -> ((s, dir) =>
      graft.ops.Quantiles.groupedQuantiles(
          docs(s, dir), Seq("source"), "n_chars",
          qs = Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy("source", "q_e4")),

    // Bounded-state quantile SKETCH (the streaming/mergeable companion
    // to q129's exact path): per-source bottom-64-by-portable-hash
    // sample, quantile estimate = sample order statistic. Membership
    // is a pure function of doc_id, so the whole estimate — sample,
    // ranks, integer rank arithmetic — replays in the oracle
    "q135_quantile_sketch" -> ((s, dir) =>
      graft.ops.QuantileSketch.quantileEstimates(
          docs(s, dir), Seq("source"), "doc_id", "n_chars",
          qs = Seq(0.25, 0.5, 0.75), k = 64)
        .orderBy("source", "q_e4")),

    // The STREAMING form of q135, driver-checked against the SAME
    // oracle: the documents arrive in 3 mtime-ordered micro-batches,
    // per-group bottom-64 state is maintained by
    // flatMapGroupsWithState, and each group's LAST emission — its
    // state after everything has streamed — must equal the batch
    // computation over the union (the mergeable, order-independent
    // membership property, spec-pinned as bit parity). One oracle,
    // two execution models
    "q136_stream_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Setup.scratchDir("q136")
      val d = docs(s, dir).select("source", "doc_id", "n_chars")
      // staged source files: fixture INPUT, shared across executions
      // (Setup.stageOnce); the stream, its state, checkpoint and
      // outputs below stay per-execution
      val src = Setup.stageOnce("q136", dir,
        (0 to 2).map(j => d.filter(pmod(col("doc_id"), lit(3)) === j)))
      val stream = graft.streaming.Streaming.quantileSketchStream(
        graft.streaming.Streaming.fileStream(s, src,
          maxFilesPerTrigger = Some(1)),
        "source", "doc_id", "n_chars", qs = Seq(0.25, 0.5, 0.75), k = 64)
      // state partitions sized to the stream's state volume (a handful
      // of source groups × a 64-entry sketch), the q37/q61/q66/q109
      // setting — NOT the session's batch shuffle width: every state
      // partition pays store open/commit on every micro-batch
      graft.streaming.Streaming.withStatePartitions(s, Some(8)) {
        graft.streaming.Streaming.runBatches(stream.toDF(), "q136",
            outputMode = "update") { (b, id) =>
          b.withColumn("batch", lit(id))
            .coalesce(1).write.mode("overwrite").parquet(s"$base/out/b=$id")
        }
      }
      val w = Window.partitionBy("group", "q_e4")
        .orderBy(col("batch").desc)
      s.read.parquet(s"$base/out")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("group").as("source"), col("q_e4"), col("est"))
        .orderBy("source", "q_e4")
    }),

    // Per-domain cap (C4/RefinedWeb shape): at most 15 docs per source,
    // picked by deterministic hash order. NOT a partitioned window — the
    // two-pass range-shuffle rank (Curation.capPerGroup) spreads a
    // mega-domain across many partitions, so the op scales with the
    // corpus, not with the hottest domain
    "q86_domain_cap" -> ((s, dir) =>
      Curation.capPerGroup(docs(s, dir), "source",
          Seq(md5(col("doc_id").cast("string").cast("binary")), col("doc_id")),
          cap = 15)
        .select(col("doc_id"), col("source"), col("rank_in_group"))
        .orderBy("doc_id")))

  /** Shared q95/q102 oracle base: bigram-LM scored corpus with every
    * candidate doc present (left join; <2-token docs get zero counts). */
  private val lmBigramBaseCte: String =
    s"""WITH w AS (
       |  SELECT doc_id, ${TextQueries.Sql.words} AS ws
       |  FROM documents WHERE doc_id % 10 = 0),
       |bg AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t),
       |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM bg GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cc FROM bc GROUP BY 1),
       |top AS (SELECT w1, w2, c FROM bc
       |        ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1000),
       |model AS (
       |  SELECT t.w1, t.w2,
       |         CAST(floor(CAST(t.c AS DOUBLE) * 1000000000.0
       |                    / CAST(x.cc AS DOUBLE)) AS BIGINT) AS p_e9
       |  FROM top t JOIN ctx x USING (w1)),
       |cw AS (
       |  SELECT doc_id, ${TextQueries.Sql.words} AS ws
       |  FROM documents WHERE doc_id % 10 <> 0),
       |cbg AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |  FROM cw, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t),
       |scored AS (
       |  SELECT b.doc_id,
       |         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |         CAST(SUM(CASE WHEN m.p_e9 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_oov_bigrams,
       |         CAST(COALESCE(SUM(m.p_e9), 0) AS BIGINT) AS sum_p_e9
       |  FROM cbg b LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
       |  GROUP BY b.doc_id),
       |base AS (
       |  SELECT d.doc_id,
       |         COALESCE(s.n_bigrams, 0) AS n_bigrams,
       |         COALESCE(s.n_oov_bigrams, 0) AS n_oov_bigrams,
       |         COALESCE(s.sum_p_e9, 0) AS sum_p_e9
       |  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
       |  LEFT JOIN scored s USING (doc_id))""".stripMargin

  val oracles: Map[String, String] = restOracles ++ Map(
    "q43_star_join" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_cents DESC, n_name""".stripMargin,

    "q44_hash_sample" ->
      """SELECT doc_id, source, n_chars
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
        |ORDER BY doc_id""".stripMargin,

    "q64_weighted_sample" ->
      """SELECT doc_id, source, n_chars
        |FROM documents
        |WHERE n_chars >= 400
        |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |      < lpad(lower(hex(CAST(floor(
        |          least(1.0, CAST(n_chars AS DOUBLE) / 400.0) * 4294967296.0)
        |          AS BIGINT))), 8, '0')
        |ORDER BY doc_id""".stripMargin,

    "q67_salted_join" ->
      """SELECT o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(floor(l_quantity * 100.0) AS BIGINT)) AS BIGINT)
        |         AS sum_qty_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q68_lm_score" ->
      s"""WITH counts AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(${TextQueries.Sql.words}) AS tok
         |        FROM documents WHERE doc_id % 10 = 0)
         |  GROUP BY tok),
         |total AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM counts),
         |vocab AS (
         |  SELECT tok,
         |         CAST(floor(CAST(c AS DOUBLE) * 1000000000.0
         |                    / CAST(t AS DOUBLE)) AS BIGINT) AS p_e9
         |  FROM counts, total ORDER BY c DESC, tok ASC LIMIT 1000),
         |corpus AS (
         |  SELECT doc_id, unnest(${TextQueries.Sql.words}) AS tok
         |  FROM documents WHERE doc_id % 10 <> 0)
         |SELECT c.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_oov,
         |       CAST(COALESCE(SUM(v.p_e9), 0) AS BIGINT) AS sum_p_e9
         |FROM corpus c LEFT JOIN vocab v USING (tok)
         |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin,

    // bigram counts → per-context totals → top-1000 cut (count desc,
    // lexicographic tiebreak) → integer-quantized transition probs →
    // left-join scoring; docs with <2 tokens surface via the final
    // left join with zero counts
    "q95_bigram_lm" ->
      s"""$lmBigramBaseCte
         |SELECT doc_id, n_bigrams, n_oov_bigrams, sum_p_e9
         |FROM base ORDER BY doc_id""".stripMargin,

    // q102 = q95's scored base + the integer mean / oov-rate / CASE cut
    // (thresholds mirror Curation.perplexityBucket defaults)
    "q102_ppl_bucket" ->
      s"""$lmBigramBaseCte,
         |ext AS (
         |  SELECT doc_id, n_bigrams, n_oov_bigrams, sum_p_e9,
         |         CAST(sum_p_e9 // greatest(n_bigrams - n_oov_bigrams, 1)
         |              AS BIGINT) AS mean_p_e9,
         |         CAST(n_oov_bigrams * CAST(10000 AS BIGINT)
         |              // greatest(n_bigrams, 1) AS BIGINT) AS oov_e4
         |  FROM base)
         |SELECT doc_id, n_bigrams, n_oov_bigrams, sum_p_e9, mean_p_e9, oov_e4,
         |       CASE WHEN mean_p_e9 >= 37000000 THEN 'head'
         |            WHEN mean_p_e9 >= 30000000 THEN 'middle'
         |            ELSE 'tail' END AS bucket,
         |       (mean_p_e9 >= 30000000) AS keep
         |FROM ext ORDER BY doc_id""".stripMargin,

    // DSIR importance weights: 256-bucket polyhash multinomials with
    // add-one smoothing, e9-quantized probabilities, e6 clamped ratios —
    // byte-identical arithmetic to graft.text.Dsir
    "q98_dsir_weights" -> {
      val bucketOf = s"${TextQueries.Sql.poly("w")} % CAST(256 AS BIGINT)"
      s"""WITH tw AS (SELECT unnest(${TextQueries.Sql.words}) AS w
         |            FROM documents WHERE doc_id % 10 = 0),
         |rw AS (SELECT unnest(${TextQueries.Sql.words}) AS w
         |       FROM documents WHERE doc_id % 10 <> 0),
         |tb AS (SELECT $bucketOf AS bucket, CAST(COUNT(*) AS BIGINT) AS ct
         |       FROM tw GROUP BY 1),
         |rb AS (SELECT $bucketOf AS bucket, CAST(COUNT(*) AS BIGINT) AS cr
         |       FROM rw GROUP BY 1),
         |tt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS tt FROM tb),
         |tr AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS tr FROM rb),
         |dom AS (SELECT CAST(unnest(range(0, 256)) AS BIGINT) AS bucket),
         |ratio AS (
         |  SELECT d.bucket,
         |    least(greatest(
         |      ((COALESCE(tb.ct, 0) + 1) * CAST(1000000000 AS BIGINT)
         |         // (tt.tt + 256)) * CAST(1000000 AS BIGINT)
         |        // greatest((COALESCE(rb.cr, 0) + 1)
         |                    * CAST(1000000000 AS BIGINT) // (tr.tr + 256),
         |                  CAST(1 AS BIGINT)),
         |      CAST(1000 AS BIGINT)), CAST(1000000000 AS BIGINT)) AS r_e6
         |  FROM dom d
         |  LEFT JOIN tb ON tb.bucket = d.bucket
         |  LEFT JOIN rb ON rb.bucket = d.bucket
         |  CROSS JOIN tt CROSS JOIN tr),
         |docw AS (
         |  SELECT doc_id, $bucketOf AS bucket
         |  FROM (SELECT doc_id, unnest(${TextQueries.Sql.words}) AS w
         |        FROM documents WHERE doc_id % 10 <> 0))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(r.r_e6) AS BIGINT) AS score_e6
         |FROM docw JOIN ratio r USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q71_quality_report" ->
      """WITH m AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS total,
        |    CAST(COUNT(text) AS BIGINT) AS c_text,
        |    CAST(COUNT(source) AS BIGINT) AS c_source,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS u_doc,
        |    CAST(SUM(CASE WHEN n_chars BETWEEN 10 AND 5000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS r_chars
        |  FROM documents),
        |u AS (
        |  SELECT 'completeness:source' AS "check", c_source AS satisfied, total FROM m
        |  UNION ALL SELECT 'completeness:text', c_text, total FROM m
        |  UNION ALL SELECT 'range:n_chars', r_chars, total FROM m
        |  UNION ALL SELECT 'uniqueness:doc_id', u_doc, total FROM m)
        |SELECT "check", satisfied, total,
        |  CAST(CASE WHEN total = 0 THEN 1000000
        |       ELSE (satisfied * 1000000) // greatest(total, 1) END AS BIGINT)
        |    AS metric_e6,
        |  CAST(CASE WHEN total = 0 THEN 1000000
        |       ELSE (satisfied * 1000000) // greatest(total, 1) END = 1000000
        |       AS BOOLEAN) AS pass
        |FROM u ORDER BY "check"""".stripMargin,

    "q45_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM ranked WHERE rk <= 25
        |ORDER BY source, doc_id""".stripMargin,

    "q46_pack_sequences" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, CAST(len(${TextQueries.Sql.words}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, source, n_tokens,
         |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
         |  FROM toks)
         |SELECT doc_id, source, n_tokens,
         |       CAST(strt // 512 AS BIGINT) AS bin,
         |       CAST(strt % 512 AS BIGINT) AS "offset"
         |FROM cum ORDER BY source, doc_id""".stripMargin,

    "q47_contamination" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    ${TextQueries.Sql.shingles(TextQueries.Sql.wordHashes, 3)})) AS sh
         |  FROM documents),
         |train AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 <> 0),
         |test AS (SELECT s.doc_id, CAST(t.sh IS NOT NULL AS BIGINT) AS hit
         |         FROM sh s LEFT JOIN train t ON s.sh = t.sh
         |         WHERE s.doc_id % 10 = 0)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |       CAST(SUM(hit) AS BIGINT) AS n_hit,
         |       CAST(floor(CAST(SUM(hit) AS DOUBLE) * 10000.0
         |         / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS contam_e4
         |FROM test GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q123_bucketed_join" ->
      """SELECT o.o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(floor(l.l_extendedprice * 100.0) AS BIGINT))
        |            AS BIGINT) AS sum_price_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    // portable-Bloom replay: eval bit positions from the reseed hashes
    // ((sh*(2j+1)+j*12345+678) mod P mod 2^20), a corpus shingle is
    // flagged iff ALL 4 of its positions are set — bit-identical filter,
    // so even the false positives match
    "q118_portable_bloom" ->
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(
         |    ${TextQueries.Sql.shingles(TextQueries.Sql.wordHashes, 3)}) AS shs
         |  FROM documents),
         |ev AS (SELECT DISTINCT unnest(shs) AS s FROM sh
         |       WHERE doc_id % 10 = 0),
         |bits AS (SELECT DISTINCT
         |           ((s * (2 * j + 1) + j * 12345 + 678) % 1000000007)
         |             % 1048576 AS b
         |         FROM ev CROSS JOIN (SELECT unnest(range(0, 4)) AS j) jj),
         |corp AS (SELECT doc_id, unnest(shs) AS s FROM sh
         |         WHERE doc_id % 10 <> 0),
         |pos AS (SELECT doc_id, s, j,
         |          ((s * (2 * j + 1) + j * 12345 + 678) % 1000000007)
         |            % 1048576 AS p
         |        FROM corp CROSS JOIN (SELECT unnest(range(0, 4)) AS j) jj),
         |hit AS (SELECT doc_id, s,
         |          SUM(CASE WHEN bits.b IS NOT NULL THEN 1 ELSE 0 END) AS nset
         |        FROM pos LEFT JOIN bits ON pos.p = bits.b
         |        GROUP BY doc_id, s),
         |flg AS (SELECT doc_id,
         |          CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |          CAST(SUM(CASE WHEN nset = 4 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_flagged
         |        FROM hit GROUP BY doc_id)
         |SELECT d.doc_id,
         |       coalesce(f.n_shingles, CAST(0 AS BIGINT)) AS n_shingles,
         |       coalesce(f.n_flagged, CAST(0 AS BIGINT)) AS n_flagged,
         |       coalesce(f.n_flagged, CAST(0 AS BIGINT)) < 1 AS keep
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
         |LEFT JOIN flg f USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q51_length_quantiles" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n,
        |       MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN n_chars END) AS p50,
        |       MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN n_chars END) AS p90,
        |       MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN n_chars END) AS p99
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q129_grouped_quantiles" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |q(q_e4, qf) AS (SELECT * FROM (VALUES
        |  (2500, 0.25), (5000, 0.5), (7500, 0.75), (9500, 0.95)) v)
        |SELECT source, CAST(q_e4 AS BIGINT) AS q_e4,
        |       CAST(MAX(CASE WHEN rn = greatest(1,
        |         CAST(ceil(qf * n) AS BIGINT)) THEN n_chars END) AS BIGINT)
        |         AS value
        |FROM r CROSS JOIN q
        |GROUP BY source, q_e4 ORDER BY source, q_e4""".stripMargin,

    // the streaming form's final state equals the batch computation
    // (mergeable order-independent membership) — SAME oracle
    "q136_stream_quantiles" -> quantileSketchOracle,

    // sketch replay: same bottom-64 membership hash, same sample
    // order statistic, same integer rank arithmetic
    "q135_quantile_sketch" -> quantileSketchOracle)

  private lazy val quantileSketchOracle: String =
      s"""WITH s AS (
         |  SELECT source, doc_id, n_chars,
         |    ${TextQueries.Sql.sqmixOfPoly("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents WHERE n_chars IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY h, doc_id) AS rn FROM s),
         |samp AS (
         |  SELECT source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars, h, doc_id) AS vrn,
         |    COUNT(*) OVER (PARTITION BY source) AS m
         |  FROM r WHERE rn <= 64),
         |q(q_e4) AS (SELECT * FROM (VALUES (2500), (5000), (7500)) v)
         |SELECT source, CAST(q_e4 AS BIGINT) AS q_e4,
         |       CAST(MAX(CASE WHEN vrn = greatest(1, (q_e4 * m + 9999) // 10000)
         |                     THEN n_chars END) AS BIGINT) AS est
         |FROM samp CROSS JOIN q
         |GROUP BY source, q_e4 ORDER BY source, q_e4""".stripMargin

  private lazy val restOracles: Map[String, String] = Map(

    "q57_chunk_documents" ->
      s"""WITH w AS (SELECT doc_id, ${TextQueries.Sql.words} AS ws FROM documents),
         |c AS (
         |  SELECT doc_id, s // 15 AS chunk_idx,
         |         array_to_string(ws[s+1 : s+20], ' ') AS chunk_text,
         |         least(20, len(ws) - s) AS n_chunk_tokens
         |  FROM w, LATERAL (SELECT unnest(range(0, len(ws), 15)) AS s) t)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text,
         |       CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q56_token_mixture" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, ${TextQueries.Sql.nTok} AS n_tokens,
         |         md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |           ORDER BY h, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT doc_id, source, n_tokens, cum_before
         |FROM c
         |WHERE cum_before <
         |  300 + 150 * (CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 4)
         |ORDER BY doc_id""".stripMargin,

    "q55_shard_assign" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${TextQueries.Sql.poly("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |s AS (SELECT doc_id, h, h % 64 AS shard FROM h)
         |SELECT doc_id, h, shard,
         |       CAST(row_number() OVER (PARTITION BY shard
         |                               ORDER BY h, doc_id) AS BIGINT) AS pos
         |FROM s ORDER BY doc_id""".stripMargin,

    "q48_ngram_topk" ->
      s"""WITH w AS (SELECT ${TextQueries.Sql.words} AS ws FROM documents),
         |grams AS (
         |  SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS gram
         |  FROM w)
         |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
         |FROM grams GROUP BY gram
         |ORDER BY n DESC, gram LIMIT 50""".stripMargin,

    "q86_domain_cap" ->
      """SELECT doc_id, source, rn AS rank_in_group FROM (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 15 ORDER BY doc_id""".stripMargin)
}
