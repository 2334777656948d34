package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextAnalysis}

/** LLM-training-data text-pipeline queries over `documents.parquet`, each
  * with a DuckDB oracle that replicates the arithmetic exactly (portable
  * polynomial hashes, scaled-integer ratios — see graft.functions.Hashing).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(s, dir, "documents")

  /** Shared oracle-SQL fragments (DuckDB dialect) — also composed into
    * the curation-query oracles (CurationQueries). */
  private[queries] object Sql {
    // normalized text: lower, trim, collapse whitespace (note DuckDB needs
    // the 'g' flag; Spark regexp_replace is global by default)
    def normOf(e: String): String =
      s"""regexp_replace(trim(lower($e)), '\\s+', ' ', 'g')"""
    val norm = normOf("text")

    // planted boilerplate content (byte-identical to plantBoilerplate):
    // ten 11-token template variants, each appended to the ~1/97 of docs
    // whose doc_id lands in its slot — the repeated-passage fixture for
    // span dedup (the synthetic corpus has no natural shared spans)
    val plantBoilerplateContent: String =
      """text ||
        |    CASE WHEN doc_id % 97 < 10
        |      THEN ' please subscribe to newsletter variant' ||
        |           CAST(doc_id % 97 AS VARCHAR) ||
        |           ' for daily updates and exclusive offers'
        |      ELSE '' END""".stripMargin
    // planted newline-delimited boilerplate LINE (byte-identical to
    // plantLines): same ten variants as plantBoilerplateContent but
    // appended after a chr(10), the repeated-line fixture for q103
    val plantLinesContent: String =
      """text ||
        |    CASE WHEN doc_id % 97 < 10
        |      THEN chr(10) || 'please subscribe to newsletter variant ' ||
        |           CAST(doc_id % 97 AS VARCHAR) ||
        |           ' for daily updates and exclusive offers'
        |      ELSE '' END""".stripMargin

    // portable polynomial hash of a string expression
    def poly(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
         |  (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin
    // graft.functions.Hashing.squareMix replica over an already-hashed
    // BIGINT expression — the ONE oracle-side owner of the mix formula
    def sqmix(h: String): String =
      s"($h * $h % 1000000007 * 2654435761 % 1000000007)"
    // squareMix(polyHash(e)) in one step
    def sqmixOfPoly(e: String): String = sqmix(s"(${poly(e)})")
    // array of word hashes of the normalized text
    val wordHashes =
      s"list_transform(string_split($norm, ' '), w -> ${poly("w")})"
    // k-shingle hashes from word-hash array `whs`
    def shingles(whs: String, k: Int): String =
      s"""[list_reduce(list_prepend(CAST(0 AS BIGINT), $whs[i:i+${k - 1}]),
         |  (a, b) -> (a * 31 + b) % 1000000007)
         | for i in range(1, greatest(len($whs) - ${k - 1}, 1) + 1)]""".stripMargin

    // planted-PII content (byte-identical to TextQueries.plantPii)
    val plantPiiContent: String =
      """text ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN ' call +31 6 1234 56' || CAST(doc_id % 90 + 10 AS VARCHAR)
        |      ELSE '' END""".stripMargin

    // quality score + language-ID fragments (shared by q22 and q42)
    val words = s"string_split($norm, ' ')"
    val nTok = s"CAST(len($words) AS BIGINT)"
    val punct = """CAST(floor(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) * 10000.0
                  | / CAST(greatest(length(text), 1) AS DOUBLE)) AS BIGINT)""".stripMargin
    val quality =
      s"""CAST(floor((least(CAST($nTok AS DOUBLE) / 50.0, 1.0) * 0.7 +
         | least(CAST($punct AS DOUBLE) / 10000.0 * 20.0, 1.0) * 0.3) * 10000.0) AS BIGINT)""".stripMargin
    // language-ID: whole-word stopword hits via the doubled-delimiter
    // replace trick, argmax over "%08d:lang"-encoded scores
    private val doubled = s"replace(' ' || $norm || ' ', ' ', '  ')"
    private def hits(ws: Seq[String]): String = ws.map { w =>
      val tok = s" $w "
      s"CAST((length($doubled) - length(replace($doubled, '$tok', ''))) / ${tok.length} AS BIGINT)"
    }.mkString("(", " + ", ")")
    private val scoredLang = TextAnalysis.langMarkers.map { case (lang, ws) =>
      s"printf('%08d:%s', ${hits(ws)}, '$lang')"
    }.mkString("greatest(", ", ", ")")
    val langPred =
      s"CASE WHEN substr($scoredLang, 1, 8) <> '00000000' THEN substr($scoredLang, 10, 2) ELSE 'und' END"
  }

  /** Deterministically plant emails/IPs/phones in a doc_id-keyed subset
    * (the synthetic corpus has no PII) — shared by q53 (batch redact)
    * and q61 (streaming detect); [[Sql.plantPiiContent]] is the
    * byte-identical SQL construction. */
  private[queries] def plantPii(d: DataFrame): DataFrame =
    d.withColumn("content", concat(col("text"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".25"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13)) === 0,
        concat(lit(" call +31 6 1234 56"),
          (pmod(col("doc_id"), lit(90)) + 10).cast("string")))
        .otherwise(lit(""))))

  /** Deterministically append one of ten 11-token boilerplate variants
    * to the docs whose doc_id % 97 lands in [0, 10) — the repeated-span
    * fixture for q91/q92 (the synthetic corpus shares no natural
    * passages); [[Sql.plantBoilerplateContent]] is the byte-identical
    * SQL construction. Appending (vs inserting at a fixed offset) is the
    * point: every planted doc carries the passage at a DIFFERENT token
    * offset, so only an alignment-independent sliding-gram dedup finds
    * it. */
  private[queries] def plantBoilerplate(d: DataFrame): DataFrame =
    d.withColumn("content", concat(col("text"),
      when(pmod(col("doc_id"), lit(97)) < 10,
        concat(lit(" please subscribe to newsletter variant"),
          pmod(col("doc_id"), lit(97)).cast("string"),
          lit(" for daily updates and exclusive offers")))
        .otherwise(lit(""))))

  /** Deterministically append one of ten boilerplate variants as a
    * SEPARATE newline-delimited line to the docs whose doc_id % 97
    * lands in [0, 10) — the repeated-LINE fixture for q103 (C4-style
    * line dedup needs lines that repeat verbatim across documents;
    * [[Sql.plantLinesContent]] is the byte-identical SQL construction).
    */
  private[queries] def plantLines(d: DataFrame): DataFrame =
    d.withColumn("content", concat(col("text"),
      when(pmod(col("doc_id"), lit(97)) < 10,
        concat(lit("\nplease subscribe to newsletter variant "),
          pmod(col("doc_id"), lit(97)).cast("string"),
          lit(" for daily updates and exclusive offers")))
        .otherwise(lit(""))))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-bucket keep-first (shuffle on content hash only)
    "q21_exact_dedup" -> ((s, dir) =>
      Dedup.exact(docs(s, dir)).select("doc_id").orderBy("doc_id")),

    // Per-document text stats: tokens, punctuation, quality, language-ID,
    // fingerprint — all integer-exact
    "q22_text_stats" -> ((s, dir) =>
      TextAnalysis.stats(docs(s, dir)).orderBy("doc_id")),

    // Token histogram over the BPE-ish tokenizer
    "q23_token_histogram" -> ((s, dir) =>
      docs(s, dir)
        .select((floor(TextAnalysis.bpeTokenCountCol(col("text")) / lit(20)) * 20)
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // MinHash-LSH near-dup candidate pairs: 3-word shingles, 16 hashes,
    // 4 bands — band-bucket self-join, no crossJoin. maxBucket=0 pins
    // exact all-pairs semantics to the uncapped SQL oracle at ANY scale
    // (the production default caps mega-buckets to star pairs, which an
    // all-combinations oracle cannot express)
    "q24_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashCandidatePairs(docs(s, dir), k = 3, numHashes = 16,
          bands = 4, portable = true, maxBucket = 0)
        .orderBy("doc_a", "doc_b")),

    // Same banding through the skew-proof triangle path: maxBucket=2
    // forces every bucket of 3+ docs through the distributed group-pair
    // tasks, and the oracle (the exact all-pairs SQL of q24) proves pair
    // COMPLETENESS survives the distribution
    "q49_minhash_pairs_salted" -> ((s, dir) =>
      Dedup.minhashCandidatePairsComplete(docs(s, dir), k = 3, numHashes = 16,
          bands = 4, portable = true, maxBucket = 2)
        .orderBy("doc_a", "doc_b")),

    // n-gram Jaccard over consecutive-id pairs (linear demo of the
    // pairwise expression; candidate pairs come from q24 at scale)
    "q25_jaccard_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1).as("doc_b"))
      Dedup.ngramJaccardScaled(d, pairs, k = 2, portable = true)
        .orderBy("doc_a", "doc_b")
    }),

    // SimHash (portable 30-bit variant — hash values are mod 1e9+7 so
    // higher bits are structurally zero; the production path uses
    // xxhash64 across all 64 bits)
    "q26_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), bits = 30, portable = true)
        .select(col("doc").as("doc_id"), col("simhash"))
        .orderBy("doc_id")),

    // Fuzzy id join: all pairs within edit distance 1 via FastSS
    // deletion-neighborhood blocking (lossless for k=1) + exact
    // levenshtein re-check; the oracle brute-forces levenshtein over
    // all pairs — our plan never cross-joins (FuzzySpec asserts)
    "q77_fuzzy_join" -> ((s, dir) =>
      graft.text.Fuzzy.editDistanceJoin1(
          docs(s, dir).select(col("doc_id"),
            concat(lit("doc_"), col("doc_id").cast("string")).as("name")),
          "doc_id", "name")
        .orderBy("a_id", "b_id")),

    // End-to-end corpus cleaning: quality+language gate -> exact dedup ->
    // MinHash-LSH + Jaccard near-dup removal, every stage oracle-replicated
    // (maxBucket=0 like q24: the oracle computes all pairs uncapped)
    "q42_clean_corpus" -> ((s, dir) =>
      graft.text.CleanCorpus.clean(docs(s, dir),
          minQualityE4 = 3000, langs = Seq("en"),
          jaccardThresholdE4 = 6000, maxBucket = 0)
        .select("doc_id").orderBy("doc_id")),

    // The dedup ENDGAME: MinHash candidate pairs -> connected components
    // (alternating large-star/small-star — O(log n) rounds, two shuffles
    // per round, no component ever materialized on one task) -> cluster
    // id = min doc id, kept=1 on the representative. The oracle walks
    // the SAME pair set with a recursive CTE, so the component structure
    // itself is hash-checked, not just row counts
    "q52_dedup_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashCandidatePairs(d, k = 3, numHashes = 16,
        bands = 4, portable = true, maxBucket = 0)
      graft.text.Components.dedupClusters(d, pairs).orderBy("doc_id")
    }),

    // Gopher-style repetition signals (duplicate-word/bigram fractions)
    // — one compiled map-only pass; the oracle recomputes them
    // relationally (unnest + group + max) so the per-doc hash counting
    // is checked against an independent formulation
    "q54_repetition_stats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir)).orderBy("doc_id")),

    // PII scrub: the synthetic corpus carries no PII, so the query
    // deterministically plants emails/IPs/phones in a doc_id-keyed
    // subset (the SQL oracle builds the identical column), then
    // detects AND redacts — counts and the redacted text itself are
    // hash-compared, pinning regex semantics across engines. Map-only:
    // regexp_* expressions fuse into the scan projection, no shuffle
    "q53_pii_redact" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      graft.text.Pii.redact(
          graft.text.Pii.detect(plantPii(d), "content"), "content")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"),
          col("n_phones"), col("has_pii"), col("redacted"))
        .orderBy("doc_id")
    }),

    // BM25 keyword retrieval (odds-idf variant — no transcendentals, so
    // the score arithmetic is bit-exact cross-engine; graft.text.Bm25
    // scaladoc): postings filter to the query terms BEFORE the shuffle,
    // doc lengths are map-only, top-20 is sort-limited
    "q88_bm25" -> ((s, dir) =>
      graft.text.Bm25.topK(docs(s, dir),
          Seq("spark", "join", "window", "stream"), k = 20)
        .orderBy(col("score_e6").desc, col("doc_id").asc)),

    // BPE tokenization: merges trained on a 25% hash sample (bounded
    // driver state — production tokenizer practice), corpus encoded in
    // one map-only broadcast pass. Rows-only for the driver (iterative
    // merge learning has no closed-form SQL); BpeSpec pins the classic
    // worked example, local/distributed encode parity, and determinism
    "q87_bpe_tokens" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.train(d, nMerges = 200, sampleHexCeil = "40")
      graft.text.Bpe.encode(d, merges).orderBy("doc_id")
    }),

    // Leakage-safe split: split decided by the md5 of the near-dup
    // CLUSTER id (q52's components), so duplicates never straddle
    // train/val/test — the oracle rebuilds the components recursively
    // and applies the identical hash compare
    "q90_leakage_safe_split" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashCandidatePairs(d, k = 3, numHashes = 16,
        bands = 4, portable = true, maxBucket = 0)
      graft.text.Curation.leakageSafeSplit(
          graft.text.Components.dedupClusters(d, pairs))
        .select(col("doc_id"), col("component"), col("split"))
        .orderBy("doc_id")
    }),

    // Exact-substring span dedup (Lee et al. 2022 shape): sliding
    // 8-token grams seed repeated-passage detection; positions covered
    // by a gram shared across ≥3 docs are excised and the survivors
    // reassembled. Boilerplate is PLANTED at per-doc-varying offsets
    // (see plantBoilerplate) so the query also proves alignment
    // independence; the oracle replays seed→flag→cover→rebuild in SQL
    "q91_span_dedup" -> ((s, dir) =>
      graft.text.SpanDedup.removeRepeatedSpans(
          plantBoilerplate(docs(s, dir).select(col("doc_id"), col("text"))),
          textCol = "content", k = 8, minDocs = 3)
        .orderBy("doc_id")),

    // Cross-document shared-span pairs: distinct 8-gram overlap counts
    // per doc pair, df capped at 200 (per-gram join fan-out bounded by
    // maxDf² — the skew control that makes the pair join 100 TB-safe)
    "q92_shared_spans" -> ((s, dir) =>
      graft.text.SpanDedup.sharedSpanPairs(
          plantBoilerplate(docs(s, dir).select(col("doc_id"), col("text"))),
          textCol = "content", k = 8, maxDf = 200)
        .orderBy("doc_a", "doc_b")),

    // Exact heavy hitters via the two-pass Misra-Gries plan (custom
    // typed Aggregator): map-only sketch → guaranteed candidate
    // superset → broadcast semi-join + exact count of candidates only.
    // Identical to the oracle's plain GROUP BY…HAVING — the sketch buys
    // the plan shape (no full-token-stream distinct shuffle), not
    // approximation; SketchSpec carries the ε-bound guarantees
    "q97_heavy_hitters" -> ((s, dir) =>
      graft.ops.Sketch.heavyHitters(
          docs(s, dir).select(
            explode(TextAnalysis.wordsCol(col("text"))).as("tok")),
          "tok", k = 4096, minCount = 500)
        .orderBy("tok")),

    // Inverted-index materialization: postings (term, doc, tf) then
    // term stats with a packed-struct argmax — two partial-agg shuffles,
    // no window, no extra join; minDf prunes the hapax tail
    "q100_inverted_index" -> ((s, dir) =>
      graft.text.InvertedIndex.termStats(
          graft.text.InvertedIndex.postings(docs(s, dir)), minDf = 5)
        .orderBy("term")),

    // Directed n-gram containment (asymmetric Jaccard — doc-inside-doc
    // detection): same shingle-equi-join intersection as q25, integer
    // e6 quantization, both directions reported
    "q101_containment" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1).as("doc_b"))
      Dedup.containmentScaled(d, pairs, k = 2, portable = true)
        .orderBy("doc_a", "doc_b")
    }),

    // C4-style repeated-line removal: boilerplate PLANTED as a separate
    // newline-delimited line (see plantLines) is shared by ~1/97 of the
    // corpus per variant and excised; each doc's own text line is unique
    // and survives. Hash-count on lines, join-back, ordered rebuild
    "q103_line_dedup" -> ((s, dir) =>
      Dedup.removeRepeatedLines(
          plantLines(docs(s, dir).select(col("doc_id"), col("text"))),
          textCol = "content", minDocs = 3)
        .orderBy("doc_id")),

    // Tf-idf top-5 characteristic terms per doc (ratio-idf — integer
    // exact, no transcendentals); doc-partitioned top-k window, N as a
    // broadcast one-row aggregate
    "q104_tfidf_topk" -> ((s, dir) =>
      graft.text.InvertedIndex.tfidfTopK(docs(s, dir), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("doc_id", "rank")),

    // PMI-style collocation mining: top bigrams by integer LIFT (the
    // monotone no-log PMI equivalent); partial-agg counts, minCount
    // prune before the vocab joins, sort-limited top-k
    "q106_collocations" -> ((s, dir) =>
      graft.text.Collocations.topByLift(docs(s, dir), k = 100,
          minCount = 30)
        .orderBy(col("lift_e6").desc, col("w1").asc, col("w2").asc)),

    // The end-to-end training-data pipeline: gate -> exact dedup ->
    // near-dup clusters (representatives) -> eval decontamination ->
    // leakage-safe split -> token packing, in ONE call; the oracle
    // replays the full composition (maxBucket=0: the oracle computes
    // uncapped candidate pairs). Eval set = doc_id % 13 == 0 slice, so
    // surviving eval docs self-identify as contaminated and drop
    "q108_training_data" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.TrainingData.prepare(d,
          eval = d.filter(col("doc_id") % 13 === 0), maxBucket = 0)
        .orderBy("doc_id")
    }),

    // q87's ENCODE substep, hash-checked: distributed BPE encode against
    // the pinned merge table (training's argmax loop stays rows-only;
    // the greedy serving tokenization is driver-verified). Same
    // Bpe.encode/encodeWord code path the trained q87 runs
    "q116_bpe_encode" -> ((s, dir) =>
      graft.text.Bpe.encode(docs(s, dir), pinnedMerges).orderBy("doc_id")),

    // Corpus-drift report between two snapshots (doc_id parity split):
    // top-50 most-moved tokens by e9-quantized probability delta, each
    // row carrying the global total-variation distance — TV over KL so
    // the whole report is exact integer arithmetic (no logarithms)
    "q125_token_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.Drift.driftReport(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1), topN = 50)
        .orderBy(col("diff_e9").desc, col("tok").asc)
    }),

    // fastText-style hashed-linear quality classifier SERVING (the
    // DCLM/FineWeb corpus-gate shape): pinned weight vector broadcast,
    // ONE map-only pass sums unigram+bigram bucket weights per doc —
    // the oracle replays buckets, weights, and the integer sum exactly
    "q124_quality_classifier" -> ((s, dir) =>
      graft.text.LinearText.scoreHashed(docs(s, dir),
          graft.text.LinearText.pinnedWeightsE6())
        .orderBy("doc_id")),

    // Index-and-probe incremental near-dup dedup — the continuous-
    // ingest form of q24: the corpus's MinHash bands persist as a
    // bkey-bucketed table (built once), the arriving shard signs only
    // itself and joins the index Exchange-free on the index side, with
    // small shards bucket-pruning the scan. Portable hashes make the
    // whole candidate set oracle-checkable: the oracle recomputes both
    // sides' bands and replays the probe join
    "q128_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") % 3 =!= 0)
      val shard = d.filter(col("doc_id") % 3 === 0)
      // index built once per process (the operator's whole point);
      // bench passes 2+ time the sign-shard-and-probe steady state.
      // dir in the table name, not just the memo key (see q123)
      val tag = Setup.dirTag(dir)
      Setup.once(s"q128:$dir") {
        graft.text.IncrementalDedup.buildIndex(
          corpus, s"graft_q128_idx_$tag", buckets = 8)
      }
      graft.text.IncrementalDedup.probe(s, shard, s"graft_q128_idx_$tag")
        .orderBy("new_doc", "corpus_doc")
    }),

    // Right-to-erasure on the band index: delete the doc_id%7==0 slice
    // of the indexed corpus at O(touched buckets) — the deleted docs'
    // bands are recomputed from their text, so the affected buckets
    // are known without scanning the index — then probe the shard.
    // Fresh index every execution (the delete MUTATES it); the oracle
    // is the q128 probe join with the deleted corpus slice excluded
    "q133_index_delete" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") % 3 =!= 0)
      val tag = Setup.dirTag(dir)
      val table = s"graft_q133_idx_$tag"
      graft.text.IncrementalDedup.buildIndex(corpus, table, buckets = 8)
      graft.text.IncrementalDedup.deleteFromIndex(
        corpus.filter(col("doc_id") % 7 === 0), table, buckets = 8)
      graft.text.IncrementalDedup.probe(
          s, d.filter(col("doc_id") % 3 === 0), table)
        .orderBy("new_doc", "corpus_doc")
    }),

    // The continuous novel-docs gate end-to-end: corpus seeds the band
    // index, the shard docs stream in 4 mtime-ordered micro-batches
    // ((doc_id/3)%4), each batch drops index hits + smaller-id
    // in-batch bucket matches, keeps the rest, and appends their bands
    // so later batches dedup against them. The oracle unrolls the 4
    // steps as anti-joins over the same portable bands. Fresh index
    // every execution — the gate MUTATES it
    "q130_stream_novel_gate" -> ((s, dir) => {
      val d = docs(s, dir)
      val tag = Setup.dirTag(dir)
      val table = s"graft_q130_idx_$tag"
      graft.text.IncrementalDedup.buildIndex(
        d.filter(col("doc_id") % 3 =!= 0), table, buckets = 8)
      val base = Setup.scratchDir("q130")
      val stream = d.filter(col("doc_id") % 3 === 0)
        .withColumn("b", pmod(floor(col("doc_id") / 3), lit(4)))
      // staged source files: fixture INPUT, shared across executions
      // (Setup.stageOnce); the index, gate state and outputs below stay
      // per-execution — the gate still mutates a fresh index every run
      val src = Setup.stageOnce("q130", dir,
        (0 to 3).map(j => stream.filter(col("b") === j).drop("b")))
      // compactEvery=4 → the 4-batch run compacts once, so the bench
      // number reflects the steady state (gate + amortized periodic
      // compaction), not a compaction-free honeymoon; output is
      // unaffected — the rewrite preserves the band set
      graft.text.IncrementalDedup.streamNovel(
          graft.streaming.Streaming.fileStream(s, src,
            maxFilesPerTrigger = Some(1)),
          table, buckets = 8, s"$base/out", compactEvery = 4)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Count-min frequency sketch over the corpus token stream: one
    // treeAggregate builds the 4x8192 matrix (portable hashes -> the
    // oracle replays the matrix bit-for-bit, collisions included), then
    // the heavy vocabulary's point estimates are checked against true
    // counts — est >= truth always, with the CM over-count visible
    "q122_count_min" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(TextAnalysis.wordsCol(col("text"))).as("tok"))
      val sk = graft.ops.Sketch.countMin(toks, "tok")
      val heavy = toks.groupBy("tok").agg(count(lit(1)).as("n_true"))
        .filter(col("n_true") >= 50)
      heavy.join(graft.ops.Sketch.cmEstimates(heavy.select("tok"), "tok", sk),
          Seq("tok"))
        .select(col("tok"), col("n_true"), col("cm_est"))
        .orderBy("tok")
    }))

  /** Pinned BPE merges for q116 — mirrored verbatim into the oracle's
    * VALUES table. The ordering is BPE-consistent (every component is a
    * single symbol or an earlier merge's result), which the recursive
    * oracle relies on: any pair created by a merge ranks strictly above
    * the merge that created its token, so replacing ONE leftmost
    * occurrence of the min-rank pair per recursion step converges to
    * exactly encodeWord's merge-all-then-rescan result. */
  private val pinnedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e</w>"), ("a", "n"), ("i", "n"), ("e", "r"),
    ("o", "n"), ("an", "d</w>"), ("in", "g</w>"), ("t", "o</w>"),
    ("o", "f</w>"), ("e", "d</w>"), ("e", "s</w>"))

  private lazy val bpeMergeValues: String =
    pinnedMerges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '$a', '$b')" }.mkString(", ")

  /** The banded-MinHash `bands` CTE chain (doc_id, band, band_key) —
    * shared by the all-pairs oracles and q128's index-probe oracle. */
  private lazy val minhashBandsCtes: String = {
    val sig = (0 until 16).map { j =>
      s"list_min(list_transform(shs, h -> (h * ${2 * j + 1} + ${j * 12345 + 678}) % 1000000007))"
    }.mkString("[", ",\n    ", "]")
    s"""wh AS (SELECT doc_id, ${Sql.wordHashes} AS whs FROM documents),
       |sh AS (SELECT doc_id, ${Sql.shingles("whs", 3)} AS shs FROM wh),
       |sig AS (SELECT doc_id, $sig AS sg FROM sh),
       |bands AS (
       |  SELECT doc_id, b.band,
       |         array_to_string(sg[b.band * 4 + 1 : b.band * 4 + 4], '_') AS band_key
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin
  }

  /** The exact banded-MinHash all-pairs SQL — shared by q24 (star path,
    * uncapped) and q49 (triangle-distributed path; completeness check). */
  private lazy val minhashAllPairsSql: String =
    s"""WITH $minhashBandsCtes
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "q77_fuzzy_join" ->
      """WITH n AS (
        |  SELECT doc_id AS id, 'doc_' || CAST(doc_id AS VARCHAR) AS s
        |  FROM documents)
        |SELECT a.id AS a_id, b.id AS b_id,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    "q21_exact_dedup" ->
      s"""WITH h AS (SELECT doc_id, md5(${Sql.norm}) AS hh FROM documents),
         |r AS (SELECT doc_id,
         |        row_number() OVER (PARTITION BY hh ORDER BY doc_id) AS rn
         |      FROM h)
         |SELECT doc_id FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q22_text_stats" -> {
      val nBpe = """CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)"""
      val wordLenSum = s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(${Sql.words}, w -> CAST(length(w) AS BIGINT))), (a, b) -> a + b)"
      val meanLen = s"CAST(floor(CAST($wordLenSum AS DOUBLE) * 10000.0 / CAST(greatest(len(${Sql.words}), 1) AS DOUBLE)) AS BIGINT)"
      s"""SELECT doc_id,
         |  ${Sql.nTok} AS n_tokens,
         |  $nBpe AS n_bpe_tokens,
         |  ${Sql.punct} AS punct_ratio_e4,
         |  $meanLen AS mean_word_len_e4,
         |  ${Sql.quality} AS quality_e4,
         |  ${Sql.langPred} AS lang_pred,
         |  ${Sql.poly(Sql.norm)} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q23_token_histogram" ->
      """WITH b AS (
        |  SELECT CAST(floor(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) / 20) * 20 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q24_minhash_pairs" -> minhashAllPairsSql,

    // drift replay: per-snapshot integer-quantized token probabilities,
    // full-outer vocabulary union, |pA - pB|, TV = sum/2 on every row
    "q125_token_drift" ->
      s"""WITH ta AS (SELECT unnest(${Sql.words}) AS tok FROM documents
         |            WHERE doc_id % 2 = 0),
         |tb AS (SELECT unnest(${Sql.words}) AS tok FROM documents
         |       WHERE doc_id % 2 = 1),
         |ca AS (SELECT tok, COUNT(*) AS c FROM ta WHERE tok <> ''
         |       GROUP BY tok),
         |cb AS (SELECT tok, COUNT(*) AS c FROM tb WHERE tok <> ''
         |       GROUP BY tok),
         |pa AS (SELECT tok, CAST(c AS HUGEINT) * 1000000000 // greatest(
         |         (SELECT SUM(c) FROM ca), 1) AS p FROM ca),
         |pb AS (SELECT tok, CAST(c AS HUGEINT) * 1000000000 // greatest(
         |         (SELECT SUM(c) FROM cb), 1) AS p FROM cb),
         |d AS (SELECT coalesce(pa.tok, pb.tok) AS tok,
         |        CAST(coalesce(pa.p, 0) AS BIGINT) AS p_a_e9,
         |        CAST(coalesce(pb.p, 0) AS BIGINT) AS p_b_e9
         |      FROM pa FULL OUTER JOIN pb ON pa.tok = pb.tok),
         |dd AS (SELECT tok, p_a_e9, p_b_e9,
         |         abs(p_a_e9 - p_b_e9) AS diff_e9 FROM d),
         |tv AS (SELECT CAST(SUM(diff_e9) // 2 AS BIGINT) AS tv_e9 FROM dd)
         |SELECT dd.tok, dd.p_a_e9, dd.p_b_e9,
         |       CAST(dd.diff_e9 AS BIGINT) AS diff_e9, tv.tv_e9
         |FROM dd CROSS JOIN tv
         |ORDER BY dd.diff_e9 DESC, dd.tok ASC LIMIT 50""".stripMargin,

    // hashed-linear classifier replay: per-gram bucket -> pinned weight
    // (same generator both engines), order-free integer sum per doc
    "q124_quality_classifier" -> {
      val weight = s"(${Sql.sqmixOfPoly("'w:' || CAST(b AS VARCHAR)")}" +
        " % 2001 - 1000)"
      s"""WITH d AS (SELECT doc_id, ${Sql.words} AS ws0 FROM documents),
         |f AS (SELECT doc_id, list_filter(ws0, w -> w <> '') AS ws FROM d),
         |uni AS (SELECT doc_id, unnest(ws) AS g FROM f),
         |big AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
         |        FROM f, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t),
         |grams AS (SELECT doc_id, g FROM uni
         |          UNION ALL SELECT doc_id, g FROM big),
         |gb AS (SELECT doc_id, ${Sql.sqmixOfPoly("g")} % 4096 AS b
         |       FROM grams),
         |sc AS (SELECT doc_id, CAST(SUM($weight) AS BIGINT) AS score_e6
         |       FROM gb GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM f)
         |SELECT nt.doc_id, nt.n_tokens,
         |       coalesce(sc.score_e6, CAST(0 AS BIGINT)) AS score_e6,
         |       coalesce(sc.score_e6, CAST(0 AS BIGINT)) >= 0 AS accept
         |FROM nt LEFT JOIN sc USING (doc_id)
         |ORDER BY nt.doc_id""".stripMargin
    },

    // gate replay: 4 unrolled batch steps — d_j = batch-j docs dropped
    // (band match vs the evolving index i_{j-1}, or a smaller-id
    // in-batch bucket match), k_j = the rest, i_j = i_{j-1} + k_j bands
    "q130_stream_novel_gate" -> {
      val steps = (0 to 3).map { j =>
        val prev = if (j == 0) "cor" else s"i${j - 1}"
        s"""d$j AS (SELECT DISTINCT s.doc_id FROM st s JOIN $prev c
           |        ON s.band = c.band AND s.band_key = c.band_key
           |        WHERE s.b = $j
           |      UNION
           |      SELECT DISTINCT s.doc_id FROM st s JOIN st t
           |        ON t.b = $j AND s.band = t.band
           |       AND s.band_key = t.band_key AND t.doc_id < s.doc_id
           |        WHERE s.b = $j),
           |k$j AS MATERIALIZED (SELECT DISTINCT doc_id FROM st
           |       WHERE b = $j AND doc_id NOT IN (SELECT doc_id FROM d$j)),
           |i$j AS MATERIALIZED (SELECT band, band_key FROM $prev UNION ALL
           |       SELECT band, band_key FROM st JOIN k$j USING (doc_id))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $minhashBandsCtes,
         |cor AS MATERIALIZED (SELECT band, band_key FROM bands
         |       WHERE doc_id % 3 <> 0),
         |st AS MATERIALIZED (SELECT doc_id, band, band_key,
         |       (doc_id // 3) % 4 AS b FROM bands WHERE doc_id % 3 = 0),
         |$steps,
         |kept AS (SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1
         |         UNION ALL SELECT doc_id FROM k2
         |         UNION ALL SELECT doc_id FROM k3)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN kept USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // probe replay: both sides' bands recomputed from the portable
    // hashes, joined per band, restricted to shard×corpus orientation
    "q128_incremental_dedup" ->
      s"""WITH $minhashBandsCtes
         |SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
         |FROM bands n JOIN bands c
         |  ON n.band = c.band AND n.band_key = c.band_key
         |WHERE n.doc_id % 3 = 0 AND c.doc_id % 3 <> 0
         |ORDER BY new_doc, corpus_doc""".stripMargin,

    // delete replay: the q128 probe join with the erased corpus slice
    // (doc_id%7==0) excluded from the index side
    "q133_index_delete" ->
      s"""WITH $minhashBandsCtes
         |SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
         |FROM bands n JOIN bands c
         |  ON n.band = c.band AND n.band_key = c.band_key
         |WHERE n.doc_id % 3 = 0 AND c.doc_id % 3 <> 0
         |  AND c.doc_id % 7 <> 0
         |ORDER BY new_doc, corpus_doc""".stripMargin,

    // count-min matrix replay: per (row j, bucket) sums where bucket =
    // squareMix(reseed_j(base)) mod width (square AFTER reseed — see
    // Sketch.CMSketch.bucket), point estimate = min over the 4 buckets
    "q122_count_min" ->
      s"""WITH toks AS (SELECT unnest(${Sql.words}) AS tok FROM documents),
         |h AS (SELECT tok, COUNT(*) AS c,
         |        ${Sql.sqmixOfPoly("tok")} AS base
         |      FROM toks GROUP BY tok),
         |jj AS (SELECT unnest(range(0, 4)) AS j),
         |hb AS (SELECT tok, c, j,
         |         ${Sql.sqmix("rs")} % 8192 AS b
         |       FROM (SELECT h.tok, h.c, jj.j,
         |               (h.base * (2 * jj.j + 1) + jj.j * 12345 + 678)
         |                 % 1000000007 AS rs
         |             FROM h CROSS JOIN jj) x),
         |bc AS (SELECT j, b, CAST(SUM(c) AS BIGINT) AS s
         |       FROM hb GROUP BY j, b),
         |est AS (SELECT hb.tok, MIN(bc.s) AS cm_est
         |        FROM hb JOIN bc ON bc.j = hb.j AND bc.b = hb.b
         |        GROUP BY hb.tok)
         |SELECT h.tok, CAST(h.c AS BIGINT) AS n_true, est.cm_est
         |FROM h JOIN est USING (tok)
         |WHERE h.c >= 50 ORDER BY tok""".stripMargin,

    "q54_repetition_stats" ->
      s"""WITH w AS (SELECT doc_id, ${Sql.words} AS ws FROM documents),
         |words AS (SELECT doc_id, unnest(ws) AS wd FROM w),
         |wc AS (SELECT doc_id, wd, COUNT(*) AS c FROM words GROUP BY 1, 2),
         |wagg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS d,
         |                MAX(c) AS m FROM wc GROUP BY 1),
         |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
         |       FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t),
         |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |bagg AS (SELECT doc_id, MAX(c) AS mb FROM bc GROUP BY 1)
         |SELECT wagg.doc_id AS doc_id, n AS n_words,
         |  CAST(floor(CAST(d AS DOUBLE) * 10000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS distinct_ratio_e4,
         |  CAST(floor(CAST(m AS DOUBLE) * 10000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS top_word_e4,
         |  CAST(floor(CAST(coalesce(mb, 0) AS DOUBLE) * 10000.0
         |    / CAST(greatest(n - 1, 1) AS DOUBLE)) AS BIGINT) AS top_bigram_e4
         |FROM wagg LEFT JOIN bagg ON wagg.doc_id = bagg.doc_id
         |ORDER BY doc_id""".stripMargin,

    "q53_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\+[0-9]{2}[0-9 -]{6,12}[0-9]"
      s"""WITH c AS (
         |  SELECT doc_id, ${Sql.plantPiiContent} AS content
         |  FROM documents),
         |d AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(content, '$email')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(content, '$ipv4')) AS BIGINT) AS n_ipv4,
         |    CAST(len(regexp_extract_all(content, '$phone')) AS BIGINT) AS n_phones,
         |    regexp_replace(regexp_replace(regexp_replace(content,
         |      '$email', '<EMAIL>', 'g'), '$ipv4', '<IP>', 'g'),
         |      '$phone', '<PHONE>', 'g') AS redacted
         |  FROM c)
         |SELECT doc_id, n_emails, n_ipv4, n_phones,
         |       CAST(n_emails + n_ipv4 + n_phones > 0 AS BIGINT) AS has_pii,
         |       redacted
         |FROM d ORDER BY doc_id""".stripMargin
    },

    // transitive closure over the SAME candidate-pair SQL: min reachable
    // doc_id per node = the component id the engine's large-star/
    // small-star iterations must converge to
    "q52_dedup_clusters" ->
      s"""WITH RECURSIVE
         |pairs AS (SELECT doc_a, doc_b FROM ($minhashAllPairsSql)),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.m FROM edges e JOIN reach r ON r.u = e.v),
         |comp AS (SELECT u AS doc_id, MIN(m) AS component
         |         FROM reach GROUP BY u)
         |SELECT doc_id, component,
         |       CAST(component = doc_id AS BIGINT) AS kept
         |FROM comp ORDER BY doc_id""".stripMargin,

    "q90_leakage_safe_split" ->
      s"""WITH RECURSIVE
         |pairs AS (SELECT doc_a, doc_b FROM ($minhashAllPairsSql)),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.m FROM edges e JOIN reach r ON r.u = e.v),
         |comp AS (SELECT u AS doc_id, MIN(m) AS component
         |         FROM reach GROUP BY u),
         |h AS (SELECT doc_id, component,
         |        substr(md5(CAST(component AS VARCHAR)), 1, 2) AS h2
         |      FROM comp)
         |SELECT doc_id, component,
         |       CASE WHEN h2 < 'cc' THEN 'train'
         |            WHEN h2 < 'e6' THEN 'val'
         |            ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin,

    // completeness proof for the triangle-distributed path: the engine
    // runs the skew-proof plan, the oracle computes the uncapped
    // all-pairs set — they must hash-match exactly
    "q49_minhash_pairs_salted" -> minhashAllPairsSql,

    "q25_jaccard_pairs" ->
      s"""WITH wh AS (SELECT doc_id, ${Sql.wordHashes} AS whs FROM documents),
         |sh AS (SELECT doc_id, ${Sql.shingles("whs", 2)} AS shs FROM wh),
         |shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM shd a JOIN shd b ON b.doc_id = a.doc_id + 1 AND a.sh = b.sh
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       CAST(floor(CAST(n_inter AS DOUBLE) * 10000.0 /
         |         CAST(na.n + nb.n - n_inter AS DOUBLE)) AS BIGINT) AS jaccard_e4
         |FROM inter
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q26_simhash" ->
      s"""WITH wh AS (SELECT doc_id, ${Sql.wordHashes} AS whs FROM documents)
         |SELECT doc_id,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [CASE WHEN list_sum([CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END
         |                         for h in whs]) > 0
         |          THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END
         |     for i in range(0, 30)]),
         |    (a, b) -> a + b) AS BIGINT) AS simhash
         |FROM wh ORDER BY doc_id""".stripMargin,

    "q42_clean_corpus" -> {
      // composed from the q22 (quality/lang), q21 (dedup), q24 (bands),
      // and q25 (jaccard) oracle fragments, each independently green
      val sig = (0 until 16).map { j =>
        s"list_min(list_transform(shs, h -> (h * ${2 * j + 1} + ${j * 12345 + 678}) % 1000000007))"
      }.mkString("[", ",\n    ", "]")
      s"""WITH gated AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ${Sql.quality} >= 3000 AND ${Sql.langPred} IN ('en')),
         |h AS (SELECT doc_id, text, md5(${Sql.norm}) AS hh FROM gated),
         |r AS (SELECT doc_id, text,
         |        row_number() OVER (PARTITION BY hh ORDER BY doc_id) AS rn
         |      FROM h),
         |kept AS (SELECT doc_id, text FROM r WHERE rn = 1),
         |wh AS (SELECT doc_id, ${Sql.wordHashes} AS whs FROM kept),
         |sh3 AS (SELECT doc_id, ${Sql.shingles("whs", 3)} AS shs FROM wh),
         |sig AS (SELECT doc_id, $sig AS sg FROM sh3),
         |bands AS (
         |  SELECT doc_id, b.band,
         |         array_to_string(sg[b.band * 4 + 1 : b.band * 4 + 4], '_') AS band_key
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |sh2 AS (SELECT doc_id, ${Sql.shingles("whs", 2)} AS shs FROM wh),
         |shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh2),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
         |  FROM cand c
         |  JOIN shd a ON a.doc_id = c.doc_a
         |  JOIN shd b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |  GROUP BY 1, 2),
         |confirmed AS (
         |  SELECT i.doc_b
         |  FROM inter i
         |  JOIN sizes na ON na.doc_id = i.doc_a
         |  JOIN sizes nb ON nb.doc_id = i.doc_b
         |  WHERE CAST(floor(CAST(n_inter AS DOUBLE) * 10000.0 /
         |          CAST(na.n + nb.n - n_inter AS DOUBLE)) AS BIGINT) >= 6000)
         |SELECT doc_id FROM kept
         |WHERE doc_id NOT IN (SELECT doc_b FROM confirmed)
         |ORDER BY doc_id""".stripMargin
    },

    // replicates Bm25.topK step-for-step: same token split, same odds-idf
    // quantization, same fixed-order double arithmetic, same tie breaks
    "q88_bm25" ->
      s"""WITH dl AS (
         |  SELECT doc_id, CAST(len(${Sql.words}) AS BIGINT) AS dl FROM documents),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM dl),
         |tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(${Sql.words}) AS tok FROM documents)
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
         |  CROSS JOIN stats)
         |SELECT doc_id, CAST(SUM(w_e6) AS BIGINT) AS score_e6,
         |       CAST(COUNT(*) AS BIGINT) AS n_terms
         |FROM w GROUP BY doc_id
         |ORDER BY score_e6 DESC, doc_id LIMIT 20""".stripMargin,

    // seed → flag (df ≥ 3) → cover → rebuild, replayed relationally:
    // sliding grams from position-indexed token lists, covered positions
    // via NOT EXISTS range anti-join, ordered string_agg reassembly
    "q91_span_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id, ${Sql.plantBoilerplateContent} AS content
         |  FROM documents),
         |toks AS (SELECT doc_id, string_split(${Sql.normOf("content")}, ' ') AS w
         |         FROM d),
         |tp AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM toks),
         |tok AS (SELECT doc_id, pos, w[pos] AS word FROM tp),
         |grams AS (SELECT doc_id, pos AS start,
         |                 array_to_string(w[pos:pos+7], ' ') AS gram
         |          FROM tp WHERE pos <= len(w) - 7),
         |flagged AS (SELECT gram FROM grams
         |            GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 3),
         |cov AS (SELECT DISTINCT doc_id, start + o AS pos
         |        FROM (SELECT g.doc_id, g.start, unnest(range(0, 8)) AS o
         |              FROM grams g JOIN flagged f USING (gram)) x),
         |kept AS (SELECT t.doc_id, t.pos, t.word FROM tok t
         |         WHERE NOT EXISTS (SELECT 1 FROM cov c
         |                           WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
         |               CAST(COUNT(*) AS BIGINT) AS n_kept
         |        FROM kept GROUP BY doc_id),
         |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM toks)
         |SELECT n.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |       n.n_tok - coalesce(a.n_kept, 0) AS n_removed
         |FROM n LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q92_shared_spans" ->
      s"""WITH d AS (
         |  SELECT doc_id, ${Sql.plantBoilerplateContent} AS content
         |  FROM documents),
         |toks AS (SELECT doc_id, string_split(${Sql.normOf("content")}, ' ') AS w
         |         FROM d),
         |tp AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM toks),
         |grams AS (SELECT DISTINCT doc_id,
         |                 array_to_string(w[pos:pos+7], ' ') AS gram
         |          FROM tp WHERE pos <= len(w) - 7),
         |elig AS (SELECT gram FROM grams
         |         GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 200),
         |e AS (SELECT g.doc_id, g.gram FROM grams g JOIN elig USING (gram))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,

    "q97_heavy_hitters" ->
      s"""SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM (SELECT unnest(${Sql.words}) AS tok FROM documents)
         |GROUP BY tok HAVING COUNT(*) >= 500
         |ORDER BY tok""".stripMargin,

    "q100_inverted_index" ->
      s"""WITH p AS (
         |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(${Sql.words}) AS term FROM documents)
         |  GROUP BY 1, 2),
         |r AS (SELECT term, doc_id, tf,
         |        row_number() OVER (PARTITION BY term
         |                           ORDER BY tf DESC, doc_id ASC) AS rn
         |      FROM p),
         |s AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         |             CAST(SUM(tf) AS BIGINT) AS total_tf
         |      FROM p GROUP BY 1)
         |SELECT s.term, s.df, s.total_tf,
         |       r.doc_id AS top_doc_id, r.tf AS top_tf
         |FROM s JOIN r ON r.term = s.term AND r.rn = 1
         |WHERE s.df >= 5 ORDER BY s.term""".stripMargin,

    "q101_containment" ->
      s"""WITH wh AS (SELECT doc_id, ${Sql.wordHashes} AS whs FROM documents),
         |sh AS (SELECT doc_id, ${Sql.shingles("whs", 2)} AS shs FROM wh),
         |shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
         |          FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM shd a JOIN shd b ON b.doc_id = a.doc_id + 1 AND a.sh = b.sh
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_inter,
         |       CAST(n_inter * CAST(1000000 AS BIGINT) // na.n AS BIGINT)
         |         AS cont_a_e6,
         |       CAST(n_inter * CAST(1000000 AS BIGINT) // nb.n AS BIGINT)
         |         AS cont_b_e6
         |FROM inter
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q103_line_dedup" ->
      s"""WITH src AS (SELECT doc_id, ${Sql.plantLinesContent} AS content
         |             FROM documents),
         |ls AS (SELECT doc_id, string_split(content, chr(10)) AS lls FROM src),
         |lp AS (SELECT doc_id, t.i - 1 AS pos, lls[t.i] AS line
         |       FROM ls, LATERAL (SELECT unnest(range(1, len(lls) + 1)) AS i) t),
         |rep AS (SELECT md5(line) AS lineh
         |        FROM lp GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3),
         |flagged AS (
         |  SELECT doc_id, pos, line,
         |         md5(line) IN (SELECT lineh FROM rep) AS isrep
         |  FROM lp)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
         |       CAST(SUM(CASE WHEN isrep THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dropped,
         |       COALESCE(string_agg(CASE WHEN NOT isrep THEN line END,
         |                           chr(10) ORDER BY pos), '') AS cleaned_text
         |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q104_tfidf_topk" ->
      s"""WITH p AS (
         |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(${Sql.words}) AS term FROM documents)
         |  GROUP BY 1, 2),
         |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM p GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |wt AS (
         |  SELECT p.doc_id, p.term, p.tf, dfs.df,
         |         p.tf * (n.n_docs * CAST(1000000 AS BIGINT) // dfs.df)
         |           AS tfidf_e6
         |  FROM p JOIN dfs USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, df, tfidf_e6,
         |        CAST(row_number() OVER (PARTITION BY doc_id
         |               ORDER BY tfidf_e6 DESC, term ASC) AS BIGINT) AS rank
         |      FROM wt)
         |SELECT doc_id, term, tf, df, tfidf_e6, rank
         |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q106_collocations" ->
      s"""WITH w AS (SELECT ${Sql.words} AS ws FROM documents),
         |bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
         |       FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
         |       WHERE len(ws) >= 2),
         |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
         |       FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 30),
         |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bg)
         |SELECT bc.w1, bc.w2, bc.c12, u1.c AS c1, u2.c AS c2,
         |       CAST((bc.c12 * CAST(1000000 AS BIGINT) // u1.c) * n.nb
         |            // u2.c AS BIGINT) AS lift_e6
         |FROM bc
         |JOIN uni u1 ON u1.w = bc.w1
         |JOIN uni u2 ON u2.w = bc.w2
         |CROSS JOIN n
         |ORDER BY lift_e6 DESC, w1 ASC, w2 ASC LIMIT 100""".stripMargin,

    // the full q108 composition: q22 gate + q21 dedup + q24 bands +
    // q25 jaccard + q52-style recursive components + q47 contamination
    // + q90 split + q46 packing, each fragment independently green
    "q108_training_data" -> {
      val sig = (0 until 16).map { j =>
        s"list_min(list_transform(shs, h -> (h * ${2 * j + 1} + ${j * 12345 + 678}) % 1000000007))"
      }.mkString("[", ",\n    ", "]")
      s"""WITH RECURSIVE
         |gated AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ${Sql.quality} >= 3000 AND ${Sql.langPred} IN ('en')),
         |hh AS (SELECT doc_id, text, md5(${Sql.norm}) AS ch FROM gated),
         |rr AS (SELECT doc_id, text,
         |         row_number() OVER (PARTITION BY ch ORDER BY doc_id) AS rn
         |       FROM hh),
         |kept AS (SELECT doc_id, text FROM rr WHERE rn = 1),
         |wh AS (SELECT doc_id, ${Sql.wordHashes} AS whs FROM kept),
         |sh3 AS (SELECT doc_id, ${Sql.shingles("whs", 3)} AS shs FROM wh),
         |sig AS (SELECT doc_id, $sig AS sg FROM sh3),
         |bands AS (
         |  SELECT doc_id, b.band,
         |         array_to_string(sg[b.band * 4 + 1 : b.band * 4 + 4], '_') AS band_key
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |sh2 AS (SELECT doc_id, ${Sql.shingles("whs", 2)} AS shs FROM wh),
         |shd AS (SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh2),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
         |  FROM cand c
         |  JOIN shd a ON a.doc_id = c.doc_a
         |  JOIN shd b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |  GROUP BY 1, 2),
         |confirmed AS (
         |  SELECT i.doc_a, i.doc_b
         |  FROM inter i
         |  JOIN sizes na ON na.doc_id = i.doc_a
         |  JOIN sizes nb ON nb.doc_id = i.doc_b
         |  WHERE CAST(floor(CAST(n_inter AS DOUBLE) * 10000.0 /
         |          CAST(na.n + nb.n - n_inter AS DOUBLE)) AS BIGINT) >= 6000),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM confirmed
         |          UNION SELECT doc_b, doc_a FROM confirmed),
         |reach(u, m) AS (
         |  SELECT doc_id, doc_id FROM kept
         |  UNION
         |  SELECT e.u, r2.m FROM edges e JOIN reach r2 ON r2.u = e.v),
         |comp AS (SELECT u AS doc_id, MIN(m) AS component
         |         FROM reach GROUP BY u),
         |reps AS (SELECT doc_id, component FROM comp WHERE doc_id = component),
         |ev AS (SELECT doc_id, ${Sql.wordHashes} AS whs FROM documents
         |       WHERE doc_id % 13 = 0),
         |eidx AS (SELECT DISTINCT unnest(list_distinct(
         |           ${Sql.shingles("whs", 8)})) AS sh FROM ev),
         |rsh AS (SELECT w.doc_id, unnest(list_distinct(
         |          ${Sql.shingles("whs", 8)})) AS sh
         |        FROM wh w JOIN reps USING (doc_id)),
         |contam AS (
         |  SELECT r3.doc_id, COUNT(*) AS n_sh,
         |         SUM(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM rsh r3 LEFT JOIN eidx e USING (sh) GROUP BY 1),
         |clean AS (
         |  SELECT doc_id FROM contam
         |  WHERE CAST(floor(CAST(n_hit AS DOUBLE) * 10000.0
         |          / CAST(n_sh AS DOUBLE)) AS BIGINT) < 2000),
         |sp AS (
         |  SELECT r4.doc_id, r4.component,
         |         CASE WHEN substr(md5(CAST(r4.component AS VARCHAR)), 1, 2) < 'cc'
         |                THEN 'train'
         |              WHEN substr(md5(CAST(r4.component AS VARCHAR)), 1, 2) < 'e6'
         |                THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM reps r4 JOIN clean USING (doc_id)),
         |toks AS (
         |  SELECT k.doc_id, sp.component, sp.split,
         |         CAST(len(${Sql.words}) AS BIGINT) AS n_tokens
         |  FROM kept k JOIN sp ON sp.doc_id = k.doc_id),
         |cum AS (
         |  SELECT doc_id, component, split, n_tokens,
         |         SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           - n_tokens AS strt
         |  FROM toks)
         |SELECT doc_id, component, split, n_tokens,
         |       CAST(strt // 512 AS BIGINT) AS bin,
         |       CAST(strt % 512 AS BIGINT) AS "offset"
         |FROM cum ORDER BY doc_id""".stripMargin
    },

    // greedy BPE encode replay: distinct words encoded once via a
    // recursive CTE (one leftmost min-rank merge per step — equivalent
    // to encodeWord's merge-all per the pinnedMerges ordering note),
    // symbol streams joined on TAB sentinels (normalization guarantees
    // no whitespace inside words), doc stats re-assembled with the
    // ordered polynomial fold over word-ordered token hashes
    "q116_bpe_encode" ->
      s"""WITH RECURSIVE
         |d AS (SELECT doc_id, ${Sql.norm} AS norm FROM documents),
         |dw AS (SELECT doc_id, ws[i] AS w, i
         |       FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM d) x,
         |       LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) tt
         |       WHERE ws[i] <> ''),
         |wd AS (SELECT DISTINCT w FROM dw),
         |m(rnk, a, b) AS (SELECT * FROM (VALUES $bpeMergeValues) v(rnk, a, b)),
         |init AS (SELECT w,
         |           chr(9) || array_to_string(
         |             list_concat(cs[1:len(cs)-1], [cs[len(cs)] || '</w>']),
         |             chr(9)) || chr(9) AS s
         |         FROM (SELECT w,
         |                 [substr(w, i, 1) for i in range(1, len(w) + 1)] AS cs
         |               FROM wd) y),
         |enc AS (
         |  SELECT w, s, 0 AS n FROM init
         |  UNION ALL
         |  SELECT e.w,
         |         substr(e.s, 1, best.pos - 1) || chr(9) || best.a || best.b
         |           || chr(9)
         |           || substr(e.s, best.pos + len(best.a) + len(best.b) + 3),
         |         e.n + 1
         |  FROM enc e, LATERAL (
         |    SELECT m.a, m.b,
         |           position(chr(9) || m.a || chr(9) || m.b || chr(9) IN e.s)
         |             AS pos
         |    FROM m
         |    WHERE position(chr(9) || m.a || chr(9) || m.b || chr(9) IN e.s) > 0
         |    ORDER BY m.rnk LIMIT 1) best),
         |fin AS (SELECT w, s FROM (
         |          SELECT w, s,
         |                 row_number() OVER (PARTITION BY w ORDER BY n DESC)
         |                   AS rn
         |          FROM enc) z
         |        WHERE rn = 1),
         |toks AS (SELECT w,
         |           list_filter(string_split(s, chr(9)), tk -> tk <> '') AS tl
         |         FROM fin),
         |wh AS (SELECT w, CAST(len(tl) AS BIGINT) AS n_tok,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(tl, tk -> CAST(length(tk) AS BIGINT))),
         |           (a, b) -> a + b) AS n_chars,
         |         list_transform(tl, tk -> ${Sql.poly("tk")}) AS hl
         |       FROM toks),
         |per AS (SELECT dw.doc_id, dw.i, wh.n_tok, wh.n_chars, wh.hl
         |        FROM dw JOIN wh USING (w)),
         |agg AS (SELECT doc_id,
         |          CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |          CAST(SUM(n_chars) AS BIGINT) AS n_chars_tokenized,
         |          list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            flatten(list(hl ORDER BY i))),
         |            (a, b) -> (a * 131 + b) % 1000000007) AS tokens_fp
         |        FROM per GROUP BY doc_id)
         |SELECT d.doc_id,
         |       coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
         |       coalesce(a.n_chars_tokenized, CAST(0 AS BIGINT))
         |         AS n_chars_tokenized,
         |       coalesce(a.tokens_fp, CAST(0 AS BIGINT)) AS tokens_fp
         |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin)
}
