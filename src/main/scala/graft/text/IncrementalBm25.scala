package graft.text

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Index-and-probe incremental BM25 — the TEXT-retrieval index family
  * beside the band index ([[IncrementalDedup]]) and the vector indexes
  * ([[graft.sim.IncrementalAnn]]/[[graft.sim.IncrementalPq]]):
  * [[Bm25.topKBatch]] re-tokenizes and re-scans the corpus per query
  * batch, which is right for one-shot jobs; at 100 TB the steady state
  * is "tokenize ONCE into persisted postings, then serve every query
  * batch from the index" — with append/delete/compaction/streaming
  * ingest so the index runs forever without a rebuild.
  *
  * Layout (via [[graft.sources.Bucketed]], so both tables get the
  * generation-manifest commit + maintenance lock + cross-process CAS
  * for free):
  *
  *   - `<name>_postings` (tok, id, tf, dl[, attrs…]), bucketed AND
  *     sorted on `tok`. The doc length is DENORMALIZED into the
  *     posting (one extra long per row, one build-time id-join
  *     shuffle — the filtered-ANN attr doctrine): scoring needs dl
  *     per candidate row, and fetching it from a side table would
  *     cost a full doc-length scan or an id-keyed shuffle PER PROBE —
  *     at corpus scale, the difference between a serving call and a
  *     batch job. Optional ATTRIBUTE columns (license, lang, source…)
  *     ride each posting the same way, so a filtered probe prunes at
  *     the scan instead of post-filtering a top-k (see [[probe]]'s
  *     `filter`). A probe therefore touches nothing but the pruned
  *     postings: the batch's distinct terms (bounded driver state,
  *     the [[IncrementalDedup.probe]] pushdown doctrine) land as an
  *     `isin` in the scan's PushedFilters — beside the attribute
  *     conjunct when filtering — and because every file is SORTED on
  *     tok, parquet row-group min/max skipping cuts the read to the
  *     matching row groups. (Whole-bucket pruning does not apply
  *     here: Spark keeps a bucketed scan only when a downstream
  *     operator uses the bucketing, and this serving plan's joins are
  *     broadcasts — the bucket layout still bounds per-bucket file
  *     counts via compaction, keeps deletion O(touched buckets), and
  *     keeps the sorted-run skip property compaction restores.)
  *     df(term) derives from the same pruned rows (each (tok, id)
  *     appears once).
  *   - `<name>_stats` one (k=0, n_docs, tot_tok, pgen) row, 1 bucket:
  *     corpus-global N and avgdl, maintained INCREMENTALLY by
  *     append/delete through a [[graft.sources.Bucketed.save]]
  *     Overwrite's atomic one-manifest swap — a probe must not pay an O(corpus)
  *     aggregation for two scalars. Each table's commit is atomic,
  *     and since round 12 the PAIR is too: every mutator ends with a
  *     [[stampPair]] pointer write
  *     ([[graft.sources.Bucketed.writePairPointer]]), and [[probe]]
  *     resolves BOTH tables through the pointer — a crash between
  *     the two commits leaves readers on the complete old pair,
  *     never postings≠stats. The stats row also stays
  *     SELF-VALIDATING (`pgen` records the postings generation it
  *     was computed against, [[probe]] falls back to the
  *     [[repairStats]] heal on mismatch) for pointer-less legacy
  *     indexes.
  *
  * Determinism: the probe reuses [[Bm25]]'s exact quantized formulas
  * (ONE copy of the idf/weight arithmetic), so against the same corpus
  * a probe from the index is bit-identical to [[Bm25.topKBatch]] on
  * the raw documents — spec-pinned, and the q147 oracle replays the
  * index-transparent form.
  *
  * Duplicate postings (an at-least-once append replay landing the same
  * rows twice) inflate per-doc term multiplicity AND df counts until
  * the next compaction dedups them — the band-index healing contract,
  * one notch sharper here because df feeds idf; a replayed append also
  * re-adds its stats delta, which the compaction-paired [[repairStats]]
  * heals (see [[streamAppend]]). Deletion is content-derived like
  * every index in the family: the deleted docs' terms recompute from
  * their text, naming the affected buckets without an index scan — but
  * the stats RETREAT is derived from the postings actually present
  * (one term-pruned semi-join), so deleting never-indexed ids,
  * re-running a delete, or deleting with drifted content cannot skew
  * n_docs/tot_tok. (Zero-token docs have no postings and are invisible
  * to both the verified retreat and [[repairStats]] — the documented
  * blind spot the repair converges to.) */
object IncrementalBm25 {

  private def postingsTable(name: String) = s"${name}_postings"
  private def statsTable(name: String) = s"${name}_stats"

  /** The checkpointed (id, dl[, attrs…]) projection of `docs` — ONE
    * tokenization-count pass serving the posting join AND the stats
    * delta (the Bm25.topK reuse doctrine: without it every consumer
    * re-tokenizes the input). IDs UNIQUE within the input is the
    * shared batch contract (a duplicated row would double tf and the
    * stats delta alike). */
  private def dlOf(docs: DataFrame, textCol: String, idCol: String,
                   attrCols: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol).cast("long").as("id") +:
        TextAnalysis.tokenCountCol(col(textCol)).cast("long").as("dl") +:
        attrCols.map(col): _*)
      .localCheckpoint(eager = false)

  /** (tok, id, tf, dl[, attrs…]) posting rows — the same tokenization
    * as the in-memory paths; dl and the attribute columns ride each
    * posting (see the object scaladoc). */
  private def postingsOf(docs: DataFrame, dl: DataFrame, textCol: String,
                         idCol: String,
                         attrCols: Seq[String] = Nil): DataFrame =
    docs
      .select(col(idCol).cast("long").as("id"),
        explode(TextAnalysis.wordsCol(col(textCol))).as("tok"))
      .groupBy("tok", "id").agg(count(lit(1)).as("tf"))
      .join(dl, "id")
      .select(col("tok") +: col("id") +: col("tf") +: col("dl") +:
        attrCols.map(col): _*)

  /** (n_docs, tot_tok) of a batch, from its checkpointed dl rows. */
  private def batchStats(dl: DataFrame): (Long, Long) = {
    val spark = dl.sparkSession
    import spark.implicits._
    dl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L)))
      .as[(Long, Long)].head()
  }

  /** (n_docs, tot_tok, pgen) — the stats row plus the postings
    * generation it was computed against. */
  private def statsOf(spark: SparkSession, name: String): (Long, Long, Long) = {
    val r = graft.sources.Bucketed.load(spark, statsTable(name))
      .select("n_docs", "tot_tok", "pgen").head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def postingsGen(spark: SparkSession, name: String): Long =
    graft.sources.Bucketed.currentGeneration(spark, postingsTable(name))

  /** PAIR COMMIT for the (postings, stats) pair
    * ([[graft.sources.Bucketed.writePairPointer]], round 12): every
    * mutator ends by stamping the pointer with the postings
    * generation it produced and the stats generation it wrote, so a
    * pointer-reading [[probe]] always serves ONE consistent pair —
    * the crash window between the two tables' commits no longer
    * surfaces as drifted idf to be detected and healed; readers stay
    * on the complete old pair until the stamp. The generation-binding
    * heal ([[repairStats]] on pgen mismatch) survives as the fallback
    * for pointer-less legacy indexes and for semantic duplicates
    * (replayed appends re-add their stats delta — a pointer cannot
    * know that; compaction + repair still heal it). */
  private def stampPair(spark: SparkSession, name: String,
                        pgen: Long): Unit = {
    // the retention FLOOR is re-asserted on EVERY stamp: a pointer
    // over a retention-1 table would name generations the very next
    // commit deletes (the crash window would fail the probe loudly
    // where the legacy heal recovered), and an operator lowering
    // retention between stamps must be healed, not stranded. The
    // assert only ever RAISES — two marker reads per mutation, a
    // write only when the floor was actually broken.
    graft.sources.Bucketed
      .ensureRetentionAtLeast(spark, postingsTable(name), 3)
    graft.sources.Bucketed
      .ensureRetentionAtLeast(spark, statsTable(name), 3)
    graft.sources.Bucketed.writePairPointer(spark, postingsTable(name),
      pgen,
      graft.sources.Bucketed.currentGeneration(spark, statsTable(name)))
  }

  /** Per-index monitors serializing the stats read-modify-write: two
    * concurrent mutations would otherwise lose one delta (the stats
    * row is the only cross-mutation accumulator in the family).
    * In-process like every lock here; cross-process mutation is
    * caught by the Bucketed CAS commit. */
  private val statsMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withStatsLock[A](name: String)(body: => A): A =
    statsMonitors.computeIfAbsent(name, _ => new Object)
      .synchronized(body)

  private def writeStats(spark: SparkSession, name: String, nDocs: Long,
                         totTok: Long, pgen: Long): Unit = {
    import spark.implicits._
    graft.sources.Bucketed.save(Seq((0, nDocs, totTok, pgen))
      .toDF("k", "n_docs", "tot_tok", "pgen"), statsTable(name), Seq("k"), 1)
  }

  /** Recompute the stats row FROM the postings table — the healing op
    * for the one crash window this two-table family has: postings and
    * stats commit through separate manifests, so a crash between the
    * two commits (or an uncertain retry) can leave the two out of
    * step. Each (id, dl) pair appears once per distinct term of the
    * doc; distinct-ing recovers the per-doc lengths, one index scan.
    * [[probe]] runs this AUTOMATICALLY when the stats row's bound
    * generation disagrees with the live postings generation; calling
    * it after any mutation whose completion is in doubt remains valid
    * (idempotent). NOTE: a doc with ZERO tokens has no postings and
    * is invisible here; repair converges the row to the
    * postings-visible corpus. */
  def repairStats(spark: SparkSession, name: String): (Long, Long) = {
    import spark.implicits._
    // bind the generation read BEFORE the scan: if a mutation lands
    // mid-repair the row is stamped with the pre-mutation generation
    // and the next probe's check simply heals again
    val gen = postingsGen(spark, name)
    val (n, tot) = graft.sources.Bucketed.load(spark, postingsTable(name))
      .select("id", "dl").distinct()
      .agg(count(lit(1)), coalesce(sum("dl"), lit(0L)))
      .as[(Long, Long)].head()
    withStatsLock(name) {
      writeStats(spark, name, n, tot, gen)
      stampPair(spark, name, gen)
    }
    (n, tot)
  }

  /** Tokenize `corpus` and (re)build the index. One tokenize pass +
    * one bucket-write shuffle (+ the dl id-join) — paid once, not per
    * query batch. `attrCols` names corpus columns stored beside each
    * posting for FILTERED retrieval (see [[probe]]). */
  def buildIndex(corpus: DataFrame, name: String, buckets: Int,
                 textCol: String = "text", idCol: String = "doc_id",
                 attrCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    val dl = dlOf(corpus, textCol, idCol, attrCols)
    graft.sources.Bucketed.save(
      postingsOf(corpus, dl, textCol, idCol, attrCols),
      postingsTable(name), Seq("tok"), buckets)
    val (n, tot) = batchStats(dl)
    withStatsLock(name) {
      val gen = postingsGen(spark, name)
      writeStats(spark, name, n, tot, gen)
      // pair governance from birth: the first stamp also raises
      // retention (see [[stampPair]]) so a lagging pointer stays
      // readable across any single mutation's two commits
      stampPair(spark, name, gen)
    }
  }

  /** Append newly-ingested docs: their postings land in the existing
    * bucket layout (probe plans stay valid), the stats row advances by
    * the batch's delta — stamped with the POST-append postings
    * generation — through one atomic manifest swap. Call AFTER any
    * probe that should not see the batch. `attrCols` must match the
    * build's. */
  def appendToIndex(newDocs: DataFrame, name: String, buckets: Int,
                    textCol: String = "text", idCol: String = "doc_id",
                    attrCols: Seq[String] = Nil): Unit = {
    val spark = newDocs.sparkSession
    val dl = dlOf(newDocs, textCol, idCol, attrCols)
    graft.sources.Bucketed.save(
      postingsOf(newDocs, dl, textCol, idCol, attrCols),
      postingsTable(name), Seq("tok"), buckets, mode = SaveMode.Append)
    val (dn, dtot) = batchStats(dl)
    withStatsLock(name) {
      val (n, tot, _) = statsOf(spark, name)
      val gen = postingsGen(spark, name)
      writeStats(spark, name, n + dn, tot + dtot, gen)
      stampPair(spark, name, gen)
    }
  }

  /** Remove docs at O(touched buckets): their terms recompute from
    * content, naming the affected buckets (pmod(hash(tok), buckets))
    * without an index scan; those buckets rewrite anti-joining the ids
    * out. The stats retreat is VERIFIED, not assumed: the delta is the
    * distinct (id, dl) pairs actually PRESENT in the index for the
    * batch's ids (one term-pruned semi-join against the same buckets
    * the rewrite touches, read before it), so deleting ids that were
    * never indexed, re-running a delete, or deleting with drifted
    * content retreats by exactly what the index loses — n_docs and
    * tot_tok cannot drift negative or poison idf/avgdl. Returns the
    * number of buckets rewritten. */
  def deleteFromIndex(docs: DataFrame, name: String, buckets: Int,
                      textCol: String = "text", idCol: String = "doc_id"): Int = {
    val spark = docs.sparkSession
    import spark.implicits._
    val uniq = docs.dropDuplicates(idCol)
    val dl = dlOf(uniq, textCol, idCol)
    val del = postingsOf(uniq, dl, textCol, idCol)
      .localCheckpoint(eager = false) // bucket-id collect + id join
    // term pruning for the verified-retreat scan, with BOUNDED driver
    // state: up to 512 distinct terms push down as an isin (the q128
    // cap — a bigger literal list costs more in Catalyst than it
    // saves), beyond that the terms stay distributed as a semi-join —
    // a delete that large is proportionate to a pruned-less scan, and
    // collecting a million-token vocabulary to the driver is not
    val delTermsCapped = del.select("tok").distinct().as[String].take(513)
    val ids = del.select("id").distinct()
    // the verified retreat: what the index ACTUALLY holds for these
    // ids, from the same term-pruned scan shape the probe uses (the
    // stored dl is authoritative — it is what repairStats would
    // count). Materialized BEFORE the rewrite removes the rows.
    val (dn, dtot) = {
      val all = graft.sources.Bucketed.load(spark, postingsTable(name))
      val termPruned =
        if (delTermsCapped.length <= 512)
          all.filter(col("tok").isin(
            delTermsCapped.sorted.toIndexedSeq: _*))
        else all.join(del.select("tok").distinct(), Seq("tok"), "left_semi")
      val present = termPruned
        .join(broadcast(ids), Seq("id"), "left_semi")
        .select("id", "dl").distinct()
      import spark.implicits._
      present.agg(count(lit(1)), coalesce(sum("dl"), lit(0L)))
        .as[(Long, Long)].head()
    }
    val nRewritten = graft.sources.IndexMaintenance.deletePostings(
      del, postingsTable(name), buckets, bucketKeyCol = "tok",
      idCol = "id")
    withStatsLock(name) {
      val (n, tot, _) = statsOf(spark, name)
      val gen = postingsGen(spark, name)
      writeStats(spark, name, math.max(0L, n - dn), math.max(0L, tot - dtot),
        gen)
      stampPair(spark, name, gen)
    }
    nRewritten
  }

  /** Build the index over governed `source`'s current head and bind
    * the index as its FOLLOWER ([[refreshFromSource]]) — the
    * maintained-view create for the retrieval tier. Returns the
    * bookmarked generation. */
  def createFromSource(spark: SparkSession, source: String,
                       name: String, buckets: Int,
                       textCol: String = "text",
                       idCol: String = "doc_id",
                       attrCols: Seq[String] = Nil): Long = {
    val gen = graft.sources.Bucketed.currentGeneration(spark, source)
    buildIndex(graft.sources.Bucketed.loadAsOf(spark, source, gen),
      name, buckets, textCol, idCol, attrCols)
    graft.sources.IndexMaintenance.bindFollower(spark,
      postingsTable(name), gen)
    gen
  }

  /** Bring the index up to its governed source table's head — the
    * [[graft.sources.IndexMaintenance.refreshFromSource]] protocol
    * with this family's primitives: pair deletes →
    * [[deleteFromIndex]] (old content names the buckets; verified
    * stats retreat — idempotent), pair inserts → [[appendToIndex]],
    * and the crash-retry scrub = delete the pair's BOTH halves by
    * content then [[repairStats]] (exact stats from the healed
    * postings, whatever the partial append left). A corpus
    * `mergeByKey` update (delete+insert in one delta) therefore
    * replaces the doc's postings and keeps n_docs/avgdl exact.
    * `textCol`/`idCol`/`attrCols` must match the build's. Returns the
    * fold head. */
  def refreshFromSource(spark: SparkSession, source: String,
                        name: String, buckets: Int,
                        textCol: String = "text",
                        idCol: String = "doc_id",
                        attrCols: Seq[String] = Nil): Long =
    graft.sources.IndexMaintenance.refreshFromSource(spark, source,
      postingsTable(name), graft.sources.IndexMaintenance.FollowerHooks(
        applyDeletes = d =>
          { deleteFromIndex(d, name, buckets, textCol, idCol); () },
        applyInserts = i =>
          appendToIndex(i, name, buckets, textCol, idCol, attrCols),
        scrubPair = (d, i) => {
          deleteFromIndex(d, name, buckets, textCol, idCol)
          deleteFromIndex(i, name, buckets, textCol, idCol)
          repairStats(spark, name)
          ()
        }))

  /** Periodic compaction — postings are a SET, and dedup-on-rewrite
    * also heals append-replay duplicates (which here would inflate
    * df). A non-trivial compaction advances the postings generation,
    * so the stats row is re-stamped (values unchanged — the distinct
    * (id, dl) set is compaction-invariant) to keep the probe's
    * generation check quiet. Returns buckets rewritten. */
  def compactIndex(spark: SparkSession, name: String,
                   maxFilesPerBucket: Int = 4): Int = {
    val n = graft.sources.IndexMaintenance.compactPostings(spark,
      postingsTable(name), maxFilesPerBucket)
    if (n > 0) withStatsLock(name) {
      val (nd, tot, _) = statsOf(spark, name)
      val gen = postingsGen(spark, name)
      writeStats(spark, name, nd, tot, gen)
      stampPair(spark, name, gen)
    }
    n
  }

  /** Continuous corpus ingest into the retrieval index — the
    * [[IncrementalDedup.streamNovel]] shape WITHOUT the gate: each
    * micro-batch's postings append to the index and the stats row
    * advances, with periodic compaction + [[repairStats]] keeping the
    * run-forever invariants (bounded per-bucket files; postings/stats
    * agreement) under foreachBatch's at-least-once replay: a replayed
    * batch lands duplicate postings (compaction dedups them) and
    * re-adds its stats delta (the paired repair recomputes the row
    * from the healed postings). Between a replay and the next
    * compaction tick the affected docs score inflated — the band
    * index's documented healing contract, accepted here for the same
    * reason: no per-batch index scan. */
  def streamAppend(stream: DataFrame, name: String, buckets: Int,
                   textCol: String = "text", idCol: String = "doc_id",
                   attrCols: Seq[String] = Nil,
                   compactEvery: Int = 8, maxFilesPerBucket: Int = 4,
                   checkpointDir: Option[String] = None): Unit = {
    graft.streaming.Streaming.runBatches(stream, "bm25", checkpointDir) {
      (batch, id) =>
        appendToIndex(batch, name, buckets, textCol, idCol, attrCols)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
          compactIndex(batch.sparkSession, name, maxFilesPerBucket)
          repairStats(batch.sparkSession, name)
        }
    }
  }

  /** Per-query BM25 top-`k` — (query_id, doc_id, score_e6, n_terms,
    * rank), the [[Bm25.topKBatch]] contract — served from the index
    * WITHOUT touching the corpus: the batch's distinct terms (bounded
    * driver state) prune the postings scan, df/idf derive from the
    * same pruned rows, dl rides the posting, and N/avgdl come from
    * the one-row stats table — TRUSTED only after its bound
    * generation matches the live postings generation (auto-healing
    * via [[repairStats]] on mismatch; fails loudly if the pair will
    * not converge). Adding a query adds broadcast rows, not scans.
    *
    * `filter`: optional predicate over the index's ATTRIBUTE columns
    * (stored at build via `attrCols`) — applied BEFORE scoring, in
    * the SAME pruned scan as the term `isin` (both land in
    * PushedFilters), so the top-k is k SURVIVING docs: post-filtering
    * an unfiltered top-k would under-deliver whenever non-matching
    * docs crowd the window (the filtered-ANN pitfall, q142 doctrine).
    * df under a filter counts SURVIVING docs per term (term rarity
    * within the searched sub-corpus — derivable from the one pruned
    * scan; global df would cost a second unfiltered pass) while
    * N/avgdl stay corpus-global from the stats row (two scalars, not
    * an O(sub-corpus) count per probe) — deterministic and replayed
    * verbatim by the oracle. */
  def probe(spark: SparkSession, queries: DataFrame, name: String,
            k: Int = 20, queryIdCol: String = "query_id",
            termsCol: String = "terms",
            filter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val qt = queries.select(
        col(queryIdCol).cast("long").as("query_id"),
        explode(array_distinct(col(termsCol))).as("tok"))
      .dropDuplicates("query_id", "tok")
      .localCheckpoint(eager = false) // term collect + per-query fan-out
    val terms = qt.select("tok").distinct().as[String].collect().sorted
    // pair-governed (the build stamps a pointer): postings and stats
    // resolve through ONE atomic pair — a crash between the two
    // tables' commits leaves this probe on the complete old pair,
    // scores exact for that corpus, no drift to detect. Pointer-less
    // legacy indexes keep the generation-binding heal.
    //
    // DUPLICATE-healing contract on the pointer path: a REPLAYED
    // append lands its postings twice AND re-adds its stats delta,
    // then stamps the pair — pointer and pgen both name the inflated
    // state consistently, so neither the pointer nor trustedStats'
    // pgen-mismatch heal can detect semantic duplicates (a pointer
    // records generations, not content). Pair-governed indexes
    // therefore rely on the periodic [[compactIndex]] (dedups the
    // postings) + [[repairStats]] (recomputes the row from the healed
    // postings) tick — [[streamAppend]] wires it every compactEvery
    // batches — exactly the family's documented healing window; the
    // legacy path's heal was never stronger for replays either (a
    // replayed append stamps a matching pgen there too).
    val pair = graft.sources.Bucketed.readPairPointer(
      spark, postingsTable(name))
    val (nDocs, totTok) = pair match {
      case Some((_, gs)) =>
        val r = graft.sources.Bucketed.loadAsOf(spark, statsTable(name), gs)
          .select("n_docs", "tot_tok").head()
        (r.getLong(0), r.getLong(1))
      case None => trustedStats(spark, name)
    }
    require(nDocs > 0, "BM25 probe against an empty index")
    val avgdl = totTok.toDouble / nDocs.toDouble
    val pruned = pair
      .map { case (gp, _) =>
        graft.sources.Bucketed.loadAsOf(spark, postingsTable(name), gp) }
      .getOrElse(graft.sources.Bucketed.load(spark, postingsTable(name)))
      .filter(col("tok").isin(terms.toIndexedSeq: _*))
    val tf = filter.fold(pruned)(pruned.filter)
      .select("tok", "id", "tf", "dl")
      .localCheckpoint(eager = false) // feeds df AND the scoring rows
    val idf = broadcast(
      tf.groupBy("tok").agg(count(lit(1)).as("df"))
        .withColumn("idf_e6", Bm25.idfE6Col(nDocs, col("df")))
        .select("tok", "idf_e6"))
    val scored = tf.join(idf, "tok")
      .withColumn("w_e6",
        Bm25.wE6Col(col("idf_e6"), col("tf"), col("dl"), avgdl))
      .join(broadcast(qt), Seq("tok"))
      .groupBy("query_id", "id")
      .agg(sum("w_e6").as("score_e6"), count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_e6").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("doc_id"), col("score_e6"),
        col("n_terms"), col("rank"))
  }

  /** N/tot_tok from the stats row, AFTER validating its bound
    * generation against the live postings generation — the
    * self-validation that turns the two-table crash window from
    * "silently drifted idf" into "detected, healed, served". One
    * heal attempt; a persistent mismatch (a mutation racing the
    * repair) fails loudly rather than serve numbers of unknown
    * vintage. */
  private def trustedStats(spark: SparkSession, name: String): (Long, Long) = {
    val (n0, tot0, pgen0) = statsOf(spark, name)
    val live0 = postingsGen(spark, name)
    if (pgen0 == live0) (n0, tot0)
    else {
      repairStats(spark, name)
      val (n1, tot1, pgen1) = statsOf(spark, name)
      val live1 = postingsGen(spark, name)
      require(pgen1 == live1,
        s"BM25 stats for '$name' still bound to postings generation " +
          s"$pgen1 after repair (live: $live1) — a mutation is racing " +
          "this probe; retry when the index is quiescent")
      (n1, tot1)
    }
  }
}
