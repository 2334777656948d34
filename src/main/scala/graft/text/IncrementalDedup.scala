package graft.text

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{GateMetrics, Streaming}

/** Index-and-probe incremental near-duplicate detection — the operator a
  * CONTINUOUSLY-INGESTING corpus actually runs. The whole-corpus batch
  * dedup ([[Dedup.minhashCandidatePairs]], razulibs' batch-pipeline
  * shape) rescans and re-signs everything per run; at 100 TB the steady
  * state is instead: sign the corpus ONCE into a persisted MinHash band
  * index, then for each arriving shard sign only the shard, join it
  * against the index, and append the shard's bands so the index stays
  * current.
  *
  * Index layout (via [[graft.sources.Bucketed]]): a managed parquet
  * table of (bkey, doc) rows — bkey carries the band id and the band's
  * signature slice in one string — bucketed AND sorted on `bkey`.
  * Single-column bucketing is deliberate, it buys two plans:
  *
  *   - the probe join needs no Exchange on the index side — the scan's
  *     HashPartitioning(bkey) satisfies the join's clustered
  *     distribution, so only the (small) shard's bands shuffle
  *     (BucketedSpec-style plan pin in IncrementalDedupSpec);
  *   - a small shard's distinct bkey set pushes down as an `isin`
  *     filter, and Spark BUCKET-PRUNES the index scan (
  *     `SelectedBucketsCount` < total) — the probe reads only the
  *     index buckets that can contain a match, sub-linear in the index.
  *
  * The index holds bands, never text: ~tens of bytes per (doc, band) vs
  * the documents themselves, and probing never recomputes a corpus
  * signature. A degenerate bkey (boilerplate) yields genuinely many
  * candidates — that is corpus skew, not a plan defect; AQE's skew-join
  * handles the partition split, and candidate consumers (keep-first /
  * components) are cap-aware downstream.
  */
object IncrementalDedup {

  /** (bkey, doc) band rows; bkey = "<band>_<signature slice>" — the
    * band id is FOLDED INTO the key so the probe join has exactly one
    * equi-key. Spark only treats a bucketed side as co-partitioned when
    * the bucket columns cover ALL the join's cluster keys
    * (requireAllClusterKeysForCoPartition) — a separate band column
    * would force a full re-shuffle of the index. */
  private def bandsOf(docs: DataFrame, textCol: String, idCol: String,
                      k: Int, numHashes: Int, bands: Int): DataFrame =
    Dedup.lshBands(docs, textCol, idCol, k, numHashes, bands,
        portable = true)
      .select(concat_ws("_", col("band"), col("band_key")).as("bkey"),
        col("doc"))

  /** Sign `corpus` and (re)build the persistent band index table. One
    * signature pass + one bucket-write shuffle — paid once, not per
    * probe. `batchTagged = true` adds a `batch` provenance column
    * (seed rows get -1) — the storage the opt-in cross-batch
    * re-arrival guard pays (see [[gateBatch]]'s ID CONTRACT); leave it
    * off for pipelines that uphold the contract upstream. */
  def buildIndex(corpus: DataFrame, table: String, buckets: Int,
                 textCol: String = "text", idCol: String = "doc_id",
                 k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 batchTagged: Boolean = false): Unit = {
    val b = bandsOf(corpus, textCol, idCol, k, numHashes, bands)
    graft.sources.Bucketed.save(
      if (batchTagged) b.withColumn("batch", lit(-1L)) else b,
      table, Seq("bkey"), buckets)
  }

  /** Append a new shard's bands to the index (same bucket spec — the
    * bucketed-table contract keeps the co-located join valid). Call
    * AFTER probing the shard so the shard does not match itself. */
  def appendToIndex(newDocs: DataFrame, table: String, buckets: Int,
                    textCol: String = "text", idCol: String = "doc_id",
                    k: Int = 3, numHashes: Int = 16, bands: Int = 4): Unit =
    graft.sources.Bucketed.save(
      bandsOf(newDocs, textCol, idCol, k, numHashes, bands),
      table, Seq("bkey"), buckets, mode = SaveMode.Append)

  /** Remove documents from the index at O(touched buckets), not
    * O(index) — the right-to-erasure primitive a run-forever gate
    * needs. The deleted docs' band rows are recomputed from their text
    * (same signature arithmetic as the build, so their bkeys — and
    * with them the affected bucket ids, via the bucket function
    * `pmod(hash(bkey), buckets)` — are known without scanning the
    * index), and ONLY those buckets are rewritten, anti-joining the
    * deleted ids out. The driver holds one bucket-id set bounded by
    * `bands × |docs|` distinct keys but CAPPED at `buckets`; the id
    * set itself stays distributed (broadcast anti-join — sized for
    * erasure-request batches, i.e. up to millions of ids; a bulk
    * purge of a large corpus fraction should rebuild the index
    * instead, one bucket-write shuffle). dropDuplicates in the
    * rewrite keeps the op idempotent and heals duplicate postings
    * left by an at-least-once append replay. Returns the number of
    * buckets rewritten. */
  def deleteFromIndex(docs: DataFrame, table: String, buckets: Int,
                      textCol: String = "text", idCol: String = "doc_id",
                      k: Int = 3, numHashes: Int = 16,
                      bands: Int = 4): Int =
    graft.sources.IndexMaintenance.deletePostings(
      bandsOf(docs, textCol, idCol, k, numHashes, bands),
      table, buckets, bucketKeyCol = "bkey", idCol = "doc")

  /** Build the band index over governed `source`'s current head and
    * bind it as its FOLLOWER ([[refreshFromSource]]) — the
    * maintained-view create for the near-dup tier. Untagged layout:
    * the cross-batch re-arrival guard is the STREAM gate's concern; a
    * followed index's provenance is its source's generations. Returns
    * the bookmarked generation. */
  def createFromSource(spark: SparkSession, source: String,
                       table: String, buckets: Int,
                       textCol: String = "text",
                       idCol: String = "doc_id", k: Int = 3,
                       numHashes: Int = 16, bands: Int = 4): Long = {
    val gen = graft.sources.Bucketed.currentGeneration(spark, source)
    buildIndex(graft.sources.Bucketed.loadAsOf(spark, source, gen),
      table, buckets, textCol, idCol, k, numHashes, bands)
    graft.sources.IndexMaintenance.bindFollower(spark, table, gen)
    gen
  }

  /** Bring the band index up to its governed source table's head —
    * the [[graft.sources.IndexMaintenance.refreshFromSource]]
    * protocol with this family's primitives: pair deletes →
    * [[deleteFromIndex]] (band keys recomputed from content name the
    * buckets — idempotent anti-join), pair inserts →
    * [[appendToIndex]], and the crash-retry scrub = delete BOTH
    * halves by content (band assignment is deterministic per text, so
    * the scrub names exactly the partially-appended rows' buckets; no
    * side state to repair). Signature params must match the build's.
    * Returns the fold head. */
  def refreshFromSource(spark: SparkSession, source: String,
                        table: String, buckets: Int,
                        textCol: String = "text",
                        idCol: String = "doc_id", k: Int = 3,
                        numHashes: Int = 16, bands: Int = 4): Long =
    graft.sources.IndexMaintenance.refreshFromSource(spark, source,
      table, graft.sources.IndexMaintenance.FollowerHooks(
        applyDeletes = d =>
          { deleteFromIndex(d, table, buckets, textCol, idCol, k,
              numHashes, bands); () },
        applyInserts = i => appendToIndex(i, table, buckets, textCol,
          idCol, k, numHashes, bands),
        scrubPair = (d, i) => {
          deleteFromIndex(d, table, buckets, textCol, idCol, k,
            numHashes, bands)
          deleteFromIndex(i, table, buckets, textCol, idCol, k,
            numHashes, bands)
          ()
        }))

  /** Candidate (new_doc, corpus_doc) near-dup pairs of a new shard
    * against the persisted index — WITHOUT rescanning or re-signing the
    * corpus. When the shard's distinct bkey count is at most
    * `pruneKeys`, the key set (bounded driver state) is pushed onto the
    * index scan as an `isin` filter so bucket pruning + row-group
    * min/max skipping (the index is sorted on bkey) cut the read to
    * the matching buckets; larger shards fall back to the full
    * co-located join, still Exchange-free on the index side. The
    * default cap is deliberately small: every pushed key becomes a
    * literal in the scan filter, and Catalyst's optimizer passes walk
    * that expression — thousands of literals cost SECONDS of pure
    * planning (measured at 6.6k keys), far more than the scan they
    * save on any but a huge index. */
  def probe(spark: SparkSession, newDocs: DataFrame, table: String,
            textCol: String = "text", idCol: String = "doc_id",
            k: Int = 3, numHashes: Int = 16, bands: Int = 4,
            pruneKeys: Int = 512): DataFrame = {
    val nb = bandsOf(newDocs, textCol, idCol, k, numHashes, bands)
      .select(col("bkey").as("n_key"), col("doc").as("new_doc"))
      // the shard's bands feed the key-collect AND the join — sign once
      .localCheckpoint(eager = false)
    val idx0 = graft.sources.Bucketed.load(spark, table)
    val idx =
      if (pruneKeys > 0) {
        val keys = nb.select("n_key").distinct().limit(pruneKeys + 1)
          .collect().map(_.getString(0))
        if (keys.length <= pruneKeys)
          idx0.filter(col("bkey").isin(keys.toIndexedSeq: _*))
        else idx0
      } else idx0
    idx.join(nb, idx("bkey") === nb("n_key") &&
        col("doc") =!= col("new_doc"))
      .select(col("new_doc"), col("doc").as("corpus_doc"))
      .distinct()
  }

  /** The shard rows with no near-dup candidate in the index — the
    * "keep only novel documents" decision, one left-anti join. */
  def novel(spark: SparkSession, newDocs: DataFrame, table: String,
            textCol: String = "text", idCol: String = "doc_id",
            k: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val hits = probe(spark, newDocs, table, textCol, idCol,
        k, numHashes, bands)
      .select(col("new_doc").as(idCol)).distinct()
    newDocs.join(hits, Seq(idCol), "left_anti")
  }

  /** One micro-batch of the continuous novel-docs gate: a batch doc is
    * KEPT iff it has (a) no band match in the index and (b) no band
    * match to a SMALLER-id doc within the same batch (the q24
    * bucket-keepFirst rule — a doc sharing a bucket with a smaller id
    * is dominated whether or not that smaller doc itself survives;
    * single anti-join, no intra-batch recursion). Kept docs' bands are
    * APPENDED to the index so later batches dedup against them; dropped
    * docs never enter the index, so a dup-of-a-dropped-doc survives
    * unless it also matches something kept — the standard online-LSH
    * trade, and what the unrolled q130 oracle replays step for step.
    *
    * ID CONTRACT: `idCol` is an identity — a given id arrives in at
    * most ONE batch. Only same-batch redelivery (foreachBatch's
    * at-least-once replay of an identical batch) is absorbed, via the
    * self-exclusion below. A pipeline that re-sends an already-kept id
    * in a LATER batch violates the contract, and by default the
    * violation leaks: the re-arrival's only index match is its own
    * posting, which the self-exclusion ignores, so the doc is kept
    * twice (two batch dirs). Distinguishing replay from genuine
    * re-arrival needs batch ids stored per posting — the OPT-IN
    * `reArrivalGuard` pays exactly that storage (a `batch` column on
    * the index, [[buildIndex]]'s `batchTagged`): with the current
    * batch id passed in, an own-id match from a DIFFERENT batch counts
    * as an index hit (the re-sent doc drops, emitted once in its
    * original batch) while same-batch matches stay excluded (replay
    * keeps its identical kept set). The guard detects re-DELIVERY of
    * the same content — an id REUSED for different content changes the
    * bands, may miss its own posting entirely, and is an id-collision
    * bug no content-keyed index can catch. IncrementalDedupSpec pins
    * the default leak AND the guarded behavior.
    *
    * Exposed for the spec; the streaming form is [[streamNovel]]. */
  private[graft] def gateBatch(batch: DataFrame, table: String,
                               buckets: Int, textCol: String, idCol: String,
                               k: Int, numHashes: Int, bands: Int,
                               reArrivalGuard: Option[Long] = None): DataFrame =
    gateBatchFull(batch, table, buckets, textCol, idCol,
      k, numHashes, bands, withMetrics = false,
      reArrivalGuard = reArrivalGuard)._1

  /** [[gateBatch]], optionally with its [[GateMetrics]], counted from
    * the very DataFrames the verdict used — the two drop-set counts
    * cost two extra small jobs, so they are opt-in. */
  private[graft] def gateBatchFull(batch: DataFrame, table: String,
                                   buckets: Int, textCol: String, idCol: String,
                                   k: Int, numHashes: Int, bands: Int,
                                   withMetrics: Boolean,
                                   reArrivalGuard: Option[Long] = None
                                  ): (DataFrame, Option[GateMetrics]) = {
    val spark = batch.sparkSession
    val nb = bandsOf(batch, textCol, idCol, k, numHashes, bands)
      .localCheckpoint(eager = false) // feeds 3 joins — sign once
    val idx = graft.sources.Bucketed.load(spark, table)
    reArrivalGuard.foreach { _ =>
      require(idx.columns.contains("batch"),
        "reArrivalGuard needs a batch-tagged index — build it with " +
          "buildIndex(..., batchTagged = true)")
    }
    // `idx.doc =!= nb.doc` makes the gate idempotent under foreachBatch's
    // at-least-once replay: if the batch crashed AFTER its kept docs'
    // bands were appended but BEFORE the checkpoint committed, the
    // replayed batch finds its own bands in the index — without the
    // exclusion every previously-kept doc would match ITSELF, kept would
    // come back empty, and the batch=<id> overwrite would silently drop
    // the data. With it, replay reproduces the identical kept set: a
    // kept doc can't match itself, and kept docs of one batch never
    // share a bkey (internalHit dropped one of any such pair), so the
    // re-appended bands change no verdict. The opt-in guard narrows the
    // exclusion to SAME-BATCH own-postings: an own-id match from an
    // earlier batch is a genuine re-arrival and counts as a hit.
    val ownExcl = reArrivalGuard match {
      case Some(bid) => idx("doc") =!= nb("doc") || idx("batch") =!= lit(bid)
      case None => idx("doc") =!= nb("doc")
    }
    // NO distinct() on the drop sets (round 15): they feed a left-anti
    // join, whose semantics ignore right-side duplicates — each
    // distinct was a full aggregation exchange paid per micro-batch
    // for nothing. The opt-in metrics below apply distinct themselves
    // (their counts are defined over distinct hit docs, unchanged).
    val idxHit = idx.join(nb, idx("bkey") === nb("bkey") && ownExcl)
      .select(nb("doc").as(idCol))
    val a = nb.select(col("bkey"), col("doc").as("__a"))
    val b = nb.select(col("bkey"), col("doc").as("__b"))
    val internalHit = a.join(b, Seq("bkey"))
      .filter(col("__a") < col("__b"))
      .select(col("__b").as(idCol))
    val kept = batch
      .withColumn(idCol, col(idCol).cast("long"))
      .join(idxHit.unionByName(internalHit), Seq(idCol), "left_anti")
      .localCheckpoint(eager = false) // read for append AND for output
    // append the kept docs' bands by FILTERING the already-computed
    // batch bands — re-signing the kept docs would double the per-batch
    // signature pass; canonical (bkey, doc) order for the by-name append
    val metrics =
      if (withMetrics)
        Some(GateMetrics(batch.count(), kept.count(),
          idxHit.distinct().count(), internalHit.distinct().count()))
      else None
    val keptBands = nb.join(kept.select(col(idCol).as("doc")), Seq("doc"))
      .select(col("bkey"), col("doc"))
    // a batch-tagged index gated WITHOUT the guard still appends a tag
    // (-1, the seed value) so the append's schema matches — and a
    // later GUARDED batch correctly treats those rows as
    // different-batch postings
    val tagVal = reArrivalGuard
      .orElse(if (idx.columns.contains("batch")) Some(-1L) else None)
    graft.sources.Bucketed.save(
      tagVal.fold(keptBands)(bid =>
        keptBands.withColumn("batch", lit(bid))),
      table, Seq("bkey"), buckets, mode = SaveMode.Append)
    (kept, metrics)
  }

  /** Continuous-ingest near-dup gate (the shape a 100 TB pipeline runs
    * FOREVER): seed the index with [[buildIndex]], then for every
    * arriving micro-batch [[gateBatch]] keeps only novel docs, writes
    * them to `outDir`, and appends their bands — each batch deduped
    * against the corpus AND every previously-kept doc without ever
    * rescanning either. Returns the kept docs. Per batch: sign the
    * batch, one co-located index join, one self band join, one
    * bucketed append — O(batch + matched buckets). The loop (output
    * per batch id, opt-in metrics, compaction cadence) is
    * [[Streaming.gateLoop]].
    *
    * `checkpointDir`: see [[Streaming.runBatches]]. In
    * one-shot mode `dropReArrivals`' provenance domain is a single
    * invocation; a persistent checkpoint's monotonic batch ids make the
    * re-arrival guard correct across restarts (an old id re-delivered
    * in a new file lands in a strictly newer batch than its posting's
    * tag). */
  def streamNovel(stream: DataFrame, table: String, buckets: Int,
                  outDir: String,
                  textCol: String = "text", idCol: String = "doc_id",
                  k: Int = 3, numHashes: Int = 16,
                  bands: Int = 4, compactEvery: Int = 8,
                  maxFilesPerBucket: Int = 4,
                  metricsDir: Option[String] = None,
                  dropReArrivals: Boolean = false,
                  checkpointDir: Option[String] = None): DataFrame =
    Streaming.gateLoop(stream, "gate", table, outDir,
        compactEvery, maxFilesPerBucket, metricsDir, checkpointDir) {
      (batch, id) =>
        gateBatchFull(batch, table, buckets, textCol, idCol, k, numHashes,
          bands, withMetrics = metricsDir.isDefined,
          reArrivalGuard = if (dropReArrivals) Some(id) else None)
    }
}
