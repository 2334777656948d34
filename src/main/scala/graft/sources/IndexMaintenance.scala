package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE implementation of the content-derived delete/compact plumbing
  * all four incremental index families share
  * ([[graft.text.IncrementalDedup]] band index,
  * [[graft.sim.IncrementalAnn]] full-vector inverted lists,
  * [[graft.sim.IncrementalPq]] code postings,
  * [[graft.text.IncrementalBm25]] term postings). Each family's
  * deleteFromIndex recomputes the deleted rows' POSTING KEYS from
  * content (bands / nearest centroid / coarse assignment / tokens) so
  * the affected buckets are known WITHOUT scanning the index, then
  * rewrites only those buckets anti-joining the ids out — the
  * O(touched buckets), never O(index), deletion doctrine. The four
  * families previously repeated the bucket-id collect + rewrite +
  * dropDuplicates shape verbatim; one copy means an invariant fixed
  * here (e.g. the dropDuplicates that heals append-replay rows during
  * the rewrite) is fixed for every family at once.
  *
  * The anti-join transform is idempotent and duplicate-tolerant — the
  * [[Bucketed.rewriteBuckets]] replay contract — and `dropDuplicates`
  * on the survivors also heals at-least-once append-replay duplicates
  * in the touched buckets for free. */
object IndexMaintenance {

  /** Rewrite exactly the buckets of `del`'s `bucketKeyCol` values
    * (`pmod(hash(key), buckets)` — Spark's own bucket function),
    * anti-joining `del`'s `idCol` values out of the table. `del` is
    * the content-derived posting projection of the deletion batch:
    * at minimum (bucketKeyCol, idCol), already deduplicated if the
    * caller's semantics need it. Returns buckets rewritten. */
  def deletePostings(del: DataFrame, table: String, buckets: Int,
                     bucketKeyCol: String, idCol: String): Int = {
    val spark = del.sparkSession
    import spark.implicits._
    val d = del.select(col(bucketKeyCol), col(idCol))
      .localCheckpoint(eager = false) // feeds bucket-id collect + join
    val bIds = d
      .select(pmod(hash(col(bucketKeyCol)), lit(buckets)).cast("int").as("b"))
      .distinct().as[Int].collect().toSet
    val ids = d.select(idCol).distinct()
    Bucketed.rewriteBuckets(spark, table, bIds,
      idx => idx.join(broadcast(ids), Seq(idCol), "left_anti")
        .dropDuplicates())
  }

  /** Periodic compaction of a posting-set table — delegates to
    * [[Bucketed.compactBuckets]] with dedup ON (every family's
    * postings are SETS; dedup-on-rewrite heals append-replay
    * duplicates). Families with side state to re-stamp (the BM25
    * stats generation binding) wrap this. */
  def compactPostings(spark: SparkSession, table: String,
                      maxFilesPerBucket: Int = 4): Int =
    Bucketed.compactBuckets(spark, table, maxFilesPerBucket)

  /** Has exactly-once batch `tag` already committed into `table`?
    * The sentinel-row idempotency check shared by the families whose
    * rows cannot be content-deduplicated ([[graft.ops.IncrementalAgg]]
    * partials, [[graft.ops.IncrementalDistinct]] sketch rows): each
    * batch commits a sentinel (`is_tag`, `b` = tag) in the SAME
    * DataFrame — and therefore the SAME atomic manifest generation —
    * as its data rows, so a replayed batch finds its sentinel and
    * skips with no two-table crash window. One scan pruned to
    * sentinel rows (`is_tag` and `b` land in PushedFilters; sentinels
    * are O(batches) rows against row-group min/max skipping). */
  def tagApplied(spark: SparkSession, table: String,
                 tag: String): Boolean =
    Bucketed.load(spark, table)
      .filter(col("is_tag") && col("b") === tag)
      .take(1).nonEmpty

  /** `data` plus its exactly-once sentinel row — every column null
    * except `b` = tag and `is_tag` = true, so the sentinel commits in
    * the SAME DataFrame (and manifest generation) as the batch it
    * marks, whatever the family's schema. */
  def withSentinel(data: DataFrame, tag: String): DataFrame = {
    val row = data.sparkSession.range(1).select(
      data.schema.fields.map { f =>
        f.name match {
          case "b" => lit(tag).as("b")
          case "is_tag" => lit(true).as("is_tag")
          case n => lit(null).cast(f.dataType).as(n)
        }
      }.toIndexedSeq: _*)
    data.unionByName(row)
  }

  /** Per-list load profile of a posting table — the observability an
    * index that RUNS FOREVER needs to decide WHEN to pay a codebook
    * refresh ([[graft.sim.IncrementalAnn.refreshCodebook]] /
    * [[graft.sim.IncrementalPq.refreshFromVnIndex]]): as the corpus
    * drifts from the centroids it was trained on, vectors pile into
    * few inverted lists, probes over-read the fat lists, and recall
    * degrades — visible here as load skew long before either hurts.
    * Generic over the shared bucketed contract (key = centroid for
    * the vector/code families, band for the dedup index, tok for
    * BM25 — any posting key).
    *
    * Output: (key, n_postings, load_e6) with load_e6 =
    * floor(n · occupiedLists / total · 1e6) — 1,000,000 is a
    * perfectly balanced list, and the denominator is OCCUPIED lists
    * (a key with zero postings does not appear in a group-by; the
    * codebook-sized denominator would understate skew exactly when it
    * is worst). One partial-agg shuffle over the index + a broadcast
    * 1-row scalar fold — no collect, no window; the e6 quantization
    * follows the house floor(x·1e6) doctrine so the profile is
    * oracle-replayable. */
  /** What [[maintainIfNeeded]] did and what it saw: buckets compacted
    * (0 = file counts were healthy), whether the refresh hook ran,
    * whether skew crossed the threshold with NO hook to run (the
    * operator's page-me signal), and the measured inputs. */
  final case class MaintenanceDecision(compactedBuckets: Int,
                                       refreshed: Boolean,
                                       refreshNeeded: Boolean,
                                       measuredMaxFilesPerBucket: Int,
                                       maxLoadE6: Long)

  /** The AUTO-MAINTENANCE policy over the two health signals an index
    * that runs forever emits, with documented thresholds:
    *
    *  1. per-bucket FILE COUNT (metadata-only — bucket ids parse from
    *     the manifest's file names, no scan): append-per-batch grows
    *     O(batches) files per bucket; above `maxFilesPerBucket` the
    *     postings compact ([[compactPostings]] — which also dedups
    *     replay rows, so the skew measurement below is not inflated
    *     by duplicates);
    *  2. per-LIST load skew ([[listLoadProfile]] — one partial-agg
    *     scan): load_e6 = 1,000,000 is a perfectly balanced list;
    *     above `skewThresholdE6` (default 4×: the fattest list
    *     carries 4× its fair share — probes over-read it and recall
    *     sags) the index needs a codebook refresh, which is
    *     FAMILY-SPECIFIC (reassign for the vector index, re-encode
    *     from the companion for PQ) and therefore arrives as the
    *     `refresh` callback. A balanced, compact index is a no-op.
    *
    * With no callback the skew verdict still lands in the decision
    * (`refreshNeeded`) — detection must not be silently coupled to
    * having wired the cure. Thresholds are per-call so a family can
    * tighten them (PQ's double-count sensitivity → lower
    * maxFilesPerBucket). */
  def maintainIfNeeded(spark: SparkSession, table: String,
                       keyCol: String = "centroid",
                       maxFilesPerBucket: Int = 4,
                       skewThresholdE6: Long = 4000000L,
                       refresh: Option[() => Unit] = None): MaintenanceDecision = {
    val maxFiles = Bucketed.resolveGeneration(spark, table).files
      .flatMap(f => Bucketed.bucketIdOfName(f.getPath.getName))
      .groupBy(identity).values.map(_.size).maxOption.getOrElse(0)
    val compacted =
      if (maxFiles > maxFilesPerBucket)
        compactPostings(spark, table, maxFilesPerBucket)
      else 0
    val maxLoad = listLoadProfile(spark, table, keyCol)
      .agg(coalesce(max("load_e6"), lit(0L))).head().getLong(0)
    val skewed = maxLoad > skewThresholdE6
    if (skewed) refresh.foreach(_.apply())
    MaintenanceDecision(compacted, refreshed = skewed && refresh.isDefined,
      refreshNeeded = skewed && refresh.isEmpty,
      measuredMaxFilesPerBucket = maxFiles, maxLoadE6 = maxLoad)
  }

  /** What [[maintainTableIfNeeded]] did and what it saw: buckets
    * compacted (0 = file counts healthy), files vacuumed + manifests
    * dropped (0/0 = debris under the bound), whether the stats
    * sidecar was stamped (false = it already covered the head), the
    * measured inputs, plus the history-driven outputs: commits the
    * history showed since the last policy vacuum, history records
    * folded this pass, and `pairRefreshNeeded` — the table's pair
    * pointer lags its head by the alert bound or more (a writer died
    * inside a pair commit's window; run the family's commitPair once
    * no batch is in flight — the policy only ever SURFACES this, the
    * pointer cannot tell a crashed re-stamp from an in-flight
    * batch). */
  final case class TableMaintenanceDecision(compactedBuckets: Int,
                                            vacuumedFiles: Int,
                                            droppedManifests: Int,
                                            stampedStats: Boolean,
                                            measuredMaxFilesPerBucket: Int,
                                            unreferencedFiles: Int,
                                            commitsSinceVacuum: Long = 0L,
                                            historyFolded: Int = 0,
                                            pairRefreshNeeded: Boolean = false)

  /** [[maintainIfNeeded]]'s sibling for governed DATA tables — the
    * policy over the health signals [[Bucketed.describe]] already
    * measures, so a table that accumulates files per bucket and
    * crash debris gets acted on, not just observed. Three signals,
    * all metadata-only to MEASURE (one dir listing + manifest/sidecar
    * parses — the decision scan is poll-safe):
    *
    *  1. per-bucket FILE COUNT: append-per-batch grows O(batches)
    *     files per bucket; above `maxFilesPerBucket` the table
    *     compacts ([[Bucketed.compactBuckets]] with `dedupRows`
    *     OFF by default — a DATA table may hold legitimate duplicate
    *     rows, unlike the posting families' sets);
    *  2. UNREFERENCED files (on disk, listed by NO retained
    *     generation — crash orphans and beyond-window retired files):
    *     above `maxUnreferencedFiles` the table vacuums AT ITS OWN
    *     retention setting, so promised time-travel history is never
    *     shortened by the policy — only true debris dies;
    *  3. stats SIDECAR lag: a sidecar behind the head means the next
    *     cold reader pays the new files' footer opens; stamping
    *     ([[FileStats.statsOf]]) moves that onto this maintenance
    *     pass. Commits never write the sidecar (the first reader
    *     after one does), so this pass keeps it current before a
    *     reader arrives.
    *
    * Plus three HISTORY-DRIVEN signals (round 14 — the policy reads
    * [[Bucketed.history]] and [[Bucketed.describe]]'s pairLag and
    * ACTS, closing the "observability exists but cadence is manual"
    * gap):
    *
    *  4. commit CADENCE: a `_graft_maint` marker remembers the head
    *     generation at the last policy vacuum; once the history shows
    *     `vacuumEveryCommits` commits past it the table vacuums (at
    *     its own retention) even below the debris bound — retired
    *     in-place files of long-running tables collect on a bounded
    *     cadence instead of waiting for the debris count to spike.
    *     The vacuum itself keeps every safety guard (torn-newer-
    *     manifest in-flight skip, valid-manifests-only window);
    *  5. history FOLDING: more than `maxLooseHistory` loose audit
    *     records fold into one file ([[Bucketed.foldHistory]]) so the
    *     audit dir stays bounded on run-forever tables;
    *  6. pair-pointer LAG: `pairLag >= pairLagAlert` (default 2 — at
    *     3+ probes start failing the retention-3 read) surfaces as
    *     `pairRefreshNeeded`. Surfaced, never auto-fixed: the pointer
    *     alone cannot distinguish a crashed re-stamp from an
    *     in-flight batch, so only a caller that KNOWS no batch is in
    *     flight may run the family's commitPair.
    *
    * A healthy table is a no-op on all six. Single-maintenance-
    * writer contract applies (compaction and vacuum are maintenance
    * ops): run this from the process that owns the table's
    * maintenance. */
  def maintainTableIfNeeded(spark: SparkSession, table: String,
                            maxFilesPerBucket: Int = 4,
                            maxUnreferencedFiles: Int = 64,
                            dedupRows: Boolean = false,
                            vacuumEveryCommits: Long = 32L,
                            maxLooseHistory: Int = 32,
                            pairLagAlert: Long = 2L): TableMaintenanceDecision = {
    val st = Bucketed.describe(spark, table)
    // ONE file listing serves both the bucket-profile signal and the
    // head generation the lag check compares against (describe cannot
    // expose per-bucket file names); sidecarGeneration adds one
    // sidecar-name listing — the healthy-path decision scan is those
    // two resolutions, nothing per-file
    val head0 = Bucketed.resolveGeneration(spark, table)
    val maxFiles = head0.files
      .flatMap(f => Bucketed.bucketIdOfName(f.getPath.getName))
      .groupBy(identity).values.map(_.size).maxOption.getOrElse(0)
    // the cadence signal: commits the history shows past the head
    // generation the last policy vacuum stamped (first run counts the
    // whole history — a long-lived table gets its first sweep now).
    // Driver-side off the parsed records: the decision scan must stay
    // cheap enough to poll — no Spark job for a count of tiny files
    val lastMaint = Follow.readBookmark(spark, table, MaintName,
      MaintMagic).getOrElse(Long.MinValue)
    val commitsSince = Bucketed.historyRecords(spark, table)
      .count(_._1 > lastMaint).toLong
    // vacuum BEFORE compacting: the compaction's own reconcile pass
    // would silently consume the measured debris, and the explicit
    // vacuum is what also collects beyond-window retired files
    val (dropped, vacuumed) =
      if (st.unreferencedFiles > maxUnreferencedFiles ||
          commitsSince >= vacuumEveryCommits) {
        val r = Bucketed.vacuum(spark, table, retain = st.retention)
        // the marker advances even when the sweep was skipped (torn
        // newer manifest): the guard's debris collects one commit
        // later via the debris signal — re-vacuuming every pass until
        // then would just re-pay the decision scan
        Follow.writeBookmark(spark, table, MaintName, MaintMagic,
          st.generation)
        r
      } else (0, 0)
    val folded = Bucketed.foldHistory(spark, table,
      ifMoreThan = maxLooseHistory)
    val compacted =
      if (maxFiles > maxFilesPerBucket)
        Bucketed.compactBuckets(spark, table, maxFilesPerBucket,
          dedupRows)
      else 0
    // the lag check runs against the CURRENT head: re-resolved only
    // when an op above actually advanced it, otherwise the listing
    // already read serves
    val head =
      if (compacted > 0 || vacuumed > 0)
        Bucketed.currentGeneration(spark, table)
      else head0.gen
    val lagging =
      !FileStats.sidecarGeneration(spark, table).contains(head)
    if (lagging) { FileStats.statsOf(spark, table); () }
    TableMaintenanceDecision(compacted, vacuumed, dropped,
      stampedStats = lagging, measuredMaxFilesPerBucket = maxFiles,
      unreferencedFiles = st.unreferencedFiles,
      commitsSinceVacuum = commitsSince, historyFolded = folded,
      pairRefreshNeeded = st.pairLag.exists(_ >= pairLagAlert))
  }

  private val MaintName = "_graft_maint"
  private val MaintMagic = "graft-maint-v1"

  // ---- indexes as maintained views of governed tables ------------------

  private val FollowMagic = "graft-follow-v1"
  private val FollowBookmark = "_graft_follow_src"
  private val FollowIntent = "_graft_follow_intent"

  /** A family's three apply primitives, as [[refreshFromSource]]
    * needs them. `applyDeletes` MUST be idempotent (every family's
    * deleteFromIndex is: content-derived buckets, anti-join by id,
    * verified stats retreat). `applyInserts` may be plain append —
    * the intent-scrub protocol makes its replay exact. `scrubPair`
    * runs ONLY on a crash retry whose intent tag matches the pair:
    * it must remove BOTH the pair's deleted rows' postings and any
    * partially-appended insert postings, then restore exact side
    * state (BM25: repairStats) — cost on the crash path only. */
  final case class FollowerHooks(applyDeletes: DataFrame => Unit,
                                 applyInserts: DataFrame => Unit,
                                 scrubPair: (DataFrame, DataFrame) => Unit)

  /** Bind `host` (an index's governed postings table) as a FOLLOWER
    * of governed `source` at `gen` — written by the family's
    * create-from-source wrapper right after its fresh build. */
  def bindFollower(spark: SparkSession, host: String, gen: Long): Unit =
    Follow.writeBookmark(spark, host, FollowBookmark, FollowMagic, gen)

  /** The follower's current bookmark (observability + specs). */
  def followerBookmark(spark: SparkSession,
                       host: String): Option[Long] =
    Follow.readBookmark(spark, host, FollowBookmark, FollowMagic)

  /** How many generations `host`'s bookmark lags `source`'s head —
    * the follower tier's pairLag analogue: 0 = caught up, n > 0 = n
    * unpropagated source commits (run the family's
    * refreshFromSource), None = not a bound follower. Two marker/
    * manifest reads, no data touched — poll-safe. A monitoring loop
    * alerts when the lag approaches the SOURCE's retention setting:
    * behind the window the refresh fails loudly and the index must
    * rebuild. */
  def followerLag(spark: SparkSession, source: String,
                  host: String): Option[Long] =
    followerBookmark(spark, host)
      .map(bm => Bucketed.currentGeneration(spark, source) - bm)

  /** Bring an index up to its governed SOURCE table's head — the
    * changed-only propagation the view families already have
    * ([[graft.ops.Ivm]]), applied to the index tier: a `mergeByKey` /
    * append / keyed delete on a governed corpus table propagates to
    * its BM25/ANN/band indexes through ONE call, instead of the
    * caller dual-writing every index (the bug class the view layer
    * eliminated for aggregates and joins). Per consecutive retained
    * generation pair ([[Follow.walkPairs]] — bookmark after each
    * pair): the pair's delta splits into delete rows (old content)
    * and insert rows (new content); deletes apply first (an updated
    * key arrives as delete+insert — old postings must leave before
    * new ones land), inserts append after.
    *
    * EXACTLY-ONCE per pair via the INTENT-SCRUB protocol, because the
    * families' appends are not idempotent (a replayed append lands
    * duplicate postings and double-counted stats): a durable intent
    * tag (`x-y`) is written AFTER the pair's deletes and BEFORE its
    * append; the bookmark advances after the append. A retry that
    * finds the CURRENT pair's tag knows the append may have landed
    * and scrubs first (`scrubPair`: delete the pair's insert ids by
    * their content-derived buckets — removing any partial append —
    * re-apply the deletes, restore exact side state), then re-appends.
    * A stale tag from an EARLIER pair (crash between bookmark write
    * and tag clear) never matches the current pair and is simply
    * overwritten. Steady-state cost is therefore PURE DELTA (deletes'
    * touched buckets + the append); the scrub only ever runs on a
    * genuine crash retry. Torn tag writes parse as absent — safe,
    * because the writer only appends after its tag PUT returned, so a
    * torn tag proves no append was committed under it.
    *
    * Single-maintenance-writer contract applies (this IS index
    * maintenance). The source must retain generations back to the
    * bookmark. `host` is ONE governed postings table — the wired
    * families are BM25, ANN, and the MinHash band index; the
    * PAIR-GOVERNED family ([[graft.sim.IncrementalPq]]'s codes+vn
    * twin tables) is deliberately NOT a follower: its batch protocol
    * must end with commitPair across both tables, which this
    * single-host walk cannot express — use its streamAppend path.
    * Returns the fold head. Reference: changed-only propagation,
    * razu/edepot.py:87-106. */
  def refreshFromSource(spark: SparkSession, source: String,
                        host: String, hooks: FollowerHooks): Long = {
    val head = Follow.walkPairs(spark, source, host, FollowBookmark,
      FollowMagic, s"index $host", "bind/create-from-source") { (x, y) =>
      val delta = Bucketed.diffGenerations(spark, source, x, y)
        .localCheckpoint(eager = false) // one eval feeds both halves
      val dels = delta.filter(col("change") === "delete").drop("change")
      val ins = delta.filter(col("change") === "insert").drop("change")
      val pairTag = s"$x-$y"
      if (Follow.readTag(spark, host, FollowIntent, FollowMagic)
            .contains(pairTag))
        hooks.scrubPair(dels, ins)
      else if (!dels.isEmpty) hooks.applyDeletes(dels)
      Follow.writeTag(spark, host, FollowIntent, FollowMagic, pairTag)
      if (!ins.isEmpty) hooks.applyInserts(ins)
    }
    // hygiene only — a stale tag never matches a later pair
    Follow.clearTag(spark, host, FollowIntent)
    head
  }

  def listLoadProfile(spark: SparkSession, table: String,
                      keyCol: String = "centroid"): DataFrame = {
    val counts = Bucketed.load(spark, table)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("n_postings"))
    val totals = counts.agg(
      sum("n_postings").cast("double").as("__total"),
      count(lit(1)).cast("double").as("__lists"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("n_postings"),
        floor(col("n_postings").cast("double") * col("__lists")
          / col("__total") * lit(1000000.0)).cast("long").as("load_e6"))
  }
}
