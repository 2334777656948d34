package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized aggregate — the FIFTH index family beside
  * the band index ([[graft.text.IncrementalDedup]]), the vector
  * indexes ([[graft.sim.IncrementalAnn]]/[[graft.sim.IncrementalPq]])
  * and the BM25 postings ([[graft.text.IncrementalBm25]]): a grouped
  * aggregate (count, plus sum / min / max / avg of each of N
  * pre-quantized long measures) maintained under batch arrival
  * WITHOUT re-scanning the corpus. At 100 TB "refresh the per-key
  * rollup" must cost O(batch), not O(history) — the classic
  * delta-maintained materialized view.
  *
  * Layout (via [[graft.sources.Bucketed]], so the table gets the
  * generation-manifest commit + maintenance lock + cross-process CAS
  * for free): ONE table `<name>_partials` (g, b, cnt, retr, is_tag,
  * then s_i, mn_i, mx_i per measure i), bucketed AND sorted on the
  * group key `g`. The measure names are positional: the `valueCols`
  * order at build time fixes i, so a source-column rename cannot
  * silently reshape the stored schema. Each append lands the batch's
  * PARTIAL rows — one row per group in the batch, the map-side-combine
  * shape made durable — so a serve is a partial-row merge over
  * O(groups × batches-since-consolidation) rows, never a corpus scan,
  * and every measure is a pre-quantized LONG (the house
  * quantize-then-sum doctrine: long sums are order-independent, so
  * every merge is bit-deterministic). [[serve]] names its output
  * columns from the stored measure count.
  *
  * EXACTLY-ONCE appends, not at-least-once-plus-healing: each batch
  * carries a caller-chosen idempotency tag, written as a SENTINEL row
  * (`is_tag`, g null, b = tag) in the SAME DataFrame and therefore the
  * SAME atomic manifest commit as the batch's partial rows. A replayed
  * batch (foreachBatch at-least-once, an uncertain retry) finds its
  * sentinel and skips — and because sentinel and data commit together
  * there is no two-table crash window: either both landed or neither
  * did. This is stronger than the posting families' dedup-on-compact
  * healing because aggregate partials cannot be content-deduplicated
  * (two identical partial rows from two different batches are
  * legitimate; the same row replayed is not — only the tag can tell).
  *
  * Retraction: [[retract]] appends NEGATIVE (cnt, s_i) partials —
  * exact for count/sum/avg immediately — but min/max are not
  * retractable from partials (the retracted row may have HELD the
  * extremum), so retraction rows carry null min/max plus a `retr`
  * count and [[serve]] emits null min/max for any group with
  * outstanding retractions rather than a silently-stale bound.
  * [[repairGroups]] restores exactness at O(touched buckets): the
  * affected groups are named by the retraction batch itself (the
  * content-derived doctrine — no index scan), their partial rows are
  * replaced by fresh partials recomputed from the caller's surviving
  * raw rows, and the rewrite commits through one staged manifest swap.
  * Retracting rows that were never inserted is a caller-contract
  * violation (count/sum go wrong the way any ledger does); it is
  * detectable (negative n) and [[repairGroups]] heals it too.
  *
  * Consolidation: partial rows grow O(appended batches), so
  * [[consolidate]] merges each oversized bucket's data rows to one row
  * per group (b = "_"), preserving sentinel rows — file counts AND
  * row counts re-bound together, and the merge is idempotent (merging
  * merged rows is a no-op), the [[graft.sources.Bucketed]] replay
  * contract. Sentinels survive consolidation, so exactly-once holds
  * across it — the window the posting families document away does not
  * exist here.
  *
  * Serving is index-transparent and spec-pinned: after any lifecycle
  * ([[buildIndex]] → [[append]]* → [[retract]] → [[repairGroups]] →
  * [[consolidate]]), [[serve]] equals a plain groupBy over the
  * surviving raw rows, bit for bit (q154/q155 replay exactly that as
  * SQL). avg_e6 = floor(sum_q · 1e6 / n) follows the house floor(x·1e6)
  * doctrine so the division is oracle-replayable IEEE double math. */
object IncrementalAgg {

  private def partialsTable(name: String) = s"${name}_partials"

  /** The wide partials layout for `n` measures. */
  private def cols(n: Int): Seq[String] =
    Seq("g", "b", "cnt", "retr", "is_tag") ++
      (0 until n).flatMap(i => Seq(s"s_$i", s"mn_$i", s"mx_$i"))

  /** Per measure i: its sum / min / max aggregates over `v_i`. */
  private def measureAggs(n: Int): Seq[Column] =
    (0 until n).flatMap(i =>
      Seq(coalesce(sum(s"v_$i"), lit(0L)).as(s"s_$i"),
        min(s"v_$i").as(s"mn_$i"), max(s"v_$i").as(s"mx_$i")))

  /** `g` plus one LONG `v_i` per measure, selected from `df`. */
  private def measured(df: DataFrame, groupCol: String,
                       valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "at least one measure")
    df.select(col(groupCol).as("g") +: valueCols.zipWithIndex.map {
      case (c, i) => col(c).cast("long").as(s"v_$i") }: _*)
  }

  /** One partial row per group of `batch`, N measures wide — one
    * partial-agg shuffle over the batch only. Each `valueCols` entry
    * must already be a LONG-castable quantized measure (quantize
    * upstream — floor(x·100) cents, floor(x·1e6), …). */
  private def partialsOf(batch: DataFrame, groupCol: String,
                         valueCols: Seq[String], tag: String,
                         negate: Boolean): DataFrame = {
    val n = valueCols.size
    val p = measured(batch, groupCol, valueCols).groupBy("g")
      .agg(count(lit(1)).cast("long").as("n"), measureAggs(n): _*)
    val data =
      if (negate)
        p.select(col("g") +: lit(tag).as("b") +: (-col("n")).as("cnt") +:
          col("n").as("retr") +: lit(false).as("is_tag") +:
          (0 until n).flatMap(i =>
            Seq((-col(s"s_$i")).as(s"s_$i"),
              lit(null).cast("long").as(s"mn_$i"),
              lit(null).cast("long").as(s"mx_$i"))): _*)
      else
        p.select(col("g") +: lit(tag).as("b") +: col("n").as("cnt") +:
          lit(0L).as("retr") +: lit(false).as("is_tag") +:
          (0 until n).flatMap(i =>
            Seq(col(s"s_$i"), col(s"mn_$i"), col(s"mx_$i"))): _*)
    graft.sources.IndexMaintenance.withSentinel(data, tag)
      .select(cols(n).map(col): _*)
  }

  /** (Re)build the index from `base` as batch `tag` — one partial-agg
    * shuffle + one bucket write, O(base). The `valueCols` ORDER fixes
    * the measure indexes. */
  def buildIndex(base: DataFrame, name: String, buckets: Int,
                 groupCol: String, valueCols: Seq[String],
                 tag: String = "b0"): Unit =
    graft.sources.Bucketed.save(
      partialsOf(base, groupCol, valueCols, tag, negate = false),
      partialsTable(name), Seq("g"), buckets)

  /** Land batch `tag`'s partials unless the tag already committed
    * (shared sentinel check —
    * [[graft.sources.IndexMaintenance.tagApplied]]). */
  private def land(batch: DataFrame, name: String, buckets: Int,
                   groupCol: String, valueCols: Seq[String], tag: String,
                   negate: Boolean): Boolean =
    if (graft.sources.IndexMaintenance.tagApplied(batch.sparkSession,
        partialsTable(name), tag)) false
    else {
      graft.sources.Bucketed.save(
        partialsOf(batch, groupCol, valueCols, tag, negate),
        partialsTable(name), Seq("g"), buckets, mode = SaveMode.Append)
      true
    }

  /** Append batch `tag`'s partials — O(batch), exactly-once under
    * replay (see the object scaladoc). `valueCols` must match the
    * build's, in order. Returns false if the tag had already
    * committed (the batch was skipped). */
  def append(batch: DataFrame, name: String, buckets: Int,
             groupCol: String, valueCols: Seq[String],
             tag: String): Boolean =
    land(batch, name, buckets, groupCol, valueCols, tag, negate = false)

  /** Retract batch `tag`'s rows (previously inserted — the ledger
    * contract): count/sum/avg of every measure stay exact
    * immediately; the touched groups' extrema serve as null until
    * [[repairGroups]]. Exactly-once like [[append]]. */
  def retract(batch: DataFrame, name: String, buckets: Int,
              groupCol: String, valueCols: Seq[String],
              tag: String): Boolean =
    land(batch, name, buckets, groupCol, valueCols, tag, negate = true)

  /** Replace the affected groups' partial rows with fresh partials
    * recomputed from `raw` (the SURVIVING rows — post-retraction
    * truth), at O(touched buckets): `groups` (one `g` column, the
    * retraction batch's distinct groups — bounded, broadcast) names
    * the buckets via Spark's own bucket function; only those rewrite,
    * every measure recomputed in the one pass. Sentinel rows pass
    * through untouched, so exactly-once history survives the repair.
    * Idempotent and replay-safe — the
    * [[graft.sources.Bucketed.rewriteBuckets]] contract. Returns
    * buckets rewritten. */
  def repairGroups(spark: SparkSession, name: String, buckets: Int,
                   raw: DataFrame, groupCol: String,
                   valueCols: Seq[String], groups: DataFrame): Int = {
    import spark.implicits._
    val n = valueCols.size
    val g = groups.select(col(groups.columns.head).as("g")).distinct()
      .localCheckpoint(eager = false) // feeds bucket-id collect + joins
    val bIds = g.select(pmod(hash(col("g")), lit(buckets)).cast("int").as("p"))
      .distinct().as[Int].collect().toSet
    // group matches are NULL-SAFE (<=>): the left-outer join+agg
    // views carry a real NULL group (partnerless rows under a B-side
    // groupCol) that a plain equi-join would silently never repair.
    // Sentinel rows (g null, is_tag) are therefore kept EXPLICITLY —
    // before null-safety they survived because null never equi-joined
    val gg = broadcast(g.withColumnRenamed("g", "_rg"))
    val fresh = measured(raw, groupCol, valueCols)
      .join(gg, col("g") <=> col("_rg"), "left_semi")
      .groupBy("g")
      .agg(count(lit(1)).cast("long").as("cnt"), measureAggs(n): _*)
      .select(col("g") +: lit("_").as("b") +: col("cnt") +:
        lit(0L).as("retr") +: lit(false).as("is_tag") +:
        (0 until n).flatMap(i =>
          Seq(col(s"s_$i"), col(s"mn_$i"), col(s"mx_$i"))): _*)
    graft.sources.Bucketed.rewriteBuckets(spark, partialsTable(name), bIds,
      rows => rows.filter(col("is_tag"))
        .unionByName(rows.filter(!col("is_tag"))
          .join(gg, col("g") <=> col("_rg"), "left_anti"))
        .unionByName(fresh).select(cols(n).map(col): _*))
  }

  /** The measure count of a stored partials layout. */
  private def measureCount(df: DataFrame): Int =
    df.columns.count(_.startsWith("s_"))

  /** Merge each oversized bucket's data rows to ONE row per group
    * (b = "_"), preserving sentinels — bounds file count and partial
    * row count together; the measure count reads off the stored
    * schema. Returns buckets rewritten. */
  def consolidate(spark: SparkSession, name: String,
                  maxFilesPerBucket: Int = 4): Int =
    graft.sources.Bucketed.compactBucketsWith(spark, partialsTable(name),
      maxFilesPerBucket, rows => {
        val n = measureCount(rows)
        val tags = rows.filter(col("is_tag")).dropDuplicates("b")
        val data = rows.filter(!col("is_tag"))
          .groupBy("g")
          .agg(sum("cnt").as("cnt"),
            sum("retr").as("retr") +:
              (0 until n).flatMap(i =>
                Seq(sum(s"s_$i").as(s"s_$i"), min(s"mn_$i").as(s"mn_$i"),
                  max(s"mx_$i").as(s"mx_$i"))): _*)
          .select(col("g") +: lit("_").as("b") +: col("cnt") +:
            col("retr") +: lit(false).as("is_tag") +:
            (0 until n).flatMap(i =>
              Seq(col(s"s_$i"), col(s"mn_$i"), col(s"mx_$i"))): _*)
        data.unionByName(tags).select(cols(n).map(col): _*)
      })

  /** The materialized aggregate, merged from the partial rows —
    * O(partials), the corpus never read: `g`, `n`, then per measure
    * `sum_q`, `min_q`, `max_q`, `avg_e6`. A one-measure index serves
    * those names bare — (g, n, sum_q, min_q, max_q, avg_e6) — and an
    * N-measure index suffixes each with the measure index
    * (`sum_q_0` … `avg_e6_<N-1>`). Groups with outstanding
    * retractions serve null extrema for EVERY measure (one retr
    * counter guards all; a retracted row touched them all); groups
    * retracted to zero disappear, matching the raw groupBy. `filter`
    * optionally prunes the partials scan on `g` BEFORE the merge
    * (lands in PushedFilters beside the sorted-on-g row-group skip —
    * point lookups read one bucket's matching row groups, not the
    * table). */
  def serve(spark: SparkSession, name: String,
            filter: Option[Column] = None): DataFrame = {
    val all = graft.sources.Bucketed.load(spark, partialsTable(name))
      .filter(!col("is_tag"))
    val n = measureCount(all)
    def out(base: String, i: Int) = if (n == 1) base else s"${base}_$i"
    filter.fold(all)(all.filter)
      .groupBy("g")
      .agg(sum("cnt").as("n"),
        sum("retr").as("retr") +:
          (0 until n).flatMap(i =>
            Seq(sum(s"s_$i").as(s"s_$i"), min(s"mn_$i").as(s"rmn_$i"),
              max(s"mx_$i").as(s"rmx_$i"))): _*)
      .filter(col("n") > 0)
      .select(col("g") +: col("n") +:
        (0 until n).flatMap(i => Seq(
          col(s"s_$i").as(out("sum_q", i)),
          when(col("retr") === 0, col(s"rmn_$i")).as(out("min_q", i)),
          when(col("retr") === 0, col(s"rmx_$i")).as(out("max_q", i)),
          floor(col(s"s_$i").cast("double") * lit(1000000.0)
            / col("n").cast("double")).cast("long")
            .as(out("avg_e6", i)))): _*)
  }

  /** Continuous maintenance under a stream — the
    * [[graft.text.IncrementalBm25.streamAppend]] shape with the
    * stronger guarantee: the foreachBatch id IS the idempotency tag,
    * so at-least-once replay is EXACTLY-ONCE here (no healing window —
    * the sentinel commits with the data). Periodic consolidation keeps
    * files and partial rows bounded.
    *
    * The id-as-tag guarantee holds ONLY under the checkpoint that
    * minted the ids: the same checkpoint replays batch N with
    * identical content, but a FRESH checkpoint over grown sources
    * restarts ids at 0 with DIFFERENT batch boundaries — its batch 0
    * would find the old run's `sb0` sentinel and silently drop rows.
    * The index therefore records its owning checkpoint
    * (`_graft_stream_owner` beside the partials) on first ingest, and
    * a streamAppend under any OTHER checkpoint fails LOUDLY: resume
    * the owning checkpoint (continuing ingest passes a persistent
    * `checkpointDir`; see [[graft.streaming.Streaming.runBatches]]),
    * or rebuild the index (buildIndex's overwrite clears the claim).
    * A one-shot call (`checkpointDir = None`) deletes its checkpoint
    * on return, so it is the index's LAST stream ingest until a
    * rebuild: the claim then names a checkpoint that is gone, and
    * every later streamAppend fails — resuming that path included,
    * since Spark would start it over from batch id 0. */
  def streamAppend(stream: DataFrame, name: String, buckets: Int,
                   groupCol: String, valueCols: Seq[String],
                   consolidateEvery: Int = 8, maxFilesPerBucket: Int = 4,
                   checkpointDir: Option[String] = None): Unit = {
    graft.streaming.Streaming.withCheckpoint("incagg", checkpointDir) {
      ckpt =>
        claimStreamOwner(stream.sparkSession, partialsTable(name), ckpt)
        graft.streaming.Streaming.runBatches(stream, "incagg", Some(ckpt)) {
          (batch, id) =>
            append(batch, name, buckets, groupCol, valueCols, tag = s"sb$id")
            if (consolidateEvery > 0 && (id + 1) % consolidateEvery == 0)
              consolidate(batch.sparkSession, name, maxFilesPerBucket)
        }
    }
  }

  /** One checkpoint owns an index's stream ingest for life (see
    * [[streamAppend]]): first ingest claims, later ingests must match
    * or fail loudly — the silent alternative is id-tag collisions
    * dropping data. */
  private def claimStreamOwner(spark: SparkSession, table: String,
                               ckpt: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify against the CHECKPOINT's own filesystem: '/tmp/ckpt',
    // 'file:/tmp/ckpt', and a relative spelling of the same directory
    // must all canonicalize to one owner string, or a legitimate
    // resume of the owning checkpoint fails the ownership check
    def qualify(path: String): String = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString
    }
    val canon = qualify(ckpt)
    graft.sources.Bucketed.readMarker(fs, loc, "_graft_stream_owner",
        "graft-stream-owner-v1") match {
      // qualify the STORED owner too: a marker written before
      // qualification (the unqualified '/tmp/ckpt' spelling) must
      // still match its own checkpoint after an upgrade
      case Some(owner) =>
        // the owner's batch ids live in its `metadata` + offset log: a
        // deleted (one-shot) or emptied owner checkpoint, even when
        // passed back by path, restarts ids at 0 just like a new one
        val ownerCanon = qualify(owner)
        val ownerMeta = new org.apache.hadoop.fs.Path(ownerCanon, "metadata")
        require(ownerMeta.getFileSystem(spark.sparkContext
            .hadoopConfiguration).exists(ownerMeta),
          s"$table's stream ingest is owned by checkpoint $owner, which " +
            "is gone or never started (a one-shot streamAppend deletes " +
            "its checkpoint on return); its batch ids cannot be resumed " +
            "— rebuild the index")
        require(ownerCanon == canon,
          s"$table's stream ingest is owned by checkpoint $owner; a " +
            s"different checkpoint ($canon) would restart batch ids and " +
            "collide with committed idempotency tags — resume the owning " +
            "checkpoint or rebuild the index")
      case None => graft.sources.Bucketed.writeMarker(fs, loc,
        "_graft_stream_owner", "graft-stream-owner-v1", canon)
    }
  }
}
