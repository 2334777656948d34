package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.{Bucketed, Replication}

/** INCREMENTAL VIEW MAINTENANCE — a materialized aggregate that
  * FOLLOWS a governed bucketed table: each [[refresh]] reads the
  * source's generation delta since the view's bookmark
  * ([[Bucketed.diffGenerations]] — O(changed files), never O(table)),
  * applies inserts as [[IncrementalAgg.append]] partials and deletes
  * as [[IncrementalAgg.retract]] partials, and advances the durable
  * bookmark. The classic delta-maintained view, composed entirely
  * from pieces that already carry the crash contracts:
  *
  *  - the source's merges/appends/deletes commit atomic generations,
  *    so the delta between two bookmarked generations is exact
  *    row-level change (an updated key arrives as delete + insert —
  *    count/sum retract the old row and add the new one);
  *  - the append/retract pair is EXACTLY-ONCE under replay via the
  *    generation-derived idempotency tag (`ivm-<from>-<to>-i/-d`):
  *    a refresh retried after ANY crash re-runs both halves, and each
  *    half's sentinel says whether it already landed — a crash
  *    BETWEEN the two halves heals on retry, no two-phase commit;
  *  - the bookmark advances LAST, so a stale bookmark can only cause
  *    a replayed (and skipped) refresh, never a missed delta.
  *
  * Serving inherits [[IncrementalAgg.serve]]'s contract: count / sum /
  * avg are exact immediately; groups with outstanding retractions
  * serve null min/max until [[IncrementalAgg.repairGroups]]. The
  * source must retain generations back to the bookmark
  * ([[Bucketed.setRetention]]) — behind the window the refresh fails
  * loudly (rebuild the view) rather than applying a partial delta. */
object Ivm {

  /** Build the view over `source`'s current head and bookmark that
    * generation. `groupCol`/`valueCols` name the source columns
    * (measures pre-quantized long — the house sum doctrine; their
    * ORDER fixes the view's measure indexes,
    * [[IncrementalAgg.buildIndex]]). Returns the bookmark. */
  def create(spark: SparkSession, source: String, view: String,
             buckets: Int, groupCol: String,
             valueCols: Seq[String]): Long = {
    val gen = Bucketed.currentGeneration(spark, source)
    IncrementalAgg.buildIndex(Bucketed.loadAsOf(spark, source, gen),
      view, buckets, groupCol, valueCols)
    Replication.writeBookmark(spark, s"${view}_partials", gen)
    gen
  }

  /** Land one pair's delta (`groupCol`, `valueCols`, `change`) as
    * exactly-once partials: its inserts append under `<tag>-i`, its
    * deletes retract under `<tag>-d`, each half skipped when its
    * sentinel already landed — the one apply step every aggregate
    * view's walk shares. */
  private def applyDelta(delta: DataFrame, view: String, buckets: Int,
                         groupCol: String, valueCols: Seq[String],
                         tag: String): Unit = {
    val sel = (groupCol +: valueCols).map(col)
    val dV = delta.select(sel :+ col("change"): _*)
      .localCheckpoint(eager = false) // one eval feeds both halves
    IncrementalAgg.append(
      dV.filter(col("change") === "insert").select(sel: _*),
      view, buckets, groupCol, valueCols, s"$tag-i")
    IncrementalAgg.retract(
      dV.filter(col("change") === "delete").select(sel: _*),
      view, buckets, groupCol, valueCols, s"$tag-d")
  }

  /** Bring the view up to `source`'s head, one CONSECUTIVE generation
    * pair at a time — each pair's delta applied as one append + one
    * retract (each exactly-once under its `ivm-<a>-<b>` tag), the
    * bookmark advancing after each pair. Consecutive pairs, not one
    * net diff, is what makes retry safe: a (from, head) span RESHAPES
    * if the source commits between a crash and the retry, and the
    * reshaped span's fresh tag would re-apply the crashed span's
    * already-landed partials — per-pair spans are immutable, so a
    * replayed pair finds its sentinels and skips exactly. The
    * `valueCols` must match the create's, in order. No-op when caught
    * up. Returns the new bookmark. */
  def refresh(spark: SparkSession, source: String, view: String,
              buckets: Int, groupCol: String,
              valueCols: Seq[String]): Long = {
    val partials = s"${view}_partials"
    val from = Replication.bookmark(spark, partials).getOrElse(
      throw new IllegalStateException(
        s"$view has no bookmark — create it from $source first"))
    val head = Bucketed.currentGeneration(spark, source)
    if (head == from) return from
    require(head > from,
      s"$view's bookmark $from is ahead of $source's head $head — " +
        "the source was rebuilt; recreate the view")
    val retained = Bucketed.generations(spark, source)
    if (!retained.contains(from))
      throw new IllegalStateException(
        s"$source no longer retains generation $from — the view's " +
          "bookmark fell behind the retention window; recreate it")
    retained.dropWhile(_ < from).takeWhile(_ <= head)
      .sliding(2).foreach {
        case Seq(a, b) =>
          applyDelta(Bucketed.diffGenerations(spark, source, a, b), view,
            buckets, groupCol, valueCols, s"ivm-$a-$b")
          Replication.writeBookmark(spark, partials, b)
        case _ => ()
      }
    head
  }

  /** Repair the join-following aggregate `view` once every (source,
    * side) bookmark is caught up to its source's head (repairing
    * against an unapplied head would fold deltas in ahead of their
    * exactly-once application): the retracted groups recompute from
    * `raw`, the CURRENT rows the view aggregates. ONE copy of the
    * contract. Returns buckets rewritten. */
  private def repairCaughtUp(spark: SparkSession, view: String,
                             buckets: Int, sides: Seq[(String, Char)],
                             raw: => DataFrame, groupCol: String,
                             valueCols: Seq[String]): Int = {
    val partials = s"${view}_partials"
    for ((src, side) <- sides) {
      val bm = joinBookmark(spark, partials, side).getOrElse(
        throw new IllegalStateException(
          s"$view has no side-$side bookmark"))
      val head = Bucketed.currentGeneration(spark, src)
      require(bm == head,
        s"$view's side-$side bookmark is at $bm but $src is at $head — " +
          "refresh before repairing")
    }
    IncrementalAgg.repairGroups(spark, view, buckets, raw, groupCol,
      valueCols, retractedGroups(spark, partials))
  }

  /** The groups the view's own partials mark as carrying outstanding
    * retractions (`retr > 0`, tag rows excluded) — ONE copy of the
    * retraction-ledger read every repair variant starts from. */
  private def retractedGroups(spark: SparkSession,
                              partials: String): DataFrame =
    Bucketed.load(spark, partials)
      .filter(!col("is_tag"))
      .groupBy("g")
      .agg(org.apache.spark.sql.functions.sum("retr").as("r"))
      .filter(col("r") > 0)
      .select("g")

  /** The view's current rollup — [[IncrementalAgg.serve]]. */
  def serve(spark: SparkSession, view: String): DataFrame =
    IncrementalAgg.serve(spark, view)

  // ---- JOIN-view maintenance ------------------------------------------

  private val JoinSyncMagic = "graft-jsync-v1"
  private def syncName(side: Char) = s"_graft_jsync_$side"

  private[ops] def joinBookmark(spark: SparkSession, view: String,
                                side: Char): Option[Long] =
    graft.sources.Follow.readBookmark(spark, view, syncName(side),
      JoinSyncMagic)

  private[ops] def writeJoinBookmark(spark: SparkSession, view: String,
                                     side: Char, gen: Long): Unit =
    graft.sources.Follow.writeBookmark(spark, view, syncName(side),
      JoinSyncMagic, gen)

  private def clearJoinBookmark(spark: SparkSession, view: String,
                                side: Char): Unit =
    graft.sources.Follow.clearTag(spark, view, syncName(side))

  /** The per-side bookmark walk every join-view family runs
    * ([[refreshJoin]], [[refreshJoinLeft]], [[refreshJoinAgg]]) — one
    * delegation to the follower core
    * ([[graft.sources.Follow.walkPairs]], where the walk contract
    * lives for the view AND index families since round 14), binding
    * the jsync marker name for `side`. `cap` bounds the walk below
    * the source's live head — the two-table lockstep device
    * ([[refreshJoinFull]]): a commit landing between the left part's
    * refresh and the orphans' walk must fold NEXT refresh for both
    * tables, not for one of them. */
  private def walkPairs(spark: SparkSession, src: String, side: Char,
                        bookmarkTable: String, view: String,
                        createHint: String,
                        cap: Option[Long] = None)(
                        applyPair: (Long, Long) => Unit): Long =
    graft.sources.Follow.walkPairs(spark, src, bookmarkTable,
      syncName(side), JoinSyncMagic, s"$view (side $side)",
      createHint, cap)(applyPair)

  /** Materialize the two-table equi-join `a ⋈_on b` over both sources'
    * current heads and bookmark BOTH generations on the view (one
    * durable marker per side). `aKey`/`bKey` are the sides' UNIQUE row
    * keys — the view's rows are therefore uniquely keyed by
    * (aKey, bKey), which is what lets each delta apply as an atomic
    * [[Bucketed.applyChanges]] merge. Column names of the two sides
    * must be disjoint apart from `on` (the standard equi-join shape).
    * Both sources must retain generations back to their bookmarks
    * ([[Bucketed.setRetention]]). Returns (genA, genB). */
  def createJoin(spark: SparkSession, a: String, b: String, on: String,
                 view: String, buckets: Int, aKey: String,
                 bKey: String): (Long, Long) = {
    val ga = Bucketed.currentGeneration(spark, a)
    val gb = Bucketed.currentGeneration(spark, b)
    Bucketed.save(
      Bucketed.loadAsOf(spark, a, ga)
        .join(Bucketed.loadAsOf(spark, b, gb), on),
      view, Seq(aKey, bKey), buckets)
    writeJoinBookmark(spark, view, 'a', ga)
    writeJoinBookmark(spark, view, 'b', gb)
    (ga, gb)
  }

  /** Bring the join view up to both sources' heads — the classic
    * delta-join decomposition ΔV = ΔA⋈B_old ∪ A_new⋈ΔB applied one
    * CONSECUTIVE generation pair at a time per side, each pair's delta
    * joined against the OTHER side pinned at the generation the view
    * has folded in (side-b bookmark for phase 1, side-a head reached
    * in phase 1 for phase 2 — both manifest-pinned snapshots), and
    * committed as one atomic [[Bucketed.applyChanges]] merge before
    * the side's bookmark advances. The ΔA⋈ΔB term needs no separate
    * pass: phase 2 joins ΔB against A AFTER phase 1 folded ΔA in.
    *
    * Crash-exactness without tags: re-applying a pair is idempotent
    * (delete-then-insert on the view's (aKey, bKey) keys), pair spans
    * are immutable, and the join partners are pinned by the OTHER
    * side's bookmark — so a retry after a crash at ANY point (between
    * applies, between an apply and its bookmark write, mid-phase-2)
    * converges to exactly A_head ⋈ B_head: on retry phase 1 joins any
    * remaining ΔA against the B generation the view actually holds,
    * then phase 2 finishes ΔB against the caught-up A. An updated row
    * arrives as delete+insert and lands group-wise; a row whose JOIN
    * VALUE changes deletes its old partners' pairs and inserts the
    * new ones. Sources must retain back to the bookmarks — behind the
    * window fails loudly (recreate the view). Returns (headA, headB);
    * no-op when caught up. */
  def refreshJoin(spark: SparkSession, a: String, b: String, on: String,
                  view: String): (Long, Long) = {
    val viewCols = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(view))
      .schema.fieldNames.toSeq
    def advance(src: String, side: Char, partner: DataFrame): Long =
      walkPairs(spark, src, side, view, view, "createJoin") { (x, y) =>
        val delta = Bucketed.diffGenerations(spark, src, x, y)
        val dV = delta.join(partner, on)
          .select((viewCols :+ "change").map(col): _*)
        Bucketed.applyChanges(spark, view, dV)
        ()
      }
    // phase 1: fold ΔA against B AS THE VIEW HOLDS IT (side-b bookmark)
    val gb0 = joinBookmark(spark, view, 'b').getOrElse(
      throw new IllegalStateException(
        s"$view has no side-b bookmark — createJoin it first"))
    val ha = advance(a, 'a', Bucketed.loadAsOf(spark, b, gb0))
    // phase 2: fold ΔB against the caught-up A head
    val hb = advance(b, 'b', Bucketed.loadAsOf(spark, a, ha))
    (ha, hb)
  }

  // ---- LEFT-OUTER join-view maintenance --------------------------------

  /** Materialize `a LEFT JOIN b ON on` over both sources' current
    * heads, keyed (bucketed) by `aKey` — the A side's UNIQUE row key.
    * Unlike [[createJoin]]'s (aKey, bKey) row keys, an outer view's
    * natural unit is the A-ROW GROUP: every A row contributes exactly
    * one group (its matches, or its single null-extended row), the
    * group key is never null (a null bKey could not merge), and
    * [[Bucketed.mergeByKey]]'s group-wise replace is EXACTLY the
    * apply primitive null-extension maintenance needs — a group whose
    * B side appears (null-extended → matched), grows, shrinks, or
    * vanishes (matched → null-extended) is simply rewritten whole.
    * Column names of the two sides must be disjoint apart from `on`.
    * Both sources must retain generations back to their bookmarks.
    * Returns (genA, genB). */
  def createJoinLeft(spark: SparkSession, a: String, b: String,
                     on: String, view: String, buckets: Int,
                     aKey: String): (Long, Long) = {
    val ga = Bucketed.currentGeneration(spark, a)
    val gb = Bucketed.currentGeneration(spark, b)
    Bucketed.save(
      Bucketed.loadAsOf(spark, a, ga)
        .join(Bucketed.loadAsOf(spark, b, gb), Seq(on), "left"),
      view, Seq(aKey), buckets)
    writeJoinBookmark(spark, view, 'a', ga)
    writeJoinBookmark(spark, view, 'b', gb)
    (ga, gb)
  }

  /** Bring the left-outer view up to both sources' heads. Phase 1
    * folds ΔA one consecutive generation pair at a time against B AS
    * THE VIEW HOLDS IT (the side-b bookmark): deleted A rows delete
    * their groups, inserted A rows insert their freshly-joined groups
    * (LEFT join — a partnerless insert lands null-extended), an
    * updated A row is delete+insert and replaces its group. Phase 2
    * folds ΔB: for each pair, the delta's DISTINCT join values name
    * exactly the A-row groups whose B side changed — those groups
    * recompute from A_head (semi-joined to the bounded value set)
    * against B pinned at the pair's upper generation and group-replace
    * atomically. This is where null-extension transitions land
    * WITHOUT any 0↔1-partner bookkeeping: a join value gaining its
    * first B row recomputes its groups matched, one losing its last
    * recomputes them null-extended — the recompute IS the transition.
    *
    * Cost: phase 2 reads A semi-joined to the pair's join values
    * (pushdown-pruned, but an A-side scan shape — the price of
    * null-extension correctness; the INNER view's [[refreshJoin]]
    * stays pure-delta). Crash-exactness without tags: every group
    * recompute is idempotent (group-wise replace on aKey), pair spans
    * are immutable, phase-1's partner re-pins to the view's actual
    * side-b bookmark on retry — a retry after a crash at ANY point
    * converges to exactly A_head LEFT JOIN B_head. Sources must
    * retain back to the bookmarks. Returns (headA, headB). */
  def refreshJoinLeft(spark: SparkSession, a: String, b: String,
                      on: String, view: String): (Long, Long) = {
    import org.apache.spark.sql.functions.lit
    val viewSchema = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(view)).schema
    val viewCols = viewSchema.fieldNames.toSeq
    def walk(src: String, side: Char)(
        applyPair: (Long, Long) => Unit): Long =
      walkPairs(spark, src, side, view, view, "createJoinLeft")(applyPair)
    // phase 1: ΔA against B AS THE VIEW HOLDS IT (side-b bookmark)
    val gb0 = joinBookmark(spark, view, 'b').getOrElse(
      throw new IllegalStateException(
        s"$view has no side-b bookmark — createJoinLeft it first"))
    val ha = walk(a, 'a') { (x, y) =>
      val delta = Bucketed.diffGenerations(spark, a, x, y)
        .localCheckpoint(eager = false) // feeds deletes AND inserts
      // a deleted A row deletes its whole group: only the key matters
      // to the merge, the B side null-fills to the view's shape
      val deletes = conformTo(viewSchema,
        delta.filter(col("change") === "delete").drop("change"))
        .withColumn("change", lit("delete"))
      val inserts = delta.filter(col("change") === "insert")
        .drop("change")
        .join(Bucketed.loadAsOf(spark, b, gb0), Seq(on), "left")
        .select(viewCols.map(col): _*)
        .withColumn("change", lit("insert"))
      Bucketed.applyChanges(spark, view, deletes.unionByName(inserts))
      ()
    }
    // phase 2: ΔB's join values name the groups to recompute against
    // the pair's upper B generation and the caught-up A head. The
    // walk's OWN fold head is the return value (never a re-read live
    // head): refreshJoinFull uses it as the orphans' lockstep cap, and
    // a B commit landing between this walk and a re-read would let the
    // orphans fold a B generation the left part has not
    val hb = walk(b, 'b') { (x, y) =>
      val touched = Bucketed.diffGenerations(spark, b, x, y)
        .select(on).distinct()
      val groups = Bucketed.loadAsOf(spark, a, ha)
        .join(touched, Seq(on), "left_semi")
        .join(Bucketed.loadAsOf(spark, b, y), Seq(on), "left")
        .select(viewCols.map(col): _*)
      // pure group upsert: every touched aKey gets a fresh group (an
      // A row always yields >= 1 left-join row), vanished B partners
      // land as the group's null-extended row
      Bucketed.mergeByKey(spark, view, groups)
      ()
    }
    afterPhase2Walk()
    (ha, hb)
  }

  /** Test hook: runs between [[refreshJoinLeft]]'s phase-2 walk and
    * its return — the window where a racing B commit previously
    * leaked into the returned head via a live re-read, letting
    * [[refreshJoinFull]]'s orphans walk fold past the left part's
    * lockstep (ADVICE, round 13). */
  private[ops] var afterPhase2Walk: () => Unit = () => ()

  // ---- FULL-OUTER join-view maintenance --------------------------------

  private def orphanTable(view: String) = s"${view}_orphans"

  /** Materialize `a FULL JOIN b ON on` as TWO maintained governed
    * tables under one view name: the [[createJoinLeft]] A-keyed left
    * part, plus an ORPHANS table (`<view>_orphans`, keyed by `bKey`)
    * holding exactly the B rows whose join value has NO A row — the
    * B-side null extension the left view cannot carry (a partnerless
    * B row has no aKey to group under). [[serveJoinFull]] unions the
    * two, null-extending the orphans to the view's shape. Both tables
    * carry their own side bookmarks and refresh from the same source
    * deltas. Returns (genA, genB). */
  def createJoinFull(spark: SparkSession, a: String, b: String,
                     on: String, view: String, buckets: Int,
                     aKey: String, bKey: String): (Long, Long) = {
    val (ga, gb) = createJoinLeft(spark, a, b, on, view, buckets, aKey)
    val orphans = orphanTable(view)
    Bucketed.save(
      Bucketed.loadAsOf(spark, b, gb).join(
        Bucketed.loadAsOf(spark, a, ga).select(on).distinct(),
        Seq(on), "left_anti"),
      orphans, Seq(bKey), buckets)
    writeJoinBookmark(spark, orphans, 'a', ga)
    writeJoinBookmark(spark, orphans, 'b', gb)
    (ga, gb)
  }

  /** Bring the full-outer view up to both sources' heads: the left
    * part refreshes via [[refreshJoinLeft]]; the orphans table then
    * walks the same deltas on its OWN bookmarks, recomputing orphan
    * membership for exactly the TOUCHED join values — a value gaining
    * its first A row retracts its orphans, one losing its last A row
    * (or gaining partnerless B rows) inserts them. Per pair the
    * update set is `B@pin` semi-joined to the touched values, each
    * row flagged for deletion iff its value HAS an A row at the
    * pinned A state (plus, on B-side pairs, the pair's deleted B rows
    * flagged — a vanished B row's orphan must die, and it is absent
    * from B@pin so the membership recompute alone would never name
    * it); one [[Bucketed.mergeByKey]] group-replace applies it
    * atomically. Every apply is idempotent and the pins re-derive
    * from the bookmarks, so any crash point converges on retry — the
    * [[refreshJoinLeft]] doctrine on the mirrored side. Cost per
    * pair: the touched values' slices of both sources,
    * semi-join-pruned. Returns (headA, headB). */
  def refreshJoinFull(spark: SparkSession, a: String, b: String,
                      on: String, view: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val (ha, hb) = refreshJoinLeft(spark, a, b, on, view)
    val orphans = orphanTable(view)
    // touched-value membership recompute: B@pin rows of the touched
    // values, each flagged by A-presence at the pinned A state — the
    // A side PRUNED to the touched values first (a per-pair full-A
    // distinct would contradict the cost contract)
    def orphanUpdates(touched: DataFrame, bState: DataFrame,
                      aState: DataFrame): DataFrame =
      bState.join(touched, Seq(on), "left_semi")
        .join(aState.join(touched, Seq(on), "left_semi")
            .select(on).distinct()
            .withColumn("_has_a", lit(true)),
          Seq(on), "left")
        .withColumn("_del", coalesce(col("_has_a"), lit(false)))
        .drop("_has_a")
    // side a: membership flips from ΔA's values, B as the orphans
    // table holds it (its own side-b bookmark)
    val gbO = joinBookmark(spark, orphans, 'b').getOrElse(
      throw new IllegalStateException(
        s"$view has no orphan-side-b bookmark — createJoinFull it first"))
    // CAPPED at the A head the left part just folded: an A commit
    // landing between the two refreshes would otherwise let this walk
    // fold (and bookmark) a generation the side-b pin below predates
    // — its orphan retractions would resurrect and the next refresh,
    // starting past the bookmark, would never revisit them (review
    // catch, round 13); capped, the racing commit folds NEXT refresh
    // for both tables in lockstep
    val haO = walkPairs(spark, a, 'a', orphans, view, "createJoinFull",
      cap = Some(ha)) {
      (x, y) =>
        val touched = Bucketed.diffGenerations(spark, a, x, y)
          .select(on).distinct()
        Bucketed.mergeByKey(spark, orphans,
          orphanUpdates(touched, Bucketed.loadAsOf(spark, b, gbO),
            Bucketed.loadAsOf(spark, a, y)),
          deleteCol = Some("_del"))
        ()
    }
    // side b: membership recomputes from B@y against the A state the
    // orphans have folded, with the pair's deleted B rows explicitly
    // flagged (absent from B@y — membership alone never names them)
    // and NULL-join-value inserts kept directly: a null value never
    // equi-joins, so such a B row is an orphan BY DEFINITION (create's
    // left_anti keeps it; the semi-join membership path would drop it
    // — review catch, round 13) and A-side changes can never flip it
    walkPairs(spark, b, 'b', orphans, view, "createJoinFull",
      cap = Some(hb)) { (x, y) =>
      val delta = Bucketed.diffGenerations(spark, b, x, y)
        .localCheckpoint(eager = false) // feeds touched + deletes + nulls
      val touched = delta.select(on).distinct()
      val updates = orphanUpdates(touched,
        Bucketed.loadAsOf(spark, b, y),
        Bucketed.loadAsOf(spark, a, haO))
      val nullRows = delta
        .filter(col("change") === "insert" && col(on).isNull)
        .drop("change").withColumn("_del", lit(false))
      val deletes = delta.filter(col("change") === "delete")
        .drop("change").withColumn("_del", lit(true))
      Bucketed.mergeByKey(spark, orphans,
        updates.unionByName(nullRows).unionByName(deletes),
        deleteCol = Some("_del"))
      ()
    }
    (haO, hb)
  }

  /** Conform `df` to `schema`'s shape: columns it carries pass
    * through, the rest null-fill with the right types — ONE copy of
    * the null-extension projection ([[refreshJoinLeft]]'s phase-1
    * deletes, [[serveJoinFull]]'s orphan extension). */
  private def conformTo(schema: org.apache.spark.sql.types.StructType,
                        df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val have = df.columns.toSet
    df.select(schema.fields.map(f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  /** The full-outer view's rows: the left part ∪ the orphans
    * null-extended to the view's shape (the join column and B's
    * columns carry through; A's columns null-fill). */
  def serveJoinFull(spark: SparkSession, view: String): DataFrame = {
    val left = Bucketed.load(spark, view)
    left.unionByName(
      conformTo(left.schema, Bucketed.load(spark, orphanTable(view))))
  }

  // ---- rollup FOLLOWING the full-outer pair ----------------------------

  /** A materialized aggregate following the FULL-OUTER view's two
    * governed tables (left part + orphans) as ONE logical source —
    * what [[create]] is to a single table, for the pair
    * [[serveJoinFull]] unions: `SELECT g, aggs FROM (left ∪
    * null-extended orphans) GROUP BY g` stays maintained while
    * [[refreshJoinFull]] churns both tables. Orphan rows null-fill
    * the columns they lack, the exact FULL JOIN aggregation
    * semantics: measures may come from EITHER side (an A-side measure
    * is null on orphan rows, a B-side measure null on partnerless-A
    * rows; counted, not summed, both ways) and a B-side `groupCol`
    * carries through. Both tables must retain generations back to
    * the bookmarks ([[Bucketed.setRetention]] on the view AND
    * `<view>_orphans`). Returns (genLeft, genOrphans). */
  def createOverFull(spark: SparkSession, fullView: String,
                     rollup: String, buckets: Int, groupCol: String,
                     valueCols: Seq[String]): (Long, Long) = {
    val orphans = orphanTable(fullView)
    val gl = Bucketed.currentGeneration(spark, fullView)
    val go = Bucketed.currentGeneration(spark, orphans)
    val leftSchema = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(fullView)).schema
    val sel = (groupCol +: valueCols).map(col)
    val base = Bucketed.loadAsOf(spark, fullView, gl).select(sel: _*)
      .unionByName(
        conformTo(leftSchema, Bucketed.loadAsOf(spark, orphans, go))
          .select(sel: _*))
    IncrementalAgg.buildIndex(base, rollup, buckets, groupCol, valueCols)
    val partials = s"${rollup}_partials"
    writeJoinBookmark(spark, partials, 'l', gl)
    writeJoinBookmark(spark, partials, 'o', go)
    (gl, go)
  }

  /** Bring the pair rollup up to both tables' heads: each table walks
    * its own bookmark ([[refresh]]'s doctrine twice), pair deltas
    * landing as exactly-once append/retract partials — orphan deltas
    * null-fill to the left part's shape first (an orphan delta lacks
    * the A-side columns; the left part lacks nothing), so a customer
    * flipping between matched and orphaned retracts from one table's
    * fold and appends in the other's, meeting in the same group. Call
    * after [[refreshJoinFull]] for a state consistent with
    * [[serveJoinFull]]; a refresh racing the view's own folds the
    * remainder next time — each side is individually exact. Pure
    * delta on both tables: O(changed files), never the A-scan the
    * outer row views pay. `valueCols` must match the create's, in
    * order. Returns (headLeft, headOrphans). */
  def refreshOverFull(spark: SparkSession, fullView: String,
                      rollup: String, buckets: Int, groupCol: String,
                      valueCols: Seq[String]): (Long, Long) = {
    val partials = s"${rollup}_partials"
    val deltaSchema = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(fullView)).schema
      .add("change", "string")
    def advance(src: String, side: Char): Long =
      walkPairs(spark, src, side, partials, rollup, "createOverFull") {
        (x, y) =>
          applyDelta(
            conformTo(deltaSchema, Bucketed.diffGenerations(spark, src, x, y)),
            rollup, buckets, groupCol, valueCols, s"ivf$side-$x-$y")
      }
    val hl = advance(fullView, 'l')
    val ho = advance(orphanTable(fullView), 'o')
    (hl, ho)
  }

  /** [[repair]]'s pair-rollup form: retracted groups recompute from
    * the CURRENT served union ([[serveJoinFull]]) — the NULL group
    * repairs like any other (null-safe group match), every measure's
    * extrema restored in the one pass. Requires both bookmarks caught
    * up to their tables' heads. Returns buckets rewritten. */
  def repairOverFull(spark: SparkSession, fullView: String,
                     rollup: String, buckets: Int, groupCol: String,
                     valueCols: Seq[String]): Int =
    repairCaughtUp(spark, rollup, buckets,
      Seq((fullView, 'l'), (orphanTable(fullView), 'o')),
      serveJoinFull(spark, fullView), groupCol, valueCols)

  // ---- single-view JOIN + AGGREGATE maintenance ------------------------

  /** Materialize `SELECT g, count, and per measure sum/min/max/avg
    * FROM a JOIN b ON on GROUP BY g` in ONE maintained view — where
    * [[createJoin]]+[[create]] costs two materialized tables and two
    * maintenance passes, the join delta feeds the aggregate partials
    * DIRECTLY: ΔV of the inner join (the [[refreshJoin]]
    * decomposition ΔA⋈B_old ∪ A_new⋈ΔB) lands as
    * [[IncrementalAgg.append]]/[[IncrementalAgg.retract]] partials,
    * each generation-pair half exactly-once under its derived tag.
    * The view is an [[IncrementalAgg]] index: serve / consolidate /
    * repair all carry over. `valueCols` pre-quantized long (the house
    * sum doctrine), their order fixing the measure indexes; both
    * bookmarks live on the partials table. Returns (genA, genB). */
  def createJoinAgg(spark: SparkSession, a: String, b: String,
                    on: String, view: String, buckets: Int,
                    groupCol: String,
                    valueCols: Seq[String]): (Long, Long) = {
    val ga = Bucketed.currentGeneration(spark, a)
    val gb = Bucketed.currentGeneration(spark, b)
    IncrementalAgg.buildIndex(
      Bucketed.loadAsOf(spark, a, ga)
        .join(Bucketed.loadAsOf(spark, b, gb), on),
      view, buckets, groupCol, valueCols)
    val partials = s"${view}_partials"
    writeJoinBookmark(spark, partials, 'a', ga)
    writeJoinBookmark(spark, partials, 'b', gb)
    (ga, gb)
  }

  /** Bring the join+agg view up to both sources' heads: per side, per
    * consecutive generation pair, the pair's delta joins the pinned
    * partner (side-b bookmark for phase 1, the DURABLY-PINNED phase-1
    * A head for phase 2 — the [[refreshJoin]] decomposition, so ΔA⋈ΔB
    * needs no separate pass) and its insert/delete halves land as
    * exactly-once append/retract partials (tags
    * `jagg<side>-<x>-<y>-i/-d`), the side's bookmark advancing after
    * each pair.
    *
    * WHY phase 2's A pin is a durable marker (`_graft_jsync_p` beside
    * the bookmarks), unlike [[refreshJoin]]'s in-memory head: the agg
    * families apply via TAG-SKIP, not idempotent re-apply. A phase-2
    * half committed against A@pa and then crashed-before-bookmark
    * would, under a fresh in-memory pin pa′ > pa, be SKIPPED by its
    * tag while phase 1 had folded ΔA(pa→pa′) against the STALE side-b
    * bookmark — the ΔA⋈ΔB term would be lost forever (review catch,
    * round 13). With the pin durable, a retry FIRST finishes the
    * crashed phase 2 under the ORIGINAL pin (tags skip exactly the
    * halves that already landed — bit-identical deltas, since the pin
    * names the same A generation), clears the pin, and only then runs
    * phase 1 — whose side-b bookmark is now caught up, so the new ΔA
    * folds against the B state the view actually holds. A TORN pin
    * write parses as absent, which is safe: the writer only proceeds
    * to phase 2 after its pin PUT returned, so a torn pin proves no
    * phase-2 tag was committed under it. The pinned A generation must
    * stay retained until the pin clears (the bookmark retention
    * contract; behind the window the recovery fails loudly).
    *
    * A crash between the two halves of one pair heals on retry
    * through the sentinel tags — the [[refresh]] doctrine, now over a
    * two-source delta. Serving inherits [[IncrementalAgg.serve]]:
    * count/sum/avg exact immediately, retracted groups' min/max null
    * until [[repairJoinAgg]]. Returns (headA, headB). */
  def refreshJoinAgg(spark: SparkSession, a: String, b: String,
                     on: String, view: String, buckets: Int,
                     groupCol: String,
                     valueCols: Seq[String]): (Long, Long) = {
    val partials = s"${view}_partials"
    def walk(src: String, side: Char, partner: DataFrame): Long =
      walkPairs(spark, src, side, partials, view, "createJoinAgg") {
        (x, y) =>
          applyDelta(
            Bucketed.diffGenerations(spark, src, x, y).join(partner, on),
            view, buckets, groupCol, valueCols, s"jagg$side-$x-$y")
      }
    // recovery: a durable pin means a phase 2 crashed mid-flight —
    // finish it under the ORIGINAL A pin before anything else (the
    // lost-ΔA⋈ΔB analysis above)
    joinBookmark(spark, partials, 'p').foreach { pa =>
      walk(b, 'b', Bucketed.loadAsOf(spark, a, pa))
      clearJoinBookmark(spark, partials, 'p')
    }
    val gb0 = joinBookmark(spark, partials, 'b').getOrElse(
      throw new IllegalStateException(
        s"$view has no side-b bookmark — createJoinAgg it first"))
    val ha = walk(a, 'a', Bucketed.loadAsOf(spark, b, gb0))
    writeJoinBookmark(spark, partials, 'p', ha)
    val hb = walk(b, 'b', Bucketed.loadAsOf(spark, a, ha))
    clearJoinBookmark(spark, partials, 'p')
    (ha, hb)
  }

  // ---- single-view LEFT-OUTER join + aggregate -------------------------

  /** [[createJoinAgg]]'s LEFT-outer form: `SELECT g, aggs FROM a LEFT
    * JOIN b ON on GROUP BY g` in ONE maintained view. Null extension
    * is first-class: an A row with no partner contributes ONE row
    * with B's columns null — a B-side `groupCol` groups it under the
    * NULL group (a real group, served and maintained like any other),
    * a B-side measure contributes null (count counts the row,
    * sum/min/max skip it — [[IncrementalAgg]]'s house semantics).
    * Returns (genA, genB). */
  def createJoinAggLeft(spark: SparkSession, a: String, b: String,
                        on: String, view: String, buckets: Int,
                        groupCol: String,
                        valueCols: Seq[String]): (Long, Long) = {
    val ga = Bucketed.currentGeneration(spark, a)
    val gb = Bucketed.currentGeneration(spark, b)
    IncrementalAgg.buildIndex(
      Bucketed.loadAsOf(spark, a, ga)
        .join(Bucketed.loadAsOf(spark, b, gb), Seq(on), "left"),
      view, buckets, groupCol, valueCols)
    val partials = s"${view}_partials"
    writeJoinBookmark(spark, partials, 'a', ga)
    writeJoinBookmark(spark, partials, 'b', gb)
    (ga, gb)
  }

  /** Bring the left-outer join+agg view up to both sources' heads.
    * Phase 1 folds ΔA per pair as a pure delta: the pair's rows LEFT
    * JOIN B at the side-b bookmark (a partnerless insert lands
    * null-extended, a partnerless delete retracts its null-extended
    * row) and land as exactly-once append/retract partials. Phase 2
    * folds ΔB per pair by GROUP-RECOMPUTE over the pair's touched
    * join values — the [[refreshJoinLeft]] doctrine feeding partials
    * instead of row groups: the touched values' A slice LEFT JOINs
    * B@x (retract: exactly what the view absorbed for those values)
    * and B@y (append: their new truth), so the 0↔1 partner
    * transitions ARE the recompute, no transition ledger. NULL-valued
    * ΔB rows never equi-join and are skipped. Phase 2's A pin is the
    * DURABLE `_graft_jsync_p` marker with recovery-first retry — the
    * [[refreshJoinAgg]] lost-ΔA⋈ΔB doctrine verbatim (both phases
    * apply via tag-skip). Cost: phase 2 reads A semi-joined to the
    * pair's join values (pushdown-pruned — the refreshJoinLeft
    * phase-2 scan shape, the honest price of null-extension
    * correctness; phase 1 stays pure-delta). Serving inherits
    * [[IncrementalAgg.serve]]; [[repairJoinAggLeft]] restores exact
    * extrema, null group included. Returns (headA, headB). */
  def refreshJoinAggLeft(spark: SparkSession, a: String, b: String,
                         on: String, view: String, buckets: Int,
                         groupCol: String,
                         valueCols: Seq[String]): (Long, Long) = {
    val partials = s"${view}_partials"
    val sel = (groupCol +: valueCols).map(col)
    def phase2(pin: Long): Long =
      walkPairs(spark, b, 'b', partials, view, "createJoinAggLeft") {
        (x, y) =>
          val touched = Bucketed.diffGenerations(spark, b, x, y)
            .filter(col(on).isNotNull).select(on).distinct()
            .localCheckpoint(eager = false) // feeds three semi-joins
          val aT = Bucketed.loadAsOf(spark, a, pin)
            .join(touched, Seq(on), "left_semi")
            .localCheckpoint(eager = false) // feeds both halves
          def slice(bGen: Long) = aT.join(
            Bucketed.loadAsOf(spark, b, bGen)
              .join(touched, Seq(on), "left_semi"),
            Seq(on), "left").select(sel: _*)
          IncrementalAgg.append(slice(y), view, buckets, groupCol,
            valueCols, s"jaL-b-$x-$y-i")
          IncrementalAgg.retract(slice(x), view, buckets, groupCol,
            valueCols, s"jaL-b-$x-$y-d")
          ()
      }
    // recovery: a durable pin means a phase 2 crashed mid-flight —
    // finish it under the ORIGINAL A pin before anything else
    joinBookmark(spark, partials, 'p').foreach { pa =>
      phase2(pa)
      clearJoinBookmark(spark, partials, 'p')
    }
    val gb0 = joinBookmark(spark, partials, 'b').getOrElse(
      throw new IllegalStateException(
        s"$view has no side-b bookmark — createJoinAggLeft it first"))
    val ha = walkPairs(spark, a, 'a', partials, view, "createJoinAggLeft") {
      (x, y) =>
        applyDelta(
          Bucketed.diffGenerations(spark, a, x, y)
            .join(Bucketed.loadAsOf(spark, b, gb0), Seq(on), "left"),
          view, buckets, groupCol, valueCols, s"jaL-a-$x-$y")
    }
    writeJoinBookmark(spark, partials, 'p', ha)
    val hb = phase2(ha)
    clearJoinBookmark(spark, partials, 'p')
    (ha, hb)
  }

  /** [[repairJoinAgg]]'s left-outer form: recompute the retracted
    * groups' partials from the CURRENT left join — the NULL group
    * (partnerless A rows under a B-side groupCol) repairs like any
    * other ([[IncrementalAgg.repairGroups]]' null-safe group match).
    * Requires both bookmarks caught up. Returns buckets rewritten. */
  def repairJoinAggLeft(spark: SparkSession, a: String, b: String,
                        on: String, view: String, buckets: Int,
                        groupCol: String, valueCols: Seq[String]): Int =
    repairCaughtUp(spark, view, buckets, Seq((a, 'a'), (b, 'b')),
      Bucketed.load(spark, a).join(Bucketed.load(spark, b), Seq(on), "left"),
      groupCol, valueCols)

  /** [[repair]]'s join+agg form: recompute the retracted groups'
    * partials from the CURRENT join (one semi-joined pass over
    * a ⋈ b, rewritten at O(touched buckets)). Requires both bookmarks
    * caught up to their sources' heads. Returns buckets rewritten. */
  def repairJoinAgg(spark: SparkSession, a: String, b: String,
                    on: String, view: String, buckets: Int,
                    groupCol: String, valueCols: Seq[String]): Int =
    repairCaughtUp(spark, view, buckets, Seq((a, 'a'), (b, 'b')),
      Bucketed.load(spark, a).join(Bucketed.load(spark, b), on),
      groupCol, valueCols)

  /** Restore exact min/max for every group the deltas retracted: the
    * retracted groups are read from the view's own partials
    * (`retr > 0` — no side ledger), and their partials are recomputed
    * from the source's CURRENT rows via
    * [[IncrementalAgg.repairGroups]] (one source scan semi-joined to
    * the bounded group set + a rewrite of those groups' buckets).
    * Requires the view to be CAUGHT UP (bookmark == source head) —
    * repairing against a head the view hasn't applied would fold
    * unapplied deltas into the repaired groups ahead of their
    * exactly-once application. Returns buckets rewritten. */
  def repair(spark: SparkSession, source: String, view: String,
             buckets: Int, groupCol: String,
             valueCols: Seq[String]): Int = {
    val partials = s"${view}_partials"
    val from = Replication.bookmark(spark, partials).getOrElse(
      throw new IllegalStateException(s"$view has no bookmark"))
    val head = Bucketed.currentGeneration(spark, source)
    require(from == head,
      s"$view is at generation $from but $source is at $head — " +
        "refresh before repairing")
    IncrementalAgg.repairGroups(spark, view, buckets,
      Bucketed.load(spark, source), groupCol, valueCols,
      retractedGroups(spark, partials))
  }
}
