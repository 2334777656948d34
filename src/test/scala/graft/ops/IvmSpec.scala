package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.sources.Bucketed

/** Incremental view maintenance: the materialized aggregate follows a
  * governed source through appends, keyed updates, and deletes via
  * per-generation-pair deltas; replayed and partially-crashed
  * refreshes heal through the exactly-once tags; a bookmark behind
  * the retention window fails loudly. */
class IvmSpec extends SparkSuite {
  import spark.implicits._

  private def src(table: String, rows: Seq[(Long, Long, Long)]): Unit = {
    Bucketed.save(rows.toDF("id", "g", "v"), table, Seq("id"), 4)
    Bucketed.setRetention(spark, table, 10)
  }

  private def truth(table: String) =
    Bucketed.load(spark, table).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_q"))
      .select("g", "n", "sum_q")
      .as[(Long, Long, Long)].collect().toSet

  private def served(view: String) =
    Ivm.serve(spark, view).select("g", "n", "sum_q")
      .as[(Long, Long, Long)].collect().toSet

  test("view follows append, keyed update, and delete; count/sum exact; replay is a no-op") {
    val table = "graft_ivm_src"; val view = "graft_ivm_view"
    try {
      src(table, (0 until 60).map(i => (i.toLong, i % 5L, i.toLong)))
      Ivm.create(spark, table, view, 4, "g", Seq("v"))
      assert(served(view) == truth(table))
      // append new ids, update (delete+insert in the delta), delete
      Bucketed.save((60 until 80).map(i => (i.toLong, i % 5L, i.toLong))
        .toDF("id", "g", "v"), table, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, table,
        (0 until 80 by 7).map(i => (i.toLong, i % 5L, i + 1000L))
          .toDF("id", "g", "v"))
      Bucketed.mergeByKey(spark, table,
        (0 until 80 by 11).map(i => (i.toLong, i % 5L, 0L, true))
          .toDF("id", "g", "v", "del"), deleteCol = Some("del"))
      Ivm.refresh(spark, table, view, 4, "g", Seq("v"))
      assert(served(view) == truth(table))
      // a replayed refresh (same bookmark path) changes nothing
      Ivm.refresh(spark, table, view, 4, "g", Seq("v"))
      assert(served(view) == truth(table))
      // groups that saw retractions serve null min/max (the q155
      // contract); untouched groups keep exact extrema
      val mm = Ivm.serve(spark, view)
        .select("g", "min_q").as[(Long, Option[Long])].collect().toMap
      assert(mm.values.exists(_.isEmpty),
        "retracted groups must serve null min until repair")
      // repair recomputes the retracted groups from the source's
      // current rows: exact min/max everywhere, count/sum unchanged
      assert(Ivm.repair(spark, table, view, 4, "g", Seq("v")) > 0)
      assert(served(view) == truth(table))
      val mmTruth = Bucketed.load(spark, table).groupBy("g")
        .agg(min("v").as("mn"), max("v").as("mx"))
        .as[(Long, Long, Long)].collect()
        .map { case (g, mn, mx) => g -> ((mn, mx)) }.toMap
      val mmAfter = Ivm.serve(spark, view)
        .select("g", "min_q", "max_q").as[(Long, Long, Long)].collect()
        .map { case (g, mn, mx) => g -> ((mn, mx)) }.toMap
      assert(mmAfter == mmTruth, "repair must restore exact extrema")
      // repairing a stale view fails loudly
      Bucketed.mergeByKey(spark, table,
        Seq((999L, 0L, 999L)).toDF("id", "g", "v"))
      val e = intercept[IllegalArgumentException] {
        Ivm.repair(spark, table, view, 4, "g", Seq("v"))
      }
      assert(e.getMessage.contains("refresh before repairing"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${view}_partials")
    }
  }

  test("a crash between the append half and the bookmark heals on retry") {
    val table = "graft_ivm_crash"; val view = "graft_ivm_crash_view"
    try {
      src(table, (0 until 30).map(i => (i.toLong, i % 3L, i.toLong)))
      val g0 = Ivm.create(spark, table, view, 4, "g", Seq("v"))
      Bucketed.mergeByKey(spark, table,
        Seq((100L, 1L, 100L), (101L, 2L, 101L)).toDF("id", "g", "v"))
      val g1 = Bucketed.currentGeneration(spark, table)
      // simulate the crashed half-refresh: the pair's APPEND landed
      // (tag committed), the retract and the bookmark did not
      val diff = Bucketed.diffGenerations(spark, table, g0, g1)
      IncrementalAgg.append(
        diff.filter(col("change") === "insert").select("g", "v"),
        view, 4, "g", Seq("v"), s"ivm-$g0-$g1-i")
      // the retried refresh skips the landed half, applies the rest
      Ivm.refresh(spark, table, view, 4, "g", Seq("v"))
      assert(served(view) == truth(table))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${view}_partials")
    }
  }

  test("a bookmark behind the source's retention window fails loudly") {
    val table = "graft_ivm_gone"; val view = "graft_ivm_gone_view"
    try {
      Bucketed.save((0 until 20).map(i => (i.toLong, i % 3L, i.toLong))
        .toDF("id", "g", "v"), table, Seq("id"), 4)
      Bucketed.setRetention(spark, table, 2)
      Ivm.create(spark, table, view, 4, "g", Seq("v"))
      (1 to 3).foreach { i =>
        Bucketed.mergeByKey(spark, table,
          Seq((i.toLong, i % 3L, -1L)).toDF("id", "g", "v"))
      }
      val e = intercept[IllegalStateException] {
        Ivm.refresh(spark, table, view, 4, "g", Seq("v"))
      }
      assert(e.getMessage.contains("recreate"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${view}_partials")
    }
  }

  // ---- join-view maintenance -----------------------------------------

  private def mkJoinSources(a: String, b: String): Unit = {
    Bucketed.save((0 until 60).map(i => (i.toLong, i % 7L, i * 10L))
      .toDF("id", "j", "v"), a, Seq("id"), 4)
    Bucketed.setRetention(spark, a, 10)
    Bucketed.save((0 until 7).map(c => (c.toLong, s"name$c"))
      .toDF("j", "nm"), b, Seq("j"), 4)
    Bucketed.setRetention(spark, b, 10)
  }

  private def joinTruth(a: String, b: String) =
    Bucketed.load(spark, a).join(Bucketed.load(spark, b), "j")
      .select("id", "j", "v", "nm")
      .as[(Long, Long, Long, String)].collect().toSet

  private def joinServed(view: String) =
    Bucketed.load(spark, view).select("id", "j", "v", "nm")
      .as[(Long, Long, Long, String)].collect().toSet

  test("join view follows appends, updates, join-key moves, and deletes on BOTH sides") {
    val a = "graft_jivm_a"; val b = "graft_jivm_b"
    val view = "graft_jivm_view"
    try {
      mkJoinSources(a, b)
      Ivm.createJoin(spark, a, b, "j", view, 4, aKey = "id", bKey = "j")
      assert(joinServed(view) == joinTruth(a, b))
      // side A: append + value update + JOIN-KEY move + delete
      Bucketed.save((100 until 120).map(i => (i.toLong, i % 7L, i * 10L))
        .toDF("id", "j", "v"), a, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        Seq((3L, 3L, 99999L)).toDF("id", "j", "v"))       // value update
      Bucketed.mergeByKey(spark, a,
        Seq((5L, 6L, 50L)).toDF("id", "j", "v"))          // key 5: j 5→6
      Bucketed.mergeByKey(spark, a,
        Seq((8L, 1L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))                           // delete id 8
      // side B: update one dim row, delete another
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "renamed2")).toDF("j", "nm"))
      Bucketed.mergeByKey(spark, b,
        Seq((4L, "x", true)).toDF("j", "nm", "del"),
        deleteCol = Some("del"))
      Ivm.refreshJoin(spark, a, b, "j", view)
      assert(joinServed(view) == joinTruth(a, b))
      // replayed refresh: no-op
      Ivm.refreshJoin(spark, a, b, "j", view)
      assert(joinServed(view) == joinTruth(a, b))
    } finally {
      Seq(a, b, view).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("join view heals from a crash between an apply and its bookmark (stale-bookmark retry)") {
    val a = "graft_jivm_ca"; val b = "graft_jivm_cb"
    val view = "graft_jivm_cview"
    try {
      mkJoinSources(a, b)
      Ivm.createJoin(spark, a, b, "j", view, 4, aKey = "id", bKey = "j")
      val gb0 = Bucketed.currentGeneration(spark, b)
      Bucketed.mergeByKey(spark, a,
        Seq((7L, 0L, 777L)).toDF("id", "j", "v"))
      Bucketed.mergeByKey(spark, b,
        Seq((1L, "after1")).toDF("j", "nm"))
      Ivm.refreshJoin(spark, a, b, "j", view)
      assert(joinServed(view) == joinTruth(a, b))
      // simulate "apply landed, bookmark write crashed": roll the side-b
      // bookmark back one generation and refresh again — the re-applied
      // pair must be idempotent (delete-then-insert on the view keys)
      Ivm.writeJoinBookmark(spark, view, 'b', gb0)
      Ivm.refreshJoin(spark, a, b, "j", view)
      assert(joinServed(view) == joinTruth(a, b))
      // and mid-stream source commits between retries still converge
      Bucketed.mergeByKey(spark, a,
        Seq((9L, 2L, 909L)).toDF("id", "j", "v"))
      Ivm.writeJoinBookmark(spark, view, 'b', gb0)
      Ivm.refreshJoin(spark, a, b, "j", view)
      assert(joinServed(view) == joinTruth(a, b))
    } finally {
      Seq(a, b, view).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("join view: a bookmark behind a source's retention window fails loudly") {
    val a = "graft_jivm_ga"; val b = "graft_jivm_gb"
    val view = "graft_jivm_gview"
    try {
      Bucketed.save((0 until 20).map(i => (i.toLong, i % 3L, i.toLong))
        .toDF("id", "j", "v"), a, Seq("id"), 4)
      Bucketed.setRetention(spark, a, 2)
      Bucketed.save((0 until 3).map(c => (c.toLong, s"n$c"))
        .toDF("j", "nm"), b, Seq("j"), 4)
      Bucketed.setRetention(spark, b, 10)
      Ivm.createJoin(spark, a, b, "j", view, 4, aKey = "id", bKey = "j")
      (1 to 3).foreach { i =>
        Bucketed.mergeByKey(spark, a,
          Seq((i.toLong, i % 3L, -1L)).toDF("id", "j", "v"))
      }
      val e = intercept[IllegalStateException] {
        Ivm.refreshJoin(spark, a, b, "j", view)
      }
      assert(e.getMessage.contains("recreate"))
    } finally {
      Seq(a, b, view).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("refreshJoin kill-points: crash between phase-1 pairs and between apply and bookmark converge") {
    val a = "graft_jivm_ka"; val b = "graft_jivm_kb"
    val view = "graft_jivm_kview"
    try {
      mkJoinSources(a, b)
      Ivm.createJoin(spark, a, b, "j", view, 4, aKey = "id", bKey = "j")
      val a1 = Bucketed.currentGeneration(spark, a)
      val b1 = Bucketed.currentGeneration(spark, b)
      // two a-side commits and one b-side commit pending
      Bucketed.mergeByKey(spark, a,
        Seq((3L, 3L, 333L)).toDF("id", "j", "v"))
      val a2 = Bucketed.currentGeneration(spark, a)
      Bucketed.mergeByKey(spark, a,
        Seq((4L, 2L, 444L)).toDF("id", "j", "v"))
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "mid2")).toDF("j", "nm"))
      // KILL POINT 1 — crash BETWEEN phase-1 pairs: pair (a1,a2)
      // applied against B at the view's side-b bookmark AND its
      // bookmark written; pair (a2,a3) never ran. (This replicates
      // exactly what refreshJoin's phase 1 does per pair.)
      val dV1 = Bucketed.diffGenerations(spark, a, a1, a2)
        .join(Bucketed.loadAsOf(spark, b, b1), "j")
        .select(Seq("id", "j", "v", "nm", "change").map(col): _*)
      Bucketed.applyChanges(spark, view, dV1)
      Ivm.writeJoinBookmark(spark, view, 'a', a2)
      // the source world keeps moving before the retry
      Bucketed.mergeByKey(spark, b,
        Seq((5L, "late5")).toDF("j", "nm"))
      // retry: phase 1 re-pins its partner to the view's ACTUAL
      // side-b bookmark (still b1 — the scaladoc's crash analysis),
      // folds the remaining ΔA, then phase 2 catches B up to head
      Ivm.refreshJoin(spark, a, b, "j", view)
      assert(joinServed(view) == joinTruth(a, b))
      // KILL POINT 2 — crash between a phase-1 APPLY and its bookmark
      // write: the delta landed, the bookmark did not
      Bucketed.mergeByKey(spark, a,
        Seq((6L, 6L, 666L)).toDF("id", "j", "v"))
      val aPre = Bucketed.currentGeneration(spark, a)
      Bucketed.mergeByKey(spark, a,
        Seq((10L, 3L, 1010L)).toDF("id", "j", "v"))
      val bNow = Bucketed.currentGeneration(spark, b)
      val dV2 = Bucketed.diffGenerations(spark, a, aPre,
          Bucketed.currentGeneration(spark, a))
        .join(Bucketed.loadAsOf(spark, b, bNow), "j")
        .select(Seq("id", "j", "v", "nm", "change").map(col): _*)
      Bucketed.applyChanges(spark, view, dV2)
      // bookmark NOT written — the retry re-applies the same pair,
      // idempotent by the view's (aKey, bKey) delete-then-insert
      Ivm.refreshJoin(spark, a, b, "j", view)
      assert(joinServed(view) == joinTruth(a, b))
    } finally {
      Seq(a, b, view).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  // ---- LEFT-OUTER join-view maintenance --------------------------------

  private def mkOuterSources(a: String, b: String): Unit = {
    // j values 0..9 on the A side; B covers only 0..4 — j 5..9 start
    // null-extended
    Bucketed.save((0 until 60).map(i => (i.toLong, i % 10L, i * 10L))
      .toDF("id", "j", "v"), a, Seq("id"), 4)
    Bucketed.setRetention(spark, a, 10)
    Bucketed.save((0 until 5).map(c => (c.toLong, s"name$c"))
      .toDF("j", "nm"), b, Seq("j"), 4)
    Bucketed.setRetention(spark, b, 10)
  }

  private def outerTruth(a: String, b: String) =
    Bucketed.load(spark, a)
      .join(Bucketed.load(spark, b), Seq("j"), "left")
      .select("id", "j", "v", "nm")
      .as[(Long, Long, Long, Option[String])].collect().toSet

  private def outerServed(view: String) =
    Bucketed.load(spark, view).select("id", "j", "v", "nm")
      .as[(Long, Long, Long, Option[String])].collect().toSet

  test("left-outer view: null-extension appears and retracts as the inner side loses/gains partners") {
    val a = "graft_oivm_a"; val b = "graft_oivm_b"
    val view = "graft_oivm_view"
    try {
      mkOuterSources(a, b)
      Ivm.createJoinLeft(spark, a, b, "j", view, 4, aKey = "id")
      assert(outerServed(view) == outerTruth(a, b))
      assert(outerServed(view).exists(_._4.isEmpty),
        "j 5..9 must start null-extended")
      // 0→1 partners: j=7 gains its first B row — its A rows flip
      // from null-extended to matched
      Bucketed.save(Seq((7L, "late7")).toDF("j", "nm"), b, Seq("j"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      // 1→0 partners: j=2 loses its only B row — its A rows flip back
      // to null-extended
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "x", true)).toDF("j", "nm", "del"),
        deleteCol = Some("del"))
      // group GROWTH: j=3 gains a second B row (two matches per A row)
      Bucketed.save(Seq((3L, "also3")).toDF("j", "nm"), b, Seq("j"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      // A side: append (some to matched j, some to bare j), value
      // update, join-key move INTO a bare j, delete
      Bucketed.save((100 until 120).map(i => (i.toLong, i % 10L, i * 10L))
        .toDF("id", "j", "v"), a, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        Seq((1L, 1L, 11111L)).toDF("id", "j", "v"))
      Bucketed.mergeByKey(spark, a,
        Seq((4L, 8L, 40L)).toDF("id", "j", "v")) // j 4→8 (bare)
      Bucketed.mergeByKey(spark, a,
        Seq((9L, 9L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      Ivm.refreshJoinLeft(spark, a, b, "j", view)
      assert(outerServed(view) == outerTruth(a, b))
      val srv = outerServed(view)
      assert(srv.exists(r => r._2 == 7L && r._4.contains("late7")))
      assert(srv.filter(_._2 == 2L).forall(_._4.isEmpty))
      assert(srv.count(_._1 == 3L) == 2, "id 3 must hold TWO match rows")
      // replayed refresh: no-op
      Ivm.refreshJoinLeft(spark, a, b, "j", view)
      assert(outerServed(view) == outerTruth(a, b))
    } finally {
      Seq(a, b, view).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("left-outer kill-points: a re-applied transition pair and a lost bookmark both converge") {
    val a = "graft_oivm_ka"; val b = "graft_oivm_kb"
    val view = "graft_oivm_kview"
    try {
      mkOuterSources(a, b)
      Ivm.createJoinLeft(spark, a, b, "j", view, 4, aKey = "id")
      val b1 = Bucketed.currentGeneration(spark, b)
      // a 1→0 transition (delete j=1's row) and a 0→1 transition
      // (j=6 gains its first row) in two separate b generations
      Bucketed.mergeByKey(spark, b,
        Seq((1L, "x", true)).toDF("j", "nm", "del"),
        deleteCol = Some("del"))
      Bucketed.save(Seq((6L, "new6")).toDF("j", "nm"), b, Seq("j"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Ivm.refreshJoinLeft(spark, a, b, "j", view)
      assert(outerServed(view) == outerTruth(a, b))
      // crash between apply and bookmark, REPLAYED ACROSS BOTH
      // transitions: roll the side-b bookmark back and refresh — the
      // group recomputes are idempotent, so re-running the
      // null-extension flips must not duplicate or drop rows
      Ivm.writeJoinBookmark(spark, view, 'b', b1)
      Ivm.refreshJoinLeft(spark, a, b, "j", view)
      assert(outerServed(view) == outerTruth(a, b))
      // and with the world moving between crash and retry
      Bucketed.mergeByKey(spark, a,
        Seq((11L, 6L, 1100L)).toDF("id", "j", "v"))
      Ivm.writeJoinBookmark(spark, view, 'b', b1)
      Ivm.refreshJoinLeft(spark, a, b, "j", view)
      assert(outerServed(view) == outerTruth(a, b))
    } finally {
      Seq(a, b, view).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("full-outer view: B-side orphans appear and retract as join values lose/gain A rows") {
    val a = "graft_fivm_a"; val b = "graft_fivm_b"
    val view = "graft_fivm_view"
    try {
      Bucketed.save((0 until 60).map(i => (i.toLong, i % 10L, i * 10L))
        .toDF("id", "j", "v"), a, Seq("id"), 4)
      Bucketed.setRetention(spark, a, 10)
      Bucketed.save(
        ((0 until 5).map(c => (c.toLong, s"name$c")) :+ ((12L, "orph12")))
          .toDF("j", "nm"), b, Seq("j"), 4)
      Bucketed.setRetention(spark, b, 10)
      Ivm.createJoinFull(spark, a, b, "j", view, 4,
        aKey = "id", bKey = "j")
      def truth = Bucketed.load(spark, a)
        .join(Bucketed.load(spark, b), Seq("j"), "full")
        .select("id", "j", "v", "nm")
        .as[(Option[Long], Long, Option[Long], Option[String])]
        .collect().toSet
      def served = Ivm.serveJoinFull(spark, view)
        .select("id", "j", "v", "nm")
        .as[(Option[Long], Long, Option[Long], Option[String])]
        .collect().toSet
      assert(served == truth)
      assert(served.exists(r => r._1.isEmpty && r._2 == 12L),
        "the create-time partnerless B row must serve null-extended")
      val gbAfterCreate = Bucketed.currentGeneration(spark, b)
      // B side: new partnerless rows arrive → orphans appear
      Bucketed.save(Seq((20L, "orph20"), (21L, "orph21")).toDF("j", "nm"),
        b, Seq("j"), 4, mode = org.apache.spark.sql.SaveMode.Append)
      // A side: delete ALL A rows of j=3 → B's j=3 row becomes an
      // orphan (the 1→0 A-presence transition)
      Bucketed.mergeByKey(spark, a,
        (0 until 60).filter(_ % 10 == 3)
          .map(i => (i.toLong, 3L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      // A side: a row arrives for j=20 → that orphan retracts (0→1)
      Bucketed.mergeByKey(spark, a,
        Seq((100L, 20L, 1000L)).toDF("id", "j", "v"))
      // B churn: rename one orphan, delete a matched B row entirely
      Bucketed.mergeByKey(spark, b,
        Seq((12L, "renamed12")).toDF("j", "nm"))
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "x", true)).toDF("j", "nm", "del"),
        deleteCol = Some("del"))
      Ivm.refreshJoinFull(spark, a, b, "j", view)
      assert(served == truth)
      val srv = served
      assert(srv.exists(r => r._1.isEmpty && r._2 == 3L),
        "j=3 lost its last A row — its B row must orphan")
      assert(srv.exists(r => r._1.contains(100L) &&
        r._4.contains("orph20")), "j=20's orphan must retract to matched")
      assert(srv.exists(r => r._1.isEmpty && r._4.contains("orph21")))
      assert(srv.exists(r => r._1.isEmpty && r._4.contains("renamed12")))
      assert(srv.filter(_._2 == 2L).forall(_._4.isEmpty),
        "the deleted B row's A rows fall back to null-extended")
      // replayed refresh: no-op
      Ivm.refreshJoinFull(spark, a, b, "j", view)
      assert(served == truth)
      // kill-point: crash between an orphan apply and its bookmark —
      // roll the orphans' side-b bookmark back and refresh; the
      // membership recomputes are idempotent group-replaces
      Ivm.writeJoinBookmark(spark, s"${view}_orphans", 'b',
        gbAfterCreate)
      Ivm.refreshJoinFull(spark, a, b, "j", view)
      assert(served == truth)
    } finally {
      Seq(a, b, view, s"${view}_orphans").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("full-outer view: NULL join values stay orphans by definition (never equi-join)") {
    // bKey must differ from the join column here: a B row with a null
    // JOIN value is legal (it simply never matches), but the merge
    // KEY stays non-null — the bucket-key contract everywhere
    val a = "graft_fivm_na"; val b = "graft_fivm_nb"
    val view = "graft_fivm_nview"
    try {
      Bucketed.save(Seq((1L, 10L, 100L), (2L, 11L, 200L))
        .toDF("id", "j", "v"), a, Seq("id"), 2)
      Bucketed.setRetention(spark, a, 10)
      Bucketed.save(
        Seq((1L, Option(10L), "m10"), (2L, Option.empty[Long], "null0"))
          .toDF("bid", "j", "nm"), b, Seq("bid"), 2)
      Bucketed.setRetention(spark, b, 10)
      Ivm.createJoinFull(spark, a, b, "j", view, 2,
        aKey = "id", bKey = "bid")
      def served = Ivm.serveJoinFull(spark, view)
        .select("id", "nm").as[(Option[Long], Option[String])]
        .collect().toSet
      assert(served.contains((None, Some("null0"))),
        "the create-time null-join B row must serve null-extended")
      // a null-join row ARRIVING through refresh must serve too — the
      // semi-join membership path alone would silently drop it
      // (create and refresh must agree; review catch, round 13)
      Bucketed.save(
        Seq((3L, Option.empty[Long], "null1")).toDF("bid", "j", "nm"),
        b, Seq("bid"), 2, mode = org.apache.spark.sql.SaveMode.Append)
      Ivm.refreshJoinFull(spark, a, b, "j", view)
      assert(served.contains((None, Some("null1"))))
      assert(served.contains((None, Some("null0"))))
      assert(served.contains((Some(1L), Some("m10"))))
      // and a deleted null-join row leaves (keyed by its non-null bid)
      Bucketed.mergeByKey(spark, b,
        Seq((2L, Option.empty[Long], "x", true))
          .toDF("bid", "j", "nm", "del"),
        deleteCol = Some("del"))
      Ivm.refreshJoinFull(spark, a, b, "j", view)
      assert(!served.exists(_._2.contains("null0")))
      assert(served.contains((None, Some("null1"))))
      // replay: no-op
      Ivm.refreshJoinFull(spark, a, b, "j", view)
      assert(!served.exists(_._2.contains("null0")) &&
        served.contains((None, Some("null1"))))
    } finally {
      Seq(a, b, view, s"${view}_orphans").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("full-outer lockstep survives a B commit racing the left part's phase-2 walk") {
    // the ADVICE(r13) race: refreshJoinLeft used to RE-READ B's live
    // head for its return value; a B commit landing between the
    // phase-2 walk and the re-read handed refreshJoinFull an orphan
    // cap the left part had NOT folded — the orphans table folded and
    // bookmarked ahead, serveJoinFull mixed two B states until the
    // next refresh. Fixed: the walk's own fold head is the return.
    val a = "graft_fivm_ra"; val b = "graft_fivm_rb"
    val view = "graft_fivm_rview"
    try {
      mkOuterSources(a, b)
      Ivm.createJoinFull(spark, a, b, "j", view, 4,
        aKey = "id", bKey = "j")
      // real deltas on both sides so both walks actually fold
      Bucketed.save(Seq((7L, "late7")).toDF("j", "nm"), b, Seq("j"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        Seq((3L, 3L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      // the racing commit: lands the instant the phase-2 walk is done
      var planted = -1L
      Ivm.afterPhase2Walk = () => {
        planted = Bucketed.plantForeignCommit(spark, b)
      }
      val (_, hb) =
        try Ivm.refreshJoinFull(spark, a, b, "j", view)
        finally Ivm.afterPhase2Walk = () => ()
      assert(planted > hb,
        "fixture: the racing commit must postdate the returned head")
      // LOCKSTEP: the orphans' side-b bookmark must equal the left
      // part's — the racing generation folds NEXT refresh for BOTH
      val leftB = Ivm.joinBookmark(spark, view, 'b')
      val orphB = Ivm.joinBookmark(spark, s"${view}_orphans", 'b')
      assert(leftB.contains(hb), s"left part must hold $hb, got $leftB")
      assert(orphB == leftB,
        s"orphans folded past the left part: $orphB vs $leftB")
      // and the next refresh folds the planted generation for both,
      // still serving the exact FULL JOIN
      graft.sources.Bucketed.forgetVerified()
      Ivm.refreshJoinFull(spark, a, b, "j", view)
      assert(Ivm.joinBookmark(spark, view, 'b').contains(planted))
      assert(Ivm.joinBookmark(spark, s"${view}_orphans", 'b')
        .contains(planted))
      val truth = Bucketed.load(spark, a)
        .join(Bucketed.load(spark, b), Seq("j"), "full")
        .select("id", "j", "v", "nm")
        .as[(Option[Long], Long, Option[Long], Option[String])]
        .collect().toSet
      val srv = Ivm.serveJoinFull(spark, view)
        .select("id", "j", "v", "nm")
        .as[(Option[Long], Long, Option[Long], Option[String])]
        .collect().toSet
      assert(srv == truth)
    } finally {
      Ivm.afterPhase2Walk = () => ()
      Seq(a, b, view, s"${view}_orphans").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  // ---- single-view join+agg maintenance --------------------------------

  private def jaggTruth(a: String, b: String) =
    Bucketed.load(spark, a).join(Bucketed.load(spark, b), "j")
      .groupBy("nm")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_q"))
      .select("nm", "n", "sum_q")
      .as[(String, Long, Long)].collect().toSet

  private def jaggServed(view: String) =
    Ivm.serve(spark, view).select("g", "n", "sum_q")
      .as[(String, Long, Long)].collect().toSet

  test("join+agg single view follows both sides; repair restores exact extrema; replay is a no-op") {
    val a = "graft_jagg_a"; val b = "graft_jagg_b"
    val view = "graft_jagg_view"
    try {
      mkJoinSources(a, b)
      Ivm.createJoinAgg(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggServed(view) == jaggTruth(a, b))
      // side A: append + update + join-key move + delete; side B:
      // rename a dim (moves its groups' rows to a new group) + delete
      Bucketed.save((100 until 130).map(i => (i.toLong, i % 7L, i * 10L))
        .toDF("id", "j", "v"), a, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        Seq((3L, 3L, 99999L)).toDF("id", "j", "v"))
      Bucketed.mergeByKey(spark, a,
        Seq((5L, 6L, 50L)).toDF("id", "j", "v"))
      Bucketed.mergeByKey(spark, a,
        Seq((8L, 1L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "renamed2")).toDF("j", "nm"))
      Bucketed.mergeByKey(spark, b,
        Seq((4L, "x", true)).toDF("j", "nm", "del"),
        deleteCol = Some("del"))
      Ivm.refreshJoinAgg(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggServed(view) == jaggTruth(a, b))
      // retracted groups serve null extrema until the join-aware repair
      val mm = Ivm.serve(spark, view)
        .select("g", "min_q").as[(String, Option[Long])].collect().toMap
      assert(mm.values.exists(_.isEmpty))
      assert(Ivm.repairJoinAgg(spark, a, b, "j", view, 4, "nm", Seq("v")) > 0)
      val exact = Bucketed.load(spark, a).join(Bucketed.load(spark, b), "j")
        .groupBy("nm")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_q"),
          min("v").as("min_q"), max("v").as("max_q"))
        .select("nm", "n", "sum_q", "min_q", "max_q")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val got = Ivm.serve(spark, view)
        .select("g", "n", "sum_q", "min_q", "max_q")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(got == exact)
      // replay: a rolled-back bookmark re-walks pairs whose tags are
      // already committed — exactly-once makes it a strict no-op
      Ivm.writeJoinBookmark(spark, s"${view}_partials", 'b',
        Bucketed.generations(spark, b).head)
      Ivm.refreshJoinAgg(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggServed(view) == jaggTruth(a, b))
    } finally {
      Seq(a, b, view, s"${view}_partials").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("multi-measure join+agg view: both measures follow both sides; repair exact; replay no-op") {
    val a = "graft_jaggm_a"; val b = "graft_jaggm_b"
    val view = "graft_jaggm_view"
    def truthM = Bucketed.load(spark, a)
      .join(Bucketed.load(spark, b), "j")
      .groupBy("nm")
      .agg(count(lit(1)).as("n"), sum("v").as("s0"), sum("id").as("s1"))
      .select("nm", "n", "s0", "s1")
      .as[(String, Long, Long, Long)].collect().toSet
    def servedM = Ivm.serve(spark, view)
      .select("g", "n", "sum_q_0", "sum_q_1")
      .as[(String, Long, Long, Long)].collect().toSet
    try {
      mkJoinSources(a, b)
      Ivm.createJoinAgg(spark, a, b, "j", view, 4, "nm",
        Seq("v", "id"))
      assert(servedM == truthM)
      // fact append + update + delete; dim rename (moves BOTH
      // measures' rows across groups) + delete
      Bucketed.save((100 until 130).map(i => (i.toLong, i % 7L, i * 10L))
        .toDF("id", "j", "v"), a, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        Seq((3L, 3L, 99999L)).toDF("id", "j", "v"))
      Bucketed.mergeByKey(spark, a,
        Seq((8L, 1L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "renamed2")).toDF("j", "nm"))
      Bucketed.mergeByKey(spark, b,
        Seq((4L, "x", true)).toDF("j", "nm", "del"),
        deleteCol = Some("del"))
      Ivm.refreshJoinAgg(spark, a, b, "j", view, 4, "nm",
        Seq("v", "id"))
      assert(servedM == truthM)
      // retraction-touched groups serve null extrema for EVERY
      // measure; the join-aware multi repair restores all of them
      assert(Ivm.serve(spark, view).select("min_q_1")
        .as[Option[Long]].collect().exists(_.isEmpty))
      assert(Ivm.repairJoinAgg(spark, a, b, "j", view, 4, "nm",
        Seq("v", "id")) > 0)
      val exact = Bucketed.load(spark, a)
        .join(Bucketed.load(spark, b), "j")
        .groupBy("nm")
        .agg(min("v").as("m0"), max("v").as("x0"),
          min("id").as("m1"), max("id").as("x1"))
        .select("nm", "m0", "x0", "m1", "x1")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val got = Ivm.serve(spark, view)
        .select("g", "min_q_0", "max_q_0", "min_q_1", "max_q_1")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(got == exact)
      // replay: rolled-back bookmark → tags skip, strict no-op
      Ivm.writeJoinBookmark(spark, s"${view}_partials", 'b',
        Bucketed.generations(spark, b).head)
      Ivm.refreshJoinAgg(spark, a, b, "j", view, 4, "nm",
        Seq("v", "id"))
      assert(servedM == truthM)
    } finally {
      Seq(a, b, view, s"${view}_partials").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  // ---- single-view LEFT-outer join+agg ---------------------------------

  private def jaggLeftTruth(a: String, b: String) =
    Bucketed.load(spark, a)
      .join(Bucketed.load(spark, b), Seq("j"), "left")
      .groupBy("nm")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_q"))
      .select("nm", "n", "sum_q")
      .as[(Option[String], Long, Long)].collect().toSet

  private def jaggLeftServed(view: String) =
    Ivm.serve(spark, view).select("g", "n", "sum_q")
      .as[(Option[String], Long, Long)].collect().toSet

  test("left join+agg view: the NULL group absorbs 0↔1 partner transitions; repair exact incl. null group") {
    val a = "graft_jaggl_a"; val b = "graft_jaggl_b"
    val view = "graft_jaggl_view"
    try {
      mkOuterSources(a, b) // A has j 0..9, B covers 0..4: j 5..9 start
                           // in the NULL group
      Ivm.createJoinAggLeft(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggLeftServed(view) == jaggLeftTruth(a, b))
      assert(jaggLeftServed(view).exists(_._1.isEmpty),
        "partnerless rows must serve under the NULL group")
      // 0→1: j=7 gains its first B row (its rows LEAVE the null
      // group); 1→0: j=2 loses its B row (its rows ENTER it); plus
      // A-side append/update/delete and a B-side rename
      Bucketed.save(Seq((7L, "late7")).toDF("j", "nm"), b, Seq("j"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "x", true)).toDF("j", "nm", "del"),
        deleteCol = Some("del"))
      Bucketed.mergeByKey(spark, b,
        Seq((3L, "renamed3")).toDF("j", "nm"))
      Bucketed.save((100 until 120).map(i => (i.toLong, i % 10L, i * 10L))
        .toDF("id", "j", "v"), a, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        Seq((1L, 1L, 11111L)).toDF("id", "j", "v"))
      Bucketed.mergeByKey(spark, a,
        Seq((9L, 9L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      Ivm.refreshJoinAggLeft(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggLeftServed(view) == jaggLeftTruth(a, b))
      assert(jaggLeftServed(view).exists(r =>
        r._1.contains("late7")), "j=7's rows must now group matched")
      // repair restores exact extrema INCLUDING the null group (the
      // null-safe group match — a plain equi-join would skip it)
      assert(Ivm.repairJoinAggLeft(spark, a, b, "j", view, 4,
        "nm", Seq("v")) > 0)
      val exact = Bucketed.load(spark, a)
        .join(Bucketed.load(spark, b), Seq("j"), "left")
        .groupBy("nm")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_q"),
          min("v").as("min_q"), max("v").as("max_q"))
        .select("nm", "n", "sum_q", "min_q", "max_q")
        .as[(Option[String], Long, Long, Long, Long)].collect().toSet
      val got = Ivm.serve(spark, view)
        .select("g", "n", "sum_q", "min_q", "max_q")
        .as[(Option[String], Long, Long, Long, Long)].collect().toSet
      assert(got == exact,
        "post-repair the view must be exact, null group included")
      // replay: rolled-back bookmark → tags skip, strict no-op
      Ivm.writeJoinBookmark(spark, s"${view}_partials", 'b',
        Bucketed.generations(spark, b).head)
      Ivm.refreshJoinAggLeft(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggLeftServed(view) == jaggLeftTruth(a, b))
    } finally {
      Seq(a, b, view, s"${view}_partials").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("left join+agg heals a crashed phase 2 even when A moves before the retry (durable pin)") {
    val a = "graft_jaggl_pa"; val b = "graft_jaggl_pb"
    val view = "graft_jaggl_pview"
    try {
      mkOuterSources(a, b)
      Ivm.createJoinAggLeft(spark, a, b, "j", view, 4, "nm", Seq("v"))
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "renamed2")).toDF("j", "nm"))
      Ivm.refreshJoinAggLeft(spark, a, b, "j", view, 4, "nm", Seq("v"))
      // phase-2 halves committed, crash before the side-b bookmark:
      // roll back + restore the durable pin, then move A with a row
      // that joins the changed dim (the lost-ΔA⋈ΔB scenario)
      val bGens = Bucketed.generations(spark, b)
      Ivm.writeJoinBookmark(spark, s"${view}_partials", 'b',
        bGens(bGens.size - 2))
      Ivm.writeJoinBookmark(spark, s"${view}_partials", 'p',
        Bucketed.currentGeneration(spark, a))
      Bucketed.mergeByKey(spark, a,
        Seq((200L, 2L, 5000L)).toDF("id", "j", "v"))
      Ivm.refreshJoinAggLeft(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggLeftServed(view) == jaggLeftTruth(a, b))
      Ivm.refreshJoinAggLeft(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggLeftServed(view) == jaggLeftTruth(a, b))
    } finally {
      Seq(a, b, view, s"${view}_partials").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("join+agg heals a crashed phase 2 even when A moves before the retry (durable pin)") {
    val a = "graft_jagg_pa"; val b = "graft_jagg_pb"
    val view = "graft_jagg_pview"
    try {
      mkJoinSources(a, b)
      Ivm.createJoinAgg(spark, a, b, "j", view, 4, "nm", Seq("v"))
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "renamed2")).toDF("j", "nm"))
      Ivm.refreshJoinAgg(spark, a, b, "j", view, 4, "nm", Seq("v"))
      // simulate "phase-2 halves committed, crash before the side-b
      // bookmark write": roll the bookmark back one b generation and
      // restore the pin the crashed refresh had written (the A head
      // its tags were computed against)
      val bGens = Bucketed.generations(spark, b)
      Ivm.writeJoinBookmark(spark, s"${view}_partials", 'b',
        bGens(bGens.size - 2))
      Ivm.writeJoinBookmark(spark, s"${view}_partials", 'p',
        Bucketed.currentGeneration(spark, a))
      // A moves before the retry: a new fact row joining the CHANGED
      // dim — the review's lost-ΔA⋈ΔB scenario. Without the durable
      // pin, the retry's phase 1 would fold this row against the
      // rolled-back B state (old dim name) while the tag-skipped
      // phase 2 never re-joins it — the renamed group stays short
      // forever.
      Bucketed.mergeByKey(spark, a,
        Seq((200L, 2L, 5000L)).toDF("id", "j", "v"))
      Ivm.refreshJoinAgg(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggServed(view) == jaggTruth(a, b))
      // the pin is cleared on completion: a further refresh is a no-op
      Ivm.refreshJoinAgg(spark, a, b, "j", view, 4, "nm", Seq("v"))
      assert(jaggServed(view) == jaggTruth(a, b))
    } finally {
      Seq(a, b, view, s"${view}_partials").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  // ---- multi-measure view ----------------------------------------------

  test("multi-measure view: one view serves both measures through churn; repair exact; replay no-op") {
    val table = "graft_ivmm_src"; val view = "graft_ivmm_view"
    def truthM = Bucketed.load(spark, table).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("s0"), sum("w").as("s1"))
      .select("g", "n", "s0", "s1")
      .as[(Long, Long, Long, Long)].collect().toSet
    def servedM = Ivm.serve(spark, view)
      .select("g", "n", "sum_q_0", "sum_q_1")
      .as[(Long, Long, Long, Long)].collect().toSet
    try {
      Bucketed.save((0 until 60).map(i => (i.toLong, i % 5L, i.toLong,
        i * 3L)).toDF("id", "g", "v", "w"), table, Seq("id"), 4)
      Bucketed.setRetention(spark, table, 10)
      Ivm.create(spark, table, view, 4, "g", Seq("v", "w"))
      assert(servedM == truthM)
      // append, keyed update (bumps ONE measure), keyed delete
      Bucketed.save((60 until 80).map(i => (i.toLong, i % 5L, i.toLong,
        i * 3L)).toDF("id", "g", "v", "w"), table, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, table,
        Seq((7L, 2L, 700L, 21L)).toDF("id", "g", "v", "w"))
      Bucketed.mergeByKey(spark, table,
        Seq((8L, 3L, 0L, 0L, true)).toDF("id", "g", "v", "w", "del"),
        deleteCol = Some("del"))
      Ivm.refresh(spark, table, view, 4, "g", Seq("v", "w"))
      assert(servedM == truthM)
      // retraction-touched groups serve null extrema for EVERY measure
      // until repair; after repair both measures' extrema are exact
      val touched = Ivm.serve(spark, view)
        .filter(col("g").isin(2L, 3L))
        .select("min_q_0", "max_q_1")
        .as[(Option[Long], Option[Long])].collect()
      assert(touched.forall(t => t._1.isEmpty && t._2.isEmpty),
        "retracted groups must serve null extrema for all measures")
      assert(Ivm.repair(spark, table, view, 4, "g",
        Seq("v", "w")) > 0)
      val exact = Bucketed.load(spark, table).groupBy("g")
        .agg(min("v").as("m0"), max("v").as("x0"),
          min("w").as("m1"), max("w").as("x1"))
        .select("g", "m0", "x0", "m1", "x1")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val got = Ivm.serve(spark, view)
        .select("g", "min_q_0", "max_q_0", "min_q_1", "max_q_1")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == exact)
      // replay: rolled-back bookmark → tags skip, strict no-op
      graft.sources.Replication.writeBookmark(spark,
        s"${view}_partials", Bucketed.generations(spark, table).head)
      Ivm.refresh(spark, table, view, 4, "g", Seq("v", "w"))
      assert(servedM == truthM)
    } finally {
      Seq(table, view, s"${view}_partials").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("multi-measure left join+agg view: A-side and B-side measures through 0↔1 transitions; repair exact") {
    val a = "graft_jagglm_a"; val b = "graft_jagglm_b"
    val view = "graft_jagglm_view"
    def truthM = Bucketed.load(spark, a)
      .join(Bucketed.load(spark, b), Seq("j"), "left")
      .groupBy("nm")
      .agg(count(lit(1)).as("n"), sum("v").as("s0"),
        coalesce(sum("bw"), lit(0L)).as("s1"))
      .select("nm", "n", "s0", "s1")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    def servedM = Ivm.serve(spark, view)
      .select("g", "n", "sum_q_0", "sum_q_1")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    try {
      // B carries a NUMERIC measure too: partnerless A rows take null
      // for it (counted, not summed) — the measure-level null
      // extension beside the group-level one
      Bucketed.save((0 until 60).map(i => (i.toLong, i % 10L, i * 10L))
        .toDF("id", "j", "v"), a, Seq("id"), 4)
      Bucketed.setRetention(spark, a, 10)
      Bucketed.save((0 until 5).map(c => (c.toLong, s"name$c", c * 100L))
        .toDF("j", "nm", "bw"), b, Seq("j"), 4)
      Bucketed.setRetention(spark, b, 10)
      Ivm.createJoinAggLeft(spark, a, b, "j", view, 4, "nm",
        Seq("v", "bw"))
      assert(servedM == truthM)
      assert(servedM.exists(_._1.isEmpty),
        "partnerless rows must serve under the NULL group")
      // 0→1 (j=7 gains a partner: its rows leave the NULL group and
      // gain a bw), 1→0 (j=2 loses its partner), fact churn
      Bucketed.save(Seq((7L, "late7", 700L)).toDF("j", "nm", "bw"),
        b, Seq("j"), 4, mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "x", 0L, true)).toDF("j", "nm", "bw", "del"),
        deleteCol = Some("del"))
      Bucketed.save((100 until 120).map(i => (i.toLong, i % 10L,
        i * 10L)).toDF("id", "j", "v"), a, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        Seq((9L, 9L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      Ivm.refreshJoinAggLeft(spark, a, b, "j", view, 4, "nm",
        Seq("v", "bw"))
      assert(servedM == truthM)
      assert(Ivm.repairJoinAggLeft(spark, a, b, "j", view, 4,
        "nm", Seq("v", "bw")) > 0)
      val exact = Bucketed.load(spark, a)
        .join(Bucketed.load(spark, b), Seq("j"), "left")
        .groupBy("nm")
        .agg(min("v").as("m0"), max("v").as("x0"),
          min("bw").as("m1"), max("bw").as("x1"))
        .select("nm", "m0", "x0", "m1", "x1")
        .as[(Option[String], Option[Long], Option[Long], Option[Long],
          Option[Long])].collect().toSet
      val got = Ivm.serve(spark, view)
        .select("g", "min_q_0", "max_q_0", "min_q_1", "max_q_1")
        .as[(Option[String], Option[Long], Option[Long], Option[Long],
          Option[Long])].collect().toSet
      assert(got == exact,
        "post-repair exact for both measures, null group included")
      // replay: rolled-back bookmark → tags skip, strict no-op
      Ivm.writeJoinBookmark(spark, s"${view}_partials", 'b',
        Bucketed.generations(spark, b).head)
      Ivm.refreshJoinAggLeft(spark, a, b, "j", view, 4, "nm",
        Seq("v", "bw"))
      assert(servedM == truthM)
    } finally {
      Seq(a, b, view, s"${view}_partials").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("multi-measure pair rollup: both null-fill directions fold through matched↔orphan flips") {
    val a = "graft_ivfrm_a"; val b = "graft_ivfrm_b"
    val full = "graft_ivfrm_full"; val roll = "graft_ivfrm_roll"
    def truthR = Bucketed.load(spark, a)
      .join(Bucketed.load(spark, b), Seq("j"), "full")
      .groupBy("nm")
      .agg(count(lit(1)).as("n"),
        coalesce(sum("v"), lit(0L)).as("s0"),
        coalesce(sum("bw"), lit(0L)).as("s1"))
      .select("nm", "n", "s0", "s1")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    def servedR = Ivm.serve(spark, roll)
      .select("g", "n", "sum_q_0", "sum_q_1")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    try {
      Bucketed.save((0 until 60).map(i => (i.toLong, i % 10L, i * 10L))
        .toDF("id", "j", "v"), a, Seq("id"), 4)
      Bucketed.setRetention(spark, a, 10)
      Bucketed.save((0 until 5).map(c => (c.toLong, s"name$c", c * 100L))
        .toDF("j", "nm", "bw"), b, Seq("j"), 4)
      Bucketed.setRetention(spark, b, 10)
      Ivm.createJoinFull(spark, a, b, "j", full, 4,
        aKey = "id", bKey = "j")
      Bucketed.setRetention(spark, full, 16)
      Bucketed.setRetention(spark, s"${full}_orphans", 16)
      Ivm.createOverFull(spark, full, roll, 4, "nm",
        Seq("v", "bw"))
      assert(servedR == truthR)
      // an orphan arrives (j=55: bw real, v null), a matched B row
      // flips to orphan (delete ALL A rows of j=3), a B row deletes
      // (its A rows flip to the NULL group), plus A appends
      Bucketed.save(Seq((55L, "orphan55", 5500L))
        .toDF("j", "nm", "bw"), b, Seq("j"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        (0 until 60).filter(_ % 10 == 3).map(i =>
          (i.toLong, 3L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "x", 0L, true)).toDF("j", "nm", "bw", "del"),
        deleteCol = Some("del"))
      Bucketed.save((100 until 110).filter(_ % 10 != 3)
        .map(i => (i.toLong, i % 10L, i * 10L)).toDF("id", "j", "v"),
        a, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Ivm.refreshJoinFull(spark, a, b, "j", full)
      Ivm.refreshOverFull(spark, full, roll, 4, "nm",
        Seq("v", "bw"))
      assert(servedR == truthR)
      assert(servedR.exists(r => r._1.contains("name3") && r._2 == 1L),
        "j=3's B row must count as an orphan: n=1, v-fold 0, bw real")
      assert(Ivm.repairOverFull(spark, full, roll, 4, "nm",
        Seq("v", "bw")) > 0)
      assert(servedR == truthR)
    } finally {
      Seq(a, b, full, s"${full}_orphans", roll, s"${roll}_partials")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  // ---- rollup following the full-outer pair ----------------------------

  test("pair rollup follows the full view through matched↔orphan flips; repair exact incl. null group") {
    val a = "graft_ivfr_a"; val b = "graft_ivfr_b"
    val full = "graft_ivfr_full"; val roll = "graft_ivfr_roll"
    def truthR = Bucketed.load(spark, a)
      .join(Bucketed.load(spark, b), Seq("j"), "full")
      .groupBy("nm")
      .agg(count(lit(1)).as("n"),
        coalesce(sum("v"), lit(0L)).as("sum_q"))
      .select("nm", "n", "sum_q")
      .as[(Option[String], Long, Long)].collect().toSet
    def servedR = Ivm.serve(spark, roll).select("g", "n", "sum_q")
      .as[(Option[String], Long, Long)].collect().toSet
    try {
      mkOuterSources(a, b)
      Ivm.createJoinFull(spark, a, b, "j", full, 4,
        aKey = "id", bKey = "j")
      Bucketed.setRetention(spark, full, 16)
      Bucketed.setRetention(spark, s"${full}_orphans", 16)
      Ivm.createOverFull(spark, full, roll, 4, "nm", Seq("v"))
      assert(servedR == truthR)
      // churn: a B row arrives matched (j=7 — A covers 0..9), one
      // arrives a real orphan (j=55), ALL A rows of j=3 are deleted
      // (its B row flips matched→orphan), B's j=2 row is deleted
      // (its A rows flip into the NULL group), plus A appends
      Bucketed.save(Seq((7L, "late7"), (55L, "orphan55"))
        .toDF("j", "nm"), b, Seq("j"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, a,
        (0 until 60).filter(_ % 10 == 3).map(i =>
          (i.toLong, 3L, 0L, true)).toDF("id", "j", "v", "del"),
        deleteCol = Some("del"))
      Bucketed.mergeByKey(spark, b,
        Seq((2L, "x", true)).toDF("j", "nm", "del"),
        deleteCol = Some("del"))
      Bucketed.save((100 until 110).filter(_ % 10 != 3)
        .map(i => (i.toLong, i % 10L, i * 10L)).toDF("id", "j", "v"),
        a, Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Ivm.refreshJoinFull(spark, a, b, "j", full)
      Ivm.refreshOverFull(spark, full, roll, 4, "nm", Seq("v"))
      assert(servedR == truthR)
      assert(servedR.exists(r => r._1.contains("name3") && r._2 == 1L),
        "j=3's B row must have flipped to a counted orphan (n=1, null v)")
      // repair: extrema exact, the NULL group (partnerless A rows)
      // repaired like any other via the null-safe group match
      assert(Ivm.repairOverFull(spark, full, roll, 4, "nm", Seq("v")) > 0)
      val exact = Bucketed.load(spark, a)
        .join(Bucketed.load(spark, b), Seq("j"), "full")
        .groupBy("nm")
        .agg(min("v").as("mn"), max("v").as("mx"))
        .select("nm", "mn", "mx")
        .as[(Option[String], Option[Long], Option[Long])].collect().toSet
      val got = Ivm.serve(spark, roll)
        .select("g", "min_q", "max_q")
        .as[(Option[String], Option[Long], Option[Long])].collect().toSet
      assert(got == exact)
      // replay: both bookmarks rolled back → tags skip, strict no-op
      for ((t, side) <- Seq((full, 'l'), (s"${full}_orphans", 'o')))
        Ivm.writeJoinBookmark(spark, s"${roll}_partials", side,
          Bucketed.generations(spark, t).head)
      Ivm.refreshOverFull(spark, full, roll, 4, "nm", Seq("v"))
      assert(servedR == truthR)
    } finally {
      Seq(a, b, full, s"${full}_orphans", roll, s"${roll}_partials")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
