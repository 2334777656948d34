package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The round-12 default-load contract: load() returns a SNAPSHOT —
  * an explicit manifest-pinned file list that keeps the bucket spec —
  * so a pre-planned lazy DataFrame evaluated ACROSS a racing
  * maintenance commit reads exactly the generation it resolved:
  * never a mixed generation, never a FileNotFound (retention > 1),
  * while a fresh load() after the commit serves the new head. */
class SnapshotLoadSpec extends SparkSuite {
  import spark.implicits._

  test("a pre-planned load() frame is stable across a racing merge commit; a fresh load sees it") {
    val table = "graft_snap_race"
    try {
      Bucketed.save(
        (0 until 2000).map(i => (i.toLong, i.toLong * 10)).toDF("k", "v"),
        table, Seq("k"), 4)
      Bucketed.setRetention(spark, table, 4)
      // pre-plan the frame BEFORE the commit, evaluate only after
      val pinned = Bucketed.load(spark, table)
      val pinnedAgg = pinned.agg(count(lit(1)), sum("v"))
      // racing commits: a merge (rewrites two buckets) + an append
      Bucketed.mergeByKey(spark, table,
        (0 until 500).map(i => (i.toLong, -1L)).toDF("k", "v"))
      Bucketed.save(
        (2000 until 2100).map(i => (i.toLong, 7L)).toDF("k", "v"),
        table, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
      // the pinned frame still reads its own generation exactly — no
      // FNF (files stayed in place), no mixed generation (explicit
      // file list), values untouched by the merge
      val r = pinnedAgg.head()
      assert(r.getLong(0) == 2000L, s"pinned count: ${r.getLong(0)}")
      assert(r.getLong(1) == (0L until 2000L).map(_ * 10).sum,
        s"pinned sum: ${r.getLong(1)}")
      assert(pinned.filter(col("v") === -1L).count() == 0L)
      // a FRESH load serves the post-commit head
      val fresh = Bucketed.load(spark, table)
      assert(fresh.count() == 2100L)
      assert(fresh.filter(col("v") === -1L).count() == 500L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** No Exchange in `df`'s executed plan, with AQE and broadcast joins
    * off so the bucketed layout is the only way to avoid one. */
  private def assertNoExchange(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"),
      s"co-bucketed join must not shuffle:\n$plan")
  }

  private def withoutAqeOrBroadcast(tables: String*)(body: => Unit): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("snapshot frames keep the bucket spec (zero-Exchange co-located join) and push filters") {
    withoutAqeOrBroadcast("graft_snap_a", "graft_snap_b") {
      val a = (1 to 3000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 3000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      Bucketed.save(a, "graft_snap_a", Seq("k"), 4)
      Bucketed.save(b, "graft_snap_b", Seq("k"), 4)
      val joined = Bucketed.load(spark, "graft_snap_a")
        .join(Bucketed.load(spark, "graft_snap_b"), Seq("k"))
      assertNoExchange(joined)
      assert(joined.count() == 3000)
      // predicate pushdown reaches the explicit-file-list scan
      val filtered = Bucketed.load(spark, "graft_snap_a")
        .filter(col("k") === 17L)
      val fplan = filtered.queryExecution.executedPlan.toString
      assert(fplan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,17)]"),
        s"filter must push into the snapshot scan:\n$fplan")
      assert(filtered.count() == 1)
    }
  }

  test("hot-path load() is cache-served; schema evolution invalidates without a generation bump") {
    val table = "graft_snap_evolve"
    try {
      Bucketed.save(
        (0 until 100).map(i => (i.toLong, i.toLong)).toDF("k", "v"),
        table, Seq("k"), 2)
      val first = Bucketed.load(spark, table)
      // same generation → the SAME cached frame instance (zero FS calls)
      assert(Bucketed.load(spark, table) eq first)
      Bucketed.addColumn(spark, table, "note", "STRING")
      val evolved = Bucketed.load(spark, table)
      assert(!(evolved eq first),
        "addColumn must invalidate the cached snapshot frame")
      assert(evolved.columns.toSeq == Seq("k", "v", "note"))
      assert(evolved.filter(col("note").isNull).count() == 100)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("an older generation read through loadAsOf keeps the bucket spec and returns exactly its rows") {
    withoutAqeOrBroadcast("graft_snap_asof_a", "graft_snap_asof_b") {
      val a = "graft_snap_asof_a"
      Bucketed.save((1 to 3000).map(i => (i.toLong, s"a$i")).toDF("k", "va"),
        a, Seq("k"), 4)
      Bucketed.setRetention(spark, a, 3)
      val g0 = Bucketed.currentGeneration(spark, a)
      Bucketed.save((3001 to 3500).map(i => (i.toLong, s"a$i")).toDF("k", "va"),
        a, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
      assert(Bucketed.currentGeneration(spark, a) == g0 + 1)
      Bucketed.save((1 to 3500).map(i => (i.toLong, s"b$i")).toDF("k", "vb"),
        "graft_snap_asof_b", Seq("k"), 4)
      val joined = Bucketed.loadAsOf(spark, a, g0)
        .join(Bucketed.load(spark, "graft_snap_asof_b"), Seq("k"))
      assertNoExchange(joined)
      assert(joined.select("k").as[Long].collect().toSet
        == (1L to 3000L).toSet)
      assert(joined.count() == 3000L)
    }
  }

  test("a FileStats.loadWhere pruned frame keeps the bucket spec (zero-Exchange co-located join)") {
    withoutAqeOrBroadcast("graft_snap_where_a", "graft_snap_where_b") {
      val a = "graft_snap_where_a"
      // two commits over disjoint v ranges: the range prunes the second
      Bucketed.save((1 to 1500).map(i => (i.toLong, i.toLong)).toDF("k", "v"),
        a, Seq("k"), 4)
      Bucketed.save((1501 to 3000).map(i => (i.toLong, i.toLong)).toDF("k", "v"),
        a, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.save((1 to 3000).map(i => (i.toLong, s"b$i")).toDF("k", "vb"),
        "graft_snap_where_b", Seq("k"), 4)
      val (kept, pruned) = FileStats.splitFiles(spark, a, "v", 1L, 1500L)
      assert(kept.nonEmpty && pruned.nonEmpty, s"$kept / $pruned")
      val joined = FileStats.loadWhere(spark, a, Seq(("v", 1L, 1500L)))
        .join(Bucketed.load(spark, "graft_snap_where_b"), Seq("k"))
      assertNoExchange(joined)
      assert(joined.count() == 1500L)
    }
  }
}
