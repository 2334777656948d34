package graft.plans

import graft.SparkSuite
import graft.ops.Relational
import org.apache.spark.sql.functions._

/** Native as-of join (AsofJoinNode/Exec): semantics pinned AGAINST the
  * composed union+window form (same contract, two implementations), plus
  * the plan promises that justify the custom operator — at most one
  * exchange per side, no WindowExec, and output partitioning a
  * downstream key aggregate can reuse. */
class AsofJoinNativeSpec extends SparkSuite {

  test("matches at-or-before per key, inclusive ties, null payload wins") {
    import spark.implicits._
    val left = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 5L),
      (4L, "b", 10L)
    ).toDF("lid", "k", "t")
    val right = Seq(
      ("a", 8L, 100L, Some("x")), ("a", 10L, 101L, None),
      ("a", 15L, 102L, Some("y")),
      ("b", 10L, 103L, Some("z"))
    ).toDF("k", "t", "rid", "tag")
    val out = AsofJoin.join(left, right, keys = Seq("k"), tsCol = "t",
        payload = Seq("rid", "tag"))
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.getString(4))))
      .toMap
    // same pins as RelationalSpec's composed-form test: inclusive
    // equal-ts match, and the t=10 row's null tag must NOT fall back to
    // the older t=8 payload
    assert(out(1L) == (Some(101L), None))
    assert(out(2L) == (Some(102L), Some("y")))
    assert(out(3L) == (None, None))
    assert(out(4L) == (Some(103L), Some("z")))
  }

  test("rightTieBreak: last in ascending tie-break order wins at equal (key, ts)") {
    import spark.implicits._
    val left = Seq((1L, "a", 10L)).toDF("lid", "k", "t")
    val right = Seq(("a", 10L, 7L), ("a", 10L, 3L)).toDF("k", "t", "rid")
    val r = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid"),
      rightTieBreak = Seq("rid")).select("asof_rid").head()
    assert(r.getLong(0) == 7L)
  }

  test("null handling: null right ts never matches, null left ts gets null payload") {
    import spark.implicits._
    val left = Seq((1L, "a", Some(10L)), (2L, "a", None)).toDF("lid", "k", "t")
    val right = Seq(("a", None: Option[Long], 100L), ("a", Some(9L), 101L))
      .toDF("k", "t", "rid")
    val out = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L) == Some(101L)) // the null-ts right row is invisible
    assert(out(2L) == None)       // null left ts precedes nothing
  }

  test("empty right side: all left rows survive with null payloads") {
    import spark.implicits._
    val left = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("lid", "k", "t")
    val right = Seq.empty[(String, Long, Long)].toDF("k", "t", "rid")
    val out = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid")).collect()
    assert(out.length == 2 && out.forall(_.isNullAt(3)))
  }

  test("parity with the composed form on randomized multi-key data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // dense ts collisions + duplicate right ts per key so ties and
    // tie-breaks are exercised, plus keys present on only one side
    val left = (1 to 400).map { i =>
      (i.toLong, s"k${rnd.nextInt(12)}", s"g${rnd.nextInt(3)}", rnd.nextInt(40).toLong)
    }.toDF("lid", "k1", "k2", "t").repartition(7)
    val right = (1 to 300).map { i =>
      (i.toLong, s"k${rnd.nextInt(14)}", s"g${rnd.nextInt(3)}", rnd.nextInt(40).toLong)
    }.toDF("rid", "k1", "k2", "t").repartition(5)
    val native = AsofJoin.join(left, right, Seq("k1", "k2"), "t",
      payload = Seq("rid"), rightTieBreak = Seq("rid"))
    val composed = Relational.asofJoin(left, right, Seq("k1", "k2"), "t",
      payload = Seq("rid"), rightTieBreak = Seq("rid"))
    assert(native.columns.toSeq == composed.columns.toSeq)
    assert(native.count() == 400)
    assert(native.except(composed).isEmpty && composed.except(native).isEmpty)
  }

  test("plan: AsofJoinExec, one exchange per side, no window, no nested loop") {
    import spark.implicits._
    val left = (1L to 100L).map(i => (i, i % 5, i * 10)).toDF("lid", "k", "t")
    val right = (1L to 50L).map(i => (i, i % 5, i * 7)).toDF("rid", "k", "t")
    val p = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid"))
      .queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
  }

  test("pushdown: left-column filter moves below the join, key filter to both sides") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val dir = tempDir("asof_push").toString
    (1L to 100L).map(i => (i, i % 5, i * 10)).toDF("lid", "k", "t")
      .write.mode("overwrite").parquet(s"$dir/l")
    (1L to 50L).map(i => (i, i % 5, i * 7)).toDF("rid", "k", "t")
      .write.mode("overwrite").parquet(s"$dir/r")
    val left = spark.read.parquet(s"$dir/l")
    val right = spark.read.parquet(s"$dir/r")
    val joinedThenFiltered = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid"))
      .filter(col("lid") > 10 && col("k") === 2 && col("asof_rid").isNotNull)
    val optimized = joinedThenFiltered.queryExecution.optimizedPlan
    val j = optimized.collect { case n: AsofJoinNode => n } match {
      case Seq(one) => one
      case other => fail(s"expected one AsofJoinNode, got $other\n$optimized")
    }
    // both left conjuncts (lid > 10, k = 2) sit below the join on the
    // left; the key conjunct transferred to the right side too
    def filtersIn(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case f: LFilter => f.condition.sql }.mkString(";")
    assert(filtersIn(j.left).contains("10") && filtersIn(j.left).contains("2"),
      optimized.toString)
    assert(filtersIn(j.right).contains("2"), optimized.toString)
    // the payload conjunct is all that remains above
    optimized.collect { case f: LFilter if f.child.isInstanceOf[AsofJoinNode] =>
      assert(f.condition.references.map(_.name).toSet == Set("asof_rid"),
        f.condition.sql)
    }
    // and the pushed conjuncts reach the parquet scans as PushedFilters
    val phys = joinedThenFiltered.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(k,2\\)".r
      .findAllIn(phys).length == 2, phys)
    // semantics unchanged vs filtering the composed form's output
    val expect = Relational.asofJoin(left, right, Seq("k"), "t", Seq("rid"))
      .filter(col("lid") > 10 && col("k") === 2 && col("asof_rid").isNotNull)
    assert(joinedThenFiltered.except(expect).isEmpty &&
      expect.except(joinedThenFiltered).isEmpty)
  }

  test("pruning: a narrow select above the join drops unused LEFT columns at the scan") {
    import spark.implicits._
    val dir = tempDir("asof_prune").toString
    // wide left table: 4 payload-irrelevant columns beside (lid, k, t)
    (1L to 100L).map(i => (i, i % 5, i * 10,
        s"w1_$i", s"w2_$i", s"w3_$i", s"w4_$i"))
      .toDF("lid", "k", "t", "w1", "w2", "w3", "w4")
      .write.mode("overwrite").parquet(s"$dir/l")
    (1L to 50L).map(i => (i, i % 5, i * 7)).toDF("rid", "k", "t")
      .write.mode("overwrite").parquet(s"$dir/r")
    val left = spark.read.parquet(s"$dir/l")
    val right = spark.read.parquet(s"$dir/r")
    val narrow = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid"))
      .select("lid", "asof_rid")
    // the wide columns never reach the merge: the left scan's
    // ReadSchema carries only lid + the join's own k, t
    val phys = narrow.queryExecution.executedPlan.toString
    assert(!phys.contains("w1") && !phys.contains("w4"),
      s"unused left columns survived into the physical plan:\n$phys")
    assert("ReadSchema: [^\\n]*lid".r.findFirstIn(phys).isDefined, phys)
    // semantics unchanged
    val expect = Relational.asofJoin(left, right, Seq("k"), "t", Seq("rid"))
      .select("lid", "asof_rid")
    assert(narrow.except(expect).isEmpty && expect.except(narrow).isEmpty)
    // ...and a select that KEEPS a wide column keeps exactly that one
    val partial = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid"))
      .select("lid", "w2", "asof_rid")
    val physPartial = partial.queryExecution.executedPlan.toString
    assert(physPartial.contains("w2") && !physPartial.contains("w3"),
      physPartial)
    assert(partial.count() == 100)
  }

  test("pushdown: payload-referencing and nondeterministic conjuncts stay above") {
    import spark.implicits._
    val left = (1L to 50L).map(i => (i, i % 3, i * 10)).toDF("lid", "k", "t")
    val right = (1L to 30L).map(i => (i, i % 3, i * 7)).toDF("rid", "k", "t")
    val df = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid"))
      .filter(col("asof_rid") > 5 && rand(7) >= 0) // nondeterministic conjunct
    val j = df.queryExecution.optimizedPlan.collect { case n: AsofJoinNode => n }.head
    // neither conjunct may sink into a child
    def hasFilter(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.nonEmpty
    assert(!hasFilter(j.left) && !hasFilter(j.right),
      df.queryExecution.optimizedPlan.toString)
    assert(df.count() > 0)
  }

  test("plan: downstream groupBy on the join key reuses the partitioning (no new exchange)") {
    import spark.implicits._
    val left = (1L to 100L).map(i => (i, i % 5, i * 10)).toDF("lid", "k", "t")
    val right = (1L to 50L).map(i => (i, i % 5, i * 7)).toDF("rid", "k", "t")
    val agg = AsofJoin.join(left, right, Seq("k"), "t", Seq("rid"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val p = agg.queryExecution.executedPlan.toString
    // two input shuffles only — the aggregate rides the operator's
    // reported left partitioning, which the union+window form cannot offer
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert(agg.collect().map(r => r.getLong(1)).sum == 100L)
  }
}
