package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Physical-plan regression tests: the properties that matter at 100 TB
  * (broadcasts, pushdown, codegen, shuffle counts) asserted against
  * `.explain` output so a refactor can't silently de-optimize a plan. */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("flagship joins broadcast the dimension side") {
    val p = plan(graft.etl.Flagship.run(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "vocab/dim joins must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("filter + projection push into the parquet scan") {
    val df = Tables.table(spark, dir, "lineitem")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"),
      s"filter must reach the scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:"),
      "scan must prune to the 2 projected columns")
  }

  test("anti/semi joins plan as broadcast or shuffled hash joins, never cartesian") {
    val anti = plan(SparkEntry.queries("q04_anti_join")(spark, dir))
    assert(anti.contains("LeftAnti"), anti)
    val semi = plan(SparkEntry.queries("q05_semi_join")(spark, dir))
    assert(semi.contains("LeftSemi"), semi)
    assert(!anti.contains("CartesianProduct") && !semi.contains("CartesianProduct"))
  }

  test("exact dedup is one shuffle (hash partition on key), no global sort") {
    val p = plan(graft.text.Dedup.exact(
      spark.read.parquet(s"$dir/documents.parquet")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 hash exchange:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), "no global sort")
  }

  test("aggregations are partial+final hash aggregates (map-side combine)") {
    val p = plan(Tables.table(spark, dir, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity")))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "partial + final hash aggregate expected")
  }

  test("flagship per-row triple construction stays in codegen") {
    // the Generates (explode) must participate in whole-stage codegen —
    // an interpreted generator cost 30x on this pipeline. AQE finalizes
    // codegen stages at execution, so run the query first and assert on
    // the final plan section.
    // collect() (not write) so THIS DataFrame's QueryExecution is the one
    // that runs — a write wraps the plan in its own QueryExecution and
    // df's would stay un-finalized (no codegen stages to inspect)
    val df = graft.etl.Flagship.run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val gens = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gens.nonEmpty, p)
    gens.foreach { gen =>
      assert(gen.replaceAll("^[:\\s+\\-]*", "").startsWith("*"),
        s"Generate must be codegen'd: $gen")
    }
  }

  test("sequential-id queries have no partition-less WindowExec") {
    // W2 rides the two-pass zipWithIndex scan; a partition-less window
    // ("WindowExec: No Partition Defined") funnels all data into one task
    Seq("q09_seq_ids", "q36_premis_events").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("Window"), s"$q must not use a window:\n$p")
    }
  }

  test("brute-force ANN: one corpus scan, no join node, only the top-k shuffle") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val p = plan(graft.sim.Similarity.bruteForceTopK(e.limit(20), e, 5))
    // the query side is collected+broadcast into a single map pass over
    // the corpus — no join operator of any kind should appear
    assert(!p.contains("Join"), s"brute force must be join-free:\n$p")
    assert(p.contains("Window"), p)
  }

  test("star join broadcasts the dim sides; fact joins never cartesian") {
    val p = plan(SparkEntry.queries("q43_star_join")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"nation+region must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the region filter is applied before the broadcast, not after the join
    assert(p.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,EUROPE)")
      || p.contains("r_name = EUROPE"), s"region filter must push down:\n$p")
  }

  test("hash sampling is map-only: no exchange anywhere in the plan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(graft.text.Curation.hashSample(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "20"))
      assert(!p.contains("Exchange"), s"hash sample must not shuffle:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("stratified sample and packing window WITHIN strata (no global window)") {
    Seq("q45_stratified_sample", "q46_pack_sequences").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      // every Window node must carry a partition spec (a partition-less
      // window funnels the whole corpus into one task)
      p.linesIterator.filter(_.contains("Window ")).foreach { l =>
        assert(l.contains("windowspecdefinition(source"),
          s"$q window must partition by the stratum/shard:\n$l")
      }
    }
  }

  test("LSH candidate generation exchanges compact keys only, never vectors") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.ArrayType
    // AQE wraps the plan and hides Exchange nodes from collect(); a plain
    // plan is deterministic for this structural assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // query side via a pushed-down filter (a limit would add its own
      // SinglePartition exchange of raw vectors inside the fixture)
      val df = graft.sim.Similarity.lshCandidates(e.filter(col("id") < 20), e)
      val exec = df.queryExecution.executedPlan
      // hash/range exchanges are the candidate shuffles; a round-robin
      // exchange is the widen load-balancer moving narrow SOURCE rows and
      // is allowed to carry the vector it is about to hash
      import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
      val exchanges = exec.collect { case ex: Exchange => ex }
        .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      assert(exchanges.nonEmpty, exec.toString)
      exchanges.foreach { ex =>
        assert(!ex.child.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"vector column crosses a candidate exchange:\n$exec")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("broadcast ANN scans the corpus once: the ONLY shuffle is the top-k window") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val df = graft.sim.Similarity
        .lshTopKBroadcast(e.filter(col("id") < 20), e, k = 5)
      val exec = df.queryExecution.executedPlan
      // allowed: the widen round-robin (narrow source rows). Everything
      // else must be exactly the window's hash exchange — candidate
      // generation, dedup and scoring are all map-side.
      val shuffles = exec.collect { case ex: Exchange => ex }
        .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      assert(shuffles.size == 1, exec.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("native session_window plans as aggregate, not a window sort pair") {
    val p = plan(SparkEntry.queries("q83_session_window")(spark, dir))
    assert(p.contains("SessionWindow") || p.contains("session_window"),
      s"expected Catalyst session-window node:\n$p")
    assert(!p.contains("row_number"), "no lag/running-sum window pair")
  }

  test("resample last-per-bucket is a hash aggregate (map-side combine), not a sorted window") {
    import graft.ops.Relational
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(18,2)").as("value"))
    val p = plan(Relational.resampleFfill(e, Seq("user_id"), "ts", 3600L,
      "value", tieBreak = Seq("event_id")))
    assert(p.contains("max_by") || p.contains("MaxBy") ||
      "HashAggregate".r.findAllIn(p).length >= 2,
      s"last-per-bucket must partial-aggregate:\n$p")
    // exactly one window remains: the forward-fill over the bucket grid
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 1, s"expected only the forward-fill window, got $windows:\n$p")
  }

  test("BM25: postings filter below the agg exchange, idf broadcast, top-k sort-limited") {
    val df = graft.text.Bm25.topK(
      spark.read.parquet(s"$dir/documents.parquet"),
      Seq("spark", "join"), k = 20, reuseTables = false)
    val p = plan(df)
    // the query-term IN filter must run in the explode stage — printed
    // DIRECTLY above its Generate child (plans print top-down), i.e.
    // before the (id, tok) aggregation exchange, so non-matching tokens
    // never shuffle
    val lines = p.linesIterator.toIndexedSeq
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter tok#") && l.contains("IN (spark,join)"))
    assert(filterIdx >= 0, s"query-term filter missing:\n$p")
    assert(lines(filterIdx + 1).contains("Generate explode"),
      s"term filter must sit on the explode, pre-shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"idf table must broadcast-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be sort-limited, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("kNN classify: label pickup broadcasts, no cartesian, one top-k window") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
    val p = plan(graft.sim.Knn.classify(
      e.filter(col("id") % 5 === 0).select("id", "vec"),
      e.filter(col("id") % 5 =!= 0), k = 10))
    assert(p.contains("BroadcastHashJoin"),
      s"neighbor table must broadcast against the labeled corpus:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("leakage-safe split is map-only over the cluster table") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "component")
    val p = plan(graft.text.Curation.leakageSafeSplit(clusters))
    assert(!p.contains("Exchange"), s"split must add no shuffle:\n$p")
  }

  test("span dedup: semi join on grams, start-list excision, no " +
       "token-level shuffle") {
    val p = plan(graft.text.SpanDedup.removeRepeatedSpans(
      spark.read.parquet(s"$dir/documents.parquet"), k = 8, minDocs = 3))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"equi-joins only:\n$p")
    assert(p.contains("LeftSemi"), s"flagged-gram filter must be a semi join:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"gram-frequency agg must map-side combine:\n$p")
    // excision is a compiled per-doc map over (tokens, starts) — the
    // plan must NOT explode tokens into (doc, pos) rows and anti-join
    // them back (two corpus-sized exchanges for the same answer)
    assert(!p.contains("LeftAnti"), s"no per-token anti-join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4,
      s"corpus-sized shuffles must be bounded (got $exchanges):\n$p")
  }

  test("hive-partitioned layout prunes partitions at the scan") {
    // the 100 TB ingest layout: partitionBy a low-cardinality derived
    // column on write; an equality predicate on it must become a
    // PartitionFilter (pruned at file LISTING — zero bytes read from
    // other partitions), not a post-scan Filter
    val out = tempDir("graft-part").toString
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val back = spark.read.parquet(out)
    val dates = back.select(col("event_date")).distinct()
      .orderBy("event_date").limit(1).collect()
    val d0 = dates.head.getDate(0)
    val q = back.filter(col("event_date") === lit(d0))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:") && p.contains("event_date"),
      s"date predicate must prune at the listing:\n$p")
    // the pruned scan must touch ONE partition directory only
    def nPartitions(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.sum
    val scanned = nPartitions(q)
    val total = nPartitions(back)
    assert(scanned == 1 && scanned < total,
      s"pruning must drop partitions: scanned=$scanned of $total")
    assert(q.count() == back.filter(to_date(col("ts")) === lit(d0)).count())
  }

  test("shared-span pairs: ONE corpus scan, gram-bucket shuffle, no joins") {
    val p = plan(graft.text.SpanDedup.sharedSpanPairs(
      spark.read.parquet(s"$dir/documents.parquet"), k = 8, maxDf = 200))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), s"no products:\n$p")
    // the bucket formulation replaced a distinct → semi-join → self-join
    // chain that scanned the corpus FOUR times; pin the single scan
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"pair generation must scan the corpus once:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"one gram-bucket shuffle + one pair agg only:\n$p")
  }

  test("pinned ADC serving: LUT broadcast-joins, codes never carry vectors") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val p = plan(graft.sim.Pq.pinnedAdcTopK(
      e.filter(col("id") < 5), e, graft.sim.Pinned.pqBooks(), k = 3))
    assert(p.contains("BroadcastHashJoin"), s"LUT must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus-wide joins:\n$p")
    // every shuffle row is (s, code, ids, lut/adc) — small fixed-width;
    // no exchange may carry a vector payload
    p.split("Exchange").drop(1).foreach { ex =>
      val header = ex.takeWhile(_ != '\n')
      assert(!header.contains("vec#") && !header.contains("vn#"),
        s"vector in exchange:\n$header")
    }
  }

  test("portable bloom decontamination scores the corpus map-only") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val scored = graft.text.Curation.portableBloomDecontaminate(
      d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0))
    val p = plan(scored)
    // model is broadcast: the corpus side has no join and no aggregation
    // exchange — widen's AQE round-trip aside, the scoring pass is the
    // scan + the typed mapPartitions
    assert(!p.contains("Join"), s"corpus scoring must not join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus scoring must not shuffle:\n$p")
  }

  test("LSH candidate join (q113) exchanges compact keys, never vectors") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val p = plan(graft.sim.Similarity.lshCandidates(
      e.filter(col("id") < 5), e))
    assert(!p.contains("CartesianProduct"), p)
    // every exchange row is (id, table, bucket) — no embedding payload
    p.split("Exchange").drop(1).foreach { ex =>
      val header = ex.takeWhile(_ != '\n')
      assert(!header.contains("vec#"), s"vector in exchange:\n$header")
    }
  }
}
