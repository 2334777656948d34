package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Index-and-probe incremental ANN: probe must equal a from-scratch
  * reference computation (assignment, probe lists, exact re-rank), the
  * probe join must be Exchange-free on the index side with the probed
  * centroids bucket-pruning the scan, and appended vectors must be
  * visible to later probes without a rebuild. */
class IncrementalAnnSpec extends SparkSuite {
  import spark.implicits._

  private val table = "graft_inc_ann_idx"
  private val buckets = 4
  private val dim = 8
  private val cents = Pinned.ivfCentroids(4, dim)

  private def vec(i: Int): Array[Double] =
    Array.tabulate(dim)(d => ((i * 31 + d * 7) % 11 - 5) * 0.25)

  private def corpus = (0 until 30)
    .map(i => (i.toLong, vec(i))).toDF("id", "vec")
  private def batch = (100 until 105)
    .map(i => (i.toLong, vec(i))).toDF("id", "vec")

  // from-scratch reference: same arithmetic, no Spark
  private def norm(v: Array[Double]): Array[Double] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val inv = if (ss == 0) 0.0 else 1.0 / math.sqrt(ss)
    v.map(_ * inv)
  }
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
  private def expected(k: Int, nProbe: Int): Set[(Long, Long, Long, Int)] = {
    val corpusN = (0 until 30).map(i => (i.toLong, norm(vec(i))))
    val lists = corpusN.map { case (id, vn) =>
      (id, vn, Ivf.nearestCentroid(vn, cents)) }
    (100 until 105).flatMap { q =>
      val qn = norm(vec(q))
      val probed = cents.indices
        .map(c => (c, dot(qn, cents(c))))
        .sortBy { case (c, d) => (-d, c) }
        .take(nProbe).map(_._1).toSet
      lists.filter { case (_, _, c) => probed(c) }
        .map { case (id, vn, _) =>
          (id, math.floor(dot(qn, vn) * 1000000.0).toLong) }
        .sortBy { case (id, s) => (-s, id) }
        .take(k).zipWithIndex
        .map { case ((id, s), r) => (q.toLong, id, s, r + 1) }
    }.toSet
  }

  test("probe equals the from-scratch reference ranking") {
    try {
      IncrementalAnn.buildIndex(corpus, table, buckets, cents)
      val got = IncrementalAnn.probe(spark, batch, table, cents,
          k = 3, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank"))
        .as[(Long, Long, Long, Int)].collect().toSet
      val exp = expected(k = 3, nProbe = 2)
      assert(got == exp && got.nonEmpty, s"got=$got expected=$exp")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("probe join is Exchange-free on the index side and bucket-prunes") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      IncrementalAnn.buildIndex(corpus, table, buckets, cents)
      // one query probing 2 of 4 lists: exactly two Exchanges total
      // (the batch's probe rows + the top-k window) — an index-side
      // shuffle would make it three
      val one = IncrementalAnn.probe(spark,
        batch.filter(col("id") === 100L), table, cents, k = 3, nProbe = 2)
      val plan = one.queryExecution.executedPlan.toString
      val nExchanges = "(?<!Reused)Exchange".r.findAllIn(plan).size
      assert(nExchanges == 2,
        s"expected 2 Exchanges (probes + window), got $nExchanges:\n$plan")
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"expected bucket pruning:\n$plan")
      assert(sel.get.group(1).toInt <= 2 && sel.get.group(2).toInt == buckets,
        s"expected at most 2 of $buckets buckets: ${sel.get.matched}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  // from-scratch reference for the novel-vectors gate: same symmetric
  // visibility rule (drop the larger id of any pair where EITHER
  // vector's nearest list is probed by the other and cos>=thr), same
  // evolving index
  private def gateRef(index0: Seq[(Long, Array[Double])],
                      batches: Seq[Seq[(Long, Array[Double])]],
                      thrE6: Long, nProbe: Int): Seq[Set[Long]] = {
    var index = index0.map { case (id, v) =>
      val vn = norm(v); (id, vn, Ivf.nearestCentroid(vn, cents)) }
    batches.map { b =>
      val bn = b.map { case (id, v) =>
        val vn = norm(v)
        val probed = cents.indices.map(c => (c, dot(vn, cents(c))))
          .sortBy { case (c, d) => (-d, c) }.take(nProbe).map(_._1).toSet
        (id, vn, Ivf.nearestCentroid(vn, cents), probed)
      }
      val drops = scala.collection.mutable.Set.empty[Long]
      for ((id, vn, _, probed) <- bn; (uid, uvn, uc) <- index)
        if (uid != id && probed(uc) &&
            math.floor(dot(vn, uvn) * 1000000.0).toLong >= thrE6)
          drops += id
      for ((xid, xvn, xc, _) <- bn; (yid, yvn, _, yprobed) <- bn)
        if (xid != yid && yprobed(xc) &&
            math.floor(dot(yvn, xvn) * 1000000.0).toLong >= thrE6)
          drops += math.max(xid, yid)
      val kept = bn.filter(r => !drops(r._1))
      index = index ++ kept.map { case (id, vn, c, _) => (id, vn, c) }
      kept.map(_._1).toSet
    }
  }

  test("novel-vectors gate matches the from-scratch reference; appends guard later batches") {
    try {
      val novelA = Array.tabulate(dim)(d =>
        (d + 1) * 0.25 * (if (d % 2 == 0) 1 else -1))
      val novelB = Array.tabulate(dim)(d =>
        (dim - d) * 0.25 * (if (d % 3 == 0) 1 else -1))
      val novelC = Array.tabulate(dim)(d =>
        (if (d < dim / 2) 1.0 else -0.5) * (d + 2) * 0.125)
      // batch 1: 100 dups corpus vec(3), 101 novel, 102 dups 101
      // in-batch (larger id drops), 103 novel
      val b1 = Seq((100L, vec(3)), (101L, novelA),
        (102L, novelA), (103L, novelB))
      // batch 2: 200 dups batch-1-KEPT 101 (the append is
      // load-bearing), 201 dups corpus vec(7), 202 novel
      val b2 = Seq((200L, novelA), (201L, vec(7)), (202L, novelC))
      val ref = gateRef((0 until 30).map(i => (i.toLong, vec(i))),
        Seq(b1, b2), thrE6 = 990000L, nProbe = 2)
      assert(ref == Seq(Set(101L, 103L), Set(202L)),
        s"reference disagrees with the hand-built scenario: $ref")
      IncrementalAnn.buildIndex(corpus, table, buckets, cents)
      val (kept1, m1) = IncrementalAnn.gateBatchFull(
        b1.toDF("id", "vec"), table, buckets, cents,
        thresholdE6 = 990000L, nProbe = 2, withMetrics = true)
      val k1 = kept1.select("id").as[Long].collect().toSet
      assert(k1 == ref.head, s"batch1 kept $k1")
      // pre-append metrics: 100 is an index hit (dups corpus vec(3)),
      // 102 an in-batch hit (dups 101, larger id)
      assert(m1.contains(graft.streaming.GateMetrics(4L, 2L, 1L, 1L)),
        s"metrics $m1")
      val k2 = IncrementalAnn.gateBatch(b2.toDF("id", "vec"), table,
          buckets, cents, thresholdE6 = 990000L, nProbe = 2)
        .select("id").as[Long].collect().toSet
      assert(k2 == ref(1), s"batch2 kept $k2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streamNovel runs the vector gate per micro-batch over a file stream") {
    try {
      val novelA = Array.tabulate(dim)(d =>
        (d + 1) * 0.25 * (if (d % 2 == 0) 1 else -1))
      val novelB = Array.tabulate(dim)(d =>
        (dim - d) * 0.25 * (if (d % 3 == 0) 1 else -1))
      val novelC = Array.tabulate(dim)(d =>
        (if (d < dim / 2) 1.0 else -0.5) * (d + 2) * 0.125)
      IncrementalAnn.buildIndex(corpus, table, buckets, cents)
      val base = java.nio.file.Files
        .createTempDirectory("graft-vnovel").toString
      def writeFile(name: String, mtimeMs: Long,
                    rows: Seq[(Long, Array[Double])]): Unit = {
        val stage = java.nio.file.Files.createTempDirectory("graft-vnovel-st")
        rows.toDF("id", "vec").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$base/src", name)
        dest.getParentFile.mkdirs()
        java.nio.file.Files.copy(part.toPath, dest.toPath)
        assert(dest.setLastModified(mtimeMs))
      }
      // batch 0: 100 index-dup of corpus vec(3), 101 novel, 102
      // in-batch dup of 101, 103 novel; batch 1: 200 dup of the
      // batch-0-KEPT 101, 201 index-dup of corpus vec(7), 202 novel
      writeFile("f1.parquet", 1000000L, Seq((100L, vec(3)), (101L, novelA),
        (102L, novelA), (103L, novelB)))
      writeFile("f2.parquet", 2000000L,
        Seq((200L, novelA), (201L, vec(7)), (202L, novelC)))
      val kept = IncrementalAnn.streamNovel(
          graft.streaming.Streaming.fileStream(spark, s"$base/src",
            maxFilesPerTrigger = Some(1)),
          table, buckets, cents, s"$base/out", thresholdE6 = 990000L,
          nProbe = 2, metricsDir = Some(s"$base/metrics"))
        .select("id").as[Long].collect().toSet
      assert(kept == Set(101L, 103L, 202L), s"kept $kept")
      // pre-append counts: 200 is an index hit in ITS batch, against
      // the postings batch 0 appended
      val metrics = graft.streaming.GateMetricsLog.read(spark, s"$base/metrics")
        .select("batch", "n_in", "n_kept", "n_index_hits", "n_batch_hits")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(metrics == Set((0L, 4L, 2L, 1L, 1L), (1L, 3L, 1L, 2L, 0L)),
        s"metrics $metrics")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("vector gate is idempotent under at-least-once replay (crash after append)") {
    try {
      val novelA = Array.tabulate(dim)(d =>
        (d + 1) * 0.25 * (if (d % 2 == 0) 1 else -1))
      val novelB = Array.tabulate(dim)(d =>
        (dim - d) * 0.25 * (if (d % 3 == 0) 1 else -1))
      IncrementalAnn.buildIndex(corpus, table, buckets, cents)
      val b1 = Seq((100L, vec(3)), (101L, novelA), (102L, novelA),
        (103L, novelB)).toDF("id", "vec")
      val first = IncrementalAnn.gateBatch(b1, table, buckets, cents,
          thresholdE6 = 990000L, nProbe = 2)
        .select("id").as[Long].collect().toSet
      assert(first == Set(101L, 103L), s"first delivery kept $first")
      // replay after the kept postings were appended: the id exclusion
      // skips each vector's own posting, and the symmetric in-batch
      // rule guarantees no two kept vectors can see each other — the
      // kept set must reproduce exactly
      val replay = IncrementalAnn.gateBatch(b1, table, buckets, cents,
          thresholdE6 = 990000L, nProbe = 2)
        .select("id").as[Long].collect().toSet
      assert(replay == first, s"replay kept $replay, expected $first")
      // and a later batch still dedups against the (doubly-appended)
      // postings
      val b2 = Seq((200L, novelA)).toDF("id", "vec")
      val k2 = IncrementalAnn.gateBatch(b2, table, buckets, cents,
          thresholdE6 = 990000L, nProbe = 2)
        .select("id").as[Long].collect().toSet
      assert(k2.isEmpty, s"post-replay batch kept $k2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("deleteFromIndex erases vectors and matches a from-scratch index on the remainder") {
    try {
      IncrementalAnn.buildIndex(corpus, table, buckets, cents)
      val n = IncrementalAnn.deleteFromIndex(
        corpus.filter(col("id") % 5 === 0), table, buckets, cents)
      assert(n >= 1, s"expected rewritten buckets, got $n")
      val got = IncrementalAnn.probe(spark, batch, table, cents,
          k = 3, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank"))
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(!got.exists(_._2 % 5 == 0), s"deleted ids still ranked: $got")
      // equivalent to building the index WITHOUT the deleted slice
      val refTable = s"${table}_ref"
      IncrementalAnn.buildIndex(corpus.filter(col("id") % 5 =!= 0),
        refTable, buckets, cents)
      val ref = IncrementalAnn.probe(spark, batch, refTable, cents,
          k = 3, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
          col("rank"))
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(got == ref)
      spark.sql(s"DROP TABLE IF EXISTS $refTable")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("appended vectors are visible to later probes without a rebuild") {
    try {
      IncrementalAnn.buildIndex(corpus, table, buckets, cents)
      // vec(i) has only 11 distinct value classes (mod-11 arithmetic),
      // all present in the corpus — append a direction the corpus does
      // NOT contain so the probe's top hit can only come from the append
      val novel = Array.tabulate(dim)(d =>
        (d + 1) * 0.25 * (if (d % 2 == 0) 1 else -1))
      IncrementalAnn.appendToIndex(
        Seq((100L, novel)).toDF("id", "vec"), table, buckets, cents)
      // 200 carries the exact appended vector — it must surface as the
      // top neighbour with cos_e6 ~ 1e6
      val probe2 = Seq((200L, novel)).toDF("id", "vec")
      val top = IncrementalAnn.probe(spark, probe2, table, cents,
          k = 1, nProbe = 1)
        .select("neighbor_id", "cos_e6").as[(Long, Long)].collect()
      assert(top.length == 1 && top.head._1 == 100L &&
        top.head._2 >= 999999L, s"got ${top.toSeq}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("gate over an attr-tagged index keeps filtered search serving") {
    val t = "graft_inc_ann_gateattr_idx"
    try {
      IncrementalAnn.buildIndex(
        corpus.withColumn("grp", pmod(col("id"), lit(3))),
        t, buckets, cents, attrCols = Seq("grp"))
      val e0 = Array.tabulate(dim)(d => if (d == 0) 1.0 else 0.0)
      val b = Seq((300L, e0)).toDF("id", "vec").withColumn("grp", lit(2))
      val kept = IncrementalAnn.gateBatch(b, t, buckets, cents,
          thresholdE6 = 990000L, nProbe = 2, attrCols = Seq("grp"))
        .select("id").as[Long].collect().toSet
      assert(kept == Set(300L))
      // the gated vector's attr rode the append: it serves filtered
      // probes under its group and stays invisible under others
      def top(filterGrp: Int): Set[Long] = IncrementalAnn
        .probe(spark, Seq((400L, e0)).toDF("id", "vec"), t, cents,
          k = 1, nProbe = cents.length,
          filter = Some(col("grp") === filterGrp))
        .select("neighbor_id").as[Long].collect().toSet
      assert(top(2) == Set(300L))
      assert(!top(1).contains(300L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("opt-in re-arrival guard: a re-sent kept vector drops in later batches, replay stays idempotent") {
    val t = "graft_inc_ann_guard_idx"
    try {
      IncrementalAnn.buildIndex(corpus, t, buckets, cents,
        batchTagged = true)
      // directions the 11-class corpus does not contain; threshold 0.99
      // so only (near-)identical vectors collide
      val e0 = Array.tabulate(dim)(d => if (d == 0) 1.0 else 0.0)
      val e1 = Array.tabulate(dim)(d => if (d == 1) 1.0 else 0.0)
      val b1 = Seq((200L, e0)).toDF("id", "vec")
      def gate(b: org.apache.spark.sql.DataFrame, bid: Long): Set[Long] =
        IncrementalAnn.gateBatch(b, t, buckets, cents,
            thresholdE6 = 990000L, nProbe = 2,
            reArrivalGuard = Some(bid))
          .select("id").as[Long].collect().toSet
      assert(gate(b1, 0L) == Set(200L))
      // same-batch replay: the own posting carries batch 0, excluded
      assert(gate(b1, 0L) == Set(200L))
      // later-batch re-arrival: own posting (cos exactly 1.0) hits
      assert(gate(b1, 1L) == Set.empty[Long],
        "re-sent kept vector must drop under the guard")
      assert(gate(b1, 1L) == Set.empty[Long])
      // a fresh id carrying the kept vector drops the ordinary way;
      // a genuinely novel vector still passes
      assert(gate(Seq((201L, e0)).toDF("id", "vec"), 2L)
        == Set.empty[Long])
      assert(gate(Seq((202L, e1)).toDF("id", "vec"), 3L) == Set(202L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
