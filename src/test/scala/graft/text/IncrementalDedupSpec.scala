package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Index-and-probe incremental near-dup dedup: candidates must equal
  * the batch LSH pairs restricted to shard×corpus, the probe join must
  * be Exchange-free on the index side, and a small shard must
  * bucket-prune the index scan. */
class IncrementalDedupSpec extends SparkSuite {
  import spark.implicits._

  private val table = "graft_inc_dedup_idx"
  private val buckets = 8

  // deterministic distinct texts; dups are verbatim copies
  private def text(i: Int): String =
    (0 until 12).map(j => s"w${(i * 31 + j * 7) % 9973}x$i").mkString(" ")

  private def corpus = (0 until 40)
    .map(i => (i.toLong, text(i))).toDF("doc_id", "text")
  // 100-102 copy corpus docs 5/17/29; 103-105 are novel
  private def shard = Seq(
    (100L, text(5)), (101L, text(17)), (102L, text(29)),
    (103L, text(900)), (104L, text(901)), (105L, text(902)))
    .toDF("doc_id", "text")

  test("probe equals the uncapped batch pairs restricted to shard×corpus") {
    try {
      IncrementalDedup.buildIndex(corpus, table, buckets)
      val got = IncrementalDedup.probe(spark, shard, table)
        .as[(Long, Long)].collect().toSet
      val batchPairs = Dedup.minhashCandidatePairs(
          corpus.unionByName(shard), maxBucket = 0)
        .as[(Long, Long)].collect().toSet
      val expected = batchPairs.collect {
        case (a, b) if a < 100 && b >= 100 => (b, a)
        case (a, b) if b < 100 && a >= 100 => (a, b)
      }
      assert(got == expected && got.nonEmpty, s"got=$got expected=$expected")
      assert(got.map(_._1) == Set(100L, 101L, 102L))
      // novel = shard rows with no candidate
      val nov = IncrementalDedup.novel(spark, shard, table)
        .select("doc_id").as[Long].collect().toSet
      assert(nov == Set(103L, 104L, 105L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("probe join is Exchange-free on the index side; small shards bucket-prune") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      IncrementalDedup.buildIndex(corpus, table, buckets)
      // pruneKeys=0 → full co-located join: exactly two Exchanges total
      // (the shard's bands, the final distinct) — an index-side shuffle
      // would make it three
      val full = IncrementalDedup.probe(spark, shard, table, pruneKeys = 0)
      val fullPlan = full.queryExecution.executedPlan.toString
      val nExchanges = "(?<!Reused)Exchange".r.findAllIn(fullPlan).size
      assert(nExchanges == 2,
        s"expected 2 Exchanges (shard + distinct), got $nExchanges:\n$fullPlan")
      assert(full.count() == 3)
      // small shard with pruning on: the index scan reads only the
      // buckets the shard's band keys hash into — a 1-doc shard has 4
      // band keys, which cannot cover all 8 buckets
      val one = shard.filter(col("doc_id") === 100L)
      val pruned = IncrementalDedup.probe(spark, one, table)
      val prunedPlan = pruned.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(prunedPlan)
      assert(sel.isDefined, s"expected bucket pruning:\n$prunedPlan")
      assert(sel.get.group(1).toInt <= 4 && sel.get.group(2).toInt == 8,
        s"expected at most 4 of 8 buckets: ${sel.get.matched}")
      assert(pruned.as[(Long, Long)].collect().toSet
        == full.as[(Long, Long)].collect().toSet
          .filter(_._1 == 100L))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("novel-docs gate: index hits and smaller-id batch buckets drop; kept docs guard later batches") {
    try {
      IncrementalDedup.buildIndex(corpus, table, buckets)
      // batch 1: 100 dups corpus doc 5 (index hit), 101 novel,
      // 102 dups 101 in-batch (smaller id dominates), 103 novel
      val b1 = Seq((100L, text(5)), (101L, text(950)),
        (102L, text(950)), (103L, text(951))).toDF("doc_id", "text")
      val k1 = IncrementalDedup.gateBatch(b1, table, buckets,
        "text", "doc_id", 3, 16, 4).select("doc_id").as[Long].collect().toSet
      assert(k1 == Set(101L, 103L), s"batch1 kept $k1")
      // batch 2: 200 dups batch-1-KEPT 101 -> dropped (the append is
      // load-bearing); 201 dups corpus 7 -> dropped; 202 novel
      val b2 = Seq((200L, text(950)), (201L, text(7)),
        (202L, text(952))).toDF("doc_id", "text")
      val k2 = IncrementalDedup.gateBatch(b2, table, buckets,
        "text", "doc_id", 3, 16, 4).select("doc_id").as[Long].collect().toSet
      assert(k2 == Set(202L), s"batch2 kept $k2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("gateBatch is idempotent under at-least-once replay (crash after append)") {
    try {
      IncrementalDedup.buildIndex(corpus, table, buckets)
      // first delivery: appends kept docs' bands to the index, but the
      // checkpoint "crashes" before committing — foreachBatch then
      // redelivers the SAME batch against the post-append index
      val b1 = Seq((100L, text(5)), (101L, text(950)),
        (102L, text(950)), (103L, text(951))).toDF("doc_id", "text")
      val first = IncrementalDedup.gateBatch(b1, table, buckets,
        "text", "doc_id", 3, 16, 4).select("doc_id").as[Long].collect().toSet
      assert(first == Set(101L, 103L), s"first delivery kept $first")
      // replay: kept docs' own bands are now in the index; without the
      // self-doc exclusion they'd match themselves and kept would be empty
      val replay = IncrementalDedup.gateBatch(b1, table, buckets,
        "text", "doc_id", 3, 16, 4).select("doc_id").as[Long].collect().toSet
      assert(replay == first, s"replay kept $replay, expected $first")
      // and a later batch still dedups against the (doubly-appended) bands
      val b2 = Seq((200L, text(950)), (201L, text(954))).toDF("doc_id", "text")
      val k2 = IncrementalDedup.gateBatch(b2, table, buckets,
        "text", "doc_id", 3, 16, 4).select("doc_id").as[Long].collect().toSet
      assert(k2 == Set(201L), s"post-replay batch kept $k2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("id contract: a kept id re-sent in a LATER batch leaks through (documented)") {
    try {
      IncrementalDedup.buildIndex(corpus, table, buckets)
      val b1 = Seq((101L, text(950))).toDF("doc_id", "text")
      val k1 = IncrementalDedup.gateBatch(b1, table, buckets,
        "text", "doc_id", 3, 16, 4).select("doc_id").as[Long].collect().toSet
      assert(k1 == Set(101L))
      // contract violation: the same id arrives again in a NEW batch.
      // Its only index match is its own posting, which the replay
      // self-exclusion must ignore — so it passes the gate a second
      // time. This test pins the documented behavior (gateBatch's ID
      // CONTRACT scaladoc): if this assertion ever flips, the replay
      // idempotence test above must be re-examined, because the two
      // cases are indistinguishable without batch ids in the index.
      val k2 = IncrementalDedup.gateBatch(b1, table, buckets,
        "text", "doc_id", 3, 16, 4).select("doc_id").as[Long].collect().toSet
      assert(k2 == Set(101L),
        s"documented re-arrival leak changed behavior: kept $k2")
      // a DIFFERENT id with the same text is still caught
      val b3 = Seq((300L, text(950))).toDF("doc_id", "text")
      val k3 = IncrementalDedup.gateBatch(b3, table, buckets,
        "text", "doc_id", 3, 16, 4).select("doc_id").as[Long].collect().toSet
      assert(k3 == Set.empty[Long], s"duplicate under a fresh id kept $k3")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("opt-in re-arrival guard: a re-sent kept id drops in later batches, replay stays idempotent") {
    val t = "graft_inc_guard_idx"
    val t2 = "graft_inc_guard_untagged"
    try {
      IncrementalDedup.buildIndex(corpus, t, buckets, batchTagged = true)
      val b1 = Seq((101L, text(950))).toDF("doc_id", "text")
      def gate(b: org.apache.spark.sql.DataFrame, bid: Long): Set[Long] =
        IncrementalDedup.gateBatch(b, t, buckets, "text", "doc_id",
            3, 16, 4, reArrivalGuard = Some(bid))
          .select("doc_id").as[Long].collect().toSet
      assert(gate(b1, 0L) == Set(101L))
      // replay of the SAME batch id: the appended own posting carries
      // batch 0 and stays excluded — identical kept set
      assert(gate(b1, 0L) == Set(101L))
      // genuine re-arrival in a LATER batch: the own posting from
      // batch 0 now counts as an index hit — emitted once, in its
      // original batch
      assert(gate(b1, 1L) == Set.empty[Long],
        "re-sent kept id must drop under the guard")
      // the later batch replays to the same (empty) kept set
      assert(gate(b1, 1L) == Set.empty[Long])
      // novel ids still pass, and ordinary dup detection still works
      assert(gate(Seq((102L, text(951))).toDF("doc_id", "text"), 2L)
        == Set(102L))
      assert(gate(Seq((103L, text(950))).toDF("doc_id", "text"), 3L)
        == Set.empty[Long], "fresh-id duplicate of a kept doc must drop")
      // the guard refuses an untagged index loudly
      IncrementalDedup.buildIndex(corpus, t2, buckets)
      val e = intercept[IllegalArgumentException] {
        IncrementalDedup.gateBatch(b1, t2, buckets, "text", "doc_id",
          3, 16, 4, reArrivalGuard = Some(0L)).collect()
      }
      assert(e.getMessage.contains("batch-tagged"))
      // UNGUARDED gating of a TAGGED index still works — the append
      // auto-tags with the seed value (-1), and a later guarded batch
      // treats those rows as different-batch postings (re-arrival hit)
      val k4 = IncrementalDedup.gateBatch(
          Seq((104L, text(952))).toDF("doc_id", "text"),
          t, buckets, "text", "doc_id", 3, 16, 4)
        .select("doc_id").as[Long].collect().toSet
      assert(k4 == Set(104L))
      assert(gate(Seq((104L, text(952))).toDF("doc_id", "text"), 9L)
        == Set.empty[Long],
        "a -1-tagged posting must count as a different batch")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
    }
  }

  test("persistent checkpoint: guard holds across invocations, output accumulates") {
    val t2 = "graft_inc_persist_idx"
    try {
      IncrementalDedup.buildIndex(corpus, t2, buckets, batchTagged = true)
      val base = tempDir("graft-novel-p").toString
      def writeFile(name: String, mtimeMs: Long,
                    rows: Seq[(Long, String)]): Unit = {
        val stage = tempDir("graft-np-st")
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$base/src", name)
        dest.getParentFile.mkdirs()
        java.nio.file.Files.copy(part.toPath, dest.toPath)
        assert(dest.setLastModified(mtimeMs))
      }
      def run(): Set[Long] = IncrementalDedup.streamNovel(
          graft.streaming.Streaming.fileStream(spark, s"$base/src",
            maxFilesPerTrigger = Some(1)),
          t2, buckets, s"$base/out", dropReArrivals = true,
          checkpointDir = Some(s"$base/ckpt"))
        .select("doc_id").as[Long].collect().toSet
      writeFile("f1.parquet", 1000000L,
        Seq((101L, text(960)), (102L, text(961))))
      assert(run() == Set(101L, 102L))
      // a later invocation's new file RE-DELIVERS kept id 101 and adds
      // novel 103: the resumed checkpoint processes only the new file
      // in a strictly later batch, the guard drops the re-arrival, and
      // the accumulated output holds each id exactly once
      writeFile("f2.parquet", 2000000L,
        Seq((101L, text(960)), (103L, text(962))))
      assert(run() == Set(101L, 102L, 103L))
      val all = spark.read.parquet(s"$base/out")
        .select("doc_id").as[Long].collect().toSeq
      assert(all.count(_ == 101L) == 1,
        s"re-sent id must be emitted once across invocations: $all")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t2")
  }

  test("streamNovel runs the gate per micro-batch over a file stream") {
    try {
      IncrementalDedup.buildIndex(corpus, table, buckets)
      val base = tempDir("graft-novel").toString
      def writeFile(name: String, mtimeMs: Long,
                    rows: Seq[(Long, String)]): Unit = {
        val stage = tempDir("graft-novel-st")
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$base/src", name)
        dest.getParentFile.mkdirs()
        java.nio.file.Files.copy(part.toPath, dest.toPath)
        assert(dest.setLastModified(mtimeMs))
      }
      writeFile("f1.parquet", 1000000L,
        Seq((100L, text(5)), (101L, text(950)), (102L, text(950))))
      writeFile("f2.parquet", 2000000L,
        Seq((200L, text(950)), (201L, text(953))))
      val kept = IncrementalDedup.streamNovel(
          graft.streaming.Streaming.fileStream(spark, s"$base/src",
            maxFilesPerTrigger = Some(1)),
          table, buckets, s"$base/out",
          metricsDir = Some(s"$base/metrics"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(101L, 201L), s"kept $kept")
      // opt-in per-batch metrics: batch 0 = {100 index-dup of corpus 5,
      // 101 novel, 102 in-batch dup of 101}; batch 1 = {200 index-dup
      // of APPENDED 101, 201 novel} — the index-hit count is judged
      // against the pre-append index, so 200 counts as an index hit
      // in ITS batch, not retroactively in batch 0's
      val metrics = graft.streaming.GateMetricsLog.read(spark, s"$base/metrics")
        .select("batch", "n_in", "n_kept", "n_index_hits", "n_batch_hits")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(metrics == Set((0L, 3L, 1L, 1L, 1L), (1L, 2L, 1L, 1L, 0L)),
        s"metrics $metrics")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("deleteFromIndex erases at O(touched buckets): hits vanish, untouched buckets stay byte-identical") {
    try {
      IncrementalDedup.buildIndex(corpus, table, buckets)
      // fingerprint every data file before the delete
      def files(): Map[String, (Long, Long)] = {
        val meta = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
        val dir = new org.apache.hadoop.fs.Path(meta.location)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(dir).toSeq
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .map(f => f.getPath.getName ->
            (f.getLen, f.getModificationTime)).toMap
      }
      val before = files()
      // the shard dups corpus docs 5/17/29 — delete 17 from the index
      val n = IncrementalDedup.deleteFromIndex(
        corpus.filter(col("doc_id") === 17L), table, buckets)
      assert(n >= 1 && n < buckets,
        s"expected a strict subset of buckets rewritten, got $n")
      val after = files()
      // every file NOT belonging to a rewritten bucket is untouched
      val sharedNames = before.keySet intersect after.keySet
      assert(sharedNames.nonEmpty, "expected untouched files to survive")
      sharedNames.foreach(f => assert(before(f) == after(f),
        s"untouched file $f changed"))
      assert(before.keySet != after.keySet, "expected some files replaced")
      // probe: 17's hits are gone, 5/29's survive
      val got = IncrementalDedup.probe(spark, shard, table)
        .as[(Long, Long)].collect().toSet
      assert(!got.exists(_._2 == 17L), s"deleted doc still matched: $got")
      assert(got.map(_._1).contains(100L) && got.map(_._1).contains(102L))
      assert(!got.map(_._1).contains(101L),
        s"101 should have no candidates after 17's erasure: $got")
      // idempotent: re-running changes nothing observable
      IncrementalDedup.deleteFromIndex(
        corpus.filter(col("doc_id") === 17L), table, buckets)
      val again = IncrementalDedup.probe(spark, shard, table)
        .as[(Long, Long)].collect().toSet
      assert(again == got)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("appendToIndex keeps the index current across shards") {
    try {
      IncrementalDedup.buildIndex(corpus, table, buckets)
      IncrementalDedup.appendToIndex(shard, table, buckets)
      // a later shard duplicating one ORIGINAL-corpus doc and one
      // APPENDED doc must hit both
      val next = Seq((200L, text(5)), (201L, text(900))).toDF("doc_id", "text")
      val got = IncrementalDedup.probe(spark, next, table)
        .as[(Long, Long)].collect().toSet
      assert(got.contains((200L, 5L)) && got.contains((201L, 103L)),
        s"got=$got")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
