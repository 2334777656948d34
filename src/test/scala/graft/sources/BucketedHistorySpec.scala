package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Per-generation commit history (the DESCRIBE HISTORY primitive):
  * every commit writes a best-effort audit record (op kind, UTC
  * timestamp, file deltas) into the `_graft_history/` subdir — outside
  * every hot listing — and `describe` surfaces the head's op/timestamp
  * plus the pair-pointer lag monitoring hook. */
class BucketedHistorySpec extends SparkSuite {
  import spark.implicits._

  private def rows(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, i.toLong * 7)).toDF("k", "v")

  test("history records create/append/merge/compact with op kinds and file deltas") {
    val table = "graft_hist_lifecycle"
    try {
      // deterministic file counts: repartition by the bucket key so
      // each commit writes one file per non-empty bucket
      Bucketed.save(rows(0, 40).repartition(4, col("k")),
        table, Seq("k"), 4)
      Bucketed.setRetention(spark, table, 8)
      Bucketed.save(rows(40, 80).repartition(4, col("k")),
        table, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.mergeByKey(spark, table,
        rows(0, 80).filter(col("k") % 5 === 0)
          .select(col("k"), col("v"), lit(true).as("del")),
        deleteCol = Some("del"))
      Bucketed.compactBuckets(spark, table, maxFilesPerBucket = 0,
        dedupRows = false)
      val h = Bucketed.history(spark, table)
        .select("generation", "op", "files_added", "files_removed")
        .as[(Long, String, Int, Int)].collect().toSeq
      assert(h.map(_._1) == Seq(1L, 2L, 3L, 4L), s"got $h")
      assert(h.map(_._2) == Seq("create", "append", "merge", "compact"),
        s"got $h")
      // create/append only add; merge and compact swap files
      assert(h(0)._3 == 4 && h(0)._4 == 0)
      assert(h(1)._3 == 4 && h(1)._4 == 0)
      assert(h(2)._3 > 0 && h(2)._4 > 0)
      assert(h(3)._3 > 0 && h(3)._4 > 0)
      // timestamps parse as ISO-8601 instants
      val ts = Bucketed.history(spark, table)
        .select("committed_at").as[String].collect()
      ts.foreach(t => java.time.Instant.parse(t))
      // describe surfaces the head commit's op + timestamp
      val st = Bucketed.describe(spark, table)
      assert(st.lastOp.contains("compact"))
      assert(st.lastCommitAt.exists(t =>
        java.time.Instant.parse(t) != null))
      // rewrite and replace label themselves too
      Bucketed.rewriteAll(spark, table, df => df)
      assert(Bucketed.describe(spark, table).lastOp.contains("rewrite"))
      Bucketed.replaceAll(spark, table, rows(0, 10))
      assert(Bucketed.describe(spark, table).lastOp.contains("replace"))
      // history survives vacuum (audit is never pruned) and the
      // history subdir never pollutes data-file listings
      Bucketed.vacuum(spark, table, retain = 1)
      assert(Bucketed.history(spark, table).count() == 6)
      assert(Bucketed.load(spark, table).count() == 10)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a torn history record reads as absent; an Overwrite continues the history") {
    val table = "graft_hist_torn"
    try {
      Bucketed.save(rows(0, 10), table, Seq("k"), 2)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rec = new org.apache.hadoop.fs.Path(loc, "_graft_history/1")
      val out = fs.create(rec, true)
      out.write("garbage".getBytes("UTF-8")); out.close()
      assert(Bucketed.history(spark, table).count() == 0,
        "torn record must read as absent, not crash or mis-parse")
      assert(Bucketed.describe(spark, table).lastOp.isEmpty)
      // an Overwrite is the next generation — the history continues
      Bucketed.save(rows(0, 5), table, Seq("k"), 2)
      val h = Bucketed.history(spark, table)
        .select("generation", "op").as[(Long, String)].collect().toSeq
      assert(h == Seq((2L, "replace")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("pairLag surfaces a pointer lagging the head (the wedged-writer monitor)") {
    val table = "graft_hist_pairlag"
    try {
      Bucketed.save(rows(0, 10), table, Seq("k"), 2)
      Bucketed.setRetention(spark, table, 4)
      // no pointer → no lag to monitor
      assert(Bucketed.describe(spark, table).pairLag.isEmpty)
      val g = Bucketed.currentGeneration(spark, table)
      Bucketed.writePairPointer(spark, table, g, 1L)
      assert(Bucketed.describe(spark, table).pairLag.contains(0L))
      // two commits with no pair stamp — a writer that died inside a
      // pair commit's window looks exactly like this
      Bucketed.save(rows(10, 20), table, Seq("k"), 2,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.save(rows(20, 30), table, Seq("k"), 2,
        mode = org.apache.spark.sql.SaveMode.Append)
      val st = Bucketed.describe(spark, table)
      assert(st.pairLag.contains(2L),
        s"head − pointer owner must surface as lag: $st")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("foldHistory bounds the audit dir losslessly; re-folds merge; the crash window dedups") {
    val table = "graft_hist_fold"
    try {
      Bucketed.save(rows(0, 10), table, Seq("k"), 2)
      Bucketed.setRetention(spark, table, 2)
      for (i <- 0 until 24)
        Bucketed.save(rows(10 + i, 11 + i), table, Seq("k"), 2,
          mode = org.apache.spark.sql.SaveMode.Append)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hd = new org.apache.hadoop.fs.Path(loc, "_graft_history")
      def auditFiles = fs.listStatus(hd).count(_.isFile)
      def hist = Bucketed.history(spark, table)
        .as[(Long, String, String, Int, Int)].collect().toSeq
      val before = hist
      assert(before.size == 25 && auditFiles == 25)
      // under the bound: one listing, nothing moves
      assert(Bucketed.foldHistory(spark, table, ifMoreThan = 32) == 0)
      assert(auditFiles == 25)
      // fold: everything but the head record → folded + 1 loose file
      assert(Bucketed.foldHistory(spark, table, ifMoreThan = 8) == 24)
      assert(auditFiles == 2, s"expected folded + head loose, got $auditFiles")
      assert(hist == before, "folding must be lossless, order included")
      // describe's head-record read stays a single named-file open
      assert(Bucketed.describe(spark, table).lastOp.contains("append"))
      // more commits, re-fold: the old folded file merges into the new
      for (i <- 24 until 28)
        Bucketed.save(rows(10 + i, 11 + i), table, Seq("k"), 2,
          mode = org.apache.spark.sql.SaveMode.Append)
      assert(Bucketed.foldHistory(spark, table, ifMoreThan = 1) == 28)
      assert(auditFiles == 2)
      assert(hist.size == 29 && hist.map(_._1) == (1L to 29L))
      // the crash window (fold wrote, deletes didn't run) leaves a
      // generation both folded and loose — history dedups by gen
      val dup = hist.find(_._1 == 5L).get
      val out = fs.create(new org.apache.hadoop.fs.Path(hd, "5"), true)
      out.write(s"graft-history-v1\n${dup._1} ${dup._2} ${dup._3} ${dup._4} ${dup._5}\n"
        .getBytes("UTF-8")); out.close()
      assert(hist.size == 29, "duplicate folded+loose record must dedup")
      // a torn folded file contributes its parseable prefix, no crash
      val torn = fs.create(
        new org.apache.hadoop.fs.Path(hd, "folded-999"), true)
      torn.write("graft-history-v1\n999 append".getBytes("UTF-8"))
      torn.close()
      assert(hist.size == 29,
        "torn folded line must read as absent, not crash")
      // re-folding the crash-window state (a folded file whose max
      // generation the new fold REPRODUCES) must never truncate it in
      // place — the old file can hold the only copy of early records;
      // the fold writes a fresh name and converges losslessly
      assert(Bucketed.foldHistory(spark, table, ifMoreThan = 1) > 0)
      assert(hist.size == 29 && hist.map(_._1) == (1L to 29L),
        "collision fold must preserve every record")
      assert(auditFiles == 2, s"folded + head loose, got $auditFiles")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
