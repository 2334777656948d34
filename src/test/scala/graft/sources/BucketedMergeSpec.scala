package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Keyed MERGE on the bucketed contract: delete-then-insert upsert in
  * one atomic generation, cost bounded to the buckets the update keys
  * hash to (untouched buckets' files survive BY NAME), inserts land
  * even in buckets that had no files, replay is idempotent, and
  * [[Bucketed.applyChanges]] replays a diffGenerations delta onto a
  * replica so replica ≡ source after each applied diff. With
  * `orderCols` the merge is recency-aware: one max row per batch key,
  * late rows never regress a key, and a failed batch leaves the prior
  * generation. */
class BucketedMergeSpec extends SparkSuite {
  import spark.implicits._

  private def mk(table: String, rows: Seq[(String, Long)],
                 buckets: Int = 4): Unit =
    Bucketed.save(rows.toDF("k", "v"), table, Seq("k"), buckets)

  private def stateOf(table: String): Set[(String, Long)] =
    Bucketed.load(spark, table).as[(String, Long)].collect().toSet

  private def dataFiles(table: String): Set[String] = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).toSeq.filter(_.isFile)
      .map(_.getPath.getName).filter(_.startsWith("part-")).toSet
  }

  private def bucketOf(key: String, n: Int): Int =
    spark.range(1).select(pmod(hash(lit(key)), lit(n)).cast("int"))
      .head().getInt(0)

  test("upsert replaces, inserts, and deletes in one generation; untouched buckets keep their files") {
    val table = "graft_merge_basic"
    try {
      mk(table, Seq("a" -> 1L, "b" -> 2L, "c" -> 3L, "d" -> 4L))
      val before = dataFiles(table)
      val genBefore = Bucketed.currentGeneration(spark, table)
      // update a, delete c, insert e — b and d untouched
      val updates = Seq(("a", 10L, false), ("c", 3L, true), ("e", 5L, false))
        .toDF("k", "v", "del")
      Bucketed.mergeByKey(spark, table, updates, deleteCol = Some("del"))
      assert(stateOf(table)
        == Set("a" -> 10L, "b" -> 2L, "d" -> 4L, "e" -> 5L))
      // exactly one commit
      assert(Bucketed.currentGeneration(spark, table) == genBefore + 1)
      // files of buckets no update key hashes to are preserved by name
      val touched = Set("a", "c", "e").map(bucketOf(_, 4))
      val bucketIdOf: String => Option[Int] = name =>
        """.*_(\d+)(?:\..*)?$""".r.findFirstMatchIn(name).map(_.group(1).toInt)
      val untouchedBefore =
        before.filter(f => !bucketIdOf(f).exists(touched))
      val after = dataFiles(table)
      assert(untouchedBefore.subsetOf(after),
        s"untouched buckets' files must survive: $untouchedBefore vs $after")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("insert lands in a bucket that has no files yet") {
    val table = "graft_merge_empty_bucket"
    try {
      val n = 8
      mk(table, Seq("k0" -> 1L), buckets = n)
      // find a key hashing to a DIFFERENT (file-less) bucket
      val other = (1 to 64).map(i => s"k$i")
        .find(k => bucketOf(k, n) != bucketOf("k0", n)).get
      Bucketed.mergeByKey(spark, table, Seq(other -> 9L).toDF("k", "v"))
      assert(stateOf(table) == Set("k0" -> 1L, other -> 9L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("group-wise merge replaces the whole key group; replay is idempotent") {
    val table = "graft_merge_group"
    try {
      mk(table, Seq("a" -> 1L, "a" -> 2L, "b" -> 3L))
      val updates = Seq("a" -> 7L).toDF("k", "v")
      Bucketed.mergeByKey(spark, table, updates)
      assert(stateOf(table) == Set("a" -> 7L, "b" -> 3L))
      // replaying the SAME merge changes nothing (anti-join removes
      // the previously merged rows before re-inserting them)
      Bucketed.mergeByKey(spark, table, updates)
      assert(stateOf(table) == Set("a" -> 7L, "b" -> 3L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** A recency table: key `k`, order column `ts`, payload `v`. */
  private def mkTs(table: String, rows: Seq[(String, Long, Long)]): Unit =
    Bucketed.save(rows.toDF("k", "ts", "v"), table, Seq("k"), 4)

  private def tsState(table: String): Seq[(String, Long, Long)] =
    Bucketed.load(spark, table).as[(String, Long, Long)].collect()
      .toSeq.sorted

  private def recencyMerge(table: String,
                           rows: Seq[(String, Long, Long)]): Int =
    Bucketed.mergeByKey(spark, table, rows.toDF("k", "ts", "v"),
      orderCols = Seq("ts"))

  test("recency merge keeps one max-ts row per batch key; other keys keep their duplicates; replay is idempotent") {
    val table = "graft_merge_recency"
    try {
      mkTs(table, Seq(("a", 5L, 1L), ("a", 3L, 2L), ("b", 1L, 3L),
        ("b", 1L, 3L)))
      // a: the table's ts=5 row beats the batch's ts=4; c: the batch's
      // newer of two rows wins; b is not in the batch
      val batch = Seq(("a", 4L, 10L), ("c", 1L, 20L), ("c", 2L, 21L))
      recencyMerge(table, batch)
      val want = Seq(("a", 5L, 1L), ("b", 1L, 3L), ("b", 1L, 3L),
        ("c", 2L, 21L))
      assert(tsState(table) == want)
      // at-least-once foreachBatch: the redelivered batch changes nothing
      recencyMerge(table, batch)
      assert(tsState(table) == want)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a recency batch older than the table's row neither regresses the key nor adds a row") {
    val table = "graft_merge_recency_late"
    try {
      mkTs(table, Seq(("a", 10L, 1L), ("b", 10L, 2L)))
      recencyMerge(table, Seq(("a", 7L, 99L), ("b", 11L, 98L)))
      assert(tsState(table) == Seq(("a", 10L, 1L), ("b", 11L, 98L)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a recency batch that throws in one task leaves the prior generation and history to a cold reader") {
    val table = "graft_merge_recency_failing"
    try {
      mkTs(table, (0 until 40).map(i => (s"k$i", 1L, i.toLong)))
      recencyMerge(table, Seq(("k1", 2L, 100L)))
      val before = tsState(table)
      val gen = Bucketed.currentGeneration(spark, table)
      val hist = Bucketed.history(spark, table).select("generation", "op")
        .as[(Long, String)].collect().toSeq
      // every key of the table in the batch, over 4 tasks; one throws
      val failing = (0 until 40).map(i => (s"k$i", 5L, -i.toLong))
        .toDF("k", "ts", "v").repartition(4)
        .withColumn("v", when(col("k") === "k7", raise_error(lit("boom")))
          .otherwise(col("v")))
      intercept[Exception] {
        Bucketed.mergeByKey(spark, table, failing, orderCols = Seq("ts"))
      }
      Bucketed.forgetVerified()
      assert(tsState(table) == before)
      assert(Bucketed.currentGeneration(spark, table) == gen)
      assert(Bucketed.history(spark, table).select("generation", "op")
        .as[(Long, String)].collect().toSeq == hist)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("orderCols together with deleteCol is rejected") {
    val table = "graft_merge_recency_del"
    try {
      mkTs(table, Seq(("a", 1L, 1L)))
      intercept[IllegalArgumentException] {
        Bucketed.mergeByKey(spark, table,
          Seq(("a", 2L, 2L, true)).toDF("k", "ts", "v", "del"),
          deleteCol = Some("del"), orderCols = Seq("ts"))
      }
      assert(tsState(table) == Seq(("a", 1L, 1L)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("applyChanges replays generation diffs so replica tracks source exactly") {
    val source = "graft_merge_cdc_src"
    val replica = "graft_merge_cdc_dst"
    try {
      val rows = (0 until 40).map(i => (s"id$i", i.toLong))
      mk(source, rows)
      Bucketed.setRetention(spark, source, 6)
      val g0 = Bucketed.currentGeneration(spark, source)
      // replica bootstraps from the g0 snapshot
      Bucketed.save(Bucketed.loadAsOf(spark, source, g0),
        replica, Seq("k"), 4)
      // three maintenance ops on the source: append, keyed update
      // (delete+insert of the same keys), delete
      Bucketed.save((40 until 50).map(i => (s"id$i", i.toLong))
        .toDF("k", "v"), source, Seq("k"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      Bucketed.rewriteAll(spark, source,
        df => df.withColumn("v",
          when(col("v") % 10 === 0, col("v") + 1000).otherwise(col("v"))))
      Bucketed.rewriteAll(spark, source, _.filter(col("v") % 7 =!= 3))
      val gens = Bucketed.generations(spark, source)
        .dropWhile(_ < g0)
      // ship each consecutive delta; replica must equal source head
      gens.sliding(2).foreach { case Seq(from, to) =>
        Bucketed.applyChanges(spark, replica,
          Bucketed.diffGenerations(spark, source, from, to))
      }
      assert(stateOf(replica) == stateOf(source))
      // re-applying the LAST diff is idempotent
      Bucketed.applyChanges(spark, replica,
        Bucketed.diffGenerations(spark, source,
          gens(gens.size - 2), gens.last))
      assert(stateOf(replica) == stateOf(source))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $source")
      spark.sql(s"DROP TABLE IF EXISTS $replica")
    }
  }
}
