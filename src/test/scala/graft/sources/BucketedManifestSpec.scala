package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions.col

/** The generation-manifest commit: a maintenance swap is ONE
  * atomically-created manifest file, so every crash window serves a
  * complete generation — the old one before the commit, the new one
  * after — with no duplicate-rows or lost-rows window on ANY
  * filesystem (the property the old rename-then-delete swap only had
  * where rename is atomic and cheap). */
class BucketedManifestSpec extends SparkSuite {
  import spark.implicits._

  private def tableDir(table: String): java.io.File = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    new java.io.File(new org.apache.hadoop.fs.Path(meta.location).toUri)
  }

  private def dataFiles(table: String): Seq[java.io.File] =
    tableDir(table).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))

  /** Simulate a crashed maintenance op's staged-but-uncommitted files:
    * copies of the current generation under fresh (unlisted) part-
    * names with the same bucket suffix — exactly what lands when the
    * crash hits between the staging renames and the manifest write. */
  private def plantOrphans(table: String): Seq[String] = {
    dataFiles(table).map { f =>
      val orphan = new java.io.File(f.getParentFile,
        "part-9" + f.getName.stripPrefix("part-"))
      java.nio.file.Files.copy(f.toPath, orphan.toPath)
      orphan.getName
    }
  }

  test("split append: same rows, one atomic generation, subSplits files per bucket") {
    val table = "graft_manifest_split_append"
    try {
      val seed = (0 until 64).map(i => (s"k${i % 17}", i.toLong))
      Bucketed.save(seed.toDF("bkey", "doc"), table, Seq("bkey"), 4)
      val g1 = Bucketed.currentGeneration(spark, table)
      val batch = (100 until 400).map(i => (s"k${i % 17}", i.toLong))
      Bucketed.save(batch.toDF("bkey", "doc"), table, Seq("bkey"), 4,
        mode = org.apache.spark.sql.SaveMode.Append, appendSubSplits = 3)
      // ONE generation advance for the whole split batch (atomicity)
      assert(Bucketed.currentGeneration(spark, table) == g1 + 1)
      // same row multiset as a plain append would land
      assert(Bucketed.load(spark, table).as[(String, Long)].collect()
        .sorted.toSeq == (seed ++ batch).sorted)
      // per bucket: 1 seed file + at most subSplits wave files, every
      // name carrying a parseable bucket id
      val byBucket = dataFiles(table)
        .map(f => Bucketed.bucketIdOfName(f.getName))
      assert(byBucket.forall(_.isDefined), s"unparseable bucket names")
      assert(byBucket.groupBy(identity).values.map(_.size).max <= 4)
      // the split batch still serves the co-located join plan (the
      // bucket contract survives multi-file buckets); pin the
      // sort-merge shape the way BucketedSpec does
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val joined = Bucketed.load(spark, table)
          .join(Bucketed.load(spark, table)
            .select(col("bkey"), col("doc").as("doc2")), "bkey")
        assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"))
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("crash between staging and the manifest commit: old generation served, orphans reconciled") {
    val table = "graft_manifest_crash_pre"
    try {
      (0 until 100).map(i => (s"k${i % 17}", i.toLong)).toDF("bkey", "doc")
        .createOrReplaceTempView("mrows")
      Bucketed.save(spark.table("mrows"), table, Seq("bkey"), 4)
      val orphans = plantOrphans(table)
      spark.catalog.refreshTable(table)
      // the crash killed the process: in-process verified-state dies
      // with it (the cache is exactly as durable as the crash windows
      // it guards against)
      Bucketed.forgetVerified()
      // the raw dir scan DOES see both generations — that is the
      // window the manifest exists to close
      assert(spark.table(table).count() == 200)
      // the manifest-resolving reader serves the committed generation
      // only, and reconciles the orphans away
      assert(Bucketed.load(spark, table).count() == 100)
      val left = dataFiles(table).map(_.getName).toSet
      assert(orphans.forall(o => !left(o)),
        s"orphans must be reconciled, still present: ${left.filter(_.startsWith("part-9"))}")
      // the healed table is fully intact
      assert(Bucketed.load(spark, table).as[(String, Long)].collect().toSet
        == (0 until 100).map(i => (s"k${i % 17}", i.toLong)).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("crash after the commit, before old-file deletion: new generation served, no duplicates") {
    val table = "graft_manifest_crash_post"
    try {
      val rows = (0 until 60).map(i => (s"k${i % 11}", i.toLong))
      rows.toDF("bkey", "doc").createOrReplaceTempView("mrows2")
      Bucketed.save(spark.table("mrows2"), table, Seq("bkey"), 4)
      val shard = (60 until 80).map(i => (s"k${i % 11}", i.toLong))
      Bucketed.save(shard.toDF("bkey", "doc"), table, Seq("bkey"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      // keep a pre-compaction file aside, compact, then resurrect it —
      // as if the crash hit after the manifest commit but before the
      // old files were deleted
      val victim = dataFiles(table).head
      val stash = tempDir("graft-stash").resolve("stash.parquet")
      java.nio.file.Files.copy(victim.toPath, stash,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(Bucketed.compactBuckets(spark, table, maxFilesPerBucket = 1) > 0)
      java.nio.file.Files.copy(stash, victim.toPath)
      spark.catalog.refreshTable(table)
      Bucketed.forgetVerified() // the crash took the process with it
      assert(spark.table(table).count() > 80,
        "the resurrected old-generation file must be visible to a raw scan")
      assert(Bucketed.load(spark, table).count() == 80)
      assert(Bucketed.load(spark, table).as[(String, Long)].collect().toSet
        == (rows ++ shard).toSet)
      assert(!victim.exists(), "the superseded file must be reconciled away")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a torn manifest write falls back to the previous generation") {
    val table = "graft_manifest_torn"
    try {
      (0 until 40).map(i => (s"k${i % 7}", i.toLong)).toDF("bkey", "doc")
        .createOrReplaceTempView("mrows3")
      Bucketed.save(spark.table("mrows3"), table, Seq("bkey"), 4)
      // a crash mid-PUT leaves a partial manifest at a higher
      // generation: bad trailer → skipped by the reader
      val torn = new java.io.File(tableDir(table), "_graft_manifest.99")
      java.nio.file.Files.write(torn.toPath,
        "graft-manifest-v1\npart-nonexistent\n".getBytes)
      Bucketed.forgetVerified() // reader starts cold after the crash
      assert(Bucketed.load(spark, table).count() == 40)
      // the next commit supersedes the torn generation (gen 100)
      Bucketed.save((100 until 110).map(i => (s"k${i % 7}", i.toLong))
        .toDF("bkey", "doc"), table, Seq("bkey"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      assert(Bucketed.load(spark, table).count() == 50)
      val manifests = tableDir(table).listFiles()
        .filter(_.getName.startsWith("_graft_manifest."))
      assert(manifests.map(_.getName).toSet.contains("_graft_manifest.100"),
        s"expected gen 100, got ${manifests.map(_.getName).mkString(",")}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("maintenance after a crashed rewrite reconciles orphans instead of folding them in") {
    val table = "graft_manifest_nofold"
    try {
      (0 until 50).map(i => (s"k${i % 5}", i.toLong)).toDF("bkey", "doc")
        .createOrReplaceTempView("mrows4")
      Bucketed.save(spark.table("mrows4"), table, Seq("bkey"), 4)
      plantOrphans(table)
      Bucketed.forgetVerified()
      // a compaction that read the orphans would commit 100 rows; the
      // manifest restricts its inputs to the committed generation
      Bucketed.compactBuckets(spark, table, maxFilesPerBucket = 0)
      assert(Bucketed.load(spark, table).count() == 50)
      assert(dataFiles(table).forall(f => !f.getName.startsWith("part-9")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("replaceAll swaps the whole contents through one manifest commit") {
    val table = "graft_manifest_replace"
    try {
      (0 until 30).map(i => (s"k${i % 5}", i.toLong)).toDF("bkey", "doc")
        .createOrReplaceTempView("mrows5")
      Bucketed.save(spark.table("mrows5"), table, Seq("bkey"), 4)
      val next = (1000 until 1020).map(i => (s"r${i % 3}", i.toLong))
      val n = Bucketed.replaceAll(spark, table, next.toDF("bkey", "doc"))
      assert(n > 0)
      assert(Bucketed.load(spark, table).as[(String, Long)].collect().toSet
        == next.toSet)
      // replacement preserves the bucket spec (co-located joins stay valid)
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      assert(meta.bucketSpec.exists(_.numBuckets == 4))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
