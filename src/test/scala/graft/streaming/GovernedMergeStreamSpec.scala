package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.sources.{Bucketed, Replication}
import graft.streaming.Streaming

/** Streaming MERGE INTO the governed bucketed table: every micro-batch
  * is one atomic generation, so mid-stream the table still time
  * travels, diffs, and replica-syncs; a redelivered batch re-merges
  * idempotently. */
class GovernedMergeStreamSpec extends SparkSuite {
  import spark.implicits._

  private def writeFile(base: String, fname: String, mtimeMs: Long,
                        rows: Seq[(Long, Long, Boolean)]): Unit = {
    val stage = tempDir("graft-gm-st")
    rows.toDF("k", "v", "del").coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(s"$base/src", fname)
    dest.getParentFile.mkdirs()
    java.nio.file.Files.copy(part.toPath, dest.toPath)
    assert(dest.setLastModified(mtimeMs))
  }

  private def stateOf(table: String): Set[(Long, Long)] =
    Bucketed.load(spark, table).select("k", "v")
      .as[(Long, Long)].collect().toSet

  test("micro-batches commit as generations: final state, mid-stream time travel, replica sync, idempotent redelivery") {
    val table = "graft_gmstream"
    val replica = "graft_gmstream_replica"
    try {
      Bucketed.save((0 until 20).map(i => (i.toLong, i.toLong))
        .toDF("k", "v"), table, Seq("k"), 4)
      Bucketed.setRetention(spark, table, 8)
      val g0 = Bucketed.currentGeneration(spark, table)
      val base = tempDir("graft-gm-ingest").toString
      // ordered batches: insert new keys, update, delete
      writeFile(base, "f1.parquet", 1000000L,
        (100 until 110).map(i => (i.toLong, i.toLong, false)))
      writeFile(base, "f2.parquet", 2000000L,
        Seq((3L, 333L, false), (100L, 111L, false)))
      writeFile(base, "f3.parquet", 3000000L,
        Seq((5L, 0L, true), (105L, 0L, true)))
      Streaming.mergeStreamIntoBucketed(
        Streaming.fileStream(spark, s"$base/src",
          maxFilesPerTrigger = Some(1)),
        table, deleteCol = Some("del"))
      val want = ((0 until 20).map(i => (i.toLong, i.toLong)) ++
        (100 until 110).map(i => (i.toLong, i.toLong)))
        .toMap ++ Map(3L -> 333L, 100L -> 111L) -- Seq(5L, 105L)
      assert(stateOf(table) == want.toSet)
      // one generation per micro-batch, and the mid-stream snapshot
      // (after f1, before f2) is still readable
      val gens = Bucketed.generations(spark, table)
      assert(gens.takeRight(4).head == g0 && gens.size >= 4)
      val afterF1 = Bucketed.loadAsOf(spark, table, g0 + 1)
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(afterF1 == ((0 until 20).map(i => (i.toLong, i.toLong)) ++
        (100 until 110).map(i => (i.toLong, i.toLong))).toSet)
      // the streamed table replicates like any governed table
      Bucketed.save(Bucketed.loadAsOf(spark, table, g0), replica,
        Seq("k"), 4)
      Replication.bootstrap(spark, table, replica, 4) // rebookmark at head
      assert(stateOf(replica) == stateOf(table))
      // redelivered batch (at-least-once foreachBatch) is a no-op
      Bucketed.mergeByKey(spark, table,
        Seq((5L, 0L, true), (105L, 0L, true)).toDF("k", "v", "del"),
        deleteCol = Some("del"))
      assert(stateOf(table) == want.toSet)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $replica")
    }
  }
}
