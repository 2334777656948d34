package graft.streaming

import graft.SparkSuite

/** The gates' metrics log must stay bounded in file count as batches
  * accumulate, reconcile duplicate generations after a crash mid-fold,
  * and absorb at-least-once replays of both writes and folds. */
class GateMetricsLogSpec extends SparkSuite {
  import spark.implicits._

  private def rowsOf(dir: String): Set[(Long, Long)] =
    GateMetricsLog.read(spark, dir)
      .select("batch", "n_in").as[(Long, Long)].collect().toSet

  test("file count stays bounded across >=16 batches with periodic folds") {
    val dir = tempDir("graft-gmetrics").toString + "/m"
    GateMetricsLog.clear(spark, dir)
    val compactEvery = 4
    for (id <- 0L until 18L) {
      GateMetricsLog.write(spark, dir, id, GateMetrics(10 + id, id, 1, 0))
      if ((id + 1) % compactEvery == 0)
        GateMetricsLog.compact(spark, dir, id)
    }
    // after batch 17 (last fold at 15): one generation + batches 16,17
    val n = GateMetricsLog.entryCount(spark, dir)
    assert(n <= compactEvery + 1,
      s"metrics log grew to $n dirs across 18 batches")
    // every batch's row survives, exactly once
    assert(rowsOf(dir) == (0L until 18L).map(id => (id, 10 + id)).toSet)
  }

  test("crash mid-fold leaves duplicates that read() reconciles; re-running heals") {
    val dir = tempDir("graft-gmetrics2").toString + "/m"
    GateMetricsLog.clear(spark, dir)
    for (id <- 0L until 4L)
      GateMetricsLog.write(spark, dir, id, GateMetrics(100 + id, 1, 0, 0))
    GateMetricsLog.compact(spark, dir, 3L)
    // simulate the crash window: a batch dir that SHOULD have been
    // deleted by the fold reappears (both generations visible)
    GateMetricsLog.write(spark, dir, 2L, GateMetrics(102, 1, 0, 0))
    assert(rowsOf(dir) == (0L until 4L).map(id => (id, 100 + id)).toSet,
      "duplicate generations must reconcile by batch id")
    // replaying the SAME fold (at-least-once) heals the layout: the
    // complete generation is NEVER refolded (it may be the only copy),
    // only the leftover inputs are deleted
    GateMetricsLog.compact(spark, dir, 3L)
    assert(GateMetricsLog.entryCount(spark, dir) == 1)
    assert(rowsOf(dir) == (0L until 4L).map(id => (id, 100 + id)).toSet)
    // the other crash window: a TORN generation (no _SUCCESS — crash
    // mid-write) is discarded and refolded from the intact inputs
    for (id <- 4L until 6L)
      GateMetricsLog.write(spark, dir, id, GateMetrics(100 + id, 1, 0, 0))
    val torn = new java.io.File(dir, "g5")
    assert(torn.mkdirs())
    GateMetricsLog.compact(spark, dir, 5L)
    assert(GateMetricsLog.entryCount(spark, dir) == 1)
    assert(rowsOf(dir) == (0L until 6L).map(id => (id, 100 + id)).toSet)
  }

  test("read() of a missing dir or torn-only entries is empty, not an error") {
    val base = tempDir("graft-gmetrics4").toString
    // missing dir — the state right after a crash before the first write
    val missing = s"$base/never-written"
    assert(GateMetricsLog.read(spark, missing).count() == 0)
    assert(GateMetricsLog.read(spark, missing).columns.toSeq ==
      Seq("batch", "n_in", "n_kept", "n_index_hits", "n_batch_hits"))
    // dir holding only a torn generation (no _SUCCESS, partial file)
    val torn = s"$base/torn"
    val g = new java.io.File(torn, "g3")
    assert(g.mkdirs())
    java.nio.file.Files.write(g.toPath.resolve("part-00000.parquet"),
      "not parquet".getBytes)
    assert(GateMetricsLog.read(spark, torn).count() == 0)
    // a committed write beside the torn dir reads back — torn skipped
    GateMetricsLog.write(spark, torn, 7L, GateMetrics(42, 1, 0, 0))
    assert(rowsOf(torn) == Set((7L, 42L)))
  }

  test("replayed write before a later fold changes nothing") {
    val dir = tempDir("graft-gmetrics3").toString + "/m"
    GateMetricsLog.clear(spark, dir)
    for (id <- 0L until 3L)
      GateMetricsLog.write(spark, dir, id, GateMetrics(id, 0, 0, 0))
    // replay of batch 1
    GateMetricsLog.write(spark, dir, 1L, GateMetrics(1, 0, 0, 0))
    GateMetricsLog.compact(spark, dir, 2L)
    assert(rowsOf(dir) == Set((0L, 0L), (1L, 1L), (2L, 2L)))
  }
}
