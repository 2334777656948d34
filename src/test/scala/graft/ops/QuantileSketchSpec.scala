package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.functions.Hashing

/** Bottom-k-by-hash quantile sketch: must equal the from-scratch
  * reference exactly (membership is a pure function of the ids), stay
  * within sampling accuracy of the true quantile, be partition- and
  * arrival-order-independent, and agree bit-for-bit between the batch
  * and streaming forms. */
class QuantileSketchSpec extends SparkSuite {
  import spark.implicits._

  private def ref(rows: Seq[(String, Long, Long)], k: Int,
                  qs: Seq[Double]): Set[(String, Long, Long)] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sample = rs.map { case (_, id, v) =>
        (Hashing.squareMix(Hashing.polyHash(id.toString)), id, v) }
        .sortBy { case (h, id, _) => (h, id) }.take(k)
      val m = sample.size
      val byValue = sample.sortBy { case (h, id, v) => (v, h, id) }
      qs.map { q =>
        val qe4 = math.round(q * 10000.0)
        val rank = math.max(1, ((qe4 * m + 9999) / 10000).toInt)
        (g, qe4, byValue(rank - 1)._3)
      }
    }.toSet

  private def rows: Seq[(String, Long, Long)] =
    (0 until 300).map(i =>
      (s"g${i % 3}", i.toLong, ((i * 7919) % 1000).toLong))

  test("estimates equal the from-scratch reference on any partitioning") {
    val qs = Seq(0.25, 0.5, 0.75, 1.0)
    val expected = ref(rows, k = 16, qs = qs)
    for (parts <- Seq(2, 13)) {
      val got = QuantileSketch.quantileEstimates(
          rows.toDF("g", "id", "v").repartition(parts),
          Seq("g"), "id", "v", qs, k = 16)
        .as[(String, Long, Long)].collect().toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("q = 0.0 emits the sample minimum — the streaming clamp, batch side") {
    // the rank clamp to >=1 must match quantileSketchStream's
    // math.max(rank, 1): q=0.0 yields rank 1, never an empty result
    val got = QuantileSketch.quantileEstimates(
        rows.toDF("g", "id", "v"), Seq("g"), "id", "v",
        Seq(0.0), k = 16)
      .as[(String, Long, Long)].collect().toSet
    assert(got == ref(rows, k = 16, qs = Seq(0.0)), s"got $got")
    assert(got.size == 3, s"expected one row per group, got $got")
    // and out-of-range quantiles are rejected loudly
    intercept[IllegalArgumentException] {
      QuantileSketch.quantileEstimates(
        rows.toDF("g", "id", "v"), Seq("g"), "id", "v", Seq(1.5))
    }
  }

  test("bottom-k plan prunes per partition via WindowGroupLimit") {
    val p = QuantileSketch.bottomKSample(
        rows.toDF("g", "id", "v").repartition(7),
        Seq("g"), "id", "v", k = 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"expected the rank-limit pushdown (each partition forwards at " +
        s"most k rows per group to the shuffle):\n$p")
  }

  test("sampling accuracy: rank error within the k-sample bound") {
    val n = 20000
    val big = (0 until n).map(i =>
      ("g", i.toLong, ((i.toLong * 7919) % n)))
    // values are a permutation of 0..n-1, so the true q-quantile IS
    // q*n and the estimate's value error equals its rank error
    val got = QuantileSketch.quantileEstimates(
        big.toDF("g", "id", "v"), Seq("g"), "id", "v",
        Seq(0.25, 0.5, 0.75), k = 256)
      .as[(String, Long, Long)].collect()
    got.foreach { case (_, qe4, est) =>
      val truth = qe4 * n / 10000.0
      assert(math.abs(est - truth) <= 0.15 * n,
        s"q=$qe4: est $est vs truth $truth — outside the sampling bound")
    }
  }

  test("streaming form agrees with batch bit-for-bit across micro-batch splits") {
    import graft.streaming.Streaming
    val qs = Seq(0.5, 0.9)
    val base = tempDir("graft-qsk").toString
    def writeFile(name: String, rs: Seq[(String, Long, Long)]): Unit = {
      val stage = tempDir("graft-qsk-st")
      rs.toDF("g", "id", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$base/src", name)
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(
        1000000L * (name.hashCode.abs % 100 + 1)))
    }
    // both batches touch every group, so the LAST |groups|·|qs|
    // emissions of the update stream are the final estimates
    val (b1, b2) = rows.partition(_._2 < 150)
    writeFile("f1.parquet", b1)
    writeFile("f2.parquet", b2)
    val all = Streaming.runAvailableNow(
        Streaming.quantileSketchStream(
          Streaming.fileStream(spark, s"$base/src",
            maxFilesPerTrigger = Some(1)),
          "g", "id", "v", qs, k = 16).toDF(),
        s"qsk_${System.nanoTime()}", outputMode = "update")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // bounded state: no emission ever reports a sample beyond k
    assert(all.forall(_._4 <= 16), s"state exceeded k: ${all.toSeq}")
    val finalRows = all.takeRight(3 * qs.size)
      .map { case (g, q, est, _) => (g, q, est) }.toSet
    val batch = QuantileSketch.quantileEstimates(
        rows.toDF("g", "id", "v"), Seq("g"), "id", "v", qs, k = 16)
      .as[(String, Long, Long)].collect().toSet
    assert(finalRows == batch,
      s"streaming final $finalRows != batch $batch")
  }

  test("at-least-once redelivery of the same ids leaves estimates unchanged") {
    import graft.streaming.Streaming
    val qs = Seq(0.5)
    val base = tempDir("graft-qsk2").toString
    def writeFile(name: String, mtime: Long,
                  rs: Seq[(String, Long, Long)]): Unit = {
      val stage = tempDir("graft-qsk2-st")
      rs.toDF("g", "id", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$base/src", name)
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtime))
    }
    val b = rows.filter(_._1 == "g0")
    writeFile("f1.parquet", 1000000L, b)
    writeFile("f2.parquet", 2000000L, b) // the same rows again
    val all = Streaming.runAvailableNow(
        Streaming.quantileSketchStream(
          Streaming.fileStream(spark, s"$base/src",
            maxFilesPerTrigger = Some(1)),
          "g", "id", "v", qs, k = 16).toDF(),
        s"qsk2_${System.nanoTime()}", outputMode = "update")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(all.length == 2, s"expected one emission per batch: ${all.toSeq}")
    assert(all(0) == all(1),
      s"redelivered ids changed the estimate: ${all.toSeq}")
  }
}
