package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Incremental materialized aggregate: serve() must equal a plain
  * groupBy over the surviving raw rows through the whole lifecycle
  * (build → append → retract → repair → consolidate), appends must be
  * exactly-once under replay — including replay AFTER consolidation,
  * the window content-dedup families cannot close — and retraction
  * must degrade min/max honestly (null, not stale) until repaired. */
class IncrementalAggSpec extends SparkSuite {
  import spark.implicits._

  private val name = "graft_incagg_idx"
  private val buckets = 4

  // (g, v): group i % 7, value quantized long
  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong % 7, (i * 13 % 101).toLong))
      .toDF("g", "v")

  private def served(): Set[(Long, Long, Long, Option[Long], Option[Long], Long)] =
    IncrementalAgg.serve(spark, name)
      .select("g", "n", "sum_q", "min_q", "max_q", "avg_e6")
      .as[(Long, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSet

  private def oracle(raw: DataFrame): Set[(Long, Long, Long, Option[Long], Option[Long], Long)] =
    raw.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_q"),
        min("v").as("min_q"), max("v").as("max_q"))
      .select(col("g"), col("n"), col("sum_q"), col("min_q"), col("max_q"),
        floor(col("sum_q").cast("double") * lit(1000000.0)
          / col("n").cast("double")).cast("long").as("avg_e6"))
      .as[(Long, Long, Long, Option[Long], Option[Long], Long)]
      .collect().toSet

  private def drop(): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${name}_partials")

  test("serve equals raw groupBy through build/append/retract/repair/consolidate") {
    try {
      IncrementalAgg.buildIndex(rows(0, 50), name, buckets, "g", "v")
      assert(served() == oracle(rows(0, 50)) && served().nonEmpty)

      // appends advance every aggregate (same groups touched again)
      assert(IncrementalAgg.append(rows(50, 80), name, buckets, "g", "v", "b1"))
      assert(IncrementalAgg.append(rows(80, 95), name, buckets, "g", "v", "b2"))
      assert(served() == oracle(rows(0, 95)))

      // retraction: count/sum/avg exact immediately; the touched
      // groups' min/max serve as NULL, not a stale bound
      val gone = rows(20, 40)
      assert(IncrementalAgg.retract(gone, name, buckets, "g", "v", "d0"))
      val remaining = rows(0, 20).unionByName(rows(40, 95))
      val afterRetract = served()
      val exact = oracle(remaining)
      assert(afterRetract.map(t => (t._1, t._2, t._3, t._6)) ==
        exact.map(t => (t._1, t._2, t._3, t._6)))
      val touched = gone.select("g").distinct().as[Long].collect().toSet
      assert(afterRetract.filter(t => touched(t._1))
        .forall(t => t._4.isEmpty && t._5.isEmpty))

      // repair restores exact min/max for the touched groups at
      // O(touched buckets)
      val n = IncrementalAgg.repairGroups(spark, name, buckets, remaining,
        "g", "v", gone.select("g"))
      assert(n > 0)
      assert(served() == exact)

      // consolidation changes nothing observable
      IncrementalAgg.consolidate(spark, name, maxFilesPerBucket = 1)
      assert(served() == exact)
    } finally drop()
  }

  test("appends are exactly-once under replay, including replay after consolidation") {
    try {
      IncrementalAgg.buildIndex(rows(0, 30), name, buckets, "g", "v")
      assert(IncrementalAgg.append(rows(30, 60), name, buckets, "g", "v", "b1"))
      val once = served()
      // same-tag replay before consolidation: skipped
      assert(!IncrementalAgg.append(rows(30, 60), name, buckets, "g", "v", "b1"))
      assert(served() == once)
      // consolidation merges data rows but PRESERVES sentinels —
      // replay after it is still skipped (content-dedup could not
      // catch this: the merged rows no longer match the batch's)
      IncrementalAgg.consolidate(spark, name, maxFilesPerBucket = 1)
      assert(served() == once)
      assert(!IncrementalAgg.append(rows(30, 60), name, buckets, "g", "v", "b1"))
      assert(served() == once)
      // a genuinely new batch with identical CONTENT still lands —
      // only the tag decides (two identical batches are legitimate)
      assert(IncrementalAgg.append(rows(30, 60), name, buckets, "g", "v", "b2"))
      assert(served() == oracle(rows(0, 60).unionByName(rows(30, 60))))
    } finally drop()
  }

  test("retraction to zero removes the group, matching the raw groupBy") {
    try {
      val only5 = Seq((5L, 10L), (5L, 20L)).toDF("g", "v")
      val others = Seq((1L, 1L), (2L, 2L)).toDF("g", "v")
      IncrementalAgg.buildIndex(only5.unionByName(others), name, buckets,
        "g", "v")
      IncrementalAgg.retract(only5, name, buckets, "g", "v", "d0")
      assert(served() == oracle(others))
    } finally drop()
  }

  test("repairGroups heals a group whose bucket has no files yet") {
    try {
      // index holds ONLY group 1 — most of the 8 buckets have no files
      IncrementalAgg.buildIndex(Seq((1L, 1L)).toDF("g", "v"), name,
        buckets = 8, "g", "v")
      def bucketOf(g: Long): Int = spark.range(1)
        .select(pmod(hash(lit(g)), lit(8)).cast("int")).head().getInt(0)
      val g2 = (2L to 100L).find(g => bucketOf(g) != bucketOf(1L)).get
      // heal g2 from raw truth: its bucket has no files, but the
      // recomputed partials must still stage (the explicit-target
      // rewrite cannot silently skip file-less buckets)
      val raw = Seq((1L, 1L), (g2, 5L), (g2, 7L)).toDF("g", "v")
      IncrementalAgg.repairGroups(spark, name, 8, raw, "g", "v",
        Seq(g2).toDF("g"))
      assert(IncrementalAgg.serve(spark, name)
        .filter(col("g") === g2)
        .select("n", "sum_q").as[(Long, Long)].collect().toSeq
        == Seq((2L, 12L)),
        "the healed group must be served from its file-less bucket")
    } finally drop()
  }

  test("streaming ingest: foreachBatch ids are idempotency tags; serve matches batch") {
    try {
      val all = rows(0, 64)
      IncrementalAgg.buildIndex(rows(0, 0), name, buckets, "g", "v")
      val src = all.repartition(4) // 4-ish micro-batches under AvailableNow
      val dirIn = java.nio.file.Files.createTempDirectory(
        graft.streaming.Streaming.scratchBase, "graft-incagg-in")
      all.write.mode("overwrite").parquet(dirIn.toString)
      val stream = spark.readStream
        .schema(all.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirIn.toString)
      IncrementalAgg.streamAppend(stream, name, buckets, "g", "v",
        consolidateEvery = 2, maxFilesPerBucket = 2)
      assert(served() == oracle(all))
      assert(src.count() == 64)
    } finally drop()
  }

  /** A source dir under a fresh base, a stream over it, and the base
    * deleted after `f`. */
  private def withSource(f: (String, () => DataFrame) => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory(
      graft.streaming.Streaming.scratchBase, "graft-incagg-src").toString
    val stream = () => spark.readStream.schema(rows(0, 0).schema)
      .parquet(s"$base/src")
    try f(base, stream)
    finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
  }

  test("a persistent checkpoint resumes: the second call ingests only the new files") {
    withSource { (base, stream) =>
      try {
        IncrementalAgg.buildIndex(rows(0, 0), name, buckets, "g", "v")
        val ckpt = Some(s"$base/ckpt")
        rows(0, 30).write.mode("append").parquet(s"$base/src")
        IncrementalAgg.streamAppend(stream(), name, buckets, "g", "v",
          checkpointDir = ckpt)
        assert(served() == oracle(rows(0, 30)))
        rows(30, 64).write.mode("append").parquet(s"$base/src")
        IncrementalAgg.streamAppend(stream(), name, buckets, "g", "v",
          checkpointDir = ckpt)
        assert(served() == oracle(rows(0, 64)))
      } finally drop()
    }
  }

  test("a one-shot streamAppend's deleted checkpoint cannot be resumed: later ingest fails, drops no rows") {
    withSource { (base, stream) =>
      try {
        IncrementalAgg.buildIndex(rows(0, 0), name, buckets, "g", "v")
        rows(0, 30).write.mode("append").parquet(s"$base/src")
        IncrementalAgg.streamAppend(stream(), name, buckets, "g", "v")
        assert(served() == oracle(rows(0, 30)))
        val loc = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_partials"))
            .location)
        val owner = graft.sources.Bucketed.readMarker(
          loc.getFileSystem(spark.sparkContext.hadoopConfiguration), loc,
          "_graft_stream_owner", "graft-stream-owner-v1")
        assert(owner.isDefined, "the one-shot call must claim the index")
        // passing the deleted owner path back would restart Spark's
        // batch ids at 0, and batch 0 would find the committed sb0 tag
        rows(30, 64).write.mode("append").parquet(s"$base/src")
        for (ckpt <- Seq(owner, None)) {
          val e = intercept[IllegalArgumentException](
            IncrementalAgg.streamAppend(stream(), name, buckets, "g", "v",
              checkpointDir = ckpt))
          assert(e.getMessage.contains("rebuild the index"), e.getMessage)
        }
        assert(served() == oracle(rows(0, 30)))
      } finally drop()
    }
  }
}
