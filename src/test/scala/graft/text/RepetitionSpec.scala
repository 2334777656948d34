package graft.text

import org.apache.spark.sql.functions._

class RepetitionSpec extends graft.SparkSuite {

  test("repetition stats: hand-computed fractions on a crafted doc") {
    import spark.implicits._
    // words: a a a b -> n=4, distinct=2, top word 'a'=3,
    // bigrams: "a a","a a","a b" -> top bigram 2 of 3
    val df = TextAnalysis.repetitionStats(
      Seq((1L, "A  a a   b")).toDF("doc_id", "text"))
    val r = df.head()
    assert(r.getLong(1) == 4L) // n_words
    assert(r.getLong(2) == math.floor(2.0 * 10000.0 / 4.0).toLong)
    assert(r.getLong(3) == math.floor(3.0 * 10000.0 / 4.0).toLong)
    assert(r.getLong(4) == math.floor(2.0 * 10000.0 / 3.0).toLong)
  }

  test("single-word doc: bigram fraction is 0, word fractions are 1e4") {
    import spark.implicits._
    val r = TextAnalysis.repetitionStats(
      Seq((1L, "hello")).toDF("doc_id", "text")).head()
    assert(r.getLong(1) == 1L && r.getLong(2) == 10000L &&
      r.getLong(3) == 10000L && r.getLong(4) == 0L)
  }

  test("shard assignment: deterministic, parallel window, every doc placed once") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = Curation.shardAssignments(docs, nShards = 8).collect()
    assert(a.length == 300)
    val byShard = a.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keys.forall(s => s >= 0 && s < 8))
    // positions within a shard are 1..size with no gaps, ordered by (h, id)
    byShard.foreach { case (_, rows) =>
      val pos = rows.map(_.getAs[Long]("pos")).sorted
      assert(pos.sameElements(1L to rows.length.toLong))
      val byPos = rows.sortBy(_.getAs[Long]("pos"))
        .map(r => (r.getAs[Long]("h"), r.getAs[Long]("doc_id")))
      assert(byPos.sameElements(byPos.sorted))
    }
    // re-run is bit-identical (no RNG state)
    val b = Curation.shardAssignments(docs, nShards = 8).collect()
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet)
    // plan shape: the ranking window is PARTITIONED on the shard key
    // (a partition-less window would funnel the corpus into one task)
    val p = Curation.shardAssignments(docs, nShards = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("windowspecdefinition(shard"), p)
  }

  test("writeShards: one dir per shard, rows inside each file in pos order") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val out = tempDir("shards").toString
    Curation.writeShards(docs, out, nShards = 4)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.sameElements((0 until 4).map(s => s"shard=$s")))
    val back = spark.read.parquet(out)
    assert(back.count() == 200)
    // within each shard the parquet row order equals the pos order
    val want = Curation.shardAssignments(docs, nShards = 4)
    (0 until 4).foreach { s =>
      val filePos = spark.read.parquet(s"$out/shard=$s")
        .select("pos").collect().map(_.getLong(0))
      assert(filePos.sameElements(filePos.sorted), s"shard $s out of order")
      assert(filePos.length ==
        want.filter(col("shard") === s).count())
    }
  }
}
