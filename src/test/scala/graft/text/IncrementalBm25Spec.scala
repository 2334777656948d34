package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Incremental BM25 index: a probe from the persisted postings must be
  * bit-identical to Bm25.topKBatch over the raw corpus, stay identical
  * through append/delete/compaction (stats maintained incrementally),
  * and touch nothing but the term-pruned postings buckets. */
class IncrementalBm25Spec extends SparkSuite {
  import spark.implicits._

  private val name = "graft_incbm25_idx"
  private val buckets = 8

  // heavy term overlap: vocabulary t0..t16, 10 tokens per doc
  private def docs(lo: Int, hi: Int) = (lo until hi).map { i =>
    (i.toLong, (0 until 10).map(j => s"t${(i + j * 3) % 17}").mkString(" "))
  }.toDF("doc_id", "text")

  private def queries = Seq(
    (1L, Seq("t0", "t3", "t7")),
    (2L, Seq("t1")),
    (3L, Seq("t4", "t16", "t4"))).toDF("query_id", "terms")

  private def probeSet(): Set[(Long, Long, Long, Long, Int)] =
    IncrementalBm25.probe(spark, queries, name, k = 10)
      .select("query_id", "doc_id", "score_e6", "n_terms", "rank")
      .as[(Long, Long, Long, Long, Int)].collect().toSet

  private def batchSet(corpus: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Long, Long, Int)] =
    Bm25.topKBatch(corpus, queries, k = 10)
      .select("query_id", "doc_id", "score_e6", "n_terms", "rank")
      .as[(Long, Long, Long, Long, Int)].collect().toSet

  private def drop(): Unit =
    Seq(s"${name}_postings", s"${name}_stats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("probe equals the corpus-scan batch scorer through build/append/delete/compaction") {
    try {
      // 1. fresh build
      IncrementalBm25.buildIndex(docs(0, 40), name, buckets)
      assert(probeSet() == batchSet(docs(0, 40)) && probeSet().nonEmpty)
      // 2. append shifts df AND avgdl — scores of OLD docs change too,
      // so parity here proves the stats row really advanced
      IncrementalBm25.appendToIndex(docs(40, 55), name, buckets)
      val afterAppend = docs(0, 55)
      assert(probeSet() == batchSet(afterAppend))
      // 3. content-derived deletion retreats df and avgdl
      IncrementalBm25.deleteFromIndex(
        afterAppend.filter(col("doc_id") % 5 === 0), name, buckets)
      val afterDelete = afterAppend.filter(col("doc_id") % 5 =!= 0)
      assert(probeSet() == batchSet(afterDelete))
      // 4. compaction is verdict-neutral (and heals nothing here)
      val before = probeSet()
      IncrementalBm25.compactIndex(spark, name, maxFilesPerBucket = 1)
      assert(probeSet() == before)
    } finally drop()
  }

  test("the stats retreat is verified: dup rows subtract once, retries and never-indexed ids are no-ops") {
    try {
      IncrementalBm25.buildIndex(docs(0, 40), name, buckets)
      // an erasure batch re-sends doc 5 twice: the postings anti-join
      // is naturally idempotent (ids.distinct) and the stats retreat —
      // derived from the postings actually present — subtracts once
      val dupBatch = docs(5, 6).unionByName(docs(5, 6))
        .unionByName(docs(10, 11))
      IncrementalBm25.deleteFromIndex(dupBatch, name, buckets)
      val remaining = docs(0, 40)
        .filter(!col("doc_id").isin(5, 10))
      assert(probeSet() == batchSet(remaining))
      // an uncertain RETRY of a completed delete finds no postings for
      // its ids — the verified retreat subtracts exactly what the
      // index loses (nothing), so N, idf, and every probe stay put
      IncrementalBm25.deleteFromIndex(docs(10, 11), name, buckets)
      assert(probeSet() == batchSet(remaining),
        "a delete retry must not skew the stats accumulator")
      // deleting ids that were NEVER indexed: same verified no-op
      IncrementalBm25.deleteFromIndex(docs(900, 905), name, buckets)
      assert(probeSet() == batchSet(remaining),
        "deleting never-indexed ids must not skew the stats accumulator")
      // repairStats stays the idempotent healer (and agrees)
      val (n, tot) = IncrementalBm25.repairStats(spark, name)
      assert(n == 38, s"repaired n_docs $n")
      assert(tot > 0)
      assert(probeSet() == batchSet(remaining))
    } finally drop()
  }

  test("pair pointer: a crash at ANY kill point between the two tables' commits serves one consistent pair") {
    try {
      IncrementalBm25.buildIndex(docs(0, 40), name, buckets)
      val baseline = probeSet()
      assert(baseline == batchSet(docs(0, 40)))
      val postingsTable = s"${name}_postings"
      val statsTable = s"${name}_stats"
      val pointer0 = graft.sources.Bucketed
        .readPairPointer(spark, postingsTable)
      assert(pointer0.isDefined, "buildIndex must stamp the pair pointer")
      // KILL POINT 1 — postings committed, stats and pointer did not:
      // run a full append, then restore BOTH the old stats row and the
      // old pointer (byte-for-byte the state a crash right after the
      // postings commit leaves: postings head advanced; stats and
      // pointer still old)
      val oldRow = graft.sources.Bucketed.load(spark, statsTable)
        .select("k", "n_docs", "tot_tok", "pgen")
        .as[(Int, Long, Long, Long)].head()
      IncrementalBm25.appendToIndex(docs(40, 55), name, buckets)
      val committed = probeSet() // the completed-append truth
      assert(committed == batchSet(docs(0, 55)))
      graft.sources.Bucketed.replaceAll(spark, statsTable,
        Seq(oldRow).toDF("k", "n_docs", "tot_tok", "pgen"))
      graft.sources.Bucketed.writePairPointer(spark, postingsTable,
        pointer0.get._1, pointer0.get._2)
      // the reader must serve the complete OLD pair — the pre-append
      // scores, exactly — never new postings with old stats
      assert(probeSet() == baseline,
        "a lagging pointer must serve the complete old pair")
      // recover (the retried mutation's heal): repairStats recomputes
      // the row from the live postings and re-stamps the pair
      IncrementalBm25.repairStats(spark, name)
      assert(probeSet() == committed,
        "after the stamp the new pair serves exactly")
      val pointer1 = graft.sources.Bucketed
        .readPairPointer(spark, postingsTable).get
      // KILL POINT 2 — the NEXT mutation's postings and stats both
      // committed but its pointer stamp did not: run a full delete,
      // then roll the pointer back ONE stamp
      IncrementalBm25.deleteFromIndex(docs(0, 5), name, buckets)
      val afterDelete = probeSet()
      assert(afterDelete ==
        batchSet(docs(0, 55).filter(col("doc_id") >= 5)))
      graft.sources.Bucketed.writePairPointer(spark, postingsTable,
        pointer1._1, pointer1._2)
      assert(probeSet() == committed,
        "the pointer, not the tables' heads, decides what readers see")
      // the RETRIED mutation is a verified no-op on the accumulator
      // and re-stamps the pair — readers flip to the deleted state
      IncrementalBm25.deleteFromIndex(docs(0, 5), name, buckets)
      assert(probeSet() == afterDelete,
        "the retried mutation's stamp publishes the new pair")
    } finally drop()
  }

  test("a legacy (pointer-less) index keeps the generation-binding heal") {
    try {
      IncrementalBm25.buildIndex(docs(0, 40), name, buckets)
      val postingsTable = s"${name}_postings"
      val statsTable = s"${name}_stats"
      // make the index pointer-less (legacy layout)
      val dir = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(postingsTable))
          .location)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_pair"), false)
      // stale stats row over advanced postings: the binding detects,
      // repairStats heals, the probe scores the clean pair
      val oldRow = graft.sources.Bucketed.load(spark, statsTable)
        .select("k", "n_docs", "tot_tok", "pgen")
        .as[(Int, Long, Long, Long)].head()
      IncrementalBm25.appendToIndex(docs(40, 55), name, buckets)
      fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_pair"), false)
      graft.sources.Bucketed.replaceAll(spark, statsTable,
        Seq(oldRow).toDF("k", "n_docs", "tot_tok", "pgen"))
      assert(probeSet() == batchSet(docs(0, 55)),
        "the pointer-less fallback must detect the stale row and heal")
      val pgen = graft.sources.Bucketed.load(spark, statsTable)
        .select("pgen").as[Long].head()
      assert(pgen == graft.sources.Bucketed.currentGeneration(
        spark, postingsTable))
    } finally drop()
  }

  test("filtered probe: predicate lands in the pruned scan, full k delivered, df counts survivors") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // lang rides the postings as an attribute column; "en" docs are
      // a minority, so an unfiltered top-k is crowded by "xx" docs
      val d = docs(0, 60)
        .withColumn("lang", when(col("doc_id") % 4 === 0, "en")
          .otherwise("xx"))
      IncrementalBm25.buildIndex(d, name, buckets, attrCols = Seq("lang"))
      val filtered = IncrementalBm25.probe(spark, queries, name, k = 5,
        filter = Some(col("lang") === "en"))
      val rows = filtered
        .select("query_id", "doc_id", "score_e6", "n_terms", "rank")
        .as[(Long, Long, Long, Long, Int)].collect()
      // every survivor matches; full k delivered per query (the
      // post-filter approach under-delivers here: the unfiltered
      // top-5 of q2 contains at most two doc_id%4==0 docs)
      assert(rows.forall(_._2 % 4 == 0))
      assert(rows.groupBy(_._1).values.forall(_.length == 5),
        "filtered top-k must deliver k SURVIVING docs")
      val unfilteredTop = IncrementalBm25.probe(spark, queries, name, k = 5)
        .select("query_id", "doc_id")
        .as[(Long, Long)].collect()
      assert(unfilteredTop.count(_._2 % 4 == 0) <
        rows.length,
        "post-filtering the unfiltered top-k must under-deliver vs pre-filtering")
      // value check against a spec-local reference: df over SURVIVING
      // docs (term rarity within the searched sub-corpus), N/avgdl
      // corpus-global from the stats row — the documented semantics
      val en = d.filter(col("lang") === "en")
      val (nAll, totAll) = d
        .select(TextAnalysis.tokenCountCol(col("text")).cast("long").as("dl"))
        .agg(count(lit(1)), sum("dl")).as[(Long, Long)].head()
      val avgdl = totAll.toDouble / nAll.toDouble
      val tfEn = en.select(col("doc_id").as("id"),
          explode(TextAnalysis.wordsCol(col("text"))).as("tok"))
        .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
        .join(en.select(col("doc_id").as("id"),
          TextAnalysis.tokenCountCol(col("text")).cast("long").as("dl")), "id")
      val idfEn = tfEn.groupBy("tok").agg(count(lit(1)).as("df"))
        .withColumn("idf_e6", Bm25.idfE6Col(nAll, col("df")))
      val qt = queries.select(col("query_id"),
          explode(array_distinct(col("terms"))).as("tok"))
      val expected = tfEn.join(idfEn.select("tok", "idf_e6"), "tok")
        .withColumn("w_e6",
          Bm25.wE6Col(col("idf_e6"), col("tf"), col("dl"), avgdl))
        .join(qt, "tok")
        .groupBy("query_id", "id")
        .agg(sum("w_e6").as("score_e6"), count(lit(1)).as("n_terms"))
      val expTop = expected.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("score_e6").desc, col("id").asc)))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("id"), col("score_e6"),
          col("n_terms"), col("rank"))
        .as[(Long, Long, Long, Long, Int)].collect().toSet
      assert(rows.toSet == expTop,
        "filtered probe must equal the reference (filtered df, global N/avgdl)")
      // and the scan shape: term set AND attribute conjunct both in
      // PushedFilters of the same pruned postings scan
      val scanPlan = graft.sources.Bucketed
        .load(spark, s"${name}_postings")
        .filter(col("tok").isin(Seq("t0", "t1", "t3"): _*))
        .filter(col("lang") === "en")
        .queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[[^\n]*".r.findFirstIn(scanPlan)
        .getOrElse("")
      assert(pushed.contains("In(tok") && pushed.contains("EqualTo(lang,en)"),
        s"expected term isin AND lang conjunct in PushedFilters:\n$scanPlan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      drop()
    }
  }

  test("streamAppend ingests micro-batches; replayed appends heal at the compaction tick") {
    try {
      IncrementalBm25.buildIndex(docs(0, 20), name, buckets)
      val base = tempDir("graft-bm25-ingest").toString
      def writeFile(fname: String, mtimeMs: Long, lo: Int, hi: Int): Unit = {
        val stage = tempDir("graft-bm25-st")
        docs(lo, hi).coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$base/src", fname)
        dest.getParentFile.mkdirs()
        java.nio.file.Files.copy(part.toPath, dest.toPath)
        assert(dest.setLastModified(mtimeMs))
      }
      writeFile("f1.parquet", 1000000L, 20, 30)
      writeFile("f2.parquet", 2000000L, 30, 40)
      IncrementalBm25.streamAppend(
        graft.streaming.Streaming.fileStream(spark, s"$base/src",
          maxFilesPerTrigger = Some(1)),
        name, buckets, compactEvery = 2, maxFilesPerBucket = 1)
      assert(probeSet() == batchSet(docs(0, 40)),
        "continuous ingest must equal the batch build over the union")
      // at-least-once REPLAY: the same shard appended twice (the
      // redelivery appendToIndex cannot distinguish), then the
      // periodic tick's pair — compaction dedups the postings,
      // repairStats recomputes the doubled accumulator — restores
      // exact agreement with a clean build
      IncrementalBm25.appendToIndex(docs(40, 45), name, buckets)
      IncrementalBm25.appendToIndex(docs(40, 45), name, buckets)
      IncrementalBm25.compactIndex(spark, name, maxFilesPerBucket = 1)
      IncrementalBm25.repairStats(spark, name)
      assert(probeSet() == batchSet(docs(0, 45)),
        "replayed append must heal to the clean-build verdicts")
    } finally drop()
  }

  test("append-replay duplicate postings heal at compaction") {
    try {
      IncrementalBm25.buildIndex(docs(0, 30), name, buckets)
      // the same shard appended twice — at-least-once replay; the
      // duplicated rows inflate per-doc multiplicity and df (the
      // documented window) until compaction restores the posting SET.
      // (The stats row advances twice — the at-least-once cost the
      // caller's replay contract absorbs: only foreachBatch's
      // same-batch redelivery is in-contract, and the gates overwrite
      // per batch id rather than re-calling append.)
      IncrementalBm25.appendToIndex(docs(30, 35), name, buckets)
      IncrementalBm25.appendToIndex(docs(30, 35), name, buckets)
      assert(IncrementalBm25.compactIndex(spark, name,
        maxFilesPerBucket = 1) > 0)
      val healedPostings = graft.sources.Bucketed
        .load(spark, s"${name}_postings").count()
      val expected = docs(0, 35)
        .select(col("doc_id"),
          explode(TextAnalysis.wordsCol(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").count().count()
      assert(healedPostings == expected,
        s"posting set not healed: $healedPostings vs $expected")
    } finally drop()
  }

  test("probe plan: term-pruned postings scan, no corpus read, one window") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      IncrementalBm25.buildIndex(docs(0, 60), name, buckets)
      val probed = IncrementalBm25.probe(spark, queries, name, k = 5)
      val plan = probed.queryExecution.executedPlan.toString
      // the postings scan materializes inside the probe's lazy
      // checkpoint, so the OUTER plan must read checkpoints only —
      // in particular, no corpus file is ever scanned — with ONE
      // query-partitioned top-k window
      assert(!plan.contains("FileScan"),
        s"probe must not read any table outside its checkpointed scan:\n$plan")
      assert("(?m)^\\s*(?:\\+-)?\\s*Window \\[".r.findAllIn(plan).size == 1,
        s"expected one query-partitioned top-k window:\n$plan")
      assert(probed.count() > 0)
      // and the scan the checkpoint materializes — same construction
      // as the probe's — carries the term set in PushedFilters, so
      // row-group min/max skipping over the tok-SORTED files cuts the
      // read (whole-bucket pruning doesn't apply: no downstream
      // operator uses the bucketing in a broadcast-joined serving
      // plan, and Spark's planner then disables the bucketed scan)
      val scanPlan = graft.sources.Bucketed
        .load(spark, s"${name}_postings")
        .filter(col("tok").isin(
          Seq("t0", "t1", "t3", "t4", "t7", "t16"): _*))
        .queryExecution.executedPlan.toString
      assert("PushedFilters: \\[In\\(tok, ".r.findFirstIn(scanPlan).isDefined,
        s"expected the term set in PushedFilters:\n$scanPlan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      drop()
    }
  }
}
