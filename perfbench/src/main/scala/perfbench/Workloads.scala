package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared file helpers. */
object Files2 {
  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
  }

  /** Writes each `(docs, dest)` pair as one parquet file at `dest`, all
    * in one Spark job. */
  def writeDocs(spark: org.apache.spark.sql.SparkSession,
                files: Seq[(Seq[Gen.Doc], String)]): Unit = {
    val schema = StructType(Seq(StructField("f", IntegerType),
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = files.zipWithIndex.flatMap { case ((docs, _), f) =>
      docs.map(d => Row(f, d.id, d.text))
    }
    val tmp = Paths.get(files.head._2).getParent.resolve(".staging").toString
    spark.createDataFrame(rows.asJava, schema).repartition(col("f"))
      .write.mode("overwrite").partitionBy("f").parquet(tmp)
    files.zipWithIndex.foreach { case ((_, dest), f) =>
      Files.createDirectories(Paths.get(dest).getParent)
      Files.move(visibleFiles(s"$tmp/f=$f").head, Paths.get(dest))
    }
    deleteTree(tmp)
  }

  /** Visible regular files directly under `dir` (checksum and marker
    * files start with '.' or '_'). */
  def visibleFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.sortBy(_.toString)
    finally s.close()
  }
}

/** archive_sip: csv2rdf, SIP save, Turtle export and manifest
  * verification of one seeded archive per operation. There is no
  * warm-up: the reference runs one SIP per process, so its users pay the
  * first operation's code generation and JIT cost on every job. */
final class ArchiveSip(c: Ctx) extends Workload {
  import c._
  val records = 100
  private val ids = graft.ids.Identifiers.default
  private val in = s"$root/sip-in"
  private val archive = Gen.archive(seed, records)
  private var vocab: DataFrame = _
  private var statuses: Map[String, Long] = _
  private var graphCount: Observation = _

  private def out(i: Int) = s"$root/sip-out/op$i"

  def setup(): Unit = {
    Gen.writeString(s"$in/metadata.csv", archive.metadata)
    Gen.writeString(s"$in/droid.csv", archive.droid)
    Gen.writeString(s"$in/vocab.csv", Gen.vocabCsv)
    vocab = spark.read.option("header", "true").csv(s"$in/vocab.csv")
  }

  def op(i: Int): Unit = {
    val sipDir = s"${out(i)}/sip"
    graphCount = Observation(s"graph-$i")
    val triples = tracer.span("etl.demo_csv_run") {
      graft.etl.DemoCsv.run(spark, s"$in/metadata.csv", s"$in/droid.csv", vocab)
    }
    timed("save_ms") {
      tracer.span("sip.save") {
        graft.sip.Sip.save(spark, triples, sipDir, ids, timestamp = "2025-01-01T00:00:00Z")
      }
    }
    tracer.span("rdf.turtle_write") {
      graft.rdf.io.Turtle.write(triples.observe(graphCount, count(lit(1)).as("n")),
        s"${out(i)}/graph.ttl")
    }
    statuses = tracer.span("manifest.verify") {
      val manifest = graft.manifest.Manifest.loadJson(spark, s"$sipDir/${ids.manifestFilename}")
      val scan = graft.manifest.Manifest.scanDirectory(spark, sipDir,
        ignore = Seq(ids.manifestFilename, ids.eventlogFilename))
      graft.manifest.Manifest.reconcile(manifest, scan)
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  override def verify(i: Int): Unit = {
    val sipDir = s"${out(i)}/sip"
    val resources = 1 + archive.series + 2 * archive.records
    check(statuses == Map("ok" -> resources.toLong),
      s"reconcile gave $statuses, expected only ok x $resources")
    val files = Files2.visibleFiles(sipDir)
    check(files.size == resources + 2,
      s"${files.size} files in the SIP, expected $resources resources + manifest + eventlog")
    // Turtle.write puts each predicate-object pair of a subject block on
    // its own indented line, so those lines count the triples
    val written = Files2.visibleFiles(s"${out(i)}/graph.ttl").map { p =>
      val s = Files.lines(p)
      try s.filter(_.startsWith("    ")).count() finally s.close()
    }.sum
    val graph = graphCount.get("n").asInstanceOf[Long]
    check(written == graph, s"Turtle holds $written triples, the graph $graph")
    rec.add("sip.records", records)
    rec.add("sip.files", files.size)
    rec.add("sip.bytes", files.map(Files.size(_)).sum.toDouble)
    rec.add("sip.triples", graph.toDouble)
    Files2.deleteTree(out(i))
  }
}

/** ingest_gate: closed loop over the persistent-checkpoint near-duplicate
  * gate. Each operation drains `batchesPerRound` staged micro-batch files
  * through `streamNovel` (one file per micro-batch), then runs
  * `lookupsPerRound` probe lookups against the same index. */
final class IngestGate(c: Ctx) extends Workload {
  import c._
  val corpusDocs = 4000
  val batchDocs = 500
  val buckets = 8
  val compactEvery = 4
  val warmupBatches = 1
  val batchesPerRound = 3
  val lookupsPerRound = 3

  private val progress = new ProgressListener
  spark.streams.addListener(progress)

  private val dir = s"$root/gate"
  private val table = "gate_index"
  private var corpus: IndexedSeq[Array[String]] = _
  private var stream: DataFrame = _
  private var nextBatch = 0
  private var nextLookup = 0
  private var checked = 0
  private var progressSeen = 0
  private val lookups = scala.collection.mutable.ArrayBuffer[Array[Row]]()
  private val planted = scala.collection.mutable.Set[Long]()
  private val keptByBatch = scala.collection.mutable.LinkedHashMap[Long, Long]()

  /** Stages the next `n` batch files and `lookups` probe files; batch
    * file times increase, so the stream takes them in order, one per
    * micro-batch. */
  private def stageFiles(n: Int, lookups: Int): Unit = {
    val batches = (nextBatch until nextBatch + n).map { b =>
      val (docs, p) = Gen.gateBatch(seed, b, batchDocs, 1000000L + b.toLong * batchDocs, corpus)
      planted ++= p
      docs -> f"$dir/in/batch-$b%06d.parquet"
    }
    val probes = (nextLookup until nextLookup + lookups).map { l =>
      Gen.probeDocs(seed, l, 5000000L + l * 10L, corpus) -> s"$dir/probe/lookup-$l.parquet"
    }
    Files2.writeDocs(spark, batches ++ probes)
    batches.zipWithIndex.foreach { case ((_, f), i) =>
      Files.setLastModifiedTime(Paths.get(f), java.nio.file.attribute.FileTime
        .fromMillis(1600000000000L + (nextBatch + i) * 1000L))
    }
    nextBatch += n
  }

  private def drain(): Unit = timed("gate_call_ms") {
    tracer.span("text.stream_novel") {
      graft.text.IncrementalDedup.streamNovel(stream, table, buckets, s"$dir/out",
        compactEvery = compactEvery, checkpointDir = Some(s"$dir/ckpt"))
    }
  }

  private def lookup(): Unit = {
    val f = s"$dir/probe/lookup-$nextLookup.parquet"
    nextLookup += 1
    lookups += timed("lookup_ms") {
      tracer.span("text.probe") {
        graft.text.IncrementalDedup.probe(spark, spark.read.parquet(f), table).collect()
      }
    }
  }

  /** Records the drained micro-batches' progress and checks the batches
    * and lookups since the last check: no planted exact copy is kept,
    * every lookup finds its 2 planted index copies. */
  private def checkRound(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    progress.records.drop(progressSeen).foreach { p =>
      val d = p("durations").asInstanceOf[Map[String, Long]]
      sample("commit_ms", p("batch_ms").asInstanceOf[Long].toDouble)
      sample("streaming.add_batch_ms", d.getOrElse("addBatch", 0L).toDouble)
      sample("streaming.overhead_ms",
        (d.getOrElse("triggerExecution", 0L) - d.getOrElse("addBatch", 0L)).toDouble)
      sample("streaming.query_planning_ms", d.getOrElse("queryPlanning", 0L).toDouble)
      sample("streaming.wal_commit_ms", d.getOrElse("walCommit", 0L).toDouble)
    }
    progressSeen = progress.count
    val newIds = (checked until nextBatch).map(_.toLong)
    checked = nextBatch
    rec.add("gate.offered", newIds.size * batchDocs.toDouble)
    val kept = spark.read.parquet(newIds.map(b => s"$dir/out/batch=$b"): _*)
      .select("doc_id").collect().map(_.getLong(0))
    rec.add("gate.kept", kept.length)
    val leaked = kept.count(planted)
    check(leaked == 0, s"$leaked planted exact duplicates kept in batches $newIds")
    val perBatch = kept.groupBy(id => (id - 1000000L) / batchDocs)
    newIds.foreach(b => keptByBatch(b) = perBatch.get(b).fold(0L)(_.length.toLong))
    lookups.foreach { hits =>
      val hitDocs = hits.map(_.getLong(0)).distinct.length
      check(hitDocs >= 2, s"probe found $hitDocs of the 2 planted index copies")
      rec.add("probe.docs", 5)
      rec.add("probe.hit_docs", hitDocs)
    }
    lookups.clear()
    if (trace) snapshotSources()
  }

  /** Table state through the program's own metadata calls; live files
    * per bucket from the newest generation manifest. */
  private def snapshotSources(): Unit = {
    val st = graft.sources.Bucketed.describe(spark, table)
    val hist = graft.sources.Bucketed.history(spark, table).collect()
    val loc = Paths.get(new java.net.URI(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location.toString))
    val head = Files.list(loc).iterator().asScala
      .filter(_.getFileName.toString.matches("_graft_manifest\\.\\d+"))
      .maxBy(_.getFileName.toString.split('.').last.toLong)
    val perBucket = Files.readAllLines(head).asScala
      .flatMap(n => "_(\\d{5})\\.c\\d+".r.findFirstMatchIn(n).map(_.group(1)))
      .groupBy(identity).map(_._2.size)
    rec.sources += Map(
      "generations" -> graft.sources.Bucketed.generations(spark, table).size,
      "compactions" -> hist.count(_.getString(1) == "compact"),
      "files_per_bucket_max" -> (if (perBucket.isEmpty) 0 else perBucket.max),
      "table_bytes" -> st.liveBytes)
  }

  def setup(): Unit = {
    corpus = Gen.gateCorpus(seed, corpusDocs)
    Files2.writeDocs(spark, Seq(corpus.indices.map(i => Gen.Doc(i.toLong, Gen.text(corpus(i)))) ->
      s"$dir/corpus.parquet"))
    graft.text.IncrementalDedup.buildIndex(spark.read.parquet(s"$dir/corpus.parquet"),
      table, buckets)
  }

  /** `warmupBatches` batches and one lookup. The stream needs its first
    * file before it can be defined. */
  override def warmup(): Unit = {
    stageFiles(warmupBatches, 1)
    stream = graft.streaming.Streaming.fileStream(spark, s"$dir/in", Some(1))
    drain()
    lookup()
    checkRound()
  }

  override def stage(i: Int): Unit = stageFiles(batchesPerRound, lookupsPerRound)

  def op(i: Int): Unit = {
    drain()
    (0 until lookupsPerRound).foreach(_ => lookup())
  }

  override def verify(i: Int): Unit = checkRound()

  override def finish(): Unit =
    rec.expect("kept_by_batch") = keptByBatch.map { case (b, n) => b.toString -> n }
}

/** curate_batch: one pass of training-data preparation of a seeded
  * corpus to a noop sink, then IVF top-10 for `queryRounds` fresh query
  * sets against a seeded vector store. Set-up writes the corpus and the
  * vector store and trains the IVF codebook (the first ivfTopK call on a
  * corpus trains and caches it). prepare is a batch job that runs once
  * per process, so it is not warmed up. */
final class CurateBatch(c: Ctx) extends Workload {
  import c._
  val corpusDocs = 10000
  val evalDocs = 200
  val vectors = 10000
  val dim = 64
  val queries = 200
  val queryRounds = 2
  val k = 10

  private val dir = s"$root/curate"
  private var nextQuery = 0
  private var setupAnswer: Array[Row] = _
  private var queryFiles: Seq[String] = Nil
  private var answers: Seq[Array[Row]] = Nil
  private var prepared: Observation = _

  private def vecDf(vs: Seq[(Long, Array[Float])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("vec", ArrayType(FloatType, false))))
    spark.createDataFrame(vs.map { case (id, v) => Row(id, v.toSeq) }.asJava, schema)
  }

  private def queryFile(): String = {
    val f = s"$dir/queries-$nextQuery"
    vecDf(Gen.vectors(seed, queries, dim, firstId = 50000000L + nextQuery * 1000L,
      salt = 1 + nextQuery)).coalesce(1).write.mode("overwrite").parquet(f)
    nextQuery += 1
    f
  }

  private def ivf(queryFile: String): Array[Row] =
    graft.sim.Ivf.ivfTopK(spark.read.parquet(queryFile), spark.read.parquet(s"$dir/vectors"), k)
      .collect()

  private def pairs(rs: Array[Row]): Set[(Long, Long)] =
    rs.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

  def setup(): Unit = {
    val (docs, eval) = Gen.curationCorpus(seed, corpusDocs, evalDocs)
    Files2.writeDocs(spark, Seq(docs -> s"$dir/docs.parquet", eval -> s"$dir/eval.parquet"))
    vecDf(Gen.vectors(seed, vectors, dim)).write.mode("overwrite").parquet(s"$dir/vectors")
    setupAnswer = ivf(queryFile())
  }

  /** Checks the recall of the set-up's IVF answer against exact search. */
  override def warmup(): Unit = {
    val exact = pairs(graft.sim.Similarity.bruteForceTopK(spark.read.parquet(s"$dir/queries-0"),
      spark.read.parquet(s"$dir/vectors"), k).collect())
    val recall = exact.intersect(pairs(setupAnswer)).size.toDouble / exact.size
    rec.info("ann_recall_at_10") = recall
    check(recall >= 0.9, f"IVF recall@10 $recall%.3f below 0.9")
  }

  override def stage(i: Int): Unit = queryFiles = Seq.fill(queryRounds)(queryFile())

  def op(i: Int): Unit = {
    prepared = Observation(s"prepare-$i")
    timed("prepare_ms") {
      tracer.span("text.prepare") {
        val out = graft.text.TrainingData.prepare(spark.read.parquet(s"$dir/docs.parquet"),
          spark.read.parquet(s"$dir/eval.parquet"))
        out.observe(prepared, count(lit(1)).as("n"),
            bit_xor(xxhash64(out.columns.map(col).toIndexedSeq: _*)).as("h"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    answers = queryFiles.map(q => timed("ann_ms") { tracer.span("sim.ivf_topk") { ivf(q) } })
  }

  /** prepare keeps documents; its (rows, XOR of row hashes) must repeat
    * for the seed; every query gets k answers. */
  override def verify(i: Int): Unit = {
    answers.foreach(top => check(top.length == queries * k,
      s"ivfTopK returned ${top.length} rows, expected ${queries * k}"))
    val m = prepared.get
    val (rows, digest) = (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
    check(rows > 0, "prepare kept no documents")
    rec.add("curate.docs", corpusDocs)
    rec.add("curate.kept", rows.toDouble)
    rec.expect("prepare_rows_digest") = Seq(rows, digest)
  }
}
