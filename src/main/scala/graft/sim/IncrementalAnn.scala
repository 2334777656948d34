package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.{GateMetrics, Streaming}

/** Index-and-probe incremental ANN — the embeddings counterpart of
  * [[graft.text.IncrementalDedup]]: at 100 TB the steady state is not
  * "rescan the corpus per query batch" ([[Ivf.ivfTopKJoin]]'s shape,
  * right for one-shot batch jobs) but "assign the corpus to inverted
  * lists ONCE into a persisted index, then for each arriving query
  * batch compute only the batch's probe lists and join them against
  * the index" — and append newly-ingested vectors so the index stays
  * current without a rebuild.
  *
  * Index layout (via [[graft.sources.Bucketed]]): a managed parquet
  * table of (centroid, id, vn) rows — the inverted list id, the vector
  * id, and the L2-NORMALIZED vector — bucketed AND sorted on
  * `centroid`. That buys the two plans the incremental-dedup index
  * proved (IncrementalDedupSpec/IncrementalAnnSpec plan pins):
  *
  *   - the probe join needs no Exchange on the index side — the scan's
  *     HashPartitioning(centroid) satisfies the join's clustered
  *     distribution, so only the (small) batch's probe rows shuffle;
  *   - the batch's probed-centroid set — bounded by the CODEBOOK size,
  *     never the data — pushes down as an `isin` filter and Spark
  *     BUCKET-PRUNES the index scan: a single query reading nProbe of
  *     4096 lists touches only those buckets, sub-linear in the index.
  *     Unlike the dedup index's unbounded band-key domain (capped at
  *     512 pushed literals for planning cost), the centroid domain is
  *     the codebook — the pushdown is always cheap to plan.
  *
  * Storing vn in the index trades index bytes for probe work: the
  * exact re-rank needs the vector anyway, and materializing it beside
  * its list id at build time removes the co-partitioned vector fetch
  * join every probe would otherwise pay (the one extra scan
  * [[Ivf.ivfTopKJoin]] does). Vectors still never RIDE a shuffle — the
  * index side is Exchange-free; only the batch's (query, vector) rows
  * move, nProbe copies each.
  *
  * Works with any codebook; with [[Pinned.ivfCentroids]] the whole
  * build→probe pipeline is deterministic arithmetic the DuckDB oracle
  * replays end to end (q131 — the q113/q114/q115 doctrine), so the
  * incremental serving path is driver-verified even though trained
  * codebooks stay recall-gated.
  */
object IncrementalAnn {

  /** (centroid, id, vn) assignment rows — map-only against the
    * broadcast codebook, one pass over `vecs`. */
  private def assignedVectors(vecs: DataFrame,
                              cents: Array[Array[Double]]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    graft.sources.Tables.widen(vecs)
      .select(col("id").cast("long"), col("vec").cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v) =>
          var ss = 0.0
          var i = 0
          while (i < v.length) { ss += v(i) * v(i); i += 1 }
          val inv = if (ss == 0) 0.0 else 1.0 / math.sqrt(ss)
          val vn = v.map(_ * inv)
          (Ivf.nearestCentroid(vn, cs), id, vn)
        }
      }
      .toDF("centroid", "id", "vn")
  }

  /** (centroid, id, vn, attrs...) — [[assignedVectors]] plus the
    * requested ATTRIBUTE columns of the corpus carried into the
    * postings (joined back on id: one extra build-time shuffle of the
    * small attr projection — the vectors ride it once, at build, so
    * every filtered probe can prune at the scan instead). */
  private def assignedWithAttrs(vecs: DataFrame,
                                cents: Array[Array[Double]],
                                attrCols: Seq[String]): DataFrame = {
    val asg = assignedVectors(vecs, cents)
    if (attrCols.isEmpty) asg
    else asg.join(
      graft.sources.Tables.widen(vecs)
        .select(col("id").cast("long").as("id") +: attrCols.map(col): _*),
      Seq("id"))
      .select(col("centroid") +: col("id") +: col("vn") +:
        attrCols.map(col): _*)
  }

  /** Assign `corpus` against `cents` and (re)build the persistent
    * inverted-list table. One normalize+assign pass + one bucket-write
    * shuffle — paid once, not per probe. `attrCols` names corpus
    * columns to store beside each posting for FILTERED search
    * ([[probe]]'s `filter`): pre-filtering at the scan beats
    * post-filtering a top-k that may have been consumed by
    * non-matching neighbours. */
  def buildIndex(corpus: DataFrame, table: String, buckets: Int,
                 cents: Array[Array[Double]],
                 attrCols: Seq[String] = Nil,
                 batchTagged: Boolean = false): Unit = {
    val asg = assignedWithAttrs(corpus, cents, attrCols)
    // `batchTagged` adds per-posting batch provenance (seed rows -1) —
    // the storage the opt-in cross-batch re-arrival guard pays (see
    // [[gateBatch]]'s ID CONTRACT)
    graft.sources.Bucketed.save(
      if (batchTagged) asg.withColumn("batch", lit(-1L)) else asg,
      table, Seq("centroid"), buckets)
  }

  /** Append newly-ingested vectors to the index (same bucket spec — the
    * bucketed-table contract keeps the co-located probe join valid).
    * The continuous-ingest half of the loop: probe a batch for
    * neighbours, then append it so later batches see it. */
  def appendToIndex(newVecs: DataFrame, table: String, buckets: Int,
                    cents: Array[Array[Double]],
                    attrCols: Seq[String] = Nil): Unit =
    graft.sources.Bucketed.save(assignedWithAttrs(newVecs, cents, attrCols),
      table, Seq("centroid"), buckets, mode = SaveMode.Append)

  /** Remove vectors from the index at O(touched buckets), not
    * O(index) — the [[graft.text.IncrementalDedup.deleteFromIndex]]
    * doctrine for embeddings: re-assign the deleted vectors against
    * the codebook (map-only) so their inverted lists — and with them
    * the affected bucket ids, via `pmod(hash(centroid), buckets)` —
    * are known without scanning the index, then rewrite only those
    * buckets anti-joining the ids out. Idempotent; dropDuplicates in
    * the rewrite also heals duplicate postings from an at-least-once
    * append replay. Returns the number of buckets rewritten. */
  def deleteFromIndex(vecs: DataFrame, table: String, buckets: Int,
                      cents: Array[Array[Double]]): Int =
    graft.sources.IndexMaintenance.deletePostings(
      assignedVectors(vecs, cents).select("centroid", "id"),
      table, buckets, bucketKeyCol = "centroid", idCol = "id")

  /** Build the index over governed `source`'s current head (rows
    * shaped like every build corpus: id + vec [+ attrs]) and bind the
    * index as its FOLLOWER — the maintained-view create for the
    * vector tier. Returns the bookmarked generation. */
  def createFromSource(spark: SparkSession, source: String,
                       table: String, buckets: Int,
                       cents: Array[Array[Double]],
                       attrCols: Seq[String] = Nil): Long = {
    val gen = graft.sources.Bucketed.currentGeneration(spark, source)
    buildIndex(graft.sources.Bucketed.loadAsOf(spark, source, gen),
      table, buckets, cents, attrCols)
    graft.sources.IndexMaintenance.bindFollower(spark, table, gen)
    gen
  }

  /** Bring the index up to its governed source table's head — the
    * [[graft.sources.IndexMaintenance.refreshFromSource]] protocol
    * with this family's primitives: pair deletes →
    * [[deleteFromIndex]] (map-only re-assignment names the buckets —
    * idempotent anti-join), pair inserts → [[appendToIndex]], and the
    * crash-retry scrub = delete BOTH halves by content (assignment is
    * deterministic per vector, so the scrub names exactly the
    * partially-appended postings' buckets; no side state to repair).
    * `cents`/`attrCols` must match the build's. Returns the fold
    * head. */
  def refreshFromSource(spark: SparkSession, source: String,
                        table: String, buckets: Int,
                        cents: Array[Array[Double]],
                        attrCols: Seq[String] = Nil): Long =
    graft.sources.IndexMaintenance.refreshFromSource(spark, source,
      table, graft.sources.IndexMaintenance.FollowerHooks(
        applyDeletes = d =>
          { deleteFromIndex(d, table, buckets, cents); () },
        applyInserts = i => appendToIndex(i, table, buckets, cents,
          attrCols),
        scrubPair = (d, i) => {
          deleteFromIndex(d, table, buckets, cents)
          deleteFromIndex(i, table, buckets, cents)
          ()
        }))

  /** Re-key every posting of the index against a NEW codebook in ONE
    * full-table rewrite job — the codebook-refresh primitive. An index
    * that runs forever with a frozen codebook degrades: as the corpus
    * distribution drifts away from the centroids it was trained on,
    * vectors pile into few lists and probes stop finding true
    * neighbours (the ANN analogue of the append-without-compaction
    * file growth). The refresh preserves ids and the STORED normalized
    * vectors bit-for-bit — only the `centroid` key is recomputed via
    * the same [[Ivf.nearestCentroid]] arithmetic a fresh build runs on
    * the same doubles — so a reassigned index is INDISTINGUISHABLE
    * from `buildIndex(corpus, newCents)`: probe parity is
    * oracle-checkable with a pinned codebook (q138) and spec-pinned
    * against a fresh rebuild. Cost: one read + one bucket-write
    * shuffle over the index, the same shape as buildIndex, with the
    * source corpus never re-read or re-normalized. Crash-safe like
    * every [[graft.sources.Bucketed]] rewrite — the staged new keys
    * become visible in ONE manifest commit, so a crash serves either
    * the old assignment or the new one, never a mix — and guarded by
    * the single-maintenance-writer lock. Returns the number of
    * buckets read. */
  def reassignIndex(spark: SparkSession, table: String,
                    cents: Array[Array[Double]]): Int = {
    val bc = spark.sparkContext.broadcast(cents)
    graft.sources.Bucketed.rewriteAll(spark, table, { df =>
      // generic over the posting schema (map-only, Row-encoded), so
      // attribute columns stored for filtered search survive the
      // refresh with their postings
      val schema = df.schema
      val cIdx = schema.fieldIndex("centroid")
      val vnIdx = schema.fieldIndex("vn")
      val enc = org.apache.spark.sql.Encoders.row(schema)
      df.mapPartitions { rows =>
        val cs = bc.value
        rows.map { r =>
          val vn = r.getSeq[Double](vnIdx).toArray
          val vals = r.toSeq.toArray
          vals(cIdx) = Ivf.nearestCentroid(vn, cs)
          org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
        }
      }(enc).dropDuplicates()
    })
  }

  /** Retrain the codebook on a deterministic sample of the INDEXED
    * vectors and [[reassignIndex]] against it — the complete
    * maintenance op for codebook drift. Sampling is membership-by-
    * portable-hash (keep ids with squareMix(polyHash(id)) mod
    * `sampleOneIn` == 0 — the [[graft.ops.QuantileSketch]] doctrine:
    * deterministic, order- and partition-independent), so the training
    * set is reproducible and scales as index/sampleOneIn. Training
    * reuses [[Ivf.trainCentroids]]' Lloyd rounds seeded by the
    * lowest-id sampled vectors; the stored vn is passed as the vector
    * (re-normalizing a unit vector is an IEEE no-op at trainer
    * precision and the trained path is recall-gated, not
    * oracle-replayed). Returns the new codebook, already applied. */
  def refreshCodebook(spark: SparkSession, table: String,
                      nCentroids: Int, iters: Int = 3,
                      sampleOneIn: Int = 1): Array[Array[Double]] = {
    require(sampleOneIn >= 1, "sampleOneIn must be >= 1")
    val idx = graft.sources.Bucketed.load(spark, table)
    val sample =
      if (sampleOneIn == 1) idx
      else idx.filter(pmod(
        graft.functions.Hashing.squareMixCol(
          graft.functions.Hashing.polyHashCol(col("id").cast("string"))),
        lit(sampleOneIn)) === 0)
    val cents = Ivf.trainCentroids(
      sample.select(col("id"), col("vn").as("vec")), nCentroids, iters)
    reassignIndex(spark, table, cents)
    cents
  }

  /** Periodic maintenance for a continuously-appended index: rewrite
    * any inverted-list bucket that has accumulated more than
    * `maxFilesPerBucket` files into one sorted file (see
    * [[graft.sources.Bucketed.compactBuckets]]). Deduplication is ON —
    * the index is a SET of (centroid, id, vn) postings, and a
    * duplicated posting (an at-least-once append replay landing the
    * same rows twice) would otherwise occupy two slots of a probe's
    * top-k window.
    * Returns the number of buckets rewritten. */
  def compactIndex(spark: SparkSession, table: String,
                   maxFilesPerBucket: Int = 4): Int =
    graft.sources.IndexMaintenance.compactPostings(spark, table,
      maxFilesPerBucket)

  /** Top-k cosine neighbours of each query vector via its nProbe
    * nearest inverted lists, WITHOUT rescanning or re-assigning the
    * corpus. Probe selection is map-only against the broadcast
    * codebook; the probed-centroid set (bounded driver state — at most
    * the codebook size) prunes the index scan; each (neighbor, centroid)
    * is unique so candidates need no dedup stage; exact re-rank uses
    * the codegen'd [[graft.expressions.DotE6]] over normalized vectors.
    * Output: (query_id, neighbor_id, cos_e6, rank) — the
    * [[Similarity.bruteForceTopK]]/[[Ivf.ivfTopK]] contract. */
  /** (centroid, query_id, qv) probe rows: each query vector normalized
    * and expanded to its nProbe nearest inverted lists — map-only
    * against the broadcast codebook. Shared by [[probe]] and
    * [[gateBatch]]. */
  private def probeRows(queries: DataFrame, cents: Array[Array[Double]],
                        nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    graft.sources.Tables.widen(queries)
      .select(col("id").cast("long"), col("vec").cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.flatMap { case (id, v) =>
          var ss = 0.0
          var i = 0
          while (i < v.length) { ss += v(i) * v(i); i += 1 }
          val inv = if (ss == 0) 0.0 else 1.0 / math.sqrt(ss)
          val qn = v.map(_ * inv)
          cs.indices
            .map { c =>
              var dot = 0.0
              var d = 0
              val n = math.min(qn.length, cs(c).length)
              while (d < n) { dot += qn(d) * cs(c)(d); d += 1 }
              (c, dot)
            }
            .sortBy { case (c, d) => (-d, c) }
            .take(nProbe)
            .map { case (c, _) => (c, id, qn) }
        }
      }
      .toDF("centroid", "query_id", "qv")
  }

  /** `filter`: optional predicate over the index's ATTRIBUTE columns
    * (stored at build via `attrCols`) — applied BEFORE scoring, so the
    * top-k is the exact filtered answer and Catalyst pushes the
    * conjunct into the index scan's PushedFilters beside the
    * probed-centroid set (post-filtering an unfiltered top-k instead
    * would under-deliver whenever non-matching neighbours crowd the
    * window — the standard filtered-ANN pitfall). */
  def probe(spark: SparkSession, queries: DataFrame, table: String,
            cents: Array[Array[Double]], k: Int,
            nProbe: Int = 8,
            filter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val probes = probeRows(queries, cents, nProbe)
      // feeds the centroid-set collect AND the join — assign once
      .localCheckpoint(eager = false)
    // probed-centroid pushdown: ≤ codebook-size literals, always cheap
    // to plan (contrast IncrementalDedup.probe's 512-key cap), and the
    // bucketed scan prunes to the probed lists' buckets
    val probed = probes.select("centroid").distinct()
      .as[Int].collect().sorted
    val idx0 = graft.sources.Bucketed.load(spark, table)
      .filter(col("centroid").isin(probed.toIndexedSeq: _*))
    val idx = filter.fold(idx0)(idx0.filter)
      .select("centroid", "id", "vn")
    val scored = idx.join(probes, Seq("centroid"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        graft.expressions.DotE6.col(col("qv"), col("vn")).as("cos_e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_e6").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** One micro-batch of the continuous novel-vectors gate — the
    * embeddings counterpart of
    * [[graft.text.IncrementalDedup.gateBatch]]. A batch vector is KEPT
    * iff (a) no indexed vector in its nProbe probed lists has
    * cos_e6 ≥ `thresholdE6`, and (b) no in-batch near-match under the
    * symmetric visibility rule: vectors x and y collide when EITHER
    * could find the other were it indexed (nearest-centroid(x) ∈
    * probed(y) or vice versa) and cos ≥ threshold — the LARGER id
    * drops. Symmetry is what makes the gate idempotent under
    * foreachBatch's at-least-once replay: visibility via probe lists
    * is ASYMMETRIC (x's nearest list being probed by y does not put
    * y's nearest list in x's probes), so a one-direction rule à la
    * q130's band gate would let two mutually-near kept vectors
    * survive — and a replayed batch, finding them appended, would
    * then drop one. With the symmetric rule no two kept vectors of a
    * batch can see each other at all, the index-hit join's
    * `id =!= query_id` excludes each kept vector's own re-appended
    * posting, and replay reproduces the identical kept set.
    * Drop verdicts also replay stably: the index only grows, and the
    * in-batch rule is a pure function of the batch.
    *
    * ID CONTRACT (the [[graft.text.IncrementalDedup.gateBatch]]
    * doctrine): `id` is an identity arriving in at most ONE batch;
    * only same-batch redelivery is absorbed by the self-exclusion. By
    * default an already-kept id re-sent in a LATER batch matches only
    * its own posting, passes the gate, and is emitted twice. The
    * OPT-IN `reArrivalGuard` closes that leak by paying per-posting
    * batch provenance ([[buildIndex]]'s `batchTagged`): an own-id
    * match from a DIFFERENT batch counts as an index hit (the re-sent
    * vector's cos against its own stored vn is exactly 1.0, always
    * over threshold), while same-batch matches stay excluded so
    * replay keeps its identical kept set. Detects re-delivery of the
    * same vector; an id reused for a different vector is an
    * id-collision bug upstream. */
  private[graft] def gateBatch(batch: DataFrame, table: String,
                               buckets: Int, cents: Array[Array[Double]],
                               thresholdE6: Long, nProbe: Int,
                               reArrivalGuard: Option[Long] = None,
                               attrCols: Seq[String] = Nil): DataFrame =
    gateBatchFull(batch, table, buckets, cents, thresholdE6, nProbe,
      withMetrics = false, reArrivalGuard = reArrivalGuard,
      attrCols = attrCols)._1

  /** `attrCols`: batch columns carried into the kept postings (the
    * [[buildIndex]] attr contract) so a GATED index keeps serving
    * FILTERED search — without this a gate appending attr-less rows to
    * an attr-tagged index would fail the append, forcing deployments
    * to choose between the gate and filtered probes. */
  private[graft] def gateBatchFull(batch: DataFrame, table: String,
                                   buckets: Int, cents: Array[Array[Double]],
                                   thresholdE6: Long, nProbe: Int,
                                   withMetrics: Boolean,
                                   reArrivalGuard: Option[Long] = None,
                                   attrCols: Seq[String] = Nil
                                  ): (DataFrame, Option[GateMetrics]) = {
    val spark = batch.sparkSession
    import spark.implicits._
    // nearest-list assignment feeds the in-batch join AND the append;
    // probe rows feed the centroid collect and both joins — sign once.
    // Attrs ride the assignment only to the APPEND; the verdict joins
    // ignore them.
    val asg = assignedWithAttrs(batch, cents, attrCols)
      .localCheckpoint(eager = false)
    val probes = probeRows(batch, cents, nProbe)
      .localCheckpoint(eager = false)
    val probed = probes.select("centroid").distinct()
      .as[Int].collect().sorted
    val idx = graft.sources.Bucketed.load(spark, table)
      .filter(col("centroid").isin(probed.toIndexedSeq: _*))
    reArrivalGuard.foreach { _ =>
      require(idx.columns.contains("batch"),
        "reArrivalGuard needs a batch-tagged index — build it with " +
          "buildIndex(..., batchTagged = true)")
    }
    val cos = graft.expressions.DotE6.col(col("qv"), col("vn"))
    // the guard narrows the own-posting exclusion to SAME-BATCH rows:
    // an own-id match from an earlier batch is a genuine re-arrival
    val ownExcl = reArrivalGuard match {
      case Some(bid) =>
        col("id") =!= col("query_id") || col("batch") =!= lit(bid)
      case None => col("id") =!= col("query_id")
    }
    val idxHit = idx.join(probes, Seq("centroid"))
      .filter(ownExcl && cos >= thresholdE6)
      .select(col("query_id").as("__drop"))
    val inBatch = asg.join(probes, Seq("centroid"))
      .filter(col("id") =!= col("query_id") && cos >= thresholdE6)
      .select(greatest(col("id"), col("query_id")).as("__drop"))
    // no distinct() on the union feeding the anti-join (round 15): the
    // anti join ignores right-side duplicates, and the distinct was a
    // per-micro-batch aggregation exchange; the opt-in metrics below
    // keep their distinct counts
    val kept = batch
      .withColumn("id", col("id").cast("long"))
      .join(idxHit.unionByName(inBatch)
          .select(col("__drop").as("id")),
        Seq("id"), "left_anti")
      .localCheckpoint(eager = false) // read for append AND for output
    val metrics =
      if (withMetrics)
        Some(GateMetrics(batch.count(), kept.count(),
          idxHit.distinct().count(), inBatch.distinct().count()))
      else None
    // append by FILTERING the already-assigned batch rows — canonical
    // (centroid, id, vn, attrs...) order for the by-name append. A
    // batch-tagged index gated WITHOUT the guard still appends a tag
    // (-1, the seed value) so the append's schema matches — and a
    // later GUARDED batch correctly treats those rows as
    // different-batch postings
    val keptPostings = asg.join(kept.select("id"), Seq("id"))
      .select(col("centroid") +: col("id") +: col("vn") +:
        attrCols.map(col): _*)
    val tagVal = reArrivalGuard
      .orElse(if (idx.columns.contains("batch")) Some(-1L) else None)
    graft.sources.Bucketed.save(
      tagVal.fold(keptPostings)(bid =>
        keptPostings.withColumn("batch", lit(bid))),
      table, Seq("centroid"), buckets, mode = SaveMode.Append)
    // centroid rides along from the existing assignment — no second
    // signature pass for callers that report the kept list
    (kept.join(asg.select(col("id"), col("centroid")), Seq("id")),
      metrics)
  }

  /** Continuous-ingest novel-vectors gate (the q130 shape for
    * embeddings): seed the index with [[buildIndex]], then per
    * micro-batch [[gateBatch]] keeps only vectors with no near-match
    * in the index or earlier in the batch, writes them to `outDir`,
    * and appends their postings — each batch deduped against the
    * corpus AND every previously-kept vector without rescanning
    * either. Periodic [[compactIndex]] keeps per-bucket file counts
    * bounded (the run-forever contract). Returns the kept vectors'
    * (id, centroid) rows. The loop is [[Streaming.gateLoop]];
    * `checkpointDir`: see [[Streaming.runBatches]], and the text
    * gate ([[graft.text.IncrementalDedup.streamNovel]]) for what it
    * means to `dropReArrivals`. */
  def streamNovel(stream: DataFrame, table: String, buckets: Int,
                  cents: Array[Array[Double]], outDir: String,
                  thresholdE6: Long, nProbe: Int = 8,
                  compactEvery: Int = 8,
                  maxFilesPerBucket: Int = 4,
                  metricsDir: Option[String] = None,
                  dropReArrivals: Boolean = false,
                  attrCols: Seq[String] = Nil,
                  checkpointDir: Option[String] = None): DataFrame = {
    val bc = stream.sparkSession.sparkContext.broadcast(cents)
    Streaming.gateLoop(stream, "vgate", table, outDir, compactEvery,
        maxFilesPerBucket, metricsDir, checkpointDir) { (batch, id) =>
      val (kept, metrics) = gateBatchFull(batch, table, buckets, bc.value,
        thresholdE6, nProbe, withMetrics = metricsDir.isDefined,
        reArrivalGuard = if (dropReArrivals) Some(id) else None,
        attrCols = attrCols)
      (kept.select(col("id"), col("centroid")), metrics)
    }
  }
}
