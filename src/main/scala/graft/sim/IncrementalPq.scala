package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PQ-COMPRESSED incremental ANN index — [[IncrementalAnn]]'s layout
  * with the stored vector replaced by its product-quantization codes:
  * postings are (centroid, id, codes array<int> of length m), i.e.
  * m·log2(ksub) bits of payload instead of dim float64s. At the
  * default 64-d/8-subspace/16-code params that is ~8 effective bytes
  * per vector vs 512 — at 100 TB of embeddings the index storage (and
  * with it every probe's scan bytes) is the dominant cost, and this is
  * the standard answer (IVF-PQ, Jégou et al. 2011), incrementalized.
  *
  * Same bucketed-table contract as [[IncrementalAnn]] (centroid-
  * bucketed, probe join Exchange-free on the index side, probed-
  * centroid `isin` pushdown bucket-prunes the scan, append/delete/
  * compact via [[graft.sources.Bucketed]]), so the whole run-forever
  * maintenance story — bounded-cost deletion, compaction, codebook
  * refresh — carries over unchanged.
  *
  * Scoring is pure ADC in the DECLARATIVE shape of
  * [[Pq.pinnedAdcTopK]]: codes posexplode to (s, code) rows, one
  * broadcast join against the per-query integer LUT (each subspace dot
  * floor-quantized to e6 BEFORE the sum, so the aggregation is an
  * order-free BIGINT sum), partial-agg sum, top-k window. Candidate
  * rows carry ~24 bytes; no float vector ever rides a shuffle —
  * there are none in the index to ride. With pinned codebooks the
  * entire build→probe path is arithmetic the DuckDB oracle replays
  * (q139); trained codebooks stay recall-gated as everywhere else.
  * IncrementalPqSpec additionally pins probe parity against
  * [[Pq.pinnedAdcTopK]] when every list is probed (the IVF restriction
  * dropped, the two paths must rank identically).
  *
  * Duplicate postings: maintenance crashes leave NO duplicate window
  * (the [[graft.sources.Bucketed]] generation-manifest commit serves
  * a complete generation on every crash path), so the remaining
  * source is an at-least-once APPEND replay landing identical rows
  * twice — and until the next compaction dedups them, a duplicated
  * posting DOUBLE-COUNTS in the ADC sum here, where the full-vector
  * index's duplicate merely occupies two top-k slots at the same
  * score. One notch more reason to compact promptly on this family.
  *
  * The trade vs [[IncrementalAnn]]: ADC ranks by approximate scores
  * (recall-bounded by the codebooks), and an exact re-rank would need
  * the original vectors from a side table — by design NOT stored here.
  * Deployments wanting exact top-k keep the full-vector index; this
  * one exists for the 64× smaller scan. Codes being lossy, a codebook
  * refresh cannot re-derive postings from THIS index — but it never
  * needs the 100 TB corpus either: [[refreshFromVnIndex]] re-encodes
  * from the companion FULL-VECTOR index (the same table the
  * [[probeRerank]] serving stack already maintains), one vn-index
  * read + one staged code-table write, where the full-vector index
  * refreshes in place ([[IncrementalAnn.reassignIndex]]). Bounded-cost
  * DELETION still works from content alone (re-encode the deleted
  * vectors, rewrite their buckets), as does compaction.
  */
object IncrementalPq {

  /** One pass over `vecs`: normalize (the shared IEEE operation
    * order), coarse-assign against `coarse`, PQ-encode against
    * `books` — (centroid, id, codes). With `residual = true` the codes
    * quantize vn − coarse(centroid) instead of vn (the canonical
    * IVF-PQ refinement, Jégou et al. 2011 §III: residuals have
    * smaller magnitude, so the same codebook budget quantizes finer);
    * the probe adds the q·centroid offset back per probed list. */
  private def postings(vecs: DataFrame, coarse: Array[Array[Double]],
                       books: Pq.Codebooks, residual: Boolean,
                       attrCols: Seq[String] = Nil): DataFrame = {
    val enc = encodePostings(
      graft.sources.Tables.widen(vecs)
        .select(col("id").cast("long"), col("vec").cast("array<double>")),
      coarse, books, residual, normalize = true)
    // ATTRIBUTE columns ride each code posting (the IncrementalAnn
    // assignedWithAttrs doctrine): one build-time join of the small
    // attr projection so every FILTERED probe prunes candidates at
    // the scan — BEFORE the ADC shortlist fills with non-matching
    // neighbours — instead of post-filtering an under-delivered top-k
    attachAttrs(enc, graft.sources.Tables.widen(vecs), attrCols)
  }

  /** (centroid, id, codes) ∪ the attr projection of `src` on id —
    * shared by build/append (attrs from the corpus) and
    * [[refreshFromVnIndex]] (attrs from the companion vn index). */
  private def attachAttrs(enc: DataFrame, src: DataFrame,
                          attrCols: Seq[String]): DataFrame =
    if (attrCols.isEmpty) enc
    else enc.join(
      src.select(col("id").cast("long").as("id") +: attrCols.map(col): _*),
      Seq("id"))
      .select(col("centroid") +: col("id") +: col("codes") +:
        attrCols.map(col): _*)

  /** (centroid, id, codes) from (id, vector) rows. With `normalize =
    * false` the input vectors are taken as ALREADY L2-normalized — the
    * refresh path: the companion index's stored vn are bit-for-bit the
    * build's normalize outputs, and re-normalizing a unit vector is
    * NOT an IEEE no-op at the last ulp, so skipping it is what keeps a
    * refreshed index bit-identical to a fresh build. */
  private def encodePostings(rows: DataFrame, coarse: Array[Array[Double]],
                             books: Pq.Codebooks, residual: Boolean,
                             normalize: Boolean): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val dim = books.map(_.head.length).sum
    val bounds = Pq.sliceBounds(dim, books.length)
    val bc = spark.sparkContext.broadcast((coarse, books, bounds))
    rows
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val (crs, bks, bds) = bc.value
        rows.map { case (id, v) =>
          val vn =
            if (!normalize) v
            else {
              var ss = 0.0
              var i = 0
              while (i < v.length) { ss += v(i) * v(i); i += 1 }
              val inv = if (ss == 0) 0.0 else 1.0 / math.sqrt(ss)
              v.map(_ * inv)
            }
          val cOf = Ivf.nearestCentroid(vn, crs)
          val enc =
            if (!residual) vn
            else {
              val ct = crs(cOf)
              Array.tabulate(vn.length)(d =>
                vn(d) - (if (d < ct.length) ct(d) else 0.0))
            }
          val codes = Array.tabulate(bds.length) { s =>
            val (lo, hi) = bds(s); Pq.nearestSub(enc, lo, hi, bks(s))
          }
          (cOf, id, codes)
        }
      }
      .toDF("centroid", "id", "codes")
  }

  /** (Re)build the persistent code-postings table: one
    * normalize+assign+encode pass + one bucket-write shuffle. */
  def buildIndex(corpus: DataFrame, table: String, buckets: Int,
                 coarse: Array[Array[Double]], books: Pq.Codebooks,
                 residual: Boolean = false,
                 attrCols: Seq[String] = Nil): Unit =
    graft.sources.Bucketed.save(
      postings(corpus, coarse, books, residual, attrCols),
      table, Seq("centroid"), buckets)

  /** Append newly-ingested vectors (same bucket spec — the co-located
    * probe join stays valid). `residual` and `attrCols` MUST match the
    * build's. On a pair-governed table (see [[commitPair]]) the
    * pointer deliberately does NOT advance here: the appended codes
    * may reference vectors the pointer's vn generation predates
    * (codes ⊄ vn until the batch's own [[commitPair]]), and an
    * append never deletes files, so the lagging pointer stays
    * readable without help. */
  def appendToIndex(newVecs: DataFrame, table: String, buckets: Int,
                    coarse: Array[Array[Double]], books: Pq.Codebooks,
                    residual: Boolean = false,
                    attrCols: Seq[String] = Nil): Unit =
    graft.sources.Bucketed.save(
      postings(newVecs, coarse, books, residual, attrCols),
      table, Seq("centroid"), buckets, mode = SaveMode.Append)

  /** PAIR COMMIT — the two-table atomic flip for the IVF-PQ serving
    * pair ([[graft.sources.Bucketed.writePairPointer]]): stamp the
    * pointer on the CODE table with both tables' current heads, so
    * every pointer-reading probe ([[probe]]/[[probeRerank]]) flips
    * from the old (codes, vn) pair to the new one atomically —
    * a crash between the vn commit, the code commit, and this stamp
    * leaves readers on the complete OLD pair, never codes⊄vn and
    * never new codes over old vectors. ONLY this op moves the
    * pointer — a mid-batch advance from any single-table mutator
    * would publish new codes against the pre-batch vn. Retention 3
    * on both tables keeps the lagging pointer readable across the
    * widest write batch (append + compaction per table between
    * stamps); a pointer that falls behind the window fails LOUDLY at
    * the read (re-stamp with commitPair), never silently serves a
    * mixed pair. Steady state (pointer == heads) plans exactly as
    * head reads — the pointer costs one marker read per probe. */
  def commitPair(spark: SparkSession, codeTable: String,
                 vnTable: String): (Long, Long) = {
    // the retention FLOOR is re-asserted on EVERY stamp (an operator
    // lowering retention between stamps would otherwise strand the
    // lagging-pointer window until a crash surfaced it); the assert
    // only ever RAISES — two marker reads per stamp, a write only
    // when someone actually lowered it
    graft.sources.Bucketed.ensureRetentionAtLeast(spark, codeTable, 3)
    graft.sources.Bucketed.ensureRetentionAtLeast(spark, vnTable, 3)
    val gc = graft.sources.Bucketed.currentGeneration(spark, codeTable)
    val gv = graft.sources.Bucketed.currentGeneration(spark, vnTable)
    graft.sources.Bucketed.writePairPointer(spark, codeTable, gc, gv)
    (gc, gv)
  }


  /** Re-stamp a pair-governed code table's pointer after a
    * SUBTRACTIVE or row-preserving single-table mutation
    * ([[deleteFromIndex]] / [[compactIndex]]): owner side = the new
    * code head, companion side = the generation the pointer ALREADY
    * names, unchanged. Without this, pointer-reading probes keep
    * serving the pre-mutation code generation (deleted vectors still
    * returned), and three un-stamped maintenance commits push the
    * pointer out of the retention-3 window — every probe then fails
    * loudly until a manual [[commitPair]]. Guarded by `preGen`: the
    * stamp happens ONLY when the pointer named the pre-mutation head,
    * i.e. this mutation is the sole un-published change. Mid-batch
    * (the [[streamAppend]] compaction tick) the head already carries
    * the batch's un-stamped APPENDS — advancing the owner side there
    * would publish new codes against the pinned old vn (codes ⊄ vn,
    * the exact window the pointer exists to close), so the lagging
    * pointer is left for the batch's own [[commitPair]]. Preserving
    * the companion generation (rather than reading the vn HEAD,
    * which would need the companion's name these ops don't take) is
    * safe under the guard: delete and compact never ADD a code row,
    * so (new codes, pinned vn) preserves codes ⊆ vn. No-op on
    * pointer-less tables.
    *
    * RECOVERY: a crash BETWEEN the mutation's commit and this
    * re-stamp leaves the pointer lagging with `go != preGen` on every
    * later call — indistinguishable, from the pointer alone, from the
    * mid-batch un-stamped-appends case, so this guard deliberately
    * never self-heals it (advancing the owner side mid-batch would
    * publish codes ⊄ vn). The repair is [[commitPair]] — safe exactly
    * when no batch is in flight, which is the caller's knowledge, not
    * the pointer's; retention 3 keeps the lagging pointer readable
    * until then. Documented at both call sites. */
  private def restampOwner(spark: SparkSession, table: String,
                           preGen: Long): Unit =
    graft.sources.Bucketed.readPairPointer(spark, table).foreach {
      case (go, gv) if go == preGen =>
        graft.sources.Bucketed.writePairPointer(spark, table,
          graft.sources.Bucketed.currentGeneration(spark, table), gv)
      case _ => () // un-stamped appends in flight — commitPair owns it
    }

  /** Remove vectors at O(touched buckets) — the
    * [[IncrementalAnn.deleteFromIndex]] doctrine: the deleted vectors
    * re-assign map-only, so the affected bucket ids are known without
    * scanning the index; only those buckets rewrite, anti-joining the
    * ids out. On a pair-governed table the pointer re-stamps to the
    * post-delete generation ([[restampOwner]]) so probes stop serving
    * the deleted ids; callers deleting from the SERVING PAIR should
    * also delete from the companion vn index and finish with
    * [[commitPair]]. If this process crashes between the delete's
    * commit and its re-stamp, the pointer stays lagging (the
    * [[restampOwner]] guard cannot tell a crashed re-stamp from a
    * mid-batch tick) — run [[commitPair]] once no batch is in flight
    * to repair; retention 3 keeps probes serveable meanwhile.
    * Returns the number of buckets rewritten. */
  def deleteFromIndex(vecs: DataFrame, table: String, buckets: Int,
                      coarse: Array[Array[Double]],
                      books: Pq.Codebooks): Int = {
    // residual flag irrelevant here: only (centroid, id) are used, and
    // the coarse assignment is residual-independent
    val preGen = graft.sources.Bucketed.currentGeneration(
      vecs.sparkSession, table)
    val n = graft.sources.IndexMaintenance.deletePostings(
      postings(vecs, coarse, books, residual = false)
        .select("centroid", "id"),
      table, buckets, bucketKeyCol = "centroid", idCol = "id")
    restampOwner(vecs.sparkSession, table, preGen)
    n
  }

  /** Periodic compaction — the code-postings table is a SET, same as
    * the full-vector index. Pair-governed tables re-stamp the pointer
    * ([[restampOwner]]) so compactions never strand it behind the
    * retention window. A crash between the compaction's commit and
    * the re-stamp leaves the pointer lagging permanently (the guard
    * cannot distinguish it from a mid-batch tick) — repair with
    * [[commitPair]] once no batch is in flight. */
  def compactIndex(spark: SparkSession, table: String,
                   maxFilesPerBucket: Int = 4): Int = {
    val preGen = graft.sources.Bucketed.currentGeneration(spark, table)
    val n = graft.sources.IndexMaintenance.compactPostings(spark, table,
      maxFilesPerBucket)
    if (n > 0) restampOwner(spark, table, preGen)
    n
  }

  /** Codebook-drift maintenance WITHOUT a corpus re-read: re-encode the
    * ENTIRE code index under NEW codebooks from the companion
    * full-vector index ([[IncrementalAnn.buildIndex]]'s table — the
    * one the [[probeRerank]] serving stack already keeps beside the
    * codes, with the same ids). Codes are lossy, so the new generation
    * cannot derive from the code table itself; the vn index stores
    * exactly what a fresh build would re-derive — the L2-normalized
    * vectors, bit-for-bit — so re-encoding them (normalize SKIPPED;
    * see [[encodePostings]]) yields an index INDISTINGUISHABLE from
    * `buildIndex(corpus, newCoarse, newBooks)`: probe parity is
    * oracle-checkable with pinned codebooks (q144) and spec-pinned
    * against a fresh rebuild.
    *
    * Cost: one read of the vn index + one staged bucket-write of the
    * ~64× smaller code table (plus a dedup shuffle of those small
    * rows, keeping the posting SET invariant if the vn index carries
    * replay duplicates) — vs the full corpus scan the codes'
    * lossiness would otherwise force at 100 TB. Commits through
    * [[graft.sources.Bucketed.replaceAll]]'s one-file generation
    * manifest: a crash serves either the complete old code index or
    * the complete new one, never a mix of codebooks. The companion vn
    * index refreshes separately ([[IncrementalAnn.reassignIndex]],
    * same new coarse codebook) — order is free, since this op reads
    * only (id, vn), which reassignment preserves. `attrCols` (MUST
    * match the build's) re-attach from the same vn read — the
    * companion index stores them for its own filtered probes
    * ([[IncrementalAnn.buildIndex]]'s `attrCols`), so a refresh keeps
    * the FILTERED serving path alive without touching the corpus
    * either. Returns the number of files in the new code
    * generation. */
  def refreshFromVnIndex(spark: SparkSession, codeTable: String,
                         vnTable: String, coarse: Array[Array[Double]],
                         books: Pq.Codebooks,
                         residual: Boolean = false,
                         attrCols: Seq[String] = Nil): Int = {
    val vnIdx = graft.sources.Bucketed.load(spark, vnTable)
    val vn = vnIdx
      .select(col("id").cast("long"), col("vn").cast("array<double>"))
    val enc = encodePostings(vn, coarse, books, residual,
      normalize = false)
    val n = graft.sources.Bucketed.replaceAll(spark, codeTable,
      attachAttrs(enc, vnIdx, attrCols).dropDuplicates())
    // a pair-governed refresh flips readers to (new codes, current vn)
    graft.sources.Bucketed.readPairPointer(spark, codeTable).foreach { _ =>
      commitPair(spark, codeTable, vnTable)
    }
    n
  }

  /** Continuous vector ingest into the IVF-PQ SERVING PAIR — the
    * [[graft.text.IncrementalBm25.streamAppend]] shape for the
    * compressed family, completing the streaming surface across all
    * four index families: each micro-batch appends its code postings
    * (and, when `vnTable` is set, its full-vector postings to the
    * companion index the [[probeRerank]] stack and
    * [[refreshFromVnIndex]] read), with a periodic compaction tick on
    * both tables keeping per-bucket file counts bounded forever. No
    * gate — ingest-everything is the retrieval contract; deployments
    * wanting novelty gating run [[IncrementalAnn.streamNovel]] on the
    * vn side and append only its kept set here.
    *
    * Pair atomicity (round 12): with `vnTable` set, every batch ends
    * with a [[commitPair]] stamp, so pointer-reading probes flip from
    * the old (codes, vn) pair to the new one ATOMICALLY — a crash at
    * any point inside the batch (after the vn append, after the code
    * append, after a compaction tick) leaves readers on the complete
    * old pair; the former vn-append-FIRST ordering contract survives
    * only as defense in depth for pointer-less readers. foreachBatch
    * is at-least-once: a replayed batch lands duplicate postings,
    * which DOUBLE-COUNT in the ADC sum (the class doc's duplicate
    * contract) until the next compaction tick dedups them — the
    * documented healing window, accepted for the same reason as
    * everywhere else: no per-batch index scan. `attrCols` ride BOTH
    * tables (codes for filtered probes, vn so [[refreshFromVnIndex]]
    * can re-attach them). */
  def streamAppend(stream: DataFrame, codeTable: String, buckets: Int,
                   coarse: Array[Array[Double]], books: Pq.Codebooks,
                   residual: Boolean = false,
                   attrCols: Seq[String] = Nil,
                   vnTable: Option[String] = None,
                   compactEvery: Int = 8, maxFilesPerBucket: Int = 4,
                   checkpointDir: Option[String] = None): Unit = {
    graft.streaming.Streaming.runBatches(stream, "pq", checkpointDir) {
      (batch, id) =>
        graft.sources.Bucketed.profPhase(s"pq-batch $id") {
        val spark = batch.sparkSession
        vnTable.foreach(t => IncrementalAnn.appendToIndex(
          batch, t, buckets, coarse, attrCols))
        appendToIndex(batch, codeTable, buckets, coarse, books,
          residual, attrCols)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
          graft.sources.Bucketed.profPhase(s"pq-batch $id compact") {
            // the two tables' compactions are independent row-preserving
            // maintenance ops on DISJOINT tables with no ordering
            // contract between them (the pair pointer is untouched
            // mid-batch either way — restampOwner no-ops while the
            // batch's appends are un-stamped, and a crash between the
            // two compactions leaves the lagging pointer readable under
            // retention 3 exactly as the sequential order did), so they
            // overlap their per-job fixed costs (guide §2.6)
            vnTable match {
              case Some(t) => graft.ops.Par.both(
                { compactIndex(spark, codeTable, maxFilesPerBucket); () },
                { IncrementalAnn.compactIndex(spark, t, maxFilesPerBucket); () })
              case None =>
                compactIndex(spark, codeTable, maxFilesPerBucket)
            }
            ()
          }
        }
        vnTable.foreach(t =>
          graft.sources.Bucketed.profPhase(s"pq-batch $id commitPair") {
            commitPair(spark, codeTable, t)
          })
        }
    }
  }

  /** Per-query probe lists with the coarse dot for each probed
    * centroid — ONE implementation of the (-dot, centroid) selection
    * shared by [[probe]] (which also derives the residual offset from
    * the dot) and [[probeRerank]] (which prunes the vector fetch to
    * the same lists): the code-scan pruning and the fetch pruning must
    * never desynchronize, or shortlist ids would silently vanish from
    * the re-rank. Same arithmetic as IncrementalAnn.probeRows (its
    * distributed form, parity-pinned by the specs). */
  private def probeLists(qRows: Array[(Long, Array[Double])],
                         coarse: Array[Array[Double]],
                         nProbe: Int): Seq[(Long, Int, Double)] =
    qRows.toSeq.flatMap { case (qid, qv) =>
      coarse.indices
        .map { c =>
          var dot = 0.0
          var i = 0
          val n = math.min(qv.length, coarse(c).length)
          while (i < n) { dot += qv(i) * coarse(c)(i); i += 1 }
          (c, dot)
        }
        .sortBy { case (c, d) => (-d, c) }
        .take(nProbe)
        .map { case (c, d) => (qid, c, d) }
    }

  /** Top-k ADC neighbours of each query via its nProbe nearest
    * inverted lists, served entirely from codes. The query batch is
    * collected (bounded — the [[Pq.adcTopK]]/[[Similarity]] query-side
    * contract): probe-list selection and the m×ksub-entry integer LUT
    * per query are driver arithmetic, broadcast to two map-side joins.
    *
    * `filter`: optional predicate over the index's ATTRIBUTE columns
    * (stored at build via `attrCols` — the [[IncrementalAnn.probe]]
    * doctrine): it applies to the code scan BEFORE the ADC sum, pushed
    * down beside the probed-centroid `isin`, so the top-k is the exact
    * filtered answer rather than a post-filtered under-delivery.
    * Output: (query_id, neighbor_id, adc_e6, rank). */
  def probe(spark: SparkSession, queries: DataFrame, table: String,
            coarse: Array[Array[Double]], books: Pq.Codebooks, k: Int,
            nProbe: Int = 8, residual: Boolean = false,
            filter: Option[Column] = None): DataFrame =
    probeImpl(spark, queries, table, coarse, books, k, nProbe,
      residual, filter).result

  /** [[probe]]'s result plus the normalized query batch, the probed
    * centroid set it derived, and the PAIR's vn generation when the
    * table is pair-governed — shared with [[probeRerank]] so the
    * vector fetch prunes to exactly the lists the code scan read, the
    * query batch is normalized ONCE per serving call, and the re-rank
    * fetches vectors from the SAME atomic pair the codes came from. */
  private final case class Probed(result: DataFrame, probed: Seq[Int],
                                  qRows: Array[(Long, Array[Double])],
                                  vnGen: Option[Long])

  private def probeImpl(spark: SparkSession, queries: DataFrame,
                        table: String, coarse: Array[Array[Double]],
                        books: Pq.Codebooks, k: Int, nProbe: Int,
                        residual: Boolean,
                        filter: Option[Column] = None): Probed = {
    import spark.implicits._
    val m = books.length
    val ksub = books.head.length
    val bounds = Pq.sliceBounds(books.map(_.head.length).sum, m)
    val qRows = Ivf.normalized(queries, "query_id", "qv")
      .as[(Long, Array[Double])].collect()
    // per-query probe lists ([[probeLists]] — shared arithmetic). In
    // residual mode each pair also carries floor(q·centroid × 1e6) —
    // the score decomposition q·x ≈ q·c + q·r̂ puts the coarse term
    // here and the residual term in the LUT sum, both
    // integer-quantized so the total stays an order-free BIGINT sum
    val probePairs = probeLists(qRows, coarse, nProbe).map {
      case (qid, c, d) =>
        (qid, c, if (residual) math.floor(d * 1000000.0).toLong else 0L)
    }
    // per-(query, subspace, code) integer LUT: floor BEFORE the sum so
    // the cross-subspace aggregation is order-free (the q115 doctrine)
    val lutRows = for {
      (qid, qv) <- qRows.toSeq
      s <- 0 until m
      c <- 0 until ksub
    } yield {
      val (lo, hi) = bounds(s)
      val ct = books(s)(c)
      var dot = 0.0
      var i = lo
      var j = 0
      while (i < hi && j < ct.length) { dot += qv(i) * ct(j); i += 1; j += 1 }
      (qid, s, c, math.floor(dot * 1000000.0).toLong)
    }
    val probed = probePairs.map(_._2).distinct.sorted
    // pair-governed tables resolve through the pointer: the code scan
    // and the re-rank's vector fetch read ONE atomic (codes, vn) pair
    // (steady state pointer == heads → the plan is the head read)
    val pair = graft.sources.Bucketed.readPairPointer(spark, table)
    // attr predicate lands beside the probed-centroid isin — both push
    // into the pruned scan, so non-matching postings never enter the
    // ADC sum (exact pre-filtered top-k, the FilteredAnnSpec contract)
    val idx0 = pair
      .map { case (gc, _) => graft.sources.Bucketed.loadAsOf(spark, table, gc) }
      .getOrElse(graft.sources.Bucketed.load(spark, table))
      .filter(col("centroid").isin(probed: _*))
    val idx = filter.fold(idx0)(idx0.filter)
    val cand = idx
      .join(broadcast(probePairs.toDF("query_id", "centroid", "off_e6")),
        Seq("centroid"))
      .filter(col("id") =!= col("query_id"))
    // off_e6 is constant per (query, centroid) and a neighbor lives in
    // exactly one list, so it is a grouping key, not an aggregate
    val scored = cand
      .select(col("query_id"), col("id").as("neighbor_id"), col("off_e6"),
        posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(lutRows.toDF("query_id", "s", "code", "lut_e6")),
        Seq("query_id", "s", "code"))
      .groupBy("query_id", "neighbor_id", "off_e6")
      .agg(sum("lut_e6").as("__lutsum"))
      .select(col("query_id"), col("neighbor_id"),
        (col("off_e6") + col("__lutsum")).as("adc_e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_e6").desc, col("neighbor_id").asc)
    Probed(
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k),
      probed, qRows, pair.map(_._2))
  }

  /** The full IVF-PQ serving stack: ADC shortlist from the CODE index
    * ([[probe]] at rerankFactor·k), exact cosine re-rank fetching full
    * vectors from the companion FULL-VECTOR index
    * ([[IncrementalAnn.buildIndex]]'s table) for the shortlist ids
    * only. This is the deployment split PQ exists for at 100 TB: the
    * bulk scan reads the ~64× smaller code postings; the big vector
    * table is touched for queries × rerankFactor·k rows, via a
    * broadcast of the (small) shortlist against a scan pruned to the
    * probed centroids' buckets — Exchange-free on the vector-index
    * side, no full-table read ever. Exact scores use the same
    * [[graft.expressions.DotE6]]/(cos_e6 DESC, neighbor_id) contract
    * as every other ANN path, so with the shortlist wide enough the
    * result EQUALS [[IncrementalAnn.probe]] (spec-pinned).
    *
    * `filter` prunes the CODE scan (attrs ride the code postings, not
    * the vn table): the shortlist is already the exact filtered
    * ranking, so the vector fetch — a semi-join on shortlist ids —
    * needs no second copy of the attributes. Pre-filtering before the
    * shortlist matters doubly here: a post-filtered shortlist loses
    * BOTH window slots and re-rank candidates.
    * Output: (query_id, neighbor_id, cos_e6, rank). */
  def probeRerank(spark: SparkSession, queries: DataFrame,
                  codeTable: String, vnTable: String,
                  coarse: Array[Array[Double]], books: Pq.Codebooks,
                  k: Int, nProbe: Int = 8, rerankFactor: Int = 10,
                  residual: Boolean = false,
                  filter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    // ONE normalize + probe-list derivation serves both scans: the ADC
    // shortlist reuses pp.result, and the probed-centroid set prunes
    // the vector fetch to the same buckets the code scan read (bounded
    // by the codebook, the IncrementalAnn.probe pushdown)
    val pp = probeImpl(spark, queries, codeTable, coarse, books,
      k = math.max(k, rerankFactor * k), nProbe, residual, filter)
    val shortlist = pp.result.select("query_id", "neighbor_id")
    // pair-governed: fetch vectors from the SAME atomic pair the code
    // shortlist came from — a shortlisted id always finds its vector,
    // whatever crash window the writer died in
    val vnIdx = pp.vnGen
      .map(g => graft.sources.Bucketed.loadAsOf(spark, vnTable, g))
      .getOrElse(graft.sources.Bucketed.load(spark, vnTable))
      .filter(col("centroid").isin(pp.probed.toIndexedSeq: _*))
      .select(col("id").as("neighbor_id"), col("vn"))
    val scored = vnIdx
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(pp.qRows.toSeq.toDF("query_id", "qv")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.expressions.DotE6.col(col("qv"), col("vn")).as("cos_e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_e6").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
