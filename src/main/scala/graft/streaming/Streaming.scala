package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, Trigger}

/** Structured Streaming pipelines. The reference has no streaming
  * machinery (SURVEY §2.13) — its closest constructs are the append-only
  * PREMIS event log and incremental re-sync. These pipelines give the
  * engine the continuous-ingest path: the same event analytics as the
  * batch queries (q30/q31), expressed as streams, so a file-watching
  * deployment gets identical numbers (scalatested equal to batch on an
  * AvailableNow run).
  *
  * Scale: windowed aggregation state is bounded by the watermark;
  * sessionization state is one small struct per active user key.
  */
object Streaming {

  /** Streaming source over an events parquet directory. The ts column is
    * normalized by the SAME schema-adaptive helper as the batch loader
    * (graft.sources.Tables.normalizeTs) so the two readers cannot
    * diverge on testdata vintage. */
  def eventStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.normalizeTs(fileStream(spark, path))
  }

  /** Tumbling 1-hour windowed counts/sums per event type with a
    * 2-hour watermark — the streaming form of q30. */
  def windowedAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Per-user session summary emitted by [[sessionize]]. */
  final case class SessionSummary(userId: Long, nSessions: Long,
                                  maxSessionEvents: Long)

  /** O(1)-per-key carried session state: enough to continue gap-splitting
    * from wherever the previous micro-batch left off. */
  final case class SessionState(lastTs: Long, curLen: Long,
                                nSessions: Long, maxLen: Long)

  /** Sessionization (30-minute gaps) via flatMapGroupsWithState — the
    * streaming form of q31. Carried state is a fixed-size
    * (last_ts, cur_len, n_sessions, max_len) struct per user key — O(1),
    * NOT the user's event history — so a hot key cannot grow state. Only
    * the current micro-batch's events for the key are materialized (to
    * sort them: intra-batch delivery order is not guaranteed), then
    * folded incrementally from the carried state; each invocation emits
    * the user's cumulative summary-so-far (Update semantics — downstream
    * takes the latest row per key). Events arriving out of order ACROSS
    * micro-batches are gap-split at their arrival batch, the standard
    * incremental-sessionization tradeoff; bound disorder with a
    * watermark upstream if cross-batch reordering matters. */
  def sessionize(events: DataFrame, gapMinutes: Long = 30): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(
            SessionState(Long.MinValue, 0L, 0L, 0L))
          it.toArray.sortBy(t => (t._2, t._3)).foreach { case (_, ts, _) =>
            val newSession = st.lastTs == Long.MinValue || ts - st.lastTs > gapUs
            val len = if (newSession) 1L else st.curLen + 1L
            st = SessionState(ts, len,
              if (newSession) st.nSessions + 1L else st.nSessions,
              math.max(st.maxLen, len))
          }
          state.update(st)
          Iterator.single(SessionSummary(userId, st.nSessions, st.maxLen))
      }
  }

  /** Generic file stream over a parquet path. FileStreamSource needs a
    * directory: a single-file path becomes its parent dir plus a glob
    * filter on the file name (glob metacharacters escaped).
    * `maxFilesPerTrigger` bounds each micro-batch to that many source
    * files (the standard ingest-rate control; it also forces a
    * multi-batch run over a multi-file directory, which is how the
    * batch-boundary-independence specs exercise stateful sinks). */
  def fileStream(spark: SparkSession, path: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val f = new java.io.File(path)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    if (f.isFile) {
      val escaped = f.getName.replaceAll("([\\[\\]{}*?\\\\])", "\\\\$1")
      reader.option("pathGlobFilter", escaped).parquet(f.getParent)
    } else reader.parquet(path)
  }

  /** Scratch base for state that lives no longer than one call: tmpfs
    * when available, since one-shot checkpoints and per-run staging
    * are rewritten on every micro-batch and RAM beats disk. Whatever
    * lands here occupies RAM until deleted, so every user deletes its
    * own entries ([[runBatches]] does so for fresh checkpoints). */
  def scratchBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Streaming MERGE INTO the GOVERNED bucketed table — the engine's
    * one stream-merge sink. Each micro-batch commits as ONE atomic
    * [[graft.sources.Bucketed.mergeByKey]] generation, so the target
    * keeps every contract the batch table has WHILE the stream runs:
    * readers flip whole generations (never a half-applied batch), the
    * table stays time-travelable, CDC-diffable, and replica-syncable
    * mid-stream, and retention/vacuum govern its history. Cost per
    * batch is O(buckets the batch's keys hash to), never O(table).
    *
    * Two merge rules. With `orderCols` empty the merge is LATEST-
    * BATCH-WINS: ordering across batches is the stream's contract, and
    * rows with `deleteCol` = true delete their keys, so CDC-style
    * streams apply directly. With `orderCols` set it is RECENCY-AWARE
    * (the continuous-CDC "latest row per key" pattern): each key keeps
    * its max row under `orderCols` across table ∪ batch, so a late
    * batch cannot regress a key and the final table is independent of
    * micro-batch boundaries and file arrival order — where a plain
    * "updates win" upsert would silently corrupt on out-of-order
    * arrival.
    *
    * Exactly-once EFFECT from at-least-once foreachBatch: a replayed
    * batch re-merges idempotently under either rule.
    *
    * `checkpointDir`: see [[runBatches]]. Under latest-batch-wins, a
    * second ONE-SHOT call over the same source would also regress
    * keys other writers updated in between back to the re-streamed
    * values — continuing ingest must resume a persistent checkpoint. */
  def mergeStreamIntoBucketed(stream: DataFrame, table: String,
                              deleteCol: Option[String] = None,
                              checkpointDir: Option[String] = None,
                              orderCols: Seq[String] = Nil): Unit =
    runBatches(stream, "gmerge", checkpointDir) { (batch, _) =>
      graft.sources.Bucketed.mergeByKey(stream.sparkSession, table, batch,
        deleteCol, orderCols)
    }

  /** In-stream exact dedup — the continuous-ingest form of
    * `Dedup.exact` (q21): keep the first-arriving document per
    * normalized-content hash. Pass `eventTime = Some((tsCol, delay))`
    * to bound state with a watermark via
    * `dropDuplicatesWithinWatermark` — hash entries genuinely EXPIRE
    * once the watermark passes them (a plain dropDuplicates would keep
    * every hash forever even under a watermark, since the event-time
    * column is not part of the dedup key). The right setting for
    * append-only ingest where near-in-time duplicates dominate; None
    * keeps exact global semantics with unbounded state. */
  def dedupStream(docs: DataFrame, textCol: String = "text",
                  eventTime: Option[(String, String)] = None): DataFrame = {
    val hashed = docs.withColumn("__h",
      md5(graft.text.TextAnalysis.normalizeCol(col(textCol))))
    val deduped = eventTime match {
      case Some((c, delay)) =>
        hashed.withWatermark(c, delay).dropDuplicatesWithinWatermark("__h")
      case None => hashed.dropDuplicates("__h")
    }
    deduped.drop("__h")
  }

  /** Stream-stream INNER join with event-time bounds — the continuous
    * attribution query ("purchase within N hours of a view, same
    * user"). Both sides carry watermarks and the join condition bounds
    * r.ts to [l.ts, l.ts + withinHours], so Structured Streaming can
    * expire join state on both sides (unbounded state otherwise — the
    * watermark + time-range condition IS the scale story; state per key
    * is bounded by the window, not the stream length). Works unchanged
    * on a batch DataFrame (the condition is plain Column algebra), which
    * is what the q66 oracle + parity spec pin. */
  def correlate(events: DataFrame, leftType: String, rightType: String,
                withinHours: Int, watermark: String = "2 hours"): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("user_id"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"))
      .withWatermark("l_ts", watermark)
    val r = events.filter(col("event_type") === rightType)
      .select(col("user_id").as("__r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"))
      .withWatermark("r_ts", watermark)
    l.join(r, col("user_id") === col("__r_user")
        && col("r_ts") >= col("l_ts")
        && col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinHours HOURS"))
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        unix_micros(col("r_ts")) - unix_micros(col("l_ts")))
      .toDF("user_id", "l_event_id", "r_event_id", "lag_us")
  }

  /** Stream-static enrichment join — the continuous-dimension-lookup
    * shape: each micro-batch joins against a STATIC (batch) dimension,
    * broadcast to the executors; stateless, so no watermark and no
    * state store. The 100 TB pattern for attaching slowly-refreshed
    * reference data (user tiers, vocabularies, geo tables) to an
    * unbounded stream: the dim is re-broadcast per batch, the stream
    * side never shuffles. Works identically on a batch DataFrame
    * (which is what the q80 oracle + parity spec pin). */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left_outer")

  /** Run any streaming DataFrame to completion over the currently
    * available data (Trigger.AvailableNow) into an in-memory table;
    * returns the result. Complete mode for aggregations, Update for
    * stateful maps. The checkpoint is a ONE-SHOT one ([[runBatches]]).
    *
    * `statePartitions` sizes the stateful-operator partitioning for THIS
    * query (set/restored around `start()`, which is when Spark locks
    * shuffle.partitions into the checkpoint). Unlike batch plans — where
    * AQE coalesces oversized shuffles automatically — streaming state
    * partitioning is fixed at first run and every partition carries
    * per-batch store init/commit overhead, so it must be sized to the
    * state volume explicitly: measured locally, a stream-stream join
    * over sf0.1 halves its wall time going from 32 to 8 state
    * partitions. A cluster deployment sizes it to executor cores ×
    * state volume instead; None inherits the session setting. */
  def runAvailableNow(stream: DataFrame, name: String,
                      outputMode: String = "complete",
                      statePartitions: Option[Int] = None): DataFrame = {
    val spark = stream.sparkSession
    withStatePartitions(spark, statePartitions) {
      drain(stream.writeStream.format("memory").queryName(name)
        .outputMode(outputMode), name, None)
    }
    spark.table(name)
  }

  /** Run `stream` to completion over the currently available data
    * (Trigger.AvailableNow), handing each micro-batch and its batch id
    * to `body` — the one driver behind every foreachBatch sink in the
    * engine. foreachBatch runs batches serially and AT LEAST ONCE: a
    * batch whose effect landed before the checkpoint committed is
    * replayed under the same id, so `body` must make a replay
    * idempotent. `name` names the checkpoint; `outputMode` is the
    * stream's (Update for stateful maps).
    *
    * `checkpointDir = None` (default) is the ONE-SHOT mode: a fresh
    * `graft-ckpt-<name>` checkpoint under [[scratchBase]], deleted
    * when the call returns or throws. Every one-shot call therefore
    * reprocesses the whole available source, and batch ids restart at
    * 0. CONTINUING ingest passes a PERSISTENT `checkpointDir` and
    * resumes it on every call: Structured Streaming continues with
    * monotonic batch ids and processes only newly-arrived source
    * files. A caller's checkpoint is never deleted. */
  def runBatches(stream: DataFrame, name: String,
                 checkpointDir: Option[String] = None,
                 outputMode: String = "append")
                (body: (DataFrame, Long) => Unit): Unit =
    drain(stream.writeStream.outputMode(outputMode)
      .foreachBatch((batch: Dataset[Row], id: Long) => body(batch.toDF(), id)),
      name, checkpointDir)

  /** The novelty gates' shared micro-batch loop
    * ([[graft.text.IncrementalDedup.streamNovel]],
    * [[graft.sim.IncrementalAnn.streamNovel]]): `gate` judges batch
    * `id` against the index `table`, appends the kept rows' postings,
    * and returns the kept rows to emit plus its opt-in metrics. Each
    * batch's kept rows OVERWRITE `outDir/batch=<id>`: foreachBatch is
    * at-least-once, and a replayed batch appending to a flat dir would
    * duplicate them (the gates make the replayed kept set identical).
    * Metrics land in `metricsDir`'s [[GateMetricsLog]], overwritten
    * per batch id. Every `compactEvery`-th batch compacts the postings
    * — appends grow per-bucket file counts O(batches) otherwise, and
    * compaction preserves the posting SET, so it is verdict-neutral —
    * and folds the metrics log. A ONE-SHOT run ([[runBatches]]) wipes
    * the output and metrics first, since its batch ids restart at 0;
    * a persistent checkpoint keeps both across calls. Returns every
    * kept row in `outDir`. */
  private[graft] def gateLoop(stream: DataFrame, name: String,
                              table: String, outDir: String,
                              compactEvery: Int, maxFilesPerBucket: Int,
                              metricsDir: Option[String],
                              checkpointDir: Option[String])
                             (gate: (DataFrame, Long) =>
                               (DataFrame, Option[GateMetrics])): DataFrame = {
    val spark = stream.sparkSession
    if (checkpointDir.isEmpty) {
      val out = new org.apache.hadoop.fs.Path(outDir)
      out.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(out, true)
      metricsDir.foreach(m => GateMetricsLog.clear(spark, m))
    }
    runBatches(stream, name, checkpointDir) { (batch, id) =>
      import graft.sources.Bucketed.profPhase
      val (kept, metrics) =
        profPhase(s"$name-batch $id gate+append")(gate(batch, id))
      profPhase(s"$name-batch $id out") {
        kept.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      for (m <- metricsDir; gm <- metrics)
        GateMetricsLog.write(spark, m, id, gm)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
        profPhase(s"$name-batch $id compact") {
          graft.sources.IndexMaintenance.compactPostings(spark, table,
            maxFilesPerBucket)
        }
        metricsDir.foreach(m => GateMetricsLog.compact(spark, m, id))
      }
    }
    spark.read.parquet(outDir).drop("batch")
  }

  /** `body` over the caller's checkpoint, or over a fresh
    * `graft-ckpt-<name>` under [[scratchBase]] that is deleted once
    * `body` returns or throws — the checkpoint half of
    * [[runBatches]], for callers that need the resolved path before
    * the stream starts. */
  private[graft] def withCheckpoint[A](name: String,
                                       checkpointDir: Option[String])
                                      (body: String => A): A =
    checkpointDir match {
      case Some(dir) => body(dir)
      case None =>
        val dir = java.nio.file.Files
          .createTempDirectory(scratchBase, s"graft-ckpt-$name").toFile
        try body(dir.toString)
        finally org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
    }

  /** Start `writer` under AvailableNow on its checkpoint and wait for it
    * to drain. The stop in `finally` makes sure no batch still runs
    * when [[withCheckpoint]] deletes a fresh checkpoint (an interrupted
    * wait leaves the query running). */
  private def drain(writer: DataStreamWriter[Row], name: String,
                    checkpointDir: Option[String]): Unit =
    withCheckpoint(name, checkpointDir) { ckpt =>
      val q = writer.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      try q.awaitTermination() finally q.stop()
    }

  /** Size the stateful-operator partitioning for a stream started inside
    * `body` — the shared mechanism behind [[runAvailableNow]]'s
    * `statePartitions`, exposed for [[runBatches]] callers. Spark
    * locks `spark.sql.shuffle.partitions` into the checkpoint at
    * `start()` and there is no per-query knob; unlike batch plans —
    * where AQE coalesces oversized shuffles — every state partition
    * carries per-batch store open/commit overhead on EVERY micro-batch
    * forever, so the count must be sized to the state volume
    * explicitly (measured locally: a 3-batch flatMapGroupsWithState
    * stream over sf0.1 drops from ~3.3 s to ~0.7 s per batch going
    * from 32 to 4 state partitions). The override is session-scoped
    * while `body` runs — callers composing OTHER work on the same
    * session concurrently should pass None.
    * Restores an UNSET key by unsetting, not by writing the default
    * back as explicit. */
  def withStatePartitions[A](spark: SparkSession, statePartitions: Option[Int])
                            (body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.getOption(key)
    statePartitions.foreach(n => spark.conf.set(key, n.toString))
    try body
    finally if (statePartitions.nonEmpty) prevParts match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** One emitted heavy-hitter candidate: the state group it lives in,
    * the token, its Misra-Gries under-estimate, and the group's
    * processed-token total (which makes the n/(k+1) bound checkable
    * downstream). */
  final case class HeavyHitter(grp: Long, token: String,
                               estimate: Long, n_group: Long)

  /** STREAMING Misra-Gries heavy hitters — the continuous form of the
    * batch q97 sketch (graft.ops.Sketch): tokens hash-route to `groups`
    * state keys, each key carries ONE bounded MGSummary (at most `k`
    * counters + a total, regardless of how many tokens stream through),
    * and every micro-batch folds its tokens into the summary with the
    * SAME reduce the batch Aggregator uses, then re-emits the group's
    * current candidates (update mode).
    *
    * Guarantee (inherited from Misra-Gries, order-independent): after
    * any prefix of the stream, every token whose true count within its
    * group exceeds n_group/(k+1) is present among the group's emitted
    * candidates, with estimate <= true count. Exact counts, when
    * needed, come from the batch second pass over the candidates —
    * same split as the batch operator.
    *
    * Scale shape: state is `groups` x O(k) entries TOTAL (not per
    * token, not per key-of-data) — the sketch state distributes across
    * the state store like any keyed state, and a group's per-batch work
    * is one compiled fold over its token slice. */
  def heavyHitterStream(tokens: DataFrame, tokCol: String = "tok",
                        k: Int = 1024, groups: Int = 8): Dataset[HeavyHitter] = {
    require(groups >= 1, "groups must be >= 1")
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens
      .select(col(tokCol).cast("string").as("tok"),
        pmod(xxhash64(col(tokCol).cast("string")), lit(groups.toLong)).as("grp"))
      .as[(String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (grp: Long, it: Iterator[(String, Long)],
         state: GroupState[graft.ops.Sketch.MGSummary]) =>
          // thaw the stored summary into the mutable buffer ONCE per
          // micro-batch, fold with the same Sketch.foldToken the batch
          // Aggregator uses, freeze back for the state store
          val buf = state.getOption
            .map(graft.ops.Sketch.bufferOf)
            .getOrElse(graft.ops.Sketch.emptyBuffer)
          it.foreach { case (tok, _) =>
            graft.ops.Sketch.foldToken(buf, tok, k)
          }
          val s = buf.toSummary
          state.update(s)
          s.counters.toSeq.sortBy { case (t, v) => (-v, t) }
            .iterator.map { case (t, v) => HeavyHitter(grp, t, v, s.n) }
      }
  }

  final case class QuantileEstimate(group: String, q_e4: Long, est: Long,
                                    m: Long)

  /** Streaming per-group quantile estimates with BOUNDED state: each
    * group's state is its bottom-k-by-portable-hash sample
    * ([[graft.ops.QuantileSketch]] — k (hash, id, value) triples,
    * ever), refreshed per micro-batch and re-estimated on update.
    * Because bottom-k membership is a pure, order-independent function
    * of the row ids, the LAST emitted estimates for a group equal the
    * batch [[graft.ops.QuantileSketch.quantileEstimates]] over
    * everything the stream has seen — bit-for-bit, on any batch
    * split (StreamingSpec pins the parity) — and at-least-once
    * replays are absorbed by keying the state map on the id. */
  def quantileSketchStream(rows: DataFrame, groupCol: String,
                           idCol: String, valueCol: String,
                           qs: Seq[Double], k: Int = 64
                          ): Dataset[QuantileEstimate] = {
    require(qs.nonEmpty, "need at least one quantile")
    val spark = rows.sparkSession
    import spark.implicits._
    val qe4 = qs.map(q => math.round(q * 10000.0))
    rows
      .select(col(groupCol).cast("string").as("g"),
        col(idCol).cast("long").as("id"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull && col("id").isNotNull)
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[(String, Long, Long)],
         state: GroupState[Seq[(Long, Long, Long)]]) =>
          val prev = state.getOption.getOrElse(Seq.empty)
          val byId = scala.collection.mutable.LongMap.empty[(Long, Long)]
          prev.foreach { case (h, id, v) => byId(id) = (h, v) }
          it.foreach { case (_, id, v) =>
            byId(id) = (graft.functions.Hashing.squareMix(
              graft.functions.Hashing.polyHash(id.toString)), v)
          }
          val kept = byId.iterator
            .map { case (id, (h, v)) => (h, id, v) }.toSeq
            .sortBy { case (h, id, _) => (h, id) }
            .take(k)
          state.update(kept)
          val m = kept.size
          val byValue = kept.sortBy { case (h, id, v) => (v, h, id) }
          qe4.iterator.map { q =>
            val rank = ((q * m + 9999) / 10000).toInt // ceil(q·m/1e4)
            QuantileEstimate(g, q, byValue(math.max(rank, 1) - 1)._3, m)
          }
      }
  }
}
