package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Geo
import graft.streaming.Streaming

/** Structured-Streaming and geo queries with DuckDB oracles. */
object StreamGeoQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Structured Streaming windowed aggregation, run to completion with
    // Trigger.AvailableNow — must equal the BATCH q30 oracle exactly
    // (streaming/batch parity is the correctness claim)
    "q37_stream_windowed" -> ((s, dir) => {
      val name = s"q37_mem_${System.nanoTime()}"
      Streaming.runAvailableNow(
          Streaming.windowedAgg(Streaming.eventStream(s, s"$dir/events.parquet")),
          name, statePartitions = Some(8))
        .orderBy("window_start", "event_type")
    }),

    // Streaming Misra-Gries heavy hitters: bounded sketch state per
    // hash group via flatMapGroupsWithState — the continuous form of
    // q97. Rows-only by design (candidate sets depend on reduction
    // order; the guarantee — every over-threshold token survives with
    // estimate <= truth — is scalatested in StreamingSpec)
    "q109_stream_heavy_hitters" -> ((s, dir) => {
      val name = s"q109_mem_${System.nanoTime()}"
      val toks = Streaming.fileStream(s, s"$dir/documents.parquet")
        .select(explode(
          graft.text.TextAnalysis.wordsCol(col("text"))).as("tok"))
      Streaming.runAvailableNow(
          Streaming.heavyHitterStream(toks, k = 64, groups = 4).toDF(),
          name, outputMode = "update", statePartitions = Some(8))
        .orderBy("grp", "token")
    }),

    // Streaming PII monitoring: the map-only Pii.detect Columns drop
    // into a readStream unchanged (stateless ops are engine-mode
    // agnostic); per-source counts aggregate in complete mode and must
    // equal the batch SQL oracle exactly
    "q61_stream_pii" -> ((s, dir) => {
      val name = s"q61_mem_${System.nanoTime()}"
      val docs = Streaming.fileStream(s, s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      val agg = graft.text.Pii.detect(TextQueries.plantPii(docs), "content")
        .groupBy("source")
        .agg(sum("n_emails").as("n_emails"), sum("n_ipv4").as("n_ipv4"),
          sum("n_phones").as("n_phones"),
          sum("has_pii").as("n_docs_with_pii"))
      Streaming.runAvailableNow(agg, name, statePartitions = Some(8))
        .orderBy("source")
    }),

    // Stream-stream inner join with event-time bounds (purchase within
    // 24h of a view, same user): watermarks on both sides + the time-
    // range condition bound the join state; run to completion with
    // AvailableNow, the result must equal the plain batch join the
    // oracle runs
    "q66_stream_join" -> ((s, dir) => {
      val name = s"q66_mem_${System.nanoTime()}"
      Streaming.runAvailableNow(
          Streaming.correlate(
            Streaming.eventStream(s, s"$dir/events.parquet"),
            leftType = "view", rightType = "purchase", withinHours = 24),
          name, outputMode = "append", statePartitions = Some(8))
        .orderBy("l_event_id", "r_event_id")
    }),

    // Stream-static enrichment: every micro-batch left-joins the
    // BROADCAST static dimension (stateless — no watermark, no state
    // store); result must equal the plain batch join the oracle runs
    "q80_stream_enrich" -> ((s, dir) => {
      val name = s"q80_mem_${System.nanoTime()}"
      val dim = graft.sources.Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .withColumn("tier",
          concat(lit("tier_"), (col("user_id") % 5).cast("string")))
      Streaming.runAvailableNow(
          Streaming.enrich(
              Streaming.eventStream(s, s"$dir/events.parquet"),
              dim, "user_id")
            .select("event_id", "user_id", "tier"),
          name, outputMode = "append")
        .orderBy("event_id")
    }),

    // Streaming MERGE sink (foreachBatch upsert): events split over 4
    // source files, streamed 1 file per micro-batch, each batch merged
    // into a governed bucketed table as one mergeByKey generation that
    // keeps the newest row per user (recency-aware — independent of
    // batch boundaries and file order). The final table must equal the
    // batch "latest event per user" oracle
    "q93_stream_upsert" -> ((s, dir) => {
      // The 4-file SOURCE is fixture INPUT, staged once per process
      // (Setup.stageOnce), split deterministically on event_id so the
      // staged files are reproducible. The table, the checkpoint and
      // every batch's merge stay per-execution: each execution
      // overwrites the table empty, then streams into it
      val events = graft.sources.Tables.events(s, dir)
      val src = Setup.stageOnce("q93", dir,
        (0 to 3).map(j => events.filter(pmod(col("event_id"), lit(4)) === j)))
      val name = s"graft_q93_up_${Setup.dirTag(dir)}"
      // 4 buckets for the 150 distinct users at this scale: a batch
      // rewrites only the buckets its users hash to
      graft.sources.Bucketed.save(s.read.parquet(src).limit(0), name,
        Seq("user_id"), 4)
      Streaming.mergeStreamIntoBucketed(
        Streaming.fileStream(s, src, maxFilesPerTrigger = Some(1)), name,
        orderCols = Seq("ts", "event_id"))
      graft.sources.Bucketed.load(s, name)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          unix_micros(col("ts")).as("last_ts_us"))
        .orderBy("user_id")
    }),

    // q109's fold arithmetic, hash-checked (the q116 ordered-replay
    // doctrine): same foldToken/mergeBuffers code the streaming sketch
    // runs, but over a PINNED order — contiguous doc_id shards, tokens
    // ordered (doc_id, word index) within each, shard summaries merged
    // left-to-right — which the recursive-CTE oracle replays
    // step-for-step, decrements and merge-truncations included
    "q127_mg_replay" -> ((s, dir) => {
      import s.implicits._
      val toks = graft.sources.Tables.table(s, dir, "documents")
        .filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), posexplode(
          graft.text.TextAnalysis.wordsCol(col("text"))).as(Seq("wi", "tok")))
        .filter(col("tok") =!= "")
        .withColumn("shard", floor(col("doc_id") / 68).cast("long"))
      val r = graft.ops.Sketch.misraGriesSharded(
        toks, "shard", Seq("doc_id", "wi"), "tok", k = 8)
      r.entries.map(e => (e.token, e.estimate, r.n))
        .toDF("token", "estimate", "n_stream")
        .orderBy("token")
    }),

    // G1/G2/G3 — RD-coordinate parse + polynomial CRS transform,
    // quantized to 1e6 microdegrees (multiplication-chain arithmetic is
    // replicated verbatim in the oracle)
    "q38_geo_transform" -> ((s, dir) => {
      val o = graft.sources.Tables.table(s, dir, "orders")
        .withColumn("coord", format_string("X %d Y %d",
          (lit(100000000L) + pmod(col("o_orderkey"), lit(100000)) * 1000),
          (lit(430000000L) + pmod(col("o_orderkey"), lit(170000)) * 1000)))
      val p = Geo.parseRdCoordCol(col("coord"))
      o.select(col("o_orderkey"), col("coord"))
        .withColumn("lat_e6",
          floor(Geo.latCol(p("x"), p("y")) * 1000000.0).cast("long"))
        .withColumn("lon_e6",
          floor(Geo.lonCol(p("x"), p("y")) * 1000000.0).cast("long"))
        .orderBy("o_orderkey")
    }),

    // Streaming MERGE INTO the GOVERNED bucketed table: each
    // micro-batch is one atomic mergeByKey generation, so the target
    // keeps the manifest contract (time travel, CDC, replication,
    // retention) WHILE ingesting. The op rows — odd-key inserts,
    // k%18=0 updates, disjoint even-key deletes — are KEY-DISJOINT, so
    // any partitioning of them into micro-batches commutes and the
    // final state is deterministic whatever file order the stream
    // picks. The oracle recomputes that state from the raw predicates
    "q166_stream_merge_governed" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q166_gm_$tag"
      Setup.once(s"q166:$dir") {
        val o = graft.sources.Tables.table(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          floor(col("o_totalprice") * 100.0).cast("long").as("v"))
        graft.sources.Bucketed.save(o.filter(col("k") % 2 === 0),
          name, Seq("k"), 8)
        val inserts = o.filter(col("k") % 2 === 1)
          .select(col("k"), col("v"), lit(false).as("del"))
        val updates = o.filter(col("k") % 18 === 0)
          .select(col("k"), (col("v") + 21L).as("v"), lit(false).as("del"))
        val deletes = o.filter(
            col("k") % 2 === 0 && col("k") % 13 === 7 && col("k") % 18 =!= 0)
          .select(col("k"), col("v"), lit(true).as("del"))
        val base = Streaming.scratchBase.resolve(
          s"graft-q166-${Setup.dirTag(dir)}").toString
        // the merge drains AvailableNow and nothing reads the staged
        // source afterwards, so it leaves the scratch base with the call
        try {
          inserts.unionByName(updates).unionByName(deletes)
            .repartition(3)
            .write.mode("overwrite").parquet(s"$base/src")
          Streaming.mergeStreamIntoBucketed(
            Streaming.fileStream(s, s"$base/src", maxFilesPerTrigger = Some(1)),
            name, deleteCol = Some("del"))
        } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
      }
      graft.sources.Bucketed.load(s, name).select("k", "v").orderBy("k")
    }))

  val oracles: Map[String, String] = Map(
    "q37_stream_windowed" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q61_stream_pii" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\+[0-9]{2}[0-9 -]{6,12}[0-9]"
      s"""WITH c AS (
         |  SELECT doc_id, source, ${TextQueries.Sql.plantPiiContent} AS content
         |  FROM documents),
         |d AS (
         |  SELECT source,
         |    len(regexp_extract_all(content, '$email')) AS e,
         |    len(regexp_extract_all(content, '$ipv4')) AS i,
         |    len(regexp_extract_all(content, '$phone')) AS p
         |  FROM c)
         |SELECT source,
         |  CAST(SUM(e) AS BIGINT) AS n_emails,
         |  CAST(SUM(i) AS BIGINT) AS n_ipv4,
         |  CAST(SUM(p) AS BIGINT) AS n_phones,
         |  CAST(SUM(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_with_pii
         |FROM d GROUP BY source ORDER BY source""".stripMargin
    },

    "q80_stream_enrich" ->
      """SELECT event_id, user_id,
        |       'tier_' || CAST(user_id % 5 AS VARCHAR) AS tier
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q66_stream_join" ->
      """SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
        |       CAST(epoch_us(r.ts) - epoch_us(l.ts) AS BIGINT) AS lag_us
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'view' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 24 HOURS
        |ORDER BY l_event_id, r_event_id""".stripMargin,

    "q93_stream_upsert" ->
      """SELECT user_id, event_id AS last_event_id,
        |       CAST(epoch_us(ts) AS BIGINT) AS last_ts_us
        |FROM (SELECT user_id, event_id, ts,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // ordered Misra-Gries replay: per-shard sequential fold stepped one
    // token per recursion (state = ≤k (token,count) structs; the three
    // foldToken branches verbatim), then shard summaries merged
    // left-to-right (sum matching counters, subtract the (k+1)-th
    // largest when over k, drop non-positive — mergeBuffers verbatim)
    "q127_mg_replay" -> {
      val k = 8
      s"""WITH RECURSIVE
         |d AS (SELECT doc_id, ${TextQueries.Sql.norm} AS norm
         |      FROM documents WHERE doc_id % 17 = 0),
         |dw0 AS (SELECT doc_id, ws[i] AS tok, i
         |        FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM d) x,
         |        LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) tt
         |        WHERE ws[i] <> ''),
         |dw AS (SELECT doc_id // 68 AS shard0, tok,
         |              row_number() OVER (PARTITION BY doc_id // 68
         |                                 ORDER BY doc_id, i) AS j
         |       FROM dw0),
         |sh AS MATERIALIZED (SELECT shard0, dense_rank() OVER (ORDER BY shard0) AS dr
         |       FROM (SELECT DISTINCT shard0 FROM dw) u),
         |dwr AS MATERIALIZED (SELECT s.dr, dd.tok, dd.j FROM dw dd JOIN sh s USING (shard0)),
         |fold(dr, i, st) AS (
         |  SELECT dr, CAST(0 AS BIGINT),
         |         CAST([] AS STRUCT(t VARCHAR, c BIGINT)[]) FROM sh
         |  UNION ALL
         |  SELECT f.dr, f.i + 1,
         |    CASE
         |      WHEN len(list_filter(f.st, x -> x.t = dd.tok)) > 0
         |        THEN list_transform(f.st, x -> CASE WHEN x.t = dd.tok
         |             THEN {'t': x.t, 'c': x.c + CAST(1 AS BIGINT)} ELSE x END)
         |      WHEN len(f.st) < $k
         |        THEN list_append(f.st, {'t': dd.tok, 'c': CAST(1 AS BIGINT)})
         |      ELSE list_filter(list_transform(f.st,
         |             x -> {'t': x.t, 'c': x.c - CAST(1 AS BIGINT)}),
         |             x -> x.c > 0)
         |    END
         |  FROM fold f JOIN dwr dd ON dd.dr = f.dr AND dd.j = f.i + 1),
         |fin AS MATERIALIZED (SELECT dr, st FROM (
         |          SELECT dr, st,
         |                 row_number() OVER (PARTITION BY dr ORDER BY i DESC) rn
         |          FROM fold) z WHERE rn = 1),
         |mrg(s, st) AS (
         |  SELECT CAST(1 AS BIGINT), st FROM fin WHERE dr = 1
         |  UNION ALL
         |  SELECT m.s + 1,
         |    CASE WHEN len(ms.summed) > $k
         |      THEN list_filter(list_transform(ms.summed,
         |             x -> {'t': x.t, 'c': x.c - ms.kth}), x -> x.c > 0)
         |      ELSE ms.summed END
         |  FROM mrg m JOIN fin f ON f.dr = m.s + 1,
         |  LATERAL (
         |    SELECT summed,
         |           CASE WHEN len(summed) > $k
         |             THEN list_reverse_sort(
         |                    list_transform(summed, x -> x.c))[${k + 1}]
         |             ELSE CAST(0 AS BIGINT) END AS kth
         |    FROM (SELECT list_transform(
         |            list_distinct(list_transform(
         |              list_concat(m.st, f.st), x -> x.t)),
         |            tk -> {'t': tk,
         |                   'c': CAST(list_sum(list_transform(
         |                          list_filter(list_concat(m.st, f.st),
         |                            x -> x.t = tk),
         |                          x -> x.c)) AS BIGINT)}) AS summed) q) ms),
         |fmerged AS (SELECT st FROM (
         |              SELECT st, row_number() OVER (ORDER BY s DESC) rn
         |              FROM mrg) z WHERE rn = 1),
         |n_total AS (SELECT CAST(count(*) AS BIGINT) AS n_stream FROM dw),
         |ex AS (SELECT unnest(st, recursive := true) FROM fmerged)
         |SELECT ex.t AS token, ex.c AS estimate,
         |       (SELECT n_stream FROM n_total) AS n_stream
         |FROM ex ORDER BY token""".stripMargin
    },

    "q38_geo_transform" -> {
      val x = "(CAST(100000000 + (o_orderkey % 100000) * 1000 AS BIGINT) / 1000.0)"
      val y = "(CAST(430000000 + (o_orderkey % 170000) * 1000 AS BIGINT) / 1000.0)"
      s"""SELECT o_orderkey,
         |  'X ' || CAST(100000000 + (o_orderkey % 100000) * 1000 AS VARCHAR) ||
         |  ' Y ' || CAST(430000000 + (o_orderkey % 170000) * 1000 AS VARCHAR) AS coord,
         |  CAST(floor(${Geo.latSql(x, y)} * 1000000.0) AS BIGINT) AS lat_e6,
         |  CAST(floor(${Geo.lonSql(x, y)} * 1000000.0) AS BIGINT) AS lon_e6
         |FROM orders ORDER BY o_orderkey""".stripMargin
    },

    // the governed table after the stream drains: all keys (evens from
    // the base, odds streamed in) with the streamed updates applied
    // and the streamed deletes gone — the key-disjoint op sets make
    // this state batch-order-independent
    "q166_stream_merge_governed" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders)
        |SELECT k, CASE WHEN k % 18 = 0 THEN v + 21 ELSE v END AS v
        |FROM o
        |WHERE NOT (k % 2 = 0 AND k % 13 = 7 AND k % 18 <> 0)
        |ORDER BY k""".stripMargin)
}
