package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ids.Identifiers
import graft.functions.{DateTypes, Paths}
import graft.ops.Relational
import graft.sources.Tables

/** Relational-core queries (SURVEY §2) over the driver testdata, each with
  * a DuckDB oracle. Determinism rules shared by every query here:
  * trailing ORDER BY on a unique key; double sums via decimal(18,2) casts
  * (exact on both engines); timestamps emitted as formatted strings;
  * row_number/count results cast to bigint on both sides.
  */
object RelationalQueries {

  /** Shared q173/q174 lifecycle: two governed sources (orders,
    * customer), a delta-maintained JOIN view between them, and a
    * per-nation ROLLUP view created at the join view's FIRST
    * generation (so q174's refresh walks every join delta). Returns
    * (a, b, joinView, rollup) table names; the mutations run once per
    * dir. */
  private def q173Tables(s: SparkSession, dir: String)
      : (String, String, String, String, String) = {
    val tag = Setup.dirTag(dir)
    val a = s"graft_q173_a_$tag"
    val b = s"graft_q173_b_$tag"
    val view = s"graft_q173_view_$tag"
    val rollup = s"graft_q174_rollup_$tag"
    val jagg = s"graft_q178_jagg_$tag"
    Setup.once(s"q173:$dir") {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100.0).cast("long").as("v"))
      val c = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("cust"),
        col("c_nationkey").cast("long").as("nat"),
        floor(col("c_acctbal") * 100.0).cast("long").as("acct"))
      graft.sources.Bucketed.save(o.filter(col("k") % 2 === 0),
        a, Seq("k"), 8)
      graft.sources.Bucketed.setRetention(s, a, 8)
      graft.sources.Bucketed.save(c, b, Seq("cust"), 8)
      graft.sources.Bucketed.setRetention(s, b, 8)
      graft.ops.Ivm.createJoin(s, a, b, "cust", view, 8,
        aKey = "k", bKey = "cust")
      // the join view is a governed source in its own right: retain
      // its delta history so the rollup view can follow it
      graft.sources.Bucketed.setRetention(s, view, 10)
      graft.ops.Ivm.create(s, view, rollup, 8, "nat", Seq("v"))
      // the SINGLE-view join+agg twin over the same two sources (same
      // initial generations — no commit since createJoin): q178 pins
      // that one maintained view computes what the q173+q174
      // two-table composition computes
      graft.ops.Ivm.createJoinAgg(s, a, b, "cust", jagg, 8, "nat", Seq("v"))
      // side A: append the odd orders, then bump v for k % 9 == 0
      graft.sources.Bucketed.save(o.filter(col("k") % 2 === 1),
        a, Seq("k"), 8, mode = org.apache.spark.sql.SaveMode.Append)
      graft.sources.Bucketed.mergeByKey(s, a,
        o.filter(col("k") % 9 === 0)
          .select(col("k"), col("cust"), (col("v") + 11L).as("v")))
      // side B: delete customers cust % 10 == 3 (their orders leave
      // the view), update acct for cust % 10 == 4 (v-neutral churn —
      // the rollup must absorb the retract+insert without drift)
      graft.sources.Bucketed.mergeByKey(s, b,
        c.filter(col("cust") % 10 === 3)
          .select(col("cust"), col("nat"), col("acct"),
            lit(true).as("del")),
        deleteCol = Some("del"))
      graft.sources.Bucketed.mergeByKey(s, b,
        c.filter(col("cust") % 10 === 4)
          .select(col("cust"), col("nat"), (col("acct") + 7L).as("acct")))
      graft.ops.Ivm.refreshJoin(s, a, b, "cust", view)
      ()
    }
    (a, b, view, rollup, jagg)
  }

  /** The q177/q179 shared fixture: orders/customer governed sources
    * churned on both sides, a LEFT-outer view (q177) and a FULL-outer
    * view + orphans pair (q179) following them. The full view is
    * created at the same initial generations (no commit between the
    * two creates), so its refresh genuinely walks every delta. */
  /** The q158/q187 shared fixture: a retention-5 governed table built
    * from the even-orderkey half (g1), the odd half appended, then
    * the 'R' rows rewritten away (g3) — the CDC span the diff reads,
    * reached by the Scala API (q158) and the SQL TVF (q187). */
  private def q158Table(s: SparkSession, dir: String): String = {
    val tag = Setup.dirTag(dir)
    val name = s"graft_q158_cdc_$tag"
    Setup.once(s"q158:$dir") {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("rf"), col("l_orderkey").as("ok"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("c"))
      graft.sources.Bucketed.save(li.filter(col("ok") % 2 === 0),
        name, Seq("rf"), 4)
      graft.sources.Bucketed.setRetention(s, name, 5)
      graft.sources.Bucketed.save(li.filter(col("ok") % 2 === 1),
        name, Seq("rf"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      graft.sources.Bucketed.rewriteAll(s, name,
        _.filter(col("rf") =!= "R"))
      ()
    }
    name
  }

  /** The q157/q185 shared fixture: a retention-3 governed table built
    * from the even-orderkey half, then the odd half appended — two
    * retained generations for time travel, reached by the Scala API
    * (q157) and by the SQL TVFs (q185). */
  private def q157Table(s: SparkSession, dir: String): String = {
    val tag = Setup.dirTag(dir)
    val name = s"graft_q157_tt_$tag"
    Setup.once(s"q157:$dir") {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("rf"), col("l_orderkey").as("ok"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("c"))
      graft.sources.Bucketed.save(li.filter(col("ok") % 2 === 0),
        name, Seq("rf"), 4)
      graft.sources.Bucketed.setRetention(s, name, 3)
      graft.sources.Bucketed.save(li.filter(col("ok") % 2 === 1),
        name, Seq("rf"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      ()
    }
    name
  }

  private def q177Tables(s: SparkSession, dir: String)
      : (String, String, String, String, String, String, String) = {
    val tag = Setup.dirTag(dir)
    val a = s"graft_q177_a_$tag"
    val b = s"graft_q177_b_$tag"
    val view = s"graft_q177_view_$tag"
    val full = s"graft_q179_full_$tag"
    val jaggL = s"graft_q182_jaggl_$tag"
    val roll = s"graft_q184_roll_$tag"
    val roll2 = s"graft_q189_roll2_$tag"
    Setup.once(s"q177:$dir") {
      // cust % 11 == 5 customers NEVER order (the testdata references
      // every customer, so the B-side null extension must be carved
      // out); cust % 13 == 6 customers lose ALL their orders
      // mid-stream — the 1→0 A-presence transition that turns their
      // B rows into full-view orphans
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("cust"),
        floor(col("o_totalprice") * 100.0).cast("long").as("v"))
        .filter(col("cust") % 11 =!= 5)
      val c = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("cust"),
        col("c_nationkey").cast("long").as("nat"),
        floor(col("c_acctbal") * 100.0).cast("long").as("acct"))
      graft.sources.Bucketed.save(o.filter(col("k") % 2 === 0),
        a, Seq("k"), 8)
      graft.sources.Bucketed.setRetention(s, a, 8)
      graft.sources.Bucketed.save(c.filter(col("cust") % 7 =!= 2),
        b, Seq("cust"), 8)
      graft.sources.Bucketed.setRetention(s, b, 8)
      graft.ops.Ivm.createJoinLeft(s, a, b, "cust", view, 8,
        aKey = "k")
      graft.ops.Ivm.createJoinFull(s, a, b, "cust", full, 8,
        aKey = "k", bKey = "cust")
      // the pair rollup follows the FULL view's two tables from their
      // initial generations — q184's refreshOverFull later walks every
      // merge refreshJoinFull lands on them, so both must retain back
      // to these bookmarks
      graft.sources.Bucketed.setRetention(s, full, 32)
      graft.sources.Bucketed.setRetention(s, s"${full}_orphans", 32)
      graft.ops.Ivm.createOverFull(s, full, roll, 8, "nat", Seq("v"))
      // the N-measure pair rollup beside it: one A-side measure (v —
      // null on orphan rows) and one B-side (acct — null on
      // partnerless orders), so q189 exercises BOTH null-fill
      // directions of the pair walk
      graft.ops.Ivm.createOverFull(s, full, roll2, 8, "nat",
        Seq("v", "acct"))
      // the LEFT-outer join+agg single view over the same initial
      // generations: per-nation rollup of orders LEFT JOIN customer —
      // partnerless orders aggregate under the NULL nation group
      graft.ops.Ivm.createJoinAggLeft(s, a, b, "cust", jaggL, 8,
        "nat", Seq("v"))
      // side A: append the odd orders (customers whose orders are all
      // odd transition 0→1 — their create-time orphans retract), bump
      // v for k % 9 == 0, then delete every order of cust % 13 == 6
      // (the 1→0 transition)
      graft.sources.Bucketed.save(o.filter(col("k") % 2 === 1),
        a, Seq("k"), 8, mode = org.apache.spark.sql.SaveMode.Append)
      graft.sources.Bucketed.mergeByKey(s, a,
        o.filter(col("k") % 9 === 0)
          .select(col("k"), col("cust"), (col("v") + 11L).as("v")))
      graft.sources.Bucketed.mergeByKey(s, a,
        o.filter(col("cust") % 13 === 6)
          .select(col("k"), col("cust"), col("v"), lit(true).as("del")),
        deleteCol = Some("del"))
      // side B: 0→1 (the missing customers arrive), 1→0 (delete),
      // v-neutral attr churn
      graft.sources.Bucketed.save(c.filter(col("cust") % 7 === 2),
        b, Seq("cust"), 8,
        mode = org.apache.spark.sql.SaveMode.Append)
      graft.sources.Bucketed.mergeByKey(s, b,
        c.filter(col("cust") % 10 === 3)
          .select(col("cust"), col("nat"), col("acct"),
            lit(true).as("del")),
        deleteCol = Some("del"))
      graft.sources.Bucketed.mergeByKey(s, b,
        c.filter(col("cust") % 10 === 4)
          .select(col("cust"), col("nat"), (col("acct") + 7L).as("acct")))
      graft.ops.Ivm.refreshJoinLeft(s, a, b, "cust", view)
      ()
    }
    (a, b, view, full, jaggL, roll, roll2)
  }

  /** The q172/q176 shared fixture: an append-ordered governed table
    * (three date-sliced commits) whose file placement correlates with
    * `d` — the layout metadata-first top-k prunes on. */
  private def q172Table(s: SparkSession, dir: String): String = {
    val tag = Setup.dirTag(dir)
    val name = s"graft_q172_topk_$tag"
    Setup.once(s"q172:$dir") {
      val li = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber"))
          .cast("long").as("id"),
        col("l_shipdate").as("d"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("v"))
      graft.sources.Bucketed.save(li.filter(col("d") < "1997-01-01"),
        name, Seq("id"), 4)
      graft.sources.Bucketed.save(
        li.filter(col("d") >= "1997-01-01" && col("d") < "1998-01-01"),
        name, Seq("id"), 4, mode = org.apache.spark.sql.SaveMode.Append)
      graft.sources.Bucketed.save(li.filter(col("d") >= "1998-01-01"),
        name, Seq("id"), 4, mode = org.apache.spark.sql.SaveMode.Append)
      ()
    }
    name
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(s, dir) else Tables.table(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1 — global min/max dates (csv2rdf.py:239-244 archive coverage)
    "q01_minmax_dates" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        date_format(min("o_orderdate"), "yyyy-MM-dd").as("min_date"),
        date_format(max("o_orderdate"), "yyyy-MM-dd").as("max_date"))),

    // J2 — keyed equi-join + aggregate (csv2rdf.py:207-208 DROID lookup)
    "q02_join_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // J4/F8 — manifest diff: new-or-changed left-join filter
    // (tools/sip2localstorage.py:76-94, razu/edepot.py:87-106)
    "q03_changed_or_new" -> ((s, dir) =>
      Relational.changedOrNew(
          t(s, dir, "orders"), t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"),
          curHash = col("o_totalprice"), refHash = when(col("c_acctbal") >= 0, col("o_totalprice")))
        .select("o_orderkey", "o_custkey").orderBy("o_orderkey")),

    // F9/J5 — skip-if-exists anti-join (razu/edepot.py:137-142)
    "q04_anti_join" -> ((s, dir) =>
      Relational.antiJoin(t(s, dir, "customer"), t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"))
        .select("c_custkey").orderBy("c_custkey")),

    // F3/J6 — has-referenced semi-join (razu/meta_resource.py:104-106)
    "q05_semi_join" -> ((s, dir) =>
      Relational.semiJoin(t(s, dir, "part"), t(s, dir, "lineitem"),
          col("p_partkey") === col("l_partkey"))
        .select("p_partkey", "p_name").orderBy("p_partkey")),

    // T1 — set difference (logs/compare_manifest_to_s3.py:13-25)
    "q06_except" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_partkey").as("part_key")).distinct()
        .except(t(s, dir, "part").filter(col("p_size") < 30)
          .select(col("p_partkey").as("part_key")))
        .orderBy("part_key")),

    // T3 — full-outer manifest reconciliation (razu/manifest.py:185-221)
    "q07_reconcile" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val a = part.filter(pmod(col("p_partkey"), lit(11)) =!= 0)
        .select(col("p_partkey").as("part_key"),
          md5(col("p_name").cast("binary")).as("hash_a"))
      val b = part.filter(pmod(col("p_partkey"), lit(7)) =!= 0)
        .select(col("p_partkey").as("part_key"),
          md5(when(pmod(col("p_partkey"), lit(5)) === 0, upper(col("p_name")))
            .otherwise(col("p_name")).cast("binary")).as("hash_b"))
      Relational.reconcile(a, b, "part_key", col("hash_a"), col("hash_b"))
        .select("part_key", "status").orderBy("part_key")
    }),

    // W1 — ordered group-break detection (csv2rdf.py:90-114 serie breaks)
    "q08_group_breaks" -> ((s, dir) =>
      Relational.groupBreaks(t(s, dir, "events"),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("event_type"))
        .filter(col("is_break"))
        .groupBy("user_id").agg(count(lit(1)).as("n_breaks"))
        .orderBy("user_id")),

    // W2 — deterministic sequential id assignment (razu/incrementer.py:1-11)
    "q09_seq_ids" -> ((s, dir) =>
      Relational.sequentialIds(t(s, dir, "orders"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select("o_orderkey", "seq_id").orderBy("o_orderkey")),

    // O3 — first match / LIMIT 1 (razu/concept_resolver.py:99)
    "q10_first_match" -> ((s, dir) =>
      t(s, dir, "orders").orderBy("o_orderdate", "o_orderkey").limit(1)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))),

    // A2 — max numeric event id via regexp (preservation_events.py:34-38)
    "q11_max_event_id" -> ((s, dir) =>
      t(s, dir, "events")
        .select(concat(lit("https://data.razu.nl/id/event/NL-WbDRAZU-G0321-661-e"),
          col("event_id").cast("string")).as("subject"))
        .agg(max(regexp_extract(col("subject"), "-e(\\d+)$", 1).cast("long"))
          .as("max_event_id"))),

    // A7 — deduplicated set (rdflib Graph set semantics)
    "q12_distinct" -> ((s, dir) =>
      Relational.distinctRows(
          t(s, dir, "lineitem").select("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus")),

    // A6 — set accumulation (razu/meta_resource.py:221-222)
    "q13_collect_set" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus"))))
          .as("statuses"))
        .orderBy("l_returnflag")),

    // D1 — date_type dispatch (razu/util.py:9-30) over mixed-format strings
    "q14_date_type" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val ds = when(pmod(col("o_orderkey"), lit(4)) === 0,
          date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(pmod(col("o_orderkey"), lit(4)) === 1,
          date_format(col("o_orderdate"), "yyyy"))
        .when(pmod(col("o_orderkey"), lit(4)) === 2,
          concat(dayofmonth(col("o_orderdate")).cast("string"), lit("-"),
            month(col("o_orderdate")).cast("string"), lit("-"),
            year(col("o_orderdate")).cast("string")))
        .otherwise(concat(lit("not-a-date-"), col("o_orderkey").cast("string")))
      o.withColumn("datestring", ds)
        .select(col("o_orderkey"), col("datestring"),
          DateTypes.dateValueCol(col("datestring")).as("value"),
          coalesce(DateTypes.dateDatatypeCol(col("datestring")), lit(""))
            .as("datatype"))
        .orderBy("o_orderkey")
    }),

    // STR1/STR2/STR3 — id algebra: uid/uri/filename/storage-path + inverse
    // (razu/identifiers.py:11-121)
    "q15_id_algebra" -> ((s, dir) => {
      val ids = Identifiers.default
      t(s, dir, "orders").select(
          col("o_orderkey"),
          ids.uidCol(col("o_orderkey")).as("uid"),
          ids.uriCol(col("o_orderkey")).as("uri"),
          ids.filenameCol(col("o_orderkey")).as("filename"),
          ids.storagePathCol(col("o_orderkey")).as("storage_path"))
        .withColumn("extracted_id", ids.extractIdCol(col("filename")))
        .orderBy("o_orderkey")
    }),

    // A5 — least of two timestamps (razu/sip.py:79-81)
    "q16_least" -> ((s, dir) => {
      val sentinel = lit("9999-01-01").cast("timestamp")
      t(s, dir, "events").groupBy("user_id")
        .agg(min(when(col("event_type") === "click", col("ts"))).as("c"),
          min(when(col("event_type") === "view", col("ts"))).as("v"))
        .select(col("user_id"),
          date_format(least(coalesce(col("c"), sentinel), coalesce(col("v"), sentinel)),
            "yyyy-MM-dd HH:mm:ss").as("first_ts"))
        .orderBy("user_id")
    }),

    // M2/MA2 — null-fill + safe int cast (csv2rdf.py:56) over JSON props
    "q17_null_fill" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          coalesce(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"),
            lit(0L)).as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")),

    // JS1 — typed JSON parsing of the props column with native from_json
    // (schema-directed, codegen-friendly — the structured counterpart of
    // q17's regex extraction; razu/manifest.py JSON (de)serialization)
    "q85_json_extract" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      // LongType, matching the oracle's BIGINT cast: an IntegerType
      // schema would null out k values beyond 32 bits while DuckDB
      // still extracts them, silently diverging if the generator ever
      // emits large k
      val schema = StructType(Seq(StructField("k", LongType)))
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"), schema).getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_k"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).cast("long").as("min_k"),
          max(col("k")).cast("long").as("max_k"))
        .orderBy("event_type")
    }),

    // STR7 — string split + explode (razu/rdf_resource.py:72-77)
    "q18_split_explode" -> ((s, dir) =>
      t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word")),

    // MA1/STR2 — div/mod storage bucketing (razu/identifiers.py:79-86)
    "q19_bucket_count" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(Identifiers.default.storagePathCol(col("o_orderkey")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // Pivot (event-type counts to columns, per user): Spark's native
    // RelationalGroupedDataset.pivot with an explicit value list — the
    // explicit list keeps the plan a single pass (no extra
    // distinct-values job) and pins column order for the oracle
    "q62_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")),

    // Rollup (order counts at (status, priority), (status), ()): grand
    // totals and subtotals in one pass — grouping-set semantics with
    // NULL markers replaced so the hash compare is engine-stable
    "q63_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("sum_price"))
        .orderBy("status", "priority")),

    // SCD2 history build: fold the per-(customer, date) order-priority
    // change stream into validity intervals — one hash exchange on the
    // business key, both windows reuse it. Dates formatted as strings
    // (null valid_to = current version survives formatting as null)
    "q69_scd2" -> ((s, dir) => {
      val ch = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max_by(col("o_orderpriority"), col("o_orderkey"))
          .as("o_orderpriority"))
      Relational.scd2History(ch, Seq("o_custkey"), "o_orderdate",
          Seq("o_orderpriority"))
        .withColumn("valid_from", date_format(col("valid_from"), "yyyy-MM-dd"))
        .withColumn("valid_to", date_format(col("valid_to"), "yyyy-MM-dd"))
        .orderBy("o_custkey", "valid_from")
    }),

    // Integer-quantized PageRank over the supplier->part shipment graph,
    // 2 rounds: each round is one equi-join + one partial-agg shuffle on
    // dst — bit-exact integer math, so the SQL oracle unrolls the same
    // two rounds and hash-matches
    "q70_pagerank" -> ((s, dir) =>
      graft.ops.Graph.pageRank(
          t(s, dir, "lineitem")
            .select(col("l_suppkey").as("src"), col("l_partkey").as("dst")),
          iterations = 2)
        .orderBy("node")),

    // Triangle counting with degree-based edge orientation (out-degree
    // ≤ O(√m) regardless of hub size — the skew bound that makes the
    // wedge self-join scale). Unipartite synthetic graph: suppliers ∪
    // (partkey mod 1000) on a 1/37 order slice; the oracle replays
    // orient → wedge → close relationally
    "q96_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangleCount(
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 37 === 0)
          .select(col("l_suppkey").as("src"),
            (col("l_partkey") % 1000 + 1).as("dst")))),

    // Z-order layout key: 16-bit quantized (partkey, suppkey) Morton
    // interleave — the data-skipping cluster key; domain stats ride the
    // plan as a broadcast 1-row aggregate (no eager job), the key is
    // map-only bigint arithmetic the oracle replicates bit-for-bit
    "q72_zorder" -> ((s, dir) =>
      graft.ops.Layout.zorder(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          "l_partkey", "l_suppkey")
        .select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"), col("zorder"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Time-series resample: per-user hourly grid with forward fill —
    // last-in-bucket via keyed row_number, executor-side sequence()
    // grid, running last(ignoreNulls) fill. Values ride as decimal so
    // carried strings are engine-exact
    "q73_resample" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").cast("decimal(18,2)").as("value"))
      Relational.resampleFfill(e, Seq("user_id"), "ts", 3600L, "value",
          tieBreak = Seq("event_id"))
        // hash surface: DOUBLE, not DECIMAL — leading-null decimals
        // before a key's first observation hash engine-specifically;
        // doubles (exact for 2-dp decimals in range) do not
        .withColumn("value", col("value").cast("double"))
        .orderBy("user_id", "bucket_us")
    }),

    // Cube (all 4 grouping sets over status x priority): completes the
    // grouping-set family next to q62 pivot / q63 rollup
    "q74_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("sum_price"))
        .orderBy("status", "priority")),

    // Key-skew profile: exact top-N heavy keys + integer-exact share —
    // the pre-flight that decides salting/broadcast before a 100 TB
    // join; only topN rows ever leave the aggregation
    "q75_key_skew" -> ((s, dir) =>
      graft.ops.Profile.keySkew(
          t(s, dir, "lineitem"), Seq("l_suppkey"), topN = 25)
        .orderBy(col("n").desc, col("l_suppkey").asc)),

    // Patch-style upsert (MERGE): updates win on key match, null update
    // fields inherit base, unmatched rows from BOTH sides survive —
    // one full-outer join, replicated exactly by the oracle
    "q76_merge_upsert" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_orderstatus")
      val base = o.filter(col("o_orderkey") % 3 =!= 0)
      val updates = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit("0-PATCHED").as("o_orderpriority"),
          // null field: PATCH semantics keep the base status
          lit(null).cast("string").as("o_orderstatus"))
      Relational.upsert(base, updates, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // HLL distinct-count sketch per group (SURVEY §2 extension target:
    // approx_count_distinct for 100 TB dedup stats). Deterministic for
    // fixed input+rsd but not cross-engine hash-comparable -> rows-only
    // for the driver; ProfileSpec gates accuracy vs exact counts
    "q78_approx_distinct" -> ((s, dir) =>
      graft.ops.Profile.approxDistinct(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_partkey")
        .orderBy("l_returnflag")),

    // EXACT global quantiles WITHOUT a global sort: iterative bucket
    // selection (<= 4 counting rounds at 2^16 buckets, counts only on
    // the wire) — the selection-vs-sort trade q51's windowed per-group
    // form cannot make; the oracle runs the full-sort formulation and
    // must agree exactly
    "q126_exact_quantiles" -> ((s, dir) =>
      graft.ops.Quantiles.quantiles(
          t(s, dir, "lineitem").select(
            floor(col("l_extendedprice") * 100.0).cast("long").as("cents")),
          "cents", Seq(0.5, 0.9, 0.99))
        .orderBy("q_e4")),

    // q78's hash-checked companion: KMV distinct-count over the
    // PORTABLE polynomial hash (HLL++ words are engine-internal; the
    // k-minimum-values order statistic is plain integer SQL both
    // engines replay exactly, hash collisions and all)
    "q119_kmv_distinct" -> ((s, dir) =>
      graft.ops.Profile.kmvDistinct(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_partkey", k = 256)
        .orderBy("l_returnflag")),

    // Top-k per group: top-3 parts by integer-exact revenue per
    // supplier — the per-stratum ranking shape (window partitioned by
    // the group, never a global sort)
    "q79_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("rev_cents").desc, col("l_partkey").asc)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * lit(100.0)).cast("long").as("rev_cents"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum("rev_cents").as("rev_cents"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy("l_suppkey", "rk")
    }),

    // STR4/5/6/8 — path normalization + extension ops (razu/util.py:32-153)
    "q20_path_ops" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val path = concat(lit("C:\\data\\bestanden\\"), col("p_brand"),
        lit("\\file_"), col("p_partkey").cast("string"), lit(".tar.gz"))
      p.select(col("p_partkey"), path.as("raw_path"))
        .withColumn("norm", Paths.normalizePathCol(col("raw_path")))
        .withColumn("base", Paths.basenameCol(col("norm")))
        .select(col("p_partkey"), col("norm"), col("base"),
          Paths.fullExtensionCol(col("base")).as("ext"),
          Paths.filenameWithoutExtensionsCol(col("base")).as("stem"))
        .orderBy("p_partkey")
    }),

    // Ordered funnel (view -> click -> purchase): one events scan, one
    // user-key shuffle, compiled per-user state machine — vs the
    // oracle's one-join-per-step formulation (strict-after semantics
    // pinned identically)
    "q110_funnel" -> ((s, dir) =>
      graft.ops.Funnel.analyze(t(s, dir, "events"),
          steps = Seq("view", "click", "purchase"))
        .orderBy("user_id", "step")),

    // Cohort retention (first-activity cohorts, day-offset activity):
    // two partial aggs + one co-partitioned join on the user key
    "q111_retention" -> ((s, dir) =>
      graft.ops.Funnel.retention(t(s, dir, "events"), maxDays = 7)
        .withColumn("cohort_date",
          date_format(col("cohort_date"), "yyyy-MM-dd"))
        .orderBy("cohort_date", "day_offset")),

    // Rolling trailing-window features (1h + 24h) per user: RANGE
    // frames on unix micros, one exchange+sort for both windows,
    // decimal-exact sums
    "q112_rolling_features" -> ((s, dir) =>
      graft.ops.Relational.rollingWindowFeatures(t(s, dir, "events"),
          windows = Seq("1h" -> 3600000000L, "24h" -> 86400000000L))
        .orderBy("event_id")),

    // Incremental materialized aggregate — the fifth index family:
    // per-part revenue rollup built from one third of lineitem, then
    // two exactly-once tagged appends + a forced consolidation; serve
    // merges O(groups) partial rows, never re-reading lineitem. The
    // oracle is the index-transparent truth: one plain GROUP BY over
    // the whole table (the view must be indistinguishable from
    // recomputation)
    "q154_incremental_agg" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q154_agg_$tag"
      val li = t(s, dir, "lineitem").select(
        col("l_partkey").as("g"), col("l_orderkey"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("v"))
      Setup.once(s"q154:$dir") {
        graft.ops.IncrementalAgg.buildIndex(
          li.filter(col("l_orderkey") % 3 === 0), name, buckets = 8,
          "g", Seq("v"))
        graft.ops.IncrementalAgg.append(
          li.filter(col("l_orderkey") % 3 === 1), name, 8, "g", Seq("v"), "b1")
        graft.ops.IncrementalAgg.append(
          li.filter(col("l_orderkey") % 3 === 2), name, 8, "g", Seq("v"), "b2")
        graft.ops.IncrementalAgg.consolidate(s, name, maxFilesPerBucket = 1)
        ()
      }
      graft.ops.IncrementalAgg.serve(s, name).orderBy("g")
    }),

    // Retraction + content-derived group repair on the aggregate
    // index: a tagged retraction keeps count/sum/avg exact at O(batch)
    // (min/max degrade to null — honest, never stale), then
    // repairGroups rewrites ONLY the retracted groups' buckets from
    // the surviving raw rows, restoring exact min/max. The oracle is
    // the GROUP BY over the survivors
    "q155_agg_retract_repair" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q155_agg_$tag"
      val li = t(s, dir, "lineitem").select(
        col("l_partkey").as("g"), col("l_orderkey"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("v"))
      val gonePred = col("g") % 37 === 0 && col("l_orderkey") % 5 === 0
      Setup.once(s"q155:$dir") {
        graft.ops.IncrementalAgg.buildIndex(li, name, buckets = 8,
          "g", Seq("v"))
        val gone = li.filter(gonePred)
        graft.ops.IncrementalAgg.retract(gone, name, 8, "g", Seq("v"), "d0")
        graft.ops.IncrementalAgg.repairGroups(s, name, 8,
          li.filter(!gonePred), "g", Seq("v"), gone.select("g"))
        ()
      }
      graft.ops.IncrementalAgg.serve(s, name).orderBy("g")
    }),

    // Incremental per-group approx COUNT DISTINCT: the durable KMV
    // sketch index — distinct orders per supplier, built from one
    // third of lineitem then merged forward by two exactly-once
    // appends + consolidation; serve reads O(k) hashes per group,
    // never the corpus. KMV's k-min merge is LOSSLESS, so the oracle
    // replays the one-shot sketch over the FULL table (q119's
    // portable-hash order statistic, k=64) and must match bit for bit
    "q156_incremental_distinct" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q156_kmv_$tag"
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey").as("g"), col("l_orderkey").as("v"))
      Setup.once(s"q156:$dir") {
        graft.ops.IncrementalDistinct.buildIndex(
          li.filter(col("v") % 3 === 0), name, buckets = 8, "g", "v",
          k = 64)
        graft.ops.IncrementalDistinct.append(
          li.filter(col("v") % 3 === 1), name, 8, "g", "v", 64, "b1")
        graft.ops.IncrementalDistinct.append(
          li.filter(col("v") % 3 === 2), name, 8, "g", "v", 64, "b2")
        graft.ops.IncrementalDistinct.consolidate(s, name, k = 64,
          maxFilesPerBucket = 1)
        ()
      }
      graft.ops.IncrementalDistinct.serve(s, name, k = 64).orderBy("g")
    }),

    // Generation time travel on the bucketed contract: a table built
    // from the even-orderkey half, retention enabled, then one append
    // with the odd half — the query aggregates BOTH the earliest
    // retained snapshot (loadAsOf: explicit manifest-resolved file
    // list, stable under later commits) and the head, proving the
    // snapshot is the exact pre-append state. The oracle recomputes
    // the two states from the raw splits
    "q157_time_travel" -> ((s, dir) => {
      val name = q157Table(s, dir)
      val gens = graft.sources.Bucketed.generations(s, name)
      def agg(df: DataFrame, label: String) = df.groupBy("rf")
        .agg(sum("c").as("sum_q"), count(lit(1)).as("n"))
        .withColumn("snapshot", lit(label))
      agg(graft.sources.Bucketed.loadAsOf(s, name, gens.head), "g1")
        .unionByName(agg(graft.sources.Bucketed.load(s, name), "head"))
        .select("snapshot", "rf", "sum_q", "n")
        .orderBy("snapshot", "rf")
    }),

    // Change-data read between retained generations: build from the
    // even-orderkey half (g1), append the odd half, then rewrite away
    // the 'R' rows (g3) — diffGenerations(g1, g3) emits the row-level
    // delta from ONLY the files the two manifests disagree on (shared
    // files are provably unchanged and never read). The oracle
    // recomputes the multiset delta from the raw predicates: inserts =
    // odd ∧ not-R, deletes = even ∧ R
    "q158_generation_diff" -> ((s, dir) => {
      val name = q158Table(s, dir)
      val gens = graft.sources.Bucketed.generations(s, name)
      graft.sources.Bucketed.diffGenerations(s, name, gens.head, gens.last)
        .select("change", "rf", "ok", "c")
        .orderBy("change", "ok", "rf", "c")
    }),

    // Incremental per-group quantile estimates: the durable
    // bottom-64-by-portable-hash sample (q135's sketch) merged forward
    // by exactly-once tagged appends + consolidation — price quantiles
    // per returnflag served from O(k) sample rows per group, the
    // corpus never re-read. Bottom-k merge is lossless, so the oracle
    // replays the ONE-SHOT sketch over the full table and must match
    // bit for bit
    "q159_incremental_quantiles" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q159_qsk_$tag"
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
        col("l_orderkey").as("ok"),
        floor(col("l_extendedprice") * 100.0).cast("long").as("v"))
      Setup.once(s"q159:$dir") {
        graft.ops.IncrementalQuantiles.buildIndex(
          li.filter(col("ok") % 3 === 0), name, buckets = 4,
          "g", "id", "v", k = 64)
        graft.ops.IncrementalQuantiles.append(
          li.filter(col("ok") % 3 === 1), name, 4, "g", "id", "v", 64, "b1")
        graft.ops.IncrementalQuantiles.append(
          li.filter(col("ok") % 3 === 2), name, 4, "g", "id", "v", 64, "b2")
        graft.ops.IncrementalQuantiles.consolidate(s, name, k = 64,
          maxFilesPerBucket = 1)
        ()
      }
      graft.ops.IncrementalQuantiles.serve(s, name,
          qs = Seq(0.25, 0.5, 0.9), k = 64)
        .orderBy("g", "q_e4")
    }),

    // Keyed MERGE on the bucketed contract: one atomic delete-then-
    // insert generation whose cost is bounded to the buckets the
    // update keys hash to (pmod(hash(k), n) from the update side
    // alone — the table is never scanned to find the work). The batch
    // upserts existing keys, inserts new ones, and deletes flagged
    // ones at once; the oracle recomputes latest-wins from the raw
    // predicates
    "q160_merge_upsert" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q160_merge_$tag"
      Setup.once(s"q160:$dir") {
        val ord = t(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          floor(col("o_totalprice") * 100.0).cast("long").as("v"))
        graft.sources.Bucketed.save(ord.filter(col("k") % 3 =!= 2),
          name, Seq("k"), 8)
        val updates = ord.filter(col("k") % 5 === 0).select(
          col("k"), (col("v") + 7L).as("v"),
          (col("k") % 7 === 3).as("del"))
        graft.sources.Bucketed.mergeByKey(s, name, updates,
          deleteCol = Some("del"))
        ()
      }
      graft.sources.Bucketed.load(s, name).select("k", "v").orderBy("k")
    }),

    // Incremental table replication: the source commits an append, a
    // keyed merge update, and a keyed merge delete; each consecutive
    // generation pair's diffGenerations delta (O(changed files), never
    // O(table)) is shipped to a replica via applyChanges — after the
    // last diff the replica must equal the source head bit for bit.
    // The oracle recomputes the source's final state from the raw
    // predicates, so replica drift anywhere in the
    // produce→ship→apply chain fails the hash
    "q161_cdc_replicate" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val src = s"graft_q161_src_$tag"
      val dst = s"graft_q161_dst_$tag"
      Setup.once(s"q161:$dir") {
        val li = t(s, dir, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber"))
            .cast("long").as("id"),
          col("l_orderkey").cast("long").as("ok"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("v"))
        graft.sources.Bucketed.save(
          li.filter(col("ok") % 2 === 0).drop("ok"), src, Seq("id"), 8)
        graft.sources.Bucketed.setRetention(s, src, 6)
        val g0 = graft.sources.Bucketed.currentGeneration(s, src)
        graft.sources.Bucketed.save(
          graft.sources.Bucketed.loadAsOf(s, src, g0), dst, Seq("id"), 8)
        graft.sources.Bucketed.save(
          li.filter(col("ok") % 2 === 1).drop("ok"), src, Seq("id"), 8,
          mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, src,
          li.filter(col("id") % 11 === 0)
            .select(col("id"), (col("v") + 5000L).as("v")))
        graft.sources.Bucketed.mergeByKey(s, src,
          li.filter(col("id") % 13 === 2)
            .select(col("id"), col("v"), lit(true).as("del")),
          deleteCol = Some("del"))
        val gens = graft.sources.Bucketed.generations(s, src)
          .dropWhile(_ < g0)
        gens.sliding(2).foreach { case Seq(from, to) =>
          graft.sources.Bucketed.applyChanges(s, dst,
            graft.sources.Bucketed.diffGenerations(s, src, from, to))
        }
        ()
      }
      graft.sources.Bucketed.load(s, dst).select("id", "v").orderBy("id")
    }),

    // File-level data skipping: three time-ordered appends (each
    // commit's files cover one shipdate slice), then a range read that
    // prunes the non-matching slices' files from parquet FOOTER
    // min/max before Spark plans the scan — no data pages of the
    // pruned files are touched, and the driver proves pruning happened
    // (pruned_any) while the oracle proves the pruned read returns
    // exactly the full-scan rows
    "q162_stat_pruned_scan" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q162_skip_$tag"
      Setup.once(s"q162:$dir") {
        val li = t(s, dir, "lineitem").select(
          col("l_orderkey").cast("long").as("k"),
          col("l_shipdate").as("d"),
          col("l_returnflag").as("rf"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("v"))
        graft.sources.Bucketed.save(li.filter(col("d") < "1997-01-01"),
          name, Seq("k"), 4)
        graft.sources.Bucketed.save(
          li.filter(col("d") >= "1997-01-01" && col("d") < "1998-01-01"),
          name, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.save(li.filter(col("d") >= "1998-01-01"),
          name, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
        ()
      }
      val lo = java.time.Instant.parse("1998-06-01T00:00:00Z")
      val hi = java.time.Instant.parse("1998-12-31T00:00:00Z")
      val (_, pruned) =
        graft.sources.FileStats.splitFiles(s, name, "d", lo, hi)
      graft.sources.FileStats.loadBetween(s, name, "d", lo, hi)
        .groupBy("rf")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
        .withColumn("pruned_any", lit(pruned.nonEmpty))
        .orderBy("rf")
    }),

    // Resumable replication: bootstrap bookmarks the snapshot, each
    // sync ships ONE net diff (bookmark → head, reading only the files
    // the two end manifests disagree on) and advances the durable
    // bookmark — two syncs across two change sets, and the replica
    // must equal the recomputed source head bit for bit
    "q163_replica_sync" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val src = s"graft_q163_src_$tag"
      val dst = s"graft_q163_dst_$tag"
      Setup.once(s"q163:$dir") {
        val o = t(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          floor(col("o_totalprice") * 100.0).cast("long").as("v"))
        graft.sources.Bucketed.save(o.filter(col("k") % 2 === 0),
          src, Seq("k"), 8)
        graft.sources.Bucketed.setRetention(s, src, 8)
        graft.sources.Replication.bootstrap(s, src, dst, buckets = 8)
        graft.sources.Bucketed.save(o.filter(col("k") % 2 === 1),
          src, Seq("k"), 8, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, src,
          o.filter(col("k") % 9 === 0)
            .select(col("k"), (col("v") + 11L).as("v")))
        graft.sources.Replication.sync(s, src, dst)
        graft.sources.Bucketed.mergeByKey(s, src,
          o.filter(col("k") % 17 === 5)
            .select(col("k"), col("v"), lit(true).as("del")),
          deleteCol = Some("del"))
        graft.sources.Replication.sync(s, src, dst)
        ()
      }
      graft.sources.Bucketed.load(s, dst).select("k", "v").orderBy("k")
    }),

    // Z-order clustering × file skipping: lineitem written through the
    // Morton layout (each file a compact z-square), then range reads
    // over EACH dimension served through footer-stat pruning — the
    // pruned aggregates must equal the plain full-scan filters (the
    // layout changes the files read, never the rows returned)
    "q164_zorder_pruned" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q164_zp_$tag"
      Setup.once(s"q164:$dir") {
        graft.ops.Layout.saveClustered(
          t(s, dir, "lineitem").select(
            floor(col("l_extendedprice") * 100.0).cast("long").as("v"),
            col("l_partkey").cast("long").as("p")),
          name, "v", "p", numFiles = 12)
        ()
      }
      val byV = graft.sources.FileStats
        .loadBetween(s, name, "v", 1000000L, 2000000L)
        .agg(count(lit(1)).as("n"), sum("p").as("s"))
        .withColumn("dim", lit("v"))
      val byP = graft.sources.FileStats
        .loadBetween(s, name, "p", 10L, 50L)
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .withColumn("dim", lit("p"))
      // conjunctive 2-D box: kept files = intersection of the two
      // ranges' kept sets — the layout's whole point
      val byBox = graft.sources.FileStats
        .loadWhere(s, name,
          Seq(("v", 1000000L, 2000000L), ("p", 10L, 50L)))
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .withColumn("dim", lit("b"))
      byV.unionByName(byP).unionByName(byBox)
        .select("dim", "n", "s").orderBy("dim")
    }),

    // Schema evolution: addColumn touches no data file (old rows
    // null-fill on read), the next append carries the column, and a
    // keyed merge backfills a subset — the oracle recomputes the
    // evolved state with CASE over the raw predicates, so null-fill,
    // append, and backfill must all compose exactly
    "q165_schema_evolution" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q165_evo_$tag"
      Setup.once(s"q165:$dir") {
        val o = t(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          floor(col("o_totalprice") * 100.0).cast("long").as("v"))
        graft.sources.Bucketed.save(o.filter(col("k") % 2 === 0),
          name, Seq("k"), 8)
        graft.sources.Bucketed.addColumn(s, name, "note", "STRING")
        graft.sources.Bucketed.save(
          o.filter(col("k") % 2 === 1).withColumn("note",
            concat(lit("n"), (col("k") % 10).cast("string"))),
          name, Seq("k"), 8, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, name,
          o.filter(col("k") % 7 === 0).select(
            col("k"), (col("v") + 3L).as("v"), lit("m").as("note")))
        ()
      }
      graft.sources.Bucketed.load(s, name)
        .select("k", "v", "note").orderBy("k")
    }),

    // Bloom-filter file skipping: equality lookup on a
    // high-cardinality UNCLUSTERED md5 column, where min/max prunes
    // nothing (every file spans the whole hex range) — the parquet
    // blooms written through Bucketed.save's writeOptions prune to
    // (nearly) the files actually holding the value; bloom_pruned
    // pins that skipping happened, the oracle pins exactness
    "q167_bloom_lookup" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q167_bloom_$tag"
      Setup.once(s"q167:$dir") {
        val o = t(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          md5(concat(lit("u"), col("o_orderkey").cast("string"))).as("u"))
        val opts = Map(
          "parquet.bloom.filter.enabled#u" -> "true",
          "parquet.bloom.filter.expected.ndv#u" -> "200000")
        graft.sources.Bucketed.save(o.filter(col("k") % 3 === 0),
          name, Seq("k"), 4, writeOptions = opts)
        graft.sources.Bucketed.save(o.filter(col("k") % 3 === 1),
          name, Seq("k"), 4,
          mode = org.apache.spark.sql.SaveMode.Append, writeOptions = opts)
        graft.sources.Bucketed.save(o.filter(col("k") % 3 === 2),
          name, Seq("k"), 4,
          mode = org.apache.spark.sql.SaveMode.Append, writeOptions = opts)
        ()
      }
      val minK = t(s, dir, "orders")
        .agg(min(col("o_orderkey").cast("long"))).head().getLong(0)
      val needle = s.range(1)
        .select(md5(concat(lit("u"), lit(minK).cast("string"))))
        .head().getString(0)
      val (_, pruned) =
        graft.sources.FileStats.splitFilesEquals(s, name, "u", needle)
      graft.sources.FileStats.loadEquals(s, name, "u", needle)
        .select("k", "u")
        .withColumn("bloom_pruned", lit(pruned.nonEmpty))
        .orderBy("k")
    }),

    // Metadata-only range COUNT: files provably fully inside the range
    // answer from their footer row/null counts (no data read), pruned
    // files contribute zero, and only the range-boundary files scan —
    // a wide time-range count on an append-ordered table costs two
    // boundary files plus driver arithmetic, whatever the table size.
    // covered_any pins that metadata actually answered; the oracle
    // pins the count is exactly the full scan's
    "q168_metadata_count" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q168_cnt_$tag"
      Setup.once(s"q168:$dir") {
        val li = t(s, dir, "lineitem").select(
          col("l_orderkey").cast("long").as("k"),
          col("l_shipdate").as("d"))
        graft.sources.Bucketed.save(li.filter(col("d") < "1997-01-01"),
          name, Seq("k"), 4)
        graft.sources.Bucketed.save(
          li.filter(col("d") >= "1997-01-01" && col("d") < "1998-01-01"),
          name, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.save(li.filter(col("d") >= "1998-01-01"),
          name, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
        ()
      }
      val r = graft.sources.FileStats.countWhere(s, name, "d",
        java.time.Instant.parse("1996-06-01T00:00:00Z"),
        java.time.Instant.parse("1998-06-30T00:00:00Z"))
      s.range(1).select(lit(r.count).as("n"),
        lit(r.coveredFiles > 0).as("covered_any"))
    }),

    // Metadata-first range MIN/MAX over the same append-ordered table
    // shape: fully-covered files prove their extrema from footers, and
    // only boundary files whose span could beat the proven bounds are
    // scanned — the oracle pins exact agreement with the full scan
    "q169_metadata_minmax" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val name = s"graft_q169_mm_$tag"
      Setup.once(s"q169:$dir") {
        val li = t(s, dir, "lineitem").select(
          col("l_orderkey").cast("long").as("k"),
          col("l_shipdate").as("d"))
        graft.sources.Bucketed.save(li.filter(col("d") < "1997-01-01"),
          name, Seq("k"), 4)
        graft.sources.Bucketed.save(
          li.filter(col("d") >= "1997-01-01" && col("d") < "1998-01-01"),
          name, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.save(li.filter(col("d") >= "1998-01-01"),
          name, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
        ()
      }
      val (mn, mx) = graft.sources.FileStats.minMaxWhere(s, name, "d",
        java.time.Instant.parse("1996-06-01T00:00:00Z"),
        java.time.Instant.parse("1998-06-30T00:00:00Z"))
      s.range(1).select(lit(mn.get).cast("timestamp").as("min_d"),
        lit(mx.get).cast("timestamp").as("max_d"))
    }),

    // Metadata-first TOP-K (ORDER BY d DESC LIMIT k) over the same
    // append-ordered table shape: files are visited in footer-max
    // order and the scan stops once the running k-th value strictly
    // beats every unvisited file's max — the older appends' files are
    // never read (pruned_any pins it), and the oracle pins the result
    // is exactly the global top-k with a deterministic tiebreaker
    "q172_metadata_topk" -> ((s, dir) => {
      val name = q172Table(s, dir)
      val r = graft.sources.FileStats.topK(s, name, "d", k = 12,
        tieCols = Seq("id"))
      r.rows.select(col("id"), col("d"), col("v"))
        .withColumn("pruned_any", lit(r.scannedFiles < r.totalFiles))
    }),

    // the full retrieval shape WHERE d BETWEEN … ORDER BY d ASC
    // LIMIT k served metadata-first: files the range's footer stats
    // prove matchless never enter the visit (range_pruned pins it —
    // the pre-1997 append is out of the candidate set entirely), the
    // ascending boundary visit stops before the 1998 append's files
    // once the k-th value beats their footer mins (pruned_any), and
    // the rows are exactly the filtered sort's (the oracle)
    "q176_filtered_topk" -> ((s, dir) => {
      val name = q172Table(s, dir)
      val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-06-30 00:00:00")
      val r = graft.sources.FileStats.topK(s, name, "d", k = 12,
        tieCols = Seq("id"), ascending = true,
        range = Some(("d", lo, hi)))
      val headFiles = graft.sources.Bucketed.load(s, name)
        .inputFiles.length
      r.rows.select(col("id"), col("d"), col("v"))
        .withColumn("pruned_any", lit(r.scannedFiles < r.totalFiles))
        .withColumn("range_pruned", lit(r.totalFiles < headFiles))
    }),

    // COMMIT HISTORY (the DESCRIBE HISTORY primitive): a governed
    // table replays create → append → merge(delete) → compact, and the
    // audit sidecar must name each generation's op with the right file
    // deltas while time travel confirms each generation's row count —
    // the oracle recomputes the counts from the raw predicates and
    // pins the op/delta sequence (timestamps are wall-clock and
    // deliberately excluded)
    "q175_commit_history" -> ((s, dir) => {
      import s.implicits._
      val tag = Setup.dirTag(dir)
      val name = s"graft_q175_hist_$tag"
      Setup.once(s"q175:$dir") {
        val o = t(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          floor(col("o_totalprice") * 100.0).cast("long").as("v"))
        // repartition by the bucket key: one file per non-empty
        // bucket, so the history's file deltas are deterministic
        graft.sources.Bucketed.save(
          o.filter(col("k") % 3 === 0).repartition(4, col("k")),
          name, Seq("k"), 4)
        graft.sources.Bucketed.setRetention(s, name, 8)
        graft.sources.Bucketed.save(
          o.filter(col("k") % 3 === 1).repartition(4, col("k")),
          name, Seq("k"), 4, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, name,
          o.filter(col("k") % 3 < 2 && col("k") % 5 === 0)
            .select(col("k"), col("v"), lit(true).as("del")),
          deleteCol = Some("del"))
        graft.sources.Bucketed.compactBuckets(s, name,
          maxFilesPerBucket = 0, dedupRows = false)
        ()
      }
      val hist = graft.sources.Bucketed.history(s, name)
        .select(col("generation").as("gen"), col("op"),
          (col("files_added") > 0).as("grew"),
          (col("files_removed") > 0).as("shrank"))
      val counts = graft.sources.Bucketed.generations(s, name)
        .map(g => (g, graft.sources.Bucketed.loadAsOf(s, name, g).count()))
        .toDF("gen", "n_rows")
      hist.join(counts, "gen").orderBy("gen")
    }),

    // JOIN-view incremental maintenance: a materialized orders⋈customer
    // equi-join follows BOTH governed sources through appends, value
    // updates, and deletes via the delta-join decomposition
    // ΔV = ΔA⋈B_old ∪ A_new⋈ΔB, each generation-pair delta applied as
    // one atomic merge on the view's (order, customer) key before its
    // side's bookmark advances — the view must equal the join
    // recomputed from both sources' final states (the oracle)
    "q173_join_ivm" -> ((s, dir) => {
      val (_, _, view, _, _) = q173Tables(s, dir)
      graft.sources.Bucketed.load(s, view)
        .select("k", "cust", "v", "nat", "acct")
        .orderBy("k")
    }),

    // COMPOSED two-level IVM: a materialized per-nation rollup FOLLOWS
    // the q173 JOIN VIEW (itself delta-maintained from two governed
    // sources). The join view is a governed table like any other —
    // the rollup was created at the view's FIRST generation (inside
    // the shared setup, before the join deltas), so this refresh
    // genuinely walks every join delta as exactly-once append/retract
    // partials; repair then restores exact min/max for the groups the
    // deltas retracted. The whole two-level pipeline must equal a
    // plain GROUP BY over the recomputed join (the oracle)
    "q174_composed_ivm" -> ((s, dir) => {
      val (_, _, view, rollup, _) = q173Tables(s, dir)
      graft.ops.Ivm.refresh(s, view, rollup, 8, "nat", Seq("v"))
      graft.ops.Ivm.repair(s, view, rollup, 8, "nat", Seq("v"))
      graft.ops.Ivm.serve(s, rollup).orderBy("g")
    }),

    // SINGLE-view join+agg IVM: the GROUP-BY-over-join maintained in
    // ONE view — each side's generation-pair delta joins the pinned
    // partner and lands as exactly-once append/retract partials, so
    // the q173+q174 two-table composition collapses to one
    // materialized table and one maintenance pass. After the
    // join-aware repair the view must equal the plain GROUP BY over
    // the recomputed join — the same oracle the two-level pipeline
    // answers to
    "q178_joinagg_ivm" -> ((s, dir) => {
      val (a, b, _, _, jagg) = q173Tables(s, dir)
      graft.ops.Ivm.refreshJoinAgg(s, a, b, "cust", jagg, 8, "nat", Seq("v"))
      graft.ops.Ivm.repairJoinAgg(s, a, b, "cust", jagg, 8, "nat", Seq("v"))
      graft.ops.Ivm.serve(s, jagg).orderBy("g")
    }),

    // LEFT-OUTER join view: orders LEFT JOIN customer maintained
    // through 0→1 partners (the initially-missing cust%7=2 customers
    // append in — their orders flip from null-extended to matched),
    // 1→0 partners (cust%10=3 customers delete — their orders flip
    // BACK to null-extended, never disappear), value churn on both
    // sides, and A-side appends/updates — the view must equal the
    // left join recomputed from both final states (the oracle's LEFT
    // JOIN, null extension included)
    "q177_outer_join_ivm" -> ((s, dir) => {
      val (_, _, view, _, _, _, _) = q177Tables(s, dir)
      graft.sources.Bucketed.load(s, view)
        .select("k", "cust", "v", "nat", "acct")
        .orderBy("k")
    }),

    // FULL-OUTER join view over the same churned sources: beside
    // q177's left part, an ORPHANS table (keyed by the customer key)
    // holds exactly the customers with NO orders — appearing when a
    // value loses its last order, retracting when a previously
    // orderless customer's first order arrives, following B-side
    // churn — and the served union must equal the FULL JOIN
    // recomputed from both final states (the oracle). NOTE: this
    // repo's testdata references EVERY customer from orders, so the
    // fixture's cust % 11 == 5 carve-out and % 13 == 6 delete-all
    // transition are what populate the B-side null extension (23
    // orphan rows at sf0.001) — do not remove them as redundant.
    "q179_full_outer_ivm" -> ((s, dir) => {
      val (a, b, _, full, _, _, _) = q177Tables(s, dir)
      graft.ops.Ivm.refreshJoinFull(s, a, b, "cust", full)
      graft.ops.Ivm.serveJoinFull(s, full)
        .select("k", "cust", "v", "nat", "acct")
        .orderBy("cust", "k")
    }),

    // LEFT-OUTER join+agg in ONE maintained view: GROUP BY nation
    // over orders LEFT JOIN customer, maintained through the q177
    // churn — 0→1 partner transitions move orders OUT of the NULL
    // group into their nation, 1→0 transitions move them back, and
    // the phase-2 group-recompute feeding exactly-once partials IS
    // the transition. After the left-aware repair (null group
    // included) the view must equal the plain LEFT JOIN GROUP BY
    "q182_joinagg_left_ivm" -> ((s, dir) => {
      val (a, b, _, _, jaggL, _, _) = q177Tables(s, dir)
      graft.ops.Ivm.refreshJoinAggLeft(s, a, b, "cust", jaggL, 8,
        "nat", Seq("v"))
      graft.ops.Ivm.repairJoinAggLeft(s, a, b, "cust", jaggL, 8,
        "nat", Seq("v"))
      graft.ops.Ivm.serve(s, jaggL).orderBy("g")
    }),

    // Incremental view maintenance: a materialized per-part rollup
    // FOLLOWS a governed source through an append and a keyed delete
    // via per-generation-pair deltas (inserts → exactly-once append
    // partials, deletes → retract partials, bookmark last) — count /
    // sum / avg must equal the plain GROUP BY over the source's final
    // state, and groups that saw retractions serve null min/max (the
    // honest ledger contract, replayed by the oracle's CASE)
    "q170_ivm_refresh" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val src = s"graft_q170_src_$tag"
      val view = s"graft_q170_view_$tag"
      Setup.once(s"q170:$dir") {
        val li = t(s, dir, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber"))
            .cast("long").as("id"),
          col("l_partkey").cast("long").as("g"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("v"))
        graft.sources.Bucketed.save(
          li.filter(col("id") % 2 === 0), src, Seq("id"), 8)
        graft.sources.Bucketed.setRetention(s, src, 8)
        graft.ops.Ivm.create(s, src, view, 8, "g", Seq("v"))
        graft.sources.Bucketed.save(
          li.filter(col("id") % 2 === 1), src, Seq("id"), 8,
          mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, src,
          li.filter(col("id") % 13 === 2)
            .select(col("id"), col("g"), col("v"), lit(true).as("del")),
          deleteCol = Some("del"))
        graft.ops.Ivm.refresh(s, src, view, 8, "g", Seq("v"))
        ()
      }
      graft.ops.Ivm.serve(s, view).orderBy("g")
    }),

    // IVM repair: after the q170 pipeline, repair recomputes the
    // retracted groups' partials from the source's current rows —
    // the view becomes indistinguishable from a plain GROUP BY,
    // exact min/max included (no CASE in this oracle)
    "q171_ivm_repair" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val src = s"graft_q171_src_$tag"
      val view = s"graft_q171_view_$tag"
      Setup.once(s"q171:$dir") {
        val li = t(s, dir, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber"))
            .cast("long").as("id"),
          col("l_partkey").cast("long").as("g"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("v"))
        graft.sources.Bucketed.save(
          li.filter(col("id") % 2 === 0), src, Seq("id"), 8)
        graft.sources.Bucketed.setRetention(s, src, 8)
        graft.ops.Ivm.create(s, src, view, 8, "g", Seq("v"))
        graft.sources.Bucketed.save(
          li.filter(col("id") % 2 === 1), src, Seq("id"), 8,
          mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, src,
          li.filter(col("id") % 13 === 2)
            .select(col("id"), col("g"), col("v"), lit(true).as("del")),
          deleteCol = Some("del"))
        graft.ops.Ivm.refresh(s, src, view, 8, "g", Seq("v"))
        graft.ops.Ivm.repair(s, src, view, 8, "g", Seq("v"))
        ()
      }
      graft.ops.Ivm.serve(s, view).orderBy("g")
    }),

    // MULTI-MEASURE IVM: one maintained view serves count / sum / min
    // / max / avg of SEVERAL measures at once (the common reporting
    // shape that previously cost one view per measure) — price and
    // quantity here, churned through append + keyed update + keyed
    // delete, delta-refreshed, then repaired to exact extrema for
    // EVERY measure in one touched-bucket pass
    "q183_multi_measure_ivm" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val src = s"graft_q183_src_$tag"
      val view = s"graft_q183_view_$tag"
      Setup.once(s"q183:$dir") {
        val li = t(s, dir, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber"))
            .cast("long").as("id"),
          col("l_partkey").cast("long").as("g"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("v0"),
          floor(col("l_quantity") * 100.0).cast("long").as("v1"))
        graft.sources.Bucketed.save(
          li.filter(col("id") % 2 === 0), src, Seq("id"), 8)
        graft.sources.Bucketed.setRetention(s, src, 8)
        graft.ops.Ivm.create(s, src, view, 8, "g",
          Seq("v0", "v1"))
        graft.sources.Bucketed.save(
          li.filter(col("id") % 2 === 1), src, Seq("id"), 8,
          mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, src,
          li.filter(col("id") % 17 === 3)
            .select(col("id"), col("g"), (col("v0") + 7L).as("v0"),
              col("v1")))
        graft.sources.Bucketed.mergeByKey(s, src,
          li.filter(col("id") % 13 === 2)
            .select(col("id"), col("g"), col("v0"), col("v1"),
              lit(true).as("del")),
          deleteCol = Some("del"))
        graft.ops.Ivm.refresh(s, src, view, 8, "g",
          Seq("v0", "v1"))
        graft.ops.Ivm.repair(s, src, view, 8, "g",
          Seq("v0", "v1"))
        ()
      }
      graft.ops.Ivm.serve(s, view).orderBy("g")
    }),

    // Rollup FOLLOWING the full-outer pair: a materialized per-nation
    // aggregate tracks q179's maintained FULL JOIN as ONE logical
    // source (left part + orphans, each walking its own bookmark,
    // pure O(changed files) deltas on both) — matched↔orphan flips
    // retract from one table's fold and append in the other's,
    // meeting in the same group; orphan rows contribute a real nation
    // group with a null measure (counted, not summed), partnerless
    // orders aggregate under the NULL group. After repair (null-safe
    // group match) the rollup equals the plain FULL JOIN GROUP BY
    "q184_full_pair_rollup" -> ((s, dir) => {
      val (a, b, _, full, _, roll, _) = q177Tables(s, dir)
      graft.ops.Ivm.refreshJoinFull(s, a, b, "cust", full)
      graft.ops.Ivm.refreshOverFull(s, full, roll, 8, "nat", Seq("v"))
      graft.ops.Ivm.repairOverFull(s, full, roll, 8, "nat", Seq("v"))
      graft.ops.Ivm.serve(s, roll).orderBy("g")
    }),

    // Governance from plain SQL: the graft_as_of / graft_table TVFs
    // (SparkSessionExtensions.injectTableFunction) resolve at analysis
    // time to the SAME manifest-pinned snapshot relations the Scala
    // API builds — q157's time-travel answer, reached without a line
    // of Scala, filters/projections still pushing into the scan
    "q185_sql_time_travel" -> ((s, dir) => {
      val name = q157Table(s, dir)
      val g1 = graft.sources.Bucketed.generations(s, name).head
      s.sql(
        s"""SELECT 'g1' AS snapshot, rf, CAST(SUM(c) AS BIGINT) AS sum_q,
           |       COUNT(*) AS n
           |FROM graft_as_of('$name', $g1) GROUP BY rf
           |UNION ALL
           |SELECT 'head' AS snapshot, rf, CAST(SUM(c) AS BIGINT) AS sum_q,
           |       COUNT(*) AS n
           |FROM graft_table('$name') GROUP BY rf
           |ORDER BY snapshot, rf""".stripMargin)
    }),

    // Multi-measure JOIN+AGG in one maintained view: per-nation count
    // + sum/min/max/avg of BOTH order value and a second measure,
    // over orders JOIN customer, maintained through fact appends, a
    // fact value bump, and a dim delete (its customers' orders leave
    // every measure's fold at once) — the q178 two-phase pinned walk
    // with the q183 wide partials, repaired to exact extrema for
    // every measure in one pass
    "q186_joinagg_multi_ivm" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val a = s"graft_q186_a_$tag"
      val b = s"graft_q186_b_$tag"
      val view = s"graft_q186_view_$tag"
      Setup.once(s"q186:$dir") {
        val o = t(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("cust"),
          floor(col("o_totalprice") * 100.0).cast("long").as("v"),
          (col("o_orderkey") % 97).cast("long").as("w"))
        val c = t(s, dir, "customer").select(
          col("c_custkey").cast("long").as("cust"),
          col("c_nationkey").cast("long").as("nat"))
        graft.sources.Bucketed.save(o.filter(col("k") % 2 === 0),
          a, Seq("k"), 8)
        graft.sources.Bucketed.setRetention(s, a, 8)
        graft.sources.Bucketed.save(c, b, Seq("cust"), 8)
        graft.sources.Bucketed.setRetention(s, b, 8)
        graft.ops.Ivm.createJoinAgg(s, a, b, "cust", view, 8,
          "nat", Seq("v", "w"))
        graft.sources.Bucketed.save(o.filter(col("k") % 2 === 1),
          a, Seq("k"), 8, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, a,
          o.filter(col("k") % 9 === 0)
            .select(col("k"), col("cust"), (col("v") + 11L).as("v"),
              col("w")))
        graft.sources.Bucketed.mergeByKey(s, b,
          c.filter(col("cust") % 10 === 3)
            .select(col("cust"), col("nat"), lit(true).as("del")),
          deleteCol = Some("del"))
        graft.ops.Ivm.refreshJoinAgg(s, a, b, "cust", view, 8,
          "nat", Seq("v", "w"))
        graft.ops.Ivm.repairJoinAgg(s, a, b, "cust", view, 8,
          "nat", Seq("v", "w"))
        ()
      }
      graft.ops.Ivm.serve(s, view).orderBy("g")
    }),

    // Multi-measure LEFT-outer join+agg in ONE maintained view: the
    // q182 null-extension doctrine (NULL nation group first-class,
    // phase-2 group recompute IS the 0↔1 transition) carrying TWO
    // measures — order value and a second A-side measure — through
    // customer arrivals (0→1), deletions (1→0), and a fact value
    // bump; after the multi repair every measure's extrema are exact,
    // null group included
    "q188_joinagg_left_multi" -> ((s, dir) => {
      val tag = Setup.dirTag(dir)
      val a = s"graft_q188_a_$tag"
      val b = s"graft_q188_b_$tag"
      val view = s"graft_q188_view_$tag"
      Setup.once(s"q188:$dir") {
        val o = t(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("cust"),
          floor(col("o_totalprice") * 100.0).cast("long").as("v"),
          (col("o_orderkey") % 89).cast("long").as("w"))
        val c = t(s, dir, "customer").select(
          col("c_custkey").cast("long").as("cust"),
          col("c_nationkey").cast("long").as("nat"))
        graft.sources.Bucketed.save(o.filter(col("k") % 2 === 0),
          a, Seq("k"), 8)
        graft.sources.Bucketed.setRetention(s, a, 8)
        graft.sources.Bucketed.save(c.filter(col("cust") % 7 =!= 2),
          b, Seq("cust"), 8)
        graft.sources.Bucketed.setRetention(s, b, 8)
        graft.ops.Ivm.createJoinAggLeft(s, a, b, "cust", view, 8,
          "nat", Seq("v", "w"))
        graft.sources.Bucketed.save(o.filter(col("k") % 2 === 1),
          a, Seq("k"), 8, mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, a,
          o.filter(col("k") % 9 === 0)
            .select(col("k"), col("cust"), (col("v") + 11L).as("v"),
              col("w")))
        graft.sources.Bucketed.save(c.filter(col("cust") % 7 === 2),
          b, Seq("cust"), 8,
          mode = org.apache.spark.sql.SaveMode.Append)
        graft.sources.Bucketed.mergeByKey(s, b,
          c.filter(col("cust") % 10 === 3)
            .select(col("cust"), col("nat"), lit(true).as("del")),
          deleteCol = Some("del"))
        graft.ops.Ivm.refreshJoinAggLeft(s, a, b, "cust", view,
          8, "nat", Seq("v", "w"))
        graft.ops.Ivm.repairJoinAggLeft(s, a, b, "cust", view,
          8, "nat", Seq("v", "w"))
        ()
      }
      graft.ops.Ivm.serve(s, view).orderBy("g")
    }),

    // Multi-measure rollup FOLLOWING the full-outer pair: the q184
    // pair walk carrying one A-side measure (v — null on orphan
    // rows) AND one B-side measure (acct — null on partnerless
    // orders), both null-fill directions folded per table delta;
    // after the multi repair the rollup equals the two-measure FULL
    // JOIN GROUP BY
    "q189_full_pair_multi" -> ((s, dir) => {
      val (a, b, _, full, _, _, roll2) = q177Tables(s, dir)
      graft.ops.Ivm.refreshJoinFull(s, a, b, "cust", full)
      graft.ops.Ivm.refreshOverFull(s, full, roll2, 8, "nat",
        Seq("v", "acct"))
      graft.ops.Ivm.repairOverFull(s, full, roll2, 8, "nat",
        Seq("v", "acct"))
      graft.ops.Ivm.serve(s, roll2).orderBy("g")
    }),

    // CDC from plain SQL: the graft_changes TVF resolves at analysis
    // time to diffGenerations' changed-files-only delta plan — q158's
    // answer without a line of Scala
    "q187_sql_generation_diff" -> ((s, dir) => {
      val name = q158Table(s, dir)
      val gens = graft.sources.Bucketed.generations(s, name)
      s.sql(
        s"""SELECT change, rf, ok, c
           |FROM graft_changes('$name', ${gens.head}, ${gens.last})
           |ORDER BY change, ok, rf, c""".stripMargin)
    }))

  val oracles: Map[String, String] = Map(
    "q01_minmax_dates" ->
      """SELECT strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
        |       strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
        |FROM orders""".stripMargin,

    "q02_join_agg" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q03_changed_or_new" ->
      """SELECT o_orderkey, o_custkey
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey IS NULL OR c_acctbal < 0
        |ORDER BY o_orderkey""".stripMargin,

    "q04_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q05_semi_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "q06_except" ->
      """SELECT DISTINCT l_partkey AS part_key FROM lineitem
        |EXCEPT
        |SELECT p_partkey AS part_key FROM part WHERE p_size < 30
        |ORDER BY part_key""".stripMargin,

    "q07_reconcile" ->
      """WITH a AS (
        |  SELECT p_partkey AS part_key, md5(p_name) AS hash_a
        |  FROM part WHERE p_partkey % 11 <> 0),
        |b AS (
        |  SELECT p_partkey AS part_key,
        |         md5(CASE WHEN p_partkey % 5 = 0 THEN upper(p_name)
        |                  ELSE p_name END) AS hash_b
        |  FROM part WHERE p_partkey % 7 <> 0)
        |SELECT part_key,
        |       CASE WHEN hash_b IS NULL AND hash_a IS NOT NULL THEN 'missing'
        |            WHEN hash_a IS NULL AND hash_b IS NOT NULL THEN 'extra'
        |            WHEN hash_a <> hash_b THEN 'mismatch'
        |            ELSE 'ok' END AS status
        |FROM a FULL OUTER JOIN b USING (part_key)
        |ORDER BY part_key""".stripMargin,

    "q08_group_breaks" ->
      """WITH x AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_breaks
        |FROM x WHERE prev IS NULL OR event_type <> prev
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q09_seq_ids" ->
      """SELECT o_orderkey,
        |       row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS seq_id
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q10_first_match" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 1""".stripMargin,

    "q11_max_event_id" ->
      """SELECT max(CAST(regexp_extract(
        |  'https://data.razu.nl/id/event/NL-WbDRAZU-G0321-661-e' || CAST(event_id AS VARCHAR),
        |  '-e(\d+)$', 1) AS BIGINT)) AS max_event_id
        |FROM events""".stripMargin,

    "q12_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q13_collect_set" ->
      """SELECT l_returnflag,
        |       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q14_date_type" -> {
      val xsdDate = "http://www.w3.org/2001/XMLSchema#date"
      val xsdGYear = "http://www.w3.org/2001/XMLSchema#gYear"
      s"""WITH src AS (
         |  SELECT o_orderkey,
         |         CASE WHEN o_orderkey % 4 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
         |              WHEN o_orderkey % 4 = 1 THEN strftime(o_orderdate, '%Y')
         |              WHEN o_orderkey % 4 = 2 THEN
         |                CAST(date_part('day', o_orderdate) AS VARCHAR) || '-' ||
         |                CAST(date_part('month', o_orderdate) AS VARCHAR) || '-' ||
         |                CAST(date_part('year', o_orderdate) AS VARCHAR)
         |              ELSE 'not-a-date-' || CAST(o_orderkey AS VARCHAR) END AS datestring
         |  FROM orders)
         |SELECT o_orderkey, datestring,
         |       CASE WHEN regexp_matches(datestring, '^\\d{1,2}-\\d{1,2}-\\d{4}$$')
         |            THEN printf('%s-%02d-%02d',
         |                   regexp_extract(datestring, '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$$', 3),
         |                   CAST(regexp_extract(datestring, '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$$', 2) AS INT),
         |                   CAST(regexp_extract(datestring, '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$$', 1) AS INT))
         |            ELSE datestring END AS value,
         |       CASE WHEN regexp_matches(datestring, '^\\d{4}-\\d{2}-\\d{2}$$') THEN '$xsdDate'
         |            WHEN regexp_matches(datestring, '^\\d{4}$$') THEN '$xsdGYear'
         |            WHEN regexp_matches(datestring, '^\\d{1,2}-\\d{1,2}-\\d{4}$$') THEN '$xsdDate'
         |            ELSE '' END AS datatype
         |FROM src ORDER BY o_orderkey""".stripMargin
    },

    "q15_id_algebra" ->
      """SELECT o_orderkey,
        |       'NL-WbDRAZU-G0321-661-' || CAST(o_orderkey AS VARCHAR) AS uid,
        |       'https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-' || CAST(o_orderkey AS VARCHAR) AS uri,
        |       'NL-WbDRAZU-G0321-661-' || CAST(o_orderkey AS VARCHAR) || '.meta.json' AS filename,
        |       'NL-WbDRAZU/G0321/661/' ||
        |         printf('%03d/%03d/', o_orderkey // 1000000, (o_orderkey % 1000000) // 1000) AS storage_path,
        |       regexp_extract('NL-WbDRAZU-G0321-661-' || CAST(o_orderkey AS VARCHAR) || '.meta.json',
        |                      'NL-WbDRAZU-G0321-661-([^-.]+)', 1) AS extracted_id
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q16_least" ->
      """SELECT user_id,
        |       strftime(least(
        |         coalesce(min(CASE WHEN event_type = 'click' THEN ts END), TIMESTAMP '9999-01-01'),
        |         coalesce(min(CASE WHEN event_type = 'view' THEN ts END), TIMESTAMP '9999-01-01')),
        |         '%Y-%m-%d %H:%M:%S') AS first_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q17_null_fill" ->
      """SELECT event_type,
        |       CAST(SUM(coalesce(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT), 0)) AS BIGINT) AS sum_k,
        |       COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q85_json_extract" ->
      """WITH x AS (
        |  SELECT event_type,
        |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type,
        |       COUNT(k) AS n_k,
        |       CAST(SUM(k) AS BIGINT) AS sum_k,
        |       CAST(MIN(k) AS BIGINT) AS min_k,
        |       CAST(MAX(k) AS BIGINT) AS max_k
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q18_split_explode" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY word""".stripMargin,

    "q19_bucket_count" ->
      """SELECT 'NL-WbDRAZU/G0321/661/' ||
        |         printf('%03d/%03d/', o_orderkey // 1000000, (o_orderkey % 1000000) // 1000) AS bucket,
        |       COUNT(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q62_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q63_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q69_scd2" ->
      """WITH ch AS (
        |  SELECT o_custkey, o_orderdate,
        |         arg_max(o_orderpriority, o_orderkey) AS o_orderpriority
        |  FROM orders GROUP BY 1, 2),
        |d AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |                                    ORDER BY o_orderdate) AS prev
        |  FROM ch),
        |kept AS (
        |  SELECT o_custkey, o_orderdate, o_orderpriority FROM d
        |  WHERE prev IS DISTINCT FROM o_orderpriority)
        |SELECT o_custkey, o_orderpriority,
        |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |       strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey
        |                                        ORDER BY o_orderdate),
        |                '%Y-%m-%d') AS valid_to,
        |       (lead(o_orderdate) OVER (PARTITION BY o_custkey
        |                                ORDER BY o_orderdate) IS NULL)
        |         AS is_current
        |FROM kept ORDER BY o_custkey, valid_from""".stripMargin,

    "q70_pagerank" ->
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |                           CAST(l_partkey AS BIGINT) AS dst
        |           FROM lineitem),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_e9 FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.rank_e9 // d.deg) AS BIGINT) AS s
        |       FROM e JOIN deg d USING (src) JOIN r0 ON e.src = r0.node
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |              CAST(150000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT)
        |                AS rank_e9
        |       FROM nodes n LEFT JOIN c1 c USING (node)),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.rank_e9 // d.deg) AS BIGINT) AS s
        |       FROM e JOIN deg d USING (src) JOIN r1 ON e.src = r1.node
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |              CAST(150000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT)
        |                AS rank_e9
        |       FROM nodes n LEFT JOIN c2 c USING (node))
        |SELECT node, rank_e9 FROM r2 ORDER BY node""".stripMargin,

    // orient each undirected edge from its lower-(degree, id) endpoint,
    // wedge at the minimum corner, close with the oriented (t1→t2) edge
    "q96_triangles" ->
      """WITH raw AS (
        |  SELECT CAST(l_suppkey AS BIGINT) AS a,
        |         CAST(l_partkey % 1000 + 1 AS BIGINT) AS b
        |  FROM lineitem WHERE l_orderkey % 37 = 0),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |      FROM raw WHERE a <> b),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        |        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY node),
        |o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
        |             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
        |             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS td
        |      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |w AS (SELECT e1.t AS t1, e2.t AS t2
        |      FROM o e1 JOIN o e2
        |        ON e1.s = e2.s AND (e1.td, e1.t) < (e2.td, e2.t)),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |        FROM w SEMI JOIN o ON o.s = w.t1 AND o.t = w.t2)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |       n_triangles
        |FROM tri""".stripMargin,

    "q72_zorder" ->
      """WITH s AS (
        |  SELECT CAST(min(l_partkey) AS DOUBLE) AS xmin,
        |         CAST(max(l_partkey) AS DOUBLE) AS xmax,
        |         CAST(min(l_suppkey) AS DOUBLE) AS ymin,
        |         CAST(max(l_suppkey) AS DOUBLE) AS ymax
        |  FROM lineitem),
        |q AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |         CAST(floor((CAST(l_partkey AS DOUBLE) - xmin) * 65535.0
        |              / greatest(xmax - xmin, 1.0)) AS BIGINT) AS qx,
        |         CAST(floor((CAST(l_suppkey AS DOUBLE) - ymin) * 65535.0
        |              / greatest(ymax - ymin, 1.0)) AS BIGINT) AS qy
        |  FROM lineitem, s),
        |a AS (SELECT l_orderkey, l_linenumber,
        |             (qx | (qx << 8)) & 16711935 AS ax,
        |             (qy | (qy << 8)) & 16711935 AS ay FROM q),
        |b AS (SELECT l_orderkey, l_linenumber,
        |             (ax | (ax << 4)) & 252645135 AS bx,
        |             (ay | (ay << 4)) & 252645135 AS by FROM a),
        |c AS (SELECT l_orderkey, l_linenumber,
        |             (bx | (bx << 2)) & 858993459 AS cx,
        |             (by | (by << 2)) & 858993459 AS cy FROM b),
        |d AS (SELECT l_orderkey, l_linenumber,
        |             (cx | (cx << 1)) & 1431655765 AS dx,
        |             (cy | (cy << 1)) & 1431655765 AS dy FROM c)
        |SELECT l_orderkey, l_linenumber,
        |       CAST(dx | (dy << 1) AS BIGINT) AS zorder
        |FROM d ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q73_resample" ->
      """WITH src AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |         CAST(value AS DECIMAL(18,2)) AS value
        |  FROM events),
        |b AS (SELECT user_id, (tus // 3600000000) * 3600000000 AS b,
        |             tus, event_id, value FROM src),
        |vals AS (
        |  SELECT user_id, b, value FROM (
        |    SELECT user_id, b, value,
        |           row_number() OVER (PARTITION BY user_id, b
        |                              ORDER BY tus DESC, event_id DESC) AS rn
        |    FROM b) WHERE rn = 1),
        |spans AS (SELECT user_id, min(b) AS lo, max(b) AS hi
        |          FROM b GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000000))
        |                AS bucket_us
        |         FROM spans)
        |SELECT g.user_id, g.bucket_us,
        |       CAST(last_value(v.value IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.bucket_us
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS value,
        |       (v.value IS NOT NULL) AS observed
        |FROM grid g LEFT JOIN vals v
        |  ON g.user_id = v.user_id AND g.bucket_us = v.b
        |ORDER BY g.user_id, g.bucket_us""".stripMargin,

    "q74_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_price
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q75_key_skew" ->
      """WITH c AS (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem)
        |SELECT l_suppkey, n,
        |       CAST((n * 1000000) // greatest(total, 1) AS BIGINT) AS share_e6
        |FROM c, t
        |ORDER BY n DESC, l_suppkey ASC
        |LIMIT 25""".stripMargin,

    "q76_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority, o_orderstatus
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |upd AS (
        |  SELECT o_orderkey, '0-PATCHED' AS o_orderpriority,
        |         CAST(NULL AS VARCHAR) AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
        |       COALESCE(u.o_orderpriority, b.o_orderpriority)
        |         AS o_orderpriority,
        |       COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus
        |FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    // full-sort formulation of the selection result: value at 1-based
    // rank ceil(q*n) ascending (q as DOUBLE — a DECIMAL literal would
    // round the rank differently than the engine's double math)
    "q126_exact_quantiles" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100.0) AS BIGINT)
        |             AS cents FROM lineitem),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
        |             COUNT(*) OVER () AS n
        |      FROM v)
        |SELECT q_e4, value FROM (
        |  SELECT CAST(5000 AS BIGINT) AS q_e4,
        |         MAX(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n)
        |                            AS BIGINT) THEN cents END) AS value
        |  FROM r
        |  UNION ALL
        |  SELECT CAST(9000 AS BIGINT),
        |         MAX(CASE WHEN rn = CAST(ceil(CAST(0.9 AS DOUBLE) * n)
        |                            AS BIGINT) THEN cents END)
        |  FROM r
        |  UNION ALL
        |  SELECT CAST(9900 AS BIGINT),
        |         MAX(CASE WHEN rn = CAST(ceil(CAST(0.99 AS DOUBLE) * n)
        |                            AS BIGINT) THEN cents END)
        |  FROM r)
        |ORDER BY q_e4""".stripMargin,

    // KMV replay: distinct portable hashes per group, k-th smallest via
    // row_number, est = (k-1)*P div h_k (integer division both engines)
    "q119_kmv_distinct" ->
      s"""WITH ph AS (SELECT DISTINCT l_returnflag,
         |         ${TextQueries.Sql.poly("CAST(l_partkey AS VARCHAR)")} AS p
         |       FROM lineitem WHERE l_partkey IS NOT NULL),
         |h AS (SELECT DISTINCT l_returnflag,
         |        ${TextQueries.Sql.sqmix("p")} AS h
         |      FROM ph),
         |c AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM h GROUP BY 1),
         |r AS (SELECT l_returnflag, h,
         |        row_number() OVER (PARTITION BY l_returnflag
         |                           ORDER BY h) AS rn
         |      FROM h),
         |k AS (SELECT l_returnflag, h AS kth FROM r WHERE rn = 256)
         |SELECT c.l_returnflag,
         |       CASE WHEN k.kth IS NULL THEN c.n
         |            ELSE CAST(${255L * 1000000007L} // k.kth AS BIGINT)
         |            END AS kmv_distinct
         |FROM c LEFT JOIN k USING (l_returnflag)
         |ORDER BY c.l_returnflag""".stripMargin,

    "q79_topk_per_group" ->
      """WITH agg AS (
        |  SELECT l_suppkey, l_partkey,
        |         CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
        |              * 100.0) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY l_suppkey, l_partkey),
        |r AS (
        |  SELECT l_suppkey, l_partkey, rev_cents,
        |         CAST(row_number() OVER (PARTITION BY l_suppkey
        |              ORDER BY rev_cents DESC, l_partkey ASC) AS BIGINT) AS rk
        |  FROM agg)
        |SELECT l_suppkey, l_partkey, rev_cents, rk
        |FROM r WHERE rk <= 3
        |ORDER BY l_suppkey, rk""".stripMargin,

    "q20_path_ops" ->
      """WITH src AS (
        |  SELECT p_partkey,
        |         replace('C:\data\bestanden\' || p_brand || '\file_' ||
        |                 CAST(p_partkey AS VARCHAR) || '.tar.gz', '\', '/') AS slashed
        |  FROM part),
        |n AS (
        |  SELECT p_partkey,
        |         regexp_extract(slashed, '(?:^|/)bestanden(?:/(.*))?$', 1) AS norm
        |  FROM src)
        |SELECT p_partkey, norm,
        |       regexp_extract(norm, '[^/]*$', 0) AS base,
        |       regexp_extract(regexp_extract(norm, '[^/]*$', 0), '^\.*[^.][^.]*?(\..*)$', 1) AS ext,
        |       split_part(regexp_extract(norm, '[^/]*$', 0), '.', 1) AS stem
        |FROM n ORDER BY p_partkey""".stripMargin,

    // one join per funnel step; strict > between steps matches the
    // engine's compiled fold exactly
    "q110_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS ts_us
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, CAST(min(epoch_us(e.ts)) AS BIGINT) AS ts_us
        |  FROM events e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1.ts_us
        |  GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, CAST(min(epoch_us(e.ts)) AS BIGINT) AS ts_us
        |  FROM events e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2.ts_us
        |  GROUP BY 1)
        |SELECT user_id, CAST(1 AS BIGINT) AS step, ts_us FROM t1
        |UNION ALL SELECT user_id, CAST(2 AS BIGINT), ts_us FROM t2
        |UNION ALL SELECT user_id, CAST(3 AS BIGINT), ts_us FROM t3
        |ORDER BY user_id, step""".stripMargin,

    "q111_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |coh AS (SELECT user_id, min(d) AS c FROM act GROUP BY 1)
        |SELECT strftime(c, '%Y-%m-%d') AS cohort_date,
        |       CAST(date_diff('day', c, d) AS BIGINT) AS day_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM act JOIN coh USING (user_id)
        |WHERE date_diff('day', c, d) <= 7
        |GROUP BY 1, 2 ORDER BY cohort_date, day_offset""".stripMargin,

    "q112_rolling_features" ->
      """WITH e AS (
        |  SELECT CAST(event_id AS BIGINT) AS event_id,
        |         CAST(user_id AS BIGINT) AS user_id,
        |         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events)
        |SELECT event_id, user_id, ts_us,
        |  CAST(COUNT(*) OVER w1 AS BIGINT) AS n_1h,
        |  CAST(SUM(v) OVER w1 AS DOUBLE) AS sum_1h,
        |  CAST(COUNT(*) OVER w24 AS BIGINT) AS n_24h,
        |  CAST(SUM(v) OVER w24 AS DOUBLE) AS sum_24h
        |FROM e
        |WINDOW
        |  w1 AS (PARTITION BY user_id ORDER BY ts_us
        |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
        |  w24 AS (PARTITION BY user_id ORDER BY ts_us
        |          RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // index-transparent replay: the materialized view must equal one
    // plain GROUP BY over the full table — the oracle never models
    // partials, tags, or consolidation, only the aggregate they must
    // reproduce bit for bit
    "q154_incremental_agg" ->
      """WITH v AS (SELECT l_partkey AS g,
        |                  CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v
        |           FROM lineitem)
        |SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q,
        |       MIN(v) AS min_q, MAX(v) AS max_q,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6
        |FROM v GROUP BY g ORDER BY g""".stripMargin,

    // retract+repair replay: the GROUP BY over the SURVIVING rows
    "q155_agg_retract_repair" ->
      """WITH v AS (SELECT l_partkey AS g, l_orderkey,
        |                  CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v
        |           FROM lineitem),
        |s AS (SELECT g, v FROM v
        |      WHERE NOT (g % 37 = 0 AND l_orderkey % 5 = 0))
        |SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q,
        |       MIN(v) AS min_q, MAX(v) AS max_q,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6
        |FROM s GROUP BY g ORDER BY g""".stripMargin,

    // index-transparent KMV replay (q119's shape, k=64, over the FULL
    // table): the incremental sketch's k-min merge is lossless, so the
    // served estimate must equal the one-shot sketch exactly
    "q156_incremental_distinct" ->
      s"""WITH ph AS (SELECT DISTINCT l_suppkey AS g,
         |         ${TextQueries.Sql.poly("CAST(l_orderkey AS VARCHAR)")} AS p
         |       FROM lineitem WHERE l_orderkey IS NOT NULL),
         |h AS (SELECT DISTINCT g, ${TextQueries.Sql.sqmix("p")} AS h
         |      FROM ph),
         |r AS (SELECT g, h,
         |        row_number() OVER (PARTITION BY g ORDER BY h) AS rn
         |      FROM h),
         |c AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM r WHERE rn <= 64 GROUP BY 1),
         |k AS (SELECT g, h AS kth FROM r WHERE rn = 64)
         |SELECT c.g,
         |       CASE WHEN k.kth IS NULL THEN c.n
         |            ELSE CAST(${63L * 1000000007L} // k.kth AS BIGINT)
         |            END AS kmv_distinct
         |FROM c LEFT JOIN k USING (g)
         |ORDER BY c.g""".stripMargin,

    // time-travel replay: the snapshot is the even-orderkey build,
    // the head is the whole table — recomputed from the raw splits
    "q157_time_travel" ->
      """WITH v AS (SELECT l_returnflag AS rf, l_orderkey AS ok,
        |                  CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS c
        |           FROM lineitem)
        |SELECT 'g1' AS snapshot, rf, CAST(SUM(c) AS BIGINT) AS sum_q,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM v WHERE ok % 2 = 0 GROUP BY rf
        |UNION ALL
        |SELECT 'head' AS snapshot, rf, CAST(SUM(c) AS BIGINT) AS sum_q,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM v GROUP BY rf
        |ORDER BY snapshot, rf""".stripMargin,

    // generation-diff replay: the multiset delta from the raw
    // predicates (g1 = even half; g3 = everything minus 'R' rows)
    "q158_generation_diff" ->
      """WITH v AS (SELECT l_returnflag AS rf, l_orderkey AS ok,
        |                  CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS c
        |           FROM lineitem)
        |SELECT 'insert' AS change, rf, ok, c FROM v
        |WHERE ok % 2 = 1 AND rf <> 'R'
        |UNION ALL
        |SELECT 'delete' AS change, rf, ok, c FROM v
        |WHERE ok % 2 = 0 AND rf = 'R'
        |ORDER BY change, ok, rf, c""".stripMargin,

    // incremental-quantile replay: the q135 sketch shape over the FULL
    // table — same bottom-64 membership hash, same sample order
    // statistic, same integer rank arithmetic; the index must be
    // indistinguishable from the one-shot sketch
    "q159_incremental_quantiles" ->
      s"""WITH base AS (SELECT l_returnflag AS g,
         |    l_orderkey * 10 + l_linenumber AS id,
         |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v
         |  FROM lineitem),
         |s AS (SELECT g, id, v,
         |    ${TextQueries.Sql.sqmixOfPoly("CAST(id AS VARCHAR)")} AS h
         |  FROM base WHERE v IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY g
         |        ORDER BY h, id) AS rn FROM s),
         |samp AS (SELECT g, v,
         |    row_number() OVER (PARTITION BY g ORDER BY v, h, id) AS vrn,
         |    COUNT(*) OVER (PARTITION BY g) AS m
         |  FROM r WHERE rn <= 64),
         |q(q_e4) AS (SELECT * FROM (VALUES (2500), (5000), (9000)) t)
         |SELECT g, CAST(q_e4 AS BIGINT) AS q_e4,
         |  CAST(MAX(CASE WHEN vrn = greatest(1, (q_e4 * m + 9999) // 10000)
         |           THEN v END) AS BIGINT) AS est
         |FROM samp CROSS JOIN q
         |GROUP BY g, q_e4 ORDER BY g, q_e4""".stripMargin,

    // latest-wins keyed merge recomputed from the raw predicates:
    // base keys not in the update batch survive unchanged; update
    // rows land unless flagged deleted
    "q160_merge_upsert" ->
      """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders WHERE o_orderkey % 3 <> 2),
        |upd AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) + 7 AS v,
        |    (o_orderkey % 7 = 3) AS del
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT k, v FROM base WHERE k NOT IN (SELECT k FROM upd)
        |UNION ALL
        |SELECT k, v FROM upd WHERE NOT del
        |ORDER BY k""".stripMargin,

    // the source's final state recomputed directly: the replica must
    // be indistinguishable from it after replaying the shipped diffs
    "q161_cdc_replicate" ->
      """WITH li AS (SELECT
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
        |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v
        |  FROM lineitem)
        |SELECT id,
        |       CASE WHEN id % 11 = 0 THEN v + 5000 ELSE v END AS v
        |FROM li WHERE id % 13 <> 2
        |ORDER BY id""".stripMargin,

    // the pruned read must return exactly the full-scan rows (pruning
    // is an I/O optimization, never a semantic one); pruned_any pins
    // that the non-matching slices' files actually pruned
    "q162_stat_pruned_scan" ->
      """SELECT l_returnflag AS rf, COUNT(*) AS n,
        |       CAST(SUM(CAST(floor(l_extendedprice * 100.0) AS BIGINT))
        |            AS BIGINT) AS sum_v,
        |       true AS pruned_any
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1998-06-01 00:00:00'
        |                     AND TIMESTAMP '1998-12-31 00:00:00'
        |GROUP BY rf ORDER BY rf""".stripMargin,

    // the replica after the second sync must equal the source's final
    // state recomputed from the raw predicates
    "q163_replica_sync" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders)
        |SELECT k, CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v
        |FROM o WHERE k % 17 <> 5
        |ORDER BY k""".stripMargin,

    // each pruned range read must equal the plain filter over the raw
    // table — the Morton layout is an I/O plan, not a semantic one
    "q164_zorder_pruned" ->
      """WITH li AS (SELECT
        |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v,
        |    CAST(l_partkey AS BIGINT) AS p
        |  FROM lineitem)
        |SELECT 'p' AS dim, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s
        |FROM li WHERE p BETWEEN 10 AND 50
        |UNION ALL
        |SELECT 'v' AS dim, COUNT(*) AS n, CAST(SUM(p) AS BIGINT) AS s
        |FROM li WHERE v BETWEEN 1000000 AND 2000000
        |UNION ALL
        |SELECT 'b' AS dim, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s
        |FROM li WHERE v BETWEEN 1000000 AND 2000000
        |          AND p BETWEEN 10 AND 50
        |ORDER BY dim""".stripMargin,

    // the evolved table recomputed: old rows null unless backfilled by
    // the merge, appended rows carry their note, merged keys win
    "q165_schema_evolution" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders)
        |SELECT k,
        |       CASE WHEN k % 7 = 0 THEN v + 3 ELSE v END AS v,
        |       CASE WHEN k % 7 = 0 THEN 'm'
        |            WHEN k % 2 = 1 THEN 'n' || CAST(k % 10 AS VARCHAR)
        |            ELSE NULL END AS note
        |FROM o ORDER BY k""".stripMargin,

    // the pruned lookup must return exactly the one matching row —
    // bloom skipping is an I/O plan, never a semantic one
    "q167_bloom_lookup" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    md5('u' || CAST(o_orderkey AS VARCHAR)) AS u
        |  FROM orders)
        |SELECT k, u, true AS bloom_pruned
        |FROM o
        |WHERE u = (SELECT md5('u' || CAST(min(k2.o_orderkey) AS VARCHAR))
        |           FROM orders k2)
        |ORDER BY k""".stripMargin,

    // the metadata-answered count must equal the real count
    "q168_metadata_count" ->
      """SELECT COUNT(*) AS n, true AS covered_any
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-06-01 00:00:00'
        |                     AND TIMESTAMP '1998-06-30 00:00:00'""".stripMargin,

    // the metadata-first extrema must equal the full scan's
    "q169_metadata_minmax" ->
      """SELECT min(l_shipdate) AS min_d, max(l_shipdate) AS max_d
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-06-01 00:00:00'
        |                     AND TIMESTAMP '1998-06-30 00:00:00'""".stripMargin,

    // the delta-maintained join view must equal the join recomputed
    // from both sources' final states
    "q173_join_ivm" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(floor(c_acctbal * 100.0) AS BIGINT) AS acct
        |  FROM customer)
        |SELECT k, cust,
        |       CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v,
        |       nat,
        |       CASE WHEN cust % 10 = 4 THEN acct + 7 ELSE acct END AS acct
        |FROM o JOIN c USING (cust)
        |WHERE cust % 10 <> 3
        |ORDER BY k""".stripMargin,

    // the maintained left-outer view must equal the LEFT JOIN
    // recomputed from both final states — deleted customers' orders
    // null-extended, late-arriving customers' orders matched
    "q177_outer_join_ivm" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders
        |  WHERE CAST(o_custkey AS BIGINT) % 11 <> 5
        |    AND CAST(o_custkey AS BIGINT) % 13 <> 6),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(floor(c_acctbal * 100.0) AS BIGINT) AS acct
        |  FROM customer),
        |cc AS (SELECT cust, nat,
        |    CASE WHEN cust % 10 = 4 THEN acct + 7 ELSE acct END AS acct
        |  FROM c WHERE cust % 10 <> 3)
        |SELECT k, cust,
        |       CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v,
        |       nat, acct
        |FROM o LEFT JOIN cc USING (cust)
        |ORDER BY k""".stripMargin,

    // the maintained full-outer pair (left part ∪ orphans) must equal
    // the FULL JOIN recomputed from both final states — orderless
    // customers null-extended on the B side, deleted customers'
    // orders null-extended on the A side
    "q179_full_outer_ivm" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders
        |  WHERE CAST(o_custkey AS BIGINT) % 11 <> 5
        |    AND CAST(o_custkey AS BIGINT) % 13 <> 6),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(floor(c_acctbal * 100.0) AS BIGINT) AS acct
        |  FROM customer),
        |oo AS (SELECT k, cust,
        |    CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v
        |  FROM o),
        |cc AS (SELECT cust, nat,
        |    CASE WHEN cust % 10 = 4 THEN acct + 7 ELSE acct END AS acct
        |  FROM c WHERE cust % 10 <> 3)
        |SELECT k, cust, v, nat, acct
        |FROM oo FULL JOIN cc USING (cust)
        |ORDER BY cust, k""".stripMargin,

    // the single maintained LEFT-outer join+agg view must equal the
    // plain LEFT JOIN GROUP BY over both final states — the NULL
    // nation group (orders of deleted / never-present customers)
    // first-class, exact extrema after the left-aware repair
    "q182_joinagg_left_ivm" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders
        |  WHERE CAST(o_custkey AS BIGINT) % 11 <> 5
        |    AND CAST(o_custkey AS BIGINT) % 13 <> 6),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat
        |  FROM customer),
        |cc AS (SELECT cust, nat FROM c WHERE cust % 10 <> 3),
        |fin AS (SELECT CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v,
        |               nat
        |  FROM o LEFT JOIN cc USING (cust))
        |SELECT nat AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q,
        |       MIN(v) AS min_q, MAX(v) AS max_q,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // the SINGLE maintained join+agg view answers to the same truth
    // as the q174 two-level composition: the plain GROUP BY over the
    // recomputed join, exact extrema after the join-aware repair
    "q178_joinagg_ivm" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat
        |  FROM customer),
        |fin AS (SELECT CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v,
        |               nat
        |  FROM o JOIN c USING (cust) WHERE cust % 10 <> 3)
        |SELECT nat AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q,
        |       MIN(v) AS min_q, MAX(v) AS max_q,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // the two-level pipeline (join view -> rollup view, both
    // delta-maintained, rollup repaired) must equal the plain GROUP BY
    // over the recomputed join
    "q174_composed_ivm" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat
        |  FROM customer),
        |fin AS (SELECT CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v,
        |               nat
        |  FROM o JOIN c USING (cust) WHERE cust % 10 <> 3)
        |SELECT nat AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q,
        |       MIN(v) AS min_q, MAX(v) AS max_q,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // the metadata-first top-k must be exactly the global ORDER BY
    // LIMIT (deterministic under the id tiebreaker); pruned_any pins
    // that the older appends' files were never read
    "q172_metadata_topk" ->
      """WITH li AS (SELECT
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
        |    l_shipdate AS d,
        |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v
        |  FROM lineitem)
        |SELECT id, d, v, true AS pruned_any
        |FROM li ORDER BY d DESC, id ASC LIMIT 12""".stripMargin,

    // the filtered ascending top-k must be exactly the filtered sort;
    // range_pruned pins the pre-1997 append out of the candidate set,
    // pruned_any pins the ascending boundary stop before the 1998 files
    "q176_filtered_topk" ->
      """WITH li AS (SELECT
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
        |    l_shipdate AS d,
        |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v
        |  FROM lineitem)
        |SELECT id, d, v, true AS pruned_any, true AS range_pruned
        |FROM li
        |WHERE d BETWEEN TIMESTAMP '1997-01-01 00:00:00'
        |            AND TIMESTAMP '1998-06-30 00:00:00'
        |ORDER BY d ASC, id ASC LIMIT 12""".stripMargin,

    // the history must name each generation's op with the right file
    // deltas, and each generation's row count (via time travel) must
    // equal the raw predicates' counts
    "q175_commit_history" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |c1 AS (SELECT COUNT(*) AS n FROM o WHERE k % 3 = 0),
        |c2 AS (SELECT COUNT(*) AS n FROM o WHERE k % 3 < 2),
        |c3 AS (SELECT COUNT(*) AS n FROM o
        |       WHERE k % 3 < 2 AND k % 5 <> 0)
        |SELECT CAST(1 AS BIGINT) AS gen, 'create' AS op,
        |       true AS grew, false AS shrank,
        |       (SELECT n FROM c1) AS n_rows
        |UNION ALL SELECT 2, 'append', true, false, (SELECT n FROM c2)
        |UNION ALL SELECT 3, 'merge', true, true, (SELECT n FROM c3)
        |UNION ALL SELECT 4, 'compact', true, true, (SELECT n FROM c3)
        |ORDER BY gen""".stripMargin,

    // the view must be indistinguishable from a GROUP BY over the
    // source's final state for count/sum/avg; retracted groups (any
    // deleted row) serve null min/max until repaired
    "q170_ivm_refresh" ->
      """WITH li AS (SELECT
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
        |    CAST(l_partkey AS BIGINT) AS g,
        |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v
        |  FROM lineitem),
        |fin AS (SELECT * FROM li WHERE id % 13 <> 2),
        |dg AS (SELECT DISTINCT g FROM li WHERE id % 13 = 2)
        |SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q,
        |       CASE WHEN g IN (SELECT g FROM dg) THEN NULL
        |            ELSE MIN(v) END AS min_q,
        |       CASE WHEN g IN (SELECT g FROM dg) THEN NULL
        |            ELSE MAX(v) END AS max_q,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // after repair the view IS the plain GROUP BY — exact everywhere
    "q171_ivm_repair" ->
      """WITH li AS (SELECT
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
        |    CAST(l_partkey AS BIGINT) AS g,
        |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v
        |  FROM lineitem),
        |fin AS (SELECT * FROM li WHERE id % 13 <> 2)
        |SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q,
        |       MIN(v) AS min_q, MAX(v) AS max_q,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // one multi-measure maintained view = the plain two-measure GROUP
    // BY over the churned source's final state (repairMulti restores
    // exact extrema for both measures, so no retraction CASE)
    "q183_multi_measure_ivm" ->
      """WITH li AS (SELECT
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
        |    CAST(l_partkey AS BIGINT) AS g,
        |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS v0,
        |    CAST(floor(l_quantity * 100.0) AS BIGINT) AS v1
        |  FROM lineitem),
        |fin AS (SELECT g,
        |    CASE WHEN id % 17 = 3 THEN v0 + 7 ELSE v0 END AS v0, v1
        |  FROM li WHERE id % 13 <> 2)
        |SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v0) AS BIGINT) AS sum_q_0,
        |       MIN(v0) AS min_q_0, MAX(v0) AS max_q_0,
        |       CAST(floor(CAST(SUM(v0) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6_0,
        |       CAST(SUM(v1) AS BIGINT) AS sum_q_1,
        |       MIN(v1) AS min_q_1, MAX(v1) AS max_q_1,
        |       CAST(floor(CAST(SUM(v1) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6_1
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // the pair rollup equals the plain FULL JOIN GROUP BY over both
    // final states: the NULL group holds partnerless orders, orphaned
    // customers count into their nation with a null measure (COUNT
    // counts them, SUM skips them — COALESCE matches the view's
    // sum-partials identity of 0 for all-null groups)
    "q184_full_pair_rollup" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders
        |  WHERE CAST(o_custkey AS BIGINT) % 11 <> 5
        |    AND CAST(o_custkey AS BIGINT) % 13 <> 6),
        |ob AS (SELECT cust,
        |    CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v
        |  FROM o),
        |cc AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat
        |  FROM customer WHERE CAST(c_custkey AS BIGINT) % 10 <> 3),
        |fin AS (SELECT v, nat FROM ob FULL JOIN cc USING (cust))
        |SELECT nat AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COALESCE(SUM(v), 0) AS BIGINT) AS sum_q,
        |       MIN(v) AS min_q, MAX(v) AS max_q,
        |       CAST(floor(CAST(COALESCE(SUM(v), 0) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // the SQL TVF answers to the same truth as q157's Scala API
    "q185_sql_time_travel" ->
      """WITH v AS (SELECT l_returnflag AS rf, l_orderkey AS ok,
        |                  CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS c
        |           FROM lineitem)
        |SELECT 'g1' AS snapshot, rf, CAST(SUM(c) AS BIGINT) AS sum_q,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM v WHERE ok % 2 = 0 GROUP BY rf
        |UNION ALL
        |SELECT 'head' AS snapshot, rf, CAST(SUM(c) AS BIGINT) AS sum_q,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM v GROUP BY rf
        |ORDER BY snapshot, rf""".stripMargin,

    // the single multi-measure join+agg view equals the two-measure
    // GROUP BY over the recomputed join (exact extrema post-repair)
    "q186_joinagg_multi_ivm" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v,
        |    CAST(o_orderkey % 97 AS BIGINT) AS w
        |  FROM orders),
        |c AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat
        |  FROM customer WHERE CAST(c_custkey AS BIGINT) % 10 <> 3),
        |fin AS (SELECT CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v,
        |               w, nat
        |  FROM o JOIN c USING (cust))
        |SELECT nat AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q_0,
        |       MIN(v) AS min_q_0, MAX(v) AS max_q_0,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6_0,
        |       CAST(SUM(w) AS BIGINT) AS sum_q_1,
        |       MIN(w) AS min_q_1, MAX(w) AS max_q_1,
        |       CAST(floor(CAST(SUM(w) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6_1
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // one multi-measure LEFT-outer join+agg view = the two-measure
    // LEFT JOIN GROUP BY over both final states, NULL group included
    "q188_joinagg_left_multi" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v,
        |    CAST(o_orderkey % 89 AS BIGINT) AS w
        |  FROM orders),
        |cc AS (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |    CAST(c_nationkey AS BIGINT) AS nat
        |  FROM customer WHERE CAST(c_custkey AS BIGINT) % 10 <> 3),
        |fin AS (SELECT CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v,
        |               w, nat
        |  FROM o LEFT JOIN cc USING (cust))
        |SELECT nat AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(v) AS BIGINT) AS sum_q_0,
        |       MIN(v) AS min_q_0, MAX(v) AS max_q_0,
        |       CAST(floor(CAST(SUM(v) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6_0,
        |       CAST(SUM(w) AS BIGINT) AS sum_q_1,
        |       MIN(w) AS min_q_1, MAX(w) AS max_q_1,
        |       CAST(floor(CAST(SUM(w) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6_1
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // the multi-measure pair rollup = the two-measure FULL JOIN GROUP
    // BY: v is A-side (null on orphaned customers), acct is B-side
    // (null on partnerless orders) — COALESCE matches the view's
    // sum-partials identity of 0 for all-null groups, both measures
    "q189_full_pair_multi" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders
        |  WHERE CAST(o_custkey AS BIGINT) % 11 <> 5
        |    AND CAST(o_custkey AS BIGINT) % 13 <> 6),
        |ob AS (SELECT cust,
        |    CASE WHEN k % 9 = 0 THEN v + 11 ELSE v END AS v
        |  FROM o),
        |cc AS (SELECT cust, nat,
        |    CASE WHEN cust % 10 = 4 THEN acct + 7 ELSE acct END AS acct
        |  FROM (SELECT CAST(c_custkey AS BIGINT) AS cust,
        |          CAST(c_nationkey AS BIGINT) AS nat,
        |          CAST(floor(c_acctbal * 100.0) AS BIGINT) AS acct
        |        FROM customer)
        |  WHERE cust % 10 <> 3),
        |fin AS (SELECT v, nat, acct FROM ob FULL JOIN cc USING (cust))
        |SELECT nat AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COALESCE(SUM(v), 0) AS BIGINT) AS sum_q_0,
        |       MIN(v) AS min_q_0, MAX(v) AS max_q_0,
        |       CAST(floor(CAST(COALESCE(SUM(v), 0) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6_0,
        |       CAST(COALESCE(SUM(acct), 0) AS BIGINT) AS sum_q_1,
        |       MIN(acct) AS min_q_1, MAX(acct) AS max_q_1,
        |       CAST(floor(CAST(COALESCE(SUM(acct), 0) AS DOUBLE) * 1000000.0
        |            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_e6_1
        |FROM fin GROUP BY g ORDER BY g""".stripMargin,

    // the SQL CDC TVF answers to q158's oracle: the multiset delta
    // from the raw predicates (g1 = even half; g3 = minus 'R' rows)
    "q187_sql_generation_diff" ->
      """WITH v AS (SELECT l_returnflag AS rf, l_orderkey AS ok,
        |                  CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS c
        |           FROM lineitem)
        |SELECT 'insert' AS change, rf, ok, c FROM v
        |WHERE ok % 2 = 1 AND rf <> 'R'
        |UNION ALL
        |SELECT 'delete' AS change, rf, ok, c FROM v
        |WHERE ok % 2 = 0 AND rf = 'R'
        |ORDER BY change, ok, rf, c""".stripMargin)
}
