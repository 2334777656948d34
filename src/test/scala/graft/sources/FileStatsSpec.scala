package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** File-level data skipping from parquet footer min/max: time-ordered
  * appends prune to the matching batches' files, pruning is
  * conservative (never changes the result, only the files read), an
  * all-null file is provably prunable, and a commit invalidates the
  * stats via the generation-keyed cache. */
class FileStatsSpec extends SparkSuite {
  import spark.implicits._

  private def slice(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong,
      java.sql.Date.valueOf(java.time.LocalDate.of(1994, 1, 1).plusDays(i)),
      f"s$i%04d", i.toLong * 3))
      .toDF("k", "d", "s", "v")

  private def mk(table: String): Unit = {
    // three commits, each covering a disjoint range of d/s/v — the
    // append-ordered layout footer stats prune on
    Bucketed.save(slice(0, 100), table, Seq("k"), 2)
    Bucketed.save(slice(100, 200), table, Seq("k"), 2,
      mode = org.apache.spark.sql.SaveMode.Append)
    Bucketed.save(slice(200, 300), table, Seq("k"), 2,
      mode = org.apache.spark.sql.SaveMode.Append)
  }

  test("date-range read prunes non-matching appends' files, result identical to full scan") {
    val table = "graft_stats_date"
    try {
      mk(table)
      val lo = java.time.LocalDate.of(1994, 1, 1).plusDays(220)
      val hi = java.time.LocalDate.of(1994, 1, 1).plusDays(260)
      val (kept, pruned) = FileStats.splitFiles(spark, table, "d",
        java.sql.Date.valueOf(lo), java.sql.Date.valueOf(hi))
      assert(pruned.nonEmpty, "first two appends' files must prune")
      assert(kept.nonEmpty)
      val got = FileStats.loadBetween(spark, table, "d",
          java.sql.Date.valueOf(lo), java.sql.Date.valueOf(hi))
        .select("k").as[Long].collect().toSet
      val want = Bucketed.load(spark, table)
        .filter(col("d").between(lit(java.sql.Date.valueOf(lo)),
          lit(java.sql.Date.valueOf(hi))))
        .select("k").as[Long].collect().toSet
      assert(got == want && want == (220L to 260L).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("string- and long-range reads prune and match the full scan") {
    val table = "graft_stats_str"
    try {
      mk(table)
      val (keptS, prunedS) =
        FileStats.splitFiles(spark, table, "s", "s0050", "s0060")
      assert(prunedS.nonEmpty && keptS.nonEmpty)
      val gotS = FileStats.loadBetween(spark, table, "s", "s0050", "s0060")
        .select("k").as[Long].collect().toSet
      assert(gotS == (50L to 60L).toSet)
      val (keptV, prunedV) =
        FileStats.splitFiles(spark, table, "v", 330L, 360L)
      assert(prunedV.nonEmpty && keptV.nonEmpty)
      val gotV = FileStats.loadBetween(spark, table, "v", 330L, 360L)
        .select("k").as[Long].collect().toSet
      assert(gotV == (110L to 120L).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("pruning on the hashed bucket key keeps the result correct (hash spreads ranges everywhere)") {
    val table = "graft_stats_hashkey"
    try {
      mk(table)
      val got = FileStats.loadBetween(spark, table, "k", 10L, 20L)
        .select("k").as[Long].collect().toSet
      assert(got == (10L to 20L).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("countWhere answers covered files from metadata and scans only the boundary") {
    val table = "graft_stats_count"
    try {
      // six 50-row appends (finer than mk's three): since save() clusters
      // to one file per bucket per commit, the 3-append layout leaves the
      // [150,750] range with MORE boundary files than interior ones and
      // the boundary-only assertion below loses its discrimination — the
      // finer commit cadence restores interior-majority coverage while
      // testing the same metadata-vs-scan split
      for (j <- 0 until 6)
        Bucketed.save(slice(j * 50, (j + 1) * 50), table, Seq("k"), 2,
          mode = if (j == 0) org.apache.spark.sql.SaveMode.Overwrite
                 else org.apache.spark.sql.SaveMode.Append)
      // range [150, 750] over v = 3k: commit 0 (v 0..147) prunes,
      // commits 1-4 (v 150..747) are fully covered (metadata), commit 5
      // (v 750..897) is the boundary and scans
      val r = FileStats.countWhere(spark, table, "v", 150L, 750L)
      assert(r.count == (50 until 251).size.toLong,
        s"v=3i in [150,750] → i in [50,250]: $r")
      assert(r.coveredFiles > 0, s"interior files must answer from metadata: $r")
      assert(r.scannedFiles < r.coveredFiles + r.prunedFiles,
        s"only the range boundary should scan: $r")
      // fully-pruned range: zero rows, zero scan
      val r2 = FileStats.countWhere(spark, table, "v", 5000L, 6000L)
      assert(r2.count == 0L && r2.coveredFiles == 0 &&
        r2.scannedFiles == 0 && r2.prunedFiles > 0, s"$r2")
      // whole-table range: all metadata, zero scan
      val r3 = FileStats.countWhere(spark, table, "v", 0L, 10000L)
      assert(r3.count == 300L && r3.scannedFiles == 0 && r3.coveredFiles > 0)
      // agreement with the real count, always
      assert(r.count == Bucketed.load(spark, table)
        .filter(col("v").between(150L, 750L)).count())
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("minMaxWhere answers from proven file bounds, scanning only admissible boundary files") {
    val table = "graft_stats_minmax"
    try {
      mk(table) // v = 3i over three appends
      // interior range: min/max attained in fully-covered files
      val (mn, mx) = FileStats.minMaxWhere(spark, table, "v", 150L, 750L)
      assert(mn.contains(150L) && mx.contains(750L), s"$mn $mx")
      // boundary-straddling odd range
      val (mn2, mx2) = FileStats.minMaxWhere(spark, table, "v", 151L, 749L)
      assert(mn2.contains(153L) && mx2.contains(747L), s"$mn2 $mx2")
      // empty range
      assert(FileStats.minMaxWhere(spark, table, "v", 5000L, 6000L)
        == (None, None))
      // agreement with the real aggregates
      val r = Bucketed.load(spark, table)
        .filter(col("v").between(150L, 750L))
        .agg(min("v"), max("v")).head()
      assert(mn.contains(r.getLong(0)) && mx.contains(r.getLong(1)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a bound whose type mismatches the column's logical type keeps every file (conservative, never wrong-prunes)") {
    val table = "graft_stats_domain"
    try {
      mk(table)
      // Instant bounds on a DATE column: both sides are numeric keys
      // (epoch-micros vs epoch-day), so a class-only check would
      // compare ~1e15 against ~1e2 and prune EVERY file — the schema
      // check must keep them all instead
      val inst = java.time.LocalDate.of(1994, 5, 1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      val (kept, pruned) = FileStats.splitFiles(spark, table, "d",
        inst, inst.plusSeconds(86400 * 40))
      assert(pruned.isEmpty, s"domain mismatch must keep all files, pruned ${pruned.size}")
      assert(kept.nonEmpty)
      // LocalDate bounds on a BIGINT column: same rule
      val (kept2, pruned2) = FileStats.splitFiles(spark, table, "v",
        java.time.LocalDate.of(1994, 1, 1), java.time.LocalDate.of(1994, 2, 1))
      assert(pruned2.isEmpty && kept2.nonEmpty)
      // countWhere under a mismatch degrades to scanning everything,
      // never to a silent zero
      val r = FileStats.countWhere(spark, table, "d", inst,
        inst.plusSeconds(86400 * 40))
      assert(r.prunedFiles == 0 && r.coveredFiles == 0,
        s"mismatch must neither prune nor metadata-answer: $r")
      // and a column the schema lacks keeps everything too
      val (_, pruned3) = FileStats.splitFiles(spark, table, "nope", 1L, 2L)
      assert(pruned3.isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("±Infinity in a double column degrades that column's stats to unknown — reads keep working and stay exact") {
    val table = "graft_stats_inf"
    try {
      Bucketed.save(
        (0 until 50).map(i => (i.toLong, i.toDouble)).toDF("k", "x"),
        table, Seq("k"), 2)
      Bucketed.save(
        Seq((1000L, Double.NegativeInfinity), (1001L, 99999.0),
            (1002L, Double.PositiveInfinity))
          .toDF("k", "x"),
        table, Seq("k"), 2, mode = org.apache.spark.sql.SaveMode.Append)
      // statsOf must not throw (BigDecimal cannot represent ±Inf); the
      // infinite file's x-stats are unknown, so it is always kept
      val (kept, _) = FileStats.splitFiles(spark, table, "x", 10.0, 20.0)
      assert(kept.nonEmpty)
      assert(FileStats.loadBetween(spark, table, "x", 10.0, 20.0)
        .count() == 11)
      val r = FileStats.countWhere(spark, table, "x", 10.0, 20.0)
      assert(r.count == 11)
      // minMaxWhere over a range whose scan returns -Infinity must
      // fold the scanned extremum in, not crash or drop it
      val (mn, mx) = FileStats.minMaxWhere(spark, table, "x",
        Double.NegativeInfinity, 1e9)
      assert(mn.contains(Double.NegativeInfinity), s"$mn")
      assert(mx.contains(99999.0), s"+Inf is outside [−Inf, 1e9]: $mx")
      val (mn2, mx2) = FileStats.minMaxWhere(spark, table, "x",
        Double.NegativeInfinity, Double.PositiveInfinity)
      assert(mn2.contains(Double.NegativeInfinity), s"$mn2")
      assert(mx2.contains(Double.PositiveInfinity), s"$mx2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("persisted sidecar: a fresh process answers metadata queries with ZERO footer opens") {
    val table = "graft_stats_sidecar"
    try {
      mk(table)
      // first touch: footer-reads everything and writes the sidecar
      FileStats.statsOf(spark, table)
      // simulate a fresh process: in-process cache gone, sidecar stays
      FileStats.forgetCached()
      val before = FileStats.footerOpens.get()
      val r = FileStats.countWhere(spark, table, "v", 0L, 10000L)
      assert(r.count == 300L && r.scannedFiles == 0)
      val (mn, mx) = FileStats.minMaxWhere(spark, table, "v", 0L, 10000L)
      assert(mn.contains(0L) && mx.contains(897L))
      val (_, pruned) = FileStats.splitFiles(spark, table, "v", 330L, 360L)
      assert(pruned.nonEmpty)
      assert(FileStats.footerOpens.get() == before,
        s"cold metadata queries must not open footers: " +
          s"${FileStats.footerOpens.get() - before} opened")
      // an APPEND invalidates nothing already known: only the new
      // files' footers are read
      val filesBefore = FileStats.statsOf(spark, table).keySet
      Bucketed.save(slice(300, 320), table, Seq("k"), 2,
        mode = org.apache.spark.sql.SaveMode.Append)
      FileStats.forgetCached()
      val before2 = FileStats.footerOpens.get()
      assert(FileStats.countWhere(spark, table, "v", 0L, 10000L).count == 320L)
      val newFiles = FileStats.statsOf(spark, table).keySet -- filesBefore
      val opened = FileStats.footerOpens.get() - before2
      assert(opened > 0 && opened == newFiles.size,
        s"only the ${newFiles.size} appended files' footers should open, got $opened")
      // and the refreshed sidecar covers them for the NEXT fresh process
      FileStats.forgetCached()
      val before3 = FileStats.footerOpens.get()
      assert(FileStats.countWhere(spark, table, "v", 0L, 10000L).count == 320L)
      assert(FileStats.footerOpens.get() == before3)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("sidecar round-trips every stat shape: strings, dates, all-null, non-finite, bloom presence") {
    val table = "graft_stats_roundtrip"
    try {
      Bucketed.save(
        (0 until 40).map(i => (i.toLong,
          java.sql.Date.valueOf(java.time.LocalDate.of(2000, 1, 1).plusDays(i)),
          s"s$i", if (i < 20) i.toDouble else Double.PositiveInfinity))
          .toDF("k", "d", "s", "x"),
        table, Seq("k"), 2,
        writeOptions = Map("parquet.bloom.filter.enabled#s" -> "true"))
      Bucketed.save(
        (100 until 120).map(i => (i.toLong,
          null.asInstanceOf[java.sql.Date], s"t$i", i.toDouble))
          .toDF("k", "d", "s", "x"),
        table, Seq("k"), 2, mode = org.apache.spark.sql.SaveMode.Append)
      val direct = FileStats.statsOf(spark, table)
      FileStats.forgetCached()
      val viaSidecar = FileStats.statsOf(spark, table)
      assert(viaSidecar == direct,
        "sidecar round-trip must reproduce the footer stats exactly")
      assert(viaSidecar.values.exists(_.bloomCols("s")),
        "bloom presence must survive the round trip")
      // bloom-presence shortcut: equality split on a bloom-less column
      // opens no footers (every file provably lacks a 'k'-bloom)
      val before = FileStats.footerOpens.get()
      FileStats.splitFilesEquals(spark, table, "k", 7L)
      assert(FileStats.footerOpens.get() == before,
        "equality split on a bloomless column must not open footers")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("metadata-first topK scans only boundary files and equals the full sort") {
    val table = "graft_stats_topk"
    try {
      mk(table) // three appends: v = 3i over [0,300), d time-ordered
      val r = FileStats.topK(spark, table, "v", k = 7, tieCols = Seq("k"))
      import spark.implicits._
      val got = r.rows.select("k", "v").as[(Long, Long)].collect().toSeq
      val want = Bucketed.load(spark, table)
        .orderBy(col("v").desc, col("k").asc)
        .limit(7).select("k", "v").as[(Long, Long)].collect().toSeq
      assert(got == want)
      assert(r.scannedFiles < r.totalFiles,
        s"older appends must not be read: $r")
      // k larger than the table: full result, everything scanned
      val rAll = FileStats.topK(spark, table, "v", k = 1000)
      assert(rAll.rows.count() == 300)
      // ties at the boundary must not stop the scan early: a column
      // with ONE value everywhere forces the full sweep and still
      // agrees with the plain sort
      val tied = FileStats.topK(spark, table, "d", k = 5, tieCols = Seq("k"))
      val wantTied = Bucketed.load(spark, table)
        .orderBy(col("d").desc, col("k").asc).limit(5)
        .select("k").as[Long].collect().toSeq
      assert(tied.rows.select("k").as[Long].collect().toSeq == wantTied)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("topK scans files whose max stat is unusable (non-finite) — never mistakes them for all-null") {
    val table = "graft_stats_topk_inf"
    try {
      // first commit: many finite rows (enough to fill k from one
      // prefix); second commit: the TRUE top values, but its file's
      // max is ±Inf → no comparable stat key → 'unknown', not 'null'
      Bucketed.save((0 until 100).map(i => (i.toLong, i.toDouble))
        .toDF("k", "x"), table, Seq("k"), 2)
      Bucketed.save(
        Seq((1000L, Double.PositiveInfinity), (1001L, 99999.0))
          .toDF("k", "x"),
        table, Seq("k"), 2, mode = org.apache.spark.sql.SaveMode.Append)
      import spark.implicits._
      val got = FileStats.topK(spark, table, "x", k = 3, tieCols = Seq("k"))
        .rows.select("k").as[Long].collect().toSeq
      val want = Bucketed.load(spark, table)
        .orderBy(col("x").desc, col("k").asc).limit(3)
        .select("k").as[Long].collect().toSeq
      assert(got == want, s"got $got want $want")
      assert(got.head == 1000L, "the +Inf row must rank first")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("topK with a NULL k-th value keeps scanning: an all-null file can still win on the tiebreaker") {
    val table = "graft_stats_topk_nullk"
    try {
      // one file holds a non-null top value AND a null row (its max
      // stat is usable); a second, all-null file holds the row that
      // wins the null-vs-null TIEBREAK (k=1 < k=19)
      Bucketed.save(
        Seq((9L, Option(5.0)), (19L, Option.empty[Double]))
          .toDF("k", "x"),
        table, Seq("k"), 1)
      Bucketed.save(Seq((1L, Option.empty[Double])).toDF("k", "x"),
        table, Seq("k"), 1, mode = org.apache.spark.sql.SaveMode.Append)
      import spark.implicits._
      val got = FileStats.topK(spark, table, "x", k = 2, tieCols = Seq("k"))
        .rows.select("k").as[Long].collect().toSeq
      val want = Bucketed.load(spark, table)
        .orderBy(col("x").desc, col("k").asc).limit(2)
        .select("k").as[Long].collect().toSeq
      assert(got == want, s"got $got want $want")
      assert(got == Seq(9L, 1L),
        "the all-null file's row must win the null tiebreak")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("an all-null file is provably prunable; a commit refreshes the stats") {
    val table = "graft_stats_null"
    try {
      Bucketed.save(slice(0, 50), table, Seq("k"), 2)
      Bucketed.save(
        (1000 until 1050).map(i => (i.toLong,
            null.asInstanceOf[java.sql.Date], s"t$i", i.toLong))
          .toDF("k", "d", "s", "v"),
        table, Seq("k"), 2, mode = org.apache.spark.sql.SaveMode.Append)
      val lo = java.sql.Date.valueOf("1994-01-10")
      val hi = java.sql.Date.valueOf("1994-01-20")
      val (_, pruned) = FileStats.splitFiles(spark, table, "d", lo, hi)
      assert(pruned.nonEmpty, "the all-null append must prune")
      assert(FileStats.loadBetween(spark, table, "d", lo, hi)
        .count() == 11)
      // a merge commit advances the generation → fresh stats: rows
      // moved into range must now be found
      Bucketed.mergeByKey(spark, table,
        Seq((1000L, java.sql.Date.valueOf("1994-01-15"), "t1000", 1000L))
          .toDF("k", "d", "s", "v"))
      assert(FileStats.loadBetween(spark, table, "d", lo, hi)
        .count() == 12)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("writeSidecar never clobbers a fresher process's sidecar (skips the stale write)") {
    val table = "graft_stats_noclobber"
    try {
      mk(table)
      FileStats.statsOf(spark, table) // stamps the head's sidecar
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val g = Bucketed.currentGeneration(spark, table)
      def sidecar(gen: Long) =
        new org.apache.hadoop.fs.Path(loc, s"_graft_stats.$gen")
      // a fresher process stamped a NEWER generation's sidecar between
      // this reader's manifest resolution and its write-behind
      val newer = sidecar(g + 5)
      val out = fs.create(newer, true)
      out.write("theirs".getBytes("UTF-8")); out.close()
      Bucketed.save(slice(300, 310), table, Seq("k"), 2,
        mode = org.apache.spark.sql.SaveMode.Append) // head is now g+1
      FileStats.forgetCached()
      FileStats.statsOf(spark, table) // pre-fix: deleted `newer`
      assert(fs.exists(newer),
        "a newer-generation sidecar must never be deleted by a stale writer")
      assert(!fs.exists(sidecar(g + 1)),
        "the stale write itself is skipped — newest-parseable-wins on read")
      assert(fs.exists(sidecar(g)),
        "the prior sidecar survives too (nothing superseded by a skipped write)")
      // correctness never depended on the skip: stats still answer
      assert(FileStats.countWhere(spark, table, "v", 0L, 10000L).count == 310L)
      // once the newer sidecar is gone, the next reader stamps
      // normally and strictly-older sidecars drop
      fs.delete(newer, false)
      FileStats.forgetCached()
      FileStats.statsOf(spark, table)
      assert(fs.exists(sidecar(g + 1)) && !fs.exists(sidecar(g)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("ascending topK (bottom-k) visits footer-MIN order, nulls last, equals the full asc sort") {
    val table = "graft_stats_bottomk"
    try {
      mk(table) // v = 3i over [0,300), appended in three time-ordered slices
      import spark.implicits._
      val r = FileStats.topK(spark, table, "v", k = 7,
        tieCols = Seq("k"), ascending = true)
      val got = r.rows.select("k", "v").as[(Long, Long)].collect().toSeq
      val want = Bucketed.load(spark, table)
        .orderBy(col("v").asc_nulls_last, col("k").asc)
        .limit(7).select("k", "v").as[(Long, Long)].collect().toSeq
      assert(got == want && got.map(_._2) == (0L until 21L by 3L))
      assert(r.scannedFiles < r.totalFiles,
        s"newer appends must not be read on a bottom-k: $r")
      // an all-null file sorts LAST in ascending order too (NULLS
      // LAST, the oracle's default) — it must not fill the bottom-k
      Bucketed.save(
        (1000 until 1010).map(i => (i.toLong,
            null.asInstanceOf[java.sql.Date], s"t$i",
            null.asInstanceOf[java.lang.Long]))
          .toDF("k", "d", "s", "v"),
        table, Seq("k"), 2, mode = org.apache.spark.sql.SaveMode.Append)
      val r2 = FileStats.topK(spark, table, "v", k = 5,
        tieCols = Seq("k"), ascending = true)
      assert(r2.rows.select("v").as[Long].collect().toSeq
        == (0L until 15L by 3L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("range-filtered topK visits only the filtered set's boundary files, exact predicate re-applied") {
    val table = "graft_stats_topk_range"
    try {
      mk(table) // d and v both increase with i — range on d, order by v
      import spark.implicits._
      val lo = java.sql.Date.valueOf(
        java.time.LocalDate.of(1994, 1, 1).plusDays(100).toString)
      val hi = java.sql.Date.valueOf(
        java.time.LocalDate.of(1994, 1, 1).plusDays(199).toString)
      val r = FileStats.topK(spark, table, "v", k = 6,
        tieCols = Seq("k"), range = Some(("d", lo, hi)))
      val got = r.rows.select("k", "v").as[(Long, Long)].collect().toSeq
      val want = Bucketed.load(spark, table)
        .filter(col("d").between(lit(lo), lit(hi)))
        .orderBy(col("v").desc, col("k").asc)
        .limit(6).select("k", "v").as[(Long, Long)].collect().toSeq
      assert(got == want && got.map(_._1).toSet
        == (194L to 199L).toSet)
      // the range's provably-matchless files never entered the visit
      // at all: totalFiles is the FILTERED candidate set
      val allHead = Bucketed.resolveGeneration(spark, table).files
      assert(r.totalFiles < allHead.size,
        s"range must prune files out of the candidate set: $r vs ${allHead.size}")
      // ascending composes with the range too (bottom-k of the band)
      val rAsc = FileStats.topK(spark, table, "v", k = 4,
        tieCols = Seq("k"), ascending = true, range = Some(("d", lo, hi)))
      assert(rAsc.rows.select("k").as[Long].collect().toSeq
        == (100L to 103L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("topK beyond collectMax never lands k rows on the driver and still stops at the boundary") {
    val table = "graft_stats_topk_bigk"
    try {
      mk(table)
      import spark.implicits._
      // collectMax = 0 forces the distributed path at ANY k: the stop
      // check runs as a 3-scalar aggregate and the winner serves as
      // the distributed limit(k) frame — result and pruning identical
      // to the collected path
      val r = FileStats.topK(spark, table, "v", k = 7,
        tieCols = Seq("k"), collectMax = 0)
      val want = Bucketed.load(spark, table)
        .orderBy(col("v").desc, col("k").asc)
        .limit(7).select("k", "v").as[(Long, Long)].collect().toSeq
      assert(r.rows.select("k", "v").as[(Long, Long)].collect().toSeq
        == want)
      assert(r.scannedFiles < r.totalFiles, s"boundary stop must hold: $r")
      // ascending + distributed
      val rAsc = FileStats.topK(spark, table, "v", k = 7,
        tieCols = Seq("k"), ascending = true, collectMax = 0)
      assert(rAsc.rows.select("v").as[Long].collect().toSeq
        == (0L until 21L by 3L))
      // the null-k-th guard holds in the 3-scalar check too: a null
      // k-th row (non-nulls < k) must KEEP scanning into the all-null
      // file that wins the tiebreak — the collected-path contract
      spark.sql("DROP TABLE IF EXISTS graft_stats_bigk_nullk")
      Bucketed.save(
        Seq((9L, Option(5.0)), (19L, Option.empty[Double]))
          .toDF("k", "x"),
        "graft_stats_bigk_nullk", Seq("k"), 1)
      Bucketed.save(Seq((1L, Option.empty[Double])).toDF("k", "x"),
        "graft_stats_bigk_nullk", Seq("k"), 1,
        mode = org.apache.spark.sql.SaveMode.Append)
      val gotN = FileStats.topK(spark, "graft_stats_bigk_nullk", "x",
          k = 2, tieCols = Seq("k"), collectMax = 0)
        .rows.select("k").as[Long].collect().toSeq
      assert(gotN == Seq(9L, 1L), s"got $gotN")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql("DROP TABLE IF EXISTS graft_stats_bigk_nullk")
    }
  }

  test("a listed file missing from disk fails countWhere and loadWhere loudly instead of reading fewer rows") {
    val table = "graft_stats_lost_file"
    try {
      // two commits over two buckets: four listed files
      Bucketed.save(slice(0, 100), table, Seq("k"), 2)
      Bucketed.save(slice(100, 200), table, Seq("k"), 2,
        mode = org.apache.spark.sql.SaveMode.Append)
      val listed = Bucketed.load(spark, table).inputFiles
      assert(listed.length == 4, listed.mkString(", "))
      // one listed file vanishes out of band
      val lost = new org.apache.hadoop.fs.Path(listed.head)
      assert(lost.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lost, false))
      intercept[IllegalStateException] {
        FileStats.countWhere(spark, table, "v", 0L, 10000L)
      }
      intercept[IllegalStateException] {
        FileStats.loadWhere(spark, table, Seq(("v", 0L, 10000L))).count()
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
