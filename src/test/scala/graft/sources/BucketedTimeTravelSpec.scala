package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Generation retention, time travel, and vacuum: with retention
  * enabled, superseded files stay IN PLACE (unlisted — invisible to
  * every manifest-resolved read, which load() now is), loadAsOf
  * reconstructs any retained generation exactly, crash-window
  * reconciliation keeps files older retained generations still list
  * and deletes true orphans, and vacuum bounds history loudly.
  * Default retention keeps delete-at-commit behavior byte for byte —
  * every pre-existing Bucketed spec pins that. */
class BucketedTimeTravelSpec extends SparkSuite {
  import spark.implicits._

  private def mk(table: String, lo: Int, hi: Int): Unit = {
    val rows = (lo until hi).map(i => (s"k${i % 5}", i.toLong))
    rows.toDF("bkey", "doc").createOrReplaceTempView(s"${table}_rows")
    Bucketed.save(spark.table(s"${table}_rows"), table, Seq("bkey"), 4)
  }

  private def append(table: String, lo: Int, hi: Int): Unit = {
    val rows = (lo until hi).map(i => (s"k${i % 5}", i.toLong))
    Bucketed.save(rows.toDF("bkey", "doc"), table, Seq("bkey"), 4,
      mode = org.apache.spark.sql.SaveMode.Append)
  }

  private def docsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc").as[Long].collect().toSet

  test("loadAsOf reconstructs every retained generation through append and rewrite") {
    val table = "graft_tt_basic"
    try {
      mk(table, 0, 40)
      Bucketed.setRetention(spark, table, 4)
      val g1 = Bucketed.currentGeneration(spark, table)
      append(table, 40, 60) // g2
      val g2 = Bucketed.currentGeneration(spark, table)
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") % 2 === 0)) // g3
      val g3 = Bucketed.currentGeneration(spark, table)
      assert(g2 == g1 + 1 && g3 == g2 + 1)
      assert(Bucketed.generations(spark, table).takeRight(3)
        == Seq(g1, g2, g3))
      // each snapshot is the state as of its commit
      assert(docsOf(Bucketed.loadAsOf(spark, table, g1))
        == (0L until 40L).toSet)
      assert(docsOf(Bucketed.loadAsOf(spark, table, g2))
        == (0L until 60L).toSet)
      assert(docsOf(Bucketed.loadAsOf(spark, table, g3))
        == (0L until 60L by 2).toSet)
      // the HOT path still serves exactly the head generation: the
      // in-place-retired files are unlisted by the head manifest
      assert(docsOf(Bucketed.load(spark, table))
        == (0L until 60L by 2).toSet)
      // snapshot-isolated current read ≡ hot read
      assert(docsOf(Bucketed.loadAsOf(spark, table,
        Bucketed.currentGeneration(spark, table)))
        == (0L until 60L by 2).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("history stays bounded at the retention setting without explicit vacuum") {
    val table = "graft_tt_bound"
    try {
      mk(table, 0, 30)
      Bucketed.setRetention(spark, table, 2)
      // three rewrites: each commit retires the superseded generation
      // and auto-prunes beyond the 2-generation window
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") < 25))
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") < 20))
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") < 15))
      val gens = Bucketed.generations(spark, table)
      assert(gens.size == 2, s"expected 2 retained generations, got $gens")
      assert(docsOf(Bucketed.loadAsOf(spark, table, gens.head))
        == (0L until 20L).toSet)
      assert(docsOf(Bucketed.loadAsOf(spark, table, gens.last))
        == (0L until 15L).toSet)
      // a generation beyond the window fails loudly, naming what IS there
      val ex = intercept[IllegalArgumentException] {
        Bucketed.loadAsOf(spark, table, gens.head - 1)
      }
      assert(ex.getMessage.contains("no readable generation"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("crash window: reconciliation keeps files a retained generation lists, deletes true orphans") {
    val table = "graft_tt_crash"
    try {
      mk(table, 0, 30)
      Bucketed.setRetention(spark, table, 3)
      append(table, 30, 45)
      val g2 = Bucketed.currentGeneration(spark, table)
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") < 10)) // g3
      val g3 = Bucketed.currentGeneration(spark, table)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // in-place retention: g2's superseded files are STILL in the hot
      // dir, unlisted by the head manifest but listed by g2's
      val hotNames = fs.listStatus(loc).filter(f =>
        f.isFile && f.getPath.getName.startsWith("part-"))
        .map(_.getPath.getName).toSet
      val g2Only = Bucketed.loadAsOf(spark, table, g2).inputFiles
        .map(p => new org.apache.hadoop.fs.Path(p).getName)
        .filterNot(Bucketed.loadAsOf(spark, table, g3).inputFiles
          .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet)
      assert(g2Only.nonEmpty && g2Only.forall(hotNames))
      // plus a TRUE orphan (never listed by any manifest) — a crashed
      // maintenance op's uncommitted staging leftover
      val orphan = new org.apache.hadoop.fs.Path(loc, "part-orphan-xyz_0.parquet")
      val out = fs.create(orphan, true)
      out.write(Array[Byte](1, 2, 3)); out.close()
      // cold reconcile: forget the verified cache, then load
      Bucketed.forgetVerified()
      assert(docsOf(Bucketed.load(spark, table)) == (0L until 10L).toSet)
      // the retained generations' files are untouched (g2 still
      // readable), the orphan is gone
      assert(!fs.exists(orphan))
      assert(g2Only.forall(n =>
        fs.exists(new org.apache.hadoop.fs.Path(loc, n))))
      assert(docsOf(Bucketed.loadAsOf(spark, table, g2))
        == (0L until 45L).toSet)
      assert(g3 == g2 + 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("vacuum drops history beyond retain and deletes unreferenced retired files") {
    val table = "graft_tt_vac"
    try {
      mk(table, 0, 30)
      Bucketed.setRetention(spark, table, 4)
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") < 25))
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") < 20))
      assert(Bucketed.generations(spark, table).size == 3)
      val (dropped, deleted) = Bucketed.vacuum(spark, table, retain = 1)
      assert(dropped == 2 && deleted > 0)
      assert(Bucketed.generations(spark, table).size == 1)
      // head unaffected; history gone loudly
      assert(docsOf(Bucketed.load(spark, table)) == (0L until 20L).toSet)
      intercept[IllegalArgumentException] {
        Bucketed.loadAsOf(spark, table,
          Bucketed.currentGeneration(spark, table) - 1)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("diffGenerations emits the row-level delta from only the changed files") {
    val table = "graft_tt_diff"
    try {
      mk(table, 0, 40)
      Bucketed.setRetention(spark, table, 5)
      val g1 = Bucketed.currentGeneration(spark, table)
      append(table, 40, 55) // g2: inserts only
      val g2 = Bucketed.currentGeneration(spark, table)
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") % 3 =!= 0)) // g3
      val g3 = Bucketed.currentGeneration(spark, table)

      def delta(a: Long, b: Long): Set[(String, Long)] =
        Bucketed.diffGenerations(spark, table, a, b)
          .select("change", "doc").as[(String, Long)].collect().toSet

      // append: pure inserts
      assert(delta(g1, g2) ==
        (40L until 55L).map(("insert", _)).toSet)
      // rewrite: pure deletes (the %3 rows), across BOTH prior batches
      assert(delta(g2, g3) ==
        (0L until 55L by 3).map(("delete", _)).toSet)
      // composed diff g1 -> g3
      assert(delta(g1, g3) ==
        ((40L until 55L).filter(_ % 3 != 0).map(("insert", _)) ++
          (0L until 40L by 3).map(("delete", _))).toSet)
      // O(changed files): the g1->g2 diff reads only the appended
      // files, never g1's untouched ones
      val g1Files = docsOf(Bucketed.loadAsOf(spark, table, g1)) // force ok
      val diffInputs = Bucketed.diffGenerations(spark, table, g1, g2)
        .inputFiles.toSet
      val g1Inputs = Bucketed.loadAsOf(spark, table, g1).inputFiles.toSet
      assert(diffInputs.nonEmpty && diffInputs.intersect(g1Inputs).isEmpty)
      assert(g1Files == (0L until 40L).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("vacuum never deletes live files when no valid manifest is provable (torn head, pre-manifest)") {
    val table = "graft_tt_vacsafe"
    try {
      mk(table, 0, 25)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val headGen = Bucketed.currentGeneration(spark, table)
      // plant a TORN manifest ABOVE the head (a crash mid-write, or
      // another process's in-flight commit): vacuum(retain=1) must
      // count the retain window over VALID manifests — the old code
      // kept only the torn entry, proved nothing, and deleted every
      // live data file
      val torn = new org.apache.hadoop.fs.Path(loc,
        s"_graft_manifest.${headGen + 1}")
      val out = fs.create(torn, true)
      out.write("garbage\nnot a manifest".getBytes("UTF-8")); out.close()
      val (dropped, deleted) = Bucketed.vacuum(spark, table, retain = 1)
      assert(deleted == 0, s"no file of the valid head may die: $deleted")
      assert(dropped == 0, "nothing older than the kept valid generation")
      assert(fs.exists(torn),
        "a torn manifest above the head may be an in-flight commit — untouchable")
      assert(docsOf(Bucketed.load(spark, table)) == (0L until 25L).toSet)
      // degenerate: NO parseable manifest at all → vacuum touches nothing
      fs.delete(new org.apache.hadoop.fs.Path(loc,
        s"_graft_manifest.$headGen"), false)
      Bucketed.forgetVerified()
      val (d2, f2) = Bucketed.vacuum(spark, table, retain = 1)
      assert(d2 == 0 && f2 == 0, "nothing provable → nothing deleted")
      assert(fs.listStatus(loc).count(f =>
        f.isFile && f.getPath.getName.startsWith("part-")) > 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("vacuum spares a possibly-in-flight commit's staged files (torn manifest above the head)") {
    val table = "graft_tt_vacinflight"
    try {
      mk(table, 0, 20)
      Bucketed.setRetention(spark, table, 3)
      append(table, 20, 30)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val headGen = Bucketed.currentGeneration(spark, table)
      // another process's maintenance commit in flight: its staged
      // data files are already renamed into the dir (unlisted by any
      // valid manifest), its manifest create()d but the content still
      // streaming (torn — no END trailer)
      val staged = new org.apache.hadoop.fs.Path(loc,
        "part-inflight-00000_0.parquet")
      val so = fs.create(staged, true); so.write(Array[Byte](9)); so.close()
      val torn = new org.apache.hadoop.fs.Path(loc,
        s"_graft_manifest.${headGen + 1}")
      val to = fs.create(torn, true)
      to.write("graft-manifest-v1\npart-inflight-00000_0.parquet"
        .getBytes("UTF-8")); to.close()
      // pre-fix: the hot sweep deleted `staged` while sparing `torn` —
      // the racing commit completed into a table whose manifest lists
      // a dead file ("corrupt" at the next verify) instead of a clean
      // winner. Parse failure means "possibly in-flight": both file
      // sweeps must skip this pass.
      val (_, deleted) = Bucketed.vacuum(spark, table, retain = 1)
      assert(deleted == 0,
        "file sweeps must skip while a torn manifest above the head exists")
      assert(fs.exists(staged) && fs.exists(torn))
      // the in-flight writer died for real: once nothing torn sits
      // above the kept head, vacuum collects normally — the staged
      // orphan AND the superseded retained files. (A load() would
      // reconcile the orphan too; this pins VACUUM's own sweep.)
      fs.delete(torn, false)
      Bucketed.forgetVerified()
      val (_, deleted2) = Bucketed.vacuum(spark, table, retain = 1)
      assert(deleted2 > 0, "the debris window is one pass, not forever")
      assert(!fs.exists(staged))
      assert(docsOf(Bucketed.load(spark, table)) == (0L until 30L).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("vacuum spares an in-flight commit outrun by a later writer (torn manifest BELOW the kept head)") {
    val table = "graft_tt_vacoutrun"
    try {
      mk(table, 0, 20)
      Bucketed.setRetention(spark, table, 3)
      append(table, 20, 30)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val headGen = Bucketed.currentGeneration(spark, table)
      // a maintenance commit in flight: staged file renamed in,
      // manifest still streaming (torn) at headGen+1 ...
      val staged = new org.apache.hadoop.fs.Path(loc,
        "part-inflight-00000_0.parquet")
      val so = fs.create(staged, true); so.write(Array[Byte](9)); so.close()
      val torn = new org.apache.hadoop.fs.Path(loc,
        s"_graft_manifest.${headGen + 1}")
      val to = fs.create(torn, true)
      to.write("graft-manifest-v1\npart-inflight-00000_0.parquet"
        .getBytes("UTF-8")); to.close()
      // ... and a LATER writer (numbering from ALL manifest names,
      // torn included) commits a VALID generation at headGen+2 while
      // the torn one still streams. The kept head now EXCEEDS the
      // torn gen — the old "torn strictly newer than the kept head"
      // guard missed this and swept the in-flight commit's files
      // (ADVICE, round 13). Any unparseable manifest >= the oldest
      // kept valid generation is possibly in flight.
      val planted = Bucketed.plantForeignCommit(spark, table)
      assert(planted == headGen + 2)
      Bucketed.forgetVerified()
      val (_, deleted) = Bucketed.vacuum(spark, table, retain = 2)
      assert(deleted == 0,
        "file sweeps must skip while a torn manifest sits inside the kept window")
      assert(fs.exists(staged) && fs.exists(torn))
      // the in-flight writer died for real: once the torn manifest is
      // gone, vacuum collects normally
      fs.delete(torn, false)
      Bucketed.forgetVerified()
      val (_, deleted2) = Bucketed.vacuum(spark, table, retain = 2)
      assert(deleted2 > 0)
      assert(!fs.exists(staged))
      assert(docsOf(Bucketed.load(spark, table)) == (0L until 30L).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("describe reports head/retained generations, live files, crash debris, and the pair pointer") {
    val table = "graft_tt_describe"
    try {
      mk(table, 0, 30)
      Bucketed.setRetention(spark, table, 4)
      append(table, 30, 45)
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") < 10))
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val s0 = Bucketed.describe(spark, table)
      assert(s0.generation == Bucketed.currentGeneration(spark, table))
      assert(s0.generations == Bucketed.generations(spark, table))
      assert(s0.retention == 4)
      assert(s0.liveFiles ==
        Bucketed.load(spark, table).inputFiles.length)
      assert(s0.liveBytes > 0)
      assert(s0.unreferencedFiles == 0, s"clean table: $s0")
      assert(s0.pairPointer.isEmpty)
      // crash debris (an op's uncommitted staging) surfaces in the count
      val orphan = new org.apache.hadoop.fs.Path(loc, "part-debris-x_0.parquet")
      val out = fs.create(orphan, true)
      out.write(Array[Byte](1)); out.close()
      assert(Bucketed.describe(spark, table).unreferencedFiles == 1)
      fs.delete(orphan, false)
      // a pair pointer surfaces verbatim
      Bucketed.writePairPointer(spark, table, s0.generation, 7L)
      assert(Bucketed.describe(spark, table).pairPointer
        .contains((s0.generation, 7L)))
      // a torn/garbage pointer value parses as ABSENT (readers fall
      // back to head reads, never crash on it)
      val pout = fs.create(new org.apache.hadoop.fs.Path(loc, "_graft_pair"), true)
      pout.write("graft-pair-v1\nnot numbers\n".getBytes("UTF-8")); pout.close()
      assert(Bucketed.describe(spark, table).pairPointer.isEmpty)
      assert(Bucketed.readPairPointer(spark, table).isEmpty)
      // describe is metadata-only: no footer opens
      val before = FileStats.footerOpens.get()
      Bucketed.describe(spark, table)
      assert(FileStats.footerOpens.get() == before)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("default retention (no marker) keeps delete-at-commit behavior") {
    val table = "graft_tt_default"
    try {
      mk(table, 0, 20)
      Bucketed.rewriteAll(spark, table, _.filter(col("doc") < 10))
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(loc, "_graft_retired")))
      assert(Bucketed.generations(spark, table).size <= 2)
      assert(docsOf(Bucketed.load(spark, table)) == (0L until 10L).toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
