package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Proves the bucketed-join claim: joining two tables bucketed+sorted on
  * the join key plans WITHOUT any Exchange (and reconcile over bucketed
  * manifests inherits it). */
class BucketedSpec extends SparkSuite {
  import spark.implicits._

  test("join of co-bucketed tables has no shuffle Exchange") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 5000).map(i => (s"path/$i", s"hash_a_$i")).toDF("path", "md5hash")
      val b = (1 to 5000).map(i => (s"path/$i", s"hash_b_$i")).toDF("path", "md5hash")
      // both tables freshly CREATED: one by an Overwrite, one by an
      // Append into a missing table
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_b")
      Bucketed.save(a, "graft_bucketed_a", Seq("path"), buckets = 4)
      Bucketed.save(b, "graft_bucketed_b", Seq("path"), buckets = 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      val la = Bucketed.load(spark, "graft_bucketed_a")
      val lb = Bucketed.load(spark, "graft_bucketed_b")
        .select(col("path"), col("md5hash").as("hash_b"))
      val joined = la.join(lb, Seq("path"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 5000)
      // the documented reconcile path (full outer on the bucket key)
      // rides the same shape: no Exchange either
      val rec = graft.ops.Relational.reconcile(
        la.select(col("path"), col("md5hash").as("ha")),
        lb.select(col("path"), col("hash_b").as("hb")),
        "path", col("ha"), col("hb"))
      val recPlan = rec.queryExecution.executedPlan.toString
      assert(!recPlan.contains("Exchange"),
        s"bucketed reconcile must not shuffle:\n$recPlan")
      assert(rec.filter(col("status") === "mismatch").count() == 5000)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_b")
    }
  }

  test("Overwrite pre-clear handles db-qualified names and orphan locations") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bdb")
    try {
      val df = (1 to 100).map(i => (s"k$i", i)).toDF("k", "n")
      // plant an orphaned location under the DATABASE's directory (the
      // round-6 advisory scenario: catalog entry gone, files survive)
      val dbLoc = new org.apache.hadoop.fs.Path(
        spark.catalog.getDatabase("graft_bdb").locationUri)
      val orphan = new org.apache.hadoop.fs.Path(dbLoc, "qt")
      val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(orphan)
      val out = fs.create(new org.apache.hadoop.fs.Path(orphan, "junk"))
      out.write(1); out.close()
      Bucketed.save(df, "graft_bdb.qt", Seq("k"), buckets = 2)
      assert(Bucketed.load(spark, "graft_bdb.qt").count() == 100)
      // overwrite of the live qualified table also round-trips
      Bucketed.save(df.limit(10), "graft_bdb.qt", Seq("k"), buckets = 2)
      assert(Bucketed.load(spark, "graft_bdb.qt").count() == 10)
      // malformed names fail loudly instead of mis-deriving a path
      intercept[IllegalArgumentException] {
        Bucketed.save(df, "a.b.c", Seq("k"), buckets = 2)
      }
      intercept[IllegalArgumentException] {
        Bucketed.save(df, "bad`tick", Seq("k"), buckets = 2)
      }
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_bdb CASCADE")
    }
  }

  /** Every row of every listed file of `table` hashes to the bucket id
    * the file's name carries — what a bucketed scan and a co-located
    * join assume. */
  private def assertFilesBucketed(table: String, keys: Seq[String],
                                  buckets: Int): Unit =
    Bucketed.load(spark, table).inputFiles.foreach { f =>
      val id = Bucketed.bucketIdOfName(new org.apache.hadoop.fs.Path(f).getName)
      val got = spark.read.parquet(f)
        .select(pmod(hash(keys.map(col): _*), lit(buckets)).as("b"))
        .distinct().as[Int].collect().toSet
      assert(got.forall(b => id.contains(b)), s"$f holds buckets $got")
    }

  test("writes from a bucketed read of the same layout still cluster by bucket") {
    val src = "graft_bucketed_reread_src"
    val dst = "graft_bucketed_reread_dst"
    // one key, and two keys of different types (Ivm's join views are
    // bucketed on (aKey, bKey))
    for (keys <- Seq(Seq("bkey"), Seq("bkey", "doc2"))) try {
      def rows(r: Range) = r.map(i => (s"k${i % 7}", i % 3, i.toLong))
        .toDF("bkey", "doc2", "doc")
      Bucketed.save(rows(0 until 400), src, keys, 4)
      Bucketed.save(rows(400 until 500), src, keys, 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      // an Overwrite whose input is a bucketed scan with the same spec
      Bucketed.save(Bucketed.load(spark, src).filter(col("doc") % 2 === 0),
        dst, keys, 4)
      assertFilesBucketed(dst, keys, 4)
      // a rewrite, which reads the table's own files through its relation
      Bucketed.rewriteAll(spark, src, _.filter(col("doc") % 3 =!= 0))
      assertFilesBucketed(src, keys, 4)
      assert(Bucketed.load(spark, src).count() ==
        (0 until 500).count(_ % 3 != 0).toLong)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $dst")
    }
  }
}
