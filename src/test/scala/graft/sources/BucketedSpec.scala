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
}
