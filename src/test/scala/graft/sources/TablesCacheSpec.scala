package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The memoized-relation contract: table() serves the pinned first
  * read until invalidate(dir) is called — the enforcement hook for the
  * input-immutability contract a caller that rewrites a directory
  * in-process must use. */
class TablesCacheSpec extends SparkSuite {
  import spark.implicits._

  test("invalidate(dir) makes a rewritten directory visible; without it the pin persists") {
    val dir = tempDir("graft-tables-cache").toString
    (1 to 5).map(i => (i.toLong, s"a$i")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").count() == 5)
    // rewrite the directory in-process — the cached relation still
    // serves the first read's file listing (the documented contract:
    // inputs are immutable unless the caller invalidates)
    (1 to 9).map(i => (i.toLong, s"b$i")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    Tables.invalidate(dir)
    assert(Tables.table(spark, dir, "t").count() == 9)
    // other dirs' entries survive an unrelated invalidate
    Tables.invalidate(dir + "-unrelated")
    assert(Tables.table(spark, dir, "t").count() == 9)
  }
}
