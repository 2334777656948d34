package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._
import graft.SparkSuite

/** The create/replace contract of [[Bucketed.save]]: what a create
  * leaves in the catalog and on disk, when an Overwrite keeps the
  * catalog entry (and commits the next generation) and when it
  * recreates it, and that a created table's write options and bucket
  * layout hold up under later maintenance. */
class BucketedCreateSpec extends SparkSuite {
  import spark.implicits._

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (s"k$i", i, i.toLong * 3)).toDF("k", "n", "v")

  private def meta(table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  private def locOf(table: String): Path = new Path(meta(table).location)

  private def partNames(table: String): Set[String] = {
    val loc = locOf(table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toSet
  }

  private def manifest(table: String): Option[(Long, Set[String])] = {
    val loc = locOf(table)
    Bucketed.readManifest(
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration), loc)
  }

  private def ops(table: String): Seq[(Long, String)] =
    Bucketed.history(spark, table).select("generation", "op")
      .as[(Long, String)].collect().toSeq

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case o => o
  }

  /** Every data file of `table` parses to a distinct bucket id, the
    * ids are exactly the non-empty buckets of `df` under Spark's bucket
    * function, each file holds only its own bucket's rows, and those
    * rows are sorted by `sortCol`. */
  private def assertBucketLayout(table: String, df: DataFrame,
                                 keys: Seq[String], buckets: Int,
                                 sortCol: String): Unit = {
    val bucketOf = pmod(hash(keys.map(col): _*), lit(buckets))
    val names = partNames(table).toSeq
    val ids = names.map(n => Bucketed.bucketIdOfName(n).getOrElse(
      fail(s"$n carries no bucket id")))
    assert(ids.distinct.size == ids.size, s"one file per bucket: $names")
    val nonEmpty = df.select(bucketOf.as("b")).distinct()
      .as[Int].collect().toSet
    assert(ids.toSet == nonEmpty, s"files $names vs buckets $nonEmpty")
    names.zip(ids).foreach { case (n, id) =>
      val file = spark.read.parquet(new Path(locOf(table), n).toString)
      assert(file.select(bucketOf.as("b")).distinct().as[Int]
        .collect().toSeq == Seq(id), s"$n holds rows of other buckets")
      val inFile = file.select(sortCol).collect().toSeq
      assert(inFile == file.select(sortCol).orderBy(sortCol).collect().toSeq,
        s"$n is not sorted by $sortCol")
    }
  }

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("create: managed parquet entry with the bucket spec and options; one file per bucket; generation-1 manifest equals the dir") {
    val table = "graft_create_fresh"
    drop(table)
    try {
      val df = rows(0, 200)
      val opts = Map("parquet.page.size" -> "65536")
      Bucketed.save(df, table, Seq("k"), buckets = 4, sortCols = Seq("n"),
        writeOptions = opts)
      val m = meta(table)
      assert(m.tableType == CatalogTableType.MANAGED)
      assert(m.provider.contains("parquet"))
      assert(m.bucketSpec.contains(BucketSpec(4, Seq("k"), Seq("n"))))
      assert(m.storage.properties == opts)
      assert(m.schema == nullable(df.schema), m.schema.treeString)
      assertBucketLayout(table, df, Seq("k"), 4, "n")
      assert(manifest(table).contains(1L -> partNames(table)))
      assert(ops(table) == Seq(1L -> "create"))
      assert(Bucketed.load(spark, table).orderBy("n").as[(String, Int, Long)]
        .collect().toSeq == df.orderBy("n").as[(String, Int, Long)]
        .collect().toSeq)
      // managed: dropping the table deletes its data
      val loc = locOf(table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      drop(table)
      assert(!fs.exists(loc), s"DROP TABLE left $loc behind")
    } finally drop(table)
  }

  test("a compatible Overwrite keeps the entry and commits generation N+1 `replace`") {
    val table = "graft_create_inplace"
    drop(table)
    try {
      Bucketed.save(rows(0, 100), table, Seq("k"), buckets = 4)
      Bucketed.save(rows(100, 150), table, Seq("k"), buckets = 4,
        mode = SaveMode.Append)
      assert(Bucketed.currentGeneration(spark, table) == 2L)
      val created = meta(table).createTime
      Bucketed.save(rows(500, 560), table, Seq("k"), buckets = 4)
      assert(meta(table).createTime == created, "entry was recreated")
      assert(Bucketed.currentGeneration(spark, table) == 3L)
      assert(ops(table) == Seq(1L -> "create", 2L -> "append", 3L -> "replace"))
      assert(manifest(table).contains(3L -> partNames(table)))
      assert(Bucketed.load(spark, table).count() == 60L)
      assertBucketLayout(table, rows(500, 560), Seq("k"), 4, "k")
    } finally drop(table)
  }

  test("a failing Overwrite leaves the prior rows and history served to a cold reader") {
    val table = "graft_create_failing"
    drop(table)
    try {
      Bucketed.save(rows(0, 100), table, Seq("k"), buckets = 4)
      Bucketed.save(rows(100, 150), table, Seq("k"), buckets = 4,
        mode = SaveMode.Append)
      // same schema and buckets (a compatible Overwrite); one task throws
      val failing = rows(500, 560).withColumn("n",
        when(col("n") === 530, raise_error(lit("boom"))).otherwise(col("n")))
      intercept[Exception] {
        Bucketed.save(failing, table, Seq("k"), buckets = 4)
      }
      Bucketed.forgetVerified()
      assert(Bucketed.load(spark, table).count() == 150L)
      assert(ops(table) == Seq(1L -> "create", 2L -> "append"))
      assert(manifest(table).contains(2L -> partNames(table)))
    } finally drop(table)
  }

  test("on a retention-3 table, a frame loaded before a compatible Overwrite still reads the old rows") {
    val table = "graft_create_held"
    drop(table)
    try {
      Bucketed.save(rows(0, 100), table, Seq("k"), buckets = 4)
      Bucketed.setRetention(spark, table, 3)
      val held = Bucketed.load(spark, table)
      Bucketed.save(rows(500, 560), table, Seq("k"), buckets = 4)
      assert(held.select("n").as[Int].collect().sorted.toSeq == (0 until 100))
      assert(Bucketed.load(spark, table).select("n").as[Int].collect()
        .sorted.toSeq == (500 until 560))
      assert(Bucketed.describe(spark, table).retention == 3)
    } finally drop(table)
  }

  test("Layout.saveClustered commits a generation-1 manifest; a location with no valid manifest is not served") {
    val table = "graft_create_zorder"
    drop(table)
    try {
      val grid = (0 until 40).flatMap(x => (0 until 40).map(y =>
        (x.toLong, y.toLong))).toDF("x", "y")
      graft.ops.Layout.saveClustered(grid, table, "x", "y", numFiles = 4)
      assert(partNames(table).nonEmpty)
      assert(manifest(table).contains(1L -> partNames(table)))
      assert(ops(table) == Seq(1L -> "create"))
      assert(Bucketed.load(spark, table).count() == 1600L)
      val loc = locOf(table)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new Path(loc, "_graft_manifest.1"), false)
      Bucketed.forgetVerified()
      val e = intercept[IllegalStateException](Bucketed.load(spark, table))
      assert(e.getMessage.contains("no valid generation manifest"), e.getMessage)
    } finally drop(table)
  }

  test("an Overwrite that changes buckets or a column type recreates the entry with the new spec") {
    val table = "graft_create_respec"
    drop(table)
    try {
      Bucketed.save(rows(0, 100), table, Seq("k"), buckets = 4)
      // new bucket count
      Bucketed.save(rows(0, 80), table, Seq("k"), buckets = 2)
      assert(meta(table).bucketSpec.contains(BucketSpec(2, Seq("k"), Seq("k"))))
      assert(Bucketed.currentGeneration(spark, table) == 1L)
      assert(ops(table) == Seq(1L -> "create"))
      assertBucketLayout(table, rows(0, 80), Seq("k"), 2, "k")
      assert(Bucketed.load(spark, table).count() == 80L)
      // new column type (int -> bigint)
      val widened = rows(0, 50).withColumn("n", col("n").cast("long"))
      Bucketed.save(widened, table, Seq("k"), buckets = 2)
      assert(meta(table).schema("n").dataType.catalogString == "bigint")
      assert(meta(table).bucketSpec.contains(BucketSpec(2, Seq("k"), Seq("k"))))
      assert(manifest(table).contains(1L -> partNames(table)))
      assert(Bucketed.load(spark, table).select("n").as[Long].collect()
        .sorted.toSeq == (0L until 50L))
    } finally drop(table)
  }

  test("an Append into a missing table creates it") {
    val table = "graft_create_by_append"
    drop(table)
    try {
      Bucketed.save(rows(0, 40), table, Seq("k"), buckets = 4,
        mode = SaveMode.Append)
      assert(meta(table).tableType == CatalogTableType.MANAGED)
      assert(meta(table).bucketSpec.contains(BucketSpec(4, Seq("k"), Seq("k"))))
      assert(ops(table) == Seq(1L -> "create"))
      assert(manifest(table).contains(1L -> partNames(table)))
      Bucketed.save(rows(40, 60), table, Seq("k"), buckets = 4,
        mode = SaveMode.Append)
      assert(ops(table) == Seq(1L -> "create", 2L -> "append"))
      assert(Bucketed.load(spark, table).count() == 60L)
    } finally drop(table)
  }

  test("a create from an empty frame reads back empty with its schema and bucket spec") {
    val table = "graft_create_empty"
    drop(table)
    try {
      val empty = rows(0, 10).filter(lit(false))
      Bucketed.save(empty, table, Seq("k"), buckets = 4, sortCols = Seq("n"))
      val back = Bucketed.load(spark, table)
      assert(back.count() == 0L)
      assert(back.schema == nullable(empty.schema), back.schema.treeString)
      assert(meta(table).bucketSpec.contains(BucketSpec(4, Seq("k"), Seq("n"))))
      assert(manifest(table).contains(1L -> partNames(table)))
      assert(ops(table) == Seq(1L -> "create"))
    } finally drop(table)
  }

  test("a bloom write option reaches a created table's files and survives compactPostings") {
    val table = "graft_create_bloom"
    val opts = Map("parquet.bloom.filter.enabled#k" -> "true",
      "parquet.bloom.filter.expected.ndv#k" -> "1000")
    def bloomed(name: String): Boolean = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(locOf(table), name), spark.sparkContext.hadoopConfiguration))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        blocks.nonEmpty && blocks.forall(_.getColumns.asScala
          .filter(_.getPath.toDotString == "k")
          .exists(_.getBloomFilterOffset >= 0))
      } finally reader.close()
    }
    drop(table)
    try {
      Bucketed.save(rows(0, 100), table, Seq("k"), buckets = 2,
        writeOptions = opts)
      assert(meta(table).storage.properties == opts)
      assert(partNames(table).forall(bloomed), "create wrote no blooms")
      (1 to 2).foreach { i =>
        Bucketed.save(rows(100 * i, 100 * i + 100), table, Seq("k"),
          buckets = 2, mode = SaveMode.Append, writeOptions = opts)
      }
      assert(partNames(table).size == 6)
      assert(IndexMaintenance.compactPostings(spark, table,
        maxFilesPerBucket = 1) == 2)
      assert(partNames(table).size == 2)
      assert(partNames(table).forall(bloomed), "compaction dropped the blooms")
      assert(Bucketed.load(spark, table).count() == 300L)
    } finally drop(table)
  }

  test("save rejects SaveMode.Ignore and SaveMode.ErrorIfExists") {
    val table = "graft_create_modes"
    drop(table)
    try {
      Seq(SaveMode.Ignore, SaveMode.ErrorIfExists).foreach { m =>
        val e = intercept[IllegalArgumentException] {
          Bucketed.save(rows(0, 10), table, Seq("k"), buckets = 2, mode = m)
        }
        assert(e.getMessage.contains(m.toString), e.getMessage)
        assert(!spark.catalog.tableExists(table))
      }
      Bucketed.save(rows(0, 10), table, Seq("k"), buckets = 2)
      Seq(SaveMode.Ignore, SaveMode.ErrorIfExists).foreach { m =>
        intercept[IllegalArgumentException] {
          Bucketed.save(rows(0, 20), table, Seq("k"), buckets = 2, mode = m)
        }
      }
      assert(Bucketed.load(spark, table).count() == 10L)
    } finally drop(table)
  }
}
