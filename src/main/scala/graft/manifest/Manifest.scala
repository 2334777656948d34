package graft.manifest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Manifest module — re-expresses razu/manifest.py as DataFrame programs:
  * S6 recursive directory scan with stats + MD5 (manifest.py:244-279),
  * T3 manifest-vs-directory reconciliation (manifest.py:185-221),
  * J4 manifest diff (tools/sip2localstorage.py:76-94),
  * S7 manifest JSON load (manifest.py:175-183),
  * K3 manifest JSON save (manifest.py:164-173).
  *
  * A manifest row: (path, md5hash, md5date, size, modified, extension).
  * Open extra fields (`**kwargs`, manifest.py:20) ride in a
  * map<string,string> column when present.
  *
  * Scale: the directory scan is a distributed binaryFile read — hashing
  * happens executor-side, one pass, no driver involvement. Reconciliation
  * and diff are joins (never driver-side dict compares — the reference's
  * edepot.py:98 pattern must not survive at 100 TB). Only the single-file
  * JSON save touches the driver, and a manifest is metadata-sized by
  * definition (one row per archived file).
  */
object Manifest {

  /** The `modified` field's format: file time to the second, in the
    * session time zone. */
  val modifiedFormat = "yyyy-MM-dd'T'HH:mm:ss"

  /** S6 + H1: recursive scan of `dir` → manifest rows. Column pruning
    * note: `md5(content)` forces reading file bytes; everything else comes
    * from file status only. `ignore` = F13 ignore-list filter.
    * Re-scanning a directory the session has already listed requires
    * `spark.catalog.refreshByPath(dir)` first (file-listing cache). */
  def scanDirectory(spark: SparkSession, dir: String,
                    ignore: Seq[String] = Nil): DataFrame = {
    val base = dir.stripSuffix("/") + "/"
    val scan = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(
        regexp_replace(col("path"), "^file:", "").as("abspath"),
        col("length").cast("long").as("size"),
        date_format(col("modificationTime"), modifiedFormat).as("modified"),
        md5(col("content")).as("md5hash"))
      .withColumn("path",
        expr(s"substring(abspath, ${base.length + 1})"))
      .withColumn("extension",
        graft.functions.Paths.fullExtensionCol(col("path")))
      .select("path", "md5hash", "size", "modified", "extension")
    if (ignore.isEmpty) scan
    else scan.filter(!col("path").isin(ignore: _*))
  }

  /** H1 scale path — streaming MD5 over file PATHS (no content column):
    * `binaryFile` materializes whole files (4 GB soft cap via
    * spark.sql.sources.binaryFile.maxLength); this variant lists paths
    * cheaply and hashes each file in 8192-byte chunks executor-side
    * (razu/util.py:155-163's chunked read), so arbitrarily large files
    * hash in constant memory. */
  def scanDirectoryStreaming(spark: SparkSession, dir: String,
                             chunkSize: Int = 8192): DataFrame = {
    import spark.implicits._
    val base = dir.stripSuffix("/") + "/"
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(regexp_replace(col("path"), "^file:", "").as("abspath"),
        col("length").cast("long").as("size"),
        date_format(col("modificationTime"), modifiedFormat).as("modified"))
      // content column never selected → binaryFile reads status only
      .as[(String, Long, String)]
      .mapPartitions { it =>
        val buf = new Array[Byte](chunkSize)
        it.map { case (abspath, size, modified) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val in = java.nio.file.Files.newInputStream(
            java.nio.file.Paths.get(abspath))
          try {
            var n = in.read(buf)
            while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
          } finally in.close()
          val hash = md.digest().map("%02x".format(_)).mkString
          (abspath.substring(base.length), hash, size, modified)
        }
      }
      .toDF("path", "md5hash", "size", "modified")
      .withColumn("extension",
        graft.functions.Paths.fullExtensionCol(col("path")))
  }

  /** T3: reconcile a manifest against a directory scan:
    * status ∈ missing (manifest only) / extra (disk only) / mismatch / ok.
    * (razu/manifest.py:185-221.) */
  def reconcile(manifest: DataFrame, scan: DataFrame): DataFrame =
    Relational.reconcile(
      manifest.select(col("path"), col("md5hash").as("hash_a")),
      scan.select(col("path"), col("md5hash").as("hash_b")),
      "path", col("hash_a"), col("hash_b"))
      .select("path", "status")

  /** J4/F8: entries of `current` that are new or changed vs `reference`
    * (tools/sip2localstorage.py:76-94). */
  def diff(current: DataFrame, reference: DataFrame): DataFrame = {
    val ref = reference.select(col("path"), col("md5hash").as("ref_hash"))
    current.join(ref, Seq("path"), "left_outer")
      .filter(col("ref_hash").isNull || col("md5hash") =!= col("ref_hash"))
      .drop("ref_hash")
  }

  /** F7: date-threshold filter — include iff md5date absent or >= the
    * threshold (ISO-string comparison preserved; razu/edepot.py:73-85). */
  def modifiedSince(manifest: DataFrame, afterDate: String,
                    dateCol: String = "modified"): DataFrame =
    manifest.filter(col(dateCol).isNull || col(dateCol) >= lit(afterDate))

  /** Internal column name → the reference's on-disk entry key
    * (manifest.py:30-43 to_dict/from_dict), so saved manifests are
    * interoperable with reference tooling. */
  private val diskKeys = Map(
    "md5hash" -> "MD5Hash", "md5date" -> "MD5HashDate",
    "size" -> "FileSize", "modified" -> "LastModified",
    "extension" -> "FileExtension")
  private val diskKeysInverse = diskKeys.map(_.swap)

  /** K3: save as ONE JSON object {path: {entry…}} like the reference
    * (manifest.py:164-173), with the reference's entry key names
    * (MD5Hash/MD5HashDate/FileSize/LastModified/FileExtension; extra
    * columns pass through as-is, like the reference's **metadata).
    * Driver-assembled deliberately: a manifest is one metadata file;
    * sorted for stable output. */
  def saveJson(manifest: DataFrame, outFile: String): Unit = {
    val withDate =
      if (manifest.columns.contains("md5date")) manifest
      else manifest.withColumn("md5date", lit(null).cast("string"))
    val entryCols = withDate.columns.filter(_ != "path")
      .map(c => col(c).as(diskKeys.getOrElse(c, c)))
    val rows = withDate.select(col("path"),
        to_json(struct(entryCols: _*),
          Map("ignoreNullFields" -> "false")).as("entry"))
      .orderBy("path")
      .collect()
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val json = rows.map(r => s"  ${q(r.getString(0))}: ${r.getString(1)}")
      .mkString("{\n", ",\n", "\n}")
    graft.sources.FsUtil.writeString( // scheme-agnostic
      manifest.sparkSession.sparkContext.hadoopConfiguration, outFile, json)
  }

  /** S7: load a saved manifest JSON object back into rows — the
    * reference's key names on disk (manifest.py:41-43 from_dict) map
    * back to the internal column names. */
  def loadJson(spark: SparkSession, file: String): DataFrame = {
    import org.apache.spark.sql.types._
    val entryType = StructType(Seq(
      StructField("MD5Hash", StringType), StructField("MD5HashDate", StringType),
      StructField("FileSize", LongType), StructField("LastModified", StringType),
      StructField("FileExtension", StringType)))
    spark.read.option("wholetext", "true").text(file)
      .select(explode(from_json(col("value"),
        MapType(StringType, entryType))).as(Seq("path", "entry")))
      .select(col("path"),
        col("entry.MD5Hash").as(diskKeysInverse("MD5Hash")),
        col("entry.MD5HashDate").as(diskKeysInverse("MD5HashDate")),
        col("entry.FileSize").as(diskKeysInverse("FileSize")),
        col("entry.LastModified").as(diskKeysInverse("LastModified")),
        col("entry.FileExtension").as(diskKeysInverse("FileExtension")))
  }
}
