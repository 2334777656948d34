package graft.store

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Object-store sink module (K5–K10) — razu/edepot.py + razu/s3storage.py
  * re-expressed as manifest-driven DataFrame programs over a pluggable
  * store. The test environment is zero-egress, so the shipped
  * implementation targets a local filesystem root; the flows (filter →
  * anti-join → foreachPartition side effects → verify) are the S3 shapes:
  * swap `LocalFsStore` for an S3 client per partition and nothing else
  * changes.
  *
  * Scale notes: uploads/deletes run per partition with counters as
  * accumulators (A4), skip-existing is a LISTING ANTI-JOIN (J5/F9) — the
  * reference's per-object HEAD round-trip (edepot.py:137-142) and
  * driver-side checksum dict (edepot.py:98-105) both become joins.
  * Deletes batch 1000 keys per call (K8, edepot.py:216-228) and verify by
  * re-list + anti-join. All side effects are idempotent by key, so Spark
  * task retries are safe (SURVEY §7 risk 7).
  */
trait ObjectStore extends Serializable {
  def put(key: String, content: Array[Byte], metadata: Map[String, String]): Unit
  def delete(keys: Seq[String]): Unit
  def setAcl(key: String, acl: String): Unit

  /** Open the stored object for reading (None = absent) — the "download
    * for verification" path of the multipart-ETag fallback
    * (s3storage.py:240-250). */
  def open(key: String): Option[java.io.InputStream]

  /** Streaming MD5 of a stored object (razu/s3storage.py:228-234's
    * chunked calculate_md5); None if the object is absent. Constant
    * memory regardless of object size. */
  def md5Of(key: String, chunkSize: Int = 8192): Option[String] =
    open(key).map { in =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val buf = new Array[Byte](chunkSize)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      md.digest().map("%02x".format(_)).mkString
    }
}

/** Local-FS store rooted at `root`; metadata/ACLs ride as sidecar files
  * (the S3 user-metadata analogue). */
final class LocalFsStore(root: String) extends ObjectStore {
  private def resolve(key: String) = {
    val p = JPaths.get(root, key)
    Files.createDirectories(p.getParent)
    p
  }
  override def put(key: String, content: Array[Byte],
                   metadata: Map[String, String]): Unit = {
    Files.write(resolve(key), content)
    if (metadata.nonEmpty) {
      // URL-encoded like S3 user metadata (STR9, s3storage.py:480-493)
      val enc = metadata.toSeq.sortBy(_._1).map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("\n")
      Files.writeString(resolve(key + ".meta"), enc)
    }
  }
  override def delete(keys: Seq[String]): Unit =
    keys.foreach { k =>
      Files.deleteIfExists(JPaths.get(root, k))
      Files.deleteIfExists(JPaths.get(root, k + ".meta"))
    }
  override def setAcl(key: String, acl: String): Unit =
    Files.writeString(resolve(key + ".acl"), acl)
  override def open(key: String): Option[java.io.InputStream] = {
    val p = JPaths.get(root, key)
    if (Files.exists(p)) Some(Files.newInputStream(p)) else None
  }
}

/** Hadoop-FileSystem-backed store: any scheme the cluster supports —
  * `file://` (tested here), `hdfs://`, and `s3a://` for the reference's
  * actual S3 deployment (razu/s3storage.py). Same K5–K10 flows with
  * root = "s3a://bucket/prefix" and zero code change; `confOverrides`
  * carries endpoint/credential properties (the s3a equivalents of
  * s3storage.py:20-35's client config). The FileSystem handle is
  * created lazily PER EXECUTOR (Hadoop Configuration is not
  * serializable), so the store object ships in task closures like
  * LocalFsStore. Metadata/ACLs ride as sidecar objects — the
  * FileSystem API has no user-metadata; a native SDK client would
  * override put/setAcl to use object metadata + ACL calls.
  */
final class HadoopFsStore(rootUri: String,
                          confOverrides: Map[String, String] = Map.empty)
    extends ObjectStore {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  @transient private lazy val fs: FileSystem = {
    val conf = new org.apache.hadoop.conf.Configuration()
    confOverrides.foreach { case (k, v) => conf.set(k, v) }
    new HPath(rootUri).getFileSystem(conf)
  }
  private def p(key: String) = new HPath(rootUri.stripSuffix("/") + "/" + key)

  private def write(key: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(p(key), true) // creates parent prefixes
    try out.write(bytes) finally out.close()
  }
  override def put(key: String, content: Array[Byte],
                   metadata: Map[String, String]): Unit = {
    write(key, content)
    if (metadata.nonEmpty) {
      val enc = metadata.toSeq.sortBy(_._1).map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("\n")
      write(key + ".meta", enc.getBytes("UTF-8"))
    }
  }
  override def delete(keys: Seq[String]): Unit =
    keys.foreach { k =>
      fs.delete(p(k), false)
      fs.delete(p(k + ".meta"), false)
    }
  override def setAcl(key: String, acl: String): Unit =
    write(key + ".acl", acl.getBytes("UTF-8"))
  override def open(key: String): Option[java.io.InputStream] =
    if (fs.exists(p(key))) Some(fs.open(p(key))) else None
}

object Store {

  /** S10 — listing of the store as a DataFrame of keys (+ etag = md5).
    * The local analogue of the paginated bucket listing
    * (s3storage.py:289-309). */
  def listing(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    if (!Files.exists(JPaths.get(root)))
      return Seq.empty[(String, String)].toDF("key", "etag")
    spark.read.format("binaryFile").option("recursiveFileLookup", "true")
      .load(root)
      .filter(!col("path").endsWith(".meta") && !col("path").endsWith(".acl"))
      .select(
        expr(s"substring(regexp_replace(path, '^file:', ''), ${root.stripSuffix("/").length + 2})")
          .as("key"),
        md5(col("content")).as("etag"))
  }

  /** K5/K6 — manifest-driven bulk upload: rows of
    * (key, content: binary, metadata: map<string,string>) are written per
    * partition; `onlyIfNew` anti-joins the current listing first (F9/J5).
    * Returns (uploaded, skipped) via accumulators. */
  def upload(files: DataFrame, store: ObjectStore, spark: SparkSession,
             onlyIfNew: Boolean = false,
             existing: Option[DataFrame] = None): (Long, Long) = {
    val uploaded: LongAccumulator = spark.sparkContext.longAccumulator("uploaded")
    val skipped: LongAccumulator = spark.sparkContext.longAccumulator("skipped")
    // skip-existing rides the SAME job: a left join marks existing keys and
    // the partition loop counts them into the second accumulator — no
    // separate count() job per upload batch
    val marked =
      if (onlyIfNew && existing.nonEmpty)
        files.join(
          // distinct: a listing with duplicate keys must not fan out file
          // rows (uploaded + skipped must equal the input row count)
          existing.get.select(col("key")).distinct()
            .withColumn("__exists", lit(true)),
          Seq("key"), "left_outer")
      else files.withColumn("__exists", lit(null).cast("boolean"))
    val hasMeta = marked.columns.contains("metadata")
    marked.select(col("key"), col("content"),
        if (hasMeta) col("metadata")
        else map().cast("map<string,string>").as("metadata"),
        col("__exists"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          if (!r.isNullAt(3) && r.getBoolean(3)) skipped.add(1)
          else {
            val md = Option(r.getMap[String, String](2))
              .map(_.toMap).getOrElse(Map.empty)
            store.put(r.getString(0), r.getAs[Array[Byte]](1), md)
            uploaded.add(1)
          }
        }
      }
    (uploaded.value, skipped.value)
  }

  /** K8 — batched delete (1000 keys per call, edepot.py:216-228), then
    * verify by re-list anti-join; returns keys that survived deletion.
    * `logPath` writes the reference's audit log
    * (edepot.py:244-247: {"Deleted": [...], "Errors": [...],
    * "NotDeleted": [...]}) — streamed through one executor task like the
    * eventlog sink, never collected to the driver. */
  def deleteByKeys(keys: DataFrame, store: ObjectStore, spark: SparkSession,
                   root: String, batchSize: Int = 1000,
                   logPath: Option[String] = None): DataFrame = {
    keys.select("key").foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.map(_.getString(0)).grouped(batchSize)
          .foreach(batch => store.delete(batch.toSeq))
    }
    spark.catalog.refreshByPath(root)
    val survivors = keys.select("key")
      .join(listing(spark, root), Seq("key"), "left_semi")
    logPath.foreach(writeDeleteLog(keys, survivors, _))
    survivors
  }

  /** The delete-log JSON (edepot.py:244-247). Status per requested key is
    * a broadcastable semi/anti split against the post-delete listing;
    * the single log file streams through one task (sorted for
    * determinism) rather than a driver collect. Errors is always [] —
    * the local store throws instead of returning per-key errors. */
  private def writeDeleteLog(requested: DataFrame, survivors: DataFrame,
                             path: String): Unit = {
    val spark = requested.sparkSession
    import spark.implicits._
    def esc(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val status = requested.select("key")
      .join(survivors.select(col("key")).withColumn("__kept", lit(true)),
        Seq("key"), "left_outer")
      .select(when(col("__kept"), lit("NotDeleted"))
        .otherwise(lit("Deleted")).as("status"), col("key"))
      .as[(String, String)]
      .coalesce(1).sortWithinPartitions("status", "key")
    val tmp = path + ".tmp"
    status.mapPartitions { it =>
      var inNotDeleted = false; var first = true
      val head = Iterator.single("{\"Deleted\": [")
      val body = it.flatMap { case (st, key) =>
        val section =
          if (st == "NotDeleted" && !inNotDeleted) {
            inNotDeleted = true; first = true
            Iterator.single("], \"Errors\": [], \"NotDeleted\": [")
          } else Iterator.empty
        val sep = if (first) { first = false; "" } else ","
        section ++ Iterator.single(sep + esc(key))
      }
      val tail = Iterator.single(()).map { _ =>
        if (inNotDeleted) "]}"
        else "], \"Errors\": [], \"NotDeleted\": []}"
      }
      head ++ body ++ tail
    }.write.mode("overwrite").text(tmp)
    graft.sources.FsUtil.promotePartFile(spark.sparkContext.hadoopConfiguration,
      tmp, path, emptyFallback = Some("{\"Deleted\": [], \"Errors\": [], \"NotDeleted\": []}"))
  }

  /** K9 — ACL update for every manifest key (edepot.py:271-304). */
  def updateAcls(keys: DataFrame, store: ObjectStore, acl: String): Unit =
    keys.select("key").foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach(r => store.setAcl(r.getString(0), acl))
    }

  /** H2 — upload verification: manifest md5 vs listing etag
    * (s3storage.py:219-255). Single-part etags compare directly; a
    * multipart etag (contains '-': md5-of-part-md5s + part count) cannot,
    * so those rows re-read the object through `store` and compare a
    * streaming re-hash — the reference's download-and-recompute fallback
    * (s3storage.py:240-250), executor-side and only for the multipart
    * subset. Returns rows with a boolean `verified`; pass `store=None`
    * to keep the old single-part-only behavior (multipart rows then
    * verify false). */
  def verifyUploads(manifest: DataFrame, listing: DataFrame,
                    store: Option[ObjectStore] = None): DataFrame = {
    val joined = manifest.join(listing, Seq("key"), "left_outer")
    val isMultipart = col("etag").isNotNull && col("etag").contains("-")
    store match {
      case None =>
        joined.withColumn("verified",
          col("etag").isNotNull && !isMultipart && col("etag") === col("md5hash"))
      case Some(st) =>
        val spark = manifest.sparkSession
        import spark.implicits._
        val rehashed = joined.filter(isMultipart)
          .select(col("key")).as[String]
          .mapPartitions(_.map(k => (k, st.md5Of(k).orNull)))
          .toDF("key", "__rehash")
        joined.join(rehashed, Seq("key"), "left_outer")
          .withColumn("verified",
            when(col("etag").isNull, lit(false))
              .when(!isMultipart, col("etag") === col("md5hash"))
              .otherwise(col("__rehash").isNotNull
                && col("__rehash") === col("md5hash")))
          .drop("__rehash")
    }
  }

  /** K10 — diagnostic key-list text sink (edepot.py:174-196). */
  def writeKeyList(keys: DataFrame, path: String): Unit =
    keys.select("key").orderBy("key")
      .coalesce(1).write.mode("overwrite").text(path)
}
