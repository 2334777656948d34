package graft.sip

import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.events.Events
import graft.ids.Identifiers
import graft.manifest.Manifest
import graft.rdf.io.JsonLd

/** SIP packaging module — the E2 lifecycle (razu/sip.py) as DataFrame
  * jobs over the triple model:
  *
  *   save:  resources (triples) → one JSON-LD file per root resource (K1)
  *          → manifest of the written files (S6+H1+K3)
  *          → PREMIS metadata-modification events (K4)
  *   load:  directory of *.meta.json (S5/S3/S4) → triple DF; the
  *          highest object id re-derived from filenames (STR3)
  *
  * The reference's deferred event queue disappears: event subjects are
  * derived from the saved-resources DF in ordinary dependency order
  * (SURVEY §3 E2 — "the queue disappears").
  */
object Sip {

  /** K1 — write one JSON-LD file per root resource:
    * <uid>.meta.json named via the id algebra. Files are written
    * per-partition (distributed), not via a driver loop like
    * csv2rdf.py:234-237's per-row save, through the Hadoop FileSystem
    * API with the session's Hadoop configuration, so a SIP directory can
    * live on any scheme (file://, hdfs://, s3a://) and `spark.hadoop.*`
    * settings reach it. Returns (root, filename, md5hash, size,
    * modified), MATERIALIZED: the documents are rendered once, in the
    * eager pass that writes them, and the frame that pass yields is all
    * the manifest, the events and the eventlog read afterwards. It holds
    * no JSON, one short row per resource, and its blocks spill to local
    * disk like any `localCheckpoint`; a retried task rewrites the same
    * files. `md5hash` and `size` are those of the bytes written (the MD5
    * "of the just-written file", manifest.py:46-56), and `modified` is
    * the file's modification time, read from its status after `close`
    * and formatted as [[Manifest.scanDirectory]] formats it.
    *
    * The render-and-write runs in one task per core
    * (`defaultParallelism`, [[JsonLd.rooted]]'s by-number exchange),
    * not in the partitions AQE would coalesce the shuffle to by bytes:
    * the write's cost is per FILE, not per byte. Each create on a local
    * file system without the native Hadoop library forks `chmod` for
    * the file and again for its `.crc` sidecar (a few ms a file), and on an
    * object store each file is a request; a SIP's documents are a few
    * hundred KB that AQE would otherwise hand to a single task. */
  def saveResources(triples: DataFrame, dir: String,
                    ids: Identifiers = Identifiers.default): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val spark = triples.sparkSession
    import spark.implicits._
    val conf = new SerializableWritable(spark.sparkContext.hadoopConfiguration)
    val base = new HPath(dir)
    base.getFileSystem(conf.value).mkdirs(base)
    JsonLd.documents(triples)
      .select(col("root"),
        ids.filenameCol(ids.extractIdCol(col("root"))).as("filename"), col("json"))
      .as[(String, String, String)]
      .mapPartitions { it =>
        val fs = base.getFileSystem(conf.value)
        it.map { case (root, filename, json) =>
          val path = new HPath(base, filename)
          val bytes = json.getBytes("UTF-8")
          val out = fs.create(path, true)
          try out.write(bytes) finally out.close()
          val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
          (root, filename, md5, bytes.length.toLong,
            fs.getFileStatus(path).getModificationTime)
        }
      }
      .toDF("root", "filename", "md5hash", "size", "mtime")
      .select(col("root"), col("filename"), col("md5hash"), col("size"),
        date_format(timestamp_millis(col("mtime")), Manifest.modifiedFormat).as("modified"))
      .localCheckpoint(eager = true)
  }

  /** S5 — load a SIP directory: every *.meta.json parsed to triples with
    * per-file bnode isolation. The triples are what the files say; the
    * highest object id, which an Incrementer continues from, comes from
    * [[maxResourceId]]. */
  def loadResources(spark: SparkSession, dir: String): DataFrame =
    JsonLd.read(spark, s"$dir/*.meta.json")

  /** STR3/W2 — recover the highest object id from a SIP directory's
    * file names (sip.py:186-203 re-derives ids on load_existing so the
    * Incrementer can continue). 0 for an empty/missing directory.
    * Hadoop FileSystem listing — works on any scheme. */
  def maxResourceId(spark: SparkSession, dir: String,
                    ids: Identifiers = Identifiers.default): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) return 0L
    val names = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.endsWith(s".${ids.cfg.metadataSuffix}.${ids.cfg.metadataExtension}"))
    if (names.isEmpty) 0L
    else names.flatMap(n => scala.util.Try(
      ids.extractIdFromFilename(n).toLong).toOption).foldLeft(0L)(math.max)
  }

  /** Full save lifecycle (sip.py:173-180): resources → files → manifest →
    * events → eventlog. Returns the manifest DataFrame. The resource
    * documents are rendered once, by the pass that writes them; the
    * manifest, the events and the eventlog read only the materialized
    * frame [[saveResources]] returns, one small row per resource. Pass a
    * materialized graph (as [[graft.etl.DemoCsv.run]] returns) when the
    * caller reads it again, e.g. for a Turtle export.
    *
    * The manifest comes from the write: each written file's MD5 and
    * size from the bytes the write task held, its `modified` from the
    * file's status, so no file is read back. One listing of `dir` that
    * reads file status only (`listStatus`) checks that the tree holds
    * nothing but the written files (and the manifest and eventlog,
    * which stay out, F13). `listFiles` is avoided on purpose: each
    * `LocatedFileStatus` it builds reads the file's permissions, which
    * on a local file system without the native Hadoop library forks
    * `ls` once per file. Any other entry (a re-save into a used
    * directory, a foreign file, a subdirectory) makes the manifest a
    * [[Manifest.scanDirectory]] of the whole tree instead, so every
    * file still gets the entry the scan gives it. */
  def save(spark: SparkSession, triples: DataFrame, dir: String,
           ids: Identifiers = Identifiers.default,
           timestamp: String = java.time.Instant.now().toString): DataFrame = {
    val written = saveResources(triples, dir, ids)
    val ignore = Seq(ids.manifestFilename, ids.eventlogFilename)
    val manifest = writtenManifest(written, dir, ignore).getOrElse {
      spark.catalog.refreshByPath(dir)
      Manifest.scanDirectory(spark, dir, ignore)
    }
    Manifest.saveJson(manifest, s"$dir/${ids.manifestFilename}")

    // one metadata-modification (mem) event per written resource
    // (sip.py:147-155: description + prov:generated = the metadata file)
    val events = Events.emit(written.select("root"), Seq(col("root")), Events.mem,
      subjectOf = col("root"), outcome = lit(true),
      description = lit("Metadata object created."),
      generated = ids.metadataFileUriCol(ids.extractIdCol(col("root"))),
      timestamp = timestamp, ids = ids)
    saveEventlog(events, dir, ids)
    manifest
  }

  /** The manifest rows of the [[saveResources]] frame `written`, when
    * `dir` holds exactly its files besides the `ignore`d names; None
    * otherwise. */
  private def writtenManifest(written: DataFrame, dir: String,
                              ignore: Seq[String]): Option[DataFrame] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val spark = written.sparkSession
    import spark.implicits._
    val base = new HPath(dir)
    val listed = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(base).filterNot(s => ignore.contains(s.getPath.getName))
    val names = written.select("filename").as[String].collect()
    val onlyWritten = listed.forall(_.isFile) && listed.length == names.length &&
      listed.map(_.getPath.getName).toSet == names.toSet
    Option.when(onlyWritten)(written.select(col("filename").as("path"),
      col("md5hash"), col("size"), col("modified"),
      graft.functions.Paths.fullExtensionCol(col("filename")).as("extension")))
  }

  /** K4 — eventlog sink: the reference's single `<uid>.eventlog.json`
    * JSON array (preservation_events.py:61-68), written WITHOUT collecting
    * documents to the driver: the event triples stream through one
    * executor task (coalesce(1) + partition-local sort by root, which
    * gives a deterministic doc order and lets [[JsonLd.renderRuns]]
    * render each event's run without an exchange) into a temp dir, and
    * the part file is renamed into place. A single
    * parity file is inherently one writer; for event graphs too large for
    * one file, use `Events.save` (partitioned JSON-LD) instead.
    *
    * `events` must be an [[Events.emit]] graph: every event is one flat
    * node, its own root, with no blank nodes, so each document is
    * rendered with `root = subject` and no root search. In a graph
    * whose events hold blank-node children, each blank node would
    * become a document of its own; render such a graph with
    * `JsonLd.documents`.
    */
  def saveEventlog(events: DataFrame, dir: String,
                   ids: Identifiers = Identifiers.default): Unit = {
    val spark = events.sparkSession
    import spark.implicits._
    // URI-safe join (java.nio Paths.get would collapse a scheme's '//')
    val tmp = graft.sources.FsUtil.child(dir, s".${ids.eventlogFilename}.tmp")
    val lines = JsonLd.renderRuns(events.withColumn("root", col("subject"))
        .coalesce(1).sortWithinPartitions("root"))
      .as[(String, String)]
      .mapPartitions { it =>
        // stream the JSON array shape: "[", doc "," ... doc, "]"
        var prev: String = null
        val body = it.map { case (_, json) =>
          val out = if (prev == null) "[" else prev + ","
          prev = json
          out
        }
        val tail = Iterator.single(()).flatMap { _ =>
          if (prev == null) Iterator.single("[") ++ Iterator.single("]")
          else Iterator.single(prev) ++ Iterator.single("]")
        }
        body ++ tail
      }
    lines.write.mode("overwrite").text(tmp)
    graft.sources.FsUtil.promotePartFile(spark.sparkContext.hadoopConfiguration, tmp,
      graft.sources.FsUtil.child(dir, ids.eventlogFilename),
      emptyFallback = Some("[]"))
  }
}
