package graft.rdf.io

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import graft.rdf.Triple

/** DataSource V2 write path for the "jsonld" source:
  * `triples.write.format("jsonld").save(dir)` writes each partition's
  * triples as JSON-LD documents — grouped by root resource (partition-
  * local [[JsonLd.subjectRoots]] semantics: a subject that appears as a
  * bnode object of another subject folds into that parent's document),
  * one `part-NNNNN.jsonld` file per non-empty partition, laid out as the
  * array-of-@graph-documents shape [[JsonLd.parse]] reads back.
  *
  * Resource grouping is partition-LOCAL by design (a DSv2 writer cannot
  * shuffle): co-locate each resource's bnode closure in one partition —
  * e.g. `triples.repartition(col("subject"))` when resources have no
  * bnodes, or a root-key repartition via [[JsonLd.subjectRoots]] — for
  * resource-perfect documents. Blank-node scoping is per FILE on read,
  * so a closure split across partitions would read back as distinct
  * bnodes; co-partitioned input round-trips isomorphically (spec'd).
  *
  * Commit protocol: tasks write to `_temporary_<queryId>/`, commit
  * renames into `dir` — an aborted job leaves no partial part files
  * visible. Driver and tasks reach `dir` with the session's Hadoop
  * configuration, so `spark.hadoop.*` settings apply to it. */
private[io] class JsonLdWriteBuilder(path: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {
  // validate names AND types driver-side: a wrong-typed column would
  // otherwise die executor-side (getUTF8String ClassCastException) after
  // truncate already deleted the existing files
  if (info.schema() != null &&
      info.schema().fields.toSeq.map(f => (f.name, f.dataType)) !=
        Triple.schema.fields.toSeq.map(f => (f.name, f.dataType))) {
    throw new IllegalArgumentException(
      s"jsonld sink writes the fixed triple schema ${Triple.schema.simpleString}; " +
        s"got ${info.schema().simpleString}")
  }
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new JsonLdBatchWrite(path, info.queryId(), doTruncate)
  }
}

private[io] class JsonLdBatchWrite(path: String, queryId: String,
                                   truncate: Boolean) extends BatchWrite {
  private val conf = SparkSession.active.sparkContext.hadoopConfiguration
  private lazy val fs = new HPath(path).getFileSystem(conf)
  private def tempDir = new HPath(path, s"_temporary_$queryId")
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (truncate && fs.exists(new HPath(path))) {
      fs.listStatus(new HPath(path))
        .filter(_.getPath.getName.endsWith(".jsonld"))
        .foreach(st => fs.delete(st.getPath, false))
    }
    fs.mkdirs(tempDir)
    new JsonLdWriterFactory(path, queryId, new SerializableWritable(conf))
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    try messages.foreach {
      case JsonLdCommit(files) => files.foreach { name =>
        // rename returns false instead of throwing on e.g. an existing
        // destination — swallowing it would silently drop the file
        if (!fs.rename(new HPath(tempDir, name), new HPath(path, name)))
          sys.error(s"jsonld commit: rename of $name into $path failed " +
            "(destination exists or temp file missing)")
      }
      case _ => ()
    } finally fs.delete(tempDir, true)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(tempDir, true)
}

private[io] case class JsonLdCommit(files: Seq[String]) extends WriterCommitMessage

private[io] class JsonLdWriterFactory(path: String, queryId: String,
                                      conf: SerializableWritable[Configuration])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JsonLdDataWriter(path, queryId, partitionId, conf.value)
}

private[io] class JsonLdDataWriter(path: String, queryId: String,
                                   partitionId: Int, conf: Configuration)
  extends DataWriter[InternalRow] {
  private val rows = scala.collection.mutable.ArrayBuffer
    .empty[(String, String, String, String, String, String)]

  override def write(record: InternalRow): Unit = {
    def s(i: Int): String =
      if (record.isNullAt(i)) null else record.getUTF8String(i).toString
    rows += ((s(0), s(1), s(2), s(3), s(4), s(5)))
  }

  override def commit(): WriterCommitMessage = {
    if (rows.isEmpty) return JsonLdCommit(Seq.empty)
    // queryId in the final name: append-mode writes from two jobs must
    // not collide on part-00000 (rename into place would drop one)
    val name = f"part-$partitionId%05d-$queryId.jsonld"
    val tmp = new HPath(new HPath(path, s"_temporary_$queryId"), name)
    val fs = tmp.getFileSystem(conf)
    val out = fs.create(tmp, true)
    val w = new java.io.OutputStreamWriter(out, "UTF-8")
    // streamed render: one document's string at a time, never the whole
    // partition's output concatenated
    try JsonLd.renderPartitionTo(rows.toSeq, w.write(_)) finally w.close()
    JsonLdCommit(Seq(name))
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
