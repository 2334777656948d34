package graft.rdf.io

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.rdf.Triple

/** DataSource V2 connector for JSON-LD: `spark.read.format("jsonld")
  * .load(pathOrGlob)` yields the canonical triple DataFrame — the same
  * rows as [[JsonLd.read]], but as a first-class Catalyst source:
  * planning emits one InputPartition per file (parallelism = file
  * count, the natural unit for one-resource-per-file SIP layouts), rows
  * are produced directly as InternalRow (no Row round-trip), and the
  * source composes with everything DataFrame (column pruning happens in
  * the planner; the 6-column triple schema is fixed).
  *
  * Blank nodes are remapped per source file with the same path-hash
  * suffix as [[JsonLd.read]] (S4 discipline), so unions of many SIP
  * directories never collide.
  */
class JsonLdSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "jsonld"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Triple.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new JsonLdTable(RdfSourceUtil.resolvePaths(schema, properties, "jsonld"))
}

/** Shared TableProvider plumbing for the fixed-triple-schema RDF
  * sources (jsonld, turtle): fixed-schema validation + the path/paths
  * property decoding Spark uses for `load(p)` vs `load(p1, p2, ...)`. */
private[io] object RdfSourceUtil {
  def resolvePaths(schema: StructType,
                   properties: util.Map[String, String],
                   format: String): Seq[String] = {
    // the sources always produce the canonical triple schema — reject a
    // different user-supplied one instead of silently ignoring it
    if (schema != null &&
        schema.fieldNames.toSeq != Triple.schema.fieldNames.toSeq) {
      throw new IllegalArgumentException(
        s"$format source has a fixed schema ${Triple.schema.simpleString}; " +
          s"got ${schema.simpleString}")
    }
    // load(p) arrives as "path"; load(p1, p2, ...) as a JSON-array "paths"
    val paths: Seq[String] = Option(properties.get("paths")) match {
      case Some(js) =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        import scala.jdk.CollectionConverters._
        mapper.readTree(js).elements().asScala.map(_.asText).toSeq
      case None => Option(properties.get("path")).toSeq
    }
    if (paths.isEmpty)
      throw new IllegalArgumentException(
        s"""$format source requires a path: spark.read.format("$format").load(path)""")
    paths
  }
}

private[io] class JsonLdTable(paths: Seq[String])
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"jsonld(${paths.mkString(",")})"
  override def schema(): StructType = Triple.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  // write: mode("append") adds part files; mode("overwrite") truncates
  // existing .jsonld files first (save() default ErrorIfExists is refused
  // by Spark for DSv2 path-based writes — use append/overwrite)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1, s"jsonld write requires exactly one path, got $paths")
    new JsonLdWriteBuilder(paths.head, info)
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = Triple.schema
      override def description(): String = name()
      override def toBatch: Batch =
        new RdfFileBatch(paths, (text, sfx) => JsonLd.parse(text, sfx))
    }
}

/** Shared one-InputPartition-per-file batch for whole-file RDF sources
  * (jsonld, turtle): lists files under the paths (glob ok), and each
  * partition parses its file with the supplied (text, bnodeSuffix) →
  * triples function. Listing and reads go through the session's Hadoop
  * configuration, so `spark.hadoop.*` settings apply to them. */
private[io] class RdfFileBatch(paths: Seq[String],
                               parse: (String, String) => Seq[Triple])
  extends Batch {
  private val conf = SparkSession.active.sparkContext.hadoopConfiguration
  /** Spark's InMemoryFileIndex hidden-path rule: '_' and '.' prefixed
    * names (e.g. _SUCCESS, .part-*.crc in a Spark-written directory) are
    * not data. Applied here so format("jsonld") and JsonLd.read (which
    * inherits the rule via spark.read.text) agree on the same directory. */
  private def visible(p: HPath): Boolean = {
    val n = p.getName
    !n.startsWith("_") && !n.startsWith(".")
  }
  private def filesUnder(fs: org.apache.hadoop.fs.FileSystem,
                         st: FileStatus): Array[FileStatus] =
    if (st.isDirectory)
      fs.listStatus(st.getPath).filter(s => visible(s.getPath))
        .flatMap(filesUnder(fs, _))
    else Array(st)
  override def planInputPartitions(): Array[InputPartition] = {
    paths.toArray.flatMap { path =>
      val p = new HPath(path)
      val fs = p.getFileSystem(conf)
      val matched: Array[FileStatus] =
        Option(fs.globStatus(p)).getOrElse(Array.empty)
      // an explicitly named hidden path is honored; hidden CHILDREN of a
      // listed directory are filtered (InMemoryFileIndex semantics)
      matched.flatMap(filesUnder(fs, _))
    }.map(st => RdfFileInputPartition(st.getPath.toString): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new RdfFileReaderFactory(parse, new SerializableWritable(conf))
}

private[io] case class RdfFileInputPartition(file: String) extends InputPartition

private[io] class RdfFileReaderFactory(
    parse: (String, String) => Seq[Triple],
    conf: SerializableWritable[Configuration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[RdfFileInputPartition].file
    new PartitionReader[InternalRow] {
      private var it: Iterator[Triple] = _
      private var current: Triple = _
      private def u(s: String): UTF8String =
        if (s == null) null else UTF8String.fromString(s)
      override def next(): Boolean = {
        if (it == null) {
          val p = new HPath(file)
          val fs = p.getFileSystem(conf.value)
          val in = fs.open(p)
          val json =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val suffix = java.lang.Long.toHexString(
            graft.text.Dedup.xxhash64String(file))
          it = parse(json, suffix).iterator
        }
        if (it.hasNext) { current = it.next(); true } else false
      }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          u(current.subject), u(current.predicate), u(current.objectValue),
          u(current.objectKind), u(current.datatype), u(current.lang)))
      override def close(): Unit = ()
    }
  }
}
