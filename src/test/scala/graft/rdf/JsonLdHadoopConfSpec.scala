package graft.rdf.io

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import graft.rdf.{Build, NS}
import graft.rdf.Build._

/** A local file system that records each call the jsonld source and
  * sink make through it, as `<call>:<file name>`. */
class CallRecordingLocalFs extends LocalFileSystem {
  private def record(call: String, f: Path): Unit =
    CallRecordingLocalFs.calls.add(s"$call:${f.getName}")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    record("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    record("rename", dst)
    super.rename(src, dst)
  }

  override def mkdirs(f: Path): Boolean = {
    record("mkdirs", f)
    super.mkdirs(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f)
    super.open(f, bufferSize)
  }

  override def globStatus(pattern: Path): Array[FileStatus] = {
    record("glob", pattern)
    super.globStatus(pattern)
  }
}

object CallRecordingLocalFs {
  val calls: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet()
}

/** The jsonld sink (driver and tasks) and source (planning and reads)
  * reach files with the session's Hadoop configuration, so
  * `spark.hadoop.*` settings (an s3a endpoint, credentials) apply. */
class JsonLdHadoopConfSpec extends graft.SparkSuite {

  test("a jsonld write and read go through the session's file system") {
    import spark.implicits._
    val triples = Build.flatten((1 to 8).toDF("i"), RResource(
      concat(lit("https://example.org/r/"), col("i")), Seq(
        NS.rdfType -> RUri(lit(NS.LDTO + "Informatieobject")),
        (NS.LDTO + "naam") -> RLit(concat(lit("Titel "), col("i"))))))
      .repartition(2, col("subject"))
    val out = tempDir("graft-jsonld-conf").resolve("g")
    val hc = spark.sparkContext.hadoopConfiguration
    // uncached, so no file system built before this test answers for it
    val settings = Seq("fs.file.impl" -> classOf[CallRecordingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = settings.map { case (k, _) => k -> Option(hc.get(k)) }
    def drain(): Set[String] = {
      val seen = CallRecordingLocalFs.calls.asScala.toSet
      CallRecordingLocalFs.calls.clear()
      seen
    }
    CallRecordingLocalFs.calls.clear()
    settings.foreach { case (k, v) => hc.set(k, v) }
    val (written, read, n) =
      try {
        triples.write.format("jsonld").mode("overwrite").save(out.toString)
        val written = drain()
        val n = spark.read.format("jsonld").load(out.toString).count()
        (written, drain(), n)
      } finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }

    assert(n == 16L)
    val s = Files.list(out)
    val parts = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".jsonld")).toSeq finally s.close()
    assert(parts.size == 2)
    // driver: the sink's temp dir; tasks: each part file; commit: its rename
    assert(written.exists(_.startsWith("mkdirs:_temporary_")), written)
    parts.foreach { p =>
      assert(written.contains(s"create:$p") && written.contains(s"rename:$p"), written)
    }
    // planning lists the path, each read task opens its file
    assert(read.contains("glob:g"), read)
    parts.foreach(p => assert(read.contains(s"open:$p"), read))
  }
}
