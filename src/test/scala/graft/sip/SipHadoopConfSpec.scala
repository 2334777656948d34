package graft.sip

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import graft.etl.DemoCsvFixture

/** A local file system that records the name of every file created or
  * renamed into place through it. */
class RecordingLocalFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    RecordingLocalFs.names.add(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    RecordingLocalFs.names.add(dst.getName)
    super.rename(src, dst)
  }
}

object RecordingLocalFs {
  val names: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet()
}

/** The SIP write path (resource files, manifest, eventlog) goes through
  * the session's Hadoop configuration, so `spark.hadoop.*` settings (an
  * s3a endpoint, credentials) reach it. */
class SipHadoopConfSpec extends graft.SparkSuite {

  test("every SIP file is written through the session's file system") {
    val hc = spark.sparkContext.hadoopConfiguration
    // uncached, so no file system built before this test answers for it
    val settings = Seq("fs.file.impl" -> classOf[RecordingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = settings.map { case (k, _) => k -> Option(hc.get(k)) }
    val in = tempDir("graft-sipconf-in")
    DemoCsvFixture.write(in)
    val sip = tempDir("graft-sipconf").resolve("sip")
    RecordingLocalFs.names.clear()
    settings.foreach { case (k, v) => hc.set(k, v) }
    try Sip.save(spark, DemoCsvFixture.run(spark, in), sip.toString,
      timestamp = "2025-01-01T00:00:00Z")
    finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }

    val ids = graft.ids.Identifiers.default
    val s = Files.list(sip)
    val files = try s.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSet finally s.close()
    assert(files.contains(ids.manifestFilename) && files.contains(ids.eventlogFilename))
    assert(files.size == 28 + 2) // 1 archive + 3 series + 12 × (record, bestand)
    val bypassed = files.filterNot(RecordingLocalFs.names.contains)
    assert(bypassed.isEmpty, s"written without the session's configuration: $bypassed")
  }
}
