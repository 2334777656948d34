package graft.sip

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.DataFrame
import graft.etl.DemoCsvFixture
import graft.manifest.Manifest

/** A local file system that records the name of every file opened for
  * reading through it. */
class OpenRecordingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenRecordingLocalFs.names.add(f.getName)
    super.open(f, bufferSize)
  }
}

object OpenRecordingLocalFs {
  val names: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet()
}

/** `Sip.save` takes the manifest from the write: the entries a scan of
  * the written tree would give, without reading the files back; a tree
  * that holds other files gets the scan's entries for all of them. */
class SipManifestSpec extends graft.SparkSuite {

  private val ids = graft.ids.Identifiers.default
  private val ignore = Seq(ids.manifestFilename, ids.eventlogFilename)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Saves the fixture SIP into `sip` (after `prepare`), and checks the
    * returned manifest and the saved JSON against a scan of the tree. */
  private def saveMatchesScan(sip: JPath, prepare: JPath => Unit = _ => ()): Seq[String] = {
    val in = tempDir("graft-sipmanifest-in")
    DemoCsvFixture.write(in)
    Files.createDirectories(sip)
    prepare(sip)
    val manifest = Sip.save(spark, DemoCsvFixture.run(spark, in), sip.toString, ids,
      timestamp = "2025-01-01T00:00:00Z")
    spark.catalog.refreshByPath(sip.toString)
    val scan = Manifest.scanDirectory(spark, sip.toString, ignore)
    assert(manifest.columns.toSeq == scan.columns.toSeq)
    assert(manifest.schema.map(_.dataType) == scan.schema.map(_.dataType))
    val scanned = rows(scan)
    assert(rows(manifest) == scanned)
    val ref = tempDir("graft-sipmanifest-ref").resolve("manifest.json")
    Manifest.saveJson(scan, ref.toString)
    assert(Files.readString(sip.resolve(ids.manifestFilename)) == Files.readString(ref))
    scanned
  }

  test("a fresh save's manifest equals the scan of its tree, modified included") {
    val entries = saveMatchesScan(tempDir("graft-sipmanifest").resolve("sip"))
    assert(entries.size == 28) // 1 archive + 3 series + 12 × (record, bestand)
  }

  test("a tree with foreign files gets the scan's manifest") {
    val entries = saveMatchesScan(tempDir("graft-sipmanifest-used").resolve("sip"), { sip =>
      Files.writeString(sip.resolve("foreign.txt"), "not a resource")
      Files.createDirectories(sip.resolve("sub"))
      Files.writeString(sip.resolve("sub/nested.bin"), "nested")
    })
    assert(entries.size == 28 + 2)
    assert(entries.exists(_.startsWith("foreign.txt|")))
    assert(entries.exists(_.startsWith("sub/nested.bin|")))
  }

  test("a fresh save reads no resource file back") {
    val hc = spark.sparkContext.hadoopConfiguration
    // uncached, so no file system built before this test answers for it
    val settings = Seq("fs.file.impl" -> classOf[OpenRecordingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = settings.map { case (k, _) => k -> Option(hc.get(k)) }
    val in = tempDir("graft-sipmanifest-in")
    DemoCsvFixture.write(in)
    val triples = DemoCsvFixture.run(spark, in)
    val sip = tempDir("graft-sipmanifest-noread").resolve("sip").toString
    def metaOpened: Set[String] = {
      import scala.jdk.CollectionConverters._
      OpenRecordingLocalFs.names.asScala.filter(_.endsWith(".meta.json")).toSet
    }
    settings.foreach { case (k, v) => hc.set(k, v) }
    try {
      OpenRecordingLocalFs.names.clear()
      Sip.save(spark, triples, sip, ids, timestamp = "2025-01-01T00:00:00Z")
      assert(metaOpened.isEmpty, s"save read back $metaOpened")
      // the recorder sees a scan's reads
      spark.catalog.refreshByPath(sip)
      Manifest.scanDirectory(spark, sip, ignore).collect()
      assert(metaOpened.size == 28)
    } finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
  }
}
