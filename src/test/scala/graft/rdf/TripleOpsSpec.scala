package graft.rdf

import org.apache.spark.sql.functions._
import graft.rdf.Build._

class TripleOpsSpec extends graft.SparkSuite {

  private lazy val g = {
    import spark.implicits._
    val one = Seq(1).toDF("row")
    Build.flatten(one, RResource(lit("http://x/bestand1"), Seq(
      NS.rdfType -> RUri(lit(NS.LDTO + "Bestand")),
      (NS.LDTO + "naam") -> RLit(lit("orig.jpg")),
      (NS.LDTO + "URLBestand") -> RLit(lit("https://cdn/x.jpg")),
      (NS.LDTO + "checksum") -> RNode(Seq(
        (NS.LDTO + "checksumWaarde") -> RLit(lit("abc123")))))))
      .unionByName(Build.flatten(one, RResource(lit("http://x/record1"), Seq(
        NS.rdfType -> RUri(lit(NS.LDTO + "Informatieobject")),
        (NS.LDTO + "naam") -> RLit(lit("Record"))))))
      .cache()
  }

  test("F4 point lookup returns first object or None") {
    assert(TripleOps.pointLookup(g, "http://x/bestand1", NS.LDTO + "naam")
      .contains("orig.jpg"))
    assert(TripleOps.pointLookup(g, "http://x/bestand1", NS.LDTO + "nope").isEmpty)
  }

  test("F5 pivot builds one wide row per subject") {
    val wide = TripleOps.pivotValues(g,
      Seq(NS.LDTO + "naam", NS.LDTO + "URLBestand")).collect()
      .map(r => r.getString(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    assert(wide("http://x/bestand1") == (("orig.jpg", Some("https://cdn/x.jpg"))))
    assert(wide("http://x/record1") == (("Record", None)))
  }

  test("J7 follow bnode reaches the checksum value") {
    val v = TripleOps.followBnode(g, NS.LDTO + "checksum",
      NS.LDTO + "checksumWaarde").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v == Map("http://x/bestand1" -> "abc123"))
  }

  test("F3 having-predicate semi-join keeps only linked subjects") {
    val subjects = TripleOps.havingPredicate(g, NS.LDTO + "URLBestand")
      .select("subject").distinct().collect().map(_.getString(0)).toSet
    assert(subjects == Set("http://x/bestand1"))
  }
}

class RunInfoSpec extends graft.SparkSuite {
  import graft.runinfo.RunInfo

  test("S9 round-trip + A5 earliest start") {
    val a = RunInfo("droid", "https://tools/droid", "2026-01-01T10:00:00",
      "2026-01-01T10:05:00", "ok \"quoted\"")
    val f = tempDir("graft-runinfo").resolve("runinfo.json").toString
    a.save(f)
    assert(RunInfo.load(f) == a)
    val b = RunInfo("clamav", "https://tools/clamav", "2026-01-01T09:30:00", "")
    assert(RunInfo.earliestStart(a, b) == "2026-01-01T09:30:00")
  }
}

class EventLogRecoverySpec extends graft.SparkSuite {
  import java.nio.file.{Files, Paths => JPaths}
  import graft.events.Events
  import graft.rdf.io.JsonLd

  test("S8 — eventlog save + load + max-id recovery composes") {
    import spark.implicits._
    val batch = Seq(("o1", true), ("o2", true)).toDF("obj", "ok")
    val events = Events.emit(batch, Seq(col("obj")), Events.fix,
      subjectOf = col("obj"), outcome = col("ok"), startId = 41L,
      timestamp = "2026-01-01T00:00:00Z")
    val dir = tempDir("graft-evlog").toString
    // one JSON-LD doc per event resource on disk
    JsonLd.documents(events).collect().foreach { r =>
      val id = r.getString(0).split("-e").last
      Files.writeString(JPaths.get(dir, s"e$id.meta.json"), r.getString(1))
    }
    val loaded = JsonLd.read(spark, s"$dir/*.meta.json")
    assert(Events.maxEventId(loaded) == 43L) // 41 + 2 events
    assert(loaded.count() == events.count())
  }
}

class StreamingMd5Spec extends graft.SparkSuite {
  import java.nio.file.{Files, Paths => JPaths}
  import graft.manifest.Manifest

  test("H1 streaming MD5 equals content-based MD5") {
    val dir = tempDir("graft-md5").toString
    Files.writeString(JPaths.get(s"$dir/a.txt"), "hello world")
    Files.write(JPaths.get(s"$dir/big.bin"),
      Array.tabulate(100000)(_.toByte)) // spans many 8192 chunks
    val byContent = Manifest.scanDirectory(spark, dir)
      .select("path", "md5hash").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val byStream = Manifest.scanDirectoryStreaming(spark, dir)
      .select("path", "md5hash").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byStream == byContent)
  }
}
