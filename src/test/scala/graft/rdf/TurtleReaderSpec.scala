package graft.rdf.io

import org.apache.spark.sql.functions._
import graft.rdf.{Build, NS, Triple}
import graft.rdf.Build._

class TurtleReaderSpec extends graft.SparkSuite {

  private def sampleTriples = {
    import spark.implicits._
    val one = Seq(1).toDF("row")
    Build.flatten(one, RResource(lit("http://example.org/r1"), Seq(
      NS.rdfType -> RUri(lit(NS.LDTO + "Informatieobject")),
      (NS.DCT + "title") -> RLit(lit("say \"hi\"\n"), lang = lit("nl")),
      (NS.LDTO + "omvang") -> RLit(lit(7L), datatype = lit(NS.xsdInteger)),
      (NS.LDTO + "dekkingInTijd") -> RNode(Seq(
        (NS.LDTO + "begin") -> RLit(lit("2023-01-01"), datatype = lit(NS.xsdDate)))))))
  }

  private def asSet(ts: Seq[Triple]) =
    ts.map(t => (t.subject, t.predicate, t.objectValue, t.objectKind,
      t.datatype, t.lang)).toSet

  test("Turtle writer -> reader round-trip is the identity (K2+S12)") {
    val doc = Turtle.document(sampleTriples)
    val parsed = TurtleReader.parse(doc)
    val original = sampleTriples.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        Option(r.getString(4)).orNull, Option(r.getString(5)).orNull)).toSet
    assert(asSet(parsed) == original)
  }

  test("literal ending in an escaped backslash finds its closing quote") {
    val ttl = """<http://x/s> <http://x/p> "a\\"@nl .""" + "\n"
    val ts = asSet(TurtleReader.parse(ttl))
    assert(ts == Set(("http://x/s", "http://x/p", "a\\", "literal", null, "nl")))
  }

  test("full-IRI datatype survives the tokenizer (dots in authority)") {
    val ttl =
      """<http://x/s> <http://x/p> "1984-01-01"^^<http://www.w3.org/2001/XMLSchema#date> .
        |""".stripMargin
    val ts = asSet(TurtleReader.parse(ttl))
    assert(ts == Set(("http://x/s", "http://x/p", "1984-01-01", "literal",
      "http://www.w3.org/2001/XMLSchema#date", null)))
  }

  test("parses object lists and predicate lists") {
    val ttl =
      """@prefix dct: <http://purl.org/dc/terms/> .
        |<http://x/s> dct:subject "A", "B" ;
        |    dct:title "T" .
        |""".stripMargin
    val ts = asSet(TurtleReader.parse(ttl))
    assert(ts == Set(
      ("http://x/s", NS.DCT + "subject", "A", "literal", null, null),
      ("http://x/s", NS.DCT + "subject", "B", "literal", null, null),
      ("http://x/s", NS.DCT + "title", "T", "literal", null, null)))
  }

  test("AnyRdf parses both JSON-LD and Turtle (S12 fallback)") {
    val ttl = Turtle.document(sampleTriples)
    val json = JsonLd.documents(sampleTriples).collect().head.getString(1)
    assert(asSet(AnyRdf.parseAuto(ttl)) == asSet(AnyRdf.parseAuto(json)))
    intercept[IllegalArgumentException](AnyRdf.parseAuto("not rdf at all ..."))
  }
}

class MimeSpec extends graft.SparkSuite {
  import graft.functions.{AppSignature, Mime, TextLog}

  test("STR10 mime guess: known, unknown, case, no extension") {
    assert(Mime.guess("a/b/photo.JPG") == "image/jpeg")
    assert(Mime.guess("x.meta.json") == "application/json")
    assert(Mime.guess("archive.tar.gz") == "application/gzip")
    assert(Mime.guess("weird.xyz") == Mime.default)
    assert(Mime.guess("noext") == Mime.default)
  }

  test("mime Column variant agrees with driver-side guess") {
    import spark.implicits._
    val keys = Seq("photo.JPG", "x.meta.json", "weird.xyz", "noext", "a.ttl")
    val got = keys.toDF("k").select(Mime.guessCol(col("k"))).collect()
      .map(_.getString(0)).toSeq
    assert(got == keys.map(Mime.guess))
  }

  test("STR13 app signature parsing") {
    assert(AppSignature.parseVersion("DROID Signature\nVersion:   6.8.1\n")
      .contains("6.8.1"))
    assert(AppSignature.parseVersion("no version here").isEmpty)
    assert(AppSignature.idSlug("ClamAV 1.2 (x86)!") == "ClamAV12x86")
  }

  test("S13 text log read strips and drops blanks") {
    import spark.implicits._
    val f = tempDir("graft-log").resolve("log.txt")
    java.nio.file.Files.writeString(f, "  line1  \n\n   \nline2\n")
    val lines = TextLog.read(spark, f.toString).collect().map(_.getString(0))
    assert(lines.toSeq == Seq("line1", "line2"))
  }
}

class SipSpec extends graft.SparkSuite {
  import java.nio.file.Files
  import graft.sip.Sip

  test("E2 lifecycle: save -> manifest + eventlog; load round-trips") {
    val triples = graft.etl.Flagship.run(spark, "/root/testdata/sf0.001")
      .filter(col("subject").contains("-661-1") || col("objectValue").contains("-661-1"))
    val n = triples.count()
    assert(n > 0)
    val dir = tempDir("graft-sip").toString
    val ids = graft.ids.Identifiers.default
    val manifest = Sip.save(spark, triples, dir, ids,
      timestamp = "2026-01-01T00:00:00Z")
    // manifest covers the written .meta.json files, not itself (F13)
    val paths = manifest.select("path").collect().map(_.getString(0))
    assert(paths.nonEmpty && paths.forall(_.endsWith(".meta.json")))
    assert(Files.exists(java.nio.file.Paths.get(dir, ids.manifestFilename)))
    assert(Files.exists(java.nio.file.Paths.get(dir, ids.eventlogFilename)))
    // S5 — load back; URI-subject triples survive the round-trip
    val loaded = Sip.loadResources(spark, dir)
    val originalUri = triples.filter(!col("subject").startsWith("_:")
      && col("objectKind") =!= "bnode").count()
    val loadedUri = loaded.filter(!col("subject").startsWith("_:")
      && col("objectKind") =!= "bnode").count()
    assert(loadedUri == originalUri)
    // K4 — the eventlog JSON array round-trips through JsonLd.read:
    // one mem event per written resource, with tool-era properties
    val eventTriples = graft.rdf.io.JsonLd.read(
      spark, dir + "/" + ids.eventlogFilename)
    val types = eventTriples
      .filter(col("predicate") === (graft.rdf.NS.PREMIS + "eventType"))
      .select("objectValue").distinct().collect().map(_.getString(0))
    assert(types.toSeq == Seq(graft.events.Events.mem))
    val nEvents = eventTriples.select("subject").distinct().count()
    assert(nEvents == paths.length, s"one event per saved resource")
    assert(eventTriples.filter(
      col("predicate") === (graft.rdf.NS.PROV + "generated")).count() == nEvents)
  }
}

class SipIdRecoverySpec extends graft.SparkSuite {
  test("STR3 max-id recovery from SIP filenames") {
    import java.nio.file.{Files, Paths => JPaths}
    val dir = tempDir("graft-sipids").toString
    val ids = graft.ids.Identifiers.default
    Seq(3L, 27L, 11L).foreach { id =>
      Files.writeString(JPaths.get(dir, ids.filenameFromId(id.toString)), "{}")
    }
    Files.writeString(JPaths.get(dir, "unrelated.txt"), "x")
    assert(graft.sip.Sip.maxResourceId(spark, dir) == 27L)
    assert(graft.sip.Sip.maxResourceId(spark, dir + "/nonexistent") == 0L)
  }
}
