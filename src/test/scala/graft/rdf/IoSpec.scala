package graft.rdf.io

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.rdf.{Build, NS, Triple}
import graft.rdf.Build._

class TurtleSpec extends graft.SparkSuite {

  test("term: prefix abbreviation and IRI fallback") {
    assert(Turtle.term(NS.rdfType) == "rdf:type")
    assert(Turtle.term(NS.LDTO + "omvang") == "ldto:omvang")
    assert(Turtle.term("http://example.org/x") == "<http://example.org/x>")
    // local name ending in '.' is not PN_LOCAL-safe
    assert(Turtle.term(NS.LDTO + "a.b.") == s"<${NS.LDTO}a.b.>")
  }

  test("literal: escaping, datatype, language") {
    assert(Turtle.literal("plain", null, null) == "\"plain\"")
    assert(Turtle.literal("say \"hi\"\n", null, null) == "\"say \\\"hi\\\"\\n\"")
    assert(Turtle.literal("2023-12-31", NS.xsdDate, null)
      == "\"2023-12-31\"^^xsd:date")
    assert(Turtle.literal("hallo", null, "nl") == "\"hallo\"@nl")
  }

  test("document: header + sorted subject blocks") {
    import spark.implicits._
    val one = Seq(1).toDF("row")
    val triples = Build.flatten(one, RResource(lit("http://example.org/b"), Seq(
      NS.rdfType -> RUri(lit(NS.LDTO + "Bestand")),
      (NS.DCT + "title") -> RLit(lit("T\"x"), lang = lit("nl")))))
      .unionByName(Build.flatten(one, RResource(lit("http://example.org/a"),
        Seq((NS.LDTO + "omvang") -> RLit(lit(42L), datatype = lit(NS.xsdInteger))))))
    val doc = Turtle.document(triples)
    assert(doc.startsWith("@prefix rdf: <" + NS.RDF + "> ."))
    val aIdx = doc.indexOf("<http://example.org/a>")
    val bIdx = doc.indexOf("<http://example.org/b>")
    assert(aIdx >= 0 && bIdx > aIdx) // subject-sorted
    assert(doc.contains("ldto:omvang \"42\"^^xsd:integer ."))
    assert(doc.contains("dct:title \"T\\\"x\"@nl"))
    assert(doc.contains("rdf:type ldto:Bestand"))
  }

  test("write: single text file with header first") {
    import spark.implicits._
    val one = Seq(1).toDF("row")
    val triples = Build.flatten(one, RResource(lit("http://example.org/a"),
      Seq((NS.DCT + "title") -> RLit(lit("t")))))
    val out = tempDir("graft-ttl").toString + "/g"
    Turtle.write(triples, out)
    val files = new java.io.File(out).listFiles.filter(_.getName.endsWith(".txt"))
    assert(files.length == 1)
    val text = Files.readString(files.head.toPath)
    assert(text.startsWith("@prefix"))
    assert(text.contains("<http://example.org/a>"))
  }
}

class JsonLdSpec extends graft.SparkSuite {

  private def sampleTriples = {
    import spark.implicits._
    val one = Seq(1).toDF("row")
    Build.flatten(one, RResource(lit("http://example.org/r1"), Seq(
      NS.rdfType -> RUri(lit(NS.LDTO + "Informatieobject")),
      (NS.DCT + "title") -> RLit(lit("Doc \"1\""), lang = lit("nl")),
      (NS.LDTO + "omvang") -> RLit(lit(7L), datatype = lit(NS.xsdInteger)),
      (NS.LDTO + "dekkingInTijd") -> RNode(Seq(
        (NS.LDTO + "begin") -> RLit(lit("2023-01-01"), datatype = lit(NS.xsdDate)))))))
  }

  test("K1 documents: one doc per root, bnode closure inlined") {
    val docs = JsonLd.documents(sampleTriples).collect()
    assert(docs.length == 1) // bnode folded into its root resource
    val json = docs.head.getString(1)
    assert(docs.head.getString(0) == "http://example.org/r1")
    assert(json.contains("\"@graph\""))
    assert(json.contains("_:sk")) // skolem bnode present
  }

  test("rooted renderer returns the root join's documents") {
    import spark.implicits._
    def docs(df: DataFrame): Seq[(String, String)] =
      df.select("root", "json").as[(String, String)].collect().toSeq.sortBy(_._1)
    // each root's document as one driver-side render of its collected rows
    def driverRendered(withRoot: DataFrame): Seq[(String, String)] =
      withRoot.select("root", Triple.columns: _*)
        .as[(String, String, String, String, String, String, String)].collect().toSeq
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (root, ts) =>
          root -> JsonLd.renderDoc(root, ts.map(t => (t._2, t._3, t._4, t._5, t._6, t._7)))
        }

    val events = graft.events.Events.emit((1 to 12).toDF("i"), Seq(col("i")),
      graft.events.Events.mem,
      subjectOf = concat(lit("https://example.org/o/"), col("i")), outcome = lit(true),
      description = lit("Metadata object created."),
      generated = concat(lit("https://example.org/f/"), col("i")),
      timestamp = "2025-01-01T00:00:00Z")
    val eventRooted = events.withColumn("root", col("subject"))
    val eventDocs = docs(JsonLd.documents(events))
    assert(eventDocs.size == 12)
    assert(docs(JsonLd.rooted(eventRooted)) == eventDocs)
    assert(driverRendered(eventRooted) == eventDocs)

    // the fixture graph carries each triple's root from Build; it is
    // the root the join finds, and both paths render the same documents
    val in = tempDir("graft-rooted-in")
    graft.etl.DemoCsvFixture.write(in)
    val graph = graft.etl.DemoCsvFixture.run(spark, in)
    val flat = graph.select(Triple.columns.map(col): _*)
    def pairs(df: DataFrame): Set[(String, String)] =
      df.select("subject", "root").as[(String, String)].collect().toSet
    assert(pairs(graph) == pairs(JsonLd.subjectRoots(flat)))
    val graphDocs = docs(JsonLd.documents(graph))
    assert(graphDocs.size == 28) // 1 archive + 3 series + 12 × (record, bestand)
    assert(docs(JsonLd.documents(flat)) == graphDocs)
    assert(driverRendered(graph) == graphDocs)
  }

  test("writer -> parser round-trip is the identity on the triple set") {
    val original = sampleTriples.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        Option(r.getString(4)).orNull, Option(r.getString(5)).orNull)).toSet
    val json = JsonLd.documents(sampleTriples).collect().head.getString(1)
    val parsed = JsonLd.parse(json)
      .map(t => (t.subject, t.predicate, t.objectValue, t.objectKind,
        t.datatype, t.lang)).toSet
    assert(parsed == original)
  }

  test("S4 read: per-file bnode remap keeps files distinct") {
    val dir = tempDir("graft-jsonld").toString
    val json = JsonLd.documents(sampleTriples).collect().head.getString(1)
    Files.writeString(JPaths.get(s"$dir/f1.meta.json"), json)
    Files.writeString(JPaths.get(s"$dir/f2.meta.json"), json)
    val triples = JsonLd.read(spark, s"$dir/*.meta.json")
    // same doc twice: URI-subject triples dedup to one set, but each
    // file's bnodes stay distinct
    val bnodes = triples.filter(col("objectKind") === Triple.BNODE)
      .select("objectValue").distinct().count()
    assert(bnodes == 2)
    val deduped = Build.dedup(triples)
    // type/title/omvang shared (3) + per-file bnode link + begin (2x2)
    assert(deduped.count() == 3 + 2 * 2)
  }

  test("context-compacted documents (rdflib layout) expand to full IRIs") {
    // what rdflib's json-ld serializer emits with bound prefixes
    // (meta_resource.py:45-54): @context prefix map + prefixed names
    val json =
      """{
        |  "@context": {
        |    "ldto": "https://data.razu.nl/def/ldto/",
        |    "premis": "http://www.loc.gov/premis/rdf/v3/",
        |    "xsd": "http://www.w3.org/2001/XMLSchema#",
        |    "naam": {"@id": "https://data.razu.nl/def/ldto/naam"}
        |  },
        |  "@graph": [{
        |    "@id": "https://example.org/obj/1",
        |    "@type": "ldto:Informatieobject",
        |    "naam": [{"@value": "Titel"}],
        |    "ldto:omvang": {"@value": "42", "@type": "xsd:integer"},
        |    "premis:linked": {"@id": "ldto:Bestand"}
        |  }]
        |}""".stripMargin
    val ts = JsonLd.parse(json)
    val byPred = ts.groupBy(_.predicate)
    assert(byPred.contains(NS.rdfType))
    assert(byPred(NS.rdfType).head.objectValue == NS.LDTO + "Informatieobject")
    // term alias expands
    assert(byPred(NS.LDTO + "naam").head.objectValue == "Titel")
    // prefixed predicate + prefixed datatype expand
    val omvang = byPred(NS.LDTO + "omvang").head
    assert(omvang.objectValue == "42" && omvang.datatype == NS.xsdInteger)
    // prefixed @id object expands to a uri
    val linked = byPred(NS.PREMIS + "linked").head
    assert(linked.objectValue == NS.LDTO + "Bestand" && linked.objectKind == Triple.URI)
    // absolute IRIs and unknown prefixes pass through untouched
    assert(ts.forall(_.subject == "https://example.org/obj/1"))
  }

  test("F12 invalid xsd:integer repair downgrades to plain literal") {
    import spark.implicits._
    val df = Seq(
      ("s", "p", "42", Triple.LITERAL, NS.xsdInteger, null: String),
      ("s", "p", "4 2", Triple.LITERAL, NS.xsdInteger, null: String),
      ("s", "p", "-7", Triple.LITERAL, NS.xsdInteger, null: String))
      .toDF(Triple.columns: _*)
    val fixed = JsonLd.repairInvalidIntegers(df)
      .collect().map(r => r.getString(2) -> Option(r.getString(4))).toMap
    assert(fixed("42").contains(NS.xsdInteger))
    assert(fixed("-7").contains(NS.xsdInteger))
    assert(fixed("4 2").isEmpty)
  }

  test("F11 validity filter drops malformed rows") {
    import spark.implicits._
    val df = Seq(
      ("s", "p", "o", Triple.URI, null: String, null: String),
      ("s", "p", null: String, Triple.URI, null: String, null: String),
      ("s", "p", "o", "garbage", null: String, null: String))
      .toDF(Triple.columns: _*)
    assert(JsonLd.filterValid(df).count() == 1)
  }
}

class EventsSpec extends graft.SparkSuite {
  import graft.events.Events

  test("emit: PREMIS triples with sequential ids and outcomes") {
    import spark.implicits._
    val batch = Seq(
      ("obj1", true), ("obj2", false), ("obj3", true))
      .toDF("obj", "ok")
    val triples = Events.emit(batch, Seq(col("obj")), Events.fix,
      subjectOf = concat(lit("https://data.razu.nl/id/object/"), col("obj")),
      outcome = col("ok"), startId = 10L, timestamp = "2026-01-01T00:00:00Z")
    val subjects = triples.select("subject").distinct()
      .collect().map(_.getString(0)).toSet
    assert(subjects == Set(
      "https://data.razu.nl/id/event/NL-WbDRAZU-G0321-661-e11",
      "https://data.razu.nl/id/event/NL-WbDRAZU-G0321-661-e12",
      "https://data.razu.nl/id/event/NL-WbDRAZU-G0321-661-e13"))
    assert(Events.maxEventId(triples) == 13L)
    val outcomes = triples
      .filter(col("predicate") === (NS.PREMIS + "outcome"))
      .select("objectValue").collect().map(_.getString(0))
    assert(outcomes.count(_ == Events.outcomeUri(true)) == 2)
    assert(outcomes.count(_ == Events.outcomeUri(false)) == 1)
    assert(!Events.isLocked(triples))
  }

  test("F10 lock: ine event locks the graph; empty graph id = 0") {
    import spark.implicits._
    val batch = Seq(("objx", true)).toDF("obj", "ok")
    val ineTriples = Events.emit(batch, Seq(col("obj")), Events.ine,
      subjectOf = col("obj"), outcome = col("ok"),
      timestamp = "2026-01-01T00:00:00Z")
    assert(Events.isLocked(ineTriples))
    val empty = ineTriples.filter(lit(false))
    assert(Events.maxEventId(empty) == 0L)
  }
}
