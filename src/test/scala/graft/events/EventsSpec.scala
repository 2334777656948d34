package graft.events

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.rdf.NS

/** Pins the PREMIS event vocabulary and per-event properties to the
  * reference (razu/preservation_events.py:71-179). */
class EventsSpec extends SparkSuite {
  import spark.implicits._

  test("all eight reference event-type IRIs, exactly") {
    val base = "http://id.loc.gov/vocabulary/preservation/eventType/"
    assert(Events.fil == base + "fil")
    assert(Events.fix == base + "fix")
    assert(Events.forId == base + "for")
    assert(Events.ine == base + "ine")
    assert(Events.ins == base + "ins")
    assert(Events.mes == base + "mes")
    assert(Events.mem == base + "mem")
    assert(Events.vir == base + "vir")
    assert(Events.allEventTypes.toSet ==
      Set("fil", "fix", "for", "ine", "ins", "mes", "mem", "vir").map(base + _))
  }

  test("emit records implementer, tool, startedAt, description, generated") {
    val batch = Seq(("https://example.org/obj/1", true)).toDF("obj", "ok")
    val triples = Events.emit(batch, Seq(col("obj")), Events.mem,
        subjectOf = col("obj"), outcome = col("ok"),
        timestamp = "2026-01-01T00:00:00Z",
        tool = lit("https://example.org/tool/droid"),
        startedAt = lit("2025-12-31T23:00:00Z"),
        description = lit("Metadata object created."),
        generated = lit("https://example.org/file/1.meta.json"))
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))

    def one(pred: String): (String, String) =
      triples.collect { case (p, v, k) if p == pred => (v, k) } match {
        case Array(x) => x
        case other => fail(s"expected exactly one $pred, got ${other.toSeq}")
      }
    assert(one(NS.PREMIS + "eventType") == (Events.mem, "uri"))
    assert(one(NS.ERAR + "imp") == (Events.razuActor, "uri"))
    assert(one(NS.ERAR + "exe") == ("https://example.org/tool/droid", "uri"))
    assert(one(NS.PROV + "startedAtTime") == ("2025-12-31T23:00:00Z", "literal"))
    assert(one(NS.PROV + "endedAtTime") == ("2026-01-01T00:00:00Z", "literal"))
    assert(one(NS.PROV + "description") == ("Metadata object created.", "literal"))
    assert(one(NS.PROV + "generated") ==
      ("https://example.org/file/1.meta.json", "uri"))
    assert(one(NS.EROR + "sou") == ("https://example.org/obj/1", "uri"))
    assert(one(NS.PREMIS + "outcome") == (Events.outcomeUri(true), "uri"))
  }

  test("named emitters map 1:1 to the reference's event methods") {
    val batch = Seq(("https://example.org/obj/1", true)).toDF("obj", "ok")
    def typeOf(df: org.apache.spark.sql.DataFrame): String =
      df.filter(col("predicate") === (NS.PREMIS + "eventType"))
        .select("objectValue").head().getString(0)
    val ts = "2026-01-01T00:00:00Z"
    assert(typeOf(Events.filenameChange(batch, Seq(col("obj")), col("obj"),
      lit("old.jpg"), lit("new.jpg"), timestamp = ts)) == Events.fil)
    assert(typeOf(Events.fixityCheck(batch, Seq(col("obj")), col("obj"),
      col("ok"), timestamp = ts)) == Events.fix)
    assert(typeOf(Events.formatIdentification(batch, Seq(col("obj")),
      col("obj"), lit("fmt/43"), timestamp = ts)) == Events.forId)
    assert(typeOf(Events.ingestionStart(batch, Seq(col("obj")), col("obj"),
      timestamp = ts)) == Events.ins)
    assert(typeOf(Events.ingestionEnd(batch, Seq(col("obj")), col("obj"),
      timestamp = ts)) == Events.ine)
    assert(typeOf(Events.messageDigestCalculation(batch, Seq(col("obj")),
      col("obj"), lit("abcd"), timestamp = ts)) == Events.mes)
    assert(typeOf(Events.metadataModification(batch, Seq(col("obj")),
      col("obj"), lit("https://example.org/f.meta.json"),
      timestamp = ts)) == Events.mem)
    assert(typeOf(Events.virusCheck(batch, Seq(col("obj")), col("obj"),
      col("ok"), timestamp = ts)) == Events.vir)
    // spot-check the per-type payloads
    val fil = Events.filenameChange(batch, Seq(col("obj")), col("obj"),
      lit("old.jpg"), lit("new.jpg"), timestamp = ts)
    assert(fil.filter(col("predicate") === (NS.PREMIS + "outcomeNote"))
      .select("objectValue").head().getString(0) == "renamed old.jpg to new.jpg")
    val mem = Events.metadataModification(batch, Seq(col("obj")), col("obj"),
      lit("https://example.org/f.meta.json"), timestamp = ts)
    assert(mem.filter(col("predicate") === (NS.PROV + "generated"))
      .select("objectValue").head().getString(0)
      == "https://example.org/f.meta.json")
  }

  test("optional properties emit nothing when null (F1 semantics)") {
    val batch = Seq(("https://example.org/obj/1", false)).toDF("obj", "ok")
    val preds = Events.emit(batch, Seq(col("obj")), Events.fix,
        subjectOf = col("obj"), outcome = col("ok"),
        timestamp = "2026-01-01T00:00:00Z")
      .collect().map(_.getString(1)).toSet
    assert(!preds.contains(NS.ERAR + "exe"))
    assert(!preds.contains(NS.PROV + "startedAtTime"))
    assert(!preds.contains(NS.PROV + "description"))
    assert(!preds.contains(NS.PROV + "generated"))
    assert(!preds.contains(NS.PREMIS + "outcomeNote"))
    // imp is on by default (every reference event carries it)
    assert(preds.contains(NS.ERAR + "imp"))
  }

  test("save writes JsonLd.documents' rows for an emitted batch") {
    val events = Events.emit((1 to 12).toDF("i"), Seq(col("i")), Events.mem,
      subjectOf = concat(lit("https://example.org/o/"), col("i")), outcome = lit(true),
      description = lit("Metadata object created."),
      generated = concat(lit("https://example.org/f/"), col("i")),
      timestamp = "2025-01-01T00:00:00Z")
    val out = tempDir("graft-events-save").resolve("log").toString
    Events.save(events, out)
    def docs(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.select("root", "json").as[(String, String)].collect().toSeq.sortBy(_._1)
    val expected = docs(graft.rdf.io.JsonLd.documents(events))
    assert(expected.size == 12)
    assert(docs(spark.read.json(out)) == expected)
  }
}
