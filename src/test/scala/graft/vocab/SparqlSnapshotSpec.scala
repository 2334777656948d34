package graft.vocab

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.rdf.NS

/** The offline half of the endpoint snapshot path: a saved SPARQL 1.1
  * results-JSON response must parse distributed and reduce to the same
  * lookup table a hand-built triple snapshot gives. */
class SparqlSnapshotSpec extends SparkSuite {

  // a response in the W3C SPARQL 1.1 Query Results JSON Format, as an
  // endpoint (or SPARQLWrapper JSON mode) would return for
  // labelSnapshotQuery: plain, @nl and typed-literal bindings, plus a
  // second page file to prove multi-file globbing
  private lazy val dir = {
    val d = tempDir("graft-sparql-snap").toString
    Files.writeString(JPaths.get(d, "page1.srj"),
      s"""{"head": {"vars": ["uri", "p", "label"]},
         | "results": {"bindings": [
         |  {"uri": {"type": "uri", "value": "urn:c1"},
         |   "p": {"type": "uri", "value": "${NS.SKOS}prefLabel"},
         |   "label": {"type": "literal", "value": "archief"}},
         |  {"uri": {"type": "uri", "value": "urn:c2"},
         |   "p": {"type": "uri", "value": "${NS.SCHEMA}name"},
         |   "label": {"type": "literal", "xml:lang": "nl", "value": "dossier"}}
         |]}}""".stripMargin)
    Files.writeString(JPaths.get(d, "page2.srj"),
      s"""{"head": {"vars": ["uri", "p", "label"]},
         | "results": {"bindings": [
         |  {"uri": {"type": "uri", "value": "urn:c3"},
         |   "p": {"type": "uri", "value": "${NS.SKOS}notation"},
         |   "label": {"type": "typed-literal",
         |     "datatype": "http://www.w3.org/2001/XMLSchema#integer",
         |     "value": "42"}},
         |  {"uri": {"type": "uri", "value": "urn:c1"},
         |   "p": {"type": "uri", "value": "${NS.SKOS}altLabel"},
         |   "label": {"type": "literal", "xml:lang": "en", "value": "archive"}}
         |]}}""".stripMargin)
    d
  }

  test("snapshot query names all six predicates and three languages") {
    val q = SparqlSnapshot.labelSnapshotQuery
    Vocab.labelPredicates.foreach(p => assert(q.contains(s"<$p>")))
    assert(q.contains("\"nl\"") && q.contains("\"en\"") && q.contains("\"\""))
  }

  test("results JSON parses to long format with term kinds split out") {
    val rows = SparqlSnapshot.read(spark, s"$dir/*.srj")
    assert(rows.count() == 12) // 4 bindings x 3 vars
    val label42 = rows.filter(col("var") === "label" && col("value") === "42")
      .collect().head
    assert(label42.getAs[String]("kind") == "literal") // typed-literal alias
    assert(label42.getAs[String]("datatype") ==
      "http://www.w3.org/2001/XMLSchema#integer")
    assert(rows.filter(col("var") === "uri")
      .select("kind").distinct().collect().map(_.getString(0)).toSeq == Seq("uri"))
  }

  test("offline path reduces to the precedence-correct lookup table") {
    val lookup = SparqlSnapshot.lookupFromFiles(spark, s"$dir/*.srj")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lookup == Map(
      "archief" -> "urn:c1", "dossier" -> "urn:c2",
      "42" -> "urn:c3", "archive" -> "urn:c1"))
    // and it plugs into the resolve join unchanged
    import spark.implicits._
    val df = Seq("archief", "onbekend").toDF("t")
    val resolved = Vocab.resolve(df, col("t"),
      SparqlSnapshot.lookupFromFiles(spark, s"$dir/*.srj"), "uri")
    assert(resolved.filter(col("t") === "archief")
      .select("uri").collect().head.getString(0) == "urn:c1")
    assert(resolved.filter(col("t") === "onbekend")
      .select("uri").collect().head.isNullAt(0)) // miss -> null, no exit(1)
  }
}
