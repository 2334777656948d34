package graft.rdf

import org.apache.spark.sql.functions._
import graft.rdf.Build._

/** Mirrors razulibs tests/test_rdf_resource.py:14-88 — the five pinned
  * flattening behaviors — against the X3 generator, plus skolem (X4)
  * determinism. */
class BuildSpec extends graft.SparkSuite {

  private val EX = "http://example.org/resource/1"
  private val TITLE = "http://purl.org/dc/terms/title"
  private val CREATOR = "http://purl.org/dc/terms/creator"
  private val SUBJECT = "http://purl.org/dc/terms/subject"
  private val TYPE = NS.rdfType
  private val PERSON = "http://xmlns.com/foaf/0.1/Person"
  private val NAME = "http://xmlns.com/foaf/0.1/name"

  private def one = {
    import spark.implicits._
    Seq(1).toDF("row")
  }

  private def triplesOf(r: RResource): Set[(String, String, String, String)] =
    Build.flatten(one, r).collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2), x.getString(3)))
      .toSet

  test("single property (test_add_single_property)") {
    val ts = triplesOf(RResource(lit(EX), Seq(TITLE -> RLit(lit("Test Title")))))
    assert(ts == Set((EX, TITLE, "Test Title", Triple.LITERAL)))
  }

  test("nested resource → linked bnode triples (test_add_nested_property)") {
    val r = RResource(lit(EX), Seq(
      CREATOR -> RNode(Seq(
        TYPE -> RUri(lit(PERSON)),
        NAME -> RLit(lit("John Doe"))))))
    val ts = triplesOf(r)
    // the creator link exists and its object is the nested node's subject
    val links = ts.filter(t => t._2 == CREATOR)
    assert(links.size == 1)
    val bnode = links.head._3
    assert(links.head._4 == Triple.BNODE)
    assert(ts.contains((bnode, TYPE, PERSON, Triple.URI)))
    assert(ts.contains((bnode, NAME, "John Doe", Triple.LITERAL)))
    assert(ts.size == 3)
  }

  test("dict interface: literal + nested (test_add_properties_from_dict)") {
    val r = RResource(lit(EX), Seq(
      TITLE -> RLit(lit("Test Title")),
      CREATOR -> RNode(Seq(
        TYPE -> RUri(lit(PERSON)),
        NAME -> RLit(lit("John Doe"))))))
    val ts = triplesOf(r)
    assert(ts.contains((EX, TITLE, "Test Title", Triple.LITERAL)))
    val creatorUri = ts.find(_._2 == CREATOR).get._3
    assert(ts.contains((creatorUri, TYPE, PERSON, Triple.URI)))
    assert(ts.contains((creatorUri, NAME, "John Doe", Triple.LITERAL)))
  }

  test("string split multi-value (test_add_properties_from_string / STR7)") {
    val r = RResource(lit(EX),
      Seq(SUBJECT -> RSplit(lit("History;Science;Mathematics"), ";")))
    val ts = triplesOf(r)
    assert(ts == Set(
      (EX, SUBJECT, "History", Triple.LITERAL),
      (EX, SUBJECT, "Science", Triple.LITERAL),
      (EX, SUBJECT, "Mathematics", Triple.LITERAL)))
  }

  test("list-valued predicate (test_add_properties_list_in_dict)") {
    val r = RResource(lit(EX), Seq(
      SUBJECT -> RList(Seq(RLit(lit("History")), RLit(lit("Science")),
        RLit(lit("Mathematics"))))))
    val ts = triplesOf(r)
    assert(ts == Set(
      (EX, SUBJECT, "History", Triple.LITERAL),
      (EX, SUBJECT, "Science", Triple.LITERAL),
      (EX, SUBJECT, "Mathematics", Triple.LITERAL)))
  }

  test("null literal emits nothing (F1 null-guard)") {
    val r = RResource(lit(EX), Seq(
      TITLE -> RLit(lit(null).cast("string")),
      NAME -> RLit(lit("x"))))
    assert(triplesOf(r) == Set((EX, NAME, "x", Triple.LITERAL)))
  }

  test("conditional nested node suppressed (csv2rdf null-guarded blocks)") {
    val r = RResource(lit(EX), Seq(
      CREATOR -> RNode(Seq(NAME -> RLit(lit("x"))), cond = lit(false))))
    assert(triplesOf(r).isEmpty)
  }

  test("skolem ids are deterministic and distinct by path (X4)") {
    val a = Build.flatten(one, RResource(lit(EX), Seq(
      CREATOR -> RNode(Seq(NAME -> RLit(lit("x")))),
      SUBJECT -> RNode(Seq(NAME -> RLit(lit("y")))))))
      .collect().map(_.getString(2)).toSeq
    val b = Build.flatten(one, RResource(lit(EX), Seq(
      CREATOR -> RNode(Seq(NAME -> RLit(lit("x")))),
      SUBJECT -> RNode(Seq(NAME -> RLit(lit("y")))))))
      .collect().map(_.getString(2)).toSeq
    assert(a == b) // same inputs → same graph, across runs
    val bnodes = Build.flatten(one, RResource(lit(EX), Seq(
      CREATOR -> RNode(Seq(NAME -> RLit(lit("x")))),
      SUBJECT -> RNode(Seq(NAME -> RLit(lit("y")))))))
      .filter(col("objectKind") === Triple.BNODE)
      .collect().map(_.getString(2)).toSet
    assert(bnodes.size == 2) // distinct paths → distinct skolem ids
  }

  test("typed literal carries datatype/lang") {
    val r = RResource(lit(EX), Seq(
      TITLE -> RLit(lit("2023-12-31"), datatype = lit(NS.xsdDate)),
      NAME -> RLit(lit("hallo"), lang = lit("nl"))))
    val rows = Build.flatten(one, r).collect()
      .map(x => (x.getString(1), x.getString(2), x.getString(4), x.getString(5))).toSet
    assert(rows == Set(
      (TITLE, "2023-12-31", NS.xsdDate, null),
      (NAME, "hallo", null, "nl")))
  }

  test("graph dedup = set semantics (A7)") {
    val df = Build.flatten(one, RResource(lit(EX), Seq(
      TITLE -> RLit(lit("t")), TITLE -> RLit(lit("t")))))
    assert(df.count() == 2)
    assert(Build.dedup(df).count() == 1)
  }

  /** Two shapes: one with a two-level nested node, split values at the
    * top level and inside the nested node, and one flat. */
  private val EX2 = "http://example.org/resource/2"
  private val shapes = Seq(
    RResource(lit(EX), Seq(
      TITLE -> RLit(lit("Test Title")),
      SUBJECT -> RSplit(lit("History;Science"), ";"),
      CREATOR -> RNode(Seq(
        NAME -> RLit(lit("John Doe")),
        SUBJECT -> RNode(Seq(
          TITLE -> RLit(lit("inner")),
          SUBJECT -> RSplit(lit("a;b;c"), ";"))))))),
    RResource(lit(EX2), Seq(TYPE -> RUri(lit(PERSON)))))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
    df.collect().map(_.toSeq.map(v => Option(v).map(_.toString).orNull)).toSet

  test("flattenRooted carries each triple's root: the join's, for nested nodes and splits") {
    val rooted = Build.flattenRooted(one, shapes)
    assert(rooted.columns.toSeq == Triple.columns :+ "root")
    val flat = rooted.select(Triple.columns.map(col): _*)
    assert(rows(flat) == rows(Build.flattenAll(one, shapes)))
    val carried = rows(rooted.select("subject", "root").distinct())
    assert(carried == rows(graft.rdf.io.JsonLd.subjectRoots(flat)))
    assert(carried.map(_(1)) == Set(EX, EX2))
    assert(carried.count(_.head.startsWith("_:")) == 2) // both nesting levels
    assert(rooted.filter(col("predicate") === SUBJECT && col("objectKind") === Triple.LITERAL)
      .count() == 5) // the top-level and the nested split values
  }

  test("flattenAll keeps the Triple schema: no root field in its generator") {
    val df = Build.flattenAll(one, shapes)
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Triple.schema.map(f => f.name -> f.dataType))
    val structs = df.queryExecution.analyzed.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator.children
    }.flatten.map(_.dataType).collect {
      case org.apache.spark.sql.types.ArrayType(s: org.apache.spark.sql.types.StructType, _) => s
    }
    assert(structs.size == 1)
    assert(structs.head.fieldNames.toSeq == Triple.columns)
  }
}

/** RSplit nested inside an RList stays on the transform path with stable
  * ordinals (the union branch only handles top-level/RNode splits). */
class BuildSplitListSpec extends graft.SparkSuite {
  import graft.rdf.Build._
  import org.apache.spark.sql.functions._

  test("RSplit inside RList emits one literal per element") {
    import spark.implicits._
    val one = Seq(1).toDF("row")
    val r = RResource(lit("http://x/s"), Seq(
      "http://x/p" -> RList(Seq(RLit(lit("first")), RSplit(lit("a;b"), ";")))))
    val got = Build.flatten(one, r).select("objectValue").collect()
      .map(_.getString(0)).toSet
    assert(got == Set("first", "a", "b"))
  }
}
