package graft.rdf.io

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.functions._
import graft.rdf.Triple

/** The DSv2 "jsonld" source must return the same triples as the
  * wholetext-based JsonLd.read, with one input partition per file. */
class JsonLdSourceSpec extends graft.SparkSuite {

  private lazy val dir = {
    val d = tempDir("graft-jsonld-src").toString
    val doc1 =
      """{"@graph": [
        |  {"@id": "https://example.org/r/1",
        |   "@type": ["https://data.razu.nl/def/ldto/Informatieobject"],
        |   "https://data.razu.nl/def/ldto/naam": [{"@value": "Titel 1"}],
        |   "https://data.razu.nl/def/ldto/dekkingInTijd": [{"@id": "_:b0"}]},
        |  {"@id": "_:b0",
        |   "https://data.razu.nl/def/ldto/begin":
        |     [{"@value": "1984-01-01",
        |       "@type": "http://www.w3.org/2001/XMLSchema#date"}]}
        |]}""".stripMargin
    val doc2 =
      """{"@graph": [
        |  {"@id": "https://example.org/r/2",
        |   "https://data.razu.nl/def/ldto/naam": [{"@value": "Titel 2", "@language": "nl"}],
        |   "https://data.razu.nl/def/ldto/dekkingInTijd": [{"@id": "_:b0"}]},
        |  {"@id": "_:b0",
        |   "https://data.razu.nl/def/ldto/begin": [{"@value": "1990"}]}
        |]}""".stripMargin
    Files.writeString(JPaths.get(d, "r1.meta.json"), doc1)
    Files.writeString(JPaths.get(d, "r2.meta.json"), doc2)
    d
  }

  test("format(\"jsonld\") reads the same triples as JsonLd.read") {
    val viaSource = spark.read.format("jsonld").load(s"$dir/*.meta.json")
    val viaReader = JsonLd.read(spark, s"$dir/*.meta.json")
    assert(viaSource.schema.fieldNames.toSeq == Triple.columns)
    assert(viaSource.count() == viaReader.count())
    // identical modulo the per-file bnode suffix (path rendering differs
    // between Hadoop and input_file_name): compare with bnode ids masked
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("s", when(col("subject").startsWith("_:"), lit("_:"))
        .otherwise(col("subject")))
      .withColumn("o", when(col("objectKind") === "bnode", lit("_:"))
        .otherwise(col("objectValue")))
      .select("s", "predicate", "o", "objectKind", "datatype", "lang")
      .collect().map(_.toSeq).toSet
    assert(canon(viaSource) == canon(viaReader))
    // per-file bnode isolation survives: the two _:b0 stay distinct
    assert(viaSource.filter(col("subject").startsWith("_:"))
      .select("subject").distinct().count() == 2)
  }

  test("one input partition per file") {
    val df = spark.read.format("jsonld").load(s"$dir/*.meta.json")
    assert(df.rdd.getNumPartitions == 2)
  }

  test("directory load and empty glob") {
    val df = spark.read.format("jsonld").load(dir)
    assert(df.count() > 0)
    val empty = spark.read.format("jsonld").load(s"$dir/*.nope")
    assert(empty.count() == 0)
  }

  test("directory load skips hidden files and recurses, like JsonLd.read") {
    val d = tempDir("graft-jsonld-hidden").toString
    val doc =
      """{"@graph": [{"@id": "https://example.org/r/9",
        |  "https://data.razu.nl/def/ldto/naam": [{"@value": "Nine"}]}]}""".stripMargin
    Files.writeString(JPaths.get(d, "part-00000"), doc)
    // a Spark-written directory carries these non-data members
    Files.writeString(JPaths.get(d, "_SUCCESS"), "")
    Files.writeString(JPaths.get(d, ".part-00000.crc"), "not json at all")
    Files.createDirectory(JPaths.get(d, "sub"))
    Files.writeString(JPaths.get(d, "sub", "more.json"), doc)
    val df = spark.read.format("jsonld").load(d)
    // _SUCCESS/.crc would throw in Jackson if planned; sub/ is recursed
    assert(df.count() == 2)
    // and the two readers agree on the same Spark-written-style directory
    assert(JsonLd.read(spark, s"$d/part-*").count() == 1)
  }

  test("write path: triples round-trip isomorphically through format(\"jsonld\")") {
    val out = tempDir("graft-jsonld-write").toString
    val triples = JsonLd.read(spark, s"$dir/*.meta.json")
    // co-locate each resource's bnode closure (the documented contract):
    // repartition on the resolved root key
    triples.join(JsonLd.subjectRoots(triples), Seq("subject"))
      .repartition(2, col("root"))
      .select("subject", "predicate", "objectValue", "objectKind", "datatype", "lang")
      .write.format("jsonld").mode("overwrite").save(out)
    val back = spark.read.format("jsonld").load(out)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("s", when(col("subject").startsWith("_:"), lit("_:"))
        .otherwise(col("subject")))
      .withColumn("o", when(col("objectKind") === "bnode", lit("_:"))
        .otherwise(col("objectValue")))
      .select("s", "predicate", "o", "objectKind", "datatype", "lang")
      .collect().map(_.toSeq).toSet
    assert(canon(back) == canon(triples))
    assert(back.filter(col("subject").startsWith("_:"))
      .select("subject").distinct().count() == 2, "bnode closures preserved")
    // overwrite truncates: a second write does not accumulate part files
    triples.coalesce(1).write.format("jsonld").mode("overwrite").save(out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".jsonld"))
    assert(files.length == 1, files.map(_.getName).toSeq.toString)
    assert(canon(spark.read.format("jsonld").load(out)) == canon(triples))
    // no temp dirs left behind
    assert(!new java.io.File(out).listFiles().exists(_.getName.startsWith("_temporary")))
  }

  test("multi-path load unions both files; wrong user schema is rejected") {
    val df = spark.read.format("jsonld")
      .load(s"$dir/r1.meta.json", s"$dir/r2.meta.json")
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() ==
      spark.read.format("jsonld").load(s"$dir/*.meta.json").count())
    // a user-supplied schema is rejected (Spark refuses it for providers
    // without external-metadata support; the provider's own check is the
    // defense-in-depth backstop)
    val err = intercept[Exception] {
      spark.read.format("jsonld")
        .schema("a STRING, b STRING").load(dir).collect()
    }
    assert(err.getMessage.contains("fixed schema")
      || err.getMessage.contains("does not support user-specified schema"),
      err.getMessage)
  }
}
