package graft.rdf.io

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.functions._
import graft.rdf.Triple

/** The DSv2 "turtle" source must return the same triples as the
  * wholetext-based TurtleReader.read, one input partition per file,
  * with per-file bnode isolation. */
class TurtleSourceSpec extends graft.SparkSuite {

  private lazy val dir = {
    val d = tempDir("graft-turtle-src").toString
    Files.writeString(JPaths.get(d, "a.ttl"),
      """@prefix ldto: <https://data.razu.nl/def/ldto/> .
        |<https://example.org/r/1> ldto:naam "Titel 1" ;
        |    ldto:dekkingInTijd _:b0 .
        |_:b0 ldto:begin "1984-01-01"^^<http://www.w3.org/2001/XMLSchema#date> .
        |""".stripMargin)
    Files.writeString(JPaths.get(d, "b.ttl"),
      """@prefix ldto: <https://data.razu.nl/def/ldto/> .
        |<https://example.org/r/2> ldto:naam "Titel 2"@nl ;
        |    ldto:dekkingInTijd _:b0 .
        |_:b0 ldto:begin "1990" .
        |""".stripMargin)
    d
  }

  test("format(\"turtle\") reads the same triples as TurtleReader.read") {
    val viaSource = spark.read.format("turtle").load(s"$dir/*.ttl")
    val viaReader = TurtleReader.read(spark, s"$dir/*.ttl")
    assert(viaSource.schema.fieldNames.toSeq == Triple.columns)
    assert(viaSource.count() == viaReader.count())
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("s", when(col("subject").startsWith("_:"), lit("_:"))
        .otherwise(col("subject")))
      .withColumn("o", when(col("objectKind") === "bnode", lit("_:"))
        .otherwise(col("objectValue")))
      .select("s", "predicate", "o", "objectKind", "datatype", "lang")
      .collect().map(_.toSeq).toSet
    assert(canon(viaSource) == canon(viaReader))
    // per-file bnode isolation: the two _:b0 stay distinct
    assert(viaSource.filter(col("subject").startsWith("_:"))
      .select("subject").distinct().count() == 2)
  }

  test("one input partition per file; lang and datatype survive") {
    val df = spark.read.format("turtle").load(s"$dir/*.ttl")
    assert(df.rdd.getNumPartitions == 2)
    val byVal = df.collect().map(r => r.getString(2) -> r).toMap
    assert(byVal("Titel 2").getString(5) == "nl")
    assert(byVal("1984-01-01").getString(4) ==
      "http://www.w3.org/2001/XMLSchema#date")
  }
}
