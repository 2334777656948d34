package graft.sip

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.DemoCsvFixture
import graft.rdf.Triple

/** S5/STR3 on the fixture SIP: loading gives back the graph's triples
  * between named resources, and the file names give back the highest
  * minted object id. */
class SipLoadSpec extends graft.SparkSuite {

  test("loadResources returns the saved triples; maxResourceId the highest id") {
    import spark.implicits._
    val in = tempDir("graft-sipload-in")
    DemoCsvFixture.write(in)
    val sip = tempDir("graft-sipload").resolve("sip").toString
    val ids = graft.ids.Identifiers.default
    val triples = DemoCsvFixture.run(spark, in)
    Sip.save(spark, triples, sip, ids, timestamp = "2025-01-01T00:00:00Z")

    // blank-node labels are file-scoped on load, so only triples between
    // named resources compare as they are
    def named(df: DataFrame): Set[(String, String, String, String, String, String)] =
      df.filter(!col("subject").startsWith("_:") && col("objectKind") =!= Triple.BNODE)
        .select(Triple.columns.map(col): _*)
        .as[(String, String, String, String, String, String)].collect().toSet
    val saved = named(triples)
    assert(saved.nonEmpty)
    assert(named(Sip.loadResources(spark, sip)) == saved)

    val minted = triples.filter(col("subject").startsWith(ids.objectUriPrefix + "-"))
      .agg(max(ids.extractIdCol(col("subject")).cast("long"))).head().getLong(0)
    assert(minted == 28L) // 1 archive + 3 series + 12 × (record, bestand)
    assert(Sip.maxResourceId(spark, sip, ids) == minted)
  }
}
