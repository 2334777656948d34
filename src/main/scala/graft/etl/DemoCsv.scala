package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{DateTypes, Geo}
import graft.ids.Identifiers
import graft.rdf.{Build, NS}
import graft.rdf.Build._

/** E1 — the full demo CSV→RDF conversion
  * (razu/demo/csv_luchtfotos/csv2rdf.py:54-261) as ONE declarative
  * DataFrame program over the FIXTURES.md schemas:
  *
  *   S1/S2 CSV scans → M2 null-fill cast → M3 derived join key →
  *   J1 broadcast vocabulary joins → J2 DROID equi-join →
  *   W1 serie-break detection → W2 interleaved sequential ids →
  *   J3 hierarchical linking → M1 struct build (incl. G1-G3 geo) →
  *   X3/X4 flatten → A1 archive date coverage.
  *
  * Id assignment replicates the reference's global Incrementer EXACTLY
  * (archive=1, then serie/record/bestand interleaved in row order,
  * razu/incrementer.py + csv2rdf.py row loop) using running window sums:
  *   recordId  = 1-based cumulative breaks + 2·rowIdx
  *   serieId   = recordId − 1 at break rows (carried forward)
  *   bestandId = recordId + 1
  * — pure window functions over an EXPLICIT order (the reference silently
  * assumes CSV file order; we require `orderCols`, SURVEY §7 risk 4).
  */
object DemoCsv {

  val metaSchema: StructType = StructType(Seq(
    StructField("Plaats", StringType), StructField("Doos-nummer", StringType),
    StructField("Inventarisnummer", IntegerType), StructField("Volgnummer", IntegerType),
    StructField("Serie", IntegerType), StructField("Datering", StringType),
    StructField("Volgordenummer", StringType), StructField("Titel", StringType),
    StructField("Beschrijving voorkant", StringType), StructField("Bijzonderheden", StringType),
    StructField("Plaats 1", StringType), StructField("Plaats 2", StringType),
    StructField("Plaats 3", StringType), StructField("Schaal", StringType),
    StructField("Coördinaat - Linksonder", StringType),
    StructField("Coördinaat Rechtsboven", StringType),
    StructField("Breedte (cm)", IntegerType), StructField("Hoogte (cm)", IntegerType),
    StructField("Soort", StringType), StructField("Betrokkene type", StringType),
    StructField("Auteursrecht", StringType), StructField("Fotograaf naam", StringType),
    StructField("Gemeentenaam", StringType), StructField("Gemeente identificatie", StringType),
    StructField("Kleurtype", StringType)))

  /** S1 — `;`-delimited metadata CSV. */
  def readMeta(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("delimiter", ";")
      .schema(metaSchema).csv(path)

  /** S2 — DROID identification CSV (standard quoted CSV). */
  def readDroid(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false").csv(path)

  /** M3 — derived join filename (extra.py:46-54):
    * "{jaar}_{nummer zfill2}_{volg zfill3}.jpg" from Doos-nummer + Volgnummer. */
  def bestandsnaamCol(doosnummer: Column, volgnummer: Column): Column =
    format_string("%s_%s_%s.jpg",
      element_at(split(doosnummer, "-"), 1),
      lpad(element_at(split(doosnummer, "-"), 2), 2, "0"),
      lpad(volgnummer.cast("string"), 3, "0"))

  /** The full pipeline. `vocab` is the J1 vocabulary snapshot (the
    * offline stand-in for the SPARQL endpoint; SURVEY §1.1 #8) in either
    * shape:
    *   - (vocabulary, term, uri): plain per-vocabulary term list, treated
    *     as skos:prefLabel triples; or
    *   - (vocabulary, subject, predicate, objectValue, objectKind, lang):
    *     per-vocabulary label triples — full label-variant matching
    *     (6 predicates × plain/@nl/@en, concept_resolver.py:86-100).
    * Both route through graft.vocab.Vocab's deterministic-precedence
    * lookup + broadcast join. Returns the complete triple graph
    * (archive + series + records + bestanden) as the [[graft.rdf.Triple]]
    * columns, in their order and types, plus a trailing `root` column:
    * the resource each triple belongs to (its own subject, or for a
    * blank node's triples the record, bestand or archive that minted it;
    * [[Build.flattenRooted]]). Select by name to drop it.
    * [[graft.rdf.io.JsonLd.documents]] renders by it instead of running
    * the root search. The graph is MATERIALIZED: it is computed once,
    * here, as an eager `localCheckpoint`, and every later use (the SIP's
    * JSON-LD documents and events, the eventlog, the Turtle export)
    * reads those blocks instead of re-planning and re-running the
    * scans, joins, id scan, flattener and dedup. This
    * holds at scale because one call's graph is one archive's (a SIP):
    * the 100 TB design point is many SIPs, not one graph. The blocks are
    * MEMORY_AND_DISK, so a graph larger than storage memory spills to
    * the executors' local disks, and they are released when the frame
    * is garbage-collected. A checkpoint has no lineage, so losing an
    * executor fails the job that reads the lost blocks (the save is
    * re-run) rather than silently recomputing part of the graph. */
  def run(spark: SparkSession, metaCsv: String, droidCsv: String,
          vocab: DataFrame, orderCols: Seq[String] = Seq("Inventarisnummer"),
          ids: Identifiers = Identifiers.default): DataFrame = {
    val meta = readMeta(spark, metaCsv)
    val droid = readDroid(spark, droidCsv)
      // M2/MA2 — safe int cast with 0-fill (csv2rdf.py:56); try_cast so
      // malformed cells null out instead of failing the job (ANSI mode)
      .select(col("NAME"), coalesce(expr("try_cast(SIZE AS BIGINT)"), lit(0L)).as("size"),
        col("MD5_HASH"), col("PUID"))

    // J1 — label-variant vocabulary resolution via graft.vocab (one
    // ConceptResolver per vocabulary in the reference, csv2rdf.py:44-48)
    def resolve(df: DataFrame, vocabName: String, term: Column,
                outCol: String): DataFrame = {
      val snapshot = vocab.filter(col("vocabulary") === vocabName)
      val triples =
        if (snapshot.columns.contains("predicate")) snapshot
        else snapshot.select(col("uri").as("subject"),
          lit(NS.SKOS + "prefLabel").as("predicate"),
          col("term").as("objectValue"), lit("literal").as("objectKind"),
          lit(null).cast("string").as("datatype"),
          lit(null).cast("string").as("lang"))
      graft.vocab.Vocab.resolve(df, term,
        graft.vocab.Vocab.lookupTable(triples), outCol)
    }

    val keyed = meta.withColumn("__filename",
      bestandsnaamCol(col("Doos-nummer"), col("Volgnummer")))

    // J2 — DROID lookup (csv2rdf.py:207-208; inner like the reference's
    // KeyError-on-miss .loc)
    val joined0 = keyed.join(broadcast(droid), col("__filename") === col("NAME"))
    val joined = Seq(
      ("soort", col("Soort"), "soort_uri"),
      ("plaats", col("Plaats 1"), "plaats1_uri"),
      ("plaats", col("Plaats 2"), "plaats2_uri"),
      ("kleurtype", col("Kleurtype"), "kleur_uri"),
      ("actor", col("Fotograaf naam"), "fotograaf_uri"))
      .foldLeft(joined0) { case (df, (vn, term, out)) => resolve(df, vn, term, out) }

    // W1 + W2 — break detection and the interleaved id algebra, via the
    // scale-safe two-pass scan (no partition-less window). EAGER: the
    // two-pass shape launches the counting jobs here, at composition
    // time, and severs Catalyst lineage at its RDD boundary (filters
    // composed later do not push below this point).
    val order = orderCols.map(col)
    // G1-G3 — RD parse + reprojection + WKT bounding box, computed in a
    // projection AHEAD of the flattener: the polygon repeats each corner's
    // polynomial, and only a Project eliminates the repeats (see
    // Build.flattenAll's codegen discipline)
    val withIds = graft.ops.Relational.interleavedSerieIds(
      joined, order, col("Serie"))
      .withColumn("__wkt", Geo.wktPolygonCol(
        Geo.parseRdCoordCol(col("Coördinaat - Linksonder")),
        Geo.parseRdCoordCol(col("Coördinaat Rechtsboven"))))

    val archiveUri = ids.uriFromId("1")
    val serieSubj = ids.uriCol(col("__serieId"))
    val recordSubj = ids.uriCol(col("__recordId"))
    val bestandSubj = ids.uriCol(col("__bestandId"))

    // M1 — record + bestand resource shapes (csv2rdf.py:117-227)
    val record = RResource(recordSubj, Seq(
      NS.rdfType -> RUri(lit(NS.LDTO + "Informatieobject")),
      (NS.LDTO + "naam") -> RLit(col("Titel")),
      (NS.LDTO + "omschrijving") -> RLit(col("Beschrijving voorkant")),
      // F1 — null-guarded optional block (csv2rdf.py:188-200)
      (NS.LDTO + "bijzonderheden") -> RLit(col("Bijzonderheden")),
      (NS.LDTO + "classificatie") -> RUri(col("soort_uri")),
      (NS.LDTO + "classificatie") -> RUri(col("kleur_uri")),
      (NS.LDTO + "dekkingInRuimte") -> RUri(col("plaats1_uri")),
      (NS.LDTO + "dekkingInRuimte") -> RUri(col("plaats2_uri")),
      (NS.SCHEMA + "creator") -> RUri(col("fotograaf_uri")),
      (NS.LDTO + "dekkingInTijd") -> RNode(Seq(
        (NS.LDTO + "begin") -> RLit(DateTypes.dateValueCol(col("Datering")),
          datatype = DateTypes.dateDatatypeCol(col("Datering")))),
        cond = col("Datering").isNotNull),
      (NS.SCHEMA + "width") -> RLit(col("Breedte (cm)"), datatype = lit(NS.xsdInteger)),
      (NS.SCHEMA + "height") -> RLit(col("Hoogte (cm)"), datatype = lit(NS.xsdInteger)),
      // G1-G3 — the WKT bounding box projected onto withIds above
      (NS.GEO + "hasGeometry") -> RNode(Seq(
        (NS.GEO + "asWKT") -> RLit(col("__wkt"),
          datatype = lit(NS.wktLiteral))),
        cond = col("Coördinaat - Linksonder").isNotNull
          && col("Coördinaat Rechtsboven").isNotNull),
      // J3 — hierarchical links (csv2rdf.py:113-114, 203-204, 230-231)
      (NS.LDTO + "isOnderdeelVan") -> RUri(serieSubj),
      (NS.LDTO + "heeftRepresentatie") -> RUri(bestandSubj)))
    val bestand = RResource(bestandSubj, Seq(
      NS.rdfType -> RUri(lit(NS.LDTO + "Bestand")),
      (NS.LDTO + "naam") -> RLit(col("__filename")),
      (NS.LDTO + "omvang") -> RLit(col("size"), datatype = lit(NS.xsdInteger)),
      (NS.LDTO + "checksum") -> RNode(Seq(
        (NS.LDTO + "checksumWaarde") -> RLit(col("MD5_HASH"))),
        cond = col("MD5_HASH").isNotNull),
      (NS.LDTO + "bestandsformaat") -> RLit(col("PUID")),
      (NS.LDTO + "URLBestand") -> RLit(
        ids.cdnUriCol(ids.uidCol(col("__bestandId")), lit("jpg")),
        datatype = lit(NS.xsdAnyURI)),
      (NS.LDTO + "isRepresentatieVan") -> RUri(recordSubj)))
    // serie → record back-link (J3) + serie resource on break rows
    val serieLink = RResource(serieSubj, Seq(
      (NS.LDTO + "bevatOnderdeel") -> RUri(recordSubj)))
    val serieRes = RResource(serieSubj, Seq(
      NS.rdfType -> RUri(when(col("__brk") === 1L, lit(NS.LDTO + "Serie"))),
      (NS.LDTO + "naam") -> RLit(when(col("__brk") === 1L,
        concat(lit("Serie "), col("Serie")))),
      (NS.LDTO + "isOnderdeelVan") -> RUri(when(col("__brk") === 1L, lit(archiveUri)))))

    val rowTriples = Build.flattenRooted(withIds,
      Seq(record, bestand, serieLink, serieRes))

    // archive resource + A1 temporal coverage (csv2rdf.py:239-254)
    val coverage = withIds.agg(
      min(DateTypes.dateValueCol(col("Datering"))).as("earliest"),
      max(DateTypes.dateValueCol(col("Datering"))).as("latest"))
    val archive = Build.flattenRooted(coverage, Seq(RResource(lit(archiveUri), Seq(
      NS.rdfType -> RUri(lit(NS.LDTO + "Archief")),
      (NS.LDTO + "naam") -> RLit(lit("Luchtfoto's")),
      (NS.LDTO + "dekkingInTijd") -> RNode(Seq(
        (NS.LDTO + "begin") -> RLit(col("earliest"), datatype = lit(NS.xsdDate)),
        (NS.LDTO + "eind") -> RLit(col("latest"), datatype = lit(NS.xsdDate))))))))

    Build.dedup(rowTriples.unionByName(archive)).localCheckpoint(eager = true)
  }
}
