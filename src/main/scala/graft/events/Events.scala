package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ids.Identifiers
import graft.ops.Relational
import graft.rdf.{Build, NS}
import graft.rdf.Build._

/** PREMIS preservation-event module — razu/preservation_events.py as
  * DataFrame programs.
  *
  * The reference appends events one at a time to an in-memory graph with
  * a process-global counter and a deferred-evaluation queue
  * (preservation_events.py:44-59). Here an event *batch* is derived from
  * a pipeline output DF in one shot: sequential ids are a row_number over
  * an explicit order starting after the recovered max id (A2/W2), the
  * queue disappears (DataFrame laziness is the deferral), and the event
  * triples come from the X3 flattener.
  */
object Events {

  /** The eight PREMIS event-type IRIs the reference emits
    * (preservation_events.py:105-179; vocabulary:
    * id.loc.gov/vocabulary/preservation/eventType.html). */
  val EventType = "http://id.loc.gov/vocabulary/preservation/eventType/"
  val fil: String = EventType + "fil" // filename_change
  val fix: String = EventType + "fix" // fixity_check
  val forId: String = EventType + "for" // format_identification ('for' is a Scala keyword)
  val ine: String = EventType + "ine" // ingestion_end
  val ins: String = EventType + "ins" // ingestion_start
  val mes: String = EventType + "mes" // message_digest_calculation
  val mem: String = EventType + "mem" // metadata_modification
  val vir: String = EventType + "vir" // virus_check
  val allEventTypes: Seq[String] = Seq(fil, fix, forId, ine, ins, mes, mem, vir)

  /** The implementer actor every reference event carries as erar:imp
    * (preservation_events.py:109 etc.). */
  val razuActor = "https://data.razu.nl/id/actor/2bdb658a032a405d71c19159bd2bbb3a"

  def outcomeUri(success: Boolean): String =
    NS.EO + (if (success) "suc" else "fail")

  /** A2 — recover the max numeric event id from an existing event graph
    * (preservation_events.py:34-38): parse the trailing `-e<N>` of every
    * subject. 0 on an empty graph. */
  def maxEventId(eventGraph: DataFrame): Long = {
    val r = eventGraph
      .agg(max(regexp_extract(col("subject"), "-e(\\d+)$", 1).cast("long")))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** F10 — lock predicate: the graph is locked once an ingestion-end
    * (`ine`) event exists (preservation_events.py:40-42). Driver-side
    * boolean gating the write job, like the reference's decorator. */
  def isLocked(eventGraph: DataFrame): Boolean =
    eventGraph.filter(
      col("predicate") === (NS.PREMIS + "eventType")
        && col("objectValue") === ine)
      .limit(1).count() > 0

  /** Emit one event per row of `batch` as PREMIS triples
    * (preservation_events.py:71-179: `_add` + the per-type emitters).
    * Null-valued optional columns emit no triple (F1 semantics).
    *
    * Every event is ONE flat node: its own root resource, with URI and
    * literal objects only and no blank nodes. Renderers rely on this
    * (`Sip.saveEventlog` renders each event's document with
    * `root = subject`, without a root search), so a new property must
    * stay a URI or a literal, not a nested node.
    *
    * @param batch       one row per event
    * @param order       explicit total order for sequential event ids (W2)
    * @param eventType   PREMIS event type IRI (one of [[allEventTypes]])
    * @param subjectOf   column with the object URI the event is about
    * @param outcome     boolean column → premis:outcome suc/fail
    * @param note        optional premis:outcomeNote column
    * @param startId     ids start at startId+1 (recovered via maxEventId)
    * @param timestamp   ISO dateTime for prov:endedAtTime (driver-stamped
    *                    once per batch, like the reference's per-run clock)
    * @param tool        optional erar:exe tool URI column
    *                    (preservation_events.py:78-81)
    * @param startedAt   optional prov:startedAtTime ISO dateTime column
    *                    (preservation_events.py:82-85)
    * @param implementer erar:imp actor URI (every reference event carries
    *                    one; null to omit)
    * @param description optional prov:description column (mem events)
    * @param generated   optional prov:generated result-URI column (mem
    *                    events, preservation_events.py:166)
    *
    * @note EAGER: id assignment rides [[Relational.sequentialIds]], whose
    *       two-pass shape launches Spark jobs (per-partition counts) at
    *       COMPOSITION time and severs Catalyst lineage at the RDD
    *       boundary — upstream filters are not pushed past this call, and
    *       acting on the result more than once re-runs the two passes
    *       (cache the result if so).
    */
  def emit(batch: DataFrame, order: Seq[Column], eventType: String,
           subjectOf: Column, outcome: Column, note: Column = lit(null),
           startId: Long = 0L,
           timestamp: String = java.time.Instant.now().toString,
           tool: Column = lit(null), startedAt: Column = lit(null),
           implementer: Column = lit(razuActor),
           description: Column = lit(null), generated: Column = lit(null),
           ids: Identifiers = Identifiers.default): DataFrame = {
    val withId = Relational.sequentialIds(batch, order, "__eid", startId)
    val eventUri = concat(lit(ids.eventUriPrefix + "-e"), col("__eid"))
    val shape = RResource(eventUri, Seq(
      NS.rdfType -> RUri(lit(NS.PREMIS + "Event")),
      (NS.PREMIS + "eventType") -> RUri(lit(eventType)),
      (NS.EROR + "sou") -> RUri(subjectOf),
      (NS.ERAR + "imp") -> RUri(implementer),
      (NS.ERAR + "exe") -> RUri(tool),
      (NS.PROV + "startedAtTime") -> RLit(startedAt,
        datatype = lit(NS.xsdDateTime)),
      (NS.PROV + "endedAtTime") -> RLit(lit(timestamp),
        datatype = lit(NS.xsdDateTime)),
      (NS.PREMIS + "outcome") -> RUri(
        when(outcome, lit(outcomeUri(true))).otherwise(lit(outcomeUri(false)))),
      (NS.PREMIS + "outcomeNote") -> RLit(note),
      (NS.PROV + "description") -> RLit(description),
      (NS.PROV + "generated") -> RUri(generated)))
    Build.flatten(withId, shape)
  }

  /** K4 — eventlog save: one (root, json) JSON-LD document per event,
    * written as partitioned JSON. `eventGraph` must be an [[emit]] graph
    * (one flat node per event, no blank nodes), so each event is its own
    * root and renders with `root = subject`, without the root search of
    * `JsonLd.documents`. */
  def save(eventGraph: DataFrame, outDir: String): Unit =
    graft.rdf.io.JsonLd.rooted(eventGraph.withColumn("root", col("subject")))
      .write.mode("overwrite").json(outDir)

  // ---- the reference's named emitters (preservation_events.py:105-179) —
  // one thin batch wrapper per RazuPreservationEvents method, so a
  // reference user maps each call 1:1. Each takes one row per event.

  /** filename_change: outcomeNote "renamed <old> to <new>". */
  def filenameChange(batch: DataFrame, order: Seq[Column], subjectOf: Column,
                     originalFilename: Column, newFilename: Column,
                     tool: Column = lit(null), startId: Long = 0L,
                     timestamp: String = java.time.Instant.now().toString,
                     ids: Identifiers = Identifiers.default): DataFrame =
    emit(batch, order, fil, subjectOf, outcome = lit(true),
      note = concat(lit("renamed "), originalFilename,
        lit(" to "), newFilename),
      startId = startId, timestamp = timestamp, tool = tool, ids = ids)

  /** fixity_check: data-driven outcome. */
  def fixityCheck(batch: DataFrame, order: Seq[Column], subjectOf: Column,
                  isSuccessful: Column, tool: Column = lit(null),
                  startedAt: Column = lit(null), startId: Long = 0L,
                  timestamp: String = java.time.Instant.now().toString,
                  ids: Identifiers = Identifiers.default): DataFrame =
    emit(batch, order, fix, subjectOf, outcome = isSuccessful,
      startId = startId, timestamp = timestamp, tool = tool,
      startedAt = startedAt, ids = ids)

  /** format_identification: the identified format as outcomeNote. */
  def formatIdentification(batch: DataFrame, order: Seq[Column],
                           subjectOf: Column, format: Column,
                           tool: Column = lit(null),
                           startedAt: Column = lit(null), startId: Long = 0L,
                           timestamp: String = java.time.Instant.now().toString,
                           ids: Identifiers = Identifiers.default): DataFrame =
    emit(batch, order, forId, subjectOf, outcome = lit(true), note = format,
      startId = startId, timestamp = timestamp, tool = tool,
      startedAt = startedAt, ids = ids)

  /** ingestion_start / ingestion_end. */
  def ingestionStart(batch: DataFrame, order: Seq[Column], subjectOf: Column,
                     tool: Column = lit(null), startId: Long = 0L,
                     timestamp: String = java.time.Instant.now().toString,
                     ids: Identifiers = Identifiers.default): DataFrame =
    emit(batch, order, ins, subjectOf, outcome = lit(true),
      startId = startId, timestamp = timestamp, tool = tool, ids = ids)

  def ingestionEnd(batch: DataFrame, order: Seq[Column], subjectOf: Column,
                   tool: Column = lit(null), startId: Long = 0L,
                   timestamp: String = java.time.Instant.now().toString,
                   ids: Identifiers = Identifiers.default): DataFrame =
    emit(batch, order, ine, subjectOf, outcome = lit(true),
      startId = startId, timestamp = timestamp, tool = tool, ids = ids)

  /** message_digest_calculation: the hash as outcomeNote. */
  def messageDigestCalculation(batch: DataFrame, order: Seq[Column],
                               subjectOf: Column, hash: Column,
                               tool: Column = lit(null),
                               startedAt: Column = lit(null),
                               startId: Long = 0L,
                               timestamp: String = java.time.Instant.now().toString,
                               ids: Identifiers = Identifiers.default): DataFrame =
    emit(batch, order, mes, subjectOf, outcome = lit(true), note = hash,
      startId = startId, timestamp = timestamp, tool = tool,
      startedAt = startedAt, ids = ids)

  /** metadata_modification: prov:description + prov:generated result. */
  def metadataModification(batch: DataFrame, order: Seq[Column],
                           subjectOf: Column, result: Column,
                           description: Column = lit(""),
                           tool: Column = lit(null), startId: Long = 0L,
                           timestamp: String = java.time.Instant.now().toString,
                           ids: Identifiers = Identifiers.default): DataFrame =
    emit(batch, order, mem, subjectOf, outcome = lit(true),
      description = description, generated = result,
      startId = startId, timestamp = timestamp, tool = tool, ids = ids)

  /** virus_check. */
  def virusCheck(batch: DataFrame, order: Seq[Column], subjectOf: Column,
                 isSuccessful: Column, note: Column = lit(""),
                 tool: Column = lit(null), startedAt: Column = lit(null),
                 startId: Long = 0L,
                 timestamp: String = java.time.Instant.now().toString,
                 ids: Identifiers = Identifiers.default): DataFrame =
    emit(batch, order, vir, subjectOf, outcome = isSuccessful, note = note,
      startId = startId, timestamp = timestamp, tool = tool,
      startedAt = startedAt, ids = ids)
}
