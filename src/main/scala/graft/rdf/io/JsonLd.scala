package graft.rdf.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rdf.{NS, Triple}
import scala.jdk.CollectionConverters._
import scala.collection.mutable

/** JSON-LD IO for the triple model.
  *
  * Writer (K1/K4 — razu/meta_resource.py:45-54, preservation_events.py:61-68):
  * one JSON-LD document per *resource* = root subject + its blank-node
  * closure, rendered as a flat `@graph` array of node objects — stable,
  * deterministic layout (rdflib's is implementation-defined; SURVEY §7
  * defines equivalence as isomorphic triple sets).
  *
  * Reader (S3/S4 — meta_resource.py:56-61, tools/collect_rdf.py:77-118):
  * parses that layout (plus plain single-node documents) back to triples,
  * with per-file blank-node remapping — the reference must rename rdflib's
  * file-scoped bnodes on every multi-file collect
  * (tools/collect_rdf.py:37-54); we suffix bnode ids with a hash of the
  * source path, so unions never collide (X4 skolem discipline).
  *
  * Includes F12 invalid `xsd:integer` repair (collect_rdf.py:57-60,
  * 93-111) and F11 validity filtering (collect_rdf.py:122-132).
  */
object JsonLd {

  // ---- writer ---------------------------------------------------------

  /** Assign each bnode subject to its root resource by following link
    * triples upward (bounded by `maxDepth` — the reference nests 2 levels;
    * each iteration is one self-join). Returns (subject, root). */
  def subjectRoots(triples: DataFrame, maxDepth: Int = 4): DataFrame = {
    val links = triples.filter(col("objectKind") === Triple.BNODE)
      .select(col("objectValue").as("child"), col("subject").as("parent"))
      .distinct()
    val subjects = triples.select(col("subject")).distinct()
    var roots = subjects.join(links, col("subject") === col("child"), "left")
      .select(col("subject"), coalesce(col("parent"), col("subject")).as("root"))
    var i = 1
    while (i < maxDepth) {
      roots = roots.join(links, roots("root") === links("child"), "left")
        .select(roots("subject"), coalesce(col("parent"), col("root")).as("root"))
      i += 1
    }
    roots
  }

  private[io] def renderDoc(root: String,
                            rows: Seq[(String, String, String, String, String, String)]): String = {
    val mapper = new ObjectMapper()
    val doc = mapper.createObjectNode()
    val graph = doc.putArray("@graph")
    rows.groupBy(_._1).toSeq.sortBy { case (s, _) =>
      (if (s == root) 0 else 1, s) // root node first, bnodes after
    }.foreach { case (subj, ts) =>
      val node = graph.addObject()
      node.put("@id", subj)
      ts.sortBy(t => (t._2, t._3)).groupBy(_._2).toSeq.sortBy(_._1)
        .foreach { case (pred, objs) =>
          if (pred == NS.rdfType) {
            val arr = node.putArray("@type")
            objs.map(_._3).distinct.sorted.foreach(arr.add)
          } else {
            val arr = node.putArray(pred)
            objs.distinct.sortBy(t => (t._3, t._4)).foreach { t =>
              val o = arr.addObject()
              t._4 match {
                case Triple.URI | Triple.BNODE => o.put("@id", t._3)
                case _ =>
                  o.put("@value", t._3)
                  if (t._5 != null && t._5.nonEmpty) o.put("@type", t._5)
                  if (t._6 != null && t._6.nonEmpty) o.put("@language", t._6)
              }
            }
          }
        }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(doc)
  }

  /** (root, json) — one JSON-LD document per root resource. A graph
    * that carries its roots in a `root` column ([[graft.etl.DemoCsv.run]],
    * [[graft.rdf.Build.flattenRooted]]) renders by that column. Any other
    * graph (read from JSON-LD or Turtle, or built by
    * `Build.flattenAll`) has its roots found first by [[subjectRoots]]'
    * self-joins. Either way [[rooted]] renders. */
  def documents(triples: DataFrame): DataFrame =
    if (triples.columns.contains("root")) rooted(triples)
    else rooted(triples.join(subjectRoots(triples), Seq("subject")))

  /** (root, json) — one JSON-LD document per distinct `root`, from
    * triples that already carry their root resource in a `root` column
    * (a flat resource graph is rooted by `root = subject`). Distributed:
    * one hash exchange on `root` into the session's
    * `defaultParallelism` partitions, a partition-local sort, and each
    * run of equal roots rendered executor-side ([[renderRuns]]). The
    * exchange is by number, so AQE does not coalesce it: a caller that
    * writes one file per document (`Sip.saveResources`) keeps one task
    * per core. */
  def rooted(withRoot: DataFrame): DataFrame =
    renderRuns(withRoot
      .repartition(withRoot.sparkSession.sparkContext.defaultParallelism, col("root"))
      .sortWithinPartitions("root"))

  /** (root, json) — one document per run of equal `root`s, in partition
    * order, without an exchange. Within each partition of `clustered`,
    * the rows of one root must be consecutive (e.g. sorted by `root`);
    * a root split over two runs would give two documents. */
  private[graft] def renderRuns(clustered: DataFrame): DataFrame = {
    val spark = clustered.sparkSession
    import spark.implicits._
    clustered.select(col("root"), col("subject"), col("predicate"),
        col("objectValue"), col("objectKind"), col("datatype"), col("lang"))
      .as[(String, String, String, String, String, String, String)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(String, String)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (String, String) = {
            val root = rows.head._1
            val doc = mutable.ArrayBuffer[(String, String, String, String, String, String)]()
            while (rows.hasNext && rows.head._1 == root) {
              val t = rows.next()
              doc += ((t._2, t._3, t._4, t._5, t._6, t._7))
            }
            (root, renderDoc(root, doc.toSeq))
          }
        }
      }
      .toDF("root", "json")
  }

  /** Render one partition's triples as the array-of-@graph-documents
    * layout (the DSv2 write path, executor-side): partition-local root
    * resolution with the same bounded parent-follow as [[subjectRoots]]
    * (4 hops), one @graph document per root, roots sorted for a
    * deterministic file. Rows are (subject, predicate, objectValue,
    * objectKind, datatype, lang). */
  private[io] def renderPartition(
      rows: Seq[(String, String, String, String, String, String)]): String = {
    val sb = new StringBuilder
    renderPartitionTo(rows, sb.append(_))
    sb.toString
  }

  /** Streaming form of [[renderPartition]]: documents are rendered and
    * emitted one root at a time, so peak memory is the row buffer plus
    * ONE document's string — not the whole partition's output
    * concatenated (2-3x the partition size at the 100 TB design
    * point). */
  private[io] def renderPartitionTo(
      rows: Seq[(String, String, String, String, String, String)],
      write: String => Unit): Unit = {
    val parent = rows.iterator.filter(_._4 == Triple.BNODE)
      .map(t => t._3 -> t._1).toMap
    def rootOf(s0: String): String = {
      var cur = s0
      var hops = 0
      var continue = true
      while (hops < 4 && continue) {
        parent.get(cur) match {
          case Some(p) if p != cur => cur = p
          case _ => continue = false
        }
        hops += 1
      }
      cur
    }
    write("[")
    rows.groupBy(t => rootOf(t._1)).toSeq.sortBy(_._1).zipWithIndex
      .foreach { case ((root, ts), i) =>
        if (i > 0) write(",\n")
        write(renderDoc(root, ts))
      }
    write("]")
  }

  // ---- reader ---------------------------------------------------------

  private def kindOf(id: String): String =
    if (id.startsWith("_:")) Triple.BNODE else Triple.URI

  /** Prefix/term map from a document's `@context` (what rdflib's
    * compacted serialization emits, razu/meta_resource.py:45-54 +
    * meta_graph.py prefix binds): string values are namespace prefixes
    * or term→IRI aliases; `{"@id": iri}` term definitions map the same
    * way. Array/remote contexts are ignored (names pass through). */
  private def contextMap(ctx: JsonNode): Map[String, String] = ctx match {
    case o: ObjectNode =>
      o.fields().asScala.flatMap { e =>
        e.getValue match {
          case v if v.isTextual => Some(e.getKey -> v.asText)
          case v: ObjectNode if v.has("@id") =>
            Some(e.getKey -> v.get("@id").asText)
          case _ => None
        }
      }.toMap
    case _ => Map.empty
  }

  /** Expand a possibly-compacted name: exact term alias, then
    * `prefix:local` with a known prefix; keywords, absolute IRIs, and
    * unknown names pass through. */
  private def expand(name: String, ctx: Map[String, String]): String = {
    if (name.startsWith("@") || ctx.isEmpty) return name
    ctx.get(name) match {
      case Some(iri) => iri
      case None =>
        val i = name.indexOf(':')
        if (i <= 0) name
        else ctx.get(name.substring(0, i)) match {
          // "prefix:local" — but not "http://..." (// after the colon)
          case Some(ns) if !name.startsWith("//", i + 1) =>
            ns + name.substring(i + 1)
          case _ => name
        }
    }
  }

  /** Parse one JSON-LD document string into triples. `bnodeSuffix`
    * disambiguates blank nodes across files (S4 remap). Handles the
    * writer's expanded layout AND context-compacted documents
    * (prefixed predicate/type/datatype names under an `@context`). */
  def parse(json: String, bnodeSuffix: String = ""): Seq[Triple] = {
    val mapper = new ObjectMapper()
    val rootNode = mapper.readTree(json)
    // (context, node) pairs so per-document contexts in an array of
    // @graph documents (the eventlog layout) stay with their own nodes
    val nodes: Seq[(Map[String, String], JsonNode)] = rootNode match {
      case o: ObjectNode if o.has("@graph") =>
        val ctx = contextMap(o.get("@context"))
        o.get("@graph").elements().asScala.toSeq.map((ctx, _))
      case a: ArrayNode =>
        a.elements().asScala.toSeq.flatMap {
          case o: ObjectNode if o.has("@graph") =>
            val ctx = contextMap(o.get("@context"))
            o.get("@graph").elements().asScala.toSeq.map((ctx, _))
          case n => Seq((Map.empty[String, String], n))
        }
      case o: ObjectNode if o.has("@context") =>
        Seq((contextMap(o.get("@context")), o))
      case o => Seq((Map.empty[String, String], o))
    }
    def remap(id: String): String =
      if (id.startsWith("_:") && bnodeSuffix.nonEmpty) s"$id-$bnodeSuffix" else id
    val out = mutable.ArrayBuffer[Triple]()
    nodes.foreach { case (ctx, n) =>
      val subj = remap(Option(n.get("@id")).map(v => expand(v.asText, ctx))
        .getOrElse(s"_:gen${math.abs(n.hashCode)}"))
      n.fields().asScala.foreach { e =>
        val (key, value) = (e.getKey, e.getValue)
        key match {
          case "@id" | "@context" => ()
          case "@type" =>
            val types = if (value.isArray) value.elements().asScala.toSeq else Seq(value)
            types.foreach(t =>
              out += Triple.uri(subj, NS.rdfType, expand(t.asText, ctx)))
          case rawPred =>
            val pred = expand(rawPred, ctx)
            val objs = if (value.isArray) value.elements().asScala.toSeq else Seq(value)
            objs.foreach {
              case o: ObjectNode if o.has("@id") =>
                val id = remap(expand(o.get("@id").asText, ctx))
                out += Triple(subj, pred, id, kindOf(id), null, null)
              case o: ObjectNode if o.has("@value") =>
                out += Triple.lit(subj, pred, o.get("@value").asText,
                  Option(o.get("@type")).map(t => expand(t.asText, ctx)).orNull,
                  Option(o.get("@language")).map(_.asText).orNull)
              case v => // bare literal
                out += Triple.lit(subj, pred, v.asText)
            }
        }
      }
    }
    out.toSeq
  }

  /** S3/S4 — read all JSON-LD files matching `pathGlob` into one triple
    * DataFrame; blank nodes remapped per source file (the bnode suffix is
    * a hash of the file path). Distributed: one file per row via
    * wholetext, parsing executor-side. */
  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(pathGlob)
      .select(input_file_name().as("file"), col("value"))
      .as[(String, String)]
      .flatMap { case (file, json) =>
        val suffix = java.lang.Long.toHexString(
          graft.text.Dedup.xxhash64String(file))
        parse(json, suffix)
      }
      .toDF(Triple.columns: _*)
  }

  // ---- repairs / validity --------------------------------------------

  /** F12 — invalid `xsd:integer` lexical forms downgrade to plain
    * literals (tools/collect_rdf.py:57-60, 93-111). */
  def repairInvalidIntegers(triples: DataFrame): DataFrame =
    triples.withColumn("datatype",
      when(col("datatype") === NS.xsdInteger
          && !col("objectValue").rlike("^[+-]?\\d+$"),
        lit(null).cast("string")).otherwise(col("datatype")))

  /** F11 — drop structurally invalid triples (null terms, literal
    * subjects/predicates; tools/collect_rdf.py:122-132). */
  def filterValid(triples: DataFrame): DataFrame =
    triples.filter(
      col("subject").isNotNull && col("predicate").isNotNull
        && col("objectValue").isNotNull
        && col("objectKind").isin(Triple.URI, Triple.BNODE, Triple.LITERAL))
}
