package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField}

/** X3 — the triple-flattening generator: declarative resource-shape →
  * `array<Triple-struct>` per row → one `explode`. Re-expresses the
  * reference's recursive dict/list→triples walk
  * (razu/rdf_resource.py:46-70) as pure Column expressions, so the whole
  * flattening runs inside whole-stage codegen in a single map-only pass
  * over the source — no UDF, no flatMap, no shuffle.
  *
  * X4 — skolemization: rdflib mints *random* `BNode()` ids
  * (razu/rdf_resource.py:18,56,62) which `tools/collect_rdf.py:37-54` must
  * remap per file to avoid collisions. We instead derive blank-node ids
  * deterministically from (parent subject, property path): the same input
  * always yields the same graph, unions never collide, and runs are
  * reproducible across the cluster.
  *
  * Semantics pinned by the reference tests (tests/test_rdf_resource.py):
  *   - single property → one literal/uri triple
  *   - nested resource → link triple + the nested node's own triples
  *   - list value → one triple per element, same predicate
  *   - string+separator → split into one literal triple per part (STR7)
  *   - null/absent values emit nothing (F1 null-guard built in)
  */
object Build {

  private val nullStr: Column = lit(null).cast("string")

  /** Object-side of a property: literal, IRI, split-string, list, or
    * nested (blank-node) resource. */
  sealed trait RObj extends Serializable

  /** Literal with optional datatype/lang columns (dynamic — e.g. the D1
    * `date_type` dispatch feeds a computed datatype). */
  final case class RLit(value: Column,
                        datatype: Column = null,
                        lang: Column = null) extends RObj

  /** IRI object (links between resources, concept URIs, …). */
  final case class RUri(value: Column) extends RObj

  /** STR7 — split a "a;b;c" cell into one literal triple per element
    * (razu/rdf_resource.py:72-77). */
  final case class RSplit(value: Column, separator: String) extends RObj

  /** Explicit list of objects (test_rdf_resource.py list-in-dict case). */
  final case class RList(values: Seq[RObj]) extends RObj

  /** Nested resource → deterministic skolem blank node (X4). `cond`
    * suppresses the whole node (link + children) when false/null — the
    * reference's null-guarded nested blocks (csv2rdf.py:188-200). */
  final case class RNode(props: Seq[(String, RObj)],
                         cond: Column = lit(true)) extends RObj

  /** A resource shape: subject column + (predicate IRI → object) list. */
  final case class RResource(subject: Column, props: Seq[(String, RObj)])

  /** Deterministic skolem blank-node id from parent subject + path (X4).
    * 128 hash bits — collision-safe at 100 TB scale (~2^64 birthday bound). */
  def skolemCol(parent: Column, path: String): Column =
    concat(lit("_:sk"), substring(sha2(concat_ws("", parent, lit(path)), 256), 1, 32))

  /** One triple struct. `root`, when given, is appended as a `root`
    * field: the subject of the resource shape the triple belongs to. */
  private def tstruct(s: Column, p: String, o: Column, kind: String,
                      dt: Column, lang: Column, root: Option[Column]): Column = {
    val fields = Seq(s.as("subject"), lit(p).as("predicate"), o.as("objectValue"),
      lit(kind).as("objectKind"),
      Option(dt).getOrElse(nullStr).as("datatype"),
      Option(lang).getOrElse(nullStr).as("lang"))
    struct(fields ++ root.map(_.as("root")): _*)
  }

  private val tripleArrayType =
    ArrayType(Triple.schema, containsNull = true)

  private val rootedArrayType =
    ArrayType(Triple.schema.add(StructField("root", StringType)), containsNull = true)

  private def emptyTriples(root: Option[Column]): Column =
    array().cast(if (root.isDefined) rootedArrayType else tripleArrayType)

  /** All triples of one object position as an array column (may contain
    * nulls for null-valued scalars; stripped once at the end). Nested
    * nodes keep the enclosing shape's `root`. */
  private def objTriples(subject: Column, pred: String, obj: RObj,
                         path: String, root: Option[Column]): Column = obj match {
    case RLit(v, dt, lang) =>
      array(when(v.isNotNull,
        tstruct(subject, pred, v.cast("string"), Triple.LITERAL, dt, lang, root)))
    case RUri(v) =>
      array(when(v.isNotNull, tstruct(subject, pred, v, Triple.URI, null, null, root)))
    case RSplit(v, sep) =>
      coalesce(
        transform(split(v, java.util.regex.Pattern.quote(sep)),
          x => tstruct(subject, pred, x, Triple.LITERAL, null, null, root)),
        emptyTriples(root))
    case RList(vs) =>
      concat(vs.zipWithIndex.map { case (o, i) =>
        objTriples(subject, pred, o, s"$path.$i", root)
      }: _*)
    case RNode(props, cond) =>
      val b = skolemCol(subject, s"$path/$pred")
      val link = array(tstruct(subject, pred, b, Triple.BNODE, null, null, root))
      val children = resourceTriples(b, props, s"$path/$pred", root)
      when(coalesce(cond, lit(false)), concat(link, children))
        .otherwise(emptyTriples(root))
  }

  /** Array of all triples for (subject, props), each with a `root`
    * field when `root` is given. */
  def resourceTriples(subject: Column, props: Seq[(String, RObj)],
                      path: String = "", root: Option[Column] = None): Column =
    if (props.isEmpty) emptyTriples(root)
    else concat(props.map { case (p, o) => objTriples(subject, p, o, path, root) }: _*)

  /** Flatten one resource shape per input row into a triple DataFrame
    * (canonical Triple columns). Map-only; null-valued scalars dropped. */
  def flatten(df: DataFrame, resource: RResource): DataFrame =
    flattenAll(df, Seq(resource))

  /** Drop top-level/RNode-nested RSplit props (they go through the split
    * union branch); RSplits inside explicit RLists stay on the transform
    * path to keep list ordinals stable. */
  private def stripSplits(props: Seq[(String, RObj)]): Seq[(String, RObj)] =
    props.flatMap {
      case (_, _: RSplit) => None
      case (p, RNode(ps, c)) => Some(p -> RNode(stripSplits(ps), c))
      case other => Some(other)
    }

  /** (subject, predicate, split, enclosing-condition) for every RSplit
    * reachable outside RLists — subject/path derivation mirrors
    * objTriples exactly so skolem ids stay identical. */
  private def collectSplits(subject: Column, props: Seq[(String, RObj)],
                            path: String, cond: Column): Seq[(Column, String, RSplit, Column)] =
    props.flatMap {
      case (p, s: RSplit) => Seq((subject, p, s, cond))
      case (p, RNode(ps, c)) =>
        val b = skolemCol(subject, s"$path/$p")
        collectSplits(b, ps, s"$path/$p", cond && coalesce(c, lit(false)))
      case _ => Nil
    }

  /** Flatten several resource shapes per input row (e.g. record + bestand
    * per CSV row, csv2rdf.py:117-227).
    *
    * Codegen discipline (measured 30× on the flagship pipeline):
    * null scalars ride through the explode and are dropped by a plain
    * Filter AFTER it (an array-level higher-order `filter` is
    * CodegenFallback and would interpret the whole per-row construction),
    * and RSplit multi-value props (STR7) run as separate
    * `explode(split(...))` union branches (the `transform`-to-struct HOF
    * would likewise knock the Generate out of whole-stage codegen).
    * Column pruning keeps each branch's scan narrow. A sub-expression a
    * shape uses more than once (e.g. [[graft.functions.Geo.wktPolygonCol]],
    * which repeats each corner's reprojection) must be computed as a
    * column of `df` BEFORE this call: `Generate` does no common
    * sub-expression elimination, so every copy is emitted into the
    * generator's consume method, which then outgrows Janino's 64 KB
    * limit and falls back to interpreted code; a Project deduplicates
    * them. */
  def flattenAll(df: DataFrame, resources: Seq[RResource]): DataFrame =
    flattenShapes(df, resources, rooted = false)

  /** [[flattenAll]] plus a trailing `root` column: the subject of the
    * resource shape each triple came from. A nested node's triples (and
    * the link to it) carry the shape's subject, not the blank node's, so
    * `root` is the resource whose JSON-LD document holds the triple, the
    * same value [[graft.rdf.io.JsonLd.subjectRoots]] finds with its
    * self-joins. */
  def flattenRooted(df: DataFrame, resources: Seq[RResource]): DataFrame =
    flattenShapes(df, resources, rooted = true)

  private def flattenShapes(df: DataFrame, resources: Seq[RResource],
                            rooted: Boolean): DataFrame = {
    def rootOf(r: RResource): Option[Column] = Option.when(rooted)(r.subject)
    val outCols = if (rooted) Triple.columns :+ "root" else Triple.columns
    val all = concat(resources.zipWithIndex.map { case (r, i) =>
      resourceTriples(r.subject, stripSplits(r.props), s"#$i", rootOf(r))
    }: _*)
    val main = df.select(explode(all).as("t"))
      .filter(col("t").isNotNull)
      .select(outCols.map(c => col(s"t.$c")): _*)
    val splitBranches = resources.zipWithIndex.flatMap { case (r, i) =>
      collectSplits(r.subject, r.props, s"#$i", lit(true)).map {
        case (subj, pred, RSplit(v, sep), cond) =>
          df.filter(cond)
            .select(Seq(subj.as("subject"), lit(pred).as("predicate"),
              explode(split(v, java.util.regex.Pattern.quote(sep))).as("objectValue")) ++
              rootOf(r).map(_.as("root")): _*)
            .select(Seq(col("subject"), col("predicate"), col("objectValue"),
              lit(Triple.LITERAL).as("objectKind"),
              nullStr.as("datatype"), nullStr.as("lang")) ++
              Option.when(rooted)(col("root")): _*)
      }
    }
    (main +: splitBranches).reduce(_ unionByName _)
  }

  /** A7 — graph set semantics: collapse duplicate triples. A carried
    * `root` column ([[flattenRooted]]) is part of the key: it is a
    * function of the subject, so the triple set is the same, and the
    * dedup stays a plain group-by of its columns. */
  def dedup(triples: DataFrame): DataFrame =
    triples.dropDuplicates(Triple.columns ++ triples.columns.find(_ == "root"))
}
