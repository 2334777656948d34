package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** FILE-LEVEL data skipping on the bucketed contract — the missing
  * layer between the generation manifest (which files exist) and
  * parquet's own row-group skipping (which needs every file's footer
  * OPENED before it can skip anything). At 100 TB a time-range query
  * against an append-mostly table should not plan a task per file: the
  * per-file min/max already sitting in every parquet FOOTER prunes the
  * file list on the driver, and the scan that Spark plans afterwards
  * contains only the surviving files.
  *
  * Stats are DERIVED metadata, never part of the commit protocol: they
  * are read from the footers of the head generation's files on first
  * use, cached in-process keyed by (table location, generation) — any
  * commit naturally invalidates by advancing the generation — and
  * PERSISTED as a stats sidecar (`_graft_stats.<gen>`, one small file
  * beside the manifests, round 12): a fresh process reads one small
  * file instead of re-opening every footer, and because stats are
  * per-FILE and files immutable, a commit invalidates nothing — the
  * next reader reuses the prior sidecar's entries for surviving files
  * and footer-reads only the new ones. Being derived, the sidecar can
  * tear or go missing harmlessly (parse failure degrades to footer
  * reads, never to wrong stats), and commits never wait on it
  * (write-behind by the first reader). The footer pass for uncovered
  * files is metadata-only (no data pages) and runs as a SPARK JOB once
  * the file count outgrows a driver loop — at 100k files that is one
  * short stage of footer opens across the cluster, not a sequential
  * driver crawl; under the threshold the driver reads them directly
  * (no job-scheduling overhead on the handful-of-files case).
  *
  * Every entry point resolves the head generation ONCE
  * ([[Bucketed.resolveGeneration]]): its stats, the kept/pruned
  * classification and the scan of the kept files all come from that
  * one file list, and a listed file missing from disk fails the call
  * loudly instead of reading fewer rows. Scans go through
  * [[Bucketed.relation]], the relation every governed read plans
  * over, so a pruned frame keeps the table's bucket spec (a join on
  * the bucket key with a co-bucketed table plans no Exchange).
  *
  * Pruning is CONSERVATIVE — a file is dropped only when its stats
  * PROVE it cannot match: its column's [min, max] misses [lo, hi] in a
  * comparable domain, or every value in it is null (BETWEEN never
  * matches null). Missing stats, unknown physical types (e.g. INT96
  * timestamps), or a domain mismatch between the stats and the bounds
  * all KEEP the file, and the real predicate is re-applied to the
  * surviving rows regardless — so a pruned read can never return
  * different rows than the full scan, only read fewer files.
  *
  * WHEN it wins: the stat column must correlate with file placement —
  * time-ordered appends (each append's files cover that batch's time
  * span), range-clustered writes, or a [[graft.ops.Layout]] Z-order
  * pass ([[graft.ops.Layout.saveClustered]] prunes on BOTH clustered
  * columns). A column hashed across buckets (the bucket key itself)
  * spreads every value range over every file and prunes nothing —
  * that is what bucket pruning is for. */
object FileStats {

  /** Comparable stat key: numeric domain (ints, longs, floats,
    * date→epoch-day, instant/INT64-timestamp→epoch-micros) or UTF-8
    * string domain. Serializable — footer stats may be gathered on
    * executors. */
  type Key = Either[BigDecimal, String]

  /** One column's aggregated footer stats for one file: min/max over
    * all row groups in the comparable domain (None = unknown or not
    * comparable), allNull = every value in the file is provably null,
    * nullCount = the file's total nulls in the column when every row
    * group recorded it (None = at least one didn't — unusable for
    * metadata aggregation). */
  final case class ColStat(min: Option[Key], max: Option[Key],
                           allNull: Boolean,
                           nullCount: Option[Long] = None)

  /** One file's footer stats: total row count + per-column stats +
    * the columns for which the file carries parquet bloom filters
    * (presence only — the bloom BITS always need the footer; presence
    * lets [[splitFilesEquals]] skip opening files that provably have
    * no bloom to consult). */
  final case class FileStat(rows: Long, cols: Map[String, ColStat],
                            bloomCols: Set[String] = Set.empty)

  // (table location, generation) -> file name -> stats.
  // Generation-keyed: any commit invalidates by advancing the key.
  // Values are MEMO holders, not the maps themselves: the footer pass
  // is real I/O (a Spark job, or a driver pool Await) and must never
  // run inside computeIfAbsent (see [[graft.sources.Memo]]).
  private val cache =
    new ConcurrentHashMap[(String, Long), Memo[Map[String, FileStat]]]()

  /** Drop cached stats for `location` — run at a table's CREATE
    * (Bucketed.save, Layout.saveClustered): the one commit that
    * restarts generation numbering at a location, whose keys would
    * otherwise collide with a dropped table's cached stats. */
  private[sources] def invalidate(location: String): Unit =
    cache.keySet.removeIf(_._1 == location)

  // below this many files a driver loop beats a job's scheduling cost
  private val DriverReadMax = 32

  /** Per-file footer stats of the table's HEAD generation (resolved
    * here; the entry points below pass their own resolution). Three
    * tiers, cheapest first: the in-process (location, generation)
    * cache; the PERSISTED stats sidecar (`_graft_stats.<gen>` beside
    * the manifests — one small-file read covers every file it lists,
    * so a FRESH PROCESS answers metadata queries with ZERO footer
    * opens); footer reads for only the files the sidecar lacks (new
    * appends since the sidecar was stamped, or no sidecar at all).
    * Stats are per-FILE and files are immutable, so a prior
    * generation's sidecar entries stay valid for every file the head
    * still lists — after a commit only the NEW files pay a footer
    * read. The merged map is written back as the head generation's
    * sidecar (write-behind: commits pay nothing; the first reader
    * amortizes), a single small PUT whose torn write degrades to
    * footer reads, never to wrong stats. */
  def statsOf(spark: SparkSession,
              table: String): Map[String, FileStat] =
    statsOf(spark, Bucketed.resolveGeneration(spark, table))

  /** [[statsOf]] over an already-resolved head — what each entry point
    * below calls, so stats, classification and the read of the kept
    * files all come from ONE resolution. */
  private def statsOf(spark: SparkSession,
                      head: Bucketed.Resolved): Map[String, FileStat] = {
    val gen = head.gen
    val files = head.files
    val loc = new Path(head.meta.location)
    // a run-forever process commits thousands of generations; stats of
    // superseded ones are dead weight — keep only the head's per table
    cache.keySet.removeIf(k => k._1 == loc.toString && k._2 != gen)
    cache.computeIfAbsent((loc.toString, gen), _ => new Memo(() => {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = loc.getFileSystem(conf)
      val names = files.map(_.getPath.getName).toSet
      val (sidecarGen, prior) = readSidecar(fs, loc)
      val have = prior.filter { case (n, _) => names(n) }
      val missing = files.filterNot(f => have.contains(f.getPath.getName))
      val fresh: Map[String, FileStat] =
        if (missing.isEmpty) Map.empty
        else if (missing.size <= DriverReadMax) {
          // a footer open costs ~100 ms even locally — thread the
          // driver loop so the handful-of-files case stays sub-second
          import scala.concurrent.{Await, Future, ExecutionContext}
          implicit val ec: ExecutionContext = ExecutionContext.global
          Await.result(
            Future.traverse(missing)(f => Future(
              f.getPath.getName -> footerStats(conf, f.getPath))),
            scala.concurrent.duration.Duration(600, "s")).toMap
        }
        else {
          // one short metadata-only stage: footer opens parallelize
          // across the cluster instead of crawling the driver. Hadoop
          // Configuration is not serializable — ship its entries and
          // rebuild per executor partition.
          val entries = {
            val it = conf.iterator()
            val b = Seq.newBuilder[(String, String)]
            while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
            b.result()
          }
          val bc = spark.sparkContext.broadcast(entries)
          val paths = missing.map(_.getPath.toString)
          spark.sparkContext
            .parallelize(paths,
              math.min(paths.size,
                math.max(1, spark.sparkContext.defaultParallelism * 2)))
            .mapPartitions { ps =>
              val c = new Configuration(false)
              bc.value.foreach { case (k, v) => c.set(k, v) }
              ps.map(p => new Path(p).getName -> footerStats(c, new Path(p)))
            }
            .collect().toMap
        }
      val all = have ++ fresh
      if (fresh.nonEmpty || !sidecarGen.contains(gen))
        writeSidecar(fs, loc, gen, all)
      all
    })).value
  }

  /** The head generation's file paths split by the range predicate:
    * (kept, pruned). Kept = stats cannot rule the file out. */
  def splitFiles(spark: SparkSession, table: String, column: String,
                 lo: Any, hi: Any): (Seq[Path], Seq[Path]) = {
    val head = Bucketed.resolveGeneration(spark, table)
    val (kept, pruned) =
      splitOf(head.meta.schema, head.files, statsOf(spark, head), column,
        lo, hi)
    (kept.map(_.getPath), pruned.map(_.getPath))
  }

  /** `files` split by the range predicate on `column` of `schema`:
    * (kept, pruned). */
  private def splitOf(schema: StructType, files: Seq[FileStatus],
                      stats: Map[String, FileStat], column: String,
                      lo: Any, hi: Any): (Seq[FileStatus], Seq[FileStatus]) = {
    val (loK, hiK) = boundKeys(schema, column, lo, hi)
    files.partition { f =>
      stats.get(f.getPath.getName).flatMap(_.cols.get(column)) match {
        case Some(st) if st.allNull => false
        case Some(ColStat(Some(mn), Some(mx), _, _)) =>
          (loK, hiK) match {
            case (Some(l), Some(h))
              if sameDomain(mn, l) && sameDomain(mx, h) =>
              !(cmp(mx, l) < 0 || cmp(mn, h) > 0)
            case _ => true // incomparable bounds → keep (safe)
          }
        case _ => true // no stats → keep (safe)
      }
    }
  }

  /** How [[countWhere]] answered: rows counted, files answered from
    * METADATA alone (provably fully inside the range), files actually
    * scanned (range-boundary or stat-less), files pruned. */
  final case class CountResult(count: Long, coveredFiles: Int,
                               scannedFiles: Int, prunedFiles: Int)

  /** Metadata-only range COUNT: a file whose [min, max] lies FULLY
    * inside [lo, hi] (and whose null count is known) contributes
    * `rows − nulls` from its FOOTER — no data read at all; files the
    * stats prune contribute zero; only the range-BOUNDARY files (and
    * stat-less ones) are scanned, with the exact predicate. On a
    * time-ordered table a count over a wide range costs two boundary
    * files' scan + driver arithmetic, whatever the table's size — the
    * aggregation analogue of file skipping, and exactly as
    * conservative (anything uncertain is scanned, never guessed). */
  def countWhere(spark: SparkSession, table: String, column: String,
                 lo: Any, hi: Any): CountResult = {
    val head = Bucketed.resolveGeneration(spark, table)
    val stats = statsOf(spark, head)
    val (loK, hiK) = boundKeys(head.meta.schema, column, lo, hi)
    // 0 = pruned, 1 = covered (metadata), 2 = scan
    def classOf(f: FileStatus): Int =
      stats.get(f.getPath.getName) match {
        case Some(fs) => fs.cols.get(column) match {
          case Some(st) if st.allNull => 0
          case Some(ColStat(Some(mn), Some(mx), _, nc)) =>
            (loK, hiK) match {
              case (Some(l), Some(h))
                if sameDomain(mn, l) && sameDomain(mx, h) =>
                if (cmp(mx, l) < 0 || cmp(mn, h) > 0) 0
                else if (cmp(mn, l) >= 0 && cmp(mx, h) <= 0 && nc.isDefined) 1
                else 2
              case _ => 2
            }
          case _ => 2
        }
        case None => 2
      }
    val classed = head.files.map(f => f -> classOf(f))
    val covered = classed.collect { case (f, 1) =>
      val fs = stats(f.getPath.getName)
      fs.rows - fs.cols(column).nullCount.get
    }
    val toScan = classed.collect { case (f, 2) => f }
    val scanned =
      if (toScan.isEmpty) 0L
      else Bucketed.relation(spark, head.meta, toScan)
        .filter(col(column).between(lit(lo), lit(hi))).count()
    CountResult(covered.sum + scanned, covered.size, toScan.size,
      classed.count(_._2 == 0))
  }

  /** Range read with file-level skipping: prune the head generation's
    * file list by footer min/max, scan only the survivors, and
    * re-apply the exact predicate (so parquet row-group skipping still
    * runs inside the kept files, and pruning can never change the
    * result — only the files read). */
  def loadBetween(spark: SparkSession, table: String, column: String,
                  lo: Any, hi: Any): DataFrame =
    loadWhere(spark, table, Seq((column, lo, hi)))

  /** CONJUNCTIVE multi-range read: a file survives only if NO range
    * rules it out, so each extra range can only shrink the file list —
    * on a [[graft.ops.Layout.saveClustered]] Morton layout a 2-D box
    * (x AND y) prunes to the files whose z-squares intersect the box,
    * strictly tighter than either 1-D range alone. All exact
    * predicates re-apply to the survivors (AND of BETWEENs). */
  def loadWhere(spark: SparkSession, table: String,
                ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "at least one (column, lo, hi) range")
    val head = Bucketed.resolveGeneration(spark, table)
    val stats = statsOf(spark, head)
    val kept = ranges.foldLeft(head.files) { case (fs, (c, lo, hi)) =>
      splitOf(head.meta.schema, fs, stats, c, lo, hi)._1
    }
    ranges.foldLeft(Bucketed.relation(spark, head.meta, kept)) {
      case (df, (c, lo, hi)) => df.filter(col(c).between(lit(lo), lit(hi)))
    }
  }

  /** EQUALITY read with bloom-filter file skipping — the point-lookup
    * path for a HIGH-CARDINALITY, UNCLUSTERED column, where min/max
    * cannot prune (every file spans the whole value range): if the
    * table was written with `parquet.bloom.filter.enabled#<col>`
    * ([[Bucketed.save]]'s writeOptions — maintenance rewrites re-apply
    * it from the stored table properties), a file whose every row
    * group's bloom filter rules the value out is provably matchless
    * and skips. Order of defenses: min/max first (free, already
    * cached), then blooms on the survivors (one footer + bloom-page
    * read per file, parallelized on a driver pool). Conservative like
    * all pruning here: a missing bloom, an unhashable type, or a
    * bloom false positive keeps the file, and the exact `=` predicate
    * re-applies to the survivors. */
  def loadEquals(spark: SparkSession, table: String, column: String,
                 value: Any): DataFrame = {
    val head = Bucketed.resolveGeneration(spark, table)
    val (surviving, _) = splitEqualsOf(spark, head, column, value)
    Bucketed.relation(spark, head.meta, surviving)
      .filter(col(column) === lit(value))
  }

  /** The head generation's files split by an equality predicate:
    * (kept, pruned) after BOTH defenses — min/max range first, then
    * per-row-group bloom filters on the survivors. Files whose
    * persisted stats PROVE they carry no bloom for the column are
    * kept WITHOUT a footer open (the bloom could only have said
    * "keep" anyway); only files with a bloom to consult — or no
    * stats at all — pay the open. */
  def splitFilesEquals(spark: SparkSession, table: String,
                       column: String, value: Any): (Seq[Path], Seq[Path]) = {
    val (kept, pruned) = splitEqualsOf(spark,
      Bucketed.resolveGeneration(spark, table), column, value)
    (kept.map(_.getPath), pruned.map(_.getPath))
  }

  private def splitEqualsOf(spark: SparkSession, head: Bucketed.Resolved,
                            column: String, value: Any)
      : (Seq[FileStatus], Seq[FileStatus]) = {
    val stats = statsOf(spark, head)
    val (kept, prunedMm) =
      splitOf(head.meta.schema, head.files, stats, column, value, value)
    val (bloomless, toCheck) = kept.partition(f =>
      stats.get(f.getPath.getName).exists(st => !st.bloomCols(column)))
    val conf = spark.sparkContext.hadoopConfiguration
    import scala.concurrent.{Await, Future, ExecutionContext}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val checked = Await.result(
      Future.traverse(toCheck)(f => Future(
        f -> bloomMightContain(conf, f.getPath, column, value))),
      scala.concurrent.duration.Duration(600, "s"))
    val (surviving, bloomPruned) = checked.partition(_._2)
    (bloomless ++ surviving.map(_._1), prunedMm ++ bloomPruned.map(_._1))
  }

  /** False only when EVERY row group of `p` has a bloom filter for
    * `column` and none might contain `value` — the provably-matchless
    * case. Anything uncertain (no bloom, unknown type) keeps. */
  private[sources] def bloomMightContain(conf: Configuration, p: Path,
                                         column: String, value: Any): Boolean = {
    footerOpens.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var i = 0
      while (i < blocks.size()) {
        val cc = blocks.get(i).getColumns
        var j = 0
        var found = false
        while (j < cc.size()) {
          val c = cc.get(j)
          if (c.getPath.toDotString == column) {
            found = true
            val bf = reader.readBloomFilter(c)
            if (bf == null) return true
            hashFor(bf, c.getPrimitiveType.getPrimitiveTypeName, value)
              match {
              case None => return true
              case Some(h) => if (bf.findHash(h)) return true
            }
          }
          j += 1
        }
        if (!found) return true // column absent (pre-evolution file)
        i += 1
      }
      false // every row group's bloom said no (or the file is empty)
    } finally reader.close()
  }

  private def hashFor(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      t: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      value: Any): Option[Long] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    (t, value) match {
      case (INT64, v: java.lang.Long) => Some(bf.hash(v.longValue))
      case (INT64, v: java.lang.Integer) => Some(bf.hash(v.longValue))
      case (INT32, v: java.lang.Integer) => Some(bf.hash(v.intValue))
      case (INT32, v: java.lang.Long) if v.longValue.isValidInt =>
        Some(bf.hash(v.intValue))
      case (DOUBLE, v: java.lang.Double) => Some(bf.hash(v.doubleValue))
      case (FLOAT, v: java.lang.Float) => Some(bf.hash(v.floatValue))
      case (BINARY, v: String) => Some(bf.hash(Binary.fromString(v)))
      case _ => None
    }
  }

  /** Metadata-first range MIN/MAX: over the files the range keeps,
    * the file-level min/max BOUND the answer — but a file's extremum
    * need not lie inside [lo, hi], so metadata alone answers only
    * when some file's whole span sits inside the range at the right
    * end. Strategy: compute the best PROVEN candidate (covered files'
    * stats), then scan only the files whose stats ADMIT a better
    * value inside the range — on a range-clustered table that is the
    * boundary files, whatever the table size. Conservative as ever:
    * any file with unusable stats is scanned. Returns (min, max) as
    * Spark values (None when no row matches). */
  def minMaxWhere(spark: SparkSession, table: String, column: String,
                  lo: Any, hi: Any): (Option[Any], Option[Any]) = {
    val head = Bucketed.resolveGeneration(spark, table)
    val stats = statsOf(spark, head)
    val (kept, _) =
      splitOf(head.meta.schema, head.files, stats, column, lo, hi)
    if (kept.isEmpty) return (None, None)
    val (loK, hiK) = boundKeys(head.meta.schema, column, lo, hi)
    def statOf(f: FileStatus): Option[ColStat] =
      stats.get(f.getPath.getName).flatMap(_.cols.get(column))
    // a file whose span is fully inside the range (and null-countable)
    // PROVES its min/max are attained in-range
    // min/max need no null count: defined stats imply ≥1 non-null
    // value and parquet min/max range over the non-null values only
    def spanInRange(mn: Key, mx: Key): Boolean = (loK, hiK) match {
      case (Some(l), Some(h)) =>
        sameDomain(mn, l) && sameDomain(mx, h) &&
          cmp(mn, l) >= 0 && cmp(mx, h) <= 0
      case _ => false
    }
    def provenBounds(f: FileStatus): Option[(Key, Key)] =
      statOf(f) match {
        case Some(ColStat(Some(mn), Some(mx), false, _))
          if spanInRange(mn, mx) => Some((mn, mx))
        case _ => None
      }
    val proven = kept.flatMap(provenBounds)
    val provenMin = proven.map(_._1).reduceOption((a, b) =>
      if (cmp(a, b) <= 0) a else b)
    val provenMax = proven.map(_._2).reduceOption((a, b) =>
      if (cmp(a, b) >= 0) a else b)
    // scan only files whose stats admit beating the proven bounds
    // inside the range (or whose stats are unusable)
    val toScan = kept.filter { f =>
      (statOf(f), provenBounds(f)) match {
        // fully covered: its in-range min/max ARE its file min/max,
        // already folded into the proven bounds — never scanned
        case (_, Some(_)) => false
        case (Some(ColStat(Some(mn), Some(mx), _, _)), None) =>
          // a boundary file matters only if its span ADMITS beating a
          // proven bound (file min below proven min / max above max);
          // with no proven bound yet, every boundary file matters
          val beatsMin = provenMin.forall(pm => cmp(mn, pm) < 0)
          val beatsMax = provenMax.forall(pm => cmp(mx, pm) > 0)
          beatsMin || beatsMax
        case _ => true // unusable stats → scan
      }
    }
    if (toScan.isEmpty)
      (provenMin.map(fromKey(_, lo)), provenMax.map(fromKey(_, lo)))
    else {
      import org.apache.spark.sql.functions.{max => smax, min => smin}
      val r = Bucketed.relation(spark, head.meta, toScan)
        .filter(col(column).between(lit(lo), lit(hi)))
        .agg(smin(col(column)), smax(col(column))).head()
      val scanMin = Option(r.get(0))
      val scanMax = Option(r.get(1))
      // a scanned extremum can be ±Infinity/NaN (no stat Key exists for
      // it — that is exactly WHY its file was scanned); compare those
      // as doubles, where Double.compare's NaN-greatest total order
      // matches Spark's own min/max semantics. The double fallback only
      // fires when a side is a non-finite float/double, so the
      // precision loss of a long→double cast never applies.
      def numOf(v: Any): Double = v match {
        case n: java.lang.Number => n.doubleValue
        case _ => Double.NaN
      }
      def better(a: Option[Any], b: Option[Any], takeMin: Boolean) =
        (a, b) match {
          case (Some(x), Some(y)) =>
            val c = (toKey(x), toKey(y)) match {
              case (Some(kx), Some(ky)) => cmp(kx, ky)
              case _ => java.lang.Double.compare(numOf(x), numOf(y))
            }
            if ((c <= 0) == takeMin) a else b
          case (Some(_), None) => a
          case _ => b
        }
      (better(provenMin.map(fromKey(_, lo)), scanMin, takeMin = true),
        better(provenMax.map(fromKey(_, lo)), scanMax, takeMin = false))
    }
  }

  /** How [[topK]] answered: the rows, files scanned, files that were
    * candidates at all (the head generation's files minus any the
    * optional range predicate provably pruned — `scannedFiles <
    * totalFiles` is the "the boundary visit stopped early" pin). */
  final case class TopKResult(rows: org.apache.spark.sql.DataFrame,
                              scannedFiles: Int, totalFiles: Int)

  /** Metadata-first ORDER BY `column` DESC|ASC LIMIT `k` — the pruning
    * analogue of [[minMaxWhere]] for the top-k shape every retrieval
    * pipeline runs: files are visited in FOOTER-BOUNDARY order (max
    * descending for top-k; min ascending when `ascending` — the
    * bottom-k twin), and the scan STOPS as soon as the running k-th
    * value strictly beats every unvisited file's boundary — on a
    * range-clustered or append-ordered table that is the boundary
    * file(s), whatever the table size. `range` composes a
    * `WHERE rc BETWEEN lo AND hi` with the visit: files the range's
    * footer stats PROVE matchless ([[splitFiles]]) never enter the
    * visit order, and the exact predicate re-applies to every scan —
    * the full `WHERE … ORDER BY … LIMIT k` retrieval shape with only
    * the filtered set's boundary files read. `tieCols` complete the
    * ordering (ascending) so the result is deterministic under ties;
    * the stop condition is STRICT (kth beats next boundary) because a
    * tie at the boundary could be beaten on the tiebreaker by an
    * unvisited row. Conservative like every pruning here: files with
    * unusable stats sort FIRST (always scanned), all-null files sort
    * last (nulls sort last in BOTH directions — desc's Spark default,
    * asc via NULLS LAST, matching the oracle) and are visited only if
    * the visited set cannot fill k, and the worst case degrades to the
    * full scan's answer, never a different one. The prefix grows
    * geometrically, so convergence costs O(log files) Spark jobs even
    * when the layout does not cooperate.
    *
    * Driver safety: k ≤ `collectMax` collects the winning prefix's ≤k
    * rows once at the stop check and SERVES them (never re-evaluating
    * the dominant scan+sort); a larger k must not land k full rows on
    * the driver — the stop check degrades to a three-scalar aggregate
    * of the limited frame (count / non-null count / boundary extremum:
    * with nulls last, the k-th row is null iff non-nulls < k, and its
    * value otherwise IS the min (desc) / max (asc) of the k rows), and
    * the winner is served as the DISTRIBUTED limit(k) frame — one
    * extra evaluation of the winning scan+sort, the price of a
    * driver-safe unbounded k. */
  def topK(spark: SparkSession, table: String, column: String, k: Int,
           tieCols: Seq[String] = Nil, ascending: Boolean = false,
           range: Option[(String, Any, Any)] = None,
           collectMax: Int = 4096): TopKResult = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.functions.{asc, asc_nulls_last, desc}
    val head = Bucketed.resolveGeneration(spark, table)
    val stats = statsOf(spark, head)
    val schema = head.meta.schema
    val files = range.fold(head.files) { case (rc, lo, hi) =>
      splitOf(schema, head.files, stats, rc, lo, hi)._1
    }
    val rangeFilter: DataFrame => DataFrame = range match {
      case Some((rc, lo, hi)) =>
        df => df.filter(col(rc).between(lit(lo), lit(hi)))
      case None => identity
    }
    val order = (if (ascending) asc_nulls_last(column) else desc(column)) +:
      tieCols.map(asc)
    def result(prefix: Seq[FileStatus]) =
      rangeFilter(Bucketed.relation(spark, head.meta, prefix))
        .orderBy(order: _*).limit(k)
    if (files.isEmpty) return TopKResult(result(Nil), 0, 0)
    def statOf(f: FileStatus): Option[ColStat] =
      stats.get(f.getPath.getName).flatMap(_.cols.get(column))
    // the file-level bound the visit order and stop condition run on:
    // the footer MAX bounds what a file can contribute to a DESC
    // top-k, the footer MIN to an ASC bottom-k (min and max degrade
    // to unknown INDEPENDENTLY — e.g. a +Inf max beside a finite min)
    def boundary(st: ColStat): Option[Key] =
      if (ascending) st.min else st.max
    // visit order: unusable stats first (must scan), then the
    // boundary in answer order, all-null files last (they contribute
    // only when k is not filled)
    val ordered = files.sortBy { f =>
      statOf(f) match {
        case Some(st) if st.allNull => (2, None: Option[Key])
        case Some(st) if boundary(st).isDefined => (1, boundary(st))
        case _ => (0, None)
      }
    }(Ordering.Tuple2(Ordering.Int, Ordering.Option(
      if (ascending) cmpOrdering else cmpOrdering.reverse)))
    def frameOf(rows: Array[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val colIdx = schema.fieldIndex(column)
    // (filled k rows?, k-th row's ordering value or null, the rows
    // when small-k collected them — see the scaladoc's driver-safety
    // contract)
    def checkOf(prefix: Seq[FileStatus])
      : (Boolean, Any, Option[Array[org.apache.spark.sql.Row]]) =
      if (k <= collectMax) {
        val rows = result(prefix).collect()
        (rows.length >= k,
          if (rows.length >= k) rows.last.get(colIdx) else null,
          Some(rows))
      } else {
        import org.apache.spark.sql.functions.{count => scount,
          max => smax, min => smin}
        val r = result(prefix).agg(scount(lit(1)), scount(col(column)),
          if (ascending) smax(col(column)) else smin(col(column))).head()
        val total = r.getLong(0)
        val nonNull = r.getLong(1)
        (total >= k, if (total >= k && nonNull >= k) r.get(2) else null,
          None)
      }
    def serve(prefix: Seq[FileStatus],
              collected: Option[Array[org.apache.spark.sql.Row]],
              scanned: Int) = TopKResult(
      collected.map(frameOf).getOrElse(result(prefix)), scanned,
      ordered.size)
    // every file with UNUSABLE stats (no stats, or a boundary that has
    // no comparable key — e.g. a ±Infinity footer value the non-finite
    // guard degraded) sorts FIRST and MUST be in every scanned prefix:
    // treating "boundary unknown" like "all-null" would stop the scan
    // while such a file may hold the true top values
    val mustScan = ordered.segmentLength(f => statOf(f) match {
      case Some(st) if st.allNull => false
      case Some(st) if boundary(st).isDefined => false
      case _ => true
    })
    var n = math.max(math.max(1, mustScan), math.min(ordered.size, {
      // smallest prefix whose row counts can fill k (stats-known rows)
      var acc = 0L; var i = 0
      while (i < ordered.size && acc < k) {
        acc += stats.get(ordered(i).getPath.getName).map(_.rows).getOrElse(0L)
        i += 1
      }
      i
    }))
    n = math.min(ordered.size, n)
    while (n < ordered.size) {
      val prefix = ordered.take(n)
      val (filled, kthValue, collected) = checkOf(prefix)
      statOf(ordered(n)) match {
        // next file provably all-null: nulls cannot beat any NON-NULL
        // value — done once k is filled AND the k-th value is
        // non-null (a null k-th row sorts among the nulls, where an
        // unscanned all-null file's rows could still beat it on the
        // tiebreaker)
        case Some(st) if st.allNull =>
          if (filled && kthValue != null)
            return serve(prefix, collected, n)
          else n = math.min(ordered.size, n * 2)
        case Some(st) if boundary(st).isDefined =>
          val bd = boundary(st).get
          Option(kthValue).flatMap(toKey) match {
            case Some(kv) if sameDomain(kv, bd) &&
                (if (ascending) cmp(kv, bd) < 0 else cmp(kv, bd) > 0) =>
              return serve(prefix, collected, n)
            case _ => n = math.min(ordered.size, n * 2)
          }
        // unusable stats beyond the must-scan prefix (defensive — the
        // ordering puts them first): never a stop, always scan on
        case _ => n = math.min(ordered.size, n * 2)
      }
    }
    if (k <= collectMax)
      TopKResult(frameOf(result(ordered).collect()),
        ordered.size, ordered.size)
    else TopKResult(result(ordered), ordered.size, ordered.size)
  }

  private val cmpOrdering: Ordering[Key] = (a, b) => cmp(a, b)

  /** Render a stats Key back into the caller's value domain, using the
    * bound value as the type witness (date/timestamp/long/string) — so
    * a metadata-only answer carries the SAME runtime type as a scanned
    * one, whatever the file layout chose. */
  private def fromKey(k: Key, witness: Any): Any = (k, witness) match {
    case (Left(n), _: java.time.LocalDate) =>
      java.time.LocalDate.ofEpochDay(n.toLong)
    case (Left(n), _: java.sql.Date) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong))
    case (Left(n), _: java.time.Instant) =>
      java.time.Instant.ofEpochSecond(n.toLong / 1000000L,
        (n.toLong % 1000000L) * 1000L)
    case (Left(n), _: java.sql.Timestamp) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        n.toLong / 1000000L, (n.toLong % 1000000L) * 1000L))
    case (Left(n), _: java.time.LocalDateTime) =>
      java.time.LocalDateTime.ofEpochSecond(n.toLong / 1000000L,
        ((n.toLong % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    case (Left(n), _: java.lang.Double) => n.toDouble
    case (Left(n), _: java.lang.Float) => n.toFloat
    case (Left(n), _: java.lang.Integer) => n.toInt
    case (Left(n), _) => n.toLong
    case (Right(s), _) => s
  }

  // ---- persisted stats sidecar ---------------------------------------

  private val StatsMagic = "graft-stats-v1"
  private val StatsName = """^_graft_stats\.(\d+)$""".r

  /** Footer opens performed by this process (footer-stat reads + bloom
    * consultations) — the instrumentation the cold-start spec pins:
    * with a sidecar covering the head generation, a fresh process's
    * metadata queries must not open a single footer. */
  private[sources] val footerOpens =
    new java.util.concurrent.atomic.AtomicLong()

  /** Drop the in-process stats cache for every table — the test hook
    * simulating a fresh process (the sidecar file is what survives). */
  private[sources] def forgetCached(): Unit = cache.clear()

  /** The newest PARSEABLE sidecar's generation, if any — the
    * "sidecar lags the head" maintenance signal
    * ([[IndexMaintenance.maintainTableIfNeeded]]): metadata-only
    * (name listing + one small parse), no footer is opened. */
  private[sources] def sidecarGeneration(spark: SparkSession,
                                         table: String): Option[Long] = {
    val loc = new Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSidecar(fs, loc)._1
  }

  private def sidecarEntries(fs: org.apache.hadoop.fs.FileSystem,
                             dir: Path): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .flatMap(p => p.getName match {
        case StatsName(g) => Some(g.toLong -> p)
        case _ => None
      }).sortBy(_._1)

  /** The newest parseable sidecar's (generation, file→stats). A torn
    * or garbage sidecar reads as absent — degrade to footer reads. */
  private def readSidecar(fs: org.apache.hadoop.fs.FileSystem,
                          dir: Path): (Option[Long], Map[String, FileStat]) =
    sidecarEntries(fs, dir).reverseIterator.flatMap { case (g, p) =>
      parseSidecar(fs, p).map(m => (Option(g), m))
    }.nextOption().getOrElse((None, Map.empty))

  private def parseSidecar(fs: org.apache.hadoop.fs.FileSystem,
                           p: Path): Option[Map[String, FileStat]] =
    try {
      val in = fs.open(p)
      val bytes =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n", -1).toSeq
      val End = """^END (\d+)$""".r
      lines match {
        case StatsMagic +: rest if rest.nonEmpty =>
          rest.last match {
            case End(n) if rest.length - 1 == n.toInt =>
              val parsed = rest.dropRight(1).map(fileStatFromJson)
              if (parsed.forall(_.isDefined)) Some(parsed.flatten.toMap)
              else None
            case _ => None
          }
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Persist `stats` as generation `gen`'s sidecar and drop the
    * STRICTLY-OLDER sidecars it supersedes. Derived metadata: safe to
    * overwrite (two writers write the same content for the same
    * generation), safe to tear (the parse falls back to footer reads).
    * A sidecar with a HIGHER generation is never touched — and its
    * presence skips this write entirely: a reader that resolved the
    * manifest just before another process's commit is writing STALE
    * derived state, and clobbering the fresher process's sidecar
    * (there is no lock around this read-write-delete) would force its
    * next cold start back to a full footer pass. Newest-parseable-wins
    * on the read side makes the skipped write harmless. */
  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                           gen: Long, stats: Map[String, FileStat]): Unit =
    try {
      if (sidecarEntries(fs, dir).exists(_._1 > gen)) return
      val p = new Path(dir, s"_graft_stats.$gen")
      val out = fs.create(p, true)
      try out.write(
        ((StatsMagic +: stats.toSeq.sortBy(_._1).map(fileStatToJson))
          :+ s"END ${stats.size}").mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      sidecarEntries(fs, dir).filter(_._1 < gen)
        .foreach { case (_, op) => fs.delete(op, false) }
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  private def keyJson(k: Key): org.json4s.JValue = k match {
    case Left(n) => org.json4s.JObject("n" -> org.json4s.JString(n.toString))
    case Right(s) => org.json4s.JObject("s" -> org.json4s.JString(s))
  }

  private def keyFromJson(j: org.json4s.JValue): Option[Key] = j match {
    case org.json4s.JObject(fields) =>
      val m = fields.toMap
      m.get("n").collect { case org.json4s.JString(v) =>
        Left(BigDecimal(v)): Key }
        .orElse(m.get("s").collect { case org.json4s.JString(v) =>
          Right(v): Key })
    case _ => None
  }

  private def fileStatToJson(e: (String, FileStat)): String = {
    import org.json4s._
    val (name, fsStat) = e
    val cols = JObject(fsStat.cols.toList.sortBy(_._1).map { case (c, st) =>
      c -> JObject(List(
        "mn" -> st.min.map(keyJson).getOrElse(JNull),
        "mx" -> st.max.map(keyJson).getOrElse(JNull),
        "an" -> JBool(st.allNull),
        "nc" -> st.nullCount.map(n => JLong(n): JValue).getOrElse(JNull)))
    })
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(JObject(List(
        "f" -> JString(name), "r" -> JLong(fsStat.rows), "c" -> cols,
        "b" -> JArray(fsStat.bloomCols.toList.sorted.map(JString(_)))))))
  }

  private def fileStatFromJson(line: String): Option[(String, FileStat)] =
    try {
      import org.json4s._
      val o = org.json4s.jackson.JsonMethods.parse(line)
      val m = o.asInstanceOf[JObject].obj.toMap
      val name = m("f").asInstanceOf[JString].s
      val rows = m("r") match {
        case JLong(v) => v
        case JInt(v) => v.toLong
        case _ => return None
      }
      val cols = m("c").asInstanceOf[JObject].obj.map { case (c, cj) =>
        val cm = cj.asInstanceOf[JObject].obj.toMap
        val nc = cm.get("nc").flatMap {
          case JLong(v) => Some(v)
          case JInt(v) => Some(v.toLong)
          case _ => None
        }
        c -> ColStat(cm.get("mn").flatMap(keyFromJson),
          cm.get("mx").flatMap(keyFromJson),
          allNull = cm.get("an").collect { case JBool(b) => b }
            .getOrElse(false),
          nullCount = nc)
      }.toMap
      val blooms = m.get("b") match {
        case Some(JArray(xs)) =>
          xs.collect { case JString(s) => s }.toSet
        case _ => Set.empty[String]
      }
      Some(name -> FileStat(rows, cols, blooms))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** All row groups' column stats of one file, merged per column — one
    * footer read, no data pages touched. Runs on the driver or an
    * executor (returns only serializable keys). */
  private def footerStats(conf: Configuration, p: Path): FileStat = {
    footerOpens.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val perCol = scala.collection.mutable.Map.empty[String, ColStat]
      val withBloom = scala.collection.mutable.Set.empty[String]
      var rows = 0L
      reader.getFooter.getBlocks.forEach { b =>
        rows += b.getRowCount
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (c.getBloomFilterOffset >= 0) withBloom += name
          val st = c.getStatistics
          val nc =
            if (st != null && st.isNumNullsSet) Some(st.getNumNulls)
            else None
          // per-column non-fatal guard: one column's unconvertible
          // stats (an exotic physical type, a stats-decode quirk) must
          // degrade to unknown-stats-for-that-column, not fail the
          // whole file's footer pass
          val cur =
            try {
              if (st == null) ColStat(None, None, allNull = false, nc)
              else if (!st.hasNonNullValue)
                ColStat(None, None,
                  allNull = st.isNumNullsSet && st.getNumNulls == c.getValueCount,
                  nullCount = nc)
              else ColStat(toKey(st.genericGetMin), toKey(st.genericGetMax),
                allNull = false, nullCount = nc)
            } catch { case scala.util.control.NonFatal(_) =>
              ColStat(None, None, allNull = false, nullCount = nc)
            }
          perCol(name) = perCol.get(name).fold(cur)(merge(_, cur))
        }
      }
      FileStat(rows, perCol.toMap, withBloom.toSet)
    } finally reader.close()
  }

  private def merge(a: ColStat, b: ColStat): ColStat = {
    // null counts sum across row groups; one unknown poisons the file
    val nc = for (x <- a.nullCount; y <- b.nullCount) yield x + y
    if (a.allNull && b.allNull) a.copy(nullCount = nc)
    else if (a.allNull) b.copy(nullCount = nc)
    else if (b.allNull) a.copy(nullCount = nc)
    else (a.min, a.max, b.min, b.max) match {
      case (Some(amn), Some(amx), Some(bmn), Some(bmx))
        if sameDomain(amn, bmn) && sameDomain(amx, bmx) =>
        ColStat(Some(if (cmp(amn, bmn) <= 0) amn else bmn),
          Some(if (cmp(amx, bmx) >= 0) amx else bmx), allNull = false,
          nullCount = nc)
      case _ => ColStat(None, None, allNull = false, nullCount = nc)
    }
  }

  // comparable domains: numeric (ints, longs, floats, date→epoch-day,
  // instant→epoch-micros) and UTF-8 string. Anything else → None (keep).
  private def toKey(v: Any): Option[Key] = v match {
    case n: java.lang.Integer => Some(Left(BigDecimal(n.intValue)))
    case n: java.lang.Long => Some(Left(BigDecimal(n.longValue)))
    // ±Infinity/NaN have no BigDecimal form (the wrap THROWS) — treat
    // the stat as unknown so the file is KEPT, never crash the read
    // path of a whole table over one non-finite value in one column
    case n: java.lang.Double =>
      if (java.lang.Double.isFinite(n.doubleValue))
        Some(Left(BigDecimal(n.doubleValue)))
      else None
    case n: java.lang.Float =>
      if (java.lang.Float.isFinite(n.floatValue))
        Some(Left(BigDecimal(n.floatValue.toDouble)))
      else None
    case d: java.time.LocalDate => Some(Left(BigDecimal(d.toEpochDay)))
    case d: java.sql.Date => Some(Left(BigDecimal(d.toLocalDate.toEpochDay)))
    case t: java.time.Instant =>
      Some(Left(BigDecimal(t.getEpochSecond) * 1000000 +
        BigDecimal(t.getNano / 1000)))
    case t: java.sql.Timestamp => // scanned aggregates (java8 API off)
      Some(Left(BigDecimal(t.getTime) * 1000 +
        BigDecimal((t.getNanos / 1000) % 1000)))
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ scan aggregates
      Some(Left(
        BigDecimal(t.toEpochSecond(java.time.ZoneOffset.UTC)) * 1000000 +
          BigDecimal(t.getNano / 1000)))
    case b: Binary => Some(Right(b.toStringUsingUTF8))
    case s: String => Some(Right(s))
    case _ => None
  }

  private def sameDomain(a: Key, b: Key): Boolean = a.isLeft == b.isLeft

  /** The caller's bounds as stat keys, validated against the CATALOG
    * schema's column type — not just against the bound's runtime class.
    * sameDomain alone cannot catch a UNIT mismatch inside the numeric
    * domain: Instant bounds on a DATE column would compare epoch-micros
    * (~1e15) against epoch-day stats (~1e4) and wrongly prune every
    * file, silently breaking the "pruning is conservative" contract.
    * Here the column's logical type dictates which bound classes are
    * comparable at all (raw numerics ↔ numeric columns, LocalDate/Date
    * ↔ DATE, Instant/Timestamp ↔ TIMESTAMP, LocalDateTime ↔
    * TIMESTAMP_NTZ, String ↔ STRING); anything else — including a
    * column absent from the schema — yields None and every file is
    * KEPT, with the exact predicate still applied to the scan. */
  private def boundKeys(schema: StructType,
                        column: String, lo: Any,
                        hi: Any): (Option[Key], Option[Key]) = {
    import org.apache.spark.sql.types._
    val dt = schema.fields.find(_.name == column).map(_.dataType)
    def ok(v: Any): Boolean = (dt, v) match {
      case (Some(_: ByteType | _: ShortType | _: IntegerType |
                 _: LongType | _: FloatType | _: DoubleType |
                 _: DecimalType),
            _: java.lang.Integer | _: java.lang.Long |
            _: java.lang.Double | _: java.lang.Float) => true
      case (Some(_: DateType),
            _: java.time.LocalDate | _: java.sql.Date) => true
      // TIMESTAMP and TIMESTAMP_NTZ both keep epoch-micros stats, and
      // all three bound classes key to epoch-micros (LocalDateTime via
      // the session's pinned-UTC offset) — unit-compatible either way;
      // what this check must reject is the CROSS-UNIT case (Instant on
      // a DATE column, LocalDate on a numeric one)
      case (Some(_: TimestampType | _: TimestampNTZType),
            _: java.time.Instant | _: java.sql.Timestamp |
            _: java.time.LocalDateTime) => true
      case (Some(_: StringType), _: String) => true
      case _ => false
    }
    if (ok(lo) && ok(hi)) (toKey(lo), toKey(hi)) else (None, None)
  }

  private def cmp(a: Key, b: Key): Int = (a, b) match {
    case (Left(x), Left(y)) => x.compare(y)
    // UNSIGNED UTF-8 byte order, matching parquet's string min/max
    // (and Spark's binary string comparisons) — Java's UTF-16
    // String.compareTo disagrees beyond the BMP (a supplementary
    // character's surrogate 0xD800 sorts BELOW U+E000 in UTF-16 but
    // ABOVE it in UTF-8 bytes), and a wrong order here PRUNES a file
    // that holds matching rows
    case (Right(x), Right(y)) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => 0
  }
}
