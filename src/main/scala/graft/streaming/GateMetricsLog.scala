package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One novelty-gate batch's counts: rows in, rows kept, and the
  * distinct rows dropped for an index match and for an in-batch match.
  * Counted BEFORE the kept rows' postings are appended, so the
  * index-hit count reflects the index the batch was judged against
  * (counting lazily after the append would see the batch's own kept
  * postings). */
private[graft] final case class GateMetrics(nIn: Long, nKept: Long,
                                            nIndexHits: Long,
                                            nBatchHits: Long)

/** Bounded-file-count log for the novel-gates' per-batch metrics
  * ([[graft.text.IncrementalDedup.streamNovel]] /
  * [[graft.sim.IncrementalAnn.streamNovel]]). One tiny metrics row per
  * micro-batch is the observability a run-forever gate wants, but a
  * dir-per-batch layout grows O(batches) directories — the same
  * small-file pathology the index side solves with
  * [[graft.sources.Bucketed.compactBuckets]]. This log mirrors that
  * contract at metrics scale:
  *
  *   - [[write]] lands batch `id`'s row in its own `b<id>` dir,
  *     OVERWRITTEN on foreachBatch's at-least-once replay (a flat
  *     append would duplicate the row);
  *   - [[compact]] periodically folds everything visible into ONE
  *     generation dir `g<id>`, then deletes the folded inputs —
  *     visible-first, so a crash mid-fold leaves duplicate rows,
  *     never missing ones (the Bucketed swap doctrine);
  *   - [[read]] reconciles whatever generations exist by deduplicating
  *     on the batch id (metric rows are deterministic per batch, so
  *     any survivor is THE row).
  *
  * Dir names are deliberately NOT `batch=<id>` partition syntax: the
  * batch id is an ordinary data column, and partition-style names
  * would make the folded generation's mixed ids unreadable. The whole
  * log is single-writer by construction — foreachBatch runs batches
  * serially. */
private[graft] object GateMetricsLog {

  private val Batch = "^b(\\d+)$".r
  private val Gen = "^g(\\d+)$".r

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def clear(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).delete(new Path(dir), true)

  /** Write batch `id`'s metrics row (overwrite — replay-idempotent). */
  def write(spark: SparkSession, dir: String, id: Long,
            m: GateMetrics): Unit = {
    import spark.implicits._
    Seq((id, m.nIn, m.nKept, m.nIndexHits, m.nBatchHits))
      .toDF("batch", "n_in", "n_kept", "n_index_hits", "n_batch_hits")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b$id")
  }

  /** Fold the per-batch dirs (ids ≤ `id`) and all OLDER generations
    * into generation `g<id>`, then delete the folded inputs.
    * Write-once, never refold: a COMPLETE generation (its `_SUCCESS`
    * committed) is the canonical copy and is never read-and-
    * overwritten — an overwrite that folds a partial input set on
    * replay would silently shrink it (re-running the fold after a
    * crash mid-delete sees only the surviving inputs). So a replayed
    * fold at the same `id` skips straight to the delete phase, and a
    * TORN generation (dir without `_SUCCESS`, crash mid-write) is
    * discarded and refolded — safe because inputs are only deleted
    * AFTER the generation commits (the Bucketed visible-first swap
    * doctrine: every crash window leaves duplicates, never loss). */
  def compact(spark: SparkSession, dir: String, id: Long): Unit = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) return
    val gen = new Path(root, s"g$id")
    val genComplete = f.exists(new Path(gen, "_SUCCESS"))
    if (!genComplete && f.exists(gen)) f.delete(gen, true)
    val inputs = f.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName match {
        case Batch(b) => b.toLong <= id
        case Gen(g) => g.toLong < id
        case _ => false
      })
    if (!genComplete) {
      if (inputs.isEmpty) return
      spark.read.parquet(inputs.map(_.toString): _*)
        .dropDuplicates("batch")
        .orderBy("batch")
        .coalesce(1).write.parquet(gen.toString)
    }
    // the generation is complete before any input goes; a crash in
    // this loop leaves duplicates that read() reconciles and the next
    // fold (or this one, replayed) removes
    inputs.foreach(p => f.delete(p, true))
  }

  private val schema = org.apache.spark.sql.types.StructType(
    Seq("batch", "n_in", "n_kept", "n_index_hits", "n_batch_hits")
      .map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.LongType)))

  /** All metric rows, one per batch id, whatever mix of per-batch dirs
    * and generations is on disk. Only COMMITTED entries (dirs whose
    * `_SUCCESS` landed) are read: a torn dir from a crash mid-write
    * holds partial parquet, and a missing dir or one holding only torn
    * entries reads as ZERO rows, not an error — this is the
    * observability reader for the crash windows; failing loudly right
    * after the crash it exists to diagnose would be useless. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    val committed =
      if (!f.exists(root)) Seq.empty
      else f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(p => (p.getName match {
          case Batch(_) | Gen(_) => true
          case _ => false
        }) && f.exists(new Path(p, "_SUCCESS")))
    if (committed.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.parquet(committed.map(_.toString): _*)
        .dropDuplicates("batch")
  }

  /** Number of entries (dirs) under the log — the boundedness the spec
    * pins: ≤ compactEvery per-batch dirs + 1 generation. */
  def entryCount(spark: SparkSession, dir: String): Int =
    fs(spark, dir).listStatus(new Path(dir)).count(_.isDirectory)
}
