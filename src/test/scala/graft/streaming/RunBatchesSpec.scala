package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.SparkSuite
import graft.sources.Bucketed

/** The one stream driver: a one-shot run's fresh checkpoint never
  * outlives the call — whichever sink drives it, and when the batch
  * body throws — while a caller's persistent checkpoint survives and
  * resumes with only the new source files. */
class RunBatchesSpec extends SparkSuite {
  import spark.implicits._

  private def writeFile(src: String, name: String, mtimeMs: Long,
                        rows: Seq[(Long, String)]): Unit = {
    val stage = tempDir("graft-runbatches-st")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dest = new File(src, name)
    dest.getParentFile.mkdirs()
    Files.copy(part.toPath, dest.toPath)
    assert(dest.setLastModified(mtimeMs))
  }

  /** A fresh base dir whose `src` holds two one-row files, oldest first. */
  private def twoFileBase(): String = {
    val base = tempDir("graft-runbatches").toString
    writeFile(s"$base/src", "f1.parquet", 1000000L,
      Seq((1L, "alpha beta gamma delta")))
    writeFile(s"$base/src", "f2.parquet", 2000000L,
      Seq((2L, "epsilon zeta eta theta")))
    base
  }

  /** Runs `f` and returns the `graft-ckpt-*` checkpoints of the streams
    * it started. Each is found when its stream starts (listeners hear
    * QueryStartedEvent before `start()` returns) by the stream's unique
    * query id, which Spark writes into the checkpoint's `metadata` —
    * so another process's checkpoints can never match. */
  private def freshCheckpointsOf(f: => Unit): Seq[File] = {
    val found = new java.util.concurrent.ConcurrentLinkedQueue[File]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Option(Streaming.scratchBase.toFile.listFiles()).toSeq.flatten
          .filter(d => d.getName.startsWith("graft-ckpt-") && {
            val m = new File(d, "metadata")
            m.isFile && Files.readString(m.toPath).contains(e.id.toString)
          })
          .foreach(found.add)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try f finally spark.streams.removeListener(listener)
    found.asScala.toSeq
  }

  private def assertDeleted(ckpts: Seq[File]): Unit = {
    assert(ckpts.size == 1, s"expected one fresh checkpoint, found $ckpts")
    assert(!ckpts.head.exists(), s"${ckpts.head} outlived its stream")
  }

  test("one-shot streamNovel deletes its fresh checkpoint") {
    val table = "graft_runbatches_idx"
    try {
      graft.text.IncrementalDedup.buildIndex(
        Seq((0L, "iota kappa lambda mu")).toDF("doc_id", "text"), table, 4)
      val base = twoFileBase()
      var kept = Set.empty[Long]
      assertDeleted(freshCheckpointsOf {
        kept = graft.text.IncrementalDedup.streamNovel(
            Streaming.fileStream(spark, s"$base/src",
              maxFilesPerTrigger = Some(1)),
            table, 4, s"$base/out")
          .select("doc_id").as[Long].collect().toSet
      })
      assert(kept == Set(1L, 2L), s"kept $kept")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("runAvailableNow deletes its fresh checkpoint") {
    val src = twoFileBase() + "/src"
    var n = 0L
    assertDeleted(freshCheckpointsOf {
      n = Streaming.runAvailableNow(Streaming.fileStream(spark, src),
        s"runbatches_${System.nanoTime()}", outputMode = "append").count()
    })
    assert(n == 2L)
  }

  test("one-shot mergeStreamIntoBucketed deletes its fresh checkpoint") {
    val table = "graft_runbatches_merge"
    try {
      Bucketed.save(Seq((0L, "seed")).toDF("doc_id", "text"), table,
        Seq("doc_id"), 4)
      val src = twoFileBase() + "/src"
      assertDeleted(freshCheckpointsOf {
        Streaming.mergeStreamIntoBucketed(Streaming.fileStream(spark, src),
          table)
      })
      assert(Bucketed.load(spark, table).select("doc_id").as[Long]
        .collect().toSet == Set(0L, 1L, 2L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a throwing batch body still deletes the fresh checkpoint") {
    val src = twoFileBase() + "/src"
    assertDeleted(freshCheckpointsOf {
      val e = intercept[Exception] {
        Streaming.runBatches(Streaming.fileStream(spark, src), "throws") {
          (_, _) => throw new IllegalStateException("body failed")
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "body failed"), s"unexpected failure $e")
    })
  }

  test("a caller's checkpoint survives and resumes with only new files") {
    val src = twoFileBase() + "/src"
    val ckpt = tempDir("graft-runbatches-ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def run(): Seq[(Long, Long)] = {
      seen.clear()
      assert(freshCheckpointsOf {
        Streaming.runBatches(
          Streaming.fileStream(spark, src, maxFilesPerTrigger = Some(1)),
          "resume", Some(ckpt)) { (batch, id) =>
          batch.select("doc_id").as[Long].collect()
            .foreach(d => seen.add((id, d)))
        }
      }.isEmpty, "a caller's checkpoint must not add a fresh one")
      assert(new File(ckpt, "metadata").isFile, s"$ckpt was deleted")
      seen.asScala.toSeq.sorted
    }
    assert(run() == Seq((0L, 1L), (1L, 2L)))
    writeFile(src, "f3.parquet", 3000000L, Seq((3L, "nu xi omicron pi")))
    assert(run() == Seq((2L, 3L)))
  }
}
