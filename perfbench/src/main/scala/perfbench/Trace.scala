package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * scale as Spark's listener event timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans around the benchmark's calls into the program's modules. Kept in
  * memory and written out with the run record. A span is recorded only
  * while `on` is set, so untraced operations pay one volatile read. */
final class Tracer {
  @volatile var on = false
  var runId = 0
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer[Map[String, Any]]()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        stack = stack.tail
        spans += Map("id" -> id, "name" -> name, "parent" -> parent,
          "start" -> start, "end" -> end, "run" -> runId)
      }
    }
}

/** Time spent inside the tracing listeners' callbacks, the work tracing
  * adds to Spark's listener bus. */
object CallbackTime {
  private val nanos = new java.util.concurrent.atomic.AtomicLong
  def apply[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally nanos.addAndGet(System.nanoTime() - t0)
  }
  def ms: Double = nanos.get / 1e6
}

/** Per-job intervals and task totals. Tasks are summed into the job that
  * submitted their stage, so only one record per job is kept. */
final class JobListener extends SparkListener {
  private final class Job(val id: Int, val start: Long) {
    var end = -1L
    var ok = true
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = CallbackTime { synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }}

  override def onJobEnd(e: SparkListenerJobEnd): Unit = CallbackTime { synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }}

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = CallbackTime { synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }}

  def records: Seq[Map[String, Any]] = synchronized {
    jobs.values.filter(_.end >= 0).map { j =>
      Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "ok" -> j.ok,
        "tasks" -> j.tasks, "task_ms" -> j.taskMs,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes)
    }.toSeq
  }
}

/** Analysis, optimization and planning phases of every query execution
  * that reports to the session's listener manager. */
final class PlanListener extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer[Map[String, Any]]()
  private val wanted = Set("analysis", "optimization", "planning")

  private def record(qe: QueryExecution): Unit = CallbackTime { synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      if (wanted(name))
        phases += Map("phase" -> name, "start" -> p.startTimeMs, "end" -> p.endTimeMs)
    }
  }}

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def records: Seq[Map[String, Any]] = synchronized(phases.toSeq)
}

/** Progress of every micro-batch that read input. */
final class ProgressListener extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches += Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "batch_ms" -> p.batchDuration, "durations" -> d)
    }
  }

  def records: Seq[Map[String, Any]] = synchronized(batches.toSeq)
  def count: Int = synchronized(batches.size)
}

/** JVM counters: live heap, and cumulative GC and JIT time. */
object Jvm {
  /** Heap in use after a full collection, in MB. Spark frees the blocks,
    * shuffles and broadcasts of collected datasets on its cleaner thread
    * after a collection, so a second collection follows once it is done. */
  def liveHeapMb(sc: org.apache.spark.SparkContext): Double = {
    System.gc()
    Thread.sleep(500)
    org.apache.spark.PerfbenchBus.drain(sc)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}
