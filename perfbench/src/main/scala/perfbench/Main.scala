package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Raw measurements of one run. The driver script turns them into the
  * reported metrics; nothing here computes a percentile or a ratio. */
final class Record {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val counters = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  val sources = mutable.ArrayBuffer[Map[String, Any]]()
  /** Values that must repeat exactly for a seed, compared across runs. */
  val expect = mutable.LinkedHashMap[String, Any]()
  var attempted = 0
  var failed = 0

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def add(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  /** Drops what the warm-up recorded. Workload counters have dotted
    * names. */
  def resetForTimedPhase(): Unit = {
    samples.clear()
    counters.keys.filter(_.contains('.')).toSeq.foreach(counters.remove)
  }
}

/** A benchmark workload. Only `op` is timed and traced: staging its
  * inputs and checking its outputs are the benchmark's own Spark work and
  * stay outside the operation's span. */
trait Workload {
  /** Builds the inputs and program state the operations use. */
  def setup(): Unit
  /** Untimed work after set-up, so the timed operations run warm. */
  def warmup(): Unit = ()
  /** Writes the inputs of operation `i`. */
  def stage(i: Int): Unit = ()
  /** Operation `i`: the calls into the program and nothing else. */
  def op(i: Int): Unit
  /** Checks the outputs of operation `i`; throws when a check fails. */
  def verify(i: Int): Unit = ()
  /** Untimed checks over the whole run. */
  def finish(): Unit = ()
}

final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
                val trace: Boolean, val tracer: Tracer, val rec: Record) {
  /** Whether the current operation is traced. */
  var opTraced = false

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"output check failed: $what")

  /** Records a sample; samples of traced operations get an "@traced"
    * suffix, so one run compares traced and untraced operations. */
  def sample(name: String, v: Double): Unit =
    rec.sample(if (opTraced) name + "@traced" else name, v)

  def timed[T](name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    val r = body
    sample(name, Clock.nowMs - t0)
    r
  }
}

/** Runs one workload:
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --root <scratch dir> --out <record.json>
  * Set-up, then the warm-up, then operations until the time is up.
  * `setup_s` runs from the JVM's start to the first timed operation. With
  * tracing on, every other operation is traced, so a run of several
  * operations also measures the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val root = opts("root")
    // one core is left to the driver, JIT and GC threads
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors - 1))
    Files.createDirectories(Paths.get(root))

    val rec = new Record
    rec.info ++= Seq("workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> cores, "seconds" -> seconds)
    val t0 = Clock.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.counters("session_s") = (Clock.nowMs - t0) / 1000.0
    rec.counters("jvm_start_to_session_s") = (Clock.nowMs - startMs) / 1000.0

    val tracer = new Tracer
    val ctx = new Ctx(spark, root, seed, trace, tracer, rec)
    val jobs = new JobListener
    val plans = new PlanListener
    val w: Workload = workload match {
      case "archive_sip" => new ArchiveSip(ctx)
      case "ingest_gate" => new IngestGate(ctx)
      case "curate_batch" => new CurateBatch(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def traced[T](on: Boolean)(body: => T): T =
      if (!on) body
      else {
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(plans)
        tracer.on = true
        try body
        finally {
          tracer.on = false
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(jobs)
          spark.listenerManager.unregister(plans)
        }
      }

    var fatal: Throwable = null
    try {
      val s0 = Clock.nowMs
      w.setup()
      val wu0 = Clock.nowMs
      w.warmup()
      rec.counters("setup_only_s") = (wu0 - s0) / 1000.0
      rec.counters("warmup_s") = (Clock.nowMs - wu0) / 1000.0
      rec.counters("setup_s") = (Clock.nowMs - startMs) / 1000.0
      rec.resetForTimedPhase()

      val deadline = Clock.nowMs + seconds * 1000.0
      var i = 0
      while (Clock.nowMs < deadline) {
        ctx.opTraced = trace && i % 2 == 0
        tracer.runId = i
        rec.attempted += 1
        try {
          w.stage(i)
          val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
          try traced(ctx.opTraced) { ctx.timed("round_ms") { tracer.span("op") { w.op(i) } } }
          finally {
            rec.add("gc_ms", (Jvm.gcMs - gc0).toDouble)
            rec.add("jit_ms", (Jvm.jitMs - jit0).toDouble)
          }
          w.verify(i)
        } catch {
          case e: Exception =>
            rec.failed += 1
            rec.failures += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        i += 1
      }
      ctx.opTraced = false
      rec.counters("timed_s") = (Clock.nowMs - deadline) / 1000.0 + seconds
      rec.counters("heap_live_mb") = Jvm.liveHeapMb(spark.sparkContext)
      rec.counters("trace.callback_ms") = CallbackTime.ms
      w.finish()
    } catch {
      case e: Throwable =>
        fatal = e
        rec.failures += s"fatal: ${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally {
      val out = Map(
        "info" -> rec.info, "attempted" -> rec.attempted, "failed" -> rec.failed,
        "failures" -> rec.failures, "samples" -> rec.samples,
        "counters" -> rec.counters, "sources" -> rec.sources, "expect" -> rec.expect,
        "spans" -> tracer.spans, "jobs" -> jobs.records,
        "phases" -> plans.records)
      Files.write(Paths.get(opts("out")), Json.write(out).getBytes("UTF-8"))
      spark.stop()
    }
    if (fatal != null) {
      fatal.printStackTrace()
      sys.exit(2)
    }
  }
}
