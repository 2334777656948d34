package graft.sip

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.etl.DemoCsvFixture

/** A [[RecordingLocalFs]] that also records the stage of each task that
  * creates a `.meta.json` file. */
class StageRecordingLocalFs extends RecordingLocalFs {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val task = TaskContext.get()
    if (task != null && f.getName.endsWith(".meta.json"))
      StageRecordingLocalFs.stages.add(task.stageId())
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object StageRecordingLocalFs {
  val stages: java.util.Set[Int] = ConcurrentHashMap.newKeySet()
}

/** The resource files are rendered and written in one task per core,
  * not in the one task AQE would coalesce a SIP's few hundred KB to:
  * the write costs per file, not per byte. */
class SipParallelWriteSpec extends graft.SparkSuite {

  test("the resource files are written by at least min(defaultParallelism, 28) tasks") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores >= 2, "a one-core session cannot tell one task from many")
    val hc = spark.sparkContext.hadoopConfiguration
    val settings = Seq("fs.file.impl" -> classOf[StageRecordingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = settings.map { case (k, _) => k -> Option(hc.get(k)) }
    val in = tempDir("graft-sipwrite-in")
    DemoCsvFixture.write(in)
    val sip = tempDir("graft-sipwrite").resolve("sip")
    val triples = DemoCsvFixture.run(spark, in)

    val tasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val completed: java.util.Set[Int] = ConcurrentHashMap.newKeySet()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.computeIfAbsent(e.stageId, _ => new AtomicInteger).incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        completed.add(e.stageInfo.stageId)
    }
    StageRecordingLocalFs.stages.clear()
    spark.sparkContext.addSparkListener(listener)
    try {
      settings.foreach { case (k, v) => hc.set(k, v) }
      try Sip.save(spark, triples, sip.toString, timestamp = "2025-01-01T00:00:00Z")
      finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
      val writers = StageRecordingLocalFs.stages.asScala.toSet
      assert(writers.size == 1, s"resource files written by stages $writers")
      // a stage's task-end events reach the listener before its completion
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!completed.contains(writers.head) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(completed.contains(writers.head))
      val n = tasks.get(writers.head).get
      assert(n >= math.min(cores, 28), s"write stage ran $n tasks on $cores cores")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
