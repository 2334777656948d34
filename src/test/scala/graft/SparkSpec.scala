package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM, so suites reuse it). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false") // ICU upper() is ~70x slower + ~100s one-time collator init
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.parquet TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      // same registration path a deployed cluster uses (spark.sql.extensions)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // ~470 tests in one JVM cycle far more codegen fragments than
      // the default 100-entry compiled-class cache holds; repeated
      // plan shapes then re-Janino-compile and re-JIT every time (the
      // Bench r11 telemetry measured the same churn suite-wide)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh `<prefix>…` directory under the JVM temp dir, deleted
    * with its contents after the suite's last test. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.hadoop.fs.FileUtil.fullyDelete(d))
    finally super.afterAll()
}
