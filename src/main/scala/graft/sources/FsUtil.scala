package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

/** One-shot lazy memo holder for per-key caches whose work is real
  * I/O: `ConcurrentHashMap.computeIfAbsent` must only install this
  * cheap holder — running the work inside it would hold the map's bin
  * lock across I/O (blocking unrelated keys that hash to the same
  * bin) and nest the work's own locks under the bin lock. The work
  * runs under the holder's lazy-val lock instead, so concurrent
  * callers of the SAME key share one computation and other keys never
  * wait. Shared by [[Bucketed]]'s snapshot-frame cache and
  * [[FileStats]]' stats cache — one copy, one fix. */
private[sources] final class Memo[A](thunk: () => A) {
  lazy val value: A = thunk()
}

/** Shared Hadoop-FileSystem file plumbing — one implementation of the
  * scheme-agnostic (file://, hdfs://, s3a://) single-file patterns the
  * sinks use, so fixes apply everywhere at once. Every call takes the
  * caller's Hadoop `conf` (the session's
  * `sparkContext.hadoopConfiguration`), so `spark.hadoop.*` settings such
  * as s3a endpoints and credentials reach the file system. */
object FsUtil {

  /** Join a base dir (possibly a URI) and a child name WITHOUT
    * java.nio.Paths — Paths.get collapses the '//' of a scheme. */
  def child(dir: String, name: String): String =
    dir.stripSuffix("/") + "/" + name

  /** Promote the single part file of a Spark text/json write out of its
    * temp directory to `dest`, replacing any existing file, and remove
    * the temp dir. A coalesce(1) over a ZERO-partition DataFrame (empty
    * source relation) writes no part file at all; `emptyFallback`, when
    * given, is written to `dest` in that case instead of aborting — the
    * caller's canonical empty-document shape. */
  def promotePartFile(conf: Configuration, tmpDir: String, dest: String,
                      emptyFallback: Option[String] = None): Unit = {
    val fs = new HPath(tmpDir).getFileSystem(conf)
    // a zero-partition plan still yields a part file, but a ZERO-BYTE one
    // (FileFormatWriter's empty-RDD special case runs one task with an
    // empty iterator) — for sinks whose minimum valid document is
    // non-empty ("[]", the empty delete log) that is the empty case too
    val part = fs.listStatus(new HPath(tmpDir))
      .filter(_.getPath.getName.startsWith("part-"))
      .find(st => emptyFallback.isEmpty || st.getLen > 0)
      .map(_.getPath)
    (part, emptyFallback) match {
      case (Some(p), _) =>
        val destPath = new HPath(dest)
        Option(destPath.getParent).foreach(fs.mkdirs)
        fs.delete(destPath, false)
        fs.rename(p, destPath)
      case (None, Some(fallback)) => writeString(conf, dest, fallback)
      case (None, None) => sys.error(s"no part file written under $tmpDir")
    }
    fs.delete(new HPath(tmpDir), true)
  }

  /** Driver-side small-file write through the FileSystem API (the
    * scheme-agnostic replacement for java.nio Files.writeString). */
  def writeString(conf: Configuration, path: String, content: String): Unit = {
    val p = new HPath(path)
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
}
