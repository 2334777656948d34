package graft.manifest

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.functions._

class ManifestSpec extends graft.SparkSuite {

  /** Snapshot a DataFrame into driver rows — immune to file mutation and
    * to refreshByPath cache invalidation (tests mutate the tree). */
  private def materialize(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def mkTree(): String = {
    val dir = tempDir("graft-manifest").toString
    Files.createDirectories(JPaths.get(s"$dir/sub"))
    Files.writeString(JPaths.get(s"$dir/a.txt"), "hello world")
    Files.writeString(JPaths.get(s"$dir/sub/b.meta.json"), """{"x":1}""")
    Files.writeString(JPaths.get(s"$dir/c.tar.gz"), "binary-ish")
    dir
  }

  test("S6 scan: relative paths, sizes, md5, extensions") {
    val dir = mkTree()
    val rows = Manifest.scanDirectory(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getString(4)))
      .toMap
    assert(rows.keySet == Set("a.txt", "sub/b.meta.json", "c.tar.gz"))
    assert(rows("a.txt")._1 ==
      java.security.MessageDigest.getInstance("MD5")
        .digest("hello world".getBytes).map("%02x".format(_)).mkString)
    assert(rows("a.txt")._2 == 11L)
    assert(rows("a.txt")._3 == ".txt")
    assert(rows("sub/b.meta.json")._3 == ".meta.json")
    assert(rows("c.tar.gz")._3 == ".tar.gz")
  }

  test("F13 ignore list filters the manifest file itself") {
    val dir = mkTree()
    val kept = Manifest.scanDirectory(spark, dir, ignore = Seq("a.txt"))
      .select("path").collect().map(_.getString(0)).toSet
    assert(kept == Set("sub/b.meta.json", "c.tar.gz"))
  }

  test("T3 reconcile: ok / mismatch / missing / extra") {
    val dir = mkTree()
    // snapshot before mutating the tree — a lazy plan would re-read
    val manifest = materialize(Manifest.scanDirectory(spark, dir))
    // mutate the tree: change a.txt, delete c.tar.gz, add d.txt
    Files.writeString(JPaths.get(s"$dir/a.txt"), "changed!")
    Files.delete(JPaths.get(s"$dir/c.tar.gz"))
    Files.writeString(JPaths.get(s"$dir/d.txt"), "new file")
    spark.catalog.refreshByPath(dir) // drop the session's file-listing cache
    val scan = Manifest.scanDirectory(spark, dir)
    val status = Manifest.reconcile(manifest, scan).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(status == Map(
      "a.txt" -> "mismatch",
      "sub/b.meta.json" -> "ok",
      "c.tar.gz" -> "missing",
      "d.txt" -> "extra"))
  }

  test("J4 diff returns new-or-changed entries only") {
    val dir = mkTree()
    val ref = materialize(Manifest.scanDirectory(spark, dir))
    Files.writeString(JPaths.get(s"$dir/a.txt"), "changed!")
    Files.writeString(JPaths.get(s"$dir/d.txt"), "new file")
    spark.catalog.refreshByPath(dir)
    val cur = Manifest.scanDirectory(spark, dir)
    val changed = Manifest.diff(cur, ref).select("path").collect()
      .map(_.getString(0)).toSet
    assert(changed == Set("a.txt", "d.txt"))
  }

  test("K3/S7 JSON save/load round-trip") {
    val dir = mkTree()
    val manifest = Manifest.scanDirectory(spark, dir)
    val out = tempDir("graft-mjson").toString + "/m.json"
    Manifest.saveJson(manifest, out)
    val loaded = Manifest.loadJson(spark, out)
    val a = manifest.select("path", "md5hash", "size").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val b = loaded.select("path", "md5hash", "size").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b)
    // on-disk entry keys are the reference's format (manifest.py:30-43),
    // so a reference-tooling user can read our manifests
    val raw = Files.readString(java.nio.file.Paths.get(out))
    Seq("MD5Hash", "MD5HashDate", "FileSize", "LastModified", "FileExtension")
      .foreach(k => assert(raw.contains("\"" + k + "\""), s"missing $k"))
    assert(!raw.contains("\"md5hash\"") && !raw.contains("\"size\""))
  }

  test("F7 date-threshold filter keeps nulls and newer entries") {
    import spark.implicits._
    val df = Seq(
      ("a", "2023-01-01T00:00:00"), ("b", "2024-06-15T12:00:00"),
      ("c", null)).toDF("path", "modified")
    val kept = Manifest.modifiedSince(df, "2024-01-01T00:00:00")
      .select("path").collect().map(_.getString(0)).toSet
    assert(kept == Set("b", "c"))
  }
}
