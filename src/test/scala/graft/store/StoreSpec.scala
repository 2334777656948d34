package graft.store

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.functions._

class StoreSpec extends graft.SparkSuite {

  private def filesDF = {
    import spark.implicits._
    Seq(
      ("a/k1.bin", "payload-1".getBytes, Map("source" -> "unit test")),
      ("k2.bin", "payload-2".getBytes, Map.empty[String, String]),
      ("k3.bin", "payload-3".getBytes, Map.empty[String, String]))
      .toDF("key", "content", "metadata")
  }

  test("K5/K6 upload + listing + H2 verify") {
    val root = tempDir("graft-store").toString
    val store = new LocalFsStore(root)
    val (up, skipped) = Store.upload(filesDF, store, spark)
    assert(up == 3 && skipped == 0)
    assert(Files.readString(JPaths.get(root, "a/k1.bin")) == "payload-1")
    // metadata sidecar is URL-encoded (STR9)
    assert(Files.readString(JPaths.get(root, "a/k1.bin.meta"))
      == "source=unit+test")
    val listing = Store.listing(spark, root)
    assert(listing.count() == 3)
    import spark.implicits._
    val manifest = Seq(
      ("a/k1.bin", md5hex("payload-1")), ("k2.bin", "WRONG"),
      ("missing.bin", "x")).toDF("key", "md5hash")
    val v = Store.verifyUploads(manifest, listing).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Boolean]("verified")).toMap
    assert(v == Map("a/k1.bin" -> true, "k2.bin" -> false, "missing.bin" -> false))
  }

  test("F9/J5 onlyIfNew skips existing keys via anti-join") {
    val root = tempDir("graft-store2").toString
    val store = new LocalFsStore(root)
    Store.upload(filesDF.limit(2), store, spark)
    spark.catalog.refreshByPath(root)
    val existing = Store.listing(spark, root)
    val (up, skipped) = Store.upload(filesDF, store, spark,
      onlyIfNew = true, existing = Some(existing))
    assert(up == 1 && skipped == 2)
    // a listing with duplicate keys must not inflate the counts
    spark.catalog.refreshByPath(root)
    val fresh = Store.listing(spark, root)
    val (up2, skipped2) = Store.upload(filesDF, store, spark,
      onlyIfNew = true, existing = Some(fresh.union(fresh)))
    assert(up2 == 0 && skipped2 == 3, s"up=$up2 skipped=$skipped2")
  }

  test("K8 batched delete + verification anti-join") {
    val root = tempDir("graft-store3").toString
    val store = new LocalFsStore(root)
    Store.upload(filesDF, store, spark)
    import spark.implicits._
    val toDelete = Seq("a/k1.bin", "k2.bin", "nonexistent.bin").toDF("key")
    val survivors = Store.deleteByKeys(toDelete, store, spark, root, batchSize = 2)
    assert(survivors.count() == 0)
    spark.catalog.refreshByPath(root)
    assert(Store.listing(spark, root).collect().map(_.getString(0)).toSeq
      == Seq("k3.bin"))
  }

  test("H2 multipart-ETag fallback re-hashes through the store") {
    val root = tempDir("graft-store5").toString
    val store = new LocalFsStore(root)
    Store.upload(filesDF, store, spark)
    import spark.implicits._
    // synthetic listing where k1/k2 carry multipart etags ('-' + part
    // count) that can never equal an md5; k2's manifest hash is wrong so
    // its re-hash must fail; k3 keeps the single-part path
    val listing = Seq(
      ("a/k1.bin", "0123456789abcdef0123456789abcdef-3"),
      ("k2.bin", "0123456789abcdef0123456789abcdef-7"),
      ("k3.bin", md5hex("payload-3"))).toDF("key", "etag")
    val manifest = Seq(
      ("a/k1.bin", md5hex("payload-1")),
      ("k2.bin", "WRONG"),
      ("k3.bin", md5hex("payload-3"))).toDF("key", "md5hash")
    // without a store, multipart rows cannot verify
    val noStore = Store.verifyUploads(manifest, listing).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Boolean]("verified")).toMap
    assert(noStore == Map("a/k1.bin" -> false, "k2.bin" -> false, "k3.bin" -> true))
    // with the store, k1 re-hashes to its true md5 and verifies
    val v = Store.verifyUploads(manifest, listing, Some(store)).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Boolean]("verified")).toMap
    assert(v == Map("a/k1.bin" -> true, "k2.bin" -> false, "k3.bin" -> true))
  }

  test("K8 delete log records Deleted / Errors / NotDeleted") {
    val root = tempDir("graft-store6").toString
    // a store that silently refuses to delete k2.bin, so the post-delete
    // verification listing finds it and the log records it as NotDeleted
    val base = new LocalFsStore(root)
    val store = new ObjectStore {
      override def put(key: String, content: Array[Byte],
                       metadata: Map[String, String]): Unit =
        base.put(key, content, metadata)
      override def delete(keys: Seq[String]): Unit =
        base.delete(keys.filterNot(_ == "k2.bin"))
      override def setAcl(key: String, acl: String): Unit =
        base.setAcl(key, acl)
      override def open(key: String): Option[java.io.InputStream] =
        base.open(key)
    }
    Store.upload(filesDF, store, spark)
    import spark.implicits._
    val log = tempDir("graft-store-log").resolve("delete_log.json").toString
    val toDelete = Seq("a/k1.bin", "k2.bin").toDF("key")
    val survivors = Store.deleteByKeys(toDelete, store, spark, root,
      batchSize = 1, logPath = Some(log))
    assert(survivors.collect().map(_.getString(0)).toSeq == Seq("k2.bin"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = mapper.readTree(Files.readString(JPaths.get(log)))
    import scala.jdk.CollectionConverters._
    assert(parsed.get("Deleted").elements().asScala.map(_.asText).toSeq
      == Seq("a/k1.bin"))
    assert(parsed.get("Errors").size() == 0)
    assert(parsed.get("NotDeleted").elements().asScala.map(_.asText).toSeq
      == Seq("k2.bin"))
  }

  test("K8 delete log: zero requested keys still writes the valid empty log") {
    val root = tempDir("graft-store-empty").toString
    val store = new LocalFsStore(root)
    import spark.implicits._
    val log = tempDir("graft-store-log").resolve("delete_log.json").toString
    // an EMPTY requested set coalesces to zero partitions → no part file;
    // the sink must fall back to the canonical empty log, not abort
    val none = Seq.empty[String].toDF("key")
    val survivors = Store.deleteByKeys(none, store, spark, root,
      logPath = Some(log))
    assert(survivors.count() == 0)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(JPaths.get(log)))
    assert(parsed.get("Deleted").size() == 0)
    assert(parsed.get("Errors").size() == 0)
    assert(parsed.get("NotDeleted").size() == 0)
  }

  test("HadoopFsStore: same flows through the FileSystem API (file:// root)") {
    val root = tempDir("graft-store-hfs").toString
    val store = new HadoopFsStore("file://" + root)
    val (up, skipped) = Store.upload(filesDF, store, spark)
    assert(up == 3 && skipped == 0)
    assert(Files.readString(JPaths.get(root, "a/k1.bin")) == "payload-1")
    assert(Files.readString(JPaths.get(root, "a/k1.bin.meta"))
      == "source=unit+test")
    // open + streaming md5 (the multipart-verify path) work through Hadoop
    assert(store.md5Of("k2.bin").contains(md5hex("payload-2")))
    assert(store.md5Of("missing.bin").isEmpty)
    store.setAcl("k2.bin", "public-read")
    assert(Files.readString(JPaths.get(root, "k2.bin.acl")) == "public-read")
    store.delete(Seq("a/k1.bin"))
    assert(!Files.exists(JPaths.get(root, "a/k1.bin")))
    assert(!Files.exists(JPaths.get(root, "a/k1.bin.meta")))
  }

  test("K9 ACL sidecars") {
    val root = tempDir("graft-store4").toString
    val store = new LocalFsStore(root)
    Store.upload(filesDF.limit(1), store, spark)
    import spark.implicits._
    Store.updateAcls(Seq("a/k1.bin").toDF("key"), store, "public-read")
    assert(Files.readString(JPaths.get(root, "a/k1.bin.acl")) == "public-read")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
}

class GeoSpec extends graft.SparkSuite {
  import graft.functions.Geo

  test("G1 parse RD coordinate string (millimetre input)") {
    assert(Geo.parseRdCoord("X 136669000 Y 451994996")
      == (136669.0, 451994.996))
  }

  test("G2 RD->WGS84 hits known landmarks within ~1m") {
    // OLV tower Amersfoort: RD (155000, 463000) = origin -> lat0/lon0
    val (lat, lon) = Geo.rdToWgs84(155000, 463000)
    assert(math.abs(lat - 52.15517440) < 1e-9)
    assert(math.abs(lon - 5.38720621) < 1e-9)
    // Westertoren Amsterdam: RD (120700.723, 487525.501) -> 52.37453, 4.88353
    val (lat2, lon2) = Geo.rdToWgs84(120700.723, 487525.501)
    assert(math.abs(lat2 - 52.374535) < 2e-5, s"lat2=$lat2")
    assert(math.abs(lon2 - 4.883530) < 2e-5, s"lon2=$lon2")
  }

  test("G3 WKT polygon is a closed 5-point lon-lat ring") {
    val wkt = Geo.wktPolygon((120000, 480000), (121000, 481000))
    assert(wkt.startsWith("POLYGON(("))
    val pts = wkt.stripPrefix("POLYGON((").stripSuffix("))").split(", ")
    assert(pts.length == 5)
    assert(pts.head == pts.last) // closed ring
    val Array(lon, lat) = pts.head.split(" ").map(_.toDouble)
    assert(lon > 4 && lon < 5 && lat > 52 && lat < 53)
  }

  test("Column geo == pure geo") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("X 136669000 Y 451994996", "X 120700723 Y 487525501")
      .toDF("coord")
    val p = Geo.parseRdCoordCol(col("coord"))
    val rows = df.select(col("coord"),
      p("x"), p("y"),
      Geo.latCol(p("x"), p("y")), Geo.lonCol(p("x"), p("y"))).collect()
    rows.foreach { r =>
      val (x, y) = Geo.parseRdCoord(r.getString(0))
      assert(r.getDouble(1) == x && r.getDouble(2) == y)
      val (lat, lon) = Geo.rdToWgs84(x, y)
      assert(r.getDouble(3) == lat, "lat parity")
      assert(r.getDouble(4) == lon, "lon parity")
    }
  }
}

class MultimodalSpec extends graft.SparkSuite {
  import graft.multimodal.Multimodal

  private def mediaDF = {
    import spark.implicits._
    Seq(
      (1L, Array[Byte](0x42, 0x4d, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10)),
      (2L, Array[Byte](-119, 0x50, 0x4e, 0x47, 13, 10, 26, 10, 0, 0)),
      (3L, Array.empty[Byte]))
      .toDF("key", "content")
  }

  test("media metadata: byte length + magic sniff, no decode") {
    val m = Multimodal.mediaMeta(mediaDF).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(m(1L)._1 == 12L)
    assert(m(1L)._2.startsWith("424D")) // BM
    assert(m(2L)._2.startsWith("89504E47")) // PNG
  }

  test("decode stub: deterministic, schema-stable, empty-safe") {
    def run() = Multimodal.decodeImages(mediaDF, featureDim = 8,
        kernel = Multimodal.decodeStub).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Float](4))).toMap
    val d1 = run()
    val d2 = run()
    assert(d1 == d2) // deterministic across runs
    assert(d1(1L)._4.length == 8)
    assert(d1(3L) == ((0, 0, 0, Seq.fill(8)(0f)))) // empty payload
    assert(d1(1L) != d1(2L))
  }

  test("non-square featureDim: no pixel band is discarded (floor grid)") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // all-white image + featureDim 5 → g=floor(sqrt 5)=2: the 4 computed
    // cells all receive pixels (ceil-g would map a band to dropped cells),
    // the 5th stays a structural zero
    val img = new BufferedImage(9, 9, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 9; x <- 0 until 9) img.setRGB(x, y, 0xffffff)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    val (w, h, _, feats) = Multimodal.decodeImage(out.toByteArray, 5)
    assert(w == 9 && h == 9)
    assert(feats.take(4).forall(f => f > 0.99f && f <= 1.0f))
    assert(feats(4) == 0f)
  }

  test("real image decode: javax.imageio dims/channels/luminance grid") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val white = png(20, 10, 0xffffff)
    val black = png(8, 8, 0x000000)
    val df = Seq((1L, white), (2L, black),
      (3L, "not an image at all".getBytes)).toDF("key", "content")
    val d = Multimodal.decodeImages(df, featureDim = 4).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Float](4))).toMap
    assert(d(1L)._1 == 20 && d(1L)._2 == 10 && d(1L)._3 == 3)
    assert(d(1L)._4.forall(f => f > 0.99f && f <= 1.0f)) // all-white grid
    assert(d(2L)._1 == 8 && d(2L)._4.forall(_ == 0f)) // all-black grid
    assert(d(3L) == ((0, 0, 0, Seq.fill(4)(0f)))) // undecodable -> zero
  }

  test("frame sampling explodes strided chunks") {
    import spark.implicits._
    val bytes = Array.tabulate(40000)(_.toByte)
    val df = Seq((7L, bytes)).toDF("key", "content")
    val frames = Multimodal.sampleFrames(df, frameSize = 4096, stride = 2)
      .collect()
    assert(frames.length == 5) // 40000 / 8192 rounded up
    assert(frames.map(_.getInt(1)).toSeq == (0 until 5))
    assert(frames.head.getAs[Array[Byte]](2).length == 4096)
  }

  // synthesize an in-memory WAV: 16-bit signed PCM mono, little-endian
  private def wav(rateHz: Int, seconds: Double,
                  sample: Int => Double): Array[Byte] = {
    import javax.sound.sampled._
    val n = (rateHz * seconds).toInt
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = math.max(-1.0, math.min(1.0, sample(i)))
      val s = math.round(v * 32767).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rateHz.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("real audio decode: WAV PCM rate/frames/RMS envelope") {
    val rate = 8000
    val amp = 0.5
    val sine = wav(rate, 0.5,
      i => amp * math.sin(2 * math.Pi * 440 * i / rate))
    val (r, ch, frames, feats) = Multimodal.decodeAudio(sine, 4)
    assert(r == rate && ch == 1 && frames == 4000)
    // RMS of a sine at amplitude a is a/sqrt(2) ≈ 0.3536 in every bucket
    feats.foreach(f => assert(math.abs(f - amp / math.sqrt(2)) < 0.01,
      s"rms=$f"))
    val silent = wav(rate, 0.25, _ => 0.0)
    val (_, _, fr2, feats2) = Multimodal.decodeAudio(silent, 4)
    assert(fr2 == 2000 && feats2.forall(_ == 0f))
  }

  test("batch audio decode: schema, duration, corrupt-input zero row") {
    import spark.implicits._
    val rate = 8000
    val sine = wav(rate, 0.5, i => 0.8 * math.sin(2 * math.Pi * 220 * i / rate))
    val df = Seq((1L, sine), (2L, "definitely not audio".getBytes),
      (3L, Array.empty[Byte])).toDF("key", "content")
    val d = Multimodal.decodeAudios(df, featureDim = 8).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
          r.getSeq[Float](5))).toMap
    assert(d(1L)._1 == rate && d(1L)._2 == 1)
    assert(d(1L)._3 == 4000 && d(1L)._4 == 500) // 4000 frames @ 8 kHz = 500 ms
    assert(d(1L)._5.length == 8 && d(1L)._5.forall(_ > 0.5f))
    assert(d(2L) == ((0, 0, 0L, 0L, Seq.fill(8)(0f)))) // undecodable
    assert(d(3L) == ((0, 0, 0L, 0L, Seq.fill(8)(0f)))) // empty
  }

  private def pngOf(w: Int, h: Int, lum: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val l = lum(x, y) & 0xff
      img.setRGB(x, y, (l << 16) | (l << 8) | l)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("dHash: uniform image hashes to 0, gradient to all ones, corrupt to None") {
    assert(Multimodal.imageDHash(pngOf(18, 16, (_, _) => 128)) == Some(0L))
    // strictly increasing left-to-right: every cell < its right neighbor
    assert(Multimodal.imageDHash(pngOf(18, 16, (x, _) => x * 10)) == Some(-1L))
    // decode failures are OUT-OF-BAND (None), never a reachable hash
    assert(Multimodal.imageDHash("not an image".getBytes).isEmpty)
    assert(Multimodal.imageDHash(Array.empty[Byte]).isEmpty)
  }

  test("dHash survives rescaling and small edits; distinct images differ") {
    val base = Multimodal.imageDHash(pngOf(32, 32, (x, y) => x * 5 + y * 3)).get
    val scaled = Multimodal.imageDHash(pngOf(64, 64, (x, y) => (x / 2) * 5 + (y / 2) * 3)).get
    val edited = Multimodal.imageDHash(
      pngOf(32, 32, (x, y) => if (x == 0 && y == 0) 200 else x * 5 + y * 3)).get
    val other = Multimodal.imageDHash(pngOf(32, 32, (x, y) => x * 3 + y * 11 + x * y)).get
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(base, scaled) <= 3, s"rescale moved ${ham(base, scaled)} bits")
    assert(ham(base, edited) <= 3, s"edit moved ${ham(base, edited)} bits")
    assert(ham(base, other) > 10, s"distinct images only ${ham(base, other)} apart")
  }

  test("image near-dup pairs: pigeonhole banding finds all planted pairs") {
    import spark.implicits._
    val imgs = (0L until 20L).map { id =>
      val seed = if (id % 10 == 1) id - 1 else id
      val f = (3 + (seed % 13).toInt, 5 + (seed % 11).toInt, 1 + (seed % 7).toInt)
      val tweak = id % 10 == 1
      (id, pngOf(16, 16, (x, y) => {
        val l = Math.floorMod(x * f._1 + y * f._2 + x * y * f._3, 256)
        if (tweak && x == 0 && y == 0) math.min(l + 4, 255) else l
      }))
    }.toDF("key", "content")
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.dHashTable(imgs), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((10L, 11L)),
      s"planted near-dups missing from $pairs")
  }

  test("near-dup excludes decode failures but keeps legit zero hashes") {
    import spark.implicits._
    val imgs = Seq(
      (1L, "corrupt".getBytes),
      (2L, Array.empty[Byte]),
      (3L, pngOf(16, 16, (_, _) => 200)),        // uniform -> dhash 0
      (4L, pngOf(16, 16, (x, y) => x * 5 + y * 3)),
      (5L, pngOf(16, 16, (x, y) => x * 5 + y * 3))) // true dup of 4
      .toDF("key", "content")
    val pairs = Multimodal.imageNearDupPairs(Multimodal.dHashTable(imgs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)),
      s"only the real dup pair should surface, got $pairs")
    // hash 0 is IN-BAND: two identical right-to-left gradients (all
    // bits 0) are genuinely duplicates and must still pair up
    val zeros = Seq(
      (7L, pngOf(16, 16, (x, _) => 255 - x * 15)),
      (8L, pngOf(16, 16, (x, _) => 255 - x * 15)),
      (9L, "corrupt".getBytes)).toDF("key", "content")
    val zp = Multimodal.imageNearDupPairs(Multimodal.dHashTable(zeros))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zp == Set((7L, 8L)), s"zero-hash dups must pair: $zp")
    // brightness guard: a white and a near-black banner share dhash 0
    // (dHash is gradient-only) but must NOT pair — the luma re-check
    // splits them
    val tonal = Seq(
      (20L, pngOf(16, 16, (_, _) => 255)),
      (21L, pngOf(16, 16, (_, _) => 10))).toDF("key", "content")
    assert(Multimodal.imageNearDupPairs(Multimodal.dHashTable(tonal))
      .count() == 0, "tonally different flat images must not pair")
  }

  test("image near-dup: maxBucket cap drops degenerate uniform populations") {
    import spark.implicits._
    // five identical flat banners: every band bucket holds all five,
    // so maxBucket = 4 drops the bucket and no quadratic pair set forms
    val flats = (0L until 5L).map(i => (i, pngOf(16, 16, (_, _) => 128)))
      .toDF("key", "content")
    val hashes = Multimodal.dHashTable(flats)
    assert(Multimodal.imageNearDupPairs(hashes, maxBucket = 4).count() == 0)
    // with a generous cap the 10 exact-dup pairs all surface
    assert(Multimodal.imageNearDupPairs(hashes, maxBucket = 100).count() == 10)
  }

  test("dHash grid has no empty cells for images narrower than the grid") {
    // 4x4 images: cell-range sampling duplicates pixels (nearest
    // neighbor), so no cell is ever empty — opposite gradients must
    // still produce far-apart, nonzero hashes (a pixel-binned grid
    // froze columns 4..7 at lum 0, collapsing small-image hashes)
    val lr = Multimodal.imageDHash(pngOf(4, 4, (x, _) => x * 60)).get
    val cb = Multimodal.imageDHash(pngOf(4, 4, (x, y) => ((x + y) % 2) * 200)).get
    assert(lr != 0L && cb != 0L)
    assert(lr != cb, "distinct small images should hash apart")
  }

  test("image near-dup plan: band equi-join, no cartesian, no pixels shuffled") {
    import spark.implicits._
    val imgs = Seq((1L, pngOf(8, 8, (x, _) => x * 9))).toDF("key", "content")
    val plan = Multimodal.imageNearDupPairs(Multimodal.dHashTable(imgs))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), s"no cross join:\n$plan")
    // pixel bytes stay below the map-only hash: no Exchange/Join line
    // carries the binary column (it appears only in the leaf scan)
    plan.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Join"))
      .foreach(l => assert(!l.contains("content"),
        s"pixel bytes must not cross the join: $l"))
  }
}

class StreamingSpec extends graft.SparkSuite {
  import graft.streaming.Streaming

  test("streaming windowed agg == batch q30 on AvailableNow") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.runAvailableNow(
      Streaming.windowedAgg(Streaming.eventStream(spark, s"$dir/events.parquet")),
      s"t_${System.nanoTime()}")
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("q30_windowed_agg")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("stream-stream correlate join == batch join on AvailableNow") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.runAvailableNow(
        Streaming.correlate(
          Streaming.eventStream(spark, s"$dir/events.parquet"),
          leftType = "view", rightType = "purchase", withinHours = 24),
        s"c_${System.nanoTime()}", outputMode = "append")
      .orderBy("l_event_id", "r_event_id").collect().map(_.toSeq).toSeq
    val batch = Streaming.correlate(
        graft.sources.Tables.events(spark, dir),
        leftType = "view", rightType = "purchase", withinHours = 24)
      .orderBy("l_event_id", "r_event_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-static enrich join == batch join, broadcast, stateless") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val dim = graft.sources.Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("tier", concat(lit("t"), (col("user_id") % 3).cast("string")))
    def pick(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "user_id", "tier")
    val streamed = Streaming.runAvailableNow(
        pick(Streaming.enrich(
          Streaming.eventStream(spark, s"$dir/events.parquet"), dim, "user_id")),
        s"e_${System.nanoTime()}", outputMode = "append")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val batch = pick(Streaming.enrich(
        graft.sources.Tables.events(spark, dir), dim, "user_id"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // plan: broadcast join, no state store
    val plan = pick(Streaming.enrich(
        graft.sources.Tables.events(spark, dir), dim, "user_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("streaming exact dedup keeps the same distinct content set as batch") {
    val path = "/root/testdata/sf0.001/documents.parquet"
    val streamed = Streaming.runAvailableNow(
      Streaming.dedupStream(Streaming.fileStream(spark, path)),
      s"d_${System.nanoTime()}", outputMode = "append")
    val batch = graft.text.Dedup.exact(spark.read.parquet(path))
    // keep-first picks a possibly different representative per duplicate
    // group (arrival vs lowest-id), but the surviving CONTENT set and
    // count must agree
    assert(streamed.count() == batch.count())
    import org.apache.spark.sql.functions.md5
    def hashes(df: org.apache.spark.sql.DataFrame) = df
      .select(md5(graft.text.TextAnalysis.normalizeCol(col("text"))).as("h"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(hashes(streamed) == hashes(batch))
  }

  test("stateful sessionization == batch q31 on AvailableNow") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.runAvailableNow(
      Streaming.sessionize(
        Streaming.eventStream(spark, s"$dir/events.parquet")).toDF(),
      s"s_${System.nanoTime()}", outputMode = "update")
      .select("userId", "nSessions", "maxSessionEvents")
      .orderBy("userId").collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("q31_sessionize")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("incremental sessionization merges O(1) state ACROSS micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val watch = tempDir("graft-sess-mb")
    // two time-ordered files; user 7's first session SPANS the file
    // boundary (events at 0s, 60s | 120s), so a state-overwriting
    // implementation would report maxSessionEvents=1 instead of 3
    def writeFile(name: String, mtimeMs: Long,
                  rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = tempDir("graft-sess-stage")
      rows.toDF("user_id", "ts_us", "event_id")
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(watch.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtimeMs))
    }
    val S = 1000000L // 1 second in µs
    writeFile("f1.parquet", 1000000L, Seq(
      (7L, 0L, 1L), (7L, 60 * S, 2L), (8L, 0L, 3L)))
    writeFile("f2.parquet", 2000000L, Seq(
      (7L, 120 * S, 4L), (7L, 4000 * S, 5L), (8L, 4000 * S, 6L)))
    val schema = spark.read.parquet(s"$watch/f1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // force one batch per file
      .parquet(watch.toString)
    val latest = scala.collection.concurrent.TrieMap[Long, (Long, Long)]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Streaming.sessionize(stream).toDF()
      .writeStream.outputMode("update")
      .option("checkpointLocation", tempDir("graft-sess-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet()
        df.collect().foreach(r =>
          latest(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get() >= 2, s"expected one micro-batch per file, got ${batches.get()}")
    // user 7: session {0,60,120}s (len 3) + session {4000}s → 2 sessions
    // user 8: session {0}s + session {4000}s → 2 sessions, max len 1
    assert(latest(7L) == ((2L, 3L)), s"user7=${latest.get(7L)}")
    assert(latest(8L) == ((2L, 1L)), s"user8=${latest.get(8L)}")
  }

  test("foreachBatch upsert sink: final table independent of batch " +
       "boundaries and arrival order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = tempDir("graft-upsert").toString
    // file f1 (arrives FIRST) holds the NEWER rows for user 1 — a
    // last-writer-wins merge would let f2's older row clobber it
    def write(name: String, mtimeMs: Long,
              rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = tempDir("graft-upsert-st")
      rows.toDF("user_id", "ts_us", "event_id")
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$base/src", name)
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtimeMs))
    }
    val S = 1000000L
    write("f1.parquet", 1000000L, Seq((1L, 50 * S, 10L), (2L, 1 * S, 11L)))
    write("f2.parquet", 2000000L, Seq((1L, 10 * S, 12L), (3L, 5 * S, 13L)))
    // each run merges into its own governed table, created empty
    def run(maxFiles: Option[Int], target: String) = {
      graft.sources.Bucketed.save(spark.read.parquet(s"$base/src").limit(0),
        target, Seq("user_id"), 4)
      graft.streaming.Streaming.mergeStreamIntoBucketed(
        graft.streaming.Streaming.fileStream(spark, s"$base/src", maxFiles),
        target, orderCols = Seq("ts", "event_id"))
      graft.sources.Bucketed.load(spark, target)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    }
    try {
      val perFile = run(Some(1), "graft_upsert_t1") // 2 micro-batches
      val oneShot = run(None, "graft_upsert_t2")    // 1 micro-batch
      val expected = Seq((1L, 10L, 50 * S), (2L, 11L, 1 * S), (3L, 13L, 5 * S))
      assert(perFile == expected, s"per-file run: $perFile")
      assert(oneShot == expected, s"one-shot run: $oneShot")
    } finally Seq("graft_upsert_t1", "graft_upsert_t2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming upsert rewrites only touched buckets; others stay byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.Bucketed
    val table = "graft_bucket_merge"
    val nB = 8
    def mk(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("user_id", "ts_us", "event_id")
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("event_id"))
    def merge(rows: Seq[(Long, Long, Long)]): Unit =
      Bucketed.mergeByKey(spark, table, mk(rows),
        orderCols = Seq("ts", "event_id"))
    // the table's bucket function, replicated: pmod(hash(key), nB)
    def bucketOf(ids: Long*): Set[Int] =
      ids.toDF("user_id").select(pmod(hash(col("user_id")), lit(nB)))
        .collect().map(_.getInt(0)).toSet
    // pick keys known to land in DIFFERENT buckets
    val probe = (1L to 64L).map(i => i -> bucketOf(i).head)
    val (kA, bA) = probe.head
    val (kB, bB) = probe.find(_._2 != bA).get
    val S = 1000000L
    try {
      Bucketed.save(mk(Nil), table, Seq("user_id"), nB)
      merge(Seq((kA, 10 * S, 1L), (kB, 20 * S, 2L)))
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
          .location.toString))
      // data files of every bucket but `except`, by name → MD5
      def snapshot(except: Int): Map[String, String] =
        loc.listFiles().toSeq
          .filter(f => f.getName.startsWith("part-") &&
            !Bucketed.bucketIdOfName(f.getName).contains(except))
          .map { f =>
            val bytes = java.nio.file.Files.readAllBytes(f.toPath)
            f.getName -> java.util.Base64.getEncoder.encodeToString(
              java.security.MessageDigest.getInstance("MD5").digest(bytes))
          }.toMap
      val before = snapshot(except = bB)
      assert(before.nonEmpty, s"expected files outside bucket $bB")
      // batch 2 touches ONLY kB's bucket: newer row for kB, new key in bB
      val kB2 = probe.find(p => p._2 == bB && p._1 != kB)
        .map(_._1).getOrElse(kB)
      merge(Seq((kB, 30 * S, 3L), (kB2, 5 * S, 4L)))
      assert(snapshot(except = bB) == before,
        "files outside the touched bucket must be byte-identical")
      val got = Bucketed.load(spark, table)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val expected = (Seq((kA, 1L, 10 * S), (kB, 3L, 30 * S)) ++
        (if (kB2 != kB) Seq((kB2, 4L, 5 * S)) else Nil)).sortBy(_._1)
      assert(got == expected, s"merged table: $got")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming heavy hitters: MG guarantee holds, state carries across batches") {
    import spark.implicits._
    import graft.streaming.Streaming
    val base = tempDir("graft-hh").toString
    // zipfian-ish fixture split over two files: heavy tokens appear in
    // both, so the cross-batch state carry is load-bearing
    def toks(rep: Seq[(String, Int)]): Seq[String] =
      rep.flatMap { case (t, n) => Seq.fill(n)(t) }
    val half1 = toks(Seq("alpha" -> 60, "beta" -> 30, "gamma" -> 4)) ++
      (0 until 30).map(i => s"raretok_a$i")
    val half2 = toks(Seq("alpha" -> 40, "beta" -> 30, "gamma" -> 4)) ++
      (0 until 30).map(i => s"raretok_b$i")
    def writeFile(name: String, rows: Seq[String]): Unit = {
      val stage = tempDir("graft-hh-st")
      rows.toDF("tok").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$base/src", name)
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dest.toPath)
    }
    writeFile("f1.parquet", half1)
    writeFile("f2.parquet", half2)
    spark.read.parquet(s"$base/src")
      .write.mode("overwrite").parquet(s"$base/all")

    val k = 8
    val out = Streaming.runAvailableNow(
        Streaming.heavyHitterStream(
          Streaming.fileStream(spark, s"$base/all"), k = k, groups = 1).toDF(),
        s"hh_${System.nanoTime()}", outputMode = "update")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val n = out.head._3
    assert(n == half1.size + half2.size)
    assert(out.length <= k, s"state must stay bounded: ${out.length}")
    // every token with true count > n/(k+1) MUST survive (here n=228:
    // half1=124 + half2=104, n/9 ≈ 25.3 — alpha(100), beta(60)
    // qualify), estimate <= truth
    val truth = (half1 ++ half2).groupBy(identity).view.mapValues(_.size.toLong)
    val got = out.map(t => t._1 -> t._2).toMap
    Seq("alpha", "beta").foreach { t =>
      assert(got.contains(t), s"$t (count ${truth(t)}) must survive: $got")
      assert(got(t) <= truth(t), s"$t estimate ${got(t)} > truth ${truth(t)}")
    }

    // two micro-batches (one file each): the guarantee must hold over
    // the UNION — only state carried across batches can know alpha's
    // first-half mass. The memory sink keeps every update; take the
    // final emission (max n_group).
    val out2all = Streaming.runAvailableNow(
        Streaming.heavyHitterStream(
          Streaming.fileStream(spark, s"$base/src", maxFilesPerTrigger = Some(1)),
          k = k, groups = 1).toDF(),
        s"hh2_${System.nanoTime()}", outputMode = "update")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val nFinal = out2all.map(_._3).max
    val out2 = out2all.filter(_._3 == nFinal)
    assert(nFinal == half1.size + half2.size,
      s"final state must cover both batches: $nFinal")
    Seq("alpha", "beta").foreach { t =>
      val est = out2.find(_._1 == t)
      assert(est.isDefined, s"$t must survive the two-batch run: $out2")
      assert(est.get._2 <= truth(t))
    }
  }
}
