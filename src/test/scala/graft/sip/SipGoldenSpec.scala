package graft.sip

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.etl.DemoCsvFixture
import graft.rdf.io.Turtle

/** Pins the bytes of the archive job (csv2rdf → SIP → Turtle) on the
  * 12-row fixture: the MD5 of every resource file, the eventlog and the
  * Turtle part file, and the manifest with its `LastModified` values
  * (file times) blanked. */
class SipGoldenSpec extends graft.SparkSuite {

  private def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  private def md5(p: Path): String = md5(Files.readAllBytes(p))

  /** Visible regular files directly under `dir`, by name. */
  private def visible(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** File name → MD5; the Turtle part file is keyed `graph.ttl`. */
  private val expected = Map(
    "NL-WbDRAZU-G0321-661-1.meta.json" -> "4a0ae955a29146279ba524c9a747d785",
    "NL-WbDRAZU-G0321-661-10.meta.json" -> "18f25cbe373ee6d0f50aa2f747aa384f",
    "NL-WbDRAZU-G0321-661-11.meta.json" -> "cf1c36f25f8bb0c3d1f5e0e201968828",
    "NL-WbDRAZU-G0321-661-12.meta.json" -> "678ada86814249f24162094b7b2c278f",
    "NL-WbDRAZU-G0321-661-13.meta.json" -> "03718c5ae6da792ee211bd871cd0583c",
    "NL-WbDRAZU-G0321-661-14.meta.json" -> "542acbcab80688e19b148b1cb367dc20",
    "NL-WbDRAZU-G0321-661-15.meta.json" -> "f9155efd9210d95155616c4722752a9a",
    "NL-WbDRAZU-G0321-661-16.meta.json" -> "65e7c72019c659b7f3e9d4876d588625",
    "NL-WbDRAZU-G0321-661-17.meta.json" -> "aaa5ce94965727935b512a787aad6891",
    "NL-WbDRAZU-G0321-661-18.meta.json" -> "d0bffa960b21681f64edce4ac34a8764",
    "NL-WbDRAZU-G0321-661-19.meta.json" -> "c85ff4110148b8d013b3f25c4c037bbe",
    "NL-WbDRAZU-G0321-661-2.meta.json" -> "47bdf04d0938faa14203c2f1883e9854",
    "NL-WbDRAZU-G0321-661-20.meta.json" -> "13f85afc06fde74af3aa8e2e7d1e3cf3",
    "NL-WbDRAZU-G0321-661-21.meta.json" -> "6e5de6e6c264f4f90eea237d347bcf78",
    "NL-WbDRAZU-G0321-661-22.meta.json" -> "292a7ec4303c3fd02554ed77a2ecfeaf",
    "NL-WbDRAZU-G0321-661-23.meta.json" -> "a1a7231e17c736200ceb6bf007013cb5",
    "NL-WbDRAZU-G0321-661-24.meta.json" -> "824d616c540da0d47ebc9cf41622a06b",
    "NL-WbDRAZU-G0321-661-25.meta.json" -> "c066705e2f5c41f368161e1c5690c2bd",
    "NL-WbDRAZU-G0321-661-26.meta.json" -> "030a0f39d5bb3200e8fd1e5c8a7b7699",
    "NL-WbDRAZU-G0321-661-27.meta.json" -> "5b96ef367aede9c660e019e5329fa0e8",
    "NL-WbDRAZU-G0321-661-28.meta.json" -> "062d4b8b6664b154c5c8688b8c9d4e76",
    "NL-WbDRAZU-G0321-661-3.meta.json" -> "07211787d63df372a3553d5b48022f48",
    "NL-WbDRAZU-G0321-661-4.meta.json" -> "713684e1ca0018d0eee3f30eb619f8af",
    "NL-WbDRAZU-G0321-661-5.meta.json" -> "6d42ec988c78f26b4229d65f2483334b",
    "NL-WbDRAZU-G0321-661-6.meta.json" -> "6bc148e6746ae0c696c13870c374d87e",
    "NL-WbDRAZU-G0321-661-7.meta.json" -> "5742fd45628b34aea2eb5034877ae169",
    "NL-WbDRAZU-G0321-661-8.meta.json" -> "87bd58edd14e61f4355615bf332a6b4f",
    "NL-WbDRAZU-G0321-661-9.meta.json" -> "619264cff0b62e0e23e2dab96bb6bda7",
    "NL-WbDRAZU-G0321-661.eventlog.json" -> "f35ffd30103853ce17201b0b1a739208",
    "NL-WbDRAZU-G0321-661.manifest.json" -> "d77919876d77a8144304b57e2981e9c6",
    "graph.ttl" -> "896f5604caf6a0304a6c5187297ddb77")

  test("SIP and Turtle bytes are pinned on the fixture archive") {
    val in = tempDir("graft-golden-in")
    DemoCsvFixture.write(in)
    val out = tempDir("graft-golden-out")
    val sip = out.resolve("sip")
    val ids = graft.ids.Identifiers.default
    val triples = DemoCsvFixture.run(spark, in)
    Sip.save(spark, triples, sip.toString, ids, timestamp = "2025-01-01T00:00:00Z")
    Turtle.write(triples, out.resolve("graph.ttl").toString)

    val files = visible(sip).map(p => p.getFileName.toString -> p).toMap
    val manifest = Files.readString(files(ids.manifestFilename))
      .replaceAll("\"LastModified\":\"[^\"]*\"", "\"LastModified\":\"\"")
    val parts = visible(out.resolve("graph.ttl"))
    assert(parts.size == 1)
    val actual = (files - ids.manifestFilename).map { case (n, p) => n -> md5(p) } +
      (ids.manifestFilename -> md5(manifest.getBytes("UTF-8"))) +
      ("graph.ttl" -> md5(parts.head))
    assert(actual == expected, "\nactual digests:\n" + actual.toSeq.sorted
      .map { case (n, d) => s"""    "$n" -> "$d",""" }.mkString("\n"))
  }
}
