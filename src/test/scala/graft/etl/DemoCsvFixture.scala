package graft.etl

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The synthetic FIXTURES.md-schema archive the E1 and SIP specs share:
  * 12 rows in 3 series of 4, plus one droid Folder row with an empty
  * SIZE. */
object DemoCsvFixture {

  /** Writes `metadata.csv` and `droid.csv` into `dir`. */
  def write(dir: Path): Unit = {
    val header = ("Plaats;Doos-nummer;Inventarisnummer;Volgnummer;Serie;" +
      "Datering;Volgordenummer;Titel;Beschrijving voorkant;Bijzonderheden;" +
      "Plaats 1;Plaats 2;Plaats 3;Schaal;Coördinaat - Linksonder;" +
      "Coördinaat Rechtsboven;Breedte (cm);Hoogte (cm);Soort;Betrokkene type;" +
      "Auteursrecht;Fotograaf naam;Gemeentenaam;Gemeente identificatie;Kleurtype")
    val rows = (1 to 12).map { i =>
      val serie = (i - 1) / 4 + 1 // 3 series of 4
      val bijz = if (i % 3 == 0) "needs review" else ""
      val plaats2 = if (i % 2 == 0) "Odijk" else ""
      Seq("Utrecht", s"1984-$serie", i, i, serie, f"1984-${(i % 12) + 1}%02d-15",
        "", s"Luchtfoto $i", s"Beschrijving $i", bijz,
        "Bunnik", plaats2, "", "1:2000",
        s"X ${136000000 + i * 1000} Y ${451000000 + i * 1000}",
        s"X ${137000000 + i * 1000} Y ${452000000 + i * 1000}",
        18, 18, "luchtfoto", "fotograaf", "publiek", "Aviodrome",
        "Bunnik", "0312", "zwartwit").mkString(";")
    }
    Files.writeString(dir.resolve("metadata.csv"), (header +: rows).mkString("\n"))
    val droidHeader = "ID,PARENT_ID,URI,FILE_PATH,NAME,METHOD,STATUS,SIZE," +
      "TYPE,EXT,LAST_MODIFIED,EXTENSION_MISMATCH,MD5_HASH,FORMAT_COUNT," +
      "PUID,MIME_TYPE,FORMAT_NAME,FORMAT_VERSION"
    val droidRows = (1 to 12).map { i =>
      val name = s"1984_0${(i - 1) / 4 + 1}_" + f"$i%03d" + ".jpg"
      s"$i,0,file:/x/$name,/x/$name,$name,Signature,Done,${i * 1000}," +
        s"File,jpg,2024-01-01T00:00:00,false,${"ab" * 16},1,fmt/43,image/jpeg,JPEG,1.01"
    } :+ "99,0,file:/x/dir,/x/dir,somedir,,Done,,Folder,,2024-01-01T00:00:00,false,,0,,,," // empty-SIZE folder row
    Files.writeString(dir.resolve("droid.csv"), (droidHeader +: droidRows).mkString("\n"))
  }

  /** The (vocabulary, term, uri) snapshot every fixture term resolves in. */
  private def vocab(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("soort", "luchtfoto", "https://data.razu.nl/id/soort/luchtfoto"),
      ("plaats", "Bunnik", "https://data.razu.nl/id/plaats/bunnik"),
      ("plaats", "Odijk", "https://data.razu.nl/id/plaats/odijk"),
      ("kleurtype", "zwartwit", "https://data.razu.nl/id/kleur/zwartwit"),
      ("actor", "Aviodrome", "https://data.razu.nl/id/actor/aviodrome"))
      .toDF("vocabulary", "term", "uri")
  }

  /** `DemoCsv.run` over the fixture written into `dir`. */
  def run(spark: SparkSession, dir: Path): DataFrame =
    DemoCsv.run(spark, s"$dir/metadata.csv", s"$dir/droid.csv", vocab(spark))
}
