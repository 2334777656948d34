package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. The same seed gives byte-identical inputs;
  * the program only ever sees the files these write. */
object Gen {

  // ---- archival CSV (FIXTURES.md §1, §2) ---------------------------------

  private val places = Seq("Bunnik", "Odijk", "Houten", "Zeist", "Utrecht",
    "Vianen", "Wijk bij Duurstede", "Amerongen", "Maarn", "Doorn")
  private val actors = Seq("Aviodrome", "KLM Aerocarto", "Fotodienst Utrecht",
    "Luchtfoto Nederland", "Het Utrechts Archief")
  private val soorten = Seq("luchtfoto", "kaart")
  private val kleuren = Seq("zwartwit", "kleur")

  private def slug(s: String) = s.toLowerCase.replaceAll("[^a-z0-9]+", "-")

  /** Vocabulary snapshot, (vocabulary, term, uri). */
  def vocabCsv: String = {
    val rows = soorten.map(t => ("soort", t)) ++ places.map(t => ("plaats", t)) ++
      kleuren.map(t => ("kleurtype", t)) ++ actors.map(t => ("actor", t))
    ("vocabulary,term,uri" +: rows.map { case (v, t) =>
      s"$v,$t,https://data.razu.nl/id/$v/${slug(t)}"
    }).mkString("", "\n", "\n")
  }

  final case class Archive(metadata: String, droid: String, records: Int,
                           series: Int)

  /** `records` metadata rows in series of 5..60 rows, each with a DROID
    * row, plus DROID's empty-SIZE Folder row. About 10% of the
    * vocabulary cells name a term the snapshot does not hold, and
    * `Plaats 2` is filled in about 40% of the rows. */
  def archive(seed: Long, records: Int): Archive = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def term(xs: Seq[String]): String =
      if (rnd.nextInt(10) == 0) s"Onbekend ${rnd.nextInt(1000)}" else pick(xs)
    val header = Seq("Plaats", "Doos-nummer", "Inventarisnummer", "Volgnummer",
      "Serie", "Datering", "Volgordenummer", "Titel", "Beschrijving voorkant",
      "Bijzonderheden", "Plaats 1", "Plaats 2", "Plaats 3", "Schaal",
      "Coördinaat - Linksonder", "Coördinaat Rechtsboven", "Breedte (cm)",
      "Hoogte (cm)", "Soort", "Betrokkene type", "Auteursrecht",
      "Fotograaf naam", "Gemeentenaam", "Gemeente identificatie", "Kleurtype")
      .mkString(";")
    val droidHeader = "ID,PARENT_ID,URI,FILE_PATH,NAME,METHOD,STATUS,SIZE," +
      "TYPE,EXT,LAST_MODIFIED,EXTENSION_MISMATCH,MD5_HASH,FORMAT_COUNT," +
      "PUID,MIME_TYPE,FORMAT_NAME,FORMAT_VERSION"
    val meta = new StringBuilder(header).append('\n')
    val droid = new StringBuilder(droidHeader).append('\n')
    var serie = 0
    var left = 0
    (0 until records).foreach { i =>
      if (left == 0) { serie += 1; left = 5 + rnd.nextInt(56) }
      left -= 1
      val box = i / 100
      val year = 1960 + box / 20
      val boxNo = box % 20 + 1
      val volg = i % 100 + 1
      val name = f"${year}_$boxNo%02d_$volg%03d.jpg"
      val place = term(places)
      val date =
        if (rnd.nextInt(30) == 0) ""
        else f"$year-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
      val x = 130000000 + rnd.nextInt(20000) * 1000
      val y = 440000000 + rnd.nextInt(20000) * 1000
      meta.append(Seq("Utrecht", s"$year-$boxNo", i + 1, volg, serie, date, "",
        s"Luchtfoto ${i + 1} $place",
        s"Gezicht op $place, richting 't Goy",
        if (rnd.nextInt(4) == 0) "needs review" else "",
        place, if (rnd.nextInt(10) < 4) term(places) else "", "",
        "1:" + pick(Seq(2000, 5000, 10000)),
        s"X $x Y $y", s"X ${x + 1000000} Y ${y + 1000000}",
        18 + rnd.nextInt(12), 18 + rnd.nextInt(12), term(soorten),
        "fotograaf", "publiek", term(actors), place, "0312", term(kleuren))
        .mkString(";")).append('\n')
      val md5 = (0 until 16).map(_ => f"${rnd.nextInt(256)}%02x").mkString
      droid.append(s"${i + 1},0,file:/x/$name,/x/$name,$name,Signature,Done," +
        s"${10000 + rnd.nextInt(5000000)},File,jpg,2024-01-01T00:00:00,false," +
        s"$md5,1,fmt/43,image/jpeg,JPEG,1.01").append('\n')
    }
    droid.append(s"${records + 1},0,file:/x/dir,/x/dir,somedir,,Done,,Folder,," +
      "2024-01-01T00:00:00,false,,0,,,,").append('\n')
    Archive(meta.toString, droid.toString, records, serie)
  }

  // ---- documents ---------------------------------------------------------

  /** 8,000 pseudo-words of six letters: no language's marker word, so the
    * stopwords alone decide a document's language. */
  private val words: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ru", "te", "za", "po", "vi", "ne",
      "su", "da", "fo", "gi", "ho", "ju", "ly", "mo", "ni", "pe", "qu")
    for (a <- syl; b <- syl; c <- syl) yield a + b + c
  }
  private val enStop = IndexedSeq("the", "and", "of", "to", "is", "in", "a",
    "for", "with", "on", "that", "as")
  private val nlStop = IndexedSeq("de", "het", "een", "van", "en", "op", "te")

  /** One document of `n` content words with stopwords and punctuation in
    * between, as a word array (punctuation attached). */
  def docWords(rnd: Random, n: Int, nl: Boolean = false): Array[String] = {
    val stop = if (nl) nlStop else enStop
    val out = Array.newBuilder[String]
    (1 to n).foreach { i =>
      out += stop(rnd.nextInt(stop.size))
      val w = words(rnd.nextInt(words.size))
      out += (if (i % 8 == 0) w + "." else if (i % 3 == 0) w + "," else w)
    }
    out.result()
  }

  /** The same document with `k` content words replaced. */
  def nearCopy(rnd: Random, ws: Array[String], k: Int): Array[String] = {
    val c = ws.clone()
    (1 to k).foreach { _ =>
      val pos = 2 * rnd.nextInt(c.length / 2) + 1
      c(pos) = words(rnd.nextInt(words.size))
    }
    c
  }

  def text(ws: Array[String]): String = ws.mkString(" ")

  final case class Doc(id: Long, text: String)

  /** Index corpus for the gate: `n` distinct English documents. */
  def gateCorpus(seed: Long, n: Int): IndexedSeq[Array[String]] = {
    val rnd = new Random(seed * 31 + 1)
    IndexedSeq.fill(n)(docWords(rnd, 30))
  }

  /** One gate micro-batch of `size` docs with ids from `firstId`: 5%
    * exact copies of index docs, 5% exact copies of earlier docs of the
    * batch, 5% near copies of index docs, the rest novel. Returns the docs
    * and the ids of the planted exact copies (none may be kept). */
  def gateBatch(seed: Long, batch: Int, size: Int, firstId: Long,
                corpus: IndexedSeq[Array[String]]): (Seq[Doc], Set[Long]) = {
    val rnd = new Random(seed * 1000003L + batch)
    val docs = mutable.ArrayBuffer[Doc]()
    val planted = mutable.Set[Long]()
    (0 until size).foreach { j =>
      val id = firstId + j
      val r = rnd.nextInt(20)
      val t =
        if (r == 0) { planted += id; text(corpus(rnd.nextInt(corpus.size))) }
        else if (r == 1 && docs.nonEmpty) {
          planted += id; docs(rnd.nextInt(docs.size)).text
        }
        else if (r == 2) text(nearCopy(rnd, corpus(rnd.nextInt(corpus.size)), 2))
        else text(docWords(rnd, 30))
      docs += Doc(id, t)
    }
    (docs.toSeq, planted.toSet)
  }

  /** Probe lookup of 5 docs: 2 exact copies of index docs, 3 novel. */
  def probeDocs(seed: Long, lookup: Int, firstId: Long,
                corpus: IndexedSeq[Array[String]]): Seq[Doc] = {
    val rnd = new Random(seed * 7919L + lookup)
    (0 until 5).map { j =>
      val t = if (j < 2) text(corpus(rnd.nextInt(corpus.size))) else text(docWords(rnd, 30))
      Doc(firstId + j, t)
    }
  }

  /** Curation corpus: `n` docs, 10% Dutch, 5% exact and 5% near copies of
    * earlier docs, the rest novel English; plus an eval set of `nEval`
    * docs, half of them copies of corpus docs (contamination). */
  def curationCorpus(seed: Long, n: Int, nEval: Int): (Seq[Doc], Seq[Doc]) = {
    val rnd = new Random(seed * 104729L + 3)
    val ws = mutable.ArrayBuffer[Array[String]]()
    (0 until n).foreach { i =>
      val r = rnd.nextInt(20)
      ws += (
        if (r < 2) docWords(rnd, 30, nl = true)
        else if (r == 2 && i > 0) ws(rnd.nextInt(i))
        else if (r == 3 && i > 0) nearCopy(rnd, ws(rnd.nextInt(i)), 2)
        else docWords(rnd, 30))
    }
    val docs = ws.indices.map(i => Doc(i.toLong, text(ws(i))))
    val eval = (0 until nEval).map { j =>
      val t = if (j % 2 == 0) text(ws(rnd.nextInt(n))) else text(docWords(rnd, 30))
      Doc(10000000L + j, t)
    }
    (docs, eval)
  }

  // ---- vectors -----------------------------------------------------------

  /** `n` vectors of `dim` floats around 32 seeded cluster centres. */
  def vectors(seed: Long, n: Int, dim: Int, firstId: Long = 0L,
              salt: Int = 0): Seq[(Long, Array[Float])] = {
    val centres = {
      val r = new Random(seed * 15485863L)
      Array.fill(32, dim)(r.nextGaussian().toFloat)
    }
    val rnd = new Random(seed * 32452843L + salt)
    (0 until n).map { i =>
      val c = centres(rnd.nextInt(centres.length))
      (firstId + i, Array.tabulate(dim)(d => c(d) + 0.6f * rnd.nextGaussian().toFloat))
    }
  }

  def writeString(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(UTF_8))
  }

}
