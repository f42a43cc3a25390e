package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.Locale

import scala.collection.mutable
import scala.util.Random

/** Seeded input generator: the CRZ register (daily XML dumps with
  * corrupt `<zmluva>` elements, legacy pipe-CSV history, companies /
  * resorts / keywords, the `.dic` wordlist, the text corpus with
  * planted keyword hits, extracted-table CSVs) and the corpus-dedup
  * tables (`documents.parquet` + `embeddings.parquet` rows). Every
  * row's expected fate is decided here, so the ground truth is known
  * by construction and never read back from the program under test.
  * The same seed always produces the same files. */
object Gen {

  /** Input sizes — benchmark arguments, never program settings. Every
    * default is an assumption sized to fit a run's time budget; none is
    * derived from the register's publication volume or a real corpus. */
  final case class Sizes(
      dayContracts: Int = 40,   // crz_daily: audited contracts in the timed day's dump
      legacyRows: Int = 2000,   // crz_daily: register-history CSV rows (kernel input)
      // corpus_dedup documents: at 2000 DedupOps' joins are broadcast and
      // shuffle ~0.4 MB; 4000 keeps the shuffle path (~90 MB)
      docs: Int = 4000,
      vecs: Int = 2000,         // corpus_dedup: embeddings
      dim: Int = 128)           // corpus_dedup: embedding width

  // ---------------------------------------------------------------- CRZ

  /** The clean-filter discard reasons, in cascade order, plus `kept`. */
  val Reasons: Seq[String] = Seq("kept", "no_cin", "no_resort",
    "no_attachment", "price_below_min", "date_below_min", "duplicate")

  /** Minimum price the benchmark's clean-filter params use. */
  val MinPrice = "1000"

  /** Expected outcome of one Pipeline.run over one day. */
  final case class CrzTruth(reasons: Map[String, Long], quarantined: Long,
      ranked: Long, rows: Long, textDocs: Long)

  /** One day's Pipeline.run inputs. */
  final case class CrzUnit(name: String, xmlDir: Path, corpusDir: Path,
      tables: Seq[(Path, String, Int)], truth: CrzTruth)

  /** `history` is the register's legacy pipe-CSV: no daily op reads it;
    * it is the column the legacy_attachments kernel is timed over.
    * `day` is the timed day, `warmup` a smaller earlier one. */
  final case class CrzInputs(companies: Path, resorts: Path, keywords: Path,
      dic: Path, history: Path, warmup: CrzUnit, day: CrzUnit)

  private val Resorts = Seq("Ministerstvo financii SR",
    "Ministerstvo vnutra SR", "Ministerstvo zdravotnictva SR",
    "Ministerstvo dopravy SR", "Ministerstvo hospodarstva SR",
    "Ministerstvo kultury SR", "Ministerstvo obrany SR",
    "Ministerstvo spravodlivosti SR", "Ministerstvo zivotneho prostredia SR",
    "Urad vlady SR")

  private val Keywords: Seq[(String, Seq[String])] = Seq(
    "Kvantifikátor" -> Seq("človekodeň", "človekohodina", "mandays"),
    "Pozícia" -> Seq("konzultant", "analytik", "vývojár", "architekt",
      "tester"),
    "Hlavička tabuľky" -> Seq("pozícia", "sadzba", "počet", "jednotka"),
    "Technológia" -> Seq("databáza", "licencia", "cloud", "serverovňa"))

  /** Vocabulary the dictionary knows. */
  private val Known = Seq("zmluva", "o", "dielo", "predmet", "dodávka",
    "a", "implementácia", "informačného", "systému", "vrátane", "služieb",
    "cena", "platobné", "podmienky", "článok", "strany", "objednávateľ",
    "dodávateľ", "termín", "plnenia", "miesto", "rozsah", "prílohy",
    "podpis", "dňa", "zmluvné", "pokuty", "záruka", "mesiacov", "práce",
    "materiál", "spolu", "bez", "dph", "uvedená", "v", "na", "je", "sa",
    "pre", "podľa", "zákona", "ustanovenia", "záverečné", "platnosť",
    "účinnosť", "kontrola", "kvality", "odovzdanie", "prevzatie",
    "faktúra", "splatnosť", "dní", "údržba", "podpora", "prevádzka",
    "projekt", "riadenie", "harmonogram", "dokumentácia")

  /** Domain words outside the dictionary: the OOV mining output. */
  private val Special = Seq("eurofondy", "helpdesk", "refaktoring",
    "middleware", "outsourcing", "hosting", "backend", "frontend",
    "firewall", "datacentrum", "sprintový", "agilný", "kybernetika",
    "interoperabilita", "eidas")

  private val Streets = Seq("Hlavna", "Nizka", "Dlha", "Kratka", "Mostova",
    "Stefanovicova", "Namestie SNP", "Obchodna")
  private val Towns = Seq("Bratislava", "Kosice", "Zilina", "Nitra",
    "Presov", "Trnava", "Martin")

  private final case class Att(attId: String, name: String, file: String,
      size: String, link: String, date: String)

  private final case class Contract(innerId: Long, id: String, nazov: String,
      objednavatel: String, dodavatel: String, dodIco: String,
      published: String, price: String, atts: Seq[Att], fate: String)

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  private def ts(d: LocalDate, r: Random): String =
    f"$d ${8 + r.nextInt(10)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"

  /** Python `str.count` — the semantics the tagging kernel implements. */
  private def strCount(hay: String, kw: String): Long = {
    var i = hay.indexOf(kw)
    var c = 0L
    while (kw.nonEmpty && i >= 0) { c += 1; i = hay.indexOf(kw, i + kw.length) }
    c
  }

  private val allKeywords: Seq[String] =
    Keywords.flatMap(_._2).map(_.toLowerCase(Locale.ROOT)).distinct

  /** Per-seed company registry shared by every unit. */
  private final class Registry(r: Random) {
    val icos: IndexedSeq[String] =
      Iterator.continually(f"${10000000 + r.nextInt(89999999)}%08d")
        .distinct.take(300).toIndexedSeq
    private val used = mutable.Set(icos: _*)
    def unknownIco(): String = {
      var v = f"${10000000 + r.nextInt(89999999)}%08d"
      while (used(v)) v = f"${10000000 + r.nextInt(89999999)}%08d"
      v
    }
    // XML writes ~a third of the ICOs with thousands spaces, as CRZ does
    def shown(ico: String): String =
      if (r.nextInt(3) == 0) s"${ico.take(2)} ${ico.slice(2, 5)} ${ico.drop(5)}"
      else ico
    var nextId = 100000L + r.nextInt(1000) * 1000L
    var nextInner = 900000L + r.nextInt(1000) * 1000L
    var nextAtt = 500000L
  }

  /** Clean-filter outcome weights of the program's own fixture: the 10
    * legacy rows of `fixtures/crz` audit as 3 kept, 1 no_cin, 1
    * no_resort, 2 no_attachment, 1 price_below_min, 1 date_below_min
    * and 1 duplicate (CrzSpec asserts it). That fixture was built to hit
    * every reason, so this is the repository's only labelled mix, not a
    * measured share of the register's traffic. */
  private val FateWeights: Seq[(String, Int)] = Seq("kept" -> 3, "no_cin" -> 1,
    "no_resort" -> 1, "no_attachment" -> 2, "price_below_min" -> 1,
    "date_below_min" -> 1, "duplicate" -> 1)

  /** The fates of `n` audited rows in exactly the fixture's proportions
    * (largest remainder), so every seed sees the same mix. */
  private def fates(n: Int): Seq[String] = {
    val total = FateWeights.map(_._2).sum
    val exact = FateWeights.map { case (f, w) => f -> n.toDouble * w / total }
    val extra = exact.sortBy { case (_, x) => x.floor - x }
      .take(n - exact.map(_._2.floor.toInt).sum).map(_._1).toSet
    exact.flatMap { case (f, x) => Seq.fill(x.floor.toInt + (if (extra(f)) 1 else 0))(f) }
  }

  /** `n` audited contracts in the fixture's mix; the duplicates are later
    * re-publications of kept ones. */
  private def contracts(reg: Registry, r: Random, n: Int)(day: => LocalDate): Seq[Contract] = {
    val (dups, fresh) = fates(n).partition(_ == "duplicate")
    val cs = r.shuffle(fresh).map(f => newContract(reg, r, day, f))
    cs ++ r.shuffle(cs.filter(_.fate == "kept")).take(dups.size).map(republish(reg, r, _))
  }

  private def newContract(reg: Registry, r: Random, day: LocalDate,
      fate: String): Contract = {
    val id = reg.nextId.toString
    reg.nextId += 1
    val inner = reg.nextInner
    reg.nextInner += 1
    val ico = if (fate == "no_cin") reg.unknownIco()
      else reg.icos(r.nextInt(reg.icos.size))
    val buyer = if (fate == "no_resort") s"Obec ${Towns(r.nextInt(Towns.size))} ${r.nextInt(90) + 1}"
      else {
        val res = Resorts(r.nextInt(Resorts.size))
        if (r.nextBoolean()) res else s"$res - odbor ${r.nextInt(20) + 1}"
      }
    val pub = if (fate == "date_below_min")
      LocalDate.of(2009 + r.nextInt(2), 1 + r.nextInt(12), 1 + r.nextInt(28))
    else day
    val price = if (fate == "price_below_min") {
      if (r.nextInt(4) == 0) "" else f"${r.nextInt(999)}%d.${r.nextInt(100)}%02d"
    } else f"${1000 + r.nextInt(500000)}%d.${r.nextInt(100)}%02d"
    val nAtt = if (fate == "no_attachment") 0 else 1 + r.nextInt(3)
    val atts = (0 until nAtt).map { k =>
      val file = s"zmluva_${id}_$k.pdf"
      reg.nextAtt += 1
      // relative links are absolutized by the typing stage (https)
      val link = if (r.nextBoolean()) s"https://www.crz.gov.sk/data/att/$file" else file
      Att(reg.nextAtt.toString, if (k == 0) "Zmluva" else s"Priloha c.$k",
        file, if (r.nextInt(10) == 0) "nan" else (1024 + r.nextInt(900000)).toString,
        link, ts(pub, r))
    }
    val nazov = Seq("Zmluva o dielo", "Kupna zmluva", "Zmluva o poskytovani sluzieb",
      "Licencna zmluva", "Ramcova dohoda", "Najomna zmluva")(r.nextInt(6)) +
      s" c. ${r.nextInt(9000) + 1000}/${pub.getYear}"
    Contract(inner, id, nazov, buyer,
      s"Firma ${r.nextInt(5000)} s.r.o.", reg.shown(ico), ts(pub, r), price,
      atts, fate)
  }

  /** A later re-publication of `c` (same title and ID): the clean
    * filter keeps the earliest and counts this one as a duplicate. */
  private def republish(reg: Registry, r: Random, c: Contract): Contract = {
    val inner = reg.nextInner
    reg.nextInner += 1
    val later = c.published.take(11) + "23:59:" + f"${r.nextInt(60)}%02d"
    c.copy(innerId = inner, published = later, fate = "duplicate")
  }

  private def xmlOf(c: Contract, r: Random): String = {
    val sb = new StringBuilder
    def el(tag: String, v: String): Unit = sb.append(s"    <$tag>$v</$tag>\n")
    sb.append("  <zmluva>\n")
    el("innerId", c.innerId.toString); el("id", c.id)
    el("objednavatel", c.objednavatel); el("dodavatel", c.dodavatel)
    // CRZ titles arrive with stray line breaks; typing normalizes them
    el("nazov", if (r.nextInt(5) == 0) c.nazov.replaceFirst(" ", "\n  ") else c.nazov)
    el("datumUcinnosti", c.published.take(10) + " 00:00:00")
    el("datumPlatnosti", c.published.take(10) + " 00:00:00")
    el("cenaPodpisana", c.price); el("cenaKonecna", c.price)
    el("rezort", c.objednavatel.takeWhile(_ != '-').trim)
    el("datumZverejnenia", c.published)
    el("dodavatelIco", c.dodIco); el("stav", "Platna")
    el("poslednaZmena", c.published)
    el("dodavatelAdresa", s"${Streets(r.nextInt(Streets.size))} ${r.nextInt(99) + 1}, ${Towns(r.nextInt(Towns.size))}")
    el("objednavatelIco", f"00${r.nextInt(999999)}%06d")
    el("objednavatelAdresa", s"${Streets(r.nextInt(Streets.size))} ${r.nextInt(99) + 1}, Bratislava")
    el("typ", "Zmluva"); el("datumPodpisu", c.published.take(10) + " 00:00:00")
    c.atts.foreach { a =>
      sb.append("    <priloha>\n")
      sb.append(s"      <attId>${a.attId}</attId>\n      <name>${a.name}</name>\n")
      sb.append(s"      <filename>${a.file}</filename>\n      <size>${a.size}</size>\n")
      sb.append(s"      <link>${a.link}</link>\n      <date>${a.date}</date>\n")
      sb.append("    </priloha>\n")
    }
    sb.append("  </zmluva>\n")
    sb.toString
  }

  /** A `<zmluva>` whose `<dodavatel>` never closes. The XML reader
    * quarantines it; placed mid-dump it also swallows every element
    * after it, which [[midDumpProbe]] measures. */
  private def corruptXml(reg: Registry): String = {
    reg.nextInner += 1
    s"""  <zmluva>
       |    <innerId>${reg.nextInner}</innerId>
       |    <id>${reg.nextId + 500000}</id>
       |    <objednavatel>Ministerstvo vnutra SR</objednavatel>
       |    <dodavatel>Broken Vendor
       |    <nazov>Poskodeny zaznam</nazov>
       |  </zmluva>
       |""".stripMargin
  }

  private def legacyRow(i: Int, c: Contract): String = {
    def q(s: String) = s"'$s'"
    val atts = c.atts.flatMap { a =>
      Seq(q(a.attId), q(a.name), q(a.file), a.size,
        q(if (a.link.startsWith("http")) a.link
          else s"https://www.crz.gov.sk/data/att/${a.link}"), q(a.date))
    }.mkString("[", ", ", "]")
    Seq(i.toString, c.nazov, c.id, c.innerId.toString, "00151742",
      c.objednavatel, "Stefanovicova 5", c.dodIco, c.dodavatel, "Hlavna 1",
      c.published, c.published.take(10) + " 00:00:00",
      c.published.take(10) + " 00:00:00", c.published.take(10) + " 00:00:00",
      c.published, c.price, c.price, c.objednavatel.takeWhile(_ != '-').trim,
      "Zmluva", "Platna", atts, "[]").mkString("|")
  }

  /** Contract text: known + special vocabulary, an optional subject
    * heading, and (for about half the documents) planted keywords. */
  private def contractText(r: Random, words: Int): String = {
    val w = mutable.ArrayBuffer[String]()
    if (r.nextInt(10) < 6) w ++= Seq("Predmet", "zmluvy:")
    else if (r.nextInt(2) == 0) w ++= Seq("Úvodné", "ustanovenia")
    (0 until words).foreach { _ =>
      val x = r.nextInt(100)
      w += (if (x < 85) Known(r.nextInt(Known.size))
        else Special(r.nextInt(Special.size)))
    }
    if (r.nextBoolean()) (0 until 1 + r.nextInt(4)).foreach { _ =>
      w.insert(r.nextInt(w.size), allKeywords(r.nextInt(allKeywords.size)))
    }
    w.grouped(12).map(_.mkString(" ")).mkString("\n")
  }

  private def tableCsv(r: Random, price: Boolean): String = {
    val positions = Seq("konzultant senior", "analytik", "vývojár",
      "architekt riešenia", "tester", "projektový manažér")
    val rows = (0 until 3 + r.nextInt(6)).map { _ =>
      val p = positions(r.nextInt(positions.size))
      if (price) s"$p|${10 + r.nextInt(90)}|${50 + r.nextInt(150)},${r.nextInt(10)}0 €"
      else s"$p|${Known(r.nextInt(Known.size))} ${Known(r.nextInt(Known.size))}|"
    }
    val header = if (price) "Pozícia|Počet MD|Cena s DPH" else "Pozícia|Popis|Poznámka"
    (header +: rows).mkString("\n") + "\n"
  }

  /** One day's files: the dump, the text corpus and the table CSVs;
    * returns its inputs and truth. */
  private def writeDay(dir: Path, reg: Registry, r: Random, day: LocalDate,
      n: Int, nTables: Int, textWords: Int): CrzUnit = {
    val all = contracts(reg, r, n)(day)
    // every dump ends in one garbled element, the shape of the
    // program's own fixture (see corruptXml for the mid-dump case)
    val corrupt = 1L
    val body = r.shuffle(all).map(xmlOf(_, r)) :+ corruptXml(reg)
    write(dir.resolve(s"xml/dump_$day.xml"), body.mkString("<dump>\n", "", "</dump>\n"))

    // text corpus: one or two files per contract that has attachments
    val byId = all.groupBy(_.id)
    var ranked = 0L
    var textDocs = 0L
    byId.toSeq.sortBy(_._1).foreach { case (id, cs) =>
      if (cs.exists(_.atts.nonEmpty) && r.nextInt(10) < 9) {
        textDocs += 1
        val files = (0 until 1 + r.nextInt(2)).map(k =>
          (s"zmluva_${id}_$k.txt", contractText(r, textWords / 2 + r.nextInt(textWords))))
        files.foreach { case (f, t) => write(dir.resolve(s"text/$id/$f"), t) }
        val joined = files.sortBy(_._1).map(_._2).mkString(" ").toLowerCase(Locale.ROOT)
        val hits = Keywords.flatMap(_._2.distinct)
          .map(k => strCount(joined, k.toLowerCase(Locale.ROOT))).sum
        if (hits > 0 && cs.exists(_.fate == "kept")) ranked += 1
      }
    }
    // extracted tables for contracts that have text
    val withText = byId.keys.toSeq.sorted.filter(id => Files.isDirectory(dir.resolve(s"text/$id")))
    val ids = if (withText.nonEmpty) withText else byId.keys.toSeq.sorted
    val tables = (0 until nTables).map { k =>
      val id = ids(r.nextInt(ids.size))
      val p = dir.resolve(s"tables/$id/table_zmluva_${id}_$k.csv")
      write(p, tableCsv(r, price = r.nextInt(3) > 0))
      (p, id, k)
    }
    val reasons = all.groupBy(_.fate).map { case (k, v) => k -> v.size.toLong }
    CrzUnit(day.toString, dir.resolve("xml"), dir.resolve("text"), tables,
      CrzTruth(Reasons.map(k => k -> reasons.getOrElse(k, 0L)).toMap, corrupt,
        ranked, all.size.toLong + corrupt, textDocs))
  }

  /** A dump of `n` valid contracts with one garbled element after the
    * third: the valid contracts the XML reader returns, subtracted
    * from `n`, is the number a mid-dump corruption loses. */
  def midDumpProbe(dir: Path, seed: Long, n: Int): Path = {
    val r = new Random(seed)
    val reg = new Registry(r)
    val day = LocalDate.of(2021, 3, 1)
    val body = (0 until n).map(_ => xmlOf(newContract(reg, r, day, "kept"), r))
      .patch(3, Seq(corruptXml(reg)), 0)
    write(dir.resolve("dump_probe.xml"), body.mkString("<dump>\n", "", "</dump>\n"))
    dir
  }

  val legacyHeader: String = graft.crz.Schemas.rawCsvColumns.mkString("|")

  private def writeShared(root: Path, reg: Registry, r: Random): (Path, Path, Path, Path) = {
    val companies = root.resolve("companies.csv")
    write(companies, ("|ICO|Nazov|SK_NACE" +: reg.icos.zipWithIndex.map { case (ico, i) =>
      s"$i|${reg.shown(ico)}|Firma $i s.r.o.|${62000 + r.nextInt(100)}"
    }).mkString("\n") + "\n")
    val resorts = root.resolve("resorts.csv")
    write(resorts, ("name" +: Resorts).mkString("\n") + "\n")
    val keywords = root.resolve("keywords.txt")
    write(keywords, Keywords.map { case (c, ks) => (c +: ks).mkString(",") }
      .mkString("\n") + "\n")
    val dic = root.resolve("dictionary/sk.dic")
    val entries = Known.map(w => if (w.endsWith("a") && r.nextBoolean()) s"$w/8" else w)
    write(dic, (entries.size.toString +: entries).mkString("\n") + "\n")
    (companies, resorts, keywords, dic)
  }

  /** The register history as a legacy pipe-CSV of `rows` contracts. */
  private def writeHistory(p: Path, reg: Registry, r: Random, rows: Int): Path = {
    val cs = contracts(reg, r, rows)(
      LocalDate.of(2011 + r.nextInt(10), 1 + r.nextInt(12), 1 + r.nextInt(28)))
    write(p, (legacyHeader +: cs.zipWithIndex.map { case (c, i) => legacyRow(i, c) })
      .mkString("\n") + "\n")
    p
  }

  /** The crz_daily inputs: shared files, the history CSV, an 8-contract
    * warm-up day and the timed day. One table CSV per day and texts of
    * 60–180 words are assumptions; the fixture's texts (7–42 words) and
    * tables (three of 3 rows) are test-sized, not a traffic sample. */
  def crzDaily(root: Path, seed: Long, z: Sizes): CrzInputs = {
    val r = new Random(seed)
    val reg = new Registry(r)
    val (co, re, kw, dic) = writeShared(root, reg, r)
    val history = writeHistory(root.resolve("history/CRZ_DB_legacy.csv"), reg, r, z.legacyRows)
    val warm = writeDay(root.resolve("warmup"), reg, r, LocalDate.of(2021, 3, 19), 8, 1, 120)
    val day = writeDay(root.resolve("day"), reg, r, LocalDate.of(2021, 3, 26),
      z.dayContracts, 1, 120)
    CrzInputs(co, re, kw, dic, history, warm, day)
  }

  // ------------------------------------------------------- corpus dedup

  /** Expected outcome of one corpus_dedup op: quality-gate verdict
    * counts, the planted near-duplicate clusters (doc ids whose
    * lower-cased texts are identical, so any correct MinHash LSH must
    * join them) and the planted semantic groups (vec ids with identical
    * embeddings). */
  final case class DedupTruth(verdicts: Map[String, Long],
      docClusters: Seq[Seq[Long]], vecGroups: Seq[Seq[Long]])

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)

  /** Fixed syllable vocabulary (independent of the seed) with an even
    * letter spread, so ordinary documents clear the diversity gate. */
  private val Syllables: IndexedSeq[String] = for {
    c <- "bcdfghjklmnprstvz".map(_.toString)
    v <- Seq("a", "e", "i", "o", "u", "y")
  } yield c + v
  private val Vocab: IndexedSeq[String] = {
    val r = new Random(7)
    Iterator.continually((0 until 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString)
      .distinct.take(600).toIndexedSeq
  }

  private def words(r: Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(Vocab(r.nextInt(Vocab.size)))

  /** Simpson concentration Σpᵢ² over case-folded [a-z0-9] — used only
    * to keep generated documents clear of the gate's threshold. */
  private def concentration(t: String): Double = {
    val c = new Array[Long](36)
    t.toLowerCase(Locale.ROOT).foreach { ch =>
      if (ch >= 'a' && ch <= 'z') c(ch - 'a') += 1
      else if (ch >= '0' && ch <= '9') c(26 + ch - '0') += 1
    }
    val n = c.sum.toDouble
    if (n == 0) 1.0 else c.map(x => x * x).sum / (n * n)
  }

  private def keepText(r: Random, n: Int): IndexedSeq[String] = {
    var w = words(r, n)
    while (concentration(w.mkString(" ")) > 0.07) w = words(r, n)
    w
  }

  /** A case variant: same lower-cased text, different surface form. */
  private def recase(r: Random, w: IndexedSeq[String]): String =
    w.map(x => r.nextInt(4) match {
      case 0 => x.toUpperCase(Locale.ROOT)
      case 1 => x.capitalize
      case _ => x
    }).mkString(" ")

  private def clusterSize(r: Random): Int = {
    val x = r.nextDouble()
    if (x < 0.6) 2 else if (x < 0.85) 3 + r.nextInt(3) else 6 + r.nextInt(10)
  }

  /** `n` documents: about a fifth in planted near-duplicate clusters
    * (three large boilerplate ones, the rest skewed small), eight
    * drifting chains, a twelfth quality-gate rejects and the rest
    * unique. These shares are assumptions, not measured on a corpus. */
  def dedupDocs(seed: Long, n: Int): (Seq[Doc], Map[String, Long], Seq[Seq[Long]]) = {
    val r = new Random(seed * 31 + 1)
    val texts = mutable.ArrayBuffer[(String, String, Int)]() // text, verdict, cluster
    var cluster = 0
    def planted(members: Seq[String]): Unit = {
      members.foreach(t => texts += ((t, "keep", cluster)))
      cluster += 1
    }
    // boilerplate clusters: a few large ones, below the LSH bucket cap
    (0 until 3).foreach { _ =>
      val base = keepText(r, 150 + r.nextInt(100))
      planted((0 until 40 + r.nextInt(15)).map(_ => recase(r, base)))
    }
    // skewed small clusters; some get near variants (one-word edits)
    // whose recovery is probabilistic and therefore not asserted
    while (texts.size < n * 0.2) {
      val base = keepText(r, 80 + r.nextInt(200))
      planted((0 until clusterSize(r)).map(_ => recase(r, base)))
      if (r.nextInt(3) == 0) (0 until 1 + r.nextInt(2)).foreach { _ =>
        texts += ((base.updated(r.nextInt(base.size), Vocab(r.nextInt(Vocab.size))).mkString(" "), "keep", -1))
      }
    }
    // drifting boilerplate: chains of progressive edits, the shape that
    // needs several connected-components rounds. The rounds follow the
    // longest path from each chain's smallest id, so the chains are of
    // one fixed length and numerous enough that the longest varies
    // little from seed to seed.
    (0 until 8).foreach { _ =>
      var cur = keepText(r, 200 + r.nextInt(100))
      (0 until 16).foreach { _ =>
        texts += ((cur.mkString(" "), "keep", -1))
        (0 until 4).foreach(_ => cur = cur.updated(r.nextInt(cur.size), Vocab(r.nextInt(Vocab.size))))
      }
    }
    // quality-gate rejects, each far from its threshold
    val bad = n / 12
    (0 until bad).foreach { i =>
      i % 3 match {
        case 0 => texts += ((words(r, 3 + r.nextInt(8)).mkString(" "), "too_short", -1))
        case 1 => texts += ((Seq.fill(20 + r.nextInt(30))(Seq("aaaa", "aaab", "baaa")(r.nextInt(3))).mkString(" "), "low_diversity", -1))
        case _ =>
          val w = keepText(r, 20 + r.nextInt(20))
          val digits = w.map(x => x + " " + (0 until x.length * 2).map(_ => ('0' + r.nextInt(10)).toChar).mkString)
          texts += ((digits.mkString(" "), "digit_heavy", -1))
      }
    }
    while (texts.size < n) texts += ((keepText(r, 30 + r.nextInt(250)).mkString(" "), "keep", -1))
    val order = r.shuffle(texts.indices.toIndexedSeq)
    val langs = Seq("sk", "cs", "en", "de", "hu")
    val docs = order.zipWithIndex.map { case (src, id) =>
      val (t, _, _) = texts(src)
      Doc(id.toLong, t, langs(r.nextInt(langs.size)), s"src${r.nextInt(8)}")
    }
    val idOf = order.zipWithIndex.toMap // source index -> doc id
    val verdicts = texts.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val clusters = texts.indices.filter(i => texts(i)._3 >= 0)
      .groupBy(i => texts(i)._3).toSeq.sortBy(_._1)
      .map(_._2.map(i => idOf(i).toLong).sorted)
    (docs, verdicts, clusters)
  }

  /** `n` gaussian embeddings, about a quarter in planted identical groups
    * (three large); the share is an assumption, as in [[dedupDocs]]. */
  def dedupVecs(seed: Long, n: Int, dim: Int): (Seq[Vec], Seq[Seq[Long]]) = {
    val r = new Random(seed * 31 + 2)
    def gauss(): Array[Float] = Array.fill(dim)(r.nextGaussian().toFloat)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var ab, aa, bb = 0.0
      a.indices.foreach { i => ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i) }
      ab / math.sqrt(aa * bb)
    }
    // planted groups must be truly distinct: their centres stay far
    // apart, and no other vector comes near two of them, so a correct
    // semantic dedup at cosine 0.40 can never join two groups
    val centres = mutable.ArrayBuffer[Array[Float]]()
    def far(v: Array[Float], limit: Double) = centres.forall(c => cos(v, c) < limit)
    val vs = mutable.ArrayBuffer[(Array[Float], Int)]()
    // identical-embedding groups (re-renders of one item); a few large
    while (vs.size < n * 0.25) {
      var c = gauss()
      while (!far(c, 0.2)) c = gauss()
      val g = centres.size
      centres += c
      val size = if (g < 3) 25 + r.nextInt(15) else clusterSize(r)
      (0 until size).foreach(_ => vs += ((c, g)))
      // paraphrase-like neighbours, cosine ~0.95, not asserted
      if (r.nextInt(3) == 0) vs += ((c.map(x => x + 0.3f * r.nextGaussian().toFloat), -1))
    }
    while (vs.size < n) {
      val v = gauss()
      if (far(v, 0.25)) vs += ((v, -1))
    }
    val order = r.shuffle(vs.indices.toIndexedSeq)
    val vecs = order.zipWithIndex.map { case (src, id) =>
      Vec(id.toLong, vs(src)._1, vs(src)._2)
    }
    val idOf = order.zipWithIndex.toMap
    val groups = vs.indices.filter(i => vs(i)._2 >= 0).groupBy(i => vs(i)._2)
      .toSeq.sortBy(_._1).map(_._2.map(i => idOf(i).toLong).sorted)
    (vecs, groups)
  }

  // -------------------------------------------------------- truth file

  private def js(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def crzTruthJson(in: CrzInputs): String = {
    val t = in.day.truth
    s"""{"day":${js(in.day.name)},"reasons":{${Reasons.map(k => s"${js(k)}:${t.reasons(k)}").mkString(",")}},""" +
      s""""quarantined":${t.quarantined},"ranked":${t.ranked},"rows":${t.rows},"text_docs":${t.textDocs}}""" + "\n"
  }

  def dedupTruthJson(t: DedupTruth): String = {
    def lists(xs: Seq[Seq[Long]]) = xs.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""{"verdicts":{${t.verdicts.toSeq.sorted.map { case (k, v) => s"${js(k)}:$v" }.mkString(",")}},""" +
      s""""doc_clusters":${lists(t.docClusters)},"vec_groups":${lists(t.vecGroups)}}""" + "\n"
  }

  def writeTruth(p: Path, json: String): Unit = write(p, json)
}
