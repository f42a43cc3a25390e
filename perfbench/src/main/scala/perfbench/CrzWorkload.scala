package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crz._

/** crz_daily: one `Pipeline.run` over one day (no legacy CSV), every
  * output materialized and the three sinks written. Caches are never
  * cleared between ops, as in a long-lived daily job. */
final class CrzWorkload(root: Path, in: Gen.CrzInputs) extends Workload {

  private val kws = TablesPipeline.Keywords(
    position = Seq("konzultant", "analytik", "vývojár", "architekt", "tester"),
    header = Seq("pozícia", "sadzba", "cena", "počet", "jednotka"),
    priceHeader = Seq("Cena", "DPH", "€"))

  def items: Long = in.day.truth.rows
  def retainsCaches: Boolean = true

  private def cfg(u: Gen.CrzUnit) = Pipeline.Config(
    xmlDir = u.xmlDir.toString,
    legacyCsv = None,
    companiesCsv = in.companies.toString,
    resortsCsv = in.resorts.toString,
    keywordsTxt = in.keywords.toString,
    corpusDir = u.corpusDir.toString,
    dictionaryDic = in.dic.toString,
    params = CleanFilter.Params(minPrice = new java.math.BigDecimal(Gen.MinPrice)),
    tables = Some(Pipeline.TablesConfig(
      u.tables.map { case (p, id, n) => (p.toString, id, n) }, kws)))

  private def outputs(o: Pipeline.Outputs): Seq[(String, DataFrame)] =
    Seq("contracts" -> o.contracts, "quarantined" -> o.quarantined,
      "clean" -> o.clean, "audit" -> o.audit, "tagged" -> o.tagged,
      "ranked" -> o.ranked, "subjects" -> o.subjects,
      "minedWords" -> o.minedWords) ++
      o.tables.toSeq.flatMap(t => Seq("relevantTables" -> t.relevantTables,
        "columnStats" -> t.columnStats, "tableGate" -> t.tableGate,
        "cleanedCells" -> t.cleanedCells,
        "suggestedKeywords" -> t.suggestedKeywords))

  private def sinkDir(u: Gen.CrzUnit): Path = root.resolve(s"sinks/${u.name}")

  private def writeSinks(o: Pipeline.Outputs, dir: Path): Unit = {
    Sources.writePipeCsv(o.clean.drop("prilohy", "dodatky"), dir.resolve("clean").toString)
    Sources.writeDictionary(o.minedWords, "word", "n", dir.resolve("special_dict").toString)
    o.tables.foreach(t => Sources.writeSuggestedKeywords(t.suggestedKeywords,
      "word", "weight", dir.resolve("suggested_keywords").toString))
  }

  private def check(u: Gen.CrzUnit, d: Seq[(String, Long, Long)],
      audit: Map[String, Long]): Seq[String] = {
    val t = u.truth
    val rows = d.map(x => x._1 -> x._2).toMap
    val want = t.reasons.filter(_._2 > 0)
    Seq(
      (audit != want) -> s"audit $audit != expected $want",
      (rows("quarantined") != t.quarantined) ->
        s"quarantined ${rows("quarantined")} != expected ${t.quarantined}",
      (rows("contracts") != t.rows - t.quarantined) ->
        s"contracts ${rows("contracts")} != expected ${t.rows - t.quarantined}",
      (rows("ranked") != t.ranked) -> s"ranked ${rows("ranked")} != expected ${t.ranked}",
      (rows("subjects") != t.textDocs) ->
        s"subjects ${rows("subjects")} != expected ${t.textDocs}")
      .collect { case (true, msg) => s"${u.name}: $msg" }
  }

  private def readAudit(o: Pipeline.Outputs): Map[String, Long] =
    o.audit.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def warm(s: SparkSession): Unit = {
    val u = in.warmup
    Sources.readContractsXml(s, u.xmlDir.toString)._1.count()
    Sources.readTextCorpus(s, u.corpusDir.toString)
      .select(sum(call_function("count_occurrences", col("text"), lit("zmluva")))).collect()
    s.catalog.clearCache()
  }

  def warmOp(s: SparkSession): Unit = untracedOp(s, in.warmup)

  private def untracedOp(s: SparkSession, u: Gen.CrzUnit): OpResult = {
    val o = Pipeline.run(s, cfg(u))
    val d = Digest.named(outputs(o))
    val audit = readAudit(o)
    writeSinks(o, sinkDir(u))
    OpResult(d, check(u, d, audit))
  }

  def op(s: SparkSession, tracer: Option[Tracer]): OpResult = {
    val u = in.day
    tracer match {
      case None => untracedOp(s, u)
      case Some(t) =>
        val c = cfg(u)
        val o = Pipeline.run(s, c)
        // each layer's output is materialized in pipeline order; the
        // cached upstream frames substitute into the downstream plans,
        // so a span charges only its own layer
        val src = t.span("crz.Sources") {
          val contracts = o.contracts.cache()
          val n = contracts.count()
          val q = o.quarantined.cache().count()
          val corpus = Sources.readTextCorpus(s, c.corpusDir).cache()
          corpus.count()
          Pipeline.loadKeywords(s, c.keywordsTxt).cache().count()
          Dictionary.loadDic(s, c.dictionaryDic).cache().count()
          s.read.option("sep", "|").option("header", "true").csv(c.companiesCsv).cache().count()
          s.read.option("header", "true").csv(c.resortsCsv).cache().count()
          val cells = c.tables.map(_.tables.map { case (p, id, k) =>
            TablesPipeline.readTableCsv(s, p, id, k) }.reduce(_ unionByName _).cache())
          val nCells = cells.map(_.count()).getOrElse(0L)
          (n, q, corpus, cells, nCells)
        }
        val (nContracts, nQuar, corpus, cells, nCells) = src
        val nClean = t.span("crz.CleanFilter") {
          o.audit.cache().count()
          o.clean.cache().count()
        }
        t.span("crz.Tagging") { o.tagged.cache().count(); o.ranked.cache().count() }
        t.span("crz.Subject") { o.subjects.cache().count() }
        val nWords = t.span("crz.Dictionary") { o.minedWords.cache().count() }
        val kept = t.span("crz.TablesPipeline") {
          o.tables.map { tb =>
            Seq(tb.relevantTables, tb.columnStats, tb.tableGate,
              tb.suggestedKeywords).foreach(_.cache().count())
            tb.cleanedCells.cache().count()
          }.getOrElse(0L)
        }
        val sinkPath = sinkDir(u)
        t.span("crz.sinks") { writeSinks(o, sinkPath) }
        val (d, audit) = t.span("bench.check") { (Digest.named(outputs(o)), readAudit(o)) }
        val hits = o.tagged.agg(coalesce(sum(col("hits")), lit(0L))).head().getLong(0)
        val tokens = Dictionary.tokenize(corpus).count()
        val dataCells = cells.map(_.where(col("row_idx") > 0).count()).getOrElse(0L)
        val counts = Map(
          "crz.Sources.rows_out" -> (nContracts + nQuar).toDouble,
          "crz.Sources.quarantined" -> nQuar.toDouble,
          "crz.CleanFilter.kept" -> nClean.toDouble,
          "crz.Tagging.hits_out" -> hits.toDouble,
          "crz.Dictionary.tokens_in" -> tokens.toDouble,
          "crz.Dictionary.words_out" -> nWords.toDouble,
          "crz.TablesPipeline.cells_in" -> nCells.toDouble,
          "crz.TablesPipeline.data_cells" -> dataCells.toDouble,
          "crz.TablesPipeline.cells_kept" -> kept.toDouble,
          "crz.sinks.bytes_written" -> bytesUnder(sinkPath).toDouble)
        s.catalog.clearCache()
        OpResult(d, check(u, d, audit), counts)
    }
  }

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def copyTo(dst: Path): Workload = {
    val src = in.companies.getParent
    copyTree(src, dst)
    def re(p: Path) = dst.resolve(src.relativize(p))
    def reU(u: Gen.CrzUnit) = u.copy(xmlDir = re(u.xmlDir), corpusDir = re(u.corpusDir),
      tables = u.tables.map { case (p, id, n) => (re(p), id, n) })
    new CrzWorkload(root, Gen.CrzInputs(re(in.companies), re(in.resorts),
      re(in.keywords), re(in.dic), re(in.history), reU(in.warmup), reU(in.day)))
  }

  def counters(s: SparkSession): Map[String, Double] = {
    val n = 12
    val dir = Gen.midDumpProbe(root.resolve("mid-dump-probe"), seed = 0L, n)
    val kept = Sources.readContractsXml(s, dir.toString)._1.count()
    Map("crz.Sources.mid_dump_lost_rows" -> (n - kept).toDouble)
  }

  def kernels(s: SparkSession): Map[String, Double] = {
    // the tagging kernel's own column: the day's corpus text
    val text = Sources.readTextCorpus(s, in.day.corpusDir.toString)
      .select(lower(col("text")).as("t"))
    val co = Kernels.rowsPerSec(text, "count_occurrences(t, 'konzultant')", 200000)
    val legacy = Kernels.rowsPerSec(
      Sources.readPipeCsv(s, in.history.toString).select(col("Prilohy").as("p")),
      "legacy_attachments(p)", 400000)
    Map("functions.count_occurrences.rows_per_s" -> co,
      "functions.legacy_attachments.rows_per_s" -> legacy)
  }

  def layers(t: Tracer, c: Map[String, Double]): Map[String, Double] = {
    def busy(n: String) = t.named(n).map(_.seconds).sum
    def shuffle(n: String) = t.countsUnder(Set(n)).shuffleWriteBytes / 1e6
    def share(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val rows = c("crz.Sources.rows_out")
    val quar = c("crz.Sources.quarantined")
    Map(
      "crz.Sources.rows_out" -> rows,
      "crz.Sources.quarantined_share" -> share(quar, rows),
      "crz.Sources.mid_dump_lost_rows" -> c("crz.Sources.mid_dump_lost_rows"),
      "crz.CleanFilter.kept_share" -> share(c("crz.CleanFilter.kept"), rows - quar),
      "crz.Tagging.hits_out" -> c("crz.Tagging.hits_out"),
      "crz.Dictionary.tokens_in" -> c("crz.Dictionary.tokens_in"),
      "crz.Dictionary.words_out" -> c("crz.Dictionary.words_out"),
      "crz.TablesPipeline.cells_in" -> c("crz.TablesPipeline.cells_in"),
      "crz.TablesPipeline.cells_kept_share" ->
        share(c("crz.TablesPipeline.cells_kept"), c("crz.TablesPipeline.data_cells")),
      "crz.sinks.bytes_written" -> c("crz.sinks.bytes_written"),
      "crz.Sources.busy_s" -> busy("crz.Sources"),
      "crz.Sources.bytes_read" -> t.countsUnder(Set("crz.Sources")).bytesRead.toDouble,
      "crz.CleanFilter.busy_s" -> busy("crz.CleanFilter"),
      "crz.CleanFilter.shuffle_mb" -> shuffle("crz.CleanFilter"),
      "crz.Tagging.busy_s" -> busy("crz.Tagging"),
      "crz.Tagging.shuffle_mb" -> shuffle("crz.Tagging"),
      "crz.Subject.busy_s" -> busy("crz.Subject"),
      "crz.Dictionary.busy_s" -> busy("crz.Dictionary"),
      "crz.Dictionary.shuffle_mb" -> shuffle("crz.Dictionary"),
      "crz.TablesPipeline.busy_s" -> busy("crz.TablesPipeline"),
      "crz.sinks.write_s" -> busy("crz.sinks")) ++ t.jobsOf(CrzWorkload.Layers)
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
}

object CrzWorkload {
  /** The traced layers, in pipeline order. */
  val Layers: Seq[String] = Seq("crz.Sources", "crz.CleanFilter", "crz.Tagging",
    "crz.Subject", "crz.Dictionary", "crz.TablesPipeline", "crz.sinks")
}
