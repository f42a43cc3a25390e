package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{CorpusOps, DedupOps, SimilarityOps}

/** corpus_dedup: per op, `CorpusOps.qualityGate` →
  * `DedupOps.dedupClusters` → `SimilarityOps.semanticDedup` over one
  * generated `documents.parquet` + `embeddings.parquet` directory. */
final class DedupWorkload(dir: Path, warmDir: Path, truth: Gen.DedupTruth,
    docs: Long, vecs: Long) extends Workload {

  def items: Long = docs
  def retainsCaches: Boolean = false

  private def run(s: SparkSession, d: String) = (
    CorpusOps.qualityGate(s, d).collect(),
    DedupOps.dedupClusters(s, d).select("doc_id", "canonical_id").collect(),
    SimilarityOps.semanticDedup(s, d).select("vec_id", "group_id", "keeper_id").collect())

  def warm(s: SparkSession): Unit = {
    val d = warmDir.toString
    Tables.documents(s, d).selectExpr("sum(hash(minhash_sig(lower(text))))",
      "sum(alnum_sq_stats(text)[0])").collect()
    Tables.embeddings(s, d)
      .selectExpr("sum(vec_dot_d(transform(embedding, x -> CAST(x AS DOUBLE)), " +
        "transform(embedding, x -> CAST(x AS DOUBLE))))").collect()
  }

  def warmOp(s: SparkSession): Unit = run(s, warmDir.toString)

  /** Every planted cluster lands in one output group, and no two
    * planted clusters share a group. */
  private def recovered(what: String, planted: Seq[Seq[Long]],
      label: Map[Long, Long]): Seq[String] = {
    val labels = planted.map(_.map(label.get).distinct)
    val split = labels.zip(planted).collect {
      case (ls, ids) if ls.size != 1 || ls.head.isEmpty =>
        s"$what ${ids.take(4).mkString(",")}… not recovered as one group"
    }
    val heads = labels.filter(_.size == 1).flatMap(_.head)
    val merged = heads.size - heads.distinct.size
    split ++ (if (merged > 0) Seq(s"$merged planted $what merged into another") else Nil)
  }

  private def digest(rows: Array[Row]): Long =
    rows.map(r => r.toSeq.map(String.valueOf).mkString("|").hashCode.toLong).sum

  def op(s: SparkSession, tracer: Option[Tracer]): OpResult = {
    val d = dir.toString
    val (gate, clusters, sem) = tracer match {
      case None => run(s, d)
      case Some(t) =>
        // materialized sources substitute into each op's plan
        t.span("graft.Tables") {
          Tables.documents(s, d).cache().count()
          Tables.embeddings(s, d).cache().count()
        }
        val g = t.span("ops.CorpusOps") { CorpusOps.qualityGate(s, d).collect() }
        val c = t.span("ops.DedupOps") {
          DedupOps.dedupClusters(s, d).select("doc_id", "canonical_id").collect()
        }
        val m = t.span("ops.SimilarityOps") {
          SimilarityOps.semanticDedup(s, d).select("vec_id", "group_id", "keeper_id").collect()
        }
        s.catalog.clearCache()
        (g, c, m)
    }
    val verdicts = gate.map(r => r.getString(0) -> r.getLong(1)).toMap
    val problems =
      (if (verdicts != truth.verdicts) Seq(s"verdicts $verdicts != expected ${truth.verdicts}") else Nil) ++
        recovered("doc cluster", truth.docClusters,
          clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap) ++
        recovered("vec group", truth.vecGroups,
          sem.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val digests = Seq(("qualityGate", gate.length.toLong, digest(gate)),
      ("dedupClusters", clusters.length.toLong, digest(clusters)),
      ("semanticDedup", sem.length.toLong, digest(sem)))
    val keepers = sem.map(_.getLong(2)).distinct.length
    OpResult(digests, problems, Map(
      "ops.CorpusOps.kept" -> verdicts.getOrElse("keep", 0L).toDouble,
      "ops.SimilarityOps.dropped" -> (sem.length - keepers).toDouble))
  }

  def copyTo(root: Path): Workload = {
    Seq("documents.parquet", "embeddings.parquet").foreach { t =>
      val src = dir.resolve(t)
      Files.walk(src).forEach { p =>
        val q = root.resolve(t).resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    }
    new DedupWorkload(root, warmDir, truth, docs, vecs)
  }

  def counters(s: SparkSession): Map[String, Double] = {
    val d = dir.toString
    val pairs = DedupOps.minhashLsh(s, d)
      .agg(count(lit(1)), sum(when(col("jaccard") >= DedupOps.JaccardThreshold, 1L)
        .otherwise(0L))).head()
    val buckets = SimilarityOps.annLloyd(s, d).groupBy("bucket").count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0))).head()
    Map("ops.DedupOps.candidate_pairs" -> pairs.getLong(0).toDouble,
      "ops.DedupOps.verified" -> pairs.getLong(1).toDouble,
      "ops.SimilarityOps.pairs_scored" -> buckets.getDouble(0))
  }

  def kernels(s: SparkSession): Map[String, Double] = {
    val d = dir.toString
    Map(
      "functions.minhash_sig.rows_per_s" -> Kernels.rowsPerSec(
        Tables.documents(s, d).select(lower(col("text")).as("t")), "minhash_sig(t)", 4000),
      "functions.vec_dot_d.rows_per_s" -> Kernels.rowsPerSec(
        Tables.embeddings(s, d).selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS u"),
        "vec_dot_d(u, u)", 100000))
  }

  def layers(t: Tracer, c: Map[String, Double]): Map[String, Double] = {
    def busy(n: String) = t.named(n).map(_.seconds).sum
    val dedup = t.countsUnder(Set("ops.DedupOps"))
    def share(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Map(
      "ops.CorpusOps.busy_s" -> busy("ops.CorpusOps"),
      "ops.CorpusOps.pass_share" -> share(c("ops.CorpusOps.kept"), docs.toDouble),
      "ops.DedupOps.busy_s" -> busy("ops.DedupOps"),
      "ops.DedupOps.candidate_pairs" -> c("ops.DedupOps.candidate_pairs"),
      "ops.DedupOps.verified_share" ->
        share(c("ops.DedupOps.verified"), c("ops.DedupOps.candidate_pairs")),
      "ops.DedupOps.cc_jobs" -> dedup.ccJobs.toDouble,
      "ops.DedupOps.shuffle_mb" -> dedup.shuffleWriteBytes / 1e6,
      "ops.SimilarityOps.busy_s" -> busy("ops.SimilarityOps"),
      "ops.SimilarityOps.pairs_scored" -> c("ops.SimilarityOps.pairs_scored"),
      "ops.SimilarityOps.kept_share" ->
        (1.0 - share(c("ops.SimilarityOps.dropped"), vecs.toDouble))) ++
      t.jobsOf(DedupWorkload.Layers)
  }
}

object DedupWorkload {
  /** The traced layers, in pipeline order. */
  val Layers: Seq[String] = Seq("ops.CorpusOps", "ops.DedupOps", "ops.SimilarityOps")
}
