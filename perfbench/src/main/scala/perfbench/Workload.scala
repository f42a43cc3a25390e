package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Outcome of one op: an order-independent digest of every output
  * (so traced and untraced runs can be compared), the output-check
  * mismatches, and exact counts taken from the outputs. */
final case class OpResult(digest: Seq[(String, Long, Long)],
    problems: Seq[String], counts: Map[String, Double] = Map.empty)

/** One benchmark workload: its inputs, its op and its checks. */
trait Workload {
  /** Items (contracts or documents) one op processes. */
  def items: Long
  /** Whether ops keep the caches earlier ops left (a long-lived daily
    * job does; a dedup pass is a job of its own). */
  def retainsCaches: Boolean
  /** Touch every reader and kernel the op uses on the warm-up input. */
  def warm(s: SparkSession): Unit
  /** One untimed op over the warm-up input. */
  def warmOp(s: SparkSession): Unit
  /** One op over the timed input; with a tracer, each layer runs in a
    * span. */
  def op(s: SparkSession, tracer: Option[Tracer]): OpResult
  /** The same workload over a fresh copy of its inputs, so a traced
    * pass cannot reuse caches an untraced pass left behind. */
  def copyTo(root: Path): Workload
  /** Per-layer counts computed outside the timed phases. */
  def counters(s: SparkSession): Map[String, Double]
  /** functions.<kernel>.rows_per_s over this workload's own columns. */
  def kernels(s: SparkSession): Map[String, Double]
  /** Per-layer metrics from the traced op's spans and `counts`: the
    * traced op's exact counts plus [[counters]]. */
  def layers(t: Tracer, counts: Map[String, Double]): Map[String, Double]
}

object Digest {
  /** (rows, Σ xxhash64 mod 2^40) — order-independent; doubles are
    * rounded so summation-order noise does not read as a mismatch. */
  private def row(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6)
        case _ => c
      }
    }
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(1L << 40))), lit(0L)).as("h"))
  }

  /** Digests of several outputs, computed by one query. */
  def named(outs: Seq[(String, DataFrame)]): Seq[(String, Long, Long)] =
    outs.map { case (n, df) => row(df).select(lit(n).as("name"), col("*")) }
      .reduce(_ union _).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
}

object Kernels {
  /** rows/s of a one-kernel projection `expr` over `input` (cached and
    * replicated to about `targetRows` rows, so per-job overhead does
    * not dominate); median of three timed passes. */
  def rowsPerSec(input: DataFrame, expr: String, targetRows: Long): Double = {
    val n = math.max(1L, input.count())
    val rep = math.max(1L, targetRows / n)
    val data = input.withColumn("_rep", explode(sequence(lit(1L), lit(rep))))
      .drop("_rep").repartition(input.sparkSession.sparkContext.defaultParallelism)
      .cache()
    val rows = data.count()
    val times = (0 until 3).map { _ =>
      val t = System.nanoTime()
      data.selectExpr(s"sum(hash($expr))").collect()
      (System.nanoTime() - t) / 1e9
    }
    data.unpersist(blocking = true)
    rows / times.sorted.apply(1)
  }
}
