package perfbench

/** The per-layer metrics of a traced run (name, unit), in the order
  * BENCHMARK.json lists them. Layers are named after the program's
  * modules; a layer a workload does not run reports 0. */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    "crz.Sources.busy_s" -> "s",
    "crz.Sources.bytes_read" -> "bytes",
    "crz.Sources.rows_out" -> "count",
    "crz.Sources.quarantined_share" -> "ratio",
    "crz.Sources.mid_dump_lost_rows" -> "count",
    "crz.CleanFilter.busy_s" -> "s",
    "crz.CleanFilter.kept_share" -> "ratio",
    "crz.CleanFilter.shuffle_mb" -> "MB",
    "crz.Tagging.busy_s" -> "s",
    "crz.Tagging.hits_out" -> "count",
    "crz.Tagging.shuffle_mb" -> "MB",
    "crz.Subject.busy_s" -> "s",
    "crz.Dictionary.busy_s" -> "s",
    "crz.Dictionary.tokens_in" -> "count",
    "crz.Dictionary.words_out" -> "count",
    "crz.Dictionary.shuffle_mb" -> "MB",
    "crz.TablesPipeline.busy_s" -> "s",
    "crz.TablesPipeline.cells_in" -> "count",
    "crz.TablesPipeline.cells_kept_share" -> "ratio",
    "crz.sinks.write_s" -> "s",
    "crz.sinks.bytes_written" -> "bytes",
    "crz.Sources.jobs" -> "count",
    "crz.CleanFilter.jobs" -> "count",
    "crz.Tagging.jobs" -> "count",
    "crz.Subject.jobs" -> "count",
    "crz.Dictionary.jobs" -> "count",
    "crz.TablesPipeline.jobs" -> "count",
    "crz.sinks.jobs" -> "count",
    "ops.CorpusOps.busy_s" -> "s",
    "ops.CorpusOps.pass_share" -> "ratio",
    "ops.DedupOps.busy_s" -> "s",
    "ops.DedupOps.candidate_pairs" -> "count",
    "ops.DedupOps.verified_share" -> "ratio",
    "ops.DedupOps.cc_jobs" -> "count",
    "ops.DedupOps.shuffle_mb" -> "MB",
    "ops.SimilarityOps.busy_s" -> "s",
    "ops.SimilarityOps.pairs_scored" -> "count",
    "ops.SimilarityOps.kept_share" -> "ratio",
    "ops.CorpusOps.jobs" -> "count",
    "ops.DedupOps.jobs" -> "count",
    "ops.SimilarityOps.jobs" -> "count",
    "functions.count_occurrences.rows_per_s" -> "1/s",
    "functions.legacy_attachments.rows_per_s" -> "1/s",
    "functions.minhash_sig.rows_per_s" -> "1/s",
    "functions.vec_dot_d.rows_per_s" -> "1/s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.sched_delay_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.spill_mb" -> "MB",
    "spark.task_skew" -> "ratio",
    "spark.failed_tasks" -> "count",
    "spark.untraced_jobs_per_op" -> "count",
    "spark.cached_rdds" -> "count",
    "spark.cached_rdds_per_op" -> "count",
    "spark.cached_mb" -> "MB",
    "trace.untraced_op_s" -> "s",
    "trace.traced_op_s" -> "s",
    "trace.overhead_share" -> "ratio")

  /** Counts a fixed seed determines exactly (asserted across runs).
    * Job counts are not among them: adaptive execution re-plans as
    * stages finish, so a run can launch one job more or less. */
  val exact: Set[String] = Set(
    "crz.Sources.rows_out", "crz.Sources.mid_dump_lost_rows",
    "crz.Tagging.hits_out", "crz.Dictionary.tokens_in", "crz.Dictionary.words_out",
    "crz.TablesPipeline.cells_in", "ops.DedupOps.candidate_pairs",
    "ops.SimilarityOps.pairs_scored")
}
