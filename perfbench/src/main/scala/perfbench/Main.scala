package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: generates one workload's inputs from the seed,
  * sets up a `local[N]` session three times (reporting the median),
  * then drives the workload's op from one closed-loop client thread
  * for the requested seconds (at least one op) and checks every output.
  *
  *   --trace 0  end-to-end metrics (setup_s, op_p50_s, items_per_s)
  *   --trace 1  per-layer metrics: a warm-up op, the op untraced (job
  *              and cache counters), kernel throughput, then the op over
  *              a copy of its inputs traced layer by layer
  *
  * The last stdout line is the result JSON. Every artifact lives under
  * --root (inputs, warehouse, Spark local dirs, checkpoints, sinks). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: Path, records: Path, cores: Int, sizes: Gen.Sizes)

  val Workloads = Seq("crz_daily", "corpus_dedup")

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def i(k: String, d: Int) = m.get(k).map(_.toInt).getOrElse(d)
    val z = Gen.Sizes()
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("root")).toAbsolutePath,
      Paths.get(m("records")).toAbsolutePath, i("cores", 4),
      Gen.Sizes(dayContracts = i("day-contracts", z.dayContracts),
        legacyRows = i("legacy-rows", z.legacyRows), docs = i("docs", z.docs),
        vecs = i("vecs", z.vecs), dim = i("dim", z.dim)))
  }

  private def session(a: Args): SparkSession = {
    val r = a.root
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", r.resolve("warehouse").toString)
      .config("spark.local.dir", r.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", r.resolve("checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", r.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(r.resolve("checkpoints").toString)
    graft.functions.Functions.register(s)
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def uptime(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Progress line stamped with seconds since JVM start. */
  private def log(msg: String): Unit = println(f"[${uptime()}%7.2f] $msg")

  /** Generates the inputs (timed apart from set-up) and builds the
    * workload. */
  private def generate(a: Args): Workload = a.workload match {
    case "crz_daily" =>
      val in = Gen.crzDaily(a.root.resolve("crz"), a.seed, a.sizes)
      Gen.writeTruth(a.root.resolve("truth.json"), Gen.crzTruthJson(in))
      new CrzWorkload(a.root, in)
    case "corpus_dedup" =>
      def write(dir: Path, seed: Long, docs: Int, vecs: Int): Gen.DedupTruth = {
        val (ds, verdicts, clusters) = Gen.dedupDocs(seed, docs)
        ParquetOut.docs(dir.resolve("documents.parquet"), ds, a.cores)
        val (vs, groups) = Gen.dedupVecs(seed, vecs, a.sizes.dim)
        ParquetOut.vecs(dir.resolve("embeddings.parquet"), vs, a.cores)
        Gen.DedupTruth(verdicts, clusters, groups)
      }
      val dir = a.root.resolve("dedup")
      val truth = write(dir, a.seed, a.sizes.docs, a.sizes.vecs)
      write(a.root.resolve("dedup-warmup"), a.seed + 1, 300, 300)
      Gen.writeTruth(a.root.resolve("truth.json"), Gen.dedupTruthJson(truth))
      new DedupWorkload(dir, a.root.resolve("dedup-warmup"), truth, a.sizes.docs,
        a.sizes.vecs)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.mkString(", ")}")
    val tGen = now()
    val w = generate(a)
    val genS = now() - tGen
    log(f"inputs generated in $genS%.2f s under ${a.root}")
    val out = if (a.trace) traced(a, w) else untraced(a, w)
    println(out)
    // Spark leaves non-daemon threads; exit explicitly once the result is out
    System.exit(0)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(ok: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  private def untraced(a: Args, w: Workload): String = {
    // set-up three times; each is a fresh session whose readers and
    // kernels have touched the warm-up input
    var s: SparkSession = null
    val setups = (1 to 3).map { k =>
      if (s != null) stop(s)
      val t = now()
      s = session(a)
      w.warm(s)
      val dt = now() - t
      log(f"setup $k: $dt%.3f s")
      dt
    }
    // every timed op starts from a collected heap
    System.gc()
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    var items = 0L
    var failed = 0
    val t0 = now()
    while (times.isEmpty || now() - t0 < a.seconds) {
      if (!w.retainsCaches) s.catalog.clearCache()
      val st = now()
      val problems = try w.op(s, None).problems catch {
        case NonFatal(e) => Seq(s"op failed: $e")
      }
      val dt = now() - st
      times += dt
      items += w.items
      if (problems.nonEmpty) { failed += 1; problems.foreach(p => println(s"CHECK FAILED: $p")) }
      log(f"op ${times.size}: $dt%.3f s, ${w.items} items")
    }
    stop(s)
    log("session stopped")
    val n = times.size
    val p50 = median(times.toSeq)
    // highest percentile with at least ten samples beyond it
    val tail = if (n >= 20) {
      val q = 1.0 - 10.0 / n
      f"op_tail_s: ${times.sorted.apply(math.ceil(q * n).toInt - 1)}%.4f s (p${q * 100}%.1f)"
    } else s"op_tail_s: omitted (needs >= 20 ops, got $n)"
    val metrics = Seq(
      ("setup_s", median(setups), "s"),
      ("op_p50_s", p50, "s"),
      ("items_per_s", items / times.sum, "1/s"))
    metrics.foreach { case (k, v, u) => println(f"$k: $v%.4f $u") }
    println(s"ops: $n (op_p50_s is the median of $n samples)")
    println(tail)
    println(f"failed_share: ${failed.toDouble / n}%.4f ($failed of $n)")
    json(failed == 0, n, failed, metrics)
  }

  private def traced(a: Args, w: Workload): String = {
    val s = session(a)
    w.warm(s)
    val sc = s.sparkContext
    val tracer = new Tracer(sc)
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    // an untimed warm-up op, then the op untraced: its time, jobs and the
    // cache retention the two ops leave (crz_daily never clears caches)
    val rdds0 = sc.getPersistentRDDs.size
    w.warmOp(s)
    if (!w.retainsCaches) s.catalog.clearCache()
    tracer.drain()
    val j0 = tracer.global.jobs
    val st0 = now()
    val r0 = w.op(s, None)
    val untracedS = now() - st0
    tracer.drain()
    val jobs = tracer.global.jobs - j0
    val rdds = sc.getPersistentRDDs.size
    val cachedMb = sc.getRDDStorageInfo.map(x => x.memSize + x.diskSize).sum / 1e6
    log(f"untraced op: $untracedS%.3f s, jobs=$jobs cached_rdds=$rdds cached_mb=$cachedMb%.3f")
    problems ++= r0.problems
    s.catalog.clearCache()
    val kernels = w.kernels(s)
    log("kernels timed")
    // the op again, traced layer by layer, over a copy of its inputs
    val tw = w.copyTo(a.root.resolve("traced-inputs"))
    val st = now()
    val r = tracer.span("op") { tw.op(s, Some(tracer)) }
    val tracedS = now() - st
    log(f"traced op: $tracedS%.3f s")
    problems ++= r.problems
    if (r.digest != r0.digest)
      problems += s"traced digest ${r.digest} != untraced ${r0.digest}"
    val layer = tw.layers(tracer, r.counts ++ tw.counters(s)) ++ kernels
    val all = tracer.countsUnder(Set("op"))
    val substrate = Map(
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_busy_s" -> all.busyMs / 1e3,
      "spark.task_cpu_s" -> all.cpuNs / 1e9,
      "spark.sched_delay_s" -> all.schedMs / 1e3,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.spill_mb" -> all.spillBytes / 1e6,
      "spark.task_skew" -> all.skew,
      "spark.failed_tasks" -> all.failedTasks.toDouble,
      "spark.untraced_jobs_per_op" -> jobs.toDouble,
      "spark.cached_rdds" -> rdds.toDouble,
      "spark.cached_rdds_per_op" -> (rdds - rdds0) / 2.0,
      "spark.cached_mb" -> cachedMb,
      "trace.untraced_op_s" -> untracedS,
      "trace.traced_op_s" -> tracedS,
      "trace.overhead_share" -> (tracedS / untracedS - 1.0))
    tracer.write(a.records.resolve(s"spans-${a.workload}-${a.seed}.json"))
    stop(s)
    val values = layer ++ substrate
    problems ++= Records.compare(a, values.filter { case (n, _) => Metrics.exact(n) })
    problems.foreach(p => println(s"CHECK FAILED: $p"))
    val metrics = Metrics.perLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
    metrics.foreach { case (n, v, u) => println(f"$n: $v%.6f $u") }
    println(f"tracing overhead: ${(tracedS / untracedS - 1) * 100}%.1f%% " +
      f"(traced op $tracedS%.3f s vs the same op untraced $untracedS%.3f s)")
    println(s"spans: ${a.records.resolve(s"spans-${a.workload}-${a.seed}.json")}")
    json(problems.isEmpty, 1, if (problems.nonEmpty) 1 else 0, metrics)
  }
}

/** Exact counts of earlier traced runs of the same seed and sources,
  * kept beside the build so a later run can assert they repeat. */
object Records {
  def compare(a: Main.Args, counts: Map[String, Double]): Seq[String] = {
    val p = a.records.resolve(s"counts-${a.workload}-${a.seed}-${sys.env.getOrElse("PERFBENCH_SOURCE_HASH", "dev")}.txt")
    val lines = counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }
    if (Files.exists(p)) {
      val before = Files.readAllLines(p, UTF_8).asScala.toSeq
      if (before != lines) Seq(s"exact counts differ from an earlier run of seed ${a.seed}: " +
        before.diff(lines).mkString(", ") + " -> " + lines.diff(before).mkString(", "))
      else Nil
    } else {
      Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("\n").getBytes(UTF_8))
      Nil
    }
  }
}
