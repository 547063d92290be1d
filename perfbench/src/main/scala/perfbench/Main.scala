package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** A workload: inputs from the seed, a set-up that builds graft state
  * from them (timed, several times), and a timed closed-loop phase that
  * checks its own results. */
trait Workload {
  /** Generate the seeded inputs (untimed). */
  def prepare(): Unit
  /** Build the tables the timed phase runs on, as attempt `i` (timed).
    * The last attempt's state is the one the timed phase uses. */
  def setup(i: Int): Unit
  /** Untimed warm-up: class loading, codegen, metadata caches. */
  def warm(): Unit
  /** The timed phase, until `deadlineMs` on the recorder's clock. */
  def run(rec: Recorder, deadlineMs: Double): Outcome
}

object Main {
  // the first set-ups run JVM-cold and the JIT is still settling through
  // the third, so the median of five is the steadier figure
  val SetupAttempts = 5

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m("cpus").toInt)
  }

  def session(a: Args): SparkSession = {
    val s = graft.Sessions.builder(a.cpus.toString)
      .appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.catalog.graft", classOf[graft.spark.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", s"${a.work}/warehouse")
      .config("spark.sql.extensions", classOf[graft.spark.GraftExtensions].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = if (a.workload == "commits") None else Some(session(a))
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val w: Workload = a.workload match {
      case "scan"    => new ScanWorkload(spark.get, a.seed, a.work)
      case "dml"     => new DmlWorkload(spark.get, a.seed, a.work)
      case "commits" => new CommitsWorkload(a.seed, a.work)
      case other     => sys.error(s"unknown workload: $other")
    }
    // phase times go to the run log: where a slow run spent its time
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally System.err.println(f"perfbench phase $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val exit = try {
      phase("prepare")(w.prepare())
      val setupS = (1 to SetupAttempts).map { i =>
        val t0 = System.nanoTime()
        phase(s"setup $i")(w.setup(i))
        (System.nanoTime() - t0) / 1e9
      }
      phase("warm")(w.warm())
      val rec = new Recorder
      val out = phase("timed + checks")(w.run(rec, rec.nowMs + a.seconds * 1000.0))
      val traced = tracer.map(t => phase("trace analysis")(t.analyze(out.ops)))
      if (out.errors.nonEmpty) {
        out.errors.foreach(e => System.err.println(s"CHECK FAILED: $e"))
        1
      } else {
        write(a, out, setupS, traced)
        0
      }
    } finally spark.foreach(_.stop())
    sys.exit(exit)
  }

  private def write(a: Args, out: Outcome, setupS: Seq[Double],
      traced: Option[Tracer.Traced]): Unit = {
    val graftOps = out.ops.filter(_.cls != "control")
    val controlMs = out.ops.filter(_.cls == "control").map(_.ms).sum
    val reads = graftOps.filter(o => o.cls == "read" && o.ok)
    val done = graftOps.count(_.ok)
    val endToEnd = Map(
      "setup_s" -> Metric(Stats.median(setupS), "s"),
      "read_p50_ms" -> Metric(Stats.perKind(reads, 0.5), "ms"),
      // the raw-parquet control's time is not graft's: throughput is
      // graft ops over the wall time graft ops had
      "ops_per_s" -> Metric(done / ((out.wallMs - controlMs) / 1000.0), "1/s"))
    // the read tail is reported, not gated: on commits it follows bursts of
    // manifest-cache misses after merges and moves too much from run to run
    val extra = out.extra + ("read_p90_ms" -> Metric(Stats.perKind(reads, 0.9), "ms"))
    val layers = traced.map(t => Layers.Defaults ++ Layers.of(t, graftOps) ++ out.layers ++ extra)
    val samples = out.ops.groupBy(o => s"${o.cls}.${o.kind}")
      .map { case (k, g) => k -> Map("n" -> g.size, "p50_ms" -> Stats.median(g.map(_.ms))) }
    val info = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "setup_s_samples" -> setupS, "samples_per_kind" -> samples) ++ out.info
    val json = Json(Map(
      "correct" -> true,
      "attempted" -> graftOps.size,
      "failed" -> graftOps.count(!_.ok),
      "end_to_end" -> endToEnd.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "extra" -> extra.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "per_layer" -> layers.map(_.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }),
      "self_ms" -> traced.map(_.selfMs),
      // every op in run order, for forensics on a surprising median
      "ops" -> out.ops.map(o => Seq(o.cls, o.kind, o.startMs - out.ops.head.startMs, o.ms, o.ok)),
      "info" -> info))
    Files.write(Paths.get(a.out), json.getBytes("UTF-8"))
    traced.foreach { t =>
      val lines = t.spans.sortBy(s => (s.op, s.startMs)).map(s => Json(Map(
        "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      Files.write(Paths.get(a.out.stripSuffix(".json") + ".spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }
}

/** Per-layer metrics every workload reports from the traced run. Counts
  * and times are means per graft op (catalyst, exec), per planned scan
  * (scan) or per landed commit (commit); a layer a workload never reaches
  * reads 0. */
object Layers {
  def of(t: Tracer.Traced, ops: Seq[Op]): Map[String, Metric] = {
    val n = math.max(1, ops.size).toDouble
    def perOp(x: Double) = x / n
    val ids = ops.map(_.id).toSet
    val phases = t.spans.filter(s => s.layer == "catalyst" && ids(s.op))
    def phase(name: String) = perOp(phases.filter(_.name == name).map(_.ms).sum)
    val tasks = ops.map(o => t.tasks.getOrElse(o.id, Tracer.TaskAgg.Zero))
      .foldLeft(Tracer.TaskAgg.Zero)(_ + _)
    val jobs = t.jobs.filter(j => ids(j.op))
    val scans = t.scans.map(_._2)
    def perScan(f: graft.core.meta.ScanReport => Double) =
      if (scans.isEmpty) 0.0 else scans.map(f).sum / scans.size
    val mTotal = scans.map(_.totalManifests.toDouble).sum
    val mScanned = scans.map(_.scannedManifests.toDouble).sum
    val fTotal = scans.map(_.totalDataFiles.toDouble).sum
    val fTasks = scans.map(_.resultTasks.toDouble).sum
    val commits = t.commits.map(_._2)
    def perCommit(f: graft.core.meta.CommitReport => Double) =
      if (commits.isEmpty) 0.0 else commits.map(f).sum / commits.size
    def sum(r: graft.core.meta.CommitReport, k: String) =
      r.summary.get(k).flatMap(_.toDoubleOption).getOrElse(0.0)
    Map(
      "catalyst.analysis_ms" -> Metric(phase("analysis"), "ms"),
      "catalyst.optimization_ms" -> Metric(phase("optimization"), "ms"),
      "catalyst.planning_ms" -> Metric(phase("planning"), "ms"),
      "scan.planning_ms" -> Metric(perScan(_.planningMs.toDouble), "ms"),
      "scan.manifests_total" -> Metric(perScan(_.totalManifests.toDouble), "count"),
      "scan.manifests_scanned" -> Metric(perScan(_.scannedManifests.toDouble), "count"),
      "scan.data_files_total" -> Metric(perScan(_.totalDataFiles.toDouble), "count"),
      "scan.tasks" -> Metric(perScan(_.resultTasks.toDouble), "count"),
      "scan.delete_files" -> Metric(perScan(_.resultDeleteFiles.toDouble), "count"),
      "scan.manifest_skip_ratio" ->
        Metric(if (mTotal == 0) 0.0 else (mTotal - mScanned) / mTotal, "ratio"),
      "scan.file_prune_ratio" ->
        Metric(if (fTotal == 0) 0.0 else (fTotal - fTasks) / fTotal, "ratio"),
      "exec.jobs" -> Metric(perOp(jobs.size), "count"),
      "exec.stages" -> Metric(perOp(jobs.map(_.stages).sum), "count"),
      "exec.tasks" -> Metric(perOp(tasks.tasks), "count"),
      "exec.task_run_ms" -> Metric(perOp(tasks.runMs), "ms"),
      "exec.task_cpu_ms" -> Metric(perOp(tasks.cpuMs), "ms"),
      "exec.gc_ms" -> Metric(perOp(tasks.gcMs), "ms"),
      "exec.input_bytes" -> Metric(perOp(tasks.inBytes), "B"),
      "exec.input_records" -> Metric(perOp(tasks.inRecords), "count"),
      "exec.output_bytes" -> Metric(perOp(tasks.outBytes), "B"),
      "exec.output_records" -> Metric(perOp(tasks.outRecords), "count"),
      "exec.shuffle_read_bytes" -> Metric(perOp(tasks.shuffleRead), "B"),
      "exec.shuffle_write_bytes" -> Metric(perOp(tasks.shuffleWrite), "B"),
      "exec.spill_bytes" -> Metric(perOp(tasks.spill), "B"),
      "exec.deletes_applied" -> Metric(perOp(ops.map(o => t.deletes.getOrElse(o.id, 0L)).sum.toDouble), "count"),
      "commit.ms" -> Metric(perCommit(_.durationMs.toDouble), "ms"),
      "commit.attempts" -> Metric(perCommit(_.attempts.toDouble), "count"),
      "commit.retried" -> Metric(commits.count(_.attempts > 1).toDouble, "count"),
      "commit.manifests_created" -> Metric(perCommit(sum(_, "manifests-created")), "count"),
      "commit.manifests_replaced" -> Metric(perCommit(sum(_, "manifests-replaced")), "count"),
      "commit.added_data_files" -> Metric(perCommit(sum(_, "added-data-files")), "count"),
      "commit.added_delete_files" -> Metric(perCommit(sum(_, "added-delete-files")), "count"),
      "commit.removed_data_files" -> Metric(perCommit(sum(_, "deleted-data-files")), "count"),
      "self.client_ms" -> Metric(perOp(t.selfMs.getOrElse("client", 0.0)), "ms"),
      "self.catalyst_ms" -> Metric(perOp(t.selfMs.getOrElse("catalyst", 0.0)), "ms"),
      "self.scan_ms" -> Metric(perOp(t.selfMs.getOrElse("scan", 0.0)), "ms"),
      "self.exec_ms" -> Metric(perOp(t.selfMs.getOrElse("exec", 0.0)), "ms"),
      "self.commit_ms" -> Metric(perOp(t.selfMs.getOrElse("commit", 0.0)), "ms"),
      "trace.spans" -> Metric(t.spans.size.toDouble, "count"))
  }

  /** Layer metrics only some workloads reach; the rest report them as 0
    * so every traced run prints the same metric set. */
  val Defaults: Map[String, Metric] = Map(
    "commit.failed" -> Metric(0, "count"),
    "commit.metadata_bytes" -> Metric(0, "B"),
    "exec.rows_written_per_row_changed" -> Metric(0, "ratio"),
    "maint.files_rewritten" -> Metric(0, "count"),
    "maint.bytes_rewritten" -> Metric(0, "B"),
    "maint.delete_files_removed" -> Metric(0, "count"),
    "store.data_bytes" -> Metric(0, "B"),
    "store.delete_bytes" -> Metric(0, "B"),
    "store.metadata_bytes" -> Metric(0, "B"),
    "store.files" -> Metric(0, "count"),
    "write_p50_ms" -> Metric(0, "ms"),
    "write_p90_ms" -> Metric(0, "ms"),
    "maint_ms" -> Metric(0, "ms"),
    "failed_ratio" -> Metric(0, "ratio"),
    "scan_vs_native" -> Metric(0, "ratio"),
    "storage_amp" -> Metric(0, "ratio")) ++
    ScanWorkload.Shapes.map(q => s"control.native_read_ms.$q" -> Metric(0, "ms"))
}
