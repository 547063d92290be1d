package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import graft.core.expr.{ColStats, Expr}
import graft.core.meta._

/** `commits`: the commit CAS, its retries, commit-time manifest merging
  * and scan planning under contention, with no Spark job anywhere. Three
  * writer threads make metadata-only appends of one file each to one
  * table that starts with the SyntheticMeta shape (30 partitions x 2000
  * files, one manifest per partition); one planner thread plans a
  * one-partition scan in a loop. Table properties stay at their
  * defaults, commit.retry.* included, and history grows through the run;
  * commit-time merges make the manifest count cycle, often past the
  * 64-entry manifest entry cache that the scan workload fits in.
  *
  * A writer's op is landing one file. A commit that exhausts its retry
  * budget is counted (`commit.failed`, `failed_ratio`) and the writer
  * resubmits the file under a fresh path, as an application would, so
  * the op lands and its latency carries the lost attempts. */
final class CommitsWorkload(seed: Long, work: String) extends Workload {
  import CommitsWorkload._

  private val cat = new HadoopCatalog(s"$work/warehouse")
  private var name = ""

  def prepare(): Unit = ()

  def setup(i: Int): Unit = {
    if (name.nonEmpty) cat.dropTable(Seq("db"), name)
    name = s"commits$i"
    SyntheticMeta.build(cat, name, Partitions, FilesPerPartition)
  }

  private def table(name: String): GTable = cat.loadTable(Seq("db"), name).get

  private def dataFile(t: GTable, p: Int, writer: Int, i: Int, rng: Random): DataFile = {
    val lo = rng.nextInt(1 << 20).toLong * 1000
    DataFile(s"${t.location}/data/p=$p/w$writer-$i.parquet", "parquet", 0, Seq(p.toLong),
      recordCount = 1000, fileSizeBytes = 64L * 1024 * 1024,
      columnStats = Map(1 -> ColStats(Some(1000L), Some(0L), None, Some(lo), Some(lo + 999))))
  }

  /** A few seconds of the same contention on a throwaway table, so the
    * commit, merge and planning paths are compiled before timing; then
    * one plan of every partition of the timed table, so its seed
    * manifests start in the manifest cache. */
  def warm(): Unit = {
    SyntheticMeta.build(cat, "warm", Partitions, FilesPerPartition)
    val rec = new Recorder
    val out = drive("warm", rec, rec.nowMs + WarmSeconds * 1000.0)
    if (out.errors.nonEmpty) sys.error(s"warm-up failed: ${out.errors.mkString("; ")}")
    cat.dropTable(Seq("db"), "warm")
    val t = table(name)
    (0 until Partitions).foreach(p => t.newScan().filter(Expr.equalTo("p", p.toLong)).planFiles())
  }

  def run(rec: Recorder, deadlineMs: Double): Outcome = drive(name, rec, deadlineMs)

  /** Writers and planner on table `name` until the deadline, then the
    * checks. */
  private def drive(name: String, rec: Recorder, deadlineMs: Double): Outcome = {
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val exhausted = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = rec.nowMs
    val writers = (1 to Writers).map { w =>
      thread(s"writer-$w") {
        val t = table(name)
        val rng = new Random(seed * 1009 + w)
        var i = 0
        while (rec.nowMs < deadlineMs) {
          val p = rng.nextInt(Partitions)
          val id = rec.nextId()
          rec.time("write", "append", id, thread = w) {
            Tracer.withOp(None, id) {
              var done: Option[String] = None
              while (done.isEmpty) {
                // a fresh path per submission: a conflicted commit that
                // landed anyway shows up as an unexpected live file
                val f = dataFile(t, p, w, i, rng)
                i += 1
                try { t.newAppend().appendFile(f).commit(); done = Some(f.path) }
                catch { case _: CommitConflictException => exhausted.incrementAndGet() }
              }
              done.get
            }
          } match {
            case Right(path) => landed.add(path)
            case Left(e) => errors.add(s"writer $w: $e"); throw e
          }
        }
      }
    }
    val planner = thread("planner") {
      val t = table(name)
      val rng = new Random(seed * 2003)
      while (rec.nowMs < deadlineMs) {
        val p = rng.nextInt(Partitions)
        val id = rec.nextId()
        rec.time("read", "planFiles", id, thread = Writers + 1) {
          Tracer.withOp(None, id) {
            val s0 = System.nanoTime()
            val scan = t.newScan().filter(Expr.equalTo("p", p.toLong))
            val tasks = scan.planFiles()
            if (Tracer.enabled)
              Tracer.scanReport(scan.buildReport(tasks, (System.nanoTime() - s0) / 1000000))
            val stray = tasks.filterNot(_.file.partition == Seq(p.toLong))
            if (stray.nonEmpty)
              errors.add(s"planFiles(p=$p) returned ${stray.size} files of other partitions")
            if (tasks.size < FilesPerPartition)
              errors.add(s"planFiles(p=$p) returned ${tasks.size} < $FilesPerPartition seed files")
          }
        }.left.foreach { e => errors.add(s"planner: $e"); throw e }
      }
    }
    (writers :+ planner).foreach(_.join())
    val wall = rec.nowMs - t0
    val all = rec.all
    val t = table(name)
    val errs = mutable.ArrayBuffer.empty[String]
    errors.forEach(e => errs += e)
    // live files = the seed files plus every commit that reported success
    val live = t.newScan().planFiles().map(_.file.path).toSet
    val seedFiles = (0 until Partitions).flatMap(p =>
      (0 until FilesPerPartition).map(i => s"${t.location}/data/p=$p/f$i.parquet")).toSet
    val expected = seedFiles ++ landed.toArray(Array.empty[String]).toSet
    if (live != expected)
      errs += s"live files ${live.size} != seed ${seedFiles.size} + landed ${landed.size} " +
        s"(missing ${(expected -- live).size}, unexpected ${(live -- expected).size})"
    val writes = all.filter(_.cls == "write")
    val failed = exhausted.get
    val manifests = ManifestIO.readList(t.meta.currentSnapshot.get.manifestListPath).size
    Outcome(all, wall, errs.toSeq,
      Map(
        "write_p50_ms" -> Metric(Stats.perKind(writes.filter(_.ok), 0.5), "ms"),
        "write_p90_ms" -> Metric(Stats.perKind(writes.filter(_.ok), 0.9), "ms"),
        // exhausted retry budgets per commit call
        "failed_ratio" -> Metric(failed.toDouble / math.max(1, failed + landed.size), "ratio")),
      Map(
        "commit.failed" -> Metric(failed.toDouble, "count"),
        "commit.metadata_bytes" -> Metric(newestMetadataBytes(t.location), "B")),
      Map("commits_landed" -> landed.size, "commits_exhausted" -> failed,
        "snapshots" -> t.meta.snapshots.size, "manifests_at_end" -> manifests,
        "writers" -> Writers, "seed_files" -> seedFiles.size))
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val th = new Thread(() => body, name)
    th.setDaemon(true)
    th.start()
    th
  }
}

object CommitsWorkload {
  val Writers = 3
  val Partitions = 30
  val FilesPerPartition = 2000
  val WarmSeconds = 3

  /** Size of the newest vN.metadata.json of a table. */
  def newestMetadataBytes(location: String): Double =
    Option(new File(s"$location/metadata").listFiles).toSeq.flatten
      .flatMap(f => "^v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(f.getName)
        .map(m => m.group(1).toLong -> f))
      .maxByOption(_._1).map(_._2.length.toDouble).getOrElse(0.0)
}
