package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

import graft.core.meta.HadoopCatalog

/** `dml`: graft's row-level write path. One closed-loop client runs a
  * seeded sequence of INSERT (a slice of new orders), range DELETE,
  * range UPDATE and MERGE against a merge-on-read and a copy-on-write
  * copy of lineitem, each statement followed by a read-after-write
  * aggregate of that table, and compacts the MoR copy with
  * rewrite_data_files after every round. MoR trades read cost for write
  * cost against CoW, so a change that helps one at the other's expense
  * shows here. */
final class DmlWorkload(spark: SparkSession, seed: Long, work: String) extends Workload {
  import DmlWorkload._

  private val raw = s"$work/raw"
  private var ns = ""
  private def fq(t: String) = s"graft.$ns.$t"
  private val tables = Seq("li_mor", "li_cow")

  def prepare(): Unit = {
    Data.lineitem(spark, seed, 1, Orders + 1, RawFiles).write.parquet(s"$raw/lineitem")
    spark.read.parquet(s"$raw/lineitem").createOrReplaceTempView("raw_lineitem")
  }

  def setup(i: Int): Unit = {
    if (ns.nonEmpty) tables.foreach(t => spark.sql(s"DROP TABLE ${fq(t)} PURGE"))
    ns = s"dml$i"
    createCopies("true")
  }

  /** The MoR and CoW copies in namespace `ns`, from the raw rows matching
    * `where`. */
  private def createCopies(where: String): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    Seq("li_mor" -> "merge-on-read", "li_cow" -> "copy-on-write").foreach { case (t, mode) =>
      spark.sql(s"""CREATE TABLE ${fq(t)}
          TBLPROPERTIES ('write.delete.mode'='$mode', 'write.update.mode'='$mode',
            'write.merge.mode'='$mode')
          AS SELECT * FROM raw_lineitem WHERE $where""")
    }
  }

  /** The MERGE source for order keys [a, b]: the generator's rows for the
    * range with new values. MERGE requires at most one source row per
    * target key, or it fails with MERGE_CARDINALITY_VIOLATION (TPC-H
    * lineitem repeats (l_orderkey, l_linenumber) pairs, and a source cut
    * straight from such data trips it), so the source is made one row
    * per key explicitly. Rows deleted earlier come back as inserts. */
  private def mergeSource(a: Long, b: Long, round: Int): DataFrame =
    Data.lineitem(spark, seed, a, b + 1, 1)
      .withColumn("l_quantity", col("l_quantity") + 2)
      .withColumn("l_comment", lit(s"m$round"))
      .dropDuplicates("l_orderkey", "l_linenumber")

  private def slice(round: Int): (Long, Long) = {
    val from = Orders + 1 + round.toLong * SliceOrders
    (from, from + SliceOrders)
  }

  /** SQL of `op` against table `t` (temp views hold insert/merge sources). */
  private def statement(op: DmlOp, t: String): String = op match {
    case Insert(_, _) => s"INSERT INTO ${fq(t)} SELECT * FROM dml_insert_src"
    case Delete(a, b) => s"DELETE FROM ${fq(t)} WHERE l_orderkey BETWEEN $a AND $b"
    case Update(a, b, r) =>
      s"""UPDATE ${fq(t)} SET l_quantity = l_quantity + 1, l_comment = 'u$r'
          WHERE l_orderkey BETWEEN $a AND $b"""
    case Merge(_, _, _) =>
      s"""MERGE INTO ${fq(t)} t USING dml_merge_src s
          ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
          WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""
  }

  private def stage(op: DmlOp): Unit = op match {
    case Insert(from, until) =>
      Data.lineitem(spark, seed, from, until, 1).createOrReplaceTempView("dml_insert_src")
    case Merge(a, b, r) => mergeSource(a, b, r).createOrReplaceTempView("dml_merge_src")
    case _ => ()
  }

  private def readAfterWrite(t: String): Seq[String] =
    spark.sql(s"""SELECT l_returnflag, count(*), sum(l_quantity), sum(l_extendedprice),
        max(l_orderkey), sum(crc32(l_comment)) FROM ${fq(t)}
        GROUP BY l_returnflag ORDER BY l_returnflag""")
      .collect().toSeq.map(_.toSeq.mkString("|"))

  private def ops(rng: Random, round: Int): Seq[DmlOp] = {
    def range(): (Long, Long) = {
      val a = 1 + (rng.nextDouble() * (Orders - RangeOrders)).toLong
      (a, a + RangeOrders - 1)
    }
    val (from, until) = slice(round)
    val (d1, d2) = range(); val (u1, u2) = range(); val (m1, m2) = range()
    Seq(Insert(from, until), Delete(d1, d2), Update(u1, u2, round), Merge(m1, m2, round))
  }

  def warm(): Unit = {
    // one full round and one compaction on a throwaway pair of small
    // tables: the timed phase starts with warm code paths but untouched
    // data
    val keep = ns
    ns = "dmlwarm"
    createCopies(s"l_orderkey <= ${Orders / 20}")
    ops(new Random(seed + 1), 1000).foreach { op =>
      stage(op)
      tables.foreach { t => spark.sql(statement(op, t)); readAfterWrite(t) }
    }
    spark.sql(s"CALL graft.system.rewrite_data_files(table => '$ns.li_mor')").collect()
    tables.foreach(t => spark.sql(s"DROP TABLE ${fq(t)} PURGE"))
    ns = keep
  }

  def run(rec: Recorder, deadlineMs: Double): Outcome = {
    val rng = new Random(seed * 17 + 3)
    val log = scala.collection.mutable.ArrayBuffer.empty[DmlOp]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val maint = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val cat = new HadoopCatalog(s"$work/warehouse")
    def core(t: String) = cat.loadTable(Seq(ns), t).getOrElse(sys.error(s"no table $ns.$t"))
    val startSeq = tables.map(t => t -> core(t).meta.lastSequenceNumber).toMap
    def liveDeleteFiles() = core("li_mor").meta.currentSnapshot
      .flatMap(_.summary.get("total-delete-files")).map(_.toLong).getOrElse(0L)
    def timed[T](cls: String, kind: String)(body: => T): T = {
      val id = rec.nextId()
      rec.time(cls, kind, id)(Tracer.withOp(Some(spark), id)(body))
        .fold(e => throw e, identity)
    }
    val t0 = rec.nowMs
    var round = 0
    var deletesRemoved = 0L
    // whole rounds only: both copies always hold the same history, and
    // every run compacts at least once
    while (round == 0 || rec.nowMs < deadlineMs) {
      ops(rng, round).foreach { op =>
        stage(op)
        log += op
        val reads = tables.map { t =>
          val mode = if (t == "li_mor") "mor" else "cow"
          timed("write", s"${op.kind}.$mode")(spark.sql(statement(op, t)))
          timed("read", s"read.$mode")(readAfterWrite(t))
        }
        if (reads(0) != reads(1))
          errors += s"read after ${op} differs: MoR ${reads(0)} vs CoW ${reads(1)}"
      }
      round += 1
      val before = liveDeleteFiles()
      val r = timed("maint", "rewrite_data_files") {
        spark.sql(s"CALL graft.system.rewrite_data_files(table => '$ns.li_mor')").head()
      }
      maint += Seq(r.getInt(0).toLong, r.getLong(2), r.getInt(3).toLong)
      deletesRemoved += math.max(0L, before - liveDeleteFiles())
      if (r.getInt(3) != 0) errors += s"rewrite_data_files failed ${r.getInt(3)} files"
    }
    val wall = rec.nowMs - t0
    val all = rec.all
    errors ++= check(log.toSeq)
    val store = storage()
    val native = nativeBytes()
    val layers = store ++ Map(
      "maint.files_rewritten" -> Metric(Stats.mean(maint.map(_(0).toDouble).toSeq), "count"),
      "maint.bytes_rewritten" -> Metric(Stats.mean(maint.map(_(1).toDouble).toSeq), "B"),
      "maint.delete_files_removed" ->
        Metric(if (maint.isEmpty) 0.0 else deletesRemoved.toDouble / maint.size, "count"),
      "exec.rows_written_per_row_changed" -> Metric(writeAmplification(cat, startSeq), "ratio"),
      "commit.metadata_bytes" ->
        Metric(CommitsWorkload.newestMetadataBytes(core("li_mor").location), "B"))
    val total = Seq("store.data_bytes", "store.delete_bytes", "store.metadata_bytes")
      .map(store(_).value).sum
    val writes = all.filter(_.cls == "write")
    val extra = Map(
      "write_p50_ms" -> Metric(Stats.perKind(writes, 0.5), "ms"),
      "write_p90_ms" -> Metric(Stats.perKind(writes, 0.9), "ms"),
      "maint_ms" -> Metric(Stats.median(all.filter(_.cls == "maint").map(_.ms)), "ms"),
      "failed_ratio" -> Metric(all.count(!_.ok).toDouble / math.max(1, all.size), "ratio"),
      // both copies against two native copies of the same live rows
      "storage_amp" -> Metric(total / (2.0 * native), "ratio"))
    Outcome(all, wall, errors.toSeq, extra, layers,
      Map("rounds" -> round, "statements" -> log.size, "compactions" -> maint.size,
        "lineitem_rows" -> spark.table("raw_lineitem").count(), "table_ns" -> ns,
        "native_live_bytes" -> native))
  }

  /** The op log replayed as DataFrame filters and updates over the raw
    * parquet; both copies must equal it, row for row. */
  private def check(log: Seq[DmlOp]): Seq[String] = {
    val cols = spark.table("raw_lineitem").columns.toSeq.map(col)
    var model: DataFrame = spark.read.parquet(s"$raw/lineitem")
    log.zipWithIndex.foreach { case (op, i) =>
      model = op match {
        case Insert(from, until) => model.unionByName(Data.lineitem(spark, seed, from, until, 1))
        case Delete(a, b) => model.filter(!col("l_orderkey").between(a, b))
        case Update(a, b, r) =>
          val hit = col("l_orderkey").between(a, b)
          model
            .withColumn("l_quantity",
              when(hit, col("l_quantity") + 1).otherwise(col("l_quantity")))
            .withColumn("l_comment", when(hit, lit(s"u$r")).otherwise(col("l_comment")))
        case Merge(a, b, r) =>
          val src = mergeSource(a, b, r)
          model.join(src.select("l_orderkey", "l_linenumber"),
            Seq("l_orderkey", "l_linenumber"), "left_anti").unionByName(src)
      }
      model = model.select(cols: _*)
      if (i % 8 == 7) model = model.localCheckpoint()
    }
    def diff(x: DataFrame, y: DataFrame): Long =
      x.select(cols: _*).exceptAll(y.select(cols: _*)).count() +
        y.select(cols: _*).exceptAll(x.select(cols: _*)).count()
    val mor = spark.table(fq("li_mor")); val cow = spark.table(fq("li_cow"))
    Seq(
      "MoR vs CoW" -> diff(mor, cow),
      "MoR vs replayed op log" -> diff(mor, model)).collect {
      case (what, n) if n != 0 => s"$what: $n rows differ after ${log.size} statements"
    }
  }

  /** Bytes and files under both table locations: data files, delete
    * files (position deletes, equality deletes, deletion vectors) and
    * metadata. Files no longer live stay on disk until expiry, and count. */
  private def storage(): Map[String, Metric] = {
    val files = tables.flatMap(t => walk(new File(s"$work/warehouse/$ns/$t")))
    def isDelete(f: File) = Seq("delete-", "eq-delete-", "dv-").exists(f.getName.startsWith)
    val meta = files.filter(_.getPath.contains("/metadata/"))
    val data = files.filterNot(_.getPath.contains("/metadata/"))
    Map(
      "store.data_bytes" -> Metric(data.filterNot(isDelete).map(_.length).sum.toDouble, "B"),
      "store.delete_bytes" -> Metric(data.filter(isDelete).map(_.length).sum.toDouble, "B"),
      "store.metadata_bytes" -> Metric(meta.map(_.length).sum.toDouble, "B"),
      "store.files" -> Metric(files.size.toDouble, "count"))
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.getName.startsWith(".") || f.getName.endsWith(".crc")) Nil
    else Seq(f)

  /** The live rows of one copy, written as plain parquet in the raw
    * input's file count: the denominator of storage_amp. */
  private def nativeBytes(): Double = {
    val dir = s"$work/native_live"
    spark.table(fq("li_mor")).coalesce(RawFiles).write.mode("overwrite").parquet(dir)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble
  }

  /** CoW write amplification from the snapshot summaries of the timed
    * phase: rows the CoW copy wrote, over rows the statements changed
    * (MoR: records added, plus position deletes of pure deletes). */
  private def writeAmplification(cat: HadoopCatalog, startSeq: Map[String, Long]): Double = {
    def snaps(t: String) = cat.loadTable(Seq(ns), t).get.meta.snapshots
      .filter(_.sequenceNumber > startSeq(t))
    def n(s: graft.core.meta.Snapshot, k: String) =
      s.summary.get(k).flatMap(_.toLongOption).getOrElse(0L)
    val changed = snaps("li_mor").filter(_.operation != "replace").map { s =>
      n(s, "added-records") + (if (s.operation == "delete") n(s, "added-position-deletes") else 0L)
    }.sum
    val written = snaps("li_cow").map(n(_, "added-records")).sum
    if (changed == 0) 0.0 else written.toDouble / changed
  }
}

object DmlWorkload {
  val Orders = 10000L
  val RawFiles = 8
  // about 0.1% of the order keys per range statement, as in the sizing probe
  val RangeOrders = 10L
  val SliceOrders = 40L

  sealed trait DmlOp { def kind: String }
  final case class Insert(from: Long, until: Long) extends DmlOp { def kind = "insert" }
  final case class Delete(a: Long, b: Long) extends DmlOp { def kind = "delete" }
  final case class Update(a: Long, b: Long, round: Int) extends DmlOp { def kind = "update" }
  final case class Merge(a: Long, b: Long, round: Int) extends DmlOp { def kind = "merge" }
}
