package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

/** `scan`: read-only. One closed-loop client runs a seeded mix of four
  * query shapes over graft tables (two seeded texts per shape), each
  * query followed by the same SQL
  * over the raw parquet as a control. Results go to the noop sink, so
  * the whole result is computed and nothing is collected. Execution and
  * parquet decode dominate; table metadata is one manifest per table and
  * fits every engine cache, so a commit-path change should leave this
  * workload flat. */
final class ScanWorkload(spark: SparkSession, seed: Long, work: String) extends Workload {
  import ScanWorkload._

  private val raw = s"$work/raw"
  private var ns = ""
  // (order key, ship date) pairs that exist, for point lookups
  private var points: IndexedSeq[(Long, String)] = IndexedSeq.empty
  // the seeded SQL texts each shape draws from
  private var texts: Map[String, IndexedSeq[String]] = Map.empty

  def prepare(): Unit = {
    Data.writeRaw(spark, seed, Orders, RawFiles, raw)
    spark.read.parquet(s"$raw/lineitem").createOrReplaceTempView("raw_lineitem")
    spark.read.parquet(s"$raw/orders").createOrReplaceTempView("raw_orders")
    points = spark.sql(s"""SELECT l_orderkey, CAST(l_shipdate AS STRING)
        FROM raw_lineitem WHERE pmod(xxhash64(l_orderkey, ${seed}L), 500) = 0
        ORDER BY l_orderkey, l_linenumber LIMIT 64""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val rng = new Random(seed)
    texts = Shapes.map(s => s -> IndexedSeq.fill(TextsPerShape)(query(s, rng))).toMap
  }

  def setup(i: Int): Unit = {
    if (ns.nonEmpty) {
      spark.sql(s"DROP TABLE graft.$ns.lineitem PURGE")
      spark.sql(s"DROP TABLE graft.$ns.orders PURGE")
    }
    ns = s"scan$i"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    spark.sql(s"""CREATE TABLE graft.$ns.lineitem PARTITIONED BY (months(l_shipdate))
        AS SELECT * FROM raw_lineitem""")
    spark.sql(s"CREATE TABLE graft.$ns.orders AS SELECT * FROM raw_orders")
  }

  private def graftSql(q: String) =
    q.replace("{L}", s"graft.$ns.lineitem").replace("{O}", s"graft.$ns.orders")
  private def rawSql(q: String) =
    q.replace("{L}", "raw_lineitem").replace("{O}", "raw_orders")

  /** One query of `shape` with seeded parameters. */
  private def query(shape: String, rng: Random): String = shape match {
    case "q01" =>
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
            sum(l_extendedprice) AS sum_base,
            sum(l_extendedprice * (100 - l_discount)) AS sum_disc,
            sum(l_extendedprice * (100 - l_discount) * (100 + l_tax)) AS sum_charge,
            sum(l_discount) AS sum_disc_pct, count(*) AS n
          FROM {L} WHERE l_shipdate <= DATE'1998-12-01' - INTERVAL ${60 + rng.nextInt(61)} DAY
          GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
    case "q06" =>
      val y = 1993 + rng.nextInt(5)
      val d = 2 + rng.nextInt(8)
      s"""SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n FROM {L}
          WHERE l_shipdate >= DATE'$y-01-01' AND l_shipdate < DATE'${y + 1}-01-01'
            AND l_discount BETWEEN ${d - 1} AND ${d + 1}
            AND l_quantity < ${24 + rng.nextInt(3)}"""
    case "point" =>
      val (k, d) = points(rng.nextInt(points.size))
      s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_comment
          FROM {L} WHERE l_shipdate = DATE'$d' AND l_orderkey = $k
          ORDER BY l_linenumber"""
    case "q03" =>
      val day = 1 + rng.nextInt(28)
      s"""SELECT l_orderkey, sum(l_extendedprice * (100 - l_discount)) AS revenue,
            o_orderdate, o_shippriority
          FROM {L} JOIN {O} ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '${Priorities(rng.nextInt(Priorities.size))}'
            AND o_orderdate < DATE'1995-03-${"%02d".format(day)}'
            AND l_shipdate > DATE'1995-03-${"%02d".format(day)}'
          GROUP BY l_orderkey, o_orderdate, o_shippriority
          ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""
  }

  private def noop(sql: String): Unit =
    Tracer.span("catalyst", "analysis")(spark.sql(sql))
      .write.format("noop").mode("overwrite").save()

  /** Every text once, so its generated code is compiled and cached. */
  def warm(): Unit =
    for (s <- Shapes; q <- texts(s)) { noop(graftSql(q)); noop(rawSql(q)) }

  def run(rec: Recorder, deadlineMs: Double): Outcome = {
    val rng = new Random(seed * 31 + 7)
    val ran = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val t0 = rec.nowMs
    // shapes in seeded order, every shape once per block of four, so the
    // mix is the same whatever the run length
    while (rec.nowMs < deadlineMs) {
      rng.shuffle(Shapes).foreach { shape =>
        val q = texts(shape)(rng.nextInt(TextsPerShape))
        ran += shape -> q
        val id = rec.nextId()
        rec.time("read", shape, id) {
          Tracer.withOp(Some(spark), id)(noop(graftSql(q)))
        }.left.foreach(e => throw e)
        val cid = rec.nextId()
        rec.time("control", shape, cid) {
          Tracer.withOp(Some(spark), cid)(noop(rawSql(q)))
        }.left.foreach(e => throw e)
      }
    }
    val wall = rec.nowMs - t0
    val ops = rec.all
    Outcome(ops, wall, check(ran.toSeq), extra(ops), controls(ops),
      Map("lineitem_rows" -> spark.table("raw_lineitem").count(),
        "orders_rows" -> Orders, "table_ns" -> ns))
  }

  /** Every graft result must equal the raw-parquet result of the same
    * SQL, compared as sorted rows. Every text the timed phase ran is run
    * again and collected. */
  private def check(ran: Seq[(String, String)]): Seq[String] = {
    def rows(sql: String): Seq[String] =
      spark.sql(sql).collect().toSeq.map((r: Row) => r.toSeq.mkString("|")).sorted
    val picks = Shapes.flatMap(s => ran.filter(_._1 == s).map(_._2).distinct)
    val errors = picks.flatMap { q =>
      val g = rows(graftSql(q)); val n = rows(rawSql(q))
      if (g == n && g.nonEmpty) None
      else Some(s"scan result differs from raw parquet (${g.size} vs ${n.size} rows): " +
        q.replaceAll("\\s+", " ").take(160))
    }
    val counts = spark.sql(s"SELECT count(*) FROM graft.$ns.lineitem").head().getLong(0)
    val rawCount = spark.table("raw_lineitem").count()
    errors ++ (if (counts == rawCount) Nil
      else Seq(s"lineitem row count $counts != raw $rawCount"))
  }

  private def extra(ops: Seq[Op]): Map[String, Metric] = {
    def med(cls: String, s: String) =
      Stats.median(ops.filter(o => o.cls == cls && o.kind == s).map(_.ms))
    // per shape: median graft query / median interleaved control
    val ratio = Stats.geomean(Shapes.map(s => med("read", s) / med("control", s)))
    Map("scan_vs_native" -> Metric(ratio, "ratio"))
  }

  private def controls(ops: Seq[Op]): Map[String, Metric] =
    Shapes.map { s =>
      s"control.native_read_ms.$s" ->
        Metric(Stats.median(ops.filter(o => o.cls == "control" && o.kind == s).map(_.ms)), "ms")
    }.toMap
}

object ScanWorkload {
  val Shapes: Seq[String] = Seq("q01", "q06", "point", "q03")
  val Orders = 20000L
  val RawFiles = 8
  // A few fixed texts per shape, as a dashboard repeats its queries. Spark
  // inlines most literals into generated code, so a fresh literal per
  // query would recompile its generated code every time; repeated texts
  // hit the codegen cache once warm.
  val TextsPerShape = 2
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
}
