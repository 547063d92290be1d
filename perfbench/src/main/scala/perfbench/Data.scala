package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Seeded TPC-H-shaped `orders` and `lineitem` rows, generated inside
  * Spark from `range` so that no input file is needed. Every column is a
  * pure function of (order key, line number, seed): the same seed gives
  * the same rows, any key range can be regenerated on its own (the dml
  * workload's insert slices and MERGE sources), and a different seed
  * changes the values but not the sizes or distributions.
  *
  * Money is BIGINT cents, discount and tax are INT percent, so every
  * aggregate the benchmark checks is an exact integer sum whatever order
  * Spark adds in (DECIMAL sums past 18 digits would also put every query
  * on Spark's slow BigDecimal path). Dates span
  * 1992-01-01 .. 1998-12 as in TPC-H, so months(l_shipdate) yields about
  * 80 partitions. Key pairs (l_orderkey, l_linenumber) are unique. */
object Data {
  val OrderDays = 2406 // 1992-01-01 .. 1998-08-02

  private def h(seed: Long, salt: Int, cols: String*): String =
    s"xxhash64(${(cols :+ s"${seed}L" :+ salt.toString).mkString(", ")})"

  def orders(spark: SparkSession, seed: Long, from: Long, until: Long,
      parts: Int): DataFrame =
    spark.range(from, until, 1, parts).select(
      expr("id AS o_orderkey"),
      expr(s"pmod(${h(seed, 1, "id")}, 10000) + 1 AS o_custkey"),
      expr(s"date_add(DATE'1992-01-01', CAST(pmod(${h(seed, 2, "id")}, $OrderDays) AS INT)) AS o_orderdate"),
      expr(s"pmod(${h(seed, 3, "id")}, 50000000) AS o_totalprice"),
      expr(s"element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), " +
        s"CAST(pmod(${h(seed, 4, "id")}, 5) AS INT) + 1) AS o_orderpriority"),
      expr(s"CAST(pmod(${h(seed, 5, "id")}, 2) AS INT) AS o_shippriority"))

  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
      parts: Int): DataFrame = {
    val o = "o_orderkey"
    val n = "l_linenumber"
    orders(spark, seed, from, until, parts)
      .select(expr(o), expr("o_orderdate"),
        expr(s"explode(sequence(1, CAST(pmod(${h(seed, 6, o)}, 7) AS INT) + 1)) AS $n"))
      .select(
        expr(s"$o AS l_orderkey"),
        expr(s"pmod(${h(seed, 7, o, n)}, 20000) + 1 AS l_partkey"),
        expr(n),
        expr(s"pmod(${h(seed, 8, o, n)}, 50) + 1 AS l_quantity"),
        expr(s"90000 + pmod(${h(seed, 9, o, n)}, 100000) AS l_unitprice"),
        expr(s"CAST(pmod(${h(seed, 10, o, n)}, 11) AS INT) AS l_discount"),
        expr(s"CAST(pmod(${h(seed, 11, o, n)}, 9) AS INT) AS l_tax"),
        expr(s"date_add(o_orderdate, CAST(pmod(${h(seed, 12, o, n)}, 121) AS INT) + 1) AS l_shipdate"),
        expr(s"concat('c', CAST(pmod(${h(seed, 13, o, n)}, 1000000) AS STRING)) AS l_comment"),
        expr(s"pmod(${h(seed, 14, o, n)}, 2) AS flagbit"))
      .select(
        expr("l_orderkey"), expr("l_partkey"), expr("l_linenumber"), expr("l_quantity"),
        expr("l_quantity * l_unitprice AS l_extendedprice"),
        expr("l_discount"), expr("l_tax"),
        expr("CASE WHEN l_shipdate <= DATE'1995-06-17' THEN " +
          "(CASE WHEN flagbit = 0 THEN 'R' ELSE 'A' END) ELSE 'N' END AS l_returnflag"),
        expr("CASE WHEN l_shipdate > DATE'1995-06-17' THEN 'O' ELSE 'F' END AS l_linestatus"),
        expr("l_shipdate"), expr("l_comment"))
  }

  /** Write both raw tables as parquet: the benchmark's input and the
    * native control every graft result is checked against. Files are
    * order-key ranges, as the range partitions produce them. */
  def writeRaw(spark: SparkSession, seed: Long, orders: Long, files: Int,
      dir: String): Unit = {
    this.orders(spark, seed, 1, orders + 1, files).write.parquet(s"$dir/orders")
    lineitem(spark, seed, 1, orders + 1, files).write.parquet(s"$dir/lineitem")
  }
}
