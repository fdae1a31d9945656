package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Closed-form laws of the round-14 series/stats block (q227, q229,
  * q230, q231, q232) on CONSTRUCTED order histories — the oracle gate
  * proves engine≡DuckDB on the fixture, these prove the STATISTICS are
  * the right ones (a sign flip or an off-by-one lag would still
  * hash-match a matching oracle bug).
  */
class SeriesStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ordSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s + " 00:00:00")

  private def ordersDir(rows: Seq[Row], extra: (String, StructType, Seq[Row])*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_series").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ordSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    extra.foreach { case (name, schema, rs) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  /** k orders of `price` on day i → daily (x=count, y=sum) both set. */
  private def day(i: Int, n: Int, price: Double, key0: Long): Seq[Row] = {
    val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
    (0 until n).map(j =>
      Row(key0 + j, 1L, "F", price, ts(d.toString), "1-URGENT"))
  }

  test("q229: a co-monotone series is tau = +1e6, an anti-monotone one -1e6") {
    // days with strictly increasing count AND revenue → all pairs
    // concordant
    val up = (0 until 6).flatMap(i => day(i, i + 1, 100.0 * (i + 1), i * 100L))
    val upOut = queries.StatsOps.q229.run(spark, ordersDir(up)).collect().head
    assert(upOut.getAs[Long]("tau_a_ppm") == 1000000L, s"up: $upOut")
    assert(upOut.getAs[Long]("discordant") == 0L)
    // increasing count, decreasing revenue → all pairs discordant.
    // The count grows via ZERO-price filler orders so the daily sum
    // stays the single decreasing order's amount (dividing one amount
    // across i orders would re-sum to a constant — no discordance).
    val down = (0 until 6).flatMap { i =>
      day(i, 1, 600.0 - 100.0 * i, i * 100L) ++
        day(i, i, 0.0, i * 100L + 50L)
    }
    val downOut = queries.StatsOps.q229.run(spark, ordersDir(down)).collect().head
    assert(downOut.getAs[Long]("tau_a_ppm") == -1000000L, s"down: $downOut")
    assert(downOut.getAs[Long]("concordant") == 0L)
  }

  test("q227: an exactly 7-periodic series has lag-7 ACF = 1; a constant-with-one-spike lag-1 ACF < 1") {
    // 28 days cycling (1000, 2000, 3000, 4000, 5000, 6000, 7000):
    // day i and day i+7 are ALWAYS equal → lag-7 pairs are a perfect
    // line → acf exactly 1.0 (the double expression is (n·sxy−sx·sy)
    // over identical x/y moment sums)
    val rows = (0 until 28).flatMap(i =>
      day(i, 1, 1000.0 * (i % 7 + 1), i * 10L))
    val out = queries.Funnels.q227.run(spark, ordersDir(rows))
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("acf")).toMap
    assert(math.abs(out(7) - 1.0) < 1e-12, s"lag-7 acf: ${out(7)}")
    assert(out(1) < 0.5, s"lag-1 acf of a sawtooth should be small/negative: ${out(1)}")
  }

  test("q230: a silent day materializes as an explicit zero row with the gap flag") {
    val rows = day(0, 2, 100.0, 0L) ++ day(2, 1, 50.0, 100L) // day 1 silent
    val out = queries.Warehouse.q230.run(spark, ordersDir(rows))
      .orderBy("day").collect()
    assert(out.length == 3)
    val gap = out(1)
    assert(gap.getAs[String]("day") == "2024-01-02")
    assert(gap.getAs[Long]("n_orders") == 0L &&
      gap.getAs[Double]("revenue") == 0.0 && gap.getAs[Int]("is_gap") == 1)
    assert(out(0).getAs[Int]("is_gap") == 0 && out(2).getAs[Int]("is_gap") == 0)
  }

  test("q231: doubling YoY is exactly +1e6 ppm; a month with no prior-year partner keeps its row with NULL growth") {
    val rows =
      day(0, 1, 1000.0, 0L) ++ // 2024-01: 1000
        day(366, 1, 2000.0, 10L) ++ // 2025-01: 2000 (2024 is a leap year)
        day(366 + 31, 1, 700.0, 20L) // 2025-02: no 2024-02 partner
    val out = queries.Warehouse.q231.run(spark, ordersDir(rows))
      .orderBy("month").collect()
    val byMonth = out.map(r => r.getAs[String]("month") -> r).toMap
    assert(byMonth("2025-01").getAs[Long]("yoy_ppm") == 1000000L)
    assert(byMonth("2024-01").isNullAt(
      byMonth("2024-01").fieldIndex("yoy_ppm")))
    assert(byMonth("2025-02").isNullAt(
      byMonth("2025-02").fieldIndex("yoy_ppm")))
    assert(out.length == 3)
  }

  test("q237: histogram cuts partition the corpus into near-even deciles agreeing with exact q233's totals") {
    // the cut-source seam law: q237 (fixed-bin histogram cuts, the
    // unbounded-score path) must produce a COMPLETE decile partition
    // whose totals equal exact-percentile q233's — the two paths answer
    // the same question, differing only in cut placement granularity
    val hist = queries.Warehouse.q237.run(spark, TestSpark.sf0001).collect()
    val exact = queries.Warehouse.q233.run(spark, TestSpark.sf0001).collect()
    def n(r: Row) = r.getAs[Long]("n")
    def np(r: Row) = r.getAs[Long]("n_pos")
    assert(hist.map(_.getAs[Int]("decile")).toSet == (0 to 9).toSet)
    assert(hist.map(n).sum == exact.map(n).sum,
      "histogram deciles dropped or duplicated rows")
    assert(hist.map(np).sum == exact.map(np).sum)
    // 256 bins over the cents range place every cut within one bin of
    // the true decile boundary — sizes stay within 30% of N/10
    val tenth = hist.map(n).sum / 10.0
    hist.foreach(r => assert(math.abs(n(r) - tenth) < 0.3 * tenth,
      s"histogram decile far from even: $r"))
  }

  test("q237 cut assembly: empty input, one row, a constant column and negatives match the oracle SQL by hand") {
    def cuts(vals: Seq[Long]): Row = {
      val scored = spark.createDataFrame(
        spark.sparkContext.parallelize(vals.map(Row(_)), 1),
        StructType(Seq(StructField("score_cents", LongType))))
      spark.range(1)
        .select(queries.Warehouse.histDecileCuts(scored).as("cuts")).head()
    }
    // empty: an empty array<bigint> (no scored row reads it)
    val empty = cuts(Seq.empty)
    assert(empty.schema("cuts").dataType.asInstanceOf[ArrayType]
      .elementType == LongType)
    assert(empty.getSeq[Long](0).isEmpty)
    // mx == mn: bin 0 holds every rank, every cut is mn
    assert(cuts(Seq(500L)).getSeq[Long](0) == Seq.fill(9)(500L))
    assert(cuts(Seq.fill(7)(42L)).getSeq[Long](0) == Seq.fill(9)(42L))
    // -300..100 step 100: bins ((v+300)·256) DIV 400 = 0, 64, 128, 192,
    // 255 (clamped); target ranks (q·5+99) DIV 100 = 1,1,2,2,3,3,4,4,5;
    // cut = -300 + ((eb+1)·400) DIV 256
    assert(cuts(Seq(-300L, -200L, -100L, 0L, 100L)).getSeq[Long](0) ==
      Seq(-299L, -299L, -199L, -199L, -99L, -99L, 1L, 1L, 100L))
  }

  test("q232: a customer missing one year is excluded; an every-year customer counts") {
    val custSchema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    val natSchema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    // years present: 2022, 2023, 2024. cust 1 orders in all three;
    // cust 2 skips 2023.
    val rows = Seq(
      Row(1L, 1L, "F", 1.0, ts("2022-03-01"), "x"),
      Row(2L, 1L, "F", 1.0, ts("2023-03-01"), "x"),
      Row(3L, 1L, "F", 1.0, ts("2024-03-01"), "x"),
      Row(4L, 2L, "F", 1.0, ts("2022-04-01"), "x"),
      Row(5L, 2L, "F", 1.0, ts("2024-04-01"), "x"))
    val dir = ordersDir(rows,
      ("customer", custSchema, Seq(
        Row(1L, "c1", 0, 0.0, "A"), Row(2L, "c2", 0, 0.0, "A"))),
      ("nation", natSchema, Seq(Row(0, "NATION_0", 0))))
    val out = queries.Warehouse.q232.run(spark, dir).collect()
    assert(out.length == 1 && out.head.getAs[Long]("n_loyal") == 1L,
      s"expected exactly the all-years customer, got ${out.toSeq}")
  }
}
