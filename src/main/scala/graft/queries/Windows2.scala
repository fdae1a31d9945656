package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Tables}
import graft.functions.Exact._

/** Window/aggregate coverage round-out: RANGE frames (value-based, not
  * row-based), first/last_value analytics, and grouped exact
  * percentiles.
  */
object Windows2 {

  /** Q44 — RANGE frame: per customer, spend in the 30 days up to each
    * order (value-range frame over a day-number ordering — rows at equal
    * distance enter together, unlike ROWS frames) plus first/last_value
    * over the partition. */
  val q44: Q = Q(
    "q44_window_range_frame",
    run = { (spark, dir) =>
      val o = Tables.orders(spark, dir)
        .withColumn("day_no",
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast(DateType)))
      val byCust = Window.partitionBy("o_custkey").orderBy(col("day_no"))
      val full = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      o.select(
        col("o_orderkey"), col("o_custkey"), col("day_no"),
        sum(dec(col("o_totalprice"))).over(byCust.rangeBetween(-30, 0))
          .cast(DoubleType).as("spend_30d"),
        first(col("o_totalprice")).over(full).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"))
    },
    oracle = Some("""
      WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
                   CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day_no
                 FROM orders)
      SELECT o_orderkey, o_custkey, day_no,
        CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,4)))
          OVER (PARTITION BY o_custkey ORDER BY day_no
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS spend_30d,
        first_value(o_totalprice)
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
        last_value(o_totalprice)
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
      FROM o"""))

  /** Q45 — grouped exact percentiles (linear interpolation in both
    * engines). Round 17: the exact `Percentile` agg was the registry's
    * last ObjectHashAggregate whose state is a value→count map merged
    * per group key (~190k distinct prices per flag at sf0.1 — the same
    * single-reducer cliff q233 hit at 100×); the cuts now come from
    * [[graft.operators.Quantiles.exactCuts]] — three codegen passes
    * with constant distributed state (per-group bounds, a bins-cell
    * histogram, a rank-pruned candidate sort), pinned bit-identical to
    * the agg by WarehouseSpec. min/max ride the first pass. */
  val q45: Q = Q(
    "q45_percentiles",
    run = { (spark, dir) =>
      val res = graft.operators.Quantiles.exactCuts(
        Tables.lineitem(spark, dir)
          .select(col("l_returnflag"), col("l_extendedprice")),
        Some("l_returnflag"), "l_extendedprice", Seq(0.25, 0.5, 0.75))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      res.foreach { case (b, cuts) =>
        rows.add(org.apache.spark.sql.Row(b.key,
          if (cuts == null) null else cuts(0),
          if (cuts == null) null else cuts(1),
          if (cuts == null) null else cuts(2), b.mn, b.mx))
      }
      spark.createDataFrame(rows, StructType(Seq(
        StructField("l_returnflag", StringType),
        StructField("p25", DoubleType),
        StructField("median", DoubleType),
        StructField("p75", DoubleType),
        StructField("lo", DoubleType),
        StructField("hi", DoubleType))))
    },
    oracle = Some("""
      SELECT l_returnflag,
        quantile_cont(l_extendedprice, 0.25) AS p25,
        quantile_cont(l_extendedprice, 0.5) AS median,
        quantile_cont(l_extendedprice, 0.75) AS p75,
        min(l_extendedprice) AS lo,
        max(l_extendedprice) AS hi
      FROM lineitem GROUP BY l_returnflag"""))

  val all: Seq[Q] = Seq(q44, q45)
}
