package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Quantiles
import graft.queries.Warehouse

/** Semantic contracts for the q93/q94 warehouse operators: interval
  * chaining for the SCD-2 compaction, and MERGE bookkeeping. */
class WarehouseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("q93 compacts runs and chains intervals gaplessly") {
    val events = Seq(
      // user 10: A A B A  -> 3 intervals A,B,A
      (1L, "A", ts("2024-01-01 00:00:00"), 10L),
      (2L, "A", ts("2024-01-01 01:00:00"), 10L),
      (3L, "B", ts("2024-01-01 02:00:00"), 10L),
      (4L, "A", ts("2024-01-01 03:00:00"), 10L),
      // user 2: single event -> one open interval
      (5L, "C", ts("2024-01-02 00:00:00"), 20L),
      // user 30: same-ts tie broken by event_id (B then A by id order)
      (6L, "B", ts("2024-01-03 00:00:00"), 30L),
      (7L, "A", ts("2024-01-03 00:00:00"), 30L))
      .toDF("event_id", "event_type", "ts", "user_id")
    val out = Warehouse.stateIntervals(events)
      .orderBy("user_id", "valid_from")
      .collect()

    val u10 = out.filter(_.getLong(0) == 10L)
    assert(u10.map(_.getString(1)).toSeq == Seq("A", "B", "A"))
    // each interval's valid_to equals the next interval's valid_from
    u10.sliding(2).foreach { case Array(a, b) =>
      assert(a.getTimestamp(3) == b.getTimestamp(2))
    }
    assert(u10.last.isNullAt(3) && u10.last.getBoolean(4))
    assert(u10.count(_.getBoolean(4)) == 1)

    val u20 = out.filter(_.getLong(0) == 20L)
    assert(u20.length == 1 && u20.head.getBoolean(4))

    // tie at identical ts: event_id 6 (B) precedes 7 (A)
    val u30 = out.filter(_.getLong(0) == 30L)
    assert(u30.map(_.getString(1)).toSeq == Seq("B", "A"))
  }

  test("q93 on the fixture: per-user intervals partition the event span") {
    val events = Tables.events(spark, TestSpark.sf0001)
      .filter(col("event_type").isNotNull)
    val out = Warehouse.stateIntervals(events).cache()
    // exactly one open (current) interval per user
    val open = out.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_open"))
      .filter(col("n_open") =!= 1)
    assert(open.count() == 0)
    // first interval starts at the user's first event
    val firsts = events.groupBy("user_id").agg(min("ts").as("first_ts"))
    val mismatch = out.groupBy("user_id")
      .agg(min("valid_from").as("start"))
      .join(firsts, "user_id")
      .filter(col("start") =!= col("first_ts"))
    assert(mismatch.count() == 0)
    // compaction never grows the row count
    assert(out.count() <= events.count())
    out.unpersist()
  }

  test("q94 merge applies deletes, updates, and inserts exactly once") {
    val base = Tables.customer(spark, TestSpark.sf0001).cache()
    val out = Warehouse.mergeUpsert(base, Warehouse.syntheticChanges(base))
      .cache()
    val nBase = base.count()
    val nDel = base.filter(col("c_custkey") % 100 === 0).count()
    val nUpd = base.filter(col("c_custkey") % 100 =!= 0 &&
      col("c_custkey") % 10 === 0).count()
    val nIns = base.filter(col("c_custkey") % 50 === 0).count()
    assert(out.count() == nBase - nDel + nIns)
    assert(out.filter(col("change") === "updated").count() == nUpd)
    assert(out.filter(col("change") === "inserted").count() == nIns)
    // no deleted key survives (fixture keys start at 0; inserts at +1e6)
    assert(out.filter(col("c_custkey") % 100 === 0 &&
      col("c_custkey") < 1000000).count() == 0)
    // updated rows carry base balance + 100
    val delta = out.filter(col("change") === "updated")
      .join(base.select(col("c_custkey"), col("c_acctbal").as("old_bal")),
        "c_custkey")
      .filter(abs(col("c_acctbal") - col("old_bal") - 100.0) > 1e-9)
    assert(delta.count() == 0)
    // inserted rows: re-keyed, zero balance, NEW segment
    val badIns = out.filter(col("change") === "inserted" &&
      (col("c_custkey") < 1000000 || col("c_acctbal") =!= 0.0 ||
        col("c_mktsegment") =!= "NEW"))
    assert(badIns.count() == 0)
    out.unpersist(); base.unpersist()
  }

  test("q94 merge with an empty changeset keeps every row untouched") {
    val base = Tables.customer(spark, TestSpark.sf0001)
    val empty = Warehouse.syntheticChanges(base).filter(col("op") === "X")
    val out = Warehouse.mergeUpsert(base, empty).cache()
    try {
      assert(out.count() == base.count())
      assert(out.filter(col("change") =!= "kept").count() == 0)
      val drift = out.join(
        base.select(col("c_custkey"), col("c_acctbal").as("b0")), "c_custkey")
        .filter(col("c_acctbal") =!= col("b0"))
      assert(drift.count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q93 compaction is idempotent: intervals re-compact to themselves") {
    val events = Tables.events(spark, TestSpark.sf0001)
      .filter(col("event_type").isNotNull)
    val once = Warehouse.stateIntervals(events).cache()
    try {
      // feed the intervals back as an event stream (valid_from as ts):
      // consecutive types differ by construction, so nothing collapses
      val asEvents = once.select(col("user_id"), col("event_type"),
        col("valid_from").as("ts"),
        monotonically_increasing_id().as("event_id"))
      val twice = Warehouse.stateIntervals(asEvents)
      assert(twice.count() == once.count())
      assert(twice.select("user_id", "event_type", "valid_from")
        .exceptAll(once.select("user_id", "event_type", "valid_from"))
        .count() == 0)
    } finally { once.unpersist(); () }
  }

  // ---- q171 point-in-time enrichment ----

  test("q171: purchases carry the state RUN valid at purchase time (run start, not last event)") {
    val events = Seq(
      // user 10: view@0, click@1, click@2, purchase@3 — state is the
      // click RUN since 01:00 (NOT 02:00 — the SCD semantics)
      (1L, "view", ts("2024-01-01 00:00:00"), 10L),
      (2L, "click", ts("2024-01-01 01:00:00"), 10L),
      (3L, "click", ts("2024-01-01 02:00:00"), 10L),
      (4L, "purchase", ts("2024-01-01 03:00:00"), 10L),
      // user 20: purchase BEFORE any state — nulls, not a dropped row
      (5L, "purchase", ts("2024-01-02 00:00:00"), 20L),
      (6L, "view", ts("2024-01-02 01:00:00"), 20L),
      // user 30: state change at the purchase's EXACT ts applies
      (7L, "view", ts("2024-01-03 00:00:00"), 30L),
      (8L, "error", ts("2024-01-03 05:00:00"), 30L),
      (9L, "purchase", ts("2024-01-03 05:00:00"), 30L))
      .toDF("event_id", "event_type", "ts", "user_id")
    val out = Warehouse.pointInTimeState(events).collect()
      .map(r => r.getLong(0) ->
        (Option(r.getString(3)), Option(r.getTimestamp(4)))).toMap
    assert(out(4L) == ((Some("click"), Some(ts("2024-01-01 01:00:00")))),
      s"run-start semantics broken: $out")
    assert(out(5L) == ((None, None)), s"pre-state purchase: $out")
    assert(out(9L) == ((Some("error"), Some(ts("2024-01-03 05:00:00")))),
      s"same-ts state change must apply: $out")
    assert(out.size == 3)
  }

  test("q171 registry run: every purchase appears exactly once; state never 'purchase'") {
    val out = queries.Warehouse.q171.run(spark, TestSpark.sf0001)
    val purchases = Tables.events(spark, TestSpark.sf0001)
      .filter(col("event_type") === "purchase")
    assert(out.count() == purchases.count())
    assert(out.filter(col("state_at") === "purchase").count() == 0)
    // since-ts never after the purchase ts
    assert(out.filter(col("state_since_us") > col("ts_us")).count() == 0)
  }

  test("q198 RFM: quintiles near-partition customers, recency score inverts, scores agree with raw ranks") {
    val out = queries.Warehouse.q198.run(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(out.nonEmpty)
    // each score dimension spans 1..5 and no quintile exceeds a 2/5
    // share plus ties (value-cutpoint semantics put ties together)
    Seq[((Long, Int, Long, Double, Int, Int, Int)) => Int](
      _._5, _._6, _._7).foreach { f =>
      val scores = out.map(f)
      assert(scores.forall(s => s >= 1 && s <= 5), "score outside 1..5")
      assert(scores.toSet.size >= 3, "degenerate quintiles")
    }
    // inversion law: the customer(s) with the SMALLEST recency_days
    // carry the maximal r_score; the largest recency_days the minimal
    val minR = out.map(_._2).min; val maxR = out.map(_._2).max
    val rAtMin = out.filter(_._2 == minR).map(_._5).toSet
    val rAtMax = out.filter(_._2 == maxR).map(_._5).toSet
    assert(rAtMin.forall(a => out.map(_._5).forall(a >= _)),
      "most recent customer not at the top recency score")
    assert(rAtMax.forall(a => out.map(_._5).forall(a <= _)),
      "least recent customer not at the bottom recency score")
    // monotone: higher monetary never gets a lower m_score
    out.sortBy(_._4).sliding(2).foreach {
      case Array(a, b) => assert(a._7 <= b._7,
        s"monetary ${a._4}→${b._4} dropped m_score ${a._7}→${b._7}")
      case _ =>
    }
  }

  test("q199 Lorenz: shares conserve to ppm truncation, cumulative is monotone, the top decile dominates") {
    val out = queries.Warehouse.q199.run(spark, TestSpark.sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.nonEmpty && out.length <= 10)
    val shareSum = out.map(_._3).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - out.length,
      s"decile shares sum to $shareSum")
    assert(out.last._4 > 1000000L - out.length.toLong &&
      out.last._4 <= 1000000L, s"cumulative does not close: ${out.last}")
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._4 <= b._4, "cumulative share not monotone")
        // per-CUSTOMER spend is monotone across deciles by construction
        // (value cutpoints); per-decile TOTALS need not be — tie skew
        // can pile customers into one decile
        assert(a._3 / a._2 <= b._3 / b._2 + 2,
          s"per-customer share dropped across deciles: $a -> $b")
      case _ =>
    }
    assert(out.last._3 / out.last._2 >= out.head._3 / out.head._2,
      "top spend decile does not dominate the bottom per customer")
  }

  test("exactCuts ungrouped is BIT-identical to the percentile agg " +
      "(fixture + adversarial: ties on cuts, hot duplicates, tiny n, " +
      "constant column, negatives, nulls, wide range, keys above 2^53)") {
    def aggCuts(df: org.apache.spark.sql.DataFrame): Seq[Double] = {
      val r = df.agg(percentile(col("v"),
        array((1 to 9).map(i => lit(i / 10.0)): _*)).as("cuts")).head()
      if (r.isNullAt(0)) null else r.getSeq[Double](0)
    }
    def fastCuts(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      Quantiles.exactCuts(df, None, "v", (1 to 9).map(_ / 10.0)).head._2
    def check(vals: Seq[Long], label: String): Unit =
      checkOpt(vals.map(Some(_)), label)
    def checkOpt(vals: Seq[Option[Long]], label: String): Unit = {
      val df = vals.toDF("v")
      val (a, f) = (aggCuts(df), fastCuts(df))
      assert(a == f ||
        (a != null && f != null && a.size == f.size &&
          a.zip(f).forall { case (x, y) =>
            java.lang.Double.doubleToRawLongBits(x) ==
              java.lang.Double.doubleToRawLongBits(y) }),
        s"$label: agg=$a fast=$f")
    }
    // the real q233 stream at sf0.001
    val scored = graft.Tables.lineitem(spark, TestSpark.sf0001)
      .select((col("l_extendedprice").cast("decimal(12,4)") * 10000)
        .cast("long").as("v"))
    check(scored.collect().map(_.getLong(0)).toIndexedSeq, "sf0.001 cents")
    // adversarial shapes (small bins force every code path: duplicate
    // keys straddling ranks, lower==higher collapse, hot-value bins)
    check(Seq(1L), "n=1")
    check(Seq(5L, 5L), "n=2 equal")
    check(Seq(1L, 2L), "n=2 distinct")
    check(Seq(-7L, -7L, 0L, 3L), "negatives + dup")
    check(Seq.fill(1000)(42L), "constant column")
    check((1L to 100L) ++ Seq.fill(900)(50L), "hot value 50")
    check((0L until 1000L).map(i => i % 10), "10 heavy duplicates")
    check(Seq.tabulate(997)(i => (i * i * 2654435761L) % 100000),
      "pseudo-random")
    // a range wider than 2^63/8192: an integer (v − mn)·bins would overflow
    check(Seq(0L, 1000000000000000L, 2000000000000000L), "range > 2^63/8192")
    // nulls are ignored, as the agg ignores them (not counted, not binned)
    checkOpt(Seq(Some(1L), None, Some(3L), Some(5L), None), "nulls")
    // distinct keys above 2^53 that round to one double: the agg
    // compares them as Longs and interpolates (q=0.3 → bits
    // 4879132438521338732), never short-circuits on the double
    check(Seq.fill(205)(1596836276854287000L) ++
      Seq.fill(479)(1596836276854287001L), "keys above 2^53")
    // empty input: both sides yield the null-cuts row
    val empty = spark.emptyDataset[Long].toDF("v")
    assert(aggCuts(empty) == null && fastCuts(empty) == null)
  }

  test("exactCuts grouped is BIT-identical to the grouped " +
      "percentile agg (fixture + adversarial: nulls, tiny groups, " +
      "constant group, hot values, signed zero, negatives)") {
    def bits(d: java.lang.Double): Long =
      if (d == null) Long.MinValue + 17
      else java.lang.Double.doubleToRawLongBits(d)
    def aggSide(df: org.apache.spark.sql.DataFrame, qs: Seq[Double])
        : Map[Any, (Seq[Long], Long, Long)] =
      df.groupBy(col("g"))
        .agg(percentile(col("v"), array(qs.map(lit(_)): _*)).as("ps"),
          min(col("v")).as("lo"), max(col("v")).as("hi"))
        .collect().map { r =>
          r.get(0) -> ((
            if (r.isNullAt(1)) null
            else r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits),
            bits(if (r.isNullAt(2)) null else r.getDouble(2)),
            bits(if (r.isNullAt(3)) null else r.getDouble(3))))
        }.toMap
    def fastSide(df: org.apache.spark.sql.DataFrame, qs: Seq[Double],
        bins: Int): Map[Any, (Seq[Long], Long, Long)] =
      Quantiles.exactCuts(df, Some("g"), "v", qs, bins)
        .map { case (b, cuts) =>
          b.key -> ((
            if (cuts == null) null
            else cuts.map(java.lang.Double.doubleToRawLongBits),
            bits(b.mn.asInstanceOf[java.lang.Double]),
            bits(b.mx.asInstanceOf[java.lang.Double])))
        }.toMap
    def check(rows: Seq[(String, Option[Double])], label: String,
        qs: Seq[Double] = Seq(0.25, 0.5, 0.75), bins: Int = 8192): Unit = {
      val df = rows.toDF("g", "v")
      val (a, f) = (aggSide(df, qs), fastSide(df, qs, bins))
      assert(a == f, s"$label: agg=$a fast=$f")
    }
    // the real q45 input at sf0.001
    val li = graft.Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      .collect().map(r => (r.getString(0), Some(r.getDouble(1)): Option[Double]))
      .toIndexedSeq
    check(li, "sf0.001 lineitem")
    check(li, "sf0.001 lineitem, tiny bins (multi-rank bins)", bins = 4)
    // adversarial shapes
    check(Seq(("a", Some(1.0))), "single row")
    check(Seq(("a", Some(5.0)), ("a", Some(5.0)), ("b", Some(1.0)),
      ("b", Some(2.0))), "n=2 equal / n=2 distinct")
    check(Seq(("a", Some(-7.5)), ("a", Some(-7.5)), ("a", Some(0.0)),
      ("a", Some(3.25))), "negatives + dup")
    check(Seq.fill(500)(("c", Some(42.0))) ++
      Seq(("d", Some(1.0)), ("d", Some(2.0))),
      "constant group beside a tiny one")
    check((1 to 100).map(i => ("h", Some(i.toDouble))) ++
      Seq.fill(900)(("h", Some(50.0))),
      "hot value straddling ranks", bins = 8)
    check(Seq(("z", Some(-0.0)), ("z", Some(0.0)), ("z", Some(0.0))),
      "signed-zero interpolation")
    check(Seq(("n", Some(1.0)), ("n", None), ("n", Some(3.0)),
      ("e", None)), "nulls inside a group; all-null group")
    check(Seq.tabulate(997)(i =>
      ((i % 3).toString,
        Some(((i * i * 2654435761L) % 100000).toDouble / 7.0))),
      "pseudo-random three groups", bins = 16)
  }
}
