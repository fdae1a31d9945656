package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SkewJoin
import graft.sources.EventsLayout

/** Scale-mechanics specs: salted joins preserve semantics, partitioned
  * layout prunes, approx aggregates stay within bounds, late streaming
  * rows beyond the watermark are dropped. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join returns exactly the plain join's rows") {
    val left = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), col("o_custkey"))
    val right = Tables.customer(spark, TestSpark.sf0001)
      .select(col("c_custkey"), col("c_mktsegment"))
    val plain = left.join(right, col("o_custkey") === col("c_custkey")).count()
    val salted = SkewJoin.saltedInnerJoin(left, "o_custkey", right, "c_custkey", 8)
    assert(salted.count() == plain)
    assert(salted.columns.toSet ==
      Set("o_orderkey", "o_custkey", "c_custkey", "c_mktsegment"))
  }

  test("date-partitioned events layout prunes partitions on a date filter") {
    val dir = Files.createTempDirectory("events_part").toString
    EventsLayout.writePartitionedByDay(Tables.events(spark, TestSpark.sf0001), dir)
    val read = EventsLayout.readPartitioned(spark, dir)
      .filter(col("event_date") === "2024-01-05")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("event_date"))
    // pruned read returns exactly that day's rows
    val expect = Tables.events(spark, TestSpark.sf0001)
      .filter(to_date(col("ts")) === "2024-01-05").count()
    assert(read.count() == expect)
  }

  test("bucketed co-located join plans without an exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(spark, TestSpark.sf0001), "orders_b", "o_orderkey", 4)
      graft.sources.Bucketing.writeBucketed(
        Tables.lineitem(spark, TestSpark.sf0001), "lineitem_b", "l_orderkey", 4)
      val joined = graft.sources.Bucketing.bucketedJoin(
        spark, "orders_b", "lineitem_b", "o_orderkey", "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${plan.take(2000)}")
      // and it returns the same rows as the plain join
      val plain = Tables.orders(spark, TestSpark.sf0001)
        .join(Tables.lineitem(spark, TestSpark.sf0001),
          col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() == plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("as-of join plans exactly one shuffle (plan-shape regression guard)") {
    val plan = graft.queries.Analytic.q13.run(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"as-of join should shuffle once on user_id, found $exchanges:\n${plan.take(1500)}")
  }

  test("codegen VecDotFloat is bit-identical to the HOF dot product") {
    import graft.functions.VectorFunctions
    GraftExtensions.install(spark)
    val e = Tables.embeddings(spark, TestSpark.sf0001).limit(200)
    val diff = e.select(
        expr("vec_dot_f(embedding, embedding)").as("fast"),
        VectorFunctions.dot(
          VectorFunctions.vecToDouble(col("embedding")),
          VectorFunctions.vecToDouble(col("embedding"))).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() == 0)
    // the kernel's cosine and squared-L2 on the same 200 rows against
    // one fixed query vector: bit-equal to the HOF cosine and to a
    // driver-side index-order double loop
    val rows = e.filter(col("embedding").isNotNull)
    val q = rows.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").as("qemb"))
    val scored = VectorFunctions.withNorm(rows.crossJoin(q))
      .withColumn("qnrm", VectorFunctions.normF(col("qemb")))
      .select(col("embedding"), col("qemb"),
        VectorFunctions.cosineF(col("embedding"), col("qemb"), col("nrm"),
          col("qnrm")).as("cos"),
        VectorFunctions.cosine(VectorFunctions.vecToDouble(col("embedding")),
          VectorFunctions.vecToDouble(col("qemb"))).as("cos_ref"),
        VectorFunctions.sqL2("embedding", "qemb").as("l2"))
      .collect()
    assert(scored.length > 100)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    scored.foreach { r =>
      val a = r.getSeq[Float](0)
      val b = r.getSeq[Float](1)
      var dot, na, nb, l2 = 0.0
      a.indices.foreach { i =>
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y; l2 += (x - y) * (x - y)
      }
      val cos = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(bits(r.getDouble(2)) == bits(r.getDouble(3)), r.getDouble(2))
      assert(bits(r.getDouble(2)) == bits(cos), r.getDouble(2))
      assert(bits(r.getDouble(4)) == bits(l2), r.getDouble(4))
    }
  }

  test("q39 HLL estimate stays within the analytic error of exact") {
    // m=256 registers → standard error 1.04/√256 ≈ 6.5%; assert a 3σ
    // band (~20%). The exact count lives HERE, not in the timed plan —
    // carrying it there doubled q39's cost (round-16 trim).
    val out = graft.queries.Approximate.q39.run(spark, TestSpark.sf0001)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Double]("hll_est")).toMap
    val exact = graft.Tables.lineitem(spark, TestSpark.sf0001)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("ed"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty && out.keySet == exact.keySet)
    out.foreach { case (flag, est) =>
      val ed = exact(flag)
      assert(math.abs(est - ed) / ed < 0.2,
        s"$flag HLL estimate off: $est vs exact $ed")
    }
  }

  test("q39 HLL small-range arm switches to linear counting") {
    import spark.implicits._
    // 40 distinct keys over 256 registers → occupied < m and the raw
    // estimate sits under 2.5m, so the CASE must take the
    // linear-counting arm (never exercised by the saturated fixtures)
    val small = (1L to 40L).map(k => ("G", k)).toDF("flag", "k")
    val r = graft.queries.Approximate.hllDistinct(small).collect().head
    val occ = r.getAs[Long]("occupied_regs")
    val est = r.getAs[Double]("hll_est")
    assert(occ < 256, s"40 keys cannot occupy all registers: $occ")
    val lc = 256.0 * math.log(256.0 / (256.0 - occ))
    assert(math.abs(est - lc) < 1e-9,
      s"small-range arm must be exactly the LC formula: $est vs $lc")
    assert(math.abs(est - 40.0) / 40.0 < 0.2, s"LC estimate off: $est")
  }

  test("session_window MERGES at exactly the gap (inclusive boundary)") {
    import spark.implicits._
    // verified empirically: an event at exactly prev_ts + gap extends the
    // session (Spark merges on newStart <= sessionEnd), so the q22 oracle
    // must use <= in its gaps-and-islands merge condition
    val df = Seq(
      (1L, "2024-01-01 09:00:00", 1L),
      (2L, "2024-01-01 09:30:00", 1L),   // == gap -> SAME session
      (3L, "2024-01-02 09:00:00", 2L),
      (4L, "2024-01-02 09:30:00.000001", 2L)) // > gap -> new session
      .toDF("event_id", "tsStr", "user_id")
      .withColumn("ts", to_timestamp(col("tsStr")))
    val sessions = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count()
    val byUser = sessions.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byUser(1L) == 1, "exact-gap events must merge")
    assert(byUser(2L) == 2, "beyond-gap events must split")
  }

  test("streaming drops late rows beyond the watermark (append mode)") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("late_events")
    def mk(rows: Seq[(Long, String, Long, String, Double, String)], f: String): Unit =
      rows.toDF("event_id", "tsStr", "user_id", "event_type", "value", "props")
        .withColumn("ts", unix_micros(to_timestamp(col("tsStr"))) * 1000)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.mode("overwrite").parquet(s"$dir/$f")
    // batch 1: events up to 12:00; watermark (1h) will settle at 11:00
    mk(Seq(
      (1L, "2024-01-01 09:30:00", 1L, "click", 1.0, "{}"),
      (2L, "2024-01-01 12:00:00", 1L, "click", 1.0, "{}")), "f1")
    val src = spark.readStream.schema(graft.streaming.EventStreams.rawSchema)
      .parquet(s"$dir/f*")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val agg = src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("late_test").start()
    q.processAllAvailable() // batch 1 only: watermark now 11:00
    // batch 2, AFTER the watermark advanced: a late 09:45 row (dropped)
    // plus a 12:30 row (kept, but its window never finalizes)
    mk(Seq(
      (3L, "2024-01-01 09:45:00", 1L, "click", 1.0, "{}"),
      (4L, "2024-01-01 12:30:00", 1L, "click", 1.0, "{}")), "f2")
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("late_test").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // the 09:00 window was finalized by the watermark after batch 1 with
    // n=1; the late 09:45 row must NOT appear in any later emission
    assert(emitted.getOrElse("2024-01-01 09:00:00.0", 0L) == 1L,
      s"expected 09:00 window emitted with n=1, got $emitted")
  }

  // ---- q159 count-min sketch ----

  private def tfOfDocs(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  test("q159: CMS estimates never undercount, and are exact on the collision-free fixture vocabulary") {
    val rows = queries.Approximate.q159.run(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("true_cnt"),
        s"CMS undercounted: $r")
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("cms_est") - r.getAs[Long]("true_cnt"))
    }
    // the ~30-word fixture vocabulary in 4x1024 cells: collisions in
    // ALL FOUR rows simultaneously are vanishingly unlikely, so the
    // min-over-rows estimate should be exact here
    assert(rows.forall(_.getAs[Long]("overcount") == 0L),
      "fixture-scale sketch unexpectedly collided in every row")
  }

  test("q160: histogram quantile estimates land within one bin width of the exact percentile") {
    val rows = queries.Approximate.q160.run(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    val exact = Tables.lineitem(spark, TestSpark.sf0001)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.50, 0.90, 0.99))")
        .as("p"),
        ((max(col("l_extendedprice")) - min(col("l_extendedprice")))
          / 256.0).as("w"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (ps, w) = exact(r.getString(0))
      val p = r.getInt(1) match {
        case 50 => ps(0); case 90 => ps(1); case 99 => ps(2)
      }
      assert(math.abs(r.getDouble(4) - p) <= w + 1e-9,
        s"estimate ${r.getDouble(4)} further than a bin width from $p: $r")
    }
  }

  test("q160: histograms are MERGEABLE — binning A and B separately sums to the union's bins") {
    val vals = Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("v"), col("l_orderkey"))
    // fixed global bounds so both halves bin identically
    val Seq(mn, mx) = vals.agg(min("v"), max("v")).collect()
      .flatMap(r => Seq(r.getDouble(0), r.getDouble(1))).toSeq
    def binsOf(d: org.apache.spark.sql.DataFrame): Map[(String, Int), Long] =
      d.withColumn("bin", least(lit(255),
          floor((col("v") - lit(mn)) * 256 / lit(mx - mn)).cast("int")))
        .groupBy("flag", "bin").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
        .toMap
    val a = binsOf(vals.filter(col("l_orderkey") % 2 === 0))
    val b = binsOf(vals.filter(col("l_orderkey") % 2 === 1))
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == binsOf(vals))
  }

  test("q160 assembly: a constant group and a one-row group estimate mn from bin 0") {
    val rows = queries.Approximate.histEstimates(
      (Seq.fill(3)(("A", 7.5)) :+ ("B", 2.25)).toDF("flag", "v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).sortBy(r => (r._1, r._2)).toSeq
    // mx == mn: bin 0, est = mn, for every qpct
    assert(rows == Seq(("A", 50, 3L, 0, 7.5), ("A", 90, 3L, 0, 7.5),
      ("A", 99, 3L, 0, 7.5), ("B", 50, 1L, 0, 2.25), ("B", 90, 1L, 0, 2.25),
      ("B", 99, 1L, 0, 2.25)))
  }

  test("q161: linear-count estimates at least the occupied cells and tracks truth at fixture load factors") {
    val rows = queries.Approximate.q161.run(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tru, occ) = (r.getAs[Long]("true_distinct"),
        r.getAs[Long]("occupied_cells"))
      assert(occ <= tru, s"more occupied cells than distinct users: $r")
      assert(!r.isNullAt(3), s"fixture day saturated the 4096 cells: $r")
      val est = r.getDouble(3)
      assert(est >= occ - 1e-9, s"estimate below occupied cells: $r")
      // fixture load factor is tiny — the estimator must be close
      assert(math.abs(est - tru) <= math.max(2.0, 0.1 * tru),
        s"linear count off by >10% at low load: est=$est true=$tru")
    }
  }

  test("q238 bloom semi-join: ZERO false negatives; FP residue inside the analytic band") {
    val facts = graft.Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_orderkey").as("k"), col("l_returnflag").as("flag"))
    val keys = graft.Tables.orders(spark, TestSpark.sf0001)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("k"))
    val out = graft.queries.Approximate.bloomSemiJoin(facts, keys)
      .collect()
    // the bloom guarantee: a set bit is never cleared, so every true
    // match passes — n_true per flag must equal the exact semi-join
    val exact = facts.join(keys, Seq("k"), "left_semi")
      .groupBy(col("flag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty && out.map(_.getString(0)).toSet == exact.keySet)
    out.foreach { r =>
      assert(r.getAs[Long]("n_true") == exact(r.getString(0)),
        s"FALSE NEGATIVE: $r vs exact ${exact(r.getString(0))}")
      assert(r.getAs[Long]("n_false_pos") >= 0 &&
        r.getAs[Long]("n_pass") ==
          r.getAs[Long]("n_true") + r.getAs[Long]("n_false_pos"))
    }
    // FP band: per-probe FP probability (1 − e^(−dn/m))^d over the
    // non-matching rows; 5× + 5 slack absorbs the deterministic hash's
    // fixed draw
    val n = keys.count().toDouble
    val p = math.pow(1 - math.exp(-3.0 * n / (1 << 20)), 3)
    val nonMatch = facts.count() - exact.values.sum
    val fpTotal = out.map(_.getAs[Long]("n_false_pos")).sum
    assert(fpTotal <= 5 * p * nonMatch + 5,
      s"FP residue $fpTotal above the analytic band (${p * nonMatch} expected)")
  }

  test("q159: the sketch is MERGEABLE — cells(A ∪ B) equals cells(A) ⊕ cells(B)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    def cellsMap(d: org.apache.spark.sql.DataFrame): Map[(Int, Int), Long] =
      queries.Approximate.cmsCells(tfOfDocs(d)).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Long]("cell_cnt"))
        .toMap
    val (ca, cb, cab) = (cellsMap(a), cellsMap(b), cellsMap(docs))
    val merged = (ca.keySet ++ cb.keySet).map(k =>
      k -> (ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L))).toMap
    assert(merged == cab,
      "cell-wise sum of the split sketches differs from the union's sketch")
  }
}
