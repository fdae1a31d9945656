package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 100× scale dry-run: the evidence pass for "would this plan survive a
  * 100× scale-up" (the 10× pass lives in [[ScaleDryRun]]; this tool
  * takes the headline shapes to 100× sf0.1 — 60M lineitem rows, 500k
  * documents, 10M events, 200k vectors — and records 1×/10×/100×
  * ratios). Run with SPARK_DRIVER_MEM=48g; results are transcribed into
  * BASELINE.md's round-8 section.
  *
  * Growth is a BIGGER WORLD, not replication: every copy gets offset
  * keys (fresh orderkeys/doc_ids/user_ids/vec_ids) and, for text,
  * shuffled tokens — so joins stay 1:1 per key, dup groups keep their
  * planted density, and a ratio measures PLAN scaling, not the
  * (semantic) output blow-up of 100-deep duplicate groups.
  */
object ScaleDryRun100 {
  def main(args: Array[String]): Unit = {
    val cpus = graft.Sessions.envCpus
    val spark = graft.Sessions.local(cpus)
    val dir = "/root/testdata/sf0.1"

    def timed(df: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def row(name: String, t: Double, n: Long, note: String = ""): Unit =
      println(f"[scale-100] $name%-28s $t%8.2f s  ($n rows)$note")

    // ---- relational: 1x / 10x / 100x with offset join keys ----
    val li0 = spark.read.parquet(s"$dir/lineitem.parquet")
    val o0 = spark.read.parquet(s"$dir/orders.parquet")
    def growKeyed(df: DataFrame, mult: Int, keys: Seq[String],
        stride: Long = 100000000L): DataFrame =
      (0 until mult).map { i =>
        if (i == 0) df
        else keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * stride)))
      }.reduce(_ unionByName _).repartition(cpus)

    def relational(tag: String, mult: Int): (Double, Double) = {
      val li = growKeyed(li0, mult, Seq("l_orderkey"))
      val o = growKeyed(o0, mult, Seq("o_orderkey"))
      import graft.functions.Exact._
      val (tAgg, nAgg) = timed(
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(dsum(col("l_quantity")).as("sum_qty"),
            dsumExpr(dec(col("l_extendedprice")) *
              (lit(1) - dec(col("l_discount")))).as("rev"),
            count(lit(1)).as("n")))
      row(s"tpch_q1_agg_$tag", tAgg, nAgg)
      val (tJoin, nJoin) = timed(
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(dsumExpr(dec(col("l_extendedprice")) *
            (lit(1) - dec(col("l_discount")))).as("rev"),
            count(lit(1)).as("n")))
      row(s"fact_fact_join_$tag", tJoin, nJoin)
      (tAgg, tJoin)
    }
    // warm-up then measure
    li0.agg(count(lit(1))).queryExecution.toRdd.count()
    val (a1, j1) = relational("1x", 1)
    val (a10, j10) = relational("10x", 10)
    val (a100, j100) = relational("100x", 100)
    println(f"[scale-100] RATIO tpch_q1_agg     10x=${a10 / a1}%.1fx 100x=${a100 / a1}%.1fx")
    println(f"[scale-100] RATIO fact_fact_join  10x=${j10 / j1}%.1fx 100x=${j100 / j1}%.1fx")

    // ---- clustering trio at 1x/10x/100x: banded generator + label
    // propagation, with ClusterStats telemetry (rounds / pointer-
    // doubling engagement / per-round changed counts) ----
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
    // decorrelated base growth: shuffled tokens, fresh doc_ids — same
    // vocabulary, distinct shingles, same planted near-dup density
    def decorr(mult: Int): DataFrame =
      (0 until mult).map { i =>
        if (i == 0) docs0
        else docs0.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          concat_ws(" ", shuffle(split(col("text"), " "))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
    // dup-dense: `depth` near-copies per doc (trailing salt token →
    // J ≈ 0.93, rides the NEAR-pair path, not exact-hash star edges)
    def dense(base: DataFrame, depth: Int): DataFrame =
      (0 until depth).map { k =>
        if (k == 0) base
        else base.select((col("doc_id") + lit(k * 100000000L)).as("doc_id"),
          concat(col("text"), lit(s" salt$k")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _).repartition(cpus)

    def clusterCase(tag: String, docs: DataFrame): Double = {
      val t0 = System.nanoTime()
      val (labels, stats) = graft.ext.DedupCluster.clustersWithStats(docs)
      val n = labels.queryExecution.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      row(s"cluster_banded_$tag", t, n,
        s"  rounds=${stats.rounds} hopRounds=${stats.hopRounds} changed=${stats.changed.mkString(",")}")
      t
    }
    val tc1 = clusterCase("1x", dense(docs0, 1))        // 5k docs
    val tc10 = clusterCase("10x", dense(docs0, 10))     // 50k docs, 10-deep
    val tc100 = clusterCase("100x", dense(decorr(10), 10)) // 500k docs, 10-deep
    println(f"[scale-100] RATIO cluster_banded  10x=${tc10 / tc1}%.1fx 100x=${tc100 / tc1}%.1fx")
    // exact generator comparison at 100x (gate configuration)
    val (tex100, nex100) = timed(
      graft.queries.TextOps.jaccardPairs(dense(decorr(10), 10), 0.5))
    row("pairs_exact_100x", tex100, nex100)
    val (tb100, nb100) = timed(
      graft.ext.MinHashDedup.bandedJaccardPairs(dense(decorr(10), 10), 0.5))
    row("pairs_banded_100x", tb100, nb100,
      f"  banded/exact=${tb100 / tex100}%.2fx")

    // ---- late-round-8 text operators at 1x/10x/100x ----
    // q96 chunk dedup: decorrelated growth keeps duplicate multiplicity
    // flat, so the chunk_text window's bucket bound is exercised at
    // 500k docs / ~8M chunks
    def cdCase(tag: String, docs: DataFrame): Double = {
      val (t, n) = timed(graft.queries.PipelineOps.chunkDedup(
        docs.filter(col("text").isNotNull).repartition(cpus)))
      row(s"chunk_dedup_$tag", t, n)
      t
    }
    val cd1 = cdCase("1x", docs0)
    val cd10 = cdCase("10x", decorr(10))
    val cd100 = cdCase("100x", decorr(100))
    println(f"[scale-100] RATIO chunk_dedup     10x=${cd10 / cd1}%.1fx 100x=${cd100 / cd1}%.1fx")
    // q97 containment: mostly-distinct shingles at 100x is the worst
    // case for the rare universe (grows with the corpus); the df>50 cap
    // plus the asymmetric size-ratio prune must keep the self-join
    // bucket-bounded — the 100x/1x ratio IS that claim, measured
    def contCase(tag: String, docs: DataFrame): Double = {
      val (t, n) = timed(graft.queries.TextOps.containmentPairs(
        docs.filter(col("text").isNotNull).repartition(cpus)))
      row(s"containment_$tag", t, n)
      t
    }
    val ct1 = contCase("1x", docs0)
    val ct10 = contCase("10x", decorr(10))
    val ct100 = contCase("100x", decorr(100))
    println(f"[scale-100] RATIO containment     10x=${ct10 / ct1}%.1fx 100x=${ct100 / ct1}%.1fx")

    // ---- rolling distinct users: exact vs sketch at 1x/10x/100x ----
    val ev0 = graft.Tables.events(spark, dir)
    def growEvents(mult: Int): DataFrame =
      (0 until mult).map { i =>
        if (i == 0) ev0
        else ev0.select((col("event_id") + lit(i * 1000000000L)).as("event_id"),
          col("ts"), (col("user_id") + lit(i * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _).repartition(cpus)
    def rolling(tag: String, mult: Int): (Double, Double) = {
      val ev = growEvents(mult)
      val (tEx, nEx) = timed(graft.queries.Funnels.rollingDistinctUsers(ev))
      row(s"q75_rolling_exact_$tag", tEx, nEx)
      val (tSk, nSk) = timed(
        graft.queries.Funnels.rollingDistinctUsersSketch(ev))
      row(s"q77_rolling_hll_$tag", tSk, nSk)
      (tEx, tSk)
    }
    val (re1, rs1) = rolling("1x", 1)
    val (re10, rs10) = rolling("10x", 10)
    val (re100, rs100) = rolling("100x", 100)
    println(f"[scale-100] RATIO q75_exact       10x=${re10 / re1}%.1fx 100x=${re100 / re1}%.1fx")
    println(f"[scale-100] RATIO q77_sketch      10x=${rs10 / rs1}%.1fx 100x=${rs100 / rs1}%.1fx")

    // ---- IVF: cold build+query vs amortized query on a built index ----
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb100 = (0 until 100).map { i =>
      if (i == 0) emb0
      else emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        expr("transform(embedding, x -> cast(rand() * 2 - 1 as float))")
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _).repartition(cpus)
    val (tCold, nCold) = timed(graft.ext.Similarity.ivfTopK(emb100))
    row("ivf_cold_build+query_100x", tCold, nCold)
    val tB0 = System.nanoTime()
    val index = graft.ext.Similarity.ivfBuild(emb100).get
    val tBuild = (System.nanoTime() - tB0) / 1e9
    println(f"[scale-100] ivf_build_only_100x          $tBuild%8.2f s")
    val (tQ1, nQ1) = timed(graft.ext.Similarity.ivfQuery(index))
    row("ivf_query_reused_1", tQ1, nQ1)
    val (tQ2, nQ2) = timed(graft.ext.Similarity.ivfQuery(index))
    row("ivf_query_reused_2", tQ2, nQ2,
      f"  amortized/cold=${tQ2 / tCold}%.2fx")

    // ---- q111 SemDeDup at 1x/10x/100x with k ~ sqrt(n) IVF centers ----
    // fixed-k cluster-then-dedup is quadratic inside a cluster; the
    // production contract (q111 scaladoc) scales the center count with
    // the corpus so per-cluster population stays bounded — this measures
    // that contract with the real IVF coarse quantizer as the center set
    def semCase(mult: Int, cells: Int): Double = {
      val e = if (mult == 1) emb0
      else (0 until mult).map { i =>
        if (i == 0) emb0
        else emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          expr("transform(embedding, x -> cast(rand() * 2 - 1 as float))")
            .as("embedding"),
          col("label"))
      }.reduce(_ unionByName _).repartition(cpus)
      val centers = graft.ext.Similarity.ivfBuild(e, nCells = cells).get
        .centroids.select(col("pcell").as("center_id"), col("centroid"))
      val (t, n) = timed(graft.queries.VectorOps.semDedup(e, centers))
      row(s"q111_semdedup_${mult}x", t, n, s"  (k=$cells)")
      t
    }
    val sd1 = semCase(1, 16); val sd10 = semCase(10, 50)
    val sd100 = semCase(100, 160)
    println(f"[scale-100] RATIO q111_semdedup   10x=${sd10 / sd1}%.1fx 100x=${sd100 / sd1}%.1fx")

    // ---- q101 PageRank at 1x/10x/100x ORDERS over the fixed catalog ----
    // the realistic growth direction (more baskets, same entities): the
    // per-order self-join and edge distinct absorb the volume; the ten
    // iteration rounds run over entity-count rank state regardless of
    // scale, so the ratio isolates the edge-build cost
    def prCase(mult: Int): Double = {
      val baskets = growKeyed(
        li0.select(col("l_orderkey").as("ok"), col("l_partkey").as("part")),
        mult, Seq("ok"), stride = 1000000000L)
      val (t, n) = timed(graft.queries.GraphOps.partPageRank(baskets))
      row(s"q101_pagerank_${mult}x", t, n)
      t
    }
    val pr1 = prCase(1); val pr10 = prCase(10); val pr100 = prCase(100)
    println(f"[scale-100] RATIO q101_pagerank   10x=${pr10 / pr1}%.1fx 100x=${pr100 / pr1}%.1fx")

    // ---- skewed fact-dim join A/B at 100x: plain SMJ vs salted vs AQE ----
    // dim keys UNIQUE (single orders copy): output multiplicity 1 per
    // fact row, so the 100x case measures reducer skew, not a key-
    // duplication blow-up. 90% of 60M fact rows share one key → plain
    // static shuffle lands 54M rows on 1 of 32 reducers.
    val li100 = growKeyed(li0, 100, Seq("l_orderkey"))
    val dim = o0.select(col("o_orderkey").as("k2"), col("o_orderpriority"))
    val skewedFact = li100.withColumn("k",
        when(rand(7L) < 0.9, lit(1L)).otherwise(
          pmod(col("l_orderkey"), lit(6000000L)) + 1))
      .select(col("k"), col("l_extendedprice"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (tPlain, nPlain) = timed(skewedFact.join(dim, col("k") === col("k2")))
    val (tSalt, nSalt) = timed(graft.operators.SkewJoin.saltedInnerJoin(
      skewedFact, "k", dim, "k2", factor = 32))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    val (tAqe, nAqe) = timed(skewedFact.join(dim, col("k") === col("k2")))
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
    row("skew100_plain_smj", tPlain, nPlain, "  hot key on 1 of " + cpus + " reducers")
    row("skew100_salted_f32", tSalt, nSalt, f"  speedup ${tPlain / tSalt}%.1fx")
    row("skew100_aqe_split", tAqe, nAqe, f"  speedup ${tPlain / tAqe}%.1fx")
    require(nPlain == nSalt && nPlain == nAqe,
      s"skew mitigation changed row multiplicity: $nPlain / $nSalt / $nAqe")

    // ---- round-14 TPC-H block at 1x/10x/100x ----
    // q220 shape: the 5-way nation-pair join. Orderkeys offset per copy
    // (joins stay 1:1); custkeys FIXED — the realistic 100x world is
    // more orders per customer, so the customer join's fan-in grows
    // while both broadcast sides stay constant.
    def q220Case(mult: Int): Double = {
      val li = growKeyed(li0, mult, Seq("l_orderkey"))
      val o = growKeyed(o0, mult, Seq("o_orderkey"))
      import graft.functions.Exact._
      val nfil = spark.read.parquet(s"$dir/nation.parquet")
        .filter(col("n_name").isin("NATION_3", "NATION_24"))
      val sp = spark.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(nfil), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cu = spark.read.parquet(s"$dir/customer.parquet")
        .join(broadcast(nfil), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val (t, n) = timed(
        li.filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1998-01-01"))
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate")).as("l_year"),
            (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
              .cast(Fine).as("rev_term"))
          .join(broadcast(sp), col("l_suppkey") === col("s_suppkey"))
          .join(o.select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(cu, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(sum(col("rev_term")).as("rev")))
      row(s"q220_pair_trade_${mult}x", t, n)
      t
    }
    val pt1 = q220Case(1); val pt10 = q220Case(10); val pt100 = q220Case(100)
    println(f"[scale-100] RATIO q220_pair_trade 10x=${pt10 / pt1}%.1fx 100x=${pt100 / pt1}%.1fx")
    // q223 shape: HAVING-agg probe set + TakeOrdered top-100 — the only
    // full-fact pass is the per-order qty agg; qualifying orders stay a
    // fixed FRACTION, so the join-back grows linearly but small
    def q223Case(mult: Int): Double = {
      val li = growKeyed(li0, mult, Seq("l_orderkey"))
      val o = growKeyed(o0, mult, Seq("o_orderkey"))
      import graft.functions.Exact._
      val (t, n) = timed {
        val big = li.select(col("l_orderkey"), col("l_quantity"))
          .groupBy(col("l_orderkey"))
          .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
          .filter(col("qty_dec") > lit(250))
        big.join(o.select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate"), col("o_totalprice")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(spark.read.parquet(s"$dir/customer.parquet")
              .select(col("c_custkey"), col("c_name"))),
            col("o_custkey") === col("c_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
      }
      row(s"q223_large_vol_${mult}x", t, n)
      t
    }
    val lv1 = q223Case(1); val lv10 = q223Case(10); val lv100 = q223Case(100)
    println(f"[scale-100] RATIO q223_large_vol  10x=${lv10 / lv1}%.1fx 100x=${lv100 / lv1}%.1fx")

    // ---- exact-percentile cut family (q233/q199/q107/q45/q219) ----
    // Spark's exact Percentile buffers a value→count map, partial-
    // aggregated then merged at ONE final reducer — the unproven bound
    // the round-14 verdict flagged. Two growth directions:
    //  * fixture-like: 100x rows, SAME price catalog → the map stays
    //    catalog-sized (the documented q233 contract);
    //  * adversarial: every copy's cents offset → distinct values grow
    //    100x (60M distinct at 100x) — the worst case for the merge.
    val scored0 = li0.select(
      (col("l_extendedprice").cast("decimal(12,4)") * 10000)
        .cast("long").as("score_cents"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
    def growScored(mult: Int, offsetCents: Boolean): DataFrame =
      (0 until mult).map { i =>
        if (i == 0 || !offsetCents) scored0
        else scored0.select(
          (col("score_cents") + lit(i * 10000000000L)).as("score_cents"),
          col("pos"))
      }.reduce(_ unionByName _).repartition(cpus)
    def gainsCase(tag: String, scored: DataFrame): Double = {
      val cuts = scored.agg(percentile(col("score_cents"),
        array((1 to 9).map(i => lit(i / 10.0)): _*)).as("cuts"))
      val (t, n) = timed(
        scored.crossJoin(broadcast(cuts))
          .select(expr("size(filter(cuts, c -> c < score_cents))")
            .as("decile"), col("pos"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos")))
      row(s"gains_cut_$tag", t, n)
      t
    }
    val gc1 = gainsCase("1x", growScored(1, offsetCents = false))
    val gc10 = gainsCase("10x_catalog", growScored(10, offsetCents = false))
    val gc100 = gainsCase("100x_catalog", growScored(100, offsetCents = false))
    val ga10 = gainsCase("10x_distinct", growScored(10, offsetCents = true))
    val ga100 = gainsCase("100x_distinct", growScored(100, offsetCents = true))
    println(f"[scale-100] RATIO gains_catalog   10x=${gc10 / gc1}%.1fx 100x=${gc100 / gc1}%.1fx")
    println(f"[scale-100] RATIO gains_distinct  10x=${ga10 / gc1}%.1fx 100x=${ga100 / gc1}%.1fx")
    spark.stop()
  }
}
