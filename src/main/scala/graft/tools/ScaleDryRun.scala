package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale dry-run: self-union the sf0.1 fact tables 10× (~6M lineitem
  * rows) and re-run the heavy relational queries, to observe whether
  * wall-time scales ~linearly (shuffle-bound plans should; anything
  * super-linear flags a plan that won't survive a real scale-up).
  * Synthetic only as INPUT VOLUME — correctness is still gated on the
  * driver fixtures.
  */
object ScaleDryRun {
  def main(args: Array[String]): Unit = {
    val cpus = graft.Sessions.envCpus
    val spark = graft.Sessions.local(cpus)
    val dir = "/root/testdata/sf0.1"
    val mult = 10

    def x10(df: DataFrame): DataFrame =
      (1 to mult).map(_ => df).reduce(_ union _).repartition(cpus)

    val li = x10(spark.read.parquet(s"$dir/lineitem.parquet"))
    val o = x10(spark.read.parquet(s"$dir/orders.parquet"))
    li.createOrReplaceTempView("li10")
    o.createOrReplaceTempView("o10")

    def time(name: String)(df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      println(f"[scale-dry-run] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (${mult}x sf0.1)")
    }

    // warm-up
    li.agg(count(lit(1))).queryExecution.toRdd.count()

    time("tpch_q1_agg") {
      import graft.functions.Exact._
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsumExpr(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .as("rev"),
          count(lit(1)).as("n"))
    }
    time("fact_fact_join") {
      import graft.functions.Exact._
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(dsumExpr(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .as("rev"), count(lit(1)).as("n"))
    }
    time("topk") {
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("l_extendedprice")).as("r"))
        .orderBy(col("r").desc, col("o_custkey")).limit(10)
    }

    // ---- text / embedding shapes at 10x corpus size ----
    // Replicated copies get SHUFFLED tokens (fresh doc_ids), so shingle/
    // order-based near-dup ops see a genuinely 10x corpus with the same
    // planted near-dup density — naive replication would instead create
    // 10-deep duplicate groups and measure the (semantic, expected)
    // quadratic pair blow-up rather than plan scaling.
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
    val docs10 = (0 until mult).map { i =>
      if (i == 0) docs0
      else docs0.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        concat_ws(" ", shuffle(split(col("text"), " "))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _).repartition(cpus)

    time("exact_dedup (q23 shape)") {
      docs10.groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("m"))
    }
    time("simhash_band (q31 shape)") {
      graft.functions.TextFunctions.registerSimHash(spark)
      // simhash is order-INsensitive, so the shuffled copies above would
      // still collide (10-deep duplicate groups, a semantic blow-up, not
      // plan scaling) — salt every token with the copy index instead,
      // decorrelating signatures across copies
      val sigs = docs10
        .withColumn("toks", expr(
          "transform(array_distinct(split(text, ' ')), " +
            "t -> concat(t, '_', cast(doc_id div 10000000 as string)))"))
        .select(col("doc_id"), expr("simhash64(toks)").as("simhash"))
        .select(Seq(col("doc_id")) ++ (0 until 4).map(i =>
          shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))
            .as(s"band$i")): _*)
      val bands = sigs.select(col("doc_id"),
        posexplode(array((0 until 4).map(i => col(s"band$i")): _*)))
      bands.as("x").join(bands.as("y"),
          col("x.pos") === col("y.pos") && col("x.col") === col("y.col") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct()
        .agg(count(lit(1)).as("n_candidates"))
    }
    time("ngram_jaccard_pruned (q24 shape)") {
      val d = docs10.select(col("doc_id"), col("source"),
          split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
      val sh = d.select(col("doc_id"), col("source"),
        explode(graft.functions.TextFunctions.shinglesExpr("toks", 3))
          .as("shingle"))
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val shc = sh.join(broadcast(cnt), "doc_id")
      val a = shc.select(col("doc_id").as("doc_a"), col("source"),
        col("shingle"), col("n_sh").as("n_a"))
      val b = shc.select(col("doc_id").as("doc_b"),
        col("source").as("source_b"), col("shingle").as("shingle_b"),
        col("n_sh").as("n_b"))
      a.join(b,
          col("source") === col("source_b") &&
            col("shingle") === col("shingle_b") &&
            col("doc_a") < col("doc_b") &&
            greatest(col("n_a"), col("n_b")) <=
              least(col("n_a"), col("n_b")) * 2)
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= 0.5)
    }

    // embeddings: fresh pseudo-random vectors per copy (same label
    // distribution) -> label blocks grow 10x; the banded sign-LSH join
    // must stay bucket-bounded rather than |block|^2
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb10 = (0 until mult).map { i =>
      if (i == 0) emb0
      else emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        expr("transform(embedding, x -> cast(rand() * 2 - 1 as float))")
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _).repartition(cpus)
    time("embedding_neardup_lsh (q47 shape)") {
      graft.ext.Similarity.neardupLsh(emb10)
    }

    // ---- duplicate-DENSE near-pair generation: banded vs exact ----
    // The decorrelated corpora above deliberately avoid deep duplicate
    // groups; this is the opposite case — every doc gets `depth` near-
    // copies (text + one trailing salt token, so J(copies) ≈ 0.93 and
    // the copies ride the NEAR-pair path, not the exact-hash star
    // edges). The true pair set is then quadratic in depth (that IS the
    // output), and the question is generator COST: the exact shingle
    // self-join must enumerate every co-shingle pair across each
    // source block (buckets grow ~depth, pairs ~depth²), while the
    // banded generator pays LSH-bucket-bounded candidates + one exact
    // verification per survivor. Wall-time ratio dense/base is the
    // scaling evidence for BASELINE.md.
    def dense(depth: Int): DataFrame =
      (0 until depth).map { k =>
        if (k == 0) docs0
        else docs0.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          concat(col("text"), lit(s" salt$k")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _).repartition(cpus)
    def timed(df: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = df.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (tExact1, nExact1) =
      timed(graft.queries.TextOps.jaccardPairs(docs0, 0.5))
    val (tExact10, nExact10) =
      timed(graft.queries.TextOps.jaccardPairs(dense(10), 0.5))
    val (tBand1, nBand1) =
      timed(graft.ext.MinHashDedup.bandedJaccardPairs(docs0, 0.5))
    val (tBand10, nBand10) =
      timed(graft.ext.MinHashDedup.bandedJaccardPairs(dense(10), 0.5))
    // r=2 on the dup-dense corpus: the fixture vocabulary is small, so
    // frequent shingles become band minima for MANY unrelated docs and
    // r=1 buckets glue them together (junk candidates each dragging two
    // shingle arrays through the verify join); AND-banding collapses
    // that junk by J^2
    val (tBandW1, nBandW1) = timed(
      graft.ext.MinHashDedup.bandedJaccardPairs(docs0, 0.5, bandWidth = 2))
    val (tBandW10, nBandW10) = timed(
      graft.ext.MinHashDedup.bandedJaccardPairs(dense(10), 0.5, bandWidth = 2))
    println(f"[scale-dry-run] dup_dense_exact_1x   $tExact1%8.2f s  ($nExact1 pairs)")
    println(f"[scale-dry-run] dup_dense_exact_10x  $tExact10%8.2f s  ($nExact10 pairs, ratio ${tExact10 / tExact1}%.1fx)")
    println(f"[scale-dry-run] dup_dense_banded_1x  $tBand1%8.2f s  ($nBand1 pairs)")
    println(f"[scale-dry-run] dup_dense_banded_10x $tBand10%8.2f s  ($nBand10 pairs, ratio ${tBand10 / tBand1}%.1fx)")
    println(f"[scale-dry-run] dup_dense_banded_r2_1x  $tBandW1%8.2f s  ($nBandW1 pairs)")
    println(f"[scale-dry-run] dup_dense_banded_r2_10x $tBandW10%8.2f s  ($nBandW10 pairs, ratio ${tBandW10 / tBandW1}%.1fx)")
    // q184's EXACT prefix-filtered path (τ=0.8, the registry contract)
    // on the same corpora: candidate generation is bounded by the
    // prefix shingles' dfs — each doc's RAREST 20% — so the generator
    // should track the banded path's scaling while provably losing
    // nothing; the output pair set is quadratic in depth by
    // construction (depth near-copies of every doc), same as exact.
    val (tPref1, nPref1) =
      timed(graft.queries.Lexical.prefixJaccardPairs(docs0))
    val (tPref10, nPref10) =
      timed(graft.queries.Lexical.prefixJaccardPairs(dense(10)))
    println(f"[scale-dry-run] dup_dense_prefix_1x  $tPref1%8.2f s  ($nPref1 pairs)")
    println(f"[scale-dry-run] dup_dense_prefix_10x $tPref10%8.2f s  ($nPref10 pairs, ratio ${tPref10 / tPref1}%.1fx)")

    // ---- HOT-SHINGLE (Zipf-head) corpus: where exact and r=1 banding
    // actually blow up ----
    // Real text has a Zipf head: boilerplate/stopword shingles shared
    // across whole blocks. Model it with a 5-token preamble on every
    // doc: the preamble contributes 3 shingles shared by ALL docs, so
    // J(unrelated) ≈ 0.05 — far under threshold, yet (a) the exact
    // generator's (source, shingle) buckets now span the block → pair
    // enumeration quadratic in block size, and (b) Spark's
    // approxSimilarityJoin OR-joins single minhashes, so a J=0.05 pair
    // still collides with p = 1-(1-J)^8 ≈ 0.34 → candidates quadratic
    // too. AND-banding (bandWidth=2: candidates must match BOTH
    // minhashes of some band, p = 1-(1-J²)^8 ≈ 0.02 at J=0.05) is the
    // configuration that survives this corpus. Base is a 2000-doc
    // subset so the quadratic cases stay measurable rather than
    // multi-minute.
    val hotBase = docs0.filter(col("doc_id") < 2000)
    def hot(m: Int): DataFrame =
      (0 until m).map { k =>
        val c =
          if (k == 0) hotBase
          else hotBase.select(
            (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
            concat_ws(" ", shuffle(split(col("text"), " "))).as("text"),
            col("lang"), col("source"), col("n_chars"))
        c.withColumn("text", concat(lit("h1 h2 h3 h4 h5 "), col("text")))
      }.reduce(_ unionByName _).repartition(cpus)
    val (h1, hp1) = (hot(1), hot(4))
    val (tHx1, nHx1) = timed(graft.queries.TextOps.jaccardPairs(h1, 0.5))
    val (tHx4, nHx4) = timed(graft.queries.TextOps.jaccardPairs(hp1, 0.5))
    val (tHb1, nHb1) = timed(graft.ext.MinHashDedup.bandedJaccardPairs(h1, 0.5))
    val (tHb4, nHb4) = timed(graft.ext.MinHashDedup.bandedJaccardPairs(hp1, 0.5))
    val (tHw1, nHw1) = timed(
      graft.ext.MinHashDedup.bandedJaccardPairs(h1, 0.5, bandWidth = 2))
    val (tHw4, nHw4) = timed(
      graft.ext.MinHashDedup.bandedJaccardPairs(hp1, 0.5, bandWidth = 2))
    println(f"[scale-dry-run] hot_exact_1x        $tHx1%8.2f s  ($nHx1 pairs)")
    println(f"[scale-dry-run] hot_exact_4x        $tHx4%8.2f s  ($nHx4 pairs, ratio ${tHx4 / tHx1}%.1fx for 4x docs)")
    println(f"[scale-dry-run] hot_banded_r1_1x    $tHb1%8.2f s  ($nHb1 pairs)")
    println(f"[scale-dry-run] hot_banded_r1_4x    $tHb4%8.2f s  ($nHb4 pairs, ratio ${tHb4 / tHb1}%.1fx)")
    println(f"[scale-dry-run] hot_banded_r2_1x    $tHw1%8.2f s  ($nHw1 pairs)")
    println(f"[scale-dry-run] hot_banded_r2_4x    $tHw4%8.2f s  ($nHw4 pairs, ratio ${tHw4 / tHw1}%.1fx)")

    // ---- newest pipeline/analytics shapes at 10x ----
    // q55 decontamination: the benchmark shingle set stays broadcast as
    // the corpus grows (it is corpus-fraction-sized here, worst case;
    // real benchmark suites are constant-sized)
    val (tDecon1, _) = timed(
      graft.queries.PipelineOps.decontaminate(docs0))
    val (tDecon10, _) = timed(
      graft.queries.PipelineOps.decontaminate(docs10))
    println(f"[scale-dry-run] q55_decontaminate_1x   $tDecon1%8.2f s")
    println(f"[scale-dry-run] q55_decontaminate_10x  $tDecon10%8.2f s  (ratio ${tDecon10 / tDecon1}%.1fx)")
    // q58 packing: one window on source
    val (tPack1, _) = timed(graft.queries.PipelineOps.packSequences(docs0))
    val (tPack10, _) = timed(graft.queries.PipelineOps.packSequences(docs10))
    println(f"[scale-dry-run] q58_pack_1x            $tPack1%8.2f s")
    println(f"[scale-dry-run] q58_pack_10x           $tPack10%8.2f s  (ratio ${tPack10 / tPack1}%.1fx)")
    // q61 funnel at 10x events (fresh event/user ids per copy so the
    // per-user state chain grows in USERS, not in per-user depth)
    val ev0 = graft.Tables.events(spark, dir)
    val ev10 = (0 until mult).map { i =>
      if (i == 0) ev0
      else ev0.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(i * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _).repartition(cpus)
    val (tFun1, _) = timed(graft.queries.Funnels.funnel(ev0))
    val (tFun10, _) = timed(graft.queries.Funnels.funnel(ev10))
    println(f"[scale-dry-run] q61_funnel_1x          $tFun1%8.2f s")
    println(f"[scale-dry-run] q61_funnel_10x         $tFun10%8.2f s  (ratio ${tFun10 / tFun1}%.1fx)")
    // q142 association rules at 10x baskets (fresh order keys per copy
    // so baskets grow in COUNT, not in per-basket width — the staged
    // distinct-basket shape must scale with Σ|basket|²)
    val bk0 = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
    val bk10 = (0 until mult).map { i =>
      if (i == 0) bk0
      else bk0.select((col("ok") + lit(i * 100000000L)).as("ok"), col("part"))
    }.reduce(_ unionByName _).repartition(cpus)
    val (tAr1, _) = timed(graft.queries.Mining.assocRules(bk0))
    val (tAr10, _) = timed(graft.queries.Mining.assocRules(bk10))
    println(f"[scale-dry-run] q142_assoc_1x          $tAr1%8.2f s")
    println(f"[scale-dry-run] q142_assoc_10x         $tAr10%8.2f s  (ratio ${tAr10 / tAr1}%.1fx)")

    // ---- q54 explode-path rebalance under stratum skew ----
    // One stratum upweighted 10x (explode path emits ~10 copies/row for
    // it), the rest downsampled to 0.5 — output partition sizes scale by
    // max(f), which AQE re-splits; time must stay ~linear in corpus size
    val skewFracs = docs0.select("source").distinct().collect()
      .map(_.getString(0)).zipWithIndex
      .map { case (s, i) => s -> (if (i == 0) 10.0 else 0.5) }.toMap
    val (tSkew1, nSkew1) = timed(
      graft.ext.Sampling.stratifiedSample(docs0, "source", skewFracs))
    val (tSkew10, nSkew10) = timed(
      graft.ext.Sampling.stratifiedSample(docs10, "source", skewFracs))
    println(f"[scale-dry-run] q54_skew_rebalance_1x  $tSkew1%8.2f s  ($nSkew1 rows)")
    println(f"[scale-dry-run] q54_skew_rebalance_10x $tSkew10%8.2f s  ($nSkew10 rows, ratio ${tSkew10 / tSkew1}%.1fx)")

    // ---- round-6 corpus-curation shapes at 10x ----
    // tfidf: the df join-back's build side is vocabulary-sized. The
    // decorrelated docs10 keeps the same vocabulary at 10x docs, so the
    // frequency tables grow ~0x while the fact side grows 10x — the
    // ratio shows whether the plan exploits that (it must stay ~linear)
    val (tTfidf1, _) = timed(graft.queries.CorpusOps.tfidfTerms(docs0))
    val (tTfidf10, _) = timed(graft.queries.CorpusOps.tfidfTerms(docs10))
    println(f"[scale-dry-run] q68_tfidf_1x           $tTfidf1%8.2f s")
    println(f"[scale-dry-run] q68_tfidf_10x          $tTfidf10%8.2f s  (ratio ${tTfidf10 / tTfidf1}%.1fx)")
    // boilerplate: the hot set is shingle-vocabulary-bounded; at 10x docs
    // more shingles cross the >=5-doc threshold but the broadcast stays
    // dictionary-sized — again the time ratio is the evidence
    val (tBp1, _) = timed(graft.queries.CorpusOps.boilerplateScore(
      docs0.filter(col("text").isNotNull)))
    val (tBp10, _) = timed(graft.queries.CorpusOps.boilerplateScore(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q71_boilerplate_1x     $tBp1%8.2f s")
    println(f"[scale-dry-run] q71_boilerplate_10x    $tBp10%8.2f s  (ratio ${tBp10 / tBp1}%.1fx)")
    // rolling distinct users, exact vs sketch, at 10x events (ev10 from
    // the funnel case above: fresh users per copy, same 30-day grid).
    // Exact re-counts users per window; the sketch path's window step
    // merges 7 pre-built blobs per (type, day) regardless of user count
    val (tRoll1, _) = timed(graft.queries.Funnels.rollingDistinctUsers(ev0))
    val (tRoll10, _) = timed(graft.queries.Funnels.rollingDistinctUsers(ev10))
    println(f"[scale-dry-run] q75_rolling_exact_1x   $tRoll1%8.2f s")
    println(f"[scale-dry-run] q75_rolling_exact_10x  $tRoll10%8.2f s  (ratio ${tRoll10 / tRoll1}%.1fx)")
    val (tHll1, _) = timed(graft.queries.Funnels.rollingDistinctUsersSketch(ev0))
    val (tHll10, _) = timed(graft.queries.Funnels.rollingDistinctUsersSketch(ev10))
    println(f"[scale-dry-run] q77_rolling_hll_1x     $tHll1%8.2f s")
    println(f"[scale-dry-run] q77_rolling_hll_10x    $tHll10%8.2f s  (ratio ${tHll10 / tHll1}%.1fx)")

    // ---- round-8 operators at 10x ----
    // q88 mixing: one window shuffle on source — the q58 posture
    val (tMix1, _) = timed(graft.queries.PipelineOps.tokenBudgetMix(docs0))
    val (tMix10, _) = timed(graft.queries.PipelineOps.tokenBudgetMix(docs10))
    println(f"[scale-dry-run] q88_budget_mix_1x      $tMix1%8.2f s")
    println(f"[scale-dry-run] q88_budget_mix_10x     $tMix10%8.2f s  (ratio ${tMix10 / tMix1}%.1fx)")
    // q89 negatives: broadcast-query corpus scan, no shuffle
    val (tNeg1, _) = timed(graft.queries.VectorOps.hardNegatives(emb0))
    val (tNeg10, _) = timed(graft.queries.VectorOps.hardNegatives(emb10))
    println(f"[scale-dry-run] q89_hard_neg_1x        $tNeg1%8.2f s")
    println(f"[scale-dry-run] q89_hard_neg_10x       $tNeg10%8.2f s  (ratio ${tNeg10 / tNeg1}%.1fx)")
    // q90 surprisal: the shuffled copies have mostly-distinct transitions,
    // so the bigram count table grows ~10x WITH the corpus (worst case —
    // real corpora repeat transitions); the ratio shows whether the
    // hash-agg + join-back stays ~linear even then
    val (tSurp1, _) = timed(graft.queries.CorpusOps.bigramSurprisal(docs0))
    val (tSurp10, _) = timed(graft.queries.CorpusOps.bigramSurprisal(docs10))
    println(f"[scale-dry-run] q90_surprisal_1x       $tSurp1%8.2f s")
    println(f"[scale-dry-run] q90_surprisal_10x      $tSurp10%8.2f s  (ratio ${tSurp10 / tSurp1}%.1fx)")

    // ---- late-round-8 operators at 10x ----
    // q93 CDC compaction: ONE user_id shuffle shared by both windows;
    // ev10 is 10x events over 10x fresh users, so per-user run lengths
    // are unchanged — the ratio isolates the shuffle+window cost
    val (tScd1, _) = timed(graft.queries.Warehouse.stateIntervals(ev0))
    val (tScd10, _) = timed(graft.queries.Warehouse.stateIntervals(ev10))
    println(f"[scale-dry-run] q93_state_iv_1x        $tScd1%8.2f s")
    println(f"[scale-dry-run] q93_state_iv_10x       $tScd10%8.2f s  (ratio ${tScd10 / tScd1}%.1fx)")
    // q96 chunk dedup: the keep-first window hashes on chunk_text —
    // bucket size is bounded by duplicate MULTIPLICITY, not corpus size;
    // the shuffled copies keep multiplicity flat while volume grows 10x
    val (tCd1, _) = timed(graft.queries.PipelineOps.chunkDedup(
      docs0.filter(col("text").isNotNull)))
    val (tCd10, _) = timed(graft.queries.PipelineOps.chunkDedup(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q96_chunk_dedup_1x     $tCd1%8.2f s")
    println(f"[scale-dry-run] q96_chunk_dedup_10x    $tCd10%8.2f s  (ratio ${tCd10 / tCd1}%.1fx)")
    // q97 containment: worst case for the exact modality — the shuffled
    // copies make shingles mostly DISTINCT, so the rare universe grows
    // 10x with the corpus; the df>50 cap is what must keep the
    // per-shingle self-join buckets bounded
    val (tCont1, _) = timed(graft.queries.TextOps.containmentPairs(
      docs0.filter(col("text").isNotNull)))
    val (tCont10, _) = timed(graft.queries.TextOps.containmentPairs(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q97_containment_1x     $tCont1%8.2f s")
    println(f"[scale-dry-run] q97_containment_10x    $tCont10%8.2f s  (ratio ${tCont10 / tCont1}%.1fx)")
    // q98 cascade: per-row predicates + the q71 vocabulary-bounded
    // joins, ending in a single-row funnel aggregate
    val (tCas1, _) = timed(graft.queries.PipelineOps.filterCascade(docs0))
    val (tCas10, _) = timed(graft.queries.PipelineOps.filterCascade(docs10))
    println(f"[scale-dry-run] q98_cascade_1x         $tCas1%8.2f s")
    println(f"[scale-dry-run] q98_cascade_10x        $tCas10%8.2f s  (ratio ${tCas10 / tCas1}%.1fx)")
    // q99/q100: the one-user_id-shuffle event-analytics pair (session
    // rollup, last-touch attribution) — fresh users per copy keep
    // per-user work flat while volume grows 10x
    val (tSm1, _) = timed(graft.queries.EventWindows.sessionMetrics(ev0))
    val (tSm10, _) = timed(graft.queries.EventWindows.sessionMetrics(ev10))
    println(f"[scale-dry-run] q99_session_met_1x     $tSm1%8.2f s")
    println(f"[scale-dry-run] q99_session_met_10x    $tSm10%8.2f s  (ratio ${tSm10 / tSm1}%.1fx)")
    val (tLt1, _) = timed(graft.queries.Funnels.lastTouch(ev0))
    val (tLt10, _) = timed(graft.queries.Funnels.lastTouch(ev10))
    println(f"[scale-dry-run] q100_last_touch_1x     $tLt1%8.2f s")
    println(f"[scale-dry-run] q100_last_touch_10x    $tLt10%8.2f s  (ratio ${tLt10 / tLt1}%.1fx)")
    // tar shard sink: one shard-keyed shuffle + streaming writes — the
    // ratio shows the writer stays I/O-bound linear, no per-shard buffer
    def shardCase(docs: DataFrame): Double = {
      val dir = java.nio.file.Files.createTempDirectory("shards10x").toString
      val in = docs.filter(col("text").isNotNull).select(col("doc_id"),
        col("text").cast("binary").as("payload"), col("lang").as("meta"))
      val t0 = System.nanoTime()
      graft.sinks.TarShards.writeShards(in, dir, 8).collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    val tSh1 = shardCase(docs0)
    val tSh10 = shardCase(docs10)
    println(f"[scale-dry-run] tar_shards_1x          $tSh1%8.2f s")
    println(f"[scale-dry-run] tar_shards_10x         $tSh10%8.2f s  (ratio ${tSh10 / tSh1}%.1fx)")

    // q107 histogram quantile rollup: same shape as q75/q77 — ONE
    // corpus-sized hash-agg to (type, day, bin), then calendar-bounded
    // merges of 64-long integer vectors
    val (tQr1, _) = timed(graft.queries.Funnels.rollingValueQuantiles(ev0))
    val (tQr10, _) = timed(graft.queries.Funnels.rollingValueQuantiles(ev10))
    println(f"[scale-dry-run] q107_quantiles_1x      $tQr1%8.2f s")
    println(f"[scale-dry-run] q107_quantiles_10x     $tQr10%8.2f s  (ratio ${tQr10 / tQr1}%.1fx)")

    // q101 PageRank: 10x ORDERS over the fixed part catalog (shifted
    // l_orderkey — the realistic growth direction: more baskets, same
    // entities). Edge distinct + degree agg absorb the volume; the ten
    // iteration joins run over entity-count-sized rank state either way
    val li0pr = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
    val li10pr = (0 until mult).map { i =>
      if (i == 0) li0pr
      else li0pr.select((col("ok") + lit(i * 1000000000L)).as("ok"), col("part"))
    }.reduce(_ unionByName _).repartition(cpus)
    val (tPr1, _) = timed(graft.queries.GraphOps.partPageRank(li0pr))
    val (tPr10, _) = timed(graft.queries.GraphOps.partPageRank(li10pr))
    println(f"[scale-dry-run] q101_pagerank_1x       $tPr1%8.2f s")
    println(f"[scale-dry-run] q101_pagerank_10x      $tPr10%8.2f s  (ratio ${tPr10 / tPr1}%.1fx)")

    // q102 BM25: tf/dl/df aggs carry the volume; term table stays 8 rows
    val (tBm1, _) = timed(graft.queries.Retrieval.bm25(
      docs0.filter(col("text").isNotNull)))
    val (tBm10, _) = timed(graft.queries.Retrieval.bm25(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q102_bm25_1x           $tBm1%8.2f s")
    println(f"[scale-dry-run] q102_bm25_10x          $tBm10%8.2f s  (ratio ${tBm10 / tBm1}%.1fx)")

    // q103 kNN pseudo-labeling with the seed FIXED (the labeled asset
    // doesn't grow with the corpus): shifted copies re-id to residue 1
    // so only emb0's seeds label the 10x corpus — broadcast-scan linear
    val embKnn10 = (0 until mult).map { i =>
      if (i == 0) emb0
      else emb0.select(((col("vec_id") + lit(i * 10000000L)) * 10 + 1).as("vec_id"),
        expr("transform(embedding, x -> cast(rand() * 2 - 1 as float))")
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _).repartition(cpus)
    val (tKnn1, _) = timed(graft.queries.Retrieval.knnClassify(emb0))
    val (tKnn10, _) = timed(graft.queries.Retrieval.knnClassify(embKnn10))
    println(f"[scale-dry-run] q103_knn_1x            $tKnn1%8.2f s")
    println(f"[scale-dry-run] q103_knn_10x           $tKnn10%8.2f s  (ratio ${tKnn10 / tKnn1}%.1fx)")

    // q105 centroid-distance outliers: two corpus streams + a broadcast
    // centroid join; the per-label top-k window is the only shuffle
    val (tOut1, _) = timed(graft.queries.VectorOps.labelOutliers(emb0))
    val (tOut10, _) = timed(graft.queries.VectorOps.labelOutliers(emb10))
    println(f"[scale-dry-run] q105_outliers_1x       $tOut1%8.2f s")
    println(f"[scale-dry-run] q105_outliers_10x      $tOut10%8.2f s  (ratio ${tOut10 / tOut1}%.1fx)")

    // q109 DSIR weighting: one corpus-sized tf shuffle; the ratio table
    // is vocabulary-bounded (the 10x self-union re-uses the same token
    // universe, exactly how a bigger real corpus behaves), scalars 1-row
    val (tDsir1, _) = timed(graft.queries.DataMix.dsirWeights(docs0))
    val (tDsir10, _) = timed(graft.queries.DataMix.dsirWeights(docs10))
    println(f"[scale-dry-run] q109_dsir_1x           $tDsir1%8.2f s")
    println(f"[scale-dry-run] q109_dsir_10x          $tDsir10%8.2f s  (ratio ${tDsir10 / tDsir1}%.1fx)")

    // q110 temperature mix: one hash-agg for budgets + one per-source
    // ranked window (source count stays config-sized as the corpus grows)
    val (tSmx1, _) = timed(graft.queries.DataMix.sourceMix(docs0))
    val (tSmx10, _) = timed(graft.queries.DataMix.sourceMix(docs10))
    println(f"[scale-dry-run] q110_mix_1x            $tSmx1%8.2f s")
    println(f"[scale-dry-run] q110_mix_10x           $tSmx10%8.2f s  (ratio ${tSmx10 / tSmx1}%.1fx)")

    // q111 SemDeDup: broadcast center assignment + cluster-bounded
    // suppression join; clusters grow 10x but the join stays equi-keyed
    val (tSem1, _) = timed(graft.queries.VectorOps.semDedup(
      emb0, graft.queries.VectorOps.labelCenters(emb0)))
    val (tSem10, _) = timed(graft.queries.VectorOps.semDedup(
      emb10, graft.queries.VectorOps.labelCenters(emb10)))
    println(f"[scale-dry-run] q111_semdedup_1x       $tSem1%8.2f s")
    println(f"[scale-dry-run] q111_semdedup_10x      $tSem10%8.2f s  (ratio ${tSem10 / tSem1}%.1fx)")

    // q112 winnowing: per-doc window passes + df-capped pair buckets —
    // the shuffled 10x copies decorrelate 3-grams, so this measures
    // plan scaling, not a semantic pair blow-up
    val (tWin1, _) = timed(graft.queries.Lexical.winnowingPairs(docs0))
    val (tWin10, _) = timed(graft.queries.Lexical.winnowingPairs(docs10))
    println(f"[scale-dry-run] q112_winnowing_1x      $tWin1%8.2f s")
    println(f"[scale-dry-run] q112_winnowing_10x     $tWin10%8.2f s  (ratio ${tWin10 / tWin1}%.1fx)")

    // q113 zipf fit: one (source, token) hash-agg; the fit is <=100
    // rows per source regardless of corpus size
    val (tZpf1, _) = timed(graft.queries.Lexical.zipfSlopes(docs0))
    val (tZpf10, _) = timed(graft.queries.Lexical.zipfSlopes(docs10))
    println(f"[scale-dry-run] q113_zipf_1x           $tZpf1%8.2f s")
    println(f"[scale-dry-run] q113_zipf_10x          $tZpf10%8.2f s  (ratio ${tZpf10 / tZpf1}%.1fx)")

    // ---- skewed fact-dim join: plain SMJ vs salted vs AQE skew-split ----
    // q87 DIAGNOSES join-key skew; this is the MITIGATION A/B. 90% of the
    // 10x fact rows (~54M) share ONE join key, the dim side is forced
    // non-broadcastable (threshold -1), so a plain static-partition
    // shuffle join lands the hot key on a single reducer of 32 and the
    // stage runs at 1/32 parallelism. SkewJoin.saltedInnerJoin spreads
    // the hot key over `factor` reducers at the cost of replicating the
    // dim side; AQE's runtime skew split (thresholds lowered to fire at
    // this scale) is the built-in equivalent. All three must return the
    // SAME row count — multiplicity preservation is also suite-asserted
    // in SkewJoinSpec.
    val dim = o.select(col("o_orderkey").as("k2"), col("o_orderpriority"))
    val skewedFact = li.withColumn("k",
        when(rand(7L) < 0.9, lit(1L)).otherwise(col("l_orderkey")))
      .select(col("k"), col("l_extendedprice"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (tPlain, nPlain) = timed(
      skewedFact.join(dim, col("k") === col("k2")))
    val (tSalt, nSalt) = timed(graft.operators.SkewJoin.saltedInnerJoin(
      skewedFact, "k", dim, "k2", factor = 32))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    val (tAqe, nAqe) = timed(
      skewedFact.join(dim, col("k") === col("k2")))
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
    println(f"[scale-dry-run] skew_join_plain_smj    $tPlain%8.2f s  ($nPlain rows, hot key on 1 of $cpus reducers)")
    println(f"[scale-dry-run] skew_join_salted_f32   $tSalt%8.2f s  ($nSalt rows, speedup ${tPlain / tSalt}%.1fx)")
    println(f"[scale-dry-run] skew_join_aqe_split    $tAqe%8.2f s  ($nAqe rows, speedup ${tPlain / tAqe}%.1fx)")
    require(nPlain == nSalt && nPlain == nAqe,
      s"skew mitigation changed row multiplicity: $nPlain / $nSalt / $nAqe")

    // ---- round-9: q111 SemDeDup through the PRODUCTION center seam ----
    // Same operator, q48 IVF KMeans centroids instead of the
    // label-centroid testbed: the one-time ivfBuild fit is measured
    // separately from the semDedup pass it feeds (an index is built
    // once and reused across curation runs — q48's amortization story).
    {
      import graft.ext.Similarity
      import graft.queries.VectorOps
      def semIvfCase(emb: DataFrame): (Double, Double, Long, Long) = {
        val t0 = System.nanoTime()
        val idx = Similarity.ivfBuild(emb, nCells = 16).get
        idx.centroids.queryExecution.toRdd.count(): Unit
        val tFit = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val out = VectorOps.semDedup(emb, VectorOps.ivfCenters(idx))
        val n = out.queryExecution.toRdd.count()
        val nSup = out.filter(col("removed")).count()
        (tFit, (System.nanoTime() - t1) / 1e9, n, nSup)
      }
      val (tFit1, tSem1i, n1, sup1) = semIvfCase(emb0)
      val (tFit10, tSem10i, n10, sup10) = semIvfCase(emb10)
      println(f"[scale-dry-run] q111_ivf_fit_1x        $tFit1%8.2f s")
      println(f"[scale-dry-run] q111_ivf_fit_10x       $tFit10%8.2f s  (ratio ${tFit10 / tFit1}%.1fx)")
      println(f"[scale-dry-run] q111_ivf_sem_1x        $tSem1i%8.2f s  (${sup1}/${n1} suppressed)")
      println(f"[scale-dry-run] q111_ivf_sem_10x       $tSem10i%8.2f s  (ratio ${tSem10i / tSem1i}%.1fx, ${sup10}/${n10} suppressed)")
    }

    // ---- round-9: q101 rank-state join crossover (broadcast vs ----
    // ---- co-partitioned bucketed CSR) at 10x / 100x PART counts ----
    // The 100x leg alone runs ~8-9 min; its result is recorded in
    // BASELINE.md (round-9). GRAFT_SKIP_CROSSOVER=1 skips the block so
    // the rest of the pass fits a bounded budget — unset to re-measure.
    if (sys.env.get("GRAFT_SKIP_CROSSOVER").isEmpty)
    // Disjoint shifted subgraphs — the growth direction that scales the
    // RANK STATE itself (more entities), which is what decides the
    // per-iteration join strategy. The broadcast path re-ships the
    // whole rank table every iteration; the copartition path exchanges
    // it once per iteration but never moves the bucketed adjacency.
    {
      def liParts(m: Int): DataFrame =
        (0 until m).map { i =>
          if (i == 0) li0pr
          else li0pr.select((col("ok") + lit(i * 1000000000L)).as("ok"),
            (col("part") + lit(i * 10000000L)).as("part"))
        }.reduce(_ unionByName _).repartition(cpus)
      for (m <- Seq(10, 100)) {
        val base = liParts(m)
        val (tB, _) = timed(
          graft.queries.GraphOps.partPageRank(base, rankState = "broadcast"))
        val (tC, _) = timed(
          graft.queries.GraphOps.partPageRank(base, rankState = "copartition"))
        println(f"[scale-dry-run] q101_rs_${m}%dx_broadcast ${tB}%8.2f s")
        println(f"[scale-dry-run] q101_rs_${m}%dx_copart    ${tC}%8.2f s  (bcast/copart ${tB / tC}%.2fx)")
      }
    }
    // ---- round-9: q120 quantization, q122 postings, q123 JL ----
    // q120: two corpus scans (64-key stats agg + expression-only
    // encode against the 1-row broadcast) — should scale linearly
    val (tQz1, _) = timed(graft.queries.Quantize.quantize(
      emb0.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))))
    val (tQz10, _) = timed(graft.queries.Quantize.quantize(
      emb10.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))))
    println(f"[scale-dry-run] q120_quantize_1x       $tQz1%8.2f s")
    println(f"[scale-dry-run] q120_quantize_10x      $tQz10%8.2f s  (ratio ${tQz10 / tQz1}%.1fx)")
    // q122: the postings build — tf agg + one (token, segment) sorted
    // exchange; segment chunking bounds every per-group list at
    // segSize even for stopwords present in all docs, so the 10x
    // corpus grows the number of lists, never their size
    val (tIp1, _) = timed(graft.queries.Retrieval.invertedPostings(docs0))
    val (tIp10, _) = timed(graft.queries.Retrieval.invertedPostings(docs10))
    println(f"[scale-dry-run] q122_postings_1x       $tIp1%8.2f s")
    println(f"[scale-dry-run] q122_postings_10x      $tIp10%8.2f s  (ratio ${tIp10 / tIp1}%.1fx)")
    // q123: pure expression chain — the shuffle-free upper bound for
    // per-row vector work
    val (tJl1, _) = timed(graft.queries.Quantize.jlProject(
      emb0.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))))
    val (tJl10, _) = timed(graft.queries.Quantize.jlProject(
      emb10.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))))
    println(f"[scale-dry-run] q123_jl_1x             $tJl1%8.2f s")
    println(f"[scale-dry-run] q123_jl_10x            $tJl10%8.2f s  (ratio ${tJl10 / tJl1}%.1fx)")
    // q124: FIXED batch against a growing corpus — the incremental
    // claim is that update cost follows the batch (touched segments),
    // not the corpus; contrast with the full q122 rebuild ratio above
    val batchFixed = docs0.filter(col("doc_id") % 10 === 7)
    val (tPu1, nPu1) = timed(graft.queries.Retrieval.postingsUpdate(
      docs0.filter(col("doc_id") % 10 =!= 7), batchFixed))
    val (tPu10, nPu10) = timed(graft.queries.Retrieval.postingsUpdate(
      docs10.filter(col("doc_id") % 10 =!= 7), batchFixed))
    println(f"[scale-dry-run] q124_update_1x         $tPu1%8.2f s  ($nPu1 rows)")
    println(f"[scale-dry-run] q124_update_10x        $tPu10%8.2f s  ($nPu10 rows, ratio ${tPu10 / tPu1}%.1fx — fixed batch, 10x corpus)")

    // ---- q116 winnowed containment: the composed scale modality vs ----
    // ---- exact q97 on the SAME shuffled-copy corpus ----
    // The shuffled copies decorrelate shingles, so the exact modality's
    // rare-shingle universe grows with the corpus (its 100x worst case,
    // measured 19.1x); the winnowing blocker proposes candidates from
    // df-capped fingerprint buckets instead, and the exact arithmetic
    // verifies only those — growth should track the candidate set.
    val (tWc1, nWc1) = timed(graft.queries.TextOps.winnowedContainment(
      docs0.filter(col("text").isNotNull)))
    val (tWc10, nWc10) = timed(graft.queries.TextOps.winnowedContainment(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q116_winnowed_1x       $tWc1%8.2f s  ($nWc1 pairs; exact q97 took $tCont1%.2f s)")
    println(f"[scale-dry-run] q116_winnowed_10x      $tWc10%8.2f s  ($nWc10 pairs, ratio ${tWc10 / tWc1}%.1fx; exact q97 took $tCont10%.2f s)")

    // ---- q117-q119 tokenizer family ----
    // q117: ONE corpus-sized wordFreqs scan feeds a vocabulary-bounded
    // staged table; the 12 merge rounds then cost the same at any
    // corpus size — the ratio isolates the scan.
    val (tBpe1, _) = timed(graft.queries.Tokenize.bpeLearn(
      docs0.filter(col("text").isNotNull)))
    val (tBpe10, _) = timed(graft.queries.Tokenize.bpeLearn(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q117_bpe_learn_1x      $tBpe1%8.2f s")
    println(f"[scale-dry-run] q117_bpe_learn_10x     $tBpe10%8.2f s  (ratio ${tBpe10 / tBpe1}%.1fx — rounds are vocab-bounded)")
    // q118: model tables are slice-bounded (train slice = 1/|sources|
    // of the corpus), scoring is one broadcast-join expression pass
    val (tLm1, _) = timed(graft.queries.Tokenize.lmScore(
      docs0.filter(col("text").isNotNull)))
    val (tLm10, _) = timed(graft.queries.Tokenize.lmScore(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q118_lm_score_1x       $tLm1%8.2f s")
    println(f"[scale-dry-run] q118_lm_score_10x      $tLm10%8.2f s  (ratio ${tLm10 / tLm1}%.1fx)")
    // q119: learn (vocab-bounded rounds) + whole-corpus expression
    // apply + the per-source packing window
    val (tSp1, _) = timed(graft.queries.Tokenize.subwordPack(
      docs0.filter(col("text").isNotNull)))
    val (tSp10, _) = timed(graft.queries.Tokenize.subwordPack(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q119_subword_pack_1x   $tSp1%8.2f s")
    println(f"[scale-dry-run] q119_subword_pack_10x  $tSp10%8.2f s  (ratio ${tSp10 / tSp1}%.1fx)")
    // q121 MMR is not separately measured: its distributed half is the
    // q25-shaped top-nCand relevance scan (measured above); the greedy
    // consumes a CONSTANT 32^2 integer matrix regardless of corpus size.

    // ---- q125-q128 learned-model + substring family ----
    // q125 NB: model is vocabulary×k bounded (two hash-aggs), scoring
    // one token-stream pass × k classes — should track the scan
    val (tNb1, _) = timed(graft.queries.Learn.nbLangId(docs0))
    val (tNb10, _) = timed(graft.queries.Learn.nbLangId(docs10))
    println(f"[scale-dry-run] q125_nb_langid_1x      $tNb1%8.2f s")
    println(f"[scale-dry-run] q125_nb_langid_10x     $tNb10%8.2f s  (ratio ${tNb10 / tNb1}%.1fx)")
    // q126 k-means: per round one scan vs a k·dim broadcast + a k·dim-
    // key agg; 4 rounds — the ratio is the scan growth ×(rounds+1)
    val (tKm1, _) = timed(graft.queries.Learn.kmeans(
      emb0.filter(col("embedding").isNotNull)))
    val (tKm10, _) = timed(graft.queries.Learn.kmeans(
      emb10.filter(col("embedding").isNotNull)))
    println(f"[scale-dry-run] q126_kmeans_1x         $tKm1%8.2f s")
    println(f"[scale-dry-run] q126_kmeans_10x        $tKm10%8.2f s  (ratio ${tKm10 / tKm1}%.1fx)")
    // q127 sparse all-pairs: candidates are Σ df² over df∈[2,50]
    // tokens; the shuffled copies multiply every token's df by ~10, so
    // the df window itself is what bounds the blow-up (tokens drifting
    // past the cap leave the join) — the same boilerplate dynamic as
    // the q116 note in BASELINE.md
    val (tAp1, nAp1) = timed(graft.queries.Lexical.sparseAllPairs(docs0))
    val (tAp10, nAp10) = timed(graft.queries.Lexical.sparseAllPairs(docs10))
    println(f"[scale-dry-run] q127_allpairs_1x       $tAp1%8.2f s  ($nAp1 pairs)")
    println(f"[scale-dry-run] q127_allpairs_10x      $tAp10%8.2f s  ($nAp10 pairs, ratio ${tAp10 / tAp1}%.1fx)")
    // q128 exact substrings: gram buckets are df-capped (≤ df² position
    // pairs per gram); the shuffled copies decorrelate 8-grams, so
    // this measures plan scaling, not duplicate-group blow-up
    val (tEs1, nEs1) = timed(graft.queries.SubstrDedup.duplicateSpans(docs0))
    val (tEs10, nEs10) = timed(graft.queries.SubstrDedup.duplicateSpans(docs10))
    println(f"[scale-dry-run] q128_substr_1x         $tEs1%8.2f s  ($nEs1 spans)")
    println(f"[scale-dry-run] q128_substr_10x        $tEs10%8.2f s  ($nEs10 spans, ratio ${tEs10 / tEs1}%.1fx)")

    // ---- q130/q131 graph + q132 keyness ----
    // 10x ORDERS over the fixed part catalog densifies the co-purchase
    // graph (more edges per node) — the hostile direction for triangle
    // counting, since wedge fan-out grows with degree; the degree
    // orientation is what keeps it O(sqrt m) per node.
    val (tTr1, _) = timed(graft.queries.GraphOps.triangleCounts(li0pr))
    val (tTr10, _) = timed(graft.queries.GraphOps.triangleCounts(li10pr))
    println(f"[scale-dry-run] q130_triangles_1x      $tTr1%8.2f s")
    println(f"[scale-dry-run] q130_triangles_10x     $tTr10%8.2f s  (ratio ${tTr10 / tTr1}%.1fx — 10x orders densify the fixed catalog)")
    val (tCc1, _) = timed(graft.queries.GraphOps.clusteringCoeff(li0pr))
    val (tCc10, _) = timed(graft.queries.GraphOps.clusteringCoeff(li10pr))
    println(f"[scale-dry-run] q131_coeff_1x          $tCc1%8.2f s")
    println(f"[scale-dry-run] q131_coeff_10x         $tCc10%8.2f s  (ratio ${tCc10 / tCc1}%.1fx)")
    // q132: two vocabulary-bounded hash-aggs + per-source windows
    val (tDt1, _) = timed(graft.queries.CorpusOps.distinctiveTerms(
      docs0.filter(col("text").isNotNull)))
    val (tDt10, _) = timed(graft.queries.CorpusOps.distinctiveTerms(
      docs10.filter(col("text").isNotNull)))
    println(f"[scale-dry-run] q132_keyness_1x        $tDt1%8.2f s")
    println(f"[scale-dry-run] q132_keyness_10x       $tDt10%8.2f s  (ratio ${tDt10 / tDt1}%.1fx)")
    // q134: two corpus scans; the Gram expansion is d(d+1)/2 products
    // per vector, map-side combined to 2080 keys — should be linear
    val (tCv1, _) = timed(graft.queries.Learn.embedCovariance(
      emb0.filter(col("embedding").isNotNull)))
    val (tCv10, _) = timed(graft.queries.Learn.embedCovariance(
      emb10.filter(col("embedding").isNotNull)))
    println(f"[scale-dry-run] q134_covariance_1x     $tCv1%8.2f s")
    println(f"[scale-dry-run] q134_covariance_10x    $tCv10%8.2f s  (ratio ${tCv10 / tCv1}%.1fx)")

    // ---- round-14 legs ----
    // q205/q206: the TPC-H multi-join block on 10x facts over the FIXED
    // dimension catalog — the hostile direction for join planning (probe
    // sides grow 10x, dims don't; broadcasts and pushdown must keep the
    // plan fact-bounded). li10/o10 carry duplicated keys, which only
    // densifies the joins — fine for plan scaling, meaningless for
    // output semantics (not checked here; the oracle gate owns that).
    val cust0 = spark.read.parquet(s"$dir/customer.parquet")
    import graft.functions.Exact.{dec, Fine}
    def q205shape(lix: DataFrame, ox: DataFrame): DataFrame = {
      val c = cust0.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val or = ox.filter(col("o_orderdate") < lit("1998-07-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = lix.filter(col("l_shipdate") > lit("1998-07-01"))
        .select(col("l_orderkey"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(Fine).as("rev_term"))
      or.join(c, col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(col("rev_term")).as("rev_dec"))
        .orderBy(col("rev_dec").desc, col("o_orderkey")).limit(10)
    }
    val li0 = spark.read.parquet(s"$dir/lineitem.parquet")
    val o0 = spark.read.parquet(s"$dir/orders.parquet")
    val (tQ3a, _) = timed(q205shape(li0, o0))
    val (tQ3b, _) = timed(q205shape(li, o))
    println(f"[scale-dry-run] q205_topk_1x           $tQ3a%8.2f s")
    println(f"[scale-dry-run] q205_topk_10x          $tQ3b%8.2f s  (ratio ${tQ3b / tQ3a}%.1fx — 10x facts, fixed dims)")
    def q206shape(lix: DataFrame, ox: DataFrame): DataFrame = {
      val nat = spark.read.parquet(s"$dir/nation.parquet")
        .join(broadcast(spark.read.parquet(s"$dir/region.parquet")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = cust0.join(broadcast(nat),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val or = ox.filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = spark.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey"))
      lix.select(col("l_orderkey"), col("l_suppkey"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(Fine).as("rev_term"))
        .join(or, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_term")).as("rev"), count(lit(1)).as("n"))
    }
    val (tQ5a, _) = timed(q206shape(li0, o0))
    val (tQ5b, _) = timed(q206shape(li, o))
    println(f"[scale-dry-run] q206_snowflake_1x      $tQ5a%8.2f s")
    println(f"[scale-dry-run] q206_snowflake_10x     $tQ5b%8.2f s  (ratio ${tQ5b / tQ5a}%.1fx)")
    // q207: the day-local sweep at 10x events over 10x fresh users —
    // sessions grow in COUNT, the per-day window partitioning must keep
    // the sweep day-bounded (a global-sort formulation would blow past
    // linear here)
    val (tPk1, _) = timed(graft.queries.Funnels.peakConcurrency(ev0))
    val (tPk10, _) = timed(graft.queries.Funnels.peakConcurrency(ev10))
    println(f"[scale-dry-run] q207_peak_conc_1x      $tPk1%8.2f s")
    println(f"[scale-dry-run] q207_peak_conc_10x     $tPk10%8.2f s  (ratio ${tPk10 / tPk1}%.1fx)")
    // q208: two stacked backward windows per user — one shuffle, no
    // join; per-user depth is constant so 10x users must stay ~linear
    val (tWf1, _) = timed(graft.queries.Funnels.windowFunnelDepth(ev0))
    val (tWf10, _) = timed(graft.queries.Funnels.windowFunnelDepth(ev10))
    println(f"[scale-dry-run] q208_window_funnel_1x  $tWf1%8.2f s")
    println(f"[scale-dry-run] q208_window_funnel_10x $tWf10%8.2f s  (ratio ${tWf10 / tWf1}%.1fx)")
    // q220: the 5-way nation-pair join at 10x facts over fixed dims —
    // the per-side IN pruning must keep the broadcast sides constant
    // and the fact-fact shuffles the only thing that scales
    def q220shape(lix: DataFrame, ox: DataFrame): DataFrame = {
      val nfil = spark.read.parquet(s"$dir/nation.parquet")
        .filter(col("n_name").isin("NATION_3", "NATION_24"))
      val sp = spark.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(nfil), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cu = cust0.select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(nfil), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      lix.filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(Fine).as("rev_term"))
        .join(broadcast(sp), col("l_suppkey") === col("s_suppkey"))
        .join(ox.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("rev_term")).as("rev"))
    }
    val (tQ7a, _) = timed(q220shape(li0, o0))
    val (tQ7b, _) = timed(q220shape(li, o))
    println(f"[scale-dry-run] q220_pair_trade_1x     $tQ7a%8.2f s")
    println(f"[scale-dry-run] q220_pair_trade_10x    $tQ7b%8.2f s  (ratio ${tQ7b / tQ7a}%.1fx — 10x facts, fixed dims)")
    // q223: the HAVING-agg probe set at 10x lineitem — the qty agg is
    // the only full-fact pass; the join-back sees just the qualifying
    // orders and the top-100 stays TakeOrdered (no global sort)
    def q223shape(lix: DataFrame, ox: DataFrame): DataFrame = {
      val big = lix.select(col("l_orderkey"), col("l_quantity"))
        .groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
        .filter(col("qty_dec") > lit(250))
      big.join(ox.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust0.select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    }
    val (tQ18a, _) = timed(q223shape(li0, o0))
    val (tQ18b, _) = timed(q223shape(li, o))
    println(f"[scale-dry-run] q223_large_vol_1x      $tQ18a%8.2f s")
    println(f"[scale-dry-run] q223_large_vol_10x     $tQ18b%8.2f s  (ratio ${tQ18b / tQ18a}%.1fx)")
    spark.stop()
  }
}
