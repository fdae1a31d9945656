package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{DedupCluster, MinHashDedup, Sampling, Similarity}
import graft.functions.Exact.{dec, dsum, dsumExpr, Fine}
import graft.operators.SkewJoin
import graft.queries.{CorpusOps, DataMix, EventWindows, Funnels, GraphOps,
  Learn, Lexical, Mining, PipelineOps, Quantize, Retrieval, SubstrDedup,
  TextOps, Tokenize, VectorOps, Warehouse}

/** Scale evidence: re-run operators on fixture tables grown 1×, 10×,
  * 100×, … and print each run's wall time with its ratio to the leg's
  * first run. A ratio far above the multiplier flags a plan that won't
  * survive a real scale-up. Synthetic only as INPUT VOLUME — correctness
  * is gated by the DuckDB oracle on the fixtures themselves.
  *
  * Every leg is one row of [[legs]]: a name, the multipliers it runs
  * at, and a function from multiplier to the Dataset it times, built on
  * the growth helpers of [[Growth]]. One line per run:
  * `[scale] <name> <m>x <wall> s <rows> rows <ratio>x [note]`.
  *
  * {{{
  * sbt "runMain graft.tools.ScaleRun [baseDir] [maxMult]"
  * }}}
  * baseDir defaults to the sf0.1 fixture and maxMult to 10; 100 adds
  * the 100× legs (60M lineitem rows; run with SPARK_DRIVER_MEM=48g — the
  * q101 rank-state legs alone take ~9 min there).
  */
object ScaleRun {

  /** What a leg times: the Dataset and a telemetry note, both evaluated
    * inside the timed window (q111_ivf_sem's suppressed count was always
    * part of its time; ClusterStats are known once construction ends). */
  final case class Timed(ds: Dataset[_], note: () => String = () => "")

  /** `run(m)` — construction plus a full `toRdd` count — is timed;
    * `prep(m)` runs untimed before it; `conf` is set around the leg. */
  final case class Leg(name: String, mults: Seq[Int], run: Int => Timed,
      prep: Int => Unit = _ => (), conf: Map[String, String] = Map.empty)

  final case class Result(name: String, mult: Int, secs: Double, rows: Long)

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val maxMult = args.lift(1).fold(10)(_.toInt)
    val spark = graft.Sessions.local(graft.Sessions.envCpus)
    try run(spark, baseDir, maxMult) finally spark.stop()
  }

  /** Every leg at each of its multipliers up to `maxMult`. */
  def run(spark: SparkSession, baseDir: String, maxMult: Int): Seq[Result] = {
    val g = new Growth(spark, baseDir)
    try {
      g.li0.agg(count(lit(1))).queryExecution.toRdd.count(): Unit // warm-up
      val results = legs(g).flatMap(timeLeg(spark, _, maxMult))
      // a skew mitigation must change the shuffle, never the multiset
      for (p <- Seq("skew_join_", "skew100_")) {
        val ns = results.filter(_.name.startsWith(p)).map(_.rows).distinct
        require(ns.size <= 1, s"skew mitigation changed row multiplicity: $ns")
      }
      results
    } finally org.apache.commons.io.FileUtils.deleteDirectory(g.scratch)
  }

  private def timeLeg(spark: SparkSession, leg: Leg,
      maxMult: Int): Seq[Result] = {
    val saved = leg.conf.keys.map(k => k -> spark.conf.getAll.get(k))
    leg.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try leg.mults.filter(_ <= maxMult).foldLeft(Vector.empty[Result]) {
      (done, m) =>
        leg.prep(m)
        val t0 = System.nanoTime()
        val out = leg.run(m)
        val n = out.ds.queryExecution.toRdd.count()
        val note = out.note()
        val r = Result(leg.name, m, (System.nanoTime() - t0) / 1e9, n)
        val first = done.headOption.getOrElse(r).secs
        println(f"[scale] ${leg.name}%-30s $m%4dx ${r.secs}%8.2f s $n%10d rows ${r.secs / first}%6.1fx  $note")
        done :+ r
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The fixture tables and the ways legs grow them. Copy 0 of every
    * growth is the base table itself, so 1× is the base as read; a
    * grown table is one round-robin repartition of its copies. Growth
    * is a BIGGER WORLD unless a name says otherwise: offset keys keep
    * joins 1:1 per key and shuffled tokens keep dup groups at their
    * planted density, so a ratio measures PLAN scaling rather than the
    * (semantic) output blow-up of m-deep duplicate groups. */
  final class Growth(val spark: SparkSession, val dir: String) {
    private val cpus = spark.sparkContext.defaultParallelism
    lazy val scratch: java.io.File =
      java.nio.file.Files.createTempDirectory("scale-run").toFile

    def read(t: String): DataFrame = spark.read.parquet(s"$dir/$t.parquet")
    lazy val li0: DataFrame = read("lineitem")
    lazy val o0: DataFrame = read("orders")
    lazy val cust0: DataFrame = read("customer")
    lazy val docs0: DataFrame = read("documents")
    lazy val emb0: DataFrame = read("embeddings")
    lazy val ev0: DataFrame = graft.Tables.events(spark, dir)
    lazy val baskets0: DataFrame =
      li0.select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))

    def grow(base: DataFrame, m: Int)(copy: Int => DataFrame): DataFrame =
      if (m == 1) base
      else (base +: (1 until m).map(copy)).reduce(_ unionByName _)
        .repartition(cpus)

    /** m verbatim copies: every key repeats m times, so joins on it fan
      * out m-fold — the hostile direction for join planning. */
    def selfUnion(base: DataFrame, m: Int): DataFrame = grow(base, m)(_ => base)

    def offsetKeys(base: DataFrame, m: Int, stride: Long,
        keys: String*): DataFrame = grow(base, m)(i =>
      keys.foldLeft(base)((d, k) => d.withColumn(k, col(k) + lit(i * stride))))

    def liSelf(m: Int): DataFrame = selfUnion(li0, m)
    def oSelf(m: Int): DataFrame = selfUnion(o0, m)
    def liKeyed(m: Int): DataFrame = offsetKeys(li0, m, 100000000L, "l_orderkey")
    def oKeyed(m: Int): DataFrame = offsetKeys(o0, m, 100000000L, "o_orderkey")

    /** Copy i of `base` with fresh doc_ids (copy index = doc_id div 10⁷)
      * and its tokens shuffled: same vocabulary, decorrelated shingles. */
    def shuffledCopy(base: DataFrame, i: Int): DataFrame =
      base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        concat_ws(" ", shuffle(split(col("text"), " "))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    def docs(m: Int): DataFrame = grow(docs0, m)(shuffledCopy(docs0, _))
    def textDocs(m: Int): DataFrame = docs(m).filter(col("text").isNotNull)

    /** Duplicate-DENSE: every doc gets `depth` near-copies (text + one
      * trailing salt token, J ≈ 0.93, so copies ride the NEAR-pair path,
      * not the exact-hash star edges). m ≤ 10 is m-deep over the base;
      * 100 is 10-deep over the 10× shuffled corpus (500k docs at sf0.1). */
    def dense(m: Int): DataFrame = {
      val base = docs(math.max(1, m / 10))
      grow(base, math.min(m, 10))(k =>
        base.select((col("doc_id") + lit(k * 100000000L)).as("doc_id"),
          concat(col("text"), lit(s" salt$k")).as("text"),
          col("lang"), col("source"), col("n_chars")))
    }

    /** HOT-SHINGLE (Zipf-head) corpus: a 2000-doc base whose every doc
      * opens with the same 5-token preamble — 3 shingles shared by ALL
      * docs, J(unrelated) ≈ 0.05, yet the exact generator's buckets span
      * the block and r=1 banding collides at p ≈ 0.34. */
    def hot(m: Int): DataFrame = {
      val base = docs0.filter(col("doc_id") < 2000)
      def pre(d: DataFrame) =
        d.withColumn("text", concat(lit("h1 h2 h3 h4 h5 "), col("text")))
      grow(pre(base), m)(i => pre(shuffledCopy(base, i)))
    }

    /** Fresh pseudo-random vectors per copy, same label distribution;
      * memoized per m so legs sharing a multiplier see one draw. */
    private val vecs = mutable.Map.empty[Int, DataFrame]
    def vectors(m: Int): DataFrame = vecs.getOrElseUpdate(m, randomVectors(m, 0))
    /** q103's copies re-id to residue 1 so only the base labels seed. */
    def knnVectors(m: Int): DataFrame = randomVectors(m, 1)
    private def randomVectors(m: Int, residue: Int): DataFrame =
      grow(emb0, m) { i =>
        val id = col("vec_id") + lit(i * 10000000L)
        emb0.select((if (residue == 0) id else id * 10 + residue).as("vec_id"),
          expr("transform(embedding, x -> cast(rand() * 2 - 1 as float))")
            .as("embedding"),
          col("label"))
      }

    /** IVF indexes per (m, cells): `fitIvf` always builds (and records),
      * `ivf` reuses a recorded index. */
    private val ivfs = mutable.Map.empty[(Int, Int), Similarity.IvfIndex]
    def fitIvf(m: Int, cells: Int): Similarity.IvfIndex = {
      val idx = Similarity.ivfBuild(vectors(m), nCells = cells).get
      ivfs((m, cells)) = idx
      idx
    }
    def ivf(m: Int, cells: Int): Similarity.IvfIndex =
      ivfs.getOrElse((m, cells), fitIvf(m, cells))

    /** Fresh event and user ids per copy: users grow in COUNT, per-user
      * depth stays flat. */
    def events(m: Int): DataFrame = grow(ev0, m)(i =>
      ev0.select((col("event_id") + lit(i * 1000000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(i * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props")))

    /** More ORDERS over the fixed part catalog (more baskets, same
      * entities) — the realistic growth for the basket/graph legs. */
    def baskets(m: Int): DataFrame = offsetKeys(baskets0, m, 1000000000L, "ok")
    /** Disjoint shifted subgraphs: the rank state itself grows. */
    def parts(m: Int): DataFrame = grow(baskets0, m)(i =>
      baskets0.select((col("ok") + lit(i * 1000000000L)).as("ok"),
        (col("part") + lit(i * 10000000L)).as("part")))
  }

  private def leg(name: String, mults: Int*)(ds: Int => Dataset[_]): Leg =
    Leg(name, mults, m => Timed(ds(m)))

  private val staticShuffle = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")
  private val aqeSkewSplit = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")

  /** The table. Names are stable: BASELINE.md quotes them. */
  def legs(g: Growth): Seq[Leg] = {
    import g._
    def docsLeg(name: String, mults: Int*)(op: DataFrame => Dataset[_]) =
      leg(name, mults: _*)(m => op(docs(m)))
    def textLeg(name: String, mults: Int*)(op: DataFrame => Dataset[_]) =
      leg(name, mults: _*)(m => op(textDocs(m)))
    def eventsLeg(name: String, mults: Int*)(op: DataFrame => Dataset[_]) =
      leg(name, mults: _*)(m => op(events(m)))
    def vecLeg(name: String, mults: Int*)(op: DataFrame => Dataset[_]) =
      leg(name, mults: _*)(m => op(vectors(m)))
    def nonNullVecs(e: DataFrame) = e.filter(col("embedding").isNotNull)
    def idVecs(e: DataFrame) = nonNullVecs(e).select(col("vec_id"), col("embedding"))

    // ---- relational: lineitem/orders at 1x/10x/100x ----
    val revenue = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
    def factJoin(o: DataFrame, li: DataFrame) =
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(dsumExpr(revenue).as("rev"), count(lit(1)).as("n"))
    val revTerm = revenue.cast(Fine).as("rev_term")
    // q205/q206/q220/q223 shapes: the probe sides grow, the dimension
    // catalog doesn't — broadcasts and pushdown must keep the plan
    // fact-bounded
    def q205(li: DataFrame, o: DataFrame) = {
      val c = cust0.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val or = o.filter(col("o_orderdate") < lit("1998-07-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = li.filter(col("l_shipdate") > lit("1998-07-01"))
        .select(col("l_orderkey"), revTerm)
      or.join(c, col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev_term")).as("rev_dec"))
        .orderBy(col("rev_dec").desc, col("o_orderkey")).limit(10)
    }
    def q206(li: DataFrame, o: DataFrame) = {
      val nat = read("nation")
        .join(broadcast(read("region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = cust0.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val or = o.filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = read("supplier").select(col("s_suppkey"), col("s_nationkey"))
      li.select(col("l_orderkey"), col("l_suppkey"), revTerm)
        .join(or, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_term")).as("rev"), count(lit(1)).as("n"))
    }
    // the 5-way nation-pair join: per-side IN pruning keeps both
    // broadcast sides constant
    def q220(li: DataFrame, o: DataFrame) = {
      val nfil = read("nation").filter(col("n_name").isin("NATION_3", "NATION_24"))
      val sp = read("supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(nfil), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cu = cust0.select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(nfil), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      li.filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"), revTerm)
        .join(broadcast(sp), col("l_suppkey") === col("s_suppkey"))
        .join(o.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("rev_term")).as("rev"))
    }
    // HAVING-agg probe set: the qty agg is the only full-fact pass, the
    // top-100 stays TakeOrdered
    def q223(li: DataFrame, o: DataFrame) =
      li.select(col("l_orderkey"), col("l_quantity"))
        .groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
        .filter(col("qty_dec") > lit(250))
        .join(o.select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate"), col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust0.select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    // skewed fact-dim join: plain SMJ vs salted vs AQE skew split. 90%
    // of the fact rows share ONE key and the dim is forced
    // non-broadcastable, so a static shuffle lands the hot key on one
    // reducer; all three must return the same row count (SkewJoinSpec
    // asserts multiplicity too)
    def skewLegs(prefix: String, m: Int, fact: Int => DataFrame,
        dim: Int => DataFrame): Seq[Leg] = {
      def join(m: Int) = fact(m).join(dim(m), col("k") === col("k2"))
      Seq(
        leg(s"${prefix}plain_smj", m)(join).copy(conf = staticShuffle),
        leg(s"${prefix}salted_f32", m)(m => SkewJoin.saltedInnerJoin(
          fact(m), "k", dim(m), "k2", factor = 32)).copy(conf = staticShuffle),
        leg(s"${prefix}aqe_split", m)(join).copy(conf = aqeSkewSplit))
    }
    // percentile cuts: catalog growth keeps the value map catalog-sized;
    // distinct growth offsets every copy's cents (the merge worst case)
    lazy val scored0 = li0.select(
      (col("l_extendedprice").cast("decimal(12,4)") * 10000)
        .cast("long").as("score_cents"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
    def gains(scored: DataFrame) = {
      val cuts = scored.agg(percentile(col("score_cents"),
        array((1 to 9).map(i => lit(i / 10.0)): _*)).as("cuts"))
      scored.crossJoin(broadcast(cuts))
        .select(expr("size(filter(cuts, c -> c < score_cents))").as("decile"),
          col("pos"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    }

    val relational = Seq(
      leg("tpch_q1_agg", 1, 10, 100)(m =>
        liKeyed(m).groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(dsum(col("l_quantity")).as("sum_qty"), dsumExpr(revenue).as("rev"),
            count(lit(1)).as("n"))),
      leg("fact_fact_join_selfunion", 10)(m => factJoin(oSelf(m), liSelf(m))),
      leg("fact_fact_join_offset", 1, 10, 100)(m => factJoin(oKeyed(m), liKeyed(m))),
      leg("topk", 10)(m =>
        oSelf(m).join(liSelf(m), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey")).agg(sum(col("l_extendedprice")).as("r"))
          .orderBy(col("r").desc, col("o_custkey")).limit(10)),
      leg("q205_topk", 1, 10)(m => q205(liSelf(m), oSelf(m))),
      leg("q206_snowflake", 1, 10)(m => q206(liSelf(m), oSelf(m))),
      leg("q220_pair_trade_selfunion", 1, 10)(m => q220(liSelf(m), oSelf(m))),
      leg("q220_pair_trade_offset", 1, 10, 100)(m => q220(liKeyed(m), oKeyed(m))),
      leg("q223_large_vol_selfunion", 1, 10)(m => q223(liSelf(m), oSelf(m))),
      leg("q223_large_vol_offset", 1, 10, 100)(m => q223(liKeyed(m), oKeyed(m))),
      leg("gains_cut_catalog", 1, 10, 100)(m => gains(selfUnion(scored0, m))),
      leg("gains_cut_distinct", 1, 10, 100)(m =>
        gains(offsetKeys(scored0, m, 10000000000L, "score_cents")))
    ) ++
      // 10x: self-unioned dim keys repeat, so every fact row joins 10-fold
      skewLegs("skew_join_", 10, m => liSelf(m).withColumn("k",
          when(rand(7L) < 0.9, lit(1L)).otherwise(col("l_orderkey")))
        .select(col("k"), col("l_extendedprice")),
        m => oSelf(m).select(col("o_orderkey").as("k2"), col("o_orderpriority"))) ++
      // 100x: unique dim keys (one orders copy), so the leg measures
      // reducer skew, not a key-duplication blow-up
      skewLegs("skew100_", 100, m => liKeyed(m).withColumn("k",
          when(rand(7L) < 0.9, lit(1L)).otherwise(
            pmod(col("l_orderkey"), lit(6000000L)) + 1))
        .select(col("k"), col("l_extendedprice")),
        _ => o0.select(col("o_orderkey").as("k2"), col("o_orderpriority")))

    // ---- text: near-dup generators, clustering, corpus operators ----
    lazy val skewFracs = docs0.select("source").distinct().collect()
      .map(_.getString(0)).zipWithIndex
      .map { case (s, i) => s -> (if (i == 0) 10.0 else 0.5) }.toMap
    val batchFixed = docs0.filter(col("doc_id") % 10 === 7)
    val text = Seq(
      docsLeg("exact_dedup (q23 shape)", 10)(d =>
        d.groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("m"))),
      docsLeg("simhash_band (q31 shape)", 10) { d =>
        graft.functions.TextFunctions.registerSimHash(spark)
        // simhash is order-INsensitive, so shuffled copies would still
        // collide — salt every token with the copy index instead
        val sigs = d
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
      },
      docsLeg("ngram_jaccard_pruned (q24 shape)", 10) { docs =>
        val d = docs.select(col("doc_id"), col("source"),
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
      },
      // dup-dense generator COST: the true pair set is quadratic in depth
      // by construction; exact enumerates every co-shingle pair, banded
      // pays bucket-bounded candidates + one verify each, r=2 AND-banding
      // collapses frequent-shingle junk by J², the q184 prefix filter is
      // bounded by each doc's rarest 20% of shingles
      leg("dup_dense_exact", 1, 10, 100)(m => TextOps.jaccardPairs(dense(m), 0.5)),
      leg("dup_dense_banded", 1, 10, 100)(m =>
        MinHashDedup.bandedJaccardPairs(dense(m), 0.5)),
      leg("dup_dense_banded_r2", 1, 10)(m =>
        MinHashDedup.bandedJaccardPairs(dense(m), 0.5, bandWidth = 2)),
      leg("dup_dense_prefix", 1, 10)(m => Lexical.prefixJaccardPairs(dense(m))),
      Leg("cluster_banded", Seq(1, 10, 100), m => {
        val (labels, s) = DedupCluster.clustersWithStats(dense(m))
        Timed(labels, () => s"rounds=${s.rounds} hopRounds=${s.hopRounds} " +
          s"changed=${s.changed.mkString(",")}")
      }),
      leg("hot_exact", 1, 4)(m => TextOps.jaccardPairs(hot(m), 0.5)),
      leg("hot_banded_r1", 1, 4)(m => MinHashDedup.bandedJaccardPairs(hot(m), 0.5)),
      leg("hot_banded_r2", 1, 4)(m =>
        MinHashDedup.bandedJaccardPairs(hot(m), 0.5, bandWidth = 2)),
      docsLeg("q55_decontaminate", 1, 10)(PipelineOps.decontaminate(_)),
      docsLeg("q58_pack", 1, 10)(PipelineOps.packSequences(_)),
      // one stratum upweighted 10x, the rest downsampled: AQE must
      // re-split the explode path's skewed output
      Leg("q54_skew_rebalance", Seq(1, 10),
        m => Timed(Sampling.stratifiedSample(docs(m), "source", skewFracs)),
        prep = _ => skewFracs: Unit),
      docsLeg("q68_tfidf", 1, 10)(CorpusOps.tfidfTerms(_)),
      textLeg("q71_boilerplate", 1, 10)(CorpusOps.boilerplateScore(_)),
      docsLeg("q88_budget_mix", 1, 10)(PipelineOps.tokenBudgetMix(_)),
      docsLeg("q90_surprisal", 1, 10)(CorpusOps.bigramSurprisal(_)),
      textLeg("q96_chunk_dedup", 1, 10, 100)(PipelineOps.chunkDedup(_)),
      // the df>50 cap must keep the exact self-join bucket-bounded while
      // the shuffled copies grow the rare-shingle universe with the corpus
      textLeg("q97_containment", 1, 10, 100)(TextOps.containmentPairs(_)),
      docsLeg("q98_cascade", 1, 10)(PipelineOps.filterCascade(_)),
      textLeg("q102_bm25", 1, 10)(Retrieval.bm25(_)),
      docsLeg("q109_dsir", 1, 10)(DataMix.dsirWeights(_)),
      docsLeg("q110_mix", 1, 10)(DataMix.sourceMix(_)),
      docsLeg("q112_winnowing", 1, 10)(Lexical.winnowingPairs(_)),
      docsLeg("q113_zipf", 1, 10)(Lexical.zipfSlopes(_)),
      textLeg("q116_winnowed", 1, 10)(TextOps.winnowedContainment(_)),
      textLeg("q117_bpe_learn", 1, 10)(Tokenize.bpeLearn(_)),
      textLeg("q118_lm_score", 1, 10)(Tokenize.lmScore(_)),
      textLeg("q119_subword_pack", 1, 10)(Tokenize.subwordPack(_)),
      docsLeg("q122_postings", 1, 10)(Retrieval.invertedPostings(_)),
      // FIXED batch against a growing corpus: update cost must follow
      // the batch, not the corpus
      docsLeg("q124_update", 1, 10)(d => Retrieval.postingsUpdate(
        d.filter(col("doc_id") % 10 =!= 7), batchFixed)),
      docsLeg("q125_nb_langid", 1, 10)(Learn.nbLangId(_)),
      docsLeg("q127_allpairs", 1, 10)(Lexical.sparseAllPairs(_)),
      docsLeg("q128_substr", 1, 10)(SubstrDedup.duplicateSpans(_)),
      textLeg("q132_keyness", 1, 10)(CorpusOps.distinctiveTerms(_)),
      // one shard-keyed shuffle + streaming writes
      textLeg("tar_shards", 1, 10)(d => graft.sinks.TarShards.writeShards(
        d.select(col("doc_id"), col("text").cast("binary").as("payload"),
          col("lang").as("meta")),
        java.nio.file.Files.createTempDirectory(scratch.toPath, "shards").toString,
        8)))

    // ---- events: fresh users per copy ----
    val eventLegs = Seq(
      eventsLeg("q61_funnel", 1, 10)(Funnels.funnel(_)),
      eventsLeg("q75_rolling_exact", 1, 10, 100)(Funnels.rollingDistinctUsers(_)),
      eventsLeg("q77_rolling_hll", 1, 10, 100)(Funnels.rollingDistinctUsersSketch(_)),
      eventsLeg("q93_state_iv", 1, 10)(Warehouse.stateIntervals(_)),
      eventsLeg("q99_session_met", 1, 10)(EventWindows.sessionMetrics(_)),
      eventsLeg("q100_last_touch", 1, 10)(Funnels.lastTouch(_)),
      eventsLeg("q107_quantiles", 1, 10)(Funnels.rollingValueQuantiles(_)),
      eventsLeg("q207_peak_conc", 1, 10)(Funnels.peakConcurrency(_)),
      eventsLeg("q208_window_funnel", 1, 10)(Funnels.windowFunnelDepth(_)))

    // ---- baskets and graphs: more orders over the fixed catalog ----
    val graphLegs = Seq(
      leg("q142_assoc", 1, 10)(m => Mining.assocRules(baskets(m))),
      leg("q101_pagerank", 1, 10, 100)(m => GraphOps.partPageRank(baskets(m))),
      // rank-state join crossover: disjoint subgraphs grow the rank
      // state itself; broadcast re-ships it every iteration, copartition
      // exchanges it once per iteration over the bucketed adjacency
      leg("q101_rs_broadcast", 10, 100)(m =>
        GraphOps.partPageRank(parts(m), rankState = "broadcast")),
      leg("q101_rs_copart", 10, 100)(m =>
        GraphOps.partPageRank(parts(m), rankState = "copartition")),
      // denser co-purchase graph: the degree orientation keeps wedge
      // fan-out O(sqrt m) per node
      leg("q130_triangles", 1, 10)(m => GraphOps.triangleCounts(baskets(m))),
      leg("q131_coeff", 1, 10)(m => GraphOps.clusteringCoeff(baskets(m))))

    // ---- vectors: fresh random vectors per copy ----
    val ivfCells = Map(1 -> 16, 10 -> 50, 100 -> 160)
    def ivfCenters(m: Int) = ivf(m, ivfCells(m)).centroids
      .select(col("pcell").as("center_id"), col("centroid"))
    val vectorLegs = Seq(
      vecLeg("embedding_neardup_lsh (q47 shape)", 10)(Similarity.neardupLsh(_)),
      vecLeg("q89_hard_neg", 1, 10)(VectorOps.hardNegatives(_)),
      leg("q103_knn", 1, 10)(m => Retrieval.knnClassify(knnVectors(m))),
      vecLeg("q105_outliers", 1, 10)(VectorOps.labelOutliers(_)),
      vecLeg("q111_semdedup_label_centers", 1, 10)(e =>
        VectorOps.semDedup(e, VectorOps.labelCenters(e))),
      // the production center seam: q48's IVF fit timed apart from the
      // semDedup pass it feeds
      leg("q111_ivf_fit", 1, 10)(m => fitIvf(m, 16).centroids),
      Leg("q111_ivf_sem", Seq(1, 10), m => {
        val out = VectorOps.semDedup(vectors(m), VectorOps.ivfCenters(ivf(m, 16)))
        Timed(out, () => s"${out.filter(col("removed")).count()} suppressed")
      }),
      // k ~ sqrt(n) IVF centers keep per-cluster population bounded; the
      // center fit is untimed
      Leg("q111_semdedup_ivf_centers", Seq(1, 10, 100),
        m => Timed(VectorOps.semDedup(vectors(m), ivfCenters(m)),
          () => s"k=${ivfCells(m)}"),
        prep = m => ivfCenters(m): Unit),
      vecLeg("q120_quantize", 1, 10)(e => Quantize.quantize(idVecs(e))),
      vecLeg("q123_jl", 1, 10)(e => Quantize.jlProject(idVecs(e))),
      vecLeg("q126_kmeans", 1, 10)(e => Learn.kmeans(nonNullVecs(e))),
      vecLeg("q134_covariance", 1, 10)(e => Learn.embedCovariance(nonNullVecs(e))),
      // cold build+query vs queries against one built index
      vecLeg("ivf_cold_build+query", 100)(Similarity.ivfTopK(_)),
      leg("ivf_build_only", 100)(m => fitIvf(m, 16).centroids),
      leg("ivf_query_reused_1", 100)(m => Similarity.ivfQuery(ivf(m, 16))),
      leg("ivf_query_reused_2", 100)(m => Similarity.ivfQuery(ivf(m, 16))))

    relational ++ text ++ eventLegs ++ graphLegs ++ vectorLegs
  }
}
