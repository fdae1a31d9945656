package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.{Q, Tables}

/** Iterative graph analytics over a co-occurrence graph (SURVEY.md §2.8,
  * round-8 additions): PageRank on the part co-purchase graph — the
  * "importance over a derived relationship graph" operator a curation
  * pipeline uses to rank entities (domains by link authority, documents
  * by citation, parts by basket centrality) before sampling or boosting.
  *
  * Everything is INTEGER micro-unit arithmetic (rank scaled ×1e6,
  * damping 0.85 as `(inc * 85) DIV 100`, contribution as `rank DIV
  * outdeg`): Spark's `DIV` and DuckDB's `//` agree on non-negative
  * BIGINTs, so ten iterations of float-free PageRank hash-match the
  * oracle exactly — the q68/q90 integer-score recipe applied to an
  * iterative fixpoint.
  *
  * Scale shape (100 TB): the edge list is built from a per-order
  * self-join AFTER a per-order `distinct` — per-order part sets are
  * small and bounded (order size), so pair generation is
  * Σ|order|², never |lineitem|². Edges + out-degrees are STAGED once
  * (the parquet materialization barrier — the evaluate-once guarantee a
  * production pipeline gets from persisting them; without it the lazy
  * plan would re-run the self-join per iteration); each iteration is
  * ONE shuffle:
  * ranks (|parts| rows — the small, fixed-size state) hash-join the
  * edge list on src, partial-agg on dst map-side, then a left join back
  * to the node set. Edges can be pre-partitioned by src so iterations
  * reuse the layout; rank state never exceeds the entity count.
  */
object GraphOps {

  private val iters = 10

  /** Max neighbors per CSR adjacency row (q101): chunking key is
    * `dst div adjSegSize` — the q122 value-based segment recipe — so a
    * row holds at most 64k ids (~512 KB) no matter the node's degree.
    * A power-law hub with 10⁸ neighbors becomes ~1.5k bounded rows
    * instead of one multi-GB row that neither broadcast nor
    * copartition mode could hold in memory. */
  private val adjSegSize = 65536

  /** Core of q101 over any (ok, part) basket frame.
    *
    * `rankState` picks the per-iteration join strategy for the
    * entity-sized rank table:
    *  - `"broadcast"` — rank state rides a broadcast into the CSR
    *    adjacency join; the edge stream never shuffles AND never sorts.
    *    The fast plan while the rank table fits the driver/executors
    *    (≲ tens of millions of nodes).
    *  - `"copartition"` — the CSR adjacency is staged as a BUCKETED
    *    table on `src` ([[graft.operators.Stage.materializeBucketed]]);
    *    each iteration sort-merge-joins the freshly-computed rank state
    *    (one entity-sized exchange) against the bucketed scan (NO
    *    exchange, no sort). The web-scale plan: nothing edge-sized ever
    *    moves, and rank state never has to fit in one JVM.
    *  - `"auto"` (default) — broadcast while the node count is at most
    *    `graft.pagerank.broadcastMaxNodes` (session conf, default 10M ≈
    *    a few hundred MB of broadcast), else copartition. The node
    *    count is read off the staged node table — a parquet-metadata
    *    count, not a scan.
    */
  /** The staged structures the PageRank loop iterates over: chunked-CSR
    * adjacency, node set, and the constant no-in-edge node set, plus the
    * resolved rank-state strategy. Built once and reused — across
    * iterations within a query (always) and across invocations via the
    * registry's session memo (the q48 build/probe seam: at production
    * scale these ARE the landed graph tables a ranking job reads). */
  final case class PageRankIndex(adj: DataFrame, nodes: DataFrame,
    noIn: DataFrame, useBroadcast: Boolean)

  def buildPageRankIndex(baskets: DataFrame,
      rankState: String = "auto"): PageRankIndex = {
    val li = baskets.select(col("ok"), col("part")).distinct()
    val dst = li.withColumnRenamed("part", "dst")
    val edges = li.join(dst, Seq("ok"))
      .filter(col("part") =!= col("dst"))
      .select(col("part").as("src"), col("dst"))
      .distinct()
    // adjacency in chunked-CSR shape — one row per (src, dst-id-block)
    // with that block's neighbor array, the FULL out-degree carried per
    // chunk — STAGED once (the q49/q68 barrier pattern): every
    // iteration then scans chunk rows and regenerates the edge stream
    // in-flight via explode, instead of re-reading (or worse,
    // re-computing) the edge-count-sized table ten times. The value-
    // based chunk key (`dst div adjSegSize`, the q122 segment recipe)
    // bounds every row at adjSegSize ids regardless of degree — the
    // round-9 one-row-per-src build put a hub's ENTIRE neighbor list
    // in one unbounded (and unspillable) row. Neighbor order across
    // and inside chunks is irrelevant: contributions are summed, an
    // order-free integer monoid, and the rank join matches every chunk
    // of a src to the same rank row.
    val chunks = edges
      .groupBy(col("src"), expr(s"dst div $adjSegSize").as("seg"))
      .agg(count(lit(1)).as("seg_deg"), collect_list(col("dst")).as("dsts"))
    val adjDf = chunks
      .withColumn("outdeg", sum(col("seg_deg")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .select(col("src"), col("outdeg"), col("dsts"))
    val nodes = graft.operators.Stage.materialize(
      li.select(col("part")).distinct(), "pagerank-nodes")
    val spark = baskets.sparkSession
    val useBroadcast = rankState match {
      case "broadcast"   => true
      case "copartition" => false
      case _ =>
        val maxNodes = spark.conf
          .getOption("graft.pagerank.broadcastMaxNodes")
          .map(_.toLong).getOrElse(10000000L)
        nodes.count() <= maxNodes
    }
    val adj =
      if (useBroadcast)
        graft.operators.Stage.materialize(adjDf, "pagerank-adj")
      else graft.operators.Stage.materializeBucketed(adjDf, "pagerank-adj",
        "src", spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // a node with NO in-edges sits at the damped base forever; a node
    // WITH in-edges receives an inc row EVERY iteration (contributions
    // flow regardless of rank values) — so the rank update needs no
    // join at all: rewrite inc's rows and union the constant set.
    // Computed once, outside the loop.
    val noIn = graft.operators.Stage.materialize(
      nodes.join(adj.select(explode(col("dsts")).as("part")).distinct(),
        Seq("part"), "left_anti"),
      "pagerank-noin")
    PageRankIndex(adj, nodes, noIn, useBroadcast)
  }

  def partPageRank(baskets: DataFrame, topK: Int = 20,
      rankState: String = "auto"): DataFrame =
    partPageRankFrom(buildPageRankIndex(baskets, rankState), topK)

  /** The converged GLOBAL rank table after `iters` damped rounds —
    * the BUILD half of the q48/q169 build/probe seam; entity-sized,
    * so the registry stages+memoizes it per (session, snapshot,
    * strategy) and a warm pass pays one small scan + the top-k
    * instead of the 10-iteration loop. */
  private[graft] def convergedRanks(index: PageRankIndex): DataFrame = {
    val PageRankIndex(adj, nodes, noIn, useBroadcast) = index
    val noInRanks = noIn.withColumn("rank", lit(150000L))

    // rank state is ENTITY-sized (one row per part), so it rides a
    // broadcast into the adjacency join each iteration — nothing
    // edge-sized ever shuffles; the per-iteration shuffle is only the
    // map-side-combined dst agg. (At web scale, where rank state
    // outgrows a broadcast, the same loop runs with adj and ranks
    // BUCKETED on the key so iterations reuse the co-partitioned
    // layout — the CSR staging above is exactly that table.)
    var ranks = nodes.withColumn("rank", lit(1000000L))
    for (_ <- 1 to iters) {
      // broadcast mode: ranks broadcast, adjacency streams in place.
      // copartition mode: the merge hint forces SMJ — the bucketed,
      // sorted adjacency scan needs no exchange and no sort, so the
      // only per-iteration data movement is the entity-sized rank
      // exchange (never the edge bytes).
      val joined =
        if (useBroadcast) adj.join(broadcast(ranks), col("src") === col("part"))
        else adj.join(ranks.hint("merge"), col("src") === col("part"))
      val inc = joined
        .select(expr("rank DIV outdeg").as("contrib"),
          explode(col("dsts")).as("dst"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("inc"))
      ranks = inc.select(col("dst").as("part"),
          expr("CAST(150000 + (inc * 85) DIV 100 AS BIGINT)").as("rank"))
        .unionByName(noInRanks)
    }
    ranks
  }

  /** PROBE half shared by q101/q168: ranked top-k of a (part, rank)
    * table. */
  private[graft] def rankTopK(ranks: DataFrame, topK: Int): DataFrame =
    // final top-k: orderBy+limit plans TakeOrderedAndProject (each
    // partition keeps k rows, driver merges k·p) — never the
    // single-partition WindowExec a partition-less row_number forces
    // (nor its "No Partition Defined for Window" warning; a constant
    // partition key doesn't help — Catalyst folds it away). Positions
    // 1..topK are then derived from the ≤ topK surviving rows by a
    // global collect_list + sort_array + posexplode — a plain two-stage
    // aggregate over a driver-bounded frame. The sort key (rank, part)
    // is a total order (one row per part), so both the limit and the
    // array order are deterministic.
    ranks.orderBy(col("rank").desc, col("part").asc).limit(topK)
      .agg(sort_array(collect_list(
        struct((-col("rank")).as("nr"), col("part").as("part")))).as("s"))
      .select(posexplode(col("s")).as(Seq("pos", "r")))
      .select(col("r.part").as("part_id"), (-col("r.nr")).as("rank_ppm"),
        (col("pos") + 1).cast("int").as("rnk"))

  def partPageRankFrom(index: PageRankIndex, topK: Int = 20): DataFrame =
    rankTopK(convergedRanks(index), topK)

  /** The (session, snapshot, conf)-memoized index q101/q168 share. */
  private def pageRankIndexFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): PageRankIndex = {
    // the memo key folds in the CONF VALUES 'auto' resolves from
    // (broadcast ceiling, bucket count): a mid-session conf change
    // must rebuild, not silently serve the stale strategy's index
    // (round-11 ADVICE)
    val bm = spark.conf
      .getOption("graft.pagerank.broadcastMaxNodes").getOrElse("10000000")
    val sp = spark.conf.get("spark.sql.shuffle.partitions", "32")
    graft.operators.SessionCache.memoOn(spark, dir,
      s"pagerank-index|$dir|auto|bm=$bm|sp=$sp") {
      buildPageRankIndex(basketsFor(spark, dir))
    }
  }

  private def pageRankConfKey(
      spark: org.apache.spark.sql.SparkSession): String = {
    val bm = spark.conf
      .getOption("graft.pagerank.broadcastMaxNodes").getOrElse("10000000")
    val sp = spark.conf.get("spark.sql.shuffle.partitions", "32")
    s"bm=$bm|sp=$sp"
  }

  /** q101 — part-importance PageRank: parts co-purchased inside the same
    * order form an undirected graph; ten damped integer iterations rank
    * basket centrality. Top-20, ties broken by part id. The CONVERGED
    * rank table (entity-sized) is staged + session-memoized on top of
    * the shared CSR index — a warm pass is one small scan + the top-k,
    * not the 10-iteration loop (the q48/q169 build/probe seam). */
  val q101: Q = Q(
    "q101_part_pagerank",
    run = { (spark, dir) =>
      rankTopK(graft.operators.SessionCache.memoOn(spark, dir,
        s"pagerank-ranks|$dir|auto|iters=$iters|${pageRankConfKey(spark)}") {
        graft.operators.Stage.materialize(
          convergedRanks(pageRankIndexFor(spark, dir)), "pagerank-ranks")
      }, topK = 20)
    },
    oracle = Some {
      val iterCtes = (1 to iters).map { i =>
        s"""r$i AS (SELECT n.part,
           |        CAST(150000 + (COALESCE(s.inc, 0) * 85) // 100 AS BIGINT) AS rank
           |      FROM nodes n LEFT JOIN (
           |        SELECT ed.dst, CAST(SUM(r.rank // ed.outdeg) AS BIGINT) AS inc
           |        FROM ed JOIN r${i - 1} r ON ed.src = r.part GROUP BY ed.dst) s
           |      ON n.part = s.dst)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      e AS (SELECT DISTINCT a.part AS src, b.part AS dst
            FROM li a JOIN li b USING (ok) WHERE a.part <> b.part),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
              FROM e GROUP BY src),
      ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
      nodes AS (SELECT DISTINCT part FROM li),
      r0 AS (SELECT part, CAST(1000000 AS BIGINT) AS rank FROM nodes),
      $iterCtes,
      f AS (SELECT part, rank,
              CAST(row_number() OVER (ORDER BY rank DESC, part ASC)
                AS INTEGER) AS rnk
            FROM r$iters)
      SELECT part AS part_id, rank AS rank_ppm, rnk FROM f WHERE rnk <= 20"""
    })

  /** Core of q168: PERSONALIZED PageRank — the seeded-restart variant
    * that turns q101's global centrality into a RELATEDNESS ranking
    * (related-items / "customers also bought" / seed-expanded
    * retrieval): teleport mass lands ONLY on the seed set, so scores
    * measure proximity to the seeds, and mass decays to zero on
    * anything the seeds can't reach. Integer micro-units throughout:
    * seeds start at 1 000 000 and re-teleport 150 000 per round,
    * non-seeds start (and restart) at 0 — a node's rank is therefore
    * EXACTLY 0 iff it is seed-unreachable (suite-asserted), the
    * property that makes PPR usable as a reachability-weighted filter.
    *
    * Scale shape: IDENTICAL to q101 — the loop iterates over the SAME
    * session-memoized chunked-CSR index (one staged artifact serves
    * global and personalized ranking; the memo is literally shared),
    * rank state stays entity-sized, the per-iteration shuffle is only
    * the map-side-combined dst agg. The seed predicate is a pure
    * function of the node id — at 100 TB the teleport vector is a
    * broadcast-or-bucketed seed table instead, same plan shape. */
  /** The converged SEEDED rank table — q168's build half (the q101
    * [[convergedRanks]] loop with the seed-restart base). */
  private[graft] def convergedSeededRanks(index: PageRankIndex,
      seed: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val PageRankIndex(adj, nodes, noIn, useBroadcast) = index
    def base(part: org.apache.spark.sql.Column) =
      when(seed(part), lit(150000L)).otherwise(lit(0L))
    val noInRanks = noIn.withColumn("rank", base(col("part")))
    var ranks = nodes.withColumn("rank",
      when(seed(col("part")), lit(1000000L)).otherwise(lit(0L)))
    for (_ <- 1 to iters) {
      val joined =
        if (useBroadcast) adj.join(broadcast(ranks), col("src") === col("part"))
        else adj.join(ranks.hint("merge"), col("src") === col("part"))
      val inc = joined
        .select(expr("rank DIV outdeg").as("contrib"),
          explode(col("dsts")).as("dst"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("inc"))
      ranks = inc.select(col("dst").as("part"),
          (base(col("dst")) + expr("(inc * 85) DIV 100")).as("rank"))
        .unionByName(noInRanks)
    }
    ranks
  }

  def personalizedPageRankFrom(index: PageRankIndex,
      seed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      topK: Int = 20): DataFrame =
    rankTopK(convergedSeededRanks(index, seed), topK)

  /** q168 — personalized PageRank from the deterministic seed set
    * part % 50 == 0, riding the SAME session-memoized CSR index as
    * q101, with its converged seeded rank table staged + memoized the
    * same way (the seed predicate is part of the key's identity — the
    * registry's fixed `% 50` seed keys it by name). Top-20 by
    * seeded-restart rank, ties by part id. */
  val q168: Q = Q(
    "q168_personalized_pagerank",
    run = { (spark, dir) =>
      rankTopK(graft.operators.SessionCache.memoOn(spark, dir,
        s"ppr-ranks|$dir|seed=mod50|iters=$iters|${pageRankConfKey(spark)}") {
        graft.operators.Stage.materialize(
          convergedSeededRanks(pageRankIndexFor(spark, dir),
            p => p % 50 === 0), "ppr-ranks")
      }, topK = 20)
    },
    oracle = Some {
      val iterCtes = (1 to iters).map { i =>
        s"""r$i AS (SELECT n.part,
           |        CAST(CASE WHEN n.part % 50 = 0 THEN 150000 ELSE 0 END
           |          + (COALESCE(s.inc, 0) * 85) // 100 AS BIGINT) AS rank
           |      FROM nodes n LEFT JOIN (
           |        SELECT ed.dst, CAST(SUM(r.rank // ed.outdeg) AS BIGINT) AS inc
           |        FROM ed JOIN r${i - 1} r ON ed.src = r.part GROUP BY ed.dst) s
           |      ON n.part = s.dst)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      e AS (SELECT DISTINCT a.part AS src, b.part AS dst
            FROM li a JOIN li b USING (ok) WHERE a.part <> b.part),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
              FROM e GROUP BY src),
      ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
      nodes AS (SELECT DISTINCT part FROM li),
      r0 AS (SELECT part,
               CAST(CASE WHEN part % 50 = 0 THEN 1000000 ELSE 0 END
                 AS BIGINT) AS rank FROM nodes),
      $iterCtes,
      f AS (SELECT part, rank,
              CAST(row_number() OVER (ORDER BY rank DESC, part ASC)
                AS INTEGER) AS rnk
            FROM r$iters)
      SELECT part AS part_id, rank AS rank_ppm, rnk FROM f WHERE rnk <= 20"""
    })

  /** Core of q130: per-node triangle counts on the undirected
    * co-purchase graph — the clustering-coefficient numerator, the
    * standard "how clique-ish is this entity's neighborhood" signal
    * (community detection, spam/botnet structure, basket analysis).
    *
    * Recipe: degree ordering (Schank & Wagner 2005; the MapReduce form
    * is Suri & Vassilvitskii 2011's MR-NodeIterator++) — orient every
    * edge from its lower (degree, id) endpoint to the higher, build
    * wedges by joining oriented edges head-to-tail, close each wedge
    * with a semi-join back to the oriented edge set. Each triangle is
    * found exactly once (its rank-lowest corner is the apex).
    *
    * Scale shape (100 TB): pair generation is per-order bounded
    * (Σ|order|², the q101 bound); degree orientation caps wedge
    * fan-out at O(√m) per node — the reason this recipe scales where
    * naive neighborhood intersection doesn't; both joins are
    * equi-keyed hash joins; everything is integer equality — no float
    * knife edges anywhere. */
  /** Distinct undirected co-purchase edges (pa < pb) from a basket
    * frame — shared by q130/q131. Per-order bounded: Σ|order|². */
  private def coEdges(baskets: DataFrame): DataFrame = {
    val li = baskets.distinct()
    li.select(col("ok"), col("part").as("pa"))
      .join(li.select(col("ok").as("ok2"), col("part").as("pb")),
        col("ok") === col("ok2") && col("pa") < col("pb"))
      .select(col("pa"), col("pb")).distinct()
  }

  /** Undirected degree per node of an (pa, pb) edge set. */
  private def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("pa").as("node"))
      .unionByName(edges.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  def triangleCounts(baskets: DataFrame): DataFrame =
    triangleCountsFrom(coEdges(baskets))

  /** Degree-orient a (pa, pb) edge set: every edge re-emitted as
    * (src, dst) with the LOWER-degree endpoint first (ties by id) —
    * the O(√m) wedge fan-out bound. Unstaged plan; callers stage it
    * (the wedge build references it twice and the closing semi-join a
    * third time, and an unmaterialized lineage re-derives the basket
    * self-join for each — the q133 lesson: the plan, not the data, is
    * the blow-up). */
  private def orientEdges(edges: DataFrame): DataFrame = {
    val deg = degreesOf(edges)
    val wd = edges
      .join(deg.select(col("node").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("node").as("pb"), col("deg").as("db")), "pb")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    wd.select(
      when(aFirst, col("pa")).otherwise(col("pb")).as("src"),
      when(aFirst, col("pb")).otherwise(col("pa")).as("dst"))
  }

  /** Wedge-join triangle pass over an already-STAGED oriented edge
    * set: per-node triangle counts. */
  private def trianglePassFrom(oriented: DataFrame): DataFrame = {
    val wedges = oriented
      .join(oriented.select(col("src").as("mid"), col("dst").as("w")),
        col("dst") === col("mid"))
      .select(col("src").as("u"), col("dst").as("v"), col("w"))
    val tris = wedges.join(
      oriented.select(col("src").as("u"), col("dst").as("w")),
      Seq("u", "w"), "left_semi")
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("part_id"))
      .groupBy(col("part_id")).agg(count(lit(1)).as("n_tri"))
  }

  private def triangleCountsFrom(edges: DataFrame): DataFrame =
    trianglePassFrom(
      graft.operators.Stage.materialize(orientEdges(edges), "tri-oriented"))

  /** The co-purchase basket projection the registry's graph queries
    * share. */
  private def basketsFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))

  /** Session-memoized STAGED oriented edge set for the registry's
    * (spark, dir) seam: q130 and q131 (and any same-session bench
    * pass) derive the basket self-join + degree orientation ONCE per
    * corpus path — round-10 verdict item 2 measured ~10 s of a 195 s
    * bench as duplicate triangle work across the pair. Keyed by path:
    * the driver's tables are immutable per session. */
  /** Session-memoized STAGED distinct co-edge set (pa, pb) per corpus
    * path — the BASE artifact the whole graph family derives from: the
    * basket self-join + distinct runs once per session, and the
    * orientation (q130/q131), peeling (q133) and traversal (q140/q141)
    * artifacts all start from its scan. */
  private def coEdgesFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"co-edges|$dir") {
      graft.operators.Stage.materialize(
        coEdges(basketsFor(spark, dir)), "co-edges")
    }

  private def orientedFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"tri-oriented|$dir") {
      graft.operators.Stage.materialize(
        orientEdges(coEdgesFor(spark, dir)), "tri-oriented")
    }

  /** Session-memoized STAGED undirected edge stream (both directions of
    * every co-edge) — what the traversal loops (q140 BFS, q141 LPA)
    * reference every round. */
  private def ugraphFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"ugraph|$dir") {
      val e = coEdgesFor(spark, dir)
      graft.operators.Stage.materialize(
        e.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(e.select(col("pb").as("src"), col("pa").as("dst"))),
        "ugraph-shared")
    }

  /** Session-memoized STAGED rarity-weighted undirected edge stream
    * (q143's w = 1e6 DIV co-count needs the co-COUNTS, so it derives
    * from the baskets, not the distinct co-edge set). */
  private def wgraphFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"wgraph|$dir") {
      graft.operators.Stage.materialize(
        weightedEdgeStream(basketsFor(spark, dir)), "wgraph-shared")
    }

  /** Session-memoized STAGED per-node triangle counts (the artifact
    * q130 returns and q131 joins — node-sized, far smaller than the
    * wedge stream that builds it). */
  private def triCountsFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"tri-counts|$dir") {
      graft.operators.Stage.materialize(
        trianglePassFrom(orientedFor(spark, dir)), "tri-counts")
    }

  /** q130 — per-part triangle counts on the co-purchase graph. */
  val q130: Q = Q(
    "q130_triangle_count",
    run = { (spark, dir) => triCountsFor(spark, dir) },
    oracle = Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      e AS (SELECT DISTINCT a.part AS pa, b.part AS pb
            FROM li a JOIN li b USING (ok) WHERE a.part < b.part),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              FROM (SELECT pa AS node FROM e
                    UNION ALL SELECT pb AS node FROM e)
              GROUP BY node),
      o AS (SELECT
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                   THEN e.pa ELSE e.pb END AS src,
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                   THEN e.pb ELSE e.pa END AS dst
            FROM e
            JOIN deg da ON da.node = e.pa
            JOIN deg db ON db.node = e.pb),
      wg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
             FROM o e1 JOIN o e2 ON e1.dst = e2.src),
      t AS (SELECT u, v, w FROM wg
            WHERE EXISTS (SELECT 1 FROM o
                          WHERE o.src = wg.u AND o.dst = wg.w))
      SELECT part_id, CAST(count(*) AS BIGINT) AS n_tri
      FROM (SELECT u AS part_id FROM t
            UNION ALL SELECT v AS part_id FROM t
            UNION ALL SELECT w AS part_id FROM t)
      GROUP BY part_id"""))

  /** Core of q131: local clustering coefficient per node —
    * 2·triangles / (deg·(deg−1)), the Watts & Strogatz 1998 "how close
    * is this node's neighborhood to a clique" measure; 0 for nodes
    * below degree 2. Every node of the graph is emitted (a node in no
    * triangle gets 0), so the output doubles as the degree table.
    *
    * Scale shape: q130's bounded triangle pass + one left join of the
    * (node-sized) degree table against the (smaller) triangle table;
    * the single division is one double op on exact BIGINTs —
    * deterministic on both engines. */
  def clusteringCoeff(baskets: DataFrame): DataFrame = {
    // one STAGED oriented edge set feeds the degree table AND the
    // triangle pass — without the barrier the basket self-join would
    // run for each (each undirected edge appears exactly once in the
    // oriented set, so degrees are preserved under re-orientation)
    val oriented = graft.operators.Stage.materialize(
      orientEdges(coEdges(baskets)), "tri-oriented")
    clusteringCoeffFrom(oriented, trianglePassFrom(oriented))
  }

  private def clusteringCoeffFrom(oriented: DataFrame,
      tri: DataFrame): DataFrame = {
    val deg = degreesOf(
      oriented.select(col("src").as("pa"), col("dst").as("pb")))
    deg.join(tri.select(col("part_id").as("node"), col("n_tri")),
        Seq("node"), "left")
      .select(col("node").as("part_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff",
        when(col("deg") < 2, lit(0.0))
          .otherwise((col("n_tri") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double")))
  }

  /** q131 — local clustering coefficient on the co-purchase graph.
    * Rides the session-shared staged artifacts: within one session
    * (verify run, bench pass, production batch) q130+q131 together
    * cost one triangle pass, not two. */
  val q131: Q = Q(
    "q131_clustering_coeff",
    run = { (spark, dir) =>
      clusteringCoeffFrom(orientedFor(spark, dir), triCountsFor(spark, dir))
    },
    oracle = Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      e AS (SELECT DISTINCT a.part AS pa, b.part AS pb
            FROM li a JOIN li b USING (ok) WHERE a.part < b.part),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              FROM (SELECT pa AS node FROM e
                    UNION ALL SELECT pb AS node FROM e)
              GROUP BY node),
      o AS (SELECT
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                   THEN e.pa ELSE e.pb END AS src,
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                   THEN e.pb ELSE e.pa END AS dst
            FROM e
            JOIN deg da ON da.node = e.pa
            JOIN deg db ON db.node = e.pb),
      wg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
             FROM o e1 JOIN o e2 ON e1.dst = e2.src),
      t AS (SELECT u, v, w FROM wg
            WHERE EXISTS (SELECT 1 FROM o
                          WHERE o.src = wg.u AND o.dst = wg.w)),
      tri AS (SELECT part_id, CAST(count(*) AS BIGINT) AS n_tri
              FROM (SELECT u AS part_id FROM t
                    UNION ALL SELECT v AS part_id FROM t
                    UNION ALL SELECT w AS part_id FROM t)
              GROUP BY part_id)
      SELECT d.node AS part_id, d.deg,
        COALESCE(tri.n_tri, 0) AS n_tri,
        CASE WHEN d.deg < 2 THEN 0.0
             ELSE CAST(COALESCE(tri.n_tri, 0) * 2 AS DOUBLE) /
               CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS coeff
      FROM deg d LEFT JOIN tri ON tri.part_id = d.node"""))

  /** Core of q133: k-core peeling (Seidman 1983 "Network structure and
    * minimum degree"; the distributed peel is Montresor et al. 2013) —
    * `rounds` synchronous rounds of "drop every node whose CURRENT
    * degree is below k", the iterative filter that isolates the
    * densely-connected backbone of the co-purchase graph (graph
    * curation's counterpart to the df caps on text). The fixpoint is
    * typically reached in a handful of rounds; the suite asserts the
    * fixture converges within the default budget (one extra round
    * changes nothing), so the bounded loop IS the k-core there, while
    * staying a fixed, oracle-replayable plan at any scale. A run that
    * is STILL shrinking in its final round warns on stderr (round-10
    * convergence detector — metadata-cheap per-round edge counts), so
    * a non-converged superset result is never silent; `rounds` is the
    * knob to raise when it fires.
    *
    * Output: surviving nodes with their residual in-core degree.
    *
    * Scale shape: each round is one degree agg over the surviving edge
    * set + one semi-join to filter edges — both equi-keyed, both
    * map-side combined; the edge set only SHRINKS round over round.
    * All integers — no float knife edges. */
  def kCore(baskets: DataFrame, k: Int = 3, rounds: Int = 6): DataFrame = {
    // the result scans the last peel round, never e0
    require(rounds >= 1, "k-core needs at least one peeling round")
    val e0 = graft.operators.Stage.materialize(coEdges(baskets), "kcore-e0")
    try kCoreFrom(e0, k, rounds) finally graft.operators.Stage.release(e0)
  }

  /** Peeling over an already-staged round-0 edge set, which stays with
    * the caller (a session-shared artifact on the registry path). The
    * result is a plan over the last peel round's staged edges. */
  private def kCoreFrom(e0: DataFrame, k: Int = 3,
      rounds: Int = 6): DataFrame = {
    // each round references the surviving edge set THREE times (degree
    // agg + two semi-joins), so the edges MUST be staged per round —
    // an unmaterialized lineage re-derives the base 3^rounds times
    // (the q101/q49 staging barrier; DuckDB's MATERIALIZED CTEs are
    // the oracle-side mirror).
    //
    // convergence detector (round-10): the bounded loop peels `rounds`
    // times; if the edge set was still shrinking in the LAST round, the
    // fixpoint was not reached and the result is a superset of the true
    // k-core (the final deg>=k filter does not re-peel). Per-round edge
    // counts are parquet-metadata reads off the staged tables — cheap —
    // and a non-converged run is loudly detectable instead of silent.
    var prevCount = e0.count()
    var lastShrank = false
    val peeled = graft.operators.Stage.iterate(e0, "kcore-e", rounds) {
      (edges, _) =>
        val keep = degreesOf(edges).filter(col("deg") >= k)
          .select(col("node"))
        edges
          .join(keep.select(col("node").as("pa")), Seq("pa"), "left_semi")
          .join(keep.select(col("node").as("pb")), Seq("pb"), "left_semi")
          .select(col("pa"), col("pb"))
    } { (_, next) =>
      val c = next.count()
      lastShrank = c != prevCount
      prevCount = c
      false // a fixed round count: the oracle replays exactly `rounds`
    }
    if (lastShrank)
      System.err.println(s"[kcore] WARNING: edge set still shrinking after " +
        s"$rounds rounds (fixpoint NOT reached) — the output is a superset " +
        s"of the true $k-core; raise `rounds`")
    degreesOf(peeled.state).filter(col("deg") >= k)
      .select(col("node").as("part_id"), col("deg").as("core_deg"))
  }

  /** q133 — 3-core of the co-purchase graph after 6 peeling rounds.
    * The converged core table is session-memoized AND staged (the
    * q48/q169 build/probe seam): the peel output is node-sized, so
    * landing it turns every warm pass into one small parquet scan
    * instead of 6 peel rounds + the degree agg over the final edges. */
  val q133: Q = Q(
    "q133_kcore",
    run = { (spark, dir) =>
      graft.operators.SessionCache.memoOn(spark, dir,
        s"kcore-converged|$dir|k=3|rounds=6") {
        // land the node-sized core, then retire the last peel round
        // it was computed from
        val peeled = kCoreFrom(coEdgesFor(spark, dir))
        val core = graft.operators.Stage.materialize(peeled, "kcore-core")
        graft.operators.Stage.release(peeled)
        core
      }
    },
    oracle = Some {
      val rounds = (1 to 6).map { i =>
        s"""k$i AS MATERIALIZED (SELECT node FROM (
           |        SELECT node, count(*) AS deg FROM (
           |          SELECT pa AS node FROM e${i - 1}
           |          UNION ALL SELECT pb AS node FROM e${i - 1})
           |        GROUP BY node) WHERE deg >= 3),
           |      e$i AS MATERIALIZED (
           |        SELECT pa, pb FROM e${i - 1}
           |        WHERE pa IN (SELECT node FROM k$i)
           |          AND pb IN (SELECT node FROM k$i))""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      e0 AS MATERIALIZED (SELECT DISTINCT a.part AS pa, b.part AS pb
            FROM li a JOIN li b USING (ok) WHERE a.part < b.part),
      $rounds
      SELECT node AS part_id, CAST(deg AS BIGINT) AS core_deg FROM (
        SELECT node, count(*) AS deg FROM (
          SELECT pa AS node FROM e6 UNION ALL SELECT pb AS node FROM e6)
        GROUP BY node)
      WHERE deg >= 3"""
    })

  /** Undirected edge stream of the co-purchase graph — both directions
    * of every [[coEdges]] pair, STAGED once (the q101/q133 barrier):
    * the iterative ops below reference the edge set every round, and an
    * unmaterialized lineage would re-run the basket self-join per
    * round. The caller releases it. */
  private def undirectedEdges(baskets: DataFrame): DataFrame = {
    val e = coEdges(baskets)
    graft.operators.Stage.materialize(
      e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst"))),
      "ugraph-edges")
  }

  /** Core of q140: synchronous frontier BFS (unweighted single-source
    * shortest hops — Lin & Dyer 2010 ch.5's parallel BFS shape) from
    * the graph's minimum node id, `rounds` expansions. Output: every
    * node reached within `rounds` hops with its hop distance (the seed
    * at hop 0). The curation use: blast-radius / relatedness tiers
    * around a seed entity (a flagged domain, a seed document) over the
    * co-occurrence graph.
    *
    * Scale shape: per round ONE equi-join of the frontier (node-sized,
    * only the NEW nodes) against the staged edge set + a hash distinct
    * + an anti-join against the visited set — all equi-keyed, nothing
    * edge-sized ever re-derived (frontier and visited are staged per
    * round; superseded stages drop eagerly — the q133 lesson).
    *
    * Termination (round 16): the loop runs TO CONVERGENCE — it exits
    * as soon as a round's frontier is empty (every reachable node
    * found) — under a `maxRounds` cap that bounds the staged-round
    * count on a pathological diameter; only a run that HITS the cap
    * with a non-empty frontier warns on stderr (the q133 convergence
    * detector), so a truncated traversal is never silent and the
    * common case (co-occurrence graphs have single-digit diameters)
    * never warns. The oracle replays the CAP's worth of rounds —
    * post-convergence rounds are no-ops, so the fixpoint is
    * round-count-independent and the hash gate holds at any SF. */
  def bfsHops(baskets: DataFrame, maxRounds: Int = 16): DataFrame = {
    val edges = undirectedEdges(baskets)
    try bfsHopsFrom(edges, maxRounds)
    finally graft.operators.Stage.release(edges)
  }

  /** Traversal over an already-staged undirected edge stream, which
    * stays with the caller. Two states per round (visited + frontier),
    * so the loop is its own rather than [[graft.operators.Stage.iterate]];
    * the result scans only the final visited table. */
  private def bfsHopsFrom(edges: DataFrame, maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // seed = min node id — one 1-row driver collect (bounded-collect
    // contract), mirrored by the oracle's min() CTE.
    val seedRow = edges.agg(min(col("src"))).collect()(0)
    if (seedRow.isNullAt(0)) // empty graph → empty traversal
      return Seq.empty[(Long, Long)].toDF("part_id", "hop")
    val seed = seedRow.getLong(0)
    var visited = graft.operators.Stage.materialize(
      Seq((seed, 0)).toDF("node", "hop"), "bfs-v0")
    // round 1's frontier is a projection of v0 (no directory of its
    // own); from round 2 on it is the previous round's staged f_{i-1},
    // released as soon as the round that consumed it has its outputs
    // on disk
    var frontier = visited.select(col("node"))
    var grew = true
    var i = 1
    while (i <= maxRounds && grew) {
      val next = graft.operators.Stage.materialize(
        edges.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti"),
        s"bfs-f$i")
      grew = next.limit(1).count() > 0
      if (grew) { // an empty frontier adds nothing — converged
        val nv = graft.operators.Stage.materialize(
          visited.unionAll(next.withColumn("hop", lit(i))), s"bfs-v$i")
        graft.operators.Stage.release(visited)
        visited = nv
      }
      if (i > 1) graft.operators.Stage.release(frontier)
      frontier = next
      i += 1
    }
    if (grew)
      System.err.println(s"[bfs] WARNING: frontier still non-empty after " +
        s"$maxRounds rounds — nodes beyond $maxRounds hops are NOT in the " +
        "output; raise `maxRounds` to traverse further")
    // the last frontier is folded into the visited table, the only
    // stage that outlives the call
    if (i > 1) graft.operators.Stage.release(frontier)
    visited.select(col("node").as("part_id"),
      col("hop").cast("long").as("hop"))
  }

  /** q140 — BFS hop tiers from the minimum part id over the co-purchase
    * graph, run to convergence under a 16-round cap. The oracle
    * replays all 16 rounds — rounds past convergence are no-ops (empty
    * frontiers), so both sides reach the same fixpoint regardless of
    * where the engine's early exit fired. */
  val q140: Q = Q(
    "q140_bfs_hops",
    run = { (spark, dir) =>
      // converged visited table is already staged by the loop's last
      // round — memoizing the projection makes a warm pass one
      // node-sized scan (the q169 build/probe seam)
      graft.operators.SessionCache.memoOn(spark, dir,
        s"bfs-converged|$dir|cap=16") {
        bfsHopsFrom(ugraphFor(spark, dir), maxRounds = 16)
      }
    },
    oracle = Some {
      val rounds = (1 to 16).map { i =>
        s"""f$i AS MATERIALIZED (
           |        SELECT DISTINCT e.dst AS node FROM f${i - 1} f
           |        JOIN ue e ON e.src = f.node
           |        WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
           |      v$i AS MATERIALIZED (
           |        SELECT node, hop FROM v${i - 1}
           |        UNION ALL SELECT node, $i AS hop FROM f$i)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      e AS MATERIALIZED (SELECT DISTINCT a.part AS pa, b.part AS pb
            FROM li a JOIN li b USING (ok) WHERE a.part < b.part),
      ue AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e
            UNION ALL SELECT pb AS src, pa AS dst FROM e),
      v0 AS MATERIALIZED (SELECT min(pa) AS node, 0 AS hop FROM e),
      f0 AS (SELECT node FROM v0),
      $rounds
      SELECT node AS part_id, CAST(hop AS BIGINT) AS hop FROM v16"""
    })

  /** Core of q141: synchronous label propagation community detection
    * (Raghavan, Albert & Kumara 2007, "Near linear time algorithm to
    * detect community structures") — every node starts labeled with its
    * own id; each round every node adopts the most frequent label among
    * its neighbors, ties to the SMALLEST label (the determinism knob the
    * paper leaves open — random tie-break would be irreproducible), for
    * a fixed `rounds` synchronous rounds. The curation use: cheap
    * community/topic grouping over a co-occurrence graph (domains,
    * products, documents) without the k-choice k-means needs.
    *
    * Scale shape: per round ONE edge-stream join carrying labels to
    * neighbors (labels are node-sized state, exactly the q101 rank-state
    * shape), a map-side-combined (node, label) count, then a per-node
    * argmax as `max(struct(cnt, -label))` — a second node-keyed hash agg,
    * NO sort and NO window. Labels staged per round (the q133 barrier);
    * fixed round count keeps the plan oracle-replayable (synchronous LPA
    * may oscillate between two labelings — a bounded, deterministic loop
    * is the reproducible variant of the paper's "until convergence"). */
  /** One synchronous LPA round: carry labels over the edge stream,
    * count votes per (node, label), argmax with min-label tie-break as
    * `max(struct(cnt, −label))` — a hash agg, deliberately NOT a rank
    * window (no sort in the iteration hot loop; PlanShapeSpec asserts
    * this shape directly since the registry entry only exposes the
    * final staged scan). */
  private[graft] def lpaRound(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.withColumnRenamed("node", "src"), Seq("src"))
      .groupBy(col("dst").as("node"), col("label")).count()
      .groupBy(col("node"))
      .agg(max(struct(col("count").as("cnt"),
        (-col("label")).as("nl"))).as("best"))
      .select(col("node"), (-col("best.nl")).as("label"))

  def labelProp(baskets: DataFrame, rounds: Int = 4): DataFrame = {
    // the round-0 labels are a plan over the edges, so the result only
    // outlives the edge stream once at least one round is staged
    require(rounds >= 1, "label propagation needs at least one round")
    val edges = undirectedEdges(baskets)
    try labelPropFrom(edges, rounds)
    finally graft.operators.Stage.release(edges)
  }

  /** LPA over an already-staged undirected edge stream, which stays
    * with the caller; the result scans only the final label round. */
  private def labelPropFrom(edges: DataFrame, rounds: Int): DataFrame = {
    // every node starts labeled with its own id — an unstaged
    // projection the first round reads once
    val l0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    graft.operators.Stage.iterate(l0, "lpa-l", rounds)(
        (labels, _) => lpaRound(edges, labels))((_, _) => false)
      .state.select(col("node").as("part_id"), col("label").as("community"))
  }

  /** q141 — 4-round label-propagation communities on the co-purchase
    * graph. */
  val q141: Q = Q(
    "q141_label_prop",
    run = { (spark, dir) =>
      // final label table is staged by the last LPA round — memoize the
      // projection so a warm pass is one node-sized scan
      graft.operators.SessionCache.memoOn(spark, dir,
        s"lpa-converged|$dir|rounds=4") {
        labelPropFrom(ugraphFor(spark, dir), rounds = 4)
      }
    },
    oracle = Some {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (SELECT e.dst AS node, l.label, count(*) AS cnt
           |        FROM ue e JOIN l${i - 1} l ON l.node = e.src
           |        GROUP BY e.dst, l.label),
           |      l$i AS MATERIALIZED (
           |        SELECT node, label FROM (
           |          SELECT node, label, row_number() OVER (
           |            PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
           |          FROM c$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      e AS MATERIALIZED (SELECT DISTINCT a.part AS pa, b.part AS pb
            FROM li a JOIN li b USING (ok) WHERE a.part < b.part),
      ue AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e
            UNION ALL SELECT pb AS src, pa AS dst FROM e),
      l0 AS MATERIALIZED (
        SELECT node, node AS label FROM (SELECT DISTINCT src AS node FROM ue)),
      $rounds
      SELECT node AS part_id, label AS community FROM l4"""
    })

  /** Core of q143: bounded Bellman-Ford single-source shortest paths
    * (min-plus relaxation rounds — the distributed SSSP shape of
    * Lin & Dyer 2010 ch.5, weights added to q140's unweighted BFS)
    * over RARITY-weighted co-purchase edges: w(a,b) = 10⁶ DIV
    * co-count, so hops through frequently-co-bought pairs are cheap
    * and a path's cost reads as accumulated rarity — the relatedness
    * metric a recommender prefers over raw hop count. All integer
    * micro-units (Spark `DIV` ≡ DuckDB `//` on non-negative BIGINTs —
    * the q101 recipe), so 4 relaxation rounds hash-match exactly.
    *
    * Scale shape: the distance table is node-sized state (the q101
    * rank-state shape); each round is ONE equi-join of it against the
    * staged weighted edge stream + a map-side-combined min agg —
    * nothing edge-sized ever re-derived, state staged per round with
    * eager drops. After r rounds every ≤r-edge shortest path is final
    * (Bellman-Ford's invariant), so the bounded loop returns exact
    * distances for the r-hop neighborhood — same contract as q140's
    * hop budget, same stderr warning when the last round still
    * improved something. */
  /** Rarity-weighted undirected edge stream (w = 1e6 DIV co-count). */
  private def weightedEdgeStream(baskets: DataFrame): DataFrame = {
    val li = baskets.distinct()
    val wpairs = li.select(col("ok"), col("part").as("pa"))
      .join(li.select(col("ok").as("ok2"), col("part").as("pb")),
        col("ok") === col("ok2") && col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("cnt"))
      .select(col("pa"), col("pb"),
        expr("CAST(1000000 AS BIGINT) DIV cnt").as("w"))
    wpairs.select(col("pa").as("src"), col("pb").as("dst"), col("w"))
      .unionAll(wpairs.select(col("pb").as("src"), col("pa").as("dst"),
        col("w")))
  }

  /** Bellman-Ford relaxation run TO CONVERGENCE (round 16): each round
    * is one edge-stream join + a node-keyed min agg, and the loop
    * exits as soon as a round changes NO (node, dist) row — the
    * anti-join change detector every round (node-sized, exact: a
    * changed distance with an unchanged node count must not hide) —
    * under a `maxRounds` cap bounding the staged-round count. Only a
    * cap-hitting run warns; the oracle replays the cap's worth of
    * rounds, where post-convergence rounds are no-ops, so the hash
    * gate certifies the same fixpoint at any SF. */
  def weightedPaths(baskets: DataFrame, maxRounds: Int = 16): DataFrame = {
    val edges = graft.operators.Stage.materialize(
      weightedEdgeStream(baskets), "sssp-edges")
    try weightedPathsFrom(edges, maxRounds)
    finally graft.operators.Stage.release(edges)
  }

  /** Relaxation over an already-staged weighted edge stream, which
    * stays with the caller; the result scans only the final distance
    * round. */
  private def weightedPathsFrom(edges: DataFrame,
      maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val seedRow = edges.agg(min(col("src"))).collect()(0)
    if (seedRow.isNullAt(0))
      return Seq.empty[(Long, Long)].toDF("part_id", "dist")
    val d0 = Seq((seedRow.getLong(0), 0L)).toDF("node", "dist")
    val relaxed = graft.operators.Stage.iterate(d0, "sssp-d", maxRounds) {
      (dist, _) =>
        dist
          .unionAll(edges
            .join(dist.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    } { (dist, nd) =>
      nd.join(dist, Seq("node", "dist"), "left_anti").limit(1).count() == 0
    }
    if (!relaxed.converged)
      System.err.println(s"[sssp] WARNING: distances still improving after " +
        s"$maxRounds rounds — paths longer than $maxRounds edges are NOT " +
        "final; raise `maxRounds`")
    relaxed.state.select(col("node").as("part_id"), col("dist"))
  }

  /** q143 — rarity-weighted shortest distances from the minimum part
    * id, Bellman-Ford to convergence under a 16-round cap (the oracle
    * replays all 16; post-convergence rounds are no-ops). */
  val q143: Q = Q(
    "q143_weighted_paths",
    run = { (spark, dir) =>
      // final distance table is staged by the last relaxation round —
      // memoize the projection so a warm pass is one node-sized scan
      graft.operators.SessionCache.memoOn(spark, dir,
        s"sssp-converged|$dir|cap=16") {
        weightedPathsFrom(wgraphFor(spark, dir), maxRounds = 16)
      }
    },
    oracle = Some {
      val rounds = (1 to 16).map { i =>
        s"""d$i AS MATERIALIZED (
           |        SELECT node, min(dist) AS dist FROM (
           |          SELECT node, dist FROM d${i - 1}
           |          UNION ALL
           |          SELECT e.dst AS node, d.dist + e.w AS dist
           |          FROM d${i - 1} d JOIN ue e ON e.src = d.node)
           |        GROUP BY node)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      wp AS MATERIALIZED (
        SELECT a.part AS pa, b.part AS pb,
          CAST(1000000 AS BIGINT) // count(*) AS w
        FROM li a JOIN li b ON a.ok = b.ok AND a.part < b.part
        GROUP BY a.part, b.part),
      ue AS MATERIALIZED (SELECT pa AS src, pb AS dst, w FROM wp
            UNION ALL SELECT pb AS src, pa AS dst, w FROM wp),
      d0 AS MATERIALIZED (
        SELECT min(pa) AS node, CAST(0 AS BIGINT) AS dist FROM wp),
      $rounds
      SELECT node AS part_id, dist FROM d16"""
    })

  /** Core of q169: HITS hubs & authorities (Kleinberg 1999) on the
    * BIPARTITE part↔supplier graph — the mutual-reinforcement ranking
    * PageRank can't express (a supplier is important because it ships
    * important parts, a part because important suppliers ship it; the
    * two scores are coupled, not one stationary distribution). Integer
    * micro-units with per-round max-normalization (score·1e6 DIV max —
    * HITS diverges without normalization; DIV-by-max keeps every score
    * in [0, 1e6] and both engines replay it digit-by-digit).
    *
    * Scale shape: the distinct edge set is STAGED once (it is
    * referenced twice per round — the iterative-op staging lesson);
    * each half-round is one equi-join of entity-sized scores into the
    * edge stream + a map-side-combined agg + a 1-row max broadcast —
    * nothing edge-sized ever sits in driver memory, no window in the
    * loop. 4 rounds fixed; the oracle replays them exactly. */
  /** Converged HITS state: the STAGED max-normalized (auth, hub) score
    * tables after `iters` coupled rounds — the BUILD half of the q48
    * build/probe seam. The registry memoizes this per (session, corpus
    * snapshot, iters), so repeated probes (bench passes, different
    * topK) re-read two entity-sized staged tables instead of re-paying
    * the 2·iters-stage loop. The normalize widens through
    * DECIMAL(38,0) (oracle: HUGEINT): `raw * 1000000` in BIGINT
    * overflows once a side's raw sum exceeds ~9.2e12 — a hub linked to
    * >9.2M max-scored nodes, reachable at the 100× contract
    * (round-12 ADVICE); the decimal product is exact to 38 digits and
    * `DIV` truncates identically in both engines. */
  private[graft] def hitsConverged(pairs: DataFrame,
      iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1,
      "hits needs at least 1 iteration: hub scores only exist after round 1")
    val edges = graft.operators.Stage.materialize(
      pairs.select(col("part"), col("supp")).distinct(), "hits-edges")
    // each raw half-round table is referenced TWICE (its own max, the
    // normalize) and feeds the next round's join — STAGED per round,
    // the previous round's pair released once the new pair is on disk
    // (the q133 per-round-state lesson; an unstaged chain re-derives the
    // edge join 2^rounds times). Two coupled states per round, so the
    // loop is its own rather than Stage.iterate.
    var auth = edges.select(col("part")).distinct()
      .withColumn("score", lit(1000000L))
    var hub: DataFrame = null
    var spent: Seq[DataFrame] = Nil
    for (_ <- 1 to iters) {
      val hRaw = graft.operators.Stage.materialize(
        edges.join(auth, Seq("part"))
          .groupBy(col("supp")).agg(sum(col("score")).as("raw")),
        "hits-h")
      hub = hRaw.crossJoin(broadcast(hRaw.agg(max(col("raw")).as("mx"))))
        .select(col("supp"),
          expr("(CAST(raw AS DECIMAL(38,0)) * 1000000) DIV mx").as("score"))
      val aRaw = graft.operators.Stage.materialize(
        edges.join(hub, Seq("supp"))
          .groupBy(col("part")).agg(sum(col("score")).as("raw")),
        "hits-a")
      auth = aRaw.crossJoin(broadcast(aRaw.agg(max(col("raw")).as("mx"))))
        .select(col("part"),
          expr("(CAST(raw AS DECIMAL(38,0)) * 1000000) DIV mx").as("score"))
      spent.foreach(graft.operators.Stage.release)
      spent = Seq(hRaw, aRaw)
    }
    // land the FINAL normalized tables (entity-sized — one small write
    // each) so a probe is a parquet scan, not a re-run of the max
    // broadcast + normalize over the raw stages; then retire the raw
    // stages and the edge set — nothing else reads them
    val aFinal = graft.operators.Stage.materialize(auth, "hits-auth")
    val hFinal = graft.operators.Stage.materialize(hub, "hits-hub")
    (spent :+ edges).foreach(graft.operators.Stage.release)
    (aFinal, hFinal)
  }

  /** PROBE half: per-side top-k over converged score tables, via
    * orderBy+limit (TakeOrderedAndProject — each partition keeps k
    * rows) + the q101 bounded collect_list position derivation: a
    * row_number over a 2-value `side` partition would move EVERY
    * entity of a side into one partition to rank 10 rows. */
  private[graft] def hitsTopK(auth: DataFrame, hub: DataFrame,
      topK: Int): DataFrame = {
    def top(scored: DataFrame, idCol: String, side: String): DataFrame =
      scored.orderBy(col("score").desc, col(idCol).asc).limit(topK)
        .agg(sort_array(collect_list(
          struct((-col("score")).as("ns"), col(idCol).as("id")))).as("s"))
        .select(posexplode(col("s")).as(Seq("pos", "r")))
        .select(lit(side).as("side"), col("r.id").as("id"),
          (-col("r.ns")).as("score_ppm"),
          (col("pos") + 1).cast("int").as("rnk"))
    top(auth, "part", "part")
      .unionByName(top(hub, "supp", "supplier"))
  }

  def hits(pairs: DataFrame, iters: Int = 4, topK: Int = 10): DataFrame = {
    val (auth, hub) = hitsConverged(pairs, iters)
    hitsTopK(auth, hub, topK)
  }

  /** q169 — HITS on part↔supplier: top-10 authority parts and top-10
    * hub suppliers after 4 coupled, max-normalized integer rounds.
    * The converged hub/auth tables are session-memoized on the corpus
    * snapshot (the q48/q101 build/probe seam): a warm pass pays two
    * entity-sized parquet scans + the top-k, not the 8-stage loop. */
  val q169: Q = Q(
    "q169_hits_bipartite",
    run = { (spark, dir) =>
      val (auth, hub) = graft.operators.SessionCache.memoOn(spark, dir,
        s"hits-converged|$dir|iters=4") {
        hitsConverged(Tables.lineitem(spark, dir)
          .select(col("l_partkey").as("part"), col("l_suppkey").as("supp")),
          iters = 4)
      }
      hitsTopK(auth, hub, topK = 10)
    },
    oracle = Some {
      // every h{i}r/a{i}r is referenced TWICE (its own max + the next
      // join) — MATERIALIZED, or DuckDB inlines the chain and the base
      // join re-derives 2^rounds times (the same blowup the Spark side
      // stages against)
      // normalize widens through HUGEINT — the lockstep twin of the
      // Spark side's DECIMAL(38,0) product (raw * 1e6 would overflow
      // BIGINT past raw ~9.2e12; both engines truncate identically on
      // the widened quotient, then narrow back to BIGINT)
      val rounds = (1 to 4).map { i =>
        s"""h${i}r AS MATERIALIZED (
           |      SELECT supp, CAST(SUM(score) AS BIGINT) AS raw
           |      FROM e JOIN a${i - 1} USING (part) GROUP BY supp),
           |h$i AS MATERIALIZED (SELECT supp,
           |        CAST(CAST(raw AS HUGEINT) * 1000000
           |          // (SELECT MAX(raw) FROM h${i}r) AS BIGINT) AS score
           |      FROM h${i}r),
           |a${i}r AS MATERIALIZED (
           |      SELECT part, CAST(SUM(score) AS BIGINT) AS raw
           |      FROM e JOIN h$i USING (supp) GROUP BY part),
           |a$i AS MATERIALIZED (SELECT part,
           |        CAST(CAST(raw AS HUGEINT) * 1000000
           |          // (SELECT MAX(raw) FROM a${i}r) AS BIGINT) AS score
           |      FROM a${i}r)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH e AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
        FROM lineitem),
      a0 AS (SELECT DISTINCT part, CAST(1000000 AS BIGINT) AS score FROM e),
      $rounds,
      u AS (SELECT 'part' AS side, part AS id, score FROM a4
            UNION ALL
            SELECT 'supplier' AS side, supp AS id, score FROM h4),
      f AS (SELECT side, id, score,
              CAST(row_number() OVER (PARTITION BY side
                ORDER BY score DESC, id ASC) AS INTEGER) AS rnk
            FROM u)
      SELECT side, id, CAST(score AS BIGINT) AS score_ppm, rnk
      FROM f WHERE rnk <= 10"""
    })

  val all: Seq[Q] = Seq(q101, q130, q131, q133, q140, q141, q143, q168,
    q169)
}
