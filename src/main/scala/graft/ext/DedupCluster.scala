package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Duplicate clustering — connected components over the near-dup pair
  * graph (SURVEY.md §2.D): the step a production dedup pipeline runs
  * AFTER pair generation, turning pairwise evidence (exact-hash matches,
  * Jaccard pairs) into transitive duplicate groups so one canonical doc
  * per group survives.
  *
  * Algorithm: iterative min-label propagation with ADAPTIVE pointer
  * doubling — every round each doc adopts the smallest label among
  * itself and its neighbors; when the changed-count fails to halve
  * round-over-round (the high-diameter signature) the round also follows
  * its label's label (the label table applied to itself — one extra
  * equi-join on the staged labels). The neighbor step alone converges in
  * diameter rounds, which is all a near-clique dedup component ever
  * needs, so the common case pays zero extra joins; the label-of-label
  * step contracts paths geometrically when it does engage, so
  * pathological high-diameter graphs (crawl-chain duplicates) still
  * converge in O(log diameter) rounds instead of hitting the round cap —
  * the logarithmic-round MapReduce CC technique (Rastogi et al.,
  * "Finding Connected Components in Map-Reduce in Logarithmic
  * Rounds"). Fixpoint = min doc_id of the connected component, a
  * deterministic canonical id (oracle-checkable via a recursive CTE).
  * Each round's labels are staged (lineage barrier) so plans don't grow
  * exponentially, and superseded rounds' staging dirs are deleted
  * eagerly, not at JVM exit ([[components]], the core q145's entity
  * resolution shares).
  */
object DedupCluster {

  /** Undirected dedup edges: exact content-hash duplicates plus
    * source-blocked 3-gram Jaccard pairs at `threshold`.
    *
    * Near-pair generation defaults to the sub-quadratic MinHash banding
    * ([[MinHashDedup.bandedJaccardPairs]] — candidates from LSH buckets,
    * exact Jaccard on survivors), so a duplicate-dense block costs
    * bucket-bounded work, not |block|². `exactNearPairs = true` switches
    * to the all-pairs shingle self-join
    * ([[graft.queries.TextOps.jaccardPairs]]) — the oracle formulation,
    * same output on everything the banding recalls.
    *
    * Returns the lazy edge plan plus a cleanup thunk (the banded
    * generator's staged shingle/signature dirs): the caller stages the
    * edges and THEN calls cleanup, so the pair set is written exactly
    * once (not once inside the generator and again in the edges
    * stage). */
  private[ext] def edges(docs: DataFrame, threshold: Double = 0.5,
      exactNearPairs: Boolean = false): (DataFrame, () => Unit) = {
    // null-text docs are NOT duplicates of each other: Spark's groupBy
    // would collapse the null hash group into one cluster, while SQL
    // equality (the oracle, and the sane semantics) never matches NULLs
    val hashed = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    // STAR edges for exact duplicates (each doc -> its hash group's min
    // id), not the all-pairs self-join: a 10k-deep duplicate group is
    // 10k-1 edges instead of ~50M, and the connected components are
    // identical (every group member reaches the same root)
    val canon = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("root"))
    val exactPairs = hashed.join(canon, "h")
      .filter(col("root") =!= col("doc_id"))
      .select(col("root").as("ea"), col("doc_id").as("eb"))
    val (nearGen, cleanup) =
      if (exactNearPairs)
        (graft.queries.TextOps.jaccardPairs(docs, threshold), () => ())
      else MinHashDedup.bandedJaccardPairsRaw(docs, threshold)
    val nearPairs = nearGen.select(col("doc_a").as("ea"), col("doc_b").as("eb"))
    val und = exactPairs.union(nearPairs).distinct()
    (und.union(und.select(col("eb").as("ea"), col("ea").as("eb"))), cleanup)
  }

  /** Propagation telemetry for scale evidence: total label-propagation
    * rounds, how many engaged the pointer-doubling hop, and the
    * changed-label count per round (oldest first). */
  final case class ClusterStats(rounds: Int, hopRounds: Int,
      changed: List[Long]) {
    /** The last round moved no label: the fixpoint was reached. */
    def converged: Boolean = changed.lastOption.contains(0L)
  }

  /** (doc_id, cluster_id) for every doc; cluster_id = min doc_id in the
    * doc's connected component (singletons cluster with themselves). */
  def clusters(docs: DataFrame, threshold: Double = 0.5,
      maxRounds: Int = 20, exactNearPairs: Boolean = false): DataFrame =
    clustersWithStats(docs, threshold, maxRounds, exactNearPairs)._1

  /** [[clusters]] plus [[ClusterStats]] — the labels are fully staged
    * (materialized) before return, so the stats describe the completed
    * run, not a pending plan. */
  def clustersWithStats(docs: DataFrame, threshold: Double = 0.5,
      maxRounds: Int = 20,
      exactNearPairs: Boolean = false): (DataFrame, ClusterStats) = {
    val (edgePlan, edgeCleanup) = edges(docs, threshold, exactNearPairs)
    val e = graft.operators.Stage.materialize(edgePlan, "dedup-edges")
    // edges are on disk — the banded generator's staged intermediates
    // (shingles, signatures) can go now
    edgeCleanup()
    val (labels, stats) = components(e, docs.select(col("doc_id")), maxRounds)
    graft.operators.Stage.release(e)
    // never return silently-wrong labels; with adaptive doubling this
    // needs diameter ≫ 2^(maxRounds/2) — not a dedup graph
    require(stats.converged,
      s"dedup clustering did not converge within $maxRounds rounds " +
        s"(${stats.changed.lastOption.getOrElse(-1L)} labels still changing) — " +
        "component diameter too large; raise maxRounds")
    (labels, stats)
  }

  /** The connected-components core of dedup clustering (q49, q52, q60,
    * q148) and entity resolution (q145): the adaptive loop of the object
    * doc over STAGED symmetric `(ea, eb)` edges (the caller's), one
    * label per `nodes.doc_id`. Returns the staged `(doc_id, cluster_id)`
    * labels, the caller's to keep, and [[ClusterStats]]; non-convergence
    * is reported (`converged`), not thrown. */
  private[graft] def components(e: DataFrame, nodes: DataFrame,
      maxRounds: Int): (DataFrame, ClusterStats) = {
    // round-0 labels are a pruned projection — nothing to barrier yet
    val init = nodes.select(col("doc_id"), col("doc_id").as("cluster_id"))
    var hopRounds = 0
    // changed-count history, newest first, drives the adaptive hop below
    var hist = List.empty[Long]
    var obs: org.apache.spark.sql.Observation = null
    val fx = graft.operators.Stage.iterate(init, "cc-labels-", maxRounds) {
      (labels, round) =>
        val nbrMin = e.join(labels, col("ea") === col("doc_id"))
          .groupBy(col("eb")).agg(min(col("cluster_id")).as("nbr_min"))
        val stepped = labels.join(nbrMin, col("doc_id") === col("eb"), "left")
          .select(col("doc_id"), col("cluster_id").as("prev_id"),
            least(col("cluster_id"),
              coalesce(col("nbr_min"), col("cluster_id"))).as("mid_id"))
        // Pointer doubling: follow the stepped label through the PREVIOUS
        // round's label table (mid_id is always a doc_id, so the join hits)
        // — contracts label paths ~2x per round, the O(log d) ingredient.
        // ADAPTIVE: the hop join only pays off on high-diameter graphs
        // (crawl-chain duplicates), whose signature is a changed-count that
        // fails to halve round-over-round. Near-clique dedup graphs (the
        // common case) collapse geometrically under the neighbor step
        // alone, so they skip the extra join entirely; convergence is
        // certified by the neighbor step (stable min over symmetric edges
        // ⇒ all labels in a component equal its min id), which the hop
        // cannot perturb.
        val useHop = hist.size >= 2 && hist.head * 2 > hist(1)
        if (useHop) hopRounds += 1
        val hopped =
          if (!useHop) stepped.withColumn("cluster_id", col("mid_id"))
          else {
            val hop = labels.select(col("doc_id").as("hop_doc"),
              col("cluster_id").as("hop_cluster"))
            stepped.join(hop, col("mid_id") === col("hop_doc"), "left")
              .select(col("doc_id"), col("prev_id"),
                least(col("mid_id"),
                  coalesce(col("hop_cluster"), col("mid_id"))).as("cluster_id"))
          }
        // convergence metric rides the WRITE job via observe(): no second
        // pass over the staged bytes, and prev_id never hits disk
        obs = org.apache.spark.sql.Observation(s"cc-round-$round")
        hopped
          .observe(obs, coalesce(sum(when(
            col("cluster_id") =!= col("prev_id"), 1L)
            .otherwise(0L)), lit(0L)).as("changed"))
          .select(col("doc_id"), col("cluster_id"))
    } { (_, _) =>
      hist = obs.get("changed").asInstanceOf[Long] :: hist
      hist.head == 0L
    }
    (fx.state, ClusterStats(fx.rounds, hopRounds, hist.reverse))
  }

  /** True when the JVM is an oracle-gated correctness run
    * ([[graft.Verify]] sets the property): cluster queries then use the
    * EXACT near-pair generator, because the banded generator's candidate
    * recall is probabilistic — on a fresh corpus one missed threshold-
    * adjacent pair (p ≈ (1−J)^numTables per pair) would make the exact
    * recursive-CTE oracle mismatch, and the correctness gate must
    * distinguish engine bugs from expected LSH recall loss. Bench and
    * scale runs keep the banded (sub-quadratic) path; banded-vs-exact
    * parity is separately asserted in TextVectorSpec. */
  def oracleExactMode: Boolean =
    sys.props.get("graft.oracle.exact").contains("true")

  /** q49 — duplicate clusters over `documents`: transitive closure of
    * exact-hash + Jaccard(0.5) pairs, canonical min-id labels. The
    * recursive-CTE oracle verifies the FULL doc→cluster map, and the
    * fixture fuzzer (duplicated docs) exercises non-trivial clusters.
    * Under [[oracleExactMode]] (Verify runs) the exact pair generator
    * feeds the clustering so an oracle-red always means an engine bug;
    * bench runs take the banded generator, whose fixture parity with
    * the exact path is test-asserted. */
  /** Session-memoized cluster labels for the registry's (spark, dir)
    * seam: q49, q52, q60 and q148's dedup stage all consume the SAME
    * doc→cluster map over the same corpus path, and the clustering
    * (near-pair generation + CC rounds) is the expensive half — so the
    * staged label table is built once per (session, path, generator
    * mode) and every consumer reads it back, exactly like a production
    * pipeline landing labels once per snapshot (the
    * [[canonicalFromLabels]] contract, now applied registry-wide). */
  def clustersFor(spark: org.apache.spark.sql.SparkSession, dir: String,
      exactNearPairs: Boolean): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"dedup-labels|$dir|$exactNearPairs") {
      clusters(Tables.documentsParallel(spark, dir),
        exactNearPairs = exactNearPairs)
    }

  val q49: Q = Q(
    "q49_dedup_clusters",
    run = { (spark, dir) => clustersFor(spark, dir, oracleExactMode) },
    oracle = Some("""
      WITH RECURSIVE
      hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      hpairs AS (SELECT a.doc_id AS ea, b.doc_id AS eb FROM hx a JOIN hx b
                   ON a.h = b.h AND a.doc_id < b.doc_id),
      d AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents),
      d3 AS (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks)-2)) AS i
             FROM d WHERE len(toks) >= 3),
      sh AS (SELECT DISTINCT doc_id, source,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle FROM d3),
      cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
      pairs AS (SELECT a.doc_id AS ea, b.doc_id AS eb, CAST(count(*) AS BIGINT) AS inter
                FROM sh a JOIN sh b
                  ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      jpairs AS (SELECT ea, eb FROM pairs JOIN cnt ca ON ca.doc_id = ea
                   JOIN cnt cb ON cb.doc_id = eb
                 WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
      e0 AS (SELECT ea, eb FROM hpairs UNION SELECT ea, eb FROM jpairs),
      edges AS (SELECT ea, eb FROM e0 UNION SELECT eb, ea FROM e0),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea)
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src"""))

  /** Canonical-document selection — the step AFTER clustering: keep one
    * doc per duplicate cluster, chosen by the q27 quality score
    * (stopword/distinct/length mix) with min-doc_id tie-break (exact
    * duplicates score identically). One window over the cluster id —
    * a single shuffle on top of the clustering output. Null-text docs
    * are singleton clusters (see [[edges]]), so a null quality can only
    * ever "win" its own cluster. */
  def canonicalDocs(docs: DataFrame,
      exactNearPairs: Boolean = false): DataFrame =
    canonicalFromLabels(clusters(docs, exactNearPairs = exactNearPairs), docs)

  /** Resolution against ALREADY-COMPUTED cluster labels (doc_id,
    * cluster_id) — the reuse seam: clustering is the expensive iterative
    * half and its label table is staged parquet, so a production
    * pipeline runs [[clusters]] once, lands the labels, and every
    * downstream resolution (canonical pick here, the q52 leakage-safe
    * split, re-resolution after a quality-model update) reads them back
    * instead of re-propagating — the [[graft.ext.Similarity.IvfIndex]]
    * build/query split, applied to dedup. [[canonicalDocs]] remains the
    * cold path (what registry q60 measures). Suite-asserted identical
    * from fresh and parquet-round-tripped labels. */
  def canonicalFromLabels(cl: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")))
      .select(col("doc_id"),
        ((expr("size(filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and' OR t = 'to'))")
            .cast("double") / col("n_toks")) * 0.5 +
          (size(array_distinct(col("toks"))).cast("double") / col("n_toks")) * 0.3 +
          least(col("n_chars").cast("double") / 500.0, lit(1.0)) * 0.2)
          .as("quality"))
    val byQuality = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc_nulls_last, col("doc_id"))
    cl.join(quality, Seq("doc_id"), "left")
      .withColumn("rn", row_number().over(byQuality))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canon_doc_id"),
        col("n_members"), col("quality").as("canon_quality"))
  }

  /** The q60 oracle's full CTE chain (recursive-CTE components → q27
    * quality → NULLS LAST canonical window, ending at `r`) — factored
    * out so the q148 composed-pipeline oracle replays the IDENTICAL
    * dedup stage by construction instead of a hand-copied fork that
    * could drift. */
  private[graft] val canonicalCtes: String = """
      WITH RECURSIVE
      hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      hpairs AS (SELECT a.doc_id AS ea, b.doc_id AS eb FROM hx a JOIN hx b
                   ON a.h = b.h AND a.doc_id < b.doc_id),
      d AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents),
      d3 AS (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks)-2)) AS i
             FROM d WHERE len(toks) >= 3),
      sh AS (SELECT DISTINCT doc_id, source,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle FROM d3),
      cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
      pairs AS (SELECT a.doc_id AS ea, b.doc_id AS eb, CAST(count(*) AS BIGINT) AS inter
                FROM sh a JOIN sh b
                  ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      jpairs AS (SELECT ea, eb FROM pairs JOIN cnt ca ON ca.doc_id = ea
                   JOIN cnt cb ON cb.doc_id = eb
                 WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
      e0 AS (SELECT ea, eb FROM hpairs UNION SELECT ea, eb FROM jpairs),
      edges AS (SELECT ea, eb FROM e0 UNION SELECT eb, ea FROM e0),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
      cc AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
      qd AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
      qm AS (SELECT doc_id, n_chars, CAST(len(toks) AS INTEGER) AS n_toks,
               CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
               CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and' OR t = 'to')) AS INTEGER) AS n_stop
             FROM qd),
      qf AS (SELECT doc_id,
               (CAST(n_stop AS DOUBLE) / n_toks) * 0.5
                 + (CAST(n_distinct AS DOUBLE) / n_toks) * 0.3
                 + least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.2 AS quality
             FROM qm),
      r AS (SELECT cc.cluster_id, cc.doc_id, qf.quality,
              row_number() OVER (PARTITION BY cc.cluster_id
                ORDER BY qf.quality DESC NULLS LAST, cc.doc_id) AS rn,
              count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
            FROM cc LEFT JOIN qf ON qf.doc_id = cc.doc_id)"""

  /** q60 — one canonical doc per duplicate cluster (the dedup
    * RESOLUTION step: cluster → best member → clean corpus). Oracle =
    * the recursive-CTE components + the q27 quality expression + the
    * same NULLS LAST window. */
  val q60: Q = Q(
    "q60_canonical_docs",
    run = { (spark, dir) =>
      canonicalFromLabels(clustersFor(spark, dir, oracleExactMode),
        Tables.documentsParallel(spark, dir))
    },
    oracle = Some(canonicalCtes + """
      SELECT cluster_id, doc_id AS canon_doc_id,
        CAST(n_members AS BIGINT) AS n_members, quality AS canon_quality
      FROM r WHERE rn = 1"""))

  val all: Seq[Q] = Seq(q49, q60)
}
