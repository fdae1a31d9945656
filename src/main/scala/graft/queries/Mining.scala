package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.{Q, Tables}

/** Multi-criteria, pattern-mining and record-linkage operators
  * (SURVEY.md §2.8, round-10 additions): the 2-D skyline (Pareto
  * front), basket association rules, item-item collaborative
  * filtering, and end-to-end entity resolution — frontier selection,
  * co-occurrence boosting, neighborhood serving and
  * link-cluster-survive record merging for a curation pipeline.
  *
  * All exact and hash-oracle-checked. The skyline deliberately
  * avoids BOTH the O(n²) NOT-EXISTS self-join (the naive oracle shape)
  * and a global-sort sweep: it is a banded distributed prefix-scan —
  * per-price minima, an in-band exclusive running minimum (a window
  * PARTITIONED by band, never partition-less), and a driver prefix-min
  * over the ≤ B band minima (a bounded collect of B rows) carried back
  * as a broadcast join. Association rules bound pair generation by the
  * per-basket self-join (Σ|basket|², never catalog²) — the q101/q130
  * edge recipe.
  */
object Mining {

  /** Price bands for the skyline prefix-scan. The band key only routes
    * the scan — correctness never depends on where a boundary falls —
    * so B trades driver state (B carry values) against in-band sort
    * width (~n/B rows per window partition). */
  private val skyBands = 64

  /** Core of q139: exact 2-D skyline, minimizing both dimensions
    * (Börzsönyi, Kossmann & Stocker 2001, "The Skyline Operator").
    * A row survives iff NO other row is ≤ on both dims and < on at
    * least one. Decomposed exactly as:
    *   survive(x) ⇔ x.d2 = min d2 at x.d1  AND  x.d2 < min d2 over d1' < x.d1
    * (the first clause handles same-d1 domination — strict in d2; the
    * second handles every strictly-smaller d1 — domination is then
    * automatic in d1). Duplicate (d1,d2) points all survive together,
    * matching the NOT-EXISTS oracle.
    *
    * Scale shape: ONE hash agg to per-d1 minima (map-side combined),
    * an in-BAND exclusive running min (window partitioned by the price
    * band — bounded sort width n/B, spillable, never a single-partition
    * window), a ≤B-row driver prefix-min broadcast back as the carry
    * from lower bands, and a final equi-join of the source against the
    * per-d1 verdict table. No self-join, no global sort; the only
    * corpus-sized shuffles are the d1 agg and the verdict join. */
  def skyline(pts: DataFrame, d1: String, d2: String,
      bands: Int = skyBands): DataFrame = {
    val src = pts.withColumn("d1", col(d1)).withColumn("d2", col(d2))
    val stats = src.agg(min(col("d1")).cast("double"),
      max(col("d1")).cast("double")).collect()(0)
    if (stats.isNullAt(0)) return pts.limit(0)
    val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
    val span = if (hi > lo) hi - lo else 1.0
    def banded(df: DataFrame): DataFrame = df.withColumn("band",
      least(lit(bands - 1),
        floor((col("d1").cast("double") - lit(lo)) / lit(span) * lit(bands)))
        .cast("int"))
    // per-d1 minima — the only corpus-sized agg
    val perD1 = banded(src.groupBy(col("d1")).agg(min(col("d2")).as("m2")))
    // exclusive running min WITHIN the band (strictly-smaller d1 only:
    // d1 is unique per row here, so ROWS ... 1 PRECEDING is exact)
    val inBand = Window.partitionBy(col("band")).orderBy(col("d1"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val swept = perD1.withColumn("runm", min(col("m2")).over(inBand))
    // carry from strictly lower bands: ≤B rows → driver prefix-min →
    // broadcast back (the bounded-collect contract; B is a constant).
    // d2 is read GENERICALLY: every ordered atomic type's external value
    // (Long, Double, BigDecimal, String, Date, ...) is Comparable, and a
    // single column holds one runtime class — so the driver prefix-min
    // orders by compareTo and the carry frame is rebuilt with d2's OWN
    // DataType, keeping the least()/< comparisons below in Spark's type
    // domain (a long-only getLong here was a latent ClassCastException
    // for any non-long d2 caller — round-10 ADVICE).
    val d2Type = perD1.schema("m2").dataType
    require(d2Type.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
      d2Type == org.apache.spark.sql.types.StringType ||
      d2Type == org.apache.spark.sql.types.DateType ||
      d2Type == org.apache.spark.sql.types.TimestampType,
      s"skyline: d2 ($d2) must be an ordered atomic type, got $d2Type")
    val bandMin = perD1.groupBy(col("band")).agg(min(col("m2")).as("bm"))
      .collect().map(r => r.getInt(0) -> r.get(1)).toMap
    // Driver-side ordering must agree with Spark's: for StringType
    // Spark sorts by UTF-8 BINARY order, which disagrees with
    // String.compareTo (UTF-16 code units) for supplementary
    // characters — e.g. U+10000 ("𐀀") sorts BELOW U+FFFF
    // under compareTo but ABOVE it in UTF-8 bytes. Comparing through
    // UTF8String keeps the carry in Spark's own order (round-11
    // ADVICE: a string d2 could otherwise get a wrong carry and emit
    // non-skyline rows).
    val cmpOrd: Ordering[Any] = Ordering.fromLessThan {
      case (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      case (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val spark = pts.sparkSession
    val carrySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("carry", d2Type,
        nullable = true)))
    val carryRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList((0 until bands).map { b =>
        val prev = (0 until b).flatMap(bandMin.get)
        org.apache.spark.sql.Row(b,
          if (prev.isEmpty) null else prev.min(cmpOrd))
      }: _*)
    val carry = spark.createDataFrame(carryRows, carrySchema)
    // Spark's least() skips nulls (null only when BOTH are), so the
    // carry-from-lower-bands and the in-band exclusive min merge in one
    val verdict = swept.join(broadcast(carry), Seq("band"))
      .withColumn("m", least(col("runm"), col("carry")))
      .filter(col("m").isNull || col("m2") < col("m"))
      .select(col("d1").as("sd1"), col("m2"))
    src.join(verdict, col("d1") === col("sd1") && col("d2") === col("m2"))
      .select(pts.columns.map(col).toIndexedSeq: _*)
  }

  /** q139 — skyline of parts minimizing (p_retailprice, p_size): the
    * cheapest-at-each-size-class Pareto front. d2 (p_size) is integral
    * so the per-d1 min and carry stay in exact integer arithmetic; d1
    * is only ever compared, never computed on. */
  val q139: Q = Q(
    "q139_skyline",
    run = { (spark, dir) =>
      skyline(
        Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_retailprice"),
            col("p_size").cast("long").as("p_size")),
        "p_retailprice", "p_size")
    },
    oracle = Some("""
      SELECT a.p_partkey, a.p_retailprice, CAST(a.p_size AS BIGINT) AS p_size
      FROM part a
      WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))"""))

  /** Support / confidence floors for q142. Support is an absolute
    * basket count (scale-calibrated by the caller at real volume);
    * the confidence floor keeps only rules with real predictive pull. */
  private val minSupport = 2L
  private val minConfidence = 0.1

  /** Core of q142: pairwise association rules over baskets (Agrawal &
    * Srikant 1994's support/confidence frame, at the pair level — the
    * 2-itemset tier that covers the overwhelming share of production
    * basket signal without the combinatorial candidate lattice).
    * For every ordered pair (ante → cons) co-occurring in ≥ minSupport
    * baskets: support (co-basket count), confidence = supp(a,b)/supp(a),
    * lift = supp(a,b)·N / (supp(a)·supp(b)) — both computed as the same
    * IEEE double expression tree on both engines (a mult-mult-div of
    * exact integers ≤ 2⁵³, so the doubles agree bit-for-bit).
    *
    * Scale shape: pair generation is the per-basket self-join AFTER a
    * per-basket distinct — Σ|basket|² pairs, never catalog² (the q101
    * edge recipe); supports are map-side-combined hash aggs; the two
    * item-support joins are catalog-sized equi-joins AQE broadcasts
    * when small (not forced — the item table grows with the catalog,
    * the q128 advice). N rides a 1-row cross join, not a collect. */
  /** The registry's session-STAGED distinct (ok, part) basket table,
    * shared by q142 AND q144 (round 17 — the q184 `shinglesFor` /
    * retrieval `tfFor` session-amortization seam): both queries start
    * from the same deduped basket snapshot, and the round-16 shape
    * re-ran the distinct pass per query per bench pass. One landed
    * parquet per (session, corpus snapshot); every reference is a
    * scan. */
  private def basketsFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"basket-li|$dir") {
      graft.operators.Stage.materialize(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
          .distinct(),
        "basket-li")
    }

  def assocRules(baskets: DataFrame): DataFrame =
    // staged once (round 16, guide §2.4): `li` feeds the basket count,
    // the item supports, and BOTH self-join sides — the before-plan
    // re-ran the distinct agg (scan + exchange + final agg) for every
    // reference (10 scans of the basket source). One distinct pass,
    // three cheap re-reads of a (ok, part) parquet.
    assocRulesFrom(graft.operators.Stage.materialize(
      baskets.distinct(), "assoc-li"))

  /** [[assocRules]] over an already-staged distinct basket table. */
  private[graft] def assocRulesFrom(li: DataFrame): DataFrame = {
    val n = li.select(col("ok")).distinct().agg(count("*").as("n"))
    val itemSupp = li.groupBy(col("part")).agg(count("*").as("supp_one"))
    val pairs = li.select(col("ok"), col("part").as("pa"))
      .join(li.select(col("ok").as("ok2"), col("part").as("pb")),
        col("ok") === col("ok2") && col("pa") =!= col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count("*").as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(itemSupp.select(col("part").as("pa"), col("supp_one").as("supp_a")),
        Seq("pa"))
      .join(itemSupp.select(col("part").as("pb"), col("supp_one").as("supp_b")),
        Seq("pb"))
      .crossJoin(broadcast(n))
      .withColumn("confidence",
        col("support").cast("double") / col("supp_a").cast("double"))
      .withColumn("lift",
        col("support").cast("double") * col("n").cast("double") /
          (col("supp_a").cast("double") * col("supp_b").cast("double")))
      .filter(col("confidence") >= minConfidence)
      .select(col("pa").as("ante"), col("pb").as("cons"),
        col("support"), col("confidence"), col("lift"))
  }

  /** q142 — association rules over order baskets (ante → cons part
    * pairs with support ≥ 2 baskets and confidence ≥ 0.1). */
  val q142: Q = Q(
    "q142_assoc_rules",
    run = { (spark, dir) => assocRulesFrom(basketsFor(spark, dir)) },
    oracle = Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      n AS (SELECT count(*) AS n FROM (SELECT DISTINCT ok FROM li)),
      item AS (SELECT part, count(*) AS supp_one FROM li GROUP BY part),
      pairs AS (
        SELECT a.part AS pa, b.part AS pb, count(*) AS support
        FROM li a JOIN li b ON a.ok = b.ok AND a.part <> b.part
        GROUP BY a.part, b.part
        HAVING count(*) >= 2)
      SELECT p.pa AS ante, p.pb AS cons, p.support,
        CAST(p.support AS DOUBLE) / CAST(ia.supp_one AS DOUBLE) AS confidence,
        CAST(p.support AS DOUBLE) * CAST(n.n AS DOUBLE) /
          (CAST(ia.supp_one AS DOUBLE) * CAST(ib.supp_one AS DOUBLE)) AS lift
      FROM pairs p
      JOIN item ia ON ia.part = p.pa
      JOIN item ib ON ib.part = p.pb
      CROSS JOIN n
      WHERE CAST(p.support AS DOUBLE) / CAST(ia.supp_one AS DOUBLE) >= 0.1"""))

  /** Neighborhood size for q144's per-item recommendation list. */
  private val cfTopK = 5

  /** Core of q144: item-item collaborative filtering (Sarwar et al.
    * 2001, "Item-based collaborative filtering recommendation
    * algorithms") on the binary basket-membership matrix: cosine
    * similarity sim(a,b) = co(a,b) / √(supp(a)·supp(b)) for pairs
    * co-occurring in ≥ minSupport baskets, then the top-k neighbors
    * per item — the precomputed item-neighborhood table a recommender
    * serves from (and a curation pipeline's "related items" signal).
    *
    * Determinism: co/supp are exact BIGINTs; the one √ and ÷ are IEEE
    * ops on identical inputs (√ is correctly-rounded per IEEE-754, so
    * both engines produce the same double bit-for-bit); rank ties
    * break on the neighbor id. Scale shape: pair generation per-basket
    * bounded (Σ|basket|²), supports map-side combined, the top-k is a
    * per-item rank window (partitioned, never global). */
  def itemCf(baskets: DataFrame): DataFrame =
    // staged for the same reason as [[assocRules]] (8 scans before)
    itemCfFrom(graft.operators.Stage.materialize(
      baskets.distinct(), "cf-li"))

  /** [[itemCf]] over an already-staged distinct basket table. */
  private[graft] def itemCfFrom(li: DataFrame): DataFrame = {
    val itemSupp = li.groupBy(col("part")).agg(count(lit(1)).as("supp_one"))
    val co = li.select(col("ok"), col("part").as("pa"))
      .join(li.select(col("ok").as("ok2"), col("part").as("pb")),
        col("ok") === col("ok2") && col("pa") =!= col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("co"))
      .filter(col("co") >= minSupport)
    val scored = co
      .join(itemSupp.select(col("part").as("pa"), col("supp_one").as("supp_a")),
        Seq("pa"))
      .join(itemSupp.select(col("part").as("pb"), col("supp_one").as("supp_b")),
        Seq("pb"))
      .withColumn("sim", col("co").cast("double") /
        sqrt(col("supp_a").cast("double") * col("supp_b").cast("double")))
    val byItem = Window.partitionBy(col("pa"))
      .orderBy(col("sim").desc, col("pb").asc)
    scored.withColumn("rank", row_number().over(byItem))
      .filter(col("rank") <= cfTopK)
      .select(col("pa").as("item"), col("pb").as("neighbor"),
        col("co"), col("sim"), col("rank"))
  }

  /** q144 — top-5 cosine item neighborhoods over order baskets. */
  val q144: Q = Q(
    "q144_item_cf",
    run = { (spark, dir) => itemCfFrom(basketsFor(spark, dir)) },
    oracle = Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                  FROM lineitem),
      item AS (SELECT part, count(*) AS supp_one FROM li GROUP BY part),
      co AS (
        SELECT a.part AS pa, b.part AS pb, count(*) AS co
        FROM li a JOIN li b ON a.ok = b.ok AND a.part <> b.part
        GROUP BY a.part, b.part
        HAVING count(*) >= 2),
      scored AS (
        SELECT co.pa, co.pb, co.co,
          CAST(co.co AS DOUBLE) /
            sqrt(CAST(ia.supp_one AS DOUBLE) * CAST(ib.supp_one AS DOUBLE))
            AS sim
        FROM co
        JOIN item ia ON ia.part = co.pa
        JOIN item ib ON ib.part = co.pb)
      SELECT pa AS item, pb AS neighbor, co, sim, CAST(rank AS INTEGER) AS rank
      FROM (SELECT pa, pb, co, sim, row_number() OVER (
              PARTITION BY pa ORDER BY sim DESC, pb ASC) AS rank
            FROM scored)
      WHERE rank <= 5"""))

  /** Core of q145: end-to-end entity resolution (Fellegi & Sunter
    * 1969's link-then-cluster frame, composed from the library's own
    * seams the way q116 composes q112∘q97): q80's stacked-block fuzzy
    * matcher generates candidate links (tighter maxDist — resolution
    * wants high precision), connected components merge transitive
    * matches (a~b, b~c ⇒ one entity even when a~c misses the edit
    * bound), and survivorship picks the LONGEST record per entity
    * (n_chars desc, min doc_id ties — the classic most-complete-record
    * rule). Output: one row per entity — id (min member), member
    * count, representative doc.
    *
    * The CC loop is [[graft.ext.DedupCluster.components]], the core q49
    * clusters with: min-label propagation over the staged symmetric link
    * set, one node-sized equi-join + left join per round, plus a
    * pointer-doubling hop that engages only when the changed-count stops
    * halving. Shallow components (block-bounded stars) never pay the
    * hop; a chain of near-copies (each record one edit from the next)
    * contracts in O(log diameter) rounds instead of one round per link.
    * The loop runs to CONVERGENCE (the changed-count rides the stage
    * write via observe() — one action per round, bounded by maxRounds),
    * so the labels equal the oracle's recursive-CTE transitive closure;
    * budget exhaustion FAILS (a split-entity answer is never served).
    *
    * Scale shape: candidate links are block-bounded (q80), the loop
    * state is node-sized, survivorship is one partitioned rank window
    * over the label table. Nothing corpus² anywhere. */
  def entityResolve(docs: DataFrame, maxDist: Int = 8,
      maxRounds: Int = 12): DataFrame = {
    val links = CorpusOps.fuzzyMatch(docs, maxDist)
      .select(col("doc_a").as("ea"), col("doc_b").as("eb"))
    val edges = graft.operators.Stage.materialize(
      links.unionAll(links.select(col("eb").as("ea"), col("ea").as("eb"))),
      "er-edges")
    val (cc, stats) = graft.ext.DedupCluster.components(
      edges, docs.select(col("doc_id")), maxRounds)
    graft.operators.Stage.release(edges)
    // never serve split entities silently: a component still moving at
    // maxRounds must fail loudly (warn-only meant a scale run could
    // return labels diverging from transitive closure)
    require(stats.converged,
      s"[entity-resolve] labels still moving after $maxRounds rounds — " +
        "components wider than the budget would be served SPLIT; raise " +
        "`maxRounds`")
    val labels = cc.select(col("doc_id"), col("cluster_id").as("ent"))
    val sized = labels.groupBy(col("ent")).agg(count(lit(1)).as("n_docs"))
    val byCompleteness = Window.partitionBy(col("ent"))
      .orderBy(col("n_chars").desc_nulls_last, col("doc_id").asc)
    val rep = labels
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("rn", row_number().over(byCompleteness))
      .filter(col("rn") === 1)
      .select(col("ent"), col("doc_id").as("rep_doc_id"))
    sized.join(rep, Seq("ent"))
      .select(col("ent").as("entity_id"), col("n_docs"), col("rep_doc_id"))
  }

  /** q145 — entity resolution over the document corpus: q80 fuzzy
    * links at maxDist 8 → connected components → longest-record
    * survivorship. */
  val q145: Q = Q(
    "q145_entity_resolve",
    run = { (spark, dir) =>
      entityResolve(Tables.documentsParallel(spark, dir)
        .filter(col("text").isNotNull))
    },
    oracle = Some("""
      WITH RECURSIVE
      p AS (SELECT doc_id, source, n_chars, substr(text, 1, 32) AS pre
            FROM documents WHERE text IS NOT NULL),
      k AS (SELECT doc_id, source, pre, 'p|' || substr(pre, 1, 4) AS blk FROM p
            UNION ALL
            SELECT doc_id, source, pre, 's|' || right(pre, 4) AS blk FROM p),
      cand AS (SELECT DISTINCT a.doc_id AS ea, b.doc_id AS eb,
                 a.pre AS pre_a, b.pre AS pre_b
               FROM k a JOIN k b
                 ON a.source = b.source AND a.blk = b.blk
                   AND a.doc_id < b.doc_id),
      fp AS (SELECT ea, eb FROM cand WHERE levenshtein(pre_a, pre_b) <= 8),
      edges AS (SELECT ea, eb FROM fp UNION SELECT eb AS ea, ea AS eb FROM fp),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM p
        UNION
        SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
      lab AS (SELECT src AS doc_id, min(dst) AS ent FROM reach GROUP BY src),
      sized AS (SELECT ent, count(*) AS n_docs FROM lab GROUP BY ent),
      rep AS (SELECT ent, doc_id AS rep_doc_id FROM (
                SELECT l.ent, l.doc_id, row_number() OVER (
                  PARTITION BY l.ent
                  ORDER BY p.n_chars DESC NULLS LAST, l.doc_id ASC) AS rn
                FROM lab l JOIN p ON p.doc_id = l.doc_id) WHERE rn = 1)
      SELECT s.ent AS entity_id, s.n_docs, r.rep_doc_id
      FROM sized s JOIN rep r ON r.ent = s.ent"""))

  /** Minimum users for a q146 sequential pattern (absolute, scale-
    * calibrated by the caller at real volume — the q142 contract). */
  private val seqMinUsers = 5L

  /** Core of q146: sequential pattern mining at the 2-sequence tier
    * (the "a is FOLLOWED BY b" directional rules of Agrawal & Srikant
    * 1995's AprioriAll, restricted to first occurrences): for every
    * ordered event-type pair, the number of users whose first `a`
    * strictly precedes their first `b`, with the share of all users.
    * Directionality is the point — n(view→click) vs n(click→view) is
    * the behavioral arrow q142's unordered co-occurrence cannot see.
    *
    * First-occurrence semantics make the operator deterministic and
    * bounded: one (user, type) min-ts agg (map-side combined), then a
    * per-user self-join whose fan-out is |event-type vocabulary|² per
    * user — vocabulary-bounded, never |events|². Equal first
    * timestamps count in NEITHER direction (strict <, tie-safe on µs
    * instants both engines compare identically). */
  def seqPatterns(events: DataFrame): DataFrame = {
    val firstSeen = events
      .groupBy(col("user_id"), col("event_type")).agg(min(col("ts")).as("t0"))
    val total = events.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_total"))
    firstSeen.select(col("user_id"), col("event_type").as("e_from"),
        col("t0").as("ta"))
      .join(firstSeen.select(col("user_id").as("u2"),
          col("event_type").as("e_to"), col("t0").as("tb")),
        col("user_id") === col("u2") && col("ta") < col("tb"))
      .groupBy(col("e_from"), col("e_to")).agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= seqMinUsers)
      .crossJoin(broadcast(total))
      .select(col("e_from"), col("e_to"), col("n_users"),
        (col("n_users").cast("double") / col("n_total").cast("double"))
          .as("share"))
  }

  /** q146 — first-occurrence followed-by patterns over the event
    * stream (≥ 5 users). */
  val q146: Q = Q(
    "q146_seq_patterns",
    run = { (spark, dir) => seqPatterns(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                 FROM events),
      f AS (SELECT user_id, event_type, min(ts) AS t0 FROM e GROUP BY 1, 2),
      t AS (SELECT count(DISTINCT user_id) AS n_total FROM e),
      p AS (SELECT a.event_type AS e_from, b.event_type AS e_to,
              count(*) AS n_users
            FROM f a JOIN f b ON a.user_id = b.user_id AND a.t0 < b.t0
            GROUP BY 1, 2
            HAVING count(*) >= 5)
      SELECT e_from, e_to, n_users,
        CAST(n_users AS DOUBLE) / n_total AS share
      FROM p CROSS JOIN t"""))

  /** Core of q147: Z-order (Morton) layout zone maps (Morton 1966; the
    * multi-dimensional clustering behind Delta/Iceberg Z-ORDER BY) —
    * the LAYOUT operator of the 100 TB story: interleaving the bits of
    * two scan dimensions gives one sort key whose contiguous ranges
    * are small rectangles in BOTH dimensions, so per-file min/max zone
    * maps prune two-dimensional predicates from a single physical
    * order. Buckets each dimension to 8 bits, interleaves to a 16-bit
    * Morton code as a pure integer expression (bit i of x at position
    * 2i, of y at 2i+1 — Σ ((v DIV 2ⁱ) % 2)·4ⁱ, identical arithmetic
    * both engines), groups by the top-8-bit zone and emits each zone's
    * row count and min/max per dimension. The output IS the proof:
    * both spreads are ≤ 15 in every zone (high nibbles fixed), exactly
    * the bound a reader needs to skip files on either predicate — the
    * suite asserts it, and a one-dimensional sort provably cannot
    * bound the second dimension this way.
    *
    * Scale shape: one scan + a ≤256-key map-side-combined agg; in
    * production the Morton key is what you `repartitionByRange` /
    * write-sort on, and this query is the audit that the layout holds. */
  def zorderZones(orders: DataFrame): DataFrame = {
    // all-integer bit interleave: DIV/% on non-negative BIGINTs parse
    // and evaluate identically in Spark SQL and DuckDB (// there);
    // shared with the WRITER (sinks.ZOrderLayout) since round-11, so
    // the landed layout and this audit can never disagree on the key
    val zExpr = graft.sinks.ZOrderLayout.mortonTerms("x", "y")
    orders
      .select(pmod(col("o_custkey"), lit(256L)).cast("long").as("x"),
        pmod(datediff(to_date(col("o_orderdate")),
          to_date(lit("1992-01-01"))).cast("long"), lit(256L)).as("y"))
      .withColumn("z", expr(zExpr))
      .groupBy(expr("z DIV 256").as("zone"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
  }

  /** q147 — Morton zone maps over orders on (custkey, order day). */
  val q147: Q = Q(
    "q147_zorder_zones",
    run = { (spark, dir) => zorderZones(Tables.orders(spark, dir)) },
    oracle = Some {
      val terms = (0 until 8).map { i =>
        val p2 = 1L << i
        val p4 = 1L << (2 * i)
        s"(x // $p2 % 2) * $p4 + (y // $p2 % 2) * ${2 * p4}"
      }.mkString(" + ")
      s"""
      WITH b AS (SELECT o_custkey % 256 AS x,
                   datediff('day', DATE '1992-01-01',
                     CAST(o_orderdate AS DATE)) % 256 AS y
                 FROM orders),
      m AS (SELECT x, y, $terms AS z FROM b)
      SELECT z // 256 AS zone, count(*) AS n_rows,
        min(x) AS min_x, max(x) AS max_x,
        min(y) AS min_y, max(y) AS max_y
      FROM m GROUP BY z // 256"""
    })

  val all: Seq[Q] = Seq(q139, q142, q144, q145, q146, q147)
}
