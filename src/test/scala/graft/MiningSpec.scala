package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.{GraphOps, Mining}

/** Round-10 mining + graph-traversal operators: q139 skyline, q140 BFS
  * hops, q141 label propagation, q142 association rules, q143
  * Bellman-Ford SSSP, q144 item-item CF, q145 entity resolution. The DuckDB
  * hash gates pin fixture results; these tests pin the SEMANTICS on
  * adversarial hand-built inputs (domination edge cases, true-iteration
  * graphs, hand-computed confidences) where the fixture might not
  * exercise them.
  */
class MiningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- q139 skyline ----

  test("skyline equals the brute-force dominance check on the fixture") {
    val pts = Tables.part(spark, TestSpark.sf0001)
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("long").as("p_size"))
    val got = Mining.skyline(pts, "p_retailprice", "p_size")
      .select("p_partkey").as[Long].collect().toSet
    val all = pts.select("p_partkey", "p_retailprice", "p_size")
      .as[(Long, Double, Long)].collect()
    val want = all.filter { case (_, p, s) =>
      !all.exists { case (_, p2, s2) =>
        p2 <= p && s2 <= s && (p2 < p || s2 < s) }
    }.map(_._1).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("skyline keeps coincident points together and spans bands") {
    // two identical points (neither dominates the other), a dominated
    // point, and frontier points far enough apart to land in different
    // price bands — the cross-band carry must kill (10.0, 9) via the
    // band-0 minimum, and same-d1 domination must kill (1.0, 6)
    val pts = Seq(
      (1L, 1.0, 5L), (2L, 1.0, 5L),  // coincident frontier pair
      (3L, 1.0, 6L),                 // dominated at the same price
      (4L, 10.0, 9L),                // dominated across bands by (1.0,5)
      (5L, 10.0, 3L), (6L, 100.0, 1L) // frontier: cheaper in d2 as d1 grows
    ).toDF("id", "cost", "size")
    val got = Mining.skyline(pts, "cost", "size")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 5L, 6L))
  }

  test("skyline string d2 carry follows Spark's UTF-8 binary order") {
    // supplementary plane vs U+FFFF: String.compareTo (UTF-16 units)
    // says U+10000 < U+FFFF, Spark's binary order says the opposite.
    // Fixture forces the cross-band carry to choose between them:
    // band 0 min = U+FFFF, band 1 min = U+10000; the carry into band 2
    // must be U+FFFF (binary min), which kills (2.0, U+FFFF) — a
    // UTF-16 carry of U+10000 would wrongly let it survive.
    val hi = "\uFFFF"           // EF BF BF in UTF-8
    val supp = "\uD800\uDC00"  // U+10000: F0 90 80 80 in UTF-8
    val pts = Seq((1L, 0.0, hi), (2L, 1.0, supp), (3L, 2.0, hi))
      .toDF("id", "cost", "tag")
    val got = Mining.skyline(pts, "cost", "tag", bands = 3)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L))
  }

  // ---- q140 BFS hops ----

  test("bfsHops walks a chain exactly and stops at an explicit round cap") {
    // chain 1-2-3-4-5-6-7 via two-item baskets; seed = min node = 1
    val baskets = (1L to 6L).map(i => (i, i)) ++ (1L to 6L).map(i => (i, i + 1))
    val got = GraphOps.bfsHops(baskets.toDF("ok", "part"), maxRounds = 4)
      .as[(Long, Long)].collect().toMap
    // capped at 4: nodes 1..5 at hops 0..4; 6 and 7 beyond the budget
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("bfsHops runs to CONVERGENCE by default — the whole chain lands") {
    // round-16 contract: the loop exits on an empty frontier, so the
    // default cap (16) traverses the full 6-hop chain with no warning
    val baskets = (1L to 6L).map(i => (i, i)) ++ (1L to 6L).map(i => (i, i + 1))
    val got = GraphOps.bfsHops(baskets.toDF("ok", "part"))
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 7L).map(n => n -> (n - 1)).toMap)
  }

  test("bfsHops assigns the SHORTEST hop when paths diverge") {
    // triangle 1-2-3 plus chain 3-4: node 3 reachable in 1 hop via the
    // direct edge even though the 2-hop path through 2 also exists
    val baskets = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 3L), (11L, 4L))
    val got = GraphOps.bfsHops(baskets.toDF("ok", "part"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  // ---- q141 label propagation ----

  test("labelProp resolves disjoint cliques to their min labels") {
    // two disjoint K4s as one basket each — true iteration is needed:
    // round 1 sends node 1's label AWAY from 1 (its neighbors vote 1,
    // but node 1 itself sees {2,3,4} and adopts 2); round 2 heals it
    val baskets = Seq(1L, 2L, 3L, 4L).map((100L, _)) ++
      Seq(5L, 6L, 7L, 8L).map((200L, _))
    val got = GraphOps.labelProp(baskets.toDF("ok", "part"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L))
  }

  test("labelProp separates two cliques joined by a single bridge") {
    // K4 {1,2,3,4} and K4 {5,6,7,8} bridged by 4-5: the bridge is one
    // vote against three intra-clique votes, so communities hold
    val baskets = Seq(1L, 2L, 3L, 4L).map((100L, _)) ++
      Seq(5L, 6L, 7L, 8L).map((200L, _)) ++ Seq((300L, 4L), (300L, 5L))
    val got = GraphOps.labelProp(baskets.toDF("ok", "part"))
      .as[(Long, Long)].collect().toMap
    assert(got.filter(_._1 <= 4L).values.toSet == Set(1L))
    assert(got.filter(_._1 >= 5L).values.toSet == Set(5L))
  }

  // ---- q143 weighted shortest paths ----

  test("weightedPaths relaxes through a cheaper multi-hop route") {
    // edges by co-count: 1-2 ×5 (w=200000), 2-3 ×5 (w=200000),
    // 1-3 ×1 (w=1000000): the 2-hop route 1→2→3 (400000) must beat
    // the direct edge — pure BFS would stop at hop 1
    val baskets =
      (1L to 5L).flatMap(ok => Seq((ok, 1L), (ok, 2L))) ++
        (6L to 10L).flatMap(ok => Seq((ok, 2L), (ok, 3L))) ++
        Seq((11L, 1L), (11L, 3L))
    val got = GraphOps.weightedPaths(baskets.toDF("ok", "part"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 200000L, 3L -> 400000L))
  }

  test("weightedPaths stops at an explicit round cap on a chain") {
    // chain 1-2-3-4-5-6, each edge co-count 1 (w=1000000); capped at 4
    // rounds it reaches node 5 at 4000000 and leaves node 6 out
    val baskets = (1L to 5L).map(i => (i, i)) ++ (1L to 5L).map(i => (i, i + 1))
    val got = GraphOps.weightedPaths(baskets.toDF("ok", "part"), maxRounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1000000L, 3L -> 2000000L,
      4L -> 3000000L, 5L -> 4000000L))
  }

  test("weightedPaths runs to CONVERGENCE by default — distances final, chain complete") {
    // round-16 contract: the per-round change detector exits the loop
    // once no (node, dist) row improves — node 6 lands at 5 edges
    val baskets = (1L to 5L).map(i => (i, i)) ++ (1L to 5L).map(i => (i, i + 1))
    val got = GraphOps.weightedPaths(baskets.toDF("ok", "part"))
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 6L).map(n => n -> (n - 1) * 1000000L).toMap)
  }

  // ---- q144 item-item CF ----

  test("itemCf computes hand-checked cosine neighborhoods with ranks") {
    // supp(1)=4, supp(2)=4, supp(3)=4; co(1,2)=3, co(1,3)=2, co(2,3)=2
    val baskets = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L), (3L, 3L),
      (4L, 1L), (4L, 3L), (5L, 2L), (5L, 3L), (6L, 3L))
    val got = Mining.itemCf(baskets.toDF("ok", "part"))
      .as[(Long, Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got((1L, 2L)) == ((3L, 3.0 / 4.0, 1)))        // 3/sqrt(16)
    assert(got((1L, 3L)) == ((2L, 2.0 / 4.0, 2)))
    assert(got((2L, 1L))._3 == 1 && got((2L, 3L))._3 == 2)
    assert(got((3L, 1L))._2 == 0.5 && got((3L, 2L))._2 == 0.5)
    // tie at sim 0.5 → neighbor id breaks it
    assert(got((3L, 1L))._3 == 1 && got((3L, 2L))._3 == 2)
  }

  // ---- q145 entity resolution ----

  test("entityResolve merges transitive links and keeps the longest record") {
    // a~b (dist 2) and b~c (dist 2, edits at DISJOINT positions) so
    // a~c sits at dist 4 — with maxDist 3 only transitivity unifies
    // the three; d is a singleton. All share the 'alph' prefix block.
    // Representative = longest text (c), ties impossible.
    val base = "alpha beta gamma delta epsilon zz"
    val docs = Seq(
      (1L, "s1", base, base.length.toLong),
      (2L, "s1", base.replace("beta", "byxa"), base.length.toLong),
      (3L, "s1", base.replace("beta", "byxa")
        .replace("gamma", "gayya") + " tail tail",
        (base.length + 10).toLong),
      (4L, "s1", "omega psi chi phi upsilon tau xyz", 33L)
    ).toDF("doc_id", "source", "text", "n_chars")
    val got = Mining.entityResolve(docs, maxDist = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, 3L)))   // entity 1: {1,2,3}, rep = 3 (longest)
    assert(got(4L) == ((1L, 4L)))   // singleton keeps itself
  }

  test("entityResolve leaves far records apart at the distance bound") {
    val docs = Seq(
      (1L, "s1", "abcdefgh same same same same zz11", 33L),
      (2L, "s1", "abcdefgh wildly different body zz11", 35L))
      .toDF("doc_id", "source", "text", "n_chars")
    // same block keys, but edit distance > 8 → two entities
    val got = Mining.entityResolve(docs)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L, 2L))
  }

  test("entityResolve merges a 29-record chain longer than its round budget") {
    // record i = "alph" + "x"*i + "a"*(28-i): 32 chars, one edit from
    // its neighbours and two from anything further, so at maxDist 1
    // only neighbours link — diameter 28, far beyond the 12-round
    // budget of plain min-label propagation. Pointer doubling contracts
    // the chain in O(log 28) rounds.
    val docs = (0 until 29).map { i =>
      (i.toLong, "s1", "alph" + "x" * i + "a" * (28 - i), 32L)
    }.toDF("doc_id", "source", "text", "n_chars")
    val got = Mining.entityResolve(docs, maxDist = 1)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((0L, 29L, 0L)), got.mkString(", "))
  }

  // ---- q146 sequential patterns ----

  test("seqPatterns counts first-occurrence order and drops ties") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // 21 users: first 'view' then 'click' (later repeat views must not
    // flip direction); user 999 has view/click at the SAME instant →
    // neither direction; 'buy' appears for only 3 users (below floor)
    val rows =
      (1L to 21L).flatMap(u => Seq(
        (u, "view", ts(1)), (u, "click", ts(2)), (u, "view", ts(3)))) ++
        Seq((999L, "view", ts(5)), (999L, "click", ts(5))) ++
        (1L to 3L).map(u => (u, "buy", ts(4)))
    val got = Mining.seqPatterns(rows.toDF("user_id", "event_type", "ts"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // 22 distinct users total; view→click for the 21 (user 999 tied out)
    assert(got == Map(("view", "click") -> ((21L, 21.0 / 22.0))))
  }

  // ---- q147 Z-order zone maps ----

  test("zorderZones interleaves bits and bounds both spreads per zone") {
    import java.sql.Timestamp
    // hand-check the Morton code path via zone membership: x=3 (0b11),
    // y=5 (0b101) → z = 1+2·1 + 4·1+8·0 + 16·0+32·1 = 39 → zone 0;
    // x=255, y=255 → z = 65535 → zone 255
    val rows = Seq(
      (3L, Timestamp.valueOf("1992-01-06 00:00:00")),    // x=3,  y=5
      (255L, Timestamp.valueOf("1992-09-12 00:00:00")))  // x=255, y=255
    val got = Mining.zorderZones(
      rows.toDF("o_custkey", "o_orderdate"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 1L, 3L, 3L, 5L, 5L)))
    assert(got(255L) == ((255L, 1L, 255L, 255L, 255L, 255L)))
    // the data-skipping property on the real fixture: every zone's
    // spread is <= 15 in BOTH dimensions (high nibbles fixed) — the
    // bound a min/max zone map needs to prune 2-D predicates; a 1-D
    // sort cannot bound the second dimension like this
    val zones = Mining.zorderZones(Tables.orders(spark, TestSpark.sf0001))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(zones.nonEmpty)
    zones.foreach { case (zone, _, minX, maxX, minY, maxY) =>
      assert(maxX - minX <= 15 && maxY - minY <= 15,
        s"zone $zone spread exceeds the nibble bound")
    }
  }

  // ---- q142 association rules ----

  test("assocRules computes hand-checked support, confidence and lift") {
    // baskets: {1,2} ×3, {1,3} ×1, {2,3} ×1 → N=5
    val baskets = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L),
      (4L, 1L), (4L, 3L), (5L, 2L), (5L, 3L))
    val got = Mining.assocRules(baskets.toDF("ok", "part"))
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // supp(1)=4, supp(2)=4, supp(3)=2, supp(1,2)=3
    // 1→2: conf 3/4, lift 3·5/(4·4)
    assert(got((1L, 2L)) == ((3L, 0.75, 15.0 / 16.0)))
    assert(got((2L, 1L)) == ((3L, 0.75, 15.0 / 16.0)))
    // pairs with support 1 are below the floor
    assert(!got.contains((1L, 3L)) && !got.contains((3L, 2L)))
  }

  test("assocRules confidence floor prunes weak antecedents") {
    // {9,10} ×2 but 9 appears in 20 baskets → conf(9→10)=0.1 stays
    // (floor is inclusive), while a 1/20 rule would be cut; verify an
    // antecedent-side asymmetry: conf(10→9)=1.0
    val baskets = (1L to 20L).map(ok => (ok, 9L)) ++
      Seq((1L, 10L), (2L, 10L))
    val got = Mining.assocRules(baskets.toDF("ok", "part"))
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(got((9L, 10L)) == 0.1)
    assert(got((10L, 9L)) == 1.0)
  }

  test("entityResolve issues ONE Spark action per CC round (convergence rides the stage write)") {
    // fixture engineered for exactly 2 rounds: one linked pair (round 1
    // moves one label, round 2 observes zero motion) + fillers whose
    // blocking keys can never collide (single-char-alphabet texts).
    // Counted on a DEDICATED session: ExecutionListenerManager is
    // per-session, so a fresh newSession() sees no straggler events
    // from other suites on the shared session and the exact-equality
    // assert is race-free (round-11 ADVICE: the old shape drained the
    // SHARED bus with Thread.sleep and could over- or under-count).
    val s2 = spark.newSession()
    val docs = s2.createDataFrame(Seq(
      (1L, "src", "duplicate pair text sample A", 28L),
      (2L, "src", "duplicate pair text sample B", 28L)) ++
      (3 to 12).map(i =>
        (i.toLong, "src", ("" + ('a' + i).toChar) * 20, 20L)))
      .toDF("doc_id", "source", "text", "n_chars")
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { seen.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s2.listenerManager.register(ql)
    try {
      Mining.entityResolve(docs, maxDist = 8)
      // expected actions: the edges stage write + one OBSERVED stage
      // write per round (2 rounds) = 3; the round-10 shape paid an
      // extra anti-join count per round (would be 5 here)
      val deadline = System.currentTimeMillis + 10000
      while (System.currentTimeMillis < deadline && seen.get < 3)
        Thread.sleep(50)
      Thread.sleep(400) // catch any events BEYOND the expected three
      assert(seen.get == 3,
        s"expected edges-write + 2 round-writes = 3 actions, saw ${seen.get}")
    } finally s2.listenerManager.unregister(ql)
  }
}
