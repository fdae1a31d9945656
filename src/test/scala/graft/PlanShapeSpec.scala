package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, count, dayofweek, lit, to_date}
import org.scalatest.funsuite.AnyFunSuite
import graft.PlanWalk.partitionlessWindows

/** Plan-shape laws: the broadcasts, shuffle counts, dynamic partition
  * pruning, pushdown and fused-probe shapes the queries were designed
  * for, asserted on the executed (pre-execution, AQE-initial) plans at
  * sf0.01 — the fixture scale these laws were written against (the
  * size-based join choices depend on it). `graft.tools.DumpPlans`
  * writes the full plans as evidence. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf001

  private def exec(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
  private def plan(name: String): String = exec(name).toString
  private def hashExchanges(plan: String): Int =
    plan.linesIterator.count(_.contains("Exchange hashpartitioning"))

  test("q55: the benchmark shingle set rides a broadcast") {
    // never a shuffle: it is the canonical tiny-dim side at 100 TB
    val q55Plan = plan("q55_decontaminate")
    assert(q55Plan.contains("BroadcastHashJoin"),
      "q55: benchmark overlap join is not broadcast")
  }

  test("q58: sequence packing is ONE hash shuffle (the window on source)") {
    val nHashExchanges = hashExchanges(plan("q58_pack_sequences"))
    assert(nHashExchanges == 1,
      s"q58: expected exactly 1 hash shuffle, found $nHashExchanges")
  }

  test("events by day: a dim-side filter prunes fact partitions (DPP)") {
    // DYNAMIC partition pruning: the partition filter is not a literal —
    // it comes from a dim-side predicate at runtime. A calendar dim
    // (one row per date, with a day-of-week attribute) is written to
    // parquet, filtered on dow, and joined to the fact on the PARTITION
    // column; the fact scan must then carry a dynamicpruning expression
    // in PartitionFilters (fed by the reused broadcast of the dim), so
    // only the dim-selected days are ever listed or read.
    val part = Files.createTempDirectory("events_part").toFile
    val calDir = Files.createTempDirectory("cal_dim").toFile
    try {
      sources.EventsLayout.writePartitionedByDay(
        Tables.events(spark, dir), part.toString)
      Tables.events(spark, dir)
        .select(to_date(col("ts")).as("cal_date")).distinct()
        .withColumn("dow", dayofweek(col("cal_date")))
        .write.mode("overwrite").parquet(calDir.toString)
      val cal = spark.read.parquet(calDir.toString).filter(col("dow") === 3)
      val dpp = sources.EventsLayout.readPartitioned(spark, part.toString)
        .join(cal, col("event_date") === col("cal_date"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      val dppPlan = dpp.queryExecution.executedPlan.toString
      assert(dppPlan.contains("dynamicpruning"),
        "expected a dynamicpruning expression in the fact scan's " +
          "PartitionFilters — DPP did not engage")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(part)
      org.apache.commons.io.FileUtils.deleteDirectory(calDir)
    }
  }

  test("q75: the day grid rides a broadcast nested-loop") {
    // calendar-bounded dim side; the only hash shuffles are the distinct
    // pre-agg + the final group — never a shuffle of the range join
    val q75Plan = plan("q75_rolling_distinct_users")
    assert(q75Plan.contains("BroadcastNestedLoopJoin"),
      "q75: day-grid range join is not broadcast")
  }

  test("q80: blocking keys keep the fuzzy match an equi-join") {
    // levenshtein only in the post-join filter — a cartesian/NLJ here
    // would be the O(n²) record-linkage trap
    val q80Plan = plan("q80_fuzzy_match")
    assert(!q80Plan.contains("CartesianProduct") &&
      !q80Plan.contains("BroadcastNestedLoopJoin"),
      "q80: fuzzy match lost its equi-join blocking keys")
  }

  test("q81: the mode's top-1 window runs over the distinct-value agg") {
    // one row per (flag, qty), after partial map-side combine — i.e.
    // at most two hash shuffles, none of them window-over-raw-rows
    val q81Ex = hashExchanges(plan("q81_grouped_mode"))
    assert(q81Ex <= 2, s"q81: expected <=2 hash shuffles, found $q81Ex")
  }

  test("q88: the quota fill is ONE window over source") {
    // a single hash shuffle, no join, no sort beyond the window's
    val q88Ex = hashExchanges(plan("q88_token_budget_mix"))
    assert(q88Ex == 1, s"q88: expected exactly 1 hash shuffle, found $q88Ex")
  }

  test("q89: the query set is broadcast, the corpus streams") {
    // ZERO hash shuffles on the corpus side before the (tiny) top-k window
    val q89Plan = plan("q89_hard_negatives")
    assert(q89Plan.contains("BroadcastNestedLoopJoin"),
      "q89: query set not broadcast")
    assert(!q89Plan.contains("CartesianProduct"),
      "q89: cross join fell back to CartesianProduct")
  }

  test("q90: the surprisal join-back keys on the bigram") {
    // an equi-join, never a nested loop over occurrences; the one-row
    // total rides a broadcast
    val q90Plan = plan("q90_bigram_surprisal")
    assert(!q90Plan.contains("CartesianProduct"),
      "q90: count join-back lost its bigram equi-key")
  }

  test("q91: PII scrub is a pure per-row projection") {
    // the embarrassingly-parallel contract: no exchange besides the
    // documentsParallel round-robin repartition
    val q91Ex = plan("q91_pii_scrub").linesIterator.count(_.contains("Exchange"))
    assert(q91Ex == 1,
      s"q91: expected only the input repartition, found $q91Ex exchanges")
  }

  test("q93: both windows share ONE user_id hash shuffle") {
    // lag compaction + lead chaining — Catalyst must not re-exchange
    // between them
    val q93Ex = hashExchanges(plan("q93_state_intervals"))
    assert(q93Ex == 1, s"q93: expected exactly 1 hash shuffle, found $q93Ex")
  }

  test("q96: chunk dedup never plans a global sort") {
    // the keep-first window partitions by chunk_text (hash), reassembly
    // by doc_id
    val q96Plan = plan("q96_chunk_dedup")
    assert(!q96Plan.contains("Exchange rangepartitioning"),
      "q96: a global sort appeared — window lost its hash partitioning")
  }

  test("q97: the hot-shingle exclusion is a broadcast anti-join") {
    // the hot set is vocabulary-bounded. The rare-shingle table is
    // session-STAGED (rareShinglesFor), so the registry q97 plan reads
    // the staged artifact and the anti-join lives in the BUILD — audit
    // the unstaged build seam (containmentPairs), then hold the registry
    // plan to the cartesian-free contract
    val q97Build = queries.TextOps.containmentPairs(
      Tables.documentsParallel(spark, dir).filter(col("text").isNotNull))
      .queryExecution.executedPlan.toString
    assert(q97Build.contains("BroadcastHashJoin") &&
      q97Build.contains("LeftAnti"),
      "q97: hot-shingle exclusion is not a broadcast anti-join")
    val q97Plan = plan("q97_shingle_containment")
    assert(!q97Plan.contains("CartesianProduct") &&
      !q97Build.contains("CartesianProduct"),
      "q97: containment pair generation lost its shingle equi-key")
  }

  test("q99: session window and rollup share ONE user_id shuffle") {
    val q99Ex = hashExchanges(plan("q99_session_metrics"))
    assert(q99Ex == 1, s"q99: expected exactly 1 hash shuffle, found $q99Ex")
  }

  test("q100: attribution is one window over user_id") {
    // a single shuffle, no join
    val q100Ex = hashExchanges(plan("q100_last_touch"))
    assert(q100Ex == 1,
      s"q100: expected exactly 1 hash shuffle, found $q100Ex")
  }

  test("q101: the rank state broadcasts in the build; the probe is a top-k") {
    // the registry run is a memoized PROBE (converged rank table scan +
    // top-k), so the iteration-plan laws are audited on the BUILD
    // composition (partPageRank = buildPageRankIndex → convergedRanks →
    // rankTopK, the exact chain the memo executes on a cold session):
    // the entity-sized rank state must broadcast into the CSR adjacency
    // join every iteration — the edge stream never shuffles.
    val q101Baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
      .distinct()
    val q101Exec = queries.GraphOps.partPageRank(q101Baskets)
      .queryExecution.executedPlan
    val q101Plan = q101Exec.toString
    assert(q101Plan.contains("BroadcastHashJoin"),
      "q101 build: rank state not broadcast into the adjacency join")
    assert(!q101Plan.contains("CartesianProduct"),
      "q101 build: iteration join lost its key")
    // final top-k must be the distributed partial top-k; the only Window
    // left is the post-limit rnk over ≤ 20 rows, keyed on a constant —
    // never the AllTuples single-partition shape
    assert(q101Plan.contains("TakeOrderedAndProject"),
      "q101 build: final top-k is not TakeOrderedAndProject")
    assert(partitionlessWindows(q101Exec).isEmpty,
      s"q101 build: partition-less Window: ${partitionlessWindows(q101Exec)}")
    // and the registry PROBE itself must stay probe-shaped: a scan of
    // the staged converged table + TakeOrderedAndProject, with no
    // iteration joins re-planned
    val q101ProbeExec = exec("q101_part_pagerank")
    assert(q101ProbeExec.toString.contains("TakeOrderedAndProject"),
      "q101 probe: top-k is not TakeOrderedAndProject")
    assert(partitionlessWindows(q101ProbeExec).isEmpty,
      "q101 probe: partition-less Window in probe plan")
  }

  test("q102: term table and corpus scalars ride broadcasts") {
    // scoring joins tf against the 8-row term table and the 1-row corpus
    // scalars; only the tf/dl/df aggs may shuffle
    val q102Exec = exec("q102_bm25")
    val q102Plan = q102Exec.toString
    assert(q102Plan.contains("BroadcastHashJoin"),
      "q102: term-table join is not broadcast")
    assert(!q102Plan.contains("CartesianProduct"),
      "q102: scalar attach fell back to CartesianProduct")
    // term selection over the vocabulary-sized df table must be the
    // distributed partial top-k, not a single-partition global window;
    // the only Window left is the per-token scoring rnk (partitioned)
    assert(q102Plan.contains("TakeOrderedAndProject"),
      "q102: term selection is not TakeOrderedAndProject")
    assert(partitionlessWindows(q102Exec).isEmpty,
      s"q102: partition-less Window in plan: ${partitionlessWindows(q102Exec)}")
  }

  test("q103: the labeled seed is the broadcast side") {
    // the corpus streams with no shuffle before the per-vector vote windows
    val q103Plan = plan("q103_knn_classify")
    assert(q103Plan.contains("BroadcastNestedLoopJoin"),
      "q103: seed set not broadcast")
    assert(!q103Plan.contains("CartesianProduct"),
      "q103: seed scan fell back to CartesianProduct")
  }

  test("q108: the hub-language index is the broadcast side") {
    // the non-hub corpus streams once, like q25/q89/q103
    val q108Plan = plan("q108_bitext_mining")
    assert(q108Plan.contains("BroadcastNestedLoopJoin"),
      "q108: hub index not broadcast")
    assert(!q108Plan.contains("CartesianProduct"),
      "q108: hub scan fell back to CartesianProduct")
  }

  // privacy releases are ONE hash-agg on the cell key plus per-cell
  // scalar expressions — no joins at all
  for (qn <- Seq("q104_dp_counts", "q106_kanon_release"))
    test(s"$qn: a privacy release is a pure agg") {
      val pl = plan(qn)
      assert(!pl.contains("Join"), s"$qn: unexpected join in a pure agg")
    }

  test("q105: centroids come back as a broadcast join") {
    // the scoring pass streams the corpus; only the top-k window shuffles
    val q105Plan = plan("q105_label_outliers")
    assert(q105Plan.contains("BroadcastHashJoin"),
      "q105: centroid join is not broadcast")
  }

  test("q111: the k centers ride a broadcast into assignment") {
    // k rows per vector, never a shuffled product; the suppression join
    // keeps its cluster equi-key
    val q111Plan = plan("q111_semdedup")
    assert(q111Plan.contains("BroadcastNestedLoopJoin"),
      "q111: cluster centers not broadcast into assignment")
    assert(!q111Plan.contains("CartesianProduct"),
      "q111: suppression join lost its cluster key")
    // assignment is a projection fold (CenterAssign) — the only corpus
    // exchanges left key on cluster (rep_rank window + suppression
    // join), NEVER on vec_id
    assert(!q111Plan.contains("hashpartitioning(vec_id"),
      "q111: assignment regressed to a vec_id argmin shuffle")
  }

  test("q112: pair generation is an equi-join on fingerprint") {
    // fingerprint selection is per-doc window work; buckets are
    // df-cap-bounded
    val q112Plan = plan("q112_winnowing")
    assert(!q112Plan.contains("CartesianProduct") &&
      !q112Plan.contains("BroadcastNestedLoopJoin"),
      "q112: pair generation must be an equi-join on fingerprint")
  }

  test("q113: the Zipf fit plans no join") {
    // one corpus-sized (source, token) agg; the fit itself is a
    // per-source agg over <=100 rows
    val q113Plan = plan("q113_zipf_slope")
    assert(!q113Plan.contains("Join"), "q113: unexpected join in a pure agg")
  }

  test("q116: candidate proposal and verification stay equi-keyed") {
    // fingerprint buckets, then (doc, shingle) keys — a cartesian or
    // non-equi fallback means the blocker stopped blocking
    val q116Exec = exec("q116_winnowed_containment")
    assert(!q116Exec.toString.contains("CartesianProduct") &&
      !q116Exec.toString.contains("BroadcastNestedLoopJoin"),
      "q116: verification must stay equi-keyed")
  }

  test("q117: merge rounds never plan a partition-less window") {
    // every learning round is a TakeOrderedAndProject over the
    // vocabulary agg — never a global sort or partition-less window
    val q117Exec = SparkEntry.queries("q117_bpe_merges")(spark, dir)
    assert(partitionlessWindows(
      q117Exec.queryExecution.executedPlan).isEmpty,
      "q117: partition-less window in merge output")
  }

  test("q118: model joins are equi-keyed; only the V scalar is a broadcast NLJ") {
    // scoring must not cartesian
    val q118Plan = plan("q118_lm_score")
    assert(!q118Plan.contains("CartesianProduct"),
      "q118: scalar attach fell back to CartesianProduct")
    assert(q118Plan.contains("BroadcastNestedLoopJoin"),
      "q118: V scalar should be a broadcast attach")
  }

  test("q119: application is expression-only") {
    // the packing window (keyed on source) must be the ONLY window, and
    // no partition-less one
    val q119Exec = exec("q119_subword_pack")
    assert(partitionlessWindows(q119Exec).isEmpty,
      "q119: packing window lost its source key")
    assert(!q119Exec.toString.contains("CartesianProduct"),
      "q119: unexpected cartesian in expression-only application")
  }

  test("q120: encoding rides a 1-row broadcast stat attach") {
    // the corpus side must never shuffle-join (no SMJ/shuffled-hash), and
    // the attach is the scalar BroadcastNestedLoopJoin pattern (q118)
    val q120Plan = plan("q120_embed_quantize")
    assert(q120Plan.contains("BroadcastNestedLoopJoin"),
      "q120: stat attach should be a 1-row broadcast")
    assert(!q120Plan.contains("SortMergeJoin") &&
      !q120Plan.contains("ShuffledHashJoin"),
      "q120: corpus side must not shuffle-join")
  }

  test("q121: candidate generation is a distributed partial top-k") {
    // TakeOrderedAndProject, never a global sort or partition-less
    // window — the greedy consumes only the bounded candidate table
    val q121Cands = queries.Quantize.mmrCandidateQuery(spark, dir)
      .queryExecution.executedPlan
    assert(q121Cands.toString.contains("TakeOrderedAndProject"),
      "q121: candidate top-k must be TakeOrderedAndProject")
    assert(partitionlessWindows(q121Cands).isEmpty,
      "q121: partition-less window in candidate generation")
  }

  test("q122: the postings window and final agg share one exchange") {
    // the tf agg is one shuffle, then the (token, segment) window and
    // final agg SHARE keys so their sorted exchange plans once — two
    // hash exchanges total, keyed windows only
    val q122Exec = exec("q122_inverted_postings")
    val q122Ex = hashExchanges(q122Exec.toString)
    assert(q122Ex <= 2,
      s"q122: expected <=2 hash shuffles (tf agg + shared window/agg key), found $q122Ex")
    assert(partitionlessWindows(q122Exec).isEmpty,
      "q122: postings window lost its (token, segment) key")
  }

  test("q123: projection is a pure expression chain") {
    val q123Plan = plan("q123_jl_project")
    assert(!q123Plan.contains("Exchange hashpartitioning") &&
      !q123Plan.contains("Join"),
      "q123: projection must stay shuffle- and join-free")
  }

  test("q124: the touched-key restriction is a broadcast semi-join") {
    // applied to the tf stream — a shuffled semi-join would move the
    // corpus to restrict it, defeating the incremental claim
    val q124Plan = plan("q124_incremental_postings")
    assert(q124Plan.contains("BroadcastHashJoin") &&
      q124Plan.contains("LeftSemi"),
      "q124: touched-key restriction is not a broadcast semi-join")
    assert(!q124Plan.contains("SortMergeJoin"),
      "q124: corpus-side shuffle join defeats incremental maintenance")
  }

  test("q151: the corpus shingle stream is restricted by a broadcast semi-join") {
    // the incremental-curation dedup arm restricts the CORPUS by the
    // broadcast batch-bounded touched (source, shingle) set (the q124
    // recipe at pipeline scale) — audited on the dedup stage in
    // isolation, where the LeftSemi is unambiguous
    val docsAll = Tables.documentsParallel(spark, dir)
    val q151Dedup = queries.PipelineOps.dedupAgainst(
      docsAll.filter(col("doc_id") % 10 === 7),
      docsAll.filter(col("doc_id") % 10 =!= 7),
      0.5, restrictCorpus = true).queryExecution.executedPlan.toString
    assert(q151Dedup.contains("BroadcastHashJoin") &&
      q151Dedup.contains("LeftSemi"),
      "q151: corpus-side touched-key restriction is not a broadcast semi-join")
  }

  test("q125: the k-row class table rides a broadcast") {
    // into the token stream; nothing data-sized is broadcast-hinted (the
    // cc model join is left to AQE — a web-scale vocabulary must be free
    // to shuffle)
    val q125Plan = plan("q125_nb_langid")
    assert(q125Plan.contains("BroadcastNestedLoopJoin") ||
      q125Plan.contains("BroadcastHashJoin"),
      "q125: class stats must ride a broadcast")
    assert(!q125Plan.contains("CartesianProduct"),
      "q125: the k-class expansion must never plan a cartesian")
  }

  test("q126: assignment broadcasts the centers and is exchange-free") {
    // a shuffled assignment would move the corpus once per round. The
    // final assignment (what the registry plan shows) is a zero-exchange
    // projection fold (CenterAssign) — the packed-centers side may
    // exchange its k rows to a single partition, but the corpus side
    // must plan NO hash exchange at all
    val q126Plan = plan("q126_kmeans")
    assert(q126Plan.contains("BroadcastNestedLoopJoin"),
      "q126: center assignment is not a broadcast join")
    assert(!q126Plan.contains("CartesianProduct"),
      "q126: assignment must never plan a cartesian")
    assert(!q126Plan.contains("Exchange hashpartitioning"),
      "q126: assignment must be exchange-free (the window-argmin shuffle is back)")
  }

  test("q128: the boilerplate gram drop is an equi-keyed anti-join") {
    // its strategy is AQE's call (the hot set grows with the corpus —
    // boilerplate is corpus-proportional, NOT vocabulary-bounded — so a
    // forced broadcast was a driver-OOM risk at scale); the islands
    // window must be partitioned (diagonal keys), never global. The span
    // table is session-staged, so the anti-join lives in the BUILD —
    // audit duplicateSpans directly, hold the registry plan to the
    // cartesian-free contract
    val q128Build = queries.SubstrDedup.duplicateSpans(
      Tables.documentsParallel(spark, dir))
      .queryExecution.executedPlan.toString
    assert(q128Build.contains("LeftAnti"),
      "q128: hot-gram drop lost its anti-join")
    assert(!q128Build.contains("CartesianProduct") &&
      !q128Build.contains("BroadcastNestedLoopJoin"),
      "q128: hot-gram drop must stay equi-keyed")
    val q128Plan = plan("q128_exact_substr")
    assert(!q128Plan.contains("CartesianProduct") &&
      !q128Plan.contains("BroadcastNestedLoopJoin"),
      "q128: registry plan must stay equi-keyed")
    assert(!q128Plan.contains("Window [") ||
      q128Plan.linesIterator.filter(_.contains("Window "))
        .forall(_.contains("windowspecdefinition")),
      "q128: unexpected window shape")
  }

  test("q130: both triangle-count joins are equi-keyed") {
    // wedge build, closing semi — degree ordering exists precisely so no
    // step needs a cartesian or a global sort. The counts are
    // session-staged (the registry q130 is a scan of the landed
    // artifact), so audit the BUILD via the unstaged public seam
    val q130Build = queries.GraphOps.triangleCounts(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("part")))
      .queryExecution.executedPlan.toString
    assert(!q130Build.contains("CartesianProduct"),
      "q130: triangle counting must stay equi-join only")
    assert(q130Build.contains("LeftSemi"),
      "q130: wedge closing must be a semi-join")
  }

  test("q135: PQ encoding is a zero-exchange fold against one broadcast codebook") {
    // the only exchange in the plan is the fixture-parallelism
    // round-robin shim. The code table is session-staged — the registry
    // q135 is a scan of the landed artifact; audit the ENCODE build seam
    // directly, and hold the registry plan to scan-shaped
    val embSrc = Tables.embeddingsParallel(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val q135Build = queries.PQuant.encode(embSrc,
      queries.PQuant.pqCodebooks(embSrc))
      .queryExecution.executedPlan.toString
    assert(q135Build.contains("BroadcastNestedLoopJoin"),
      "q135: codebook attach is not a broadcast join")
    assert(!q135Build.contains("CartesianProduct"),
      "q135: encode must never plan a cartesian")
    assert(!q135Build.contains("Exchange hashpartitioning"),
      "q135: encode must be exchange-free")
    val q135Plan = plan("q135_pq_codes")
    assert(!q135Plan.contains("Exchange hashpartitioning") &&
      !q135Plan.contains("CartesianProduct"),
      "q135: staged-code scan must stay exchange-free")
  }

  test("q136: ADC scoring adds exactly the qid rank-window exchange") {
    val q136Plan = plan("q136_pq_ann")
    val q136Ex = hashExchanges(q136Plan)
    assert(q136Ex == 1,
      s"q136: expected exactly the qid rank-window exchange, found $q136Ex")
    assert(!q136Plan.contains("CartesianProduct"),
      "q136: ADC scoring must never plan a cartesian")
  }

  test("q137: IVF-PQ adds exactly one more qid window than q136") {
    // probe selection on qid + final top-k on qid; the candidate side
    // stays codes-only broadcast scans — no corpus-keyed exchange anywhere
    val q137Plan = plan("q137_ivfpq_ann")
    val q137Ex = hashExchanges(q137Plan)
    assert(q137Ex == 2,
      s"q137: expected the probe + top-k qid windows only, found $q137Ex")
    assert(!q137Plan.contains("CartesianProduct"),
      "q137: IVF-PQ must never plan a cartesian")
  }

  test("q138: the rerank tier fetches raw embeddings by broadcast") {
    // broadcast joins of the constant-sized shortlist — a corpus-side
    // shuffle join would defeat the two-tier design
    val q138Plan = plan("q138_pq_rerank")
    assert(!q138Plan.contains("SortMergeJoin"),
      "q138: rerank fetch must not shuffle the corpus")
    assert(!q138Plan.contains("CartesianProduct"),
      "q138: rerank must never plan a cartesian")
  }

  test("q139: the skyline stays the banded prefix-scan") {
    // an equi (d1,d2) verdict hash-join plus a band-PARTITIONED window;
    // the naive O(n²) shape would surface as a nested-loop/cartesian, and
    // a partition-less window would mean the global-sort sweep crept in
    val q139Exec = exec("q139_skyline")
    val q139Plan = q139Exec.toString
    assert(!q139Plan.contains("CartesianProduct") &&
      !q139Plan.contains("BroadcastNestedLoopJoin"),
      "q139: skyline fell back to the O(n²) dominance join")
    assert(partitionlessWindows(q139Exec).isEmpty,
      "q139: global-sort sweep crept in (partition-less window)")
  }

  test("q141: the per-round label argmax is a hash agg") {
    // never a rank window (no sort in the iteration hot loop). The
    // registry entry only exposes the final staged scan, so audit the
    // ROUND plan directly on an in-memory graph.
    val lpaEdges = spark.range(1, 8).selectExpr("id AS src", "id+1 AS dst")
    val lpaLabels = spark.range(1, 9).selectExpr("id AS node", "id AS label")
    val q141Plan = queries.GraphOps.lpaRound(lpaEdges, lpaLabels)
      .queryExecution.executedPlan.toString
    assert(!q141Plan.contains("Window"),
      "q141: per-node argmax planned a window instead of max(struct)")
    // (SMJ vs BHJ is a size call — either is fine; the shuffle is the
    // node-sized label state, never the edge stream)
    assert(!q141Plan.contains("CartesianProduct"),
      "q141: round label-carry join must stay equi-keyed")
  }

  test("q142: rule scoring joins stay equi-keyed") {
    // N rides a broadcast 1-row cross join (the only nested-loop allowed)
    val q142Plan = plan("q142_assoc_rules")
    assert(!q142Plan.contains("CartesianProduct"),
      "q142: association rules must never plan a cartesian")
  }

  test("q205: the top-10 is TakeOrderedAndProject and all filters push down") {
    // per-partition top-k + driver merge, never a global Sort; all three
    // filters reach their scans as PushedFilters
    val q205Plan = plan("q205_shipping_priority")
    assert(q205Plan.contains("TakeOrderedAndProject"),
      "q205: top-10 planned a global sort instead of TakeOrdered")
    assert(q205Plan.contains("PushedFilters: [IsNotNull(c_mktsegment), " +
      "EqualTo(c_mktsegment,BUILDING)")
      || q205Plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      "q205: segment filter did not reach the customer scan")
    assert(q205Plan.contains("LessThan(o_orderdate")
      && q205Plan.contains("GreaterThan(l_shipdate"),
      "q205: date filters did not reach the orders/lineitem scans")
  }

  test("q206: region and nation ride broadcasts; locality stays an equi-condition") {
    // never a post-filter (no cartesian, no nested loop)
    val q206Plan = plan("q206_local_supplier_volume")
    assert(q206Plan.contains("BroadcastHashJoin"),
      "q206: dim joins lost their broadcast")
    assert(!q206Plan.contains("CartesianProduct") &&
      !q206Plan.contains("BroadcastNestedLoopJoin"),
      "q206: locality predicate fell out of the equi-join")
  }

  test("q220: the pair-IN filters reach the scans") {
    // nation prunes before its broadcast; the lineitem date range prunes
    // the fact scan; the cross-side inequality never degrades the joins
    // to a nested-loop or cartesian
    val q220Plan = plan("q220_nation_pair_trade")
    assert(q220Plan.contains("In(n_name"),
      "q220: nation pair IN filter did not reach the nation scan")
    assert(q220Plan.contains("GreaterThanOrEqual(l_shipdate")
      && q220Plan.contains("LessThan(l_shipdate"),
      "q220: ship-date range did not reach the lineitem scan")
    assert(!q220Plan.contains("CartesianProduct") &&
      !q220Plan.contains("BroadcastNestedLoopJoin"),
      "q220: pair disjunction degraded a join")
  }

  test("q221: the HAVING-max decorrelation broadcasts a 1-row max") {
    // no global sort; the max rides back over the per-supplier agg
    val q221Plan = plan("q221_top_supplier")
    assert(!q221Plan.contains("Sort "),
      "q221: scalar-max decorrelation planned a sort")
    assert(q221Plan.contains("BroadcastHashJoin"),
      "q221: global max did not broadcast back")
  }

  test("q223: the top-100 is TakeOrderedAndProject") {
    // and the qty HAVING agg runs before the dimension joins
    val q223Plan = plan("q223_large_volume_customers")
    assert(q223Plan.contains("TakeOrderedAndProject"),
      "q223: top-100 planned a global sort instead of TakeOrdered")
  }

  test("q224: the per-side disjunction envelopes reach both scans") {
    // even though the exact OR references both join sides
    val q224Plan = plan("q224_disjunctive_revenue")
    assert(q224Plan.contains("In(p_brand"),
      "q224: brand-union envelope did not reach the part scan")
    assert(q224Plan.contains("GreaterThanOrEqual(l_quantity")
      && q224Plan.contains("LessThanOrEqual(l_quantity"),
      "q224: quantity envelope did not reach the lineitem scan")
  }

  test("q225: NOT EXISTS plans a left-anti join after the date pushdown") {
    val q225Plan = plan("q225_dormant_customers")
    assert(q225Plan.contains("LeftAnti"),
      "q225: NOT EXISTS did not plan a left-anti join")
    assert(q225Plan.contains("GreaterThanOrEqual(o_orderdate"),
      "q225: date filter did not reach the orders scan")
  }

  test("q238: membership is one fused broadcast-bitmap probe") {
    // the d semi-join probes are FUSED into one broadcast bitmap row
    // tested with element_at shift/AND — the fact side must plan NO join
    // at all for membership (no LeftSemi anywhere), only the single
    // broadcast left-outer verification; still no sort-merge and no
    // cartesian (the 1-row bitmap rides a broadcast nested-loop, which
    // is not a CartesianProduct node)
    val q238Plan = plan("q238_bloom_semijoin")
    val q238Semis = q238Plan.linesIterator.count(_.contains("LeftSemi"))
    val q238Truth = q238Plan.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftOuter"))
    val q238Bitmap = q238Plan.linesIterator.count(l =>
      l.contains("element_at") && l.contains("shiftleft"))
    assert(q238Semis == 0,
      s"q238: membership must be the fused bitmap test, found " +
        s"$q238Semis semi-join probes")
    assert(q238Bitmap >= 1,
      "q238: the broadcast-bitmap element_at/shiftleft probe is missing")
    assert(q238Truth >= 1,
      "q238: the verification must be ONE broadcast left-outer marked " +
        "join (a semi branch would re-run the whole probe chain)")
    assert(!q238Plan.contains("SortMergeJoin"),
      "q238: a bloom probe fell back to a sort-merge join")
    assert(!q238Plan.contains("CartesianProduct"),
      "q238: bloom probe planned a cartesian")
  }
}
