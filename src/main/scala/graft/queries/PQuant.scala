package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.VectorFunctions

/** Product quantization ANN (SURVEY.md §2.8, round-10): Jégou, Douze &
  * Schmid 2011, "Product Quantization for Nearest Neighbor Search" —
  * the standard memory-bounded retrieval tier between q120's int8
  * scalar codes and q48's IVF. A d-dim vector is split into `mSub`
  * subvectors; each subspace gets its own tiny k-means codebook
  * (trained jointly — ONE corpus scan per Lloyd round covers all
  * subspaces); a vector is stored as `mSub` small codes (4 bytes here
  * vs 256 for the raw floats). A query never touches raw vectors:
  * per-subspace distances to every codeword form a k·mSub lookup
  * table, and the asymmetric distance (ADC) of any candidate is the
  * index-ordered sum of `mSub` table entries keyed by its codes.
  *
  * Scale shape (100 TB): training collects k·d doubles per round (the
  * q126 bounded-collect contract — k, mSub, d are operator constants);
  * encoding is a ZERO-exchange projection fold against one broadcast
  * codebook row (the CenterAssign recipe, subspace-aware —
  * PlanShapeSpec-asserted); ADC scoring is another zero-exchange scan
  * whose per-row work is mSub array lookups, with the per-query top-k
  * as the only rank window. The codes table is 64× smaller than the
  * raw store — the artifact that actually fits executor memory when
  * the raw 100 TB cannot.
  *
  * Parity recipes (all inherited, hash-proven): squared-L2 is the
  * pinned index-ordered double fold (q25/q126); centroid means use
  * q66's exact-decimal sums; argmin ties resolve to the lowest
  * center_id (strict-min fold ≡ the oracle's `dist ASC, center_id ASC`
  * row_number); the ADC sum is an index-ordered fold over subspaces on
  * both engines (q120's list_sum shape).
  */
object PQuant {

  private[graft] val mSub = 4     // subspaces
  private[graft] val subDim = 16  // dims per subspace (64 / mSub)
  private[graft] val kCodes = 8   // codewords per subspace
  private[graft] val pqIters = 2  // Lloyd rounds per codebook
  private val nQ = 3                // ADC query vectors: vec_id < nQ
  private val topN = 10             // neighbors returned per query

  /** Session-memoized trained codebooks per corpus path — the q48
    * build/probe seam applied to the PQ family: pqCodebooks trains
    * EAGERLY (bounded Lloyd, driver collects) and returns a
    * driver-local relation, so memoizing the returned frame amortizes
    * the whole training across q135/q136/q138 and repeat invocations. */
  private def booksFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"pq-books|$dir") {
      pqCodebooks(src(spark, dir))
    }

  /** Session-memoized STAGED codes table (vec_id, codes) — the one-pass
    * corpus encode lands once; the ADC candidate side then scans the
    * 64×-smaller codes parquet instead of re-running the argmin
    * projection over raw floats per invocation. */
  private def codesFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"pq-codes|$dir") {
      graft.operators.Stage.materialize(
        withCodes(src(spark, dir), booksFor(spark, dir))
          .select(col("vec_id"), col("codes")), "pq-codes")
    }

  /** Session-memoized IVF-PQ index: coarse centers (driver-local),
    * residual codebooks (driver-local), and the STAGED
    * (vec_id, cell, codes) table — q137's build half; its run probes. */
  private def ivfPqIndexFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    graft.operators.SessionCache.memoOn(spark, dir, s"ivfpq-index|$dir") {
      val e = src(spark, dir)
      val coarse = Learn.kmeansCenters(e, k = ivfCells, iters = ivfIters)
      val asg = CenterAssign.withNearest(e, coarse)
        .select(col("vec_id"), col("embedding"), col("cluster").as("cell"))
      val resid = asg.join(broadcast(coarse
          .select(col("center_id").as("cell"), col("centroid"))), Seq("cell"))
        .select(col("vec_id"), col("cell"), expr(
          "zip_with(embedding, centroid, (v, m) -> CAST(v AS DOUBLE) - m)")
          .as("embedding"))
      val books = pqCodebooks(resid.select(col("vec_id"), col("embedding")))
      val codes = graft.operators.Stage.materialize(
        withCodes(resid, books)
          .select(col("vec_id"), col("cell"), col("codes")), "ivfpq-codes")
      (coarse, books, codes)
    }

  private def src(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddingsParallel(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))

  /** Pack a (s, center_id, centroid) codebook table into ONE broadcast
    * row: the (s, center_id)-sorted `cents` array — mSub·k·subDim
    * doubles, always broadcastable (all three are operator constants). */
  private def packCodebooks(centers: DataFrame): DataFrame =
    centers.groupBy()
      .agg(expr("array_sort(collect_list(" +
        "named_struct('s', s, 'center_id', center_id, 'centroid', centroid)))")
        .as("cents"))

  // per (vec_id, s) nearest-codeword assignment for the TRAINING loop:
  // score every codeword of this row's subspace (index-ordered squared-L2
  // fold), keep the first strict minimum — ties to the lowest center_id.
  private val subScoredExpr =
    "transform(filter(cents, c -> c.s = s), c -> named_struct(" +
      "'cluster', c.center_id," +
      "'dist_sq', aggregate(zip_with(subvec, c.centroid," +
      " (v, m) -> (v - m) * (v - m))," +
      " CAST(0 AS DOUBLE), (acc, x) -> acc + x)))"
  private val bestExpr =
    "aggregate(dscored, dscored[0]," +
      " (best, t) -> IF(t.dist_sq < best.dist_sq, t, best))"

  /** One (vec_id, s, subvec: array<double>) row per subspace — a narrow
    * explode (no shuffle); the training loop's working frame. */
  private def subFrame(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(expr(
          s"transform(sequence(0, ${mSub - 1}), s -> named_struct(" +
            s"'s', s, 'subvec', transform(slice(embedding, s * $subDim + 1," +
            s" $subDim), x -> CAST(x AS DOUBLE))))")).as("sc"))
      .select(col("vec_id"), col("sc.s").as("s"), col("sc.subvec").as("subvec"))

  /** Train the mSub codebooks jointly: deterministic seeds (the k lowest
    * vec_ids, sliced per subspace), then `pqIters` Lloyd rounds where
    * ONE corpus scan assigns every (vec_id, s) cell (zero-exchange
    * projection fold) and the (s, cluster, pos) exact-decimal mean agg —
    * mSub·k·subDim keys, map-side combined — is the round's only
    * shuffle. The driver collects ≤ mSub·k·subDim mean rows per round
    * (512 here — the bounded-collect contract). An empty (s, cluster)
    * drops out of the next round on both engines (standard Lloyd).
    * Returns the driver-local (s, center_id, centroid) codebook frame —
    * save/load-trivial and reusable across streaming micro-batches. */
  def pqCodebooks(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val sub = subFrame(e)
    val seeds = e.orderBy(col("vec_id").asc).limit(kCodes)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .sortBy(_.getLong(0))
      .zipWithIndex
    var centers = seeds.toSeq.flatMap { case (r, i) =>
      val emb = r.getSeq[Double](1)
      (0 until mSub).map(s => (s, i, emb.slice(s * subDim, (s + 1) * subDim)))
    }.toDF("s", "center_id", "centroid")
    for (_ <- 1 to pqIters) {
      val means = sub.crossJoin(broadcast(packCodebooks(centers)))
        .withColumn("dscored", expr(subScoredExpr))
        .withColumn("best", expr(bestExpr))
        .select(col("s"), col("best.cluster").as("cluster"),
          posexplode(col("subvec")).as(Seq("pos", "v")))
        .groupBy(col("s"), col("cluster"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(20,10)")).cast("double").as("sum_v"))
        .select(col("s"), col("cluster"), col("pos"),
          (col("sum_v") / col("n")).as("m"))
        .collect()
      centers = means
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((s, cid), rows) =>
          (s, cid, rows.sortBy(_.getInt(2)).map(_.getDouble(3)))
        }
        .toSeq.sortBy(t => (t._1, t._2))
        .toDF("s", "center_id", "centroid")
    }
    centers
  }

  /** Append a `codes` array<int> column (one code per subspace, in
    * subspace order) to `e` — ZERO exchanges: one broadcast codebook
    * row, argmin as a pure projection fold per subspace. */
  def withCodes(e: DataFrame, codebooks: DataFrame): DataFrame =
    e.crossJoin(broadcast(packCodebooks(codebooks)))
      .withColumn("scored", expr(
        s"transform(sequence(0, ${mSub - 1}), s ->" +
          " transform(filter(cents, c -> c.s = s), c -> named_struct(" +
          "'cluster', c.center_id," +
          s"'dist_sq', aggregate(zip_with(transform(slice(embedding," +
          s" s * $subDim + 1, $subDim), x -> CAST(x AS DOUBLE)), c.centroid," +
          " (v, m) -> (v - m) * (v - m))," +
          " CAST(0 AS DOUBLE), (acc, x) -> acc + x))))"))
      .withColumn("codes", expr(
        "transform(transform(scored, sc -> aggregate(sc, sc[0]," +
          " (best, t) -> IF(t.dist_sq < best.dist_sq, t, best)))," +
          " b -> b.cluster)"))
      .drop("cents", "scored")

  /** The q135 output shape over any (vec_id, embedding) frame and a
    * trained codebook: one comma-joined code word per vector (q120's
    * hashable shape). Zero-exchange scan. */
  def encode(e: DataFrame, codebooks: DataFrame): DataFrame =
    withCodes(e, codebooks).select(col("vec_id"),
      concat_ws(",", expr("transform(codes, c -> CAST(c AS STRING))"))
        .as("codes"))

  /** q135 — PQ encode: train the codebooks, emit every vector's code
    * word (comma-joined, q120's hashable shape). The hash gate on this
    * output transitively pins the whole training loop — seeds, both
    * Lloyd rounds, the exact-decimal means — on both engines. */
  val q135: Q = Q(
    "q135_pq_codes",
    run = { (spark, dir) =>
      codesFor(spark, dir).select(col("vec_id"),
        concat_ws(",", expr("transform(codes, c -> CAST(c AS STRING))"))
          .as("codes"))
    },
    oracle = Some(s"""
      $pqCtes
      SELECT vec_id,
        array_to_string(list(CAST(code AS VARCHAR) ORDER BY s), ',') AS codes
      FROM codes GROUP BY vec_id"""))

  /** q136 — PQ asymmetric-distance top-k: for each query vector
    * (vec_id < $nQ), build the per-subspace lookup table of squared-L2
    * distances to every codeword (one tiny broadcast row per query),
    * then score every candidate by summing its mSub table entries in
    * subspace order and keep the top-$topN (ties to the lowest
    * neighbor id). The raw embedding column never appears on the
    * candidate side — the memory story that lets the index scan run
    * where the raw store cannot. */
  /** The q136 scoring half over any (vec_id, embedding) frame and a
    * trained codebook: per-query codeword lookup tables, ADC scores
    * over the codes-only candidate side, per-query top-`n` (q138 raises
    * `n` to the rerank shortlist depth). */
  def adcTopK(e: DataFrame, books: DataFrame, n: Int = topN): DataFrame =
    adcTopKFromCodes(e, books,
      withCodes(e, books).select(col("vec_id"), col("codes")), n)

  /** The q136 scoring half over an already-encoded candidate side
    * (vec_id, codes) — what the registry runs against the session-
    * staged codes table. */
  def adcTopKFromCodes(e: DataFrame, books: DataFrame, codes: DataFrame,
      n: Int = topN): DataFrame = {
    val lut = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .crossJoin(broadcast(packCodebooks(books)))
      .select(col("qid"), expr(
        s"transform(cents, c -> named_struct('s', c.s, 'cid', c.center_id," +
          s"'d', aggregate(zip_with(transform(slice(qemb," +
          s" c.s * $subDim + 1, $subDim), x -> CAST(x AS DOUBLE))," +
          " c.centroid, (v, m) -> (v - m) * (v - m))," +
          " CAST(0 AS DOUBLE), (acc, x) -> acc + x)))").as("luts"))
    codes.select(col("vec_id"), col("codes"))
      .crossJoin(broadcast(lut))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), expr(
        // the 1-element filter sum extracts this subspace's table
        // entry; the outer fold sums the mSub entries in index order
        "aggregate(transform(codes, (code, s) ->" +
          " aggregate(filter(luts, l -> l.s = s AND l.cid = code)," +
          " CAST(0 AS DOUBLE), (acc, l) -> acc + l.d))," +
          " CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("adc"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").asc, col("nid").asc)))
      .filter(col("rnk") <= n)
  }

  val q136: Q = Q(
    "q136_pq_ann",
    run = { (spark, dir) =>
      adcTopKFromCodes(src(spark, dir), booksFor(spark, dir),
        codesFor(spark, dir))
    },
    oracle = Some(s"""
      $pqCtes,
      $adcOracleCtes
      SELECT qid, nid, adc, rnk FROM r WHERE rnk <= $topN"""))

  /** The q136 ADC scoring CTEs (query slicing → lookup tables → ADC
    * rank `r`), shared with q138's shortlist stage. Assumes the
    * unprefixed [[pqCteChain]] relations (e, ss, codes, cent·). */
  private def adcOracleCtes: String =
    s"""q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < $nQ),
      qsub AS (SELECT qid, s,
                 list_slice(qemb, s * $subDim + 1, s * $subDim + $subDim)
                   AS qsubvec
               FROM q, ss),
      lut AS MATERIALIZED (
        SELECT qs.qid, c.s, c.center_id,
          list_sum(list_transform(list_zip(qs.qsubvec, c.centroid),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
        FROM qsub qs JOIN cent$pqIters c ON c.s = qs.s),
      g AS (SELECT l.qid, cd.vec_id, list(l.d ORDER BY l.s) AS dl
            FROM codes cd
            JOIN lut l ON l.s = cd.s AND l.center_id = cd.code
            WHERE cd.vec_id <> l.qid
            GROUP BY l.qid, cd.vec_id),
      r AS (SELECT qid, vec_id AS nid, CAST(list_sum(dl) AS DOUBLE) AS adc,
              CAST(row_number() OVER (PARTITION BY qid
                ORDER BY list_sum(dl) ASC, vec_id ASC) AS INTEGER) AS rnk
            FROM g)"""

  /** The PQ oracle chain as a WITH-less CTE list over any relation
    * `src` exposing (vec_id, emb DOUBLE[]), every name prefixed `p` so
    * two chains (or a chain after the q48/q126 Lloyd CTEs) compose in
    * one query — q137's IVF-PQ oracle runs this over the residual
    * relation with prefix "r". Contents: subspace slicing,
    * deterministic seeds, `pqIters` generated Lloyd rounds (the q126
    * iterative-CTE recipe with a subspace key threaded through every
    * stage), and the final per-(vec_id, s) code assignment. */
  private[queries] def pqCteChain(src: String, p: String): String = {
    val rounds = (1 to pqIters).map { i =>
      s"""${p}a$i AS MATERIALIZED (
         |        SELECT vec_id, s, cluster, subvec FROM (
         |          SELECT b.vec_id, b.s, c.center_id AS cluster, b.subvec,
         |            row_number() OVER (PARTITION BY b.vec_id, b.s
         |              ORDER BY list_sum(list_transform(
         |                list_zip(b.subvec, c.centroid),
         |                x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
         |                c.center_id ASC) AS arnk
         |          FROM ${p}sub b JOIN ${p}cent${i - 1} c ON c.s = b.s)
         |        WHERE arnk = 1),
         |      ${p}c$i AS MATERIALIZED (
         |        SELECT s, cluster, CAST(pos AS INTEGER) AS pos,
         |          CAST(count(*) AS BIGINT) AS n,
         |          sum(CAST(subvec[pos + 1] AS DECIMAL(20,10))) AS sum_dec
         |        FROM (SELECT s, cluster, subvec,
         |                unnest(generate_series(0, len(subvec) - 1)) AS pos
         |              FROM ${p}a$i)
         |        GROUP BY s, cluster, pos),
         |      ${p}cent$i AS MATERIALIZED (
         |        SELECT s, cluster AS center_id,
         |          list(CAST(CAST(sum_dec AS VARCHAR) AS DOUBLE) / n
         |            ORDER BY pos) AS centroid
         |        FROM ${p}c$i GROUP BY s, cluster)""".stripMargin
    }.mkString(",\n      ")
    s"""${p}ss AS (SELECT unnest(generate_series(0, ${mSub - 1})) AS s),
      ${p}sub AS (SELECT vec_id, s,
                list_slice(emb, s * $subDim + 1, s * $subDim + $subDim)
                  AS subvec
              FROM $src, ${p}ss),
      ${p}cent0 AS MATERIALIZED (
        SELECT s,
          CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id ASC) - 1
            AS INTEGER) AS center_id,
          subvec AS centroid
        FROM ${p}sub WHERE vec_id IN
          (SELECT vec_id FROM $src ORDER BY vec_id ASC LIMIT $kCodes)),
      $rounds,
      ${p}codes AS MATERIALIZED (
        SELECT vec_id, s, cluster AS code FROM (
          SELECT b.vec_id, b.s, c.center_id AS cluster,
            row_number() OVER (PARTITION BY b.vec_id, b.s
              ORDER BY list_sum(list_transform(
                list_zip(b.subvec, c.centroid),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
                c.center_id ASC) AS arnk
          FROM ${p}sub b JOIN ${p}cent$pqIters c ON c.s = b.s)
        WHERE arnk = 1)"""
  }

  /** The q135/q136 oracle prelude: the chain over the raw embedding
    * store, unprefixed. */
  private def pqCtes: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                 WHERE embedding IS NOT NULL),
      ${pqCteChain("e", "")}"""

  // ---------------------------------------------------------------- q137

  private[graft] val ivfCells = 16 // coarse-quantizer cells (q48's shape)
  private[graft] val ivfIters = 4  // coarse Lloyd rounds
  private[graft] val nProbe = 4    // probed cells per query

  /** q137 — IVF-PQ ANN (Jégou, Douze & Schmid 2011 §IV — the composed
    * index production vector search actually ships, e.g. FAISS
    * `IVFx,PQy`): a coarse quantizer (q48's deterministic Lloyd cells)
    * routes every vector to a cell, and PQ codes the RESIDUAL
    * (vector − cell centroid) — residuals are smaller and more
    * isotropic than raw vectors, so the same 4-byte budget quantizes
    * them with far less error. A query probes its `nProbe` nearest
    * cells; within each probed cell the ADC tables are built from the
    * QUERY RESIDUAL against that cell's centroid, and candidates are
    * ranked by the same mSub-entry lookup sum as q136 — reading only
    * (cell, codes), never the raw store.
    *
    * Scale shape: coarse train + PQ train are both bounded-collect
    * Lloyd loops (one corpus scan per round each); encode is one
    * zero-exchange scan producing the 5-byte-per-vector index; query
    * scans only probed cells (expected nProbe/nCells of the codes
    * table — itself 64× smaller than the raw store). Everything
    * deterministic, so the ENTIRE build/probe/rank replays in the
    * DuckDB oracle: the q48 Lloyd CTEs, a residual CTE, the PQ chain
    * over residuals ([[pqCteChain]] prefix "r"), and the per-probe
    * lookup join — one generated query, a true hash gate. */
  val q137: Q = Q(
    "q137_ivfpq_ann",
    run = { (spark, dir) =>
      val e = src(spark, dir)
      val (coarse, books, codes) = ivfPqIndexFor(spark, dir)
      val q = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      val probes = q.crossJoin(broadcast(coarse
          .select(col("center_id").as("pcell"), col("centroid").as("ccent"))))
        .withColumn("pdist", VectorFunctions.sqL2("qemb", "ccent"))
        .withColumn("prnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("pdist").asc, col("pcell").asc)))
        .filter(col("prnk") <= nProbe)
        .select(col("qid"), col("qemb"), col("pcell"), col("ccent"))
      // per-(query, probed cell) lookup tables over the QUERY RESIDUAL
      val lut = probes.crossJoin(broadcast(packCodebooks(books)))
        .select(col("qid"), col("pcell"), expr(
          s"transform(cents, c -> named_struct('s', c.s, 'cid', c.center_id," +
            s"'d', aggregate(zip_with(slice(zip_with(qemb, ccent," +
            " (v, m) -> CAST(v AS DOUBLE) - m)," +
            s" c.s * $subDim + 1, $subDim), c.centroid," +
            " (v, m) -> (v - m) * (v - m))," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x)))").as("luts"))
      codes.crossJoin(broadcast(lut))
        .filter(col("cell") === col("pcell") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"), expr(
          "aggregate(transform(codes, (code, s) ->" +
            " aggregate(filter(luts, l -> l.s = s AND l.cid = code)," +
            " CAST(0 AS DOUBLE), (acc, l) -> acc + l.d))," +
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("adc"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("adc").asc, col("nid").asc)))
        .filter(col("rnk") <= topN)
    },
    oracle = Some(s"""
      ${Learn.kmeansCtesFor(ivfCells, ivfIters)},
      fin AS MATERIALIZED (
        SELECT vec_id, cluster AS cell FROM (
          SELECT e.vec_id, c.center_id AS cluster,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_sum(list_transform(
                list_zip(e.embedding::DOUBLE[], c.centroid),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
                c.center_id ASC) AS arnk
          FROM e CROSS JOIN cent$ivfIters c)
        WHERE arnk = 1),
      resid AS MATERIALIZED (
        SELECT e.vec_id, f.cell,
          list_transform(list_zip(e.embedding::DOUBLE[], c.centroid),
            x -> x[1] - x[2]) AS emb
        FROM e
        JOIN fin f USING (vec_id)
        JOIN cent$ivfIters c ON c.center_id = f.cell),
      ${pqCteChain("resid", "r")},
      q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qemb FROM e
            WHERE vec_id < $nQ),
      probes AS (
        SELECT qid, qemb, pcell, ccent FROM (
          SELECT q.qid, q.qemb, c.center_id AS pcell, c.centroid AS ccent,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY list_sum(list_transform(list_zip(q.qemb, c.centroid),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
                c.center_id ASC) AS prnk
          FROM q CROSS JOIN cent$ivfIters c)
        WHERE prnk <= $nProbe),
      qr AS (SELECT qid, pcell,
               list_transform(list_zip(qemb, ccent), x -> x[1] - x[2]) AS qres
             FROM probes),
      qsub AS (SELECT qid, pcell, s,
                 list_slice(qres, s * $subDim + 1, s * $subDim + $subDim)
                   AS qsubvec
               FROM qr, rss),
      lut AS MATERIALIZED (
        SELECT qs.qid, qs.pcell, c.s, c.center_id,
          list_sum(list_transform(list_zip(qs.qsubvec, c.centroid),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
        FROM qsub qs JOIN rcent$pqIters c ON c.s = qs.s),
      g AS (SELECT l.qid, cd.vec_id, list(l.d ORDER BY l.s) AS dl
            FROM rcodes cd
            JOIN resid rs ON rs.vec_id = cd.vec_id
            JOIN lut l ON l.s = cd.s AND l.center_id = cd.code
                      AND l.pcell = rs.cell
            WHERE cd.vec_id <> l.qid
            GROUP BY l.qid, cd.vec_id),
      r2 AS (SELECT qid, vec_id AS nid, CAST(list_sum(dl) AS DOUBLE) AS adc,
               CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY list_sum(dl) ASC, vec_id ASC) AS INTEGER) AS rnk
             FROM g)
      SELECT qid, nid, adc, rnk FROM r2 WHERE rnk <= $topN"""))

  // ---------------------------------------------------------------- q138

  private[graft] val shortN = 50 // ADC shortlist depth before rerank

  /** q138 — PQ shortlist + exact rerank: the two-tier retrieval shape
    * production ANN actually serves (and the one BASELINE's coverage
    * measurement points at — two-thirds of the true top-10 sits in the
    * ADC top-50 on the fixture): tier 1 scans ONLY the 64×-smaller
    * codes table and keeps the `shortN` best ADC candidates per query;
    * tier 2 fetches raw embeddings for just those `shortN` rows (a
    * semi-join-sized read, never a corpus scan) and reranks by exact
    * squared-L2 (the pinned index-ordered fold). Final precision on
    * the shortlist is exact by construction — approximation error can
    * only LOSE a candidate at tier 1, never misrank one at tier 2.
    *
    * Scale shape: tier-1 cost ≡ q136 (broadcast scans + one qid rank
    * window); tier-2 touches nQ·shortN rows — operator constants, so
    * the rerank join broadcasts and the raw store is read pointwise.
    * Everything deterministic → the two-tier pipeline replays in one
    * generated oracle (the q136 chain at depth 50 + an exact-rerank
    * CTE), a true hash gate. */
  val q138: Q = Q(
    "q138_pq_rerank",
    run = { (spark, dir) =>
      val e = src(spark, dir)
      val short = adcTopKFromCodes(e, booksFor(spark, dir),
        codesFor(spark, dir), n = shortN)
        .select(col("qid"), col("nid"))
      val qraw = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      val nraw = e.select(col("vec_id").as("nid"),
        col("embedding").as("nemb"))
      short.join(broadcast(qraw), Seq("qid"))
        .join(nraw, Seq("nid"))
        .select(col("qid"), col("nid"),
          VectorFunctions.sqL2("nemb", "qemb").as("dist_sq"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("dist_sq").asc, col("nid").asc)))
        .filter(col("rnk") <= topN)
    },
    oracle = Some(s"""
      $pqCtes,
      $adcOracleCtes,
      short AS (SELECT qid, nid FROM r WHERE rnk <= $shortN),
      rr AS (SELECT s.qid, s.nid,
               list_sum(list_transform(list_zip(ne.emb, qe.emb),
                 x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist_sq
             FROM short s
             JOIN e ne ON ne.vec_id = s.nid
             JOIN e qe ON qe.vec_id = s.qid),
      rr2 AS (SELECT qid, nid, dist_sq,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY dist_sq ASC, nid ASC) AS INTEGER) AS rnk
              FROM rr)
      SELECT qid, nid, dist_sq, rnk FROM rr2 WHERE rnk <= $topN"""))

  val all: Seq[Q] = Seq(q135, q136, q137, q138)
}
