package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Learned-model corpus operators (SURVEY.md §2.8, round-9): the two
  * classic trained-from-the-corpus primitives a curation pipeline runs
  * once the counting/scoring ops exist — a multinomial Naive Bayes text
  * classifier (McCallum & Nigam 1998, "A Comparison of Event Models for
  * Naive Bayes Text Classification"; the langid.py-style language
  * identifier and the shape of every fastText-ish quality filter) and
  * full-corpus Lloyd k-means over the embedding store (Lloyd 1982) —
  * the partition-everything counterpart to q48's sample-fit IVF
  * centroids, feeding cluster-balanced sampling and q111's SemDeDup
  * seam.
  *
  * Parity recipes (inherited, all hash-proven):
  *  - per-term ln is computed in double and cast DECIMAL(28,12) BEFORE
  *    the per-doc/class sum (q113/q118): the decimal sum is
  *    order-free, and the quantization sits 6 orders below the
  *    checker's rounding, absorbing cross-libm ulp wobble;
  *  - distances are the pinned index-ordered double fold of
  *    q25/q105/q111 — pure IEEE +,-,× on bit-identical inputs, so both
  *    engines compare bit-identical doubles at the argmin;
  *  - centroid means use q66's exact-decimal recipe: float→double
  *    widening (exact), DECIMAL(20,10) cast, order-free decimal sum,
  *    ONE double division.
  */
object Learn {

  // ---------------------------------------------------------------- q125

  private val trainMod = 5 // doc_id % 5 != 0 trains, == 0 is scored

  /** Core of q125: train a Laplace-smoothed multinomial NB on the
    * `doc_id % trainMod != 0` slice (classes = `lang`), score every
    * held-out doc against every class, emit the argmax prediction.
    *
    * P(c|d) ∝ ln(nd_c/nd) + Σ_tok ln((c(c,w)+1)/(tot_c+V)); V =
    * distinct train word types. Unseen words get the 1/(tot_c+V)
    * floor — the standard smoothing, identical on both engines.
    *
    * Scale shape (100 TB): the model is vocabulary×k bounded — two
    * hash-aggs with map-side combine build it, and it joins back to
    * the token stream on (word, class) (AQE broadcasts it while it
    * fits; no hint — a web-scale vocabulary can outgrow a broadcast
    * and then a shuffle join on `word` is the right plan). Scoring is
    * ONE pass over held-out tokens × k classes (k is small and
    * bounded), one (doc, class) hash-agg, and a k-row argmin window
    * per doc. Nothing is ever corpus × corpus, and nothing global
    * sorts.
    */
  private def tokensOf(docs: DataFrame): DataFrame =
    // the round-robin spread lives HERE (round 17), on the one leg that
    // does CPU-heavy per-row work — q125's callers used to pass
    // documentsParallel, which made the per-class/corpus COUNT legs
    // shuffle the full text payload round-robin too (the r17
    // before-plan shows three full-document RoundRobin exchanges; two
    // of them fed plain counts)
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)

  /** Train the NB model on `trainDocs` (a documents-shaped frame):
    * returns (per-(class, word) counts, per-class stats) — the
    * vocabulary×k + k-row pair the scorer joins against. Exposed as a
    * seam so a stream can score against a once-staged static model
    * ([[graft.streaming.DocStreams.nbScoreSink]]). */
  def nbModel(trainDocs: DataFrame): (DataFrame, DataFrame) = {
    // staged (round 16, guide §2.4): `cc` feeds the per-class totals,
    // the vocabulary count AND the scorer's join — unstaged, the
    // tokenize+explode ran 3× and the vocabulary×k agg 2× per q125 run
    // (12 scans of the doc source in the r16 before-plan). Round 17:
    // the token-grain `train` stage is GONE — tokenize feeds the cc agg
    // directly (its only remaining consumer), and the vocabulary size
    // comes from cc itself (distinct word over (m_lang, word) rows is
    // exactly distinct word over the train tokens), so one run pays one
    // tokenize and one vocabulary×k-bounded staging write instead of a
    // token-grain write plus two derived scans.
    val cc = graft.operators.Stage.materialize(
      tokensOf(trainDocs).groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).as("c"))
        .select(col("lang").as("m_lang"), col("word"), col("c")),
      "nb-cc")
    val tots = cc.groupBy(col("m_lang")).agg(sum(col("c")).as("tot"))
    val vsz = cc.select(col("word")).distinct()
      .agg(count(lit(1)).as("vsz"))
    val nAll = trainDocs.agg(count(lit(1)).as("nall"))
    val classes = trainDocs.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .select(col("lang").as("m_lang"), col("nd"))
      .join(tots, Seq("m_lang"))
      .crossJoin(broadcast(vsz)).crossJoin(broadcast(nAll))
      .select(col("m_lang"), col("nd"), col("tot"), col("vsz"), col("nall"))
    (cc, classes)
  }

  /** Score `docs` against a trained model — one argmax row per doc
    * with ≥ 1 token. Per-doc independent (no cross-doc state), so
    * scoring a corpus in micro-batches concatenates to exactly the
    * whole-corpus answer. */
  def nbScore(docs: DataFrame, cc: DataFrame, classes: DataFrame): DataFrame = {
    val test = tokensOf(docs)
    val terms = test.crossJoin(broadcast(classes))
      .join(cc, Seq("m_lang", "word"), "left")
      .select(col("doc_id"), col("lang"), col("m_lang"),
        col("nd"), col("nall"),
        expr("CAST(ln((COALESCE(c, CAST(0 AS BIGINT)) + CAST(1.0 AS DOUBLE))" +
          " / (tot + vsz)) AS DECIMAL(28,12))").as("nl"))
    val scored = terms
      .groupBy(col("doc_id"), col("lang"), col("m_lang"),
        col("nd"), col("nall"))
      .agg(sum(col("nl")).as("sum_nl"))
      .select(col("doc_id"), col("lang"), col("m_lang"),
        (col("sum_nl") +
          expr("CAST(ln(CAST(nd AS DOUBLE) / nall) AS DECIMAL(28,12))"))
          .as("loglik"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("loglik").desc, col("m_lang").asc)))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("lang").as("true_lang"),
        col("m_lang").as("pred_lang"),
        col("loglik").cast("double").as("loglik"),
        (col("m_lang") === col("lang")).as("correct"))
  }

  def nbLangId(docs: DataFrame): DataFrame = {
    val base = docs.filter(col("text").isNotNull && col("lang").isNotNull)
    val (cc, classes) = nbModel(base.filter(col("doc_id") % trainMod =!= 0))
    nbScore(base.filter(col("doc_id") % trainMod === 0), cc, classes)
  }

  /** q125 — multinomial Naive Bayes language ID, trained on the 4/5
    * deterministic doc slice and scored on the held-out 1/5. */
  val q125: Q = Q(
    "q125_nb_langid",
    run = { (spark, dir) => nbLangId(Tables.documents(spark, dir)) },
    oracle = Some(s"""
      WITH base AS (SELECT doc_id, lang, text FROM documents
                    WHERE text IS NOT NULL AND lang IS NOT NULL),
      toks AS (SELECT doc_id, lang, word
               FROM (SELECT doc_id, lang,
                       unnest(string_split(text, ' ')) AS word
                     FROM base)
               WHERE len(word) > 0),
      train AS (SELECT * FROM toks WHERE doc_id % $trainMod != 0),
      cc AS (SELECT lang AS m_lang, word, CAST(count(*) AS BIGINT) AS c
             FROM train GROUP BY 1, 2),
      tots AS (SELECT m_lang, CAST(sum(c) AS BIGINT) AS tot
               FROM cc GROUP BY 1),
      v AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS vsz FROM train),
      td AS (SELECT lang, doc_id FROM base WHERE doc_id % $trainMod != 0),
      nall AS (SELECT CAST(count(*) AS BIGINT) AS nall FROM td),
      cls AS (SELECT t.m_lang, p.nd, t.tot, v.vsz, nall.nall
              FROM tots t
              JOIN (SELECT lang AS m_lang, CAST(count(*) AS BIGINT) AS nd
                    FROM td GROUP BY 1) p ON p.m_lang = t.m_lang
              CROSS JOIN v CROSS JOIN nall),
      test AS (SELECT * FROM toks WHERE doc_id % $trainMod = 0),
      terms AS (
        SELECT t.doc_id, t.lang, k.m_lang, k.nd, k.nall,
          CAST(ln((COALESCE(c.c, 0) + CAST(1.0 AS DOUBLE)) /
            (k.tot + k.vsz)) AS DECIMAL(28,12)) AS nl
        FROM test t
        CROSS JOIN cls k
        LEFT JOIN cc c ON c.m_lang = k.m_lang AND c.word = t.word),
      scored AS (
        SELECT doc_id, lang, m_lang,
          sum(nl) + CAST(ln(CAST(any_value(nd) AS DOUBLE) /
            any_value(nall)) AS DECIMAL(28,12)) AS loglik
        FROM terms GROUP BY doc_id, lang, m_lang),
      r AS (SELECT doc_id, lang, m_lang, loglik,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY loglik DESC, m_lang ASC) AS rnk
            FROM scored)
      SELECT doc_id, lang AS true_lang, m_lang AS pred_lang,
        CAST(loglik AS DOUBLE) AS loglik, (m_lang = lang) AS correct
      FROM r WHERE rnk = 1"""))

  // ---------------------------------------------------------------- q126

  private val kClusters = 8
  private val nIters = 4

  /** One assignment pass: every vector to its nearest center by squared
    * L2 (index-ordered fold), ties by center_id. `centers` is a
    * (center_id, centroid: array<double>) frame small enough to
    * broadcast — k·dim doubles. Zero-exchange projection argmin
    * ([[CenterAssign]]) — the round-9 window-argmin shuffled the
    * corpus on vec_id once per pass. */
  private def assign(e: DataFrame, centers: DataFrame): DataFrame =
    CenterAssign.withNearest(e, centers)
      .select(col("vec_id"), col("cluster"), col("dist_sq"), col("embedding"))

  /** Core of q126: Lloyd k-means over the full embedding store —
    * deterministic init (the k lowest vec_ids), `iters` rounds of
    * assign + exact-decimal centroid update, final assignment out.
    *
    * Scale shape (100 TB): each round is ONE corpus scan against a
    * broadcast of k·dim doubles (assignment is a zero-exchange
    * projection fold — [[CenterAssign]]; the ONLY shuffle in a round
    * is the (cluster, pos) centroid agg — k·dim keys, map-side
    * combined), and the driver collects exactly k·dim mean
    * rows per round (the bpeLearn/q121 bounded-collect contract; k and
    * dim are operator constants, never data-sized). Contrast q48's
    * ivfBuild, which FITS on a sample — this is the partition-
    * everything path for when assignment quality must come from every
    * row. An empty cluster drops out of the next round on both engines
    * (standard Lloyd; k shrinks deterministically).
    */
  def kmeans(embeddings: DataFrame, k: Int = kClusters,
      iters: Int = nIters): DataFrame = {
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    assign(e, kmeansCenters(embeddings, k, iters))
      .select(col("vec_id"), col("cluster"), col("dist_sq"))
  }

  /** Train-only seam: the final centers after `iters` Lloyd rounds, as a
    * (center_id, centroid: array<double>) frame. The loop collects each
    * round's k·dim means, so the RETURNED frame is a driver-local
    * relation of at most k rows — reusable across streaming micro-batches
    * with zero retrain risk ([[graft.streaming.DocStreams.kmeansAssignSink]])
    * and save/load-trivial. */
  def kmeansCenters(embeddings: DataFrame, k: Int = kClusters,
      iters: Int = nIters): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // vec_id normalized to long — callers feed int ids too (q48's IVF
    // seam tests); ordering is unchanged for the bigint fixture column
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    // deterministic seeds: the k lowest vec_ids, center_id by that order
    val seeds = e.orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .sortBy(_.getLong(0))
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }
    var centers = seeds.toSeq.toDF("center_id", "centroid")
    for (_ <- 1 to iters) {
      // exact-decimal per-(cluster, pos) means (q66), k·dim rows
      val means = assign(e, centers)
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("double").cast("decimal(20,10)"))
            .cast("double").as("sum_v"))
        .select(col("cluster"), col("pos"), (col("sum_v") / col("n")).as("m"))
        .collect()
      centers = means
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        }
        .toSeq.sortBy(_._1)
        .toDF("center_id", "centroid")
    }
    centers
  }

  /** The q126 iteration rounds as generated MATERIALIZED CTEs (the
    * q101/q117 iterative-oracle recipe): cent0 = seeds, then per round
    * aN (assignment) → cN (exact-decimal means) → centN (re-formed
    * arrays). Parameterized so other Lloyd consumers (q48's IVF coarse
    * quantizer) can replay their own (k, iters) in their oracles. */
  /** `fitWhere` restricts the FIT corpus (an extra `AND ...` clause on
    * `e`) — q157 fits its coarse quantizer on the lake subset only
    * while assigning the full corpus. */
  private[graft] def kmeansCtesFor(kClusters: Int, nIters: Int,
      fitWhere: String = ""): String = {
    val rounds = (1 to nIters).map { i =>
      s"""a$i AS MATERIALIZED (
         |        SELECT vec_id, cluster, dist_sq, embedding FROM (
         |          SELECT e.vec_id, c.center_id AS cluster, e.embedding,
         |            list_sum(list_transform(
         |              list_zip(e.embedding::DOUBLE[], c.centroid),
         |              x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist_sq,
         |            row_number() OVER (PARTITION BY e.vec_id
         |              ORDER BY list_sum(list_transform(
         |                list_zip(e.embedding::DOUBLE[], c.centroid),
         |                x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
         |                c.center_id ASC) AS arnk
         |          FROM e CROSS JOIN cent${i - 1} c)
         |        WHERE arnk = 1),
         |      c$i AS MATERIALIZED (
         |        SELECT cluster, CAST(pos AS INTEGER) AS pos,
         |          CAST(count(*) AS BIGINT) AS n,
         |          sum(CAST(CAST(embedding[pos + 1] AS DOUBLE)
         |            AS DECIMAL(20,10))) AS sum_dec
         |        FROM (SELECT cluster, embedding,
         |                unnest(generate_series(0, len(embedding) - 1)) AS pos
         |              FROM a$i)
         |        GROUP BY cluster, pos),
         |      cent$i AS MATERIALIZED (
         |        SELECT cluster AS center_id,
         |          list(CAST(CAST(sum_dec AS VARCHAR) AS DOUBLE) / n
         |            ORDER BY pos) AS centroid
         |        FROM c$i GROUP BY cluster)""".stripMargin
    }.mkString(",\n      ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL$fitWhere),
      cent0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER)
            AS center_id,
          embedding::DOUBLE[] AS centroid
        FROM (SELECT vec_id, embedding FROM e
              ORDER BY vec_id ASC LIMIT $kClusters)),
      $rounds"""
  }

  /** q126 — full-corpus Lloyd k-means (k=8, 4 rounds): final cluster
    * assignment of every vector. */
  val q126: Q = Q(
    "q126_kmeans",
    run = { (spark, dir) => kmeans(Tables.embeddingsParallel(spark, dir)) },
    oracle = Some(s"""
      ${kmeansCtesFor(kClusters, nIters)},
      fin AS (
        SELECT vec_id, cluster, dist_sq FROM (
          SELECT e.vec_id, c.center_id AS cluster,
            list_sum(list_transform(
              list_zip(e.embedding::DOUBLE[], c.centroid),
              x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist_sq,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_sum(list_transform(
                list_zip(e.embedding::DOUBLE[], c.centroid),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
                c.center_id ASC) AS arnk
          FROM e CROSS JOIN cent$nIters c)
        WHERE arnk = 1)
      SELECT vec_id, cluster, dist_sq FROM fin"""))

  // ---------------------------------------------------------------- q134

  /** Core of q134: the d×d sample covariance of the embedding store —
    * the distributed linear-algebra primitive PCA / ZCA-whitening /
    * Mahalanobis outlier scoring all start from (the driver-side
    * eigensolve over a 64×64 matrix is trivial; producing the matrix
    * from 10⁹ vectors is the distributed part). Upper triangle only
    * (i ≤ j — the matrix is symmetric).
    *
    * Two-pass exact recipe: per-dim means via q66's decimal sums; the
    * means ride ONE broadcast row back into a second scan where every
    * (i ≤ j) centered product (x_i−μ_i)(x_j−μ_j) — pure IEEE doubles
    * on bit-identical inputs — is cast DECIMAL(30,12) and summed
    * order-free; one double division by (n−1) at the end.
    *
    * Scale shape (100 TB): two corpus scans; the product agg has
    * exactly d·(d+1)/2 keys (2080 for d=64), map-side combined — each
    * partition contributes one partial sum per key. Nothing driver-side
    * is data-sized. This explode formulation is the ORACLE-STRUCTURAL
    * twin (it mirrors the DuckDB SQL shape cell for cell); the registry
    * q134 ships [[embedCovarianceAcc]], which accumulates the same
    * cells in a fixed buffer per partition — bit-identical
    * (suite-asserted) and measured 2.3-2.6× faster (the 2,080 generated
    * rows per vector were pure CPU overhead — BASELINE.md round-10,
    * "q134 Gram: explode+hash-agg vs typed-accumulator A/B"). */
  def embedCovariance(embeddings: DataFrame): DataFrame = {
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    // per-pos means AND per-pos counts ride the one broadcast row: cell
    // (i, j) divides by pos-i's own count (the oracle's ma.n), so a
    // ragged or null-holed embedding store diverges nowhere — the
    // previous global max(n) divisor silently assumed uniform dims.
    val means = e
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("double").cast("decimal(20,10)"))
          .cast("double").as("sum_v"))
      .groupBy()
      .agg(expr("array_sort(collect_list(struct(pos," +
        " CAST(sum_v / n AS DOUBLE) AS m, n)))").as("st"))
      .select(expr("transform(st, s -> s.m)").as("mu"),
        expr("transform(st, s -> s.n)").as("nv"))
    e.crossJoin(broadcast(means))
      .select(posexplode(expr(
        // centered upper-triangle products; Spark array subscripts
        // are 0-based (unlike DuckDB's 1-based bracket)
        "flatten(transform(sequence(0, size(embedding) - 1), i ->" +
          " transform(sequence(i, size(embedding) - 1), j ->" +
          " struct(i AS i, j AS j, nv[i] AS n," +
          " (CAST(embedding[i] AS DOUBLE) - mu[i]) *" +
          " (CAST(embedding[j] AS DOUBLE) - mu[j]) AS p))))"))
        .as(Seq("k", "t")))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.n").as("n"),
        col("t.p").cast("decimal(30,12)").as("p"))
      .groupBy(col("i"), col("j"))
      .agg((sum(col("p")).cast("double") / (max(col("n")) - 1)).as("cov"))
  }

  /** Typed-Aggregator twin of [[embedCovariance]]
    * ([[graft.functions.GramAggregator]]): same means pass (collected —
    * d rows, bounded), then ONE accumulate pass with a d(d+1)/2 exact-
    * decimal buffer per partition instead of 2,080 generated rows per
    * vector. Output is bit-identical to the explode plan (equality
    * suite-asserted; quantization and divisor contracts in the
    * aggregator's scaladoc). Measured A/B vs the explode plan:
    * BASELINE.md round-10 ("q134 Gram"). */
  def embedCovarianceAcc(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("embedding").cast("array<double>").as("value"))
    val mu = e
      .select(posexplode(col("value")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(20,10)")).cast("double").as("sum_v"))
      .collect().sortBy(_.getInt(0))
      .map(r => r.getDouble(2) / r.getLong(1))
    if (mu.isEmpty)
      return Seq.empty[(Int, Int, Double)].toDF("i", "j", "cov")
    e.as[Seq[Double]]
      .select(new graft.functions.GramAggregator(mu).toColumn)
      .flatMap(identity)
      .toDF("i", "j", "cov")
  }

  /** q134 — embedding covariance matrix (upper triangle). Ships the
    * accumulator plan: measured 2.3× over the explode plan at sf0.1 and
    * 2.6× at 10× (BASELINE.md round-10, "q134 Gram"), bit-identical
    * output (suite-asserted), so the hash gate also proves the explode
    * twin's oracle still describes this plan's semantics exactly. */
  val q134: Q = Q(
    "q134_embed_covariance",
    run = { (spark, dir) => embedCovarianceAcc(Tables.embeddings(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL),
      x AS (SELECT vec_id, CAST(pos AS INTEGER) AS pos,
              CAST(embedding[pos + 1] AS DOUBLE) AS v
            FROM (SELECT vec_id, embedding,
                    unnest(generate_series(0, len(embedding) - 1)) AS pos
                  FROM e)),
      m AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
              CAST(CAST(sum(CAST(v AS DECIMAL(20,10))) AS VARCHAR) AS DOUBLE)
                / count(*) AS mu
            FROM x GROUP BY pos),
      c AS (SELECT a.vec_id, a.pos AS i, b.pos AS j,
              CAST((a.v - ma.mu) * (b.v - mb.mu) AS DECIMAL(30,12)) AS p,
              ma.n
            FROM x a
            JOIN x b ON b.vec_id = a.vec_id AND b.pos >= a.pos
            JOIN m ma ON ma.pos = a.pos
            JOIN m mb ON mb.pos = b.pos)
      SELECT i, j,
        CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) / (max(n) - 1) AS cov
      FROM c GROUP BY i, j"""))

  // ------------------------------------------------- whitening seam

  /** Symmetric Jacobi eigensolver over a small dense matrix (the
    * classical cyclic sweep; Golub & Van Loan §8.5). Driver-side by
    * design: the input is q134's d×d covariance — 64×64 here — and an
    * eigensolve of a config-sized matrix does not belong on the
    * cluster. Deterministic: fixed sweep order, fixed iteration count,
    * pure double arithmetic. Returns (eigenvalues, eigenvectors as
    * rows). */
  private[queries] def jacobiEigen(m: Array[Array[Double]],
      sweeps: Int = 30): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to sweeps; p <- 0 until d - 1; q <- p + 1 until d) {
      if (math.abs(a(p)(q)) > 1e-15) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
    }
    (Array.tabulate(d)(i => a(i)(i)), Array.tabulate(d, d)((i, j) => v(j)(i)))
  }

  /** ZCA-whiten the embedding store: W = E·diag(1/√(λ+ε))·Eᵀ from
    * q134's covariance (driver-side Jacobi over the d×d matrix — the
    * bpeLearn bounded-collect contract; d is an operator constant),
    * then one broadcast-apply expression pass re-centers and rotates
    * every vector. The standard preprocessing before cosine-based
    * dedup/ANN when dimensions are correlated (whitened covariance =
    * I). Not oracle-expressible (the eigensolve is not SQL) — the
    * suite closes the loop instead: covariance(whiten(X)) ≈ I. */
  def zcaWhiten(embeddings: DataFrame, eps: Double = 1e-5): DataFrame = {
    val spark = embeddings.sparkSession
    val cov = embedCovarianceAcc(embeddings)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    if (cov.isEmpty) {
      return embeddings.filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("whitened"))
    }
    val d = cov.keys.map(_._2).max + 1
    val c = Array.tabulate(d, d)((i, j) =>
      cov.getOrElse((math.min(i, j), math.max(i, j)), 0.0))
    val (lam, vecs) = jacobiEigen(c) // vecs(k) = k-th eigenvector
    // W_ij = Σ_k vecs(k)(i) · vecs(k)(j) / sqrt(λ_k + eps)
    val w = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(k =>
        vecs(k)(i) * vecs(k)(j) / math.sqrt(math.max(lam(k), 0.0) + eps)).sum)
    val mu = {
      val e = embeddings.filter(col("embedding").isNotNull)
      e.select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(sum(col("x").cast("double").cast("decimal(20,10)"))
          .cast("double").as("s"), count(lit(1)).as("n"))
        .collect().sortBy(_.getInt(0)).map(r => r.getDouble(1) / r.getLong(2))
    }
    import spark.implicits._
    val wdf = w.zipWithIndex
      .map { case (row, i) => (i, row.toSeq) }.toSeq.toDF("wi", "wrow")
      .groupBy().agg(expr(
        "transform(array_sort(collect_list(struct(wi, wrow))), s -> s.wrow)")
        .as("wmat"))
      .withColumn("mu", lit(mu).cast("array<double>"))
    embeddings.filter(col("embedding").isNotNull)
      .crossJoin(broadcast(wdf))
      .select(col("vec_id"), expr(
        // y_i = Σ_j W_ij (x_j − μ_j), index-ordered fold per output dim
        "transform(sequence(0, size(embedding) - 1), i ->" +
          " aggregate(sequence(0, size(embedding) - 1)," +
          " CAST(0 AS DOUBLE), (acc, j) -> acc +" +
          " wmat[i][j] * (CAST(embedding[j] AS DOUBLE) - mu[j])))")
        .as("whitened"))
  }

  val all: Seq[Q] = Seq(q125, q126, q134)
}
