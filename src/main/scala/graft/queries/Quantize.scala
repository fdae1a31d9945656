package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.VectorFunctions

/** Embedding compression + diversity selection (SURVEY.md §2.8,
  * round-9): the two vector-side operators a 100 TB curation pipeline
  * runs AFTER similarity search exists — int8 scalar quantization
  * (shrinks an embedding store 4× so the ANN index fits executor
  * memory; the standard affine-code recipe every vector DB ships) and
  * maximal-marginal-relevance selection (Carbonell & Goldstein 1998 —
  * pick exemplars that are relevant AND mutually diverse, the
  * downstream consumer of q25/q48's candidate generation).
  *
  * Parity recipes (see q105/q25 history): per-dim min/max are
  * order-free exact comparisons; the affine code/error arithmetic is
  * written with IDENTICAL association on both engines (pure IEEE
  * double ops on bit-identical inputs are bit-identical — only
  * reductions with engine-chosen order drift, and the one reduction
  * here, the per-vector error sum, is an index-ordered fold on both
  * sides); MMR runs entirely in integer micro-units, so the greedy
  * argmax can never be a cross-engine float knife edge.
  */
object Quantize {

  private val levels = 255 // int8 code range 0..255
  private val nCand = 32   // MMR candidate pool (bounded by contract)
  private val kSel = 8     // MMR selections
  // lambda = 0.7 in tenths: score = 7*rel - 3*maxsim, micro-unit ints
  private val lamNum = 7
  private val lamDen = 3

  /** q120 — int8 scalar quantization of the embedding store: per-dim
    * corpus min/max (one 64-key agg — map-side combined, reduce side is
    * dimensionality-bounded), then every vector encoded by a pure
    * expression chain against the 1-row broadcast stats. Emits the
    * comma-joined codes plus the per-vector reconstruction error (an
    * index-ordered fold, the q105 recipe).
    *
    * Scale shape: stats = one corpus scan shuffling 64 keys; encoding =
    * one corpus scan with zero shuffle (1-row broadcast nested-loop
    * attach, the q118 scalar pattern). Nothing corpus-sized ever moves.
    */
  val q120: Q = Q(
    "q120_embed_quantize",
    run = { (spark, dir) =>
      quantize(Tables.embeddings(spark, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding")))
    },
    oracle = Some(q120OracleSql))

  /** Core of q120 over any (vec_id, embedding) frame. */
  def quantize(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val stats = e
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
      // index-ordered 1-row stat arrays for the broadcast attach
      val packed = stats
        .agg(array_sort(collect_list(struct(col("i"), col("mn"), col("mx"))))
          .as("s"))
        .select(
          transform(col("s"), s => s.getField("mn")).as("mns"),
          transform(col("s"), s => s.getField("mx")).as("mxs"))
      val withStats = e.crossJoin(broadcast(packed))
      def mnAt(i: org.apache.spark.sql.Column) = element_at(col("mns"), i + 1)
      def mxAt(i: org.apache.spark.sql.Column) = element_at(col("mxs"), i + 1)
      // code_i = round(((x - mn) * 255) / (mx - mn)), clamped by
      // construction since mn <= x <= mx; degenerate dims encode 0
      val codes = transform(col("embedding"), (x, i) => {
        val v = x.cast("double")
        val span = mxAt(i) - mnAt(i)
        when(span === 0.0, lit(0))
          .otherwise(round((v - mnAt(i)) * lit(levels.toDouble) / span)
            .cast("int"))
      })
      // err_i = (x - dequant(code_i))^2, summed in index order — the
      // fold shape that is bit-identical to DuckDB's list_sum
      val errs = transform(col("embedding"), (x, i) => {
        val v = x.cast("double")
        val span = mxAt(i) - mnAt(i)
        val code = when(span === 0.0, lit(0))
          .otherwise(round((v - mnAt(i)) * lit(levels.toDouble) / span)
            .cast("int"))
        val deq = mnAt(i) + (code.cast("double") * span) / lit(levels.toDouble)
        (v - deq) * (v - deq)
      })
      withStats.select(
        col("vec_id"),
        concat_ws(",", transform(codes, c => c.cast("string"))).as("codes"),
        aggregate(errs, lit(0.0), (acc, x) => acc + x).as("mse"))
  }

  private def q120OracleSql = s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                 WHERE embedding IS NOT NULL),
      d AS (SELECT vec_id, unnest(emb) AS v,
              unnest(generate_series(1, len(emb))) AS i FROM e),
      s AS (SELECT i, min(v) AS mn, max(v) AS mx FROM d GROUP BY i),
      c AS (SELECT d.vec_id, d.i, d.v, s.mn, s.mx,
              CASE WHEN s.mx - s.mn = 0 THEN 0
                   ELSE CAST(round((d.v - s.mn) * ${levels}.0 / (s.mx - s.mn))
                        AS INTEGER) END AS code
            FROM d JOIN s USING (i)),
      g AS (SELECT vec_id,
              list(CAST(code AS VARCHAR) ORDER BY i) AS cl,
              list((v - (mn + (CAST(code AS DOUBLE) * (mx - mn)) / ${levels}.0))
                   * (v - (mn + (CAST(code AS DOUBLE) * (mx - mn)) / ${levels}.0))
                   ORDER BY i) AS el
            FROM c GROUP BY vec_id)
      SELECT vec_id, array_to_string(cl, ',') AS codes,
        CAST(list_sum(el) AS DOUBLE) AS mse
      FROM g"""

  /** q121 — MMR diversified top-k: from the query's top-`nCand`
    * candidates (integer micro-unit cosine relevance, the distributed
    * part — a TakeOrderedAndProject scan, swappable for q48's IVF at
    * scale), greedily pick `kSel` exemplars maximizing
    * `7*rel - 3*max_sim_to_selected` (lambda = 0.7, micro-units, ties
    * by vec_id). The greedy loop runs on the driver over the BOUNDED
    * candidate matrix (nCand^2 = 1024 integer rows — the bounded-
    * collect contract, same as bpeLearn's 1-row rounds): candidate
    * generation scales with the corpus, selection is O(k * nCand) on
    * constants. Oracle replays the identical integer greedy as `kSel`
    * chained CTE rounds (the q101 iterative-oracle recipe).
    */
  /** The distributed half of q121: integer micro-unit relevance against
    * the broadcast query vector, top-`nCand` via TakeOrderedAndProject
    * (never a global sort — PlanShapeSpec-asserted). At 100 TB this is
    * the piece that swaps for `ivfQuery` — the greedy consumes whatever
    * bounded candidate table the retrieval tier produced. */
  private[graft] def mmrCandidateQuery(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    VectorFunctions.registerVecDot(spark)
    val e = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(expr("vec_dot_f(embedding, embedding)")))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qemb"), col("nrm").as("qnrm"))
    e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        round(expr("vec_dot_f(embedding, qemb)")
          / (col("nrm") * col("qnrm")) * lit(1e6)).cast("long").as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc).limit(nCand)
  }

  val q121: Q = Q(
    "q121_mmr_select",
    run = { (spark, dir) =>
      import spark.implicits._
      val cands = graft.operators.Stage.materialize(
        mmrCandidateQuery(spark, dir), "mmr-cands")
      val other = cands.select(col("vec_id").as("b_id"),
        col("embedding").as("bemb"), col("nrm").as("bnrm"))
      val sims = cands.crossJoin(broadcast(other))
        .filter(col("vec_id") =!= col("b_id"))
        .select(col("vec_id").as("a_id"), col("b_id"),
          round(expr("vec_dot_f(embedding, bemb)")
            / (col("nrm") * col("bnrm")) * lit(1e6)).cast("long").as("sim"))
        .as[(Long, Long, Long)].collect()
        .map { case (a, b, s) => (a, b) -> s }.toMap
      val pool = cands.select(col("vec_id"), col("rel"))
        .as[(Long, Long)].collect().sortBy { case (id, rel) => (-rel, id) }
      val selected =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
      var rank = 1
      while (rank <= kSel && selected.size < pool.length) {
        val chosenIds = selected.map(_._2).toSet
        val best = pool.iterator
          .filterNot { case (id, _) => chosenIds(id) }
          .map { case (id, rel) =>
            val maxSim =
              if (chosenIds.isEmpty) 0L
              else chosenIds.iterator.map(s => sims((id, s))).max
            (id, rel, lamNum * rel - lamDen * maxSim)
          }
          .minBy { case (id, _, score) => (-score, id) }
        selected += ((rank, best._1, best._2, best._3))
        rank += 1
      }
      selected.toSeq.toDF("rank", "vec_id", "rel", "score")
    },
    oracle = Some {
      val rounds = (1 to kSel).map { k =>
        s"""g$k AS MATERIALIZED (SELECT c.vec_id, c.rel,
           |        CAST($lamNum * c.rel - $lamDen * COALESCE(
           |          (SELECT max(p.sim) FROM p
           |           WHERE p.a_id = c.vec_id
           |             AND p.b_id IN (SELECT vec_id FROM s${k - 1})), 0)
           |          AS BIGINT) AS score
           |      FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM s${k - 1})
           |      ORDER BY score DESC, c.vec_id LIMIT 1),
           |      s$k AS MATERIALIZED (SELECT * FROM s${k - 1}
           |        UNION ALL SELECT $k, vec_id, rel, score FROM g$k)"""
          .stripMargin
      }.mkString(",\n      ")
      s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                 WHERE embedding IS NOT NULL),
      n AS (SELECT vec_id, emb,
              sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM e),
      q AS (SELECT emb AS qemb, nrm AS qnrm FROM n WHERE vec_id = 0),
      c AS MATERIALIZED (SELECT n.vec_id, n.emb, n.nrm,
             CAST(round(list_sum(list_transform(list_zip(n.emb, q.qemb),
                    x -> x[1]*x[2])) / (n.nrm * q.qnrm) * 1000000.0)
               AS BIGINT) AS rel
           FROM n, q WHERE n.vec_id <> 0
           ORDER BY rel DESC, n.vec_id LIMIT $nCand),
      p AS MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(round(list_sum(list_transform(list_zip(a.emb, b.emb),
                    x -> x[1]*x[2])) / (a.nrm * b.nrm) * 1000000.0)
               AS BIGINT) AS sim
           FROM c a, c b WHERE a.vec_id <> b.vec_id),
      s0(rank, vec_id, rel, score) AS (
        SELECT CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) WHERE 1 = 0),
      $rounds
      SELECT rank, vec_id, rel, score FROM s$kSel"""
    })

  private val jlK = 16    // projected dimensionality
  private val jlDims = 64 // fixture embedding width (see TESTDATA.md)

  /** The Rademacher (±1) sign matrix for q123, derived from md5 parity
    * so BOTH engines can reconstruct it bit-for-bit: sign(j,i) = +1
    * iff the first hex char of md5("j_i") has an even nibble. Computed
    * once driver-side here; the oracle recomputes it in SQL from the
    * same md5 — no shipped state, no engine-specific RNG. */
  private[graft] def jlSigns: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until jlK).map { j =>
      (0 until jlDims).map { i =>
        val hex = md.digest(s"${j}_$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if ("02468ace".indexOf(hex.charAt(0)) >= 0) 1.0 else -1.0
      }
    }
  }

  /** Core of q123 over any (vec_id, embedding) frame. */
  def jlProject(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val signLit = array(jlSigns.map(r => array(r.map(lit): _*)): _*)
    val scale = math.sqrt(jlK.toDouble)
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(jlK - 1))).as("j"), col("embedding"))
      .select(col("vec_id"), col("j"),
        (aggregate(
          zip_with(col("embedding"), element_at(signLit, col("j") + 1),
            (x, s) => x.cast("double") * s),
          lit(0.0), (acc, t) => acc + t) / lit(scale)).as("y"))
  }

  /** q123 — Johnson-Lindenstrauss random projection (Achlioptas 2003's
    * database-friendly ±1 variant): 64-dim embeddings down to 16 dims
    * via a deterministic Rademacher matrix, y_j = (Σ_i s_ji·x_i)/√k.
    * The dim-reduction pass a 100 TB pipeline runs BEFORE ANN indexing
    * (4× fewer bytes per vector, distances preserved within the JL
    * bound — suite-asserted on pair distances). Pure expression chain:
    * the sign matrix is a literal, the fold is index-ordered (parity
    * recipe), zero shuffles beyond the source scan. */
  val q123: Q = Q(
    "q123_jl_project",
    run = { (spark, dir) =>
      jlProject(Tables.embeddings(spark, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding")))
    },
    oracle = Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                 WHERE embedding IS NOT NULL),
      d AS (SELECT vec_id, unnest(emb) AS v,
              unnest(generate_series(0, len(emb) - 1)) AS i FROM e),
      js AS (SELECT unnest(generate_series(0, ${jlK - 1})) AS j),
      s AS (SELECT js.j, di.i,
              CASE WHEN instr('02468ace',
                     substr(md5(js.j || '_' || di.i), 1, 1)) > 0
                   THEN 1.0 ELSE -1.0 END AS sgn
            FROM js, (SELECT DISTINCT i FROM d) di),
      t AS (SELECT d.vec_id, s.j, d.i, d.v * s.sgn AS term
            FROM d JOIN s ON s.i = d.i),
      g AS (SELECT vec_id, j, list(term ORDER BY i) AS tl
            FROM t GROUP BY vec_id, j)
      SELECT vec_id, CAST(j AS INTEGER) AS j,
        CAST(list_sum(tl) / sqrt(${jlK}.0) AS DOUBLE) AS y
      FROM g"""))

  val all: Seq[Q] = Seq(q120, q121, q123)
}
