package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.VectorFunctions._

/** Embedding similarity over `array<float>` columns (SURVEY.md §2.D):
  * brute-force cosine top-k (the exactness baseline the LSH/IVF variants
  * in graft.ext are measured against) and blocked near-duplicate pairs.
  *
  * Hot loop is the codegen'd [[graft.functions.VecDotFloat]] expression
  * (registered as SQL function `vec_dot_f`): float elements widened to
  * double and accumulated in index order — bit-identical to the DuckDB
  * oracle's list_sum formulation, but inside whole-stage codegen. Norms
  * are computed ONCE per row and reused across all pairs.
  *
  * Scale shape: the query set is broadcast, so the scan side streams once
  * with no shuffle; top-k per query is a windowed rank over qid (k tiny).
  */
object VectorOps {

  /** Q25 — brute-force cosine top-5 neighbors for query vectors
    * vec_id < 10 (deterministic tie-break on neighbor id). */
  val q25: Q = Q(
    "q25_similarity_topk",
    run = { (spark, dir) =>
      // null (undecodable) embeddings are excluded on BOTH engine and
      // oracle sides — declared semantics, not engine-specific null
      // ordering inside the rank window
      val e = withNorm(Tables.embeddings(spark, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding")))
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm")).filter(col("qid") < 10)
      topKByCosine(e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          cosineF(col("embedding"), col("qemb"), col("nrm"), col("qnrm"))
            .as("cos_sim")), "qid", "nid", 5)
    },
    oracle = Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                 WHERE embedding IS NOT NULL),
      q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
      p AS (SELECT q.qid, e.vec_id AS nid,
              list_sum(list_transform(list_zip(e.emb, q.qemb), x -> x[1]*x[2])) /
              (sqrt(list_sum(list_transform(e.emb, x -> x*x)))
                * sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) AS cos_sim
            FROM e, q WHERE e.vec_id <> q.qid),
      r AS (SELECT qid, nid, cos_sim,
              CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS INTEGER) AS rnk
            FROM p)
      SELECT qid, nid, cos_sim, rnk FROM r WHERE rnk <= 5"""))

  /** Q32 — embedding near-duplicate pairs, blocked by label (the
    * realistic blocking key): cosine above threshold within each block. */
  val q32: Q = Q(
    "q32_embedding_neardup",
    run = { (spark, dir) =>
      val e = withNorm(Tables.embeddings(spark, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("label"), col("embedding")))
      val a = e.select(col("vec_id").as("id_a"), col("label"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val b = e.select(col("vec_id").as("id_b"), col("label").as("label_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("label"),
          cosineF(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b"))
            .as("cos_sim"))
        .filter(col("cos_sim") >= 0.35)
    },
    oracle = Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
                 WHERE embedding IS NOT NULL)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
        list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1]*x[2])) /
        (sqrt(list_sum(list_transform(a.emb, x -> x*x)))
          * sqrt(list_sum(list_transform(b.emb, x -> x*x)))) AS cos_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1]*x[2])) /
        (sqrt(list_sum(list_transform(a.emb, x -> x*x)))
          * sqrt(list_sum(list_transform(b.emb, x -> x*x)))) >= 0.35"""))

  /** Q66 — per-label embedding centroids (class centroids / mean
    * pooling): element-wise mean of all vectors in each label block.
    * Exact-parity recipe for summing FLOAT array elements: widen
    * float→double (exact), cast to DECIMAL(20,10) (both engines round
    * the binary value identically), sum exactly (order-independent),
    * divide once in double. One posexplode + one hash agg on
    * (label, pos) — at scale this is the map-side-combining shape, 64
    * partial sums per label per partition. */
  val q66: Q = Q(
    "q66_label_centroids",
    run = { (spark, dir) =>
      Tables.embeddings(spark, dir)
        .filter(col("embedding").isNotNull && col("label").isNotNull)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("double").cast("decimal(20,10)"))
            .cast("double").as("sum_v"))
        .select(col("label"), col("pos"), col("n"),
          (col("sum_v") / col("n")).as("mean_v"))
    },
    oracle = Some("""
      WITH e AS (SELECT label, embedding FROM embeddings
                 WHERE embedding IS NOT NULL AND label IS NOT NULL),
      x AS (SELECT label, embedding,
              unnest(generate_series(0, len(embedding) - 1)) AS pos
            FROM e),
      s AS (SELECT label, CAST(pos AS INTEGER) AS pos,
              CAST(count(*) AS BIGINT) AS n,
              sum(CAST(CAST(embedding[pos + 1] AS DOUBLE) AS DECIMAL(20,10)))
                AS sum_dec
            FROM x GROUP BY label, pos)
      SELECT label, pos, n,
        CAST(CAST(sum_dec AS VARCHAR) AS DOUBLE) / n AS mean_v
      FROM s"""))

  /** Q89 — hard-negative mining: for each query vector (vec_id < 10,
    * labeled), the top-3 most-similar vectors carrying a DIFFERENT
    * label — the contrastive-training primitive (the best negatives are
    * the near-misses, not random draws). Same broadcast-query scan
    * shape as q25 — the corpus streams once, no shuffle — with the
    * cross-label predicate applied before ranking; at 100 TB this is
    * q25's plan plus one codegen'd filter. */
  /** Core of q89 over any (vec_id, label, embedding) frame. */
  def hardNegatives(embeddings: org.apache.spark.sql.DataFrame,
      k: Int = 3, nQueries: Int = 10): org.apache.spark.sql.DataFrame = {
    val e = withNorm(embeddings
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding")))
    val q = e.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      col("embedding").as("qemb"), col("nrm").as("qnrm"))
      .filter(col("qid") < nQueries)
    topKByCosine(e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id").as("nid"),
        col("label").as("neg_label"),
        cosineF(col("embedding"), col("qemb"), col("nrm"), col("qnrm"))
          .as("cos_sim")), "qid", "nid", k)
  }

  val q89: Q = Q(
    "q89_hard_negatives",
    run = { (spark, dir) => hardNegatives(Tables.embeddings(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
                 FROM embeddings
                 WHERE embedding IS NOT NULL AND label IS NOT NULL),
      q AS (SELECT vec_id AS qid, label AS qlabel, emb AS qemb
            FROM e WHERE vec_id < 10),
      p AS (SELECT q.qid, e.vec_id AS nid, e.label AS neg_label,
              list_sum(list_transform(list_zip(e.emb, q.qemb), x -> x[1]*x[2])) /
              (sqrt(list_sum(list_transform(e.emb, x -> x*x)))
                * sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) AS cos_sim
            FROM e, q WHERE e.label <> q.qlabel),
      r AS (SELECT qid, nid, neg_label, cos_sim,
              CAST(row_number() OVER (PARTITION BY qid
                ORDER BY cos_sim DESC, nid) AS INTEGER) AS rnk
            FROM p)
      SELECT qid, nid, neg_label, cos_sim, rnk FROM r WHERE rnk <= 3"""))

  /** Q105 — per-label embedding outliers (mislabel / contamination
    * detection): squared euclidean distance of each member to its own
    * label centroid, top-3 farthest per label. The centroid is q66's
    * exact recipe (decimal element sums — partial-agg-order-free,
    * divided once per element); the distance is then ONE index-ordered
    * double fold — `aggregate(zip_with(emb, centroid, (v,m) -> (v−m)²))`
    * ≡ DuckDB `list_sum(list_transform(list_zip(...)))` — the q25
    * accumulation recipe, NOT a row-explode SUM whose partial-agg order
    * would be engine-dependent. A fixed-point `floor` variant was tried
    * and rejected: a 1-ulp mean difference between the engines' decimal→
    * double casts flips a floor at 1e-12 resolution, while the double
    * distance absorbs ulp wobble invisibly below the 6dp hash rounding.
    *
    * Scale shape: one explode + hash-agg for centroids (label×dim rows —
    * tiny), centroids re-assembled into per-label arrays and BROADCAST
    * back to the un-exploded corpus: the scoring pass streams the
    * vectors once with no shuffle; only the per-label top-k window
    * shuffles, on label. */
  def labelOutliers(embeddings: org.apache.spark.sql.DataFrame,
      topK: Int = 3): org.apache.spark.sql.DataFrame = {
    val e = embeddings
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding"))
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("double").cast("decimal(20,10)"))
          .cast("double").as("sum_v"))
      .select(col("label"), col("pos"), (col("sum_v") / col("n")).as("mean_v"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mean_v)))," +
        " s -> s.mean_v)").as("centroid"))
    e.join(broadcast(cent), Seq("label"))
      .withColumn("dist_sq", sqL2("embedding", "centroid"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("dist_sq").desc, col("vec_id").asc)))
      .filter(col("rnk") <= topK)
      .select(col("label"), col("vec_id"), col("dist_sq"), col("rnk"))
  }

  val q105: Q = Q(
    "q105_label_outliers",
    run = { (spark, dir) => labelOutliers(Tables.embeddings(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT vec_id, label, embedding FROM embeddings
                 WHERE embedding IS NOT NULL AND label IS NOT NULL),
      x AS (SELECT vec_id, label,
              CAST(pos AS INTEGER) AS pos,
              CAST(embedding[pos + 1] AS DOUBLE) AS v
            FROM (SELECT vec_id, label, embedding,
                    unnest(generate_series(0, len(embedding) - 1)) AS pos
                  FROM e)),
      c AS (SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
              sum(CAST(v AS DECIMAL(20,10))) AS sum_dec
            FROM x GROUP BY label, pos),
      m AS (SELECT label, pos,
              CAST(CAST(sum_dec AS VARCHAR) AS DOUBLE) / n AS mean_v
            FROM c),
      cent AS (SELECT label, list(mean_v ORDER BY pos) AS centroid
               FROM m GROUP BY label),
      d AS (SELECT e.label, e.vec_id,
              list_sum(list_transform(
                list_zip(e.embedding::DOUBLE[], cent.centroid),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist_sq
            FROM e JOIN cent ON e.label = cent.label),
      r AS (SELECT label, vec_id, dist_sq,
              CAST(row_number() OVER (PARTITION BY label
                ORDER BY dist_sq DESC, vec_id ASC) AS INTEGER) AS rnk
            FROM d)
      SELECT label, vec_id, dist_sq, rnk FROM r WHERE rnk <= 3"""))

  /** Q111 — SemDeDup-style semantic deduplication (cluster-then-dedup;
    * published recipe: Abbas et al. 2023, "SemDeDup", arXiv:2303.09540):
    * assign every vector to its nearest cluster center, then inside each
    * cluster mark a vector `removed` when its cosine similarity to some
    * HIGHER-PRIORITY member reaches the threshold. Priority follows the
    * paper: keep the members FARTHEST from the centroid first (low
    * centroid-similarity survivors preserve diversity), ties on vec_id.
    *
    * The registry entry feeds the q66 label centroids as the k centers so
    * the whole operator — assignment argmin included — is deterministic
    * and DuckDB-oracle-able end-to-end; production swaps in the q48 IVF
    * KMeans centroids through this same (vectors, centers) seam, where
    * k ≈ √n keeps the within-cluster pair join bounded. Every distance /
    * similarity is the pinned index-ordered double fold (q25/q105
    * recipe), so both engines compare bit-identical doubles at the τ and
    * argmin knife edges.
    *
    * Scale shape: centers are broadcast (k·dim doubles); assignment
    * streams the corpus once against the broadcast as a zero-exchange
    * projection argmin ([[CenterAssign]] — the round-9 vec_id argmin
    * window shuffled the corpus just to pick the min of k co-located
    * rows); the suppression join shuffles once on cluster id and is
    * quadratic only within a cluster.
    */
  def semDedup(vectors: org.apache.spark.sql.DataFrame,
      centers: org.apache.spark.sql.DataFrame,
      tau: Double = 0.35): org.apache.spark.sql.DataFrame = {
    val e = withNorm(vectors.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")))
    val assigned = CenterAssign.withNearest(e, centers)
      .select(col("vec_id"), col("cluster"), col("dist_sq"),
        col("embedding"), col("nrm"))
      .withColumn("rep_rank", row_number().over(
        Window.partitionBy("cluster")
          .orderBy(col("dist_sq").desc, col("vec_id").asc)))
    val sup = assigned.select(col("cluster").as("s_cluster"),
      col("rep_rank").as("s_rank"), col("embedding").as("s_emb"),
      col("nrm").as("s_nrm"))
    val removed = assigned.join(sup,
        col("cluster") === col("s_cluster") &&
          col("s_rank") < col("rep_rank") &&
          cosineF(col("embedding"), col("s_emb"), col("nrm"), col("s_nrm"))
            >= tau,
        "left_semi")
      .select(col("vec_id").as("r_id"))
    assigned.join(removed, col("vec_id") === col("r_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dist_sq"), col("rep_rank"),
        col("r_id").isNotNull.as("removed"))
  }

  /** The q66 per-label centroids reshaped to (center_id, centroid)
    * arrays — the deterministic cluster centers q111's testbed feeds
    * [[semDedup]]. */
  def labelCenters(embeddings: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    embeddings
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("double").cast("decimal(20,10)"))
          .cast("double").as("sum_v"))
      .select(col("label"), col("pos"), (col("sum_v") / col("n")).as("mean_v"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mean_v)))," +
        " s -> s.mean_v)").as("centroid"))
      .select(col("label").as("center_id"), col("centroid"))

  /** The q48 IVF KMeans centroids adapted to [[semDedup]]'s
    * (center_id, centroid) seam — the PRODUCTION center source (k ≈ √n
    * data-driven cells), where the q66 label centroids are the
    * deterministic oracle-able testbed. Same downstream contract:
    * [[semDedup]] output schema and invariants are identical whichever
    * center table is fed (suite-asserted in LexicalSemDedupSpec). */
  def ivfCenters(index: graft.ext.Similarity.IvfIndex): org.apache.spark.sql.DataFrame =
    index.centroids
      .select(col("pcell").cast("int").as("center_id"), col("centroid"))

  val q111: Q = Q(
    "q111_semdedup",
    run = { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      semDedup(Tables.embeddingsParallel(spark, dir), labelCenters(emb))
    },
    oracle = Some("""
      WITH e AS (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL),
      el AS (SELECT vec_id, label, embedding FROM embeddings
             WHERE embedding IS NOT NULL AND label IS NOT NULL),
      x AS (SELECT label, CAST(pos AS INTEGER) AS pos,
              CAST(embedding[pos + 1] AS DOUBLE) AS v
            FROM (SELECT label, embedding,
                    unnest(generate_series(0, len(embedding) - 1)) AS pos
                  FROM el)),
      c AS (SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
              sum(CAST(v AS DECIMAL(20,10))) AS sum_dec
            FROM x GROUP BY label, pos),
      m AS (SELECT label, pos,
              CAST(CAST(sum_dec AS VARCHAR) AS DOUBLE) / n AS mean_v
            FROM c),
      cent AS (SELECT label AS center_id, list(mean_v ORDER BY pos) AS centroid
               FROM m GROUP BY label),
      d AS (SELECT e.vec_id, cent.center_id,
              list_sum(list_transform(
                list_zip(e.embedding::DOUBLE[], cent.centroid),
                x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist_sq
            FROM e, cent),
      a0 AS (SELECT vec_id, center_id, dist_sq,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist_sq ASC, center_id ASC) AS arnk
             FROM d),
      asg AS (SELECT vec_id, center_id AS cluster, dist_sq,
                CAST(row_number() OVER (PARTITION BY center_id
                  ORDER BY dist_sq DESC, vec_id ASC) AS INTEGER) AS rep_rank
              FROM a0 WHERE arnk = 1),
      rem AS (SELECT a.vec_id
              FROM asg a
              JOIN e ea ON a.vec_id = ea.vec_id
              JOIN asg b ON a.cluster = b.cluster AND b.rep_rank < a.rep_rank
              JOIN e eb ON b.vec_id = eb.vec_id
              WHERE list_sum(list_transform(
                  list_zip(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]),
                  x -> x[1] * x[2])) /
                (sqrt(list_sum(list_transform(ea.embedding::DOUBLE[], x -> x*x)))
                  * sqrt(list_sum(list_transform(eb.embedding::DOUBLE[], x -> x*x))))
                >= 0.35
              GROUP BY a.vec_id)
      SELECT a.vec_id, a.cluster, a.dist_sq, a.rep_rank,
        (rem.vec_id IS NOT NULL) AS removed
      FROM asg a LEFT JOIN rem ON a.vec_id = rem.vec_id"""))

  /** q218 — EMBEDDING-STORE HYGIENE AUDIT per label: the vector-store
    * checks run before anything consumes a new embedding batch — null
    * vectors (upstream encode failures), zero-norm vectors (cosine is
    * undefined on them; they poison ANN graphs silently), and the
    * squared-norm distribution (a shifted norm profile flags an
    * encoder version change). Squared norms, never norms: sq = ⟨v,v⟩
    * via the codegen'd `vec_dot_f` fold (≡ DuckDB's in-order double
    * fold, the q25-proven identity) is a deterministic per-row double,
    * and the MEAN sums those as exact decimals — summing sqrt values
    * would be FP-order-dependent. One hash-agg over the store; label
    * cardinality bounds the output. */
  val q218: Q = Q(
    "q218_embedding_audit",
    run = { (spark, dir) =>
      graft.GraftExtensions.install(spark)
      Tables.embeddings(spark, dir)
        .select(col("label"),
          when(col("embedding").isNull, lit(null))
            .otherwise(dotF(col("embedding"), col("embedding")).cast("double"))
            .as("sq"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("sq").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("sq") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          (sum(col("sq").cast("decimal(30,12)")).cast("double") /
            nullif(count(col("sq")), lit(0L))).as("mean_sq_norm"),
          min(col("sq")).as("min_sq_norm"),
          max(col("sq")).as("max_sq_norm"))
    },
    oracle = Some("""
      WITH e AS (SELECT label,
          CASE WHEN embedding IS NULL THEN NULL
            ELSE list_sum(list_transform(embedding::DOUBLE[], x -> x*x))
          END AS sq
        FROM embeddings)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        CAST(sum(CASE WHEN sq IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_null,
        CAST(sum(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        CAST(CAST(sum(CAST(sq AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE)
          / nullif(count(sq), 0) AS mean_sq_norm,
        min(sq) AS min_sq_norm,
        max(sq) AS max_sq_norm
      FROM e GROUP BY label"""))

  val all: Seq[Q] = Seq(q25, q32, q66, q89, q105, q111, q218)
}
