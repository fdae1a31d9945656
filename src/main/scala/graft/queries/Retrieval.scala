package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.{Q, Tables}
import graft.functions.VectorFunctions._

/** Retrieval-style scoring over the corpus (SURVEY.md §2.8, round-8
  * additions): BM25 term-relevance ranking and k-NN pseudo-labeling —
  * the two "select/label data by relevance to something" primitives a
  * training-data pipeline runs between dedup and sampling.
  *
  * Both follow the repo's hash-portability recipes: BM25 uses INTEGER
  * milli-unit arithmetic throughout (the q68/q90 integer-score recipe —
  * Spark `DIV` ≡ DuckDB `//` on non-negative BIGINTs), and k-NN uses
  * the q25 cosine recipe (codegen'd `vec_dot_f`, index-order float→
  * double accumulation ≡ DuckDB `list_sum(list_transform(...))`) with
  * an all-integer output row so the vote, not the float, is hashed.
  */
object Retrieval {

  /** Core of q102 over any (doc_id, text) frame: integer-proxy BM25.
    *
    * Real BM25 is `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with k1=1.2, b=0.75. Every factor here is the same quantity in
    * fixed-point: `norm_k ≈ 1000·(1−b+b·dl/avgdl)`,
    * `tfsat_k ≈ 1000·saturation`, `idf_k ≈ 1000·(N−df+½)/(df+½)`
    * (the rational core of the idf — `ln` is monotone, so dropping it
    * reorders nothing within a term, and integer math makes the score
    * hash-identical across engines).
    *
    * Query terms are self-selected: the 8 highest-df tokens that still
    * appear in ≤5% of documents (df·20 ≤ N) — common enough to retrieve,
    * rare enough that idf is meaningful — making the operator a pure
    * function of the corpus.
    *
    * Scale shape: explode → tf (staged once, feeds df + dl + scores) →
    * the 8-row query-term table and the 1-row corpus scalars broadcast;
    * the only corpus-sized shuffles are the tf/dl hash-aggs on doc_id
    * and the df agg on token (vocabulary-bounded). Scoring is a
    * broadcast-semijoin of tf against 8 terms — no shuffle. */
  def bm25(d: DataFrame, nTerms: Int = 8, topK: Int = 3): DataFrame =
    bm25From(graft.operators.Stage.materialize(tfOf(d), "bm25-tf"),
      nTerms, topK)

  /** The (doc_id, token, tf) term-frequency table of a (doc_id, text)
    * frame — the artifact every lexical-retrieval operator starts
    * from. */
  private def tfOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** The registry corpus's tf table, staged ONCE per (session, corpus
    * snapshot) and shared by q102 and q152 — the q48/q117 session-
    * amortization seam: retrieval queries probe a landed artifact,
    * they don't re-aggregate the corpus per invocation. */
  private[graft] def tfFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"retrieval-tf|$dir") {
      graft.operators.Stage.materialize(
        tfOf(Tables.documents(spark, dir).filter(col("text").isNotNull)),
        "retrieval-tf")
    }

  /** The ONE spelling of the fixed-point BM25 factors — q102, q152's
    * lexical arm, and q156's re-score all compose these same three
    * strings (and their DuckDB twins spell the same arithmetic), so a
    * constant retune cannot silently diverge the family. */
  private val Bm25NormK = "250 + (750 * dl * n_docs) DIV sum_dl"
  private val Bm25TfsatK =
    "(tf * 2200 * 1000) DIV (tf * 1000 + (1200 * norm_k) DIV 1000)"
  private val Bm25IdfK =
    "((2 * (n_docs - df) + 1) * 1000) DIV (2 * df + 1)"

  /** The corpus scalars every BM25-family operator derives from tf:
    * per-doc length, the 1-row corpus totals, per-token df. */
  private def bm25Scalars(tf: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val scal = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfTab = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    (dl, scal, dfTab)
  }

  /** The self-selected query terms (token, df): the nTerms highest-df
    * tokens that still satisfy the df·20 ≤ N rarity rule.
    * orderBy+limit plans TakeOrderedAndProject over the vocabulary-
    * sized df table — a partition-less row_number here would move the
    * WHOLE vocabulary to one partition to pick 8 rows. The sort key
    * (df, token) is a total order (token is unique), so the limit
    * picks exactly the oracle's trnk <= nTerms set. */
  private def queryTermsOf(dfTab: DataFrame, scal: DataFrame,
      nTerms: Int): DataFrame =
    dfTab.crossJoin(broadcast(scal))
      .filter(col("df") * 20 <= col("n_docs"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(nTerms)
      .select(col("token"), col("df"))

  /** [[bm25]] over a prebuilt (landed) tf table. `scalars` lets a
    * caller that already aggregated (dl, scal, dfTab) — q156's
    * feedback pass — share them instead of planning the corpus aggs
    * twice. */
  def bm25From(tf: DataFrame, nTerms: Int = 8, topK: Int = 3,
      scalars: Option[(DataFrame, DataFrame, DataFrame)] = None)
      : DataFrame = {
    val (dl, scal, dfTab) = scalars.getOrElse(bm25Scalars(tf))
    val qterms = queryTermsOf(dfTab, scal, nTerms)
    tf.join(broadcast(qterms), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(scal))
      .withColumn("norm_k", expr(Bm25NormK))
      .withColumn("tfsat_k", expr(Bm25TfsatK))
      .withColumn("idf_k", expr(Bm25IdfK))
      .withColumn("score", col("idf_k") * col("tfsat_k"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("token"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= topK)
      .select(col("token"), col("df"), col("doc_id"), col("tf"), col("dl"),
        col("score"), col("rnk"))
  }

  /** q102 — BM25 top-3 documents per self-selected query term. */
  val q102: Q = Q(
    "q102_bm25",
    run = { (spark, dir) => bm25From(tfFor(spark, dir)) },
    oracle = Some("""
      WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
      tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY doc_id, token),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
             FROM tf GROUP BY doc_id),
      scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY token),
      qt AS (SELECT token, df FROM (
               SELECT token, df,
                 row_number() OVER (ORDER BY df DESC, token ASC) AS trnk
               FROM dft CROSS JOIN scal WHERE df * 20 <= n_docs)
             WHERE trnk <= 8),
      s AS (SELECT tf.token, qt.df, tf.doc_id, tf.tf, dl.dl,
              250 + (750 * dl.dl * scal.n_docs) // scal.sum_dl AS norm_k,
              scal.n_docs, scal.sum_dl
            FROM tf JOIN qt USING (token) JOIN dl USING (doc_id)
            CROSS JOIN scal),
      s2 AS (SELECT token, df, doc_id, tf, dl,
               (tf * 2200 * 1000) // (tf * 1000 + (1200 * norm_k) // 1000)
                 AS tfsat_k,
               ((2 * (n_docs - df) + 1) * 1000) // (2 * df + 1) AS idf_k
             FROM s),
      r AS (SELECT token, df, doc_id, tf, dl,
              CAST(idf_k * tfsat_k AS BIGINT) AS score,
              CAST(row_number() OVER (PARTITION BY token
                ORDER BY idf_k * tfsat_k DESC, doc_id ASC) AS INTEGER) AS rnk
            FROM s2)
      SELECT token, df, doc_id, tf, dl, score, rnk FROM r WHERE rnk <= 3"""))

  /** Core of q103 over any (vec_id, label, embedding) frame: k-NN
    * majority-vote pseudo-labeling. The labeled seed is every tenth
    * vector (`vec_id % 10 = 0` — a residue split, stable across scale
    * factors); every other vector gets the majority label of its 5
    * nearest seed neighbors by cosine, ties broken toward the smaller
    * label. Output is all-integer (votes, labels), so hash stability
    * does not rest on float equality — floats only ORDER candidates,
    * the q25-proven recipe.
    *
    * Scale shape: the seed set broadcasts (it is the small labeled
    * asset; the corpus is the big side), the corpus streams once with
    * no shuffle, and the vote is a tiny per-vector window over ≤ 5·k
    * rows. At 100 TB this is a broadcast-scan plus two narrow windows —
    * the same plan q25/q89 carry. */
  def knnClassify(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val e = withNorm(embeddings
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding")))
    val seed = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("sid"), col("label").as("slabel"),
        col("embedding").as("semb"), col("nrm").as("snrm"))
    val test = e.filter(col("vec_id") % 10 =!= 0)
    val nn = topKByCosine(test.crossJoin(broadcast(seed))
      .select(col("vec_id"), col("label").as("true_label"), col("sid"),
        col("slabel"),
        cosineF(col("embedding"), col("semb"), col("nrm"), col("snrm"))
          .as("cos_sim")), "vec_id", "sid", k, rank = "nrnk")
    nn.groupBy(col("vec_id"), col("true_label"), col("slabel"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vrnk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("n_votes").desc, col("slabel").asc)))
      .filter(col("vrnk") === 1)
      .select(col("vec_id"), col("true_label"),
        col("slabel").as("pred_label"), col("n_votes"))
  }

  /** q103 — k-NN pseudo-labeling from a 10% labeled seed. */
  val q103: Q = Q(
    "q103_knn_classify",
    run = { (spark, dir) => knnClassify(Tables.embeddings(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
                 FROM embeddings
                 WHERE embedding IS NOT NULL AND label IS NOT NULL),
      seed AS (SELECT vec_id AS sid, label AS slabel, emb AS semb
               FROM e WHERE vec_id % 10 = 0),
      test AS (SELECT vec_id, label AS true_label, emb
               FROM e WHERE vec_id % 10 <> 0),
      p AS (SELECT t.vec_id, t.true_label, s.sid, s.slabel,
              list_sum(list_transform(list_zip(t.emb, s.semb),
                x -> x[1]*x[2])) /
              (sqrt(list_sum(list_transform(t.emb, x -> x*x)))
                * sqrt(list_sum(list_transform(s.semb, x -> x*x))))
                AS cos_sim
            FROM test t, seed s),
      nn AS (SELECT vec_id, true_label, slabel FROM (
               SELECT vec_id, true_label, slabel,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos_sim DESC, sid ASC) AS nrnk
               FROM p) WHERE nrnk <= 5),
      v AS (SELECT vec_id, true_label, slabel,
              CAST(count(*) AS BIGINT) AS n_votes
            FROM nn GROUP BY vec_id, true_label, slabel),
      r AS (SELECT vec_id, true_label, slabel, n_votes,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY n_votes DESC, slabel ASC) AS vrnk FROM v)
      SELECT vec_id, true_label, slabel AS pred_label, n_votes
      FROM r WHERE vrnk = 1"""))

  /** Core of q108: margin-based bitext mining (the parallel-corpus
    * pair-mining recipe: a nearest-neighbor hit only counts when it
    * BEATS the runner-up by a margin — absolute cosine is miscalibrated
    * across language subspaces, the gap is not). For every non-hub
    * vector, the top-2 hub-language (en) neighbors by cosine; the
    * emitted candidate carries `cos_sim`, `margin = cos1 − cos2`
    * (0 when the hub has a single vector), and the threshold decision
    * stays downstream — the operator mines the scored candidate table.
    *
    * Lang rides in from the documents table (vec_id = doc_id in the
    * fixtures) via one equi-join. The hub index is the broadcast side —
    * the q25/q89/q103 exact-scan baseline; at corpus scale the hub side
    * swaps to the q48 IVF index, same downstream contract. */
  def bitextMine(embeddings: DataFrame, docs: DataFrame,
      hub: String = "en"): DataFrame = {
    val e = withNorm(embeddings
      .filter(col("embedding").isNotNull)
      .join(docs.select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
      .filter(col("lang").isNotNull)
      .select(col("vec_id"), col("lang"), col("embedding")))
    val tgt = e.filter(col("lang") === hub)
      .select(col("vec_id").as("tid"), col("embedding").as("temb"),
        col("nrm").as("tnrm"))
    val src = e.filter(col("lang") =!= hub)
    val ranked = topKByCosine(src.crossJoin(broadcast(tgt))
      .select(col("vec_id").as("src_id"), col("lang").as("src_lang"),
        col("tid"),
        cosineF(col("embedding"), col("temb"), col("nrm"), col("tnrm"))
          .as("cos_sim")), "src_id", "tid", 2)
    ranked
      .withColumn("cos2", lead(col("cos_sim"), 1).over(
        Window.partitionBy(col("src_id"))
          .orderBy(col("rnk").asc)))
      .filter(col("rnk") === 1)
      .select(col("src_id"), col("src_lang"), col("tid").as("tgt_id"),
        col("cos_sim"),
        (col("cos_sim") - coalesce(col("cos2"), lit(0.0))).as("margin"))
  }

  /** q108 — margin-based bitext candidate mining against the en hub. */
  val q108: Q = Q(
    "q108_bitext_mining",
    run = { (spark, dir) =>
      bitextMine(Tables.embeddings(spark, dir), Tables.documents(spark, dir))
    },
    oracle = Some("""
      WITH e AS (SELECT em.vec_id, d.lang, em.embedding::DOUBLE[] AS emb
                 FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id
                 WHERE em.embedding IS NOT NULL AND d.lang IS NOT NULL),
      tgt AS (SELECT vec_id AS tid, emb AS temb FROM e WHERE lang = 'en'),
      src AS (SELECT vec_id, lang, emb FROM e WHERE lang <> 'en'),
      p AS (SELECT s.vec_id AS src_id, s.lang AS src_lang, t.tid,
              list_sum(list_transform(list_zip(s.emb, t.temb),
                x -> x[1]*x[2])) /
              (sqrt(list_sum(list_transform(s.emb, x -> x*x)))
                * sqrt(list_sum(list_transform(t.temb, x -> x*x))))
                AS cos_sim
            FROM src s, tgt t),
      r AS (SELECT src_id, src_lang, tid, cos_sim,
              row_number() OVER (PARTITION BY src_id
                ORDER BY cos_sim DESC, tid ASC) AS rnk
            FROM p),
      m AS (SELECT src_id, src_lang, tid, cos_sim, rnk,
              lead(cos_sim, 1) OVER (PARTITION BY src_id ORDER BY rnk ASC)
                AS cos2
            FROM r WHERE rnk <= 2)
      SELECT src_id, src_lang, tid AS tgt_id, cos_sim,
        cos_sim - COALESCE(cos2, 0.0) AS margin
      FROM m WHERE rnk = 1"""))

  /** Core of q122 over any (doc_id, text) frame: segment-chunked
    * delta-encoded posting lists. `segSize` bounds EVERY per-group
    * state: even a stopword that appears in all N docs yields
    * ceil(N/segSize) bounded lists, never one N-sized array — the
    * skew bound that makes an inverted index buildable at 100 TB
    * (real engines shard postings exactly this way). */
  private def postingsTf(docs: DataFrame, segSize: Int): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("segment", expr(s"doc_id div $segSize"))

  private def postingsFinish(tf: DataFrame): DataFrame = {
    // the window and the final agg share (token, segment) keys, so the
    // sorted exchange is planned once — one token-keyed shuffle total
    // beyond the tf agg
    val w = Window.partitionBy(col("token"), col("segment"))
      .orderBy(col("doc_id"))
    tf.withColumn("delta", col("doc_id") - lag(col("doc_id"), 1, 0L).over(w))
      .groupBy(col("token"), col("segment"))
      .agg(count(lit(1)).as("seg_df"), sum(col("tf")).as("seg_tf"),
        concat_ws(",",
          transform(array_sort(collect_list(struct(col("doc_id"),
            col("delta")))), s => s.getField("delta").cast("string")))
          .as("deltas"))
  }

  def invertedPostings(docs: DataFrame, segSize: Int = 100): DataFrame =
    postingsFinish(postingsTf(docs, segSize))

  /** Core of q124: recompute ONLY the (token, segment) postings rows an
    * incoming batch touches. The touched-key set (every token of every
    * batch doc, in that doc's segment) is batch-bounded and broadcast
    * into a semi-join that restricts the corpus tf stream BEFORE the
    * sort/agg — shuffled bytes are proportional to the touched set,
    * never the corpus. With the tf table bucketed on (token, segment)
    * (`Stage.materializeBucketed`, the q101 CSR posture) the semi-join
    * additionally prunes the scan to touched buckets; either way the
    * index maintenance cost follows the batch, which is what makes a
    * 100 TB index updatable daily without a rebuild. Untouched rows are
    * untouched by construction — the suite asserts
    * (old index minus touched keys) ∪ this == full rebuild. */
  def postingsUpdate(corpus: DataFrame, batch: DataFrame,
      segSize: Int = 100): DataFrame = {
    // round 17 (guide §2.4): ONE tokenize pass instead of two — the old
    // shape tokenized the full union for the recompute AND re-tokenized
    // the batch for the touched-key set. The union rows are tagged by
    // side before the explode, the tf agg carries max(tag), and the
    // staged tf table serves both the touched derivation and the
    // semi-joined recompute (it is referenced twice — Catalyst would
    // otherwise re-run the tokenize+agg per reference). tf counts are
    // unchanged (the tag never enters the group key), and `touched` is
    // exactly the batch's (token, segment) set: a pair carries
    // max(tag)=1 iff some batch row produced it.
    val tagged = corpus.withColumn("_b", lit(0))
      .unionByName(batch.withColumn("_b", lit(1)))
    val tf = graft.operators.Stage.materialize(
      tagged.filter(col("text").isNotNull)
        .select(col("doc_id"), col("_b"),
          explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf"), max(col("_b")).as("_anyb"))
        .withColumn("segment", expr(s"doc_id div $segSize")),
      "postings-tf")
    val touched = tf.filter(col("_anyb") === 1)
      .select(col("token"), col("segment")).distinct()
    postingsFinish(tf
      .select(col("token"), col("doc_id"), col("tf"), col("segment"))
      .join(broadcast(touched), Seq("token", "segment"), "left_semi"))
  }

  /** q124 — incremental postings maintenance: the q115 batch split
    * (doc_id % 10 == 7 is the incoming batch) applied to the q122
    * index — emits the recomputed rows for exactly the touched
    * (token, segment) keys. */
  val q124: Q = Q(
    "q124_incremental_postings",
    run = { (spark, dir) =>
      val docs = Tables.documentsParallel(spark, dir)
      postingsUpdate(docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7))
    },
    oracle = Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents WHERE text IS NOT NULL),
      tf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
             FROM t WHERE len(token) > 0 GROUP BY 1, 2),
      touched AS (SELECT DISTINCT token, doc_id // 100 AS segment
                  FROM tf WHERE doc_id % 10 = 7),
      d AS (SELECT tf.token, tf.doc_id, tf.tf,
              tf.doc_id // 100 AS segment,
              tf.doc_id - lag(tf.doc_id, 1, 0) OVER (
                PARTITION BY tf.token, tf.doc_id // 100
                ORDER BY tf.doc_id) AS delta
            FROM tf JOIN touched
              ON tf.token = touched.token
             AND tf.doc_id // 100 = touched.segment)
      SELECT token, CAST(segment AS BIGINT) AS segment,
        CAST(count(*) AS BIGINT) AS seg_df,
        CAST(sum(tf) AS BIGINT) AS seg_tf,
        array_to_string(list(CAST(delta AS VARCHAR) ORDER BY doc_id), ',')
          AS deltas
      FROM d GROUP BY token, segment"""))

  /** q122 — segment-chunked inverted postings index on `documents`:
    * per (token, 100-doc segment) the doc frequency, term frequency
    * sum, and the delta-encoded (gap-compressed) sorted doc-id list —
    * the on-disk artifact a BM25/boolean retrieval tier serves from.
    * First id in each segment is absolute (lag default 0), later ids
    * are gaps — the standard postings compression layout. */
  val q122: Q = Q(
    "q122_inverted_postings",
    run = { (spark, dir) =>
      invertedPostings(Tables.documentsParallel(spark, dir))
    },
    oracle = Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents WHERE text IS NOT NULL),
      tf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
             FROM t WHERE len(token) > 0 GROUP BY 1, 2),
      d AS (SELECT token, doc_id, tf, doc_id // 100 AS segment,
              doc_id - lag(doc_id, 1, 0) OVER (
                PARTITION BY token, doc_id // 100 ORDER BY doc_id) AS delta
            FROM tf)
      SELECT token, CAST(segment AS BIGINT) AS segment,
        CAST(count(*) AS BIGINT) AS seg_df,
        CAST(sum(tf) AS BIGINT) AS seg_tf,
        array_to_string(list(CAST(delta AS VARCHAR) ORDER BY doc_id), ',')
          AS deltas
      FROM d GROUP BY token, segment"""))

  /** Core of q164: the STORAGE BUDGET of the q122 postings layout —
    * per token, the byte cost of its delta-encoded posting lists under
    * LEB128-style varint coding (7 payload bits per byte — the coding
    * real inverted indexes and parquet DELTA_BINARY_PACKED variants
    * ship) vs the fixed 8-byte raw doc-id encoding, with the per-mille
    * saving. This is the capacity-planning query an index owner runs
    * before provisioning a serving tier: gap-coded postings cost
    * O(df · log(avg_gap)) bytes, not O(df · 8), and the win
    * concentrates exactly in the high-df tokens that dominate the
    * index.
    *
    * Shape: per (token, segment) the sorted doc-id list is rebuilt as
    * a segSize-BOUNDED array (the q122 skew bound — even a stopword
    * yields ceil(N/segSize) bounded lists) and the gap/varint
    * arithmetic runs INSIDE the array via zip_with/aggregate — pure
    * codegen'd expressions, no window, no second sort exchange; one
    * token-keyed agg then folds segments. First id per segment is
    * absolute, later ids are gaps, exactly the bytes q122's `deltas`
    * strings would serialize. */
  def postingsBytes(docs: DataFrame, segSize: Int = 100): DataFrame = {
    // varint size of v ≥ 0: 1 byte for 0, else ceil(bitlen/7); bitlen
    // = length(bin(v)) in BOTH engines (minimal binary, no sign bit
    // for the non-negative gaps/ids here)
    def vbytes(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(v === 0L, lit(1L))
        .otherwise(((length(bin(v)) + lit(6)) / lit(7)).cast("long"))
    val seg = postingsTf(docs, segSize)
      .groupBy(col("token"), col("segment"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val withPrev = seg.withColumn("prevs",
      concat(array(lit(0L)),
        slice(col("ids"), lit(1), size(col("ids")) - lit(1))))
    withPrev
      .select(col("token"), size(col("ids")).cast("long").as("n"),
        aggregate(
          zip_with(col("ids"), col("prevs"), (x, p) => vbytes(x - p)),
          lit(0L), (acc, x) => acc + x).as("vlq"))
      .groupBy(col("token"))
      .agg(sum(col("n")).as("df"),
        (sum(col("n")) * 8).as("raw_bytes"),
        sum(col("vlq")).as("vlq_bytes"))
      .withColumn("saved_milli",
        expr("((raw_bytes - vlq_bytes) * 1000) div raw_bytes"))
  }

  /** q164 — postings storage-budget audit: per token, the varint byte
    * cost of its segment-chunked delta-encoded posting lists vs the
    * raw 8-byte encoding, and the per-mille saving — the
    * capacity-planning readout of the q122 index layout. */
  val q164: Q = Q(
    "q164_postings_bytes",
    run = { (spark, dir) =>
      postingsBytes(Tables.documentsParallel(spark, dir))
    },
    oracle = Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents WHERE text IS NOT NULL),
      tf AS (SELECT token, doc_id FROM t WHERE len(token) > 0
             GROUP BY 1, 2),
      seg AS (SELECT token, doc_id // 100 AS segment,
                list(doc_id ORDER BY doc_id) AS ids
              FROM tf GROUP BY 1, 2),
      b AS (SELECT token, len(ids) AS n,
              CAST(list_sum(list_transform(generate_series(1, len(ids)),
                i -> CASE WHEN ids[i] - (CASE WHEN i = 1 THEN 0
                            ELSE ids[i - 1] END) = 0 THEN 1
                     ELSE (length(bin(ids[i] - (CASE WHEN i = 1 THEN 0
                            ELSE ids[i - 1] END))) + 6) // 7 END))
                AS BIGINT) AS vlq
            FROM seg)
      SELECT token, CAST(sum(n) AS BIGINT) AS df,
        CAST(8 * sum(n) AS BIGINT) AS raw_bytes,
        CAST(sum(vlq) AS BIGINT) AS vlq_bytes,
        CAST((8 * sum(n) - sum(vlq)) * 1000 // (8 * sum(n)) AS BIGINT)
          AS saved_milli
      FROM b GROUP BY token"""))

  /** The (doc_id, pos, token) POSITIONAL postings of the registry
    * corpus — the artifact phrase/proximity queries probe (a positional
    * inverted index is exactly this table keyed by token) — staged once
    * per (session, corpus snapshot), the tfFor recipe. Positions are
    * 0-based split offsets; the EMPTY-token rows are kept so offsets
    * stay aligned with the raw split (the oracle's 1-based `tl[i]`
    * indexing is the same sequence shifted by one). */
  private[graft] def posFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir, s"retrieval-pos|$dir") {
      graft.operators.Stage.materialize(
        Tables.documents(spark, dir).filter(col("text").isNotNull)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "token"))),
        "retrieval-pos")
    }

  /** Core of q162: exact PHRASE search over positional postings — the
    * boolean-retrieval operator BM25 can't express (bag-of-words loses
    * adjacency). Query phrases are self-selected as every ordered pair
    * of q102's rare query terms (nTerms² candidate phrases, broadcast);
    * a match is term1 at position p and term2 at p+1 in the same doc.
    * Emits (w1, w2, doc_id, n_matches, first_pos) for pairs that
    * actually co-occur adjacently — the phrase-postings table a
    * quoted-query tier serves from.
    *
    * Scale shape: the positional postings are the landed session
    * artifact (posFor); BOTH join legs are first restricted to the
    * nTerms rare tokens by a broadcast semi-restriction, so the
    * adjacency equi-join on (doc_id, pos) shuffles only the rare-term
    * postings — the df·20 ≤ N rarity rule is again the complexity
    * bound (a stopword phrase would drag in corpus-sized postings; rare
    * terms keep both sides bucket-bounded). No window, no driver loop;
    * at 100 TB the restriction becomes a postings-index lookup and the
    * adjacency join is per-doc local after the doc_id shuffle. */
  /** [[phraseSearch]] straight from a (doc_id, text) frame — builds the
    * tf and positional-postings inputs inline (hand corpora / tests);
    * the registry rides the session-staged seams instead. */
  def phraseSearchDocs(docs: DataFrame, nTerms: Int = 8): DataFrame = {
    val d = docs.filter(col("text").isNotNull)
    phraseSearch(tfOf(d),
      d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token"))),
      nTerms)
  }

  def phraseSearch(tf: DataFrame, pos: DataFrame,
      nTerms: Int = 8): DataFrame = {
    val (_, scal, dfTab) = bm25Scalars(tf)
    val qt = queryTermsOf(dfTab, scal, nTerms).select(col("token"))
    val p = pos.join(broadcast(qt), Seq("token"))
    val left = p.select(col("doc_id"), col("token").as("w1"), col("pos"))
    val right = p.select(col("doc_id"), col("token").as("w2"),
      (col("pos") - 1).as("pos"))
    left.join(right, Seq("doc_id", "pos"))
      .groupBy(col("w1"), col("w2"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        (min(col("pos")) + 1).cast("long").as("first_pos"))
  }

  /** q162 — exact phrase (adjacency) search: occurrences of every
    * ordered rare-term pair as a two-word phrase, per document, with
    * match count and first 1-based position. */
  val q162: Q = Q(
    "q162_phrase_search",
    run = { (spark, dir) =>
      phraseSearch(tfFor(spark, dir), posFor(spark, dir))
    },
    oracle = Some("""
      WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
      tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY doc_id, token),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
             FROM tf GROUP BY doc_id),
      scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY token),
      qt AS (SELECT token FROM (
               SELECT token,
                 row_number() OVER (ORDER BY df DESC, token ASC) AS trnk
               FROM dft CROSS JOIN scal WHERE df * 20 <= n_docs)
             WHERE trnk <= 8),
      s AS (SELECT doc_id, string_split(text, ' ') AS tl FROM d),
      g AS (SELECT doc_id, tl, unnest(generate_series(1, len(tl) - 1)) AS i
            FROM s),
      b AS (SELECT doc_id, tl[i] AS w1, tl[i + 1] AS w2, i FROM g),
      m AS (SELECT b.doc_id, b.w1, b.w2, b.i FROM b
            JOIN qt q1 ON b.w1 = q1.token
            JOIN qt q2 ON b.w2 = q2.token)
      SELECT w1, w2, doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        CAST(min(i) AS BIGINT) AS first_pos
      FROM m GROUP BY w1, w2, doc_id"""))

  /** Core of q165: PROXIMITY search — ordered rare-term pairs
    * co-occurring within a `window`-token span (Lucene's sloppy-phrase
    * tier; q162's adjacency is the window=1 special case). The right
    * leg of the positional self-join fans each occurrence into
    * `window` (position − δ, δ) candidates so proximity resolves as a
    * pure EQUI-join on (doc_id, pos) — no range predicate, no
    * cartesian; the fan-out multiplies only the broadcast-restricted
    * RARE-term postings (window·|rare postings| rows, the df·20 ≤ N
    * bound times a constant). Emits per ordered pair per doc the
    * window count and the closest distance — the readout a
    * proximity-ranking tier boosts by. */
  def proximitySearch(tf: DataFrame, pos: DataFrame, nTerms: Int = 8,
      window: Int = 4): DataFrame = {
    val (_, scal, dfTab) = bm25Scalars(tf)
    val qt = queryTermsOf(dfTab, scal, nTerms).select(col("token"))
    val p = pos.join(broadcast(qt), Seq("token"))
    val left = p.select(col("doc_id"), col("token").as("w1"), col("pos"))
    val right = p.select(col("doc_id"), col("token").as("w2"),
        col("pos").as("p2"))
      .withColumn("dist", explode(sequence(lit(1), lit(window))))
      .withColumn("pos", col("p2") - col("dist"))
    left.join(right, Seq("doc_id", "pos"))
      .groupBy(col("w1"), col("w2"), col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        min(col("dist")).cast("long").as("min_dist"))
  }

  /** q165 — windowed proximity search: ordered rare-term pairs within
    * 4 tokens, per document, with pair count and closest distance. */
  val q165: Q = Q(
    "q165_proximity_search",
    run = { (spark, dir) =>
      proximitySearch(tfFor(spark, dir), posFor(spark, dir))
    },
    oracle = Some("""
      WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
      tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY doc_id, token),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
             FROM tf GROUP BY doc_id),
      scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY token),
      qt AS (SELECT token FROM (
               SELECT token,
                 row_number() OVER (ORDER BY df DESC, token ASC) AS trnk
               FROM dft CROSS JOIN scal WHERE df * 20 <= n_docs)
             WHERE trnk <= 8),
      s AS (SELECT doc_id, string_split(text, ' ') AS tl FROM d),
      g AS (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i
            FROM s),
      p AS (SELECT doc_id, i, tl[i] AS tok FROM g),
      m AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2, b.i - a.i AS dist
            FROM p a JOIN p b ON a.doc_id = b.doc_id
              AND b.i - a.i BETWEEN 1 AND 4
            JOIN qt q1 ON a.tok = q1.token
            JOIN qt q2 ON b.tok = q2.token)
      SELECT w1, w2, doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        CAST(min(dist) AS BIGINT) AS min_dist
      FROM m GROUP BY w1, w2, doc_id"""))

  /** Core of q152: hybrid lexical+vector retrieval fused with
    * reciprocal-rank fusion (RRF, Cormack/Clarke/Buettcher 2009 — the
    * standard "BM25 arm + embedding arm" production retrieval shape).
    * Query docs are the ones with BOTH text and an embedding; each arm
    * ranks candidates independently and the fused score is
    * `Σ 1e6 DIV (60 + rank)` over the arms a candidate appears in —
    * rank fusion deliberately ignores the incomparable raw scores
    * (integer BM25 proxy vs cosine), which is exactly why RRF is the
    * robust default. All fused arithmetic is integer, so the hash gate
    * rests on ranks (q25-proven for the float arm), never on floats.
    *
    * Scale shape: the corpus-sized work is the same tf/dl/df hash-aggs
    * q102 carries (tf staged once, feeds all three) plus q25's
    * broadcast-scan vector pass; query-term scoring is a broadcast
    * semi-restriction of tf to the queries' RARE terms (df·20 ≤ N — a
    * hot token would drag in the whole corpus per query, the rarity
    * rule is the complexity bound), and the (qid, doc) candidate agg is
    * bounded by the rare-term postings. Fusion joins two query-bounded
    * top-k tables — driver-free, broadcast-sized. At 100 TB both arms
    * swap their scan for the landed indexes (q122 postings, q48/q137
    * IVF[-PQ]) with the fusion contract unchanged. */
  def hybridRetrieve(docs: DataFrame, embeddings: DataFrame,
      nQueries: Int = 8, armK: Int = 20, topK: Int = 10,
      tfPre: Option[DataFrame] = None): DataFrame = {
    val d = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val e = withNorm(embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")))
    // query set: docs with both modalities, id < nQueries
    val qids = d.filter(col("doc_id") < nQueries)
      .join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("qid"))

    // ---- lexical arm (q102's integer BM25 proxy, query terms = the
    // query docs' rare tokens). The registry passes the session-shared
    // landed tf (tfFor); the generic path stages its own. ----
    val tf = tfPre.getOrElse(
      graft.operators.Stage.materialize(tfOf(d), "hybrid-tf"))
    val (dl, scal, dfTab) = bm25Scalars(tf)
    val qterms = tf.join(broadcast(qids), tf("doc_id") === qids("qid"))
      .select(col("qid"), col("token")).distinct()
      .join(dfTab, Seq("token"))
      .crossJoin(broadcast(scal))
      .filter(col("df") * 20 <= col("n_docs"))
      .select(col("qid"), col("token"), col("df"))
    val lex = tf.join(broadcast(qterms), Seq("token"))
      .filter(col("doc_id") =!= col("qid"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(scal))
      .withColumn("norm_k", expr(Bm25NormK))
      .withColumn("tfsat_k", expr(Bm25TfsatK))
      .withColumn("idf_k", expr(Bm25IdfK))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("idf_k") * col("tfsat_k")).as("lex_score"))
      .withColumn("lex_rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("lex_score").desc, col("doc_id").asc)))
      .filter(col("lex_rnk") <= armK)
      .select(col("qid"), col("doc_id"), col("lex_rnk"))

    // ---- vector arm (q25's broadcast-scan cosine) ----
    val vq = e.join(broadcast(qids), e("vec_id") === qids("qid"))
      .select(col("qid"), col("embedding").as("qemb"), col("nrm").as("qnrm"))
    val vec = topKByCosine(e.crossJoin(broadcast(vq))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        cosineF(col("embedding"), col("qemb"), col("nrm"), col("qnrm"))
          .as("cos_sim")), "qid", "doc_id", armK, rank = "vec_rnk")
      .select(col("qid"), col("doc_id"), col("vec_rnk"))

    // ---- reciprocal-rank fusion ----
    lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000 DIV (60 + lex_rnk)"), lit(0L))
          + coalesce(expr("1000000 DIV (60 + vec_rnk)"), lit(0L)))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("doc_id"), col("lex_rnk"), col("vec_rnk"),
        col("rrf"), col("rnk"))
  }

  /** q152 — hybrid retrieval: integer-BM25 lexical arm + cosine vector
    * arm, reciprocal-rank-fused top-10 per query doc. */
  val q152: Q = Q(
    "q152_hybrid_retrieval",
    run = { (spark, dir) =>
      hybridRetrieve(Tables.documents(spark, dir),
        Tables.embeddings(spark, dir), tfPre = Some(tfFor(spark, dir)))
    },
    oracle = Some("""
      WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            WHERE embedding IS NOT NULL),
      q AS (SELECT d.doc_id AS qid FROM d JOIN e ON e.vec_id = d.doc_id
            WHERE d.doc_id < 8),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
      tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY doc_id, token),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
             FROM tf GROUP BY doc_id),
      scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY token),
      qterm AS (SELECT DISTINCT q.qid, tf.token, dft.df
                FROM tf JOIN q ON tf.doc_id = q.qid
                JOIN dft ON dft.token = tf.token
                CROSS JOIN scal
                WHERE dft.df * 20 <= scal.n_docs),
      lp AS (SELECT qterm.qid, tf.doc_id,
               ((2 * (scal.n_docs - qterm.df) + 1) * 1000)
                 // (2 * qterm.df + 1) AS idf_k,
               (tf.tf * 2200 * 1000) // (tf.tf * 1000
                 + (1200 * (250 + (750 * dl.dl * scal.n_docs)
                     // scal.sum_dl)) // 1000) AS tfsat_k
             FROM tf JOIN qterm ON tf.token = qterm.token
             JOIN dl ON dl.doc_id = tf.doc_id
             CROSS JOIN scal
             WHERE tf.doc_id <> qterm.qid),
      lex AS (SELECT qid, doc_id,
                CAST(sum(idf_k * tfsat_k) AS BIGINT) AS lex_score
              FROM lp GROUP BY qid, doc_id),
      lr0 AS (SELECT qid, doc_id,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY lex_score DESC, doc_id ASC) AS INTEGER) AS lex_rnk
              FROM lex),
      lr AS (SELECT * FROM lr0 WHERE lex_rnk <= 20),
      vq AS (SELECT q.qid, e.emb AS qemb FROM q JOIN e ON e.vec_id = q.qid),
      vp AS (SELECT vq.qid, e.vec_id AS doc_id,
               list_sum(list_transform(list_zip(e.emb, vq.qemb),
                 x -> x[1]*x[2])) /
               (sqrt(list_sum(list_transform(e.emb, x -> x*x)))
                 * sqrt(list_sum(list_transform(vq.qemb, x -> x*x))))
                 AS cos_sim
             FROM e, vq WHERE e.vec_id <> vq.qid),
      vr0 AS (SELECT qid, doc_id,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY cos_sim DESC, doc_id ASC) AS INTEGER) AS vec_rnk
              FROM vp),
      vr AS (SELECT * FROM vr0 WHERE vec_rnk <= 20),
      f AS (SELECT COALESCE(l.qid, v.qid) AS qid,
              COALESCE(l.doc_id, v.doc_id) AS doc_id,
              l.lex_rnk, v.vec_rnk,
              COALESCE(1000000 // (60 + l.lex_rnk), 0)
                + COALESCE(1000000 // (60 + v.vec_rnk), 0) AS rrf
            FROM lr l FULL JOIN vr v
              ON l.qid = v.qid AND l.doc_id = v.doc_id),
      r AS (SELECT qid, doc_id, lex_rnk, vec_rnk, CAST(rrf AS BIGINT) AS rrf,
              CAST(row_number() OVER (PARTITION BY qid
                ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rnk
            FROM f)
      SELECT qid, doc_id, lex_rnk, vec_rnk, rrf, rnk FROM r
      WHERE rnk <= 10"""))

  /** Core of q156: pseudo-relevance-feedback query expansion (the
    * RM3 production recipe, all-integer): for each of q102's
    * self-selected query terms, take its top-`fbK` BM25 documents as
    * the FEEDBACK set, promote the `nExp` heaviest co-occurring rare
    * tokens (Σtf within the feedback docs; the df·20 ≤ N rarity rule
    * doubles as the complexity bound exactly as in q102/q152) to
    * expansion terms at half weight, and re-score every document
    * holding any weighted term: total = Σ w·idf·tfsat in integer
    * milli-weights (original 1000, expansion 500). Expansion rescues
    * relevant documents that share NO original term — they enter with
    * score_base = 0 (suite-asserted on a hand corpus).
    *
    * Scale shape: rides the session-landed tf; the feedback set is
    * (nTerms·fbK) rows broadcast; expansion aggregation touches only
    * the feedback docs' tf rows (doc-length-bounded); re-scoring is tf
    * semi-joined by a broadcast ≤ nTerms·(1+nExp)-row weighted term
    * table — shuffles bounded by the postings of a few dozen RARE
    * terms, never the corpus. */
  def prfExpand(tf: DataFrame, nTerms: Int = 8, fbK: Int = 3,
      nExp: Int = 2, topK: Int = 5): DataFrame = {
    val spark = tf.sparkSession
    // round 17 (guide §2.4): the 1-row corpus scalars were referenced
    // four times (both query-term picks, the expansion rarity filter,
    // the final re-score) and each reference re-planned the dl agg
    // under it — they now collect to a LocalRelation once (the
    // bounded-collect contract). dl/dfTab themselves stay lazy: staging
    // them was MEASURED SLOWER at sf0.1 (1.62 → 1.97 s — two parquet
    // writes against re-aggs over the already-staged session tf), and
    // at scale the tf input this operator rides is the landed
    // `retrieval-tf` artifact, so each re-agg is one scan of that
    // parquet, not a corpus re-tokenize.
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfTab = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scRow = dl
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")).head()
    val scal = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(
        scRow.getLong(0),
        if (scRow.isNullAt(1)) null else scRow.getLong(1))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("sum_dl",
          org.apache.spark.sql.types.LongType, nullable = true))))
    // the feedback pass SHARES the scalars just aggregated — without
    // the seam one q156 run would plan the corpus-sized dl/df aggs
    // twice (Catalyst does not dedupe logical subtrees)
    val fb = bm25From(tf, nTerms, fbK, scalars = Some((dl, scal, dfTab)))
      .select(col("token").as("qterm"), col("doc_id"))
    val expand = tf.join(broadcast(fb), Seq("doc_id"))
      .filter(col("token") =!= col("qterm"))
      .groupBy(col("qterm"), col("token"))
      .agg(sum(col("tf")).as("fb_tf"))
      .join(dfTab, Seq("token"))
      .crossJoin(broadcast(scal))
      .filter(col("df") * 20 <= col("n_docs"))
      .withColumn("ernk", row_number().over(
        Window.partitionBy(col("qterm"))
          .orderBy(col("fb_tf").desc, col("token").asc)))
      .filter(col("ernk") <= nExp)
      .select(col("qterm"), col("token").as("term"), col("df"),
        lit(500L).as("w"))
    val orig = queryTermsOf(dfTab, scal, nTerms)
      .select(col("token").as("qterm"), col("token").as("term"),
        col("df"), lit(1000L).as("w"))
    val wterms = orig.unionByName(expand)
    tf.join(broadcast(wterms), tf("token") === wterms("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(scal))
      .withColumn("norm_k", expr(Bm25NormK))
      .withColumn("tfsat_k", expr(Bm25TfsatK))
      .withColumn("idf_k", expr(Bm25IdfK))
      .withColumn("contrib", col("w") * col("idf_k") * col("tfsat_k"))
      .groupBy(col("qterm"), col("doc_id"))
      .agg(
        sum(when(col("w") === 1000L, col("contrib")).otherwise(0L))
          .as("score_base"),
        sum(when(col("w") === 500L, col("contrib")).otherwise(0L))
          .as("score_exp"))
      .withColumn("score_total", col("score_base") + col("score_exp"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qterm"))
          .orderBy(col("score_total").desc, col("doc_id").asc)))
      .filter(col("rnk") <= topK)
      .select(col("qterm"), col("doc_id"), col("score_base"),
        col("score_exp"), col("score_total"), col("rnk"))
  }

  /** q156 — RM3 pseudo-relevance-feedback expansion: top-5 docs per
    * query term after folding in the feedback set's co-occurring rare
    * terms at half weight. */
  val q156: Q = Q(
    "q156_prf_expand",
    run = { (spark, dir) => prfExpand(tfFor(spark, dir)) },
    oracle = Some("""
      WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
      tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY doc_id, token),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
             FROM tf GROUP BY doc_id),
      scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY token),
      qt AS (SELECT token, df FROM (
               SELECT token, df,
                 row_number() OVER (ORDER BY df DESC, token ASC) AS trnk
               FROM dft CROSS JOIN scal WHERE df * 20 <= n_docs)
             WHERE trnk <= 8),
      sc AS (SELECT tf.token, tf.doc_id,
               (((2 * (scal.n_docs - qt.df) + 1) * 1000) // (2 * qt.df + 1))
               * ((tf.tf * 2200 * 1000) // (tf.tf * 1000
                   + (1200 * (250 + (750 * dl.dl * scal.n_docs)
                       // scal.sum_dl)) // 1000)) AS score
             FROM tf JOIN qt USING (token) JOIN dl USING (doc_id)
             CROSS JOIN scal),
      fb AS (SELECT token AS qterm, doc_id FROM (
               SELECT token, doc_id, row_number() OVER (PARTITION BY token
                 ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
             WHERE rnk <= 3),
      exg AS (SELECT fb.qterm, tf.token,
                CAST(sum(tf.tf) AS BIGINT) AS fb_tf
              FROM tf JOIN fb ON tf.doc_id = fb.doc_id
              WHERE tf.token <> fb.qterm GROUP BY 1, 2),
      ex AS (SELECT qterm, token AS term, df, 500 AS w FROM (
               SELECT exg.qterm, exg.token, dft.df,
                 row_number() OVER (PARTITION BY exg.qterm
                   ORDER BY exg.fb_tf DESC, exg.token ASC) AS ernk
               FROM exg JOIN dft USING (token) CROSS JOIN scal
               WHERE dft.df * 20 <= scal.n_docs)
             WHERE ernk <= 2),
      wt AS (SELECT token AS qterm, token AS term, df, 1000 AS w FROM qt
             UNION ALL SELECT qterm, term, df, w FROM ex),
      rs AS (SELECT wt.qterm, tf.doc_id, wt.w,
               wt.w * ((((2 * (scal.n_docs - wt.df) + 1) * 1000)
                   // (2 * wt.df + 1))
                 * ((tf.tf * 2200 * 1000) // (tf.tf * 1000
                     + (1200 * (250 + (750 * dl.dl * scal.n_docs)
                         // scal.sum_dl)) // 1000))) AS contrib
             FROM tf JOIN wt ON tf.token = wt.term
             JOIN dl ON dl.doc_id = tf.doc_id
             CROSS JOIN scal),
      agg AS (SELECT qterm, doc_id,
                CAST(sum(CASE WHEN w = 1000 THEN contrib ELSE 0 END)
                  AS BIGINT) AS score_base,
                CAST(sum(CASE WHEN w = 500 THEN contrib ELSE 0 END)
                  AS BIGINT) AS score_exp
              FROM rs GROUP BY 1, 2)
      SELECT qterm, doc_id, score_base, score_exp,
        CAST(score_base + score_exp AS BIGINT) AS score_total, rnk
      FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qterm
              ORDER BY score_base + score_exp DESC, doc_id ASC)
              AS INTEGER) AS rnk FROM agg)
      WHERE rnk <= 5"""))

  val all: Seq[Q] = Seq(q102, q103, q108, q122, q124, q152, q156, q162,
    q164, q165)
}
