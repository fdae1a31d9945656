package graft.ext

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, MinHashLSHModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.{Q, Tables}

/** MinHash-LSH near-duplicate detection (SURVEY.md §2.D) — the
  * sub-quadratic 100 TB path: shingle → binary HashingTF vector →
  * MinHash signatures → LSH band-bucket join. Spark ML's
  * `approxSimilarityJoin` shuffles only on band-hash buckets, so the
  * candidate set is |bucket|²-bounded rather than N². Not oracle-checked
  * (approximate, hash-seed-dependent); its recall against the exact
  * Jaccard query (q24) is asserted in unit tests.
  */
object MinHashDedup {

  /** Per-doc distinct 3-gram shingle sets (docs with < 3 tokens have no
    * shingles and can never reach Jaccard >= any positive threshold). */
  private def shingled(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.shinglesExpr("toks", 3).as("shingles"))

  /** Shingle sets → binary TF vectors → fitted MinHash model + staged
    * signature table. Staged (not persisted) because a self-join consumes
    * it — see [[graft.operators.Stage]]. */
  private def sketch(sh: DataFrame, numTables: Int,
      hint: String): (MinHashLSHModel, DataFrame) = {
    val tf = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setBinary(true).setNumFeatures(1 << 18)
    val feat = tf.transform(sh)
    val mh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numTables).setSeed(42L)
    val model = mh.fit(feat)
    val hashed = graft.operators.Stage.materialize(
      model.transform(feat).select("doc_id", "features", "hashes"), hint)
    (model, hashed)
  }

  /** Sub-quadratic drop-in for [[graft.queries.TextOps.jaccardPairs]]:
    * same output contract (source-blocked pairs with EXACT 3-gram-set
    * Jaccard >= `threshold`, doc_a < doc_b), but candidates come from the
    * MinHash banding instead of the all-pairs shingle self-join — within
    * a duplicate-dense block the exact path is |block|², the banded path
    * is LSH-bucket-bounded.
    *
    * Two-phase shape: (1) a band-bucket self-join over codegen'd
    * [[graft.functions.MinHashK]] signatures — k longs per doc hashed
    * directly from shingle identity, no ML pipeline, no term-frequency
    * bucketing layer (P(slot collision) is exactly the true Jaccard);
    * (2) candidates join back to the staged shingle sets (ids only ride
    * the band join — the arrays join in afterwards) and the TRUE
    * Jaccard decides, so every emitted pair satisfies exactly the q24
    * predicate.
    *
    * Residual approximation is candidate recall only, and its ONLY
    * mechanism is band non-collision — a true pair sharing zero band
    * buckets never becomes a candidate, and nothing downstream can
    * recover it. Survival probability at Jaccard J is 1 − (1 − J^r)^b,
    * deterministic under the fixed seeds. The fixture fixpoint is
    * verified equal to the exact path in tests, and q49/q52 built on
    * this stay hash-green against the recursive-CTE oracle — though an
    * oracle-red on a NEW corpus may be an expected recall miss of a
    * threshold-adjacent pair, not an engine bug, which is why the
    * oracle-gated Verify run uses the exact generator (see
    * [[DedupCluster.clusters]]).
    *
    * Staging hygiene: the shingle and signature dirs (the big
    * intermediates) are dropped eagerly once the verified pairs are
    * staged; only the small pairs output lives until JVM shutdown, so
    * iterative callers (q49 + q52 in one run) don't accumulate
    * signature-sized staging.
    *
    * AND-amplification knob: `bandWidth` (r) minhashes per band,
    * `numTables` (b) bands:
    *
    *   - r = 1 (the OR-join on single minhashes, same math as Spark's
    *     `approxSimilarityJoin`): 99.6% recall at J = 0.5 with b = 8 —
    *     but ANY frequent shingle (boilerplate, stopword 3-grams, a
    *     small vocabulary) becomes the band minimum for every doc
    *     containing it, gluing unrelated docs into mega-buckets
    *     (measured: p99 bucket 119 docs, 10M junk join pairs on the
    *     dup-dense dry-run corpus — BASELINE.md round-5, "Codegen
    *     MinHashK replaces the ML pipeline"), and a J = 0.08
    *     boilerplate pair still collides with p ≈ 0.49.
    *   - r = 2, b = 8 (16 minhashes, the DEFAULT): junk collision
    *     collapses by J² (~2.5% at J = 0.08) while high-J dedup targets
    *     stay at recall →1; J = 0.5 margin recall is 90%. On BOTH
    *     adversarial dry-run corpora r = 2 emits the identical pair set
    *     as the exact generator at the exact generator's wall time,
    *     where r = 1 is ~5× slower (BASELINE.md).
    *
    * r = 1 remains available when maximum recall at the threshold
    * margin matters more than junk-candidate cost. */
  def bandedJaccardPairs(docs: DataFrame, threshold: Double,
      numTables: Int = 8, bandWidth: Int = 2): DataFrame = {
    val (pairs, cleanup) =
      bandedJaccardPairsRaw(docs, threshold, numTables, bandWidth)
    // general-purpose callers get a self-contained frame: the big
    // intermediates (shingles, signatures) are dropped as soon as the
    // small verified-pairs output is staged
    val staged = graft.operators.Stage.materialize(pairs, "banded-pairs")
    cleanup()
    staged
  }

  /** [[bandedJaccardPairs]] without the final defensive staging: returns
    * the lazy verified-pairs plan plus a cleanup thunk dropping the
    * shingle/signature staging dirs. For callers that stage the result
    * themselves (the clustering loop stages edges anyway) — they call
    * `cleanup()` AFTER materializing, and skip one full write of the
    * pair set. */
  private[ext] def bandedJaccardPairsRaw(docs: DataFrame, threshold: Double,
      numTables: Int = 8, bandWidth: Int = 2): (DataFrame, () => Unit) = {
    val spark = docs.sparkSession
    graft.GraftExtensions.install(spark)
    val sh = graft.operators.Stage.materialize(
      shingled(docs), "banded-shingles")
    // staged signature table: doc_id + (numTables·bandWidth) longs per
    // doc — a fraction of the ML variant's TF vectors + hash-vector UDTs
    val sig = graft.operators.Stage.materialize(
      sh.select(col("doc_id"),
        call_function("minhash_k", col("shingles"),
          lit(numTables * bandWidth)).as("sig")),
      "banded-minhash")
    // band key b = the r adjacent signature slots [b·r, (b+1)·r) hashed
    // together: candidates must agree on ALL r values of some band (AND
    // within a band, OR across the b bands); r = 1 degenerates to the
    // plain slot value
    val bandCols = array((0 until numTables).map { b =>
      if (bandWidth == 1) col("sig")(b)
      else hash(Seq(lit(b)) ++ (0 until bandWidth).map(i =>
        col("sig")(b * bandWidth + i)): _*).cast("long")
    }: _*)
    val banded = sig.select(col("doc_id"),
      posexplode(bandCols).as(Seq("band", "bkey")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = sh.select(col("doc_id").as("doc_a"), col("source"),
      col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("source").as("source_b"),
      col("shingles").as("sh_b"))
    val pairs = cand.join(a, "doc_a").join(b, "doc_b")
      .filter(col("source") === col("source_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
    (pairs, () => Seq(sh, sig).foreach(graft.operators.Stage.release))
  }

  /** Spark ML MinHashLSH variant of the q30 pipeline (HashingTF binary
    * vectors → `approxSimilarityJoin`): near-dup candidate pairs with
    * ML-estimated Jaccard distance <= `threshold`. Deterministic given
    * the fixed seed, but NOT oracle-expressible (the ML hash family is
    * engine-internal), so it lives as a suite-tested alternative while
    * the registry q30 ships the md5 slot family below. */
  def mlApproxPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // Shingle (3-gram) sets, not raw token sets: the fixture vocabulary
    // is tiny, so token-set Jaccard is high for nearly every pair;
    // shingles recover the same near-dup semantics as the exact q24.
    // 6 hash tables: p(candidate | J=0.5) = 1-(1-0.5)^6 ≈ 98% — the
    // recall/cost knee; the fixtures' planted near-dups (J≈0.97) are
    // recalled with probability ~1.
    val (model, hashed) = sketch(
      shingled(docs).drop("source"), numTables = 6, "minhash")
    model.approxSimilarityJoin(hashed, hashed, threshold, "jaccard_dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        col("jaccard_dist"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Slots of the md5 minhash family: slot i of a doc = min over its
    * shingles of md5(i || '|' || shingle). md5 hex compares
    * lexicographically identically in Spark and DuckDB, so signatures —
    * and everything derived from them — are cross-engine checkable. */
  private val kSlots = 12

  /** q30 — near-dup candidate pairs with minhash-estimated Jaccard
    * distance <= 0.5 (i.e. estimated similarity >= 0.5): r=1 banding
    * over [[kSlots]] md5-family minhash slots (candidate = agree on ANY
    * slot — the same OR-amplification as `approxSimilarityJoin`),
    * estimated distance = 1 − (#agreeing slots)/k.
    *
    * Unlike the ML variant ([[mlApproxPairs]]) this hash family is
    * md5-based, so the ENTIRE pipeline — signatures, banding, candidate
    * set, estimated distance — recomputes exactly in DuckDB: a true
    * hash-gate oracle at every scale factor (and under fixture
    * fuzzing), not a frozen fixture pin. P(candidate | J) = 1−(1−J)^k:
    * ≈ 2% at J=0; the fixtures' planted near-dups (J≈0.97) are recalled
    * with probability ~1, and the estimate at J=0.97 concentrates far
    * below the 0.5 distance cut.
    *
    * Scale shape (100 TB): one shingle scan → k md5 mins per doc
    * (map-side combined hash-agg in the oracle; a pure projection fold
    * here), a slot-bucket self-join bounded by bucket occupancy (never
    * N²), and a k-element zip per surviving candidate pair. */
  val q30: Q = Q(
    "q30_dedup_minhash_lsh",
    run = { (spark, dir) =>
      // staged: the signature table feeds the bucket self-join (both
      // sides) + two joins back for the slot-agreement estimate
      val sig = graft.operators.Stage.materialize(
        shingled(Tables.documentsParallel(spark, dir)).drop("source")
          .select(col("doc_id"), expr(
            s"transform(sequence(0, ${kSlots - 1}), i -> " +
              "array_min(transform(shingles, s -> " +
              "md5(concat(CAST(i AS STRING), '|', s)))))").as("sig")),
        "mh30-sig")
      val banded = sig.select(col("doc_id"),
        posexplode(col("sig")).as(Seq("slot", "h")))
      val cand = banded.as("x").join(banded.as("y"),
          col("x.slot") === col("y.slot") && col("x.h") === col("y.h") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val sa = sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val sb = sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard_dist", lit(1.0) -
          expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0))," +
            " 0, (a, v) -> a + v)").cast("double") / kSlots)
        .filter(col("jaccard_dist") <= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard_dist"))
    },
    oracle = Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
      d3 AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
             FROM d WHERE len(toks) >= 3),
      sh AS (SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
             FROM d3),
      slots AS (SELECT doc_id, s.i,
                  min(md5(CAST(s.i AS VARCHAR) || '|' || shingle)) AS h
                FROM sh
                CROSS JOIN (SELECT unnest(generate_series(0, ${kSlots - 1}))
                            AS i) s
                GROUP BY 1, 2),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               FROM slots x JOIN slots y
                 ON x.i = y.i AND x.h = y.h AND x.doc_id < y.doc_id),
      est AS (SELECT c.doc_a, c.doc_b,
                1.0 - CAST(sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END)
                  AS DOUBLE) / $kSlots AS jaccard_dist
              FROM cand c
              JOIN slots sa ON sa.doc_id = c.doc_a
              JOIN slots sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
              GROUP BY 1, 2)
      SELECT doc_a, doc_b, jaccard_dist FROM est
      WHERE jaccard_dist <= 0.5"""))

  val all: Seq[Q] = Seq(q30)
}
