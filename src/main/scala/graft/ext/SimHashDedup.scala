package graft.ext

import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** SimHash near-duplicate detection (SURVEY.md §2.D): 64-bit signature
  * per document computed in ONE projection (no explode/shuffle), then
  * banded into 4×16-bit keys; docs sharing a band are Hamming-distance
  * candidates.
  *
  * Two hash families, same banding semantics:
  *  - `simhash64` (xxhash64-based codegen Catalyst expression,
  *    [[graft.functions.SimHash64]]) — the throughput path; its codegen
  *    ≡ interpreted-HOF equality and near-dup properties are
  *    suite-tested (TextVectorSpec).
  *  - the md5 family below — per-token md5, one ±1 vote per hex-nibble
  *    bit, signature emitted as a 16-hex-char STRING. md5 hex is
  *    bit-identical in Spark and DuckDB, so the REGISTRY query is fully
  *    oracle-expressible at every scale factor (and under fixture
  *    fuzzing) — a true hash gate over the whole signature + banding +
  *    candidate pipeline, where the xxhash64 family was stuck at
  *    rows-only (DuckDB lacks xxhash64, and a frozen-literal oracle
  *    would pin one fixture instead of checking the computation).
  *
  * Cost note (100 TB): the md5 family pays one md5 per distinct token
  * plus 64 nibble-fold ops — a constant factor over xxhash64, still an
  * embarrassingly parallel pure projection with the band self-join as
  * the only shuffle. Production callers chasing throughput use
  * `simhash64`; the two families are interchangeable (any good 64-bit
  * hash basis yields the same near-dup semantics).
  */
object SimHashDedup {

  /** q31 — per-doc md5-family simhash + 4×4-hex-char band keys + number
    * of same-band candidate docs (0 when no near-dup shares a band).
    * Output is per-document so the result is always non-empty; null-text
    * docs carry NULL signature/bands and 0 candidates.
    *
    * Round 17: the signature projection is the codegen'd
    * [[graft.functions.SimHashMd5]] expression — one MessageDigest MD5
    * per token and a tight 64-vote loop, replacing the interpreted
    * HOF chain (per-token md5 hex strings → two conv() radix decodes →
    * 16 intermediate vote arrays → 64 aggregate() folds per row, ~64
    * interpreted lambda dispatches per token). Same signature digit for
    * digit — the DuckDB oracle replays it, and TextVectorSpec pins the
    * expression against the old SQL formulation. */
  val q31: Q = Q(
    "q31_dedup_simhash",
    run = { (spark, dir) =>
      graft.GraftExtensions.install(spark)
      // staged once to temp parquet: the signature table feeds the band
      // self-join (both sides) plus the final join. A persist() here
      // would leak cached blocks to non-Bench callers; staging gives the
      // same evaluate-once guarantee with no session cache state.
      val sigs = graft.operators.Stage.materialize(
        Tables.documentsParallel(spark, dir)
          .withColumn("simhash",
            expr("simhash_md5(array_distinct(split(text, ' ')))"))
          .select(Seq(col("doc_id"), col("simhash")) ++
            (0 until 4).map(i =>
              substring(col("simhash"), 1 + 4 * i, 4).as(s"band$i")): _*),
        "simhash")
      // same-band candidates: ONE posexplode pass (not a 4-way union that
      // would re-evaluate the signature subplan per branch); the self-join
      // shuffles the identical subplan twice → Spark reuses the exchange.
      val bands = sigs
        .filter(col("simhash").isNotNull)
        .select(col("doc_id"),
          posexplode(array((0 until 4).map(i => col(s"band$i")): _*)))
        .withColumnRenamed("pos", "band_idx")
        .withColumnRenamed("col", "band_key")
      val cand = bands.as("x")
        .join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("cand_id"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_band_candidates"))
      sigs.join(cand, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_band_candidates"))
    },
    oracle = Some("""
      WITH docs AS (SELECT doc_id, text FROM documents),
      tk AS (SELECT DISTINCT doc_id, t FROM
               (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM docs WHERE text IS NOT NULL)),
      hx AS (SELECT doc_id, md5(t) AS h FROM tk),
      votes AS (SELECT doc_id, p.p, k.k,
                  sum(CASE WHEN ((strpos('0123456789abcdef',
                        substr(h, p.p + 1, 1)) - 1) >> k.k) & 1 = 1
                      THEN 1 ELSE -1 END) AS vote_sum
                FROM hx
                CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p) p
                CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
                GROUP BY 1, 2, 3),
      nibs AS (SELECT doc_id, p,
                 sum(CASE WHEN vote_sum > 0 THEN (1 << k) ELSE 0 END) AS nib
               FROM votes GROUP BY 1, 2),
      sig AS (SELECT doc_id,
                string_agg(substr('0123456789abcdef',
                  CAST(nib + 1 AS INTEGER), 1), '' ORDER BY p) AS simhash
              FROM nibs GROUP BY doc_id),
      allsig AS (SELECT d.doc_id, s.simhash
                 FROM docs d LEFT JOIN sig s ON s.doc_id = d.doc_id),
      bands AS (SELECT doc_id, b.b AS band_idx,
                  substr(simhash, 1 + 4 * b.b, 4) AS band_key
                FROM allsig
                CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) b
                WHERE simhash IS NOT NULL),
      cand AS (SELECT x.doc_id,
                 CAST(count(DISTINCT y.doc_id) AS BIGINT) AS n_band_candidates
               FROM bands x JOIN bands y
                 ON x.band_idx = y.band_idx AND x.band_key = y.band_key
                    AND x.doc_id <> y.doc_id
               GROUP BY 1)
      SELECT a.doc_id, a.simhash,
        substr(a.simhash, 1, 4) AS band0, substr(a.simhash, 5, 4) AS band1,
        substr(a.simhash, 9, 4) AS band2, substr(a.simhash, 13, 4) AS band3,
        COALESCE(c.n_band_candidates, 0) AS n_band_candidates
      FROM allsig a LEFT JOIN cand c ON c.doc_id = a.doc_id"""))

  val all: Seq[Q] = Seq(q31)
}
