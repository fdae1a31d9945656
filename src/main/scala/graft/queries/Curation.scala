package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** q148 — the end-to-end training-data curation pipeline, composed
  * from the library's own stage seams (SURVEY §2.8 round-11; the
  * round-10 verdict's "the operator a 100 TB training-data user
  * actually runs"):
  *
  *   dedup (q49 clustering → q60 canonical pick)
  *     → quality filter cascade (q98's four predicates, per-doc)
  *     → benchmark decontamination (q55's 8-gram overlap)
  *     → α=½ temperature source mix (q110)
  *     → 2048-token sequence packing (q58)
  *
  * hash-gated on the FINAL packed output, so the gate certifies every
  * stage AND every seam between stages. Each stage consumes the
  * previous stage's survivors; corpus-derived statistics (boilerplate
  * hot set, mix budgets) are computed over the stage's own input —
  * what a production pipeline over staged snapshots does. The ONE
  * deliberate difference from standalone q55: the benchmark shingle
  * set comes from the ORIGINAL corpus (the eval suite is fixed — a
  * benchmark doc deduplicated or quality-filtered away must still
  * flag its near-copies), while candidates are the cascade survivors.
  *
  * Scale shape: every inter-stage seam is a staged parquet barrier
  * (cur-dedup / cur-cascade / cur-decon), so no stage's lineage is
  * ever re-derived by a later stage — by pack time the plan reads
  * ONLY staged survivor tables, never the raw corpus (CurationSpec
  * asserts exactly this on the executed plan). Stage costs are the
  * proven per-operator shapes: block-bounded near-pair generation +
  * staged CC rounds (q49), vocabulary-bounded hot-shingle joins
  * (q71/q98), a broadcast benchmark set (q55 — MBs against 100 TB),
  * source-count-sized budget tables (q110), and one window on the
  * (source, doc_id) pack key (q58).
  */
object Curation {

  /** 8-token shingles of (doc_id, text) — the q55 contamination unit. */
  private def shingles8(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shinglesExpr("toks", 8))
          .as("s"))

  /** q98's four cascade predicates as a per-doc keep — lang allowlist,
    * 20–2,000 tokens, repetition (p3) and boilerplate (p4) — over the
    * non-null-text docs `withText`; `boil` is the boilerplate verdict
    * (doc_id, keep), whose hot set each pipeline derives from its own
    * statistic. Returns the survivors' (doc_id, source, text). */
  private def qualityCascade(withText: DataFrame,
      boil: DataFrame): DataFrame = {
    val rep = PipelineOps.repetitionStats(withText)
      .select(col("doc_id"), col("keep").as("p3"))
    withText
      .withColumn("n_toks", size(split(col("text"), " ")))
      .join(rep, Seq("doc_id"), "left")
      .join(boil.select(col("doc_id"), col("keep").as("p4")),
        Seq("doc_id"), "left")
      .filter(col("lang").isin("de", "en", "es", "fr", "zh") &&
        col("n_toks") >= 20 && col("n_toks") <= 2000 &&
        coalesce(col("p3"), lit(false)) &&
        coalesce(col("p4"), lit(false)))
      .select(col("doc_id"), col("source"), col("text"))
  }

  /** The composed pipeline over any (doc_id, source, lang, n_chars,
    * text) frame. Returns the packed-sequence table (doc_id, source,
    * n_toks, start_off, pack_id) of the curated subset. */
  def curationPipeline(docs: DataFrame,
      exactNearPairs: Boolean = false,
      labels: Option[DataFrame] = None): DataFrame = {
    val Stage = graft.operators.Stage
    // 1) dedup: cluster → canonical winner; survivors staged. Callers
    // holding an already-landed label table (the registry rides the
    // session-shared one) pass it via `labels` — the
    // canonicalFromLabels seam, so the pipeline never re-clusters a
    // corpus some earlier consumer already clustered.
    val canon = (labels match {
      case Some(cl) => graft.ext.DedupCluster.canonicalFromLabels(cl, docs)
      case None => graft.ext.DedupCluster
        .canonicalDocs(docs, exactNearPairs = exactNearPairs)
    }).select(col("canon_doc_id").as("doc_id"))
    val d1 = Stage.materialize(
      docs.join(canon, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text")),
      "cur-dedup")
    // 2) q98's cascade predicates as a per-doc keep (q98 reports the
    // funnel; the pipeline keeps the docs that survive all four)
    val withText = d1.filter(col("text").isNotNull)
    val d2 = Stage.materialize(
      qualityCascade(withText, CorpusOps.boilerplateScore(withText)),
      "cur-cascade")
    // d2 has landed, and nothing downstream reads the dedup barrier
    // (decon's benchmark side reads the ORIGINAL corpus): drop it
    // eagerly, so repeated invocations don't accumulate corpus-sized
    // directories until shutdown
    Stage.release(d1)
    // 3) decontamination: benchmark shingles from the ORIGINAL corpus
    // (fixed eval suite), candidates = cascade survivors; bench docs
    // themselves leave the training pool here (q55's output domain)
    val benchSh = shingles8(docs.filter(col("doc_id") % 97 === 0))
      .select(col("s")).distinct()
    val contaminated = shingles8(d2.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(benchSh), "s")
      .select(col("doc_id")).distinct()
    val d3 = Stage.materialize(
      d2.filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti"),
      "cur-decon")
    Stage.release(d2) // decon landed: the cascade barrier is spent
    // the RESULT scans d3 — it lives until JVM cleanup
    // 4) temperature mix over the clean pool; 5) pack the selection
    val selected = DataMix.sourceMix(d3).select(col("doc_id"))
    PipelineOps.packSequences(d3.join(selected, Seq("doc_id"), "left_semi"))
  }

  /** Per-source base offsets of the already-landed pack stream: the
    * lake's total token count per source, plus any packs appended by
    * earlier increments (`priorPacks` — the streaming twin's running
    * state, read back from its own landed output). Source-count-sized
    * output, broadcast into the append window. */
  private def packBase(corpus: DataFrame,
      priorPacks: Option[DataFrame]): DataFrame = {
    val corpusTok = corpus.filter(col("source").isNotNull)
      .select(col("source"),
        coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
          .as("n_toks"))
    priorPacks.map(p => corpusTok.unionByName(
        p.select(col("source"), col("n_toks"))))
      .getOrElse(corpusTok)
      .groupBy(col("source")).agg(sum(col("n_toks")).as("base_off"))
  }

  /** q58's packing CONTINUED from the lake's per-source offsets: the
    * append semantics of a daily increment — new docs extend each
    * source's concatenated token stream where it left off, so pack_ids
    * keep growing instead of restarting at 0. */
  private def packAppend(survivors: DataFrame, corpus: DataFrame,
      priorPacks: Option[DataFrame]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    survivors.filter(col("source").isNotNull)
      .select(col("doc_id"), col("source"),
        coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
          .as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .join(broadcast(packBase(corpus, priorPacks)), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("n_toks"),
        (coalesce(col("base_off"), lit(0L)) + col("cum") - col("n_toks"))
          .as("start_off"),
        expr("(coalesce(base_off, 0L) + cum - n_toks) div 2048")
          .as("pack_id"))
  }

  /** q151 — the INCREMENTAL curation pipeline (round-11 verdict item
    * 2): the daily-ingest shape a production curation user runs, q115's
    * batch-vs-corpus dedup composed with q148's stages:
    *
    *   new batch
    *     → exact+near dedup vs the EXISTING corpus (q115's
    *       [[PipelineOps.dedupAgainst]], survivors = verdict 'new';
    *       the corpus shingle stream is semi-joined by the broadcast
    *       batch-bounded touched-key set — the q124 recipe, so daily
    *       maintenance shuffles ∝ the batch, never the lake)
    *     → quality cascade (q148's per-doc predicates, with the
    *       boilerplate hot set derived from the CORPUS — the lake's
    *       statistic applied to the batch)
    *     → benchmark decontamination (the fixed eval suite's 8-gram
    *       shingles, broadcast — MBs against 100 TB)
    *     → pack APPEND (q58's window continued from the lake's
    *       per-source token offsets, so the increment extends the
    *       existing pack stream).
    *
    * Differences from q148 are exactly the incremental semantics: no
    * re-clustering of the lake (the batch dedups AGAINST it), no
    * re-mixing (the mix was chosen when the lake was curated; a daily
    * increment appends its clean survivors), and offsets continue
    * rather than restart. Stage barriers land as staged parquet with
    * the q148 eager-drop discipline; the streaming twin
    * ([[graft.streaming.DocStreams.incrementalCurationSink]]) runs
    * THIS function per micro-batch with `priorPacks` read back from
    * its own landed output — suite-asserted ≡ one batch run across an
    * id-ordered 3-way arrival split. */
  def incrementalCuration(batch: DataFrame, corpus: DataFrame,
      benchDocs: DataFrame,
      priorPacks: Option[DataFrame] = None): DataFrame = {
    val Stage = graft.operators.Stage
    // 1) dedup vs the lake — exact hash + near 3-gram Jaccard >= 0.5
    val fresh = PipelineOps.dedupAgainst(batch, corpus, 0.5,
        restrictCorpus = true)
      .filter(col("verdict") === "new").select(col("doc_id"))
    val d1 = Stage.materialize(
      batch.join(fresh, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text")),
      "inc-dedup")
    // 2) cascade: per-doc predicates; hot set from the CORPUS
    val withText = d1.filter(col("text").isNotNull)
    val boil = CorpusOps.boilerplateScoreAgainst(withText,
      CorpusOps.hotShinglesOf(
        corpus.filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"))))
    val d2 = Stage.materialize(qualityCascade(withText, boil), "inc-cascade")
    Stage.release(d1)
    // 3) decontamination vs the fixed eval suite; bench docs arriving
    // in the batch leave the training pool here (q148's output domain)
    val benchSh = shingles8(benchDocs).select(col("s")).distinct()
    val cand = d2.filter(col("doc_id") % 97 =!= 0)
    val contaminated = shingles8(cand)
      .join(broadcast(benchSh), "s")
      .select(col("doc_id")).distinct()
    val d3 = Stage.materialize(
      cand.join(contaminated, Seq("doc_id"), "left_anti"), "inc-decon")
    Stage.release(d2) // the result scans d3 — it lives until JVM cleanup
    // 4) pack APPEND continuing the lake's offsets
    packAppend(d3, corpus, priorPacks)
  }

  val q148: Q = Q(
    "q148_curation_pipeline",
    run = { (spark, dir) =>
      // the pipeline's three stage barriers land once per (session,
      // corpus snapshot) — repeated bench/verify invocations reuse the
      // decon barrier and recompute only the cheap mix+pack tail
      graft.operators.SessionCache.memoOn(spark, dir,
        s"curation-packed|$dir|${graft.ext.DedupCluster.oracleExactMode}") {
        curationPipeline(Tables.documentsParallel(spark, dir),
          labels = Some(graft.ext.DedupCluster.clustersFor(spark, dir,
            graft.ext.DedupCluster.oracleExactMode)))
      }
    },
    oracle = Some(graft.ext.DedupCluster.canonicalCtes + """,
      canon AS (SELECT doc_id FROM r WHERE rn = 1),
      s1 AS (SELECT doc.doc_id, doc.source, doc.lang, doc.text
             FROM documents doc JOIN canon USING (doc_id)),
      dd AS (SELECT doc_id, source, lang, text,
               string_split(text, ' ') AS toks
             FROM s1 WHERE text IS NOT NULL),
      rep2 AS (SELECT doc_id,
                 1.0 - CAST(len(list_distinct(list_transform(
                     generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
                   / (len(toks) - 1) AS dup_bigram_frac,
                 CAST(list_max(list_transform(list_distinct(toks),
                     t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
                   / len(toks) AS top_tok_frac
               FROM dd WHERE len(toks) >= 2),
      g2 AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
             FROM dd WHERE len(toks) >= 3),
      sh2 AS (SELECT DISTINCT doc_id,
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
              FROM g2),
      hot2 AS (SELECT s FROM (SELECT s, count(*) AS nd FROM sh2 GROUP BY s)
               WHERE nd >= 5),
      perdoc2 AS (SELECT doc_id, count(*) AS n_shingles FROM sh2
                  GROUP BY doc_id),
      boiler2 AS (SELECT sh2.doc_id, count(*) AS n_boiler
                  FROM sh2 JOIN hot2 USING (s) GROUP BY sh2.doc_id),
      s2 AS (SELECT dd.doc_id, dd.source, dd.text, dd.toks
             FROM dd
             LEFT JOIN rep2 ON rep2.doc_id = dd.doc_id
             LEFT JOIN perdoc2 ON perdoc2.doc_id = dd.doc_id
             LEFT JOIN boiler2 ON boiler2.doc_id = dd.doc_id
             WHERE dd.lang IN ('de','en','es','fr','zh')
               AND len(dd.toks) >= 20 AND len(dd.toks) <= 2000
               AND COALESCE(rep2.dup_bigram_frac <= 0.2
                     AND rep2.top_tok_frac <= 0.2, false)
               AND COALESCE(CAST(COALESCE(boiler2.n_boiler, 0) AS DOUBLE)
                     / perdoc2.n_shingles <= 0.5, false)),
      bdoc AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents
               WHERE text IS NOT NULL AND doc_id % 97 = 0),
      bg AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 7)) AS i
             FROM bdoc WHERE len(toks) >= 8),
      bsh AS (SELECT DISTINCT
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                toks[i+6] || ' ' || toks[i+7] AS s
              FROM bg),
      cg AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 7)) AS i
             FROM s2 WHERE len(toks) >= 8 AND doc_id % 97 <> 0),
      csh AS (SELECT DISTINCT doc_id,
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                toks[i+6] || ' ' || toks[i+7] AS s
              FROM cg),
      cont AS (SELECT DISTINCT csh.doc_id FROM csh JOIN bsh USING (s)),
      s3 AS (SELECT doc_id, source, toks FROM s2
             WHERE doc_id % 97 <> 0
               AND doc_id NOT IN (SELECT doc_id FROM cont)),
      mdocs AS (SELECT doc_id, source,
                  CAST(len(toks) AS BIGINT) AS n_tok
                FROM s3 WHERE source IS NOT NULL),
      bysrc AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tok
                FROM mdocs GROUP BY source),
      wt AS (SELECT source, src_tok,
               (CASE WHEN CAST(floor(sqrt(src_tok)) AS BIGINT) *
                       CAST(floor(sqrt(src_tok)) AS BIGINT) > src_tok
                 THEN CAST(floor(sqrt(src_tok)) AS BIGINT) - 1
                 ELSE CAST(floor(sqrt(src_tok)) AS BIGINT) END) AS w
             FROM bysrc),
      tot AS (SELECT CAST(sum(src_tok) AS BIGINT) AS all_tok,
                CAST(sum(w) AS BIGINT) AS sum_w FROM wt),
      budgets AS (SELECT source, ((all_tok // 2) * w) // sum_w AS budget
                  FROM wt CROSS JOIN tot),
      ranked AS (SELECT doc_id, source, n_tok,
                   CAST(sum(n_tok) OVER (win
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_tok
                 FROM mdocs
                 WINDOW win AS (PARTITION BY source
                   ORDER BY md5('mix|' || CAST(doc_id AS VARCHAR)) ASC,
                     doc_id ASC)),
      sel AS (SELECT r.doc_id FROM ranked r JOIN budgets b USING (source)
              WHERE r.cum_tok <= b.budget),
      pd AS (SELECT s3.doc_id, s3.source,
               COALESCE(CAST(len(s3.toks) AS BIGINT), 0) AS n_toks
             FROM s3 JOIN sel USING (doc_id)),
      pw AS (SELECT doc_id, source, n_toks,
               sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM pd)
      SELECT doc_id, source, n_toks,
        CAST(cum - n_toks AS BIGINT) AS start_off,
        CAST((cum - n_toks) // 2048 AS BIGINT) AS pack_id
      FROM pw"""))

  /** q151 — incremental curation over the q115 split: the % 10 == 7
    * slice is today's batch, the rest is the lake, the fixed % 97 == 0
    * docs are the eval suite. Hash-gated on the APPENDED packs. */
  val q151: Q = Q(
    "q151_incremental_curation",
    run = { (spark, dir) =>
      graft.operators.SessionCache.memoOn(spark, dir,
        s"inc-curation|$dir") {
        val docs = Tables.documentsParallel(spark, dir)
        incrementalCuration(
          docs.filter(col("doc_id") % 10 === 7),
          docs.filter(col("doc_id") % 10 =!= 7),
          docs.filter(col("doc_id") % 97 === 0))
      }
    },
    oracle = Some("""
      WITH inc AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
      corp AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
      exdup AS (SELECT DISTINCT i.doc_id
                FROM inc i JOIN corp c ON md5(i.text) = md5(c.text)
                WHERE i.text IS NOT NULL AND c.text IS NOT NULL),
      dI AS (SELECT doc_id, source, string_split(text, ' ') AS toks
             FROM inc WHERE text IS NOT NULL),
      gI AS (SELECT doc_id, source, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
             FROM dI WHERE len(toks) >= 3),
      shI AS (SELECT DISTINCT doc_id, source,
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
              FROM gI),
      cntI AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
               FROM shI GROUP BY 1),
      dC AS (SELECT doc_id, source, string_split(text, ' ') AS toks
             FROM corp WHERE text IS NOT NULL),
      gC AS (SELECT doc_id, source, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
             FROM dC WHERE len(toks) >= 3),
      shC AS (SELECT DISTINCT doc_id, source,
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
              FROM gC),
      cntC AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
               FROM shC GROUP BY 1),
      pairs AS (SELECT a.doc_id, b.doc_id AS near_id,
                  CAST(count(*) AS BIGINT) AS inter
                FROM shI a JOIN shC b
                  ON a.source = b.source AND a.shingle = b.shingle
                GROUP BY 1, 2),
      neardup AS (SELECT DISTINCT p.doc_id
                  FROM pairs p
                  JOIN cntI ca ON ca.doc_id = p.doc_id
                  JOIN cntC cb ON cb.doc_id = p.near_id
                  WHERE CAST(p.inter AS DOUBLE) / (ca.n + cb.n - p.inter)
                    >= 0.5),
      s1 AS (SELECT doc_id, source, lang, text FROM inc
             WHERE doc_id NOT IN (SELECT doc_id FROM exdup)
               AND doc_id NOT IN (SELECT doc_id FROM neardup)),
      dd AS (SELECT doc_id, source, lang, text,
               string_split(text, ' ') AS toks
             FROM s1 WHERE text IS NOT NULL),
      rep2 AS (SELECT doc_id,
                 1.0 - CAST(len(list_distinct(list_transform(
                     generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
                   / (len(toks) - 1) AS dup_bigram_frac,
                 CAST(list_max(list_transform(list_distinct(toks),
                     t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
                   / len(toks) AS top_tok_frac
               FROM dd WHERE len(toks) >= 2),
      gH AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
             FROM dC WHERE len(toks) >= 3),
      shH AS (SELECT DISTINCT doc_id,
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
              FROM gH),
      hot2 AS (SELECT s FROM (SELECT s, count(*) AS nd FROM shH GROUP BY s)
               WHERE nd >= 5),
      g2 AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
             FROM dd WHERE len(toks) >= 3),
      sh2 AS (SELECT DISTINCT doc_id,
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
              FROM g2),
      perdoc2 AS (SELECT doc_id, count(*) AS n_shingles FROM sh2
                  GROUP BY doc_id),
      boiler2 AS (SELECT sh2.doc_id, count(*) AS n_boiler
                  FROM sh2 JOIN hot2 USING (s) GROUP BY sh2.doc_id),
      s2 AS (SELECT dd.doc_id, dd.source, dd.text, dd.toks
             FROM dd
             LEFT JOIN rep2 ON rep2.doc_id = dd.doc_id
             LEFT JOIN perdoc2 ON perdoc2.doc_id = dd.doc_id
             LEFT JOIN boiler2 ON boiler2.doc_id = dd.doc_id
             WHERE dd.lang IN ('de','en','es','fr','zh')
               AND len(dd.toks) >= 20 AND len(dd.toks) <= 2000
               AND COALESCE(rep2.dup_bigram_frac <= 0.2
                     AND rep2.top_tok_frac <= 0.2, false)
               AND COALESCE(CAST(COALESCE(boiler2.n_boiler, 0) AS DOUBLE)
                     / perdoc2.n_shingles <= 0.5, false)),
      bdoc AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents
               WHERE text IS NOT NULL AND doc_id % 97 = 0),
      bg AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 7)) AS i
             FROM bdoc WHERE len(toks) >= 8),
      bsh AS (SELECT DISTINCT
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                toks[i+6] || ' ' || toks[i+7] AS s
              FROM bg),
      cg AS (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 7)) AS i
             FROM s2 WHERE len(toks) >= 8 AND doc_id % 97 <> 0),
      csh AS (SELECT DISTINCT doc_id,
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                toks[i+6] || ' ' || toks[i+7] AS s
              FROM cg),
      cont AS (SELECT DISTINCT csh.doc_id FROM csh JOIN bsh USING (s)),
      s3 AS (SELECT doc_id, source, toks FROM s2
             WHERE doc_id % 97 <> 0
               AND doc_id NOT IN (SELECT doc_id FROM cont)),
      base AS (SELECT source,
                 CAST(sum(COALESCE(len(string_split(text, ' ')), 0))
                   AS BIGINT) AS base_off
               FROM corp WHERE source IS NOT NULL GROUP BY source),
      pd AS (SELECT doc_id, source,
               COALESCE(CAST(len(toks) AS BIGINT), 0) AS n_toks
             FROM s3 WHERE source IS NOT NULL),
      pw AS (SELECT doc_id, source, n_toks,
               sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM pd)
      SELECT pw.doc_id, pw.source, pw.n_toks,
        CAST(COALESCE(b.base_off, 0) + pw.cum - pw.n_toks AS BIGINT)
          AS start_off,
        CAST((COALESCE(b.base_off, 0) + pw.cum - pw.n_toks) // 2048
          AS BIGINT) AS pack_id
      FROM pw LEFT JOIN base b USING (source)"""))

  val all: Seq[Q] = Seq(q148, q151)
}
