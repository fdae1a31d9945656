package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions, VectorFunctions}

/** Properties of the text/vector primitives that the oracle can't check
  * (hash-engine-specific or approximate): SimHash locality, fingerprint
  * order-insensitivity, cosine identities, MinHash recall vs exact
  * Jaccard. */
class TextVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fingerprint is insensitive to token order, sensitive to content") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma alpha beta"),
      (3L, "alpha beta delta")).toDF("id", "text")
      .select(col("id"), TextFunctions.fingerprint(col("text")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 58).map(i => s"tok$i").mkString(" ") + " other words"
    val far = (100 to 160).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
      .withColumn("toks", split(col("text"), " "))
      .select(col("id"), TextFunctions.simhash64Hof("toks").as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) < hamming(m(1L), m(3L)))
    assert(hamming(m(1L), m(2L)) <= 16)
  }

  test("codegen'd SimHash64 expression equals the HOF reference impl") {
    GraftExtensions.install(spark)
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(100)
      .withColumn("toks", expr("array_distinct(split(text, ' '))"))
    val diff = docs.select(
        TextFunctions.simhash64Hof("toks").as("a"),
        expr("simhash64(toks)").as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("codegen'd SimHashMd5 equals the interpreted HOF md5 chain") {
    GraftExtensions.install(spark)
    // the r16 SQL formulation, kept verbatim as the parity reference:
    // per-token md5 hex → two conv() radix decodes → per-(p,k) vote
    // folds → hex re-pack, ties-to-0 via strict > 0
    val ref =
      "CASE WHEN hs IS NULL THEN NULL ELSE concat_ws(''," +
        " transform(nibs, vals ->" +
        " substr('0123456789abcdef', 1 +" +
        " aggregate(sequence(0, 3), 0, (nib, k) ->" +
        " nib + IF(aggregate(vals, 0, (acc, v) ->" +
        " acc + IF((v >> k) & 1 = 1, 1, -1)) > 0," +
        " CAST(shiftleft(1, k) AS INT), 0)), 1))) END"
    def withRef(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("hs", expr("transform(toks, t -> md5(t))"))
      .withColumn("hl", expr(
        "transform(hs, h -> struct(" +
          "CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT) AS hi," +
          "CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT) AS lo))"))
      .withColumn("nibs", expr(
        "transform(sequence(0, 15), p -> transform(hl, v ->" +
          " CAST(IF(p < 8, shiftright(v.hi, 4 * (7 - p))," +
          " shiftright(v.lo, 4 * (15 - p))) & 15 AS INT)))"))
      .withColumn("a", expr(ref))
      .withColumn("b", expr("simhash_md5(toks)"))
    val docs = withRef(Tables.documents(spark, TestSpark.sf0001).limit(150)
      .withColumn("toks", expr("array_distinct(split(text, ' '))")))
    assert(docs.filter(!(col("a") <=> col("b"))).count() == 0,
      "codegen signature drifted from the md5 HOF reference on fixture")
    // adversarial: null text, empty-string token, unicode, single token
    import spark.implicits._
    val adv = withRef(Seq(
      Some(Seq("")), None, Some(Seq("héllo", "wörld", "héllo")),
      Some(Seq("a")), Some(Seq.empty[String]),
      Some((1 to 200).map(i => s"tok$i"))).toDF("toks"))
    assert(adv.filter(!(col("a") <=> col("b"))).count() == 0,
      "codegen signature drifted on adversarial token arrays")
    // interpreted eval path (no codegen) must agree too
    val one = graft.functions.SimHashMd5(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("x", "y", "z"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
      .eval(null).toString
    val viaSql = adv.sparkSession.sql(
      "SELECT simhash_md5(array('x','y','z'))").head().getString(0)
    assert(one == viaSql)
  }

  test("MinHashK codegen equals the interpreted eval path") {
    // a doGenCode bug would silently diverge from nullSafeEval inside
    // whole-stage codegen; force both execution modes and compare
    GraftExtensions.install(spark)
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(200)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(col("toks").isNotNull)
    def run(): Map[Long, Seq[Long]] =
      docs.select(col("doc_id"),
          expr("minhash_k(toks, 8)").as("sig")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val withCodegen = run()
    val prevWS = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFM = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = run()
      assert(withCodegen == interpreted)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWS)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFM)
    }
  }

  test("MinHashK slot-collision frequency estimates the true Jaccard") {
    // the statistical contract behind the banding math: with k=64 slots,
    // the fraction of equal slots for a pair with known Jaccard J is an
    // unbiased estimate, sd = sqrt(J(1-J)/64) ≈ 0.06 at J = 0.5 —
    // assert within 4 sigma. Deterministic under the fixed seeds.
    GraftExtensions.install(spark)
    import spark.implicits._
    // |A| = |B| = 60, |A∩B| = 40 -> J = 40/80 = 0.5
    val a = (0 until 60).map(i => s"s$i")
    val b = (20 until 80).map(i => s"s$i")
    val df = Seq((1L, a), (2L, b)).toDF("id", "sh")
      .select(col("id"), expr("minhash_k(sh, 64)").as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val matches = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }
    val est = matches / 64.0
    info(f"minhash J estimate = $est%.3f (true 0.5)")
    assert(math.abs(est - 0.5) <= 4 * math.sqrt(0.5 * 0.5 / 64), s"est $est")
  }

  test("cosine identities: self = 1, orthogonal = 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("id", "a", "b")
      .select(col("id"), VectorFunctions.cosine(
        VectorFunctions.vecToDouble(col("a")),
        VectorFunctions.vecToDouble(col("b"))).as("cos"))
    val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(m(1L) - 1.0) < 1e-12)
    assert(math.abs(m(2L)) < 1e-12)
  }

  test("minhash-LSH candidates cover the exact high-Jaccard pairs (recall)") {
    val exact = graft.queries.TextOps.q24.run(spark, TestSpark.sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.ext.MinHashDedup.q30.run(spark, TestSpark.sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every exact near-dup pair (J >= 0.5, same-source blocking) must be
    // recalled by LSH (which searches across sources, so approx ⊇ exact)
    assert(exact.subsetOf(approx), s"missed: ${exact -- approx}")
    // estimated distances live in [0, 0.5] by the q30 filter, in 1/12 steps
    val dists = graft.ext.MinHashDedup.q30.run(spark, TestSpark.sf0001)
      .select("jaccard_dist").collect().map(_.getDouble(0))
    assert(dists.forall(d => d >= 0.0 && d <= 0.5))
  }

  test("ML MinHashLSH variant recalls the exact high-Jaccard pairs too") {
    val exact = graft.queries.TextOps.q24.run(spark, TestSpark.sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ml = graft.ext.MinHashDedup
      .mlApproxPairs(Tables.documents(spark, TestSpark.sf0001))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(ml), s"missed: ${exact -- ml}")
  }

  test("lshTopK derives dim from the data: non-64-d vectors work correctly") {
    // 8-d corpus with a planted exact duplicate of the query vector: an
    // identical vector falls on the same side of EVERY hyperplane, so
    // bucket collision is certain and top-1 must be the duplicate with
    // cosine == 1 — if dim were still hard-coded to 64, vec_dot_f's
    // min-length truncation would read garbage-free prefixes but the
    // hyperplanes would be 64-d literals bucketing on an 8-d prefix only;
    // the planted-duplicate contract would still hold, so ALSO assert an
    // orthogonal vector is ranked below a parallel one (real geometry).
    val rng = new scala.util.Random(7)
    def v() = Array.fill(8)(rng.nextGaussian().toFloat)
    val q = v()
    val dup = q.clone()
    val scaled = q.map(_ * 3.0f) // parallel: cos = 1
    val rows = Seq((0L, q), (1L, dup), (2L, scaled)) ++
      (3L until 40L).map(i => (i, v()))
    val df = rows.toDF("vec_id", "embedding")
    val top = graft.ext.Similarity.lshTopK(df, k = 2, nQueries = 1)
      .orderBy("rnk").collect()
    assert(top.length == 2)
    val best = top.map(r => (r.getLong(1), r.getDouble(2)))
    assert(best.map(_._1).toSet == Set(1L, 2L)) // dup + parallel vector
    assert(best.forall(p => math.abs(p._2 - 1.0) < 1e-6))
  }

  test("q47 embedding near-dup LSH: precision 1 and recall vs exact q32") {
    val exact = graft.queries.VectorOps.q32.run(spark, TestSpark.sf0001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.ext.Similarity.q47.run(spark, TestSpark.sf0001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 by construction: exact cosine runs on LSH survivors
    assert(approx.subsetOf(exact), s"false positives: ${approx -- exact}")
    // recall on the adversarial near-random fixture vectors (deterministic
    // seeds): must catch most of the exact pairs sub-quadratically
    if (exact.nonEmpty) {
      val recall = approx.size.toDouble / exact.size
      assert(recall >= 0.6, s"recall $recall (${approx.size}/${exact.size})")
    }
  }

  test("q48 IVF top-k: recall/scan-fraction curve over nProbe") {
    val exact = graft.queries.VectorOps.q25.run(spark, TestSpark.sf0001)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    // near-random fixture vectors are the IVF-adversarial case (true
    // neighbors scatter across cells); deterministic seeds make every
    // point on the curve stable run to run. Scan fraction = nProbe/16.
    // ONE index build serves the whole curve — the amortization shape
    // production uses (ivfBuild once, ivfQuery per batch)
    val index = graft.ext.Similarity.ivfBuild(emb).get
    val curve = Seq(2, 4, 8, 16).map { np =>
      val ivf = graft.ext.Similarity.ivfQuery(index, nProbe = np)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & ivf).size.toDouble / exact.size
      info(f"nProbe=$np%2d scanFrac=${np / 16.0}%.2f recall=$recall%.2f")
      np -> recall
    }
    val byProbe = curve.toMap
    // operating point (the q48 default) must clear the floor
    assert(byProbe(4) >= 0.4, s"recall at nProbe=4: ${byProbe(4)}")
    // fixed seed makes probed-cell sets nested in nProbe, so recall must
    // be monotone non-decreasing along the curve
    val rs = curve.map(_._2)
    assert(rs == rs.sorted, s"recall not monotone in nProbe: $curve")
    // probing every cell IS brute force — the curve must close at 1
    assert(byProbe(16) >= 0.99, s"full-probe recall: ${byProbe(16)}")
  }

  test("q89 hard negatives: cross-label only, and truly the nearest misses") {
    val out = graft.queries.VectorOps.q89.run(spark, TestSpark.sf0001).cache()
    try {
      val emb = Tables.embeddings(spark, TestSpark.sf0001)
        .filter(col("embedding").isNotNull && col("label").isNotNull)
      val labels = emb.select(col("vec_id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // every negative carries a label different from its query's
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (qid, nid, negLabel) = (r.getLong(0), r.getLong(1), r.getInt(2))
        assert(labels(nid) == negLabel)
        assert(negLabel != labels(qid),
          s"same-label 'negative' $nid for query $qid")
      }
      // ranks are 1..3 dense and cosine non-increasing within a query
      rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
        val byRank = rs.sortBy(_.getInt(4))
        assert(byRank.map(_.getInt(4)).toSeq == (1 to byRank.size),
          s"ranks not dense for $qid")
        val sims = byRank.map(_.getDouble(3))
        assert(sims.zip(sims.drop(1)).forall { case (a, b) => a >= b },
          s"cosine not non-increasing for $qid")
      }
      // against q25's unrestricted top-k: a query's best cross-label
      // similarity can never exceed its best overall similarity
      val best25 = graft.queries.VectorOps.q25.run(spark, TestSpark.sf0001)
        .filter(col("rnk") === 1).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      rows.filter(_.getInt(4) == 1).foreach { r =>
        assert(r.getDouble(3) <= best25(r.getLong(0)) + 1e-12)
      }
    } finally { out.unpersist(); () }
  }

  test("IVF index reuse: repeated and reloaded queries equal the cold path") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    def keyOf(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cold = keyOf(Similarity.ivfTopK(emb))
    val index = Similarity.ivfBuild(emb).get
    // same index, two query batches: identical to the cold build
    assert(keyOf(Similarity.ivfQuery(index)) == cold)
    assert(keyOf(Similarity.ivfQuery(index)) == cold)
    // save → load round-trip (the cross-session reuse path)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.saveIvfIndex(index, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(keyOf(Similarity.ivfQuery(loaded)) == cold,
      "reloaded index diverges from the cold build")
    // a different batch shape on the same index still ranks exactly
    assert(keyOf(Similarity.ivfQuery(loaded, k = 3, nQueries = 5)) ==
      cold.filter { case (q, _, r) => q < 5 && r <= 3 })
  }

  test("q157: ivfAppend equals a frozen-centroid full assignment, and probes match") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .filter(col("embedding").isNotNull)
    val lake = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7)
    assert(batch.count() > 0, "fixture has no batch vectors")
    val ix = Similarity.ivfBuild(lake).get
    val appended = Similarity.ivfAppend(ix, batch)
    // the appended inverted file covers every vector exactly once and
    // equals assigning the FULL corpus to the same frozen centroids
    val cold = graft.queries.CenterAssign.withNearest(
        emb.select(col("vec_id"), col("embedding")),
        ix.centroids.select(col("pcell").as("center_id"), col("centroid")))
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val inc = appended.assigned.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(inc.length == cold.size, "appended index row count drifted")
    assert(inc.toMap == cold, "appended assignment != frozen-centroid full")
    // probe parity: querying the appended index equals querying an
    // index whose inverted file was the full frozen-centroid assignment
    def keyOf2(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fullAssigned = graft.queries.CenterAssign.withNearest(
        emb.select(col("vec_id"), col("embedding")),
        ix.centroids.select(col("pcell").as("center_id"), col("centroid")))
      .select(col("vec_id"), col("embedding"), col("cluster").as("cell"))
      .withColumn("nrm", sqrt(expr("vec_dot_f(embedding, embedding)")))
    val fullIx = Similarity.IvfIndex(fullAssigned, ix.centroids)
    assert(keyOf2(Similarity.ivfQuery(appended)) ==
      keyOf2(Similarity.ivfQuery(fullIx)))
  }

  test("sketch queries leave no cached blocks behind (q30/q31)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    graft.ext.MinHashDedup.q30.run(spark, TestSpark.sf0001)
      .queryExecution.toRdd.count()
    graft.ext.SimHashDedup.q31.run(spark, TestSpark.sf0001)
      .queryExecution.toRdd.count()
    val leaked = sc.getPersistentRDDs.keySet.toSet.diff(before)
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("canonical resolution from staged labels equals the cold path") {
    import graft.ext.DedupCluster
    val docs = Tables.documents(spark, TestSpark.sf0001)
    def keyOf(df: org.apache.spark.sql.DataFrame) =
      df.select("cluster_id", "canon_doc_id", "n_members").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cold = keyOf(DedupCluster.canonicalDocs(docs))
    val labels = DedupCluster.clusters(docs)
    // resolve from the in-flight label frame
    assert(keyOf(DedupCluster.canonicalFromLabels(labels, docs)) == cold)
    // and from labels landed to parquet (the production reuse path)
    val dir = java.nio.file.Files.createTempDirectory("dedup_labels").toString
    labels.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    assert(keyOf(DedupCluster.canonicalFromLabels(reloaded, docs)) == cold,
      "resolution from landed labels diverges from the cold path")
  }

  test("dedup clustering merges transitively (a~b, b~c => one cluster)") {
    // doc 1 ~ doc 2 (exact dup), doc 2 ~ doc 3 (near dup via shared
    // shingles in the same source), doc 4 unrelated: expect {1,2,3}
    // to share cluster_id 1 and 4 to be a singleton
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "s1"),
      (2L, "the quick brown fox jumps over the lazy dog", "s1"),
      (3L, "the quick brown fox jumps over the lazy cat", "s1"),
      (4L, "completely different words about parquet shuffles here", "s1"))
      .toDF("doc_id", "text", "source")
    val out = graft.ext.DedupCluster.clusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(4L) == 4L)
  }

  test("banded (MinHash) edge generation reproduces the exact clusters") {
    // the q49/q52 production path: candidates from MinHash banding,
    // exact Jaccard on survivors — must yield the identical doc→cluster
    // fixpoint as the all-pairs exact edge generator on the fuzzed
    // fixtures (planted exact + near dups, null-text rows)
    val docs = Tables.documentsParallel(spark, TestSpark.sf0001)
    val banded = graft.ext.DedupCluster.clusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = graft.ext.DedupCluster.clusters(docs, exactNearPairs = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(banded == exact)
  }

  test("banded pair generator matches exact jaccardPairs on the fixtures") {
    // BOTH band widths: r=2 is the default scale path, r=1 the
    // max-recall knob — each must reproduce the exact pair set on the
    // fixture (the default flip must not silently orphan the r=1 branch)
    val docs = Tables.documentsParallel(spark, TestSpark.sf0001)
    val exact = graft.queries.TextOps.jaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(1, 2).foreach { r =>
      val banded = graft.ext.MinHashDedup
        .bandedJaccardPairs(docs, 0.5, bandWidth = r)
        .select("doc_a", "doc_b").collect()
        .map(p => (p.getLong(0), p.getLong(1))).toSet
      assert(banded == exact,
        s"r=$r banded-only: ${banded -- exact}; missed: ${exact -- banded}")
    }
  }

  test("AND-banded (bandWidth=2) generator: precision 1, high recall") {
    // the Zipf-robust 100 TB configuration (see bandedJaccardPairs doc):
    // precision stays 1 by construction (exact Jaccard on survivors);
    // recall at J=0.5 is 1-(1-0.25)^8 ≈ 90% in expectation, ~1 for the
    // planted near-exact dups — deterministic under the fixed seed
    val docs = Tables.documentsParallel(spark, TestSpark.sf0001)
    val exact = graft.queries.TextOps.jaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded2 = graft.ext.MinHashDedup
      .bandedJaccardPairs(docs, 0.5, bandWidth = 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded2.subsetOf(exact), s"false positives: ${banded2 -- exact}")
    if (exact.nonEmpty) {
      val recall = banded2.size.toDouble / exact.size
      info(f"bandWidth=2 recall = $recall%.2f (${banded2.size}/${exact.size})")
      assert(recall >= 0.8, s"recall $recall")
    }
  }

  test("clustering converges in O(log n) rounds on a 1000-doc chain") {
    // pathological diameter: doc i near-dups ONLY doc i±1 (sliding
    // 8-token windows over a globally-unique token stream overlap 6
    // tokens with the next doc → J(adjacent) = 4/8 = 0.5, J(i, i±2) =
    // 2/10 = 0.2). Plain min-label propagation needs ~1000 rounds; the
    // pointer-doubling loop must finish inside the default maxRounds=20
    // (2^20 ≫ 1000) with every doc labeled by the chain head.
    val n = 1000
    val docs = (0 until n).map { i =>
      (i.toLong, (2 * i until 2 * i + 8).map(t => s"tok$t").mkString(" "), "s1")
    }.toDF("doc_id", "text", "source")
    val (labels, stats) = graft.ext.DedupCluster.clustersWithStats(
      docs, exactNearPairs = true)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == n)
    assert(out.values.forall(_ == 0L), s"non-root labels: ${out.filter(_._2 != 0L).take(5)}")
    // telemetry: the doubling hop must actually ENGAGE on this diameter
    // (the 100x dry-run shows hopRounds=0 on shallow dup groups — this
    // chain is the witness that depth triggers it)
    assert(stats.hopRounds > 0,
      s"pointer doubling never engaged: $stats")
    assert(stats.rounds <= 20, s"did not converge in maxRounds: $stats")
  }

  test("stratified rebalance upsamples: fraction 2.5 hits ~2.5x (4-sigma)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fractions = totals.keys.map(_ -> 2.5).toMap
    val sampled = graft.ext.Sampling.stratifiedSample(docs, "source", fractions)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (s, nTot) =>
      val got = sampled.getOrElse(s, 0L).toDouble / nTot
      // copies = 2 + Bernoulli(0.5): sd per row = 0.5 → 4σ band on the
      // per-stratum ratio is 2/sqrt(n)
      val band = 2.0 / math.sqrt(nTot.toDouble)
      assert(math.abs(got - 2.5) < band,
        s"stratum $s ratio $got of n=$nTot (band ±$band)")
    }
  }

  test("mixed rebalance map: up AND down fractions in one pass") {
    val docs = Seq.tabulate(400)(i =>
      (i.toLong, s"text $i", if (i % 4 == 0) "rare" else "common"))
      .toDF("doc_id", "text", "source")
    val out = graft.ext.Sampling.stratifiedSample(docs, "source",
        Map("rare" -> 3.0, "common" -> 0.5))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("rare") == 300L) // integer fraction: exactly 3 copies each
    assert(math.abs(out("common") - 150.0) < 4 * math.sqrt(300 * 0.25))
  }

  test("stratified sample membership is stable across repartitionings") {
    // the md5-threshold draw is a pure function of doc_id, so the kept
    // MULTISET (not just the counts) must be identical however the
    // input is partitioned — the guarantee sampleBy/rand could not make
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val fractions = graft.ext.Sampling.strataOf(docs, "source")
      .map(_ -> 2.5).toMap // >1 exercises the explode path
    def draw(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      graft.ext.Sampling.stratifiedSample(d, "source", fractions)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(draw(docs) == draw(docs.repartition(7)))
  }

  test("strataOf fails loudly on high-cardinality strata columns") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val e = intercept[IllegalArgumentException] {
      graft.ext.Sampling.strataOf(docs, "doc_id", maxStrata = 100)
    }
    assert(e.getMessage.contains("distinct values"))
    // the sane column still works
    assert(graft.ext.Sampling.strataOf(docs, "source").nonEmpty)
  }

  test("IVF fit input is bounded by maxFitRows (sampled branch)") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    // force the sampling branch with a cap far below the corpus size;
    // the query must still run end-to-end and return k rows per query
    val out = graft.ext.Similarity.ivfTopK(emb, k = 3, nQueries = 5,
      maxFitRows = 64)
    val rows = out.collect()
    assert(rows.length == 15, s"got ${rows.length} rows")
  }

  test("hash split is deterministic, partitions fully, near target fractions") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val a = graft.ext.Sampling.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = graft.ext.Sampling.hashSplit(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b) // stable under repartitioning / re-runs
    assert(a.size == docs.count())
    val frac = a.values.groupBy(identity).view.mapValues(_.size.toDouble / a.size)
    assert(math.abs(frac("train") - 0.8) < 0.1, frac.toMap.toString)
    assert(frac.getOrElse("val", 0.0) > 0 && frac.getOrElse("test", 0.0) > 0)
  }

  test("stratified sample hits per-stratum fractions within tolerance") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fractions = totals.keys.map(_ -> 0.3).toMap
    val sampled = graft.ext.Sampling.stratifiedSample(docs, "source", fractions)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (s, n) =>
      val got = sampled.getOrElse(s, 0L).toDouble / n
      // 4-sigma Bernoulli band — wide for tiny strata, tight for large
      val band = 4 * math.sqrt(0.3 * 0.7 / n)
      assert(math.abs(got - 0.3) < band,
        s"stratum $s fraction $got of n=$n (band ±$band)")
    }
    // overall draw close to the target
    val overall = sampled.values.sum.toDouble / totals.values.sum
    assert(math.abs(overall - 0.3) < 0.05, s"overall $overall")
  }

  test("leakage-safe split keeps every dedup cluster inside ONE split") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "s1"),
      (2L, "the quick brown fox jumps over the lazy dog", "s1"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat", "s1"), // near dup of 1/2
      (4L, "completely different words about parquet shuffles here", "s1"),
      (5L, "completely different words about parquet shuffles here", "s2")) // exact dup of 4
      .toDF("doc_id", "text", "source")
    val out = graft.ext.Sampling.leakageSafeSplit(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // members of a cluster always share the cluster's split
    out.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._3).distinct.size == 1,
        s"cluster $c split across ${members.toSeq}")
    }
    // the near-dup chain {1,2,3} is one cluster; {4,5} another
    val byDoc = out.map(t => t._1 -> t._2).toMap
    assert(byDoc(1L) == byDoc(2L) && byDoc(2L) == byDoc(3L))
    assert(byDoc(4L) == byDoc(5L) && byDoc(4L) != byDoc(1L))
  }

  test("null-text docs: split assigns all rows, clustering never merges them") {
    val docs = Seq((1L, null.asInstanceOf[String], "s1"),
      (2L, null.asInstanceOf[String], "s1"),
      (3L, "some real text tokens here now", "s1"))
      .toDF("doc_id", "text", "source")
    val split = graft.ext.Sampling.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == 3 && split.values.forall(_ != null))
    // two null-text docs are NOT duplicates of each other
    val cl = graft.ext.DedupCluster.clusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(1L) == 1L && cl(2L) == 2L && cl(3L) == 3L)
  }

  test("sharded writer bounds records per output file") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    graft.sinks.Sinks.writeSharded(docs, dir, numShards = 4,
      maxRecordsPerShard = 50)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 4)
    val counts = files.map(f =>
      spark.read.parquet(f.getAbsolutePath).count())
    assert(counts.forall(_ <= 50), counts.mkString(","))
    assert(counts.sum == docs.count())
  }

  test("q34 output is canonicalizer-safe: no array columns, rows > 0") {
    val out = graft.ext.Multimodal.q34.run(spark, TestSpark.sf0001)
    assert(!out.schema.exists(_.dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType]))
    assert(out.count() > 0)
  }

  test("approx_count_distinct within configured rsd of exact (§5.2-5)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val exact = docs.select(countDistinct(col("text"))).head().getLong(0)
    val approx = docs.select(approx_count_distinct(col("text"), 0.05)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.15)
  }
}
