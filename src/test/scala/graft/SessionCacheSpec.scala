package graft

import org.scalatest.funsuite.AnyFunSuite

/** Key discipline for the session-scoped build-once memo every
  * registry build/probe seam rides (IVF/PQ/PageRank indexes, dedup
  * labels, graph edge bases, shingle/fingerprint/span tables). */
class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("memo builds once per key and never cross-contaminates keys") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(tag: String): String = { builds.incrementAndGet(); tag }
    val a1 = operators.SessionCache.memo(spark, "spec-key-a")(build("a"))
    val a2 = operators.SessionCache.memo(spark, "spec-key-a")(build("a'"))
    val b = operators.SessionCache.memo(spark, "spec-key-b")(build("b"))
    assert(a1 == "a" && a2 == "a") // second call returns the FIRST build
    assert(b == "b")
    assert(builds.get == 2) // one build per distinct key
  }

  test("keys parameterized by path/params isolate different corpora") {
    // the contract every ...For(spark, dir) seam relies on: the key
    // carries the input path + every build parameter, so two corpora
    // (or two parameterizations) can never share an artifact
    val x = operators.SessionCache.memo(spark, "spec-art|/d1|k=4")(1)
    val y = operators.SessionCache.memo(spark, "spec-art|/d2|k=4")(2)
    val z = operators.SessionCache.memo(spark, "spec-art|/d1|k=8")(3)
    assert(x == 1 && y == 2 && z == 3)
  }

  test("registry memos keyed by path: two corpora in one session stay independent") {
    import org.apache.spark.sql.functions._
    // a doctored copy of sf0.001 with half the lineitem rows: every
    // ...For(spark, dir) artifact must come from ITS corpus, not the
    // first one the session happened to build
    val dir2 = java.nio.file.Files.createTempDirectory("graft_alt").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"${TestSpark.sf0001}/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir2/$t.parquet")
    }
    spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .filter(col("l_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir2/lineitem.parquet")
    Tables.events(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val q130 = SparkEntry.queries("q130_triangle_count")
    val full = q130(spark, TestSpark.sf0001)
      .agg(sum(col("n_tri"))).collect()(0).getLong(0)
    val half = q130(spark, dir2)
      .agg(sum(col("n_tri"))).collect()(0).getLong(0)
    assert(full != half, "halved corpus produced the full corpus's triangles - memo under-keyed")
    assert(half > 0)
  }

  /** A fresh corpus directory holding sf0.001's documents, kept whole
    * or halved to the even doc ids — q30 reads nothing else. */
  private def documentsCopy(dir: String, halved: Boolean): String = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    (if (halved) docs.filter(col("doc_id") % 2 === 0) else docs)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def q30Rows(dir: String): Set[(Long, Long, Double)] =
    ext.MinHashDedup.q30.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("q30 signatures keyed by path: a halved corpus in the same session signs its own docs") {
    val full = q30Rows(TestSpark.sf0001)
    val half = q30Rows(documentsCopy(freshDir("graft_mh30_half"), halved = true))
    assert(full != half, "halved corpus produced the full corpus's pairs - memo under-keyed")
    assert(half.nonEmpty && half.forall { case (a, b, _) => a % 2 == 0 && b % 2 == 0 })
  }

  test("q30 signatures rebuild when documents.parquet is overwritten in place") {
    val dir = documentsCopy(freshDir("graft_mh30_snap"), halved = false)
    val before = q30Rows(dir)
    assert(before == q30Rows(TestSpark.sf0001))
    documentsCopy(dir, halved = true)
    val after = q30Rows(dir)
    assert(after != before, "stale signatures served after in-place overwrite")
    assert(after == q30Rows(documentsCopy(freshDir("graft_mh30_ref"), halved = true)))
  }

  test("three q30 calls in one session leave one live mh30-sig staged directory") {
    val root = java.nio.file.Files.createTempDirectory("graft_mh30_stage").toFile
    val prev = spark.conf.getOption("graft.stage.dir")
    spark.conf.set("graft.stage.dir", root.getAbsolutePath)
    try {
      val dir = documentsCopy(freshDir("graft_mh30_calls"), halved = false)
      (1 to 3).foreach(_ => ext.MinHashDedup.q30.run(spark, dir).count())
      val sigDirs = Option(root.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("mh30-sig"))
      assert(sigDirs.size == 1, s"live signature dirs: ${sigDirs.map(_.getName)}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("graft.stage.dir", p)
        case None => spark.conf.unset("graft.stage.dir")
      }
    }
  }

  test("memoOn rebuilds when the input directory is overwritten in place") {
    // the daily-refresh shape at scale: same path, new snapshot. The
    // listing fingerprint (count/bytes/max-mtime) must invalidate the
    // entry — a path-only key would silently serve the stale artifact
    // (round-11 verdict item 4).
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    spark.range(100).withColumn("v", col("id") * 2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def total(): Long = operators.SessionCache.memoOn(spark, dir, s"spec-snap|$dir") {
      builds.incrementAndGet()
      spark.read.parquet(s"$dir/t.parquet")
        .agg(sum(col("v"))).collect()(0).getLong(0)
    }
    assert(total() == 9900L && total() == 9900L)
    assert(builds.get == 1) // unchanged input: one build, memo serves
    // overwrite IN PLACE with different contents at the same path
    spark.range(10).withColumn("v", col("id") * 2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(total() == 90L, "stale artifact served after in-place overwrite")
    assert(builds.get == 2)
  }

  test("inputToken is stable for an unchanged directory and unreadable paths degrade") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tok").toString
    spark.range(10).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t1 = operators.SessionCache.inputToken(spark, dir)
    val t2 = operators.SessionCache.inputToken(spark, dir)
    assert(t1 == t2 && t1 != "unlisted")
    assert(operators.SessionCache
      .inputToken(spark, "/nonexistent/graft/path") == "unlisted")
  }

  test("inputToken flips on a same-size same-mtime rename (per-file fold, not aggregates)") {
    // the round-11 (count, total bytes, max mtime) aggregate collides
    // on a same-size rewrite within mtime granularity; the per-file
    // (name, length, mtime) fold sees the NAME change every parquet
    // rewrite produces (round-12 ADVICE)
    val dir = java.nio.file.Files.createTempDirectory("graft_tok2").toString
    val f1 = new java.io.File(dir, "part-0001.parquet")
    java.nio.file.Files.write(f1.toPath, "samesize".getBytes)
    val stamp = 1700000000000L
    assert(f1.setLastModified(stamp))
    val t1 = operators.SessionCache.inputToken(spark, dir)
    // replace with an identically-sized, identically-stamped file under
    // a DIFFERENT name — count, total bytes and max mtime all collide
    assert(f1.delete())
    val f2 = new java.io.File(dir, "part-0002.parquet")
    java.nio.file.Files.write(f2.toPath, "samesize".getBytes)
    assert(f2.setLastModified(stamp))
    val t2 = operators.SessionCache.inputToken(spark, dir)
    assert(t1 != t2, "aggregate-colliding rewrite did not flip the token")
  }
}
