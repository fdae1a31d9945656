package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.ShardExport

/** q153 shard export: the landed layout round-trips exactly, the
  * within-file order is the deterministic draw order (the property the
  * manifest's order-insensitive aggregates can't certify), and the
  * whole export is a pure function of row identity — invariant to how
  * the input happened to be partitioned. */
class ExportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"shards-$tag").toString

  private def landedFiles(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(dir)
    root.listFiles().toSeq.filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles().toSeq)
      .filter(_.getName.endsWith(".parquet"))
  }

  test("shard export round-trips the corpus and orders every file by draw") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val out = tmp("rt")
    ShardExport.writeShards(docs, "doc_id", out, nShards = 16)
    val landed = spark.read.parquet(out)
    // nothing lost, duplicated, or mutated
    assert(landed.count() == docs.count())
    assert(landed.select("doc_id").except(docs.select("doc_id")).isEmpty &&
      docs.select("doc_id").except(landed.select("doc_id")).isEmpty)
    // every landed shard id matches a fresh recompute from doc_id
    val mismatched = landed.withColumn(
      "expect", ShardExport.shardOf(ShardExport.drawOf(col("doc_id")), 16))
      .filter(col("shard") =!= col("expect")).count()
    assert(mismatched == 0L, s"$mismatched rows in the wrong shard")
    // within every landed FILE, rows ascend by draw (a sorted run —
    // the loader's deterministic order needs no re-sort)
    val files = landedFiles(out)
    assert(files.nonEmpty)
    files.foreach { f =>
      val draws = spark.read.parquet(f.getAbsolutePath)
        .select("draw").collect().map(_.getString(0)).toSeq
      assert(draws == draws.sorted, s"file ${f.getName} not in draw order")
    }
  }

  test("export is invariant to input partitioning (pure function of row identity)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val (a, b) = (tmp("a"), tmp("b"))
    ShardExport.writeShards(docs, "doc_id", a, nShards = 16)
    ShardExport.writeShards(
      docs.repartition(7, col("lang")), "doc_id", b, nShards = 16)
    def perShard(dir: String): Map[Int, Seq[String]] =
      spark.read.parquet(dir)
        .select(col("shard").cast("int"), col("draw"))
        .collect().groupBy(_.getInt(0))
        .map { case (s, rs) => s -> rs.map(_.getString(1)).toSeq.sorted }
    assert(perShard(a) == perShard(b))
  }

  test("q153 registry run: full manifest, checksum catches a dropped doc") {
    val rows = queries.Export.q153.run(spark, TestSpark.sf0001).collect()
    assert(rows.length == 16, s"expected 16 shards, got ${rows.length}")
    val total = Tables.documents(spark, TestSpark.sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    // the checksum is sensitive: recompute the manifest with one doc
    // removed and the victim shard's checksum must move
    val landed = spark.read.parquet(
      queries.Export.shardLayoutFor(spark, TestSpark.sf0001))
    val victim = landed.select(col("doc_id"), col("shard").cast("int"))
      .head()
    val tampered = landed.filter(col("doc_id") =!= victim.getLong(0))
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(sum(ShardExport.checksumOf(col("doc_id"), col("text")))
        .as("checksum"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val clean = rows.map(r =>
      r.getAs[Int]("shard") -> r.getAs[Long]("checksum")).toMap
    assert(tampered(victim.getInt(1)) != clean(victim.getInt(1)))
    assert((clean - victim.getInt(1)).forall { case (s, c) =>
      tampered(s) == c })
  }

  // ---- q155 incremental shard append ----

  private def manifestMap(df: org.apache.spark.sql.DataFrame)
      : Map[Int, Seq[Any]] =
    df.collect().map(r => r.getAs[Int]("shard") ->
      Seq(r.getAs[Long]("n_docs"), r.getAs[Long]("n_toks"),
        r.getAs[Long]("sum_chars"), r.getAs[Long]("checksum"),
        r.getAs[String]("min_key"), r.getAs[String]("max_key"))).toMap

  test("q155: physical append + landed recompute equals the algebraic manifest merge") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val lake = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val dir = tmp("inc")
    ShardExport.writeShards(lake, "doc_id", dir, nShards = 16)
    // pin the pre-append manifest DRIVER-SIDE: a .cache() here would
    // poison the post-append recompute (the cache manager matches
    // same-path scans, serving the stale pre-append listing)
    val priorDf = ShardExport.manifest(spark.read.parquet(dir))
    val priorRows = priorDf.collect().toSeq
    val prior = spark.createDataFrame(
      spark.sparkContext.parallelize(priorRows, 1), priorDf.schema)
    ShardExport.appendShards(batch, "doc_id", dir, nShards = 16)
    val landed = ShardExport.manifest(spark.read.parquet(dir))
    val merged = ShardExport.mergeManifests(prior,
      ShardExport.manifest(
        ShardExport.withShardKey(batch, "doc_id", 16)))
    assert(manifestMap(landed) == manifestMap(merged))
    // appended files are themselves sorted runs
    landedFiles(dir).foreach { f =>
      val draws = spark.read.parquet(f.getAbsolutePath)
        .select("draw").collect().map(_.getString(0)).toSeq
      assert(draws == draws.sorted, s"file ${f.getName} not sorted")
    }
    // nothing lost across the append
    assert(spark.read.parquet(dir).count() == docs.count())
  }

  test("q155 registry run: equals q153's full manifest; plan never rescans the lake layout") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val full = queries.Export.q153.run(spark, TestSpark.sf0001)
    val inc = queries.Export.q155.run(spark, TestSpark.sf0001)
    assert(manifestMap(full) == manifestMap(inc))
    // the incremental plan's scans: the batch rows (documents with the
    // % 10 == 7 filter) and the staged 16-row manifest — NEVER the
    // landed lake shard layout (at 100 TB that's the whole lake)
    val probe = queries.Export.q155.run(spark, TestSpark.sf0001)
    probe.queryExecution.toRdd.count(): Unit
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case o => o.children
      }
      (p match {
        case f: FileSourceScanExec => Seq(f)
        case _ => Nil
      }) ++ kids.flatMap(scans)
    }
    val roots = scans(probe.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths).map(_.toString)
    assert(roots.nonEmpty)
    assert(!roots.exists(_.contains("shards-q155-lake")),
      s"incremental manifest plan rescans the lake layout: $roots")
  }

  test("day-0 empty export then a non-empty append stays readable (root marker dropped)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("day0")
    // day 0: nothing arrives — the export lands a schema-bearing
    // empty marker at the root
    ShardExport.writeShards(docs.limit(0), "doc_id", dir, nShards = 16)
    assert(spark.read.parquet(dir).count() == 0)
    // day 1: a real batch appends partition dirs; the root marker must
    // go, or partition discovery sees leaves at two depths and throws
    val batch = docs.filter(col("doc_id") % 10 === 7)
    ShardExport.appendShards(batch, "doc_id", dir, nShards = 16)
    val landed = spark.read.parquet(dir)
    assert(landed.count() == batch.count())
    assert(ShardExport.manifest(landed).count() > 0)
  }

  test("q158: split children pair-sum to the parent manifest; split plan has no Exchange; runs stay sorted") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val (parentDir, childDir) = (tmp("split-p"), tmp("split-c"))
    ShardExport.writeShards(docs, "doc_id", parentDir, nShards = 16)
    // the split's read-and-rekey frame plans WITHOUT any Exchange —
    // the per-file locality claim, checked on the same frame shape
    // splitShards writes
    val rekeyed = spark.read.parquet(parentDir)
      .withColumn("shard", ShardExport.shardOf(col("draw"), 32))
    assert(!rekeyed.queryExecution.executedPlan.toString.contains("Exchange"),
      "shard split plans a shuffle — the locality claim is broken")
    ShardExport.splitShards(spark, parentDir, childDir, nShardsOld = 16)
    val parent = manifestMap(
      ShardExport.manifest(spark.read.parquet(parentDir)))
    val child = manifestMap(
      ShardExport.manifest(spark.read.parquet(childDir)))
    assert(child.size == 32 && parent.size == 16)
    // pair-sum law: child r + child r+16 == parent r, field by field
    (0 until 16).foreach { r =>
      val (a, b, p) = (child(r), child(r + 16), parent(r))
      (0 to 3).foreach { i =>
        assert(a(i).asInstanceOf[Long] + b(i).asInstanceOf[Long] ==
          p(i).asInstanceOf[Long], s"shard $r field $i breaks pair-sum") }
      assert(Seq(a(4), b(4)).map(_.asInstanceOf[String]).min == p(4))
      assert(Seq(a(5), b(5)).map(_.asInstanceOf[String]).max == p(5))
    }
    // child files are still sorted runs (filtering preserves order)
    landedFiles(childDir).foreach { f =>
      val draws = spark.read.parquet(f.getAbsolutePath)
        .select("draw").collect().map(_.getString(0)).toSeq
      assert(draws == draws.sorted, s"split file ${f.getName} not sorted")
    }
  }

  test("q155 streaming twin equals the one-shot merge on an INTERLEAVED 3-way split") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val incoming = docs.filter(col("doc_id") % 10 === 7)
    val lake = docs.filter(col("doc_id") % 10 =!= 7)
    // manifest maintenance is commutative (sums + least/greatest), so
    // the twin must match for ANY split — use a deliberately
    // interleaved one (doc_id % 3), not the id-ordered terciles the
    // order-dependent twins need
    val streamDir = Files.createTempDirectory("shard_stream").toString
    (0 until 3).foreach { i =>
      val part = Files.createTempDirectory(s"shard_p$i").toString
      incoming.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(part)
      val src = Files.list(java.nio.file.Paths.get(part)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$streamDir/part_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      ()
    }
    val lakeDir = tmp("twin-lake")
    ShardExport.writeShards(lake, "doc_id", lakeDir, nShards = 16)
    val prior = ShardExport.manifest(spark.read.parquet(lakeDir))
    val outDir = Files.createTempDirectory("shard_out").toString
    val ckpt = Files.createTempDirectory("shard_ckpt").toString
    val q = streaming.DocStreams.shardManifestSink(
      streaming.DocStreams.readDocs(spark, streamDir), prior, 16,
      outDir, ckpt)
    q.processAllAvailable()
    q.stop()
    val finalManifest = spark.read.parquet(s"$outDir/manifest_2")
    val oneShot = ShardExport.mergeManifests(prior,
      ShardExport.manifest(
        ShardExport.withShardKey(incoming, "doc_id", 16)))
    assert(manifestMap(finalManifest) == manifestMap(oneShot))
  }

  // ---- q163 selective shard compaction ----

  private def fileStamps(dir: String): Map[String, Long] =
    landedFiles(dir).map(f => f.getAbsolutePath -> f.lastModified).toMap

  test("q163: compaction rewrites exactly the above-threshold shards; manifest invariant; order restored; below-threshold bytes untouched") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    // day 0 covers (almost) every shard; two SMALL daily batches touch
    // only the few shards their 8 docs' draws land in — a genuinely
    // mixed run-count state, nothing hardcoded about md5 placement
    val batch1 = docs.orderBy(col("doc_id")).limit(8)
    val batch2 = docs.orderBy(col("doc_id").desc).limit(8)
    val b1Ids = batch1.select("doc_id").collect().map(_.getLong(0)).toSet
    val lake = docs.filter(!col("doc_id").isin(
      (b1Ids ++ batch2.select("doc_id").collect().map(_.getLong(0))).toSeq: _*))
    val dir = tmp("cmp")
    ShardExport.writeShards(lake, "doc_id", dir, nShards = 16)
    ShardExport.appendShards(batch1, "doc_id", dir, nShards = 16)
    ShardExport.appendShards(batch2, "doc_id", dir, nShards = 16)
    val runsBefore = ShardExport.runCounts(spark, dir)
    val before = manifestMap(ShardExport.manifest(spark.read.parquet(dir)))
    val stampsBefore = fileStamps(dir)
    val expected = runsBefore.filter(_._2 > 1).keySet
    assert(expected.nonEmpty && expected != runsBefore.keySet,
      s"fixture degenerate — runs $runsBefore give no mixed state")
    val compacted = ShardExport.compactShards(spark, dir, maxRuns = 1)
    // exactly the above-threshold shards were selected...
    assert(compacted.toSet == expected, s"$compacted vs $expected")
    // ...and each now holds ONE file, fully draw-ordered (the k-way
    // merge the loader no longer has to do)
    val runsAfter = ShardExport.runCounts(spark, dir)
    compacted.foreach(k => assert(runsAfter(k) == 1, s"shard $k runs"))
    landedFiles(dir).filter(f =>
      compacted.exists(k => f.getAbsolutePath.contains(s"shard=$k/")))
      .foreach { f =>
        val draws = spark.read.parquet(f.getAbsolutePath)
          .select("draw").collect().map(_.getString(0)).toSeq
        assert(draws == draws.sorted, s"compacted ${f.getName} not sorted")
      }
    // below-threshold shards keep their exact files (path AND mtime —
    // selective compaction never rewrites quiet shards)
    val untouched = runsBefore.keySet -- compacted.toSet
    val stampsAfter = fileStamps(dir)
    untouched.foreach { k =>
      val tag = s"shard=$k/"
      assert(stampsBefore.filter(_._1.contains(tag)) ==
        stampsAfter.filter(_._1.contains(tag)), s"shard $k bytes rewritten")
    }
    // the manifest is INVARIANT — compaction moved bytes, not content
    val after = manifestMap(ShardExport.manifest(spark.read.parquet(dir)))
    assert(after == before)
    // idempotence / threshold law: a second pass at the same threshold
    // selects nothing and touches nothing
    assert(ShardExport.compactShards(spark, dir, maxRuns = 1).isEmpty)
    assert(fileStamps(dir) == stampsAfter)
    // the compaction scratch lives under the Stage-managed staging
    // root, NOT as a sibling of the layout (round-12 ADVICE: the old
    // `<dir>-compact-tmp` sibling leaked on a mid-compaction crash)
    assert(!new java.io.File(dir + "-compact-tmp").exists(),
      "sibling compact-tmp dir must not exist")
    // nothing but shard dirs (and Spark's _SUCCESS marker) remains in
    // the layout — no aside dirs survive a completed compaction
    val leftovers = new java.io.File(dir).listFiles().toSeq
      .map(_.getName).filterNot(n =>
        n.startsWith("shard=") || n.startsWith("_SUCCESS") || n.startsWith("."))
    assert(leftovers.isEmpty, s"unexpected layout residue: $leftovers")
  }

  test("q163 crash contract: an interrupted swap recovers — aside rolled back or dropped, content invariant") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("cmpcrash")
    ShardExport.writeShards(docs, "doc_id", dir, nShards = 8)
    ShardExport.appendShards(docs.limit(16), "doc_id", dir, nShards = 8)
    val before = manifestMap(ShardExport.manifest(spark.read.parquet(dir)))
    val someShard = ShardExport.runCounts(spark, dir)
      .filter(_._2 > 1).keys.head
    val root = new java.io.File(dir)
    // (1) crash BETWEEN the two renames: shard=k gone, aside holds the
    // rows — the layout's partition discovery skips the _-prefixed
    // aside, so the shard is transiently invisible, NOT lost
    val shardDir = new java.io.File(root, s"shard=$someShard")
    val aside = new java.io.File(root, s"_old_shard=$someShard")
    assert(shardDir.renameTo(aside))
    ShardExport.recoverLayout(spark, dir)
    assert(shardDir.exists() && !aside.exists(), "rollback did not restore")
    assert(manifestMap(ShardExport.manifest(spark.read.parquet(dir)))
      == before, "recovered layout content drifted")
    // (2) crash AFTER the swap, before the aside delete: both exist —
    // recovery finishes the delete and keeps the (new) shard dir
    val asideCopy = new java.io.File(root, s"_old_shard=$someShard")
    assert(asideCopy.mkdir())
    java.nio.file.Files.write(
      new java.io.File(asideCopy, "stale.parquet").toPath,
      Array[Byte](1, 2, 3))
    ShardExport.recoverLayout(spark, dir)
    assert(shardDir.exists() && !asideCopy.exists(), "leftover aside kept")
    // (3) compactShards itself runs recovery first: seed an interrupted
    // state and let the real call heal + compact in one pass
    assert(shardDir.renameTo(aside))
    val compacted = ShardExport.compactShards(spark, dir, maxRuns = 1)
    assert(compacted.contains(someShard))
    assert(manifestMap(ShardExport.manifest(spark.read.parquet(dir)))
      == before, "compaction after recovery lost rows")
    assert(root.listFiles().forall(f => !f.getName.startsWith("_old_shard=")))
  }

  test("splitShards on a POST-APPEND multi-run parent: every child file is one sorted run") {
    // small-file packing places two sorted runs of one parent shard in
    // the same read split; without the task-local write sort the child
    // file would be two concatenated runs (round-12 ADVICE)
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val parent = tmp("splitp")
    val child = tmp("splitc")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    ShardExport.writeShards(half1, "doc_id", parent, nShards = 4)
    ShardExport.appendShards(half2, "doc_id", parent, nShards = 4)
    assert(ShardExport.runCounts(spark, parent).values.exists(_ > 1),
      "fixture degenerate: parent has no multi-run shard")
    ShardExport.splitShards(spark, parent, child, nShardsOld = 4)
    landedFiles(child).foreach { f =>
      val draws = spark.read.parquet(f.getAbsolutePath)
        .select("draw").collect().map(_.getString(0)).toSeq
      assert(draws == draws.sorted, s"child ${f.getName} not a sorted run")
    }
    // content invariant: children pair-sum to the parent corpus
    assert(spark.read.parquet(child).count() ==
      spark.read.parquet(parent).count())
  }

  // ---- q166 versioned layout / time travel ----

  test("q166 lifecycle: snapshots are exact at every version; logical compaction is invisible; vacuum kills only past-horizon reads") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val lake = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val dir = tmp("vers")
    assert(VersionedShards.commitAppend(spark, lake, "doc_id", dir, 16) == 0)
    assert(VersionedShards.commitAppend(spark, batch, "doc_id", dir, 16) == 1)
    val lakeM = manifestMap(ShardExport.manifest(
      ShardExport.withShardKey(lake, "doc_id", 16)))
    val fullM = manifestMap(ShardExport.manifest(
      ShardExport.withShardKey(docs, "doc_id", 16)))
    // v0 sees the lake only; v1 sees everything
    assert(manifestMap(ShardExport.manifest(
      VersionedShards.readAsOf(spark, dir, 0))) == lakeM)
    assert(manifestMap(ShardExport.manifest(
      VersionedShards.readAsOf(spark, dir, 1))) == fullM)
    // logical compaction: selected = live multi-run shards; the new
    // version's content is IDENTICAL; v0/v1 snapshots still exact
    // (their files were logged out, not deleted)
    val multiRun = VersionedShards.liveFiles(spark, dir, 1)
      .groupBy(_._1).filter(_._2.size > 1).keySet
    val (v2, compacted) = VersionedShards.compactCommit(spark, dir, 16)
    assert(v2 == 2 && compacted.toSet == multiRun)
    assert(manifestMap(ShardExport.manifest(
      VersionedShards.readAsOf(spark, dir, 2))) == fullM)
    assert(manifestMap(ShardExport.manifest(
      VersionedShards.readAsOf(spark, dir, 0))) == lakeM)
    assert(manifestMap(ShardExport.manifest(
      VersionedShards.readAsOf(spark, dir, 1))) == fullM)
    // every compacted shard is now one live run, draw-sorted
    val liveNow = VersionedShards.liveFiles(spark, dir, 2).groupBy(_._1)
    compacted.foreach(s => assert(liveNow(s).size == 1, s"shard $s runs"))
    liveNow.filter(kv => compacted.contains(kv._1)).values.flatten.foreach {
      case (_, p) =>
        val draws = spark.read.parquet(s"$dir/$p")
          .select("draw").collect().map(_.getString(0)).toSeq
        assert(draws == draws.sorted, s"compacted $p not draw-sorted")
    }
    // a compaction pass with nothing above threshold commits NOTHING
    assert(VersionedShards.compactCommit(spark, dir, 16)._1 == -1)
    assert(VersionedShards.currentVersion(spark, dir) == 2)
    // vacuum at the compaction horizon: superseded runs are deleted,
    // the current snapshot stays exact, pre-compaction snapshots fail
    // LOUDLY instead of silently shrinking
    val deleted = VersionedShards.vacuum(spark, dir, 2)
    assert(deleted.nonEmpty)
    assert(manifestMap(ShardExport.manifest(
      VersionedShards.readAsOf(spark, dir, 2))) == fullM)
    val err = intercept[IllegalArgumentException] {
      VersionedShards.readAsOf(spark, dir, 0).count()
    }
    assert(err.getMessage.contains("vacuum"))
  }

  test("q166 streaming ingest twin: every snapshot equals its arrival prefix on an interleaved split") {
    import java.nio.file.Files
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    // interleaved (doc_id % 3) arrival — snapshot-per-prefix must hold
    // for ANY split, not just id-ordered terciles
    val streamDir = Files.createTempDirectory("vers_stream").toString
    (0 until 3).foreach { i =>
      val part = Files.createTempDirectory(s"vers_p$i").toString
      docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(part)
      val src = Files.list(java.nio.file.Paths.get(part)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$streamDir/part_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      ()
    }
    val lakeDir = tmp("vers-twin")
    val ckpt = Files.createTempDirectory("vers_ckpt").toString
    val q = streaming.DocStreams.versionedLakeSink(
      streaming.DocStreams.readDocs(spark, streamDir), lakeDir, 16, ckpt)
    q.processAllAvailable()
    q.stop()
    assert(VersionedShards.currentVersion(spark, lakeDir) == 2)
    // snapshot as-of batch k == one-shot manifest of the k-prefix
    (0 until 3).foreach { k =>
      val prefix = docs.filter(col("doc_id") % 3 <= k)
      assert(manifestMap(ShardExport.manifest(
        VersionedShards.readAsOf(spark, lakeDir, k))) ==
        manifestMap(ShardExport.manifest(
          ShardExport.withShardKey(prefix, "doc_id", 16))),
        s"snapshot as-of batch $k drifted from its arrival prefix")
    }
    // replay idempotency: re-commit batch 1's content at version 1 and
    // the layout converges to the same snapshots
    VersionedShards.commitAs(spark,
      docs.filter(col("doc_id") % 3 === 1), "doc_id", lakeDir, 16, 1)
    assert(manifestMap(ShardExport.manifest(
      VersionedShards.readAsOf(spark, lakeDir, 2))) ==
      manifestMap(ShardExport.manifest(
        ShardExport.withShardKey(docs, "doc_id", 16))))
  }

  test("q182 streaming MV twin: every mv_k equals the full recompute of its arrival prefix") {
    import java.nio.file.Files
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val streamDir = Files.createTempDirectory("mv_stream").toString
    (0 until 3).foreach { i =>
      val part = Files.createTempDirectory(s"mv_p$i").toString
      docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(part)
      val src = Files.list(java.nio.file.Paths.get(part)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$streamDir/part_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      ()
    }
    val lakeDir = tmp("mv-lake")
    val mvDir = tmp("mv-views")
    val ckpt = Files.createTempDirectory("mv_ckpt").toString
    val q = streaming.DocStreams.incrementalMvSink(
      streaming.DocStreams.readDocs(spark, streamDir), lakeDir, 16,
      mvDir, ckpt)
    q.processAllAvailable()
    q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    (0 until 3).foreach { k =>
      val streamed = asMap(spark.read.parquet(s"$mvDir/mv_$k"))
      val recomputed = asMap(queries.Export.groupedMv(
        docs.filter(col("doc_id") % 3 <= k)))
      assert(streamed == recomputed,
        s"streamed MV after batch $k drifted from its prefix recompute")
    }
    // replay idempotency: re-fold batch 1 from its landed inputs — the
    // re-derived view is identical to the one already on disk
    val before = asMap(spark.read.parquet(s"$mvDir/mv_1"))
    VersionedShards.commitAs(spark,
      docs.filter(col("doc_id") % 3 === 1), "doc_id", lakeDir, 16, 1)
    val replayed = asMap(queries.Export.mvApply(
      spark.read.parquet(s"$mvDir/mv_0"),
      VersionedShards.readChanges(spark, lakeDir, 0, 1, "doc_id")))
    assert(replayed == before, "a replayed micro-batch diverged the MV")
  }

  test("q201 streaming CDF twin: each feed_k is exactly its batch's rows as inserts; feeds concatenate to the lake") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val streamDir = Files.createTempDirectory("cdf_stream").toString
    (0 until 3).foreach { i =>
      val part = Files.createTempDirectory(s"cdf_p$i").toString
      docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(part)
      val src = Files.list(java.nio.file.Paths.get(part)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$streamDir/part_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1100000000000L + i * 60000L))
      ()
    }
    val lakeDir = tmp("cdf-lake")
    val feedDir = tmp("cdf-feeds")
    val ckpt = Files.createTempDirectory("cdf_ckpt").toString
    val q = streaming.DocStreams.changeFeedSink(
      streaming.DocStreams.readDocs(spark, streamDir), lakeDir, 16,
      feedDir, ckpt)
    q.processAllAvailable()
    q.stop()
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    (0 until 3).foreach { k =>
      val feed = spark.read.parquet(s"$feedDir/feed_$k")
      assert(feed.filter(col("_change_type") =!= "insert").count() == 0,
        s"append-only stream produced non-insert CDF rows at batch $k")
      assert(keyset(feed) == keyset(docs.filter(col("doc_id") % 3 === k)),
        s"feed_$k is not exactly its batch")
      assert(!feed.columns.contains("shard") && !feed.columns.contains("draw"),
        "engine-internal columns leaked into the published feed")
    }
    // the concatenated feeds replay into the lake's final state
    val concat = (0 until 3).map(k =>
      spark.read.parquet(s"$feedDir/feed_$k")).reduce(_.unionByName(_))
    assert(keyset(concat) == keyset(docs) &&
      concat.count() == docs.count())
  }

  test("q167: the metadata diff is row-exact; it refuses compaction-spanning intervals") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val lake = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val dir = tmp("diff")
    VersionedShards.commitAppend(spark, lake, "doc_id", dir, 16)
    VersionedShards.commitAppend(spark, batch, "doc_id", dir, 16)
    // the v0→v1 diff is the batch, row for row
    val diff = VersionedShards.readDiff(spark, dir, 0, 1)
    assert(diff.count() == batch.count())
    assert(diff.select("doc_id").except(batch.select("doc_id")).isEmpty &&
      batch.select("doc_id").except(diff.select("doc_id")).isEmpty)
    // ...and it reads ONLY v1 files: every scanned path sits under
    // v1's own data subtree
    diff.queryExecution.analyzed // force resolution
    val root1 = new java.io.File(
      VersionedShards.dataRootOf(spark, dir, 1).get).getName
    val scanned = diff.inputFiles
    assert(scanned.nonEmpty && scanned.forall(_.contains(s"/$root1/")),
      s"diff scanned outside $root1: ${scanned.mkString(",")}")
    // an interval spanning a compaction is refused, not over-reported
    val (v2, _) = VersionedShards.compactCommit(spark, dir, 16)
    assert(v2 == 2)
    val err = intercept[IllegalArgumentException] {
      VersionedShards.readDiff(spark, dir, 0, 2)
    }
    assert(err.getMessage.contains("compaction"))
    // the ROW-LEVEL slow path serves exactly that refused interval:
    // the compaction's rewritten rows cancel in the (key, fingerprint)
    // anti-join and only the v1 batch survives
    val rowDiff = VersionedShards.readDiffRows(spark, dir, 0, 2, "doc_id")
    assert(rowDiff.count() == batch.count())
    assert(rowDiff.select("doc_id").except(batch.select("doc_id")).isEmpty &&
      batch.select("doc_id").except(rowDiff.select("doc_id")).isEmpty)
    // on a compaction-FREE interval the two paths agree verbatim
    val fileIds = VersionedShards.readDiff(spark, dir, 0, 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val rowIds = VersionedShards.readDiffRows(spark, dir, 0, 1, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(fileIds == rowIds, "row-level and file-level diffs disagree")
  }

  test("q174: restore re-animates compaction-superseded files; restore-of-restore; vacuumed target refuses") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val lake = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val dir = tmp("restore")
    VersionedShards.commitAppend(spark, lake, "doc_id", dir, 16)
    VersionedShards.commitAppend(spark, batch, "doc_id", dir, 16)
    val (v2, _) = VersionedShards.compactCommit(spark, dir, 16)
    assert(v2 == 2)
    // restore to v0: the current snapshot must equal the lake exactly,
    // including rows whose ORIGINAL files the compaction had removed
    // (the order-aware per-path log fold — re-adds after removes win)
    val v3 = VersionedShards.restoreTo(spark, dir, 0)
    assert(v3 == 3)
    val cur = VersionedShards.readAsOf(spark, dir, 3)
    assert(cur.count() == lake.count())
    assert(cur.select("doc_id").except(lake.select("doc_id")).isEmpty &&
      lake.select("doc_id").except(cur.select("doc_id")).isEmpty)
    // nothing was deleted: every pre-restore snapshot still reads
    assert(VersionedShards.readAsOf(spark, dir, 2).count() == docs.count())
    assert(VersionedShards.readAsOf(spark, dir, 1).count() == docs.count())
    // restore OF the restore: roll forward to the full-corpus v2 state
    val v4 = VersionedShards.restoreTo(spark, dir, 2)
    assert(VersionedShards.readAsOf(spark, dir, v4).count() == docs.count())
    // vacuum safety law at horizon 2: v1's compaction-superseded batch
    // files (needed only by the pre-horizon v1 snapshot) ARE
    // reclaimable, but every v0 original the restores re-animated must
    // SURVIVE — deleting one would darken v3's (and the current)
    // snapshot
    val doomed = VersionedShards.vacuum(spark, dir, 2)
    val batchRoot = new java.io.File(
      VersionedShards.dataRootOf(spark, dir, 1).get).getName
    assert(doomed.nonEmpty && doomed.forall(_.startsWith(s"$batchRoot/")),
      s"vacuum reclaimed a restore-re-animated file: $doomed")
    assert(VersionedShards.readAsOf(spark, dir, 3).count() == lake.count())
    assert(VersionedShards.readAsOf(spark, dir, v4).count() == docs.count())
  }

  test("q174: restoring to a vacuumed-away snapshot refuses loudly") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("restore-vac")
    VersionedShards.commitAppend(spark,
      docs.filter(col("doc_id") % 10 =!= 7), "doc_id", dir, 16)
    VersionedShards.commitAppend(spark,
      docs.filter(col("doc_id") % 10 === 7), "doc_id", dir, 16)
    val (v2, _) = VersionedShards.compactCommit(spark, dir, 16)
    assert(v2 == 2)
    // no restore intervenes: the compaction-superseded originals are
    // genuinely dead past the horizon and vacuum reclaims them
    val doomed = VersionedShards.vacuum(spark, dir, 2)
    assert(doomed.nonEmpty)
    val err = intercept[IllegalArgumentException] {
      VersionedShards.restoreTo(spark, dir, 0)
    }
    assert(err.getMessage.contains("vacuum"))
  }

  test("q175: merge replaces matched keys, inserts new ones, and rewrites ONLY the touched shards") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("merge")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16)
    val preFiles = VersionedShards.liveFiles(spark, dir, 0).toSet
    // batch: revise 5 docs, insert 3 new keys
    val revised = docs.orderBy(col("doc_id")).limit(5)
      .withColumn("text", lit("revised content"))
    val inserted = docs.orderBy(col("doc_id")).limit(3)
      .withColumn("doc_id", col("doc_id") + 5000000L)
      .withColumn("source", lit("ins"))
    val batch = revised.unionByName(inserted)
    val v1 = VersionedShards.mergeCommit(spark, batch, "doc_id", dir, 16)
    assert(v1 == 1)
    val after = VersionedShards.readAsOf(spark, dir, 1)
    // cardinality: replaced, not duplicated; inserted, not dropped
    assert(after.count() == docs.count() + 3)
    val revisedIds = revised.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val got = after.filter(col("doc_id").isin(revisedIds.toSeq: _*))
      .select("text").collect().map(_.getString(0))
    assert(got.length == revisedIds.size &&
      got.forall(_ == "revised content"), "revision lost or duplicated")
    assert(after.filter(col("source") === "ins").count() == 3)
    // pruning law: shards outside the batch's md5 assignment keep
    // their EXACT file set (paths untouched — no rewrite, no remove)
    val touched = graft.sinks.ShardExport
      .withShardKey(batch, "doc_id", 16)
      .select("shard").distinct().collect().map(_.getInt(0)).toSet
    val afterFiles = VersionedShards.liveFiles(spark, dir, 1).toSet
    val untouchedPre = preFiles.filterNot(f => touched(f._1))
    assert(untouchedPre.subsetOf(afterFiles),
      "an untouched shard's file was rewritten or removed")
    assert(touched.size < 16, "fixture degenerate: every shard touched")
    // the pre-merge snapshot still reads the ORIGINAL content
    val v0texts = VersionedShards.readAsOf(spark, dir, 0)
      .filter(col("doc_id").isin(revisedIds.toSeq: _*))
      .select("text").collect().map(_.getString(0))
    assert(v0texts.forall(_ != "revised content"),
      "merge mutated the historical snapshot")
    // an EMPTY batch is a LOG-ONLY commit: it still takes the next
    // version, lands no data subtree, and moves no file
    val v2 = VersionedShards.mergeCommit(spark, batch.limit(0), "doc_id",
      dir, 16)
    assert(v2 == 2, s"empty merge did not take a version: $v2")
    assert(VersionedShards.dataRootOf(spark, dir, 2).isEmpty,
      "an empty merge landed a data subtree")
    assert(VersionedShards.liveFiles(spark, dir, 2).toSet == afterFiles)
  }

  test("q178: delete removes exactly the matches, rewrites only match-holding files, NULL predicates survive") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
      // plant NULL-predicate rows: SQL DELETE must let them survive
      .withColumn("n_chars",
        when(col("doc_id") % 11 === 0, lit(null))
          .otherwise(col("n_chars")))
    val dir = tmp("delete")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16)
    val preFiles = VersionedShards.liveFiles(spark, dir, 0).toSet
    // a SELECTIVE content predicate (matches the max-length doc(s), a
    // couple of files at most — the pruning law below needs no-match
    // files to exist); still NULL on the planted rows
    val target = docs.agg(max(col("n_chars"))).collect()(0).getLong(0)
    val pred = col("n_chars") === target
    val v1 = VersionedShards.deleteCommit(spark, dir, pred, 16)
    assert(v1 == 1)
    val after = VersionedShards.readAsOf(spark, dir, v1)
    val expectSurvivors = docs.filter(not(coalesce(pred, lit(false))))
    assert(after.count() == expectSurvivors.count())
    assert(after.filter(coalesce(pred, lit(false))).count() == 0,
      "a matching row survived the delete")
    assert(after.filter(col("n_chars").isNull).count() ==
      docs.filter(col("n_chars").isNull).count(),
      "NULL-predicate rows must survive a DELETE")
    // pruning law: only files that HELD a match were removed; every
    // other pre-delete file is still live at v1, path-identical
    val removed = VersionedShards.log(spark, dir)
      .filter(col("version") === 1 && col("action") === "remove")
      .select("shard", "path").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(removed.nonEmpty && removed.subsetOf(preFiles))
    assert(removed.size < preFiles.size,
      "fixture degenerate: every file held a match")
    val afterFiles = VersionedShards.liveFiles(spark, dir, v1).toSet
    assert((preFiles -- removed).subsetOf(afterFiles),
      "a no-match file was rewritten or dropped")
    // the pre-delete snapshot still reads every original row
    assert(VersionedShards.readAsOf(spark, dir, 0).count() == docs.count())
    // a no-match delete is a LOG-ONLY commit: nothing moves
    val v2 = VersionedShards.deleteCommit(spark, dir,
      col("doc_id") === -999L, 16)
    assert(v2 == 2)
    assert(VersionedShards.liveFiles(spark, dir, v2).toSet == afterFiles)
    assert(VersionedShards.readAsOf(spark, dir, v2).count() ==
      expectSurvivors.count())
  }

  test("q179: schema evolution null-fills old files; v0 keeps its schema; delete composes via mergeSchema") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("evolve")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16)
    val evolved = docs.orderBy(col("doc_id")).limit(4)
      .withColumn("doc_id", col("doc_id") + 7000000L)
      .withColumn("quality", lit(7L))
    VersionedShards.commitAppend(spark, evolved, "doc_id", dir, 16)
    // time travel is also SCHEMA travel: v0 has no `quality` column
    assert(!VersionedShards.readAsOf(spark, dir, 0)
      .columns.contains("quality"))
    val cur = VersionedShards.readAsOf(spark, dir, 1)
    assert(cur.columns.contains("quality"))
    assert(cur.filter(col("quality").isNull).count() == docs.count(),
      "pre-evolution rows must null-fill the evolved column")
    assert(cur.filter(col("quality") === 7L).count() == 4)
    // DML composes with the evolved schema (mergeSchema reads): delete
    // by the NEW column removes exactly the evolved rows. With every
    // quality-bearing row gone, only pre-evolution files stay live —
    // the snapshot schema legitimately reverts (schema is derived from
    // live files, not a table-metadata catalog)
    val v2 = VersionedShards.deleteCommit(spark, dir,
      col("quality") === 7L, 16)
    val afterDel = VersionedShards.readAsOf(spark, dir, v2)
    assert(afterDel.count() == docs.count())
    if (afterDel.columns.contains("quality"))
      assert(afterDel.filter(col("quality").isNotNull).count() == 0)
  }

  test("q173: a row rewritten by compaction never reappears; a CONTENT change does") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("rowdiff")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16)
    VersionedShards.commitAppend(spark, docs.limit(12), "doc_id", dir, 16)
    val (v2, compacted) = VersionedShards.compactCommit(spark, dir, 16)
    assert(v2 == 2 && compacted.nonEmpty)
    // v1 re-committed EXISTING rows and v2 rewrote files: the (0, 2]
    // row-level diff is EMPTY — no content is new, however many files
    // the interval added
    assert(VersionedShards.readDiffRows(spark, dir, 0, 2, "doc_id")
      .isEmpty, "rewritten/duplicate rows leaked into the row diff")
    // a revised doc (same key, new text) IS new content
    val revised = docs.limit(3)
      .withColumn("text", concat(coalesce(col("text"), lit("")), lit(" rev2")))
    VersionedShards.commitAppend(spark, revised, "doc_id", dir, 16)
    val d = VersionedShards.readDiffRows(spark, dir, 0, 3, "doc_id")
    assert(d.count() == 3)
    assert(d.select("text").collect().forall(_.getString(0).endsWith(" rev2")))
  }

  test("q166/q167: an all-empty history serves empty snapshots and diffs, not errors") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text")).limit(0)
    val dir = tmp("empty-vers")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16)
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16)
    assert(VersionedShards.readAsOf(spark, dir, 0).count() == 0)
    assert(VersionedShards.readAsOf(spark, dir, 1).count() == 0)
    assert(VersionedShards.readDiff(spark, dir, 0, 1).count() == 0)
    assert(VersionedShards.compactCommit(spark, dir, 16)._1 == -1)
  }

  test("q166 registry run: the as-of-v0 snapshot equals a direct lake manifest") {
    val snap = queries.Export.q166.run(spark, TestSpark.sf0001)
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val lakeM = manifestMap(ShardExport.manifest(
      ShardExport.withShardKey(docs.filter(col("doc_id") % 10 =!= 7),
        "doc_id", 16)))
    assert(manifestMap(snap) == lakeM)
  }

  test("q182 readChanges: updates surface as delete+insert pairs; scan touches only changed files") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("changes")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16)
    // a NARROW merge (2 revisions + 1 insert) so most of the 16 shards
    // stay untouched — the pruning assertion below needs a nonempty
    // common-file set to be meaningful
    val revised = docs.filter(col("doc_id").isin(3L, 13L))
      .withColumn("text", concat(coalesce(col("text"), lit("")), lit(" v2")))
    val inserted = docs.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 1000L).as("doc_id"), col("source"),
        col("lang"), col("n_chars"), col("text"))
    VersionedShards.mergeCommit(spark, revised.unionByName(inserted),
      "doc_id", dir, 16)
    val ch = VersionedShards.readChanges(spark, dir, 0, 1, "doc_id")
    val nRev = revised.count(); val nIns = inserted.count()
    // inserts = revised rows (new content) + genuinely new keys;
    // deletes = the revised keys' ORIGINAL rows. Untouched rows the
    // merge rewrite merely moved between files cancel.
    assert(ch.filter(col("_change") === "insert").count() == nRev + nIns)
    assert(ch.filter(col("_change") === "delete").count() == nRev)
    val updKeys = ch.filter(col("_change") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(updKeys == revised.select("doc_id").collect()
      .map(_.getLong(0)).toSet)
    // file-pruning law: the changes job scans ONLY the symmetric
    // difference of the two live-file sets — immutable files live in
    // both snapshots can never produce a change and must not be read
    def rel(p: String) = p.split('/').takeRight(3).mkString("/")
    val f0 = VersionedShards.liveFiles(spark, dir, 0).map(_._2).toSet
    val f1 = VersionedShards.liveFiles(spark, dir, 1).map(_._2).toSet
    val commonRel = (f0 intersect f1).map(rel)
    val scannedRel = ch.inputFiles.map(p =>
      rel(java.net.URLDecoder.decode(p, "UTF-8"))).toSet
    assert(scannedRel.nonEmpty && commonRel.nonEmpty &&
      scannedRel.forall(!commonRel.contains(_)),
      "changes scan read a file common to both snapshots")
    // the insert side agrees with the snapshot-level row diff
    val viaSnapshots = VersionedShards.readDiffRows(spark, dir, 0, 1,
      "doc_id").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val viaFiles = ch.filter(col("_change") === "insert")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaFiles == viaSnapshots)
    // an empty commit yields zero changes, not an error
    VersionedShards.commitAppend(spark, docs.limit(0), "doc_id", dir, 16)
    assert(VersionedShards.readChanges(spark, dir, 1, 2, "doc_id")
      .count() == 0)
  }

  test("readChanges is multiplicity-exact: dropping one of two duplicate rows reports one delete") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("mult")
    val one = docs.filter(col("doc_id") === 5L)
    // v0 carries doc 5 TWICE (two fully-identical rows, same key)
    VersionedShards.commitAppend(spark,
      docs.filter(col("doc_id") < 40).unionByName(one), "doc_id", dir, 16)
    assert(VersionedShards.readAsOf(spark, dir, 0)
      .filter(col("doc_id") === 5L).count() == 2)
    // the merge upsert collapses key 5 to ONE copy, content unchanged:
    // a per-(key,fp) SET anti-join would report zero changes here and
    // silently drift every maintained aggregate by one row
    VersionedShards.mergeCommit(spark, one, "doc_id", dir, 16)
    val ch = VersionedShards.readChanges(spark, dir, 0, 1, "doc_id")
    assert(ch.filter(col("_change") === "insert").count() == 0)
    val dels = ch.filter(col("_change") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(dels == Seq(5L),
      s"expected exactly one delete of doc 5, got $dels")
    // and the incremental fold across it equals the full recompute
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val maintained = queries.Export.mvApply(
      queries.Export.groupedMv(VersionedShards.readAsOf(spark, dir, 0)),
      ch)
    val recomputed = queries.Export.groupedMv(
      VersionedShards.readAsOf(spark, dir, 1))
    assert(asMap(maintained) == asMap(recomputed),
      "maintained MV diverged from the recompute on a multiplicity change")
  }

  test("q201 change feed: updates pair as pre/post images; pure arrivals and departures keep their tags") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("cdf")
    VersionedShards.commitAppend(spark, docs.filter(col("doc_id") < 40),
      "doc_id", dir, 8)
    // one commit mixing all three verbs: revise 5, insert 1, delete 7
    VersionedShards.mergeCommit(spark,
      docs.filter(col("doc_id") === 5L).withColumn("source", lit("rev"))
        .unionByName(docs.filter(col("doc_id") === 1L)
          .withColumn("doc_id", lit(9001L))),
      "doc_id", dir, 8)
    VersionedShards.deleteCommit(spark, dir, col("doc_id") === 7L, 8)
    val feed01 = VersionedShards.readChangeFeed(spark, dir, 0, 1, "doc_id")
    val tags01 = feed01.select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tags01 == Set((5L, "update_preimage"), (5L, "update_postimage"),
      (9001L, "insert")), s"$tags01")
    assert(feed01.filter(col("doc_id") === 5L &&
      col("_change_type") === "update_postimage" &&
      col("source") === "rev").count() == 1)
    val tags12 = VersionedShards.readChangeFeed(spark, dir, 1, 2, "doc_id")
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tags12 == Set((7L, "delete")), s"$tags12")
    // a byte-identical rewrite is NOT a change: merge doc 3 with its
    // own unchanged row → content-level CDC stays silent
    VersionedShards.mergeCommit(spark, docs.filter(col("doc_id") === 3L),
      "doc_id", dir, 8)
    assert(VersionedShards.readChangeFeed(spark, dir, 2, 3, "doc_id")
      .count() == 0)
  }

  test("per-commit change feed: commit-grain replay vs the windowed feed's netting") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("cdf-commits")
    VersionedShards.commitAppend(spark, docs.filter(col("doc_id") < 30),
      "doc_id", dir, 8)
    // v1 revises doc 5; v2 deletes it
    VersionedShards.mergeCommit(spark,
      docs.filter(col("doc_id") === 5L).withColumn("source", lit("rev")),
      "doc_id", dir, 8)
    VersionedShards.deleteCommit(spark, dir, col("doc_id") === 5L, 8)
    val by = VersionedShards.readChangeFeedByCommit(spark, dir, 0, 2,
      "doc_id")
    val tags = by.select("_commit_version", "doc_id", "_change_type", "source")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    // commit grain: v1 = the pre/post pair; v2 = delete of the REVISED row
    assert(tags.exists(t => t._1 == 1 && t._3 == "update_preimage" && t._4 != "rev"))
    assert(tags.exists(t => t._1 == 1 && t._3 == "update_postimage" && t._4 == "rev"))
    assert(tags.exists(t => t._1 == 2 && t._3 == "delete" && t._4 == "rev"))
    assert(tags.size == 3, s"$tags")
    // the windowed feed NETS the revision away: only the original
    // row's departure remains
    val windowed = VersionedShards.readChangeFeed(spark, dir, 0, 2,
      "doc_id").select("doc_id", "_change_type", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(windowed.size == 1 &&
      windowed.head._2 == "delete" && windowed.head._3 != "rev",
      s"windowed feed should net to one original-row delete: $windowed")
    // gaps contribute nothing: a version absent from the log (a
    // fixed-version batchId jump, the one legal gap source) inside the
    // window is invisible
    VersionedShards.commitAs(spark,
      docs.filter(col("doc_id") === 100L), "doc_id", dir, 8, v = 4)
    val spanning = VersionedShards.readChangeFeedByCommit(spark, dir, 2, 4,
      "doc_id")
    assert(spanning.select("_commit_version").distinct().collect()
      .map(_.getInt(0)).toSet == Set(4))
  }

  test("q202 purge erases matching rows from EVERY snapshot, leaves bytes and history otherwise intact") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("purge")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 8)
    VersionedShards.mergeCommit(spark,
      docs.filter(col("doc_id") % 5 === 1).withColumn("source", lit("rev")),
      "doc_id", dir, 8)
    val purgedKeys = docs.filter(col("doc_id") % 13 === 6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(purgedKeys.nonEmpty)
    // cost law setup: remember untouched files' stamps
    def stamps(v: Int) =
      fileStamps(VersionedShards.dataRootOf(spark, dir, v).get)
    val v0Before = stamps(0); val v1Before = stamps(1)
    val hit = VersionedShards.purgeWhere(spark, dir,
      col("doc_id") % 13 === 6).toSet
    assert(hit.nonEmpty)
    // EVERY version stops serving the purged keys — including v0,
    // whose snapshot predates the purge
    Seq(0, 1).foreach { v =>
      val snap = VersionedShards.readAsOf(spark, dir, v)
      assert(snap.filter(col("doc_id").isin(purgedKeys.toSeq: _*))
        .count() == 0, s"v$v still serves purged rows")
    }
    // history shape untouched: same version count, same log rows
    assert(VersionedShards.currentVersion(spark, dir) == 1)
    // non-matching rows all survive, revised content preserved
    val v1 = VersionedShards.readAsOf(spark, dir, 1)
    assert(v1.count() == docs.count() - purgedKeys.size)
    assert(v1.filter(col("doc_id") % 5 === 1 && col("source") =!= "rev")
      .count() == 0)
    // cost law: only files that held matching rows were rewritten
    val untouched0 = v0Before.filter { case (f, _) => !hit.exists(f.endsWith) }
    val untouched1 = v1Before.filter { case (f, _) => !hit.exists(f.endsWith) }
    assert(untouched0.forall { case (f, t) => stamps(0).get(f).contains(t) } &&
      untouched1.forall { case (f, t) => stamps(1).get(f).contains(t) },
      "purge rewrote files holding no matching rows")
    // a clone's purge never reaches imported bytes
    val dst = tmp("purge-clone")
    VersionedShards.cloneLayout(spark, dir, dst)
    assert(VersionedShards.purgeWhere(spark, dst,
      col("doc_id") % 5 === 1).isEmpty,
      "clone purge rewrote files it does not own")
  }

  test("a crash before publish leaves NO visible commit; gcOrphans reclaims only unreferenced payloads") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("crash")
    VersionedShards.commitAppend(spark, docs.limit(5), "doc_id", dir, 16,
      ts = 5000L)
    VersionedShards.commitAppend(spark, docs.limit(9), "doc_id", dir, 16,
      ts = 7000L)
    // simulate the crash window: a writer staged a payload subtree and
    // a manifest but died before its atomic publish — under claim ≡
    // commit there is NO pointer, so the commit simply never happened
    docs.limit(3).write.parquet(s"$dir/d-00000000000000aa")
    docs.limit(1).select(lit(0).as("shard"), lit("x").as("path"),
      lit("add").as("action"))
      .write.parquet(s"$dir/_log/m-00000000000000bb")
    assert(VersionedShards.currentVersion(spark, dir) == 1,
      "a staged-but-unpublished commit became visible")
    assert(VersionedShards.commitTimestamps(spark, dir) ==
      Seq(0 -> 5000L, 1 -> 7000L),
      "the orphan leaked into the timeline")
    assert(VersionedShards.versionAt(spark, dir, Long.MaxValue) == 1)
    assert(VersionedShards.readAsOf(spark, dir, 1).count() == 14)
    // GC reclaims exactly the unreferenced leavings — never a
    // committed version's payload (age bound -1 = everything old)
    val swept = VersionedShards.gcOrphans(spark, dir, olderThanMs = -1L)
    assert(swept == Seq("d-00000000000000aa", "m-00000000000000bb"),
      s"gc swept the wrong set: $swept")
    assert(VersionedShards.readAsOf(spark, dir, 1).count() == 14 &&
      VersionedShards.readAsOf(spark, dir, 0).count() == 5,
      "gc touched a committed payload")
  }

  test("atomicPublishFile: first writer wins the exact name, content is complete and immutable") {
    import graft.sinks.VersionedShards
    val dir = tmp("rsv")
    assert(VersionedShards.atomicPublishFile(spark, dir, "c-probe",
      "first-writer"))
    // the loser's publish must refuse — and must not clobber or even
    // dent the winner's content (link(2)/rename-no-replace semantics)
    assert(!VersionedShards.atomicPublishFile(spark, dir, "c-probe",
      "second-writer"),
      "a second publish at a taken name claimed success")
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_log/c-probe")), "UTF-8")
    assert(body == "first-writer",
      s"the loser's content leaked into the committed pointer: $body")
    // pin the FS contract the narrowed catch relies on: a second
    // link(2) at an existing name throws *FileAlreadyExists*, so any
    // OTHER IOException (permissions, full disk) provably escapes
    // instead of being misread as a writer storm
    val src = java.nio.file.Paths.get(s"$dir/_log/c-probe")
    val ex = intercept[java.nio.file.FileAlreadyExistsException] {
      java.nio.file.Files.createLink(src, src)
    }
    assert(ex != null)
    // losers leave no temp litter behind
    assert(!new java.io.File(s"$dir/_log").listFiles()
      .exists(_.getName.startsWith(".tmp-")), "temp litter left behind")
  }

  test("q182 MV maintenance across a MERGE equals the full recompute; compaction produces a no-op fold") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("mv-merge")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16)
    val revised = docs.filter(col("doc_id") % 10 === 3)
      .withColumn("n_chars", coalesce(col("n_chars"), lit(0L)) + 7L)
      .withColumn("source", lit("revised"))
    VersionedShards.mergeCommit(spark, revised, "doc_id", dir, 16)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val maintained = queries.Export.mvApply(
      queries.Export.groupedMv(VersionedShards.readAsOf(spark, dir, 0)),
      VersionedShards.readChanges(spark, dir, 0, 1, "doc_id"))
    val recomputed = queries.Export.groupedMv(
      VersionedShards.readAsOf(spark, dir, 1))
    assert(asMap(maintained) == asMap(recomputed),
      "maintained MV diverged from the full recompute after a merge")
    // commit enough duplicate churn to trigger a compaction: rewritten
    // rows cancel in the CDC, so the fold across it changes nothing
    VersionedShards.commitAppend(spark, docs.limit(12), "doc_id", dir, 16)
    val (v3, _) = VersionedShards.compactCommit(spark, dir, 16)
    assert(v3 == 3)
    val ch23 = VersionedShards.readChanges(spark, dir, 2, 3, "doc_id")
    assert(ch23.count() == 0,
      "a pure compaction leaked rows into the CDC stream")
  }

  test("q183 versionAt: bracketing, exact-boundary, pre-history refusal, skewed-clock monotonicity") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("ts-travel")
    VersionedShards.commitAppend(spark, docs.limit(5), "doc_id", dir, 16,
      ts = 5000L)
    // clock skew: v1 stamps EARLIER than v0 — the read-side adjustment
    // must serve it as 5001, keeping resolution well-defined
    VersionedShards.commitAppend(spark, docs.limit(9), "doc_id", dir, 16,
      ts = 3000L)
    assert(VersionedShards.commitTimestamps(spark, dir) ==
      Seq(0 -> 5000L, 1 -> 5001L))
    assert(VersionedShards.versionAt(spark, dir, 5000L) == 0) // boundary
    assert(VersionedShards.versionAt(spark, dir, 5001L) == 1)
    assert(VersionedShards.versionAt(spark, dir, Long.MaxValue) == 1)
    val e = intercept[IllegalArgumentException] {
      VersionedShards.versionAt(spark, dir, 4999L)
    }
    assert(e.getMessage.contains("precedes the first commit"))
    assert(VersionedShards.readAsOfTs(spark, dir, 5000L).count() == 5)
    assert(VersionedShards.readAsOfTs(spark, dir, 9999L).count() == 9 + 5)
  }

  test("q186 optimize: row-group skipping improves, v0 stays byte-identical, CDC across it is empty") {
    import graft.sinks.{VersionedShards, ZOrderLayout}
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("optimize")
    // 2 shards + tiny row groups so each test-scale file carries many
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 2)
    val root0 = VersionedShards.dataRootOf(spark, dir, 0).get
    val stamps0 = fileStamps(root0)
    val (v1, rewritten) = VersionedShards.optimizeCommit(spark, dir, 2,
      pmod(coalesce(col("n_chars"), lit(0L)), lit(256L)).cast("int"),
      pmod(col("doc_id"), lit(256L)).cast("int"),
      blockSize = Some(16 * 1024))
    assert(v1 == 1 && rewritten > 0)
    // content invariance both ways: the optimized snapshot equals the
    // corpus, and v0 still serves its exact pre-optimize bytes
    assert(VersionedShards.readAsOf(spark, dir, 1)
      .select("doc_id").exceptAll(docs.select("doc_id")).count() == 0)
    assert(fileStamps(root0) == stamps0,
      "optimize touched v0's superseded bytes")
    // CDC inertness: rows only moved between files
    assert(VersionedShards.readChanges(spark, dir, 0, 1, "doc_id")
      .count() == 0, "optimize leaked rows into the CDC stream")
    // the clustering claim, at the granularity that matters: row
    // groups surviving an n_chars band under footer zone maps. v=0 is
    // draw-ordered (random w.r.t. n_chars: every row group spans the
    // range); the optimized files bound the band.
    val band = Seq(("n_chars", 0L, 63L))
    val root1 = VersionedShards.dataRootOf(spark, dir, 1).get
    val pre = ZOrderLayout.rowGroupZoneMap(spark, s"$root0/shard=0",
      Seq("n_chars"))
    val post = ZOrderLayout.rowGroupZoneMap(spark, s"$root1/shard=0",
      Seq("n_chars"))
    val preHit = ZOrderLayout.overlappingRowGroups(pre, band)
    val postHit = ZOrderLayout.overlappingRowGroups(post, band)
    assert(post.size > 1, s"optimized file has ${post.size} row groups — " +
      "blockSize override did not take; the skipping claim is vacuous")
    assert(postHit < post.size,
      s"optimized zone map prunes nothing ($postHit/${post.size})")
    assert(preHit == pre.size,
      s"draw-ordered baseline unexpectedly pruned ($preHit/${pre.size})")
    // vacuum reclaims the superseded v0 bytes; the current snapshot
    // keeps reading
    VersionedShards.vacuum(spark, dir, 1)
    assert(VersionedShards.readAsOf(spark, dir, 1).count() == docs.count())
    intercept[IllegalArgumentException] {
      VersionedShards.readAsOf(spark, dir, 0).count()
    }: Unit
  }

  test("q191 history: per-commit add/remove counts match the files on disk; no-match deletes log empty commits") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("history")
    VersionedShards.commitAppend(spark, docs, "doc_id", dir, 16, ts = 10L)
    VersionedShards.deleteCommit(spark, dir, col("doc_id") === -1L, 16,
      ts = 20L) // matches nothing → log-only commit
    VersionedShards.deleteCommit(spark, dir, col("doc_id") % 5 === 0, 16,
      ts = 30L)
    val log = VersionedShards.log(spark, dir)
      .groupBy(col("version"), col("action")).count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val v0Files = landedFiles(
      VersionedShards.dataRootOf(spark, dir, 0).get).size
    assert(log((0, "add")) == v0Files.toLong)
    assert(!log.contains((1, "add")) && !log.contains((1, "remove")),
      "a no-match delete must commit an empty log entry")
    assert(log((2, "remove")) > 0 && log((2, "add")) > 0)
    assert(VersionedShards.commitTimestamps(spark, dir) ==
      Seq(0 -> 10L, 1 -> 20L, 2 -> 30L))
  }

  test("q194 shallow clone: metadata-only fork, source immutable through branch DML, ownership contract holds") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val n = docs.count()
    val src = tmp("clone-src"); val dst = tmp("clone-dst")
    VersionedShards.commitAppend(spark, docs, "doc_id", src, 16, ts = 10L)
    val srcRoot0 = VersionedShards.dataRootOf(spark, src, 0).get
    val srcStamps = fileStamps(srcRoot0)
    VersionedShards.cloneLayout(spark, src, dst, ts = 20L)
    // 1. metadata-only: the clone holds a log and NOTHING else
    assert(new java.io.File(dst).listFiles().toSeq
        .forall(_.getName == "_log"),
      "a shallow clone of a non-empty source must move zero data bytes")
    assert(VersionedShards.readAsOf(spark, dst, 0).count() == n)
    // 1b. imports are FULLY-QUALIFIED URIs (scheme-carrying), so an
    // imported file's reader resolves ITS filesystem, not the clone's
    val imported = VersionedShards.log(spark, dst)
      .filter(col("version") === 0).select("path").collect()
      .map(_.getString(0))
    assert(imported.nonEmpty && imported.forall(_.startsWith("file:/")),
      s"clone imports lost their scheme: ${imported.take(2).toSeq}")
    // 2. branch DML: delete ON the clone — the rewrite lands in the
    // clone's own subtree; the source's bytes and content are untouched
    VersionedShards.deleteCommit(spark, dst, col("doc_id") % 3 === 0, 16,
      ts = 30L)
    val expected = docs.filter(col("doc_id") % 3 =!= 0).count()
    assert(VersionedShards.readAsOf(spark, dst, 1).count() == expected)
    assert(fileStamps(srcRoot0) == srcStamps,
      "the clone's delete touched source bytes")
    assert(VersionedShards.readAsOf(spark, src, 0).count() == n)
    // 3. ownership: the clone's vacuum skips imported (absolute-path)
    // files — only the source may reclaim them
    val reclaimed = VersionedShards.vacuum(spark, dst, 1)
    assert(reclaimed.isEmpty,
      s"clone vacuum claimed imported files: $reclaimed")
    assert(fileStamps(srcRoot0) == srcStamps)
    assert(VersionedShards.readAsOf(spark, src, 0).count() == n)
    // 4. the documented caveat, loud: source-side delete + vacuum
    // reclaims files the clone's v=0 still references → the clone's
    // time-travel read fails with the missing-file require, never a
    // silent partial snapshot
    VersionedShards.deleteCommit(spark, src, col("doc_id") % 3 === 0, 16,
      ts = 40L)
    VersionedShards.vacuum(spark, src, 1)
    val e = intercept[IllegalArgumentException] {
      VersionedShards.readAsOf(spark, dst, 0).count()
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("q194 clone of an all-empty source stays schema-bearing") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text")).limit(0)
    val src = tmp("clone-esrc"); val dst = tmp("clone-edst")
    VersionedShards.commitAppend(spark, docs, "doc_id", src, 16)
    VersionedShards.cloneLayout(spark, src, dst)
    val snap = VersionedShards.readAsOf(spark, dst, 0)
    assert(snap.count() == 0 && snap.columns.contains("doc_id"))
  }

  test("q195 OCC: publish is first-create-wins, losers advance, crashed stagers consume nothing") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("occ")
    // claim ≡ commit: a writer that STAGED a payload but crashed
    // before its atomic publish consumes no version at all — the next
    // atomic append lands at v0 and the history stays contiguous
    docs.limit(3).write.parquet(s"$dir/d-00000000000000cc")
    val landed = VersionedShards.commitAppend(spark,
      docs.limit(7), "doc_id", dir, 16)
    assert(landed == 0,
      s"a crashed stager consumed a version slot: landed at v$landed")
    assert(VersionedShards.readAsOf(spark, dir, 0).count() == 7)
    val second = VersionedShards.commitAppend(spark,
      docs.filter(col("doc_id") >= 7 && col("doc_id") < 10), "doc_id",
      dir, 16)
    assert(second == 1)
    assert(VersionedShards.readAsOf(spark, dir, 1).count() == 10)
    // 16 genuinely concurrent single-doc writers: every commit lands
    // whole at a distinct version, and — new under the atomic pointer
    // protocol — the versions are CONTIGUOUS (allocation is the
    // publish itself; nothing can burn a slot)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val versions = Await.result(Future.sequence((20L until 36L).map { i =>
      Future(VersionedShards.commitAppend(spark,
        docs.filter(col("doc_id") === i), "doc_id", dir, 16))
    }), 5.minutes)
    assert(versions.toSet == (2 to 17).toSet,
      s"racing writers shared or burned a version: $versions")
    val cur = VersionedShards.currentVersion(spark, dir)
    assert(VersionedShards.readAsOf(spark, dir, cur).count() == 10 + 16,
      "a racing writer's commit was lost")
  }

  test("OCC rewrite: compaction racing 8 concurrent appends loses no rows and leaves distinct versions") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("occ-rw")
    // two base appends → every shard at 2 runs → compactable
    VersionedShards.commitAppend(spark, docs.filter(col("doc_id") < 60),
      "doc_id", dir, 8)
    VersionedShards.commitAppend(spark,
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 120), "doc_id",
      dir, 8)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val appenders = (0 until 8).map { i =>
      Future(VersionedShards.commitAppend(spark,
        docs.filter(col("doc_id") === (200L + i)), "doc_id", dir, 8))
    }
    val compactor = Future(
      VersionedShards.compactCommit(spark, dir, 8))
    val appended = Await.result(Future.sequence(appenders), 5.minutes)
    val (cv, cShards) = Await.result(compactor, 5.minutes)
    assert(cv >= 2 && cShards.nonEmpty, s"compaction never landed: $cv")
    assert((appended :+ cv).toSet.size == 9,
      s"racing writers shared a version: $appended / $cv")
    // content law: whatever the interleaving, the final snapshot is
    // exactly base ∪ appends — the compaction moved rows, never ate one
    val cur = VersionedShards.currentVersion(spark, dir)
    val got = VersionedShards.readAsOf(spark, dir, cur)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (docs.filter(col("doc_id") < 120).collect().map(_.getLong(0))
      ++ (200L until 208L)).map(_ -> 1L).toMap
    assert(got == want, "rows lost or duplicated across the race")
  }

  test("OCC rewrite: a winner removing our victims forces a replan (compaction degrades to no-op)") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("occ-cfl")
    VersionedShards.commitAppend(spark, docs.limit(30), "doc_id", dir, 4)
    VersionedShards.commitAppend(spark, docs.limit(30), "doc_id", dir, 4)
    // the rival lands BETWEEN this writer's snapshot/plan and its
    // publish — injected at the plan seam, so the interleaving is
    // DETERMINISTIC (the old two-phase protocol needed reservation
    // polling and a settle window to stage this; claim ≡ commit makes
    // the race a plain sequential schedule)
    var plans = 0
    val v = VersionedShards.commit(spark, dir) { vRead =>
      plans += 1
      val p = VersionedShards.compactPlan(spark, dir, 4)(vRead)
      if (plans == 1) {
        assert(p.isDefined, "every shard should be at 2 runs")
        // rival compaction commits v2, removing the very victims this
        // plan selected
        val (rivalV, _) = VersionedShards.compactCommit(spark, dir, 4)
        assert(rivalV == 2)
      }
      p
    }
    // the atomic compactor must detect the conflict, replan against
    // the compacted snapshot, and find nothing left to do
    assert(plans == 2 && v == -1,
      s"rewrite ignored the winner's removes and double-compacted: " +
        s"v=$v after $plans plans")
    // content unchanged throughout
    assert(VersionedShards.readAsOf(spark, dir,
      VersionedShards.currentVersion(spark, dir)).count() == 60)
  }

  test("OCC rewrite: merge validates winner ADDS in touched shards — no duplicate keys survive the race") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("occ-mrg")
    VersionedShards.commitAppend(spark, docs.filter(col("doc_id") < 50),
      "doc_id", dir, 4)
    val merged = docs.filter(col("doc_id") < 10)
      .withColumn("source", org.apache.spark.sql.functions.lit("merged"))
    val mergePlan = VersionedShards.mergePlan(spark, merged, "doc_id", dir, 4)
    // the merge's own plan, with the rival injected at the plan seam:
    // AFTER the merge snapshots v0 but BEFORE it publishes, a blind
    // append lands doc 3 AGAIN in a shard the merge reads — an
    // unvalidated merge would leave doc 3 twice
    var plans = 0
    val mv = VersionedShards.commit(spark, dir) { vRead =>
      plans += 1
      if (plans == 1)
        VersionedShards.commitAppend(spark,
          docs.filter(col("doc_id") === 3L), "doc_id", dir, 4)
      mergePlan(vRead)
    }
    assert(plans == 2, "merge did not replan around the winner's add")
    assert(mv == 2, s"merge landed at the wrong version: $mv")
    val cur = VersionedShards.currentVersion(spark, dir)
    val fin = VersionedShards.readAsOf(spark, dir, cur)
    val dupes = fin.groupBy("doc_id").count()
      .filter(col("count") > 1).collect()
    assert(dupes.isEmpty,
      s"merge missed the winner's concurrent add: duplicate keys ${dupes.toSeq}")
    assert(fin.filter(col("doc_id") < 10 && col("source") === "merged")
      .count() == 10, "replanned merge lost its upserts")
    assert(fin.count() == 50)
  }

  test("OCC rewrite: delete validates winner ADDS anywhere — a matching row landed mid-flight is deleted too") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("occ-del")
    VersionedShards.commitAppend(spark, docs.filter(col("doc_id") < 50),
      "doc_id", dir, 4)
    val pred = col("doc_id") % 5 === 0
    // the delete's own plan, with the rival injected at the plan seam:
    // AFTER the delete snapshots v0 but BEFORE it publishes, a blind
    // append lands a row the predicate matches — a delete that did not
    // replan would publish over it and leave the row live
    var plans = 0
    val v = VersionedShards.commit(spark, dir) { vRead =>
      plans += 1
      if (plans == 1)
        VersionedShards.commitAppend(spark,
          docs.limit(1).withColumn("doc_id", lit(1000L)), "doc_id", dir, 4)
      VersionedShards.deletePlan(spark, dir, pred, 4)(vRead)
    }
    assert(plans == 2, "delete did not replan around the winner's add")
    assert(v == 2, s"delete landed at the wrong version: $v")
    val fin = VersionedShards.readAsOf(spark, dir, v)
    assert(fin.filter(coalesce(pred, lit(false))).count() == 0,
      "a matching row committed mid-flight survived the delete")
    assert(fin.count() == docs.filter(col("doc_id") < 50 &&
      not(coalesce(pred, lit(false)))).count())
    // the rival's own snapshot still holds its row
    assert(VersionedShards.readAsOf(spark, dir, 1)
      .filter(col("doc_id") === 1000L).count() == 1)
  }

  test("OCC rewrite: a slow-but-alive writer always lands — stalls can never be judged as crashes") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("occ-slow")
    VersionedShards.commitAppend(spark, docs.limit(20), "doc_id", dir, 4)
    VersionedShards.commitAppend(spark, docs.limit(20), "doc_id", dir, 4)
    // the round-14 protocol's one structural hazard: a writer slower
    // than settleMs between claim and log-land was treated as crashed
    // and a racing rewrite validated past it. Under claim ≡ commit
    // there is no such judgment to get wrong: this compactor stalls
    // mid-flight (holding its plan) while TWO rivals commit, then
    // wakes and lands at the next version, validated against both.
    var plans = 0
    val v = VersionedShards.commit(spark, dir) { vRead =>
      plans += 1
      val p = VersionedShards.compactPlan(spark, dir, 4)(vRead)
      if (plans == 1) {
        VersionedShards.commitAppend(spark,
          docs.filter(col("doc_id") === 200L), "doc_id", dir, 4)
        VersionedShards.commitAppend(spark,
          docs.filter(col("doc_id") === 201L), "doc_id", dir, 4)
        Thread.sleep(250) // longer than the old test's whole settle
      }
      p
    }
    // appends never remove this plan's victims and a compaction reads
    // no shard's adds, so the stalled writer lands FIRST TRY at
    // the slot after the rivals — never abandoned, never replanned
    assert(plans == 1 && v == 4,
      s"slow writer failed to land cleanly: v=$v after $plans plans")
    assert(VersionedShards.readAsOf(spark, dir, 4).count() == 42)
    // and the rivals' rows are intact (nobody's commit was stolen)
    assert(VersionedShards.readAsOf(spark, dir, 4)
      .filter(col("doc_id") >= 200L).count() == 2)
  }

  test("q236 table constraints: CHECK-on-write rejects violating ingests whole, refuses retro-fit, races deterministically") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
      .filter(col("doc_id").isNotNull)
    val dir = tmp("constraints")
    // constraints on the empty layout: no existing rows to validate
    VersionedShards.addConstraint(spark, dir, "doc_id_not_null",
      "doc_id IS NOT NULL")
    VersionedShards.addConstraint(spark, dir, "n_chars_nonneg",
      "n_chars >= 0")
    assert(VersionedShards.tableConstraints(spark, dir).keySet ==
      Set("doc_id_not_null", "n_chars_nonneg"))
    // racing ADD on the same name: first create wins, second refuses
    val dup = intercept[Exception] {
      VersionedShards.addConstraint(spark, dir, "doc_id_not_null",
        "doc_id IS NOT NULL")
    }
    assert(dup.getMessage.contains("already exists"))
    // a clean ingest commits
    val v0 = VersionedShards.commitAppend(spark, docs.limit(40),
      "doc_id", dir, 8)
    assert(v0 == 0 && VersionedShards.readAsOf(spark, dir, 0).count() == 40)
    // a violating batch rejects the WHOLE commit — all-or-nothing:
    // the two clean rows in it must not land either
    val dirty = docs.limit(2).unionByName(
      docs.limit(1).withColumn("n_chars", lit(-5L)))
    val rej = intercept[Exception] {
      VersionedShards.commitAppend(spark, dirty, "doc_id", dir, 8)
    }
    assert(rej.getMessage.contains("n_chars_nonneg"),
      s"wrong rejection: ${rej.getMessage}")
    assert(VersionedShards.currentVersion(spark, dir) == 0,
      "a rejected commit changed the layout")
    // NULL passes (SQL CHECK semantics): a null n_chars row ingests
    val v1 = VersionedShards.commitAppend(spark,
      docs.limit(1).withColumn("n_chars",
        lit(null).cast("long")).withColumn("doc_id", lit(999999L)),
      "doc_id", dir, 8)
    assert(v1 == 1)
    // a merge batch is enforced too
    val rejM = intercept[Exception] {
      VersionedShards.mergeCommit(spark,
        docs.limit(1).withColumn("n_chars", lit(-1L)), "doc_id", dir, 8)
    }
    assert(rejM.getMessage.contains("n_chars_nonneg"))
    // ADD CONSTRAINT the existing data violates is REFUSED, not
    // retro-fitted (the null-n_chars row fails a NOT NULL check)
    val retro = intercept[Exception] {
      VersionedShards.addConstraint(spark, dir, "n_chars_not_null",
        "n_chars IS NOT NULL")
    }
    assert(retro.getMessage.contains("existing"))
    assert(!VersionedShards.tableConstraints(spark, dir)
      .contains("n_chars_not_null"))
    // dropped constraint stops gating
    VersionedShards.dropConstraint(spark, dir, "n_chars_nonneg")
    val v2 = VersionedShards.commitAppend(spark,
      docs.limit(1).withColumn("n_chars", lit(-7L))
        .withColumn("doc_id", lit(888888L)), "doc_id", dir, 8)
    assert(v2 == 2)
  }

  test("log checkpoint: transparent to every reader, replay-safe, GC-protected") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
    val dir = tmp("ckpt")
    // base = the 30 LOWEST doc_ids; idA/idB = the two HIGHEST — the
    // tail-commit and replay rows are provably disjoint from the base
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id").desc)
      .limit(2).collect().map(_.getLong(0))
    val (idA, idB) = (ids(0), ids(1))
    val base = docs.orderBy(col("doc_id").asc).limit(30)
    VersionedShards.commitAppend(spark, base, "doc_id", dir, 4,
      ts = 1000L)
    VersionedShards.mergeCommit(spark,
      base.limit(5).withColumn("source", lit("rev")), "doc_id", dir, 4)
    VersionedShards.deleteCommit(spark, dir, col("doc_id") === -1L, 4)
    def logRows() = VersionedShards.log(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSet
    val before = logRows()
    // checkpoint at v2 (covers an append, a merge, a log-only delete)
    assert(VersionedShards.checkpoint(spark, dir) == 2)
    assert(logRows() == before, "checkpointed log() changed rows")
    // commits PAST the checkpoint ride the tail manifests
    VersionedShards.commitAppend(spark,
      docs.filter(col("doc_id") === idA), "doc_id", dir, 4)
    val after = logRows()
    assert(after.size > before.size &&
      after.filter(_._4 <= 2) == before,
      "tail commit broke the checkpointed prefix")
    val snapBefore = VersionedShards.readAsOf(spark, dir, 3)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a fixed-version REPLAY at a CHECKPOINTED version supersedes its
    // checkpointed rows — log() must serve the replay's manifest, not
    // the stale prefix (the seq-sentinel rule)
    VersionedShards.commitAs(spark,
      docs.filter(col("doc_id") === idB), "doc_id", dir, 4, v = 3)
    val replayed = logRows()
    assert(replayed.exists(r => r._4 == 3 && r._2.nonEmpty),
      "replayed version lost its rows")
    assert(VersionedShards.readAsOf(spark, dir, 3)
      .filter(col("doc_id") === idB).count() == 1,
      "snapshot did not serve the replay")
    assert(VersionedShards.readAsOf(spark, dir, 3)
      .filter(col("doc_id") === idA).count() == 0,
      "stale checkpointed rows for the replayed version survived")
    assert(snapBefore.contains(idA), "pre-replay snapshot sanity")
    // GC keeps the referenced checkpoint parquet; an unpublished
    // (loser) checkpoint parquet ages out
    docs.limit(1).write.parquet(s"$dir/_log/p-00000000000000dd")
    val swept = VersionedShards.gcOrphans(spark, dir, olderThanMs = -1L)
    assert(swept.contains("p-00000000000000dd"),
      s"orphan checkpoint parquet not swept: $swept")
    assert(logRows() == replayed, "GC touched the live checkpoint")
    // a SECOND checkpoint at the new head covers the replay
    assert(VersionedShards.checkpoint(spark, dir) == 3)
    assert(logRows() == replayed, "re-checkpoint changed rows")
  }

  test("auto-checkpoint: a long commitAppend history carries its own checkpoints; readers unchanged") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
      .filter(col("doc_id").isNotNull)
      .orderBy(col("doc_id").asc).limit(25).collect()
    val schema = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text")).schema
    val dir = tmp("autockpt")
    // 25 one-row ingests — NOBODY calls checkpoint(); the cadence
    // (CheckpointEvery = 10) must fire at v10 and v20 on its own, so a
    // 100-commit history reads O(1 + tail) manifests, not O(#versions)
    docs.foreach { r =>
      VersionedShards.commitAppend(spark,
        spark.createDataFrame(java.util.List.of(r), schema), "doc_id",
        dir, 2): Unit
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val xs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_log"))
      .map(_.getPath.getName).filter(_.startsWith("x-")).sorted
    assert(xs.toSeq == Seq("x-10", "x-20"),
      s"auto-checkpoint cadence wrong: ${xs.mkString(",")}")
    // transparency: the checkpointed log serves every row every reader
    // would get from raw manifests
    assert(VersionedShards.readAsOf(spark, dir, 24).count() == 25)
    assert(VersionedShards.log(spark, dir)
      .filter(col("action") === "add").count() == 25)
  }

  test("constraint predicates past the metadata cap are rejected at ADD time, never truncated") {
    import graft.sinks.VersionedShards
    val dir = tmp("bigpred")
    // a >4096-byte predicate: silently truncating it on read-back
    // could hand enforcement a mangled-but-parseable predicate
    val big = "doc_id IN (" + (1 to 1200).mkString(", ") + ")"
    assert(big.length > VersionedShards.MetaFileCap)
    val e = intercept[Exception] {
      VersionedShards.addConstraint(spark, dir, "huge_in_list", big)
    }
    assert(e.getMessage.contains("exceeds"), e.getMessage)
    assert(!VersionedShards.tableConstraints(spark, dir)
      .contains("huge_in_list"))
  }

  test("constraint activation race: rows committed by a pre-constraint reader are caught and the constraint retracts") {
    import graft.sinks.VersionedShards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text"))
      .filter(col("doc_id").isNotNull)
    val dir = tmp("kraces")
    VersionedShards.commitAppend(spark, docs.limit(5), "doc_id", dir, 2)
    // the race, on the deterministic seam: an ingest whose constraint
    // read happened BEFORE k-<name> existed lands violating rows after
    // the snapshot validation passed — the activation re-validation
    // loop must catch it and retract the constraint loudly
    val e = intercept[Exception] {
      VersionedShards.addConstraint(spark, dir, "n_chars_nonneg",
        "n_chars >= 0",
        beforePublish = () => {
          VersionedShards.commitAppend(spark,
            docs.limit(1).withColumn("n_chars", lit(-3L))
              .withColumn("doc_id", lit(777777L)), "doc_id", dir, 2): Unit
        })
    }
    assert(e.getMessage.contains("retracted"), e.getMessage)
    assert(!VersionedShards.tableConstraints(spark, dir)
      .contains("n_chars_nonneg"),
      "a violated constraint survived activation")
    // the racing commit itself is durable — constraints gate ingests,
    // they never roll back someone else's committed version
    assert(VersionedShards.readAsOf(spark, dir,
      VersionedShards.currentVersion(spark, dir))
      .filter(col("n_chars") < 0).count() == 1)
    // and a clean re-ADD now succeeds against the repaired... no —
    // against the CURRENT state it must refuse (the violating row is
    // in the snapshot), proving the retraction left truthful state
    val retro = intercept[Exception] {
      VersionedShards.addConstraint(spark, dir, "n_chars_nonneg",
        "n_chars >= 0")
    }
    assert(retro.getMessage.contains("existing"))
  }

  test("q163 registry run: equals q153's full manifest after the append-then-compact lifecycle") {
    val full = queries.Export.q153.run(spark, TestSpark.sf0001)
    val comp = queries.Export.q163.run(spark, TestSpark.sf0001)
    assert(manifestMap(full) == manifestMap(comp))
    // the landed q163 layout really went through a compaction: every
    // shard is at ≤ 2 runs (threshold), and at least one shard was
    // above it pre-compaction iff both batches hit it — certified by
    // the layout satisfying the threshold invariant
    val layout = queries.Export.compactedLayoutFor(spark, TestSpark.sf0001)
    val runs = ShardExport.runCounts(spark, layout)
    assert(runs.nonEmpty && runs.values.forall(_ <= 2),
      s"post-compaction run counts above threshold: $runs")
  }
}
