package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** VERSIONED shard layout with time-travel reads — the transaction-log
  * recipe (a file-level add/remove log next to immutable data files;
  * the shape Delta/Iceberg commit protocols standardize) applied to
  * the [[ShardExport]] serving layout. Reference scope: the durable
  * sink stage of `dags/wine_etl_kaggle.py:167-202`, extended with the
  * audit/rollback story a production corpus lake needs.
  *
  * Model (round 15 — ATOMIC SINGLE-FILE COMMITS, the Delta log
  * protocol): every commit STAGES its payload under its own
  * `d-<id>/` subtree (files are IMMUTABLE once written — a later
  * commit never rewrites them) and its (shard, path, action) manifest
  * parquet under `_log/m-<id>/`, both at contention-free random ids;
  * the COMMIT itself is then the atomic materialization of ONE
  * POINTER file `_log/c-<v>-<seq>` whose content binds the version to
  * its manifest, data subtree, and timestamp ([[atomicPublishFile]] —
  * the exact name is the contended unit, the content is complete the
  * instant the name exists). Version
  * allocation IS commit: every writer targets currentVersion+1 through
  * the one optimistic commit path ([[commit]]) and a failed create
  * means that exact version just committed — there is no claim/commit
  * window, no reservation to go stale, and NO LIVENESS ASSUMPTION: a
  * writer may stall arbitrarily long between staging and publish and
  * still lands (at whatever version is next when it wakes). Committed
  * versions are therefore contiguous, and a crash before publish
  * leaves only invisible orphans ([[gcOrphans]] reclaims them) —
  * never a half-visible commit.
  *
  * The live file set as of version v is the order-aware fold of
  * manifests ≤ v; readers ALWAYS resolve through the log, never by
  * listing data dirs. Compaction is LOGICAL: it lands merged files in
  * a new commit and logs remove-rows for the superseded runs — which
  * old snapshots keep reading until [[vacuum]] reclaims them past the
  * retention horizon.
  *
  * Scale shape: the log is the metadata table — O(#files) rows across
  * O(#versions) single-file manifests read in ONE pruned scan, the
  * same bounded-listing contract as [[ShardExport.runCounts]]; past
  * that, [[checkpoint]] consolidates the covered prefix into one
  * parquet so log resolution is O(1 + tail), the Delta checkpoint
  * read path (round 15 — the seam closed); data jobs
  * touch only live files. At 100 TB the log is the thing that makes
  * O(1)-cost snapshot reads, exact audits ("what did epoch 3 train
  * on?"), and safe concurrent append+compact possible at all —
  * re-listing the lake per read is the non-starter. */
object VersionedShards {

  private val logSchema = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("action", StringType, nullable = false)))

  private def hfs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Log paths are layout-RELATIVE for files the layout OWNS
    * (`v=<k>/shard=<s>/<name>`); a shallow clone ([[cloneLayout]])
    * imports the source's files by FULLY-QUALIFIED URI (`file:/…`,
    * `hdfs://nn/…`, `s3a://bucket/…`) — referenced, never owned: the
    * clone's [[vacuum]] must not reclaim them, and every reader
    * resolves the path's OWN FileSystem rather than assuming the
    * layout's. */
  private def isOwned(p: String): Boolean =
    !p.startsWith("/") && !p.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")

  private def resolve(dir: String, p: String): String =
    if (isOwned(p)) s"$dir/$p" else p

  /** The version subtree a file belongs to — the basePath partition
    * discovery needs to re-attach `shard` — is its resolved path minus
    * the file and shard segments, wherever the file lives. */
  private def baseOf(dir: String, p: String): String =
    resolve(dir, p).split('/').dropRight(2).mkString("/")

  /** One committed version pointer: version and replay generation
    * (fixed-version re-publishes bump it; the highest seq is the
    * version's truth) from the pointer's NAME `c-<v>-<seq>` — the
    * exact name IS the atomic unit, so two contenders for one slot
    * collide by construction — plus commit timestamp, manifest id
    * (`_log/m-<mId>/`), and the commit's own data subtree (`d-<dId>/`,
    * if it landed one) from the pointer's CONTENT, which is complete
    * the instant the name exists ([[atomicPublishFile]]). */
  private[graft] final case class Commit(v: Int, seq: Int, ts: Long,
      mId: String, dId: Option[String])

  private val PointerName = "c-(\\d+)-(\\d+)".r

  private def newId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** The metadata small-file size bound: pointer bodies are tens of
    * bytes by construction; constraint predicates are capped at ADD
    * time ([[addConstraint]]) so a read-back can never truncate. */
  private[graft] val MetaFileCap = 4096

  /** Read one tiny metadata file's full UTF-8 body (pointers,
    * constraint predicates). FAILS LOUDLY past [[MetaFileCap]] — the
    * old silent truncation could hand [[enforceConstraints]] a mangled
    * (possibly still-parseable, hence WRONG) predicate. */
  private def readSmall(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, cap: Int = MetaFileCap): String = {
    val in = fs.open(path)
    try {
      val buf = new Array[Byte](cap + 1)
      var off = 0
      var n = in.read(buf, off, cap + 1 - off)
      while (n > 0) { off += n; n = in.read(buf, off, cap + 1 - off) }
      require(off <= cap,
        s"metadata file $path exceeds the $cap-byte cap — corrupt, or " +
          "written outside the layout's own commit/constraint paths")
      new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** (version, seq) of EVERY pointer file — superseded replay
    * generations included, the reference set [[gcOrphans]] must honor
    * — derived from pointer NAMES alone: one `_log` listing, ZERO
    * content reads. currentVersion and the publish retry loops run on
    * every commit attempt, so reading each pointer's body there was
    * O(#versions) small-file reads per commit — O(n²) over a table's
    * lifetime, the exact scale cliff checkpoints close for manifests. */
  private def pointerKeys(spark: SparkSession,
      dir: String): Seq[(Int, Int)] = {
    val (fs, _) = hfs(spark, dir)
    val logRoot = new org.apache.hadoop.fs.Path(s"$dir/_log")
    if (!fs.exists(logRoot)) return Nil
    fs.listStatus(logRoot).toSeq.filter(_.isFile)
      .flatMap(f => f.getPath.getName match {
        case PointerName(v, seq) => Some(v.toInt -> seq.toInt)
        case _ => None
      })
  }

  /** One winner (v, seq) per version, version-ordered — names only. */
  private def winnerKeys(spark: SparkSession,
      dir: String): Seq[(Int, Int)] =
    pointerKeys(spark, dir).groupBy(_._1).map(_._2.maxBy(_._2))
      .toSeq.sortBy(_._1)

  /** Read ONE pointer's content (ts, manifest id, data id) — the lazy
    * per-commit complement of [[pointerKeys]]. */
  private def readCommit(spark: SparkSession, dir: String,
      v: Int, seq: Int): Commit = {
    val (fs, _) = hfs(spark, dir)
    val Array(ts, m, d) = readSmall(fs,
      new org.apache.hadoop.fs.Path(s"$dir/_log/c-$v-$seq")).trim.split(' ')
    Commit(v, seq, ts.toLong, m, if (d == "none") None else Some(d))
  }

  /** EVERY pointer with content — [[gcOrphans]]' reference set, which
    * genuinely needs every generation's manifest/data ids. */
  private def allPointers(spark: SparkSession,
      dir: String): Seq[Commit] =
    pointerKeys(spark, dir)
      .map { case (v, seq) => readCommit(spark, dir, v, seq) }

  /** The COMMITTED history: one winner per version (highest replay
    * seq), version-ordered — resolved from ONE `_log` listing. A
    * pointer file exists ⟺ its commit completed; there is no
    * in-between state to filter. Reads each winner's content — callers
    * that need names only should use the key helpers above. */
  private[graft] def commits(spark: SparkSession,
      dir: String): Seq[Commit] =
    winnerKeys(spark, dir)
      .map { case (v, seq) => readCommit(spark, dir, v, seq) }

  /** The atomic commit primitive: materialize `content` at the EXACT
    * name `_log/<name>`, failing — never clobbering, never exposing a
    * partial file — when the name already exists. The content is
    * fully written and closed at a hidden temp first; the atomic step
    * is then a metadata-only namespace operation:
    *
    *  - `file:` — `link(2)` via `Files.createLink`: atomic
    *    create-with-fail AND the new name carries the complete bytes
    *    the instant it exists (an O_EXCL create+write would expose an
    *    empty-file window a crashed winner could never fill);
    *  - HDFS — `rename` (refuses an existing destination there);
    *  - object stores — the if-none-match conditional put (the Delta
    *    LogStore contract; S3 needs it for exactly this reason).
    *
    * Returns true = this writer's content is the name's content
    * forever; false = lost the race to a COMPLETE rival commit. */
  private[graft] def atomicPublishFile(spark: SparkSession, dir: String,
      name: String, content: String): Boolean = {
    val (fs, _) = hfs(spark, dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_log"))
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_log/.tmp-${newId()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(s"$dir/_log/$name")
    val won =
      if (fs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          // ONLY already-exists is "lost the race"; any other
          // IOException (permissions, full disk) must surface —
          // swallowing it would misreport a writer storm
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else if (AtomicRenameSchemes(fs.getScheme)) fs.rename(tmp, dst)
      else {
        // object-store rename (s3a/gcs/abfs) is a non-atomic
        // check-then-copy: two racing writers can BOTH see "no
        // destination" and both return true — one commit silently
        // lost. The Delta LogStore contract needs an if-none-match
        // conditional put there; until such a hook exists, failing
        // loudly is the only safe behavior.
        fs.delete(tmp, false)
        sys.error(s"atomicPublishFile: scheme '${fs.getScheme}' has no " +
          "atomic no-clobber rename — commits on object stores need a " +
          "conditional-put LogStore (if-none-match); point the layout " +
          "at file:/hdfs storage or add that hook")
      }
    fs.delete(tmp, false)
    won
  }

  /** Filesystems whose `rename` refuses an existing destination
    * ATOMICALLY (the HDFS NameNode namespace op and equivalents).
    * `file:` never reaches this set — it commits via `link(2)`. */
  private val AtomicRenameSchemes = Set("hdfs", "viewfs", "webhdfs")

  /** PUBLISH version `v`: the atomic pointer create that IS the
    * commit. True = committed; false = some other writer committed
    * exactly (`v`, `seq`) first (their pointer exists — a COMPLETE
    * commit the caller can immediately validate against; contrast the
    * old reservation scheme, where a lost race meant an in-flight
    * claim of unknown fate). */
  private def publish(spark: SparkSession, dir: String, v: Int, seq: Int,
      mId: String, dId: Option[String], ts: Long): Boolean = {
    val effTs = if (ts >= 0) ts else System.currentTimeMillis()
    atomicPublishFile(spark, dir, s"c-$v-$seq",
      s"$effTs $mId ${dId.getOrElse("none")}")
  }

  /** Stage one commit's manifest rows as a parquet at a
    * contention-free id — fully written and closed BEFORE the pointer
    * that makes them visible can exist. Returns the manifest id. */
  private def stageManifest(spark: SparkSession, dir: String,
      rows: Seq[(Int, String, String)]): String = {
    val mId = newId()
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (s, p, a) => Row(s, p, a) }, 1), logSchema)
      .write.mode("overwrite").parquet(s"$dir/_log/m-$mId")
    mId
  }


  /** Manifest rows of the given commits as (shard, path, action,
    * version) — ONE pruned scan, version re-attached by a broadcast
    * join on the manifest id in the file path. */
  private def manifestRows(spark: SparkSession, dir: String,
      cs: Seq[Commit]): DataFrame = {
    val vmap = spark.createDataFrame(cs.map(c => (c.mId, c.v)))
      .toDF("mId", "version")
    spark.read.schema(logSchema)
      .parquet(cs.map(c => s"$dir/_log/m-${c.mId}"): _*)
      .withColumn("mId", regexp_extract(col("_metadata.file_path"),
        "m-([0-9a-f]+)/", 1))
      .join(broadcast(vmap), "mId")
      .select(col("shard"), col("path"), col("action"), col("version"))
  }

  private def emptyLog(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(logSchema.fields :+
        StructField("version", IntegerType, nullable = false)))

  /** The commit log as a DataFrame (shard, path, action, version).
    * Without a checkpoint: one pruned scan over all committed
    * manifests. With one ([[checkpoint]]): the consolidated parquet
    * serves every version it covers at its CURRENT winner seq, and
    * only the TAIL (commits past the checkpoint, plus any whose winner
    * seq advanced since — a fixed-version replay) reads its manifest —
    * O(1 + tail) metadata files instead of O(#versions), the Delta
    * checkpoint read path. */
  def log(spark: SparkSession, dir: String): DataFrame = {
    val keys = winnerKeys(spark, dir)
    if (keys.isEmpty) return emptyLog(spark)
    latestCheckpoint(spark, dir) match {
      case None => manifestRows(spark, dir,
        keys.map { case (v, s) => readCommit(spark, dir, v, s) })
      case Some((cv, pId)) =>
        val ck = spark.read.parquet(s"$dir/_log/p-$pId")
        // sentinel rows (action = "ckpt", shard = winner seq) record
        // exactly which (version, seq) the checkpoint covers — they
        // make EMPTY manifests (log-only commits) distinguishable
        // from not-covered ones
        val covered = ck.filter(col("action") === "ckpt")
          .select(col("version"), col("shard"))
          .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
        val seqOf = keys.toMap
        val stale = covered.collect {
          case (v, sq) if !seqOf.get(v).contains(sq) => v
        }.toSeq.sorted
        // pointer CONTENT is read only for the tail — commits past the
        // checkpoint or whose winner seq advanced since (fixed-version
        // replays); everything covered resolves from the parquet, so
        // log resolution is O(1 + tail) for manifests AND pointers
        val fresh = keys.collect {
          case (v, s) if v > cv || !covered.get(v).contains(s) =>
            readCommit(spark, dir, v, s)
        }
        val ckData0 = ck.filter(col("action") =!= "ckpt")
          .select(col("shard"), col("path"), col("action"), col("version"))
        val ckData = if (stale.isEmpty) ckData0
          else ckData0.filter(!col("version").isin(stale.map(Int.box): _*))
        if (fresh.isEmpty) ckData
        else ckData.unionByName(manifestRows(spark, dir, fresh))
    }
  }

  private val CkptName = "x-(\\d+)".r

  /** The newest checkpoint, as (covered-through version, parquet id). */
  private def latestCheckpoint(spark: SparkSession,
      dir: String): Option[(Int, String)] = {
    val (fs, _) = hfs(spark, dir)
    val logRoot = new org.apache.hadoop.fs.Path(s"$dir/_log")
    if (!fs.exists(logRoot)) return None
    fs.listStatus(logRoot).toSeq.filter(_.isFile)
      .flatMap(f => f.getPath.getName match {
        case CkptName(v) => Some(v.toInt -> readSmall(fs, f.getPath).trim)
        case _ => None
      }).sortBy(_._1).lastOption
  }

  /** CHECKPOINT the commit log (the Delta checkpoint-parquet shape —
    * the O(#versions) log-read seam closed): consolidate every
    * committed manifest ≤ currentVersion into ONE parquet under
    * `_log/p-<id>/` — data rows plus one sentinel row per covered
    * (version, winner-seq) — and publish the pointer `_log/x-<V>`
    * atomically (content = the parquet id; racing checkpointers of the
    * same V collide on the exact name and the loser's parquet becomes
    * [[gcOrphans]] food). Fully TRANSPARENT to every reader: [[log]]
    * output is row-identical with or without it (suite-pinned, and
    * q178/q191 hash-gate it through a checkpointed registry layout);
    * older manifests stay on disk, so time travel, replay supersession
    * and GC semantics are unchanged. Returns the covered-through
    * version, or -1 on an empty layout / lost race. */
  def checkpoint(spark: SparkSession, dir: String): Int = {
    val keys = winnerKeys(spark, dir)
    if (keys.isEmpty) return -1
    val v = keys.last._1
    val pId = newId()
    val sentinels = spark.createDataFrame(
      keys.map { case (vv, s) => (s, "", "ckpt", vv) })
      .toDF("shard", "path", "action", "version")
    // build from log(), not raw manifests: the data rows are
    // row-identical (suite-pinned transparency) and a PRIOR checkpoint
    // serves its covered prefix, so checkpointing itself is
    // O(1 + tail) — the auto-cadence below would otherwise re-read the
    // whole manifest history every N commits
    log(spark, dir).unionByName(sentinels)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_log/p-$pId")
    if (atomicPublishFile(spark, dir, s"x-$v", pId)) v else -1
  }

  /** AUTO-CHECKPOINT cadence (round-16, the Delta
    * `checkpointInterval` shape): every commit whose version is
    * a multiple of this triggers [[checkpoint]], so long histories
    * never regress to O(#versions) log reads without anyone calling
    * checkpoint() by hand. */
  val CheckpointEvery: Int = 10

  /** Piggybacked on every commit, AFTER the publish — a
    * checkpoint failure must never fail a committed write (the commit
    * is already durable; the next multiple retries), and a lost x-V
    * race just means another writer checkpointed the same prefix. */
  private def maybeCheckpoint(spark: SparkSession, dir: String,
      v: Int): Unit =
    if (v > 0 && v % CheckpointEvery == 0)
      try checkpoint(spark, dir): Unit
      catch { case e: Throwable =>
        System.err.println(s"[versioned-shards] auto-checkpoint at " +
          s"v$v failed (commit unaffected): ${e.getMessage}")
      }

  /** Highest committed version, or -1 for an empty layout — from one
    * `_log` listing, NAMES ONLY (this runs inside every publish retry
    * loop; pointer bodies are never needed to allocate a slot). */
  def currentVersion(spark: SparkSession, dir: String): Int =
    winnerKeys(spark, dir).lastOption.map(_._1).getOrElse(-1)

  /** A version's own data subtree (for tests/tools that inspect
    * physical bytes — everything else resolves through the log). */
  private[graft] def dataRootOf(spark: SparkSession, dir: String,
      v: Int): Option[String] =
    winnerKeys(spark, dir).find(_._1 == v)
      .flatMap { case (vv, seq) => readCommit(spark, dir, vv, seq).dId }
      .map(id => s"$dir/d-$id")

  /** One commit, planned at `vRead`: the live files it supersedes
    * (`removes`) and re-adds without landing bytes (`readds`,
    * [[restoreTo]]); the rows it lands, carrying `shard` and `draw`
    * (None = a LOG-ONLY commit, which still takes a version), with the
    * landing's partition count, sort-only columns ahead of `draw`
    * (optimize's Morton value) and parquet row-group size; and the
    * shards whose winner ADDS conflict (`readShards`: None for a blind
    * plan — append, compact, optimize; [[AnyShard]] for delete and
    * restore, which read the whole snapshot). A winner that removed
    * one of `removes` conflicts with every plan, and so does one that
    * removed a file of `keeps` — the live files the committed snapshot
    * must still hold (restore's target set). */
  private[graft] final case class Plan(
      removes: Seq[(Int, String)] = Nil,
      readds: Seq[(Int, String)] = Nil,
      keeps: Seq[(Int, String)] = Nil,
      rows: Option[DataFrame] = None,
      parts: Int = 1,
      order: Seq[String] = Nil,
      blockSize: Option[Int] = None,
      readShards: Option[Int => Boolean] = None)

  /** The read scope of a plan that read the whole snapshot. */
  private val AnyShard: Option[Int => Boolean] = Some(_ => true)

  /** LAND a plan's rows under a fresh `d-<id>/` with the ShardExport
    * discipline: one hash shuffle on the shard, every file a sorted run
    * on (shard, the plan's order, draw). Returns the id and the staged
    * add-set as (shard, layout-relative path) — one bounded listing of
    * the fresh subtree, never of the whole lake. Zero rows land
    * ShardExport's schema-bearing empty marker instead: no add rows,
    * but the subtree anchors [[emptyMarker]]'s schema walk via the
    * pointer's dId. */
  private def land(spark: SparkSession, dir: String, p: Plan,
      rows: DataFrame): (String, Seq[(Int, String)]) = {
    val dId = newId()
    val w = rows.repartition(math.max(p.parts, 1), col("shard"))
      .sortWithinPartitions((("shard" +: p.order) :+ "draw").map(col): _*)
      .drop(p.order: _*)
      .write.mode("overwrite").partitionBy("shard")
    p.blockSize.fold(w)(b => w.option("parquet.block.size", b.toString))
      .parquet(s"$dir/d-$dId")
    val (fs, _) = hfs(spark, dir)
    val root = new org.apache.hadoop.fs.Path(s"$dir/d-$dId")
    val files = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("shard="))
      .flatMap { d =>
        val shard = d.getPath.getName.stripPrefix("shard=").toInt
        fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => shard -> s"d-$dId/shard=$shard/${f.getPath.getName}")
      }
    if (files.isEmpty)
      rows.drop(p.order: _*).limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/d-$dId")
    (dId, files)
  }

  /** Stage a plan: land its rows, then write its manifest (removes,
    * re-adds, landed files). Returns (manifest id, data id). */
  private def stage(spark: SparkSession, dir: String,
      p: Plan): (String, Option[String]) = {
    val landed = p.rows.map(land(spark, dir, p, _))
    val mId = stageManifest(spark, dir,
      p.removes.map { case (s, f) => (s, f, "remove") } ++
        (p.readds ++ landed.toSeq.flatMap(_._2))
          .map { case (s, f) => (s, f, "add") })
    (mId, landed.map(_._1))
  }

  /** Replans one commit may take before it gives up. */
  private val MaxReplans = 8

  /** THE COMMIT PATH of every version-allocating verb — the Delta OCC
    * recipe, with the atomic pointer create playing the role of the
    * atomic log-file write:
    *
    *  1. snapshot-read at vRead = currentVersion; `plan(vRead)` names
    *     what the commit supersedes and what it lands;
    *  2. STAGE the rows under a fresh `d-<id>/` and the manifest under
    *     `_log/m-<id>/` — invisible until published;
    *  3. VALIDATE the read-set against winners committed in
    *     (vRead, vTry) where vTry = currentVersion+1 ([[conflicts]]) —
    *     every such winner is COMPLETE, since version allocation is the
    *     publish itself; on conflict, abandon the staged payload (GC
    *     food) and REPLAN from the fresh snapshot;
    *  4. PUBLISH at vTry with one atomic pointer create. A lost race
    *     (another writer just committed vTry) loops back to 3 — the new
    *     winner joins the validation set — without restaging.
    *
    * A lone writer meets no winner, so it commits at currentVersion+1
    * on the first try; independent writers need no coordinator, and
    * committed versions stay contiguous (a crash before publish leaves
    * only invisible orphans, [[gcOrphans]] food). `plan` returning None
    * = nothing to do (returns -1, no commit). NO LIVENESS CONTRACT:
    * claim ≡ commit, so a writer stalled arbitrarily long between
    * staging and publish simply lands later at a higher version with
    * full validation against everything that landed meanwhile — slow
    * can never be mistaken for crashed. Streaming's batchId-addressed
    * [[commitAs]] must not share a layout with this path — it lands at
    * FIXED versions without racing. Returns the committed version, or
    * -1 for a planned no-op. */
  private[graft] def commit(spark: SparkSession, dir: String,
      ts: Long = -1L)(plan: Int => Option[Plan]): Int = {
    var replans = 0
    while (replans < MaxReplans) {
      replans += 1
      val vRead = currentVersion(spark, dir)
      val p = plan(vRead) match {
        case Some(p) => p
        case None => return -1
      }
      val (mId, dId) = stage(spark, dir, p)
      var vTry = currentVersion(spark, dir) + 1
      while (!conflicts(spark, dir, p, vRead, vTry)) {
        if (publish(spark, dir, vTry, 0, mId, dId, ts)) {
          maybeCheckpoint(spark, dir, vTry)
          return vTry
        }
        // a writer just took vTry — revalidate against it
        vTry = currentVersion(spark, dir) + 1
      }
      // lost: the staged payload + manifest become GC-able orphans;
      // replan against the new state
    }
    sys.error(s"commit: still conflicting after $MaxReplans replans at " +
      s"$dir — rewrite storm")
  }

  /** Read-set validation: did any winner — a version committed in
    * (vRead, vTry) — change state this plan depended on? Two conflict
    * classes, both decided from LOG METADATA only (never a data read):
    * a winner REMOVED one of our victim or kept files (it rewrote rows
    * we also rewrote, or dropped a file our snapshot must hold), or a
    * winner ADDED files in a shard the plan read
    * (`readShards`): those files may hold rows the plan should have
    * seen. A blind plan with nothing to remove skips the winners'
    * manifests entirely — any free slot is serializable for it. Stops
    * reading winners at the first conflict. */
  private def conflicts(spark: SparkSession, dir: String, p: Plan,
      vRead: Int, vTry: Int): Boolean =
    (p.removes.nonEmpty || p.readShards.nonEmpty) && {
      val victims = (p.removes ++ p.keeps).map(_._2).toSet
      val read = p.readShards.getOrElse((_: Int) => false)
      // resolve names first, read the content of ONLY the (vRead, vTry)
      // window's winners
      winnerKeys(spark, dir)
        .filter { case (v, _) => v > vRead && v < vTry }
        .exists { case (v, seq) =>
          val w = readCommit(spark, dir, v, seq)
          spark.read.schema(logSchema).parquet(s"$dir/_log/m-${w.mId}")
            .collect().exists { r =>
              val a = r.getString(2)
              (a == "remove" && victims(r.getString(1))) ||
                (a == "add" && read(r.getInt(0)))
            }
        }
    }

  /** A batch as a blind append plan: ShardExport's md5 draw and shard
    * assignment, one sorted run per shard. */
  private def appendPlan(batch: DataFrame, keyCol: String,
      nShards: Int): Plan =
    Plan(rows = Some(ShardExport.withShardKey(batch, keyCol, nShards)),
      parts = nShards)

  /** COMMIT a batch as the next version — the append. Blind appends
    * have an empty read-set, so racing appenders never conflict: each
    * lands whole at the next free version, with no coordinator (the
    * Delta OCC shape). A zero-row batch still commits, landing the
    * schema-bearing empty marker. Returns the committed version. */
  def commitAppend(spark: SparkSession, batch: DataFrame, keyCol: String,
      dir: String, nShards: Int, ts: Long = -1L): Int = {
    enforceConstraints(spark, dir, batch)
    val p = appendPlan(batch, keyCol, nShards)
    commit(spark, dir, ts)(_ => Some(p))
  }

  /** [[commitAppend]] at a CALLER-CHOSEN version — the replay-
    * idempotency seam the streaming sink needs: a re-delivered
    * micro-batch stages a FRESH payload + manifest and publishes a
    * higher replay generation (seq) for the same version; readers
    * resolve each version to its highest seq, so the layout converges
    * to the last replay's state no matter how many times the batch
    * replays — and, unlike the old overwrite-in-place scheme, a reader
    * concurrent with the replay sees the old complete commit or the
    * new one, never a half-rewritten log dir. Superseded generations'
    * payloads become [[gcOrphans]] food. */
  def commitAs(spark: SparkSession, batch: DataFrame, keyCol: String,
      dir: String, nShards: Int, v: Int, ts: Long = -1L): Int = {
    enforceConstraints(spark, dir, batch)
    val (mId, dId) = stage(spark, dir, appendPlan(batch, keyCol, nShards))
    var seq = pointerKeys(spark, dir).collect { case (`v`, s) => s }
      .foldLeft(-1)(math.max) + 1
    while (!publish(spark, dir, v, seq, mId, dId, ts)) seq += 1
    maybeCheckpoint(spark, dir, v)
    v
  }

  /** Commit timestamps, version-ordered, with the Delta-recipe
    * READ-SIDE monotonicity adjustment: each version's effective ts is
    * max(its recorded ts, previous effective + 1), so AS-OF-TIMESTAMP
    * resolution stays well-defined even when commit clocks skew
    * backwards (adjusting at read time costs nothing per commit and
    * rewrites no history). One `_log` listing, O(#versions). */
  def commitTimestamps(spark: SparkSession,
      dir: String): Seq[(Int, Long)] = {
    // the pointer NAME carries the commit ts, and a pointer exists iff
    // its commit completed — the old scheme's crash-orphaned-version
    // mtime fallback has no case left to cover
    val raw = commits(spark, dir).map(c => c.v -> c.ts)
    var eff = Long.MinValue
    raw.map { case (v, t) =>
      eff = if (eff == Long.MinValue) t else math.max(t, eff + 1)
      v -> eff
    }
  }

  /** Resolve an AS-OF-TIMESTAMP to a version: the LATEST version whose
    * (monotonicity-adjusted) commit ts ≤ `asOfTs`. Refuses timestamps
    * before the first commit — there is no state to serve, and
    * silently returning the first commit would claim rows existed
    * before they did. */
  def versionAt(spark: SparkSession, dir: String, asOfTs: Long): Int = {
    val ts = commitTimestamps(spark, dir)
    require(ts.nonEmpty, s"$dir has no commits — nothing to time-travel to")
    val at = ts.filter(_._2 <= asOfTs)
    require(at.nonEmpty,
      s"asOfTs=$asOfTs precedes the first commit (ts=${ts.head._2}) — " +
        "no snapshot existed yet")
    at.last._1
  }

  /** TIME-TRAVEL read by TIMESTAMP — `SELECT … AS OF <ts>` resolved
    * via [[versionAt]] then served by the version read. */
  def readAsOfTs(spark: SparkSession, dir: String, asOfTs: Long): DataFrame =
    readAsOf(spark, dir, versionAt(spark, dir, asOfTs))

  /** The LIVE (shard, path) set as of `asOf`: per path, the LATEST
    * action at version ≤ asOf wins — order-aware, because [[restoreTo]]
    * legally re-ADDS a path an earlier compaction removed (the
    * round-12 "removes always win" fold would hide restored files).
    * Driver-side and O(#files) — the log IS the bounded metadata
    * table. */
  def liveFiles(spark: SparkSession, dir: String,
      asOf: Int): Seq[(Int, String)] = {
    val entries = log(spark, dir).filter(col("version") <= asOf)
      .select(col("version"), col("shard"), col("path"), col("action"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3)))
    entries.groupBy(_._3).toSeq
      .flatMap { case (_, hist) =>
        val last = hist.maxBy(_._1)
        if (last._4 == "add") Some((last._2, last._3)) else None
      }.sortBy(_._2)
  }

  /** TIME-TRAVEL read: the layout's content as of version `asOf`,
    * with `shard` re-attached from the log (data files are immutable;
    * the log, not a directory listing, decides visibility). Missing
    * underlying files (vacuumed past the horizon) surface as a read
    * error — deliberately, a silent partial snapshot would be worse.
    * Schema note: the snapshot's schema is DERIVED from its live files
    * (union-by-name with null-fill for evolved columns) — there is no
    * table-metadata catalog, so a column whose every carrying file has
    * been deleted/superseded drops out of later snapshots. */
  def readAsOf(spark: SparkSession, dir: String, asOf: Int): DataFrame = {
    val live = liveFiles(spark, dir, asOf)
    live.foreach { case (_, p) =>
      // per-path FileSystem: an imported (clone) file may live on a
      // DIFFERENT filesystem than the layout — its URI knows which
      val pp = new org.apache.hadoop.fs.Path(resolve(dir, p))
      require(pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(pp),
        s"snapshot as of v$asOf needs vacuumed file $p — past the " +
          "retention horizon")
    }
    // zero live files ⟺ every commit ≤ asOf was empty (compaction only
    // removes what it re-adds; a restore to an empty snapshot logs the
    // rest away): serve the schema-bearing empty marker SOME commit
    // landed instead of failing — an empty day is a valid snapshot
    if (live.isEmpty) return emptyMarker(spark, dir, asOf)
    val byBase = live.groupBy(f => baseOf(dir, f._2))
    val parts = byBase.toSeq.sortBy(_._1).map { case (base, files) =>
      spark.read.option("basePath", base)
        .parquet(files.map(f => resolve(dir, f._2)): _*)
    }
    // allowMissingColumns: commits may EVOLVE the schema (add a column
    // the way Delta/Iceberg mergeSchema does) — files written before
    // the column existed null-fill it, and an old snapshot read (asOf
    // before the evolution) still serves exactly its own columns
    // because only its own files reach this union
    parts.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  /** Runs a shard may hold before [[compactCommit]] rewrites it. */
  private val MaxRuns = 1

  /** [[compactCommit]]'s plan at `vRead`; None when no shard is over
    * [[MaxRuns]]. Blind to appends — a winner's new runs stay live
    * untouched — so only a winner that removed a victim conflicts. */
  private[graft] def compactPlan(spark: SparkSession, dir: String,
      nShards: Int)(vRead: Int): Option[Plan] = {
    val byShard = liveFiles(spark, dir, vRead).groupBy(_._1)
    val toCompact = byShard.filter(_._2.size > MaxRuns).keys.toSeq.sorted
    if (toCompact.isEmpty) None
    else {
      val victims = toCompact.flatMap(s => byShard(s))
      // one read of ONLY the victim files; shard re-derives from draw
      // (pure function — the same value the log carries)
      Some(Plan(removes = victims,
        rows = Some(spark.read.parquet(victims.map(f => resolve(dir, f._2)): _*)
          .withColumn("shard", ShardExport.shardOf(col("draw"), nShards))),
        parts = toCompact.length))
    }
  }

  /** LOGICAL compaction commit: shards whose LIVE run count exceeds
    * one get their live rows rewritten as one draw-ordered file in the
    * next version; the superseded files are logged `remove`d but their
    * bytes stay put — snapshots before the compaction keep reading
    * them until [[vacuum]]. The rewrite job reads and shuffles ONLY the
    * selected shards' rows (the q163 posture, made time-travel-safe),
    * and races concurrent appends and rewrites safely
    * ([[compactPlan]]). Returns (version, compacted shard ids); version
    * -1 when nothing exceeds the threshold (no empty commits). */
  def compactCommit(spark: SparkSession, dir: String,
      nShards: Int): (Int, Seq[Int]) = {
    var planned: Option[Plan] = None
    val v = commit(spark, dir) { vRead =>
      planned = compactPlan(spark, dir, nShards)(vRead)
      planned
    }
    if (v < 0) (-1, Nil)
    else (v, planned.get.removes.map(_._1).distinct.sorted)
  }

  /** OPTIMIZE … ZORDER BY as a TRANSACTIONAL commit (the Delta
    * OPTIMIZE semantics on this layout): every live row is rewritten
    * into the next version clustered by the Morton interleave of
    * (`zx`, `zy`) WITHIN its shard — the shard key keeps serving
    * draw-addressed reads while the intra-file order buys row-group
    * skipping on the z dims — and the superseded files are logged
    * `remove`d but stay put, so every pre-optimize snapshot keeps
    * reading byte-identically until [[vacuum]]. Data clustering
    * becomes just another commit: isolated, time-travelable, CDC-inert
    * (rows merely move between files — [[readChanges]] across it is
    * EMPTY, suite-asserted). Like compaction it conflicts only with a
    * winner that removed one of its victims; appends racing it stay
    * live unclustered. `zx`/`zy` must already be 0..255 ints
    * (the [[ZOrderLayout.mortonTerms]] contract); `blockSize`
    * shrinks parquet row groups so test-scale files carry many —
    * production leaves the ~128 MB default. Returns (version,
    * files rewritten); (-1, 0) on an empty snapshot. */
  def optimizeCommit(spark: SparkSession, dir: String, nShards: Int,
      zx: org.apache.spark.sql.Column, zy: org.apache.spark.sql.Column,
      ts: Long = -1L, blockSize: Option[Int] = None): (Int, Int) = {
    var rewritten = 0
    val v = commit(spark, dir, ts) { vRead =>
      val live = liveFiles(spark, dir, vRead)
      rewritten = live.size
      if (live.isEmpty) None
      else Some(Plan(removes = live,
        rows = Some(spark.read.option("mergeSchema", "true")
          .parquet(live.map(f => resolve(dir, f._2)): _*)
          .withColumn("shard", ShardExport.shardOf(col("draw"), nShards))
          .withColumn("_zx", zx).withColumn("_zy", zy)
          .withColumn("_zv", expr(ZOrderLayout.mortonTerms("_zx", "_zy")))
          .drop("_zx", "_zy")),
        parts = nShards, order = Seq("_zv"), blockSize = blockSize))
    }
    (v, if (v < 0) 0 else rewritten)
  }

  /** SNAPSHOT DIFF as a metadata operation: the rows ADDED between
    * `from` (exclusive) and `to` (inclusive) are exactly the files
    * logged `add` in that interval — PROVIDED no compaction rewrote
    * rows in between (a remove-action in the interval means some
    * "new" files carry old rows, and file-level diffing
    * over-approximates; this method REFUSES rather than
    * over-reporting — diff across a compaction by diffing up to the
    * compaction's predecessor, or resolve row-level with an anti-join).
    * At 100 TB this is the CDC read: "what docs arrived since
    * yesterday's snapshot" costs a log filter plus a scan of ONLY the
    * new files — never a corpus scan, never a join. */
  def readDiff(spark: SparkSession, dir: String, from: Int,
      to: Int): DataFrame = {
    require(from < to, s"diff needs from < to, got $from..$to")
    val interval = log(spark, dir)
      .filter(col("version") > from && col("version") <= to)
      .select(col("path"), col("action"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    require(!interval.exists(_._2 == "remove"),
      s"versions ($from, $to] contain a compaction — file-level diff " +
        "would over-approximate; diff in compaction-free intervals, or " +
        "use readDiffRows for the row-level slow path")
    val added = interval.collect { case (p, "add") => p }.sorted
    // nothing arrived in the interval (every commit was empty): an
    // empty diff is a valid answer — serve a marker's empty schema
    if (added.isEmpty) return emptyMarker(spark, dir, to)
    val byBase = added.groupBy(baseOf(dir, _))
    byBase.toSeq.sortBy(_._1).map { case (base, files) =>
      spark.read.option("basePath", base)
        .parquet(files.map(resolve(dir, _)): _*)
    }.reduceLeft(_.unionByName(_))
  }

  /** A zero-row schema-bearing frame for empty snapshots/diffs: the
    * marker parquet of the LATEST data-landing commit ≤ `asOf`,
    * filtered to nothing. Log-only commits ([[restoreTo]], no-op
    * merges/deletes) carry no data subtree (dId = none) — walk down
    * the pointer history to one that does. */
  private def emptyMarker(spark: SparkSession, dir: String,
      asOf: Int): DataFrame = {
    val (fs, _) = hfs(spark, dir)
    // a data subtree counts only if it holds at least one parquet (a
    // writer that landed zero rows without the marker discipline
    // leaves a _SUCCESS-only dir, which carries no schema)
    def hasParquet(root: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(root)
      fs.exists(p) && {
        val it = fs.listFiles(p, true)
        var found = false
        while (!found && it.hasNext)
          found = it.next().getPath.getName.endsWith(".parquet")
        found
      }
    }
    val hit = commits(spark, dir).filter(_.v <= asOf).reverse
      .collectFirst { case c if c.dId.exists(id =>
        hasParquet(s"$dir/d-$id")) => c.dId.get }
    require(hit.isDefined,
      s"no data-landing commit at or before v$asOf — nothing defines " +
        "the layout's schema yet")
    spark.read.parquet(s"$dir/d-${hit.get}").limit(0)
  }

  /** RESTORE the layout's CURRENT state to the snapshot as of `v` — as
    * a NEW log-only commit: files live at `v` but since superseded are
    * re-ADDed, files added after `v` are REMOVEd. Nothing is deleted
    * and nothing is rewritten (O(#files) metadata, zero data bytes):
    * history stays intact, every old snapshot keeps reading, and the
    * rollback is itself a version you can diff against or roll back
    * FROM — the table-format restore semantics (Delta RESTORE /
    * Iceberg rollback). The plan reads the whole current snapshot and
    * keeps the whole target set, so any winner's add, or its removal of
    * any target file, forces a replan. Re-added files must still exist
    * on disk — a vacuum past `v` already reclaimed them, so the restore
    * REFUSES loudly rather than committing a snapshot that cannot be
    * read. Returns the new version. */
  def restoreTo(spark: SparkSession, dir: String, v: Int): Int =
    commit(spark, dir)(restorePlan(spark, dir, v))

  /** [[restoreTo]]'s plan at `vRead`. */
  private[graft] def restorePlan(spark: SparkSession, dir: String, v: Int)(
      vRead: Int): Option[Plan] = {
    require(v >= 0 && v <= vRead, s"restore target v$v outside [0, $vRead]")
    val want = liveFiles(spark, dir, v).toSet
    val have = liveFiles(spark, dir, vRead).toSet
    val (fs, _) = hfs(spark, dir)
    (want -- have).foreach { case (_, p) =>
      require(fs.exists(new org.apache.hadoop.fs.Path(resolve(dir, p))),
        s"restore to v$v needs vacuumed file $p — past the retention " +
          "horizon")
    }
    Some(Plan(removes = (have -- want).toSeq.sortBy(_._2),
      readds = (want -- have).toSeq.sortBy(_._2), keeps = want.toSeq,
      readShards = AnyShard))
  }

  /** [[mergeCommit]]'s plan: the batch's touched shards are collected
    * ONCE (≤ nShards values), then each `vRead` re-lands those shards.
    * A winner's add in a touched shard conflicts (the added file may
    * carry keys this merge should have upserted over). */
  private[graft] def mergePlan(spark: SparkSession, batch: DataFrame,
      keyCol: String, dir: String, nShards: Int): Int => Option[Plan] = {
    val keyedBatch = ShardExport.withShardKey(batch, keyCol, nShards)
    val touched = keyedBatch.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).toSet
    vRead =>
      // empty batch ⇒ empty merge: a LOG-ONLY commit (no data subtree
      // at all — [[emptyMarker]] walks only dId-carrying pointers, so a
      // schema-less commit can't poison it)
      if (touched.isEmpty) Some(Plan())
      else {
        val victims = liveFiles(spark, dir, vRead).filter(f => touched(f._1))
        val survivors =
          if (victims.isEmpty) keyedBatch
          else {
            val keys = batch.select(col(keyCol)).distinct()
            spark.read.parquet(victims.map(f => resolve(dir, f._2)): _*)
              .withColumn("shard", ShardExport.shardOf(col("draw"), nShards))
              .join(keys, Seq(keyCol), "left_anti")
              .unionByName(keyedBatch)
          }
        // land ONLY the touched shards' new state
        Some(Plan(removes = victims, rows = Some(survivors),
          parts = touched.size, readShards = Some(touched)))
      }
  }

  /** MERGE (upsert) a keyed batch into the current snapshot as the
    * next version — the transactional `MERGE INTO` shape: rows whose
    * `keyCol` matches a batch key are REPLACED by the batch row, new
    * keys are INSERTED, everything else is untouched.
    *
    * Scale shape — SHARD-PRUNED rewrite: the md5 shard assignment is a
    * pure function of the key, so the batch's keys name exactly the
    * shards that can hold a matched row; only THOSE shards' live files
    * are read, anti-joined on the batch keys, and re-landed (with the
    * batch union-ed in) under the new version — rewrite and shuffle
    * ∝ the touched shards, never the lake (the q124/q163 posture; at
    * 100 TB with thousands of shards a small upsert touches a
    * handful). Untouched shards keep their exact files; superseded
    * victim files are logged `remove`d and stay on disk for old
    * snapshots until [[vacuum]]. Safe against concurrent writers
    * ([[mergePlan]]'s read-set). Returns the committed version. */
  def mergeCommit(spark: SparkSession, batch: DataFrame, keyCol: String,
      dir: String, nShards: Int): Int = {
    enforceConstraints(spark, dir, batch)
    commit(spark, dir)(mergePlan(spark, batch, keyCol, dir, nShards))
  }

  /** [[deleteCommit]]'s plan at `vRead`. It reads the whole snapshot, so
    * any winner's add conflicts (a rival may have landed a matching row);
    * a predicate matching nothing plans a LOG-ONLY commit. */
  private[graft] def deletePlan(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column, nShards: Int)(
      vRead: Int): Option[Plan] = {
    val live = liveFiles(spark, dir, vRead)
    if (live.isEmpty) return Some(Plan(readShards = AnyShard))
    // log paths are exactly `d-<id>/shard=<k>/<basename>` — the last
    // three URI segments of `_metadata.file_path`. Basenames ALONE are
    // not unique (one write task lands the same part-file name under
    // several shard dirs), so the key keeps the partition segments.
    def relOf(fp: String): String =
      fp.split('/').takeRight(3).mkString("/")
    val byRel = live.map { case (s, p) => relOf(p) -> ((s, p)) }.toMap
    // mergeSchema: composes with schema-evolved lakes (a plain read
    // would adopt one file's schema and silently drop evolved columns)
    val matched = spark.read.option("mergeSchema", "true")
      .parquet(live.map(f => resolve(dir, f._2)): _*)
      .filter(predicate)
      .select(col("_metadata.file_path").as("fp"))
      .distinct().collect()
      .map(r => relOf(r.getString(0)))
    if (matched.isEmpty) return Some(Plan(readShards = AnyShard))
    val victims = matched.toSeq.map(byRel).sortBy(_._2)
    val survivors = spark.read.option("mergeSchema", "true")
      .parquet(victims.map(f => resolve(dir, f._2)): _*)
      .filter(not(coalesce(predicate, lit(false))))
      .withColumn("shard", ShardExport.shardOf(col("draw"), nShards))
    Some(Plan(removes = victims, rows = Some(survivors),
      parts = victims.map(_._1).distinct.size, readShards = AnyShard))
  }

  /** Row-level DELETE with a FILE-PRUNED rewrite — the `DELETE WHERE`
    * DML verb on the versioned layout ([[mergeCommit]] covers UPDATE +
    * INSERT; this is the third arm). The predicate may reference ANY
    * column, so pruning is file-level rather than shard-level: ONE
    * predicate-pushed pass over the live snapshot names the victim
    * files (those holding ≥ 1 matching row — `_metadata.file_path`,
    * driver-collected, bounded by #files), then the rewrite job reads
    * ONLY those files, drops the matching rows, and lands the
    * survivors under the new version. Untouched files stay live
    * byte-identical; superseded victims are logged `remove`d and keep
    * serving old snapshots until [[vacuum]].
    *
    * SQL DELETE semantics: a row is deleted only when the predicate is
    * TRUE — NULL-predicate rows SURVIVE (the rewrite filters on
    * `NOT coalesce(pred, false)`).
    *
    * Scale shape: at 100 TB a selective delete (one user's rows, one
    * day's bad batch) touches a handful of files; the two jobs cost
    * ∝ the live snapshot scan (predicate-pushed, column-pruned to the
    * predicate's columns) + ∝ the victim bytes — never a lake rewrite.
    * Returns the committed version. */
  def deleteCommit(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column, nShards: Int,
      ts: Long = -1L): Int =
    commit(spark, dir, ts)(deletePlan(spark, dir, predicate, nShards))

  /** ROW-LEVEL snapshot diff — the slow-path CDC arm [[readDiff]]'s
    * refusal points at: rows live as of `to` but not as of `from`,
    * resolved by an anti-join on (key, whole-row fingerprint). Correct
    * ACROSS compactions: a logical compaction moves rows between files
    * without changing them, so every rewritten row cancels in the
    * anti-join — the over-approximation that forces [[readDiff]] to
    * refuse remove-containing intervals cannot happen here. The
    * fingerprint is engine-internal (both sides are computed by this
    * Spark job — never compared across engines), built over ALL
    * columns in sorted-name order via `to_json`, so any content change
    * (not just the key column) surfaces as an added row.
    *
    * Cost contract: two snapshot resolutions + one key-partitioned
    * anti-join — ∝ the SNAPSHOTS, not the interval's new files. At
    * 100 TB this is the fallback a CDC consumer pays only when its
    * interval spans an OPTIMIZE; schedule diffs against
    * compaction-free intervals ([[readDiff]] — scans only the added
    * files) wherever the log allows. */
  def readDiffRows(spark: SparkSession, dir: String, from: Int,
      to: Int, keyCol: String): DataFrame = {
    require(from < to, s"diff needs from < to, got $from..$to")
    def keyed(df: DataFrame) = df.withColumn("_fp",
      md5(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*))))
    val toSnap = readAsOf(spark, dir, to)
    val fromSnap = readAsOf(spark, dir, from)
    keyed(toSnap)
      .join(keyed(fromSnap).select(col(keyCol), col("_fp")),
        Seq(keyCol, "_fp"), "left_anti")
      .drop("_fp")
  }

  /** Union-by-name scan of an explicit file subset, grouped per
    * version subtree so partition columns resolve against the right
    * basePath; allowMissingColumns composes with schema-evolved
    * commits (older files null-fill newer columns). */
  private def readFileSet(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame = {
    val byBase = files.groupBy(baseOf(dir, _))
    byBase.toSeq.sortBy(_._1).map { case (base, fls) =>
      spark.read.option("basePath", base)
        .parquet(fls.map(resolve(dir, _)): _*)
    }.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  /** BIDIRECTIONAL row-level CDC, file-pruned: every row whose
    * membership changed between `from` and `to`, tagged
    * `_change` ∈ {'insert','delete'} — an UPDATE surfaces as the
    * delete of its old row plus the insert of its new one, which is
    * exactly the retract/apply pair an incremental consumer (a
    * maintained aggregate, a downstream index) folds in.
    *
    * The cost contract is the reason this exists next to
    * [[readDiffRows]]: data files are IMMUTABLE, so every file live in
    * BOTH snapshots contributes identical rows to both sides and can
    * never produce a change — the job therefore scans ONLY the
    * symmetric difference of the two live-file sets (log-resolved,
    * driver-side) and diffs those two delta-sized scans as per-(key,
    * fingerprint) MULTISETS. Rows a compaction merely moved between
    * files appear in both scans with equal counts and cancel. At
    * 100 TB: "what changed since yesterday" costs the touched files —
    * batch + rewrite fan-out — never the two full snapshots
    * [[readDiffRows]] resolves.
    *
    * Semantics note: the fold is MULTIPLICITY-exact — each (key,
    * fingerprint) group contributes |signed count difference| rows, so
    * a rewrite that drops one of two fully-duplicate rows reports
    * exactly one delete (a per-group SET anti-join would report
    * nothing and silently drift any maintained aggregate). A row
    * content-identical to one in an untouched common file still
    * reports (its file changed membership) — the multiset reading an
    * aggregate consumer wants. The fingerprint is engine-internal
    * (to_json over sorted column names; null fields omitted, so
    * evolved null-filled columns don't fake changes; rows sharing a
    * fingerprint are therefore column-for-column identical, which is
    * what lets one representative row stand in for its group). */
  def readChanges(spark: SparkSession, dir: String, from: Int,
      to: Int, keyCol: String): DataFrame = {
    require(from < to, s"changes need from < to, got $from..$to")
    val fFrom = liveFiles(spark, dir, from).map(_._2).toSet
    val fTo = liveFiles(spark, dir, to).map(_._2).toSet
    val onlyTo = (fTo -- fFrom).toSeq.sorted
    val onlyFrom = (fFrom -- fTo).toSeq.sorted
    if (onlyTo.isEmpty && onlyFrom.isEmpty)
      return emptyMarker(spark, dir, to).withColumn("_change", lit("insert"))
        .filter(lit(false))
    def keyed(df: DataFrame) = df.withColumn("_fp",
      md5(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*))))
    val dTo = if (onlyTo.isEmpty) None
      else Some(keyed(readFileSet(spark, dir, onlyTo)))
    val dFrom = if (onlyFrom.isEmpty) None
      else Some(keyed(readFileSet(spark, dir, onlyFrom)))
    // one side untouched → the other's multiset IS the change set
    (dTo, dFrom) match {
      case (Some(t), None) =>
        return t.drop("_fp").withColumn("_change", lit("insert"))
      case (None, Some(f)) =>
        return f.drop("_fp").withColumn("_change", lit("delete"))
      case _ => ()
    }
    // both sides touched: ONE signed-weight pass — union the two delta
    // scans (+1 to-side, −1 from-side), group on (key, fp), and emit
    // |net| copies of one representative row tagged by the net's sign.
    // Same-fp rows are column-identical in the unioned schema (the
    // fingerprint omits nulls, so evolution null-fills can't split a
    // group), so one groupBy shuffle replaces the two-agg + full-outer
    // shape that cost q182 a 1.5× bench regression.
    val both = dTo.get.withColumn("_w", lit(1L))
      .unionByName(dFrom.get.withColumn("_w", lit(-1L)),
        allowMissingColumns = true)
    val dataCols = both.columns
      .filterNot(c => c == "_fp" || c == "_w").toIndexedSeq
    both.groupBy(col(keyCol), col("_fp"))
      .agg(sum(col("_w")).as("_n"),
        first(struct(dataCols.map(col): _*)).as("_row"))
      .filter(col("_n") =!= 0L)
      .select(col("_n"),
        explode(array_repeat(col("_row"), abs(col("_n")).cast("int")))
          .as("_row"))
      .select(col("_row.*"),
        when(col("_n") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change"))
  }

  /** CHANGE DATA FEED view over [[readChanges]] — the Delta CDF
    * `_change_type` shape: a key that both lost and gained rows in the
    * window is an UPDATE, its outgoing rows tagged `update_preimage`
    * and incoming rows `update_postimage`; keys that only gained are
    * `insert`, only lost are `delete`. Content-level semantics
    * (inherited from readChanges): a rewrite that lands a row
    * byte-identical to the one it replaced emits nothing — there is no
    * change to feed. The kind table is key-sized; the pairing join
    * adds one shuffle over the delta rows, never a snapshot scan. */
  def readChangeFeed(spark: SparkSession, dir: String, from: Int,
      to: Int, keyCol: String): DataFrame = {
    val ch = readChanges(spark, dir, from, to, keyCol)
    val kinds = ch.groupBy(col(keyCol)).agg(
      max(when(col("_change") === "insert", 1).otherwise(0)).as("_has_i"),
      max(when(col("_change") === "delete", 1).otherwise(0)).as("_has_d"))
    ch.join(kinds, Seq(keyCol))
      .withColumn("_change_type",
        when(col("_has_i") === 1 && col("_has_d") === 1,
          when(col("_change") === "delete", lit("update_preimage"))
            .otherwise(lit("update_postimage")))
          .otherwise(col("_change")))
      .drop("_has_i", "_has_d", "_change")
  }

  /** [[readChangeFeed]] at PER-COMMIT granularity: the multi-version
    * window (from, to] decomposes into one feed per commit, each
    * carrying its `_commit_version` — what a consumer replaying
    * history commit-by-commit (exactly-once downstream apply, audit
    * ordering) needs, where the windowed feed would net out
    * intermediate states. Still file-pruned: each commit's feed scans
    * only that commit's file delta; versions absent from the log
    * (fixed-version batchId gaps) contribute nothing. */
  def readChangeFeedByCommit(spark: SparkSession, dir: String,
      from: Int, to: Int, keyCol: String): DataFrame = {
    require(from < to, s"feed needs from < to, got $from..$to")
    val committed = winnerKeys(spark, dir).map(_._1)
      .filter(w => w > from && w <= to)
    require(committed.nonEmpty,
      s"no commits in ($from, $to] at $dir — nothing to feed")
    committed.map { w =>
      readChangeFeed(spark, dir, w - 1, w, keyCol)
        .withColumn("_commit_version", lit(w))
    }.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  /** GDPR PURGE — erase every row matching `predicate` from EVERY
    * version of the layout, the right-to-be-forgotten verb no
    * append-only log can express: time travel must stop serving the
    * erased rows too, so affected data files are rewritten IN PLACE
    * (read → filter → swap under the same path), deliberately breaking
    * file immutability for exactly this one operation — the same
    * trade Delta documents for its purge recipe. The log is untouched:
    * every snapshot keeps its version history and row counts simply
    * shrink by the purged rows. Only files the layout OWNS are
    * rewritten — purging a clone does not reach imported source bytes
    * (run the purge on the source, whose clones then serve the purged
    * content automatically). One predicate-pushed, metadata-projected
    * scan over all logged files names the victims; each victim is then
    * rewritten alone — cost ∝ matching files, never the lake. Returns
    * the rewritten (layout-relative) paths. */
  def purgeWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Seq[String] = {
    val owned = log(spark, dir).select(col("path")).distinct()
      .collect().map(_.getString(0)).filter(isOwned).distinct.sorted
    if (owned.isEmpty) return Nil
    def relOf(fp: String): String = fp.split('/').takeRight(3).mkString("/")
    val victims = spark.read.option("mergeSchema", "true")
      .parquet(owned.map(resolve(dir, _)): _*)
      .filter(predicate)
      .select(col("_metadata.file_path").as("fp"))
      .distinct().collect().map(r => relOf(r.getString(0))).toSet
    val hit = owned.filter(p => victims(relOf(p)))
    val (fs, _) = hfs(spark, dir)
    hit.foreach { p =>
      val target = new org.apache.hadoop.fs.Path(resolve(dir, p))
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dir/_log/.purge-tmp-${target.getName}")
      val survivors = spark.read.parquet(target.toString)
        .filter(not(coalesce(predicate, lit(false))))
        .coalesce(1).sortWithinPartitions(col("draw"))
      survivors.write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"purge rewrite of $p produced no part file"))
      // swap: rename-aside → rename-in → delete-aside (the
      // compactShards crash-safe swap discipline)
      val aside = new org.apache.hadoop.fs.Path(
        s"$dir/_log/.purge-aside-${target.getName}")
      require(fs.rename(target, aside), s"purge: rename-aside failed for $p")
      require(fs.rename(part, target), s"purge: rename-in failed for $p")
      fs.delete(aside, false)
      fs.delete(tmp, true): Unit
    }
    hit
  }

  /** VACUUM: physically delete files logged `remove`d at any version
    * ≤ `horizon` — snapshots as of versions before their removal stop
    * being readable (readAsOf fails loudly), snapshots at or after the
    * horizon are untouched. [[restoreTo]] makes removes NON-final, so
    * a removed-by-then file is reclaimed only when nothing at or past
    * the horizon needs it: it is not live AS OF the horizon and no
    * later version re-ADDs it (a restore-re-animated file must
    * survive, or the very snapshot the restore committed would go
    * dark). Returns the deleted paths. */
  def vacuum(spark: SparkSession, dir: String, horizon: Int): Seq[String] = {
    val entries = log(spark, dir)
      .select(col("version"), col("path"), col("action"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    val removedByHorizon = entries.collect {
      case (v, p, "remove") if v <= horizon => p }.toSet
    val liveAtHorizon = liveFiles(spark, dir, horizon).map(_._2).toSet
    val readdedAfter = entries.collect {
      case (v, p, "add") if v > horizon => p }.toSet
    // a clone never owns its imported (absolute-path) files — its
    // vacuum reports them reclaimable-elsewhere by SKIPPING them; only
    // the source layout may physically delete its bytes
    val doomed =
      (removedByHorizon -- liveAtHorizon -- readdedAfter)
        .toSeq.filter(isOwned).sorted
    val (fs, _) = hfs(spark, dir)
    doomed.foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(resolve(dir, p)), false): Unit)
    doomed
  }

  /** GC of ORPHANED payloads: staged data subtrees (`d-<id>/`) and
    * manifests (`_log/m-<id>/`) that NO pointer references — the
    * leavings of a writer that crashed before publish or a rewrite
    * that lost its validation and replanned. This is the only place
    * the old settle horizon survives: `olderThanMs` is a payload AGE
    * bound (an unreferenced subtree younger than it may belong to a
    * writer still staging), never a writer-liveness judgment — a slow
    * writer's about-to-publish payload is protected by age, and once
    * it publishes, by reference. Returns the reclaimed roots. */
  def gcOrphans(spark: SparkSession, dir: String,
      olderThanMs: Long = 600000L): Seq[String] = {
    val (fs, _) = hfs(spark, dir)
    val now = System.currentTimeMillis()
    // ALL pointer generations count as references: superseded replay
    // payloads are unreachable through readers but deleting them is
    // vacuum-horizon policy, not orphan GC
    val ptrs = allPointers(spark, dir)
    val refD = ptrs.flatMap(_.dId).toSet
    val refM = ptrs.map(_.mId).toSet
    val (fsx, _) = hfs(spark, dir)
    val logRootX = new org.apache.hadoop.fs.Path(s"$dir/_log")
    // checkpoint parquets referenced by an x- pointer are live; a
    // loser's unpublished parquet ages out like any staged orphan
    val refP =
      if (!fsx.exists(logRootX)) Set.empty[String]
      else fsx.listStatus(logRootX).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith("x-"))
        .map(f => readSmall(fsx, f.getPath).trim).toSet
    def sweep(root: org.apache.hadoop.fs.Path, prefix: String,
        referenced: Set[String]): Seq[String] =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith(prefix))
        .filter { d =>
          val id = d.getPath.getName.stripPrefix(prefix)
          !referenced(id) && now - d.getModificationTime > olderThanMs
        }
        .map { d => fs.delete(d.getPath, true); d.getPath.getName }
    val logRoot = new org.apache.hadoop.fs.Path(s"$dir/_log")
    val tmps =
      if (!fs.exists(logRoot)) Nil
      else fs.listStatus(logRoot).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith(".tmp-") &&
          now - f.getModificationTime > olderThanMs)
        .map { f => fs.delete(f.getPath, false); f.getPath.getName }
    (sweep(new org.apache.hadoop.fs.Path(dir), "d-", refD) ++
      sweep(logRoot, "m-", refM) ++
      sweep(logRoot, "p-", refP) ++ tmps).sorted
  }

  /** TABLE-LEVEL CHECK CONSTRAINTS (the Delta `ALTER TABLE ADD
    * CONSTRAINT` shape — the validation module's predicate evaluation
    * wired into the commit protocol, closing the loop between the
    * reference's pandera stage and the lakehouse layer): a constraint
    * is a SQL predicate persisted as ONE atomically-created file
    * `_log/k-<name>` (the same [[atomicPublishFile]] primitive as
    * commits, so two writers racing ADD CONSTRAINT on one name collide
    * deterministically), and every INGEST commit path — append,
    * fixed-version replay, merge batch — evaluates the
    * active set over its incoming rows BEFORE staging: a violating
    * batch rejects the WHOLE commit (all-or-nothing, offending sample
    * in the error) and the layout is untouched. Rewrites that only
    * MOVE already-ingested rows (compact, optimize, delete, restore)
    * skip re-validation. NULL predicate results follow SQL CHECK
    * semantics (NULL = pass) — add an explicit IS NOT NULL constraint
    * to reject nulls. ADD CONSTRAINT on a non-empty layout validates
    * the EXISTING snapshot first and refuses rather than retro-fitting
    * (Delta semantics). At 100 TB enforcement costs one predicate
    * evaluation over each incoming BATCH — never a lake scan. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
      predicateSql: String,
      // deterministic schedule seam (suite-only): runs between the
      // snapshot validation and the k-file publish — the window where
      // a racing ingest can read the not-yet-existing constraint set
      beforePublish: () => Unit = () => ()): Unit = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name '$name' must be [A-Za-z0-9_]+")
    // reject at WRITE time what readSmall would refuse at read time —
    // an over-cap predicate must never be half-persisted
    require(predicateSql
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
        <= MetaFileCap,
      s"constraint '$name' predicate exceeds $MetaFileCap UTF-8 bytes")
    def violations(df: DataFrame): Array[Row] =
      df.filter(!coalesce(expr(predicateSql), lit(true))).limit(3).collect()
    val cur = currentVersion(spark, dir)
    if (cur >= 0 && liveFiles(spark, dir, cur).nonEmpty) {
      val bad = violations(readAsOf(spark, dir, cur))
      require(bad.isEmpty,
        s"cannot add constraint '$name' CHECK ($predicateSql): existing " +
          s"rows violate it, e.g. ${bad.mkString("; ")}")
    }
    beforePublish()
    if (!atomicPublishFile(spark, dir, s"k-$name", predicateSql))
      sys.error(s"constraint '$name' already exists at $dir")
    // ACTIVATION-RACE re-validation: constraints live outside the
    // commit log, so an ingest that read the constraint set BEFORE the
    // k-file existed can land violating rows between our snapshot read
    // and the publish above. Re-validate every version committed since
    // the snapshot (an OCC-style loop like [[commit]]'s); on
    // violation the constraint retracts itself and fails loudly.
    // RESIDUAL window, documented: a writer that read the (empty)
    // constraint set before the k-file existed and is still staging
    // can publish AFTER this loop finishes — closing that needs
    // constraints inside commit metadata (Delta makes ADD CONSTRAINT a
    // log commit so OCC conflict detection covers it); bounded here by
    // one ingest's staging time, vs the old UNBOUNDED silent hole.
    var vChecked = math.max(cur, -1)
    var rounds = 0
    while (rounds < 8 && currentVersion(spark, dir) > vChecked) {
      val vNow = currentVersion(spark, dir)
      val before = liveFiles(spark, dir, math.max(vChecked, 0))
        .map(_._2).toSet
      val added =
        if (vChecked < 0) liveFiles(spark, dir, vNow)
        else liveFiles(spark, dir, vNow).filterNot(f => before(f._2))
      if (added.nonEmpty) {
        val bad = violations(spark.read.parquet(
          added.map(f => resolve(dir, f._2)): _*))
        if (bad.nonEmpty) {
          dropConstraint(spark, dir, name)
          sys.error(s"constraint '$name' CHECK ($predicateSql) retracted: " +
            s"rows committed during activation violate it, " +
            s"e.g. ${bad.mkString("; ")}")
        }
      }
      vChecked = vNow
      rounds += 1
    }
  }

  /** Drop a constraint by name (no-op if absent). */
  def dropConstraint(spark: SparkSession, dir: String,
      name: String): Unit = {
    val (fs, _) = hfs(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_log/k-$name"),
      false): Unit
  }

  /** The layout's active constraints, name → SQL predicate. */
  def tableConstraints(spark: SparkSession,
      dir: String): Map[String, String] = {
    val (fs, _) = hfs(spark, dir)
    val logRoot = new org.apache.hadoop.fs.Path(s"$dir/_log")
    if (!fs.exists(logRoot)) return Map.empty
    fs.listStatus(logRoot).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("k-"))
      .map(f => f.getPath.getName.stripPrefix("k-") ->
        readSmall(fs, f.getPath).trim)
      .toMap
  }

  /** Enforce the active constraint set on an incoming batch — called
    * by every ingest path before staging. Violation = predicate FALSE
    * (NULL passes, per SQL CHECK); the error carries up to 3 offending
    * rows. */
  private def enforceConstraints(spark: SparkSession, dir: String,
      batch: DataFrame): Unit =
    tableConstraints(spark, dir).toSeq.sortBy(_._1)
      .foreach { case (n, p) =>
        val bad = batch.filter(!coalesce(expr(p), lit(true)))
          .limit(3).collect()
        if (bad.nonEmpty)
          sys.error(s"commit rejected: constraint '$n' CHECK ($p) " +
            s"violated by incoming rows, e.g. ${bad.mkString("; ")}")
      }

  /** SHALLOW CLONE (zero-copy fork): `dstDir` becomes a NEW versioned
    * layout whose v=0 log references the source's current live files
    * by ABSOLUTE path — O(#files) metadata, zero data bytes moved (the
    * Delta SHALLOW CLONE / Iceberg-branch experimentation shape: fork
    * a 100 TB lake in milliseconds, then commit against the fork —
    * deletes, merges, compactions — without touching the source; every
    * rewrite the clone performs lands in the CLONE's own subtree).
    * Ownership contract: the clone never owns imported files — its
    * [[vacuum]] skips them — and, the documented table-format caveat,
    * vacuuming the SOURCE past a horizon the clone still references
    * breaks the clone's reads LOUDLY (the readAsOf missing-file
    * require), exactly as Delta documents for shallow clones. An
    * all-empty source clones as an empty layout carrying the source's
    * schema marker so day-0 reads stay schema-bearing. Imports are
    * recorded as FULLY-QUALIFIED URIs (`file:/…`, `hdfs://…`,
    * `s3a://…`) and every reader resolves each path's own FileSystem,
    * so clone and source may live on DIFFERENT filesystems; the
    * suite exercises the URI-qualified path end-to-end on the `file:`
    * scheme (a second live filesystem isn't available in-test).
    * Returns the clone's version (always 0). */
  def cloneLayout(spark: SparkSession, srcDir: String, dstDir: String,
      ts: Long = -1L): Int = {
    val cur = currentVersion(spark, srcDir)
    require(cur >= 0, s"$srcDir has no commits to clone")
    val (srcFs, srcRoot) = hfs(spark, srcDir)
    val srcQual = srcFs.makeQualified(srcRoot).toString
    val live = liveFiles(spark, srcDir, cur)
    val dId =
      if (live.nonEmpty) None
      else {
        // zero-row schema marker (the landedEmpty discipline) so the
        // clone's own emptyMarker walk finds a local schema source
        val id = newId()
        readAsOf(spark, srcDir, cur).limit(0).coalesce(1)
          .write.mode("overwrite").parquet(s"$dstDir/d-$id")
        Some(id)
      }
    val mId = stageManifest(spark, dstDir,
      live.map { case (s, p) => (s, resolve(srcQual, p), "add") })
    if (!publish(spark, dstDir, 0, 0, mId, dId, ts))
      sys.error(s"clone target $dstDir already has a v0 — clone into a " +
        "fresh layout")
    0
  }
}
