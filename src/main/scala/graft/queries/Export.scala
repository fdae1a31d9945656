package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.sinks.ShardExport

/** q153 — deterministic training-shard export under the hash gate
  * (the q149 landed-layout recipe applied to the serving side of the
  * curation story): documents are LANDED through
  * [[graft.sinks.ShardExport.writeShards]] — a reproducible md5-draw
  * global shuffle into 16 shard directories, each file a sorted run on
  * the draw key — and the query reads the LANDED layout back and emits
  * the per-shard MANIFEST (doc/token/char counts, an order-insensitive
  * content checksum, min/max shuffle key). The oracle recomputes the
  * identical manifest straight from the raw table (the draw, the
  * shard assignment, and the checksum are pure md5/integer functions
  * of row identity — replayed digit-by-digit in DuckDB), so
  * hash-green certifies the export lost, duplicated, and mutated
  * NOTHING, per shard, without ever diffing row-level data. The spec
  * additionally certifies the within-file draw order (the property
  * the oracle's order-insensitive aggregates can't see).
  *
  * At 100 TB this is the corpus-to-trainer handoff: one shuffle to
  * land, manifests computed from the landed scan in the same job, and
  * a loader that checks its shard's manifest before an epoch —
  * corruption or a partial write surfaces as a checksum mismatch, not
  * a silently-wrong gradient. The layout is written once per
  * (session, corpus snapshot) via SessionCache — the production
  * write-once shape. */
object Export {

  private val nShards = 16

  /** Land the shard export once per (session, corpus snapshot), under
    * Stage's managed staging root (one cleanup mechanism — the q149
    * discipline); production writes to its dataset location. */
  private[graft] def shardLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-export|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q153")
      ShardExport.writeShards(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"), col("text")),
        "doc_id", out, nShards)
      out
    }

  val q153: Q = Q(
    "q153_shard_export",
    run = { (spark, dir) =>
      ShardExport.manifest(
        spark.read.parquet(shardLayoutFor(spark, dir)))
    },
    oracle = Some(manifestOracleSql))

  /** The full-corpus manifest recompute q153, q155, and q158 are
    * gated on (at their own shard counts): q153 lands everything in
    * one export, q155 reaches the SAME manifest via stored-manifest +
    * batch-delta merge, q158 via the no-shuffle 2× split — one oracle
    * shape, three landing mechanisms. */
  private def manifestOracleSql: String = manifestOracleSqlFor(nShards)

  private def manifestOracleSqlFor(n: Int, where: String = "TRUE"): String = s"""
      WITH d AS (SELECT doc_id, n_chars, text,
                   md5('shard|' || CAST(doc_id AS VARCHAR)) AS draw
                 FROM documents WHERE $where),
      s AS (SELECT doc_id, n_chars, text, draw,
              ${ShardExport.shardSqlExpr("draw", n)} AS shard
            FROM d)
      SELECT shard,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN text IS NULL THEN 0
                 ELSE len(string_split(text, ' ')) END) AS BIGINT) AS n_toks,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(sum(${ShardExport.checksumSqlExpr("doc_id", "text")})
          AS BIGINT) AS checksum,
        min(draw) AS min_key, max(draw) AS max_key
      FROM s GROUP BY shard"""

  private def docCols(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"), col("text"))

  /** The q151 daily-ingest split: lake = doc_id % 10 <> 7, batch =
    * the rest — landed and manifested once per (session, snapshot). */
  private[graft] def lakeLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-export-lake|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q155-lake")
      ShardExport.writeShards(
        docCols(Tables.documents(spark, dir))
          .filter(col("doc_id") % 10 =!= 7),
        "doc_id", out, nShards)
      out
    }

  /** The lake's STORED manifest (a 16-row staged table — what a
    * production export keeps next to the shards), built once per
    * (session, snapshot) from the landed lake layout. */
  private[graft] def lakeManifestFor(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-manifest-lake|$dir|$nShards") {
      graft.operators.Stage.materialize(
        ShardExport.manifest(spark.read.parquet(lakeLayoutFor(spark, dir))),
        "shard-manifest-q155")
    }

  /** q155 — incremental shard-export maintenance (the daily-ingest
    * arm of q153, the q124/q151 recipe applied to the serving layout):
    * the new batch (doc_id % 10 == 7) is assigned shards by the SAME
    * pure md5 function, its 16-row manifest DELTA is aggregated from
    * the batch alone, and the updated manifest is
    * `mergeManifests(stored, delta)` — counts/sums add, ranges
    * least/greatest, the checksum is a SUM so it commutes with any
    * arrival order. NO lake rescan anywhere in the plan: the lake
    * contributes its stored 16-row manifest (ExportSpec asserts the
    * executed plan's scans touch only the batch rows and the staged
    * manifest — shuffles ∝ batch, the shape that survives a 100 TB
    * lake with a 10 GB daily batch). The oracle recomputes the full-
    * corpus manifest from scratch — hash-green certifies the
    * incremental algebra is EXACT, not approximately maintained.
    * [[graft.sinks.ShardExport.appendShards]] is the physical twin
    * (new sorted-run files inside the existing shard dirs, lake files
    * never rewritten); ExportSpec asserts landed-recompute ≡ merge. */
  val q155: Q = Q(
    "q155_shard_append",
    run = { (spark, dir) =>
      val delta = ShardExport.manifest(
        ShardExport.withShardKey(
          docCols(Tables.documents(spark, dir))
            .filter(col("doc_id") % 10 === 7),
          "doc_id", nShards))
      ShardExport.mergeManifests(lakeManifestFor(spark, dir), delta)
    },
    oracle = Some(manifestOracleSql))

  /** The 2×-split child layout (16 → 32 shards), landed once per
    * (session, snapshot) from the q153 parent layout. */
  private[graft] def splitLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-split|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q158")
      graft.sinks.ShardExport.splitShards(spark,
        shardLayoutFor(spark, dir), out, nShards)
      out
    }

  /** q158 — NO-SHUFFLE shard split (16 → 32): because the shard id is
    * the draw's first 4 hex digits mod N and mod classes NEST, every
    * doc of parent shard r lands in r or r+16 — the split re-keys each
    * landed file LOCALLY and fans it into the child dirs with no
    * Exchange in the plan (suite-asserted; at 100 TB: reshard a
    * serving layout touching every byte once, moving nothing between
    * executors). Gated on the 32-shard manifest of the SPLIT layout
    * against the raw-table recompute; ExportSpec additionally asserts
    * the pair-sum law (child manifests r and r+16 sum to the parent's
    * row r field-for-field) — the property that lets a consumer verify
    * a split from manifests alone, without reading a row. */
  val q158: Q = Q(
    "q158_shard_split",
    run = { (spark, dir) =>
      ShardExport.manifest(
        spark.read.parquet(splitLayoutFor(spark, dir)))
    },
    oracle = Some(manifestOracleSqlFor(2 * nShards)))

  /** q163's OWN appended-then-compacted layout (never the q155 lake —
    * compaction mutates the landed bytes in place, and the q155 stored
    * manifest must keep describing the un-appended lake): day-0 export
    * of doc_id % 10 ∉ {7, 8}, two daily appends (7 then 8), then
    * SELECTIVE compaction at maxRuns = 2 — shards both batches touched
    * sit at 3 runs and compact; shards a batch missed stay at ≤ 2 runs
    * and their bytes are never rewritten. */
  private[graft] def compactedLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-compact|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q163")
      val docs = docCols(Tables.documents(spark, dir))
      val m10 = col("doc_id") % 10
      ShardExport.writeShards(docs.filter(m10 =!= 7 && m10 =!= 8),
        "doc_id", out, nShards)
      ShardExport.appendShards(docs.filter(m10 === 7), "doc_id", out, nShards)
      ShardExport.appendShards(docs.filter(m10 === 8), "doc_id", out, nShards)
      ShardExport.compactShards(spark, out, maxRuns = 2)
      out
    }

  /** q163 — selective LSM-style shard COMPACTION under the hash gate
    * (the maintenance step q155's appends make necessary: every append
    * drops one more sorted run per touched shard, degrading the
    * loader's per-shard stream into a k-way merge): shards above the
    * run threshold are rewritten as ONE draw-ordered file via a
    * per-shard directory swap, everything else keeps its exact bytes
    * ([[graft.sinks.ShardExport.compactShards]] — the compaction set
    * comes from a bounded nShards-row listing and the rewrite job
    * shuffles ONLY the selected shards' rows, the q124/q155
    * ∝-the-touched-set posture). Gated on the compacted layout's
    * manifest vs the raw full-corpus recompute — hash-green certifies
    * the rewrite lost, duplicated, and reordered-across-shards NOTHING;
    * ExportSpec asserts the physical laws the order-insensitive
    * manifest can't see (single post-compaction run, restored draw
    * order, untouched-below-threshold bytes, swap atomicity unit). */
  val q163: Q = Q(
    "q163_shard_compact",
    run = { (spark, dir) =>
      ShardExport.manifest(
        spark.read.parquet(compactedLayoutFor(spark, dir)))
    },
    oracle = Some(manifestOracleSql))

  /** q166's versioned layout lifecycle, committed once per (session,
    * snapshot): v0 = lake export (doc_id % 10 ≠ 7), v1 = batch append
    * (% 10 = 7), v2 = logical compaction of every multi-run shard. The
    * pre-compaction runs stay on disk — v0/v1 snapshots keep reading
    * them until vacuum. */
  private[graft] def versionedLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q166")
      val docs = docCols(Tables.documents(spark, dir))
      graft.sinks.VersionedShards.commitAppend(spark,
        docs.filter(col("doc_id") % 10 =!= 7), "doc_id", out, nShards)
      graft.sinks.VersionedShards.commitAppend(spark,
        docs.filter(col("doc_id") % 10 === 7), "doc_id", out, nShards)
      graft.sinks.VersionedShards.compactCommit(spark, out, nShards)
      out
    }

  /** q166 — TIME-TRAVEL snapshot read over the versioned shard layout
    * (the transaction-log recipe: immutable per-version data files + a
    * file-level add/remove log that readers resolve through —
    * [[graft.sinks.VersionedShards]]): the registry query reads the
    * layout AS OF v0 — the pre-append lake snapshot — *after* v1
    * appended a batch and v2 logically compacted every multi-run
    * shard, and emits its manifest. Hash-green against a lake-only
    * recompute certifies the snapshot is EXACT: the append is
    * invisible to v0, and the compaction (which rewrote the very
    * shards v0 reads) left v0's view untouched because superseded
    * files are logged out, not deleted. ExportSpec asserts the rest of
    * the lifecycle: v1 ≡ v2 ≡ the full corpus (logical compaction is
    * content-invariant), single live run per compacted shard, and
    * vacuum semantics — past-horizon snapshots fail LOUDLY while the
    * current one stays green. */
  val q166: Q = Q(
    "q166_snapshot_read",
    run = { (spark, dir) =>
      ShardExport.manifest(
        graft.sinks.VersionedShards.readAsOf(spark,
          versionedLayoutFor(spark, dir), 0))
    },
    oracle = Some(manifestOracleSqlFor(nShards, "doc_id % 10 <> 7")))

  /** q167 — SNAPSHOT DIFF as a metadata read (the CDC arm of q166):
    * the docs that arrived between v0 and v1 of the versioned layout,
    * resolved ENTIRELY from the transaction log — the plan scans only
    * the files v1 added, never the lake and never a join (at 100 TB:
    * "what arrived since yesterday" costs a log filter + a batch-sized
    * scan). The diff refuses intervals containing a compaction (whose
    * rewritten files carry old rows — file-level diffing would
    * over-approximate; suite-asserted), which the v0→v1 interval here
    * never does. Gated on the diff's manifest vs a batch-only DuckDB
    * recompute — hash-green certifies the metadata diff IS the batch,
    * row-exact. */
  val q167: Q = Q(
    "q167_snapshot_diff",
    run = { (spark, dir) =>
      ShardExport.manifest(
        graft.sinks.VersionedShards.readDiff(spark,
          versionedLayoutFor(spark, dir), 0, 1))
    },
    oracle = Some(manifestOracleSqlFor(nShards, "doc_id % 10 = 7")))

  /** q173 — ROW-LEVEL snapshot diff ACROSS a compaction (the slow-path
    * CDC arm q167's fast path refuses): the diff interval here is
    * (v0, current] of the SAME versioned layout, which contains v2's
    * logical compaction — its remove-rows make the file-level diff
    * over-approximate (the compacted files re-add old rows), so
    * [[graft.sinks.VersionedShards.readDiffRows]] resolves the answer
    * with a (key, whole-row fingerprint) anti-join of the `to`
    * snapshot against the `from` snapshot instead. Rows rewritten by
    * the compaction cancel exactly; only v1's genuinely-new batch
    * survives. Hash-green against the batch-only recompute certifies
    * the row-level path equals the metadata path's answer even though
    * the interval is one the metadata path cannot serve — and
    * ExportSpec asserts the two paths agree verbatim on
    * compaction-free intervals. On an all-empty history the layout
    * tops out at v1 and the diff is the empty frame, not an error. */
  val q173: Q = Q(
    "q173_snapshot_diff_rows",
    run = { (spark, dir) =>
      val layout = versionedLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readDiffRows(spark, layout, 0,
          graft.sinks.VersionedShards.currentVersion(spark, layout),
          "doc_id")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang, n_chars, text
      FROM documents WHERE doc_id % 10 = 7"""))

  /** q174's lifecycle — the q166 history EXTENDED by a restore commit,
    * on its OWN layout (registry queries must not mutate each other's
    * shared artifacts): v0 lake, v1 batch append, v2 logical
    * compaction, v3 = RESTORE to v0. Committed once per (session,
    * snapshot); all four versions stay readable. */
  private[graft] def restoreLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-restore|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q174")
      val docs = docCols(Tables.documents(spark, dir))
      graft.sinks.VersionedShards.commitAppend(spark,
        docs.filter(col("doc_id") % 10 =!= 7), "doc_id", out, nShards)
      graft.sinks.VersionedShards.commitAppend(spark,
        docs.filter(col("doc_id") % 10 === 7), "doc_id", out, nShards)
      graft.sinks.VersionedShards.compactCommit(spark, out, nShards)
      graft.sinks.VersionedShards.restoreTo(spark, out, 0): Unit
      out
    }

  /** q174 — RESTORE (rollback) as a log-only commit: after an append
    * AND a compaction rewrote the lake's files, restoring to v0 must
    * re-ADD the compaction-superseded originals and REMOVE everything
    * newer — zero data bytes moved, O(#files) metadata, history
    * intact (the Delta RESTORE / Iceberg rollback semantics). The
    * registry reads the CURRENT (post-restore) snapshot's manifest;
    * hash-green against the lake-only recompute certifies the rollback
    * state equals v0 exactly even though the restore re-animates files
    * a remove had superseded — the order-aware per-path log resolution
    * (latest action wins) that file-level "removes always win" folds
    * get wrong. ExportSpec asserts the rest: restore-of-restore,
    * vacuumed-target refusal, and diff-ability of the restore commit. */
  val q174: Q = Q(
    "q174_snapshot_restore",
    run = { (spark, dir) =>
      val layout = restoreLayoutFor(spark, dir)
      ShardExport.manifest(
        graft.sinks.VersionedShards.readAsOf(spark, layout,
          graft.sinks.VersionedShards.currentVersion(spark, layout)))
    },
    oracle = Some(manifestOracleSqlFor(nShards, "doc_id % 10 <> 7")))

  /** q175's lifecycle: v0 = the FULL corpus committed once; v1 = one
    * MERGE batch carrying both arms of an upsert — revisions (every
    * doc_id % 10 = 3 gets " v2" appended, n_chars += 3) and inserts
    * (every doc_id % 10 = 1 re-keyed to doc_id + 1000000 under source
    * 'merge'). */
  private[graft] def mergeLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-merge|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q175")
      val docs = docCols(Tables.documents(spark, dir))
      graft.sinks.VersionedShards.commitAppend(spark, docs, "doc_id", out,
        nShards)
      val revised = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("text",
          concat(coalesce(col("text"), lit("")), lit(" v2")))
        .withColumn("n_chars", coalesce(col("n_chars"), lit(0L)) + 3L)
      val inserted = docs.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("merge").as("source"), col("lang"), col("n_chars"),
          col("text"))
      graft.sinks.VersionedShards.mergeCommit(spark,
        revised.unionByName(inserted), "doc_id", out, nShards): Unit
      out
    }

  /** q175 — transactional MERGE (upsert) with a SHARD-PRUNED rewrite:
    * matched keys replaced, new keys inserted, and the rewrite job
    * reads ONLY the shards the batch's md5 key assignment can touch —
    * rewrite ∝ the touched shards, never the lake (the q163
    * ∝-the-touched-set posture made transactional). The registry reads
    * the post-merge snapshot's ROWS; hash-green against the DuckDB
    * replay (corpus minus originals of the revised keys, plus revised
    * rows, plus inserts) certifies replace-don't-duplicate, insert,
    * and preserve semantics row-exactly. ExportSpec asserts the
    * pruning law (untouched shards keep their exact files) and that
    * the pre-merge snapshot still reads intact. */
  val q175: Q = Q(
    "q175_merge_upsert",
    run = { (spark, dir) =>
      val layout = mergeLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readAsOf(spark, layout,
          graft.sinks.VersionedShards.currentVersion(spark, layout))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang, n_chars, text
      FROM documents WHERE doc_id % 10 <> 3
      UNION ALL
      SELECT doc_id, source, lang,
        COALESCE(n_chars, 0) + 3 AS n_chars,
        COALESCE(text, '') || ' v2' AS text
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'merge' AS source, lang,
        n_chars, text
      FROM documents WHERE doc_id % 10 = 1"""))

  /** q178's lifecycle: v0 = the FULL corpus committed once; v1 = one
    * DELETE WHERE doc_id % 7 = 2 — a content predicate resolved with
    * the file-pruned rewrite (victim files found by one
    * predicate-pushed snapshot pass, only they rewritten). Commit
    * timestamps are PINNED (v0@1000ms, v1@2000ms) so q183's
    * AS-OF-TIMESTAMP resolution is deterministic under the oracle
    * gate; production commits default to the wall clock. */
  private[graft] def deleteLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-delete|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q178")
      graft.sinks.VersionedShards.commitAppend(spark,
        docCols(Tables.documents(spark, dir)), "doc_id", out, nShards,
        ts = 1000L)
      // CHECKPOINT mid-history (round 15): q178's snapshot read and
      // q191's history audit then resolve through checkpoint + tail
      // manifest, and their hash gates certify the checkpointed log()
      // is row-identical to the manifest-only one
      graft.sinks.VersionedShards.checkpoint(spark, out): Unit
      graft.sinks.VersionedShards.deleteCommit(spark, out,
        col("doc_id") % 7 === 2, nShards, ts = 2000L): Unit
      out
    }

  /** q178 — row-level DELETE as the third DML verb (q175's MERGE covers
    * UPDATE+INSERT): `DELETE WHERE doc_id % 7 = 2` on the versioned
    * layout, executed as a FILE-PRUNED rewrite — one predicate-pushed
    * pass over the live snapshot names the victim files, only those are
    * rewritten without their matching rows, everything else stays live
    * byte-identical, and the superseded files keep serving the
    * pre-delete snapshot. The registry reads the post-delete snapshot's
    * rows; hash-green against `WHERE doc_id % 7 <> 2` certifies
    * delete-exactly-the-matches row-exactly. ExportSpec asserts the
    * pruning law (files with no match keep their exact paths), old
    * snapshot immutability, and NULL-predicate rows surviving. */
  val q178: Q = Q(
    "q178_delete_where",
    run = { (spark, dir) =>
      val layout = deleteLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readAsOf(spark, layout,
          graft.sinks.VersionedShards.currentVersion(spark, layout))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang, n_chars, text
      FROM documents WHERE doc_id % 7 <> 2"""))

  /** q179's lifecycle: v0 = the corpus at its ORIGINAL schema; v1 = an
    * append whose batch carries a NEW `quality` column (doc_id % 10 = 4
    * re-keyed under +2000000, quality = n_chars % 100) — the
    * add-a-column evolution committed as plain data, no table-wide
    * rewrite. */
  private[graft] def evolveLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-evolve|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q179")
      val docs = docCols(Tables.documents(spark, dir))
      graft.sinks.VersionedShards.commitAppend(spark, docs, "doc_id",
        out, nShards)
      val evolved = docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          lit("evo").as("source"), col("lang"), col("n_chars"),
          col("text"),
          (coalesce(col("n_chars"), lit(0L)) % 100L).as("quality"))
      graft.sinks.VersionedShards.commitAppend(spark, evolved, "doc_id",
        out, nShards): Unit
      out
    }

  /** q179 — SCHEMA EVOLUTION on the versioned layout (the Delta/Iceberg
    * mergeSchema add-column semantics): a later commit lands rows with
    * a NEW `quality` column as plain data — zero rewrite of existing
    * files, O(#files) metadata as always — and the CURRENT snapshot
    * read null-fills the column for every pre-evolution file, while a
    * snapshot as of v0 still serves exactly the original columns
    * (suite-asserted). Hash-green against the DuckDB union-by-name
    * replay certifies the null-fill is row-exact. At 100 TB this is
    * the only affordable way to add a column: backfilling petabytes to
    * attach NULLs is the non-starter the log-resolved union avoids. */
  val q179: Q = Q(
    "q179_schema_evolution",
    run = { (spark, dir) =>
      val layout = evolveLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readAsOf(spark, layout,
          graft.sinks.VersionedShards.currentVersion(spark, layout))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("quality"))
    },
    oracle = Some("""
      SELECT doc_id, source, n_chars, CAST(NULL AS BIGINT) AS quality
      FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, 'evo' AS source, n_chars,
        COALESCE(n_chars, 0) % 100 AS quality
      FROM documents WHERE doc_id % 10 = 4"""))

  /** The grouped aggregate q182 maintains: per (lang, source) doc
    * count + char sum. Keys ride '(null)' sentinels because the MV
    * merge JOINS on them (SQL join semantics drop null keys — the
    * q172 COALESCE lesson applied to group-bys); chars coalesce to 0
    * so the maintained sum and the recompute agree on groups whose
    * non-null contributors all churn. */
  private[graft] def groupedMv(snap: org.apache.spark.sql.DataFrame) =
    snap.groupBy(
        coalesce(col("lang"), lit("(null)")).as("lang_k"),
        coalesce(col("source"), lit("(null)")).as("source_k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))

  /** Fold a [[graft.sinks.VersionedShards.readChanges]] frame into a
    * stored [[groupedMv]]: inserts add, deletes retract, zero-count
    * groups drop — every maintained field a decomposable aggregate, so
    * the fold is EXACT in any arrival order. */
  private[graft] def mvApply(mv0: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame) = {
    val sign = when(col("_change") === "insert", 1L).otherwise(-1L)
    val delta = changes
      .select(coalesce(col("lang"), lit("(null)")).as("lang_k"),
        coalesce(col("source"), lit("(null)")).as("source_k"),
        sign.as("dn"),
        (sign * coalesce(col("n_chars"), lit(0L))).as("dc"))
      .groupBy(col("lang_k"), col("source_k"))
      .agg(sum(col("dn")).as("d_docs"), sum(col("dc")).as("d_chars"))
    mv0.join(delta, Seq("lang_k", "source_k"), "full_outer")
      .select(col("lang_k"), col("source_k"),
        (coalesce(col("n_docs"), lit(0L)) +
          coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("sum_chars"), lit(0L)) +
          coalesce(col("d_chars"), lit(0L))).as("sum_chars"))
      .filter(col("n_docs") > 0)
  }

  /** q182 — INCREMENTAL MATERIALIZED-VIEW maintenance from CDC deltas
    * (the q155 decomposable-manifest recipe generalized to a grouped
    * aggregate with RETRACTIONS): the stored MV is the per-(lang,
    * source) rollup of snapshot v0; when the DELETE commits as v1, the
    * maintenance job folds in
    * [[graft.sinks.VersionedShards.readChanges]]' insert/delete rows —
    * +1 per insert, −1 per delete, chars signed the same way — via a
    * full-outer merge on the group keys, dropping groups whose count
    * reaches zero. The CDC scan touches ONLY the files the delete
    * commit added/removed (immutable common files cannot produce
    * changes — suite-asserted via inputFiles), so maintenance costs
    * ∝ the touched files while the gated answer equals the full
    * recompute digit-for-digit. At 100 TB this is the difference
    * between refreshing a corpus dashboard by rescanning the lake and
    * folding yesterday's delta into a kilobyte-sized view. */
  val q182: Q = Q(
    "q182_incremental_mv",
    run = { (spark, dir) =>
      val layout = deleteLayoutFor(spark, dir)
      val mv0 = graft.operators.SessionCache.memoOn(spark, dir,
        s"mv0-grouped|$dir|$nShards") {
        graft.operators.Stage.materialize(
          groupedMv(graft.sinks.VersionedShards.readAsOf(spark, layout, 0)),
          "mv0-q182")
      }
      mvApply(mv0,
        graft.sinks.VersionedShards.readChanges(spark, layout, 0, 1,
          "doc_id"))
    },
    oracle = Some("""
      SELECT COALESCE(lang, '(null)') AS lang_k,
        COALESCE(source, '(null)') AS source_k,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(COALESCE(n_chars, 0)) AS BIGINT) AS sum_chars
      FROM documents WHERE doc_id % 7 <> 2
      GROUP BY 1, 2"""))

  /** q183 — TIME TRAVEL BY TIMESTAMP (`AS OF <ts>`, the form users
    * actually write — nobody remembers version numbers): q178's layout
    * commits at pinned ts 1000 (full corpus) and 2000 (the DELETE), and
    * the query reads BOTH boundary answers — ts=1500 must resolve to
    * v0 (full corpus) and ts=2500 to v1 (post-delete) — through
    * [[graft.sinks.VersionedShards.versionAt]]'s one-listing
    * resolution with the Delta-recipe read-side monotonicity
    * adjustment. Hash-green certifies the BRACKETING semantics
    * (latest commit at-or-before the asked instant), which is the
    * entire contract; the suite pins the edges (exact commit ts,
    * pre-history refusal, skewed clocks). */
  val q183: Q = Q(
    "q183_time_travel_ts",
    run = { (spark, dir) =>
      val layout = deleteLayoutFor(spark, dir)
      def countsAt(ts: Long, label: String) =
        graft.sinks.VersionedShards.readAsOfTs(spark, layout, ts)
          .groupBy(coalesce(col("lang"), lit("(null)")).as("lang_k"))
          .agg(count(lit(1)).as("n_docs"))
          .select(lit(label).as("as_of"), col("lang_k"), col("n_docs"))
      countsAt(1500L, "t1500").unionByName(countsAt(2500L, "t2500"))
    },
    oracle = Some("""
      SELECT 't1500' AS as_of, COALESCE(lang, '(null)') AS lang_k,
        CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 2
      UNION ALL
      SELECT 't2500' AS as_of, COALESCE(lang, '(null)') AS lang_k,
        CAST(count(*) AS BIGINT) AS n_docs
      FROM documents WHERE doc_id % 7 <> 2 GROUP BY 2"""))

  /** q186's lifecycle: v0 = the FULL corpus committed once (files
    * draw-ordered — random with respect to every content column);
    * v1 = OPTIMIZE ZORDER BY (n_chars, doc_id) as a transactional
    * commit. */
  private[graft] def optimizeLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-optimize|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q186")
      graft.sinks.VersionedShards.commitAppend(spark,
        docCols(Tables.documents(spark, dir)), "doc_id", out, nShards)
      graft.sinks.VersionedShards.optimizeCommit(spark, out, nShards,
        pmod(coalesce(col("n_chars"), lit(0L)), lit(256L)).cast("int"),
        pmod(col("doc_id"), lit(256L)).cast("int")): Unit
      out
    }

  /** q186 — OPTIMIZE ZORDER as a COMMIT (the Delta OPTIMIZE shape on
    * the versioned layout): the live snapshot is rewritten clustered
    * by the Morton interleave of (n_chars, doc_id) within each shard —
    * data clustering as just another isolated, time-travelable,
    * vacuum-reclaimed transaction, completing the layout's DML verb
    * set (append / merge / delete / compact / restore / evolve /
    * OPTIMIZE). The registry reads the post-optimize snapshot's rows;
    * hash-green against the raw table certifies the rewrite moved
    * bytes and lost NOTHING. The physical claims live in the suite:
    * row-group skipping on an n_chars band improves versus the
    * pre-optimize draw-ordered files (footer zone maps), the v0
    * snapshot still reads byte-identically, and the CDC stream across
    * the optimize is EMPTY (rows only moved between files). At 100 TB
    * this is how clustering reaches a serving lake: no downtime, old
    * epochs keep their exact bytes, readers flip atomically at the
    * commit. */
  val q186: Q = Q(
    "q186_optimize_zorder",
    run = { (spark, dir) =>
      val layout = optimizeLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readAsOf(spark, layout,
          graft.sinks.VersionedShards.currentVersion(spark, layout))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang, n_chars, text FROM documents"""))

  /** q191 — DESCRIBE HISTORY of the versioned layout (the Delta
    * `DESCRIBE HISTORY` / Iceberg snapshots-table shape — the audit
    * surface every table format ships, because "what happened to this
    * table and when" is the first question an operator asks): one row
    * per commit with its timestamp and file-level add/remove counts,
    * resolved ENTIRELY from the transaction log + the `_ts.` markers —
    * zero data reads, O(#versions + #files) metadata.
    *
    * The gate is the interesting part: file counts sound
    * engine-private, but the layout's placement is a PURE md5 function
    * of row identity, so DuckDB replays them from the raw table — v0
    * adds one file per populated shard (count of DISTINCT shard over
    * the corpus), the DELETE at v1 removes every file holding a match
    * and re-adds those shards that keep survivors. Hash-green
    * certifies the log's account of history against first principles. */
  val q191: Q = Q(
    "q191_describe_history",
    run = { (spark, dir) =>
      val layout = deleteLayoutFor(spark, dir)
      val ts = graft.sinks.VersionedShards.commitTimestamps(spark, layout)
      val tsDf = spark.createDataFrame(ts.map(t => (t._1, t._2)))
        .toDF("version", "ts_ms")
      val counts = graft.sinks.VersionedShards.log(spark, layout)
        .groupBy(col("version"))
        .agg(count(when(col("action") === "add", 1)).as("files_added"),
          count(when(col("action") === "remove", 1)).as("files_removed"))
      tsDf.join(counts, Seq("version"), "left")
        .select(col("version"), col("ts_ms"),
          coalesce(col("files_added"), lit(0L)).as("files_added"),
          coalesce(col("files_removed"), lit(0L)).as("files_removed"))
    },
    oracle = Some {
      val shard = ShardExport.shardSqlExpr(
        s"md5('shard|' || CAST(doc_id AS VARCHAR))", nShards)
      s"""
      WITH s AS (SELECT doc_id, $shard AS shard FROM documents),
      v0 AS (SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n FROM s),
      removed AS (SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n
                  FROM s WHERE doc_id % 7 = 2),
      readded AS (SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n
                  FROM s WHERE doc_id % 7 <> 2 AND shard IN
                    (SELECT DISTINCT shard FROM s WHERE doc_id % 7 = 2))
      SELECT 0 AS version, CAST(1000 AS BIGINT) AS ts_ms,
        v0.n AS files_added, CAST(0 AS BIGINT) AS files_removed FROM v0
      UNION ALL
      SELECT 1 AS version, CAST(2000 AS BIGINT) AS ts_ms,
        readded.n AS files_added, removed.n AS files_removed
      FROM readded, removed"""
    })

  /** q194's lifecycle: src = the FULL corpus committed once; dst =
    * SHALLOW CLONE of src (zero-copy — v=0 of the clone references
    * src's files by absolute path); then a DELETE
    * (doc_id % 9 = 4) committed ON THE CLONE — its rewrite reads the
    * referenced source bytes and lands survivors in the clone's own
    * subtree, while src stays untouched (suite-asserted). */
  private[graft] def cloneLayoutsFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): Seq[String] =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-clone|$dir|$nShards") {
      val src = graft.operators.Stage.allocDir(spark, "shards-q194-src")
      val dst = graft.operators.Stage.allocDir(spark, "shards-q194-dst")
      graft.sinks.VersionedShards.commitAppend(spark,
        docCols(Tables.documents(spark, dir)), "doc_id", src, nShards,
        ts = 1000L)
      graft.sinks.VersionedShards.cloneLayout(spark, src, dst, ts = 1500L)
      graft.sinks.VersionedShards.deleteCommit(spark, dst,
        col("doc_id") % 9 === 4, nShards, ts = 2000L): Unit
      Seq(src, dst)
    }

  /** q194 — ZERO-COPY SHALLOW CLONE + divergent branch commit (the
    * Delta SHALLOW CLONE / Iceberg-branch experimentation shape): the
    * clone's v=0 is O(#files) metadata referencing the source's bytes
    * by absolute path; a DELETE then commits ON THE CLONE — reading
    * the referenced source files, landing survivors in the clone's own
    * subtree — while the source keeps serving its full corpus
    * untouched. This is how a curation experiment forks a 100 TB lake:
    * instantly, with rewrite cost ∝ the experiment's own edits. The
    * registry reads the diverged clone's rows; hash-green against the
    * predicate replay certifies the branch state. The suite pins the
    * rest: clone-is-metadata-only (no data files before the branch
    * commit), source immutability through the clone's delete, the
    * clone's vacuum never reclaiming imported files, and the
    * source-vacuum caveat breaking clone reads LOUDLY. */
  val q194: Q = Q(
    "q194_shallow_clone",
    run = { (spark, dir) =>
      val Seq(_, dst) = cloneLayoutsFor(spark, dir)
      graft.sinks.VersionedShards.readAsOf(spark, dst,
          graft.sinks.VersionedShards.currentVersion(spark, dst))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang, n_chars, text
      FROM documents WHERE doc_id % 9 <> 4"""))

  /** q195's lifecycle: TWO CONCURRENT WRITERS (real threads) ingest
    * the corpus halves through the optimistic-concurrency append —
    * each takes its version by the atomic pointer create that
    * publishes it, neither coordinates with the other. Which half lands
    * as v0 vs v1 is a race; the CONTENT of the current snapshot is
    * not. */
  private[graft] def concurrentLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-concurrent|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q195")
      val docs = docCols(Tables.documents(spark, dir))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = Seq(0, 1).map { half =>
        Future {
          graft.sinks.VersionedShards.commitAppend(spark,
            docs.filter(col("doc_id") % 2 === half), "doc_id", out,
            nShards)
        }
      }
      Await.result(Future.sequence(writers), 10.minutes): Unit
      out
    }

  /** q195 — OPTIMISTIC CONCURRENCY CONTROL for independent writers
    * (the Delta commit-protocol shape): two uncoordinated threads
    * append into one layout; each commit IS the atomic no-clobber
    * create of its version's pointer file, so a writer that loses a
    * version retries at the next one. Blind appends have an empty
    * read-set, so first-create-wins is serializable with no conflict
    * detection. The registry reads the current snapshot after
    * the race — hash-green against the full corpus certifies that
    * WHICHEVER interleaving the scheduler produced, both commits
    * landed whole (the failure mode this protocol exists to prevent is
    * a racing writer silently overwriting the other's version). The
    * suite additionally pins the publish semantics: a taken version
    * refuses a second writer, losers advance, and a writer that crashed
    * after staging consumes no version, so versions stay contiguous. */
  val q195: Q = Q(
    "q195_concurrent_appends",
    run = { (spark, dir) =>
      val layout = concurrentLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readAsOf(spark, layout,
          graft.sinks.VersionedShards.currentVersion(spark, layout))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang, n_chars, text FROM documents"""))

  /** q200's lifecycle: FOUR uncoordinated writers hit one layout —
    * two appenders (new keys), one MERGE upserter (existing keys), one
    * compactor — all through the one OCC commit path. The
    * interleaving is a race; the final content is not: appended keys
    * are disjoint from merge keys, the compaction preserves multisets,
    * and the rewrites replan on conflict instead of clobbering. */
  private[graft] def concurrentRewriteLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-occ-rewrite|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q200")
      val docs = docCols(Tables.documents(spark, dir))
      // base: two interleaved appends → every shard holds 2 runs, so
      // the racing compactor has real victims to fight over
      graft.sinks.VersionedShards.commitAppend(spark,
        docs.filter(col("doc_id") % 4 === 0), "doc_id", out, nShards)
      graft.sinks.VersionedShards.commitAppend(spark,
        docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
        "doc_id", out, nShards)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers: Seq[Future[Any]] = Seq(
        Future(graft.sinks.VersionedShards.commitAppend(spark,
          docs.filter(col("doc_id") % 8 === 3), "doc_id", out, nShards)),
        Future(graft.sinks.VersionedShards.commitAppend(spark,
          docs.filter(col("doc_id") % 8 === 7), "doc_id", out, nShards)),
        Future(graft.sinks.VersionedShards.mergeCommit(spark,
          docs.filter(col("doc_id") % 8 === 0)
            .withColumn("source", lit("merged")),
          "doc_id", out, nShards)),
        Future(graft.sinks.VersionedShards.compactCommit(spark,
          out, nShards)))
      Await.result(Future.sequence(writers), 10.minutes): Unit
      out
    }

  /** q200 — OPTIMISTIC CONCURRENCY for REWRITE commits (read-set
    * validation, the Delta conflict-detection shape): a MERGE upsert
    * and a compaction race two appenders on one layout, no
    * coordinator. Every rewrite plans against the snapshot it read,
    * stages its files, then validates its read-set against the log rows
    * of every version committed since — a removed victim or an add in a
    * read shard forces a replan from the fresh snapshot — and publishes
    * at the next version (a lost publish race just revalidates against
    * the new winner). Hash-green against the
    * oracle certifies that WHICHEVER interleaving the scheduler
    * produced, no commit was lost, no row duplicated, and the upsert
    * landed over every copy of its keys (the failure modes unvalidated
    * rewrites produce). The suite additionally pins each conflict
    * class deterministically (victim-removed, add-in-read-shard for a
    * merge and a delete) and that a writer stalled between plan and
    * publish still lands. */
  val q200: Q = Q(
    "q200_concurrent_rewrite",
    run = { (spark, dir) =>
      val layout = concurrentRewriteLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readAsOf(spark, layout,
          graft.sinks.VersionedShards.currentVersion(spark, layout))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
    },
    oracle = Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 8 = 0 THEN 'merged' ELSE source END AS source,
        lang, n_chars, text
      FROM documents"""))

  /** q201's lifecycle: base commit, then a MERGE that both revises
    * existing keys (doc_id % 7 == 2 → source 'rev2') and inserts new
    * ones (doc_id + 10000 for doc_id < 20) — the one-version window
    * whose change feed must pair revisions as pre/post images. */
  private[graft] def cdfLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-cdf|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q201")
      val docs = docCols(Tables.documents(spark, dir))
      graft.sinks.VersionedShards.commitAppend(spark, docs, "doc_id",
        out, nShards)
      val revised = docs.filter(col("doc_id") % 7 === 2)
        .withColumn("source", lit("rev2"))
      val inserted = docs.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 10000L)
      graft.sinks.VersionedShards.mergeCommit(spark,
        revised.unionByName(inserted), "doc_id", out, nShards)
      out
    }

  /** q201 — CHANGE DATA FEED with UPDATE PRE/POST IMAGES (the Delta
    * CDF `_change_type` contract on top of q173/q182's file-pruned
    * CDC): a key that both lost and gained rows in the version window
    * is an update — outgoing rows tagged `update_preimage`, incoming
    * `update_postimage` — while pure arrivals stay `insert` and pure
    * departures `delete`. This is the shape a downstream incremental
    * consumer (audit trail, search-index updater, feature store)
    * actually subscribes to: the retract/apply pair PLUS the knowledge
    * that they belong to one logical UPDATE. The kind table is
    * key-sized and the pairing join touches only the delta rows —
    * the 100 TB cost stays ∝ changed files. */
  val q201: Q = Q(
    "q201_change_data_feed",
    run = { (spark, dir) =>
      val layout = cdfLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readChangeFeed(spark, layout, 0, 1,
          "doc_id")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"), col("_change_type"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang, n_chars, text,
        'update_preimage' AS _change_type
      FROM documents WHERE doc_id % 7 = 2
      UNION ALL
      SELECT doc_id, 'rev2', lang, n_chars, text, 'update_postimage'
      FROM documents WHERE doc_id % 7 = 2
      UNION ALL
      SELECT doc_id + 10000, source, lang, n_chars, text, 'insert'
      FROM documents WHERE doc_id < 20"""))

  /** q202's lifecycle: two commits build real version history, then
    * [[graft.sinks.VersionedShards.purgeWhere]] erases doc_id % 13 == 6
    * from EVERY version — the registry reads the OLDEST snapshot to
    * certify that time travel stopped serving the purged rows. */
  private[graft] def purgeLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir,
      s"shard-versions-purge|$dir|$nShards") {
      val out = graft.operators.Stage.allocDir(spark, "shards-q202")
      val docs = docCols(Tables.documents(spark, dir))
      graft.sinks.VersionedShards.commitAppend(spark, docs, "doc_id",
        out, nShards)
      graft.sinks.VersionedShards.mergeCommit(spark,
        docs.filter(col("doc_id") % 5 === 1)
          .withColumn("source", lit("rev")),
        "doc_id", out, nShards)
      graft.sinks.VersionedShards.purgeWhere(spark, out,
        col("doc_id") % 13 === 6)
      out
    }

  /** q202 — GDPR PURGE / right-to-be-forgotten across ALL versions:
    * matching rows are erased from every data file the layout owns by
    * an in-place read→filter→swap rewrite (the one deliberate breach
    * of file immutability, exactly as Delta documents its purge
    * recipe), so TIME TRAVEL stops serving them too — an append-only
    * history would otherwise keep resurfacing erased user data via
    * `AS OF` reads. The log, version count, and every non-matching
    * row's bytes are untouched; cost is ∝ files that actually hold
    * matching rows (one predicate-pushed metadata-projected scan
    * names them). The registry reads snapshot v0 — the OLDEST
    * history — and hash-green against documents-minus-purged
    * certifies the erasure reached it. */
  val q202: Q = Q(
    "q202_gdpr_purge",
    run = { (spark, dir) =>
      val layout = purgeLayoutFor(spark, dir)
      graft.sinks.VersionedShards.readAsOf(spark, layout, 0)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang, n_chars, text FROM documents
      WHERE doc_id % 13 <> 6"""))

  /** q236 — TABLE-CONSTRAINT AUDIT (round 15, the registry face of
    * `VersionedShards.addConstraint`'s CHECK-on-write enforcement —
    * the Delta `ALTER TABLE ADD CONSTRAINT` shape wiring the
    * reference's pandera-stage semantics into the lakehouse layer):
    * for a fixed candidate constraint set, ONE corpus pass reports
    * per-constraint violation counts under SQL CHECK semantics
    * (violation = predicate FALSE; NULL passes) and whether ADD
    * CONSTRAINT would be accepted on the current data (the
    * existing-rows-must-satisfy rule). Enforcement itself — reject a
    * violating ingest commit all-or-nothing, refuse a retro-fitted
    * constraint, first-create-wins on racing ADDs — is pinned in
    * ExportSpec; this audit is the exactly-gated readout. Scale shape:
    * one scan, conditional-sum partials, a 4-row stack of the 1-row
    * aggregate. */
  val q236: Q = Q(
    "q236_table_constraints",
    run = { (spark, dir) =>
      val checks = Seq(
        ("doc_id_not_null", "doc_id IS NOT NULL"),
        ("n_chars_nonneg", "n_chars >= 0"),
        ("text_nonempty", "length(text) > 0"),
        ("lang_known", "lang IN ('en','de','fr','es','it')"))
      val docs = Tables.documents(spark, dir)
      val sums = checks.zipWithIndex.map { case ((_, p), i) =>
        sum(when(not(coalesce(expr(p), lit(true))), 1L).otherwise(0L))
          .as(s"v$i")
      }
      val aggd = docs.agg(count(lit(1)).as("n_rows"), sums: _*)
      aggd.select(col("n_rows"), expr(
          "stack(4, " + checks.zipWithIndex.map { case ((n, _), i) =>
            s"'$n', v$i" }.mkString(", ") +
            ") AS (constraint_name, n_violations)"))
        .select(col("constraint_name"), col("n_rows"),
          col("n_violations"),
          (col("n_violations") === 0L).as("would_enforce"))
    },
    oracle = Some("""
      WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN NOT COALESCE(doc_id IS NOT NULL, TRUE)
          THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        CAST(sum(CASE WHEN NOT COALESCE(n_chars >= 0, TRUE)
          THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        CAST(sum(CASE WHEN NOT COALESCE(length(text) > 0, TRUE)
          THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        CAST(sum(CASE WHEN NOT COALESCE(
            lang IN ('en','de','fr','es','it'), TRUE)
          THEN 1 ELSE 0 END) AS BIGINT) AS v3
        FROM documents)
      SELECT constraint_name, n_rows, n_violations,
        n_violations = 0 AS would_enforce
      FROM (
        SELECT 'doc_id_not_null' AS constraint_name, n_rows,
          v0 AS n_violations FROM a
        UNION ALL SELECT 'n_chars_nonneg', n_rows, v1 FROM a
        UNION ALL SELECT 'text_nonempty', n_rows, v2 FROM a
        UNION ALL SELECT 'lang_known', n_rows, v3 FROM a)"""))

  val all: Seq[Q] = Seq(q153, q155, q158, q163, q166, q167, q173, q174,
    q175, q178, q179, q182, q183, q186, q191, q194, q195, q200, q201,
    q202, q236)
}
