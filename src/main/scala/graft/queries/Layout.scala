package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** q149 — the Z-order WRITER path under the driver's hash gate
  * (SURVEY §2.8 round-11, closing the verdict's "layout story is
  * audit-only" the rest of the way): orders are LANDED through
  * `sinks.ZOrderLayout.writeZOrdered` (range-partition + write-sort on
  * the Morton key, 64 files), and the query reads the LANDED layout
  * back under a 2-D box predicate on the bucketed dims. The oracle
  * computes the same rows directly from the raw table (bucketing,
  * bit-interleave via the shared integer terms, box filter) — so a
  * hash-green q149 certifies the writer loses/duplicates nothing and
  * the landed Morton key equals a fresh interleave, while the spec +
  * BASELINE.md round-12 ("Morton layout writer: measured file-skip
  * A/B") carry the file-skipping measurements. The layout is
  * written once per (session, corpus path) via SessionCache — the
  * production shape (Z-ORDER is a write-once layout choice, scans are
  * the steady state), and the scan's PushedFilters on zx/zy are the
  * row-group pruning a reader actually gets from the landed order. */
object Layout {

  private def ordersProjected(spark: org.apache.spark.sql.SparkSession,
      dir: String) =
    Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_custkey").as("ck"),
      datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
        .as("day"))

  /** Land the z-ordered layout once per (session, corpus snapshot).
    * The directory is allocated under [[graft.operators.Stage]]'s
    * managed staging root, so the one staging hygiene mechanism
    * (shared shutdown cleanup, `graft.stage.dir` overridable to
    * shared storage) owns these bytes too — production writes to its
    * table location instead. */
  private def zLayoutFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir, s"zorder-orders|$dir") {
      val out = graft.operators.Stage.allocDir(spark, "zorder-q149")
      graft.sinks.ZOrderLayout.writeZOrdered(
        ordersProjected(spark, dir), "ck", "day", out, nFiles = 64)
      out
    }

  val q149: Q = Q(
    "q149_zorder_scan",
    run = { (spark, dir) =>
      spark.read.parquet(zLayoutFor(spark, dir))
        .filter(col("zx") <= 31 && col("zy") <= 31)
        .select(col("o_orderkey"), col("zx"), col("zy"), col("z"))
    },
    oracle = Some {
      // the SAME shared interleave terms as writer and q147 audit;
      // Spark's integer DIV spells // in DuckDB (the q147 recipe)
      val terms = graft.sinks.ZOrderLayout.mortonTerms("zx", "zy")
        .replace(" DIV ", " // ")
      s"""
      WITH b AS (SELECT o_orderkey,
                   o_custkey % 256 AS zx,
                   datediff('day', DATE '1992-01-01',
                     CAST(o_orderdate AS DATE)) % 256 AS zy
                 FROM orders)
      SELECT o_orderkey, zx, zy, $terms AS z
      FROM b WHERE zx <= 31 AND zy <= 31"""
    })

  /** Land orders date-sorted (the natural lake order — o_orderkey
    * scattered within every row group) with a parquet BLOOM FILTER on
    * o_orderkey, once per (session, corpus snapshot). */
  private[graft] def bloomLayoutFor(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.operators.SessionCache.memoOn(spark, dir, s"bloom-orders|$dir") {
      val out = graft.operators.Stage.allocDir(spark, "bloom-q154")
      val n = Tables.orders(spark, dir).count()
      // blooms are PER ROW GROUP: size for a file's worth of keys, not
      // the whole table — a table-sized request would hit parquet's
      // 1 MB bloom cap at larger SFs and silently clamp
      graft.sinks.BloomLayout.writeBloomIndexed(
        ordersProjected(spark, dir).withColumn("day", col("day").cast("long")),
        sortCol = "day", bloomCol = "o_orderkey", outDir = out,
        nFiles = 16, expectedNdv = math.max(1024L, n / 16))
      out
    }

  /** The deterministic 8-key probe set: the order keys with the
    * smallest md5 draws — exactly 8 at any SF, a pure function of key
    * identity (replayed verbatim by the oracle), and a bounded collect
    * (8 rows) on the Spark side. */
  private def probeKeys(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Long] =
    Tables.orders(spark, dir).select(col("o_orderkey"))
      .withColumn("d",
        md5(concat(lit("probe|"), col("o_orderkey").cast("string"))))
      .orderBy(col("d"), col("o_orderkey")).limit(8)
      .collect().toSeq.map(_.getLong(0))

  /** q154 — point lookups by a high-cardinality key over the LANDED
    * bloom-filter layout (the access path min/max stats can't serve on
    * a date-sorted table: every row group straddles the probed key, so
    * stats-only skipping opens all of them — BloomLayoutSpec and
    * BASELINE.md round-12 ("q154 bloom-filter layout") measure the row
    * groups the landed blooms actually skip).
    * The 8-key IN list stays under Spark's parquet
    * `pushdown.inFilterThreshold` (10), so the scan pushes per-key
    * equality predicates and parquet-mr's row-group filter consults
    * the landed blooms in the REAL plan, not just the audit. Oracle
    * replays the probe-set selection and the lookups on the raw table
    * — hash-green certifies the landed layout serves point probes
    * exactly. */
  val q154: Q = Q(
    "q154_bloom_probe",
    run = { (spark, dir) =>
      val keys = probeKeys(spark, dir)
      spark.read.parquet(bloomLayoutFor(spark, dir))
        .filter(col("o_orderkey").isin(keys: _*))
        .select(col("o_orderkey"), col("ck"), col("day"))
    },
    oracle = Some("""
      WITH p AS (SELECT o_orderkey FROM (
          SELECT o_orderkey,
            md5('probe|' || CAST(o_orderkey AS VARCHAR)) AS d
          FROM orders ORDER BY d, o_orderkey LIMIT 8))
      SELECT o_orderkey, o_custkey AS ck,
        CAST(datediff('day', DATE '1992-01-01',
          CAST(o_orderdate AS DATE)) AS BIGINT) AS day
      FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM p)"""))

  val all: Seq[Q] = Seq(q149, q154)
}
