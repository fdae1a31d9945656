package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Event-sequence analytics over `events` (SURVEY.md §2.B): ordered
  * funnels and retention cohorts — the two workhorse product-analytics
  * shapes a general engine must express.
  *
  * Scale posture: every aggregate and join here is keyed on `user_id`
  * (or the tiny cohort date), so after the first shuffle the stage
  * chain is co-partitioned; nothing materializes per-event state wider
  * than a timestamp per user per stage.
  */
object Funnels {

  /** Core of q61: strictly-ordered view → click → purchase funnel.
    * Stage k's timestamp is the user's first qualifying event AFTER
    * their stage-(k−1) timestamp — the sequence-sensitive definition
    * (a click before the first view does not count), which is what
    * separates a funnel from three independent mins. */
  def funnel(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_purchase"),
        (lit(1) +
          when(col("t_click").isNotNull, 1).otherwise(0) +
          when(col("t_purchase").isNotNull, 1).otherwise(0)).as("stage"))
  }

  /** q61 — per-user funnel stages with the reached-stage index. */
  val q61: Q = Q(
    "q61_funnel",
    run = { (spark, dir) => funnel(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                 FROM events),
      v AS (SELECT user_id, min(ts) AS t_view FROM e
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts) AS t_click FROM e
            JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e
            JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id)
      SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        CAST(1 + (CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END)
               + (CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
             AS INTEGER) AS stage
      FROM v LEFT JOIN c ON c.user_id = v.user_id
             LEFT JOIN p ON p.user_id = v.user_id"""))

  /** Core of q62: retention cohorts — users grouped by first-seen date,
    * activity counted per (cohort, day offset) on distinct active
    * days. */
  def retention(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("ts"))
    val first = e.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_date"))
    val active = e.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    active.join(first, "user_id")
      .groupBy(col("cohort_date"),
        datediff(col("d"), col("cohort_date")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      // ISO string, not DateType: pandas renders an arrow date32 column
      // as python dates but a DuckDB DATE as datetime64, so a raw date
      // column can never hash-match across the two loaders
      .select(date_format(col("cohort_date"), "yyyy-MM-dd").as("cohort_date"),
        col("day_offset"), col("n_active"))
  }

  /** q62 — cohort retention matrix. */
  val q62: Q = Q(
    "q62_retention_cohorts",
    run = { (spark, dir) => retention(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_date FROM e
            GROUP BY user_id),
      a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM e)
      SELECT strftime(f.cohort_date, '%Y-%m-%d') AS cohort_date,
        CAST(date_diff('day', f.cohort_date, a.d) AS INTEGER) AS day_offset,
        CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM a JOIN f ON f.user_id = a.user_id
      GROUP BY f.cohort_date, day_offset"""))

  /** Core of q63: hourly event counts per type with ZERO-FILLED gaps —
    * the resample/gap-fill step before any time-series model sees the
    * data. The hour grid is generated from the corpus bounds (one tiny
    * aggregate), cross-joined with the distinct type dim via BROADCAST
    * (both are config-sized — never a CartesianProduct), and the
    * observed counts left-join in. */
  def gapFill(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), col("ts"))
    val hourly = e.groupBy(date_trunc("hour", col("ts")).as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = e.agg(date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val types = e.select(col("event_type")).distinct()
    grid.join(broadcast(types))
      .join(hourly, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** q63 — gap-filled hourly counts (dense time grid × type dim). */
  val q63: Q = Q(
    "q63_gapfill_hourly",
    run = { (spark, dir) => gapFill(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      h AS (SELECT date_trunc('hour', ts) AS h, event_type,
              CAST(count(*) AS BIGINT) AS n
            FROM e GROUP BY 1, 2),
      b AS (SELECT date_trunc('hour', min(ts)) AS h0,
              date_trunc('hour', max(ts)) AS h1 FROM e),
      grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
               FROM b),
      types AS (SELECT DISTINCT event_type FROM e)
      SELECT g.h, t.event_type, COALESCE(hh.n, 0) AS n
      FROM grid g CROSS JOIN types t
      LEFT JOIN h hh ON hh.h = g.h AND hh.event_type = t.event_type"""))

  /** Core of q64: daily-volume anomaly detection per event type — the
    * z-score of each day's event count against that type's 30-day
    * mean/std. Hash-parity discipline for a NON-LINEAR aggregate: the
    * moments are integer sums (exact in any engine, any partial-agg
    * order), variance is assembled as (n·Σx² − (Σx)²) / (n(n−1)) with
    * ONE double division at the end, and the per-row z arithmetic is
    * bit-identical across engines. One window over the (tiny) per-day
    * aggregate — no second shuffle of the raw events. */
  def dailyAnomaly(events: DataFrame, zCut: Double = 2.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    daily
      .withColumn("days", count(lit(1)).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("sq", sum(col("n") * col("n")).over(w))
      .withColumn("mean", col("s").cast("double") / col("days"))
      .withColumn("std", sqrt(
        (col("days") * col("sq") - col("s") * col("s")).cast("double") /
          (col("days") * (col("days") - 1))))
      .select(col("event_type"),
        date_format(col("d"), "yyyy-MM-dd").as("d"), col("n"),
        ((col("n") - col("mean")) / col("std")).as("z"),
        (abs((col("n") - col("mean")) / col("std")) > zCut)
          .as("is_anomaly"))
  }

  /** q64 — per-type daily z-scores with anomaly flags. */
  val q64: Q = Q(
    "q64_daily_anomaly",
    run = { (spark, dir) => dailyAnomaly(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      m AS (SELECT event_type, d, n,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS days,
              CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS s,
              CAST(sum(n * n) OVER (PARTITION BY event_type) AS BIGINT) AS sq
            FROM daily),
      z AS (SELECT event_type, strftime(d, '%Y-%m-%d') AS d, n,
              (n - CAST(s AS DOUBLE) / days) /
                sqrt(CAST(days * sq - s * s AS DOUBLE) / (days * (days - 1)))
                AS z
            FROM m)
      SELECT event_type, d, n, z, abs(z) > 2.0 AS is_anomaly FROM z"""))

  /** q75 — rolling 7-day distinct users per event type. Distinct counts
    * do NOT decompose over sliding windows (yesterday's actives overlap
    * today's), so the scale-correct plan is: dedup to (type, day, user)
    * first — the only corpus-sized shuffle — then range-join that
    * pre-aggregate to the CALENDAR-BOUNDED day grid (30 rows here, 365/yr
    * at any corpus size; broadcast nested-loop is deliberate and cheap)
    * and count distinct per (type, grid day). The factor-7 row expansion
    * applies to the deduped frame, never the raw events. Day strings
    * render ISO on both sides (raw DATE never hash-matches the oracle). */
  def rollingDistinctUsers(e: DataFrame): DataFrame = {
    val du = e.select(col("event_type"), to_date(col("ts")).as("day"),
      col("user_id")).distinct()
    val grid = e.select(to_date(col("ts")).as("g")).distinct()
    du.join(broadcast(grid),
        col("day") <= col("g") && col("day") >= date_sub(col("g"), 6))
      .groupBy(col("event_type"), col("g"))
      .agg(countDistinct(col("user_id")).as("users_7d"))
      .select(col("event_type"),
        date_format(col("g"), "yyyy-MM-dd").as("day"), col("users_7d"))
  }

  val q75: Q = Q(
    "q75_rolling_distinct_users",
    run = { (spark, dir) => rollingDistinctUsers(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   user_id FROM events),
      du AS (SELECT DISTINCT event_type, day, user_id FROM e),
      grid AS (SELECT DISTINCT day AS g FROM e)
      SELECT du.event_type, strftime(grid.g, '%Y-%m-%d') AS day,
        CAST(count(DISTINCT du.user_id) AS BIGINT) AS users_7d
      FROM du JOIN grid
        ON du.day <= grid.g AND du.day >= grid.g - INTERVAL 6 DAY
      GROUP BY du.event_type, grid.g"""))

  /** KMV sketch size for q77 and its streaming twin: the sketch is
    * EXACT below this many distinct users per (type, 7-day window) and
    * a (K−1)/θ estimate above (std error 1/√(K−2) ≈ 2.2%). */
  val KmvK: Int = 2048

  /** The q77 estimate from a merged KMV set: exact cardinality while
    * the set is not full, (K−1)/θ once it is — θ = the K-th smallest
    * 48-bit hash normalized by 2^48 (Bar-Yossef et al. 2002). ONE fixed
    * double expression ((K−1)·2^48 is exactly representable: 11-bit
    * mantissa), identical text in Spark, DuckDB, and the streaming
    * twin's JVM arithmetic, so all three produce the same double. */
  private[graft] def kmvEstExpr(cCol: String, kthCol: String) =
    expr(s"CASE WHEN $cCol < $KmvK THEN CAST($cCol AS DOUBLE) " +
      s"ELSE ${(KmvK - 1).toDouble}D * pow(2.0D, 48) " +
      s"/ CAST($kthCol AS DOUBLE) END")

  /** Core of q77: the SKETCH formulation of q75, drained (round 16)
    * from the engine-private DataSketches HLL to a DETERMINISTIC
    * KMV/theta sketch (k minimum values — Bar-Yossef et al. 2002; the
    * same structure DataSketches' theta sketch dense-mode keeps) on the
    * repo's md5 hash family, so the driver gate is a TRUE hash gate:
    * per (type, day) the sketch is the K smallest distinct 48-bit user
    * hashes, the 7-day window is a UNION OF SKETCHES (the K smallest of
    * a union are each among their own day's K smallest — min-K is a
    * commutative mergeable monoid, exactly the property q77 exists to
    * demonstrate), and the estimate is exact below K / (K−1)/θ above —
    * every step pure integer/string work DuckDB replays digit-by-digit.
    *
    * Why KMV and not the q39 register HLL here: the suite pins every
    * (type, day) row within 2% of exact q75, and fixture windows hold
    * 3–1,452 users — one register collision among 15 users is a >2%
    * LC error at any practical m, while KMV (like DataSketches' own
    * sparse mode) is EXACT until K distinct hashes land. The estimate
    * arm is suite-exercised on a constructed >K corpus instead.
    *
    * Scale shape: corpus-sized work happens exactly once, in the
    * daily dense_rank (ONE exchange+sort — equal hashes share a rank,
    * so dedup happens inside the min-K sort instead of as its own
    * shuffle); the min-K cut bounds per-day state to K longs, so the
    * window pass merges #types × #days × 7 sketches of ≤K values
    * each, never the users. Measured (BASELINE.md round-16, "KMV
    * scale evidence"; fresh users per copy): 100× data costs the
    * exact q75 plan 62.8× wall vs 32.4× here — the sketch crosses over
    * at ~10× and wins 1.6× absolute at 100×. (The rank cut is sort-based and spillable; a
    * typed min-K Aggregator would add map-side partials — the upgrade
    * path if the daily sort ever dominates.) */
  def rollingDistinctUsersSketch(e: DataFrame, k: Int = KmvK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = e.select(col("event_type"), to_date(col("ts")).as("day"),
      conv(substring(md5(concat(lit("kmv|"),
        col("user_id").cast("string"))), 1, 12), 16, 10)
        .cast("long").as("h"))
    // dense_rank dedups LOGICALLY inside the min-K sort (equal hashes
    // share a rank), so the corpus pays ONE exchange+sort instead of a
    // distinct-agg exchange followed by a window exchange (round-16
    // A/B); the explicit distinct then runs on ≤ K·days survivor rows
    val daily = hashed.withColumn("dr", dense_rank().over(
        Window.partitionBy(col("event_type"), col("day"))
          .orderBy(col("h"))))
      .filter(col("dr") <= k)
      .select(col("event_type"), col("day"), col("h")).distinct()
    val grid = e.select(to_date(col("ts")).as("g")).distinct()
    // same trick at the window level: the 7-day union's duplicates
    // (one user active on several days of the window) collapse into
    // shared dense ranks — no pre-distinct exchange
    val win = daily.join(broadcast(grid),
        col("day") <= col("g") && col("day") >= date_sub(col("g"), 6))
      .select(col("event_type"), col("g"), col("h"))
    win.withColumn("dr", dense_rank().over(
        Window.partitionBy(col("event_type"), col("g")).orderBy(col("h"))))
      .filter(col("dr") <= k)
      .groupBy(col("event_type"), col("g"))
      .agg(max(col("dr")).as("c"),
        max(when(col("dr") === k, col("h"))).as("kth"))
      .withColumn("users_7d_est", kmvEstExpr("c", "kth"))
      .select(col("event_type"),
        date_format(col("g"), "yyyy-MM-dd").as("day"), col("users_7d_est"))
  }

  /** q77 — rolling 7-day distinct users via mergeable KMV sketches,
    * under the EXACT hash gate (hashes, min-K sets, and estimates all
    * replayed by the oracle); the suite additionally pins every row
    * within 2% of exact q75 and exercises the >K estimate arm on a
    * constructed corpus. */
  val q77: Q = Q(
    "q77_rolling_users_sketch",
    run = { (spark, dir) =>
      rollingDistinctUsersSketch(Tables.events(spark, dir))
    },
    oracle = Some("""
      WITH e AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   user_id FROM events),
      hs AS (SELECT DISTINCT event_type, day,
               CAST(list_sum(list_transform(generate_series(1, 12),
                 p -> (strpos('0123456789abcdef',
                        substr(md5('kmv|' || CAST(user_id AS VARCHAR)),
                          CAST(p AS INTEGER), 1)) - 1)
                      * (CAST(1 AS BIGINT)
                         << CAST(4 * (12 - p) AS INTEGER))))
                 AS BIGINT) AS h
             FROM e),
      daily AS (SELECT event_type, day, h FROM (
                  SELECT event_type, day, h, row_number() OVER
                    (PARTITION BY event_type, day ORDER BY h) AS rn
                  FROM hs)
                WHERE rn <= 2048),
      grid AS (SELECT DISTINCT day AS g FROM e),
      win AS (SELECT DISTINCT d.event_type, grid.g, d.h
              FROM daily d JOIN grid
                ON d.day <= grid.g AND d.day >= grid.g - INTERVAL 6 DAY),
      ranked AS (SELECT event_type, g, h, row_number() OVER
                   (PARTITION BY event_type, g ORDER BY h) AS rn
                 FROM win),
      agg AS (SELECT event_type, g, CAST(count(*) AS BIGINT) AS c,
                max(CASE WHEN rn = 2048 THEN h END) AS kth
              FROM ranked WHERE rn <= 2048 GROUP BY 1, 2)
      SELECT event_type, strftime(g, '%Y-%m-%d') AS day,
        CASE WHEN c < 2048 THEN CAST(c AS DOUBLE)
             ELSE 2047.0 * pow(2.0, 48) / CAST(kth AS DOUBLE) END
          AS users_7d_est
      FROM agg"""))

  /** Core of q100 over any (event_id, user_id, ts, event_type) frame:
    * last-touch attribution — for every purchase, the user's most
    * recent PRECEDING non-purchase event (the touch that gets
    * conversion credit) and the touch→purchase gap in whole seconds.
    * One `last(..., ignoreNulls)` window over the rows-preceding frame;
    * same user_id shuffle and (ts, event_id) tie-break as the
    * funnel/sessionize family. First-session purchases with no prior
    * touch surface as NULL attribution (kept — the "direct" bucket an
    * attribution report needs). */
  def lastTouch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col("event_type").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("attr_type",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .withColumn("attr_us",
        last(when(col("event_type") =!= "purchase", unix_micros(col("ts"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("attr_type"),
        expr("(unix_micros(ts) - attr_us) div 1000000").as("gap_s"))
  }

  /** q100 — last-touch conversion attribution. */
  val q100: Q = Q(
    "q100_last_touch",
    run = { (spark, dir) => lastTouch(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type
                 FROM events WHERE event_type IS NOT NULL),
      m AS (SELECT *,
              last_value(CASE WHEN event_type <> 'purchase'
                  THEN event_type END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS attr_type,
              last_value(CASE WHEN event_type <> 'purchase'
                  THEN epoch_us(ts) END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS attr_us
            FROM e)
      SELECT event_id, user_id, ts, attr_type,
        (epoch_us(ts) - attr_us) // 1000000 AS gap_s
      FROM m WHERE event_type = 'purchase'"""))

  /** Core of q107 over any (event_type, ts, value) frame: rolling 7-day
    * value percentiles from a MERGEABLE fixed-bin histogram — the
    * percentile twin of q77's HLL rollup, but fully deterministic, so
    * it hash-matches a DuckDB oracle (where q77 is rows-only).
    *
    * Percentiles don't decompose over sliding windows; histograms do.
    * The corpus-sized pass happens exactly once — each (type, day)
    * collapses to ≤64 integer bin counts (`bin = clamp(floor(value/8),
    * 0, 63)` over the declared [0, 512) domain, top bin open) — and the
    * 7-day window then MERGES daily bins by addition, touching
    * #types × #days × 64 rows, never the raw events. The estimate is
    * the upper bound of the first bin whose cumulative count reaches
    * `ceil(q·n)` (integer threshold arithmetic): a conservative
    * bin-resolution bound on the true quantile, identical in any
    * engine. At 100 TB this is the same story as q77: re-scan a week
    * of raw events per day, or merge seven tiny integer vectors.
    *
    * Scale shape: one hash-agg on (type, day, bin) carries the volume;
    * the grid join is a broadcast range join over calendar-sized rows;
    * the cumulative window and final agg run on bin-resolution rows. */
  def rollingValueQuantiles(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = e.filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        least(lit(63L), greatest(lit(0L),
          floor(col("value") / 8.0))).as("bin"))
      .groupBy(col("event_type"), col("day"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val grid = daily.select(col("day").as("g")).distinct()
    val rolled = daily.join(broadcast(grid),
        col("day") <= col("g") && col("day") >= date_sub(col("g"), 6))
      .groupBy(col("event_type"), col("g"), col("bin"))
      .agg(sum(col("c")).as("c"))
    val w = Window.partitionBy(col("event_type"), col("g"))
      .orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"), col("g"))
    rolled
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("event_type"), col("g"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * 2 >= col("n"), (col("bin") + 1) * 8))
          .as("p50_est"),
        min(when(col("cum") * 10 >= col("n") * 9, (col("bin") + 1) * 8))
          .as("p90_est"),
        min(when(col("cum") * 100 >= col("n") * 99, (col("bin") + 1) * 8))
          .as("p99_est"))
      .select(col("event_type"),
        date_format(col("g"), "yyyy-MM-dd").as("day"), col("n"),
        col("p50_est"), col("p90_est"), col("p99_est"))
  }

  /** q107 — rolling 7-day value percentiles via mergeable integer
    * histogram sketches (hash-checked: the sketch is deterministic). */
  val q107: Q = Q(
    "q107_quantile_rollup",
    run = { (spark, dir) =>
      rollingValueQuantiles(Tables.events(spark, dir))
    },
    oracle = Some("""
      WITH e AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   CAST(least(63, greatest(0, floor(value / 8.0))) AS BIGINT)
                     AS bin
                 FROM events WHERE value IS NOT NULL),
      daily AS (SELECT event_type, day, bin, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY 1, 2, 3),
      grid AS (SELECT DISTINCT day AS g FROM e),
      rolled AS (SELECT d.event_type, grid.g, d.bin,
                   CAST(sum(d.c) AS BIGINT) AS c
                 FROM daily d JOIN grid
                   ON d.day <= grid.g AND d.day >= grid.g - INTERVAL 6 DAY
                 GROUP BY 1, 2, 3),
      cums AS (SELECT event_type, g, bin, c,
                 CAST(sum(c) OVER (PARTITION BY event_type, g
                   ORDER BY bin ASC ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS cum,
                 CAST(sum(c) OVER (PARTITION BY event_type, g)
                   AS BIGINT) AS n
               FROM rolled)
      SELECT event_type, strftime(g, '%Y-%m-%d') AS day,
        CAST(max(n) AS BIGINT) AS n,
        CAST(min(CASE WHEN cum * 2 >= n THEN (bin + 1) * 8 END)
          AS BIGINT) AS p50_est,
        CAST(min(CASE WHEN cum * 10 >= n * 9 THEN (bin + 1) * 8 END)
          AS BIGINT) AS p90_est,
        CAST(min(CASE WHEN cum * 100 >= n * 99 THEN (bin + 1) * 8 END)
          AS BIGINT) AS p99_est
      FROM cums GROUP BY event_type, g"""))

  /** Core of q172: POSITION-BASED multi-touch attribution (the 40/20/40
    * "U-shaped" model) — the marketing-analytics generalization of
    * q100's last-touch: every purchase distributes exactly 1000
    * milli-credits over the clicks of its journey (the clicks since the
    * user's previous purchase): first touch 400, last 400, middles
    * split 200 by integer DIV with the remainder assigned to the FIRST
    * touch — so Σcredit per converted journey is EXACTLY 1000
    * (suite-asserted; no float leakage, the gate certifies every credit).
    * Journeys are cut by a running purchase count (COALESCE'd cumulative
    * window — an empty frame sums to NULL in both engines, and NULL ≠
    * NULL would silently drop every user's FIRST journey from the
    * join); clicks after the last purchase belong to an open journey
    * and earn nothing (the equi-join to purchases filters them).
    *
    * Scale shape: two same-keyed user windows (ONE shuffle — the q93
    * posture) + one equi-join on (user, journey) where the purchase
    * side is conversion-sized; no range predicates, no per-journey
    * collect. */
  def multiTouch(events: DataFrame): DataFrame = {
    val e = events.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val j = e.withColumn("journey",
      coalesce(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).over(wOrd), lit(0L)))
    val wj = Window.partitionBy(col("user_id"), col("journey"))
      .orderBy(col("ts"), col("event_id"))
    val ranked = j.filter(col("event_type") === "click")
      .withColumn("r", row_number().over(wj))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("journey"))))
    val purchases = j.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("journey"),
        col("event_id").as("purchase_id"))
    ranked.join(purchases, Seq("user_id", "journey"))
      .withColumn("credit_milli", expr("""
        CASE WHEN m = 1 THEN 1000
             WHEN m = 2 THEN 500
             WHEN r = 1 THEN 400 + (200 - (m - 2) * (200 DIV (m - 2)))
             WHEN r = m THEN 400
             ELSE 200 DIV (m - 2) END""").cast("long"))
      .select(col("purchase_id"), col("event_id").as("touch_id"),
        col("user_id"), col("r").cast("int").as("touch_pos"),
        col("m").cast("int").as("n_touches"), col("credit_milli"))
  }

  /** q172 — U-shaped (40/20/40) multi-touch attribution: per
    * conversion, integer milli-credits over its journey's clicks. */
  val q172: Q = Q(
    "q172_multitouch",
    run = { (spark, dir) => multiTouch(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                   event_id
                 FROM events WHERE event_type IN ('click', 'purchase')),
      j AS (SELECT *,
              COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                ELSE 0 END) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS journey
            FROM e),
      c AS (SELECT user_id, journey, ts, event_id,
              row_number() OVER (PARTITION BY user_id, journey
                ORDER BY ts, event_id) AS r,
              count(*) OVER (PARTITION BY user_id, journey) AS m
            FROM j WHERE event_type = 'click'),
      p AS (SELECT user_id, journey, event_id AS purchase_id FROM j
            WHERE event_type = 'purchase')
      SELECT p.purchase_id, c.event_id AS touch_id, c.user_id,
        CAST(c.r AS INTEGER) AS touch_pos,
        CAST(c.m AS INTEGER) AS n_touches,
        CAST(CASE WHEN c.m = 1 THEN 1000
             WHEN c.m = 2 THEN 500
             WHEN c.r = 1 THEN 400 + (200 - (c.m - 2) * (200 // (c.m - 2)))
             WHEN c.r = c.m THEN 400
             ELSE 200 // (c.m - 2) END AS BIGINT) AS credit_milli
      FROM c JOIN p ON c.user_id = p.user_id AND c.journey = p.journey"""))

  /** Core of q177: the first-order MARKOV TRANSITION MATRIX of user
    * event streams — P(next event type | current type), the behavioral
    * model behind next-action prediction, anomaly scoring ("this
    * session's transitions are improbable"), and funnel discovery
    * (q62 checks ONE prescribed path; the matrix surfaces every path's
    * strength). Per user, events order by (ts, event_id) — event_id
    * breaks the within-user timestamp ties the fixture deliberately
    * plants — and consecutive pairs count into a k×k matrix;
    * probabilities are integer ppm of the row total (n·1e6 DIV row
    * sum), so the gate certifies the whole matrix exactly. NULL event
    * types coalesce to the '(null)' sentinel BEFORE the lead, so
    * "stream ended" (lead = NULL) stays distinguishable from
    * "transitioned into an untyped event".
    *
    * Scale shape: ONE user-partitioned window (one shuffle on
    * user_id, the q171/q172 key) + a map-side-combined k²-row agg;
    * the row-total window runs over the k²-row AGGREGATE, not the
    * events. At 100 TB: event-bounded shuffle once, then kilobytes. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val typed = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        coalesce(col("event_type"), lit("(null)")).as("cur_type"))
    val bi = typed
      .withColumn("next_type", lead(col("cur_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val rowW = Window.partitionBy("cur_type")
    bi.withColumn("row_n", sum(col("n")).over(rowW))
      .select(col("cur_type"), col("next_type"), col("n"),
        expr("(n * 1000000) DIV row_n").as("p_ppm"))
  }

  /** q177 — event-type Markov transition matrix with exact ppm
    * probabilities. */
  val q177: Q = Q(
    "q177_markov_transitions",
    run = { (spark, dir) => eventTransitions(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH t AS (SELECT user_id, ts, event_id,
                   COALESCE(event_type, '(null)') AS cur_type
                 FROM events WHERE ts IS NOT NULL),
      s AS (SELECT cur_type,
              lead(cur_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS next_type
            FROM t),
      b AS (SELECT cur_type, next_type, CAST(count(*) AS BIGINT) AS n
            FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT cur_type, CAST(sum(n) AS BIGINT) AS row_n
            FROM b GROUP BY 1)
      SELECT b.cur_type, b.next_type, b.n,
        (b.n * 1000000) // r.row_n AS p_ppm
      FROM b JOIN r USING (cur_type)"""))

  /** Core of q180: TIME-TO-CONVERT distribution per funnel transition —
    * how long users take between q61's ordered stages, as exact
    * quartile/tail percentiles. Counting conversions (q61) without
    * their latency hides the difference between a healthy funnel and
    * one where purchases trail first views by a week; this is the
    * latency half of the funnel readout.
    *
    * Parity discipline: gaps are EXACT integer microseconds
    * (`unix_micros`, DuckDB `epoch_us`) — no timestamp subtraction
    * semantics to align — and the percentile aggregate is the q45
    * recipe (sort-based exact interpolation, identical in both
    * engines); the only floating step is the final /1e6 to seconds,
    * one IEEE division on bit-identical doubles.
    *
    * Scale shape: rides the q61 funnel frame (user-keyed shuffles
    * only), then ONE hash-agg over 3 rows per converted user — the
    * stack fan-out applies to the per-USER frame, never raw events.
    * Percentile state is per-group sorted values: at 100 TB the group
    * count is fixed (3 transitions), so if per-group cardinality
    * (≈ converting users) outgrew executor memory the q160 fixed-grid
    * histogram formulation is the drop-in; at any realistic user
    * count the exact sort is cheap and the answer is exact. */
  def timeToConvert(events: DataFrame): DataFrame =
    funnel(events)
      .select(expr("""stack(3,
        '1_view_to_click',     unix_micros(t_click)    - unix_micros(t_view),
        '2_click_to_purchase', unix_micros(t_purchase) - unix_micros(t_click),
        '3_view_to_purchase',  unix_micros(t_purchase) - unix_micros(t_view)
        ) AS (step, gap_us)"""))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_users"),
        percentile(col("gap_us"),
          array(lit(0.25), lit(0.5), lit(0.9))).as("ps"),
        max(col("gap_us")).as("mx"))
      .select(col("step"), col("n_users"),
        (col("ps").getItem(0) / 1000000.0d).as("p25_s"),
        (col("ps").getItem(1) / 1000000.0d).as("p50_s"),
        (col("ps").getItem(2) / 1000000.0d).as("p90_s"),
        (col("mx").cast("double") / 1000000.0d).as("max_s"))

  /** q180 — funnel time-to-convert percentiles per stage transition. */
  val q180: Q = Q(
    "q180_funnel_ttc",
    run = { (spark, dir) => timeToConvert(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                 FROM events),
      v AS (SELECT user_id, min(ts) AS t_view FROM e
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts) AS t_click FROM e
            JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e
            JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id),
      f AS (SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
            FROM v LEFT JOIN c ON c.user_id = v.user_id
                   LEFT JOIN p ON p.user_id = v.user_id),
      g AS (
        SELECT '1_view_to_click' AS step,
          epoch_us(t_click) - epoch_us(t_view) AS gap_us
        FROM f WHERE t_click IS NOT NULL
        UNION ALL
        SELECT '2_click_to_purchase',
          epoch_us(t_purchase) - epoch_us(t_click)
        FROM f WHERE t_purchase IS NOT NULL
        UNION ALL
        SELECT '3_view_to_purchase',
          epoch_us(t_purchase) - epoch_us(t_view)
        FROM f WHERE t_purchase IS NOT NULL)
      SELECT step, CAST(count(*) AS BIGINT) AS n_users,
        quantile_cont(gap_us, 0.25) / 1000000.0 AS p25_s,
        quantile_cont(gap_us, 0.5)  / 1000000.0 AS p50_s,
        quantile_cont(gap_us, 0.9)  / 1000000.0 AS p90_s,
        CAST(max(gap_us) AS DOUBLE) / 1000000.0 AS max_s
      FROM g GROUP BY step"""))

  /** Core of q181: CUSUM CHANGEPOINT detection on the daily volume
    * series of each event type — the day where the cumulative
    * deviation from the series mean peaks, i.e. the single most likely
    * mean-shift point (Page 1954's cumulative-sum statistic, argmax
    * form). q64 flags individual outlier DAYS against a global
    * mean/std; CUSUM answers the different production question "did
    * the level CHANGE, and when" — a 20% step that never produces a
    * 2σ day is invisible to q64 and lights up here.
    *
    * All-integer statistic: the textbook S_d = Σ_{i≤d}(n_i − mean) has
    * a fractional mean, so both engines instead compute
    * D·S_d = D·prefix_d − d·total (D = #days, total = Σn) — the same
    * argmax, scaled by a positive constant, in exact BIGINT. Headroom:
    * D·prefix ≤ 366 · series total, so overflow needs a single type's
    * annual volume above ~2.5e16 events — document-bounded far past
    * 100 TB. Tie on |S| → earliest day (both orderings pinned).
    *
    * Scale shape: one corpus-sized hash-agg to (type, day) — map-side
    * combined, the ONLY pass over raw events — then windows over the
    * per-type day series (≤366 rows per type per year) partitioned on
    * event_type: tiny keyed partitions, never a global single-partition
    * window. */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(coalesce(col("event_type"), lit("(null)")).as("event_type"),
        to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val whole = Window.partitionBy("event_type")
    val ordered = Window.partitionBy("event_type").orderBy(col("d"))
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("s_scaled")).desc, col("d").asc)
    daily
      .withColumn("days", count(lit(1)).over(whole))
      .withColumn("total", sum(col("n")).over(whole))
      .withColumn("idx", row_number().over(ordered))
      .withColumn("prefix", sum(col("n")).over(ordered))
      .withColumn("s_scaled",
        col("days") * col("prefix") - col("idx") * col("total"))
      .withColumn("rnk", row_number().over(pick))
      .filter(col("rnk") === 1)
      .select(col("event_type"),
        date_format(col("d"), "yyyy-MM-dd").as("cp_date"),
        col("s_scaled"), col("days"), col("total"))
  }

  /** q181 — per-type CUSUM changepoint (day of peak cumulative
    * deviation, exact integer statistic). */
  val q181: Q = Q(
    "q181_cusum_changepoint",
    run = { (spark, dir) => cusumChangepoint(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH daily AS (
        SELECT COALESCE(event_type, '(null)') AS event_type,
          CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      s AS (SELECT event_type, d, n,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                AS days,
              CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                AS total,
              CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS idx,
              CAST(sum(n) OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS prefix
            FROM daily),
      sc AS (SELECT event_type, d, days, total,
               days * prefix - idx * total AS s_scaled,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(days * prefix - idx * total) DESC, d ASC)
                 AS rnk
             FROM s)
      SELECT event_type, strftime(d, '%Y-%m-%d') AS cp_date,
        s_scaled, days, total
      FROM sc WHERE rnk = 1"""))

  /** Core of q185: MEDIAN/MAD robust outlier detection on the daily
    * series — the 50%-breakdown counterpart of q64's z-scores. The
    * mean/std q64 standardizes with are themselves dragged by the very
    * outliers being hunted (one 100× day inflates σ enough to hide a
    * 5× day); median and MAD (median absolute deviation) ignore up to
    * half the data being corrupted, which is why robust monitoring
    * pipelines score against them. Flag: |n − med| > 5·MAD (a plain
    * multiplier instead of the 1.4826 normal-consistency constant — no
    * irrational literals to drift).
    *
    * Parity: daily counts are exact integers; both medians are the
    * q45 exact-interpolation percentile over values on a k/2 grid, so
    * every derived double (dev, 5·MAD, robust z's operands) is
    * binary-exact and the comparison is deterministic in both engines;
    * the one inexact op is the final z division, IEEE-identical on
    * bit-identical inputs.
    *
    * Scale shape: one map-side-combined corpus agg to (type, day),
    * then two percentile aggregates over ≤366-row per-type series and
    * two broadcast-sized joins back — the q181 tiny-keyed-series
    * pattern; nothing wider than the day grid ever shuffles again. */
  def madOutliers(events: DataFrame, k: Double = 5.0): DataFrame = {
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(coalesce(col("event_type"), lit("(null)")).as("event_type"),
        to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val med = daily.groupBy(col("event_type"))
      .agg(percentile(col("n"), lit(0.5)).as("med"))
    val dev = daily.join(med, "event_type")
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dev.join(mad, "event_type")
      .select(col("event_type"),
        date_format(col("d"), "yyyy-MM-dd").as("d"),
        col("n"), col("med"), col("mad"),
        expr("(n - med) / nullif(mad, 0.0)").as("robust_z"),
        (col("dev") > lit(k) * col("mad")).as("is_outlier"))
  }

  /** q185 — per-type daily robust (median/MAD) outlier flags. */
  val q185: Q = Q(
    "q185_mad_outliers",
    run = { (spark, dir) => madOutliers(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH daily AS (
        SELECT COALESCE(event_type, '(null)') AS event_type,
          CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
              FROM daily GROUP BY 1),
      dev AS (SELECT daily.event_type, d, n, med,
                abs(n - med) AS dev
              FROM daily JOIN med USING (event_type)),
      mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
              FROM dev GROUP BY 1)
      SELECT dev.event_type, strftime(d, '%Y-%m-%d') AS d, n, med, mad,
        (n - med) / nullif(mad, 0.0) AS robust_z,
        dev > 5.0 * mad AS is_outlier
      FROM dev JOIN mad USING (event_type)"""))

  /** Core of q187: EXPONENTIALLY-WEIGHTED MOVING AVERAGE smoothing of
    * the daily series — the trend-following smoother monitoring stacks
    * put in front of alerting (q64/q185 flag days; the EWMA is the
    * level estimate drift/alerts are judged against). α = 1/2 with a
    * 14-day truncated window: the infinite-history recurrence
    * S_t = αx_t + (1−α)S_{t−1} is not a window function, but with
    * dyadic α the truncated expansion is EXACT INTEGER arithmetic —
    * S_t·2^14 = Σ_{j=0..13} n_{t−j}·2^{13−j} (missing history
    * zero-padded; the dropped tail weighs 2^-14 < one count) — and the
    * one division by 16384.0 at the end is a power-of-two scale both
    * engines perform bit-exactly on an exact integer. No irrational
    * weights, no FP accumulation order, no recurrence.
    *
    * Scale shape: the q181 pattern — one map-side-combined corpus agg
    * to (type, day), then 14 lags over ≤366-row per-type series. */
  def ewmaDaily(events: DataFrame, window: Int = 14): DataFrame = {
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(coalesce(col("event_type"), lit("(null)")).as("event_type"),
        to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy(col("d"))
    val scaled = (0 until window).map { j =>
      coalesce(lag(col("n"), j).over(w), lit(0L)) *
        lit(1L << (window - 1 - j))
    }.reduce(_ + _)
    daily.select(col("event_type"),
      date_format(col("d"), "yyyy-MM-dd").as("d"), col("n"),
      (scaled.cast("double") / lit((1L << window).toDouble)).as("ewma"))
  }

  /** q187 — per-type daily EWMA level (α=1/2, exact dyadic weights). */
  val q187: Q = Q(
    "q187_ewma_daily",
    run = { (spark, dir) => ewmaDaily(Tables.events(spark, dir)) },
    oracle = Some {
      val terms = (0 until 14).map { j =>
        s"COALESCE(lag(n, $j) OVER (PARTITION BY event_type ORDER BY d)," +
          s" 0) * ${1L << (13 - j)}"
      }.mkString(" + ")
      s"""
      WITH daily AS (
        SELECT COALESCE(event_type, '(null)') AS event_type,
          CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
      SELECT event_type, strftime(d, '%Y-%m-%d') AS d, n,
        CAST($terms AS DOUBLE) / 16384.0 AS ewma
      FROM daily"""
    })

  /** Core of q188: DAY-OF-WEEK SEASONAL INDEX per event type — the
    * multiplicative seasonality profile (classical decomposition's
    * seasonal component on the weekly period): mean daily volume on
    * each weekday over the type's overall mean daily volume, in exact
    * integer ppm. This is what separates "Saturday is always 40%
    * quieter" from an incident, and what q64/q185/q181 implicitly
    * assume away — the deseasonalizing companion.
    *
    * Integer exactness at scale: idx = (sum_dow·days_all·1e6) DIV
    * (days_dow·sum_all) widened through DECIMAL(38,0)/HUGEINT (the
    * q169 normalize recipe) — BIGINT would overflow once a type passes
    * ~2.5e7 events/yr. Weekday numbering pinned to 0=Sunday on both
    * engines (Spark dayofweek()−1 ≡ DuckDB strftime '%w'). */
  def dowSeasonality(events: DataFrame): DataFrame = {
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(coalesce(col("event_type"), lit("(null)")).as("event_type"),
        to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val whole = Window.partitionBy("event_type")
    daily
      .withColumn("dow", (dayofweek(col("d")) - 1).cast("int"))
      .withColumn("days_all", count(lit(1)).over(whole))
      .withColumn("sum_all", sum(col("n")).over(whole))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("days_dow"), sum(col("n")).as("sum_dow"),
        first(col("days_all")).as("days_all"),
        first(col("sum_all")).as("sum_all"))
      .select(col("event_type"), col("dow"), col("days_dow"),
        col("sum_dow"),
        expr("""CAST((CAST(sum_dow AS DECIMAL(38,0)) * days_all * 1000000)
                 DIV (days_dow * sum_all) AS BIGINT)""").as("idx_ppm"))
  }

  /** q188 — weekday seasonal indices in exact ppm. */
  val q188: Q = Q(
    "q188_dow_seasonality",
    run = { (spark, dir) => dowSeasonality(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH daily AS (
        SELECT COALESCE(event_type, '(null)') AS event_type,
          CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT event_type,
              CAST(count(*) AS BIGINT) AS days_all,
              CAST(sum(n) AS BIGINT) AS sum_all
            FROM daily GROUP BY 1)
      SELECT daily.event_type,
        CAST(strftime(d, '%w') AS INTEGER) AS dow,
        CAST(count(*) AS BIGINT) AS days_dow,
        CAST(sum(n) AS BIGINT) AS sum_dow,
        CAST((CAST(sum(n) AS HUGEINT) * any_value(t.days_all) * 1000000)
          // (count(*) * any_value(t.sum_all)) AS BIGINT) AS idx_ppm
      FROM daily JOIN t USING (event_type)
      GROUP BY 1, 2"""))

  /** Core of q193: TEMPORAL HOLDOUT EVALUATION of the q177 Markov
    * next-event model — the missing half of shipping any behavioral
    * model: q177 fits P(next|cur); this measures whether argmax-next
    * actually predicts the future, with the only split that doesn't
    * leak (train on transitions COMPLETING before the boundary, test
    * on those completing after — a random split would let the model
    * see the user's own future). Per current state: the trained
    * argmax prediction (count ties → lexicographically smallest next,
    * both orderings pinned), test-transition count, hits, and exact
    * integer hit-rate ppm. States unseen in training predict NULL and
    * score zero hits — visible, not dropped.
    *
    * Scale shape: q177's — ONE user-partitioned window over events
    * (the only corpus shuffle; both split arms derive from the same
    * windowed frame), a k²-row train agg, and a broadcast-sized
    * (state → prediction) join into the test stream. */
  def markovEval(events: DataFrame,
      boundary: String = "2024-01-25"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        coalesce(col("event_type"), lit("(null)")).as("cur_type"))
      .withColumn("next_type", lead(col("cur_type"), 1).over(w))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val byCount = Window.partitionBy("cur_type")
      .orderBy(col("n").desc, col("next_type").asc)
    val pred = pairs.filter(to_date(col("next_ts")) < lit(boundary))
      .groupBy(col("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(byCount))
      .filter(col("rnk") === 1)
      .select(col("cur_type"), col("next_type").as("pred_next"))
    pairs.filter(to_date(col("next_ts")) >= lit(boundary))
      .join(pred, Seq("cur_type"), "left")
      .groupBy(col("cur_type"))
      .agg(first(col("pred_next")).as("pred_next"),
        count(lit(1)).as("n_test"),
        count(when(col("next_type") === col("pred_next"), 1)).as("hits"))
      .withColumn("hit_ppm", expr("(hits * 1000000) DIV n_test"))
  }

  /** q193 — leak-free holdout hit-rate of the Markov next-event
    * predictor. */
  val q193: Q = Q(
    "q193_markov_eval",
    run = { (spark, dir) => markovEval(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH t AS (SELECT user_id, ts, event_id,
                   COALESCE(event_type, '(null)') AS cur_type
                 FROM events WHERE ts IS NOT NULL),
      s AS (SELECT cur_type,
              lead(cur_type) OVER w AS next_type,
              lead(ts) OVER w AS next_ts
            FROM t WINDOW w AS (PARTITION BY user_id
              ORDER BY ts, event_id)),
      pairs AS (SELECT * FROM s WHERE next_type IS NOT NULL),
      train AS (SELECT cur_type, next_type,
                  CAST(count(*) AS BIGINT) AS n
                FROM pairs
                WHERE CAST(next_ts AS DATE) < DATE '2024-01-25'
                GROUP BY 1, 2),
      pred AS (SELECT cur_type, next_type AS pred_next FROM (
                 SELECT cur_type, next_type,
                   row_number() OVER (PARTITION BY cur_type
                     ORDER BY n DESC, next_type ASC) AS rnk
                 FROM train) WHERE rnk = 1),
      test AS (SELECT p.cur_type, p.next_type, pr.pred_next
               FROM pairs p LEFT JOIN pred pr USING (cur_type)
               WHERE CAST(p.next_ts AS DATE) >= DATE '2024-01-25')
      SELECT cur_type, any_value(pred_next) AS pred_next,
        CAST(count(*) AS BIGINT) AS n_test,
        CAST(count(*) FILTER (WHERE next_type = pred_next) AS BIGINT)
          AS hits,
        (count(*) FILTER (WHERE next_type = pred_next) * 1000000)
          // count(*) AS hit_ppm
      FROM test GROUP BY cur_type"""))

  /** Core of q197: the DEADLINE (windowed) funnel — q61's ordered
    * stages with per-transition conversion windows (click within 24 h
    * of first view, purchase within 72 h of that click), the
    * product-analytics semantics every funnel tool actually ships:
    * without deadlines a purchase three weeks after an unrelated view
    * "converts", inflating every step. A user who clicks only outside
    * the window counts as NOT converted at that stage — exactly as if
    * the click never happened — and later stages cannot resurrect them
    * (the windows chain off the QUALIFYING earlier event).
    *
    * Parity/scale: same shape as q61 — stage filters are min()
    * aggregates under an added upper bound (exact microsecond
    * interval arithmetic in both engines), user-keyed shuffles only. */
  def deadlineFunnel(events: DataFrame,
      clickHours: Int = 24, purchaseHours: Int = 72): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t_view") &&
        col("ts") <= col("t_view") + expr(s"INTERVAL $clickHours HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t_click") &&
        col("ts") <= col("t_click") + expr(s"INTERVAL $purchaseHours HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_purchase"),
        (lit(1) +
          when(col("t_click").isNotNull, 1).otherwise(0) +
          when(col("t_purchase").isNotNull, 1).otherwise(0)).as("stage"))
  }

  /** q197 — windowed funnel: stages only count inside their
    * conversion deadlines. */
  val q197: Q = Q(
    "q197_funnel_deadline",
    run = { (spark, dir) => deadlineFunnel(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                 FROM events),
      v AS (SELECT user_id, min(ts) AS t_view FROM e
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts) AS t_click FROM e
            JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
              AND e.ts <= v.t_view + INTERVAL 24 HOUR
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e
            JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
              AND e.ts <= c.t_click + INTERVAL 72 HOUR
            GROUP BY e.user_id)
      SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        CAST(1 + (CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END)
               + (CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END)
             AS INTEGER) AS stage
      FROM v LEFT JOIN c ON c.user_id = v.user_id
             LEFT JOIN p ON p.user_id = v.user_id"""))

  /** Core of q203: TIME-WEIGHTED AVERAGE (TWAP) of `value` per user —
    * the interval-weighted mean that prices each observation by HOW
    * LONG it held (the finance TWAP / metrics time-weighted-gauge
    * fold), where a plain mean over-weights bursts of rapid events.
    * Each consecutive event pair (ordered by ts, event_id for
    * determinism) contributes value·duration_µs; the final ratio
    * divides two EXACT quantities as doubles once — the weighted sum
    * rides the [[graft.functions.Exact]] decimal recipe
    * ((11,4)·µs-bigint products summed as DECIMAL, order-free), so
    * partial-agg reordering can't drift the hash. All-simultaneous
    * users (total duration 0) emit null, not NaN.
    *
    * Scale shape: one window pass per user (shuffle on user_id) + one
    * map-side-combined agg — no self-join, nothing driver-side. */
  def twapPerUser(events: DataFrame): DataFrame = {
    val e = events.filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val seg = e.withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dur", col("next_us") - col("us"))
    seg.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_segments"),
        sum(col("dur")).as("dur_us"),
        sum(graft.functions.Exact.dec(col("value")) * col("dur")).as("wsum"))
      .select(col("user_id"), col("n_segments"), col("dur_us"),
        (col("wsum").cast("double") /
          nullif(col("dur_us"), lit(0L)).cast("double")).as("twap"))
  }

  /** q203 — per-user time-weighted average value over event intervals. */
  val q203: Q = Q(
    "q203_twap",
    run = { (spark, dir) => twapPerUser(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   event_id, value
                 FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      seg AS (SELECT user_id, us, value,
                lead(us) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) AS next_us
              FROM e)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
        CAST(sum(next_us - us) AS BIGINT) AS dur_us,
        CAST(CAST(sum(CAST(value AS DECIMAL(12,4)) * (next_us - us))
               AS VARCHAR) AS DOUBLE)
          / CAST(nullif(sum(next_us - us), 0) AS DOUBLE) AS twap
      FROM seg WHERE next_us IS NOT NULL
      GROUP BY user_id"""))

  /** Core of q204: THEIL–SEN robust trend slope per event type — the
    * median over ALL day-pairs of the pairwise slope (Theil 1950,
    * Sen 1968), the estimator that shrugs off the outlier days
    * q64/q185 flag (OLS, by contrast, is dragged by a single incident
    * spike — this is the robust companion the daily-trend family was
    * missing). Slopes are EXACT integer ppm/day: (Δn·1e6) DIV Δday
    * replays digit-for-digit on both engines (signed integer division
    * truncates toward zero identically — verified), and only the final
    * median averages two middle values as a double.
    *
    * Scale shape: the pair join runs on the (type, day) AGGREGATE —
    * ≤366 rows per type per year, ~67k pairs — never on events; the
    * broadcast self-join costs nothing next to the corpus agg that
    * feeds it. */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(coalesce(col("event_type"), lit("(null)")).as("event_type"),
        to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        datediff(col("d"), lit("1970-01-01")).as("day"), col("n"))
    val b = daily.select(col("event_type").as("et2"), col("day").as("d2"),
      col("n").as("n2"))
    val pairs = daily
      .join(broadcast(b),
        col("event_type") === col("et2") && col("day") < col("d2"))
      .select(col("event_type"),
        expr("((n2 - n) * 1000000) DIV (d2 - day)").as("slope_ppm"))
    val nDays = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        percentile(col("slope_ppm"), lit(0.5)).as("slope_med_ppm"))
      .join(nDays, "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope_med_ppm"))
  }

  /** q204 — per-type Theil–Sen slope of the daily series, exact ppm. */
  val q204: Q = Q(
    "q204_theilsen_trend",
    run = { (spark, dir) => theilSenTrend(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH daily AS (
        SELECT COALESCE(event_type, '(null)') AS event_type,
          CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      dd AS (SELECT event_type,
               datediff('day', DATE '1970-01-01', d) AS day, n
             FROM daily),
      pairs AS (SELECT a.event_type,
                  ((b.n - a.n) * 1000000) // (b.day - a.day) AS slope_ppm
                FROM dd a JOIN dd b
                  ON a.event_type = b.event_type AND a.day < b.day),
      nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
             FROM dd GROUP BY 1)
      SELECT p.event_type, nd.n_days, CAST(count(*) AS BIGINT) AS n_pairs,
        median(slope_ppm) AS slope_med_ppm
      FROM pairs p JOIN nd USING (event_type)
      GROUP BY 1, 2"""))

  /** Core of q207: PEAK CONCURRENCY per day — the max number of
    * simultaneously-active sessions (capacity planning's first
    * question: "how many concurrent users at the worst minute?").
    * Sessions are the q79 gaps-and-islands assignment (gap > 30 min,
    * (ts, event_id) order, µs-exact) collapsed to [first, last] event
    * intervals (inclusive — a point overlap counts both sides, +1
    * ordered before −1 at equal instants). The sweep-line is made
    * DAY-LOCAL so no global sort ever happens: each day's prefix sums
    * run in a day-partitioned window over that day's boundary events,
    * and the cross-day state is a CARRY-IN — sessions started before
    * the day and not yet ended — computed on the per-day aggregate via
    * a TWO-LEVEL q199 broadcast-triangle (prior whole years' totals +
    * prior days within the year, so each triangle is calendar-bounded
    * — ≤366 matches/day at ANY retention horizon; never a
    * partition-less window). peak = carry + max(0, max prefix):
    * the day-start level itself is a candidate peak when the day only
    * drains sessions.
    *
    * Scale shape: one user-keyed shuffle (sessionize + interval agg),
    * one day-keyed shuffle of 2 rows/session, day-table triangle —
    * at 100 TB the sweep never leaves its day partition. */
  def peakConcurrency(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Round 16 (guide §2.4): `sess` is referenced by bounds (twice, via
    // the start/end union), which itself feeds perDay AND the sweep —
    // Catalyst duplicated the whole sessionize (two window passes over
    // the event stream) FOUR times (the r16 before-plan scans events
    // 16×). Staged once, the downstream aggregates re-read a
    // session-grain parquet instead of re-sessionizing.
    val sess = graft.operators.Stage.materialize(
      events.filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(min(unix_micros(col("ts"))).as("s_us"),
          max(unix_micros(col("ts"))).as("e_us")),
      "q207-sess")
    val bounds = sess.select(col("s_us").as("us"), lit(1L).as("delta"))
      .unionAll(sess.select(col("e_us").as("us"), lit(-1L).as("delta")))
      .withColumn("day", to_date(timestamp_micros(col("us"))))
    val perDay = bounds.groupBy(col("day")).agg(
      sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_start"),
      sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_end"))
    // carry-in = Σ net over ALL prior days, decomposed TWO-LEVEL so
    // each triangle stays calendar-bounded at ANY retention (the
    // round-14 verdict's multi-decade seam): prior whole YEARS' totals
    // (≤ ~a-century rows) + prior days WITHIN the day's own year
    // (≤ 366 matches per day — the triangle work is O(366·days),
    // linear, not O(days²)). Pure arithmetic regrouping of the same
    // exact sum — the oracle's flat prefix replays it identically.
    val net = perDay.select(col("day").as("d2"),
      (col("n_start") - col("n_end")).as("net"))
      .withColumn("y2", year(col("d2")))
    val yearNet = net.groupBy(col("y2"))
      .agg(sum(col("net")).as("ynet"))
      .select(col("y2").as("yy"), col("ynet"))
    val withYear = perDay.withColumn("y", year(col("day")))
    val carryYears = withYear
      .join(broadcast(yearNet), col("yy") < col("y"), "left")
      .groupBy(col("day"), col("y"), col("n_start"), col("n_end"))
      .agg(coalesce(sum(col("ynet")), lit(0L)).as("carry_y"))
    val carry = carryYears.join(broadcast(net),
        col("y2") === col("y") && col("d2") < col("day"), "left")
      .groupBy(col("day"), col("n_start"), col("n_end"), col("carry_y"))
      .agg((col("carry_y") + coalesce(sum(col("net")), lit(0L)))
        .as("carry"))
    val sweep = Window.partitionBy(col("day"))
      .orderBy(col("us").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = bounds.withColumn("pfx", sum(col("delta")).over(sweep))
      .groupBy(col("day")).agg(max(col("pfx")).as("peak_delta"))
    carry.join(peaks, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_start"), col("n_end"), col("carry"),
        (col("carry") + greatest(col("peak_delta"), lit(0L))).as("peak"))
  }

  /** q207 — per-day peak concurrent sessions via a day-local sweep. */
  val q207: Q = Q(
    "q207_peak_concurrency",
    run = { (spark, dir) => peakConcurrency(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT event_id, user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
                 FROM events WHERE ts IS NOT NULL),
      m AS (SELECT *, CASE WHEN us - lag(us) OVER
                  (PARTITION BY user_id ORDER BY us, event_id)
                  > 1800 * 1000000
                OR lag(us) OVER (PARTITION BY user_id
                  ORDER BY us, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_s FROM e),
      sx AS (SELECT user_id, us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_idx
             FROM m),
      sess AS (SELECT user_id, session_idx, min(us) AS s_us, max(us) AS e_us
               FROM sx GROUP BY 1, 2),
      b AS (SELECT s_us AS us, 1 AS delta FROM sess
            UNION ALL SELECT e_us, -1 FROM sess),
      bd AS (SELECT us, delta, CAST(make_timestamp(us) AS DATE) AS day
             FROM b),
      pd AS (SELECT day,
               CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_start,
               CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_end
             FROM bd GROUP BY 1),
      cr AS (SELECT p.day, p.n_start, p.n_end,
               CAST(COALESCE(sum(q.n_start - q.n_end), 0) AS BIGINT)
                 AS carry
             FROM pd p LEFT JOIN pd q ON q.day < p.day
             GROUP BY 1, 2, 3),
      pk AS (SELECT day, max(pfx) AS peak_delta FROM
               (SELECT day, sum(delta) OVER (PARTITION BY day
                  ORDER BY us, delta DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
                FROM bd)
             GROUP BY 1)
      SELECT strftime(cr.day, '%Y-%m-%d') AS day, n_start, n_end, carry,
        CAST(carry + greatest(peak_delta, 0) AS BIGINT) AS peak
      FROM cr JOIN pk USING (day)"""))

  /** Core of q208: ANCHORED WINDOW FUNNEL depth (the ClickHouse
    * `windowFunnel` semantic, distinct from q61's per-stage windows):
    * per user, the deepest prefix of view → click → purchase whose
    * WHOLE chain fits inside `windowUs` of the anchoring view. Exact
    * without a triple self-join: with events in (ts, event_id) row
    * order, the earliest-next-stage chain is OPTIMAL (next-purchase
    * time is non-decreasing in row order, so the earliest following
    * click also minimizes the chain's completion time — greedy =
    * exists), which makes the whole computation two stacked
    * backward-looking window passes: np = earliest following purchase;
    * ncp = over following CLICK rows, the earliest np. A view row
    * reaches depth 3 if ncp ≤ anchor + W, depth 2 if its next click
    * ≤ anchor + W, else depth 1; the user's depth is the max over
    * view rows, 0 with no view. Strictly-after = row order (ties
    * broken by event_id), replayed identically by the oracle.
    *
    * Scale shape: one user-keyed shuffle, two window passes, one agg —
    * no join at all. */
  def windowFunnelDepth(events: DataFrame,
      windowUs: Long = 86400L * 1000000L): DataFrame = {
    val fw = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val e = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    e.withColumn("np",
        min(when(col("event_type") === "purchase", col("us"))).over(fw))
      .withColumn("ncp",
        min(when(col("event_type") === "click", col("np"))).over(fw))
      .withColumn("nc",
        min(when(col("event_type") === "click", col("us"))).over(fw))
      .withColumn("vdepth",
        when(col("event_type").isNull || col("event_type") =!= "view", 0)
          .when(col("ncp") <= col("us") + windowUs, 3)
          .when(col("nc") <= col("us") + windowUs, 2)
          .otherwise(1))
      .groupBy(col("user_id"))
      .agg(max(col("vdepth")).cast("int").as("depth"))
  }

  /** q208 — per-user anchored 24 h window-funnel depth. */
  val q208: Q = Q(
    "q208_window_funnel",
    run = { (spark, dir) => windowFunnelDepth(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
                 FROM events WHERE ts IS NOT NULL),
      p1 AS (SELECT *, min(CASE WHEN event_type = 'purchase' THEN us END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
             FROM e),
      p2 AS (SELECT *,
               min(CASE WHEN event_type = 'click' THEN np END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ncp,
               min(CASE WHEN event_type = 'click' THEN us END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
             FROM p1)
      SELECT user_id, CAST(max(CASE
          WHEN event_type <> 'view' OR event_type IS NULL THEN 0
          WHEN ncp <= us + 86400000000 THEN 3
          WHEN nc <= us + 86400000000 THEN 2
          ELSE 1 END) AS INTEGER) AS depth
      FROM p2 GROUP BY user_id"""))

  /** Core of q215: TIME-TO-CONVERT SURVIVAL CURVE — for each horizon
    * k = 0..14 days, the exact fraction of viewers whose FIRST
    * purchase at-or-after their first view landed within k days (the
    * cumulative-incidence readout growth teams plot; the q180
    * time-to-convert distribution's cohort-level integral). Pure
    * counts, no hazards, no logs: conv_ppm = converted·1e6 DIV
    * viewers replays exactly.
    *
    * Scale shape: one user-keyed agg collapses events to (first view,
    * first qualifying purchase); day buckets aggregate to ≤ a few
    * hundred rows; the cumulative count rides a broadcast triangle
    * join of the 15-row horizon table against the day buckets (the
    * q199 recipe — never a partition-less window); the viewer total is
    * a 1-row broadcast. */
  def conversionSurvival(events: DataFrame, maxDays: Int = 14): DataFrame = {
    val spark = events.sparkSession
    val firsts = events.filter(col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts"))))
          .as("v_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("p_any_us"))
      .filter(col("v_us").isNotNull)
    // first purchase AT-OR-AFTER the first view needs a second pass:
    // the unconditional first purchase may precede the view
    val conv = events.filter(col("ts").isNotNull &&
        col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .join(firsts.select(col("user_id"), col("v_us")), "user_id")
      .filter(col("us") >= col("v_us"))
      .groupBy(col("user_id"))
      // integer DIV, never the double `/` (exact at any magnitude)
      .agg(expr("(min(us) - any_value(v_us)) DIV 86400000000").as("d"))
    val byDay = conv.groupBy(col("d")).agg(count(lit(1)).as("n"))
    val viewers = firsts.agg(count(lit(1)).as("n_viewers"))
    val ks = spark.range(0, maxDays + 1).select(col("id").as("k"))
    ks.join(broadcast(byDay), col("d") <= col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_converted"))
      .crossJoin(broadcast(viewers))
      .select(col("k"), col("n_viewers"), col("n_converted"),
        expr("(n_converted * 1000000) DIV nullif(n_viewers, 0)")
          .as("conv_ppm"))
  }

  /** q215 — cumulative conversion (survival complement) at day k. */
  val q215: Q = Q(
    "q215_conversion_survival",
    run = { (spark, dir) => conversionSurvival(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH f AS (SELECT user_id,
                   min(CASE WHEN event_type = 'view'
                       THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v_us
                 FROM events WHERE ts IS NOT NULL
                 GROUP BY 1),
      viewers AS (SELECT CAST(count(*) AS BIGINT) AS n_viewers FROM f
                  WHERE v_us IS NOT NULL),
      conv AS (SELECT e.user_id,
                 (min(epoch_us(CAST(e.ts AS TIMESTAMP))) - any_value(f.v_us))
                   // 86400000000 AS d
               FROM events e JOIN f ON e.user_id = f.user_id
               WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
                 AND f.v_us IS NOT NULL
                 AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= f.v_us
               GROUP BY 1),
      byday AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM conv
                GROUP BY 1),
      ks AS (SELECT unnest(generate_series(0, 14)) AS k)
      SELECT CAST(k AS BIGINT) AS k, n_viewers,
        CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_converted,
        CAST((COALESCE(sum(n), 0) * 1000000) // nullif(n_viewers, 0) AS BIGINT)
          AS conv_ppm
      FROM ks LEFT JOIN byday ON d <= k
      CROSS JOIN viewers
      GROUP BY 1, 2"""))

  /** q227 — AUTOCORRELATION of the daily-revenue series at lags 1 and
    * 7 (the seasonality diagnostic behind q188's weekday profile: a
    * high lag-7 ACF says "weekly cycle", a high lag-1 says
    * "momentum"). The series is the exact-decimal daily sum of order
    * totals; pairs align CALENDAR days (day, day+k) via an equi-join
    * on the lagged date — gap days simply contribute no pair, which is
    * the honest treatment for an irregular series (a row-number lag
    * would silently pair revenue across a gap). Pearson runs on the
    * q82 recipe: five exact decimal/integer moment sums per lag —
    * order-free under Spark's partial+final aggregation — then ONE
    * fixed double expression over the 1-row-per-lag result; products
    * stay inside DECIMAL(37,8) because the daily total is bounded to
    * DECIMAL(18,4) (documented domain: < 10^14/day — beyond any
    * realistic revenue). The daily table is calendar-bounded (never
    * corpus-sized), so the lag join broadcasts. */
  val q227: Q = Q(
    "q227_revenue_autocorrelation",
    run = { (spark, dir) =>
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val daily = Tables.orders(spark, dir)
        .select(to_date(col("o_orderdate")).as("day"),
          col("o_totalprice").cast(DecimalType(12, 4)).as("p"))
        .groupBy(col("day"))
        .agg(sum(col("p")).cast(DecimalType(18, 4)).as("x"))
        // LOUD envelope (ADVICE r14): under a non-ANSI session the
        // (18,4) cast silently NULLs past the documented 10^14/day
        // bound while the oracle's (19,4) path errors — fail the job
        // instead, matching the oracle's failure mode (a filter, not
        // a pruned projection, so the optimizer keeps it)
        .filter(assert_true(col("x").isNotNull,
          lit("q227 daily revenue exceeds the DECIMAL(18,4) envelope " +
            "(>= 1e14/day) — widen the moment decimals")).isNull)
      val pairs = Seq(1, 7).map { k =>
        daily.join(
          broadcast(daily.select(col("day").as("bday"), col("x").as("y"))),
          col("bday") === date_add(col("day"), k))
          .select(lit(k).as("lag"), col("x"), col("y"))
      }.reduce(_ unionByName _)
      val m = pairs.groupBy(col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("sy2"),
          sum(col("x") * col("y")).as("sxy"))
      m.select(col("lag"), col("n").as("n_pairs"),
        ((col("n").cast(DoubleType) * col("sxy").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
          sqrt((col("n").cast(DoubleType) * col("sx2").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
            (col("n").cast(DoubleType) * col("sy2").cast(DoubleType) -
              col("sy").cast(DoubleType) * col("sy").cast(DoubleType))))
          .as("acf"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          -- (19,4) not (18,4): DuckDB stores ≤18-digit decimals in
          -- int64 and refuses the x*x promotion; 19 digits forces
          -- HUGEINT storage and the (38,8) product sits exactly at the
          -- cap. Spark keeps (18,4) → (37,8); values are identical.
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,4)))
            AS DECIMAL(19,4)) AS x
        FROM orders GROUP BY 1),
      pairs AS (
        SELECT 1 AS lag, a.x AS x, b.x AS y
        FROM daily a JOIN daily b ON b.day = a.day + INTERVAL 1 DAY
        UNION ALL
        SELECT 7 AS lag, a.x AS x, b.x AS y
        FROM daily a JOIN daily b ON b.day = a.day + INTERVAL 7 DAY),
      m AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n,
          sum(x) AS sx, sum(x * x) AS sx2,
          sum(y) AS sy, sum(y * y) AS sy2, sum(x * y) AS sxy
        FROM pairs GROUP BY 1)
      SELECT CAST(lag AS INTEGER) AS lag, n AS n_pairs,
        (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) -
         CAST(CAST(sx AS VARCHAR) AS DOUBLE)
           * CAST(CAST(sy AS VARCHAR) AS DOUBLE)) /
        sqrt((CAST(n AS DOUBLE) * CAST(CAST(sx2 AS VARCHAR) AS DOUBLE) -
              CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) *
             (CAST(n AS DOUBLE) * CAST(CAST(sy2 AS VARCHAR) AS DOUBLE) -
              CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
          AS acf
      FROM m"""))

  val all: Seq[Q] = Seq(q61, q62, q63, q64, q75, q77, q100, q107, q172,
    q177, q180, q181, q185, q187, q188, q193, q197, q203, q204, q207,
    q208, q215, q227)
}
