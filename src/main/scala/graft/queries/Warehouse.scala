package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.Quantiles

/** Warehouse-maintenance operators: change-data-capture compaction into
  * SCD-2 validity intervals, and MERGE (upsert + delete) semantics —
  * the reference's append-vs-overwrite warehouse loads
  * (`/root/reference/dags/wine_etl_kaggle.py:199,226-244`) generalized
  * to the incremental-maintenance pair every lakehouse pipeline needs.
  *
  * Scale posture: q93 is two same-keyed windows over user_id — ONE
  * shuffle, shared by both (Catalyst folds equal partitioning+ordering
  * into one Window chain). q94 is a single equi-join on the table key
  * plus a union — the changeset side of a production MERGE is
  * broadcastable (a day's changes vs a 100 TB base) or the join rides
  * bucketed storage on the key; no other shuffle exists.
  */
object Warehouse {

  /** Core of q93 over any (user_id, event_type, ts, event_id) frame:
    * collapse each user's event stream into runs of equal event_type,
    * emitting [valid_from, valid_to) intervals (valid_to null = current
    * state). Ties on ts are broken by event_id — the fixture fuzzes
    * same-ts events deliberately (same contract as q69). */
  def stateIntervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  /** q93 — SCD-2 state intervals (CDC compaction): per-user runs of
    * equal event_type become validity intervals. */
  val q93: Q = Q(
    "q93_state_intervals",
    run = { (spark, dir) => stateIntervals(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                   event_id
                 FROM events WHERE event_type IS NOT NULL),
      r AS (SELECT user_id, event_type, ts, event_id,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS prev
            FROM e),
      ch AS (SELECT user_id, event_type, ts, event_id FROM r
             WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id, event_type, ts AS valid_from,
        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS valid_to,
        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          AS is_current
      FROM ch"""))

  /** Core of q94: MERGE a changeset (k, op ∈ {D,U,I}, new_name,
    * new_bal, new_seg) into a base (c_custkey, c_name, c_acctbal,
    * c_mktsegment). Deletes drop, updates rewrite payload columns,
    * inserts append; every surviving row is tagged with what happened
    * to it — the audit column a backfill job wants. */
  def mergeUpsert(base: DataFrame, changes: DataFrame): DataFrame = {
    val survivors = base
      .join(changes.filter(col("op") =!= "I"),
        base("c_custkey") === changes("k"), "left")
      .filter(col("op").isNull || col("op") === "U")
      .select(col("c_custkey"), col("c_name"),
        when(col("op") === "U", col("new_bal")).otherwise(col("c_acctbal"))
          .as("c_acctbal"),
        when(col("op") === "U", col("new_seg")).otherwise(col("c_mktsegment"))
          .as("c_mktsegment"),
        when(col("op") === "U", lit("updated")).otherwise(lit("kept"))
          .as("change"))
    val inserts = changes.filter(col("op") === "I")
      .select(col("k").as("c_custkey"), col("new_name").as("c_name"),
        col("new_bal").as("c_acctbal"), col("new_seg").as("c_mktsegment"),
        lit("inserted").as("change"))
    survivors.unionByName(inserts)
  }

  /** Deterministic changeset derived from the customer table (residue
    * classes of the key, mirrored verbatim in the oracle): deletes at
    * ≡ 0 (mod 100), updates (+100 balance, segment upgrade) at the
    * remaining ≡ 0 (mod 10), inserts re-keyed +1_000_000 from the
    * ≡ 0 (mod 50) rows. */
  def syntheticChanges(base: DataFrame): DataFrame = {
    val dels = base.filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey").as("k"), lit("D").as("op"),
        lit(null).cast("string").as("new_name"),
        lit(null).cast("double").as("new_bal"),
        lit(null).cast("string").as("new_seg"))
    val upds = base.filter(col("c_custkey") % 100 =!= 0 &&
        col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("k"), lit("U").as("op"),
        lit(null).cast("string").as("new_name"),
        (col("c_acctbal") + 100.0).as("new_bal"),
        lit("UPGRADED").as("new_seg"))
    val ins = base.filter(col("c_custkey") % 50 === 0)
      .select((col("c_custkey") + 1000000L).as("k"), lit("I").as("op"),
        concat(lit("NewCustomer#"), (col("c_custkey") + 1000000L).cast("string"))
          .as("new_name"),
        lit(0.0).as("new_bal"), lit("NEW").as("new_seg"))
    dels.unionByName(upds).unionByName(ins)
  }

  /** q94 — MERGE upsert: apply a derived changeset to the customer
    * snapshot. */
  val q94: Q = Q(
    "q94_merge_upsert",
    run = { (spark, dir) =>
      val base = Tables.customer(spark, dir)
      mergeUpsert(base, syntheticChanges(base))
    },
    oracle = Some("""
      WITH ch AS (
        SELECT c_custkey AS k, 'D' AS op, CAST(NULL AS VARCHAR) AS new_name,
          CAST(NULL AS DOUBLE) AS new_bal, CAST(NULL AS VARCHAR) AS new_seg
        FROM customer WHERE c_custkey % 100 = 0
        UNION ALL
        SELECT c_custkey, 'U', CAST(NULL AS VARCHAR), c_acctbal + 100.0,
          'UPGRADED'
        FROM customer WHERE c_custkey % 100 <> 0 AND c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'I',
          'NewCustomer#' || CAST(c_custkey + 1000000 AS VARCHAR), 0.0, 'NEW'
        FROM customer WHERE c_custkey % 50 = 0),
      surv AS (
        SELECT b.c_custkey, b.c_name,
          CASE WHEN c.op = 'U' THEN c.new_bal ELSE b.c_acctbal END
            AS c_acctbal,
          CASE WHEN c.op = 'U' THEN c.new_seg ELSE b.c_mktsegment END
            AS c_mktsegment,
          CASE WHEN c.op = 'U' THEN 'updated' ELSE 'kept' END AS change
        FROM customer b
        LEFT JOIN (SELECT * FROM ch WHERE op <> 'I') c ON c.k = b.c_custkey
        WHERE c.op IS NULL OR c.op = 'U')
      SELECT * FROM surv
      UNION ALL
      SELECT k, new_name, new_bal, new_seg, 'inserted' FROM ch
      WHERE op = 'I'"""))

  /** Core of q171: POINT-IN-TIME dimension enrichment — the classic
    * warehouse join ("each fact gets the dimension VERSION valid at
    * fact time") composed from q93's SCD-2 semantics: the dimension
    * stream is the run-compacted non-purchase state history, facts are
    * purchases, and each purchase is enriched with (state_at,
    * state_since) where state_since is the RUN START — the SCD-2
    * validity answer, materially different from q13's last-raw-event
    * (three consecutive clicks are ONE state since the first).
    *
    * Spark-first shape: NO interval join and NO range predicate — the
    * compacted state points and the facts union into one stream and a
    * single `last(ignoreNulls)` window resolves validity (the q13
    * as-of recipe applied to an SCD dimension); both windows partition
    * on user_id, so Catalyst plans ONE shuffle for the whole query. A
    * state change at the purchase's exact timestamp applies (kind
    * orders dimension points before facts at equal ts) — the
    * valid_from ≤ ts inclusive contract, suite-pinned. */
  def pointInTimeState(events: DataFrame): DataFrame = {
    val e = events.filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val wDim = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val dim = e.filter(col("event_type") =!= "purchase")
      .withColumn("prev", lag(col("event_type"), 1).over(wDim))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(0).as("kind"), col("event_type").as("state"))
    val facts = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(1).as("kind"), lit(null).cast("string").as("state"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("state_at", last(col("state"), ignoreNulls = true).over(w))
      .withColumn("state_since",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
        col("state_at"), col("state_since").as("state_since_us"))
  }

  /** q171 — SCD-2 point-in-time enrichment: every purchase carries the
    * user state (non-purchase run) valid at purchase time and that
    * state's run start. */
  val q171: Q = Q(
    "q171_point_in_time",
    run = { (spark, dir) => pointInTimeState(Tables.events(spark, dir)) },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                   event_id
                 FROM events WHERE event_type IS NOT NULL),
      d0 AS (SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
             FROM e WHERE event_type <> 'purchase'),
      dim AS (SELECT user_id, ts, event_id, 0 AS kind,
                event_type AS state
              FROM d0 WHERE prev IS NULL OR prev <> event_type),
      f AS (SELECT user_id, ts, event_id, 1 AS kind,
              CAST(NULL AS VARCHAR) AS state
            FROM e WHERE event_type = 'purchase'),
      u AS (SELECT * FROM dim UNION ALL SELECT * FROM f),
      m AS (SELECT user_id, ts, event_id, kind,
              last_value(state IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts, kind, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS state_at,
              last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS state_since
            FROM u)
      SELECT event_id, user_id, ts AS ts_us, state_at,
        state_since AS state_since_us
      FROM m WHERE kind = 1"""))

  /** Core of q198: RFM SEGMENTATION (recency / frequency / monetary —
    * the classic customer-value scoring every CRM warehouse computes):
    * per customer, days since last order (relative to the corpus max
    * date — deterministic, not wall-clock), order count, and exact-
    * decimal spend, each scored 1..5 by quintile CUTPOINTS — the q76
    * no-global-window recipe (one grouped percentile aggregate,
    * broadcast back, per-row fold over a 4-element literal array;
    * value ties land in the same quintile, deterministic where ntile's
    * arbitrary tie-split is not). Recency scores INVERTED (most recent
    * = 5). Monetary sums use the q04 exact-decimal discipline so the
    * cutpoint comparisons see bit-identical doubles in both engines.
    *
    * Scale shape: one customer-keyed hash-agg over orders (the only
    * corpus shuffle), a 1-row cutpoint broadcast, a per-row fold. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val base = orders
      .filter(col("o_orderdate").isNotNull && col("o_custkey").isNotNull)
    val perCust = base.groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(12,4)")).as("monetary_d"))
    val anchor = base.agg(max(to_date(col("o_orderdate"))).as("max_d"))
    val rfm = perCust.crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("max_d"), col("last_d")).as("recency_days"),
        col("frequency"),
        col("monetary_d").cast("double").as("monetary"))
    val cuts = rfm.agg(
      percentile(col("recency_days"),
        array((1 to 4).map(i => lit(i / 5.0)): _*)).as("rc"),
      percentile(col("frequency"),
        array((1 to 4).map(i => lit(i / 5.0)): _*)).as("fc"),
      percentile(col("monetary"),
        array((1 to 4).map(i => lit(i / 5.0)): _*)).as("mc"))
    rfm.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        expr("5 - size(filter(rc, c -> c < recency_days))").as("r_score"),
        expr("1 + size(filter(fc, c -> c < frequency))").as("f_score"),
        expr("1 + size(filter(mc, c -> c < monetary))").as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** q198 — per-customer RFM quintile scores + segment code. */
  val q198: Q = Q(
    "q198_rfm_segments",
    run = { (spark, dir) => rfmSegments(Tables.orders(spark, dir)) },
    oracle = Some("""
      WITH base AS (SELECT o_custkey,
                      CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS d,
                      CAST(o_totalprice AS DECIMAL(12,4)) AS p
                    FROM orders
                    WHERE o_orderdate IS NOT NULL
                      AND o_custkey IS NOT NULL),
      pc AS (SELECT o_custkey, max(d) AS last_d,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(p) AS DOUBLE) AS monetary
             FROM base GROUP BY 1),
      a AS (SELECT max(d) AS max_d FROM base),
      rfm AS (SELECT o_custkey,
                CAST(date_diff('day', last_d, max_d) AS INTEGER)
                  AS recency_days,
                frequency, monetary
              FROM pc CROSS JOIN a),
      cuts AS (SELECT
          quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
          quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fc,
          quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc
        FROM rfm)
      SELECT o_custkey, recency_days, frequency, monetary,
        CAST(5 - len(list_filter(rc, c -> c < recency_days)) AS INTEGER)
          AS r_score,
        CAST(1 + len(list_filter(fc, c -> c < frequency)) AS INTEGER)
          AS f_score,
        CAST(1 + len(list_filter(mc, c -> c < monetary)) AS INTEGER)
          AS m_score,
        CAST(5 - len(list_filter(rc, c -> c < recency_days)) AS VARCHAR)
          || CAST(1 + len(list_filter(fc, c -> c < frequency)) AS VARCHAR)
          || CAST(1 + len(list_filter(mc, c -> c < monetary)) AS VARCHAR)
          AS segment
      FROM rfm CROSS JOIN cuts"""))

  /** Core of q199: REVENUE CONCENTRATION (the decile Lorenz curve —
    * "what share of revenue do the top customer-spend deciles carry",
    * the 80/20 readout behind account-tiering and risk decisions):
    * customers bucket into spend deciles by CUTPOINTS (q76 recipe — a
    * global rank window cannot survive 100 TB), spend rides exact
    * integer TEN-THOUSANDTHS (the decimal sum scaled out — no double
    * aggregation anywhere), and each decile row carries its customer
    * count, spend share, and CUMULATIVE share in exact ppm. The
    * cumulative sum runs over the ≤10-row decile aggregate via a
    * broadcast triangle join — never a partition-less window.
    *
    * Integer headroom: shares widen through DECIMAL(38,0) before the
    * ×1e6 (total spend in 1e-4 units exceeds BIGINT·1e6 at ~9e8 in
    * revenue — reachable; the decimal product is exact). */
  def revenueConcentration(orders: DataFrame): DataFrame = {
    val spend = orders
      .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(12,4)")) * 10000)
        .cast("long").as("cents"))
    val cuts = spend.agg(percentile(col("cents"),
      array((1 to 9).map(i => lit(i / 10.0)): _*)).as("cuts"))
    val byDecile = spend.crossJoin(broadcast(cuts))
      .select(col("cents"),
        expr("size(filter(cuts, c -> c < cents))").as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("d_cents"))
    val total = byDecile.agg(sum(col("d_cents")).as("t_cents"))
    val shared = byDecile.crossJoin(broadcast(total))
      .withColumn("share_ppm", expr(
        "CAST((CAST(d_cents AS DECIMAL(38,0)) * 1000000) DIV t_cents AS BIGINT)"))
    // cumulative share over the ≤10-row decile frame: broadcast
    // triangle join (d2 ≤ d), never a global window
    shared.alias("a")
      .join(broadcast(shared.select(col("decile").as("d2"),
        col("d_cents").as("c2"))), col("d2") <= col("decile"))
      .groupBy(col("decile"), col("n_customers"), col("d_cents"),
        col("t_cents"), col("share_ppm"))
      .agg(sum(col("c2")).as("cum_cents"))
      .select(col("decile"), col("n_customers"), col("share_ppm"),
        expr("CAST((CAST(cum_cents AS DECIMAL(38,0)) * 1000000) DIV t_cents AS BIGINT)")
          .as("cum_share_ppm"))
  }

  /** q199 — customer-spend decile Lorenz shares, exact integer ppm. */
  val q199: Q = Q(
    "q199_revenue_concentration",
    run = { (spark, dir) =>
      revenueConcentration(Tables.orders(spark, dir))
    },
    oracle = Some("""
      WITH spend AS (
        SELECT o_custkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) * 10000 AS BIGINT)
            AS cents
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1),
      cuts AS (SELECT quantile_cont(cents,
                 [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
               FROM spend),
      d AS (SELECT len(list_filter(cuts.cuts, c -> c < cents)) AS decile,
              cents
            FROM spend CROSS JOIN cuts),
      g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
              CAST(sum(cents) AS BIGINT) AS d_cents
            FROM d GROUP BY 1),
      t AS (SELECT CAST(sum(d_cents) AS HUGEINT) AS t_cents FROM g)
      SELECT CAST(g.decile AS INTEGER) AS decile, g.n_customers,
        CAST((CAST(g.d_cents AS HUGEINT) * 1000000) // t.t_cents
          AS BIGINT) AS share_ppm,
        CAST((CAST((SELECT sum(g2.d_cents) FROM g g2
                    WHERE g2.decile <= g.decile) AS HUGEINT) * 1000000)
          // t.t_cents AS BIGINT) AS cum_share_ppm
      FROM g CROSS JOIN t"""))

  /** q230 — CALENDAR DENSIFY (gap-fill): the zero-filled daily revenue
    * series every reporting layer and every downstream time-series
    * model (q187's EWMA, q227's ACF) actually wants — a day with no
    * orders must appear as an explicit zero row, not silently vanish
    * (a moving average over a gappy series is just wrong). The day
    * spine is generated from the 1-row (min, max) bound via
    * `sequence()` — calendar-bounded (≤ ~3.7 k rows per decade), so
    * the spine and the daily aggregate BOTH broadcast and nothing here
    * scales with the fact table except the one daily hash-agg. Gap
    * days carry an explicit flag; days render as strings (the DATE
    * hash-parity rule). */
  val q230: Q = Q(
    "q230_calendar_densify",
    run = { (spark, dir) =>
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(12, 4))).as("rev_dec"))
      val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("sday"))
      spine.join(broadcast(daily), col("sday") === col("day"), "left")
        .select(date_format(col("sday"), "yyyy-MM-dd").as("day"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("rev_dec").cast(DoubleType), lit(0.0)).as("revenue"),
          when(col("n").isNull, 1).otherwise(0).as("is_gap"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS n,
          sum(CAST(o_totalprice AS DECIMAL(12,4))) AS rev_dec
        FROM orders GROUP BY 1),
      b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      spine AS (
        SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
          CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS sday
        FROM b)
      SELECT strftime(sday, '%Y-%m-%d') AS day,
        COALESCE(n, 0) AS n_orders,
        COALESCE(CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE), 0.0) AS revenue,
        CAST(CASE WHEN daily.day IS NULL THEN 1 ELSE 0 END AS INTEGER)
          AS is_gap
      FROM spine LEFT JOIN daily ON sday = daily.day"""))

  /** q231 — YEAR-OVER-YEAR monthly revenue growth (the BI staple —
    * MoM is noise, YoY cancels seasonality): monthly exact-decimal
    * revenue keyed on the INTEGER month index y·12+(m−1) — never the
    * label string — so "twelve months earlier" is a plain equi-join on
    * ym−12 (label arithmetic would need date parsing; a LAG window
    * over months with gaps would silently compare against the wrong
    * month). Growth in exact signed ppm over integer cents (the q199
    * recipe; both engines truncate toward zero). The monthly table is
    * calendar-bounded ⇒ the lag side broadcasts; months without a
    * prior-year counterpart are reported with NULL growth (explicit,
    * not dropped — a dashboard needs the row). */
  val q231: Q = Q(
    "q231_yoy_growth",
    run = { (spark, dir) =>
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val monthly = Tables.orders(spark, dir)
        .groupBy((year(col("o_orderdate")) * 12 +
          month(col("o_orderdate")) - 1).as("ym"))
        .agg(
          // DECIMAL(38,0) END-TO-END (ADVICE r14): a .cast("long")
          // here wraps silently past 2^63 under legacy decimal casts
          // while the oracle errors; the decimal carries exactly at
          // any revenue scale and the yoy expression already widens
          (sum(col("o_totalprice").cast(DecimalType(12, 4))) * 10000)
            .cast(DecimalType(38, 0)).as("cents"))
      val prev = monthly.select(col("ym").as("pym"), col("cents").as("pcents"))
      monthly.join(broadcast(prev), col("pym") === col("ym") - 12, "left")
        .select(
          concat(
            format_string("%04d", (col("ym") / 12).cast("int")), lit("-"),
            format_string("%02d", pmod(col("ym"), lit(12)) + 1)).as("month"),
          (col("cents").cast(DoubleType) / 10000.0).as("revenue"),
          (col("pcents").cast(DoubleType) / 10000.0).as("revenue_prev_year"),
          // DECIMAL(38,0), not BIGINT: cents·10⁶ passes 2⁶³ once a
          // month's revenue exceeds ~9·10⁸ units — true at warehouse
          // scale even though the fixture stays under it
          expr("((CAST(cents AS DECIMAL(38,0)) - pcents) * 1000000)" +
            " DIV pcents").cast("long").as("yoy_ppm"))
    },
    oracle = Some("""
      WITH monthly AS (
        SELECT year(CAST(o_orderdate AS TIMESTAMP)) * 12
            + month(CAST(o_orderdate AS TIMESTAMP)) - 1 AS ym,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) * 10000 AS BIGINT)
            AS cents
        FROM orders GROUP BY 1)
      SELECT printf('%04d-%02d', a.ym // 12, a.ym % 12 + 1) AS month,
        CAST(a.cents AS DOUBLE) / 10000.0 AS revenue,
        CAST(b.cents AS DOUBLE) / 10000.0 AS revenue_prev_year,
        CAST(((CAST(a.cents AS HUGEINT) - b.cents) * 1000000) // b.cents
          AS BIGINT) AS yoy_ppm
      FROM monthly a LEFT JOIN monthly b ON b.ym = a.ym - 12"""))

  /** q232 — RELATIONAL DIVISION: customers active in EVERY order year
    * (the "for-all" query shape — universal quantification — that
    * naive SQL writes as doubly-nested NOT EXISTS and that none of the
    * join family covers): decorrelated to the distinct-count-equality
    * form — per customer, count DISTINCT order years; keep those whose
    * count equals the UNIVERSE cardinality (a 1-row broadcast of
    * count(DISTINCT year) over the whole table). Two hash-aggs and a
    * broadcast; the NOT-EXISTS² formulation would rescan orders per
    * (customer, year). Output: per-nation counts of always-active
    * customers (nation broadcasts). */
  val q232: Q = Q(
    "q232_division_loyal",
    run = { (spark, dir) =>
      val perCust = Tables.orders(spark, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
        .groupBy(col("o_custkey"))
        .agg(countDistinct(col("yr")).as("n_years"))
      val universe = Tables.orders(spark, dir)
        .agg(countDistinct(year(col("o_orderdate"))).as("all_years"))
      perCust.join(broadcast(universe), col("n_years") === col("all_years"))
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_loyal"))
    },
    oracle = Some("""
      WITH per_cust AS (
        SELECT o_custkey,
          count(DISTINCT year(CAST(o_orderdate AS TIMESTAMP))) AS n_years
        FROM orders GROUP BY 1),
      u AS (SELECT count(DISTINCT year(CAST(o_orderdate AS TIMESTAMP)))
              AS all_years FROM orders)
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_loyal
      FROM per_cust CROSS JOIN u
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      WHERE n_years = all_years
      GROUP BY 1"""))

  /** q233 — GAINS / LIFT TABLE by score decile (the standard
    * model-eval readout this engine's A/B and CUPED queries stop short
    * of: "if we rank by this score, how concentrated are the
    * positives?"): score = line value in exact cents, positive =
    * returned line. Deciles come from the q199 recipe — a 9-cut
    * percentile broadcast + `size(filter(cuts, c < score))`, never a
    * global rank window; per-decile positive rate, share of all
    * positives, and lift vs the base rate all in exact integer
    * ppm/milli with the cross products in DECIMAL(38,0)/HUGEINT
    * (pos·N overflows int64 at warehouse scale). Global totals are a
    * 1-row broadcast re-agg of the ≤10-row decile table.
    *
    * Scale bound, MEASURED (BASELINE.md round-15, "Percentile-cut
    * family scale evidence"):
    * Spark's exact Percentile merges a value→count map at one final
    * reducer, so the binding quantity is DISTINCT score values, not
    * rows. With the score = line cents (bounded by the part price
    * catalog — this query's contract), 100× rows cost 40.6× wall
    * (sub-linear; map stays catalog-sized). With ADVERSARIAL distinct
    * growth (values offset per copy: 60 M distinct at 100×) the same
    * plan costs 131× — the measured cliff. Rule, IMPLEMENTED as the
    * q237 cut-source seam: exact percentile cuts require a
    * catalog-bounded score column; for unbounded values use [[q237]]'s
    * fixed-bin histogram cuts (mergeable, constant state regardless of
    * distinct growth — A/B'd under the adversarial generator in
    * BASELINE.md round-16, "q237: the histogram cut path as code"). */
  /** The gains-table score stream: line value in exact cents, positive
    * = returned line — shared by q233 (exact cuts) and q237 (histogram
    * cuts). */
  private def scoredLines(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        (col("l_extendedprice").cast("decimal(12,4)") * 10000)
          .cast("long").as("score_cents"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))

  /** The gains rollup downstream of ANY 9-cut source (exact percentile
    * or histogram quantiles — the q233/q237 cut-source seam): decile
    * by cut-array fold, per-decile positive rate / share / lift in
    * exact integer ppm/milli.
    *
    * Round 16 (guide §2.4 "remove shuffles outright"): the decile
    * rollup used to be REFERENCED TWICE — once directly and once under
    * the 1-row totals re-agg joined back — and Catalyst duplicated the
    * whole subtree (the r16 before-plan shows the scan, the cut source,
    * and both exchanges twice; with the old percentile cut source that
    * meant TWO ObjectHashAggregate percentile evaluations per q233
    * run). The rollup is ≤ 11 rows by construction (decile =
    * size(filter(9-cut array)) ∈ 0..9, plus at most a null-cuts row),
    * so it is collected ONCE under the bounded-collect contract, its
    * totals are summed on the driver and enter as BIGINT literals, and
    * the final projection runs on the driver-local relation — the
    * scored stream is scanned exactly once, no totals re-aggregation or
    * join runs, and the ppm/milli expressions are UNCHANGED (exact
    * integer DIV with the DECIMAL(38,0) cross products), so every
    * output digit is identical. */
  private[graft] def gainsFromCuts(scored: DataFrame,
      cuts: Column): DataFrame = {
    val spark = scored.sparkSession
    val byDecile = scored
      .crossJoin(broadcast(spark.range(1).select(cuts.as("cuts"))))
      .select(expr("size(filter(cuts, c -> c < score_cents))")
        .as("decile"), col("pos"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    // ≤ 11 rows, see above; a LocalRelation (no RDD scan job), and the
    // totals summed here on the driver (no count nulls; n_pos sums a
    // 0/1 flag, never NULL) instead of a re-aggregation joined back
    val rows = byDecile.collect()
    val nn = rows.map(_.getAs[Long]("n")).sum
    val pp = rows.map(_.getAs[Long]("n_pos")).sum
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), byDecile.schema)
      .select(col("decile"), col("n"), col("n_pos"),
        lit(nn).as("nn"), lit(pp).as("pp"))
      .select(col("decile"), col("n"), col("n_pos"),
        expr("(n_pos * 1000000) DIV n").as("pos_rate_ppm"),
        expr("(n_pos * 1000000) DIV pp").as("pos_share_ppm"),
        expr("CAST((CAST(n_pos AS DECIMAL(38,0)) * nn * 1000)" +
          " DIV (CAST(n AS DECIMAL(38,0)) * pp) AS BIGINT)")
          .as("lift_milli"))
  }

  val q233: Q = Q(
    "q233_gains_table",
    run = { (spark, dir) =>
      val scored = scoredLines(spark, dir)
      // STANDING ASSUMPTION (ADVICE r14): decile assignment compares
      // integer cents against INTERPOLATED-double cuts, so hash parity
      // relies on the engine's percentile semantics and DuckDB
      // `quantile_cont` producing bit-identical interpolants — both
      // compute the same IEEE interpolation over exact integer inputs
      // (validated green on fixture + fuzz; the Spark side is
      // [[graft.operators.Quantiles.exactCuts]], pinned bit-identical
      // to the `percentile` agg by WarehouseSpec), but a last-ulp
      // formula divergence would flip a score lying exactly on a cut;
      // the engine-independent alternative (exact integer lower+frac
      // cut pairs) is the documented fallback.
      val Seq((_, cuts)) = Quantiles.exactCuts(scored, None, "score_cents",
        (1 to 9).map(_ / 10.0))
      gainsFromCuts(scored,
        if (cuts == null) lit(null).cast("array<double>")
        else array(cuts.map(lit(_)): _*))
    },
    oracle = Some("""
      WITH scored AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 10000
            AS BIGINT) AS score_cents,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem),
      cuts AS (SELECT quantile_cont(score_cents,
                 [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
               FROM scored),
      d AS (SELECT len(list_filter(cuts.cuts, c -> c < score_cents))
              AS decile, pos
            FROM scored CROSS JOIN cuts),
      g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(pos) AS BIGINT) AS n_pos
            FROM d GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
              CAST(sum(n_pos) AS BIGINT) AS pp FROM g)
      SELECT CAST(decile AS INTEGER) AS decile, n, n_pos,
        (n_pos * 1000000) // n AS pos_rate_ppm,
        (n_pos * 1000000) // pp AS pos_share_ppm,
        CAST((CAST(n_pos AS HUGEINT) * nn * 1000)
          // (CAST(n AS HUGEINT) * pp) AS BIGINT) AS lift_milli
      FROM g CROSS JOIN t"""))

  /** q234 — FIRST-MONTH COHORT REPEAT-PURCHASE RATE (the CRM readout
    * beside q62's event-retention cohorts, on the warehouse side): of
    * customers whose FIRST order landed in month M, what fraction
    * ordered again within 90 days? ONE customer-keyed shuffle total:
    * the per-customer first order is a window min, the repeat flag a
    * same-key agg over the window's output (co-partitioned — Spark
    * plans no second exchange), the cohort rollup reads
    * customer-grain rows. The repeat test is STRICTLY after the first
    * instant (`>` excludes the first order and any same-instant
    * duplicate — deterministic in both engines) and inclusive at the
    * 90-day boundary. Rates in exact integer ppm. */
  val q234: Q = Q(
    "q234_cohort_repeat",
    run = { (spark, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
      val perCust = Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderdate"))
        .withColumn("first_dt", min(col("o_orderdate")).over(w))
        .groupBy(col("o_custkey"), col("first_dt"))
        .agg(max(when(col("o_orderdate") > col("first_dt") &&
          col("o_orderdate") <= col("first_dt") + expr("INTERVAL 90 DAY"),
          1L).otherwise(0L)).as("repeat90"))
      perCust
        .groupBy(date_format(col("first_dt"), "yyyy-MM").as("cohort_month"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("repeat90")).as("n_repeat"))
        .select(col("cohort_month"), col("n_customers"), col("n_repeat"),
          expr("(n_repeat * 1000000) DIV n_customers").as("repeat_ppm"))
    },
    oracle = Some("""
      WITH f AS (
        SELECT o_custkey, o_orderdate,
          min(o_orderdate) OVER (PARTITION BY o_custkey) AS first_dt
        FROM orders),
      per_cust AS (
        SELECT o_custkey, first_dt,
          max(CASE WHEN o_orderdate > first_dt
                AND o_orderdate <= first_dt + INTERVAL 90 DAY
              THEN 1 ELSE 0 END) AS repeat90
        FROM f GROUP BY 1, 2)
      SELECT strftime(first_dt, '%Y-%m') AS cohort_month,
        CAST(count(*) AS BIGINT) AS n_customers,
        CAST(sum(repeat90) AS BIGINT) AS n_repeat,
        (CAST(sum(repeat90) AS BIGINT) * 1000000) // count(*)
          AS repeat_ppm
      FROM per_cust GROUP BY 1"""))

  /** HISTOGRAM decile cuts for [[q237]] on the
    * [[graft.operators.Quantiles]] core, all-integer: the (min, max, n)
    * pass, a 256-cell histogram under the oracle's bin formula
    * `least(255, ((v − mn)·256) DIV (mx − mn))`, the rank walk to each
    * decile's target rank in integer ceil arithmetic ((q·n+99) DIV
    * 100, no float rank), and the cut at the estimated bin's UPPER
    * BOUND `mn + ((eb+1)·(mx−mn)) DIV 256` — integer DIV, no float
    * anywhere, so the oracle replays every cut digit-by-digit. Returns
    * the sorted 9-cut literal array<bigint> (empty on empty input). */
  private[graft] def histDecileCuts(scored: DataFrame): Column = {
    val GainsBins = 256L // hard-coded in the oracle SQL
    val Seq(b) = Quantiles.bounds(scored, None, "score_cents")
    if (b.n == 0L) return array().cast("array<bigint>")
    val (mn, mx) = (b.mn.asInstanceOf[Long], b.mx.asInstanceOf[Long])
    val cuts = if (mn == mx) Seq.fill(9)(mn) else {
      val hist = Quantiles.histogram(
        Quantiles.binned(scored, None, "score_cents", Seq(b)) { (_, v) =>
          least(lit(GainsBins - 1L),
            call_function("div", (v - lit(mn)) * lit(GainsBins), lit(mx - mn)))
        })(null)
      val ranks = (1 to 9).map(d => (d * 10 * b.n + 99L) / 100L)
      val at = Quantiles.rankBins(hist, ranks)
      ranks.map(r => mn + ((at(r)._1 + 1L) * (mx - mn)) / GainsBins).sorted
    }
    array(cuts.map(lit(_)): _*)
  }

  /** q237 — GAINS TABLE FROM HISTOGRAM CUTS: q233's rollup on the
    * UNBOUNDED-score cut path (the round-15 measured cliff turned into
    * code): exact `Percentile` cuts merge a value→count map at ONE
    * reducer, so adversarial distinct growth costs 131× at 100× data —
    * and on round-16's degraded window it KILLED the JVM outright
    * (driver heartbeat death mid-merge at 60 M distinct) — while this
    * histogram cut source holds constant state (256 integer cells,
    * mergeable by addition — [[histDecileCuts]] on the
    * [[graft.operators.Quantiles]] core) at the price of bin-granular
    * cut placement: the round-16 A/B (BASELINE.md round-16, q237) measured
    * 2.2× at 10× and 89.4× at 100× adversarial distinct — row-bound
    * ~linear scan scaling with NO distinct-growth term, on the same
    * window where the exact path died. Same scored stream, same
    * exact-integer gains rollup, TRUE hash gate (the cut arithmetic is
    * all integer DIV); the suite pins the decile partition (sizes sum
    * to N) and cross-checks totals against exact q233. */
  val q237: Q = Q(
    "q237_gains_hist",
    run = { (spark, dir) =>
      val scored = scoredLines(spark, dir)
      gainsFromCuts(scored, histDecileCuts(scored))
    },
    oracle = Some("""
      WITH scored AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 10000
            AS BIGINT) AS score_cents,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem),
      s AS (SELECT min(score_cents) AS mn, max(score_cents) AS mx,
              CAST(count(score_cents) AS BIGINT) AS n FROM scored
            WHERE score_cents IS NOT NULL),
      b AS (SELECT CASE WHEN s.mx = s.mn THEN 0
                   ELSE LEAST(255, ((score_cents - s.mn) * 256)
                     // (s.mx - s.mn)) END AS bin
            FROM scored CROSS JOIN s WHERE score_cents IS NOT NULL),
      h AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
      cum AS (SELECT bin,
                CAST(sum(c) OVER (ORDER BY bin) AS BIGINT) AS cum
              FROM h),
      qs AS (SELECT CAST(unnest([10,20,30,40,50,60,70,80,90])
               AS INTEGER) AS qpct),
      eb AS (SELECT t.qpct, t.mn, t.mx, CAST(min(c.bin) AS BIGINT) AS eb
             FROM (SELECT q.qpct, s.mn, s.mx,
                     (q.qpct * s.n + 99) // 100 AS tr
                   FROM qs q CROSS JOIN s) t
             JOIN cum c ON c.cum >= t.tr
             GROUP BY 1, 2, 3),
      cuts AS (SELECT list_sort(list(mn + ((eb + 1) * (mx - mn)) // 256))
                 AS cuts FROM eb),
      d AS (SELECT len(list_filter(cuts.cuts, c -> c < score_cents))
              AS decile, pos
            FROM scored CROSS JOIN cuts),
      g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(pos) AS BIGINT) AS n_pos
            FROM d GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
              CAST(sum(n_pos) AS BIGINT) AS pp FROM g)
      SELECT CAST(decile AS INTEGER) AS decile, n, n_pos,
        (n_pos * 1000000) // n AS pos_rate_ppm,
        (n_pos * 1000000) // pp AS pos_share_ppm,
        CAST((CAST(n_pos AS HUGEINT) * nn * 1000)
          // (CAST(n AS HUGEINT) * pp) AS BIGINT) AS lift_milli
      FROM g CROSS JOIN t"""))

  val all: Seq[Q] = Seq(q93, q94, q171, q198, q199, q230, q231, q232,
    q233, q234, q237)
}
