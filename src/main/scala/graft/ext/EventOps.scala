package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QuerySpec
import graft.tables.Tables

/** Event-stream analytics over `events` — the batch expression of the
  * streaming surface (graft.streaming runs the same aggregations
  * incrementally with watermarks; these are their oracle-checkable batch
  * twins).
  *
  * `value` sums go through decimal (2dp data) for partition-order
  * independence, like Money.
  */
object EventOps {

  private def decSum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast(DecimalType(12, 2))).cast(DoubleType)

  /** Tumbling 1-hour event-time windows per event_type. */
  val q23TumblingWindows: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), decSum("value").as("total_value"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    },
    """SELECT date_trunc('hour', ts) AS window_start,
      |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      |       event_type, count(*) AS n_events,
      |       cast(sum(cast(value AS decimal(12,2))) AS double) AS total_value
      |FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin)

  /** Sliding windows: 1 hour long, every 15 minutes (each event lands in
    * 4 windows). The DuckDB twin derives the same window set from epoch
    * arithmetic (windows aligned to the epoch, like Spark's `window()`).
    */
  val q24SlidingWindows: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), decSum("value").as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    },
    """WITH k AS (SELECT unnest([0, 1, 2, 3]) AS k),
      |win AS (SELECT make_timestamp(((cast(floor(epoch(ts)) AS bigint) // 900) - k.k) * 900 * 1000000) AS window_start,
      |               event_type, value
      |        FROM events, k)
      |SELECT window_start, event_type, count(*) AS n_events,
      |       cast(sum(cast(value AS decimal(12,2))) AS double) AS total_value
      |FROM win GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)

  /** Sessionization: per-user sessions split on >30 min inactivity gaps.
    * Epoch-micro arithmetic (not intervals) for engine parity; (ts,
    * event_id) is a total order within user.
    */
  val q30Sessionize: QuerySpec = QuerySpec(
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
      val newSession = when(gap.isNull || gap > 1800L * 1000000L, 1L).otherwise(0L)
      Tables.events(s, dir)
        .withColumn("session_seq", sum(newSession).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), decSum("value").as("total_value"))
        .orderBy(col("user_id"), col("session_seq"))
    },
    """WITH g AS (SELECT user_id, event_id, ts, value,
      |             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                       > 1800 * 1000000
      |                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |             THEN 1 ELSE 0 END AS new_session
      |           FROM events),
      |sess AS (SELECT user_id, event_id, ts, value,
      |           cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_seq
      |         FROM g)
      |SELECT user_id, cast(session_seq AS bigint) AS session_seq,
      |       min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events,
      |       cast(sum(cast(value AS decimal(12,2))) AS double) AS total_value
      |FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin)

  /** Semi-structured props: JSON field extraction + aggregation. */
  val q28JsonExtract: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("event_type"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("k"))
    },
    """SELECT cast(json_extract_string(props, '$.k') AS integer) AS k,
      |       count(*) AS n_events, count(DISTINCT event_type) AS n_types
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin)

  /** Schema-on-read for semi-structured props: `from_json` into a typed
    * struct, then ordinary relational ops over the parsed fields.
    */
  val q35PropsStruct: QuerySpec = QuerySpec(
    (s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))
      Tables.events(s, dir)
        .withColumn("p", from_json(col("props"), schema))
        .filter(col("p.k") < 10)
        .select(col("event_id"), col("event_type"), col("p.k").as("k"))
        .orderBy(col("event_id"))
    },
    """SELECT event_id, event_type, cast(json_extract_string(props, '$.k') AS integer) AS k
      |FROM events
      |WHERE cast(json_extract_string(props, '$.k') AS integer) < 10
      |ORDER BY event_id""".stripMargin)

  /** As-of join (purchase→latest-prior-view attribution) via
    * [[graft.operators.AsOfJoin]] — one shuffle, no range-join blowup.
    * DuckDB's native ASOF LEFT JOIN is the oracle.
    */
  val q38AsofAttribution: QuerySpec = QuerySpec(
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
      graft.operators.AsOfJoin.asof(purchases, views, Seq("user_id"), "ts", "ts")
        .orderBy(col("event_id"))
    },
    """SELECT p.user_id, p.ts, p.event_id, p.value,
      |       v.ts AS asof_ts, v.event_id AS asof_view_event_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin)

  /** FORWARD as-of: for each view, the next purchase at-or-after it by
    * the same user (time-to-convert attribution) — the backward operator
    * reused through the negated-time reduction, checked against DuckDB's
    * native forward ASOF (`v.ts <= p.ts`).
    */
  val q63AsofForward: QuerySpec = QuerySpec(
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"), col("value"))
      graft.operators.AsOfJoin
        .asofForward(views, purchases, Seq("user_id"), "ts", "ts")
        .withColumn("secs_to_purchase",
          (unix_micros(col("asof_ts")) - unix_micros(col("ts"))).cast("double") / 1e6)
        .orderBy(col("event_id"))
    },
    """SELECT v.user_id, v.ts, v.event_id,
      |       p.ts AS asof_ts, p.event_id AS asof_purchase_event_id, p.value AS asof_value,
      |       cast(epoch_us(p.ts) - epoch_us(v.ts) AS double) / cast(1000000 AS double) AS secs_to_purchase
      |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') v
      |ASOF LEFT JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id AND v.ts <= p.ts
      |ORDER BY v.event_id""".stripMargin)

  /** The same attribution as q38, executed by the NATIVE custom operator
    * ([[graft.plans.NativeAsOf]]: LogicalPlan + Strategy + SparkPlan with
    * a per-partition merge sweep) instead of the compositional
    * union+window form — both must match DuckDB's independent ASOF.
    */
  val q41AsofNative: QuerySpec = QuerySpec(
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"))
      graft.plans.NativeAsOf.asof(purchases, views, Seq("user_id"), "ts", "v_ts")
        .orderBy(col("event_id"))
    },
    """SELECT p.user_id, p.ts, p.event_id, p.value,
      |       v.ts AS v_ts, v.event_id AS view_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin)

  /** Ordered funnel view → click → purchase: each step counts users whose
    * first step-event strictly follows their previous step's first event.
    * One row: step reach counts + conversion ratios.
    *
    * Scale: three per-user min-aggregations chained by equi-joins on
    * user_id — every stage shuffles (or reuses) the same user_id hash
    * partitioning, and each stage's output is ≤ one row per user, so the
    * chain never amplifies. Ratios divide exact bigints ⇒ bit-exact.
    */
  val q50Funnel: QuerySpec = QuerySpec(
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left_outer")
        .join(p, Seq("user_id"), "left_outer")
        .agg(count(col("t_view")).as("n_view"),
          count(col("t_click")).as("n_click"),
          count(col("t_purchase")).as("n_purchase"))
        // try_divide: NULL on an empty upstream step, matching DuckDB's
        // x/0 → NULL (plain `/` under ANSI mode would throw instead)
        .withColumn("view_to_click",
          expr("try_divide(cast(n_click AS double), cast(n_view AS double))"))
        .withColumn("click_to_purchase",
          expr("try_divide(cast(n_purchase AS double), cast(n_click AS double))"))
    },
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id),
      |f AS (SELECT v.user_id, t_view, t_click, t_purchase
      |      FROM v LEFT JOIN c ON v.user_id = c.user_id
      |             LEFT JOIN p ON v.user_id = p.user_id)
      |SELECT cast(count(t_view) AS bigint) AS n_view,
      |       cast(count(t_click) AS bigint) AS n_click,
      |       cast(count(t_purchase) AS bigint) AS n_purchase,
      |       cast(count(t_click) AS double) / cast(count(t_view) AS double) AS view_to_click,
      |       cast(count(t_purchase) AS double) / cast(count(t_click) AS double) AS click_to_purchase
      |FROM f""".stripMargin)

  /** Retention cohorts: users grouped by first-activity date; n_active =
    * distinct users from the cohort active again day_offset days later
    * (offsets 0–7). Integer date arithmetic — engine-exact.
    */
  val q51Retention: QuerySpec = QuerySpec(
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val first = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_date"))
      val act = ev.select(col("user_id"), to_date(col("ts")).as("act_date")).distinct()
      act.join(first, Seq("user_id"))
        .withColumn("day_offset", datediff(col("act_date"), col("cohort_date")))
        .filter(col("day_offset") <= 7)
        .groupBy(col("cohort_date").cast("timestamp").as("cohort_date"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_date"), col("day_offset"))
    },
    """WITH f AS (SELECT user_id, min(cast(ts AS date)) AS cohort_date
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, cast(ts AS date) AS act_date FROM events)
      |SELECT cast(cohort_date AS timestamp) AS cohort_date,
      |       cast(date_diff('day', cohort_date, act_date) AS integer) AS day_offset,
      |       count(DISTINCT a.user_id) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |WHERE date_diff('day', cohort_date, act_date) <= 7
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Gap sessionization through Spark's NATIVE session_window operator
    * (dynamic-gap session aggregation — in streaming this runs
    * incrementally with watermark state eviction; here its batch results
    * must equal the explicit window-algebra sessionizer q30, which is
    * what the oracle computes — including the boundary: events exactly
    * gap-apart MERGE in both, so the oracle splits only on gap > 30 min).
    * session_start/end are min/max event times (session_window's own
    * `end` is last+gap, a different convention than q30's).
    */
  val q61SessionWindowNative: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), decSum("value").as("total_value"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
    """WITH g AS (SELECT user_id, event_id, ts, value,
      |             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                       > 1800 * 1000000
      |                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |             THEN 1 ELSE 0 END AS new_session
      |           FROM events),
      |sess AS (SELECT user_id, ts, value,
      |           cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_seq
      |         FROM g)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events,
      |       cast(sum(cast(value AS decimal(12,2))) AS double) AS total_value
      |FROM sess GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start""".stripMargin)

  /** Date-partitioned event store, queried with partition pruning: the
    * events table is written `partitionBy(event_date)` — the layout a
    * 100 TB event archive actually uses — and the report reads a 7-day
    * window back through the partition filter, so the scan touches 7 of
    * the 30 day-directories and the other 23 days cost ZERO I/O
    * (`PlanAuditSpec` locks the selected-partition count). The oracle
    * computes the identical window from the raw table: partitioning is
    * pure layout, never semantics.
    */
  val q74PartitionedEvents: QuerySpec = QuerySpec(
    (s, dir) => {
      val store = graft.core.Staging.invocationDir("graft_q74_events", dir)
      Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(store)
      s.read.parquet(store)
        .filter(col("event_date").between(lit("2024-01-08"), lit("2024-01-14")))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
        .select(col("event_date").cast("timestamp").as("day"), col("event_type"),
          col("n_events"), col("n_users"))
        .orderBy(col("day"), col("event_type"))
    },
    """SELECT cast(cast(ts AS date) AS timestamp) AS day, event_type,
      |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE cast(ts AS date) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)

  /** Pure-RANGE join (no natural equi key), decomposed for scale: the
    * 10 busiest users' 90-minute windows [first_ts, first_ts+90min)
    * joined against ALL events whose ts falls inside any window —
    * whoever's they are.
    *
    * A naive ts-range join plans a nested-loop over the full event
    * stream. The scalable decomposition: both sides key by coarse HOUR
    * buckets — each interval explodes into the ≤3 buckets it covers,
    * each event into exactly its own — turning the join into an
    * EQUI-join on bucket with the range predicate as a residual. An
    * event's single bucket appears once per covering interval, so no
    * dedup pass is needed. The interval side is tiny (top-k windows)
    * and broadcasts; the busiest-user selection itself is
    * TakeOrderedAndProject (per-partition heap top-10, no global
    * sort). PlanAuditSpec locks the no-nested-loop property.
    */
  val q78RangeJoinBuckets: QuerySpec = QuerySpec(
    (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val HourMicros = 3600L * 1000 * 1000
      val owners = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("w_start"))
        .orderBy(col("n").desc, col("user_id")).limit(10)
        .select(col("user_id").as("owner"), col("w_start"),
          (col("w_start") + expr("INTERVAL 90 MINUTE")).as("w_end"))
      val intervals = owners.withColumn("b",
        explode(sequence(
          expr(s"unix_micros(w_start) div $HourMicros"),
          expr(s"(unix_micros(w_end) - 1) div $HourMicros"))))
      val bucketed = ev.withColumn("b", expr(s"unix_micros(ts) div $HourMicros"))
      bucketed.join(broadcast(intervals),
          bucketed("b") === intervals("b")
            && col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .groupBy(col("owner"), col("w_start"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
        .select(col("owner"), col("w_start").as("window_start"),
          col("n_events"), col("n_users"))
        .orderBy(col("owner"))
    },
    """WITH owners AS (
      |  SELECT user_id AS owner, min(ts) AS w_start,
      |         min(ts) + INTERVAL 90 MINUTE AS w_end
      |  FROM events GROUP BY user_id
      |  ORDER BY count(*) DESC, user_id LIMIT 10)
      |SELECT owner, cast(w_start AS timestamp) AS window_start,
      |       count(*) AS n_events, count(DISTINCT e.user_id) AS n_users
      |FROM owners o JOIN events e ON e.ts >= o.w_start AND e.ts < o.w_end
      |GROUP BY 1, 2 ORDER BY owner""".stripMargin)

  /** q83: SCD-2 dimension history — track each user's event_type as a
    * slowly-changing "status" attribute: one row per status CHANGE,
    * carrying [valid_from, valid_to) and an is_current flag. This is the
    * standard warehouse pattern for reconstructing a dimension's history
    * from an event log (point-in-time joins then become `valid_from <= t
    * AND (t < valid_to OR valid_to IS NULL)` probes).
    *
    * Plan: both windows (the change-detection lag and the valid_to lead)
    * partition by user_id with a (ts, event_id) total order, and the
    * filter between them preserves the partitioning — so the whole query
    * is ONE exchange on user_id, then per-partition sorts. No global
    * window, no join; scales with the number of users, and a skewed
    * user's history is bounded by that user's own event count.
    */
  val q83Scd2History: QuerySpec = QuerySpec(
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val changed = Tables.events(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      changed
        .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
        .select(col("user_id"), col("event_type").as("status"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    },
    """WITH marked AS (
      |  SELECT user_id, event_id, event_type, ts,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |changes AS (
      |  SELECT user_id, event_id, event_type, ts FROM marked
      |  WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type AS status, ts AS valid_from,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM changes ORDER BY user_id, valid_from""".stripMargin)

  /** q88: event-rate anomaly detection — hours whose per-type event count
    * spikes ≥ 2 sample standard deviations above that type's hourly mean.
    * The moments (n, Σc, Σc²) are exact BIGINT sums per event type — a
    * tiny map-side-combined rollup of the hourly-count relation — so the
    * z-score is one double expression tree over exact integers, written
    * identically in both engines (divisions and the IEEE-exact sqrt are
    * correctly rounded, so the comparison against 2.0 cannot disagree).
    * Plan: two chained aggregations (hourly counts, then per-type
    * moments) + a broadcast join back; the only full-data shuffle keys on
    * (event_type, hour). stddev_samp() itself would NOT be portable —
    * its running-merge accumulation is partition-order dependent.
    */
  val q88RateAnomaly: QuerySpec = QuerySpec(
    (s, dir) => {
      val h = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      val m = h.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("ss"))
      // variance numerator, kept as its own column so the degenerate
      // guard and z's divisor are the SAME double value: a type seen in
      // one hour (n=1) or with constant counts (zero variance) has no
      // z-score — without the guard Spark's default ANSI mode throws
      // DIVIDE_BY_ZERO while DuckDB yields NULL (gate divergence), and
      // a catastrophically-cancelled negative numerator would make
      // DuckDB's sqrt raise where Spark returns NaN
      val varNum = col("ss").cast("double") -
        col("s").cast("double") * col("s").cast("double") / col("n").cast("double")
      val z = (col("c").cast("double") - col("s").cast("double") / col("n").cast("double")) /
        sqrt(varNum / (col("n").cast("double") - lit(1.0)))
      h.join(broadcast(m), Seq("event_type"))
        .filter(col("n") > 1)
        .withColumn("vn", varNum)
        .filter(col("vn") > 0.0)
        .withColumn("z", z)
        .filter(col("z") >= 2.0)
        .select(col("event_type"), col("hr"), col("c"), col("z"))
        .orderBy(col("event_type"), col("hr"))
    },
    """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
      |           FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, count(*) AS n, cast(sum(c) AS bigint) AS s, cast(sum(c*c) AS bigint) AS ss
      |      FROM h GROUP BY 1),
      |j AS (SELECT h.event_type AS event_type, h.hr AS hr, h.c AS c, m.n AS n, m.s AS s,
      |        CAST(m.ss AS double) - CAST(m.s AS double) * CAST(m.s AS double) / CAST(m.n AS double) AS vn
      |      FROM h JOIN m ON h.event_type = m.event_type
      |      WHERE m.n > 1),
      |g AS (SELECT *,
      |        (CAST(c AS double) - CAST(s AS double) / CAST(n AS double))
      |          / sqrt(vn / (CAST(n AS double) - 1.0)) AS z
      |      FROM j WHERE vn > 0.0)
      |SELECT event_type, hr, cast(c AS bigint) AS c, z
      |FROM g WHERE z >= 2.0
      |ORDER BY event_type, hr""".stripMargin)

  /** q93: event-type transition matrix — first-order Markov transitions
    * over each user's journey (prev_type → next_type counts and row-
    * normalized probabilities), the sequence-modeling summary behind
    * "what do users do after an error". The sequencing window partitions
    * by user with the (ts, event_id) total order — per-user work, skew
    * bounded by a user's own event count, same shape as q83's SCD2 —
    * and everything after it is two tiny map-side-combinable aggregates
    * over at most |types|² rows. Probabilities are double ratios of
    * exact bigint counts: engine-portable, unlike any windowed float
    * accumulation. The per-prev totals join is broadcast (|types| rows).
    */
  val q93TransitionMatrix: QuerySpec = QuerySpec(
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tc = Tables.events(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("c"))
      val tot = tc.groupBy(col("prev")).agg(sum(col("c")).as("t"))
      tc.join(broadcast(tot), Seq("prev"))
        .select(col("prev"), col("next"), col("c"),
          (col("c").cast("double") / col("t").cast("double")).as("p"))
        .orderBy(col("prev"), col("next"))
    },
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |tc AS (SELECT prev, event_type AS next, count(*) AS c
      |       FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev, cast(sum(c) AS bigint) AS t FROM tc GROUP BY prev)
      |SELECT tc.prev AS prev, tc.next AS next, cast(tc.c AS bigint) AS c,
      |       CAST(tc.c AS double) / CAST(tot.t AS double) AS p
      |FROM tc JOIN tot ON tc.prev = tot.prev
      |ORDER BY prev, next""".stripMargin)

  /** q146: CUSUM drift detection over hourly event rates — the
    * sustained-shift monitor that complements q88's point z-scores: a
    * z-score flags a single anomalous hour, CUSUM accumulates small
    * sustained excess until it crosses a threshold, which is how ingest
    * monitoring catches a rate that quietly doubled (bot traffic, a
    * duplicated upstream feed) without any single hour looking odd.
    *
    * The recursive CUSUM s_i = max(0, s_{i-1} + (x_i − k)) is
    * de-recursed by the prefix-sum identity s_i = P_i − min_{0≤j≤i} P_j
    * (P = running sum of deviations, with the EMPTY prefix P_0 = 0
    * included — the running min is clamped at zero via least(0, ·),
    * because a window over rows 1..i alone would omit P_0 and
    * underestimate s_i whenever every prefix sum stays positive, i.e.
    * exactly when drift starts at the first hours) — two per-type
    * windows over the HOURLY rate series, never over raw events. Everything is exact
    * integer: deviations are scaled by n_hours (x·nh − total, so the
    * reference rate k = total/nh needs no division) and the threshold
    * is the cross-multiplication 8·cusum > total·nh (an eighth of total
    * scaled mass). The drifted stream is deterministic and
    * oracle-replayable: clicks on Jan 20–25 are duplicated (a doubled
    * rate window — the sustained shift), so the judged row shows the
    * detector localizing the onset inside the injected window for
    * 'click' and staying silent (0 flagged hours, NULL onset) on every
    * clean type at ANY scale — spec-pinned.
    *
    * Scale: raw events reduce to the (type, hour)-bounded rate frame in
    * one map-side-combinable groupBy; both windows and every join live
    * on that bounded frame (≤ types × hours rows), partitioned by
    * event_type.
    */
  val q146CusumDrift: QuerySpec = QuerySpec(
    (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("ts"))
      val drifted = ev.unionByName(
        ev.filter(col("event_type") === "click" &&
          dayofmonth(col("ts")).between(20, 25)))
      val h = drifted
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("x"))
      val tot = h.groupBy(col("event_type"))
        .agg(sum(col("x")).as("total"), count(lit(1)).as("nh"))
      val wSum = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val c = h.join(tot, Seq("event_type"))
        .withColumn("pre", sum(col("x") * col("nh") - col("total")).over(wSum))
        .withColumn("cusum", col("pre") - least(lit(0L), min(col("pre")).over(wSum)))
      c.select(col("event_type"), col("hr"), col("total"), col("nh"),
          when(col("cusum") * 8 > col("total") * col("nh"), 1L).otherwise(0L).as("f"),
          col("cusum"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), max(col("total")).as("total_events"),
          sum(col("f")).as("n_drift_hours"),
          min(when(col("f") === 1L, col("hr"))).as("drift_onset"),
          max(col("cusum")).as("max_cusum"))
        .orderBy(col("event_type"))
    },
    """WITH ev AS (SELECT event_type, ts FROM events
      |            UNION ALL
      |            SELECT event_type, ts FROM events
      |            WHERE event_type = 'click' AND day(ts) BETWEEN 20 AND 25),
      |h AS (SELECT event_type, date_trunc('hour', ts) AS hr, cast(count(*) AS bigint) AS x
      |      FROM ev GROUP BY 1, 2),
      |tot AS (SELECT event_type, cast(sum(x) AS bigint) AS total, cast(count(*) AS bigint) AS nh
      |        FROM h GROUP BY 1),
      |p AS (SELECT h.event_type, h.hr, t.total, t.nh,
      |        sum(h.x * t.nh - t.total) OVER (PARTITION BY h.event_type ORDER BY h.hr
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      |      FROM h JOIN tot t USING (event_type)),
      |c AS (SELECT *, pre - least(0, min(pre) OVER (PARTITION BY event_type ORDER BY hr
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum FROM p)
      |SELECT event_type, cast(count(*) AS bigint) AS n_hours,
      |  cast(max(total) AS bigint) AS total_events,
      |  cast(sum(CASE WHEN cusum * 8 > total * nh THEN 1 ELSE 0 END) AS bigint) AS n_drift_hours,
      |  min(CASE WHEN cusum * 8 > total * nh THEN hr END) AS drift_onset,
      |  cast(max(cusum) AS bigint) AS max_cusum
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)

  /** q147: k-anonymity accounting — the re-identification-risk report
    * that sits next to q110's PII redaction on the governance side of a
    * training-data release: PII redaction removes direct identifiers,
    * but a row is still re-identifiable when its QUASI-identifier
    * combination (here nation × market segment × a 2000-unit account-
    * balance band) is shared by fewer than k released rows. For each
    * candidate k the judged row counts the equivalence classes below k
    * and the rows they expose, plus the dataset's realized k-anonymity
    * (the minimum class size — the single number a release review
    * asks for).
    *
    * Exactness: the balance band is integer arithmetic on cents —
    * `round(bal·100)` is exact for 2-decimal doubles in both engines,
    * and the +100000 shift makes the band division's operands
    * non-negative, so DuckDB's floor `//` and Spark's truncating `div`
    * agree without the mathematical-mod dance (q64's pattern is only
    * needed when operands can be negative).
    *
    * Scale: one map-side-combinable groupBy reduces the released table
    * to the bounded class frame (≤ nations × segments × bands rows);
    * the threshold lattice rides a broadcast cross join and every
    * rollup lives on that bounded frame.
    */
  val q147KAnonymity: QuerySpec = QuerySpec(
    (s, dir) => {
      import s.implicits._
      val cls = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          expr("(cast(round(c_acctbal * 100) AS bigint) + 100000) div 200000")
            .as("bal_band"))
        .agg(count(lit(1)).as("sz"))
      val ks = Seq(2, 5, 10, 20).toDF("k")
      cls.crossJoin(broadcast(ks))
        .groupBy(col("k"))
        .agg(sum(when(col("sz") < col("k"), 1L).otherwise(0L)).as("classes_below"),
          sum(when(col("sz") < col("k"), col("sz")).otherwise(0L)).as("rows_at_risk"),
          count(lit(1)).as("n_classes"),
          min(col("sz")).as("k_anonymity"))
        .orderBy(col("k"))
    },
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         (cast(round(c_acctbal * 100) AS bigint) + 100000) // 200000 AS bal_band,
      |         cast(count(*) AS bigint) AS sz
      |  FROM customer GROUP BY 1, 2, 3),
      |k AS (SELECT unnest([2, 5, 10, 20]) AS k)
      |SELECT k,
      |  cast(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS bigint) AS classes_below,
      |  cast(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS bigint) AS rows_at_risk,
      |  cast(count(*) AS bigint) AS n_classes,
      |  cast(min(sz) AS bigint) AS k_anonymity
      |FROM cls CROSS JOIN k GROUP BY k ORDER BY k""".stripMargin)

  /** q148: point-in-time feature join with a leakage proof — the
    * feature-store correctness property supervised training rests on: a
    * training example's features must be computed from data STRICTLY
    * BEFORE the example's own timestamp, or the model trains on the
    * future it is supposed to predict. Examples are purchase events;
    * the feature is the user's prior view count. The PIT leg computes
    * it with a per-user window over the (ts, event_id)-ordered event
    * stream (`rows unbounded preceding → 1 preceding` — strictly
    * before, deterministic total order); the NAIVE leg is the
    * full-window per-user aggregate every leaky pipeline reaches for.
    * Judged per purchase day: examples, both feature sums, examples
    * where naive > pit (leaked) and the worst leak — a leakage-DECAY
    * curve (day 1: pit ≈ 0 vs naive ≈ full history — pure future; day
    * 30: near-parity), which is the q130-pattern before/after proof as
    * a time series. Spec-pinned: early-day leakage dwarfs late-day,
    * naive ≥ pit everywhere, and the PIT column matches a per-user
    * in-memory replay.
    *
    * Scale: the window is PARTITIONED by user (user-bounded state, the
    * canonical feature-backfill shape); the naive margin is a
    * map-side-combinable groupBy; the example join is user-keyed and
    * unhinted; the rollup frame is ≤31 rows.
    */
  val q148PitFeatures: QuerySpec = QuerySpec(
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      val wPit = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val withPit = ev.withColumn("pit",
        coalesce(sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(wPit),
          lit(0L)))
      val tot = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("naive"))
      withPit.filter(col("event_type") === "purchase")
        .join(tot, Seq("user_id"))
        .groupBy(dayofmonth(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_examples"),
          sum(col("pit")).as("pit_sum"),
          sum(col("naive")).as("naive_sum"),
          sum(when(col("naive") > col("pit"), 1L).otherwise(0L)).as("n_leaked"),
          max(col("naive") - col("pit")).as("max_leak"))
        .orderBy(col("d"))
    },
    """WITH ev AS (SELECT user_id, event_id, event_type, ts FROM events
      |            WHERE event_type IN ('view', 'purchase')),
      |w AS (SELECT *,
      |        sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pit_views
      |      FROM ev),
      |tot AS (SELECT user_id,
      |          cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS bigint) AS naive
      |        FROM ev GROUP BY 1),
      |ex AS (SELECT w.user_id, cast(day(w.ts) AS integer) AS d,
      |         cast(coalesce(w.pit_views, 0) AS bigint) AS pit, t.naive
      |       FROM w JOIN tot t USING (user_id) WHERE w.event_type = 'purchase')
      |SELECT d, cast(count(*) AS bigint) AS n_examples,
      |  cast(sum(pit) AS bigint) AS pit_sum,
      |  cast(sum(naive) AS bigint) AS naive_sum,
      |  cast(sum(CASE WHEN naive > pit THEN 1 ELSE 0 END) AS bigint) AS n_leaked,
      |  cast(max(naive - pit) AS bigint) AS max_leak
      |FROM ex GROUP BY d ORDER BY d""".stripMargin)

  val all: Map[String, QuerySpec] = Map(
    "q148_pit_features" -> q148PitFeatures,
    "q147_k_anonymity" -> q147KAnonymity,
    "q146_cusum_drift" -> q146CusumDrift,
    "q93_transition_matrix" -> q93TransitionMatrix,
    "q88_rate_anomaly" -> q88RateAnomaly,
    "q83_scd2_history" -> q83Scd2History,
    "q78_range_join_buckets" -> q78RangeJoinBuckets,
    "q74_partitioned_events" -> q74PartitionedEvents,
    "q63_asof_forward" -> q63AsofForward,
    "q61_session_window" -> q61SessionWindowNative,
    "q50_funnel" -> q50Funnel,
    "q51_retention" -> q51Retention,
    "q41_asof_native" -> q41AsofNative,
    "q38_asof_attribution" -> q38AsofAttribution,
    "q35_props_struct" -> q35PropsStruct,
    "q23_tumbling_windows" -> q23TumblingWindows,
    "q24_sliding_windows" -> q24SlidingWindows,
    "q28_json_extract" -> q28JsonExtract,
    "q30_sessionize" -> q30Sessionize)
}
