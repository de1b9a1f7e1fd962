package graft
package entry

import Fixtures._
import org.apache.spark.sql.functions._

/** Event analytics: windows, sessions, as-of joins, rollups, sketches,
  * quantiles and preference ranking. */
private[graft] object EventsQueries {

  /** 17-significant-digit decimal of ln(γ) for the DDSketch oracle — the
    * SAME double the Spark side ships as a literal, so both engines
    * bucket ⌈ln(v)/ln(γ)⌉ bit-identically (17 digits round-trip any
    * IEEE double exactly). */
  private[entry] val ddLnGamma: String = f"${math.log(1.02 / 0.98)}%.17g"

  /** The Bradley–Terry MM replay: count matrix, 8 unrolled rounds (join
    * previous scores once via the self-loop-augmented matrix, window-max
    * π_i back into the i-partition, DECIMAL-routed j-sum), normalized
    * through one unbounded window — mirrors EventOps.bradleyTerry
    * bit-for-bit. */
  private lazy val btRankOracleSql: String = btRankOracleSqlFor("")

  /** The same MM replay over a filtered event slice — the streaming
    * maintenance oracle (`stream_pref_rank`) solves the bounded feed. */
  private[entry] def btRankOracleSqlFor(where: String): String = {
    val rounds = (1 to 8).map { k =>
      s"""bt$k AS (SELECT gs.i, gs.j, gs.n, p.pi AS pj FROM gs JOIN br${k - 1} p ON p.item = gs.j),
        |bu$k AS (SELECT i, j, n, pj, max(CASE WHEN j = i THEN pj END) OVER (PARTITION BY i) AS pii FROM bt$k),
        |bd$k AS (SELECT i, sum(CAST(n / (pii + pj) AS DECIMAL(27,12))) AS den FROM bu$k WHERE j != i GROUP BY 1),
        |br$k AS (SELECT d.i AS item, w.wins / CAST(d.den AS DOUBLE) AS pi FROM bd$k d JOIN wins w ON w.i = d.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS (SELECT event_id % 7 AS ia,
      |    CASE WHEN ((event_id // 7) % 6) >= (event_id % 7) THEN ((event_id // 7) % 6) + 1 ELSE (event_id // 7) % 6 END AS ib,
      |    CASE WHEN value >= 35.0 THEN 1 ELSE 0 END AS awin FROM events$where),
      |dirn AS (SELECT ia AS i, ib AS j, awin AS wi FROM pr UNION ALL SELECT ib, ia, 1 - awin FROM pr),
      |gm AS (SELECT i, j, count(*) AS n, sum(wi) AS w FROM dirn GROUP BY 1, 2),
      |wins AS (SELECT i, sum(w) AS wins FROM gm GROUP BY 1),
      |items AS (SELECT DISTINCT i FROM gm),
      |gs AS (SELECT i, j, n FROM gm UNION ALL SELECT i, i, 0 FROM items),
      |br0 AS (SELECT i AS item, 1.0::DOUBLE AS pi FROM items),
      |$rounds
      |SELECT item, round(pi / CAST(tot AS DOUBLE), 6) AS score,
      |  CAST(row_number() OVER (ORDER BY pi / CAST(tot AS DOUBLE) DESC, item ASC) AS INTEGER) AS "rank"
      |FROM (SELECT item, pi, sum(CAST(pi AS DECIMAL(27,12))) OVER () AS tot FROM br8)""".stripMargin
  }

  /** The fixed-order pass@k product Π_{i=0}^{k−1}(n−c−i)/(n−i) —
    * identical op order to EventOps.passAtK's foldLeft. */
  private def passkProdSql(k: Int): String =
    (1 until k).foldLeft("(n - c) / n") { (e, i) =>
      s"$e * ((n - c - $i) / (n - $i))"
    }

  /** DuckDB's native ASOF JOIN: the truth for both the plain and the
    * chunked as-of join. */
  private lazy val asofJoinOracleSql: String =
    """SELECT l.event_id, l.user_id,
      |  CAST(epoch_ms(l.ts) AS BIGINT) AS ts_ms,
      |  CAST(epoch_ms(r.ts) AS BIGINT) AS asof_ts_ms,
      |  r.value AS asof_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  val all: Seq[Query] = Seq(
    // Extension: JSON property extraction from the events props column.
    // Uses the codegen string-scan kernel (no per-row Jackson parser) when
    // the extension is registered; get_json_object otherwise.
    Query("events_props_extract", (s, dir) =>
      events(s, dir).select(
        col("event_id"),
        graft.ops.TextFunctions.jsonGetFor(s)(col("props"), "k").cast("int").as("k")),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin),

    // Extension: per-user conversion delay — first signup to first
    // purchase at-or-after it (aggregate-only; no event-history window).
    Query("events_conversion", (s, dir) =>
      graft.ops.EventOps.conversionDelay(
        events(s, dir), "user_id", "ts", "event_type", "signup", "purchase"),
      """WITH f AS (SELECT user_id, min(epoch_ms(ts)) FILTER (event_type = 'signup') AS from_ms
        |           FROM events GROUP BY 1),
        |t AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS to_ms
        |      FROM events e JOIN f ON e.user_id = f.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= f.from_ms
        |      GROUP BY 1)
        |SELECT f.user_id, f.from_ms, t.to_ms, t.to_ms - f.from_ms AS delay_ms,
        |  t.to_ms IS NOT NULL AS converted
        |FROM f LEFT JOIN t ON f.user_id = t.user_id
        |WHERE f.from_ms IS NOT NULL""".stripMargin),

    // Extension: tumbling-window aggregation with order-independent sums
    // (double sums go through DECIMAL so partial-agg order can't change bits).
    Query("events_window_agg", (s, dir) =>
      graft.ops.EventOps.windowedAgg(events(s, dir), "ts", "event_type", "value", "1 hour"),
      """SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS window_start_ms, event_type,
        |  count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Extension: hopping-window aggregation — 1 h windows every 30 min;
    // each event explodes narrowly to its 2 windows and the aggregate
    // keeps the single tumbling-case shuffle.
    Query("events_hopping_window", (s, dir) =>
      graft.ops.EventOps.hoppingAgg(events(s, dir), "ts", "event_type", "value",
        "1 hour", "30 minutes"),
      """WITH e AS (SELECT event_type, value, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events),
        |w AS (SELECT event_type, value, (ms // 1800000 - i) * 1800000 AS ws FROM e, range(2) r(i))
        |SELECT CAST(ws AS BIGINT) AS window_start_ms, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin),

    // Extension: gap-based sessionization (30-minute inactivity gap).
    Query("events_sessionize", (s, dir) =>
      graft.ops.EventOps.sessionize(events(s, dir), "user_id", "ts", 30 * 60 * 1000L),
      """WITH x AS (SELECT user_id, ts, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |y AS (SELECT user_id, ts_ms,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, count(*) AS n_events, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |FROM y GROUP BY 1, 2""".stripMargin),

    // Extension: per-user daily lag/rolling feature frame — the
    // forecasting/churn feature export: day totals (DECIMAL-routed),
    // observed-day row lags (1 and 7 back), trailing-7-row mean.
    Query("events_lag_features", (s, dir) =>
      graft.ops.EventOps.lagFeatures(events(s, dir), "user_id", "ts", "value"),
      """WITH d AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |    sum(CAST(value AS DECIMAL(18,6))) AS dv, count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, n_events,
        |  round(CAST(dv AS DOUBLE), 6) AS day_value,
        |  round(CAST(lag(dv, 1) OVER w AS DOUBLE), 6) AS lag1_value,
        |  round(CAST(lag(dv, 7) OVER w AS DOUBLE), 6) AS lag7_value,
        |  round(CAST(sum(dv) OVER w7 AS DOUBLE) / count(*) OVER w7, 6) AS roll7_mean
        |FROM d
        |WINDOW w AS (PARTITION BY user_id ORDER BY day),
        |  w7 AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),

    // Extension: session attribution — purchases attach into the
    // view/click sessions whose window contains them (equi-join on the
    // user + residual range, never a cross product); unconverted
    // sessions kept at zero.
    Query("events_session_attach", (s, dir) =>
      graft.ops.EventOps.sessionAttach(
        events(s, dir).filter(col("event_type").isin("view", "click")),
        events(s, dir).filter(col("event_type") === "purchase"),
        "user_id", "ts", 30 * 60 * 1000L, "value"),
      """WITH a AS (SELECT user_id, ts, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE event_type IN ('view', 'click')),
        |y AS (SELECT user_id, ts_ms,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM a),
        |s AS (SELECT user_id, session_id, count(*) AS n_events, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |  FROM y GROUP BY 1, 2),
        |p AS (SELECT user_id, epoch_ms(ts) AS pms, value FROM events WHERE event_type = 'purchase')
        |SELECT s.user_id, s.session_id, s.n_events, s.start_ms, s.end_ms,
        |  count(p.pms) AS n_attached,
        |  round(CAST(COALESCE(SUM(CAST(p.value AS DECIMAL(18,6))), 0) AS DOUBLE), 6) AS attached_value
        |FROM s LEFT JOIN p ON p.user_id = s.user_id AND p.pms BETWEEN s.start_ms AND s.end_ms
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin),

    // Extension: cohort retention — users bucketed by first-activity week,
    // activity counted per (cohort, week); integer week arithmetic keeps
    // it engine-portable.
    Query("events_cohort", (s, dir) =>
      graft.ops.EventOps.cohortRetention(events(s, dir), "user_id", "ts"),
      """WITH wk AS (SELECT user_id, epoch_ms(ts) // 604800000 AS w FROM events),
        |f AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, w AS active_week FROM wk)
        |SELECT f.cohort_week, a.active_week, a.active_week - f.cohort_week AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2, 3""".stripMargin),

    // Extension: per-day wide pivot over the (caller-supplied) event-type
    // domain — counts + DECIMAL-routed value sums per type as one
    // conditional-aggregation pass (see pivotProfile scaladoc for why
    // this beats .pivot at scale).
    Query("events_pivot", (s, dir) =>
      graft.ops.EventOps.pivotProfile(events(s, dir), "ts", "event_type", "value",
        Seq("click", "error", "purchase", "signup", "view")),
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  round(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_click,
        |  count(*) FILTER (event_type = 'error') AS n_error,
        |  round(CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_error,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  round(CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_purchase,
        |  count(*) FILTER (event_type = 'signup') AS n_signup,
        |  round(CAST(sum(CAST(CASE WHEN event_type = 'signup' THEN value ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_signup,
        |  count(*) FILTER (event_type = 'view') AS n_view,
        |  round(CAST(sum(CAST(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_view
        |FROM events GROUP BY 1""".stripMargin),

    // Extension: first-touch attribution — per purchase event, the type
    // of the user's first event plus elapsed ms and prior-event count at
    // conversion; cumulative window, (ts, event_id)-pinned tie order.
    Query("events_attribution", (s, dir) =>
      graft.ops.EventOps.firstTouchAttribution(events(s, dir),
        "user_id", "ts", "event_type", "event_id", "purchase"),
      """WITH w AS (SELECT event_id, user_id, event_type,
        |    epoch_ms(ts) AS ts_ms,
        |    first_value(event_type) OVER u AS first_touch,
        |    min(epoch_ms(ts)) OVER u AS first_ms,
        |    count(*) OVER u AS n_cum
        |  FROM events
        |  WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, first_touch,
        |  ts_ms - first_ms AS ms_to_convert,
        |  n_cum - 1 AS n_prior_events
        |FROM w WHERE event_type = 'purchase'""".stripMargin),

    // Extension: top-25 3-step event-type sequences in per-user
    // timestamp order — sequence mining for funnel discovery; the global
    // cut is TakeOrderedAndProject with ties broken on the sequence.
    Query("events_top_sequences", (s, dir) =>
      graft.ops.EventOps.topSequences(events(s, dir),
        "user_id", "ts", "event_type", "event_id"),
      """WITH s AS (SELECT
        |    event_type AS t0,
        |    lead(event_type, 1) OVER u AS t1,
        |    lead(event_type, 2) OVER u AS t2
        |  FROM events
        |  WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t0 || '>' || t1 || '>' || t2 AS seq, count(*) AS n_occurrences
        |FROM s WHERE t2 IS NOT NULL
        |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 25""".stripMargin),

    // Extension: multi-level OLAP rollup — (type, day) subtotals, per-type
    // totals, grand total in one Expand+aggregate pass; grouping() flags
    // disambiguate the 'ALL' labels from genuine values.
    Query("events_rollup", (s, dir) =>
      graft.ops.EventOps.rollupProfile(events(s, dir), "event_type", "ts", "value"),
      // GROUPING() disambiguates the rolled-up 'ALL' labels; the DECIMAL
      // route keeps the sums partial-order independent in both engines.
      """WITH e AS (SELECT event_type AS k, CAST(ts AS DATE) AS d, value FROM events)
        |SELECT coalesce(CAST(k AS VARCHAR), 'ALL') AS key,
        |  coalesce(CAST(d AS VARCHAR), 'ALL') AS day,
        |  CAST(GROUPING(k) AS INTEGER) AS g_key,
        |  CAST(GROUPING(d) AS INTEGER) AS g_day,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS vsum
        |FROM e GROUP BY ROLLUP (k, d)""".stripMargin),

    // Extension: CUBE — all four grouping sets in the same single
    // Expand+aggregate pass as the rollup.
    Query("events_cube", (s, dir) =>
      graft.ops.EventOps.cubeProfile(events(s, dir), "event_type", "ts", "value"),
      """WITH e AS (SELECT event_type AS k, CAST(ts AS DATE) AS d, value FROM events)
        |SELECT coalesce(CAST(k AS VARCHAR), 'ALL') AS key,
        |  coalesce(CAST(d AS VARCHAR), 'ALL') AS day,
        |  CAST(GROUPING(k) AS INTEGER) AS g_key,
        |  CAST(GROUPING(d) AS INTEGER) AS g_day,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS vsum
        |FROM e GROUP BY CUBE (k, d)""".stripMargin),

    // Extension: explicit GROUPING SETS — the third member of the
    // multi-level-aggregate family (rollup = prefix sets, cube = all
    // sets): exactly the three ASKED-FOR sets (type), (user bucket),
    // (grand total) in one Expand+aggregate pass via Spark 4's
    // Dataset.groupingSets, with grouping_id() disambiguating which set
    // a row belongs to.
    Query("events_grouping_sets", (s, dir) => {
      val ev = events(s, dir).withColumn("ub", col("user_id") % 10)
      ev.groupingSets(
          Seq(Seq(col("event_type")), Seq(col("ub")), Seq.empty),
          col("event_type"), col("ub"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double"), 6).as("value_sum"),
          grouping_id().cast("long").as("gid"))
    },
      // The three explicit sets replay verbatim; GROUPING(a, b) is the
      // same leftmost-most-significant bitmask as Spark's grouping_id().
      """WITH e AS (SELECT event_type, user_id % 10 AS ub, value FROM events)
        |SELECT event_type, ub, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum,
        |  CAST(GROUPING(event_type, ub) AS BIGINT) AS gid
        |FROM e GROUP BY GROUPING SETS ((event_type), (ub), ())""".stripMargin),

    // Extension: time-series gap fill — densify per-(type, hour) counts
    // over the corpus's full bucket range with explicit zero rows; the
    // grid is generated from a 1-row bounds aggregate, never scanned.
    Query("events_gap_fill", (s, dir) =>
      graft.ops.EventOps.gapFill(events(s, dir), "event_type", "ts", "value", 3600000L),
      // The grid generates laterally from the 1-row bounds aggregate in
      // both engines; zero rows are explicit, not absent.
      """WITH a AS (SELECT event_type AS k, epoch_ms(ts) // 3600000 AS bucket,
        |    count(*) AS n,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS vsum
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM a),
        |grid AS (SELECT k, unnest(generate_series(b.lo, b.hi)) AS bucket
        |         FROM (SELECT DISTINCT k FROM a) keys, b)
        |SELECT g.k AS event_type, g.bucket,
        |  coalesce(a.n, 0) AS n, coalesce(a.vsum, 0.0) AS vsum
        |FROM grid g LEFT JOIN a ON g.k = a.k AND g.bucket = a.bucket""".stripMargin),

    // Extension: robust outlier gate — per-type median + MAD (median
    // absolute deviation) and the count of values beyond 3 scaled MADs.
    // The per-key stat tables broadcast back; the fact table never
    // shuffles beyond its own aggregations.
    Query("events_anomaly_mad", (s, dir) =>
      graft.ops.EventOps.madOutlierGate(events(s, dir), "event_type", "value"),
      // Medians/MADs interpolate identically (quantile_cont ↔ percentile,
      // proven by events_quantile_gate); the outlier count uses the
      // UNROUNDED stats so both engines gate on the same threshold.
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type, count(*) AS n, min(m.med) AS med_raw,
        |    quantile_cont(abs(e.value - m.med), 0.5) AS mad_raw
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1),
        |outl AS (SELECT e.event_type,
        |    count(*) FILTER (WHERE abs(e.value - m.med) > 3.0 * 1.4826 * d.mad_raw) AS n_outliers
        |  FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type) GROUP BY 1)
        |SELECT d.event_type, d.n, round(d.med_raw, 6) AS med,
        |  round(d.mad_raw, 6) AS mad, o.n_outliers
        |FROM mad d JOIN outl o USING (event_type)""".stripMargin),

    // Extension: per-event trailing-rate feature — events by the same user
    // in the preceding hour, a RANGE frame over epoch seconds (tie-order
    // independent by construction).
    Query("events_rate_window", (s, dir) =>
      graft.ops.EventOps.slidingRate(events(s, dir), "user_id", "ts", 3600L)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("n_trailing")),
      // RANGE frame over epoch seconds — tie-order independent, so the
      // per-event counts are deterministic in both engines.
      """SELECT user_id, epoch_ms(ts) AS ts_ms,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_trailing
        |FROM events""".stripMargin),

    // Extension: debounce — drop an event whose predecessor of the same
    // (user, type) landed under 10 minutes before it (duplicate-click /
    // retry-storm suppression); one (user, type) window pass, no join.
    Query("events_debounce", (s, dir) =>
      graft.ops.EventOps.debounce(events(s, dir),
          "user_id", "event_type", "ts", "event_id", 600000L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms")),
      """WITH w AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) AS prev_ms
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts_ms
        |FROM w WHERE prev_ms IS NULL OR ts_ms - prev_ms >= 600000""".stripMargin),

    // Extension: rolling 7-day distinct actives per observed day. The
    // Spark side EXPLODES each deduped (day, user) pair to the 7 windows
    // it serves (narrow — the range join becomes arithmetic); the oracle
    // is the independent naive formulation (day grid range-joined to the
    // pairs), so the rewrite itself is what the hash match proves.
    Query("events_rolling_active", (s, dir) =>
      graft.ops.EventOps.rollingActive(events(s, dir), "user_id", "ts", 7),
      // Deliberately the NAIVE formulation (day grid range-joined to deduped
      // (day, user) pairs) — independent of the Spark side's explode-to-
      // equi-join rewrite, so the hash match proves the rewrite.
      """WITH du AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id FROM events),
        |obs AS (SELECT DISTINCT day FROM du)
        |SELECT obs.day AS day, count(DISTINCT du.user_id) AS active_users
        |FROM obs JOIN du ON du.day BETWEEN obs.day - 6 AND obs.day
        |GROUP BY 1""".stripMargin),

    // Extension: SCD2 change history — per user, collapse the event stream
    // to event_type TRANSITIONS and stamp each surviving version with
    // [valid_from, valid_to) epoch-millis and a version number (the
    // slowly-changing-dimension build every mutation feed needs).
    Query("events_change_history", (s, dir) =>
      graft.ops.EventOps.changeHistory(events(s, dir),
        "user_id", "event_type", "ts", "event_id"),
      """WITH w AS (SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |v AS (SELECT user_id, event_type, event_id, ts_ms AS valid_from_ms
        |  FROM w WHERE event_type IS DISTINCT FROM prev_type)
        |SELECT user_id, event_type, valid_from_ms,
        |  lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY valid_from_ms, event_id) AS valid_to_ms,
        |  row_number() OVER (PARTITION BY user_id ORDER BY valid_from_ms, event_id) AS version_n
        |FROM v""".stripMargin),

    // Extension: first-order Markov transition matrix over consecutive
    // same-user event types — counts + row-normalized probabilities; the
    // per-from totals broadcast back, so the pair table shuffles once.
    Query("events_markov", (s, dir) =>
      graft.ops.EventOps.transitionMatrix(events(s, dir),
        "user_id", "ts", "event_type", "event_id"),
      // BIGINT / HUGEINT division yields DOUBLE in DuckDB exactly as long /
      // long does in Spark — p is a ratio of exact integers in both engines.
      """WITH pr AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n
        |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, round(c.n / t.n_from, 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin),

    // Extension: per-key numeric value profile (data-quality stats with
    // order-independent DECIMAL sums and the exact interpolated median).
    Query("events_value_profile", (s, dir) =>
      graft.ops.EventOps.valueProfile(events(s, dir), "event_type", "value")
        .select(col("event_type"), col("n"), col("n_null"),
          round(col("vmin"), 6).as("vmin"), round(col("vmax"), 6).as("vmax"),
          col("vsum"), round(col("vavg"), 6).as("vavg"),
          round(col("p50"), 6).as("p50")),
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_null,
        |  round(min(value), 6) AS vmin,
        |  round(max(value), 6) AS vmax,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS vsum,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS vavg,
        |  round(quantile_cont(value, 0.5), 6) AS p50
        |FROM events GROUP BY 1""".stripMargin),

    // Extension: exact per-key cardinality (oracle-checked half of the
    // profile; the HLL estimate below is checked rows-only).
    Query("events_distinct_by_type", (s, dir) =>
      graft.ops.EventOps.cardinalityProfile(events(s, dir), "event_type", "user_id")
        .select(col("event_type"), col("n"), col("nd_exact")),
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS nd_exact
        |FROM events GROUP BY 1""".stripMargin),

    // Extension: HyperLogLog cardinality estimate — the 100 TB path
    // (constant-size sketches instead of a distinct shuffle). HLL bit
    // patterns differ across engines, so the oracle gates the ESTIMATE
    // QUALITY instead: |approx - exact| / exact <= 5% must hold per key.
    Query("events_approx_distinct", (s, dir) =>
      graft.ops.EventOps.cardinalityProfile(events(s, dir), "event_type", "user_id")
        .select(col("event_type"), col("n"), col("nd_exact"),
          (abs(col("nd_approx") - col("nd_exact")) / col("nd_exact") <= 0.05)
            .as("within_5pct")),
      // HLL bit patterns differ across engines; the oracle asserts the
      // estimate lands within 5% of exact (emitted as a literal `true`).
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS nd_exact,
        |  true AS within_5pct
        |FROM events GROUP BY 1""".stripMargin),

    // Extension: mergeable HLL sketches AS DATA (ops/Sketches) — per-shard
    // register TABLES whose union is a register-wise max over ≤m tiny rows,
    // never a rescan of the shards. Unlike events_approx_distinct (whose
    // engine-internal HLL bits force a quality-only gate), the md5/bin
    // construction is engine-deterministic, so the oracle recomputes the
    // ESTIMATES bit-for-bit. Keyed on event_id (~2k distinct per shard) so
    // the estimate stays in the pure integer-arithmetic regime — the
    // linear-counting branch (libm ln) stays cold at the gate's SF.
    Query("events_hll_shards", (s, dir) =>
      graft.ops.Sketches.hllReport(
        events(s, dir), col("event_id").cast("string"), "event_type"),
      // The Sketches.scala HLL is engine-deterministic by construction
      // (md5 hash, bit-length rho via bin(), exact-integer harmonic sum,
      // one fixed IEEE multiply/divide chain), so DuckDB recomputes the
      // full report — registers, estimates, and the 3-sigma verdict —
      // bit-for-bit. Float literals are ::DOUBLE-pinned: DuckDB parses
      // bare decimals as DECIMAL, which would change the arithmetic.
      """WITH keyed AS MATERIALIZED (
        |  SELECT CAST(event_id AS VARCHAR) AS k, event_type AS shard FROM events),
        |regs AS MATERIALIZED (
        |  SELECT shard,
        |    CAST(CONCAT('0x', substring(md5(k), 1, 2)) AS BIGINT) AS idx,
        |    MAX(CASE WHEN CAST(CONCAT('0x', substring(md5(k), 3, 13)) AS BIGINT) = 0
        |        THEN 53
        |        ELSE 53 - length(bin(CAST(CONCAT('0x', substring(md5(k), 3, 13)) AS BIGINT)))
        |        END) AS rho
        |  FROM keyed GROUP BY 1, 2),
        |allregs AS MATERIALIZED (
        |  SELECT shard, idx, rho FROM regs
        |  UNION ALL
        |  SELECT '__union' AS shard, idx, MAX(rho) AS rho FROM regs GROUP BY idx),
        |agg AS MATERIALIZED (
        |  SELECT shard, COUNT(*) AS used,
        |    SUM(1::BIGINT << (53 - rho)) AS num_occ
        |  FROM allregs GROUP BY shard),
        |fin AS MATERIALIZED (
        |  SELECT shard, used, 256 - used AS v,
        |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
        |      * 65536.0::DOUBLE * 9007199254740992.0::DOUBLE)
        |      / CAST(num_occ + (256 - used) * (1::BIGINT << 53) AS DOUBLE) AS raw
        |  FROM agg),
        |est AS MATERIALIZED (
        |  SELECT shard,
        |    CAST(used AS INT) AS registers_used,
        |    CAST(v AS INT) AS v_zero,
        |    round(CASE WHEN raw <= 640.0::DOUBLE AND v > 0
        |      THEN 256.0::DOUBLE * ln(256.0::DOUBLE / CAST(v AS DOUBLE))
        |      ELSE raw END, 4) AS estimate,
        |    (raw <= 640.0::DOUBLE AND v > 0) AS corrected
        |  FROM fin),
        |ex AS MATERIALIZED (
        |  SELECT shard, count(DISTINCT k) AS nd_exact FROM keyed GROUP BY 1
        |  UNION ALL
        |  SELECT '__union' AS shard, count(DISTINCT k) AS nd_exact FROM keyed)
        |SELECT e.shard, e.registers_used, e.v_zero, e.estimate, e.corrected,
        |  x.nd_exact,
        |  (abs(e.estimate - x.nd_exact) / x.nd_exact
        |    <= 3.0::DOUBLE * 1.04::DOUBLE / sqrt(256.0::DOUBLE)) AS within_3sigma
        |FROM est e JOIN ex x USING (shard)""".stripMargin),

    // Extension: the HLL MERGE PROPERTY proven as a query — the register
    // table unioned from the five per-shard sketches must equal, register
    // by register, the sketch built from scratch over all the data. This
    // is the property that makes stored sketches trustworthy: any shard
    // combination's distinct count never needs the shards again.
    Query("events_hll_union", (s, dir) => {
      val keyed = events(s, dir).select(
        col("event_id").cast("string").as("k"), col("event_type").as("shard"))
      val regs = graft.ops.Sketches.hllRegisters(keyed, col("k"), "shard")
      val merged = graft.ops.Sketches.hllUnion(regs, "merged")
        .select(col("idx"), col("rho").as("rho_merged"))
      val scratch = graft.ops.Sketches.hllRegisters(
          keyed.select(col("k"), lit("all").as("shard")), col("k"), "shard")
        .select(col("idx"), col("rho").as("rho_scratch"))
      merged.join(scratch, Seq("idx"), "full_outer")
        .agg(count(lit(1)).as("n_registers"),
          sum(when(col("rho_merged") <=> col("rho_scratch"), 1).otherwise(0))
            .as("n_match"))
        .select(col("n_registers"), col("n_match"),
          (col("n_registers") === col("n_match")).as("merge_equals_scratch"))
    },
      """WITH keyed AS MATERIALIZED (
        |  SELECT CAST(event_id AS VARCHAR) AS k, event_type AS shard FROM events),
        |regs AS MATERIALIZED (
        |  SELECT shard,
        |    CAST(CONCAT('0x', substring(md5(k), 1, 2)) AS BIGINT) AS idx,
        |    MAX(CASE WHEN CAST(CONCAT('0x', substring(md5(k), 3, 13)) AS BIGINT) = 0
        |        THEN 53
        |        ELSE 53 - length(bin(CAST(CONCAT('0x', substring(md5(k), 3, 13)) AS BIGINT)))
        |        END) AS rho
        |  FROM keyed GROUP BY 1, 2),
        |merged AS MATERIALIZED (
        |  SELECT idx, MAX(rho) AS rho_merged FROM regs GROUP BY 1),
        |scratch AS MATERIALIZED (
        |  SELECT CAST(CONCAT('0x', substring(md5(k), 1, 2)) AS BIGINT) AS idx,
        |    MAX(CASE WHEN CAST(CONCAT('0x', substring(md5(k), 3, 13)) AS BIGINT) = 0
        |        THEN 53
        |        ELSE 53 - length(bin(CAST(CONCAT('0x', substring(md5(k), 3, 13)) AS BIGINT)))
        |        END) AS rho_scratch
        |  FROM keyed GROUP BY 1)
        |SELECT count(*) AS n_registers,
        |  CAST(sum(CASE WHEN rho_merged IS NOT DISTINCT FROM rho_scratch
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |  count(*) = CAST(sum(CASE WHEN rho_merged IS NOT DISTINCT FROM rho_scratch
        |    THEN 1 ELSE 0 END) AS BIGINT) AS merge_equals_scratch
        |FROM merged FULL OUTER JOIN scratch USING (idx)""".stripMargin),

    // Extension: count-min frequency sketches — the FREQUENCY complement
    // of the sketch tier: per-event-type (row, col, count) tables that
    // merge by pure per-cell addition; point estimates are min-over-rows
    // and structurally NEVER undercount (the property a "drop users seen
    // > N times" curation threshold relies on). Probes estimated against
    // the merged table next to their exact counts.
    Query("events_cms_freq", (s, dir) => {
      val ev = events(s, dir)
      val sk = graft.ops.Sketches.cmsSketch(
        ev, col("user_id").cast("string"), "event_type")
      val merged = graft.ops.Sketches.cmsMerge(sk, "all")
      val probes = ev.filter(col("user_id") < 10)
        .select(col("user_id").cast("string").as("probe")).distinct()
      val exact = ev.filter(col("user_id") < 10)
        .groupBy(col("user_id").cast("string").as("probe"))
        .agg(count(lit(1)).as("n_exact"))
      graft.ops.Sketches.cmsPointEstimate(merged, probes)
        .join(exact, Seq("probe"))
        .select(col("probe"), col("est_count"), col("n_exact"),
          (col("est_count") >= col("n_exact")).as("never_under"))
    },
      // Count-min is md5-deterministic too: DuckDB rebuilds every cell,
      // the per-cell-addition merge, and the min-over-rows estimates.
      """WITH keyed AS MATERIALIZED (
        |  SELECT CAST(user_id AS VARCHAR) AS k, event_type AS shard FROM events),
        |cells AS MATERIALIZED (
        |  SELECT shard, r.rw,
        |    CAST(CAST(CONCAT('0x', substring(md5('cms' || r.rw || '|' || k), 1, 13)) AS BIGINT) % 256 AS INT) AS cl,
        |    count(*) AS cnt
        |  FROM keyed CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS rw) r
        |  GROUP BY 1, 2, 3),
        |mg AS MATERIALIZED (
        |  SELECT rw, cl, CAST(SUM(cnt) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
        |probes AS MATERIALIZED (
        |  SELECT DISTINCT CAST(user_id AS VARCHAR) AS probe FROM events WHERE user_id < 10),
        |pc AS MATERIALIZED (
        |  SELECT probe, r.rw,
        |    CAST(CAST(CONCAT('0x', substring(md5('cms' || r.rw || '|' || probe), 1, 13)) AS BIGINT) % 256 AS INT) AS cl
        |  FROM probes CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS rw) r),
        |est AS MATERIALIZED (
        |  SELECT probe, MIN(COALESCE(mg.cnt, 0)) AS est_count
        |  FROM pc LEFT JOIN mg USING (rw, cl) GROUP BY 1),
        |ex AS MATERIALIZED (
        |  SELECT CAST(user_id AS VARCHAR) AS probe, count(*) AS n_exact
        |  FROM events WHERE user_id < 10 GROUP BY 1)
        |SELECT probe, est_count, n_exact, est_count >= n_exact AS never_under
        |FROM est JOIN ex USING (probe)""".stripMargin),

    // Extension: mergeable TOP-K summaries — the frequency-RANKING piece
    // the count-min table can't answer (it estimates a GIVEN key; it
    // cannot enumerate the heavy ones). Per-event-type top-16 count
    // tables with truncation thresholds merge into deterministic
    // per-user [lo, hi] count bounds (Misra-Gries merge bound); the
    // top-10 candidates carry a PROVEN verdict (fewer than k other keys
    // could exceed them) and are gated against exact truth: the true
    // count sits inside [lo, hi] structurally, never by luck.
    Query("events_topk_sketch", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"))
      val sk = graft.ops.Sketches.topkSketch(
        spread(s, ev), col("user_id"), "event_type", m = 16)
      val merged = graft.ops.Sketches.topkMerge(sk, "all")
      val cand = graft.ops.Sketches.topkCandidates(merged, k = 10)
      val exact = ev.groupBy(col("user_id").as("key"))
        .agg(count(lit(1)).as("n_true"))
      cand.join(exact, Seq("key"))
        .select(col("key").as("user_id"), col("rank"), col("lo"), col("hi"),
          col("n_true"), col("n_contenders"),
          (col("n_true") >= col("lo") && col("n_true") <= col("hi"))
            .as("ok_bounds"),
          col("proven"))
    },
      // The top-k summary chain is pure integer arithmetic with
      // (count desc, key asc) tie-breaks — every bound, rank, and verdict
      // recomputes bit-for-bit.
      """WITH c AS MATERIALIZED (
        |  SELECT event_type AS shard, user_id AS key, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS MATERIALIZED (SELECT *, row_number() OVER (
        |  PARTITION BY shard ORDER BY cnt DESC, key ASC) AS rr FROM c),
        |thr AS (SELECT shard, cnt AS thr FROM r WHERE rr = 17),
        |sk AS MATERIALIZED (SELECT r.shard, r.key, r.cnt, COALESCE(t.thr, 0) AS thr
        |  FROM r LEFT JOIN thr t ON r.shard = t.shard WHERE r.rr <= 16),
        |tt AS (SELECT COALESCE(sum(thr), 0) AS total_thr
        |  FROM (SELECT DISTINCT shard, thr FROM sk)),
        |mg AS MATERIALIZED (SELECT key, CAST(sum(cnt) AS BIGINT) AS lo,
        |  CAST(sum(cnt) + (SELECT total_thr FROM tt) - sum(thr) AS BIGINT) AS hi
        |  FROM sk GROUP BY 1),
        |cd AS (SELECT key, lo, hi,
        |  CAST(row_number() OVER (ORDER BY lo DESC, key ASC) AS INTEGER) AS rank
        |  FROM mg QUALIFY rank <= 10),
        |nc AS (SELECT c.key, c.lo, c.hi, c.rank,
        |  CAST(count(m.key) AS BIGINT) AS n_contenders
        |  FROM cd c LEFT JOIN mg m ON m.key != c.key AND m.hi > c.lo
        |  GROUP BY 1, 2, 3, 4),
        |ex AS (SELECT user_id AS key, count(*) AS n_true FROM events GROUP BY 1)
        |SELECT nc.key AS user_id, nc.rank, nc.lo, nc.hi, ex.n_true,
        |  nc.n_contenders,
        |  (ex.n_true >= nc.lo AND ex.n_true <= nc.hi) AS ok_bounds,
        |  (nc.n_contenders < 10) AS proven
        |FROM nc JOIN ex ON nc.key = ex.key""".stripMargin),

    // Extension: as-of join — each click picks up the most recent error
    // value at-or-before it for the same user. Union + running-last: one
    // shuffle on the key, no inequality join (which Spark would plan as a
    // broadcast nested loop). The DuckDB oracle uses its NATIVE ASOF JOIN —
    // an independent algorithm agreeing bit-for-bit.
    // Extension: as-of join with a staleness bound (merge_asof tolerance
    // semantics) — matches older than 10 minutes null out; the bound is a
    // row-local gate on the same union-plus-one-window plan.
    Query("events_asof_tolerance", (s, dir) => {
      val e = events(s, dir)
      graft.ops.Temporal.asofJoinTolerance(
          e.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          e.filter(col("event_type") === "error"),
          "user_id", "ts", Seq("value"), toleranceMs = 10 * 60 * 1000L)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          unix_millis(col("asof_ts")).as("asof_ts_ms"),
          col("asof_value"))
    },
      // The tolerance gate nulls BOTH carried columns when the match is
      // older than the bound (or absent).
      """SELECT event_id, user_id, ts_ms,
        |  CASE WHEN ts_ms - asof_ts_ms <= 600000 THEN asof_ts_ms ELSE NULL END AS asof_ts_ms,
        |  CASE WHEN ts_ms - asof_ts_ms <= 600000 THEN asof_value ELSE NULL END AS asof_value
        |FROM (
        |  SELECT l.event_id, l.user_id,
        |    CAST(epoch_ms(l.ts) AS BIGINT) AS ts_ms,
        |    CAST(epoch_ms(r.ts) AS BIGINT) AS asof_ts_ms,
        |    r.value AS asof_value
        |  FROM (SELECT * FROM events WHERE event_type = 'click') l
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        |    ON l.user_id = r.user_id AND l.ts >= r.ts)""".stripMargin),

    Query("events_asof_join", (s, dir) => {
      val e = events(s, dir)
      graft.ops.Temporal.asofJoin(
          e.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          e.filter(col("event_type") === "error"),
          "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          unix_millis(col("asof_ts")).as("asof_ts_ms"),
          col("asof_value"))
    },
      // DuckDB's NATIVE ASOF JOIN — an independent algorithm for the same
      // semantics as the Spark-side union + running-last formulation.
      asofJoinOracleSql),

    // Extension: FORWARD as-of join — for each click, the user's NEXT
    // error at or after it (the mirrored direction; DuckDB's native ASOF
    // with l.ts <= r.ts is the independent oracle).
    Query("events_asof_forward", (s, dir) => {
      val e = events(s, dir)
      graft.ops.Temporal.asofJoinForward(
          e.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          e.filter(col("event_type") === "error"),
          "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          unix_millis(col("asof_ts")).as("asof_ts_ms"),
          col("asof_value"))
    },
      """SELECT l.event_id, l.user_id,
        |  CAST(epoch_ms(l.ts) AS BIGINT) AS ts_ms,
        |  CAST(epoch_ms(r.ts) AS BIGINT) AS asof_ts_ms,
        |  r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin),

    // Extension: the hot-key-safe CHUNKED as-of join over the SAME slice
    // and oracle as events_asof_join — identical semantics, different
    // plan: the window partitions on (key, 6h-time-chunk) with a carry
    // pass threading the last right value across chunk boundaries, so a
    // celebrity key's history can never pin a single task. The sf slice
    // spans weeks, so 6h chunks genuinely exercise the carry join.
    Query("events_asof_chunked", (s, dir) => {
      val e = events(s, dir)
      graft.ops.Temporal.asofJoinChunked(
          e.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          e.filter(col("event_type") === "error"),
          "user_id", "ts", Seq("value"), chunkMs = 6 * 3600 * 1000L)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          unix_millis(col("asof_ts")).as("asof_ts_ms"),
          col("asof_value"))
    },
      // The chunked variant must agree with the plain as-of join on every
      // row — same oracle, DuckDB's native ASOF JOIN.
      asofJoinOracleSql),

    // Extension: bounded interval self-join via time bucketing — per event,
    // how many same-type events fall within ±30 minutes. Equi-join on
    // (type, bucket) with a 3-bucket probe explode; never an O(n²)
    // comparison. The oracle runs the naive quadratic join — feasible at
    // oracle scale, and a genuinely different plan shape agreeing exactly.
    Query("events_range_count", (s, dir) =>
      graft.ops.Temporal.rangeSelfCount(
        events(s, dir), "event_id", "ts", "event_type", 30 * 60 * 1000L),
      // The naive quadratic interval join — fine at oracle scale, and a
      // genuinely different plan shape than the bucketed Spark version.
      """WITH e AS (SELECT event_id, event_type, epoch_ms(ts) AS ms FROM events)
        |SELECT a.event_id, count(b.event_id) AS n_within
        |FROM e a LEFT JOIN e b
        |  ON a.event_type = b.event_type AND b.event_id <> a.event_id
        |  AND abs(a.ms - b.ms) <= 1800000
        |GROUP BY 1""".stripMargin),

    // Extension: quantile profile with approximation gates — exact
    // interpolated p50/p90 plus booleans asserting the Greenwald-Khanna
    // sketch (the constant-memory 100 TB path) lands within 5% of exact.
    Query("events_quantile_gate", (s, dir) =>
      graft.ops.EventOps.quantileProfile(events(s, dir), "event_type", "value"),
      // Sketch quantiles differ across engines; the oracle checks the exact
      // quantiles and asserts the 5%-window gates as literal `true`.
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  true AS ok_p50, true AS ok_p90
        |FROM events GROUP BY 1""".stripMargin),

    // Extension: winsorized value profile — the heavy-tail guard: clip
    // at the exact global [p1, p99] rank-selected quantiles (broadcast as
    // one row), per-type clip counts + DECIMAL-routed clipped mean. Two
    // passes at any scale, no value buffers.
    Query("events_winsorize", (s, dir) =>
      graft.ops.EventOps.winsorizedProfile(events(s, dir), "event_type", "value",
        pLo = 0.01, pHi = 0.99),
      // Clip cuts re-derived with quantile_cont; the clipped mean routes
      // through DECIMAL(18,6) on both engines.
      """WITH c AS (SELECT quantile_cont(value, 0.01) AS lo, quantile_cont(value, 0.99) AS hi
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(count(value) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
        |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
        |  round(CAST(sum(CAST(least(greatest(value, lo), hi) AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS clipped_mean
        |FROM events, c GROUP BY event_type""".stripMargin),

    // Extension: two-sided CUSUM change-point detector — cumulative
    // sums accumulate sustained mean shifts per type (k = 0.5σ slack,
    // h = 4σ threshold); the complement to the EWMA drift monitor,
    // same one-Catalyst-fold shape and recursive-CTE oracle.
    Query("events_cusum", (s, dir) =>
      graft.ops.EventOps.cusumChart(events(s, dir), "event_type", "ts"),
      // The identical two-sided CUSUM recursion; μ, σ, slack, and
      // threshold from the same sequential list folds, alarm checks
      // recomputing the updated sums with the same expressions.
      """WITH RECURSIVE d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM d),
        |l AS (SELECT event_type, list(y ORDER BY rn) AS ys
        |  FROM s GROUP BY 1 HAVING count(*) >= 2),
        |st AS (SELECT event_type, len(ys)::DOUBLE AS n,
        |    list_reduce(list_prepend(0.0::DOUBLE, ys), (a, b) -> a + b) AS s1,
        |    list_reduce(list_prepend(0.0::DOUBLE, ys), (a, b) -> a + b * b) AS s2
        |  FROM l),
        |p AS (SELECT event_type, n, s1 / n AS mu,
        |    0.5 * sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1.0)) AS kk,
        |    4.0 * sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1.0)) AS h
        |  FROM st),
        |rec AS (
        |  SELECT event_type, 0 AS rn, 0.0::DOUBLE AS sp, 0.0::DOUBLE AS sn, 0 AS alarms
        |  FROM p
        |  UNION ALL
        |  SELECT r.event_type, r.rn + 1,
        |    greatest(0.0, r.sp + s.y - m.mu - m.kk) AS sp,
        |    greatest(0.0, r.sn + m.mu - s.y - m.kk) AS sn,
        |    r.alarms + (CASE WHEN greatest(0.0, r.sp + s.y - m.mu - m.kk) > m.h
        |        OR greatest(0.0, r.sn + m.mu - s.y - m.kk) > m.h
        |      THEN 1 ELSE 0 END) AS alarms
        |  FROM rec r
        |  JOIN s ON s.event_type = r.event_type AND s.rn = r.rn + 1
        |  JOIN p m ON m.event_type = r.event_type)
        |SELECT r.event_type, CAST(m.n AS BIGINT) AS n_days,
        |  round(m.mu, 6) AS mu, round(r.sp, 6) AS cusum_high,
        |  round(r.sn, 6) AS cusum_low, CAST(r.alarms AS BIGINT) AS n_alarms
        |FROM rec r JOIN p m ON m.event_type = r.event_type
        |WHERE r.rn = CAST(m.n AS INTEGER)""".stripMargin),

    // Extension: EWMA control chart — the SPC monitor over each type's
    // daily counts: z = λy + (1-λ)z, a day flags when its deviation
    // from the running EWMA exceeds L·σ·sqrt(λ/(2-λ)). Same
    // one-Catalyst-fold shape as the Holt fit; σ comes from the same
    // sorted array (sequential arithmetic both engines).
    Query("events_ewma_chart", (s, dir) =>
      graft.ops.EventOps.ewmaChart(events(s, dir), "event_type", "ts",
        lambda = 0.2, limitL = 3.0),
      // The identical EWMA recursion in a bounded recursive CTE; σ and the
      // control limit are computed from the same ordered list with the
      // same sequential folds, and (1.0 - 0.2) is written as the exact
      // float expression Spark evaluates.
      """WITH RECURSIVE d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM d),
        |l AS (SELECT event_type, list(y ORDER BY rn) AS ys
        |  FROM s GROUP BY 1 HAVING count(*) >= 2),
        |st AS (SELECT event_type, len(ys)::DOUBLE AS n,
        |    list_reduce(list_prepend(0.0::DOUBLE, ys), (a, b) -> a + b) AS s1,
        |    list_reduce(list_prepend(0.0::DOUBLE, ys), (a, b) -> a + b * b) AS s2
        |  FROM l),
        |lim AS (SELECT event_type, n,
        |    sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1.0)) AS sigma,
        |    3.0 * sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1.0))
        |      * sqrt(0.2 / (2.0 - 0.2)) AS lm
        |  FROM st),
        |rec AS (
        |  SELECT s.event_type, 1 AS rn, s.y AS z, 0 AS flags
        |  FROM s WHERE s.rn = 1
        |    AND EXISTS (SELECT 1 FROM lim m WHERE m.event_type = s.event_type)
        |  UNION ALL
        |  SELECT r.event_type, r.rn + 1,
        |    0.2 * s.y + (1.0 - 0.2) * r.z AS z,
        |    r.flags + (CASE WHEN abs(s.y - r.z) > m.lm THEN 1 ELSE 0 END) AS flags
        |  FROM rec r
        |  JOIN s ON s.event_type = r.event_type AND s.rn = r.rn + 1
        |  JOIN lim m ON m.event_type = r.event_type)
        |SELECT r.event_type, CAST(m.n AS BIGINT) AS n_days,
        |  round(m.sigma, 6) AS sigma, round(m.lm, 6) AS ctrl_limit,
        |  round(r.z, 6) AS ewma, CAST(r.flags AS BIGINT) AS n_flagged
        |FROM rec r JOIN lim m ON m.event_type = r.event_type
        |WHERE r.rn = CAST(m.n AS INTEGER)""".stripMargin),

    // Extension: Holt linear-trend forecast — double-exponential
    // smoothing (level + trend) over each type's daily count series,
    // folded in ONE Catalyst aggregate HOF over the 30-element sorted
    // daily array (sequential IEEE doubles — bit-reproducible; the
    // oracle replays the identical recursion in a bounded recursive
    // CTE). Per-key state: two doubles.
    Query("events_forecast_holt", (s, dir) =>
      graft.ops.EventOps.holtForecast(events(s, dir), "event_type", "ts",
        alpha = 0.5, beta = 0.3, horizonDays = 7),
      // The identical Holt recursion replayed in a bounded recursive CTE:
      // base l1 = y1, b1 = y2 - y1; step substitutes l' into b' exactly as
      // the Catalyst fold computes it (same IEEE evaluation order).
      """WITH RECURSIVE d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM d),
        |n AS (SELECT event_type, count(*) AS t FROM s GROUP BY 1 HAVING count(*) >= 2),
        |rec AS (
        |  SELECT s1.event_type, 1 AS rn, s1.y AS l, s2.y - s1.y AS b
        |  FROM s s1 JOIN s s2 ON s1.event_type = s2.event_type AND s2.rn = 2
        |  WHERE s1.rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.rn + 1,
        |    0.5 * s.y + 0.5 * (r.l + r.b) AS l,
        |    0.3 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + (1.0 - 0.3) * r.b AS b
        |  FROM rec r JOIN s ON s.event_type = r.event_type AND s.rn = r.rn + 1)
        |SELECT r.event_type, CAST(n.t AS BIGINT) AS n_days,
        |  round(r.l, 6) AS level, round(r.b, 6) AS trend,
        |  round(r.l + 7.0 * r.b, 6) AS forecast
        |FROM rec r JOIN n ON n.event_type = r.event_type AND r.rn = n.t""".stripMargin),

    // Extension: exponential time-decay popularity — 7-day half-life
    // recency weighting anchored at the corpus max timestamp (1-row
    // broadcast agg); 12-dp-rounded weights summed through DECIMAL so
    // the score is partial-order independent. Anchor DELTAS make the
    // timezone-vs-instant question cancel out entirely.
    Query("events_decayed_popularity", (s, dir) =>
      graft.ops.EventOps.decayedPopularity(events(s, dir), "event_type", "ts",
        halfLifeDays = 7.0),
      // Same half-life weighting; epoch-microsecond deltas cancel any
      // timezone interpretation difference, and the 12-dp weight rounding
      // happens before the DECIMAL-routed sum on both engines.
      """WITH a AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
        |w AS (SELECT event_type,
        |    round(pow(0.5, (a.anchor - epoch_us(ts)) / (86400000000.0 * 7)), 12) AS wt
        |  FROM events, a)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(wt AS DECIMAL(27,12))) AS DOUBLE), 6) AS decayed_score
        |FROM w GROUP BY 1""".stripMargin),

    // Extension: equi-depth quantile binning — bin edges are the exact
    // rank-selected quartiles (6-dp-rounded on BOTH engines, so boundary
    // ties bin identically), broadcast as one row; bin = count of edges
    // strictly below the value.
    Query("events_equidepth_bins", (s, dir) =>
      graft.ops.EventOps.equiDepthBins(events(s, dir), "value"),
      // quantile_cont quartiles rounded to 6 dp, then the same
      // strictly-greater edge count bins every value.
      """WITH c AS (SELECT round(quantile_cont(value, 0.25), 6) AS c0,
        |    round(quantile_cont(value, 0.5), 6) AS c1,
        |    round(quantile_cont(value, 0.75), 6) AS c2
        |  FROM events WHERE value IS NOT NULL)
        |SELECT CAST((CASE WHEN value > c0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN value > c1 THEN 1 ELSE 0 END)
        |     + (CASE WHEN value > c2 THEN 1 ELSE 0 END) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(min(value), 6) AS lo,
        |  round(max(value), 6) AS hi,
        |  round(CAST(sum(CAST(value AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6) AS mean
        |FROM events, c WHERE value IS NOT NULL GROUP BY 1""".stripMargin),

    // Extension: EXACT per-key quantiles with NO per-key value buffers —
    // within-key rank + key count from one key-partitioned window, ≤2
    // bracketing rows kept per (key, q), type-7 interpolation. O(1)
    // memory per key at any per-key cardinality (vs percentile()'s
    // full-value aggregation buffer).
    Query("events_grouped_quantiles", (s, dir) =>
      graft.ops.EventOps.groupedQuantiles(events(s, dir), "event_type", "value",
        Seq(0.5, 0.95)),
      // Grouped quantile_cont — same interpolation per key.
      """WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(0.5 AS DOUBLE) AS q, CAST(count(*) AS BIGINT) AS n_values,
        |  round(quantile_cont(value, 0.5), 6) AS quantile
        |FROM v GROUP BY event_type
        |UNION ALL
        |SELECT event_type, CAST(0.95 AS DOUBLE), CAST(count(*) AS BIGINT),
        |  round(quantile_cont(value, 0.95), 6)
        |FROM v GROUP BY event_type""".stripMargin),

    // Extension: EXACT global quantiles by two-pass rank selection —
    // range-partitioned ranking plus a ≤2-rows-per-quantile filter and
    // interpolation; nothing holds a value set, no single-partition
    // window (the "exact p99 over 100 TB" shape, vs quantileProfile's
    // per-key value buffers).
    // Extension: DDSketch relative-error quantiles — logarithmic buckets
    // (γ = 1.02/0.98 ≈ 2% relative error) make the state constant
    // (log_γ(range) buckets per key) and the error scale WITH the value,
    // the property latency/size monitoring needs across orders of
    // magnitude. One (key, bucket) groupBy + a per-key fold over the
    // sorted bucket array — never a per-key value sort.
    Query("events_ddsketch", (s, dir) =>
      graft.ops.EventOps.ddsketchQuantiles(events(s, dir), "event_type",
        "value", alpha = 0.02, qs = Seq(0.5, 0.9, 0.99)),
      // Same 17-digit ln(γ) literal, same 12-dp-canonicalized bucket map,
      // same rank walk — here as a window cumsum instead of the fold.
      s"""WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |    CAST(ceil(round(ln(value) / $ddLnGamma, 12)) AS INTEGER) AS b
        |  FROM v WHERE value > 0),
        |h AS (SELECT event_type, b, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |cw AS (SELECT event_type, b, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n FROM h),
        |sel AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_values,
        |    min(CASE WHEN cum >= floor(0.5 * (n - 1)) + 1 THEN b END) AS b50,
        |    min(CASE WHEN cum >= floor(0.9 * (n - 1)) + 1 THEN b END) AS b90,
        |    min(CASE WHEN cum >= floor(0.99 * (n - 1)) + 1 THEN b END) AS b99
        |  FROM cw GROUP BY 1),
        |np AS (SELECT event_type,
        |    CAST(count(*) FILTER (value <= 0) AS BIGINT) AS n_nonpos
        |  FROM v GROUP BY 1)
        |SELECT sel.event_type, sel.n_values, COALESCE(np.n_nonpos, 0) AS n_nonpos,
        |  round(2.0 * exp(b50 * $ddLnGamma) / (1.02 / 0.98 + 1.0), 6) AS p50,
        |  round(2.0 * exp(b90 * $ddLnGamma) / (1.02 / 0.98 + 1.0), 6) AS p90,
        |  round(2.0 * exp(b99 * $ddLnGamma) / (1.02 / 0.98 + 1.0), 6) AS p99
        |FROM sel LEFT JOIN np ON np.event_type = sel.event_type""".stripMargin),

    Query("events_global_quantiles", (s, dir) =>
      graft.ops.EventOps.globalQuantiles(events(s, dir), "value",
        Seq(0.1, 0.5, 0.9, 0.99)),
      """WITH v AS (SELECT value FROM events WHERE value IS NOT NULL)
        |SELECT CAST(0.1 AS DOUBLE) AS q, CAST(count(*) AS BIGINT) AS n_values, round(quantile_cont(value, 0.1), 6) AS quantile FROM v
        |UNION ALL SELECT CAST(0.5 AS DOUBLE), CAST(count(*) AS BIGINT), round(quantile_cont(value, 0.5), 6) FROM v
        |UNION ALL SELECT CAST(0.9 AS DOUBLE), CAST(count(*) AS BIGINT), round(quantile_cont(value, 0.9), 6) FROM v
        |UNION ALL SELECT CAST(0.99 AS DOUBLE), CAST(count(*) AS BIGINT), round(quantile_cont(value, 0.99), 6) FROM v""".stripMargin),

    // Extension: salted equi-join — event_type has 5 values over the whole
    // table (maximal skew: a plain shuffle join puts ~n/5 rows in one
    // task). The salt spreads each key over 8 reducers; the result is
    // row-identical to the plain join, which is exactly what the oracle
    // checks.
    Query("events_skew_join_enrich", (s, dir) => {
      val e = events(s, dir)
      val dim = e.groupBy("event_type").agg(
        round(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)), 6).as("type_avg"))
      graft.ops.Skew.saltedEquiJoin(
        e.select(col("event_id"), col("event_type")), dim,
        Seq("event_type"), "event_id", salts = 8)
    },
      // The oracle runs the PLAIN join — salting must be row-identical to it.
      """WITH d AS (SELECT event_type,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS type_avg
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, d.type_avg
        |FROM events e JOIN d USING (event_type)""".stripMargin),

    // Extension: fixed-width value histogram per type (10-unit bins,
    // overflow clamped into the last bin) — the constant-memory
    // distribution profile.
    Query("events_histogram", (s, dir) =>
      graft.ops.EventOps.fixedHistogram(events(s, dir), "event_type", "value",
        binWidth = 10.0, nBins = 10),
      """SELECT event_type,
        |  CAST(least(greatest(floor(value / 10), 0), 9) AS INTEGER) AS bin,
        |  count(*) AS n
        |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // Extension: schema-wide one-pass profile — null and exact-distinct
    // counts for every column, unpivoted one-row-per-column. (`ts` is
    // excluded: Spark reads the nano parquet column at micros, so its
    // distinct count is not engine-comparable.)
    Query("events_schema_profile", (s, dir) =>
      graft.ops.EventOps.schemaProfile(events(s, dir),
        Seq("event_id", "user_id", "event_type", "value", "props")),
      """WITH p AS (
        |  SELECT 'event_id' AS col_name, count(*) - count(event_id) AS n_null, count(DISTINCT event_id) AS n_distinct FROM events
        |  UNION ALL SELECT 'user_id', count(*) - count(user_id), count(DISTINCT user_id) FROM events
        |  UNION ALL SELECT 'event_type', count(*) - count(event_type), count(DISTINCT event_type) FROM events
        |  UNION ALL SELECT 'value', count(*) - count(value), count(DISTINCT value) FROM events
        |  UNION ALL SELECT 'props', count(*) - count(props), count(DISTINCT props) FROM events)
        |SELECT col_name, (SELECT count(*) FROM events) AS n, n_null, n_distinct FROM p""".stripMargin),

    // Extension: min-timestamp funnel over the event stream — per-stage
    // user counts under first-touch strict time ordering; per-user state in
    // the aggregate is |stages| timestamps, never the event list.
    Query("events_funnel", (s, dir) =>
      graft.ops.EventOps.funnel(events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")),
      """WITH m AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1),
        |r AS (SELECT
        |    count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n0,
        |    count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 < t1 THEN 1 END) AS n1,
        |    count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL AND t0 < t1 AND t1 < t2 THEN 1 END) AS n2
        |  FROM m)
        |SELECT 'view' AS stage, 0 AS stage_idx, n0 AS n_users FROM r
        |UNION ALL SELECT 'click', 1, n1 FROM r
        |UNION ALL SELECT 'purchase', 2, n2 FROM r""".stripMargin),

    // Extension: ROW-PATTERN RECOGNITION (MATCH_RECOGNIZE-lite) — count
    // per user the strict funnel runs `view+ click+ purchase` over the
    // time-ordered event sequence: the SQL:2016 / Flink-CEP operator
    // Spark lacks natively, expressed as one per-user string fold plus a
    // codegen'd regex — leftmost non-overlapping matches, exactly
    // AFTER MATCH SKIP PAST LAST ROW semantics.
    Query("events_pattern_match", (s, dir) =>
      graft.ops.EventOps.sequencePattern(events(s, dir), "user_id",
        "event_type", "ts", "event_id",
        Seq("view" -> "v", "click" -> "c", "purchase" -> "p",
          "signup" -> "s", "error" -> "e"),
        pattern = "v+c+p"),
      // Row-pattern recognition replays exactly in SQL: the same
      // single-char alphabet, the same (ts, event_id)-ordered fold, the
      // same regex — DuckDB's RE2 and Spark's Java regex agree on
      // leftmost non-overlapping greedy matching for alternation-free
      // patterns like v+c+p.
      """WITH m(event_type, ch) AS (VALUES ('view', 'v'), ('click', 'c'),
        |  ('purchase', 'p'), ('signup', 's'), ('error', 'e')),
        |s AS (SELECT e.user_id,
        |    string_agg(coalesce(m.ch, 'o'), '' ORDER BY e.ts, e.event_id) AS seq
        |  FROM events e LEFT JOIN m ON e.event_type = m.event_type
        |  GROUP BY e.user_id),
        |x AS (SELECT user_id, regexp_extract_all(seq, 'v+c+p') AS ms FROM s)
        |SELECT user_id, CAST(len(ms) AS BIGINT) AS n_matches,
        |  CAST(coalesce(list_max(list_transform(ms, z -> len(z))), 0) AS BIGINT) AS longest
        |FROM x WHERE len(ms) > 0""".stripMargin),

    // Extension: time-boxed funnel — conversions credited only within
    // 7 days of the user's first stage-0 event (the "converted within N
    // days" readout; unbounded funnels credit year-late conversions).
    Query("events_funnel_window", (s, dir) =>
      graft.ops.EventOps.funnelWindowed(events(s, dir), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"),
        7L * 24 * 3600 * 1000),
      """WITH m AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN CAST(epoch_ms(ts) AS BIGINT) END) AS t0,
        |    min(CASE WHEN event_type = 'click' THEN CAST(epoch_ms(ts) AS BIGINT) END) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN CAST(epoch_ms(ts) AS BIGINT) END) AS t2
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1),
        |r AS (SELECT
        |    count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n0,
        |    count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 < t1
        |      AND t1 <= t0 + 604800000 THEN 1 END) AS n1,
        |    count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
        |      AND t0 < t1 AND t1 < t2
        |      AND t1 <= t0 + 604800000 AND t2 <= t0 + 604800000 THEN 1 END) AS n2
        |  FROM m)
        |SELECT 'view' AS stage, 0 AS stage_idx, n0 AS n_users FROM r
        |UNION ALL SELECT 'click', 1, n1 FROM r
        |UNION ALL SELECT 'purchase', 2, n2 FROM r""".stripMargin),

    // Extension: skew report — top-10 hottest users with row share and
    // multiple-of-median (the pre-salting diagnostic).
    Query("events_skew_report", (s, dir) =>
      graft.ops.EventOps.skewReport(events(s, dir), "user_id"),
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |st AS (SELECT sum(n) AS total, quantile_cont(n, 0.5) AS p50 FROM c)
        |SELECT user_id, n, round(n / total, 6) AS share, round(n / p50, 6) AS x_median
        |FROM c CROSS JOIN st ORDER BY n DESC, user_id LIMIT 10""".stripMargin),

    // Extension: burst detection — per-(type, 10 min bucket) counts
    // against the trailing-6-bucket average (RANGE frame, gap-aware),
    // flagged at 3x with a cold-start guard.
    Query("events_burst", (s, dir) =>
      graft.ops.EventOps.burstScore(events(s, dir), "event_type", "ts", 600000L),
      """WITH e AS (SELECT event_type, CAST(epoch_ms(ts) AS BIGINT) // 600000 AS bucket FROM events),
        |c AS (SELECT event_type, bucket, count(*) AS n FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, bucket, n,
        |    count(n) OVER w AS n_trail, sum(n) OVER w AS tsum
        |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY bucket RANGE BETWEEN 6 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, bucket, n, CAST(n_trail AS BIGINT) AS n_trail,
        |  round(CASE WHEN n_trail = 0 THEN 0.0 ELSE CAST(tsum AS DOUBLE) / n_trail END, 6) AS trail_avg,
        |  (n_trail >= 3 AND n >= 3.0 * CAST(tsum AS DOUBLE) / n_trail) AS is_burst
        |FROM t""".stripMargin),

    // Extension: Gini concentration of per-user event counts — the
    // one-number tail-inequality companion to events_skew_report.
    Query("events_gini", (s, dir) =>
      graft.ops.EventOps.giniConcentration(events(s, dir), "user_id"),
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |r AS (SELECT n, row_number() OVER (ORDER BY n ASC, user_id ASC) AS i FROM c),
        |a AS (SELECT count(*) AS n_keys, sum(n) AS total, sum(i * n) AS sin FROM r)
        |SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(total AS BIGINT) AS total,
        |  round(CAST(2 * sin - (n_keys + 1) * total AS DOUBLE)
        |    / (CAST(n_keys AS DOUBLE) * total), 6) AS gini
        |FROM a""".stripMargin),

    // Extension: per-user behavioral entropy over event types — the
    // bot/broken-client screen (single-action users score 0).
    Query("events_user_entropy", (s, dir) =>
      graft.ops.EventOps.userTypeEntropy(events(s, dir), "user_id", "event_type"),
      """WITH c AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
        |a AS (SELECT user_id, sum(c) AS n, count(*) AS nt,
        |    CAST(SUM(CAST(c * CAST(CAST(ln(c) AS DECIMAL(27,12)) AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) AS s
        |  FROM c GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events, CAST(nt AS BIGINT) AS n_types,
        |  round(CAST(CAST(ln(n) AS DECIMAL(27,12)) AS DOUBLE) - s / n, 6) AS entropy
        |FROM a""".stripMargin),

    // Extension: inter-arrival cadence regularity — the timing-side bot
    // screen (metronomic clients have near-zero gap CV).
    Query("events_bot_cadence", (s, dir) =>
      graft.ops.EventOps.interArrivalRegularity(events(s, dir), "user_id", "ts"),
      // Exact integer moments over the per-user gap multiset (HUGEINT-routed
      // squares ↔ Spark's DECIMAL route); gap order is tie-invariant.
      """WITH g AS (SELECT user_id,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events),
        |a AS (SELECT user_id, count(*) AS n_gaps, sum(gap) AS s1,
        |    sum(CAST(gap AS HUGEINT) * gap) AS s2
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |m AS (SELECT user_id, n_gaps, s1,
        |    CAST(s1 AS DOUBLE) / n_gaps AS mean,
        |    sqrt(CAST(n_gaps * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
        |      / CAST(n_gaps * n_gaps AS DOUBLE)) AS sd
        |  FROM a WHERE n_gaps >= 5)
        |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        |  round(mean, 6) AS mean_gap_ms,
        |  CASE WHEN s1 > 0 THEN round(sd / mean, 6) END AS cv,
        |  (s1 > 0 AND sd / mean < 0.3) AS is_metronomic
        |FROM m""".stripMargin),

    // Extension: per-type daily-volume trend — least-squares slope over
    // day indexes re-anchored per type (exact integer moments).
    Query("events_type_trend", (s, dir) =>
      graft.ops.EventOps.typeTrend(events(s, dir), "event_type", "ts"),
      // Exact integer regression moments (x re-anchored per type keeps every
      // sum small and exact on both engines).
      """WITH c AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT event_type, day - min(day) OVER (PARTITION BY event_type) AS x, n FROM c),
        |a AS (SELECT event_type, count(*) AS nd, sum(x) AS sx, sum(n) AS sy,
        |    sum(x * n) AS sxy, sum(x * x) AS sxx
        |  FROM x GROUP BY 1)
        |SELECT event_type, CAST(nd AS BIGINT) AS n_days,
        |  CASE WHEN nd * sxx - sx * sx > 0
        |       THEN round(CAST(nd * sxy - sx * sy AS DOUBLE) / CAST(nd * sxx - sx * sx AS DOUBLE), 6) END AS slope,
        |  round(CAST(sy AS DOUBLE) / nd, 6) AS mean_daily
        |FROM a""".stripMargin),

    // Extension: one-row corpus session-shape profile (bounce rate, mean
    // events/session, exact p50/p90 session durations) over sessionize.
    Query("events_session_profile", (s, dir) =>
      graft.ops.EventOps.sessionProfile(events(s, dir), "user_id", "ts",
        30 * 60 * 1000L),
      // The events_sessionize CTE rolled to one row; quantile_cont
      // interpolates identically to Spark's exact percentile.
      """WITH x AS (SELECT user_id, ts, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |y AS (SELECT user_id, ts_ms,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x),
        |s AS (SELECT user_id, session_id, count(*) AS n_events,
        |    max(ts_ms) - min(ts_ms) AS duration_ms
        |  FROM y GROUP BY 1, 2),
        |p AS (SELECT count(*) AS n_sessions,
        |    CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |    CAST(sum(n_events) AS BIGINT) AS total_events,
        |    quantile_cont(duration_ms, 0.5) AS p50,
        |    quantile_cont(duration_ms, 0.9) AS p90
        |  FROM s)
        |SELECT n_sessions, n_bounce,
        |  round(CAST(n_bounce AS DOUBLE) / n_sessions, 6) AS bounce_rate,
        |  round(CAST(total_events AS DOUBLE) / n_sessions, 6) AS mean_events,
        |  round(p50, 6) AS p50_duration_ms,
        |  round(p90, 6) AS p90_duration_ms
        |FROM p""".stripMargin),

    // Extension: per-user feature assembly — the feature-store output
    // frame: counts, distincts, activity span, DECIMAL-routed value
    // total, all in ONE groupBy pass (one shuffle on the user key,
    // map-side partials; the shape a training-feature export runs).
    Query("events_user_features", (s, dir) => {
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(to_date(col("ts"))).as("active_days"),
          min(unix_millis(col("ts"))).as("first_ms"),
          max(unix_millis(col("ts"))).as("last_ms"),
          round(sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double"), 4).as("total_value"))
        .withColumn("span_days",
          expr("(last_ms - first_ms) div 86400000"))
        .withColumn("events_per_active_day",
          round(col("n_events").cast("double") / col("active_days"), 6))
    },
      // One aggregation pass per user; long division for the day span.
      """SELECT user_id, count(*) AS n_events,
        |  count(DISTINCT event_type) AS n_types,
        |  count(DISTINCT CAST(ts AS DATE)) AS active_days,
        |  min(CAST(epoch_ms(ts) AS BIGINT)) AS first_ms,
        |  max(CAST(epoch_ms(ts) AS BIGINT)) AS last_ms,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value,
        |  (max(CAST(epoch_ms(ts) AS BIGINT)) - min(CAST(epoch_ms(ts) AS BIGINT))) // 86400000 AS span_days,
        |  round(count(*) / count(DISTINCT CAST(ts AS DATE)), 6) AS events_per_active_day
        |FROM events GROUP BY 1""".stripMargin),

    // Extension: lag-1 autocorrelation of daily per-type volumes — exact
    // integer sufficient statistics, deterministic double finish, null r
    // on zero variance.
    Query("events_daily_autocorr", (s, dir) =>
      graft.ops.EventOps.dailyAutocorr(events(s, dir), "event_type", "ts"),
      // Consecutive-day pairs only (both days active); the five sums are
      // exact integers, the finish identical IEEE double ops.
      """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |pairs AS (SELECT a.t, a.c AS x, b.c AS y
        |  FROM daily a JOIN daily b ON a.t = b.t AND b.d = a.d + 1),
        |s AS (SELECT t, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY 1)
        |SELECT t AS event_type, n AS n_pairs,
        |  CASE WHEN sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx) * (n::DOUBLE * syy - sy::DOUBLE * sy)) = 0.0
        |    THEN NULL
        |    ELSE round((n::DOUBLE * sxy - sx::DOUBLE * sy)
        |      / sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx) * (n::DOUBLE * syy - sy::DOUBLE * sy)), 6)
        |  END AS autocorr
        |FROM s""".stripMargin),

    // Extension: longest strictly-increasing value streak per user — the
    // gaps-and-islands analytic; three windows sharing one (user × ts)
    // sort, islands via the double-row_number difference.
    Query("events_value_streaks", (s, dir) =>
      graft.ops.EventOps.valueStreaks(events(s, dir),
        "user_id", "ts", "value", "event_id"),
      // Users with zero increases have no islands and drop from the
      // result on both engines; equal consecutive values break streaks.
      """WITH f AS (SELECT user_id,
        |    CASE WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS inc,
        |    row_number() OVER w AS rn
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |i AS (SELECT user_id, inc, rn,
        |    sum(inc) OVER (PARTITION BY user_id ORDER BY rn) AS inc_rn FROM f),
        |r AS (SELECT user_id, rn - inc_rn AS island, count(*) AS run
        |  FROM i WHERE inc = 1 GROUP BY 1, 2)
        |SELECT user_id, max(run) + 1 AS longest_streak,
        |  CAST(sum(run) AS BIGINT) AS n_increases
        |FROM r GROUP BY 1""".stripMargin),

    // Extension: inactivity churn — users silent for >= 24 h before the
    // corpus's last observed event (data-anchored, replay-deterministic).
    Query("events_churn", (s, dir) =>
      graft.ops.EventOps.inactivityChurn(events(s, dir), "user_id", "ts",
        86400000L),
      """WITH u AS (SELECT user_id, max(CAST(epoch_ms(ts) AS BIGINT)) AS last_ms,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1),
        |m AS (SELECT max(last_ms) AS mx FROM u)
        |SELECT user_id, last_ms, n_events, mx - last_ms AS silent_ms
        |FROM u, m WHERE mx - last_ms >= 86400000""".stripMargin),

    // Extension: seasonal (hour-of-day) anomaly — per-(type, day, hour)
    // counts vs that type's same-hour baseline across days; exact integer
    // moments make mean/variance/z bit-replicable. Complements burst
    // detection (trailing window) by learning the diurnal profile.
    Query("events_seasonal_anomaly", (s, dir) =>
      graft.ops.EventOps.seasonalAnomaly(events(s, dir), "event_type", "ts"),
      // Exact integer moments per (type, hour-of-day): the n·Σx²−(Σx)²
      // variance identity over count sums, then the identical double
      // arithmetic for mean and z.
      """WITH e AS (SELECT event_type,
        |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
        |    (CAST(epoch_ms(ts) AS BIGINT) // 3600000) % 24 AS hour
        |  FROM events),
        |c AS (SELECT event_type, day, hour, count(*) AS n FROM e GROUP BY 1, 2, 3),
        |b AS (SELECT event_type, hour, count(*) AS n_days, sum(n) AS s1, sum(n*n) AS s2
        |  FROM c GROUP BY 1, 2),
        |j AS (SELECT c.event_type, c.day, c.hour, c.n, b.n_days,
        |    CAST(b.s1 AS DOUBLE) / b.n_days AS mean,
        |    CAST(b.n_days * b.s2 - b.s1 * b.s1 AS DOUBLE) / (b.n_days * (b.n_days - 1)) AS var
        |  FROM c JOIN b ON c.event_type = b.event_type AND c.hour = b.hour)
        |SELECT event_type, day, hour, n, n_days,
        |  round(mean, 6) AS hour_mean,
        |  round((n - mean) / sqrt(var), 6) AS z
        |FROM j WHERE n_days >= 2 AND var > 0 AND abs((n - mean) / sqrt(var)) >= 2.0""".stripMargin),

    // Extension: Welch two-sample A/B readout — purchase-vs-view value
    // lift with t statistic and Welch–Satterthwaite df from ONE
    // conditional-aggregation pass (DECIMAL-routed moment sums).
    Query("events_ab_lift", (s, dir) =>
      graft.ops.EventOps.abTestLift(events(s, dir), "event_type", "value",
        "purchase", "view"),
      // One conditional-aggregation pass mirroring the Spark side: value
      // sums DECIMAL(27,12)-routed (squares in double first), then the same
      // double-arithmetic chain for mean, variance, t, and Welch df.
      """WITH m AS (SELECT
        |    count(*) FILTER (event_type = 'purchase') AS n_a,
        |    sum(CAST(value AS DECIMAL(27,12))) FILTER (event_type = 'purchase') AS s1_a,
        |    sum(CAST(value * value AS DECIMAL(27,12))) FILTER (event_type = 'purchase') AS s2_a,
        |    count(*) FILTER (event_type = 'view') AS n_b,
        |    sum(CAST(value AS DECIMAL(27,12))) FILTER (event_type = 'view') AS s1_b,
        |    sum(CAST(value * value AS DECIMAL(27,12))) FILTER (event_type = 'view') AS s2_b
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |d AS (SELECT n_a, n_b,
        |    CAST(s1_a AS DOUBLE) / n_a AS ma, CAST(s1_b AS DOUBLE) / n_b AS mb,
        |    (CAST(s2_a AS DOUBLE) - n_a * (CAST(s1_a AS DOUBLE) / n_a) * (CAST(s1_a AS DOUBLE) / n_a)) / (n_a - 1) AS va,
        |    (CAST(s2_b AS DOUBLE) - n_b * (CAST(s1_b AS DOUBLE) / n_b) * (CAST(s1_b AS DOUBLE) / n_b)) / (n_b - 1) AS vb
        |  FROM m),
        |s AS (SELECT n_a, n_b, ma, mb, va / n_a AS sa, vb / n_b AS sb FROM d)
        |SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round(ma - mb, 6) AS mean_lift,
        |  round((ma - mb) / sqrt(sa + sb), 6) AS t_stat,
        |  round(((sa + sb) * (sa + sb)) / (sa * sa / (n_a - 1) + sb * sb / (n_b - 1)), 6) AS welch_df
        |FROM s""".stripMargin),

    // Extension: Morton/Z-order interleave — the two-dimensional
    // data-skipping key (writeZOrdered sorts the layout by it; here the
    // oracle pins the bit-interleave arithmetic itself).
    Query("events_zorder", (s, dir) => {
      val e = events(s, dir)
      val mask = (1 << 10) - 1
      val a = col("user_id").bitwiseAND(lit(mask.toLong))
      val b = coalesce(floor(col("value")).cast("long"), lit(0L))
        .bitwiseAND(lit(mask.toLong))
      e.select(col("event_id"), graft.ops.Bucketing.zValue(a, b, 10).as("z"))
    },
      """WITH e AS (SELECT event_id,
        |    user_id & 1023 AS a,
        |    coalesce(CAST(floor(value) AS BIGINT), 0) & 1023 AS b
        |  FROM events)
        |SELECT event_id, CAST(list_sum(list_transform(generate_series(0, 9), i ->
        |  (((a >> i) & 1) << (2*i)) + (((b >> i) & 1) << (2*i+1)))) AS BIGINT) AS z
        |FROM e""".stripMargin),

    // Extension: Bradley–Terry preference ranking (Hunter's MM, 8 fixed
    // iterations) — the aggregation step of RLHF preference-data
    // curation. The pairwise-comparison fixture derives deterministically
    // from events: item_a = event_id mod 7, item_b the div-derived
    // OTHER item, a wins iff value ≥ 35. The oracle replays the count
    // matrix and all 8 MM rounds (each round one join + one window +
    // one DECIMAL-routed sum) bit-for-bit.
    Query("events_bt_rank", (s, dir) => {
      val ia = col("event_id") % 7
      val ibRaw = expr("event_id div 7") % 6
      val pr = events(s, dir).select(ia.as("ia"),
        when(ibRaw >= ia, ibRaw + 1).otherwise(ibRaw).as("ib"),
        when(col("value") >= 35.0, 1).otherwise(0).as("awin"))
      graft.ops.EventOps.bradleyTerry(pr, "ia", "ib", "awin", iterations = 8)
    },
      btRankOracleSql),

    // Extension: Krippendorff's alpha (nominal) — the inter-rater
    // reliability readout of an annotation-QA pipeline, over the
    // (unit = event_id mod 400, category = event_type) rating grid.
    // Units with one rating are unpairable and excluded; counts stay
    // integral until the final divisions.
    Query("events_rater_alpha", (s, dir) =>
      graft.ops.EventOps.krippendorffAlpha(
        events(s, dir).select((col("event_id") % 400).as("unit"),
          col("event_type").as("cat")), "unit", "cat"),
      """WITH cnt AS (SELECT event_id % 400 AS u, event_type AS c, count(*) AS nuc
        |  FROM events GROUP BY 1, 2),
        |wn AS (SELECT u, c, nuc, sum(nuc) OVER (PARTITION BY u) AS nu FROM cnt),
        |pairable AS (SELECT * FROM wn WHERE nu >= 2),
        |stats AS (SELECT count(DISTINCT u) AS n_units, CAST(sum(nuc) AS BIGINT) AS nn,
        |    sum(CAST((nuc * (nu - nuc)) / (nu - 1) AS DECIMAL(27,12))) AS so_d FROM pairable),
        |pc AS (SELECT c, sum(nuc) AS p_c FROM pairable GROUP BY 1),
        |se AS (SELECT sum(CAST(CAST(p_c AS DOUBLE) * CAST(s.nn - p_c AS DOUBLE) AS DECIMAL(27,12))) AS se_d
        |  FROM pc, stats s)
        |SELECT s.n_units, s.nn AS n_ratings,
        |  round(CAST(so_d AS DOUBLE) / s.nn, 6) AS d_obs,
        |  round(CAST(se_d AS DOUBLE) / (s.nn * (s.nn - 1)), 6) AS d_exp,
        |  round(1.0::DOUBLE - (s.nn - 1) * CAST(so_d AS DOUBLE) / CAST(se_d AS DOUBLE), 6) AS alpha
        |FROM stats s, se""".stripMargin),

    // Extension: pass@k — the unbiased combinatorial estimator over
    // per-task sample outcomes (task = event_id mod 50, pass iff
    // value ≥ 35), the eval-harness aggregation for sampled
    // generations. k ∈ {1, 5, 10}; the estimator is a fixed-order
    // product of integer ratios, identical IEEE ops in both engines.
    Query("events_passk", (s, dir) =>
      graft.ops.EventOps.passAtK(
        events(s, dir).select((col("event_id") % 50).as("task"),
          (col("value") >= 35.0).as("pass")), "task", "pass"),
      s"""WITH b AS (SELECT event_id % 50 AS task_id, count(*) AS n,
        |    CAST(sum(CASE WHEN value >= 35.0 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM events GROUP BY 1)
        |SELECT task_id, n, c,
        |  CASE WHEN n < 1 THEN NULL WHEN n - c < 1 THEN 1.0::DOUBLE
        |    ELSE round(1.0::DOUBLE - ${passkProdSql(1)}, 6) END AS pass1,
        |  CASE WHEN n < 5 THEN NULL WHEN n - c < 5 THEN 1.0::DOUBLE
        |    ELSE round(1.0::DOUBLE - ${passkProdSql(5)}, 6) END AS pass5,
        |  CASE WHEN n < 10 THEN NULL WHEN n - c < 10 THEN 1.0::DOUBLE
        |    ELSE round(1.0::DOUBLE - ${passkProdSql(10)}, 6) END AS pass10
        |FROM b""".stripMargin)
  )
}
