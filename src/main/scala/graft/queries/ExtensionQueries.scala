package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Extension surface beyond the reference engine: operations the reference
  * explicitly lacks (rollup/cube, percentiles, set ops, window functions —
  * /root/reference/query/sql/readme:1-9's TODO list and the compiler
  * rejections at aql_compiler.go:800-805) but that Spark provides natively
  * and a user migrating OFF the reference immediately gains. Each is a
  * first-class oracle-gated query, not a doc note.
  *
  * Scale: all four shapes are Catalyst-native (partial/final aggregation,
  * window over hash-partitioned keys, shuffle-free rollup expansion), so
  * they inherit the engine's pushdown/pruning/codegen behavior unchanged.
  */
object ExtensionQueries {
  private val dec = DecimalType(18, 2)

  val defs: Seq[QueryDef] = Seq(
    // --- ROLLUP subtotals (reference rejects grouping sets) -----------------
    QueryDef("q_agg_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // --- exact interpolated percentiles (reference has no percentiles) ------
    QueryDef("q_percentile_exact",
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(l_quantity, 0.50), 4) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.50)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
        .orderBy(asc_nulls_first("l_returnflag"))
    },

    // --- approximate percentiles (the mergeable-sketch scale path next to
    // q_percentile_exact: partial/final combinable, bounded memory at any
    // cardinality). The approx value is engine-specific, so the gate emits
    // the EXACT percentile plus a tolerance flag the oracle asserts (the
    // HLL gate pattern).
    //
    // Accuracy is DERIVED, not defaulted: the sketch's rank error is
    // <= N/accuracy, and landing within +-0.5 of the exact value on an
    // integral domain needs rank resolution of one value bucket — here
    // l_quantity is uniform over 50 values, so the smallest bucket near
    // the median holds ~N/50/|groups| rows and accuracy = 1000 leaves a
    // ~100x margin at every SF (sf0.001: error<=2 ranks vs ~40-row
    // buckets; sf10: error<=20k vs ~400k). The untuned default (10000)
    // measured 45.5 s at sf10 vs 6.7 s for the EXACT bounded-domain
    // histogram aggregate — a sketch sized past the domain's resolution
    // is pure compression overhead, 7x slower than exactness. With the
    // derived accuracy the sketch costs what it should; for bounded
    // integral domains prefer percentile() itself (also mergeable, an
    // O(|domain|) counts-map per partial) and keep the sketch for
    // unbounded/continuous measures.
    QueryDef("q_percentile_approx",
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.50), 4) AS exact_p50,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("exact_p50"),
          expr("approx_percentile(l_quantity, 0.5, 1000)").as("__approx"))
        .select(col("l_returnflag"), col("exact_p50"),
          (abs(col("__approx") - col("exact_p50")) <= 0.5).as("approx_ok"))
        .orderBy(asc_nulls_first("l_returnflag"))
    },

    // --- gap-based sessionization (events: one shuffle on user_id, one
    // sort, two window functions over the same spec) -------------------------
    QueryDef("q_sessionize",
      """WITH s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR CAST(FLOOR(epoch(ts)) AS BIGINT)
        |            - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) > 21600
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM s),
        |per_session AS (
        |  SELECT user_id, session_idx, COUNT(*) AS n
        |  FROM s2 GROUP BY 1, 2)
        |SELECT CAST(user_id % 8 AS BIGINT) AS ub,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS big_sessions
        |FROM per_session GROUP BY 1 ORDER BY ub NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.sessionize(Tables.eventsByUser(s, d),
          "user_id", "ts", "event_id", 21600L)
        .groupBy("user_id", "session_idx").agg(count(lit(1)).as("n"))
        .groupBy((col("user_id") % 8).as("ub"))
        .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"),
          sum(when(col("n") >= 3, 1L).otherwise(0L)).as("big_sessions"))
        .orderBy(asc_nulls_first("ub"))
    },

    // --- ordered funnel (view → click → purchase, strict ts order; N
    // window exprs over ONE sort — SessionsSpec asserts the single
    // Window node) ----------------------------------------------------------
    QueryDef("q_funnel",
      """WITH f1 AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    (event_type = 'view') AS flag1
        |  FROM events),
        |f2 AS (
        |  SELECT *, (event_type = 'click' AND
        |    MIN(CASE WHEN flag1 THEN ts END) OVER wprev IS NOT NULL) AS flag2
        |  FROM f1
        |  WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |f3 AS (
        |  SELECT *, (event_type = 'purchase' AND
        |    MIN(CASE WHEN flag2 THEN ts END) OVER wprev IS NOT NULL) AS flag3
        |  FROM f2
        |  WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |per_user AS (
        |  SELECT user_id, MAX(flag1) AS r1, MAX(flag2) AS r2, MAX(flag3) AS r3
        |  FROM f3 GROUP BY 1)
        |SELECT CAST(1 AS INT) AS stage,
        |  CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS users FROM per_user
        |UNION ALL SELECT CAST(2 AS INT),
        |  CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) FROM per_user
        |UNION ALL SELECT CAST(3 AS INT),
        |  CAST(SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) FROM per_user
        |ORDER BY stage NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.funnelCounts(Tables.eventsByUser(s, d),
          "user_id", "ts", "event_id", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy("stage")
    },

    // --- weekly cohort retention triangle (users cohort by first-event
    // week; one groupBy + key-partitioned join + distinct count) ------------
    QueryDef("q_cohort_retention",
      """WITH wp AS (
        |  SELECT user_id,
        |    CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 604800) AS BIGINT) AS p
        |  FROM events),
        |firsts AS (SELECT user_id, MIN(p) AS cohort_period FROM wp GROUP BY 1)
        |SELECT cohort_period, p - cohort_period AS period_offset,
        |  CAST(COUNT(DISTINCT wp.user_id) AS BIGINT) AS users
        |FROM wp JOIN firsts ON wp.user_id = firsts.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_period NULLS FIRST, period_offset NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.cohortRetention(Tables.eventsByUser(s, d),
          "user_id", "ts", 604800L)
        .orderBy("cohort_period", "period_offset")
    },

    // --- first-order Markov transition matrix over per-user event
    // streams ("what do users do after a search?"); a user's first event
    // transitions from the synthetic '_start' state. Same zero-shuffle
    // window as q_sessionize (eventsByUser pre-bucketing), then a count
    // whose cardinality is the type-pair space; transition probabilities
    // normalize per prev_type over the tiny aggregate.
    QueryDef("q_event_transitions",
      """WITH t AS (
        |  SELECT COALESCE(lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id), '_start') AS prev_type,
        |    event_type AS next_type
        |  FROM events),
        |c AS (SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM t GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 4) AS p
        |FROM c
        |ORDER BY prev_type NULLS FIRST, next_type NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.transitions(Tables.eventsByUser(s, d),
          "user_id", "ts", "event_id", "event_type")
        .withColumn("p", round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("prev_type")), 4))
        .orderBy(asc_nulls_first("prev_type"), asc_nulls_first("next_type"))
    },

    // --- multi-touch conversion attribution: five models in one pass
    // (first/last/linear/U-shaped/time-decay). Next/previous conversion
    // resolve through VALUE-based RANGE frames (tie-proof; see
    // Sessions.attribution). The oracle replays every model formula,
    // including the tied-first/last credit split and the same-second
    // exclusion; each conversion distributes exactly 1.0 per model.
    QueryDef("q_event_attribution",
      """WITH ev AS (
        |  SELECT user_id AS u, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
        |    event_type AS ty
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |tc AS (
        |  SELECT *,
        |    MIN(CASE WHEN ty = 'purchase' THEN t END) OVER
        |      (PARTITION BY u ORDER BY t
        |       RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
        |  FROM ev),
        |touches AS (
        |  SELECT u, t, ty, nc,
        |    pow(0.5, (nc - t) / 86400.0) AS w
        |  FROM tc
        |  WHERE ty <> 'purchase' AND nc IS NOT NULL AND t >= nc - 259200),
        |st AS (
        |  SELECT *, COUNT(*) OVER wc AS n,
        |    MIN(t) OVER wc AS tf, MAX(t) OVER wc AS tl,
        |    SUM(w) OVER wc AS ws
        |  FROM touches
        |  WINDOW wc AS (PARTITION BY u, nc)),
        |st2 AS (
        |  SELECT *,
        |    SUM(CASE WHEN t = tf THEN 1 ELSE 0 END) OVER wc AS nf,
        |    SUM(CASE WHEN t = tl THEN 1 ELSE 0 END) OVER wc AS nl
        |  FROM st WINDOW wc AS (PARTITION BY u, nc))
        |SELECT ty AS event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  ROUND(SUM(CASE WHEN t = tf THEN 1.0 / nf ELSE 0 END), 4) AS first_touch,
        |  ROUND(SUM(CASE WHEN t = tl THEN 1.0 / nl ELSE 0 END), 4) AS last_touch,
        |  ROUND(SUM(1.0 / n), 4) AS linear,
        |  ROUND(SUM(CASE WHEN tf = tl THEN 1.0 / n
        |    WHEN t = tf THEN (CASE WHEN n - nf - nl > 0 THEN 0.4 ELSE 0.5 END) / nf
        |    WHEN t = tl THEN (CASE WHEN n - nf - nl > 0 THEN 0.4 ELSE 0.5 END) / nl
        |    ELSE 0.2 / (n - nf - nl) END), 4) AS position_based,
        |  ROUND(SUM(w / ws), 4) AS time_decay
        |FROM st2 GROUP BY ty
        |ORDER BY event_type NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.attribution(Tables.eventsByUser(s, d),
          "user_id", "ts", "event_type", Seq("view", "click"), "purchase",
          lookbackSeconds = 259200L, halfLifeSeconds = 86400L)
        .orderBy(asc_nulls_first("event_type"))
    },

    // --- attribution reconciliation: the closed-window diff that makes
    // the streaming operator's late-touch drop safe to deploy. The
    // "streamed" side is simulated deterministically — the credits
    // computed WITHOUT the touches a modulus predicate marks late
    // (event_id % 7 = 3) — and attributionDiff emits exactly the deltas
    // that restore the full-history batch truth (missing rows for the
    // dropped touches, adjusted rows for their siblings' moved shares).
    // The oracle replays both credit computations and the full-outer
    // key-grain diff; the >1e-6 changed-filter applies to UNROUNDED
    // deltas in both engines.
    QueryDef("q_event_attribution_diff",
      """WITH ev AS (
        |  SELECT user_id AS u, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
        |    event_type AS ty, event_id AS eid
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |evs AS (
        |  SELECT * FROM ev
        |  WHERE NOT (ty IN ('view', 'click') AND eid % 7 = 3)),
        |b0 AS (
        |  SELECT u, t, ty,
        |    MIN(CASE WHEN ty = 'purchase' THEN t END) OVER
        |      (PARTITION BY u ORDER BY t
        |       RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
        |  FROM ev),
        |b1 AS (
        |  SELECT u, t, ty, nc, pow(0.5, (nc - t) / 86400.0) AS w
        |  FROM b0 WHERE ty <> 'purchase' AND nc IS NOT NULL AND t >= nc - 259200),
        |b2 AS (
        |  SELECT *, COUNT(*) OVER wc AS n, MIN(t) OVER wc AS tf,
        |    MAX(t) OVER wc AS tl, SUM(w) OVER wc AS ws
        |  FROM b1 WINDOW wc AS (PARTITION BY u, nc)),
        |b3 AS (
        |  SELECT *,
        |    SUM(CASE WHEN t = tf THEN 1 ELSE 0 END) OVER wc AS nf,
        |    SUM(CASE WHEN t = tl THEN 1 ELSE 0 END) OVER wc AS nl
        |  FROM b2 WINDOW wc AS (PARTITION BY u, nc)),
        |b AS (
        |  SELECT u, nc, ty, t,
        |    SUM(CASE WHEN t = tf THEN 1.0 / nf ELSE 0 END) AS f,
        |    SUM(CASE WHEN t = tl THEN 1.0 / nl ELSE 0 END) AS l,
        |    SUM(1.0 / n) AS lin,
        |    SUM(CASE WHEN tf = tl THEN 1.0 / n
        |      WHEN t = tf THEN (CASE WHEN n - nf - nl > 0 THEN 0.4 ELSE 0.5 END) / nf
        |      WHEN t = tl THEN (CASE WHEN n - nf - nl > 0 THEN 0.4 ELSE 0.5 END) / nl
        |      ELSE 0.2 / (n - nf - nl) END) AS pos,
        |    SUM(w / ws) AS dec
        |  FROM b3 GROUP BY 1, 2, 3, 4),
        |s0 AS (
        |  SELECT u, t, ty,
        |    MIN(CASE WHEN ty = 'purchase' THEN t END) OVER
        |      (PARTITION BY u ORDER BY t
        |       RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
        |  FROM evs),
        |s1 AS (
        |  SELECT u, t, ty, nc, pow(0.5, (nc - t) / 86400.0) AS w
        |  FROM s0 WHERE ty <> 'purchase' AND nc IS NOT NULL AND t >= nc - 259200),
        |s2 AS (
        |  SELECT *, COUNT(*) OVER wc AS n, MIN(t) OVER wc AS tf,
        |    MAX(t) OVER wc AS tl, SUM(w) OVER wc AS ws
        |  FROM s1 WINDOW wc AS (PARTITION BY u, nc)),
        |s3 AS (
        |  SELECT *,
        |    SUM(CASE WHEN t = tf THEN 1 ELSE 0 END) OVER wc AS nf,
        |    SUM(CASE WHEN t = tl THEN 1 ELSE 0 END) OVER wc AS nl
        |  FROM s2 WINDOW wc AS (PARTITION BY u, nc)),
        |s AS (
        |  SELECT u, nc, ty, t,
        |    SUM(CASE WHEN t = tf THEN 1.0 / nf ELSE 0 END) AS f,
        |    SUM(CASE WHEN t = tl THEN 1.0 / nl ELSE 0 END) AS l,
        |    SUM(1.0 / n) AS lin,
        |    SUM(CASE WHEN tf = tl THEN 1.0 / n
        |      WHEN t = tf THEN (CASE WHEN n - nf - nl > 0 THEN 0.4 ELSE 0.5 END) / nf
        |      WHEN t = tl THEN (CASE WHEN n - nf - nl > 0 THEN 0.4 ELSE 0.5 END) / nl
        |      ELSE 0.2 / (n - nf - nl) END) AS pos,
        |    SUM(w / ws) AS dec
        |  FROM s3 GROUP BY 1, 2, 3, 4)
        |SELECT CAST(COALESCE(b.u, s.u) AS BIGINT) AS user_id,
        |  COALESCE(b.nc, s.nc) AS conv_ts,
        |  COALESCE(b.ty, s.ty) AS touch_type,
        |  COALESCE(b.t, s.t) AS touch_ts,
        |  CASE WHEN s.ty IS NULL THEN 'missing'
        |       WHEN b.ty IS NULL THEN 'extra'
        |       ELSE 'adjusted' END AS kind,
        |  ROUND(COALESCE(b.f, 0) - COALESCE(s.f, 0), 4) AS d_first_touch,
        |  ROUND(COALESCE(b.l, 0) - COALESCE(s.l, 0), 4) AS d_last_touch,
        |  ROUND(COALESCE(b.lin, 0) - COALESCE(s.lin, 0), 4) AS d_linear,
        |  ROUND(COALESCE(b.pos, 0) - COALESCE(s.pos, 0), 4) AS d_position_based,
        |  ROUND(COALESCE(b.dec, 0) - COALESCE(s.dec, 0), 4) AS d_time_decay
        |FROM b FULL OUTER JOIN s
        |  ON b.u = s.u AND b.nc = s.nc AND b.ty = s.ty AND b.t = s.t
        |WHERE abs(COALESCE(b.f, 0) - COALESCE(s.f, 0)) > 1e-6
        |   OR abs(COALESCE(b.l, 0) - COALESCE(s.l, 0)) > 1e-6
        |   OR abs(COALESCE(b.lin, 0) - COALESCE(s.lin, 0)) > 1e-6
        |   OR abs(COALESCE(b.pos, 0) - COALESCE(s.pos, 0)) > 1e-6
        |   OR abs(COALESCE(b.dec, 0) - COALESCE(s.dec, 0)) > 1e-6
        |ORDER BY user_id, conv_ts, touch_type, touch_ts""".stripMargin) { (s, d) =>
      val ev = Tables.eventsByUser(s, d)
      val withoutLate = ev.where(!(col("event_type").isin("view", "click") &&
        col("event_id") % 7 === 3))
      val streamedSim = graft.operators.Sessions.attributionCredits(
          withoutLate, "user_id", "ts", "event_type", Seq("view", "click"),
          "purchase", lookbackSeconds = 259200L, halfLifeSeconds = 86400L)
        .select(col("user"), col("conv_ts").as("convTs"),
          col("touch_type").as("touchType"), col("touch_ts").as("touchTs"),
          col("first_touch").as("firstTouch"), col("last_touch").as("lastTouch"),
          col("linear"), col("position_based").as("positionBased"),
          col("time_decay").as("timeDecay"))
      graft.operators.Sessions.attributionDiff(streamedSim, ev,
          "user_id", "ts", "event_type", Seq("view", "click"), "purchase",
          lookbackSeconds = 259200L, halfLifeSeconds = 86400L,
          windowFromSec = 0L, windowToSec = 4102444800L)
        .select(col("user").cast("long").as("user_id"), col("conv_ts"),
          col("touch_type"), col("touch_ts"), col("kind"),
          round(col("first_touch"), 4).as("d_first_touch"),
          round(col("last_touch"), 4).as("d_last_touch"),
          round(col("linear"), 4).as("d_linear"),
          round(col("position_based"), 4).as("d_position_based"),
          round(col("time_decay"), 4).as("d_time_decay"))
        .orderBy("user_id", "conv_ts", "touch_type", "touch_ts")
    },

    // --- exponential time-decay popularity (half-life 7 days, as-of
    // 2024-02-01T00:00:00Z — explicit, so the score is reproducible):
    // recency-weighted activity per event type, map-side decay factor
    // under a plain partial/final SUM. The -(ln 2 · Δt)/hl spelling is
    // IEEE-identical in both engines; ROUND 4 absorbs the summation-order
    // residue.
    QueryDef("q_decay_popularity",
      """SELECT event_type,
        |  ROUND(SUM(exp(-(ln(2) * (1706745600 - CAST(FLOOR(epoch(ts)) AS BIGINT)))
        |                / 604800.0)), 4) AS decayed_n,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1
        |ORDER BY event_type NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.decayedCount(Tables.events(s, d), "ts",
          Seq("event_type"), 1706745600L, 604800.0)
        .select(col("event_type"), round(col("decayed_n"), 4).as("decayed_n"),
          col("n"))
        .orderBy(asc_nulls_first("event_type"))
    },

    // --- association lift over per-user event-type sets (the unordered
    // companion to q_event_transitions): P(a,b)/(P(a)·P(b)) per type
    // pair. The engine builds each user's sorted distinct-type set in ONE
    // shuffle and expands pairs map-side (transform×slice fold) — the
    // oracle replays with the equivalent distinct self-join.
    QueryDef("q_event_lift",
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS nu FROM events),
        |tc AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS c FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |        CAST(COUNT(*) AS BIGINT) AS n_ab
        |      FROM ut a JOIN ut b ON a.user_id = b.user_id
        |        AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT ta, tb, n_ab, ROUND(n_ab * nu / (ca.c * cb.c), 4) AS lift
        |FROM p JOIN tc ca ON ca.event_type = ta
        |       JOIN tc cb ON cb.event_type = tb CROSS JOIN n
        |ORDER BY ta NULLS FIRST, tb NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.coOccurrenceLift(Tables.eventsByUser(s, d),
          "user_id", "event_type")
        .select(col("ta"), col("tb"), col("n_ab"),
          round(col("lift"), 4).as("lift"))
        .orderBy(asc_nulls_first("ta"), asc_nulls_first("tb"))
    },

    // --- RFM segmentation (quartile recency/frequency/monetary at the
    // q_decay_popularity as-of): events reduce to a user-cardinality
    // aggregate first, ntile(4) edges rank on the ROUNDED monetary with
    // the user-id tiebreak so bucket boundaries are engine-independent.
    QueryDef("q_rfm_segments",
      """WITH per AS (
        |  SELECT user_id AS u,
        |    1706745600 - MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS recency,
        |    COUNT(*) AS frequency,
        |    ROUND(SUM(value), 6) AS monetary
        |  FROM events GROUP BY 1),
        |b AS (SELECT u,
        |    ntile(4) OVER (ORDER BY recency, u) AS r,
        |    ntile(4) OVER (ORDER BY frequency DESC, u) AS f,
        |    ntile(4) OVER (ORDER BY monetary DESC, u) AS m
        |  FROM per)
        |SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
        |  CAST(COUNT(*) AS BIGINT) AS users
        |FROM b GROUP BY 1, 2, 3
        |ORDER BY r NULLS FIRST, f NULLS FIRST, m NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.rfmSegments(Tables.events(s, d),
          "user_id", "ts", "value", 1706745600L, buckets = 4)
        .orderBy(asc_nulls_first("r"), asc_nulls_first("f"),
          asc_nulls_first("m"))
    },

    // --- DAU/WAU/MAU + stickiness: exact trailing-window distinct-user
    // counts for every observed day in one pass — distinct (day, user)
    // reduction, map-side fan-out to served as-of days, nearest-gap
    // partial agg, conditional sums (Sessions.rollingActiveUsers
    // scaladoc). Oracle replays with the theta-join formulation the
    // engine deliberately avoids.
    QueryDef("q_active_users",
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u
        |            FROM events),
        |days AS (SELECT DISTINCT day AS asof_day FROM du),
        |j AS (SELECT d.asof_day, du.u, MIN(d.asof_day - du.day) AS gap
        |      FROM days d JOIN du ON du.day <= d.asof_day
        |        AND du.day > d.asof_day - 28
        |      GROUP BY 1, 2)
        |SELECT strftime(asof_day, '%Y-%m-%d') AS day,
        |  CAST(SUM(CASE WHEN gap < 1 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
        |  CAST(SUM(CASE WHEN gap < 7 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
        |  CAST(SUM(CASE WHEN gap < 28 THEN 1 ELSE 0 END) AS BIGINT) AS mau,
        |  ROUND(SUM(CASE WHEN gap < 1 THEN 1 ELSE 0 END) * 1.0 /
        |        SUM(CASE WHEN gap < 28 THEN 1 ELSE 0 END), 4) AS stickiness
        |FROM j GROUP BY asof_day
        |ORDER BY day NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.rollingActiveUsers(Tables.events(s, d),
          "user_id", "ts", Seq(1, 7, 28))
        .select(date_format(col("asof_day"), "yyyy-MM-dd").as("day"),
          col("au_1").as("dau"), col("au_7").as("wau"), col("au_28").as("mau"),
          round(col("au_1").cast("double") / col("au_28"), 4).as("stickiness"))
        .orderBy(asc_nulls_first("day"))
    },

    // --- transition dwell times: exact median/p90 gap seconds per
    // consecutive type pair (the timing companion to
    // q_event_transitions), one lag pair over the user-bucketed sort.
    QueryDef("q_transition_dwell",
      """WITH t AS (
        |  SELECT user_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT)
        |      - lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w AS gap,
        |    lag(event_type) OVER w AS prev_type,
        |    event_type AS next_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(quantile_cont(gap, 0.5), 4) AS median_gap,
        |  ROUND(quantile_cont(gap, 0.9), 4) AS p90_gap
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY prev_type NULLS FIRST, next_type NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.transitionDwell(Tables.eventsByUser(s, d),
          "user_id", "ts", "event_id", "event_type")
        .orderBy(asc_nulls_first("prev_type"), asc_nulls_first("next_type"))
    },

    // --- session metrics: bounce rate, depth and exact median duration
    // over gap-sessionized streams (the q_sessionize operator reused as
    // an analysis input; 30-minute gap).
    QueryDef("q_session_metrics",
      """WITH s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR CAST(FLOOR(epoch(ts)) AS BIGINT)
        |            - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM s),
        |per_session AS (
        |  SELECT user_id, session_idx, COUNT(*) AS depth,
        |    CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)
        |      - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration
        |  FROM s2 GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS sessions,
        |  ROUND(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) * 1.0
        |        / COUNT(*), 4) AS bounce_rate,
        |  ROUND(AVG(depth), 4) AS avg_depth,
        |  ROUND(quantile_cont(duration, 0.5), 4) AS median_duration
        |FROM per_session""".stripMargin) { (s, d) =>
      graft.operators.Sessions.sessionize(Tables.eventsByUser(s, d),
          "user_id", "ts", "event_id", 1800L)
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("depth"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
            .as("duration"))
        .agg(count(lit(1)).as("sessions"),
          round(sum(when(col("depth") === 1, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 4).as("bounce_rate"),
          round(avg(col("depth")), 4).as("avg_depth"),
          round(expr("percentile(duration, 0.5)"), 4).as("median_duration"))
    },

    // --- conversion-window funnel: stages count only within 24h of the
    // user's FIRST stage-1 event (first-touch window, greedy-min chain)
    // plus the exact median time-to-reach per stage — the "converted
    // within a day" report the unbounded q_funnel cannot express.
    QueryDef("q_funnel_window",
      """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
        |             event_type
        |           FROM events),
        |t1 AS (SELECT user_id,
        |         MIN(CASE WHEN event_type = 'view' THEN sec END) AS t1
        |       FROM e GROUP BY 1),
        |t2 AS (SELECT e.user_id,
        |         MIN(CASE WHEN event_type = 'click' AND sec > t1
        |                   AND sec <= t1 + 86400 THEN sec END) AS t2
        |       FROM e JOIN t1 USING (user_id) GROUP BY 1),
        |t3 AS (SELECT e.user_id,
        |         MIN(CASE WHEN event_type = 'purchase' AND sec > t2
        |                   AND sec <= t1 + 86400 THEN sec END) AS t3
        |       FROM e JOIN t1 USING (user_id) JOIN t2 USING (user_id)
        |       GROUP BY 1),
        |u AS (SELECT t1.user_id, t1.t1, t2.t2, t3.t3
        |      FROM t1 JOIN t2 USING (user_id) JOIN t3 USING (user_id))
        |SELECT 1 AS stage, COUNT(t1) AS users,
        |  CAST(NULL AS DOUBLE) AS median_secs FROM u
        |UNION ALL SELECT 2, COUNT(t2), ROUND(quantile_cont(t2 - t1, 0.5), 4)
        |FROM u
        |UNION ALL SELECT 3, COUNT(t3), ROUND(quantile_cont(t3 - t1, 0.5), 4)
        |FROM u
        |ORDER BY stage NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.funnelWithin(Tables.eventsByUser(s, d),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
          withinSec = 86400L)
        .orderBy(asc_nulls_first("stage"))
    },

    // --- arbitrary GROUPING SETS (past q_agg_rollup/cube: a set list
    // neither rollup nor cube can express — {(rf,ls), (ls), ()}) via
    // Spark 4's Dataset.groupingSets; NULL patterns mark the set like the
    // rollup gate, no engine-specific grouping_id in the output.
    QueryDef("q_agg_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // --- top-k 3-step journeys: two lags over the one user sort, path
    // counts at |types|^3 cardinality, TakeOrderedAndProject top 15.
    QueryDef("q_event_paths",
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER w AS p1, lag(event_type, 2) OVER w AS p2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (SELECT p2 || '>' || p1 || '>' || event_type AS path,
        |        COUNT(*) AS n
        |      FROM t WHERE p2 IS NOT NULL GROUP BY 1)
        |SELECT path, CAST(n AS BIGINT) AS n FROM c
        |ORDER BY n DESC, path LIMIT 15""".stripMargin) { (s, d) =>
      graft.operators.Sessions.topPaths(Tables.eventsByUser(s, d),
          "user_id", "ts", "event_id", "event_type", k = 15)
    },

    // --- daily-count anomaly flags: per (type, day) z-score against the
    // trailing 7 OBSERVED days (current day excluded), |z| > 2 flags;
    // warm-up rows carry NULL z / false. z ranks on the ROUNDED value.
    // A flat baseline (sd = 0) has no finite z but still flags on ANY
    // departure from the constant — the quiet-sensor-screams case.
    QueryDef("q_anomaly_days",
      """WITH daily AS (
        |  SELECT event_type AS etype, CAST(ts AS DATE) AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT etype, d, n, AVG(n) OVER w AS mu, STDDEV_SAMP(n) OVER w AS sd
        |  FROM daily
        |  WINDOW w AS (PARTITION BY etype ORDER BY d
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT etype, strftime(d, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
        |  CASE WHEN sd IS NULL OR sd = 0 THEN NULL
        |       ELSE ROUND((n - mu) / sd, 4) END AS z,
        |  CASE WHEN sd = 0 AND mu IS NOT NULL THEN n <> mu
        |       ELSE COALESCE(ABS(CASE WHEN sd IS NULL OR sd = 0 THEN NULL
        |                         ELSE ROUND((n - mu) / sd, 4) END) > 2.0, FALSE)
        |  END AS is_anomaly
        |FROM st
        |ORDER BY etype NULLS FIRST, day NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Sessions.dailyAnomalies(Tables.events(s, d),
          "ts", "event_type", trailing = 7, zThreshold = 2.0)
        .select(col("etype"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("z"), col("is_anomaly"))
        .orderBy(asc_nulls_first("etype"), asc_nulls_first("day"))
    },

    // --- set operations (reference TODO sql/readme:7) -----------------------
    QueryDef("q_set_ops",
      """SELECT 'except' AS op, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT DISTINCT c_nationkey FROM customer
        |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT DISTINCT c_nationkey FROM customer
        |  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT DISTINCT c_nationkey FROM customer
        |  UNION SELECT DISTINCT s_nationkey FROM supplier)
        |ORDER BY op NULLS FIRST""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select("c_nationkey").distinct()
      val su = Tables.supplier(s, d).select("s_nationkey").distinct()
      def one(op: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("cnt")).select(lit(op).as("op"), col("cnt"))
      one("except", c.except(su))
        .unionByName(one("intersect", c.intersect(su)))
        .unionByName(one("union", c.union(su).distinct()))
        .orderBy("op")
    },

    // --- window functions (reference TODO sql/readme:8) ---------------------
    // first 3 events per user by (ts, event_id) — a deterministic total
    // order because event_id is unique
    QueryDef("q_window_rank",
      """SELECT CAST(user_id AS BIGINT) AS user_id, CAST(rn AS BIGINT) AS rn,
        |  CAST(event_id AS BIGINT) AS event_id
        |FROM (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 AND user_id < 50
        |ORDER BY user_id NULLS FIRST, rn NULLS FIRST""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3 && col("user_id") < 50)
        .select(col("user_id"), col("rn").cast("long").as("rn"), col("event_id"))
        .orderBy("user_id", "rn")
    },

    // --- lag/lead analytics: inter-event gap seconds per user ---------------
    QueryDef("q_window_lag",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(SUM(gap) AS BIGINT) AS sum_gap_s
        |FROM (
        |  SELECT event_type,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT)
        |      - CAST(FLOOR(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap
        |  FROM events) t
        |WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("gap",
          unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
        .where(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sum_gap_s"))
        .orderBy(asc_nulls_first("event_type"))
    },

    // --- CUBE (r10): all 2^n grouping-set combinations in one pass —
    // Catalyst's Expand feeds a single partial-aggregated shuffle, the
    // same plan family as ROLLUP.
    QueryDef("q_agg_cube",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // --- PIVOT (r10): one row per return flag, one column per line
    // status. Spark's relational pivot plans the same single aggregation
    // as the explicit conditional-sum form the oracle uses (values
    // enumerated, so no extra distinct pass).
    QueryDef("q_pivot_status",
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double"))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy(asc_nulls_first("l_returnflag"))
    }
  )
}
