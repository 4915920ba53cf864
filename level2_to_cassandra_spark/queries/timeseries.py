"""Time-series / market-data queries (SURVEY.md §2 B5/B9 batch forms).

The analytics the reference's storage layout (per-symbol, time-DESC
clustering, main.rs:87-88) exists to serve: bar aggregation (OHLC),
time-bucketed rollups, sessionization.  Batch forms are oracle-checked
here; the streaming forms (window()/session_window() on a stream) are
verified by stream/batch parity in tests/test_streaming_windows.py
against THESE queries.

Scale: every query is one hash shuffle on (key, bucket); OHLC uses
window functions inside the bucket partition — no self-joins, no
argmax-via-join (two shuffles) — the shape that holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from level2_to_cassandra_spark.catalog import load_table
from level2_to_cassandra_spark.functions import round_half_up
from level2_to_cassandra_spark.registry import register

_SCALE = 4


@register(
    "q_ohlc_bars",
    oracle="""
    SELECT user_id, bucket,
           MIN(open_v)  AS open,
           MAX(value)   AS high,
           MIN(value)   AS low,
           MIN(close_v) AS close,
           ROUND(SUM(value), 4) AS volume,
           COUNT(*) AS n_events
    FROM (
        SELECT user_id, DATE_TRUNC('hour', ts) AS bucket, value,
               FIRST_VALUE(value) OVER w AS open_v,
               LAST_VALUE(value)  OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING) AS close_v
        FROM events
        WINDOW w AS (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                     ORDER BY ts, event_id)
    )
    GROUP BY user_id, bucket
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per key — the canonical tick→candle rollup
    (events.value plays the tick price).  Open/close are deterministic
    firsts/lasts ordered by (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", "ts")
    w = Window.partitionBy("user_id", bucket).orderBy("ts", "event_id")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    enriched = ev.select(
        "user_id",
        bucket.alias("bucket"),
        "value",
        F.first("value").over(w).alias("open_v"),
        F.last("value").over(w_all).alias("close_v"),
    )
    return enriched.groupBy("user_id", "bucket").agg(
        F.min("open_v").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.min("close_v").alias("close"),
        F.round(F.sum("value"), _SCALE).alias("volume"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_time_bucket_agg",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value,
           FLOOR(AVG(value) * 10000 + 0.5) / 10000 AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_time_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate, batch form — the exact computation
    ``groupBy(window(ts, '1 day'), event_type)`` performs on a stream
    (parity-tested in test_streaming_windows.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), _SCALE).alias("total_value"),
            round_half_up(F.avg("value"), _SCALE).alias("avg_value"),
        )
    )


@register(
    "q_window_sliding",
    # Sliding = each event lands in width/slide buckets: the oracle
    # replays Spark's epoch-anchored window assignment by cross
    # joining the 2 offsets and floor-dividing epoch micros to the
    # 30-minute grid (1800000000 us); the ts-range predicate is the
    # general window-membership rule (vacuous at slide = width/2 but
    # kept so the SQL states the semantics, not the special case).
    oracle="""
    WITH grid AS (SELECT UNNEST(range(0, 2)) AS i),
    slid AS (
        SELECT make_timestamp(
                   ((epoch_us(ts) // 1800000000) - i) * 1800000000
               ) AS window_start,
               event_type, value, ts
        FROM events CROSS JOIN grid)
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM slid
    WHERE ts >= window_start
      AND ts < window_start + INTERVAL 1 HOUR
    GROUP BY window_start, event_type
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window aggregate (1-hour windows every 30 minutes) —
    the overlapping-window twin of q_time_bucket_agg's tumbling
    buckets and the batch form of
    ``groupBy(window(ts, '1 hour', '30 minutes'))`` on a stream.
    Spark's ``window()`` expands each row to its width/slide = 2
    covering windows BEFORE the hash aggregate, so the plan is one
    generate + one shuffle on (window, event_type) — the fan-out
    factor is the window overlap, a constant, never the corpus; at
    100 TB the same query runs unchanged as a watermarked streaming
    aggregate (test_streaming_windows.py covers the parity shape for
    tumbling)."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), _SCALE).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         <= 1800 * 1000000
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged)
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap), batch form of
    ``session_window(ts, '30 minutes')``: lag → new-session flag →
    running count = session id → per-session aggregate.  One shuffle on
    user_id; both window passes share the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        # microsecond precision on both sides: a seconds-cast would
        # round a 30:00.5 gap down into the session boundary.
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            <= 1800 * 1_000_000,
            0,
        )
        .otherwise(1)
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), _SCALE).alias("total_value"),
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER w, 4)    AS hour_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_hour
    FROM (
        SELECT event_id, user_id, value,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
        FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (B5's value-based frame form): per event,
    the rolling one-hour sum/count of everything the same user did in
    the preceding 3600 s — a frame bounded by the ORDER-BY *value*
    (epoch seconds), not a row count, so irregular event spacing is
    handled exactly.  Rows sharing a second are frame peers on both
    engines (RANGE semantics), which keeps the oracle deterministic
    without a tiebreaker.  One hash shuffle on user_id, then a single
    in-partition sort serves the whole frame scan — the same plan shape
    at any scale; the ts→long cast truncates µs exactly like the
    oracle's FLOOR(epoch(ts))."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "value", F.col("ts").cast("long").alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), _SCALE).alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("n_hour"),
    )


def _grid_union_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared relation for the resample queries: per-user hourly grid
    points ∪ (user, ts)-deduped events, one row each, with an ``evt``
    STRUCT MARKER — non-null for every event row even when the event's
    VALUE is null, so window fills can distinguish "no event yet"
    (marker null) from "event with null value" (marker non-null, value
    null) and reproduce ASOF join semantics exactly.  (A bare
    ``last(value, ignorenulls)`` would skip null-VALUED events, where
    an ASOF join matches the event and returns its NULL.)

    Dedup uses MAX(value) so grid-point ties are deterministic on both
    engines; both engines' MAX skip nulls identically.  The queries
    built on this must stay in lockstep with each other and with the
    oracles' shared CTE prefix — that is why this is ONE helper."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    grid = (
        e.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("t0"),
            F.max("ts").alias("t1"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("t0", "t1", F.expr("interval 1 hour"))
            ).alias("gts"),
        )
    )
    evt = F.struct(F.col("value").alias("value"), F.col("ts").alias("ts"))
    return grid.select(
        "user_id",
        F.col("gts").alias("pt"),
        F.lit(None).cast("struct<value:double,ts:timestamp>").alias("evt"),
        F.lit(1).alias("is_grid"),
    ).unionByName(
        e.select(
            "user_id", F.col("ts").alias("pt"), evt.alias("evt"),
            F.lit(0).alias("is_grid"),
        )
    )


@register(
    "q_resample_locf",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, MAX(value) AS value
      FROM events GROUP BY user_id, ts),
    b AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1
      FROM e GROUP BY user_id),
    grid AS (
      SELECT user_id, UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts
      FROM b)
    SELECT g.user_id, g.gts, e.value AS locf_value
    FROM grid g ASOF LEFT JOIN e
      ON g.user_id = e.user_id AND g.gts >= e.ts
    """,
)
def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to a regular per-key grid with LOCF gap-fill (the
    classic irregular→regular time-series transform the reference's
    `(symbol, time DESC)` storage layout exists to serve): per user an
    hourly grid spans [trunc(min ts), max ts], and each grid point
    carries the latest event's value at-or-before it — NULL before the
    first event, and the EVENT'S OWN null when the matched event's
    value is null — exactly DuckDB's ASOF LEFT JOIN semantics (the
    struct-marker mechanics are in :func:`_grid_union_events`).

    Plan: grid∪events walked by one last-non-null-MARKER window.
    Three key-aligned hash exchanges total (the (user, ts) dedup agg,
    the per-user bounds agg, the fill window's user_id partitioning) —
    and NO join: the grid side is generated in-plan (sequence/
    explode), never materialized or shuffled as a separate relation.
    Events at a grid instant sort BEFORE the grid row (is_grid
    tiebreak), so an exact-timestamp event is visible to its own grid
    point, matching `gts >= ts`."""
    merged = _grid_union_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("pt", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("__p", F.last("evt", ignorenulls=True).over(w))
        .where(F.col("is_grid") == 1)
        .select(
            "user_id",
            F.col("pt").alias("gts"),
            F.col("__p")["value"].alias("locf_value"),
        )
    )


@register(
    "q_resample_interp",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, MAX(value) AS value
      FROM events GROUP BY user_id, ts),
    b AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1
      FROM e GROUP BY user_id),
    grid AS (
      SELECT user_id, UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts
      FROM b),
    gneg AS (SELECT user_id, gts, -epoch(gts) AS gneg FROM grid),
    eneg AS (SELECT user_id, ts, value, -epoch(ts) AS tneg FROM e),
    prev AS (
      SELECT g.user_id, g.gts, e.ts AS pts, e.value AS pv
      FROM grid g ASOF LEFT JOIN e
        ON g.user_id = e.user_id AND g.gts >= e.ts),
    nxt AS (
      SELECT g.user_id, g.gts, e2.ts AS nts, e2.value AS nv
      FROM gneg g ASOF LEFT JOIN eneg e2
        ON g.user_id = e2.user_id AND g.gneg >= e2.tneg)
    SELECT p.user_id, p.gts,
           CASE WHEN p.pv IS NULL OR n.nv IS NULL THEN NULL
                WHEN n.nts = p.pts THEN p.pv
                ELSE ROUND(p.pv + (n.nv - p.pv) *
                     (epoch(p.gts) - epoch(p.pts))
                     / (epoch(n.nts) - epoch(p.pts)), 6)
           END AS interp_value
    FROM prev p JOIN nxt n ON p.user_id = n.user_id AND p.gts = n.gts
    """,
)
def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling — q_resample_locf's companion:
    each hourly grid point carries the value linearly interpolated
    between the bracketing events (NULL outside the observed range, or
    when either bracketing event's value is null — the oracle's
    ``pv IS NULL OR nv IS NULL`` gate, reproduced exactly via the
    struct markers of :func:`_grid_union_events`).

    Tie discipline: DuckDB's two ASOF joins are both INCLUSIVE
    (`gts >= ts` back, negated-epoch `>=` forward), so an event at the
    grid instant is simultaneously prev AND next (``nts = pts`` → take
    its value unrounded).  The Spark twin makes the forward window
    inclusive too by ordering it (pt, is_grid DESC) — grid before
    event at equal pt — where the backward window orders (pt, is_grid
    ASC); with a single shared exchange and two sorts.  An earlier
    version ordered both windows ASC, which silently EXCLUDED the
    coincident event from the forward frame and diverged from the
    oracle at every exact-grid-time event.

    Plan: grid∪events, two window frames, one user_id exchange (plus
    the dedup-agg and bounds-agg exchanges of the shared relation —
    same three-exchange budget as LOCF, one extra in-partition sort).
    Timestamps enter the arithmetic as micros/1e6 doubles — the same
    value DuckDB's epoch() produces — and the interpolated result is
    rounded at 6 on both engines."""
    merged = _grid_union_events(spark, sf_dir)
    back = (
        Window.partitionBy("user_id")
        .orderBy("pt", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("pt", F.desc("is_grid"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    sec = lambda c: (F.unix_micros(c).cast("double") / F.lit(1e6))  # noqa: E731
    out = (
        merged.withColumn("__p", F.last("evt", ignorenulls=True).over(back))
        .withColumn("__n", F.first("evt", ignorenulls=True).over(fwd))
        .where(F.col("is_grid") == 1)
        .select(
            "user_id",
            F.col("pt").alias("gts"),
            F.col("__p")["value"].alias("pv"),
            F.col("__p")["ts"].alias("pts"),
            F.col("__n")["value"].alias("nv"),
            F.col("__n")["ts"].alias("nts"),
        )
    )
    interp = (
        F.when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
        .when(F.col("nts") == F.col("pts"), F.col("pv"))
        .otherwise(
            F.round(
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (sec(F.col("gts")) - sec(F.col("pts")))
                / (sec(F.col("nts")) - sec(F.col("pts"))),
                6,
            )
        )
    )
    return out.select(
        "user_id", "gts", interp.cast("double").alias("interp_value")
    )


@register(
    "q_funnel",
    # Pure timestamp comparisons and exact counts — no float step at
    # all, so the engines cannot disagree on anything but semantics.
    # NULL ts rows are excluded on BOTH sides: an all-NULL-ts view
    # group would otherwise count on the oracle side (GROUP BY keeps
    # the group, COUNT(*) counts it) but not on the Spark side
    # (count of a NULL min skips it) — same latent-fixture-drift
    # class as the entropy query's empty-text pin.
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
    v AS (SELECT user_id, MIN(ts) AS t1 FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM ev e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM ev e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY e.user_id)
    SELECT * FROM (
      SELECT 1 AS stage_idx, 'view' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 2, 'view>click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM p)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED-SEQUENCE FUNNEL (view → click → purchase): per user the
    earliest view, the earliest click strictly AFTER it, the earliest
    purchase strictly after that; report how many users survive each
    stage — the conversion-funnel query every event store serves.

    Scale shape: ONE hash shuffle (user_id) feeds three chained
    conditional-min window passes over the same partitioning (each
    stage's threshold is just a column the next windowed min
    references — no self-joins, no re-shuffle between stages, unlike
    the oracle's 3-join formulation), then a 3-row global rollup.
    Skew-safe: per-user state is three timestamps."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    stage = ev.withColumn("__t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("__t1")),
            F.col("ts"),
        )
    ).over(w)
    stage = stage.withColumn("__t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("__t2")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        stage.withColumn("__t3", t3)
        .groupBy("user_id")
        .agg(
            F.first("__t1").alias("t1"),
            F.first("__t2").alias("t2"),
            F.first("__t3").alias("t3"),
        )
    )
    return per_user.agg(
        F.count("t1").alias("__n1"),
        F.count("t2").alias("__n2"),
        F.count("t3").alias("__n3"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage_idx"),
                    F.lit("view").alias("stage"),
                    F.col("__n1").alias("n_users"),
                ),
                F.struct(
                    F.lit(2).alias("stage_idx"),
                    F.lit("view>click").alias("stage"),
                    F.col("__n2").alias("n_users"),
                ),
                F.struct(
                    F.lit(3).alias("stage_idx"),
                    F.lit("view>click>purchase").alias("stage"),
                    F.col("__n3").alias("n_users"),
                ),
            )
        ).alias("__s")
    ).select("__s.stage_idx", "__s.stage", "__s.n_users")


_RETENTION_MAX_OFFSET = 3


@register(
    "q_retention",
    # date_trunc('week') is Monday-start on both engines; offsets are
    # exact integer day arithmetic — no float anywhere.
    oracle=f"""
    WITH cohort AS (
      SELECT user_id, date_trunc('week', MIN(ts))::DATE AS cohort_week
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week
      FROM events)
    SELECT cohort_week,
           CAST((week - cohort_week) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM cohort JOIN active USING (user_id)
    WHERE (week - cohort_week) // 7 <= {_RETENTION_MAX_OFFSET}
    GROUP BY cohort_week, week_offset
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION: bucket each user into the Monday-start week
    of their first event, then count how many of each cohort are
    active 0..3 weeks later — the other half of the classic
    event-analytics pair with q_funnel.

    Scale shape: NO JOIN AT ALL — one user_id shuffle computes the
    cohort week and the distinct active-week set in the same
    aggregate (collect_set is bounded by weeks-per-user, a small
    constant), the set explodes map-side into offsets, and the final
    rollup is a map-side-combined count on a tiny (cohort_week,
    offset) key space.  The cohort↔active join this replaces is a
    trap at scale: the cohort side is user-count-sized, far past
    broadcastability, so it would cost a third corpus-scale shuffle.
    The oracle keeps the join formulation (clarity over speed)."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"),
        F.collect_set(wk).alias("__weeks"),
    )
    off = (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("long")
    return (
        per_user.select("cohort_week", F.explode("__weeks").alias("week"))
        .select("cohort_week", off.alias("week_offset"))
        .where(F.col("week_offset") <= _RETENTION_MAX_OFFSET)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q_event_transitions",
    # Exact counts + one rounded division — the only float step is the
    # per-source probability, rounded to 6 on both engines.  NULL ts
    # rows are excluded on both sides (same pin as q_funnel: ordering
    # by a NULL timestamp is engine-defined).  The (ts, event_id)
    # ordering makes the lag deterministic under same-timestamp ties.
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
    seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM ev)
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type)
                                 AS DOUBLE), 6) AS prob
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TRANSITION MATRIX (first-order Markov view of the event
    stream): for every ordered per-user pair of consecutive events,
    count (prev_type → next_type) and normalize each source row into
    transition probabilities — the "what do users do next" analytics
    that complements q_funnel's fixed path and q_retention's cohort
    view, and the input to next-event-prediction baselines.

    Scale shape: ONE user_id shuffle feeds the lag window (state per
    row is a single previous value), the transition rollup is a
    map-side-combined count on a |event_types|² key space (25 cells
    here), and the probability normalization is a window over that
    tiny aggregate — cost is the one shuffle, independent of the
    transition-matrix math.  Deterministic under timestamp ties via
    the (ts, event_id) ordering."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    agg = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("prev_type")
    return agg.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n") / F.sum("n").over(tot).cast("double"), 6
        ).alias("prob"),
    )


@register(
    "q_twap",
    # Everything before the final ROUND is exact: interval weights are
    # integer microseconds, value carries ≤2 decimals, so the weighted
    # sum runs in DECIMAL on both engines (same trick as q_agg_basic)
    # and the only float step is the final division, rounded at 6.
    oracle="""
    WITH seq AS (
        SELECT user_id,
               date_trunc('day', ts) AS day,
               CAST(value AS DECIMAL(12,2)) AS v,
               COALESCE(
                   LEAD(epoch_us(ts)) OVER (
                       PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY ts, event_id),
                   epoch_us(date_trunc('day', ts)) + 86400000000
               ) - epoch_us(ts) AS w
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL)
    SELECT user_id, day,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(v * CAST(w AS DECIMAL(20,0))) AS DOUBLE)
                 / CAST(SUM(w) AS DOUBLE), 6) AS twap
    FROM seq
    GROUP BY user_id, day
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (user, day) — the TWAP
    benchmark every execution desk computes, and the canonical
    irregular-series aggregate the reference's time-clustered layout
    serves: each observation's value holds until the NEXT observation
    (LOCF weighting), the last of the day until midnight, and the
    day's average weights each value by how long it was in force —
    unlike a plain mean, which over-weights bursts of rapid updates.

    Plan: one (user_id, day) shuffle carries BOTH the lead window
    (interval weights; (ts, event_id) ordering for timestamp-tie
    determinism) and the grouped aggregation — no join, no second
    exchange.  Exactness: weights are integer microseconds, values
    ≤2-decimal doubles lifted to DECIMAL, so the weighted sum is
    exact on both engines and summation order cannot move the hash
    (final division rounded at 6)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    day = F.date_trunc("day", F.col("ts"))
    w_next = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        day.alias("day"),
        F.col("value").cast("decimal(12,2)").alias("v"),
        "ts",
        "event_id",
    ).withColumn(
        "w",
        F.coalesce(
            F.lead(F.unix_micros(F.col("ts"))).over(w_next),
            F.unix_micros(F.col("day")) + F.lit(86_400_000_000),
        )
        - F.unix_micros(F.col("ts")),
    )
    return seq.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("v") * F.col("w").cast("decimal(20,0)"))
            .cast("double")
            / F.sum("w").cast("double"),
            6,
        ).alias("twap"),
    )


@register(
    "q_anomaly_zscore",
    # median/MAD interpolate identically (both engines use linear
    # interpolation at p=0.5 over doubles); the flag compares the
    # ROUNDED deviation against the ROUNDED threshold so a last-ulp
    # difference in the interpolated median cannot flip a count.
    oracle="""
    WITH med AS (SELECT event_type, median(value) AS med
                 FROM events GROUP BY event_type),
    dev AS (SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
            FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, median(adev) AS mad, MIN(med) AS med
            FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ROUND(d.adev, 6)
                              > ROUND(3 * 1.4826 * m.mad, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           ROUND(MIN(m.med), 6) AS med,
           ROUND(MIN(m.mad), 6) AS mad
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type (SURVEY.md §2 B12 —
    the outlier gate a metrics/training-data pipeline runs before
    aggregating): median/MAD z-score, flagging |x − med| >
    3·1.4826·MAD (1.4826 rescales MAD to σ under normality; mean/σ
    z-scores break down because the outliers being hunted inflate σ
    itself — the robust pair doesn't).

    Scale shape: two grouped EXACT percentile aggregations over a
    5-group key (per-group state is the sorted value multiset —
    bounded by group cardinality × values, the exact-median price;
    switch to approx_percentile at unbounded cardinality) + one
    broadcast join of the 5-row stats relation back over the scan.
    No window, no global sort; the events scan runs twice (med pass,
    flag pass) — the second pass rides the same pruned 2-column
    read."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev"),
        "med",
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad"),
        F.min("med").alias("med"),
    )
    flagged = dev.drop("med").join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.round(F.col("adev"), 6)
                > F.round(F.lit(3) * F.lit(1.4826) * F.col("mad"), 6),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_anomalies"),
        F.round(F.min("mad"), 6).alias("__tmp_mad"),
        F.round(F.min("med"), 6).alias("med"),
    ).select(
        "event_type", "n", "n_anomalies", "med",
        F.col("__tmp_mad").alias("mad"),
    )


@register(
    "q_gap_islands",
    # Pure integer/date arithmetic end to end (DISTINCT days, a date
    # minus a row number, COUNT/MAX/SUM) — no float conventions to
    # align.  DuckDB's ``date - integer`` is Spark's ``date_sub``.
    oracle="""
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                  FROM events),
    numbered AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY d) AS INTEGER)
                   AS anchor
        FROM days),
    islands AS (SELECT user_id, anchor, COUNT(*) AS len_days
                FROM numbered GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)      AS n_islands,
           CAST(MAX(len_days) AS BIGINT) AS longest_island,
           CAST(SUM(len_days) AS BIGINT) AS active_days
    FROM islands GROUP BY user_id
    """,
)
def q_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (SURVEY.md §2 B5/B12 — streak analytics): per
    user, collapse the set of distinct active DAYS into maximal runs
    of consecutive days ("islands") and report streak statistics —
    the engagement/uptime/sensor-coverage query every event store
    serves.  The classic trick: ``day − row_number()`` is constant
    within a consecutive run, so one window + one aggregate finds all
    islands without a self-join or an iterative pass.

    Scale shape: DISTINCT on (user_id, day) (map-side-combined — the
    daily-activity relation is ~|users|·|days|, tiny vs the event
    scan), ONE window over the user_id partition, then two hash
    aggregates that re-use the same user_id clustering.  No
    self-joins, no global sort; the event scan reads 2 columns."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    numbered = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    islands = numbered.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len_days")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.max("len_days").cast("long").alias("longest_island"),
        F.sum("len_days").cast("long").alias("active_days"),
    )


@register(
    "q_winsorize",
    # Same interpolation-exactness stance as q_anomaly_zscore: both
    # engines linearly interpolate exact percentiles over doubles.  A
    # clip decision can only flip when a value sits within one ulp of
    # an interpolated bound — and then clip(x) == x on both sides, so
    # only the ROUNDED means carry any float exposure.
    oracle="""
    WITH b AS (SELECT event_type,
                      quantile_cont(value, 0.05) AS lo,
                      quantile_cont(value, 0.95) AS hi
               FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           ROUND(AVG(LEAST(GREATEST(e.value, b.lo), b.hi)), 4)
               AS winsorized_mean,
           ROUND(AVG(e.value), 4) AS raw_mean
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) mean per event type (SURVEY.md §2
    B12 — the outlier-TOLERANT twin of q_anomaly_zscore's outlier
    DETECTOR): metrics pipelines report winsorized means so a single
    fat-finger tick cannot move the aggregate; training-data pipelines
    clip feature columns the same way before normalization.

    Scale shape: one exact grouped percentile aggregation over the
    small event-type key space (exact percentile state is the sorted
    multiset — swap in approx_percentile at unbounded group count),
    broadcast of the per-group bounds back over the scan, then one
    map-side clip + grouped mean.  No window, no self-join."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type")
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                (F.col("value") < F.col("lo"))
                | (F.col("value") > F.col("hi")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_clipped"),
        F.round(
            F.avg(F.least(F.greatest("value", F.col("lo")), F.col("hi"))),
            4,
        ).alias("winsorized_mean"),
        F.round(F.avg("value"), 4).alias("raw_mean"),
    )


@register(
    "q_rollup_cascade",
    # The oracle aggregates RAW rows straight to the hour — it never
    # sees the minutely partials — so a hash match PROVES the partial
    # state is exactly mergeable (sum-of-sums == sum, min-of-mins ==
    # min, ...).  DECIMAL(38,6) sums make that equality exact instead
    # of float-associativity-dependent; avg derives from the ROUNDED
    # total so both engines divide identical doubles.
    oracle="""
    WITH t AS (
        SELECT DATE_TRUNC('hour', ts) AS hour,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                     * 10000 + 0.5) / 10000 AS total_value,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events GROUP BY 1, 2)
    SELECT hour, event_type, n, total_value, min_value, max_value,
           FLOOR(total_value / n * 1000000 + 0.5) / 1000000 AS avg_value
    FROM t
    """,
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical continuous-aggregate rollup (SURVEY.md §2 B4/B9 —
    the TimescaleDB-hypertable / materialized-view-maintenance shape):
    minutely PARTIAL aggregates are computed once and hourly FINALS are
    produced by re-aggregating the partials, never re-reading raw rows.

    At 100 TB this is the only affordable way to serve multiple
    granularities: the minutely partials are the stored rollup (one
    corpus-scale shuffle, map-side combined), and every coarser grain
    (hour/day/month) re-aggregates 60×-fewer partial rows.  That works
    ONLY if the partial state is mergeable — sums/counts/mins/maxes
    are, averages are not (carried as sum+count and finished at the
    end, exactly as Spark's own partial-aggregation does internally).

    Exactness: per-minute sums are DECIMAL(38,6) (value is a 2-dp
    double; the double→decimal half-up cast agrees across engines at
    6 dp), so sum-of-sums is EXACTLY the raw-row sum regardless of
    grouping or ordering; the oracle aggregates raw→hour directly,
    making the hash a proof of partial-merge correctness.  avg_value
    divides the already-rounded total so no fresh float path opens.
    """
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    # level 1 — the stored continuous aggregate (minutely partials)
    partials = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("psum"),
        F.min("value").alias("pmin"),
        F.max("value").alias("pmax"),
    )
    # level 2 — hourly finals FROM the partials (no raw-row access)
    total = round_half_up(F.sum("psum").cast("double"), 4)
    n = F.sum("pn").cast("long")
    return partials.groupBy(
        F.date_trunc("hour", "minute").alias("hour"), "event_type"
    ).agg(
        n.alias("n"),
        total.alias("total_value"),
        F.min("pmin").alias("min_value"),
        F.max("pmax").alias("max_value"),
        round_half_up(total / n, 6).alias("avg_value"),
    )


@register(
    "q_max_concurrency",
    # All-integer sweep: deltas are ±1 and the ORDER BY (ts, delta)
    # tie-break (closes before opens at the same instant) makes the
    # per-day partial-sum MULTISET deterministic even among residual
    # full ties — any order within an equal-(ts,delta) group walks the
    # same ±1 steps — so MAX(run) cannot drift between engines.
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         <= 1800 * 1000000
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged),
    sessions AS (
        SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
        FROM numbered GROUP BY user_id, session_id),
    b AS (SELECT s AS ts, 1 AS delta FROM sessions
          UNION ALL
          SELECT e AS ts, -1 AS delta FROM sessions),
    bd AS (SELECT ts, delta, CAST(ts AS DATE) AS day FROM b),
    run AS (
        SELECT day,
               SUM(delta) OVER (PARTITION BY day ORDER BY ts, delta
                                ROWS UNBOUNDED PRECEDING) AS run
        FROM bd),
    dayagg AS (
        SELECT day, SUM(delta) AS dsum,
               SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS n_starts,
               SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS n_ends
        FROM bd GROUP BY day),
    off AS (
        SELECT day, n_starts, n_ends,
               COALESCE(SUM(dsum) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS off
        FROM dayagg),
    mx AS (SELECT day, MAX(run) AS m FROM run GROUP BY day)
    SELECT mx.day,
           CAST(m + off AS BIGINT) AS max_concurrent,
           CAST(n_starts AS BIGINT) AS n_starts,
           CAST(n_ends AS BIGINT) AS n_ends
    FROM mx JOIN off USING (day)
    """,
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day (SURVEY.md §2 B5/B12 — the
    capacity-planning question every serving/ingest operator asks) via
    a DISTRIBUTED sweep line: session intervals become ±1 boundary
    events; concurrency is the running sum of deltas in time order;
    the per-day maximum is the peak.

    The naive sweep needs ONE GLOBAL SORT of every boundary — a
    single-partition window that dies at 100 TB.  This plan is the
    two-phase prefix-sum formulation instead: boundaries sweep
    WITHIN their day partition (parallel, key-aligned), and each
    day's starting concurrency is the prefix sum of whole-day delta
    totals — a #days-sized relation whose global window costs
    nothing, broadcast back.  Same trick generalizes to any bucket
    granularity (hour buckets → finer parallelism).

    Ordering ties break as (ts, delta): a session CLOSING at instant
    t releases capacity before one OPENING at t claims it — and with
    that pin, the partial-sum multiset (hence the max) is invariant
    to any residual tie order, making the check integer-exact.
    Consequence (intervals are effectively half-open [s, e)): a
    single-event session has zero length and contributes nothing to
    concurrency — pinned, with the midnight-crossing offset case, in
    tests/test_queries_invariants.py.

    Plan shape (pinned): the ±1 boundaries come from ONE explode over
    the session relation — a start/end UNION would make Spark
    recompute the whole sessionization subtree per branch (measured:
    4 scans / 10 windows vs this plan's 1 scan / 4 windows) — and the
    per-day max, day delta totals and boundary counts all fold in ONE
    aggregation over the windowed sweep, so the day-level prefix is a
    second window over that tiny relation, join-free.
    """
    gap_us = 1800 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(w_user) <= gap_us, 0).otherwise(1),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    # ±1 boundaries in ONE pass (explode, not union — see docstring)
    b = sessions.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("ts"), F.lit(1).alias("delta")),
                F.struct(F.col("e").alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("x")
    ).select(
        F.col("x.ts").alias("ts"),
        F.col("x.delta").alias("delta"),
        F.to_date("x.ts").alias("day"),
    )
    # phase 1 — parallel within-day sweep; max, day totals and counts
    # fold in the SAME aggregation over the windowed rows
    w_day = Window.partitionBy("day").orderBy("ts", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    days = (
        b.withColumn("run", F.sum("delta").over(w_day))
        .groupBy("day")
        .agg(
            F.max("run").alias("m"),
            F.sum("delta").alias("dsum"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias(
                "n_starts"
            ),
            F.sum(F.when(F.col("delta") == -1, 1).otherwise(0)).alias(
                "n_ends"
            ),
        )
    )
    # phase 2 — day-level prefix offsets (#days rows; the unpartitioned
    # window is over this TINY aggregate, never over boundary rows)
    w_prefix = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return days.select(
        "day",
        (
            F.col("m")
            + F.coalesce(F.sum("dsum").over(w_prefix), F.lit(0))
        ).cast("long").alias("max_concurrent"),
        F.col("n_starts").cast("long").alias("n_starts"),
        F.col("n_ends").cast("long").alias("n_ends"),
    )


@register(
    "q_outlier_iqr",
    # Interpolation stance as q_anomaly_zscore/q_winsorize: both
    # engines linearly interpolate exact quantiles over doubles; the
    # outlier decision compares the ROUNDED value against the ROUNDED
    # fence so a last-ulp quantile difference cannot flip a row in or
    # out.  NULL/NaN values are excluded up front (DuckDB orders NaN
    # above every number, Spark comparisons return false — the only
    # rows the engines would ever disagree on).
    oracle="""
    WITH ev AS (
        SELECT event_id, event_type, value FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)),
    b AS (SELECT event_type,
                 quantile_cont(value, 0.25) AS q1,
                 quantile_cont(value, 0.75) AS q3
          FROM ev GROUP BY event_type),
    f AS (SELECT event_type,
                 ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
                 ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi_fence
          FROM b)
    SELECT e.event_id, e.event_type, e.value, f.lo_fence, f.hi_fence,
           CASE WHEN ROUND(e.value, 6) < f.lo_fence THEN 'low'
                ELSE 'high' END AS side
    FROM ev e JOIN f USING (event_type)
    WHERE ROUND(e.value, 6) < f.lo_fence
       OR ROUND(e.value, 6) > f.hi_fence
    """,
)
def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR-FENCE OUTLIER ROWS per event type (Tukey fences, the
    boxplot rule): rows outside [q1 − 1.5·IQR, q3 + 1.5·IQR] with the
    breached side — the row-returning complement of q_anomaly_zscore's
    per-group outlier COUNTS (a curation pipeline quarantines the rows
    themselves, not just their tally; quartile fences also survive
    asymmetric distributions the symmetric MAD band distorts).

    Scale shape: one exact grouped quantile aggregation over the
    small event-type key space (exact-quantile state is the per-group
    sorted multiset — swap in approx_percentile at unbounded group
    count), then ONE broadcast join of the #groups-row fence relation
    back over the scan and a map-side filter.  No window, no self-
    join; output is bounded by the outlier rate."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    b = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    fences = b.select(
        "event_type",
        F.round(F.col("q1") - F.lit(1.5) * iqr, 6).alias("lo_fence"),
        F.round(F.col("q3") + F.lit(1.5) * iqr, 6).alias("hi_fence"),
    )
    rv = F.round(F.col("value"), 6)
    return (
        ev.join(F.broadcast(fences), "event_type")
        .where((rv < F.col("lo_fence")) | (rv > F.col("hi_fence")))
        .select(
            "event_id", "event_type", "value", "lo_fence", "hi_fence",
            F.when(rv < F.col("lo_fence"), "low")
            .otherwise("high").alias("side"),
        )
    )


@register(
    "q_robust_scale",
    # median/MAD interpolate identically on both engines (the
    # q_anomaly_zscore stance); the scaled value is ONE subtraction
    # and ONE division of identical doubles, rounded sign-normalized
    # (robust_z is signed, and a tiny negative that rounds to zero
    # emits -0.0 in DuckDB but +0.0 in Spark — the q_embed_covariance
    # hash class).  A zero MAD (constant group) yields NULL via
    # NULLIF on both engines rather than an engine-specific inf/NaN.
    oracle="""
    WITH ev AS (
        SELECT event_id, event_type, value FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)),
    med AS (SELECT event_type, median(value) AS med
            FROM ev GROUP BY event_type),
    mad AS (SELECT e.event_type, median(ABS(e.value - m.med)) AS mad
            FROM ev e JOIN med m USING (event_type)
            GROUP BY e.event_type)
    SELECT e.event_id, e.event_type, e.value,
           (ROUND((e.value - m.med)
                  / NULLIF(1.4826 * d.mad, 0.0), 4) + 0.0) AS robust_z
    FROM ev e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    """,
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST SCALING (median/MAD z-score) per event row — the
    outlier-immune feature normalization (sklearn RobustScaler shape)
    a training pipeline applies where mean/σ scaling would let the
    outliers it is defending against set the scale.  1.4826 rescales
    MAD to σ under normality; a constant group (MAD 0) scales to NULL
    rather than ±inf.  q_anomaly_zscore DETECTS with this statistic;
    this query EMITS the scaled column itself, per row.

    Scale shape: two grouped exact-median aggregations over the small
    event-type key space, then the #groups-row stats relation
    broadcasts back over the scan and the scaling is map-side
    projection work — no window, no self-join, output 1:1 with the
    filtered scan."""
    from level2_to_cassandra_spark.functions import round_signless

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(
                F.abs(F.col("value") - F.col("med")), F.lit(0.5)
            ).alias("mad")
        )
    )
    scale = F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0))
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_id", "event_type", "value",
            round_signless(
                (F.col("value") - F.col("med")) / scale, 4
            ).alias("robust_z"),
        )
    )


#: Decay spec for q_agg_decayed: half-life 1 day, horizon 60 days.
#: Weights 2^-d are EXACT dyadic doubles built by integer shift (no
#: POWER — libm pow is not correctly-rounded-guaranteed), and a row
#: older than the horizon weighs exactly 0 by spec, which also keeps
#: the shift argument in-range on both engines.
_DECAY_HORIZON_DAYS = 60


@register(
    "q_agg_decayed",
    # datediff semantics pinned by q_scalar_datetime: DuckDB
    # DATEDIFF('day', start, end) == Spark datediff(end, start).  The
    # per-row weight 1/(1<<d) is an exact power of two, so value*w is
    # an EXACT product (scaling by 2^-d shifts the exponent only);
    # only the final sums carry associativity jitter, absorbed by
    # ROUND(.,6).
    oracle=f"""
    WITH ev AS (
        SELECT event_type, value, CAST(ts AS DATE) AS d FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)),
    anchor AS (SELECT MAX(d) AS mx FROM ev),
    w AS (SELECT event_type, value,
                 CASE WHEN DATEDIFF('day', d, mx) > {_DECAY_HORIZON_DAYS}
                      THEN 0.0
                      ELSE 1.0 / CAST(1::BIGINT << LEAST(
                               DATEDIFF('day', d, mx),
                               {_DECAY_HORIZON_DAYS}) AS DOUBLE)
                 END AS w
          FROM ev CROSS JOIN anchor)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           (ROUND(SUM(value * w), 6) + 0.0) AS decayed_sum,
           (ROUND(SUM(w), 6) + 0.0) AS decayed_weight
    FROM w GROUP BY event_type
    """,
)
def q_agg_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAYED aggregation per key (half-life 1 day, horizon
    60 days — _DECAY_HORIZON_DAYS): recency-weighted totals — the
    freshness-weighted popularity/engagement score feature stores and
    ranking pipelines maintain, where yesterday counts half of today
    and last quarter counts nothing.  The decayed weight sum is the
    effective sample size, so decayed_sum/decayed_weight is the
    recency-weighted mean without a second pass.

    Determinism: weights are 2^-d dyadics built by INTEGER SHIFT
    (1 << d), never libm pow — each value·w product is exact (exponent
    shift), so only summation-order jitter remains, absorbed at
    ROUND 6.  Scale shape: the 1-row anchor (max date) broadcasts via
    crossJoin, the weight is map-side projection work, and the whole
    query is ONE map-side-combined aggregate shuffling #keys rows —
    scan → project → agg, the cheapest grouped shape there is."""
    from level2_to_cassandra_spark.functions import round_signless

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value", F.to_date("ts").alias("d"))
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    anchor = ev.agg(F.max("d").alias("mx"))
    dd = F.datediff(F.col("mx"), F.col("d"))
    # SQL-function form: the Python F.shiftleft binding takes only a
    # literal int for numBits, but the underlying SQL function accepts
    # a column — identical exact power-of-two result.
    shift = F.expr(
        f"shiftleft(1L, least(datediff(mx, d), {_DECAY_HORIZON_DAYS}))"
    )
    w = F.when(dd > _DECAY_HORIZON_DAYS, F.lit(0.0)).otherwise(
        F.lit(1.0) / shift.cast("double")
    )
    return (
        ev.crossJoin(F.broadcast(anchor))
        .select("event_type", "value", w.alias("w"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            round_signless(F.sum(F.col("value") * F.col("w")), 6)
            .alias("decayed_sum"),
            round_signless(F.sum("w"), 6).alias("decayed_weight"),
        )
    )


# --------------------------------------- mergeable quantile rollup

from level2_to_cassandra_spark.operators import rollup as _rollup  # noqa: E402

#: single grid definition beside the partial format it shapes
#: (operators/rollup.py — shared verbatim with the streaming
#: continuous-aggregate step, streaming/monitor.py::grid_rollup_step)
_QGRID_BINS = _rollup.GRID_BINS
_QGRID_W = _rollup.GRID_W


@register(
    "q_rollup_quantile",
    # The oracle REPLAYS the two-level grid construction (exact
    # integer/selection algebra — counts, mins, maxes, rank walks:
    # nothing floats until the final exact-quantile verification
    # columns) and computes the exact hour quantiles from RAW rows, so
    # the hash proves BOTH that the partial state merges exactly and
    # that the partial-derived bounds contain the true quantile.
    # quantile_cont ≡ Spark percentile (linear interpolation at rank
    # p·(n−1), the q_agg_approx_percentile precedent); the containment
    # flags compare each engine's own UNROUNDED exact value, which the
    # bin's [min, max] bracket with ulp-proof slack (interpolation
    # between two in-bin-range elements can never round outside them).
    oracle="""
    WITH raw AS (
        SELECT DATE_TRUNC('hour', ts) AS hour,
               DATE_TRUNC('minute', ts) AS minute, event_type, value,
               LEAST(GREATEST(CAST(FLOOR(value / 16.0) AS BIGINT), 0), 63)
                   AS bin
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)),
    partials AS (
        SELECT minute, hour, event_type, bin, COUNT(*) AS pn,
               MIN(value) AS vmin, MAX(value) AS vmax
        FROM raw GROUP BY 1, 2, 3, 4),
    hist AS (
        SELECT hour, event_type, bin, SUM(pn) AS nb,
               MIN(vmin) AS bmin, MAX(vmax) AS bmax
        FROM partials GROUP BY 1, 2, 3),
    cum AS (
        SELECT *,
               SUM(nb) OVER (PARTITION BY hour, event_type) AS n,
               COALESCE(SUM(nb) OVER (PARTITION BY hour, event_type
                                      ORDER BY bin
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING), 0) AS cb
        FROM hist),
    bounds AS (
        SELECT hour, event_type, CAST(MAX(n) AS BIGINT) AS n,
               MIN(CASE WHEN FLOOR(0.5 * (n - 1)) >= cb
                         AND FLOOR(0.5 * (n - 1)) < cb + nb
                        THEN bmin END) AS p50_lo,
               MAX(CASE WHEN CEIL(0.5 * (n - 1)) >= cb
                         AND CEIL(0.5 * (n - 1)) < cb + nb
                        THEN bmax END) AS p50_hi,
               MIN(CASE WHEN FLOOR(0.95 * (n - 1)) >= cb
                         AND FLOOR(0.95 * (n - 1)) < cb + nb
                        THEN bmin END) AS p95_lo,
               MAX(CASE WHEN CEIL(0.95 * (n - 1)) >= cb
                         AND CEIL(0.95 * (n - 1)) < cb + nb
                        THEN bmax END) AS p95_hi
        FROM cum GROUP BY 1, 2),
    exact AS (
        SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
               quantile_cont(value, 0.5) AS e50,
               quantile_cont(value, 0.95) AS e95
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
        GROUP BY 1, 2)
    SELECT b.hour, b.event_type, b.n,
           p50_lo, p50_hi, p95_lo, p95_hi,
           FLOOR(e50 * 10000 + 0.5) / 10000 AS exact_p50,
           FLOOR(e95 * 10000 + 0.5) / 10000 AS exact_p95,
           (p50_lo <= e50 AND e50 <= p50_hi) AS p50_within,
           (p95_lo <= e95 AND e95 <= p95_hi) AS p95_within
    FROM bounds b JOIN exact USING (hour, event_type)
    """,
)
def q_rollup_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE QUANTILE layer for the rollup cascade (VERDICT r14
    gap #5): q_rollup_cascade's sums/counts/mins/maxes re-aggregate
    exactly but approx_percentile sketches do NOT — so the stored
    minutely partial here is a FIXED-GRID histogram (64 bins of width
    16 over [0, 1024), edge bins clamped) carrying per-bin (count,
    min, max).  Bin counts merge by sum, bin mins/maxes by min/max, so
    any coarser grain (hour/day/month) re-derives from partials only —
    and the hour-level p50/p95 are served as PROVEN BOUNDS: the
    quantile's rank is walked down the merged cumulative histogram and
    bracketed by the owning bin's exact [min, max].  The per-bin
    min/max (not the grid edges) make the bounds data-tight: an hour
    whose rank bin holds one distinct value pins lo == hi == the exact
    quantile.

    Verification columns (the q_agg_approx verifiable-projection
    pattern): exact_p50/exact_p95 recomputed from raw rows and the
    containment flags lo <= exact <= hi — a partial-merge regression
    flips a boolean or shifts a bound and the driver hash catches it.

    Scale shape: the ONLY row-scale exchange is the level-1 minutely
    grid aggregation (map-side combined, exactly q_rollup_cascade's
    discipline); everything downstream — the hour merge, the
    cumulative-rank window, the bounds fold — runs on the GRID-sized
    relation (#hours x #types x 64 rows, bounded by construction no
    matter the corpus size).  The raw-row exact-quantile leg exists
    for verification only; production serves bounds from partials and
    never re-reads raw."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    # level 1 (stored minutely grid partials — the only row-scale
    # exchange) and level 2 (hour bounds from partials only) both live
    # in operators/rollup.py, shared verbatim with the streaming
    # continuous-aggregate wrapper so the two paths cannot drift
    bounds = _rollup.grid_quantile_bounds(
        _rollup.minute_grid_partials(ev), grain="hour"
    ).select(
        F.col("bucket").alias("hour"),
        F.col("key").alias("event_type"),
        "n", "p50_lo", "p50_hi", "p95_lo", "p95_hi",
    )
    # verification leg: exact quantiles from raw (a #hours x #types
    # relation — broadcast into the bounds join by size); NULL/NaN
    # excluded IDENTICALLY to minute_grid_partials so n and the
    # quantile basis agree
    exact = ev.where(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.percentile("value", F.lit(0.5)).alias("e50"),
        F.percentile("value", F.lit(0.95)).alias("e95"),
    )
    j = bounds.join(exact, ["hour", "event_type"])
    return j.select(
        "hour", "event_type", "n",
        "p50_lo", "p50_hi", "p95_lo", "p95_hi",
        round_half_up(F.col("e50"), 4).alias("exact_p50"),
        round_half_up(F.col("e95"), 4).alias("exact_p95"),
        ((F.col("p50_lo") <= F.col("e50"))
         & (F.col("e50") <= F.col("p50_hi"))).alias("p50_within"),
        ((F.col("p95_lo") <= F.col("e95"))
         & (F.col("e95") <= F.col("p95_hi"))).alias("p95_within"),
    )
