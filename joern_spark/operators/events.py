"""Time-series join operators over the `events` table — as-of join and
range join, the two canonical temporal operators Spark's join syntax
lacks (the brief's "custom operators" exemplars).

Both are compositions of existing DataFrame ops chosen for their 100 TB
shape, not mapInPandas kernels:

  * as-of join: ZERO joins. Probe and build rows are unioned with a
    side tag and the match is a `last(..., ignorenulls=True)` running
    window per key — one shuffle on the key, O(1) state per row, no
    per-probe build scan. This is the classic distributed as-of shape
    (a sort-merge as-of without the merge join); a hub key degrades to
    one sorted partition-local pass, never a quadratic join.
  * range join: time-BUCKET blocking. Naive `a.ts BETWEEN b.ts AND
    b.ts + W` forces a join on the equi-key alone with the range as a
    residual filter — per-key row pairs are quadratic in key
    frequency. Bucketing both sides to width-W epochs and probing
    (bucket, bucket-1) bounds every join group to two W-wide slices,
    so worst-case fan-out is (events per key per W)², independent of
    total key frequency. The exact predicate is re-applied after the
    bucket join, so bucketing is a pure candidate generator (the same
    blocking discipline as dedup's LSH bands).

The DuckDB oracles cross-check against a genuinely different execution
strategy — DuckDB's native ASOF JOIN and its IEJoin inequality join —
so a semantics bug in either implementation cannot hide.

Reference analog: the closest reference machinery is the ordered
`cfgNext`/dominator walks (window-over-ordering, SURVEY.md §2.B) applied
to wall-clock order; the operators here are the training-data-pipeline
generalization (sessionized user activity at web scale).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Probe/build split for the registered queries: "what did the user last
# do before each error" (as-of) and "which purchases preceded each error
# within the window" (range).
PROBE_TYPE = "error"
BUILD_TYPES = ("signup", "purchase")
RANGE_BUILD_TYPE = "purchase"
RANGE_W_S = 21600  # 6 h lookback window

EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _us(col: str) -> F.Column:
    """Micros since the naive epoch — pure NTZ arithmetic, bit-identical
    to DuckDB's epoch_us() and invariant under the session timezone
    (same discipline as queries.q_conversations)."""
    return F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, {col})")


def as_of_join(
    probes: DataFrame,
    builds: DataFrame,
    key: str,
    ts: str,
    build_cols: Sequence[str],
) -> DataFrame:
    """Left as-of join: every probe row gains the build row with the
    greatest `ts` at-or-before the probe's `ts` for the same `key`
    (nulls when no build precedes it).

    `builds` MUST be unique per (key, ts) — ties at the exact same
    timestamp have no well-defined "most recent" row, so the caller
    picks the representative (see `q_ev_asof`: arg-min by event_id).

    Shape: union + one running window per key. The window's running
    `last(ignorenulls)` carries the latest-so-far build attributes into
    every probe row; build rows sort BEFORE probe rows at equal ts
    (side 0 < 1), giving standard at-or-before (>=) semantics.
    """
    tagged_b = builds.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_b_{c}") for c in build_cols],
    )
    tagged_p = probes.withColumn("_side", F.lit(1))
    u = tagged_p.unionByName(tagged_b, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in build_cols:
        u = u.withColumn(c, F.last(f"_b_{c}", ignorenulls=True).over(w))
    return u.where(F.col("_side") == 1).drop(
        "_side", *[f"_b_{c}" for c in build_cols]
    )


def last_action_before_errors(events: DataFrame) -> DataFrame:
    """Registered as-of query: for every `error` event, the most recent
    at-or-before `signup`/`purchase` by the same user.

    Output (event_id, user_id, prior_event_id, prior_type, gap_us);
    gap_us is NULL for errors with no prior action.
    """
    probes = events.where(F.col("event_type") == PROBE_TYPE).select(
        "event_id", "user_id", "ts"
    )
    # one deterministic representative per (user, ts): arg-min event_id
    builds = (
        events.where(F.col("event_type").isin(*BUILD_TYPES))
        .groupBy("user_id", "ts")
        .agg(
            F.min("event_id").alias("prior_event_id"),
            F.min_by("event_type", "event_id").alias("prior_type"),
        )
        .withColumn("prior_us", _us("ts"))
    )
    out = as_of_join(
        probes, builds, key="user_id", ts="ts",
        build_cols=["prior_event_id", "prior_type", "prior_us"],
    )
    matched = F.col("prior_event_id").isNotNull()
    return out.select(
        "event_id",
        "user_id",
        "prior_event_id",
        "prior_type",
        F.when(matched, _us("ts") - F.col("prior_us")).alias("gap_us"),
    )


def bucketed_range_join(
    probes: DataFrame,
    builds: DataFrame,
    key: str,
    window_s: int,
) -> DataFrame:
    """All (probe, build) pairs with the same `key` and
    `probe.ts - window <= build.ts <= probe.ts`, via time-bucket
    blocking: both sides bucket to width-`window_s` epochs, probes join
    buckets b and b-1, and the exact range predicate filters the
    candidates. Inputs carry (key, id, us) with `us` = NTZ epoch micros.

    Output: (a = probe id, b = build id, gap_us >= 0).
    """
    w_us = window_s * 1_000_000
    b_side = builds.select(
        F.col(key), F.col("id").alias("b"), F.col("us").alias("b_us"),
        (F.col("us") / w_us).cast("long").alias("bucket"),
    )
    p_bkt = (F.col("us") / w_us).cast("long")
    p_side = probes.select(
        F.col(key), F.col("id").alias("a"), F.col("us").alias("a_us"),
        F.explode(F.array(p_bkt, p_bkt - 1)).alias("bucket"),
    )
    return (
        p_side.join(b_side, [key, "bucket"])
        .where(
            (F.col("b_us") <= F.col("a_us"))
            & (F.col("b_us") >= F.col("a_us") - w_us)
        )
        .select("a", "b", (F.col("a_us") - F.col("b_us")).alias("gap_us"))
    )


def purchases_before_errors(
    events: DataFrame, window_s: int = RANGE_W_S
) -> DataFrame:
    """Registered range query: every (error, purchase) pair for the same
    user with the purchase inside the `window_s` lookback before (or at)
    the error. Output (a = error event_id, b = purchase event_id,
    gap_us)."""
    us = _us("ts")
    probes = events.where(F.col("event_type") == PROBE_TYPE).select(
        "user_id", F.col("event_id").alias("id"), us.alias("us")
    )
    builds = events.where(F.col("event_type") == RANGE_BUILD_TYPE).select(
        "user_id", F.col("event_id").alias("id"), us.alias("us")
    )
    return bucketed_range_join(probes, builds, key="user_id", window_s=window_s)


def event_rollup(events: DataFrame) -> DataFrame:
    """Multi-resolution rollup (the hypertable continuous-aggregate
    analog): hourly leaf aggregates from ONE scan of the corpus, then the
    daily grain re-aggregates the HOURLY PARTIALS (≤24 rows per day and
    type) — never the raw events. At 100 TB this is the difference
    between a free coarse grain and a second full scan; counts/sums are
    algebraic, so partials compose exactly (the same map-side-combine
    law Spark applies within one aggregation, applied across grains).

    Money values aggregate as integer cents (exact, order-independent —
    the repo's float-parity discipline forbids cross-engine double
    sums). Output: (grain, event_type, bucket_us, n_events, sum_cents,
    min_cents, max_cents).
    """
    cents = F.round(F.col("value") * 100).cast("long")
    base = events.select("event_type", "ts", cents.alias("c"))
    hourly = (
        base.groupBy("event_type", F.date_trunc("hour", "ts").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("c").alias("sum_cents"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
    )
    daily = (
        hourly.groupBy("event_type", F.date_trunc("day", "b").alias("b"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
    )
    bucket_us = F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, b)")

    def shape(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "event_type",
            bucket_us.alias("bucket_us"),
            "n_events",
            "sum_cents",
            "min_cents",
            "max_cents",
        )

    return shape(hourly, "hour").unionByName(shape(daily, "day"))


FUNNEL_STEPS: Sequence[str] = ("view", "click", "purchase")


def funnel(
    events: DataFrame, steps: Sequence[str] = FUNNEL_STEPS
) -> DataFrame:
    """(user_id, step_1_ts..step_N_ts, depth): earliest strictly-ordered
    funnel completion per user — step i counts only if it happens AFTER
    the user's earliest completion of step i-1 (the classic ordered-
    sequence conversion query; Spark has no MATCH_RECOGNIZE, so the
    funnel composes as N-1 conditional-min stages).

    Scale shape: every stage is one filtered map-side-combined aggregate
    plus one join keyed on user_id — a user is their own group, so there
    are no hub keys, and the join fan-out is bounded by that user's
    events of one type. N is a constant; nothing is quadratic. depth is
    how many steps completed (prefix property: a null step forces all
    later steps null, because min(ts > NULL) is NULL on both engines)."""
    cur = (
        events.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("step_1_ts"))
    )
    carried = ["step_1_ts"]
    for i, step in enumerate(steps[1:], start=2):
        nxt = events.where(F.col("event_type") == step).select(
            "user_id", "ts"
        )
        prev = F.col(f"step_{i - 1}_ts")
        cur = (
            cur.join(nxt, "user_id", "left")
            .groupBy("user_id", *carried)
            .agg(F.min(F.when(F.col("ts") > prev, F.col("ts"))).alias(f"step_{i}_ts"))
        )
        carried.append(f"step_{i}_ts")
    depth = None
    for c in carried:
        d = F.when(F.col(c).isNotNull(), 1).otherwise(0)
        depth = d if depth is None else depth + d
    return cur.select("user_id", *carried, depth.cast("int").alias("depth"))


RETENTION_GRAIN = "day"


def retention_cohorts(events: DataFrame, grain: str = RETENTION_GRAIN) -> DataFrame:
    """(cohort, offset, n_users): classic retention triangle — users
    cohorted by the truncated time of their FIRST event, then counted
    distinct per (cohort, periods-since-cohort) over their active
    periods. Two map-side-combined aggregates and one user-keyed join;
    the output domain is (periods × periods), independent of corpus
    size. Offsets via timestampdiff on truncated NTZ timestamps — exact
    integers, bit-identical to DuckDB's date_diff (parity-probed)."""
    first = events.groupBy("user_id").agg(
        F.date_trunc(grain, F.min("ts")).cast("timestamp_ntz").alias("cohort")
    )
    active = (
        events.select(
            "user_id",
            F.date_trunc(grain, F.col("ts")).cast("timestamp_ntz").alias("d"),
        )
        .dropDuplicates(["user_id", "d"])
    )
    up = grain.upper()
    return (
        active.join(first, "user_id")
        .select(
            "cohort",
            F.expr(f"timestampdiff({up}, cohort, d)").cast("int").alias("offset"),
            "user_id",
        )
        .groupBy("cohort", "offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


PROPS_SCHEMA = "k INT"


def props_typed(events: DataFrame) -> DataFrame:
    """(event_id, event_type, k): typed extraction from the semi-
    structured `props` JSON column with an EXPLICIT schema — at corpus
    scale JSON handling is scan-dominated, so the discipline is the same
    as the readers': never infer (a schema-of-json pass reads everything
    twice), parse once per row into a struct, and let column pruning
    drop the raw string immediately after. Malformed JSON yields NULL k
    (PERMISSIVE semantics), never a failed task."""
    parsed = F.from_json(F.col("props"), PROPS_SCHEMA)
    return events.select(
        "event_id",
        "event_type",
        parsed.getField("k").alias("k"),
    )


SESSION_GAP_S = 1800  # classic 30-minute inactivity gap


def sessionize(events: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """(user_id, session_idx, session_start, session_end, n_events,
    duration_us): gap-based sessionization — consecutive events by the
    same user belong to one session while the inter-event gap is AT MOST
    `gap_s`; only a gap strictly greater than gap_s starts a new
    session. This is Spark's session-window merge semantics (sessions
    [a, a+gap] and [b, b+gap] merge when b <= a+gap — the boundary is
    inclusive, asserted by test_sessionize_gap_boundary), computed here
    with Spark's native `session_window` aggregate, so the batch query
    and a `writeStream` twin share one definition.

    Reference analog: conversations ARE the reference's session unit
    (AstCreator groups turns by conv_id); sessionization derives that
    grouping from timestamps alone — the training-data-pipeline step for
    event logs that arrive without conversation ids.

    Scale shape: `session_window` is one shuffle on user_id followed by
    a partition-local merge of overlapping windows — no self-join, no
    per-user quadratic work, state O(open sessions). `session_idx` is a
    per-user row_number over the handful of session rows (bounded by
    events-per-user), NOT over raw events. The DuckDB oracle uses the
    genuinely different lag+cumsum formulation (`sessionize_lag` is the
    tested Spark twin of that formulation), so the window-merge
    implementation is cross-checked against a second algorithm.
    """
    sess = (
        events.groupBy(
            "user_id", F.session_window("ts", f"{gap_s} seconds").alias("_sw")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .drop("_sw")
    )
    w = Window.partitionBy("user_id").orderBy("session_start")
    return sess.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
        F.expr(
            "timestampdiff(MICROSECOND, session_start, session_end)"
        ).cast("long").alias("duration_us"),
    )


def sessionize_lag(events: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """The lag+cumsum formulation of `sessionize` — a session break is a
    row whose gap to the previous event EXCEEDS gap_s; session_idx is the
    running count of breaks. Kept as the cross-algorithm twin (the DuckDB
    oracle is this exact shape); tests assert bit-equality with the
    session_window path."""
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(wo)
    is_new = F.when(
        prev.isNull()
        | (
            F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
            > F.lit(gap_s) * F.lit(1_000_000)
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    tagged = (
        events.select("user_id", "event_id", "ts")
        .withColumn("_prev_ts", prev)
        .withColumn("_new", is_new)
        .withColumn("session_idx", F.sum("_new").over(wrun).cast("long"))
    )
    return (
        tagged.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            "session_idx",
            "session_start",
            "session_end",
            "n_events",
            F.expr(
                "timestampdiff(MICROSECOND, session_start, session_end)"
            ).cast("long").alias("duration_us"),
        )
    )


RFM_QS = [0.3333333333333333, 0.6666666666666666]


def rfm_user_scores(events: DataFrame) -> DataFrame:
    """(user_id, r, f, m) — the per-user RFM integers `rfm_segments`
    cuts. Cents round to nearest: 0.29 is 28.999999999999996 cents
    in binary, which truncation would make 28."""
    horizon = events.agg(F.max(F.to_date("ts")).alias("h"))
    return (
        events.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("f"),
            F.sum(
                F.round(F.col("value") * F.lit(100.0)).cast("long")
            ).cast("long").alias("m"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.datediff(F.col("h"), F.col("last_day")).cast("long").alias("r"),
            "f",
            "m",
        )
    )


def rfm_segments(events: DataFrame) -> DataFrame:
    """(r_seg, f_seg, m_seg, n_users) — RFM segmentation of the user
    base: per user recency (days since last event, vs the corpus
    horizon), frequency (event count) and monetary (integer cents —
    per-event round(value·100) summed as exact BIGINTs, so the sum is
    order-free), each cut into low/mid/high at the tercile points of
    the MERGEABLE log-linear histogram sketch (operators/sketch) —
    the scale-correct substitute for a global ntile(): an exact
    per-user tercile is a full sort of the user dimension (10^9 rows
    at corpus scale), while the sketch shuffles ≤ ~500 buckets per
    dimension and its cut points are deterministic bucket lower
    bounds both engines reproduce bit-exactly.

    Output is the ≤27-row segment-grid census a mixture planner or
    marketing pipeline reads. Scale shape: one user-keyed aggregate
    (map-side combined), three bucket aggregates over the user
    dimension, three 2-row broadcast cut-point tables, one ≤27-key
    census aggregate. Integer-only except the q literals."""
    from joern_spark.operators.sketch import hist_quantiles, hist_registers

    # three sketch consumers + classify
    per_user = rfm_user_scores(events).localCheckpoint(eager=False)

    def cuts(col: str):
        qs = hist_quantiles(
            hist_registers(per_user.select(F.col(col).alias("v"))), RFM_QS
        )
        return (
            qs.groupBy()
            .pivot("q", RFM_QS)
            .agg(F.first("est"))
            .select(
                F.col(f"`{RFM_QS[0]}`").alias(f"{col}33"),
                F.col(f"`{RFM_QS[1]}`").alias(f"{col}66"),
            )
        )

    seg = per_user
    for col in ("r", "f", "m"):
        seg = seg.crossJoin(F.broadcast(cuts(col))).withColumn(
            f"{col}_seg",
            F.when(F.col(col) <= F.col(f"{col}33"), F.lit("low"))
            .when(F.col(col) <= F.col(f"{col}66"), F.lit("mid"))
            .otherwise(F.lit("high")),
        )
    return seg.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


def session_funnel(
    events: DataFrame,
    steps: Sequence[str] = FUNNEL_STEPS,
    gap_s: int = SESSION_GAP_S,
) -> DataFrame:
    """(depth, n_sessions) — funnel conversion census at SESSION
    granularity: each gap-delimited session is scored by how many
    ordered funnel steps it completes (the strict conditional-min
    semantics of `funnel`, keyed by (user, session) instead of user),
    including depth 0 for sessions that never reach step 1. The
    composition query: a user may convert across days, but a SESSION
    funnel measures whether one sitting converts — the number an
    engagement dashboard actually wants next to the user-level funnel.

    Scale shape: one user-keyed window assigns per-event session ids
    (lag + cumsum — the sessionize_lag twin, deterministic under the
    (ts, event_id) tiebreak), then N−1 conditional-min stages keyed on
    (user_id, session) and one ≤(N+1)-row census. Integer-only."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _us("ts")
    sid = F.sum(
        F.when(
            us - F.lag(us).over(w) > F.lit(gap_s) * F.lit(1_000_000),
            1,
        ).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ev = events.select(
        "user_id", "event_type", "ts", sid.alias("sid")
    ).localCheckpoint(eager=False)
    cur = (
        ev.where(F.col("event_type") == steps[0])
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("step_1_ts"))
    )
    carried = ["step_1_ts"]
    for i, step in enumerate(steps[1:], start=2):
        nxt = ev.where(F.col("event_type") == step).select(
            "user_id", "sid", "ts"
        )
        prev = F.col(f"step_{i - 1}_ts")
        cur = (
            cur.join(nxt, ["user_id", "sid"], "left")
            .groupBy("user_id", "sid", *carried)
            .agg(
                F.min(
                    F.when(F.col("ts") > prev, F.col("ts"))
                ).alias(f"step_{i}_ts")
            )
        )
        carried.append(f"step_{i}_ts")
    depth = None
    for c in carried:
        d = F.when(F.col(c).isNotNull(), 1).otherwise(0)
        depth = d if depth is None else depth + d
    # depth 0 = sessions that never reach step 1: a left join from the
    # FULL session set onto the funnel rows (no driver-side arithmetic)
    all_sessions = ev.select("user_id", "sid").distinct()
    return (
        all_sessions.join(
            cur.select("user_id", "sid", depth.alias("_d")),
            ["user_id", "sid"],
            "left",
        )
        .select(F.coalesce(F.col("_d"), F.lit(0)).cast("int").alias("depth"))
        .groupBy("depth")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
