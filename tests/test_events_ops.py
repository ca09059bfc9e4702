"""Unit tests for the temporal join operators (as-of join, bucketed
range join) on handcrafted fixtures — boundary inclusivity, cross-bucket
candidates, per-key isolation."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from joern_spark.operators import events


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )


def test_asof_semantics(spark):
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    evs = _ev(
        spark,
        [
            # user 1: purchase at 10:00, signup at 10:30, errors around them
            (1, t("2024-01-01 09:00:00"), 1, "error"),      # before any build → null
            (2, t("2024-01-01 10:00:00"), 1, "purchase"),
            (3, t("2024-01-01 10:00:00"), 1, "error"),      # equal ts → at-or-before matches
            (4, t("2024-01-01 10:30:00"), 1, "signup"),
            (5, t("2024-01-01 11:00:00"), 1, "error"),      # latest build wins (signup)
            # user 2: build only — must not leak into user 1
            (6, t("2024-01-01 08:00:00"), 2, "purchase"),
            (7, t("2024-01-01 12:00:00"), 2, "error"),
        ],
    )
    out = {r.event_id: r for r in events.last_action_before_errors(evs).collect()}
    assert out[1].prior_event_id is None and out[1].gap_us is None
    assert out[3].prior_event_id == 2 and out[3].gap_us == 0
    assert out[5].prior_event_id == 4 and out[5].prior_type == "signup"
    assert out[5].gap_us == 30 * 60 * 1_000_000
    assert out[7].prior_event_id == 6  # user 2 matches its own build


def test_asof_tie_at_same_ts_deterministic(spark):
    t = datetime.fromisoformat("2024-01-01 10:00:00")
    evs = _ev(
        spark,
        [
            (11, t, 1, "purchase"),
            (10, t, 1, "signup"),  # same (user, ts): min event_id = 10 wins
            (12, datetime.fromisoformat("2024-01-01 10:01:00"), 1, "error"),
        ],
    )
    row = events.last_action_before_errors(evs).collect()[0]
    assert row.prior_event_id == 10 and row.prior_type == "signup"


def test_range_join_boundaries_and_buckets(spark):
    w = events.RANGE_W_S
    t0 = datetime.fromisoformat("2024-01-03 00:00:00")
    us = lambda s: int(s.timestamp() * 1_000_000)  # noqa: E731 (naive == UTC in tests)
    mk = lambda eid, dt_s, typ, uid=1: (  # noqa: E731
        eid,
        datetime.fromtimestamp(t0.timestamp() + dt_s),
        uid,
        typ,
    )
    evs = _ev(
        spark,
        [
            mk(1, 3 * w, "error"),
            mk(2, 3 * w, "purchase"),           # gap 0 — included
            mk(3, 2 * w, "purchase"),           # gap == W exactly — included
            mk(4, 2 * w - 1, "purchase"),       # just beyond W — excluded
            mk(5, 3 * w - 10, "purchase"),      # same bucket — included
            mk(6, int(2.5 * w), "purchase"),    # previous bucket — included
            mk(7, 3 * w + 1, "purchase"),       # after the error — excluded
            mk(8, 3 * w - 5, "purchase", uid=2),  # other user — excluded
        ],
    )
    pairs = {
        (r.a, r.b): r.gap_us for r in events.purchases_before_errors(evs).collect()
    }
    assert set(pairs) == {(1, 2), (1, 3), (1, 5), (1, 6)}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == w * 1_000_000
    del us


def test_range_join_empty_sides(spark):
    evs = _ev(spark, [(1, datetime.fromisoformat("2024-01-01 00:00:00"), 1, "view")])
    assert events.purchases_before_errors(evs).count() == 0
    out = events.last_action_before_errors(evs)
    assert out.count() == 0
    assert out.columns == ["event_id", "user_id", "prior_event_id", "prior_type", "gap_us"]


def test_event_rollup_day_equals_direct(spark):
    # daily re-aggregation of hourly partials must equal aggregating the
    # raw events at day grain directly (algebraic-partial law)
    from datetime import datetime

    rows = [
        (1, datetime.fromisoformat("2024-01-01 00:10:00"), 1, "view", 1.25),
        (2, datetime.fromisoformat("2024-01-01 00:50:00"), 1, "view", 2.50),
        (3, datetime.fromisoformat("2024-01-01 13:00:00"), 2, "view", 4.00),
        (4, datetime.fromisoformat("2024-01-02 09:00:00"), 1, "view", 8.00),
        (5, datetime.fromisoformat("2024-01-01 05:00:00"), 1, "click", 0.75),
    ]
    evs = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    out = events.event_rollup(evs)
    hours = {(r.event_type, r.bucket_us): r for r in out.where("grain='hour'").collect()}
    days = {(r.event_type, r.bucket_us): r for r in out.where("grain='day'").collect()}
    assert len(hours) == 4 and len(days) == 3
    d0 = datetime.fromisoformat("2024-01-01 00:00:00").timestamp() * 1_000_000
    view_d0 = days[("view", int(d0))]
    assert view_d0.n_events == 3
    assert view_d0.sum_cents == 125 + 250 + 400
    assert view_d0.min_cents == 125 and view_d0.max_cents == 400


# ------------------------------------------------------- funnel / retention


def test_funnel_strict_ordering_and_prefix(spark):
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    evs = _ev(
        spark,
        [
            # user 1: full ordered funnel
            (1, t("2024-01-01 09:00:00"), 1, "view"),
            (2, t("2024-01-01 10:00:00"), 1, "click"),
            (3, t("2024-01-01 11:00:00"), 1, "purchase"),
            # user 2: click BEFORE the first view → click must not count;
            # the later click does, purchase before it doesn't
            (4, t("2024-01-01 08:00:00"), 2, "click"),
            (5, t("2024-01-01 09:00:00"), 2, "view"),
            (6, t("2024-01-01 09:30:00"), 2, "purchase"),
            (7, t("2024-01-01 10:00:00"), 2, "click"),
            # user 3: never viewed → not in the funnel at all
            (8, t("2024-01-01 09:00:00"), 3, "purchase"),
        ],
    )
    out = {r.user_id: r for r in events.funnel(evs).collect()}
    assert set(out) == {1, 2}
    assert out[1].depth == 3
    assert out[1].step_3_ts == t("2024-01-01 11:00:00")
    assert out[2].depth == 2  # view + later click; no purchase after click
    assert out[2].step_2_ts == t("2024-01-01 10:00:00")
    assert out[2].step_3_ts is None


def test_funnel_equal_ts_is_not_after(spark):
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    evs = _ev(
        spark,
        [
            (1, t("2024-01-01 09:00:00"), 1, "view"),
            (2, t("2024-01-01 09:00:00"), 1, "click"),  # same instant: strict >
        ],
    )
    r = events.funnel(evs).collect()[0]
    assert r.depth == 1 and r.step_2_ts is None


def test_retention_offsets(spark):
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    evs = _ev(
        spark,
        [
            # user 1: first on day 0, active days 0 and 2 (twice → 1 count)
            (1, t("2024-01-01 09:00:00"), 1, "view"),
            (2, t("2024-01-03 09:00:00"), 1, "click"),
            (3, t("2024-01-03 10:00:00"), 1, "view"),
            # user 2: first on day 1, active day 1 only
            (4, t("2024-01-02 23:00:00"), 2, "view"),
        ],
    )
    got = {
        (r.cohort, r.offset): r.n_users
        for r in events.retention_cohorts(evs).collect()
    }
    assert got == {
        (t("2024-01-01 00:00:00"), 0): 1,
        (t("2024-01-01 00:00:00"), 2): 1,
        (t("2024-01-02 00:00:00"), 0): 1,
    }


def test_props_typed_malformed_is_null(spark):
    rows = [
        (1, '{"k": 7}', "click"),
        (2, "not json", "view"),
        (3, None, "view"),
    ]
    df = spark.createDataFrame(rows, "event_id long, props string, event_type string")
    got = {r.event_id: r.k for r in events.props_typed(df).collect()}
    assert got == {1: 7, 2: None, 3: None}


def test_sessionize_gap_boundary(spark):
    """Events with gaps <= 30min merge — INCLUDING an exactly-30:00
    gap (Spark's session merge boundary is inclusive); only a strictly
    larger gap starts a new session."""
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    evs = _ev(
        spark,
        [
            (1, t("2024-01-01 09:00:00"), 1, "view"),
            (2, t("2024-01-01 09:29:59"), 1, "click"),   # <30min → same
            (3, t("2024-01-01 09:59:59"), 1, "view"),    # chain extends
            (4, t("2024-01-01 10:29:59"), 1, "view"),    # 30:00 exactly → SAME
            (6, t("2024-01-01 11:00:00"), 1, "view"),    # 30:01 gap → NEW
            (5, t("2024-01-01 12:00:00"), 2, "view"),    # other user isolated
        ],
    )
    # (4) is exactly 1800s after (3): boundary-inclusive → same session;
    # (6) is 1801s after (4) → new session
    out = {
        (r.user_id, r.session_idx): r
        for r in events.sessionize(evs, gap_s=1800).collect()
    }
    assert len(out) == 3
    s1 = out[(1, 1)]
    assert s1.n_events == 4 and s1.duration_us == 5399 * 1_000_000
    s2 = out[(1, 2)]
    assert s2.n_events == 1 and s2.duration_us == 0
    assert out[(2, 1)].n_events == 1


def test_sessionize_native_equals_lag_twin(spark):
    """The session_window merge and the lag+cumsum formulation (the
    oracle's algorithm) produce identical sessions on an adversarial
    fixture: duplicate timestamps, exact-gap boundaries, singletons."""
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    rows, eid = [], 0
    for u in range(1, 6):
        base = datetime.fromisoformat("2024-02-01 00:00:00")
        for k in range(12):
            eid += 1
            # mix of sub-gap, exact-gap, super-gap, and duplicate ts
            offset_s = k * 700 * u + (0 if k % 3 else 1800 * k)
            rows.append(
                (eid, t("2024-02-01 00:00:00"), u, "view")
                if k % 5 == 0
                else (
                    eid,
                    base.fromtimestamp(base.timestamp() + offset_s),
                    u,
                    "view",
                )
            )
    evs = _ev(spark, rows)
    a = events.sessionize(evs).orderBy("user_id", "session_idx")
    b = events.sessionize_lag(evs).orderBy("user_id", "session_idx")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_rfm_segments_terciles(spark):
    """Six single-event users on one day (r = 0, f = 1 for all) with
    monetary cents 1..6 (exact small-value buckets): m terciles cut at
    2 and 4, so the census is two users in each m segment; r/f collapse
    to 'low' for everyone; segments partition the user base."""
    import datetime as dt

    from joern_spark.operators.events import rfm_segments, rfm_user_scores

    t0 = dt.datetime(2026, 5, 1, 12, 0, 0)
    rows = [
        (i, t0, i, "click", 0.01 * i, None) for i in range(1, 7)
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r.r_seg, r.f_seg, r.m_seg): r.n_users
        for r in rfm_segments(e).collect()
    }
    assert got == {
        ("low", "low", "low"): 2,
        ("low", "low", "mid"): 2,
        ("low", "low", "high"): 2,
    }
    assert sum(got.values()) == 6

    # cents round: 0.29 * 100 is 28.999999999999996, 29 cents not 28
    one = spark.createDataFrame([(7, t0, 7, "click", 0.29, None)], e.schema)
    assert [r.m for r in rfm_user_scores(one).collect()] == [29]


def test_session_funnel_census(spark):
    """One user, two sessions split by a >30-min gap: session 1
    completes view→click→purchase (depth 3); session 2 has only a view
    (depth 1); a second user's session with click-before-view scores
    depth 1 (strict ordering); totals partition the session set."""
    import datetime as dt

    from joern_spark.operators.events import session_funnel

    t0 = dt.datetime(2026, 6, 1, 10, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, t0, 1, "view", 1.0, None),
        (2, t0 + m, 1, "click", 1.0, None),
        (3, t0 + 2 * m, 1, "purchase", 1.0, None),
        (4, t0 + dt.timedelta(hours=2), 1, "view", 1.0, None),  # new session
        (5, t0, 2, "click", 1.0, None),
        (6, t0 + m, 2, "view", 1.0, None),  # view AFTER click: depth 1
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.depth: r.n_sessions for r in session_funnel(e).collect()}
    assert got == {3: 1, 1: 2}
