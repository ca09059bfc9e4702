"""Stateful Structured-Streaming operators over the transcript firehose.

The reference is batch-only (SURVEY.md §1.4); these are the streaming
counterparts a continuous transcript feed needs:

  * `windowed_turn_counts` — watermark + tumbling event-time window
    aggregation with append-mode finalization: late turns within the
    watermark still count; windows emit exactly once, when the watermark
    passes them. The classic late-data-tolerant rollup.
  * `run_rebind_state` — the streaming analog of the batch
    reaching-definitions pass (operators/rebind.py): per-conversation
    live-binding state carried ACROSS micro-batches via
    applyInPandasWithState, so a rebind drained in one increment
    resolves dbcur turns drained in a later increment. Per-group logic
    is vectorized pandas (sort + ffill), never per-row Python.

Both run with Trigger.AvailableNow — each invocation drains exactly the
new files then stops (cron-style incremental jobs), with the checkpoint
directory as the resume manifest. State ordering note: the binding state
assumes increments arrive in turn order per conversation (true for an
append-only transcript log); out-of-order feeds would add an event-time
timeout buffer, which the transcript lake does not need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from joern_spark.generator import DEFAULT_DB
from joern_spark.operators.extract import RULES_BY_NAME
from joern_spark.streaming.ingest import EVENT_STREAM_SCHEMA, drain, read_stream

STATE_SCHEMA = "live_db string"
REBIND_OUT_SCHEMA = "conv_id string, turn_idx int, live_db string"


def windowed_turn_counts(stream: DataFrame, window: str = "1 hour",
                         late: str = "2 hours") -> DataFrame:
    """(window_start, role, n_turns) per closed event-time window.

    Watermarks require an instant (LTZ) event-time column, so the lake's
    naive NTZ micros round-trip through the session clock — the LTZ cast
    and the NTZ cast back use the same session timezone, so window starts
    come out as the same naive values for WHOLE-HOUR-offset zones (a
    fractional-offset zone like +05:30 lands 1-hour windows on :30 in
    naive terms). Checkpointed watermark/window state is keyed on the
    cast instants, so every drain of one checkpoint must run under the
    same session timezone — `run_windowed_counts` enforces the repo's
    pinned UTC, exactly like `run_dedup_stream`."""
    return (
        stream.withColumn("_evt", F.col("ts").cast("timestamp"))
        .withWatermark("_evt", late)
        .groupBy(F.window("_evt", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "role",
            "n_turns",
        )
    )


def run_windowed_counts(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str,
    window: str = "1 hour", late: str = "2 hours",
) -> None:
    """Drain available files; append every window the advancing watermark
    has closed. Re-invoking after later data lands finalizes (and emits)
    the earlier windows exactly once."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":  # see windowed_turn_counts docstring — state is TZ-keyed
        raise ValueError(f"windowed counts require session timeZone UTC, got {tz}")
    drain(
        windowed_turn_counts(read_stream(spark, landing_dir), window, late),
        checkpoint_dir,
        path=out_dir,
    )


def session_stream(
    stream: DataFrame, gap_s: int | None = None, late: str = "2 hours"
) -> DataFrame:
    """(user_id, session_start, session_end, n_events, duration_us) per
    CLOSED session — the streaming twin of events.sessionize: the SAME
    native `session_window` aggregate, under a watermark, so a session
    is emitted exactly once when the watermark passes its end + gap.
    `session_idx` is deliberately absent: a per-user ordinal over all
    sessions is a batch construct (every new session would renumber the
    suffix); streaming consumers key on (user_id, session_start), which
    is stable. Same NTZ→LTZ watermark discipline (and UTC session-tz
    requirement, enforced by run_session_stream) as
    windowed_turn_counts. State is O(open sessions) — the session-window
    merge evicts a user's session the moment the watermark closes it."""
    from joern_spark.operators.events import SESSION_GAP_S

    gap_s = SESSION_GAP_S if gap_s is None else gap_s
    return (
        stream.withColumn("_evt", F.col("ts").cast("timestamp"))
        .withWatermark("_evt", late)
        .groupBy(
            "user_id",
            F.session_window("_evt", f"{gap_s} seconds").alias("_sw"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("_evt").alias("_s"),
            F.max("_evt").alias("_e"),
        )
        .select(
            "user_id",
            F.col("_s").cast("timestamp_ntz").alias("session_start"),
            F.col("_e").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            F.expr("timestampdiff(MICROSECOND, _s, _e)")
            .cast("long")
            .alias("duration_us"),
        )
    )


def run_session_stream(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str,
    gap_s: int | None = None, late: str = "2 hours",
) -> None:
    """Drain available event files; append every session the advancing
    watermark has closed. Re-invoking after later data lands finalizes
    (and emits) the earlier sessions exactly once."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":  # state is TZ-keyed, see windowed_turn_counts
        raise ValueError(f"session stream requires session timeZone UTC, got {tz}")
    events = read_stream(spark, landing_dir, EVENT_STREAM_SCHEMA)
    drain(session_stream(events, gap_s, late), checkpoint_dir, path=out_dir)


def _rebind_state_fn(key, pdfs, state: GroupState):
    """Vectorized per-conversation state transition: forward-fill the
    binding within the batch, seeded from (and updating) the carried
    state. Emits one row per dbcur turn with its resolved live binding."""
    import pandas as pd  # noqa: PLC0415 — executor-side

    (conv_id,) = key
    carried = state.get[0] if state.exists else None
    outs = []
    last = carried
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        live = pdf["bound_db"].ffill()
        if last is not None:
            live = live.fillna(last)
        cur = pdf["cur_city"].notna()
        if cur.any():
            outs.append(
                pd.DataFrame(
                    {
                        "conv_id": conv_id,
                        "turn_idx": pdf.loc[cur, "turn_idx"],
                        "live_db": live[cur].fillna(DEFAULT_DB),
                    }
                )
            )
        nn = pdf["bound_db"].dropna()
        if not nn.empty:
            last = nn.iloc[-1]
    if last is not None:
        state.update((last,))
    if outs:
        yield pd.concat(outs, ignore_index=True)


def rebind_state_stream(stream: DataFrame) -> DataFrame:
    """dbcur turns resolved against cross-batch binding state."""
    rebind = RULES_BY_NAME["rebind"]
    dbcur = RULES_BY_NAME["dbcur"]
    ann = stream.select(
        "conv_id",
        "turn_idx",
        F.when(
            (F.col("role") == rebind.role) & F.col("text").rlike(rebind.pattern),
            F.regexp_extract("text", rebind.pattern, 1),
        ).alias("bound_db"),
        F.when(
            (F.col("role") == dbcur.role) & F.col("text").rlike(dbcur.pattern),
            F.regexp_extract("text", dbcur.pattern, 1),
        ).alias("cur_city"),
    ).where(F.col("bound_db").isNotNull() | F.col("cur_city").isNotNull())
    return ann.groupBy("conv_id").applyInPandasWithState(
        _rebind_state_fn,
        REBIND_OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_rebind_state(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    drain(
        rebind_state_stream(read_stream(spark, landing_dir)),
        checkpoint_dir,
        path=out_dir,
    )


def dedup_stream(stream: DataFrame, within: str = "7 days") -> DataFrame:
    """First-seen-wins streaming dedup on content hash — the streaming
    counterpart of `operators/dedup.exact_dedup`: each distinct turn text
    is emitted exactly once (its first-arriving row), duplicates arriving
    within `within` of the original are dropped, ACROSS micro-batches
    and restarts (state lives in the checkpoint).

    Spark-first: this is the built-in `dropDuplicatesWithinWatermark`
    state-store operator (no UDF) — state per distinct hash is evicted
    once the watermark passes first_seen + `within`, so the store is
    bounded by the duplicate horizon, not by corpus lifetime. A
    duplicate arriving later than `within` after its original re-emits —
    the documented trade for bounded state; the batch exact_dedup pass
    downstream remains the global authority.

    The NTZ→LTZ cast for the watermark column interprets the lake's
    naive timestamps in the SESSION timezone; checkpointed watermark and
    eviction state are keyed on the resulting instants, so every drain
    of one checkpoint MUST run under the same session timezone —
    `run_dedup_stream` enforces the repo's pinned UTC."""
    return (
        stream.withColumn("_evt", F.col("ts").cast("timestamp"))
        .withWatermark("_evt", within)
        .withColumn("text_hash", F.md5("text"))
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select("text_hash", "conv_id", "turn_idx", "text")
    )


def run_dedup_stream(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":  # see dedup_stream docstring — state is TZ-keyed
        raise ValueError(f"dedup stream requires session timeZone UTC, got {tz}")
    drain(dedup_stream(read_stream(spark, landing_dir)), checkpoint_dir, path=out_dir)


def leak_scan_stream(stream: DataFrame) -> DataFrame:
    """Streaming security findings — the battery's leak bundle
    (scan.LEAK_PATTERNS: PII emails/phones, credential drops) applied AT
    INGEST so leaks surface the moment a turn lands instead of at the
    next batch battery run.

    Spark-first: each pattern is a pure stateless filter over the
    micro-batch — no watermark, no state store; exactly-once comes from
    the file sink's checkpointed manifest alone. The scanner kernels are
    the SAME functions the batch battery runs (`scan._leak_scan`), so
    streamed findings are row-identical to a batch scan of the same
    files (asserted in tests/test_streaming.py)."""
    from joern_spark.operators.scan import LEAK_PATTERNS, _leak_scan

    out = None
    for name in LEAK_PATTERNS:
        part = _leak_scan(stream, name)
        out = part if out is None else out.unionByName(part)
    return out


def run_leak_scan_stream(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """AvailableNow drain of the landing directory into an append-only
    streamed findings table (query_name, evidence, score)."""
    drain(
        leak_scan_stream(read_stream(spark, landing_dir)),
        checkpoint_dir,
        path=out_dir,
    )


FAITH_STATE_SCHEMA = "locs array<string>, temps array<string>, conds array<string>"
FAITH_OUT_SCHEMA = "conv_id string, turn_idx int, kind string"


def _faithfulness_state_fn(key, pdfs, state: GroupState):
    """Per-conversation faithfulness check with cross-batch evidence
    state: the latest tool-result (temp, cond) per location carries
    across drains, so a summary ingested in increment 2 is judged
    against the result ingested in increment 1. Per-group logic is
    pandas groupby/ffill over the (tiny) rule-matched rows of one
    conversation — no per-row Python over the corpus."""
    import pandas as pd  # noqa: PLC0415 — executor-side

    (conv_id,) = key
    if state.exists:
        locs, temps, conds = state.get
        seen = {lo: (t, c) for lo, t, c in zip(locs, temps, conds)}
    else:
        seen = {}
    outs = []
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        for loc, g in pdf.groupby("loc", sort=False):
            is_res = g["r_temp"].notna()
            # most recent result at-or-before each row, then shift so a
            # result row never supports itself; seed from carried state
            carried = seen.get(loc, (None, None))
            last_t = g["r_temp"].where(is_res).ffill().shift()
            last_c = g["r_cond"].where(is_res).ffill().shift()
            if carried[0] is not None:
                last_t = last_t.fillna(carried[0])
                last_c = last_c.fillna(carried[1])
            is_sum = g["s_temp"].notna()
            unsupported = is_sum & last_t.isna()
            unfaithful = (
                is_sum
                & last_t.notna()
                & ((g["s_temp"] != last_t) | (g["s_cond"] != last_c))
            )
            for mask, kind in ((unfaithful, "unfaithful"), (unsupported, "unsupported")):
                if mask.any():
                    outs.append(
                        pd.DataFrame(
                            {
                                "conv_id": conv_id,
                                "turn_idx": g.loc[mask, "turn_idx"],
                                "kind": kind,
                            }
                        )
                    )
            res = g[is_res]
            if not res.empty:
                seen[loc] = (res["r_temp"].iloc[-1], res["r_cond"].iloc[-1])
    if seen:
        ks = sorted(seen)
        state.update((ks, [seen[x][0] for x in ks], [seen[x][1] for x in ks]))
    if outs:
        yield pd.concat(outs, ignore_index=True)


def faithfulness_stream(stream: DataFrame) -> DataFrame:
    """Summary turns judged against cross-batch tool evidence — the
    streaming twin of scan_unfaithful_summaries / scan_unsupported_
    summaries (kind column tells them apart). State per conversation is
    the latest (temp, cond) per mentioned location — bounded by the
    conversation's location vocabulary, not its length."""
    from joern_spark.operators.extract import normalize_surface_col

    result = RULES_BY_NAME["result"]
    summ = RULES_BY_NAME["summary"]
    is_res = (F.col("role") == result.role) & F.col("text").rlike(result.pattern)
    is_sum = (F.col("role") == summ.role) & F.col("text").rlike(summ.pattern)
    ann = stream.select(
        "conv_id",
        "turn_idx",
        F.when(
            is_res, normalize_surface_col(F.regexp_extract("text", result.pattern, 1))
        ).otherwise(
            normalize_surface_col(F.regexp_extract("text", summ.pattern, 3))
        ).alias("loc"),
        F.when(is_res, F.regexp_extract("text", result.pattern, 2)).alias("r_temp"),
        F.when(is_res, F.regexp_extract("text", result.pattern, 3)).alias("r_cond"),
        F.when(is_sum, F.regexp_extract("text", summ.pattern, 1)).alias("s_temp"),
        F.when(is_sum, F.regexp_extract("text", summ.pattern, 2)).alias("s_cond"),
    ).where(is_res | is_sum)
    return ann.groupBy("conv_id").applyInPandasWithState(
        _faithfulness_state_fn,
        FAITH_OUT_SCHEMA,
        FAITH_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_faithfulness_stream(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    drain(
        faithfulness_stream(read_stream(spark, landing_dir)),
        checkpoint_dir,
        path=out_dir,
    )
