"""Structured-Streaming incremental ingestion: exactly-once drain of new
files, delta-only reprocessing, parity with the batch extractor."""

from __future__ import annotations

import pytest

from joern_spark import generator as G
from joern_spark.operators.extract import extract_triples_raw
from joern_spark.streaming import ingest


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    d = {k: str(root / k) for k in ("landing", "out", "ckpt")}
    import os

    os.makedirs(d["landing"])
    return d


def _land(spark, dirs, lo, hi, name):
    """Write one arrival batch as flat parquet files in the landing dir
    (the file stream source lists one directory level)."""
    import glob
    import os
    import shutil

    pdf = G.generate_transcripts(2000)
    sub = pdf[(pdf["conv_id"] >= f"c{lo:09d}") & (pdf["conv_id"] < f"c{hi:09d}")]
    staging = f"{dirs['landing']}/../_stage_{name}"
    spark.createDataFrame(sub).coalesce(1).write.mode("overwrite").parquet(staging)
    for i, f in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
        shutil.move(f, f"{dirs['landing']}/{name}_{i}.parquet")
    shutil.rmtree(staging)
    assert os.listdir(dirs["landing"])


def test_incremental_exactly_once(spark, dirs):
    _land(spark, dirs, 0, 60, "batch1")
    ingest.run_increment(spark, dirs["landing"], dirs["out"], dirs["ckpt"])
    n1 = ingest.streamed_triples(spark, dirs["out"]).count()
    assert n1 > 0

    # re-run with no new files → nothing reprocessed
    ingest.run_increment(spark, dirs["landing"], dirs["out"], dirs["ckpt"])
    assert ingest.streamed_triples(spark, dirs["out"]).count() == n1

    # land a second batch → only the delta is appended, totals match batch mode
    _land(spark, dirs, 60, 120, "batch2")
    ingest.run_increment(spark, dirs["landing"], dirs["out"], dirs["ckpt"])
    streamed = ingest.streamed_triples(spark, dirs["out"])

    batch = extract_triples_raw(spark.read.parquet(dirs["landing"]))
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def _land_rows(spark, landing, rows, name):
    import glob
    import shutil

    from joern_spark.schemas import TRANSCRIPT_SCHEMA

    staging = f"{landing}/../_stage_{name}"
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    for i, f in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
        shutil.move(f, f"{landing}/{name}_{i}.parquet")
    shutil.rmtree(staging)


def test_windowed_counts_watermark_finalization(spark, tmp_path_factory):
    """Watermarked tumbling windows emit exactly once, when later arrivals
    push the watermark past them — and the finalized counts equal the
    batch aggregation, late row included."""
    import datetime as dt

    from joern_spark.streaming import stateful

    root = tmp_path_factory.mktemp("wstream")
    landing, out, ckpt = (str(root / k) for k in ("landing", "out", "ckpt"))
    import os

    os.makedirs(landing)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(i, minutes, role="user"):
        return ("cw", i, role, f"pad {i}", None, t0 + dt.timedelta(minutes=minutes))

    # batch 1: hour-0 turns, plus one "late" hour-0 turn landing in batch 2
    _land_rows(spark, landing, [row(0, 5), row(1, 20), row(2, 40)], "b1")
    stateful.run_windowed_counts(spark, landing, out, ckpt, "1 hour", "2 hours")
    from joern_spark.schemas import TRANSCRIPT_SCHEMA  # noqa: F401

    read = lambda: spark.read.schema(  # noqa: E731
        "window_start timestamp_ntz, role string, n_turns long"
    ).parquet(out)
    assert read().count() == 0  # watermark has not passed hour 0 yet

    # batch 2: a late hour-0 row (within the 2h watermark) + far-future rows
    _land_rows(spark, landing, [row(3, 55), row(4, 600)], "b2")
    stateful.run_windowed_counts(spark, landing, out, ckpt, "1 hour", "2 hours")
    rows = {(r.window_start, r.role): r.n_turns for r in read().collect()}
    assert rows == {(t0, "user"): 4}  # hour-0 window closed once, late row counted


def test_session_stream_closes_sessions_once_and_matches_batch(
    spark, tmp_path_factory
):
    """Watermarked session windows emit exactly once, when later arrivals
    push the watermark past session_end + gap — and the finalized rows
    equal the batch sessionize output for those sessions (sans the batch
    ordinal session_idx). A re-drain with no new data appends nothing."""
    import datetime as dt
    import glob
    import os
    import shutil

    from joern_spark.operators import events as EV
    from joern_spark.streaming import stateful

    root = tmp_path_factory.mktemp("sstream")
    landing, out, ckpt = (str(root / k) for k in ("landing", "out", "ckpt"))
    os.makedirs(landing)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    sec = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    schema = "event_id long, ts timestamp_ntz, user_id string"
    # sessions (gap 60s): A = u1 {0s, 30s}; C = u2 {5s};
    # B = u1 {600s, 620s}; pusher = u2 {3600s} (stays open)
    b1 = [(0, sec(0), "u1"), (1, sec(30), "u1"), (2, sec(5), "u2")]
    b2 = [(3, sec(600), "u1"), (4, sec(620), "u1"), (5, sec(3600), "u2")]

    def land(rows, name):
        staging = f"{landing}/../_stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        for i, f in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
            shutil.move(f, f"{landing}/{name}_{i}.parquet")
        shutil.rmtree(staging)

    read = lambda: spark.read.schema(  # noqa: E731
        "user_id string, session_start timestamp_ntz, "
        "session_end timestamp_ntz, n_events long, duration_us long"
    ).parquet(out)

    land(b1, "b1")
    stateful.run_session_stream(spark, landing, out, ckpt, gap_s=60, late="1 minute")
    assert read().count() == 0  # watermark has not passed any session yet

    land(b2, "b2")
    stateful.run_session_stream(spark, landing, out, ckpt, gap_s=60, late="1 minute")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.duration_us)
        for r in read().collect()
    }
    batch = EV.sessionize(
        spark.createDataFrame(b1 + b2, schema), gap_s=60
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.duration_us)
        for r in batch.collect()
        # the pusher's session is still open in the stream
        if r.session_start < sec(3600)
    }
    assert got == want and len(got) == 3

    # no new data: a re-drain must append nothing (exactly-once)
    stateful.run_session_stream(spark, landing, out, ckpt, gap_s=60, late="1 minute")
    assert read().count() == 3


def test_rebind_state_across_increments(spark, tmp_path_factory):
    """applyInPandasWithState carries the live binding across drains: a
    rebind ingested in increment 1 resolves a dbcur ingested in
    increment 2 (the streaming reaching-definitions analog)."""
    from joern_spark.streaming import stateful

    root = tmp_path_factory.mktemp("sstream")
    landing, out, ckpt = (str(root / k) for k in ("landing", "out", "ckpt"))
    import os

    os.makedirs(landing)
    dbcur = "Querying the current database for records about Lima."
    _land_rows(
        spark,
        landing,
        [
            ("cx", 0, "assistant", dbcur, "db_query", None),
            ("cx", 1, "user", "From now on use staging_db instead of prod_db.", None, None),
        ],
        "b1",
    )
    stateful.run_rebind_state(spark, landing, out, ckpt)
    read = lambda: spark.read.schema(  # noqa: E731
        "conv_id string, turn_idx int, live_db string"
    ).parquet(out)
    got1 = {(r.turn_idx): r.live_db for r in read().collect()}
    assert got1 == {0: "prod_db"}  # pre-rebind dbcur hits the default

    _land_rows(
        spark, landing, [("cx", 2, "assistant", dbcur, "db_query", None)], "b2"
    )
    stateful.run_rebind_state(spark, landing, out, ckpt)
    got2 = {(r.turn_idx): r.live_db for r in read().collect()}
    assert got2 == {0: "prod_db", 2: "staging_db"}  # state survived the drain


def test_dedup_stream_exactly_once_across_drains(spark, tmp_path_factory):
    """First-seen-wins content dedup holds ACROSS drains: a text emitted
    in drain 1 is suppressed when it reappears in drain 2's files, and
    the final hash set equals the batch-distinct set."""
    import os

    from pyspark.sql import functions as F

    from joern_spark.streaming import stateful

    root = tmp_path_factory.mktemp("dedup_stream")
    d = {k: str(root / k) for k in ("landing", "out", "ckpt")}
    os.makedirs(d["landing"])

    _land(spark, d, 0, 60, "batch1")
    stateful.run_dedup_stream(spark, d["landing"], d["out"], d["ckpt"])
    out1 = spark.read.parquet(d["out"])
    n1 = out1.count()
    assert n1 == out1.select("text_hash").distinct().count()  # unique in drain 1

    _land(spark, d, 60, 120, "batch2")
    stateful.run_dedup_stream(spark, d["landing"], d["out"], d["ckpt"])
    out = spark.read.parquet(d["out"])

    # still exactly one row per distinct text — batch2's repeats of
    # batch1 texts were dropped by carried state
    assert out.count() == out.select("text_hash").distinct().count()
    batch_distinct = (
        spark.read.parquet(d["landing"]).select(F.md5("text").alias("h")).distinct()
    )
    assert out.count() == batch_distinct.count()
    assert out.count() > n1  # batch2 contributed genuinely-new texts


def test_leak_scan_stream_exactly_once_and_batch_equal(spark, tmp_path):
    """The streaming leak scanner drains exactly once and emits
    row-identical findings to the batch leak kernels over the same
    files (it IS the same kernel — scan._leak_scan)."""
    import os

    from joern_spark.operators.scan import LEAK_PATTERNS, _leak_scan
    from joern_spark.schemas import TRANSCRIPT_SCHEMA
    from joern_spark.streaming.stateful import run_leak_scan_stream

    d = {k: str(tmp_path / k) for k in ("landing", "out", "ckpt")}
    os.makedirs(d["landing"])
    rows = [
        ("s1", 0, "user", "Contact me at alice@example.com now.", None, None),
        ("s1", 1, "assistant", "Use key sk-abcdefghijklmnopqrstuv.", None, None),
        ("s2", 0, "user", "Call +1-555-123-4567 and bob@x.org.", None, None),
        ("s2", 1, "assistant", "Nothing sensitive here.", None, None),
    ]
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d["landing"])

    run_leak_scan_stream(spark, d["landing"], d["out"], d["ckpt"])
    streamed = spark.read.parquet(d["out"])
    n1 = streamed.count()
    assert n1 == 4  # email, secret, phone, second email

    # batch parity: identical rows from the same kernels
    t = spark.read.parquet(d["landing"])
    batch = None
    for name in LEAK_PATTERNS:
        p = _leak_scan(t, name)
        batch = p if batch is None else batch.unionByName(p)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    # second drain with no new files → nothing re-emitted
    run_leak_scan_stream(spark, d["landing"], d["out"], d["ckpt"])
    assert spark.read.parquet(d["out"]).count() == n1


def test_alias_increment_matches_batch(spark, tmp_path_factory):
    """Incremental entity resolution over the landing stream: after each
    drain the persisted canonical map equals the one-shot component
    solve over ALL landed data; a no-new-files drain leaves the map
    unchanged; and re-folding already-merged pairs is a no-op (the
    idempotence that makes at-least-once foreachBatch delivery safe)."""
    from joern_spark.operators.canonicalize import (
        connected_components,
        merge_canonical_map,
        same_as_pairs,
    )

    import os

    root = tmp_path_factory.mktemp("alias_stream")
    landing, state, ckpt = (str(root / k) for k in ("landing", "state", "ckpt"))
    os.makedirs(landing)
    d = {"landing": landing}

    def batch_map():
        return {
            r["entity_key"]: r["canon"]
            for r in connected_components(
                same_as_pairs(spark.read.parquet(landing))
            ).collect()
        }

    _land(spark, d, 0, 80, "a1")
    ingest.run_alias_increment(spark, landing, state, ckpt)
    got1 = {
        r["entity_key"]: r["canon"]
        for r in ingest.read_canonical_map(spark, state).collect()
    }
    assert got1 == batch_map() and got1
    b1 = int(ingest._snapshots(state)[-1].split("-")[1])

    # no new files → pointer still valid, map unchanged
    ingest.run_alias_increment(spark, landing, state, ckpt)
    got1b = {
        r["entity_key"]: r["canon"]
        for r in ingest.read_canonical_map(spark, state).collect()
    }
    assert got1b == got1

    # drain 2 lands a NOVEL alias (the generator slice may repeat known
    # pairs, which must not be the only delta or the merge is a no-op)
    import datetime as dt

    _land(spark, d, 80, 200, "a2")
    _land_rows(
        spark,
        landing,
        [
            (
                "zz_custom",
                0,
                "user",
                "Note that Paris is also known as Lutetia Prime.",
                None,
                dt.datetime(2024, 6, 1),
            )
        ],
        "a3",
    )
    ingest.run_alias_increment(spark, landing, state, ckpt)
    cur = ingest.read_canonical_map(spark, state)
    got2 = {r["entity_key"]: r["canon"] for r in cur.collect()}
    assert got2 == batch_map()

    # idempotence: re-merging pairs already folded changes nothing
    refold = merge_canonical_map(
        cur, same_as_pairs(spark.read.parquet(landing))
    )
    got3 = {r["entity_key"]: r["canon"] for r in refold.collect()}
    assert got3 == got2

    # time travel: reading as-of the last drain-1 batch returns drain-1's
    # map, not the merged one
    asof = {
        r["entity_key"]: r["canon"]
        for r in ingest.read_canonical_map(spark, state, as_of_batch=b1).collect()
    }
    assert asof == got1 and asof != got2

    # torn snapshots (crash mid-write: no _SUCCESS marker) are invisible
    # to time travel and swept by retention
    torn = os.path.join(state, "cmap-999999-deadbeef")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "w") as f:
        f.write("partial garbage")
    assert "cmap-999999-deadbeef" not in ingest._snapshots(state)
    assert ingest.read_canonical_map(spark, state, as_of_batch=999999) is not None

    # retention: expiring to the single newest snapshot keeps the pointer
    # readable and the current map intact, and sweeps the torn dir
    doomed = ingest.expire_snapshots(state, keep_last=1)
    assert doomed and "cmap-999999-deadbeef" in doomed
    assert not os.path.exists(torn)
    still = {
        r["entity_key"]: r["canon"]
        for r in ingest.read_canonical_map(spark, state).collect()
    }
    assert still == got2


def _alias_rows(conv, pairs):
    import datetime as dt

    return [
        (conv, i, "user", f"Note that {a} is also known as {b}.", None,
         dt.datetime(2024, 6, 1))
        for i, (a, b) in enumerate(pairs)
    ]


def test_alias_fold_without_pairs_commits_nothing(spark, tmp_path_factory):
    """A drained batch with no SAME_AS pairs writes no snapshot and moves
    no pointer — neither before the first map exists nor after."""
    import datetime as dt
    import os

    root = tmp_path_factory.mktemp("alias_empty")
    landing, state, ckpt = (str(root / k) for k in ("landing", "state", "ckpt"))
    os.makedirs(landing)
    plain = [("zz_plain", 0, "user", "What is the weather in Lima?", None,
              dt.datetime(2024, 6, 1))]
    pointer = os.path.join(state, "CURRENT")

    _land_rows(spark, landing, plain, "p1")
    ingest.run_alias_increment(spark, landing, state, ckpt)
    assert not os.path.exists(pointer)
    assert ingest.read_canonical_map(spark, state) is None

    _land_rows(spark, landing, _alias_rows("zz_a", [("Paris", "Lutetia")]), "a1")
    ingest.run_alias_increment(spark, landing, state, ckpt)
    snaps = ingest._snapshots(state)
    with open(pointer) as f:
        committed = f.read()
    assert len(snaps) == 1 and committed == snaps[0]

    _land_rows(spark, landing, plain, "p2")
    ingest.run_alias_increment(spark, landing, state, ckpt)
    assert ingest._snapshots(state) == snaps
    with open(pointer) as f:
        assert f.read() == committed


def test_alias_increment_above_literal_relation(spark, tmp_path_factory, monkeypatch):
    """With the literal-relation cap forced below the map size, the
    driver-solved map is a plain createDataFrame: a two-drain fold still
    equals the batch solve, and its snapshot reads back under
    CMAP_SCHEMA."""
    import os

    from joern_spark.functions import localrel
    from joern_spark.operators.canonicalize import (
        connected_components,
        same_as_pairs,
    )

    monkeypatch.setattr(localrel, "LITERAL_RELATION_MAX", 2)
    root = tmp_path_factory.mktemp("alias_wide")
    landing, state, ckpt = (str(root / k) for k in ("landing", "state", "ckpt"))
    os.makedirs(landing)

    def batch_map():
        return {
            r["entity_key"]: r["canon"]
            for r in connected_components(
                same_as_pairs(spark.read.parquet(landing))
            ).collect()
        }

    _land_rows(spark, landing, _alias_rows(
        "zz_w1", [("Paris", "Lutetia"), ("Rome", "Urbs"), ("Kyiv", "Kiev")]), "w1")
    ingest.run_alias_increment(spark, landing, state, ckpt)
    _land_rows(spark, landing, _alias_rows(
        "zz_w2", [("Lutetia", "Rome"), ("Oslo", "Kristiania")]), "w2")
    ingest.run_alias_increment(spark, landing, state, ckpt)

    got = {
        r["entity_key"]: r["canon"]
        for r in ingest.read_canonical_map(spark, state).collect()
    }
    assert len(got) > localrel.LITERAL_RELATION_MAX
    assert got == batch_map()
    assert got["urbs"] == "lutetia" and got["kristiania"] == "kristiania"
    snap = os.path.join(state, ingest._snapshots(state)[-1])
    assert spark.read.parquet(snap).schema == spark.createDataFrame(
        [], ingest.CMAP_SCHEMA).schema
    # the fallback map is one slice, so its snapshot is one parquet file
    assert len([f for f in os.listdir(snap) if f.startswith("part-")]) == 1


def test_faithfulness_stream_across_drains_and_batch_parity(
    spark, tmp_path_factory
):
    """Evidence state carries across drains (a result ingested in
    increment 1 convicts a summary ingested in increment 2) and the
    drained verdicts equal the batch faithfulness scanners on the same
    rows."""
    import os

    from joern_spark.operators import scan
    from joern_spark.schemas import TRANSCRIPT_SCHEMA
    from joern_spark.streaming import stateful

    root = tmp_path_factory.mktemp("fstream")
    landing, out, ckpt = (str(root / k) for k in ("landing", "out", "ckpt"))
    os.makedirs(landing)
    b1 = [
        ("f1", 0, "tool", "Paris: 10C, sunny.", "weather_api", None),
        ("f2", 0, "tool", "Lima: 20C, cloudy.", "weather_api", None),
        ("f2", 1, "assistant", "It is 20C and cloudy in Lima.", None, None),
    ]
    b2 = [
        ("f1", 1, "assistant", "It is 12C and sunny in Paris.", None, None),
        ("f1", 2, "assistant", "It is 3C and foggy in Oslo.", None, None),
    ]
    _land_rows(spark, landing, b1, "b1")
    stateful.run_faithfulness_stream(spark, landing, out, ckpt)
    read = lambda: spark.read.schema(stateful.FAITH_OUT_SCHEMA).parquet(out)  # noqa: E731
    assert read().count() == 0  # f2's recap is faithful

    _land_rows(spark, landing, b2, "b2")
    stateful.run_faithfulness_stream(spark, landing, out, ckpt)
    got = {(r.conv_id, r.turn_idx, r.kind) for r in read().collect()}
    assert got == {("f1", 1, "unfaithful"), ("f1", 2, "unsupported")}

    batch = spark.createDataFrame(b1 + b2, TRANSCRIPT_SCHEMA)
    want = {
        (r.evidence, kind)
        for fn, kind in (
            (scan.scan_unfaithful_summaries, "unfaithful"),
            (scan.scan_unsupported_summaries, "unsupported"),
        )
        for r in fn(batch).collect()
    }
    assert {(f"{c}:{t}", k) for c, t, k in got} == want


def test_walk_increment_stream_equals_batch(spark, tmp_path):
    """Streaming flow-walk maintenance: drain two arrival batches through
    run_walk_increment and the persisted keep='all' walk must equal the
    one-shot batch walk over everything landed; a drain with no new
    files leaves the snapshot pointer unchanged (idempotent fold)."""
    import os

    from joern_spark.functions.hetero import expand_paths_hetero
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import link_mentions
    from joern_spark.queries import hetero_edges_from
    from joern_spark.sources.transcripts import read_entities
    from pyspark.sql import functions as F

    d = {k: str(tmp_path / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    def land(lo, hi, name):
        import glob
        import shutil

        pdf = G.generate_transcripts(1500)
        sub = pdf[(pdf["conv_id"] >= f"c{lo:09d}")
                  & (pdf["conv_id"] < f"c{hi:09d}")]
        staging = f"{d['landing']}/../_st_{name}"
        spark.createDataFrame(sub).coalesce(1).write.mode(
            "overwrite").parquet(staging)
        for i, f in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
            shutil.move(f, f"{d['landing']}/{name}_{i}.parquet")
        shutil.rmtree(staging)

    land(0, 40, "b1")
    ingest.run_walk_increment(spark, d["landing"], d["state"], d["ckpt"])
    first = ingest.read_walk(spark, d["state"])
    assert first is not None
    n1 = first[0].count()
    assert n1 > 0
    with open(os.path.join(d["state"], "CURRENT_WALK")) as fh:
        ptr1 = fh.read()

    # idempotent: nothing new landed → no new snapshot
    ingest.run_walk_increment(spark, d["landing"], d["state"], d["ckpt"])
    with open(os.path.join(d["state"], "CURRENT_WALK")) as fh:
        assert fh.read() == ptr1

    land(40, 80, "b2")
    ingest.run_walk_increment(spark, d["landing"], d["state"], d["ckpt"])
    paths, edges, seeds = ingest.read_walk(spark, d["state"])

    # batch one-shot over EVERYTHING landed
    t = spark.read.parquet(d["landing"])
    linked = link_mentions(extract_mentions(t), read_entities(spark))
    e_all = hetero_edges_from(t, linked).dropDuplicates(
        ["src", "dst", "label"])
    from joern_spark.operators.extract import extract_triples_raw
    s_all = (
        extract_triples_raw(t)
        .where(F.col("pred") == "queried_about")
        .select(F.concat("conv_id", F.lit(":"),
                         F.col("turn_idx").cast("string")).alias("id"))
        .dropDuplicates()
    )
    want = expand_paths_hetero(
        s_all, e_all, max_depth=3, max_crossings=1, keep="all")
    assert paths.exceptAll(want).count() == 0
    assert want.exceptAll(paths).count() == 0
    assert paths.count() > n1


def test_cm_increment_equals_batch_sketch(spark, tmp_path_factory):
    """Streaming Count-Min maintenance: two drains' folded cell table
    equals the ONE-SHOT batch sketch over everything landed (cm_merge
    associativity end-to-end), and an empty re-drain leaves the
    committed snapshot untouched."""
    import os

    from pyspark.sql import functions as F

    from joern_spark.operators.extract import extract_triples_raw
    from joern_spark.operators.sketch import cm_sketch
    from joern_spark.streaming import ingest

    root = tmp_path_factory.mktemp("cm_stream")
    d = {k: str(root / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    _land(spark, d, 0, 60, "batch1")
    ingest.run_cm_increment(spark, d["landing"], d["state"], d["ckpt"])
    sk1, id1 = ingest.read_cm_sketch(spark, d["state"])
    assert sk1 is not None and sk1.count() > 0

    # no new files → pointer unchanged
    ingest.run_cm_increment(spark, d["landing"], d["state"], d["ckpt"])
    _, id_again = ingest.read_cm_sketch(spark, d["state"])
    assert id_again == id1

    _land(spark, d, 60, 120, "batch2")
    ingest.run_cm_increment(spark, d["landing"], d["state"], d["ckpt"])
    folded, _ = ingest.read_cm_sketch(spark, d["state"])

    batch_items = extract_triples_raw(spark.read.parquet(d["landing"])).select(
        F.col("obj").alias("item")
    )
    expect = {
        (r.r, r.bucket): r.c for r in cm_sketch(batch_items).collect()
    }
    got = {(r.r, r.bucket): r.c for r in folded.collect()}
    assert got == expect


def test_hll_increment_equals_batch_registers(spark, tmp_path_factory):
    """Streaming HLL maintenance: folded registers equal the ONE-SHOT
    batch register table over everything landed, AND re-folding an
    already-folded delta changes nothing — max is idempotent, the
    property that lets this twin skip the Count-Min batch-id guard."""
    import os

    from pyspark.sql import functions as F

    from joern_spark.operators.extract import extract_triples_raw
    from joern_spark.operators.sketch import hll_merge, hll_registers
    from joern_spark.streaming import ingest

    root = tmp_path_factory.mktemp("hll_stream")
    d = {k: str(root / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    _land(spark, d, 0, 60, "batch1")
    ingest.run_hll_increment(spark, d["landing"], d["state"], d["ckpt"])
    r1, _ = ingest.read_hll_registers(spark, d["state"])
    assert r1 is not None and r1.count() > 0

    _land(spark, d, 60, 120, "batch2")
    ingest.run_hll_increment(spark, d["landing"], d["state"], d["ckpt"])
    folded, _ = ingest.read_hll_registers(spark, d["state"])

    batch_items = extract_triples_raw(spark.read.parquet(d["landing"])).select(
        F.col("obj").alias("item")
    )
    expect = {r.bucket: r.m for r in hll_registers(batch_items).collect()}
    got = {r.bucket: r.m for r in folded.collect()}
    assert got == expect

    # idempotence: re-folding the full table into itself is a no-op
    refolded = {
        r.bucket: r.m for r in hll_merge(folded, folded).collect()
    }
    assert refolded == expect


def test_bloom_increment_equals_batch_bits(spark, tmp_path_factory):
    """Streaming Bloom maintenance: the folded bit table equals the
    ONE-SHOT batch bit table over everything landed, the committed
    filter never false-negatives a landed key, and re-folding is a
    no-op (OR is idempotent — the property that lets this twin skip the
    Count-Min batch-id guard)."""
    import os

    from pyspark.sql import functions as F

    from joern_spark.operators.extract import extract_triples_raw
    from joern_spark.operators.sketch import (
        bloom_bits,
        bloom_contains,
        bloom_merge,
        bloom_words,
    )
    from joern_spark.streaming import ingest

    root = tmp_path_factory.mktemp("bloom_stream")
    d = {k: str(root / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    _land(spark, d, 0, 60, "batch1")
    ingest.run_bloom_increment(spark, d["landing"], d["state"], d["ckpt"])
    b1, _ = ingest.read_bloom_bits(spark, d["state"])
    assert b1 is not None and b1.count() > 0

    _land(spark, d, 60, 120, "batch2")
    ingest.run_bloom_increment(spark, d["landing"], d["state"], d["ckpt"])
    folded, _ = ingest.read_bloom_bits(spark, d["state"])

    keys = extract_triples_raw(spark.read.parquet(d["landing"])).select(
        F.col("obj").alias("key")
    )
    expect = {r.bit for r in bloom_bits(keys).collect()}
    got = {r.bit for r in folded.collect()}
    assert got == expect

    # no false negatives: every landed key probes positive
    words = bloom_words(folded)
    misses = keys.filter(~bloom_contains(F.col("key"), words)).count()
    assert misses == 0

    # idempotence: re-folding the full table into itself is a no-op
    refolded = {r.bit for r in bloom_merge(folded, folded).collect()}
    assert refolded == expect


def test_hist_increment_equals_batch_registers(spark, tmp_path_factory):
    """Streaming histogram maintenance: the folded bucket table equals
    the ONE-SHOT batch histogram over everything landed, a replayed
    batch id is skipped (sum-fold batch guard, same contract as
    Count-Min), and the stream-state quantile read-out matches the
    batch read-out."""
    import os

    from pyspark.sql import functions as F

    from joern_spark.functions.hashing import tokens_col
    from joern_spark.operators.sketch import hist_quantiles, hist_registers
    from joern_spark.streaming import ingest

    root = tmp_path_factory.mktemp("hist_stream")
    d = {k: str(root / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    _land(spark, d, 0, 60, "batch1")
    ingest.run_hist_increment(spark, d["landing"], d["state"], d["ckpt"])
    h1, id1 = ingest.read_hist_registers(spark, d["state"])
    assert h1 is not None and h1.count() > 0

    _land(spark, d, 60, 120, "batch2")
    ingest.run_hist_increment(spark, d["landing"], d["state"], d["ckpt"])
    folded, id2 = ingest.read_hist_registers(spark, d["state"])
    assert id2 > id1

    vals = spark.read.parquet(d["landing"]).select(
        F.size(tokens_col(F.col("text"))).cast("long").alias("v")
    )
    expect = {(r.bucket, r.cnt) for r in hist_registers(vals).collect()}
    assert {(r.bucket, r.cnt) for r in folded.collect()} == expect

    # replay guard: draining with nothing new must not advance or re-fold
    ingest.run_hist_increment(spark, d["landing"], d["state"], d["ckpt"])
    folded3, id3 = ingest.read_hist_registers(spark, d["state"])
    assert id3 == id2
    assert {(r.bucket, r.cnt) for r in folded3.collect()} == expect

    # quantiles read straight off the stream state match the batch path
    sq = {r.q: r.est for r in hist_quantiles(folded, [0.5, 0.9]).collect()}
    bq = {
        r.q: r.est
        for r in hist_quantiles(hist_registers(vals), [0.5, 0.9]).collect()
    }
    assert sq == bq


def test_mix_increment_equals_batch_mixture(spark, tmp_path_factory):
    """Streaming mixture-planner maintenance: two drains' folded count
    table derives the SAME weights as the one-shot batch mixture over
    everything landed; a no-new-files re-drain leaves the pointer
    untouched."""
    import math
    import os

    from pyspark.sql import functions as F

    from joern_spark.operators import curate
    from joern_spark.streaming import ingest

    root = tmp_path_factory.mktemp("mix_stream")
    d = {k: str(root / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    def land(lo, hi, name):
        import glob
        import shutil

        rows = [
            (i, "word " * (10 + i % 7), "en", f"s{i % 3}") for i in range(lo, hi)
        ]
        staging = f"{d['landing']}/../_stage_{name}"
        spark.createDataFrame(
            rows, ingest.DOC_STREAM_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        for i, f in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
            shutil.move(f, f"{d['landing']}/{name}_{i}.parquet")

    land(0, 40, "batch1")
    ingest.run_mix_increment(spark, d["landing"], d["state"], d["ckpt"])
    counts1, id1 = ingest.read_mix_counts(spark, d["state"])
    assert counts1 is not None and counts1.count() == 3

    # no new files → pointer unchanged
    ingest.run_mix_increment(spark, d["landing"], d["state"], d["ckpt"])
    _, id_again = ingest.read_mix_counts(spark, d["state"])
    assert id_again == id1

    land(40, 100, "batch2")
    ingest.run_mix_increment(spark, d["landing"], d["state"], d["ckpt"])
    counts, _ = ingest.read_mix_counts(spark, d["state"])

    stream_w = {
        r.source: (r.n_docs, r.n_tokens, r.weight)
        for r in curate.mixture_weights_from_counts(counts).collect()
    }
    batch_docs = spark.read.parquet(d["landing"]).withColumn(
        "n_chars", F.lit(1)
    )
    batch_w = {
        r.source: (r.n_docs, r.n_tokens, r.weight)
        for r in curate.mixture_weights(batch_docs).collect()
    }
    assert set(stream_w) == set(batch_w) == {"s0", "s1", "s2"}
    for s in batch_w:
        assert stream_w[s][:2] == batch_w[s][:2]
        assert math.isclose(stream_w[s][2], batch_w[s][2], rel_tol=1e-12)


def test_dedup_increment_equals_batch_pairs(spark, tmp_path_factory):
    """Incremental MinHash-LSH dedup: after two drains the committed
    pair table equals the one-shot batch minhash_lsh_pairs over
    everything landed — including cross-batch duplicates (a batch-2 doc
    duplicating a batch-1 doc); a no-new-files re-drain leaves state
    unchanged."""
    import glob
    import os
    import shutil

    from joern_spark.operators import dedup
    from joern_spark.streaming import ingest

    root = tmp_path_factory.mktemp("dedup_stream")
    d = {k: str(root / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    def text_of(i: int) -> str:
        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        if i % 5 == 0:
            return base  # every 5th doc is an exact near-dup family
        return f"{base} unique{i} marker{i} tail{i * 7} end{i * 13}"

    def land(lo, hi, name):
        rows = [(i, text_of(i), "en", "s0") for i in range(lo, hi)]
        staging = f"{d['landing']}/../_stage_{name}"
        spark.createDataFrame(
            rows, ingest.DOC_STREAM_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        for i, f in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
            shutil.move(f, f"{d['landing']}/{name}_{i}.parquet")

    land(0, 30, "batch1")
    ingest.run_dedup_increment(spark, d["landing"], d["state"], d["ckpt"])
    bands1, pairs1 = ingest.read_dedup_state(spark, d["state"])
    assert bands1 is not None

    # no new files → state unchanged
    n_pairs1 = pairs1.count()
    ingest.run_dedup_increment(spark, d["landing"], d["state"], d["ckpt"])
    _, pairs_again = ingest.read_dedup_state(spark, d["state"])
    assert pairs_again.count() == n_pairs1

    land(30, 60, "batch2")
    ingest.run_dedup_increment(spark, d["landing"], d["state"], d["ckpt"])
    _, pairs = ingest.read_dedup_state(spark, d["state"])

    corpus = spark.read.schema(ingest.DOC_STREAM_SCHEMA).parquet(
        d["landing"]
    )
    batch = dedup.minhash_lsh_pairs(corpus.select("doc_id", "text"))
    got = {(r.a, r.b) for r in pairs.collect()}
    want = {(r.a, r.b) for r in batch.collect()}
    assert got == want and want  # non-empty: the near-dup family pairs
    # cross-batch pair present: doc 0 (batch 1) with doc 30+ (batch 2)
    assert any(a < 30 <= b for a, b in got)


def test_index_increment_equals_batch_index(spark, tmp_path_factory):
    """Incremental inverted-index maintenance: after two drains the
    maintained index scores BM25 and QLD identically to the fresh
    batch scorers over everything landed (exact integer merges, same
    stats division); a replayed/no-new-files drain is a no-op."""
    import glob
    import os
    import shutil

    from joern_spark.functions.localrel import local_df
    from joern_spark.operators import textstats
    from joern_spark.streaming import ingest

    root = tmp_path_factory.mktemp("tindex_stream")
    d = {k: str(root / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    def land(lo, hi, name):
        rows = [
            (i, f"alpha beta doc{i} gamma" + " beta" * (i % 3), "en", "s0")
            for i in range(lo, hi)
        ]
        staging = f"{d['landing']}/../_stage_{name}"
        spark.createDataFrame(
            rows, ingest.DOC_STREAM_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        for i, f in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
            shutil.move(f, f"{d['landing']}/{name}_{i}.parquet")

    land(0, 15, "batch1")
    ingest.run_index_increment(spark, d["landing"], d["state"], d["ckpt"])
    idx1 = ingest.read_text_index(spark, d["state"])
    assert idx1 is not None
    snap1 = idx1["meta"]["snapshot"]

    ingest.run_index_increment(spark, d["landing"], d["state"], d["ckpt"])
    assert ingest.read_text_index(spark, d["state"])["meta"]["snapshot"] == snap1

    land(15, 30, "batch2")
    ingest.run_index_increment(spark, d["landing"], d["state"], d["ckpt"])
    idx = ingest.read_text_index(spark, d["state"])

    corpus = spark.read.schema(ingest.DOC_STREAM_SCHEMA).parquet(
        d["landing"]
    ).select("doc_id", "text")
    q = local_df(
        spark,
        [("q0", "alpha beta"), ("q1", "gamma doc3")],
        "query_id string, qtext string",
    )
    for fresh, indexed in [
        (textstats.bm25_topk(corpus, q), textstats.bm25_topk_indexed(idx, q)),
        (textstats.qld_topk(corpus, q), textstats.qld_topk_indexed(idx, q)),
    ]:
        a = {(r.query_id, r.doc_id): (r.score, r.rank) for r in fresh.collect()}
        b = {(r.query_id, r.doc_id): (r.score, r.rank) for r in indexed.collect()}
        assert a == b and a


def test_burst_increment_equals_batch_bursts(spark, tmp_path_factory):
    """Streaming burst maintenance: after two drains, burst hours
    derived from the folded count table equal the one-shot batch
    `entity_bursts` over everything landed (counts fold by sum; the
    per-entity mean must see the whole history, so verdicts derive on
    read); a no-new-files re-drain leaves the pointer untouched."""
    import os

    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.rank import entity_bursts
    from joern_spark.streaming import ingest

    root = tmp_path_factory.mktemp("burst_stream")
    d = {k: str(root / k) for k in ("landing", "state", "ckpt")}
    os.makedirs(d["landing"])

    _land(spark, d, 0, 60, "batch1")
    ingest.run_burst_increment(spark, d["landing"], d["state"], d["ckpt"])
    counts1, id1 = ingest.read_burst_counts(spark, d["state"])
    assert counts1 is not None and counts1.count() > 0

    ingest.run_burst_increment(spark, d["landing"], d["state"], d["ckpt"])
    _, id_again = ingest.read_burst_counts(spark, d["state"])
    assert id_again == id1

    _land(spark, d, 60, 120, "batch2")
    ingest.run_burst_increment(spark, d["landing"], d["state"], d["ckpt"])
    counts, _ = ingest.read_burst_counts(spark, d["state"])

    corpus = spark.read.parquet(d["landing"])
    stream_bursts = {
        (r.entity_key, r.hour, r.n, r.mean_n)
        for r in ingest.burst_hours_from_counts(counts).collect()
    }
    batch_bursts = {
        (r.entity_key, r.hour, r.n, r.mean_n)
        for r in entity_bursts(corpus, extract_mentions(corpus)).collect()
    }
    assert stream_bursts == batch_bursts and batch_bursts


def _forget_last_commit(ckpt):
    """Delete the newest sink commit `commits/<n>` (and its `.<n>.crc`)
    from a streaming checkpoint, as a crash after the fold's snapshot
    commit but before Spark's batch commit leaves it: the next drain
    re-runs batch n under the same id. Returns n."""
    import os

    commits = os.path.join(ckpt, "commits")
    n = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(n)))
    os.remove(os.path.join(commits, f".{n}.crc"))
    return n


def _cmap_state(spark, state):
    cmap = ingest.read_canonical_map(spark, state)
    return {r.entity_key: r.canon for r in cmap.collect()}


def _cmap_batch(spark, landing):
    from joern_spark.operators.canonicalize import (
        connected_components,
        same_as_pairs,
    )

    pairs = same_as_pairs(spark.read.parquet(landing))
    return {r.entity_key: r.canon for r in connected_components(pairs).collect()}


def _objects(spark, landing, name):
    from pyspark.sql import functions as F

    triples = extract_triples_raw(spark.read.parquet(landing))
    return triples.select(F.col("obj").alias(name))


def _cm_state(spark, state):
    cells, _ = ingest.read_cm_sketch(spark, state)
    return {(r.r, r.bucket): r.c for r in cells.collect()}


def _cm_batch(spark, landing):
    from joern_spark.operators.sketch import cm_sketch

    items = _objects(spark, landing, "item")
    return {(r.r, r.bucket): r.c for r in cm_sketch(items).collect()}


def _bloom_state(spark, state):
    bits, _ = ingest.read_bloom_bits(spark, state)
    return {r.bit for r in bits.collect()}


def _bloom_batch(spark, landing):
    from joern_spark.operators.sketch import bloom_bits

    return {r.bit for r in bloom_bits(_objects(spark, landing, "key")).collect()}


@pytest.mark.parametrize(
    "run, pointer, state_of, batch_answer",
    [
        (ingest.run_alias_increment, "CURRENT", _cmap_state, _cmap_batch),
        (ingest.run_cm_increment, "CURRENT_CM", _cm_state, _cm_batch),
        (ingest.run_bloom_increment, "CURRENT_BLOOM", _bloom_state, _bloom_batch),
    ],
    ids=["alias", "cm", "bloom"],
)
def test_replayed_batch_writes_nothing(
    spark, tmp_path, run, pointer, state_of, batch_answer
):
    """A batch that Spark re-runs under an already-committed batch id
    (its sink commit lost) leaves the store as it was: the same pointer,
    no new snapshot directory, and the one-shot batch answer — for a
    driver-solved fold (alias), a sum fold (cm) and an OR fold (bloom)."""
    import os

    landing, state, ckpt = (
        str(tmp_path / k) for k in ("landing", "state", "ckpt")
    )
    os.makedirs(landing)
    _land_rows(spark, landing, _alias_rows(
        "zz_r1", [("Paris", "Lutetia"), ("Rome", "Urbs")]), "r1")
    run(spark, landing, state, ckpt)
    _land_rows(spark, landing, _alias_rows(
        "zz_r2", [("Oslo", "Kristiania")]), "r2")
    run(spark, landing, state, ckpt)
    with open(os.path.join(state, pointer)) as f:
        committed = f.read()
    entries = sorted(os.listdir(state))

    assert _forget_last_commit(ckpt) == 1
    run(spark, landing, state, ckpt)

    with open(os.path.join(state, pointer)) as f:
        assert f.read() == committed
    assert sorted(os.listdir(state)) == entries
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))
    assert state_of(spark, state) == batch_answer(spark, landing)


# --- the snapshot store, without a streaming query ---------------------------


def _two_tables(spark, n):
    return {"a": spark.range(n), "b": spark.range(10 * n)}


def _store(spark, state):
    return ingest.SnapshotStore(spark, str(state), "t", "CURRENT_T", ("a", "b"))


def test_store_read_before_first_commit(spark, tmp_path):
    """No pointer yet: nothing to read, at any batch id."""
    store = _store(spark, tmp_path / "state")
    assert store.read() is None
    assert store.as_of(10**6) is None
    assert store.committed() == []


def test_store_uncommitted_snapshot_is_not_read(spark, tmp_path):
    """A fully written walk snapshot whose pointer was never replaced (a
    crash between the table writes and the commit) is invisible: the
    pointer is the only commit point."""
    state = tmp_path / "state"
    snap = state / "walk-000000-0badf00d"
    for t in ("paths", "edges", "seeds"):
        spark.range(3).write.parquet(str(snap / t))
    assert not (state / "CURRENT_WALK").exists()
    assert ingest.read_walk(spark, str(state)) is None


def test_store_torn_snapshot_invisible_and_swept(spark, tmp_path):
    """A snapshot with one table missing `_SUCCESS` is not listed, not
    served by `as_of`, and the next commit deletes it."""
    import os

    state = tmp_path / "state"
    store = _store(spark, state)
    store.commit(0, _two_tables(spark, 1))
    torn = state / "t-000005-deadbeef"
    for t, df in _two_tables(spark, 2).items():
        df.write.parquet(str(torn / t))
    os.remove(torn / "b" / "_SUCCESS")

    assert torn.name not in store.committed()
    assert store.as_of(5).batch_id == 0
    store.commit(1, _two_tables(spark, 3))
    assert not torn.exists()
    assert len(store.committed()) == 2


def test_store_retention_keeps_newest_three(spark, tmp_path):
    """Five commits leave exactly KEEP_SNAPSHOTS written snapshots; the
    pointer's snapshot reads back the last commit's tables."""
    store = _store(spark, tmp_path / "state")
    for i in range(5):
        store.commit(i, _two_tables(spark, i + 1))
    assert ingest.KEEP_SNAPSHOTS == 3
    kept = store.committed()
    assert [int(n.split("-")[1]) for n in kept] == [2, 3, 4]
    snap = store.read()
    assert snap.name == kept[-1] and snap.batch_id == 4
    assert snap.tables["a"].count() == 5 and snap.tables["b"].count() == 50


def test_store_as_of_among_retained(spark, tmp_path):
    """`as_of` serves the last retained snapshot with batch id ≤ its
    argument; batches older than the retained window are gone."""
    store = _store(spark, tmp_path / "state")
    for i in (0, 2, 4, 6, 8):
        store.commit(i, _two_tables(spark, i + 1))
    assert [store.as_of(b).batch_id for b in (4, 5, 7, 8, 99)] == [4, 4, 6, 8, 8]
    assert store.as_of(5).tables["a"].count() == 5
    assert store.as_of(3) is None
