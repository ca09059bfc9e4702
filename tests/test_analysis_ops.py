"""Tests for dominators (applyInPandas CHK), salted aggregation, the
scan battery, and co-occurrence — the §2.B read-side widening ops."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from joern_spark.functions.salted import salted_count
from joern_spark.operators import scan
from joern_spark.operators.cfg import _idom_group, immediate_dominators


def test_idom_linear(make_transcripts):
    t = make_transcripts(
        [("c1", i, "user", f"turn {i}", None) for i in range(5)]
        + [("c2", i, "user", f"turn {i}", None) for i in range(3)]
    )
    out = {(r.conv_id, r.turn_idx): r.idom_idx for r in immediate_dominators(t).collect()}
    assert out == {
        ("c1", 1): 0, ("c1", 2): 1, ("c1", 3): 2, ("c1", 4): 3,
        ("c2", 1): 0, ("c2", 2): 1,
    }


def test_idom_diamond_dag():
    """The CHK kernel handles real branching, not just chains:
    0→1, 0→2, 1→3, 2→3 ⇒ idom(3) = 0 (join point), idom(1) = idom(2) = 0."""
    pdf = pd.DataFrame(
        {"conv_id": ["c"] * 4, "src_idx": [0, 0, 1, 2], "dst_idx": [1, 2, 3, 3]}
    )
    out = {r.turn_idx: r.idom_idx for r in _idom_group(pdf).itertuples()}
    assert out == {1: 0, 2: 0, 3: 0}


def test_salted_count_equals_plain(spark, make_transcripts):
    t = make_transcripts(
        [("c1", i, "user", "x", None) for i in range(7)]
        + [("c2", i, "user", "x", None) for i in range(3)]
    )
    salted = {
        (r.conv_id, r.n)
        for r in salted_count(t, "conv_id", "conv_id", ["conv_id", "turn_idx"]).collect()
    }
    plain = {
        (r.conv_id, r.n)
        for r in t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert salted == plain == {("c1", 7), ("c2", 3)}


def test_scan_battery(make_transcripts, entities):
    rows = [("mega", i, "user", f"pad {i}", None) for i in range(256)]
    rows += [
        ("c1", 0, "user", "From now on use staging_db instead of prod_db.", None),
        ("c1", 1, "user", "Please check the weather in Zarqa.", None),
    ]
    t = make_transcripts(rows)
    found = {(r.query_name, r.evidence): r.score for r in scan.run_scan(t, entities).collect()}
    assert found[("mega-conversation", "mega")] == 256
    assert found[("rebind-conversation", "c1")] == 1
    assert found[("unknown-entity", "zarqa")] == 1


def test_scan_temperature_contradiction(make_transcripts):
    """codeExamples style: Paris reported at two temps (positive); Rome
    consistent across repeats (negative)."""
    t = make_transcripts(
        [
            ("c1", 0, "tool", "Paris: 10C, sunny.", "weather_api"),
            ("c2", 0, "tool", "Paris: 20C, rainy.", "weather_api"),
            ("c3", 0, "tool", "Rome: 15C, sunny.", "weather_api"),
            ("c4", 0, "tool", "Rome: 15C, cloudy.", "weather_api"),
        ]
    )
    out = {r.evidence: r.score for r in scan.scan_temperature_contradictions(t).collect()}
    assert out == {"paris": 2}


def test_scan_stale_binding_use(make_transcripts):
    """dbcur BEFORE the first rebind is stale (positive, c1 turn 0);
    dbcur after the rebind (c1 turn 2) and dbcur with no rebind at all
    (c2) are not findings."""
    t = make_transcripts(
        [
            ("c1", 0, "assistant", "Querying the current database for records about Lima.", "db_query"),
            ("c1", 1, "user", "From now on use staging_db instead of prod_db.", None),
            ("c1", 2, "assistant", "Querying the current database for records about Lima.", "db_query"),
            ("c2", 0, "assistant", "Querying the current database for records about Oslo.", "db_query"),
        ]
    )
    out = {r.evidence: r.score for r in scan.scan_stale_binding_use(t).collect()}
    assert out == {"c1": 1}


def test_scan_alias_chain(make_transcripts):
    """A 3-surface SAME_AS chain is a finding; an isolated 2-surface alias
    pair is not."""
    t = make_transcripts(
        [
            ("c1", 0, "user", "Note that NYC is also known as New York City.", None),
            ("c1", 1, "user", "Note that Big Apple is also known as NYC.", None),
            ("c2", 0, "user", "Note that LA is also known as Los Angeles.", None),
        ]
    )
    out = {r.evidence: r.score for r in scan.scan_alias_chains(t).collect()}
    assert out == {"big_apple": 3}


def test_scan_hub_and_lone_mentions(make_transcripts):
    """One location mentioned in most turns (hub, > 1% share) vs one
    mentioned exactly once (lone)."""
    rows = [
        ("c%d" % i, 0, "user", "Please check the weather in Hubtown.", None)
        for i in range(99)
    ]
    rows.append(("cx", 0, "user", "Please check the weather in Loneville.", None))
    t = make_transcripts(rows)
    hubs = {r.evidence: r.score for r in scan.scan_hub_entities(t).collect()}
    assert hubs["hubtown"] == 99
    assert "loneville" not in hubs  # exactly 1% share, not strictly above
    lone = {r.evidence: r.score for r in scan.scan_lone_mentions(t).collect()}
    assert lone == {"loneville": 1}


def test_scan_tool_fanout(make_transcripts):
    rows = [
        ("c1", i, "assistant", f"Calling tool_{i} for Lima.", f"tool_{i}")
        for i in range(scan.TOOL_FANOUT_MIN)
    ]
    rows += [("c2", 0, "assistant", "Calling weather_api for Lima.", "weather_api")]
    t = make_transcripts(rows)
    out = {r.evidence: r.score for r in scan.scan_tool_fanout(t).collect()}
    assert out == {"c1": scan.TOOL_FANOUT_MIN}


def test_semantics_table_drives_output(spark, make_transcripts):
    """DefaultSemantics analog: flipping ONE row of the broadcast
    semantics table changes the canonicalization output — the behavior is
    data, not code."""
    from dataclasses import replace

    from joern_spark.functions.semantics import (
        DEFAULT_SEMANTICS,
        apply_semantics,
        semantics_df,
    )
    from joern_spark.operators.canonicalize import (
        connected_components,
        same_as_pairs,
    )
    from joern_spark.operators.extract import extract_triples_raw

    t = make_transcripts(
        [
            ("c1", 0, "user", "Note that NYC is also known as New York City.", None),
            ("c1", 1, "user", "Please check the weather in NYC.", None),
        ]
    )
    raw = extract_triples_raw(t)
    cmap = connected_components(same_as_pairs(t))
    trip = lambda sem: {  # noqa: E731
        (r.subj, r.pred, r.obj)
        for r in apply_semantics(raw, cmap, semantics_df(spark, sem)).collect()
    }
    default = trip(DEFAULT_SEMANTICS)
    # default: mention object canonicalized, same_as fact kept raw
    assert ("conv:c1", "mentions_location", "new_york_city") in default
    assert ("nyc", "same_as", "new_york_city") in default
    # flip one row: mentions_location stops canonicalizing its object
    flipped = [
        replace(s, canon_obj=False) if s.pred == "mentions_location" else s
        for s in DEFAULT_SEMANTICS
    ]
    got = trip(flipped)
    assert ("conv:c1", "mentions_location", "nyc") in got
    assert ("conv:c1", "mentions_location", "new_york_city") not in got
    # flip keep: same_as becomes structural-only and vanishes
    dropped = [
        replace(s, keep=False) if s.pred == "same_as" else s
        for s in DEFAULT_SEMANTICS
    ]
    assert not any(p == "same_as" for _, p, _ in trip(dropped))
    # unknown predicates fall through to PassThroughMapping (canon both)
    extra = spark.createDataFrame(
        [("NYC", "visited_by", "NYC", "c1", 9)],
        "subj string, pred string, obj string, conv_id string, turn_idx int",
    )
    got2 = {
        (r.subj, r.pred, r.obj)
        for r in apply_semantics(
            extra, cmap, semantics_df(spark, DEFAULT_SEMANTICS)
        ).collect()
    }
    assert got2 == {("new_york_city", "visited_by", "new_york_city")}


def test_kind_recovery_refines_and_converges(spark, make_transcripts):
    """XTypeRecovery analog: a key observed with a minority kind adopts
    its alias component's majority on iteration 2; iteration 3 changes
    nothing (fixpoint), mirroring the reference's fixed 2-iteration
    default."""
    from joern_spark.operators.canonicalize import (
        connected_components,
        same_as_pairs,
    )
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.recover import recover_kinds

    rows = [
        ("c1", 0, "user", "Note that NYC is also known as New York City.", None),
        # nyc observed twice as a location…
        ("c1", 1, "user", "Please check the weather in NYC.", None),
        ("c2", 0, "user", "Please check the weather in NYC.", None),
        # …new_york_city observed once as a db name (the noisy kind)
        ("c2", 1, "assistant", "Querying new_york_city for records about Lima.", "db_query"),
    ]
    t = make_transcripts(rows)
    m = extract_mentions(t)
    cmap = connected_components(same_as_pairs(t))

    def kinds(iters):
        return {
            r.entity_key: r.kind
            for r in recover_kinds(m, cmap, iterations=iters).collect()
        }

    direct = kinds(1)
    assert direct["new_york_city"] == "db"  # its only direct observation
    refined = kinds(2)
    # component {nyc, new_york_city}: location outvotes db (3+ vs 1)
    assert refined["new_york_city"] == "location"
    assert refined["nyc"] == "location"
    assert kinds(3) == refined  # fixpoint


def test_session_ids_gap_split(spark):
    """Sessions split exactly at inter-turn gaps > SESSION_GAP_S."""
    import datetime as dt

    from joern_spark.operators.assemble import session_ids
    from joern_spark.schemas import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "a", None, t0),
        ("c1", 1, "user", "b", None, t0 + dt.timedelta(seconds=10)),
        ("c1", 2, "user", "c", None, t0 + dt.timedelta(seconds=400)),  # gap!
        ("c1", 3, "user", "d", None, t0 + dt.timedelta(seconds=410)),
        ("c1", 4, "user", "e", None, t0 + dt.timedelta(seconds=800)),  # gap!
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    got = {r.turn_idx: r.session_idx for r in session_ids(df).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}


def test_pagerank_entity_graph(spark, make_transcripts):
    """Probability mass conserved (Σrank ≈ 1 on a graph with no dangling
    nodes) and a hub entity outranks peripheral ones."""
    import math

    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.rank import entity_cooccurrence, pagerank

    rows = []
    # star: Hub co-mentioned with 4 spokes; spokes never co-mention
    for i, city in enumerate(["Lima", "Oslo", "Cairo", "Quito"]):
        rows.append((f"c{i}", 0, "user", "Please check the weather in Hub City.", None))
        rows.append((f"c{i}", 1, "user", f"Please check the weather in {city}.", None))
    t = make_transcripts(rows)
    edges = entity_cooccurrence(extract_mentions(t))
    assert edges.count() == 4  # hub—spoke only
    ranks = {r.node: r.rank for r in pagerank(edges).collect()}
    assert math.isclose(sum(ranks.values()), 1.0, rel_tol=1e-9)
    hub = ranks["hub_city"]
    assert all(hub > v for k, v in ranks.items() if k != "hub_city")


def test_cooccurrence_mega_conversation_cap(make_transcripts):
    """r3 judge finding #3: a mega-conversation mentioning k distinct
    keys must NOT emit k² pairs — only the cap most frequent keys
    (count DESC, key ASC tiebreak) enter the per-conv self-join."""
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.rank import entity_cooccurrence

    rows = []
    freq = {"Lima": 3, "Oslo": 2, "Cairo": 1, "Quito": 1}
    i = 0
    for city, n in freq.items():
        for _ in range(n):
            rows.append(
                ("mega", i, "user", f"Please check the weather in {city}.", None)
            )
            i += 1
    t = make_transcripts(rows)
    got = {
        (r.a, r.b): r.n_convs
        for r in entity_cooccurrence(extract_mentions(t), cap=3).collect()
    }
    # top-3: lima(3), oslo(2), cairo(1, beats quito on key ASC) — quito out
    assert got == {
        ("cairo", "lima"): 1,
        ("cairo", "oslo"): 1,
        ("lima", "oslo"): 1,
    }
    uncapped = entity_cooccurrence(extract_mentions(t)).count()
    assert uncapped == 6  # default cap far above 4 keys: all pairs


def test_tool_cooccurrence(make_transcripts):
    t = make_transcripts(
        [
            ("c1", 0, "assistant", "Calling weather_api for Paris.", "weather_api"),
            ("c1", 1, "assistant", "Calling search_api for Paris.", "search_api"),
            ("c1", 2, "assistant", "Calling weather_api for Rome.", "weather_api"),
            ("c2", 0, "assistant", "Calling weather_api for Lima.", "weather_api"),
        ]
    )
    out = {(r.tool_a, r.tool_b): r.n_convs for r in scan.tool_cooccurrence(t).collect()}
    assert out == {("search_api", "weather_api"): 1}


def test_cdg_diamond():
    """0→1, 0→2, 1→3, 2→3: the branch arms (1, 2) are control-dependent
    on the branch point 0; nothing else is."""
    from joern_spark.operators.cfg import _cdg_group

    pdf = pd.DataFrame(
        {"conv_id": ["c"] * 4, "src_idx": [0, 0, 1, 2], "dst_idx": [1, 2, 3, 3]}
    )
    edges = {(r.src_idx, r.dst_idx) for r in _cdg_group(pdf).itertuples()}
    assert edges == {(0, 1), (0, 2)}


def test_cdg_nested_branch():
    """Nested diamond inside one arm: 0→(1|5); 1→(2|3)→4; 4→6, 5→6.
    Arms of the inner branch depend on 1; 1/4/5 depend on 0."""
    from joern_spark.operators.cfg import _cdg_group

    e = [(0, 1), (0, 5), (1, 2), (1, 3), (2, 4), (3, 4), (4, 6), (5, 6)]
    pdf = pd.DataFrame(
        {"conv_id": ["c"] * len(e), "src_idx": [a for a, _ in e], "dst_idx": [b for _, b in e]}
    )
    edges = {(r.src_idx, r.dst_idx) for r in _cdg_group(pdf).itertuples()}
    assert edges == {(0, 1), (0, 4), (0, 5), (1, 2), (1, 3)}


def test_cdg_linear_empty(make_transcripts):
    from joern_spark.operators.cfg import cdg_edges

    t = make_transcripts([("c1", i, "user", "x", None) for i in range(6)])
    assert cdg_edges(t).count() == 0


def test_postdom_linear(make_transcripts):
    from joern_spark.operators.cfg import post_dominators

    t = make_transcripts([("c1", i, "user", "x", None) for i in range(4)])
    out = {r.turn_idx: r.pdom_idx for r in post_dominators(t).collect()}
    assert out == {0: 1, 1: 2, 2: 3}


def test_cdg_from_edges_dag(spark):
    """The distributed CDG path handles branching edge tables (semi-join
    keeps the branching conversation, prunes the linear one)."""
    from joern_spark.operators.cfg import cdg_from_edges

    rows = [("br", 0, 1), ("br", 0, 2), ("br", 1, 3), ("br", 2, 3)]
    rows += [("lin", i, i + 1) for i in range(4)]
    e = spark.createDataFrame(rows, "conv_id string, src_idx int, dst_idx int")
    out = {(r.conv_id, r.src_idx, r.dst_idx) for r in cdg_from_edges(e).collect()}
    assert out == {("br", 0, 1), ("br", 0, 2)}


def test_idom_mixed_shapes(spark):
    """Shape-split execution: chain conversations take the closed form,
    branching ones the CHK kernel — one call, identical semantics."""
    from joern_spark.operators.cfg import _run_idom

    rows = [("br", 0, 1), ("br", 0, 2), ("br", 1, 3), ("br", 2, 3)]
    rows += [("lin", i, i + 1) for i in range(3)]
    e = spark.createDataFrame(rows, "conv_id string, src_idx int, dst_idx int")
    out = {(r.conv_id, r.turn_idx): r.idom_idx for r in _run_idom(e).collect()}
    assert out == {
        ("br", 1): 0, ("br", 2): 0, ("br", 3): 0,
        ("lin", 1): 0, ("lin", 2): 1, ("lin", 3): 2,
    }


def test_entity_triangles_known_graph(spark):
    """Triangle {a,b,c} + pendant a-d: exact counts and clustering
    coefficients; the hub (a, degree 3) is counted once per triangle no
    matter which endpoint the degree orientation picked."""
    from joern_spark.operators.rank import entity_triangles

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")], "a string, b string"
    )
    got = {
        r.entity_key: (r.degree, r.n_triangles, round(r.clustering, 6))
        for r in entity_triangles(edges).collect()
    }
    assert got == {
        "a": (3, 1, round(1 / 3, 6)),
        "b": (2, 1, 1.0),
        "c": (2, 1, 1.0),
        "d": (1, 0, 0.0),
    }


def test_entity_triangles_two_triangles_shared_edge(spark):
    """Bowtie sharing edge {b,c}: b and c sit in 2 triangles each."""
    from joern_spark.operators.rank import entity_triangles

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")],
        "a string, b string",
    )
    got = {r.entity_key: r.n_triangles for r in entity_triangles(edges).collect()}
    assert got == {"a": 1, "b": 2, "c": 2, "d": 1}


def test_pagerank_local_equals_distributed(spark):
    """The driver fast path and the distributed join loop produce
    bit-identical ranks (the sorted-sequential-sum contract)."""
    import joern_spark.operators.rank as rank_mod
    from joern_spark.operators.rank import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")],
        "a string, b string",
    )
    fast = {r.node: r.rank for r in pagerank(edges).collect()}
    orig = rank_mod.PR_LOCAL_THRESHOLD
    rank_mod.PR_LOCAL_THRESHOLD = 0  # force the distributed loop
    try:
        dist = {r.node: r.rank for r in pagerank(edges).collect()}
    finally:
        rank_mod.PR_LOCAL_THRESHOLD = orig
    assert fast == dist  # exact float equality, not isclose


def test_pagerank_empty_edges(spark):
    """Review regression: an empty co-mention graph yields an empty
    typed result instead of dividing by zero in the fast path."""
    from joern_spark.operators.rank import pagerank

    out = pagerank(spark.createDataFrame([], "a string, b string"))
    assert out.count() == 0 and out.columns == ["node", "rank"]


def test_graph_summary_empty_edges(spark):
    """An empty co-mention graph summarizes as (0, 0, 0, 0.0) — no 0/0
    NaN mean degree and no null max degree — with the column types of a
    non-empty summary."""
    from joern_spark.operators.rank import graph_summary

    out = graph_summary(spark.createDataFrame([], "a string, b string"))
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("n_nodes", "bigint"), ("n_edges", "bigint"),
        ("max_degree", "bigint"), ("mean_degree", "double"),
    ]
    assert [tuple(r) for r in out.collect()] == [(0, 0, 0, 0.0)]
    # a non-empty graph is unchanged: path x–y–z has 3 nodes, 2 edges
    path = spark.createDataFrame([("x", "y"), ("y", "z")], "a string, b string")
    assert [tuple(r) for r in graph_summary(path).collect()] == [
        (3, 2, 2, 2.0 * 2 / 3)
    ]


def test_semantics_file_loads_and_overrides(spark, make_transcripts, tmp_path,
                                            monkeypatch):
    """Loadable semantics file (Semantics.g4 analog): the default table
    comes from conf/semantics.flow; pointing $JOERN_SPARK_SEMANTICS at an
    edited copy changes the canonicalization output AND the generated
    oracle SQL identically."""
    import pytest

    from joern_spark import oracle as O
    from joern_spark.functions import semantics as S

    # the checked-in file IS the default table
    assert S.load_semantics(S.DEFAULT_SEMANTICS_PATH) == S.DEFAULT_SEMANTICS
    assert S.current_semantics() == S.DEFAULT_SEMANTICS
    by_pred = {r.pred: r for r in S.DEFAULT_SEMANTICS}
    assert by_pred["same_as"] == S.PredSemantics(
        "same_as", keep=True, canon_subj=False, canon_obj=False)
    assert by_pred["mentions_location"].canon_obj is True

    # strict parser: malformed / duplicate / empty all raise
    with pytest.raises(ValueError, match="cannot parse"):
        S.parse_semantics('"p" subj->canon')
    with pytest.raises(ValueError, match="duplicate"):
        S.parse_semantics(
            '"p" subj->raw obj->raw\n"p" drop')
    with pytest.raises(ValueError, match="no predicates"):
        S.parse_semantics("# only comments\n")
    assert S.parse_semantics('"p" drop') == [
        S.PredSemantics("p", keep=False, canon_subj=False, canon_obj=False)]

    # env override: mentions_location stops canonicalizing its object,
    # same_as facts are dropped — observed through the real query path
    edited = tmp_path / "custom.flow"
    lines = []
    for r in S.DEFAULT_SEMANTICS:
        if r.pred == "same_as":
            lines.append('"same_as" drop')
        elif r.pred == "mentions_location":
            lines.append('"mentions_location" subj->canon obj->raw')
        else:
            lines.append(
                f'"{r.pred}" subj->{"canon" if r.canon_subj else "raw"} '
                f'obj->{"canon" if r.canon_obj else "raw"}')
    edited.write_text("\n".join(lines) + "\n")
    monkeypatch.setenv(S.SEMANTICS_ENV, str(edited))

    from joern_spark.functions.semantics import apply_semantics, semantics_df
    from joern_spark.operators.canonicalize import (
        connected_components,
        same_as_pairs,
    )
    from joern_spark.operators.extract import extract_triples_raw

    t = make_transcripts(
        [
            ("c1", 0, "user", "Note that NYC is also known as New York City.", None),
            ("c1", 1, "user", "Please check the weather in NYC.", None),
        ]
    )
    raw = extract_triples_raw(t)
    cmap = connected_components(same_as_pairs(t))
    got = {
        (r.subj, r.pred, r.obj)
        for r in apply_semantics(
            raw, cmap, semantics_df(spark, S.current_semantics())
        ).collect()
    }
    assert ("conv:c1", "mentions_location", "nyc") in got
    assert not any(p == "same_as" for _, p, _ in got)
    # the oracle generator reads the same override: same_as leaves the
    # kept-predicates IN list (file order puts it first when present)
    assert "WHERE pred IN ('replaces'," in O.triples_semantics_sql(0.001)
    monkeypatch.delenv(S.SEMANTICS_ENV)
    assert "WHERE pred IN ('same_as'," in O.triples_semantics_sql(0.001)


def test_semantics_argument_index_mappings(spark, make_transcripts, tmp_path,
                                           monkeypatch):
    """FlowMapping(src, dst) rows (Semantics.scala:87-167): a `map`
    clause in the semantics file remaps which raw triple position flows
    into each output end — editing conf/semantics.flow (via the env
    override) inverts a predicate on BOTH the Spark rewrite and the
    generated oracle SQL."""
    import pytest

    from joern_spark import oracle as O
    from joern_spark.functions import semantics as S
    from joern_spark.functions.semantics import apply_semantics, semantics_df
    from joern_spark.operators.canonicalize import (
        connected_components,
        same_as_pairs,
    )
    from joern_spark.operators.extract import extract_triples_raw

    # grammar: parse, default-passthrough, duplicate-dst rejection
    row = S.parse_semantics('"p" subj->raw obj->raw map 2->1 1->2')[0]
    assert row.mappings == ((2, 1), (1, 2))
    assert row.src_for(1) == 2 and row.src_for(2) == 1
    partial = S.parse_semantics('"p" subj->raw obj->raw map 2->1')[0]
    assert partial.src_for(1) == 2 and partial.src_for(2) == 2  # unmapped dst
    assert S.parse_semantics('"p" subj->raw obj->raw')[0].mappings == \
        S.PASSTHROUGH_MAPPINGS
    with pytest.raises(ValueError, match="duplicate map destination"):
        S.parse_semantics('"p" subj->raw obj->raw map 1->1 2->1')

    # invert mentions_location via the file: (conv, pred, city) becomes
    # (city, pred, conv), with canon flags following the remapped ends
    edited = tmp_path / "mapped.flow"
    lines = []
    for r in S.DEFAULT_SEMANTICS:
        if r.pred == "mentions_location":
            lines.append('"mentions_location" subj->canon obj->raw map 2->1 1->2')
        elif not r.keep:
            lines.append(f'"{r.pred}" drop')
        else:
            lines.append(
                f'"{r.pred}" subj->{"canon" if r.canon_subj else "raw"} '
                f'obj->{"canon" if r.canon_obj else "raw"}')
    edited.write_text("\n".join(lines) + "\n")
    monkeypatch.setenv(S.SEMANTICS_ENV, str(edited))

    t = make_transcripts(
        [
            ("c1", 0, "user", "Note that NYC is also known as New York City.", None),
            ("c1", 1, "user", "Please check the weather in NYC.", None),
        ]
    )
    raw = extract_triples_raw(t)
    cmap = connected_components(same_as_pairs(t))
    got = {
        (r.subj, r.pred, r.obj)
        for r in apply_semantics(
            raw, cmap, semantics_df(spark, S.current_semantics())
        ).collect()
    }
    # subj is now the (canonicalized) city, obj the raw conversation node
    assert ("new_york_city", "mentions_location", "conv:c1") in got
    assert not any(
        p == "mentions_location" and s.startswith("conv:") for s, p, _ in got
    )
    # the oracle generator renders the identical swap
    sql = O.triples_semantics_sql(0.001)
    assert "WHEN pred IN ('mentions_location') THEN obj ELSE subj END AS subj" in sql
    assert "WHEN pred IN ('mentions_location') THEN subj ELSE obj END AS obj" in sql
    monkeypatch.delenv(S.SEMANTICS_ENV)
    # default table: no predicate remaps, both CASEs render the empty list
    sql = O.triples_semantics_sql(0.001)
    assert "WHEN pred IN ('') THEN obj ELSE subj END AS subj" in sql


def test_entity_communities_known_graph(spark):
    """Two strong components {a,b,c} and {d,e} plus a weak (1-conversation)
    bridge c-d that must NOT fuse them; community id = min member."""
    from joern_spark.operators.rank import entity_communities

    edges = spark.createDataFrame(
        [
            ("a", "b", 3), ("b", "c", 2), ("d", "e", 5),
            ("c", "d", 1),  # weak bridge, below COMMUNITY_MIN_CONVS
        ],
        "a string, b string, n_convs long",
    )
    got = {
        r.entity_key: (r.community, r.size)
        for r in entity_communities(edges).collect()
    }
    assert got == {
        "a": ("a", 3), "b": ("a", 3), "c": ("a", 3),
        "d": ("d", 2), "e": ("d", 2),
    }


def test_entity_kcore_peels_pendants(spark):
    """Triangle {a,b,c} + pendant chain d-e hanging off a: at k=2 the
    chain peels (e first, then d) and the triangle survives with core
    degree 2; at k=3 everything peels to an empty core."""
    from joern_spark.operators.rank import entity_kcore

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"), ("d", "e")],
        "a string, b string",
    )
    got = {
        r.entity_key: r.core_degree
        for r in entity_kcore(edges, k=2, rounds=4).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 2}
    assert entity_kcore(edges, k=3, rounds=4).count() == 0


def test_entity_kcore_local_equals_distributed(spark, monkeypatch):
    """Driver fast path and the distributed peel must agree exactly."""
    from joern_spark.operators import rank as R

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"), ("d", "e"),
         ("c", "d"), ("b", "d")],
        "a string, b string",
    )
    fast = {(r.entity_key, r.core_degree)
            for r in R.entity_kcore(edges, k=2, rounds=4).collect()}
    monkeypatch.setattr(R, "PR_LOCAL_THRESHOLD", 0)
    slow = {(r.entity_key, r.core_degree)
            for r in R.entity_kcore(edges, k=2, rounds=4).collect()}
    assert fast == slow and fast


def test_entity_closeness_matches_python_bfs(spark):
    """Landmark closeness equals a sequential Python BFS reference on a
    two-component graph — same hash-ordered landmark choice, same
    1/dist contributions, unreached nodes absent on both sides."""
    import collections

    import pytest

    from joern_spark.functions.hashing import md5_long_py
    from joern_spark.operators.rank import entity_closeness

    pairs = [("e1", "e2"), ("e2", "e3"), ("e3", "e4"), ("e5", "e6"), ("e1", "e3")]
    df = spark.createDataFrame(
        [(a, b, 1) for a, b in pairs], "a string, b string, n_convs long"
    )
    got = {
        r.entity_key: (r.n_reached, r.closeness)
        for r in entity_closeness(df, n_landmarks=3, depth=4).collect()
    }
    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    lms = sorted(adj, key=lambda s: (md5_long_py(s), s))[:3]
    contrib = collections.defaultdict(list)
    for lm in lms:
        dist, frontier = {lm: 0}, [lm]
        for d in range(1, 5):
            nf = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = d
                        nf.append(v)
            frontier = nf
        for v, dd in dist.items():
            if dd > 0:
                contrib[v].append(1.0 / dd)
    want = {v: (len(ws), sum(sorted(ws))) for v, ws in contrib.items()}
    assert got.keys() == want.keys()
    for v in want:
        assert got[v][0] == want[v][0]
        assert got[v][1] == pytest.approx(want[v][1], abs=1e-12)


def test_entity_common_neighbors_strong_graph(spark):
    """Strong-edge cut (exact 0.9 support quantile) keeps the two
    heavy edges; the weak edge drops; the one missing strong pair is
    suggested in both directions with its shared-neighbor count."""
    from joern_spark.operators.rank import entity_common_neighbors

    edges = spark.createDataFrame(
        [("x", "m", 10), ("m", "y", 10), ("x", "z", 1)],
        "a string, b string, n_convs long",
    )
    got = {
        (r.entity_key, r.suggestion, r.n_common, r.rank)
        for r in entity_common_neighbors(edges).collect()
    }
    assert got == {("x", "y", 1, 1), ("y", "x", 1, 1)}


def test_merge_comention_edges_equals_oneshot(spark):
    """Incremental co-mention merge on a random conversation split is
    row-identical to the one-shot build over the whole corpus."""
    import random

    from joern_spark.operators.rank import (
        entity_cooccurrence,
        merge_comention_edges,
    )

    rng = random.Random(7)
    rows = []
    for c in range(12):
        for _ in range(rng.randint(2, 10)):
            rows.append((f"c{c}", f"e{rng.randint(0, 6)}"))
    df = spark.createDataFrame(rows, "conv_id string, surface string")
    base_convs = [f"c{c}" for c in range(7)]
    base = entity_cooccurrence(df.where(F.col("conv_id").isin(base_convs)))
    delta_m = df.where(~F.col("conv_id").isin(base_convs))
    merged = {
        (r.a, r.b, r.n_convs)
        for r in merge_comention_edges(base, delta_m).collect()
    }
    oneshot = {
        (r.a, r.b, r.n_convs) for r in entity_cooccurrence(df).collect()
    }
    assert merged == oneshot and merged


def test_round4_ops_degenerate_inputs(spark):
    """Empty/degenerate inputs flow through the new graph ops without
    errors and with the documented results: empty graphs yield empty
    outputs with the right schemas, an empty delta merge is the
    identity, and a no-match BM25 query set yields nothing."""
    from joern_spark.operators.rank import (
        entity_closeness,
        entity_common_neighbors,
        entity_cooccurrence,
        merge_comention_edges,
    )
    from joern_spark.operators.slice import ddg_backward_slice
    from joern_spark.operators.textstats import bm25_topk

    empty_edges = spark.createDataFrame(
        [], "a string, b string, n_convs long"
    )
    out = entity_closeness(empty_edges)
    assert out.count() == 0
    assert [f.name for f in out.schema] == [
        "entity_key", "n_reached", "closeness",
    ]
    assert entity_common_neighbors(empty_edges).count() == 0

    base = entity_cooccurrence(
        spark.createDataFrame(
            [("c1", "x"), ("c1", "y")], "conv_id string, surface string"
        )
    )
    empty_m = spark.createDataFrame([], "conv_id string, surface string")
    merged = {
        (r.a, r.b, r.n_convs)
        for r in merge_comention_edges(base, empty_m).collect()
    }
    assert merged == {(r.a, r.b, r.n_convs) for r in base.collect()}

    reaching = spark.createDataFrame(
        [], "conv_id string, turn_idx int, var string, def_idx int"
    )
    sinks = spark.createDataFrame([("c1", 3)], "conv_id string, turn_idx int")
    assert ddg_backward_slice(reaching, sinks).count() == 0

    docs = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    q = spark.createDataFrame(
        [("q0", "nomatch")], "query_id string, qtext string"
    )
    assert bm25_topk(docs, q).count() == 0


def test_entity_jaccard_hand_computed(spark):
    """Path graph x–m–y (heavy) + weak edge: the only non-adjacent
    strong pair (x, y) shares neighbor {m}; N(x) = {m}, N(y) = {m},
    so jaccard = 1 / (1 + 1 - 1) = 1.0, suggested both ways."""
    from joern_spark.operators.rank import entity_jaccard

    edges = spark.createDataFrame(
        [("x", "m", 10), ("m", "y", 10), ("x", "z", 1)],
        "a string, b string, n_convs long",
    )
    got = {
        (r.entity_key, r.suggestion, r.n_common, r.jaccard, r.rank)
        for r in entity_jaccard(edges).collect()
    }
    assert got == {("x", "y", 1, 1.0, 1), ("y", "x", 1, 1.0, 1)}

    assert (
        entity_jaccard(
            spark.createDataFrame([], "a string, b string, n_convs long")
        ).count()
        == 0
    )


def test_entity_jaccard_union_normalization(spark):
    """Square a-b-c-d-a (all edges equal weight → all strong): each
    diagonal pair shares BOTH its middles, deg = 2 everywhere, so
    jaccard = 2 / (2 + 2 - 2) = 1.0 and n_common = 2; adjacent pairs
    are never suggested."""
    from joern_spark.operators.rank import entity_jaccard

    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 5), ("c", "d", 5), ("a", "d", 5)],
        "a string, b string, n_convs long",
    )
    rows = entity_jaccard(edges).collect()
    got = {(r.entity_key, r.suggestion): (r.n_common, r.jaccard) for r in rows}
    assert got == {
        ("a", "c"): (2, 1.0), ("c", "a"): (2, 1.0),
        ("b", "d"): (2, 1.0), ("d", "b"): (2, 1.0),
    }


def test_role_transition_matrix(spark):
    """Handcrafted two-conversation corpus: transitions count lead()
    pairs per conversation; the last turn of each conversation emits
    nothing."""
    from joern_spark.operators.assemble import role_transition_matrix

    t = spark.createDataFrame(
        [
            ("c1", 0, "user"), ("c1", 1, "assistant"), ("c1", 2, "user"),
            ("c2", 0, "user"), ("c2", 1, "assistant"),
            ("c2", 2, "assistant"), ("c2", 3, "user"),
        ],
        "conv_id string, turn_idx int, role string",
    )
    got = {
        (r.src_role, r.dst_role): r.n
        for r in role_transition_matrix(t).collect()
    }
    assert got == {
        ("user", "assistant"): 2,
        ("assistant", "user"): 2,
        ("assistant", "assistant"): 1,
    }
    assert (
        role_transition_matrix(
            spark.createDataFrame([], "conv_id string, turn_idx int, role string")
        ).count()
        == 0
    )


def test_entity_wl_colors_separates_roles(spark):
    """Path a–b–c (all strong): after one round the two leaves share a
    color distinct from the middle; after two rounds they still do
    (leaf-of-middle vs middle-of-two-leaves trees differ). Hand-replay
    of the md5 refinement confirms the exact strings."""
    import hashlib

    from joern_spark.operators.rank import entity_wl_colors

    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 5)], "a string, b string, n_convs long"
    )
    got = {
        r.node: (r.wl_color, r.n_class)
        for r in entity_wl_colors(edges, rounds=2).collect()
    }

    def h(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    c0 = h("n")
    leaf1, mid1 = h(f"{c0}|{c0}"), h(f"{c0}|{c0},{c0}")
    leaf2 = h(f"{leaf1}|{mid1}")
    mid2 = h(f"{mid1}|{','.join(sorted([leaf1, leaf1]))}")
    assert got == {
        "a": (leaf2, 2),
        "c": (leaf2, 2),
        "b": (mid2, 1),
    }


def test_entity_wl_colors_regular_graph_uniform(spark):
    """On a 4-cycle (2-regular) every node's neighborhood tree is
    isomorphic — one color class of size 4 at any round count."""
    from joern_spark.operators.rank import entity_wl_colors

    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 5), ("c", "d", 5), ("a", "d", 5)],
        "a string, b string, n_convs long",
    )
    out = entity_wl_colors(edges, rounds=3).collect()
    assert len(out) == 4
    assert len({r.wl_color for r in out}) == 1
    assert all(r.n_class == 4 for r in out)


def test_tool_call_bigrams(spark):
    """Handcrafted corpus: only assistant turns WITH a tool join the
    subsequence; intervening user/tool-role turns are skipped, pairs are
    adjacent within the subsequence, support counts conversations."""
    from joern_spark.operators.assemble import tool_call_bigrams

    t = spark.createDataFrame(
        [
            # c1: search → (user turn skipped) → db → search
            ("c1", 0, "assistant", "search_api"),
            ("c1", 1, "user", None),
            ("c1", 2, "assistant", "db_query"),
            ("c1", 3, "tool", "db_query"),  # tool ROLE row: not a call
            ("c1", 4, "assistant", "search_api"),
            # c2: search → db
            ("c2", 0, "assistant", "search_api"),
            ("c2", 1, "assistant", "db_query"),
            # c3: a lone call emits nothing
            ("c3", 0, "assistant", "email_api"),
        ],
        "conv_id string, turn_idx int, role string, tool string",
    )
    got = {
        (r.tool_a, r.tool_b): (r.n, r.n_convs)
        for r in tool_call_bigrams(t).collect()
    }
    assert got == {
        ("search_api", "db_query"): (2, 2),
        ("db_query", "search_api"): (1, 1),
    }


def test_key_skew_profile(spark):
    """6 rows over 3 keys: exact counts, share = n/6, skew = n/(6/3),
    rank by (n DESC, key ASC); k=2 keeps the two heaviest."""
    from joern_spark.plans.profile import key_skew_profile

    df = spark.createDataFrame(
        [("x",), ("x",), ("x",), ("y",), ("y",), ("z",)], "k string"
    )
    got = {
        r.key: (r.n, r.share, r.skew, r.n_keys, r.rank)
        for r in key_skew_profile(df, "k", k=2).collect()
    }
    assert got == {
        "x": (3, 3 / 6, 3 / 2.0, 3, 1),
        "y": (2, 2 / 6, 2 / 2.0, 3, 2),
    }


def test_entity_pmi_hand_computed(spark):
    """3 conversations: (x,y) together in 2 of 3, x in 3, y in 2 →
    pmi = ln(2·3/(3·2)) = 0; (x,z) in 1, z in 1 → pmi = ln(1·3/(3·1))
    = 0 as well, but npmi differs via the −ln(n_ab/N) normalizer."""
    import math

    from joern_spark.operators.rank import entity_pmi

    m = spark.createDataFrame(
        [
            ("c1", 0, "x"), ("c1", 1, "y"),
            ("c2", 0, "x"), ("c2", 1, "y"),
            ("c3", 0, "x"), ("c3", 1, "z"),
        ],
        "conv_id string, turn_idx int, surface string",
    )
    got = {
        (r.a, r.b): (r.n_ab, r.pmi, r.npmi)
        for r in entity_pmi(m).collect()
    }
    assert got[("x", "y")][0] == 2
    assert got[("x", "y")][1] == 0.0  # ln(2·3/(3·2)) is exactly ln(1)
    assert got[("x", "y")][2] == 0.0 / -math.log(2 / 3)
    assert got[("x", "z")][0] == 1
    assert got[("x", "z")][1] == 0.0


def test_entity_pmi_perfect_cooccurrence_npmi_one(spark):
    """A pair present in EVERY conversation hits the n_ab == N branch:
    npmi = 1 by convention (no 0-division reliance)."""
    from joern_spark.operators.rank import entity_pmi

    m = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 1, "y"), ("c2", 0, "x"), ("c2", 1, "y")],
        "conv_id string, turn_idx int, surface string",
    )
    got = {(r.a, r.b): r.npmi for r in entity_pmi(m).collect()}
    assert got[("x", "y")] == 1.0


def test_entity_timeline(spark):
    """Two entities across two conversations: first/last ts and counts
    from the turn-key join; a mention at a turn with no transcript row
    cannot occur by construction (mentions derive from turns)."""
    import datetime as dt

    from joern_spark.operators.rank import entity_timeline

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    t = spark.createDataFrame(
        [
            ("c1", 0, t0), ("c1", 1, t0 + dt.timedelta(hours=1)),
            ("c2", 0, t0 + dt.timedelta(days=1)),
        ],
        "conv_id string, turn_idx int, ts timestamp",
    )
    m = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 1, "x"), ("c2", 0, "x"), ("c1", 1, "y")],
        "conv_id string, turn_idx int, surface string",
    )
    got = {
        r.entity_key: (r.first_ts, r.last_ts, r.n_mentions, r.n_convs)
        for r in entity_timeline(t, m).collect()
    }
    assert got["x"] == (t0, t0 + dt.timedelta(days=1), 3, 2)
    assert got["y"] == (
        t0 + dt.timedelta(hours=1),
        t0 + dt.timedelta(hours=1),
        1,
        1,
    )


def test_entity_ppr_local_equals_distributed(spark):
    """PPR's driver fast path and distributed join loop are
    bit-identical (the pagerank sorted-fold contract, extended with the
    per-node restart term)."""
    import joern_spark.operators.rank as rank_mod
    from joern_spark.operators.rank import entity_ppr

    edges = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("c", "d", 1), ("d", "e", 1)],
        "a string, b string, n_convs long",
    )
    fast = {r.node: r.rank for r in entity_ppr(edges).collect()}
    orig = rank_mod.PR_LOCAL_THRESHOLD
    rank_mod.PR_LOCAL_THRESHOLD = 0
    try:
        dist = {r.node: r.rank for r in entity_ppr(edges).collect()}
    finally:
        rank_mod.PR_LOCAL_THRESHOLD = orig
    assert fast == dist  # exact float equality


def test_entity_ppr_mass_localizes_near_seeds(spark):
    """On a long path graph with n_seeds=1, rank decays with distance
    from the seed: the seed's neighbor outranks nodes ≥3 hops away."""
    import hashlib

    from joern_spark.operators.rank import entity_ppr

    nodes = [f"n{i}" for i in range(8)]
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in zip(nodes, nodes[1:])],
        "a string, b string, n_convs long",
    )
    out = {r.node: r.rank for r in entity_ppr(edges, n_seeds=1).collect()}
    seed = min(
        nodes,
        key=lambda n: (int(hashlib.md5(n.encode()).hexdigest()[:15], 16), n),
    )
    i = nodes.index(seed)
    near = out[nodes[i - 1] if i > 0 else nodes[i + 1]]
    far = [out[n] for n in nodes if abs(nodes.index(n) - i) >= 3]
    assert out[seed] == max(out.values())
    assert far and all(near > f for f in far)


def test_entity_bursts(spark):
    """Entity x: 16 mentions in one hour, 1 in each of 4 other hours →
    mean = 20/5 = 4.0, the burst hour fires exactly at the boundary
    (16 ≥ 4·4.0 and ≥ 8); entity y spread evenly never fires; a spike
    below the absolute floor never fires regardless of ratio."""
    import datetime as dt

    from joern_spark.operators.rank import entity_bursts

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows_t, rows_m, idx = [], [], 0

    def add(entity, hour, count):
        nonlocal idx
        for _ in range(count):
            conv = f"c{idx}"
            rows_t.append((conv, 0, t0 + dt.timedelta(hours=hour)))
            rows_m.append((conv, 0, entity))
            idx += 1

    add("x", 0, 16)
    for h in range(1, 5):
        add("x", h, 1)
    for h in range(6):
        add("y", h, 2)
    add("z", 0, 6)  # ratio 6/1.5=4 BUT below the absolute floor of 8
    for h in range(1, 4):
        add("z", h, 1)
    t = spark.createDataFrame(
        rows_t, "conv_id string, turn_idx int, ts timestamp"
    )
    m = spark.createDataFrame(
        rows_m, "conv_id string, turn_idx int, surface string"
    )
    got = {
        (r.entity_key, r.hour, r.n, r.mean_n)
        for r in entity_bursts(t, m).collect()
    }
    assert got == {("x", t0, 16, 20 / 5)}


def test_hits_separates_hub_from_authority(spark):
    """Star digraph: s feeds a, b, c (s is the pure hub; a/b/c pure
    authorities) — hub mass concentrates on s, authority splits over
    a/b/c; both vectors L1-normalize to 1."""
    from joern_spark.operators.rank import hits

    e = spark.createDataFrame(
        [("s", "a", 2), ("s", "b", 1), ("s", "c", 1)],
        "src string, dst string, w long",
    )
    got = {r.node: (r.hub, r.authority) for r in hits(e).collect()}
    assert got["s"][0] == max(h for h, _ in got.values())
    assert got["s"][1] == 0.0  # nothing points AT s
    assert all(got[x][0] == 0.0 for x in "abc")  # leaves point nowhere
    assert got["a"][1] > got["b"][1] == got["c"][1] > 0
    assert abs(sum(h for h, _ in got.values()) - 1.0) < 1e-12
    assert abs(sum(a for _, a in got.values()) - 1.0) < 1e-12
    assert hits(
        spark.createDataFrame([], "src string, dst string, w long")
    ).count() == 0


def test_conversation_topics(spark):
    """Two communities {x, y} and {z}: c1 mentions x twice + z once →
    topic = community(x); tie in c2 breaks to the smaller community id;
    a conversation with no community-mapped mention emits no row."""
    from joern_spark.operators.rank import conversation_topics

    m = spark.createDataFrame(
        [
            ("c1", 0, "x"), ("c1", 1, "x"), ("c1", 2, "z"),
            ("c2", 0, "y"), ("c2", 1, "z"),
            ("c3", 0, "unmapped"),
        ],
        "conv_id string, turn_idx int, surface string",
    )
    communities = spark.createDataFrame(
        [("x", "cx", 2), ("y", "cx", 2), ("z", "cz", 1)],
        "entity_key string, community string, size long",
    )
    got = {
        r.conv_id: (r.topic, r.n_topic_mentions)
        for r in conversation_topics(m, communities).collect()
    }
    assert got == {"c1": ("cx", 2), "c2": ("cx", 1)}


def test_community_density_and_edge_churn(spark):
    """Density: a strong triangle {a,b,c} plus pendant-pair {d,e}:
    triangle community density = 2·3/(3·2) = 1.0, pair = 2·1/(2·1) =
    1.0; add a strong chain f–g–h (2 edges, 3 nodes): 2·2/(3·2) = 2/3.
    Churn: pair first-seen day = earliest co-mentioning conversation
    day."""
    import datetime as dt

    from joern_spark.operators.rank import (
        community_density,
        comention_edge_churn,
        entity_communities,
    )

    edges = spark.createDataFrame(
        [("a", "b", 5), ("a", "c", 5), ("b", "c", 5), ("d", "e", 5),
         ("f", "g", 5), ("g", "h", 5)],
        "a string, b string, n_convs long",
    )
    comm = entity_communities(edges)
    got = {
        r.community: (r.n_nodes, r.n_edges, r.density)
        for r in community_density(edges, comm).collect()
    }
    assert got == {
        "a": (3, 3, 1.0),
        "d": (2, 1, 1.0),
        "f": (3, 2, 2.0 * 2.0 / (3.0 * 2.0)),
    }

    t0 = dt.datetime(2026, 3, 1)
    t = spark.createDataFrame(
        [("c1", 0, t0), ("c2", 0, t0 + dt.timedelta(days=2))],
        "conv_id string, turn_idx int, ts timestamp",
    )
    m = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 0, "y"),          # (x,y) born day 0
         ("c2", 0, "x"), ("c2", 0, "y"), ("c2", 0, "z")],  # (x,z),(y,z) day 2
        "conv_id string, turn_idx int, surface string",
    )
    churn = {r.day: r.n_new_pairs for r in comention_edge_churn(t, m).collect()}
    assert churn == {t0: 1, t0 + dt.timedelta(days=2): 2}
