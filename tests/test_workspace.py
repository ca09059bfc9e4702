"""Workspace/project lifecycle tests (WorkspaceManager.scala:29-126,
Console.scala:177-232,306,394-396 analog): two corpora side by side,
active-project view re-pointing, close/delete, manifest round-trip, and
the held graph (served layers persisted on a project's first query)."""

import json
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark import StorageLevel

from joern_spark.workspace import HELD_LAYERS, KEEP_WALKS, Project, Workspace

SF_A = 0.0006  # ≈ 8k turns
SF_B = 0.0003  # ≈ 4k turns
FLOW_SRC = r"^Querying ([a-z_]+) for records about"
FLOW_DST = r"^It is (-?[0-9]+)C and"


@pytest.fixture
def new_workspace(spark, tmp_path):
    """Workspace factory whose projects are all released at teardown:
    Spark substitutes a held plan into any identical plan in the
    session, so a layer one test leaves held would show up as held in
    the next test's graph over the same corpus."""
    made = []

    def _new(name: str) -> Workspace:
        ws = Workspace(spark, tmp_path / name)
        made.append(ws)
        return ws

    yield _new
    for ws in made:
        for p in ws.projects:
            p.release()


def test_two_corpora_side_by_side(spark, new_workspace):
    ws = new_workspace("workspace.json")
    ws.import_code(SF_A, "alpha")
    n_alpha = spark.table("tpg_turns").count()
    ws.import_code(SF_B, "beta")
    n_beta = spark.table("tpg_turns").count()
    assert n_alpha != n_beta and n_alpha > 0 and n_beta > 0

    # both projects queryable simultaneously under their own prefixes
    assert spark.table("alpha_turns").count() == n_alpha
    assert spark.table("beta_turns").count() == n_beta
    # the active `tpg_*` alias points at beta (last imported)
    assert ws.project().name == "beta"
    assert spark.table("tpg_conversations").count() == spark.table(
        "beta_conversations").count()

    # console starters run against the active project
    assert ws.sql("conversations").count() == spark.table(
        "beta_conversations").count()

    # switching re-points tpg_* like the reference re-binds `cpg`
    ws.open("alpha")
    assert spark.table("tpg_turns").count() == n_alpha
    assert ws.cpg.turns.count() == n_alpha

    # cross-project SQL join over both prefixes works
    both = spark.sql(
        "SELECT (SELECT count(*) FROM alpha_turns) AS a, "
        "(SELECT count(*) FROM beta_turns) AS b").collect()[0]
    assert (both.a, both.b) == (n_alpha, n_beta)


def test_close_delete_and_manifest_roundtrip(spark, tmp_path, new_workspace):
    path = tmp_path / "workspace.json"
    ws = new_workspace("workspace.json")
    ws.import_code(SF_A, "alpha")
    ws.import_code(SF_B, "beta")

    # close drops the cached graph + views and clears active
    ws.close()
    assert not ws._projects["beta"].is_open
    assert "beta_turns" not in [t.name for t in spark.catalog.listTables()]
    with pytest.raises(ValueError, match="no active"):
        ws.sql("conversations")

    # the registry survives in the manifest (project.json analog)
    assert set(json.loads(path.read_text())) == {"alpha", "beta"}
    ws2 = new_workspace("workspace.json")
    assert {p.name for p in ws2.projects} == {"alpha", "beta"}
    assert not ws2.project("beta").is_open  # lazy — nothing built yet
    ws2.open("beta")
    assert spark.table("tpg_turns").count() == ws2.cpg.turns.count()

    # delete removes the entry and persists the removal
    ws2.delete("alpha")
    assert set(json.loads(path.read_text())) == {"beta"}
    with pytest.raises(KeyError):
        ws2.project("alpha")

    # invalid project names are rejected (they become view prefixes)
    with pytest.raises(ValueError, match="view-prefix"):
        ws2.import_code(SF_A, "bad name!")


def test_torn_manifest_write_keeps_previous(spark, tmp_path, monkeypatch):
    """A manifest write that dies part-way leaves the previous
    workspace.json byte-identical and loadable."""
    from pathlib import Path

    path = tmp_path / "workspace.json"
    path.write_text(json.dumps({"alpha": SF_A, "beta": SF_B, "_flow_cache": {}}))
    before = path.read_bytes()
    ws = Workspace(spark, path)

    def torn_write(self, data, *args, **kwargs):
        with open(self, "w") as f:
            f.write(data[: len(data) // 2])
        raise OSError("disk full")

    monkeypatch.setattr(Path, "write_text", torn_write)
    with pytest.raises(OSError, match="disk full"):
        ws.delete("alpha")
    monkeypatch.undo()
    assert path.read_bytes() == before
    assert {p.name for p in Workspace(spark, path).projects} == {"alpha", "beta"}
    assert [p.name for p in tmp_path.iterdir()] == ["workspace.json"]


def test_http_query_server(spark, new_workspace):
    """BridgeBase HTTP-server analog (BridgeBase.scala:403-418): boot the
    query server over a workspace and drive it with real HTTP requests —
    starters listing, two queries (a named starter with params and raw
    SQL), project switching, and error surfaces."""
    import json as _json
    import urllib.request

    from joern_spark.server import QueryServer

    ws = new_workspace("ws.json")
    ws.import_code(SF_B, "srv")

    def get(path):
        try:
            with urllib.request.urlopen(base + path) as r:
                return r.status, _json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, _json.loads(e.read())

    def post(path, obj):
        req = urllib.request.Request(
            base + path, data=_json.dumps(obj).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, _json.loads(e.read())

    srv = QueryServer(ws).start()
    try:
        base = f"http://{srv.host}:{srv.port}"
        # discovery surfaces
        status, starters = get("/starters")
        assert status == 200 and "conversations" in starters
        status, projects = get("/projects")
        assert status == 200 and projects["active"] == "srv"
        assert not ws.project("srv").is_held

        # query 1: raw SQL over the registered views — the first query
        # holds the active project, like /query does
        status, out = post(
            "/sql",
            {"sql": "SELECT count(*) AS n FROM tpg_turns"},
        )
        assert status == 200
        n_http = out["rows"][0][0]
        assert n_http == spark.table("tpg_turns").count() > 0
        assert ws.project("srv").is_held

        # query 2: a named starter
        status, out = post("/query", {"starter": "conversations", "limit": 5})
        assert status == 200 and out["n"] == 5
        assert "conv_id" in out["columns"]

        # parameterized starter round-trip
        status, out = post(
            "/query",
            {"starter": "mentions_of_kind", "params": {"kind": "location"}},
        )
        assert status == 200 and out["n"] > 0

        # error surfaces: unknown starter → 400, unknown path → 404
        status, out = post("/query", {"starter": "nope"})
        assert status == 400 and "unknown starter" in out["error"]
        status, out = get("/nope")
        assert status == 404
        # a negative limit is the client's error, not a Spark failure
        status, out = post("/query", {"starter": "conversations", "limit": -1})
        assert status == 400 and "limit" in out["error"]

        # two concurrent first /flows fill the workspace walk cache once:
        # both succeed with the same rows, one directory, one manifest entry
        body = {"src_pattern": FLOW_SRC, "dst_pattern": FLOW_DST,
                "max_depth": 3, "limit": 10**7}
        with ThreadPoolExecutor(2) as pool:
            (s1, out1), (s2, out2) = pool.map(
                lambda _: post("/flows", body), range(2))
        assert s1 == s2 == 200 and out1["n"] > 0
        assert Counter(map(tuple, out1["rows"])) == Counter(
            map(tuple, out2["rows"]))
        assert len(json.loads(ws.path.read_text())["_flow_cache"]) == 1
        assert len(list((ws.path.parent / "ws_flowcache").iterdir())) == 1

        # joern-flow analog: pattern-selected sources/sinks over HTTP —
        # db-query turns flowing to summary turns, evidence paths back
        status, out = post(
            "/flows",
            {
                "src_pattern": FLOW_SRC,
                "dst_pattern": FLOW_DST,
                "max_depth": 3,
                "limit": 10,
            },
        )
        assert status == 200 and out["n"] > 0
        assert out["columns"] == [
            "src", "dst", "depth", "crossings", "path", "labels"
        ]
        # every returned path starts at a source turn and ends at a sink
        i_src = out["columns"].index("src")
        i_path = out["columns"].index("path")
        for row in out["rows"]:
            assert row[i_path].split("->")[0] == row[i_src]

        # the routed /flows answers exactly what console.flows walks: from
        # the cache at depth 3 and at the default budgets (depth 4), and
        # through the fallback for sources outside the asking turns
        from joern_spark import console

        ask_p = r"^Please check the weather in"
        for src_p, depth in ((FLOW_SRC, 3), (FLOW_SRC, None), (ask_p, 3)):
            req = {"src_pattern": src_p, "dst_pattern": FLOW_DST,
                   "limit": 10**7}
            kw = {}
            if depth is not None:
                req["max_depth"] = kw["max_depth"] = depth
            status, out = post("/flows", req)
            want = console.flows(ws.cpg, src_p, FLOW_DST, **kw).collect()
            assert status == 200 and out["n"] == len(want) > 0
            assert Counter(map(tuple, out["rows"])) == Counter(map(tuple, want))
        assert len(json.loads(ws.path.read_text())["_flow_cache"]) == 2
        # missing pattern → 400
        status, out = post("/flows", {"src_pattern": "^x"})
        assert status == 400

        # Count-Min hub-entity probe: estimates are positive upper
        # bounds, k bounds the row count, ordered by estimate desc
        status, out = post("/heavy_hitters", {"k": 5})
        assert status == 200 and 0 < out["n"] <= 5
        assert out["columns"] == ["item", "est"]
        ests = [row[1] for row in out["rows"]]
        assert ests == sorted(ests, reverse=True) and min(ests) >= 1

        # histogram-sketch turn-length quantiles: one row per
        # (role, q), estimates non-decreasing in q within a role
        status, out = post("/quantiles", {"qs": [0.5, 0.9]})
        assert status == 200 and out["n"] > 0
        assert out["columns"] == ["role", "q", "est"]
        by_role: dict = {}
        for role, q, est in out["rows"]:
            assert est >= 0
            by_role.setdefault(role, []).append((q, est))
        for pairs in by_role.values():
            assert [q for q, _ in pairs] == [0.5, 0.9]
            assert pairs[0][1] <= pairs[1][1]

        # boilerplate probe: every returned span repeats in ≥ min_df
        # distinct turns, ordered by df desc
        status, out = post("/boilerplate", {"n": 2, "min_df": 2, "k": 5})
        assert status == 200
        assert out["columns"] == ["shingle", "df", "example_doc"]
        dfs = [row[1] for row in out["rows"]]
        assert all(d >= 2 for d in dfs)
        assert dfs == sorted(dfs, reverse=True)

        # exact key-skew profile of the triple objects: shares in (0, 1]
        # sum ≤ 1, rank is total-ordered, k bounds rows
        status, out = post("/skew", {"k": 5})
        assert status == 200 and 0 < out["n"] <= 5
        assert out["columns"] == [
            "key", "n", "share", "skew", "n_keys", "rank"
        ]
        shares = [row[2] for row in out["rows"]]
        ranks = [row[5] for row in out["rows"]]
        assert sum(shares) <= 1.0 + 1e-9 and all(0 < s <= 1 for s in shares)
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

        # tool-call bigram probe: support never exceeds the total count
        status, out = post("/tool_seqs", {})
        assert status == 200
        assert out["columns"] == ["tool_a", "tool_b", "n", "n_convs"]
        for _, _, n, n_convs in out["rows"]:
            assert 1 <= n_convs <= n

        # NPMI association probe: npmi ∈ [−1, 1], descending order
        status, out = post("/pmi", {"k": 5})
        assert status == 200 and 0 < out["n"] <= 5
        assert out["columns"] == ["a", "b", "n_ab", "pmi", "npmi"]
        npmis = [row[4] for row in out["rows"]]
        assert npmis == sorted(npmis, reverse=True)
        assert all(-1.0 - 1e-9 <= v <= 1.0 + 1e-9 for v in npmis)

        # entity-timeline probe: first_ts ≤ last_ts, counts ≥ 1
        status, out = post("/timeline", {"limit": 10})
        assert status == 200 and out["n"] > 0
        assert out["columns"] == [
            "entity_key", "first_ts", "last_ts", "n_mentions", "n_convs"
        ]
        for _, first_ts, last_ts, n_m, n_c in out["rows"]:
            assert first_ts <= last_ts and n_m >= n_c >= 1
    finally:
        srv.shutdown()


def test_flow_walk_cache_across_sessions(spark, tmp_path, new_workspace):
    """Flow-path result cache (Engine's held-task reuse analog, made
    durable): the first cached_walk computes and persists the keep-all
    walk under the workspace; a SECOND workspace over the same manifest
    gets a cache HIT and returns identical rows without re-walking; a
    changed corpus flips the fingerprint and misses; ws.flows derives
    pattern flows from the cache and matches the fresh-walk console
    result exactly."""
    from joern_spark.console import flows as console_flows

    manifest = tmp_path / "ws.json"
    ws1 = new_workspace("ws.json")
    ws1.import_code(SF_B, "cachep")
    walk1, hit1 = ws1.cached_walk(max_depth=3, max_crossings=1)
    assert hit1 is False
    n1 = walk1.count()
    assert n1 > 0
    # manifest records the cache; projects survive alongside it
    import json as _json

    m = _json.loads(manifest.read_text())
    assert "_flow_cache" in m and len(m["_flow_cache"]) == 1
    assert "cachep" in m

    # a second session over the same manifest: HIT, identical rows
    ws2 = new_workspace("ws.json")
    ws2.open("cachep")
    walk2, hit2 = ws2.cached_walk(max_depth=3, max_crossings=1)
    assert hit2 is True
    assert walk2.count() == n1
    assert walk1.exceptAll(walk2).count() == 0

    # different budgets → different key → miss
    _, hit3 = ws2.cached_walk(max_depth=2, max_crossings=1)
    assert hit3 is False

    # pattern flows derived from the cache == fresh-walk console flows
    src_p, dst_p = FLOW_SRC, FLOW_DST
    via_cache = ws2.flows(src_p, dst_p, max_depth=3, max_crossings=1)
    fresh = console_flows(ws2.cpg, src_p, dst_p, max_depth=3,
                          max_crossings=1)
    assert via_cache.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(via_cache).count() == 0
    assert via_cache.count() > 0

    # a pattern OUTSIDE the cached seed set falls back to a fresh walk
    ask_p = r"^Please check the weather in"
    fallback = ws2.flows(ask_p, dst_p, max_depth=3, max_crossings=1)
    direct = console_flows(ws2.cpg, ask_p, dst_p, max_depth=3,
                           max_crossings=1)
    assert fallback.exceptAll(direct).count() == 0
    assert direct.exceptAll(fallback).count() == 0

    # the cache is bounded: after KEEP_WALKS + 1 more fills, exactly the
    # newest KEEP_WALKS walks are left, on disk and in the manifest
    budgets = [(depth, 0) for depth in range(1, KEEP_WALKS + 2)]
    for depth, crossings in budgets:
        _, hit = ws2.cached_walk(max_depth=depth, max_crossings=crossings)
        assert hit is False
    kept = {ws2.walk_key(d, c) for d, c in budgets[-KEEP_WALKS:]}
    assert {d.name for d in (tmp_path / "ws_flowcache").iterdir()} == kept
    assert set(_json.loads(manifest.read_text())["_flow_cache"]) == kept
    assert "cachep" in _json.loads(manifest.read_text())

    # the same fills from more threads than cores, switching often: the
    # manifest and the directories still agree on KEEP_WALKS walks
    budgets = [(depth, 0, 2) for depth in range(1, KEEP_WALKS + 2)] * 2
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(len(budgets)) as pool:
            futures = [pool.submit(ws2.cached_walk, *b) for b in budgets]
            for f in futures:
                f.result(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    on_disk = {d.name for d in (tmp_path / "ws_flowcache").iterdir()}
    listed = _json.loads(manifest.read_text())
    assert len(on_disk) == KEEP_WALKS and set(listed["_flow_cache"]) == on_disk
    assert on_disk <= {ws2.walk_key(*b) for b in budgets}
    assert "cachep" in listed


def test_open_waits_for_a_request_in_flight(spark, new_workspace, monkeypatch):
    """A request resolves, holds and analyses its SQL under the registry
    lock, so an `open` that lands between its hold and its analysis
    waits: the request answers from the project it started on, through
    Workspace.sql and through the /sql handler alike."""
    from joern_spark.server import ENDPOINTS

    ws = new_workspace("ws.json")
    ws.import_code(SF_B, "pin_b")
    ws.import_code(SF_A, "pin_a")
    n = {name: (spark.table(f"{name}_conversations").count(),
                spark.table(f"{name}_turns").count())
         for name in ("pin_a", "pin_b")}
    assert n["pin_a"][0] != n["pin_b"][0] and n["pin_a"][1] != n["pin_b"][1]

    hold, switchers = Project.hold, []

    def hold_then_switch(self, spark_):
        g = hold(self, spark_)
        switched = threading.Event()
        t = threading.Thread(target=lambda: (ws.open("pin_b"), switched.set()))
        t.start()
        switchers.append(t)
        switched.wait(timeout=3)  # at most until the switch has happened
        return g

    monkeypatch.setattr(Project, "hold", hold_then_switch)
    requests = (
        (lambda: ws.sql("conversations").count(), n["pin_a"][0]),
        (lambda: ENDPOINTS[("POST", "/sql")](
            ws, {"sql": "SELECT * FROM tpg_turns"}).count(), n["pin_a"][1]),
    )
    for request, want in requests:
        ws.open("pin_a")
        got = request()
        switchers.pop().join(timeout=60)
        assert ws.active == "pin_b"
        assert got == want


# -- held graph ------------------------------------------------------------


def _rows(df) -> Counter:
    return Counter(repr(tuple(r)) for r in df.collect())


def _levels(g) -> dict:
    from joern_spark.console import VIEWS

    return {layer: getattr(g, layer).storageLevel for layer in VIEWS}


def _held_levels() -> dict:
    from joern_spark.console import VIEWS

    return {
        layer: StorageLevel.MEMORY_AND_DISK
        if layer in HELD_LAYERS else StorageLevel.NONE
        for layer in VIEWS
    }


def _starter_params(spark) -> dict:
    from joern_spark import generator as G

    hub = G.normalize_surface(G.HUB_CITIES[0])
    conv = spark.table("tpg_conversations").orderBy("conv_id").first().conv_id
    return {
        "conversations": {},
        "calls_of_tool": {"tool": G.TOOLS[0]},
        "mentions_of_kind": {"kind": "location"},
        "entities_of_conversation": {"conv_id": conv},
        "facts_about": {"key": hub},
        "comentions_of": {"key": hub},
    }


def test_held_graph_same_rows_and_lifecycle(spark, new_workspace):
    """A project holds nothing until its first query; the first query
    persists exactly HELD_LAYERS (never `edges`), every starter,
    heavy_hitters and flows return the rows they returned before the
    hold, and close / delete / a re-import under the same name leave
    every layer unpersisted. Reference rows are collected BEFORE the
    first hold: a graph planned after it would read the held layers."""
    from joern_spark import console

    assert "edges" not in HELD_LAYERS
    none = {layer: StorageLevel.NONE for layer in _held_levels()}
    ws = new_workspace("ws.json")
    ws.import_code(SF_B, "heldp")
    p = ws.project()
    g = p.graph(spark)
    assert not p.is_held and _levels(g) == none

    params = _starter_params(spark)
    assert set(params) == set(console.STARTERS)
    want = {name: _rows(console.sql(spark, name, **kw))
            for name, kw in params.items()}
    want_hh = _rows(console.heavy_hitters(g, k=10))
    want_flows = _rows(console.flows(g, FLOW_SRC, FLOW_DST, max_depth=3))
    assert all(want.values()) and want_hh and want_flows
    assert _levels(g) == none  # reading the lazy graph holds nothing

    got = {name: _rows(ws.sql(name, **kw)) for name, kw in params.items()}
    assert p.is_held and ws.cpg is g and _levels(g) == _held_levels()
    assert got == want
    assert _rows(console.heavy_hitters(ws.cpg, k=10)) == want_hh
    assert _rows(console.flows(ws.cpg, FLOW_SRC, FLOW_DST, max_depth=3)) \
        == want_flows
    # starters read the held rows, not the parquet pipeline
    plan = ws.sql("facts_about", **params["facts_about"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan

    ws.close()
    assert not p.is_held and not p.is_open and _levels(g) == none

    ws.open("heldp")
    g2 = ws.cpg
    assert _levels(g2) == _held_levels()
    ws.import_code(SF_B, "heldp")  # re-import under the same name
    assert _levels(g2) == none
    assert _levels(ws.project().graph(spark)) == none  # not queried yet

    g3 = ws.cpg
    assert _levels(g3) == _held_levels()
    ws.delete("heldp")
    assert _levels(g3) == none


def test_held_graph_concurrent_first_queries(spark, new_workspace, monkeypatch):
    """Eight threads send the first query to a fresh project at once:
    every result equals the serial result and each held layer is
    persisted exactly once."""
    from joern_spark import console

    ws = new_workspace("ws.json")
    ws.import_code(SF_B, "conc")
    g = ws.project().graph(spark)
    key = _starter_params(spark)["facts_about"]
    serial = _rows(console.sql(spark, "facts_about", **key))
    assert serial

    frame_cls = type(g.transcripts)  # the concrete (classic) DataFrame
    persisted, persist = [], frame_cls.persist

    def counting_persist(df, *args, **kwargs):
        persisted.append(id(df))
        return persist(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", counting_persist)
    start = threading.Barrier(8)

    def first_query(_):
        start.wait(timeout=120)
        return _rows(ws.sql("facts_about", **key))

    with ThreadPoolExecutor(8) as pool:
        results = list(pool.map(first_query, range(8)))
    assert all(r == serial for r in results)
    assert sorted(persisted) == sorted(id(getattr(g, x)) for x in HELD_LAYERS)
    assert _levels(g) == _held_levels()
