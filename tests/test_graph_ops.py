"""F3 direct-graph fixtures (the MockCpg analog, semanticcpg/.../testing/
MockCpg.scala:10-80): feed node/edge DataFrames straight into the
linking/canonicalization/traversal operators."""

from pyspark.sql import functions as F

from joern_spark.functions.graph import expand, k_hop, step
from joern_spark.operators.canonicalize import connected_components

from tests.conftest import rows_set


def pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "a string, b string")


def edges_df(spark, edges):
    return spark.createDataFrame(edges, "src string, dst string")


def cmap(spark, pairs):
    return as_map(connected_components(pairs_df(spark, pairs)))


def as_map(df):
    return {r["entity_key"]: r["canon"] for r in df.collect()}


def force_distributed(monkeypatch):
    """Route every component solve and map merge through the distributed
    recipe."""
    from joern_spark.operators import canonicalize as C

    monkeypatch.setattr(C, "SMALL_COMPONENT_THRESHOLD", 0)


def count_union_finds(monkeypatch) -> list:
    """Record every driver union-find `canonicalize` runs."""
    from joern_spark.operators import canonicalize as C

    calls = []
    real = C._union_find_rows
    monkeypatch.setattr(
        C, "_union_find_rows", lambda edges: calls.append(1) or real(edges)
    )
    return calls


def test_canonical_map_solves_per_call(spark, make_transcripts, monkeypatch):
    """The S4 solve keeps no hidden state: two `pipeline.canonical_map`
    calls on one frame run the union-find twice and give one answer. The
    raw alias pairs repeat a pair (two NYC turns); the map has one row
    per key."""
    from joern_spark import pipeline

    calls = count_union_finds(monkeypatch)
    t = make_transcripts(
        [
            ("c1", 0, "user", "Note that NYC is also known as New York City.", None),
            ("c1", 1, "user", "Note that Big Apple is also known as NYC.", None),
            ("c2", 0, "user", "Note that NYC is also known as New York City.", None),
        ]
    )
    first = pipeline.canonical_map(t)
    second = pipeline.canonical_map(t)
    assert len(calls) == 2
    assert first.count() == 3
    assert as_map(first) == as_map(second) == {
        "big_apple": "big_apple", "nyc": "big_apple", "new_york_city": "big_apple",
    }


def test_cc_overflowing_raw_pairs_dedup_to_the_driver(spark, monkeypatch):
    """Raw pair rows over the threshold that dedup to a pair set within
    it (alias turns restating one pair) still take the driver
    union-find: one dedup pass and a second bounded read, no min-label
    loop."""
    from joern_spark.operators import canonicalize as C

    monkeypatch.setattr(C, "SMALL_COMPONENT_THRESHOLD", 2)
    calls = count_union_finds(monkeypatch)
    got = cmap(spark, [("nyc", "new_york_city")] * 4 + [("big_apple", "nyc")])
    assert len(calls) == 1
    assert got == {
        "big_apple": "big_apple", "nyc": "big_apple", "new_york_city": "big_apple",
    }


def test_query_battery_solves_canonical_map_once(spark, monkeypatch):
    """The battery's per-corpus memo: the canonical-map, final-triples
    and kind-recovery queries on one corpus solve the SAME_AS components
    once in total."""
    from joern_spark import queries as Q

    monkeypatch.setattr(Q, "_MEMO", {})
    calls = count_union_finds(monkeypatch)
    sf_dir = "sf0.001"
    cmap = Q.q_canonical_map(spark, sf_dir)
    Q.q_triples_final(spark, sf_dir)
    Q.q_kind_recovery(spark, sf_dir)
    assert cmap.count() > 0
    assert len(calls) == 1


def test_cc_chain(spark):
    assert cmap(spark, [("b", "c"), ("a", "b"), ("c", "d")]) == {
        "a": "a", "b": "a", "c": "a", "d": "a",
    }


def test_cc_cycle_and_islands(spark):
    got = cmap(spark, [("x", "y"), ("y", "z"), ("z", "x"), ("m", "n")])
    assert got == {"x": "x", "y": "x", "z": "x", "m": "m", "n": "m"}


def test_cc_long_chain_converges(spark):
    """Diameter 12 chain — exercises multiple propagation rounds."""
    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(12)]
    got = cmap(spark, chain)
    assert set(got.values()) == {"n00"}
    assert len(got) == 13


def test_cc_self_loop(spark):
    assert cmap(spark, [("a", "a")]) == {"a": "a"}


def test_k_hop_linear(spark):
    e = edges_df(spark, [("t0", "t1"), ("t1", "t2"), ("t2", "t3"), ("t3", "t4")])
    assert rows_set(k_hop(e, 2)) == {("t0", "t2"), ("t1", "t3"), ("t2", "t4")}
    assert rows_set(k_hop(e, 4)) == {("t0", "t4")}


def test_k_hop_branching_dedups(spark):
    e = edges_df(spark, [("a", "b1"), ("a", "b2"), ("b1", "c"), ("b2", "c")])
    assert rows_set(k_hop(e, 2)) == {("a", "c")}  # two paths, one pair


def test_step_and_expand(spark):
    e = edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    frontier = spark.createDataFrame([("a",)], "id string")
    assert rows_set(step(frontier, e)) == {("b",)}
    reached = rows_set(expand(frontier, e, max_depth=10))
    assert reached == {("a",), ("b",), ("c",), ("d",)}
    # bounded depth (the engine's k-limit, Engine.scala:320-326)
    reached2 = rows_set(expand(frontier, e, max_depth=2))
    assert reached2 == {("a",), ("b",), ("c",)}


def test_expand_cycle_terminates(spark):
    e = edges_df(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    frontier = spark.createDataFrame([("a",)], "id string")
    assert rows_set(expand(frontier, e, max_depth=50)) == {("a",), ("b",), ("c",)}


def test_expand_paths_branching_and_dedup(spark):
    """Diamond a→{b1,b2}→c: two distinct 2-hop paths to c; max-length
    dedup per (src, dst) keeps exactly one, tie-broken lexicographically
    (Engine.scala:154-179). keep='all' returns both."""
    from joern_spark.functions.graph import expand_paths

    e = edges_df(spark, [("a", "b1"), ("a", "b2"), ("b1", "c"), ("b2", "c")])
    roots = spark.createDataFrame([("a",)], "id string")
    out = {
        (r.src, r.dst): (r.depth, list(r.path))
        for r in expand_paths(roots, e, max_depth=4).collect()
    }
    assert out[("a", "b1")] == (1, ["a", "b1"])
    assert out[("a", "c")] == (2, ["a", "b1", "c"])  # lexicographic winner
    all_paths = expand_paths(roots, e, max_depth=4, keep="all")
    assert all_paths.where(F.col("dst") == "c").count() == 2


def test_expand_paths_longer_path_wins(spark):
    """a→d direct AND a→b→c→d: dedup keeps the depth-3 evidence path, the
    reference's max-length rule."""
    from joern_spark.functions.graph import expand_paths

    e = edges_df(spark, [("a", "d"), ("a", "b"), ("b", "c"), ("c", "d")])
    roots = spark.createDataFrame([("a",)], "id string")
    out = {
        (r.src, r.dst): (r.depth, list(r.path))
        for r in expand_paths(roots, e, max_depth=5).collect()
    }
    assert out[("a", "d")] == (3, ["a", "b", "c", "d"])


def test_expand_paths_cycle_excluded(spark):
    """a→b→a cycle: paths never revisit a node (Engine.scala:252-269), so
    the walk terminates with the two 1-hop/2-hop prefixes only."""
    from joern_spark.functions.graph import expand_paths

    e = edges_df(spark, [("a", "b"), ("b", "a")])
    roots = spark.createDataFrame([("a",)], "id string")
    rows = expand_paths(roots, e, max_depth=10, keep="all").collect()
    assert {(r.src, r.dst, r.depth) for r in rows} == {("a", "b", 1)}


def test_expand_until_and_emit_all_but_first(spark):
    """repeat(...)(_.until(pred)) stops descending at the first match on
    each branch; emitAllButFirst drops the initial frontier from the
    result (AstNodeTraversal.scala:75-79)."""
    e = edges_df(
        spark, [("a", "b"), ("b", "stop1"), ("stop1", "d"), ("a", "stop2")]
    )
    roots = spark.createDataFrame([("a",)], "id string")
    got = rows_set(
        expand(
            roots, e, max_depth=10, emit=False,
            until=lambda c: c.startswith("stop"),
        )
    )
    # both stop nodes reached; the walk never expands past stop1 → no d
    assert got == {("stop1",), ("stop2",)}

    got2 = rows_set(expand(roots, e, max_depth=10, emit_all_but_first=True))
    assert ("a",) not in got2
    assert {("b",), ("stop1",), ("stop2",), ("d",)} <= got2


def test_linking_hit_miss(spark, make_transcripts, entities):
    """LinkingUtil.scala:38-93 semantics: hit → link, miss → stub."""
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import all_entities, link_mentions

    df = make_transcripts(
        [
            ("c1", 0, "user", "Please check the weather in Paris.", None),
            ("c1", 1, "user", "Please check the weather in Atlantis.", None),
        ]
    )
    m = extract_mentions(df)
    linked = link_mentions(m, entities)
    got = rows_set(linked, ["surface", "is_external"])
    assert got == {("Paris", False), ("Atlantis", True)}
    ents = all_entities(m, entities)
    assert ents.filter((F.col("entity_key") == "atlantis") & F.col("is_external")).count() == 1
    # vocabulary rows keep is_external=false
    assert ents.filter((F.col("entity_key") == "paris") & ~F.col("is_external")).count() == 1


def test_link_mentions_cha(spark, make_transcripts, entities):
    """CHA semantics: a mention of an aliased surface fans out to every
    component member, internal-preferred (stub members drop when the
    component holds vocabulary entities); non-aliased keys fall back to
    exact resolution."""
    from joern_spark.operators.canonicalize import (
        connected_components,
        same_as_pairs,
    )
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import link_mentions_cha

    t = make_transcripts(
        [
            # component {nyc, new_york_city, big_apple}: big_apple is in
            # the vocabulary; which members survive depends on vocab flags
            ("c1", 0, "user", "Note that NYC is also known as New York City.", None),
            ("c1", 1, "user", "Note that Big Apple is also known as NYC.", None),
            ("c1", 2, "user", "Please check the weather in NYC.", None),
            # unaliased known entity → exact fallback, internal
            ("c1", 3, "user", "Please check the weather in Paris.", None),
            # unaliased unknown entity → exact fallback, external
            ("c1", 4, "user", "Please check the weather in Zarqa.", None),
        ]
    )
    cmap = connected_components(same_as_pairs(t))
    out = link_mentions_cha(extract_mentions(t), entities, cmap)
    vocab = {r.entity_key for r in entities.collect()}
    nyc = {
        (r.candidate_key, r.is_internal)
        for r in out.where(
            (F.col("turn_idx") == 2) & (F.col("surface") == "NYC")
        ).collect()
    }
    comp = {"nyc", "new_york_city", "big_apple"}
    internal_members = comp & vocab
    expect = internal_members if internal_members else comp
    assert {k for k, _ in nyc} == expect
    assert all(i == (k in vocab) for k, i in nyc)
    paris = [r for r in out.where(F.col("turn_idx") == 3).collect()]
    assert len(paris) == 1 and paris[0].candidate_key == "paris" and paris[0].is_internal
    zarqa = [r for r in out.where(F.col("turn_idx") == 4).collect()]
    assert len(zarqa) == 1 and zarqa[0].candidate_key == "zarqa" and not zarqa[0].is_internal


def test_tagged_by_write_back(spark, make_transcripts, entities):
    """Findings materialize back into the graph as TAG nodes + TAGGED_BY
    edges (the .store() analog), composable with the edge table."""
    from joern_spark.operators.materialize import tag_nodes, tagged_by_edges
    from joern_spark.operators.scan import run_scan
    from joern_spark.pipeline import build_graph

    rows = [("mega", i, "user", f"pad {i}", None) for i in range(256)]
    t = make_transcripts(rows)
    findings = run_scan(t, entities)
    tags = tag_nodes(findings).collect()
    # 256 user-only turns: the size guard AND the role-imbalance scanner
    assert {r.id for r in tags} == {
        "tag:mega-conversation", "tag:role-imbalance",
    }
    edges = tagged_by_edges(findings)
    e = {r.dst: r for r in edges.collect()}
    assert set(e) == {"tag:mega-conversation", "tag:role-imbalance"}
    assert all(r.src == "mega" for r in e.values())
    assert e["tag:mega-conversation"].property == "256"
    # unions cleanly into the graph's edge table (same schema)
    g = build_graph(t, entities)
    combined = g.edges.unionByName(edges)
    assert combined.where(F.col("label") == "TAGGED_BY").count() == 2


def test_connected_components_paths_agree(spark, monkeypatch):
    """Driver-side union-find (small fast path) and the distributed
    min-label loop must produce identical components."""
    from joern_spark.operators import canonicalize as C

    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("q", "q"), ("y", "z")],
        "a string, b string",
    )
    fast = {(r.entity_key, r.canon) for r in C.connected_components(pairs).collect()}
    force_distributed(monkeypatch)
    slow = {(r.entity_key, r.canon) for r in C.connected_components(pairs).collect()}
    assert fast == slow
    assert ("c", "a") in fast and ("z", "x") in fast


def test_cc_distributed_long_chain(spark, monkeypatch):
    """Adversarial diameter on the DISTRIBUTED path (threshold forced to
    0): pointer jumping converges a 60-diameter chain well inside
    MAX_ITERATIONS instead of exhausting them and returning (or raising
    on) partial labels."""
    import joern_spark.operators.canonicalize as C

    monkeypatch.setattr(C, "SMALL_COMPONENT_THRESHOLD", 0)
    chain = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(60)]
    got = cmap(spark, chain)
    assert set(got.values()) == {"n000"}
    assert len(got) == 61


def test_expand_modes_identical(spark):
    """Auto / broadcast / shuffle frontier strategies return the same set
    (the auto default must be scale-safe with no caller knob)."""
    e = edges_df(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "x"), ("x", "d"), ("d", "e")],
    )
    roots = spark.createDataFrame([("a",)], "id string")
    want = rows_set(expand(roots, e, max_depth=4, broadcast_frontier=True))
    assert rows_set(expand(roots, e, max_depth=4, broadcast_frontier=False)) == want
    assert rows_set(expand(roots, e, max_depth=4)) == want


def test_expand_auto_downgrades_midwalk(spark, monkeypatch):
    """With the broadcast cap forced to 1 row the auto walk must switch
    to shuffle joins mid-walk (fan-out grows past the cap) and still
    produce the exact reachable set."""
    import joern_spark.functions.graph as G

    e = edges_df(
        spark,
        [("r", "a1"), ("r", "a2"), ("a1", "b1"), ("a2", "b2"), ("b1", "c1")],
    )
    roots = spark.createDataFrame([("r",)], "id string")
    want = rows_set(expand(roots, e, max_depth=4, broadcast_frontier=True))
    monkeypatch.setattr(G, "FRONTIER_BROADCAST_MAX", 1)
    assert rows_set(G.expand(roots, e, max_depth=4)) == want


def test_expand_paths_modes_identical(spark, monkeypatch):
    import joern_spark.functions.graph as G
    from joern_spark.functions.graph import expand_paths

    e = edges_df(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    roots = spark.createDataFrame([("a",)], "id string")

    def key(df):
        return {
            (r.src, r.dst, r.depth, tuple(r.path))
            for r in df.collect()
        }

    want = key(expand_paths(roots, e, max_depth=4, keep="all",
                            broadcast_frontier=True))
    got_shuffle = key(expand_paths(roots, e, max_depth=4, keep="all",
                                   broadcast_frontier=False))
    assert got_shuffle == want
    monkeypatch.setattr(G, "FRONTIER_BROADCAST_MAX", 1)
    assert key(G.expand_paths(roots, e, max_depth=4, keep="all")) == want


def test_tag_readback_traversal(spark, make_transcripts, entities):
    """cpg.tag read-back (NewTagNodePairTraversal's missing read side):
    TAGGED_BY edges traverse back to the tagged node rows; group-evidence
    findings (conversation-clone fingerprints) never write edges."""
    from joern_spark.operators.assemble import turn_nodes
    from joern_spark.operators.materialize import tagged_by_edges, tagged_nodes
    from joern_spark.operators.scan import run_scan

    rows = [
        # an unanswered ask — turn-addressable evidence "c1:0"
        ("c1", 0, "user", "Please check the weather in Lima.", None),
        # a clone pair — group evidence (md5 fingerprint), no node
        ("c2", 0, "user", "Hello there.", None),
        ("c3", 0, "user", "Hello there.", None),
    ]
    t = make_transcripts(rows)
    findings = run_scan(t, entities)
    assert findings.where(
        F.col("query_name") == "conversation-clone").count() == 1
    edges = tagged_by_edges(findings)
    # the clone finding is excluded from the write-back entirely
    assert edges.where(F.col("dst") == "tag:conversation-clone").count() == 0
    got = tagged_nodes(edges, turn_nodes(t), tag="unanswered-ask").collect()
    assert {(r.id, r.tag, r.role) for r in got} == {
        ("c1:0", "unanswered-ask", "user")}
    # unrestricted read-back joins every turn-addressable tag
    all_tags = tagged_nodes(edges, turn_nodes(t))
    assert set(all_tags.columns) >= {"id", "tag", "score", "role"}
    assert all_tags.where(F.col("tag") == "unanswered-ask").count() == 1


def test_merge_canonical_map_equals_oneshot(spark, monkeypatch):
    """Incremental merge theorem: merge(CC(batch1), batch2) equals
    CC(batch1 ∪ batch2) — covering a delta that bridges two existing
    components, extends a component with a new key, creates a brand-new
    component, and leaves an untouched component alone. Holds on the
    driver path and on the distributed recipe (threshold forced to 0),
    and merging into no map at all is the one-shot solve."""
    from joern_spark.operators.canonicalize import merge_canonical_map

    b1 = [("b", "c"), ("a", "b"), ("u", "v"), ("x", "y")]
    # ("a", "c") is redundant — both endpoints already share a component
    # (the reduced graph gets a self-loop, which must be a no-op)
    b2 = [("c", "u"), ("v", "w"), ("p", "q"), ("a", "c")]
    base = connected_components(pairs_df(spark, b1))
    merged = {
        r["entity_key"]: r["canon"]
        for r in merge_canonical_map(base, pairs_df(spark, b2)).collect()
    }
    oneshot = cmap(spark, b1 + b2)
    assert merged == oneshot
    # sanity on the interesting cases: a..w all merged under 'a';
    # x/y untouched; p/q a fresh component
    assert merged["w"] == "a" and merged["u"] == "a"
    assert merged["x"] == "x" and merged["y"] == "x"
    assert merged["p"] == "p" and merged["q"] == "p"
    first = as_map(merge_canonical_map(None, pairs_df(spark, b1)))
    assert first == cmap(spark, b1)

    force_distributed(monkeypatch)
    assert as_map(merge_canonical_map(base, pairs_df(spark, b2))) == merged
    assert as_map(merge_canonical_map(None, pairs_df(spark, b1))) == first


def test_merge_canonical_map_chain_across_batches(spark, monkeypatch):
    """A long alias chain split across batches still converges to the
    global min, and a second merge composes (merge is associative with
    respect to one-shot solving) — on the driver path and on the
    distributed recipe."""
    from joern_spark.operators.canonicalize import merge_canonical_map

    keys = [f"k{i:03d}" for i in range(12)]
    all_pairs = [(keys[i], keys[i + 1]) for i in range(11)]
    b1, b2, b3 = all_pairs[0:4], all_pairs[4:8], all_pairs[8:]
    m1 = connected_components(pairs_df(spark, b1))
    m2 = merge_canonical_map(m1, pairs_df(spark, b2))
    m3 = merge_canonical_map(m2, pairs_df(spark, b3))
    got = {r["entity_key"]: r["canon"] for r in m3.collect()}
    assert got == cmap(spark, all_pairs)
    assert set(got.values()) == {"k000"}

    force_distributed(monkeypatch)
    d2 = merge_canonical_map(m1, pairs_df(spark, b2))
    assert as_map(merge_canonical_map(d2, pairs_df(spark, b3))) == got


# --- general reaching definitions (gen/kill worklist kernel) -----------------


def _rd_set(edges, defs, var="v"):
    import pandas as pd

    from joern_spark.operators.dataflow import _rd_group

    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(edges),
            "src_idx": [a for a, _ in edges],
            "dst_idx": [b for _, b in edges],
        }
    )
    return {(t, d) for (_, t, _, d) in _rd_group("c", var, pdf, defs)}


def test_reaching_defs_diamond_kill():
    """Both branch defs kill the entry def: the join sees exactly the two
    branch definitions, not the killed one."""
    got = _rd_set([(0, 1), (0, 2), (1, 3), (2, 3)], defs=[0, 1, 2])
    assert got == {(1, 0), (2, 0), (3, 1), (3, 2)}


def test_reaching_defs_diamond_passthrough():
    """A def on only one branch merges with the surviving entry def."""
    got = _rd_set([(0, 1), (0, 2), (1, 3), (2, 3)], defs=[0, 1])
    assert got == {(1, 0), (2, 0), (3, 0), (3, 1)}


def test_reaching_defs_cycle():
    """Worklist fixpoint on a loop: the back-edge def flows around."""
    got = _rd_set([(0, 1), (1, 2), (2, 1)], defs=[0, 2])
    assert got == {(1, 0), (1, 2), (2, 0), (2, 2)}


def test_reaching_defs_operator_routes_shapes(spark):
    """Linear conversations take the window closed form, branching ones
    the kernel — one call, both shapes, per-variable independence."""
    from joern_spark.operators.dataflow import reaching_definitions

    edges = spark.createDataFrame(
        # lin: 0→1→2→3 chain; br: diamond 0→{1,2}→3
        [("lin", 0, 1), ("lin", 1, 2), ("lin", 2, 3),
         ("br", 0, 1), ("br", 0, 2), ("br", 1, 3), ("br", 2, 3)],
        "conv_id string, src_idx int, dst_idx int",
    )
    defs = spark.createDataFrame(
        [("lin", 0, "db"), ("lin", 2, "db"), ("lin", 1, "tz"),
         ("br", 1, "db"), ("br", 2, "db")],
        "conv_id string, turn_idx int, var string",
    )
    got = {
        (r.conv_id, r.turn_idx, r.var, r.def_idx)
        for r in reaching_definitions(edges, defs).collect()
    }
    assert got == {
        ("lin", 1, "db", 0), ("lin", 2, "db", 0), ("lin", 3, "db", 2),
        ("lin", 2, "tz", 1), ("lin", 3, "tz", 1),
        ("br", 3, "db", 1), ("br", 3, "db", 2),
    }


def test_reaching_defs_kernel_equals_window_on_chains(spark):
    """Shape-split equivalence: the general kernel on a linear chain
    produces exactly the closed-form rows the operator emits."""
    from joern_spark.operators.dataflow import reaching_definitions

    chain = [(i, i + 1) for i in range(6)]
    defs = [0, 3, 5]
    kernel = _rd_set(chain, defs)
    edges = spark.createDataFrame(
        [("c", a, b) for a, b in chain], "conv_id string, src_idx int, dst_idx int"
    )
    ddf = spark.createDataFrame(
        [("c", d, "v") for d in defs], "conv_id string, turn_idx int, var string"
    )
    operator = {
        (r.turn_idx, r.def_idx)
        for r in reaching_definitions(edges, ddf).collect()
    }
    assert kernel == operator


def test_reaching_defs_routes_rings_and_backwards_chains(spark):
    """Uniform-degree-1 shapes the window closed form would get WRONG
    must reach the kernel: a pure ring (every node in/out-degree 1, def
    flows around the back-edge), a backwards chain (2→1→0, def at the
    index-largest node reaches the smaller ones), a self-loop, and a
    cycle-only second component next to a normal chain."""
    from joern_spark.operators.dataflow import reaching_definitions

    edges = spark.createDataFrame(
        [
            # ring: 0→1→2→0, def at 1 — reaches 2, 0 and itself
            ("ring", 0, 1), ("ring", 1, 2), ("ring", 2, 0),
            # backwards chain: 5→2→0, def at 5
            ("back", 5, 2), ("back", 2, 0),
            # self-loop single node with a def
            ("self", 0, 0),
            # mixed: forward chain 0→1 plus a disjoint 2-cycle 8↔9
            ("mix", 0, 1), ("mix", 8, 9), ("mix", 9, 8),
        ],
        "conv_id string, src_idx int, dst_idx int",
    )
    defs = spark.createDataFrame(
        [("ring", 1, "v"), ("back", 5, "v"), ("self", 0, "v"),
         ("mix", 0, "v"), ("mix", 8, "v")],
        "conv_id string, turn_idx int, var string",
    )
    got = {
        (r.conv_id, r.turn_idx, r.var, r.def_idx)
        for r in reaching_definitions(edges, defs).collect()
    }
    assert got == {
        ("ring", 0, "v", 1), ("ring", 1, "v", 1), ("ring", 2, "v", 1),
        ("back", 0, "v", 5), ("back", 2, "v", 5),
        ("self", 0, "v", 0),
        ("mix", 1, "v", 0), ("mix", 8, "v", 8), ("mix", 9, "v", 8),
    }


def test_reaching_defs_ring_fast_path_equals_kernel(spark):
    """Random index-ordered rings (the cyclic closed-form route) must
    produce exactly the worklist kernel's fixpoint — same gen/kill
    problem, two engines. Covers 1-node self-loops, sparse/no/full defs,
    and non-contiguous turn indexes."""
    import random

    import pandas as pd

    from joern_spark.operators.dataflow import (
        _rd_group,
        reaching_definitions,
    )

    rnd = random.Random(7)
    rows_e, rows_d, expect = [], [], set()
    for c in range(14):
        conv = f"r{c}"
        n = rnd.randint(1, 9)
        turns = sorted(rnd.sample(range(40), n))
        ring = [(turns[i], turns[(i + 1) % n]) for i in range(n)]
        defs = [t for t in turns if rnd.random() < 0.4]
        rows_e += [(conv, a, b) for a, b in ring]
        rows_d += [(conv, d, "v") for d in defs]
        pdf = pd.DataFrame(
            {
                "conv_id": [conv] * n,
                "src_idx": [a for a, _ in ring],
                "dst_idx": [b for _, b in ring],
            }
        )
        expect |= set(_rd_group(conv, "v", pdf, defs))
    edges = spark.createDataFrame(
        rows_e, "conv_id string, src_idx int, dst_idx int"
    )
    ddf = spark.createDataFrame(
        rows_d, "conv_id string, turn_idx int, var string"
    )
    got = {
        (r.conv_id, r.turn_idx, r.var, r.def_idx)
        for r in reaching_definitions(edges, ddf).collect()
    }
    assert got == expect


def test_reaching_defs_skip_edge_joins_route_to_kernel(spark):
    """A chain plus one skip edge u→u+2 (the tpg_reaching_branchy
    fixture shape) has a join node, so it must take the kernel — and the
    result must show BOTH definitions merging at and after the join
    until the next kill."""
    from joern_spark.operators.dataflow import reaching_definitions

    # chain 0→1→2→3→4 plus skip 1→3; defs at 1, 2 (2 is the skipped node)
    edges = spark.createDataFrame(
        [("s", 0, 1), ("s", 1, 2), ("s", 2, 3), ("s", 3, 4), ("s", 1, 3)],
        "conv_id string, src_idx int, dst_idx int",
    )
    defs = spark.createDataFrame(
        [("s", 1, "v"), ("s", 2, "v")],
        "conv_id string, turn_idx int, var string",
    )
    got = {
        (r.turn_idx, r.def_idx)
        for r in reaching_definitions(edges, defs).collect()
    }
    # IN(3) = OUT(2) ∪ OUT(1) = {2} ∪ {1}; no def at 3 → IN(4) = {2, 1}
    assert got == {(2, 1), (3, 1), (3, 2), (4, 1), (4, 2)}


def test_reaching_defs_size_guard(monkeypatch):
    import joern_spark.operators.dataflow as dfm
    import pytest

    monkeypatch.setattr(dfm, "MAX_GROUP_CELLS", 4)
    with pytest.raises(ValueError, match="too large"):
        _rd_set([(0, 1), (1, 2), (2, 3)], defs=[0, 1, 2])


def test_dbcur_general_equals_window_on_linear(spark, make_transcripts):
    """Use-resolution through the general RD kernel is row-identical to
    the last-writer-wins window on linear conversations, and enumerates
    every reaching binding at a branching merge."""
    from joern_spark.operators.rebind import dbcur_triples, dbcur_triples_general

    t = make_transcripts(
        [
            ("c1", 0, "assistant",
             "Querying the current database for records about Lima.", None),
            ("c1", 1, "user", "From now on use staging_db instead of prod_db.", None),
            ("c1", 2, "assistant",
             "Querying the current database for records about Oslo.", None),
            ("c2", 0, "user", "From now on use dev_db instead of prod_db.", None),
            ("c2", 1, "assistant",
             "Querying the current database for records about Cairo.", None),
        ]
    )
    want = {tuple(r) for r in dbcur_triples(t).collect()}
    got = {tuple(r) for r in dbcur_triples_general(t).collect()}
    assert got == want and len(got) == 3

    # branching: two rebinds on parallel branches both reach the merge use
    edges = spark.createDataFrame(
        [("b", 0, 1), ("b", 0, 2), ("b", 1, 3), ("b", 2, 3)],
        "conv_id string, src_idx int, dst_idx int",
    )
    tb = make_transcripts(
        [
            ("b", 0, "user", "hello", None),
            ("b", 1, "user", "From now on use left_db instead of prod_db.", None),
            ("b", 2, "user", "From now on use right_db instead of prod_db.", None),
            ("b", 3, "assistant",
             "Querying the current database for records about Lima.", None),
        ]
    )
    got_b = {
        (r.subj, r.obj) for r in dbcur_triples_general(tb, edges).collect()
    }
    assert got_b == {("left_db", "Lima"), ("right_db", "Lima")}


def test_ddg_backward_slice_diamond_and_chain(spark):
    """Transitive ddgIn over the kernel's reaching table: on a diamond a
    sink's hop-1 set holds BOTH branch definitions; on a chain the hops
    walk the rebind chain backward and stop when no def reaches."""
    from joern_spark.operators.dataflow import reaching_definitions
    from joern_spark.operators.slice import ddg_backward_slice

    edges = spark.createDataFrame(
        # br: diamond 0→{1,2}→3; lin: 0→1→2→3 chain
        [("br", 0, 1), ("br", 0, 2), ("br", 1, 3), ("br", 2, 3),
         ("lin", 0, 1), ("lin", 1, 2), ("lin", 2, 3)],
        "conv_id string, src_idx int, dst_idx int",
    )
    defs = spark.createDataFrame(
        [("br", 0, "db"), ("br", 1, "db"), ("br", 2, "db"),
         ("lin", 0, "db"), ("lin", 2, "db")],
        "conv_id string, turn_idx int, var string",
    )
    reaching = reaching_definitions(edges, defs)
    sinks = spark.createDataFrame(
        [("br", 3), ("lin", 3)], "conv_id string, turn_idx int"
    )
    got = {
        (r.conv_id, r.sink_idx, r.hop, r.turn_idx)
        for r in ddg_backward_slice(reaching, sinks, depth=3).collect()
    }
    assert got == {
        # diamond: both branch defs at hop 1 (0 is killed on both paths),
        # their common feeder at hop 2, nothing reaches turn 0
        ("br", 3, 1, 1), ("br", 3, 1, 2), ("br", 3, 2, 0),
        # chain: def at 2, then the def at 0 that fed it
        ("lin", 3, 1, 2), ("lin", 3, 2, 0),
    }
