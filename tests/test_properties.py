"""Property-based tests (hypothesis) — the randomized layer the reference
lacks (SURVEY.md §5 notes no property testing there; we add it for the
algorithmic kernels where hand-picked fixtures are weakest)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from joern_spark.operators.canonicalize import _union_find_rows
from joern_spark.operators.cfg import _idom_group

# --- random single-entry DAGs: CHK vs brute-force dominators -----------------


@st.composite
def single_entry_dag(draw):
    n = draw(st.integers(min_value=2, max_value=8))
    edges = []
    for j in range(1, n):
        preds = draw(
            st.sets(st.integers(0, j - 1), min_size=1, max_size=min(j, 3))
        )
        edges.extend((p, j) for p in sorted(preds))
    return n, edges


def _brute_dominators(n, edges, node):
    """dom(node) = {d : removing d disconnects 0 → node}."""
    succ = {}
    for a, b in edges:
        succ.setdefault(a, []).append(b)

    def reachable(removed):
        if removed == 0:
            return set()
        seen, stack = {0}, [0]
        while stack:
            x = stack.pop()
            for y in succ.get(x, ()):
                if y != removed and y not in seen:
                    seen.add(y)
                    stack.append(y)
        return seen

    return {d for d in range(n) if d == node or node not in reachable(d)}


@settings(max_examples=30, deadline=None)
@given(single_entry_dag())
def test_chk_idom_matches_brute_force(dag):
    n, edges = dag
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(edges),
            "src_idx": [a for a, _ in edges],
            "dst_idx": [b for _, b in edges],
        }
    )
    got = {r.turn_idx: r.idom_idx for r in _idom_group(pdf).itertuples()}
    for node in range(1, n):
        doms = _brute_dominators(n, edges, node) - {node}
        # idom = the dominator dominated by every other dominator (chain max)
        idom = max(doms, key=lambda d: len(_brute_dominators(n, edges, d)))
        assert got[node] == idom, (edges, node, got, doms)


# --- multi-root DAGs (ADVICE regression: CHK used to hang on these) ----------


@st.composite
def multi_root_dag(draw):
    """DAG over nodes 0..n-1 where edges only go low→high but node j may
    have no predecessor (extra root) — reversed branching graphs and
    multi-entry conversations have exactly this shape."""
    n = draw(st.integers(min_value=2, max_value=8))
    edges = []
    for j in range(1, n):
        preds = draw(
            st.sets(st.integers(0, j - 1), min_size=0, max_size=min(j, 3))
        )
        edges.extend((p, j) for p in sorted(preds))
    if not edges:
        edges = [(0, 1)]
    return n, edges


def _brute_idom_multi(edges):
    """Reference semantics with a virtual super-root: idom over the
    augmented graph; nodes whose only common dominator is the virtual
    root have no real idom."""
    nodes = sorted({x for e in edges for x in e})
    preds = {}
    for a, b in edges:
        preds.setdefault(b, set()).add(a)
    entries = [n for n in nodes if n not in preds]
    virt = min(nodes) - 1
    aug = list(edges) + [(virt, e) for e in entries]
    succ = {}
    for a, b in aug:
        succ.setdefault(a, []).append(b)

    def reachable(removed):
        if removed == virt:
            return set()
        seen, stack = {virt}, [virt]
        while stack:
            x = stack.pop()
            for y in succ.get(x, ()):
                if y != removed and y not in seen:
                    seen.add(y)
                    stack.append(y)
        return seen

    def doms(node):
        return {
            d
            for d in nodes + [virt]
            if d == node or node not in reachable(d)
        }

    out = {}
    for node in nodes:
        if node in entries:
            continue
        ds = doms(node) - {node}
        idom = max(ds, key=lambda d: len(doms(d)))
        if idom != virt:
            out[node] = idom
    return out


@settings(max_examples=40, deadline=None)
@given(multi_root_dag())
def test_chk_idom_multi_root(dag):
    n, edges = dag
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(edges),
            "src_idx": [a for a, _ in edges],
            "dst_idx": [b for _, b in edges],
        }
    )
    got = {r.turn_idx: r.idom_idx for r in _idom_group(pdf).itertuples()}
    assert got == _brute_idom_multi(edges)


def test_chk_idom_two_roots_regression():
    """The exact graph from ADVICE that made the intersect walk hang
    forever: {0->2, 1->2}. Node 2 has no real immediate dominator."""
    pdf = pd.DataFrame({"conv_id": ["c", "c"], "src_idx": [0, 1], "dst_idx": [2, 2]})
    assert _idom_group(pdf).empty


def test_cdg_non_reconverging_branch():
    """A branch whose arms never reconverge reverses to a multi-root
    graph; both arms are control-dependent on the branch node."""
    from joern_spark.operators.cfg import _cdg_group

    pdf = pd.DataFrame({"conv_id": ["c", "c"], "src_idx": [0, 0], "dst_idx": [1, 2]})
    got = {(r.src_idx, r.dst_idx) for r in _cdg_group(pdf).itertuples()}
    assert got == {(0, 1), (0, 2)}


# --- path-returning flows vs brute-force enumeration -------------------------


def _brute_paths(edges, roots, max_depth, keep_all):
    """All cycle-free paths from the roots (depth 1..max_depth); keep=max
    retains the longest path per (src, dst), ties to the lexicographic
    min of the arrow-joined string — the exact contract of expand_paths."""
    succ = {}
    for a, b in edges:
        succ.setdefault(a, []).append(b)
    out = []

    def walk(src, path):
        if len(path) - 1 >= max_depth:
            return
        for nxt in succ.get(path[-1], ()):
            if nxt in path:
                continue
            p2 = path + [nxt]
            out.append((src, nxt, len(p2) - 1, p2))
            walk(src, p2)

    for r in roots:
        walk(r, [r])
    if keep_all:
        return {(s, d, dep, "->".join(p)) for s, d, dep, p in out}
    best = {}
    for s, d, dep, p in out:
        key, js = (s, d), "->".join(p)
        cur = best.get(key)
        if cur is None or (-dep, js) < (-cur[0], cur[1]):
            best[key] = (dep, js)
    return {(s, d, dep, js) for (s, d), (dep, js) in best.items()}


@st.composite
def random_digraph(draw):
    """Small directed graphs, cycles allowed."""
    n = draw(st.integers(min_value=2, max_value=6))
    m = draw(st.integers(min_value=1, max_value=10))
    edges = sorted(
        {
            (f"n{draw(st.integers(0, n - 1))}", f"n{draw(st.integers(0, n - 1))}")
            for _ in range(m)
        }
    )
    edges = [(a, b) for a, b in edges if a != b] or [("n0", "n1")]
    return edges


@settings(max_examples=15, deadline=None)
@given(random_digraph(), st.integers(min_value=1, max_value=4))
def test_expand_paths_matches_bruteforce(spark, edges, depth):
    # `spark` is the session-scoped fixture — allowed inside @given
    # (hypothesis only rejects function-scoped fixtures)
    from joern_spark.functions.graph import expand_paths

    e = spark.createDataFrame(edges, "src string, dst string")
    roots_list = sorted({a for a, _ in edges})[:2]
    roots = spark.createDataFrame([(r,) for r in roots_list], "id string")
    for keep in ("max", "all"):
        got = {
            (r.src, r.dst, r.depth, "->".join(r.path))
            for r in expand_paths(roots, e, max_depth=depth, keep=keep).collect()
        }
        assert got == _brute_paths(edges, roots_list, depth, keep == "all"), (
            edges,
            depth,
            keep,
        )


# --- union-find: canon = component min ---------------------------------------


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).map(
            lambda t: (f"k{t[0]}", f"k{t[1]}")
        ),
        min_size=1,
        max_size=30,
    )
)
def test_union_find_component_min(pairs):
    rows = _union_find_rows(pairs)
    canon = dict(rows)
    # brute-force components via BFS over the symmetric adjacency
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for node in adj:
        seen, stack = {node}, [node]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        assert canon[node] == min(seen)
    assert set(canon) == set(adj)


# --- incremental canonicalization: merge == one-shot --------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).map(
            lambda t: (f"k{t[0]}", f"k{t[1]}")
        ),
        min_size=1,
        max_size=16,
    ),
    st.integers(min_value=0, max_value=16),
)
def test_merge_canonical_map_matches_oneshot(spark, pairs, split):
    """merge(CC(prefix), suffix) == CC(all) for every random pair list
    and split point (the incremental-maintenance theorem, randomized),
    and the distributed recipe (threshold forced to 0) returns the same
    map as the driver path."""
    from unittest import mock

    from joern_spark.operators import canonicalize as C
    from joern_spark.operators.canonicalize import (
        connected_components,
        merge_canonical_map,
    )

    pairs = [(a, b) for a, b in pairs if a != b] or [("k0", "k1")]
    split = min(split, len(pairs) - 1)
    b1, b2 = pairs[: split or 1], pairs[split or 1 :]
    base = connected_components(
        spark.createDataFrame(b1, "a string, b string")
    )
    if b2:
        merged_df = merge_canonical_map(
            base, spark.createDataFrame(b2, "a string, b string")
        )
    else:
        merged_df = base
    merged = {r["entity_key"]: r["canon"] for r in merged_df.collect()}
    oneshot = {
        r["entity_key"]: r["canon"]
        for r in connected_components(
            spark.createDataFrame(pairs, "a string, b string")
        ).collect()
    }
    assert merged == oneshot, (b1, b2)
    if b2:
        with mock.patch.object(C, "SMALL_COMPONENT_THRESHOLD", 0):
            distributed = {
                r["entity_key"]: r["canon"]
                for r in merge_canonical_map(
                    base, spark.createDataFrame(b2, "a string, b string")
                ).collect()
            }
        assert distributed == merged, (b1, b2)


# --- chunking: slicing arithmetic matches a brute-force reference -------------


@settings(max_examples=8, deadline=None)
@given(
    st.integers(min_value=0, max_value=25),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
)
def test_chunk_documents_matches_bruteforce(spark, n_tokens, window, stride):
    from joern_spark.operators.curate import chunk_documents

    toks = [f"w{i}" for i in range(n_tokens)]
    d = spark.createDataFrame([(0, " ".join(toks))], "doc_id long, text string")
    got = {
        r.chunk_idx: (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(d, window=window, stride=stride).collect()
    }
    expected = {
        k: (len(toks[s : s + window]), " ".join(toks[s : s + window]))
        for k, s in enumerate(range(0, n_tokens, stride))
    }
    assert got == expected


# --- SFT pairs: window extraction matches a brute-force scan ------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.sampled_from(["user", "assistant", "tool"]), min_size=1, max_size=10
    )
)
def test_sft_pairs_match_bruteforce(spark, roles):
    from joern_spark.operators.sft import sft_pairs

    rows = [("c", i, r, f"text {i}", None, None) for i, r in enumerate(roles)]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        (r.turn_idx, r.prompt, r.response) for r in sft_pairs(t).collect()
    }
    expected = {
        (i, f"text {i - 1}", f"text {i}")
        for i, r in enumerate(roles)
        if r == "assistant" and i > 0 and roles[i - 1] == "user"
    }
    assert got == expected


# --- span dedup: Spark plan matches a brute-force python reference ------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(  # small alphabet so cross-doc spans actually collide
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_span_dedup_matches_bruteforce(spark, docs_toks, k):
    from joern_spark.operators.dedup import span_dedup

    d = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in span_dedup(d, k=k).collect()
    }

    spans: dict[tuple, set[int]] = {}
    for i, toks in enumerate(docs_toks):
        for p in range(len(toks) - k + 1):
            spans.setdefault(tuple(toks[p : p + k]), set()).add(i)
    dup = {s for s, owners in spans.items() if len(owners) >= 2}
    expected = {}
    for i, toks in enumerate(docs_toks):
        covered = set()
        for p in range(len(toks) - k + 1):
            if tuple(toks[p : p + k]) in dup:
                covered.update(range(p, p + k))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        expected[i] = (len(toks), len(covered), " ".join(kept))
    assert got == expected


# --- as-of join: windowed union matches a brute-force scan --------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # user
            st.integers(min_value=0, max_value=50),  # ts offset (s)
            st.sampled_from(["error", "purchase", "signup", "view"]),
        ),
        min_size=1,
        max_size=14,
    )
)
def test_asof_matches_bruteforce(spark, evs):
    from datetime import datetime, timedelta

    from joern_spark.operators.events import BUILD_TYPES, last_action_before_errors

    t0 = datetime.fromisoformat("2024-01-01 00:00:00")
    rows = [
        (i, t0 + timedelta(seconds=off), uid, typ)
        for i, (uid, off, typ) in enumerate(evs)
    ]
    d = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    got = {
        r.event_id: (r.prior_event_id, r.prior_type, r.gap_us)
        for r in last_action_before_errors(d).collect()
    }

    expected = {}
    for eid, ts, uid, typ in rows:
        if typ != "error":
            continue
        cands = [
            (bts, bid, btyp)
            for bid, bts, buid, btyp in rows
            if buid == uid and btyp in BUILD_TYPES and bts <= ts
        ]
        if not cands:
            expected[eid] = (None, None, None)
            continue
        best_ts = max(c[0] for c in cands)
        at_best = [c for c in cands if c[0] == best_ts]
        _, bid, btyp = min(at_best, key=lambda c: c[1])  # arg-min event_id
        expected[eid] = (bid, btyp, int((ts - best_ts).total_seconds() * 1_000_000))
    assert got == expected


# --- random event streams: funnel vs brute force ------------------------------


@st.composite
def event_stream(draw):
    n_users = draw(st.integers(min_value=1, max_value=4))
    n_events = draw(st.integers(min_value=1, max_value=24))
    rows = []
    for i in range(n_events):
        rows.append(
            (
                i,
                draw(st.integers(min_value=0, max_value=40)),  # minutes offset
                draw(st.integers(min_value=1, max_value=n_users)),
                draw(st.sampled_from(["view", "click", "purchase", "error"])),
            )
        )
    return rows


def _brute_funnel(rows, steps=("view", "click", "purchase")):
    """Reference semantics: step 1 = earliest step-1 ts; step i = earliest
    step-i ts STRICTLY after step i-1's chosen ts; a missing step nulls
    every later step. Users without step 1 are absent."""
    out = {}
    for u in sorted({u for _, _, u, _ in rows}):
        mine = [(m, t) for _, m, uu, t in rows if uu == u]
        picked = []
        for s in steps:
            if not picked:
                cands = [m for m, t in mine if t == s]
            elif picked[-1] is None:
                cands = []
            else:
                cands = [m for m, t in mine if t == s and m > picked[-1]]
            picked.append(min(cands) if cands else None)
        if picked[0] is not None:
            out[u] = picked
    return out


@settings(max_examples=20, deadline=None)
@given(event_stream())
def test_funnel_matches_bruteforce(spark, rows):
    import datetime as dt

    from joern_spark.operators.events import funnel

    base = dt.datetime(2024, 1, 1)
    evs = spark.createDataFrame(
        [
            (i, base + dt.timedelta(minutes=m), u, t)
            for i, m, u, t in rows
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
    )
    got = {
        r.user_id: [r.step_1_ts, r.step_2_ts, r.step_3_ts]
        for r in funnel(evs).collect()
    }
    expect = {
        u: [None if m is None else base + __import__("datetime").timedelta(minutes=m)
            for m in picked]
        for u, picked in _brute_funnel(rows).items()
    }
    assert got == expect


# --- random DAGs + def sets: worklist RD vs per-def blocked BFS --------------


@st.composite
def dag_with_defs(draw):
    n = draw(st.integers(min_value=2, max_value=8))
    edges = []
    for j in range(1, n):
        preds = draw(
            st.sets(st.integers(0, j - 1), min_size=1, max_size=min(j, 3))
        )
        edges.extend((p, j) for p in sorted(preds))
    defs = sorted(draw(st.sets(st.integers(0, n - 1), min_size=1, max_size=n)))
    return n, edges, defs


def _brute_reaching(edges, defs):
    """def d reaches IN(n) iff some path d→n has no OTHER def strictly
    between: per-def BFS that never expands past a killing def node
    (arrival at a def's entry is still allowed)."""
    succ = {}
    for a, b in edges:
        succ.setdefault(a, []).append(b)
    out = set()
    dset = set(defs)
    for d in defs:
        seen = set()
        stack = list(succ.get(d, ()))
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            out.add((x, d))
            if x not in dset:  # a def node consumes the flow (kill)
                stack.extend(succ.get(x, ()))
    return out


@settings(max_examples=40, deadline=None)
@given(dag_with_defs())
def test_reaching_defs_matches_blocked_bfs(case):
    from joern_spark.operators.dataflow import _rd_group

    n, edges, defs = case
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(edges),
            "src_idx": [a for a, _ in edges],
            "dst_idx": [b for _, b in edges],
        }
    )
    got = {(t, d) for (_, t, _, d) in _rd_group("c", "v", pdf, defs)}
    assert got == _brute_reaching(edges, defs), (edges, defs)


# --- stdlib PNG codec: encode→decode round-trip over random images -----------


@st.composite
def random_image(draw):
    color_type = draw(st.sampled_from([0, 2, 6]))
    ch = {0: 1, 2: 3, 6: 4}[color_type]
    w = draw(st.integers(min_value=1, max_value=9))
    h = draw(st.integers(min_value=1, max_value=9))
    px = bytes(
        draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
            )
        )
    )
    return px, w, h, color_type


@settings(max_examples=40, deadline=None)
@given(random_image())
def test_png_roundtrip(img):
    from joern_spark.functions.png import decode_png, encode_png

    px, w, h, ct = img
    got_px, got_w, got_h, got_ct = decode_png(encode_png(px, w, h, ct))
    assert (got_px, got_w, got_h, got_ct) == (px, w, h, ct)


# --- atomic sequence packing: Spark kernel == pure-Python fold ----------------


def _nextfit_reference(items, budget):
    """(doc_id, n_tokens) sorted (n desc, id asc) folded next-fit."""
    out = {}
    b, acc = 0, None
    for doc_id, n in sorted(items, key=lambda t: (-t[1], t[0])):
        if acc is not None and acc + n <= budget:
            off = acc
            acc += n
        else:
            if acc is not None:
                b += 1
            off, acc = 0, n
        out[doc_id] = (b, off)
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 40), min_size=1, max_size=60),
    st.integers(8, 64),
    st.integers(1, 4),
)
def test_pack_sequences_matches_reference_fold(spark, lens, budget, groups):
    from joern_spark.operators import curate

    rows = [(i, "w " * n, "en", "s", 1) for i, n in enumerate(lens)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r.doc_id: (r.seq_id, r.offset_tokens, r.n_tokens)
        for r in curate.pack_sequences(
            docs, budget=budget, groups=groups
        ).collect()
    }
    assert set(got) == set(range(len(lens)))
    for g in range(groups):
        items = [(i, n) for i, n in enumerate(lens) if i % groups == g]
        ref = _nextfit_reference(items, budget)
        for doc_id, (bin_id, off) in ref.items():
            seq_id, offset, n_tokens = got[doc_id]
            assert seq_id == f"{g}:{bin_id}", (doc_id, seq_id, bin_id)
            assert offset == off and n_tokens == lens[doc_id]
