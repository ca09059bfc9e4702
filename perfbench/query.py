"""`query` workload: a closed loop of HTTP clients against a
`server.QueryServer` over a `Workspace` project.

Each client cycles through a deck of ten requests: six point starters
(facts_about ×2, calls_of_tool, entities_of_conversation ×2,
mentions_of_kind), two comentions_of, one /heavy_hitters and one /flows
at depth 3 — the 60/20/10/10 mix with the same shares in every run.
Entity and tool keys are drawn Zipf-skewed over the vocabulary and
conversation ids uniformly over the corpus, from the seed.
"""

from __future__ import annotations

import json
import random
import statistics
import threading
import time
import urllib.error
import urllib.request

import corpus
import gates

SF = 0.25
CLIENTS = 2
DECK = (
    "facts_about", "calls_of_tool", "entities_of_conversation", "comentions_of",
    "flows", "facts_about", "mentions_of_kind", "entities_of_conversation",
    "comentions_of", "heavy_hitters",
)
STARTERS = ("facts_about", "calls_of_tool", "entities_of_conversation",
            "mentions_of_kind", "comentions_of")
KINDS = ("location", "tool", "db", "condition", "measure")
# db-query turns flowing to summary turns (the joern-flow analog)
FLOW_SRC = r"^Querying ([a-z_]+) for records about"
FLOW_DST = r"^It is (-?[0-9]+)C and"
GATE_SAMPLES = 2  # facts_about and calls_of_tool requests each, after the loop


def _zipf(rng: random.Random, items: list[str], s: float = 1.1) -> str:
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights)[0]


class Mix:
    """Seeded request generator (endpoint path, JSON body)."""

    def __init__(self, seed: int, conv_ids: list[str]):
        from joern_spark import generator as G

        self.seed = seed
        self.conv_ids = conv_ids
        self.entity_keys = [G.normalize_surface(c) for c in G.HUB_CITIES + G.TAIL_CITIES]
        self.tools = list(G.TOOLS)

    def request(self, rng: random.Random, kind: str) -> tuple[str, dict]:
        if kind == "facts_about":
            return "/query", {"starter": kind, "params": {"key": _zipf(rng, self.entity_keys)}}
        if kind == "calls_of_tool":
            return "/query", {"starter": kind, "params": {"tool": _zipf(rng, self.tools)}}
        if kind == "entities_of_conversation":
            return "/query", {"starter": kind, "params": {"conv_id": rng.choice(self.conv_ids)}}
        if kind == "mentions_of_kind":
            return "/query", {"starter": kind, "params": {"kind": _zipf(rng, list(KINDS))}}
        if kind == "comentions_of":
            return "/query", {"starter": kind, "params": {"key": _zipf(rng, self.entity_keys)}}
        if kind == "heavy_hitters":
            return "/heavy_hitters", {"k": rng.choice((5, 10, 20))}
        return "/flows", {"src_pattern": FLOW_SRC, "dst_pattern": FLOW_DST, "max_depth": 3, "limit": 100}

    def client(self, client_id: int):
        """Endless (kind, path, body) stream for one client. The deck
        order is fixed and each client starts half a deck apart, so the
        two clients' heavy requests overlap the same way in every run;
        the seed draws the keys."""
        rng = random.Random(f"{self.seed}:{client_id}")
        shift = client_id * len(DECK) // CLIENTS
        kinds = DECK[shift:] + DECK[:shift]
        while True:
            for kind in kinds:
                yield (kind, *self.request(rng, kind))


def post(port: int, path: str, body: dict, timeout: float = 120.0) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def prepare(ctx) -> None:
    ctx.turns, conv_ids = corpus.write_corpus(ctx.seed, "query", ctx.sizes["query"], SF)
    ctx.mix = Mix(ctx.seed, conv_ids)


def readiness(ctx) -> None:
    """Workspace.import_code + open of the project the server serves."""
    from joern_spark.workspace import Workspace

    ws = Workspace(ctx.spark, f"{ctx.work}/workspace.json")
    ws.import_code(SF, "bench")
    ctx.workspace = ws


def _ok(status: int, out: dict) -> bool:
    return status == 200 and "error" not in out


def _warm(ctx, port: int) -> None:
    """One request of every kind, untimed (codegen / Python-worker start)."""
    rng = random.Random(f"warm:{ctx.seed}")
    for kind in dict.fromkeys(DECK):
        post(port, *ctx.mix.request(rng, kind))


def _gate_samples(ctx, port: int) -> tuple[list, int]:
    rng = random.Random(f"gate:{ctx.seed}")
    samples, failed = [], 0
    for kind in ("facts_about", "calls_of_tool"):
        for _ in range(GATE_SAMPLES):
            path, body = ctx.mix.request(rng, kind)
            body["limit"] = 10**7
            status, out = post(port, path, body)
            if _ok(status, out):
                samples.append((kind, body["params"], out["rows"]))
            else:
                failed += 1
    return samples, failed


def measure(ctx) -> dict:
    from joern_spark.server import QueryServer

    srv = QueryServer(ctx.workspace).start()
    try:
        lock = threading.Lock()
        lat, errors = [], []
        warmed = threading.Barrier(CLIENTS)
        deadline = None

        def client(cid: int) -> None:
            nonlocal deadline
            # the first deck is an untimed warm-up (codegen, JIT, Python
            # workers) run under the same two-client load; then whole
            # decks until the deadline, so every run has the exact mix
            for i, (kind, path, body) in enumerate(ctx.mix.client(cid)):
                if i == len(DECK):
                    if warmed.wait(timeout=600) == 0:
                        deadline = time.perf_counter() + ctx.seconds
                    warmed.wait(timeout=600)
                if i % len(DECK) == 0 and i > len(DECK) and time.perf_counter() >= deadline:
                    return
                t0 = time.perf_counter()
                try:
                    status, out = post(srv.port, path, body)
                    ok = _ok(status, out)
                except (OSError, ValueError) as e:
                    ok, out = False, {"error": repr(e)}
                t1 = time.perf_counter()
                with lock:
                    if not ok:
                        errors.append((kind, out.get("error")))
                    elif i >= len(DECK):
                        lat.append(t1 - t0)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=ctx.seconds + 600)
        errors += [("client", "still running after the join timeout")
                   for t in threads if t.is_alive()]
        for kind, err in errors:
            ctx.log(f"query {kind} failed: {err}")
        ctx.gate_samples, gate_failed = _gate_samples(ctx, srv.port)
    finally:
        srv.shutdown()
    n = len(lat)
    # closed loop without think time: the rate the clients sustain is
    # CLIENTS / mean latency (Little's law), free of the quantization a
    # count over a fixed window has
    rps = CLIENTS * n / sum(lat) if lat else 0.0
    lat_sorted = sorted(lat)
    p90 = lat_sorted[int(0.9 * (n - 1))] if n else None
    return {
        "latencies": lat,
        "throughput_per_s": rps,
        "attempted": n + len(errors) + 2 * GATE_SAMPLES,
        "failed": len(errors) + gate_failed,
        "summary": {
            "query_p50_s": (statistics.median(lat), "s") if lat else None,
            "query_p90_s": (p90, "s") if lat else None,
            "query_samples": (n, "count"),
            "query_samples_above_p90": (n - 1 - int(0.9 * (n - 1)), "count"),
            "query_rps": (rps, "1/s"),
            "clients": (CLIENTS, "count"),
            "corpus_turns": (ctx.turns, "count"),
        },
    }


def gate(ctx) -> int:
    return gates.query(ctx.gate_samples, SF)


def trace(ctx, tr) -> dict:
    """Per-layer numbers of the query path: every request of one deck
    runs once in-process (workspace plan + console/hetero execution) and
    once over HTTP; the difference is the server's HTTP overhead."""
    from joern_spark import console
    from joern_spark.pipeline import run_pipeline
    from joern_spark.server import QueryServer, _df_payload

    opens, plans = [], []
    for _ in range(2):  # the first open pays codegen; keep it out
        with tr.span("workspace") as s:
            readiness(ctx)
        opens.append(s["end"] - s["start"])
    with tr.span("pipeline") as s:
        run_pipeline(ctx.spark, SF)
    pipeline_plan = s["end"] - s["start"]
    ws = ctx.workspace
    srv = QueryServer(ws).start()
    per_starter = {k: [] for k in STARTERS}
    flows, paths_out, execs, overheads = [], [], [], []
    errors = 0

    def in_process(kind: str, body: dict) -> float:
        t0 = time.perf_counter()
        if kind in STARTERS:
            with tr.span("workspace") as s:
                df = ws.sql(kind, **body["params"])
            plans.append(s["end"] - s["start"])
            with tr.span("console") as s:
                _df_payload(df, 1000)
            per_starter[kind].append(s["end"] - s["start"])
        elif kind == "flows":
            with tr.span("hetero") as s:
                out = _df_payload(
                    console.flows(ws.cpg, body["src_pattern"], body["dst_pattern"],
                                  max_depth=body["max_depth"]),
                    body["limit"],
                )
            flows.append(s["end"] - s["start"])
            paths_out.append(out["n"])
        else:
            with tr.span("console"):
                _df_payload(console.heavy_hitters(ws.cpg, k=body["k"]), 1000)
        return time.perf_counter() - t0

    def over_http(path: str, body: dict) -> float:
        nonlocal errors
        with tr.span("server") as s:
            status, out = post(srv.port, path, body)
        errors += not _ok(status, out)
        return s["end"] - s["start"]

    try:
        _warm(ctx, srv.port)
        stream = ctx.mix.client(0)
        for i in range(len(DECK)):
            kind, path, body = next(stream)
            # alternate which side runs first, so neither gets the warmer run
            if i % 2:
                http = over_http(path, body)
                execs.append(in_process(kind, body))
            else:
                execs.append(in_process(kind, body))
                http = over_http(path, body)
            overheads.append(http - execs[-1])
        ctx.gate_samples, gate_failed = _gate_samples(ctx, srv.port)
    finally:
        srv.shutdown()
    med = statistics.median
    return {
        "workspace.open_s": med(opens[1:]),
        "workspace.plan_s": med(plans),
        "pipeline.plan_s": pipeline_plan,
        **{f"console.{k}.p50_s": med(v) for k, v in per_starter.items() if v},
        "server.exec_s": med(execs),
        "server.http_overhead_s": med(overheads),
        "server.errors": errors + gate_failed,
        "hetero.flows.p50_s": med(flows),
        "hetero.paths_out": med(paths_out),
    }
