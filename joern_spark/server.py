"""Minimal HTTP query server over a Workspace — the exploratory-session
surface (BridgeBase.scala:403-418 boots replpp's HTTP server next to the
interactive shell; this is the transcript-graph analog on the stdlib
`http.server`, no extra dependencies).

Endpoints (JSON in/out):

  GET  /starters            — starter names → SQL templates (console.man)
  GET  /projects            — workspace registry + the active project
  POST /open   {"name"}     — open/switch the active project
  POST /query  {"starter", "params"?, "limit"?}
                            — run a named console starter
  POST /flows  {"src_pattern", "dst_pattern", "max_depth"?,
                "max_crossings"?, "max_nesting"?, "limit"?}
                            — joern-flow analog: regex-selected
                              sources/sinks + reachableByFlows
                              via Workspace.flows: served from the
                              workspace walk cache when its asking
                              turns cover the sources
  POST /heavy_hitters {"k"?, "limit"?}
                            — Count-Min hub-entity estimates over the
                              active project's triples
  POST /quantiles {"qs"?, "limit"?}
                            — histogram-sketch turn-length quantiles
                              per role over the active project
                              (qs defaults to [0.5, 0.9, 0.99])
  POST /boilerplate {"n"?, "min_df"?, "k"?, "limit"?}
                            — repeated turn-text n-gram spans across
                              the active project (template detection)
  POST /skew   {"k"?, "limit"?}
                            — exact key-distribution profile of the
                              active project's triple objects (the
                              salting diagnostic next to the Count-Min
                              estimate)
  POST /tool_seqs {"limit"?}
                            — tool-call bigram mining over the active
                              project (which tool chains agents run)
  POST /pmi    {"k"?, "limit"?}
                            — strongest entity associations by NPMI
  POST /timeline {"limit"?}
                            — per-entity first/last mention + volume
  POST /sql    {"sql", "limit"?}
                            — run SQL over the registered tpg_*/name_*
                              views (TRUSTED surface, exactly like
                              console.run_script: this is the operator's
                              own query port, not a public sandbox —
                              bind stays on localhost by default)

Each endpoint is one `ENDPOINTS` entry. Every query endpoint goes
through the workspace's held graph (`Workspace.sql` / `.cpg` /
`.pinned`): the active project's first request persists its served
layers (workspace.HELD_LAYERS) and later requests read them. `/sql`
holds and pins the active project the same way, so SQL over `tpg_*`
reads the held layers of the project that was active when it arrived.

Responses: {"columns": [...], "rows": [[...], ...], "n": N} for queries,
{"error": msg} with a 4xx/5xx status on failure. Rows are JSON-safe
(timestamps/decimals/bytes stringified). `limit` caps the collect at
DEFAULT_LIMIT unless given — the server never ships an unbounded result
to the driver; a negative `limit` is a 400.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame

from joern_spark import console
from joern_spark.workspace import Workspace

DEFAULT_LIMIT = 1000


def _json_safe(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _df_payload(df, limit: int) -> dict:
    rows = df.limit(limit).collect()
    return {
        "columns": df.columns,
        "rows": [[_json_safe(v) for v in r] for r in rows],
        "n": len(rows),
    }


def _projects(ws: Workspace, req: dict) -> dict:
    return {
        "projects": [
            {"name": p.name, "sf_dir": str(p.sf_dir), "open": p.is_open}
            for p in ws.projects
        ],
        "active": ws.active,
    }


def _query(ws: Workspace, req: dict) -> DataFrame:
    starter = req["starter"]
    if starter not in console.STARTERS:
        raise ValueError(f"unknown starter {starter!r}")
    return ws.sql(starter, **req.get("params", {}))


def _sql(ws: Workspace, req: dict) -> DataFrame:
    # analysed with the active project pinned and held, like /query;
    # 400s cleanly when nothing is active
    with ws.pinned():
        return ws.spark.sql(req["sql"])


def _flows(ws: Workspace, req: dict) -> DataFrame:
    keys = ("max_depth", "max_crossings", "max_nesting")
    budgets = {k: int(req[k]) for k in keys if k in req}
    return ws.flows(req["src_pattern"], req["dst_pattern"], **budgets)


def _quantiles(ws: Workspace, req: dict) -> DataFrame:
    qs = [float(q) for q in req.get("qs", [0.5, 0.9, 0.99])]
    return console.turn_quantiles(ws.cpg, qs=qs)


def _boilerplate(ws: Workspace, req: dict) -> DataFrame:
    return console.boilerplate(
        ws.cpg,
        n=int(req.get("n", 4)),
        min_df=int(req.get("min_df", 2)),
        k=int(req.get("k", 20)),
    )


def _top_k(probe: Callable) -> Callable[[Workspace, dict], DataFrame]:
    """A console probe over the active graph with a `k` (default 20)."""
    return lambda ws, req: probe(ws.cpg, k=int(req.get("k", 20)))


# (method, path) → handler(workspace, request body) → DataFrame | dict.
ENDPOINTS: dict[tuple[str, str], Callable[[Workspace, dict], DataFrame | dict]] = {
    ("GET", "/starters"): lambda ws, req: {n: console.man(n) for n in console.STARTERS},
    ("GET", "/projects"): _projects,
    ("POST", "/open"): lambda ws, req: {"active": ws.open(req["name"]).name},
    ("POST", "/query"): _query,
    ("POST", "/sql"): _sql,
    ("POST", "/flows"): _flows,
    ("POST", "/heavy_hitters"): _top_k(console.heavy_hitters),
    ("POST", "/quantiles"): _quantiles,
    ("POST", "/boilerplate"): _boilerplate,
    ("POST", "/skew"): _top_k(console.skew),
    ("POST", "/tool_seqs"): lambda ws, req: console.tool_seqs(ws.cpg),
    ("POST", "/pmi"): _top_k(console.pmi),
    ("POST", "/timeline"): lambda ws, req: console.timeline(ws.cpg),
}


class QueryServer:
    """Wrap a Workspace in an HTTP server. `port=0` picks an ephemeral
    port (read it back from `.port`); `serve_forever` blocks, `start`
    runs it on a daemon thread (the test/console mode)."""

    def __init__(self, workspace: Workspace, host: str = "127.0.0.1", port: int = 0):
        self.workspace = workspace
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet test output
                pass

            def _send(self, obj, status: int = 200) -> None:
                body = json.dumps(obj).encode("utf-8")
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _dispatch(self) -> None:
                try:
                    handler = ENDPOINTS.get((self.command, self.path))
                    if handler is None:
                        self._send({"error": f"unknown path {self.path}"}, 404)
                        return
                    n = int(self.headers.get("Content-Length", "0"))
                    req = json.loads(self.rfile.read(n) or b"{}")
                    limit = int(req.get("limit", DEFAULT_LIMIT))
                    if limit < 0:
                        raise ValueError(f"limit must be >= 0, got {limit}")
                    out = handler(outer.workspace, req)
                    if isinstance(out, DataFrame):
                        out = _df_payload(out, limit)
                    self._send(out)
                except (KeyError, ValueError, json.JSONDecodeError) as e:
                    self._send({"error": str(e)}, 400)
                except Exception as e:  # noqa: BLE001 — surface as JSON
                    self._send({"error": str(e)}, 500)

            do_GET = do_POST = _dispatch  # noqa: N815 — http.server contract

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._httpd.server_address[:2]

    def start(self) -> "QueryServer":
        import threading

        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()
        return self

    def serve_forever(self) -> None:
        self._httpd.serve_forever()

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def serve(workspace: Workspace, host: str = "127.0.0.1", port: int = 8080) -> None:
    """Blocking entry point: `python -c "...server.serve(ws)"` — the
    `joern --server` analog."""
    QueryServer(workspace, host, port).serve_forever()
