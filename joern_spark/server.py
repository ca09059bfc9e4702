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

Every query endpoint goes through the workspace's held graph
(`Workspace.sql` / `.cpg`): the active project's first request persists
its served layers (workspace.HELD_LAYERS) and later requests read them.
`/sql` holds the active project the same way, so SQL over `tpg_*` reads
the held layers too.

Responses: {"columns": [...], "rows": [[...], ...], "n": N} for queries,
{"error": msg} with a 4xx/5xx status on failure. Rows are JSON-safe
(timestamps/decimals/bytes stringified). `limit` caps the collect at
DEFAULT_LIMIT unless given — the server never ships an unbounded result
to the driver.
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from joern_spark.console import STARTERS, man
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

            def do_GET(self):  # noqa: N802 — http.server contract
                try:
                    if self.path == "/starters":
                        self._send({name: man(name) for name in STARTERS})
                    elif self.path == "/projects":
                        ws = outer.workspace
                        active = ws._active
                        self._send(
                            {
                                "projects": [
                                    {"name": p.name, "sf_dir": str(p.sf_dir),
                                     "open": p.is_open}
                                    for p in ws.projects
                                ],
                                "active": active,
                            }
                        )
                    else:
                        self._send({"error": f"unknown path {self.path}"}, 404)
                except Exception as e:  # noqa: BLE001 — surface as JSON
                    self._send({"error": str(e)}, 500)

            def do_POST(self):  # noqa: N802 — http.server contract
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    req = json.loads(self.rfile.read(n) or b"{}")
                    ws = outer.workspace
                    limit = int(req.get("limit", DEFAULT_LIMIT))
                    if self.path == "/open":
                        p = ws.open(req["name"])
                        self._send({"active": p.name})
                    elif self.path == "/query":
                        starter = req["starter"]
                        if starter not in STARTERS:
                            self._send(
                                {"error": f"unknown starter {starter!r}"}, 400
                            )
                            return
                        df = ws.sql(starter, **req.get("params", {}))
                        self._send(_df_payload(df, limit))
                    elif self.path == "/sql":
                        # hold the active project like /query does;
                        # 400s cleanly when nothing is active
                        ws.project().hold(ws.spark)
                        df = ws.spark.sql(req["sql"])
                        self._send(_df_payload(df, limit))
                    elif self.path == "/flows":
                        # joern-flow analog: regex-selected sources/sinks
                        # + reachableByFlows over the active project
                        from joern_spark.console import flows as _flows

                        df = _flows(
                            ws.cpg,
                            req["src_pattern"],
                            req["dst_pattern"],
                            max_depth=int(req.get("max_depth", 4)),
                            max_crossings=int(req.get("max_crossings", 1)),
                            max_nesting=int(req.get("max_nesting", 1)),
                        )
                        self._send(_df_payload(df, limit))
                    elif self.path == "/heavy_hitters":
                        # Count-Min hub-entity probe over the active
                        # project's triples (console.heavy_hitters)
                        from joern_spark.console import (
                            heavy_hitters as _hh,
                        )

                        df = _hh(ws.cpg, k=int(req.get("k", 20)))
                        self._send(_df_payload(df, limit))
                    elif self.path == "/quantiles":
                        # histogram-sketch turn-length quantiles per
                        # role (console.turn_quantiles)
                        from joern_spark.console import (
                            turn_quantiles as _tq,
                        )

                        qs = [float(q) for q in req.get("qs", [0.5, 0.9, 0.99])]
                        df = _tq(ws.cpg, qs=qs)
                        self._send(_df_payload(df, limit))
                    elif self.path == "/skew":
                        # exact key-skew profile of the triple objects
                        # (console.skew — plans/profile)
                        from joern_spark.console import skew as _sk

                        df = _sk(ws.cpg, k=int(req.get("k", 20)))
                        self._send(_df_payload(df, limit))
                    elif self.path == "/tool_seqs":
                        # tool-call bigram mining (console.tool_seqs)
                        from joern_spark.console import (
                            tool_seqs as _ts,
                        )

                        df = _ts(ws.cpg)
                        self._send(_df_payload(df, limit))
                    elif self.path == "/pmi":
                        # NPMI entity-association probe (console.pmi)
                        from joern_spark.console import pmi as _pmi

                        df = _pmi(ws.cpg, k=int(req.get("k", 20)))
                        self._send(_df_payload(df, limit))
                    elif self.path == "/timeline":
                        # entity freshness probe (console.timeline)
                        from joern_spark.console import (
                            timeline as _tl,
                        )

                        df = _tl(ws.cpg)
                        self._send(_df_payload(df, limit))
                    elif self.path == "/boilerplate":
                        # repeated turn-text n-gram spans across the
                        # active project (console.boilerplate)
                        from joern_spark.console import (
                            boilerplate as _bp,
                        )

                        df = _bp(
                            ws.cpg,
                            n=int(req.get("n", 4)),
                            min_df=int(req.get("min_df", 2)),
                            k=int(req.get("k", 20)),
                        )
                        self._send(_df_payload(df, limit))
                    else:
                        self._send({"error": f"unknown path {self.path}"}, 404)
                except (KeyError, ValueError, json.JSONDecodeError) as e:
                    self._send({"error": str(e)}, 400)
                except Exception as e:  # noqa: BLE001 — surface as JSON
                    self._send({"error": str(e)}, 500)

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
