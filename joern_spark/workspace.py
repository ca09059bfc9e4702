"""Workspace / project lifecycle — the WorkspaceManager analog.

The reference console manages a workspace of named projects, each backed
by an input path and a lazily loaded CPG, with `importCode` / `open` /
`close` / `delete` and one ACTIVE project the `cpg` binding points at
(console/src/main/scala/io/joern/console/workspacehandling/
WorkspaceManager.scala:29-126, Console.scala:177-232,306,394-396; each
project persists a small `project.json` with its input path and name,
WorkspaceManager.scala:88-101).

The transcript analog: a `Project` is (name, corpus dir); its graph is
the pipeline's `GraphResult`, planned lazily on first access and cached
on the project. Every project's layers register as `{name}_{layer}` temp
views; the ACTIVE project additionally registers under the default
`tpg_` prefix so the console starters (the `cpg.`-steps analog) always
target it — switching projects re-points `tpg_*` exactly like the
reference re-binds `cpg`. The registry round-trips through a
`workspace.json` manifest (the project.json analog), so a console can
reopen yesterday's corpora by name; graphs are not written to disk —
reopening replans lazily, which is the reference's load-on-open behavior.

Held graph: the reference answers every query from the graph it holds
in memory. Here a project's FIRST query (`Workspace.sql`, `.cpg`, and
through them every server endpoint) persists the layers the starters
and endpoints read (`HELD_LAYERS`, Spark storage at MEMORY_AND_DISK),
so later requests read held rows instead of re-running extract → link →
canonicalize → materialize from parquet. Spark substitutes a held plan
into any identical plan in the session, so the `tpg_*`/`{name}_*` views
and the lazy layers built on the held ones (`edges`) read it too.
`close`, `delete` and a re-import under the same name unpersist them.

Scale note: `open` persists nothing. Planning the graph runs one Spark
step eagerly, the S4 component solve (a bounded read of the alias pairs
and a driver union-find); every other layer costs nothing until it is
touched, and a project that is opened but never queried holds no data.
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
import threading
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from joern_spark import console
from joern_spark import schemas as S
from joern_spark.console import (
    FLOW_CROSSINGS,
    FLOW_DEPTH,
    FLOW_NESTING,
    VIEWS,
    register_views,
)
from joern_spark.functions.hashing import md5_long
from joern_spark.functions.hetero import (
    asking_turns,
    expand_paths_hetero,
    named_flows,
)
from joern_spark.operators.assemble import turn_id
from joern_spark.pipeline import GraphResult, run_pipeline
from joern_spark.plans.manifest import write_atomic

ACTIVE_PREFIX = "tpg_"
# Walks the flow cache keeps on disk, newest fills first (as
# ingest.KEEP_SNAPSHOTS bounds snapshots): every (depth, crossings,
# nesting) budget a client asks for writes a full keep='all' walk.
KEEP_WALKS = 3
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


# The layers console starters and server endpoints read, persisted on a
# project's first query. `edges` is left out on purpose: holding it made
# /flows slower (3.0-3.8 s vs 2.2-2.6 s per request on a 20k-turn
# corpus, 4 vCPU), while left lazy its plan still reads the held
# `linked` and `transcripts`, which Spark substitutes into it.
HELD_LAYERS = ("transcripts", "turns", "mentions", "linked", "triples_final")


@dataclass
class Project:
    """One workspace entry (Project/ProjectFile analog): a named corpus
    plus its lazily built, cached graph, held from its first query on."""

    name: str
    sf_dir: str | float
    _graph: GraphResult | None = field(default=None, repr=False)
    _held: bool = field(default=False, init=False, repr=False)
    _edge_fp: str | None = field(default=None, init=False, repr=False)
    _lock: threading.RLock = field(
        default_factory=threading.RLock, init=False, repr=False, compare=False
    )

    @property
    def is_open(self) -> bool:
        return self._graph is not None

    @property
    def is_held(self) -> bool:
        return self._held

    def graph(self, spark: SparkSession) -> GraphResult:
        """The lazily planned graph; persists nothing."""
        with self._lock:
            if self._graph is None:
                self._graph = run_pipeline(spark, self.sf_dir)
            return self._graph

    def hold(self, spark: SparkSession) -> GraphResult:
        """The graph with `HELD_LAYERS` persisted. The first call marks
        them (each fills on its first scan); concurrent first queries
        wait on the project lock, so each layer is persisted once."""
        with self._lock:
            g = self.graph(spark)
            if not self._held:
                for layer in HELD_LAYERS:
                    getattr(g, layer).persist(StorageLevel.MEMORY_AND_DISK)
                self._held = True
            return g

    def edge_fingerprint(self, spark: SparkSession) -> str:
        """"count:xor" over the held graph's edge table — the row count
        and an order-insensitive bit_xor of row hashes (one scan, no
        overflow, ANSI-safe). Computed on first use and kept until
        `release` drops the graph, so repeated flow requests on a held
        project do not rescan the edges."""
        with self._lock:
            if self._edge_fp is None:
                row = self.hold(spark).edges.select(
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(
                        md5_long(F.concat_ws("|", "src", "dst", "label"))
                    ).alias("x"),
                ).collect()[0]
                self._edge_fp = f"{row['n']}:{row['x']}"
            return self._edge_fp

    def release(self) -> None:
        """Unpersist the held layers and drop the graph; the next access
        replans lazily. Most-derived layer first, so no still-held
        layer is re-planned around one just dropped."""
        with self._lock:
            if self._held:
                for layer in reversed(HELD_LAYERS):
                    getattr(self._graph, layer).unpersist()
            self._graph, self._held, self._edge_fp = None, False, None


class Workspace:
    """Project registry with one active project (WorkspaceManager +
    Console.open/close/delete semantics).

    Two locks, for a server that plans requests on parallel threads:
    the registry lock covers the view registrations, the active project
    and every manifest write, and a request holds it only while it
    resolves, holds and analyses (`pinned`); the fill lock covers a flow
    cache miss and is never taken by a point query."""

    def __init__(self, spark: SparkSession, path: str | Path | None = None):
        self.spark = spark
        self.path = Path(path) if path is not None else None
        self._projects: dict[str, Project] = {}
        self._active: str | None = None
        self._lock = threading.RLock()
        self._fill_lock = threading.Lock()
        if self.path is not None:
            for name, sf_dir in self._read_manifest().items():
                if name.startswith("_"):  # manifest metadata (_flow_cache)
                    continue
                self._projects[name] = Project(name, sf_dir)

    # -- registry ------------------------------------------------------

    @property
    def projects(self) -> list[Project]:
        return list(self._projects.values())

    @property
    def active(self) -> str | None:
        """The active project's name (None when nothing is open)."""
        return self._active

    def project(self, name: str | None = None) -> Project:
        """Named project, or the active one (Console.project analog —
        raises if nothing is active, like the reference's error)."""
        if name is None:
            if self._active is None:
                raise ValueError("no active project — import_code/open first")
            name = self._active
        return self._projects[name]

    @property
    def cpg(self) -> GraphResult:
        """The active project's graph (the console `cpg` binding), held
        from this query on."""
        return self.project().hold(self.spark)

    @contextmanager
    def pinned(self) -> Iterator[GraphResult]:
        """The active project's held graph, with no `open`/`close` until
        the block exits. Spark resolves temp views when it analyses a
        query, so SQL over `tpg_*` analysed inside the block stays on
        this project even if the views are re-pointed right after."""
        with self._lock:
            yield self.cpg

    # -- lifecycle -----------------------------------------------------

    def import_code(self, sf_dir: str | float, name: str) -> Project:
        """Create (or replace) a project for a corpus and make it active
        — the importCode lifecycle (Console.scala:306 → §3.1)."""
        if not _NAME_RE.match(name):
            raise ValueError(
                f"project name {name!r} must be a valid view-prefix identifier"
            )
        with self._lock:
            if name in self._projects:
                self._projects[name].release()
            self._projects[name] = Project(name, sf_dir)
            self._save()
            return self.open(name)

    def open(self, name: str) -> Project:
        """Make `name` active: build/reuse its graph, register its views
        under `{name}_` AND re-point the default `tpg_*` views at it
        (Console.open, Console.scala:177-196)."""
        with self._lock:
            p = self._projects[name]
            g = p.graph(self.spark)
            register_views(g, prefix=f"{name}_")
            register_views(g, prefix=ACTIVE_PREFIX)
            self._active = name
            return p

    def close(self, name: str | None = None) -> Project:
        """Drop the project's views, unpersist its held layers and drop
        its cached graph; an empty name closes the active project
        (Console.close, Console.scala:394-396). The registry entry stays
        — `open` replans lazily."""
        with self._lock:
            p = self.project(name)
            for layer in VIEWS:
                self.spark.catalog.dropTempView(f"{p.name}_{layer}")
            if self._active == p.name:
                for layer in VIEWS:
                    self.spark.catalog.dropTempView(f"{ACTIVE_PREFIX}{layer}")
                self._active = None
            p.release()
            return p

    def delete(self, name: str) -> None:
        """Remove a project from the registry entirely
        (WorkspaceManager.removeProject, WorkspaceManager.scala:68)."""
        with self._lock:
            self.close(name)  # dropTempView is a no-op for never-opened projects
            del self._projects[name]
            self._save()

    # -- flow-path walk cache -------------------------------------------
    #
    # The reference holds flow results across repeated queries in one
    # session (Engine.scala:133-143 dispatches solver tasks against a
    # shared result table; HeldTaskCompletion finishes outstanding ones).
    # Here the expensive shared artifact is the keep='all' realizable
    # walk from every asking turn; this cache persists it ACROSS
    # sessions: parquet under <workspace>_flowcache/<key>/, keyed in the
    # manifest by (edge-table fingerprint, walk budgets), so tomorrow's
    # console reopens today's corpus and flow queries skip the walk.
    #
    # `flows` is the one flow entry point (the server's /flows calls
    # it); it and the walk share console.flows's budget defaults. A miss
    # walks, writes and records the key under the fill lock, so two
    # first requests fill one directory once. Each fill keeps the
    # newest KEEP_WALKS keys and deletes every other directory under
    # the cache root, so clients choosing budgets cannot grow it.

    def walk_key(
        self,
        max_depth: int = FLOW_DEPTH,
        max_crossings: int = FLOW_CROSSINGS,
        max_nesting: int = FLOW_NESTING,
    ) -> str:
        """Cache key of the active project's walk at these budgets."""
        return _walk_key(
            self.project(), self.spark, max_depth, max_crossings, max_nesting
        )

    def cached_walk(
        self,
        max_depth: int = FLOW_DEPTH,
        max_crossings: int = FLOW_CROSSINGS,
        max_nesting: int = FLOW_NESTING,
    ) -> tuple[DataFrame, bool]:
        """(keep='all' walk, cache_hit): the canonical realizable walk
        from the queried_about starting points — read back from the
        workspace flow cache when the key matches, else computed once,
        written, and recorded in the manifest. Without a manifest path
        the walk is computed uncached (a scratch workspace)."""
        return self._cached_walk(self.project(), max_depth, max_crossings, max_nesting)

    def _cached_walk(self, p: Project, *budgets: int) -> tuple[DataFrame, bool]:
        g = p.hold(self.spark)
        if self.path is None:
            return _walk(g, *budgets), False
        root = self.path.parent / f"{self.path.stem}_flowcache"
        key = _walk_key(p, self.spark, *budgets)
        cache_dir = root / key
        hit = (cache_dir / "_SUCCESS").exists()
        if not hit:
            with self._fill_lock:
                hit = (cache_dir / "_SUCCESS").exists()
                if not hit:
                    _walk(g, *budgets).write.mode("overwrite").parquet(str(cache_dir))
                    self._keep_newest_walks(root, key)
        return self.spark.read.parquet(str(cache_dir)), hit

    def _keep_newest_walks(self, root: Path, key: str) -> None:
        """Record `key` as the newest cached walk in the manifest, keep
        the newest KEEP_WALKS there, and delete every other directory
        under `root` (runs under the fill lock)."""
        with self._lock:
            manifest = self._read_manifest()
            keys = [k for k in manifest.get("_flow_cache", {}) if k != key]
            kept = (keys + [key])[-KEEP_WALKS:]
            manifest["_flow_cache"] = {k: str(root / k) for k in kept}
            self._write_manifest(manifest)
        for d in root.iterdir():
            if d.name not in kept:
                shutil.rmtree(d, ignore_errors=True)

    def flows(
        self,
        src_pattern: str,
        dst_pattern: str,
        max_depth: int = FLOW_DEPTH,
        max_crossings: int = FLOW_CROSSINGS,
        max_nesting: int = FLOW_NESTING,
    ) -> DataFrame:
        """Named flow, the rows of console.flows: when every
        src_pattern-matched turn is an asking turn (one cheap anti-join
        probe), the result derives from the cached walk with three
        semi-joins; otherwise, or without a manifest path to cache
        under, it is a fresh regex-seeded walk (console.flows)."""
        p = self.project()
        g = p.hold(self.spark)
        budgets = (max_depth, max_crossings, max_nesting)
        if self.path is not None:
            wanted = g.transcripts.where(F.col("text").rlike(src_pattern))
            uncovered = wanted.select(turn_id().alias("id")).join(
                asking_turns(g.triples_raw), "id", "left_anti"
            )
            if uncovered.limit(1).count() == 0:
                paths, _ = self._cached_walk(p, *budgets)
                return console.flow_rows(
                    named_flows(
                        g.transcripts,
                        src_pattern,
                        dst_pattern,
                        max_depth=max_depth,
                        max_crossings=max_crossings,
                        paths=paths,
                    )
                )
        return console.flows(g, src_pattern, dst_pattern, *budgets)

    # -- queries -------------------------------------------------------

    def sql(self, starter: str, **params: str) -> DataFrame:
        """Run a console starter against the ACTIVE project's held
        layers (raises if nothing is active)."""
        with self.pinned():
            return console.sql(self.spark, starter, **params)

    def _save(self) -> None:
        if self.path is not None:
            meta = {
                k: v for k, v in self._read_manifest().items() if k.startswith("_")
            }
            meta.update({p.name: p.sf_dir for p in self.projects})
            self._write_manifest(meta)

    def _read_manifest(self) -> dict:
        return json.loads(self.path.read_text()) if self.path.exists() else {}

    def _write_manifest(self, manifest: dict) -> None:
        # atomic: a write that dies part-way leaves the previous manifest
        write_atomic(self.path, json.dumps(manifest, indent=1))


def _walk(
    g: GraphResult, max_depth: int, max_crossings: int, max_nesting: int
) -> DataFrame:
    """The keep='all' realizable walk from every asking turn."""
    return expand_paths_hetero(
        asking_turns(g.triples_raw),
        g.edges.where(F.col("label") != S.CONTAINS),
        max_depth=max_depth,
        max_crossings=max_crossings,
        max_nesting=max_nesting,
        keep="all",
    )


def _walk_key(p: Project, spark: SparkSession, *budgets: int) -> str:
    """Cache key: md5 over the project's edge fingerprint and the walk
    budgets. A corpus or semantics change flips the fingerprint and
    misses cleanly."""
    raw = ":".join([p.edge_fingerprint(spark), *map(str, budgets)])
    return hashlib.md5(raw.encode()).hexdigest()[:16]
