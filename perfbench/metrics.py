"""Metric catalog: end-to-end metrics (untraced runs) and per-layer
metrics (traced runs), each with its unit and better direction. Names
and units here are the ones BENCHMARK.json lists."""

from __future__ import annotations

END_TO_END = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
}

ENGINE_LAYERS = (
    "sources", "assemble", "extract", "link", "canonicalize", "rebind",
    "materialize", "manifest", "workspace", "console", "hetero", "ingest",
)
ENGINE = {
    "shuffle_write_bytes": ("bytes", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "gc_share": ("ratio", "lower"),
    "cpu_util": ("ratio", "higher"),
    "task_skew": ("ratio", "lower"),
}

_S, _N = ("s", "lower"), ("count", "higher")
PER_LAYER = {
    "sources.scan_s": _S,
    "sources.rows_read": _N,
    "sources.bytes_read": ("bytes", "lower"),
    "assemble.self_s": _S,
    "assemble.rows_out": _N,
    "extract.self_s": _S,
    "extract.turns_in": _N,
    "extract.mentions_out": _N,
    "extract.triples_out": _N,
    "link.self_s": _S,
    "link.mentions_in": _N,
    "link.linked_out": _N,
    "link.stub_ratio": ("ratio", "lower"),
    "canonicalize.self_s": _S,
    "canonicalize.pairs_in": _N,
    "canonicalize.components": _N,
    "rebind.self_s": _S,
    "materialize.self_s": _S,
    "materialize.triples_in": _N,
    "materialize.triples_out": _N,
    "manifest.self_s": _S,
    **{
        f"manifest.stage_wall_s.{st}": _S
        for st in (
            "s1_turns", "s1_next_turn", "s2_mentions", "s2_triples_raw",
            "s3_linked", "s4_canonical_map", "s5_triples_final",
        )
    },
    "manifest.bytes_written": ("bytes", "lower"),
    "manifest.files_written": ("count", "lower"),
    "manifest.buckets_skipped_ratio": ("ratio", "higher"),
    "job.wall_s": _S,
    "pipeline.plan_s": _S,
    "workspace.open_s": _S,
    "workspace.plan_s": _S,
    **{
        f"console.{k}.p50_s": _S
        for k in (
            "facts_about", "calls_of_tool", "entities_of_conversation",
            "mentions_of_kind", "comentions_of",
        )
    },
    "server.exec_s": _S,
    "server.http_overhead_s": _S,
    "server.errors": ("count", "lower"),
    "hetero.flows.p50_s": _S,
    "hetero.paths_out": _N,
    "ingest.extract_drain_s": _S,
    "ingest.alias_drain_s": _S,
    "ingest.rows_drained": _N,
    "ingest.bytes_written": ("bytes", "lower"),
    "ingest.state_bytes": ("bytes", "lower"),
    "ingest.snapshots": ("count", "lower"),
    "trace.wall_s": _S,
    "trace.self_sum_s": _S,
    "trace.unattributed_s": _S,
    "trace.overhead_s": _S,
    **{f"{layer}.{k}": v for layer in ENGINE_LAYERS for k, v in ENGINE.items()},
}
