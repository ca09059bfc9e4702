"""`ingest` workload: a closed loop with one producer. Each step lands one
file of whole conversations in the landing directory, then drains it
with `ingest.run_increment` (streamed triple extraction) and
`ingest.run_alias_increment` (canonical-map fold); only then does the
next file land. Freshness is the time from a file finishing landing
until both its triples and its canonical map are committed.
"""

from __future__ import annotations

import os
import statistics
import time

import corpus
import gates

SF = 0.125  # the landing dir is this scale factor's corpus dir (the oracle's input)
MIN_DRAINS = 6  # drains are ~2 s; fewer samples make the median wander


class Landing:
    """Consecutive seeded files of whole conversations."""

    def __init__(self, ctx):
        from joern_spark.generator import transcripts_path

        self.ctx = ctx
        self.dir = transcripts_path(SF)
        self.base, _ = corpus.conv_range(ctx.seed, "ingest", 1)
        self.next_conv = self.base
        self.files = 0
        self.bytes = 0
        self.turns = 0
        os.makedirs(self.dir, exist_ok=True)

    def next_frame(self):
        lo, hi = corpus.conv_range(
            self.ctx.seed, "ingest", self.ctx.sizes["ingest_file"], self.next_conv - self.base
        )
        self.next_conv = hi
        return corpus.frame(lo, hi)

    def land(self, df) -> None:
        n = corpus.write_parquet(df, os.path.join(self.dir, f"part-{self.files:05d}.parquet"))
        self.files += 1
        self.bytes += n
        self.turns += len(df)


def _dirs(ctx) -> dict[str, str]:
    d = f"{ctx.work}/ingest"
    return {k: f"{d}/{k}" for k in ("out", "ckpt_extract", "state", "ckpt_alias")}


def prepare(ctx) -> None:
    ctx.landing = Landing(ctx)
    ctx.ingest_dirs = _dirs(ctx)


def _drain(ctx) -> tuple[float, float]:
    from joern_spark.streaming import ingest

    d = ctx.ingest_dirs
    t0 = time.perf_counter()
    ingest.run_increment(ctx.spark, ctx.landing.dir, d["out"], d["ckpt_extract"])
    t1 = time.perf_counter()
    ingest.run_alias_increment(ctx.spark, ctx.landing.dir, d["state"], d["ckpt_alias"])
    return t1 - t0, time.perf_counter() - t1


def readiness(ctx) -> None:
    """A drain with nothing new landed: stream start, offset and commit
    logs, the per-drain fixed cost."""
    _drain(ctx)


def _written(ctx) -> int:
    return sum(corpus.dir_bytes(p)[0] for p in ctx.ingest_dirs.values())


def _step(ctx) -> tuple[float, float, float]:
    """Land one file and drain it: (freshness, extract drain, alias drain)."""
    df = ctx.landing.next_frame()  # input generation, before landing
    ctx.landing.land(df)
    t_landed = time.perf_counter()
    ext, ali = _drain(ctx)
    return time.perf_counter() - t_landed, ext, ali


def measure(ctx) -> dict:
    _step(ctx)  # the first drain of a session pays codegen; not timed
    landed0, written0 = ctx.landing.bytes, _written(ctx)
    fresh, ext, ali, rates = [], [], [], []
    attempted = failed = 0
    start = time.perf_counter()
    while len(fresh) < MIN_DRAINS or time.perf_counter() - start < ctx.seconds:
        attempted += 1
        turns = ctx.landing.turns
        try:
            f, e, a = _step(ctx)
        except Exception:  # noqa: BLE001 — a failed drain is counted, not fatal
            ctx.log_exc("ingest drain")
            failed += 1
            if failed > MIN_DRAINS:
                break
            continue
        fresh.append(f)
        ext.append(e)
        ali.append(a)
        rates.append((ctx.landing.turns - turns) / f)
    amp = (_written(ctx) - written0) / max(1, ctx.landing.bytes - landed0)
    return {
        "latencies": fresh,
        "throughput_per_s": statistics.median(rates) if rates else 0.0,
        "attempted": attempted,
        "failed": failed,
        "summary": {
            "ingest_freshness_p50_s": (statistics.median(fresh), "s") if fresh else None,
            "ingest_write_amp": (amp, "ratio"),
            "extract_drain_p50_s": (statistics.median(ext), "s") if ext else None,
            "alias_drain_p50_s": (statistics.median(ali), "s") if ali else None,
            "drains": (len(fresh), "count"),
            "file_turns": (ctx.sizes["ingest_file"], "count"),
        },
    }


def _cmap_dir(ctx) -> str:
    state = ctx.ingest_dirs["state"]
    with open(os.path.join(state, "CURRENT")) as f:
        return os.path.join(state, f.read().strip())


def gate(ctx) -> int:
    return gates.ingest(ctx.ingest_dirs["out"], _cmap_dir(ctx), SF)


def trace(ctx, tr) -> dict:
    """Per-layer numbers of the write path: one untraced warm-up step,
    then one traced land-and-drain step."""
    from joern_spark.streaming import ingest

    _step(ctx)
    ctx.landing.land(ctx.landing.next_frame())
    d = ctx.ingest_dirs
    with tr.span("ingest") as ext:
        ingest.run_increment(ctx.spark, ctx.landing.dir, d["out"], d["ckpt_extract"])
    with tr.span("ingest") as ali:
        ingest.run_alias_increment(ctx.spark, ctx.landing.dir, d["state"], d["ckpt_alias"])
    state = d["state"]
    return {
        "ingest.extract_drain_s": ext["end"] - ext["start"],
        "ingest.alias_drain_s": ali["end"] - ali["start"],
        "ingest.rows_drained": ctx.landing.turns,
        "ingest.bytes_written": sum(
            corpus.dir_bytes(ctx.ingest_dirs[k])[0] for k in ("out", "ckpt_extract", "ckpt_alias")
        ),
        "ingest.state_bytes": corpus.dir_bytes(state)[0],
        "ingest.snapshots": sum(n.startswith("cmap-") for n in os.listdir(state)),
    }
