"""`build` workload: cold `job.run_job` into a fresh output directory,
then a re-run on the completed output (the no-op resume path).

The traced pass calls the build-path layer functions in the order
`job.run_job` uses, materializing each layer's output before the next
layer reads it, so each span is that layer's self time.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import corpus
import gates

SF = 0.5  # scale-factor label of the directory the program reads; rows are seeded
BUCKETS = 16
MIN_BUILDS = 2  # a cold build is ~6 s after warm-up; the run budget allows two
LAYERS = ("sources", "assemble", "extract", "link", "canonicalize", "rebind", "materialize", "manifest")
STAGES = (
    "s1_turns", "s1_next_turn", "s2_mentions", "s2_triples_raw",
    "s3_linked", "s4_canonical_map", "s5_triples_final",
)


def prepare(ctx) -> None:
    ctx.turns, _ = corpus.write_corpus(ctx.seed, "build", ctx.sizes["build"], SF)


def readiness(ctx) -> None:
    """Open the job's inputs: transcript and entity scans the job starts from."""
    from joern_spark.sources.transcripts import read_entities, read_transcripts

    read_transcripts(ctx.spark, SF).count()
    read_entities(ctx.spark).count()


def _build(ctx, out: str) -> tuple[float, float]:
    """(cold build wall, resume wall) into a fresh `out`."""
    from joern_spark import job

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    job.run_job(ctx.spark, SF, out, BUCKETS)
    t1 = time.perf_counter()
    job.run_job(ctx.spark, SF, out, BUCKETS)
    return t1 - t0, time.perf_counter() - t1


def measure(ctx) -> dict:
    _build(ctx, f"{ctx.work}/build-warm")  # JIT / codegen warm-up, not timed
    builds, resumes = [], []
    attempted = failed = 0
    out = None
    start = time.perf_counter()
    while len(builds) < MIN_BUILDS or time.perf_counter() - start < ctx.seconds:
        prev, out = out, f"{ctx.work}/build-{len(builds) + failed}"
        attempted += 2
        try:
            b, r = _build(ctx, out)
        except Exception:  # noqa: BLE001 — a failed build is counted, not fatal
            ctx.log_exc("build")
            failed += 2
            if failed > 2 * MIN_BUILDS:
                break
            continue
        builds.append(b)
        resumes.append(r)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
    ctx.gate_out = out
    return {
        "latencies": builds,
        "throughput_per_s": ctx.turns / statistics.median(builds) if builds else 0.0,
        "attempted": attempted,
        "failed": failed,
        "summary": {
            "build_turns_per_s": (ctx.turns / statistics.median(builds), "1/s") if builds else None,
            "resume_s": (statistics.median(resumes), "s") if resumes else None,
            "builds": (len(builds), "count"),
            "corpus_turns": (ctx.turns, "count"),
        },
    }


def gate(ctx) -> int:
    return gates.build(ctx.gate_out, SF) if ctx.gate_out else 1


def _layered(ctx, tr, out: str) -> dict:
    """One traced build: the job's stages with every layer's output
    materialized before the next reads it. Returns the materialized
    frames (counted after the trace, outside every span)."""
    from pyspark.sql import functions as F

    from joern_spark.operators import assemble, canonicalize, link, materialize, rebind
    from joern_spark.operators.extract import extract_mentions, extract_triples_raw
    from joern_spark.plans.manifest import BUCKET_COL, StageRunner, input_fingerprint, with_bucket
    from joern_spark.sources.transcripts import read_entities, read_transcripts

    spark = ctx.spark
    keep = []

    def mat(df):
        df = df.persist()
        df.count()
        keep.append(df)
        return df

    with tr.span("sources"):
        t = mat(
            with_bucket(read_transcripts(spark, SF), BUCKETS).repartition(
                BUCKETS, F.col(BUCKET_COL)
            )
        )
        entities = mat(read_entities(spark))
    with tr.span("manifest"):
        runner = StageRunner(spark, out, BUCKETS)
        fps = input_fingerprint(t, ["conv_id", "turn_idx", "text"])
    global_fp = "|".join(f"{b}:{fps[b]}" for b in sorted(fps))
    plain = t.drop(BUCKET_COL)

    def bucketed(df, conv_id_from=None):
        if conv_id_from is not None:
            df = df.withColumn("conv_id", F.split(F.col(conv_id_from), ":")[0])
        return with_bucket(df, BUCKETS)

    def stage(layer, name, make):
        with tr.span(layer):
            df = mat(make())
        with tr.span("manifest"):
            runner.run_stage(name, lambda pending: df.where(F.col(BUCKET_COL).isin(pending)), fps)
        return df

    turns = stage("assemble", "s1_turns", lambda: bucketed(assemble.turn_nodes(plain)))
    stage("assemble", "s1_next_turn",
          lambda: bucketed(assemble.next_turn_edges(plain), conv_id_from="src"))
    mentions = stage("extract", "s2_mentions", lambda: bucketed(extract_mentions(plain)))
    raw = stage("extract", "s2_triples_raw", lambda: bucketed(extract_triples_raw(plain)))
    linked = stage("link", "s3_linked",
                   lambda: bucketed(link.link_mentions(mentions.drop(BUCKET_COL), entities)))
    with tr.span("canonicalize"):
        pairs = mat(canonicalize.same_as_pairs(plain))
        cmap = mat(canonicalize.connected_components(pairs))
    with tr.span("manifest"):
        runner.run_global_stage("s4_canonical_map", lambda: cmap, global_fp)
    with tr.span("rebind"):
        dyn = mat(rebind.dbcur_triples(plain))
    with tr.span("canonicalize"):
        static = mat(canonicalize.canonicalize_triples(raw.drop(BUCKET_COL), cmap))
        dyn_c = mat(canonicalize.canonicalize_triples(dyn, cmap))
    with tr.span("materialize"):
        both = static.unionByName(dyn_c)
        final = mat(materialize.dedup_triples(both))
    with tr.span("manifest"):
        runner.run_global_stage("s5_triples_final", lambda: final, global_fp)
    return {
        "frames": keep, "t": t, "turns": turns, "mentions": mentions, "raw": raw,
        "linked": linked, "pairs": pairs, "cmap": cmap, "both": both, "final": final,
    }


def trace(ctx, tr) -> dict:
    """Per-layer numbers of the build path (see module docstring)."""
    from pyspark.sql import functions as F

    from joern_spark import job
    from joern_spark.generator import transcripts_path
    from joern_spark.plans.manifest import StageRunner

    _build(ctx, f"{ctx.work}/build-warm")  # warm-up, as in the timed run
    out = f"{ctx.work}/build-traced"
    with tr.span("job") as s:
        frames = _layered(ctx, tr, out)
    wall = s["end"] - s["start"]
    # counts, outside every layer span
    linked = frames["linked"]
    n_linked = linked.count()
    counts = {
        "sources.rows_read": frames["t"].count(),
        "assemble.rows_out": frames["turns"].count(),
        "extract.turns_in": frames["t"].count(),
        "extract.mentions_out": frames["mentions"].count(),
        "extract.triples_out": frames["raw"].count(),
        "link.mentions_in": frames["mentions"].count(),
        "link.linked_out": n_linked,
        "link.stub_ratio": linked.where(F.col("is_external")).count() / max(1, n_linked),
        "canonicalize.pairs_in": frames["pairs"].count(),
        "canonicalize.components": frames["cmap"].select("canon").distinct().count(),
        "materialize.triples_in": frames["both"].count(),
        "materialize.triples_out": frames["final"].count(),
    }
    for df in frames["frames"]:
        df.unpersist()

    # untraced job on the same corpus: stage walls, bytes, the resume's
    # skipped buckets and the tracing overhead
    out = f"{ctx.work}/build-untraced"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    job.run_job(ctx.spark, SF, out, BUCKETS)
    untraced = time.perf_counter() - t0
    nbytes, nfiles = corpus.dir_bytes(out)
    job.run_job(ctx.spark, SF, out, BUCKETS, runner=StageRunner(ctx.spark, out, BUCKETS, run_id="resume"))
    rows = []
    mdir = os.path.join(out, "_manifest")
    for name in os.listdir(mdir):
        if name.endswith(".json") and "__" in name:
            with open(os.path.join(mdir, name)) as f:
                rows.append(json.load(f))
    per_stage = {
        f"manifest.stage_wall_s.{st}": max(r["wall_s"] for r in rows if r["stage"] == st)
        for st in STAGES
    }
    ctx.gate_out = out
    src_bytes, _ = corpus.dir_bytes(transcripts_path(SF))
    self_s = tr.self_times()
    return {
        **counts,
        **per_stage,
        **{f"{layer}.self_s": self_s[layer] for layer in LAYERS if layer != "sources"},
        "sources.scan_s": self_s["sources"],
        "trace.wall_s": wall,
        "trace.self_sum_s": wall - self_s["job"],
        "trace.unattributed_s": self_s["job"],
        "trace.overhead_s": wall - untraced,
        "job.wall_s": untraced,
        "sources.bytes_read": src_bytes,
        "manifest.bytes_written": nbytes,
        "manifest.files_written": nfiles,
        "manifest.buckets_skipped_ratio": sum(r["run_id"] != "resume" for r in rows) / len(rows),
    }

