"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,query,ingest} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the root of a source checkout. Everything the run writes
(seeded corpora, job outputs, Spark local dirs, event logs, spans) goes
under `.perfbench_work/` in that checkout. The last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}; the lines
before it name every metric with its unit, the workload-specific
figures (build_turns_per_s, resume_s, query_p90_s with its sample
count, ingest_write_amp, fail_ratio, ...) and the pinned environment.

--trace 0 measures the end-to-end metrics with tracing off. --trace 1
records spans around every layer call and reads Spark's event log for
per-layer engine counters; whatever --workload names, it runs the
traced pass of all three workloads once, so every layer gets numbers
from a path that exercises it. --smoke shrinks every corpus for
the benchmark's own test (perfbench/test_smoke.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {"build": 40_000, "query": 20_000, "ingest_file": 10_000}
SMOKE_SIZES = {"build": 3_000, "query": 3_000, "ingest_file": 1_500}
READINESS_REPS = 3


class Ctx:
    """State one run shares between its workload modules."""

    def __init__(self, args, work: str, sizes: dict, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.sizes = sizes
        self.cores = cores
        self.spark = None

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def log_exc(self, what: str) -> None:
        self.log(f"{what} failed:\n{traceback.format_exc()}")


def _driver_mem_gb() -> int:
    """A fixed-size driver heap that fits the host: a quarter of RAM,
    at most 3 GiB (session.py pre-touches the whole heap)."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(3, kb // (4 * 1024 * 1024)))


def pin_env(work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_DRIVER_MEM": f"{_driver_mem_gb()}g",
        "JOERN_SPARK_DATA": f"{work}/data",
        "TMPDIR": f"{work}/tmp",
        # no hsperfdata: HotSpot writes it to /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


def start_spark(work: str, trace: bool):
    from joern_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure it is gone either way
            proc.kill()
            proc.wait()


def run_untraced(ctx, mod) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    ctx.spark = start_spark(ctx.work, trace=False)
    session_s = time.perf_counter() - t0
    ready = []
    for _ in range(READINESS_REPS):
        t0 = time.perf_counter()
        mod.readiness(ctx)
        ready.append(time.perf_counter() - t0)
    res = mod.measure(ctx)
    lat = res["latencies"]
    metrics = {
        "setup_s": session_s + statistics.median(ready),
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
        "throughput_per_s": res["throughput_per_s"],
    }
    summary = dict(res["summary"])
    summary["session_start_s"] = (session_s, "s")
    summary["readiness_p50_s"] = (statistics.median(ready), "s")
    summary["latency_samples"] = (len(lat), "count")
    return metrics, res | {"summary": summary}


def run_traced(ctx, name: str, modules: dict) -> tuple[dict, dict]:
    from metrics import ENGINE, ENGINE_LAYERS
    from tracing import Tracer, engine_counters

    tr = Tracer()
    ctx.spark = start_spark(ctx.work, trace=True)
    per_layer, attempted, mismatches = {}, 0, 0
    for wl, mod in modules.items():
        mod.prepare(ctx)
        if wl == "ingest":
            mod.readiness(ctx)
        per_layer.update(mod.trace(ctx, tr))
        m = mod.gate(ctx)
        ctx.log(f"gate {wl}: {m} mismatching rows")
        attempted += 1
        mismatches += m != 0
    stop_spark(ctx.spark)
    ctx.spark = None
    counters = engine_counters(f"{ctx.work}/eventlog", tr, ctx.cores)
    for layer in ENGINE_LAYERS:
        for k in ENGINE:
            per_layer[f"{layer}.{k}"] = counters.get(layer, {}).get(k, 0.0)
    tr.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{name}.json"))
    return per_layer, {
        "attempted": attempted + per_layer["server.errors"],
        "failed": mismatches + per_layer["server.errors"],
        "summary": {},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("build", "query", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "joern_spark", "job.py")):
        print(f"no program source next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work)
    sys.path.insert(0, ROOT)
    import build  # noqa: PLC0415 — after the environment is pinned
    import ingest
    import query
    from metrics import END_TO_END, PER_LAYER

    modules = {"build": build, "query": query, "ingest": ingest}
    sizes = SMOKE_SIZES if args.smoke else SIZES
    ctx = Ctx(args, work, sizes, int(env["SPARK_GRAFT_CPUS"]))
    catalog = PER_LAYER if args.trace else END_TO_END
    try:
        if args.trace:
            metrics, res = run_traced(ctx, args.workload, modules)
        else:
            mod = modules[args.workload]
            mod.prepare(ctx)
            metrics, res = run_untraced(ctx, mod)
            m = mod.gate(ctx)
            ctx.log(f"gate {args.workload}: {m} mismatching rows")
            res["attempted"] += 1
            res["failed"] += m != 0
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)

    missing = sorted(set(catalog) - set(metrics))
    for k in missing:
        ctx.log(f"metric {k} was not measured")
    attempted, failed = res["attempted"], res["failed"] + len(missing)
    summary = res["summary"] | {"fail_ratio": (failed / max(1, attempted), "ratio")}
    print("env " + json.dumps(env | {"seed": args.seed, "workload": args.workload}))
    for k, v in summary.items():
        if v is not None:
            print(f"{args.workload}.{k} = {v[0]:.6g} {v[1]}")
    for k in catalog:
        if k in metrics:
            print(f"{k} = {metrics[k]:.6g} {catalog[k][0]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": catalog[k][0]} for k in catalog if k in metrics},
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
