"""Per-stage, per-partition manifest + resumable stage execution.

The reference's resume mechanism is overlay bookkeeping: LayerCreator.run
checks META_DATA.OVERLAYS and *skips a layer that is already applied*
(semanticcpg/.../layers/LayerCreator.scala:20-34, Overlays.scala:10-22).
This module is the distributed version the north rule requires: each
stage's output is partitioned into B deterministic buckets of
conversations; a manifest records (stage, bucket, input_fingerprint,
row count, wall time, run id) only AFTER that bucket's files are fully
written. A killed job therefore resumes by anti-joining the manifest:
completed buckets are skipped byte-for-byte, pending buckets are
(re)written via dynamic partition overwrite — partial files from the
killed attempt are overwritten, never duplicated.

Scale notes: one `repartition(bucket)` up front co-locates every
conv-local stage (assemble/extract/link read the same partitioning —
no further shuffle); the manifest itself is tiny (B rows per stage) and
lives as atomic-renamed JSON files, the same role Iceberg's snapshot
manifest plays on a real cluster. Counters ride in the manifest rows
(the accumulator→metrics requirement): a bucket's `n_rows` is summed
from the parquet footers of the data files just written, so it is
exact, describes the committed files, and costs no Spark job.

`run_dag` is the scheduler over StageRunner stages: each stage runs on
its own thread as soon as the stages it reads are committed (Joern's
LayerCreator runs a layer once its `dependsOn` layers are applied).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterator
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

BUCKET_COL = "_bucket"


class SimulatedKill(RuntimeError):
    """Raised by fault injection in tests to model a mid-job crash."""


def with_bucket(df: DataFrame, n_buckets: int, key: str = "conv_id") -> DataFrame:
    """Deterministic partition assignment. xxhash64 is fine here (internal
    partitioning only — never an oracle-visible value)."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def input_fingerprint(df: DataFrame, cols: list[str]) -> dict[int, str]:
    """Per-bucket order-independent content fingerprint: count + sum of a
    60-bit row hash. One scan; used to detect changed inputs on resume
    (a bucket whose fingerprint changed is recomputed, LayerCreator's
    dependsOn check generalized to data identity)."""
    from joern_spark.functions.hashing import md5_long

    h = md5_long(F.concat_ws("", *[F.col(c).cast("string") for c in cols]))
    rows = (
        df.groupBy(BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("s"))
        .collect()
    )
    return {r[BUCKET_COL]: f"{r['n']}:{r['s']}" for r in rows}


def write_atomic(path: str | Path, text: str) -> None:
    """Write `text` to `path` through a temp file and `os.replace`, so
    `path` always holds the old text or the new, never part of one."""
    tmp = Path(f"{path}.tmp{uuid.uuid4().hex[:8]}")
    try:
        tmp.write_text(text)
        os.replace(tmp, path)
    finally:
        tmp.unlink(missing_ok=True)


def in_buckets(df: DataFrame, buckets: list[int]) -> DataFrame:
    """The rows of `df` in `buckets`, without BUCKET_COL."""
    return df.where(F.col(BUCKET_COL).isin(buckets)).drop(BUCKET_COL)


def footer_rows(directory: str) -> int:
    """Rows in the parquet data files directly under `directory`, read
    from their footers. Only `*.parquet` files count: names starting with
    '_' or '.' (`_SUCCESS`, `.crc` checksums, staging dirs) and other
    extensions are skipped. A missing directory (a bucket that wrote no
    rows) counts 0."""
    if not os.path.isdir(directory):
        return 0
    return sum(
        pq.read_metadata(e.path).num_rows
        for e in os.scandir(directory)
        if e.is_file()
        and e.name.endswith(".parquet")
        and not e.name.startswith(("_", "."))
    )


def run_dag(
    spark: SparkSession, stages: dict[str, tuple[tuple[str, ...], "callable"]]
) -> dict:
    """Run `stages` = {name: (inputs, fn)} concurrently in dependency
    order: `fn(*outputs of inputs)` is submitted as soon as every input
    has returned, so the DAG alone sets how many run at once. Each thread
    inherits the caller's Spark local properties (job group, description,
    scheduler pool).

    On the first failure nothing new is submitted; the call waits for
    every in-flight stage to stop, then re-raises that first error — no
    stage thread outlives the call. Returns {name: fn's result}."""
    done: dict = {}
    pending = dict(stages)
    running: dict = {}
    error: BaseException | None = None
    with ThreadPoolExecutor(len(stages), thread_name_prefix="stage") as pool:
        while True:
            for name, (inputs, fn) in list(pending.items()):
                if error is None and all(i in done for i in inputs):
                    del pending[name]
                    task = inheritable_thread_target(spark)(fn)
                    running[pool.submit(task, *(done[i] for i in inputs))] = name
            if not running:
                break
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = running.pop(fut)
                try:
                    done[name] = fut.result()
                except BaseException as e:  # noqa: BLE001 — re-raised below
                    error = error or e
    if error is not None:
        raise error
    return done


class Manifest:
    """Directory of atomically-renamed JSON rows, one per (stage, bucket)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, stage: str, bucket: int) -> str:
        return os.path.join(self.root, f"{stage}__{bucket:05d}.json")

    def get(self, stage: str, bucket: int) -> dict | None:
        p = self._path(stage, bucket)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit(self, stage: str, bucket: int, row: dict) -> None:
        write_atomic(self._path(stage, bucket), json.dumps(row))

    def completed(self, stage: str) -> dict[int, dict]:
        out = {}
        prefix = f"{stage}__"
        for name in os.listdir(self.root):
            if name.startswith(prefix) and name.endswith(".json"):
                b = int(name[len(prefix) : -5])
                out[b] = self.get(stage, b)
        return out


class StageRunner:
    """Executes bucket-partitioned stages idempotently against a manifest.

    fail_after_buckets: fault injection — raise SimulatedKill after the
    stage has durably completed that many buckets (tests kill-and-rerun).
    """

    def __init__(
        self,
        spark: SparkSession,
        out_root: str,
        n_buckets: int = 16,
        run_id: str | None = None,
        fail_after_buckets: int | None = None,
    ):
        self.spark = spark
        self.out_root = out_root
        self.n_buckets = n_buckets
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.fail_after_buckets = fail_after_buckets
        self.manifest = Manifest(os.path.join(out_root, "_manifest"))
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.out_root, stage)

    def _schema_path(self, stage: str) -> str:
        # ".schema.json" (not "__N.json") so Manifest.completed's
        # bucket-filename parse never sees it
        return os.path.join(self.out_root, "_manifest", f"{stage}.schema.json")

    def _write_schema(self, stage: str, schema) -> None:
        """Persist the stage schema so empty stages (zero rows in every
        bucket) still read back typed instead of failing schema
        inference."""
        write_atomic(self._schema_path(stage), schema.json())

    def read_stage(self, stage: str) -> DataFrame:
        from pyspark.sql import types as T

        path = self._stage_dir(stage)
        sp = self._schema_path(stage)
        if os.path.exists(sp):
            with open(sp) as f:
                schema = T.StructType.fromJson(json.load(f))
            os.makedirs(path, exist_ok=True)
            return self.spark.read.schema(schema).parquet(path)
        return self.spark.read.parquet(path)

    def run_stage(
        self,
        stage: str,
        compute: "callable",
        fingerprints: dict[int, str],
    ) -> DataFrame:
        """compute(buckets: list[int]) -> DataFrame carrying BUCKET_COL.

        Buckets whose manifest row matches the current input fingerprint
        are skipped; the rest are written with dynamic partition
        overwrite (idempotent under crash-rerun), then committed to the
        manifest one bucket at a time with row counters.
        """
        done = self.manifest.completed(stage)
        all_buckets = sorted(fingerprints)
        pending = [
            b
            for b in all_buckets
            if done.get(b) is None or done[b]["fingerprint"] != fingerprints[b]
        ]
        path = self._stage_dir(stage)
        if pending:
            import shutil  # noqa: PLC0415

            t0 = time.time()
            df = compute(pending)
            self._write_schema(stage, df.schema)
            # Dynamic partition overwrite only replaces partitions PRESENT
            # in the new output — a pending bucket whose recompute now
            # yields zero rows would silently keep (and re-commit) its
            # stale files. Drop every pending bucket's directory first so
            # the write starts from a clean slate for exactly those
            # buckets (completed buckets are untouched).
            for b in pending:
                shutil.rmtree(
                    os.path.join(path, f"{BUCKET_COL}={b}"), ignore_errors=True
                )
            (
                df.where(F.col(BUCKET_COL).isin(pending))
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(path)
            )
            wall = time.time() - t0
            for i, b in enumerate(pending):
                if (
                    self.fail_after_buckets is not None
                    and i >= self.fail_after_buckets
                ):
                    raise SimulatedKill(
                        f"injected kill in stage {stage} after {i} bucket commits"
                    )
                self.manifest.commit(
                    stage,
                    b,
                    {
                        "stage": stage,
                        "bucket": b,
                        "fingerprint": fingerprints[b],
                        "n_rows": footer_rows(
                            os.path.join(path, f"{BUCKET_COL}={b}")
                        ),
                        "wall_s": round(wall, 3),
                        "run_id": self.run_id,
                        "ts": time.time(),
                    },
                )
        return self.read_stage(stage)

    def run_global_stage(
        self, stage: str, compute: "callable", fingerprint: str
    ) -> DataFrame:
        """All-or-nothing stage (cross-conversation: canonicalization,
        final dedup) gated by a single manifest row — the direct
        LayerCreator skip-if-applied analog."""
        done = self.manifest.get(stage, 0)
        path = self._stage_dir(stage)
        if done is None or done["fingerprint"] != fingerprint:
            t0 = time.time()
            df = compute()
            self._write_schema(stage, df.schema)
            df.write.mode("overwrite").parquet(path)
            self.manifest.commit(
                stage,
                0,
                {
                    "stage": stage,
                    "bucket": 0,
                    "fingerprint": fingerprint,
                    "n_rows": footer_rows(path),
                    "wall_s": round(time.time() - t0, 3),
                    "run_id": self.run_id,
                    "ts": time.time(),
                },
            )
        return self.read_stage(stage)


@dataclass
class BucketedInput:
    """A job's input as its stages read it: bucketed, repartitioned by
    bucket and cached (`df`), with per-bucket fingerprints (`fps`) and
    the runner that gates its stages."""

    runner: StageRunner
    df: DataFrame
    fps: dict[int, str]

    @property
    def n_buckets(self) -> int:
        return self.runner.n_buckets

    @property
    def global_fp(self) -> str:
        """A global stage's fingerprint: every input bucket's, combined."""
        return "|".join(f"{b}:{self.fps[b]}" for b in sorted(self.fps))


@contextmanager
def bucketed_input(
    spark: SparkSession,
    out_root: str,
    n_buckets: int,
    fail_after_buckets: int | None,
    runner: StageRunner | None,
    df: DataFrame,
    fingerprint_cols: list[str],
    key: str = "conv_id",
) -> Iterator[BucketedInput]:
    """The preamble every StageRunner job shares: `runner` (or a fresh
    one over `out_root`), `df` bucketed on `key` and cached, and its
    fingerprints over `fingerprint_cols`. The cache is dropped when the
    block exits, also when a stage fails."""
    runner = runner or StageRunner(
        spark, out_root, n_buckets, fail_after_buckets=fail_after_buckets
    )
    d = with_bucket(df, runner.n_buckets, key=key).repartition(
        runner.n_buckets, F.col(BUCKET_COL)
    )
    d.cache()
    try:
        yield BucketedInput(runner, d, input_fingerprint(d, fingerprint_cols))
    finally:
        d.unpersist()
