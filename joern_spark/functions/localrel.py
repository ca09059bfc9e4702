"""JVM-literal local relations for small driver-computed tables.

Driver fast paths (union-find canonicalization, PageRank ≤100k edges,
slice seed sets, the flow-semantics table) produce SMALL row sets that
big distributed plans then consume — usually broadcast — many times.
`spark.createDataFrame(rows)` backs such a table with a Python RDD split
into defaultParallelism pickled partitions, so EVERY downstream
evaluation pays ~32 Python-worker roundtrips (~0.5 s warm at 32 cores),
and `.coalesce(1)` makes it worse, not better: the single merged task
computes all parent partitions sequentially (~5 s warm, measured — the
round-trips serialize instead of overlapping).

`local_df` instead renders the rows as a literal array<struct> exploded
from a one-row range — a pure JVM expression tree evaluated with ZERO
Python-worker involvement at any consumer (sub-ms per evaluation). Rows
beyond `LITERAL_RELATION_MAX` (or containing NULLs, which would need
per-column type annotation) fall back to a `createDataFrame` over ONE
parallelized slice: a downstream evaluation then pays one Python-worker
round trip instead of one per core, and a written table is one parquet
file that a bounded read gets through in one job. At that size the
caller should be using a distributed plan anyway.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Above this the literal expression tree stops being obviously cheap to
# analyze; callers with bigger row sets keep the parallelized fallback.
LITERAL_RELATION_MAX = 4096


def local_df(
    spark: SparkSession, rows: Iterable[Sequence], schema: str
) -> DataFrame:
    """A DataFrame over driver-local `rows` with `schema` (DDL string),
    backed by a JVM literal relation when small (see module docstring).
    Row order is preserved in the single output partition."""
    rows = [tuple(r) for r in rows]
    if (
        not rows
        or len(rows) > LITERAL_RELATION_MAX
        or any(v is None for r in rows for v in r)
    ):
        return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    target = spark.createDataFrame([], schema).schema
    arr = F.array(
        *[
            F.struct(
                *[F.lit(v).alias(f.name) for v, f in zip(r, target.fields)]
            )
            for r in rows
        ]
    )
    # One partition: range(1) alone spans defaultParallelism partitions,
    # so writing the table leaves empty part files that a bounded
    # limit() read of it then scans in extra jobs.
    return (
        spark.range(0, 1, 1, 1)
        .select(F.explode(arr).alias("_kv"))
        .select([F.col(f"_kv.{f.name}") for f in target.fields])
        .to(target)
    )
