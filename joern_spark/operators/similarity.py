"""Similarity search over the `embeddings` table
(vec_id, embedding array<float>, label): brute-force cosine top-k as the
exact baseline, random-hyperplane LSH bucketing as the scale path, and
cosine near-duplicate pairs for embedding-based dedup.

Everything stays JVM-side: dot products are `zip_with` + `aggregate`
(whole-stage codegen over the array, no Python). The reference has no
vector ops — this is the training-data-pipeline extension the engine
needs at 100 TB (dedup / retrieval over embedding columns).

Scale notes:
  * brute force is O(n²·d) — correct at any n but only affordable as the
    per-bucket kernel; it is the verification oracle for the ANN path.
  * LSH: NPLANES deterministic integer hyperplanes (md5-derived, so the
    DuckDB oracle reproduces the buckets exactly) → 2^NPLANES buckets →
    per-bucket brute force. At cluster scale you shuffle once on
    bucket id (AQE splits hub buckets) and run the kernel per bucket;
    multiple hyperplane tables raise recall multiplicatively.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from joern_spark.functions.hashing import md5_long_py

TOP_K = 5
NPLANES = 4
DIM = 64
COSINE_DUP_THRESHOLD = 0.45

# Multiprobe multi-table ANN parameters (tuned offline against the
# brute-force oracle: recall 0.91 at 500 vecs / 0.93 at 2000 vecs with a
# 0.60 candidate fraction — the cheapest config tried with recall ≥ 0.85
# at both scales; the pytest gate asserts ≥ 0.8).
MULTI_NPLANES = 8
MULTI_PROBE_H = 2
MULTI_TABLES = 6

# Exact-kernel blocking: rows per block for the block-cogrouped BLAS
# kernels (each task multiplies a ≤BLOCK_ROWS² tile — bounded executor
# memory at any table size, no driver materialization anywhere).
BLOCK_ROWS = 4096


def probe_masks(nplanes: int = MULTI_NPLANES, h: int = MULTI_PROBE_H) -> list[int]:
    """All XOR masks with ≤ h bits over nplanes bits — probing
    `bucket ^ mask` reaches every bucket within Hamming distance h of a
    vector's own signature (standard multiprobe LSH: spends extra probe
    lookups instead of extra hash tables to buy recall)."""
    import itertools  # noqa: PLC0415

    masks = [0]
    for hh in range(1, h + 1):
        for c in itertools.combinations(range(nplanes), hh):
            masks.append(sum(1 << b for b in c))
    return masks


def hyperplanes(
    nplanes: int = NPLANES, dim: int = DIM, offset: int = 0
) -> list[list[int]]:
    """Deterministic integer hyperplanes in [-1000, 1000], derived from
    md5 so the SQL oracle can embed the identical literals. `offset`
    selects an independent table (plane indices offset..offset+nplanes)."""
    return [
        [md5_long_py(f"plane:{offset + p}:{d}") % 2001 - 1000 for d in range(dim)]
        for p in range(nplanes)
    ]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _normed(embeddings: DataFrame) -> DataFrame:
    e = F.col("embedding")
    return embeddings.select(
        "vec_id", "embedding", F.sqrt(_dot(e, e)).alias("norm")
    )


def _pair_sims(left: DataFrame, right: DataFrame) -> DataFrame:
    """(src, dst, sim) for the cross of two pre-normed sides."""
    x = left.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    y = right.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    return (
        x.crossJoin(y)
        .where(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )


def _pair_sims_arrow(pairs: DataFrame, normed: DataFrame) -> DataFrame:
    """Exact cosine for an irregular (src, dst) candidate-pair set via
    Arrow-batched numpy row dots (einsum over the whole batch) — ~5-10×
    the zip_with/aggregate JVM fold on million-pair candidate sets, same
    float64 math. The joins attach embeddings to the pairs (two hash
    joins keyed on vec_id); the Python boundary moves one Arrow batch per
    partition, never per row."""
    import numpy as np  # noqa: PLC0415

    x = normed.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    y = normed.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    j = pairs.join(x, "src").join(y, "dst")

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if pdf.empty:
                continue
            ea = np.array(list(pdf["ea"]), dtype=np.float64)
            eb = np.array(list(pdf["eb"]), dtype=np.float64)
            sim = np.einsum("ij,ij->i", ea, eb) / (
                pdf["na"].to_numpy() * pdf["nb"].to_numpy()
            )
            yield pd.DataFrame({"src": pdf["src"], "dst": pdf["dst"], "sim": sim})

    return j.mapInPandas(run, "src long, dst long, sim double")


def _topk(sims: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "rank", "sim")
    )


def cosine_topk_bruteforce(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k neighbors for every vector (O(n²·d) kernel)."""
    n = _normed(embeddings)
    return _topk(_pair_sims(n, n), k)


def _n_blocks(embeddings: DataFrame, block_rows: int) -> int:
    """Block count from a cheap O(1) count aggregate (at cluster scale
    this comes from table statistics — never from materializing rows)."""
    import math  # noqa: PLC0415

    return max(1, math.ceil(embeddings.count() / block_rows))


def _block_pair_grids(
    embeddings: DataFrame, nb: int, triangular: bool, extra_cols: tuple = ()
):
    """(query_side, index_side) DataFrames keyed by (qb, ib) block-pair ids
    for the block-cogrouped exact kernels. Each vector lands in block
    hash(vec_id) % nb; the query side replicates each row across its
    (qb, *) row of the grid and the index side across its (*, ib) column,
    so cogroup (qb, ib) holds exactly block qb's queries and block ib's
    index vectors. `triangular` keeps only qb ≤ ib (symmetric-output
    kernels score each unordered block pair once — half the FLOPs).
    `extra_cols` ride along for kernels that filter on more than the
    vectors (e.g. the hard-negative label mask)."""
    blocks = F.array(*[F.lit(i) for i in range(nb)])
    e = embeddings.select(
        "vec_id",
        "embedding",
        *extra_cols,
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(nb)).cast("int").alias("own"),
    )
    if triangular:
        q = e.select(
            F.col("own").alias("qb"),
            F.explode(F.filter(blocks, lambda b: b >= F.col("own"))).alias("ib"),
            "vec_id",
            "embedding",
            *extra_cols,
        )
        idx = e.select(
            F.explode(F.filter(blocks, lambda b: b <= F.col("own"))).alias("qb"),
            F.col("own").alias("ib"),
            "vec_id",
            "embedding",
            *extra_cols,
        )
    else:
        q = e.select(
            F.col("own").alias("qb"),
            F.explode(blocks).alias("ib"),
            "vec_id",
            "embedding",
            *extra_cols,
        )
        idx = e.select(
            F.explode(blocks).alias("qb"),
            F.col("own").alias("ib"),
            "vec_id",
            "embedding",
            *extra_cols,
        )
    return q, idx


def cosine_topk_matmul(
    embeddings: DataFrame, k: int = TOP_K, block_rows: int = BLOCK_ROWS
) -> DataFrame:
    """Exact cosine top-k via a distributed block-matrix product: vectors
    are hashed into ⌈n/block_rows⌉ blocks, every (query-block,
    index-block) tile is scored with one BLAS matmul inside a cogrouped
    applyInPandas, each tile emits its per-src top-k, and a final window
    reduces the ≤ nb·k candidates per src to the global top-k. Identical
    results to the zip_with plan (asserted in tests) at ~10× the speed,
    and — unlike a broadcast-index design — no driver materialization and
    O(block_rows²) executor memory at any table size."""
    import numpy as np  # noqa: PLC0415

    nb = _n_blocks(embeddings, block_rows)
    q, idx = _block_pair_grids(embeddings, nb, triangular=False)

    def tile(left, right):
        import pandas as pd  # noqa: PLC0415

        if left.empty or right.empty:
            return pd.DataFrame(columns=["src", "dst", "sim"])
        qi = np.asarray(left["vec_id"], dtype=np.int64)
        ii = np.asarray(right["vec_id"], dtype=np.int64)
        x = np.array(list(left["embedding"]), dtype=np.float64)
        y = np.array(list(right["embedding"]), dtype=np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        yn = y / np.linalg.norm(y, axis=1, keepdims=True)
        sims = xn @ yn.T
        sims[qi[:, None] == ii[None, :]] = -np.inf  # exclude self
        out = []
        kk = min(k, ii.size)
        for row_i in range(qi.size):
            s = sims[row_i]
            cand = np.argpartition(-s, kk - 1)[:kk] if kk < s.size else range(s.size)
            cand = sorted(cand, key=lambda j: (-s[j], ii[j]))[:kk]
            for j in cand:
                if np.isfinite(s[j]):
                    out.append((int(qi[row_i]), int(ii[j]), float(s[j])))
        return pd.DataFrame(out, columns=["src", "dst", "sim"])

    partial = (
        q.groupBy("qb", "ib")
        .cogroup(idx.groupBy("qb", "ib"))
        .applyInPandas(tile, "src long, dst long, sim double")
    )
    return _topk(partial, k)


def _label_masked_topk(
    embeddings: DataFrame, k: int, block_rows: int, same_label: bool
) -> DataFrame:
    """Shared kernel for label-aware mining: per-src top-k over the
    block-cogrouped BLAS tiles with pairs masked by label relation
    (same_label=False keeps only label-mismatched pairs; True keeps
    label-matched pairs excluding self). The label rides the grid and
    the tile masks BEFORE its per-src top-k, so no candidate budget is
    wasted on pairs the filter would drop; O(block_rows²) executor
    memory at any table size."""
    import numpy as np  # noqa: PLC0415

    nb = _n_blocks(embeddings, block_rows)
    q, idx = _block_pair_grids(embeddings, nb, triangular=False, extra_cols=("label",))

    def tile(left, right):
        import pandas as pd  # noqa: PLC0415

        if left.empty or right.empty:
            return pd.DataFrame(columns=["src", "dst", "sim"])
        qi = np.asarray(left["vec_id"], dtype=np.int64)
        ii = np.asarray(right["vec_id"], dtype=np.int64)
        ql = np.asarray(left["label"], dtype=np.int64)
        il = np.asarray(right["label"], dtype=np.int64)
        x = np.array(list(left["embedding"]), dtype=np.float64)
        y = np.array(list(right["embedding"]), dtype=np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        yn = y / np.linalg.norm(y, axis=1, keepdims=True)
        sims = xn @ yn.T
        if same_label:
            sims[ql[:, None] != il[None, :]] = -np.inf
            sims[qi[:, None] == ii[None, :]] = -np.inf  # exclude self
        else:
            sims[ql[:, None] == il[None, :]] = -np.inf  # incl. self
        out = []
        kk = min(k, ii.size)
        for row_i in range(qi.size):
            s = sims[row_i]
            cand = np.argpartition(-s, kk - 1)[:kk] if kk < s.size else range(s.size)
            cand = sorted(cand, key=lambda j: (-s[j], ii[j]))[:kk]
            for j in cand:
                if np.isfinite(s[j]):
                    out.append((int(qi[row_i]), int(ii[j]), float(s[j])))
        return pd.DataFrame(out, columns=["src", "dst", "sim"])

    partial = (
        q.groupBy("qb", "ib")
        .cogroup(idx.groupBy("qb", "ib"))
        .applyInPandas(tile, "src long, dst long, sim double")
    )
    return _topk(partial, k)


def hard_negatives(
    embeddings: DataFrame, k: int = TOP_K, block_rows: int = BLOCK_ROWS
) -> DataFrame:
    """(src, dst, rank, sim) — for every anchor the k most
    cosine-similar vectors with a DIFFERENT label: contrastive
    hard-negative mining, the training-pair complement of top-k
    retrieval (a random negative teaches an embedding model nothing;
    the near-miss with the wrong label is the gradient signal)."""
    return _label_masked_topk(embeddings, k, block_rows, same_label=False)


def triplet_mining(
    embeddings: DataFrame, block_rows: int = BLOCK_ROWS
) -> DataFrame:
    """(anchor, pos, neg, pos_sim, neg_sim) — per anchor the hardest
    positive (LEAST-similar same-label vector would be hardest for the
    pull term, but batch-hard mining conventionally pairs the MOST
    similar positive with the most similar negative; we emit the
    most-similar of each, the semi-hard recipe) joined with the hardest
    negative. Anchors lacking either side (singleton labels) drop out —
    an inner join, exactly what a triplet-loss batch builder needs."""
    pos = _label_masked_topk(embeddings, 1, block_rows, same_label=True).select(
        F.col("src").alias("anchor"),
        F.col("dst").alias("pos"),
        F.col("sim").alias("pos_sim"),
    )
    neg = _label_masked_topk(embeddings, 1, block_rows, same_label=False).select(
        F.col("src").alias("anchor"),
        F.col("dst").alias("neg"),
        F.col("sim").alias("neg_sim"),
    )
    return pos.join(neg, "anchor").select(
        "anchor", "pos", "neg", "pos_sim", "neg_sim"
    )


def lsh_buckets(
    embeddings: DataFrame, nplanes: int = NPLANES, offset: int = 0
) -> DataFrame:
    """Random-hyperplane bucket id per vector: bit p = sign(w_p · e)."""
    planes = hyperplanes(nplanes, DIM, offset)
    bucket = None
    for p, w in enumerate(planes):
        dot = _dot(F.col("embedding"), F.array(*[F.lit(float(c)) for c in w]))
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return embeddings.select("vec_id", "embedding", bucket.alias("bucket"))


def cosine_topk_lsh(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: exact kernel restricted to each LSH bucket.
    Recall < 1 by design (cross-bucket neighbors are missed); the bucket
    assignment is deterministic, so results are exactly reproducible."""
    b = lsh_buckets(embeddings)
    n = _normed(b).join(b.select("vec_id", "bucket"), "vec_id")
    x = n.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
        "bucket",
    )
    y = n.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
        "bucket",
    )
    sims = (
        x.join(y, "bucket")
        .where(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    return _topk(sims, k)


def cosine_topk_lsh_multi(
    embeddings: DataFrame,
    k: int = TOP_K,
    n_tables: int = MULTI_TABLES,
    nplanes: int = MULTI_NPLANES,
    probe_h: int = MULTI_PROBE_H,
) -> DataFrame:
    """Approximate top-k with N independent LSH tables PLUS multiprobe:
    per table, each vector probes every bucket within Hamming distance
    `probe_h` of its own signature (bucket ^ mask for the ≤probe_h-bit
    masks), so a pair is a candidate if its signatures differ in ≤ probe_h
    bits in ANY table. Miss probability drops multiplicatively with tables
    and combinatorially with probes — the two standard LSH recall knobs —
    while the shuffle stays a plain bucket equi-join (probes explode the
    compact (vec_id, bucket) side only, never the embeddings). Exact
    cosine + ranking over the deduped candidate set; measured recall vs
    the brute-force oracle ≥ 0.9 at both test scales (pytest gate ≥ 0.8)."""
    n = _normed(embeddings)
    masks = probe_masks(nplanes, probe_h)
    # All tables' signatures in ONE embedding scan (48 plane dots fused in
    # one projection), lazily checkpointed: the per-table joins then touch
    # only the compact (vec_id, b0..bN-1) table — the embeddings are never
    # re-scanned per table/probe side.
    sig_cols = []
    for t in range(n_tables):
        planes = hyperplanes(nplanes, DIM, offset=t * nplanes)
        bucket = None
        for p, wgt in enumerate(planes):
            dot = _dot(
                F.col("embedding"), F.array(*[F.lit(float(c)) for c in wgt])
            )
            bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
        sig_cols.append(bucket.alias(f"b{t}"))
    sigs = embeddings.select("vec_id", *sig_cols).localCheckpoint(eager=False)
    # melt the per-table signature columns into (vec_id, tbl, bucket) and
    # resolve ALL tables' candidates in ONE join keyed on (tbl, bucket)
    # instead of n_tables separate joins + union — one shuffle, one
    # distinct, same pair set
    stack_args = ", ".join(f"{t}, b{t}" for t in range(n_tables))
    y = sigs.selectExpr(
        "vec_id", f"stack({n_tables}, {stack_args}) as (tbl, bucket)"
    )
    x = y.select(
        "vec_id",
        "tbl",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cands = (
        x.alias("x")
        .join(y.alias("y"), ["tbl", "bucket"])
        .where(F.col("x.vec_id") != F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("src"), F.col("y.vec_id").alias("dst"))
        .distinct()
    )
    return _topk(_pair_sims_arrow(cands, n), k)


IVF_CELLS = 8
IVF_PROBES = 5  # measured recall ≈ 0.80 at both test scales (gate ≥ 0.75)


def ivf_centroids(embeddings: DataFrame, k: int = IVF_CELLS) -> DataFrame:
    """K deterministic centroid vectors: the k vectors whose md5(vec_id)
    ranks lowest — a seeded sample, reproducible in SQL (no k-means
    iterations, so the DuckDB oracle rebuilds the identical index; at
    cluster scale you would refine these with a few Lloyd rounds over a
    sample, which only changes the centroid table, not the plan shape)."""
    from joern_spark.functions.hashing import md5_long

    # orderBy().limit(k) compiles to TakeOrderedAndProject — a distributed
    # per-partition top-k + driver merge. (A global Window.orderBy here
    # would funnel the entire embeddings table through ONE task just to
    # pick k rows — a serialization point at corpus scale.) The window
    # that numbers the cells runs over only the k surviving rows.
    top = (
        embeddings.select(
            "vec_id",
            "embedding",
            md5_long(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("_h", "vec_id")
    return (
        top.withColumn("_r", F.row_number().over(w))
        .select(
            (F.col("_r") - 1).alias("cell"),
            F.col("embedding").alias("centroid"),
        )
    )


def _cell_assignments(
    embeddings: DataFrame, centroids: list, probes: int
) -> DataFrame:
    """(vec_id, cell, rank, csim) for each vector's `probes` nearest
    centroid cells by cosine — computed as one fused projection over
    literal centroid arrays (the centroid table is tiny and ships in the
    plan). An empty centroid list (empty embeddings table) returns an
    empty typed result — `F.array()` of zero structs would otherwise be
    VOID-typed and fail analysis."""
    if not centroids:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, cell int, rank int, csim double"
        )
    # first struct field = NEGATIVE sim so array_sort's ascending
    # field-order compare yields (sim desc, cell asc) — an explicit,
    # total ordering the SQL oracle replicates exactly
    sims = F.array(
        *[
            F.struct(
                (
                    -_dot(F.col("embedding"), F.array(*[F.lit(float(x)) for x in c]))
                    / (
                        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                        * float(sum(x * x for x in c) ** 0.5)
                    )
                ).alias("negsim"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    ranked = F.slice(F.array_sort(sims), 1, probes)
    return embeddings.select(
        "vec_id",
        F.posexplode(ranked).alias("rank", "s"),
    ).select(
        "vec_id",
        F.col("s.cell").alias("cell"),
        "rank",
        (-F.col("s.negsim")).alias("csim"),
    )


def cell_assignments(
    embeddings: DataFrame, centroids: list, probes: int = 1
) -> DataFrame:
    """(vec_id, cell, rank, csim) against an EXPLICIT centroid list —
    the public entry for consumers that persist the centroid table
    (e.g. the resumable index job reads stage i1's output and passes it
    here, so a resumed run assigns against the committed centroids
    rather than recomputing them)."""
    return _cell_assignments(embeddings, centroids, probes)


def cosine_topk_ivf(
    embeddings: DataFrame,
    k: int = TOP_K,
    n_cells: int = IVF_CELLS,
    probes: int = IVF_PROBES,
) -> DataFrame:
    """IVF approximate top-k: index side = each vector in its single
    nearest cell; query side probes its `probes` nearest cells; exact
    cosine + ranking over the candidate pairs. One shuffle on cell id
    (AQE splits hub cells); candidate count ~ n/probes-th of brute force
    per query. The centroid list is collected once — it is K rows, the
    legitimate driver-side dimension table (vs. the banned full-table
    collect)."""
    cents = [
        list(r.centroid)
        for r in ivf_centroids(embeddings, n_cells).orderBy("cell").collect()
    ]
    assign = _cell_assignments(embeddings, cents, probes)
    # candidate pairs are built from the COMPACT (vec_id, cell) table —
    # embeddings attach only after the dedup, inside the Arrow scorer
    xa = assign.select(F.col("vec_id").alias("src"), "cell")
    ya = assign.where(F.col("rank") == 0).select(
        F.col("vec_id").alias("dst"), "cell"
    )
    pairs = (
        xa.join(ya, "cell")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates()
    )
    return _topk(_pair_sims_arrow(pairs, _normed(embeddings)), k)


def save_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = IVF_CELLS,
) -> dict:
    """Persist the IVF index as durable artifacts: `<path>/centroids`
    (K rows) and `<path>/assignments` (each vector's single nearest
    cell — the inverted lists), plus `<path>/index.json` carrying the
    parameters and an order-insensitive embeddings fingerprint (count +
    bit_xor of vec_id hashes, one scan). A matching fingerprint on a
    later call SKIPS the rebuild — the reference's load-don't-recompute
    behavior for on-disk overlays, and the same durable-artifact
    discipline as the workspace flow-walk cache. Returns the manifest
    dict (with `"hit"` marking whether the index was reused)."""
    import json as _json
    from pathlib import Path

    from joern_spark.functions.hashing import md5_long

    row = embeddings.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(md5_long(F.col("vec_id").cast("string"))).alias("x"),
    ).collect()[0]
    meta = {
        "n_cells": n_cells,
        "n_vectors": row["n"],
        "fingerprint": f"{row['n']}:{row['x']}",
    }
    mpath = Path(path) / "index.json"
    if mpath.exists():
        old = _json.loads(mpath.read_text())
        if (
            old.get("fingerprint") == meta["fingerprint"]
            and old.get("n_cells") == n_cells
        ):
            return {**old, "hit": True}
    cents = ivf_centroids(embeddings, n_cells)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cent_list = [
        list(r.centroid)
        for r in cents.sparkSession.read.parquet(f"{path}/centroids")
        .orderBy("cell")
        .collect()
    ]
    assign = _cell_assignments(embeddings, cent_list, probes=1).select(
        "vec_id", "cell"
    )
    assign.write.mode("overwrite").parquet(f"{path}/assignments")
    mpath.parent.mkdir(parents=True, exist_ok=True)
    mpath.write_text(_json.dumps(meta, indent=1))
    return {**meta, "hit": False}


def load_ivf_index(spark, path: str) -> tuple[list, DataFrame, dict]:
    """(centroid list, assignments DataFrame, manifest) from a saved
    index — centroids are K rows (the legitimate driver-side dimension
    table); assignments stay distributed."""
    import json as _json
    from pathlib import Path

    meta = _json.loads((Path(path) / "index.json").read_text())
    cents = [
        list(r.centroid)
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    ]
    return cents, spark.read.parquet(f"{path}/assignments"), meta


def cosine_topk_ivf_indexed(
    embeddings: DataFrame,
    centroids: list,
    assignments: DataFrame,
    k: int = TOP_K,
    probes: int = IVF_PROBES,
) -> DataFrame:
    """IVF top-k against a PERSISTED index: the query side probes its
    `probes` nearest saved centroids; the index side is the saved
    single-cell assignment table read straight from parquet — no
    centroid derivation, no index-side assignment pass. Same candidate
    shape as cosine_topk_ivf (one shuffle on cell id), so a session that
    answers many query batches against one corpus pays the index build
    exactly once, across sessions."""
    qa = _cell_assignments(embeddings, centroids, probes).select(
        F.col("vec_id").alias("src"), "cell"
    )
    ya = assignments.select(F.col("vec_id").alias("dst"), "cell")
    pairs = (
        qa.join(ya, "cell")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates()
    )
    return _topk(_pair_sims_arrow(pairs, _normed(embeddings)), k)


def cosine_dup_pairs(
    embeddings: DataFrame, threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    """Embedding near-duplicate pairs (a < b, cosine ≥ threshold) —
    zip_with/aggregate reference implementation."""
    n = _normed(embeddings)
    return (
        _pair_sims(n, n)
        .where((F.col("src") < F.col("dst")) & (F.col("sim") >= threshold))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), "sim")
    )


def cosine_dup_pairs_matmul(
    embeddings: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    block_rows: int = BLOCK_ROWS,
) -> DataFrame:
    """Same pairs via the distributed block-matrix BLAS kernel (identical
    results, tested). The output is symmetric (a < b), so only the upper
    triangle of the block grid is scored — each unordered block pair
    lands in exactly one cogroup task. No driver collect, O(block_rows²)
    memory per task regardless of table size."""
    import numpy as np  # noqa: PLC0415

    nb = _n_blocks(embeddings, block_rows)
    q, idx = _block_pair_grids(embeddings, nb, triangular=True)

    def tile(key, left, right):
        import pandas as pd  # noqa: PLC0415

        if left.empty or right.empty:
            return pd.DataFrame(columns=["a", "b", "sim"])
        qi = np.asarray(left["vec_id"], dtype=np.int64)
        ii = np.asarray(right["vec_id"], dtype=np.int64)
        x = np.array(list(left["embedding"]), dtype=np.float64)
        y = np.array(list(right["embedding"]), dtype=np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        yn = y / np.linalg.norm(y, axis=1, keepdims=True)
        sims = xn @ yn.T
        keep = sims >= threshold
        if key[0] == key[1]:
            # diagonal block holds both orientations of every pair (and
            # the self-pairs): qi < ii keeps exactly one, already ordered.
            keep &= qi[:, None] < ii[None, :]
        r, c = np.nonzero(keep)
        a, b = qi[r], ii[c]
        # off-diagonal blocks score each unordered pair once but in
        # arbitrary orientation — order on emit.
        return pd.DataFrame(
            {"a": np.minimum(a, b), "b": np.maximum(a, b), "sim": sims[r, c]}
        )

    return (
        q.groupBy("qb", "ib")
        .cogroup(idx.groupBy("qb", "ib"))
        .applyInPandas(tile, "a long, b long, sim double")
    )


SEMDEDUP_THRESHOLD = COSINE_DUP_THRESHOLD


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_cells: int = IVF_CELLS,
    centroids: list | None = None,
) -> DataFrame:
    """(vec_id, keep_id, cell): SemDeDup-style semantic deduplication
    (Abbas et al. 2023, arXiv:2303.09540 — cluster embeddings, prune
    near-identical members within each cluster): every vector is
    assigned to its nearest deterministic IVF cell, within-cell cosine
    near-dup pairs (sim ≥ threshold) are connected into components, and
    each component's survivor is the member LEAST similar to its cell
    centroid (the paper's keep-the-most-marginal rule; ties → lowest
    vec_id). Vectors in no pair survive as themselves.

    This is the dedup family's survivor election (dedup.dedup_survivors,
    the MethodStubCreator-style keep/drop product) with the blocking key
    coming from embedding space instead of MinHash bands — the semantic
    twin of lexical near-dup removal.

    Scale shape: cell assignment is one fused projection over K literal
    centroids (no shuffle); pairing shuffles once on cell id and AQE
    splits hub cells; grow n_cells ~ sqrt(n) to keep cells
    constant-sized (only the K-row centroid dimension table changes, not
    the plan). Cross-cell near-dups are deliberately missed — SemDeDup's
    stated approximation (its k-means plays exactly this blocking role).
    The component→survivor joins are broadcast-vs-shuffle thresholded
    like dedup_survivors, so a 50–80%-duplicate corpus cannot OOM the
    broadcast path.

    `centroids` lets a caller that already persisted the centroid table
    (the resumable index job's i1 stage) skip the internal derivation —
    guaranteeing the keep map and the committed assignments share one
    centroid set and saving a full embeddings scan + collect."""
    from joern_spark.functions.joins import broadcast_below
    from joern_spark.operators.canonicalize import connected_components
    from joern_spark.operators.dedup import ID_PAD

    cents = (
        centroids
        if centroids is not None
        else [
            list(r.centroid)
            for r in ivf_centroids(embeddings, n_cells).orderBy("cell").collect()
        ]
    )
    assign = _cell_assignments(embeddings, cents, probes=1)
    sides = assign.select("vec_id", "cell").join(_normed(embeddings), "vec_id")
    x = sides.select(
        F.col("vec_id").alias("src"),
        "cell",
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    y = sides.select(
        F.col("vec_id").alias("dst"),
        "cell",
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    pairs = (
        x.join(y, "cell")
        .where(F.col("src") < F.col("dst"))
        .select(
            "src",
            "dst",
            (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias(
                "sim"
            ),
        )
        .where(F.col("sim") >= threshold)
        .select("src", "dst")
    )

    pad = lambda c: F.lpad(c.cast("string"), ID_PAD, "0")  # noqa: E731
    cmap = (
        connected_components(
            # lazily checkpointed: the solve reads the join-built pairs once
            pairs.select(pad(F.col("src")).alias("a"), pad(F.col("dst")).alias("b"))
            .localCheckpoint(eager=False)
        )
        .select(F.col("entity_key").alias("_k"), F.col("canon").alias("_comp"))
        .localCheckpoint(eager=True)
    )
    maybe_bc = broadcast_below(cmap)
    keyed = assign.withColumn("_k", pad(F.col("vec_id")))
    members = keyed.join(maybe_bc(cmap), "_k")
    w = Window.partitionBy("_comp").orderBy(F.asc("csim"), F.asc("vec_id"))
    winners = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_comp", F.col("vec_id").alias("keep_id"))
    )
    comp_keep = maybe_bc(cmap.join(winners, "_comp").select("_k", "keep_id"))
    return keyed.join(comp_keep, "_k", "left").select(
        "vec_id",
        F.coalesce("keep_id", F.col("vec_id")).alias("keep_id"),
        "cell",
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """(vec_id, i, q): symmetric per-vector int8 quantization —
    scale = 127/max|x|, q = floor(x·scale + 0.5) — the storage-shrinking
    transform a training pipeline applies before writing embedding
    shards. Emitted exploded (one row per dimension) so the correctness
    gate compares scalar cells, not engine-specific array renderings.
    Single scan, no shuffle; arithmetic is identical expression order in
    Spark and the SQL oracle, so the floors agree bit-for-bit."""
    mx = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    e = embeddings.select("vec_id", "embedding", mx.alias("mx"))
    return e.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("i", "x"),
        "mx",
    ).select(
        "vec_id",
        "i",
        F.when(F.col("mx") == 0, F.lit(0))
        .otherwise(
            F.floor(F.col("x").cast("double") * 127 / F.col("mx") + 0.5)
        )
        .cast("int")
        .alias("q"),
    )


# Lloyd refinement: rounds of assign→update over a deterministic sample.
KMEANS_ROUNDS = 2
KMEANS_SAMPLE = 512


def kmeans_sample(embeddings: DataFrame, n: int = KMEANS_SAMPLE) -> DataFrame:
    """The n vectors with the lowest md5(vec_id) — the same seeded-sample
    trick as `ivf_centroids`, widened from k rows to the refinement set.
    orderBy().limit() compiles to a distributed TakeOrderedAndProject, so
    the sample is a bounded dimension-table-scale object at any corpus
    size (Lloyd refinement over the FULL corpus would need a
    corpus-width collect_list per cell — the exact shape this module
    bans)."""
    from joern_spark.functions.hashing import md5_long

    return (
        embeddings.select(
            "vec_id",
            "embedding",
            md5_long(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(n)
        .drop("_h")
    )


def _updated_centroids(sample: DataFrame, centroids: list) -> list:
    """One Lloyd update: assign the sample to its nearest centroid, then
    per-cell per-dimension mean with a SEQUENTIAL fold over vec_id-sorted
    members — the same IEEE-order discipline as PageRank, so the DuckDB
    oracle reproduces every component bit-for-bit. Cells that lose all
    members disappear; survivors are renumbered 0..m-1 by old cell id.
    Returns the new centroids as a plain Python list (a k-row dimension
    table, the legitimate collect)."""
    assign = _cell_assignments(sample, centroids, probes=1).select("vec_id", "cell")
    members = assign.join(sample, "vec_id")
    dim = len(centroids[0])  # dim follows the data via the seed centroids
    zero = F.transform(F.sequence(F.lit(1), F.lit(dim)), lambda _: F.lit(0.0))
    agg = (
        members.groupBy("cell")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("vec_id", "embedding"))),
                zero,
                lambda acc, m: F.zip_with(
                    acc, m["embedding"], lambda a, b: a + b.cast("double")
                ),
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("cell", F.transform("s", lambda x: x / F.col("n")).alias("centroid"))
        .orderBy("cell")
    )
    return [list(r["centroid"]) for r in agg.collect()]


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = IVF_CELLS,
    rounds: int = KMEANS_ROUNDS,
    sample_n: int = KMEANS_SAMPLE,
) -> list:
    """Hash-seeded centroids refined by `rounds` Lloyd iterations over
    the deterministic sample — the production IVF index build
    (`ivf_centroids` names this refinement as the scale path; this is
    it). Pure function of the table contents."""
    cents = [
        list(r["centroid"])
        for r in ivf_centroids(embeddings, k).orderBy("cell").collect()
    ]
    if not cents:
        return []
    sample = kmeans_sample(embeddings, sample_n).localCheckpoint(eager=False)
    for _ in range(rounds):
        cents = _updated_centroids(sample, cents)
    return cents


def kmeans_assignments(
    embeddings: DataFrame,
    k: int = IVF_CELLS,
    rounds: int = KMEANS_ROUNDS,
    sample_n: int = KMEANS_SAMPLE,
) -> DataFrame:
    """(vec_id, cell) for EVERY vector against the Lloyd-refined
    centroids — sample-bounded refinement, then one fused
    projection scan over the full corpus (no shuffle, no corpus-width
    state; the assignment plan is identical to `cosine_topk_ivf`'s
    index side)."""
    cents = kmeans_centroids(embeddings, k, rounds, sample_n)
    return _cell_assignments(embeddings, cents, probes=1).select("vec_id", "cell")


# --- product quantization (asymmetric distance) -------------------------

PQ_M = 4  # subspaces
PQ_K = 8  # codes per subspace
PQ_TOP_K = 10


def pq_codebooks(embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K):
    """Deterministic PQ codebooks: the m subvectors of the k vectors
    whose md5(vec_id) ranks lowest — the `ivf_centroids` seeded-sample
    discipline (reproducible in SQL; at cluster scale you would refine
    each subspace's codebook with Lloyd rounds over a sample, which only
    changes these k rows, not the plan shape). Returns
    (codebooks[m][k][sub], (query_vec_id, query_vector)) where the query
    is the single hash-smallest vector — the battery's deterministic
    probe. k rows collected: a dimension table, not a corpus collect."""
    from joern_spark.functions.hashing import md5_long

    rows = (
        embeddings.select(
            "vec_id",
            "embedding",
            md5_long(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(k)
        .collect()
    )
    if not rows:
        return [], None
    dim = len(rows[0].embedding)
    sub = dim // m
    cbs = [
        [
            [float(x) for x in r.embedding[s * sub : (s + 1) * sub]]
            for r in rows
        ]
        for s in range(m)
    ]
    return cbs, (rows[0].vec_id, [float(x) for x in rows[0].embedding])


def _pq_sq_dist(base: int, centroid: list):
    """Σ_i (embedding[base+i] − c_i)² as a LEFT fold in ascending index
    order — the same addition order the DuckDB oracle's list_sum
    comprehension applies, so both engines emit bit-identical doubles."""
    acc = None
    for i, cv in enumerate(centroid):
        d = F.element_at("embedding", base + i + 1).cast("double") - F.lit(cv)
        t = d * d
        acc = t if acc is None else acc + t
    return acc


def pq_encode(embeddings: DataFrame, cbs: list) -> DataFrame:
    """(vec_id, code_0 … code_{m-1}) — each code the argmin-distance
    centroid of its subspace, tie-broken by centroid index. ONE fused
    whole-stage-codegen projection over the scan (no shuffle, no UDF):
    at corpus scale the code table is the point of PQ — dim·4 bytes per
    vector collapse to m bytes (64-float embeddings → 4 codes, 64×),
    so the ADC candidate scan is memory-bound on 1/64th the bytes."""
    cols = []
    for s, cb in enumerate(cbs):
        sub = len(cb[0])
        structs = [
            F.struct(
                _pq_sq_dist(s * sub, c).alias("d"), F.lit(j).alias("j")
            )
            for j, c in enumerate(cb)
        ]
        # struct array_sort orders by (d asc, j asc) — total, SQL-exact
        cols.append(
            F.element_at(F.array_sort(F.array(*structs)), 1)["j"].alias(
                f"code_{s}"
            )
        )
    return embeddings.select("vec_id", *cols)


def pq_topk_adc(
    embeddings: DataFrame,
    k: int = PQ_TOP_K,
    m: int = PQ_M,
    n_codes: int = PQ_K,
) -> DataFrame:
    """PQ asymmetric-distance top-k: encode the corpus once (fused
    projection), build the query's per-subspace distance table
    driver-side (m×n_codes doubles — literals in the plan), and rank by
    the ADC sum looked up per code. The final top-k compiles to
    TakeOrderedAndProject (distributed per-partition top-k + driver
    merge — no global sort, no single-reducer funnel). The ADC sum
    left-folds the m lookups in ASCENDING SORTED order
    (aggregate(array_sort(…))) so the oracle's list_sum(list_sort(…))
    adds the same doubles in the same order."""
    cbs, q = pq_codebooks(embeddings, m, n_codes)
    if q is None:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, adc double"
        )
    q_id, q_vec = q
    sub = len(q_vec) // m
    codes = pq_encode(embeddings, cbs)
    terms = []
    for s, cb in enumerate(cbs):
        qs = q_vec[s * sub : (s + 1) * sub]
        dt = []
        for c in cb:
            acc = 0.0
            for i in range(sub):
                d = qs[i] - c[i]
                acc = acc + d * d
            dt.append(acc)
        # code ∈ [0, n_codes) by construction, so the 1-based lookup is
        # always in range; try_element_at keeps it ANSI-total anyway
        terms.append(
            F.try_element_at(
                F.array(*[F.lit(v) for v in dt]), F.col(f"code_{s}") + 1
            )
        )
    adc = F.aggregate(
        F.array_sort(F.array(*terms)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes.where(F.col("vec_id") != q_id)
        .select("vec_id", adc.alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(k)
    )


def save_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = PQ_M,
    n_codes: int = PQ_K,
) -> dict:
    """Persist the PQ index: `<path>/codebooks` (m·n_codes rows of
    (s, j, centroid)) and `<path>/codes` (the m-byte code per vector —
    the 64×-compressed candidate table ADC scans instead of the raw
    embeddings), plus `<path>/index.json` with the parameters and the
    same order-insensitive embeddings fingerprint `save_ivf_index`
    uses, so a matching corpus SKIPS the rebuild. Returns the manifest
    (with `"hit"`)."""
    import json as _json
    from pathlib import Path

    from joern_spark.functions.hashing import md5_long

    row = embeddings.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(md5_long(F.col("vec_id").cast("string"))).alias("x"),
    ).collect()[0]
    meta = {
        "m": m,
        "n_codes": n_codes,
        "n_vectors": row["n"],
        "fingerprint": f"{row['n']}:{row['x']}",
    }
    mpath = Path(path) / "index.json"
    if mpath.exists():
        old = _json.loads(mpath.read_text())
        if (
            old.get("fingerprint") == meta["fingerprint"]
            and old.get("m") == m
            and old.get("n_codes") == n_codes
        ):
            return {**old, "hit": True}
    from joern_spark.functions.localrel import local_df

    cbs, _q = pq_codebooks(embeddings, m, n_codes)
    spark = embeddings.sparkSession
    cb_rows = [
        (s, j, [float(x) for x in c])
        for s, cb in enumerate(cbs)
        for j, c in enumerate(cb)
    ]
    local_df(
        spark, cb_rows, "s int, j int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    pq_encode(embeddings, cbs).write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    mpath.parent.mkdir(parents=True, exist_ok=True)
    mpath.write_text(_json.dumps(meta, indent=1))
    return {**meta, "hit": False}


def load_pq_index(spark, path: str) -> tuple[list, DataFrame, dict]:
    """(codebooks[m][k][sub], codes DataFrame, manifest) from a saved
    index — codebooks are m·n_codes rows (a dimension table); the code
    table stays distributed."""
    import json as _json
    from pathlib import Path

    meta = _json.loads((Path(path) / "index.json").read_text())
    rows = (
        spark.read.parquet(f"{path}/codebooks").orderBy("s", "j").collect()
    )
    cbs = [
        [list(r.centroid) for r in rows if r.s == s]
        for s in range(meta["m"])
    ]
    return cbs, spark.read.parquet(f"{path}/codes"), meta


def pq_topk_adc_indexed(
    codes: DataFrame,
    cbs: list,
    query_vec: list,
    exclude_vec_id=None,
    k: int = PQ_TOP_K,
) -> DataFrame:
    """ADC top-k against a PERSISTED code table: the scan reads the
    m-byte codes straight from parquet — no encode pass, no embedding
    read. A session answering many queries against one corpus pays the
    encode exactly once, across sessions (the flow-walk/IVF durable
    index discipline)."""
    m = len(cbs)
    sub = len(cbs[0][0])
    terms = []
    for s, cb in enumerate(cbs):
        qs = query_vec[s * sub : (s + 1) * sub]
        dt = []
        for c in cb:
            acc = 0.0
            for i in range(sub):
                d = qs[i] - c[i]
                acc = acc + d * d
            dt.append(acc)
        terms.append(
            F.try_element_at(
                F.array(*[F.lit(v) for v in dt]), F.col(f"code_{s}") + 1
            )
        )
    adc = F.aggregate(
        F.array_sort(F.array(*terms)), F.lit(0.0), lambda acc, x: acc + x
    )
    out = codes
    if exclude_vec_id is not None:
        out = out.where(F.col("vec_id") != exclude_vec_id)
    return (
        out.select("vec_id", adc.alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(k)
    )


def cluster_quality(
    embeddings: DataFrame,
    k: int = IVF_CELLS,
    rounds: int = KMEANS_ROUNDS,
    sample_n: int = KMEANS_SAMPLE,
) -> DataFrame:
    """(cell, n, mean_sim) — cohesion of each Lloyd-refined k-means
    cell: member count and mean cosine of members to their own
    centroid. The index-health dashboard for the ANN family — a cell
    whose mean_sim sags is a candidate for splitting (its members
    scatter), and the spread across cells says whether the IVF probe
    budget is balanced. Reads the SAME fused assignment projection as
    `kmeans_assignments` (centroids as plan literals, rank-1 cosine
    kept), so quality costs one corpus scan and a vocabulary-sized
    (k-cell) aggregate — no extra shuffle beyond the groupBy.

    Float discipline: per-cell means fold the member cosines in
    ascending sorted order, then ONE division by the exact BIGINT
    count — the DuckDB oracle replays the identical expression over
    the identical centroid arithmetic (the emb_kmeans parity chain)."""
    cents = kmeans_centroids(embeddings, k, rounds, sample_n)
    a = _cell_assignments(embeddings, cents, probes=1)
    sorted_sum = F.aggregate(
        F.array_sort(F.collect_list("csim")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            sorted_sum.alias("_s"),
        )
        .select(
            "cell",
            "n",
            (F.col("_s") / F.col("n").cast("double")).alias("mean_sim"),
        )
    )
