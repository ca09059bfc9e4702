"""Incremental transcript ingestion via Structured Streaming.

The reference is batch-only (no watermarks/streaming anywhere — SURVEY.md
§1.4), but a production transcript firehose arrives continuously. The
extraction stage (S2) is per-turn stateless, so it streams unchanged:
`readStream` over the landing directory → the SAME extract_* plans used
in batch → append sink with checkpointing (exactly-once per epoch via
the file-source offset log + sink commit log).

Conversation-level stages (window assembly, rebind resolution,
canonicalization) need cross-turn state; they run as periodic batch
compaction over the streamed raw tables — the classic lambda-free
"stream the cheap 95%, batch the stateful 5%" split. `run_increment`
uses Trigger.AvailableNow so each invocation drains exactly the new
files then stops — the pattern for cron-scheduled incremental jobs.

Every streaming query in this package runs through `drain`: one
AvailableNow query over a checkpoint that either appends to a parquet
path or hands each micro-batch to a fold, then stops. Every fold keeps
its state in a `SnapshotStore` — the reference's "apply a diff
atomically" as a new immutable snapshot directory
`<prefix>-<batch:06d>-<nonce>` behind a pointer file. A snapshot is
written once every table in it carries Spark's `_SUCCESS` marker; it is
committed once the pointer names it, and the pointer is the only commit
point, so readers never see a partial or uncommitted fold. Each commit
then keeps the newest `KEEP_SNAPSHOTS` written snapshots and sweeps torn
ones, so a store's disk use stays bounded however long the stream runs.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from joern_spark import schemas as S
from joern_spark.operators.extract import extract_triples_raw

# The columns sessionization needs from an event landing table; extra
# columns in a real lake table are pruned by the reader schema.
EVENT_STREAM_SCHEMA = "event_id bigint, ts timestamp_ntz, user_id string"
DOC_STREAM_SCHEMA = "doc_id bigint, text string, lang string, source string"


def read_stream(
    spark: SparkSession, landing_dir: str, schema: str = S.TRANSCRIPT_SCHEMA
) -> DataFrame:
    """The landing directory as a parquet file stream with `schema`."""
    return spark.readStream.format("parquet").schema(schema).load(landing_dir)


def drain(
    df: DataFrame, checkpoint_dir: str, *, fold=None, path: str | None = None
) -> None:
    """Drain everything landed since the last drain of `checkpoint_dir`,
    exactly once, then stop: append the rows of `df` to the parquet
    table at `path`, or pass each micro-batch to `fold(batch_df,
    batch_id)`. The file-source offset log under the checkpoint is the
    resume manifest; `fold` sees each batch at least once."""
    w = df.writeStream.option("checkpointLocation", checkpoint_dir)
    if fold is not None:
        w = w.foreachBatch(fold)
    else:
        w = w.format("parquet").option("path", path).outputMode("append")
    w.trigger(availableNow=True).start().awaitTermination()


# Written snapshots a store keeps after each commit: the pointer's own
# plus two predecessors. That is the time-travel window `as_of` serves,
# and a reader that resolved the pointer keeps its files through the
# next two commits, not just until the next one.
KEEP_SNAPSHOTS = 3


class Snapshot(NamedTuple):
    tables: dict[str, DataFrame]
    batch_id: int
    name: str


def _batch_id(name: str) -> int:
    return int(name.split("-")[1])


class SnapshotStore:
    """Immutable table snapshots behind an atomically replaced pointer
    (write-tmp + rename — the Iceberg metadata-pointer pattern at
    file-system scale), the one implementation of the commit protocol.

    Under `state_dir`, each snapshot is the directory
    `<prefix>-<batch:06d>-<nonce>` holding one parquet table per name in
    `tables`; the name "" puts a single table at the snapshot root. The
    file `pointer` holds the committed snapshot's name. Names embed the
    zero-padded batch id, so lexicographic order is fold order; two
    written snapshots of one batch id (a crash between write and pointer
    commit, then replay) hold identical content by the fold's replay
    argument, and the lexicographically last wins deterministically.

    `spark` is needed only by the methods that return DataFrames."""

    def __init__(
        self,
        spark: SparkSession | None,
        state_dir: str,
        prefix: str,
        pointer: str,
        tables: tuple[str, ...],
        schema: str | None = None,
    ):
        self.spark = spark
        self.dir = state_dir
        self.prefix = prefix
        self.pointer = os.path.join(state_dir, pointer)
        self.tables = tables
        self.schema = schema

    def _dirs(self) -> list[str]:
        if not os.path.isdir(self.dir):
            return []
        return sorted(
            n for n in os.listdir(self.dir)
            if n.startswith(self.prefix + "-")
            and os.path.isdir(os.path.join(self.dir, n))
        )

    def _current(self) -> str | None:
        if not os.path.exists(self.pointer):
            return None
        with open(self.pointer) as f:
            return f.read().strip()

    def _load(self, name: str) -> Snapshot:
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return Snapshot(
            {t: reader.parquet(os.path.join(self.dir, name, t)) for t in self.tables},
            _batch_id(name),
            name,
        )

    def committed(self) -> list[str]:
        """Written snapshot names, oldest first: every table carries
        `_SUCCESS`. A crash mid-write leaves a torn directory that time
        travel and retention must not count."""
        return [
            n for n in self._dirs()
            if all(
                os.path.exists(os.path.join(self.dir, n, t, "_SUCCESS"))
                for t in self.tables
            )
        ]

    def read(self) -> Snapshot | None:
        """The snapshot the pointer names, or None before the first commit."""
        name = self._current()
        return None if name is None else self._load(name)

    def as_of(self, batch_id: int) -> Snapshot | None:
        """The last written snapshot whose batch id is ≤ `batch_id`, among
        the retained ones — time travel over the snapshot history (the
        Iceberg snapshot-read analog). Nothing past the pointer's batch
        is visible: a snapshot whose pointer was never committed is not."""
        cur = self._current()
        if cur is None:
            return None
        upto = min(batch_id, _batch_id(cur))
        names = [n for n in self.committed() if _batch_id(n) <= upto]
        return self._load(names[-1]) if names else None

    def commit(self, batch_id: int, tables: dict[str, DataFrame]) -> None:
        """Write every table of a new snapshot, atomically repoint to it,
        then expire all but the newest KEEP_SNAPSHOTS."""
        name = f"{self.prefix}-{batch_id:06d}-{uuid.uuid4().hex[:8]}"
        for t in self.tables:
            tables[t].write.mode("overwrite").parquet(os.path.join(self.dir, name, t))
        tmp = f"{self.pointer}.tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(name)
        os.replace(tmp, self.pointer)
        # The merged tables are written: no lazy read of an older
        # snapshot is still pending in this fold, so expiry cannot pull
        # files out from under it.
        self.expire(KEEP_SNAPSHOTS)

    def expire(self, keep_last: int) -> list[str]:
        """Retention GC (the Iceberg expire_snapshots analog): delete all
        but the newest `keep_last` written snapshots, never the one the
        pointer names. Torn directories never count toward keep_last and
        are always swept. Returns the deleted directory names."""
        current = self._current()
        committed = self.committed()
        torn = [n for n in self._dirs() if n not in committed]
        old = committed[: max(0, len(committed) - keep_last)]
        doomed = [n for n in torn + old if n != current]
        for n in doomed:
            shutil.rmtree(os.path.join(self.dir, n), ignore_errors=True)
        return doomed


# prefix -> (pointer file, tables); "" is a single table at the snapshot
# root. These names are the on-disk layout every reader depends on.
_LAYOUT = {
    "cmap": ("CURRENT", ("",)),
    "walk": ("CURRENT_WALK", ("paths", "edges", "seeds")),
    "cm": ("CURRENT_CM", ("",)),
    "hll": ("CURRENT_HLL", ("",)),
    "bloom": ("CURRENT_BLOOM", ("",)),
    "hist": ("CURRENT_HIST", ("",)),
    "mix": ("CURRENT_MIX", ("",)),
    "dedup": ("CURRENT_DEDUP", ("bands", "pairs")),
    "tindex": ("CURRENT_TINDEX", ("tf", "dl", "dfreq", "cf", "stats")),
    "burst": ("CURRENT_BURST", ("",)),
}
CMAP_SCHEMA = "entity_key string, canon string"


def _store(spark, state_dir: str, prefix: str, schema: str | None = None):
    return SnapshotStore(spark, state_dir, prefix, *_LAYOUT[prefix], schema=schema)


def _read_table(spark: SparkSession, state_dir: str, prefix: str):
    """(the current snapshot's one table, its batch id), or (None, -1)
    before the first commit."""
    snap = _store(spark, state_dir, prefix).read()
    return (snap.tables[""], snap.batch_id) if snap else (None, -1)


def run_increment(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain all currently-available new transcript files through triple
    extraction into the raw-triples table, exactly once, then stop.
    Re-invoking after new files land processes only the delta (the
    file-source offset log under checkpoint_dir is the resume manifest)."""
    drain(
        extract_triples_raw(read_stream(spark, landing_dir)),
        checkpoint_dir,
        path=out_dir,
    )


def streamed_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    if not os.path.isdir(out_dir):
        raise FileNotFoundError(out_dir)
    return spark.read.schema(
        "subj string, pred string, obj string, conv_id string, turn_idx int"
    ).parquet(out_dir)


# --- incremental entity resolution (canonical-map maintenance) ----------------


def _snapshots(state_dir: str) -> list[str]:
    """Written canonical-map snapshot names, oldest first."""
    return _store(None, state_dir, "cmap").committed()


def read_canonical_map(
    spark: SparkSession, state_dir: str, as_of_batch: int | None = None
) -> DataFrame | None:
    """The current canonical-map snapshot, or None before the first fold.

    `as_of_batch` reads the LAST snapshot whose fold batch id is ≤ the
    given id — time travel over the retained snapshot history."""
    store = _store(spark, state_dir, "cmap", CMAP_SCHEMA)
    snap = store.read() if as_of_batch is None else store.as_of(as_of_batch)
    return None if snap is None else snap.tables[""]


def expire_snapshots(state_dir: str, keep_last: int = 3) -> list[str]:
    """Retention GC over the canonical-map store (`SnapshotStore.expire`);
    every commit already runs it with KEEP_SNAPSHOTS. Returns the deleted
    directory names."""
    return _store(None, state_dir, "cmap").expire(keep_last)


def run_alias_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental entity resolution: drain newly-landed transcript files
    and fold their SAME_AS pairs into the persisted canonical map via
    `canonicalize.merge_canonical_map` — only components touched by the
    delta are re-solved, the historical pair set is never replayed.

    Exactly-once note: foreachBatch side effects are at-least-once under
    crash-rerun (the offset commit is separate), but the fold is
    IDEMPOTENT — merging pairs already present in the map is a no-op by
    the merge==one-shot theorem (tested) — so at-least-once delivery
    still converges to the exact batch answer."""
    from joern_spark.operators.canonicalize import (
        connected_components,
        merge_canonical_map,
        same_as_pairs,
    )

    store = _store(spark, state_dir, "cmap")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        pairs = same_as_pairs(batch_df).localCheckpoint(eager=True)
        if pairs.isEmpty():
            return
        cur = read_canonical_map(spark, state_dir)
        merged = (
            merge_canonical_map(cur, pairs)
            if cur is not None
            else connected_components(pairs)
        )
        store.commit(batch_id, {"": merged})

    drain(read_stream(spark, landing_dir), checkpoint_dir, fold=fold)


# ---------------------------------------------------------------------------
# Streaming flow-walk increments: fold newly-landed conversations into a
# persisted keep='all' walk via hetero.incremental_paths — the streaming
# twin of the workspace flow cache.


def read_walk(
    spark: SparkSession, state_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame] | None":
    """(paths, edges, seeds) of the current walk snapshot, or None before
    the first fold."""
    snap = _store(spark, state_dir, "walk").read()
    return None if snap is None else tuple(snap.tables.values())


def run_walk_increment(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_depth: int = 3,
    max_crossings: int = 1,
) -> None:
    """Incremental flow-walk maintenance over a landing stream: drain
    newly-landed transcript files, derive their heterogeneous edge delta
    (NEXT_TURN/LINKS_TO/SAME_AS — each landed file must carry WHOLE
    conversations, the queries.hetero_edges_from contract), and fold it
    into the persisted keep='all' walk with hetero.incremental_paths —
    only the seeds whose cached paths touch a delta endpoint re-walk;
    the historical path set is never replayed.

    At-least-once replay is idempotent: a replayed batch's edges
    anti-join away against the accumulated edge table, leaving an empty
    delta, and incremental_paths with an empty delta is a pure cache
    filter (tested)."""
    from joern_spark.functions.hetero import (
        asking_turns,
        expand_paths_hetero,
        incremental_paths,
    )
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import link_mentions
    from joern_spark.queries import hetero_edges_from
    from joern_spark.sources.transcripts import read_entities

    store = _store(spark, state_dir, "walk")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        linked = link_mentions(extract_mentions(batch_df), read_entities(spark))
        delta = hetero_edges_from(batch_df, linked).dropDuplicates(
            ["src", "dst", "label"]
        ).localCheckpoint(eager=True)
        delta_seeds = asking_turns(extract_triples_raw(batch_df))
        prev = read_walk(spark, state_dir)
        if prev is None:
            edges_all = delta
            seeds_all = delta_seeds
            paths = expand_paths_hetero(
                seeds_all, edges_all, max_depth=max_depth,
                max_crossings=max_crossings, keep="all",
            )
        else:
            prev_paths, prev_edges, prev_seeds = prev
            new_delta = delta.join(
                prev_edges.select("src", "dst", "label"),
                ["src", "dst", "label"],
                "left_anti",
            )
            edges_all = prev_edges.unionByName(new_delta).dropDuplicates(
                ["src", "dst", "label"]
            )
            seeds_all = prev_seeds.unionByName(delta_seeds).dropDuplicates()
            paths = incremental_paths(
                prev_paths, edges_all, new_delta, seeds_all,
                max_depth=max_depth, max_crossings=max_crossings,
            )
        store.commit(
            batch_id, {"paths": paths, "edges": edges_all, "seeds": seeds_all}
        )

    drain(read_stream(spark, landing_dir), checkpoint_dir, fold=fold)


# ---------------------------------------------------------------------------
# Streaming Count-Min increments: sketch each newly-landed micro-batch
# independently and cell-wise sum it into a persisted cell table —
# cm_merge associativity makes the fold of per-batch sketches equal the
# one-shot sketch (proven in tests/test_sketch.py).


def read_cm_sketch(spark: SparkSession, state_dir: str):
    """The currently-committed cell table (r, bucket, c), or None before
    the first drain. Returns (DataFrame | None, last_folded_batch_id)."""
    return _read_table(spark, state_dir, "cm")


def run_cm_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental heavy-hitter maintenance: drain newly-landed
    transcript files, extract triple objects, sketch the delta
    (operators/sketch.cm_sketch) and fold it into the persisted cell
    table with cm_merge.

    Exactly-once note: foreachBatch is at-least-once under crash-rerun,
    and unlike the canonical-map fold a cell-wise SUM is NOT idempotent —
    so the fold carries the standard batch-id guard: the committed
    snapshot name embeds the last folded batch id, and a replayed batch
    id ≤ that is skipped. Crash-between-write-and-pointer replays
    rewrite the same batch's snapshot (same inputs, same cells) before
    committing the pointer, so readers converge to the exact batch
    answer either way."""
    from joern_spark.operators.sketch import cm_merge, cm_sketch

    store = _store(spark, state_dir, "cm")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, last_id = read_cm_sketch(spark, state_dir)
        if batch_id <= last_id:
            return  # replay of an already-folded batch
        items = extract_triples_raw(batch_df).select(
            F.col("obj").alias("item")
        )
        delta = cm_sketch(items).localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        merged = cm_merge(cur, delta) if cur is not None else delta
        store.commit(batch_id, {"": merged})

    drain(read_stream(spark, landing_dir), checkpoint_dir, fold=fold)


def read_hll_registers(spark: SparkSession, state_dir: str):
    """The currently-committed HLL register table (bucket, m), or None
    before the first drain. Returns (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "hll")


def run_hll_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental distinct-cardinality maintenance: drain newly-landed
    transcript files, register-sketch the delta's triple objects
    (operators/sketch.hll_registers) and fold into the persisted
    register table with hll_merge.

    Exactly-once note: unlike the Count-Min fold, cell-wise MAX is
    idempotent — replaying a batch under foreachBatch's at-least-once
    contract re-folds the same registers to the same table, so no
    batch-id replay guard is needed for correctness; the snapshot name
    still embeds the batch id so readers can see stream progress."""
    from joern_spark.operators.sketch import hll_merge, hll_registers

    store = _store(spark, state_dir, "hll")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, _ = read_hll_registers(spark, state_dir)
        items = extract_triples_raw(batch_df).select(
            F.col("obj").alias("item")
        )
        delta = hll_registers(items).localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        merged = hll_merge(cur, delta) if cur is not None else delta
        store.commit(batch_id, {"": merged})

    drain(read_stream(spark, landing_dir), checkpoint_dir, fold=fold)


def read_bloom_bits(spark: SparkSession, state_dir: str):
    """The currently-committed Bloom bit table (bit,), or None before
    the first drain. Returns (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "bloom")


def run_bloom_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental join-pruning-filter maintenance: drain newly-landed
    transcript files, Bloom-sketch the delta's triple objects
    (operators/sketch.bloom_bits) and fold into the persisted bit table
    with bloom_merge.

    Exactly-once note: like the HLL max-fold (and unlike Count-Min's
    sums), bitwise OR == union-distinct is idempotent — replaying a
    batch re-sets the same bits, so no batch-id replay guard is needed
    for correctness; the snapshot name still embeds the batch id so
    readers can see stream progress. The committed table is ≤ BLOOM_M
    rows regardless of how many batches folded into it, so the snapshot
    write never grows with stream history."""
    from joern_spark.operators.sketch import bloom_bits, bloom_merge

    store = _store(spark, state_dir, "bloom")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, _ = read_bloom_bits(spark, state_dir)
        keys = extract_triples_raw(batch_df).select(
            F.col("obj").alias("key")
        )
        delta = bloom_bits(keys).localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        merged = bloom_merge(cur, delta) if cur is not None else delta
        store.commit(batch_id, {"": merged})

    drain(read_stream(spark, landing_dir), checkpoint_dir, fold=fold)


def read_hist_registers(spark: SparkSession, state_dir: str):
    """The currently-committed histogram table (bucket, cnt), or None
    before the first drain. Returns (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "hist")


def run_hist_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental length-quantile maintenance: drain newly-landed
    transcript files, histogram the delta's turn token counts
    (operators/sketch.hist_registers) and fold into the persisted
    bucket table with hist_merge — quantiles of the WHOLE stream so
    far are then a constant-time read-out (sketch.hist_quantiles) over
    ≤ ~500 rows, with no replay of history.

    Exactly-once note: like Count-Min (and unlike the HLL max-fold /
    Bloom OR-fold), a cell-wise SUM is not idempotent — so the fold
    carries the standard batch-id guard: the committed snapshot name
    embeds the last folded batch id, and a replayed batch id ≤ that is
    skipped."""
    from joern_spark.functions.hashing import tokens_col
    from joern_spark.operators.sketch import hist_merge, hist_registers

    store = _store(spark, state_dir, "hist")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, last_id = read_hist_registers(spark, state_dir)
        if batch_id <= last_id:
            return  # replay of an already-folded batch
        vals = batch_df.select(
            F.size(tokens_col(F.col("text"))).cast("long").alias("v")
        )
        delta = hist_registers(vals).localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        merged = hist_merge(cur, delta) if cur is not None else delta
        store.commit(batch_id, {"": merged})

    drain(read_stream(spark, landing_dir), checkpoint_dir, fold=fold)


def read_mix_counts(spark: SparkSession, state_dir: str):
    """The currently-committed per-source (n_docs, n_tokens) count
    table, or None before the first drain. Returns
    (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "mix")


def run_mix_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental mixture-planner maintenance: drain newly-landed
    document files, aggregate the delta's per-source (n_docs, n_tokens),
    and fold it into the persisted count table by cell-wise sum — the
    mixture weights themselves are derived on read
    (curate.mixture_weights_from_counts over the committed counts), so
    stream and batch share the exact weighting expression tree.

    Exactly-once note: sums are not idempotent, so the fold carries the
    standard batch-id guard (the committed snapshot name embeds the last
    folded batch id; a replayed batch id ≤ that is skipped) — the same
    discipline as the Count-Min and histogram folds."""
    from joern_spark.functions.hashing import tokens_col

    store = _store(spark, state_dir, "mix")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, last_id = read_mix_counts(spark, state_dir)
        if batch_id <= last_id:
            return  # replay of an already-folded batch
        delta = (
            batch_df.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(
                    F.size(tokens_col(F.col("text"))).cast("long")
                ).alias("n_tokens"),
            )
            .localCheckpoint(eager=True)
        )
        if delta.isEmpty():
            return
        if cur is not None:
            merged = (
                cur.unionByName(delta)
                .groupBy("source")
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("n_tokens"),
                )
            )
        else:
            merged = delta
        store.commit(batch_id, {"": merged})

    drain(
        read_stream(spark, landing_dir, DOC_STREAM_SCHEMA), checkpoint_dir, fold=fold
    )


def read_dedup_state(spark: SparkSession, state_dir: str):
    """The committed (bands, pairs) tables of the incremental MinHash
    dedup, or (None, None) before the first drain."""
    snap = _store(spark, state_dir, "dedup").read()
    return (snap.tables["bands"], snap.tables["pairs"]) if snap else (None, None)


def run_dedup_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental MinHash-LSH dedup maintenance: drain newly-landed
    document files, compute the delta's band signatures, and fold them
    into the persisted band table; NEW verified duplicate pairs come
    from joining the DELTA's bands against the merged table only — a
    small delta probes |delta| band rows against the committed buckets,
    never re-pairing the corpus (old–old pairs are already committed).

    Exact-Jaccard verification re-reads text for ONLY the doc ids
    touched by new candidate pairs (one semi-join over the landing
    corpus — predicate pushdown keeps it a pruned scan), so the
    corpus-sized shingle table is never persisted as state.

    Exactly-once note: band rows are deterministic per doc and pairs
    dedup on (a, b), so both folds are idempotent under at-least-once
    replay — no batch-id guard needed (the HLL/Bloom discipline, not
    the Count-Min one)."""
    from joern_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        N_BANDS,
        N_MINHASH,
        _verify_pairs,
        minhash_signatures,
        shingles,
    )

    store = _store(spark, state_dir, "dedup")
    rows_per_band = N_MINHASH // N_BANDS

    def band_table(docs: DataFrame) -> DataFrame:
        sig = minhash_signatures(docs)
        return (
            sig.withColumn("band", (F.col("i") / rows_per_band).cast("int"))
            .groupBy("doc_id", "band")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "sig"))),
                        lambda x: x["sig"].cast("string"),
                    ),
                    "_",
                ).alias("band_key")
            )
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        old_bands, old_pairs = read_dedup_state(spark, state_dir)
        delta_docs = batch_df.select("doc_id", "text").localCheckpoint(
            eager=True
        )
        if delta_docs.isEmpty():
            return
        delta_bands = band_table(delta_docs).localCheckpoint(eager=True)
        merged_bands = (
            old_bands.unionByName(delta_bands).dropDuplicates(
                ["doc_id", "band"]
            )
            if old_bands is not None
            else delta_bands
        )
        cand = (
            delta_bands.alias("x")
            .join(merged_bands.alias("y"), ["band", "band_key"])
            .where(F.col("x.doc_id") != F.col("y.doc_id"))
            .select(
                F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("a"),
                F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("b"),
            )
            .distinct()
        )
        if old_pairs is not None:
            cand = cand.join(
                old_pairs.select("a", "b"), ["a", "b"], "left_anti"
            )
        corpus = spark.read.schema(DOC_STREAM_SCHEMA).parquet(landing_dir)
        touched = cand.select(F.col("a").alias("doc_id")).unionByName(
            cand.select(F.col("b").alias("doc_id"))
        ).distinct()
        sh = shingles(
            corpus.join(touched, "doc_id", "left_semi").select(
                "doc_id", "text"
            )
        )
        new_pairs = _verify_pairs(sh, cand, JACCARD_THRESHOLD)
        merged_pairs = (
            old_pairs.unionByName(new_pairs).dropDuplicates(["a", "b"])
            if old_pairs is not None
            else new_pairs
        )
        store.commit(batch_id, {"bands": merged_bands, "pairs": merged_pairs})

    drain(
        read_stream(spark, landing_dir, DOC_STREAM_SCHEMA), checkpoint_dir, fold=fold
    )


def read_text_index(spark: SparkSession, state_dir: str):
    """The committed incremental lexical index in the same dict shape
    `textstats.load_text_index` returns (usable directly by
    `bm25_topk_indexed` / `qld_topk_indexed`), or None before the
    first drain."""
    snap = _store(spark, state_dir, "tindex").read()
    return None if snap is None else {**snap.tables, "meta": {"snapshot": snap.name}}


def run_index_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental inverted-index maintenance: drain newly-landed
    document files and fold their postings into the persisted lexical
    index — tf/dl rows APPEND (documents are immutable), df/cf cells
    SUM (vocabulary-bounded merge), stats re-derive from the
    maintained (n_docs, c_tot) sums. A delta of d documents costs
    O(d·terms) plus one vocabulary-sized merge — the corpus posting
    table is never re-aggregated (at 10^12 docs a per-query index
    rebuild is the difference between serving retrieval and not).

    Exactly-once: the delta anti-joins the committed dl's doc ids, so
    an at-least-once replay folds an EMPTY delta — idempotent without
    a batch-id guard (the Bloom/HLL discipline; doc ids are the
    natural dedup key)."""
    from joern_spark.operators.textstats import _tf_table

    store = _store(spark, state_dir, "tindex")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur = read_text_index(spark, state_dir)
        delta_docs = batch_df.select("doc_id", "text")
        if cur is not None:
            delta_docs = delta_docs.join(
                cur["dl"].select("doc_id"), "doc_id", "left_anti"
            )
        delta_docs = delta_docs.localCheckpoint(eager=True)
        if delta_docs.isEmpty():
            return
        tf_d = _tf_table(delta_docs).localCheckpoint(eager=True)
        dl_d = tf_d.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        df_d = tf_d.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        cf_d = tf_d.groupBy("tok").agg(F.sum("tf").alias("cf"))
        if cur is not None:
            tf_m = cur["tf"].unionByName(tf_d)
            dl_m = cur["dl"].unionByName(dl_d)
            df_m = (
                cur["dfreq"].unionByName(df_d)
                .groupBy("tok")
                .agg(F.sum("df").alias("df"))
            )
            cf_m = (
                cur["cf"].unionByName(cf_d)
                .groupBy("tok")
                .agg(F.sum("cf").alias("cf"))
            )
            st_old = cur["stats"].select("n_docs", "c_tot")
            st_new = dl_d.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").cast("long").alias("c_tot"),
            )
            sums = st_old.unionByName(st_new).agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("c_tot").cast("long").alias("c_tot"),
            )
        else:
            tf_m, dl_m, df_m, cf_m = tf_d, dl_d, df_d, cf_d
            sums = dl_d.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("c_tot"),
            )
        st_m = sums.select(
            "n_docs",
            (
                F.col("c_tot").cast("double") / F.col("n_docs").cast("double")
            ).alias("avgdl"),
            "c_tot",
        )
        store.commit(
            batch_id,
            {"tf": tf_m, "dl": dl_m, "dfreq": df_m, "cf": cf_m, "stats": st_m},
        )

    drain(
        read_stream(spark, landing_dir, DOC_STREAM_SCHEMA), checkpoint_dir, fold=fold
    )


def read_burst_counts(spark: SparkSession, state_dir: str):
    """The committed per-(entity, hour) mention-count table, or None.
    Returns (DataFrame | None, last batch id)."""
    return _read_table(spark, state_dir, "burst")


def burst_hours_from_counts(counts: DataFrame) -> DataFrame:
    """The burst predicate over ANY per-(entity, hour) count table —
    the shared read-side tail (the mixture-planner discipline), so the
    stream-maintained table and a one-shot batch aggregate answer burst
    queries through ONE expression tree."""
    from joern_spark.operators.rank import BURST_FACTOR, BURST_MIN_MENTIONS

    mn = counts.groupBy("entity_key").agg(
        (
            F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_n")
    )
    return (
        counts.join(F.broadcast(mn), "entity_key")
        .where(
            (F.col("n") >= BURST_MIN_MENTIONS)
            & (
                F.col("n").cast("double")
                >= F.lit(BURST_FACTOR) * F.col("mean_n")
            )
        )
        .select(
            "entity_key", "hour", F.col("n").cast("long").alias("n"), "mean_n"
        )
    )


def run_burst_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental burst-detector maintenance: drain newly-landed
    transcript files, aggregate the delta's per-(entity, hour) mention
    counts, and fold them into the persisted count table by cell-wise
    sum; burst hours derive ON READ via `burst_hours_from_counts` (the
    per-entity mean must see the WHOLE history, so the maintained state
    is counts, not verdicts — a burst can appear or retract as the mean
    moves, exactly like the batch operator). Sums are not idempotent →
    the Count-Min batch-id replay guard. State is vocabulary ×
    corpus-hours cells — dimension-sized forever."""
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import keyed_mentions

    store = _store(spark, state_dir, "burst")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur, last_id = read_burst_counts(spark, state_dir)
        if batch_id <= last_id:
            return  # replay of an already-folded batch
        ts = batch_df.select("conv_id", "turn_idx", "ts")
        delta = (
            keyed_mentions(extract_mentions(batch_df))
            .select("conv_id", "turn_idx", "entity_key")
            .join(ts, ["conv_id", "turn_idx"])
            .groupBy(
                "entity_key",
                F.date_trunc("hour", F.col("ts")).alias("hour"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .localCheckpoint(eager=True)
        )
        if delta.isEmpty():
            return
        merged = (
            cur.unionByName(delta)
            .groupBy("entity_key", "hour")
            .agg(F.sum("n").cast("long").alias("n"))
            if cur is not None
            else delta
        )
        store.commit(batch_id, {"": merged})

    drain(read_stream(spark, landing_dir), checkpoint_dir, fold=fold)
