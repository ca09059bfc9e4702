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
The one exception is the canonical map, whose size is bounded by the
alias vocabulary rather than the corpus: `run_alias_increment` folds
each batch's SAME_AS pairs into it, re-solving it on the driver while
it is small and by the delta-bounded distributed recipe above
`canonicalize.SMALL_COMPONENT_THRESHOLD` rows.

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

Every fold runs through `_fold_drain`, and a fold is a `_LAYOUT` entry
plus a `step(batch_df, snap)` that returns the tables to commit; the
one-table folds build their step from a delta and a merge with
`_table_step`. The skeleton holds the one exactly-once rule: every fold
skips a batch id ≤ the committed one, so a replayed batch writes
nothing, and a state dir is always drained under the checkpoint it
started with.
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
    resume manifest; `fold` sees each batch at least once, and
    `_fold_drain`'s batch-id guard makes the committed state of a
    snapshot-store fold exactly-once."""
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
    commit, then replay) hold identical content, since the replay folds
    the same batch into the same committed snapshot, and the
    lexicographically last wins deterministically.

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


CMAP_SCHEMA = "entity_key string, canon string"

# prefix -> (pointer file, tables, read schema); "" is a single table at
# the snapshot root. These names are the on-disk layout every reader
# depends on. A read schema spares each read a schema-inference job.
_LAYOUT = {
    "cmap": ("CURRENT", ("",), CMAP_SCHEMA),
    "walk": ("CURRENT_WALK", ("paths", "edges", "seeds"), None),
    "cm": ("CURRENT_CM", ("",), None),
    "hll": ("CURRENT_HLL", ("",), None),
    "bloom": ("CURRENT_BLOOM", ("",), None),
    "hist": ("CURRENT_HIST", ("",), None),
    "mix": ("CURRENT_MIX", ("",), None),
    "dedup": ("CURRENT_DEDUP", ("bands", "pairs"), None),
    "tindex": ("CURRENT_TINDEX", ("tf", "dl", "dfreq", "cf", "stats"), None),
    "burst": ("CURRENT_BURST", ("",), None),
}


def _store(spark, state_dir: str, prefix: str) -> SnapshotStore:
    return SnapshotStore(spark, state_dir, prefix, *_LAYOUT[prefix])


def _read_table(spark: SparkSession, state_dir: str, prefix: str):
    """(the current snapshot's one table, its batch id), or (None, -1)
    before the first commit."""
    snap = _store(spark, state_dir, prefix).read()
    return (snap.tables[""], snap.batch_id) if snap else (None, -1)


def _fold_drain(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str,
    prefix: str, step, schema: str = S.TRANSCRIPT_SCHEMA,
) -> None:
    """Drain the landing stream (with `schema`) into the `prefix` store
    under `state_dir`, one snapshot per folding batch: read the committed
    snapshot once, return if the batch id is ≤ its batch id, else commit
    the tables `step(batch_df, snap)` returns (`snap` is None before the
    first commit; a step returning None commits nothing).

    The batch-id check is the one exactly-once rule of every fold.
    foreachBatch re-runs a batch under its old id when a crash lost the
    offset commit: a replay of a committed batch writes nothing, and a
    replay of an uncommitted one re-runs `step` on the same snapshot it
    saw the first time. Batch ids count per checkpoint, so a state dir
    is always drained under the checkpoint it started with."""
    store = _store(spark, state_dir, prefix)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        snap = store.read()
        if snap is not None and batch_id <= snap.batch_id:
            return
        tables = step(batch_df, snap)
        if tables is not None:
            store.commit(batch_id, tables)

    drain(read_stream(spark, landing_dir, schema), checkpoint_dir, fold=fold)


def _table_step(delta_fn, merge_fn):
    """The step of a one-table fold: checkpoint the batch's delta
    `delta_fn(batch_df)`, commit nothing when it is empty, else commit
    `merge_fn(committed table, delta)`, or the delta alone on the first
    fold."""

    def step(batch_df: DataFrame, snap: Snapshot | None):
        delta = delta_fn(batch_df).localCheckpoint(eager=True)
        if delta.isEmpty():
            return None
        return {"": delta if snap is None else merge_fn(snap.tables[""], delta)}

    return step


def _objects(batch_df: DataFrame, name: str) -> DataFrame:
    """The batch's triple objects, as the one column `name`."""
    return extract_triples_raw(batch_df).select(F.col("obj").alias(name))


def _sum_cells(cur: DataFrame, delta: DataFrame, *keys: str) -> DataFrame:
    """Two count tables merged by cell-wise sum: per `keys` group, every
    other column of `delta` sums as a long."""
    return cur.unionByName(delta).groupBy(*keys).agg(
        *[F.sum(c).cast("long").alias(c) for c in delta.columns if c not in keys]
    )


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
    store = _store(spark, state_dir, "cmap")
    snap = store.read() if as_of_batch is None else store.as_of(as_of_batch)
    return None if snap is None else snap.tables[""]


def expire_snapshots(state_dir: str, keep_last: int = KEEP_SNAPSHOTS) -> list[str]:
    """Retention GC over the canonical-map store (`SnapshotStore.expire`);
    every commit already runs it with KEEP_SNAPSHOTS. Returns the deleted
    directory names."""
    return _store(None, state_dir, "cmap").expire(keep_last)


def run_alias_increment(
    spark: SparkSession, landing_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental entity resolution: drain newly-landed transcript files
    and fold their SAME_AS pairs into the persisted canonical map via
    `canonicalize.merge_canonical_map`; the historical pair set is never
    replayed. The map is bounded by the alias vocabulary, so it is
    normally re-solved on the driver (one bounded read each of the
    batch's pairs and of the map, one union-find, one snapshot write);
    above `SMALL_COMPONENT_THRESHOLD` rows the delta-bounded distributed
    recipe re-solves only the components the delta touches. A batch
    without SAME_AS pairs commits nothing."""
    from joern_spark.operators.canonicalize import alias_pairs, merge_canonical_map

    def step(batch_df: DataFrame, snap: Snapshot | None):
        cur = None if snap is None else snap.tables[""]
        merged = merge_canonical_map(cur, alias_pairs(batch_df))
        return None if merged is cur else {"": merged}  # same object: no pairs

    _fold_drain(spark, landing_dir, state_dir, checkpoint_dir, "cmap", step)


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
    the historical path set is never replayed. Edges already in the
    walk anti-join away before the re-walk."""
    from joern_spark.functions.hetero import (
        asking_turns,
        expand_paths_hetero,
        incremental_paths,
    )
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import link_mentions
    from joern_spark.queries import hetero_edges_from
    from joern_spark.sources.transcripts import read_entities

    def step(batch_df: DataFrame, snap: Snapshot | None):
        if batch_df.isEmpty():
            return None
        linked = link_mentions(extract_mentions(batch_df), read_entities(spark))
        delta = hetero_edges_from(batch_df, linked).dropDuplicates(
            ["src", "dst", "label"]
        ).localCheckpoint(eager=True)
        delta_seeds = asking_turns(extract_triples_raw(batch_df))
        if snap is None:
            paths = expand_paths_hetero(
                delta_seeds, delta, max_depth=max_depth,
                max_crossings=max_crossings, keep="all",
            )
            return {"paths": paths, "edges": delta, "seeds": delta_seeds}
        prev = snap.tables
        new_delta = delta.join(
            prev["edges"].select("src", "dst", "label"),
            ["src", "dst", "label"],
            "left_anti",
        )
        edges_all = prev["edges"].unionByName(new_delta).dropDuplicates(
            ["src", "dst", "label"]
        )
        seeds_all = prev["seeds"].unionByName(delta_seeds).dropDuplicates()
        paths = incremental_paths(
            prev["paths"], edges_all, new_delta, seeds_all,
            max_depth=max_depth, max_crossings=max_crossings,
        )
        return {"paths": paths, "edges": edges_all, "seeds": seeds_all}

    _fold_drain(spark, landing_dir, state_dir, checkpoint_dir, "walk", step)


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
    table with cm_merge."""
    from joern_spark.operators.sketch import cm_merge, cm_sketch

    step = _table_step(lambda b: cm_sketch(_objects(b, "item")), cm_merge)
    _fold_drain(spark, landing_dir, state_dir, checkpoint_dir, "cm", step)


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
    register table with hll_merge."""
    from joern_spark.operators.sketch import hll_merge, hll_registers

    step = _table_step(lambda b: hll_registers(_objects(b, "item")), hll_merge)
    _fold_drain(spark, landing_dir, state_dir, checkpoint_dir, "hll", step)


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
    with bloom_merge. The committed table is ≤ BLOOM_M rows regardless
    of how many batches folded into it, so the snapshot write never
    grows with stream history."""
    from joern_spark.operators.sketch import bloom_bits, bloom_merge

    step = _table_step(lambda b: bloom_bits(_objects(b, "key")), bloom_merge)
    _fold_drain(spark, landing_dir, state_dir, checkpoint_dir, "bloom", step)


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
    ≤ ~500 rows, with no replay of history."""
    from joern_spark.functions.hashing import tokens_col
    from joern_spark.operators.sketch import hist_merge, hist_registers

    def delta(batch_df: DataFrame) -> DataFrame:
        return hist_registers(batch_df.select(
            F.size(tokens_col(F.col("text"))).cast("long").alias("v")
        ))

    step = _table_step(delta, hist_merge)
    _fold_drain(spark, landing_dir, state_dir, checkpoint_dir, "hist", step)


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
    stream and batch share the exact weighting expression tree."""
    from joern_spark.functions.hashing import tokens_col

    def delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(tokens_col(F.col("text"))).cast("long")).alias("n_tokens"),
        )

    step = _table_step(delta, lambda cur, d: _sum_cells(cur, d, "source"))
    _fold_drain(
        spark, landing_dir, state_dir, checkpoint_dir, "mix", step, DOC_STREAM_SCHEMA
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
    corpus-sized shingle table is never persisted as state."""
    from joern_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _verify_pairs,
        minhash_bands,
        shingles,
    )

    def step(batch_df: DataFrame, snap: Snapshot | None):
        delta_docs = batch_df.select("doc_id", "text").localCheckpoint(
            eager=True
        )
        if delta_docs.isEmpty():
            return None
        bands = delta_bands = minhash_bands(delta_docs).localCheckpoint(eager=True)
        if snap is not None:
            bands = snap.tables["bands"].unionByName(delta_bands).dropDuplicates(
                ["doc_id", "band"]
            )
        cand = (
            delta_bands.alias("x")
            .join(bands.alias("y"), ["band", "band_key"])
            .where(F.col("x.doc_id") != F.col("y.doc_id"))
            .select(
                F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("a"),
                F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("b"),
            )
            .distinct()
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
        pairs = _verify_pairs(sh, cand, JACCARD_THRESHOLD)
        if snap is not None:
            pairs = snap.tables["pairs"].unionByName(pairs).dropDuplicates(
                ["a", "b"]
            )
        return {"bands": bands, "pairs": pairs}

    _fold_drain(
        spark, landing_dir, state_dir, checkpoint_dir, "dedup", step, DOC_STREAM_SCHEMA
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
    index — tf/dl rows APPEND (documents are immutable, so a doc id
    already in dl is skipped), df/cf cells SUM (vocabulary-bounded
    merge), stats re-derive from the maintained (n_docs, c_tot) sums.
    A delta of d documents costs O(d·terms) plus one vocabulary-sized
    merge — the corpus posting table is never re-aggregated (at 10^12
    docs a per-query index rebuild is the difference between serving
    retrieval and not)."""
    from joern_spark.operators.textstats import _tf_table

    def step(batch_df: DataFrame, snap: Snapshot | None):
        delta_docs = batch_df.select("doc_id", "text")
        if snap is not None:
            delta_docs = delta_docs.join(
                snap.tables["dl"].select("doc_id"), "doc_id", "left_anti"
            )
        delta_docs = delta_docs.localCheckpoint(eager=True)
        if delta_docs.isEmpty():
            return None
        tf = _tf_table(delta_docs).localCheckpoint(eager=True)
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        t = {
            "tf": tf,
            "dl": dl,
            "dfreq": tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
            "cf": tf.groupBy("tok").agg(F.sum("tf").alias("cf")),
            "stats": dl.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("c_tot"),
            ),
        }
        if snap is not None:
            cur = snap.tables
            t = {
                "tf": cur["tf"].unionByName(t["tf"]),
                "dl": cur["dl"].unionByName(t["dl"]),
                "dfreq": _sum_cells(cur["dfreq"], t["dfreq"], "tok"),
                "cf": _sum_cells(cur["cf"], t["cf"], "tok"),
                "stats": _sum_cells(
                    cur["stats"].select("n_docs", "c_tot"), t["stats"]
                ),
            }
        t["stats"] = t["stats"].select(
            "n_docs",
            (
                F.col("c_tot").cast("double") / F.col("n_docs").cast("double")
            ).alias("avgdl"),
            "c_tot",
        )
        return t

    _fold_drain(
        spark, landing_dir, state_dir, checkpoint_dir, "tindex", step, DOC_STREAM_SCHEMA
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
    moves, exactly like the batch operator). State is vocabulary ×
    corpus-hours cells — dimension-sized forever."""
    from joern_spark.operators.extract import extract_mentions
    from joern_spark.operators.link import keyed_mentions

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            keyed_mentions(extract_mentions(batch_df))
            .select("conv_id", "turn_idx", "entity_key")
            .join(batch_df.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"])
            .groupBy("entity_key", F.date_trunc("hour", F.col("ts")).alias("hour"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    step = _table_step(delta, lambda cur, d: _sum_cells(cur, d, "entity_key", "hour"))
    _fold_drain(spark, landing_dir, state_dir, checkpoint_dir, "burst", step)
