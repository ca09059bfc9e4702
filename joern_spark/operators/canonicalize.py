"""S4 canonicalize — connected-components over SAME_AS, triple rewrite.

Analog of NamespaceCreator's groupBy-canonicalization
(x2cpg/.../base/NamespaceCreator.scala:19-32) plus DynamicCallLinker's
memoized transitive closure over inheritance edges
(x2cpg/.../callgraph/DynamicCallLinker.scala:86-130): alias statements
("NYC is also known as New York City") form SAME_AS edges whose connected
components must collapse to one canonical entity id.

Small inputs (≤ SMALL_COMPONENT_THRESHOLD pair rows, raw or after one
dedup pass — the common case: the distinct pair set is bounded by the
alias vocabulary) are read with a bounded collect and solved by a driver
union-find. Larger pair sets use the distributed algorithm: iterative
min-label propagation over the symmetrized edge set — each round every
node takes the min label among itself and its neighbors. Each round is
one shuffle (groupBy node) and the frontier is `dropDuplicates`-bounded,
mirroring the reference flow engine's task-fingerprint dedup
(Engine.scala:133-143). `localCheckpoint` truncates the lineage every round — without it the plan
grows exponentially (SURVEY.md §7 hard-part (a)). Each round also
pointer-jumps labels through themselves (the large-star shortcut), so
convergence is O(log diameter) and adversarially long alias chains are
safe; a non-converged loop raises instead of returning partial labels.

Canonical representative = lexicographic MIN entity_key in the component —
deterministic and replicable by the DuckDB oracle's recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from joern_spark.operators.extract import RULES_BY_NAME, normalize_surface_col

MAX_ITERATIONS = 20

# Distinct SAME_AS pairs are bounded by the alias vocabulary (not the
# corpus): collapsing 10^12 turns still yields ~|aliases|^2 pairs at most.
# Up to this many pair rows (raw, or distinct after one dedup pass) the
# component solve runs driver-side (a bounded collect + union-find)
# instead of O(diameter) shuffle rounds — the closure is resolved in one
# pass, as DynamicCallLinker resolves its subclass closure once per pass
# (DynamicCallLinker.scala:31-33,94-111).
SMALL_COMPONENT_THRESHOLD = 100_000


def same_as_edges(triples_raw: DataFrame) -> DataFrame:
    """(a, b) normalized-key pairs from same_as triples."""
    return (
        triples_raw.where(F.col("pred") == "same_as")
        .select(
            normalize_surface_col(F.col("subj")).alias("a"),
            normalize_surface_col(F.col("obj")).alias("b"),
        )
        .dropDuplicates()
    )


def same_as_pairs(transcripts: DataFrame) -> DataFrame:
    """Fast path: distinct alias-key pairs straight from the transcript
    scan. Alias turns are a tiny selective slice (predicate applies at the
    scan, before any triple assembly), so this costs one cheap pass instead
    of re-running the full multi-rule extractor — same result as
    `same_as_edges(extract_triples_raw(t))`."""
    return alias_pairs(transcripts).dropDuplicates()


def alias_pairs(transcripts: DataFrame) -> DataFrame:
    """`same_as_pairs` without the dedup shuffle: one (a, b) row per alias
    turn, repeats kept — for consumers that dedup anyway, such as the
    union-find in `merge_canonical_map`."""
    rule = RULES_BY_NAME["alias"]
    m = transcripts.where(
        (F.col("role") == rule.role) & F.col("text").rlike(rule.pattern)
    )
    return m.select(
        normalize_surface_col(F.regexp_extract("text", rule.pattern, 1)).alias("a"),
        normalize_surface_col(F.regexp_extract("text", rule.pattern, 2)).alias("b"),
    )


def _union_find_rows(edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Pure driver-side union-find; canon = lexicographic min of the
    component (identical to the distributed loop). Kept Spark-free so
    property tests drive it directly."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[str, list[str]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    return sorted(
        (n, min(members)) for members in comps.values() for n in members
    )


def _union_find_local(edges: list[tuple[str, str]], spark) -> DataFrame:
    # JVM literal relation: a plain createDataFrame backs the map with a
    # Python RDD (every downstream evaluation pays ~32 worker
    # round-trips) and coalesce(1) serializes those round-trips into one
    # task (~5 s per evaluation, measured) — see functions/localrel.py.
    from joern_spark.functions.localrel import local_df

    return local_df(
        spark, _union_find_rows(edges), "entity_key string, canon string"
    )


def _bounded_rows(df: DataFrame, *cols: str) -> list[tuple]:
    """At most SMALL_COMPONENT_THRESHOLD + 1 rows of `cols`, one bounded
    collect: a result longer than the threshold means "too big for the
    driver" without pulling the whole input."""
    cap = SMALL_COMPONENT_THRESHOLD + 1
    return [tuple(r) for r in df.select(*cols).limit(cap).collect()]


def connected_components(pairs: DataFrame) -> DataFrame:
    """canonical_map(entity_key, canon) for every key in `pairs`;
    canon = min key of the connected component. Nodes not in any pair are
    absent (identity mapping is applied by the caller via coalesce).
    Every call solves: a caller that reuses a map holds on to it.

    `pairs` may repeat a pair. Up to SMALL_COMPONENT_THRESHOLD rows are
    read with one bounded collect and solved by the driver union-find,
    with no shuffle. A longer input is deduped once into a checkpoint:
    repeats (every alias turn restating one pair) collapse a
    corpus-sized row count to the vocabulary-sized pair set, which a
    second bounded read hands to the driver. Only a pair set still over
    the threshold runs the distributed min-label loop, over that same
    checkpoint. So `pairs` is evaluated at most twice (the bounded read,
    then the dedup pass); a caller whose pair plan is costly to
    recompute (a join) hands over a lazily checkpointed frame."""
    edges = _bounded_rows(pairs, "a", "b")
    if len(edges) > SMALL_COMPONENT_THRESHOLD:
        pairs = pairs.select("a", "b").dropDuplicates().localCheckpoint(eager=True)
        edges = _bounded_rows(pairs, "a", "b")
    if len(edges) <= SMALL_COMPONENT_THRESHOLD:
        return _union_find_local(edges, pairs.sparkSession)
    sym = pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.dropDuplicates().localCheckpoint(eager=True)
    # label(n) starts as min(n, min neighbor) and contracts each round
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("canon"))
        .select(F.col("a").alias("entity_key"), "canon")
    )
    labels = labels.withColumn("canon", F.least("entity_key", "canon")).localCheckpoint(eager=True)
    converged = False
    for _ in range(MAX_ITERATIONS):
        # propagate: candidate label for n = min over neighbors m of label(m)
        neighbor_min = (
            sym.join(labels, sym.b == labels.entity_key)
            .groupBy("a")
            .agg(F.min("canon").alias("nbr_canon"))
        )
        new_labels = labels.join(
            neighbor_min, labels.entity_key == neighbor_min.a, "left"
        ).select(
            "entity_key",
            F.least(
                F.col("canon"), F.coalesce("nbr_canon", F.col("canon"))
            ).alias("canon"),
        )
        # pointer-jump (the large-star shortcut): canon(n) ← canon(canon(n)).
        # Neighbor propagation alone moves the min one hop per round
        # (O(diameter)); jumping through the label doubles the reach each
        # round, so convergence is O(log diameter) — a 10^6-long alias
        # chain converges in ~20 rounds instead of 10^6. canon(n) is
        # always a node of n's component, so the invariant holds.
        jump = new_labels.select(
            F.col("entity_key").alias("canon"), F.col("canon").alias("canon2")
        )
        new_labels = (
            new_labels.join(jump, "canon", "left")
            .select(
                "entity_key",
                F.least(
                    F.col("canon"), F.coalesce("canon2", F.col("canon"))
                ).alias("canon"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "entity_key")
            .where(F.col("n.canon") != F.col("o.canon"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # Never return partial labels: a silently mis-canonicalized alias
        # chain corrupts every downstream triple. With pointer jumping
        # this needs component diameter > ~2^MAX_ITERATIONS to trip.
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITERATIONS} "
            "rounds — component diameter is astronomically large or the "
            "edge set is inconsistent"
        )
    return labels


def subj_key_col(c):
    """Triple subjects/objects that are conversation nodes keep their
    'conv:' id; entity surfaces normalize to blocking keys."""
    return F.when(c.startswith("conv:"), c).otherwise(normalize_surface_col(c))


def canonicalize_triples(triples_raw: DataFrame, canonical_map: DataFrame) -> DataFrame:
    """Rewrite raw triples onto canonical entity keys. same_as triples are
    structural (they became the component edges) and are excluded from the
    fact set. The map is tiny (only aliased keys) → broadcast joins."""
    t = triples_raw.where(F.col("pred") != "same_as").select(
        subj_key_col(F.col("subj")).alias("subj"),
        "pred",
        subj_key_col(F.col("obj")).alias("obj"),
        "conv_id",
        "turn_idx",
    )
    cmap = F.broadcast(canonical_map)
    t = (
        t.join(cmap.withColumnRenamed("entity_key", "subj").withColumnRenamed("canon", "subj_canon"), "subj", "left")
        .join(cmap.withColumnRenamed("entity_key", "obj").withColumnRenamed("canon", "obj_canon"), "obj", "left")
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_canon", "obj").alias("obj"),
            "conv_id",
            "turn_idx",
        )
    )
    return t


def merge_canonical_map(
    existing: DataFrame | None, new_pairs: DataFrame
) -> DataFrame | None:
    """Incremental union-find: fold a DELTA of SAME_AS pairs into an
    existing canonical map WITHOUT re-solving the historical pair set —
    the entity-resolution analog of materialize.merge_triples (the
    streaming / Iceberg-MERGE maintenance path). Tested equal to the
    one-shot `connected_components` over the unioned pair set, on both
    paths below. `new_pairs` may repeat a pair. `existing=None` (no map
    yet) is the one-shot solve of `new_pairs`. An empty delta returns
    `existing` itself, so a caller can tell by identity that nothing
    changed.

    Small maps (map + delta ≤ SMALL_COMPONENT_THRESHOLD rows) are
    re-solved on the driver: the map's (entity_key, canon) rows plus the
    delta pairs go through one union-find. That is exact because an old
    canon is the min of its old component, so the min over a merged
    component is the global min. Each side is read with one bounded
    `limit(SMALL_COMPONENT_THRESHOLD + 1)` collect, so an oversized map
    or delta falls through to the distributed recipe instead of pulling
    unbounded rows to the driver.

    Above the threshold only components TOUCHED by the delta are
    re-solved: each delta endpoint resolves through the current map to
    its representative (unseen endpoints stand for themselves), the delta
    collapses to a pair set over representatives — ≤ 2·|delta| nodes,
    independent of corpus size — components run on that reduced graph,
    and the full map is rewritten through the resulting
    representative→representative relabeling (same min-label argument).

    Scale shape: the canonical map is bounded by the alias vocabulary,
    not the corpus, so the driver path is the common case. Above the
    threshold the existing map never shuffles when the relabeling is
    small (broadcast below functions/joins.MAP_BROADCAST_THRESHOLD rows;
    plain shuffle join above — same thresholding as dedup_survivors);
    the reduced component solve is delta-bounded."""
    delta = _bounded_rows(new_pairs, "a", "b")
    if not delta:
        return existing
    if len(delta) <= SMALL_COMPONENT_THRESHOLD:
        old = [] if existing is None else _bounded_rows(
            existing, "entity_key", "canon"
        )
        if len(old) + len(delta) <= SMALL_COMPONENT_THRESHOLD:
            return _union_find_local(old + delta, new_pairs.sparkSession)
    if existing is None:
        return connected_components(new_pairs)
    return _merge_distributed(existing, new_pairs)


def _merge_distributed(existing: DataFrame, new_pairs: DataFrame) -> DataFrame:
    from joern_spark.functions.joins import broadcast_below

    # the delta is read four times below; materialize it once
    new_pairs = new_pairs.select("a", "b").localCheckpoint(eager=True)
    ex = existing.select("entity_key", "canon")
    resolved = (
        new_pairs.join(
            ex.select(F.col("entity_key").alias("a"), F.col("canon").alias("_ca")),
            "a",
            "left",
        )
        .join(
            ex.select(F.col("entity_key").alias("b"), F.col("canon").alias("_cb")),
            "b",
            "left",
        )
        .select(
            F.coalesce("_ca", F.col("a")).alias("a"),
            F.coalesce("_cb", F.col("b")).alias("b"),
        )
        .localCheckpoint(eager=False)  # one evaluation of the joins
    )
    relabel = (
        connected_components(resolved)
        .select(F.col("entity_key").alias("_old"), F.col("canon").alias("_new"))
        .localCheckpoint(eager=True)
    )
    maybe_bc = broadcast_below(relabel)
    updated = (
        ex.join(maybe_bc(relabel), ex.canon == F.col("_old"), "left")
        .select("entity_key", F.coalesce("_new", "canon").alias("canon"))
    )
    endpoints = (
        new_pairs.select(F.col("a").alias("entity_key"))
        .unionByName(new_pairs.select(F.col("b").alias("entity_key")))
        .distinct()
    )
    unseen = (
        endpoints.join(ex, "entity_key", "left_anti")
        .join(
            maybe_bc(relabel),
            F.col("entity_key") == F.col("_old"),
            "left",
        )
        .select(
            "entity_key", F.coalesce("_new", "entity_key").alias("canon")
        )
    )
    return updated.unionByName(unseen)
