"""Read-side traversal algebra — the query-DSL steps of the reference
(SURVEY.md §2.B) re-expressed as DataFrame combinators over the node/edge
tables. The reference's DSL is lazy Iterator extension methods
(semanticcpg/.../language/Steps.scala:14-18); here every step returns an
unevaluated DataFrame, so Catalyst fuses chains the way the reference fuses
iterators — and additionally gets pushdown/pruning the reference lacks.

Step mapping (reference → here):
  cfgNext/cfgPrev (CfgNodeTraversal.scala:26-37)  → step / step_back
  cfgNext(n)                                       → k_hop
  repeat(...)(_.emit/_.until/_.maxDepth)
      (AstNodeTraversal.scala:15,75-79)            → expand (iterative join,
      frontier dropDuplicates = the engine's task-fingerprint dedup,
      Engine.scala:133-143)
  dominates/postDominates (CfgNodeMethods.scala:54-82) → linear chains make
      these turn_idx comparisons; reachable() covers the general case
  where/whereNot (semi/anti join)                  → built-in joins
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def step(frontier: DataFrame, edges: DataFrame, id_col: str = "id") -> DataFrame:
    """One-hop expansion: nodes reachable from `frontier` via `edges`."""
    return (
        frontier.select(F.col(id_col).alias("src"))
        .join(edges, "src")
        .select(F.col("dst").alias(id_col))
        .dropDuplicates()
    )


def step_back(frontier: DataFrame, edges: DataFrame, id_col: str = "id") -> DataFrame:
    return step(frontier, edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")), id_col)


def k_hop(edges: DataFrame, k: int) -> DataFrame:
    """(src, dst) pairs exactly k edges apart. Bounded iterative self-join —
    the reference's cfgNext(n). k is small (the engine's maxCallDepth-style
    k-limit, Engine.scala:320-326); each iteration is one shuffle join and
    the pair set is deduped to keep frontiers tight."""
    cur = edges.select("src", "dst")
    for _ in range(k - 1):
        nxt = cur.alias("a").join(
            edges.alias("b"), F.col("a.dst") == F.col("b.src")
        ).select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        cur = nxt.dropDuplicates()
    return cur


# Frontier rows above which broadcast-hash expansion is unsafe: each
# round ships the frontier (and the monotonically growing `seen` set) to
# every executor, so a corpus-proportional frontier (e.g. "every
# conversation's first turn" at 10^12 turns) is a guaranteed broadcast
# OOM. 1M id-strings ≈ 30–60 MB serialized — the upper edge of sane
# broadcast size. Below: broadcast (the edge table never shuffles);
# above: co-partitioned shuffle join. Auto-selected from a cheap count
# of the (already materialized) root set, and DOWNGRADED mid-walk if the
# visited set outgrows the threshold.
FRONTIER_BROADCAST_MAX = 1_000_000


def expand(
    frontier: DataFrame,
    edges: DataFrame,
    max_depth: int = 10,
    emit: bool = True,
    id_col: str = "id",
    checkpoint_every: int | None = None,
    until=None,
    emit_all_but_first: bool = False,
    broadcast_frontier: bool | None = None,
) -> DataFrame:
    """repeat(step)(_.emit.maxDepth(k)) — bounded transitive expansion with
    accumulator union and frontier dedup. localCheckpoint keeps the plan
    linear (SURVEY.md §7 hard-part (a)), but eagerly materializing every
    round costs one blocking job each — so checkpoint (and probe the
    empty-frontier early exit) every `checkpoint_every` rounds; in between,
    lineage grows by only a join+union per round, which Catalyst handles
    fine for single-digit depths.

    Emission policies (AstNodeTraversal.scala:75-79):
      * emit=True                → emit every visited node (incl. frontier)
      * emit_all_but_first=True  → emit every visited node EXCEPT the
        initial frontier (repeat(...)(_.emitAllButFirst))
      * until=fn(Column→Column)  → repeat(...)(_.until(pred)): nodes whose
        id satisfies pred(col(id)) are emitted but not expanded further —
        the walk stops descending at the first match on each branch.

    Join strategy: the edge table is lazily checkpointed ONCE (computed a
    single time, reused every round). broadcast_frontier=None (default)
    auto-selects from a cheap count of the deduped root set: ≤
    FRONTIER_BROADCAST_MAX rows → broadcast-hash rounds (the big edge
    side NEVER shuffles; per-round cost is shipping the small frontier,
    measured 2.1× in favor at sf0.1); above → co-partitioned shuffle
    join (the edge table is pre-partitioned on the join key so every
    round's shuffle join co-partitions). A broadcast walk additionally
    DOWNGRADES to shuffle joins mid-walk if the visited set outgrows the
    threshold (the edge table is not re-partitioned at that point — the
    remaining rounds pay an edge shuffle, which is still OOM-safe,
    unlike an over-threshold broadcast)."""
    edges = edges.select("src", "dst")
    seen = frontier.select(id_col).dropDuplicates().localCheckpoint(eager=True)
    auto = broadcast_frontier is None
    n_seen = seen.count() if auto else 0
    if auto:
        broadcast_frontier = n_seen <= FRONTIER_BROADCAST_MAX
    if not broadcast_frontier:
        edges = edges.repartition(F.col("src"))
    edges = edges.localCheckpoint(eager=False)
    maybe_bc = F.broadcast if broadcast_frontier else (lambda df: df)
    if checkpoint_every is None:
        # broadcast mode driver-collects each round's frontier anyway, so
        # eager per-round materialization is free and stops plan
        # re-execution (measured 4.9s vs 10.6s at sf0.1 depth 5); in
        # shuffle mode each eager checkpoint costs a blocking job, so
        # amortize over 4 rounds.
        checkpoint_every = 1 if broadcast_frontier else 4
    stopped = None  # until-matched nodes (the result set when not emitting all)
    if until is not None:
        stopped = seen.where(until(F.col(id_col)))
        cur = seen.where(~until(F.col(id_col)))
    else:
        cur = seen
    acc = None if emit_all_but_first else (seen if emit else None)
    emit_visited = emit or emit_all_but_first
    for i in range(max_depth):
        nxt = step(maybe_bc(cur), edges, id_col).join(
            maybe_bc(seen), id_col, "left_anti"
        )
        if (i + 1) % checkpoint_every == 0 or i == max_depth - 1:
            nxt = nxt.localCheckpoint(eager=True)
            n_nxt = nxt.count()
            if n_nxt == 0:
                break
            n_seen += n_nxt
            if auto and broadcast_frontier and n_seen > FRONTIER_BROADCAST_MAX:
                broadcast_frontier = False
                maybe_bc = lambda df: df  # noqa: E731 — mid-walk downgrade
            seen = seen.union(nxt).localCheckpoint(eager=True)
        else:
            seen = seen.union(nxt)
        if emit_visited:
            acc = nxt if acc is None else acc.union(nxt)
        else:
            acc = nxt
        if until is not None:
            stopped = stopped.union(nxt.where(until(F.col(id_col))))
            cur = nxt.where(~until(F.col(id_col)))
        else:
            cur = nxt
    if until is not None and not emit_visited:
        # repeat(t)(_.until(p)): result = nodes where p held, plus walk
        # ends left in the frontier when the depth budget ran out
        return stopped.union(cur).dropDuplicates()
    return (acc if acc is not None else cur).dropDuplicates()


PATHS_SCHEMA = "src string, dst string, depth int, path array<string>"


def expand_paths(
    frontier: DataFrame,
    edges: DataFrame,
    max_depth: int = 5,
    id_col: str = "id",
    checkpoint_every: int | None = None,
    keep: str = "max",
    broadcast_frontier: bool | None = None,
) -> DataFrame:
    """reachableByFlows analog — bounded expansion that carries the full
    evidence path (ExtendedCfgNode.scala:40-63): returns one row per
    surviving flow `(src, dst, depth, path)` with path = [src, …, dst].

    Semantics kept from the reference engine:
      * path-cycle exclusion — a path never revisits a node
        (Engine.scala:252-269);
      * depth k-limit — max_depth caps expansion like maxCallDepth
        (Engine.scala:309-326);
      * final dedup keeps the MAX-length path per (src, dst) pair,
        ties broken by lexicographic path (Engine.scala:154-179);
        keep="all" returns every cycle-free path instead.

    Scale shape: per round one join frontier⋈edges — broadcast-hash with
    the frontier shipped or co-partitioned shuffle join, auto-selected
    (and mid-walk downgraded as live paths multiply) by the same
    FRONTIER_BROADCAST_MAX count rule as `expand`; the path column rides
    along as an array, so state per row is O(depth). Checkpoints every
    few rounds truncate lineage."""
    edges = edges.select("src", "dst")
    cur = frontier.select(
        F.col(id_col).alias("src"),
        F.col(id_col).alias("dst"),
        F.lit(0).alias("depth"),
        F.array(F.col(id_col)).alias("path"),
    ).dropDuplicates(["src"]).localCheckpoint(eager=True)
    auto = broadcast_frontier is None
    n_live = cur.count() if auto else 0
    if auto:
        broadcast_frontier = n_live <= FRONTIER_BROADCAST_MAX
    if not broadcast_frontier:
        edges = edges.repartition(F.col("src"))
    edges = edges.localCheckpoint(eager=False)
    maybe_bc = F.broadcast if broadcast_frontier else (lambda df: df)
    if checkpoint_every is None:
        checkpoint_every = 1 if broadcast_frontier else 4
    acc = None
    for i in range(max_depth):
        nxt = (
            maybe_bc(cur).alias("c")
            .join(edges.alias("e"), F.col("c.dst") == F.col("e.src"))
            .where(~F.array_contains(F.col("c.path"), F.col("e.dst")))
            .select(
                F.col("c.src").alias("src"),
                F.col("e.dst").alias("dst"),
                (F.col("c.depth") + 1).alias("depth"),
                F.array_append(F.col("c.path"), F.col("e.dst")).alias("path"),
            )
        )
        if (i + 1) % checkpoint_every == 0 or i == max_depth - 1:
            nxt = nxt.localCheckpoint(eager=True)
            n_live = nxt.count()
            if n_live == 0:
                break
            if auto and broadcast_frontier and n_live > FRONTIER_BROADCAST_MAX:
                broadcast_frontier = False
                maybe_bc = lambda df: df  # noqa: E731 — mid-walk downgrade
        acc = nxt if acc is None else acc.union(nxt)
        cur = nxt
    if acc is None:
        return frontier.sparkSession.createDataFrame([], PATHS_SCHEMA)
    if keep == "all":
        return acc
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy("src", "dst").orderBy(
        F.desc("depth"), F.asc(F.array_join("path", "->"))
    )
    return (
        acc.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
