"""Cross-layer path engine — interprocedural flows over the
heterogeneous edge union.

The reference engine's defining feature is path search that FANS OUT
across method boundaries: TaskCreator spawns follow-up tasks when a flow
hits a parameter/call site (dataflowengineoss/.../queryengine/
TaskCreator.scala:11,33-60) and EdgeValidator decides, per edge KIND and
traversal direction, whether an individual hop may be followed
(EdgeValidator.scala:17-30). The transcript analog: "how did this fact
reach this conversation" needs paths over the heterogeneous union —
NEXT_TURN (intra-conversation control flow), LINKS_TO (turn → entity,
the layer change), SAME_AS (entity aliasing) and LINKS_TO traversed
BACKWARD (entity → every other turn that mentions it — the
parameter→argument fan-out into other conversations).

Per-label step semantics live in a TABLE (`StepSem` rows), not code —
the same data-driven discipline as functions/semantics.py:

  * `reverse`   — traverse the label dst→src (EdgeValidator's
    direction check); recorded in the evidence as `LABEL_REV`.
  * `crossing`  — hops of this step count against the per-path
    `max_crossings` budget, the analog of the engine's maxCallDepth
    call-crossing limit (Engine.scala:309-326).
  * `fan_topk`  — follow only the k lexicographically-first
    destinations out of each node for this step. Entity fan-in is
    corpus-proportional (a hub entity at 10^12 turns has ~10^10
    mentioning turns), so an uncapped reverse crossing is a quadratic
    blow-up and a fixed degree cap would instead kill ALL crossings at
    scale (the vocabulary is fixed, so every fan grows with the
    corpus). Following the k FIRST mentioning turns is the reference's
    source-normalization move (SourcesToStartingPoints.scala:19 expands
    a fact to its first usages): provenance flows to where the fact
    first entered the corpus, deterministically, at any scale.

Scale shape: the step table is built once per walk (per-label dedup +
skew-safe salted exact top-k for capped labels — `salted.salted_min_k`);
each round is one frontier⋈steps join with the broadcast-vs-shuffle
frontier strategy auto-selected and mid-walk downgraded exactly as in
functions/graph.expand_paths. Paths carry node and label evidence
arrays, so state per row is O(depth).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from joern_spark.functions.graph import FRONTIER_BROADCAST_MAX
from joern_spark.functions.salted import salted_min_k
from joern_spark.operators.assemble import turn_id


@dataclass(frozen=True)
class StepSem:
    """One row of the per-label step-semantics table (the EdgeValidator
    analog): may label `label` be traversed, in which direction, at what
    crossing cost, with what fan bound."""

    label: str
    reverse: bool = False
    crossing: bool = False
    fan_topk: int | None = None
    # Declares the label's edge layer duplicate-free BY CONSTRUCTION
    # (NEXT_TURN is a per-conversation window `lead`; SAME_AS a deduped
    # pair table), so step_edges skips its dedup shuffle. At 10^12
    # turns, re-deduping the control-flow layer would shuffle the whole
    # corpus for nothing — this flag is the plan-shape difference
    # between a walk that scales and one that doesn't.
    unique: bool = False


# Crossing fan bound: how many first-mentioning turns a provenance flow
# follows back out of an entity. Small and constant by design — the
# answer to "where did this fact come from" is its earliest appearances,
# not all 10^10 of them.
CROSS_FAN_K = 8

# The default table. CONTAINS is deliberately absent: conversation→turn
# containment is skip-level structure, not a flow edge (the reference
# likewise never walks CONTAINS in flow search). SAME_AS appears in both
# directions because the pair table is directed (alias → target).
DEFAULT_STEP_SEMANTICS: list[StepSem] = [
    StepSem("NEXT_TURN", unique=True),
    StepSem("LINKS_TO"),
    StepSem("SAME_AS", unique=True),
    StepSem("SAME_AS", reverse=True, unique=True),
    StepSem("LINKS_TO", reverse=True, crossing=True, fan_topk=CROSS_FAN_K),
]


def step_name(sem: StepSem) -> str:
    return sem.label + ("_REV" if sem.reverse else "")


def step_edges(
    edges: DataFrame, sems: list[StepSem] | None = None
) -> DataFrame:
    """(src, dst, lbl, crossing) — the directed step set the walk joins
    against, derived from the labeled edge union by the semantics table.
    Duplicate edges must not multiply paths, so every label slice is
    duplicate-free when it enters the walk — either deduped here, or
    declared `unique` in the semantics row because its PRODUCER
    guarantees it (window `lead`, deduped pair table). `unique` is a
    contract on the producer, not a hope about the data: a corpus that
    violates turn-key integrity (duplicate (conv_id, turn_idx) rows —
    surfaced by the duplicate-turn scanner and cleaned by the streaming
    dedup) must not be walked with NEXT_TURN flagged unique. When
    `fan_topk` is set the slice is additionally reduced to the k
    lexicographically-first destinations per source via the skew-safe
    exact top-k.

    Scan accounting: ONE skinny materialized base per label (the label
    filter prunes the union plan to that label's branch, so each branch
    — including the LINKS_TO one that embeds the full mention
    extraction — is scanned exactly once); every direction slice is a
    projection of its label base. Only labels NOT declared `unique` pay
    a dedup shuffle: NEXT_TURN (per-conversation window `lead`) and
    SAME_AS (deduped pair table) are duplicate-free by construction,
    and at corpus scale the skipped NEXT_TURN dedup is a
    10^12-row shuffle that buys nothing. A slice of a deduped (src,
    dst) set stays deduped after the reverse swap, so forward/reverse
    steps share their label base."""
    sems = DEFAULT_STEP_SEMANTICS if sems is None else sems
    bases: dict[str, DataFrame] = {}
    for label in sorted({s.label for s in sems}):
        b = (
            edges.select("src", "dst", "label")
            .where(F.col("label") == label)
            .select("src", "dst")
        )
        if not all(s.unique for s in sems if s.label == label):
            b = b.dropDuplicates()
        bases[label] = b.localCheckpoint(eager=False)
    outs = []
    for s in sems:
        e = bases[s.label].select(
            (F.col("dst") if s.reverse else F.col("src")).alias("src"),
            (F.col("src") if s.reverse else F.col("dst")).alias("dst"),
        )
        if s.fan_topk is not None:
            e = salted_min_k(e, "src", "dst", s.fan_topk)
        outs.append(
            e.select(
                "src",
                "dst",
                F.lit(step_name(s)).alias("lbl"),
                F.lit(1 if s.crossing else 0).alias("crossing"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sources_to_starting_points(
    sources: DataFrame,
    edges: DataFrame,
    k: int = CROSS_FAN_K,
    id_col: str = "id",
) -> DataFrame:
    """Source normalization (SourcesToStartingPoints.scala:19-102): the
    reference expands literal/member SOURCES to their first usages before
    flow search, so "where does X flow" starts from places X actually
    appears. Transcript analog: an ENTITY source (a fact key) expands to
    the k lexicographically-first TURNS that mention it (reverse
    LINKS_TO); TURN sources are already starting points and pass through
    unchanged.

    Output: (id, start, via) — `via` is 'self' for pass-through rows and
    'LINKS_TO_REV' for expanded ones, so callers can tell seed kinds
    apart. Skew shape: the per-entity fan is the salted exact top-k
    (hub entities at corpus scale never funnel one reducer), and the
    sources side joins the capped edge slice — no corpus-proportional
    broadcast."""
    lt = (
        edges.where(F.col("label") == "LINKS_TO")
        .select(F.col("dst").alias("entity"), F.col("src").alias("turn"))
        .dropDuplicates()
    )
    first_k = salted_min_k(lt, "entity", "turn", k)
    src = sources.select(F.col(id_col).alias("id")).dropDuplicates()
    expanded = src.join(
        first_k, src["id"] == first_k["entity"]
    ).select(
        "id",
        F.col("turn").alias("start"),
        F.lit("LINKS_TO_REV").alias("via"),
    )
    passthrough = src.join(
        lt.select("entity").dropDuplicates(),
        src["id"] == F.col("entity"),
        "left_anti",
    ).select("id", F.col("id").alias("start"), F.lit("self").alias("via"))
    return expanded.unionByName(passthrough)


CROSS_PATHS_SCHEMA = (
    "src string, dst string, depth int, crossings int, "
    "path array<string>, labels array<string>"
)


def flows_between(
    sources: DataFrame,
    sinks: DataFrame,
    edges: DataFrame,
    sems: "list[StepSem] | None" = None,
    max_depth: int = 4,
    max_crossings: int = 1,
    id_col: str = "id",
    max_nesting: int = 1,
    steps: DataFrame | None = None,
) -> DataFrame:
    """reachableBy(source, sink) — the reference's two-ended flow query
    (Engine.scala:81-107 runs the solver per SINK against the source
    set): surviving cross-layer paths whose endpoint lies in `sinks`,
    one max-length path per (src, dst) with full node+label evidence.

    The sink restriction is applied AFTER the keep="max" selection, so
    the surviving path per (src, dst) pair is identical to what
    expand_paths_hetero returns for that pair — filtering before the
    walk would change which paths exist (a path THROUGH a sink to a
    longer sink is still the max-length representative). The sink set
    joins as a broadcast semi-join when small; at corpus scale a sink
    set is a node-id table and the join falls back to shuffle-hash on
    the padded id like any dimension probe."""
    paths = expand_paths_hetero(
        sources,
        edges,
        sems,
        max_depth=max_depth,
        max_crossings=max_crossings,
        id_col=id_col,
        max_nesting=max_nesting,
        steps=steps,
    )
    sk = sinks.select(F.col(id_col).alias("dst")).dropDuplicates()
    return paths.join(sk, "dst", "left_semi").select(
        "src", "dst", "depth", "crossings", "path", "labels"
    )


def annotate_path_elements(paths: DataFrame) -> DataFrame:
    """Per-element path annotations — the reference decorates every flow
    path element with visibility/output-arg flags when rendering results
    (Engine.scala:218-241 computes them per element;
    package.scala:43-71 renders only the visible ones). The transcript
    analog per element:

      node        — the path element id
      step_label  — the edge label that PRODUCED this element (NULL for
                    the seed, labels[i-1] otherwise)
      layer       — 'TURN' (id carries a conv prefix) or 'ENTITY'
      visible     — turns are the render-visible elements; entity hops
                    are the linking glue a rendered flow hides (the
                    invisible-element analog)
      is_crossing — this hop landed in a different conversation than the
                    previous TURN element (the output-arg/call-boundary
                    marker a user scans for)

    Pure array transform over (path, labels) — no join, no shuffle, no
    Python; annotating a billion paths is a projection."""
    conv_of = lambda node: F.when(  # noqa: E731
        node.contains(":"), F.substring_index(node, ":", 1)
    )
    elem_t = (
        "array<struct<node:string,step_label:string,layer:string,"
        "visible:boolean,is_crossing:boolean>>"
    )
    idxs = F.sequence(F.lit(1), F.size("path"))
    init = F.struct(
        F.array().cast(elem_t).alias("elems"),
        F.lit(None).cast("string").alias("cur"),  # nearest previous TURN's conv
    )

    def step(acc, i):
        node = F.try_element_at(F.col("path"), i)
        lbl = F.try_element_at(F.col("labels"), i - 1)
        conv = conv_of(node)
        el = F.struct(
            node.alias("node"),
            F.when(i > 1, lbl).alias("step_label"),
            F.when(node.contains(":"), F.lit("TURN"))
            .otherwise(F.lit("ENTITY"))
            .alias("layer"),
            node.contains(":").alias("visible"),
            (
                conv.isNotNull()
                & acc["cur"].isNotNull()
                & (conv != acc["cur"])
            ).alias("is_crossing"),
        )
        return F.struct(
            F.array_append(acc["elems"], el).alias("elems"),
            F.coalesce(conv, acc["cur"]).alias("cur"),
        )

    return paths.withColumn(
        "elems", F.aggregate(idxs, init, step, lambda acc: acc["elems"])
    )


def asking_turns(triples_raw: DataFrame) -> DataFrame:
    """The canonical walk's seed set: every turn that asks about an
    entity (a `queried_about` triple), as distinct `conv_id:turn_idx`
    ids."""
    return (
        triples_raw.where(F.col("pred") == "queried_about")
        .select(turn_id().alias("id"))
        .dropDuplicates()
    )


def named_flows(
    transcripts: DataFrame,
    src_pattern: str,
    dst_pattern: str,
    edges: DataFrame | None = None,
    sems: "list[StepSem] | None" = None,
    max_depth: int = 4,
    max_crossings: int = 1,
    max_nesting: int = 1,
    steps: DataFrame | None = None,
    paths: DataFrame | None = None,
) -> DataFrame:
    """`joern-flow`-style NAMED flow query (JoernFlow.scala:21-56 selects
    sources/sinks by regex over parameters and runs reachableByFlows):
    source turns are those whose text matches `src_pattern`, sink turns
    those matching `dst_pattern`; the walk itself is flows_between over
    the heterogeneous edge union. This is the starter a user reaches for
    from the console/HTTP surface — patterns in, evidence paths out,
    no DataFrame composition required.

    `paths` short-circuits the walk with a cached keep='all' path set
    (the session/workspace walk cache): seeds semi-join the cache's src,
    depth re-budgets by filter, keep='max' re-selects, sinks semi-join —
    PRECONDITION: the cache's seed set must cover every pattern-matched
    turn and its depth/crossing budgets must be ≥ the requested ones
    (the registered query pairs it with the session walk whose seeds are
    exactly the asking turns). At 100 TB the cached derivation is three
    semi-joins against an already-materialized table instead of a
    corpus-wide multi-round walk."""
    sources = (
        transcripts.where(F.col("text").rlike(src_pattern))
        .select(turn_id().alias("id"))
        .dropDuplicates()
    )
    sinks = (
        transcripts.where(F.col("text").rlike(dst_pattern))
        .select(turn_id().alias("id"))
        .dropDuplicates()
    )
    if paths is not None:
        pruned = (
            paths.where(F.col("depth") <= max_depth)
            .where(F.col("crossings") <= max_crossings)
            .join(
                sources.select(F.col("id").alias("src")), "src", "left_semi"
            )
        )
        return max_length_paths(pruned).join(
            sinks.select(F.col("id").alias("dst")), "dst", "left_semi"
        ).select("src", "dst", "depth", "crossings", "path", "labels")
    if edges is None:
        raise ValueError("named_flows needs `edges` when no cached `paths`")
    return flows_between(
        sources,
        sinks,
        edges,
        sems=sems,
        max_depth=max_depth,
        max_crossings=max_crossings,
        max_nesting=max_nesting,
        steps=steps,
    )


def incremental_paths(
    cached_paths: DataFrame,
    updated_edges: DataFrame,
    delta_edges: DataFrame,
    seeds: DataFrame,
    sems: "list[StepSem] | None" = None,
    max_depth: int = 4,
    max_crossings: int = 1,
    max_nesting: int = 1,
    id_col: str = "id",
    steps: DataFrame | None = None,
) -> DataFrame:
    """Incrementally maintain a keep='all' walk under an APPEND-ONLY edge
    delta (the streaming-ingest model, like canonicalize's incremental
    component merge): recompute only the seeds whose results can have
    changed, keep everything else from the cache.

    Soundness of the invalidation rule: any path that differs under the
    updated edge table must use a delta edge somewhere; up to its FIRST
    delta edge the path is made of old edges only, and that prefix is
    itself a feasible old-edge partial path from the same seed (every
    walk constraint — depth, cycle exclusion, crossing budget, LIFO
    realizability — is prefix-monotone), so keep='all' already cached a
    path from that seed ENDING at the delta edge's src. Therefore:
    a seed is invalid iff some cached path of it touches a delta-edge
    src node, or the seed itself is new. Everything else's cached rows
    are byte-valid under the updated table.

    Scale shape: the affected-node set is |delta|-sized and broadcasts;
    invalidation is one explode + broadcast-hash semi-join over the
    cached path table (≤ max_depth+1 probe rows per cached path, no
    walk, no nested-loop scan); the re-walk runs only from invalid +
    new seeds over the updated edges. A small delta on a 10^12-turn corpus re-walks a
    delta-proportional seed set instead of the world."""
    # BOTH delta endpoints: the step table derives reversed steps from an
    # edge (SAME_AS both ways, LINKS_TO_REV), so a new edge changes walks
    # arriving at either end
    affected = (
        delta_edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("n")
        )
        .dropDuplicates()
    )
    sd = seeds.select(F.col(id_col).alias("id")).dropDuplicates()
    cached_seeds = cached_paths.select(F.col("src").alias("id")).dropDuplicates()
    brand_new = sd.join(cached_seeds, "id", "left_anti")
    # equi-probe, not array_contains against the broadcast: a predicate
    # join would plan as BroadcastNestedLoopJoin — |cached paths| ×
    # |affected| array scans (measured 878s at sf0.1). Exploding the
    # path array (≤ max_depth+1 rows per path) turns it into a broadcast
    # HASH semi-join: one O(1) probe per path node, linear in the cache.
    touched = (
        cached_paths.select(
            F.col("src").alias("id"), F.explode("path").alias("n")
        )
        .join(F.broadcast(affected), "n", "left_semi")
        .select("id")
        .dropDuplicates()
    )
    invalid = touched.join(sd, "id", "left_semi").unionByName(brand_new)
    # cached rows survive only for seeds that are STILL seeds and not
    # invalidated — a retired seed's paths drop with it
    valid_paths = cached_paths.join(
        sd.select(F.col("id").alias("src")), "src", "left_semi"
    ).join(invalid.select(F.col("id").alias("src")), "src", "left_anti")
    rewalked = expand_paths_hetero(
        invalid,
        updated_edges,
        sems,
        max_depth=max_depth,
        max_crossings=max_crossings,
        keep="all",
        id_col="id",
        max_nesting=max_nesting,
        steps=steps,  # the UPDATED table's step set, when already built
    )
    return valid_paths.unionByName(rewalked)


def expand_paths_hetero(
    frontier: DataFrame,
    edges: DataFrame,
    sems: list[StepSem] | None = None,
    max_depth: int = 4,
    max_crossings: int = 1,
    keep: str = "max",
    id_col: str = "id",
    checkpoint_every: int | None = None,
    broadcast_frontier: bool | None = None,
    realizable: bool = True,
    max_nesting: int = 1,
    steps: DataFrame | None = None,
) -> DataFrame:
    """Bounded cross-layer path search: one row per surviving flow
    `(src, dst, depth, crossings, path, labels)` with node AND step-label
    evidence arrays — the reachableByFlows analog over the heterogeneous
    union, with per-label validity from the `sems` table.

    Kept from the homogeneous `expand_paths`: path-cycle exclusion
    (Engine.scala:252-269), depth k-limit, keep="max" max-length dedup
    per (src, dst) with deterministic (path, labels) tie-break; plus the
    crossing budget — paths accumulate the `crossing` cost of each hop
    and die when it would exceed `max_crossings` (maxCallDepth,
    Engine.scala:309-326).

    `realizable=True` adds the call-stack realizability discipline as a
    bounded LIFO call-site stack — the full callSiteStack semantics of
    the reference engine (TaskCreator.scala:33-60 pushes the call site
    when a task descends into a callee and HeldTask completion unwinds
    it; ReachableByTask.scala carries the stack on every task): each
    path carries `stack` (the conversations it has called OUT of, most
    recent last) and `cur_conv` (the frame prefix before the first ':'
    of a turn id; opaque ids without ':' act as their own frame). A
    crossing hop to conversation X is then
      * intra-frame  (X == cur_conv)       — always allowed, no change;
      * a RETURN     (X == top of stack)   — pop, like a flow going back
        to the call site that produced it;
      * a CALL       (anything else)       — push cur_conv, allowed only
        while the stack holds fewer than `max_nesting` frames.
    Returns must unwind in LIFO order: after A→B→C (two nested calls)
    the only legal return target is B, never A directly — the
    mismatched-return exclusion that makes multi-crossing paths
    realizable. `max_nesting=1` (the default, used by the registered
    queries) restricts to one open frame: every escape must re-enter
    its origin before calling elsewhere (A→entity→B→entity→C dies,
    A→…→B→…→A lives). At budget ≤1 no path can attempt a non-call
    crossing, so the filter is provably a no-op there (tested); multiple
    out-and-back excursions (A→B→A→C→A…) remain realizable, like
    repeated calls from one caller. The stack column is O(max_nesting)
    strings per row, bounded by the crossing budget.

    Frontier strategy auto-selection and mid-walk downgrade are
    identical to `expand_paths` (FRONTIER_BROADCAST_MAX rule).

    `steps` lets a session that runs SEVERAL walks over the same corpus
    (different depth/nesting budgets) pass one shared, already-
    materialized step table instead of re-deriving + re-deduping the
    label bases per walk — the step table IS the graph, so a battery
    should build it once. When provided it must be the `step_edges`
    output for the same `sems`; the builder path is unchanged."""
    own_steps = steps is None
    if own_steps:
        steps = step_edges(edges, sems)
    seed_conv = F.when(
        F.col(id_col).contains(":"), F.substring_index(F.col(id_col), ":", 1)
    )
    cur = (
        frontier.select(
            F.col(id_col).alias("src"),
            F.col(id_col).alias("dst"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("crossings"),
            F.array(F.col(id_col)).alias("path"),
            F.array().cast("array<string>").alias("labels"),
            F.array().cast("array<string>").alias("stack"),
            seed_conv.alias("cur_conv"),
        )
        .dropDuplicates(["src"])
        .localCheckpoint(eager=True)
    )
    auto = broadcast_frontier is None
    n_live = cur.count() if auto else 0
    if auto:
        broadcast_frontier = n_live <= FRONTIER_BROADCAST_MAX
    if not broadcast_frontier:
        steps = steps.repartition(F.col("src")).localCheckpoint(eager=False)
    elif own_steps:
        # a caller-shared table is already checkpointed by its memo;
        # re-checkpointing would copy every partition per walk
        steps = steps.localCheckpoint(eager=False)
    maybe_bc = F.broadcast if broadcast_frontier else (lambda df: df)
    if checkpoint_every is None:
        checkpoint_every = 1 if broadcast_frontier else 4
    acc = None
    for i in range(max_depth):
        is_cross = F.col("e.crossing") == 1
        conv_new = F.substring_index(F.col("e.dst"), ":", 1)
        joined = (
            maybe_bc(cur)
            .alias("c")
            .join(steps.alias("e"), F.col("c.dst") == F.col("e.src"))
            .where(~F.array_contains(F.col("c.path"), F.col("e.dst")))
            .where(F.col("c.crossings") + F.col("e.crossing") <= max_crossings)
        )
        stack, cur_conv = F.col("c.stack"), F.col("c.cur_conv")
        # try_element_at: NULL on an empty stack instead of the ANSI
        # INVALID_ARRAY_INDEX error — the (size > 0) conjunct below does
        # NOT contractually short-circuit under Catalyst reordering
        top = F.try_element_at(stack, F.lit(-1))
        is_intra = cur_conv.isNull() | (conv_new == cur_conv)
        is_return = (F.size(stack) > 0) & (conv_new == top)
        if realizable:
            # a crossing is intra-frame, a LIFO return to the stack top,
            # or a call with a free frame — anything else is an
            # unrealizable mismatched return and dies here
            joined = joined.where(
                (~is_cross)
                | is_intra
                | is_return
                | (F.size(stack) < max_nesting)
            )
        nxt = joined.select(
            F.col("c.src").alias("src"),
            F.col("e.dst").alias("dst"),
            (F.col("c.depth") + 1).alias("depth"),
            (F.col("c.crossings") + F.col("e.crossing")).alias("crossings"),
            F.array_append(F.col("c.path"), F.col("e.dst")).alias("path"),
            F.array_append(F.col("c.labels"), F.col("e.lbl")).alias("labels"),
            F.when(~is_cross | is_intra, stack)
            .when(is_return, F.slice(stack, F.lit(1), F.size(stack) - 1))
            .otherwise(F.array_append(stack, cur_conv))
            .alias("stack"),
            F.when(is_cross, conv_new).otherwise(cur_conv).alias("cur_conv"),
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
        return frontier.sparkSession.createDataFrame([], CROSS_PATHS_SCHEMA)
    # stack/cur_conv are internal realizability state, not evidence
    acc = acc.select("src", "dst", "depth", "crossings", "path", "labels")
    if keep == "all":
        return acc
    return max_length_paths(acc)


def max_length_paths(paths: DataFrame) -> DataFrame:
    """keep="max" as a standalone step: one surviving path per
    (src, dst) — longest, with the (path, labels) lexicographic
    tie-break. A min(struct(...)) aggregate selects the identical row a
    row_number window would, but partial (map-side) aggregation
    collapses most candidates before the shuffle, where the window shape
    must shuffle+sort EVERY accumulated path row (2.1M rows → ~5s saved
    at sf0.1; at corpus scale the difference is the whole path set
    crossing the wire vs one row per (src, dst)). Public so a cached
    keep='all' walk can feed both the flow scanners (path predicates)
    and the max-path queries without walking twice."""
    pick = F.struct(
        (-F.col("depth")).alias("nd"),
        F.array_join("path", "->").alias("pj"),
        F.array_join("labels", "->").alias("lj"),
        F.col("depth").alias("depth"),
        F.col("crossings").alias("crossings"),
        F.col("path").alias("path"),
        F.col("labels").alias("labels"),
    )
    return (
        paths.groupBy("src", "dst")
        .agg(F.min(pick).alias("_s"))
        .select(
            "src", "dst", "_s.depth", "_s.crossings", "_s.path", "_s.labels"
        )
    )
