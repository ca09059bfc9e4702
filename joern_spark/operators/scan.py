"""Query battery → findings materialization (joern-scan).

The reference's JoernScan runs every querydb query over the CPG and adds
a NewFinding node per hit with (name, title, score, evidence)
(console/.../scan/ScanPass.scala:10-16, finding construction
console/.../scan/package.scala:80-99; query packaging
macros/.../Query.scala:10-51). Here a scanner is a plain Python function
DataFrame → findings rows `(query_name, evidence, score)`, registered in
SCANNERS — the "query pack of query packs". `run_scan` unions every
scanner's findings into one appendable table (TAGGED_BY/NewFinding
analog).

Scanners are pure DataFrame plans, so the whole battery is one Catalyst
job; adding a scanner costs one union branch, not a pass over the data.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from joern_spark.operators.extract import (
    RULES_BY_NAME,
    _match_cond,
    extract_mentions,
    extract_triples_raw,
)

FINDING_COLS = ("query_name", "evidence", "score")


@dataclass(frozen=True)
class TurnSlices:
    """One slice per extraction rule — the battery's shared scan set.

    At 10^12 turns the battery must NOT pay one corpus text-pass per
    scanner: ~25 of the scanners each re-filtered the raw turn table
    with their rule regex, i.e. ~25 full text scans for one battery
    run. `run_scan` builds these slices ONCE (one filtered extraction
    pass per rule, lazily checkpointed — at cluster scale these are the
    intermediate tables a production battery would persist) and every
    rule-based scanner reads its slice. A standalone scanner call (the
    querydb example replay) builds unmaterialized slices inline — the
    identical plan, just not shared.

    Column conventions: every slice carries (conv_id, turn_idx, ts);
    `loc`/`a`/`b` are blocking-normalized (normalize_surface_col),
    `tool_name`/`temp`/`cond`/db names are raw extracts — exactly the
    expressions the scanners previously built inline, so findings are
    value-identical."""

    ask: DataFrame      # + loc
    call: DataFrame     # + tool_name, loc
    result: DataFrame   # + loc, temp, cond
    alias: DataFrame    # + a, b
    rebind: DataFrame   # + new_db, old_db
    dbcur: DataFrame
    db: DataFrame       # + db_name
    summary: DataFrame  # + loc, temp, cond (assistant recap turns)
    mentions: DataFrame  # extract_mentions output (all rules)
    # Every turn with its predecessor (ONE conv-window pass shared by
    # all adjacency scanners — echo-turn, clock-skew, stale-handoff,
    # result-mismatch — instead of one full-corpus window shuffle each).
    adjacent: DataFrame  # + prev_turn_idx, prev_role, prev_text, prev_ts


def build_slices(transcripts: DataFrame, materialize: bool = False) -> TurnSlices:
    from joern_spark.operators.extract import (
        extract_mentions,
        normalize_surface_col,
    )

    ckpt = (
        (lambda df: df.localCheckpoint(eager=False))
        if materialize
        else (lambda df: df)
    )

    def ex(rule: str, grp: int):
        return F.regexp_extract("text", RULES_BY_NAME[rule].pattern, grp)

    def sl(rule: str, *cols):
        return ckpt(
            transcripts.where(_match_cond(RULES_BY_NAME[rule])).select(
                "conv_id", "turn_idx", "ts", *cols
            )
        )

    n = normalize_surface_col
    w_adj = Window.partitionBy("conv_id").orderBy("turn_idx")
    return TurnSlices(
        ask=sl("ask", n(ex("ask", 1)).alias("loc")),
        call=sl(
            "call",
            ex("call", 1).alias("tool_name"),
            n(ex("call", 2)).alias("loc"),
        ),
        result=sl(
            "result",
            n(ex("result", 1)).alias("loc"),
            ex("result", 2).alias("temp"),
            ex("result", 3).alias("cond"),
        ),
        alias=sl(
            "alias",
            n(ex("alias", 1)).alias("a"),
            n(ex("alias", 2)).alias("b"),
        ),
        rebind=sl(
            "rebind",
            ex("rebind", 1).alias("new_db"),
            ex("rebind", 2).alias("old_db"),
        ),
        dbcur=sl("dbcur"),
        db=sl("db", ex("db", 1).alias("db_name")),
        summary=sl(
            "summary",
            n(ex("summary", 3)).alias("loc"),
            ex("summary", 1).alias("temp"),
            ex("summary", 2).alias("cond"),
        ),
        mentions=ckpt(extract_mentions(transcripts)),
        # deliberately NOT checkpointed: the slice is corpus-width (text
        # + prev_text), so serializing it costs more than it saves; the
        # four consumers share this one plan object and ReuseExchange
        # dedupes the single conv-window shuffle across their branches.
        adjacent=transcripts.select(
            "conv_id", "turn_idx", "role", "text", "ts"
        ).select(
            "*",
            F.lag("turn_idx").over(w_adj).alias("prev_turn_idx"),
            F.lag("role").over(w_adj).alias("prev_role"),
            F.lag("text").over(w_adj).alias("prev_text"),
            F.lag("ts").over(w_adj).alias("prev_ts"),
        ),
    )


def _slices(transcripts: DataFrame, slices: TurnSlices | None) -> TurnSlices:
    return slices if slices is not None else build_slices(transcripts)


def scan_mega_conversations(transcripts: DataFrame) -> DataFrame:
    """Skew detector: conversations ≥ 256 turns (the mega-conversation
    tail the generator plants; the reference's >4000-definitions bail-out
    threshold as a *finding* instead of a skip)."""
    return (
        transcripts.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 256)
        .select(
            F.lit("mega-conversation").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def _mention_counts(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """(entity_key, n) — the shared base of the three mention-statistics
    scanners. run_scan builds this ONCE (from the shared mention slice)
    so the extraction scan + shuffle run once instead of per scanner."""
    from joern_spark.operators.link import keyed_mentions

    m = keyed_mentions(_slices(transcripts, slices).mentions)
    return m.groupBy("entity_key").agg(F.count(F.lit(1)).alias("n"))


def _unknown_findings(mc: DataFrame, entities: DataFrame) -> DataFrame:
    # anti-join AFTER the count: filters whole keys, so the counts are
    # unchanged and the expensive side is already aggregated.
    return (
        mc.join(F.broadcast(entities.select("entity_key")), "entity_key", "left_anti")
        .select(
            F.lit("unknown-entity").alias("query_name"),
            F.col("entity_key").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_unknown_entities(transcripts: DataFrame, entities: DataFrame) -> DataFrame:
    """Mentions that resolve to no vocabulary entity (the stub-creation
    miss path surfaced as findings), scored by mention count."""
    return _unknown_findings(_mention_counts(transcripts), entities)


def scan_rebind_conversations(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Conversations whose binding changes mid-stream (dataflow-relevant
    control points), scored by number of rebind statements."""
    return (
        _slices(transcripts, slices).rebind
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("rebind-conversation").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


HUB_SHARE = 0.01  # mention share above which an entity is a "hub"


def scan_temperature_contradictions(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Locations reported with ≥ 2 distinct temperatures across the corpus
    (querydb-style semantic inconsistency check: the same entity carrying
    conflicting facts). Scored by the number of distinct values."""
    return (
        _slices(transcripts, slices).result
        .groupBy("loc")
        .agg(F.countDistinct("temp").alias("n"))
        .where(F.col("n") >= 2)
        .select(
            F.lit("temperature-contradiction").alias("query_name"),
            F.col("loc").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_stale_binding_use(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """dbcur queries issued BEFORE the conversation's first rebind (they
    silently hit the default binding that a later turn replaces — the
    use-before-redefinition smell). Scored by count of such turns.
    Shape: the dbcur slice joins the per-conversation MIN rebind index;
    only the two tiny slices shuffle."""
    s = _slices(transcripts, slices)
    first_rebind = s.rebind.groupBy("conv_id").agg(
        F.min("turn_idx").alias("first_rebind")
    )
    return (
        s.dbcur.join(first_rebind, "conv_id")
        .where(F.col("turn_idx") < F.col("first_rebind"))
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("stale-binding-use").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


DEEP_REBIND_MIN = 2


def scan_deep_rebind_provenance(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """dbcur queries whose reaching-definition chain is at least
    DEEP_REBIND_MIN rebinds deep — the answer's binding is the result of
    stacked overrides and the asker has likely lost track of which
    database is live. This is the ddgIn-DEPTH predicate
    (slice.ddg_backward_slice computes the chain on arbitrary CFGs); on
    the linear transcript CFG "chain depth ≥ k" collapses exactly to
    "≥ k rebinds strictly before the use", so the scanner is the closed
    form. Scored by count of such uses per conversation; only the two
    tiny rule slices shuffle, and the per-use join fan-out is bounded by
    rebinds-per-conversation."""
    s = _slices(transcripts, slices)
    uses = s.dbcur.select("conv_id", F.col("turn_idx").alias("use_idx"))
    rebinds = s.rebind.select("conv_id", F.col("turn_idx").alias("rb_idx"))
    deep = (
        uses.join(rebinds, "conv_id")
        .where(F.col("rb_idx") < F.col("use_idx"))
        .groupBy("conv_id", "use_idx")
        .agg(F.count(F.lit(1)).alias("n_rb"))
        .where(F.col("n_rb") >= DEEP_REBIND_MIN)
    )
    return (
        deep.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("deep-rebind-provenance").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_alias_chains(transcripts: DataFrame) -> DataFrame:
    """SAME_AS components of ≥ 3 surfaces — alias chains like
    Big Apple → NYC → New York City that force multi-hop resolution
    (the DynamicCallLinker subclass-closure smell). Evidence = the
    component's canonical key, scored by component size."""
    from joern_spark.operators.canonicalize import alias_pairs, connected_components

    cmap = connected_components(alias_pairs(transcripts))
    return (
        cmap.groupBy("canon")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
        .select(
            F.lit("alias-chain").alias("query_name"),
            F.col("canon").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def _hub_findings(mc: DataFrame) -> DataFrame:
    total = mc.agg(F.sum("n").alias("total"))
    return (
        mc.crossJoin(F.broadcast(total))
        .where(F.col("n") > F.col("total") * HUB_SHARE)
        .select(
            F.lit("hub-entity").alias("query_name"),
            F.col("entity_key").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_hub_entities(transcripts: DataFrame) -> DataFrame:
    """Entities holding more than HUB_SHARE of all mentions — the skew
    keys that salted aggregation / AQE skew-split exist for, surfaced as
    findings (the planner's skew defense made visible). Scored by mention
    count."""
    return _hub_findings(_mention_counts(transcripts))


TOOL_FANOUT_MIN = 6  # distinct tools per conversation


def scan_tool_fanout(transcripts: DataFrame) -> DataFrame:
    """Conversations invoking ≥ TOOL_FANOUT_MIN distinct tools — the
    dynamic-dispatch fan-out smell (DynamicCallLinker resolving one call
    site to many candidates). Scored by the distinct-tool count."""
    return (
        transcripts.where(F.col("tool").isNotNull())
        .groupBy("conv_id")
        .agg(F.countDistinct("tool").alias("n"))
        .where(F.col("n") >= TOOL_FANOUT_MIN)
        .select(
            F.lit("tool-fanout").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def _lone_findings(mc: DataFrame) -> DataFrame:
    return mc.where(F.col("n") == 1).select(
        F.lit("lone-mention").alias("query_name"),
        F.col("entity_key").alias("evidence"),
        F.col("n").cast("long").alias("score"),
    )


def scan_lone_mentions(transcripts: DataFrame) -> DataFrame:
    """Entity keys mentioned exactly once in the whole corpus — the
    lone-identifier discipline (ReachingDefProblem.scala:304-349) as a
    finding: these keys carry no corroboration and are candidates for
    exclusion from propagation. Provably empty on the synthetic corpus
    (its vocabulary keys all recur); exercised on fixtures in tests."""
    return _lone_findings(_mention_counts(transcripts))


def scan_unanswered_asks(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """User asks with NO later assistant tool call in the conversation —
    the order-constrained whereNot (a request the agent never acted on).
    Shape: per-conversation max call index (shuffles only the filtered
    call slice) joined back to the ask slice; unanswered ⇔ the latest
    call precedes the ask (or no call exists). Evidence is the TURN id —
    node-level findings like the reference's evidence nodes."""
    s = _slices(transcripts, slices)
    asks = s.ask.select("conv_id", "turn_idx")
    last_call = s.call.groupBy("conv_id").agg(
        F.max("turn_idx").alias("last_call")
    )
    return (
        asks.join(last_call, "conv_id", "left")
        .where(F.col("last_call").isNull() | (F.col("last_call") < F.col("turn_idx")))
        .select(
            F.lit("unanswered-ask").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_dangling_calls(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Tool calls for a location with NO later tool-result for that
    location in the same conversation — the ignored-return-value /
    call-without-effect smell (querydb RetvalChecks.scala:12-30
    `returnValueNotChecked`, QueryLangExtensions.scala:11-23).
    Shape: calls join the per-(conv, loc) MAX result index, so only the
    two filtered slices shuffle. Evidence is the call TURN id."""
    s = _slices(transcripts, slices)
    calls = s.call.select("conv_id", "turn_idx", "loc")
    last_res = s.result.groupBy("conv_id", "loc").agg(
        F.max("turn_idx").alias("last_res")
    )
    return (
        calls.join(last_res, ["conv_id", "loc"], "left")
        .where(F.col("last_res").isNull() | (F.col("last_res") < F.col("turn_idx")))
        .select(
            F.lit("dangling-call").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_orphan_results(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Tool results for a location with NO earlier call for that location
    in the conversation — a provenance violation (data appearing without
    the operation that produced it). Mirror image of dangling-call:
    results join the per-(conv, loc) MIN call index."""
    s = _slices(transcripts, slices)
    results = s.result.select("conv_id", "turn_idx", "loc")
    first_call = s.call.groupBy("conv_id", "loc").agg(
        F.min("turn_idx").alias("first_call")
    )
    return (
        results.join(first_call, ["conv_id", "loc"], "left")
        .where(
            F.col("first_call").isNull() | (F.col("first_call") > F.col("turn_idx"))
        )
        .select(
            F.lit("orphan-result").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_retry_loops(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """The same tool called ≥2 times for the same location in one
    conversation — the retry/error-loop smell (the repeated dangerous-call
    pattern, querydb DangerousFunctions.scala:13-52; loop-shape metrics
    Metrics.scala:156 `tooManyLoops`). One map-side-combined groupBy; scored by
    the call count."""
    return (
        _slices(transcripts, slices).call
        .groupBy("conv_id", "tool_name", "loc")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select(
            F.lit("retry-loop").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), "tool_name", F.lit(":"), "loc"
            ).alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


DEAD_REBIND_SENTINEL = 2**62  # "no next rebind" upper bound


def scan_dead_rebinds(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Rebinds with NO dbcur use before the next rebind (or end of the
    conversation) — the dead-store query from reaching-definitions: the
    binding is written and overwritten without ever being read. Shape:
    lead() over the tiny rebind slice, then a range anti-join against
    the dbcur slice on conv_id."""
    from pyspark.sql import Window

    s = _slices(transcripts, slices)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    rebinds = s.rebind.select("conv_id", "turn_idx").withColumn(
        "next_idx",
        F.coalesce(
            F.lead("turn_idx").over(w).cast("long"),
            F.lit(DEAD_REBIND_SENTINEL),
        ),
    )
    uses = s.dbcur.select("conv_id", F.col("turn_idx").alias("use_idx"))
    cond = (
        (rebinds.conv_id == uses.conv_id)
        & (uses.use_idx > rebinds.turn_idx)
        & (uses.use_idx < rebinds.next_idx)
    )
    return rebinds.join(uses, cond, "left_anti").select(
        F.lit("dead-rebind").alias("query_name"),
        F.concat(
            "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
        ).alias("evidence"),
        F.lit(1).cast("long").alias("score"),
    )


def scan_self_aliases(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Alias statements whose two surfaces normalize to the SAME key —
    degenerate SAME_AS self-loops that add an edge but no information
    (the reference's no-op-assignment smell)."""
    return (
        _slices(transcripts, slices).alias
        .where(F.col("a") == F.col("b"))
        .select(
            F.lit("self-alias").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


DB_MIX_MIN = 2  # distinct named DBs per conversation → cross-silo smell
REPEAT_ASK_MIN = 3  # identical asks per conversation → repeated-question


def scan_mixed_db_queries(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Conversations that explicitly query ≥2 DISTINCT named databases —
    the cross-silo access smell (querydb's sql-injection-surface family:
    one flow touching multiple trust domains). One map-side-combined
    count-distinct over the tiny db-rule slice."""
    return (
        _slices(transcripts, slices).db
        .groupBy("conv_id")
        .agg(F.countDistinct("db_name").alias("n"))
        .where(F.col("n") >= DB_MIX_MIN)
        .select(
            F.lit("mixed-db-query").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_repeated_questions(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """The same location asked about ≥3 times in one conversation — the
    redundant-recomputation smell (the agent never caches what it already
    learned). groupBy on the filtered ask slice only."""
    return (
        _slices(transcripts, slices).ask
        .groupBy("conv_id", "loc")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= REPEAT_ASK_MIN)
        .select(
            F.lit("repeated-question").alias("query_name"),
            F.concat("conv_id", F.lit(":"), "loc").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_late_aliases(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Alias statements whose LEFT surface was already mentioned earlier
    in the same conversation — declaration-after-use: every pre-alias
    mention was linked before the SAME_AS edge existed (the reference's
    lazily-declared-identifier smell). Shape: the tiny alias slice joins
    the per-(conv, key) MIN location-mention index; only the two filtered
    slices shuffle. Evidence is the alias TURN id."""
    from joern_spark.operators.extract import normalize_surface_col

    s = _slices(transcripts, slices)
    aliases = s.alias.select("conv_id", "turn_idx", F.col("a").alias("key"))
    # Only keys that ever appear on an alias LEFT side matter (bounded by
    # the alias vocabulary — tiny); broadcast-semi-join them into the
    # mention stream BEFORE the (conv, key) groupBy so the shuffle carries
    # the alias-relevant sliver, not every location mention in the corpus.
    alias_keys = aliases.select("key").distinct()
    first_seen = (
        s.mentions
        .where((F.col("kind") == "location") & (F.col("rule") != "alias"))
        .select(
            "conv_id",
            "turn_idx",
            normalize_surface_col(F.col("surface")).alias("key"),
        )
        .join(F.broadcast(alias_keys), "key", "semi")
        .groupBy("conv_id", "key")
        .agg(F.min("turn_idx").alias("first_idx"))
    )
    return (
        aliases.join(first_seen, ["conv_id", "key"])
        .where(F.col("first_idx") < F.col("turn_idx"))
        .select(
            F.lit("late-alias").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_default_binding_uses(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Current-database queries in conversations with NO rebind statement
    at all — the use-of-implicit-global smell (the binding silently
    resolves to the session default; nothing in the conversation pins
    it). Complement of stale-binding-use, which needs a rebind to exist.
    Shape: anti-join of the dbcur slice against the rebind conv set."""
    s = _slices(transcripts, slices)
    uses = s.dbcur.select("conv_id", "turn_idx")
    rebound = s.rebind.select("conv_id").distinct()
    return uses.join(rebound, "conv_id", "left_anti").select(
        F.lit("default-binding-use").alias("query_name"),
        F.concat(
            "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
        ).alias("evidence"),
        F.lit(1).cast("long").alias("score"),
    )


TEMP_HIGH = 35  # °C sanity bounds — the dangerous-constant range check
TEMP_LOW = -5


def scan_alias_conflicts(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Surfaces aliased to ≥2 DIFFERENT canonical targets across the
    corpus — conflicting SAME_AS evidence (the ambiguous-type smell): a
    linker following either edge alone silently picks a side. One
    count-distinct over the tiny alias slice."""
    return (
        _slices(transcripts, slices).alias
        .select(F.col("a").alias("key"), F.col("b").alias("target"))
        .groupBy("key")
        .agg(F.countDistinct("target").alias("n"))
        .where(F.col("n") >= 2)
        .select(
            F.lit("alias-conflict").alias("query_name"),
            F.col("key").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_result_mismatches(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """A call whose IMMEDIATELY-following tool result reports a different
    location — the argument/return-type-mismatch analog: the value that
    came back is not the value that was asked for. Reads the shared
    adjacency slice in lag form (detect on the result row, anchor the
    evidence on its predecessor call turn) — the identical row set the
    former per-scanner lead() window produced."""
    from joern_spark.operators.extract import normalize_surface_col

    call = RULES_BY_NAME["call"]
    result = RULES_BY_NAME["result"]
    adj = _slices(transcripts, slices).adjacent
    call_loc = F.when(
        (F.col("prev_role") == call.role)
        & F.col("prev_text").rlike(call.pattern),
        normalize_surface_col(F.regexp_extract("prev_text", call.pattern, 2)),
    )
    res_loc = F.when(
        _match_cond(result),
        normalize_surface_col(F.regexp_extract("text", result.pattern, 1)),
    )
    return (
        adj.select(
            "conv_id",
            "prev_turn_idx",
            call_loc.alias("call_loc"),
            res_loc.alias("res_loc"),
        )
        .where(
            F.col("call_loc").isNotNull()
            & F.col("res_loc").isNotNull()
            & (F.col("call_loc") != F.col("res_loc"))
        )
        .select(
            F.lit("result-mismatch").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("prev_turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_extreme_temperatures(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Tool results reporting temperatures outside the sanity band
    (> TEMP_HIGH or < TEMP_LOW °C) — the value-range-check family from the
    reference's querydb (IntegerTruncations.scala, MissingLengthCheck.scala
    bound checks), over extracted values instead of AST literals. Pure filter on the result slice."""
    temp = F.col("temp").cast("long")
    return (
        _slices(transcripts, slices).result
        .where((temp > TEMP_HIGH) | (temp < TEMP_LOW))
        .select(
            F.lit("extreme-temperature").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.abs(temp).cast("long").alias("score"),
        )
    )


def scan_duplicate_turns(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx) keys appearing more than once — primary-key
    integrity of the turn table (the stable-ordering invariant the whole
    pipeline assumes). One map-side-combined groupBy."""
    return (
        transcripts.groupBy("conv_id", "turn_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select(
            F.lit("duplicate-turn").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_turn_gaps(transcripts: DataFrame) -> DataFrame:
    """Conversations whose turn_idx sequence has holes (max+1 ≠ count
    with min 0) — truncated or partially-ingested conversations; scored
    by the number of missing indices. One aggregation per conversation."""
    agg = transcripts.groupBy("conv_id").agg(
        F.max("turn_idx").alias("mx"),
        F.min("turn_idx").alias("mn"),
        F.countDistinct("turn_idx").alias("n"),
    )
    missing = F.col("mx") + 1 - F.col("n")
    return agg.where((F.col("mn") != 0) | (missing > 0)).select(
        F.lit("turn-gap").alias("query_name"),
        F.col("conv_id").alias("evidence"),
        F.greatest(missing, F.lit(1)).cast("long").alias("score"),
    )


def scan_protocol_violations(transcripts: DataFrame) -> DataFrame:
    """Conversations whose FIRST turn is not from the user — the
    transcript-protocol analog of a method body with no entry node.
    One min_by aggregation, no window."""
    return (
        transcripts.groupBy("conv_id")
        .agg(F.min_by("role", "turn_idx").alias("first_role"))
        .where(F.col("first_role") != "user")
        .select(
            F.lit("protocol-violation").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_fact_flips(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Cross-conversation fact contradiction BY TIME: a location whose
    reported temperature CHANGES when observations are replayed in
    chronological order — distinct from temperature-contradiction (which
    counts distinct values): ordering matters, A→B→A is two flips.

    Scale shape (hub defense): flips decompose hierarchically. Level 1
    counts flips WITHIN each (loc, conversation) — the pipeline's native
    partition, bounded by conversation length — plus each conversation's
    first/last value; level 2 orders the per-conversation summaries by
    first-observation time and counts boundary flips. A hub location
    never funnels raw observations through one task, only one summary
    row per mentioning conversation (extend with a time-bucket level for
    corpora where even that is too many)."""
    obs = _slices(transcripts, slices).result.select(
        "loc", "temp", "conv_id", "turn_idx", "ts"
    )
    w_in = Window.partitionBy("loc", "conv_id").orderBy("turn_idx")
    per_conv = (
        obs.withColumn("prev", F.lag("temp").over(w_in))
        .groupBy("loc", "conv_id")
        .agg(
            F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("prev") != F.col("temp")),
                    1,
                ).otherwise(0)
            ).alias("flips_in"),
            F.min_by("temp", "turn_idx").alias("first_temp"),
            F.max_by("temp", "turn_idx").alias("last_temp"),
            F.min("ts").alias("first_ts"),
        )
    )
    w_seq = Window.partitionBy("loc").orderBy(
        F.asc_nulls_first("first_ts"), "conv_id"
    )
    return (
        per_conv.withColumn("prev_last", F.lag("last_temp").over(w_seq))
        .groupBy("loc")
        .agg(
            (
                F.sum("flips_in")
                + F.sum(
                    F.when(
                        F.col("prev_last").isNotNull()
                        & (F.col("prev_last") != F.col("first_temp")),
                        1,
                    ).otherwise(0)
                )
            ).alias("n")
        )
        .where(F.col("n") >= 1)
        .select(
            F.lit("fact-flip").alias("query_name"),
            F.col("loc").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_kind_drift(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Entity kind drift: one normalized surface observed as ≥ 2 mention
    KINDS (location/tool/db) across the corpus — the XTypeRecovery
    conflict signal surfaced as a finding instead of silently re-voted.
    Algebraic per-key distinct over a ≤3-value domain — hub-safe."""
    from joern_spark.operators.extract import normalize_surface_col

    m = _slices(transcripts, slices).mentions.select(
        normalize_surface_col(F.col("surface")).alias("k"), "kind"
    )
    return (
        m.groupBy("k")
        .agg(F.countDistinct("kind").alias("n"))
        .where(F.col("n") >= 2)
        .select(
            F.lit("kind-drift").alias("query_name"),
            F.col("k").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_conversation_clones(transcripts: DataFrame) -> DataFrame:
    """Conversations whose full turn-text sequence is byte-identical to
    another conversation's — cross-conversation exact duplication (the
    transcript analog of duplicated source files). Fingerprint = md5 of
    the newline-joined texts in turn order, grouped corpus-wide; one
    collect_list per conversation (bounded by conversation length) and
    one hash shuffle on the 16-byte fingerprint."""
    fp = transcripts.groupBy("conv_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            )
        ).alias("fp")
    )
    return (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select(
            F.lit("conversation-clone").alias("query_name"),
            F.col("fp").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_replaced_db_uses(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Cross-conversation stale usage: a db name that some conversation
    REPLACED ("From now on use X instead of OLD") but that is still
    queried directly, strictly later in time, by conversations that never
    themselves rebound it. Two vocabulary-bounded dimension joins (db
    names) against the big side — no windows, no skew surface."""
    s = _slices(transcripts, slices)
    rebinds = s.rebind.select(F.col("old_db"), "conv_id", "ts")
    first_replace = rebinds.groupBy("old_db").agg(
        F.min("ts").alias("first_ts")
    )
    aware_convs = rebinds.select("old_db", "conv_id").dropDuplicates()
    uses = s.db.select(F.col("db_name").alias("old_db"), "conv_id", "ts")
    return (
        uses.join(F.broadcast(first_replace), "old_db")
        .where(F.col("ts") > F.col("first_ts"))
        .join(F.broadcast(aware_convs), ["old_db", "conv_id"], "left_anti")
        .groupBy("old_db")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("replaced-db-use").alias("query_name"),
            F.col("old_db").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_globally_unanswered_asks(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Corpus-wide completeness under canonical equivalence: locations
    ASKED about that no conversation anywhere answered with a weather
    result — where ask and answer keys are compared through the SAME_AS
    canonical map (asking about NYC is answered by a New York City
    result). Distinct from unanswered-ask (intra-conversation ordering).
    The canonical map is vocabulary-bounded — both rewrites broadcast."""
    from joern_spark.operators.canonicalize import alias_pairs, connected_components

    s = _slices(transcripts, slices)
    # This scanner solves its own SAME_AS map once per findings build
    # (one bounded read of the alias pairs + a driver union-find, as
    # scan_alias_chains does).
    cmap = F.broadcast(connected_components(alias_pairs(transcripts)))

    def canon(df):
        # slice `loc` is already blocking-normalized (idempotent norm)
        return (
            df.select(F.col("loc").alias("entity_key"))
            .join(cmap, "entity_key", "left")
            .select(F.coalesce("canon", "entity_key").alias("kc"))
        )

    asked = canon(s.ask)
    answered = canon(s.result).dropDuplicates()
    return (
        asked.join(answered, "kc", "left_anti")
        .groupBy("kc")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("globally-unanswered-ask").alias("query_name"),
            F.col("kc").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


ROLE_IMBALANCE_MIN_TURNS = 8
ROLE_IMBALANCE_PCT = 80  # percent of turns held by a single role


def scan_role_imbalance(transcripts: DataFrame) -> DataFrame:
    """Conversations of ≥ ROLE_IMBALANCE_MIN_TURNS turns where one role
    holds ≥ ROLE_IMBALANCE_PCT% of them — a broken dialogue loop (user
    monologue / assistant spam). Integer-arithmetic threshold
    (mx*100 >= pct*n) so the Spark and DuckDB sides compare identically
    with no float round-off. One two-level aggregation, map-side
    combined. Scored by the majority role's turn count."""
    per = transcripts.groupBy("conv_id", "role").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = per.groupBy("conv_id").agg(
        F.sum("c").alias("n"), F.max("c").alias("mx")
    )
    return (
        tot.where(
            (F.col("n") >= ROLE_IMBALANCE_MIN_TURNS)
            & (F.col("mx") * 100 >= ROLE_IMBALANCE_PCT * F.col("n"))
        )
        .select(
            F.lit("role-imbalance").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("mx").cast("long").alias("score"),
        )
    )


TOOL_THRASH_MIN = 4  # tool switches per conversation


def scan_tool_thrash(transcripts: DataFrame) -> DataFrame:
    """Conversations switching between DIFFERENT tools ≥ TOOL_THRASH_MIN
    times (lag over the tool-bearing turns in order) — dispatch
    thrashing: the conversation cannot settle on a capability, the
    dynamic-dispatch analog of a call site oscillating between receiver
    types. Distinct from tool-fanout (breadth): thrash counts
    TRANSITIONS, so A,B,A,B scores 3 while A,A,B,B scores 1. Scored by
    the switch count."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tl = transcripts.where(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    return (
        tl.withColumn("prev", F.lag("tool").over(w))
        .where(F.col("prev").isNotNull() & (F.col("prev") != F.col("tool")))
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= TOOL_THRASH_MIN)
        .select(
            F.lit("tool-thrash").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_rare_tool_transitions(transcripts: DataFrame) -> DataFrame:
    """Conversations containing a tool-call transition UNIQUE in the
    whole corpus (corpus-wide distinct-conversation support == 1 for
    the assistant-call bigram): a one-of-a-kind tool chain is either an
    operator improvising outside every known workflow or a misrouted
    dispatch — the sequence-level protocol anomaly next to tool-thrash
    (which scores oscillation, not rarity). Cross-conversation by
    construction: support aggregates over the corpus (the
    conversation-clone discipline). Evidence conv:tool_a>tool_b, score
    = occurrences of the rare pair in that conversation."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = (
        transcripts.where(
            (F.col("role") == "assistant") & F.col("tool").isNotNull()
        )
        .select(
            "conv_id",
            F.col("tool").alias("tool_a"),
            F.lead("tool").over(w).alias("tool_b"),
        )
        .where(F.col("tool_b").isNotNull())
    )
    rare = (
        pairs.groupBy("tool_a", "tool_b")
        .agg(F.countDistinct("conv_id").alias("sup"))
        .where(F.col("sup") == 1)
        .select("tool_a", "tool_b")
    )
    return (
        pairs.join(rare, ["tool_a", "tool_b"])
        .groupBy("conv_id", "tool_a", "tool_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("rare-tool-transition").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), "tool_a", F.lit(">"), "tool_b"
            ).alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_answered_reasks(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """User asks about a location AFTER a result for that location was
    already delivered in the same conversation — a redundant request the
    pipeline should have answered from context (the dataflow redundant-
    load smell). Distinct from repeated-question (same ask text ≥ k
    times regardless of answers). Evidence = the redundant ask's
    conv:turn; score 1."""
    s = _slices(transcripts, slices)
    asks = s.ask.select("conv_id", "turn_idx", "loc")
    first_res = s.result.groupBy("conv_id", "loc").agg(
        F.min("turn_idx").alias("first_res")
    )
    return (
        asks.join(first_res, ["conv_id", "loc"])
        .where(F.col("turn_idx") > F.col("first_res"))
        .select(
            F.lit("answered-reask").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


ENTITY_SPREAD_MIN = 3  # distinct conversations, absolute floor
ENTITY_SPREAD_PCT = 5  # percent of all conversations


def scan_entity_spread(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Entity keys mentioned in ≥ ENTITY_SPREAD_PCT% of ALL conversations
    (and at least ENTITY_SPREAD_MIN absolute) — coverage hubs. Distinct
    from hub-entity, which scores raw mention COUNT: a key mentioned
    500× inside one mega-conversation is a hub but has no spread;
    spread keys dominate the co-mention graph's edge fan-out. The
    per-key distinct-conversation count dedupes (conv, key) BEFORE the
    per-key aggregation — two shuffles on skew-resistant composite /
    aggregated keys, and the total-conversation count joins as a 1-row
    broadcast. Integer-arithmetic percent threshold; scored by the
    conversation count."""
    from joern_spark.operators.link import keyed_mentions

    ck = (
        keyed_mentions(_slices(transcripts, slices).mentions)
        .select("conv_id", "entity_key")
        .dropDuplicates()
    )
    per_key = ck.groupBy("entity_key").agg(F.count(F.lit(1)).alias("n"))
    total = transcripts.select("conv_id").dropDuplicates().agg(
        F.count(F.lit(1)).alias("total")
    )
    return (
        per_key.crossJoin(F.broadcast(total))
        .where(
            (F.col("n") >= ENTITY_SPREAD_MIN)
            & (F.col("n") * 100 >= ENTITY_SPREAD_PCT * F.col("total"))
        )
        .select(
            F.lit("entity-spread").alias("query_name"),
            F.col("entity_key").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_condition_contradictions(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Locations whose tool results report ≥ 2 distinct weather
    CONDITIONS (sunny vs rain) — the categorical twin of
    temperature-contradiction, closing the fact-consistency pair over
    both extracted measures. Scored by the distinct-condition count."""
    return (
        _slices(transcripts, slices).result
        .groupBy("loc")
        .agg(F.countDistinct("cond").alias("n"))
        .where(F.col("n") >= 2)
        .select(
            F.lit("condition-contradiction").alias("query_name"),
            F.col("loc").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


# --- security / hygiene bundle ----------------------------------------
#
# The transcript analog of the reference's security-scanner bundles
# (querydb/src/main/scala/io/joern/scanners/c/CredentialDrop.scala,
# android/Misconfigurations.scala) — leak detection over turn text and
# an allowlist check over the tool column. Patterns are RE2-safe (no
# lookaround/backreferences) and shared VERBATIM with the DuckDB oracle
# (oracle.findings_sql), so Java regex and RE2 agree on every match.

LEAK_PATTERNS: dict[str, str] = {
    # email — same shape as curate.PII_PATTERNS' email redaction rule
    "pii-email-leak": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # international-format phone: +CC then 7-19 digits/separators
    "pii-phone-leak": r"\+[0-9][0-9 -]{6,18}[0-9]",
    # bearer-token shapes: sk-/api- prefixed keys, AWS access key ids
    "secret-leak": r"(?:sk|api)-[A-Za-z0-9]{20,}|AKIA[0-9A-Z]{16}",
}

# Tool allowlist (the deployment's registered tools). Calls reporting a
# tool outside this set are protocol/supply-chain violations — the
# transcript analog of calling an unvetted external function.
KNOWN_TOOLS = (
    "weather_api", "search_api", "calendar_api", "translate_api",
    "stock_api", "email_api", "code_exec", "db_query",
)

LOCAL_CONTRA_MIN = 2  # distinct temps within ONE conversation → finding


def _leak_scan(transcripts: DataFrame, name: str) -> DataFrame:
    """Shared kernel of the three leak scanners: filter on the pattern,
    score = number of matches in the turn. Pure scan-speed filter —
    no shuffle, fires on ~0 rows in a healthy corpus."""
    pat = LEAK_PATTERNS[name]
    return (
        transcripts.where(F.col("text").rlike(pat))
        .select(
            F.lit(name).alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.size(
                F.regexp_extract_all("text", F.lit(pat), F.lit(0))
            ).cast("long").alias("score"),
        )
    )


def scan_pii_email_leaks(transcripts: DataFrame) -> DataFrame:
    """Turns whose text contains an email address — PII that must not
    reach a training corpus or a transcript archive."""
    return _leak_scan(transcripts, "pii-email-leak")


def scan_pii_phone_leaks(transcripts: DataFrame) -> DataFrame:
    """Turns whose text contains an international-format phone number."""
    return _leak_scan(transcripts, "pii-phone-leak")


def scan_secret_leaks(transcripts: DataFrame) -> DataFrame:
    """Turns whose text contains an API-key-shaped token (sk-/api-
    prefixed bearer keys, AWS AKIA ids) — the credential-drop scanner
    (querydb CredentialDrop.scala analog)."""
    return _leak_scan(transcripts, "secret-leak")


def scan_unknown_tool_calls(transcripts: DataFrame) -> DataFrame:
    """Turns whose tool column names a tool OUTSIDE the registered
    allowlist — unvetted-dependency detection at scan speed."""
    return (
        transcripts.where(
            F.col("tool").isNotNull() & ~F.col("tool").isin(*KNOWN_TOOLS)
        )
        .select(
            F.lit("unknown-tool-call").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_unasked_results(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Tool results for a location the user never ASKED about in that
    conversation — provenance: data entered the conversation with no
    originating request (distinct from orphan-result, which checks for
    the missing CALL). Fires legitimately on blocks whose ask slot was
    replaced by an alias/rebind statement. Both join sides are filtered
    slices, so only the two small slices shuffle."""
    s = _slices(transcripts, slices)
    res = s.result.select("conv_id", "turn_idx", "loc")
    asked = s.ask.select("conv_id", "loc").distinct()
    return res.join(asked, ["conv_id", "loc"], "left_anti").select(
        F.lit("unasked-result").alias("query_name"),
        F.concat(
            "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
        ).alias("evidence"),
        F.lit(1).cast("long").alias("score"),
    )


def scan_local_contradictions(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Locations reported with ≥ LOCAL_CONTRA_MIN distinct temperatures
    WITHIN one conversation — the conversation-scoped twin of the
    corpus-level temperature-contradiction scanner: a single agent
    contradicting itself is a stronger signal than two agents
    disagreeing. One map-side-combined groupBy on (conv_id, loc)."""
    return (
        _slices(transcripts, slices).result
        .groupBy("conv_id", "loc")
        .agg(F.countDistinct("temp").alias("n"))
        .where(F.col("n") >= LOCAL_CONTRA_MIN)
        .select(
            F.lit("local-contradiction").alias("query_name"),
            F.concat("conv_id", F.lit(":"), "loc").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


# --- temporal bundle ---------------------------------------------------
#
# Wall-clock integrity over the ts column. The transcript analog of the
# reference's ordering/metrics checks (querydb Metrics.scala loop-shape
# bounds) applied to TIME instead of AST shape. ts is TimestampNTZ on
# both engines, so all three scanners are pure naive-timestamp
# comparisons/diffs — TZ-invariant by construction.

BURST_MIN_TURNS = 64       # turns — only abnormally long bursts qualify
BURST_MAX_AVG_GAP_S = 2    # burst iff avg inter-turn gap STRICTLY below this (s)
HANDOFF_GAP_S = 3600       # adjacent-turn gap (s) above which the convo stalled


def scan_clock_skew(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Turns whose ts is EARLIER than the previous turn's (in turn_idx
    order) — ingest-ordering corruption: the stable (conv_id, turn_idx)
    ordering invariant and wall-clock disagree. Reads the shared
    adjacency slice (one conv-window pass for all adjacency
    scanners)."""
    return (
        _slices(transcripts, slices).adjacent
        .where(F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts")))
        .select(
            F.lit("clock-skew").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_burst_conversations(transcripts: DataFrame) -> DataFrame:
    """Conversations of ≥ BURST_MIN_TURNS turns whose average inter-turn
    gap is under BURST_MAX_AVG_GAP_S seconds — machine-rate dialogue
    (replayed logs, runaway agent loops). Integer comparison
    span < gap·(n-1), no division; one aggregation per conversation.
    Scored by the turn count."""
    agg = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
    )
    span_s = F.expr("timestampdiff(SECOND, mn, mx)")
    return (
        agg.where(
            (F.col("n") >= BURST_MIN_TURNS)
            & (span_s < BURST_MAX_AVG_GAP_S * (F.col("n") - 1))
        )
        .select(
            F.lit("burst-conversation").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_stale_handoffs(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Adjacent turns more than HANDOFF_GAP_S seconds apart — the
    conversation stalled mid-flight (abandoned session resumed much
    later; a session-boundary signal stricter than assemble.session_ids'
    gap split). Evidence is the resuming turn; scored by the gap in
    seconds. Reads the shared adjacency slice."""
    gap_s = F.expr("timestampdiff(SECOND, prev_ts, ts)")
    return (
        _slices(transcripts, slices).adjacent
        .where(F.col("prev_ts").isNotNull() & (gap_s > HANDOFF_GAP_S))
        .select(
            F.lit("stale-handoff").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            gap_s.cast("long").alias("score"),
        )
    )


# --- single-conversation integrity additions ---------------------------

# Roles allowed to carry a tool attribution (assistant issues the call,
# tool reports the result); a tool value on a user turn is ingest
# corruption or impersonation.
TOOL_ROLES = ("assistant", "tool")


def scan_cold_start_calls(transcripts: DataFrame) -> DataFrame:
    """Conversations whose FIRST turn is already a tool call — action
    with no preceding user request at all (the protocol twin of
    protocol-violation, which only checks the first ROLE). One min_by
    aggregation per conversation."""
    call = RULES_BY_NAME["call"]
    return (
        transcripts.groupBy("conv_id")
        .agg(F.min_by(F.struct("text", "role"), "turn_idx").alias("first"))
        .where(
            (F.col("first.role") == call.role)
            & F.col("first.text").rlike(call.pattern)
        )
        .select(
            F.lit("cold-start-call").alias("query_name"),
            F.col("conv_id").alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_tool_role_mismatches(transcripts: DataFrame) -> DataFrame:
    """Turns whose tool attribution and role disagree: a tool value on a
    role outside TOOL_ROLES, or a `tool`-role turn with NO tool value —
    column-level ingest integrity (the type-confusion analog). Pure
    filter, no shuffle."""
    bad = (
        F.col("tool").isNotNull() & ~F.col("role").isin(*TOOL_ROLES)
    ) | (F.col("tool").isNull() & (F.col("role") == "tool"))
    return transcripts.where(bad).select(
        F.lit("tool-role-mismatch").alias("query_name"),
        F.concat(
            "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
        ).alias("evidence"),
        F.lit(1).cast("long").alias("score"),
    )


def scan_echo_turns(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Turns whose text is byte-identical to the IMMEDIATELY preceding
    turn's from a DIFFERENT role — the agent parroting the user (or
    vice versa), a turn-level quality smell distinct from duplicate-turn
    (same key) and conversation-clone (whole-transcript). Reads the
    shared adjacency slice."""
    return (
        _slices(transcripts, slices).adjacent
        .where(
            F.col("prev_text").isNotNull()
            & (F.col("text") == F.col("prev_text"))
            & (F.col("role") != F.col("prev_role"))
        )
        .select(
            F.lit("echo-turn").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


REBIND_CHURN_MIN = 2  # rebinds to the SAME target per conversation


def scan_rebind_churn(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Conversations rebinding to the SAME target database more than
    once — redundant configuration churn, the binding twin of
    tool-thrash (which counts capability switches; this counts repeated
    writes of one value). Distinct from dead-rebind: the repeated
    rebind may well be read in between — the smell is the repetition
    itself. Reads the shared rebind slice; one map-side-combined
    aggregation, scored by the repeat count."""
    return (
        _slices(transcripts, slices).rebind
        .groupBy("conv_id", "new_db")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= REBIND_CHURN_MIN)
        .select(
            F.lit("rebind-churn").alias("query_name"),
            F.concat("conv_id", F.lit(":"), "new_db").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def _summary_result_pairs(sl: TurnSlices) -> DataFrame:
    """(conv_id, s_idx, temp, cond, r_idx, r_temp, r_cond) — every summary
    turn joined to every EARLIER tool result for the same location in the
    same conversation. Shared by the faithfulness scanners; the join keys
    on (conv_id, loc) so fan-out is bounded by results-per-location within
    one conversation (blocks, not corpus)."""
    s = sl.summary.select(
        "conv_id",
        F.col("turn_idx").alias("s_idx"),
        "loc",
        "temp",
        "cond",
    )
    r = sl.result.select(
        "conv_id",
        F.col("turn_idx").alias("r_idx"),
        "loc",
        F.col("temp").alias("r_temp"),
        F.col("cond").alias("r_cond"),
    )
    return s.join(r, ["conv_id", "loc"]).where(F.col("r_idx") < F.col("s_idx"))


def scan_unfaithful_summaries(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Assistant summary that disagrees with the MOST RECENT tool result
    for the same location in the conversation — the final answer is wrong
    against the freshest evidence (the RAG/agent-faithfulness check; the
    reference's querydb checks derived facts against their declarations
    the same way, e.g. querydb retRefs/size checks). One slice join plus
    a per-summary argmax window over the joined (small) pair set."""
    sl = _slices(transcripts, slices)
    w = Window.partitionBy("conv_id", "s_idx").orderBy(F.desc("r_idx"))
    return (
        _summary_result_pairs(sl)
        .withColumn("_rn", F.row_number().over(w))
        .where(
            (F.col("_rn") == 1)
            & (
                (F.col("temp") != F.col("r_temp"))
                | (F.col("cond") != F.col("r_cond"))
            )
        )
        .select(
            F.lit("unfaithful-summary").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("s_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


def scan_contradicted_summaries(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Summary contradicted by ANY earlier tool result for the same
    location in the conversation (it may still match the latest one) —
    the evidence trail behind the recap is internally inconsistent.
    Scored by the number of contradicting earlier results."""
    sl = _slices(transcripts, slices)
    return (
        _summary_result_pairs(sl)
        .where(
            (F.col("temp") != F.col("r_temp"))
            | (F.col("cond") != F.col("r_cond"))
        )
        .groupBy("conv_id", "s_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("contradicted-summary").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("s_idx").cast("string")
            ).alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_unsupported_summaries(
    transcripts: DataFrame, slices: TurnSlices | None = None
) -> DataFrame:
    """Summary with NO earlier tool result for its location in the
    conversation — a recap asserting facts nothing in the transcript
    evidences (the use-before-definition analog for facts). Anti-join of
    the summary slice against per-(conv, loc) earliest result indices."""
    sl = _slices(transcripts, slices)
    first_res = (
        sl.result.groupBy("conv_id", "loc")
        .agg(F.min("turn_idx").alias("first_r_idx"))
    )
    return (
        sl.summary.join(first_res, ["conv_id", "loc"], "left")
        .where(
            F.col("first_r_idx").isNull()
            | (F.col("first_r_idx") >= F.col("turn_idx"))
        )
        .select(
            F.lit("unsupported-summary").alias("query_name"),
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("evidence"),
            F.lit(1).cast("long").alias("score"),
        )
    )


# --- flow-based scanners (the reachableBy query family) -----------------
# The reference querydb's highest-value queries are flow predicates
# (reachableBy from sources to sinks); these five are path queries over
# the heterogeneous walk (functions/hetero.expand_paths_hetero,
# keep="all", realizable budget FLOW_CROSSINGS). run_scan computes the
# walk ONCE and shares it across all five; the standalone scan_* forms
# (example replay, ad-hoc use) build their own.

FLOW_DEPTH = 4
FLOW_CROSSINGS = 2
CONVERGE_MIN = 2  # distinct source conversations for a converging flow


def _flow_edges(transcripts: DataFrame) -> DataFrame:
    """NEXT_TURN + LINKS_TO + SAME_AS labeled union (the hetero walk's
    edge layers), built from one transcript lineage — keyed mentions
    stand in for the linked table because the walk only consumes
    entity_key, which linking never changes."""
    from joern_spark.operators.assemble import next_turn_edges
    from joern_spark.operators.canonicalize import same_as_pairs
    from joern_spark.operators.link import keyed_mentions

    km = keyed_mentions(extract_mentions(transcripts))
    lt = km.select(
        F.concat("conv_id", F.lit(":"), F.col("turn_idx").cast("string")).alias(
            "src"
        ),
        F.col("entity_key").alias("dst"),
        F.lit("LINKS_TO").alias("label"),
        F.lit(None).cast("string").alias("property"),
    )
    sap = same_as_pairs(transcripts).select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.lit("SAME_AS").alias("label"),
        F.lit(None).cast("string").alias("property"),
    )
    return next_turn_edges(transcripts).unionByName(lt).unionByName(sap)


def _flow_paths(transcripts: DataFrame) -> DataFrame:
    """keep='all' realizable walk from every asking turn — the shared
    path table the flow scanners filter. Seeds and step semantics match
    the registered tpg_cross_paths walk; keep='all' because scanner
    predicates quantify over PATHS, not (src, dst) representatives."""
    from joern_spark.functions.hetero import asking_turns, expand_paths_hetero

    seeds = asking_turns(extract_triples_raw(transcripts))
    return expand_paths_hetero(
        seeds,
        _flow_edges(transcripts),
        max_depth=FLOW_DEPTH,
        max_crossings=FLOW_CROSSINGS,
        keep="all",
    )


def _node_conv(col):
    return F.substring_index(col, ":", 1)


def _is_turn_node(col):
    # turn ids are "conv:idx"; entity keys are normalized surfaces with
    # no ':' (vocabulary invariant)
    return col.contains(":")


def _cross_flow_findings(p: DataFrame) -> DataFrame:
    """Asking turns whose fact provenance fans into ANOTHER conversation:
    score = distinct foreign conversations reached."""
    return (
        p.where(
            (F.col("crossings") >= 1)
            & _is_turn_node(F.col("dst"))
            & (_node_conv(F.col("dst")) != _node_conv(F.col("src")))
        )
        .groupBy("src")
        .agg(F.countDistinct(_node_conv(F.col("dst"))).alias("n"))
        .select(
            F.lit("cross-conversation-flow").alias("query_name"),
            F.col("src").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def _aliased_flow_findings(p: DataFrame) -> DataFrame:
    """Crossing flows that traverse the alias layer: the fact reached a
    foreign conversation only through SAME_AS resolution — multi-hop
    linking a reader cannot see in the raw text."""
    has_alias = F.array_contains("labels", "SAME_AS") | F.array_contains(
        "labels", "SAME_AS_REV"
    )
    return (
        p.where(
            has_alias
            & (F.col("crossings") >= 1)
            & _is_turn_node(F.col("dst"))
            & (_node_conv(F.col("dst")) != _node_conv(F.col("src")))
        )
        .groupBy("src")
        .agg(F.countDistinct(F.col("dst")).alias("n"))
        .select(
            F.lit("aliased-cross-flow").alias("query_name"),
            F.col("src").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def _round_trip_findings(p: DataFrame) -> DataFrame:
    """Realizable out-and-back flows: the fact leaves its conversation
    and returns through a foreign one (crossings = 2 with a turn
    endpoint — the realizability filter already pins the return to the
    origin). The cross-conversation feedback-loop smell."""
    return (
        p.where(
            (F.col("crossings") == 2)
            & _is_turn_node(F.col("dst"))
            & (_node_conv(F.col("dst")) == _node_conv(F.col("src")))
            & (F.col("dst") != F.col("src"))
        )
        .groupBy("src")
        .agg(F.countDistinct(F.col("dst")).alias("n"))
        .select(
            F.lit("fact-round-trip").alias("query_name"),
            F.col("src").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def _converging_flow_findings(p: DataFrame) -> DataFrame:
    """Turns where crossing flows from ≥ CONVERGE_MIN distinct source
    conversations converge — shared provenance hubs."""
    return (
        p.where(
            (F.col("crossings") >= 1)
            & _is_turn_node(F.col("dst"))
            & (_node_conv(F.col("dst")) != _node_conv(F.col("src")))
        )
        .groupBy("dst")
        .agg(F.countDistinct(_node_conv(F.col("src"))).alias("n"))
        .where(F.col("n") >= CONVERGE_MIN)
        .select(
            F.lit("converging-flow").alias("query_name"),
            F.col("dst").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def _before_source_findings(p: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Facts used before their source: an asking turn whose EVERY
    provenance source turn (the depth-2 crossing fan) is strictly LATER
    in wall-clock time — under the provenance model the fact was used
    before it entered the corpus."""
    tid = F.concat(
        "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
    ).alias("tid")
    ts = transcripts.select(tid, "ts")
    d2 = p.where(
        (F.col("depth") == 2)
        & (F.col("crossings") == 1)
        & _is_turn_node(F.col("dst"))
        & (_node_conv(F.col("dst")) != _node_conv(F.col("src")))
    )
    return (
        d2.join(
            ts.select(F.col("tid").alias("src"), F.col("ts").alias("src_ts")),
            "src",
        )
        .join(
            ts.select(F.col("tid").alias("dst"), F.col("ts").alias("dst_ts")),
            "dst",
        )
        .groupBy("src")
        .agg(
            F.min("dst_ts").alias("min_dst_ts"),
            F.min("src_ts").alias("src_ts"),
            F.countDistinct("dst").alias("n"),
        )
        .where(F.col("min_dst_ts") > F.col("src_ts"))
        .select(
            F.lit("flow-before-source").alias("query_name"),
            F.col("src").alias("evidence"),
            F.col("n").cast("long").alias("score"),
        )
    )


def scan_cross_conversation_flows(transcripts: DataFrame) -> DataFrame:
    return _cross_flow_findings(_flow_paths(transcripts))


def scan_aliased_cross_flows(transcripts: DataFrame) -> DataFrame:
    return _aliased_flow_findings(_flow_paths(transcripts))


def scan_fact_round_trips(transcripts: DataFrame) -> DataFrame:
    return _round_trip_findings(_flow_paths(transcripts))


def scan_converging_flows(transcripts: DataFrame) -> DataFrame:
    return _converging_flow_findings(_flow_paths(transcripts))


def scan_flows_before_source(transcripts: DataFrame) -> DataFrame:
    return _before_source_findings(_flow_paths(transcripts), transcripts)


SCANNERS: dict[str, Callable] = {
    "mega-conversation": scan_mega_conversations,
    "rebind-conversation": scan_rebind_conversations,
    "temperature-contradiction": scan_temperature_contradictions,
    "stale-binding-use": scan_stale_binding_use,
    "deep-rebind-provenance": scan_deep_rebind_provenance,
    "alias-chain": scan_alias_chains,
    "hub-entity": scan_hub_entities,
    "tool-fanout": scan_tool_fanout,
    "lone-mention": scan_lone_mentions,
    "unanswered-ask": scan_unanswered_asks,
    "dangling-call": scan_dangling_calls,
    "orphan-result": scan_orphan_results,
    "retry-loop": scan_retry_loops,
    "dead-rebind": scan_dead_rebinds,
    "self-alias": scan_self_aliases,
    "protocol-violation": scan_protocol_violations,
    "mixed-db-query": scan_mixed_db_queries,
    "repeated-question": scan_repeated_questions,
    "late-alias": scan_late_aliases,
    "default-binding-use": scan_default_binding_uses,
    "alias-conflict": scan_alias_conflicts,
    "result-mismatch": scan_result_mismatches,
    "extreme-temperature": scan_extreme_temperatures,
    "duplicate-turn": scan_duplicate_turns,
    "turn-gap": scan_turn_gaps,
    "fact-flip": scan_fact_flips,
    "kind-drift": scan_kind_drift,
    "conversation-clone": scan_conversation_clones,
    "replaced-db-use": scan_replaced_db_uses,
    "globally-unanswered-ask": scan_globally_unanswered_asks,
    "role-imbalance": scan_role_imbalance,
    "tool-thrash": scan_tool_thrash,
    "rare-tool-transition": scan_rare_tool_transitions,
    "rebind-churn": scan_rebind_churn,
    "answered-reask": scan_answered_reasks,
    "entity-spread": scan_entity_spread,
    "condition-contradiction": scan_condition_contradictions,
    "pii-email-leak": scan_pii_email_leaks,
    "pii-phone-leak": scan_pii_phone_leaks,
    "secret-leak": scan_secret_leaks,
    "unknown-tool-call": scan_unknown_tool_calls,
    "unasked-result": scan_unasked_results,
    "local-contradiction": scan_local_contradictions,
    "clock-skew": scan_clock_skew,
    "burst-conversation": scan_burst_conversations,
    "stale-handoff": scan_stale_handoffs,
    "cold-start-call": scan_cold_start_calls,
    "tool-role-mismatch": scan_tool_role_mismatches,
    "echo-turn": scan_echo_turns,
    "unfaithful-summary": scan_unfaithful_summaries,
    "contradicted-summary": scan_contradicted_summaries,
    "unsupported-summary": scan_unsupported_summaries,
    "cross-conversation-flow": scan_cross_conversation_flows,
    "aliased-cross-flow": scan_aliased_cross_flows,
    "fact-round-trip": scan_fact_round_trips,
    "converging-flow": scan_converging_flows,
    "flow-before-source": scan_flows_before_source,
}

# Flow scanners share ONE heterogeneous walk in the battery (run_scan
# substitutes the shared path table for the per-scanner walks).
_FLOW_SCANNERS = (
    "cross-conversation-flow", "aliased-cross-flow", "fact-round-trip",
    "converging-flow", "flow-before-source",
)


# Scanners that accept the shared slice set (everything rule-based);
# computed once at import so run_scan's dispatch is just a set probe.
_SLICED_SCANNERS = frozenset(
    name
    for name, fn in SCANNERS.items()
    if "slices" in inspect.signature(fn).parameters
)


# --- battery-only fused paths -------------------------------------------
# The standalone scanners above stay the public / example-replay surface;
# run_scan substitutes these fused twins so the battery pays ONE corpus
# scan (and one conv-keyed shuffle) where the per-scanner forms pay five,
# and one regex scan where the leak trio pays three. Row-for-row equality
# with the standalone forms is pinned by the tpg_findings oracle hash.

_PROFILE_FUSED = (
    "mega-conversation", "burst-conversation", "turn-gap",
    "protocol-violation", "tool-fanout",
)
_LEAK_FUSED = ("pii-email-leak", "pii-phone-leak", "secret-leak")


def _finding_struct(name, evidence, score):
    return F.struct(
        F.lit(name).alias("query_name"),
        evidence.alias("evidence"),
        score.cast("long").alias("score"),
    )


def _fused_profile_findings(transcripts: DataFrame) -> DataFrame:
    """One per-conversation aggregate serving the five conv-profile
    scanners (semantics identical to each standalone form; tool-fanout's
    pre-filter is subsumed because count_distinct ignores NULL tools)."""
    prof = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("mn_ts"),
        F.max("ts").alias("mx_ts"),
        F.max("turn_idx").alias("mx_i"),
        F.min("turn_idx").alias("mn_i"),
        F.count_distinct("turn_idx").alias("nd_i"),
        F.count_distinct("tool").alias("nd_tool"),
        F.min_by("role", "turn_idx").alias("first_role"),
    )
    conv = F.col("conv_id")
    n = F.col("n")
    span_s = F.expr("timestampdiff(SECOND, mn_ts, mx_ts)")
    missing = F.col("mx_i") + 1 - F.col("nd_i")
    items = F.array(
        F.when(n >= 256, _finding_struct("mega-conversation", conv, n)),
        F.when(
            (n >= BURST_MIN_TURNS)
            & (span_s < BURST_MAX_AVG_GAP_S * (n - 1)),
            _finding_struct("burst-conversation", conv, n),
        ),
        F.when(
            (F.col("mn_i") != 0) | (missing > 0),
            _finding_struct("turn-gap", conv, F.greatest(missing, F.lit(1))),
        ),
        F.when(
            F.col("first_role") != "user",
            _finding_struct("protocol-violation", conv, F.lit(1)),
        ),
        F.when(
            F.col("nd_tool") >= TOOL_FANOUT_MIN,
            _finding_struct("tool-fanout", conv, F.col("nd_tool")),
        ),
    )
    return (
        prof.select(
            F.explode(F.filter(items, lambda x: x.isNotNull())).alias("f")
        )
        .select("f.query_name", "f.evidence", "f.score")
    )


def _fused_leak_findings(transcripts: DataFrame) -> DataFrame:
    """One text scan serving the three leak scanners (three regexes per
    row instead of three corpus scans of one regex each)."""
    ev = F.concat("conv_id", F.lit(":"), F.col("turn_idx").cast("string"))
    items = F.array(
        *[
            F.when(
                F.col("text").rlike(LEAK_PATTERNS[name]),
                _finding_struct(
                    name,
                    ev,
                    F.size(
                        F.regexp_extract_all(
                            "text", F.lit(LEAK_PATTERNS[name]), F.lit(0)
                        )
                    ),
                ),
            )
            for name in _LEAK_FUSED
        ]
    )
    return (
        transcripts.select(
            F.explode(F.filter(items, lambda x: x.isNotNull())).alias("f")
        )
        .select("f.query_name", "f.evidence", "f.score")
    )


def run_scan(
    transcripts: DataFrame,
    entities: DataFrame,
    flow_paths: DataFrame | None = None,
) -> DataFrame:
    """findings(query_name, evidence, score) — the full battery as one
    unioned plan over SHARED rule slices: `build_slices` materializes
    one filtered extraction pass per rule (lazily checkpointed) and
    every rule-based scanner reads its slice, so the battery costs ~8
    corpus text-passes instead of one per scanner (~25). The three
    mention-statistics scanners additionally branch off ONE shared
    `_mention_counts` aggregation. `flow_paths` lets a session that has
    already walked the heterogeneous graph (queries._all_paths) hand the
    keep='all' path set in instead of walking again."""
    sl = build_slices(transcripts, materialize=True)
    mc = _mention_counts(transcripts, slices=sl)
    # one heterogeneous walk shared by all five flow scanners (the
    # per-scanner forms each rebuild it; the battery pays it once)
    fp = (
        flow_paths
        if flow_paths is not None
        else _flow_paths(transcripts).localCheckpoint(eager=False)
    )
    shared = {
        "hub-entity": _hub_findings(mc),
        "lone-mention": _lone_findings(mc),
        "cross-conversation-flow": _cross_flow_findings(fp),
        "aliased-cross-flow": _aliased_flow_findings(fp),
        "fact-round-trip": _round_trip_findings(fp),
        "converging-flow": _converging_flow_findings(fp),
        "flow-before-source": _before_source_findings(fp, transcripts),
    }
    fused_away = set(_PROFILE_FUSED) | set(_LEAK_FUSED)
    parts = [
        shared[name]
        if name in shared
        else (
            fn(transcripts, slices=sl)
            if name in _SLICED_SCANNERS
            else fn(transcripts)
        )
        for name, fn in SCANNERS.items()
        if name not in fused_away
    ]
    parts.append(_fused_profile_findings(transcripts))
    parts.append(_fused_leak_findings(transcripts))
    parts.append(_unknown_findings(mc, entities))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def tool_cooccurrence(transcripts: DataFrame) -> DataFrame:
    """(tool_a, tool_b, n_convs) — tools used in the same conversation
    (call-graph co-occurrence). distinct-then-self-join on conv_id keeps
    the join bounded: ≤ |tools| rows per conversation side."""
    rule = RULES_BY_NAME["call"]
    per_conv = (
        transcripts.where(_match_cond(rule))
        .select(
            "conv_id", F.regexp_extract("text", rule.pattern, 1).alias("tool_name")
        )
        .distinct()
    )
    return (
        per_conv.alias("x")
        .join(per_conv.alias("y"), "conv_id")
        .where(F.col("x.tool_name") < F.col("y.tool_name"))
        .groupBy(
            F.col("x.tool_name").alias("tool_a"),
            F.col("y.tool_name").alias("tool_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_convs"))
    )
