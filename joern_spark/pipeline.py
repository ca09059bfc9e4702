"""End-to-end pipeline: S0 ingest → S1 assemble → S2 extract → S3 link →
S4 canonicalize → S5 materialize — the overlay-layer DAG of the reference
(Base → ControlFlow → TypeRelations → CallGraph → OssDataFlow,
X2Cpg.scala:377-379) as composable DataFrame stages.

`STAGES` is the one place S1–S5 are declared: each stage's name, the
`GraphResult` layer it produces, the layers it reads and a pure
DataFrame function (Joern's LayerCreator with its `dependsOn` layers,
LayerCreator.scala:20-34). Two executors run it: `build_graph` evaluates
it as plain lazy DataFrames, and `job.run_job` runs it through the
manifest-gated `StageRunner` (the skip-if-applied analog,
plans/manifest.py), one bucket at a time for conversation-local stages.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from joern_spark import schemas as S
from joern_spark.operators import assemble, canonicalize, link, materialize, rebind
from joern_spark.operators.extract import extract_mentions, extract_triples_raw
from joern_spark.sources.transcripts import read_entities, read_transcripts


@dataclass
class GraphResult:
    transcripts: DataFrame
    turns: DataFrame
    conversations: DataFrame
    next_turn: DataFrame
    contains: DataFrame
    mentions: DataFrame
    triples_raw: DataFrame
    linked: DataFrame
    entities_all: DataFrame
    canonical_map: DataFrame
    triples: DataFrame          # canonical, per-provenance rows
    triples_final: DataFrame    # deduped with support + first_seen
    edges: DataFrame            # unioned edge table (NEXT_TURN/CONTAINS/LINKS_TO/SAME_AS)


def canonical_map(transcripts: DataFrame) -> DataFrame:
    """S4: (entity_key, canon) over the SAME_AS alias components. The
    solve reads the raw alias pairs (`alias_pairs`, no dedup shuffle) —
    the union-find absorbs repeats, as in the ingest fold."""
    return canonicalize.connected_components(canonicalize.alias_pairs(transcripts))


def canonical_triples(
    triples_raw: DataFrame, transcripts: DataFrame, cmap: DataFrame
) -> DataFrame:
    """The static raw triples and the rebind-resolved dbcur triples,
    both rewritten onto canonical keys (per-provenance rows)."""
    static = canonicalize.canonicalize_triples(triples_raw, cmap)
    dyn = canonicalize.canonicalize_triples(rebind.dbcur_triples(transcripts), cmap)
    return static.unionByName(dyn)


def triples_final(
    transcripts: DataFrame, triples_raw: DataFrame, cmap: DataFrame
) -> DataFrame:
    """S5: canonical triples deduped with support + first_seen."""
    return materialize.dedup_triples(canonical_triples(triples_raw, transcripts, cmap))


def alias_edges(transcripts: DataFrame) -> DataFrame:
    """SAME_AS edge rows (src, dst, label, property) from the alias pairs."""
    return canonicalize.same_as_pairs(transcripts).select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.lit(S.SAME_AS).alias("label"),
        F.lit(None).cast("string").alias("property"),
    )


def graph_edges(transcripts: DataFrame, linked: DataFrame) -> DataFrame:
    """The edge table: NEXT_TURN ∪ CONTAINS ∪ LINKS_TO ∪ SAME_AS."""
    return (
        assemble.next_turn_edges(transcripts)
        .unionByName(assemble.contains_edges(transcripts))
        .unionByName(link.links_to_edges(linked))
        .unionByName(alias_edges(transcripts))
    )


@dataclass(frozen=True)
class Stage:
    """One S1–S5 stage. `inputs` name "transcripts", "entities" or an
    earlier stage; `fn` takes them in that order. A conversation-local
    stage's rows depend only on their own conversations, so it runs per
    bucket; a global one runs over everything. `conv_id_from` names the
    column a local stage's output derives its conv_id (its bucket key)
    from when the output has none."""

    name: str
    layer: str
    inputs: tuple[str, ...]
    fn: Callable[..., DataFrame]
    local: bool
    conv_id_from: str | None = None


STAGES = (  # name, layer, inputs, fn, local[, conv_id_from]
    Stage("s1_turns", "turns", ("transcripts",), assemble.turn_nodes, True),
    Stage("s1_next_turn", "next_turn", ("transcripts",), assemble.next_turn_edges, True, "src"),
    Stage("s2_mentions", "mentions", ("transcripts",), extract_mentions, True),
    Stage("s2_triples_raw", "triples_raw", ("transcripts",), extract_triples_raw, True),
    Stage("s3_linked", "linked", ("s2_mentions", "entities"), link.link_mentions, True),
    Stage("s4_canonical_map", "canonical_map", ("transcripts",), canonical_map, False),
    Stage(
        "s5_triples_final", "triples_final",
        ("transcripts", "s2_triples_raw", "s4_canonical_map"), triples_final, False,
    ),
)


def build_graph(transcripts: DataFrame, entities: DataFrame) -> GraphResult:
    env = {"transcripts": transcripts, "entities": entities}
    for st in STAGES:
        env[st.name] = st.fn(*(env[i] for i in st.inputs))
    layers = {st.layer: env[st.name] for st in STAGES}
    return GraphResult(
        transcripts=transcripts,
        conversations=assemble.conversation_nodes(transcripts),
        contains=assemble.contains_edges(transcripts),
        entities_all=link.all_entities(layers["mentions"], entities),
        triples=canonical_triples(
            layers["triples_raw"], transcripts, layers["canonical_map"]
        ),
        edges=graph_edges(transcripts, layers["linked"]),
        **layers,
    )


def run_pipeline(spark: SparkSession, sf_dir_or_sf: str | float) -> GraphResult:
    return build_graph(
        read_transcripts(spark, sf_dir_or_sf), read_entities(spark)
    )
