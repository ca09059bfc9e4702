"""SQL console surface — the interactive-query analog.

The reference's console compiles user queries as Scala over the traversal
DSL (console/.../BridgeBase.scala:207-308; starters generated per node
label, semanticcpg/.../NodeTypeStarters.scala:14-92). Spark already has
the compiler the reference lacks (Catalyst), so the console surface here
is: register every graph layer as a temp view, then `spark.sql(...)`.
`cpg.method` → `SELECT * FROM turns`, `cpg.call.name("x")` →
`WHERE text rlike 'x'`, edge-layer filters → `WHERE label = '...'`.

`register_views` + `sql` make the whole property graph queryable by any
SQL client; canned starter queries mirror the DSL's curated starters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from joern_spark.pipeline import GraphResult

VIEWS = (
    "transcripts",
    "turns",
    "conversations",
    "next_turn",
    "contains",
    "mentions",
    "triples_raw",
    "linked",
    "entities_all",
    "canonical_map",
    "triples",
    "triples_final",
    "edges",
)


def register_views(g: GraphResult, prefix: str = "tpg_") -> list[str]:
    """Register every layer of the graph as `{prefix}{name}` temp views."""
    names = []
    for name in VIEWS:
        df: DataFrame = getattr(g, name)
        view = f"{prefix}{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names


# Curated starters (NodeTypeStarters analog): name → SQL over the views.
# Parameters are :named placeholders bound via Spark's parameterized
# spark.sql(query, args=...) — values are passed as literals, never
# interpolated into the query text, so a quote in a caller param cannot
# break or inject SQL.
STARTERS: dict[str, str] = {
    # cpg.method / cpg.file
    "conversations": "SELECT * FROM tpg_conversations",
    # cpg.call.nameExact(x) — call sites for one tool
    "calls_of_tool": (
        "SELECT t.conv_id, t.turn_idx, t.text FROM tpg_turns t "
        "WHERE t.tool = :tool AND t.role = 'assistant'"
    ),
    # cpg.identifier → mention surfaces
    "mentions_of_kind": "SELECT * FROM tpg_mentions WHERE kind = :kind",
    # x.callee / call-graph step over LINKS_TO
    "entities_of_conversation": (
        "SELECT DISTINCT e.dst AS entity_key FROM tpg_edges e "
        "WHERE e.label = 'LINKS_TO' AND e.src LIKE :conv_id || ':%'"
    ),
    # dataflow result: canonical facts about one entity
    "facts_about": (
        "SELECT * FROM tpg_triples_final WHERE subj = :key OR obj = :key"
    ),
    # co-mention neighborhood of one entity (the graph-analytics probe
    # behind rank/communities/closeness/link-prediction)
    "comentions_of": (
        "SELECT DISTINCT l2.entity_key AS other "
        "FROM tpg_linked l1 JOIN tpg_linked l2 ON l1.conv_id = l2.conv_id "
        "WHERE l1.entity_key = :key AND l2.entity_key <> :key"
    ),
}


def sql(spark: SparkSession, starter: str, **params: str) -> DataFrame:
    query = STARTERS[starter]
    return spark.sql(query, args=params) if params else spark.sql(query)


# The console flow budget: the defaults of `flows` here and of
# `Workspace.flows` / `cached_walk` / `walk_key`, so a flow asked through
# any surface without budgets walks the same graph.
FLOW_DEPTH, FLOW_CROSSINGS, FLOW_NESTING = 4, 1, 1


def flows(
    g: GraphResult,
    src_pattern: str,
    dst_pattern: str,
    max_depth: int = FLOW_DEPTH,
    max_crossings: int = FLOW_CROSSINGS,
    max_nesting: int = FLOW_NESTING,
) -> DataFrame:
    """`joern-flow` analog (JoernFlow.scala:21-56: regex-selected
    sources/sinks + reachableByFlows from the CLI): turns whose text
    matches `src_pattern` flow to turns matching `dst_pattern` over the
    NEXT_TURN/LINKS_TO/SAME_AS union — patterns in, evidence paths out
    (src, dst, depth, crossings, path, labels), no DataFrame composition
    required. This always walks afresh; `Workspace.flows` serves the
    same rows from its persistent keep='all' walk cache when it can."""
    from pyspark.sql import functions as F_

    from joern_spark import schemas as S
    from joern_spark.functions.hetero import named_flows

    edges = g.edges.where(F_.col("label") != S.CONTAINS)
    return flow_rows(
        named_flows(
            g.transcripts,
            src_pattern,
            dst_pattern,
            edges=edges,
            max_depth=max_depth,
            max_crossings=max_crossings,
            max_nesting=max_nesting,
        )
    )


def flow_rows(paths: DataFrame) -> DataFrame:
    """The flow answer's six columns: node and label evidence joined
    with '->' (named_flows rows in, console/HTTP rows out)."""
    from pyspark.sql import functions as F_

    return paths.select(
        "src",
        "dst",
        "depth",
        "crossings",
        F_.array_join("path", "->").alias("path"),
        F_.array_join("labels", "->").alias("labels"),
    )


def heavy_hitters(g: GraphResult, k: int = 20) -> DataFrame:
    """Sketch-estimated hub entities — the interactive "what dominates
    this corpus" probe (operators/sketch.cm_heavy_hitters over the
    graph's triple objects): (item, est), est never under-counts, state
    bounded at 4×256 cells however skewed the corpus."""
    from pyspark.sql import functions as F_

    from joern_spark.operators.sketch import cm_heavy_hitters

    return cm_heavy_hitters(
        g.triples_final.select(F_.col("obj").alias("item")), k=k
    )


def turn_quantiles(g: GraphResult, qs: list[float] | None = None) -> DataFrame:
    """Sketch-estimated turn-length quantiles per role — the interactive
    "how long are these turns" probe (operators/sketch.hist_registers /
    hist_quantiles over the graph's turn token counts): (role, q, est),
    est is the containing bucket's lower bound (relative error ≤ 1/8),
    state bounded at ~500 buckets per role however large the corpus."""
    from pyspark.sql import functions as F_

    from joern_spark.functions.hashing import tokens_col
    from joern_spark.operators.sketch import hist_quantiles, hist_registers

    vals = g.turns.select(
        "role", F_.size(tokens_col(F_.col("text"))).cast("long").alias("v")
    )
    return hist_quantiles(
        hist_registers(vals, col="v", by=["role"]),
        qs or [0.5, 0.9, 0.99],
        by=["role"],
    ).orderBy("role", "q")


def boilerplate(
    g: GraphResult, n: int = 4, min_df: int = 2, k: int = 20
) -> DataFrame:
    """Repeated turn-text n-gram spans across the corpus — the
    interactive "what template text dominates these transcripts" probe
    (dedup.boilerplate_ngrams over turn text keyed by conv:turn):
    (shingle, df, example_doc) by descending document frequency."""
    from pyspark.sql import functions as F_

    from joern_spark.operators.dedup import boilerplate_ngrams

    docs = g.turns.select(
        F_.concat(
            "conv_id", F_.lit(":"), F_.col("turn_idx").cast("string")
        ).alias("doc_id"),
        "text",
    )
    return boilerplate_ngrams(docs, n=n, min_df=min_df, topk=k)


def skew(g: GraphResult, k: int = 20) -> DataFrame:
    """EXACT key-distribution profile of the graph's triple objects —
    the companion to heavy_hitters (sketch estimate vs exact profile):
    (key, n, share, skew, n_keys, rank), where skew = n / mean-per-key
    is the salting trigger a job author reads before shuffling on this
    key (plans/profile.key_skew_profile)."""
    from joern_spark.plans.profile import key_skew_profile

    return key_skew_profile(g.triples_final, "obj", k=k)


def tool_seqs(g: GraphResult) -> DataFrame:
    """Tool-call bigram mining over the corpus — which tool chains
    agents actually execute (assemble.tool_call_bigrams): (tool_a,
    tool_b, n, n_convs) by descending total count."""
    from pyspark.sql import functions as F_

    from joern_spark.operators.assemble import tool_call_bigrams

    return tool_call_bigrams(g.transcripts).orderBy(
        F_.desc("n"), "tool_a", "tool_b"
    )


def roles(g: GraphResult) -> DataFrame:
    """WL structural-role classes of the strong co-mention graph —
    which entities play isomorphic graph roles (rank.entity_wl_colors):
    (node, wl_color, n_class) grouped by descending class size."""
    from pyspark.sql import functions as F_

    from joern_spark.operators.rank import (
        entity_cooccurrence,
        entity_wl_colors,
    )

    return entity_wl_colors(entity_cooccurrence(g.mentions)).orderBy(
        F_.desc("n_class"), "wl_color", "node"
    )


def ppr(g: GraphResult) -> DataFrame:
    """Personalized PageRank around the md5-smallest seed entities —
    proximity-weighted importance near the seeds (rank.entity_ppr):
    (node, rank) by descending rank."""
    from pyspark.sql import functions as F_

    from joern_spark.operators.rank import entity_cooccurrence, entity_ppr

    return entity_ppr(entity_cooccurrence(g.mentions)).orderBy(
        F_.desc("rank"), "node"
    )


def pmi(g: GraphResult, k: int = 20) -> DataFrame:
    """Strongest entity associations by NPMI — pairs co-occurring above
    what their marginals predict (rank.entity_pmi): (a, b, n_ab, pmi,
    npmi), top-k by npmi."""
    from pyspark.sql import functions as F_

    from joern_spark.operators.rank import entity_pmi

    return (
        entity_pmi(g.mentions)
        .orderBy(F_.desc("npmi"), "a", "b")
        .limit(k)
    )


def timeline(g: GraphResult) -> DataFrame:
    """Temporal extent + volume per entity (rank.entity_timeline):
    (entity_key, first_ts, last_ts, n_mentions, n_convs) by last_ts
    descending — the freshness probe."""
    from pyspark.sql import functions as F_

    from joern_spark.operators.rank import entity_timeline

    return entity_timeline(g.transcripts, g.mentions).orderBy(
        F_.desc("last_ts"), "entity_key"
    )


def ann(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """PQ/ADC nearest neighbours of the corpus's deterministic probe
    vector (similarity.pq_topk_adc): (vec_id, adc) ascending — the
    memory-bound ANN path (m one-byte codes per vector)."""
    from joern_spark.operators.similarity import pq_topk_adc

    return pq_topk_adc(embeddings, k=k)


def _dump(g: GraphResult, repr_name: str, conv_id: str, **kwargs) -> str:
    """One conversation's representation dump as a dot string — the
    `joern-export --repr` one-liner for interactive debugging (the heavy
    per-corpus writer is operators/dump.export_repr_dot)."""
    from joern_spark.operators.dump import dump_repr

    rows = (
        dump_repr(g.transcripts, repr_name, [conv_id], **kwargs)
        .orderBy("section", "line")
        .collect()
    )
    return "\n".join(r.line for r in rows)


def run_script(spark: SparkSession, g, path: str):
    """`joern --script` analog (JoernConsole script lifecycle,
    joern-cli/src/main/scala/io/joern/joerncli/console/..., §3.2 of
    SURVEY.md): execute a user Python script against the graph. The
    script sees `spark`, `g` (the GraphResult), `F` (pyspark functions)
    and the registered `tpg_*` SQL views; whatever it assigns to a
    variable named `result` is returned (a DataFrame, normally).

    Scripts are trusted user code, exactly as in the reference — this is
    the batch-automation surface, not a sandbox."""
    from pyspark.sql import functions as F_

    register_views(g)
    scope = {"spark": spark, "g": g, "F": F_}
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    exec(compile(src, path, "exec"), scope)  # noqa: S102 — the feature IS script execution
    return scope.get("result")


def repl(
    spark: SparkSession,
    g,
    lines: "list[str] | None" = None,
    banner: str | None = None,
) -> dict:
    """Interactive shell (BridgeBase.scala:247-259 boots the embedded
    REPL with the console predef already imported): a stdlib
    `code.interact` session whose namespace is the same scope
    `run_script` gives batch scripts — `spark`, `g` (the GraphResult),
    `F`, the registered `tpg_*` SQL views, plus `sql(starter, **params)`
    and `man()` bound to this session. `lines` replaces stdin for tests
    and piped scripts (each element is one source line; exhaustion is
    EOF/exit); None reads the real terminal. Returns the final namespace
    so a caller can pick up whatever the session assigned."""
    import code as _code

    from pyspark.sql import functions as F_

    register_views(g)
    ns: dict = {
        "spark": spark,
        "g": g,
        "F": F_,
        "sql": lambda starter, **p: sql(spark, starter, **p),
        "man": man,
        "flows": lambda *a, **k: flows(g, *a, **k),
        # joern-export --repr analog: dump("ddg", "c000000042") returns
        # the conversation's dot lines (sorted, ready to print/save)
        "dump": lambda repr_name, conv_id, **k: _dump(g, repr_name, conv_id, **k),
        # corpus probes: sketch-estimated hub entities / PQ neighbours
        "heavy_hitters": lambda *a, **k: heavy_hitters(g, *a, **k),
        "boilerplate": lambda *a, **k: boilerplate(g, *a, **k),
        # exact-profile / sequence / role probes
        "skew": lambda *a, **k: skew(g, *a, **k),
        "tool_seqs": lambda: tool_seqs(g),
        "roles": lambda: roles(g),
        "ppr": lambda: ppr(g),
        "pmi": lambda *a, **k: pmi(g, *a, **k),
        "timeline": lambda: timeline(g),
        "ann": ann,
    }
    if banner is None:
        banner = (
            "joern_spark console — spark, g, F, sql(starter, **params), "
            "man(), flows(src_pattern, dst_pattern), "
            "dump(repr, conv_id)\nstarters:\n" + man()
        )
    it = iter(lines) if lines is not None else None

    def readfunc(prompt: str = "") -> str:
        if it is None:
            return input(prompt)
        try:
            return next(it)
        except StopIteration:
            raise EOFError from None

    _code.interact(banner=banner, readfunc=readfunc, local=ns, exitmsg="")
    return ns


def main(argv: "list[str] | None" = None) -> int:
    """`python -m joern_spark.console [--sf F] [--script PATH]` — the
    `joern` / `joern --script` CLI analog (BridgeBase.scala:247-259 vs
    :403-418): build the graph at --sf, then drop into the interactive
    shell or run one trusted script and show its `result`."""
    import argparse

    from joern_spark.pipeline import run_pipeline
    from joern_spark.session import get_spark

    p = argparse.ArgumentParser(prog="python -m joern_spark.console")
    p.add_argument("--sf", type=float, default=0.001)
    p.add_argument("--script", help="run a script file instead of the shell")
    a = p.parse_args(argv)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    g = run_pipeline(spark, a.sf)
    if a.script:
        out = run_script(spark, g, a.script)
        if out is not None:
            out.show(20, truncate=False)
        return 0
    repl(spark, g)
    return 0


def man(starter: str | None = None) -> str:
    """Console help surface (the reference's `help`/`browse` listing,
    console/src/main/scala/io/joern/console/Help.scala renders a table
    of steps and their docs): with no argument, one line per starter —
    name, :named parameters, and the first table it reads; with a
    starter name, the full SQL template."""
    import re

    if starter is not None:
        return STARTERS[starter]
    lines = []
    for name, q in STARTERS.items():
        params = ", ".join(sorted(set(re.findall(r":(\w+)", q))))
        table = re.search(r"FROM (\w+)", q)
        lines.append(
            f"{name}({params}) — reads {table.group(1) if table else '?'}"
        )
    return "\n".join(lines)


if __name__ == "__main__":
    raise SystemExit(main())
