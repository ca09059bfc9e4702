"""S2 extract — vectorized mention detection and raw triple extraction.

The analog of the reference's frontend AstVisitor + joern-scan query battery
(pysrc2cpg CodeToCpg.scala:18-38 parses each file into AST nodes;
console/.../scan/ScanPass.scala:10-16 runs each query and materializes
findings). Here each *extraction rule* plays the role of one querydb query:
it matches a turn template and emits mentions and (subj, pred, obj) triples.

Rules are declared ONCE as data (RE2-safe regex + capture-group recipes) and
compiled two ways:
  * `extract_mentions` / `extract_triples`: single-pass JVM-side plan —
    one `CASE WHEN` rule dispatch + `regexp_extract` + one `explode`.
    No shuffle, no Python in the hot path; whole-stage codegen end to end.
  * `joern_spark.oracle`: the same rules rendered to ANSI SQL for DuckDB.
  * `extract_mentions_pandas`: an Arrow-batched pandas-UDF variant
    (mapInPandas) proving the vectorized-UDF path required by the north
    rule; tests assert it is row-identical to the JVM plan.

Rule templates are mutually exclusive by construction (the generator's turn
grammar), so first-match dispatch is total and deterministic.
"""

from __future__ import annotations

import json
import os
import re as _re
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A "piece" of a produced surface/subject/object:
#   ("g", i)   -> regex capture group i
#   ("lit", s) -> literal string
#   ("conv",)  -> "conv:" + conv_id  (conversation-node subject)
Piece = tuple


@dataclass(frozen=True)
class Rule:
    name: str
    role: str | None  # required role, or None for any
    pattern: str  # RE2-safe, anchored
    mentions: list[tuple[str, list[Piece]]] = field(default_factory=list)
    triples: list[tuple[list[Piece], str, list[Piece]]] = field(default_factory=list)


# --- loadable rule table ------------------------------------------------
# The grammar is DATA, not code (the reference's 13 language frontends are
# fixed grammars compiled into the binary; here the frontend is a checked-in
# rules file, so extending the transcript grammar = adding a JSON entry —
# the schema-extension / custom-frontend analog, same loadable-table
# discipline as conf/semantics.flow). joern_spark.oracle renders its SQL
# from the SAME loaded rows, so a custom rules file keeps the oracle in
# lockstep automatically.
#
# Semantics notes carried from the table (the file holds data only):
#   * `summary` emits no triples — its facts are already emitted by
#     `result`; re-emitting would duplicate them.
#   * `dbcur` emits no static triple — the subject (the currently-bound
#     db) is resolved by operators/rebind.py last-writer-wins semantics.

DEFAULT_RULES_PATH = Path(__file__).resolve().parent.parent / "conf" / "rules.json"
RULES_ENV = "JOERN_SPARK_RULES"

_PIECE_TAGS = {"g", "lit", "conv"}
_ROLES = {"user", "assistant", "tool"}


def _parse_piece(raw: list, n_groups: int, where: str) -> Piece:
    if not isinstance(raw, list) or not raw or raw[0] not in _PIECE_TAGS:
        raise ValueError(f"rules file: bad piece {raw!r} in {where}")
    tag = raw[0]
    if tag == "conv":
        if len(raw) != 1:
            raise ValueError(f"rules file: conv piece takes no args in {where}")
        return ("conv",)
    if len(raw) != 2:
        raise ValueError(f"rules file: {tag} piece needs one arg in {where}")
    if tag == "g":
        if not isinstance(raw[1], int) or not 1 <= raw[1] <= n_groups:
            raise ValueError(
                f"rules file: group {raw[1]!r} out of range (pattern has "
                f"{n_groups} groups) in {where}"
            )
        return ("g", raw[1])
    if not isinstance(raw[1], str):
        raise ValueError(f"rules file: lit piece needs a string in {where}")
    return ("lit", raw[1])


def parse_rules(text: str) -> list[Rule]:
    """Parse and validate the rules-file format (see conf/rules.json).
    Strict, like semantics.parse_semantics: a malformed rule raises —
    a silently skipped rule would make mentions/triples vanish with no
    error. Patterns must be anchored ('^'), RE2-safe by policy (shared
    verbatim with the DuckDB oracle), with every group reference in
    range. Templates must stay MUTUALLY EXCLUSIVE (the Spark plan is
    first-match CASE dispatch; the oracle unions per-rule branches — an
    overlapping pair would diverge between the engines, which the
    cross-engine gate then catches)."""
    raw = json.loads(text)
    if not isinstance(raw, list) or not raw:
        raise ValueError("rules file must be a non-empty JSON list")
    rules: list[Rule] = []
    seen: set[str] = set()
    for i, r in enumerate(raw):
        where = f"rule #{i} ({r.get('name', '?')})"
        name, pattern, role = r.get("name"), r.get("pattern"), r.get("role")
        if not name or name in seen:
            raise ValueError(f"rules file: missing/duplicate name in {where}")
        seen.add(name)
        if role is not None and role not in _ROLES:
            raise ValueError(f"rules file: unknown role {role!r} in {where}")
        if not pattern or not pattern.startswith("^"):
            raise ValueError(f"rules file: pattern must be anchored in {where}")
        n_groups = _re.compile(pattern).groups
        mentions = [
            (kind, [_parse_piece(p, n_groups, where) for p in pieces])
            for kind, pieces in r.get("mentions", [])
        ]
        triples = [
            (
                [_parse_piece(p, n_groups, where) for p in s],
                pred,
                [_parse_piece(p, n_groups, where) for p in o],
            )
            for s, pred, o in r.get("triples", [])
        ]
        rules.append(
            Rule(
                name=name, role=role, pattern=pattern,
                mentions=mentions, triples=triples,
            )
        )
    return rules


def load_rules(path: str | Path | None = None) -> list[Rule]:
    """Load the rule table from `path`, defaulting to $JOERN_SPARK_RULES
    (set before process start — spark-submit --conf env, exactly like a
    deployed custom frontend) or the checked-in conf/rules.json."""
    if path is None:
        path = os.environ.get(RULES_ENV) or DEFAULT_RULES_PATH
    return parse_rules(Path(path).read_text())


RULES: list[Rule] = load_rules()

RULES_BY_NAME = {r.name: r for r in RULES}


def _literal_prefix(pattern: str) -> str:
    """Longest literal prefix of an anchored regex (stops at the first
    metacharacter) — a cheap dispatch gate evaluated before the regex.

    Top-level alternation makes any non-empty prefix unsound (`^abc|xyz`
    matches rows that do not start with "abc"), so such patterns get an
    empty prefix and skip the gate entirely instead of silently losing
    the right-hand alternatives."""
    assert pattern.startswith("^")
    depth = 0
    esc = False
    in_class = False
    for ch in pattern[1:]:
        # inside [...] every metacharacter is a literal and only ']' ends
        # the class — counting '(' / '[' there as nesting would hide a
        # top-level '|' after the class (e.g. ^ab[(]cd|xy) and silently
        # drop rows matching the right alternative
        if esc:
            esc = False
        elif ch == "\\":
            esc = True
        elif in_class:
            in_class = ch != "]"
        elif ch == "[":
            in_class = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "|" and depth == 0:
            return ""
    out = []
    for ch in pattern[1:]:
        if ch in r"\^$.|?*+()[]{":
            break
        out.append(ch)
    return "".join(out)


def _match_cond(rule: Rule) -> Column:
    """role equality, then a literal-prefix startswith, then the full
    anchored regex. The prefix gate means each row runs ~one regex instead
    of one per rule — regex evaluation dominates the scan at scale."""
    cond = F.col("text").rlike(rule.pattern)
    prefix = _literal_prefix(rule.pattern)
    if prefix:
        cond = F.col("text").startswith(prefix) & cond
    if rule.role:
        cond = (F.col("role") == rule.role) & cond
    return cond


def _piece_col(pieces: list[Piece], pattern: str) -> Column:
    """One produced value: capture groups of `pattern`, literals and the
    conversation-node id, concatenated."""
    cols = []
    for p in pieces:
        if p[0] == "g":
            cols.append(F.regexp_extract(F.col("text"), pattern, p[1]))
        elif p[0] == "lit":
            cols.append(F.lit(p[1]))
        elif p[0] == "conv":
            cols.append(F.concat(F.lit("conv:"), F.col("conv_id")))
    return cols[0] if len(cols) == 1 else F.concat(*cols)


def extract_mentions(
    transcripts: DataFrame, rules: list[Rule] | None = None
) -> DataFrame:
    """mentions(conv_id, turn_idx, rule, kind, surface) — single scan,
    no shuffle: CASE-dispatch to a per-rule array<struct> then one explode.
    `rules` defaults to the loaded table; pass a custom `parse_rules`
    result to extend the grammar programmatically (the oracle generators
    take the same list, so the cross-engine gate extends with it)."""
    branches = None
    for rule in RULES if rules is None else rules:
        if not rule.mentions:
            continue
        items = [
            F.struct(
                F.lit(rule.name).alias("rule"),
                F.lit(kind).alias("kind"),
                _piece_col(pieces, rule.pattern).alias("surface"),
            )
            for kind, pieces in rule.mentions
        ]
        arr = F.array(*items)
        cond = _match_cond(rule)
        branches = F.when(cond, arr) if branches is None else branches.when(cond, arr)
    exploded = (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.explode(branches).alias("m"),  # null/empty arrays yield no rows
        )
        .select("conv_id", "turn_idx", "m.rule", "m.kind", "m.surface")
    )
    return exploded


def extract_triples_raw(
    transcripts: DataFrame, rules: list[Rule] | None = None
) -> DataFrame:
    """Raw triples(subj, pred, obj, conv_id, turn_idx) before linking /
    canonicalization — the ScanPass findings analog."""
    branches = None
    for rule in RULES if rules is None else rules:
        if not rule.triples:
            continue
        items = [
            F.struct(
                _piece_col(s, rule.pattern).alias("subj"),
                F.lit(pred).alias("pred"),
                _piece_col(o, rule.pattern).alias("obj"),
            )
            for s, pred, o in rule.triples
        ]
        arr = F.array(*items)
        cond = _match_cond(rule)
        branches = F.when(cond, arr) if branches is None else branches.when(cond, arr)
    return (
        transcripts.select("conv_id", "turn_idx", F.explode(branches).alias("t"))
        .select("t.subj", "t.pred", "t.obj", "conv_id", "turn_idx")
    )


def extract_mentions_pandas(transcripts: DataFrame) -> DataFrame:
    """Arrow-batched pandas-UDF extractor (mapInPandas) — the vectorized-UDF
    path the north rule mandates; semantically identical to
    `extract_mentions` (asserted in tests/test_extract.py). Uses pandas
    `.str.extract` (vectorized C regex loop), never per-row Python."""
    import pandas as pd  # noqa: PLC0415 — imported on executors

    rules = [
        (r.name, r.role, r.pattern, r.mentions)
        for r in RULES
        if r.mentions
    ]

    def run(batches):
        for pdf in batches:
            out = []
            for name, role, pattern, mentions in rules:
                mask = pdf["text"].str.match(pattern)
                if role:
                    mask &= pdf["role"] == role
                sub = pdf.loc[mask, ["conv_id", "turn_idx", "text"]]
                if sub.empty:
                    continue
                groups = sub["text"].str.extract(pattern)
                for kind, pieces in mentions:
                    surface = None
                    for p in pieces:
                        part = (
                            groups[p[1] - 1]
                            if p[0] == "g"
                            else pd.Series(p[1], index=sub.index)
                            if p[0] == "lit"
                            else "conv:" + sub["conv_id"]
                        )
                        surface = part if surface is None else surface + part
                    out.append(
                        pd.DataFrame(
                            {
                                "conv_id": sub["conv_id"],
                                "turn_idx": sub["turn_idx"],
                                "rule": name,
                                "kind": kind,
                                "surface": surface,
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    return transcripts.mapInPandas(
        run, schema="conv_id string, turn_idx int, rule string, kind string, surface string"
    )


def normalize_surface_col(c: Column) -> Column:
    """Blocking key (FULL_NAME analog) — must match
    generator.normalize_surface and the oracle's SQL expression."""
    return F.lower(F.replace(c, F.lit(" "), F.lit("_")))
