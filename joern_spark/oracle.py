"""DuckDB oracle SQL — independent ANSI-SQL re-implementation of every
pipeline stage, generated from the SAME rule table as the Spark plans
(operators/extract.py RULES), so rule changes cannot desynchronize the two.

The driver executes these strings in DuckDB and compares row-count, schema
and an order-insensitive value hash against the Spark DataFrames
(CORRECTNESS gate). Everything here sticks to the function subset with
bit-identical semantics in Spark SQL and DuckDB 1.0: md5, lower, replace,
regexp_extract/regexp_matches (RE2-safe patterns), lpad, concat, window
functions, recursive CTEs.
"""

from __future__ import annotations

from joern_spark.generator import DEFAULT_DB, entities_path, transcripts_path
from joern_spark.operators.extract import RULES, RULES_BY_NAME, Piece


def t_src(sf: float) -> str:
    # transcripts_path is a directory of part files (generator chunking)
    return f"read_parquet('{transcripts_path(sf)}/*.parquet')"


def e_src() -> str:
    return f"read_parquet('{entities_path()}')"


NORM = "lower(replace({x}, ' ', '_'))"


def _sql_piece(pieces: list[Piece], pattern: str) -> str:
    parts = []
    for p in pieces:
        if p[0] == "g":
            parts.append(f"regexp_extract(text, '{pattern}', {p[1]})")
        elif p[0] == "lit":
            parts.append(f"'{p[1]}'")
        elif p[0] == "conv":
            parts.append("'conv:' || conv_id")
    return " || ".join(parts) if len(parts) > 1 else parts[0]


def _rule_where(rule) -> str:
    cond = f"regexp_matches(text, '{rule.pattern}')"
    if rule.role:
        cond = f"role = '{rule.role}' AND {cond}"
    return cond


def mentions_sql(sf: float, rules=None) -> str:
    branches = []
    for rule in RULES if rules is None else rules:
        for kind, pieces in rule.mentions:
            branches.append(
                f"SELECT conv_id, turn_idx, '{rule.name}' AS rule, '{kind}' AS kind, "
                f"{_sql_piece(pieces, rule.pattern)} AS surface "
                f"FROM t WHERE {_rule_where(rule)}"
            )
    return f"WITH t AS (SELECT * FROM {t_src(sf)})\n" + "\nUNION ALL\n".join(branches)


def triples_raw_sql(sf: float, rules=None) -> str:
    branches = []
    for rule in RULES if rules is None else rules:
        for s, pred, o in rule.triples:
            branches.append(
                f"SELECT {_sql_piece(s, rule.pattern)} AS subj, '{pred}' AS pred, "
                f"{_sql_piece(o, rule.pattern)} AS obj, conv_id, turn_idx "
                f"FROM t WHERE {_rule_where(rule)}"
            )
    return f"WITH t AS (SELECT * FROM {t_src(sf)})\n" + "\nUNION ALL\n".join(branches)


def next_turn_sql(sf: float) -> str:
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS src,
       conv_id || ':' || CAST(next_idx AS VARCHAR) AS dst
FROM (SELECT conv_id, turn_idx,
             lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_idx
      FROM t)
WHERE next_idx IS NOT NULL
"""


def conversations_sql(sf: float) -> str:
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT conv_id,
       count(*) AS n_turns,
       sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_tool_turns,
       epoch_us(min(ts)) AS started_us,
       epoch_us(max(ts)) AS ended_us
FROM t GROUP BY conv_id
"""


def turns_sql(sf: float) -> str:
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS id,
       conv_id, turn_idx, role, text, tool
FROM t
"""


def linked_mentions_sql(sf: float) -> str:
    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
     e AS (SELECT entity_key FROM {e_src()})
SELECT m.conv_id, m.turn_idx, m.rule, m.kind, m.surface,
       {key} AS entity_key,
       (e.entity_key IS NULL) AS is_external
FROM m LEFT JOIN e ON {key} = e.entity_key
"""


def stub_entities_sql(sf: float) -> str:
    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
     e AS (SELECT entity_key FROM {e_src()})
SELECT {key} AS entity_key, min(m.surface) AS name, min(m.kind) AS kind
FROM m LEFT JOIN e ON {key} = e.entity_key
WHERE e.entity_key IS NULL
GROUP BY 1
"""


def _same_as_pairs_cte(sf: float) -> str:
    """CTEs: pairs → sym (symmetrized distinct SAME_AS key pairs)."""
    alias = next(r for r in RULES if r.name == "alias")
    a = NORM.format(x=_sql_piece([("g", 1)], alias.pattern))
    b = NORM.format(x=_sql_piece([("g", 2)], alias.pattern))
    return f"""
t AS (SELECT * FROM {t_src(sf)}),
pairs AS (SELECT DISTINCT {a} AS a, {b} AS b FROM t WHERE {_rule_where(alias)}),
sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs)
"""


def canonical_map_sql(sf: float) -> str:
    """Connected components over SAME_AS via recursive reachability;
    canon = min reachable key (undirected, so = component min)."""
    return f"""
WITH RECURSIVE {_same_as_pairs_cte(sf)},
reach(n, m) AS (
    SELECT DISTINCT a AS n, a AS m FROM sym
    UNION
    SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
)
SELECT n AS entity_key, min(m) AS canon FROM reach GROUP BY n
"""


def dbcur_triples_sql(sf: float) -> str:
    rebind = next(r for r in RULES if r.name == "rebind")
    dbcur = next(r for r in RULES if r.name == "dbcur")
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
ann AS (
  SELECT conv_id, turn_idx,
         CASE WHEN role='user' AND regexp_matches(text, '{rebind.pattern}')
              THEN regexp_extract(text, '{rebind.pattern}', 1) END AS bound_db,
         CASE WHEN role='assistant' AND regexp_matches(text, '{dbcur.pattern}')
              THEN regexp_extract(text, '{dbcur.pattern}', 1) END AS cur_city
  FROM t
  WHERE (role='user' AND regexp_matches(text, '{rebind.pattern}'))
     OR (role='assistant' AND regexp_matches(text, '{dbcur.pattern}'))
),
resolved AS (
  SELECT *, last_value(bound_db IGNORE NULLS) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live_db
  FROM ann
)
SELECT coalesce(live_db, '{DEFAULT_DB}') AS subj, 'queried_about' AS pred,
       cur_city AS obj, conv_id, turn_idx
FROM resolved WHERE cur_city IS NOT NULL
"""


def triples_final_sql(sf: float) -> str:
    subj_key = (
        "CASE WHEN subj LIKE 'conv:%' THEN subj ELSE " + NORM.format(x="subj") + " END"
    )
    obj_key = (
        "CASE WHEN obj LIKE 'conv:%' THEN obj ELSE " + NORM.format(x="obj") + " END"
    )
    return f"""
WITH RECURSIVE {_same_as_pairs_cte(sf)},
reach(n, m) AS (
    SELECT DISTINCT a AS n, a AS m FROM sym
    UNION
    SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
),
cmap AS (SELECT n AS entity_key, min(m) AS canon FROM reach GROUP BY n),
raw AS ({triples_raw_sql(sf)}),
dyn AS ({dbcur_triples_sql(sf)}),
allt AS (
  SELECT {subj_key} AS subj, pred, {obj_key} AS obj, conv_id, turn_idx
  FROM (SELECT * FROM raw WHERE pred <> 'same_as' UNION ALL SELECT * FROM dyn)
),
canon AS (
  SELECT coalesce(cs.canon, a.subj) AS subj, a.pred,
         coalesce(co.canon, a.obj) AS obj, a.conv_id, a.turn_idx
  FROM allt a
  LEFT JOIN cmap cs ON a.subj = cs.entity_key
  LEFT JOIN cmap co ON a.obj = co.entity_key
)
SELECT subj, pred, obj, count(*) AS n_support,
       min(conv_id || '#' || lpad(CAST(turn_idx AS VARCHAR), 10, '0')) AS first_seen
FROM canon GROUP BY subj, pred, obj
"""


def triples_semantics_sql(sf: float) -> str:
    """Generated from the SAME semantics rows the Spark operator
    broadcasts (functions/semantics.py, loaded from conf/semantics.flow
    or $JOERN_SPARK_SEMANTICS) — per-predicate keep / rewrite behavior
    rendered as IN-list CASEs, so changing a semantics row (in code OR
    in the file) changes both sides identically."""
    from joern_spark.functions.semantics import current_semantics

    rows = current_semantics()
    kept = [s.pred for s in rows if s.keep]
    cs = [s.pred for s in rows if s.keep and s.canon_subj]
    co = [s.pred for s in rows if s.keep and s.canon_obj]
    # argument-index mappings (FlowMapping src→dst): which raw position
    # flows into each output end — rendered as the same pre-normalization
    # CASE swap the Spark rewrite applies
    sf2 = [s.pred for s in rows if s.keep and s.src_for(1) == 2]
    of1 = [s.pred for s in rows if s.keep and s.src_for(2) == 1]

    def inlist(preds: list[str]) -> str:
        return ", ".join(f"'{p}'" for p in preds) or "''"

    subj_key = (
        "CASE WHEN subj LIKE 'conv:%' THEN subj ELSE " + NORM.format(x="subj") + " END"
    )
    obj_key = (
        "CASE WHEN obj LIKE 'conv:%' THEN obj ELSE " + NORM.format(x="obj") + " END"
    )
    return f"""
WITH RECURSIVE {_same_as_pairs_cte(sf)},
reach(n, m) AS (
    SELECT DISTINCT a AS n, a AS m FROM sym
    UNION
    SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
),
cmap AS (SELECT n AS entity_key, min(m) AS canon FROM reach GROUP BY n),
raw AS ({triples_raw_sql(sf)}),
dyn AS ({dbcur_triples_sql(sf)}),
allt AS (
  SELECT {subj_key} AS subj, pred, {obj_key} AS obj, conv_id, turn_idx
  FROM (
    SELECT CASE WHEN pred IN ({inlist(sf2)}) THEN obj ELSE subj END AS subj,
           pred,
           CASE WHEN pred IN ({inlist(of1)}) THEN subj ELSE obj END AS obj,
           conv_id, turn_idx
    FROM (SELECT * FROM raw UNION ALL SELECT * FROM dyn)
  )
  WHERE pred IN ({inlist(kept)})
),
canon AS (
  SELECT CASE WHEN a.pred IN ({inlist(cs)})
              THEN coalesce(s.canon, a.subj) ELSE a.subj END AS subj,
         a.pred,
         CASE WHEN a.pred IN ({inlist(co)})
              THEN coalesce(o.canon, a.obj) ELSE a.obj END AS obj,
         a.conv_id, a.turn_idx
  FROM allt a
  LEFT JOIN cmap s ON a.subj = s.entity_key
  LEFT JOIN cmap o ON a.obj = o.entity_key
)
SELECT subj, pred, obj, count(*) AS n_support,
       min(conv_id || '#' || lpad(CAST(turn_idx AS VARCHAR), 10, '0')) AS first_seen
FROM canon GROUP BY subj, pred, obj
"""


def linked_multi_sql(sf: float) -> str:
    """CHA-style multi-candidate linking: component members via the
    recursive SAME_AS closure, internal-preferred, exact-key fallback."""
    key = NORM.format(x="m.surface")
    return f"""
WITH RECURSIVE {_same_as_pairs_cte(sf)},
reach(n, m) AS (
    SELECT DISTINCT a AS n, a AS m FROM sym
    UNION
    SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
),
cmap AS (SELECT n AS entity_key, min(m) AS canon FROM reach GROUP BY n),
m AS ({mentions_sql(sf)}),
e AS (SELECT entity_key FROM {e_src()}),
members AS (SELECT canon, entity_key AS candidate_key FROM cmap),
flagged AS (
  SELECT mm.canon, mm.candidate_key,
         (e.entity_key IS NOT NULL) AS is_internal
  FROM members mm LEFT JOIN e ON mm.candidate_key = e.entity_key
),
pref AS (
  SELECT * FROM flagged f
  WHERE f.is_internal OR NOT EXISTS (
    SELECT 1 FROM flagged f2 WHERE f2.canon = f.canon AND f2.is_internal)
),
ct AS (
  SELECT c.entity_key, p.candidate_key, p.is_internal
  FROM cmap c JOIN pref p ON p.canon = c.canon
),
keyed AS (
  SELECT conv_id, turn_idx, rule, kind, surface, {key} AS entity_key FROM m
)
SELECT k.conv_id, k.turn_idx, k.rule, k.kind, k.surface,
       coalesce(ct.candidate_key, k.entity_key) AS candidate_key,
       coalesce(ct.is_internal, e2.entity_key IS NOT NULL) AS is_internal
FROM keyed k
LEFT JOIN ct ON k.entity_key = ct.entity_key
LEFT JOIN e e2 ON k.entity_key = e2.entity_key
"""


def tagged_by_sql(sf: float) -> str:
    """TAGGED_BY write-back: one edge per finding, projected from the
    same findings battery SQL. Composite-evidence scanners anchor on
    their conversation node (materialize.NON_ADDRESSABLE_SCANNERS);
    group-evidence scanners (NO_NODE_SCANNERS) are excluded — their
    fingerprints name no node."""
    from joern_spark.operators.materialize import (
        NO_NODE_SCANNERS,
        NON_ADDRESSABLE_SCANNERS,
    )

    non_addr = ", ".join(f"'{n}'" for n in NON_ADDRESSABLE_SCANNERS)
    no_node = ", ".join(f"'{n}'" for n in NO_NODE_SCANNERS)
    return f"""
SELECT CASE WHEN query_name IN ({non_addr})
            THEN split_part(evidence, ':', 1) ELSE evidence END AS src,
       'tag:' || query_name AS dst,
       'TAGGED_BY' AS label, CAST(score AS VARCHAR) AS property
FROM ({findings_sql(sf)})
WHERE query_name NOT IN ({no_node})
"""


def tag_readback_sql(sf: float) -> str:
    """Read-back twin of materialize.tagged_nodes over TURN evidence: the
    TAGGED_BY projection joined to the turn table on the node id."""
    return f"""
SELECT e.src AS id, substring(e.dst, 5) AS tag, e.property AS score, t.role
FROM ({tagged_by_sql(sf)}) e
JOIN (SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS id, role
      FROM {t_src(sf)}) t
  ON e.src = t.id
"""


def _canon_triples_ctes(sf: float) -> str:
    """Shared CTE chain: SAME_AS closure → cmap → canonicalized triple
    rows (`canon`), reused by slice/vectors-style derived queries."""
    subj_key = (
        "CASE WHEN subj LIKE 'conv:%' THEN subj ELSE " + NORM.format(x="subj") + " END"
    )
    obj_key = (
        "CASE WHEN obj LIKE 'conv:%' THEN obj ELSE " + NORM.format(x="obj") + " END"
    )
    return f"""{_same_as_pairs_cte(sf)},
reach(n, m) AS (
    SELECT DISTINCT a AS n, a AS m FROM sym
    UNION
    SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
),
cmap AS (SELECT n AS entity_key, min(m) AS canon FROM reach GROUP BY n),
raw AS ({triples_raw_sql(sf)}),
dyn AS ({dbcur_triples_sql(sf)}),
allt AS (
  SELECT {subj_key} AS subj, pred, {obj_key} AS obj, conv_id, turn_idx
  FROM (SELECT * FROM raw WHERE pred <> 'same_as' UNION ALL SELECT * FROM dyn)
),
canon AS (
  SELECT coalesce(cs.canon, a.subj) AS subj, a.pred,
         coalesce(co.canon, a.obj) AS obj, a.conv_id, a.turn_idx
  FROM allt a
  LEFT JOIN cmap cs ON a.subj = cs.entity_key
  LEFT JOIN cmap co ON a.obj = co.entity_key
)"""


def slice_sql(sf: float, seeds: list[str], depth: int = 2) -> str:
    """Undirected k-hop fact-graph slice around the seed entities —
    recursive reachability bounded by hop count."""
    seed_rows = " UNION ALL ".join(f"SELECT '{s}' AS k, 0 AS d" for s in seeds)
    return f"""
WITH RECURSIVE {_canon_triples_ctes(sf)},
fedges AS (SELECT DISTINCT subj, pred, obj FROM canon),
nb(k, d) AS (
  {seed_rows}
  UNION
  SELECT CASE WHEN e.subj = nb.k THEN e.obj ELSE e.subj END AS k, nb.d + 1
  FROM nb JOIN fedges e ON (e.subj = nb.k OR e.obj = nb.k)
  WHERE nb.d < {depth}
),
ks AS (SELECT DISTINCT k FROM nb)
SELECT DISTINCT e.subj, e.pred, e.obj
FROM fedges e JOIN ks ON (e.subj = ks.k OR e.obj = ks.k)
"""


def conv_vectors_sql(sf: float) -> str:
    """Bag-of-entities vector per conversation over linked mentions."""
    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)})
SELECT conv_id, {key} AS entity_key, count(*)::BIGINT AS n
FROM m GROUP BY 1, 2
"""


def pc_capped(key: str) -> str:
    """Per-conversation distinct-key CTE shared by every co-mention
    oracle, capped at the same CONV_KEY_CAP most-frequent keys the Spark
    operator keeps (rank.conv_key_sets; count DESC, key ASC tiebreak —
    deterministic on both engines). MATERIALIZED because every consumer
    references pc twice (self-join) and DuckDB inlines plain CTEs per
    reference, which would run the regex mention extraction twice."""
    from joern_spark.operators.rank import CONV_KEY_CAP

    return f"""pc AS MATERIALIZED (
  SELECT conv_id, k FROM (
    SELECT conv_id, k,
           row_number() OVER (PARTITION BY conv_id
                              ORDER BY n_m DESC, k ASC) AS rn
    FROM (SELECT conv_id, {key} AS k, count(*) AS n_m FROM m GROUP BY 1, 2)
  ) WHERE rn <= {CONV_KEY_CAP}
)"""


def entity_rank_sql(sf: float) -> str:
    """Fixed-N damped PageRank, iterations unrolled as chained CTEs
    generated from the same constants the Spark operator uses;
    contribution sums fold over sorted lists so the double additions
    happen in the identical order on both engines."""
    from joern_spark.operators.rank import PR_DAMPING, PR_ITERATIONS

    key = NORM.format(x="m.surface")
    d = PR_DAMPING
    rounds: list[str] = []
    for i in range(1, PR_ITERATIONS + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT s.dst AS node,
         (1.0 - {d}) / (SELECT n FROM nn)
           + {d} * list_sum(list_sort(list(r.rank / dg.deg))) AS rank
  FROM sym s JOIN r{i - 1} r ON r.node = s.src JOIN deg dg ON dg.src = s.src
  GROUP BY s.dst
)"""
        )
    joined = ",\n".join(rounds)
    # sym/deg/nn are referenced by every unrolled round; DuckDB inlines
    # plain CTEs per reference, which would recompute the full regex
    # mention extraction ~2×PR_ITERATIONS times (measured 18.6s → ~1s
    # at sf0.01 with MATERIALIZED).
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
{joined}
SELECT node, rank FROM r{PR_ITERATIONS}
"""


def entity_communities_sql(sf: float) -> str:
    """Connected components over the strong co-mention graph (edges with
    ≥ COMMUNITY_MIN_CONVS supporting conversations): the same recursive
    transitive-closure shape as the SAME_AS oracle, generated from the
    identical threshold constant the Spark operator uses."""
    from joern_spark.operators.rank import COMMUNITY_MIN_CONVS

    key = NORM.format(x="m.surface")
    # `t` is declared at the OUTER level: under WITH RECURSIVE, DuckDB
    # does not bind the nested `WITH t` inside mentions_sql (same reason
    # findings_sql declares it first).
    return f"""
WITH RECURSIVE t AS (SELECT * FROM {t_src(sf)}),
m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2 HAVING count(*) >= {COMMUNITY_MIN_CONVS}
),
sym AS MATERIALIZED (
  SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
),
reach(n, mm) AS (
    SELECT DISTINCT a AS n, a AS mm FROM sym
    UNION
    SELECT r.n, s.b AS mm FROM reach r JOIN sym s ON s.a = r.mm
),
cmap AS (SELECT n AS entity_key, min(mm) AS community FROM reach GROUP BY n),
sizes AS (SELECT community, count(*) AS size FROM cmap GROUP BY 1)
SELECT c.entity_key, c.community, s.size::BIGINT AS size
FROM cmap c JOIN sizes s USING (community)
"""


def entity_closeness_sql(sf: float) -> str:
    """Landmark-closeness twin (rank.entity_closeness): BFS levels
    unrolled as CTEs with the same (landmark, node) visited-set
    exclusion, identical hash-ordered landmark choice, and the
    ascending-sorted 1/dist fold."""
    from joern_spark.operators.rank import (
        CLOSENESS_DEPTH,
        CLOSENESS_LANDMARKS,
    )

    key = NORM.format(x="m.surface")
    h = "(('0x' || substr(md5(src), 1, 15))::BIGINT)"
    levels = []
    for d in range(1, CLOSENESS_DEPTH + 1):
        levels.append(
            f"""d{d} AS (
  SELECT DISTINCT f.lm, s.dst AS node, {d} AS dist
  FROM d{d - 1} f JOIN sym s ON s.src = f.node
  WHERE NOT EXISTS (SELECT 1 FROM v{d - 1} v
                    WHERE v.lm = f.lm AND v.node = s.dst)
),
v{d} AS (SELECT * FROM v{d - 1} UNION ALL SELECT * FROM d{d})"""
        )
    levels_sql = ",\n".join(levels)
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
sym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e
),
lm AS (SELECT src AS lm FROM (SELECT DISTINCT src FROM sym)
       ORDER BY {h}, src LIMIT {CLOSENESS_LANDMARKS}),
d0 AS (SELECT lm, lm AS node, 0 AS dist FROM lm),
v0 AS (SELECT * FROM d0),
{levels_sql}
SELECT node AS entity_key, count(*) AS n_reached,
       list_sum(list_sort(list(1.0 / dist::DOUBLE))) AS closeness
FROM v{CLOSENESS_DEPTH} WHERE dist > 0 GROUP BY node
"""


def entity_suggest_sql(sf: float) -> str:
    """Common-neighbor link-prediction twin (rank.entity_common_neighbors):
    the same exact-quantile strong-edge cut, wedge counts through each
    middle node, strong-edge exclusion, and the identical (n_common
    DESC, suggestion ASC) per-entity top-k."""
    from joern_spark.operators.rank import SUGGEST_SUPPORT_Q, SUGGEST_TOP_K

    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
ew AS MATERIALIZED (
  SELECT x.k AS a, y.k AS b, count(*)::BIGINT AS n_convs
  FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
thr AS (SELECT quantile_cont(n_convs, {SUGGEST_SUPPORT_Q!r}) AS thr FROM ew),
e AS MATERIALIZED (
  SELECT a, b FROM ew, thr WHERE n_convs::DOUBLE >= thr
),
sym AS MATERIALIZED (
  SELECT a AS node, b AS nb FROM e UNION ALL SELECT b AS node, a AS nb FROM e
),
pairs AS (
  SELECT x.node AS a, y.node AS b, count(*)::BIGINT AS n_common
  FROM sym x JOIN sym y ON x.nb = y.nb AND x.node < y.node
  GROUP BY 1, 2
),
missing AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.a AND e.b = p.b)
),
sugg AS (
  SELECT a AS entity_key, b AS suggestion, n_common FROM missing
  UNION ALL
  SELECT b AS entity_key, a AS suggestion, n_common FROM missing
)
SELECT entity_key, suggestion, n_common, rank FROM (
  SELECT entity_key, suggestion, n_common,
         row_number() OVER (PARTITION BY entity_key
                            ORDER BY n_common DESC, suggestion ASC) AS rank
  FROM sugg
) WHERE rank <= {SUGGEST_TOP_K}
"""


def entity_kcore_sql(sf: float) -> str:
    """Fixed-round k-core peeling, rounds unrolled as chained CTEs from
    the same constants the Spark operator uses. Every survivor CTE is
    MATERIALIZED: each is referenced four times by the next round, so
    reference-inlining would re-expand the mention extraction
    exponentially."""
    from joern_spark.operators.rank import KCORE_K, KCORE_ROUNDS

    key = NORM.format(x="m.surface")
    rounds: list[str] = []
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"""d{i} AS MATERIALIZED (
  SELECT n, count(*) AS d FROM (
    SELECT e.a AS n FROM e
    JOIN s{i - 1} x ON e.a = x.n JOIN s{i - 1} y ON e.b = y.n
    UNION ALL
    SELECT e.b AS n FROM e
    JOIN s{i - 1} x ON e.a = x.n JOIN s{i - 1} y ON e.b = y.n
  ) GROUP BY n
),
s{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE d >= {KCORE_K})"""
        )
    joined = ",\n".join(rounds)
    last = f"s{KCORE_ROUNDS}"
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS MATERIALIZED (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
s0 AS MATERIALIZED (SELECT a AS n FROM e UNION SELECT b AS n FROM e),
{joined}
SELECT n AS entity_key, d::BIGINT AS core_degree FROM (
  SELECT n, count(*) AS d FROM (
    SELECT e.a AS n FROM e
    JOIN {last} x ON e.a = x.n JOIN {last} y ON e.b = y.n
    UNION ALL
    SELECT e.b AS n FROM e
    JOIN {last} x ON e.a = x.n JOIN {last} y ON e.b = y.n
  ) GROUP BY n
)
"""


def conv_metrics_sql(sf: float) -> str:
    ask = RULES_BY_NAME["ask"]
    call = RULES_BY_NAME["call"]
    rebind = RULES_BY_NAME["rebind"]
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT conv_id,
       count(*)::BIGINT AS n_turns,
       sum(CASE WHEN {_rule_where(ask)} THEN 1 ELSE 0 END)::BIGINT AS n_asks,
       sum(CASE WHEN {_rule_where(call)} THEN 1 ELSE 0 END)::BIGINT AS n_calls,
       sum(CASE WHEN {_rule_where(rebind)} THEN 1 ELSE 0 END)::BIGINT AS n_rebinds,
       count(DISTINCT tool)::BIGINT AS n_tools,
       (epoch(max(ts)) - epoch(min(ts)))::BIGINT AS duration_s
FROM t GROUP BY conv_id
"""


def entity_triangles_sql(sf: float) -> str:
    """Per-entity triangle count + clustering coefficient. The triangle
    SET is orientation-invariant, so the oracle uses the simple id-ordered
    a<b<c three-way join (the Spark side's degree ordering is purely a
    physical skew defense)."""
    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS MATERIALIZED (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
sym AS (SELECT a AS src FROM e UNION ALL SELECT b AS src FROM e),
deg AS (SELECT src AS node, count(*) AS degree FROM sym GROUP BY 1),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT node, count(*) AS t FROM (
    SELECT unnest([x, y, z]) AS node FROM tri
  ) GROUP BY 1
)
SELECT d.node AS entity_key, d.degree,
       coalesce(c.t, 0)::BIGINT AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN 2.0 * coalesce(c.t, 0) / (d.degree * (d.degree - 1))
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN corners c ON c.node = d.node
"""


def sessions_sql(sf: float) -> str:
    from joern_spark.operators.assemble import SESSION_GAP_S

    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
flagged AS (
  SELECT conv_id, turn_idx,
         CASE WHEN lag(ts) OVER w IS NOT NULL
               AND date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS newf
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx,
       (sum(newf) OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS UNBOUNDED PRECEDING))::INT AS session_idx
FROM flagged
"""


def hourly_turns_sql(sf: float) -> str:
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT date_trunc('hour', ts) AS hour_start, role, count(*) AS n_turns
FROM t GROUP BY 1, 2
"""


def kind_recovery_sql(sf: float) -> str:
    """Two-iteration kind refinement: direct per-key vote, then the
    SAME_AS-component majority (XTypeRecovery.scala:152 semantics)."""
    key = NORM.format(x="m.surface")
    return f"""
WITH RECURSIVE {_same_as_pairs_cte(sf)},
reach(n, m) AS (
    SELECT DISTINCT a AS n, a AS m FROM sym
    UNION
    SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
),
cmap AS (SELECT n AS entity_key, min(m) AS canon FROM reach GROUP BY n),
m AS ({mentions_sql(sf)}),
votes AS (
  SELECT {key} AS entity_key, kind, count(*) AS n FROM m GROUP BY 1, 2
),
compv AS (
  SELECT coalesce(c.canon, v.entity_key) AS canon, v.kind, sum(v.n) AS n
  FROM votes v LEFT JOIN cmap c ON v.entity_key = c.entity_key
  GROUP BY 1, 2
),
compk AS (
  SELECT canon, kind, n,
         row_number() OVER (PARTITION BY canon ORDER BY n DESC, kind ASC) AS rn
  FROM compv
)
SELECT k.entity_key, ck.kind, ck.n::BIGINT AS n_obs
FROM (SELECT DISTINCT entity_key FROM votes) k
LEFT JOIN cmap c ON k.entity_key = c.entity_key
JOIN compk ck ON ck.canon = coalesce(c.canon, k.entity_key) AND ck.rn = 1
"""


def tool_stats_sql(sf: float) -> str:
    call = next(r for r in RULES if r.name == "call")
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT regexp_extract(text, '{call.pattern}', 1) AS tool_name,
       count(*) AS n_calls,
       count(DISTINCT conv_id) AS n_convs
FROM t WHERE {_rule_where(call)}
GROUP BY 1
"""


def idom_sql(sf: float) -> str:
    """Closed form for linear chains: idom = previous turn (the Spark side
    runs the general CHK algorithm per conversation)."""
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT conv_id, turn_idx,
       lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS idom_idx
FROM t QUALIFY idom_idx IS NOT NULL
"""


def postdom_sql(sf: float) -> str:
    """Linear-chain closed form: pdom = next turn."""
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT conv_id, turn_idx,
       lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pdom_idx
FROM t QUALIFY pdom_idx IS NOT NULL
"""


def reaching_defs_sql(sf: float) -> str:
    """Linear chains collapse the gen/kill reaching-definitions fixpoint
    (ReachingDefProblem.scala:160-301) to the strictly-preceding last
    definition per (conv, var) — the same provably-equal closed form the
    Spark operator's shape-split takes on chains; the branching worklist
    kernel is oracled by unit + property tests (the tpg_cdg discipline).
    def_idx IS NOT NULL already implies an earlier turn exists, so no
    separate multi-turn-conversation filter is needed."""
    rebind = RULES_BY_NAME["rebind"]
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
d AS (
  SELECT conv_id, turn_idx,
         CASE WHEN {_rule_where(rebind)} THEN turn_idx END AS def_at
  FROM t
),
x AS (
  SELECT conv_id, turn_idx,
         last_value(def_at IGNORE NULLS) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS def_idx
  FROM d
)
SELECT conv_id, turn_idx, 'db' AS var, def_idx::INTEGER AS def_idx
FROM x WHERE def_idx IS NOT NULL
"""


def reaching_cyclic_sql(sf: float) -> str:
    """Cyclic closed form for queries.q_reaching_cyclic: on a ring built
    from a chain plus one last→first back-edge, every node has in-degree
    exactly 1, so IN(n) = OUT(pred) = the latest definition strictly
    before n in CYCLIC order — i.e. the window closed form, wrapping to
    the conversation's last definition when no earlier one exists. Chain
    conversations (odd md5) keep the plain strictly-preceding form."""
    rebind = RULES_BY_NAME["rebind"]
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
d AS (
  SELECT conv_id, turn_idx,
         CASE WHEN {_rule_where(rebind)} THEN turn_idx END AS def_at,
         (('0x' || substr(md5(conv_id), 1, 15))::BIGINT) % 2 = 0 AS ring
  FROM t
),
x AS (
  SELECT conv_id, turn_idx, ring,
         last_value(def_at IGNORE NULLS) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_def,
         max(def_at) OVER (PARTITION BY conv_id) AS wrap_def
  FROM d
)
SELECT conv_id, turn_idx, 'db' AS var,
       (CASE WHEN ring THEN coalesce(prev_def, wrap_def)
             ELSE prev_def END)::INTEGER AS def_idx
FROM x
WHERE (CASE WHEN ring THEN coalesce(prev_def, wrap_def)
            ELSE prev_def END) IS NOT NULL
"""


def reaching_branchy_sql(sf: float) -> str:
    """Branching closed form for queries.q_reaching_branchy: on a chain
    plus one skip edge u→u+2 (u = ⌊mx/2⌋, conversations with md5 % 3 = 0),
    IN(u+2) = OUT(u+1) ∪ OUT(u), and that two-element set propagates down
    the chain until the first definition at or after u+2 kills it. So:
    the strictly-preceding window rule everywhere, UNION the skip
    contribution — latest def ≤ u, for every node y ≥ u+2 whose
    strictly-preceding def lies before u+2 (i.e. no def in [u+2, y) yet).
    UNION (set) semantics dedup the case where the two coincide (no def
    at the skipped node u+1)."""
    rebind = RULES_BY_NAME["rebind"]
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
d AS (
  SELECT conv_id, turn_idx,
         CASE WHEN {_rule_where(rebind)} THEN turn_idx END AS def_at
  FROM t
),
x AS (
  SELECT conv_id, turn_idx,
         last_value(def_at IGNORE NULLS) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_def,
         last_value(def_at IGNORE NULLS) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS le_def
  FROM d
),
skip AS (
  SELECT conv_id, CAST(floor(max(turn_idx) / 2.0) AS INTEGER) AS u
  FROM t
  GROUP BY conv_id
  HAVING (('0x' || substr(md5(conv_id), 1, 15))::BIGINT) % 3 = 0
     AND max(turn_idx) >= 3
),
viau AS (
  SELECT x.conv_id, x.le_def AS def_u, s.u
  FROM x JOIN skip s ON s.conv_id = x.conv_id AND x.turn_idx = s.u
)
SELECT conv_id, turn_idx, 'db' AS var, prev_def::INTEGER AS def_idx
FROM x WHERE prev_def IS NOT NULL
UNION
SELECT x.conv_id, x.turn_idx, 'db' AS var, v.def_u::INTEGER AS def_idx
FROM x JOIN viau v ON v.conv_id = x.conv_id
WHERE x.turn_idx >= v.u + 2
  AND coalesce(x.prev_def < v.u + 2, TRUE)
  AND v.def_u IS NOT NULL
"""


def ddg_dot_sql(sf: float) -> str:
    """Dot-dump twin (operators/dump.dump_repr 'ddg'): the closed-form
    reaching table rebuilt as the same header/node/edge/footer lines the
    Spark side concatenates — identifiers are turn indexes and the rule
    variable, alphanumeric by construction, so plain concatenation is
    parity-exact."""
    rebind = RULES_BY_NAME["rebind"]
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
x AS (
  SELECT conv_id, turn_idx,
         last_value(CASE WHEN {_rule_where(rebind)} THEN turn_idx END
                    IGNORE NULLS) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS def_idx
  FROM t
),
e AS (
  SELECT conv_id, def_idx AS src, turn_idx AS dst
  FROM x WHERE def_idx IS NOT NULL
),
c AS (SELECT DISTINCT conv_id FROM e),
n AS (
  SELECT conv_id, src AS idx FROM e
  UNION
  SELECT conv_id, dst AS idx FROM e
),
nr AS (
  SELECT n.conv_id, n.idx, t.role
  FROM n JOIN t ON t.conv_id = n.conv_id AND t.turn_idx = n.idx
)
SELECT conv_id, 0 AS section,
       'digraph "ddg_' || conv_id || '" {{' AS line
FROM c
UNION ALL
SELECT conv_id, 1,
       '  "' || idx::VARCHAR || '" [label="' || role || ' '
           || idx::VARCHAR || '"];'
FROM nr
UNION ALL
SELECT DISTINCT conv_id, 2,
       '  "' || src::VARCHAR || '" -> "' || dst::VARCHAR
           || '" [label="db"];'
FROM e
UNION ALL
SELECT conv_id, 3, '}}' FROM c
"""


def reaching_multi_sql(sf: float) -> str:
    """Per-variable window closed form, unioned across the two tracked
    variables ('db' ← rebind, 'city' ← ask) — the multi-var twin of
    reaching_defs_sql."""
    branches = []
    for rule_name, var in (("rebind", "db"), ("ask", "city")):
        rule = RULES_BY_NAME[rule_name]
        branches.append(f"""
SELECT conv_id, turn_idx, '{var}' AS var, def_idx::INTEGER AS def_idx
FROM (
  SELECT conv_id, turn_idx,
         last_value(CASE WHEN {_rule_where(rule)} THEN turn_idx END
                    IGNORE NULLS) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS def_idx
  FROM t
) WHERE def_idx IS NOT NULL""")
    return (
        f"WITH t AS (SELECT * FROM {t_src(sf)})"
        + "\nUNION ALL\n".join(branches)
    )


def ddg_slice_sql(sf: float, depth: int = 3) -> str:
    """Transitive ddgIn twin (slice.ddg_backward_slice): the hops
    unrolled as joins against the closed-form reaching table — hop h+1
    resolves the definition reaching hop h's turn."""
    dbcur = RULES_BY_NAME["dbcur"]
    ctes, selects, prev = [], [], "s"
    for h in range(1, depth + 1):
        src_idx = "sink_idx" if prev == "s" else "turn_idx"
        ctes.append(
            f"h{h} AS (SELECT DISTINCT {prev}.conv_id, {prev}.sink_idx, "
            f"{h} AS hop, r.def_idx AS turn_idx FROM {prev} "
            f"JOIN r ON r.conv_id = {prev}.conv_id "
            f"AND r.turn_idx = {prev}.{src_idx})"
        )
        selects.append(f"SELECT * FROM h{h}")
        prev = f"h{h}"
    return f"""
WITH r AS ({reaching_defs_sql(sf)}),
s AS (
  SELECT conv_id, turn_idx AS sink_idx FROM {t_src(sf)}
  WHERE {_rule_where(dbcur)}
),
{", ".join(ctes)}
{" UNION ALL ".join(selects)}
"""


def cdg_sql(sf: float) -> str:
    """Linear chains have an empty post-dominance frontier — zero CDG
    edges, asserted literally."""
    return """
SELECT CAST(NULL AS VARCHAR) AS conv_id,
       CAST(NULL AS INTEGER) AS src_idx,
       CAST(NULL AS INTEGER) AS dst_idx
WHERE FALSE
"""


def reach_k_sql(sf: float, k: int = 5) -> str:
    """Bounded-emit expansion from turn 0 over linear chains = turns with
    index ≤ k (roots included by the emit policy)."""
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS id
FROM t WHERE turn_idx <= {k}
"""


def reach_paths_sql(sf: float, k: int = 5) -> str:
    """Path-returning flows (reachableByFlows analog): recursive walk over
    NEXT_TURN edges from turn 0, depth ≤ k, then max-length-per-(src,dst)
    dedup (Engine.scala:154-179 semantics — trivial on linear chains but
    asserted anyway so the dedup is part of the checked contract)."""
    return f"""
WITH RECURSIVE t AS (SELECT * FROM {t_src(sf)}),
e AS (
  SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS src,
         conv_id || ':' || CAST(next_idx AS VARCHAR) AS dst
  FROM (SELECT conv_id, turn_idx,
               lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_idx
        FROM t)
  WHERE next_idx IS NOT NULL
),
roots AS (
  SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS id
  FROM t WHERE turn_idx = 0
),
walk AS (
  SELECT r.id AS src, e.dst AS dst, 1 AS depth, r.id || '->' || e.dst AS path
  FROM roots r JOIN e ON e.src = r.id
  UNION ALL
  SELECT w.src, e.dst, w.depth + 1, w.path || '->' || e.dst
  FROM walk w JOIN e ON e.src = w.dst
  WHERE w.depth < {k}
),
ranked AS (
  SELECT src, dst, depth, path,
         row_number() OVER (PARTITION BY src, dst
                            ORDER BY depth DESC, path ASC) AS rn
  FROM walk
)
SELECT src, dst, depth, path FROM ranked WHERE rn = 1
"""


def _hetero_step_ctes(sf: float) -> str:
    """The lt/nt/sap/ltr/steps CTE block — the step_edges twin shared by
    every hetero-walk oracle. Step semantics (labels, directions,
    crossing costs, fan k) are generated from the same constants the
    Spark engine consumes."""
    from joern_spark.functions.hetero import CROSS_FAN_K

    alias = next(r for r in RULES if r.name == "alias")
    a = NORM.format(x=_sql_piece([("g", 1)], alias.pattern))
    b = NORM.format(x=_sql_piece([("g", 2)], alias.pattern))
    return f"""lt AS (
  SELECT DISTINCT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS src,
         entity_key AS dst
  FROM ({linked_mentions_sql(sf)})
),
nt AS (SELECT DISTINCT src, dst FROM ({next_turn_sql(sf)})),
sap AS (
  SELECT DISTINCT {a} AS a, {b} AS b
  FROM {t_src(sf)} WHERE {_rule_where(alias)}
),
ltr AS (
  SELECT src, dst FROM (
    SELECT e.dst AS src, e.src AS dst,
           row_number() OVER (PARTITION BY e.dst ORDER BY e.src) AS rn
    FROM lt e
  ) WHERE rn <= {CROSS_FAN_K}
),
steps AS (
  SELECT src, dst, 'NEXT_TURN' AS lbl, 0 AS crossing FROM nt
  UNION ALL SELECT src, dst, 'LINKS_TO', 0 FROM lt
  UNION ALL SELECT a AS src, b AS dst, 'SAME_AS', 0 FROM sap
  UNION ALL SELECT b AS src, a AS dst, 'SAME_AS_REV', 0 FROM sap
  UNION ALL SELECT src, dst, 'LINKS_TO_REV', 1 FROM ltr
)"""


def _hetero_walk_ctes(
    sf: float, k: int, max_crossings: int, seeds_sql: str | None = None
) -> str:
    """The heterogeneous keep='all' realizable walk as a reusable CTE
    block (steps + fseeds/walk) — the functions/hetero.py twin shared by
    cross_paths_sql and the flow-scanner branches of findings_sql.
    origin/cur_conv are the single-frame call-stack realizability columns
    (TaskCreator analog): a crossing away from the origin must re-enter
    the current or the origin conversation — provably the max_nesting=1
    LIFO stack (the one possible frame IS the origin). `seeds_sql`
    overrides the default queried_about seed set (one column `id`) —
    the named-flow twin walks from regex-selected turns."""
    if seeds_sql is None:
        seeds_sql = (
            "SELECT DISTINCT conv_id || ':' || CAST(turn_idx AS VARCHAR)"
            f" AS id FROM ({triples_raw_sql(sf)})"
            " WHERE pred = 'queried_about'"
        )
    return f"""{_hetero_step_ctes(sf)},
fseeds AS (
  {seeds_sql}
),
walk(src, dst, depth, crossings, path, labels, origin, cur_conv) AS (
  -- seeds are turn ids, so origin = split_part(id, ':', 1)
  SELECT s.id, e.dst, 1, e.crossing, [s.id, e.dst], [e.lbl],
         split_part(s.id, ':', 1),
         CASE WHEN e.crossing = 1 THEN split_part(e.dst, ':', 1)
              ELSE split_part(s.id, ':', 1) END
  FROM fseeds s JOIN steps e ON e.src = s.id
  WHERE e.dst <> s.id AND e.crossing <= {max_crossings}
  UNION ALL
  SELECT w.src, e.dst, w.depth + 1, w.crossings + e.crossing,
         list_append(w.path, e.dst), list_append(w.labels, e.lbl),
         w.origin,
         CASE WHEN e.crossing = 1 THEN split_part(e.dst, ':', 1)
              ELSE w.cur_conv END
  FROM walk w JOIN steps e ON e.src = w.dst
  WHERE w.depth < {k} AND NOT list_contains(w.path, e.dst)
    AND w.crossings + e.crossing <= {max_crossings}
    AND (e.crossing = 0
         OR split_part(e.dst, ':', 1) = w.cur_conv
         OR w.cur_conv = w.origin
         OR split_part(e.dst, ':', 1) = w.origin)
)"""


def cross_paths_sql(
    sf: float, k: int = 4, max_crossings: int = 1, seed_mod: int | None = None
) -> str:
    """Cross-layer provenance flows (functions/hetero.py twin): the
    shared recursive walk with path-cycle exclusion, crossing budget,
    realizability frames, and max-length-per-(src,dst) dedup.
    `seed_mod` applies the md5 1/seed_mod pure-hash seed sample (the
    cross_paths_nested discipline) — the incremental-maintenance gate
    walks a declared sample, not the world."""
    seeds_sql = None
    if seed_mod is not None:
        h = "(('0x' || substr(md5(id), 1, 15))::BIGINT)"
        seeds_sql = (
            "SELECT id FROM (SELECT DISTINCT conv_id || ':' ||"
            " CAST(turn_idx AS VARCHAR) AS id FROM"
            f" ({triples_raw_sql(sf)}) WHERE pred = 'queried_about')"
            f" WHERE {h} % {seed_mod} = 0"
        )
    return f"""
WITH RECURSIVE
{_hetero_walk_ctes(sf, k, max_crossings, seeds_sql=seeds_sql)},
ranked AS (
  SELECT src, dst, depth, crossings,
         array_to_string(path, '->') AS path,
         array_to_string(labels, '->') AS labels
  FROM walk
)
SELECT src, dst, depth, crossings, path, labels FROM (
  SELECT *, row_number() OVER (PARTITION BY src, dst
                               ORDER BY depth DESC, path ASC, labels ASC) AS rn
  FROM ranked
) WHERE rn = 1
"""


def cross_paths_nested_sql(
    sf: float,
    k: int = 5,
    max_crossings: int = 2,
    max_nesting: int = 2,
    seed_mod: int = 16,
) -> str:
    """Two-frame LIFO call-site-stack walk twin (expand_paths_hetero with
    max_nesting=2 — TaskCreator.scala:33-60 push-on-descent /
    pop-on-return carried as a list column). The recursive CTE carries
    `stack VARCHAR[]` and `cur_conv` with the SAME CASE precedence as the
    Spark column expressions: non-crossing-or-intra keeps the stack, a
    hop to the stack top pops (LIFO return), anything else pushes while a
    frame is free — a mismatched return (A→B→C then back to A) matches
    no branch of the admission filter and dies. Seeds are the md5
    1/seed_mod sample of distinct asking turns, the identical pure-hash
    filter as the Spark side."""
    h = "(('0x' || substr(md5(s.id), 1, 15))::BIGINT)"
    conv_new = "split_part(e.dst, ':', 1)"
    top = "w.stack[len(w.stack)]"
    return f"""
WITH RECURSIVE
{_hetero_step_ctes(sf)},
fseeds AS (
  SELECT id FROM (
    SELECT DISTINCT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS id
    FROM ({triples_raw_sql(sf)}) WHERE pred = 'queried_about'
  ) s WHERE {h} % {seed_mod} = 0
),
walk(src, dst, depth, crossings, path, labels, stack, cur_conv) AS (
  SELECT s.id, e.dst, 1, e.crossing, [s.id, e.dst], [e.lbl],
         CASE WHEN e.crossing = 0
                   OR {conv_new} = split_part(s.id, ':', 1)
              THEN CAST([] AS VARCHAR[])
              ELSE [split_part(s.id, ':', 1)] END,
         CASE WHEN e.crossing = 1 THEN {conv_new}
              ELSE split_part(s.id, ':', 1) END
  FROM fseeds s JOIN steps e ON e.src = s.id
  WHERE e.dst <> s.id AND e.crossing <= {max_crossings}
  UNION ALL
  SELECT w.src, e.dst, w.depth + 1, w.crossings + e.crossing,
         list_append(w.path, e.dst), list_append(w.labels, e.lbl),
         CASE WHEN e.crossing = 0 OR {conv_new} = w.cur_conv
              THEN w.stack
              WHEN len(w.stack) > 0 AND {conv_new} = {top}
              THEN list_slice(w.stack, 1, len(w.stack) - 1)
              ELSE list_append(w.stack, w.cur_conv) END,
         CASE WHEN e.crossing = 1 THEN {conv_new} ELSE w.cur_conv END
  FROM walk w JOIN steps e ON e.src = w.dst
  WHERE w.depth < {k} AND NOT list_contains(w.path, e.dst)
    AND w.crossings + e.crossing <= {max_crossings}
    AND (e.crossing = 0
         OR {conv_new} = w.cur_conv
         OR (len(w.stack) > 0 AND {conv_new} = {top})
         OR len(w.stack) < {max_nesting})
)
SELECT src, dst, depth, crossings, path, labels FROM (
  SELECT src, dst, depth, crossings,
         array_to_string(path, '->') AS path,
         array_to_string(labels, '->') AS labels,
         row_number() OVER (
             PARTITION BY src, dst
             ORDER BY depth DESC, array_to_string(path, '->') ASC,
                      array_to_string(labels, '->') ASC) AS rn
  FROM walk
) WHERE rn = 1
"""


def flows_sql(sf: float, k: int = 4, max_crossings: int = 1) -> str:
    """Two-ended flow twin (hetero.flows_between): the cross-paths walk
    restricted to paths ENDING at a result turn — the sink filter
    applies after the max-length-per-(src,dst) selection, exactly like
    the Spark side."""
    result = RULES_BY_NAME["result"]
    return f"""
SELECT p.src, p.dst, p.depth, p.crossings, p.path, p.labels
FROM ({cross_paths_sql(sf, k, max_crossings)}) p
JOIN (SELECT DISTINCT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS dst
      FROM {t_src(sf)} WHERE {_rule_where(result)}) s
  ON p.dst = s.dst
"""


def entity_aa_sql(sf: float) -> str:
    """Adamic-Adar twin (rank.entity_adamic_adar): the common-neighbor
    wedge weighted 1/ln(deg(middle)), folded ascending-sorted — the
    identical IEEE expression tree as the Spark _sorted_sum."""
    from joern_spark.operators.rank import SUGGEST_SUPPORT_Q, SUGGEST_TOP_K

    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
ew AS MATERIALIZED (
  SELECT x.k AS a, y.k AS b, count(*)::BIGINT AS n_convs
  FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
thr AS (SELECT quantile_cont(n_convs, {SUGGEST_SUPPORT_Q!r}) AS thr FROM ew),
e AS MATERIALIZED (
  SELECT a, b FROM ew, thr WHERE n_convs::DOUBLE >= thr
),
sym AS MATERIALIZED (
  SELECT a AS node, b AS nb FROM e UNION ALL SELECT b AS node, a AS nb FROM e
),
deg AS (SELECT node AS nb, count(*)::BIGINT AS deg FROM sym GROUP BY 1),
symd AS MATERIALIZED (
  SELECT s.node, s.nb, 1.0 / ln(d.deg::DOUBLE) AS w
  FROM sym s JOIN deg d ON d.nb = s.nb
),
pairs AS (
  SELECT x.node AS a, y.node AS b, count(*)::BIGINT AS n_common,
         list_sum(list_sort(list(x.w))) AS aa_score
  FROM symd x JOIN symd y ON x.nb = y.nb AND x.node < y.node
  GROUP BY 1, 2
),
missing AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.a AND e.b = p.b)
),
sugg AS (
  SELECT a AS entity_key, b AS suggestion, n_common, aa_score FROM missing
  UNION ALL
  SELECT b AS entity_key, a AS suggestion, n_common, aa_score FROM missing
)
SELECT entity_key, suggestion, n_common, aa_score, rank FROM (
  SELECT entity_key, suggestion, n_common, aa_score,
         row_number() OVER (PARTITION BY entity_key
                            ORDER BY aa_score DESC, n_common DESC,
                                     suggestion ASC) AS rank
  FROM sugg
) WHERE rank <= {SUGGEST_TOP_K}
"""


def flows_named_sql(
    sf: float,
    src_pattern: str,
    dst_pattern: str,
    k: int = 4,
    max_crossings: int = 2,
) -> str:
    """Named-flow twin (JoernFlow.scala:21-56 / hetero.named_flows): the
    cross-paths walk seeded from turns whose text matches `src_pattern`,
    restricted AFTER the max-length selection to paths ending at turns
    matching `dst_pattern` — the Spark side derives the identical result
    from the session's cached keep='all' walk, so this is a genuine
    cross-implementation check (direct regex-seeded recursive CTE vs
    cache-derived semi-joins)."""
    seeds = (
        "SELECT DISTINCT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS id"
        f" FROM {t_src(sf)} WHERE regexp_matches(text, '{src_pattern}')"
    )
    return f"""
WITH RECURSIVE
{_hetero_walk_ctes(sf, k, max_crossings, seeds_sql=seeds)},
ranked AS (
  SELECT src, dst, depth, crossings,
         array_to_string(path, '->') AS path,
         array_to_string(labels, '->') AS labels
  FROM walk
),
best AS (
  SELECT src, dst, depth, crossings, path, labels FROM (
    SELECT *, row_number() OVER (PARTITION BY src, dst
                                 ORDER BY depth DESC, path ASC,
                                          labels ASC) AS rn
    FROM ranked
  ) WHERE rn = 1
)
SELECT b.src, b.dst, b.depth, b.crossings, b.path, b.labels
FROM best b
JOIN (SELECT DISTINCT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS dst
      FROM {t_src(sf)} WHERE regexp_matches(text, '{dst_pattern}')) s
  ON b.dst = s.dst
"""


def starting_points_sql(sf: float) -> str:
    """Source-normalization twin (hetero.sources_to_starting_points over
    the full entity layer): k first mentioning turns per entity. The
    fan constant is imported from the engine so the two sides cannot
    drift."""
    from joern_spark.functions.hetero import CROSS_FAN_K

    return f"""
WITH lt AS (
  SELECT DISTINCT entity_key AS entity,
         conv_id || ':' || CAST(turn_idx AS VARCHAR) AS turn
  FROM ({linked_mentions_sql(sf)})
)
SELECT entity AS id, turn AS start, 'LINKS_TO_REV' AS via FROM (
  SELECT entity, turn,
         row_number() OVER (PARTITION BY entity ORDER BY turn) AS rn
  FROM lt
) WHERE rn <= {CROSS_FAN_K}
"""


def entity_degree_sql(sf: float) -> str:
    key = NORM.format(x="surface")
    return f"""
WITH m AS ({mentions_sql(sf)})
SELECT {key} AS entity_key, count(*) AS n FROM m GROUP BY 1
"""


def sft_pairs_sql(sf: float) -> str:
    """Adjacent user→assistant pairs — lag window mirror of sft.sft_pairs;
    token counts use the shared tokenizer definition (lowercase,
    non-alphanumeric split, empties dropped)."""
    ntok = (
        "len(list_filter(string_split_regex(lower({x}), '[^a-z0-9]+'),"
        " t -> t <> ''))::BIGINT"
    )
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
x AS (
  SELECT conv_id, turn_idx, role, text,
         lag(role) OVER w AS prev_role,
         lag(text) OVER w AS prev_text
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx, prev_text AS prompt, text AS response,
       {ntok.format(x="prev_text")} AS n_prompt_tokens,
       {ntok.format(x="text")} AS n_response_tokens
FROM x WHERE role = 'assistant' AND prev_role = 'user'
"""


def sft_dialogues_sql(sf: float) -> str:
    """Role-tagged whole-conversation rendering — ordered string_agg
    mirror of sft.sft_dialogues."""
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)})
SELECT conv_id, count(*)::BIGINT AS n_turns,
       string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS dialogue
FROM t GROUP BY conv_id
"""


def edge_index_sql(sf: float) -> str:
    """GNN COO export mirror: dense node ids = row_number over the
    sorted endpoint vocabulary (operators/export.dense_index produces
    exactly the global sorted rank by construction), symmetric edges
    with their co-mention weights and keys alongside."""
    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b, count(*)::BIGINT AS n_convs
  FROM pc x JOIN pc y ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
vocab AS (
  SELECT k, row_number() OVER (ORDER BY k) - 1 AS idx
  FROM (SELECT a AS k FROM e UNION SELECT b FROM e)
),
sym AS (
  SELECT a AS src_key, b AS dst_key, n_convs FROM e
  UNION ALL
  SELECT b AS src_key, a AS dst_key, n_convs FROM e
)
SELECT va.idx AS src_idx, vb.idx AS dst_idx, s.n_convs,
       s.src_key, s.dst_key
FROM sym s
JOIN vocab va ON s.src_key = va.k
JOIN vocab vb ON s.dst_key = vb.k
"""


def _summary_sel() -> str:
    """Summary-turn extraction (conv_id, s_idx, loc, temp, cond) — the
    SQL twin of the scan.py `summary` slice."""
    summ = RULES_BY_NAME["summary"]
    loc = NORM.format(x=f"regexp_extract(text, '{summ.pattern}', 3)")
    return (
        f"SELECT conv_id, turn_idx AS s_idx, {loc} AS loc, "
        f"regexp_extract(text, '{summ.pattern}', 1) AS temp, "
        f"regexp_extract(text, '{summ.pattern}', 2) AS cond "
        f"FROM t WHERE {_rule_where(summ)}"
    )


def _result_sel() -> str:
    """Tool-result extraction (conv_id, r_idx, loc, r_temp, r_cond) — the
    SQL twin of the scan.py `result` slice."""
    result = RULES_BY_NAME["result"]
    loc = NORM.format(x=f"regexp_extract(text, '{result.pattern}', 1)")
    return (
        f"SELECT conv_id, turn_idx AS r_idx, {loc} AS loc, "
        f"regexp_extract(text, '{result.pattern}', 2) AS r_temp, "
        f"regexp_extract(text, '{result.pattern}', 3) AS r_cond "
        f"FROM t WHERE {_rule_where(result)}"
    )


def faithfulness_findings_sql() -> str:
    """The faithfulness-bundle branches of the findings battery, over a
    `t` transcript view — standalone so tests/test_parity_probes.py can
    replay them on handcrafted POSITIVE probes (two of the three
    scanners match zero corpus rows, so corpus-oracle equality alone
    would not exercise the SQL)."""
    return f"""\
SELECT 'unfaithful-summary' AS query_name,
       conv_id || ':' || CAST(s_idx AS VARCHAR) AS evidence,
       1::BIGINT AS score
FROM (
  SELECT s.conv_id, s.s_idx, s.temp, s.cond, r.r_temp, r.r_cond,
         row_number() OVER (PARTITION BY s.conv_id, s.s_idx
                            ORDER BY r.r_idx DESC) AS rn
  FROM ({_summary_sel()}) s
  JOIN ({_result_sel()}) r
    ON s.conv_id = r.conv_id AND s.loc = r.loc AND r.r_idx < s.s_idx
)
WHERE rn = 1 AND (temp <> r_temp OR cond <> r_cond)
UNION ALL
SELECT 'contradicted-summary',
       s.conv_id || ':' || CAST(s.s_idx AS VARCHAR), count(*)::BIGINT
FROM ({_summary_sel()}) s
JOIN ({_result_sel()}) r
  ON s.conv_id = r.conv_id AND s.loc = r.loc AND r.r_idx < s.s_idx
WHERE s.temp <> r.r_temp OR s.cond <> r.r_cond
GROUP BY s.conv_id, s.s_idx
UNION ALL
SELECT 'unsupported-summary',
       s.conv_id || ':' || CAST(s.s_idx AS VARCHAR), 1::BIGINT
FROM ({_summary_sel()}) s
LEFT JOIN (SELECT conv_id, loc, min(r_idx) AS first_r_idx
           FROM ({_result_sel()}) GROUP BY 1, 2) r0
  ON s.conv_id = r0.conv_id AND s.loc = r0.loc
WHERE r0.first_r_idx IS NULL OR r0.first_r_idx >= s.s_idx"""


def findings_sql(sf: float) -> str:
    from joern_spark.operators.scan import (  # shared constants
        BURST_MAX_AVG_GAP_S,
        BURST_MIN_TURNS,
        CONVERGE_MIN,
        FLOW_CROSSINGS,
        FLOW_DEPTH,
        DB_MIX_MIN,
        DEAD_REBIND_SENTINEL,
        DEEP_REBIND_MIN,
        ENTITY_SPREAD_MIN,
        ENTITY_SPREAD_PCT,
        HANDOFF_GAP_S,
        HUB_SHARE,
        KNOWN_TOOLS,
        LEAK_PATTERNS,
        LOCAL_CONTRA_MIN,
        TOOL_ROLES,
        REPEAT_ASK_MIN,
        ROLE_IMBALANCE_MIN_TURNS,
        ROLE_IMBALANCE_PCT,
        TEMP_HIGH,
        TEMP_LOW,
        TOOL_FANOUT_MIN,
        REBIND_CHURN_MIN,
        TOOL_THRASH_MIN,
    )

    known_tools = ", ".join(f"'{t}'" for t in KNOWN_TOOLS)
    tool_roles = ", ".join(f"'{r}'" for r in TOOL_ROLES)

    rebind = RULES_BY_NAME["rebind"]
    result = RULES_BY_NAME["result"]
    dbcur = RULES_BY_NAME["dbcur"]
    call = RULES_BY_NAME["call"]
    alias_r = RULES_BY_NAME["alias"]
    db = RULES_BY_NAME["db"]
    ask = RULES_BY_NAME["ask"]
    key = NORM.format(x="m.surface")
    loc = NORM.format(x=f"regexp_extract(text, '{result.pattern}', 1)")
    call_loc = NORM.format(x=f"regexp_extract(text, '{call.pattern}', 2)")
    res_loc = NORM.format(x=f"regexp_extract(text, '{result.pattern}', 1)")
    ask_loc = NORM.format(x=f"regexp_extract(text, '{ask.pattern}', 1)")
    alias_a = NORM.format(x=f"regexp_extract(text, '{alias_r.pattern}', 1)")
    alias_b = NORM.format(x=f"regexp_extract(text, '{alias_r.pattern}', 2)")
    return f"""
WITH RECURSIVE {_same_as_pairs_cte(sf)},
reach(n, m) AS (
    SELECT DISTINCT a AS n, a AS m FROM sym
    UNION
    SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
),
cmap AS (SELECT n AS entity_key, min(m) AS canon FROM reach GROUP BY n),
m AS ({mentions_sql(sf)}),
e AS (SELECT entity_key FROM {e_src()}),
mc AS (SELECT {key} AS k, count(*) AS n FROM m GROUP BY 1),
{_hetero_walk_ctes(sf, FLOW_DEPTH, FLOW_CROSSINGS)},
fcross AS (
  -- flow-scanner view of the shared keep='all' walk (scan._flow_paths
  -- twin): node-frame projections the five branches filter on
  SELECT src, dst, depth, crossings, labels,
         split_part(src, ':', 1) AS src_conv,
         split_part(dst, ':', 1) AS dst_conv,
         strpos(dst, ':') > 0 AS dst_is_turn
  FROM walk
)
SELECT 'mega-conversation' AS query_name, conv_id AS evidence,
       count(*)::BIGINT AS score
FROM t GROUP BY conv_id HAVING count(*) >= 256
UNION ALL
SELECT 'rebind-conversation', conv_id, count(*)::BIGINT
FROM t WHERE {_rule_where(rebind)}
GROUP BY conv_id
UNION ALL
SELECT 'unknown-entity', k, n::BIGINT FROM (
  SELECT {key} AS k, count(*) AS n
  FROM m LEFT JOIN e ON {key} = e.entity_key
  WHERE e.entity_key IS NULL GROUP BY 1
)
UNION ALL
SELECT 'temperature-contradiction', loc, count(DISTINCT temp)::BIGINT FROM (
  SELECT {loc} AS loc, regexp_extract(text, '{result.pattern}', 2) AS temp
  FROM t WHERE {_rule_where(result)}
) GROUP BY loc HAVING count(DISTINCT temp) >= 2
UNION ALL
SELECT 'stale-binding-use', d.conv_id, count(*)::BIGINT
FROM (SELECT conv_id, turn_idx FROM t WHERE {_rule_where(dbcur)}) d
JOIN (SELECT conv_id, min(turn_idx) AS fr FROM t
      WHERE {_rule_where(rebind)} GROUP BY 1) r
  ON d.conv_id = r.conv_id AND d.turn_idx < r.fr
GROUP BY d.conv_id
UNION ALL
SELECT 'deep-rebind-provenance', conv_id, count(*)::BIGINT FROM (
  SELECT d.conv_id, d.turn_idx
  FROM (SELECT conv_id, turn_idx FROM t WHERE {_rule_where(dbcur)}) d
  JOIN (SELECT conv_id, turn_idx AS rb FROM t
        WHERE {_rule_where(rebind)}) r
    ON d.conv_id = r.conv_id AND r.rb < d.turn_idx
  GROUP BY d.conv_id, d.turn_idx
  HAVING count(*) >= {DEEP_REBIND_MIN}
) GROUP BY conv_id
UNION ALL
SELECT 'alias-chain', canon, count(*)::BIGINT
FROM cmap GROUP BY canon HAVING count(*) >= 3
UNION ALL
SELECT 'hub-entity', k, n::BIGINT FROM mc
WHERE n > {HUB_SHARE} * (SELECT sum(n) FROM mc)
UNION ALL
SELECT 'tool-fanout', conv_id, count(DISTINCT tool)::BIGINT
FROM t WHERE tool IS NOT NULL
GROUP BY conv_id HAVING count(DISTINCT tool) >= {TOOL_FANOUT_MIN}
UNION ALL
SELECT 'unanswered-ask',
       a.conv_id || ':' || CAST(a.turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx FROM t WHERE {_rule_where(RULES_BY_NAME["ask"])}) a
LEFT JOIN (SELECT conv_id, max(turn_idx) AS last_call FROM t
           WHERE {_rule_where(RULES_BY_NAME["call"])} GROUP BY 1) c
  ON a.conv_id = c.conv_id
WHERE c.last_call IS NULL OR c.last_call < a.turn_idx
UNION ALL
SELECT 'lone-mention', k, n::BIGINT FROM mc WHERE n = 1
UNION ALL
SELECT 'dangling-call',
       c.conv_id || ':' || CAST(c.turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx, {call_loc} AS loc FROM t
      WHERE {_rule_where(call)}) c
LEFT JOIN (SELECT conv_id, {res_loc} AS loc, max(turn_idx) AS last_res
           FROM t WHERE {_rule_where(result)} GROUP BY 1, 2) r
  ON c.conv_id = r.conv_id AND c.loc = r.loc
WHERE r.last_res IS NULL OR r.last_res < c.turn_idx
UNION ALL
SELECT 'orphan-result',
       x.conv_id || ':' || CAST(x.turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx, {res_loc} AS loc FROM t
      WHERE {_rule_where(result)}) x
LEFT JOIN (SELECT conv_id, {call_loc} AS loc, min(turn_idx) AS first_call
           FROM t WHERE {_rule_where(call)} GROUP BY 1, 2) fc
  ON x.conv_id = fc.conv_id AND x.loc = fc.loc
WHERE fc.first_call IS NULL OR fc.first_call > x.turn_idx
UNION ALL
SELECT 'retry-loop', ev, n::BIGINT FROM (
  SELECT conv_id || ':' || tool_name || ':' || loc AS ev, count(*) AS n
  FROM (SELECT conv_id,
               regexp_extract(text, '{call.pattern}', 1) AS tool_name,
               {call_loc} AS loc
        FROM t WHERE {_rule_where(call)})
  GROUP BY 1 HAVING count(*) >= 2
)
UNION ALL
SELECT 'dead-rebind',
       rb.conv_id || ':' || CAST(rb.turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx,
             coalesce(lead(turn_idx) OVER (PARTITION BY conv_id
                                           ORDER BY turn_idx),
                      {DEAD_REBIND_SENTINEL}) AS next_idx
      FROM t WHERE {_rule_where(rebind)}) rb
WHERE NOT EXISTS (
  SELECT 1 FROM t u
  WHERE u.role = '{dbcur.role}'
    AND regexp_matches(u.text, '{dbcur.pattern}')
    AND u.conv_id = rb.conv_id
    AND u.turn_idx > rb.turn_idx AND u.turn_idx < rb.next_idx
)
UNION ALL
SELECT 'self-alias',
       conv_id || ':' || CAST(turn_idx AS VARCHAR), 1::BIGINT
FROM t WHERE {_rule_where(alias_r)} AND {alias_a} = {alias_b}
UNION ALL
SELECT 'protocol-violation', conv_id, 1::BIGINT
FROM (SELECT conv_id, min_by(role, turn_idx) AS first_role
      FROM t GROUP BY conv_id)
WHERE first_role <> 'user'
UNION ALL
SELECT 'mixed-db-query', conv_id, count(DISTINCT db_name)::BIGINT
FROM (SELECT conv_id, regexp_extract(text, '{db.pattern}', 1) AS db_name
      FROM t WHERE {_rule_where(db)})
GROUP BY conv_id HAVING count(DISTINCT db_name) >= {DB_MIX_MIN}
UNION ALL
SELECT 'repeated-question', conv_id || ':' || loc, count(*)::BIGINT
FROM (SELECT conv_id, {ask_loc} AS loc
      FROM t WHERE {_rule_where(ask)})
GROUP BY conv_id, loc HAVING count(*) >= {REPEAT_ASK_MIN}
UNION ALL
SELECT 'late-alias',
       al.conv_id || ':' || CAST(al.turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx, {alias_a} AS key FROM t
      WHERE {_rule_where(alias_r)}) al
JOIN (SELECT conv_id, {key} AS key, min(turn_idx) AS first_idx
      FROM m WHERE m.kind = 'location' AND m.rule <> 'alias'
      GROUP BY 1, 2) fs
  ON al.conv_id = fs.conv_id AND al.key = fs.key
WHERE fs.first_idx < al.turn_idx
UNION ALL
SELECT 'default-binding-use',
       u.conv_id || ':' || CAST(u.turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx FROM t WHERE {_rule_where(dbcur)}) u
LEFT JOIN (SELECT DISTINCT conv_id FROM t WHERE {_rule_where(rebind)}) rb
  ON u.conv_id = rb.conv_id
WHERE rb.conv_id IS NULL
UNION ALL
SELECT 'alias-conflict', key, count(DISTINCT target)::BIGINT
FROM (SELECT {alias_a} AS key, {alias_b} AS target
      FROM t WHERE {_rule_where(alias_r)})
GROUP BY key HAVING count(DISTINCT target) >= 2
UNION ALL
SELECT 'result-mismatch',
       conv_id || ':' || CAST(turn_idx AS VARCHAR), 1::BIGINT
FROM (
  SELECT conv_id, turn_idx,
         CASE WHEN {_rule_where(call)} THEN {call_loc} END AS call_loc,
         lead(CASE WHEN {_rule_where(result)} THEN {res_loc} END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_res
  FROM t
)
WHERE call_loc IS NOT NULL AND next_res IS NOT NULL
  AND call_loc <> next_res
UNION ALL
SELECT 'duplicate-turn',
       conv_id || ':' || CAST(turn_idx AS VARCHAR), count(*)::BIGINT
FROM t GROUP BY conv_id, turn_idx HAVING count(*) >= 2
UNION ALL
SELECT 'turn-gap', conv_id,
       greatest(mx + 1 - n, 1)::BIGINT
FROM (SELECT conv_id, max(turn_idx) AS mx, min(turn_idx) AS mn,
             count(DISTINCT turn_idx) AS n
      FROM t GROUP BY conv_id)
WHERE mn <> 0 OR mx + 1 - n > 0
UNION ALL
SELECT 'extreme-temperature',
       conv_id || ':' || CAST(turn_idx AS VARCHAR),
       abs(CAST(regexp_extract(text, '{result.pattern}', 2) AS BIGINT))
FROM t
WHERE {_rule_where(result)}
  AND (CAST(regexp_extract(text, '{result.pattern}', 2) AS BIGINT) > {TEMP_HIGH}
       OR CAST(regexp_extract(text, '{result.pattern}', 2) AS BIGINT) < {TEMP_LOW})
UNION ALL
SELECT 'fact-flip', loc, n::BIGINT FROM (
  SELECT loc,
         sum(flips_in)
         + sum(CASE WHEN prev_last IS NOT NULL AND prev_last <> first_temp
                    THEN 1 ELSE 0 END) AS n
  FROM (
    SELECT loc, flips_in, first_temp,
           lag(last_temp) OVER (
             PARTITION BY loc
             ORDER BY first_ts ASC NULLS FIRST, conv_id) AS prev_last
    FROM (
      SELECT loc, conv_id,
             sum(CASE WHEN prev IS NOT NULL AND prev <> temp
                      THEN 1 ELSE 0 END) AS flips_in,
             arg_min(temp, turn_idx) AS first_temp,
             arg_max(temp, turn_idx) AS last_temp,
             min(ts) AS first_ts
      FROM (
        SELECT {res_loc} AS loc,
               regexp_extract(text, '{result.pattern}', 2) AS temp,
               conv_id, turn_idx, ts,
               lag(regexp_extract(text, '{result.pattern}', 2)) OVER (
                 PARTITION BY {res_loc}, conv_id ORDER BY turn_idx) AS prev
        FROM t WHERE {_rule_where(result)}
      ) GROUP BY loc, conv_id
    )
  ) GROUP BY loc
) WHERE n >= 1
UNION ALL
SELECT 'kind-drift', {key}, count(DISTINCT kind)::BIGINT
FROM m GROUP BY 2 HAVING count(DISTINCT kind) >= 2
UNION ALL
SELECT 'conversation-clone', fp, count(*)::BIGINT FROM (
  SELECT md5(string_agg(text, chr(10) ORDER BY turn_idx, text)) AS fp
  FROM t GROUP BY conv_id
) GROUP BY fp HAVING count(*) >= 2
UNION ALL
SELECT 'replaced-db-use', old_db, count(*)::BIGINT FROM (
  SELECT u.old_db
  FROM (SELECT regexp_extract(text, '{db.pattern}', 1) AS old_db, conv_id, ts
        FROM t WHERE {_rule_where(db)}) u
  JOIN (SELECT regexp_extract(text, '{rebind.pattern}', 2) AS old_db,
               min(ts) AS first_ts
        FROM t WHERE {_rule_where(rebind)} GROUP BY 1) fr
    ON u.old_db = fr.old_db AND u.ts > fr.first_ts
  LEFT JOIN (SELECT DISTINCT regexp_extract(text, '{rebind.pattern}', 2) AS old_db,
                    conv_id
             FROM t WHERE {_rule_where(rebind)}) aw
    ON u.old_db = aw.old_db AND u.conv_id = aw.conv_id
  WHERE aw.conv_id IS NULL
) GROUP BY old_db
UNION ALL
SELECT 'globally-unanswered-ask', kc, count(*)::BIGINT FROM (
  SELECT coalesce(c.canon, a.k) AS kc
  FROM (SELECT {ask_loc} AS k FROM t WHERE {_rule_where(ask)}) a
  LEFT JOIN cmap c ON a.k = c.entity_key
)
WHERE kc NOT IN (
  SELECT DISTINCT coalesce(c2.canon, r.k)
  FROM (SELECT {res_loc} AS k FROM t WHERE {_rule_where(result)}) r
  LEFT JOIN cmap c2 ON r.k = c2.entity_key
)
GROUP BY kc
UNION ALL
SELECT 'role-imbalance', conv_id, mx::BIGINT FROM (
  SELECT conv_id, sum(c) AS n, max(c) AS mx
  FROM (SELECT conv_id, role, count(*) AS c FROM t GROUP BY 1, 2)
  GROUP BY conv_id
) WHERE n >= {ROLE_IMBALANCE_MIN_TURNS} AND mx * 100 >= {ROLE_IMBALANCE_PCT} * n
UNION ALL
SELECT 'tool-thrash', conv_id, count(*)::BIGINT FROM (
  SELECT conv_id,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
         tool
  FROM t WHERE tool IS NOT NULL
) WHERE prev IS NOT NULL AND prev <> tool
GROUP BY conv_id HAVING count(*) >= {TOOL_THRASH_MIN}
UNION ALL
SELECT 'rare-tool-transition',
       p.conv_id || ':' || p.tool_a || '>' || p.tool_b, count(*)::BIGINT
FROM (
  SELECT conv_id, tool_a, tool_b FROM (
    SELECT conv_id, tool AS tool_a,
           lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS tool_b
    FROM t WHERE role = 'assistant' AND tool IS NOT NULL
  ) WHERE tool_b IS NOT NULL
) p
JOIN (
  SELECT tool_a, tool_b FROM (
    SELECT conv_id, tool_a, tool_b FROM (
      SELECT conv_id, tool AS tool_a,
             lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS tool_b
      FROM t WHERE role = 'assistant' AND tool IS NOT NULL
    ) WHERE tool_b IS NOT NULL
  ) GROUP BY 1, 2 HAVING count(DISTINCT conv_id) = 1
) s ON s.tool_a = p.tool_a AND s.tool_b = p.tool_b
GROUP BY 1, 2
UNION ALL
SELECT 'rebind-churn', conv_id || ':' || new_db, count(*)::BIGINT
FROM (SELECT conv_id, regexp_extract(text, '{rebind.pattern}', 1) AS new_db
      FROM t WHERE {_rule_where(rebind)})
GROUP BY conv_id, new_db HAVING count(*) >= {REBIND_CHURN_MIN}
UNION ALL
SELECT 'answered-reask',
       a.conv_id || ':' || CAST(a.turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx, {ask_loc} AS loc FROM t
      WHERE {_rule_where(ask)}) a
JOIN (SELECT conv_id, {res_loc} AS loc, min(turn_idx) AS first_res
      FROM t WHERE {_rule_where(result)} GROUP BY 1, 2) r
  ON a.conv_id = r.conv_id AND a.loc = r.loc
WHERE a.turn_idx > r.first_res
UNION ALL
SELECT 'entity-spread', entity_key, n::BIGINT FROM (
  SELECT entity_key, count(*) AS n FROM (
    SELECT DISTINCT conv_id, {key} AS entity_key FROM m
  ) GROUP BY entity_key
) WHERE n >= {ENTITY_SPREAD_MIN}
  AND n * 100 >= {ENTITY_SPREAD_PCT} * (SELECT count(DISTINCT conv_id) FROM t)
UNION ALL
SELECT 'condition-contradiction', loc, count(DISTINCT cond)::BIGINT FROM (
  SELECT {loc} AS loc, regexp_extract(text, '{result.pattern}', 3) AS cond
  FROM t WHERE {_rule_where(result)}
) GROUP BY loc HAVING count(DISTINCT cond) >= 2
UNION ALL
SELECT 'pii-email-leak', conv_id || ':' || CAST(turn_idx AS VARCHAR),
       len(regexp_extract_all(text, '{LEAK_PATTERNS["pii-email-leak"]}'))::BIGINT
FROM t WHERE regexp_matches(text, '{LEAK_PATTERNS["pii-email-leak"]}')
UNION ALL
SELECT 'pii-phone-leak', conv_id || ':' || CAST(turn_idx AS VARCHAR),
       len(regexp_extract_all(text, '{LEAK_PATTERNS["pii-phone-leak"]}'))::BIGINT
FROM t WHERE regexp_matches(text, '{LEAK_PATTERNS["pii-phone-leak"]}')
UNION ALL
SELECT 'secret-leak', conv_id || ':' || CAST(turn_idx AS VARCHAR),
       len(regexp_extract_all(text, '{LEAK_PATTERNS["secret-leak"]}'))::BIGINT
FROM t WHERE regexp_matches(text, '{LEAK_PATTERNS["secret-leak"]}')
UNION ALL
SELECT 'unknown-tool-call', conv_id || ':' || CAST(turn_idx AS VARCHAR), 1::BIGINT
FROM t WHERE tool IS NOT NULL AND tool NOT IN ({known_tools})
UNION ALL
SELECT 'unasked-result',
       x.conv_id || ':' || CAST(x.turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx, {res_loc} AS loc FROM t
      WHERE {_rule_where(result)}) x
LEFT JOIN (SELECT DISTINCT conv_id, {ask_loc} AS loc FROM t
           WHERE {_rule_where(ask)}) a
  ON x.conv_id = a.conv_id AND x.loc = a.loc
WHERE a.conv_id IS NULL
UNION ALL
SELECT 'local-contradiction', conv_id || ':' || loc,
       count(DISTINCT temp)::BIGINT FROM (
  SELECT conv_id, {loc} AS loc,
         regexp_extract(text, '{result.pattern}', 2) AS temp
  FROM t WHERE {_rule_where(result)}
) GROUP BY conv_id, loc HAVING count(DISTINCT temp) >= {LOCAL_CONTRA_MIN}
UNION ALL
SELECT 'clock-skew', conv_id || ':' || CAST(turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx, ts,
             lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_ts
      FROM t)
WHERE prev_ts IS NOT NULL AND ts < prev_ts
UNION ALL
SELECT 'burst-conversation', conv_id, n::BIGINT FROM (
  SELECT conv_id, count(*) AS n, min(ts) AS mn, max(ts) AS mx
  FROM t GROUP BY conv_id
) WHERE n >= {BURST_MIN_TURNS}
  AND date_diff('second', mn, mx) < {BURST_MAX_AVG_GAP_S} * (n - 1)
UNION ALL
SELECT 'stale-handoff', conv_id || ':' || CAST(turn_idx AS VARCHAR),
       date_diff('second', prev_ts, ts)::BIGINT
FROM (SELECT conv_id, turn_idx, ts,
             lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_ts
      FROM t)
WHERE prev_ts IS NOT NULL AND date_diff('second', prev_ts, ts) > {HANDOFF_GAP_S}
UNION ALL
SELECT 'cold-start-call', conv_id, 1::BIGINT FROM (
  SELECT conv_id, arg_min(text, turn_idx) AS first_text,
         arg_min(role, turn_idx) AS first_role
  FROM t GROUP BY conv_id
) WHERE first_role = '{call.role}'
  AND regexp_matches(first_text, '{call.pattern}')
UNION ALL
SELECT 'tool-role-mismatch',
       conv_id || ':' || CAST(turn_idx AS VARCHAR), 1::BIGINT
FROM t WHERE (tool IS NOT NULL AND role NOT IN ({tool_roles}))
          OR (tool IS NULL AND role = 'tool')
UNION ALL
SELECT 'echo-turn', conv_id || ':' || CAST(turn_idx AS VARCHAR), 1::BIGINT
FROM (SELECT conv_id, turn_idx, role, text,
             lag(text) OVER w AS prev_text, lag(role) OVER w AS prev_role
      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
WHERE prev_text IS NOT NULL AND text = prev_text AND role <> prev_role
UNION ALL
SELECT 'cross-conversation-flow', src, count(DISTINCT dst_conv)::BIGINT
FROM fcross
WHERE crossings >= 1 AND dst_is_turn AND dst_conv <> src_conv
GROUP BY src
UNION ALL
SELECT 'aliased-cross-flow', src, count(DISTINCT dst)::BIGINT
FROM fcross
WHERE (list_contains(labels, 'SAME_AS') OR list_contains(labels, 'SAME_AS_REV'))
  AND crossings >= 1 AND dst_is_turn AND dst_conv <> src_conv
GROUP BY src
UNION ALL
SELECT 'fact-round-trip', src, count(DISTINCT dst)::BIGINT
FROM fcross
WHERE crossings = 2 AND dst_is_turn AND dst_conv = src_conv AND dst <> src
GROUP BY src
UNION ALL
SELECT 'converging-flow', dst, n::BIGINT FROM (
  SELECT dst, count(DISTINCT src_conv) AS n
  FROM fcross
  WHERE crossings >= 1 AND dst_is_turn AND dst_conv <> src_conv
  GROUP BY dst
) WHERE n >= {CONVERGE_MIN}
UNION ALL
SELECT 'flow-before-source', src, n::BIGINT FROM (
  SELECT c.src, min(td.ts) AS min_dst_ts, min(ts2.ts) AS src_ts,
         count(DISTINCT c.dst) AS n
  FROM fcross c
  JOIN (SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS tid, ts FROM t)
    ts2 ON ts2.tid = c.src
  JOIN (SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS tid, ts FROM t)
    td ON td.tid = c.dst
  WHERE c.depth = 2 AND c.crossings = 1 AND c.dst_is_turn
    AND c.dst_conv <> c.src_conv
  GROUP BY c.src
) WHERE min_dst_ts > src_ts
UNION ALL
{faithfulness_findings_sql()}
"""


def tool_pairs_sql(sf: float) -> str:
    call = RULES_BY_NAME["call"]
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
pc AS (
  SELECT DISTINCT conv_id, regexp_extract(text, '{call.pattern}', 1) AS tool_name
  FROM t WHERE role = '{call.role}' AND regexp_matches(text, '{call.pattern}')
)
SELECT x.tool_name AS tool_a, y.tool_name AS tool_b, count(*) AS n_convs
FROM pc x JOIN pc y ON x.conv_id = y.conv_id AND x.tool_name < y.tool_name
GROUP BY 1, 2
"""


def edge_stats_sql(sf: float) -> str:
    alias = RULES_BY_NAME["alias"]
    a = NORM.format(x=f"regexp_extract(text, '{alias.pattern}', 1)")
    b = NORM.format(x=f"regexp_extract(text, '{alias.pattern}', 2)")
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
m AS ({mentions_sql(sf)})
SELECT 'NEXT_TURN' AS label,
       (SELECT count(*) FROM t) - (SELECT count(DISTINCT conv_id) FROM t) AS n
UNION ALL SELECT 'CONTAINS', (SELECT count(*) FROM t)
UNION ALL SELECT 'LINKS_TO', (SELECT count(*) FROM m)
UNION ALL SELECT 'SAME_AS', (
  SELECT count(*) FROM (
    SELECT DISTINCT {a} AS a, {b} AS b FROM t
    WHERE role = '{alias.role}' AND regexp_matches(text, '{alias.pattern}')
  )
)
"""


def khop_sql(sf: float, k: int = 3) -> str:
    """Oracle for k-hop NEXT_TURN reachability: linear chains make the
    closed form turn_idx + k (the Spark side walks the edge table)."""
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
idx AS (SELECT conv_id, turn_idx FROM t)
SELECT a.conv_id || ':' || CAST(a.turn_idx AS VARCHAR) AS src,
       b.conv_id || ':' || CAST(b.turn_idx AS VARCHAR) AS dst
FROM idx a JOIN idx b
  ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + {k}
"""


def entity_cm_sql(sf: float, d: int = 4, w: int = 256, k: int = 20) -> str:
    """Count-Min mirror (operators/sketch): identical md5 row hashes
    ("r:item"), identical d×w cells, min-over-rows estimate, top-k by
    (est desc, item asc)."""
    hb = "(('0x' || substr(md5(g.r::VARCHAR || ':' || item), 1, 15))::BIGINT)"
    return f"""
WITH items AS (
  SELECT obj AS item FROM ({triples_raw_sql(sf)})
),
cells AS (
  SELECT g.r AS r, {hb} % {w} AS bucket, count(*) AS c
  FROM items, generate_series(0, {d - 1}) g(r)
  GROUP BY 1, 2
),
pr AS (
  SELECT p.item, g.r AS r, {hb.replace('item', 'p.item')} % {w} AS bucket
  FROM (SELECT DISTINCT item FROM items) p, generate_series(0, {d - 1}) g(r)
)
SELECT pr.item, min(c.c) AS est
FROM pr JOIN cells c ON c.r = pr.r AND c.bucket = pr.bucket
GROUP BY pr.item
ORDER BY est DESC, pr.item
LIMIT {k}
"""


def bloom_prune_sql(sf: float) -> str:
    """Oracle mirror of operators/sketch.bloom_bits/bloom_contains over
    the entity vocabulary (the bloom-pruned-semi-join probe): identical
    md5_long('r:key') % 8192 positions, distinct bit set, K-probe
    conjunction. No false negatives: in_vocab ⇒ in_bloom by
    construction in BOTH engines."""
    from joern_spark.operators.sketch import BLOOM_K, BLOOM_M

    key = NORM.format(x="surface")
    hb = "(('0x' || substr(md5(CAST(g.r AS VARCHAR) || ':' || entity_key), 1, 15))::BIGINT)"
    return f"""
WITH m AS ({mentions_sql(sf)}),
keys AS (SELECT DISTINCT {key} AS entity_key FROM m),
e AS (SELECT DISTINCT entity_key FROM {e_src()}),
bits AS (
  SELECT DISTINCT {hb} % {BLOOM_M} AS bit
  FROM e, generate_series(0, {BLOOM_K - 1}) g(r)
),
probes AS (
  SELECT entity_key, g.r AS r, {hb} % {BLOOM_M} AS bit
  FROM keys, generate_series(0, {BLOOM_K - 1}) g(r)
),
hits AS (
  SELECT p.entity_key, count(*) AS n
  FROM probes p JOIN bits b ON b.bit = p.bit
  GROUP BY 1
)
SELECT k.entity_key,
       coalesce(h.n, 0) = {BLOOM_K} AS in_bloom,
       (e.entity_key IS NOT NULL) AS in_vocab
FROM keys k
LEFT JOIN hits h ON h.entity_key = k.entity_key
LEFT JOIN e ON e.entity_key = k.entity_key
"""


def role_transitions_sql(sf: float) -> str:
    """Role-transition-matrix twin (assemble.role_transition_matrix):
    the same lead window and BIGINT count, no floats anywhere."""
    return f"""
WITH nx AS (
  SELECT role AS src_role,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst_role
  FROM {t_src(sf)}
)
SELECT src_role, dst_role, count(*)::BIGINT AS n
FROM nx WHERE dst_role IS NOT NULL
GROUP BY 1, 2
"""


def entity_jaccard_sql(sf: float) -> str:
    """Neighborhood-Jaccard twin (rank.entity_jaccard): the AA wedge CTE
    with the score replaced by one division of exact BIGINTs — the
    identical IEEE operation on both engines, so no sorted-fold is
    needed."""
    from joern_spark.operators.rank import SUGGEST_SUPPORT_Q, SUGGEST_TOP_K

    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
ew AS MATERIALIZED (
  SELECT x.k AS a, y.k AS b, count(*)::BIGINT AS n_convs
  FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
thr AS (SELECT quantile_cont(n_convs, {SUGGEST_SUPPORT_Q!r}) AS thr FROM ew),
e AS MATERIALIZED (
  SELECT a, b FROM ew, thr WHERE n_convs::DOUBLE >= thr
),
sym AS MATERIALIZED (
  SELECT a AS node, b AS nb FROM e UNION ALL SELECT b AS node, a AS nb FROM e
),
deg AS (SELECT node, count(*)::BIGINT AS deg FROM sym GROUP BY 1),
pairs AS (
  SELECT x.node AS a, y.node AS b, count(*)::BIGINT AS n_common
  FROM sym x JOIN sym y ON x.nb = y.nb AND x.node < y.node
  GROUP BY 1, 2
),
missing AS (
  SELECT p.a, p.b, p.n_common,
         p.n_common::DOUBLE / (da.deg + db.deg - p.n_common)::DOUBLE AS jaccard
  FROM pairs p
  JOIN deg da ON da.node = p.a
  JOIN deg db ON db.node = p.b
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.a AND e.b = p.b)
),
sugg AS (
  SELECT a AS entity_key, b AS suggestion, n_common, jaccard FROM missing
  UNION ALL
  SELECT b AS entity_key, a AS suggestion, n_common, jaccard FROM missing
)
SELECT entity_key, suggestion, n_common, jaccard, rank FROM (
  SELECT entity_key, suggestion, n_common, jaccard,
         row_number() OVER (PARTITION BY entity_key
                            ORDER BY jaccard DESC, n_common DESC,
                                     suggestion ASC) AS rank
  FROM sugg
) WHERE rank <= {SUGGEST_TOP_K}
"""


def entity_wl_sql(sf: float) -> str:
    """Weisfeiler-Lehman refinement over the strong co-mention graph —
    rounds unrolled as chained CTEs, each the identical
    md5(own || '|' || comma-joined sorted neighbor colors) re-hash the
    Spark operator computes (string md5 on both engines, ascending list
    sort, comma join — bit-identical inputs, identical hex)."""
    from joern_spark.operators.rank import COMMUNITY_MIN_CONVS, WL_ROUNDS

    key = NORM.format(x="m.surface")
    rounds: list[str] = []
    for i in range(1, WL_ROUNDS + 1):
        rounds.append(
            f"""c{i} AS (
  SELECT s.dst AS node,
         md5(cd.c || '|' ||
             array_to_string(list_sort(list(cn.c)), ',')) AS c
  FROM sym s JOIN c{i - 1} cn ON cn.node = s.src
       JOIN c{i - 1} cd ON cd.node = s.dst
  GROUP BY s.dst, cd.c
)"""
        )
    joined = ",\n".join(rounds)
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2 HAVING count(*) >= {COMMUNITY_MIN_CONVS}
),
sym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e
  UNION ALL SELECT b AS src, a AS dst FROM e
),
c0 AS (SELECT DISTINCT src AS node, md5('n') AS c FROM sym),
{joined},
sizes AS (SELECT c, count(*) AS n_class FROM c{WL_ROUNDS} GROUP BY 1)
SELECT f.node AS node, f.c AS wl_color, sizes.n_class::BIGINT AS n_class
FROM c{WL_ROUNDS} f JOIN sizes USING (c)
"""


def tool_seqs_sql(sf: float) -> str:
    """Adjacent pairs in each conversation's tool-call subsequence
    (mirror of assemble.tool_call_bigrams): same filter-then-lead
    window, exact BIGINT totals + distinct-conversation support."""
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
calls AS (
  SELECT conv_id, turn_idx, tool FROM t
  WHERE role = 'assistant' AND tool IS NOT NULL
),
p AS (
  SELECT conv_id, tool AS tool_a,
         lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS tool_b
  FROM calls
)
SELECT tool_a, tool_b, count(*)::BIGINT AS n,
       count(DISTINCT conv_id)::BIGINT AS n_convs
FROM p WHERE tool_b IS NOT NULL GROUP BY 1, 2
"""


def skew_profile_sql(sf: float) -> str:
    """Mirror of plans.profile.key_skew_profile over the mention
    entity-key column: exact counts, total-order top-k, and the
    identical single-division share/skew doubles."""
    from joern_spark.plans.profile import PROFILE_TOP_K

    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
counts AS (SELECT {key} AS key, count(*) AS n FROM m GROUP BY 1),
summary AS (SELECT sum(n) AS total, count(*) AS n_keys FROM counts),
top AS (
  SELECT key, n,
         row_number() OVER (ORDER BY n DESC, key ASC) AS rank
  FROM counts
)
SELECT key, n::BIGINT AS n,
       n::DOUBLE / total::DOUBLE AS share,
       n::DOUBLE / (total::DOUBLE / n_keys::DOUBLE) AS skew,
       n_keys::BIGINT AS n_keys, rank
FROM top, summary WHERE rank <= {PROFILE_TOP_K}
"""


def entity_pmi_sql(sf: float) -> str:
    """PMI/NPMI co-mention edge weighting (mirror of rank.entity_pmi):
    the same capped per-conversation key sets, single ln-of-ratio
    doubles, and the n_ab == N npmi convention."""
    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
nk AS (SELECT k, count(*) AS n_k FROM pc GROUP BY 1),
nt AS (SELECT count(DISTINCT conv_id) AS n_total FROM pc),
pairs AS (
  SELECT x.k AS a, y.k AS b, count(*) AS n_ab FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
)
SELECT p.a, p.b, p.n_ab::BIGINT AS n_ab,
       ln(p.n_ab::DOUBLE * nt.n_total::DOUBLE
          / (na.n_k::DOUBLE * nb.n_k::DOUBLE)) AS pmi,
       CASE WHEN p.n_ab = nt.n_total THEN 1.0
            ELSE ln(p.n_ab::DOUBLE * nt.n_total::DOUBLE
                    / (na.n_k::DOUBLE * nb.n_k::DOUBLE))
                 / -ln(p.n_ab::DOUBLE / nt.n_total::DOUBLE)
       END AS npmi
FROM pairs p
JOIN nk na ON na.k = p.a
JOIN nk nb ON nb.k = p.b, nt
"""


def entity_timeline_sql(sf: float) -> str:
    """Temporal extent per entity (mirror of rank.entity_timeline):
    the same mention→timestamp equi-join and exact aggregates."""
    key = NORM.format(x="m.surface")
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
m AS ({mentions_sql(sf)})
SELECT {key} AS entity_key,
       min(t.ts) AS first_ts, max(t.ts) AS last_ts,
       count(*)::BIGINT AS n_mentions,
       count(DISTINCT m.conv_id)::BIGINT AS n_convs
FROM m JOIN t ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
GROUP BY 1
"""


def entity_ppr_sql(sf: float) -> str:
    """Personalized PageRank (mirror of rank.entity_ppr): seed vector =
    1/|S| on the md5-smallest PPR_SEEDS nodes (the same hash order the
    Spark pick uses), restart term (1−d)·seed per node, iterations
    unrolled with the ascending-sorted contribution fold; float
    literals substituted via repr() so both engines parse the same
    doubles."""
    from joern_spark.operators.rank import (
        PPR_SEEDS,
        PR_DAMPING,
        PR_ITERATIONS,
    )

    key = NORM.format(x="m.surface")
    d, omd = repr(PR_DAMPING), repr(1.0 - PR_DAMPING)
    sv = repr(1.0 / PPR_SEEDS)
    h = "(('0x' || substr(md5(src), 1, 15))::BIGINT)"
    rounds: list[str] = []
    for i in range(1, PR_ITERATIONS + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT s.dst AS node,
         {omd} * coalesce(sv.seed, 0.0)
           + {d} * list_sum(list_sort(list(r.rank / dg.deg))) AS rank
  FROM sym s JOIN r{i - 1} r ON r.node = s.src
       JOIN deg dg ON dg.src = s.src
       LEFT JOIN seedv sv ON sv.node = s.dst
  GROUP BY s.dst, sv.seed
)"""
        )
    joined = ",\n".join(rounds)
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
seedv AS MATERIALIZED (
  SELECT src AS node, {sv} AS seed FROM deg
  ORDER BY {h}, src LIMIT {PPR_SEEDS}
),
r0 AS (SELECT d.src AS node, coalesce(s.seed, 0.0) AS rank
       FROM deg d LEFT JOIN seedv s ON s.node = d.src),
{joined}
SELECT node, rank FROM r{PR_ITERATIONS}
"""


def entity_bursts_sql(sf: float) -> str:
    """Entity-level burst hours (mirror of rank.entity_bursts): same
    hour truncation, integer counts, single-division mean, and the
    factor literal substituted via repr()."""
    from joern_spark.operators.rank import BURST_FACTOR, BURST_MIN_MENTIONS

    key = NORM.format(x="m.surface")
    f = repr(BURST_FACTOR)
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
m AS ({mentions_sql(sf)}),
ph AS (
  SELECT {key} AS entity_key, date_trunc('hour', t.ts) AS hour,
         count(*) AS n
  FROM m JOIN t ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
  GROUP BY 1, 2
),
mn AS (SELECT entity_key,
              sum(n)::DOUBLE / count(*)::DOUBLE AS mean_n
       FROM ph GROUP BY 1)
SELECT ph.entity_key, ph.hour, ph.n::BIGINT AS n, mn.mean_n
FROM ph JOIN mn USING (entity_key)
WHERE ph.n >= {BURST_MIN_MENTIONS} AND ph.n::DOUBLE >= {f} * mn.mean_n
"""


def tool_hits_sql(sf: float) -> str:
    """HITS over the directed tool-transition graph (mirror of
    rank.hits on assemble.tool_call_bigrams): iterations unrolled, every
    per-node sum and every L1 total folded over ascending-sorted lists,
    single shared divisions."""
    from joern_spark.operators.rank import HITS_ITERATIONS

    rounds: list[str] = []
    for i in range(1, HITS_ITERATIONS + 1):
        rounds.append(
            f"""af{i} AS MATERIALIZED (
  SELECT n.node, coalesce(ar.authority, 0.0) AS authority
  FROM nodes n LEFT JOIN (
    SELECT p.dst AS node,
           list_sum(list_sort(list(p.w * h.hub))) AS authority
    FROM p JOIN h{i - 1} h ON h.node = p.src GROUP BY 1
  ) ar USING (node)
),
a{i} AS MATERIALIZED (
  SELECT node,
         authority / (SELECT list_sum(list_sort(list(authority)))
                      FROM af{i}) AS authority
  FROM af{i}
),
hf{i} AS MATERIALIZED (
  SELECT n.node, coalesce(hr.hub, 0.0) AS hub
  FROM nodes n LEFT JOIN (
    SELECT p.src AS node,
           list_sum(list_sort(list(p.w * a.authority))) AS hub
    FROM p JOIN a{i} a ON a.node = p.dst GROUP BY 1
  ) hr USING (node)
),
h{i} AS MATERIALIZED (
  SELECT node,
         hub / (SELECT list_sum(list_sort(list(hub))) FROM hf{i}) AS hub
  FROM hf{i}
)"""
        )
    joined = ",\n".join(rounds)
    n = HITS_ITERATIONS
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
calls AS (
  SELECT conv_id, turn_idx, tool FROM t
  WHERE role = 'assistant' AND tool IS NOT NULL
),
bg AS (
  SELECT conv_id, tool AS src,
         lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst
  FROM calls
),
p AS MATERIALIZED (
  SELECT src, dst, count(*)::DOUBLE AS w FROM bg
  WHERE dst IS NOT NULL GROUP BY 1, 2
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM p UNION SELECT dst AS node FROM p
),
cnt AS (SELECT count(*) AS n FROM nodes),
h0 AS (SELECT node, 1.0 / (SELECT n FROM cnt) AS hub FROM nodes),
{joined}
SELECT h.node, h.hub, a.authority
FROM h{n} h JOIN a{n} a USING (node)
"""


def conv_topics_sql(sf: float) -> str:
    """Dominant-community conversation labeling (mirror of
    rank.conversation_topics): the entity_communities recursive closure
    builds the same community map, then per-conversation argmax with
    (n DESC, community ASC) tie-break."""
    from joern_spark.operators.rank import COMMUNITY_MIN_CONVS

    key = NORM.format(x="m.surface")
    return f"""
WITH RECURSIVE t AS (SELECT * FROM {t_src(sf)}),
m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2 HAVING count(*) >= {COMMUNITY_MIN_CONVS}
),
sym AS MATERIALIZED (
  SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
),
reach(n, mm) AS (
    SELECT DISTINCT a AS n, a AS mm FROM sym
    UNION
    SELECT r.n, s.b AS mm FROM reach r JOIN sym s ON s.a = r.mm
),
cmap AS MATERIALIZED (
  SELECT n AS entity_key, min(mm) AS community FROM reach GROUP BY n
),
counts AS (
  SELECT m.conv_id, c.community, count(*) AS n
  FROM m JOIN cmap c ON {key} = c.entity_key
  GROUP BY 1, 2
)
SELECT conv_id, community AS topic, n::BIGINT AS n_topic_mentions FROM (
  SELECT conv_id, community, n,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY n DESC, community ASC) AS rn
  FROM counts
) WHERE rn = 1
"""


def edge_churn_sql(sf: float) -> str:
    """KG edge-growth curve (mirror of rank.comention_edge_churn):
    identical capped key sets, per-conversation min-ts day, per-pair
    earliest day, per-day new-edge counts."""
    key = NORM.format(x="m.surface")
    return f"""
WITH t AS (SELECT * FROM {t_src(sf)}),
m AS ({mentions_sql(sf)}),
{pc_capped(key)},
cd AS (SELECT conv_id, date_trunc('day', min(ts)) AS day
       FROM t GROUP BY 1),
pd AS (
  SELECT x.k AS a, y.k AS b, min(cd.day) AS day
  FROM pc x JOIN pc y ON x.conv_id = y.conv_id AND x.k < y.k
  JOIN cd ON cd.conv_id = x.conv_id
  GROUP BY 1, 2
)
SELECT day, count(*)::BIGINT AS n_new_pairs FROM pd GROUP BY 1
"""


def community_density_sql(sf: float) -> str:
    """Internal edge density per entity community (mirror of
    rank.community_density): the communities closure, intra-community
    edge counts, identical 2E/(n(n−1)) expression, singletons
    excluded."""
    from joern_spark.operators.rank import COMMUNITY_MIN_CONVS

    key = NORM.format(x="m.surface")
    return f"""
WITH RECURSIVE t AS (SELECT * FROM {t_src(sf)}),
m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2 HAVING count(*) >= {COMMUNITY_MIN_CONVS}
),
sym AS MATERIALIZED (
  SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
),
reach(n, mm) AS (
    SELECT DISTINCT a AS n, a AS mm FROM sym
    UNION
    SELECT r.n, s.b AS mm FROM reach r JOIN sym s ON s.a = r.mm
),
cmap AS MATERIALIZED (
  SELECT n AS entity_key, min(mm) AS community FROM reach GROUP BY n
),
sizes AS (SELECT community, count(*) AS size FROM cmap GROUP BY 1),
intra AS (
  SELECT ca.community, count(*) AS n_edges
  FROM e JOIN cmap ca ON ca.entity_key = e.a
       JOIN cmap cb ON cb.entity_key = e.b
  WHERE ca.community = cb.community
  GROUP BY 1
)
SELECT i.community, s.size::BIGINT AS n_nodes, i.n_edges::BIGINT AS n_edges,
       2.0 * i.n_edges::DOUBLE / (s.size::DOUBLE * (s.size::DOUBLE - 1.0))
         AS density
FROM intra i JOIN sizes s USING (community)
WHERE s.size > 1
"""


def graph_summary_sql(sf: float) -> str:
    """One-row co-mention graph summary (mirror of rank.graph_summary):
    same degree aggregate, 2E/N as the identical double division, and
    the same (0, 0, 0, 0.0) row for an empty graph."""
    key = NORM.format(x="m.surface")
    return f"""
WITH m AS ({mentions_sql(sf)}),
{pc_capped(key)},
e AS (
  SELECT x.k AS a, y.k AS b FROM pc x JOIN pc y
  ON x.conv_id = y.conv_id AND x.k < y.k
  GROUP BY 1, 2
),
sym AS (SELECT a AS src FROM e UNION ALL SELECT b AS src FROM e),
deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
ne AS (SELECT count(*) AS n FROM e)
SELECT count(*)::BIGINT AS n_nodes,
       (SELECT n FROM ne)::BIGINT AS n_edges,
       coalesce(max(deg), 0)::BIGINT AS max_degree,
       CASE WHEN count(*) = 0 THEN 0.0::DOUBLE
            ELSE 2.0 * (SELECT n FROM ne)::DOUBLE / count(*)::DOUBLE
       END AS mean_degree
FROM deg
"""
