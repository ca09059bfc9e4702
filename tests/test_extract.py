"""S2 extraction: JVM plan ≡ pandas-UDF plan, plus the F4 query-pack
positive/negative examples (the querydb codeExamples analog,
macros/.../Query.scala:20-21; DangerousFunctions.scala:28-51)."""

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from joern_spark.operators.extract import (
    RULES,
    extract_mentions,
    extract_mentions_pandas,
    extract_triples_raw,
)
from joern_spark.sources.transcripts import read_transcripts

from tests.conftest import rows_set


def test_pandas_udf_extractor_matches_jvm(spark):
    """The Arrow/pandas extractor and the JVM regexp plan are row-identical
    on the full sf0.001 corpus."""
    t = read_transcripts(spark, 0.001)
    jvm = rows_set(extract_mentions(t))
    pd_ = rows_set(extract_mentions_pandas(t))
    assert jvm == pd_
    assert len(jvm) > 1000


def test_concurrent_plan_construction_matches_serial(spark):
    """Extractor plans built from 8 threads at once equal the serial
    result row for row: each rule's regex reaches its capture-group
    columns as an argument, not through shared module state another
    thread could overwrite mid-build (concurrent job stages and server
    requests both build these plans)."""
    t = read_transcripts(spark, 0.001)
    extractors = (extract_mentions, extract_triples_raw)
    serial = {f: sorted(f(t).collect()) for f in extractors}
    n = 8
    start = threading.Barrier(n)

    def build(i):
        start.wait(timeout=60)
        # half the threads build in the other order, so both extractors
        # are under construction at the same moment
        order = extractors if i % 2 else extractors[::-1]
        return [(f, f(t)) for f in order]

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the builders as finely as possible
    try:
        with ThreadPoolExecutor(n) as pool:
            built = list(pool.map(build, range(n), timeout=300))
    finally:
        sys.setswitchinterval(switch)
    for plans in built:
        for f, df in plans:
            assert sorted(df.collect()) == serial[f], f.__name__
    assert all(serial.values())


# F4 query pack: per-rule positive / negative examples
PACK = [
    ("ask", ("user", "Please check the weather in Oslo.", None), True),
    ("ask", ("assistant", "Please check the weather in Oslo.", None), False),  # wrong role
    ("ask", ("user", "Please check the weather in oslo.", None), False),  # lowercase
    ("ask", ("user", "Please check the weather in Oslo", None), False),  # no period
    ("call", ("assistant", "Calling weather_api for Rome.", "weather_api"), True),
    ("call", ("tool", "Calling weather_api for Rome.", "weather_api"), False),
    ("call", ("assistant", "Calling Weather_API for Rome.", None), False),  # bad tool case
    ("result", ("tool", "Rome: -3C, snowy.", "weather_api"), True),
    ("result", ("tool", "Rome: 3.5C, snowy.", "weather_api"), False),  # non-integer
    ("result", ("user", "Rome: 3C, snowy.", None), False),
    ("alias", ("user", "Note that LA is also known as Los Angeles.", None), True),
    ("alias", ("assistant", "Note that LA is also known as Los Angeles.", None), False),
    ("rebind", ("user", "From now on use dev_db instead of prod_db.", None), True),
    ("rebind", ("user", "From now on use Dev_DB instead of prod_db.", None), False),
    ("db", ("assistant", "Querying prod_db for records about Lima.", "db_query"), True),
    ("dbcur", ("assistant", "Querying the current database for records about Lima.", "db_query"), True),
    ("db", ("assistant", "Querying the current database for records about Lima.", "db_query"), False),
    ("summary", ("assistant", "It is 18C and cloudy in Paris.", None), True),
]


@pytest.mark.parametrize("rule,row,should_match", PACK)
def test_query_pack(make_transcripts, rule, row, should_match):
    role, text, tool = row
    df = make_transcripts([("cx", 0, role, text, tool)])
    got = {r["rule"] for r in extract_mentions(df).collect()}
    if should_match:
        assert rule in got
    else:
        assert rule not in got


def test_rules_are_mutually_exclusive(make_transcripts):
    """Every generated template matches exactly one rule (first-match
    dispatch is total)."""
    import re

    from joern_spark.generator import generate_transcripts

    sample = generate_transcripts(2000)
    pats = [(r.name, re.compile(r.pattern), r.role) for r in RULES]
    for _, row in sample.iterrows():
        hits = [n for n, p, role in pats if p.match(row.text) and (role is None or role == row.role)]
        assert len(hits) == 1, (row.text, row.role, hits)


def test_literal_prefix_bracket_class():
    """'(' / '[' inside a character class are literals, so the top-level
    '|' after the class must void the prefix (a non-empty prefix would
    silently drop rows matching the right alternative)."""
    from joern_spark.operators.extract import _literal_prefix

    assert _literal_prefix(r"^ab[(]cd|xy") == ""
    assert _literal_prefix(r"^ab[)x]cd") == "ab"
    assert _literal_prefix(r"^a(b|c)d") == "a"
    assert _literal_prefix(r"^abc|def") == ""


# ------------------------------------------------------ loadable rule table


def test_rules_file_is_the_live_table():
    from joern_spark.operators import extract as E

    loaded = E.load_rules(E.DEFAULT_RULES_PATH)
    assert loaded == E.RULES
    assert {r.name for r in loaded} == {
        "ask", "call", "result", "summary", "alias", "rebind", "db", "dbcur"
    }


@pytest.mark.parametrize(
    "bad",
    [
        '[{"name": "x", "role": "user", "pattern": "no anchor"}]',
        '[{"name": "x", "role": "wizard", "pattern": "^a$"}]',
        '[{"name": "x", "pattern": "^a(b)$", "mentions": [["k", [["g", 2]]]]}]',
        '[{"name": "x", "pattern": "^a$"}, {"name": "x", "pattern": "^b$"}]',
        '[{"name": "x", "pattern": "^a$", "mentions": [["k", [["zap", 1]]]]}]',
        "[]",
    ],
    ids=["unanchored", "bad-role", "group-oob", "dup-name", "bad-piece", "empty"],
)
def test_parse_rules_rejects_malformed(bad):
    from joern_spark.operators.extract import parse_rules

    with pytest.raises(ValueError):
        parse_rules(bad)


def test_custom_rule_extends_both_engines(spark):
    """The loadable-grammar discipline: a NEW rule passed to the Spark
    extractor AND the oracle generator produces identical rows on both
    engines — extending the grammar never forks them."""
    import json as _json

    import duckdb
    import pandas as pd

    from joern_spark import oracle as OR
    from joern_spark.operators import extract as E

    custom = E.parse_rules(
        _json.dumps(
            [
                {
                    "name": "remind",
                    "role": "user",
                    "pattern": "^Remind me about ([A-Z][A-Za-z ]*)\\.$",
                    "mentions": [["location", [["g", 1]]]],
                    "triples": [[[["conv"]], "reminded_about", [["g", 1]]]],
                }
            ]
        )
    )
    rules = E.RULES + custom
    rows = [
        ("c1", 0, "user", "Please check the weather in Lima.", None, None),
        ("c1", 1, "user", "Remind me about Lima.", None, None),
        ("c2", 0, "user", "Remind me about Oslo.", None, None),
        ("c2", 1, "assistant", "Remind me about Oslo.", None, None),  # wrong role
    ]
    sdf = spark.createDataFrame(rows, E.TRANSCRIPT_COLS if hasattr(E, "TRANSCRIPT_COLS")
                                else "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz")
    got_m = {tuple(r) for r in E.extract_mentions(sdf, rules=rules).collect()}
    got_t = {tuple(r) for r in E.extract_triples_raw(sdf, rules=rules).collect()}

    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
    )
    m_sql = OR.mentions_sql(0.001, rules=rules).split("\n", 1)[1]
    t_sql = OR.triples_raw_sql(0.001, rules=rules).split("\n", 1)[1]
    ora_m = {tuple(r) for r in con.execute(m_sql).fetchall()}
    ora_t = {tuple(r) for r in con.execute(t_sql).fetchall()}
    assert got_m == ora_m
    assert got_t == ora_t
    assert ("c2", 0, "remind", "location", "Oslo") in got_m
    assert ("conv:c1", "reminded_about", "Lima", "c1", 1) in got_t
