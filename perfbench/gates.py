"""Correctness gates: program outputs against the DuckDB oracle
(`joern_spark.oracle`) over the same corpus. Run outside timed regions.
Each gate returns the number of mismatching rows (0 = pass), counted
both ways as multisets.
"""

from __future__ import annotations

from collections import Counter

import duckdb


def _diff(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))"
        f" + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))"
    ).fetchone()[0]


def build(out_root: str, sf: float) -> int:
    """s5_triples_final of a job run == oracle.triples_final_sql, as a
    set of facts and in support counts."""
    from joern_spark import oracle

    con = duckdb.connect()
    con.execute(
        "CREATE TEMP TABLE got AS SELECT subj, pred, obj, n_support FROM "
        f"read_parquet('{out_root}/s5_triples_final/*.parquet')"
    )
    con.execute(
        "CREATE TEMP TABLE want AS SELECT subj, pred, obj, n_support FROM "
        f"({oracle.triples_final_sql(sf)})"
    )
    return _diff(con, "got", "want")


def ingest(out_dir: str, cmap_dir: str, sf: float) -> int:
    """Streamed raw triples == oracle.triples_raw_sql and the committed
    canonical map == oracle.canonical_map_sql over every landed file."""
    from joern_spark import oracle

    con = duckdb.connect()
    cols = "subj, pred, obj, conv_id, turn_idx"
    con.execute(
        f"CREATE TEMP TABLE got_t AS SELECT {cols} FROM read_parquet('{out_dir}/*.parquet')"
    )
    con.execute(
        f"CREATE TEMP TABLE want_t AS SELECT {cols} FROM ({oracle.triples_raw_sql(sf)})"
    )
    con.execute(
        "CREATE TEMP TABLE got_m AS SELECT entity_key, canon FROM "
        f"read_parquet('{cmap_dir}/*.parquet')"
    )
    con.execute(
        "CREATE TEMP TABLE want_m AS SELECT entity_key, canon FROM "
        f"({oracle.canonical_map_sql(sf)})"
    )
    return _diff(con, "got_t", "want_t") + _diff(con, "got_m", "want_m")


def query(samples: list[tuple[str, dict, list[list]]], sf: float) -> int:
    """Server responses for facts_about / calls_of_tool == the same
    filter in DuckDB over the same corpus (rows compared as strings)."""
    from joern_spark import oracle

    con = duckdb.connect()
    con.execute(f"CREATE TEMP TABLE final AS {oracle.triples_final_sql(sf)}")
    con.execute(f"CREATE TEMP TABLE t AS SELECT * FROM {oracle.t_src(sf)}")
    bad = 0
    for starter, params, rows in samples:
        if starter == "facts_about":
            want = con.execute(
                "SELECT subj, pred, obj, n_support, first_seen FROM final "
                "WHERE subj = ? OR obj = ?",
                [params["key"], params["key"]],
            ).fetchall()
        else:
            want = con.execute(
                "SELECT conv_id, turn_idx, text FROM t "
                "WHERE tool = ? AND role = 'assistant'",
                [params["tool"]],
            ).fetchall()
        got = Counter(tuple(str(v) for v in r) for r in rows)
        exp = Counter(tuple(str(v) for v in r) for r in want)
        bad += sum(((got - exp) + (exp - got)).values())
    return bad
