"""DuckDB twins the benchmark checks Spark's outputs against.

* ``curate_oracle``: the registered ``oracle_sql()`` twins of the two timed
  curation queries, run once per seed over the generated documents table.
  The SQL text is executed unchanged, one CTE at a time into temp tables:
  DuckDB 1.0 inlines a CTE at every reference, which re-runs the simhash
  block and the recursive component walk once per downstream reference
  (measured: over a minute for the curate_corpus twin on 40 documents).
* ``scrub_rows`` / ``scrub_totals``: the ``scrub_sql`` twin of the PII /
  toxicity scrub chain, per row and summed over a whole clips input.
"""

from __future__ import annotations

import os
import re

import pandas as pd

CURATE_QUERIES = ("curate_corpus", "remove_shared_spans")


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def oracle_path(inp_dir: str, query: str) -> str:
    return os.path.join(inp_dir, f"oracle_{query}.pkl")


def _match_paren(sql: str, i: int) -> int:
    """Index of the ')' closing the '(' at sql[i], skipping quoted text."""
    depth, j = 0, i
    while j < len(sql):
        ch = sql[j]
        if ch == "'":
            j = sql.index("'", j + 1)
            while sql[j + 1:j + 2] == "'":  # '' is an escaped quote
                j = sql.index("'", j + 2)
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return j
        j += 1
    raise ValueError("unbalanced parentheses in oracle SQL")


def split_ctes(sql: str):
    """WITH [RECURSIVE] a AS (...), b(x, y) AS (...) SELECT ... →
    (recursive, [(name, column list, body)], final select)."""
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sql, re.I)
    if not m:
        return False, [], sql
    i, ctes = m.end(), []
    while True:
        h = re.compile(r"\s*(\w+)\s*(\([^)]*\))?\s+AS\s*(?=\()", re.I).match(sql, i)
        if not h:
            raise ValueError(f"cannot parse CTE at {sql[i:i + 40]!r}")
        end = _match_paren(sql, h.end())
        ctes.append((h.group(1), h.group(2) or "", sql[h.end() + 1:end]))
        i = end + 1
        c = re.compile(r"\s*,").match(sql, i)
        if not c:
            return bool(m.group(1)), ctes, sql[i:]
        i = c.end()


def run_materialized(con, sql: str) -> pd.DataFrame:
    """Result of ``sql`` with each of its CTEs evaluated once."""
    rec, ctes, final = split_ctes(sql)
    kw = "WITH RECURSIVE" if rec else "WITH"
    for name, cols, body in ctes:
        con.execute(f"CREATE TEMP TABLE {name} AS {kw} {name}{cols} AS "
                    f"({body}) SELECT * FROM {name}")
    return con.execute(final).df()


def curate_oracle(inp_dir: str) -> None:
    """Write each curation query's DuckDB result (pickled, so the pandas
    dtypes the canonicalizer compares survive unchanged)."""
    import __spark_entry__ as entrymod

    con = _duck()
    docs = os.path.join(inp_dir, "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    sql = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}
    for q in CURATE_QUERIES:
        cur = con.cursor()
        run_materialized(cur, sql[q]).to_pickle(oracle_path(inp_dir, q))
        cur.close()
    con.close()


def load_oracle(inp_dir: str, query: str) -> pd.DataFrame:
    return pd.read_pickle(oracle_path(inp_dir, query))


def scrub_rows(texts: "list[str]") -> "list[tuple[str, int]]":
    """(scrubbed_text, scrub_spans) of each text from the DuckDB twin."""
    from heliport_spark.functions.scrub import scrub_sql

    con = _duck()
    con.register("t", pd.DataFrame({"i": range(len(texts)), "x": texts}))
    txt, spans = scrub_sql("x")
    rows = con.execute(f"SELECT {txt}, {spans} FROM t ORDER BY i").fetchall()
    con.close()
    return [(r[0], int(r[1])) for r in rows]


def scrub_totals(clips_glob: str) -> "tuple[int, int]":
    """(sum of scrubbed_text lengths, sum of scrub spans) over all rows."""
    from heliport_spark.functions.scrub import scrub_sql

    con = _duck()
    txt, spans = scrub_sql("transcript")
    got = con.execute(
        f"SELECT sum(length({txt}))::BIGINT, sum({spans})::BIGINT "
        f"FROM read_parquet('{clips_glob}')"
    ).fetchone()
    con.close()
    return int(got[0]), int(got[1])
