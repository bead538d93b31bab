#!/usr/bin/env python3
"""Measure the traffic mix of the repo's bench fixture, which ``gen.py``
copies: event-type shares, values, keys, document lengths, vocabulary and
near-duplicate pairs.

    python3 perfbench/fixture_mix.py <dir holding events.parquet and documents.parquet>

TESTDATA.md describes the fixture (seed 42; gen.py's figures are from sf0.1).
Runs on DuckDB alone, in well under a minute.
"""

from __future__ import annotations

import os
import sys

import duckdb


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    events = os.path.join(argv[0], "events.parquet")
    docs = os.path.join(argv[0], "documents.parquet")
    con = duckdb.connect()

    def show(label: str, sql: str) -> None:
        print(f"{label}: {con.execute(sql).fetchall()}")

    show("events, users", f"SELECT count(*), count(DISTINCT user_id) FROM '{events}'")
    show("event_type shares", f"""
        SELECT event_type, round(count(*) / sum(count(*)) OVER (), 4)
        FROM '{events}' GROUP BY 1 ORDER BY 2 DESC""")
    show("events older than an earlier event_id", f"""
        SELECT count(*) FROM (
          SELECT ts, max(ts) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS seen
          FROM '{events}') WHERE ts < seen""")
    show("value min, max, p10/p50/p90", f"""
        SELECT min(value), max(value), quantile_cont(value, [0.1, 0.5, 0.9]) FROM '{events}'""")
    show("k min, max", f"""
        SELECT min(json_extract(props, '$.k')::INT), max(json_extract(props, '$.k')::INT)
        FROM '{events}'""")

    con.execute(f"""
        CREATE TABLE w AS SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM '{docs}'""")
    show("documents, words min/max, p10/p50/p90", """
        SELECT count(*), min(len(w)), max(len(w)), quantile_disc(len(w), [0.1, 0.5, 0.9]) FROM w""")
    show("vocabulary", "SELECT count(DISTINCT x) FROM (SELECT unnest(w) AS x FROM w)")
    con.execute("""
        CREATE TABLE sh AS SELECT DISTINCT doc_id, array_to_string(w[i:i + 2], ' ') AS s
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM w)""")
    con.execute("""
        CREATE TABLE pairs AS
        WITH n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        i AS (SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS k
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT x, y, k / (nx.n + ny.n - k) AS j
        FROM i JOIN n nx ON nx.doc_id = x JOIN n ny ON ny.doc_id = y""")
    show("pairs at 3-shingle Jaccard >= 0.5, Jaccard p10/p50/p90", """
        SELECT count(*), quantile_cont(j, [0.1, 0.5, 0.9]) FROM pairs WHERE j >= 0.5""")
    show("of those, pairs where one is the other plus one word at the end", """
        SELECT count(*) FROM pairs JOIN w a ON a.doc_id = x JOIN w b ON b.doc_id = y
        WHERE j >= 0.5 AND (a.w = b.w[:len(b.w) - 1] OR b.w = a.w[:len(a.w) - 1])""")
    show("exact duplicate texts", f"SELECT count(*) - count(DISTINCT text) FROM '{docs}'")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
