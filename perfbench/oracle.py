"""Correctness checks computed with DuckDB straight from the generated files.

Nothing here touches Spark. The CDC expectation restates the merge
contract in SQL: within one batch, the latest event per key wins by
(event time truncated to microseconds, source position). Across batches,
the winner of the last batch that touched a key decides the key. A winning
delete leaves no row (delete survivorship), whatever the event time of the
row it replaces, because the default merge has no timestamp guard.

The near-duplicate expectation re-derives the MinHash-LSH scheme from its
definition: word 3-shingles, k=8 MD5 families, 4 bands of 2, pairs sharing
a band key, exact Jaccard floored to 1e-6 and kept at >= 0.5.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_J = "json_extract_string(data, '$.{}')"


def _j(key: str) -> str:
    return _J.format(key)


#: column → (expected SQL over the bronze ``data``, normalising SQL over the
#: engine's column). Timestamps compare as epoch microseconds.
USER_STATE = {
    "user_id": (f"{_j('user_id')}::BIGINT", "user_id"),
    "event_type": (_j("event_type"), "event_type"),
    "value": (f"{_j('value')}::DOUBLE", "value"),
    "k": (f"{_j('k')}::INTEGER", "k"),
    "source_ts_ns_order": (f"{_j('__ts_ns')}::BIGINT // 1000", "epoch_us(source_ts_ns_order)"),
    "pos": (f"{_j('__source_pos')}::BIGINT", "pos"),
}


class CdcOracle:
    """Expected target state after any prefix of landed batches."""

    def __init__(self, files: list[str]):
        self.cols = USER_STATE
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        batches = pa.table({"file": files, "b": list(range(len(files)))})
        self.con.register("batches", batches)
        typed = ", ".join(f"{sql} AS {c}" for c, (sql, _) in self.cols.items())
        self.con.execute(
            f"""
            CREATE TABLE winners AS
            SELECT b, {_j('__op')} AS op, {typed}
            FROM read_parquet({files!r}, filename = true) JOIN batches ON filename = file
            QUALIFY row_number() OVER (
              PARTITION BY b, user_id ORDER BY source_ts_ns_order DESC, pos DESC) = 1
            """
        )

    def _state(self, upto: int) -> str:
        names = ", ".join(self.cols)
        return f"""
            SELECT {names} FROM (
              SELECT * FROM winners WHERE b <= {int(upto)}
              QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY b DESC) = 1)
            WHERE op <> 'd'"""

    def _norm(self, table: pa.Table) -> str:
        self.con.register("got_raw", table)
        return "SELECT " + ", ".join(f"{n} AS {c}" for c, (_, n) in self.cols.items()) + " FROM got_raw"

    def state_mismatches(self, got: pa.Table, upto: int) -> int:
        """Rows in the symmetric difference of actual and expected state."""
        return self._diff(self._state(upto), self._norm(got))

    def _diff(self, exp: str, act: str) -> int:
        return self.con.execute(
            f"""WITH e AS ({exp}), a AS ({act})
            SELECT (SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM a))
                 + (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e))"""
        ).fetchone()[0]

    def point_mismatches(self, upto: int, key: int, got: pa.Table) -> int:
        """Mismatching rows of a point read of ``key`` after batch ``upto``."""
        exp = f"SELECT * FROM ({self._state(upto)}) WHERE user_id = {int(key)}"
        return self._diff(exp, self._norm(got))


class DedupOracle:
    """Band keys and near-duplicate pairs of the landed documents."""

    def __init__(self, files: list[str], threshold: float):
        self.threshold = threshold
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        fams = ", ".join(
            f"min(('0x' || substr(md5('mh{f // 4}|' || sh), {1 + 8 * (f % 4)}, 8))::BIGINT) AS f{f}"
            for f in range(8)
        )
        bands = " UNION ALL ".join(
            f"SELECT doc_id, '{b}_' || f{2 * b} || '_' || f{2 * b + 1} AS band FROM sig"
            for b in range(4)
        )
        self.con.execute(
            f"""
            CREATE TABLE sh AS
            WITH words AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM read_parquet({files!r})),
            starts AS (
              SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM words)
            SELECT DISTINCT doc_id, CASE WHEN len(w) >= 3
                THEN array_to_string(w[i:i + 2], ' ') ELSE array_to_string(w, ' ') END AS sh
            FROM starts"""
        )
        self.con.execute(
            f"""
            CREATE TABLE bands AS
            WITH sig AS (SELECT doc_id, {fams} FROM sh GROUP BY doc_id) {bands}"""
        )

    def bands(self, doc_id: int) -> list[str]:
        rows = self.con.execute(
            "SELECT band FROM bands WHERE doc_id = ? ORDER BY band", [doc_id]
        ).fetchall()
        return [r[0] for r in rows]

    def pairs(self) -> set[tuple[int, int, float]]:
        """(smaller id, larger id, jaccard) for every near-duplicate pair."""
        rows = self.con.execute(
            f"""
            WITH cand AS (
              SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
              FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
            inter AS (
              SELECT c.x, c.y, count(*) AS n
              FROM cand c JOIN sh s1 ON s1.doc_id = c.x
              JOIN sh s2 ON s2.doc_id = c.y AND s1.sh = s2.sh
              GROUP BY c.x, c.y),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            scored AS (
              SELECT c.x, c.y,
                     floor(coalesce(i.n, 0)::DOUBLE / (sx.n + sy.n - coalesce(i.n, 0))
                           * 1000000.0) / 1000000.0 AS j
              FROM cand c LEFT JOIN inter i USING (x, y)
              JOIN sizes sx ON sx.doc_id = c.x JOIN sizes sy ON sy.doc_id = c.y)
            SELECT x, y, j FROM scored WHERE j >= {self.threshold}"""
        ).fetchall()
        return {(int(x), int(y), float(j)) for x, y, j in rows}
