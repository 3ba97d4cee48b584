"""Output checks against independent references on the same inputs.

Batch queries are compared with their DuckDB twins in the registry's
``ORACLES``, through the row normalizer of ``tools/check_correctness.py``.
``dedup_pipeline_e2e``'s twin closes the pair graph with a recursive CTE that
runs for minutes even on small corpora, so its reference mines the same
MinHash pairs in DuckDB and closes them with a union-find. The
``stream_serve`` reference is a DuckDB window over the generated events.
"""

from __future__ import annotations

import re

import duckdb

import check_correctness  # tools/, on sys.path (see run.py)
from makinage_spark.queries import ORACLES, _minhash_pairs_sql


def compare(scols, srows, rcols, rrows) -> str | None:
    """``None`` when both sides hold the same columns and the same multiset
    of rows, else a one-line description of the first difference."""
    if sorted(scols) != sorted(rcols):
        return f"columns {sorted(scols)} != {sorted(rcols)}"
    if len(srows) != len(rrows):
        return f"rows {len(srows)} != {len(rrows)}"
    got = check_correctness.df_multiset(list(scols), srows)
    want = check_correctness.df_multiset(list(rcols), rrows)
    if got != want:
        extra = list((got - want).items())[:2]
        missing = list((want - got).items())[:2]
        return f"values: unexpected {extra}, missing {missing}"
    return None


def _materialized(sql: str) -> str:
    """Evaluate the MinHash signature CTEs once instead of once per band."""
    return re.sub(r"\b(t|sig) AS \(", r"\1 AS MATERIALIZED (", sql, count=2)


def cluster_drop_list(pairs) -> set:
    """Ids that are not the minimum of their connected component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


class BatchReference:
    """DuckDB views over the generated tables; ``rows(name)`` gives the
    expected ``(columns, rows)`` of a registry query."""

    def __init__(self, tables_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in check_correctness.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")

    def _sql(self, sql: str):
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def rows(self, name: str):
        if name == "dedup_pipeline_e2e":
            return self._dedup_pipeline()
        return self._sql(ORACLES[name])

    def _dedup_pipeline(self):
        # same banding and bucket cap as the query; closure by union-find
        _, pairs = self._sql(_materialized(_minhash_pairs_sql(bucket_cap=50)))
        drop = cluster_drop_list(pairs)
        cols, docs = self._sql(
            "SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars FROM documents"
        )
        return cols, [r for r in docs if r[0] not in drop]

    def close(self):
        self.con.close()


STREAM_COLUMNS = ["user_id", "event_id", "running_total", "running_count", "pred"]


def stream_reference(events):
    """Expected predictions: per-user running cents sum and count in
    ``event_id`` order, ``pred = 2 * running_total``, one row per event."""
    con = duckdb.connect()
    try:
        con.register("ev", events)
        cur = con.execute(
            """
            SELECT user_id, event_id,
                   CAST(SUM(cents) OVER w AS DOUBLE) AS running_total,
                   COUNT(*) OVER w AS running_count,
                   2 * CAST(SUM(cents) OVER w AS DOUBLE) AS pred
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING)
            """
        )
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()
