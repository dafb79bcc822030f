"""Answer checks, run untimed once per input.

Graph answers are checked against DuckDB running the registry's oracle
SQL over the same generated edges: the registry's ``edges`` CTE is
swapped for the generated file and its id cutoff for the one the call
uses, keeping each program's strictness and third-hop semantics.
The stream check reconciles the store with what was folded into it.
"""

from __future__ import annotations

import re

import duckdb

from twitter_social_triangle_mapreduce_spark.registry import _EDGES_CTE, GRAPH_ORACLES

_CUTOFF = re.compile(r"\b(src|dst) (<=?) (\d+)\b")


def oracle_sql(name: str, edges_sql: str, max_id: int | None) -> str:
    """The registry oracle ``name`` over ``edges_sql`` with cutoff ``max_id``
    (None: the oracle must have no cutoff). Raises if the registry text
    no longer has the shape this substitution relies on."""
    sql = GRAPH_ORACLES[name]
    if _EDGES_CTE not in sql:
        raise ValueError(f"oracle {name!r} no longer derives edges with the registry CTE")
    sql = sql.replace(_EDGES_CTE, f"WITH edges AS ({edges_sql})")
    if max_id is None:
        if _CUTOFF.search(sql):
            raise ValueError(f"oracle {name!r} has a cutoff but none was given")
        return sql
    sql, n = _CUTOFF.subn(lambda m: f"{m[1]} {m[2]} {int(max_id)}", sql)
    if n != 2:
        raise ValueError(f"oracle {name!r}: expected one two-sided cutoff, found {n} bounds")
    return sql


def csv_edges_sql(path: str) -> str:
    return (
        f"SELECT column0::BIGINT AS src, column1::BIGINT AS dst FROM read_csv("
        f"'{path}', header=false, columns={{'column0': 'BIGINT', 'column1': 'BIGINT'}})"
    )


def parquet_edges_sql(path: str) -> str:
    return f"SELECT src, dst FROM read_parquet('{path}')"


class GraphOracle:
    """DuckDB over one generated edge file; answers cached per query."""

    def __init__(self, edges_sql: str) -> None:
        self.edges_sql = edges_sql
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        self._cache: dict = {}

    def scalar(self, name: str, max_id: int | None) -> int:
        key = (name, max_id)
        if key not in self._cache:
            row = self.con.execute(oracle_sql(name, self.edges_sql, max_id)).fetchone()
            self._cache[key] = int(row[0])
        return self._cache[key]

    def per_node_mismatches(self, name: str, max_id: int | None, tsv_glob: str) -> int:
        """Rows in the symmetric difference (with multiplicity) of the
        oracle's ``(node, paths)`` table and a ``node<TAB>paths`` output."""
        ref = f"SELECT node, paths FROM ({oracle_sql(name, self.edges_sql, max_id)})"
        got = (
            f"SELECT column0 AS node, column1 AS paths FROM read_csv('{tsv_glob}',"
            " delim='\t', header=false,"
            " columns={'column0': 'BIGINT', 'column1': 'BIGINT'})"
        )
        q = (
            f"SELECT (SELECT count(*) FROM ({ref} EXCEPT ALL {got}))"
            f" + (SELECT count(*) FROM ({got} EXCEPT ALL {ref}))"
        )
        return int(self.con.execute(q).fetchone()[0])

    def close(self) -> None:
        self.con.close()


def stream_mismatches(spark, snapshot: str, folded_ids: list[int]) -> list[str]:
    """The snapshot passes ``maintenance_check`` with no error or warning
    row, and the packed read-back holds exactly the folded documents."""
    from twitter_social_triangle_mapreduce_spark import streaming as S

    problems = []
    bad = [
        tuple(r) for r in S.maintenance_check(spark, snapshot).collect()
        if r["severity"] != "ok"
    ]
    if bad:
        problems.append(f"maintenance_check: {bad}")
    back = sorted(r[0] for r in S.read_packed_corpus(spark, snapshot).select("doc_id").collect())
    if back != sorted(folded_ids):
        problems.append(f"read-back holds {len(back)} docs, not the {len(folded_ids)} folded")
    return problems
