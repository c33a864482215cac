"""Answer checks.  Each workload's outputs are compared with an answer
computed without Spark: DuckDB SQL for the Cypher reads and the event
stream, the generated write log for write sessions, and Python/NumPy for
the corpus pipeline."""

from __future__ import annotations

import math
import re
from typing import Dict, Iterable, List, Sequence, Tuple

import duckdb
import numpy as np

# DuckDB rendering of each read template in gen.READ_TEMPLATES, over the
# same generated tables; ``$name`` parameters bind by name.
READ_SQL = {
    "point": "SELECT o_orderkey, o_totalprice FROM orders "
             "WHERE o_custkey = $ck ORDER BY 1",
    "hop3": "SELECT p_type, count(*), sum(l_quantity) FROM orders "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "JOIN part ON p_partkey = l_partkey "
            "WHERE o_custkey = $ck GROUP BY 1 ORDER BY 1",
    "agg": "SELECT l_returnflag, l_linestatus, sum(l_quantity), count(*) "
           "FROM lineitem WHERE l_shipdate <= CAST($day AS TIMESTAMP) "
           "GROUP BY 1, 2 ORDER BY 1, 2",
    "join": "SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) "
            "AS rev FROM customer JOIN orders ON o_custkey = c_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "WHERE c_mktsegment = $seg "
            "AND o_orderdate < CAST($day AS TIMESTAMP) "
            "AND l_shipdate > CAST($day AS TIMESTAMP) "
            "GROUP BY 1 ORDER BY rev DESC, 1 LIMIT 10",
    "subquery": "SELECT count(*) FROM customer WHERE c_acctbal > $bal "
                "AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = "
                "c_custkey AND o_orderpriority = $prio)",
    # the only directed path of <= 3 hops from a customer to a region is
    # customer -> nation -> region
    "path": "SELECT r_name, 2 FROM customer "
            "JOIN nation ON n_nationkey = c_nationkey "
            "JOIN region ON r_regionkey = n_regionkey "
            "WHERE c_custkey = $ck",
}

SESSION_SQL = """
WITH e AS (
  SELECT user_id, ts, value, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
s AS (
  SELECT *, sum(CASE WHEN prev IS NULL OR ts >= prev + INTERVAL 10 MINUTE
                THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
  FROM e)
SELECT user_id, CAST(floor(epoch_us(min(ts)) / 1e6) AS BIGINT),
       count(*), round(sum(value), 2)
FROM s GROUP BY user_id, sid ORDER BY 1, 2
"""

SINK_SQL = ("SELECT user_id, count(*), sum(value) FROM events "
            "GROUP BY 1 ORDER BY 1")


def oracle(tables: Dict[str, object]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, tbl in tables.items():
        con.register(name, tbl)
    return con


def expected_read(con, template: str, params: dict) -> List[tuple]:
    sql = READ_SQL[template]
    used = {k: v for k, v in params.items() if f"${k}" in sql}
    return [tuple(r) for r in con.execute(sql, used).fetchall()]


def _same(a, b, rel: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)
    return a == b


def rows_match(got: Sequence[Sequence], want: Sequence[Sequence],
               rel: float = 1e-9) -> bool:
    """Row-by-row, value-by-value; floats within ``rel`` (sums may
    accumulate in another order)."""
    if len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(_same(x, y, rel) for x, y in zip(g, w))
               for g, w in zip(got, want))


def sorted_rows(rows: Iterable[Sequence]) -> List[tuple]:
    return sorted(tuple(r) for r in rows)


# ---- corpus ------------------------------------------------------------------

_SPLIT = re.compile(r"[^\w']+")


def tokens(text: str) -> List[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def shingle_set(text: str, k: int = 3) -> set:
    toks = tokens(text)
    return {tuple(toks[i:i + k]) for i in range(max(1, len(toks) - k + 1))}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 1.0


def components(pairs: Iterable[Tuple[int, int]]) -> Dict[int, int]:
    """id -> smallest id of its connected component (union-find)."""
    parent: Dict[int, int] = {}

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
    return {x: find(x) for x in list(parent)}


def knn_expected(queries: np.ndarray, corpus: np.ndarray, k: int
                 ) -> List[List[Tuple[int, float]]]:
    """Brute-force cosine top-k per query: (neighbor index, score)."""
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    scores = qn.astype(np.float64) @ cn.astype(np.float64).T
    out = []
    for row in scores:
        top = np.lexsort((np.arange(len(row)), -row))[:k]
        out.append([(int(i), float(row[i])) for i in top])
    return out


def knn_match(got: List[Tuple[int, float]], want: List[Tuple[int, float]],
              tol: float = 1e-5) -> bool:
    """Same neighbours, except that a neighbour may be swapped for another
    whose score ties the k-th within ``tol`` (scores are rounded)."""
    if len(got) != len(want):
        return False
    kth = want[-1][1]
    want_ids = {i for i, _ in want}
    for i, s in got:
        if i not in want_ids and abs(s - kth) > tol:
            return False
    return all(abs(a[1] - b[1]) <= tol for a, b in
               zip(sorted(got, key=lambda x: -x[1]), want))
