"""Seeded input generator for the benchmark.

Everything the program under test sees is made here from ``--seed``:
the TPC-H-shaped tables, the read cycle, the write sessions (with the
answers their reads must return), the near-duplicate corpus (with the
pairs that were injected) and the event-file split of the stream.  Pure
NumPy/pyarrow, no Spark, so the self-tests can check determinism without
a JVM.

Sizes are fixed; only values depend on the seed, so two seeds cost about
the same to run.
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_WORDS = ["small", "red", "large", "blue", "steel", "brass", "green",
              "ring", "widget", "bolt", "gear", "nut", "valve", "spring"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("key agg row scan slow fast table value part hash batch merge spark "
         "line sort window query order group customer stream filter join "
         "column data small big the a index node edge graph path label "
         "match store plan cost shard cache lock page log tree heap").split()
LANGS = ["en", "de", "fr", "es", "zh"]

# Row counts: TPC-H-shaped at about a fiftieth of sf1, small enough that a
# closed-loop run completes dozens of queries in a few seconds on 4 cores.
SIZES = {"customer": 3000, "supplier": 200, "part": 4000, "orders": 30000,
         "events": 12000, "documents": 1200, "embeddings": 800,
         "users": 200}
EMB_DIM = 64
DATE0 = dt.datetime(1995, 1, 1)
EVENT0 = dt.datetime(2024, 1, 1)


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per purpose, so adding draws to one input
    does not shift the values of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919
                                  + len(stream)])


def _days(r: np.random.Generator, n: int, span: int) -> np.ndarray:
    return (np.datetime64(DATE0, "us")
            + r.integers(0, span, n).astype("timedelta64[D]"))


def make_tables(seed: int) -> Dict[str, pa.Table]:
    r = rng(seed, "tables")
    n_c, n_s, n_p, n_o = (SIZES[k] for k in
                          ("customer", "supplier", "part", "orders"))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_c)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_s), 2)})
    w = np.array(PART_WORDS)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(w[r.integers(0, 7, n_p)], " "),
                              w[r.integers(7, len(w), n_p)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_p).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_p)],
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_p) % 1000 * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": r.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_o)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_o), 2),
        "o_orderdate": _days(r, n_o, 2400),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_o)]})
    # 1..7 lines per order in a seeded order: the line count is fixed
    lines = r.permutation(np.resize(np.arange(1, 8), n_o))
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    n_l = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = r.integers(1, 51, n_l).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": r.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": pa.array(np.arange(n_l) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n_l), 2),
        "l_discount": np.round(r.integers(0, 11, n_l) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_l) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_l)],
        "l_shipdate": _days(r, n_l, 2500)})
    return t


def make_events(seed: int) -> pa.Table:
    r = rng(seed, "events")
    n = SIZES["events"]
    # ~30 days of events; users are skewed so sessions have several events
    secs = np.sort(r.uniform(0, 30 * 86400, n))
    users = np.minimum(r.zipf(1.3, n) - 1, SIZES["users"] - 1)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        # zone-aware, so a stream reads it as TIMESTAMP (watermarkable)
        "ts": pa.array(np.datetime64(EVENT0, "us")
                       + (secs * 1e6).astype("timedelta64[us]"),
                       pa.timestamp("us", tz="UTC")),
        "user_id": users.astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.uniform(0.01, 500, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


def _doc_text(r: np.random.Generator) -> str:
    return " ".join(np.array(VOCAB)[r.integers(0, len(VOCAB),
                                               r.integers(30, 70))])


def make_documents(seed: int) -> pa.Table:
    r = rng(seed, "documents")
    n = SIZES["documents"]
    texts = [_doc_text(r) for _ in range(n)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in r.integers(0, 20, n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def make_embeddings(seed: int) -> pa.Table:
    r = rng(seed, "embeddings")
    n = SIZES["embeddings"]
    centers = r.normal(0, 1, (8, EMB_DIM))
    label = r.integers(0, 8, n)
    vec = (centers[label] + r.normal(0, 0.6, (n, EMB_DIM))).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_tables(tables: Dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---- read cycle ------------------------------------------------------------

# One cycle of the read mix, in order.  Composition and order are the same
# for every seed and every cycle (only parameters vary), so runs with
# different seeds, or with more cycles, measure the same mix of work.
READ_CYCLE = ["point", "hop3", "agg", "join", "subquery", "path"]

READ_TEMPLATES = {
    "point": "MATCH (c:Customer {custkey: $ck})-[:PLACED]->(o:Order) "
             "RETURN o.orderkey AS okey, o.totalprice AS price "
             "ORDER BY okey",
    "hop3": "MATCH (c:Customer {custkey: $ck})-[:PLACED]->(o:Order)"
            "-[l:CONTAINS]->(p:Part) "
            "RETURN p.type AS type, count(*) AS n, "
            "sum(l.quantity) AS qty ORDER BY type",
    "agg": "MATCH ()-[l:CONTAINS]->() WHERE l.shipdate <= datetime($day) "
           "RETURN l.returnflag AS rf, l.linestatus AS ls, "
           "sum(l.quantity) AS qty, count(*) AS n ORDER BY rf, ls",
    "join": "MATCH (c:Customer {mktsegment: $seg})-[:PLACED]->(o:Order)"
            "-[l:CONTAINS]->(:Part) "
            "WHERE o.orderdate < datetime($day) "
            "AND l.shipdate > datetime($day) "
            "RETURN o.orderkey AS okey, "
            "sum(l.extendedprice * (1 - l.discount)) AS revenue "
            "ORDER BY revenue DESC, okey LIMIT 10",
    "subquery": "MATCH (c:Customer) WHERE c.acctbal > $bal AND EXISTS "
                "{ (c)-[:PLACED]->(:Order {orderpriority: $prio}) } "
                "RETURN count(*) AS n",
    "path": "MATCH (c:Customer {custkey: $ck}) "
            "MATCH p = shortestPath((c)-[*..3]->(r:Region)) "
            "RETURN r.name AS region, length(p) AS len",
}


def zipf_keys(r: np.random.Generator, n_keys: int, size: int,
              a: float = 1.3) -> np.ndarray:
    """Zipf-like draws over a seeded permutation of ``range(n_keys)``: a
    few hot keys repeat, most are drawn once."""
    perm = r.permutation(n_keys)
    ranks = np.minimum(r.zipf(a, size) - 1, n_keys - 1)
    return perm[ranks]


def _day(r: np.random.Generator, lo: int, hi: int) -> str:
    return str((DATE0 + dt.timedelta(days=int(r.integers(lo, hi)))).date())


def read_ops(seed: int, n_cycles: int, stream: str = "read-mix"
             ) -> List[Tuple[str, str, dict]]:
    """(class, template name, params) for ``n_cycles`` cycles.  Every
    cycle runs every template, whatever the seed.  ``stream`` names the
    draws (the warm-up uses its own, so it never repeats a measured key)."""
    r = rng(seed, stream)
    n = n_cycles * len(READ_CYCLE)
    keys = iter(zipf_keys(r, SIZES["customer"], n).tolist())
    ops = []
    for _ in range(n_cycles):
        for cls in READ_CYCLE:
            if cls in ("point", "hop3", "path"):
                params = {"ck": next(keys)}
            elif cls == "agg":
                params = {"day": _day(r, 300, 2400)}
            elif cls == "join":
                params = {"seg": SEGMENTS[r.integers(0, 5)],
                          "day": _day(r, 400, 2000)}
            else:
                params = {"bal": round(float(r.uniform(0, 8000)), 2),
                          "prio": PRIORITIES[r.integers(0, 5)]}
            ops.append((cls, cls, params))
    return ops


# ---- write sessions --------------------------------------------------------

TAGS = ["alpha", "beta", "gamma"]


WRITE_KINDS = ["set", "merge", "create"]


def write_sessions(seed: int, n_sessions: int, stream: str = "write-mix"
                   ) -> List[List[dict]]:
    """Each session is a list of statements applied to a fresh copy of
    the base graph: every write in ``WRITE_KINDS`` is followed by a read
    of what it wrote.  A read carries the answer it must return
    (``expect``), derived by replaying the session's write log in Python
    (``acct``: SET values, ``tags``: MERGE counts, ``notes``: CREATEd
    notes per customer); a write carries its expected effect counts."""
    r = rng(seed, stream)
    sessions = []
    for _ in range(n_sessions):
        acct: Dict[int, float] = {}
        tags: Dict[str, int] = {}
        notes: Dict[int, int] = {}
        stmts = []
        for seq, kind in enumerate(WRITE_KINDS):
            ck = int(r.integers(0, SIZES["customer"]))
            if kind == "set":
                acct[ck] = val = round(float(r.uniform(0, 9999)), 2)
                stmts.append({"kind": kind, "params": {"ck": ck, "v": val},
                              "effects": {"props_set": 1},
                              "text": "MATCH (c:Customer {custkey: $ck}) "
                                      "SET c.acctbal = $v"})
                stmts.append({"kind": "read", "params": {"ck": ck},
                              "text": "MATCH (c:Customer {custkey: $ck}) "
                                      "RETURN c.acctbal AS v",
                              "expect": [(val,)]})
            elif kind == "merge":
                tag = TAGS[int(r.integers(0, len(TAGS)))]
                stmts.append({"kind": kind, "params": {"tag": tag},
                              "effects": {"nodes_created":
                                          int(tag not in tags),
                                          "props_set": 1},
                              "text": "MERGE (t:Tag {name: $tag}) "
                                      "ON CREATE SET t.n = 1 "
                                      "ON MATCH SET t.n = t.n + 1"})
                tags[tag] = tags.get(tag, 0) + 1
                stmts.append({"kind": "read", "params": {},
                              "text": "MATCH (t:Tag) RETURN t.name AS name, "
                                      "t.n AS n ORDER BY name",
                              "expect": sorted(tags.items())})
            else:
                notes[ck] = notes.get(ck, 0) + 1
                stmts.append({"kind": kind, "params": {"ck": ck, "seq": seq},
                              "effects": {"nodes_created": 1,
                                          "rels_created": 1},
                              "text": "MATCH (c:Customer {custkey: $ck}) "
                                      "CREATE (c)-[:NOTED]->"
                                      "(:Note {seq: $seq})"})
                stmts.append({"kind": "read", "params": {"ck": ck},
                              "text": "MATCH (c:Customer {custkey: $ck})"
                                      "-[:NOTED]->(n:Note) "
                                      "RETURN count(*) AS n",
                              "expect": [(notes[ck],)]})
        sessions.append(stmts)
    return sessions


# ---- corpus ----------------------------------------------------------------


def inject_near_dups(seed: int, docs: pa.Table, n_dups: int
                     ) -> Tuple[pa.Table, List[Tuple[int, int]]]:
    """Append ``n_dups`` edited copies of seeded source documents.  Each
    copy replaces one token (or swaps two neighbours), so its word-3-gram
    Jaccard to the source stays high.  Returns the corpus and the
    (source id, copy id) pairs that were injected."""
    r = rng(seed, "corpus")
    texts = docs.column("text").to_pylist()
    n = len(texts)
    srcs = r.choice(n, n_dups, replace=False)
    new_texts, pairs = [], []
    for j, s in enumerate(srcs.tolist()):
        toks = texts[s].split()
        pos = int(r.integers(1, len(toks) - 1))
        if r.random() < 0.5:
            toks[pos] = VOCAB[int(r.integers(0, len(VOCAB)))]
        else:
            toks[pos], toks[pos + 1] = toks[pos + 1], toks[pos]
        new_texts.append(" ".join(toks))
        pairs.append((s, n + j))
    extra = pa.table({
        "doc_id": np.arange(n, n + n_dups, dtype=np.int64),
        "text": new_texts,
        "lang": docs.column("lang").take(pa.array(srcs)),
        "source": ["injected"] * n_dups,
        "n_chars": np.array([len(s) for s in new_texts], dtype=np.int64)})
    return pa.concat_tables([docs, extra]), pairs


def knn_queries(seed: int, emb: pa.Table, n: int) -> np.ndarray:
    r = rng(seed, "knn")
    base = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    q = base[r.choice(len(base), n, replace=False)] \
        + r.normal(0, 0.2, (n, EMB_DIM))
    return (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)


# ---- event stream ----------------------------------------------------------


def event_files(seed: int, events: pa.Table, n_files: int,
                max_skew: int = 8) -> List[np.ndarray]:
    """Split events into ``n_files`` arrival-ordered files.  Arrival order
    is event-time order perturbed by a seeded displacement of at most
    ``max_skew`` positions, so out-of-order arrival is bounded: events are
    216 s apart on average, so an event arrives about half an hour late
    at most, inside the 2-hour watermark of the session windows (an event
    later than the watermark is dropped, and the check would fail)."""
    r = rng(seed, "event-files")
    n = events.num_rows
    arrival = np.argsort(np.arange(n) + r.uniform(0, max_skew, n),
                         kind="stable")
    return np.array_split(arrival, n_files)
