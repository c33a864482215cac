"""The two workloads.  Each is a closed loop with one client: it issues
an operation, waits for the reply, and issues the next.  The loop runs
whole units (a read cycle plus a write session, or a corpus pass plus a
stream round), at least one, and stops at the first unit boundary after the
run's seconds.  Every unit is the same mix of work, so how many units a
run does never changes what is measured.

A workload is three functions: ``setup`` builds the inputs from the seed
(the runner times it several times), ``warm`` runs every template or
stage once on the last set-up, so first-run code generation stays out of
the timed loop, and ``measure`` runs the loop.  ``measure`` returns the
records the runner turns into metrics: operation latencies, the wall
time, and per-layer numbers.  Answers are checked after the timed loop.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import tracing as tr

N_DUPS = 120           # near-duplicates injected into the corpus
KNN_QUERIES, KNN_K = 8, 10
DEDUP_THRESHOLD, TRUE_PAIR_JACCARD = 0.8, 0.85
MIN_RECALL = 0.9
EVENT_FILES = 3
MAX_UNITS = 100        # inputs are generated for at most this many units


class Run:
    """State shared by one run: the session, the tracer, where to write,
    and the operations that failed."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark, self.tracer = spark, tracer
        self.work, self.seed, self.seconds = work, seed, seconds
        self.attempted = 0
        self.failures: List[str] = []

    def fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}"[:300])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warm(self, what: str, fn) -> None:
        """One unmeasured operation; a failure still counts."""
        self.attempted += 1
        try:
            fn()
        except Exception as e:
            self.fail(f"warm {what}", repr(e))

    def done(self, start: float) -> bool:
        return time.perf_counter() - start >= self.seconds


def _timed_action(run: Run, df, record: Dict[str, list]):
    """Collect ``df``.  Traced, Catalyst planning is forced first under
    its own span (the action then reuses the planned QueryExecution), and
    the executed plan's metrics are read after."""
    t = run.tracer
    if not t.enabled:
        return df.collect()
    with t.span("spark.plan"):
        df._jdf.queryExecution().executedPlan()
    with t.span("spark.exec", jobs=True) as ex:
        rows = df.collect()
    t0 = time.perf_counter()
    stats = tr.plan_stats(df)
    record["exec_tasks"].append(t.tasks_of(ex))
    record["exec_jobs"].append(ex["jobs"])
    record["op_stats"].append((t.op_id, stats))
    for k, v in stats.items():
        record[k].append(v)
    t.overhead_s += time.perf_counter() - t0
    return rows


# ---- graph: reads and write sessions on the TPC-H property graph -----------


def graph_setup(run: Run, rep: int) -> dict:
    from neo4j_spark.sources.tpch import tpch_graph

    t0 = time.perf_counter()
    tables = gen.make_tables(run.seed)
    data = run.path(f"tables-{rep}")
    gen.write_tables(tables, data)
    t1 = time.perf_counter()
    g = tpch_graph(run.spark, data)
    t2 = time.perf_counter()
    return {"tables": tables, "graph": g,
            "parts": {"input_gen_s": t1 - t0, "graph_build_s": t2 - t1}}


def graph_warm(run: Run, state: dict) -> None:
    """Every read template once on the graph, then every statement text of
    a write session once, in session order, on a copy.  Parameters come
    from draws of their own, so no measured operation is repeated."""
    from neo4j_spark.api import cypher

    seen = set()
    for _, tpl, params in gen.read_ops(run.seed, 1, stream="read-warm"):
        if tpl not in seen:
            seen.add(tpl)
            run.warm(tpl, lambda: cypher(run.spark, gen.READ_TEMPLATES[tpl],
                                         state["graph"], params).collect())
    g = state["graph"].copy()
    for st in gen.write_sessions(run.seed, 1, stream="write-warm")[0]:
        if st["text"] not in seen:
            seen.add(st["text"])
            run.warm(st["kind"], lambda: cypher(run.spark, st["text"], g,
                                                st["params"]).collect())


def _statement(run: Run, g, text: str, params: dict, rec: dict):
    """Run one Cypher statement as a measured operation: (latency, rows),
    or None if it raised (the failure is recorded)."""
    from neo4j_spark.api import cypher

    run.attempted += 1
    run.tracer.op_id = run.attempted
    t0 = time.perf_counter()
    try:
        with run.tracer.span("bench.op"):
            rows = _timed_action(run, cypher(run.spark, text, g, params), rec)
    except Exception as e:  # a failed statement is counted, not fatal
        run.fail(f"{text[:40]}... {params}", repr(e))
        return None
    return time.perf_counter() - t0, rows


def graph(run: Run, state: dict) -> dict:
    """Units of one read cycle on the base graph (every template of
    ``gen.READ_CYCLE``, fresh parameters each time) then one write session
    on a fresh copy of it (``gen.write_sessions``).  An operation is one
    Cypher statement."""
    t, base = run.tracer, state["graph"]
    cycle = len(gen.READ_CYCLE)
    reads = gen.read_ops(run.seed, MAX_UNITS)
    sessions = gen.write_sessions(run.seed, MAX_UNITS)
    lat, by_class, by_kind = [], defaultdict(list), defaultdict(list)
    got_reads, got_writes = [], []
    rec: Dict[str, list] = defaultdict(list)
    units = 0
    start = time.perf_counter()
    while units < MAX_UNITS and not (units and run.done(start)):
        for cls, tpl, params in reads[units * cycle:(units + 1) * cycle]:
            out = _statement(run, base, gen.READ_TEMPLATES[tpl], params, rec)
            if out is None:
                continue
            lat.append(out[0])
            by_class[cls].append(out[0])
            rec["op_class"].append((t.op_id, cls))
            got_reads.append((tpl, params, [tuple(r) for r in out[1]]))
        g = base.copy()
        for st in sessions[units]:
            out = _statement(run, g, st["text"], st["params"], rec)
            if out is None:
                continue
            lat.append(out[0])
            by_kind["read" if st["kind"] == "read" else "write"].append(out[0])
            if t.enabled and st["kind"] != "read":
                t0 = time.perf_counter()
                rec["frame_plan_nodes"].append(sum(
                    tr.logical_nodes(f) for f in
                    [*g.node_frames.values(), *g.rel_frames.values()]))
                t.overhead_s += time.perf_counter() - t0
            got_writes.append((st, [r.asDict() for r in out[1]]))
        units += 1
    wall = time.perf_counter() - start
    t.op_id = None
    con = check.oracle(state["tables"])
    for tpl, params, rows in got_reads:
        want = check.expected_read(con, tpl, params)
        if not check.rows_match(rows, want):
            run.fail(f"{tpl} {params}", f"got {rows[:3]} want {want[:3]}")
    for st, rows in got_writes:
        if st["kind"] == "read":
            want = st["expect"]
            ok = check.rows_match([tuple(r.values()) for r in rows], want)
        else:
            want = st["effects"]
            ok = len(rows) == 1 and all(
                rows[0].get(k) == v for k, v in want.items())
        if not ok:
            run.fail(f"{st['kind']} {st['params']}",
                     f"got {rows[:3]} want {want}")
    return {"lat": lat, "wall": wall, "ops": len(lat), "rec": rec,
            "by_class": by_class, "by_kind": by_kind, "units": units}


# ---- pipeline: corpus pass + event stream ------------------------------------


def pipeline_setup(run: Run, rep: int) -> dict:
    """Corpus (documents + injected near-duplicates, embeddings, k-NN
    query vectors) and event files, written and opened as frames."""
    t0 = time.perf_counter()
    docs, injected = gen.inject_near_dups(
        run.seed, gen.make_documents(run.seed), N_DUPS)
    emb = gen.make_embeddings(run.seed)
    qv = gen.knn_queries(run.seed, emb, KNN_QUERIES)
    queries = pa.table({
        "vec_id": np.arange(KNN_QUERIES, dtype=np.int64),
        "embedding": pa.array(list(qv), pa.list_(pa.float32()))})
    d = run.path(f"corpus-{rep}")
    gen.write_tables({"documents": docs, "embeddings": emb,
                      "queries": queries}, d)
    events = gen.make_events(run.seed)
    ev_dir = run.path(f"events-{rep}")
    os.makedirs(ev_dir)
    for i, idx in enumerate(gen.event_files(run.seed, events, EVENT_FILES)):
        pq.write_table(events.take(pa.array(idx)),
                       os.path.join(ev_dir, f"part-{i:05d}.parquet"))
    t1 = time.perf_counter()
    sp = run.spark
    df = sp.read.parquet(os.path.join(d, "documents.parquet"))
    emb_df = sp.read.parquet(os.path.join(d, "embeddings.parquet"))
    q_df = sp.read.parquet(os.path.join(d, "queries.parquet"))
    schema = sp.read.parquet(ev_dir).schema
    t2 = time.perf_counter()
    return {"docs": docs, "injected": injected, "emb": emb, "qv": qv,
            "df": df, "emb_df": emb_df, "q_df": q_df,
            "events": events, "ev_dir": ev_dir, "schema": schema,
            "parts": {"input_gen_s": t1 - t0, "graph_build_s": t2 - t1}}


def pipeline_warm(run: Run, state: dict) -> None:
    """Every corpus stage once, then a stream round over the first event
    file alone."""
    out: dict = {}
    for name, fn in _corpus_stages(run, state):
        run.warm(name, lambda: out.__setitem__(name, fn(out)))
    run.spark.catalog.clearCache()
    ev_dir = run.path("events-warm")
    os.makedirs(ev_dir)
    shutil.copy(os.path.join(state["ev_dir"], "part-00000.parquet"), ev_dir)
    run.warm("stream round", lambda: _stream_round(run, state, "warm",
                                                   ev_dir))


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _corpus_stages(run: Run, state: dict):
    from pyspark.sql import functions as F

    from neo4j_spark.ml.dedup import (distinct_count_by, keep_canonical,
                                      minhash_dedup_pairs)
    from neo4j_spark.ml.sampling import hash_split
    from neo4j_spark.ml.similarity import knn_join_bruteforce
    from neo4j_spark.ml.text import document_stats

    df = state["df"]

    def pairs_frame(out):
        return run.spark.createDataFrame(
            [(r[0], r[1]) for r in out["minhash"]], "id_a long, id_b long")

    return [
        ("stats", lambda p: document_stats(df).agg(
            F.count(F.lit(1)), F.sum("n_tokens")).collect()),
        ("exact_dedup", lambda p: distinct_count_by(
            df, ["lang"], "text").collect()),
        ("minhash", lambda p: minhash_dedup_pairs(
            df, "doc_id", "text", threshold=DEDUP_THRESHOLD).collect()),
        ("keep", lambda p: keep_canonical(df, pairs_frame(p)).count()),
        ("split", lambda p: hash_split(df, "doc_id", SPLIT_WEIGHTS,
                                       seed=run.seed)
         .groupBy("split").count().collect()),
        ("knn", lambda p: knn_join_bruteforce(
            state["q_df"], state["emb_df"], k=KNN_K).collect()),
    ]


def _stream_round(run: Run, state: dict, tag: str, ev_dir: str):
    """Drain the event files in ``ev_dir``, one per trigger, through both
    streaming queries.  Returns their progress reports, the sink and the name of the
    memory table holding the session windows."""
    from neo4j_spark.streaming.upserts import (ParquetGraphSink,
                                               stream_graph_upserts)
    from neo4j_spark.streaming.windows import session_windows

    sp = run.spark
    reader = (sp.readStream.schema(state["schema"])
              .option("maxFilesPerTrigger", 1))
    sink = ParquetGraphSink(sp, run.path(f"sink-{tag}"))
    q1 = stream_graph_upserts(reader.parquet(ev_dir), sink,
                              run.path(f"ckpt-up-{tag}"))
    q1.awaitTermination()
    name = f"sessions_{tag}"
    q2 = (session_windows(reader.parquet(ev_dir)).writeStream
          .format("memory").queryName(name).outputMode("complete")
          .option("checkpointLocation", run.path(f"ckpt-win-{tag}"))
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    return q1.recentProgress, q2.recentProgress, sink, name


def pipeline(run: Run, state: dict) -> dict:
    """Cycles of one corpus pass (six stages) then one stream round
    (every event file through the upsert sink and the session windows).
    An operation is a stage or a micro-batch."""
    t = run.tracer
    stages = _corpus_stages(run, state)
    lat, by_stage, passes, rounds, batches = [], defaultdict(list), [], [], []
    stream_s, docs_done = 0.0, 0
    rec: Dict[str, list] = defaultdict(list)
    cands, saved = [], []
    if t.enabled:
        # capture the candidate frame minhash_dedup_pairs builds, to count
        # LSH candidates against verified pairs afterwards
        from neo4j_spark.ml import dedup

        def capturing(orig):
            def capture(*a, **k):
                cands.append(orig(*a, **k))
                return cands[-1]
            return capture
        saved = [tr.patch(dedup, "minhash_lsh_candidates", capturing)]
    start = time.perf_counter()
    try:
        while not passes or not run.done(start):
            out = {}
            for name, fn in stages:
                run.attempted += 1
                t.op_id = run.attempted
                t0 = time.perf_counter()
                try:
                    with t.span("ml." + name, jobs=True):
                        out[name] = fn(out)
                except Exception as e:
                    run.fail(f"pass {len(passes)} {name}", repr(e))
                    break
                el = time.perf_counter() - t0
                lat.append(el)
                by_stage[name].append(el)
            passes.append(out)
            if len(out) == len(stages):
                docs_done += state["docs"].num_rows
            if t.enabled and cands:
                t0 = time.perf_counter()
                rec["lsh_candidates"].append(cands[-1].count())
                t.overhead_s += time.perf_counter() - t0
            run.spark.catalog.clearCache()

            run.attempted += 1
            t.op_id = run.attempted
            tag = f"r{len(passes)}"
            t0 = time.perf_counter()
            try:
                with t.span("stream.round"):
                    p1, p2, sink, name = _stream_round(run, state, tag,
                                                       state["ev_dir"])
            except Exception as e:
                run.fail(f"round {tag}", repr(e))
                continue
            stream_s += time.perf_counter() - t0
            rounds.append((sink, name))
            for prog in (*p1, *p2):
                if prog["numInputRows"] == 0:
                    continue
                dur = prog["durationMs"]
                batches.append(dur["triggerExecution"] / 1000.0)
                rec["trigger_ms"].append(dur["triggerExecution"])
                rec["add_batch_ms"].append(dur.get("addBatch", 0))
                rec["query_planning_ms"].append(dur.get("queryPlanning", 0))
                rec["wal_commit_ms"].append(dur.get("walCommit", 0))
                rec["commit_offsets_ms"].append(dur.get("commitOffsets", 0))
                rec["state_rows"].append(sum(
                    s["numRowsTotal"] for s in prog.get("stateOperators", [])))
    finally:
        tr.restore(saved)
    wall = time.perf_counter() - start
    t.op_id = None
    recall = _check_corpus(run, state, passes)
    _check_stream(run, state, rounds, rec)
    rec["verified_pairs"] = [len(p.get("minhash") or []) for p in passes]
    events_done = 2 * state["events"].num_rows * len(rounds)
    # a layer whose every operation failed reads 0, and its failures are
    # in run.failures
    return {"lat": lat + batches, "wall": wall, "ops": len(lat) + len(batches),
            "rec": rec, "by_stage": by_stage, "batches": batches,
            "units": len(passes), "records": docs_done + events_done,
            "docs_per_s": docs_done / sum(lat) if lat else 0.0,
            "events_per_s": events_done / stream_s if stream_s else 0.0,
            "recall": recall}


def _check_corpus(run: Run, state: dict, passes: List[dict]) -> float:
    texts = state["docs"].column("text").to_pylist()
    langs = state["docs"].column("lang").to_pylist()
    n_docs = len(texts)
    n_tokens = sum(len(check.tokens(s)) for s in texts)
    distinct = defaultdict(set)
    for s, lang in zip(texts, langs):
        distinct[lang].add(s)
    sets = {}

    def shingles(i):
        if i not in sets:
            sets[i] = check.shingle_set(texts[i])
        return sets[i]

    truth = {p for p in state["injected"]
             if check.jaccard(shingles(p[0]), shingles(p[1]))
             >= TRUE_PAIR_JACCARD}
    want_knn = check.knn_expected(
        state["qv"], np.stack(state["emb"].column("embedding")
                              .to_numpy(zero_copy_only=False)), KNN_K)
    recalls = []
    for n, p in enumerate(passes):
        def bad(stage, why):
            run.fail(f"pass {n} {stage}", why)

        if p.get("stats") is not None and \
                tuple(p["stats"][0]) != (n_docs, n_tokens):
            bad("stats", f"got {tuple(p['stats'][0])} want "
                f"{(n_docs, n_tokens)}")
        if p.get("exact_dedup") is not None and dict(
                (r[0], r[1]) for r in p["exact_dedup"]) != \
                {k: len(v) for k, v in distinct.items()}:
            bad("exact_dedup", "distinct counts differ")
        if p.get("minhash") is None:
            continue
        found = {(r[0], r[1]) for r in p["minhash"]}
        wrong = [q for q in found if check.jaccard(
            shingles(q[0]), shingles(q[1])) < DEDUP_THRESHOLD - 1e-9]
        if wrong:
            bad("minhash", f"pairs below threshold {wrong[:3]}")
        recall = len(found & truth) / len(truth) if truth else 1.0
        recalls.append(recall)
        if recall < MIN_RECALL:
            bad("minhash", f"recall {recall:.3f} < {MIN_RECALL}")
        comp = check.components(found)
        if p.get("keep") is not None and \
                p["keep"] != n_docs - (len(comp) - len(set(comp.values()))):
            bad("keep", f"kept {p['keep']}")
        if p.get("split") is not None and (
                sum(r["count"] for r in p["split"]) != n_docs
                or {r["split"] for r in p["split"]} != set(SPLIT_WEIGHTS)):
            bad("split", f"got {[tuple(r) for r in p['split']]}")
        if p.get("knn") is not None:
            by_q = defaultdict(list)
            for r in p["knn"]:
                by_q[r["query_id"]].append((r["neighbor_id"], r["score"]))
            for qi, want in enumerate(want_knn):
                if not check.knn_match(by_q.get(qi, []), want):
                    bad("knn", f"query {qi} neighbours differ")
                    break
    return float(np.median(recalls)) if recalls else 0.0


def _check_stream(run: Run, state: dict, rounds: list, rec: dict) -> None:
    con = check.oracle({"events": state["events"]})
    want_sink = [tuple(r) for r in con.execute(check.SINK_SQL).fetchall()]
    want_win = [tuple(r) for r in con.execute(check.SESSION_SQL).fetchall()]
    for n, (sink, name) in enumerate(rounds):
        got = check.sorted_rows(sink.read().collect())
        rec["sink_rows"].append(len(got))
        if not check.rows_match(got, want_sink):
            run.fail(f"round {n} sink", f"got {got[:2]} want {want_sink[:2]}")
        got = check.sorted_rows(run.spark.sql(f"SELECT * FROM {name}")
                                .collect())
        if not check.rows_match(got, want_win):
            run.fail(f"round {n} sessions",
                     f"{len(got)} rows, want {len(want_win)}")
