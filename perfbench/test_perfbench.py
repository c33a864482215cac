"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import os
import sys
from types import SimpleNamespace

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _inputs(seed):
    tables = gen.make_tables(seed)
    corpus, pairs = gen.inject_near_dups(seed, gen.make_documents(seed), 20)
    events = gen.make_events(seed)
    return {
        "tables": tables,
        "events": events,
        "reads": gen.read_ops(seed, 3),
        "writes": gen.write_sessions(seed, 3),
        "corpus": corpus,
        "pairs": pairs,
        "knn": gen.knn_queries(seed, gen.make_embeddings(seed), 4),
        "files": gen.event_files(seed, events, 5),
    }


def _same(a, b):
    if a["reads"] != b["reads"] or a["writes"] != b["writes"]:
        return False
    if a["pairs"] != b["pairs"] or not a["corpus"].equals(b["corpus"]):
        return False
    if not np.array_equal(a["knn"], b["knn"]):
        return False
    if any(not np.array_equal(x, y) for x, y in zip(a["files"], b["files"])):
        return False
    return a["events"].equals(b["events"]) and all(
        a["tables"][k].equals(b["tables"][k]) for k in a["tables"])


def test_same_seed_same_inputs():
    assert _same(_inputs(7), _inputs(7))


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert a["reads"] != b["reads"]
    assert a["writes"] != b["writes"]
    assert a["pairs"] != b["pairs"]
    assert not a["tables"]["orders"].equals(b["tables"]["orders"])
    assert not np.array_equal(a["files"][0], b["files"][0])


def test_sizes_do_not_depend_on_seed():
    a, b = gen.make_tables(1), gen.make_tables(2)
    for name in ("customer", "orders", "lineitem"):
        assert a[name].num_rows == b[name].num_rows
    assert [t for _, t, _ in gen.read_ops(1, 4)] == \
        [t for _, t, _ in gen.read_ops(2, 4)]
    assert [[st["kind"] for st in s] for s in gen.write_sessions(1, 2)] == \
        [[st["kind"] for st in s] for s in gen.write_sessions(2, 2)]


def test_every_cycle_runs_every_template():
    n = len(gen.READ_CYCLE)
    ops = gen.read_ops(1, 3)
    cycles = [[t for _, t, _ in ops[i:i + n]] for i in range(0, len(ops), n)]
    assert cycles[0] == cycles[1] == cycles[2]
    assert set(cycles[0]) == set(gen.READ_TEMPLATES) == set(check.READ_SQL)
    warm = gen.read_ops(1, 1, stream="read-warm")
    assert [t for _, t, _ in warm] == cycles[0] and warm != ops[:n]


def test_read_checker_rejects_perturbed_result():
    tables = gen.make_tables(3)
    con = check.oracle(tables)
    for cls, tpl, params in gen.read_ops(3, 1):
        want = check.expected_read(con, tpl, params)
        assert check.rows_match(want, want)
        if not want:
            continue
        row = list(want[0])
        row[-1] = row[-1] + 1 if not isinstance(row[-1], str) else row[-1] + "x"
        assert not check.rows_match([tuple(row)] + want[1:], want)
        assert not check.rows_match(want[:-1], want)


def test_write_expectations_replay_the_log():
    for sess in gen.write_sessions(5, 4):
        merges = {}
        for st in sess:
            if st["kind"] == "merge":
                tag = st["params"]["tag"]
                assert st["effects"]["nodes_created"] == int(tag not in merges)
                merges[tag] = merges.get(tag, 0) + 1
            if st["kind"] == "read" and "Tag" in st["text"]:
                assert st["expect"] == sorted(merges.items())
                bumped = [(k, n + 1) for k, n in st["expect"]]
                assert not check.rows_match(bumped, st["expect"])


def test_injected_pairs_are_near_duplicates():
    corpus, pairs = gen.inject_near_dups(4, gen.make_documents(4), 30)
    texts = corpus.column("text").to_pylist()
    sims = [check.jaccard(check.shingle_set(texts[a]),
                          check.shingle_set(texts[b])) for a, b in pairs]
    assert min(sims) > 0.75 and max(sims) < 1.0


def test_knn_checker():
    rng = np.random.default_rng(0)
    corpus, queries = rng.normal(size=(50, 8)), rng.normal(size=(3, 8))
    want = check.knn_expected(queries, corpus, 5)
    assert all(check.knn_match(w, w) for w in want)
    wrong = [(want[0][0][0] + 1 if want[0][0][0] + 1 not in
              {i for i, _ in want[0]} else 49, want[0][0][1])] + want[0][1:]
    assert not check.knn_match(wrong, want[0])


def test_components():
    assert check.components([(3, 1), (1, 2), (7, 8)]) == \
        {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def _span(i, name, parent, start, end, jobs=0, op=0):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start": start, "end": end, "jobs": jobs}


def test_self_time_on_synthetic_tree():
    spans = [
        _span(0, "bench.op", None, 0.0, 10.0),
        _span(1, "cypher.translate", 0, 1.0, 4.0, jobs=2),
        _span(2, "paths.var_expand", 1, 2.0, 3.5, jobs=1),
        _span(3, "spark.plan", 0, 4.0, 5.0),
        _span(4, "spark.exec", 0, 5.0, 9.0, jobs=3),
        _span(5, "cypher.translate", 1, 3.5, 3.75),
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 1.25, 2: 1.5, 3: 1.0, 4: 4.0,
                                5: 0.25})
    layers = tracing.layer_self_seconds(spans)
    assert layers == pytest.approx({"bench": 2.0, "cypher": 1.5,
                                    "paths": 1.5, "catalyst": 1.0,
                                    "spark": 4.0})
    assert sum(layers.values()) == pytest.approx(10.0)
    assert [s["id"] for s in tracing.outermost(spans, "cypher.translate")] \
        == [1]
    assert tracing.subtree_jobs(spans, spans[1]) == 3
    assert tracing.subtree_jobs(spans, spans[0]) == 6


def test_null_tracer_records_nothing():
    t = tracing.NullTracer()
    with t.span("x", jobs=True) as rec:
        assert rec == {}
    assert not t.enabled


def test_callback_thread_span_nests_under_waiting_span():
    import threading

    t = tracing.Tracer()

    def merge():
        with t.span("sink.merge"):
            pass

    with t.span("stream.round") as outer:
        worker = threading.Thread(target=merge)
        worker.start()
        worker.join(timeout=10)
        assert not worker.is_alive()
    inner = next(s for s in t.spans if s["name"] == "sink.merge")
    assert inner["parent"] == outer["id"]


def test_failing_stages_are_reported_not_fatal(monkeypatch):
    def boom(*args):
        raise RuntimeError("boom")

    monkeypatch.setattr(workloads, "_corpus_stages",
                        lambda run, state: [("stats", boom), ("knn", boom)])
    monkeypatch.setattr(workloads, "_stream_round", boom)
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    run = workloads.Run(spark, tracing.NullTracer(), "", 1, 0.0)
    docs, pairs = gen.inject_near_dups(1, gen.make_documents(1), 5)
    emb = gen.make_embeddings(1)
    state = {"docs": docs, "injected": pairs, "emb": emb,
             "qv": gen.knn_queries(1, emb, 2), "events": gen.make_events(1),
             "ev_dir": ""}
    res = workloads.pipeline(run, state)
    assert res["units"] == 1 and res["lat"] == []
    assert res["docs_per_s"] == 0.0 and res["events_per_s"] == 0.0
    assert run.attempted == 2
    assert [f.split(":")[0] for f in run.failures] == \
        ["pass 0 stats", "round r1"]


def test_tree_cpu_counts_live_children():
    import subprocess

    import run

    burn = ("import sys, time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.5:\n"
            "    pass\n"
            "print('done', flush=True)\n"
            "sys.stdin.read()\n")
    before = run._tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn], text=True,
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline().strip() == "done"
        used = run._tree_cpu_s(os.getpid()) - before
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert used >= 0.4
