"""Benchmark entry point.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  It generates the workload's inputs from
the seed, starts a local Spark session sized to the machine, sets the
workload up several times, warms every template or stage once, runs the
closed loop in whole units until ``--seconds`` have passed (at least one
unit), checks every answer, and prints as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` instruments
the program's layers and reports the per-layer metrics instead.  The line
before it is ``# info {...}``: machine, versions, sample counts, the
loop's throughput and latencies, the workload's own figures, and any
failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# Driver heap, fixed in size (-Xms = -Xmx).  The inputs are small, and a
# heap the run fills makes the driver's peak resident memory repeatable
# (a growable heap's size depends on when the collector expands it).
HEAP = "1g"


def _pct(values, q):
    """Percentile in ms, interpolated between the two nearest samples (a
    run has a dozen or so, too few for one order statistic to be steady)."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return (s[lo] + (s[hi] - s[lo]) * (pos - lo)) * 1e3


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """CPU time (user + system) of ``root`` and all its descendants: the
    Python client, the driver JVM it launched, and Spark's Python workers."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # after the command name: state, ppid, ..., utime (12), stime (13)
        procs[int(name)] = (int(fields[1]),
                            int(fields[11]) + int(fields[12]))
    kids = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        kids[ppid].append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids[pid])
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def start_spark(work: str, cores: int):
    """Local session through the program's own factory; the heap goes in
    through SPARK_DRIVER_MEM, and every scratch path points inside the
    run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from neo4j_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def instrument_targets():
    from neo4j_spark import api
    from neo4j_spark.cypher.translate import Translator
    from neo4j_spark.graph import PropertyGraph
    from neo4j_spark.operators import paths, writes
    from neo4j_spark.streaming.upserts import ParquetGraphSink

    return [
        (api, "preparse", "cypher.preparse", False),
        (api, "parse", "cypher.parse", False),
        (Translator, "translate", "cypher.translate", True),
        (paths, "var_expand", "paths.var_expand", True),
        (paths, "shortest_path", "paths.shortest_path", True),
        (paths, "nfa_shortest", "paths.nfa_shortest", True),
        (paths, "nfa_shortest_tracked", "paths.nfa_shortest", True),
        (writes, "apply_set", "writes.set", True),
        (writes, "apply_merge", "writes.merge", True),
        (writes, "apply_create", "writes.create", True),
        (PropertyGraph, "copy", "graph.copy", False),
        (ParquetGraphSink, "merge_batch", "sink.merge", False),
    ]


WORKLOADS = {
    # name: (setup, warm, measure, what an operation is)
    "graph": ("graph_setup", "graph_warm", "graph", "Cypher statement"),
    "pipeline": ("pipeline_setup", "pipeline_warm", "pipeline",
                 "stage or micro-batch"),
}
CLASSES = ("point", "hop3", "agg", "join", "subquery", "path")


def end_to_end(setup_s: float, cpu_ms: float, rss: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (cpu_ms, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }


def wall_clock(res: dict) -> dict:
    """Throughput and latency of the timed loop, as a client sees them."""
    return {
        "throughput_per_s": (res["throughput"], "1/s"),
        "latency_p50_ms": (_pct(res["lat"], 0.5), "ms"),
        "latency_p90_ms": (_pct(res["lat"], 0.9), "ms"),
    }


def per_class(spans: list, rec: dict) -> dict:
    """Per read class: median Cypher translate plus Catalyst planning time,
    Spark execution time and scanned bytes of an operation."""
    import tracing as tr

    compile_s, exec_s = defaultdict(float), defaultdict(float)
    for s in tr.outermost(spans, "cypher.translate"):
        compile_s[s["op"]] += s["end"] - s["start"]
    for s in spans:
        if s["name"] == "spark.plan":
            compile_s[s["op"]] += s["end"] - s["start"]
        elif s["name"] == "spark.exec":
            exec_s[s["op"]] += s["end"] - s["start"]
    scan = dict((i, st["scan_bytes"]) for i, st in rec.get("op_stats", []))
    ops = defaultdict(list)
    for i, cls in rec.get("op_class", []):
        ops[cls].append(i)
    m = {}
    for cls in CLASSES:
        ids = ops[cls]
        m[f"class.{cls}.compile_ms"] = (
            tr.median_ms([compile_s[i] for i in ids]), "ms")
        m[f"class.{cls}.exec_ms"] = (
            tr.median_ms([exec_s[i] for i in ids]), "ms")
        m[f"class.{cls}.scan_bytes"] = (
            float(statistics.median(scan.get(i, 0) for i in ids))
            if ids else 0.0, "bytes")
    return m


def per_layer(workload: str, run, res: dict, setups: list, warm_s: float,
              session_s: float, failed_frac: float) -> dict:
    """Every per-layer metric, whatever the workload: a layer the workload
    does not enter reads 0."""
    import tracing as tr

    t, rec = run.tracer, res["rec"]
    spans = t.spans
    med = statistics.median
    n_ops = max(1, res["ops"])

    def span_ms(name):
        return tr.median_ms([s["end"] - s["start"]
                             for s in tr.outermost(spans, name)])

    def jobs_per_op(prefix):
        roots = [s for s in spans if s["name"].startswith(prefix)
                 and s["op"] is not None]
        roots = [s for s in roots
                 if not any(r["id"] == s["parent"] for r in roots)]
        return sum(tr.subtree_jobs(spans, s) for s in roots) / n_ops

    def rec_med(key):
        return float(med(rec[key])) if rec.get(key) else 0.0

    translate = tr.outermost(spans, "cypher.translate")
    path_ops = {i for i, c in rec.get("op_class", []) if c == "path"}
    by = res.get("by_class", {})
    kinds = res.get("by_kind", {})
    stages = res.get("by_stage", {})
    verified = sum(rec.get("verified_pairs", []))
    cands = sum(rec.get("lsh_candidates", []))
    m = {
        **wall_clock(res),
        "cypher.parse_ms": (span_ms("cypher.parse"), "ms"),
        "cypher.translate_ms": (span_ms("cypher.translate"), "ms"),
        "cypher.translate_jobs": (
            sum(tr.subtree_jobs(spans, s) for s in translate) / n_ops,
            "count"),
        "paths.translate_ms": (tr.median_ms(
            [s["end"] - s["start"] for s in spans
             if s["name"].startswith("paths.")]), "ms"),
        "paths.exec_ms": (tr.median_ms(
            [s["end"] - s["start"] for s in spans
             if s["name"] == "spark.exec" and s["op"] in path_ops]), "ms"),
        "paths.jobs": (jobs_per_op("paths."), "count"),
        "spark.plan_ms": (span_ms("spark.plan"), "ms"),
        "spark.plan_nodes": (rec_med("nodes"), "count"),
        "spark.exec_ms": (span_ms("spark.exec"), "ms"),
        "spark.exec_jobs": (rec_med("exec_jobs"), "count"),
        "spark.exec_tasks": (rec_med("exec_tasks"), "count"),
        "spark.scan_rows": (rec_med("scan_rows"), "rows"),
        "spark.scan_bytes": (rec_med("scan_bytes"), "bytes"),
        "spark.shuffle_bytes": (rec_med("shuffle_bytes"), "bytes"),
        "graph.copy_ms": (span_ms("graph.copy"), "ms"),
        "graph.frame_plan_nodes": (rec_med("frame_plan_nodes"), "count"),
        "writes.set_ms": (span_ms("writes.set"), "ms"),
        "writes.merge_ms": (span_ms("writes.merge"), "ms"),
        "writes.create_ms": (span_ms("writes.create"), "ms"),
        "writes.jobs": (jobs_per_op("writes."), "count"),
        "write_p50_ms": (_pct(kinds.get("write", []), 0.5), "ms"),
        "write_p90_ms": (_pct(kinds.get("write", []), 0.9), "ms"),
        "read_after_write_p50_ms": (_pct(kinds.get("read", []), 0.5), "ms"),
        "read_after_write_p90_ms": (_pct(kinds.get("read", []), 0.9), "ms"),
        "queries_per_s": (res["throughput"] if workload == "graph"
                          else 0.0, "1/s"),
        "docs_per_s": (res.get("docs_per_s", 0.0), "1/s"),
        "events_per_s": (res.get("events_per_s", 0.0), "1/s"),
        "batch_p50_ms": (_pct(res.get("batches", []), 0.5), "ms"),
        "batch_p90_ms": (_pct(res.get("batches", []), 0.9), "ms"),
        "dedup_recall": (res.get("recall", 0.0), "frac"),
        "ml.lsh_candidates": (cands / max(1, len(rec.get("lsh_candidates",
                                                         []))), "count"),
        "ml.verified_pairs": (verified / max(1, len(rec.get(
            "verified_pairs", []))), "count"),
        "ml.candidate_yield": (verified / cands if cands else 0.0, "frac"),
        "stream.trigger_ms": (rec_med("trigger_ms"), "ms"),
        "stream.add_batch_ms": (rec_med("add_batch_ms"), "ms"),
        "stream.query_planning_ms": (rec_med("query_planning_ms"), "ms"),
        "stream.wal_commit_ms": (rec_med("wal_commit_ms"), "ms"),
        "stream.commit_offsets_ms": (rec_med("commit_offsets_ms"), "ms"),
        "stream.state_rows": (rec_med("state_rows"), "rows"),
        "sink.merge_ms": (span_ms("sink.merge"), "ms"),
        "sink.rows": (rec_med("sink_rows"), "rows"),
        "setup.session_s": (session_s, "s"),
        "failed_frac": (failed_frac, "frac"),
    }
    for stage in ("stats", "exact_dedup", "minhash", "keep",
                  "split", "knn"):
        m[f"ml.{stage}_s"] = (med(stages[stage]) if stages.get(stage)
                              else 0.0, "s")
    for part in ("input_gen_s", "graph_build_s"):
        m[f"setup.{part}"] = (med(p[part] for p in setups), "s")
    m["setup.warm_s"] = (warm_s, "s")
    for cls in CLASSES:
        m[f"class.{cls}.p50_ms"] = (_pct(by.get(cls, []), 0.5), "ms")
    m.update(per_class(spans, rec))
    self_s = tr.layer_self_seconds(spans)
    for layer in ("bench", "cypher", "paths", "writes", "graph", "catalyst",
                  "spark", "ml", "stream", "sink"):
        m[f"self.{layer}_ms"] = (self_s.get(layer, 0.0) * 1e3 / n_ops, "ms")
    m["trace.overhead_frac"] = (t.overhead_s / res["wall"], "frac")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import neo4j_spark.api  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    import tracing as tr
    import workloads as wl

    setup_name, warm_name, measure_name, op_unit = WORKLOADS[args.workload]
    work = os.path.join(os.getcwd(), ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    saved = []
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        tracer = tr.Tracer(spark.sparkContext) if args.trace else \
            tr.NullTracer()
        run = wl.Run(spark, tracer, work, args.seed, args.seconds)
        setup_fn = getattr(wl, setup_name)
        setups, totals = [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            state = setup_fn(run, rep)
            totals.append(time.perf_counter() - t0)
            setups.append(state["parts"])
        t0 = time.perf_counter()
        getattr(wl, warm_name)(run, state)
        warm_s = time.perf_counter() - t0
        # set-up is building the inputs (median of the repeats) plus one
        # warm-up, so work moved into either shows in setup_s
        setup_s = statistics.median(totals) + warm_s
        if args.trace:
            saved = tr.instrument(tracer, instrument_targets())
        steal0, total0 = _cpu_ticks()
        cpu0 = _tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        res = getattr(wl, measure_name)(run, state)
        check_s = time.perf_counter() - t0 - res["wall"]
        cpu_s = _tree_cpu_s(os.getpid()) - cpu0
        steal1, total1 = _cpu_ticks()
        tr.restore(saved)
        saved = []
        res["throughput"] = res.get("records", res["ops"]) / res["wall"]
        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(
            int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        info = {
            "workload": args.workload, "seed": args.seed,
            "cores": cores, "heap": HEAP,
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "operation": op_unit, "samples": len(res["lat"]),
            "units": res["units"], "wall_s": round(res["wall"], 3),
            "warm_s": round(warm_s, 3), "check_s": round(check_s, 3),
            **{k: v for k, (v, _) in wall_clock(res).items()},
            # share of CPU time the hypervisor gave to other guests while
            # the loop ran: a slow run with a high share was a busy host
            "host_steal_frac": round((steal1 - steal0)
                                     / max(1, total1 - total0), 4),
            "failed_frac": len(run.failures) / max(1, run.attempted),
            "failures": run.failures,
        }
        if args.trace:
            os.makedirs(os.path.join(os.getcwd(), ".perfbench", "traces"),
                        exist_ok=True)
            tracer.dump(os.path.join(
                os.getcwd(), ".perfbench", "traces",
                f"{args.workload}-{args.seed}.json"))
            metrics = per_layer(args.workload, run, res, setups, warm_s,
                                session_s, info["failed_frac"])
        else:
            metrics = end_to_end(setup_s, cpu_s * 1e3 / max(1, res["ops"]),
                                 rss)
            if args.workload == "graph":
                kinds = res["by_kind"]
                info.update({
                    "write_p50_ms": _pct(kinds["write"], 0.5),
                    "write_p90_ms": _pct(kinds["write"], 0.9),
                    "read_after_write_p50_ms": _pct(kinds["read"], 0.5),
                    "read_after_write_p90_ms": _pct(kinds["read"], 0.9)})
            if args.workload == "pipeline":
                info.update({
                    "docs_per_s": res["docs_per_s"],
                    "events_per_s": res["events_per_s"],
                    "batch_p50_ms": _pct(res["batches"], 0.5),
                    "batch_p90_ms": _pct(res["batches"], 0.9),
                    "dedup_recall": res["recall"]})
    finally:
        tr.restore(saved)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("# info " + json.dumps(info))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": min(len(run.failures), run.attempted),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
