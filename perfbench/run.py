"""Benchmark entry point.

    python3 perfbench/run.py --workload build_bulk --seed 1 --seconds 10 --trace 0

Untraced runs (``--trace 0``) time one workload and print its end-to-end
metrics; traced runs (``--trace 1``) trace every layer the benchmark
covers and print the per-layer metrics. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

WORKLOADS = ("build_bulk", "kb_serve")
CORES = 4
MIN_BUILDS = 3  # timed builds per build_bulk run, however long they take

#: name -> unit, in report order
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    **{f"kg.{layer}.{m}": u
       for layer in ("documents", "doc_stats", "assets", "mentions",
                     "relations", "xref", "reconcile")
       for m, u in (("s", "s"), ("jobs", "count"), ("stages", "count"))},
    "kg.pipeline.self_s": "s",
    "kg.documents.partition_skew": "ratio",
    "kg.mentions.busy_cores": "cores",
    "kg.mentions.linked_share": "ratio",
    "kg.delta.apply_s": "s",
    "kg.delta.commit_s": "s",
    "kg.delta.reconcile_s": "s",
    "kg.delta.reconcile_jobs": "count",
    "kg.delta.canonicalize_s": "s",
    "kg.delta.jobs_per_batch": "count",
    "kg.delta.stages_per_batch": "count",
    "kg.delta.touched_share": "ratio",
    **{f"serving_http.{k}_ms": "ms" for k in ("item", "query", "search", "stubs")},
    **{f"serving.{f}_ms": "ms"
       for f in ("get_item", "item_facts", "name_search", "term_search")},
    "serving.jobs_per_request": "count",
    "serving.stages_per_request": "count",
    **{f"operators.dedup.{s}_s": "s" for s in ("shingles", "lsh", "verify", "cluster")},
    "operators.dedup.jobs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.max_component": "count",
    "trace.failed_tasks": "count",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}

class Run:
    """State of one benchmark process: counters, probes, notes."""

    def __init__(self, args):
        self.args = args
        self.t_start = time.perf_counter()
        self.work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.gates: dict[str, dict] = {}
        self.info: dict = {}

    def gate(self, name: str, result: dict) -> None:
        self.attempted += 1
        self.failed += 0 if result["ok"] else 1
        self.gates[name] = result

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# untraced workloads
# ---------------------------------------------------------------------------


def untraced_build(run: Run, spark, rss) -> dict:
    from perfbench import inputs, workloads as wl

    corpus_path = os.path.join(run.work, "corpus")
    inputs.write_corpus(spark, corpus_path, run.args.seed)
    corpus = spark.read.parquet(corpus_path)
    store = os.path.join(run.work, "assets")
    wl.build_once(spark, corpus, store)          # JVM + worker warm-up
    spark.catalog.clearCache()
    setup_s = run.elapsed()
    log("set-up done")

    times, res = [], None
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < run.args.seconds or len(times) < MIN_BUILDS:
        if res is not None:
            spark.catalog.clearCache()
        run.attempted += 1
        try:
            res, dt = wl.build_once(spark, corpus, store)
        except Exception:
            run.failed += 1
            log("build failed:\n" + traceback.format_exc())
            break
        times.append(dt)
    peak_rss_mb = rss.peak_mb  # before the gate's oracle and collect
    if not times:
        return {"setup_s": setup_s}
    log("measured")
    n_triples = res["triples"].count()
    run.gate("build_bulk", wl.build_gate(spark, res, corpus))
    p50 = statistics.median(times)
    run.info.update({"build.ops": len(times), "build.op_s": times,
                     "build.triples": n_triples,
                     "build.triples_per_s": n_triples / p50})
    return {"setup_s": setup_s, "op_p50_ms": p50 * 1000.0,
            "work_per_s": n_triples / p50, "peak_rss_mb": peak_rss_mb}


def untraced_serve(run: Run, spark, rss) -> dict:
    from perfbench import stats, workloads as wl

    tables = wl.serve_tables(spark, wl.seed_kb_items(spark))
    seq = wl.serve_requests(tables, run.args.seed)
    server = wl.Server(spark)
    try:
        wl.closed_loop(server, seq[-40:], 0, wl.SERVE_CLIENTS)  # warm-up
        setup_s = run.elapsed()
        log("set-up done")
        results, wall = wl.closed_loop(server, seq, run.args.seconds, wl.SERVE_CLIENTS)
        peak_rss_mb = rss.peak_mb  # before the gate collects the tables
        run.gate("kb_serve", wl.serve_gate(server, tables, seq))
    finally:
        server.close()
    ok = [lat for _k, lat, good in results if good]
    run.attempted += len(results)
    run.failed += len(results) - len(ok)
    if not ok:
        return {"setup_s": setup_s}
    tail = stats.tail(ok)
    run.info.update({
        "serve.requests": len(results), "serve.clients": wl.SERVE_CLIENTS,
        "serve.latency_p50_ms": statistics.median(ok) * 1000.0,
        "serve.latency_tail": None if tail is None else
        {"percentile": tail[0], "ms": tail[1] * 1000.0, "samples": len(ok)},
        "serve.requests_per_s": len(ok) / wall,
        "serve.by_endpoint_p50_ms": {
            k: statistics.median([lat for kk, lat, g in results if g and kk == k]) * 1000.0
            for k in sorted({r[0] for r in results if r[2]})},
    })
    return {"setup_s": setup_s, "op_p50_ms": statistics.median(ok) * 1000.0,
            "work_per_s": len(ok) / wall, "peak_rss_mb": peak_rss_mb}


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------


def layer_metrics(tracer, root, names) -> dict:
    out = {}
    for name in names:
        spans = tracer.named(f"kg.{name}", within=root)
        out[f"kg.{name}.s"] = sum(tracer.self_time(s) for s in spans)
        out[f"kg.{name}.jobs"] = sum(s.jobs for s in spans)
        out[f"kg.{name}.stages"] = sum(s.stages for s in spans)
    return out


def busy(spans) -> float:
    dur = sum(s.duration for s in spans)
    return sum((s.busy_cores or 0.0) * s.duration for s in spans) / dur if dur else 0.0


def traced(run: Run, spark, session_s: float) -> dict:
    from perfbench import inputs, workloads as wl
    from perfbench.trace import Tracer

    seed, w = run.args.seed, run.args.workload
    corpus_path = os.path.join(run.work, "corpus")
    inputs.write_corpus(spark, corpus_path, seed)
    corpus = spark.read.parquet(corpus_path)
    store = os.path.join(run.work, "assets")
    wl.build_once(spark, corpus, store)          # warm-up
    spark.catalog.clearCache()
    log("warm-up done")
    planted = wl.write_dedup_input(spark, corpus, seed, os.path.join(run.work, "dedup"))
    chain = wl.DeltaChain(spark, run.work, seed)
    log("dedup and delta inputs written")

    tracer = Tracer(spark.sparkContext)
    m: dict = {"session.start_s": session_s}

    # build layers
    res, build_root = wl.traced_build(spark, tracer, corpus, store)
    if w == "build_bulk":
        traced_wall = build_root.duration
    log("traced build done")

    # serving layers, over the traced build's tables
    tables = wl.serve_tables(spark, res["kb_items"])
    seq = wl.serve_requests(tables, seed)
    server = wl.Server(spark)
    try:
        wl.closed_loop(server, seq[-8:], 0, 1)  # warm-up
        if w == "kb_serve":
            _, untraced_wall = wl.closed_loop(server, seq[:wl.TRACE_REQUESTS], 0, 1)
        req_spans, results, traced_req_wall = wl.traced_requests(server, tracer, seq)
        run.gate("kb_serve", wl.serve_gate(server, tables, seq, per_kind=2))
    finally:
        server.close()
    run.attempted += len(results)
    run.failed += sum(1 for r in results if not r[2])
    if w == "kb_serve":
        traced_wall = traced_req_wall

    log("traced serving done")
    # operators.dedup
    dedup_stats, (dedup_root, clusters) = wl.traced_dedup(
        tracer, spark.read.parquet(os.path.join(run.work, "dedup")))
    run.gate("corpus_dedup", wl.dedup_gate(clusters, planted))

    log("traced dedup done")
    # kg.delta
    batch_roots, delta_rows, touched = [], 0, 0
    for path in chain.batch_paths:
        st, root = chain.apply(tracer, path)
        batch_roots.append(root)
        delta_rows += st["rows"]
        touched += st["touched"]
    run.gate("kb_delta", chain.gate())

    log("traced delta done")
    if w == "build_bulk":
        # the untraced twin of the traced build runs last, so the JVM is
        # at least as warm as it was for the traced one
        spark.catalog.clearCache()
        _, untraced_wall = wl.build_once(spark, corpus, store)
    time.sleep(1.0)  # let the listener bus deliver the last job events
    tracer.count_jobs()

    m.update(layer_metrics(tracer, build_root, (
        "documents", "doc_stats", "assets", "mentions", "relations", "xref", "reconcile")))
    m["kg.pipeline.self_s"] = tracer.self_time(build_root)
    m.update(wl.build_layer_stats(res))
    m["kg.mentions.busy_cores"] = busy(tracer.named("kg.mentions", within=build_root))

    nb = len(batch_roots)
    sub = [s for r in batch_roots for s in tracer.subtree(r)]
    m["kg.delta.apply_s"] = sum(s.duration for s in sub if s.name == "kg.delta.apply") / nb
    m["kg.delta.commit_s"] = sum(s.duration for s in sub if s.name == "kg.delta.commit") / nb
    rec = [s for s in sub if s.name == "kg.delta.reconcile"]
    m["kg.delta.reconcile_s"] = sum(tracer.self_time(s) for s in rec) / nb
    m["kg.delta.reconcile_jobs"] = sum(s.jobs for s in rec) / nb
    m["kg.delta.canonicalize_s"] = sum(
        tracer.self_time(s) for s in sub if s.name == "kg.delta.canonicalize") / nb
    m["kg.delta.jobs_per_batch"] = sum(s.jobs for s in sub) / nb
    m["kg.delta.stages_per_batch"] = sum(s.stages for s in sub) / nb
    m["kg.delta.touched_share"] = touched / delta_rows

    for kind in ("item", "query", "search", "stubs"):
        lat = [s.duration for s in req_spans if s.name == f"serving_http.{kind}"]
        m[f"serving_http.{kind}_ms"] = statistics.median(lat) * 1000.0 if lat else 0.0
    for fn in ("get_item", "item_facts", "name_search", "term_search"):
        lat = [s.duration for s in tracer.named(f"serving.{fn}")]
        m[f"serving.{fn}_ms"] = statistics.median(lat) * 1000.0 if lat else 0.0
    req_sub = [s for r in req_spans for s in tracer.subtree(r)]
    m["serving.jobs_per_request"] = sum(s.jobs for s in req_sub) / len(req_spans)
    m["serving.stages_per_request"] = sum(s.stages for s in req_sub) / len(req_spans)

    for stage in ("shingles", "lsh", "verify", "cluster"):
        m[f"operators.dedup.{stage}_s"] = sum(
            tracer.self_time(s) for s in tracer.named(f"operators.dedup.{stage}"))
    m["operators.dedup.jobs"] = tracer.inclusive_jobs(dedup_root)
    m.update(dedup_stats)

    m["trace.failed_tasks"] = sum(s.failed_tasks for s in tracer.spans)
    m["trace.overhead_s"] = traced_wall - untraced_wall
    m["trace.overhead_share"] = traced_wall / untraced_wall - 1.0

    report = {
        "workload": w, "seed": seed,
        "overhead": {"traced_s": traced_wall, "untraced_s": untraced_wall},
        "self_time_s": {
            name: sum(tracer.self_time(s) for s in tracer.named(name))
            for name in sorted({s.name for s in tracer.spans})},
        "spans": tracer.dump(),
    }
    log("gates and counts done")
    if w == "build_bulk":
        # north-rule scaling: the same input at local[1], same JVM
        from perfbench import host

        spark.stop()
        spark1 = host.start_session(ROOT, run.work, 1)
        _, t1 = wl.build_once(spark1, spark1.read.parquet(corpus_path),
                              os.path.join(run.work, "assets1"))
        report["scaling"] = {"t1_s": t1, "t4_s": untraced_wall,
                             "build.scaling_eff": (t1 / untraced_wall) / 4}
        run.info["build.scaling_eff"] = report["scaling"]["build.scaling_eff"]
        run.spark = spark1
    out = os.path.join(WORK, "traces", f"trace-{w}-seed{seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    run.info["trace_file"] = os.path.relpath(out, ROOT)
    run.info["self_time_s"] = {k: round(v, 4) for k, v in report["self_time_s"].items()}
    return m


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def preflight() -> str | None:
    """Why the program cannot run from this checkout, or None."""
    for mod in ("sling_spark", "pyspark", "tools.window_sentinel"):
        try:
            __import__(mod)
        except ImportError as e:
            return f"cannot import {mod}: {e}"
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    why = preflight()
    if why:
        log(why)
        return 2

    from perfbench import host

    probe_pre = host.window_probe()
    run = Run(args)  # set-up time counts from here
    os.makedirs(run.work, exist_ok=True)
    metrics: dict = {}
    try:
        with host.RssSampler() as rss:
            run.spark = host.start_session(ROOT, run.work, CORES, trace=bool(args.trace))
            session_s = run.elapsed()
            if args.trace:
                metrics = traced(run, run.spark, session_s)
            elif args.workload == "build_bulk":
                metrics = untraced_build(run, run.spark, rss)
            else:
                metrics = untraced_serve(run, run.spark, rss)
            host.stop_session(run.spark)
            run.spark = None
    except Exception:
        log("run failed:\n" + traceback.format_exc())
        run.attempted += 1
        run.failed += 1
    finally:
        if run.spark is not None:
            try:
                host.stop_session(run.spark)
            except Exception:
                log("session stop failed:\n" + traceback.format_exc())
        shutil.rmtree(run.work, ignore_errors=True)
    probe_post = host.window_probe()

    want = PER_LAYER if args.trace else END_TO_END
    missing = [k for k in want if k not in metrics]
    if missing:
        log(f"no value for {missing}")
        return 1
    correct = run.failed == 0 and all(g["ok"] for g in run.gates.values())
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops_failed_share": run.failed / max(run.attempted, 1),
        "gates": run.gates, "probe_before": probe_pre, "probe_after": probe_post,
        **run.info,
    }
    print(json.dumps(context, default=str))
    for name, unit in want.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in want.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
