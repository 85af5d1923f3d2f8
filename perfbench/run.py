"""warp-pipes benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload {prep,serve,append} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The run starts a ``local[N]`` Spark session
(N = min(nproc, 4)), generates its inputs from ``--seed`` into a private
directory under ``.perfbench_work/``, builds and warms up, then repeats the
workload's operation until ``--seconds`` have passed (and at least the
workload's ``MIN_OPS`` operations have run) and checks the outputs. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``), CPU seconds of the run's process tree, or the
per-layer metrics (``--trace 1``). The line
before it (``perfbench-detail``) holds every named metric with its unit and
sample count, the checks, sizes and the host. Spans and the detail go to
``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CPUS = 4


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("prep", "serve", "append"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_mb": mem_kb // 1024,
            "python": platform.python_version()}


def prepare_env(work: str, cpus: int, driver_mem_mb: int) -> dict:
    """Everything the run writes goes under ``work``; Spark's Python
    workers import the repo through PYTHONPATH. Must run before pyspark
    starts its JVM."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "data", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb}m"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # every JVM, including spark-submit's launcher, keeps its temp files
    # (and no hsperfdata) inside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    return dirs


def start_spark(dirs: dict, workload: str):
    from warp_pipes_spark.session import get_spark

    # the session keeps its own JVM options; its Derby home is never
    # opened, since the session has no Hive catalog
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.local.dir": dirs["local"],
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort on a hung JVM
            proc.kill()
            proc.wait()


class Context:
    def __init__(self, spark, seed: int, tracer, dirs: dict):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.data_dir = dirs["data"]
        self.tmp_dir = dirs["tmp"]

    def clear_caches(self) -> None:
        from warp_pipes_spark.pipes.cache import clear_all_artifact_caches

        clear_all_artifact_caches()
        self.spark.catalog.clearCache()


def quantile(xs: list, q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "warp_pipes_spark")):
        print(f"perfbench: no warp_pipes_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    host = host_info()
    cpus = min(host["nproc"], MAX_CPUS)
    driver_mem_mb = min(2048, host["mem_mb"] // 6)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out", run_id)
    os.makedirs(out_dir, exist_ok=True)
    dirs = prepare_env(work, cpus, driver_mem_mb)
    sys.path.insert(0, ROOT)
    try:
        return run(args, host, cpus, driver_mem_mb, run_id, dirs, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, host, cpus, driver_mem_mb, run_id, dirs, out_dir) -> int:
    from perfbench import trace

    with trace.RssSampler() as rss:
        spark = start_spark(dirs, args.workload)
        try:
            t_session = time.perf_counter() - T_START
            report = measure(args, spark, dirs, run_id, out_dir, rss)
        finally:
            stop_spark(spark)
    report["setup"]["session_start_s"] = t_session
    report["setup_wall_s"] = sum(report["setup"].values())
    # median over operations of each operation's peak: the run's single
    # peak lands wherever G1 last grew the heap
    mem = {k: statistics.median(w[k] for w in rss.windows) / 1024.0
           for k in ("total", "jvm", "python")}
    report["peak_rss_mb"] = mem["total"]
    report["memory"] = {"jvm_rss_mb": mem["jvm"], "python_rss_mb": mem["python"],
                        "run_peak_mb": rss.peak_kb / 1024.0, "windows": len(rss.windows),
                        "jvm_peak_mb": rss.parts_kb["jvm"] / 1024.0,
                        "python_peak_mb": rss.parts_kb["python"] / 1024.0,
                        "max_processes": rss.parts_kb["processes"]}
    report["host"].update(host, cpus=cpus, driver_mem_mb=driver_mem_mb)
    return emit(args, report, out_dir)


def measure(args, spark, dirs, run_id, out_dir, rss) -> dict:
    from perfbench import trace
    from perfbench.workloads import LAYERS, WORKLOADS
    from warp_pipes_spark.pipes.cache import CacheManager, _wait_inflight_publishes

    tracer = trace.Tracer(spark, enabled=bool(args.trace), run_id=run_id)
    for layer, targets in LAYERS.items():
        for cls, method in targets:
            tracer.wrap(cls, method, layer)
    trace.count_cache(tracer, CacheManager)
    ctx = Context(spark, args.seed, tracer, dirs)
    wl = WORKLOADS[args.workload](ctx)

    # set-up, once: inputs, builds from wiped caches, then the warm-up of
    # the JIT and the Python workers
    ctx.clear_caches()
    setup = {}
    for phase in ("generate", "build", "warm"):
        tracer.label = "setup" if phase == "build" else phase
        t = time.perf_counter()
        with tracer.span(phase):
            getattr(wl, phase)()
        setup[f"{phase}_s"] = time.perf_counter() - t
    # everything this process and its children used from the start:
    # session start, generation, builds and warm-up
    setup_cpu_s = trace.tree_cpu_s()

    durations, cpu_s, op_items, cached, traced_flags, after = [], [], [], [], [], []
    items, errors, op_failures = 0, [], 0
    cpu0, jvm0 = trace.proc_cpu_times(), trace.jvm_counters(spark)
    # a workload may ask for a few operations more than fit a slow run, so
    # every run's medians cover the same positions after warm-up
    min_ops = getattr(wl, "MIN_OPS", 1)
    t_loop = time.perf_counter()
    i = 0
    while time.perf_counter() - t_loop < args.seconds or i < min_ops:
        # every third op is traced (0, 3, 6, ...), so a run with a single
        # op still traces it; a period of 3 against serve's repeat period
        # of 4 gives traced ops the stream's hit share
        traced = bool(args.trace) and i % 3 == 0
        tracer.active = traced
        tracer.label = f"op{i}"
        if hasattr(wl, "before_op"):
            wl.before_op()
        c = trace.tree_cpu_s()
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                n = wl.op(i, traced)
            durations.append(time.perf_counter() - t)
            cpu_s.append(trace.tree_cpu_s() - c)
            items += n
            op_items.append(n)
            cached.append(getattr(wl, "served_from_cache", False))
            rss.mark()
            traced_flags.append(traced)
            if hasattr(wl, "after_op"):
                after.append(wl.after_op(traced))
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            errors.append(traceback.format_exc())
            print(errors[-1], file=sys.stderr)
            op_failures += 1
        i += 1
    loop_s = time.perf_counter() - t_loop
    cpu1, jvm1 = trace.proc_cpu_times(), trace.jvm_counters(spark)
    _wait_inflight_publishes()  # write-behind publishes finish their spans
    tracer.active = bool(args.trace)
    attempted = i

    tracer.label = "check"
    t = time.perf_counter()
    try:
        results = wl.check()
    except Exception:  # noqa: BLE001 - a crashed check fails every check
        errors.append(traceback.format_exc())
        print(errors[-1], file=sys.stderr)
        results = {"check_crashed": False}
    check_s = time.perf_counter() - t
    if not durations:
        raise RuntimeError(f"all {attempted} operations failed: {errors[-1]}")
    # a raised op and a failed output check each count as one failed op
    failed = min(attempted, op_failures + sum(not ok for ok in results.values()))

    layer = {}
    if args.trace:
        tracer.label = "probe"
        tracer.active = False
        layer_probe = wl.probe()
        tracer.restore()
        tracer.count_jobs()
        self_s = tracer.self_times()
        for rec in tracer.spans:
            rec["self_s"] = self_s[rec["id"]]
        tracer.dump(os.path.join(out_dir, "spans.jsonl"))
        layer = layer_metrics(tracer, wl, layer_probe, durations, traced_flags)
    untraced = [d for d, tr in zip(durations, traced_flags) if not tr] or durations
    # CPU of the operations that ran the engine (serve: not a repeat
    # served from the results cache), so the median does not move with
    # how many repeats a run happened to hold
    engine_cpu = [c for c, tr, hit in zip(cpu_s, traced_flags, cached) if not (tr or hit)] or cpu_s
    # throughput over whole cycles of the stream's mix (serve: three fresh
    # batches and a repeat), so every run weighs repeats alike
    whole = len(cpu_s) - len(cpu_s) % getattr(wl, "CYCLE", 1) or len(cpu_s)
    n_ops = max(len(durations), 1)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "sizes": wl.sizes,
        "attempted": attempted,
        "failed": failed,
        "checks": results,
        "errors": [e.strip().splitlines()[-1] for e in errors],
        "setup": setup,
        "setup_cpu_s": setup_cpu_s,
        "check_s": check_s,
        "ops": untraced,
        "ops_cpu": engine_cpu,
        "cpu_ops": whole,
        "cpu_items": sum(op_items[:whole]),
        "cpu_time_s": sum(cpu_s[:whole]),
        "after_ops": after,
        "items": items,
        "loop_s": loop_s,
        "op_time_s": sum(durations),
        "detail": wl.detail,
        "jvm": {"gc_s": (jvm1[0] - jvm0[0]) / n_ops, "jit_s": (jvm1[1] - jvm0[1]) / n_ops},
        "host": {"steal_pct": trace.steal_pct(cpu0, cpu1),
                 "spark": spark.version,
                 "java": spark.sparkContext._jvm.System.getProperty("java.version")},
        "layer": layer,
    }


def layer_metrics(tracer, wl, probe, durations, traced_flags) -> dict:
    spans = tracer.spans
    op_labels = {s["label"] for s in spans if s["name"] == "op"}

    def per_op(names, key: str) -> float:
        """Median over ops (the setup when no op used the layer) of the
        per-op sum of ``key`` over spans named in ``names``."""
        tot: dict = {}
        for s in spans:
            if s["name"] in names:
                v = s["end"] - s["start"] if key == "dur" else s[key]
                tot.setdefault(s["label"], 0.0)
                tot[s["label"]] += v
        ops = [v for lbl, v in tot.items() if lbl in op_labels]
        vals = ops or [v for lbl, v in tot.items() if lbl == "setup"]
        return statistics.median(vals) if vals else 0.0

    by_id = {s["id"]: s for s in spans}

    cached = [s for s in spans if s["name"] == "search.cached" and s["label"] in op_labels]
    engine_ran = {s["parent"] for s in spans if s["name"] == "search.index"}
    bm25_setup = [s for s in spans if s["name"] == "search.bm25" and s["label"] == "setup"]
    append_ops: dict = {}
    for s in spans:
        if s["name"] in ("search.bm25.append", "search.bm25") and s["label"] in op_labels:
            append_ops.setdefault(s["label"], [0.0, False])
            append_ops[s["label"]][0] += s["end"] - s["start"]
            append_ops[s["label"]][1] |= s["name"] == "search.bm25.append"
    append_vals = [v for v, has in append_ops.values() if has]
    traced_d = [d for d, tr in zip(durations, traced_flags) if tr]
    plain_d = [d for d, tr in zip(durations, traced_flags) if not tr]
    c = tracer.totals(op_labels)
    n_traced = max(len(op_labels), 1)
    misses, hits = c.get("misses", 0), c.get("hits", 0)
    d = wl.detail
    if append_vals:  # append workload only, so not a listed metric
        d["search.bm25.append_s"] = statistics.median(append_vals)
    out = {
        "text.dedup.call_s": per_op({"text.dedup"}, "dur"),
        "text.dedup.jobs": per_op({"text.dedup"}, "jobs"),
        "text.dedup.exec_s": probe.get("text.dedup.exec_s", 0.0),
        "text.dedup.pairs_per_doc": d.get("pairs_per_doc", 0.0),
        "text.dedup.planted_recall": d.get("planted_recall", 0.0),
        "text.analysis.exec_s": probe.get("text.analysis.exec_s", 0.0),
        "pipes.tokenizer.exec_s": probe.get("pipes.tokenizer.exec_s", 0.0),
        "pipes.passages.exec_s": probe.get("pipes.passages.exec_s", 0.0),
        "text.packing.exec_s": probe.get("text.packing.exec_s", 0.0),
        "text.packing.fill_ratio": d.get("fill_ratio", 0.0),
        "pipes.predict.call_s": per_op({"pipes.predict"}, "dur"),
        "pipes.predict.exec_s": probe.get("pipes.predict.exec_s", 0.0),
        "pipes.cache.hits": hits / n_traced,
        "pipes.cache.misses": misses / n_traced,
        "pipes.cache.hit_ratio": hits / max(hits + misses, 1),
        "pipes.cache.bytes_written": c.get("bytes", 0) / n_traced,
        "search.cached.hit_ratio": (sum(s["id"] not in engine_ran for s in cached)
                                    / len(cached)) if cached else 0.0,
        "search.bm25.build_s": (bm25_setup[0]["end"] - bm25_setup[0]["start"]) if bm25_setup else 0.0,
        "search.bm25.call_s": per_op({"search.bm25"}, "dur"),
        "search.bm25.jobs": per_op({"search.bm25"}, "jobs"),
        "search.bm25.exec_s": probe.get("search.bm25.exec_s", 0.0),
        "search.dense.call_s": per_op({"search.dense"}, "dur"),
        "search.dense.exec_s": probe.get("search.dense.exec_s", 0.0),
        "search.index.fuse_exec_s": probe.get("search.index.fuse_exec_s", 0.0),
        "catalyst.plan_s": per_op({"catalyst.plan"}, "dur"),
        "spark.jobs": per_op({"op"}, "jobs"),
        "spark.tasks": per_op({"op"}, "tasks"),
        "trace.overhead_s": (statistics.median(traced_d) - statistics.median(plain_d))
        if traced_d and plain_d else 0.0,
    }
    return out


def emit(args, r: dict, out_dir: str) -> int:
    ops, after = r["ops"], r["after_ops"]
    p50 = statistics.median(ops)
    per_s = r["items"] / r["op_time_s"] if r["op_time_s"] > 0 else 0.0
    e2e = {
        "setup_s": (r["setup_cpu_s"], "s"),
        "op_cpu_s": (statistics.median(r["ops_cpu"]), "s"),
        "items_per_cpu_s": (r["cpu_items"] / r["cpu_time_s"] if r["cpu_time_s"] > 0 else 0.0, "1/s"),
    }
    n = len(ops)
    named = {
        "setup_s": {"value": r["setup_cpu_s"], "unit": "s"},
        "setup_wall_s": {"value": r["setup_wall_s"], "unit": "s"},
        "op_p50_s": {"value": p50, "unit": "s", "n": n},
        "items_per_s": {"value": per_s, "unit": "1/s", "n": n},
        "op_cpu_s": {"value": e2e["op_cpu_s"][0], "unit": "s", "n": len(r["ops_cpu"])},
        "items_per_cpu_s": {"value": e2e["items_per_cpu_s"][0], "unit": "1/s",
                            "n": r["cpu_ops"]},
        "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB", "n": r["memory"]["windows"]},
        "error_rate": {"value": r["failed"] / max(r["attempted"], 1),
                       "unit": "failed ops / attempted ops", "n": r["attempted"]},
    }
    w = args.workload
    if w == "prep":
        named["prep_docs_per_s"] = {"value": per_s, "unit": "docs/s", "n": n}
    elif w == "serve":
        named["index_build_s"] = {"value": r["detail"]["index_build_s"], "unit": "s", "n": 1}
        named["query_batch_p50_s"] = {"value": p50, "unit": "s", "n": n}
        named["query_batch_p90_s"] = {"value": quantile(ops, 0.9), "unit": "s", "n": n}
        named["queries_per_s"] = {"value": per_s, "unit": "queries/s", "n": n}
    else:
        named["append_batch_p50_s"] = {"value": p50, "unit": "s", "n": n}
        named["append_docs_per_s"] = {"value": per_s, "unit": "docs/s", "n": n}
        named["fresh_query_p50_s"] = {"value": statistics.median(after) if after else 0.0,
                                      "unit": "s", "n": len(after)}
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in r["layer"].items()}
        metrics["jvm.gc_s"] = {"value": r["jvm"]["gc_s"], "unit": "s"}
        metrics["jvm.jit_s"] = {"value": r["jvm"]["jit_s"], "unit": "s"}
        metrics["host.steal_pct"] = {"value": r["host"]["steal_pct"], "unit": "%"}
        metrics["jvm.rss_mb"] = {"value": r["memory"]["jvm_rss_mb"], "unit": "MB"}
        metrics["python.rss_mb"] = {"value": r["memory"]["python_rss_mb"], "unit": "MB"}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    detail = {k: r[k] for k in ("workload", "seed", "trace", "seconds", "sizes", "checks",
                                "check_s", "errors", "setup", "host", "jvm", "memory", "detail")}
    detail["named_metrics"] = named
    detail["op_samples_s"] = ops
    detail["op_cpu_samples_s"] = r["ops_cpu"]
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump({**detail, "metrics": metrics}, f, indent=1)
    print("perfbench-detail " + json.dumps(detail))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith((".jobs", ".tasks", ".hits", ".misses")):
        return "count"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
