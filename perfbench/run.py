"""Benchmark entry point: run one workload in this (fresh) process.

    python3 perfbench/run.py --workload jx_mixed --seed 1 --seconds 10 --trace 0

Prints a human-readable report, then, as the LAST line of stdout, one
JSON object {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the per-layer metrics, from a run with every layer's
public functions wrapped in spans and the Spark event log enabled. The
traced run also writes its spans and full roll-up to
``.perfbench_out/<workload>-seed<seed>-trace1.json``; an untraced run
writes its report to ``...-trace0.json``.

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# the package must import before anything else starts: a checkout without
# it fails here, with no Spark process started and no result printed
import mysql_to_s3_spark  # noqa: E402,F401

_t = time.perf_counter()
import procstat  # noqa: E402
import workloads  # noqa: E402

# the benchmark's own imports (generators, numpy/pyarrow writers) are not
# part of the program's session start
BENCH_IMPORT_S = time.perf_counter() - _t
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# workload-specific names of the generic figures, printed alongside
ALIASES = {
    "jx_mixed": {"queries_per_s": "items_per_s", "query_p50_s": "op_p50_s", "query_p90_s": "op_p90_s"},
    "snowflake_extract": {"docs_per_s": "items_per_s", "batch_p50_s": "op_p50_s"},
    "corpus_prepare": {"docs_per_s": "items_per_s"},
}


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _spark(work: str, event_log: str | None):
    """Start the session through the package's own factory; benchmark-only
    settings travel as spark-submit conf."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from mysql_to_s3_spark.session import get_spark

    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while len(procstat.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while True:  # reap whatever was ours
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def _wrap_layers(tracer, inputs: dict) -> None:
    """Wrap each layer's public functions at every module that calls them."""
    from mysql_to_s3_spark import pipeline
    from mysql_to_s3_spark.functions import cachepool, compiler
    from mysql_to_s3_spark.operators import components, executor
    from mysql_to_s3_spark.plans import domains, formats, normalize
    from mysql_to_s3_spark.sinks import json_sink
    from mysql_to_s3_spark.sources import extract, registry, snowflake
    from mysql_to_s3_spark.streaming import counters
    from layertrace import dir_bytes

    def out_size(path_arg: int):
        def after(span, args, kwargs, out):
            b, n = dir_bytes(args[path_arg] if len(args) > path_arg else kwargs["path"])
            span.counts["bytes_written"] = b
            span.counts["files_written"] = n

        return after

    tracer.wrap_method(normalize.QueryOp, "wrap", "plans.wrap")
    tracer.wrap(executor, "run", "executor.run")
    tracer.wrap(compiler, "compile_expression", "compiler.compile_expression")
    tracer.wrap(domains, "compile_domain", "domains.compile_domain")
    tracer.wrap(registry, "load_table", "registry.load_table")
    tracer.wrap(formats, "format_table", "formats.format_table")
    tracer.wrap(formats, "format_cube", "formats.format_cube")
    tracer.wrap(snowflake, "build_plan", "snowflake.build_plan")
    tracer.wrap(snowflake, "doc_frame", "snowflake.doc_frame")
    tracer.wrap_method(extract.Extract, "run", "extract.run")
    tracer.wrap_method(extract.Extract, "batches", "extract.batches")
    tracer.wrap_method(extract.Extract, "ids_for_batch", "extract.ids_for_batch")
    tracer.wrap(counters, "batch_key_columns", "counters.batch_key_columns")
    tracer.wrap(json_sink, "write_json_lines", "json_sink.write_json_lines", after=out_size(1))
    tracer.wrap(pipeline, "prepare_corpus", "pipeline.prepare_corpus")
    tracer.wrap(components, "dedup_by_components", "components.dedup_by_components")
    tracer.wrap(pipeline, "write_training_shards", "pipeline.write_training_shards", after=out_size(1))
    tracer.wrap(cachepool, "cache_scoped", "cachepool.cache_scoped")
    inputs["tracer"] = tracer


def _persisted_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _out_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(OUT_DIR, f"{workload}-seed{seed}-trace{trace}.json")


def _untraced_wall_per_item(args) -> float:
    """Timed wall seconds per item of an untraced run of the same workload
    and seed, in a fresh process: the base of ``trace.overhead_frac``."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    subprocess.run(cmd, stdout=sys.stderr, check=True)
    with open(_out_path(args.workload, args.seed, 0)) as f:
        report = json.load(f)["report"]
    return report["timed_wall_s"] / max(report["items"], 1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = _bench_json()
    load_start = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    sampler = procstat.TreeSampler().start()
    spark = tracer = None
    try:
        spark = _spark(work, event_log)
        session_s = procstat.process_age_s() - BENCH_IMPORT_S
        wl = workloads.WORKLOADS[args.workload](spark)

        # staged once, cold, as a user stages: a repeat in this process
        # runs warm (about a quarter of the cold time on the extract)
        data_dir = os.path.join(work, "data")
        wl.generate(args.seed, data_dir)
        t = time.perf_counter()
        inputs = wl.stage(args.seed, data_dir)
        stage_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup(inputs)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + stage_s + warmup_s
        if args.trace:
            from layertrace import Tracer

            tracer = Tracer(spark, uuid.uuid4().hex[:12])
            _wrap_layers(tracer, inputs)

        with sampler.window() as win:
            res = wl.timed(inputs, args.seconds)
        if tracer is not None:
            persisted = _persisted_bytes(spark)
            # per-stage rows and cumulative executor CPU: each stage frame
            # of the corpus pass counted under its own span / job group
            if "prep" in res.extra:
                for name, sdf in res.extra["prep"].stages:
                    with tracer.span(f"pipeline.stage.{name}") as s:
                        s.counts["rows"] = sdf.count()
        bad = wl.check(inputs, res)
    finally:
        if tracer is not None:
            tracer.unwrap()
        if spark is not None:
            _stop_spark(spark)
        sampler.close()
        if sys.exc_info()[0] is not None:
            shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()[0]

    attempted = len(res.ops) + res.failed + len(res.extra.get("resume_s", []))
    failed = res.failed + bad
    ops = res.ops or [0.0]
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_item": (1000 * win.cpu_s / max(res.items, 1), "ms"),
    }
    report = {
        **e2e,
        "items_per_s": (res.items / res.wall_s if res.wall_s else 0.0, "1/s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_p90_s": (statistics.quantiles(ops, n=10, method="inclusive")[8] if len(ops) > 1 else ops[0], "s"),
        "peak_rss_mb": (win.peak_rss_mb, "MB"),
        "cpu_s": (win.cpu_s, "s"),
        "failed_frac": (failed / max(attempted, 1), "ratio"),
        "ops": (len(res.ops), "count"),
        "items": (res.items, "count"),
        "timed_wall_s": (win.wall_s, "s"),
        "session_start_s": (session_s, "s"),
        "stage_s": (stage_s, "s"),
        "warmup_s": (warmup_s, "s"),
        "host.steal_frac": (win.steal_frac, "ratio"),
        "load1_start": (load_start, "load"),
        "load1_end": (load_end, "load"),
    }
    if res.extra.get("resume_s"):
        report["resume_s"] = (statistics.median(res.extra["resume_s"]), "s")
    report |= {alias: report[name] for alias, name in ALIASES[args.workload].items()}
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} correct={failed == 0}")
    for k, (v, u) in report.items():
        print(f"  {k:<22} {v:>14.6f} {u}")
    print("  op latencies (s):", " ".join(f"{x:.3f}" for x in res.ops))

    out = {"workload": args.workload, "seed": args.seed, "report": {k: v for k, (v, _) in report.items()}}
    if args.trace:
        layer = tracer.rollup(event_log)
        layer["cachepool.persisted_bytes"] = persisted
        layer["host.steal_frac"] = win.steal_frac
        # after this run's session has stopped: one Spark driver at a time
        layer["trace.overhead_frac"] = win.wall_s / max(res.items, 1) / _untraced_wall_per_item(args) - 1
        layer["trace.bookkeeping_frac"] = tracer.bookkeeping_s / win.wall_s
        for k in [k for k in layer if k.startswith("pipeline.stage.") and k.endswith(".executor_cpu_s")]:
            layer[k.replace(".executor_cpu_s", ".cum_executor_cpu_s")] = layer.pop(k)
        out |= {"run_id": tracer.run_id, "spans": [vars(s) for s in tracer.spans], "rollup": layer}
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(_out_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump(out, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
