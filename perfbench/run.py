"""The repository benchmark.

    python3 perfbench/run.py --workload <llm_curation|lakehouse_write|etl_relational>
        --seed <n> --seconds <s> --trace <0|1> [--sf 0.01]

Drives the package from outside, through ``session.get_spark``, the
registered ``QUERIES``, ``catalog.load``, ``sources.manifest_table``,
``sources.sink`` and ``streaming.ingest.stream_append_table``, on
``local[<cores>]`` with one client thread (closed loop). ``BENCHMARK.json``
lists the workloads the regression runs use; ``perfbench/design.json``
records why, their inputs, and which metric each layer should move.

A run: build the fixtures and oracle answers if this checkout has none yet
(``prepare.py``, once), start the session, warm up with one checked pass
over the timed input (that is the set-up), then run checked passes, at least
one, until ``--seconds`` have passed. The workload seed permutes the query
order of the read workloads and draws the lakehouse batches.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics (``tracing.py``)
and writes the spans to ``.bench_build/perfbench/traces/``. The last line
of stdout is the JSON result; the lines before it print every metric with
its unit, plus the failure fraction. Each pass's operation times go to
stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from common import BUILD_DIR, HERE, PACKAGE, READ_WORKLOADS, ROOT, WORKLOADS, fixture_dir

#: Layers whose self time the traced run reports.
LAYERS = ("queries", "spark", "catalog", "partitioning", "sources", "streaming")
EXEC_METRICS = tuple(
    f"exec.{k}" for k in (
        "jobs", "stages", "tasks", "executor_run_s", "cpu_s", "gc_s", "single_task_stage_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    )
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="fixture scale factor")
    ap.add_argument(
        "--plant",
        choices=("drop_row", "flip_value"),
        help="self-test only: corrupt every result before it is checked",
    )
    return ap.parse_args(argv)


def ensure_fixtures(sf: float) -> str:
    """Fixture and oracle cache of this checkout, built on first use."""
    out = fixture_dir(sf)
    if os.path.exists(os.path.join(out, "expected.pkl")):
        return out
    tmp = tempfile.mkdtemp(prefix="build-", dir=BUILD_DIR)
    try:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), tmp, repr(sf)],
            check=True, stdout=sys.stderr,
        )
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def isolate(scratch: str, cores: int) -> None:
    """Keep every file the run writes inside ``scratch`` and make the package
    importable in Spark's Python workers, whatever the caller's directory."""
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={scratch} -XX:-UsePerfData' pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def jvm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def per_layer(tracer, traced, untraced_s, cores, exec_acc, py_cpu) -> dict:
    """The per-layer metrics of a traced run: totals per workload pass, and
    ratios over all traced passes."""
    n = len(traced)
    counts, spans = tracer.counts, tracer.spans
    ids = {s["id"]: s for s in spans}
    selfs = tracer.self_times()

    def parent_layer(s):
        return ids.get(s["parent"], {}).get("layer")

    def top(name):  # calls the benchmark made, not ones nested in another layer call
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and parent_layer(s) not in ("sources", "streaming"))

    def ratio(a, b):
        return a / b if b else 0.0

    stats: dict = {}
    for p in traced:
        for k, v in p.stats.items():
            stats[k] = stats.get(k, 0) + v
    exec_s = sum(w[1] - w[0] for p in traced for w in p.windows if w[3] == "exec")
    totals = {
        "queries.build_s": sum(w[1] - w[0] for p in traced for w in p.windows if w[3] == "build"),
        "queries.build_jobs": exec_acc.get("queries.build_jobs", 0),
        "queries.exec_s": exec_s,
        "catalog.load_calls": counts["catalog.load_calls"],
        "catalog.load_s": top("catalog.load"),
        "partitioning.ensure_parallelism_calls": counts["partitioning.ensure_parallelism_calls"],
        "partitioning.decide_s": selfs.get("partitioning", 0.0),
        "partitioning.estimate_calls": counts["partitioning.estimate_calls"],
        "partitioning.estimate_none": counts["partitioning.estimate_none"],
        **{k: exec_acc.get(k, 0) for k in EXEC_METRICS},
        "python.worker_cpu_s": py_cpu,
        "sources.calls": sum(1 for s in spans if s["layer"] == "sources"),
        "sources.publish_s": top("sources.publish_snapshot"),
        "sources.merge_s": top("sources.merge_rows"),
        "sources.erase_s": top("sources.erase_rows"),
        "sources.compact_s": top("sources.compact_snapshot"),
        "sources.sink_s": top("sources.write_partitioned"),
        "sources.read_s": sum(p.op_seconds.get("read", 0.0) for p in traced),
        "sources.files_rewritten": stats.get("files_rewritten", 0),
        "sources.files_reused": stats.get("files_reused", 0),
        "sources.bytes_written": stats.get("bytes_written", 0),
        "sources.write_amp": stats.get("write_amp", 0.0),
        "streaming.batches": sum(1 for s in spans if s["name"] == "sources.append_rows"
                                 and parent_layer(s) == "streaming"),
        "streaming.append_s": top("streaming.stream_append_table"),
        **{f"self_s.{layer}": selfs.get(layer, 0.0) for layer in LAYERS},
        "trace.spans": len(spans),
    }
    m = {k: v / n for k, v in totals.items()}
    m["catalog.cache_hit_ratio"] = ratio(counts["catalog.load_hits"], counts["catalog.load_repeats"])
    m["partitioning.widen_ratio"] = ratio(
        counts["partitioning.widened"], counts["partitioning.ensure_parallelism_calls"])
    m["exec.core_busy_ratio"] = ratio(exec_acc.get("exec.exec_phase_run_s", 0), exec_s * cores)
    m["sources.rewrite_useful_ratio"] = ratio(stats.get("rows_changed", 0),
                                              stats.get("rows_rewritten", 0))
    m["trace.overhead_s"] = run_seconds(traced) - untraced_s
    return m


def run_seconds(passes) -> float:
    """One workload pass as its operations' best times over the timed passes:
    the minimum drops a pass's one-off stalls (a late JIT compile, a GC
    pause, a burst of load from outside the run) that a single pass or a
    two-sample median would keep."""
    best: dict[str, float] = {}
    for p in passes:
        for op, t in p.op_seconds.items():
            best[op] = min(t, best.get(op, t))
    return sum(best.values())


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(args, fx: str, scratch: str) -> dict:
    import numpy as np

    cores = len(os.sched_getaffinity(0))
    run_id = f"r{args.seed}-{os.getpid()}"
    t0 = time.perf_counter()
    from bridge_analytics_template_spark.queries import QUERIES  # noqa: F401
    from bridge_analytics_template_spark.session import get_spark

    import_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid

    from common import check_oracle
    from workloads import Context, LakehouseWorkload, ReadWorkload

    ctx = Context(spark, run_id, os.path.join(fx, "data"), scratch, check_oracle(), args.plant)
    rng = np.random.default_rng(args.seed)
    if args.workload == "lakehouse_write":
        wl = LakehouseWorkload(ctx)
    else:
        with open(os.path.join(fx, "expected.pkl"), "rb") as f:
            expected = pickle.load(f)
        wl = ReadWorkload(ctx, READ_WORKLOADS[args.workload], expected)

    try:
        warm = wl.run_pass(0, rng)
        setup_s = import_s + session_s + warm.seconds
        passes = []
        result: dict = {}
        start = time.perf_counter()
        if not args.trace:
            while not passes or time.perf_counter() - start < args.seconds:
                passes.append(wl.run_pass(len(passes) + 1, rng))
        else:
            from tracing import Tracer, attribute_jobs, exec_metrics, python_worker_cpu_s, status_store

            # untraced and traced passes alternate, so the overhead compares
            # like with like while the JVM is still settling
            tracer = Tracer(run_id)
            untraced, traced, acc, py_cpu = [], [], {}, 0.0
            while not traced or time.perf_counter() - start < args.seconds:
                untraced.append(wl.run_pass(len(passes) + 1, rng))
                passes.append(untraced[-1])
                ctx.tracer = tracer
                tracer.install()
                try:
                    cpu0 = python_worker_cpu_s(jvm_pid)
                    p = wl.run_pass(len(passes) + 1, rng)
                    py_cpu += python_worker_cpu_s(jvm_pid) - cpu0
                finally:
                    tracer.uninstall()
                    ctx.tracer = None
                passes.append(p)
                traced.append(p)
                jobs, stages = status_store(spark)
                for k, v in exec_metrics(attribute_jobs(jobs, run_id, p.windows), stages).items():
                    acc[k] = acc.get(k, 0) + v
            result = per_layer(tracer, traced, run_seconds(untraced), cores, acc, py_cpu)
            trace_path = os.path.join(BUILD_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.write(trace_path, {"workload": args.workload, "per_layer": result,
                                      "self_s": tracer.self_times()})
            print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_hwm_kb(jvm_pid)) / 1024
        if args.trace:
            result["mem.peak_rss_mb"] = peak_rss_mb
    finally:
        stop_spark(spark)

    all_passes = [warm, *passes]
    for i, p in enumerate(all_passes):
        ops = " ".join(f"{k}={v:.2f}" for k, v in p.op_seconds.items())
        print(f"pass {i}: {p.seconds:.2f}s {ops}", file=sys.stderr)
    attempted = sum(p.attempted for p in all_passes)
    failed = sum(p.failed for p in all_passes)
    if not args.trace:
        footprint = 1.0 + statistics.median(p.stats.get("write_amp", 0.0) for p in all_passes)
        result = {
            "setup_s": setup_s,
            "run_s": run_seconds(passes),
            "disk_footprint_ratio": footprint,
        }
    print(f"perfbench {args.workload} seed={args.seed} sf={args.sf:g} cores={cores} "
          f"timed_passes={len(passes)} (import {import_s:.2f}s, session {session_s:.2f}s, "
          f"warm-up pass {warm.seconds:.2f}s)")
    spec = load_spec()["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(result):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(result))}")
    if args.workload == "lakehouse_write":
        amps = [p.stats["write_amp"] for p in all_passes]
        print(f"write_amp {statistics.median(amps):.6g} count")
    for name, unit in units.items():
        print(f"{name} {result[name]:.6g} {unit}")
    if not args.trace:
        print(f"peak_rss_mb {peak_rss_mb:.6g} MB (per-layer metric mem.peak_rss_mb)")
    print(f"failed_frac {failed / attempted:.6g} ratio ({failed} of {attempted} operations failed)")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": result[name], "unit": unit} for name, unit in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(BUILD_DIR, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=BUILD_DIR)
    isolate(scratch, len(os.sched_getaffinity(0)))
    try:
        out = bench(args, ensure_fixtures(args.sf), scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
