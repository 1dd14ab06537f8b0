"""Traced run: spans and counts at the package's layer boundaries.

Only the ``--trace 1`` run installs any of this. ``Tracer.install`` wraps the
public functions of the catalog, partitioning, sources and streaming layers
in every loaded module of the package that bound them, and ``uninstall``
puts the originals back. Each wrapper records one span (name, layer, start,
end, parent, run id) and the layer's counts; spans stay in memory until
``write`` dumps them as JSON.

Spark's own execution is read after each pass from the driver's status
store (``statusStore().jobsList / stageList``, readable with the UI off).
Jobs are attributed to the benchmark operation and phase (plan build or
action) through the job group the benchmark set, or, for jobs started on
threads without that group (streaming micro-batches, driver thread pools),
through the operation whose span contains the job's submission time.
"""

from __future__ import annotations

import contextlib
import datetime
import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import Counter

from common import PACKAGE

#: (module, function, layer) of every wrapped public entry point.
WRAPPED = [
    ("catalog", "load", "catalog"),
    ("partitioning", "ensure_parallelism", "partitioning"),
    ("partitioning", "estimated_scan_rows", "partitioning"),
    ("partitioning", "adaptive_group_buckets", "partitioning"),
    ("sources.manifest_table", "publish_snapshot", "sources"),
    ("sources.manifest_table", "merge_rows", "sources"),
    ("sources.manifest_table", "erase_rows", "sources"),
    ("sources.manifest_table", "append_rows", "sources"),
    ("sources.manifest_table", "compact_snapshot", "sources"),
    ("sources.manifest_table", "read_snapshot", "sources"),
    ("sources.sink", "write_partitioned", "sources"),
    ("sources.sink", "read_partitioned", "sources"),
    ("streaming.ingest", "stream_append_table", "streaming"),
]


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._main_stack: list[int] = []
        self._installed: list[tuple] = []
        self._loaded: dict = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if threading.current_thread() is threading.main_thread():
            stack = self._main_stack
        else:
            stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        # a span opened on another thread (a py4j callback, a driver pool)
        # is caused by whatever the driver thread is blocked in
        outer = stack or self._main_stack
        parent = outer[-1] if outer else None
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            rec = {"id": sid, "name": name, "layer": layer, "start": start,
                   "end": end, "parent": parent, "run": self.run_id, **attrs}
            with self._lock:
                self.spans.append(rec)

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    # -- wrapping the package's public functions ---------------------------

    def _observe(self, fname: str, args: list, result) -> None:
        """Counts of one call; ``args`` are its arguments in parameter order."""
        if fname == "load":
            key = (id(args[0]), args[1], args[2])
            self.count("catalog.load_calls")
            if key in self._loaded:  # a hit returns the same DataFrame again
                self.count("catalog.load_repeats")
                self.count("catalog.load_hits", self._loaded[key] is result)
            self._loaded[key] = result
        elif fname == "ensure_parallelism":
            self.count("partitioning.ensure_parallelism_calls")
            if result is not args[0]:
                self.count("partitioning.widened")
        elif fname == "estimated_scan_rows":
            self.count("partitioning.estimate_calls")
            if result is None:
                self.count("partitioning.estimate_none")

    def _wrap(self, fname: str, layer: str, fn):
        tracer = self
        sig = inspect.signature(fn)

        def traced(*args, **kwargs):
            with tracer.span(f"{layer}.{fname}", layer):
                result = fn(*args, **kwargs)
            bound = sig.bind(*args, **kwargs)
            tracer._observe(fname, list(bound.arguments.values()), result)
            return result

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for mod, fname, layer in WRAPPED:
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), fname)
            wrapper = self._wrap(fname, layer, orig)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith(PACKAGE):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapper)
                        self._installed.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in self._installed:
            setattr(m, attr, orig)
        self._installed.clear()

    # -- derived numbers -----------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the union of their children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: Counter = Counter()
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counts": dict(self.counts), **extra}, f)


# -- Spark status store --------------------------------------------------------


def _parse_ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=datetime.timezone.utc
    ).timestamp()


def status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """All retained jobs and completed stages, as the REST API's JSON."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)
        )
    )
    done = {s["stageId"]: s for s in stages if s["status"] == "COMPLETE"}
    return jobs, done


def attribute_jobs(jobs: list[dict], run_id: str, windows: list[tuple]) -> list[tuple]:
    """``(job, op_key, phase)`` for every job of the traced passes.

    ``windows`` holds ``(start, end, op_key, phase)`` per build and action
    span; ``op_key`` is the job-group prefix ``<run>/<pass>/<op>``."""
    keys = {w[2] for w in windows}
    out = []
    for j in jobs:
        group = j.get("jobGroup") or ""
        if group.startswith(run_id + "/"):
            op_key, _, phase = group.rpartition("/")
            if op_key in keys:
                out.append((j, op_key, phase))
            continue
        t = _parse_ts(j.get("submissionTime"))
        for a, b, op_key, phase in windows:
            if t is not None and a - 0.002 <= t <= b + 0.002:
                out.append((j, op_key, phase))
                break
    return out


def exec_metrics(attributed: list[tuple], stages: dict[int, dict]) -> dict:
    seen: set[int] = set()
    m = Counter()
    for job, _, phase in attributed:
        m["exec.jobs"] += 1
        if phase == "build":
            m["queries.build_jobs"] += 1
        for sid in job["stageIds"]:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue  # skipped (reused shuffle) or evicted
            seen.add(sid)
            m["exec.stages"] += 1
            m["exec.tasks"] += st["numTasks"]
            m["exec.executor_run_s"] += st["executorRunTime"] / 1e3
            if phase == "exec":
                m["exec.exec_phase_run_s"] += st["executorRunTime"] / 1e3
            m["exec.cpu_s"] += st["executorCpuTime"] / 1e9
            m["exec.gc_s"] += st["jvmGcTime"] / 1e3
            m["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
            m["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            m["exec.spill_bytes"] += st["diskBytesSpilled"]
            m["exec.input_bytes"] += st["inputBytes"]
            m["exec.output_bytes"] += st["outputBytes"]
            if st["numTasks"] == 1:
                a = _parse_ts(st.get("firstTaskLaunchedTime"))
                b = _parse_ts(st.get("completionTime"))
                if a is not None and b is not None:
                    m["exec.single_task_stage_s"] += b - a
    return dict(m)


# -- Python worker CPU -----------------------------------------------------------


def python_worker_cpu_s(jvm_pid: int) -> float:
    """User+system CPU of the JVM's Python descendants (the PySpark daemon and
    its workers), including workers that already exited and were reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (comm, int(fields[1]), sum(int(x) for x in fields[11:15]))
    total, frontier = 0, [jvm_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (comm, ppid, cpu) in procs.items():
            if ppid == parent:
                frontier.append(pid)
                if comm.startswith("python"):
                    total += cpu
    return total / tick
