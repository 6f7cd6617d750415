"""Layer spans, the Spark event-log reduction, and process-tree memory.

A span is recorded by the benchmark's own code around a call into one
layer's public function; nothing inside the engine is touched. Each
span also tags the Spark jobs its call runs with
``setJobDescription("layer:<name>")`` so the event log reads on its own.

Jobs are attributed to the innermost span open at the job's submission
time. Time, not the tag, is the rule because streaming micro-batch jobs
carry the stream's own description; this process submits jobs from one
thread between spans, so the two agree on every other job.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

# the layers, named after the engine's modules; "entry" is the gate
# composition code in __spark_entry__.py (its barriers and final sink)
LAYERS = (
    "session", "sources", "functions", "spans", "quality", "dedup",
    "graph", "near_dedup", "sampling", "incremental", "entry",
)
LAYER_METRICS = (
    "s", "jobs", "tasks", "run_ms", "busy_frac", "shuffle_rec",
    "shuffle_bytes", "py_ms", "py_bytes", "gc_ms",
)
WORK_COUNTS = (
    "dedup.pairs", "graph.edges", "graph.components", "near_dedup.kept",
    "incremental.catalog_rows", "incremental.snapshot_bytes",
)

# (module, function, layer) wrapped in a traced run. A name the engine
# no longer has is skipped, so a refactor degrades the table, not the run.
WRAPPED = (
    ("textalyzer_spark.shipping", "ship_package", "session"),
    ("textalyzer_spark.sources.readers", "read_documents_parquet", "sources"),
    ("__spark_entry__", "_docs", "sources"),
    ("textalyzer_spark.operators.spans", "process_spans_arrow", "spans"),
    ("textalyzer_spark.operators.pii", "synthesize_pii", "quality"),
    ("textalyzer_spark.operators.pii", "redact_pii", "quality"),
    ("textalyzer_spark.operators.quality", "with_quality_score", "quality"),
    ("textalyzer_spark.operators.quality", "with_lang_id", "quality"),
    ("textalyzer_spark.operators.dedup", "minhash_lsh_pairs", "dedup"),
    ("textalyzer_spark.operators.graph", "connected_components", "graph"),
    ("textalyzer_spark.operators.near_dedup", "near_dedup", "near_dedup"),
    ("textalyzer_spark.operators.sampling", "stratified_sample", "sampling"),
    ("textalyzer_spark.operators.incremental", "minhash_catalog", "incremental"),
    ("textalyzer_spark.streaming.jobs", "streaming_catalog_maintenance", "incremental"),
)


class Tracer:
    """Spans of one run, kept in memory. ``enabled=False`` makes every
    span a no-op, which is how untraced passes run."""

    def __init__(self):
        self.sc = None  # set once the session exists
        self.enabled = False
        # (layer, pass number, start, end, nesting depth); times are
        # epoch seconds, the clock the event log stamps jobs with
        self.spans: list[tuple[str, int, float, float, int]] = []
        self.pass_no = -1
        self._stack: list[str] = []
        # function name -> (args, result) of its first traced call
        self.captured: dict[str, tuple] = {}

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        self._stack.append(layer)
        if self.sc is not None:
            self.sc.setJobDescription(f"layer:{layer}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.spans.append((layer, self.pass_no, t0, t1, len(self._stack)))
            if self.sc is not None:
                self.sc.setJobDescription(
                    f"layer:{self._stack[-1]}" if self._stack else None
                )

    def install(self) -> None:
        """Wrap every ``WRAPPED`` function in every loaded engine module
        that binds it (``from x import f`` copies the name)."""
        import importlib

        for mod_name, fn_name, layer in WRAPPED:
            try:
                orig = getattr(importlib.import_module(mod_name), fn_name)
            except (ImportError, AttributeError):
                continue
            wrapped = self._wrap(orig, layer, fn_name)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "")
                if not (name.startswith("textalyzer_spark") or name == "__spark_entry__"):
                    continue
                if getattr(m, fn_name, None) is orig:
                    setattr(m, fn_name, wrapped)

    def _wrap(self, fn, layer: str, fn_name: str):
        def wrapper(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
            if self.enabled and fn_name not in self.captured:
                self.captured[fn_name] = (args, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper


def unit(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    m = metric.rsplit(".", 1)[-1]
    if m == "s":
        return "s"
    if m.endswith("_ms"):
        return "ms"
    if m.endswith("bytes"):
        return "B"
    if m.endswith("frac"):
        return "frac"
    return "count"


def attribute(spans, times: list[float]):
    """``[(pass_no, layer) or None]`` for each epoch time: the innermost
    span open at that time."""
    out = []
    for t in times:
        best = None
        for layer, pass_no, t0, t1, depth in spans:
            if t0 <= t <= t1 and (best is None or depth > best[2]):
                best = (pass_no, layer, depth)
        out.append(best[:2] if best else None)
    return out


def self_times(spans) -> dict[tuple[int, str], float]:
    """Seconds per (pass, layer), minus the time of spans nested in it."""
    out: dict[tuple[int, str], float] = {}
    for layer, pass_no, t0, t1, depth in spans:
        child = sum(
            c1 - c0
            for _, p, c0, c1, d in spans
            if p == pass_no and d == depth + 1 and t0 <= c0 and c1 <= t1
        )
        key = (pass_no, layer)
        out[key] = out.get(key, 0.0) + (t1 - t0) - child
    return out


def read_event_log(log_dir: str):
    """Succeeded jobs and completed stages from the one uncompressed
    event log under ``log_dir`` (Spark 4 writes ``eventlog_v2_*/events_*``)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    jobs: dict[int, dict] = {}
    ended: dict[int, bool] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "t": ev["Submission Time"] / 1000.0,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    ended[ev["Job ID"]] = ev["Job Result"]["Result"] == "JobSucceeded"
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Failure Reason" in info:
                        continue  # a failed or cancelled attempt
                    acc = {a.get("Name"): a.get("Value") for a in info["Accumulables"]}
                    stages[info["Stage ID"]] = {
                        "tasks": info["Number of Tasks"],
                        "run_ms": _num(acc.get("internal.metrics.executorRunTime")),
                        "gc_ms": _num(acc.get("internal.metrics.jvmGCTime")),
                        "shuffle_rec": _num(acc.get("internal.metrics.shuffle.write.recordsWritten")),
                        "shuffle_bytes": _num(acc.get("internal.metrics.shuffle.write.bytesWritten")),
                        "py_ms": _num(acc.get("time to run Python workers")),
                        "py_bytes": _num(acc.get("data sent to Python workers")),
                    }
    # only jobs that succeeded: a job AQE cancels and resubmits then
    # counts once
    return {j: v for j, v in jobs.items() if ended.get(j)}, stages


def _num(v) -> float:
    return float(v) if v is not None else 0.0


def reduce_layers(spans, jobs, stages, cores: int):
    """Per (pass, layer): the ``LAYER_METRICS`` plus the structural
    fingerprint counts ``stages`` and ``exchanges`` (stages that wrote
    shuffle output). Jobs outside every span (warm-up and untraced
    passes) land under ``(None, "unattributed")``."""
    job_ids = sorted(jobs)
    owners = attribute(spans, [jobs[j]["t"] for j in job_ids])
    seen: set[int] = set()
    table: dict[tuple, dict[str, float]] = {}
    for (pass_no, layer), dur in self_times(spans).items():
        table.setdefault((pass_no, layer), _zero())["s"] = dur
    for j, owner in zip(job_ids, owners):
        key = owner if owner else (None, "unattributed")
        row = table.setdefault(key, _zero())
        row["jobs"] += 1
        for sid in jobs[j]["stages"]:
            if sid in seen or sid not in stages:
                continue  # a stage runs once, in the first job that lists it
            seen.add(sid)
            st = stages[sid]
            row["stages"] += 1
            row["exchanges"] += 1 if st["shuffle_rec"] > 0 else 0
            for k in ("tasks", "run_ms", "gc_ms", "shuffle_rec", "shuffle_bytes", "py_ms", "py_bytes"):
                row[k] += st[k]
    for row in table.values():
        row["busy_frac"] = row["run_ms"] / (row["s"] * 1000.0 * cores) if row["s"] > 0 else 0.0
    return table


def _zero() -> dict[str, float]:
    return {k: 0.0 for k in (*LAYER_METRICS, "stages", "exchanges")}


def process_tree(root_pid: int) -> dict[int, int]:
    """``{pid: resident bytes}`` for ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm", encoding="ascii") as fh:
                rss[int(d)] = int(fh.read().split()[1]) * page
        except (OSError, IndexError):
            continue  # the process ended while we looked
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Peak resident MB of this process's tree, sampled on a background
    thread: of the whole tree, of its JVM, and of the rest (this Python
    process and the Python workers)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self.peak_jvm = 0.0
        self.peak_py = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            tree = process_tree(pid)
            jvm = sum(v for p, v in tree.items() if _comm(p) == "java") / (1 << 20)
            tot = sum(tree.values()) / (1 << 20)
            self.peak = max(self.peak, tot)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_py = max(self.peak_py, tot - jvm)
            self._stop.wait(self.interval)


def _comm(pid: int) -> str:
    """The process's executable name, "" once it has ended."""
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""
