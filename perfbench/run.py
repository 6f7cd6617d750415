"""Benchmark of the textalyzer_spark engine: one workload, one seed, one
process, ``local[4]``.

    python3 perfbench/run.py --workload extract|clean|ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its workload's input
from the seed under ``.perfbench_work/`` (deleted at exit), starts the
engine's session, warms up, times passes for ``--seconds``, checks every
pass's output, and prints a table and, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics. ``--trace 1`` then restarts the session
with the Spark event log on, times the passes again with layer spans,
and reports the per-layer metrics instead. See ``perfbench/README.md``
for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

CORES = 4
# traced passes per traced run, and untraced passes to price them: the
# per-layer medians and the fingerprint check need more than one
MIN_TRACED = 3
WORK_DIR = ".perfbench_work"
HERE = os.path.dirname(os.path.abspath(__file__))


def host_control_ms() -> float:
    """Fixed pure-Python work, timed: a host-speed reference that does
    not touch the engine. A shift between a run's start and end values
    flags a throttled host, not an engine change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


def _env(work: str) -> None:
    """Point every temp and scratch dir of this process, the JVM and the
    Python workers into the run's work dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={local}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*conf, "pyspark-shell"])


def _restart_with_event_log(spark, log_dir: str):
    """Stop the session and start a new one in the same JVM with the
    Spark event log on: a SparkContext reads that setting only when it
    starts. The JVM stays warm; the Python workers start afresh."""
    from pyspark import SparkContext

    from textalyzer_spark.session import get_spark

    os.makedirs(log_dir)
    spark.stop()
    props = SparkContext._jvm.java.lang.System
    props.setProperty("spark.eventLog.enabled", "true")
    # the default codec is zstd and this Python has no zstandard
    props.setProperty("spark.eventLog.compress", "false")
    props.setProperty("spark.eventLog.dir", f"file://{log_dir}")
    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM, then wait for every process the
    run started (the JVM's Python workers outlive it by a moment)."""
    from pyspark import SparkContext

    from tracing import process_tree

    started = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if _alive(p)}
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile("__spark_entry__.py") and os.path.isdir("textalyzer_spark")):
        print("perfbench: run from the repository root (no engine here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, workloads, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        _rm_if_empty(os.path.join(root, WORK_DIR))


def _timed_passes(wl, spark, tracer, seconds: float, min_passes: int) -> list:
    """Passes until ``seconds`` have passed and at least ``min_passes``
    ran; with the tracer on, each is one traced pass."""
    done = []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds or len(done) < min_passes:
        tracer.pass_no = len(done)
        with tracer.span("pass"):
            done.append(wl.run_pass(spark))
    return done


def _run(args, workloads, work: str) -> int:
    from tracing import RssSampler, Tracer

    _env(work)
    tracer = Tracer()
    wl = workloads.WORKLOADS[args.workload](args.seed, work, tracer)
    control = [host_control_ms()]
    spark = None
    try:
        with RssSampler() as rss:
            from textalyzer_spark.session import get_spark

            if args.trace:
                tracer.install()
                tracer.enabled = True
            t0 = time.perf_counter()
            with tracer.span("session"):
                spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES)
            session_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            tracer.sc = spark.sparkContext

            t1 = time.perf_counter()
            wl.generate()
            gen_s = time.perf_counter() - t1
            wl.prepare(spark)
            tracer.enabled = False
            outcomes = [wl.run_pass(spark) for _ in range(wl.WARMUP)]
            setup_s = time.perf_counter() - t0

            timed = _timed_passes(wl, spark, tracer, args.seconds, wl.MIN_PASSES)
            outcomes += timed
            traced, untraced, counts = [], [], {}
            if args.trace:
                # the passes above leave the JVM warmer; untraced passes
                # now, then as many in a session with the event log and
                # the spans on, price the tracing
                untraced = _timed_passes(wl, spark, tracer, 0, MIN_TRACED)
                outcomes += untraced
                spark = _restart_with_event_log(spark, os.path.join(work, "eventlog"))
                tracer.sc = spark.sparkContext
                outcomes.append(wl.run_pass(spark))  # the JVM is warm: one pass
                tracer.enabled = True
                traced = _timed_passes(wl, spark, tracer, 0, MIN_TRACED)
                outcomes += traced
                tracer.pass_no = -2  # counting jobs: outside every layer
                with tracer.span("count"):
                    counts = wl.work_counts(spark)
                tracer.enabled = False
    finally:
        if spark is not None:
            _stop(spark)
    control.append(host_control_ms())

    attempted = sum(r.attempts for r in outcomes)
    failed = sum(r.failures for r in outcomes)
    pass_s = _median([r.seconds for r in timed])
    batches = [b for r in timed for b in r.batches]
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "docs_per_s": (wl.n_docs / pass_s, "1/s"),
        "batch_p50_s": (_median(batches), "s"),
        "py_peak_rss_mb": (rss.peak_py, "MB"),
    }
    print(f"workload={args.workload} seed={args.seed} docs={wl.n_docs} "
          f"passes={len(timed)} traced={len(traced)} warmup={wl.WARMUP} batches={len(batches)}")
    print(f"setup: session {session_s:.3f} s, generate {gen_s:.3f} s, "
          f"warm-up+prepare {setup_s - session_s - gen_s:.3f} s")
    print("pass seconds: " + " ".join(f"{r.seconds:.3f}" for r in outcomes))
    if len(batches) > len(timed):
        print("batch seconds: " + " ".join(f"{b:.3f}" for r in outcomes for b in r.batches))
    print(f"host control: start {control[0]:.1f} ms, end {control[-1]:.1f} ms")
    print(f"peak RSS of the process tree {rss.peak:.1f} MB, of the JVM {rss.peak_jvm:.1f} MB")
    print(f"{'metric':<16}{'median':>14}  unit   n")
    for name, (v, unit) in e2e.items():
        n = len(batches) if name == "batch_p50_s" else len(timed) if name != "setup_s" else 1
        print(f"{name:<16}{v:>14.4f}  {unit:<6}{n}")
    print(f"failed_frac     {failed / attempted:.4f} ({failed} of {attempted})")
    for r in outcomes:
        if not r.ok:
            print(f"FAILED: {r.error}")

    if args.trace:
        metrics = _layer_report(
            tracer, os.path.join(work, "eventlog"), traced, untraced, counts, control, args.workload
        )
        metrics["peak_rss_mb"] = {"value": rss.peak, "unit": "MB"}
        metrics["jvm.peak_rss_mb"] = {"value": rss.peak_jvm, "unit": "MB"}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _range(want) -> tuple[int, int]:
    return tuple(want) if isinstance(want, list) else (want, want)


def _rm_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass  # another run's work dir is still there


def _layer_report(tracer, log_dir, traced, untraced, counts, control, workload):
    from tracing import LAYER_METRICS, LAYERS, WORK_COUNTS, read_event_log, reduce_layers, unit

    jobs, stages = read_event_log(log_dir)
    table = reduce_layers(tracer.spans, jobs, stages, CORES)
    passes = sorted({p for p, _ in table if p is not None and p >= 0})
    metrics: dict[str, float] = {}
    fingerprint: dict[str, list[int]] = {}
    print(f"\nper-layer, median over {len(passes)} traced passes "
          "(session and functions: once, in set-up)")
    print(f"{'layer':<12}" + "".join(f"{m:>14}" for m in LAYER_METRICS) + f"{'stages':>8}{'exch':>6}")
    for layer in LAYERS:
        scope = [-1] if layer in ("session", "functions") else passes
        rows = [table.get((p, layer)) for p in scope]
        rows = [r for r in rows if r is not None] or [None]
        med = {}
        for m in (*LAYER_METRICS, "stages", "exchanges"):
            med[m] = _median([r[m] for r in rows if r is not None])
            if m in LAYER_METRICS:
                metrics[f"{layer}.{m}"] = med[m]
        fingerprint[layer] = [int(med["jobs"]), int(med["stages"]), int(med["exchanges"])]
        print(f"{layer:<12}" + "".join(f"{med[m]:>14.4g}" for m in LAYER_METRICS)
              + f"{int(med['stages']):>8}{int(med['exchanges']):>6}")
    stray = sum(table.get((p, "pass"), {}).get("jobs", 0) for p in passes)
    print(f"jobs in traced passes outside every layer span: {int(stray)}")

    # every traced pass's structure against the fingerprint recorded in
    # fingerprint.json: a count matches its recorded int exactly, or a
    # recorded [lo, hi] range where AQE timing moves it
    with open(os.path.join(HERE, "fingerprint.json"), encoding="utf-8") as fh:
        recorded = json.load(fh).get(workload, {})
    diffs = []
    for p in passes:
        for layer in LAYERS:
            if layer in ("session", "functions"):
                continue
            fp = [int(table.get((p, layer), {}).get(k, 0)) for k in ("jobs", "stages", "exchanges")]
            want = recorded.get(layer, [0, 0, 0])
            if not all(lo_hi[0] <= x <= lo_hi[1] for x, lo_hi in zip(fp, map(_range, want))):
                diffs.append(f"pass {p} {layer}: recorded {want} now {fp}")
    print("fingerprint (jobs, stages, exchanges) of every traced pass vs fingerprint.json: "
          + ("match" if not diffs else "; ".join(diffs)))
    now = {layer: fp for layer, fp in fingerprint.items() if fp != [0, 0, 0]}
    print(f"fingerprint now (median): {json.dumps({workload: now})}")
    metrics["fingerprint.diffs"] = len(diffs)

    for name in WORK_COUNTS:
        metrics[name] = counts.get(name, 0)
        print(f"{name:<28}{metrics[name]}")
    on = _median([r.seconds for r in traced])
    off = _median([r.seconds for r in untraced])
    metrics["trace.overhead_frac"] = on / off - 1.0 if off else 0.0
    metrics["host.control_ms"] = _median(control)
    print(f"tracing overhead: traced pass {on:.4f} s (event log and spans on) vs "
          f"untraced pass {off:.4f} s = {metrics['trace.overhead_frac']:+.2%}")
    return {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}


if __name__ == "__main__":
    sys.exit(main())
