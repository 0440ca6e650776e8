"""Closed-loop benchmark of the near-duplicate engine.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. One client in one process: each rep starts
only after the previous one has finished. A run

1. stages the workload's inputs and expected outputs for ``--seed`` in a
   separate process (perfbench/stage.py) under .bench_data/,
2. sets up several times (session start, kernel load, input
   scan/persist) and keeps the median as ``setup_s``,
3. warms up until rep times settle,
4. measures reps for ``--seconds``, checking every rep's output,
5. with ``--trace 1``, splits the time between untraced reps and reps
   driven layer by layer under spans (perfbench/spans.py), and reports
   the per-layer metrics instead of the end-to-end ones.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; names and units come from BENCHMARK.json.
Spans and the run context (host calibration, kernel and Spark settings)
go to .bench_data/runs/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BENCH_JSON = os.path.join(REPO, "BENCHMARK.json")
DATA = os.path.join(REPO, ".bench_data")

# workload -> (staging kind, input docs)
SIZES = {"pipeline": ("corpus", 10_000), "queries": ("tables", 1_000)}
SETUPS = 4
WARMUP_MAX = 3
WARMUP_TOLERANCE = 0.1
KERNEL_DOCS = 5_000
STAGE_TIMEOUT_S = 170


def stage(kind: str, seed: int, docs: int, out: str) -> dict:
    """Generate inputs and expected outputs in a separate process: the
    measured session never holds the generator's memory."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "stage.py"), "--kind", kind,
         "--seed", str(seed), "--docs", str(docs), "--out", out],
        check=True, timeout=STAGE_TIMEOUT_S, stdout=sys.stderr,
    )
    with open(os.path.join(out, "expected.json")) as f:
        return json.load(f)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> tuple[float, float]:
    """(JVM, Python workers) peak resident memory, MB, from each child
    process's VmHWM in /proc."""
    jvm = workers = 0.0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/status") as f:
                hwm = next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        if b"java" in cmd:
            jvm += hwm / 1024
        elif b"pyspark" in cmd:
            workers += hwm / 1024
    return jvm, workers


def stop_children(timeout_s: float = 60.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not _descendants(os.getpid()):
            return
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while _descendants(os.getpid()):
        time.sleep(0.1)


def shutdown(w) -> None:
    """Stop the session and its JVM and wait until they have exited."""
    from pyspark import SparkContext

    w.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    stop_children()


def timed_loop(rep, seconds: float) -> list[tuple]:
    """Closed loop: call ``rep`` until ``seconds`` have passed (at least
    once). A rep that raises counts as failed and ends the loop, since the
    session may be left in any state."""
    out, t0 = [], time.perf_counter()
    while not out or time.perf_counter() - t0 < seconds:
        try:
            out.append(rep())
        except Exception:
            traceback.print_exc()
            out.append((None, False, 0.0))
            break
    return out


def summarize(w, reps) -> tuple[float, int, float]:
    """(docs_per_s, failed reps, worst recall) over a loop's reps."""
    from checks import median

    done = [r for r in reps if r[0] is not None]
    if not done:
        raise RuntimeError("no rep completed")
    if isinstance(done[0][0], dict):  # per-query seconds
        per_query = {q: median([r[0][q] for r in done]) for q in done[0][0]}
        docs_per_s = w.n_docs / sum(per_query.values())
    else:
        docs_per_s = median([r[0] for r in done])
    return docs_per_s, sum(1 for r in reps if not r[1]), min(r[2] for r in reps)


def measure(args, w) -> tuple[dict, int, int, dict]:
    """Set up, warm up and measure; returns (metric values, attempted,
    failed, run record)."""
    import checks
    from spans import Tracer

    setups, session_s = [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        w.setup()
        setups.append(time.perf_counter() - t0)
        session_s.append(w.session_s)
    warm = []
    while len(warm) < WARMUP_MAX and not checks.settled(warm, WARMUP_TOLERANCE):
        t0 = time.perf_counter()
        w.rep()
        warm.append(time.perf_counter() - t0)
    record = {"setups_s": setups, "warmup_s": warm}

    if not args.trace:
        reps = timed_loop(w.rep, args.seconds)
        docs_per_s, failed, recall = summarize(w, reps)
        values = {"setup_s": checks.median(setups), "docs_per_s": docs_per_s,
                  "recall": recall}
    else:
        # half the time untraced, half traced: the difference is the
        # tracing overhead
        reps = timed_loop(w.rep, args.seconds / 2)
        base, failed, _ = summarize(w, reps)
        tracers, layers = [], []

        def traced_rep():
            tracer = Tracer(f"{w.name}-s{args.seed}-{len(tracers)}", w.spark.sparkContext)
            tracers.append(tracer)
            result, ok, recall, metrics = w.traced_rep(tracer)
            layers.append({**w.layer_metrics(tracer), **metrics})
            return result, ok, recall

        treps = timed_loop(traced_rep, args.seconds / 2)
        traced_docs_per_s, tfailed, _ = summarize(w, treps)
        failed += tfailed
        reps += treps
        values = {k: checks.median([m[k] for m in layers]) for k in layers[0]}
        if w.name == "pipeline":  # the checkpoint layer rides this trace
            tracer = Tracer(f"job-s{args.seed}", w.spark.sparkContext)
            tracers.append(tracer)
            ok, metrics = w.traced_job(tracer)
            values.update(metrics)
            reps.append((None, ok, 1.0))
            failed += not ok
        jvm, workers = peak_rss_mb()
        values.update(w.kernel_metrics(w.texts()[:KERNEL_DOCS]))
        values.update({
            "session.start_s": session_s[0],
            "jvm.peak_rss_mb": jvm, "workers.peak_rss_mb": workers,
            "trace.overhead_docs_per_s": traced_docs_per_s - base,
        })
        record["spans"] = [t.spans for t in tracers]
    context = w.context()
    context["host.calib_s"] = w.calibrate()
    print(json.dumps(context), file=sys.stderr)
    if args.trace:
        values.update(context)
    record.update(context=context, values=values, reps=[r[0] for r in reps])
    return values, len(reps), failed, record


def run(args) -> str:
    import checks
    import workloads

    work = os.path.join(DATA, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file of this process and its children (staging, the
    # JVM, Python workers, the C compiler) stays under the work dir
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")]),
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    data_dir = os.path.join(work, "input")
    kind, docs = SIZES[args.workload]
    expected = stage(kind, args.seed, docs, data_dir)
    cls = {"pipeline": workloads.Pipeline, "queries": workloads.Queries}[args.workload]
    w = cls(data_dir, expected, work)
    try:
        values, attempted, failed, record = measure(args, w)
    finally:
        shutdown(w)
        shutil.rmtree(work, ignore_errors=True)
    runs = os.path.join(DATA, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    names = checks.metric_names(BENCH_JSON, trace=bool(args.trace))
    if args.trace:
        for n in names:  # layers this workload never calls read 0
            values.setdefault(n, 0.0)
    return checks.result_line(failed == 0, attempted, failed, values, names,
                              checks.metric_units(BENCH_JSON))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="near-dup engine benchmark")
    ap.add_argument("--workload", choices=sorted(SIZES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "fastcdc_rs_spark")):
        print("fastcdc_rs_spark/ not found: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    line = run(args)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
