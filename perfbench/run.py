"""Benchmark entry point.

    python3 perfbench/run.py --workload {report,panel,index_ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One client drives ``local[4]`` in a closed
loop: the next op starts when the previous one has returned and its output
has been checked. Inputs are generated from ``--seed`` under
``perfbench/.work`` (removed at exit); traces go to ``perfbench/.out``.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` prints every
per-layer metric (the metric names are read from ``BENCHMARK.json``). The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")

#: how many times set-up is repeated; ``setup_s`` takes the median
PREP_REPEATS = 3
#: traced cycles of each other workload in a traced run (after one untraced
#: warm-up cycle), so it reports every per-layer metric whichever workload
#: it names
SIDE_CYCLES = 1
#: samples a tail percentile must leave beyond it
MIN_TAIL_SAMPLES = 10
#: seconds a started process is given to end by itself before it is
#: sent SIGTERM, and again before SIGKILL
STOP_GRACE_S = 30


def _percentile(sorted_vals: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    pos = (len(sorted_vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (pos - lo)


def tail(times: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value. Below twenty samples that percentile would lie under the
    median, so the maximum (p100) is reported instead."""
    s = sorted(times)
    n = len(s)
    if n < 2 * MIN_TAIL_SAMPLES:
        return 100.0, s[-1]
    q = 100.0 * (n - MIN_TAIL_SAMPLES) / n
    return q, _percentile(s, q)


def run_cycles(wl, rec, n_cycles=None, seconds=None, log=None):
    """Run whole cycles until ``n_cycles`` are done or ``seconds`` have
    passed. Returns ``(samples, cycles, elapsed)``: each sample is
    ``(kind, seconds, ok)`` for one op, each cycle ``(seconds, ok)`` where
    ``ok`` means every op of the cycle passed."""
    samples, cycles = [], []
    t_start = time.perf_counter()
    deadline = t_start + seconds if seconds is not None else None
    while (n_cycles is None or len(cycles) < n_cycles) and (
        deadline is None or time.perf_counter() < deadline
    ):
        c0 = time.perf_counter()
        wl.reset()
        cycle_ok = True
        for kind, fn in wl.cycle():
            rec.op = len(samples)
            t0 = time.perf_counter()
            try:
                ok = bool(fn(rec))
            except Exception:  # noqa: BLE001 — an op that raises is a failed op
                traceback.print_exc()
                ok = False
            samples.append((kind, time.perf_counter() - t0, ok))
            cycle_ok = cycle_ok and ok
            if not ok and log is not None:
                log(f"op {rec.op} ({kind}) failed its output check")
        cycles.append((time.perf_counter() - c0, cycle_ok))
    return samples, cycles, time.perf_counter() - t_start


def metric_names() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def start_session():
    from alphastats_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap: the JVM's resident set then plateaus at the
            # same size in every run instead of tracking when GC resized it
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (Linux), so the
    Python workers the JVM forks can still be waited for once the JVM has
    gone. Elsewhere this is a no-op and only direct children are waited for."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids of the live processes whose parent is this one."""
    me, kids = os.getpid(), []
    try:
        entries = os.listdir("/proc")
    except OSError:
        return kids
    for d in entries:
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me and fields[0] != "Z":
            kids.append(int(d))
    return kids


def _reap() -> None:
    """Collect every child that has ended, without blocking."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> None:
    """Stop the Spark driver JVM this process launched and wait until it and
    every other process started during the run (Python workers included)
    has ended. PySpark itself leaves the JVM to exit some time after the
    Python process does; a later run must not find it still there."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 — the JVM is stopped below either way
            traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin ends
            try:
                proc.wait(timeout=STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        kids = _children()
        if not kids:
            break
        for pid in kids if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + STOP_GRACE_S
        while _children() and time.monotonic() < deadline:
            _reap()
            time.sleep(0.05)
    _reap()


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def log(msg: str) -> None:
        print(msg, flush=True)

    shutil.rmtree(WORK, ignore_errors=True)
    for d in (WORK, os.path.join(WORK, "tmp"), os.path.join(WORK, "data"), OUT):
        os.makedirs(d, exist_ok=True)
    # PySpark and the library place scratch files under the temp dir
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)
    try:
        t0 = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - t0
        ctx = workloads.Context(spark, args.seed, os.path.join(WORK, "data"))
        t0 = time.perf_counter()
        ctx.build_registry()
        registry_s = time.perf_counter() - t0
        if args.trace:
            result = traced_run(ctx, args, session_s, log)
        else:
            result = plain_run(ctx, args, session_s + registry_s, log)
    finally:
        stop_processes()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def plain_run(ctx, args, fixed_setup_s, log) -> dict:
    import probes
    import workloads
    from recorders import Plain

    wl = workloads.WORKLOADS[args.workload](ctx)
    rec = Plain()
    preps = []
    for _ in range(PREP_REPEATS):
        t0 = time.perf_counter()
        wl.prep()
        preps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    run_cycles(wl, rec, n_cycles=wl.warmup)
    warm_s = time.perf_counter() - t0
    setup_s = fixed_setup_s + statistics.median(preps) + warm_s

    samples, cycles, elapsed = run_cycles(wl, rec, seconds=args.seconds, log=log)
    # Latency is read per cycle: a single op for report and panel, the
    # fixed 7-op round for index_ingest, whose op kinds differ several-fold
    # in cost, so a percentile over its mixed ops jumps between kinds with
    # the number of cycles a run completes. Only cycles whose outputs were
    # all right count; if none was, all do, so the result stays a number.
    times = [dt for dt, ok in cycles if ok] or [dt for dt, _ok in cycles]
    failed = sum(1 for _k, _dt, ok in samples if not ok)
    attempted = len(samples)
    q, tail_v = tail(times)
    log("op seconds: " + " ".join(f"{k}={dt:.3f}" for k, dt, _ok in samples))
    log(
        f"{args.workload}: {attempted} ops in {len(cycles)} cycles in {elapsed:.2f}s, "
        f"{failed} failed; op_tail_s is p{q:.1f} of n={len(times)} cycles; set-up: fixed "
        f"{fixed_setup_s:.2f}s + median prep {statistics.median(preps):.2f}s "
        f"(of {PREP_REPEATS}) + warm-up {warm_s:.2f}s"
    )
    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(times),
        "op_tail_s": tail_v,
        "ops_per_s": (attempted - failed) / elapsed,
        "ok_frac": (attempted - failed) / attempted,
        "peak_rss_mb": probes.peak_rss_mb(ctx.spark),
    }
    e2e, _ = metric_names()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in e2e},
    }


def traced_run(ctx, args, session_s, log) -> dict:
    """The named workload runs for ``--seconds`` with cycles alternating
    untraced and traced, so the tracing overhead is measured in one
    process; every other workload then runs a short traced pass so the
    run reports every per-layer metric."""
    import workloads
    from recorders import Plain, Traced

    plain, rec = Plain(), Traced(ctx.spark)
    rec.value("session.build_s", session_s)
    attempted = failed = 0
    order = [args.workload] + sorted(w for w in workloads.WORKLOADS if w != args.workload)
    for name in order:
        wl = workloads.WORKLOADS[name](ctx)
        wl.prep()
        warm, _, _ = run_cycles(wl, plain, n_cycles=wl.warmup if name == args.workload else 1)
        if name == args.workload:
            plain_times, traced_times, samples = [], [], []
            deadline = time.perf_counter() + args.seconds
            while time.perf_counter() < deadline or not traced_times:
                for r, sink in ((plain, plain_times), (rec, traced_times)):
                    s, cyc, _ = run_cycles(wl, r, n_cycles=1, log=log)
                    samples += s
                    sink += [dt for dt, _ok in cyc]
            rec.value("trace.overhead_ratio",
                      statistics.median(traced_times) / statistics.median(plain_times))
        else:
            samples, _, _ = run_cycles(wl, rec, n_cycles=SIDE_CYCLES, log=log)
        if name == "index_ingest":
            for kind in ("append", "admit", "probe", "compact"):
                times = [dt for k, dt, ok in warm + samples if k == kind and ok]
                times = times or [dt for k, dt, _ok in warm + samples if k == kind]
                rec.value(f"index_ingest.{kind}_p50_s", statistics.median(times))
        attempted += len(samples)
        failed += sum(1 for _k, _dt, ok in samples if not ok)

    # self-test: the report submits most of its jobs from its driver
    # thread pool, outside the caller's job group; the count must include
    # them, so it exceeds the caller's own nonzero count on every op
    jobs = rec.samples["reports.metrics.jobs"]
    own = rec.samples["reports.metrics.caller_jobs"]
    jobs_ok = all(j > o > 0 for j, o in zip(jobs, own))
    log(f"self-test reports.metrics jobs per op {jobs}, caller-thread jobs {own}: "
        f"{'ok' if jobs_ok else 'FAILED'}; distinct counts {sorted(set(jobs))}")

    rec.dump(os.path.join(OUT, f"trace_{args.workload}_{args.seed}.json"))
    med = rec.medians()
    for name, self_s in sorted(rec.self_times().items(), key=lambda kv: -kv[1]):
        log(f"self {self_s:9.3f}s  {name}")
    _, layers = metric_names()
    for k in sorted(set(med) - {m["name"] for m in layers}):
        log(f"extra {k} = {med[k]}")
    return {
        "correct": failed == 0 and jobs_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": med[m["name"]], "unit": m["unit"]} for m in layers},
    }


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "alphastats_spark")):
        sys.stderr.write(
            "perfbench: no alphastats_spark package next to perfbench/; "
            "run from the repository root of a full checkout\n"
        )
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    sys.exit(main())
