"""Benchmark entry point.

    python3 perfbench/run.py --workload genome_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives the chosen workload in a
closed loop on ``local[<nproc>]`` for ``--seconds``, checks every op's
output, prints the workload's own figures, and prints as its last line a
JSON object with the end-to-end metrics (``--trace 0``) or the per-layer
metrics from a separate traced run (``--trace 1``). See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from spans import peak_rss_mb, reset_peak_rss, tree_pids  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")
SETUP_REPS = 2


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json lists in ``section``."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def isolate_io(run_root: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the run's own root."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_root, sub), exist_ok=True)
    tmp = os.path.join(run_root, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_root, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(run_root, "warehouse"),
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Djava.io.tmpdir={tmp} "
                                "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the py4j JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_PROCESS:7.2f}s {msg}", file=sys.stderr, flush=True)


def adopt_orphans() -> None:
    """Become the subreaper of every descendant: the Python workers the
    JVM forks are then re-parented to this process, not to init, when
    the JVM exits, so reap_descendants can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap_descendants(grace: float = 10.0) -> None:
    """Wait until every descendant has exited; kill those still alive
    after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in tree_pids()[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_op(wl, tally, label: str | None = None):
    """Run, time and check one op; an op that raises or fails its check
    counts as failed. Returns the op result with its ``wall``, or None."""
    reset_peak_rss()
    t0 = time.perf_counter()
    try:
        with wl.tr.op(wl.primary):
            res = wl.op()
    except Exception as e:
        tally.record(label or "error", False, repr(e)[:300])
        return None
    res.wall = time.perf_counter() - t0
    res.rss_mb = peak_rss_mb()
    if wl.tr.enabled:
        wl.tr.label_last(res.kind)
    why = res.check()
    tally.record(label or res.kind, why is None, why or "")
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    # fails here, before any process starts, outside a full checkout
    import ncbi_analysis_spark  # noqa: F401
    from spans import Tracer
    from stats import Tally, median, rate, tail
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_root = os.path.join(WORK, f"run-{os.getpid()}")
    isolate_io(run_root)
    spark = None
    try:
        from ncbi_analysis_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        adopt_orphans()
        spark = get_spark(app_name="perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_PROCESS

        log("session ready")
        # set-up = session start + input generation + the program's own
        # builds + the untimed warm-up ops. The builds are
        # repeated into fresh directories and their median taken; the
        # last repetition's state is kept.
        tally = Tally()
        wl = WORKLOADS[args.workload](spark, run_root, args.seed, Tracer(spark, False))
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        builds = []
        for rep in range(SETUP_REPS):
            if rep:
                shutil.rmtree(wl.build_dir, ignore_errors=True)
            t0 = time.perf_counter()
            wl.build(os.path.join(run_root, f"build{rep}"))
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for _ in range(wl.warmup_ops):
            run_op(wl, tally, "warmup")
        warm_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + median(builds) + warm_s
        t0 = time.perf_counter()
        for name, why in wl.once_checks():
            tally.record(name, why is None, why or "")
        checks_s = time.perf_counter() - t0
        log("set-up done")

        # timed closed loop; the traced run alternates traced and
        # untraced rounds and reports the difference as tracing overhead
        plain_tr, traced_tr = wl.tr, Tracer(spark, True)
        walls = {False: {}, True: {}}
        rss: list[dict[str, float]] = []
        units: dict[str, float] = {}
        # whole rounds only; a new round starts while it is expected to
        # end less than half a round past --seconds
        start = time.perf_counter()
        i = 0
        while i % wl.round_len or not i or (
                time.perf_counter() - start) * (1 + 0.5 * wl.round_len / i) < args.seconds:
            traced = bool(args.trace) and (i // wl.trace_stride) % 2 == 0
            wl.tr = traced_tr if traced else plain_tr
            i += 1
            res = run_op(wl, tally)
            if res is None:
                continue
            walls[traced].setdefault(res.kind, []).append(res.wall)
            if not traced:
                units[res.kind] = units.get(res.kind, 0.0) + res.units
                rss.append(res.rss_mb)
        if args.trace:
            wl.tr = traced_tr
            for _ in range(wl.extra_trace_ops()):
                run_op(wl, tally)
        log("timed loop done")
        for line in tally.errors:
            print("FAILED", line)
        print(f"{args.workload} setup_s = {setup_s:.6g} s (session {session_s:.3g}, inputs "
              f"{gen_s:.3g}, builds {' '.join(f'{b:.3g}' for b in builds)}, warm-up "
              f"{warm_s:.3g}; untimed checks {checks_s:.3g})")
        plain = walls[False]
        for kind, ws in sorted(plain.items()):
            print(f"{args.workload} {kind} op walls (s): {' '.join(f'{w:.3f}' for w in ws)}")
        for name, value, unit in wl.report(plain, units):
            print(f"{args.workload} {name} = {value:.6g} {unit}")
        prim = lambda ws: [x for k, v in ws.items() if k.startswith(wl.primary) for x in v]
        # mean of the per-kind medians, so a run's mix of primary kinds
        # does not move it
        p50 = lambda ws: statistics.fmean(
            [median(v) for k, v in ws.items() if k.startswith(wl.primary)] or [math.nan])
        tl, pct, n = tail(prim(plain))
        print(f"{args.workload} op_tail_s = {tl:.6g} s (p{pct:.1f} of {n} {wl.primary} ops)")
        print(f"{args.workload} error_rate = {tally.error_rate:.6g} "
              f"({tally.n_failed} of {tally.n_attempted} ops)")
        for part in ("java", "python"):
            print(f"{args.workload} {part}_rss_mb = {median([r[part] for r in rss]):.6g} MB")

        if args.trace:
            units_of = metric_units("per_layer")
            metrics = dict.fromkeys(units_of, 0.0)
            metrics.update(wl.layer_metrics())
            ops = [o for o in traced_tr.op_stats if o["kind"].startswith(wl.primary)]
            pick = lambda key: median([o[key] for o in ops]) if ops else 0.0
            metrics.update({
                "session.jobs_per_op": pick("jobs"),
                "session.tasks_per_op": pick("tasks"),
                "session.job_busy_s": pick("job_busy_s"),
                "session.driver_gap_s": pick("driver_gap_s"),
                "session.shuffle_write_bytes_per_op": pick("shuffle_write_bytes"),
                "session.gc_s_per_op": pick("gc_s"),
            })
            metrics["trace.overhead_s"] = p50(walls[True]) - p50(plain)
            traced_tr.write(os.path.join(
                WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
            out = {k: {"value": 0.0 if math.isnan(v) else v, "unit": units_of[k]}
                   for k, v in metrics.items()}
        else:
            values = {
                "setup_s": setup_s,
                "items_per_s": rate(sum(units.values()), plain),
                "op_p50_s": p50(plain),
                "python_rss_mb": median([r["python"] for r in rss]),
            }
            units_of = metric_units("end_to_end")
            out = {k: {"value": v, "unit": units_of[k]} for k, v in values.items()}
        ok = tally.n_failed == 0 and all(not math.isnan(m["value"]) for m in out.values())
        result = {"correct": ok, "attempted": tally.n_attempted,
                  "failed": tally.n_failed, "metrics": out}
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_descendants()
        shutil.rmtree(run_root, ignore_errors=True)
        log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
