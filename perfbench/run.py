"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload crawl_tree --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates the workload's inputs
from the seed under ``.perfbench_work/``, starts a ``local[nproc]``
session three times (each start followed by one first-use job, the
session stopped in between), warms the last session up over every code
path the timed passes take, then repeats passes for ``--seconds`` (at
least one; a pass is not started when the last one says it would end
past the window), checks every
output against its DuckDB oracle or the generator's golden values, and
prints a summary on stderr and, as the last line of stdout, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``setup_s`` is the median session start plus the warm-up.  Only the
first start launches the JVM; the median leaves that launch out (it is
printed on stderr with the other starts).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` traces
every timed pass and reports the per-layer metrics instead, with the
traced run's own ``trace.unit_p50_s`` and ``trace.items_per_s`` (their
difference from an untraced run of the same seed is the tracing
overhead end to end) and ``trace.overhead_s``, the time the tracer and
its probes themselves took per pass.  Spans are written to
``.perfbench_work/spans-<workload>-<seed>.json``.
The exit code is 1 when any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics, probes  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

SETUPS = 3

# Input sizes per workload; counts are fixed so every seed measures
# the same volume of work (the seed moves shape, not size).
SIZES = {
    "crawl_tree": {"files": 800},
    "corpus_incremental": {"docs": 1000, "files": 2},
    "retrieval_requests": {"docs": 1000, "vecs": 800, "clients": 2},
}
# Warm-up inputs (the retrieval warm-up uses the timed corpus instead).
# ``--tiny`` runs the whole benchmark at this size.
TINY = {
    "crawl_tree": {"files": 30},
    "corpus_incremental": {"docs": 100, "files": 1},
    "retrieval_requests": {"docs": 100, "vecs": 100, "clients": 2},
}


def _first_use(spark) -> None:
    """The first job every workload runs: one code-generated SQL job."""
    spark.range(1 << 16).selectExpr("sum(id)").collect()


def _set_up(ctx: Ctx, setup_tracer: Tracer) -> list[float]:
    """Session start plus one first-use job, ``SETUPS`` times; the
    session is stopped in between.  Returns the start times."""
    from go_mapreduce_crawler_spark.session import get_spark

    times = []
    for _ in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        with setup_tracer.span("session.start"):
            ctx.spark = get_spark("perfbench", extra_conf={
                "spark.sql.warehouse.dir": os.path.join(ctx.work_dir, "warehouse")})
        _first_use(ctx.spark)
        times.append(time.perf_counter() - t0)
    return times


def _guarded(ctx: Ctx, label: str, fn, *args):
    """Call ``fn``; an exception fails the call without ending the run."""
    try:
        return fn(*args)
    except Exception as ex:
        ctx.attempt()
        ctx.fail(f"{label}: raised {type(ex).__name__}: {ex}")
        return 0, []


def _timed(ctx: Ctx, wl, seconds: float, trace: bool):
    """Passes for ``seconds``, all traced or none.  Returns the
    (wall, items, unit latencies) sample of each pass."""
    passes = []
    deadline = time.perf_counter() + seconds
    ctx.tracer.enabled = trace
    while True:
        ctx.job_group(f"pass-{len(passes)}")
        t0 = time.perf_counter()
        items, lat = _guarded(ctx, f"{wl.name} pass", wl.run_pass, ctx)
        wall = time.perf_counter() - t0
        if trace:
            ctx.record_jobs(max(1, len(lat)))
        passes.append((wall, items, lat))
        if time.perf_counter() + wall > deadline:
            ctx.tracer.enabled = False
            return passes


def _stop_processes(spark) -> None:
    """Stop the session, end the driver JVM and the Python workers it
    started, and wait until every one of them has exited."""
    if spark is not None:
        spark.stop()
    pids = probes.descendants()
    for sig, grace in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 10.0)):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)   # reap our direct children
                except ChildProcessError:
                    pass
            pids = [p for p in pids if probes.alive(p)]
            if not pids:
                return
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes")
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    probes.pin_env(ROOT, work)

    phase = {"start": time.perf_counter()}
    kind = WORKLOADS[args.workload]
    wl = kind(os.path.join(work, "inputs"), args.seed,
              (TINY if args.tiny else SIZES)[args.workload])
    warm = kind(os.path.join(work, "warm"), args.seed, TINY[args.workload])
    wl.prepare()
    warm.prepare()

    trace = bool(args.trace)
    ctx = Ctx(spark=None, tracer=Tracer(False), work_dir=work)
    setup_tracer = Tracer(trace)
    phase["generate"] = time.perf_counter()
    try:
        starts = _set_up(ctx, setup_tracer)
        phase["set-up"] = time.perf_counter()
        with setup_tracer.span("session.warmup"):
            _guarded(ctx, f"{wl.name} warm-up", wl.warm_up, ctx, warm)
        phase["warm-up"] = time.perf_counter()
        cpu0 = probes.cpu_times()
        passes = _timed(ctx, wl, args.seconds, trace)
        phase["timed"] = time.perf_counter()
        cpu1 = probes.cpu_times()
        peak = probes.peak_rss_mb()
        ctx.verify()
        phase["check"] = time.perf_counter()
    finally:
        ctx.checker.close()
        _stop_processes(ctx.spark)
    phase["stop"] = time.perf_counter()

    lat = [x for _, _, ls in passes for x in ls]
    e2e = {
        "setup_s": metrics.median(starts) + phase["warm-up"] - phase["set-up"],
        "unit_p50_s": metrics.median(lat),
        "items_per_s": sum(n for _, n, _ in passes) / sum(w for w, _, _ in passes),
    }
    if trace:
        values = metrics.per_layer(ctx.tracer, ctx.counters, len(passes))
        values["trace.unit_p50_s"] = e2e["unit_p50_s"]
        values["trace.items_per_s"] = e2e["items_per_s"]
        values["session.start_s"] = metrics.median(setup_tracer.durations("session.start"))
        values["session.warmup_s"] = metrics.median(setup_tracer.durations("session.warmup"))
        values["session.peak_rss_mb"] = peak
        ctx.tracer.spans.extend(setup_tracer.spans)
        ctx.tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
        units = metrics.PER_LAYER
    else:
        values, units = e2e, metrics.END_TO_END
    shutil.rmtree(work, ignore_errors=True)

    failed = len(ctx.failures)
    attempted = max(1, ctx.attempted)
    log = sys.stderr
    names = list(phase)
    print(f"# {args.workload} seed={args.seed} trace={int(trace)}: "
          f"{len(passes)} passes, {len(lat)} {wl.latency_of} latencies, "
          f"items are {wl.unit}s; starts {[round(s, 3) for s in starts]} s; "
          + ", ".join(f"{b} {phase[b] - phase[a]:.1f}s"
                      for a, b in zip(names, names[1:])), file=log)
    print(f"# steal: {(cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]):.1%} of CPU "
          f"time in the timed phase went to other guests", file=log)
    print("# latencies (s): " + " ".join(f"{x:.3f}" for x in lat), file=log)
    for query, xs in getattr(wl, "by_kind", {}).items():
        print(f"# {query}: median {metrics.median(xs):.3f} s of {len(xs)}", file=log)
    for name, unit in units.items():
        print(f"{name:48s} {values[name]:14.6f} {unit}", file=log)
    print(f"{'failed_ops_ratio':48s} {failed / attempted:14.6f} "
          f"({failed}/{attempted})", file=log)
    for msg in ctx.failures:
        print(f"FAILED {msg}", file=log)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
