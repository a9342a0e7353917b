"""Benchmark entry point.

    python3 perfbench/run.py --workload serving|curation|kappa_ingest \\
        --seed N --seconds S --trace 0|1

One run, in one process at ``local[nproc]`` with the library's own session
settings (``session.get_spark``; the benchmark adds only a warehouse dir,
a free UI port and the workers' PYTHONPATH):

1. generate the seed's inputs into a fresh directory (not timed);
2. set up three times: each time start a new JVM and session, then register
   the inputs through the library (``load_table`` and a count per table;
   the streaming listener for ``kappa_ingest``).  ``setup_s`` is their
   median; the last session stays up;
3. the warm-up pass: the first pass on that fresh session (cold JIT and
   codegen caches), reported as ``first_pass_s``;
4. compute the expected outputs (DuckDB oracles in a child process, or a
   batch recompute of the streaming results);
5. passes until they add up to ``--seconds``.  Each pass's outputs, the
   warm-up's included, are checked as soon as it ends, outside its timing,
   and then dropped.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end ones, with ``--trace 1`` the per-layer ones: then every
other pass is traced (spans around the benchmark's calls into each layer,
job-group counters, listener-reported epochs), the trace's overhead is the
traced passes' median against the untraced ones', and one more pass runs at
``local[1]`` for the single-core baseline.  The lines before it print the
workload's named metrics (``dashboard_refresh_s``, ``epoch_p50_s``, ...)
and ``failed_ratio``, each with its unit.

End-to-end metrics (every workload):

- ``setup_s``: median of the three set-ups (JVM and session start, input
  registration);
- ``first_pass_s``: the warm-up pass;
- ``peak_rss_mb``: peak resident set of the driver Python plus the JVM the
  passes ran on;
- ``pass_s``: median pass time (``serving``: one dashboard refresh over the
  26 reference queries; ``curation``: one pass over the curation jobs;
  ``kappa_ingest``: draining the whole backlog).

``pass_cpu_s``, the median CPU seconds one pass costs the driver Python, the
JVM and the Python workers together, is printed but not returned: across
seeds it spread more than any returned metric.

Per-operation latency (a query from ``q.fn`` call to collected result, a
curation job likewise, a streaming epoch's ``triggerExecution``) is printed
as the workload's named p50 and tail, not returned as a metric: over the
curation job mix the median falls between two jobs of different cost.

Failures travel in ``failed``/``attempted``: an operation that raised or
whose output did not match counts once.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import sys
import time
from contextlib import nullcontext

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)

LIBRARY = "bigdata_20251_steam_spark"
SETUP_REPEATS = 3
LAYERS = ("bench", "sources", "plans", "exec", "streaming", "sinks", "state")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serving", "curation", "kappa_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _setup(wl, sess, data: str, cores: int) -> tuple[object, list[float], list[float]]:
    """Set up ``SETUP_REPEATS`` times, each on a new JVM; the last stays up.
    Returns the session, the set-up times and their session-start parts."""
    times, starts = [], []
    for k in range(SETUP_REPEATS):
        if k:
            sess.close()
        t0 = time.perf_counter()
        spark = sess.start(cores)
        starts.append(time.perf_counter() - t0)
        wl.register(spark, data)
        times.append(time.perf_counter() - t0)
    return spark, times, starts


def _layer_metrics(wl, sc, traced, tracer, job_windows) -> dict[str, float]:
    """Per-layer metrics, per traced pass."""
    from . import tracing

    n = len(traced)
    spans = tracer.spans
    out = {k: 0.0 for k in PER_LAYER}
    out.update(wl.layer_metrics(sc, traced, spans, job_windows))
    selfs = tracing.self_times(spans)
    for layer in LAYERS:
        out[f"self_s.{layer}"] = selfs.get(layer, 0.0) / n
    out["trace.uncovered_share"] = sum(
        tracing.uncovered(spans, p.extra["t0"], p.extra["t1"]) for p in traced) / n
    out["trace.spans"] = len(spans) / n
    return out


PER_LAYER = {
    "session.start_s": "s", "session.jvm_rss_mb": "MB", "session.warmup_s": "s",
    "sources.load_table_calls": "count", "sources.load_table_s": "s",
    "sources.schema_jobs": "count",
    "plans.construct_s": "s", "plans.construct_jobs": "count",
    "plans.construct_job_share": "ratio",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.gc_s": "s", "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "pyudf.rows": "count", "pyudf.bytes_sent": "bytes", "pyudf.bytes_received": "bytes",
    "pyudf.worker_run_s": "s",
    "streaming.epochs": "count", "streaming.input_rows": "count",
    "streaming.latest_offset_s": "s", "streaming.query_planning_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "sinks.bronze_files": "count", "sinks.bytes_written": "bytes",
    "sinks.write_amplification": "ratio",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.uncovered_share": "ratio", "trace.overhead_share": "ratio",
    "trace.spans": "count",
    "baseline.local1_pass_s": "s", "baseline.speedup": "ratio",
}

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "peak_rss_mb": "MB", "pass_s": "s"}


def run(args) -> dict:
    from .harness import Session, WorkDir, cpu_seconds, median, nproc
    from .tracing import Tracer, max_job_id
    from .workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    cores = nproc()
    wd = WorkDir.create()
    sess = Session(wd, trace=bool(args.trace))
    tracer = Tracer(bool(args.trace))
    failures: list[str] = []
    attempted = 0
    try:
        data = wd.fresh("inputs")
        sizes = wl.make_inputs(args.seed, data)
        spark, setups, starts = _setup(wl, sess, data, cores)
        sc = spark.sparkContext
        rng = random.Random(args.seed)

        def one_pass(traced: bool):
            nonlocal attempted
            t0, cpu0 = time.perf_counter(), cpu_seconds()
            ctx = wl.traced(tracer, sc) if traced else nullcontext()
            with ctx:
                p = wl.run_pass(spark, rng, tracer if traced else Tracer(False))
            p.extra.update(t0=t0, t1=time.perf_counter(), cpu_s=cpu_seconds() - cpu0)
            attempted += wl.attempted(p)
            return p

        warm = one_pass(False)
        t_prep = time.perf_counter()
        wl.prepare(spark)
        phases = {"setups": setups, "starts": starts, "warmup": warm.seconds,
                  "prepare": time.perf_counter() - t_prep}
        failures += wl.check(spark, warm)

        traced, plain, windows = [], [], []
        measured, t_window = 0.0, time.perf_counter()
        while measured < args.seconds or not plain or (args.trace and not traced):
            trace_this = bool(args.trace) and (len(plain) + len(traced)) % 2 == 1
            if trace_this:
                a = max_job_id(sc)
            p = one_pass(trace_this)
            if trace_this:
                windows.append((a, max_job_id(sc)))
            measured += p.seconds
            failures += wl.check(spark, p)
            (traced if trace_this else plain).append(p)
        phases["window"] = time.perf_counter() - t_window

        rss, jvm_rss = sess.peak_rss_mb()
        ops_s = wl.op_seconds(plain)
        named = wl.named_metrics(plain, ops_s)
        if args.trace:
            metrics = _layer_metrics(wl, sc, traced, tracer, windows)
            metrics["trace.overhead_share"] = (
                median([p.seconds for p in traced]) / median([p.seconds for p in plain]) - 1.0)
            metrics.update({"session.start_s": median(starts), "session.jvm_rss_mb": jvm_rss,
                            "session.warmup_s": warm.seconds})
            spark = sess.start(1)
            wl.register(spark, data)
            base = wl.run_pass(spark, rng, Tracer(False))
            attempted += wl.attempted(base)
            failures += wl.check(spark, base)
            metrics["baseline.local1_pass_s"] = base.seconds
            metrics["baseline.speedup"] = base.seconds / median([p.seconds for p in plain])
            out_dir = os.path.join(_REPO, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json"),
                        jobs_by_group=wl.trace_jobs)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": median(setups),
                "first_pass_s": warm.seconds,
                "peak_rss_mb": rss,
                "pass_s": median([p.seconds for p in plain]),
            }
            units = END_TO_END
    finally:
        sess.close()
        wd.close()

    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"inputs {json.dumps(sizes, sort_keys=True)}")
    print("phases " + json.dumps(phases))
    per_op: dict[str, list[float]] = {}
    for p in plain:
        for r in p.ops:
            per_op.setdefault(r.name, []).append(r.seconds)
    print("op_median_s " + json.dumps({k: round(median(v), 4) for k, v in sorted(per_op.items())}))
    print(f"passes {len(plain)} untraced, {len(traced)} traced; operations {len(ops_s)}; "
          f"pass_s {[round(p.seconds, 3) for p in plain]}")
    for name, value, unit in [("setup_s", median(setups), "s"), ("first_pass_s", warm.seconds, "s"),
                              ("peak_rss_mb", rss, "MB"),
                              ("pass_cpu_s", median([p.extra["cpu_s"] for p in plain]), "s"),
                              ("failed_ratio", len(failures) / attempted, "ratio"), *named]:
        print(f"metric {name} {value:.6g} {unit}")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(_REPO, LIBRARY, "__init__.py")):
        print("perfbench: the library bigdata_20251_steam_spark/ is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # run as a script: import this file again as part of its package
    sys.path[:] = [_REPO] + [p for p in sys.path if p != _HERE]
    from perfbench.run import main as _main

    sys.exit(_main())
