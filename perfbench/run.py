"""Crawl + analytics benchmark.

    python3 perfbench/run.py --workload {crawl_rounds,query_suite} \\
        --seed N --seconds S --trace {0,1}

Runs one workload on ``local[nproc]`` from this one driver process and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1`` (``perfbench/metrics.py``). The line before it is a JSON
record of the host (nproc, SPARK_GRAFT_CPUS, load at start and end,
git commit, Spark and Python versions) and the raw samples behind the
metrics; the same record, and the spans of a traced run, are written
to ``.perfbench_out/``. Everything the run writes stays inside the
checkout, and the JVM and its Python workers have exited before the
result is printed.

Untraced (``--trace 0``): one set-up (JVM launch, session with its
warm-up, the crawl's seed list), then measured passes until ``--seconds``
have passed, at least one. Traced (``--trace 1``): a session with the
Spark event log on and one pass with spans around every engine call;
the per-layer metrics describe that pass. The tracing overhead is
measured after it in the same session: one more pass warms the session
up (the second pass still ran up to 40% slower than later ones on a
4-core host), then passes run traced, untraced, traced, and the overhead
is the mean traced wall minus the untraced wall, so a steady drift of
the session cancels out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("crawl_rounds", "query_suite")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_workload(name: str, seed: int, work: str):
    if name == "crawl_rounds":
        from perfbench.crawl_workload import CrawlRounds

        return CrawlRounds(seed, work)
    from perfbench.query_workload import QuerySuite

    return QuerySuite()


def setup(wl, event_log: bool):
    """The timed set-up: JVM launch, ``get_spark`` with its warm-up, and
    the workload's input. Returns (session, set-up s, get_spark s)."""
    t0 = time.time()
    spark = harness.start_session(harness.WORK_DIR, event_log)
    get_spark_s = time.time() - t0
    wl.prepare(spark)
    return spark, time.time() - t0, get_spark_s


def overhead_passes(wl, spark, run_id: str) -> tuple[list, float]:
    """A warm-up pass, then passes traced, untraced, traced (their spans
    kept apart from the measured pass's); returns them and the mean
    traced wall minus the untraced wall."""
    from perfbench.spans import Tracer

    def traced_pass():
        return wl.run_pass(spark, Tracer(run_id=f"{run_id}-overhead"))

    passes = [wl.run_pass(spark), traced_pass(), wl.run_pass(spark), traced_pass()]
    walls = [wl.pass_wall(p) for p in passes]
    return passes, (walls[1] + walls[3]) / 2 - walls[2]


def run(args, wl=None) -> tuple[dict, dict]:
    """One run; ``wl`` overrides the workload built from ``args``."""
    from perfbench import metrics

    wl = wl or make_workload(args.workload, args.seed, harness.WORK_DIR)
    source = harness.source_hash()
    info = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
            "source_hash": source, "host_start": harness.host_info()}
    t0 = time.time()
    spark, setup_s, get_spark_s = setup(wl, event_log=bool(args.trace))
    tracer = None
    if args.trace:
        from perfbench.spans import Tracer

        tracer = Tracer(run_id=f"{wl.name}-{args.seed}")
        with tracer.span("pass"):
            passes = [wl.run_pass(spark, tracer)]
        extra, overhead_s = overhead_passes(wl, spark, tracer.run_id)
        passes += extra
    else:
        t_pass = time.time()
        passes = []
        while not passes or time.time() - t_pass < args.seconds:
            passes.append(wl.run_pass(spark))
    rss = harness.tree_peak_rss_mb()
    info["measured_at_s"] = time.time() - t0
    info["peak_rss_mb_by_process"] = rss

    failures: list[str] = []
    attempted = 0
    for p in passes:
        failures += wl.check_pass(p)
        attempted += wl.attempted(p)
    layer: dict[str, float] = {}
    if tracer is not None:
        try:
            extra, extra_failures = wl.traced_layers(spark, passes[0], tracer)
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            extra, extra_failures = {}, [f"traced layers: {type(e).__name__}: {e}"]
            attempted += 1
        layer.update(extra)
        failures += extra_failures
    harness.shutdown_jvm()
    info.update({
        "checked_at_s": time.time() - t0,
        "host_end": harness.host_info(),
        "setup_s": setup_s,
        "pass_walls_s": [wl.pass_wall(p) for p in passes],
        "passes": [wl.describe(p) for p in passes],
        "failures": failures,
    })

    if tracer is not None:
        layer.update(traced_spark_layers(wl, passes[0], tracer))
        layer["session.get_spark_s"] = get_spark_s
        layer["trace.overhead_s"] = overhead_s
        values = layer
        units = metrics.PER_LAYER
        os.makedirs(harness.OUT_DIR, exist_ok=True)
        tracer.dump(os.path.join(harness.OUT_DIR, f"spans_{wl.name}_{args.seed}.json"))
        info["self_time_s"] = tracer.self_times()
    else:
        try:
            values = dict(wl.end_to_end(passes))
        except (ArithmeticError, statistics.StatisticsError):
            if not failures:
                raise
            values = {}  # nothing completed to measure; the run is failed
        values["setup_s"] = setup_s
        values["peak_rss_mb"] = sum(rss.values())
        units = metrics.END_TO_END
    # a layer the workload does not run, or a failed run's missing
    # figures, read 0
    values = {k: values.get(k, 0) for k in units}
    return info, {
        "correct": not failures,
        "attempted": attempted,
        "failed": min(attempted, len(failures)),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def traced_spark_layers(wl, traced, tracer) -> dict:
    """spark.* over the traced pass and the workload's own windows,
    from the event log (read after the session stopped and flushed it)."""
    from perfbench import eventlog

    span = tracer.named("pass")[0]
    windows = {"pass": (span.start, span.end), **wl.windows(traced)}
    ev = eventlog.summarize(
        eventlog.read_events(os.path.join(harness.WORK_DIR, "eventlog")), windows
    )
    out = {f"spark.{k}": v for k, v in ev["pass"].items()}
    out.update(wl.spark_layers(traced, ev))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    harness.prepare_env()
    try:
        info, result = run(args)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(harness.WORK_DIR, ignore_errors=True)
    os.makedirs(harness.OUT_DIR, exist_ok=True)
    name = f"{args.workload}_{args.seed}_trace{args.trace}.json"
    with open(os.path.join(harness.OUT_DIR, name), "w") as f:
        json.dump({"info": info, "result": result}, f, indent=1, default=str)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
