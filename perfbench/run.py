#!/usr/bin/env python3
"""Seeded, layer-traced benchmark of the batch pipeline, the streaming tail
and the near-dup operators.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run is one fresh process: it starts a
session (timed as setup_s), generates or reuses its seeded input, runs one
cold pass then warm passes for --seconds, checks every pass's outputs
against a DuckDB recount, and prints one JSON object as its last line.
--trace 0 reports the end-to-end metrics (tracing off); --trace 1 runs the
layers one at a time under Spark job groups with the event log on and
reports the per-layer metrics. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("batch_sql", "stream_tail", "near_dup")
# near_dup does not fit the run budget as a workload of BENCHMARK.json of its
# own; the traced run of stream_tail (the shortest) traces its operators too
TRACED_ALONG = {"stream_tail": "near_dup"}


def _module(workload: str):
    from perfbench import batch, near_dup, stream

    return {"batch_sql": batch, "stream_tail": stream, "near_dup": near_dup}[workload]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(res: dict, rows: int, setup_s: float, peak_rss: int,
               at_peak: dict[str, int]) -> tuple[dict, dict]:
    """(metric values, reporting detail: sample counts and tail percentiles).
    A run whose passes all failed reports 0 for what it could not measure."""
    from perfbench.common import MB, quantile, summarize

    warm, lags = _median(res["warm"]), res["lags"]
    values = {
        "setup_s": setup_s,
        "cold_pass_s": res.get("cold", 0.0),
        "pass_s": warm,
        "turns_per_s": rows / warm if warm else 0.0,
        "lag_p50_s": quantile(lags, 0.5) if lags else 0.0,
        "lag_p90_s": quantile(lags, 0.9) if lags else 0.0,
        "peak_rss_mb": peak_rss / MB,
    }
    detail = {"setup_s": {"n": 1}, "cold_pass_s": {"n": 1},
              "pass_s": summarize(res["warm"]), "lag_s": summarize(lags),
              "peak_mb_by_process": {k: round(v / MB) for k, v in at_peak.items()}}
    return values, detail


def per_layer(res: dict, evdir: str) -> tuple[dict, dict]:
    from perfbench.common import PASS_PROP
    from perfbench.eventlog import GroupStats, group_stats, read_events
    from perfbench.layers import assemble

    events = read_events(evdir)
    groups = group_stats(events, rename={rid: "streaming"
                                         for rid in res.get("stream_run_ids", ())})
    walls, extras = res.get("walls", {}), res.get("extras", {})
    if "route" in walls and "route" in groups:
        extras.setdefault("route.driver_s", walls["route"] - groups["route"].job_s)
    total = group_stats(events, PASS_PROP).get("traced", GroupStats()).task_s
    layer_task_s = sum(groups[g].task_s for g in walls if g in groups)
    extras["trace.completeness"] = layer_task_s / total if total else 0.0
    traced_s, warm = res.get("traced_s", 0.0), _median(res["warm"])
    extras["trace.overhead_s"] = traced_s - warm if traced_s and warm else 0.0
    return assemble(groups, walls, extras), {
        "traced_pass_task_s": total, "layer_task_s": layer_task_s,
        "traced_pass_s": traced_s, "untraced_pass_s": warm}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    ap.add_argument("--plant-defect", action="store_true",
                    help="corrupt a committed output before its check (self-test)")
    args = ap.parse_args()

    if importlib.util.find_spec("openlogparse_spark") is None:
        print(f"openlogparse_spark is not importable from {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    from perfbench import common
    from perfbench.layers import catalogue

    common.fit_env(common.WORK)
    work = common.fresh_dir(os.path.join(common.WORK, args.workload))
    evdir = os.path.join(work, "eventlog")
    conf = common.event_log_conf(evdir) if args.trace else {}
    spark = common.start_session(f"perfbench_{args.workload}", conf)
    setup_s = common.process_age_s()
    host = common.host_info(spark)
    wl = _module(args.workload)
    try:
        inp = wl.make_inputs(args.seed, args.size)
        with common.RssSampler() as rss:
            res = wl.run(spark, inp, work, args.seconds, bool(args.trace),
                         args.plant_defect, rss)
        if args.trace and args.workload in TRACED_ALONG:
            along = _module(TRACED_ALONG[args.workload])
            along.trace_along(spark, along.make_inputs(args.seed, args.size), res,
                              args.plant_defect)
    finally:
        common.stop_session(spark)

    if args.trace:
        metrics, detail = per_layer(res, evdir)
    else:
        values, detail = end_to_end(res, inp["rows"], setup_s, rss.peak, rss.at_peak)
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in catalogue("end_to_end")}
    tally = res["tally"]
    attempted, failed = tally.attempted, tally.failed
    report = {"workload": args.workload, "seed": args.seed, "size": args.size,
              "trace": args.trace, "host": host, "detail": detail,
              "error_rate": failed / attempted if attempted else 1.0,
              "failures": tally.failures[:20],
              "generator_late_s": res.get("generator_late_s")}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({**report, "metrics": metrics}, f, indent=1)
    print(json.dumps(report))
    for name, m in metrics.items():
        print(f"  {name:<44} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
