"""batch_sql: `run_pipeline` with the PipelineConfig/CLI defaults (sql
parse, a staged `enriched` table, the manifest) on seeded transcripts.

The production default: the merge window, the JVM mask, the route fan-out
write and the txn replay do the work; no Python parse runs.
"""

from __future__ import annotations

import gc
import glob
import os
import time

import pandas as pd

from openlogparse_spark.manifest import Manifest, _dir_bytes, atomic_overwrite
from openlogparse_spark.pipeline import PipelineConfig, run_pipeline

from perfbench import oracle
from perfbench.common import (
    MB, RssSampler, Tally, TimedManifest, Timer, fresh_dir, job_group, more_passes,
    tagged_pass)
from perfbench.inputs import transcripts

# 200k raw turns: per-turn work (merge window, mask, route write) is over half
# of a warm pass; a pass has ~6.5 s of fixed cost on 4 cores (see NOTES.md)
SIZES = {"full": 200_000, "tiny": 2_000}


def make_inputs(seed: int, size: str) -> dict:
    d = transcripts("batch_sql", SIZES[size], seed)
    routes = pd.read_parquet(os.path.join(d, "routes.parquet")).to_dict("records")
    return {"dir": d, "routes": routes, "expected": oracle.batch_expected(d),
            "rows": oracle.footer_rows(os.path.join(d, "transcripts.parquet"))}


def plant_defect(out_root: str) -> None:
    """Delete one committed data file of a non-empty sink."""
    files = sorted(glob.glob(os.path.join(out_root, "sinks", "*", "**", "*.parquet"),
                             recursive=True))
    os.remove(files[0])


def check(out_root: str, inp: dict) -> list[str]:
    """Correctness gate over one pass's committed outputs; returns the
    failures (empty when the pass is correct)."""
    exp = inp["expected"]
    counts = Manifest(os.path.join(out_root, "manifest")).counts_by_sink()
    bad = []
    sinks = {r["route_id"]: r["sink"] for r in inp["routes"]}
    sinks["quarantine"] = "quarantine"
    want = {**exp["routes"], "quarantine": exp["quarantine"]}
    for rid, sink in sinks.items():
        path = os.path.join(out_root, "sinks", sink)
        recorded = counts.get(("route", path))
        on_disk = oracle.footer_rows(path)
        if recorded != want[rid] or on_disk != want[rid]:
            bad.append(f"{rid}: manifest {recorded}, files {on_disk}, oracle {want[rid]}")
    rows_in = counts.get(("enrich", os.path.join(out_root, "enriched")))
    quarantined = counts.get(("route", os.path.join(out_root, "sinks", "quarantine")), 0)
    if rows_in != exp["rows"] or rows_in != exp["parse_ok"] + quarantined:
        bad.append(f"conservation: rows_in {rows_in}, oracle {exp['rows']} = "
                   f"{exp['parse_ok']} parsed + {exp['quarantine']} quarantined")
    hourly, quarantined = oracle.agg_hourly_rows(os.path.join(out_root, "agg_hourly"))
    if hourly != exp["agg_hourly"] or quarantined != exp["quarantine"]:
        bad.append("agg_hourly differs from the DuckDB recount")
    return bad


def _sink_lags(out_root: str, t0: float) -> list[float]:
    """Commit time of every route sink and aggregate, less the pass start."""
    df = Manifest(os.path.join(out_root, "manifest")).load()
    df = df[df["stage"].isin(["route", "aggregate"])]
    finished = (df["finished"] - pd.Timestamp(0)).dt.total_seconds()
    return [f - t0 for f in finished]


def _untraced_pass(spark, inp: dict, out_root: str) -> tuple[float, float]:
    """(wall, start time) of one `run_pipeline` into a fresh `out_root`."""
    fresh_dir(out_root)
    gc.collect()
    t0 = time.time()
    run_pipeline(spark, PipelineConfig(
        input_path=os.path.join(inp["dir"], "transcripts.parquet"),
        dims_dir=inp["dir"], output_root=out_root, run_id="bench"))
    return time.time() - t0, t0


def _traced_pass(spark, inp: dict, out_root: str) -> tuple[dict, dict, TimedManifest]:
    """The pipeline's layers called one at a time, each under its own job
    group, in the order and with the arguments `run_pipeline` uses."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from openlogparse_spark.aggregate import agg_hourly, conv_outcomes, conv_stats
    from openlogparse_spark.enrich import enrich_stage
    from openlogparse_spark.parse import merge_row_pieces, parse_stage
    from openlogparse_spark.parse.stage import MASK_SQL_EXPR, mine_template_table
    from openlogparse_spark.route import route_stage
    from openlogparse_spark.route.router import safe_count

    fresh_dir(out_root)
    d = inp["dir"]
    man = TimedManifest(os.path.join(out_root, "manifest"))
    walls, extras = {}, {}

    def layer(name):
        t = Timer()
        walls[name] = t
        return t

    transcripts_df = spark.read.parquet(os.path.join(d, "transcripts.parquet"))
    dim_tools = spark.read.parquet(os.path.join(d, "dim_tools.parquet"))
    dim_roles = spark.read.parquet(os.path.join(d, "dim_roles.parquet"))
    with job_group(spark, "parse.merge"), layer("parse.merge"):
        merged = merge_row_pieces(transcripts_df).persist(StorageLevel.MEMORY_AND_DISK)
        extras["parse.merge.rows_out"] = merged.count()
    with job_group(spark, "parse.mask"), layer("parse.mask"):
        masked = merged.withColumn("template", F.expr(MASK_SQL_EXPR)) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        masked.count()
    merged.unpersist()
    with job_group(spark, "parse.mine"), layer("parse.mine"):
        plan = mine_template_table(masked, min_support=2, mode="sql")
        rows = plan.collect()
        templates = spark.createDataFrame(rows, schema=plan.schema)
        extras["parse.mine.templates"] = len(rows)
    with job_group(spark, "parse.apply"), layer("parse.apply"):
        parsed = parse_stage(masked, templates=templates, mode="sql",
                             merge_pieces=False).persist(StorageLevel.MEMORY_AND_DISK)
        parsed.count()
        extras["parse.apply.quarantined"] = parsed.filter("NOT parse_ok").count()
    masked.unpersist()
    enriched_path = os.path.join(out_root, "enriched")
    with job_group(spark, "enrich"), layer("enrich"):
        t0 = time.time()
        atomic_overwrite(enrich_stage(parsed, dim_tools, dim_roles), enriched_path)
        man.record("bench", "enrich", enriched_path, safe_count(spark, enriched_path),
                   _dir_bytes(enriched_path), started=t0)
    parsed.unpersist()
    enriched = spark.read.parquet(enriched_path)

    routes = inp["routes"]
    fanout = [{**r, "condition": f"({r['condition']}) AND parse_ok"} for r in routes] + [
        {"route_id": "quarantine", "sink": "quarantine", "template_pattern": "",
         "condition": "NOT parse_ok"}]
    sinks = os.path.join(out_root, "sinks")
    with job_group(spark, "route"), layer("route"):
        route_stage(enriched, fanout, sinks, man, "bench", 64,
                    upstream_partitions=len(enriched.inputFiles()))
    extras["route.files"] = len(glob.glob(os.path.join(sinks, "**", "*.parquet"),
                                          recursive=True))
    extras["route.mb_written"] = _dir_bytes(sinks) / MB

    for group, name, df in (
        ("aggregate.hourly", "agg_hourly", agg_hourly(enriched)),
        ("aggregate.conv_stats", "conv_stats", conv_stats(enriched)),
        ("aggregate.txn", "conv_outcomes", conv_outcomes(enriched.filter("parse_ok"))),
    ):
        path = os.path.join(out_root, name)
        with job_group(spark, group), layer(group):
            atomic_overwrite(df, path)
            man.record("bench", "aggregate", path, safe_count(spark, path),
                       _dir_bytes(path))
    return {k: t.s for k, t in walls.items()}, extras, man


def run(spark, inp: dict, work: str, seconds: float, trace: bool,
        defect: bool, rss: RssSampler) -> dict:
    tally = Tally()
    res = {"tally": tally, "warm": [], "lags": []}
    out_root = os.path.join(work, "out")

    def gated_pass() -> tuple[float, list[float]] | None:
        """(wall, sink lags) of one checked pass."""
        with rss.measuring():
            out = tally.attempt(_untraced_pass, spark, inp, out_root)
        if not out:
            return None
        lags = _sink_lags(out_root, out[1])
        if defect:
            plant_defect(out_root)
        tally.record(check(out_root, inp))
        return out[0], lags

    cold = gated_pass()
    if cold:
        res["cold"] = cold[0]
    if trace:
        warm = gated_pass()
        if warm:
            res["warm"].append(warm[0])
        with tagged_pass(spark, "traced"):
            t0 = time.perf_counter()
            traced = tally.attempt(_traced_pass, spark, inp, out_root)
            res["traced_s"] = time.perf_counter() - t0
        if traced:
            res["walls"], res["extras"], man = traced
            res["extras"].update(man.metrics())
            if defect:
                plant_defect(out_root)
            tally.record(check(out_root, inp))
        return res
    start, passes = time.perf_counter(), 0
    while more_passes(start, passes, seconds):
        passes += 1
        warm = gated_pass()
        if warm:
            res["warm"].append(warm[0])
            res["lags"].extend(warm[1])
    return res
