"""stream_tail: catch-up, then tail, over seeded log segments.

The pre-framed turns (`transcripts_logical`) are cut in `ts` order into
shard files. A backlog of shards is in the watched directory at start and
is drained first; then the main thread drops further shards on a fixed schedule
(open loop, DROP_INTERVAL_S apart) while the queries run on their own
threads. Two queries read the directory:
`stream_parse_enrich` -> `foreachBatch(stream_routed_sink(..., manifest))`
and `stream_hourly_counts` -> a noop sink.

The same parse, enrich, route and manifest layers as the batch pipeline run
once per micro-batch: many small writes and manifest records, plus trigger
overhead and the state store, none of which a batch workload touches.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import shutil
import statistics
import time

import pandas as pd

from perfbench import oracle
from perfbench.common import (
    MB, RssSampler, Tally, TimedManifest, Timer, fresh_dir, job_group, more_passes,
    tagged_pass)
from perfbench.inputs import stream_shards

# (turns, backlog shards, tail shards)
# 16 tail shards: lag_p90_s is a quantile of one sample per shard
SIZES = {"full": (96_000, 8, 16), "tiny": (3_000, 4, 3)}
# one shard every 1.0 s: about half the catch-up rate (8 shards of 4k turns in
# 3-7 s with two triggers per query, as the host's speed drifts) on 4 cores
DROP_INTERVAL_S = 1.0
CONSUME_TIMEOUT_S = 60.0


def make_inputs(seed: int, size: str) -> dict:
    n, backlog, tail = SIZES[size]
    d = stream_shards("stream_tail", n, seed, backlog + tail)
    shards = sorted(glob.glob(os.path.join(d, "shards", "*.parquet")))
    routes = pd.read_parquet(os.path.join(d, "routes.parquet")).to_dict("records")
    backlog_turns = sum(oracle.footer_rows(f) for f in shards[:backlog])
    return {"dir": d, "backlog": shards[:backlog], "tail": shards[backlog:],
            "routes": routes, "rows": backlog_turns}


def _drop(src: str, in_dir: str) -> None:
    """Publish a shard atomically: file sources skip `_`-prefixed names."""
    name = os.path.basename(src)
    tmp = os.path.join(in_dir, "_" + name)
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(in_dir, name))


def _consumed(ck: str) -> dict[str, float]:
    """file name -> commit time of the micro-batch that consumed it, from
    the checkpoint's file-source log and commit log."""
    batch_of: dict[str, int] = {}
    for f in glob.glob(os.path.join(ck, "sources", "0", "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_of[os.path.basename(e["path"])] = e["batchId"]
    out = {}
    for name, b in batch_of.items():
        commit = os.path.join(ck, "commits", str(b))
        if os.path.exists(commit):
            out[name] = os.path.getmtime(commit)
    return out


class _Stream:
    """One catch-up (and optional tail) run of the two queries over a fresh
    input directory, checkpoint and sink root."""

    def __init__(self, spark, inp: dict, templates, root: str):
        from openlogparse_spark.streaming import stream_hourly_counts, stream_parse_enrich
        from openlogparse_spark.streaming.jobs import stream_routed_sink, stream_source

        self.root = fresh_dir(root)
        self.in_dir = os.path.join(root, "in")
        self.sinks = os.path.join(root, "sinks")
        self.cks = [os.path.join(root, "ck_route"), os.path.join(root, "ck_hourly")]
        os.makedirs(self.in_dir)
        for f in inp["backlog"]:
            _drop(f, self.in_dir)
        dim_tools = spark.read.parquet(os.path.join(inp["dir"], "dim_tools.parquet"))
        self.route_s = 0.0
        self.manifest = TimedManifest(os.path.join(root, "manifest"))
        sink_fn = stream_routed_sink(inp["dir"], self.sinks, manifest=self.manifest)

        def timed_sink(batch_df, batch_id):
            t0 = time.perf_counter()
            sink_fn(batch_df, batch_id)
            self.route_s += time.perf_counter() - t0

        gc.collect()
        self.t0 = time.perf_counter()
        parsed = stream_parse_enrich(stream_source(spark, self.in_dir), templates, dim_tools)
        # the sink re-joins dim_tools per micro-batch: hand it the parsed rows
        # without the dims columns, or the second join's columns are ambiguous
        self.queries = [
            parsed.drop("category", "risk", "side_effects").writeStream
            .foreachBatch(timed_sink).option("checkpointLocation", self.cks[0]).start(),
            stream_hourly_counts(parsed.filter("parse_ok")).writeStream
            .outputMode("append").format("noop")
            .option("checkpointLocation", self.cks[1]).start(),
        ]

    def drain(self) -> float:
        for q in self.queries:
            q.processAllAvailable()
        return time.perf_counter() - self.t0

    def tail(self, shards: list[str]) -> tuple[list[float], float, int]:
        """Drop `shards` on the open-loop schedule; returns (lag per dropped
        shard from its due time to the last commit that consumed it, how late
        the generator ran at worst, shards never consumed)."""
        due: dict[str, float] = {}
        late, start = 0.0, time.time()
        for i, f in enumerate(shards):
            when = start + i * DROP_INTERVAL_S
            time.sleep(max(0.0, when - time.time()))
            _drop(f, self.in_dir)
            due[os.path.basename(f)] = when
            late = max(late, time.time() - when)
        deadline = time.time() + CONSUME_TIMEOUT_S
        while True:
            done = [_consumed(ck) for ck in self.cks]
            missing = [n for n in due if any(n not in d for d in done)]
            if not missing or time.time() > deadline:
                break
            time.sleep(0.05)
        lags = [max(d[n] for d in done) - due[n] for n in due if n not in missing]
        return lags, late, len(missing)

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def routed(self) -> dict[str, int]:
        out = {}
        for path in glob.glob(os.path.join(self.sinks, "batch=*", "route_id=*")):
            rid = path.rsplit("route_id=", 1)[1]
            out[rid] = out.get(rid, 0) + oracle.footer_rows(path)
        return out

    def progress(self) -> list[list[dict]]:
        return [[json.loads(p.json) for p in q.recentProgress] for q in self.queries]

    def run_ids(self) -> list[str]:
        return [str(q.runId) for q in self.queries]


def _streaming_metrics(progress: list[list[dict]], route_s: float) -> dict:
    batches = [p for ps in progress for p in ps]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in batches]
    rows = [p["numInputRows"] for p in batches if p["numInputRows"]]
    state = [p["stateOperators"][0] for p in progress[1][-1:] if p["stateOperators"]]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_s_p50": statistics.median(trig) if trig else 0.0,
        "streaming.batch_s_max": max(trig, default=0.0),
        "streaming.planning_s": sum(p["durationMs"].get("queryPlanning", 0)
                                    for p in batches) / 1000,
        "streaming.commit_s": sum(p["durationMs"].get("commitOffsets", 0)
                                  + p["durationMs"].get("walCommit", 0)
                                  for p in batches) / 1000,
        "streaming.rows_per_batch": statistics.median(rows) if rows else 0,
        "streaming.state_rows": state[0]["numRowsTotal"] if state else 0,
        "streaming.state_mb": state[0]["memoryUsedBytes"] / MB if state else 0.0,
        "streaming.route_batch_s": route_s,
    }


def run(spark, inp: dict, work: str, seconds: float, trace: bool,
        defect: bool, rss: RssSampler) -> dict:
    """Untraced: a cold catch-up followed by the tail (lags), then warm
    catch-ups for `seconds`. Traced: a cold and a warm catch-up, then the
    layers one at a time and a catch-up plus tail under the streaming layer."""
    from openlogparse_spark.parse.stage import mine_template_table

    tally = Tally()
    res = {"tally": tally, "warm": [], "lags": []}
    batch = spark.read.parquet(*inp["backlog"], *inp["tail"])
    plan = mine_template_table(batch, min_support=2)
    rows = plan.collect()
    templates = spark.createDataFrame(rows, schema=plan.schema)
    templates_pdf = pd.DataFrame([r.asDict() for r in rows])

    def check(s: _Stream, unconsumed: int) -> list[str]:
        if defect:
            os.remove(sorted(glob.glob(os.path.join(s.sinks, "batch=*", "*", "*.parquet")))[0])
        files = sorted(glob.glob(os.path.join(s.in_dir, "*.parquet")))
        want = oracle.stream_route_counts(
            files, templates_pdf, os.path.join(inp["dir"], "dim_tools.parquet"),
            inp["routes"])
        got = s.routed()
        bad = [f"{r}: routed {got.get(r, 0)}, oracle {n}"
               for r, n in want.items() if got.get(r, 0) != n]
        if unconsumed:
            bad.append(f"{unconsumed} dropped shards never consumed")
        return bad

    def stream_pass(tag: str, tail: list[str]) -> tuple[float, _Stream] | None:
        """Catch up on the backlog, then drop `tail`; (catch-up wall, run)."""
        with rss.measuring():
            out = tally.attempt(_run_stream, spark, inp, templates,
                                os.path.join(work, tag), tail)
        if out is None:
            return None
        s, wall, lags, late, missing = out
        if tail:
            res["lags"].extend(lags)
            res["generator_late_s"] = late
        tally.record(check(s, missing))
        return wall, s

    tail = inp["tail"]
    cold = stream_pass("cold", [] if trace else tail)
    if cold:
        res["cold"] = cold[0]
    if trace:
        warm = stream_pass("warm", [])
        if warm:
            res["warm"].append(warm[0])
        with tagged_pass(spark, "traced"):
            walls, extras = tally.attempt(_traced_layers, spark, inp, work) or ({}, {})
            with Timer() as t:
                traced = stream_pass("traced", tail)
        walls["streaming"] = t.s
        if traced:
            # comparable with the untraced catch-up: the layer calls plus the
            # traced catch-up, without the tail's fixed drop schedule
            res["traced_s"] = sum(walls.values()) - t.s + traced[0]
            s = traced[1]
            res["stream_run_ids"] = s.run_ids()
            extras.update(_streaming_metrics(s.progress(), s.route_s))
            extras.update(s.manifest.metrics())
        res["walls"], res["extras"] = walls, extras
        return res
    start, passes = time.perf_counter(), 0
    while more_passes(start, passes, seconds):
        passes += 1
        warm = stream_pass("warm", [])
        if warm:
            res["warm"].append(warm[0])
    return res


def _run_stream(spark, inp: dict, templates, root: str, tail: list[str]):
    """Catch up on the backlog, then drop `tail`: (run, catch-up wall, lags,
    generator lateness, shards never consumed)."""
    s = _Stream(spark, inp, templates, root)
    try:
        wall = s.drain()
        lags, late, missing = s.tail(tail) if tail else ([], 0.0, 0)
    finally:
        s.stop()
    return s, wall, lags, late, missing


def _traced_layers(spark, inp: dict, work: str) -> tuple[dict, dict]:
    """Mine, mask, apply, enrich and route called one at a time on the
    backlog as a static batch, each under its own job group. Apply and
    enrich are the two joins of `stream_parse_enrich` (templates, then
    dim_tools), run apart on the persisted masked rows so that neither layer
    repeats the mask."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from openlogparse_spark.manifest import Manifest
    from openlogparse_spark.parse.stage import MASK_SQL_EXPR, mine_template_table
    from openlogparse_spark.streaming.jobs import TRANSCRIPT_SCHEMA, stream_routed_sink

    walls, extras = {}, {}
    backlog = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*inp["backlog"])
    dim_tools = spark.read.parquet(os.path.join(inp["dir"], "dim_tools.parquet"))
    with job_group(spark, "parse.mine"), Timer() as t:
        plan = mine_template_table(backlog, min_support=2)
        rows = plan.collect()
        templates = spark.createDataFrame(rows, schema=plan.schema)
    walls["parse.mine"] = t.s
    extras["parse.mine.templates"] = len(rows)
    with job_group(spark, "parse.mask"), Timer() as t:
        masked = backlog.withColumn("template", F.expr(MASK_SQL_EXPR)) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        masked.count()
    walls["parse.mask"] = t.s
    with job_group(spark, "parse.apply"), Timer() as t:
        parsed = masked.join(F.broadcast(templates.select("template", "template_id", "op")),
                             "template", "left") \
            .withColumn("parse_ok", F.col("template_id").isNotNull()) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        extras["parse.apply.quarantined"] = parsed.filter("NOT parse_ok").count()
    walls["parse.apply"] = t.s
    masked.unpersist()
    with job_group(spark, "enrich"), Timer() as t:
        parsed.join(F.broadcast(dim_tools), "tool", "left") \
            .write.format("noop").mode("overwrite").save()
    walls["enrich"] = t.s
    root = fresh_dir(os.path.join(work, "traced_route"))
    sinks = os.path.join(root, "sinks")
    # the sink joins dim_tools itself, as in the streaming query
    with job_group(spark, "route"), Timer() as t:
        stream_routed_sink(inp["dir"], sinks, manifest=Manifest(
            os.path.join(root, "manifest")))(parsed, 0)
    walls["route"] = t.s
    parsed.unpersist()
    files = glob.glob(os.path.join(sinks, "**", "*.parquet"), recursive=True)
    extras["route.files"] = len(files)
    extras["route.mb_written"] = sum(os.path.getsize(f) for f in files) / MB
    return walls, extras
