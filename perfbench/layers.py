"""The per-layer metrics of a traced run, assembled into the catalogue that
`BENCHMARK.json` (`per_layer`) names.

Each layer call of a traced pass runs under its own Spark job group (named
after the layer); the task set of a layer is read from the event log's
`SparkListenerTaskEnd` records of that group. A traced run reports every
metric of the catalogue; a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import os

from perfbench.eventlog import GroupStats

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")


def catalogue(kind: str) -> list[tuple[str, str]]:
    """The metrics of `kind` ("end_to_end" or "per_layer") as (name, unit),
    read from BENCHMARK.json, the one list of them."""
    with open(SPEC) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def task_set(stats: GroupStats | None, wall_s: float) -> dict[str, float]:
    stats = stats or GroupStats()
    return {"wall_s": wall_s, "task_s": stats.task_s, "cpu_s": stats.cpu_s,
            "shuffle_write_mb": stats.shuffle_write_mb,
            "spill_mb": stats.spill_mb,
            "task_skew": stats.task_skew if stats.tasks else 0.0}


def assemble(groups: dict, walls: dict[str, float],
             extras: dict[str, float]) -> dict[str, dict]:
    """Metric dict for the result line: task sets of the layers in `walls`
    (keyed by job-group name), the flat `extras` ("layer.metric" -> value)
    and 0 for everything the workload did not measure."""
    values: dict[str, float] = {}
    for layer, wall in walls.items():
        for m, v in task_set(groups.get(layer), wall).items():
            values[f"{layer}.{m}"] = v
    values.update(extras)
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in catalogue("per_layer")}
