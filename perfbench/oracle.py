"""DuckDB recounts of the benchmark's generated inputs: the independent
side of every correctness gate. Nothing here touches Spark.

The batch oracles are the repository's own `t_route_counts` /
`t_agg_hourly` / `jaccard_pairs` twins from `__spark_entry__.py`, pointed at
the benchmark's input instead of the committed fixture.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

import __spark_entry__ as entry
from openlogparse_spark.parse.stage import MASK_DUCKDB_EXPR


def _retarget(sql: str, input_dir: str) -> str:
    return sql.replace(entry.FIXTURE_SF_DIR, input_dir)


def footer_rows(path: str) -> int:
    """Rows in the parquet file `path`, or in every parquet file under it,
    from the footers."""
    files = ([path] if os.path.isfile(path) else
             glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _on_parsed_table(sql: str) -> str:
    """`sql` reading a materialized `parsed` table instead of re-deriving it
    through `_DUCK_PARSED_CTE` (merge, mask and mine once, not per query)."""
    cte = f"WITH {entry._DUCK_PARSED_CTE}"
    sql = sql.lstrip()
    assert sql.startswith(cte), "oracle SQL no longer opens with the parsed CTE"
    rest = sql[len(cte):].lstrip()
    return "WITH " + rest[1:] if rest.startswith(",") else rest


def batch_expected(input_dir: str) -> dict:
    """Route counts, quarantine and row totals, and the parsed rows' hourly
    rollup, for the sql parse of `input_dir`'s transcripts."""
    con = duckdb.connect()
    try:
        con.execute(_retarget(
            f"CREATE TEMP TABLE parsed AS WITH {entry._DUCK_PARSED_CTE} "
            "SELECT * FROM parsed", input_dir))
        routes = dict(con.execute(_retarget(
            _on_parsed_table(entry._T_ROUTE_COUNTS_SQL), input_dir)).fetchall())
        n_rows, n_ok = con.execute(
            "SELECT COUNT(*), COUNT(*) FILTER (WHERE parse_ok) FROM parsed").fetchone()
        hourly = sorted(con.execute(_on_parsed_table(entry._T_AGG_HOURLY_SQL)).fetchall())
    finally:
        con.close()
    return {"routes": routes, "rows": n_rows, "parse_ok": n_ok,
            "quarantine": n_rows - n_ok, "agg_hourly": hourly}


def agg_hourly_rows(path: str) -> tuple[list, int]:
    """(parsed rows' hourly rollup, quarantined turns) read back from the
    pipeline's `agg_hourly` output; quarantined rows carry a null template."""
    con = duckdb.connect()
    try:
        src = f"read_parquet('{path}/**/*.parquet')"
        ok = sorted(con.execute(
            f"SELECT template_id, tool, hour_bucket, n_turns, n_convs FROM {src} "
            "WHERE template_id IS NOT NULL").fetchall())
        bad = con.execute(
            f"SELECT coalesce(SUM(n_turns), 0) FROM {src} "
            "WHERE template_id IS NULL").fetchone()[0]
    finally:
        con.close()
    return ok, int(bad)


def stream_route_counts(files: list[str], templates, dim_tools_path: str,
                        routes: list[dict]) -> dict[str, int]:
    """Per-route rows the streaming route sink must emit for `files`:
    masked template, template-table lookup, dim_tools left join (no
    'unknown' fallback on the streaming path) and each route's template
    pattern and condition — parse_ok is not a route gate there."""
    con = duckdb.connect()
    try:
        con.register("templates", templates)
        file_list = ", ".join(f"'{f}'" for f in files)
        con.execute(f"""
            CREATE VIEW enriched AS
            SELECT m.*, t.template_id, dt.category, dt.risk
            FROM (SELECT *, {MASK_DUCKDB_EXPR} AS template
                  FROM read_parquet([{file_list}])) m
            LEFT JOIN templates t USING (template)
            LEFT JOIN '{dim_tools_path}' dt USING (tool)""")
        sums = ", ".join(
            f"COUNT(*) FILTER (WHERE regexp_matches(template, '{r['template_pattern']}')"
            f" AND ({r['condition']}))" for r in routes)
        row = con.execute(f"SELECT {sums} FROM enriched").fetchone()
    finally:
        con.close()
    return {r["route_id"]: int(n) for r, n in zip(routes, row)}


def jaccard_expected(docs_path: str) -> dict[tuple[int, int], float]:
    """The `jaccard_pairs` DuckDB twin (n=3, threshold 0.2)."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
        rows = con.execute(entry._JACCARD_SQL).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)): float(j) for a, b, j in rows}
