"""The ``catalog_batch`` workload: a closed loop over catalog queries.

One query runs at a time.  Each rep builds the query (the catalog
function, which for the iterative operators runs driver-side Spark
jobs) and then executes it, collecting its rows; both steps are timed.
The rows are then compared, untimed, with the query's DuckDB oracle
from ``ORACLES``.
"""

from __future__ import annotations

import math
import time
from datetime import date, datetime
from decimal import Decimal

from spans import Tracer

#: The 16 batch queries of bench.py's ANCHOR_17 series (its 17th member,
#: firehose_100k_stream, is a streaming drain and lives in live_ingest).
RELATIONAL = (
    "agg_count_distinct", "ann_topk_ivf", "dedup_exact", "filter_key",
    "join_asof", "join_star", "q1_pricing_summary", "scalar_json",
    "scalar_math", "setop_union_all", "stream_session_window", "text_stats",
    "topk_per_group", "tpch_q5", "tpch_q6", "window_ranking",
)
#: Queries whose construction runs many driver-side jobs.
ITERATIVE = (
    "graph_connected_components", "text_bpe_apply", "dedup_minhash_pairs",
    "ann_topk_ivfpq_trained",
)
GROUPS = {"relational": RELATIONAL, "iterative": ITERATIVE}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _canon(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.9g}") if v else 0.0
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(cols: list[str], names: list[str], rows) -> list[tuple]:
    idx = [names.index(c) for c in cols]
    return sorted((tuple(_canon(r[i]) for i in idx) for r in rows), key=repr)


def oracle_results(data_dir: str) -> dict[str, tuple[list[str], list]]:
    """Each query's DuckDB oracle from ``ORACLES``: column names and rows."""
    import duckdb

    from storm_dynamic_spout_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in RELATIONAL + ITERATIVE:
            cur = con.execute(ORACLES[name])
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def timed_reps(spark, data_dir: str, expected: dict, tracer: Tracer,
               seconds: float) -> tuple[dict[str, list[tuple[float, float]]], dict[str, bool]]:
    """Full passes over both groups while another pass, as long as the
    last one, still ends within ``seconds`` (at least one pass).
    Returns per query its (build_s, exec_s) reps, and whether every rep
    matched the oracle result from :func:`oracle_results`."""
    from storm_dynamic_spout_spark.queries import QUERIES

    reps: dict[str, list[tuple[float, float]]] = {n: [] for n in RELATIONAL + ITERATIVE}
    ok = dict.fromkeys(reps, True)
    end = time.perf_counter() + seconds
    while True:
        t_pass = time.perf_counter()
        for group, names in GROUPS.items():
            for name in names:
                with tracer.span(f"query/{group}"):
                    t0 = time.perf_counter()
                    with tracer.span(f"build/{group}"):
                        df = QUERIES[name](spark, data_dir)
                    t1 = time.perf_counter()
                    with tracer.span(f"exec/{group}"):
                        rows = df.collect()
                    t2 = time.perf_counter()
                reps[name].append((t1 - t0, t2 - t1))
                # the oracle check, outside the timed steps
                cols = df.columns
                onames, orows = expected[name]
                ok[name] &= sorted(onames) == sorted(cols) and (
                    _rows(cols, cols, rows) == _rows(cols, onames, orows)
                )
        now = time.perf_counter()
        if now + (now - t_pass) > end:
            return reps, ok
