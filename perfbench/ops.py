"""The operator pass of the ``operator_mix`` workload, and its check.

A pass runs each query of ``QUERIES`` from the ``queries`` registry
over the generated tables (perfbench/tables.py) and collects it to
pandas, as a caller reading the result would.  Each result is compared
with the query's DuckDB oracle over the same parquet files: equal row
count and column names, and equal values once rows are sorted (floats
within a relative 1e-9).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

#: the registry's bench=True queries a pass runs, at least one per
#: query module.  The other 23 bench queries (the corpus_* capstones,
#: customer_entity_mart, customer_merge_upsert, the other doc_* dedup
#: tiers, the other knn_* indexes, embedding_gram_moments,
#: media_audio_neardup, the other relational and timeseries queries)
#: would take the runs past the benchmark's time budget on a loaded host.
QUERIES = (
    "bloom_filtered_revenue",
    "corpus_shard_manifest",
    "doc_minhash_dedup",
    "doc_url_canonical",
    "events_asof_order",
    "fix_title_parts",
    "fuzzy_customer_pairs",
    "knn_bruteforce",
    "knn_pq",
    "media_phash_neardup",
    "nation_trade_pagerank",
    "pricing_summary",
    "snowflake_flatten",
    "top_orders_per_nation",
    "user_sessions",
)


def queries() -> list:
    """The registry's Query objects for ``QUERIES``, in that order."""
    from musicflow_spark.queries import get_queries

    by_name = {q.name: q for q in get_queries() if q.bench}
    missing = [n for n in QUERIES if n not in by_name]
    if missing:
        raise SystemExit(f"perfbench: not bench queries of the registry: {missing}")
    return [by_name[n] for n in QUERIES]


def oracle_results(qs: list, data_dir: str) -> dict:
    """Each query's oracle result over the tables in data_dir."""
    import duckdb

    from musicflow_spark.sources.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {q.name: con.execute(q.oracle).df() for q in qs if q.oracle is not None}
    finally:
        con.close()


def run_pass(spark, qs: list, data_dir: str, expected: dict, tracer=None):
    """One pass.  Returns the seconds spent running and collecting the
    queries (the comparisons are not timed) and the problems found;
    no problems means every result equals its oracle's."""
    seconds = 0.0
    problems = []
    for q in qs:
        t0 = time.perf_counter()
        if tracer is None:
            got = q.spark(spark, data_dir).toPandas()
        else:
            with tracer.span(f"operators.query.{q.name}"):
                got = q.spark(spark, data_dir).toPandas()
        seconds += time.perf_counter() - t0
        if q.name not in expected:
            problems.append(f"{q.name}: no oracle to check against")
            continue
        problems += [f"{q.name}: {p}" for p in compare(got, expected[q.name])]
    return seconds, problems


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)}, oracle {sorted(want.columns)}"]
    g, w = _canon(got), _canon(want)
    problems = []
    for c in g.columns:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(wv):
            a, b = gv.astype(float).to_numpy(), wv.astype(float).to_numpy()
            ok = np.isclose(a, b, rtol=1e-9, atol=0.0) | (np.isnan(a) & np.isnan(b))
        else:
            ok = ((gv == wv) | (gv.isna() & wv.isna())).to_numpy()
        if not ok.all():
            problems.append(f"column {c}: {int((~ok).sum())} values differ from the oracle")
    return problems
