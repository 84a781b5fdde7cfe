"""One sync of the benchmark's user, and the correctness gate on it.

A sync is the product path: ``musicflow_pipeline(...).run()`` over the
generated sources with a ``CatalogCandidateSource`` and a match cache in
the warehouse, then ``reference_suite(ctx).run()``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

import gen

#: reference-suite checks that fail on every generated library, each
#: with its reproduction.  The gate requires the failing set to equal
#: this list exactly.
#:
#: log_for_tableau: the other-users branch of the mart is a DISTINCT
#: over playlist-level columns, so an other user's playlist holding N
#: videos contributes one row instead of N.  Reproduce with any library
#: where an other user's playlist has two or more videos (the generator
#: always makes such playlists, as real libraries have them); a 5.4K-row
#: library showed 1807 failures.
KNOWN_FAILURES = frozenset({"log_for_tableau: equal_rowcount vs stg__youtube_library"})

CACHE_DIR = "match_cache"


def config():
    from musicflow_spark.config import PipelineConfig

    return PipelineConfig(threshold_ms=gen.THRESHOLD_MS, your_channel_name=gen.YOUR_CHANNEL)


def read_inputs(spark, inputs_dir: str) -> dict:
    return {
        name: spark.read.parquet(os.path.join(inputs_dir, f"{name}.parquet"))
        for name in gen.SOURCE_TABLES + gen.CATALOG_TABLES
    }


def run_sync(spark, cfg, inputs_dir: str, warehouse: str, tracer=None):
    """Run one sync, reference suite included; returns (pipeline, model
    context, check results, seconds)."""
    from musicflow_spark.checks import reference_suite
    from musicflow_spark.matching import CatalogCandidateSource
    from musicflow_spark.plans.dag import musicflow_pipeline

    if tracer is not None:
        import spans

        reference_suite = tracer.wrap("checks.suite.reference_suite", reference_suite)
    t0 = time.perf_counter()
    sources = read_inputs(spark, inputs_dir)
    candidates = CatalogCandidateSource(
        sources["spotify_tracks"], sources["spotify_albums"], sources["spotify_playlists_others"]
    )
    pipe = musicflow_pipeline(
        spark, sources, cfg, candidates, warehouse,
        cache_path=os.path.join(warehouse, CACHE_DIR),
    )
    if tracer is not None:
        spans.wrap_tasks(tracer, pipe)
    ctx = pipe.run()
    results = reference_suite(ctx).run()
    seconds = time.perf_counter() - t0
    return pipe, ctx, results, seconds


def log_hashes(ctx) -> dict[int, int]:
    """log_id -> hash of the whole engine log row."""
    log = ctx["spotify_log"]
    rows = log.select("log_id", F.xxhash64(*log.columns).alias("h")).collect()
    return {r["log_id"]: r["h"] for r in rows}


def gate(ctx, results, truth_rows: dict[int, str | None]) -> tuple[list[str], dict]:
    """Check one sync against the planted answer.  Returns (problems,
    stats); an empty problem list means the sync is correct."""
    problems: list[str] = []
    n = len(truth_rows)
    log = ctx["spotify_log"].select(
        "log_id", F.coalesce("track_uri", "album_uri", "playlist_uri").alias("uri")
    ).collect()
    found = {r["log_id"]: r["uri"] for r in log}
    not_found = ctx["log_not_found_videos"].count()
    library = ctx["src__youtube_library"].count()
    if len(found) != len(log):
        problems.append(f"log has {len(log) - len(found)} duplicate log_id rows")
    if library != n:
        problems.append(f"library has {library} rows, generator wrote {n}")
    if len(found) + not_found != n:
        problems.append(f"conservation: found {len(found)} + not found {not_found} != {n}")
    expected = {i: u for i, u in truth_rows.items() if u is not None}
    right = sum(1 for i, u in found.items() if expected.get(i) == u)
    if found != expected:
        missing = len(expected.keys() - found.keys())
        extra = len(found.keys() - expected.keys())
        wrong = len(found) - right - extra
        problems.append(
            f"match differs from the planted answer: {missing} missed, "
            f"{extra} found without a counterpart, {wrong} wrong uri"
        )
    failing = {f"{r.table}: {r.name}" for r in results if not r.passed}
    if failing != KNOWN_FAILURES:
        problems.append(
            "reference suite failing set differs: new "
            f"{sorted(failing - KNOWN_FAILURES)}, gone {sorted(KNOWN_FAILURES - failing)}"
        )
    stats = {
        "found_ratio": len(found) / n if n else 0.0,
        "match_precision": right / len(found) if found else 0.0,
        "planted_found_ratio": len(expected) / n if n else 0.0,
    }
    return problems, stats


def written_bytes(root: str, since_ns: int) -> int:
    """Bytes of the files under root written at or after since_ns."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime_ns >= since_ns:
                total += st.st_size
    return total
