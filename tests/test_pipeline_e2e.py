"""End-to-end pipeline test: sources -> ingest -> cache-aware match ->
parquet warehouse -> staged models/intermediates/marts -> the full
ported dbt check suite, then an idempotent warm re-run.  This is the
'a reference user could switch' proof: the whole flow, one call."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from musicflow_spark.checks import reference_suite
from musicflow_spark.config import PipelineConfig
from musicflow_spark.matching import CatalogCandidateSource
from musicflow_spark.plans.dag import musicflow_pipeline

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def pipeline_run(spark, musicflow_sources, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    cache = os.path.join(wh, "match_cache")
    source = CatalogCandidateSource(
        musicflow_sources["spotify_tracks"],
        musicflow_sources["spotify_albums"],
        musicflow_sources["spotify_playlists_others"],
    )
    pipe = musicflow_pipeline(spark, musicflow_sources, CFG, source, wh, cache_path=cache)
    ctx = pipe.run()
    return pipe, ctx, wh


@pytest.mark.slow
def test_marts_materialized_as_parquet(pipeline_run):
    _, ctx, wh = pipeline_run
    for mart in ("log_found_videos", "log_not_found_videos", "log_for_tableau", "spotify_log"):
        assert os.path.isdir(os.path.join(wh, mart)), mart
        assert ctx[mart].count() >= 0


def test_engine_log_feeds_models_consistently(pipeline_run):
    _, ctx, _ = pipeline_run
    assert ctx["spotify_log"].count() > 0
    # conservation: every library row is found or not-found
    total = ctx["src__youtube_library"].count()
    found = ctx["int_join_spotify_uris"].count()
    not_found = ctx["log_not_found_videos"].count()
    assert total == found + not_found
    # matched rows carry exactly one uri
    bad = ctx["spotify_log"].filter(
        (
            F.col("album_uri").isNotNull().cast("int")
            + F.col("playlist_uri").isNotNull().cast("int")
            + F.col("track_uri").isNotNull().cast("int")
        )
        != 1
    )
    assert bad.count() == 0


@pytest.mark.slow
def test_reference_check_suite_green_on_engine_output(pipeline_run):
    # the ~170 ported dbt assertions hold on ENGINE-PRODUCED data, not
    # just the hand-written fixture log
    _, ctx, _ = pipeline_run
    suite = reference_suite(ctx)
    failing = [r for r in suite.run() if not r.passed]
    assert failing == [], "\n".join(str(r) for r in failing)


@pytest.mark.slow
def test_warm_rerun_is_idempotent(spark, musicflow_sources, pipeline_run):
    pipe, ctx, wh = pipeline_run
    cold_log = sorted(
        tuple(r)
        for r in ctx["spotify_log"]
        .select("log_id", "track_uri", "album_uri", "playlist_uri", "status")
        .collect()
    )

    class NoSearch:
        def search(self, queries, kind, limit):
            raise AssertionError("warm pipeline re-run must not search")

    warm_pipe = musicflow_pipeline(
        spark, musicflow_sources, CFG, NoSearch(), wh,
        cache_path=os.path.join(wh, "match_cache"),
    )
    ctx2 = warm_pipe.run()
    warm_log = sorted(
        tuple(r)
        for r in ctx2["spotify_log"]
        .select("log_id", "track_uri", "album_uri", "playlist_uri", "status")
        .collect()
    )
    assert warm_log == cold_log
