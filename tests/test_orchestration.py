"""Reference DAGs as Pipelines, the engine pipeline's task graph, and
the auth/token retry contract — the deployment-surface layer."""

from __future__ import annotations

import pytest

from musicflow_spark.plans.airflow_dags import (
    setup_dag_spec,
    unlike_dag_spec,
    ytmusicapi_dag_spec,
)
from musicflow_spark.plans.dag import Pipeline, Task
from musicflow_spark.sources.auth import (
    AuthError,
    TokenProvider,
    TransientError,
    with_auth_retry,
)


# ------------------------------------------------------------ dag specs
def test_ytmusicapi_dag_topology_and_handoff():
    seen = []

    def playlists(ctx):
        seen.append("playlists")
        return {"album_temp": {"b1": "MPRE_b1"}}

    def videos(ctx):
        seen.append("videos")
        # the album_temp hand-off the reference threads through XCom
        assert ctx["album_temp"] == {"b1": "MPRE_b1"}
        return {"videos_loaded": True}

    pipe = ytmusicapi_dag_spec(playlists, videos)
    assert pipe.name == "ytmusicapi_dag"
    pipe.tasks.reverse()  # only the deps may order the run
    ctx = pipe.run()
    assert seen == ["playlists", "videos"] and ctx["videos_loaded"]


def test_setup_and_unlike_dag_shapes():
    store = {}
    pipe = setup_dag_spec(
        get_auth_code=lambda: "CODE",
        mint_refresh_token=lambda code: f"RT-{code}",
        set_variable=store.__setitem__,
    )
    assert pipe.run()["refresh_token"] == "RT-CODE"
    assert store == {"REFRESH_TOKEN": "RT-CODE"}

    order = []
    pipe = unlike_dag_spec(
        "tracks",
        auth=lambda ctx: order.append("auth"),
        populate=lambda ctx: order.append("populate"),
        unlike=lambda ctx: order.append("unlike"),
    )
    assert pipe.name == "spotify_unlike_tracks_dag"
    pipe.tasks.reverse()  # only the deps may order the run
    pipe.run()
    assert order == ["auth", "populate", "unlike"]


def test_musicflow_pipeline_task_graph(spark, musicflow_sources, tmp_path):
    from musicflow_spark.config import PipelineConfig
    from musicflow_spark.matching import CatalogCandidateSource
    from musicflow_spark.plans.dag import musicflow_pipeline

    pipe = musicflow_pipeline(
        spark,
        musicflow_sources,
        PipelineConfig(),
        CatalogCandidateSource(
            musicflow_sources["spotify_tracks"],
            musicflow_sources["spotify_albums"],
            musicflow_sources["spotify_playlists_others"],
        ),
        str(tmp_path / "wh"),
    )
    # the reference's youtube-extract / spotify-match / dbt-run
    # boundaries; engine tables and marts are the 'table' models
    assert [(t.name, t.deps) for t in pipe.tasks] == [
        ("extract", ()), ("match", ("extract",)), ("models", ("match",)),
    ]
    assert [sorted(t.materialize) for t in pipe.tasks] == [
        [],
        ["spotify_albums", "spotify_log", "spotify_playlists_others", "spotify_tracks"],
        ["log_for_tableau", "log_found_videos", "log_not_found_videos"],
    ]
    assert {how for t in pipe.tasks for how in t.materialize.values()} == {"table"}


def test_pipeline_rejects_cycles():
    pipe = Pipeline("bad").add(Task("a", lambda c: None, deps=("b",))).add(
        Task("b", lambda c: None, deps=("a",))
    )
    import graphlib

    with pytest.raises(graphlib.CycleError):
        pipe.run()


# ------------------------------------------------- auth/retry contract
def test_token_provider_refreshes_on_expiry_fake_clock():
    now = [0.0]
    minted = []

    def refresh():
        minted.append(len(minted))
        return f"tok{len(minted)}", 100.0

    p = TokenProvider(refresh_fn=refresh, skew=10.0, clock=lambda: now[0])
    assert p.get() == "tok1"
    assert p.get() == "tok1"  # cached while valid
    now[0] = 95.0  # within skew of expiry -> re-mint
    assert p.get() == "tok2"
    assert p.refresh_count == 2


def test_auth_retry_refreshes_once_on_401():
    p = TokenProvider(refresh_fn=lambda: (f"t", 100.0))
    calls = []

    def fetch(token, x):
        calls.append(token)
        if len(calls) == 1:
            raise AuthError("401")
        return x * 2

    wrapped = with_auth_retry(fetch, p)
    assert wrapped(21) == 42
    assert len(calls) == 2  # one 401, one retry with a fresh token
    assert p.refresh_count == 2

    def always_401(token):
        raise AuthError("401")

    with pytest.raises(AuthError):  # second 401 propagates (needs a human)
        with_auth_retry(always_401, p)()


def test_auth_retry_bounded_backoff_on_429():
    p = TokenProvider(refresh_fn=lambda: ("t", 100.0))
    sleeps = []
    attempts = []

    def flaky(token):
        attempts.append(1)
        if len(attempts) <= 2:
            raise TransientError("429", retry_after=7.0)
        return "ok"

    assert with_auth_retry(flaky, p, sleep=sleeps.append)() == "ok"
    assert sleeps == [7.0, 7.0]  # honored the server's retry_after

    def dead(token):
        raise TransientError("503")

    sleeps.clear()
    with pytest.raises(TransientError):
        with_auth_retry(dead, p, max_transient_retries=3, backoff=1.0, sleep=sleeps.append)()
    assert sleeps == [1.0, 2.0, 4.0]  # exponential, then give up


def test_table_materialization_observes_row_metrics(spark, tmp_path):
    """Table-materialized models must report their written row count
    through Pipeline.metrics — collected via df.observe ON the write
    action, so no second scan happens."""
    def make(ctx):
        return {"m": spark.range(37).withColumnRenamed("id", "k")}

    pipe = Pipeline("metrics", warehouse_dir=str(tmp_path)).add(
        Task("build", make, materialize={"m": "table"})
    )
    ctx = pipe.run()
    assert ctx["m"].count() == 37
    assert pipe.metrics["m"]["rows"] == 37
