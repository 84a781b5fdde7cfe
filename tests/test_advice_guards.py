"""ADVICE guard tests: the low-severity contract gaps in
operators/similarity.py (r13) and tools/perf_tables.py (r14) now fail
loudly instead of silently diverging."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_pq_codebook_rows_rejects_duplicate_seed_ids(spark):
    from musicflow_spark.operators.similarity import pq_codebook_rows_from_seeds

    seeds = spark.createDataFrame(
        [(1, [0.1, 0.2]), (1, [0.3, 0.4])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="duplicate seed ids"):
        pq_codebook_rows_from_seeds(seeds, "vec_id", "embedding", 2, 1, 1000)


def test_nearest_centroid_ids_arrow_rejects_non_finite(spark):
    from musicflow_spark.operators.similarity import nearest_centroid_ids_arrow

    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [float("nan"), 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = nearest_centroid_ids_arrow(
        df, [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "vec_id", "vid"
    )
    with pytest.raises(Exception, match="non-finite vector"):
        out.collect()


def test_ivf_multiprobe_rejects_unsorted_cent_rows(spark):
    from musicflow_spark.operators.similarity import ivf_multiprobe_topk

    corpus = spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="sorted by cluster_id"):
        ivf_multiprobe_topk(
            corpus,
            corpus,
            [(2, [100, 100]), (0, [0, 0])],
            budget_rows=10,
        )


def test_pq_encode_arrow_preserves_id_type(spark):
    from musicflow_spark.operators.similarity import pq_encode_codes_arrow

    corpus = spark.createDataFrame(
        [(7, [0.1, 0.2]), (9, [0.9, 0.8])], "vec_id int, embedding array<double>"
    ).select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    codebook = [[[100, 200], [900, 800]]]
    out = pq_encode_codes_arrow(
        corpus, codebook, "vec_id", "embedding", 2, 1, 1000
    )
    assert out.schema["neighbor_id"].dataType.simpleString() == "int"
    rows = {r["neighbor_id"]: list(r["codes"]) for r in out.collect()}
    assert rows == {7: [0], 9: [1]}


@pytest.mark.parametrize(
    "a_control, b_queries, msg",
    [(0.0, {"q1": 1.0}, "not positive"), (1.0, {"q2": 1.0}, "share no query")],
    ids=["zero_control", "no_shared_query"],
)
def test_perf_tables_rejects_unusable_records(tmp_path, monkeypatch, a_control, b_queries, msg):
    import importlib.util
    import json
    import pathlib
    import sys

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "perf_tables.py"
    spec = importlib.util.spec_from_file_location("perf_tables", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"queries": {"q1": 2.0}, "control": {"sec": a_control}}))
    b.write_text(json.dumps({"queries": b_queries, "control": {"sec": 1.0}}))
    monkeypatch.setattr(sys, "argv", ["perf_tables.py", str(a), str(b)])
    with pytest.raises(SystemExit, match=msg):
        mod.main()
