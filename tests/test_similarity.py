"""operators/similarity.py: both sides of the id-keyed pair scorer's
broadcast gate."""

from __future__ import annotations

import pytest

from kafka_clickhouse_pipeline_spark.operators import similarity


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.fullmatrix
def test_pair_scorer_gate_branches_identical(spark, sf_dir, monkeypatch):
    fast = _rows(similarity.q_knn_graph(spark, sf_dir))
    monkeypatch.setattr(similarity, "PAIR_SCORE_BROADCAST_MAX_BYTES", 0)
    slow = _rows(similarity.q_knn_graph(spark, sf_dir))
    assert fast == slow
