"""operators/analytics.py: both sides of the Markov driver-fold gate."""

from __future__ import annotations

import pytest

from kafka_clickhouse_pipeline_spark.operators import analytics


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.fullmatrix
def test_markov_driver_fold_matches_join_rounds(spark, sf_dir, monkeypatch):
    fast = _rows(analytics.q_markov_stationary(spark, sf_dir))
    monkeypatch.setattr(analytics, "MARKOV_DRIVER_FOLD_MAX_CELLS", 0)
    slow = _rows(analytics.q_markov_stationary(spark, sf_dir))
    assert fast == slow
