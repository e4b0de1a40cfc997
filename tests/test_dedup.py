"""operators/dedup.py: the PPJoin positional filter prunes
verification candidates by an exact overlap upper bound, so the
operator must stay row-identical to the exact inverted-index twin on
the real fixture (the synthetic and adversarial equality tests run in
tests/test_round6_ops.py)."""

from __future__ import annotations

from kafka_clickhouse_pipeline_spark.operators import dedup


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_prefix_filter_positional_bound_is_lossless_on_fixture(spark, sf_dir):
    a = _rows(dedup.q_dedup_ngram_jaccard(spark, sf_dir))
    b = _rows(dedup.q_dedup_prefix_filter(spark, sf_dir))
    assert a == b
