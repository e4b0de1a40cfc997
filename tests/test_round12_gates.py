"""Round-12 optimization gates: every new fast path must be
output-identical to its fallback / exact twin.

- The PPJoin positional filter prunes verification candidates by an
  exact overlap upper bound; the operator must stay row-identical to
  the exact inverted-index twin on the real fixture (the r6 synthetic
  and adversarial equality tests still run too).
- The weighted wedge kernel's gate branches are covered with the
  other wedge gates in tests/test_graph_wedge.py.
"""

from __future__ import annotations

from kafka_clickhouse_pipeline_spark.operators import dedup

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_prefix_filter_positional_bound_is_lossless_on_fixture(spark):
    a = _rows(dedup.q_dedup_ngram_jaccard(spark, SF))
    b = _rows(dedup.q_dedup_prefix_filter(spark, SF))
    assert a == b
