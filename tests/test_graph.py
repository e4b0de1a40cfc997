"""The shuffle side of every broadcast gate in operators/graph.py.

Every gated graph query decides whether to broadcast its per-node
state through one helper, ``graph._broadcastable``, which reads one
bound, ``graph.BROADCAST_MAX_ROWS``. Two more gates size other
frames: ``_TRIANGLE_ADJ_BROADCAST_MAX_EDGES`` (the oriented adjacency
arrays of the triangle queries) and ``MINHASH_HASH_BROADCAST_MAX_NODES``
(the per-neighbour hash rows of the MinHash stage). Every other test
runs the fixture far below these bounds, so it takes the broadcast
side. Here a bound is 0 and Spark's own auto-broadcast is off, so each
query takes the shuffle join at that gate, and it must still return
its DuckDB twin's rows on the tiny fixture.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from kafka_clickhouse_pipeline_spark.operators import graph
from tests.parity import assert_query_matches_oracle

#: Every registry key that reaches a ``_broadcastable`` site.
GATED_KEYS = [
    "q_dedup_clusters",
    "q_dedup_clusters_twostar",
    "q_pagerank_copurchase",
    "q_ppr_copurchase",
    "q_bfs_hops",
    "q_betweenness_sampled",
    "q_hits_purchases",
    "q_label_propagation",
    "q_modularity_lpa",
    "q_triangle_count_copurchase",
    "q_degree_assortativity",
    "q_closeness_sampled",
    "q_local_clustering_topk",
    "q_brand_assortativity",
]

#: The two other gates, each with the registry keys that reach it.
OTHER_GATES = [
    ("_TRIANGLE_ADJ_BROADCAST_MAX_EDGES", "q_triangle_count_copurchase"),
    ("_TRIANGLE_ADJ_BROADCAST_MAX_EDGES", "q_local_clustering_topk"),
    ("MINHASH_HASH_BROADCAST_MAX_NODES", "q_node_jaccard_minhash"),
    ("MINHASH_HASH_BROADCAST_MAX_NODES", "q_neardup_threshold_minhash"),
]


@contextmanager
def _no_auto_broadcast(spark):
    """Spark plans no broadcast join of its own while inside."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _assert_matches_oracle(spark, sf_dir, oracle, key):
    assert_query_matches_oracle(
        spark, oracle, graph.GRAPH_QUERIES[key], graph.GRAPH_ORACLES[key], sf_dir
    )


@pytest.mark.parametrize("key", GATED_KEYS)
def test_shuffle_side_of_the_broadcast_bound_matches_oracle(
    spark, sf_dir, oracle, monkeypatch, key
):
    decisions: list[tuple[int, bool]] = []
    broadcastable = graph._broadcastable

    def recorded(rows: int) -> bool:
        fits = broadcastable(rows)
        decisions.append((rows, fits))
        return fits

    monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", 0)
    monkeypatch.setattr(graph, "_broadcastable", recorded)
    with _no_auto_broadcast(spark):
        _assert_matches_oracle(spark, sf_dir, oracle, key)
    # the query reached the bound, over a non-empty frame, and never broadcast
    assert decisions and all(rows > 0 for rows, _ in decisions), decisions
    assert not any(bcast for _, bcast in decisions), decisions


@pytest.mark.parametrize(
    "gate, key", OTHER_GATES, ids=[key for _, key in OTHER_GATES]
)
def test_shuffle_side_of_the_array_and_hash_gates_matches_oracle(
    spark, sf_dir, oracle, monkeypatch, gate, key
):
    monkeypatch.setattr(graph, gate, 0)
    with _no_auto_broadcast(spark):
        _assert_matches_oracle(spark, sf_dir, oracle, key)
