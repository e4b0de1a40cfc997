"""Both sides of every gate on the shared wedge path of the four
link-prediction queries (operators/graph.py ``_wedge_link_scores``).

Below the pack rule and the two broadcast gates the pair reduce is one
Arrow kernel (MapInArrow); above any of them it is the JVM pair
aggregate, with a packed key or, past the pack rule, the two-column
(u, v) key. Each forced branch must return exactly the rows of the
default one, on the tiny fixture, in the default run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_clickhouse_pipeline_spark.catalog import load_table
from kafka_clickhouse_pipeline_spark.operators import graph

WEDGE_QUERIES = [
    "q_node_jaccard",
    "q_node_jaccard_capped",
    "q_adamic_adar",
    "q_adamic_adar_capped",
]

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def default_rows(spark, sf_dir):
    """Rows of each query with no gate forced (the kernel path),
    computed once per query for the module."""
    cache: dict[str, list[tuple]] = {}

    def rows(fn_name):
        if fn_name not in cache:
            df = getattr(graph, fn_name)(spark, sf_dir)
            assert "MapInArrow" in _plan(df)
            cache[fn_name] = _rows(df)
            assert cache[fn_name]
        return cache[fn_name]

    return rows


@pytest.mark.parametrize(
    "gate, value",
    [
        ("NODE_JACCARD_BROADCAST_MAX_EDGES", -1),
        ("BROADCAST_MAX_ROWS", 0),
        ("_PAIR_KEY_BITS", 0),
    ],
    ids=["edges", "nodes", "pack"],
)
@pytest.mark.parametrize("fn_name", WEDGE_QUERIES)
def test_forced_gate_returns_default_rows(
    spark, sf_dir, monkeypatch, default_rows, fn_name, gate, value
):
    expected = default_rows(fn_name)
    monkeypatch.setattr(graph, gate, value)
    df = getattr(graph, fn_name)(spark, sf_dir)
    plan = _plan(df)
    assert "MapInArrow" not in plan
    if gate == "_PAIR_KEY_BITS":
        # two-column pair key: the pair exchange hashes (u, v), not k
        assert "hashpartitioning(k#" not in plan, plan[:2000]
    assert _rows(df) == expected


def _capped_and_full_sizes(spark, sf_dir):
    """(nodes, edges) under the p99 degree cap and over the whole
    graph, from the fixture's co-purchase adjacency."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    deg = graph.co_purchase_adjacency(li).select(
        "src", F.size("nbrs").alias("d")
    )
    cap = graph._discrete_degree_cap(deg, graph.DEGREE_CAP_PCT)
    ds = [r["d"] for r in deg.collect()]
    capped = [d for d in ds if d <= cap]
    return (len(capped), sum(capped) // 2), (len(ds), sum(ds) // 2)


@pytest.mark.parametrize(
    "gate, axis",
    [
        ("BROADCAST_MAX_ROWS", 0),
        ("NODE_JACCARD_BROADCAST_MAX_EDGES", 1),
    ],
    ids=["nodes", "edges"],
)
@pytest.mark.parametrize(
    "fn_name", ["q_node_jaccard_capped", "q_adamic_adar_capped"]
)
def test_broadcast_gates_measure_the_uncapped_graph(
    spark, sf_dir, monkeypatch, default_rows, fn_name, gate, axis
):
    """The kernel broadcasts degrees and linked pairs for EVERY node,
    hubs above the cap included, so the gates must count those -- not
    the capped subgraph. With the gate set between the two sizes the
    capped queries must take the fallback."""
    capped, full = _capped_and_full_sizes(spark, sf_dir)
    assert capped[axis] < full[axis]
    expected = default_rows(fn_name)
    monkeypatch.setattr(graph, gate, capped[axis])
    df = getattr(graph, fn_name)(spark, sf_dir)
    assert "MapInArrow" not in _plan(df)
    assert _rows(df) == expected


#: Spark jobs per warm ``collect()`` at sf0.001 (the same at sf0.01).
@pytest.mark.parametrize(
    "fn_name, jobs",
    [
        ("q_node_jaccard", 9),  # was 10 with separate degree and linked collects
        ("q_node_jaccard_capped", 13),  # was 14, same cause
        ("q_adamic_adar", 9),  # was 11: weight map and linked collects merged
        ("q_adamic_adar_capped", 13),  # was 15, same cause
    ],
)
def test_wedge_query_jobs(spark, sf_dir, count_jobs, fn_name, jobs):
    load_table(spark, sf_dir, "lineitem")  # schema inference is not ours
    fn = getattr(graph, fn_name)
    assert count_jobs(lambda: fn(spark, sf_dir).collect()) == jobs
