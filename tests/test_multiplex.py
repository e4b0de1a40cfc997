"""Multiplexed single-stream pipeline: interleaved sales + warehouse
events through one stream, demuxed into both target tables."""

from __future__ import annotations

import json

from kafka_clickhouse_pipeline_spark.sources.kafka import parse_json_payload
from kafka_clickhouse_pipeline_spark.streaming.ingest import (
    MERGED_RAW_SCHEMA,
    multiplexed_file_pipeline,
)


def _write_mixed_events(src) -> None:
    src.mkdir()
    events = []
    # ~70/30 mix like the reference's topic split (generate_data.py:436)
    for i in range(10):
        if i % 10 < 7:
            events.append(
                {
                    "event_id": f"s{i}",
                    "event_type": "sale",
                    "event_time": f"2024-01-15 10:{i:02d}:00",
                    "product_id": i,
                    "product_name": "p",
                    "category": "c",
                    "quantity": 1,
                    "price": 10.0,
                    "discount": 0.0,
                    "total": 10.0,
                    "store_id": 1,
                    "cashier_id": 1,
                    "customer_id": "c1",
                }
            )
        else:
            events.append(
                {
                    "event_id": f"w{i}",
                    "event_type": "stock_movement",
                    "event_time": f"2024-01-15 11:{i:02d}:00",
                    "product_id": i,
                    "product_name": "p",
                    "category": "c",
                    "warehouse": "W1",
                    "quantity": 5,
                    "movement_type": "supply",
                    "source": "Acme",
                    "responsible": "R",
                }
            )
    with open(src / "mixed.jsonl", "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_multiplexed_stream_routes_both_kinds(spark, tmp_path):
    src = tmp_path / "in"
    _write_mixed_events(src)

    mgr = multiplexed_file_pipeline(
        spark,
        str(src),
        str(tmp_path / "sales"),
        str(tmp_path / "stock"),
        str(tmp_path / "ckpt"),
    )
    q = mgr.attach("multiplex_mv", trigger_available_now=True)
    q.awaitTermination(120)
    mgr.detach_all()

    sales = spark.read.parquet(str(tmp_path / "sales"))
    stock = spark.read.parquet(str(tmp_path / "stock"))
    assert sorted(r.event_id for r in sales.collect()) == [f"s{i}" for i in range(10) if i % 10 < 7]
    assert sorted(r.event_id for r in stock.collect()) == [f"w{i}" for i in range(10) if i % 10 >= 7]
    # each table got its kind-specific typed schema
    assert "price" in sales.columns and "warehouse" not in sales.columns
    assert "movement_type" in stock.columns and "price" not in stock.columns


def test_replayed_batch_lands_each_event_once(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch replayed after a
    restart must not write its rows into either table a second time."""
    src = tmp_path / "in"
    _write_mixed_events(src)
    sales_path, stock_path = str(tmp_path / "sales"), str(tmp_path / "stock")
    mgr = multiplexed_file_pipeline(
        spark, str(src), sales_path, stock_path, str(tmp_path / "ckpt")
    )
    batch = parse_json_payload(spark.read.text(str(src)), MERGED_RAW_SCHEMA)
    route = mgr.definitions["multiplex_mv"].foreach_batch
    route(batch, 0)
    route(batch, 0)  # replay of the same batch id

    sales = [r.event_id for r in spark.read.parquet(sales_path).collect()]
    stock = [r.event_id for r in spark.read.parquet(stock_path).collect()]
    assert sorted(sales) == [f"s{i}" for i in range(10) if i % 10 < 7]
    assert sorted(stock) == [f"w{i}" for i in range(10) if i % 10 >= 7]


def _group_stages(spark, group: str) -> list[dict]:
    """Every stage of the jobs in Spark job group ``group``, from the
    status REST API."""
    import urllib.request

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=60) as resp:
            return json.loads(resp.read())

    jobs = [j for j in get("/jobs") if j.get("jobGroup") == group]
    return [a for j in jobs for s in j["stageIds"] for a in get(f"/stages/{s}")]


def test_batch_is_read_and_parsed_once(spark, tmp_path):
    """Both tables' writes share one read and parse of the micro-batch:
    of the two write jobs, one stage reads the 1,000 input lines and
    the other reads the persisted batch, which Spark counts as one
    input record per cached column batch (1,000 rows fit in one)."""
    import uuid

    from pyspark.storagelevel import StorageLevel

    src = tmp_path / "in"
    src.mkdir()
    sale = {"event_type": "sale", "event_time": "2024-01-15 10:00:00", "product_id": 1,
            "product_name": "p", "category": "c", "quantity": 1, "price": 10.0,
            "discount": 0.0, "total": 10.0, "store_id": 1, "cashier_id": 1,
            "customer_id": "c1"}
    stock = {"event_type": "stock_movement", "event_time": "2024-01-15 11:00:00",
             "product_id": 2, "product_name": "p", "category": "c", "warehouse": "W1",
             "quantity": 5, "movement_type": "supply", "source": "Acme", "responsible": "R"}
    with open(src / "mixed.jsonl", "w") as f:
        for i in range(1000):
            ev = sale if i % 10 < 7 else stock
            f.write(json.dumps({"event_id": f"e{i}", **ev}) + "\n")
    sales_path, stock_path = str(tmp_path / "sales"), str(tmp_path / "stock")
    mgr = multiplexed_file_pipeline(spark, str(src), sales_path, stock_path, str(tmp_path / "ckpt"))
    batch = parse_json_payload(spark.read.text(str(src)), MERGED_RAW_SCHEMA)

    sc = spark.sparkContext
    group = f"multiplex-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        mgr.definitions["multiplex_mv"].foreach_batch(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    stages = _group_stages(spark, group)
    assert sorted(s["inputRecords"] for s in stages) == [1, 1000]
    assert batch.storageLevel == StorageLevel(False, False, False, False)  # unpersisted

    assert spark.read.parquet(sales_path).count() == 700
    assert spark.read.parquet(stock_path).count() == 300
