"""bench.py's per-key timing: the schema of the ``layers`` block each
timed key records, and a named run (``python bench.py NAME...``) that
times and prints its keys but writes no round artifact."""

from __future__ import annotations

import glob
import json
import os

import __spark_entry__ as entry
import bench
from perfbench import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = ["status_counts", "mv_parse_typed"]


def _artifacts():
    with open(os.path.join(ROOT, "CANARY_HISTORY.jsonl")) as fh:
        canary = fh.read()
    return sorted(glob.glob(os.path.join(ROOT, "BENCH_DETAIL_*"))), canary


def test_layers_schema(spark, sf_dir):
    qs = entry.queries()
    for key in KEYS:
        sec, layers = bench.time_key(spark, key, qs[key], sf_dir, runs=1)
        assert sec > 0
        assert set(layers) == {*tracing.LEDGER_KEYS, "analysis", "optimization", "planning"}
        assert layers["jobs"] >= 1 and layers["tasks"] >= 1, layers
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_named_run_writes_nothing(spark, sf_dir, capsys):
    before = _artifacts()
    rc = bench.run_named(spark, [*KEYS, "no_such_key"], 0.0, {}, sf_dir=sf_dir)
    assert _artifacts() == before
    assert rc == 1
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
    assert [ln["key"] for ln in lines[:-1]] == KEYS
    assert all(ln["runs"] == 3 and ln["layers"]["jobs"] >= 3 for ln in lines[:-1])
    assert lines[-1]["errors"] == {"no_such_key": "not a sweep key"}
