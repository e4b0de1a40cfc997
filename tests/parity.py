"""Order-insensitive Spark-vs-DuckDB comparison, mimicking the driver's
correctness gate (row count + column names + value hash).

Round-1 lesson (VERDICT r1 #1): the driver's hash is sensitive to
output *representation* -- decimal precision metadata, int32-vs-int64
widths, timestamp unit/zone -- which this module's value-normalized
compare could not see. ``assert_query_matches_oracle`` therefore also
enforces Arrow-level type equality between the Spark result and the
DuckDB result (the canonical-output contract in functions/canon.py);
the byte-exact value sweep lives in tools/strict_check.py."""

from __future__ import annotations

import decimal
import math
from datetime import date, datetime

from tools.strict_check import _unlarge


def _norm(v):
    """Normalize a cell so Spark and DuckDB renderings hash alike."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def canonical(rows, colnames) -> list[str]:
    """Rows -> sorted list of canonical strings, columns sorted by name
    (the driver sorts columns by name before hashing)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = list(row)
        out.append("|".join(_norm(vals[i]) for i in order))
    out.sort()
    return out


def assert_arrow_types_match(spark_df, oracle, sql):
    """Driver-hash proxy: every output column must carry the SAME Arrow
    type in Spark and DuckDB, and no temporal types may reach the
    output (they travel through pandas with ns/us unit baggage --
    render strings via functions.canon instead)."""
    import pyarrow as pa

    s_schema = spark_df.limit(0).toArrow().schema
    d_schema = oracle.execute(f"SELECT * FROM ({sql}) LIMIT 0").arrow().schema
    # _unlarge on BOTH sides: it rebuilds list types via pa.list_, which
    # also normalizes the element field name (Spark 'element' vs DuckDB
    # 'item' — Arrow type equality compares nested field names).
    s_types = {f.name: _unlarge(f.type) for f in s_schema}
    d_types = {f.name: _unlarge(f.type) for f in d_schema}
    for name, st in s_types.items():
        dt = d_types.get(name)
        assert dt is not None, f"column {name} missing from oracle"
        assert st == dt, f"arrow type mismatch[{name}]: spark={st} duck={dt}"
        assert not (pa.types.is_timestamp(st) or pa.types.is_date(st)), (
            f"temporal output column {name} ({st}): emit canonical strings instead"
        )
        # Round-2 lesson: decimal outputs are hash-unsafe in the driver
        # (asymmetric decimal->float coercion) — ban them like temporals.
        assert not pa.types.is_decimal(st), (
            f"decimal output column {name} ({st}): render canon.money() strings instead"
        )


def assert_query_matches_oracle(spark, oracle, query_fn, sql, sf_dir):
    sdf = query_fn(spark, sf_dir)
    assert_arrow_types_match(sdf, oracle, sql)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = oracle.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = canonical(spark_rows, spark_cols)
    d = canonical(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"value mismatch (first 5): {mismatches[:5]}"
