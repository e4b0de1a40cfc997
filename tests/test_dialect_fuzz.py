"""Property tests for the ClickHouse-dialect translator: structural
invariants that must hold for ANY input, not just the reference's four
queries."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_clickhouse_pipeline_spark.functions.clickhouse_dialect import translate

#: Identifier-ish fragments that must never be rewritten (no dialect
#: function names).
ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True).filter(
    lambda s: s.lower()
    not in {
        "tostartofhour",
        "toyyyymm",
        "todecimal32",
        "parsedatetimebesteffortornull",
        "now",
        "count",
    }
)


@settings(max_examples=200, deadline=None)
@given(
    cols=st.lists(ident, min_size=1, max_size=4),
    table=ident,
)
def test_translate_is_identity_on_plain_sql(cols, table):
    """SQL that uses none of the dialect functions passes through
    byte-identical (the translator must never corrupt ordinary
    identifiers, including ones that merely CONTAIN function names)."""
    sql = f"SELECT {', '.join(cols)}, now_x, xnow, counts FROM {table}"
    assert translate(sql) == sql


@settings(max_examples=200, deadline=None)
@given(lit=st.text(alphabet=st.characters(blacklist_characters="'"), max_size=40))
def test_translate_never_touches_string_literals(lit):
    """Dialect function names INSIDE string literals are data, not
    syntax: the literal survives translation unchanged even when it
    spells now(), toStartOfHour(x), etc."""
    sql = f"SELECT 'now() toStartOfHour({lit})' AS s, now() AS t FROM x"
    out = translate(sql, anchor="2024-01-01 00:00:00")
    assert f"'now() toStartOfHour({lit})'" in out
    assert out.endswith("TIMESTAMP '2024-01-01 00:00:00' AS t FROM x")


@settings(max_examples=100, deadline=None)
@given(depth=st.integers(min_value=1, max_value=6))
def test_translate_handles_nested_calls(depth):
    """Arbitrarily nested dialect calls rewrite inside-out with
    balanced parentheses and no residual dialect names."""
    expr = "e"
    for _ in range(depth):
        expr = f"parseDateTimeBestEffortOrNull({expr})"
    out = translate(f"SELECT toYYYYMM({expr}) FROM t")
    assert "toYYYYMM" not in out and "parseDateTimeBestEffort" not in out
    assert out.count("(") == out.count(")")


@settings(max_examples=100, deadline=None)
@given(scale=st.integers(min_value=0, max_value=9))
def test_todecimal32_scale_passthrough(scale):
    out = translate(f"SELECT toDecimal32(price, {scale}) FROM t")
    assert f"CAST(price AS DECIMAL(9, {scale}))" in out


# ---- round-6 extension (VERDICT r5 #7): every rewrite rule fuzzed ----

pct = st.integers(min_value=0, max_value=1000).map(lambda n: n / 1000)


@settings(max_examples=100, deadline=None)
@given(a=ident, v=ident, fn=st.sampled_from(["argMax", "argMin"]))
def test_argminmax_rewrite(a, v, fn):
    out = translate(f"SELECT {fn}({a}, {v}) FROM t")
    want = "max_by" if fn == "argMax" else "min_by"
    assert f"{want}({a}, {v})" in out
    assert fn not in out
    assert out.count("(") == out.count(")")


@settings(max_examples=100, deadline=None)
@given(pairs=st.lists(st.tuples(ident, ident), min_size=1, max_size=5), els=ident)
def test_multiif_rewrite(pairs, els):
    """multiIf(c1,v1,...,e) -> CASE with one WHEN per pair and an
    ELSE, no residual name, balanced parens."""
    args = ", ".join(f"{c}, {v}" for c, v in pairs) + f", {els}"
    out = translate(f"SELECT multiIf({args}) FROM t")
    assert "multiIf" not in out
    assert out.count("WHEN") == len(pairs)
    assert "ELSE" in out and "CASE" in out and "END" in out
    assert out.count("(") == out.count(")")


@settings(max_examples=100, deadline=None)
@given(p=pct, x=ident, fn=st.sampled_from(["quantile", "quantileExact"]))
def test_quantile_parametric_rewrite(p, x, fn):
    out = translate(f"SELECT {fn}({p})({x}) FROM t")
    assert f"percentile({x}, {p})" in out
    assert "quantile" not in out.lower()
    assert out.count("(") == out.count(")")


@settings(max_examples=100, deadline=None)
@given(x=ident, fn=st.sampled_from(["uniq", "uniqExact"]))
def test_uniq_rewrite(x, fn):
    out = translate(f"SELECT {fn}({x}) FROM t")
    assert f"count(DISTINCT {x})" in out
    assert "uniq" not in out.lower()


@settings(max_examples=100, deadline=None)
@given(x=ident, fn=st.sampled_from(["groupArray", "groupUniqArray"]))
def test_grouparray_rewrite(x, fn):
    out = translate(f"SELECT {fn}({x}) FROM t GROUP BY g")
    want = "collect_list" if fn == "groupArray" else "collect_set"
    assert f"{want}({x})" in out
    assert fn not in out


@settings(max_examples=150, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=99),
    off=st.integers(min_value=1, max_value=99),
    form=st.sampled_from(["plain", "comma", "offset"]),
    col=ident,
)
def test_limit_by_all_three_forms(n, off, form, col):
    """LIMIT n BY / LIMIT off, n BY / LIMIT n OFFSET off BY all
    translate to a row_number window keeping the right per-group row
    range (the offset forms previously fell through to a Spark parse
    error -- ADVICE r4/r5)."""
    clause = {
        "plain": f"LIMIT {n} BY {col}",
        "comma": f"LIMIT {off}, {n} BY {col}",
        "offset": f"LIMIT {n} OFFSET {off} BY {col}",
    }[form]
    out = translate(f"SELECT {col}, v FROM t ORDER BY v DESC {clause}")
    assert "row_number()" in out
    if form == "plain":
        assert f"__lb_rn <= {n}" in out
    else:
        assert f"__lb_rn BETWEEN {off + 1} AND {off + n}" in out
    assert out.count("(") == out.count(")")


@settings(max_examples=50, deadline=None)
@given(n=st.integers(min_value=1, max_value=99), col=ident)
def test_limit_by_without_order_by_raises(n, col):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ORDER BY"):
        translate(f"SELECT {col}, v FROM t LIMIT {n} BY {col}")


@settings(max_examples=60, deadline=None)
@given(
    p=pct,
    a=ident,
    v=ident,
    pairs=st.lists(st.tuples(ident, ident), min_size=1, max_size=3),
    n=st.integers(min_value=1, max_value=9),
    off=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
def test_every_rewrite_emits_spark_parseable_sql(
    spark, p, a, v, pairs, n, off, data
):
    """The load-bearing property (VERDICT r5 #7): a query exercising
    EVERY rewrite rule in one statement must come out of translate()
    as SQL Spark's parser accepts -- future dialect additions cannot
    silently emit unparseable SQL."""
    mi = ", ".join(f"{c}, {x}" for c, x in pairs) + ", dflt"
    sql = (
        "SELECT "
        f"argMax({a}, {v}) AS c1, argMin({a}, {v}) AS c2, "
        f"multiIf({mi}) AS c3, quantile({p})({a}) AS c4, "
        f"quantileExact({p})({a}) AS c5, uniq({a}) AS c6, "
        f"uniqExact({a}) AS c7, groupArray({a}) AS c8, "
        f"groupUniqArray({a}) AS c9, sumIf({a}, {v} > 0) AS c10, "
        f"countIf({v} > 0) AS c11, avgIf({a}, {v} > 0) AS c12, "
        f"anyLast({a}) AS c13, any({a}) AS c14, "
        f"toStartOfHour(ts) AS c15, toYYYYMM(ts) AS c16, "
        f"toDecimal32({a}, 2) AS c17, "
        f"parseDateTimeBestEffortOrNull(s) AS c18, now() AS c19, "
        f"intDiv({a}, 7) AS c20, modulo({a}, 7) AS c21, "
        f"toDayOfWeek(ts) AS c22, grp "
        "FROM t PREWHERE v > 0 GROUP BY grp, ts, s "
        f"ORDER BY c6 DESC LIMIT {off}, {n} BY grp LIMIT 100"
    )
    out = translate(sql, anchor="2024-01-01 00:00:00")
    for residue in (
        "argMax", "argMin", "multiIf", "quantile", "uniqExact",
        "groupArray", "groupUniqArray", "sumIf", "countIf", "avgIf",
        "anyLast", "toStartOfHour", "toYYYYMM", "toDecimal32",
        "parseDateTimeBestEffortOrNull", "intDiv", "PREWHERE",
        "toDayOfWeek",
    ):
        assert residue not in out, (residue, out)
    # parse (not analyze): syntax validity, no tables needed
    spark._jsparkSession.sessionState().sqlParser().parsePlan(out)


@settings(max_examples=200, deadline=None)
@given(
    body=st.text(alphabet=st.characters(blacklist_characters="`\"*\r\n"), max_size=40),
    form=st.sampled_from(["line_comment", "block_comment", "backtick", "double_quote"]),
)
def test_translate_never_touches_comments_or_quoted_names(body, form):
    """Comments and quoted names are as opaque as string literals: text
    in them that spells dialect calls, PREWHERE, LIMIT BY or a lone
    apostrophe survives unchanged, and the code after them is still
    translated."""
    text = f"now() count() toDate({body}) PREWHERE LIMIT 1 BY x '"
    opaque = {
        "line_comment": f"-- {text}\n",
        "block_comment": f"/* {text} */",
        "backtick": f"`{text}`",
        "double_quote": f'"{text}"',
    }[form]
    out = translate(f"SELECT {opaque} AS c, now() AS t FROM x", anchor="2024-01-01 00:00:00")
    assert out == f"SELECT {opaque} AS c, TIMESTAMP '2024-01-01 00:00:00' AS t FROM x"
