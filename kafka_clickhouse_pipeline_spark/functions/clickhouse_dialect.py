"""ClickHouse-dialect SQL acceptance layer: run the reference's
analytical SQL **verbatim** on this engine.

The reference's query surface is ClickHouse SQL (web-app/app.py:57-66,
91-101, 126-135, 158-160 and the MV SELECT bodies at
generate_data.py:210-246). A user switching engines should not have to
rewrite those strings, so ``translate()`` maps the ClickHouse-isms the
reference uses onto Spark SQL:

    toStartOfHour(x)                -> date_trunc('hour', x)
    toYYYYMM(x)                     -> CAST(year(x)*100 + month(x) AS INT)
    toDecimal32(x, s)               -> CAST(x AS DECIMAL(9, s))
    parseDateTimeBestEffortOrNull(x)-> coalesce(to_timestamp(x, fmt),
                                                to_timestamp(x))
    now()                           -> current_timestamp()  [or a fixed
                                       anchor literal for reproducible
                                       runs over static data]
    count()                         -> count(*)

Beyond the reference's own six functions, the layer accepts the wider
ClickHouse surface a dashboard user would bring along (each mapped to
the built-in Spark function with the same semantics):

    sumIf(x, c) / countIf(c) /      -> sum(if(c, x, 0)) / sum(if(c,1,0))
    avgIf / minIf / maxIf(x, c)        / agg(CASE WHEN c THEN x END)
    uniqExact(x) , uniq(x)          -> count(DISTINCT x)   [uniq is
                                       approximate in ClickHouse; the
                                       exact count is a strict
                                       refinement of its contract]
    argMax(a, v) / argMin(a, v)     -> max_by(a, v) / min_by(a, v)
    multiIf(c1,v1,...,e)            -> CASE WHEN c1 THEN v1 ... ELSE e END
    quantile(p)(x), quantileExact   -> percentile(x, p)  [parametric
                                       aggregate syntax]
    arrayJoin(x)                    -> explode(x)
    has(arr, v)                     -> array_contains(arr, v)
    splitByChar('c', s)             -> split(s, <regex-escaped c>)
    JSONExtractString/Int/Float     -> get_json_object + CAST
    toDate / toDateTime             -> to_date / to_timestamp
    toStartOfMinute/Day/Month/...   -> date_trunc('<unit>', x)
    toHour/toMinute/toSecond/
      toDayOfMonth/toMonth/toYear   -> hour/minute/second/day/month/year
    toDayOfWeek(x)                  -> Monday=1..Sunday=7 arithmetic on
                                       Spark's dayofweek (Sunday=1)
    toInt*/toUInt*/toFloat*/        -> CAST(... AS <closest Spark type>)
      toString                         (UInt64 maps to BIGINT: Spark has
                                       no unsigned 64-bit type)
    intDiv(a, b) / modulo(a, b)     -> (a DIV b) / (a % b)
    formatDateTime(x, '%F %H:%i')   -> date_format with the %-tokens
                                       transliterated to JVM patterns
    ... PREWHERE c                  -> WHERE c  [ClickHouse PREWHERE is
                                       a storage-pushdown hint; Spark's
                                       Catalyst pushes WHERE predicates
                                       to the scan automatically, so
                                       plain WHERE carries the intent]

Every rewrite mirrors the corresponding engine function in
``kafka_clickhouse_pipeline_spark.functions`` exactly (same format
string, same decimal type, same coalesce order), so a translated query
and the DataFrame pipeline produce identical values. ``if(c, a, b)``,
``INTERVAL n DAY`` arithmetic, alias references in GROUP BY, and
computed alias expressions in ORDER BY are already valid Spark SQL and
pass through untouched.

Translation is purely syntactic. One lexer (``_TOKEN``) splits the
text into string literals, quoted names (backtick or double quote),
comments (``--`` and ``/* */``), words, blanks and single characters.
Literals, quoted names and comments are opaque: nothing inside them is
rewritten, and no paren, quote or keyword inside them counts. One walk
over those tokens rebuilds every dialect call from its translated
arguments, so the output stays a declarative SQL string: Catalyst
sees the same logical plan it would get from the hand-written Spark
form -- predicate pushdown, partial aggregation, TakeOrderedAndProject
all still apply. No UDFs are registered; the
translated text uses only built-in functions.
"""

from __future__ import annotations

import re

from ..functions import EVENT_TIME_FORMAT

#: The one lexer. A token is a string literal ('' and backslash
#: escapes), a double-quoted or backtick name, a -- or /* */ comment, a
#: word, a blank run, or any other single character. An unterminated
#: literal, name or comment runs to the end of the text.
_TOKEN = re.compile(
    r"""'(?:[^'\\]|\\.|'')*(?:'|\Z)"""
    r'''|"(?:[^"\\]|\\.|"")*(?:"|\Z)'''
    r"|`(?:[^`]|``)*(?:`|\Z)"
    r"|--[^\r\n]*|/\*.*?(?:\*/|\Z)"
    r"|\w+|\s+|.",
    re.S,
)


#: ClickHouse cast helpers -> closest Spark SQL type. UInt64 maps to
#: BIGINT (Spark has no unsigned 64-bit integer type); the narrower
#: unsigned types map to the next-wider signed type so every value fits.
_CAST_FUNCS = {
    "toInt8": "TINYINT",
    "toInt16": "SMALLINT",
    "toInt32": "INT",
    "toInt64": "BIGINT",
    "toUInt8": "SMALLINT",
    "toUInt16": "INT",
    "toUInt32": "BIGINT",
    "toUInt64": "BIGINT",
    "toFloat32": "FLOAT",
    "toFloat64": "DOUBLE",
    "toString": "STRING",
}

#: toStartOf* -> date_trunc units (week deliberately absent: ClickHouse
#: weeks start Sunday by default, Spark's start Monday -- a silent
#: off-by-one-day is worse than an unsupported-function error).
_TRUNC_FUNCS = {
    "toStartOfMinute": "minute",
    "toStartOfDay": "day",
    "toStartOfMonth": "month",
    "toStartOfQuarter": "quarter",
    "toStartOfYear": "year",
}

#: Date-part extractors with identical semantics in both engines.
_PART_FUNCS = {
    "toHour": "hour",
    "toMinute": "minute",
    "toSecond": "second",
    "toDayOfMonth": "day",
    "toMonth": "month",
    "toYear": "year",
}

#: ClickHouse formatDateTime %-tokens -> JVM DateTimeFormatter patterns.
#: Only tokens with identical rendering are mapped; anything else raises
#: so a silent wrong-format never ships.
_FMT_TOKENS = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%i": "mm",
    "%S": "ss",
    "%F": "yyyy-MM-dd",
    "%T": "HH:mm:ss",
    "%%": "%",
}


def _format_pattern(ch_fmt: str) -> str:
    """Transliterate a ClickHouse formatDateTime pattern (single-quoted
    SQL literal, quotes included) to a JVM pattern literal."""
    if not (ch_fmt.startswith("'") and ch_fmt.endswith("'")):
        raise ValueError(
            f"formatDateTime pattern must be a string literal, got {ch_fmt!r}"
        )
    body = ch_fmt[1:-1]
    out, i = [], 0
    while i < len(body):
        if body[i] == "%":
            tok = body[i : i + 2]
            if tok not in _FMT_TOKENS:
                raise ValueError(f"unsupported formatDateTime token {tok!r}")
            out.append(_FMT_TOKENS[tok])
            i += 2
        else:
            # literal run: quote it if it contains letters (JVM patterns
            # treat bare letters as pattern chars)
            j = i
            while j < len(body) and body[j] != "%":
                j += 1
            lit = body[i:j]
            out.append(f"'{lit}'" if re.search(r"[A-Za-z]", lit) else lit)
            i = j
    return "'" + "".join(out) + "'"


def _split_regex_literal(sep: str) -> str:
    """splitByChar separator literal -> regex-escaped Spark split literal."""
    if not (sep.startswith("'") and sep.endswith("'")):
        raise ValueError(f"splitByChar separator must be a string literal, got {sep!r}")
    raw = sep[1:-1].replace("''", "'")
    escaped = re.escape(raw).replace("'", "''")
    return f"'{escaped}'"


def _multi_if(args: list[str]) -> str:
    if len(args) < 3 or len(args) % 2 == 0:
        raise ValueError("multiIf needs cond,value pairs plus an else branch")
    parts = ["CASE"]
    for c, v in zip(args[:-1:2], args[1:-1:2]):
        parts.append(f"WHEN {c} THEN {v}")
    parts.append(f"ELSE {args[-1]} END")
    return " ".join(parts)




#: Every ClickHouse function ``translate`` rewrites, by lowercased name:
#: a word matches case-insensitively when the next non-blank token is
#: "(". A build gets the translated, stripped arguments and returns the
#: Spark text; one that returns None declines, and the call is kept.
#: ``now`` depends on the anchor, so ``translate`` adds it per call.
_CALLS = {
    "tostartofhour": lambda a: f"date_trunc('hour', {a[0]})",
    "toyyyymm": lambda a: f"CAST(year({a[0]}) * 100 + month({a[0]}) AS INT)",
    "todecimal32": lambda a: f"CAST({a[0]} AS DECIMAL(9, {a[1] if len(a) > 1 else 0}))",
    "parsedatetimebesteffortornull": lambda a: (
        f"coalesce(to_timestamp({a[0]}, '{EVENT_TIME_FORMAT}'), "
        f"to_timestamp({a[0]}))"
    ),
    # ClickHouse count() == count(*)
    "count": lambda a: f"count({', '.join(a) or '*'})",
    # parametric aggregates, name(params)(args): see _PARAMETRIC
    "quantile": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantileexact": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "sumif": lambda a: f"sum(if(({a[1]}), ({a[0]}), 0))",
    "countif": lambda a: f"sum(if(({a[0]}), 1, 0))",
    **{
        f"{agg}if": lambda a, s=agg: f"{s}(CASE WHEN ({a[1]}) THEN ({a[0]}) END)"
        for agg in ("avg", "min", "max")
    },
    "uniqexact": lambda a: f"count(DISTINCT {', '.join(a)})",
    "uniq": lambda a: f"count(DISTINCT {', '.join(a)})",
    "argmax": lambda a: f"max_by({a[0]}, {a[1]})",
    "argmin": lambda a: f"min_by({a[0]}, {a[1]})",
    "multiif": _multi_if,
    "arrayjoin": lambda a: f"explode({a[0]})",
    "has": lambda a: f"array_contains({a[0]}, {a[1]})",
    "splitbychar": lambda a: f"split({a[1]}, {_split_regex_literal(a[0])})",
    "jsonextractstring": lambda a: (
        f"get_json_object({a[0]}, '$.' || {a[1]})"
        if not (a[1].startswith("'") and a[1].endswith("'"))
        else f"get_json_object({a[0]}, '$.{a[1][1:-1]}')"
    ),
    "jsonextractint": lambda a: f"CAST(get_json_object({a[0]}, '$.{a[1][1:-1]}') AS BIGINT)",
    "jsonextractfloat": lambda a: f"CAST(get_json_object({a[0]}, '$.{a[1][1:-1]}') AS DOUBLE)",
    "todate": lambda a: f"to_date({a[0]})",
    "todatetime": lambda a: f"to_timestamp({a[0]})",
    **{
        f.lower(): lambda a, u=unit: f"date_trunc('{u}', {a[0]})"
        for f, unit in _TRUNC_FUNCS.items()
    },
    **{f.lower(): lambda a, p=part: f"{p}({a[0]})" for f, part in _PART_FUNCS.items()},
    # ClickHouse: Monday=1..Sunday=7; Spark dayofweek: Sunday=1..Saturday=7
    "todayofweek": lambda a: f"(((dayofweek({a[0]}) + 5) % 7) + 1)",
    **{
        f.lower(): lambda a, t=stype: f"CAST({a[0]} AS {t})"
        for f, stype in _CAST_FUNCS.items()
    },
    "intdiv": lambda a: f"(({a[0]}) DIV ({a[1]}))",
    "modulo": lambda a: f"(({a[0]}) % ({a[1]}))",
    "formatdatetime": lambda a: f"date_format({a[0]}, {_format_pattern(a[1])})",
    "grouparray": lambda a: f"collect_list({a[0]})",
    "groupuniqarray": lambda a: f"collect_set({a[0]})",
    # ClickHouse any()/anyLast() contract is 'some value from the
    # group, nondeterministic'; Spark's any_value carries exactly that
    # contract (anyLast's 'last seen' is itself arrival-order-defined,
    # which a distributed read does not fix).
    "anylast": lambda a: f"any_value({a[0]})",
    # `x > ANY (SELECT ...)` is the SQL quantified comparison, not the
    # ClickHouse aggregate: decline it
    "any": lambda a: (
        None
        if len(a) == 1 and a[0].lstrip().lower().startswith("select")
        else f"any_value({a[0]})"
    ),
}

#: Builds that take two argument lists, ``quantile(0.5)(x)``.
_PARAMETRIC = ("quantile", "quantileexact")


def _walk(toks: list[str], i: int, end: int, calls: dict) -> str:
    """Translate ``toks[i:end]``: each call in ``calls`` becomes its
    build over its translated arguments, PREWHERE becomes WHERE, and
    every other token is copied."""
    out = []
    while i < end:
        tok = toks[i]
        low = tok.lower()
        text = None
        if low in calls:
            args, j = _args(toks, i + 1, end, calls)
            if args is not None and low in _PARAMETRIC:
                params, (args, j) = args, _args(toks, j, end, calls)
                text = None if args is None else calls[low](params, args)
            elif args is not None:
                text = calls[low](args)
        if text is None:
            out.append("WHERE" if low == "prewhere" else tok)
            i += 1
        else:
            out.append(text)
            i = j
    return "".join(out)


def _args(toks: list[str], i: int, end: int, calls: dict):
    """The translated arguments of the parenthesised list that starts at
    the first non-blank token at or after ``i`` (split at depth-1
    commas), and the index after its ")"; ``(None, i)`` if no complete
    list starts there."""
    while i < end and toks[i].isspace():
        i += 1
    if i == end or toks[i] != "(":
        return None, i
    depth, cuts = 0, [i]
    for k in range(i, end):
        if toks[k] == "(":
            depth += 1
        elif toks[k] == ")":
            depth -= 1
            if depth == 0:
                cuts.append(k)
                args = [_text(toks, a + 1, b, calls) for a, b in zip(cuts, cuts[1:])]
                return ([] if args == [""] else args), k + 1
        elif toks[k] == "," and depth == 1:
            cuts.append(k)
    return None, i


def _text(toks: list[str], i: int, end: int, calls: dict) -> str:
    """``_walk`` stripped of outer blanks. A trailing ``--`` comment
    keeps its newline, so text placed after it stays code."""
    text = _walk(toks, i, end, calls).strip()
    last = next((t for t in reversed(toks[i:end]) if not t.isspace()), "")
    return text + "\n" if last.startswith("--") else text


def translate(sql: str, anchor: str | None = None) -> str:
    """ClickHouse SQL -> Spark SQL for the reference's query surface.

    ``anchor``: optional 'YYYY-MM-DD HH:MM:SS' literal substituted for
    ``now()`` so relative-time predicates are reproducible over static
    data (the same ANCHOR contract operators/serving.py uses). Default
    keeps live ``current_timestamp()`` semantics.
    """
    now = f"TIMESTAMP '{anchor}'" if anchor is not None else "current_timestamp()"
    return _rewrite_limit_by(_TOKEN.findall(sql), {**_CALLS, "now": lambda a: now})


#: ``LIMIT n BY``, ``LIMIT off, n BY`` and ``LIMIT n OFFSET off BY`` over
#: the upper-cased top-level tokens joined by single spaces.
_LIMIT_BY = re.compile(r"LIMIT (\d+) (?:, (\d+) |OFFSET (\d+) )?BY ")


def _rewrite_limit_by(toks: list[str], calls: dict) -> str:
    """Translate ``toks``, rewriting ClickHouse ``... ORDER BY <o> LIMIT
    <n> BY <cols> [LIMIT <m>]`` into a row_number window over the BY
    columns ordered by <o>. The offset variants ``LIMIT <off>, <n> BY``
    and ``LIMIT <n> OFFSET <off> BY`` keep rows ``BETWEEN off+1 AND
    off+n`` per group.

    Spark has no LIMIT-BY clause; the standard rewrite wraps the query
    and keeps the first n rows per BY-group under the query's own
    ORDER BY, then re-applies the presentation order (and the plain
    trailing LIMIT, if any). Supported shape: one top-level ORDER BY
    before the LIMIT BY, referencing output columns -- the form every
    dashboard 'top n per group' query takes. A LIMIT BY without an
    ORDER BY is rejected: ClickHouse keeps 'first encountered' rows
    there, which no distributed engine can reproduce deterministically.
    """
    top, depth = [], 0  # indices of the non-blank tokens at paren depth 0
    for k, tok in enumerate(toks):
        if tok == ")":
            depth -= 1
        if depth == 0 and not tok.isspace():
            top.append(k)
        if tok == "(":
            depth += 1
    words = [toks[k].upper() for k in top]
    for lim, word in enumerate(words):
        m = word == "LIMIT" and _LIMIT_BY.match(" ".join(words[lim : lim + 6]) + " ")
        if m:
            break
    else:
        return _walk(toks, 0, len(toks), calls)
    if m[2] is not None:  # LIMIT offset, n BY
        offset, n_rows = int(m[1]), int(m[2])
    elif m[3] is not None:  # LIMIT n OFFSET offset BY
        offset, n_rows = int(m[3]), int(m[1])
    else:
        offset, n_rows = 0, int(m[1])
    by = lim + m[0].count(" ") - 1
    nxt = next((top[q] for q in range(by + 1, len(words)) if words[q] == "LIMIT"), len(toks))
    order = next((q for q, w in enumerate(words[:lim]) if w == "ORDER" and words[q + 1] == "BY"), None)
    if order is None:
        raise ValueError(
            "LIMIT BY without a preceding ORDER BY is nondeterministic; "
            "add an ORDER BY to make the kept rows well-defined"
        )
    head = _text(toks, 0, top[order], calls)
    o_expr = _text(toks, top[order + 1] + 1, top[lim], calls)
    cols = _text(toks, top[by] + 1, nxt, calls).rstrip(";")
    tail = _text(toks, nxt, len(toks), calls).rstrip(";")
    keep = (
        f"__lb_rn BETWEEN {offset + 1} AND {offset + n_rows}"
        if offset
        else f"__lb_rn <= {n_rows}"
    )
    out = (
        f"SELECT * EXCEPT (__lb_rn) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {cols} "
        f"ORDER BY {o_expr}) AS __lb_rn FROM ({head}) __lb"
        f") WHERE {keep} ORDER BY {o_expr}"
    )
    if tail:
        out += f" {tail}"
    return out


def run_clickhouse_sql(spark, sql: str, anchor: str | None = None):
    """Translate and execute a ClickHouse-dialect query against the
    tables registered in the current Spark session (e.g. the ``sales``
    / ``stock_movements`` tables the ingest pipeline materializes)."""
    return spark.sql(translate(sql, anchor=anchor))
