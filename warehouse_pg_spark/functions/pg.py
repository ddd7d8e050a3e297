"""PG-dialect function library.

Registers PostgreSQL/Greenplum function spellings that Spark lacks as
SQL scalar UDFs (Spark 4 `CREATE FUNCTION ... RETURN <expr>` — pure
Catalyst expressions, codegen'd, no Python in the hot path), plus
Column-level helpers for the DataFrame API.

SURVEY §2.9's mapping table realized. Reference anchors:
utils/adt/varlena.c (strings), oracle_compat.c, timestamp.c /
formatting.c (to_char engine), interpolate.c:236 (linear_interpolate),
numeric.c (width_bucket), pivot.c:31 (pivot helpers).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# DataFrame-API helpers
# ---------------------------------------------------------------------------


def string_agg(col: Column | str, sep: str = ",", order: bool = True) -> Column:
    """PG string_agg(x, sep ORDER BY x) — deterministic via sort_array
    (Spark aggregates have no ORDER BY; SURVEY §2.4 ordered aggregates)."""
    lst = F.collect_list(col)
    if order:
        lst = F.sort_array(lst)
    return F.array_join(lst, sep)


def array_agg_ordered(col: Column | str) -> Column:
    """PG array_agg(x ORDER BY x)."""
    return F.sort_array(F.collect_list(col))


def median(col: Column | str) -> Column:
    """GP median() = percentile_cont(0.5) (pg_proc.dat:11586)."""
    return F.percentile(F.col(col) if isinstance(col, str) else col, F.lit(0.5))


def linear_interpolate(
    x: Column, x0: Column, y0: Column, x1: Column, y1: Column
) -> Column:
    """GP linear_interpolate(x, x0, y0, x1, y1) (interpolate.c:236)."""
    num = x.cast("double") - x0.cast("double")
    den = x1.cast("double") - x0.cast("double")
    return F.when(den == 0, y0.cast("double")).otherwise(
        y0.cast("double") + (y1.cast("double") - y0.cast("double")) * num / den
    )


def age_months(a: Column, b: Column) -> Column:
    """PG age() at month grain."""
    return F.floor(F.months_between(a, b)).cast("long")


def array_replace(arr: Column | str, frm, to) -> Column:
    """PG array_replace(arr, from, to) (arrayfuncs.c array_replace):
    every element equal to `from` (NULL-safely — a NULL `from` replaces
    NULL elements, per PG) becomes `to`. Pure transform(), codegen'd."""
    arr_c = F.col(arr) if isinstance(arr, str) else arr
    frm_c = frm if isinstance(frm, Column) else F.lit(frm)
    to_c = to if isinstance(to, Column) else F.lit(to)
    return F.transform(
        arr_c, lambda x: F.when(x.eqNullSafe(frm_c), to_c).otherwise(x)
    )


# ---------------------------------------------------------------------------
# SQL scalar UDF registration (PG spellings valid inside engine.sql())
# ---------------------------------------------------------------------------

# name -> (typed signature, return type, body in Spark SQL)
_STRIDE_US = (
    "CAST(extract(SECOND FROM stride) * 1000000 "
    "+ extract(MINUTE FROM stride) * 60000000 "
    "+ extract(HOUR FROM stride) * 3600000000 "
    "+ extract(DAY FROM stride) * 86400000000 AS BIGINT)"
)

_SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    # GP complex number type (gpcontrib complex_type.c): modeled as
    # STRUCT<re, im> over doubles — constructor + accessors; the
    # string spellings ('infinity', 'nan') ride Spark's string→double
    # cast. Arithmetic OPERATORS over complex stay out of scope (no
    # operator overloading on structs).
    "complex": (
        "re_p DOUBLE, im_p DOUBLE",
        "STRUCT<re: DOUBLE, im: DOUBLE>",
        "named_struct('re', re_p, 'im', im_p)",
    ),
    "re": ("z STRUCT<re: DOUBLE, im: DOUBLE>", "DOUBLE", "z.re"),
    "im": ("z STRUCT<re: DOUBLE, im: DOUBLE>", "DOUBLE", "z.im"),
    "conj": (
        "z STRUCT<re: DOUBLE, im: DOUBLE>",
        "STRUCT<re: DOUBLE, im: DOUBLE>",
        "named_struct('re', z.re, 'im', -z.im)",
    ),
    # GP planner/test knobs: disable_xform/enable_xform toggle ORCA
    # transforms and gp_debug_set_create_table_default_numsegments
    # sets a physical distribution width — pure planner/layout hints
    # with no semantic effect here (one logical segment, Catalyst
    # plans); they echo their argument like a no-op acknowledgment
    "disable_xform": ("s STRING", "STRING", "s"),
    "enable_xform": ("s STRING", "STRING", "s"),
    "gp_debug_set_create_table_default_numsegments": (
        "s STRING", "STRING", "s"),
    "strpos": ("s STRING, sub STRING", "INT", "instr(s, sub)"),
    "to_hex": ("n BIGINT", "STRING", "lower(hex(n))"),
    "quote_literal": (
        "s STRING",
        "STRING",
        "concat('''', replace(s, '''', ''''''), '''')",
    ),
    "quote_ident": ("s STRING", "STRING", 'concat(\'"\', s, \'"\')'),
    "initcap_pg": ("s STRING", "STRING", "initcap(s)"),
    # hashfloat4/8 (access/hash/hashfunc.c): any consistent hash passes
    # the regress identities, which only check equalities — the +0.0
    # collapses -0.0 onto +0.0, and float4 widens to the float8 value
    # so hashfloat4(x) = hashfloat8(x) for exactly-representable x
    "hashfloat8": ("x DOUBLE", "INT", "hash(x + CAST(0.0 AS DOUBLE))"),
    "hashfloat4": (
        "x FLOAT", "INT",
        "hash(CAST(x AS DOUBLE) + CAST(0.0 AS DOUBLE))",
    ),
    # float8 aggregate transition/combine functions (utils/adt/float.c):
    # state {N, Sx, Sxx} and the regr state {N, Sx, Sxx, Sy, Syy, Sxy}
    "float8_accum": (
        "s ARRAY<DOUBLE>, x DOUBLE",
        "ARRAY<DOUBLE>",
        "array(element_at(s, 1) + 1, element_at(s, 2) + x, "
        "element_at(s, 3) + x * x)",
    ),
    "float8_combine": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "ARRAY<DOUBLE>",
        "zip_with(a, b, (x, y) -> x + y)",
    ),
    "float8_regr_accum": (
        "s ARRAY<DOUBLE>, y DOUBLE, x DOUBLE",
        "ARRAY<DOUBLE>",
        "array(element_at(s, 1) + 1, element_at(s, 2) + x, "
        "element_at(s, 3) + x * x, element_at(s, 4) + y, "
        "element_at(s, 5) + y * y, element_at(s, 6) + y * x)",
    ),
    "float8_regr_combine": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "ARRAY<DOUBLE>",
        "zip_with(a, b, (x, y) -> x + y)",
    ),
    "log_pg": ("x DOUBLE", "DOUBLE", "log10(x)"),  # PG log(x) = base 10
    # PG network types (network.c): values are canonical text; pg_inet
    # is the identity marker the dialect's literal folds emit, and the
    # accessors are pure string ops — inet analytics over a 100 TB log
    # column stay inside whole-stage codegen
    "pg_inet": ("s STRING", "STRING", "s"),
    # bit-string accessors over the 0/1-text model (varbit.c
    # bit_getbit/bit_setbit; PG positions are 0-based from the left)
    "get_bit": (
        "s STRING, n INT", "INT", "CAST(substr(s, n + 1, 1) AS INT)",
    ),
    "set_bit": (
        "s STRING, n INT, v INT",
        "STRING",
        "concat(substr(s, 1, n), CAST(v AS STRING), substr(s, n + 2))",
    ),
    # byte accessors over bytea (varlena.c byteaGetByte/byteaSetByte):
    # pure hex-text surgery, no Python boundary
    "get_byte": (
        "b BINARY, i INT", "INT",
        "CAST(conv(substr(hex(b), i * 2 + 1, 2), 16, 10) AS INT)",
    ),
    "set_byte": (
        "b BINARY, i INT, v INT", "BINARY",
        "unhex(concat(substr(hex(b), 1, i * 2), "
        "lpad(hex(pmod(v, 256)), 2, '0'), substr(hex(b), i * 2 + 3)))",
    ),
    # current_schemas (namespace.c): the engine's single flat schema
    "current_schemas": (
        "b BOOLEAN", "ARRAY<STRING>",
        "IF(b, array('pg_catalog', 'public'), array('public'))",
    ),
    # timeofday (timestamp.c): PG's ctime-style rendering
    "timeofday": (
        "", "STRING",
        "date_format(now(), 'EEE MMM dd HH:mm:ss.SSSSSS yyyy z')",
    ),
    # make_time (date.c make_time): the engine's TIME model is the
    # HH:MM:SS[.f] string (sorts correctly, no Spark TIME type)
    "pg_make_time": (
        "h INT, m INT, s DOUBLE", "STRING",
        "concat(lpad(h, 2, '0'), ':', lpad(m, 2, '0'), ':', "
        "lpad(CAST(floor(s) AS INT), 2, '0'), "
        "IF(s = floor(s), '', substr(CAST(s - floor(s) AS STRING), 2)))",
    ),
    # SHA-2 digests over text/bytea input (cryptohashfuncs.c): PG
    # returns bytea, which canonicalizes as \x-hex at the boundary
    "sha224": ("s STRING", "BINARY", "unhex(sha2(s, 224))"),
    "sha256": ("s STRING", "BINARY", "unhex(sha2(s, 256))"),
    "sha384": ("s STRING", "BINARY", "unhex(sha2(s, 384))"),
    "sha512": ("s STRING", "BINARY", "unhex(sha2(s, 512))"),
    "host": ("s STRING", "STRING", "split_part(s, '/', 1)"),
    "masklen": (
        "s STRING", "INT",
        "CASE WHEN contains(s, '/') THEN "
        "CAST(split_part(s, '/', 2) AS INT) "
        "WHEN contains(s, ':') THEN 128 ELSE 32 END",
    ),
    "family": ("s STRING", "INT", "IF(contains(s, ':'), 6, 4)"),
    "inet_same_family": (
        "a STRING, b STRING", "BOOLEAN",
        "contains(a, ':') = contains(b, ':')",
    ),
    # XML value construction (xml.c): pg_xml is an identity marker the
    # dialect uses to tag already-XML subtrees (nested constructors
    # embed raw, text content escapes); Catalyst inlines it away.
    "pg_xml": ("s STRING", "STRING", "s"),
    # cash.c cash_in/cash_out: '$1,234.56' and '(1)' accounting-
    # negative input; '$-12,345.00'-style text output (locale C)
    "pg_money_in": (
        "s STRING",
        "DECIMAL(19,2)",
        "CASE WHEN s IS NULL THEN NULL ELSE "
        "CAST(CASE WHEN trim(s) LIKE '(%' THEN -1 ELSE 1 END AS "
        "DECIMAL(19,2)) * "
        "CAST(regexp_replace(trim(s), '[$,() ]', '') AS DECIMAL(19,2)) "
        "END",
    ),
    "pg_money_text": (
        "v DECIMAL(19,2)",
        "STRING",
        "CASE WHEN v IS NULL THEN NULL "
        "WHEN v < 0 THEN concat('-$', format_number(-v, 2)) "
        "ELSE concat('$', format_number(v, 2)) END",
    ),
    # numeric.c numeric_scale: digits after the decimal point of the
    # value's text form (Spark decimal literals keep declared scale,
    # so scale(8.4100) = 4 like PG)
    "scale_pg": (
        "s STRING",
        "INT",
        "CASE WHEN s IS NULL THEN NULL "
        "WHEN instr(s, '.') = 0 OR instr(upper(s), 'E') > 0 THEN 0 "
        "ELSE length(s) - instr(s, '.') END",
    ),
    "xml_escape_content": (
        "s STRING",
        "STRING",
        "replace(replace(replace(s, '&', '&amp;'), '<', '&lt;'), "
        "'>', '&gt;')",
    ),
    "xml_escape_attr": (
        "s STRING",
        "STRING",
        "replace(replace(replace(replace(replace(s, '&', '&amp;'), "
        "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;'), chr(13), '&#x0d;')",
    ),
    "trunc_num": (
        "x DOUBLE",
        "DOUBLE",
        "CASE WHEN x >= 0 THEN floor(x) ELSE ceil(x) END",
    ),
    "div_pg": ("a BIGINT, b BIGINT", "BIGINT", "a div b"),
    "width_bucket_pg": (
        "x DOUBLE, lo DOUBLE, hi DOUBLE, n BIGINT",
        "BIGINT",
        "CASE WHEN x < lo THEN 0 WHEN x >= hi THEN n + 1 "
        "ELSE CAST(floor((x - lo) / (hi - lo) * n) AS BIGINT) + 1 END",
    ),
    "age_in_months": (
        "a TIMESTAMP, b TIMESTAMP",
        "BIGINT",
        "CAST(floor(months_between(a, b)) AS BIGINT)",
    ),
    "json_extract_text": (
        "j STRING, p STRING",
        "STRING",
        "get_json_object(j, p)",
    ),
    "linear_interpolate": (
        "x DOUBLE, x0 DOUBLE, y0 DOUBLE, x1 DOUBLE, y1 DOUBLE",
        "DOUBLE",
        "CASE WHEN x1 = x0 THEN y0 ELSE y0 + (y1 - y0) * (x - x0) / (x1 - x0) END",
    ),
    # PG 11 starts_with (varlena.c text_starts_with)
    "starts_with": ("s STRING, p STRING", "BOOLEAN", "startswith(s, p)"),
    # array_dims (arrayfuncs.c array_dims): '[1:n]' text; NULL/empty
    # arrays yield NULL. One-dimensional form (nested arrays don't
    # implicitly coerce to ARRAY<STRING>)
    "array_dims": (
        "a ARRAY<STRING>",
        "STRING",
        "CASE WHEN a IS NULL OR size(a) = 0 THEN CAST(NULL AS STRING) "
        "ELSE concat('[1:', size(a), ']') END",
    ),
    # isfinite(double) (float.c float8_isfinite); PG also overloads
    # date/timestamp for its +-infinity sentinels, which don't exist here
    "isfinite": (
        "x DOUBLE",
        "BOOLEAN",
        "NOT (isnan(x) OR x = double('Infinity') OR x = double('-Infinity'))",
    ),
    # to_number(text, fmt): Spark's BUILT-IN to_number implements the
    # same NUM-format family (9/0/,/./$/S) natively — not shadowed here.
    # pgcrypto/PG 13 gen_random_uuid (uuid.c)
    "gen_random_uuid": ("", "STRING", "uuid()"),
    # PG 16 random_normal(mean, stddev) (float.c)
    "random_normal": (
        "mean DOUBLE, stddev DOUBLE",
        "DOUBLE",
        "randn() * stddev + mean",
    ),
    # clock/statement/transaction timestamps (utils/adt/timestamp.c):
    # one micro-batch has one statement time, so all three collapse to
    # current_timestamp — per-call clock drift inside a distributed
    # query is not reproducible and deliberately not emulated
    "clock_timestamp": ("", "TIMESTAMP", "current_timestamp()"),
    "statement_timestamp": ("", "TIMESTAMP", "current_timestamp()"),
    "transaction_timestamp": ("", "TIMESTAMP", "current_timestamp()"),
    # parse_ident('a.b.c') (misc.c) — no quoted-ident unwrapping
    "parse_ident": ("s STRING", "ARRAY<STRING>", "split(s, '\\\\.')"),
    # num_nulls/num_nonnulls (misc.c) — PG is variadic; the dominant
    # 2- and 3-argument call shapes
    "num_nulls2": (
        "a STRING, b STRING",
        "INT",
        "CAST(a IS NULL AS INT) + CAST(b IS NULL AS INT)",
    ),
    "num_nonnulls2": (
        "a STRING, b STRING",
        "INT",
        "CAST(a IS NOT NULL AS INT) + CAST(b IS NOT NULL AS INT)",
    ),
    # PG to_char(numeric, fmt) for the common numeric patterns
    # (formatting.c NUM_* engine): fixed decimal places, FM prefix.
    # Unknown patterns fall back to 2-decimal money formatting.
    "to_char_num": (
        "x DOUBLE, fmt STRING",
        "STRING",
        "CASE WHEN fmt RLIKE '\\\\.(9|0){2}$' THEN CAST(CAST(x AS DECIMAL(38,2)) AS STRING) "
        "WHEN fmt RLIKE '\\\\.(9|0)$' THEN CAST(CAST(x AS DECIMAL(38,1)) AS STRING) "
        "WHEN fmt RLIKE '^(FM)?(9|0)+$' THEN CAST(CAST(round(x, 0) AS BIGINT) AS STRING) "
        "ELSE CAST(CAST(x AS DECIMAL(38,2)) AS STRING) END",
    ),
    # to_char with the common numeric/date patterns used in the regress corpus
    "to_char_ts": (
        "ts TIMESTAMP, fmt STRING",
        "STRING",
        "CASE fmt WHEN 'YYYY-MM-DD' THEN date_format(ts, 'yyyy-MM-dd') "
        "WHEN 'YYYY-MM-DD HH24:MI:SS' THEN date_format(ts, 'yyyy-MM-dd HH:mm:ss') "
        "WHEN 'MM/DD/YYYY' THEN date_format(ts, 'MM/dd/yyyy') "
        "WHEN 'YYYY' THEN date_format(ts, 'yyyy') "
        "WHEN 'Month' THEN date_format(ts, 'MMMM') "
        "WHEN 'Day' THEN date_format(ts, 'EEEE') "
        "ELSE date_format(ts, 'yyyy-MM-dd HH:mm:ss') END",
    ),
    # PG 14 date_bin(stride, source, origin) (timestamp.c
    # timestamp_bin): floor `source` onto the stride grid anchored at
    # `origin`. Integer microsecond arithmetic — `div` truncates toward
    # zero, so shift negatives down one stride to get floor semantics
    # for sources before the origin.
    "date_bin": (
        "stride INTERVAL DAY TO SECOND, source TIMESTAMP, origin TIMESTAMP",
        "TIMESTAMP",
        # stride length in integer microseconds (extract(SECOND) is a
        # DECIMAL(8,6) — the whole sum must be cast back to BIGINT for
        # timestamp_micros / div)
        "timestamp_micros(unix_micros(origin) + "
        "((unix_micros(source) - unix_micros(origin)) div "
        + _STRIDE_US
        + " - CASE WHEN unix_micros(source) < unix_micros(origin) "
        "        AND (unix_micros(source) - unix_micros(origin)) % "
        + _STRIDE_US
        + " != 0 THEN 1 ELSE 0 END) * "
        + _STRIDE_US
        + ")",
    ),
    # TimescaleDB-style time_bucket(width, ts) — date_bin anchored at
    # the epoch (the hypertable rollup primitive).
    "time_bucket": (
        "width INTERVAL DAY TO SECOND, ts TIMESTAMP",
        "TIMESTAMP",
        "date_bin(width, ts, TIMESTAMP '1970-01-01 00:00:00')",
    ),
}

_REGISTERED_SESSIONS: set[int] = set()


def _jsonb_contains_py(a: str | None, b: str | None):
    """PG jsonb containment `a @> b` (reference
    src/backend/utils/adt/jsonb_util.c JsonbDeepContains): objects
    contain objects key-by-key (values recursively); arrays contain
    arrays element-wise with set semantics; a TOP-LEVEL array contains
    a bare scalar; scalars compare by value with bool≠number."""
    import json as _json

    if a is None or b is None:
        return None
    try:
        va, vb = _json.loads(a), _json.loads(b)
    except (ValueError, TypeError):
        return None

    def contains(x, y, top: bool = False) -> bool:
        if isinstance(x, dict):
            return isinstance(y, dict) and all(
                k in x and contains(x[k], v) for k, v in y.items()
            )
        if isinstance(x, list):
            if isinstance(y, list):
                return all(any(contains(xe, ye) for xe in x) for ye in y)
            if top and not isinstance(y, dict):
                return any(contains(xe, y) for xe in x)
            return False
        if isinstance(y, (dict, list)):
            return False
        if isinstance(x, bool) != isinstance(y, bool):
            return False
        return x == y

    return contains(va, vb, top=True)


def jsonpath_validate(p: str) -> None:
    """Plan-time jsonpath LITERAL validation (jsonpath_scan.l /
    jsonpath_gram.y token rules): raises ValueError on the input
    forms PG's parser rejects — empty paths, keywords outside their
    context (bare `last`, `@` at top level), malformed numbers
    ('00', '.1', '1e', '1..e'), bad like_regex patterns/flags, and
    the \\u0000 escape. A validator, not an evaluator: anything
    token-clean passes even if the eval subset can't run it."""
    import re as _re

    s = p.strip()
    if not s:
        raise ValueError("invalid jsonpath: empty")
    body = _re.sub(r"^(?:strict|lax)\b", "", s).strip()
    if not body:
        raise ValueError("invalid jsonpath: empty after mode")
    if _re.search(r"(?<!\\)(?:\\\\)*(\\u0000)", body):
        # only a REAL escape (odd backslash run) is a NUL; \\u0000
        # is an escaped backslash + text (jsonpath.out not_an_escape)
        raise ValueError(
            "invalid jsonpath: \\u0000 cannot be converted to text")
    # jsonpath_scan.l accepts \xNN, \u{...}, \uNNNN and \<char>
    # escapes inside BOTH quoted strings and member identifiers
    # ($.foo\x50\u{53}\t\"bar — jsonpath.out:180); collapse them
    # before the token checks so an escaped quote can't read as an
    # unterminated string
    esc = _re.sub(
        r"\\u\{[0-9a-fA-F]+\}|\\u[0-9a-fA-F]{4}"
        r"|\\x[0-9a-fA-F]{2}|\\.",
        "E",
        body,
    )
    # strings are opaque for the remaining token checks
    masked = _re.sub(r'"(?:[^"\\]|\\.)*"', '""', esc)
    if '"' in masked.replace('""', ""):
        raise ValueError("invalid jsonpath: unterminated string")
    for pair in ("()", "[]", "{}"):
        if masked.count(pair[0]) != masked.count(pair[1]):
            raise ValueError(
                f"invalid jsonpath: unbalanced {pair}")
    # number tokens (jsonpath_scan.l {int}/{decimal}): no leading
    # zeros, a dot continues the number ONLY when a digit follows
    # (1.e3 is number 1 + member access "e3" — valid), and a bare
    # [eE] directly after the digits is an (invalid) empty exponent.
    # A leading-dot fraction (.1) is invalid.
    if _re.search(r"(?<![\w.])\.\d", masked):
        raise ValueError(
            "invalid jsonpath number: fraction without leading digit")
    for nm in _re.finditer(
        r"(?<![\w.])(\d+(?:\.\d+)?(?:[eE][+-]?\d*)?)", masked
    ):
        tok = nm.group(1)
        if not _re.fullmatch(
            r"(?:0|[1-9]\d*)(?:\.\d+)?(?:[eE][+-]?\d+)?", tok
        ):
            raise ValueError(
                f"invalid jsonpath number: {tok!r}")
        after = masked[nm.end(): nm.end() + 2]
        # a trailing dot with no member/digit after ('(1.).e') is
        # the scanner's "trailing junk after numeric literal"
        if after.startswith(".") and not _re.match(
            r"\.(?:\w|\*)", after
        ):
            raise ValueError(
                f"invalid jsonpath number: {tok!r} followed by '.'")
    # `last` is legal only inside a subscript or a .**{} level range;
    # `@` only inside a filter (jsonpath_gram.y accessor contexts)
    depth_sq = depth_par = 0
    filter_parens: list = []  # paren depths where a `? (` opened
    pending_filter = False
    i = 0
    while i < len(masked):
        ch = masked[i]
        if ch in "[{":
            depth_sq += 1
        elif ch in "]}":
            depth_sq -= 1
        elif ch == "?":
            pending_filter = True
        elif ch == "(":
            depth_par += 1
            if pending_filter:
                filter_parens.append(depth_par)
                pending_filter = False
        elif ch == ")":
            if filter_parens and filter_parens[-1] == depth_par:
                filter_parens.pop()
            depth_par -= 1
        elif ch == "@" and not filter_parens:
            raise ValueError(
                "invalid jsonpath: @ is allowed only in filters")
        if pending_filter and ch not in "? \t":
            pending_filter = False
        elif masked.startswith("last", i) and masked[
            i + 4: i + 5
        ].isalnum() is False and depth_sq == 0:
            prev = masked[:i].rstrip()[-1:]
            if prev not in (".",):  # .last member name is fine
                raise ValueError(
                    "invalid jsonpath: LAST is allowed only in "
                    "array subscripts")
            i += 4
            continue
        i += 1
    # like_regex: the pattern must compile; flags from {i,s,m,q}
    # ('x' is PG's "XQuery x flag not implemented" error)
    for lm in _re.finditer(
        r'like_regex\s+"((?:[^"\\]|\\.)*)"'
        r'(?:\s+flag\s+"((?:[^"\\]|\\.)*)")?',
        body,
    ):
        flags = lm.group(2) or ""
        for fl in flags:
            if fl not in "ismxq":
                raise ValueError(
                    "invalid input syntax for type jsonpath: "
                    f'unrecognized flag character "{fl}" in '
                    "LIKE_REGEX predicate")
        # jsonpath_gram.y: 'q' (literal quote) makes m/s/x ignored;
        # only a NON-quoted 'x' hits the XQuery not-implemented
        # raise (jspConvertRegexFlags), and with 'q' the pattern is
        # a literal — no regex compile check either
        if "q" in flags:
            continue
        if "x" in flags:
            raise ValueError(
                'XQuery "x" flag (expanded regular expressions) '
                "is not implemented")
        try:
            _re.compile(lm.group(1))
        except _re.error as exc:
            raise ValueError(
                f"invalid regular expression in like_regex: {exc}")


def _jp_parse(p: str):
    """Tokenize a jsonpath (reference src/backend/utils/adt/jsonpath.c
    grammar subset): mode prefix, .key / .* / .** member steps, [N] /
    [*] / [last] subscripts, one trailing ? (cond) filter."""
    import re as _re

    p = p.strip()
    mode = "lax"
    if p.startswith("strict"):
        mode, p = "strict", p[6:].strip()
    elif p.startswith("lax"):
        mode, p = "lax", p[3:].strip()
    if not p.startswith("$"):
        raise ValueError("jsonpath must start with $")
    p = p[1:]
    toks: list[tuple] = []
    i = 0
    while i < len(p):
        ch = p[i]
        if ch.isspace():
            i += 1
            continue
        if p.startswith(".**", i):
            toks.append(("rec",))
            i += 3
            # optional {n to m} level range: accept and ignore bounds
            m = _re.match(r"\s*\{[^}]*\}", p[i:])
            if m:
                i += m.end()
            continue
        if ch == ".":
            mm2 = _re.match(r"\.(\w+)\(\s*\)", p[i:])
            if mm2:
                toks.append(("method", mm2.group(1).lower()))
                i += mm2.end()
                continue
            m = _re.match(r"\.(\*|\w+)", p[i:])
            if not m:
                raise ValueError(f"bad member step at {p[i:]!r}")
            toks.append(("key", m.group(1)))
            i += m.end()
            continue
        if ch == "[":
            j = p.index("]", i)
            toks.append(("idx", p[i + 1 : j].strip()))
            i = j + 1
            continue
        if ch == "?":
            # balanced-paren filter (may be followed by more steps:
            # `$ ? (@.a == 1).b`); quoted strings shield parens
            j = i + 1
            while j < len(p) and p[j].isspace():
                j += 1
            if j >= len(p) or p[j] != "(":
                raise ValueError("unsupported filter form")
            depth, k, in_str = 0, j, None
            while k < len(p):
                c = p[k]
                if in_str:
                    if c == "\\":
                        k += 2
                        continue
                    if c == in_str:
                        in_str = None
                elif c in "\"'":
                    in_str = c
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        break
                k += 1
            if depth != 0:
                raise ValueError("unbalanced filter")
            toks.append(("filter", p[j + 1 : k].strip()))
            i = k + 1
            continue
        raise ValueError(f"unsupported jsonpath at {p[i:]!r}")
    return mode, toks


def _jp_comparand(lit: str):
    """Parse ONE explicit comparand token — a quoted string, number,
    true/false/null — never a blanket quote substitution, which would
    corrupt a string containing an apostrophe or an embedded double
    quote (?(@.name == "O'Brien"))."""
    import json as _json

    lit = lit.strip()
    if lit.startswith("'") and lit.endswith("'") and len(lit) >= 2:
        # lenient single-quoted spelling: unescape \' then JSON-decode
        body = lit[1:-1].replace("\\'", "'").replace('"', '\\"')
        return _json.loads('"' + body + '"')
    return _json.loads(lit)  # "..." / number / true / false / null / {}


def _jp_cmp3(v, op: str, w):
    """SQL/JSON 3-valued comparison (jsonpath_exec.c
    executeComparison): cross-type and ordered-null comparisons are
    Unknown (None), equality of nulls is true."""
    if v is None or w is None:
        if op == "==":
            return v is None and w is None
        if op in ("!=", "<>"):
            return not (v is None and w is None)
        return None
    if isinstance(v, (dict, list)) or isinstance(w, (dict, list)):
        if op == "==":
            return v == w
        if op in ("!=", "<>"):
            return v != w
        return None
    if isinstance(v, bool) != isinstance(w, bool) or (
        isinstance(v, str) != isinstance(w, str)
    ):
        return None  # number vs string vs bool: Unknown
    try:
        return {
            "==": v == w, "!=": v != w, "<>": v != w,
            "<": v < w, "<=": v <= w, ">": v > w, ">=": v >= w,
        }[op]
    except TypeError:
        return None


def _jp_split_top(s: str, seps: tuple[str, ...]) -> list[str]:
    """Split on any of `seps` at top level (outside quotes/parens/
    brackets); returns [s] when no top-level separator occurs."""
    parts, depth, in_str, last = [], 0, None, 0
    i = 0
    while i < len(s):
        c = s[i]
        if in_str:
            if c == "\\":
                i += 2
                continue
            if c == in_str:
                in_str = None
        elif c in "\"'":
            in_str = c
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            for sep in seps:
                if s.startswith(sep, i):
                    parts.append(s[last:i])
                    last = i + len(sep)
                    i += len(sep)
                    break
            else:
                i += 1
                continue
            continue
        i += 1
    parts.append(s[last:])
    return parts


def _jp_find_top_op(s: str) -> tuple[str, str, str] | None:
    """Locate the first top-level comparison operator; returns
    (lhs, op, rhs) or None."""
    depth, in_str = 0, None
    i = 0
    ops = ("==", "!=", "<>", "<=", ">=", "<", ">")
    while i < len(s):
        c = s[i]
        if in_str:
            if c == "\\":
                i += 2
                continue
            if c == in_str:
                in_str = None
        elif c in "\"'":
            in_str = c
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            for op in ops:
                if s.startswith(op, i):
                    return s[:i].strip(), op, s[i + len(op):].strip()
        i += 1
    return None


class _JPStrictError(ValueError):
    """Strict-mode structural violation (jsonpath_exec.c): PG RAISES
    for these at the top level of jsonb_path_query, while errors
    inside filter predicates are suppressed to Unknown — subclassing
    ValueError keeps the filter-internal except clauses suppressing,
    and the query entry point re-raises."""


class _JPExecError(ValueError):
    """PG-faithful jsonpath EXECUTION error (jsonpath_exec.c raises
    in both modes): item-method type violations, non-numeric
    arithmetic operands, bad array subscripts, division by zero.
    Distinct from the generic ValueError the evaluator uses for
    forms outside its subset (those fall back silently)."""


def _jp_apply_method(name: str, it):
    """Item methods (jsonpath_exec.c executeItemMethod*): .double()
    .abs() .floor() .ceiling() .type() .size() .keyvalue() — raising
    PG's own errors for type violations in BOTH modes."""
    import math as _math

    def is_num(v):
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    if name == "double":
        if is_num(it):
            v = float(it)
        elif isinstance(it, str):
            try:
                v = float(it)
            except ValueError:
                raise _JPExecError(
                    'argument "' + it + '" of jsonpath item method '
                    ".double() is not a valid representation of a "
                    "double precision number")
            if _math.isnan(v) or _math.isinf(v):
                raise _JPExecError(
                    "NaN or Infinity is not allowed for jsonpath "
                    "item method .double()")
        else:
            raise _JPExecError(
                "jsonpath item method .double() can only be applied "
                "to a string or numeric value")
        if _math.isinf(v):
            raise _JPExecError(
                'argument "' + str(it) + '" of jsonpath item method '
                ".double() is not a valid representation of a "
                "double precision number")
        return v
    if name in ("abs", "floor", "ceiling"):
        if not is_num(it):
            raise _JPExecError(
                f"jsonpath item method .{name}() can only be "
                "applied to a numeric value")
        if name == "abs":
            return abs(it)
        f = _math.floor(it) if name == "floor" else _math.ceil(it)
        return f if isinstance(it, int) else float(f)
    if name == "type":
        return (
            "null" if it is None
            else "boolean" if isinstance(it, bool)
            else "number" if is_num(it)
            else "string" if isinstance(it, str)
            else "array" if isinstance(it, list)
            else "object"
        )
    if name == "size":
        return len(it) if isinstance(it, list) else 1
    if name == "keyvalue":
        if not isinstance(it, dict):
            raise _JPExecError(
                "jsonpath item method .keyvalue() can only be "
                "applied to an object")
        return [
            {"key": k, "value": v, "id": 0} for k, v in it.items()
        ]
    raise ValueError(f"unsupported jsonpath item method .{name}()")


def _jp_sub_index(doc, n: list, el: str, mode: str):
    """One array-subscript element -> its integer index
    (jsonpath_exec.c getArrayIndex): a number, `last`, a filtered
    base (`last ? (pred)`), or an arithmetic expression over
    last/$/@ — truncated to int. Returns None for a zero-value
    result over an EMPTY array (no row, no error); raises PG's
    not-a-single-numeric-value error otherwise."""
    import math as _math
    import re as _re

    el = el.strip()
    if _re.fullmatch(r"-?\d+", el):
        v = int(el)
        if not (-2147483648 <= v <= 2147483647):
            # getArrayIndex: the subscript must fit in int32
            raise _JPExecError(
                "jsonpath array subscript is out of integer range")
        return v
    if el == "last":
        if not n:
            return None
        return len(n) - 1
    fm = _re.match(r"^(.*?)\?\s*\((.*)\)\s*$", el, _re.S)
    if fm and fm.group(1).strip():
        base = _jp_sub_index(doc, n, fm.group(1), mode)
        if base is None:
            return None
        if _jp_bool3(doc, base, fm.group(2)) is True:
            return base
        if not n:
            return None
        raise _JPExecError(
            "jsonpath array subscript is not a single numeric value")
    el2 = _re.sub(r"\blast\b", str(len(n) - 1), el)
    try:
        v = _jp_arith_value(doc, el2, mode)
    except _JPExecError:
        raise
    except ValueError:
        raise _JPExecError(
            "jsonpath array subscript is not a single numeric value")
    vals = v if isinstance(v, list) else [v]
    if len(vals) == 0 and not n:
        return None  # empty array, empty index set: no row, no error
    if len(vals) != 1 or isinstance(vals[0], bool) or not isinstance(
        vals[0], (int, float)
    ):
        raise _JPExecError(
            "jsonpath array subscript is not a single numeric value")
    return _math.trunc(vals[0])


def _jp_steps(doc, nodes: list, toks: list, mode: str) -> list:
    """Apply parsed path steps (member/subscript/recursive/filter) to
    a node list; raises on strict-mode violations."""
    import re as _re

    for tok in toks:
        out = []
        kind = tok[0]
        for n in nodes:
            if kind == "key":
                items = n if isinstance(n, list) and mode == "lax" else [n]
                for it in items:
                    if isinstance(it, dict):
                        if tok[1] == "*":
                            out.extend(it.values())
                        elif tok[1] in it:
                            out.append(it[tok[1]])
                        elif mode == "strict":
                            raise _JPStrictError("object lacks key")
                    elif mode == "strict":
                        raise _JPStrictError("member step on non-object")
            elif kind == "idx":
                if not isinstance(n, list):
                    if mode == "strict":
                        raise _JPStrictError("subscript on non-array")
                    n = [n]
                body = tok[1]
                if body == "*":
                    out.extend(n)
                elif body == "last":
                    if n:
                        out.append(n[-1])
                    elif mode == "strict":
                        # getArrayIndex: last on an empty array is -1,
                        # out of bounds under strict
                        raise _JPStrictError("subscript out of bounds")
                else:
                    for el in _jp_split_top(body, (",",)):
                        el = el.strip()
                        rparts = _jp_split_top(el, (" to ",))
                        if len(rparts) == 2:
                            lo = _jp_sub_index(doc, n, rparts[0], mode)
                            hi = _jp_sub_index(doc, n, rparts[1], mode)
                            if lo is None or hi is None:
                                continue
                            out.extend(n[lo : hi + 1])
                            continue
                        k = _jp_sub_index(doc, n, el, mode)
                        if k is None:
                            continue
                        if 0 <= k < len(n):
                            out.append(n[k])
                        elif mode == "strict":
                            raise _JPStrictError(
                                "subscript out of bounds")
            elif kind == "method":
                name = tok[1]
                items = (
                    n if isinstance(n, list) and mode.startswith("lax")
                    and name not in ("type", "size") else [n]
                )
                for it in items:
                    if (name == "size" and mode == "strict"
                            and not isinstance(it, list)):
                        # executeItemMethod jpiSize: lax treats a
                        # scalar as size 1; strict raises
                        raise _JPExecError(
                            "jsonpath item method .size() can only "
                            "be applied to an array")
                    r = _jp_apply_method(name, it)
                    if name == "keyvalue":
                        out.extend(r)
                    else:
                        out.append(r)
            elif kind == "rec":
                stack = [n]
                while stack:
                    cur = stack.pop()
                    out.append(cur)
                    if isinstance(cur, dict):
                        stack.extend(cur.values())
                    elif isinstance(cur, list):
                        stack.extend(cur)
            elif kind == "filter":
                items = n if isinstance(n, list) and mode == "lax" else [n]
                for it in items:
                    if _jp_bool3(doc, it, tok[1]) is True:
                        out.append(it)
        nodes = out
    return nodes


def _jp_eval_path_text(doc, cur, text: str) -> list:
    """Evaluate a path expression rooted at $ (document) or @ (filter
    current item); raises ValueError on unsupported forms."""
    text = text.strip()
    if text.startswith("@"):
        # reuse the $-grammar for the relative part
        mode, toks = _jp_parse("$" + text[1:])
        return _jp_steps(doc, [cur], toks, mode)
    mode, toks = _jp_parse(text)
    return _jp_steps(doc, [doc], toks, mode)


def _jp_bool3(doc, cur, expr: str):
    """3-valued jsonpath boolean expression (executeBoolItem subset):
    || / && / ! / parens / exists(path) / path-vs-literal comparisons.
    Returns True / False / None(Unknown)."""
    expr = expr.strip()
    parts = _jp_split_top(expr, ("||",))
    if len(parts) > 1:
        res = [_jp_bool3(doc, cur, p) for p in parts]
        if any(r is True for r in res):
            return True
        return None if any(r is None for r in res) else False
    parts = _jp_split_top(expr, ("&&",))
    if len(parts) > 1:
        res = [_jp_bool3(doc, cur, p) for p in parts]
        if any(r is False for r in res):
            return False
        return None if any(r is None for r in res) else True
    if expr.startswith("(") and expr.endswith(")"):
        # strip only if the first paren matches the last one
        depth, in_str, matches = 0, None, True
        for i, c in enumerate(expr):
            if in_str:
                if c == in_str:
                    in_str = None
                continue
            if c in "\"'":
                in_str = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and i < len(expr) - 1:
                    matches = False
                    break
        if matches:
            return _jp_bool3(doc, cur, expr[1:-1])
    if expr.startswith("!"):
        r = _jp_bool3(doc, cur, expr[1:].lstrip())
        return None if r is None else (not r)
    import re as _re

    m = _re.fullmatch(r"exists\s*\((.*)\)", expr, _re.S)
    if m:
        try:
            return len(_jp_eval_path_text(doc, cur, m.group(1))) > 0
        except ValueError:
            return None
    cmp_ = _jp_find_top_op(expr)
    if cmp_ is None:
        raise ValueError(f"unsupported filter: {expr!r}")
    lhs, op, rhs = cmp_

    def operand(o: str) -> list:
        if o.startswith(("$", "@")):
            return _jp_eval_path_text(doc, cur, o)
        return [_jp_comparand(o)]

    try:
        lvals, rvals = operand(lhs), operand(rhs)
    except ValueError:
        return None
    any_unknown = False
    for lv in lvals:
        for rv in rvals:
            c = _jp_cmp3(lv, op, rv)
            if c is True:
                return True
            if c is None:
                any_unknown = True
    return None if any_unknown else False


def _jp_subst_vars(path: str, vars_json: str | None) -> str:
    """Substitute $name variable references (jsonpath.c jpiVariable)
    with JSON literals from the vars object, outside quoted strings."""
    import json as _json
    import re as _re

    if vars_json is None:
        return path
    v = _json.loads(vars_json)
    if not isinstance(v, dict):
        raise ValueError("vars must be a JSON object")
    out, i, in_str = [], 0, None
    while i < len(path):
        c = path[i]
        if in_str:
            if c == "\\":
                out.append(path[i : i + 2])
                i += 2
                continue
            if c == in_str:
                in_str = None
            out.append(c)
        elif c in "\"'":
            in_str = c
            out.append(c)
        elif c == "$" and (m := _re.match(r"\$(\w+)", path[i:])):
            name = m.group(1)
            if name not in v:
                raise ValueError(f"missing jsonpath variable {name}")
            out.append(_json.dumps(v[name]))
            i += m.end()
            continue
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _jp_is_predicate(path: str) -> bool:
    """A top-level predicate path ('$.a > 1', 'exists($.b)', boolean
    combinations) — valid as the whole path in jsonb_path_match and
    renders its boolean as a value in the query forms."""
    s = path.strip()
    for pre in ("strict", "lax"):
        if s.startswith(pre):
            s = s[len(pre):].strip()
    if s.startswith("exists") or s.startswith("!"):
        return True
    return (
        len(_jp_split_top(s, ("||", "&&"))) > 1
        or _jp_find_top_op(s) is not None
    )


def _jp_arith_value(doc, s2: str, mode: str):
    """Evaluate one jsonpath ARITHMETIC expression to a Python value
    (jsonpath_exec.c executeBinaryArithmExpr/executeUnaryArithmExpr),
    recursing through parens: literals, single-item paths, unary +/-,
    binary + - * / %. Raises _JPExecError for operand-type and
    div-zero violations (PG raises in both modes); plain ValueError
    means "not an arithmetic form" (caller falls back)."""
    import json as _json
    import re as _re

    s2 = s2.strip()
    if not s2:
        raise ValueError("empty operand")
    if s2.startswith("(") and s2.endswith(")"):
        depth = 0
        for i, c in enumerate(s2):
            depth += {"(": 1, ")": -1}.get(c, 0)
            if depth == 0 and i < len(s2) - 1:
                break
        else:
            return _jp_arith_value(doc, s2[1:-1], mode)

    def single_num(v, side, op):
        if isinstance(v, list):
            if len(v) != 1:
                raise _JPExecError(
                    f"{side} operand of jsonpath operator {op} is "
                    "not a single numeric value")
            v = v[0]
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise _JPExecError(
                f"{side} operand of jsonpath operator {op} is "
                "not a single numeric value")
        return v

    # binary operators, lowest precedence first (left-assoc: split on
    # the LAST top-level occurrence)
    for ops in (("+", "-"), ("*", "/", "%")):
        parts = _jp_split_top(s2, ops)
        if len(parts) >= 2 and parts[0].strip():
            # rebuild all-but-last as the lhs (left associativity)
            # and recover which operator separated them
            idx = None
            depth = 0
            in_str = None
            for i2 in range(len(s2) - 1, 0, -1):
                c = s2[i2]
                if in_str:
                    if c == in_str and s2[i2 - 1] != "\\":
                        in_str = None
                    continue
                if c in "\"'":
                    in_str = c
                elif c in ")]":
                    depth += 1
                elif c in "([":
                    depth -= 1
                elif depth == 0 and c in ops and not s2[
                    i2 - 1
                ] in "+-*/%eE(":
                    idx = i2
                    break
            if idx:
                op = s2[idx]
                ln = single_num(
                    _jp_arith_value(doc, s2[:idx], mode), "left", op)
                rn = single_num(
                    _jp_arith_value(doc, s2[idx + 1:], mode),
                    "right", op)
                if op in ("/", "%") and rn == 0:
                    raise _JPExecError("division by zero")
                if op == "+":
                    return ln + rn
                if op == "-":
                    return ln - rn
                if op == "*":
                    return ln * rn
                if op == "%":
                    return ln % rn
                r = ln / rn
                return (
                    int(r) if isinstance(ln, int)
                    and isinstance(rn, int) and ln % rn == 0 else r
                )
    if s2[0] in "+-":
        v = _jp_arith_value(doc, s2[1:], mode)
        vals = v if isinstance(v, list) else [v]
        out = []
        for x in vals:
            if isinstance(x, bool) or not isinstance(x, (int, float)):
                raise _JPExecError(
                    f"operand of unary jsonpath operator {s2[0]} "
                    "is not a numeric value")
            out.append(-x if s2[0] == "-" else x)
        return out if isinstance(v, list) else out[0]
    if s2.startswith(("$", "@")):
        items = _jp_steps(doc, [doc], _jp_parse("$" + s2[1:])[1], mode)
        if mode == "lax":
            # lax arithmetic operands auto-unwrap arrays
            # (jsonpath_exec.c jspAutoUnwrap)
            items = [
                x for it in items
                for x in (it if isinstance(it, list) else [it])
            ]
        return items
    try:
        return _json.loads(s2.replace("'", '"'))
    except ValueError:
        raise ValueError("unsupported operand")


def _jp_arith_top(doc, path: str):
    """Top-level jsonpath arithmetic entry: returns the result list,
    or None when the path carries no top-level arithmetic (the step
    evaluator owns it). PG operand/div-zero errors propagate."""
    import json as _json
    import re as _re

    s2 = path.strip()
    mode = "lax"
    for pre in ("strict", "lax"):
        if s2.startswith(pre):
            mode, s2 = pre, s2[len(pre):].strip()
    # quick gate: a top-level arithmetic operator outside strings/
    # parens/brackets, not part of a path step
    has = False
    depth, in_str = 0, None
    for i2, c in enumerate(s2):
        if in_str:
            if c == in_str and s2[i2 - 1] != "\\":
                in_str = None
        elif c in "\"'":
            in_str = c
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and c in "+*/%":
            has = True
        elif depth == 0 and c == "-" and i2 == 0:
            has = True
    if not has:
        return None
    if _jp_find_top_op(s2) or _jp_split_top(
        s2, ("||", "&&")
    ) != [s2]:
        return None  # predicates own comparisons/booleans
    try:
        v = _jp_arith_value(doc, s2, mode)
    except _JPExecError:
        raise
    except ValueError:
        return None
    vals = v if isinstance(v, list) else [v]
    return [_json.dumps(x) for x in vals]


import re as _re_mod


def _jsonpath_query_py(
    j: str | None, path: str | None, vars_json: str | None = None,
    silent: bool = False,
):
    """jsonb_path_query* evaluator (jsonpath_exec.c subset): returns
    the match list as JSON text fragments, or None when the document /
    path is NULL or the path form is outside the subset (callers then
    stay loud via the SQL NULL). vars substitute $name references; a
    top-level predicate path yields its boolean as a single value."""
    import json as _json

    if j is None or path is None:
        return None
    try:
        doc = _json.loads(j)
        path = _jp_subst_vars(path, vars_json)
        if _jp_is_predicate(path):
            s = path.strip()
            for pre in ("strict", "lax"):
                if s.startswith(pre):
                    s = s[len(pre):].strip()
            r = _jp_bool3(doc, doc, s)
            return ["true" if r else "null" if r is None else "false"]
        ar = _jp_arith_top(doc, path)
        if ar is not None:
            return ar
        mode, toks = _jp_parse(path)
        if silent and mode == "strict":
            # strict's no-auto-unwrap, but skip where strict raises
            mode = "strict_silent"
        nodes = _jp_steps(doc, [doc], toks, mode)
    except _JPStrictError as e:
        # PG raises for strict-mode structural violations at the top
        # level of jsonb_path_query (the @?/@@ operators and the
        # exists/match entry points stay silent, as PG's are)
        raise ValueError(f"jsonpath strict mode violation: {e}")
    except _JPExecError:
        raise  # PG raises these in BOTH modes (jsonpath_exec.c)
    except ValueError:
        return None
    return [_json.dumps(v, separators=(", ", ": ")) for v in nodes]


def _jsonpath_match_py(
    j: str | None, path: str | None, vars_json: str | None = None
):
    """jsonb_path_match (jsonpath_exec.c jsonb_path_match): evaluate a
    predicate path to one boolean; non-predicate single boolean values
    pass through; anything else is NULL."""
    import json as _json

    try:
        res = _jsonpath_query_py(j, path, vars_json)
    except ValueError:
        return None  # @@ operator is silent (jsonb_path_match_opr)
    if res is None or len(res) != 1:
        return None
    return {"true": True, "false": False}.get(res[0])


def _jsonpath_exists_py(
    j: str | None, path: str | None, vars_json: str | None = None
):
    """jsonb_path_exists with vars: does the path select anything?"""
    try:
        res = _jsonpath_query_py(j, path, vars_json)
    except ValueError:
        return None  # @? operator is silent (jsonb_path_exists_opr)
    return None if res is None else len(res) > 0


def _jsonpath_match_loud_py(
    j: str | None, path: str | None, vars_json: str | None = None
):
    """jsonb_path_match(..., silent => false): PG raises when the
    result is not exactly one boolean (jsonb_path_match: "single
    boolean result is expected"), and execution errors surface."""
    if j is None or path is None:
        return None
    res = _jsonpath_query_py(j, path, vars_json)
    if res is None:
        return None
    if len(res) == 1 and res[0] in ("true", "false", "null"):
        return {"true": True, "false": False}.get(res[0])
    raise ValueError("single boolean result is expected")


def _jsonpath_exists_loud_py(
    j: str | None, path: str | None, vars_json: str | None = None
):
    """jsonb_path_exists(..., silent => false): execution errors
    surface instead of the operator's silent NULL."""
    if j is None or path is None:
        return None
    res = _jsonpath_query_py(j, path, vars_json)
    return None if res is None else len(res) > 0


def _jsonpath_query_silent_py(
    j: str | None, path: str | None, vars_json: str | None = None
):
    """jsonb_path_query(..., silent => true) (jsonpath_exec.c
    executeJsonPath with jspThrowErrors false): strict-mode structural
    violations are suppressed PER ITEM — the erroring element yields
    nothing, other elements still produce values (regress
    jsonb_jsonpath.sql: query_first('[{"a":1},{}]', 'strict $[*].a',
    silent => true) is 1, not NULL). Internally: the 'strict_silent'
    mode keeps strict's no-auto-unwrap behavior but skips at every
    would-raise site."""
    try:
        return _jsonpath_query_py(j, path, vars_json, silent=True)
    except ValueError:
        return []


def _jsonb_concat_py(a, b):
    """jsonb || jsonb (jsonfuncs.c jsonb_concat): object || object
    merges (right operand wins on key conflict); otherwise each
    non-array operand wraps as a one-element array and the arrays
    concatenate. NOT string concatenation — routing || through Spark's
    concat was a silent wrong answer."""
    import json as _json

    if a is None or b is None:
        return None
    try:
        da, db = _json.loads(a), _json.loads(b)
    except ValueError:
        return None
    if isinstance(da, dict) and isinstance(db, dict):
        out = {**da, **db}
    else:
        la = da if isinstance(da, list) else [da]
        lb = db if isinstance(db, list) else [db]
        out = la + lb
    return _dumps(out)


def _dumps(v) -> str:
    import json as _json

    return _json.dumps(v, separators=(", ", ": "))


def _path_null_check(path) -> None:
    # jsonfuncs.c setPath: a NULL path element RAISES with its
    # 1-based position (not a silent no-op)
    for i, k in enumerate(path):
        if k is None:
            raise ValueError(
                f"path element at position {i + 1} is null")


def _jsonb_set_py(j, path, newval, create=True):
    """jsonb_set (reference jsonfuncs.c jsonb_set): replace the value
    at a text[] path; negative array indexes count from the end;
    out-of-range indexes append at that end when create_missing; a
    NULL path element or a non-integer subscript into an array
    RAISES per setPath/setPathArray."""
    import json as _json

    if j is None or path is None or newval is None:
        return None
    try:
        doc, nv = _json.loads(j), _json.loads(newval)
    except ValueError:
        return None
    _path_null_check(path)

    def rec(node, keys, pos):
        k, last = keys[0], len(keys) == 1
        if isinstance(node, dict):
            if last:
                if k in node or create:
                    node[k] = nv
            elif k in node:
                rec(node[k], keys[1:], pos + 1)
        elif isinstance(node, list):
            try:
                i = int(k)
            except (TypeError, ValueError):
                raise ValueError(
                    f"path element at position {pos} is not an "
                    f'integer: "{k}"')
            if i < 0:
                i += len(node)
            if last:
                if 0 <= i < len(node):
                    node[i] = nv
                elif create:
                    node.insert(0, nv) if i < 0 else node.append(nv)
            elif 0 <= i < len(node):
                rec(node[i], keys[1:], pos + 1)

    if not path:
        return _dumps(doc)
    rec(doc, list(path), 1)
    return _dumps(doc)


def _jsonb_insert_py(j, path, newval, after=False):
    """jsonb_insert (jsonfuncs.c): insert before/after the array
    element at path; for objects only a MISSING key may be inserted
    — an existing one RAISES "cannot replace existing key" like
    setPathObject with JB_PATH_INSERT_*."""
    import json as _json

    if j is None or path is None or newval is None:
        return None
    try:
        doc, nv = _json.loads(j), _json.loads(newval)
    except ValueError:
        return None
    _path_null_check(path)

    def rec(node, keys, pos):
        k, last = keys[0], len(keys) == 1
        if isinstance(node, dict):
            if last:
                if k in node:
                    raise ValueError("cannot replace existing key")
                node[k] = nv
            elif k in node:
                rec(node[k], keys[1:], pos + 1)
        elif isinstance(node, list):
            try:
                i = int(k)
            except (TypeError, ValueError):
                raise ValueError(
                    f"path element at position {pos} is not an "
                    f'integer: "{k}"')
            if i < 0:
                i += len(node)
            if last:
                node.insert(i + 1 if after else i, nv)
            elif 0 <= i < len(node):
                rec(node[i], keys[1:], pos + 1)

    if not path:
        return None
    rec(doc, list(path), 1)
    return _dumps(doc)


def _jsonb_delete_path_py(j, path):
    """#- operator (jsonfuncs.c jsonb_delete_path): remove the
    key/element at a text[] path; negative indexes from the end."""
    import json as _json

    if j is None or path is None:
        return None
    try:
        doc = _json.loads(j)
    except ValueError:
        return None
    _path_null_check(path)

    def rec(node, keys):
        k, last = keys[0], len(keys) == 1
        if isinstance(node, dict):
            if last:
                node.pop(k, None)
            elif k in node:
                rec(node[k], keys[1:])
        elif isinstance(node, list):
            try:
                i = int(k)
            except (TypeError, ValueError):
                return
            if i < 0:
                i += len(node)
            if 0 <= i < len(node):
                if last:
                    del node[i]
                else:
                    rec(node[i], keys[1:])

    if path:
        rec(doc, list(path))
    return _dumps(doc)


def _bytea_escape_out_py(b):
    """encode(bytea, 'escape') (encode.c esc_encode): backslash
    doubles, non-printable bytes render as \\NNN octal."""
    if b is None:
        return None
    out = []
    for byte in bytes(b):
        if byte == 0x5C:
            out.append("\\\\")
        elif byte < 0x20 or byte > 0x7E:
            out.append(f"\\{byte:03o}")
        else:
            out.append(chr(byte))
    return "".join(out)


def _bytea_escape_in_py(s):
    """decode(text, 'escape') (encode.c esc_decode)."""
    if s is None:
        return None
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "\\":
            if s[i: i + 2] == "\\\\":
                out.append(0x5C)
                i += 2
                continue
            if i + 3 < n and all(c in "01234567" for c in s[i+1:i+4]):
                out.append(int(s[i + 1: i + 4], 8))
                i += 4
                continue
            return None  # malformed escape: PG errors; stay NULL-loud
        out.append(ord(ch))
        i += 1
    return bytes(out)


def _jsonb_pretty_py(j):
    """jsonb_pretty (jsonfuncs.c): 4-space indent, one item per line,
    ': ' after keys — Python's dumps(indent=4) is the same layout."""
    import json as _json

    if j is None:
        return None
    try:
        return _json.dumps(
            _json.loads(j), indent=4, ensure_ascii=False
        )
    except ValueError:
        return None


def _jsonb_minus_keys_py(j, keys):
    """`jsonb - text` / `jsonb - text[]` (jsonfuncs.c jsonb_delete /
    jsonb_delete_array): on an object remove the named keys; on an
    array remove string elements equal to any of them."""
    import json as _json

    if j is None or keys is None:
        return None
    try:
        doc = _json.loads(j)
    except ValueError:
        return None
    ks = {k for k in keys if k is not None}
    if isinstance(doc, dict):
        for k in ks:
            doc.pop(k, None)
    elif isinstance(doc, list):
        doc = [e for e in doc if not (isinstance(e, str) and e in ks)]
    else:
        return None  # PG: "cannot delete from scalar" — stay NULL-loud
    return _dumps(doc)


def _jsonb_minus_idx_py(j, i):
    """`jsonb - integer` (jsonfuncs.c jsonb_delete_idx): delete the
    array element at index i, negative counting from the end."""
    import json as _json

    if j is None or i is None:
        return None
    try:
        doc = _json.loads(j)
    except ValueError:
        return None
    if not isinstance(doc, list):
        return None
    i = int(i)
    if i < 0:
        i += len(doc)
    if 0 <= i < len(doc):
        del doc[i]
    return _dumps(doc)


def _json_object1_py(arr):
    """json_object(text[]): flat key/value list (or array of 2-elem
    arrays flattens the same way) → object with TEXT values, as PG's
    json_object does (jsonfuncs.c json_object)."""
    if arr is None:
        return None
    flat = list(arr)
    if len(flat) % 2:
        return None
    return _dumps(
        {str(flat[i]): (None if flat[i + 1] is None else str(flat[i + 1]))
         for i in range(0, len(flat), 2)}
    )


def _json_object2_py(keys, vals):
    if keys is None or vals is None or len(keys) != len(vals):
        return None
    return _dumps(
        {str(k): (None if v is None else str(v))
         for k, v in zip(keys, vals)}
    )


def _json_strip_nulls_py(j):
    """json[b]_strip_nulls (jsonfuncs.c json_strip_nulls): remove
    object FIELDS whose value is null, recursively; null array
    elements are kept."""
    import json as _json

    if j is None:
        return None
    try:
        doc = _json.loads(j)
    except ValueError:
        return None

    def rec(v):
        if isinstance(v, dict):
            return {k: rec(x) for k, x in v.items() if x is not None}
        if isinstance(v, list):
            return [rec(x) for x in v]
        return v

    return _dumps(rec(doc))


def _json_each_entries_py(j):
    """json_each / jsonb_each non-_text variants (jsonfuncs.c
    each_worker): key/value pairs with the VALUE kept in its JSON
    rendering — a string leaf keeps its quotes ('"x"'), unlike the
    _text variants which unwrap it. Values re-render jsonb-style
    (PG's json type would preserve the original text span verbatim;
    the engine's single string-backed json model re-renders both)."""
    import json as _json

    if j is None:
        return None
    try:
        doc = _json.loads(j)
    except ValueError:
        return None
    if not isinstance(doc, dict):
        return None  # PG: "cannot deconstruct a scalar/array"
    return [{"key": k, "value": _dumps(v)} for k, v in doc.items()]


def _json_array_elements_py(j):
    """json[b]_array_elements non-_text (jsonfuncs.c elements_worker):
    each element in its JSON rendering — string elements keep their
    quotes, objects/arrays their JSON text."""
    import json as _json

    if j is None:
        return None
    try:
        doc = _json.loads(j)
    except ValueError:
        return None
    if not isinstance(doc, list):
        return None
    return [_dumps(v) for v in doc]


def _mangle_ns_prefixes(s: str) -> str:
    """libxml2 (xml.c) tolerates UNBOUND namespace prefixes
    (`<nosuchprefix:tag/>` is well-formed content per regress
    xml.out); ElementTree rejects them. Colons in names are legal
    only as prefix separators, so mangling `p:` to `p__` preserves
    well-formedness exactly."""
    import re as _re

    s = _re.sub(r"(</?)(\w+):(\w+)", r"\1\2__\3", s)
    return _re.sub(r"(\s)(\w+):(\w+)(\s*=)", r"\1\2__\3\4", s)


def _strip_dtd(s: str) -> str:
    """libxml2 (xml.c) accepts a DOCTYPE declaration with an internal
    subset and leaves unresolvable entity references unexpanded
    (external entities are never fetched); ElementTree rejects both —
    drop the DTD and neutralize non-predefined entity refs before the
    well-formedness parse."""
    import re as _re

    s = _re.sub(r"(?is)<!DOCTYPE\b[^\[>]*(?:\[[^\]]*\])?\s*>", "", s)
    return _re.sub(r"&(?!amp;|lt;|gt;|apos;|quot;|#)\w+;", "", s)


def xml_content_validate(s: str) -> None:
    """Plan-time xml_in validation for LITERAL xml content (xml.c
    xml_parse, xmloption=content): a DOCTYPE
    is legal only in prolog position — after nothing but the decl,
    whitespace, comments and PIs — and then the value must be a
    well-formed single-root document; otherwise it is a fragment
    that must parse as content."""
    import re as _re

    body = s
    dm = _re.match(r"\s*<\?xml[ \t][^>]*?\?>", body)
    rest = body[dm.end():] if dm else body
    # skip prolog misc: whitespace, comments, non-decl PIs
    pos = 0
    while True:
        mm = _re.match(
            r"\s*(?:<!--.*?-->|<\?(?!xml[ \t]).*?\?>)", rest[pos:],
            _re.S,
        )
        if not mm or not mm.group(0).strip():
            break
        pos += mm.end()
    tail = rest[pos:]
    if _re.search(r"(?is)<!DOCTYPE", rest):
        if not _re.match(r"(?is)\s*<!DOCTYPE", tail):
            raise ValueError("invalid XML content")
        if not _xml_wf_document_py(tail):
            raise ValueError("invalid XML content")
    else:
        if not _xml_wf_content_py(rest):
            raise ValueError("invalid XML content")


def _xml_wf_document_py(s):
    # xml.c xml_is_well_formed_document: exactly one root element
    import xml.etree.ElementTree as ET

    if s is None:
        return None
    try:
        ET.fromstring(_mangle_ns_prefixes(_strip_dtd(s)))
        return True
    except ET.ParseError:
        return False


def _xml_wf_content_py(s):
    # content allows text/multiple top-level nodes: parse wrapped
    import xml.etree.ElementTree as ET

    if s is None:
        return None
    try:
        ET.fromstring(f"<__wf__>{_mangle_ns_prefixes(s)}</__wf__>")
        return True
    except ET.ParseError:
        return False


def _pg_xpath_entry(doc, path):
    """SQL-registered xpath (xml.c:4245): defers to the ElementTree
    evaluator in functions/xml.py (doc-first arg order, like the
    other document shims; the dialect swaps PG's path-first call)."""
    from warehouse_pg_spark.functions.xml import _xpath_py

    return _xpath_py(doc, path)


def _arrow_batched(fn, ret: str, arity: int):
    """Wrap a scalar Python fn as an Arrow-batched SCALAR pandas UDF.

    The element-wise loop stays in Python (the wrapped semantics are
    recursive over parsed documents), but serialization is per Arrow
    batch instead of per row — the difference between ArrowEvalPython
    and BatchEvalPython in the plan, and the difference between a
    bounded slow path and a scan-killer on a 100 TB fact column."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _cell(v):
        # Arrow hands array columns to pandas as np.ndarray — the
        # wrapped scalar fns expect plain lists (truthiness, slicing)
        return v.tolist() if isinstance(v, np.ndarray) else v

    def _apply(*cols):
        return pd.Series(
            [fn(*map(_cell, vals)) for vals in zip(*cols)], dtype=object
        )

    # concrete per-arity signatures: the type-hint pandas_udf API
    # infers SCALAR evaluation from the pd.Series annotations
    if arity == 1:
        def w(a: pd.Series) -> pd.Series:
            return _apply(a)
    elif arity == 2:
        def w(a: pd.Series, b: pd.Series) -> pd.Series:
            return _apply(a, b)
    elif arity == 3:
        def w(a: pd.Series, b: pd.Series, c: pd.Series) -> pd.Series:
            return _apply(a, b, c)
    else:
        def w(a: pd.Series, b: pd.Series, c: pd.Series,
              d: pd.Series) -> pd.Series:
            return _apply(a, b, c, d)
    w.__name__ = getattr(fn, "__name__", "pg_fn")
    return pandas_udf(w, ret)


def register_pg_functions(spark: SparkSession) -> list[str]:
    """Register PG-name SQL scalar functions (idempotent per session)."""
    key = id(spark)
    if key in _REGISTERED_SESSIONS:
        return sorted(_SQL_FUNCTIONS)
    for name, (sig, ret, body) in _SQL_FUNCTIONS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) "
            f"RETURNS {ret} RETURN {body}"
        )
    # Arrow-batched pandas UDFs — dialect-breadth slow path for
    # operators whose recursive semantics have no Spark built-in
    # (jsonb @> / <@ containment, jsonpath value queries, jsonb
    # mutation, XML well-formedness). The per-element Python loop is
    # unavoidable (the semantics are recursive over parsed JSON/XML),
    # but the data crosses the JVM↔Python boundary in Arrow record
    # batches, not per-row pickled tuples — ~10-50× less transfer
    # overhead on a wide scan, and the plan shows ArrowEvalPython,
    # never BatchEvalPython (gated in tests/test_plans.py).
    for _name, _fn, _ret, _arity in (
        ("jsonb_contains", _jsonb_contains_py, "BOOLEAN", 2),
        ("jsonb_path_query_list", _jsonpath_query_py, "ARRAY<STRING>", 2),
        # vars/silent forms (jsonpath_exec.c executeJsonPath with
        # vars): $name references substitute from a jsonb object
        ("jsonb_path_query_list_vars", _jsonpath_query_py,
         "ARRAY<STRING>", 3),
        ("jsonb_path_query_list_silent", _jsonpath_query_silent_py,
         "ARRAY<STRING>", 3),
        ("jsonb_concat", _jsonb_concat_py, "STRING", 2),
        ("jsonb_path_match_vars", _jsonpath_match_py, "BOOLEAN", 3),
        ("jsonb_path_exists_vars", _jsonpath_exists_py, "BOOLEAN", 3),
        ("jsonb_path_match_loud", _jsonpath_match_loud_py,
         "BOOLEAN", 3),
        ("jsonb_path_exists_loud", _jsonpath_exists_loud_py,
         "BOOLEAN", 3),
        ("json_strip_nulls", _json_strip_nulls_py, "STRING", 1),
        ("jsonb_strip_nulls", _json_strip_nulls_py, "STRING", 1),
        ("xml_is_well_formed_document", _xml_wf_document_py, "BOOLEAN", 1),
        ("xml_is_well_formed_content", _xml_wf_content_py, "BOOLEAN", 1),
        # bare form follows XMLOPTION; the engine's default is CONTENT,
        # matching PG's default xmloption
        ("xml_is_well_formed", _xml_wf_content_py, "BOOLEAN", 1),
        # the dialect pads the optional 4th arg (create_missing /
        # insert_after) so the pandas UDF arity is fixed
        ("jsonb_set", _jsonb_set_py, "STRING", 4),
        ("jsonb_insert", _jsonb_insert_py, "STRING", 4),
        ("jsonb_delete_path", _jsonb_delete_path_py, "STRING", 2),
        ("jsonb_minus_keys", _jsonb_minus_keys_py, "STRING", 2),
        ("jsonb_minus_idx", _jsonb_minus_idx_py, "STRING", 2),
        ("jsonb_pretty", _jsonb_pretty_py, "STRING", 1),
        ("pg_bytea_escape_out", _bytea_escape_out_py, "STRING", 1),
        ("pg_bytea_escape_in", _bytea_escape_in_py, "BINARY", 1),
        ("json_object1", _json_object1_py, "STRING", 1),
        # non-_text SRF workers: values keep JSON rendering (string
        # leaves stay quoted) — the _text variants unwrap via the
        # map<string,string>/array<string> from_json path instead
        ("pg_json_each_entries", _json_each_entries_py,
         "ARRAY<STRUCT<key:STRING, value:STRING>>", 1),
        ("pg_json_array_elements", _json_array_elements_py,
         "ARRAY<STRING>", 1),
        ("json_object2", _json_object2_py, "STRING", 2),
        ("pg_xpath", _pg_xpath_entry, "ARRAY<STRING>", 2),
    ):
        spark.udf.register(_name, _arrow_batched(_fn, _ret, _arity))
    # full-text search (functions/fts.py: tsvector.c/tsquery.c/
    # tsvector_op.c/tsrank.c semantics; canonical text forms travel as
    # STRINGs, so every shim is a pure string/array scalar)
    from warehouse_pg_spark.functions import fts_sql as _fts

    for _name, _fn, _ret, _arity in (
        ("pg_tsvector_in", _fts._sql_tsvector_in, "STRING", 1),
        ("pg_tsquery_in", _fts._sql_tsquery_in, "STRING", 1),
        ("pg_to_tsvector", _fts._sql_to_tsvector, "STRING", 2),
        ("pg_to_tsvector_json", _fts._sql_to_tsvector_json, "STRING", 3),
        ("pg_to_tsquery", _fts._sql_to_tsquery, "STRING", 2),
        ("pg_plainto_tsquery", _fts._sql_plainto_tsquery, "STRING", 2),
        ("pg_phraseto_tsquery", _fts._sql_phraseto_tsquery, "STRING", 2),
        ("pg_websearch_to_tsquery", _fts._sql_websearch_to_tsquery,
         "STRING", 2),
        ("pg_ts_match", _fts._sql_ts_match, "BOOLEAN", 2),
        ("pg_setweight", _fts._sql_setweight, "STRING", 3),
        ("pg_tsvector_strip", _fts._sql_strip, "STRING", 1),
        ("pg_tsvector_length", _fts._sql_tsvector_length, "INT", 1),
        ("pg_tsquery_numnode", _fts._sql_numnode, "INT", 1),
        ("pg_querytree", _fts._sql_querytree, "STRING", 1),
        ("pg_ts_rank", _fts._sql_ts_rank, "FLOAT", 4),
        ("pg_ts_rank_doc", _fts._sql_ts_rank_doc, "FLOAT", 3),
        ("pg_ts_rank_cd", _fts._sql_ts_rank_cd, "FLOAT", 4),
        ("pg_ts_delete", _fts._sql_ts_delete, "STRING", 2),
        ("pg_ts_filter", _fts._sql_ts_filter, "STRING", 2),
        ("pg_tsvector_to_array", _fts._sql_tsvector_to_array,
         "ARRAY<STRING>", 1),
        ("pg_array_to_tsvector", _fts._sql_array_to_tsvector, "STRING", 1),
        ("pg_tsvector_concat", _fts._sql_tsvector_concat, "STRING", 2),
        ("pg_tsquery_and", _fts._sql_tsquery_and, "STRING", 2),
        ("pg_tsquery_or", _fts._sql_tsquery_or, "STRING", 2),
        ("pg_tsquery_not", _fts._sql_tsquery_not, "STRING", 1),
        ("pg_tsquery_phrase", _fts._sql_tsquery_phrase, "STRING", 3),
        ("pg_tsq_mcontains", _fts._sql_tsq_mcontains, "BOOLEAN", 2),
        ("pg_ts_rewrite", _fts._sql_ts_rewrite, "STRING", 3),
        ("pg_ts_lexize", _fts._sql_ts_lexize, "ARRAY<STRING>", 2),
        ("pg_tsquery_cmp", _fts._sql_tsquery_cmp, "INT", 2),
        ("pg_ts_headline", _fts._sql_ts_headline, "STRING", 4),
        ("pg_ts_headline_json", _fts._sql_ts_headline_json, "STRING", 4),
        ("pg_ts_parse", _fts._sql_ts_parse,
         "ARRAY<STRUCT<tokid: INT, token: STRING>>", 1),
    ):
        spark.udf.register(_name, _arrow_batched(_fn, _ret, _arity))
    from warehouse_pg_spark.functions.ranges import register_range_functions

    register_range_functions(spark)
    _REGISTERED_SESSIONS.add(key)
    return sorted(_SQL_FUNCTIONS)
