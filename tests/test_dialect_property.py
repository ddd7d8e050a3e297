"""Property-based tests for the PG→Spark dialect shim (hypothesis).

The reference's parser is exercised by 531 regress scripts; our regex
shim's contract is narrower — bounded rewrites that never corrupt SQL
they don't recognize. These properties pin that contract down.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from warehouse_pg_spark import sql_dialect
from warehouse_pg_spark.functions.pg import bind_functions


def _sql(spark, lowered: str):
    """spark.sql over dialect output on the bare session, with the PG
    functions it calls bound first, as Engine.sql binds them."""
    bind_functions(spark, lowered)
    return spark.sql(lowered)


_IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
_PG_TYPES = st.sampled_from(
    ["text", "int2", "int4", "int8", "float4", "float8", "bool", "numeric"]
)
_SPARK_TYPES = {
    "text": "STRING",
    "int2": "SMALLINT",
    "int4": "INT",
    "int8": "BIGINT",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "bool": "BOOLEAN",
    "numeric": "DECIMAL(38,18)",
}


@settings(max_examples=200, deadline=None)
@given(ident=_IDENT, typ=_PG_TYPES)
def test_cast_operator_rewrites_every_type(ident, typ):
    out = sql_dialect.rewrite(f"SELECT {ident}::{typ} FROM t")
    assert f"CAST({ident} AS {_SPARK_TYPES[typ]})" in out
    assert "::" not in out


@settings(max_examples=100, deadline=None)
@given(ident=_IDENT, key=_IDENT)
def test_json_arrow_rewrite(ident, key):
    out = sql_dialect.rewrite(f"SELECT {ident} ->> '{key}' FROM t")
    assert f"get_json_object({ident}, '$.{key}')" in out


@settings(max_examples=100, deadline=None)
@given(
    sql=st.sampled_from(
        [
            "SELECT a, b FROM t WHERE a > 1",
            "SELECT count(*) FROM t GROUP BY a HAVING count(*) > 2",
            "SELECT * FROM t1 JOIN t2 ON t1.a = t2.a",
            "WITH c AS (SELECT 1 AS x) SELECT x FROM c",
            "SELECT 'it''s a literal' FROM t",
            "SELECT a FROM t UNION ALL SELECT b FROM u",
        ]
    )
)
def test_plain_sql_passes_through_unchanged(sql):
    """ORDER-BY-free SQL with no PG-isms must round-trip byte-identical
    (ORDER BY is intentionally not identity: the shim injects PG's
    NULLS defaults — see test_nulls_ordering_injection)."""
    assert sql_dialect.rewrite(sql) == sql


@settings(max_examples=50, deadline=None)
@given(a=_IDENT, b=_IDENT)
def test_nulls_ordering_injection(a, b):
    """PG defaults: ASC → NULLS LAST, DESC → NULLS FIRST (gram.y
    opt_nulls_order); explicit NULLS is preserved; ordinals untouched."""
    out = sql_dialect.rewrite(f"SELECT * FROM t ORDER BY {a}, {b} DESC")
    assert f"{a} NULLS LAST" in out and f"{b} DESC NULLS FIRST" in out
    out2 = sql_dialect.rewrite(f"SELECT * FROM t ORDER BY {a} NULLS FIRST")
    assert f"{a} NULLS FIRST" in out2 and "NULLS LAST" not in out2
    out3 = sql_dialect.rewrite("SELECT * FROM t ORDER BY 1")
    assert "NULLS" not in out3


def test_top_level_comma_splitter():
    """One splitter for every top-level comma list: quotes (with the
    '' escape), parentheses and brackets nest; empty parts drop."""
    from warehouse_pg_spark.dialect.mask import _split_commas

    parts = _split_commas("f('a,b', g(1,2)), ARRAY[1,2], 'it''s, x'")
    assert [p.strip() for p in parts] == [
        "f('a,b', g(1,2))", "ARRAY[1,2]", "'it''s, x'"]
    assert _split_commas('a, "x,y", , b,') == ["a", ' "x,y"', " b"]


def test_literal_masking_protects_contents():
    """PG-ism lookalikes inside string literals must never rewrite."""
    sql = "SELECT 'a::text' AS s, 'j->>''k''' AS t, '~ not a regex' AS u FROM t"
    assert sql_dialect.rewrite(sql) == sql


_KEYWORD_PAYLOADS = st.sampled_from([
    "VALUE", "value in ('value')", "a::int", "->", "->>", "#>", "||",
    "ARRAY[1,2]", "jsonb", "::jsonb", "SELECT * FROM t", "ANY(x)",
    "BETWEEN 1 AND 2", "E'\\n'", "~ '^x'", "INTERVAL '1 day'",
    "row(1,2)", "CASE WHEN", "RETURN NEXT", "VARIADIC arr",
    "current_timestamp(3)", "generate_series(1,3)", "{1,2,3}",
    "[)", "(]", "$$body$$", "--comment", "/*c*/", "DISTINCT ON",
])


@given(payload=_KEYWORD_PAYLOADS, col=_IDENT)
@settings(max_examples=60, deadline=None)
def test_keywords_inside_literals_round_trip(payload, col):
    """The r11/r12 literal-masking bug class (VALUE substitution,
    backref renumbering): ANY dialect-keyword lookalike INSIDE a
    string literal must survive the FULL rewrite chain byte-for-byte
    — every rewrite pass is required to operate on masked text."""
    lit = "'" + payload.replace("'", "''") + "'"
    sql = f"SELECT {lit} AS s, {col} FROM t WHERE {col} = {lit}"
    out = sql_dialect.rewrite(sql)
    assert out.count(lit) == 2, (sql, out)


def test_chained_json_arrows_fold_to_one_path():
    out = sql_dialect.rewrite("SELECT j->'a'->>'b', j->0->>'k' FROM t")
    assert "get_json_object(j, '$.a.b')" in out
    assert "get_json_object(j, '$[0].k')" in out


def test_regex_match_operators():
    out = sql_dialect.rewrite(
        "SELECT * FROM t WHERE a ~ '^x' AND b ~* 'y' AND c !~ 'z' AND d ~~ 'w%'"
    )
    assert "a RLIKE '^x'" in out
    assert "b RLIKE '(?i)y'" in out
    assert "NOT (c RLIKE 'z')" in out
    assert "d LIKE 'w%'" in out


def test_array_constructor_and_operators():
    out = sql_dialect.rewrite(
        "SELECT ARRAY[1, 2] FROM t WHERE tags @> ARRAY['x'] AND tags && ARRAY['y']"
    )
    assert "array(1, 2)" in out
    assert "forall(array('x'), __x -> array_contains(tags, __x))" in out
    assert "arrays_overlap(tags, array('y'))" in out


@settings(max_examples=50, deadline=None)
@given(on_col=_IDENT, other=_IDENT)
def test_distinct_on_rewrite_shape(on_col, other):
    sql = (
        f"SELECT DISTINCT ON ({on_col}) {on_col}, {other} "
        f"FROM t ORDER BY {on_col}, {other} DESC"
    )
    out = sql_dialect.rewrite(sql)
    assert "row_number() OVER" in out
    assert f"PARTITION BY {on_col}" in out
    assert "__rn = 1" in out


def test_jsonpath_exists_and_match_lowering():
    """@? / @@ jsonpath predicates (jsonpath_exec.c subset) lower to
    get_json_object / exists() — and literals inside the jsonpath are
    never mangled by other rewrite passes."""
    from warehouse_pg_spark.sql_dialect import rewrite

    assert (
        "get_json_object(props, '$.k') IS NOT NULL"
        in rewrite("SELECT 1 FROM e WHERE props @? '$.k'")
    )
    assert (
        "CAST(get_json_object(props, '$.k') AS DOUBLE) > 50"
        in rewrite("SELECT 1 FROM e WHERE props @? '$.k ? (@ > 50)'")
    )
    assert (
        "CAST(get_json_object(props, '$.k') AS DOUBLE) >= 95"
        in rewrite("SELECT 1 FROM e WHERE props @@ '$.k >= 95'")
    )
    out = rewrite("SELECT 1 FROM e WHERE t @? '$.tags[*] ? (@ == \"x\")'")
    assert "exists(from_json(get_json_object(t, '$.tags'), 'array<string>')" in out
    assert "__j = 'x'" in out
    assert (
        "get_json_object(j, '$.name') RLIKE '^ab'"
        in rewrite("SELECT 1 FROM e WHERE j @@ '$.name like_regex \"^ab\"'")
    )
    # null/boolean values and the @> non-collision
    assert "IS NULL" in rewrite("SELECT 1 WHERE j @@ '$.x == null'")
    out = rewrite("SELECT 1 WHERE a @> b AND j @? '$.k'")
    assert "forall(" in out and "get_json_object" in out
    # forms outside the fast subset fall back to the Python jsonpath
    # evaluator (r10) — the operator never reaches Spark's parser
    out = rewrite("SELECT 1 WHERE j @? '$..broken[?]'")
    assert "jsonb_path_exists_vars(j," in out and "@?" not in out


def test_jsonpath_predicates_execute(spark):
    """End-to-end: jsonpath predicates run through spark.sql."""
    from warehouse_pg_spark.sql_dialect import rewrite

    spark.createDataFrame(
        [('{"k": 3, "tags": ["a", "b"]}',), ('{"k": 99}',), ("{}",)],
        ["j"],
    ).createOrReplaceTempView("jp_t")
    got = _sql(spark,
        rewrite("SELECT count(*) AS n FROM jp_t WHERE j @? '$.k ? (@ > 50)'")
    ).collect()[0].n
    assert got == 1
    got = _sql(spark,
        rewrite(
            "SELECT count(*) AS n FROM jp_t "
            "WHERE j @? '$.tags[*] ? (@ == \"b\")'"
        )
    ).collect()[0].n
    assert got == 1
    got = _sql(spark,
        rewrite("SELECT count(*) AS n FROM jp_t WHERE j @@ '$.k <= 3'")
    ).collect()[0].n
    assert got == 1


def test_is_distinct_from_and_similar_to_lowering():
    from warehouse_pg_spark.sql_dialect import rewrite

    assert rewrite("SELECT 1 WHERE a IS DISTINCT FROM b").count("<=>") == 1
    assert "(f(x) <=> 'q')" in rewrite(
        "SELECT 1 WHERE f(x) IS NOT DISTINCT FROM 'q'"
    )
    out = rewrite("SELECT 1 WHERE name SIMILAR TO 'ab%_[0-9_%]+'")
    # % and _ translate outside a character class, never inside one
    assert "RLIKE '^(?:ab.*.[0-9_%]+)$'" in out
    assert "(NOT (name RLIKE" in rewrite(
        "SELECT 1 WHERE name NOT SIMILAR TO '%(b|d)%'"
    )
    # escaped wildcard stays a literal % (not translated to .*); PG's
    # similar_escape re-emits backslash+char, and the emitted SQL
    # literal doubles it so Spark's literal parser hands the Java regex
    # a single \% (literal percent).
    assert "RLIKE '^(?:a\\\\%b)$'" in rewrite(r"SELECT 1 WHERE s SIMILAR TO 'a\%b'")


def test_is_distinct_from_executes(spark):
    from warehouse_pg_spark.sql_dialect import rewrite

    rows = _sql(spark,
        rewrite(
            "SELECT x IS DISTINCT FROM y AS d, x IS NOT DISTINCT FROM y AS nd "
            "FROM VALUES (1, 1), (1, NULL), (CAST(NULL AS INT), NULL) t(x, y)"
        )
    ).collect()
    assert [(r.d, r.nd) for r in rows] == [
        (False, True), (True, False), (False, True),
    ]


def test_overlaps_rewrite():
    from warehouse_pg_spark.sql_dialect import rewrite

    out = rewrite("SELECT 1 WHERE (a, b) OVERLAPS (c, d)")
    assert "OVERLAPS" not in out.upper()
    assert "least(a, b)" in out and "greatest(c, d)" in out
    # reversed bounds still overlap (PG normalizes each pair)
    from warehouse_pg_spark.session import SessionConfig, get_spark

    spark = get_spark(SessionConfig())
    r = _sql(spark,
        rewrite(
            "SELECT (DATE '2020-01-10', DATE '2020-01-01') "
            "OVERLAPS (DATE '2020-01-05', DATE '2020-01-20') AS o"
        )
    ).collect()[0].o
    assert r is True


@settings(max_examples=60, deadline=None)
@given(
    sql=st.sampled_from(
        [
            "SELECT a::int4 FROM t WHERE j ->> 'k' = 'v'",
            "SELECT 1 WHERE a IS DISTINCT FROM b AND s SIMILAR TO 'x%'",
            "SELECT 1 WHERE props @? '$.k ? (@ > 5)' AND t ~ '^a'",
            "SELECT 1 WHERE (a, b) OVERLAPS (c, d)",
            "SELECT ARRAY[1,2] FROM t ORDER BY x DESC",
            "SELECT string_agg(x, ',' ORDER BY x) FROM t",
            "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC",
        ]
    )
)
def test_rewrite_is_idempotent(sql):
    """rewrite(rewrite(x)) == rewrite(x): every lowered form must be a
    fixed point — a rewrite that re-triggers on its own output would
    corrupt SQL that round-trips through the engine twice (views,
    prepared statements, matview definitions)."""
    once = sql_dialect.rewrite(sql)
    assert sql_dialect.rewrite(once) == once


def test_with_ties_and_row_compare(spark):
    from warehouse_pg_spark.sql_dialect import rewrite

    out = rewrite(
        "SELECT x FROM t ORDER BY x FETCH FIRST 2 ROWS WITH TIES"
    )
    assert "rank() OVER" in out and "__rk <= 2" in out
    # plain FETCH ... ONLY unaffected
    assert "LIMIT 3" in rewrite("SELECT x FROM t FETCH FIRST 3 ROWS ONLY")
    out = rewrite("SELECT 1 WHERE (a, b) > (1, 2)")
    # r9: boolean lexicographic expansion (PG three-valued row_cmp),
    # no longer Spark struct comparison (which orders NULLs)
    assert "((a) > (1)) OR (((a) = (1)) AND ((b) > (2)))" in out
    # executes: ties survive, keyset resumes
    rows = _sql(spark,
        rewrite(
            "SELECT x FROM VALUES (1),(2),(2),(3) t(x) "
            "ORDER BY x FETCH FIRST 2 ROWS WITH TIES"
        )
    ).collect()
    assert sorted(r.x for r in rows) == [1, 2, 2]
    rows = _sql(spark,
        rewrite(
            "SELECT a, b FROM VALUES (1,1),(1,2),(2,1) t(a, b) "
            "WHERE (a, b) > (1, 1) ORDER BY a, b"
        )
    ).collect()
    assert [(r.a, r.b) for r in rows] == [(1, 2), (2, 1)]


def test_tablesample_and_escape_strings(spark):
    from warehouse_pg_spark.sql_dialect import rewrite

    assert "TABLESAMPLE (10 PERCENT)" in rewrite(
        "SELECT * FROM t TABLESAMPLE BERNOULLI(10)"
    )
    assert "TABLESAMPLE (2.5 PERCENT)" in rewrite(
        "SELECT * FROM t TABLESAMPLE SYSTEM(2.5)"
    )
    # E'' prefix drops; Spark's non-ANSI literal keeps the escapes
    out = rewrite(r"SELECT E'a\nb' AS s, E'it''s' AS t")
    assert "E'" not in out
    row = _sql(spark, out).collect()[0]
    assert row.s == "a\nb" and row.t == "it's"
    # a column named E... must not lose its E
    assert "Extra" in rewrite("SELECT Extra FROM t")


def test_overlaps_point_intervals(spark):
    """timestamp.c overlaps_timestamp: equal starts overlap even for
    zero-length (point) intervals, where strict < would say no."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].o

    # point vs containing interval
    assert run(
        "SELECT (DATE '2020-01-05', DATE '2020-01-05') "
        "OVERLAPS (DATE '2020-01-01', DATE '2020-01-10') AS o"
    ) is True
    # two identical points overlap
    assert run(
        "SELECT (DATE '2020-01-05', DATE '2020-01-05') "
        "OVERLAPS (DATE '2020-01-05', DATE '2020-01-05') AS o"
    ) is True
    # point exactly at the other interval's end: PG half-open [) — no
    assert run(
        "SELECT (DATE '2020-01-10', DATE '2020-01-10') "
        "OVERLAPS (DATE '2020-01-01', DATE '2020-01-10') AS o"
    ) is False
    # equal starts, different ends → overlap
    assert run(
        "SELECT (DATE '2020-01-01', DATE '2020-01-03') "
        "OVERLAPS (DATE '2020-01-01', DATE '2020-01-09') AS o"
    ) is True


def test_overlaps_null_endpoints(spark):
    """timestamp.c overlaps_timestamp NULL verdicts: both endpoints
    NULL => NULL; a lone NULL endpoint acts as an open end — the result
    is TRUE when the known endpoint already proves overlap, NULL when
    the verdict would need the open end, never a bare skip-the-NULL
    least/greatest guess."""
    from warehouse_pg_spark.sql_dialect import rewrite

    d = {1: "DATE '2020-01-01'", 5: "DATE '2020-01-05'",
         10: "DATE '2020-01-10'", 20: "DATE '2020-01-20'"}

    def run(a, b, c, e):
        g = lambda x: d.get(x, "NULL")
        q = (f"SELECT ({g(a)}, {g(b)}) OVERLAPS ({g(c)}, {g(e)}) AS o")
        return _sql(spark, rewrite(q)).collect()[0].o

    cases = [
        ((None, None, 1, 10), None),   # both endpoints NULL
        ((None, 5, 1, 10), True),      # open start, known end inside
        ((None, 20, 1, 10), None),     # start beyond te2, own end open
        ((1, 10, None, 5), True),      # symmetric: other side open
        ((1, 10, None, 20), None),
        ((5, None, 5, 10), None),      # equal starts, one end open
        ((5, None, 1, 10), True),      # open end but start proves it
        ((10, None, 1, 5), None),      # start past te2, end open
        ((1, 5, 10, None), None),
        ((1, None, 5, None), None),    # both ends open, starts differ
    ]
    for args, want in cases:
        got = run(*args)
        assert got is want or got == want, (args, want, got)


def test_similar_to_escapes_execute(spark):
    """SIMILAR TO escape handling (regexp.c similar_escape): \\d stays
    a regex class escape, \\% and escaped metachars match literally,
    and unescaped '.' is a literal dot — verified by execution."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def match(s, pat):
        q = f"SELECT '{s}' SIMILAR TO '{pat}' AS o"
        return _sql(spark, rewrite(q)).collect()[0].o

    assert match("a7b", r"a\db") is True          # \d = digit class
    assert match("adb", r"a\db") is False
    assert match("a%b", r"a\%b") is True          # \% = literal %
    assert match("aXb", r"a\%b") is False
    assert match("a.b", "a.b") is True            # '.' literal in SQL regex
    assert match("aXb", "a.b") is False           # must NOT act as wildcard
    assert match("aXb", "a_b") is True            # _ is the any-char form


def test_scalar_array_any_all(spark):
    """x OP ANY/ALL/SOME(array) (parse_oper.c make_scalar_array_op) →
    exists()/forall(), keeping PG's three-valued NULL semantics."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT 2 = ANY(ARRAY[1,2,3]) AS v") is True
    assert run("SELECT 9 = ANY(ARRAY[1,2,3]) AS v") is False
    assert run("SELECT 9 = ANY(ARRAY[1,NULL,3]) AS v") is None  # unknown
    assert run("SELECT 2 = ANY(ARRAY[1,NULL,2]) AS v") is True  # found wins
    assert run("SELECT 4 > ALL(ARRAY[1,2,3]) AS v") is True
    assert run("SELECT 2 <> ALL(ARRAY[1,3]) AS v") is True
    assert run("SELECT 2 <> ALL(ARRAY[1,2]) AS v") is False
    assert run("SELECT 7 = SOME(ARRAY[7]) AS v") is True
    # arithmetic left operand: comparison binds LOWER than '+' in PG
    # (gram.y a_expr), so 'a + b = ANY' quantifies over (a + b)
    assert run("SELECT 1 + 1 = ANY(ARRAY[2, 5]) AS v") is True
    assert run("SELECT 2 * 3 = ANY(ARRAY[5, 7]) AS v") is False
    assert run("SELECT 10 - 2 - 3 = ANY(ARRAY[5]) AS v") is True
    # quantified SUBQUERY form must be left alone (handled as joins)
    out = rewrite("SELECT 1 WHERE x > ALL (SELECT y FROM t)")
    assert "forall" not in out and "ALL" in out


def test_extract_dow_isodow_pg_numbering(spark):
    """PG dow: Sunday=0..Saturday=6; isodow: Monday=1..Sunday=7
    (timestamp.c timestamp_part) — Spark's dayofweek/weekday differ by
    one in both directions."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    # 2026-08-14 is a Friday; 2026-08-16 a Sunday
    assert run("SELECT extract(dow FROM DATE '2026-08-14') AS v") == 5
    assert run("SELECT extract(isodow FROM DATE '2026-08-14') AS v") == 5
    assert run("SELECT extract(dow FROM DATE '2026-08-16') AS v") == 0
    assert run("SELECT extract(isodow FROM DATE '2026-08-16') AS v") == 7


def test_between_symmetric_collate_like_any(spark):
    """BETWEEN SYMMETRIC swaps bounds (gram.y a_expr); COLLATE clauses
    strip (Spark compares binary = PG "C"); LIKE/ILIKE quantified over
    arrays lower to exists()/forall()."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT 5 BETWEEN SYMMETRIC 10 AND 1 AS v") is True
    assert run("SELECT 0 BETWEEN SYMMETRIC 10 AND 1 AS v") is False
    assert run("SELECT 5 NOT BETWEEN SYMMETRIC 10 AND 1 AS v") is False
    # NULL bound: gram.y expands to ((x>=a AND x<=b) OR (x>=b AND x<=a)),
    # so the verdict is NULL — least/greatest bound-swapping (skips
    # NULLs) would say FALSE
    assert run("SELECT 5 BETWEEN SYMMETRIC 3 AND NULL AS v") is None
    assert run("SELECT 5 BETWEEN SYMMETRIC NULL AND 6 AS v") is None
    assert run("SELECT 5 NOT BETWEEN SYMMETRIC 3 AND NULL AS v") is None
    # NULL tested value: both disjuncts unknown
    assert run("SELECT CAST(NULL AS INT) BETWEEN SYMMETRIC 1 AND 2 AS v") \
        is None
    assert run("SELECT 'a' COLLATE \"C\" < 'b' AS v") is True
    assert run("SELECT 'Hello' LIKE ANY(ARRAY['He%','X%']) AS v") is True
    assert run("SELECT 'Hello' ILIKE ALL(ARRAY['he%','%o']) AS v") is True
    assert run("SELECT 'Hello' NOT LIKE ALL(ARRAY['X%','Y%']) AS v") is True
    # plain BETWEEN untouched
    assert rewrite("SELECT 1 WHERE x BETWEEN 1 AND 2") == \
        "SELECT 1 WHERE x BETWEEN 1 AND 2"


def test_dollar_quotes_and_wide_extract(spark):
    """Dollar-quoted literals (gram.y xdolq) convert to standard
    quoting via a scanner that respects normal literals; EXTRACT
    CENTURY/DECADE/MILLENNIUM lower to year() arithmetic
    (timestamp.c timestamp_part)."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT $$it's fine$$ AS v") == "it's fine"
    assert run("SELECT $q$has $$ inside$q$ AS v") == "has $$ inside"
    # $$ inside ordinary literals is NOT a delimiter
    assert run("SELECT 'price $$ tag' AS v") == "price $$ tag"
    assert run("SELECT concat('a $$ b', $$x'y$$, 'c $$ d') AS v") == \
        "a $$ bx'yc $$ d"
    assert run("SELECT EXTRACT(century FROM DATE '2020-01-10') AS v") == 21
    assert run("SELECT EXTRACT(century FROM DATE '2000-01-10') AS v") == 20
    assert run("SELECT EXTRACT(decade FROM DATE '2026-01-10') AS v") == 202
    assert run(
        "SELECT EXTRACT(millennium FROM DATE '2020-01-10') AS v"
    ) == 3


def test_srf_with_ordinality_and_rows_from(spark):
    """SRF WITH ORDINALITY (nodeFunctionscan.c ordinality counter) →
    posexplode with PG's 1-based ordinal; single-function ROWS FROM
    collapses to a plain function scan."""
    from warehouse_pg_spark.sql_dialect import rewrite

    rows = _sql(spark, rewrite(
        "SELECT x.v, x.ord FROM unnest(ARRAY['a','b']) "
        "WITH ORDINALITY AS x(v, ord) ORDER BY ord"
    )).collect()
    assert [(r.v, r.ord) for r in rows] == [("a", 1), ("b", 2)]
    rows = _sql(spark, rewrite(
        "SELECT t.g, t.o FROM generate_series(5, 7) "
        "WITH ORDINALITY AS t(g, o) ORDER BY o"
    )).collect()
    assert [(r.g, r.o) for r in rows] == [(5, 1), (6, 2), (7, 3)]
    rows = _sql(spark, rewrite(
        "SELECT a.n FROM ROWS FROM (generate_series(1,2)) AS a(n) ORDER BY n"
    )).collect()
    assert [r.n for r in rows] == [1, 2]


def test_pg_math_operators(spark):
    """PG operator spellings (pg_operator.dat): ^ is POWER (Spark's ^
    is XOR — a silent-wrong-answer trap), # is int XOR, @ abs,
    |/ sqrt, ||/ cbrt; chains left-associate as in PG."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT 2 ^ 3 AS v") == 8.0
    assert run("SELECT 2 ^ 2 ^ 3 AS v") == 64.0  # (2^2)^3, PG left-assoc
    # unary-minus exponent: PG '2 ^ -2' is power, 0.25 — NOT Spark XOR
    assert run("SELECT 2 ^ -2 AS v") == 0.25
    assert run("SELECT 10 ^ - 1 AS v") == 0.1
    # a '^' whose operands the rewriter can't bind fails loudly rather
    # than silently evaluating as Spark XOR
    import pytest

    with pytest.raises(NotImplementedError, match="power"):
        rewrite("SELECT ((1 + 1)) ^ 2 AS v")
    assert run("SELECT 5 # 3 AS v") == 6
    assert run("SELECT @ -5 AS v") == 5
    assert run("SELECT |/ 25.0 AS v") == 5.0
    assert run("SELECT ||/ 27.0 AS v") == 3.0
    # email-ish literals and jsonpath operators must not trip @ / #
    assert run("SELECT 'x@y' AS v") == "x@y"
    assert run("SELECT '{\"a\":1}' ->> 'a' AS v") == "1"


def test_substring_regex_form(spark):
    """substring(x FROM 'regex') (varlena.c textregexsubstr): whole
    match, or capture group 1 when present; NULL on no match."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT substring('hello' FROM 'l+') AS v") == "ll"
    assert run("SELECT substring('a12b' FROM '([0-9]+)') AS v") == "12"
    assert run("SELECT substring('abc' FROM 'z+') AS v") is None
    # empty-string MATCH is '', not NULL (textregexsubstr returns NULL
    # only on no-match) — nullif() can't tell the two apart
    assert run("SELECT substring('abc' FROM 'z*') AS v") == ""
    assert run("SELECT substring('abc' FROM '([0-9]*)') AS v") == ""
    # positional FROM/FOR form stays native
    assert run("SELECT substring('hello' FROM 2 FOR 3) AS v") == "ell"


def test_create_table_pg_column_defs():
    """CREATE TABLE column defs: PG type names map (int4/text/serial/
    timestamptz/time), constraint clauses Spark rejects drop (PRIMARY
    KEY/CHECK/DEFAULT/REFERENCES), NOT NULL survives, table-level
    constraints drop, CTAS passes through untouched."""
    from warehouse_pg_spark.sql_dialect import rewrite

    out = rewrite(
        "CREATE TABLE t (id serial PRIMARY KEY, name text NOT NULL, "
        "bal numeric(10,2) DEFAULT 0.0, created timestamptz DEFAULT now(), "
        "d double precision, v character varying(30), "
        "tt time without time zone, "
        "CONSTRAINT pk PRIMARY KEY (id), CHECK (bal > 0))"
    )
    # r13: PG defs gain USING PARQUET (Spark requires a provider;
    # PG-style CREATE TEMP TABLE is the engine's managed-table model)
    assert out == (
        "CREATE TABLE t (id INT, name STRING NOT NULL, "
        "bal DECIMAL(10,2), created TIMESTAMP, d DOUBLE, v STRING, "
        "tt STRING) USING PARQUET"
    )
    out = rewrite("CREATE TEMP TABLE tmp1 (a int4, b text)")
    assert out == "CREATE TABLE tmp1 (a INT, b STRING) USING PARQUET"
    ctas = "CREATE TABLE t2 AS SELECT 1 AS a"
    assert rewrite(ctas) == ctas
    out = rewrite("ALTER TABLE t ADD COLUMN extra float8")
    assert "extra DOUBLE" in out


def test_lock_clause_and_only_strip(spark):
    """FOR UPDATE/SHARE row locks (gram.y for_locking_clause) and
    inheritance ONLY strip — no transactions, no inheritance."""
    from warehouse_pg_spark.sql_dialect import rewrite

    spark.range(5).createOrReplaceTempView("lk_t")
    assert _sql(spark, rewrite(
        "SELECT * FROM lk_t WHERE id = 1 FOR UPDATE"
    )).count() == 1
    assert _sql(spark, rewrite(
        "SELECT * FROM lk_t FOR NO KEY UPDATE SKIP LOCKED"
    )).count() == 5
    assert _sql(spark, rewrite(
        "SELECT * FROM lk_t FOR SHARE OF lk_t NOWAIT"
    )).count() == 5
    assert _sql(spark, rewrite(
        "SELECT id FROM ONLY lk_t WHERE id < 2"
    )).count() == 2
    # FOR inside window frames / loops must not strip
    out = rewrite("SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
    assert "ROWS BETWEEN" in out


def test_pg_misc_function_spellings(spark):
    """PG spellings Spark lacks (arrayfuncs.c, rowtypes.c, timestamp.c,
    int.c): ROW() records, 1-D array helpers, variadic num_nonnulls,
    age(), gcd/lcm (Euclid as a JVM fold), AT TIME ZONE, and
    ARRAY(SELECT ...) constructors."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT ROW(1,2) < ROW(1,3) AS v") is True
    assert run("SELECT ROW(2,0) <= ROW(1,9) AS v") is False
    assert run("SELECT array_length(ARRAY[1,2,3], 1) AS v") == 3
    assert run("SELECT array_cat(ARRAY[1], ARRAY[2,3]) AS v") == [1, 2, 3]
    # literal delimiter is regex-escaped ('.' must not be a wildcard)
    assert run("SELECT string_to_array('a.b.c', '.') AS v") == ["a", "b", "c"]
    assert run("SELECT num_nonnulls(1, NULL, 3) AS v") == 2
    assert run("SELECT num_nulls(1, NULL, NULL) AS v") == 2
    assert run("SELECT gcd(12, 18) AS v") == 6
    assert run("SELECT gcd(0, 7) AS v") == 7
    assert run("SELECT lcm(4, 6) AS v") == 12
    assert run("SELECT lcm(0, 6) AS v") == 0
    assert run(
        "SELECT CAST(age(DATE '2026-03-15', DATE '2025-01-31') AS STRING)"
        " AS v"
    ) == "1 years 1 months 15 days"
    # r9: an explicitly-naive TIMESTAMP literal follows PG's
    # timestamp→timestamptz direction (wall-clock IN the zone → UTC
    # instant); 12:00 EST = 17:00 UTC. Bare columns keep the collapsed
    # model's instant reading (test_at_time_zone_directions).
    assert run(
        "SELECT CAST(TIMESTAMP '2026-01-01 12:00:00' "
        "AT TIME ZONE 'America/New_York' AS STRING) AS v"
    ) == "2026-01-01 17:00:00"
    assert run("SELECT ||/ -27.0 AS v") == -3.0
    # SRF form: one row per 1-based subscript
    rows = _sql(spark, rewrite(
        "SELECT generate_subscripts(ARRAY[10,20], 1) AS i"
    )).collect()
    assert [r.i for r in rows] == [1, 2]


def test_array_select_subquery_ctor(spark):
    """ARRAY(SELECT ...) (parse_expr.c transformArrayExpr subquery
    form): collect_list scalar subquery; ORDER BY the selected
    expression maps to array_sort (DESC reverses)."""
    from warehouse_pg_spark.sql_dialect import rewrite

    spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "c")], ["id", "s"]
    ).createOrReplaceTempView("arr_t")
    out = _sql(spark, rewrite(
        "SELECT ARRAY(SELECT s FROM arr_t ORDER BY s) AS v"
    )).collect()[0].v
    assert out == ["a", "b", "c"]
    out = _sql(spark, rewrite(
        "SELECT ARRAY(SELECT s FROM arr_t ORDER BY s DESC) AS v"
    )).collect()[0].v
    assert out == ["c", "b", "a"]
    # unordered form: compare as a set
    out = _sql(spark, rewrite(
        "SELECT ARRAY(SELECT id FROM arr_t WHERE id > 1) AS v"
    )).collect()[0].v
    assert sorted(out) == [2, 3]


def test_to_char_sql_text_matches_column_builders(spark):
    """SQL-text to_char routing (sql_dialect._TO_CHAR_RE → the
    functions/to_char.py SQL emitters) must render EXACTLY what the
    Column builders compute — the two renderings of formatting.c's
    translation may not drift. Also pins the PG semantics Spark's
    native to_char rejects (FM fill mode, DCH datetime tokens)."""
    from pyspark.sql import functions as F

    from warehouse_pg_spark.functions.to_char import (
        to_char_datetime,
        to_char_datetime_sql,
        to_char_numeric,
        to_char_numeric_sql,
    )

    df = spark.createDataFrame(
        [(1234.5,), (-42.0,), (0.0,), (7.07,), (999999.99,)], ["x"]
    )
    for fmt in ["FM9,999.00", "9999.99", "FM0000", "FM$999.00",
                "$9,999.99", "999", "FM9.9999"]:
        a = [r.v for r in df.select(
            to_char_numeric(F.col("x"), fmt).alias("v")).collect()]
        b = [r.v for r in df.selectExpr(
            to_char_numeric_sql("x", fmt) + " AS v").collect()]
        assert a == b, fmt
    ts = spark.createDataFrame(
        [("2026-08-14 13:05:09",), ("1999-01-03 00:30:59",)], ["s"]
    ).select(F.col("s").cast("timestamp").alias("t"))
    for fmt in ["YYYY-MM-DD", "FMDay, DD Mon YYYY", "HH24:MI:SS",
                "MONTH", 'YYYY "q" Q', "Dy DD/MM/YY HH12:MI AM"]:
        a = [r.v for r in ts.select(
            to_char_datetime(F.col("t"), fmt).alias("v")).collect()]
        b = [r.v for r in ts.selectExpr(
            to_char_datetime_sql("t", fmt) + " AS v").collect()]
        assert a == b, fmt
    # end-to-end through the dialect: PG pictures Spark's native
    # to_char rejects outright
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT to_char(1234.5, 'FM9,999.00') AS v") == "1,234.50"
    assert run("SELECT to_char(-42, 'FM0000') AS v") == "-0042"
    assert run("SELECT to_char(1234.5, '9999.99') AS v") == " 1234.50"
    assert run(
        "SELECT to_char(TIMESTAMP '2026-08-14 13:05:09', 'HH24:MI:SS') AS v"
    ) == "13:05:09"
    assert run("SELECT to_char(DATE '2026-08-14', 'MONTH') AS v") == "AUGUST"


def test_unnest_in_from_and_lateral(spark):
    """FROM unnest(arr) AS t(x) and the comma/LATERAL forms
    (nodeFunctionscan.c; PG SRFs in FROM are implicitly LATERAL) →
    explode subquery / LATERAL VIEW; two parallel arrays zip with NULL
    padding exactly like unnest's pad-to-longest."""
    from warehouse_pg_spark.sql_dialect import rewrite

    spark.createDataFrame([(1, [10, 20]), (2, [30])], ["id", "arr"]) \
        .createOrReplaceTempView("un_t")
    rows = _sql(spark, rewrite(
        "SELECT x FROM unnest(ARRAY[3,1,2]) AS t(x) ORDER BY x"
    )).collect()
    assert [r.x for r in rows] == [1, 2, 3]
    rows = _sql(spark, rewrite(
        "SELECT id, x FROM un_t, LATERAL unnest(arr) AS t(x) "
        "ORDER BY id, x"
    )).collect()
    assert [(r.id, r.x) for r in rows] == [(1, 10), (1, 20), (2, 30)]
    # comma form without LATERAL keyword (implicit in PG)
    rows = _sql(spark, rewrite(
        "SELECT id, x FROM un_t, unnest(arr) AS t(x) ORDER BY id, x"
    )).collect()
    assert len(rows) == 3
    # two parallel arrays, NULL-padded to the longest
    rows = _sql(spark, rewrite(
        "SELECT a, b FROM unnest(ARRAY[1,2], ARRAY['x','y','z']) "
        "AS t(a, b) ORDER BY b"
    )).collect()
    assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, "y"), (None, "z")]


def test_to_date_pg_patterns_and_misc(spark):
    """to_date/to_timestamp DCH patterns translate to Java patterns
    (gated on PG-only tokens — Java-style patterns pass through);
    format() → format_string; array_fill → array_repeat;
    pg_typeof → typeof."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert str(run(
        "SELECT to_date('14 Aug 2026', 'DD Mon YYYY') AS v"
    )) == "2026-08-14"
    assert str(run(
        "SELECT to_timestamp('2026-08-14 13:05', 'YYYY-MM-DD HH24:MI') AS v"
    )) == "2026-08-14 13:05:00"
    # Java-style pattern must pass through untouched
    assert str(run("SELECT to_date('2026-08-14', 'yyyy-MM-dd') AS v")) \
        == "2026-08-14"
    # format() knows s/I/L only — %d is PG's "unrecognized format()
    # type specifier" error (varlena.c text_format), raised at plan
    # time now that the picture is validated (r14)
    assert run("SELECT format('%s has %s', 'cart', 3) AS v") == "cart has 3"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="type specifier"):
        sql_dialect.rewrite("SELECT format('%s has %d', 'cart', 3)")
    assert run("SELECT array_fill(7, ARRAY[3]) AS v") == [7, 7, 7]
    assert run("SELECT pg_typeof(1) AS v") == "int"


def test_json_constructors_and_srf_forms(spark):
    """PG JSON constructors/aggregates (json.c) lower to to_json over
    named_struct / array / collect_list / map_from_entries; ROW fields
    carry PG's anonymous-record names f1, f2 so row_to_json output is
    byte-identical to PG; json_array_elements / json_object_keys work
    as FROM-clause SRFs; generate_series joins laterally from a comma
    FROM item (implicitly LATERAL, as in PG)."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT row_to_json(ROW(1, 'a')) AS v") == '{"f1":1,"f2":"a"}'
    assert run("SELECT json_build_object('a', 1, 'b', 'x') AS v") \
        == '{"a":1,"b":"x"}'
    assert run("SELECT json_build_array(1, 2, NULL) AS v") == "[1,2,null]"
    spark.createDataFrame(
        [("k1", 1), ("k2", 2)], ["k", "n"]
    ).createOrReplaceTempView("ja_t")
    assert run("SELECT json_agg(k) AS v FROM ja_t") in (
        '["k1","k2"]', '["k2","k1"]'
    )
    got = run("SELECT json_object_agg(k, n) AS v FROM ja_t")
    assert '"k1":1' in got and '"k2":2' in got
    rows = _sql(spark, rewrite(
        "SELECT x FROM json_array_elements('[1,2,3]') AS t(x)"
    )).collect()
    assert [r.x for r in rows] == ["1", "2", "3"]
    rows = _sql(spark, rewrite(
        "SELECT k FROM json_object_keys('{\"a\":1,\"b\":2}') AS t(k)"
    )).collect()
    assert sorted(r.k for r in rows) == ["a", "b"]
    rows = _sql(spark, rewrite(
        "SELECT n, g FROM ja_t, LATERAL generate_series(1, n) AS s(g) "
        "ORDER BY n, g"
    )).collect()
    assert [(r.n, r.g) for r in rows] == [(1, 1), (2, 1), (2, 2)]


def test_array_subscripts_one_based_and_json_each(spark):
    """PG array subscripts are 1-based and slices inclusive
    (arrayfuncs.c array_ref/array_get_slice) — Spark's [] is 0-based,
    a silent off-by-one until rewritten to element_at/slice. String-key
    map access stays native. json_each explodes an object into
    key/value rows; substring(x FOR n) is the from-1 prefix form."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT (ARRAY[10,20,30])[2] AS v") == 20
    assert run("SELECT (ARRAY[1,2,3,4])[2:3] AS v") == [2, 3]
    assert run("SELECT split('a-b-c', '-')[1] AS v") == "a"
    assert run("SELECT map('a', 1)['a'] AS v") == 1  # untouched
    assert run("SELECT substring('hello' FOR 3) AS v") == "hel"
    rows = _sql(spark, rewrite(
        "SELECT k, v FROM json_each('{\"a\":1,\"b\":2}') AS t(k, v) "
        "ORDER BY k"
    )).collect()
    assert [(r.k, r.v) for r in rows] == [("a", "1"), ("b", "2")]


def test_log_trunc_interval_spellings(spark):
    """PG log(x) is base-10 (numeric.c log_var; Spark's one-arg log is
    natural log — a silent wrong answer); trunc truncates numerics
    toward zero with optional scale (Spark's trunc is date-only);
    PG's 'mon'/'mons' interval unit spellings parse."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT log(100) AS v") == 2.0
    assert run("SELECT round(log(2, 8), 6) AS v") == 3.0  # 2-arg agrees
    assert float(run("SELECT trunc(42.768, 1) AS v")) == 42.7
    assert float(run("SELECT trunc(-42.768, 2) AS v")) == -42.76
    assert run("SELECT CAST(trunc(5.9) AS INT) AS v") == 5
    assert run("SELECT CAST(trunc(-5.9) AS INT) AS v") == -5
    # 2-arg DATE trunc stays native
    assert str(run(
        "SELECT trunc(DATE '2026-08-14', 'MM') AS v"
    )) == "2026-08-01"
    assert str(run(
        "SELECT DATE '2026-01-15' + INTERVAL '2 years 3 mons' AS v"
    )) == "2028-04-15"


def test_jsonb_operators_typeof_regexp_matches(spark):
    """jsonb key-existence operators ? / ?| / ?& (jsonfuncs.c
    jsonb_exists*) check the object's KEY SET — a null value still
    counts, which get_json_object can't distinguish; jsonb_typeof
    classifies the json text; scalar regexp_matches returns the first
    match's capture groups as text[] (NULL on no match); json/jsonb/
    bytea/reg* cast names map; `jsonb '...'` typed literals parse."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("""SELECT '{"a":1,"b":null}'::jsonb ? 'b' AS v""") is True
    assert run("""SELECT '{"a":1}'::jsonb ? 'z' AS v""") is False
    assert run(
        """SELECT jsonb '{"a":null,"b":"q"}' ?| ARRAY['c','b'] AS v"""
    ) is True
    assert run(
        """SELECT jsonb '{"a":null,"b":"q"}' ?& ARRAY['a','b'] AS v"""
    ) is True
    assert run("""SELECT jsonb '{"a":1}' ?& ARRAY['a','z'] AS v""") is False
    for lit, typ in [('{"a":1}', "object"), ("[1]", "array"),
                     ('"x"', "string"), ("true", "boolean"),
                     ("null", "null"), ("3.14", "number")]:
        assert run(f"SELECT jsonb_typeof('{lit}') AS v") == typ
    assert run("SELECT regexp_matches('a1b2', '[0-9]') AS v") == ["1"]
    assert run(
        "SELECT regexp_matches('foo123', '([a-z]+)([0-9]+)') AS v"
    ) == ["foo", "123"]
    assert run("SELECT regexp_matches('abc', 'zz') AS v") is None
    assert run("SELECT 'x'::bytea IS NOT NULL AS v") is True
    assert run("SELECT '$.a'::jsonpath AS v") == "$.a"


def test_hash_path_time_literal_make_timestamptz(spark):
    """#> / #>> path extraction (jsonfuncs.c json_extract_path) in both
    the '{a,b}' text and array['a','b'] spellings — numeric elements
    index arrays; `time '...'` typed literals compose with dates as
    PG's date + time does; make_timestamptz maps to make_timestamp;
    'unknown' casts to STRING."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run(
        """SELECT '{"a":{"b":7}}'::jsonb #> '{a,b}' AS v"""
    ) == "7"
    assert run("""SELECT '[0,1,2]'::jsonb #> '{1}' AS v""") == "1"
    assert run(
        """SELECT '{"f2":{"f3":1}}'::jsonb #> array['f2'] AS v"""
    ) == '{"f3":1}'
    assert str(run(
        "SELECT DATE '1981-02-03' + time '04:05:06' AS v"
    )) == "1981-02-03 04:05:06"
    assert run(
        "SELECT make_timestamptz(1973, 7, 15, 8, 15, 55.33) IS NOT NULL AS v"
    ) is True
    assert run("SELECT 'foo'::unknown AS v") == "foo"


def test_braced_array_literals_and_typed_scalars(spark):
    """PG '{1,2,3}' braced array-literal text (arrayfuncs.c array_in)
    builds an array at rewrite time — with ::type[] casts and inside
    scalar ANY/ALL; typed scalar literal prefixes (bool 'n', int4 '7',
    numeric '1.5', text 'x') become CAST."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT '{1,2,3}'::int4[] AS v") == [1, 2, 3]
    assert run("SELECT '{a,b}'::text[] AS v") == ["a", "b"]
    assert run("SELECT '{}'::int8[] AS v") == []
    assert run("SELECT 25 = any('{1,25,3}') AS v") is True
    assert run("SELECT 25 = any('{1,2,3}') AS v") is False
    assert run("SELECT 9 < ALL('{10,20}') AS v") is True
    assert run("SELECT bool 'n' AS v") is False
    assert run("SELECT int4 '42' AS v") == 42
    assert run("SELECT text 'abc' AS v") == "abc"


def test_spelled_out_timestamp_and_time_literals(spark):
    """`timestamp with[out] time zone '...'` collapses to TIMESTAMP
    (single-timestamp model); `double precision '4.95'` casts; the
    time-literal interval qualifier follows the colon count so both
    '10:00' and '10:00:30' compose with dates."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert str(run(
        "SELECT timestamp without time zone '1999-12-01 10:00:00' AS v"
    )) == "1999-12-01 10:00:00"
    assert str(run(
        "SELECT timestamp with time zone '2005-04-02 12:00:00' "
        "+ interval '24 hours' AS v"
    )) == "2005-04-03 12:00:00"
    assert run("SELECT double precision '4.95' AS v") == 4.95
    assert str(run(
        "SELECT DATE '1994-01-01' + time '10:00' AS v"
    )) == "1994-01-01 10:00:00"
    assert str(run(
        "SELECT DATE '1994-01-01' + time '10:00:30' AS v"
    )) == "1994-01-01 10:00:30"


def test_array_type_casts_on_expressions(spark):
    """`expr::type[]` on non-literal operands (including chains) maps
    to ARRAY<T> casts; scalar casts and the '{...}' literal form are
    unaffected."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT ARRAY[1,2,3]::text[] AS v") == ["1", "2", "3"]
    assert run("SELECT ARRAY['1','2']::int4[] AS v") == [1, 2]
    assert run(
        "SELECT ARRAY[1,2,3]::text[]::int[]::float8[] AS v"
    ) == [1.0, 2.0, 3.0]
    assert run("SELECT 1.5::numeric(10,2)::float8 AS v") == 1.5


def test_plan_time_literal_validation():
    """r13 should_error closures: PG raises on these at parse/plan
    time, and the rewriter now raises too — invalid jsonpath literals
    (jsonpath_scan.l), jsonb->scalar casts over non-scalar values
    (jsonb.c cast_jsonb_*), bool input (bool.c boolin), float->int
    range (float.c dtoi2), float8 overflow/underflow text, inverse
    trig domain, make_date/make_time field ranges."""
    import pytest

    bad = [
        "SELECT ''::jsonpath",
        "SELECT 'last'::jsonpath",
        "SELECT '@ + 1'::jsonpath",
        "SELECT '$ ? (@.a < .1)'::jsonpath",
        "SELECT '00'::jsonpath",
        "SELECT '1e'::jsonpath",
        'SELECT \'$ ? (@ like_regex "(bad")\'::jsonpath',
        'SELECT \'$ ? (@ like_regex "p" flag "a")\'::jsonpath',
        "SELECT '[]'::jsonb::bool",
        "SELECT '\"hello\"'::jsonb::int4",
        "SELECT bool 'test'",
        "SELECT bool ''",
        "SELECT '32767.6'::float4::int2",
        "SELECT '10e400'::float8",
        "SELECT '1e-324'::float8",
        "SELECT acosh(float8 '-infinity')",
        "SELECT atanh(float8 'infinity')",
        "SELECT make_date(2013, 2, 30)",
        "SELECT make_time(24, 0, 2.1)",
    ]
    for q in bad:
        with pytest.raises(ValueError):
            sql_dialect.rewrite(q)
    good = [
        "SELECT '$.a[*] ? (@.b == 1)'::jsonpath",
        "SELECT 'strict $.a[last]'::jsonpath",
        "SELECT '$ ? (@.a < 0.1e-1)'::jsonpath",
        "SELECT 'true'::jsonb::boolean",
        "SELECT '1.5'::jsonb::float",
        "SELECT bool 'yes'",
        "SELECT '123.4'::float4::int2",
        "SELECT 'inf'::float8",
        "SELECT acosh(float8 '1.5')",
        "SELECT make_date(2013, 7, 15)",
        "SELECT make_time(8, 20, 0.0)",
    ]
    for q in good:
        sql_dialect.rewrite(q)  # must not raise


def test_plan_time_validation_executes(spark):
    """The folded survivors produce PG's values."""
    from warehouse_pg_spark.sql_dialect import rewrite

    def run(q):
        return _sql(spark, rewrite(q)).collect()[0].v

    assert run("SELECT bool 'of' AS v") is False
    assert run("SELECT 'true'::jsonb::boolean AS v") is True
    assert run("SELECT '123.5'::float4::int2 AS v") == 124
    assert run("SELECT '122.5'::float8::int2 AS v") == 122  # half-even
    assert str(run("SELECT make_date(2013, 7, 15) AS v")) == "2013-07-15"


def test_r14_advice_regressions():
    """r13 advice closures: named-window refs survive the
    no-ORDER-BY rewrite, ::bool[] stays an array_in cast, jsonb->int
    rounds+range-checks (numeric.c), jsonpath filter nesting pairs
    '? (' with its close paren, and ::float4 literals range-check
    against FLT_MAX (float.c float4in)."""
    import pytest

    from warehouse_pg_spark.functions.pg import jsonpath_validate

    # OVER (w) named-window reference is untouched
    s = sql_dialect.rewrite(
        "SELECT rank() OVER (w) FROM t WINDOW w AS (ORDER BY x)")
    assert "OVER (w)" in s
    # inline empty window still gets the constant ordering
    assert "ORDER BY null" in sql_dialect.rewrite("SELECT rank() OVER ()")

    # bool[] literal goes through array_in, not boolin
    assert "ARRAY<BOOLEAN>" in sql_dialect.rewrite("SELECT '{t,f}'::bool[]")

    # jsonb -> int family: round half away from zero + range check
    assert "CAST(2 AS INT)" in sql_dialect.rewrite("SELECT '1.9'::jsonb::int4")
    with pytest.raises(ValueError, match="smallint out of range"):
        sql_dialect.rewrite("SELECT '100000'::jsonb::smallint")

    # a top-level @ AFTER a closed filter is still rejected
    with pytest.raises(ValueError, match="only in filters"):
        jsonpath_validate("$ ? (@ > 1).a + @")
    jsonpath_validate("$.a ? (@.b > 1)")  # valid filters still pass

    # float4 literal overflow/underflow raises; float8 doesn't
    with pytest.raises(ValueError, match="type real"):
        sql_dialect.rewrite("SELECT '1e39'::float4")
    with pytest.raises(ValueError, match="type real"):
        sql_dialect.rewrite("SELECT '1e-46'::real")
    sql_dialect.rewrite("SELECT '1e39'::float8")
    sql_dialect.rewrite("SELECT '1e-44'::float4")  # float4 denormal ok


def test_srf_order_by_and_xml_bytea(spark):
    """r14 in-scope-error closures: SRFs in ORDER BY lockstep with the
    select list (execSRF.c; tsrf.sql), xmlelement over bytea literals
    per the xmlbinary GUC (xml.c map_sql_value_to_xml_value), and the
    json-returning `->` keeping string-leaf quoting (jsonfuncs.c
    json_object_field)."""
    from warehouse_pg_spark.engine import Engine

    eng = Engine(spark=spark)

    def vals(q):
        return [r[0] for r in eng.sql(q).collect()]

    assert vals(
        "select generate_series(1,3)+1 order by generate_series(1,3)"
    ) == [2, 3, 4]
    assert vals("select generate_series(1,3) as x order by x desc") == [
        3, 2, 1]
    assert vals("SELECT xmlelement(name foo, bytea 'bar')") == [
        "<foo>YmFy</foo>"]
    eng.sql("SET xmlbinary TO hex")
    assert vals("SELECT xmlelement(name foo, bytea 'bar')") == [
        "<foo>626172</foo>"]
    eng.sql("RESET xmlbinary")
    assert vals("SELECT xmlelement(name foo, bytea 'bar')") == [
        "<foo>YmFy</foo>"]
    # json -> keeps quoting on string leaves; ->> unquotes; json null
    # leaf renders as 'null' (PG json_object_field)
    assert vals("""select '{"a":"b"}'::json -> 'a'""") == ['"b"']
    assert vals("""select '{"a":"b"}'::json ->> 'a'""") == ["b"]
    assert vals("""select json '{"a":{"b":"c"}}' -> 'a' ->> 'b'""") == ["c"]
    assert vals("""select '{"a":null}'::json -> 'a'""") == ["null"]
    assert vals("""select '["x","y"]'::json -> -1""") == ['"y"']


def test_r14_plan_time_validation_families():
    """r14 should_error closures: every family PG rejects at
    parse/execute that the engine previously accepted silently now
    raises at plan time — to_date/to_timestamp pictures
    (formatting.c), json_object array shapes (jsonfuncs.c),
    parse_ident (misc.c), money range (cash.c), bytea input
    (varlena.c byteain), width_bucket args (numeric.c), int
    input/arithmetic overflow (int.c/int8.c), E'' unicode escapes
    (scan.l), format() specifiers (varlena.c text_format), xml
    content/constructors (xml.c), zone names/offsets (datetime.c),
    reversed ranges (rangetypes.c), jsonb NUL, deep json nesting."""
    import pytest

    bad = [
        "SELECT to_timestamp('2016-06-13 25:00:00', 'YYYY-MM-DD HH24:MI:SS')",
        "SELECT to_date('2016-02-30', 'YYYY-MM-DD')",
        "SELECT to_timestamp('19971', 'YYYYMMDD')",
        "SELECT to_timestamp('2005527', 'YYYYIWID')",
        "SELECT to_timestamp('1997-11-Jan-16', 'YYYY-MM-Mon-DD')",
        "SELECT json_object('{a,b,c}')",
        "SELECT jsonb_object('{{a},{b}}')",
        "select json_object('{a,b,NULL,\"d e f\"}','{1,2,3,\"a b c\"}')",
        "SELECT parse_ident('10.20')",
        "SELECT parse_ident(' ')",
        "SELECT '123456789012345678'::money",
        "SELECT E'\\\\xDeAdBeE'::bytea",
        "SELECT width_bucket(5.0, 3.0, 4.0, 0)",
        "select '9223372036854775808'::int8",
        "SELECT (-32768)::int2 * (-1)::int2",
        "select -('-9223372036854775808'::int8)",
        "SELECT '2147483647'::float4::int4",
        "select E'\\\\u0000'".replace("\\\\", "\\"),
        "select format('Hello %x', 20)",
        "SELECT xml '<!DOCTYPE a><a/><b/>'",
        "SELECT xmlpi(name xml)",
        "SELECT xmlelement(name d, xmlattributes(1 as a, 2 as a))",
        "SELECT make_timestamptz(2014, 12, 10, 10, 10, 10, '+16')",
        "SELECT '19970710' AT TIME ZONE 'America/Does_not_exist'",
        "select numrange(2.0, 1.0)",
        "select make_interval(secs := 'inf')",
        "SELECT regexp_replace('AAA', 'A+', 'Z', 'z')",
        'SELECT jsonb \'{ "a": "x \\u0000 y" }\'',
    ]
    for q in bad:
        with pytest.raises(ValueError):
            sql_dialect.rewrite(q)
    good = [
        "SELECT to_date('2011-12-18', 'YYYY-MM-DD')",
        "SELECT to_date('January 8, 1999', 'Month DD, YYYY')",
        "SELECT json_object('{a,1,b,2}')",
        "SELECT parse_ident('\"Some\".tab')",
        "SELECT '92233720368547758.07'::money",
        "SELECT E'\\\\xDeAdBeEf'::bytea",
        "SELECT width_bucket(5.0, 3.0, 4.0, 5)",
        "select '9223372036854775807'::int8",
        "SELECT xml '<a/><b/>'",
        "SELECT make_timestamptz(2014, 12, 10, 10, 10, 10, '+5:30')",
        "SELECT col AT TIME ZONE 'America/New_York'",
        "select numrange(1.0, 2.0)",
        "select format('%s and %I and %L', 1, 'a', 'b')",
    ]
    for q in good:
        sql_dialect.rewrite(q)  # must not raise


def test_jsonpath_exec_errors(spark):
    """jsonpath EXECUTION errors raise in both modes
    (jsonpath_exec.c): item-method type violations, non-numeric
    arithmetic operands, division by zero, bad subscripts; the
    silent => false match form demands a single boolean. The @?/@@
    operators stay silent, as PG's do."""
    import pytest

    from warehouse_pg_spark.engine import Engine

    eng = Engine(spark=spark)
    bad = [
        "select jsonb_path_query('0', '1 / $')",
        "select jsonb_path_query('1', '$ + \"2\"')",
        "select jsonb_path_query('\"a\"', '-$')",
        "select jsonb_path_query('null', '$.double()')",
        "select jsonb_path_query('\"1.23aaa\"', '$.double()')",
        "select jsonb_path_query('{}', '$.abs()')",
        "select jsonb_path_query('[{},1]', '$[*].keyvalue()')",
        "select jsonb_path_query('[]', 'strict $[\"a\"]')",
        "SELECT jsonb_path_match('1', '$', silent => false)",
        "SELECT jsonb_path_match('[true, true]', '$[*]', silent => false)",
    ]
    for q in bad:
        with pytest.raises(Exception):
            eng.sql(q).collect()

    def vals(q):
        return [r[0] for r in eng.sql(q).collect()]

    assert vals("select jsonb_path_query('2', '$ * 3')") == ["6"]
    assert vals("select jsonb_path_query('-1', '$.abs()')") == ["1"]
    assert vals("select jsonb_path_query('\"1.5\"', '$.double()')") == ["1.5"]
    assert vals(
        "SELECT jsonb_path_match('true', '$', silent => false)") == [True]
    # operators stay silent on execution errors
    assert vals("""select '1'::jsonb @@ '$ + "2"' IS NULL""") == [True]
