"""PL/pgSQL subset compiled to Catalyst expressions (plpgsql.py;
reference src/pl/plpgsql/src/pl_exec.c, pl_gram.y) plus the SQL-text
CREATE FUNCTION / DROP FUNCTION surface (commands/functioncmds.c)."""

import pytest

from warehouse_pg_spark.plpgsql import PlpgsqlError, compile_plpgsql


@pytest.fixture(scope="module")
def engine(spark):
    from warehouse_pg_spark.engine import Engine

    return Engine(spark)


def _one(engine, sql):
    return engine.sql(sql).collect()[0][0]


# ------------------------------------------------------------- compiler
def test_straightline_assignments():
    e = compile_plpgsql(
        [("x", "INT")],
        "INT",
        "DECLARE a int := 2; BEGIN a := a + x; a := a * 3; RETURN a; END",
    )
    # fully substituted over the parameter — no variables left
    assert "a" not in e.replace("CAST", "").replace("AS", "")


def test_if_becomes_case_with_tail():
    e = compile_plpgsql(
        [("x", "INT")],
        "STRING",
        """
        DECLARE label text := 'none';
        BEGIN
          IF x > 100 THEN label := 'big';
          ELSIF x > 10 THEN label := 'mid';
          ELSE label := 'small';
          END IF;
          RETURN label;
        END
        """,
    )
    assert e.upper().startswith("CASE WHEN")
    assert "'big'" in e and "'mid'" in e and "'small'" in e


def test_missing_return_raises_at_runtime():
    """plpgsql_exec_function: a non-void function whose control falls
    off the end errors at RUN time; void bodies fall through to NULL
    (pl_exec.c — 'control reached end of function without RETURN')."""
    e = compile_plpgsql([], "INT", "BEGIN NULL; END")
    assert "raise_error" in e and "without RETURN" in e
    e = compile_plpgsql([], "STRING", "BEGIN NULL; END", void=True)
    assert "NULL" in e.upper() and "raise_error" not in e


def test_rejections_are_clear():
    for body, frag in [
        ("BEGIN FOR i IN 1..x LOOP y := i; END LOOP; END", "constant"),
        ("BEGIN OPEN cur FOR SELECT 1; END", "void-procedure"),
        ("BEGIN SELECT a, b INTO x FROM t; END", "one target"),
        ("BEGIN RAISE EXCEPTION USING DETAIL = 'd'; END", "message"),
    ]:
        with pytest.raises(PlpgsqlError, match=frag):
            compile_plpgsql([("x", "INT")], "INT", body)
    # RAISE ... USING with a message now compiles (r17): the USING
    # diagnostics beyond MESSAGE are dropped, the raise survives
    e = compile_plpgsql(
        [("x", "INT")], "INT",
        "BEGIN RAISE EXCEPTION 'e' USING HINT = 'h'; END")
    assert "raise_error" in e


def test_raise_exception_guard_clause(engine, spark):
    """RAISE EXCEPTION (pl_exec.c exec_stmt_raise): a compiled terminal
    raise_error with % placeholders; NOTICE is a result-neutral no-op."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION checked_div(a double precision,
                                               b double precision)
        RETURNS double precision LANGUAGE plpgsql AS $$
        BEGIN
          RAISE NOTICE 'dividing';
          IF b = 0 THEN RAISE EXCEPTION 'division of % by zero', a;
          END IF;
          RETURN a / b;
        END
        $$
        """
    )
    assert spark.sql("SELECT checked_div(6, 3) AS v").collect()[0].v == 2.0
    with pytest.raises(Exception, match="division of 6.0 by zero"):
        spark.sql("SELECT checked_div(6, 0) AS v").collect()


def test_while_loop_compiles_and_runs(engine, spark):
    """WHILE with a data-dependent trip count (pl_exec.c
    exec_stmt_while) — fuel-bounded unroll; terminating executions
    never hit the fuel error."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION collatz_steps(n int) RETURNS int
        LANGUAGE plpgsql AS $$
        DECLARE steps int := 0; v int := n;
        BEGIN
          WHILE v > 1 LOOP
            IF v % 2 = 0 THEN v := CAST(v / 2 AS int);
            ELSE v := 3 * v + 1;
            END IF;
            steps := steps + 1;
          END LOOP;
          RETURN steps;
        END
        $$
        """
    )
    rows = spark.sql(
        "SELECT collatz_steps(x) AS s FROM VALUES (1), (2), (6), (27) AS t(x)"
    ).collect()
    assert [r.s for r in rows] == [0, 1, 8, 111]


def test_while_fuel_exhaustion_raises_at_runtime(engine, spark):
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION spin(n int) RETURNS int
        LANGUAGE plpgsql AS $$
        DECLARE i int := 0;
        BEGIN
          WHILE i < n LOOP i := i + 1; END LOOP;
          RETURN i;
        END
        $$
        """
    )
    assert spark.sql("SELECT spin(50) AS v").collect()[0].v == 50
    assert spark.sql("SELECT spin(128) AS v").collect()[0].v == 128
    with pytest.raises(Exception, match="WHILE loop exceeded"):
        spark.sql("SELECT spin(129) AS v").collect()


def test_select_into_scalar_subquery(engine, spark):
    """SELECT expr INTO v FROM ... (pl_exec.c exec_stmt_execsql with
    INTO): compiles to a correlated scalar subquery over registered
    views — no per-row Python, no interpreter."""
    spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 40.0)], ["grp", "amt"]
    ).createOrReplaceTempView("si_t")
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION grp_share(g int, x double precision)
        RETURNS double precision
        LANGUAGE plpgsql AS $$
        DECLARE total double precision;
        BEGIN
          SELECT sum(amt) INTO STRICT total FROM si_t WHERE grp = g;
          IF total IS NULL OR total = 0 THEN RETURN 0; END IF;
          RETURN x / total;
        END
        $$
        """
    )
    rows = spark.sql(
        "SELECT grp_share(1, 10.0) AS a, grp_share(2, 10.0) AS b, "
        "grp_share(3, 10.0) AS c"
    ).collect()[0]
    assert rows.a == pytest.approx(10.0 / 30.0)
    assert rows.b == pytest.approx(0.25)
    assert rows.c == 0.0  # empty group: sum NULL → 0 branch


def test_exit_when_inside_while(engine, spark):
    """EXIT WHEN (pl_gram.y stmt_exit) leaves the loop mid-body: the
    desugared exit flag must stop BOTH the remaining statements of the
    iteration and all further iterations."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION first_pow2_above(n int) RETURNS int
        LANGUAGE plpgsql AS $$
        DECLARE v int := 1; steps int := 0;
        BEGIN
          WHILE steps < 100 LOOP
            EXIT WHEN v > n;
            v := v * 2;
            steps := steps + 1;
          END LOOP;
          RETURN v;
        END
        $$
        """
    )
    rows = spark.sql(
        "SELECT first_pow2_above(x) AS v FROM VALUES (0), (5), (1000) AS t(x)"
    ).collect()
    assert [r.v for r in rows] == [1, 8, 1024]


def test_exit_outside_loop_rejected():
    with pytest.raises(PlpgsqlError, match="only inside a WHILE"):
        compile_plpgsql([("x", "INT")], "INT", "BEGIN EXIT; RETURN 1; END")


def test_continue_when_inside_while(engine, spark):
    """CONTINUE WHEN skips the rest of the iteration only: sum of
    1..n excluding multiples of 3 — the continue flag must reset each
    iteration (unlike EXIT's, which persists)."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION sum_skip3(n int) RETURNS int
        LANGUAGE plpgsql AS $$
        DECLARE i int := 0; s int := 0;
        BEGIN
          WHILE i < n LOOP
            i := i + 1;
            CONTINUE WHEN i % 3 = 0;
            s := s + i;
          END LOOP;
          RETURN s;
        END
        $$
        """
    )
    rows = spark.sql(
        "SELECT sum_skip3(x) AS v FROM VALUES (0), (5), (10) AS t(x)"
    ).collect()
    # 1..5 minus {3} = 12; 1..10 minus {3,6,9} = 55-18 = 37
    assert [r.v for r in rows] == [0, 12, 37]


def test_exit_and_continue_combined(engine, spark):
    """EXIT and CONTINUE in one body: sum odd numbers until the sum
    would exceed a cap."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION odd_sum_capped(n int, cap int)
        RETURNS int LANGUAGE plpgsql AS $$
        DECLARE i int := 0; s int := 0;
        BEGIN
          WHILE i < n LOOP
            i := i + 1;
            CONTINUE WHEN i % 2 = 0;
            EXIT WHEN s + i > cap;
            s := s + i;
          END LOOP;
          RETURN s;
        END
        $$
        """
    )
    # odds 1,3,5,7,9: running 1,4,9,16,25 — cap 10 stops before 7
    assert spark.sql(
        "SELECT odd_sum_capped(10, 10) AS v"
    ).collect()[0].v == 9
    assert spark.sql(
        "SELECT odd_sum_capped(10, 100) AS v"
    ).collect()[0].v == 25


def test_select_into_without_from_is_assignment():
    e = compile_plpgsql(
        [("x", "INT")], "INT",
        "DECLARE v int; BEGIN SELECT x * 2 INTO v; RETURN v + 1; END",
    )
    assert "SELECT" not in e.upper()  # pure expression, no subquery


# ------------------------------------------- engine CREATE FUNCTION path
def test_plpgsql_function_executes(engine, spark):
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION bucket_label(x int) RETURNS text
        LANGUAGE plpgsql AS $$
        DECLARE label text := 'none';
        BEGIN
          IF x > 100 THEN label := 'big';
          ELSIF x > 10 THEN label := 'mid';
          ELSE label := 'small';
          END IF;
          RETURN label;
        END
        $$
        """
    )
    rows = spark.sql(
        "SELECT bucket_label(x) AS l FROM VALUES (5), (50), (500) AS t(x)"
    ).collect()
    assert [r.l for r in rows] == ["small", "mid", "big"]


def test_plpgsql_for_loop_unrolls(engine, spark):
    engine.sql(
        """
        CREATE FUNCTION fact5() RETURNS bigint LANGUAGE plpgsql AS $$
        DECLARE acc bigint := 1;
        BEGIN
          FOR i IN 1..5 LOOP acc := acc * i; END LOOP;
          RETURN acc;
        END
        $$
        """
    )
    assert spark.sql("SELECT fact5() AS v").collect()[0].v == 120
    # the call is one Catalyst expression: no Python UDF in the plan
    plan = spark.sql("SELECT fact5()")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_plpgsql_reverse_loop_and_early_return(engine, spark):
    engine.sql(
        """
        CREATE FUNCTION first_div(n int) RETURNS int LANGUAGE plpgsql AS $$
        BEGIN
          FOR i IN REVERSE 9..2 LOOP
            IF n % i = 0 THEN RETURN i; END IF;
          END LOOP;
          RETURN 1;
        END
        $$
        """
    )
    got = {
        n: spark.sql(f"SELECT first_div({n}) AS v").collect()[0].v
        for n in (12, 35, 13)
    }
    assert got == {12: 6, 35: 7, 13: 1}


def test_sql_language_function_and_strict(engine, spark):
    engine.sql(
        "CREATE FUNCTION double_it(x int) RETURNS int STRICT "
        "LANGUAGE sql AS $$ SELECT x * 2 $$"
    )
    rows = spark.sql(
        "SELECT double_it(x) AS v FROM VALUES (3), (NULL) AS t(x)"
    ).collect()
    assert [r.v for r in rows] == [6, None]


def test_sql_standard_return_body(engine, spark):
    engine.sql(
        "CREATE FUNCTION add_one(x int) RETURNS int RETURN x + 1"
    )
    assert spark.sql("SELECT add_one(41) AS v").collect()[0].v == 42


def test_body_uses_pg_dialect(engine, spark):
    # ::casts and || inside the body go through the dialect rewrite
    engine.sql(
        """
        CREATE FUNCTION tagit(x int) RETURNS text LANGUAGE plpgsql AS $$
        BEGIN
          RETURN 'v' || (x * 2)::text;
        END
        $$
        """
    )
    assert spark.sql("SELECT tagit(21) AS v").collect()[0].v == "v42"


def test_drop_function(engine, spark):
    engine.sql("CREATE FUNCTION gone() RETURNS int RETURN 7")
    assert spark.sql("SELECT gone() AS v").collect()[0].v == 7
    engine.sql("DROP FUNCTION gone")
    with pytest.raises(Exception):
        spark.sql("SELECT gone() AS v").collect()
    engine.sql("DROP FUNCTION IF EXISTS gone")  # idempotent


def test_drop_unknown_function_raises(engine):
    """DROP FUNCTION / PROCEDURE of a name that is no user function and
    no Spark temporary function raises, as PG does; IF EXISTS does not."""
    for stmt in ("DROP FUNCTION nosuch_fn(int)", "DROP PROCEDURE nosuch_fn()"):
        with pytest.raises(ValueError, match='"nosuch_fn" does not exist'):
            engine.sql(stmt)
    engine.sql("DROP FUNCTION IF EXISTS nosuch_fn(int)")
    engine.sql("DROP PROCEDURE IF EXISTS nosuch_fn()")


def test_drop_function_list(engine, spark):
    """DROP FUNCTION takes a comma list, each name with its own
    parameter list, and drops every name in it."""
    engine.sql("CREATE FUNCTION dl_a(x int) RETURNS int RETURN x + 1")
    engine.sql("CREATE FUNCTION dl_b(x int) RETURNS int RETURN x + 2")
    engine.sql("DROP FUNCTION dl_a(int), dl_b(int)")
    for name in ("dl_a", "dl_b"):
        with pytest.raises(Exception, match=name):
            engine.sql(f"SELECT {name}(1) AS v").collect()
    with pytest.raises(ValueError, match='"dl_a" does not exist'):
        engine.sql("DROP FUNCTION dl_a(int), dl_b(int)")
    engine.sql("DROP FUNCTION IF EXISTS dl_a(int), dl_b(int) CASCADE")


def test_trigger_function_create_then_drop(engine):
    """A trigger function is a record like any other: pg_proc lists it
    and DROP FUNCTION (without IF EXISTS) removes it."""
    engine.sql("CREATE FUNCTION trg_fn() RETURNS trigger AS $$ BEGIN "
               "RETURN NEW; END $$ LANGUAGE plpgsql")
    procs = lambda: {r.proname for r in engine.sql("SELECT proname FROM pg_proc").collect()}
    assert "trg_fn" in procs()
    engine.sql("DROP FUNCTION trg_fn()")
    assert "trg_fn" not in procs()


# ------------------------------------------- one user-function table
# One function of each kind: (CREATE statements, a call, the FROM tail
# of a query around it, that query's rows, the DROP). `uf_log` counts
# the rows interpreted bodies insert.
_UF_KINDS = {
    "scalar": (["CREATE FUNCTION uf_scalar(x int) RETURNS int RETURN x * 10"],
               "uf_scalar(3)", "", [(30,)], "DROP FUNCTION uf_scalar(int)"),
    "variadic": (["CREATE FUNCTION uf_vsum(VARIADIC xs int[]) RETURNS int AS $$ "
                  "SELECT aggregate(xs, 0, (a, b) -> a + b) $$ LANGUAGE sql"],
                 "uf_vsum(1, 2, 3)", "", [(6,)], "DROP FUNCTION uf_vsum(int[])"),
    "setof": (["CREATE FUNCTION uf_srf(n int) RETURNS SETOF int AS $$ "
               "SELECT generate_series(1, n) $$ LANGUAGE sql"],
              "uf_srf(2)", "", [(1,), (2,)], "DROP FUNCTION uf_srf(int)"),
    "template": (["CREATE FUNCTION uf_first(anyarray) RETURNS anyelement AS $$ "
                  "SELECT $1[1] $$ LANGUAGE sql"],
                 "uf_first(array[7, 8])", "", [(7,)], "DROP FUNCTION uf_first(anyarray)"),
    "aggregate": (["CREATE FUNCTION uf_step(a bigint, b int) RETURNS bigint AS $$ "
                   "SELECT coalesce(a, 0) + b $$ LANGUAGE sql",
                   "CREATE AGGREGATE uf_sum(int) (sfunc = uf_step, stype = bigint)"],
                  "uf_sum(v)", " FROM (VALUES (1), (2), (3)) AS t(v)", [(6,)],
                  "DROP AGGREGATE uf_sum(int)"),
    "interpreted": (["CREATE FUNCTION uf_twice(x int) RETURNS int AS $$ BEGIN "
                     "INSERT INTO uf_log VALUES (x); RETURN x * 2; END $$ LANGUAGE plpgsql"],
                    "uf_twice(5)", "", [(10,)], "DROP FUNCTION uf_twice(int)"),
    "procedure": (["CREATE PROCEDURE uf_proc(x int) LANGUAGE plpgsql AS $$ BEGIN "
                   "INSERT INTO uf_log VALUES (x); END $$"],
                  "uf_proc(4)", "", [(None,)], "DROP PROCEDURE uf_proc(int)"),
    "shadowing": (["CREATE FUNCTION upper(x text) RETURNS text AS $$ "
                   "SELECT 'U:' || x $$ LANGUAGE sql"],
                  "upper('a')", "", [("U:a",)], "DROP FUNCTION upper(text)"),
}


@pytest.fixture()
def fresh(spark, tmp_path):
    """An engine on a new SparkSession (its own temporary functions),
    with the empty table `uf_log`."""
    from warehouse_pg_spark.engine import Engine

    eng = Engine(spark=spark.newSession(), warehouse_dir=str(tmp_path))
    eng.sql("CREATE TABLE uf_log (v int)")
    return eng


def _rows(engine, sql):
    return [tuple(r) for r in engine.sql(sql).collect()]


def _pg_proc(engine):
    return {r.proname for r in engine.sql("SELECT proname FROM pg_proc").collect()}


@pytest.mark.parametrize("kind", ["variadic", "template", "aggregate", "interpreted"])
def test_call_in_literal_or_comment_stays_text(fresh, kind):
    """A function named only inside a string literal or a comment is
    never expanded or run: the call-site pass reads masked text."""
    creates, call, _tail, _rows_, _drop = _UF_KINDS[kind]
    for stmt in creates:
        fresh.sql(stmt)
    assert _rows(fresh, f"SELECT '{call}' AS s") == [(call,)]
    assert _rows(fresh, f"SELECT 1 /* {call} */ AS s") == [(1,)]
    assert _rows(fresh, "SELECT count(*) FROM uf_log") == [(0,)]


@pytest.mark.parametrize("kind", list(_UF_KINDS))
def test_drop_removes_the_one_record(fresh, kind):
    """DROP FUNCTION / PROCEDURE / AGGREGATE removes the function's one
    record and its Spark function: a call raises (a shadowing function
    gives the builtin back), CALL raises, and pg_proc drops the name."""
    creates, call, tail, rows, drop = _UF_KINDS[kind]
    name = call.partition("(")[0]
    for stmt in creates:
        fresh.sql(stmt)
    query = f"SELECT {call} AS v{tail}"
    assert sorted(_rows(fresh, query), key=repr) == rows
    assert sorted(_rows(fresh, f"SELECT public.{call} AS v{tail}"), key=repr) == rows
    assert name in _pg_proc(fresh)
    fresh.sql(drop)
    if kind == "shadowing":
        assert _rows(fresh, query) == [("A",)]
    else:
        with pytest.raises(Exception, match=name):
            fresh.sql(query).collect()
    if kind == "procedure":
        with pytest.raises(Exception, match=name):
            fresh.sql(f"CALL {call}").collect()
    assert name not in _pg_proc(fresh)


def test_aggregate_argument_may_nest(fresh):
    """The call-site pass cuts a call's arguments at its closing
    parenthesis, so an aggregate over a nested expression lowers."""
    for stmt in _UF_KINDS["aggregate"][0]:
        fresh.sql(stmt)
    assert _rows(fresh, "SELECT uf_sum(abs(v) * 2) AS s "
                        "FROM (VALUES (1), (-2), (3)) AS t(v)") == [(12,)]


def test_replace_changes_the_function_kind(fresh):
    """CREATE OR REPLACE rewrites the one record: a DML-bodied void
    function replaced by a scalar SQL function computes and writes
    nothing, and replaced back it writes again with no Spark function
    left behind."""
    void_dml = ("CREATE OR REPLACE FUNCTION uf_logit(x int) RETURNS void AS $$ "
                "INSERT INTO uf_log VALUES (x) $$ LANGUAGE sql")
    fresh.sql(void_dml)
    assert _rows(fresh, "SELECT uf_logit(1)") == [(None,)]
    fresh.sql("CREATE OR REPLACE FUNCTION uf_logit(x int) RETURNS int AS $$ "
              "SELECT x * 10 $$ LANGUAGE sql")
    assert _rows(fresh, "SELECT uf_logit(3)") == [(30,)]
    assert _rows(fresh, "SELECT count(*) FROM uf_log") == [(1,)]
    fresh.sql(void_dml)
    assert not fresh.spark.catalog.functionExists("uf_logit")
    assert _rows(fresh, "SELECT uf_logit(5)") == [(None,)]
    assert _rows(fresh, "SELECT v FROM uf_log ORDER BY v") == [(1,), (5,)]


def test_numeric_param_types(engine, spark):
    engine.sql(
        "CREATE FUNCTION pct(part numeric(10,2), whole numeric(10,2)) "
        "RETURNS double precision LANGUAGE plpgsql AS $$ "
        "BEGIN IF whole = 0 THEN RETURN NULL; END IF; "
        "RETURN part / whole * 100; END $$"
    )
    v = spark.sql("SELECT pct(25.00, 50.00) AS v").collect()[0].v
    assert abs(v - 50.0) < 1e-9
    assert spark.sql("SELECT pct(1.0, 0.0) AS v").collect()[0].v is None


def test_setof_return_next(engine):
    """RETURN NEXT accumulation (pl_exec.c exec_stmt_return_next):
    the tuplestore lowers to an array-valued expression the table
    function explodes — straight-line, loop, conditional, and early
    RETURN all compose with the scalar compiler's control flow."""
    engine.sql(
        """
        CREATE FUNCTION rn_loop(n int) RETURNS SETOF int
        LANGUAGE plpgsql AS $$
        DECLARE i int;
        BEGIN
          FOR i IN 1..3 LOOP
            RETURN NEXT i * n;
          END LOOP;
          RETURN;
        END $$
        """
    )
    assert [r[0] for r in engine.sql(
        "SELECT * FROM rn_loop(10)").collect()] == [10, 20, 30]
    engine.sql(
        """
        CREATE FUNCTION rn_early(flag boolean) RETURNS SETOF int
        LANGUAGE plpgsql AS $$
        BEGIN
          RETURN NEXT 1;
          IF flag THEN RETURN; END IF;
          RETURN NEXT 2;
        END $$
        """
    )
    assert [r[0] for r in engine.sql(
        "SELECT * FROM rn_early(true)").collect()] == [1]
    assert [r[0] for r in engine.sql(
        "SELECT * FROM rn_early(false)").collect()] == [1, 2]


def test_setof_return_next_table_and_query(engine):
    """Bare RETURN NEXT over RETURNS TABLE columns (pl_comp.c implicit
    OUT variables) and mixed RETURN NEXT + RETURN QUERY accumulation;
    OUT params without SETOF return exactly one row."""
    engine.sql(
        """
        CREATE FUNCTION rn_tab() RETURNS TABLE(a int, b text)
        LANGUAGE plpgsql AS $$
        BEGIN
          a := 1; b := 'x'; RETURN NEXT;
          a := 2; b := 'y'; RETURN NEXT;
        END $$
        """
    )
    assert [tuple(r) for r in engine.sql(
        "SELECT * FROM rn_tab()").collect()] == [(1, "x"), (2, "y")]
    engine.sql(
        """
        CREATE FUNCTION rn_mix() RETURNS SETOF int
        LANGUAGE plpgsql AS $$
        BEGIN
          RETURN NEXT 0;
          RETURN QUERY SELECT 41 + 1;
        END $$
        """
    )
    assert [r[0] for r in engine.sql(
        "SELECT * FROM rn_mix()").collect()] == [0, 42]
    engine.sql(
        """
        CREATE FUNCTION rn_out(x int, OUT dbl int, OUT trp int)
        LANGUAGE plpgsql AS $$
        BEGIN
          dbl := x * 2; trp := x * 3;
        END $$
        """
    )
    assert [tuple(r) for r in engine.sql(
        "SELECT * FROM rn_out(7)").collect()] == [(14, 21)]


def test_case_statement_searched(engine, spark):
    """Statement-form searched CASE (pl_gram.y stmt_case) desugars to
    the IF arm chain."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION sgn_label(x int) RETURNS text
        LANGUAGE plpgsql AS $$
        DECLARE r text;
        BEGIN
          CASE
            WHEN x > 0 THEN r := 'pos';
            WHEN x < 0 THEN r := 'neg';
            ELSE r := 'zero';
          END CASE;
          RETURN r;
        END
        $$
        """
    )
    rows = spark.sql(
        "SELECT sgn_label(x) AS l FROM VALUES (-5), (0), (7) AS t(x)"
    ).collect()
    assert [r.l for r in rows] == ["neg", "zero", "pos"]


def test_case_statement_simple_form(engine, spark):
    """Simple CASE expr WHEN v1, v2 THEN ... — value lists OR together;
    IF blocks nest inside arms."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION day_kind(d int) RETURNS text
        LANGUAGE plpgsql AS $$
        BEGIN
          CASE d
            WHEN 6, 7 THEN RETURN 'weekend';
            WHEN 1 THEN
              IF d = 1 THEN RETURN 'monday'; END IF;
            ELSE RETURN 'weekday';
          END CASE;
        END
        $$
        """
    )
    got = {
        d: spark.sql(f"SELECT day_kind({d}) AS v").collect()[0].v
        for d in (1, 3, 6, 7)
    }
    assert got == {1: "monday", 3: "weekday", 6: "weekend", 7: "weekend"}


def test_case_statement_not_found_raises(engine, spark):
    """No matching arm and no ELSE => CASE_NOT_FOUND at runtime
    (pl_exec.c exec_stmt_case), not a silent NULL."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION strict_case(x int) RETURNS int
        LANGUAGE plpgsql AS $$
        BEGIN
          CASE x WHEN 1 THEN RETURN 10; END CASE;
        END
        $$
        """
    )
    assert spark.sql("SELECT strict_case(1) AS v").collect()[0].v == 10
    with pytest.raises(Exception, match="case not found"):
        spark.sql("SELECT strict_case(2) AS v").collect()


def test_expression_case_still_works_in_bodies(engine, spark):
    """Expression CASE inside conditions/assignments must not confuse
    the block tracker."""
    engine.sql(
        """
        CREATE OR REPLACE FUNCTION expr_case(x int) RETURNS int
        LANGUAGE plpgsql AS $$
        DECLARE y int;
        BEGIN
          y := CASE WHEN x > 0 THEN x ELSE -x END;
          IF (CASE WHEN y > 10 THEN 1 ELSE 0 END) = 1 THEN
            RETURN y * 2;
          END IF;
          RETURN y;
        END
        $$
        """
    )
    got = {
        x: spark.sql(f"SELECT expr_case({x}) AS v").collect()[0].v
        for x in (-3, 5, 20)
    }
    assert got == {-3: 3, 5: 5, 20: 40}


def test_raise_literal_percent_escape(engine, spark):
    """ADVICE r9: PG's '%%' renders a literal '%' and must not become a
    format slot (pl_exec.c exec_stmt_raise); a lone '%' with args is a
    slot as before."""
    engine.sql(
        """CREATE FUNCTION pct_raise(x int) RETURNS int AS $$
        BEGIN
          IF x > 10 THEN RAISE EXCEPTION 'over 100%% limit: %', x; END IF;
          RETURN x;
        END; $$ LANGUAGE plpgsql"""
    )
    assert engine.sql("SELECT pct_raise(5) AS v").collect()[0].v == 5
    with pytest.raises(Exception, match="over 100% limit: 50"):
        engine.sql("SELECT pct_raise(50)").collect()


def test_for_over_query_record(engine, spark):
    """FOR rec IN SELECT ... LOOP (pl_exec.c exec_stmt_fors) lowered to
    a JVM aggregate() fold over ONE collect_list scalar subquery —
    RECORD fields as struct members, ORDER BY respected via
    array_sort, zero Python per row."""
    engine.sql("DROP TABLE IF EXISTS plq_t")
    engine.sql("CREATE TABLE plq_t (k INT, v INT) USING PARQUET")
    engine.sql("INSERT INTO plq_t VALUES (1, 10), (2, 20), (3, 30)")
    engine.sql(
        """CREATE FUNCTION plq_sum() RETURNS BIGINT AS $$
        DECLARE rec RECORD; total BIGINT := 0;
        BEGIN
          FOR rec IN SELECT k, v FROM plq_t ORDER BY k LOOP
            total := total + rec.v;
          END LOOP;
          RETURN total;
        END; $$ LANGUAGE plpgsql"""
    )
    assert engine.sql("SELECT plq_sum() AS s").collect()[0].s == 60
    # EXIT WHEN + iteration order (ORDER BY v ascending → 10 + 20)
    engine.sql(
        """CREATE FUNCTION plq_first_two() RETURNS BIGINT AS $$
        DECLARE rec RECORD; total BIGINT := 0; n INT := 0;
        BEGIN
          FOR rec IN SELECT v FROM plq_t ORDER BY v LOOP
            EXIT WHEN n >= 2;
            total := total + rec.v;
            n := n + 1;
          END LOOP;
          RETURN total;
        END; $$ LANGUAGE plpgsql"""
    )
    assert engine.sql("SELECT plq_first_two() AS s").collect()[0].s == 30
    engine.sql("DROP TABLE plq_t")


def test_for_over_query_scalar_and_multi_targets(engine, spark):
    """Scalar target lists map positionally onto the query's output
    columns; params correlate through WHERE like SELECT INTO."""
    engine.sql("DROP TABLE IF EXISTS plq_t2")
    engine.sql("CREATE TABLE plq_t2 (k INT, v INT) USING PARQUET")
    engine.sql("INSERT INTO plq_t2 VALUES (1, 10), (2, 20), (3, 30)")
    engine.sql(
        """CREATE FUNCTION plq_above(lo INT) RETURNS BIGINT AS $$
        DECLARE x INT; total BIGINT := 0;
        BEGIN
          FOR x IN SELECT v FROM plq_t2 WHERE v > lo LOOP
            total := total + x;
          END LOOP;
          RETURN total;
        END; $$ LANGUAGE plpgsql"""
    )
    assert engine.sql("SELECT plq_above(15) AS s").collect()[0].s == 50
    engine.sql(
        """CREATE FUNCTION plq_weighted() RETURNS BIGINT AS $$
        DECLARE a INT; b INT; total BIGINT := 0;
        BEGIN
          FOR a, b IN SELECT k, v FROM plq_t2 LOOP
            total := total + a * b;
          END LOOP;
          RETURN total;
        END; $$ LANGUAGE plpgsql"""
    )
    assert engine.sql("SELECT plq_weighted() AS s").collect()[0].s == 140
    engine.sql("DROP TABLE plq_t2")


def test_for_over_query_param_in_body_interpreted(engine, spark):
    """A function param inside the loop BODY is an outer reference
    outside WHERE/HAVING — the expression compiler cannot hold it
    (Spark restriction), so registration falls back to the r17
    driver-side interpreter, which evaluates the body per row at
    top-level call sites (pl_exec.c exec_stmt_fors semantics)."""
    engine.sql("DROP TABLE IF EXISTS plq_t3")
    engine.sql("create table plq_t3 (v int)")
    engine.sql("INSERT INTO plq_t3 VALUES (5), (20), (30)")
    engine.sql(
        """CREATE FUNCTION plq_count_above(th INT) RETURNS INT AS $$
        DECLARE r RECORD; c INT := 0;
        BEGIN
          FOR r IN SELECT v FROM plq_t3 LOOP
            IF r.v > th THEN c := c + 1; END IF;
          END LOOP;
          RETURN c;
        END; $$ LANGUAGE plpgsql"""
    )
    assert engine.sql(
        "SELECT plq_count_above(10)").collect()[0][0] == 2
    engine.sql("DROP TABLE IF EXISTS plq_t3")


def test_composite_param_field_assignment(engine):
    """Composite-typed parameters are record variables (pl_comp.c row
    datums): field assignment and field reads over a param compile
    like a declared record's (r16; regress aggregates.sql
    avg_transfn)."""
    engine.sql(
        "create type r16_avgst as (total bigint, count bigint)")
    engine.sql("""create or replace function r16_transfn(
        state r16_avgst, n int) returns r16_avgst as $$
declare new_state r16_avgst;
begin
    if state is null then
        if n is not null then
            new_state.total := n;
            new_state.count := 1;
            return new_state;
        end if;
        return null;
    elsif n is not null then
        state.total := state.total + n;
        state.count := state.count + 1;
        return state;
    end if;
    return state;
end
$$ language plpgsql""")
    r = engine.sql(
        "SELECT r16_transfn(row(10,2)::r16_avgst, 5) AS s"
    ).collect()[0].s
    assert (r.total, r["count"]) == (15, 3)


def test_set_statement_in_body_is_noop(engine):
    """SET/RESET inside a PL/pgSQL body (guc.c call-scoped GUCs) are
    no-ops in the compiled-expression model (r16)."""
    engine.sql("""create or replace function r16_setty(x int)
returns int as $$
begin
    set enable_seqscan = off;
    return x + 1;
end
$$ language plpgsql""")
    assert engine.sql("SELECT r16_setty(41)").collect()[0][0] == 42


def test_void_plpgsql_dml_procedure(engine):
    """RETURNS VOID PL/pgSQL bodies with DML interpret driver-side
    (engine_proc.py, r16): scalar declares, IF/ELSIF dispatch, WHILE
    loops, and INSERTs with parameter arithmetic."""
    engine.sql("DROP TABLE IF EXISTS r16_sales")
    engine.sql(
        "create table r16_sales (id int, year int, region varchar(20))")
    engine.sql("""CREATE FUNCTION r16_ins(VARCHAR, INTEGER, VARCHAR)
RETURNS VOID AS $$
DECLARE tablename VARCHAR;
BEGIN
   tablename = $1;
   if (tablename = 'r16_sales')
     then INSERT INTO r16_sales VALUES ($2, 2002 + ($2 % 7), $3);
   end if;
END;
$$ LANGUAGE plpgsql""")
    engine.sql("SELECT r16_ins('r16_sales', 15, 'usa')")
    engine.sql("SELECT r16_ins('elsewhere', 3, 'eu')")
    rows = engine.sql(
        "SELECT id, year, region FROM r16_sales").collect()
    assert [(r.id, r.year, r.region) for r in rows] == \
        [(15, 2003, "usa")]
    engine.sql("""CREATE FUNCTION r16_many(n INTEGER) RETURNS VOID AS $$
DECLARE i INTEGER;
BEGIN
   i := 1;
   WHILE i <= n LOOP
      INSERT INTO r16_sales VALUES (100 + i, 2002, 'x');
      i := i + 1;
   END LOOP;
END;
$$ LANGUAGE plpgsql""")
    engine.sql("SELECT r16_many(3)")
    assert engine.sql(
        "SELECT count(*) FROM r16_sales").collect()[0][0] == 4
    engine.sql("DROP TABLE IF EXISTS r16_sales")


def test_void_proc_literal_containing_variable_name(engine):
    """Variable substitution must run on MASKED text (pl_exec.c binds
    PARAM nodes, never rewrites literal text): a string literal that
    happens to contain a local variable's name is left intact."""
    engine.sql("DROP TABLE IF EXISTS r17_log")
    engine.sql("create table r17_log (msg varchar(40), n int)")
    engine.sql("""CREATE FUNCTION r17_logit(lim INTEGER)
RETURNS VOID AS $$
DECLARE count INTEGER := 42;
BEGIN
   IF count > lim THEN
      INSERT INTO r17_log VALUES ('count exceeded lim', count);
   END IF;
END;
$$ LANGUAGE plpgsql""")
    engine.sql("SELECT r17_logit(10)")
    rows = engine.sql("SELECT msg, n FROM r17_log").collect()
    assert [(r.msg, r.n) for r in rows] == [("count exceeded lim", 42)]
    engine.sql("DROP TABLE IF EXISTS r17_log")


def test_void_proc_dynamic_execute_and_diagnostics(engine):
    """exec_stmt_dynexecute: the command is an expression; USING binds
    $n; GET DIAGNOSTICS reads the DML row count; FOUND follows every
    SQL statement."""
    engine.sql("DROP TABLE IF EXISTS r17_dyn")
    engine.sql("create table r17_dyn (k int, v varchar(20))")
    engine.sql("""CREATE FUNCTION r17_dynins(tbl VARCHAR, n INTEGER)
RETURNS VOID AS $$
DECLARE total INTEGER := 0;
BEGIN
   EXECUTE 'INSERT INTO ' || tbl || ' VALUES ($1, $2)'
       USING n, 'row-' || n;
   GET DIAGNOSTICS total = ROW_COUNT;
   IF found AND total = 1 THEN
      INSERT INTO r17_dyn VALUES (0, 'ok');
   END IF;
END;
$$ LANGUAGE plpgsql""")
    engine.sql("SELECT r17_dynins('r17_dyn', 7)")
    rows = sorted((r.k, r.v) for r in
                  engine.sql("SELECT k, v FROM r17_dyn").collect())
    assert rows == [(0, "ok"), (7, "row-7")]
    engine.sql("""CREATE FUNCTION r17_dyncnt(tbl VARCHAR)
RETURNS VOID AS $$
DECLARE c BIGINT;
BEGIN
   EXECUTE 'SELECT count(*) FROM ' || tbl INTO STRICT c;
   INSERT INTO r17_dyn VALUES (CAST(c AS INT), 'count');
END;
$$ LANGUAGE plpgsql""")
    engine.sql("SELECT r17_dyncnt('r17_dyn')")
    assert (2, "count") in [(r.k, r.v) for r in
                            engine.sql("SELECT k, v FROM r17_dyn").collect()]
    engine.sql("DROP TABLE IF EXISTS r17_dyn")


def test_void_proc_cursor_fetch_loop(engine):
    """exec_stmt_open/fetch/close: a bound cursor drained by the
    canonical LOOP / FETCH / EXIT WHEN NOT FOUND pattern."""
    engine.sql("DROP TABLE IF EXISTS r17_src")
    engine.sql("DROP TABLE IF EXISTS r17_dst")
    engine.sql("create table r17_src (a int)")
    engine.sql("create table r17_dst (a int)")
    engine.sql("INSERT INTO r17_src VALUES (1), (2), (3), (4)")
    engine.sql("""CREATE FUNCTION r17_copy_odd()
RETURNS VOID AS $$
DECLARE
   cur CURSOR FOR SELECT a FROM r17_src ORDER BY a;
   x INTEGER;
BEGIN
   OPEN cur;
   LOOP
      FETCH cur INTO x;
      EXIT WHEN NOT found;
      IF x % 2 = 1 THEN
         INSERT INTO r17_dst VALUES (x * 10);
      END IF;
   END LOOP;
   CLOSE cur;
END;
$$ LANGUAGE plpgsql""")
    engine.sql("SELECT r17_copy_odd()")
    assert sorted(r.a for r in
                  engine.sql("SELECT a FROM r17_dst").collect()) == [10, 30]
    engine.sql("DROP TABLE IF EXISTS r17_src")
    engine.sql("DROP TABLE IF EXISTS r17_dst")


def test_void_proc_for_query_and_raise_using(engine):
    """Query FOR loops with DML bodies interpret driver-side; RAISE
    EXCEPTION formats % slots and accepts USING diagnostics."""
    engine.sql("DROP TABLE IF EXISTS r17_fq")
    engine.sql("create table r17_fq (a int, b varchar(10))")
    engine.sql("INSERT INTO r17_fq VALUES (1, 'x'), (2, 'y')")
    engine.sql("""CREATE FUNCTION r17_double()
RETURNS VOID AS $$
DECLARE
BEGIN
   FOR r IN SELECT a, b FROM r17_fq ORDER BY a LOOP
      INSERT INTO r17_fq VALUES (r.a * 100, r.b);
   END LOOP;
END;
$$ LANGUAGE plpgsql""")
    engine.sql("SELECT r17_double()")
    assert sorted(r.a for r in
                  engine.sql("SELECT a FROM r17_fq").collect()) == \
        [1, 2, 100, 200]
    engine.sql("""CREATE FUNCTION r17_boom(n INTEGER)
RETURNS VOID AS $$
BEGIN
   IF n > 3 THEN
      RAISE EXCEPTION 'value % too big', n USING HINT = 'lower it';
   END IF;
   INSERT INTO r17_fq VALUES (n, 'ok');
END;
$$ LANGUAGE plpgsql""")
    import pytest as _pytest
    with _pytest.raises(Exception, match="value 9 too big"):
        engine.sql("SELECT r17_boom(9)")
    engine.sql("DROP TABLE IF EXISTS r17_fq")


def test_create_procedure_and_call(engine):
    """CREATE PROCEDURE / CALL / DROP PROCEDURE (functioncmds.c PG 11
    procedures) lower onto the void-function machinery; plpgsql and
    SQL bodies both route through the interpreter / statement list."""
    engine.sql("DROP TABLE IF EXISTS r17_ptab")
    engine.sql("create table r17_ptab (a int, b varchar(12))")
    engine.sql("""CREATE PROCEDURE r17_ptest1(x text)
LANGUAGE plpgsql
AS $$
BEGIN
   INSERT INTO r17_ptab VALUES (1, x);
   INSERT INTO r17_ptab VALUES (2, x || '!');
END;
$$""")
    engine.sql("CALL r17_ptest1('hello')")
    assert sorted((r.a, r.b) for r in
                  engine.sql("SELECT a, b FROM r17_ptab").collect()) == \
        [(1, "hello"), (2, "hello!")]
    engine.sql("""CREATE OR REPLACE PROCEDURE r17_ptest2()
LANGUAGE SQL
AS $$
INSERT INTO r17_ptab VALUES (3, 'sqlproc');
$$""")
    engine.sql("CALL r17_ptest2()")
    assert engine.sql(
        "SELECT count(*) FROM r17_ptab").collect()[0][0] == 3
    engine.sql("DROP PROCEDURE r17_ptest1(text)")
    engine.sql("DROP TABLE IF EXISTS r17_ptab")


def test_exception_block_interpreted(engine):
    """BEGIN ... EXCEPTION WHEN ... (pl_exec.c exec_stmt_block):
    interpreted bodies catch, bind SQLERRM, and either recover
    (RETURN from the handler) or re-raise; named conditions match the
    error shape, OTHERS matches all."""
    engine.sql("DROP TABLE IF EXISTS r17_elog")
    engine.sql("create table r17_elog (msg varchar(80))")
    engine.sql("""create function r17_guarded(a int, b int)
returns int as $$
begin
    if b = 0 then raise exception 'division by zero'; end if;
    return CAST(a / b AS int);
exception when division_by_zero then
    insert into r17_elog values ('recovered: ' || sqlerrm);
    return -1;
end; $$ language plpgsql""")
    assert engine.sql("select r17_guarded(10, 2)").collect()[0][0] == 5
    assert engine.sql("select r17_guarded(10, 0)").collect()[0][0] == -1
    assert [r.msg for r in
            engine.sql("select msg from r17_elog").collect()] == \
        ["recovered: division by zero"]
    engine.sql("""create function r17_rethrow() returns void as $$
begin
    raise exception 'boom %', 42;
exception when others then
    raise exception 'caught: %', sqlerrm;
end; $$ language plpgsql""")
    import pytest as _p
    with _p.raises(Exception, match="caught: boom 42"):
        engine.sql("select r17_rethrow()")
    engine.sql("DROP TABLE IF EXISTS r17_elog")


def test_for_over_parenthesized_query(engine):
    """pl_gram.y exec_stmt_fors: the FOR query may be fully
    parenthesized — one balanced pair strips before parsing."""
    engine.sql("""CREATE FUNCTION paren_for_count() RETURNS int AS $$
    DECLARE c int := 0; line text;
    BEGIN
      FOR line IN (SELECT unnest(string_to_array('a b c', ' '))) LOOP
        c := c + 1;
      END LOOP;
      RETURN c;
    END; $$ LANGUAGE plpgsql""")
    assert engine.sql(
        "SELECT paren_for_count()").collect()[0][0] == 3


def test_embedded_interpreted_call_substitution(engine):
    """An interpreted function inside a larger statement evaluates
    driver-side when its args are constants (per-occurrence, like
    PG's per-call execution); column-referencing calls stay loud."""
    engine.sql("DROP TABLE IF EXISTS emb_log")
    engine.sql("create table emb_log (v int)")
    engine.sql("CREATE FUNCTION emb_ins(integer) RETURNS int AS $$ "
               "INSERT INTO emb_log VALUES ($1); "
               "SELECT count(*)::int FROM emb_log; $$ LANGUAGE sql")
    assert engine.sql(
        "SELECT emb_ins(5) + 100 AS x").collect()[0][0] == 101
    engine.sql("INSERT INTO emb_log VALUES (emb_ins(6) + 50)")
    r = engine.sql("SELECT count(*) AS n, max(v) AS mx "
                   "FROM emb_log").collect()[0]
    assert (r.n, r.mx) == (3, 52)
    import pytest as _p
    with _p.raises(Exception, match="emb_ins"):
        engine.sql("SELECT emb_ins(v) FROM emb_log").collect()
    engine.sql("DROP TABLE IF EXISTS emb_log")


def test_proconfig_set_overlay(engine):
    """CREATE FUNCTION ... SET guc = value (functioncmds.c
    proconfig): the overlay applies for the call's duration only."""
    engine.sql("create or replace function rguc(text) returns text "
               "as $$ select current_setting($1) $$ language sql "
               "set work_mem = '1MB'")
    r = engine.sql("select rguc('work_mem') AS a, "
                   "current_setting('work_mem') AS b").collect()[0]
    assert r.a == "1MB" and r.b != "1MB"
