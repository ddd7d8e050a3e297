"""PG functions bind on first reference from one table (functions/pg.py
PG_FUNCTIONS / bind_functions): building an Engine defines nothing, a
statement defines exactly what it calls, and a user's function of the
same name is never replaced."""

from __future__ import annotations

import pytest

from warehouse_pg_spark.engine import Engine
from warehouse_pg_spark.functions.pg import PG_FUNCTIONS, bind_functions


def _user_functions(session) -> set[str]:
    return {r.function for r in session.sql("SHOW USER FUNCTIONS").collect()}


@pytest.fixture()
def fresh(spark, tmp_path):
    """(session, engine) on a new SparkSession: no temporary functions."""
    session = spark.newSession()
    eng = Engine(spark=session, warehouse_dir=str(tmp_path))
    assert _user_functions(session) == set()
    return session, eng


def test_engine_construction_defines_no_function(fresh):
    session, eng = fresh
    eng.sql("SELECT 1 AS v").collect()
    assert _user_functions(session) == set()


def test_statement_binds_exactly_what_it_calls(fresh):
    session, eng = fresh
    assert eng.sql("SELECT strpos('abc', 'b') AS v").collect()[0].v == 2
    assert _user_functions(session) == {"strpos"}
    # a body that calls another entry brings that entry along
    row = eng.sql(
        "SELECT time_bucket(INTERVAL '15' MINUTE, "
        "TIMESTAMP '2024-01-01 10:07:00') AS v"
    ).collect()[0]
    assert str(row.v) == "2024-01-01 10:00:00"
    assert _user_functions(session) == {"strpos", "time_bucket", "date_bin"}


def test_user_function_with_a_table_name_takes_precedence(fresh):
    session, eng = fresh
    eng.sql(
        "CREATE FUNCTION quote_ident(s text) RETURNS text "
        "AS $$ SELECT 'user:' || s $$ LANGUAGE sql"
    )
    assert eng.sql("SELECT quote_ident('x') AS v").collect()[0].v == "user:x"
    assert eng.sql("SELECT quote_ident('y') AS v").collect()[0].v == "user:y"
    assert _user_functions(session) == {"quote_ident"}
    # once the user's function is dropped, the PG function answers again
    eng.sql("DROP FUNCTION quote_ident(text)")
    assert eng.sql("SELECT quote_ident('a b') AS v").collect()[0].v == '"a b"'


def test_dialect_emitted_names_bind_through_engine_sql(fresh):
    session, eng = fresh
    # `@@` lowers to pg_ts_match over pg_to_tsvector / pg_to_tsquery
    assert eng.sql(
        "SELECT to_tsvector('english', 'fat cats') "
        "@@ to_tsquery('english', 'cat') AS v"
    ).collect()[0].v is True
    assert "pg_ts_match" in _user_functions(session)
    # a DML assignment: the SET expression is cut from the lowered text
    eng.sql("CREATE TABLE jt AS SELECT 1 AS id, '{\"a\": 1}' AS j")
    eng.sql("UPDATE jt SET j = jsonb_set(j::jsonb, '{a}', '2') WHERE id = 1")
    assert eng.sql("SELECT j FROM jt").collect()[0].j == '{"a": 2}'
    assert "jsonb_set" in _user_functions(session)


def test_function_body_using_dialect_operator_binds_at_create(spark, tmp_path):
    session = spark.newSession()
    eng = Engine(spark=session, warehouse_dir=str(tmp_path))
    assert _user_functions(session) == set()
    # Spark resolves a SQL-function body at CREATE time
    eng.sql(
        "CREATE FUNCTION has_cat(t text) RETURNS boolean AS $$ "
        "SELECT to_tsvector('english', t) @@ to_tsquery('english', 'cat') "
        "$$ LANGUAGE sql"
    )
    assert eng.sql("SELECT has_cat('fat cats') AS v").collect()[0].v is True
    assert eng.sql("SELECT has_cat('dogs') AS v").collect()[0].v is False


def test_every_table_entry_binds_in_a_fresh_session(spark):
    session = spark.newSession()
    builtins = {r.function for r in session.sql("SHOW SYSTEM FUNCTIONS").collect()}
    # the precedence rule reads an existing function as the user's own
    assert not builtins & PG_FUNCTIONS.keys()
    bind_functions(session, " ".join(f"{name}(" for name in PG_FUNCTIONS))
    assert _user_functions(session) == set(PG_FUNCTIONS)
