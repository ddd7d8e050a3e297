"""Engine facade: the user-facing API tying together session, catalog,
dialect shim, function registry, DML, and materialized views.

The WHPG surface (SURVEY §3.1 query lifecycle) collapses to:

    eng = Engine()                       # postmaster + GUCs
    eng.attach_fixtures(sf_dir)          # catalog
    eng.sql("SELECT ...")                # parse/plan/execute (Catalyst)
    eng.create_function(...)             # CREATE FUNCTION (§2.11)
    eng.create_table / insert / update / delete   # DDL + ModifyTable
    eng.create_materialized_view / refresh        # matview.c analogue
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

from warehouse_pg_spark import sql_dialect
from warehouse_pg_spark.catalog import (
    Catalog,
    data_files,
    footer_rows,
    read_parquet_table,
    view_name,
)
from warehouse_pg_spark.dialect.mask import (
    _NAME,
    _PART,
    _close_paren,
    _mask,
    _new_lit,
    _split_commas,
    _unmask,
)
from warehouse_pg_spark.dialect.ordering import _rewrite_dollar_quotes
from warehouse_pg_spark.functions.pg import bind_functions, unbind
from warehouse_pg_spark.operators.dml import (
    ParquetTable,
    When,
    by_column,
    first_per_key,
)
from warehouse_pg_spark.session import SessionConfig, get_spark, local_frame


def _table_key(raw: str) -> str | None:
    """The engine catalog key a table name refers to, by PG's rules
    (scansup.c downcase_truncate_identifier, namespace.c
    RangeVarGetRelid): a quoted part keeps its case, a bare one folds
    to lower case, and `public` is the engine's one schema. A name in
    any other schema is Spark's (None)."""
    *schema, table = (p[1:-1].replace(p[0] * 2, p[0]) if p[0] in '"`' else p.lower()
                      for p in re.findall(_PART, raw))
    return table if schema in ([], ["public"]) else None


# a two-part name that is not a call, e.g. `public.t` in a query
_QUALIFIED_NAME_RE = re.compile(rf'(?<![\w."`]){_PART}\.{_PART}(?![\w"`]|\s*\()')


_DISTRIBUTED_BY_RE = re.compile(
    r"\s+DISTRIBUTED\s+BY\s*\(([^)]*)\)|\s+DISTRIBUTED\s+(RANDOMLY|REPLICATED)",
    re.IGNORECASE,
)
_PARTITION_RANGE_RE = re.compile(
    r"\s+PARTITION\s+BY\s+RANGE\s*\(\s*(\w+)\s*\)\s*"
    r"\(((?:[^()]|\([^()]*\))*)\)",
    re.IGNORECASE,
)

_INSERT_RE = re.compile(rf"^INSERT\s+INTO\s+({_NAME})\s*(.*)$", re.IGNORECASE | re.DOTALL)
_MULTI_SET_RE = re.compile(
    r"\bSET\s*\(([^)]*)\)\s*=\s*\(((?:[^()]|\([^()]*\))*)\)",
    re.IGNORECASE,
)
# the target of an UPDATE or DELETE, with its optional alias
_DML_TARGET_RE = re.compile(
    rf"^(?:UPDATE|DELETE\s+FROM)\s+(?:ONLY\s+)?({_NAME})(?:\s+(?:AS\s+)?(\w+))?$", re.IGNORECASE)
_CREATE_INDEX_RE = re.compile(
    r"^CREATE\s+(?:UNIQUE\s+)?INDEX\s+(?:CONCURRENTLY\s+)?(?:IF\s+NOT\s+EXISTS\s+)?"
    rf"(\w+)?\s*ON\s+({_NAME})\s*(?:USING\s+\w+\s*)?\(([^)]*)\)\s*$",
    re.IGNORECASE,
)
_TXN_RE = re.compile(
    r"^(BEGIN(?:\s+(?:WORK|TRANSACTION))?|START\s+TRANSACTION|COMMIT(?:\s+WORK)?|END(?:\s+TRANSACTION)?)\s*$",
    re.IGNORECASE,
)
# privilege kinds GRANT ALL expands to (parsenodes.h ACL_ALL_RIGHTS)
_ALL_PRIVS = ("SELECT", "INSERT", "UPDATE", "DELETE", "TRUNCATE",
              "REFERENCES", "TRIGGER", "USAGE", "EXECUTE", "CREATE",
              "CONNECT", "TEMPORARY")
_COPY_TO_RE = re.compile(
    rf"^COPY\s+(?:\((.+)\)|({_NAME}))\s+TO\s+'([^']+)'"
    r"\s*(?:WITH\s*)?(?:\(([^)]*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_FROM_RE = re.compile(
    rf"^COPY\s+({_NAME})\s+FROM\s+'([^']+)'"
    r"\s*(?:WITH\s*)?(?:\(([^)]*)\))?\s*$",
    re.IGNORECASE,
)
# CREATE TABLE as the dialect lowers it, its GP tails cut: modifiers,
# IF NOT EXISTS and the name, then `AS [(]SELECT|WITH|VALUES …` or the
# column list the dialect gives `USING PARQUET`
_CREATE_TABLE_RE = re.compile(
    r"^CREATE\s+(?:(?:GLOBAL|LOCAL)\s+)?(?:(?:TEMP|TEMPORARY|UNLOGGED)\s+)?"
    rf"TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_NAME})\s*"
    r"(?:AS\s+(\(*\s*(?:SELECT|WITH|VALUES)\b.*)|\((.*)\)\s*USING\s+PARQUET)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TABLE_RE = re.compile(
    rf"^DROP\s+TABLE\s+(IF\s+EXISTS\s+)?({_NAME}(?:\s*,\s*{_NAME})*)"
    r"(?:\s+(?:CASCADE|RESTRICT))?$",
    re.IGNORECASE,
)
_CREATE_VIEW_RE = re.compile(
    rf"^CREATE\s+(OR\s+REPLACE\s+)?(?:(?:TEMP|TEMPORARY)\s+)?VIEW\s+({_NAME})(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_COLUMN_RE = re.compile(
    rf"^ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?:ONLY\s+)?({_NAME})\s+"
    r"ADD\s+(?:COLUMN\s+)?(IF\s+NOT\s+EXISTS\s+)?"
    r"(?!(?:CONSTRAINT|PRIMARY|UNIQUE|CHECK|FOREIGN|EXCLUDE)\b)(\w+\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)
_SELECT_INTO_RE = re.compile(
    r"^(SELECT\b.*?)\sINTO\s+(?:(?:TEMPORARY|TEMP|UNLOGGED)\s+)?"
    rf"(?:TABLE\s+)?({_NAME})\s*(FROM\s.*)?$", re.IGNORECASE | re.DOTALL
)
_ON_CONFLICT_RE = re.compile(
    r"\sON\s+CONFLICT\s*\(([^)]*)\)\s*DO\s+(NOTHING|UPDATE)\s*(?:SET\s+(.*))?$",
    re.IGNORECASE | re.DOTALL,
)
_EXPLAIN_ANALYZE_RE = re.compile(
    r"^EXPLAIN\s+ANALYZE\s+(.*)$", re.IGNORECASE | re.DOTALL
)
_PREPARE_RE = re.compile(
    r"^PREPARE\s+(\w+)\s*(?:\(([^)]*)\))?\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_STMT_RE = re.compile(
    r"^EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*$", re.IGNORECASE | re.DOTALL
)
_DEALLOCATE_RE = re.compile(
    r"^DEALLOCATE\s+(?:PREPARE\s+)?(\w+|ALL)\s*$", re.IGNORECASE
)
# well-known PG GUC defaults (guc_tables.c) answered by SHOW /
from warehouse_pg_spark.gucs import _GUC_DEFAULTS  # noqa: E402

_RESET_RE = re.compile(r"^RESET\s+(ALL|[\w.]+(?:\s+\w+)?)\s*$", re.IGNORECASE)
_CREATE_MV_RE = re.compile(
    rf"^CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?({_NAME})\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV_RE = re.compile(
    rf"^REFRESH\s+MATERIALIZED\s+VIEW\s+(?:CONCURRENTLY\s+)?({_NAME})\s*$", re.IGNORECASE)
_DROP_MV_RE = re.compile(
    rf"^DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?({_NAME})\s*$", re.IGNORECASE)
_CLUSTER_RE = re.compile(
    rf"^CLUSTER(?:\s+VERBOSE)?(?:\s+({_NAME})(?:\s+USING\s+\w+)?)?\s*$", re.IGNORECASE)
_DISCARD_RE = re.compile(r"^DISCARD\s+(ALL|PLANS|SEQUENCES|TEMP|TEMPORARY)\s*$", re.IGNORECASE)
_VACUUM_RE = re.compile(
    rf"^VACUUM(?:\s+(FULL|FREEZE|ANALYZE|VERBOSE))*(?:\s+({_NAME}))?\s*$", re.IGNORECASE)
_ANALYZE_RE = re.compile(
    rf"^ANALYZE(?:\s+VERBOSE)?(?:\s+({_NAME})(?:\s*\(([^)]*)\))?)?\s*$", re.IGNORECASE)
_CREATE_FUNC_HEAD_RE = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+"
    r'([\w.]+|"[^"]+"|[\w.]+\."[^"]+")\s*\(',
    re.IGNORECASE,
)
_RETURNS_CLAUSE_RE = re.compile(
    r"^\s*RETURNS\s+((?:SETOF\s+)?\w+(?:\s+precision|\s+varying)?"
    r"(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\s*\[\s*\])*)\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNC_RE = re.compile(
    r"^DROP\s+(FUNCTION|PROCEDURE|AGGREGATE)\s+(IF\s+EXISTS\s+)?(.+?)"
    r"(?:\s+(?:CASCADE|RESTRICT))?$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNC_ITEM_RE = re.compile(rf"^\s*({_NAME})\s*")
_CALL_RE = re.compile(
    r"^CALL\s+([\w.]+)\s*\((.*)\)$", re.IGNORECASE | re.DOTALL
)


def _drop_func_names(items: str) -> list[str] | None:
    """The names of DROP FUNCTION's list `a(int), b, ...`: each item is
    a name and at most one balanced parameter list, or the list is
    None."""
    names = []
    for item in _split_commas(items):
        m = _DROP_FUNC_ITEM_RE.match(item)
        rest = item[m.end():].rstrip() if m else "("
        if rest and not (rest[0] == "(" and _close_paren(rest, 1) == len(rest)):
            return None
        names.append(m.group(1))
    return names


def _lower_procedure_ddl(text: str) -> str:
    """CREATE PROCEDURE (functioncmds.c, PG 11 procedures) lowers
    onto the function machinery: a procedure is a RETURNS VOID
    function here (transaction control inside bodies stays out of
    scope — such bodies reject downstream, loudly)."""
    m = re.match(
        r"(?is)^(CREATE\s+(?:OR\s+REPLACE\s+)?)PROCEDURE\b(.*)$",
        text)
    if m:
        rest = m.group(2)
        pm = re.match(r'(?s)^(\s*[\w."]+\s*)\(', rest)
        i = _close_paren(rest, pm.end()) if pm else -1
        if i > 0:
            return (f"{m.group(1)}FUNCTION{rest[:i]} RETURNS VOID"
                    f"{rest[i:]}")
    return text

_SET_GUC_RE = re.compile(
    r"^SET\s+(?:SESSION\s+|LOCAL\s+)?([\w.]+)\s*(?:=|\bTO\b)\s*(.+)$",
    re.IGNORECASE,
)
_SHOW_GUC_RE = re.compile(
    r"^SHOW\s+(TIME\s+ZONE|[\w.]+|ALL)\s*$", re.IGNORECASE
)
_SET_TIME_ZONE_RE = re.compile(
    r"^SET\s+(?:SESSION\s+|LOCAL\s+)?TIME\s+ZONE\s+(.+)$", re.IGNORECASE
)
_TRUNCATE_RE = re.compile(
    rf"^TRUNCATE\s+(?:TABLE\s+)?(?:ONLY\s+)?({_NAME}(?:\s*,\s*{_NAME})*)"
    r"(?:\s+(?:RESTART|CONTINUE)\s+IDENTITY)?(?:\s+(?:CASCADE|RESTRICT))?\s*$",
    re.IGNORECASE,
)


def _toplevel_from(text: str) -> bool:
    """True when a statement has a FROM clause at paren depth 0 —
    `extract(epoch FROM x)` / substring(... FROM ...) sit inside
    parens and a literal's FROM sits inside quotes, so neither
    counts."""
    depth, in_q = 0, False
    for m in re.finditer(r"'|\(|\)|\bFROM\b", text, re.IGNORECASE):
        t = m.group(0)
        if t == "'":
            in_q = not in_q
        elif in_q:
            continue
        elif t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            return True
    return False
_OWNER_TO_RE = re.compile(
    rf"^ALTER\s+TABLE\s+{_NAME}\s+OWNER\s+TO\b", re.IGNORECASE)
_LEADING_COMMENTS_RE = re.compile(r"(?:\s+|--[^\n]*|/\*.*?\*/)*", re.DOTALL)
# leading keyword, then the object keyword past the CREATE modifiers
_KIND_RE = re.compile(
    r"\s*(\w+)(?:\s+(?:(?:OR\s+REPLACE|GLOBAL|LOCAL|TEMP|TEMPORARY"
    r"|UNLOGGED|UNIQUE|ORDERED)\s+)*(\w+))?",
    re.IGNORECASE,
)


def _lex(text: str) -> tuple[str, str, list[str]]:
    """Lex a statement once with the dialect's own lexer: its text
    without leading comments or the trailing `;`, and that text with
    dollar quotes turned into literals, literals masked and comments
    dropped (plus the masked literals)."""
    body = text[_LEADING_COMMENTS_RE.match(text).end():]
    body = body.rstrip().rstrip(";").rstrip()
    masked, lits = _mask(_rewrite_dollar_quotes(body))
    return body, masked, lits


def _kind(masked: str) -> str:
    """A statement's kind, read off its masked text: the leading
    keyword, two words for CREATE/DROP/ALTER <object> and EXPLAIN
    ANALYZE, and SELECT INTO for a SELECT that writes a table."""
    m = _KIND_RE.match(masked)
    if m is None:
        return ""
    word = m.group(1).upper()
    if word in ("CREATE", "DROP", "ALTER", "EXPLAIN") and m.group(2):
        return f"{word} {m.group(2).upper()}"
    if word == "SELECT" and re.search(r"(?i)\bINTO\b", masked):
        return "SELECT INTO"
    return word


# The one statement router (postgres.c sends each parsed statement to
# ProcessUtility or to the planner): kind -> (class, Engine method).
# "utility" methods take the statement text, run only the sub-texts
# they execute through the dialect, and hand a form they do not parse
# to Spark as written. "dml" kinds run the expression passes and the
# dialect rewrite like a query, then their method through _maybe_dml.
# A kind not listed is a query. A new statement form is one entry.
_ROUTES: dict[str, tuple[str, str]] = {
    "SET": ("utility", "_set_stmt"),
    "RESET": ("utility", "_reset_stmt"),
    "SHOW": ("utility", "_show_stmt"),
    "DISCARD": ("utility", "_discard_stmt"),
    "PREPARE": ("utility", "_prepare_stmt"),
    "EXECUTE": ("utility", "_execute_stmt"),
    "DEALLOCATE": ("utility", "_deallocate_stmt"),
    "VACUUM": ("utility", "_vacuum_stmt"),
    "ANALYZE": ("utility", "_analyze_stmt"),
    "CLUSTER": ("utility", "_cluster_stmt"),
    "REFRESH": ("utility", "_refresh_matview"),
    "EXPLAIN ANALYZE": ("utility", "_explain_analyze"),
    "CALL": ("utility", "_call_stmt"),
    **dict.fromkeys(("BEGIN", "START", "COMMIT", "END"),
                    ("utility", "_txn_stmt")),
    "ROLLBACK": ("utility", "_rollback_stmt"),
    **dict.fromkeys(("GRANT", "REVOKE"), ("utility", "_acl_stmt")),
    # metadata with no second user, owner or physical index behind it
    **dict.fromkeys(("COMMENT", "REINDEX", "REASSIGN", "DROP OWNED",
                     "DROP INDEX"), ("utility", "_noop_stmt")),
    "CREATE INDEX": ("utility", "_create_index"),
    "DROP TABLE": ("utility", "_drop_table_stmt"),
    **dict.fromkeys(("CREATE SEQUENCE", "ALTER SEQUENCE", "DROP SEQUENCE"),
                    ("utility", "_sequence_ddl")),
    "CREATE FUNCTION": ("utility", "_create_function"),
    "CREATE PROCEDURE": ("utility", "_create_procedure"),
    **dict.fromkeys(("DROP FUNCTION", "DROP PROCEDURE", "DROP AGGREGATE"),
                    ("utility", "_drop_function")),
    "CREATE AGGREGATE": ("utility", "_create_aggregate"),
    **{f"{verb} {obj}": ("utility", "_type_ddl")
       for verb in ("CREATE", "ALTER", "DROP") for obj in ("TYPE", "DOMAIN")},
    **{f"{verb} {obj}": ("utility", "_role_ddl")
       for verb in ("CREATE", "ALTER", "DROP")
       for obj in ("ROLE", "USER", "GROUP")},
    "CREATE MATERIALIZED": ("utility", "_create_matview"),
    "DROP MATERIALIZED": ("utility", "_drop_matview"),
    "INSERT": ("dml", "_insert_stmt"),
    "UPDATE": ("dml", "_update_stmt"),
    "DELETE": ("dml", "_delete_stmt"),
    "MERGE": ("dml", "_merge_stmt"),
    "COPY": ("dml", "_copy_stmt"),
    "TRUNCATE": ("dml", "_truncate_stmt"),
    "CREATE TABLE": ("dml", "_create_table_stmt"),
    "CREATE VIEW": ("dml", "_create_view_stmt"),
    "ALTER TABLE": ("dml", "_alter_table"),
    "SELECT INTO": ("dml", "_select_into_stmt"),
}


# Statement kinds that drop the session's cached registry plans
# (queries/registry.py): a function, view, type or setting that an
# analyzed plan already resolved may change.
_PLAN_INVALIDATING = ("CREATE", "DROP", "ALTER", "SET", "RESET", "DISCARD")


def _split_assignments(s: str) -> list[tuple[str, str]]:
    """`a = e1, b = e2` → [(a, e1), (b, e2)]."""
    out = []
    for p in _split_commas(s):
        col, _, expr = p.partition("=")
        out.append((col.strip(), expr.strip()))
    return out


def _clauses(text: str, words: tuple[str, ...]) -> list[str | None]:
    """Cut a statement at its clause keywords: the first occurrence of
    each of `words`, in that order, at paren depth 0 of the masked text
    (a keyword inside a subquery, literal or comment never cuts).
    Returns the text before the first clause, then each clause's text
    (None for a clause the statement lacks)."""
    masked, lits = _mask(text)
    cuts, depth, last = [], 0, -1
    for m in re.finditer(rf"[()]|\b({'|'.join(words)})\b", masked, re.IGNORECASE):
        if m.group(1) is None:
            depth += 1 if m.group(0) == "(" else -1
        elif depth == 0 and words.index(m.group(1).upper()) > last:
            last = words.index(m.group(1).upper())
            cuts.append((last, m.start(), m.end()))
    parts: list[str | None] = [None] * len(words)
    stops = [start for _, start, _ in cuts[1:]] + [len(masked)]
    for (i, _, end), stop in zip(cuts, stops):
        parts[i] = _unmask(masked[end:stop], lits).strip()
    head = masked[: cuts[0][1]] if cuts else masked
    return [_unmask(head, lits).strip(), *parts]


@dataclass
class MaterializedView:
    name: str
    sql: str
    path: str


from warehouse_pg_spark.engine_catalog import (  # noqa: E402
    _CATALOG_VIEWS,
    CatalogViewsMixin,
)
from warehouse_pg_spark.engine_fn_ddl import (  # noqa: E402
    FunctionDDLMixin,
    UserFunction,
    _FN_NAME,
    _fn_key,
)
from warehouse_pg_spark.engine_maint import MaintenanceMixin
from warehouse_pg_spark.engine_proc import ProcedureMixin
from warehouse_pg_spark.engine_seq import SequenceMixin  # noqa: E402


class Engine(FunctionDDLMixin, MaintenanceMixin, SequenceMixin,
             ProcedureMixin, CatalogViewsMixin):
    """PySpark-native warehouse engine with a PG-flavored front-end."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        config: SessionConfig | None = None,
        warehouse_dir: str | None = None,
    ):
        self.spark = spark or get_spark(config)
        self.catalog = Catalog(self.spark)
        self.warehouse_dir = warehouse_dir or os.path.join(
            os.getcwd(), "spark-warehouse-data"
        )
        self._matviews: dict[str, MaterializedView] = {}
        # sequence name -> {"next": next value to hand out, "start": origin}.
        # Like GP, sequence state lives on the coordinator (reference
        # commands/sequence.c; GP routes segment nextval calls to the
        # master's seqserver) — here: driver-side, since executors never
        # call nextval directly (bulk assignment goes through
        # assign_sequence_ids' block allocation instead).
        self._sequences: dict[str, dict[str, int]] = {}
        # table -> list of column tuples from advisory CREATE INDEX
        # statements (candidate Z-order / sort keys).
        self._index_hints: dict[str, list[tuple[str, ...]]] = {}
        # PREPARE name AS <body with $n params> (commands/prepare.c) —
        # (raw body, declared param count or None); EXECUTE substitutes
        # and re-enters sql().
        self._prepared: dict[str, tuple[str, int | None]] = {}
        # session GUCs (SET/SHOW, guc.c): stored verbatim; timezone maps
        # onto the live Spark session conf.
        # a few well-known PG GUCs pre-seeded so current_setting()/SHOW
        # answer for them (guc_tables.c defaults); everything else is
        # loud until SET, matching PG's unrecognized-parameter error.
        # RESET [ALL] restores these defaults, never an empty table.
        self._gucs: dict[str, str] = dict(_GUC_DEFAULTS)
        # ACL ledger (aclchk.c): GRANT/REVOKE record (who, object,
        # priv) revocations; has_*_privilege() folds from it.
        # All-granted at start — the session user owns everything.
        self._acl_revoked: set[tuple[str, str, str]] = set()
        # role bookkeeping (commands/user.c): names for the ACL
        # ledger / SET ROLE, with PG's existence errors
        self._roles: set[str] = set()
        # snapshot for SET TIME ZONE DEFAULT/LOCAL (gram.y zone_value
        # resets to the session's startup default)
        self._default_timezone = self.spark.conf.get(
            "spark.sql.session.timeZone"
        )
        # CREATE DOMAIN / composite CREATE TYPE / CREATE TYPE AS ENUM
        # (commands/typecmds.c) — session registry + plan-time rewriter
        from warehouse_pg_spark.user_types import UserTypes

        self._user_types = UserTypes()
        # user functions (pg_proc): folded name -> the one record that
        # CREATE writes, DROP removes and every call site reads
        self._functions: dict[str, UserFunction] = {}

    # ---------------------------------------------------------------- query
    def sql(self, text: str, **named_args) -> DataFrame:
        """Execute one PG-dialect statement: lex it once, read its kind
        off the masked text, and run the one handler `_ROUTES` names
        for that kind (a kind it does not list runs as a query)."""
        body, masked, lits = _lex(text)
        kind = _kind(masked)
        if kind.partition(" ")[0] in _PLAN_INVALIDATING:
            from warehouse_pg_spark.queries.registry import clear_plan_cache

            clear_plan_cache(self.spark)
        route, handler = _ROUTES.get(kind, ("query", ""))
        if route == "utility":
            return getattr(self, handler)(body)
        return self._query(kind, body, masked, lits, named_args)

    def _query(self, kind: str, body: str, masked: str, lits: list[str],
               named_args: dict | None = None) -> DataFrame:
        """The plannable path: the user-function pass and the name-gated
        passes over the statement's masked text (so a name inside a
        literal or comment never fires one), the user-type casts, the
        dialect rewrite, then the DML handler of a dml kind, else
        Spark."""
        if kind == "SELECT":
            vp = self._maybe_call_void_proc(masked, lits)
            if vp is not None:
                return vp
        text = body
        if kind == "CREATE TABLE":
            self._maybe_register_rowtype(text)
            text = self._lower_typed_table(text)
            if text != body:
                _, masked, lits = _lex(text)
        expanded = self._lower_srf_select(
            self._expand_user_calls(kind, masked, lits), lits)
        if expanded != masked:
            text = _unmask(expanded, lits)
        typed = self._user_types.rewrite(text)
        if typed != text:
            text = typed
            _, expanded, lits = _lex(text)
        named = expanded
        for name_pass in (
            self._substitute_sequence_calls,
            self._substitute_setting_calls,
            self._substitute_privilege_calls,
            self._resolve_public_names,
            self._maybe_pg_catalog,
        ):
            named = name_pass(named, lits)
        if named != expanded:
            text = _unmask(named, lits)
        lowered = self._rewrite(text)
        if _ROUTES.get(kind, ("query",))[0] == "dml":
            dml = self._maybe_dml(lowered, kind)
            if dml is not None:
                return dml
        from warehouse_pg_spark.functions.interval_out import present_intervals

        if named_args:
            return present_intervals(self.spark.sql(lowered, args=named_args))
        # Calendar/YM interval result columns render as PG interval text
        # (interval_out) — PySpark cannot collect() those types at all
        return present_intervals(self._sql_autoschema(lowered))

    def _spark_stmt(self, text: str) -> DataFrame:
        """A statement form no handler parses goes to Spark as written
        (Spark's own SET/SHOW/ANALYZE TABLE/..., or Spark's error)."""
        return self.spark.sql(self._rewrite(text))

    def _rewrite(self, text: str) -> str:
        """Dialect-rewrite `text` and bind the PG functions it calls.
        Every statement-derived text Spark parses comes from here: the
        lowered statement (and the DML fragments cut from it),
        CREATE FUNCTION bodies, column defaults, EXPLAIN and COPY
        queries."""
        lowered = sql_dialect.rewrite(text)
        bind_functions(self.spark, lowered)
        return lowered

    def _sql_autoschema(self, lowered: str) -> DataFrame:
        """spark.sql with on-demand namespace creation: PG contexts
        CREATE SCHEMA in sessions the replay doesn't see; a Spark
        namespace is a directory, so creating it at the first
        qualified CREATE is the catalog-equivalent of that DDL."""
        try:
            return self.spark.sql(lowered)
        except Exception as e:  # noqa: BLE001
            sm = re.search(
                r"The schema `spark_catalog`\.`(\w+)` cannot be found",
                str(e)) if re.match(r"(?is)\s*CREATE\s", lowered) else None
            if sm is None:
                raise
            self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {sm.group(1)}")
            return self.spark.sql(lowered)

    def _resolve_public_names(self, masked: str, lits: list[str]) -> str:
        """A relation named in `public` is the engine's (`_table_key`):
        `public.t`, `"public"."t"` and `public."QFoo"` read the table
        under its catalog key (namespace.c RangeVarGetRelid), where
        Spark would look for a schema `public`."""
        if "public" not in masked.lower():
            return masked

        def resolve(m: re.Match) -> str:
            key = _table_key(m.group(0))
            return m.group(0) if key is None else view_name(key)

        return _QUALIFIED_NAME_RE.sub(resolve, masked)

    def _lower_srf_select(self, masked: str, lits: list[str]) -> str:
        """PG SRF-in-target-list over a set-returning user function:
        `SELECT f(args) [AS alias]` (sole target, no FROM; masked text)
        becomes `SELECT col AS alias FROM f(args)` — the same
        ProjectSet→FunctionScan flattening the planner does
        (src/backend/optimizer/util/clauses.c). Only the sole-target
        FROM-less shape lowers; anything else passes through to
        Spark's native TVF-in-FROM support."""
        if not self._functions:
            return masked

        def setof(name: str) -> UserFunction | None:
            rec = self._functions.get(_fn_key(name))
            return rec if rec is not None and rec.kind == "setof" else None

        # `SELECT (f(args)).*` (parse_target.c ExpandRowReference over
        # a composite-returning call): every result column expands
        m = re.match(
            rf"(?is)^\s*SELECT\s+\(\s*{_FN_NAME}\s*\((.*)\)\s*\)\s*\.\s*\*\s*$",
            masked,
        )
        rec = setof(m.group(1)) if m else None
        if rec and m.group(2).count("(") == m.group(2).count(")"):
            return f"SELECT * FROM {rec.spark_name}({m.group(2)})"
        m = re.match(
            rf"(?is)^\s*SELECT\s+{_FN_NAME}\s*\((.*)\)\s*(?:AS\s+(\w+))?\s*$",
            masked,
        )
        rec = setof(m.group(1)) if m else None
        # args must be balanced (the .* above is greedy past nesting)
        if rec is None or m.group(2).count("(") != m.group(2).count(")"):
            return masked
        cols = rec.columns
        if len(cols) == 1:
            out = f"{cols[0]} AS {m.group(3) or cols[0]}"
        else:
            # composite-valued SRF call in a target list yields one
            # record column (PG prints a row value)
            inner = ", ".join(f"{_new_lit(c, lits)}, {c}" for c in cols)
            out = f"named_struct({inner}) AS {m.group(3) or rec.spark_name}"
        return f"SELECT {out} FROM {rec.spark_name}({m.group(2)})"

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def explain(self, text: str, mode: str = "formatted") -> str:
        """EXPLAIN (commands/explain.c; psql's main introspection UX):
        return the physical plan for a PG-dialect SQL string without
        executing it. mode: simple|extended|codegen|cost|formatted."""
        df = self.spark.sql(self._rewrite(text))
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )

    def _explain_analyze(self, text: str) -> DataFrame:
        """PG EXPLAIN ANALYZE (explain.c ExplainOnePlan): execute the
        statement, then return the plan annotated with actual row count
        and wall time, one text row per line (PG's `QUERY PLAN` result
        shape). Uses the AQE-final plan — the distributed analogue of
        PG's instrumented actual plan."""
        import time

        df = self.sql(_EXPLAIN_ANALYZE_RE.match(text).group(1))
        t0 = time.perf_counter()
        n_rows = df.count()
        elapsed_ms = (time.perf_counter() - t0) * 1000.0
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        lines = plan.rstrip().splitlines() + [
            f"Actual Rows: {n_rows}",
            f"Execution Time: {elapsed_ms:.3f} ms",
        ]
        return local_frame(
            self.spark, [(ln,) for ln in lines], "`QUERY PLAN` string"
        )

    # --------------------------------------------------- CREATE FUNCTION
    def _drop_function(self, s: str) -> DataFrame:
        """DROP FUNCTION | PROCEDURE | AGGREGATE [IF EXISTS] a[(types)][,
        b ...] (functioncmds.c RemoveFunctionById): each function's one
        record goes, with the Spark function it registered. A name with
        no record drops a Spark temporary function of that name; with
        neither, it raises unless IF EXISTS."""
        m = _DROP_FUNC_RE.match(s)
        names = _drop_func_names(m.group(3)) if m else None
        if not names:
            return self._spark_stmt(s)
        what = m.group(1).lower()
        for key in map(_fn_key, names):
            unbind(self.spark, key)  # a PG function of the name answers again
            rec = self._functions.get(key)
            if rec is None:
                try:  # a Spark temporary function with no record
                    if what != "aggregate":
                        self.spark.sql(f"DROP TEMPORARY FUNCTION {key}")
                        continue
                except Exception:  # noqa: BLE001 — no such function, or a builtin
                    pass
                if m.group(2):
                    continue
                raise ValueError(f'{what} "{key}" does not exist')
            if (rec.kind == "aggregate") != (what == "aggregate"):
                raise ValueError(f'function "{key}" is '
                                 f'{"not " if what == "aggregate" else ""}an aggregate')
            del self._functions[key]
            if rec.spark_name:
                self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {rec.spark_name}")
        return self._tag(0)

    def _create_procedure(self, s: str) -> DataFrame:
        return self._create_function(_lower_procedure_ddl(s))

    def _call_stmt(self, s: str) -> DataFrame:
        """CALL proc(args) (functioncmds.c ExecuteCallStmt): the
        void-function invocation path runs the stored body."""
        m = _CALL_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        return self.sql(f"SELECT {m.group(1)}({m.group(2)})")

    def _create_function(self, s: str) -> DataFrame:
        """SQL-text CREATE FUNCTION (commands/functioncmds.c;
        pl/plpgsql for LANGUAGE plpgsql bodies). Runs BEFORE the dialect
        rewrite so dollar-quoted bodies survive intact; the compiled
        expression is then itself dialect-rewritten, so PG-isms inside
        the body (::casts, ||, SIMILAR TO, ...) lower normally.

        Both LANGUAGE sql and LANGUAGE plpgsql register a Spark
        TEMPORARY SQL FUNCTION whose body is ONE Catalyst expression —
        calls inline into whole-stage codegen with no Python boundary.
        plpgsql bodies are compiled (plpgsql.py), not interpreted:
        assignments become substitutions, IF becomes CASE, constant
        FOR loops unroll. STRICT / RETURNS NULL ON NULL INPUT wraps the
        expression in a null-gate, matching fmgr's strict-call
        short-circuit. The catalog relations the body names are built
        first: Spark analyzes a SQL-function body at CREATE time."""
        m = _CREATE_FUNC_HEAD_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        from warehouse_pg_spark.plpgsql import compile_plpgsql

        map_decl_type = self._decl_type
        name = m.group(1).split(".")[-1].strip('"')
        # arg list ends at the MATCHING close paren (types like
        # numeric(10,2) nest)
        i = _close_paren(s, m.end())
        if i < 0:
            raise ValueError("CREATE FUNCTION: unbalanced parameter list")
        rawargs = s[m.end(): i - 1]
        rm = _RETURNS_CLAUSE_RE.match(s[i:])
        if rm is None:
            # OUT-parameter functions may omit RETURNS — PG infers a
            # record of the OUT columns (functioncmds.c)
            if not re.search(
                r"(?i)(?:^|,)\s*(?:(?:IN)?OUT\s+\w+"
                r"|\w+\s+(?:IN)?OUT\s+\w+)", rawargs
            ):
                raise NotImplementedError(
                    "CREATE FUNCTION requires an explicit RETURNS type"
                )
            rettype, tail = "record", s[i:]
        else:
            rettype, tail = rm.group(1).strip(), rm.group(2)
        if rettype.lower() in ("trigger", "event_trigger"):
            # trigger functions (trigger.c) are never directly
            # callable: the record lists and drops, and registers no
            # Spark function (the engine runs no triggers; README)
            self._define(name.lower(), UserFunction("trigger"))
            return self._tag(0)
        if re.search(
            r"(?i)\bany(?:array|element|nonarray|enum|range"
            r"|compatible(?:array|nonarray)?)\b",
            rawargs + " " + rettype,
        ):
            return self._register_polymorphic(
                name, rawargs, rettype, tail
            )
        # RETURNS SETOF <type> / RETURNS TABLE (cols): set-returning
        # SQL functions (functioncmds.c; PG treats RETURNS TABLE as
        # SETOF record with OUT columns). Spark-first lowering: a
        # native Spark SQL *table function* (CREATE TEMPORARY FUNCTION
        # ... RETURNS TABLE ... RETURN <query>) — calls in FROM plan
        # as an inline subquery, fully Catalyst-optimized.
        setof_m = re.match(r"(?is)^SETOF\s+(.+)$", rettype)
        table_cols_raw: str | None = None
        if rettype.upper() == "TABLE":
            tm = re.match(r"(?s)\s*\(", tail)
            j = _close_paren(tail, tm.end()) if tm else -1
            if j > 0:
                table_cols_raw = tail[tm.end(): j - 1]
                tail = tail[j:]
        params: list[tuple[str, str]] = []
        out_params: list[tuple[str, str]] = []
        # multiword type spellings that make a name-less parameter
        # (functioncmds.c: parameter names are optional — $n refers)
        _UNNAMED_MULTI = {
            "double precision", "character varying", "time zone",
            "timestamp with time zone", "timestamp without time zone",
            "time with time zone", "time without time zone",
        }
        defaults: dict[str, str] = {}
        variadic_at: int | None = None
        for i, a in enumerate(
            (x.strip() for x in _split_commas(rawargs)),
            start=1,
        ):
            dm = re.match(
                r"(?is)^(.*?)\s+(?:DEFAULT\s+|=\s*)(.+)$", a
            )
            default_expr: str | None = None
            if dm and not re.search(r"(?i)\bDEFAULT\b|=",
                                    dm.group(1)):
                # `b int DEFAULT 1` / `b int = 2` (functioncmds.c):
                # Spark's SQL UDFs take DEFAULT natively. Keyed by the
                # RESOLVED parameter name after the loop body runs —
                # `IN b int DEFAULT 1` and unnamed `int DEFAULT 1`
                # both carry their default.
                a = dm.group(1).strip()
                default_expr = self._rewrite(dm.group(2).strip())
            toks = a.split()
            # gram.y func_arg also allows param_name BEFORE the mode
            # (`a inout int`, `a variadic int[]`): normalize to
            # mode-first so one path handles both spellings
            if len(toks) >= 3 and toks[0].upper() not in (
                "IN", "OUT", "INOUT", "VARIADIC"
            ) and toks[1].upper() in ("IN", "OUT", "INOUT", "VARIADIC"):
                toks = [toks[1], toks[0]] + toks[2:]
            if toks[0].upper() in ("IN", "OUT", "INOUT", "VARIADIC"):
                if toks[0].upper() == "OUT":
                    # OUT parameters ARE the result shape
                    # (functioncmds.c: they define a record return) —
                    # collected as output columns, not arguments
                    toks = toks[1:]

                    def _out_type(t: str) -> str:
                        # the OUT-record shape is a Spark table schema
                        # — text-modeled families collapse to STRING,
                        # real/decimal spell concretely (typemap
                        # map_col_type), user types resolve first
                        from warehouse_pg_spark.dialect.typemap import (
                            map_col_type,
                        )

                        ut = self._decl_type(t)
                        return ut if ut != map_decl_type(t) \
                            else map_col_type(t)

                    if len(toks) >= 2:
                        out_params.append(
                            (toks[0], _out_type(" ".join(toks[1:])))
                        )
                    else:
                        out_params.append(
                            (f"column{len(out_params) + 1}",
                             _out_type(toks[0]))
                        )
                    continue
                if toks[0].upper() == "VARIADIC":
                    # functioncmds.c variadic: the parameter IS the
                    # declared array type; callers' spread arguments
                    # are packed at the call site (_pack_variadic)
                    variadic_at = len(params)
                elif toks[0].upper() == "INOUT":
                    # INOUT: an argument AND a result column
                    # (functioncmds.c: both lists)
                    tname = (toks[1] if len(toks) >= 3
                             else f"column{len(out_params) + 1}")
                    ttyp = " ".join(toks[2:] if len(toks) >= 3
                                    else toks[1:])
                    out_params.append((tname, map_decl_type(ttyp)))
                elif toks[0].upper() != "IN":
                    raise NotImplementedError(
                        f"{toks[0].upper()} parameters are not supported"
                    )
                toks = toks[1:]
            joined = " ".join(toks).lower()
            if len(toks) == 1 or joined in _UNNAMED_MULTI or (
                len(toks) == 2 and toks[1].lower() in ("precision",
                                                       "varying")
            ):
                # unnamed parameter: referenced as $n in the body
                params.append((f"__p{i}", map_decl_type(joined)))
            else:
                params.append(
                    (toks[0], map_decl_type(" ".join(toks[1:])))
                )
            if default_expr is not None:
                defaults[params[-1][0]] = default_expr
        lang_m = re.search(r"\bLANGUAGE\s+'?(\w+)'?", tail, re.IGNORECASE)
        lang = (lang_m.group(1) if lang_m else "sql").lower()
        strict = bool(
            re.search(
                r"\bSTRICT\b|\bRETURNS\s+NULL\s+ON\s+NULL\s+INPUT\b",
                tail,
                re.IGNORECASE,
            )
        )
        # NB: the tag group uses an empty alternative, not `?` — a
        # Python backref to a non-participating group never matches,
        # which would silently skip plain $$ bodies.
        body_m = re.search(
            r"\$([A-Za-z_]\w*|)\$(.*)\$\1\$", tail, re.DOTALL
        ) or re.search(r"\bAS\s+('(?:[^']|'')*')", tail, re.IGNORECASE | re.DOTALL)
        ret_spark = (
            None if (setof_m or table_cols_raw is not None)
            else map_decl_type(rettype)
        )
        fn_config: dict[str, str] = {}
        if body_m:
            body = body_m.group(2 if body_m.re.groups == 2 else 1)
            if body.startswith("'"):  # AS '...' spelling
                body = body[1:-1].replace("''", "'")
            # CREATE FUNCTION ... SET guc = value (functioncmds.c
            # proconfig): an invalid value poisons every CALL — with
            # check_function_bodies off PG defers the error to call
            # time (guc.out func_with_bad_set)
            opts_tail = tail[:body_m.start()] + tail[body_m.end():]
            for sm in re.finditer(
                    r"(?i)\bSET\s+([A-Za-z_][\w.]*)\s*(?:=|\bTO\b)\s*"
                    r"('(?:[^']|'')*'|[\w.-]+)", opts_tail):
                v = sm.group(2)
                if v.startswith("'"):
                    v = v[1:-1].replace("''", "'")
                fn_config[sm.group(1).lower()] = v
            bs = re.search(
                r"(?i)\bSET\s+default_text_search_config\s*"
                r"(?:=|\bTO\b)\s*'?\"?([\w.]+)",
                opts_tail)
            if bs and bs.group(1).split(".")[-1].lower() not in (
                    "english", "simple"):
                body = ("SELECT raise_error('invalid value for "
                        'parameter "default_text_search_config": '
                        f"\"{bs.group(1)}\"')")
                lang = "sql"
        else:
            rb = re.search(r"\bRETURN\b(.*)$", tail, re.IGNORECASE | re.DOTALL)
            if not rb:
                raise ValueError(
                    "CREATE FUNCTION needs AS $$...$$ / AS '...' / RETURN expr"
                )
            body, lang = f"SELECT {rb.group(1).strip()}", "sql"
        # $n positional references resolve to the nth parameter name
        # (functioncmds.c: valid for both named and unnamed params).
        # Substitution runs over the literal-MASKED body: a $n inside
        # a string constant (e.g. a dynamic EXECUTE command with
        # USING placeholders) is query text for a later binding, not
        # a parameter reference of this function.
        def _dollar_ref(m2: re.Match) -> str:
            k = int(m2.group(1))
            return params[k - 1][0] if 1 <= k <= len(params) \
                else m2.group(0)

        _masked_b, _lits_b = _mask(body)
        _masked_b = self._maybe_pg_catalog(_masked_b, _lits_b)
        body = _unmask(
            re.sub(r"\$(\d+)\b", _dollar_ref, _masked_b), _lits_b)
        if setof_m or table_cols_raw is not None or out_params:
            return self._register_table_function(
                name, params, defaults, setof_m.group(1).strip()
                if setof_m else None, table_cols_raw, lang, body, strict,
                out_cols=out_params or None, variadic_at=variadic_at,
            )
        if lang == "plpgsql" and rettype.lower() == "void" and re.search(
            r"(?i)\b(INSERT|UPDATE|DELETE|TRUNCATE|EXCEPTION)\b", body
        ) and self._register_plpgsql_proc(name, params, body, rettype,
                                          fn_config):
            # DML-bodied void procedure: interpreted at call time
            # (engine_proc.py); nothing compiles
            return self._tag(0)
        if lang == "plpgsql":
            from warehouse_pg_spark.plpgsql import PlpgsqlError

            try:
                expr = compile_plpgsql(
                    params, ret_spark, body,
                    composites=self._user_types.composites,
                    void=rettype.lower() == "void",
                )
            except PlpgsqlError:
                # bodies the expression compiler cannot hold (DML,
                # cursors, dynamic EXECUTE, EXCEPTION handlers) fall
                # back to the driver-side interpreter — callable at
                # top-level SELECT f(args) / CALL only
                if self._register_plpgsql_proc(name, params, body,
                                               rettype, fn_config):
                    return self._tag(0)
                raise
        elif lang == "internal" and re.fullmatch(
                r"\w*(?:in|out|send|recv)", body.strip()):
            # LANGUAGE internal I/O functions ('int4in', 'textout', ...;
            # fmgr builtins): with the engine's text-transport model a
            # type I/O conversion is the declared cast itself
            expr = params[0][0] if params else "NULL"
            expr = f"CAST(({expr}) AS {ret_spark})"
        elif lang == "internal":
            # fmgr builtins referenced by symbol (fmgr_builtins:
            # array_agg_transfn &c): the registration is catalog
            # bookkeeping for a later CREATE AGGREGATE — no
            # SQL-callable surface, so a direct call stays loud
            expr = (
                "CAST(raise_error('function "
                f"{body.strip()[:40]} is an fmgr-internal builtin "
                "with no SQL-callable surface here') "
                f"AS {ret_spark})"
            )
        elif lang == "sql":
            # PG SQL functions return the last statement's result; the
            # supported subset is expression-bodied SELECTs.
            all_stmts = [x.strip() for x in body.split(";") if x.strip()]
            last = all_stmts[-1]
            if (any(re.match(r"(?is)^(INSERT|UPDATE|DELETE|TRUNCATE|CREATE|"
                             r"DROP|ALTER|COPY)\b", x) for x in all_stmts[:-1])
                    or rettype.lower() == "void" and re.match(
                        r"(?is)(INSERT|UPDATE|DELETE|TRUNCATE)\b", last)
                    ) and self._register_sqlbody_proc(
                        name, params, body, rettype, fn_config):
                # statements with side effects functions.c would run
                # (a DML-bodied void function keeps only those) — a
                # Spark SQL UDF holds only the last expression, so the
                # whole body interprets driver-side
                return self._tag(0)
            if re.match(r"(?is)^SELECT\b", last) and _toplevel_from(last):
                # a FROM-clause body is a whole query; a scalar SQL
                # function returns the FIRST row of its last query
                # (functions.c postquel_get_single_result) — a LIMIT 1
                # scalar subquery in Spark's SQL-UDF surface
                expr = f"(SELECT * FROM ({last}) LIMIT 1)"
            else:
                expr = re.sub(
                    r"^SELECT\b", "", last, flags=re.IGNORECASE).strip()
            # `select 1 AS result` / `select $1 + $2 sum` — the
            # output alias is not part of the expression (functions.c:
            # the column name is ignored for a scalar SQL function);
            # a trailing LIMIT over the one result row is a no-op
            if not re.search(r"(?is)\bFROM\b", expr):
                expr = re.sub(r"(?is)\s+LIMIT\s+\d+\s*$", "", expr)
                expr = re.sub(r"(?is)\s+AS\s+\w+\s*$", "", expr)
                am2 = re.match(
                    r"(?is)^(.+?)\s+([A-Za-z_]\w*)\s*$", expr
                )
                if am2:
                    pre = am2.group(1).rstrip()
                    lastw = re.search(r"([A-Za-z_]\w*)$", pre)
                    _KW = {
                        "and", "or", "not", "like", "ilike",
                        "between", "in", "is", "as", "then", "else",
                        "when", "case", "from", "where", "escape",
                        "similar", "to", "collate", "at", "zone",
                        "interval", "distinct", "operator", "all",
                        "any", "some", "symmetric", "over", "using",
                        "order", "by", "group", "having", "limit",
                        "offset", "on", "join", "select",
                    }
                    if (
                        pre[-1] not in "+-*/%<>=|~!^@#(,.:["
                        and (lastw is None
                             or lastw.group(1).lower() not in _KW)
                        and am2.group(2).lower() not in _KW | {
                            "null", "true", "false", "end"}
                    ):
                        # the trailing identifier follows a complete
                        # operand: it is the bare column alias
                        expr = pre
            if rettype.lower() == "void":
                # functions.c: a void SQL function evaluates its body
                # and discards the result (SELECT f(x) shows empty)
                ret_spark = "STRING"
                expr = (
                    f"IF(({expr}) IS NULL, CAST(NULL AS STRING), "
                    "CAST(NULL AS STRING))"
                )
            else:
                expr = f"CAST(({expr}) AS {ret_spark})"
        else:
            raise NotImplementedError(f"LANGUAGE {lang} is not supported")
        expr = self._user_types.rewrite(expr)
        expr = self._rewrite(expr)
        if strict and params:
            null_any = " OR ".join(f"{p} IS NULL" for p, _t in params)
            expr = (
                f"CASE WHEN {null_any} THEN CAST(NULL AS {ret_spark}) "
                f"ELSE {expr} END"
            )
        arglist = ", ".join(
            f"{p} {t}"
            + (f" DEFAULT ({defaults[p]})" if p in defaults else "")
            for p, t in params
        )
        spark_name = name.lower()
        try:
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {spark_name}({arglist}) "
                f"RETURNS {ret_spark} RETURN {expr}"
            )
        except Exception as e:  # noqa: BLE001
            if "CANNOT_REPLACE_NON_SQL_UDF" in str(e):
                # the name is a Spark builtin Spark refuses to
                # replace: register under a prefix; same-arity call
                # sites rewrite to it (PG search_path semantics put
                # the user fn first)
                spark_name = f"__pgudf_{spark_name}"
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY FUNCTION {spark_name}"
                    f"({arglist}) RETURNS {ret_spark} RETURN {expr}"
                )
            elif lang == "sql" and self._register_sqlbody_proc(
                    name, params, body, rettype, fn_config):
                # bodies Spark's SQL-UDF surface cannot hold (a
                # recursive CTE over a parameter, DML followed by a
                # result, current_setting over a runtime key):
                # interpreted driver-side at top-level call sites
                # (engine_proc.py), per functions.c run-every-
                # statement semantics
                return self._tag(0)
            else:
                raise
        # written only after Spark accepted the function: a refused
        # `CREATE FUNCTION concat(text, VARIADIC ...)` (PG overloads
        # the builtin) must leave no record that repacks concat calls
        self._define(name.lower(), UserFunction(
            "scalar", params=[p for p, _t in params], variadic_at=variadic_at,
            spark_name=spark_name, expr=expr))
        return self._tag(0)

    def _register_table_function(
        self,
        name: str,
        params: list[tuple[str, str]],
        defaults: dict[str, str],
        setof_elem: str | None,
        table_cols_raw: str | None,
        lang: str,
        body: str,
        strict: bool,
        out_cols: list[tuple[str, str]] | None = None,
        variadic_at: int | None = None,
    ) -> DataFrame:
        """RETURNS SETOF / RETURNS TABLE for LANGUAGE sql bodies
        (functioncmds.c set-returning functions; regress
        sql/rangefuncs.sql): lowered to a native Spark SQL table
        function. A call in FROM inlines as a Catalyst subquery — at
        100 TB this is exactly a view expansion, no function-call
        runtime at all. PL/pgSQL RETURN NEXT stays descoped (README).
        PG STRICT on an SRF yields ZERO rows for a NULL argument
        (fmgr strict short-circuit + empty SRF protocol) — compiled
        as a WHERE gate over the body."""
        from warehouse_pg_spark.sql_dialect import map_decl_type

        cols: list[tuple[str, str]]
        if out_cols:
            # OUT parameters define the record shape (functioncmds.c);
            # the body's result columns map positionally
            cols = list(out_cols)
        elif table_cols_raw is not None:
            cols = []
            for item in _split_commas(table_cols_raw):
                toks = item.strip().split()
                if len(toks) < 2:
                    raise ValueError(
                        f"RETURNS TABLE column needs name + type: {item!r}"
                    )
                cols.append(
                    (toks[0], self._decl_type(" ".join(toks[1:]))))
        else:
            elem = setof_elem.strip()
            comp = self._user_types.composites.get(elem.lower())
            if comp is not None:
                # user-type-aware per-field resolution (composite
                # fields may themselves be domains/base-type aliases)
                cols = [(f, self._decl_type(t)) for f, t in comp.fields]
            elif elem.lower() in ("record",):
                raise NotImplementedError(
                    "RETURNS SETOF record needs an explicit column "
                    "list — use RETURNS TABLE (...) or a composite type"
                )
            else:
                # SETOF table-rowtype (functioncmds.c: a table name is
                # a rowtype): the function returns the table's columns
                tcols = self._table_rowtype_cols(elem)
                if tcols is not None:
                    cols = tcols
                else:
                    # PG names the single result column after the fn
                    cols = [(name, self._decl_type(elem))]
        q: str | None = None
        if lang == "plpgsql":
            # the single-RETURN-QUERY body (pl_exec.c
            # exec_stmt_return_query) IS a SQL table function —
            # fully inlined, preserves the query's own ordering
            qm = re.match(
                r"(?is)^\s*BEGIN\s+RETURN\s+QUERY\s+([^;]*?);?\s*"
                r"END\s*;?\s*$",
                body,
            )
            if qm is not None:
                body, lang = qm.group(1), "sql"
            elif setof_elem is None and table_cols_raw is None:
                # OUT params without SETOF: exactly one result row of
                # the OUT variables' final values (pl_exec.c
                # exec_stmt_return's out-param row build)
                from warehouse_pg_spark.plpgsql import (
                    compile_plpgsql_outrow,
                )

                expr = self._rewrite(
                    compile_plpgsql_outrow(
                        params, cols, body,
                        composites=self._user_types.composites,
                    )
                )
                if len(cols) == 1:
                    q = f"SELECT {expr} AS {cols[0][0]}"
                else:
                    q = f"SELECT inline(array({expr}))"
            else:
                # general bodies (RETURN NEXT accumulation, loops,
                # mixed RETURN QUERY): compile to ONE array-valued
                # SQL expression and explode it (pl_exec.c
                # exec_stmt_return_next's tuplestore as an array)
                from warehouse_pg_spark.plpgsql import (
                    compile_plpgsql_setof,
                )

                arr = self._rewrite(
                    compile_plpgsql_setof(
                        params, cols, body,
                        bare_next=bool(
                            out_cols or table_cols_raw is not None
                        ),
                        composites=self._user_types.composites,
                    )
                )
                if len(cols) == 1:
                    q = f"SELECT explode({arr}) AS {cols[0][0]}"
                else:
                    q = f"SELECT inline({arr})"
        if q is None:
            if lang not in ("sql", "internal"):
                raise NotImplementedError(
                    "RETURNS SETOF is supported for LANGUAGE sql and "
                    "plpgsql bodies"
                )
            last = [x for x in body.split(";") if x.strip()][-1].strip()
            if not re.match(
                r"(?is)^\s*(SELECT|WITH|VALUES|TABLE)\b", last
            ):
                raise NotImplementedError(
                    "SETOF SQL function bodies must end in a query"
                )
            q = self._rewrite(last)
        if strict and params:
            null_any = " OR ".join(f"{p} IS NULL" for p, _t in params)
            q = f"SELECT * FROM ({q}) WHERE NOT coalesce({null_any}, false)"
        arglist = ", ".join(
            f"{p} {t}"
            + (f" DEFAULT ({defaults[p]})" if p in defaults else "")
            for p, t in params
        )
        collist = ", ".join(f"{c} {t}" for c, t in cols)
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name.lower()}({arglist}) "
            f"RETURNS TABLE ({collist}) RETURN {q}"
        )
        self._define(name.lower(), UserFunction(
            "setof", params=[p for p, _t in params], variadic_at=variadic_at,
            spark_name=name.lower(), columns=[c for c, _t in cols]))
        return self._tag(0)

    # ------------------------------------------- prepared statements / GUCs
    # The session-protocol surface every PG client and pg_dump script
    # drives: SET/SHOW/RESET session GUCs (utils/misc/guc.c), DISCARD
    # (commands/discard.c), PREPARE/EXECUTE/DEALLOCATE
    # (commands/prepare.c) and VACUUM/ANALYZE/CLUSTER (commands/
    # vacuum.c, analyze.c, cluster.c). spark.* keys and Spark's own
    # forms (SHOW TABLES, ANALYZE TABLE, ...) go to Spark.
    def _set_stmt(self, s: str) -> DataFrame:
        m = re.match(
            r"(?is)^SET\s+(?:(?:SESSION|LOCAL)\s+)?"
            r"(ROLE|SESSION\s+AUTHORIZATION)\s+(\w+|'[^']*')$", s)
        if m:
            # SET ROLE / SESSION AUTHORIZATION (guc.c assign_role):
            # single-user engine — the identity records so the ACL
            # ledger and current_setting('role') answer consistently
            who = m.group(2).strip("'")
            key = ("role" if m.group(1).upper() == "ROLE"
                   else "session_authorization")
            self._gucs[key] = ("none" if who.upper() in
                               ("NONE", "DEFAULT") else who.lower())
            return self._tag(0)
        m = _SET_GUC_RE.match(s)
        if m and not m.group(1).lower().startswith("spark."):
            key, val = m.group(1).lower(), m.group(2).strip()
            if key == "timezone" and val.upper() in ("DEFAULT", "LOCAL"):
                val = self._default_timezone
            else:
                val = val.strip("'\"")
            self._gucs[key] = val
            if key == "timezone":
                self.spark.conf.set("spark.sql.session.timeZone", val)
            elif key == "xmlbinary":
                sql_dialect.set_xmlbinary(val)
            elif key == "default_text_search_config":
                from warehouse_pg_spark.dialect.fts import set_default_config
                set_default_config(val)
            elif key == "strict_errors":
                # PG raises where the default posture returns NULL or
                # wraps (division by zero, int overflow, bad casts,
                # out-of-range element_at). Spark's ANSI mode IS that
                # posture — one switch makes the silent class loud
                # (README "Known deviations"; regress should_error).
                self.spark.conf.set(
                    "spark.sql.ansi.enabled",
                    "true" if val.lower() in ("on", "true", "1") else "false",
                )
            return self._tag(0)
        m = _SET_TIME_ZONE_RE.match(s)
        if m:
            # SET TIME ZONE 'x' (gram.y zone_value) — the two-word
            # spelling _SET_GUC_RE's [\w.]+ key cannot match.
            # DEFAULT/LOCAL (unquoted) reset to the session's startup
            # timezone rather than storing the literal word.
            raw = m.group(1).strip()
            if raw.upper() in ("DEFAULT", "LOCAL"):
                val = self._default_timezone
            else:
                val = raw.strip("'\"")
            self._gucs["timezone"] = val
            self.spark.conf.set("spark.sql.session.timeZone", val)
            return self._tag(0)
        return self._spark_stmt(s)

    def _reset_stmt(self, s: str) -> DataFrame:
        m = _RESET_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        key = m.group(1).lower()
        if key == "all":
            self._gucs.clear()
            self._gucs.update(_GUC_DEFAULTS)
            self.spark.conf.set(
                "spark.sql.session.timeZone", self._default_timezone
            )
            self.spark.conf.set("spark.sql.ansi.enabled", "false")
            from warehouse_pg_spark.dialect.fts import set_default_config
            set_default_config("english")
            return self._tag(0)
        self._gucs.pop(key, None)
        if key in _GUC_DEFAULTS:
            self._gucs[key] = _GUC_DEFAULTS[key]
        if key in ("timezone", "time zone"):
            self.spark.conf.set(
                "spark.sql.session.timeZone", self._default_timezone
            )
        elif key == "strict_errors":
            self.spark.conf.set("spark.sql.ansi.enabled", "false")
        elif key == "xmlbinary":
            sql_dialect.set_xmlbinary("base64")
        elif key == "default_text_search_config":
            from warehouse_pg_spark.dialect.fts import set_default_config
            set_default_config("english")
        return self._tag(0)

    def _show_stmt(self, s: str) -> DataFrame:
        m = _SHOW_GUC_RE.match(s)
        if m is None or m.group(1).upper() in (
            "TABLES", "DATABASES", "SCHEMAS", "NAMESPACES", "CATALOGS",
            "VIEWS", "FUNCTIONS", "PARTITIONS", "COLUMNS", "TBLPROPERTIES",
        ) or m.group(1).lower().startswith("spark."):
            return self._spark_stmt(s)
        key = re.sub(r"\s+", " ", m.group(1).lower())
        if key == "all":
            return local_frame(
                self.spark, sorted(self._gucs.items()),
                "name STRING, setting STRING",
            )
        if key in ("timezone", "time zone"):
            val = self.spark.conf.get("spark.sql.session.timeZone")
            key = "timezone"
        else:
            val = self._gucs.get(key)
            if val is None:
                raise KeyError(f'unrecognized configuration parameter "{key}"')
        return local_frame(self.spark, [(val,)], f"{key} STRING")

    def _discard_stmt(self, s: str) -> DataFrame:
        m = _DISCARD_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        # DISCARD ALL/SEQUENCES (commands/discard.c): sequence session
        # state (currval's "last value") resets — a following currval
        # errors as unset, as in PG
        if m.group(1).upper() in ("ALL", "SEQUENCES"):
            for _sq in self._sequences.values():
                _sq.pop("last", None)
        if m.group(1).upper() != "ALL":
            return self._tag(0)
        # DISCARD ALL: session back to pristine
        self._prepared.clear()
        self._gucs.clear()
        self._gucs.update(_GUC_DEFAULTS)
        sql_dialect.set_xmlbinary("base64")
        self.spark.conf.set(
            "spark.sql.session.timeZone", self._default_timezone
        )
        self.spark.conf.set("spark.sql.ansi.enabled", "false")
        return self._tag(0)

    def _vacuum_stmt(self, s: str) -> DataFrame:
        m = _VACUUM_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        name = m.group(2)
        # table-less VACUUM (whole database) and VACUUM on
        # non-writable relations are advisory no-ops here
        if name and self._writable_by_name(name) is not None:
            self.vacuum(name)
        return self._tag(0)

    def _analyze_stmt(self, s: str) -> DataFrame:
        m = _ANALYZE_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        cols = tuple(c.strip() for c in (m.group(2) or "").split(",") if c.strip())
        if m.group(1):
            self.analyze(m.group(1), cols)
        return self._tag(0)

    def _cluster_stmt(self, s: str) -> DataFrame:
        # CLUSTER tbl [USING idx] (commands/cluster.c): physically
        # reorder by the advisory index (CREATE INDEX records its
        # columns); our layout analogue is the Z-order rewrite.
        # No recorded index, or a non-writable relation → no-op.
        m = _CLUSTER_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        name = m.group(1)
        hints = name and self._index_hints.get(_table_key(name))
        if hints and self._writable_by_name(name) is not None:
            self.cluster_zorder(name, hints[-1])
        return self._tag(0)

    def _prepare_stmt(self, s: str) -> DataFrame:
        m = _PREPARE_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        name = m.group(1).lower()
        # PG: re-PREPARE of a live name is an error (prepare.c)
        if name in self._prepared:
            raise ValueError(f'prepared statement "{name}" already exists')
        declared = m.group(2)
        nparams = (
            len([p for p in declared.split(",") if p.strip()])
            if declared is not None
            else None
        )
        self._prepared[name] = (m.group(3).strip(), nparams)
        return self._tag(0)

    def _deallocate_stmt(self, s: str) -> DataFrame:
        m = _DEALLOCATE_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        name = m.group(1).lower()
        if name == "all":
            self._prepared.clear()
        else:
            self._prepared.pop(name, None)
        return self._tag(0)

    def _execute_stmt(self, s: str) -> DataFrame:
        m = _EXECUTE_STMT_RE.match(s)
        name = m.group(1).lower() if m else ""
        if name not in self._prepared:
            # EXECUTE of an unknown name may be Spark's own EXECUTE
            # IMMEDIATE etc. — only claim names we prepared.
            if m is None or m.group(2) is None:
                return self._spark_stmt(s)
            raise KeyError(f'prepared statement "{name}" does not exist')
        body, nparams = self._prepared[name]
        args = [a.strip() for a in _split_commas(m.group(2) or "")]
        # Single-pass \$(\d+) substitution over the literal-masked
        # body: $12 never half-matches as $1, $n inside string
        # literals is untouched, and out-of-range indexes error as
        # PG does (prepare.c EvaluateParams).
        masked, lits = _mask(body)
        # EvaluateParams (prepare.c): supplied count must equal the
        # declared count (or, when PREPARE declared no types, the
        # highest $n the body references).
        refs = [int(x) for x in re.findall(r"\$(\d+)", masked)]
        expected = nparams if nparams is not None else (
            max(refs) if refs else 0
        )
        if len(args) != expected:
            raise ValueError(
                "wrong number of parameters for prepared statement "
                f'"{name}": expected {expected}, got {len(args)}'
            )

        def _param(pm: re.Match) -> str:
            idx = int(pm.group(1))
            if not 1 <= idx <= len(args):
                raise IndexError(
                    f"there is no parameter ${idx} "
                    f"(statement has {len(args)} arguments)"
                )
            return args[idx - 1]

        return self.sql(_unmask(re.sub(r"\$(\d+)", _param, masked), lits))

    # ------------------------------------------------ utility statements
    def _noop_stmt(self, s: str) -> DataFrame:
        return self._tag(0)

    def _txn_stmt(self, s: str) -> DataFrame:
        # BEGIN/COMMIT accepted as no-ops: the engine is auto-commit
        # (each DML's copy-on-write swap is the atomic unit — SURVEY
        # §1.1; there is no multi-statement snapshot), so scripts
        # wrapped in transactions run unchanged.
        return self._tag(0) if _TXN_RE.match(s) else self._spark_stmt(s)

    def _rollback_stmt(self, s: str) -> DataFrame:
        raise NotImplementedError(
            "ROLLBACK: no multi-statement transactions — each DML "
            "commits atomically via its copy-on-write table swap"
        )

    def _acl_stmt(self, s: str) -> DataFrame:
        """GRANT / REVOKE (aclchk.c): there is no second user to
        enforce against, but the privileges record into the ACL ledger
        so has_*_privilege() answers match (pg_class_aclcheck; the
        ledger starts all-granted)."""
        gm = re.match(
            r"(?is)^(GRANT|REVOKE)\s+(?:GRANT\s+OPTION\s+FOR\s+)?"
            r"(.+?)\s+ON\s+(?:TABLE\s+|SEQUENCE\s+|SCHEMA\s+|"
            r"DATABASE\s+|FUNCTION\s+)?(.+?)\s+(?:TO|FROM)\s+"
            r"(?:GROUP\s+)?([\w\",.\s]+?)(?:\s+WITH\s+GRANT\s+"
            r"OPTION|\s+CASCADE|\s+RESTRICT)?\s*$", s)
        if gm is None:
            return self._tag(0)
        revoke = gm.group(1).upper() == "REVOKE"
        privs = [p.strip().upper().split()[0]
                 for p in gm.group(2).split(",") if p.strip()]
        objs = [re.sub(r"\(.*\)", "", o).strip().strip('"')
                .split(".")[-1].lower()
                for o in gm.group(3).split(",") if o.strip()]
        whos = [w.strip().strip('"').lower()
                for w in gm.group(4).split(",") if w.strip()]
        for ob in objs:
            for who in whos:
                for pr in privs:
                    for k in ([(who, ob, pr)] if pr != "ALL"
                              else [(who, ob, p) for p in _ALL_PRIVS]):
                        if revoke:
                            self._acl_revoked.add(k)
                        else:
                            self._acl_revoked.discard(k)
        return self._tag(0)

    def _role_ddl(self, s: str) -> DataFrame:
        """Role DDL (commands/user.c): single-user engine — roles are
        bookkeeping names for the ACL ledger and SET ROLE, with PG's
        existence errors."""
        rl = re.match(
            r"(?is)^(CREATE|DROP|ALTER)\s+(?:ROLE|USER|GROUP)\s+(.*)$", s)
        verb, rest = rl.group(1).upper(), rl.group(2).strip()
        if verb == "DROP":
            ifex = False
            mex = re.match(r"(?is)^IF\s+EXISTS\s+(.*)$", rest)
            if mex:
                ifex, rest = True, mex.group(1)
            for nm in rest.split(","):
                nm = nm.strip().strip('"').lower()
                if nm in self._roles:
                    self._roles.discard(nm)
                elif nm and not ifex:
                    raise ValueError(f'role "{nm}" does not exist')
            return self._tag(0)
        nm_m = re.match(r'("[^"]+"|[\w$]+)', rest)
        name = nm_m.group(1).strip('"').lower() if nm_m else ""
        if verb == "CREATE":
            if name in self._roles:
                raise ValueError(f'role "{name}" already exists')
            self._roles.add(name)
        elif name not in self._roles and name not in (
                "current_user", "session_user", "public", "all"):
            raise ValueError(f'role "{name}" does not exist')
        return self._tag(0)

    def _create_index(self, s: str) -> DataFrame:
        # CREATE INDEX (indexcmds.c) is advisory here: Spark scans
        # prune via parquet min/max + Z-order layout instead of
        # b-trees. Record the indexed columns as a clustering hint
        # so DDL scripts run unchanged.
        m = _CREATE_INDEX_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        cols = tuple(c.strip().split()[0] for c in m.group(3).split(",") if c.strip())
        self._index_hints.setdefault(_table_key(m.group(2)), []).append(cols)
        return self._tag(0)

    def _alter_table(self, s: str) -> DataFrame | None:
        """ALTER TABLE: OWNER TO is metadata only in PG. ADD [COLUMN] of
        a plain nullable column on an engine table rewrites it with the
        column NULL in every row (tablecmds.c ATExecAddColumn without a
        default). Spark runs every other form, and every form on a
        Spark table."""
        if _OWNER_TO_RE.match(s):
            return self._tag(0)
        m = _ADD_COLUMN_RE.match(s)
        t = m and self._writable_by_name(m.group(1))
        if t is None:
            return None
        cols = self._column_schema(m.group(3)).fields
        if len(cols) != 1 or not cols[0].nullable or cols[0].metadata:
            return None  # several columns, NOT NULL or DEFAULT: Spark's error
        col = cols[0]
        if col.name.lower() in (c.lower() for c in t.read().columns):
            if m.group(2):
                return self._tag(0)
            raise ValueError(f'column "{col.name}" of relation '
                             f'"{_table_key(m.group(1))}" already exists')
        t.add_column(col.name, col.dataType)
        self._refresh_view(m.group(1), t)
        return self._tag(0)

    def _type_ddl(self, s: str) -> DataFrame:
        # CREATE DOMAIN / TYPE (commands/typecmds.c): session registry
        if self._user_types.maybe_ddl(s):
            return self._tag(0)
        return self._spark_stmt(s)

    def _create_matview(self, s: str) -> DataFrame:
        # CREATE MATERIALIZED VIEW ... AS SELECT (commands/matview.c);
        # a GP DISTRIBUTED tail is a placement hint
        m = _CREATE_MV_RE.match(s)
        name = m and _table_key(m.group(2))
        if name is None:
            return self._spark_stmt(s)
        if not (m.group(1) and name in self._matviews):  # IF NOT EXISTS
            self.create_materialized_view(
                name, _DISTRIBUTED_BY_RE.sub("", m.group(3)))
        return self._tag(0)

    def _refresh_matview(self, s: str) -> DataFrame:
        # REFRESH MATERIALIZED VIEW [CONCURRENTLY] — re-runs the
        # stored query; CONCURRENTLY is moot (temp-view swap is atomic
        # to readers of the name)
        m = _REFRESH_MV_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        self.refresh_materialized_view(_table_key(m.group(1)))
        return self._tag(0)

    def _drop_matview(self, s: str) -> DataFrame:
        m = _DROP_MV_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        name = _table_key(m.group(2))
        mv = self._matviews.pop(name, None)
        if mv is None and not m.group(1):
            raise KeyError(f'materialized view "{name}" does not exist')
        if mv is not None:
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(mv.path, ignore_errors=True)
        return self._tag(0)

    def assign_sequence_ids(self, df: DataFrame, col: str, seq_name: str) -> DataFrame:
        """Assign one sequence value per row of `df`, distributed.

        The scale path for `SELECT nextval('s') FROM big_table`: a block
        allocation (GP's per-segment sequence value cache, sequence.c
        cache_value) done as two passes — count rows per Spark partition
        (tiny collect: one long per partition), hand each partition a
        contiguous offset range, then number rows partition-locally
        (`row_number` partitioned by partition id — no global sort, no
        single-partition exchange). Values are unique and dense; like PG,
        assignment order across partitions is not a correctness contract.
        """
        import pyspark.sql.functions as F
        from pyspark.sql.window import Window

        seq = self._seq(seq_name)
        tagged = df.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__mid", F.monotonically_increasing_id()
        )
        counts = {
            r["__pid"]: r["cnt"]
            for r in tagged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
        }
        run = seq["next"]
        offsets = []
        for pid in sorted(counts):
            offsets.extend([F.lit(pid), F.lit(run)])
            run += counts[pid]
        omap = F.create_map(*offsets) if offsets else F.create_map()
        w = Window.partitionBy("__pid").orderBy("__mid")
        out = (
            tagged.withColumn(
                col,
                (omap[F.col("__pid")] + F.row_number().over(w) - 1).cast("long"),
            )
            .drop("__pid", "__mid")
        )
        seq["next"] = run
        seq["last"] = run - 1
        return out

    def _ensure_catalog_views(self, names: set[str]) -> None:
        """Build the catalog relations a statement names, each by its
        one builder (engine_catalog._CATALOG_VIEWS), from the engine
        catalog and the live Spark schemas."""
        for name in sorted(names):
            getattr(self, _CATALOG_VIEWS[name])(name)

    # ----------------------------------------------------------------- DDL
    def _lower_typed_table(self, text: str) -> str:
        """CREATE TABLE name OF composite_type (typed tables,
        parse_utilcmd.c transformOfType): the type's fields become the
        column list; PARTITION BY/WITH tails drop with the clause."""
        m = re.match(
            r"(?is)^(\s*CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?"
            r"TEMP(?:ORARY)?\s+|UNLOGGED\s+)?TABLE\s+"
            rf"(?:IF\s+NOT\s+EXISTS\s+)?{_NAME})\s+OF\s+"
            r"([\w.\"]+)\b[^;]*$", text)
        if m is None:
            return text
        key = m.group(2).strip('"').split(".")[-1].lower()
        comp = self._user_types.composites.get(key)
        if comp is None:
            return text
        cols = ", ".join(
            f"{f} {self._decl_type(t)}" for f, t in comp.fields)
        return f"{m.group(1)} ({cols})"

    def _create_table_stmt(self, s: str) -> DataFrame:
        """CREATE TABLE (tablecmds.c DefineRelation, createas.c): every
        spelling makes an engine table through `create_table_from`. A
        column list gives an empty table of its lowered types; `AS
        [(]SELECT|WITH|VALUES …` materializes the query. TEMP and
        UNLOGGED are accepted: there is one storage kind. An existing
        engine table raises, or is kept under IF NOT EXISTS.

        `DISTRIBUTED BY (k)` / RANDOMLY / REPLICATED (gram.y:5597-5605,
        gp_distribution_policy.h) is a perf hint under Spark (SURVEY
        §1.1), recorded in the catalog. `PARTITION BY RANGE (col)
        (START .. [END ..] EVERY ..)` on a CTAS (gram.y
        OptTabPartitionSpec) maps onto directory partitioning by a
        derived range-partition id, so partition pruning works as GP's
        Dynamic*Scan would. A name qualified by another schema and the
        Spark-native forms (USING csv, LOCATION, OPTIONS) go to Spark's
        catalog, without the GP tails."""
        masked, lits = _mask(s)
        distribution = None
        dm = _DISTRIBUTED_BY_RE.search(masked)
        if dm is not None:
            distribution = (
                ("hash", tuple(k.strip() for k in dm.group(1).split(",")))
                if dm.group(1) else
                ({"randomly": "random", "replicated": "replicated"}[dm.group(2).lower()], ()))
            masked = masked[: dm.start()] + masked[dm.end():]
        pm = _PARTITION_RANGE_RE.search(masked)
        if pm is not None:
            masked = masked[: pm.start()] + masked[pm.end():]
        m = _CREATE_TABLE_RE.match(masked.strip())
        name = m and _table_key(m.group(2))
        if name is None:
            return self._sql_autoschema(_unmask(masked, lits))
        if m.group(1) and name in self.catalog.tables:
            return self._tag(0)
        if m.group(3) is None:
            import pyspark.sql.functions as F

            df = self.spark.range(0).select(*[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in self._column_schema(_unmask(m.group(4), lits))])
        else:
            df = self.spark.sql(_unmask(m.group(3), lits))
        derived = None
        if pm is not None and m.group(3) is not None:
            # the id is derived: every later write recomputes it from the row
            derived = {"__part": self._range_partition(pm.group(1), _unmask(pm.group(2), lits))}
        t = self.create_table_from(name, df, tuple(derived or ()), derived, distribution)
        return self._tag(0 if m.group(3) is None else footer_rows(t.path))

    def _column_schema(self, cols: str):
        """The schema of a lowered column list. A table or composite type
        named as a column type is its rowtype STRUCT (parse_type.c: a
        table name is a type), substituted on one retry."""
        from pyspark.errors import ParseException
        from pyspark.sql.types import DataType

        try:
            return DataType.fromDDL(cols)
        except ParseException as e:
            um = re.search(r'Unsupported data type "(\w+)"', str(e))
            if um is None:
                raise
            key = um.group(1).lower()
            tcols = self._table_rowtype_cols(key)
            comp = self._user_types.composites.get(key)
            if tcols is None and comp is not None:
                tcols = [(f, self._decl_type(t)) for f, t in comp.fields]
            if tcols is None:
                raise
            struct = "STRUCT<" + ", ".join(f"{n}: {ty}" for n, ty in tcols) + ">"
            return DataType.fromDDL(re.sub(rf"(?i)\b{key}\b", struct, cols))

    @staticmethod
    def _range_partition(col: str, spec: str) -> Column:
        """The range-partition id of a GP spec. Numeric EVERY buckets by
        width; INTERVAL EVERY buckets by year/month/day counted from
        START (sources/partitioned.py range_partition_expr — the EVERY
        child-partition rule)."""
        from warehouse_pg_spark.sources.partitioned import (
            range_partition_expr,
        )

        sm = re.search(
            r"START\s*\(\s*'?([^')]+?)'?\s*\)", spec, re.IGNORECASE
        )
        em = re.search(
            r"EVERY\s*\(\s*(?:INTERVAL\s+'(\d+)\s+(\w+?)s?'|(\d+(?:\.\d+)?))\s*\)",
            spec,
            re.IGNORECASE,
        )
        if sm is None or em is None:
            raise ValueError(
                f"cannot parse partition spec (need START/EVERY): {spec!r}"
            )
        start = sm.group(1).strip()

        def _num(s: str) -> float | int:
            return float(s) if "." in s else int(s)

        if em.group(3) is not None:  # numeric width
            return range_partition_expr(col, _num(start), _num(em.group(3)))
        return range_partition_expr(
            col, start, int(em.group(1)), em.group(2).lower()
        )

    def _drop_table_stmt(self, s: str) -> DataFrame:
        """DROP TABLE [IF EXISTS] a[, b] [CASCADE|RESTRICT] (tablecmds.c
        RemoveRelations, heap.c heap_drop_with_catalog): an engine table
        loses its catalog entry, temp view, reader-cache entry and index
        hints, and the directory `create_table_from` made for it; an
        attached table's files stay. A name the engine does not hold,
        or a bucketed table, is dropped by Spark."""
        m = _DROP_TABLE_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        for name in re.findall(_NAME, m.group(2)):
            info = self.catalog.drop(_table_key(name))
            if info is None or not info.path:
                self._spark_stmt(f"DROP TABLE {m.group(1) or ''}{name}")
                continue
            self._index_hints.pop(info.name, None)
            if info.path == os.path.join(self.warehouse_dir, info.name):
                shutil.rmtree(info.path, ignore_errors=True)
        return self._tag(0)

    def _create_view_stmt(self, s: str) -> DataFrame | None:
        """CREATE [OR REPLACE] [TEMP] VIEW (view.c DefineView) is a
        session temp view, the only kind that may read engine tables
        (themselves temp views). A schema-qualified view is Spark's."""
        m = _CREATE_VIEW_RE.match(s)
        name = m and _table_key(m.group(2))
        if name is None:
            return None
        return self.spark.sql(f"CREATE {m.group(1) or ''}TEMP VIEW {view_name(name)}{m.group(3)}")

    # ----------------------------------------------------------- SQL DML
    def _maybe_dml(self, text: str, kind: str) -> DataFrame | None:
        """SQL-statement DML against engine-managed parquet tables — the
        ModifyTable front-end (reference executor/nodeModifyTable.c,
        commands/copy.c §3.3): runs the handler `_ROUTES` names for
        `kind` on the lowered statement. A statement over a name that
        is not a writable parquet table returns None and Spark runs it
        (raising its own errors). Returns a 1-row `rows_affected`
        DataFrame (the PG command tag), or — with a RETURNING clause
        (returning.sql) — the affected rows themselves, projected
        through the RETURNING select list."""
        return getattr(self, _ROUTES[kind][1])(text.strip())

    @staticmethod
    def _returning(returning: str, image: DataFrame) -> DataFrame:
        """Project the affected-row image through the RETURNING list,
        materialized (localCheckpoint): an image read from the table's
        files is projected before the copy-on-write swap invalidates
        them; `ParquetTable.merge`'s image reads its own checkpoint."""
        out = (image if returning == "*"
               else image.selectExpr(*_split_commas(returning)))
        return out.localCheckpoint(eager=True)

    def _insert_stmt(self, s: str) -> DataFrame | None:
        import pyspark.sql.functions as F

        s, returning = _clauses(s, ("RETURNING",))
        m = _INSERT_RE.match(s)
        if m is None:
            return None
        name, rest = m.group(1), m.group(2).strip()
        t = self._writable_by_name(name)
        if t is None:
            return None
        # PG INSERT ... ON CONFLICT (k) DO NOTHING | DO UPDATE SET ...
        # (insert_conflict.sql; speculative-insert upsert) — lowered
        # onto the MERGE machinery.
        conflict = _ON_CONFLICT_RE.search(rest)
        if conflict:
            rest = rest[: conflict.start()].strip()
        cols: list[str] | None = None
        cm = re.match(r"^\(([^)]*)\)\s*(.*)$", rest, re.DOTALL)
        if cm:
            cols = [c.strip() for c in cm.group(1).split(",")]
            rest = cm.group(2).strip()
        target = t.read()
        # a derived column (the range-partition id) is no user column:
        # the write computes it
        user_cols = [c for c in target.columns if c not in t.derived]
        if re.match(r"^DEFAULT\s+VALUES$", rest, re.IGNORECASE):
            # PG INSERT ... DEFAULT VALUES (gram.y insert_rest):
            # one row of all defaults — NULLs here (no stored
            # column defaults)
            df = self.spark.sql(
                "SELECT "
                + ", ".join(
                    f"CAST(NULL AS {target.schema[c].dataType.simpleString()})"
                    f" AS {c}" for c in user_cols
                )
            )
            cols = None
        elif re.match(r"^VALUES\b", rest, re.IGNORECASE):
            df = self.spark.sql(f"SELECT * FROM {rest}")
        else:
            df = self.spark.sql(rest)
        names = cols or user_cols
        df = df.toDF(*names)
        for c in target.columns:  # missing cols → NULL, PG default-less
            if c not in names:
                df = df.withColumn(
                    c, F.lit(None).cast(target.schema[c].dataType)
                )
        df = df.select(
            *[
                F.col(c).cast(target.schema[c].dataType).alias(c)
                for c in target.columns
            ]
        )
        if conflict:
            keys = [k.strip() for k in conflict.group(1).split(",")]
            if conflict.group(2).upper() == "NOTHING":
                on_match = When(True, "nothing")
            else:
                # DO UPDATE SET … [WHERE …]; EXCLUDED names the proposed row
                sets, where = _clauses(conflict.group(3), ("WHERE",))
                on_match = When(True, "update", F.expr(where) if where else None, {
                    col: F.expr(expr) for col, expr in _split_assignments(sets)})
            # the proposed rows are one struct column, so `EXCLUDED.v` is
            # its field and a bare `v` the target row's column, as in PG;
            # a NULL key conflicts with nothing: `=`, not `<=>`
            alias = _table_key(name)
            counts, image = t.merge(
                first_per_key(df, keys).select(F.struct(*df.columns).alias("excluded")),
                F.expr(" AND ".join(f"{view_name(alias)}.{k} = excluded.{k}" for k in keys)),
                [on_match, When(False, "insert", values={
                    c: F.col(f"excluded.{c}") for c in df.columns})],
                alias=alias, source_alias="excluded")
            self._refresh_view(name, t)
            if returning:
                return self._returning(returning, image)
            return self._tag(counts["updated"] + counts["inserted"])
        ret = self._returning(returning, df) if returning else None
        n = t.insert(df)
        self._refresh_view(name, t)
        return ret if ret is not None else self._tag(n)

    def _update_stmt(self, s: str) -> DataFrame | None:
        import pyspark.sql.functions as F

        mm = _MULTI_SET_RE.search(s)
        if mm:
            # PG multi-column assignment `SET (a, b) = (e1, e2)`
            # (gram.y set_clause multiple_set_clause) → column-wise form
            cols = [c.strip() for c in mm.group(1).split(",")]
            vals = _split_commas(mm.group(2))
            if len(cols) != len(vals):
                raise ValueError(
                    "number of columns does not match number of values"
                )
            s = (
                s[: mm.start()]
                + "SET "
                + ", ".join(f"{c} = {v}" for c, v in zip(cols, vals))
                + s[mm.end():]
            )
        head, sets, src, where, returning = _clauses(
            s, ("SET", "FROM", "WHERE", "RETURNING"))
        m = _DML_TARGET_RE.match(head)
        if m is None or sets is None:
            return None
        name = m.group(1)
        t = self._writable_by_name(name)
        if t is None:
            return None
        alias = m.group(2) or _table_key(name)
        assigns = {col: F.expr(expr) for col, expr in _split_assignments(sets)}
        cond = F.expr(where) if where else F.lit(True)
        ret = None
        if src is not None:
            # PG `UPDATE t SET … FROM s WHERE c` (gram.y UpdateStmt
            # from_clause): a MERGE on c whose one clause updates
            src_df, src_alias = self._source(src)
            counts, image = t.merge(
                src_df, cond, [When(True, "update", values=assigns)],
                alias=alias, source_alias=src_alias)
            n = counts["updated"]
            if returning:
                ret = self._returning(returning, image)
        else:
            if returning:
                tgt = t.read().alias(alias)
                values = by_column(assigns, tgt.columns)
                ret = self._returning(returning, tgt.filter(cond).select(*[
                    (values[c].cast(tgt.schema[c].dataType) if c in values
                     else F.col(c)).alias(c) for c in tgt.columns]))
            n = t.update(assigns, cond, alias)
        self._refresh_view(name, t)
        return ret if ret is not None else self._tag(n)

    def _delete_stmt(self, s: str) -> DataFrame | None:
        import pyspark.sql.functions as F

        head, using, where, returning = _clauses(
            s, ("USING", "WHERE", "RETURNING"))
        m = _DML_TARGET_RE.match(head)
        if m is None:
            return None
        name = m.group(1)
        t = self._writable_by_name(name)
        if t is None:
            return None
        alias = m.group(2) or _table_key(name)
        if using is not None:
            # PG `DELETE FROM t USING s WHERE c` (gram.y DeleteStmt
            # using_clause): delete the target rows c finds a partner for
            where = f"EXISTS (SELECT 1 FROM {using}" + (
                f" WHERE {where})" if where else ")")
        cond = F.expr(where) if where else F.lit(True)
        ret = (self._returning(returning, t.read().alias(alias).filter(cond))
               if returning else None)
        n = t.delete(cond, alias)
        self._refresh_view(name, t)
        return ret if ret is not None else self._tag(n)

    def _copy_stmt(self, s: str) -> DataFrame | None:
        m = _COPY_TO_RE.match(s)
        if m:
            return self._copy_to(m.group(1), m.group(2), m.group(3), m.group(4))
        m = _COPY_FROM_RE.match(s)
        if m:
            return self._copy_from(m.group(1), m.group(2), m.group(3))
        return None

    def _truncate_stmt(self, s: str) -> DataFrame | None:
        # PG TRUNCATE (tablecmds.c ExecuteTruncate): empty the
        # relation(s), keep the schema. RESTART/CONTINUE IDENTITY
        # and CASCADE/RESTRICT are accepted (sequences restart via
        # ALTER SEQUENCE; there are no FK cascades to chase).
        import pyspark.sql.functions as F

        m = _TRUNCATE_RE.match(s)
        if m is None:
            return None
        resolved = [(n, self._writable_by_name(n)) for n in re.findall(_NAME, m.group(1))]
        if all(t is None for _, t in resolved):
            return None  # nothing engine-managed: not ours to handle
        # PG errors on ANY missing relation (tablecmds.c
        # ExecuteTruncate → RangeVarGetRelid), same as single-table
        # DML — no partial truncate-and-report-success.
        missing = [n for n, t in resolved if t is None]
        if missing:
            raise KeyError(
                f"TRUNCATE: relation(s) do not exist: "
                f"{', '.join(missing)}"
            )
        total = 0
        for name, t in resolved:
            total += t.delete(F.lit(True))
            self._refresh_view(name, t)
        return self._tag(total)

    def _select_into_stmt(self, s: str) -> DataFrame | None:
        # PG SELECT ... INTO [TEMP] tbl [FROM ...] (gram.y
        # into_clause — the pre-CTAS spelling): same
        # materialization as CTAS; the FROM-less form holds one
        # computed row. Like CREATE TABLE AS, an existing target
        # errors (execMain.c CreateIntoRelDestReceiver).
        m = _SELECT_INTO_RE.match(s)
        if m is None:
            return None
        return self._create_table_stmt(
            f"CREATE TABLE {m.group(2)} AS {m.group(1)} "
            f"{m.group(3) or ''}".strip())

    @staticmethod
    def _copy_options(opts: str | None) -> dict[str, str]:
        """Parse `(FORMAT CSV, HEADER true, DELIMITER '|')`-style COPY
        options (commands/copy.c ProcessCopyOptions). Defaults mirror
        PG: text format, no header, and a tab delimiter in text format
        but a comma in csv format."""
        out = {"format": "text", "header": "false"}
        for item in _split_commas(opts or ""):
            kv = item.strip().split(None, 1)
            key = kv[0].lower()
            val = kv[1].strip().strip("'") if len(kv) > 1 else "true"
            if key == "format":
                out["format"] = val.lower()
            elif key == "header":
                out["header"] = "true" if val.lower() in ("true", "on", "") else "false"
            elif key == "delimiter":
                out["sep"] = val
        out.setdefault("sep", "," if out["format"] == "csv" else "\t")
        return out

    def _copy_to(
        self, select: str | None, name: str | None, path: str, opts: str | None
    ) -> DataFrame:
        """COPY table|(query) TO 'path' (commands/copy.c DoCopyTo).
        Writes a *directory* of per-partition files — GP's
        `COPY ... TO '<file>' ON SEGMENT` semantics (each segment
        unloads its slice), which is the only shape that scales; a
        single-file unload would serialize 100 TB through one writer."""
        df = self.spark.sql(self._rewrite(select)) if select else self._source(name)[0]
        o = self._copy_options(opts)
        n = df.count()
        w = df.write.mode("overwrite")
        if o["format"] == "parquet":
            w.parquet(path)
        else:
            w.option("header", o["header"]).option("sep", o["sep"]).csv(path)
        return self._tag(n)

    def _copy_from(self, name: str, path: str, opts: str | None) -> DataFrame:
        """COPY table FROM 'path' (commands/copy.c DoCopyFrom): read
        with the target's schema (PG casts input text through each
        column's input function), append via the table's insert path."""
        t = self._writable_by_name(name)
        if t is None:
            raise KeyError(f"{name!r} is not a writable parquet table")
        o = self._copy_options(opts)
        schema = t.read().schema
        if o["format"] == "parquet":
            df = self.spark.read.parquet(path)
            df = df.select(
                *[df[f.name].cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        else:
            df = (
                self.spark.read.schema(schema)
                .option("header", o["header"])
                .option("sep", o["sep"])
                .csv(path)
            )
        n = t.insert(df)
        self._refresh_view(name, t)
        return self._tag(n)

    def _merge_stmt(self, s: str) -> DataFrame | None:
        """SQL-text MERGE (PG 15; reference parser/parse_merge.c,
        executor/nodeModifyTable.c ExecMerge):

            MERGE INTO tgt [AS t] USING src|(subquery) [AS s] ON cond
              WHEN MATCHED [AND c] THEN UPDATE SET ... | DELETE
              WHEN NOT MATCHED [AND c] THEN
                  INSERT [(cols)] VALUES (exprs) | DO NOTHING

        Parsed into ordered `When` clauses for `ParquetTable.merge`,
        where the first passing clause wins (PG's semantics).
        Deviation (documented): PG errors when one target row matches
        several source rows ('MERGE command cannot affect row a second
        time'); here the first by the source's columns is used.
        """
        import pyspark.sql.functions as F

        masked, lits = _mask(s)
        parts = re.split(
            r"\bWHEN\s+(?=MATCHED\b|NOT\s+MATCHED\b)", masked,
            flags=re.IGNORECASE,
        )
        if len(parts) < 2:
            raise ValueError("MERGE requires at least one WHEN clause")
        head, using, on = _clauses(_unmask(parts[0], lits), ("USING", "ON"))
        hm = re.match(rf"^MERGE\s+INTO\s+({_NAME})(?:\s+(?:AS\s+)?(\w+))?$",
                      head, re.IGNORECASE)
        if hm is None or using is None:
            raise ValueError(f"cannot parse MERGE header: {parts[0][:80]!r}")
        if on is None:
            raise ValueError("MERGE requires ON <condition>")
        name = hm.group(1)
        t = self._writable_by_name(name)
        if t is None:
            return None

        whens: list[When] = []
        for cl in parts[1:]:
            cm = re.match(
                r"^(NOT\s+)?MATCHED\s*(?:AND\s+(.*?))?\s*THEN\s+(.*)$",
                cl.strip(),
                re.IGNORECASE | re.DOTALL,
            )
            if cm is None:
                raise ValueError(f"cannot parse MERGE WHEN clause: {cl[:80]!r}")
            is_matched = cm.group(1) is None
            cond = F.expr(_unmask(cm.group(2), lits)) if cm.group(2) else None
            action = cm.group(3).strip()
            um = re.match(r"^UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL)
            im = re.match(
                r"^INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.*)\)\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if um:
                if not is_matched:
                    raise ValueError("WHEN NOT MATCHED cannot UPDATE")
                whens.append(When(True, "update", cond, {
                    c: F.expr(_unmask(e, lits))
                    for c, e in _split_assignments(um.group(1))}))
            elif re.match(r"^DELETE\s*$", action, re.IGNORECASE):
                if not is_matched:
                    raise ValueError("WHEN NOT MATCHED cannot DELETE")
                whens.append(When(True, "delete", cond))
            elif im:
                if is_matched:
                    raise ValueError("WHEN MATCHED cannot INSERT")
                cols = ([c.strip() for c in im.group(1).split(",")] if im.group(1)
                        else [c for c in t.read().columns if c not in t.derived])
                whens.append(When(False, "insert", cond, {
                    c: F.expr(_unmask(v, lits))
                    for c, v in zip(cols, _split_commas(im.group(2)))}))
            elif re.match(r"^DO\s+NOTHING\s*$", action, re.IGNORECASE):
                whens.append(When(is_matched, "nothing", cond))
            else:
                raise ValueError(f"unsupported MERGE action: {action[:60]!r}")

        src_df, src_alias = self._source(using)
        counts, _ = t.merge(src_df, F.expr(on), whens,
                            alias=hm.group(2) or _table_key(name), source_alias=src_alias)
        self._refresh_view(name, t)
        return self._tag(sum(counts.values()))

    def _source(self, text: str) -> tuple[DataFrame, str]:
        """A FROM/USING relation, `name [[AS] alias]` or `(query) [AS]
        alias`: its rows and the name its columns are qualified by."""
        m = re.match(rf"^(\(.*\)|{_NAME})(?:\s+(?:AS\s+)?(\w+))?$", text,
                     re.IGNORECASE | re.DOTALL)
        if m is None:
            raise ValueError(f"cannot parse relation: {text[:80]!r}")
        rel, alias = m.groups()
        if rel.startswith("("):
            if alias is None:
                raise ValueError("a subquery source needs an alias")
            return self.spark.sql(rel[1:-1]), alias
        key = _table_key(rel)  # a name in another schema: as Spark reads it
        return self.spark.table(rel if key is None else view_name(key)), alias or key or rel

    def _writable_by_name(self, name: str) -> ParquetTable | None:
        """The engine table a statement names, or None: Spark runs the
        statement (a Spark-catalog table, a view, a read-only file)."""
        info = self.catalog.tables.get(_table_key(name))
        if info is None or not os.path.isdir(info.path):
            return None
        return ParquetTable(self.spark, info.path, info.partition_cols,
                            info.derived)

    def _relation_dir(self, key: str, prefix: str = "") -> str:
        """The directory of a table or matview under `warehouse_dir`; a key
        that is no one directory name raises (DROP would rmtree `..`)."""
        if key in ("", ".", "..") or "/" in key or "\0" in key:
            raise ValueError(f'invalid relation name "{key}": a table is a directory')
        return os.path.join(self.warehouse_dir, prefix + key)

    def _refresh_view(self, name: str, t: ParquetTable) -> None:
        t.read().createOrReplaceTempView(view_name(_table_key(name)))

    def _tag(self, n: int) -> DataFrame:
        return local_frame(self.spark, [(n,)], "rows_affected BIGINT")

    # ------------------------------------------------------------- catalog
    def attach_fixtures(self, sf_dir: str) -> None:
        self.catalog.register_fixtures(sf_dir)

    def attach_parquet(self, name: str, path: str, **kw) -> None:
        self.catalog.register_parquet(name, path, **kw)

    # ----------------------------------------------------------------- UDF
    def create_function(
        self, name: str, fn, return_type, volatility: str = "immutable"
    ) -> None:
        """CREATE FUNCTION for Python callables (§2.11). Row-at-a-time —
        the slow path; prefer create_sql_function / pandas UDFs.

        volatility mirrors PG's classes (pg_proc.provolatile,
        CREATE FUNCTION ... IMMUTABLE | STABLE | VOLATILE):
        immutable/stable UDFs stay deterministic (Catalyst may collapse
        duplicate calls, constant-fold, reorder past filters); volatile
        marks the UDF non-deterministic so the optimizer evaluates it
        exactly as written (no dedup, no pushdown past it) — Spark's
        asNondeterministic is precisely PG's volatile contract."""
        from pyspark.sql.functions import udf

        if volatility.lower() == "volatile":
            self.spark.udf.register(
                name, udf(fn, return_type).asNondeterministic()
            )
        else:
            self.spark.udf.register(name, fn, return_type)

    def create_sql_function(self, name: str, signature: str, returns: str, body: str) -> None:
        """CREATE FUNCTION as a pure-SQL expression (fast path: Catalyst
        codegen, no Python boundary)."""
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({signature}) "
            f"RETURNS {returns} RETURN {body}"
        )

    # ----------------------------------------------------------------- DML
    def writable(self, path: str) -> ParquetTable:
        return ParquetTable(self.spark, path)

    def create_table_from(
        self, name: str, df: DataFrame, partition_by: tuple[str, ...] = (),
        derived: dict[str, Column] | None = None,
        distribution: tuple[str, tuple[str, ...]] | None = None,
    ) -> ParquetTable:
        """The one way a table is created: `df` written to
        `warehouse_dir/<name>` and registered with its view. `derived`
        columns are computed from the row on every write;
        `distribution` is the DISTRIBUTED BY hint. Spark resolves names
        case-insensitively: a name equal to a table's but for case raises."""
        if any(k.lower() == name.lower() for k in self.catalog.tables):
            raise ValueError(f'relation "{name}" already exists')
        t = ParquetTable(self.spark, self._relation_dir(name), partition_by, derived)
        t.write(df, "overwrite")
        self.catalog.register_parquet(
            name, t.path, distribution, partition_by, derived=derived)
        return t

    def create_bucketed_table(
        self,
        name: str,
        df: DataFrame,
        keys: tuple[str, ...],
        num_buckets: int = 32,
    ) -> DataFrame:
        """`CREATE TABLE ... DISTRIBUTED BY (keys)` with real data
        placement: bucketed managed table (see
        Catalog.materialize_bucketed)."""
        return self.catalog.materialize_bucketed(name, df, keys, num_buckets)

    def analyze(self, name: str, columns: tuple[str, ...] = ()) -> None:
        """ANALYZE (commands/analyze.c): table + column stats for
        Catalyst's CBO (ORCA's statistics derivation, SURVEY §4.1) of a
        Spark catalog (bucketed) table; Spark raises for any other name.
        An engine table is a temp view, which Spark's ANALYZE refuses,
        and the engine keeps no statistics yet: it starts no job."""
        info = self.catalog.tables.get(_table_key(name))
        if info is not None and info.path:
            return
        self._spark_stmt(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        if columns:
            self._spark_stmt(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS "
                             + ", ".join(columns))

    # ------------------------------------------------------------ matviews
    def create_materialized_view(self, name: str, sql: str) -> DataFrame:
        """CREATE MATERIALIZED VIEW (commands/matview.c analogue):
        results persisted as parquet + registered; refresh re-runs."""
        path = self._relation_dir(name, "_mv_")
        df = self.sql(sql)
        df.write.mode("overwrite").parquet(path)
        self._matviews[name] = MaterializedView(name, sql, path)
        read_parquet_table(self.spark, path).createOrReplaceTempView(view_name(name))
        return self.spark.table(view_name(name))

    def refresh_materialized_view(self, name: str) -> DataFrame:
        mv = self._matviews[name]
        return self.create_materialized_view(mv.name, mv.sql)

    # -------------------------------------------------------- introspection
    def metrics(self) -> DataFrame:
        """Cluster/table introspection (gp_toolkit / gp_size_of_* and
        pg_relation_size analogues, SURVEY §2.9 misc): one row per
        registered table with row count, on-disk bytes, file count, and
        the distribution hint. Sizes come from the filesystem (the
        storage layer a DBA actually bills), row counts from the
        parquet footers (no Spark job)."""
        return local_frame(
            self.spark, self._table_metrics(),
            "table_name string, n_rows long, n_bytes long, n_files long, "
            "distribution string, dist_keys array<string>",
        )

    def _table_metrics(self) -> list[tuple]:
        """The rows of `metrics()`."""
        rows = []
        for name, info in sorted(self.catalog.tables.items()):
            # Pathless entries are bucketed managed tables
            # (materialize_bucketed stores path=""): resolve through the
            # Spark catalog and size the warehouse directory instead.
            path = info.path
            if not path:
                warehouse = self.spark.conf.get(
                    "spark.sql.warehouse.dir", "spark-warehouse"
                )
                path = os.path.join(warehouse.removeprefix("file:"), name)
            # Catalog entries can outlive their backing relation
            # (DDL-registered names dropped mid-session, stale temp
            # views): report them absent rather than failing the
            # whole introspection sweep — pg_stat rows for dropped
            # relations simply disappear in PG too.
            if info.path and not os.path.exists(path):
                continue
            try:
                n_rows = footer_rows(path) if info.path else self.spark.table(name).count()
            except Exception:
                continue
            files = data_files(path)
            n_files, n_bytes = len(files), sum(st.st_size for _, st in files)
            policy, keys = info.distribution
            rows.append((name, n_rows, n_bytes, n_files, policy, list(keys)))
        return rows
