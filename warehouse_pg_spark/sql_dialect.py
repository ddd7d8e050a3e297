"""PG → Spark SQL dialect shim (SURVEY §3.1: 'our engine adds a thin
SQL-dialect shim in front of spark.sql plus our function registry').

Conservative, token-aware textual rewrites for the PG-isms that appear
in the reference regress corpus but aren't Spark SQL:

  expr::type            -> CAST(expr AS type)       (simple operands)
  j ->> 'k'  /  -> 'k'  -> get_json_object(j, '$.k')   (chains fold
                           into one path: j->'a'->>'b' -> '$.a.b')
  expr ~ 'pat' (~* !~ !~*) -> [NOT] expr RLIKE 'pat'  (regexp.c
                           textregexeq; ~* prefixes '(?i)')
  ARRAY[a, b, ...]      -> array(a, b, ...)         (gram.y ARRAY[])
  a @> b / a <@ b       -> forall(contains) rewrites (arrayfuncs.c)
  j @? 'path' / j @@ 'pred' -> get_json_object / exists() predicates
                           (jsonpath_exec.c subset: member chains,
                           ? (@ OP v) filters, [*] wildcards)
  a IS [NOT] DISTINCT FROM b -> [NOT] (a <=> b)  (null-safe equality)
  s [NOT] SIMILAR TO 'pat'  -> RLIKE with %→.* _→. anchored translation
  (s1,e1) OVERLAPS (s2,e2)  -> normalized half-open interval predicate
  (k1,k2) > (v1,v2)         -> struct comparison with aligned field names
  FETCH FIRST n ROWS WITH TIES -> rank() window (ties survive the limit)
  a && b                -> arrays_overlap(a, b)
  ORDER BY x [ASC|DESC] -> explicit NULLS LAST/FIRST injected per item
                           (PG defaults ASC NULLS LAST, gram.y
                           opt_nulls_order; Spark defaults NULLS FIRST)
  generate_series(a,b[,s]) in FROM -> explode(sequence(...))
  string_agg(x, sep ORDER BY k) -> listagg ... WITHIN GROUP
  EXTRACT(EPOCH FROM x) -> unix_seconds(CAST(x AS TIMESTAMP))
  SELECT DISTINCT ON (k) ... -> row_number window, first row per key
  text/int4/int8/float8 type names -> STRING/INT/BIGINT/DOUBLE
  TRUE/FALSE literals, ILIKE, string concat ||  -> native (already valid)

String literals and comments are masked out before any regex pass, so
content inside '...' (e.g. a literal 'a::text') is never rewritten,
and comments can't confuse the patterns. The shim never parses full
SQL — each rewrite is a bounded regex with word-boundary guards;
anything it doesn't recognize passes through to Spark's parser
untouched.
"""

from __future__ import annotations

import re

from warehouse_pg_spark.dialect.compare import (
    _rewrite_between_symmetric,
    _rewrite_decode,
    _rewrite_distinct_similar,
    _rewrite_op_any_all,
    _rewrite_overlaps,
    _rewrite_regex_match,
    _rewrite_row_compare,
    _rewrite_substring_regex,
)
from warehouse_pg_spark.dialect.fts import (  # noqa: F401
    rewrite_fts,
)
from warehouse_pg_spark.dialect.geonet import (
    _rewrite_pg_geo,
    _rewrite_pg_network,
)
from warehouse_pg_spark.dialect.litchecks import (
    check_misc_literals,
    check_numeric_literals,
)
from warehouse_pg_spark.dialect.jsonops import (
    _rewrite_arrows,
    _rewrite_jsonpath,
)
from warehouse_pg_spark.dialect.mask import (
    _DISTINCT_OPERAND,
    _LIT,
    _MASK_RE,
    _NAME,
    _lit_value,
    _mask,
    _new_lit,
    _new_lit_raw,
    _split_commas,
    _unmask,
)
from warehouse_pg_spark.dialect.mathdate import (
    _decode_uescape,
    _pg_date_fold,
    _rewrite_pg_math_ops,
)
from warehouse_pg_spark.dialect.ordering import (
    _inject_nulls_ordering,
    _rewrite_distinct_on,
    _rewrite_dollar_quotes,
    _rewrite_with_ties,
)
from warehouse_pg_spark.dialect.pgfns import (
    _TZ_ABBREV_OFFSETS,
    _TZ_ABBREV_ZONES,
    _rewrite_pg_misc_fns,
)
from warehouse_pg_spark.dialect.srf import (
    _analyze_srf_item,
    _rewrite_multi_srf_select,
    _rewrite_nested_srf,
    _rewrite_srf_from_bare,
    _rewrite_srf_order_by,
    _rewrite_srf_ordinality,
)
from warehouse_pg_spark.dialect.typemap import (
    _braced_to_array,
    _map_type,
    _parse_braced_elems,
    _parse_braced_tree,
    _rewrite_cast_typenames,
    _rewrite_create_table_defs,
    map_decl_type,
)
from warehouse_pg_spark.dialect.xmlgen import (
    _rewrite_xml_ctors,
    set_xmlbinary,
)


# ------------------------------------------------------------------ patterns
# expr::type for simple operands: identifier, masked literal, number,
# or a parenthesized tail like fn(x)::text (matches the closing paren).
_CAST_RE = re.compile(
    rf"(\w+\([^()]*\)|{_LIT}|[\w.]+)\s*::\s*"
    r"(ARRAY<[\w<>(),\s]*>"
    r"|[a-zA-Z_][\w]*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
)
_GJO_BASE_RE = None  # built lazily in _rewrite_arrows (needs _LIT)

_ARRAY_CTOR_RE = re.compile(r"\bARRAY\s*\[([^\[\]]*)\]", re.IGNORECASE)

# array operands for @> / <@ / && : array(...) call, identifier, or
# parenthesized tail
_ARR_OPERAND = r"(?:array\s*\([^()]*\)|[\w.\)\]]+)"
_ARR_CONTAINS_RE = re.compile(rf"({_ARR_OPERAND})\s*@>\s*({_ARR_OPERAND})")
_ARR_CONTAINED_RE = re.compile(rf"({_ARR_OPERAND})\s*<@\s*({_ARR_OPERAND})")
_ARR_OVERLAP_RE = re.compile(rf"({_ARR_OPERAND})\s*&&\s*({_ARR_OPERAND})")

_DECODE_RE = re.compile(r"\bDECODE\s*\(([^()]*)\)", re.IGNORECASE)


_GENSERIES_FROM_RE = re.compile(
    r"\bFROM\s+generate_series\s*\(([^()]*)\)\s*(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*\)",
    re.IGNORECASE,
)

# ROWS FROM (fn(...)) AS t(c) (gram.y rows_from single-function form) —
# equivalent to plain FROM fn(...); the multi-function zipping form is
# not supported
_ROWS_FROM_RE = re.compile(
    r"\bFROM\s+ROWS\s+FROM\s*\(\s*(\w+\s*\((?:[^()]|\([^()]*\))*\))\s*\)",
    re.IGNORECASE,
)

# EXTRACT(EPOCH FROM expr) — Spark's Extract has no epoch field
_EXTRACT_EPOCH_RE = re.compile(
    r"\bEXTRACT\s*\(\s*EPOCH\s+FROM\s+([^()]+|\([^()]*\))\s*\)",
    re.IGNORECASE,
)

# EXTRACT(DOW/ISODOW FROM expr) — PG numbers days Sunday=0..Saturday=6
# (dow) / Monday=1..Sunday=7 (isodow); Spark's dayofweek is Sunday=1
# and weekday is Monday=0 (timestamp.c timestamp_part)
_EXTRACT_DOW_RE = re.compile(
    r"\bEXTRACT\s*\(\s*(DOW|ISODOW)\s+FROM\s+([^()]+|\([^()]*\))\s*\)",
    re.IGNORECASE,
)

# EXTRACT(CENTURY/DECADE/MILLENNIUM) — PG's wide fields (timestamp.c
# timestamp_part) that Spark's Extract lacks: century 2020 → 21,
# decade → 202, millennium → 3 (AD-era formulas; BC not modeled)
_EXTRACT_WIDE_RE = re.compile(
    r"\bEXTRACT\s*\(\s*(CENTURY|DECADE|MILLENNIUM)\s+FROM\s+"
    r"([^()]+|\([^()]*\))\s*\)",
    re.IGNORECASE,
)
_WIDE_FORMULAS = {
    "CENTURY": "(CAST(floor((year({x}) - 1) / 100) AS INT) + 1)",
    "DECADE": "CAST(floor(year({x}) / 10) AS INT)",
    "MILLENNIUM": "(CAST(floor((year({x}) - 1) / 1000) AS INT) + 1)",
}

# COLLATE "C" / COLLATE pg_catalog.default (gram.y a_expr COLLATE):
# collation is a per-expression sort locale in PG; Spark strings
# compare binary (= "C"), so the clause strips
# the name may be double-quoted (raw) or already backtick-quoted by the
# identifier pass
_COLLATE_RE = re.compile(
    r'\s+COLLATE\s+("[^"]+"|`[^`]+`|[\w.]+)', re.IGNORECASE
)

# SELECT ... FOR [NO KEY] UPDATE / FOR [KEY] SHARE [OF tables]
# [NOWAIT | SKIP LOCKED] (gram.y for_locking_clause) — row locks have
# no analogue without transactions; accepted and stripped
_LOCK_CLAUSE_RE = re.compile(
    r"\s+FOR\s+(?:NO\s+KEY\s+UPDATE|KEY\s+SHARE|UPDATE|SHARE)"
    r"(?:\s+OF\s+[\w.]+(?:\s*,\s*[\w.]+)*)?"
    r"(?:\s+(?:NOWAIT|SKIP\s+LOCKED))?\s*$",
    re.IGNORECASE,
)

# FROM/JOIN/UPDATE ONLY tbl (gram.y relation_expr) — table inheritance
# doesn't exist here, ONLY is the identity
_FROM_ONLY_RE = re.compile(
    r"\b(FROM|JOIN|UPDATE|INTO)\s+ONLY\s+", re.IGNORECASE
)
# operand may carry a ::cast suffix — the pass runs BEFORE the ::
# rewrites so the timestamp-vs-timestamptz direction is still visible
_AT_TIME_ZONE_RE = re.compile(
    rf"((?:(?:TIMESTAMP|DATE)\s*{_LIT}|{_DISTINCT_OPERAND})"
    rf"(?:\s*::\s*\w+(?:\s+with(?:out)?\s+time\s+zone)?)?)"
    rf"\s+AT\s+TIME\s+ZONE\s+({_LIT})",
    re.IGNORECASE,
)
_TS_ABBREV_BODY_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}(?::\d{2})?(?:\.\d+)?) "
    r"([A-Z]{2,5})$"
)
# PG range types (rangetypes.c) — constructors lower to pg_range(...)
# over the functions/ranges.py bounds struct; int4range/int8range
# canonicalize to [lo, hi) at rewrite time (int4range_canonical).
_RANGE_CTOR_RE = re.compile(
    r"\b(numrange|int4range|int8range|tsrange|daterange)\s*"
    r"\(((?:[^()]|\([^()]*\))*)\)",
    re.IGNORECASE,
)
# parens nest 4 deep: range_intersect_ts(pg_range_ts(CAST(x), ...), ..)
_RANGE_NEST = (
    r"\((?:[^()]|\((?:[^()]|\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))*\))*\)"
)
_RANGE_EXPR = (
    rf"(?:pg_range|range_union|range_intersect|range_minus|range_merge)(?:_ts|_i8|_str)?\s*{_RANGE_NEST}"
)
_RANGE_SFX_HEAD_RE = re.compile(
    r"(?i)^(?:pg_range|range_union|range_intersect|range_minus|range_merge)(_ts|_i8|_str)\b"
)
# isempty/lower_inc/... are registered per bound type; route the
# timestamp/int8-family structs to the _ts/_i8 overloads (Spark would
# otherwise implicitly COERCE the struct into the double overload and
# print epoch numbers — a silent wrong-typed output)
_RANGE_FN_SFX_RE = re.compile(
    r"\b(isempty|lower_inc|upper_inc|lower_inf|upper_inf|range_text)"
    rf"\s*\(\s*((?:pg_range|range_union|range_intersect|range_minus"
    rf"|range_merge)(_ts|_i8|_str)\s*"
    rf"{_RANGE_NEST})\s*\)",
    re.IGNORECASE,
)
# two-range functions (range_merge) route to the _ts/_i8 overload of
# their FIRST argument's family
_RANGE_FN2_SFX_RE = re.compile(
    r"\b(range_merge)"
    rf"\s*\(\s*((?:pg_range|range_union|range_intersect|range_minus"
    rf"|range_merge)(_ts|_i8)\s*"
    rf"{_RANGE_NEST}\s*,\s*{_RANGE_EXPR})\s*\)",
    re.IGNORECASE,
)
_RANGE_SCALAR = (
    rf"(?:(?:TIMESTAMP|DATE)\s*{_LIT}|{_LIT}"
    rf"|[\w.]+\((?:[^()]|\([^()]*\))*\)|[-\w.$]+)"
    # absorb a ::type suffix ('b'::text) so the cast is part of the
    # scalar operand, not a dangling tail after the op lowers
    r"(?:\s*::\s*\w+(?:\s+precision|\s+varying)?)?"
)
_RANGE_OP_RE = re.compile(
    rf"({_RANGE_EXPR})\s*(@>|<@|&&|&<|&>|-\|-|<<|>>|\*|\+|=|-(?!\|))\s*"
    rf"({_RANGE_EXPR}|{_RANGE_SCALAR})",
    re.IGNORECASE,
)
_ELEM_RANGE_OP_RE = re.compile(
    rf"({_RANGE_SCALAR})\s*<@\s*({_RANGE_EXPR})", re.IGNORECASE
)
_RANGE_BOUND_FN_RE = re.compile(
    rf"\b(lower|upper)\s*\(\s*({_RANGE_EXPR})\s*\)", re.IGNORECASE
)
# jsonb_path_* function forms → operator/UDF lowerings
_JSONB_PATH_FN_RE = re.compile(
    r"\bjsonb_path_(query_array|query_first|query|exists|match)\s*"
    r"\(((?:[^()]|\([^()]*\))*)\)",
    re.IGNORECASE,
)
_DQUOTE_IDENT_RE = re.compile(r'"((?:[^"]|"")*)"')
_BYTEA_CAST_RE = re.compile(
    rf"(?:(?:\bE)?({_LIT})\s*::\s*bytea\b|\bbytea\s+({_LIT}))",
    re.IGNORECASE,
)
_MONEY_CAST_RE = re.compile(
    # operand: literal, CAST(..)-chain output of earlier passes,
    # parenthesized expression ('(-12345)::money'), or bare name —
    # optionally through intermediate casts ('x::int8::money', cash.c
    # int8_cash): the chain stays inside the operand and the later
    # generic cast pass lowers it
    rf"((?:{_LIT}"
    r"|CAST\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"
    r"|\((?:[^()]|\([^()]*\))*\)"
    r"|[\w.]+)"
    r"(?:\s*::\s*(?!money\b)\w+(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)*)"
    r"\s*::\s*money\b(\s*::\s*numeric\b)?",
    re.IGNORECASE,
)
# jsonb containment: at least one operand explicitly typed jsonb
# (`jsonb '...'` literal or ::jsonb cast); runs BEFORE the generic
# array @>/<@ pass, which would lower these to forall(array_contains)
_JSONB_OPND = rf"(?:jsonb\s*{_LIT}|(?:{_LIT}|[\w.]+)\s*::\s*jsonb)"
_JSONB_CONTAINS_RE = re.compile(
    rf"({_JSONB_OPND}|{_LIT}|[\w.]+)\s*(@>|<@)\s*({_JSONB_OPND})"
    rf"|({_JSONB_OPND})\s*(@>|<@)\s*({_LIT}|[\w.]+)",
    re.IGNORECASE,
)
_JSONB_STRIP_RE = re.compile(
    rf"^(?:jsonb\s*({_LIT})|((?:{_LIT}|[\w.]+))\s*::\s*jsonb)$", re.IGNORECASE
)
# `a || b + c`: PG binds arithmetic TIGHTER than || (gram.y operator
# precedence: '+'/'-' above Op/'||'); Spark binds || tighter, so
# 'four: ' || 2+2 concatenates first and casts 'four: 2' to a number
# (NULL). Parenthesize the simple-operand arithmetic chain on either
# side of ||. Operands: masked literals, numbers, bare identifiers —
# parenthesized expressions already group explicitly.
_CONCAT_OPND = r"(?:\x01\d+\x01|[\w.]+)"
_CONCAT_ARITH_R_RE = re.compile(
    rf"\|\|\s*({_CONCAT_OPND}(?:\s*[+\-*/%]\s*{_CONCAT_OPND})+)(?!\s*\()"
)
_CONCAT_ARITH_L_RE = re.compile(
    rf"(?<![\w.\x01)])({_CONCAT_OPND}(?:\s*[+\-*/%]\s*{_CONCAT_OPND})+)\s*\|\|"
)
_MAKE_TSTZ_RE = re.compile(r"\bmake_timestamptz\s*\(", re.IGNORECASE)
# multiword type names in CAST(.. AS t) / expr::t position — normalized
# to the Spark single-word spelling. The (?!\s*\x01) lookahead skips the
# `double precision '1.5'` literal-prefix form, which its own pass
# (_DOUBLE_PREC_LIT_RE / _TS_ZONE_LIT_RE) rewrites later.
_DOUBLE_PREC_TYPE_RE = re.compile(
    r"\bdouble\s+precision\b(?!\s*\x01)", re.IGNORECASE
)
_CHAR_VARYING_TYPE_RE = re.compile(
    r"\bcharacter\s+varying(?:\s*\(\s*\d+\s*\))?(?!\s*\x01)", re.IGNORECASE
)
_TS_ZONE_TYPE_RE = re.compile(
    r"\btimestamp\s+with(?:out)?\s+time\s+zone\b(?!\s*\x01)", re.IGNORECASE
)
# PG braced array-literal text form '{a,b,c}' cast to an array type
# (arrayfuncs.c array_in): built into an array(...) at rewrite time.
# Basic comma form only — nested arrays / escaped quotes stay loud.
_BRACED_ARRAY_CAST_RE = re.compile(
    rf"({_LIT})\s*::\s*(\w+)\s*\[\s*\]"
)
# scalar typed-literal prefixes for mapped PG type names (gram.y
# AexprConst): bool 'n', int4 '7', numeric '1.5', text 'x'
_TYPED_SCALAR_LIT_RE = re.compile(
    r"\b(boolean|bool|int2|int4|int8|float4|float8|numeric|text"
    r"|varchar|bpchar|oid|name)\s+(\x01\d+\x01)",
    re.IGNORECASE,
)
# `char 'c'` / `char(20) 'chars'` typed literals (gram.y AexprConst
# with CharacterType): STRING here — bpchar padding is display-only
_CHAR_TYPED_LIT_RE = re.compile(
    r"\bchar(?:acter)?\s*(?:\(\s*\d+\s*\))?\s+(\x01\d+\x01)",
    re.IGNORECASE,
)
_XML_TYPED_LIT_RE = re.compile(rf"\bxml\s+({_LIT})", re.IGNORECASE)
# LIKE/ILIKE '<pat>' ESCAPE '<c>' with a custom escape char (like.c
# MatchText): Spark rejects escape chars that are themselves LIKE
# wildcards ('_', '%') — normalize to the default backslash escape at
# rewrite time (both operands are literals)
_LIKE_ESCAPE_RE = re.compile(
    rf"\b(LIKE|ILIKE)\s+({_LIT})\s+ESCAPE\s+({_LIT})", re.IGNORECASE
)

# U&'...' [UESCAPE '!'] unicode-escape strings (scan.l xus/xue states)
_UESCAPE_LIT_RE = re.compile(
    rf"\bU&\s*({_LIT})(?:\s+UESCAPE\s+({_LIT}))?", re.IGNORECASE
)

# PG string_agg(x, 'sep' ORDER BY cols) → listagg WITHIN GROUP (the
# ORDER BY sits inside the call parens in PG, after them in Spark)
_STRING_AGG_ORDER_RE = re.compile(
    rf"\bstring_agg\s*\(([^(),]+),\s*({_LIT})\s+ORDER\s+BY\s+([^()]+)\)",
    re.IGNORECASE,
)
_STRING_AGG_RE = re.compile(
    rf"\bstring_agg\s*\(([^(),]+),\s*({_LIT})\s*\)", re.IGNORECASE
)

_ALTER_ADD_COL_RE = re.compile(
    r"(\bADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?\w+\s+)"
    r"((?:[A-Za-z_]\w*\s*)+(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)",
    re.IGNORECASE,
)


def rewrite(sql: str) -> str:
    """Apply all PG→Spark rewrites to a SQL string."""
    sql = _rewrite_dollar_quotes(sql)
    # declarative partition children (PG10 gram.y PartitionBoundSpec:
    # CREATE TABLE c PARTITION OF p FOR VALUES ... / DEFAULT): the
    # child materializes as an empty table with the parent's schema —
    # Spark's layout keeps partitioning INSIDE one dataset
    # (partitionBy/bucketing), so per-partition child TABLES reduce
    # to schema clones; bound routing is not modeled (README)
    sql = re.sub(
        r"(?is)^\s*CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+"
        rf"|UNLOGGED\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_NAME})\s+"
        rf"PARTITION\s+OF\s+({_NAME}).*$",
        lambda m: (
            f"CREATE TABLE {m.group(1) or ''}{m.group(2)} "
            f"AS SELECT * FROM {m.group(3)} LIMIT 0"
        ),
        sql,
    )
    # CREATE TABLE x (LIKE t [INCLUDING/EXCLUDING ...] [, table
    # constraints]) — the LIKE clause copies t's columns
    # (parse_utilcmd.c transformTableLikeClause); constraints carry
    # no engine surface, so the whole form is a schema clone
    sql = re.sub(
        r"(?is)^\s*CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+"
        rf"|UNLOGGED\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_NAME})\s*"
        rf"\(\s*LIKE\s+({_NAME})"
        r"(?:\s+(?:INCLUDING|EXCLUDING)\s+\w+)*\s*"
        r"(?:,\s*CONSTRAINT\s+(?:[^()]|\([^()]*\))*)?\)"
        r"(?:\s+PARTITION\s+BY\b[^;]*)?\s*;?\s*$",
        lambda m: (
            f"CREATE TABLE {m.group(1) or ''}{m.group(2)} "
            f"AS SELECT * FROM {m.group(3)} LIMIT 0"
        ),
        sql,
    )
    # constraint-only column list + INHERITS (gram.y: TableConstraint
    # without columnDefs): the child adds no columns of its own — a
    # parent-schema clone; the CHECK drops with the other table
    # constraints (single-store engine, README deviations)
    sql = re.sub(
        r"(?is)^\s*CREATE\s+((?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+"
        rf"|UNLOGGED\s+)?)TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_NAME})\s*"
        r"\(\s*(?:CONSTRAINT\s+[\w\"]+\s+)?CHECK\s*"
        r"\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)\s*\)\s*"
        rf"INHERITS\s*\(\s*({_NAME})[^)]*\)[^;]*;?\s*$",
        lambda m: (
            f"CREATE TABLE {m.group(2) or ''}{m.group(3)} "
            f"AS SELECT * FROM {m.group(4)} LIMIT 0"
        ),
        sql,
    )
    # zero-column tables (gram.y OptTableElementList can be empty;
    # Spark requires >= 1 column): an empty column list with INHERITS
    # is a parent-schema clone; without, a marker column stands in for
    # the empty rowtype (README deviations — later ALTER ADD COLUMN
    # works as in PG)
    sql = re.sub(
        r"(?is)^\s*CREATE\s+((?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+"
        rf"|UNLOGGED\s+)?)TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_NAME})\s*"
        rf"\(\s*\)\s*INHERITS\s*\(\s*({_NAME})[^)]*\)[^;]*;?\s*$",
        lambda m: (
            f"CREATE TABLE {m.group(2) or ''}{m.group(3)} "
            f"AS SELECT * FROM {m.group(4)} LIMIT 0"
        ),
        sql,
    )
    sql = re.sub(
        r"(?is)^(\s*CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+"
        rf"|UNLOGGED\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_NAME}\s*)"
        r"\(\s*\)",
        r"\1(__pg_zero_col BOOLEAN)",
        sql,
    )
    # table inheritance with own columns: the INHERITS clause strips
    # (single-store engine; parent routing is not modeled — README)
    sql = re.sub(
        r"(?is)(\))\s*INHERITS\s*\(\s*[\w.\",\s]+\)", r"\1", sql
    )
    # GP table access methods (tableam; USING ao_row / ao_column /
    # heap): the engine's storage is parquet — drop the clause so the
    # session default applies
    sql = re.sub(
        r"(?i)\bUSING\s+(?:ao_row|ao_column|aoco|heap)\b", "", sql
    )
    # CTAS column-alias list (gram.y CreateAsStmt OptCreateAs):
    # CREATE TABLE t (a, b) AS q renames q's columns positionally —
    # Spark's CTAS takes no column list, but a subquery alias with a
    # column list does the same renaming
    sql = re.sub(
        r"(?is)^(\s*CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?"
        r"TEMP(?:ORARY)?\s+|UNLOGGED\s+)?TABLE\s+"
        rf"(?:IF\s+NOT\s+EXISTS\s+)?{_NAME})\s*"
        r"\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)\s*"
        r"AS\s+(SELECT\b.*)$",
        lambda m: (f"{m.group(1)} AS SELECT * FROM ({m.group(3).rstrip().rstrip(';')}) "
                   f"AS __ctas({m.group(2)})"),
        sql,
    )
    sql = _rewrite_create_table_defs(sql)
    # CTAS storage options: CREATE TABLE t WITH (appendonly=...) AS
    # SELECT — GP reloptions with no Spark parse form (the column-def
    # rewriter above only sees tables WITH column lists)
    sql = re.sub(
        rf"(?is)(CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_NAME}\s*)"
        r"WITH\s*\((?:[^()]|\([^()]*\))*\)\s*(AS\b)",
        r"\1\2",
        sql,
    )
    sql = _ALTER_ADD_COL_RE.sub(
        lambda m: m.group(1) + map_decl_type(m.group(2)), sql
    )
    out, lits = _mask(sql)

    # PG double-quoted identifiers (gram.y IDENT; strings are always
    # single-quoted and already masked) → Spark backtick identifiers.
    # '""' inside is PG's escaped quote char.
    out = _DQUOTE_IDENT_RE.sub(
        lambda m: "`" + m.group(1).replace('""', '"').replace("`", "") + "`",
        out,
    )

    # full-text search family (tsvector/tsquery casts, @@, ranks)
    # BEFORE the jsonpath @@ pass so FTS-typed @@ is claimed first
    out = rewrite_fts(out, lits)

    # ranking window functions without ORDER BY (PG allows an
    # unordered window — arbitrary order; Spark requires the clause):
    # append a constant ordering, same nondeterminism as PG's
    def _win_no_order(m: re.Match) -> str:
        if re.search(r"(?i)\bORDER\s+BY\b", m.group(3)):
            return m.group(0)
        # OVER (w) where w is a named-window reference (WINDOW w AS
        # ...): PG allows the bare reference even when w carries an
        # ORDER BY; rewriting it breaks Spark's parser — leave it
        if re.fullmatch(r"\s*[A-Za-z_]\w*\s*", m.group(3)) and not re.match(
            r"(?i)\s*(?:partition|order|rows|range|groups)\b", m.group(3)
        ):
            return m.group(0)
        return (
            f"{m.group(1)}{m.group(2)} OVER "
            f"({m.group(3)} ORDER BY null)"
        )

    out = re.sub(
        r"(?i)\b(row_number|rank|dense_rank|percent_rank|cume_dist"
        r"|ntile)\s*(\((?:[^()]|\([^()]*\))*\))\s+OVER\s*"
        r"\(((?:[^()]|\([^()]*\))*)\)",
        _win_no_order,
        out,
    )

    # numeric literals beyond DECIMAL(38) (PG numeric holds 131072
    # digits): route through a string->DOUBLE cast so Spark's lexer
    # never types them as an over-precision decimal
    def _clamp_num_lit(m: re.Match) -> str:
        ip, fp = m.group(0).split(".")
        if len(ip.lstrip("0")) + len(fp) <= 38:
            return m.group(0)
        return f"CAST('{m.group(0)}' AS DOUBLE)"

    out = re.sub(
        r"(?<![\w.])\d+\.\d{25,}(?![\w.])", _clamp_num_lit, out
    )

    # jsonb literal input rejects the \\u0000 escape (jsonb_util.c:
    # jsonb cannot store a NUL codepoint; json, a text type, can)
    def _check_jsonb_nul(m: re.Match) -> str:
        tok = m.group(1) or m.group(2)
        # only a REAL NUL escape (odd backslash run) is a NUL; a
        # \\u0000 inside the json text is an escaped backslash
        # followed by plain text (jsonb.out "not_an_escape" cases)
        if re.search(r"(?<!\\)(?:\\\\)*(\\u0000)",
                     _lit_value(tok, lits)):
            raise ValueError(
                "unsupported Unicode escape sequence")
        return m.group(0)

    out = re.sub(
        rf"\bjsonb\s+({_LIT})|({_LIT})\s*::\s*jsonb\b",
        _check_jsonb_nul,
        out,
        flags=re.IGNORECASE,
    )

    # json (the TEXT type) holds   fine, but extracting the field
    # AS TEXT (->> / #>>) cannot convert it (jsonfuncs.c,
    # json_encoding.out:106)
    def _check_json_nul_text(m: re.Match) -> str:
        if re.search(r"(?<!\\)(?:\\\\)*(\\u0000)",
                     _lit_value(m.group(1) or m.group(2), lits)):
            raise ValueError("unsupported Unicode escape sequence")
        return m.group(0)

    out = re.sub(
        rf"\bjson\s+({_LIT})\s*(?:->>|#>>)"
        rf"|({_LIT})\s*::\s*json\s*(?:->>|#>>)",
        _check_json_nul_text,
        out,
        flags=re.IGNORECASE,
    )

    # repeat(lit, n)::json folds enough to VALIDATE at plan time
    # (json parser depth/structure; repeat('[', 10000)::json raises)
    def _check_repeat_json(m: re.Match) -> str:
        import json as _json

        lit, n = _lit_value(m.group(1), lits), int(m.group(2))
        if len(lit) * n > 8 << 20:
            # don't materialize gigabytes at plan time — fall through
            # to the runtime path for absurd repeat counts
            return m.group(0)
        body = lit * n
        try:
            _json.loads(body)
        except RecursionError:
            raise ValueError("stack depth limit exceeded")
        except ValueError:
            raise ValueError("invalid input syntax for type json")
        return m.group(0)

    out = re.sub(
        rf"\brepeat\s*\(\s*({_LIT})\s*,\s*(\d+)\s*\)"
        r"\s*::\s*jsonb?\b",
        _check_repeat_json,
        out,
        flags=re.IGNORECASE,
    )

    # '...'::jsonpath literal casts validate at PLAN time
    # (jsonpath_scan.l token rules): PG raises on malformed paths at
    # parse; valid paths pay nothing (the cast still collapses to the
    # text form downstream)
    def _check_jsonpath_lit(m: re.Match) -> str:
        from warehouse_pg_spark.functions.pg import jsonpath_validate

        jsonpath_validate(_lit_value(m.group(1), lits))
        return m.group(0)

    out = re.sub(
        rf"({_LIT})\s*::\s*jsonpath\b", _check_jsonpath_lit, out
    )

    # '...'::jsonb::<scalar> literal chains (jsonb.c cast_jsonb_*):
    # PG raises unless the jsonb value IS a scalar of the target
    # family — fold valid ones to plain literals, raise otherwise
    def _fold_jsonb_scalar_cast(m: re.Match) -> str:
        import json as _json

        target = m.group(2).lower()
        try:
            v = _json.loads(_lit_value(m.group(1), lits))
        except ValueError:
            raise ValueError(
                "invalid input syntax for type json")
        fam = (
            "boolean" if target.startswith("bool")
            else "numeric"
        )
        if fam == "boolean" and isinstance(v, bool):
            return "true" if v else "false"
        _jb_int = {
            "int2": ("smallint", 32767, "SMALLINT"),
            "smallint": ("smallint", 32767, "SMALLINT"),
            "int": ("integer", 2147483647, "INT"),
            "int4": ("integer", 2147483647, "INT"),
            "integer": ("integer", 2147483647, "INT"),
            "int8": ("bigint", 9223372036854775807, "BIGINT"),
            "bigint": ("bigint", 9223372036854775807, "BIGINT"),
        }
        if fam == "numeric" and isinstance(
            v, (int, float)
        ) and not isinstance(v, bool):
            if target in _jb_int:
                # jsonb numbers are PG numerics: numeric->int rounds
                # half AWAY from zero (numeric.c) then range-checks
                pgname, lim, sty = _jb_int[target]
                import math as _math

                r = (
                    _math.floor(v + 0.5) if v >= 0
                    else _math.ceil(v - 0.5)
                )
                if not (-lim - 1 <= r <= lim):
                    raise ValueError(f"{pgname} out of range")
                return f"CAST({r} AS {sty})"
            sty = (
                "DOUBLE"
                if "float" in target
                or target in ("real", "double precision")
                else "DECIMAL(38,18)"
            )
            return f"CAST({v!r} AS {sty})"
        kind = (
            "object" if isinstance(v, dict)
            else "array" if isinstance(v, list)
            else "string" if isinstance(v, str)
            else "boolean" if isinstance(v, bool)
            else "numeric" if v is not None
            else "null"
        )
        raise ValueError(
            f"cannot cast jsonb {kind} to type {target}")

    out = re.sub(
        rf"({_LIT})\s*::\s*jsonb?\s*::\s*"
        r"(bool(?:ean)?|int[248]?|integer|smallint|bigint"
        r"|float[48]?|real|double\s+precision|numeric|decimal)\b",
        _fold_jsonb_scalar_cast,
        out,
    )

    # bool literal input validation (bool.c boolin): unique prefixes
    # of true/false/yes/no plus on/off/1/0; anything else is a PG
    # parse-time error — fold valid ones, raise on the rest
    def _fold_bool_lit(m: re.Match) -> str:
        v = _lit_value(m.group(1) or m.group(2), lits).strip().lower()
        for word, res in (("true", "true"), ("false", "false"),
                          ("yes", "true"), ("no", "false")):
            if v and word.startswith(v):
                return res
        if v in ("on", "1", "t", "y"):
            return "true"
        if v in ("off", "of", "0", "f", "n"):
            return "false"
        raise ValueError(
            f"invalid input syntax for type boolean: \"{v}\"")

    out = re.sub(
        rf"(?i)\bbool(?:ean)?\s*({_LIT})"
        rf"|({_LIT})\s*::\s*bool(?:ean)?\b(?!\s*\[)",
        _fold_bool_lit,
        out,
    )

    out = check_numeric_literals(out, lits)
    out = check_misc_literals(out, lits)

    # chr(0): PG text cannot hold NUL (oracle_compat.c chr)
    if re.search(r"(?i)\bchr\s*\(\s*0+\s*\)", out):
        raise ValueError("null character not permitted")

    # to_timestamp(float8) NaN (timestamp.c float8_timestamptz)
    def _check_ts_nan(m: re.Match) -> str:
        txt = _lit_value(m.group(1), lits).strip().lower()
        if txt in ("nan", "-nan", "+nan"):
            raise ValueError("timestamp cannot be NaN")
        return m.group(0)

    out = re.sub(
        rf"(?i)\bto_timestamp\s*\(\s*({_LIT})\s*::\s*"
        r"(?:float[48]?|real|double\s+precision|numeric)\s*\)",
        _check_ts_nan,
        out,
    )

    # pure-digit timestamp literals longer than a compact date:
    # datetime.c DecodeNumber rejects the lone wide field
    # (gp_types.out:252 '13081205132018'::timestamp)
    def _check_ts_digits(m: re.Match) -> str:
        txt = _lit_value(m.group(1) or m.group(2), lits).strip()
        if re.fullmatch(r"\d{9,}", txt):
            # DecodeNumberField: last 2 digits = day, next 2 = month,
            # rest = year (years run to 294276); only raise when the
            # decoded field is genuinely out of range
            day, mon, year = (
                int(txt[-2:]), int(txt[-4:-2]), int(txt[:-4]))
            leap = year % 4 == 0 and (year % 100 != 0 or year % 400 == 0)
            mdays = (31, 29 if leap else 28, 31, 30, 31, 30,
                     31, 31, 30, 31, 30, 31)
            if not (1 <= mon <= 12 and 1 <= day <= mdays[mon - 1]
                    and 1 <= year <= 294276):
                raise ValueError(
                    f'date/time field value out of range: "{txt}"')
        return m.group(0)

    out = re.sub(
        rf"({_LIT})\s*::\s*timestamp(?:tz)?\b"
        rf"|\btimestamp(?:tz)?\s+({_LIT})",
        _check_ts_digits,
        out,
        flags=re.IGNORECASE,
    )

    # ARRAY[] with no elements and no cast cannot be typed
    # (parse_expr.c transformArrayExpr); both cast spellings type it,
    # so skip `::type[]` and `CAST(ARRAY[] AS type[])`
    if re.search(r"(?i)\barray\s*\[\s*\](?!\s*(?:::|as\b))", out):
        raise ValueError(
            "cannot determine type of empty array")

    # no-such-signature calls PG's resolver rejects but Spark
    # coerces (parse_func.c; text.out:30, qp_functions.out:626)
    if re.search(r"(?i)\bsubstr(?:ing)?\s*\(\s*-?\d+\s*,", out):
        raise ValueError(
            "function substr(integer, integer) does not exist")
    if re.search(r"(?i)\blength\s*\(\s*-?\d+\s*\)", out):
        raise ValueError("function length(integer) does not exist")

    def _check_num_concat(m: re.Match) -> str:
        # left-associative chains: in `'x' || 1 || 2` the `1 || 2`
        # pair is really `(text || 1) || 2` — text, not numeric;
        # skip when the left operand is itself the RHS of a ||
        if m.string[: m.start()].rstrip().endswith("||"):
            return m.group(0)
        t1 = "numeric" if "." in m.group(1) else "integer"
        t2 = "numeric" if "." in m.group(2) else "integer"
        raise ValueError(
            f"operator does not exist: {t1} || {t2}")

    out = re.sub(
        r"(?<![\w.'])(\d+(?:\.\d+)?)\s*\|\|\s*"
        r"(\d+(?:\.\d+)?)(?![\w.])",
        _check_num_concat,
        out,
    )

    # unknown-literal || bit: the literal coerces to BIT and must
    # scan as binary digits (misc_jiras.out:67, varbit.c bit_in)
    def _check_bit_concat(m: re.Match) -> str:
        txt = _lit_value(m.group(1), lits)
        bad = next((c for c in txt if c not in "01"), None)
        if bad is not None:
            raise ValueError(
                f'"{bad}" is not a valid binary digit')
        return m.group(0)

    out = re.sub(
        rf"({_LIT})\s*\|\|\s*\(?\s*[Bb]({_LIT})",
        _check_bit_concat,
        out,
    )

    # make_date / make_time over integer literals fold at plan time
    # (date.c make_date: out-of-range fields RAISE; valid dates fold
    # to a plain literal — faster and loud, both like PG)
    def _fold_make_date(m: re.Match) -> str:
        import datetime as _dt

        y, mo, da = (int(g) for g in m.groups())
        if not (1 <= y <= 9999):
            # PG spans 4713 BC..5874897 AD; Spark's DATE does not
            # (README deviation — the probe adjudicates this family)
            raise ValueError(f"year {y} is out of range")
        try:
            return f"DATE '{_dt.date(y, mo, da).isoformat()}'"
        except ValueError:
            raise ValueError(
                f"date field value out of range: {y:04d}-{mo:02d}-{da:02d}"
            )

    out = re.sub(
        r"(?i)\bmake_date\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*,\s*(-?\d+)\s*\)",
        _fold_make_date,
        out,
    )

    def _fold_make_time(m: re.Match) -> str:
        h, mi = int(m.group(1)), int(m.group(2))
        sec = float(m.group(3))
        if not (0 <= h <= 23 and 0 <= mi <= 59 and 0 <= sec < 60):
            raise ValueError(
                f"time field value out of range: {h}:{mi}:{sec}")
        return m.group(0)

    out = re.sub(
        r"(?i)\bmake_time\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*,"
        r"\s*(-?\d+(?:\.\d+)?)\s*\)",
        _fold_make_time,
        out,
    )

    # linear_interpolate over TIME literals (interpolate.c accepts
    # any orderable abscissa): the engine's TIME model is an interval,
    # which the DOUBLE-typed shim can't take — fold literal ::time
    # args to their seconds-past-midnight value
    def _fold_li_time_args(m: re.Match) -> str:
        args = _split_commas(m.group(1))
        if len(args) != 5:
            return m.group(0)
        # interpolate.c signature checks: a text abscissa has no
        # linear_interpolate at all; text ordinates fail overload
        # resolution (timeseries.out:390-396)
        def _is_text(a: str) -> bool:
            return bool(re.match(
                rf"(?is)^\s*(?:{_LIT}\s*::\s*(?:text|varchar)"
                rf"|text\s+{_LIT})\s*$", a))

        if _is_text(args[0]):
            raise ValueError("abscissa type not supported")
        if _is_text(args[2]) or _is_text(args[4]):
            raise ValueError(
                "function linear_interpolate(integer, integer, "
                "text, integer, text) does not exist")
        # int-typed ordinates range-check the interpolated value
        # (interpolate.c: value "%f" is out of range for type X)
        ints = {"int8": ("bigint", 63), "bigint": ("bigint", 63),
                "int4": ("integer", 31), "int": ("integer", 31),
                "integer": ("integer", 31),
                "int2": ("smallint", 15), "smallint": ("smallint", 15)}

        def _numval(a: str):
            nm2 = re.match(
                r"(?is)^\s*\(?\s*(-?\d+(?:\.\d+)?(?:e-?\d+)?)"
                r"(?:\s*\^\s*(\d+)|)\s*\)?"
                r"\s*(?:::\s*(\w+))?\s*$", a)
            if nm2 is None:
                nm2 = re.match(
                    r"(?is)^\s*\(?\s*(-?)\s*pow(?:er)?\s*\(\s*"
                    r"(-?\d+(?:\.\d+)?)\s*,\s*(\d+)\s*\)\s*\)?"
                    r"\s*(?:::\s*(\w+))?\s*$", a)
                if nm2 is None:
                    return None, None
                v = float(nm2.group(2)) ** float(nm2.group(3))
                if nm2.group(1) == "-":
                    v = -v
                return v, (nm2.group(4) or "").lower()
            v = float(nm2.group(1))
            if nm2.group(2) is not None:
                # PG >=9.5 binds unary minus tighter than '^':
                # -2^62 is (-2)^62 (positive for even exponents)
                v = v ** float(nm2.group(2))
            return v, (nm2.group(3) or "").lower()

        vals = [_numval(a) for a in args]
        if all(v is not None for v, _ in vals):
            (x, _), (x0, _), (y0, t0), (x1, _), (y1, t1) = vals
            ity = ints.get(t0) or ints.get(t1)
            if ity is not None and x1 != x0:
                r = y0 + (y1 - y0) * (x - x0) / (x1 - x0)
                lim = float(2 ** ity[1])
                if not (-lim - 1 < r < lim):
                    raise ValueError(
                        f'value "{r:f}" is out of range for '
                        f"type {ity[0]}")
        changed = False
        for i, a in enumerate(args):
            am = re.match(
                rf"(?is)^\s*({_LIT})\s*::\s*time\s*$", a
            )
            if am is None:
                continue
            parts = _lit_value(am.group(1), lits).split(":")
            try:
                secs = int(parts[0]) * 3600 + int(parts[1]) * 60 + (
                    float(parts[2]) if len(parts) > 2 else 0.0
                )
            except (ValueError, IndexError):
                return m.group(0)
            args[i] = f"CAST({secs} AS DOUBLE)"
            changed = True
        if not changed:
            return m.group(0)
        return (
            "linear_interpolate("
            + ", ".join(a.strip() for a in args) + ")"
        )

    out = re.sub(
        r"(?i)\blinear_interpolate\s*"
        r"\(((?:[^()]|\([^()]*\))*)\)",
        _fold_li_time_args,
        out,
    )

    # date literal + TIME WITH TIME ZONE literal (date.c
    # datetimetz_pl / timetz part of gram.y const_datetime): the sum
    # is a timestamptz at that wall time in the literal's zone —
    # folds to to_utc_timestamp over the combined instant
    def _fold_date_plus_timetz(m: re.Match) -> str:
        d = _lit_value(m.group(1), lits).strip()
        body = _lit_value(m.group(2), lits).strip()
        tm = re.match(
            r"^(\d{1,2}:\d{2}(?::\d{2})?(?:\.\d+)?)\s*"
            r"([A-Za-z_/+-].*)$",
            body,
        )
        if tm is None or not re.fullmatch(r"\d{4}-\d{2}-\d{2}", d):
            return m.group(0)
        zone = tm.group(2).strip()
        zone = (
            _TZ_ABBREV_OFFSETS.get(zone.upper())
            or _TZ_ABBREV_ZONES.get(zone.upper())
            or zone
        )
        return (
            f"to_utc_timestamp(TIMESTAMP "
            f"{_new_lit(f'{d} {tm.group(1)}', lits)}, "
            f"{_new_lit(zone, lits)})"
        )

    out = re.sub(
        rf"(?i)\bDATE\s*({_LIT})\s*\+\s*"
        rf"TIME\s+WITH\s+TIME\s+ZONE\s*({_LIT})",
        _fold_date_plus_timetz,
        out,
    )

    # session_user / current_role (gram.y SystemFuncName keywords):
    # the single-user engine equates all three identity functions
    out = re.sub(
        r"(?i)\b(?:session_user|current_role)\b(?!\s*\()",
        "current_user()",
        out,
    )

    # public./pg_catalog.-qualified function calls (namespace.c: both
    # schemas sit on PG's default search_path, so the qualification is
    # a no-op) — strip the prefix so the call resolves to the engine's
    # registered temporary function
    out = re.sub(
        r"(?i)\b(?:public|pg_catalog)\.([A-Za-z_]\w*\s*\()", r"\1", out
    )

    # COLLATE in a CAST target is a gram.y syntax error (collate.out:
    # 524) — check before the general strip below eats it
    if re.search(
        r"(?is)\bCAST\s*\((?:[^()]|\([^()]*\))*?\s+AS\s+"
        r"\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?\s+COLLATE\b",
        out,
    ):
        raise ValueError('syntax error at or near "COLLATE"')

    # COLLATE qualifiers (gram.y a_expr COLLATE any_name): accepted and
    # dropped — expressions evaluate under the engine's default binary
    # collation (README "Known deviations"; locale-sensitive orderings
    # like "tr_TR" case folding are out of scope)
    out = re.sub(r"\s+COLLATE\s+(`[^`]*`|[\w.]+)", "", out,
                 flags=re.IGNORECASE)

    # '2011-03-27 01:00:00 MSK' datetime literals: Spark's parser drops
    # the row to NULL on zone abbreviations; PG reads them as fixed
    # offsets — rewrite the literal body in place (the shape is
    # unambiguous: ISO datetime + trailing abbreviation)
    for li, lit in enumerate(lits):
        mb = _TS_ABBREV_BODY_RE.match(lit[1:-1])
        if mb and (
            tzr := _TZ_ABBREV_OFFSETS.get(mb.group(2))
            or _TZ_ABBREV_ZONES.get(mb.group(2))
        ):
            lits[li] = "'" + mb.group(1) + " " + tzr + "'"

    # LIKE ... ESCAPE '<c>': normalize custom escape chars (including
    # wildcard chars Spark rejects) to the default backslash form
    def sub_like_escape(m: re.Match) -> str:
        esc = _lit_value(m.group(3), lits)
        if len(esc) != 1:
            return m.group(0)  # PG rejects multi-char escapes: loud
        pat = _lit_value(m.group(2), lits)
        out_p: list[str] = []
        i = 0
        while i < len(pat):
            c = pat[i]
            if c == esc and i + 1 < len(pat):
                nxt = pat[i + 1]
                # escaped char is LITERAL: wildcards and backslash
                # need the default escape, others pass bare
                if nxt in "%_":
                    out_p.append("\\\\" + nxt)
                elif nxt == "\\":
                    out_p.append("\\\\\\\\")
                else:
                    out_p.append(nxt)
                i += 2
            elif c == "\\":
                out_p.append("\\\\\\\\")  # literal backslash
                i += 1
            else:
                out_p.append(c)
                i += 1
        body = "".join(out_p).replace("'", "''")
        return f"{m.group(1)} {_new_lit_raw(body, lits)}"

    out = _LIKE_ESCAPE_RE.sub(sub_like_escape, out)

    # U&'...' unicode-escape strings decode at rewrite time; the
    # decoded content re-escapes backslashes so Spark's literal
    # unescaping passes it through verbatim
    def sub_uescape(m: re.Match) -> str:
        esc = _lit_value(m.group(2), lits) if m.group(2) else "\\"
        if len(esc) != 1:
            return m.group(0)  # PG rejects multi-char UESCAPE: loud
        if esc in "0123456789abcdefABCDEF+'\"" or esc.isspace():
            # scan.l check_uescapechar: hex digits, '+', quotes and
            # whitespace cannot be the escape character
            raise ValueError("invalid Unicode escape character")
        try:
            decoded = _decode_uescape(_lit_value(m.group(1), lits), esc)
        except ValueError:
            return m.group(0)  # malformed escape: loud, as PG errors
        return _new_lit(decoded.replace("\\", "\\\\"), lits)

    out = _UESCAPE_LIT_RE.sub(sub_uescape, out)

    # U&"..." unicode-escape IDENTIFIERS (scan.l xui state): the
    # double-quote pass has already backtick-quoted the body; decode
    # and drop the U& prefix
    def sub_uescape_ident(m: re.Match) -> str:
        esc = _lit_value(m.group(2), lits) if m.group(2) else "\\"
        if len(esc) != 1:
            return m.group(0)
        try:
            decoded = _decode_uescape(m.group(1), esc)
        except ValueError:
            return m.group(0)
        return f"`{decoded}`"

    out = re.sub(
        rf"U&\s*`([^`]*)`(?:\s+UESCAPE\s+({_LIT}))?",
        sub_uescape_ident,
        out,
        flags=re.IGNORECASE,
    )

    # XML value constructors → concat/escape string building, then the
    # `xml '...'` typed-literal prefix drops (xml is a STRING here)
    out = _rewrite_xml_ctors(out, lits)

    # `xml '...'` typed literals validate through xml_in's content
    # rules at plan time (xml.c xml_parse), then the prefix drops
    # (xml is a STRING in this model)
    def _sub_xml_lit(m: re.Match) -> str:
        from warehouse_pg_spark.functions.pg import xml_content_validate

        xml_content_validate(_lit_value(m.group(1), lits))
        return m.group(1)

    out = _XML_TYPED_LIT_RE.sub(_sub_xml_lit, out)

    out = _rewrite_distinct_on(out)
    out = _rewrite_with_ties(out)

    # ARRAY[a, b] → array(a, b). PG's multi-dimensional constructor
    # spells INNER dimensions as bare brackets (ARRAY[[1,2],[3,4]],
    # gram.y array_expr) — a bare '[' that follows '[' or ',' opens a
    # sub-array; one that follows an identifier/')'/']' is a subscript
    # and is left for the 1-based subscript pass.
    def _conv_ctor_body(text: str) -> str:
        res: list[str] = []
        i, n = 0, len(text)
        while i < n:
            c = text[i]
            if c == "[":
                prev_ns = "".join(res).rstrip()[-1:]
                if prev_ns in ("", ",", "("):
                    depth, j = 1, i + 1
                    while j < n and depth:
                        if text[j] == "[":
                            depth += 1
                        elif text[j] == "]":
                            depth -= 1
                        j += 1
                    if depth:  # unbalanced: bail out verbatim
                        res.append(text[i:])
                        return "".join(res)
                    res.append(
                        "array(" + _conv_ctor_body(text[i + 1 : j - 1]) + ")"
                    )
                    i = j
                    continue
            res.append(c)
            i += 1
        return "".join(res)

    _arr_kw = re.compile(r"\bARRAY\s*\[", re.IGNORECASE)
    pos0 = 0
    while True:
        m = _arr_kw.search(out, pos0)
        if not m:
            break
        depth, j = 1, m.end()
        while j < len(out) and depth:
            if out[j] == "[":
                depth += 1
            elif out[j] == "]":
                depth -= 1
            j += 1
        if depth:
            break  # unbalanced: leave the rest untouched
        body = _conv_ctor_body(out[m.end() : j - 1])
        out = out[: m.start()] + "array(" + body + ")" + out[j:]
        pos0 = m.start()

    # PG precedence: arithmetic binds tighter than || (see regex defn)
    out = _CONCAT_ARITH_R_RE.sub(lambda m: f"|| ({m.group(1)})", out)
    out = _CONCAT_ARITH_L_RE.sub(lambda m: f"({m.group(1)}) ||", out)

    # chained JSON arrows fold into one get_json_object path
    out = _rewrite_arrows(out, lits)

    # jsonb_path_* function spellings (jsonpath_exec.c): exists/match
    # lower to the @? / @@ operators (handled by the pass right below);
    # the value-returning query forms go through the Python jsonpath
    # evaluator registered as jsonb_path_query_list (slow path by
    # design — no Spark built-in walks arbitrary jsonpath)
    def sub_jsonb_path_fn(m: re.Match) -> str:
        form = m.group(1).lower()
        raw = [a.strip() for a in _split_commas(m.group(2))]
        pos: list[str] = []
        named: dict[str, str] = {}
        for a in raw:
            nm = re.match(r"(?is)^(vars|silent)\s*=>\s*(.+)$", a)
            if nm:
                named[nm.group(1).lower()] = nm.group(2).strip()
            else:
                pos.append(a)
        if len(pos) < 2 or len(pos) > 4:
            return m.group(0)
        j, p = pos[0], pos[1]
        vars_a = named.get("vars") or (pos[2] if len(pos) >= 3 else None)
        has_silent = "silent" in named or len(pos) == 4
        silent_v = named.get("silent") or (pos[3] if len(pos) == 4 else "")
        silent_on = silent_v.strip().lower() == "true"
        if silent_on and form in ("query", "query_array", "query_first"):
            # silent => true (jsonpath_exec.c jspThrowErrors false):
            # strict-mode violations yield an empty result set
            v = vars_a if vars_a is not None else "CAST(NULL AS STRING)"
            lst = f"jsonb_path_query_list_silent({j}, {p}, {v})"
            if form == "query_array":
                return f"concat('[', array_join({lst}, ', '), ']')"
            if form == "query_first":
                return f"get({lst}, 0)"  # NULL on empty, not an error
            return f"explode({lst})"
        if vars_a is None and not has_silent:
            if form == "exists":
                return f"({j} @? {p})"
            if form == "match":
                return f"({j} @@ {p})"
            lst = f"jsonb_path_query_list({j}, {p})"
        else:
            # vars substitute $name references. An EXPLICIT
            # silent => false takes the loud entry points: execution
            # errors raise and match demands a single boolean, as
            # jsonb_path_match/exists do (jsonpath_exec.c)
            v = vars_a if vars_a is not None else "CAST(NULL AS STRING)"
            loud = has_silent and not silent_on
            if form == "exists":
                fn2 = "jsonb_path_exists_loud" if loud \
                    else "jsonb_path_exists_vars"
                return f"{fn2}({j}, {p}, {v})"
            if form == "match":
                fn2 = "jsonb_path_match_loud" if loud \
                    else "jsonb_path_match_vars"
                return f"{fn2}({j}, {p}, {v})"
            lst = f"jsonb_path_query_list_vars({j}, {p}, {v})"
        if form == "query_array":
            return f"concat('[', array_join({lst}, ', '), ']')"
        if form == "query_first":
            return f"get({lst}, 0)"  # NULL on empty, not an error
        return f"explode({lst})"  # query: SRF — one row per match

    out = _JSONB_PATH_FN_RE.sub(sub_jsonb_path_fn, out)

    # jsonpath predicates @? / @@ (jsonpath_exec.c subset)
    out = _rewrite_jsonpath(out, lits)

    # IS [NOT] DISTINCT FROM / [NOT] SIMILAR TO
    out = _rewrite_distinct_similar(out, lits)

    # (s1, e1) OVERLAPS (s2, e2)
    out = _rewrite_overlaps(out)

    # (k1, k2) > (v1, v2) row comparison (after OVERLAPS so the
    # keyword form wins; comparison ops can't collide with IN tuples)
    out = _rewrite_row_compare(out)

    # POSIX regex matches → RLIKE
    out = _rewrite_regex_match(out, lits)

    # range constructors, then range operators — both BEFORE the array
    # containment pass, whose @>/<@ would otherwise eat range operands
    def sub_range_ctor(m: re.Match) -> str:
        fn = m.group(1).lower()
        args = [a.strip() for a in _split_commas(m.group(2))]
        if len(args) not in (2, 3):
            return m.group(0)
        lo, hi = args[0], args[1]
        # literal numeric bounds: the reversed constructor RAISES in
        # PG (rangetypes.c range_make: lower <= upper) — plan time
        # beats the silent-empty deviation whenever both are literals
        if re.fullmatch(r"-?\d+(?:\.\d+)?", lo) and re.fullmatch(
            r"-?\d+(?:\.\d+)?", hi
        ):
            if float(lo) > float(hi):
                raise ValueError(
                    "range lower bound must be less than or equal "
                    "to range upper bound"
                )
        li, hi_i = "true", "false"  # PG default bounds '[)'
        if len(args) == 3:
            b3 = re.sub(r"(?i)^E(?=\x01)", "", args[2])
            if not _MASK_RE.fullmatch(b3):
                return m.group(0)  # non-literal bounds text: stay loud
            bounds = _lit_value(b3, lits)
            if bounds not in ("[)", "(]", "[]", "()"):
                return m.group(0)
            li = "true" if bounds[0] == "[" else "false"
            hi_i = "true" if bounds[1] == "]" else "false"
        if fn in ("int4range", "int8range"):
            # int4 fits a DOUBLE exactly; int8 needs DECIMAL(20,0) —
            # bigints above 2^53 would round in a DOUBLE and the +1
            # canonicalization would land on the wrong integer
            t, sfx = (
                ("DECIMAL(20,0)", "_i8") if fn == "int8range" else ("DOUBLE", "")
            )
            lo_e = (
                f"CAST(({lo}) AS {t})"
                if li == "true"
                else f"CAST(({lo}) + 1 AS {t})"
            )
            hi_e = (
                f"CAST(({hi}) AS {t})"
                if hi_i == "false"
                else f"CAST(({hi}) + 1 AS {t})"
            )
            return f"pg_range{sfx}({lo_e}, {hi_e}, true, false)"
        if fn == "daterange":  # discrete on days: canonicalize to [lo, hi)
            lo_e = f"CAST(({lo}) AS TIMESTAMP)" + (
                "" if li == "true" else " + INTERVAL 1 DAY"
            )
            hi_e = f"CAST(({hi}) AS TIMESTAMP)" + (
                "" if hi_i == "false" else " + INTERVAL 1 DAY"
            )
            return f"pg_range_ts({lo_e}, {hi_e}, true, false)"
        if fn == "tsrange":
            return (
                f"pg_range_ts(CAST(({lo}) AS TIMESTAMP), "
                f"CAST(({hi}) AS TIMESTAMP), {li}, {hi_i})"
            )
        return (
            f"pg_range(CAST(({lo}) AS DOUBLE), CAST(({hi}) AS DOUBLE), "
            f"{li}, {hi_i})"
        )

    out = _RANGE_CTOR_RE.sub(sub_range_ctor, out)

    _RANGE_OP_FN = {
        "&&": "range_overlaps", "-|-": "range_adjacent",
        "<<": "range_before", ">>": "range_after", "=": "range_eq",
        "+": "range_union", "*": "range_intersect",
        "-": "range_minus",
        "&<": "range_overleft", "&>": "range_overright",
    }

    _RANGE_ELEM_T = {
        "_ts": "TIMESTAMP", "_i8": "DECIMAL(20,0)",
        "_str": "STRING", "": "DOUBLE",
    }

    def sub_range_op(m: re.Match) -> str:
        a, op, b = m.group(1), m.group(2), m.group(3)
        mh = _RANGE_SFX_HEAD_RE.match(a.strip())
        sfx = mh.group(1).lower() if mh else ""
        elem_t = _RANGE_ELEM_T[sfx]
        b_is_range = bool(re.match(rf"(?i)^{_RANGE_EXPR}$", b.strip()))
        if op == "@>":
            if b_is_range:
                return f"range_contains{sfx}({a}, {b})"
            return (
                f"range_contains_elem{sfx}({a}, CAST(({b}) AS {elem_t}))"
            )
        if op == "<@":
            if b_is_range:
                return f"range_contains{sfx}({b}, {a})"
            return m.group(0)  # range <@ scalar is not a PG operator
        if not b_is_range:
            return m.group(0)
        return f"{_RANGE_OP_FN[op]}{sfx}({a}, {b})"

    def sub_elem_range(m: re.Match) -> str:
        mh = _RANGE_SFX_HEAD_RE.match(m.group(2).strip())
        sfx = mh.group(1).lower() if mh else ""
        return (
            f"range_contains_elem{sfx}({m.group(2)}, "
            f"CAST(({m.group(1)}) AS {_RANGE_ELEM_T[sfx]}))"
        )

    prev_rng = None
    while prev_rng != out:  # chained ops: a * b = c needs two passes
        prev_rng = out
        out = _RANGE_OP_RE.sub(sub_range_op, out)
        out = _ELEM_RANGE_OP_RE.sub(sub_elem_range, out)
    # accessor fns on a timestamp/int8-family struct route to the
    # _ts/_i8 overloads (SQL temp functions have no type-based
    # overloading)
    out = _RANGE_FN_SFX_RE.sub(
        lambda m: f"{m.group(1).lower()}{m.group(3).lower()}({m.group(2)})",
        out,
    )
    out = _RANGE_FN2_SFX_RE.sub(
        lambda m: f"{m.group(1).lower()}{m.group(3).lower()}({m.group(2)})",
        out,
    )
    # lower()/upper() collide with the string functions — map only the
    # range-operand spelling; empty/infinite bounds are already NULL
    out = _RANGE_BOUND_FN_RE.sub(
        lambda m: f"(({m.group(2)})."
        + ("lo" if m.group(1).lower() == "lower" else "hi")
        + ")",
        out,
    )

    # geometric types — BEFORE the jsonb/array containment passes so
    # geo @>/<@/&&/<-> bind to struct operands first
    out = _rewrite_pg_geo(out, lits)

    # jsonb containment (jsonb_util.c JsonbDeepContains) — must precede
    # the array containment pass below
    def sub_jsonb_contains(m: re.Match) -> str:
        g = m.groups()
        a, op, b = (g[0], g[1], g[2]) if g[0] is not None else (g[3], g[4], g[5])

        def strip(s: str) -> str:
            mo = _JSONB_STRIP_RE.match(s.strip())
            if mo:
                return mo.group(1) or mo.group(2)
            return s.strip()

        a, b = strip(a), strip(b)
        if op == "<@":
            a, b = b, a
        return f"jsonb_contains({a}, {b})"

    out = _JSONB_CONTAINS_RE.sub(sub_jsonb_contains, out)

    # jsonb minus operators (jsonfuncs.c jsonb_delete /
    # jsonb_delete_array / jsonb_delete_idx): `j - 'key'`,
    # `j - '{a,b}'::text[]`, `j - 2`. Requires an explicitly
    # jsonb-typed left operand so numeric subtraction never matches.
    def sub_jsonb_minus(m: re.Match) -> str:
        lhs = m.group(1).strip()
        mo = _JSONB_STRIP_RE.match(lhs)
        if mo:
            lhs = mo.group(1) or mo.group(2)
        rhs = m.group(2).strip()
        if re.fullmatch(r"-?\d+", rhs):
            return f"jsonb_minus_idx({lhs}, {rhs})"
        tm = re.fullmatch(
            rf"({_LIT})\s*::\s*text\s*\[\]", rhs, re.IGNORECASE
        )
        if tm:
            return (
                f"jsonb_minus_keys({lhs}, "
                f"{_braced_to_array(tm.group(1), lits)})"
            )
        if re.match(r"(?i)^(CAST\s*\(\s*)?array\s*\(", rhs):
            return f"jsonb_minus_keys({lhs}, {rhs})"
        if _MASK_RE.fullmatch(rhs):
            return f"jsonb_minus_keys({lhs}, array({rhs}))"
        return m.group(0)

    out = re.sub(
        rf"({_JSONB_OPND})\s*-\s*"
        rf"({_LIT}\s*::\s*text\s*\[\]"
        r"|CAST\s*\(\s*array\s*\((?:[^()]|\([^()]*\))*\)\s+AS\s+"
        r"ARRAY<STRING>\s*\)"
        r"|array\s*\((?:[^()]|\([^()]*\))*\)"
        rf"|{_LIT}|-?\d+)",
        sub_jsonb_minus,
        out,
        flags=re.IGNORECASE,
    )

    # jsonb || jsonb (jsonfuncs.c jsonb_concat): object merge / array
    # concatenation — NOT string concat (routing through Spark's ||
    # would silently produce '{"a":1}{"b":2}'). Fires when either
    # operand is explicitly jsonb-typed; a parenthesized expression
    # may carry the cast ((... || ...)::jsonb), and the bare-name
    # alternative must not grab the 'jsonb' word out of a cast suffix.
    _JBC_CAST = (
        rf"(?:jsonb\s*{_LIT}"
        # a prior fold's output is itself jsonb-typed, so chains
        # ('a'::jsonb || 'b'::jsonb || 'c'::jsonb) keep folding
        # left-associatively like PG instead of falling through to
        # Spark string concat for the 3rd+ operand
        r"|jsonb_concat\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"
        rf"|(?:{_LIT}|[\w.]+|\((?:[^()]|\([^()]*\))*\))\s*::\s*jsonb\b)"
    )
    _JBC_OTHER = rf"(?:{_LIT}|(?<![:\w.])[\w.]+)"
    _JBC_RE = re.compile(
        rf"({_JBC_CAST}|{_JBC_OTHER})\s*\|\|\s*({_JBC_CAST})"
        rf"|({_JBC_CAST})\s*\|\|\s*({_JBC_OTHER})",
        flags=re.IGNORECASE,
    )
    # fixpoint, ONE fold per pass (count=1): jsonb || is NOT
    # associative for mixed object/array chains ({a}||[1]||{b}||{c}
    # differs under pairwise grouping), so fold strictly
    # left-associatively like PG's parser
    while True:
        new = _JBC_RE.sub(
            lambda m: (
                f"jsonb_concat({m.group(1) or m.group(3)}, "
                f"{m.group(2) or m.group(4)})"
            ),
            out,
            count=1,
        )
        if new == out:
            break
        out = new

    # NULL-key json arrows (jsonfuncs.c: strict operators return NULL
    # on a NULL key): `j -> null::text`, `j ->> null::int` — the key
    # arrives as CAST(NULL AS ...) by this point
    out = re.sub(
        rf"({_JSONB_OPND}|{_LIT}\s*::\s*jsonb?"
        rf"|{_LIT}|[\w.]+\([^()]*\)|[\w.]+)"
        r"\s*(?:->>?|#>>?)\s*"
        r"(?:NULL\s*::\s*\w+"
        r"|CAST\s*\(\s*NULL\s+AS\s+\w+(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
        r"\s*\))",
        "CAST(NULL AS STRING)",
        out,
        flags=re.IGNORECASE,
    )

    # array containment / overlap operators
    out = _ARR_CONTAINS_RE.sub(
        lambda m: f"forall({m.group(2)}, __x -> array_contains({m.group(1)}, __x))",
        out,
    )
    out = _ARR_CONTAINED_RE.sub(
        lambda m: f"forall({m.group(1)}, __x -> array_contains({m.group(2)}, __x))",
        out,
    )
    out = _ARR_OVERLAP_RE.sub(
        lambda m: f"arrays_overlap({m.group(1)}, {m.group(2)})", out
    )

    # PG `x AT TIME ZONE tz` has two directions (timestamp.c
    # timestamp_zone vs timestamptz_zone). Under the collapsed
    # single-TIMESTAMP model (README) a COLUMN is an instant in the
    # (UTC) session zone → render its tz wall-clock: from_utc_timestamp.
    # An operand EXPLICITLY typed naive — `TIMESTAMP '...'` literal,
    # `::timestamp`/`::date`, CAST(.. AS TIMESTAMP) — is PG's
    # timestamp→timestamptz direction: interpret the wall-clock IN tz →
    # to_utc_timestamp. Runs BEFORE the :: rewrites so ::timestamptz is
    # still distinguishable from ::timestamp.
    def sub_at_tz(m: re.Match) -> str:
        op, tz = m.group(1), m.group(2)
        # zone ABBREVIATIONS are fixed offsets or dynamic region links
        # in PG (see _TZ_ABBREV_OFFSETS/_ZONES) — ZoneId rejects them
        # or (worse) reads some as region ids with different history
        tzv = _lit_value(tz, lits).strip().upper()
        if tzr := _TZ_ABBREV_OFFSETS.get(tzv) or _TZ_ABBREV_ZONES.get(tzv):
            tz = _new_lit(tzr, lits)
        elif "/" in tzv:
            # region ids check against the tz database (pgtz.c lookup;
            # Spark would silently fall back instead of raising)
            raw_zone = _lit_value(tz, lits).strip()
            try:
                import zoneinfo as _zi

                _zi.ZoneInfo(raw_zone)
            except (KeyError, ValueError, OSError):
                raise ValueError(
                    f'time zone "{raw_zone}" not recognized')
            except ModuleNotFoundError:
                pass
        if re.search(
            r"(?is)::\s*(?:timestamptz\b|timestamp\s+with\s+time\s+zone)", op
        ):
            fn = "from_utc_timestamp"  # instant → wall-clock in tz
        elif (
            re.match(r"(?is)^\s*(?:TIMESTAMP|DATE)\s*\x01", op)
            or re.search(r"(?is)::\s*(?:timestamp|date)\b", op)
            or re.search(r"(?is)AS\s+TIMESTAMP\s*\)\s*$", op)
        ):
            fn = "to_utc_timestamp"  # naive wall-clock in tz → instant
        else:
            fn = "from_utc_timestamp"
        return f"{fn}({op}, {tz})"

    out = _AT_TIME_ZONE_RE.sub(sub_at_tz, out)

    # multiword type spellings in CAST/:: position (gram.y
    # SimpleTypename) — BEFORE the braced/scalar cast passes, whose
    # \w+ type capture would otherwise strand the trailing word(s);
    # the literal-prefix forms (`double precision '1.5'`) are excluded
    # by lookahead and handled by their own later passes.
    out = _DOUBLE_PREC_TYPE_RE.sub("DOUBLE", out)
    out = _CHAR_VARYING_TYPE_RE.sub("STRING", out)
    out = _TS_ZONE_TYPE_RE.sub("TIMESTAMP", out)

    # PG date input forms Spark rejects or silently NULLs (datetime.c
    # DecodeDateTime; regress sql/date.sql): month-name spellings in
    # any of PG's accepted orders and the Julian-day 'J2451187' form —
    # parsed at plan time into ISO literals. Plain ISO bodies pass
    # through untouched.
    def sub_date_lit(m: re.Match) -> str:
        folded = _pg_date_fold(_lit_value(m.group(1), lits))
        if folded is None:
            return m.group(0)
        return f"DATE {_new_lit(folded, lits)}"

    out = re.sub(
        r"(?i)\bdate\s+(\x01\d+\x01)", sub_date_lit, out
    )
    out = re.sub(
        r"(?i)(\x01\d+\x01)\s*::\s*date\b",
        lambda m: (
            f"DATE {_new_lit(f, lits)}"
            if (f := _pg_date_fold(_lit_value(m.group(1), lits)))
            else m.group(0)
        ),
        out,
    )

    # compact timestamp bodies ('19990101', '19990101 1230') —
    # datetime.c DecodeNumberField; Spark's parser rejects them
    def sub_ts_compact(m: re.Match) -> str:
        body = _lit_value(m.group(1), lits).strip()
        cm = re.fullmatch(
            r"(\d{4})(\d{2})(\d{2})"
            r"(?:[T ]?(\d{2}):?(\d{2}):?(\d{2}(?:\.\d+)?)?)?",
            body,
        )
        if not cm:
            return m.group(0)
        y, mo, d, h, mi, s = cm.groups()
        iso = f"{y}-{mo}-{d} {h or '00'}:{mi or '00'}:{s or '00'}"
        return f"TIMESTAMP {_new_lit(iso, lits)}"

    out = re.sub(
        r"(?i)\btimestamp\s+(\x01\d+\x01)", sub_ts_compact, out
    )
    out = re.sub(
        r"(?i)(\x01\d+\x01)\s*::\s*timestamp(?:tz)?\b",
        sub_ts_compact,
        out,
    )

    # PG bit-string literals (gram.y BCONST/XCONST; varbit.c): B'0101'
    # models as 0/1 text, X'1F' expands each hex digit to 4 bits; an
    # immediate ::int reads the bits as a binary integer. get_bit/
    # set_bit over the text model are pure-SQL (functions/pg.py).
    def sub_xconst(m: re.Match) -> str:
        body = _lit_value(m.group(1), lits).strip()
        if not re.fullmatch(r"[0-9a-fA-F]+", body):
            return m.group(0)
        bits = "".join(f"{int(c, 16):04b}" for c in body)
        if m.group(2):  # ::int form: the binary value
            return str(int(bits, 2) if bits else 0)
        return _new_lit(bits, lits)

    out = re.sub(
        r"\b[Xx](\x01\d+\x01)(\s*::\s*int(?:4|8|eger)?\b)?",
        sub_xconst,
        out,
    )
    def sub_bconst(m: re.Match) -> str:
        body = _lit_value(m.group(1), lits).strip()
        if not re.fullmatch(r"[01]*", body):
            return m.group(0)
        if m.group(2):
            return str(int(body, 2) if body else 0)
        return m.group(1)

    out = re.sub(
        r"\b[Bb](\x01\d+\x01)(\s*::\s*int(?:4|8|eger)?\b)?",
        sub_bconst,
        out,
    )

    # ::time / ::timetz — BEFORE the generic cast passes (Spark's TIME
    # type is unsupported at the Python boundary; `timetz` is not a
    # Spark type at all). Literal operands re-spell as typed-literal
    # prefixes (handled by the time family in _rewrite_pg_misc_fns);
    # non-literals take the time-of-day of the timestamp (date.c
    # timestamp_time), timetz carrying the session's +00.
    def _strip_date_part(m: re.Match, kw: str) -> str:
        # date.c DecodeTimeOnly accepts a full timestamp text for
        # time/timetz input and keeps only the time of day
        body = _lit_value(m.group(1), lits)
        dm = re.match(r"\s*\d{4}-\d{2}-\d{2}[ T](.+)$", body)
        if dm:
            lits.append(
                "'" + dm.group(1).strip().replace("'", "''") + "'")
            return f"{kw} \x01{len(lits) - 1}\x01"
        return f"{kw} {m.group(1)}"

    out = re.sub(
        r"(?i)(\x01\d+\x01)\s*::\s*timetz\b",
        lambda m: _strip_date_part(m, "timetz"), out
    )
    out = re.sub(
        r"(?i)(\x01\d+\x01)\s*::\s*time(?:\s*\(\s*\d+\s*\))?(?!\w)",
        lambda m: _strip_date_part(m, "time"),
        out,
    )
    # 'lit'::interval: Spark's string→interval CAST handles most PG
    # inputs (and yields CalendarInterval, whose PG-text rendering the
    # result boundary owns) — but it silently NULLs on PG-only forms:
    # millennium/century/decade words, '@ .. ago', colon times,
    # fractional unit counts. Those respell as typed literals so the
    # PG interval parser takes them.
    def sub_iv_cast(m: re.Match) -> str:
        body = _lit_value(m.group(1), lits)
        if (
            ":" in body
            or body.strip().startswith("@")
            or body.strip().lower().endswith(" ago")
            or re.search(r"\d+\.\d+\s*[a-z]", body, re.IGNORECASE)
            or re.search(r"(?i)\b(millenni|centur|decade)", body)
            # suffix-attached unit abbreviations ('2y 3mon 4d'):
            # Spark's string→interval CAST silently NULLs them
            or re.search(r"(?i)\d[a-z]", body)
        ):
            return f"INTERVAL {m.group(1)}"
        return m.group(0)

    out = re.sub(
        r"(?i)(\x01\d+\x01)\s*::\s*interval\b(?!\s*\()",
        sub_iv_cast,
        out,
    )

    def _time_of_ts(x: str) -> str:
        ts = f"CAST({x} AS TIMESTAMP)"
        return (
            f"make_dt_interval(0, hour({ts}), minute({ts}), "
            f"(unix_micros({ts}) % 60000000) / 1000000.0)"
        )

    out = re.sub(
        rf"({_DISTINCT_OPERAND})\s*::\s*time(?:\s*\(\s*\d+\s*\))?(?!\w)",
        lambda m: _time_of_ts(m.group(1)),
        out,
    )
    def _tz_offset_of(ts: str) -> str:
        # PG's timetz offset rendering: ±hh[:mm], trailing :00 dropped
        # ('+00' in UTC, '+05:30' in Asia/Kolkata). date_format 'xxx'
        # evaluates in the session timezone at that instant, so
        # SET TIME ZONE is honored.
        return (
            f"regexp_replace(date_format({ts}, 'xxx'), ':00$', '')"
        )

    out = re.sub(
        rf"({_DISTINCT_OPERAND})\s*::\s*timetz\b",
        lambda m: (
            f"concat(date_format(CAST({m.group(1)} AS TIMESTAMP), "
            f"'HH:mm:ss.SSSSSS'), "
            f"{_tz_offset_of(f'CAST({m.group(1)} AS TIMESTAMP)')})"
        ),
        out,
    )
    # session-introspection keywords (gram.y func_expr_common_subexpr;
    # parenless): current_schema -> the single 'public' namespace,
    # current_catalog -> current_database(), localtimestamp -> Spark's
    # own localtimestamp() (needs the parens here)
    out = re.sub(
        r"(?i)\bcurrent_schema\b(?!\s*\()", "'public'", out
    )
    out = re.sub(
        r"(?i)\bcurrent_catalog\b(?!\s*\()", "current_database()", out
    )
    out = re.sub(
        r"(?i)\blocaltimestamp\b(?!\s*\()", "localtimestamp()", out
    )
    # localtime / current_time (PG reserved words, not functions)
    out = re.sub(
        r"(?i)\blocaltime\b(?!\s*\()",
        lambda m: _time_of_ts("now()"),
        out,
    )
    out = re.sub(
        r"(?i)\bcurrent_time\b(?!\s*\()",
        f"concat(date_format(now(), 'HH:mm:ss.SSSSSS'), "
        f"{_tz_offset_of('now()')})",
        out,
    )
    out = _rewrite_pg_network(out, lits)
    out = _rewrite_cast_typenames(out)

    # '\xDEADBEEF'::bytea hex form (varlena.c byteain): the content is
    # HEX DIGITS, not UTF-8 bytes — CAST(str AS BINARY) would encode
    # the literal characters. E'\\x…' arrives with a doubled backslash.
    def sub_bytea(m: re.Match) -> str:
        lit = m.group(1) or m.group(2)
        body = _lit_value(lit, lits)
        for pfx in ("\\\\x", "\\x"):
            if body.lower().startswith(pfx.lower()):
                hexpart = body[len(pfx):]
                # byteain hex validation: hex digits only (whitespace
                # allowed), even count
                digits = re.sub(r"\s+", "", hexpart)
                bm = re.search(r"[^0-9A-Fa-f]", digits)
                if bm:
                    raise ValueError(
                        "invalid hexadecimal digit: "
                        f'"{bm.group(0)}"'
                    )
                if len(digits) % 2:
                    raise ValueError(
                        "invalid hexadecimal data: odd number of "
                        "digits"
                    )
                return f"unhex('{digits}')"
        # escape format (byteain): each DECODED backslash must start
        # '\\\\' (a backslash byte) or '\\ooo' (an octal byte). The
        # literal arrives raw — E-level '\\\\' pairs decode to one
        # backslash; an odd trailing raw backslash is an E-escape
        # consuming the next char, not byteain's concern.
        i2, n3 = 0, len(body)
        while i2 < n3:
            if body[i2] != "\\":
                i2 += 1
                continue
            j2 = i2
            while j2 < n3 and body[j2] == "\\":
                j2 += 1
            dec = (j2 - i2) // 2
            while dec > 0:
                if dec >= 2:
                    dec -= 2  # decoded '\\\\' pair: backslash byte
                else:
                    if not re.match(r"[0-7]{3}", body[j2 : j2 + 3]):
                        raise ValueError(
                            "invalid input syntax for type bytea")
                    dec -= 1
            i2 = j2 + (1 if (j2 - i2) % 2 else 0)
        return f"CAST({lit} AS BINARY)"

    out = _BYTEA_CAST_RE.sub(sub_bytea, out)

    # bit / bit varying / varbit literal casts (varbit.c bit_in /
    # varbit_in): the value is the binary-digit text itself; digits
    # validate always, length validates when a typmod is given
    # (bit(n) exact, varying(n) max). Unspecified-length bit keeps
    # the literal's length (typmod -1).
    def sub_bit(m: re.Match) -> str:
        txt = _lit_value(m.group(1), lits)
        spec = re.sub(r"\s+", " ", m.group(2).lower())
        n = m.group(3)
        bad = next((c for c in txt if c not in "01"), None)
        if bad is not None:
            raise ValueError(
                f'"{bad}" is not a valid binary digit')
        if n is not None:
            ln = int(n)
            if spec in ("bit varying", "varbit"):
                if len(txt) > ln:
                    raise ValueError(
                        f"bit string too long for type "
                        f"bit varying({ln})")
            elif len(txt) != ln:
                raise ValueError(
                    f"bit string length {len(txt)} does not match "
                    f"type bit({ln})")
        return m.group(1)

    out = re.sub(
        rf"(?:\bE)?({_LIT})\s*::\s*(bit\s+varying|varbit|bit)\b"
        r"(?:\s*\(\s*(\d+)\s*\))?",
        sub_bit,
        out,
        flags=re.IGNORECASE,
    )

    # '::money' input/output (cash.c cash_in/cash_out): parse '$1,234',
    # '(1)' accounting-negative forms to DECIMAL(19,2); render as
    # '$12,345.00' text; '::money::numeric' yields the numeric value
    def sub_money(m: re.Match) -> str:
        x, to_num = m.group(1), m.group(2)
        xs = x.strip()
        if _MASK_RE.fullmatch(xs):
            # literal input: cash_in's int64-cents range check runs at
            # plan time (rounding half away from zero, cash.c)
            raw = _lit_value(xs, lits)
            t = raw.strip().replace(",", "").replace("$", "")
            neg = False
            if t.startswith("(") and t.endswith(")"):
                neg, t = True, t[1:-1].strip()
            if t.startswith("-"):
                neg, t = not neg, t[1:]
            if re.fullmatch(r"\d+(?:\.\d*)?", t):
                import decimal as _dec

                cents = (
                    _dec.Decimal(t) * 100
                ).quantize(0, rounding=_dec.ROUND_HALF_UP)
                if neg:
                    cents = -cents
                if not (-(2**63) <= cents <= 2**63 - 1):
                    raise ValueError(
                        f'value "{raw}" is out of range for type money'
                    )
        parsed = f"pg_money_in(CAST({x} AS STRING))"
        if to_num:
            return f"CAST({parsed} AS DECIMAL(19,2))"
        return f"pg_money_text({parsed})"

    out = _MONEY_CAST_RE.sub(sub_money, out)

    # '{a,b,c}'::type[] braced array literals — BEFORE the scalar cast
    # pass, which would otherwise emit CAST(..)[]
    def sub_braced(m: re.Match) -> str:
        body = lits[int(_MASK_RE.match(m.group(1)).group(1))][1:-1].strip()
        # '[2:4]={1,2,3}' bounds-decorated input (array_in): custom
        # lower bounds are accepted and normalized to 1-based — the
        # engine's array model has no bounds (documented deviation)
        body = re.sub(r"^(\s*\[-?\d+:-?\d+\])+\s*=\s*", "", body)
        if not (body.startswith("{") and body.endswith("}")):
            return m.group(0)
        inner = body[1:-1].strip()
        typ = _map_type(m.group(2))
        if not inner:
            return f"CAST(array() AS ARRAY<{typ}>)"
        elems = _parse_braced_elems(inner)
        if elems is not None:
            if m.group(2).strip().lower() == "interval":
                # interval elements: PG unit spellings ('mon') must
                # normalize before Spark's stringToInterval sees them
                elems = [
                    re.sub(r"(?i)\bmons?\b", "month", e).strip()
                    for e in elems
                ]
            return (
                f"CAST(array("
                + ", ".join("'" + e.replace("'", "''") + "'" for e in elems)
                + f") AS ARRAY<{typ}>)"
            )
        # multi-dimensional '{{1,2},{3,4}}' bodies: nested array()
        # construction (array_in multi-dim; default [1:n] bounds only)
        # Junk after a quoted element ('{"1 2" x}') is array_in's
        # unexpected-character error in PG
        if re.search(r'"(?:[^"\\]|\\.)*"\s*[^,}\s]', inner):
            raise ValueError(f'malformed array literal: "{body}"')
        tree = _parse_braced_tree(inner)
        if tree is None or not all(isinstance(e, list) for e in tree):
            return m.group(0)  # malformed / ragged top level: loud
        if any(isinstance(e, list) and not e for e in tree) or len(
            {len(e) for e in tree}
        ) > 1:
            # array_in: empty sub-arrays and ragged dimensions are
            # malformed in a multi-dim literal
            raise ValueError(f'malformed array literal: "{body}"')

        def build(node) -> str:
            if isinstance(node, list):
                return "array(" + ", ".join(build(e) for e in node) + ")"
            return "'" + node.replace("'", "''") + "'"

        dep, probe_node = 1, tree
        while probe_node and isinstance(probe_node[0], list):
            dep += 1
            probe_node = probe_node[0]
        t = typ
        for _ in range(dep):
            t = f"ARRAY<{t}>"
        return (
            f"CAST(array({', '.join(build(e) for e in tree)}) AS {t})"
        )

    # a '::text' step before an array cast is an identity under the
    # braced-literal model ('{1,2}'::text::integer[] parses the text)
    out = re.sub(
        rf"({_LIT})\s*::\s*text\s*(::\s*[a-zA-Z_]\w*\s*\[\s*\])",
        r"\1\2",
        out,
    )
    # CAST('{..}' AS t[]) takes the same braced-literal path as ::t[]
    out = re.sub(
        rf"(?i)\bCAST\s*\(\s*({_LIT})\s+AS\s+"
        rf"([a-zA-Z_]\w*\s*\[\s*\])\s*\)",
        r"\1::\2",
        out,
    )
    out = _BRACED_ARRAY_CAST_RE.sub(sub_braced, out)

    # `expr::type[]` / CAST(expr AS type[]): PG array types are
    # DIMENSION-AGNOSTIC (arrays.sql casts a 6-deep ARRAY[[[…]]] to
    # text[]), so the Spark type must match the operand's nesting —
    # count the constructor's leading array( run
    def _arr_depth_of(expr: str) -> int:
        d_, s = 0, expr.lstrip()
        while True:
            m2 = re.match(r"(?is)^array\s*\(", s)
            if not m2:
                break
            d_ += 1
            s = s[m2.end():].lstrip()
        return d_

    def _arr_operand_start(s: str, end: int) -> int:
        i = end
        while i > 0 and s[i - 1].isspace():
            i -= 1
        if i > 0 and s[i - 1] == ")":
            depth, j = 0, i
            while j > 0:
                j -= 1
                if s[j] == ")":
                    depth += 1
                elif s[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
            i = j
            while i > 0 and (s[i - 1].isalnum() or s[i - 1] in "_.$"):
                i -= 1
            return i
        while i > 0 and (s[i - 1].isalnum() or s[i - 1] in "_.$\x01"):
            i -= 1
        return i

    _CA_RE = re.compile(r"::\s*([a-zA-Z_]\w*)\s*\[\s*\]")
    pos_ca = 0
    while True:
        m = _CA_RE.search(out, pos_ca)
        if not m:
            break
        st = _arr_operand_start(out, m.start())
        depth = max(1, _arr_depth_of(out[st: m.start()]))
        t = _map_type(m.group(1))
        rep = "::" + "ARRAY<" * depth + t + ">" * depth
        out = out[: m.start()] + rep + out[m.end():]
        pos_ca = m.start() + len(rep)

    # CAST(expr AS type[]) spelling, same dimension inference
    def _fix_cast_array_types(s: str) -> str:
        i = 0
        while True:
            m2 = re.search(r"(?i)\bCAST\s*\(", s[i:])
            if not m2:
                return s
            op = i + m2.end() - 1
            depth, j = 0, op
            while j < len(s):
                if s[j] == "(":
                    depth += 1
                elif s[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            inner = s[op + 1: j]
            am = re.match(
                r"(?is)^(.*\S)\s+AS\s+([a-zA-Z_]\w*)\s*\[\s*\]\s*$",
                inner,
            )
            if am:
                d_ = max(1, _arr_depth_of(am.group(1)))
                t = _map_type(am.group(2))
                s = (
                    s[: op + 1] + am.group(1) + " AS "
                    + "ARRAY<" * d_ + t + ">" * d_ + s[j:]
                )
            i = op + 1
        return s

    out = _fix_cast_array_types(out)
    # 'NaN'/'Infinity' into numeric: PG numeric admits the IEEE
    # specials (numeric.c), DECIMAL cannot (CAST -> NULL, the silent-
    # wrong-answer class) — lower those literals to DOUBLE instead
    def _numeric_target(tok: str, typ: str) -> str:
        if _lit_value(tok, lits).strip().lower() in (
            "nan", "infinity", "+infinity", "-infinity", "inf", "-inf"
        ):
            return "DOUBLE"
        return _map_type(typ.lower())

    out = re.sub(
        r"(\x01\d+\x01)\s*::\s*(numeric)(?!\s*\()",
        lambda m: f"CAST({m.group(1)} AS {_numeric_target(*m.groups())})",
        out,
        flags=re.IGNORECASE,
    )

    # bool 'n' / int4 '7' / numeric '1.5' typed scalar literals
    out = _TYPED_SCALAR_LIT_RE.sub(
        lambda m: (
            f"CAST({m.group(2)} AS "
            f"{_numeric_target(m.group(2), m.group(1))})"
            if m.group(1).lower() == "numeric"
            # name truncates to NAMEDATALEN-1 = 63 (gram.y AexprConst)
            else f"CAST(left({m.group(2)}, 63) AS STRING)"
            if m.group(1).lower() == "name"
            else f"CAST({m.group(2)} AS {_map_type(m.group(1).lower())})"
        ),
        out,
    )
    out = _CHAR_TYPED_LIT_RE.sub(lambda m: m.group(1), out)
    # COLLATION FOR (expr) (pg_collation_for; gram.y COLLATION FOR):
    # the engine has a single collation, PG's answer for an
    # unspecified-collation string expression is "default"
    out = re.sub(
        r"(?is)\bCOLLATION\s+FOR\s*\((?:[^()]|\([^()]*\))*\)",
        "'default'",
        out,
    )

    # expr::type  (repeat: chained casts a::text::int)
    prev = None
    while prev != out:
        prev = out
        out = _CAST_RE.sub(
            lambda m: f"CAST({m.group(1)} AS {_map_type(m.group(2))})", out
        )

    # Fallback for operands _CAST_RE can't bound (nested parens): Spark 4
    # parses `expr::type` natively, so just map the PG type name.
    # (ARRAY<...> types emitted above are already Spark-native — the
    # lookahead keeps the word ARRAY from being re-mapped bare.)
    out = re.sub(
        r"::\s*([a-zA-Z_]\w*(?!\s*<)(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)",
        lambda m: "::" + _map_type(m.group(1)),
        out,
    )

    # DECODE(e, s1, r1[, s2, r2...][, default]) → CASE (GP/Oracle
    # decode_expr.sql; only the ≥3-arg form — Spark's own 2-arg
    # decode(bin, charset) passes through)
    prev = None
    while prev != out:
        prev = out
        out = _DECODE_RE.sub(_rewrite_decode, out)

    # gp_segment_id pseudo-column (GP cdbvars.h; the canonical
    # distribution-skew probe `SELECT gp_segment_id, count(*) ... GROUP
    # BY 1`) → the executing Spark partition id.
    out = re.sub(r"\bgp_segment_id\b", "spark_partition_id()", out)

    # EXTRACT(EPOCH FROM x) → unix_seconds (PG timestamp.c epoch field)
    out = _EXTRACT_EPOCH_RE.sub(
        lambda m: f"unix_seconds(CAST({m.group(1).strip()} AS TIMESTAMP))",
        out,
    )

    # EXTRACT(DOW/ISODOW FROM x) → PG day numbering
    out = _EXTRACT_DOW_RE.sub(
        lambda m: (
            f"(dayofweek({m.group(2).strip()}) - 1)"
            if m.group(1).upper() == "DOW"
            else f"(weekday({m.group(2).strip()}) + 1)"
        ),
        out,
    )

    # EXTRACT(CENTURY/DECADE/MILLENNIUM) → year() arithmetic
    out = _EXTRACT_WIDE_RE.sub(
        lambda m: _WIDE_FORMULAS[m.group(1).upper()].format(
            x=m.group(2).strip()
        ),
        out,
    )

    # x OP ANY/ALL/SOME (array) → exists()/forall(); LIKE/ILIKE forms too
    out = _rewrite_op_any_all(out, lits)

    # PG math operators: ^ power, # xor, @ abs, |/ sqrt, ||/ cbrt
    out = _rewrite_pg_math_ops(out)

    # substring(x FROM 'regex') → regexp_extract with PG group rules
    out = _rewrite_substring_regex(out, lits)

    # ROW() records, array helpers, num_nonnulls, age, gcd/lcm,
    # AT TIME ZONE, ARRAY(SELECT ...)
    out = _rewrite_pg_misc_fns(out, lits)

    # mixed-dimension array concatenation (arrayfuncs.c array_cat): a
    # 1-D operand against a 2-D one appends/prepends AS A ROW — wrap
    # the 1-D literal side so Spark's concat types align
    _AR_LIT = r"array\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"
    _is2d = re.compile(r"array\(\s*array\(")

    def _nd_fix(m: re.Match) -> str:
        a, b = m.group(1), m.group(2)
        a2, b2 = bool(_is2d.match(a)), bool(_is2d.match(b))
        sep = " || " if "||" in m.group(0) else None
        if a2 == b2:
            return m.group(0)
        a, b = (a, f"array({b})") if a2 else (f"array({a})", b)
        if sep:
            return f"{a}{sep}{b}"
        return f"concat({a}, {b})"

    # scalar-element concatenation (0 || ARRAY[1,2] || 3 — array_cat's
    # element forms): bare NUMERIC literals next to an array literal
    # wrap as one-element arrays, so the whole chain is array concat
    out = re.sub(
        r"(?<![\w.'])(-?\d+(?:\.\d+)?)\s*\|\|(?=\s*array\()",
        r"array(\1) ||",
        out,
    )
    out = re.sub(
        rf"({_AR_LIT})\s*\|\|\s*(-?\d+(?:\.\d+)?)(?![\w.])",
        r"\1 || array(\2)",
        out,
    )
    out = re.sub(rf"({_AR_LIT})\s*\|\|\s*({_AR_LIT})", _nd_fix, out)
    out = re.sub(
        rf"concat\(\s*({_AR_LIT})\s*,\s*({_AR_LIT})\s*\)", _nd_fix, out
    )

    # BETWEEN SYMMETRIC → least/greatest bound swap
    out = _rewrite_between_symmetric(out)

    # BETWEEN binds TIGHTER than comparison in PG (gram.y: BETWEEN
    # is %nonassoc above Op/comparison) while Spark groups the
    # comparison first — `false <= -1 BETWEEN 1 AND 1` is
    # `false <= (-1 BETWEEN 1 AND 1)` (create_operator.out:98);
    # parenthesize the BETWEEN when simple operands follow a
    # comparison operator
    # only a genuine comparison operator regroups: generic multi-char
    # operators (<<, >>, #>, |>, ...) bind TIGHTER than BETWEEN, so a
    # lookbehind excludes operator chars before the comparison token
    out = re.sub(
        r"(?<![<>=!#&|^~+\-*/%@])(<>|<=|>=|=|<|>)(?![<>=])"
        r"((?:\s|/\*.*?\*/)*)([-+]?\w+)"
        r"\s+(BETWEEN\s+[-+]?\w+\s+AND\s+[-+]?\w+)",
        r"\1\2(\3 \4)",
        out,
        flags=re.IGNORECASE,
    )

    # COLLATE clauses strip (Spark compares binary, PG's "C"); the
    # CAST-target syntax check already ran before the first strip
    out = _COLLATE_RE.sub("", out)

    # row-lock clauses strip (nodeLockRows.c; no transactions here) and
    # inheritance ONLY strips (no table inheritance)
    out = _LOCK_CLAUSE_RE.sub("", out)
    out = _FROM_ONLY_RE.sub(lambda m: m.group(1) + " ", out)

    # string_agg → listagg (Spark 4); in-paren ORDER BY → WITHIN GROUP
    out = _STRING_AGG_ORDER_RE.sub(
        lambda m: (
            f"listagg({m.group(1).strip()}, {m.group(2)}) "
            f"WITHIN GROUP (ORDER BY {m.group(3).strip()})"
        ),
        out,
    )
    out = _STRING_AGG_RE.sub(
        lambda m: f"listagg({m.group(1).strip()}, {m.group(2)})", out
    )

    # ROWS FROM (fn(..)) single-function form → plain FROM fn(..)
    out = _ROWS_FROM_RE.sub(lambda m: f"FROM {m.group(1)}", out)

    # unnest/generate_series WITH ORDINALITY → posexplode (1-based)
    out = _rewrite_srf_ordinality(out)

    # FROM generate_series(a, b[, s]) [AS] t(n)
    out = _GENSERIES_FROM_RE.sub(
        lambda m: (
            f"FROM (SELECT explode(sequence({m.group(1)})) AS {m.group(3)}) {m.group(2)}"
        ),
        out,
    )
    # FROM srf(..) with a bare alias / no alias: alias names the column
    out = _rewrite_srf_from_bare(out)
    out = _rewrite_nested_srf(out)
    # SRFs in ORDER BY lockstep with the select list's (tsrf.sql)
    out = _rewrite_srf_order_by(out)
    # SRFs in the SELECT list: a lone unnest() item becomes explode;
    # multiple consecutive SRF items run in lockstep with NULL padding
    # (execSRF.c) and lower to one inline(arrays_zip) generator
    out = _rewrite_multi_srf_select(out)
    # SRF in the SELECT list (`SELECT generate_series(1, 3)`) — any
    # occurrence the FROM-position passes above did not consume becomes
    # a generator. Only the SINGLE-occurrence case is rewritten —
    # nested SRFs and illegal positions (LIMIT) stay loud.
    if len(re.findall(r"(?i)\bgenerate_series\s*\(", out)) == 1:
        out = re.sub(
            r"\bgenerate_series\s*\(((?:[^()]|\([^()]*\))*)\)",
            lambda m: f"explode(sequence({m.group(1)}))",
            out,
            flags=re.IGNORECASE,
        )

    # PG TABLESAMPLE method spellings (gram.y opt_sample;
    # tablesample/bernoulli.c, system.c) → Spark's percent form.
    # BERNOULLI is row-level sampling = Spark's row-Bernoulli PERCENT;
    # SYSTEM (page-level in PG) has no page analogue — approximated by
    # the same row sampling, documented deviation.
    out = re.sub(
        r"\bTABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(\s*([\d.]+)\s*\)",
        lambda m: f"TABLESAMPLE ({m.group(1)} PERCENT)",
        out,
        flags=re.IGNORECASE,
    )

    # PG E'...' escape-string literals (scan.l xe state, either case):
    # Spark's non-ANSI parser interprets backslash escapes in plain
    # literals identically, so dropping the E prefix preserves the
    # value. \u/\U escapes validate first (scan.l xeu state +
    # check_unicode_value): bad hex, the NUL codepoint, and broken
    # pairs raise exactly where PG does.
    def _check_e_unicode(m: re.Match) -> str:
        body = lits[int(_MASK_RE.match(m.group(1)).group(1))][1:-1]
        i, n2 = 0, len(body)
        pending_high = False
        while i < n2:
            if body[i] != "\\":
                if pending_high:
                    raise ValueError(
                        "invalid Unicode surrogate pair")
                i += 1
                continue
            j = i
            while j < n2 and body[j] == "\\":
                j += 1
            if (j - i) % 2 == 0:  # escaped backslashes only
                if pending_high:
                    raise ValueError(
                        "invalid Unicode surrogate pair")
                i = j
                continue
            # odd run: the last backslash escapes body[j]
            c = body[j : j + 1]
            if c in ("u", "U"):
                width = 4 if c == "u" else 8
                hexs = body[j + 1 : j + 1 + width]
                if len(hexs) < width or not re.fullmatch(
                    r"[0-9A-Fa-f]+", hexs
                ):
                    raise ValueError("invalid Unicode escape")
                cp = int(hexs, 16)
                if cp == 0:
                    raise ValueError(
                        "invalid Unicode escape value")
                if pending_high:
                    if not (0xDC00 <= cp <= 0xDFFF):
                        raise ValueError(
                            "invalid Unicode surrogate pair")
                    pending_high = False
                elif 0xD800 <= cp <= 0xDBFF:
                    pending_high = True
                elif 0xDC00 <= cp <= 0xDFFF:
                    raise ValueError(
                        "invalid Unicode surrogate pair")
                i = j + 1 + width
            else:
                if pending_high:
                    raise ValueError(
                        "invalid Unicode surrogate pair")
                i = j + 1
        if pending_high:
            raise ValueError("invalid Unicode surrogate pair")
        return m.group(1)

    out = re.sub(rf"\b[Ee]({_LIT})", _check_e_unicode, out)

    # SQL:2008 fetch clause (gram.y limit_clause) and LIMIT ALL
    out = re.sub(
        r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b",
        lambda m: f"LIMIT {m.group(1)}",
        out,
        flags=re.IGNORECASE,
    )
    out = re.sub(r"\bLIMIT\s+ALL\b", "", out, flags=re.IGNORECASE)

    # PG NULLS-ordering defaults, made explicit per ORDER BY item
    out = _inject_nulls_ordering(out)

    return _unmask(out, lits)
