"""Row/array/predicate comparison rewrites: row comparisons, OVERLAPS, IS DISTINCT FROM, SIMILAR TO, op ANY/ALL, BETWEEN SYMMETRIC, POSIX regex matches, substring(re).

Split from sql_dialect.py (r14); see that module's docstring for
the shim-wide design rules (masked literals, bounded regexes,
anything unrecognized passes through loud).
"""

from __future__ import annotations

import re
from warehouse_pg_spark.dialect.mask import (
    _DISTINCT_OPERAND,
    _LIT,
    _MASK_RE,
    _close_paren,
    _lit_value,
    _new_lit,
    _split_commas,
)
from warehouse_pg_spark.dialect.typemap import _braced_to_array


# POSIX regex match: expr ~ 'pat' / ~* / !~ / !~* (regexp.c textregexeq
# family) and LIKE spellings ~~ / ~~* / !~~ / !~~* (like.c). Right side
# must be a literal so `~` can't be confused with a prefix operator.
_REGEX_MATCH_RE = re.compile(
    rf"([\w.\)\]]+|{_LIT})\s*(!~~\*|!~~|~~\*|~~|!~\*|!~|~\*|~)\s*({_LIT})"
)

# (s1, e1) OVERLAPS (s2, e2) (gram.y a_expr OVERLAPS; timestamp.c
# overlaps_timestamp): each pair is normalized so start <= end, then
# the intervals overlap iff s1 < e2 AND s2 < e1 (half-open semantics).
_OVERLAPS_RE = re.compile(
    r"\(\s*([^,()]+?)\s*,\s*([^,()]+?)\s*\)\s+"
    r"OVERLAPS\s+\(\s*([^,()]+?)\s*,\s*([^,()]+?)\s*\)",
    re.IGNORECASE,
)


# Row-wise comparison (gram.y row expr; rowtypes.c row_gt/row_lt):
# `(k1, k2) > (v1, v2)` — the keyset-pagination predicate. Spark
# compares structs lexicographically but requires matching field
# names, so the literal side's fields are aliased to the column side's.
_ROW_CMP_RE = re.compile(
    rf"\(\s*([\w.]+)\s*,\s*([\w.]+)\s*\)\s*(<=|>=|<|>)\s*"
    rf"\(\s*([^,()]+?)\s*,\s*([^,()]+?)\s*\)"
)
# explicit ROW(...) op ROW(...) spelling, any arity; args may nest one
# paren level (function calls / typed literals)
_ROW_ROW_CMP_RE = re.compile(
    r"\bROW\s*\(((?:[^()]|\([^()]*\))*)\)\s*(<=|>=|<>|!=|=|<|>)\s*"
    r"ROW\s*\(((?:[^()]|\([^()]*\))*)\)",
    re.IGNORECASE,
)


def _row_cmp_expand(xs: list[str], ys: list[str], op: str) -> str:
    """PG row-wise comparison (rowtypes.c record_cmp / record_eq) as
    explicit three-valued boolean logic — Spark's native struct
    comparison orders NULLs instead of propagating UNKNOWN, so
    ROW(1,2,3) < ROW(1,NULL,4) must be NULL, not false."""
    if op in ("=", "<>", "!="):
        conj = " AND ".join(f"(({x}) = ({y}))" for x, y in zip(xs, ys))
        return f"({conj})" if op == "=" else f"(NOT ({conj}))"
    strict = op[0]

    def rec(i: int) -> str:
        x, y = xs[i], ys[i]
        if i == len(xs) - 1:
            return f"(({x}) {op} ({y}))"
        return (
            f"((({x}) {strict} ({y})) OR "
            f"((({x}) = ({y})) AND {rec(i + 1)}))"
        )

    return f"({rec(0)})"


def _rewrite_row_compare(sql: str) -> str:
    def sub(m: re.Match) -> str:
        a, b, op, v1, v2 = (g.strip() for g in m.groups())
        return _row_cmp_expand([a, b], [v1, v2], op)

    sql = _ROW_CMP_RE.sub(sub, sql)

    def sub_row_row(m: re.Match) -> str:
        xs = [s.strip() for s in _split_commas(m.group(1))]
        op = m.group(2)
        ys = [s.strip() for s in _split_commas(m.group(3))]
        if len(xs) != len(ys):  # arity mismatch: stay loud downstream
            return m.group(0)
        return _row_cmp_expand(xs, ys, op)

    return _ROW_ROW_CMP_RE.sub(sub_row_row, sql)


def _rewrite_overlaps(sql: str) -> str:
    # timestamp.c overlaps_timestamp, including its NULL verdicts:
    # each interval is normalized so the start is the lesser non-null
    # endpoint (a lone NULL endpoint becomes the open end); both
    # endpoints NULL => NULL; when the three-way start comparison needs
    # an open end the result is NULL; equal starts => TRUE only when
    # both ends are known. Spark's least()/greatest() skip NULLs, so
    # least(s,e) is already "lesser non-null endpoint" and the
    # normalized end needs explicit both-non-null gating.
    def sub(m: re.Match) -> str:
        s1, e1, s2, e2 = (g.strip() for g in m.groups())
        ns1 = f"least({s1}, {e1})"
        ns2 = f"least({s2}, {e2})"
        ne1 = (
            f"CASE WHEN {s1} IS NOT NULL AND {e1} IS NOT NULL "
            f"THEN greatest({s1}, {e1}) END"
        )
        ne2 = (
            f"CASE WHEN {s2} IS NOT NULL AND {e2} IS NOT NULL "
            f"THEN greatest({s2}, {e2}) END"
        )
        null = "CAST(NULL AS BOOLEAN)"
        return (
            "(CASE "
            f"WHEN {ns1} IS NULL OR {ns2} IS NULL THEN {null} "
            f"WHEN {ns1} > {ns2} THEN CASE "
            f"WHEN ({ne2}) IS NULL THEN {null} "
            f"WHEN {ns1} < ({ne2}) THEN TRUE "
            f"WHEN ({ne1}) IS NULL THEN {null} "
            "ELSE FALSE END "
            f"WHEN {ns1} < {ns2} THEN CASE "
            f"WHEN ({ne1}) IS NULL THEN {null} "
            f"WHEN {ns2} < ({ne1}) THEN TRUE "
            f"WHEN ({ne2}) IS NULL THEN {null} "
            "ELSE FALSE END "
            f"ELSE CASE WHEN ({ne1}) IS NULL OR ({ne2}) IS NULL "
            f"THEN {null} ELSE TRUE END END)"
        )

    return _OVERLAPS_RE.sub(sub, sql)
_DISTINCT_FROM_RE = re.compile(
    rf"({_DISTINCT_OPERAND})\s+IS\s+(NOT\s+)?DISTINCT\s+FROM\s+"
    rf"({_DISTINCT_OPERAND})",
    re.IGNORECASE,
)

# [NOT] SIMILAR TO (like_support.c similar_escape): SQL-regex where
# % → .* and _ → . while regex metachars ( | * + ? [ ] ) work as-is;
# anchored both ends. Lowered to RLIKE with a translated pattern.
_SIMILAR_TO_RE = re.compile(
    rf"({_DISTINCT_OPERAND})\s+(NOT\s+)?SIMILAR\s+TO\s+({_LIT})",
    re.IGNORECASE,
)


def _similar_to_regex(pat: str) -> str:
    """Translate a SQL SIMILAR TO pattern to an anchored Java regex."""
    out = []
    in_class = False
    i, n = 0, len(pat)
    while i < n:
        ch = pat[i]
        if ch == "\\" and i + 1 < n:
            # Escape: pass `\x` through verbatim — preserves both
            # literal-metachar escapes (\%, \() and regex class escapes
            # (\d, \w) exactly as similar_escape does (regexp.c).
            out.append("\\" + pat[i + 1])
            i += 2
            continue
        if in_class:
            out.append(ch)
            in_class = ch != "]"
        elif ch == "[":
            out.append(ch)
            in_class = True
        elif ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        elif ch in ".^$\\":
            # Literals in SQL SIMILAR TO (only % _ | * + ? ( ) [ ] { }
            # are metacharacters) — similar_escape escapes them.
            out.append("\\" + ch)
        else:
            out.append(ch)
        i += 1
    return "^(?:" + "".join(out) + ")$"


def _rewrite_distinct_similar(sql: str, lits: list[str]) -> str:
    def sub_distinct(m: re.Match) -> str:
        a, neg, b = m.groups()
        eq = f"({a} <=> {b})"
        return eq if neg else f"(NOT {eq})"

    def sub_similar(m: re.Match) -> str:
        lhs, neg, tok = m.groups()
        # Double backslashes when re-embedding: Spark's non-ANSI
        # literal parser halves them again, so the Java regex receives
        # exactly what _similar_to_regex produced (\d stays a class
        # escape, \% a literal %).
        rx = _similar_to_regex(_lit_value(tok, lits)).replace("\\", "\\\\")
        expr = f"{lhs} RLIKE {_new_lit(rx, lits)}"
        return f"(NOT ({expr}))" if neg else f"({expr})"

    sql = _DISTINCT_FROM_RE.sub(sub_distinct, sql)
    return _SIMILAR_TO_RE.sub(sub_similar, sql)


def _rewrite_decode(m: re.Match) -> str:
    args = [a.strip() for a in m.group(1).split(",")]
    if len(args) < 3:
        return m.group(0)
    expr, rest = args[0], args[1:]
    if expr.upper() == "NULL" and re.fullmatch(r"-?\d+", rest[0]):
        # decode_expr.out:808: a bare NULL subject types as text,
        # and text = integer has no operator in PG
        raise ValueError("operator does not exist: text = integer")
    pairs, default = [], None
    while len(rest) >= 2:
        pairs.append((rest[0], rest[1]))
        rest = rest[2:]
    if rest:
        default = rest[0]
    whens = " ".join(f"WHEN {s} THEN {r}" for s, r in pairs)
    tail = f" ELSE {default}" if default is not None else ""
    return f"CASE {expr} {whens}{tail} END"

# scalar `x OP ANY/ALL/SOME (array)` (parse_oper.c make_scalar_array_op;
# NOT the quantified-subquery form — a SELECT inside the parens is left
# alone). Lowered to Spark's higher-order exists()/forall(), whose
# three-valued NULL semantics match ExecEvalScalarArrayOp. The left
# operand is an additive/multiplicative chain (PG gives comparison
# operators lower precedence than arithmetic, gram.y a_expr), so
# 'a + b = ANY(arr)' quantifies over (a + b), not b.
# operand/array admit 2-3 paren levels: cast chains arrive as
# CAST(array(..) AS ..) and row() comparisons as struct((..) AS f1,..)
_ANY_OPND = (
    rf"(?:{_LIT}"
    r"|[\w.]+\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"
    r"|[\w.]+"
    r"|\((?:[^()]|\([^()]*\))*\))"
)
_OP_ANY_ALL_RE = re.compile(
    rf"({_ANY_OPND}(?:\s*[-+*/%]\s*{_ANY_OPND})*)"
    rf"\s*(=|<>|!=|<=|>=|<|>)\s*"
    rf"(ANY|ALL|SOME)\s*\(\s*(?!\s*SELECT\b)"
    rf"((?:[^()]|\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))+)\s*\)",
    re.IGNORECASE,
)


# pattern-match quantified over arrays: s [NOT] LIKE/ILIKE ANY/ALL (...)
_LIKE_ANY_ALL_RE = re.compile(
    rf"({_DISTINCT_OPERAND})\s+(NOT\s+)?(LIKE|ILIKE)\s+"
    rf"(ANY|ALL|SOME)\s*\(\s*(?!\s*SELECT\b)"
    rf"((?:[^()]|\([^()]*\))+)\s*\)",
    re.IGNORECASE,
)

# x [NOT] BETWEEN SYMMETRIC a AND b (gram.y a_expr BETWEEN SYMMETRIC;
# Spark has no SYMMETRIC) — expanded exactly as gram.y does:
# ((x >= a AND x <= b) OR (x >= b AND x <= a)), so a NULL bound yields
# NULL (not the FALSE a least/greatest bound swap would produce —
# least/greatest skip NULLs).
_BETWEEN_SYM_RE = re.compile(
    rf"({_DISTINCT_OPERAND})\s+(NOT\s+)?BETWEEN\s+SYMMETRIC\s+"
    rf"({_DISTINCT_OPERAND})\s+AND\s+({_DISTINCT_OPERAND})",
    re.IGNORECASE,
)

# substring(x FROM 'regex') (varlena.c textregexsubstr): returns the
# first match — capture group 1 when the pattern has one, else the
# whole match; NULL on no match
_SUBSTR_REGEX_RE = re.compile(
    rf"\bsubstring\s*\(\s*({_DISTINCT_OPERAND})\s+FROM\s+({_LIT})\s*\)",
    re.IGNORECASE,
)


def _rewrite_substring_regex(sql: str, lits: list[str]) -> str:
    def sub(m: re.Match) -> str:
        x, lit_tok = m.group(1).strip(), m.group(2)
        body = lits[int(_MASK_RE.match(lit_tok).group(1))]
        # capture-group detection on the unquoted pattern text
        idx = 1 if re.search(r"(?<!\\)\((?!\?)", body[1:-1]) else 0
        # textregexsubstr: NULL only on NO match; a pattern that
        # matches the empty string (e.g. 'z*') returns '' — so gate on
        # RLIKE instead of nullif'ing the extract (which can't tell
        # empty-match from no-match).
        return (
            f"(CASE WHEN {x} RLIKE {lit_tok} "
            f"THEN regexp_extract({x}, {lit_tok}, {idx}) END)"
        )

    return _SUBSTR_REGEX_RE.sub(sub, sql)


def _rewrite_op_any_all(sql: str, lits: list[str]) -> str:
    def sub(m: re.Match) -> str:
        x, op, quant, arr = (g.strip() for g in m.groups())
        arr = _braced_to_array(arr, lits)
        fn = "forall" if quant.upper() == "ALL" else "exists"
        if op == "<>":
            op = "!="
        if re.match(r"(?is)^\(\s*SELECT\b", arr):
            # array-valued SCALAR SUBQUERY operand ('x = ANY((SELECT
            # array)::t[])'): Spark forbids subqueries under
            # higher-order functions — explode the array in a
            # subquery and quantify with bool_or/bool_and instead
            agg = "bool_and" if fn == "forall" else "bool_or"
            arr_e = re.sub(r"(?is)::\s*\w+\s*\[\s*\]\s*$", "", arr)
            return (
                f"(SELECT {agg}(({x}) {op} __qe) "
                f"FROM (SELECT explode({arr_e}) AS __qe) AS __qx)"
            )
        return f"{fn}({arr}, __qe -> ({x}) {op} __qe)"

    def sub_like(m: re.Match) -> str:
        x, neg, op, quant, arr = (
            (g or "").strip() for g in m.groups()
        )
        arr = _braced_to_array(arr, lits)
        fn = "forall" if quant.upper() == "ALL" else "exists"
        pred = f"({x}) {op.upper()} __qe"
        if neg:
            pred = f"NOT ({pred})"
        return f"{fn}({arr}, __qe -> {pred})"

    def sub_subq(m: re.Match) -> str:
        # quantified SUBQUERY comparisons (parse_expr.c SubLink
        # ANY/ALL): Spark SQL has no ALL/ANY(SELECT ...) at all.
        # Lowered through ONE scalar collect_list subquery + a
        # higher-order exists/forall — PG runs these as a materialized
        # subplan per row too, so the collected-array shape mirrors the
        # reference's execution (hashed/materialized SubPlan), and the
        # subquery here is a bounded dialect path, not a fact scan.
        x, op, quant, q = (g.strip() for g in m.groups())
        if re.search(r"(?i)\bFROM\b", q):
            # table-backed subqueries keep the scalable join lowering
            # (pinned by test_dialect_property); only the FROM-less
            # SRF-expansion shape takes the aggregated path
            return m.group(0)
        if op == "<>":
            op = "!="
        # Three-valued logic (execExprInterp.c ExecScanSubPlan): ANY is
        # true if any comparison is true, else NULL if any is NULL,
        # else false (empty set → false); ALL mirrors with false/NULL/
        # true (empty set → true). A plain bool_or/bool_and skips
        # NULLs, and coalescing the whole thing collapsed Unknown —
        # e.g. 1 = ANY(SELECT NULL) must stay NULL, not false.
        if quant.upper() == "ALL":
            case = (
                "CASE WHEN count_if(NOT __qc) > 0 THEN false "
                "WHEN count_if(__qc IS NULL) > 0 THEN "
                "CAST(NULL AS BOOLEAN) ELSE true END"
            )
        else:
            case = (
                "CASE WHEN count_if(__qc) > 0 THEN true "
                "WHEN count_if(__qc IS NULL) > 0 THEN "
                "CAST(NULL AS BOOLEAN) ELSE false END"
            )
        return (
            f"(SELECT {case} FROM (SELECT (({x}) {op} __qv) AS __qc "
            f"FROM ({q}) AS __qt(__qv)) AS __qs)"
        )

    # head-match the operand/op/quantifier, then BALANCE the subquery's
    # parens by scan — arbitrarily nested SRF arguments
    # (unnest(CAST(array() AS ...))) defeat any fixed-depth regex
    head_re = re.compile(
        rf"({_DISTINCT_OPERAND}(?:\s*[-+*/%]\s*{_DISTINCT_OPERAND})*)"
        rf"\s*(=|<>|!=|<=|>=|<|>)\s*"
        rf"(ANY|ALL|SOME)\s*\(\s*(?=SELECT\b)",
        re.IGNORECASE,
    )
    pos = 0
    while True:
        m = head_re.search(sql, pos)
        if not m:
            break
        i = _close_paren(sql, m.end())
        if i < 0:  # unbalanced: leave untouched
            pos = m.end()
            continue

        class _M:
            def groups(self):
                return (m.group(1), m.group(2), m.group(3),
                        sql[m.end(): i - 1])

            def group(self, n=0):
                return sql[m.start(): i] if n == 0 else m.group(n)

        repl = sub_subq(_M())
        sql = sql[: m.start()] + repl + sql[i:]
        pos = m.start() + len(repl)
    sql = _LIKE_ANY_ALL_RE.sub(sub_like, sql)
    return _OP_ANY_ALL_RE.sub(sub, sql)


def _rewrite_between_symmetric(sql: str) -> str:
    def sub(m: re.Match) -> str:
        x, neg, a, b = ((g or "").strip() for g in m.groups())
        core = (
            f"(({x} >= {a} AND {x} <= {b}) OR "
            f"({x} >= {b} AND {x} <= {a}))"
        )
        return f"(NOT {core})" if neg else core

    return _BETWEEN_SYM_RE.sub(sub, sql)


def _rewrite_regex_match(sql: str, lits: list[str]) -> str:
    def sub(m: re.Match) -> str:
        lhs, op, pat = m.groups()
        if "~~" in op:  # LIKE-family spelling
            kw = "ILIKE" if "*" in op else "LIKE"
            expr = f"{lhs} {kw} {pat}"
        else:
            # Spencer AREs reject a backreference inside a lookahead
            # constraint (regcomp.c; Java's engine accepts it) —
            # raise PG's error rather than silently diverging
            lookaheads = re.finditer(
                r"\(\?<?[=!]", _lit_value(pat, lits))
            pv = _lit_value(pat, lits)
            bad_backref = False
            for la in lookaheads:
                depth, j = 1, la.end()
                while j < len(pv) and depth:
                    if pv[j] == "\\" and j + 1 < len(pv):
                        if pv[j + 1].isdigit():
                            bad_backref = True
                        j += 2
                        continue
                    depth += {"(": 1, ")": -1}.get(pv[j], 0)
                    j += 1
            if bad_backref:
                raise ValueError(
                    "invalid regular expression: "
                    "invalid backreference number")
            if "*" in op:  # case-insensitive: inline (?i) flag
                pat = _new_lit("(?i)" + _lit_value(pat, lits), lits)
            expr = f"{lhs} RLIKE {pat}"
        return f"NOT ({expr})" if op.startswith("!") else expr

    return _REGEX_MATCH_RE.sub(sub, sql)
