"""JSON arrows (-> ->> #>), @?/@@ jsonpath predicates, and the variant-backed json-returning field extraction.

Split from sql_dialect.py (r14); see that module's docstring for
the shim-wide design rules (masked literals, bounded regexes,
anything unrecognized passes through loud).
"""

from __future__ import annotations

import re
from warehouse_pg_spark.dialect.mask import (
    _LIT,
    _MASK_RE,
    _close_paren,
    _lit_value,
    _new_lit,
)


# one JSON arrow step: -> 'key' / ->> 'key' / -> 0 (array index). The
# RHS must be a literal or integer, so SQL lambdas (`x -> expr`) never
# match. LHS is found by scanning backwards (balanced parens allowed).
_ARROW_STEP_RE = re.compile(
    # (?<!<): `a <-> b` is the geometric/KNN distance operator, not
    # a '<' comparison against a json arrow
    rf"(?<!<)->(>?)\s*({_LIT}|-?\d+)"
)


# jsonpath predicate operators (jsonpath_exec.c executeJsonPath):
#   j @? 'path'        jsonb_path_exists  — any item at path?
#   j @@ 'path PRED'   jsonb_path_match   — predicate result
# Supported jsonpath subset (the shapes that appear in practice):
#   $.a.b                      plain member chain
#   $.a ? (@ OP value)         scalar filter
#   $.a[*] ? (@ OP value)      array-wildcard filter (any element)
#   $.a OP value / $.a[*] OP value   (@@ predicate forms)
# with OP in == != <> < <= > >= like_regex and value a number,
# "string", true/false or null.
_JSONPATH_LHS = (
    rf"(?:(?:jsonb?\s+)?{_LIT}\s*::\s*jsonb?\b"
    rf"|(?:jsonb?\s+)?{_LIT}"
    rf"|[\w.\)\]]+\s*::\s*jsonb?\b"
    rf"|[\w.\)\]]+)"
)
_JSONPATH_EXISTS_RE = re.compile(
    rf"({_JSONPATH_LHS})\s*@\?\s*({_LIT})", re.IGNORECASE
)
_JSONPATH_MATCH_RE = re.compile(
    rf"({_JSONPATH_LHS})\s*@@\s*({_LIT})", re.IGNORECASE
)
_JP_OPS = {"==": "=", "!=": "!=", "<>": "!=", "<": "<", "<=": "<=",
           ">": ">", ">=": ">=", "like_regex": "RLIKE"}
_JP_OP_RE = r"(==|!=|<>|<=|>=|<|>|like_regex)"
_JP_FILTER_RE = re.compile(
    rf"^\s*(\$[\w.]*?)(\[\*\])?\s*\?\s*\(\s*@\s*{_JP_OP_RE}\s*(.+?)\s*\)\s*$"
)
_JP_PRED_RE = re.compile(
    rf"^\s*(\$[\w.]*?)(\[\*\])?\s*{_JP_OP_RE}\s*(.+?)\s*$"
)


def _jp_compare(item_sql: str, op: str, raw_val: str, lits: list[str]) -> str:
    """Comparison of one extracted JSON item (a STRING from
    get_json_object / from_json) against a jsonpath literal value."""
    sql_op = _JP_OPS[op]
    v = raw_val.strip()
    if re.fullmatch(r'"(?:[^"\\]|\\.)*"', v):  # jsonpath string literal
        tok = _new_lit(v[1:-1].replace('\\"', '"'), lits)
        return f"{item_sql} {sql_op} {tok}"
    if v.lower() in ("true", "false"):
        return f"CAST({item_sql} AS BOOLEAN) {sql_op} {v.upper()}"
    if v.lower() == "null":
        return (
            f"{item_sql} IS NULL" if op == "==" else f"{item_sql} IS NOT NULL"
        )
    return f"CAST({item_sql} AS DOUBLE) {sql_op} {v}"


def _jp_lower(lhs: str, path: str, wildcard: bool, op: str | None,
              val: str | None, lits: list[str]) -> str:
    """Lower one jsonpath predicate to a Spark boolean expression."""
    path_tok = _new_lit(path, lits)
    if wildcard:
        arr = f"from_json(get_json_object({lhs}, {path_tok}), 'array<string>')"
        if op is None:  # existence: any element at all
            return f"(size({arr}) > 0)"
        return f"exists({arr}, __j -> {_jp_compare('__j', op, val, lits)})"
    item = f"get_json_object({lhs}, {path_tok})"
    if op is None:
        return f"({item} IS NOT NULL)"
    return f"({_jp_compare(item, op, val, lits)})"


def _rewrite_jsonpath(sql: str, lits: list[str]) -> str:
    def sub_exists(m: re.Match) -> str:
        lhs, tok = m.groups()
        jp = _lit_value(tok, lits)
        f = _JP_FILTER_RE.match(jp)
        if f:
            path, star, op, val = f.groups()
            return _jp_lower(lhs, path, bool(star), op, val, lits)
        p = re.fullmatch(r"\s*(\$[\w.]*?)(\[\*\])?\s*", jp)
        if p:
            return _jp_lower(lhs, p.group(1), bool(p.group(2)), None, None, lits)
        # forms outside the fast get_json_object subset (.*, .**,
        # mid-path filters) fall back to the Arrow-batched Python
        # jsonpath evaluator rather than staying loud
        return f"jsonb_path_exists_vars({lhs}, {tok}, CAST(NULL AS STRING))"

    def sub_match(m: re.Match) -> str:
        lhs, tok = m.groups()
        jp = _lit_value(tok, lits)
        p = _JP_PRED_RE.match(jp)
        if p:
            path, star, op, val = p.groups()
            return _jp_lower(lhs, path, bool(star), op, val, lits)
        return f"jsonb_path_match_vars({lhs}, {tok}, CAST(NULL AS STRING))"

    sql = _JSONPATH_EXISTS_RE.sub(sub_exists, sql)
    return _JSONPATH_MATCH_RE.sub(sub_match, sql)


def _lower_pg_json_field(sql: str) -> str:
    """Lower the pg_json_field(base, 'path') markers a final `->`
    step leaves behind to a variant extraction: to_json(
    try_variant_get(try_parse_json(base), path)) keeps JSON string
    quoting and the json-null leaf, exactly PG's json-returning arrow
    (jsonfuncs.c json_object_field). All JVM-side."""
    while True:
        i = sql.find("pg_json_field(")
        if i < 0:
            return sql
        j = _close_paren(sql, i + len("pg_json_field("))
        if j < 0:  # defensive: malformed marker stays visible
            return sql
        content = sql[i + len("pg_json_field(") : j - 1]
        pm = re.search(rf",\s*({_LIT})\s*$", content)
        if pm is None:  # defensive: malformed marker stays visible
            return sql
        base, path = content[: pm.start()], pm.group(1)
        repl = (
            f"to_json(try_variant_get(try_parse_json({base}), {path}))"
        )
        sql = sql[:i] + repl + sql[j:]


def _rewrite_arrows(sql: str, lits: list[str]) -> str:
    """Rewrite JSON arrows to get_json_object, folding chains into ONE
    path (j -> 'a' ->> 'b' ≡ get_json_object(j, '$.a.b'), j -> 0 ≡
    '$[0]'). Left-to-right one step at a time: after the first step the
    LHS of the next arrow IS a get_json_object call, whose path the
    fold extends — this fixes the round-2 half-rewritten-chain bug
    (->> running before ->). The LHS is located by scanning backwards,
    so parenthesized bases like ('{...}' || j) -> 'k' work too."""
    # `json '...'` / `jsonb '...'` typed-literal prefixes drop when an
    # arrow follows, so the backward LHS scan never strands the prefix
    # word outside the rewritten call. ONLY in arrow position — other
    # consumers (json_build_array's raw-json embedding) still need the
    # marker.
    sql = re.sub(
        r"(?i)\bjsonb?\s+(\x01\d+\x01)(?=\s*(?:->|#>))", r"\1", sql
    )
    gjo_base = re.compile(
        rf"(?:get_json_object|pg_json_field)\((.*),\s*({_LIT})\)$",
        re.DOTALL,
    )
    while True:
        m = _ARROW_STEP_RE.search(sql)
        if m is None:
            return _lower_pg_json_field(sql)
        # scan LHS backwards: identifier / masked literal / balanced
        # paren group (optionally a call: name(...))
        i = m.start() - 1
        while i >= 0 and sql[i].isspace():
            i -= 1
        end = i + 1
        if i >= 0 and sql[i] == ")":
            depth = 0
            while i >= 0:
                if sql[i] == ")":
                    depth += 1
                elif sql[i] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                i -= 1
            j = i - 1
            while j >= 0 and (sql[j].isalnum() or sql[j] in "_."):
                j -= 1
            start = j + 1
        else:
            j = i
            while j >= 0 and (sql[j].isalnum() or sql[j] in "_.\x01"):
                j -= 1
            start = j + 1
        # extend backward through ::type cast chains so
        # 'lit'::jsonb -> 'a' captures the whole cast as the base
        while True:
            k = start - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if not (k >= 1 and sql[k] == ":" and sql[k - 1] == ":"):
                break
            k -= 2
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k >= 0 and sql[k] == ")":
                depth = 0
                ii = k
                while ii >= 0:
                    if sql[ii] == ")":
                        depth += 1
                    elif sql[ii] == "(":
                        depth -= 1
                        if depth == 0:
                            break
                    ii -= 1
                jj = ii - 1
                while jj >= 0 and (sql[jj].isalnum() or sql[jj] in "_."):
                    jj -= 1
                start = jj + 1
            else:
                jj = k
                while jj >= 0 and (sql[jj].isalnum() or sql[jj] in "_.\x01"):
                    jj -= 1
                start = jj + 1
        base = sql[start:end]
        key = m.group(2)
        # `->` returns json — string leaves KEEP their JSON quoting
        # (jsonfuncs.c json_object_field); `->>` returns text. The
        # chain folds into one path either way; the LAST step's arrow
        # picks the extractor (pg_json_field lowers to a variant
        # extraction after the loop).
        fname = "get_json_object" if m.group(1) == ">" else "pg_json_field"
        if not _MASK_RE.match(key) and key.startswith("-"):
            # negative array index counts from the end (jsonfuncs.c
            # jsonb_array_element): get_json_object has no negative
            # subscripts — index into the parsed array (out-of-range
            # element_at is NULL under ANSI-off, matching PG's NULL).
            if fname == "pg_json_field":
                # json-returning form: keep element quoting via variant
                repl = (
                    f"to_json(element_at(from_json({base}, "
                    f"'array<variant>'), {key}))"
                )
            else:
                repl = (
                    f"element_at(from_json({base}, 'array<string>'), {key})"
                )
            sql = sql[:start] + repl + sql[m.end():]
            continue
        if _MASK_RE.match(key):
            kv = _lit_value(key, lits)
            if re.fullmatch(r"\w+", kv):
                step = "." + kv
            elif "'" not in kv and "\\" not in kv:
                # empty / punctuated keys need the bracket spelling
                # ($.'' is an invalid variant path; jsonfuncs.c
                # json_object_field looks keys up verbatim)
                step = f"['{kv}']"
            else:
                step = "." + kv  # quoted/escaped keys: legacy form
        else:
            step = f"[{key}]"
        fold = gjo_base.match(base)
        if fold:  # extend the existing path instead of nesting calls
            path = _lit_value(fold.group(2), lits) + step
            repl = f"{fname}({fold.group(1)}, {_new_lit(path, lits)})"
        else:
            repl = f"{fname}({base}, {_new_lit('$' + step, lits)})"
        sql = sql[:start] + repl + sql[m.end() :]


# --- json_object braced-array validation (moved from pgfns.py in
# the r15 split; behavior unchanged) ---------------------------
def _braced_tree_null(body: str):
    """array_in tokenizer mirroring _parse_braced_tree but mapping
    UNQUOTED null to None (arrayfuncs.c: only a bare NULL is the
    null datum; "NULL" is the 4-char string). Returns the nested
    list, or None when malformed/over-complex."""
    elems: list = []
    stack: list[list] = []
    buf: list[str] = []
    quoted = in_q = have = False
    cur = elems

    def flush():
        nonlocal buf, quoted, have
        if not have:
            return
        s = "".join(buf)
        if quoted:
            cur.append(s)
        else:
            s = s.strip()
            cur.append(None if s.lower() == "null" else s)
        buf, quoted, have = [], False, False

    i, n2 = 0, len(body)
    while i < n2:
        ch = body[i]
        if in_q:
            if ch == "\\" and i + 1 < n2:
                buf.append(body[i + 1])
                i += 2
                continue
            if ch == '"':
                in_q = False
                i += 1
                continue
            buf.append(ch)
            i += 1
            continue
        if ch == '"':
            in_q = quoted = have = True
            i += 1
            continue
        if ch == "{":
            sub: list = []
            cur.append(sub)
            stack.append(cur)
            cur = sub
            i += 1
            continue
        if ch == "}":
            flush()
            if not stack:
                return None
            cur = stack.pop()
            i += 1
            continue
        if ch == ",":
            flush()
            i += 1
            continue
        if not ch.isspace():
            have = True
        buf.append(ch)
        i += 1
    flush()
    return None if (in_q or stack) else elems

def _check_json_object_arrays(trees: list) -> None:
    """jsonfuncs.c json_object / json_object_two_arg shape rules
    over LITERAL braced arrays: 1-arg must be a flat even-length
    pair list or an Nx2 matrix; 2-arg takes two flat arrays of
    equal length; keys must not be null."""
    if len(trees) == 1:
        t = trees[0]
        if any(isinstance(e, list) for e in t):
            if not all(isinstance(e, list) for e in t):
                raise ValueError("multidimensional arrays must "
                                 "have array expressions with "
                                 "matching dimensions")
            for sub in t:
                if any(isinstance(e, list) for e in sub):
                    raise ValueError(
                        "wrong number of array subscripts")
                if len(sub) != 2:
                    raise ValueError(
                        "array must have two columns")
                if sub[0] is None:
                    raise ValueError(
                        "null value not allowed for object key")
        else:
            if len(t) % 2:
                raise ValueError(
                    "array must have even number of elements")
            if any(k is None for k in t[0::2]):
                raise ValueError(
                    "null value not allowed for object key")
    else:
        keys, vals = trees
        for t in (keys, vals):
            if any(isinstance(e, list) for e in t):
                raise ValueError(
                    "wrong number of array subscripts")
        if len(keys) != len(vals):
            raise ValueError("mismatched array dimensions")
        if any(k is None for k in keys):
            raise ValueError(
                "null value not allowed for object key")

