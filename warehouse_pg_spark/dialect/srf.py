"""Set-returning-function lowering: FROM-position SRFs, WITH ORDINALITY, select-list lockstep zip, nested SRF arguments, SRFs in ORDER BY (execSRF.c semantics).

Split from sql_dialect.py (r14); see that module's docstring for
the shim-wide design rules (masked literals, bounded regexes,
anything unrecognized passes through loud).
"""

from __future__ import annotations

import re
from warehouse_pg_spark.dialect.mask import _close_paren, _split_commas


# FROM unnest(a)/generate_series(..) with a BARE alias or none at all
# (gram.y func_alias_clause; parse_relation.c chooseScalarFunctionAlias):
# for a scalar-returning SRF the alias doubles as the COLUMN name
# (`FROM generate_series(1,3) g` -> column g); with no alias the column
# is named after the function. Runs after the `t(col)` column-list
# rewrites, which consume their forms first.
_SRF_FROM_BARE_RE = re.compile(
    r"(\bFROM\s+|,\s*)(LATERAL\s+)?(unnest|generate_series)\s*"
    r"\(((?:[^()]|\([^()]*\))*)\)(?:\s+(?:AS\s+)?(\w+))?",
    re.IGNORECASE,
)
# words after the SRF that are clause keywords, not an alias
_SRF_BARE_STOP = frozenset(
    ("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET", "FETCH",
     "UNION", "EXCEPT", "INTERSECT", "WINDOW", "JOIN", "INNER", "LEFT",
     "RIGHT", "FULL", "CROSS", "NATURAL", "ON", "USING", "AND", "OR",
     "THEN", "ELSE", "END", "WHEN", "AS", "FOR")
)


_CLAUSE_KW_RE = re.compile(
    r"(?i)\b(SELECT|FROM|WHERE|GROUP|HAVING|ORDER|WINDOW|LIMIT|OFFSET"
    r"|UNION|EXCEPT|INTERSECT|VALUES|SET|RETURNING)\b|[()]"
)


def _clause_at(sql: str, pos: int) -> str | None:
    """The governing clause keyword at `pos`, tracked per paren depth
    (literals are masked at this stage, so parens are structural)."""
    depth, last = 0, {}
    for m in _CLAUSE_KW_RE.finditer(sql, 0, pos):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            last.pop(depth, None)
            depth -= 1
        else:
            last[depth] = tok.upper()
    return last.get(depth)


def _rewrite_nested_srf(sql: str) -> str:
    """SRF-in-SRF-argument nesting (execSRF.c; optimizer
    split_pathtarget_at_srfs; regress sql/tsrf.sql + gp_tsrf.sql):
    SRFs evaluate bottom-up — ALL SRF calls whose own arguments
    contain no SRF run in lockstep one level down, and the top-level
    SRFs run in lockstep over each bottom row. Lowered by hoisting
    every bottom-level call into one zipped inline() derived table
    (__gi0, __gi1, ...); the select-list SRF classifier then lowers
    the remaining top-level calls over that FROM, reproducing PG's
    two-ProjectSet pipeline. FROM-less top level only; deeper than
    two levels stays loud."""
    m = re.match(r"(?is)^\s*SELECT\s+(.+?)\s*;?\s*$", sql)
    if m is None or re.search(r"(?i)\bFROM\b", sql):
        return sql
    head = m.group(1)
    # split a trailing ORDER BY / LIMIT / OFFSET tail off the list
    tail = ""
    depth = 0
    for i, ch in enumerate(head):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and head[i : i + 1].isalpha():
            w = re.match(r"(?i)(ORDER|LIMIT|OFFSET|FETCH)\b", head[i:])
            if w:
                head, tail = head[:i], " " + head[i:]
                break
    srf_open = re.compile(r"(?i)\b(generate_series|unnest)\s*\(")
    calls = []
    for cm in srf_open.finditer(head):
        j = _close_paren(head, cm.end())
        if j < 0:
            return sql
        calls.append((cm.start(), cm.end(), j, cm.group(1).lower()))
    if not any(srf_open.search(head[c[1] : c[2] - 1]) for c in calls):
        return sql  # no nesting: the plain lockstep pass owns this
    bottom = [
        c for c in calls if not srf_open.search(head[c[1] : c[2] - 1])
    ]
    arrays: list[str] = []
    parts: list[str] = []
    last = 0
    for k, (s0, e_open, e_close, fn) in enumerate(bottom):
        parts.append(head[last:s0])
        parts.append(f"__gi{k}")
        body = head[e_open : e_close - 1]
        if fn == "generate_series":
            arrays.append(f"sequence({body})")
        else:
            args = _split_commas(body)
            if len(args) != 1:
                return sql  # multi-arg unnest is FROM-only
            arrays.append(f"({args[0].strip()})")
        last = e_close
    parts.append(head[last:])
    fields = ", ".join(
        f"__s.`{k}` AS __gi{k}" for k in range(len(bottom))
    )
    return (
        f"SELECT {''.join(parts)} FROM (SELECT inline(transform("
        f"arrays_zip({', '.join(arrays)}), "
        f"__s -> struct({fields})))){tail}"
    )


def _rewrite_srf_from_bare(sql: str) -> str:
    def sub(m: re.Match) -> str:
        lead, _lat, fn, args_s, alias = m.groups()
        fn = fn.lower()
        tail = ""
        if alias is not None and alias.upper() == "WITH":
            return m.group(0)  # WITH ORDINALITY: not ours
        if sql[m.end():].lstrip().startswith("("):
            return m.group(0)  # a t(cols) form left loud upstream
        if alias is not None and alias.upper() in _SRF_BARE_STOP:
            tail, alias = " " + alias, None
        if lead.strip() == "," and (
            alias is None or _clause_at(sql, m.start()) != "FROM"
        ):
            # a comma lead is only an implicit-LATERAL FROM item when
            # we're provably in a FROM clause with an explicit alias —
            # otherwise this is a select-list / GROUP BY comma
            return m.group(0)
        if fn == "generate_series":
            gen = f"explode(sequence({args_s.strip()}))"
        else:
            args = _split_commas(args_s)
            if len(args) != 1:
                return m.group(0)  # multi-arg unnest: cols form only
            gen = f"explode({args[0].strip()})"
        name = alias or fn
        if lead.strip() == ",":
            # comma FROM item = implicit LATERAL for SRFs in PG
            return f" LATERAL VIEW {gen} {name} AS {name}{tail}"
        return f"{lead}(SELECT {gen} AS {name}) {name}{tail}"

    return _SRF_FROM_BARE_RE.sub(sub, sql)

# SRF WITH ORDINALITY (gram.y func_table; nodeFunctionscan.c ordinality
# counter): unnest(arr)/generate_series(..) WITH ORDINALITY AS t(v, o)
# → posexplode, with PG's 1-based ordinal
_SRF_ORDINALITY_RE = re.compile(
    r"\b(?:FROM|JOIN)\s+(unnest|generate_series)\s*"
    r"\(((?:[^()]|\([^()]*\))*)\)\s+WITH\s+ORDINALITY\s+"
    r"(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)",
    re.IGNORECASE,
)


def _rewrite_srf_ordinality(sql: str) -> str:
    def sub(m: re.Match) -> str:
        kw = "JOIN" if m.group(0).upper().startswith("JOIN") else "FROM"
        fn, args, alias, vcol, ocol = (g.strip() for g in m.groups())
        src = f"sequence({args})" if fn.lower() == "generate_series" else args
        return (
            f"{kw} (SELECT __v AS {vcol}, CAST(__p + 1 AS BIGINT) AS {ocol} "
            f"FROM (SELECT posexplode({src}) AS (__p, __v))) {alias}"
        )

    return _SRF_ORDINALITY_RE.sub(sub, sql)
# an SRF call inside a SELECT-list item (multi-SRF lockstep / SRF in
# an expression: `abs(generate_series(-5,-1))`, `generate_series(..)+1`)
_SRF_CALL_RE = re.compile(
    r"\b(generate_series|unnest)\s*"
    r"\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)",
    re.IGNORECASE,
)
_SRF_VAR = "\x02V\x02"  # placeholder for the per-row value


def _analyze_srf_item(item: str):
    """Classify one SELECT-list item: returns (array_expr,
    wrapper_template, name) when the item is an expression over exactly
    ONE SRF call, else None. The wrapper template holds _SRF_VAR where
    the SRF's per-row value goes (identity for a plain SRF item)."""
    txt = item.strip()
    if not txt:
        return None
    alias = None
    am = re.search(r"(?is)\s+AS\s+(\w+)\s*$", txt)
    if am:
        alias, txt = am.group(1), txt[: am.start()].strip()
    else:
        bm = re.fullmatch(
            r"(?is)\s*((?:generate_series|unnest)\s*"
            r"\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))\s+(\w+)\s*",
            txt,
        )
        if bm:  # bare alias only on the plain-SRF spelling
            txt, alias = bm.group(1), bm.group(2)
    if re.search(r"(?i)\(\s*SELECT\b", txt):
        # an SRF inside a nested subquery belongs to THAT select list,
        # not this item — classifying it here would hoist it out
        return None
    calls = list(_SRF_CALL_RE.finditer(txt))
    if len(calls) != 1:
        return None
    c = calls[0]
    fn, args = c.group(1).lower(), c.group(2)
    if re.search(r"(?i)\b(?:generate_series|unnest)\s*\(", args):
        return None  # nested SRF: stays loud, as PG's older behavior
    if fn == "generate_series":
        arr = f"sequence({args})"
    else:
        if len(_split_commas(args)) != 1:
            return None  # multi-arg unnest is FROM-only in PG
        arr = f"({args})"
    wrapper = (txt[: c.start()] + _SRF_VAR + txt[c.end():]).strip()
    return arr, wrapper, alias or fn


_SRF_LIST_STOP = frozenset(
    ("FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION",
     "EXCEPT", "INTERSECT", "WINDOW", "OFFSET", "FETCH")
)


def _rewrite_srf_order_by(sql: str) -> str:
    """SRFs in ORDER BY run in lockstep with the select list's SRFs —
    same nesting level, one row set (execSRF.c; regress sql/tsrf.sql
    `select generate_series(1,3)+1 order by generate_series(1,3)`).
    Spark forbids generators inside Sort, so hoist every SRF (select
    items AND ORDER BY items) into one zipped inline() in a derived
    table and sort on hidden __ob columns. Claims the FROM-less
    top-level shape only; anything else stays loud."""
    m = re.match(
        r"(?is)^\s*select\s+(.*?)\s+order\s+by\s+(.*?)\s*;?\s*$", sql
    )
    if m is None:
        return sql
    head, ob = m.group(1), m.group(2)
    if re.search(
        r"(?i)\b(?:from|where|group\s+by|having|union|intersect"
        r"|except|window|distinct)\b",
        head,
    ):
        return sql
    tail = ""
    tm = re.search(r"(?i)\b(?:limit|offset|fetch)\b", ob)
    if tm:
        ob, tail = ob[: tm.start()], " " + ob[tm.start():]
    if not re.search(r"(?i)\b(?:generate_series|unnest)\s*\(", ob):
        return sql
    sel_items = _split_commas(head)
    arrays: list[str] = []
    fields: list[str] = []
    names: list[str] = []
    for it in sel_items:
        info = _analyze_srf_item(it)
        if info:
            arr, wrap, name = info
            fields.append(
                f"{wrap.replace(_SRF_VAR, f'__s.`{len(arrays)}`')} "
                f"AS {name}"
            )
            arrays.append(arr)
            names.append(name)
        else:
            if re.search(r"(?i)\b(?:generate_series|unnest)\s*\(", it):
                return sql  # SRF item we can't analyze: stay loud
            am = re.search(r"(?is)\s+AS\s+(\w+)\s*$", it.strip())
            if am is None:
                return sql  # alias-less plain item: not claimed
            fields.append(it.strip())
            names.append(am.group(1))
    if len(set(names)) != len(names):
        return sql
    ob_out: list[str] = []
    for k, obit in enumerate(_split_commas(ob)):
        expr = obit.strip()
        sfx = ""
        while True:
            sm = re.search(
                r"(?is)\s+(asc|desc|nulls\s+first|nulls\s+last)\s*$",
                expr,
            )
            if sm is None:
                break
            sfx = " " + sm.group(1) + sfx
            expr = expr[: sm.start()]
        if re.search(r"(?i)\b(?:generate_series|unnest)\s*\(", expr):
            info = _analyze_srf_item(expr)
            if info is None:
                return sql
            arr, wrap, _ = info
            fields.append(
                f"{wrap.replace(_SRF_VAR, f'__s.`{len(arrays)}`')} "
                f"AS __ob{k}"
            )
            arrays.append(arr)
            ob_out.append(f"__ob{k}{sfx}")
        else:
            ob_out.append(obit.strip())
    if not arrays:
        return sql
    gen = (
        f"inline(transform(arrays_zip({', '.join(arrays)}), "
        f"__s -> struct({', '.join(fields)})))"
    )
    return (
        f"SELECT {', '.join(names)} FROM (SELECT {gen}) "
        f"ORDER BY {', '.join(ob_out)}{tail}"
    )


def _rewrite_multi_srf_select(sql: str) -> str:
    """Multiple SRFs in one SELECT list run in LOCKSTEP, shorter ones
    padded with NULL to the longest (execSRF.c; regress sql/tsrf.sql:
    `SELECT generate_series(1,2), generate_series(1,4)` is 4 rows with
    NULLs in rows 3-4 of the first column). Spark's arrays_zip has
    exactly that padding, so a run of CONSECUTIVE SRF select items
    lowers to one inline(arrays_zip(...)) generator. Non-consecutive
    mixes and nested SRFs stay loud."""
    sel_re = re.compile(r"(?i)\bSELECT\b")
    pos = 0
    while True:
        m = sel_re.search(sql, pos)
        if m is None:
            return sql
        pos = m.end()
        i, depth = m.end(), 0
        items: list[tuple[int, int]] = []
        item_start, list_end = i, len(sql)
        while i < len(sql):
            c = sql[i]
            if c == "(":
                depth += 1
                i += 1
            elif c == ")":
                if depth == 0:
                    list_end = i
                    break
                depth -= 1
                i += 1
            elif c == "," and depth == 0:
                items.append((item_start, i))
                item_start = i + 1
                i += 1
            elif c == ";" and depth == 0:
                list_end = i
                break
            elif c.isalpha() or c == "_":
                j = i
                while j < len(sql) and (sql[j].isalnum() or sql[j] == "_"):
                    j += 1
                if depth == 0 and sql[i:j].upper() in _SRF_LIST_STOP:
                    list_end = i
                    break
                i = j
            else:
                i += 1
        items.append((item_start, list_end))
        infos = [_analyze_srf_item(sql[a:b]) for a, b in items]
        srf_idx = [k for k, inf in enumerate(infos) if inf]
        if not srf_idx or srf_idx != list(
            range(srf_idx[0], srf_idx[0] + len(srf_idx))
        ):
            continue  # none, or non-consecutive: stay loud
        if len(srf_idx) == 1:
            arr, wrap, name = infos[srf_idx[0]]
            inner = wrap.replace(_SRF_VAR, "__g0")
            if inner == "__g0":
                rep = f" explode({arr}) AS {name} "
            else:
                # expression over the SRF value: map it per element
                # BEFORE exploding (execSRF.c applies the expression
                # to each emitted row)
                rep = (
                    f" explode(transform({arr}, __g0 -> {inner})) "
                    f"AS {name} "
                )
            a, b = items[srf_idx[0]]
            sql = sql[:a] + rep + sql[b:]
            continue
        # lockstep: zip all SRF arrays (NULL-padded to the longest),
        # then apply each item's expression to its zip field inside a
        # named struct — inline() expands the fields in place
        arrays = [infos[k][0] for k in srf_idx]
        fields = ", ".join(
            f"{infos[k][1].replace(_SRF_VAR, f'__s.`{i}`')} "
            f"AS {infos[k][2]}"
            for i, k in enumerate(srf_idx)
        )
        gen = (
            f"inline(transform(arrays_zip({', '.join(arrays)}), "
            f"__s -> struct({fields})))"
        )
        a0, b1 = items[srf_idx[0]][0], items[srf_idx[-1]][1]
        sql = sql[:a0] + " " + gen + " " + sql[b1:]
    return sql
