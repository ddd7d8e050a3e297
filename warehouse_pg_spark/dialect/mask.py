"""Literal/comment masking and token-splitting infrastructure shared by every dialect pass.

Split from sql_dialect.py (r14); see that module's docstring for
the shim-wide design rules (masked literals, bounded regexes,
anything unrecognized passes through loud).
"""

from __future__ import annotations

import re


# ------------------------------------------------------------------ masking
# Literals are replaced by \x01<idx>\x01 before any rewrite runs and
# restored at the end; comments are dropped. \x01 never occurs in SQL.
_MASK_RE = re.compile("\x01(\\d+)\x01")
_LIT = r"\x01\d+\x01"  # placeholder token, usable inside patterns
# A possibly qualified table name, the one grammar every statement form
# reads a relation name with (engine._table_key gives its catalog key):
# each part a bare word, a "…" part with "" escapes (PG text, as utility
# statements keep it) or a `…` part (the dialect's lowered text).
_PART = r'(?:\w+|"(?:[^"]|"")*"|`(?:[^`]|``)*`)'
_NAME = rf"{_PART}(?:\.{_PART})*"


def _mask(sql: str) -> tuple[str, list[str]]:
    lits: list[str] = []
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            out.append(f"\x01{len(lits)}\x01")
            lits.append(sql[i : j + 1])
            i = j + 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j
        elif sql.startswith("/*", i):
            j = sql.find("*/", i)
            out.append(" ")
            i = n if j < 0 else j + 2
        else:
            out.append(ch)
            i += 1
    return "".join(out), lits


def _unmask(sql: str, lits: list[str]) -> str:
    return _MASK_RE.sub(lambda m: lits[int(m.group(1))], sql)


def _mask_into(sql: str, lits: list[str]) -> str:
    """`sql` masked with its literals appended to `lits`: text spliced
    into an already masked statement stays masked."""
    masked, own = _mask(sql)
    base = len(lits)
    lits.extend(own)
    return _MASK_RE.sub(lambda m: f"\x01{int(m.group(1)) + base}\x01", masked)


def _lit_value(tok: str, lits: list[str]) -> str:
    """Unquoted content of a masked literal token."""
    raw = lits[int(_MASK_RE.match(tok).group(1))]
    return raw[1:-1].replace("''", "'")


def _new_lit(value: str, lits: list[str]) -> str:
    lits.append("'" + value.replace("'", "''") + "'")
    return f"\x01{len(lits) - 1}\x01"


def _new_lit_raw(raw: str, lits: list[str]) -> str:
    """New masked literal from RAW (already-escaped) body text — for
    splicing transformed fragments of existing literals, where quote
    doubling is already present and backslashes must pass through at
    the same escape level as the source."""
    lits.append("'" + raw + "'")
    return f"\x01{len(lits) - 1}\x01"


# IS [NOT] DISTINCT FROM (gram.y a_expr DISTINCT FROM; execExprInterp.c
# null-safe comparison) → Spark's null-safe equality operator <=>.
_DISTINCT_OPERAND = rf"(?:{_LIT}|[\w.]+\([^()]*\)|[\w.]+|\([^()]*\))"
# PG 1-based array subscripts and inclusive slices (arrayfuncs.c
# array_ref/array_get_slice): Spark's [] is 0-based, so a digit
# subscript in PG text is a silent off-by-one — rewrite to element_at
# (1-based); a[lo:hi] becomes slice(a, lo, hi-lo+1). String-key map
# access (j['k']) is untouched.
# parens nest 7 deep so ((SELECT array(...)))[n] and multi-dim braced
# casts (CAST(array(array(array(...))) AS ...))[n] rewrite 1-based
def _nested_parens(depth: int) -> str:
    p = r"[^()]*"
    for _ in range(depth):
        p = rf"(?:[^()]|\({p}\))*"
    return rf"\({p}\)"


def _close_paren(s: str, i: int) -> int:
    """Index just past the `)` that closes a `(` opened before `i`
    (quoted text skipped), or -1 when it never closes."""
    depth, quote = 1, None
    for j in range(i, len(s)):
        ch = s[j]
        if quote:
            quote = None if ch == quote else quote
        elif ch == "'":
            quote = ch
        elif ch in "()":
            depth += 1 if ch == "(" else -1
            if depth == 0:
                return j + 1
    return -1


def _split_commas(s: str) -> list[str]:
    """Split a comma list at its top level: quoted text ('' and ""
    escapes included), parentheses and brackets nest. Parts keep their
    whitespace; empty parts drop."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            quote = None if ch == quote else quote
        elif ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return [p for p in parts if p.strip()]
