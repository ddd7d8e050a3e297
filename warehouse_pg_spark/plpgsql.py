"""PL/pgSQL (subset) compiled to a single Catalyst SQL expression.

The reference interprets PL/pgSQL bodies statement-by-statement in the
backend (src/pl/plpgsql/src/pl_exec.c; grammar pl_gram.y). On Spark the
idiomatic equivalent for scalar functions is COMPILATION, not
interpretation: every supported body lowers to one SQL expression over
the parameters, registered with `CREATE TEMPORARY FUNCTION ... RETURN
<expr>` — so calls inline into Catalyst, whole-stage codegen applies,
and there is no per-row Python boundary at all.

Supported statement forms (pl_gram.y subset):
    DECLARE v type [:= expr | DEFAULT expr];   -- uninitialized => NULL
    v := expr;   /   v = expr;
    IF c THEN ... [ELSIF c THEN ...]* [ELSE ...] END IF;
    FOR i IN [REVERSE] a .. b LOOP ... END LOOP;   -- constant bounds,
                                                   -- unrolled at compile
    RETURN [expr];
    NULL;
    CASE [expr] WHEN .. THEN .. [ELSE ..] END CASE;  -- searched + simple
                  -- forms; a missing ELSE raises CASE_NOT_FOUND at
                  -- runtime via raise_error(), as pl_exec.c does
    WHILE c LOOP ... END LOOP;   -- fuel-bounded unroll (_MAX_WHILE);
                  -- an execution needing more iterations hits a
                  -- raise_error() at runtime, terminating runs don't
    SELECT expr INTO [STRICT] v [FROM ...];  -- scalar subquery over
                  -- registered tables (correlated via params); multi-
                  -- row results raise (STRICT semantics)
    RAISE EXCEPTION 'msg'[, args];  -- terminal raise_error(); '%'
                  -- placeholders fill from args; NOTICE/WARNING/INFO/
                  -- LOG/DEBUG are accepted as result-neutral no-ops
    EXIT [WHEN cond]; / CONTINUE [WHEN cond];  -- inside WHILE and
                  -- FOR-over-query bodies: desugar to scoped flags
                  -- guarding downstream statements (EXIT's also joins
                  -- the loop condition; CONTINUE's resets per
                  -- iteration); labels / use inside integer FOR
                  -- rejected
    FOR rec IN SELECT ... LOOP ... END LOOP;  -- pl_exec.c
                  -- exec_stmt_fors: lowered to the same JVM fold as
                  -- WHILE, over ONE scalar-subquery rows array
                  -- `(SELECT [array_sort](collect_list(named_struct(
                  -- ...))) FROM (q))`; RECORD fields are struct
                  -- members (rec.col), scalar target lists map
                  -- positionally; ORDER BY (plain ASC keys) sorts the
                  -- array so iteration order matches; params correlate
                  -- into the query like SELECT INTO
    DECLARE rec RECORD;  -- usable only as a FOR-over-query target
                  -- (referencing it before first assignment fails
                  -- loudly, as pl_exec.c does)
    cursors / EXECUTE / RAISE USING  -- rejected with a clear error


Lowering model: straight-line code is single-assignment substitution
(each variable's current value is a fully-substituted SQL expression
over the parameters); IF becomes CASE WHEN with the statement TAIL
compiled into every branch (so control flow after the IF sees each
branch's assignments); constant-bound FOR loops unroll. Falling off the
end of the function returns NULL, as PG does for a missing RETURN only
at runtime — we compile it to NULL.
"""

from __future__ import annotations

import re

from warehouse_pg_spark.dialect.mask import _close_paren, _split_commas

__all__ = ["compile_plpgsql", "compile_plpgsql_setof", "PlpgsqlError"]


class PlpgsqlError(ValueError):
    """Unsupported or malformed PL/pgSQL (the compile-time analogue of
    pl_gram.y syntax errors / pl_exec.c runtime errors)."""


# --------------------------------------------------------------- masking
_LIT_RE = re.compile(r"'(?:[^']|'')*'")


def _mask(text: str) -> tuple[str, list[str]]:
    lits: list[str] = []

    def sub(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    return _LIT_RE.sub(sub, text), lits


def _unmask(text: str, lits: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], text)


def _strip_comments(text: str) -> str:
    text = re.sub(r"--[^\n]*", "", text)
    # block comments, non-nested (PG nests; bodies in practice don't)
    return re.sub(r"/\*.*?\*/", "", text, flags=re.DOTALL)


# ----------------------------------------------------------------- parse
# Statements as a tiny AST: ("assign", var, expr) ("return", expr|None)
# ("if", [(cond, stmts), ...], else_stmts) ("for", var, lo, hi, rev,
# stmts) ("null",)

_ASSIGN_RE = re.compile(r"^([A-Za-z_]\w*)\s*:?=\s*(.+)$", re.DOTALL)
_ASSIGN_FIELD_RE = re.compile(
    r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*:?=\s*(.+)$", re.DOTALL
)
_FOR_QUERY_RE = re.compile(
    r"^FOR\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s+IN\s+"
    r"(SELECT\b.+?)\s+LOOP\b",
    re.IGNORECASE | re.DOTALL,
)
_FOR_RE = re.compile(
    r"^FOR\s+([A-Za-z_]\w*)\s+IN\s+(REVERSE\s+)?(.+?)\s*\.\.\s*(.+?)\s+LOOP\b",
    re.IGNORECASE | re.DOTALL,
)
_WORD_RE = re.compile(r"[A-Za-z_]\w*|;|\S")

_REJECTED: dict[str, str] = {}


def _split_statements(body: str) -> list[str]:
    """Split a masked block body into top-level statements; IF/FOR/LOOP
    blocks stay intact (their inner semicolons don't split)."""
    stmts: list[str] = []
    i, n = 0, len(body)
    while i < n:
        # skip leading whitespace
        while i < n and body[i].isspace():
            i += 1
        if i >= n:
            break
        head = body[i:]
        mword = re.match(r"[A-Za-z_]\w*", head)
        kw = mword.group(0).upper() if mword else ""
        if kw in ("IF", "FOR", "WHILE", "LOOP", "CASE"):
            j = _find_block_end(body, i)
            stmts.append(body[i:j].strip())
            i = j
        else:
            j = body.find(";", i)
            if j < 0:
                j = n
            stmt = body[i:j].strip()
            if stmt:
                stmts.append(stmt)
            i = j + 1
    return stmts


def _find_block_end(body: str, start: int) -> int:
    """Index just past the `;` that closes the IF/LOOP/CASE block opened
    at start. Uniform nesting: every IF/LOOP/CASE token (statement or
    expression form — expression CASE also closes with one END) opens a
    level, every END closes one. Literals are masked upstream."""
    n = len(body)
    depth = 0
    for m in re.finditer(r"[A-Za-z_]\w*", body[start:]):
        w = m.group(0).upper()
        pos = start + m.start()
        prev = body[:pos].rstrip()
        if w in ("IF", "LOOP", "CASE"):
            if not prev.upper().endswith("END"):
                depth += 1
        elif w == "END":
            depth -= 1
            if depth == 0:
                j = body.find(";", pos)
                return (j + 1) if j >= 0 else n
    raise PlpgsqlError("unterminated IF/LOOP/CASE block")


def _parse_stmts(stmts: list[str]) -> list[tuple]:
    out: list[tuple] = []
    for s in stmts:
        mword = re.match(r"[A-Za-z_]\w*", s)
        kw = mword.group(0).upper() if mword else ""
        if kw == "RETURN":
            expr = s[len("RETURN"):].strip().rstrip(";").strip()
            out.append(("return", expr or None))
        elif kw == "NULL":
            out.append(("null",))
        elif kw == "IF":
            out.append(_parse_if(s))
        elif kw == "FOR":
            out.append(_parse_for(s))
        elif kw == "WHILE":
            out.append(_parse_while(s))
        elif kw == "LOOP":
            out.append(_parse_bare_loop(s))
        elif kw == "EXECUTE":
            out.append(_parse_execute(s))
        elif kw == "OPEN":
            out.append(_parse_open(s))
        elif kw == "FETCH":
            out.append(_parse_fetch(s))
        elif kw == "CLOSE":
            out.append(_parse_close(s))
        elif kw == "GET":
            out.append(_parse_get_diag(s))
        elif kw == "CASE":
            out.append(_parse_case(s))
        elif kw == "SELECT":
            out.append(_parse_select_into(s))
        elif kw == "RAISE":
            out.append(_parse_raise(s))
        elif kw == "EXIT":
            out.append(_parse_exit(s))
        elif kw == "CONTINUE":
            out.append(_parse_continue(s))
        elif kw == "PERFORM":
            # pl_exec.c exec_stmt_perform evaluates and DISCARDS the
            # result; the compiled single-expression model elides the
            # evaluation (side effects through volatile callees are
            # not modeled — README deviations), the interpreted
            # void-procedure path evaluates it for its side effects
            out.append(("perform",
                        s[len("PERFORM"):].strip().rstrip(";").strip()))
        elif kw in ("SET", "RESET"):
            # SET/RESET inside a body changes session GUCs for the
            # call's duration (guc.c); the compiled expression has no
            # session to mutate — a no-op, like PERFORM's discard
            out.append(("null",))
        elif kw in ("INSERT", "UPDATE", "DELETE", "TRUNCATE",
                    "CREATE", "DROP", "ALTER", "COPY", "GRANT",
                    "REVOKE", "ANALYZE", "VACUUM", "COMMENT",
                    "LOCK"):
            # SQL statements (DML and utility DDL) exist only on the
            # interpreted procedure path (engine_proc.py); the
            # compiled single-expression model rejects them downstream
            out.append(("dml", s.rstrip(";").strip()))
        elif kw in _REJECTED:
            raise PlpgsqlError(
                f"unsupported PL/pgSQL statement: {_REJECTED[kw]} "
                "(see README 'Known deviations')"
            )
        else:
            fm = _ASSIGN_FIELD_RE.match(s)
            if fm:
                # rec.field := expr (pl_exec.c exec_assign_value over
                # a row field) — rebuilt as a whole-struct assignment
                out.append((
                    "assign_field", fm.group(1).lower(),
                    fm.group(2).lower(), fm.group(3).strip(),
                ))
                continue
            m = _ASSIGN_RE.match(s)
            if not m:
                raise PlpgsqlError(f"cannot parse statement: {s[:80]!r}")
            out.append(("assign", m.group(1).lower(), m.group(2).strip()))
    return out


def _top_level_branch_splits(body: str) -> list[tuple[int, str]]:
    """Positions of ELSIF/ELSE/WHEN arms at nesting depth 1 of an
    IF/CASE block, plus its closing END at depth 0. Nested blocks and
    expression CASEs sit at depth >= 2 and are skipped."""
    depth = 0
    hits: list[tuple[int, str]] = []
    for m in re.finditer(r"[A-Za-z_]\w*", body):
        w = m.group(0).upper()
        pos = m.start()
        prev = body[:pos].rstrip()
        if w in ("IF", "LOOP", "CASE"):
            if not prev.upper().endswith("END"):
                depth += 1
        elif w == "END":
            depth -= 1
            if depth == 0:
                hits.append((pos, "END"))
        elif w in ("ELSIF", "ELSEIF", "ELSE", "WHEN") and depth == 1:
            hits.append((pos, w))
    return hits


def _find_top_then(seg: str) -> int | None:
    """Start index of the first THEN at nesting depth 0 (expression
    CASEs inside the condition carry their own THENs at depth >= 1)."""
    import re as _re

    depth = 0
    for m in _re.finditer(r"[A-Za-z_]\w*", seg):
        w = m.group(0).upper()
        prev = seg[:m.start()].rstrip()
        if w in ("IF", "LOOP", "CASE"):
            if not prev.upper().endswith("END"):
                depth += 1
        elif w == "END":
            depth -= 1
        elif w == "THEN" and depth == 0:
            return m.start()
    return None


def _parse_if(s: str) -> tuple:
    body = s  # starts with IF
    m = re.match(r"IF\b", body, re.IGNORECASE)
    splits = [
        h for h in _top_level_branch_splits(body) if h[1] != "WHEN"
    ]
    if not splits or splits[-1][1] != "END":
        raise PlpgsqlError("IF without END IF")
    end_pos = splits[-1][0]
    # segment boundaries: IF .. THEN .., ELSIF .. THEN .., ELSE ..
    bounds = [(0, "IF")] + splits[:-1] + [(end_pos, "END")]
    arms: list[tuple[str | None, list[tuple]]] = []
    for (pos, kind), (npos, _) in zip(bounds, bounds[1:]):
        seg = body[pos:npos]
        if kind in ("IF", "ELSIF", "ELSEIF"):
            seg = re.sub(r"^(IF|ELSIF|ELSEIF)\b", "", seg, flags=re.IGNORECASE)
            tpos = _find_top_then(seg)
            if tpos is None:
                raise PlpgsqlError("IF/ELSIF without THEN")
            cond = seg[:tpos].strip()
            arms.append(
                (cond, _parse_stmts(_split_statements(seg[tpos + 4:])))
            )
        else:  # ELSE
            seg = re.sub(r"^ELSE\b", "", seg, flags=re.IGNORECASE)
            arms.append((None, _parse_stmts(_split_statements(seg))))
    cond_arms = [(c, b) for c, b in arms if c is not None]
    else_body = next((b for c, b in arms if c is None), [])
    return ("if", cond_arms, else_body)


def _parse_case(s: str) -> tuple:
    """Statement-form CASE (pl_gram.y stmt_case): both the searched
    form (CASE WHEN cond THEN ...) and the simple form
    (CASE expr WHEN v1 [, v2] THEN ...), closing with END CASE. Desugars
    to the IF arm list; a missing ELSE compiles to PG's CASE_NOT_FOUND
    runtime error (pl_exec.c exec_stmt_case) via raise_error()."""
    splits = _top_level_branch_splits(s)
    if not splits or splits[-1][1] != "END":
        raise PlpgsqlError("CASE without END CASE")
    whens = [h for h in splits if h[1] in ("WHEN", "ELSE")]
    if not whens:
        raise PlpgsqlError("CASE needs at least one WHEN arm")
    head = s[len("CASE"): whens[0][0]].strip()  # simple-form operand or ''
    bounds = whens + [splits[-1]]
    cond_arms: list[tuple[str, list[tuple]]] = []
    else_body: list[tuple] | None = None
    for (pos, kind), (npos, _k) in zip(bounds, bounds[1:]):
        seg = s[pos:npos]
        if kind == "WHEN":
            seg = re.sub(r"^WHEN\b", "", seg, flags=re.IGNORECASE)
            tpos = _find_top_then(seg)
            if tpos is None:
                raise PlpgsqlError("CASE WHEN without THEN")
            sel = seg[:tpos].strip()
            if head:
                # simple form: comma list of match values
                vals = [v.strip() for v in _split_commas(sel)]
                cond = " OR ".join(f"(({head}) = ({v}))" for v in vals)
            else:
                cond = sel
            cond_arms.append(
                (cond, _parse_stmts(_split_statements(seg[tpos + 4:])))
            )
        else:  # ELSE
            seg = re.sub(r"^ELSE\b", "", seg, flags=re.IGNORECASE)
            else_body = _parse_stmts(_split_statements(seg))
    return ("case", cond_arms, else_body)


_WHILE_RE = re.compile(r"^WHILE\s+(.+?)\s+LOOP\b", re.IGNORECASE | re.DOTALL)

# SELECT expr INTO [STRICT] var [FROM ...] (pl_gram.y stmt_execsql with
# an INTO clause; pl_exec.c exec_stmt_execsql). Single target variable,
# scalar select list.
_SELECT_INTO_RE = re.compile(
    r"^SELECT\s+(.+?)\s+INTO\s+(STRICT\s+)?([A-Za-z_]\w*)\s*(FROM\b.*)?$",
    re.IGNORECASE | re.DOTALL,
)


# RAISE level 'message'[, args] (pl_gram.y stmt_raise; pl_exec.c
# exec_stmt_raise). EXCEPTION compiles to a terminal raise_error();
# the message's % placeholders become runtime format_string slots.
# NOTICE/WARNING/INFO/LOG/DEBUG are result-neutral diagnostics with no
# message channel in a compiled expression — accepted as no-ops.
# the level is optional: `RAISE 'msg'` defaults to EXCEPTION
# (pl_gram.y stmt_raise, elog.h ERROR)
_RAISE_RE = re.compile(
    r"^RAISE\s+(?:(EXCEPTION|NOTICE|WARNING|INFO|LOG|DEBUG)\s+)?"
    r"(?=[^\s])(.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_raise(s: str) -> tuple:
    m = _RAISE_RE.match(s.rstrip(";").strip())
    if not m:
        raise PlpgsqlError(
            "only RAISE <level> 'message'[, args] [USING opt = expr] "
            f"is supported (no bare re-RAISE): {s[:80]!r}"
        )
    level = (m.group(1) or "EXCEPTION").upper()
    rest = m.group(2).strip()
    # RAISE ... USING opt = expr, ... (pl_gram.y stmt_raise): MESSAGE
    # becomes the error text; DETAIL/HINT/ERRCODE are auxiliary
    # diagnostics the single-message error channel drops
    opts: dict[str, str] = {}
    mu = re.search(r"(?i)\bUSING\b", _blank_parens(rest))
    if mu:
        for item in _split_commas(rest[mu.end():]):
            om = re.match(
                r"(?is)^\s*(MESSAGE|DETAIL|HINT|ERRCODE)\s*:?=\s*(.+)$",
                item)
            if not om:
                raise PlpgsqlError(
                    f"unsupported RAISE USING option: {item[:40]!r}")
            opts[om.group(1).upper()] = om.group(2).strip()
        rest = rest[:mu.start()].strip()
    parts0 = _split_commas(rest) if rest.strip() else []
    for p in parts0[1:]:
        if re.fullmatch(r"(?i)sqlstate|sqlerrm", p.strip()):
            # SQLSTATE/SQLERRM exist only inside EXCEPTION handlers
            # (pl_exec.c exec_stmt_block); referencing them elsewhere
            # errors at RUN time when the RAISE evaluates its args.
            # The handler-context rewrite (engine_proc) converts this
            # marker back into a live raise/no-op.
            return ("raise_undef_col", p.strip().lower(), level,
                    parts0[0].strip() if parts0 else None,
                    [q.strip() for q in parts0[1:]])
    if level != "EXCEPTION":
        return ("null",)
    parts = _split_commas(rest) if rest.strip() else []
    msg = parts[0].strip() if parts else opts.get("MESSAGE")
    if msg is None:
        raise PlpgsqlError("RAISE EXCEPTION requires a message")
    return ("raise", msg, [p.strip() for p in parts[1:]])


# EXIT [WHEN cond] (pl_gram.y stmt_exit): supported inside WHILE
# bodies via desugaring to a scoped exit flag (see _desugar_exits);
# labels are not.
_EXIT_RE = re.compile(
    r"^EXIT\s*(?:WHEN\s+(.+))?$", re.IGNORECASE | re.DOTALL
)


_CONTINUE_RE = re.compile(
    r"^CONTINUE\s*(?:WHEN\s+(.+))?$", re.IGNORECASE | re.DOTALL
)


def _parse_exit(s: str) -> tuple:
    m = _EXIT_RE.match(s.rstrip(";").strip())
    if not m:
        raise PlpgsqlError(
            f"only EXIT [WHEN cond] is supported (no labels): {s[:80]!r}"
        )
    return ("exit_when", (m.group(1) or "TRUE").strip())


def _parse_continue(s: str) -> tuple:
    m = _CONTINUE_RE.match(s.rstrip(";").strip())
    if not m:
        raise PlpgsqlError(
            f"only CONTINUE [WHEN cond] is supported (no labels): {s[:80]!r}"
        )
    return ("continue_when", (m.group(1) or "TRUE").strip())


def _loop_ctrl_kinds(stmts: list[tuple]) -> set[str]:
    out: set[str] = set()
    for s in stmts:
        k = s[0]
        if k in ("exit_when", "continue_when"):
            out.add(k)
        elif k in ("if", "case"):
            for _c, b in s[1]:
                out |= _loop_ctrl_kinds(b)
            if s[2]:
                out |= _loop_ctrl_kinds(s[2])
        # a nested while owns its loop controls — do NOT look inside
    return out


def _desugar_exits(stmts: list[tuple], eflag: str, cflag: str) -> list[tuple]:
    """Rewrite EXIT WHEN / CONTINUE WHEN into assignments to scoped
    boolean flags, guarding every statement downstream of a possible
    leave with IF NOT (eflag OR cflag) — exec_stmt_loop's early-leave
    expressed in the statement algebra the fold compiler already
    handles. The exit flag persists across iterations (and joins the
    loop condition); the continue flag is reset at the top of each
    iteration by the caller. Nested WHILE bodies keep their own flags."""
    skip = f"NOT ({eflag} OR {cflag})"
    out: list[tuple] = []
    for i, s in enumerate(stmts):
        if s[0] in ("exit_when", "continue_when"):
            flag = eflag if s[0] == "exit_when" else cflag
            rest = _desugar_exits(stmts[i + 1:], eflag, cflag)
            out.append(
                ("assign", flag,
                 f"({flag} OR coalesce(({s[1]}), false))")
            )
            if rest:
                out.append(("if", [(skip, rest)], []))
            return out
        if s[0] in ("if", "case") and _loop_ctrl_kinds([s]):
            s = (
                s[0],
                [(c, _desugar_exits(b, eflag, cflag)) for c, b in s[1]],
                _desugar_exits(s[2], eflag, cflag) if s[2] else s[2],
            )
            rest = _desugar_exits(stmts[i + 1:], eflag, cflag)
            out.append(s)
            if rest:
                out.append(("if", [(skip, rest)], []))
            return out
        out.append(s)
    return out


def _parse_while(s: str) -> tuple:
    m = _WHILE_RE.match(s)
    if not m:
        raise PlpgsqlError(f"cannot parse WHILE statement: {s[:80]!r}")
    tail = re.search(r"END\s+LOOP\s*;?\s*$", s, re.IGNORECASE)
    if not tail:
        raise PlpgsqlError("WHILE without END LOOP")
    inner = s[m.end(): tail.start()]
    return ("while", m.group(1).strip(),
            _parse_stmts(_split_statements(inner)))


def _parse_bare_loop(s: str) -> tuple:
    """LOOP ... END LOOP — the unconditional loop (pl_gram.y
    stmt_loop); termination comes from EXIT/RETURN inside the body.
    Only the interpreted void-procedure path executes it."""
    m = re.match(r"LOOP\b", s, re.IGNORECASE)
    tail = re.search(r"END\s+LOOP\s*;?\s*$", s, re.IGNORECASE)
    if not m or not tail:
        raise PlpgsqlError("LOOP without END LOOP")
    inner = s[m.end(): tail.start()]
    return ("loop", _parse_stmts(_split_statements(inner)))


def _blank_parens(s: str) -> str:
    """Same length as s with every parenthesized span spaced out —
    for position-preserving top-level keyword scans."""
    out, depth = [], 0
    for ch in s:
        if ch == "(":
            depth += 1
            out.append(" ")
        elif ch == ")":
            depth -= 1
            out.append(" ")
        else:
            out.append(ch if depth == 0 else " ")
    return "".join(out)


def _parse_execute(s: str) -> tuple:
    """EXECUTE cmd-expr [INTO [STRICT] v, ...] [USING e, ...] —
    pl_exec.c exec_stmt_dynexecute: the command string is an
    EXPRESSION evaluated at run time; $n placeholders bind the USING
    values. Literals are masked upstream, so a top-level INTO/USING
    scan cannot match words inside the command text."""
    body = s.rstrip(";").strip()
    body = body[len("EXECUTE"):].strip()
    blank = _blank_parens(body)
    using: list[str] = []
    mu = re.search(r"(?i)\bUSING\b", blank)
    if mu:
        using = [x.strip() for x in _split_commas(body[mu.end():])]
        body, blank = body[:mu.start()], blank[:mu.start()]
    into, strict = None, False
    mi = re.search(r"(?i)\bINTO\b", blank)
    if mi:
        tgt = body[mi.end():].strip()
        sm = re.match(r"(?i)^STRICT\b", tgt)
        if sm:
            strict, tgt = True, tgt[sm.end():].strip()
        into = [t.strip().lower() for t in tgt.split(",")]
        body = body[:mi.start()]
    return ("execute", body.strip(), into, using, strict)


def _parse_open(s: str) -> tuple:
    """OPEN cur [[NO] SCROLL] [FOR query] — exec_stmt_open. A bound
    cursor (query in its DECLARE) opens with no FOR clause; the query
    may itself be dynamic (FOR EXECUTE expr [USING ...])."""
    m = re.match(
        r"(?is)^OPEN\s+([A-Za-z_]\w*)\s*"
        r"(?:(?:NO\s+)?SCROLL\s+)?(?:FOR\s+(.+))?$",
        s.rstrip(";").strip())
    if not m:
        raise PlpgsqlError(f"cannot parse OPEN statement: {s[:80]!r}")
    q = m.group(2).strip() if m.group(2) else None
    return ("open", m.group(1).lower(), q)


def _parse_fetch(s: str) -> tuple:
    """FETCH [NEXT] [FROM|IN] cur INTO v, ... — exec_stmt_fetch.
    Only forward NEXT fetches are supported (the engine materializes
    the portal as a forward-only row list)."""
    m = re.match(
        r"(?is)^FETCH\s+(?:NEXT\s+)?(?:FROM\s+|IN\s+)?"
        r"([A-Za-z_]\w*)\s+INTO\s+(.+)$",
        s.rstrip(";").strip())
    if not m:
        raise PlpgsqlError(
            "only FETCH [NEXT] [FROM] cur INTO targets is supported: "
            f"{s[:80]!r}")
    return ("fetch", m.group(1).lower(),
            [t.strip().lower() for t in m.group(2).split(",")])


def _parse_close(s: str) -> tuple:
    m = re.match(r"(?is)^CLOSE\s+([A-Za-z_]\w*)$",
                 s.rstrip(";").strip())
    if not m:
        raise PlpgsqlError(f"cannot parse CLOSE statement: {s[:80]!r}")
    return ("close", m.group(1).lower())


def _parse_get_diag(s: str) -> tuple:
    """GET [CURRENT] DIAGNOSTICS var = ROW_COUNT — exec_stmt_getdiag;
    only ROW_COUNT is modeled (the DML path returns rows_affected)."""
    m = re.match(
        r"(?is)^GET\s+(?:CURRENT\s+)?DIAGNOSTICS\s+([A-Za-z_]\w*)"
        r"\s*:?=\s*ROW_COUNT$",
        s.rstrip(";").strip())
    if not m:
        raise PlpgsqlError(
            "only GET DIAGNOSTICS var = ROW_COUNT is supported: "
            f"{s[:80]!r}")
    return ("get_diag", m.group(1).lower(), "row_count")


def _parse_select_into(s: str) -> tuple:
    """SELECT expr INTO [STRICT] v [FROM ...] → v := scalar subquery.
    The FROM form becomes `(SELECT expr FROM ...)` — a Catalyst scalar
    subquery over the registered tables/views, correlated through the
    substituted parameters; Spark raises if it yields more than one row
    (pl_exec.c STRICT raises too; the non-STRICT first-row-wins of a
    multi-row result is not modeled — make the query an aggregate).
    The FROM-less form is a plain assignment."""
    m = _SELECT_INTO_RE.match(s.rstrip(";").strip())
    if not m:
        raise PlpgsqlError(
            "only single-variable scalar SELECT [expr] INTO [STRICT] v "
            f"[FROM ...] is supported: {s[:80]!r}"
        )
    expr, var, rest = m.group(1).strip(), m.group(3).lower(), m.group(4)
    if "," in _strip_parens(expr):
        raise PlpgsqlError(
            "SELECT INTO supports exactly one target/select expression"
        )
    if rest:
        return ("assign", var, f"(SELECT {expr} {rest.strip()})")
    return ("assign", var, expr)


def _strip_parens(s: str) -> str:
    """Text with every parenthesized span blanked — for top-level
    comma detection."""
    out, depth = [], 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            out.append(ch)
    return "".join(out)


def _parse_for(s: str) -> tuple:
    mp = re.match(
        r"(?is)^(FOR\s+[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*\s+IN)\s*\(",
        s)
    if mp:
        # pl_gram.y exec_stmt_fors: the FOR query may be fully
        # parenthesized — strip ONE balanced pair so the SELECT form
        # matches (dotted range FORs never start with a paren'd query
        # unless it is a subquery, which re-wraps identically)
        j = _close_paren(s, mp.end())
        inner = s[mp.end(): j - 1].strip()
        if j > 0 and re.match(
                r"(?is)^(SELECT|VALUES|WITH)\b", inner):
            s = s[:mp.end() - 1] + " " + inner + " " + s[j:]
    m = _FOR_RE.match(s)
    if not m:
        mq = _FOR_QUERY_RE.match(s)
        if mq:
            tail = re.search(r"END\s+LOOP\s*;?\s*$", s, re.IGNORECASE)
            if not tail:
                raise PlpgsqlError("FOR without END LOOP")
            inner = s[mq.end(): tail.start()]
            targets = [t.strip().lower() for t in mq.group(1).split(",")]
            # a sole target whose fields the body dereferences is an
            # implicit RECORD (pl_gram.y: the for_variable of a query/
            # cursor FOR is a record unless declared scalar)
            if len(targets) == 1 and re.search(
                    rf"\b{targets[0]}\s*\.\s*\w+", inner,
                    re.IGNORECASE):
                targets = [targets[0] + "\x00rec"]
            return (
                "for_query",
                targets,
                mq.group(2).strip(),
                _parse_stmts(_split_statements(inner)),
            )
        raise PlpgsqlError(
            "only integer-range (FOR v IN [REVERSE] a..b LOOP) and "
            "query (FOR rec IN SELECT ... LOOP) FOR loops are "
            f"supported: {s[:80]!r}"
        )
    var, rev, lo, hi = m.group(1).lower(), bool(m.group(2)), m.group(3), m.group(4)
    inner_start = m.end()
    # strip the trailing END LOOP;
    tail = re.search(r"END\s+LOOP\s*;?\s*$", s, re.IGNORECASE)
    if not tail:
        raise PlpgsqlError("FOR without END LOOP")
    inner = s[inner_start: tail.start()]
    return ("for", var, lo.strip(), hi.strip(), rev,
            _parse_stmts(_split_statements(inner)))


# --------------------------------------------------------------- compile
_MAX_UNROLL = 64
# WHILE loops run as a JVM-side fold over sequence(1, _MAX_WHILE) with
# the loop state in a struct; once the condition goes false the state
# freezes, and if it is STILL true after the last iteration the
# expression raises at runtime (only then — terminating executions are
# unaffected). pl_exec.c loops unboundedly; an analytics scalar
# function needing >128 data-dependent iterations should be a
# recursive CTE instead.
_MAX_WHILE = 128
_FUEL_MSG = (
    f"WHILE loop exceeded {_MAX_WHILE} iterations "
    "(bounded-fold compilation; see README Known deviations)"
)

import itertools as _itertools

_GENSYM = _itertools.count()


def _assigned_vars(stmts: list[tuple]) -> set[str]:
    out: set[str] = set()
    for s in stmts:
        k = s[0]
        if k == "assign":
            out.add(s[1])
        elif k == "assign_field":
            out.add(s[1])
        elif k in ("if", "case"):
            for _c, b in s[1]:
                out |= _assigned_vars(b)
            if s[2]:
                out |= _assigned_vars(s[2])
        elif k == "for":
            out.add(s[1])
            out |= _assigned_vars(s[5])
        elif k == "for_query":
            # targets are loop-scoped; only body assignments escape
            out |= _assigned_vars(s[3])
        elif k == "while":
            out |= _assigned_vars(s[2])
    return out


def _for_loop_vars(stmts: list[tuple]) -> set[str]:
    out: set[str] = set()
    for s in stmts:
        k = s[0]
        if k == "for":
            out.add(s[1])
            out |= _for_loop_vars(s[5])
        elif k in ("if", "case"):
            for _c, b in s[1]:
                out |= _for_loop_vars(b)
            if s[2]:
                out |= _for_loop_vars(s[2])
        elif k == "while":
            out |= _for_loop_vars(s[2])
    return out


def _while_fold(
    cond: str, body: list[tuple], env: dict[str, str]
) -> tuple[str, list[str], int]:
    """Lower WHILE to `aggregate(sequence(1, _MAX_WHILE), init_state,
    (acc, i) -> IF(cond(acc), step(acc), acc))` — the loop state is a
    named_struct of every variable the body assigns, each iteration is
    one JVM-side struct rewrite, and a false (or NULL, matching
    exec_stmt_while) condition freezes the state. Linear-size
    expression: state is referenced by field name, never re-inlined,
    so IF-heavy bodies don't blow up the way textual unrolling would.

    Returns (fold_expr, state_var_names, gensym_id, effective_cond);
    the caller checks effective_cond (the loop condition composed with
    any EXIT flag) on the final state to detect fuel exhaustion.
    """
    n = next(_GENSYM)
    env = dict(env)
    kinds = _loop_ctrl_kinds(body)
    if kinds:
        eflag, cflag = f"__exit{n}", f"__cont{n}"
        body = _desugar_exits(body, eflag, cflag)
        if "continue_when" in kinds:
            # the continue flag resets at the top of every iteration
            body = [("assign", cflag, "false")] + body
        env[eflag] = "(false)"
        env[cflag] = "(false)"
        if "exit_when" in kinds:
            cond = f"(NOT {eflag}) AND ({cond})"
    state = sorted(_assigned_vars(body))
    if not state:
        raise PlpgsqlError("WHILE body assigns no variables (infinite loop)")
    for_vars = _for_loop_vars(body)
    missing = [v for v in state if v not in env and v not in for_vars]
    if missing:
        raise PlpgsqlError(
            f"WHILE body assigns undeclared variable(s): {missing}"
        )
    for v in for_vars:
        # integer-range FOR declares its own int loop variable
        # (pl_gram.y for_control)
        env.setdefault(v, "(CAST(NULL AS INT))")
    acc = f"__a{n}"
    env_loop = dict(env)
    env_loop.update({v: f"{acc}.{v}" for v in state})
    cond_l = _subst(cond, env_loop)
    body_env = _compile_env(body, env_loop)
    step = "named_struct(" + ", ".join(
        f"'{v}', {body_env[v]}" for v in state
    ) + ")"
    init = "named_struct(" + ", ".join(
        f"'{v}', {env[v]}" for v in state
    ) + ")"
    fold = (
        f"aggregate(sequence(1, {_MAX_WHILE}), {init}, "
        f"({acc}, __i{n}) -> IF(({cond_l}), {step}, {acc}))"
    )
    return fold, state, n, cond


# params of the function being compiled (set by compile_plpgsql) —
# used to reject FOR-over-query bodies whose lambda would carry an
# outer reference Spark forbids outside WHERE/HAVING
_CURRENT_PARAMS: set[str] = set()

_SELECT_LIST_RE = re.compile(r"(?is)^SELECT\s+(?:DISTINCT\s+)?(.+?)\s+(FROM\b.*)$")
_ORDER_TAIL_RE = re.compile(r"(?is)^(.*?)\s+ORDER\s+BY\s+(.+?)\s*$")


def _analyze_for_query(query: str) -> tuple[str, str, list[str], list[str]]:
    """Split a FOR-over-query SELECT into (select-list, FROM-tail
    without ORDER BY, output column names, ORDER BY keys). Computed
    columns must be AS-aliased so the record's struct fields have
    names; ORDER BY keys must be plain ASC expressions over the output
    columns (they become leading struct fields for array_sort)."""
    mo = _SELECT_LIST_RE.match(query.strip().rstrip(";"))
    if not mo:
        raise PlpgsqlError(
            f"FOR-over-query needs SELECT <list> FROM ...: {query[:80]!r}"
        )
    sel, rest = mo.group(1).strip(), mo.group(2).strip()
    order_keys: list[str] = []
    mt = _ORDER_TAIL_RE.match(rest)
    if mt and re.match(r"(?i)FROM\b", mt.group(1)):
        keys = mt.group(2)
        if re.search(r"(?i)\b(DESC|USING|NULLS)\b", keys):
            raise PlpgsqlError(
                "FOR-over-query ORDER BY supports plain ASC keys only"
            )
        rest = mt.group(1).strip()
        order_keys = [k.strip() for k in _split_commas(keys)]
    cols: list[str] = []
    for item in _split_commas(sel):
        item = item.strip()
        ma = re.search(r"(?is)\s+AS\s+([A-Za-z_]\w*)\s*$", item)
        if ma:
            cols.append(ma.group(1).lower())
        elif re.fullmatch(r"[\w.]+", item):
            cols.append(item.split(".")[-1].lower())
        else:
            raise PlpgsqlError(
                "alias computed FOR-over-query columns with AS: "
                f"{item[:40]!r}"
            )
    if len(set(cols)) != len(cols):
        raise PlpgsqlError(f"duplicate output column names: {cols}")
    return sel, rest, cols, order_keys


def _for_query_fold(
    targets: list[str], query: str, body: list[tuple], env: dict[str, str]
) -> tuple[str, list[str], int]:
    """Lower `FOR rec IN SELECT ... LOOP body END LOOP` (pl_exec.c
    exec_stmt_fors) to the same JVM fold the WHILE path uses:
    `aggregate(<rows array>, init_state, (acc, rec) -> step)` where
    the rows array is ONE scalar subquery
    `(SELECT [array_sort](collect_list(named_struct(...))) FROM (q))`
    and each iteration is a struct rewrite — no fuel bound needed
    (the array length bounds the loop), no Python per row. RECORD
    fields are struct members (`rec.col`); a scalar target list maps
    positionally onto the output columns. EXIT freezes the remaining
    iterations via the exit flag in the fold state. Caveat: decimal
    arithmetic widens (DECIMAL(18,2)+DECIMAL(18,2) → (19,2)), changing
    the state-struct type mid-loop — accumulate decimals with an
    explicit CAST back to the declared type."""
    n = next(_GENSYM)
    env = dict(env)
    kinds = _loop_ctrl_kinds(body)
    eflag, cflag = f"__exit{n}", f"__cont{n}"
    if kinds:
        body = _desugar_exits(body, eflag, cflag)
        if "continue_when" in kinds:
            body = [("assign", cflag, "false")] + body
        env[eflag] = "(false)"
        env[cflag] = "(false)"
    sel, rest, cols, okeys = _analyze_for_query(query)
    rec, acc = f"__r{n}", f"__a{n}"
    fields = ", ".join(f"'{c}', {c}" for c in cols)
    # params (and only params/declared vars) correlate into the query,
    # same substitution contract as SELECT INTO
    inner = _subst(f"SELECT {sel} {rest}", env)
    if okeys:
        ofields = ", ".join(f"'__o{i}', {k}" for i, k in enumerate(okeys))
        rows = f"array_sort(collect_list(named_struct({ofields}, {fields})))"
    else:
        rows = f"collect_list(named_struct({fields}))"
    state = sorted(_assigned_vars(body))
    if not state:
        raise PlpgsqlError("FOR-over-query body assigns no variables")
    missing = [v for v in state if v not in env]
    if missing:
        raise PlpgsqlError(
            f"FOR-over-query body assigns undeclared variable(s): {missing}"
        )
    env_loop = dict(env)
    env_loop.update({v: f"{acc}.{v}" for v in state})
    targets = list(targets)
    implicit_rec = targets[0].endswith("\x00rec")
    if implicit_rec:
        targets[0] = targets[0][:-4]
    declared_record = env.get(targets[0], "").upper().endswith("AS RECORD))")
    if len(targets) == 1 and (len(cols) > 1 or declared_record
                              or implicit_rec):
        env_loop[targets[0]] = rec  # RECORD: fields via rec.col
    else:
        if len(targets) > len(cols):
            raise PlpgsqlError(
                f"{len(targets)} FOR targets but query yields "
                f"{len(cols)} column(s)"
            )
        for i, t in enumerate(targets):
            env_loop[t] = f"{rec}.{cols[i]}"
    body_env = _compile_env(body, env_loop)
    step = "named_struct(" + ", ".join(
        f"'{v}', {body_env[v]}" for v in state
    ) + ")"
    init = "named_struct(" + ", ".join(
        f"'{v}', {env[v]}" for v in state
    ) + ")"
    lam_body = (
        f"IF(({acc}.{eflag}), {acc}, {step})"
        if "exit_when" in kinds
        else step
    )
    # Spark allows outer references (function params) in a subquery's
    # WHERE/HAVING only — a param inside the fold lambda or init would
    # fail CREATE FUNCTION analysis with an opaque error; fail loudly
    # here with the workaround instead.
    offenders = sorted(
        p
        for p in _CURRENT_PARAMS
        # exclude struct-field accesses (.p) and quoted field names ('p')
        if re.search(
            rf"(?<![.'\w]){re.escape(p)}\b", f"{step} {init}", re.IGNORECASE
        )
    )
    if offenders:
        raise PlpgsqlError(
            f"function parameter(s) {offenders} referenced inside a "
            "FOR-over-query loop body/initializer — Spark permits outer "
            "references only in the query's WHERE/HAVING; move the "
            "comparison into the FOR query's WHERE clause"
        )
    # the whole fold lives INSIDE the scalar subquery (aggregate over
    # the post-aggregation collect_list value) — Spark rejects subquery
    # expressions anywhere under a higher-order function, so the
    # subquery must own the HOF, not the reverse
    fold = (
        f"(SELECT aggregate({rows}, {init}, ({acc}, {rec}) -> "
        f"{lam_body}) FROM ({inner}) __q{n})"
    )
    return fold, state, n


def _compile_env(stmts: list[tuple], env: dict[str, str]) -> dict[str, str]:
    """Thread a statement list through the environment, returning the
    final variable→expression map (the state-transition form used
    inside WHILE folds). Branches merge per-variable via CASE on the
    branch conditions — evaluated against the PRE-branch env, as
    pl_exec.c does."""
    env = dict(env)
    for s in stmts:
        k = s[0]
        if k == "null":
            continue
        if k == "return":
            raise PlpgsqlError(
                "RETURN inside a WHILE body is not supported — assign "
                "to a variable and RETURN after the loop"
            )
        if k == "assign":
            env[s[1]] = f"({_subst(s[2], env)})"
        elif k in ("if", "case"):
            _, cond_arms, else_body = s
            if k == "case" and else_body is None:
                raise PlpgsqlError(
                    "CASE without ELSE inside a WHILE body is not "
                    "supported (its CASE_NOT_FOUND error has no typed "
                    "lowering here) — add an ELSE arm"
                )
            arm_envs = [
                (_subst(c, env), _compile_env(b, env)) for c, b in cond_arms
            ]
            else_env = _compile_env(else_body or [], env)
            changed: set[str] = set()
            for _c, ae in arm_envs:
                changed |= {v for v in ae if ae[v] != env.get(v)}
            changed |= {v for v in else_env if else_env[v] != env.get(v)}
            for v in sorted(changed):
                parts = ["CASE"]
                for c, ae in arm_envs:
                    parts.append(f"WHEN ({c}) THEN {ae.get(v, env[v])}")
                parts.append(f"ELSE {else_env.get(v, env[v])} END")
                env[v] = "(" + " ".join(parts) + ")"
        elif k == "for":
            _, var, lo, hi, rev, body = s
            lo_i = _const_int(_subst(lo, env))
            hi_i = _const_int(_subst(hi, env))
            seq = range(lo_i, hi_i + 1)
            if rev:
                seq = range(lo_i, hi_i - 1, -1)
            if len(seq) > _MAX_UNROLL:
                raise PlpgsqlError(
                    f"FOR loop unrolls {len(seq)} iterations "
                    f"(limit {_MAX_UNROLL})"
                )
            unrolled: list[tuple] = []
            for i in seq:
                unrolled.append(("assign", var, str(i)))
                unrolled.extend(body)
            env = _compile_env(unrolled, env)
        elif k == "while":
            fold, state, n, eff_cond = _while_fold(s[1], s[2], env)
            for v in state:
                w = f"__w{n}_{v}"
                cond_w = _subst(eff_cond, {
                    **env, **{u: f"{w}.{u}" for u in state}
                })
                env[v] = (
                    f"element_at(transform(array({fold}), {w} -> "
                    f"CASE WHEN ({cond_w}) THEN raise_error('{_FUEL_MSG}') "
                    f"ELSE {w}.{v} END), 1)"
                )
        else:
            # includes nested for_query: its rows array is a scalar
            # subquery, which cannot appear inside a fold lambda
            raise PlpgsqlError(
                f"unsupported statement inside a loop body: {k!r}"
            )
    return env


def _subst(expr: str, env: dict[str, str]) -> str:
    """Replace variable references with their current SQL value.
    Identifiers followed by '(' are function calls, left alone."""
    def sub(m: re.Match) -> str:
        name = m.group(0).lower()
        return env.get(name, m.group(0))

    return re.sub(r"\b[A-Za-z_]\w*\b(?!\s*\()", sub, expr)


def _const_int(expr: str) -> int:
    m = re.fullmatch(r"\s*\(*\s*(-?\d+)\s*\)*\s*", expr)
    if not m:
        raise PlpgsqlError(
            f"FOR bound must be a compile-time integer constant: {expr!r}"
        )
    return int(m.group(1))


def _compile_seq(stmts: list[tuple], env: dict[str, str], returns: str) -> str:
    """Compile a statement list to one SQL expression. env maps
    lowercase var -> SQL expr over the parameters only."""
    if not stmts:
        return f"CAST(NULL AS {returns})"
    head, tail = stmts[0], stmts[1:]
    kind = head[0]
    if kind == "null":
        return _compile_seq(tail, env, returns)
    if kind == "perform":
        # exec_stmt_perform evaluates and discards; the compiled
        # expression model elides the evaluation (README deviations)
        return _compile_seq(tail, env, returns)
    if kind in ("dml", "execute", "open", "fetch", "close", "loop",
                "get_diag"):
        raise PlpgsqlError(
            f"{kind.upper()} statements run only on the interpreted "
            "void-procedure path (RETURNS VOID LANGUAGE plpgsql); the "
            "compiled expression model cannot hold side effects"
        )
    if kind == "raise_undef_col":
        # outside an EXCEPTION handler the reference errors when the
        # RAISE evaluates its args, at any level
        return ("CAST(raise_error('column \"" + head[1]
                + f"\" does not exist') AS {returns})")
    if kind == "end_noreturn":
        # pl_exec.c plpgsql_exec_function: a non-void function whose
        # control falls off the end errors at RUN time, not CREATE
        return ("CAST(raise_error('control reached end of function "
                f"without RETURN') AS {returns})")
    if kind == "return":
        expr = head[1]
        if expr is None:
            return f"CAST(NULL AS {returns})"
        return f"CAST(({_subst(expr, env)}) AS {returns})"
    if kind == "assign":
        _, var, expr = head
        env2 = dict(env)
        env2[var] = f"({_subst(expr, env)})"
        return _compile_seq(tail, env2, returns)
    if kind == "assign_field":
        _, var, field, expr = head
        meta = env.get(_FIELDS_KEY.format(var))
        if meta is None:
            raise PlpgsqlError(
                f"{var!r} is not a record variable (declare it with a "
                "composite type or tbl%rowtype for field assignment)"
            )
        fields = _record_fields(meta)
        if field not in {f for f, _t in fields}:
            raise PlpgsqlError(
                f"record {var!r} has no field {field!r}")
        cur = env[var]
        new = _subst(expr, env)
        parts = ", ".join(
            f"'{f}', ({new})" if f == field else f"'{f}', ({cur}).{f}"
            for f, _t in fields
        )
        styp = "STRUCT<" + ", ".join(
            f"{f}: {t}" for f, t in fields) + ">"
        env2 = dict(env)
        env2[var] = f"(CAST(named_struct({parts}) AS {styp}))"
        return _compile_seq(tail, env2, returns)
    if kind in ("if", "case"):
        _, cond_arms, else_body = head
        parts = ["CASE"]
        for cond, body in cond_arms:
            parts.append(f"WHEN ({_subst(cond, env)}) THEN "
                         f"{_compile_seq(body + tail, env, returns)}")
        if kind == "case" and else_body is None:
            # pl_exec.c exec_stmt_case: no arm matched and no ELSE =>
            # CASE_NOT_FOUND runtime error
            parts.append(
                "ELSE CAST(raise_error('case not found') "
                f"AS {returns})"
            )
        else:
            parts.append(
                f"ELSE {_compile_seq((else_body or []) + tail, env, returns)}"
            )
        parts.append("END")
        return " ".join(parts)
    if kind == "raise":
        _, msg, args = head
        msg_e = _subst(msg, env)
        if args:
            arg_list = ", ".join(
                f"CAST(({_subst(a, env)}) AS STRING)" for a in args
            )
            # PG's % placeholders -> printf %s slots at runtime; '%%'
            # is PG's literal-percent escape and must NOT become two
            # slots — park it in a \x01 sentinel, expand the real
            # slots, then restore it as printf's own '%%' escape
            # (printf chokes on a bare '%').
            body = (
                f"printf(replace(replace(replace({msg_e}, "
                f"'%%', chr(1)), '%', '%s'), chr(1), '%%'), {arg_list})"
            )
        else:
            body = msg_e
        return f"CAST(raise_error({body}) AS {returns})"
    if kind in ("exit_when", "continue_when"):
        raise PlpgsqlError(
            "EXIT/CONTINUE are supported only inside a WHILE loop body"
        )
    if kind == "while":
        _, cond, body = head
        fold, state, n, eff_cond = _while_fold(cond, body, env)
        w = f"__w{n}"
        env_tail = dict(env)
        env_tail.update({v: f"{w}.{v}" for v in state})
        cond_t = _subst(eff_cond, env_tail)
        inner = (
            f"CASE WHEN ({cond_t}) THEN "
            f"CAST(raise_error('{_FUEL_MSG}') AS {returns}) "
            f"ELSE {_compile_seq(tail, env_tail, returns)} END"
        )
        # transform-over-singleton-array is SQL's let-binding: the fold
        # result is named once ({w}) and referenced, never re-inlined
        return f"element_at(transform(array({fold}), {w} -> {inner}), 1)"
    if kind == "for_query":
        _, targets, query, body = head
        fold, state, n = _for_query_fold(targets, query, body, env)
        env_tail = dict(env)
        # the fold is a scalar subquery, which cannot be let-bound via
        # the transform-singleton trick (no subqueries under HOFs) —
        # each state-var reference inlines its own copy; scalar
        # functions have tiny tails, so the duplication is bounded.
        # No fuel check: the rows array bounds the loop exactly.
        env_tail.update({v: f"(({fold}).{v})" for v in state})
        return _compile_seq(tail, env_tail, returns)
    if kind == "for":
        _, var, lo, hi, rev, body = head
        lo_i = _const_int(_subst(lo, env))
        hi_i = _const_int(_subst(hi, env))
        seq = range(lo_i, hi_i + 1)
        if rev:
            # PG: FOR i IN REVERSE hi..lo counts down; the first bound
            # is the start. Our (lo, hi) are source order.
            seq = range(lo_i, hi_i - 1, -1)
        if len(seq) > _MAX_UNROLL:
            raise PlpgsqlError(
                f"FOR loop unrolls {len(seq)} iterations "
                f"(limit {_MAX_UNROLL})"
            )
        unrolled: list[tuple] = []
        for i in seq:
            unrolled.append(("assign", var, str(i)))
            unrolled.extend(body)
        return _compile_seq(unrolled + tail, env, returns)
    raise PlpgsqlError(f"unknown statement kind {kind!r}")


_HEADER_RE = re.compile(
    r"^\s*(?:DECLARE\b(?P<decl>.*?))?\s*BEGIN\b(?P<body>.*)\bEND\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_exception_section(body: str) -> tuple[str, str | None]:
    """Split a block body at its top-level EXCEPTION keyword
    (pl_gram.y proc_exceptions): IF/LOOP/CASE blocks at depth >= 1
    keep their own text. Returns (main, handlers-or-None)."""
    depth = 0
    for m in re.finditer(r"[A-Za-z_]\w*", body):
        w = m.group(0).upper()
        prev = body[:m.start()].rstrip()
        if w in ("IF", "LOOP", "CASE"):
            if not prev.upper().endswith("END"):
                depth += 1
        elif w == "END":
            depth -= 1
        elif w == "EXCEPTION" and depth == 0 and (
                prev == "" or prev.endswith(";")):
            # statement position only — `RAISE EXCEPTION ...` carries
            # the same keyword mid-statement
            return body[:m.start()], body[m.end():]
    return body, None


def _parse_exception_handlers(text: str) -> list[tuple[list[str], list]]:
    """WHEN cond [OR cond...] THEN stmts, ... (pl_gram.y
    proc_exception): returns [(condition-names, parsed-stmts)]."""
    arms: list[tuple[int, int]] = []  # (when_pos, then_end)
    depth = 0
    for m in re.finditer(r"[A-Za-z_]\w*", text):
        w = m.group(0).upper()
        prev = text[:m.start()].rstrip()
        if w in ("IF", "LOOP", "CASE"):
            if not prev.upper().endswith("END"):
                depth += 1
        elif w == "END":
            depth -= 1
        elif w == "WHEN" and depth == 0 and (
                prev == "" or prev.endswith(";")):
            # arm position only — EXIT WHEN / CONTINUE WHEN inside a
            # handler body carry the same keyword mid-statement
            arms.append(m.start())
    if not arms:
        raise PlpgsqlError("EXCEPTION section without WHEN handler")
    out: list[tuple[list[str], list]] = []
    bounds = arms + [len(text)]
    for s, e in zip(bounds, bounds[1:]):
        seg = text[s:e]
        hm = re.match(r"(?is)^WHEN\s+(.+?)\s+THEN\b(.*)$", seg)
        if hm is None:
            raise PlpgsqlError("cannot parse EXCEPTION handler")
        conds = [c.strip().lower()
                 for c in re.split(r"(?i)\bOR\b", hm.group(1))]
        out.append((conds,
                    _parse_stmts(_split_statements(hm.group(2)))))
    return out


_FIELDS_KEY = "\x00fields:{}"  # env side-channel: record var field list
_FSEP, _NSEP = "\x1f", "\x1e"


def _record_meta(fields: list[tuple[str, str]]) -> str:
    return _FSEP.join(f"{f}{_NSEP}{t}" for f, t in fields)


def _record_fields(meta: str) -> list[tuple[str, str]]:
    return [tuple(x.split(_NSEP, 1)) for x in meta.split(_FSEP)]


def _base_env(
    params: list[tuple[str, str]], decl: str,
    composites: dict | None = None,
) -> dict[str, str]:
    """Seed the compile environment: parameters map to themselves,
    DECLAREd variables to their (substituted) initializer or a typed
    NULL. `composites` maps a composite/rowtype name (lowercase) to an
    object with `.fields` [(name, PG type), ...] — `r tbl%rowtype`
    and `r composite_name` declares become typed NULL structs whose
    field list rides the env side-channel for field assignment."""
    _CURRENT_PARAMS.clear()
    _CURRENT_PARAMS.update(p.lower() for p, _t in params)
    env: dict[str, str] = {p.lower(): p for p, _t in params}
    from warehouse_pg_spark.sql_dialect import map_decl_type

    # composite-typed PARAMETERS are record variables too (pl_comp.c
    # builds a row datum for them): expose their field list so
    # `param.field := expr` compiles like a declared record's
    for p, t in params:
        sm = re.match(r"(?is)^STRUCT\s*<(.*)>\s*$", t.strip())
        if sm:
            fl = []
            for item in re.split(r",(?![^<]*>)", sm.group(1)):
                fm = re.match(r"\s*(\w+)\s*:\s*(.+?)\s*$", item)
                if fm:
                    fl.append((fm.group(1), fm.group(2)))
            if fl:
                env[_FIELDS_KEY.format(p.lower())] = _record_meta(fl)

    for d in [x.strip() for x in decl.split(";") if x.strip()]:
        # COLLATE in a declaration (pl_gram.y decl_collate) picks a
        # comparison collation; Spark strings compare binary — the
        # clause drops (README Known deviations: collations)
        d = re.sub(r'(?is)\s+COLLATE\s+(?:"[^"]+"|[\w.]+)', "", d)
        rm = re.match(
            r"^([A-Za-z_]\w*)\s+([\w.]+)\s*%\s*rowtype$",
            d,
            re.IGNORECASE,
        )
        comp = None
        if rm is not None:
            cname = rm.group(2).split(".")[-1].lower()
            comp = (composites or {}).get(cname)
            if comp is None:
                raise PlpgsqlError(
                    f"unknown rowtype {rm.group(2)!r} in declaration")
            name = rm.group(1).lower()
        else:
            dm = re.match(
                r"^([A-Za-z_]\w*)\s+(?:CONSTANT\s+)?"
                r"((?:[A-Za-z_]\w*\s*)+"
                r"(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
                r"(?:\s*(?::=|DEFAULT)\s*(.+))?$",
                d,
                re.IGNORECASE | re.DOTALL,
            )
            if not dm:
                raise PlpgsqlError(
                    f"cannot parse declaration: {d[:80]!r}")
            name, typ, init = (
                dm.group(1).lower(), dm.group(2).strip(), dm.group(3),
            )
            comp = (composites or {}).get(typ.lower())
            if comp is None:
                typ = map_decl_type(typ)
                if init is not None:
                    env[name] = (
                        f"(CAST(({_subst(init.strip(), env)}) "
                        f"AS {typ}))"
                    )
                else:
                    env[name] = f"(CAST(NULL AS {typ}))"
                continue
        fields = [(f, map_decl_type(t)) for f, t in comp.fields]
        styp = (
            "STRUCT<" + ", ".join(f"{f}: {t}" for f, t in fields) + ">"
        )
        env[name] = f"(CAST(NULL AS {styp}))"
        env[_FIELDS_KEY.format(name)] = _record_meta(fields)
    return env


def _inline_cursor_loops(decl: str, body: str) -> tuple[str, str]:
    """Bound unparameterized cursors: `c CURSOR [NO SCROLL] FOR q`
    declarations inline into `FOR r IN c LOOP` sites, which then
    compile through the existing FOR-over-query path (pl_exec.c
    exec_stmt_forc runs the same portal machinery as exec_stmt_fors —
    with a static query the two are one lowering). OPEN/FETCH/CLOSE
    imperative cursor use stays rejected."""
    cursors: dict[str, str] = {}
    kept: list[str] = []
    for d in decl.split(";"):
        cm = re.match(
            r"(?is)^\s*([A-Za-z_]\w*)\s+(?:NO\s+SCROLL\s+"
            r"|SCROLL\s+)?CURSOR\s+(?:IS|FOR)\s+(.+)$", d)
        if cm and not re.search(r"(?i)\(", cm.group(1)):
            cursors[cm.group(1).lower()] = cm.group(2).strip()
        elif d.strip():
            kept.append(d)
    if not cursors:
        return decl, body
    for cname, q in cursors.items():
        body = re.sub(
            rf"(?is)\bFOR\s+([A-Za-z_]\w*)\s+IN\s+{cname}\s+LOOP\b",
            lambda m2: f"FOR {m2.group(1)} IN {q} LOOP",
            body,
        )
    return "; ".join(kept), body


def compile_plpgsql(
    params: list[tuple[str, str]], returns: str, body: str,
    composites: dict | None = None, void: bool = False,
) -> str:
    """Compile a PL/pgSQL body to one SQL expression over the params.

    params: [(name, sql_type), ...] — names stay free identifiers in
    the output (they become the CREATE FUNCTION argument names).
    void: RETURNS VOID — falling off the end is legal and RETURN must
    not carry an expression (pl_exec.c exec_stmt_return); a non-void
    function that falls off the end raises at run time
    (PLPGSQL_RC_RETURN missing — "control reached end of function
    without RETURN").
    """
    masked, lits = _mask(_strip_comments(body))
    m = _HEADER_RE.search(masked)
    if not m:
        raise PlpgsqlError("body must be [DECLARE ...] BEGIN ... END")
    decl, inner = _inline_cursor_loops(m.group("decl") or "",
                                       m.group("body"))
    env = _base_env(params, decl, composites)
    stmts = _parse_stmts(_split_statements(inner))
    if not void:
        stmts = stmts + [("end_noreturn",)]
    return _unmask(_compile_seq(stmts, env, returns), lits)


def compile_plpgsql_setof(
    params: list[tuple[str, str]],
    cols: list[tuple[str, str]],
    body: str,
    bare_next: bool = False,
    composites: dict | None = None,
) -> str:
    """Compile a SET-RETURNING PL/pgSQL body to ONE SQL expression of
    type ARRAY<elem> (pl_exec.c exec_stmt_return_next /
    exec_stmt_return_query: the backend's tuplestore becomes an array
    value the engine explodes into rows).

    Lowering: a hidden accumulator `__retset` starts as an empty
    array; `RETURN NEXT expr` desugars to `__retset :=
    array_append(__retset, CAST(expr AS elem))`, a bare `RETURN NEXT`
    (RETURNS TABLE / OUT params, pl_exec.c's current-OUT-values form)
    appends the row built from the column variables, `RETURN QUERY q`
    concatenates the query's collected rows, and every bare `RETURN`
    (plus falling off the end) yields the accumulator. All the scalar
    compiler's control flow (IF, unrolled integer FOR, WHILE and
    FOR-over-query folds) composes unchanged, because the accumulator
    is just another single-assignment variable.

    Caveat (documented): RETURN QUERY collects via collect_list, so a
    query-internal ORDER BY is not a hard ordering guarantee the way
    PG's tuplestore append is; single-RETURN-QUERY bodies take the
    direct table-function path in the engine instead and never hit
    this."""
    if len(cols) == 1:
        elem = cols[0][1]
    else:
        elem = (
            "STRUCT<"
            + ", ".join(f"{c}: {t}" for c, t in cols)
            + ">"
        )
    masked, lits = _mask(_strip_comments(body))

    def tok(text: str) -> str:
        # park compiler-injected text (field-name literals, CAST type
        # spellings) as a mask token so _subst cannot rewrite the
        # identifiers inside it; _unmask restores it at the end
        lits.append(text)
        return f"\x00{len(lits) - 1}\x00"

    elem_t = tok(elem)
    m = _HEADER_RE.search(masked)
    if not m:
        raise PlpgsqlError("body must be [DECLARE ...] BEGIN ... END")
    env = _base_env(params, m.group("decl") or "", composites)
    env["__retset"] = f"(CAST(array() AS ARRAY<{elem_t}>))"
    if bare_next:
        # RETURNS TABLE / OUT columns are implicitly declared,
        # assignable variables (pl_comp.c build_row_from_vars)
        for c, t in cols:
            env.setdefault(c.lower(), f"(CAST(NULL AS {t}))")
    btext = m.group("body")
    if re.search(r"(?i)\bRETURN\s+QUERY\s+EXECUTE\b", btext):
        raise PlpgsqlError(
            "RETURN QUERY EXECUTE (dynamic SQL) is not supported"
        )
    # RETURN QUERY q; — append the query's rows. The derived-column
    # alias (__rq(__c0, ...)) renames positionally so arbitrary
    # select lists cast cleanly into the declared element type.
    names = ", ".join(f"__c{i}" for i in range(len(cols)))
    if len(cols) == 1:
        pick = f"CAST(__c0 AS {elem_t})"
    else:
        pick = (
            "CAST(named_struct("
            + ", ".join(
                f"{tok(chr(39) + c + chr(39))}, __c{i}"
                for i, (c, _t) in enumerate(cols)
            )
            + f") AS {elem_t})"
        )
    btext = re.sub(
        r"(?is)\bRETURN\s+QUERY\s+(.+?);",
        lambda m2: (
            "__retset := concat(__retset, coalesce("
            f"(SELECT collect_list({pick}) "
            f"FROM ({m2.group(1).strip()}) AS __rq({names})), "
            "array()));"
        ),
        btext,
    )
    if bare_next:
        if len(cols) == 1:
            row = cols[0][0]
        else:
            row = (
                "named_struct("
                + ", ".join(
                    f"{tok(chr(39) + c + chr(39))}, {c}"
                    for c, _t in cols
                )
                + ")"
            )
        btext = re.sub(
            r"(?is)\bRETURN\s+NEXT\s*;",
            f"__retset := array_append(__retset, "
            f"CAST({row} AS {elem_t}));",
            btext,
        )
    btext = re.sub(
        r"(?is)\bRETURN\s+NEXT\s+(.+?);",
        lambda m2: (
            f"__retset := array_append(__retset, "
            f"CAST(({m2.group(1).strip()}) AS {elem_t}));"
        ),
        btext,
    )
    btext = re.sub(r"(?i)\bRETURN\s*;", "RETURN __retset;", btext)
    if re.search(r"(?i)\bRETURN\s+(?!NEXT\b|QUERY\b|__retset\b)\S",
                 btext):
        # pl_gram.y: "RETURN cannot have a parameter in function
        # returning set"
        raise PlpgsqlError(
            "RETURN with a value is not allowed in a set-returning "
            "function — use RETURN NEXT / RETURN QUERY"
        )
    btext += " RETURN __retset;"
    stmts = _parse_stmts(_split_statements(btext))
    return _unmask(_compile_seq(stmts, env, f"ARRAY<{elem}>"), lits)


def compile_plpgsql_outrow(
    params: list[tuple[str, str]],
    cols: list[tuple[str, str]],
    body: str,
    composites: dict | None = None,
) -> str:
    """Compile a non-SETOF OUT-parameter PL/pgSQL body (pl_exec.c
    exec_stmt_return with out-param row build): the function returns
    exactly ONE row of the OUT variables' final values. Compiles to a
    single STRUCT-valued (or scalar, for one OUT column) expression;
    the engine wraps it as a one-row table function."""
    masked, lits = _mask(_strip_comments(body))

    def tok(text: str) -> str:
        lits.append(text)
        return f"\x00{len(lits) - 1}\x00"

    if len(cols) == 1:
        elem, row = cols[0][1], cols[0][0]
    else:
        elem = (
            "STRUCT<" + ", ".join(f"{c}: {t}" for c, t in cols) + ">"
        )
        row = (
            "named_struct("
            + ", ".join(
                f"{tok(chr(39) + c + chr(39))}, {c}" for c, _t in cols
            )
            + ")"
        )
    elem_t = tok(elem)
    m = _HEADER_RE.search(masked)
    if not m:
        raise PlpgsqlError("body must be [DECLARE ...] BEGIN ... END")
    env = _base_env(params, m.group("decl") or "", composites)
    for c, t in cols:
        env.setdefault(c.lower(), f"(CAST(NULL AS {t}))")
    btext = m.group("body")
    # pl_gram.y: "RETURN cannot have a parameter in function with OUT
    # parameters" — only bare RETURN (the current OUT values) is legal
    btext = re.sub(
        r"(?i)\bRETURN\s*;", f"RETURN CAST({row} AS {elem_t});", btext
    )
    if re.search(r"(?i)\bRETURN\s+(?!CAST\s*\()\S", btext):
        raise PlpgsqlError(
            "RETURN with a value is not allowed in a function with "
            "OUT parameters"
        )
    btext += f" RETURN CAST({row} AS {elem_t});"
    stmts = _parse_stmts(_split_statements(btext))
    return _unmask(_compile_seq(stmts, env, elem), lits)
