"""Interpreted user functions: bodies that perform DML (or that
Spark's SQL-function surface cannot hold) run driver-side at the call.

The compiled-expression model (plpgsql.py) cannot hold side effects,
but pl_exec.c's semantics for these bodies are a small imperative
subset: scalar DECLAREs, assignments, IF/ELSIF/CASE, WHILE /
integer-range FOR / query FOR / bare LOOP loops with EXIT/CONTINUE,
PERFORM, RAISE, INSERT/UPDATE/DELETE statements, dynamic EXECUTE
(exec_stmt_dynexecute: the command is an expression, USING values
bind $n), bound/unbound cursors via OPEN/FETCH/CLOSE
(exec_stmt_open/fetch/close — the portal materializes driver-side as
a forward-only row list), GET DIAGNOSTICS ... = ROW_COUNT, and the
automatic FOUND variable. This mixin interprets that subset
driver-side at CALL time — each scalar expression evaluates through
one `SELECT` (so every dialect rewrite applies), each DML statement
runs through Engine.sql with the variable values substituted as
literals. Substitution always runs on MASKED text, before string
literals are restored: pl_exec.c binds variables as PARAM nodes and
never rewrites literal text, so a literal containing a variable's
name must survive intact. The loop fuel bound keeps a runaway body
loud instead of wedging the session (pl_exec.c loops unboundedly;
replay bodies are small).
"""

from __future__ import annotations

import re

from warehouse_pg_spark.dialect.mask import _close_paren, _split_commas, _unmask
from warehouse_pg_spark.engine_fn_ddl import _FN_NAME, UserFunction, _fn_key

_PROC_MAX_STEPS = 100_000
# a cursor / query-FOR portal materializes driver-side; this is a
# session-DDL convenience path, not a data-plane operator — stay loud
# rather than absorb an unbounded collect
_PROC_MAX_PORTAL_ROWS = 200_000

# `SELECT f(args)`, the whole statement
_SOLE_CALL_RE = re.compile(rf"(?is)^SELECT\s+{_FN_NAME}\s*\(")
_CURSOR_DECL_RE = re.compile(
    r"(?is)^\s*([A-Za-z_]\w*)\s+(?:NO\s+SCROLL\s+|SCROLL\s+)?"
    r"CURSOR\s+(?:IS|FOR)\s+(.+)$")


def _sql_lit(v) -> str:
    """Render a Python value as a SQL literal (PARAM-binding stand-in)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


# plpgsql condition names -> error-text heuristics (pl_exec.c matches
# by SQLSTATE class; the engine's single error channel carries text,
# so named conditions match on the message shape they produce here)
_COND_PATTERNS = {
    "division_by_zero": r"(?i)divi\w*[ _]by[ _]zero",
    "unique_violation": r"(?i)duplicate|unique",
    "no_data_found": r"(?i)no rows",
    "too_many_rows": r"(?i)more than one row",
    "raise_exception": r"(?i)user_raised_exception|p0001",
    "numeric_value_out_of_range": r"(?i)out of range|overflow",
    "invalid_text_representation":
        r"(?i)invalid|cannot be cast|malformed",
    "undefined_column": r"(?i)unresolved_column|does not exist",
    "undefined_table": r"(?i)table_or_view_not_found",
}


class ProcedureMixin:
    def _register_sqlbody_proc(self, name: str,
                               params: list[tuple[str, str]],
                               body: str, rettype: str,
                               config: dict[str, str]) -> bool:
        """LANGUAGE sql bodies Spark's SQL-UDF surface cannot hold
        (DML statements, a recursive CTE over a parameter,
        current_setting over a runtime key): functions.c runs every
        statement and returns the last one's first row — interpreted
        driver-side at the call, with proconfig SET overlays applied
        for the call's duration (functioncmds.c proconfig / guc.c)."""
        from warehouse_pg_spark import plpgsql as P
        from warehouse_pg_spark.sql_dialect import map_decl_type

        masked, lits = P._mask(P._strip_comments(body))
        stmts = [x.strip() for x in masked.split(";") if x.strip()]
        if not stmts:
            return False
        self._define(name.lower(), UserFunction(
            "interpreted", params=[p for p, _t in params], stmts=stmts,
            lits=lits, config=dict(config),
            ret_spark=(None if rettype.lower() == "void"
                       else map_decl_type(rettype))))
        return True

    def _register_plpgsql_proc(self, name: str,
                               params: list[tuple[str, str]],
                               body: str, rettype: str,
                               config: dict[str, str]) -> bool:
        """Accept a plpgsql body containing DML / cursors / dynamic
        EXECUTE / EXCEPTION handlers for the interpreter; returns
        False when the body uses statements the subset cannot
        interpret (caller falls back to the compiler's loud error
        path). Non-void functions interpret only at top-level
        `SELECT f(args)` call sites — embedded uses stay unresolved,
        loudly."""
        from warehouse_pg_spark import plpgsql as P

        masked, lits = P._mask(P._strip_comments(body))
        m = P._HEADER_RE.search(masked)
        if m is None:
            return False
        raw_decl = m.group("decl") or ""
        # bound-cursor declarations (c CURSOR FOR q) feed OPEN c;
        # FOR-over-cursor sites additionally inline below
        cursors: dict[str, str] = {}
        for d in raw_decl.split(";"):
            cm = _CURSOR_DECL_RE.match(d)
            if cm:
                cursors[cm.group(1).lower()] = cm.group(2).strip()
        main, exc = P._split_exception_section(m.group("body"))
        handlers: list[tuple[list[str], list]] = []
        if exc is not None:
            try:
                handlers = [
                    (conds, self._proc_handler_ctx(hs))
                    for conds, hs in P._parse_exception_handlers(exc)
                ]
            except P.PlpgsqlError:
                return False
            for _conds, hs in handlers:
                if not self._stmts_interpretable(hs):
                    return False
        decl, inner = P._inline_cursor_loops(raw_decl, main)
        try:
            stmts = P._parse_stmts(P._split_statements(inner))
        except P.PlpgsqlError:
            return False
        if not self._stmts_interpretable(stmts):
            return False
        declared: list[tuple[str, str | None]] = []
        for d in [x.strip() for x in decl.split(";") if x.strip()]:
            dm = re.match(
                r"^([A-Za-z_]\w*)\s+(?:CONSTANT\s+)?(?:[\w(), %]+?)"
                r"(?:\s*(?::=|=|DEFAULT)\s*(.+))?$",
                d, re.IGNORECASE | re.DOTALL)
            if dm is None:
                return False
            # initializer stays MASKED: variable substitution must run
            # before literals are restored (pl_exec.c binds PARAMs,
            # never rewrites text inside string constants)
            declared.append((dm.group(1).lower(), dm.group(2)))
        from warehouse_pg_spark.sql_dialect import map_decl_type

        self._define(name.lower(), UserFunction(
            "interpreted", params=[p for p, _t in params], lang="plpgsql",
            declared=declared, stmts=stmts, lits=lits, cursors=cursors,
            handlers=handlers, config=dict(config),
            ret_spark=(None if rettype.lower() == "void"
                       else map_decl_type(rettype))))
        return True

    @classmethod
    def _proc_handler_ctx(cls, stmts) -> list:
        """Inside an EXCEPTION handler SQLSTATE/SQLERRM are live
        variables (pl_exec.c exec_stmt_block binds them): convert the
        parse-time raise_undef_col markers back — EXCEPTION-level
        re-raises keep their args, message-channel levels discard."""
        out = []
        for s in stmts:
            if s[0] == "raise_undef_col":
                _k, _ident, level, msg, args = s
                out.append(("raise", msg, args)
                           if level == "EXCEPTION" else ("null",))
            elif s[0] in ("if", "case"):
                out.append((
                    s[0],
                    [(c, cls._proc_handler_ctx(b)) for c, b in s[1]],
                    cls._proc_handler_ctx(s[2]) if s[2] else s[2]))
            elif s[0] == "while":
                out.append((s[0], s[1], cls._proc_handler_ctx(s[2])))
            elif s[0] == "loop":
                out.append((s[0], cls._proc_handler_ctx(s[1])))
            elif s[0] == "for":
                out.append(s[:5] + (cls._proc_handler_ctx(s[5]),))
            elif s[0] == "for_query":
                out.append(s[:3] + (cls._proc_handler_ctx(s[3]),))
            else:
                out.append(s)
        return out

    @staticmethod
    def _stmts_interpretable(stmts) -> bool:
        ok_kinds = {"assign", "dml", "null", "return", "raise",
                    "raise_undef_col", "if", "case", "while", "for",
                    "for_query", "loop", "perform", "execute", "open",
                    "fetch", "close", "get_diag", "exit_when",
                    "continue_when"}

        def walk(ss) -> bool:
            for s in ss:
                if s[0] not in ok_kinds:
                    return False
                if s[0] in ("if", "case"):
                    for _c, b in s[1]:
                        if not walk(b):
                            return False
                    if s[2] and not walk(s[2]):
                        return False
                elif s[0] == "while":
                    if not walk(s[2]):
                        return False
                elif s[0] == "loop":
                    if not walk(s[1]):
                        return False
                elif s[0] == "for":
                    if not walk(s[5]):
                        return False
                elif s[0] == "for_query":
                    if not walk(s[3]):
                        return False
            return True

        return walk(stmts)

    def _maybe_call_void_proc(self, masked: str, lits: list[str]):
        """`SELECT f(args)`, the whole statement, over an interpreted
        function: run it and return its one result row, named after
        the function."""
        m = _SOLE_CALL_RE.match(masked) if self._functions else None
        key = _fn_key(m.group(1)) if m else ""
        rec = self._functions.get(key)
        if rec is None or rec.kind != "interpreted":
            return None
        j = _close_paren(masked, m.end())
        if j < 0 or masked[j:].strip():
            return None
        lit = self._interpreted_literal(rec, [
            _unmask(a, lits).strip() for a in _split_commas(masked[m.end(): j - 1])])
        return None if lit is None else self.spark.sql(f"SELECT {lit} AS {key}")

    def _interpreted_literal(self, rec: UserFunction,
                             args: list[str]) -> str | None:
        """An interpreted call: when every argument is a CONSTANT
        expression the call runs driver-side and its result is a typed
        literal — one run per occurrence, matching PG's per-call
        execution. A call with column references (the interpreter
        cannot run per row) or of another arity gives None and stays,
        loudly."""
        if len(args) != len(rec.params):
            return None
        try:
            vals = [self._proc_eval_raw(a) for a in args]
        except Exception:  # noqa: BLE001 — column refs / non-constant
            return None
        val = self._run_interpreted(rec, vals)
        return f"CAST({_sql_lit(val)} AS {rec.ret_spark or 'STRING'})"

    # ------------------------------------------------------ execution
    def _run_interpreted(self, rec: UserFunction, vals: list):
        """Run an interpreted function over its argument values, its
        SET overlay applied for the call's duration, then restored
        (guc.c proconfig); returns the result value (None for void).
        A sql body runs every statement with the parameters bound as
        literals (substituted on masked text); the last statement's
        first value is the result (functions.c
        postquel_get_single_result)."""
        from warehouse_pg_spark import plpgsql as P

        saved = {k: self._gucs.get(k) for k in rec.config}
        self._gucs.update(rec.config)
        try:
            if rec.lang == "plpgsql":
                return self._run_plpgsql(rec, vals)
            env: dict[str, object] = {
                pn.lower(): v for pn, v in zip(rec.params, vals)}
            last_df = None
            for stmt in rec.stmts:
                last_df = self.sql(
                    P._unmask(self._proc_sub(stmt, env), rec.lits))
            if rec.ret_spark is None or last_df is None:
                return None
            rows = last_df.limit(1).collect()
            return rows[0][0] if rows else None
        finally:
            for k, v in saved.items():
                if v is None:
                    self._gucs.pop(k, None)
                else:
                    self._gucs[k] = v

    def _run_plpgsql(self, rec: UserFunction, args: list):
        """Execute an interpreted plpgsql body; returns the RETURN
        value (None for void / fall-through)."""
        env: dict[str, object] = {}
        for i, v in enumerate(args, start=1):
            env[f"${i}"] = v
            if i <= len(rec.params):
                env[rec.params[i - 1].lower()] = v
        for n, init in rec.declared:
            env[n] = (self._proc_eval_m(init, env, rec.lits)
                      if init else None)
        # exec_stmt_execsql sets FOUND after every SQL statement;
        # it starts false on function entry (pl_exec.c plpgsql_estate)
        env.setdefault("found", False)
        st = {"fuel": _PROC_MAX_STEPS, "row_count": 0,
              "cursors": {}, "bound": rec.cursors, "lits": rec.lits,
              "retval": None}
        if not rec.handlers:
            self._proc_run_seq(rec.stmts, env, st)
            return st["retval"]
        try:
            self._proc_run_seq(rec.stmts, env, st)
        except Exception as e:  # noqa: BLE001 — exec_stmt_block
            hs = self._proc_match_handler(rec.handlers, e)
            if hs is None:
                raise
            # the handler scope binds SQLERRM/SQLSTATE (pl_exec.c)
            msg = re.sub(r"^\[\w+\]\s*", "", str(e).split("\n")[0])
            env["sqlerrm"] = re.sub(r"\s*SQLSTATE:.*$", "", msg)
            env["sqlstate"] = ("P0001" if "USER_RAISED" in str(e)
                               else "XX000")
            st["cursors"].clear()
            self._proc_run_seq(hs, env, st)
        return st["retval"]

    @staticmethod
    def _proc_match_handler(handlers, e):
        txt = str(e)
        for conds, hs in handlers:
            for c in conds:
                if c == "others":
                    return hs
                pat = _COND_PATTERNS.get(c)
                if pat and re.search(pat, txt):
                    return hs
        return None

    def _proc_sub(self, text: str, env: dict) -> str:
        """Substitute $n and variable names with SQL literals."""
        text = re.sub(r"\$(\d+)",
                      lambda m: _sql_lit(env.get(f"${m.group(1)}")),
                      text)
        names = sorted((k for k in env if not k.startswith("$")),
                       key=len, reverse=True)
        for n in names:
            text = re.sub(rf"(?i)\b{re.escape(n)}\b(?!\s*[(.])",
                          _sql_lit(env[n]), text)
        return text

    def _proc_eval_raw(self, expr: str):
        row = self.sql(f"SELECT {expr}").collect()[0]
        return row[0]

    def _proc_eval_m(self, masked_expr: str, env: dict, lits):
        """Evaluate a still-masked expression: substitute variables
        FIRST (mask tokens are \\x00N\\x00, never word chars, so the
        \\b-bounded substitution cannot touch literal text), THEN
        restore string literals. Ordering matters: unmask-first would
        let a literal containing a variable's name be corrupted."""
        from warehouse_pg_spark import plpgsql as P

        return self._proc_eval_raw(
            P._unmask(self._proc_sub(masked_expr, env), lits))

    def _proc_sql(self, masked_stmt: str, env: dict, st) -> None:
        """Run one SQL statement (substitute → unmask → Engine.sql)
        and fold its rows_affected into FOUND / ROW_COUNT, as
        exec_stmt_execsql does after SPI_execute."""
        from warehouse_pg_spark import plpgsql as P

        sql_text = P._unmask(self._proc_sub(masked_stmt, env),
                             st["lits"])
        self._proc_note_dml(self.sql(sql_text), env, st, sql_text)

    def _proc_note_dml(self, out, env: dict, st,
                       sql_text: str | None = None) -> None:
        """exec_stmt_execsql: SPI_processed feeds FOUND / ROW_COUNT.
        The engine's own DML paths return a rows_affected tag; an
        INSERT delegated to the Spark catalog returns nothing, so the
        count is recovered from the statement (VALUES tuple count, or
        one count(*) over the source SELECT — session-DDL path)."""
        if out is not None and out.columns == ["rows_affected"]:
            n = int(out.collect()[0][0])
        elif sql_text is not None:
            n = self._proc_dml_count(sql_text)
            if n is None:
                return
        else:
            return
        st["row_count"] = n
        env["found"] = n > 0

    def _proc_dml_count(self, sql_text: str) -> int | None:
        m = re.match(
            r"(?is)^\s*INSERT\s+INTO\s+[\w.\"]+\s*(?:\([^)]*\))?\s*"
            r"(VALUES\b.*|SELECT\b.*)$", sql_text.strip().rstrip(";"))
        if m is None:
            return None
        rest = m.group(1)
        if re.match(r"(?i)^VALUES\b", rest):
            # top-level commas separate tuples; commas inside a tuple
            # (or inside literals, which tuples parenthesize) sit at
            # depth >= 1
            depth, n, quoted = 0, 1, False
            for ch in rest[6:]:
                if quoted:
                    quoted = ch != "'"
                elif ch == "'":
                    quoted = True
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 0:
                    n += 1
            return n
        try:
            return int(self.sql(
                f"SELECT count(*) AS c FROM ({rest}) __proc_src"
            ).collect()[0][0])
        except Exception:
            return None

    # one portal open (cursor OPEN / query-FOR): evaluate and
    # materialize driver-side, loudly bounded
    def _proc_open_portal(self, masked_q: str, env: dict, st):
        from warehouse_pg_spark import plpgsql as P

        q = masked_q.strip()
        if re.match(r"(?is)^EXECUTE\b", q):
            _k, cmd, _into, using, _strict = P._parse_execute(q)
            sql = self._proc_dyn_sql(cmd, using, env, st)
        else:
            sql = P._unmask(self._proc_sub(q, env), st["lits"])
        rows = self.sql(sql).limit(_PROC_MAX_PORTAL_ROWS + 1).collect()
        if len(rows) > _PROC_MAX_PORTAL_ROWS:
            raise RuntimeError(
                "cursor/FOR portal exceeds "
                f"{_PROC_MAX_PORTAL_ROWS} rows — interpreted "
                "procedures are a session-DDL path, not a data-plane "
                "operator; express the loop as one SQL statement")
        return rows

    def _proc_dyn_sql(self, cmd_masked: str, using: list[str],
                      env: dict, st) -> str:
        """exec_stmt_dynexecute: evaluate the command expression, then
        bind the USING values into its $n placeholders as literals."""
        sql = self._proc_eval_m(cmd_masked, env, st["lits"])
        if sql is None:
            raise RuntimeError("EXECUTE of a NULL command string")
        sql = str(sql)
        if using:
            vals = [self._proc_eval_m(u, env, st["lits"])
                    for u in using]
            sql = re.sub(
                r"\$(\d+)",
                lambda m: _sql_lit(vals[int(m.group(1)) - 1])
                if int(m.group(1)) <= len(vals) else m.group(0),
                sql)
        return sql

    def _proc_bind_row(self, targets: list[str], row, env: dict,
                       as_record: bool = False) -> None:
        """Assign one result row into FETCH/FOR targets: positional
        scalars when arities match, else a sole target binds as a
        record (env keys `name.field`). as_record forces the record
        binding for a sole target even over a one-column row (the
        body dereferences its fields)."""
        if row is None:
            for t in targets:
                env[t] = None
                for k in [k for k in env if k.startswith(t + ".")]:
                    env[k] = None
            return
        cols = list(row.__fields__)
        if len(targets) == 1 and (as_record or len(cols) > 1):
            base = targets[0]
            for c in cols:
                env[f"{base}.{c.lower()}"] = row[c]
            return
        for i, t in enumerate(targets):
            env[t] = row[i]

    def _proc_run_seq(self, stmts, env, st) -> str | None:
        """Returns the control signal that unwound the sequence:
        'return' | 'exit' | 'continue' | None (fell through)."""
        from warehouse_pg_spark import plpgsql as P

        lits = st["lits"]
        for s in stmts:
            st["fuel"] -= 1
            if st["fuel"] <= 0:
                raise RuntimeError(
                    "interpreted procedure exceeded "
                    f"{_PROC_MAX_STEPS} statements (runaway loop?)")
            k = s[0]
            if k == "null":
                continue
            if k == "return":
                if len(s) > 1 and s[1]:
                    st["retval"] = self._proc_eval_m(s[1], env, lits)
                return "return"
            if k == "raise_undef_col":
                raise RuntimeError(
                    f'column "{s[1]}" does not exist')
            if k == "exit_when":
                if self._proc_truthy(s[1], env, st):
                    return "exit"
            elif k == "continue_when":
                if self._proc_truthy(s[1], env, st):
                    return "continue"
            elif k == "assign":
                env[s[1]] = self._proc_eval_m(s[2], env, lits)
            elif k == "perform":
                # evaluate for side effects, discard the value
                self._proc_eval_m(s[1], env, lits)
            elif k == "dml":
                self._proc_sql(s[1], env, st)
            elif k == "execute":
                self._proc_execute(s, env, st)
            elif k == "open":
                self._proc_open(s, env, st)
            elif k == "fetch":
                self._proc_fetch(s, env, st)
            elif k == "close":
                if s[1] not in st["cursors"]:
                    raise RuntimeError(
                        f'cursor "{s[1]}" is not open')
                del st["cursors"][s[1]]
            elif k == "get_diag":
                env[s[1]] = st["row_count"]
            elif k == "raise":
                self._proc_raise(s, env, st)
            elif k in ("if", "case"):
                sig = None
                for cond, branch in s[1]:
                    if self._proc_truthy(cond, env, st):
                        sig = self._proc_run_seq(branch, env, st)
                        break
                else:
                    if s[2]:
                        sig = self._proc_run_seq(s[2], env, st)
                if sig:
                    return sig
            elif k == "while":
                while self._proc_truthy(s[1], env, st):
                    sig = self._proc_loop_tick(s[2], env, st)
                    if sig == "return":
                        return "return"
                    if sig == "exit":
                        break
            elif k == "loop":
                while True:
                    sig = self._proc_loop_tick(s[1], env, st)
                    if sig == "return":
                        return "return"
                    if sig == "exit":
                        break
            elif k == "for":
                _, var, lo, hi, rev, body = s
                lo_v = int(self._proc_eval_m(lo, env, lits))
                hi_v = int(self._proc_eval_m(hi, env, lits))
                rng = (range(lo_v, hi_v - 1, -1) if rev
                       else range(lo_v, hi_v + 1))
                for i in rng:
                    env[var] = i
                    sig = self._proc_loop_tick(body, env, st)
                    if sig == "return":
                        return "return"
                    if sig == "exit":
                        break
            elif k == "for_query":
                _, targets, q, body = s
                targets = [t.replace("\x00rec", "") for t in targets]
                as_rec = len(s[1]) == 1 and s[1][0].endswith("\x00rec")
                rows = self._proc_open_portal(q, env, st)
                env["found"] = bool(rows)
                for row in rows:
                    self._proc_bind_row(targets, row, env,
                                        as_record=as_rec)
                    sig = self._proc_loop_tick(body, env, st)
                    if sig == "return":
                        return "return"
                    if sig == "exit":
                        break
        return None

    def _proc_loop_tick(self, body, env, st) -> str | None:
        st["fuel"] -= 1
        if st["fuel"] <= 0:
            raise RuntimeError(
                "interpreted procedure exceeded "
                f"{_PROC_MAX_STEPS} statements")
        return self._proc_run_seq(body, env, st)

    def _proc_execute(self, s, env, st) -> None:
        _k, cmd, into, using, strict = s
        sql = self._proc_dyn_sql(cmd, using, env, st)
        out = self.sql(sql)
        if into is None:
            self._proc_note_dml(out, env, st, sql)
            return
        rows = out.limit(2 if strict else 1).collect()
        if strict and len(rows) != 1:
            raise RuntimeError(
                "query returned "
                + ("no rows" if not rows else "more than one row")
                + " (EXECUTE ... INTO STRICT)")
        row = rows[0] if rows else None
        env["found"] = row is not None
        st["row_count"] = 1 if row is not None else 0
        self._proc_bind_row(into, row, env)

    def _proc_open(self, s, env, st) -> None:
        _k, name, q = s
        if name in st["cursors"]:
            raise RuntimeError(f'cursor "{name}" already in use')
        if q is None:
            q = st["bound"].get(name)
            if q is None:
                # an unbound refcursor variable may hold the query
                # text assigned at run time; otherwise stay loud
                raise RuntimeError(
                    f'cursor "{name}" has no query (declare it '
                    "CURSOR FOR ... or OPEN ... FOR query)")
        st["cursors"][name] = {
            "rows": self._proc_open_portal(q, env, st), "pos": 0}

    def _proc_fetch(self, s, env, st) -> None:
        _k, name, targets = s
        cur = st["cursors"].get(name)
        if cur is None:
            raise RuntimeError(f'cursor "{name}" is not open')
        if cur["pos"] < len(cur["rows"]):
            row = cur["rows"][cur["pos"]]
            cur["pos"] += 1
        else:
            row = None
        env["found"] = row is not None
        st["row_count"] = 1 if row is not None else 0
        self._proc_bind_row(targets, row, env)

    def _proc_raise(self, s, env, st) -> None:
        from warehouse_pg_spark import plpgsql as P

        msg = self._proc_eval_m(s[1], env, st["lits"])
        msg = "" if msg is None else str(msg)
        args = [self._proc_eval_m(a, env, st["lits"])
                for a in (s[2] if len(s) > 2 and s[2] else [])]
        # PG's % slots; %% is a literal percent (elog.c)
        out, ai = [], 0
        i = 0
        while i < len(msg):
            if msg[i] == "%":
                if i + 1 < len(msg) and msg[i + 1] == "%":
                    out.append("%")
                    i += 2
                    continue
                out.append("<NULL>" if ai >= len(args)
                           or args[ai] is None else str(args[ai]))
                ai += 1
                i += 1
                continue
            out.append(msg[i])
            i += 1
        raise RuntimeError("".join(out))

    def _proc_truthy(self, cond, env, st) -> bool:
        if cond is True or cond is None:
            return bool(cond is True)
        v = self._proc_eval_m(str(cond), env, st["lits"])
        return bool(v)
