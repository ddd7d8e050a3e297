"""User functions: the one function table, its call-site pass,
CREATE AGGREGATE lowering, polymorphic SQL-function templates, and
the user-type-aware declared-type resolver. Mixed into Engine — the
methods share its session state (_functions, _user_types)."""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from warehouse_pg_spark.dialect.mask import (
    _PART,
    _close_paren,
    _mask_into,
    _new_lit,
    _split_commas,
    _unmask,
)


@dataclass
class UserFunction:
    """One user function: the record CREATE writes, DROP removes and
    every call site reads, as PG keeps one pg_proc row per function.
    `kind` says how a call expands (`_expand_user_calls`):

    scalar       a Spark temporary SQL function `spark_name`, which is
                 `__pgudf_<name>` beside a Spark builtin Spark will not
                 replace (calls of the function's own arity go to it);
                 `expr` keeps the compiled body for aggregate folds
    setof        a Spark SQL table function `spark_name` returning
                 `columns`
    template     a polymorphic `body` inlined at each call; `ptypes` are
                 the declared parameter types, `setof` a set result
    aggregate    a transition fold of `sfunc` over `stype` from
                 `initcond`, then `finalfunc`; `combinefunc` merges
                 partial states
    interpreted  masked `stmts` (over `lits`) run driver-side at a call
                 with constant arguments: every statement of a `sql`
                 body, or a `plpgsql` program with its `declared`
                 variables, bound `cursors` and EXCEPTION `handlers`;
                 `config` is the call's SET overlay and `ret_spark` the
                 result type (None for void)
    trigger      a trigger function: listed and dropped, never called
                 (the engine runs no triggers)

    `params` are the parameter names, `variadic_at` the index of the
    VARIADIC array parameter, whose spread arguments a call packs."""

    kind: str
    params: list[str] = field(default_factory=list)
    variadic_at: int | None = None
    spark_name: str | None = None
    expr: str = ""
    columns: list[str] = field(default_factory=list)
    body: str = ""
    ptypes: list[str] = field(default_factory=list)
    setof: bool = False
    sfunc: str = ""
    stype: str = ""
    finalfunc: str | None = None
    combinefunc: str | None = None
    initcond: str | None = None
    lang: str = "sql"
    stmts: list = field(default_factory=list)
    lits: list[str] = field(default_factory=list)
    ret_spark: str | None = None
    config: dict[str, str] = field(default_factory=dict)
    declared: list = field(default_factory=list)
    cursors: dict[str, str] = field(default_factory=dict)
    handlers: list = field(default_factory=list)


def _fn_key(raw: str) -> str:
    """A function name's table key: its last part, unquoted and folded
    (Spark resolves function names case-insensitively)."""
    part = re.findall(_PART, raw)[-1]
    if part[0] in '"`':
        part = part[1:-1].replace(part[0] * 2, part[0])
    return part.lower()


# a function name at a call: a bare or "…" part, `public.`-qualified
# or not (another schema's function is never a user function)
_FN_NAME = r'(?:(?:public|"public")\s*\.\s*)?(\w+|"(?:[^"]|"")+")'
_CALL_SITE_RE = re.compile(rf'(?<![\w.$"`]){_FN_NAME}\s*\(', re.IGNORECASE)
# a template argument that substitutes without parentheses, so later
# array/SRF rewrites still match it: a name, masked literal, call,
# ARRAY[...] or template hole, optionally cast
_ATOMIC_ARG_RE = re.compile(
    r"(?is)(?:[\w.$]+|\x01\d+\x01|\x02\d+\x02"
    r"|[\w.]+\s*\((?:[^()]|\([^()]*\))*\)|array\s*\[[^\[\]]*\])"
    r"(?:\s*::\s*[\w ]+(?:\[\s*\])?)?")
_HOLE_RE = re.compile("\x02(\\d+)\x02")
# templates inlined inside templates deeper than this raise (PG's
# stack-depth limit for a function that calls itself)
_MAX_INLINE_DEPTH = 32
# statement objects whose bodies store calls: an interpreted call
# inside one is never run, so no result freezes into a stored body
_STORED_BODY_OBJECTS = ("FUNCTION", "PROCEDURE", "AGGREGATE", "TRIGGER")


def _pack_variadic(args: list[str], at: int | None) -> list[str]:
    """A VARIADIC call's arguments (funcapi variadic spread): those from
    `at` on pack into one array, and `VARIADIC arr` passes its array as
    is. Spark SQL functions are fixed-arity, so this runs before Spark
    parses the call."""
    if at is None or len(args) <= at:
        return args
    vm = re.match(r"(?is)^VARIADIC\s+(.*)$", args[-1])
    if vm:
        return args[:-1] + [vm.group(1)]
    return args[:at] + ["array(" + ", ".join(args[at:]) + ")"]


class FunctionDDLMixin:
    _CREATE_AGG_RE = re.compile(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:ORDERED\s+)?AGGREGATE"
        r"\s+([\w.]+|\"[^\"]+\")\s*"
        r"\(((?:[^()]|\([^()]*\))*)\)\s*(?:\((.*)\))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _define(self, key: str, rec: UserFunction) -> None:
        """Write `key`'s one record. A Spark function that an earlier
        record of the name registered, and this one does not reuse,
        is dropped."""
        old = self._functions.get(key)
        if old is not None and old.spark_name not in (None, rec.spark_name):
            self.spark.sql(
                f"DROP TEMPORARY FUNCTION IF EXISTS {old.spark_name}")
        self._functions[key] = rec

    # ------------------------------------------------ the call-site pass
    def _expand_user_calls(self, kind: str, masked: str,
                           lits: list[str]) -> str:
        """The one call-site pass over a statement's masked text, so a
        name inside a literal or comment never fires (parse_func.c
        resolves each call through pg_proc): every call of a user
        function expands by its record's kind, inner calls first."""
        if not self._functions:
            return masked
        if any(r.combinefunc for r in self._functions.values()):
            masked = self._lower_combinefunc_aggregate(masked, lits) or masked
        interpret = kind.rpartition(" ")[2] not in _STORED_BODY_OBJECTS
        return self._expand_calls(masked, lits, interpret, 0)

    def _expand_calls(self, text: str, lits: list[str], interpret: bool,
                      depth: int) -> str:
        out, pos = [], 0
        for m in _CALL_SITE_RE.finditer(text):
            key = _fn_key(m.group(1))
            if m.start() < pos or key not in self._functions:
                continue
            j = _close_paren(text, m.end())
            if j < 0:
                break
            parts = [self._expand_calls(p, lits, interpret, depth)
                     for p in _split_commas(text[m.end(): j - 1])]
            out += [text[pos: m.start()],
                    self._expand_call(key, text, m, j, parts, lits,
                                      interpret, depth)]
            pos = j
        return "".join(out) + text[pos:]

    def _expand_call(self, key: str, text: str, m: re.Match, j: int,
                     parts: list[str], lits: list[str], interpret: bool,
                     depth: int) -> str:
        """One call `text[m.start():j]` with its arguments already
        expanded: an interpreted call with constant arguments becomes
        its result, an aggregate its transition fold, a template its
        inlined body; a shadowing function takes the calls of its own
        arity; VARIADIC arguments pack. Anything else stays as written
        (Spark resolves it, or raises)."""
        rec = self._functions[key]
        args = [p.strip() for p in parts]
        if rec.kind == "interpreted" and interpret:
            lit = self._interpreted_literal(
                rec, [_unmask(a, lits) for a in args])
            if lit is not None:
                return _mask_into(lit, lits)
        elif rec.kind == "aggregate":
            call = self._aggregate_call(rec, args, lits)
            if call is not None:
                return call
        elif rec.kind == "template":
            return self._inline_template(key, rec, args, text, m.start(), j,
                                         lits, interpret, depth)
        elif rec.spark_name not in (None, key):
            if len(args) == len(rec.params):
                packed = _pack_variadic(args, rec.variadic_at)
                return f"{rec.spark_name}({', '.join(packed)})"
        elif rec.variadic_at is not None:
            packed = _pack_variadic(args, rec.variadic_at)
            return f"{m.group(0)}{', '.join(packed)})"
        return f"{m.group(0)}{','.join(parts)})"

    # ------------------------------------------------------- templates
    def _register_polymorphic(self, name, rawargs, rettype, tail):
        """Polymorphic SQL functions (parse_coerce.c
        check_generic_type_consistency: anyarray/anyelement &c): the
        concrete types exist only at the CALL, so the function
        registers as a TEMPLATE — the body text with named holes —
        and call sites expand by substitution, exactly the view
        inlining the planner does for SQL functions. LANGUAGE sql
        only; anything else stays loud."""

        lang_m = re.search(r"\bLANGUAGE\s+'?(\w+)'?", tail, re.IGNORECASE)
        if (lang_m.group(1) if lang_m else "sql").lower() != "sql":
            raise NotImplementedError(
                "polymorphic parameters are supported for "
                "LANGUAGE sql bodies")
        body_m = re.search(
            r"\$([A-Za-z_]\w*|)\$(.*)\$\1\$", tail, re.DOTALL
        ) or re.search(
            r"\bAS\s+('(?:[^']|'')*')", tail,
            re.IGNORECASE | re.DOTALL,
        )
        if body_m is None:
            rb = re.search(r"\bRETURN\b(.*)$", tail,
                           re.IGNORECASE | re.DOTALL)
            if rb is None:
                raise ValueError("CREATE FUNCTION: no body")
            body = f"SELECT {rb.group(1).strip()}"
        else:
            body = body_m.group(2 if body_m.re.groups == 2 else 1)
            if body.startswith("'"):
                body = body[1:-1].replace("''", "'")
        key = name.lower()
        old = self._functions.get(key)
        try:
            if (self.spark.catalog.functionExists(key)
                    and (old is None or old.spark_name != key)):
                # a template would SHADOW a builtin for every call
                # (PG overloads by signature; the single-name
                # registry cannot) — the regress concat(text,
                # VARIADIC any) overload stays loud instead
                raise NotImplementedError(
                    f"polymorphic overload of built-in {name!r} is "
                    "not supported")
        except NotImplementedError:
            raise
        except Exception:
            pass
        pnames: list[str] = []
        ptypes: list[str] = []
        variadic_at: int | None = None
        for i, a in enumerate(_split_commas(rawargs)):
            toks = a.strip().split()
            if toks and toks[0].upper() == "VARIADIC":
                variadic_at = i
                toks = toks[1:]
            elif toks and toks[0].upper() == "IN":
                toks = toks[1:]
            pnames.append(
                toks[0] if len(toks) >= 2 else f"__poly{i + 1}"
            )
            ptypes.append(
                (toks[-1] if len(toks) >= 2 else toks[0]).lower()
                if toks else "")
        body = re.sub(
            r"\$(\d+)\b",
            lambda m2: pnames[int(m2.group(1)) - 1]
            if 1 <= int(m2.group(1)) <= len(pnames) else m2.group(0),
            body,
        )
        last = [x for x in body.split(";") if x.strip()][-1].strip()
        self._define(key, UserFunction(
            "template", params=pnames, ptypes=ptypes, body=last,
            setof=bool(re.match(r"(?is)^\s*SETOF\b|^\s*TABLE\b", rettype)),
            variadic_at=variadic_at))
        return self._tag(0)

    _RANGE_SUBTYPES = {
        "numrange": "numeric", "int4range": "integer",
        "int8range": "bigint", "daterange": "date",
        "tsrange": "timestamp", "tstzrange": "timestamptz",
    }

    @classmethod
    def _check_poly_args(cls, name: str, ptypes: list[str],
                         args: list[str]) -> None:
        """parse_coerce.c check_generic_type_consistency, statically:
        (1) a polymorphic parameter fed only unknown-typed string
        literals cannot resolve; (2) an anyarray element type must
        agree with an anyrange subtype. Only the literal shapes the
        regress corpus exercises are inferred — anything else passes
        through to Catalyst's own resolution."""
        import re as _re

        poly = [i for i, t in enumerate(ptypes)
                if t.startswith("any") and i < len(args)]
        if poly and all(
            _re.fullmatch(r"'(?:[^']|'')*'", args[i].strip())
            for i in poly
        ):
            raise ValueError(
                "could not determine polymorphic type because input "
                "has type unknown")

        def elem_of(a: str) -> str | None:
            m = _re.match(r"(?is)^ARRAY\s*\[(.*)\]$", a.strip())
            if m is None:
                return None
            items = [x.strip() for x in _split_commas(m.group(1))]
            if items and all(_re.fullmatch(r"-?\d+", x)
                             for x in items):
                return "integer"
            if items and all(_re.fullmatch(r"-?\d+(\.\d+)?", x)
                             for x in items):
                return "numeric"
            return None

        def subtype_of(a: str) -> str | None:
            m = _re.match(r"(?is)^([\w.]+)\s*\(", a.strip())
            if m is None:
                return None
            return cls._RANGE_SUBTYPES.get(
                m.group(1).split(".")[-1].lower())

        arr = rng = None
        for i in poly:
            if ptypes[i] == "anyarray" and arr is None:
                arr = elem_of(args[i])
            elif ptypes[i] == "anyrange" and rng is None:
                rng = subtype_of(args[i])
        if arr is not None and rng is not None and arr != rng:
            raise ValueError(
                f"function {name}({arr}[], {rng} range) does not "
                "exist — argument declared anyarray is not consistent "
                "with argument declared anyrange")

    def _inline_template(self, key: str, rec: UserFunction,
                         args: list[str], text: str, start: int, end: int,
                         lits: list[str], interpret: bool,
                         depth: int) -> str:
        """A template call `text[start:end]` inlined: the argument
        expressions substitute into the body (per-call view inlining —
        the concrete anyelement type is whatever the argument's type
        is, which is precisely parse_coerce.c's resolution, done by
        Catalyst instead of a catalog). The body is re-scanned with the
        arguments behind holes, so a user function it calls expands
        and an argument never expands twice. FROM-position calls become
        inline subqueries; scalar/sole-target calls become the body's
        single expression."""
        if depth >= _MAX_INLINE_DEPTH:
            raise ValueError(
                f"function {key}: templates nest more than "
                f"{_MAX_INLINE_DEPTH} deep")
        self._check_poly_args(key, rec.ptypes,
                              [_unmask(a, lits) for a in args])
        args = _pack_variadic(args, rec.variadic_at)
        subs = [a if _ATOMIC_ARG_RE.fullmatch(a) else f"({a})" for a in args]
        body = _mask_into(rec.body, lits)
        for i, pn in enumerate(rec.params[: len(subs)]):
            body = re.sub(rf"\b{re.escape(pn)}\b", f"\x02{i}\x02", body)
        body = self._expand_calls(body, lits, interpret, depth + 1)
        body = _HOLE_RE.sub(lambda h: subs[int(h.group(1))], body)
        if not rec.setof:
            sm = re.match(r"(?is)^\s*SELECT\s+(.+)$", body)
            inner = sm.group(1).strip() if sm else body
            if sm and not re.search(r"(?i)\bFROM\b", inner):
                return f"({inner})"
            return f"({body})"
        sm = re.match(r"(?is)^\s*SELECT\s+(.*?)\s+(FROM\s+.*)$", body)
        if (sm and len(_split_commas(sm.group(1))) == 1
                and not re.search(r"(?is)\bAS\s+\w+\s*$", sm.group(1))):
            # PG names the single result column after the function
            # (funcapi.c)
            body = f"SELECT {sm.group(1)} AS {key} {sm.group(2)}"
        in_from = bool(re.search(r"(?is)(?:\bFROM|\bJOIN|\bLATERAL|,)\s*$",
                                 text[:start].rstrip()))
        has_alias = bool(re.match(
            r"(?is)\s+(?:AS\s+)?[A-Za-z_]\w*", text[end:]
        ) and not re.match(
            r"(?is)\s+(?:WHERE|GROUP|ORDER|LIMIT|HAVING"
            r"|UNION|INTERSECT|EXCEPT|JOIN|ON|LEFT|RIGHT"
            r"|FULL|INNER|CROSS)\b", text[end:]))
        return f"({body}) AS {key}" if in_from and not has_alias else f"({body})"

    def _decl_type(self, t: str) -> str:
        """map_decl_type with the session's user types resolved first
        (parse_type.c typenameType over the per-session registry):
        composites -> STRUCT, domains -> their base, enums -> STRING,
        user ranges -> the bound-family struct; schema prefixes strip
        ($user/public resolve to the same per-session namespace)."""
        from warehouse_pg_spark.sql_dialect import map_decl_type
        from warehouse_pg_spark.user_types import _RANGE_SFX_ELEM

        raw = t.strip()
        arr = raw.endswith("[]")
        if arr:
            raw = raw[:-2].strip()
        key = raw.split("(")[0].strip().split(".")[-1].lower()
        ut = self._user_types
        if key in ut.composites:
            fields = ", ".join(
                f"{n}: {self._decl_type(ft)}"
                for n, ft in ut.composites[key].fields
            )
            base = f"STRUCT<{fields}>"
        elif key in ut.domains:
            base = self._decl_type(ut.domains[key].base)
        elif key in ut.enums:
            base = "STRING"
        elif key in ut.ranges:
            el = _RANGE_SFX_ELEM[ut.ranges[key]]
            base = (
                f"STRUCT<lo: {el}, hi: {el}, li: BOOLEAN, "
                "hi_i: BOOLEAN, empty: BOOLEAN>"
            )
        else:
            tcols = self._table_rowtype_cols(key)
            if tcols is not None:
                base = "STRUCT<" + ", ".join(
                    f"{n}: {ty}" for n, ty in tcols) + ">"
            else:
                return map_decl_type(t.strip())
        return f"ARRAY<{base}>" if arr else base

    # ------------------------------------------------------ aggregates
    def _create_aggregate(self, s: str):
        """CREATE AGGREGATE (commands/aggregatecmds.c DefineAggregate):
        both the modern `name(argtypes) (options)` and the old GP
        one-paren `name (basetype = X, sfunc = ...)` forms write an
        aggregate record {sfunc, stype, finalfunc, combinefunc,
        initcond}; call sites lower to its transition fold. When the
        DDL declares combinefunc/prelimfunc (GP's multi-stage contract,
        cdb/cdbgroupingpaths.c:258), simple GROUP BY statements
        restructure into a partial/merge two-stage plan so no task
        ever buffers a whole group; without one the sequential fold
        is the semantic contract (group-size bound documented in
        README deviations). A form without an options list goes to
        Spark, which rejects it."""
        m = self._CREATE_AGG_RE.match(s)
        first, second = (m.group(2) or "", m.group(3)) if m else ("", None)
        opts_src = second if second is not None else first
        if "=" not in opts_src:
            return self._spark_stmt(s)
        name = m.group(1).split(".")[-1].strip('"').lower()
        opts: dict[str, str] = {}
        for item in _split_commas(opts_src):
            km = re.match(r'(?s)^\s*"?(\w+)"?\s*=\s*(.+?)\s*$', item)
            if km:
                k = km.group(1).lower()
                # GP's legacy two-stage spellings (aggregatecmds.c
                # pre-merge grammar): sfunc1/stype1/initcond1 are the
                # first-stage transition options
                if k in ("sfunc1", "stype1", "initcond1",
                         "finalfunc1"):
                    k = k[:-1]
                opts[k] = km.group(2).strip()
        sfunc, stype = opts.get("sfunc"), opts.get("stype")
        if not sfunc or not stype:
            raise ValueError(
                "aggregate sfunc and stype must be specified")
        init = opts.get("initcond")
        if init is not None:
            init = init.strip()
            if init.startswith("'") and init.endswith("'"):
                init = init[1:-1].replace("''", "'")
        self._define(name, UserFunction(
            "aggregate", sfunc=sfunc.split(".")[-1], stype=stype,
            finalfunc=(opts.get("finalfunc") or "").split(".")[-1] or None,
            # GP spells the merge step combinefunc (PG 9.6+) or
            # prelimfunc (legacy); either enables the two-stage plan
            combinefunc=(opts.get("combinefunc") or opts.get("prelimfunc")
                         or "").split(".")[-1] or None,
            initcond=init))
        return self._tag(0)

    def _fold(self, arg: str, rec: UserFunction, step_fn: str | None,
              lits: list[str]) -> str | None:
        """The nodeAgg.c transition fold of the two-argument SQL
        function `step_fn` over `arg`, from the aggregate's initcond:
        aggregate(collect_list(arg), init, (__acc, __v) -> step), with
        the function's retained body inlined (Spark's SQL-function
        inliner cannot reach into a lambda under an Aggregate). None
        for a step function with no retained body: the call stays,
        loudly."""
        fn = self._functions.get((step_fn or "").lower())
        if fn is None or fn.kind != "scalar" or len(fn.params) != 2:
            return None
        step = _mask_into(fn.expr, lits)
        for pn, var in zip(fn.params, ("__acc", "__v")):
            step = re.sub(rf"\b{re.escape(pn)}\b", var, step)
        init = "NULL" if rec.initcond is None else _new_lit(rec.initcond, lits)
        return (f"aggregate(collect_list({arg}), {init}::{rec.stype}, "
                f"(__acc, __v) -> {step})")

    def _aggregate_call(self, rec: UserFunction, args: list[str],
                        lits: list[str]) -> str | None:
        """`my_agg(x)` as finalfunc(fold of sfunc over x) — the
        transition fold nodeAgg.c runs, with Spark's aggregate() HOF,
        so the state type and the transition function stay
        JVM-resolved. Multi-arg / `*` / DISTINCT / ORDER BY call shapes
        stay as written (loud)."""
        if (len(args) != 1 or args[0] == "*"
                or re.search(r"(?i)\bdistinct\b|\border\s+by\b", args[0])):
            return None
        fold = self._fold(args[0], rec, rec.sfunc, lits)
        if fold is None:
            return None
        return f"({rec.finalfunc}({fold}))" if rec.finalfunc else f"({fold})"

    _SIMPLE_GROUPBY_RE = re.compile(
        r"(?is)^\s*SELECT\s+(?P<list>.*?)\s+FROM\s+"
        r"(?P<src>[\w.\"]+)\s+GROUP\s+BY\s+"
        r"(?P<keys>[\w.\",\s]+?)"
        r"(?P<tail>\s+ORDER\s+BY\b.*|\s+LIMIT\b.*)?\s*;?\s*$"
    )

    def _lower_combinefunc_aggregate(self, text: str,
                                     lits: list[str]) -> str | None:
        """Two-stage lowering for combinefunc aggregates
        (cdb/cdbgroupingpaths.c:258 multi-stage agg): a simple
        `SELECT keys, my_agg(x)[, builtin aggs] FROM t GROUP BY keys`
        (masked text) restructures to

            SELECT keys, final(aggregate(collect_list(__st), init,
                                         combinefunc))
            FROM (SELECT keys, aggregate(collect_list(x), init, sfunc)
                    AS __st
                  FROM t GROUP BY keys, spark_partition_id())
            GROUP BY keys

        so the inner transition fold sees one source partition's rows
        per cell (bounded by partition size, never a whole group) and
        only per-partition STATES reach the merge — a hot key splits
        across partitions instead of one task. Returns None (caller
        falls back to the single fold) for shapes outside the simple
        GROUP BY form."""

        if re.search(r"(?is)\b(having|union|intersect|except|over|"
                     r"window|distinct|join)\b", text):
            return None
        m = self._SIMPLE_GROUPBY_RE.match(text)
        if m is None:
            return None
        keys = [k.strip() for k in m.group("keys").split(",")]
        if not all(re.fullmatch(r'[\w."]+', k) for k in keys):
            return None
        items = _split_commas(m.group("list"))
        inner, outer = [], []
        n_aux = 0
        saw_uda = False
        for item in items:
            item = item.strip()
            am = re.match(r"(?is)^(.*?)(?:\s+AS\s+(\w+))?$", item)
            expr = am.group(1).strip()
            alias = am.group(2)
            if expr in keys or expr.split(".")[-1] in [
                    k.split(".")[-1] for k in keys]:
                inner.append(expr)
                outer.append(item)
                continue
            cm = re.match(r"(?is)^(\w+)\s*\(([^()]*)\)$", expr)
            if cm is None:
                return None
            fn, arg = cm.group(1).lower(), cm.group(2).strip()
            out_alias = f" AS {alias}" if alias else f" AS {fn}"
            rec = self._functions.get(fn)
            if rec is not None and rec.combinefunc:
                if "," in arg or not arg or arg == "*":
                    return None
                fold = self._fold(arg, rec, rec.sfunc, lits)
                o = self._fold(f"__st{n_aux}", rec, rec.combinefunc, lits)
                if fold is None or o is None:
                    return None
                saw_uda = True
                inner.append(f"{fold} AS __st{n_aux}")
                if rec.finalfunc:
                    o = f"{rec.finalfunc}({o})"
                outer.append(f"{o}{out_alias}")
            elif fn == "count":
                inner.append(f"count({arg or '*'}) AS __c{n_aux}")
                outer.append(
                    f"CAST(sum(__c{n_aux}) AS BIGINT){out_alias}")
            elif fn in ("sum", "min", "max"):
                inner.append(f"{fn}({arg}) AS __c{n_aux}")
                outer.append(f"{fn}(__c{n_aux}){out_alias}")
            else:
                return None
            n_aux += 1
        if not saw_uda:
            return None
        tail = m.group("tail") or ""
        return (
            f"SELECT {', '.join(outer)} FROM "
            f"(SELECT {', '.join(inner)} FROM {m.group('src')} "
            f"GROUP BY {', '.join(keys)}, spark_partition_id()) "
            f"__partial GROUP BY {', '.join(keys)}{tail}"
        )

    def _table_rowtype_cols(self, typename: str):
        """A table name used as a type is its rowtype
        (parse_type.c typenameType over a relation): resolve to the
        table's (name, spark-type) columns, or None if no such table."""
        key = typename.strip().strip('"').split(".")[-1]
        try:
            if not self.spark.catalog.tableExists(key):
                return None
            return [(f.name, f.dataType.simpleString().upper())
                    for f in self.spark.table(key).schema.fields]
        except Exception:
            return None
