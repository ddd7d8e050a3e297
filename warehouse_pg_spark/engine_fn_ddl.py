"""Function-DDL surface split out of engine.py (r15): CREATE
AGGREGATE lowering, polymorphic SQL-function templates, and the
user-type-aware declared-type resolver. Mixed into Engine — the
methods share its session state (_sql_aggregates, _poly_functions,
_scalar_fn_exprs, _user_types)."""

from __future__ import annotations

import re

from warehouse_pg_spark.dialect.mask import _close_paren, _split_commas


class FunctionDDLMixin:
    _CREATE_AGG_RE = re.compile(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:ORDERED\s+)?AGGREGATE"
        r"\s+([\w.]+|\"[^\"]+\")\s*"
        r"\(((?:[^()]|\([^()]*\))*)\)\s*(?:\((.*)\))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_AGG_RE = re.compile(
        r"^\s*DROP\s+AGGREGATE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*"
        r"\([^()]*\)\s*(?:CASCADE|RESTRICT)?\s*;?\s*$",
        re.IGNORECASE,
    )

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
        try:
            if self.spark.catalog.functionExists(name.lower()):
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
        self._poly_functions[name.lower()] = {
            "params": pnames,
            "ptypes": ptypes,
            "body": last,
            "setof": bool(re.match(r"(?is)^\s*SETOF\b|^\s*TABLE\b",
                                   rettype)),
            "variadic_at": variadic_at,
        }
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

    def _substitute_polymorphic_calls(self, text: str) -> str:
        """Expand calls to registered polymorphic templates: the
        argument expressions substitute into the body text (per-call
        view inlining — the concrete anyelement type is whatever the
        argument's type is, which is precisely parse_coerce.c's
        resolution, done by Catalyst instead of a catalog). FROM-
        position calls become inline subqueries; scalar/sole-target
        calls become the body's single expression."""

        if not self._poly_functions:
            return text
        for name, d in self._poly_functions.items():
            pat = re.compile(rf"(?is)\b{re.escape(name)}\s*\(")
            while True:
                m = pat.search(text)
                if m is None:
                    break
                j = _close_paren(text, m.end())
                if j < 0:
                    break
                args = [a.strip() for a in
                        _split_commas(text[m.end(): j - 1])]
                self._check_poly_args(name, d.get("ptypes") or [],
                                      args)
                va = d.get("variadic_at")
                if va is not None and len(args) >= va:
                    # spread arguments pack into the one array param
                    # (funcapi variadic), unless spelled VARIADIC arr
                    tailargs = args[va:]
                    if len(tailargs) == 1 and re.match(
                        r"(?is)^VARIADIC\b", tailargs[0]
                    ):
                        packed = re.sub(r"(?is)^VARIADIC\s+", "",
                                        tailargs[0])
                    else:
                        packed = "array(" + ", ".join(tailargs) + ")"
                    args = args[:va] + [packed]

                def _atomic(a: str) -> bool:
                    # an already-atomic argument substitutes bare so
                    # downstream SRF/array rewrites still pattern-match
                    return bool(re.fullmatch(
                        r"(?is)(?:[\w.$]+|'(?:[^']|'')*'"
                        r"|[\w.]+\s*\((?:[^()]|\([^()]*\))*\)"
                        r"|array\s*\[[^\[\]]*\])"
                        r"(?:\s*::\s*[\w ]+(?:\[\s*\])?)?", a))

                body = d["body"]
                for pn, av in zip(d["params"], args):
                    sub = av if _atomic(av) else f"({av})"
                    body = re.sub(rf"\b{re.escape(pn)}\b",
                                  sub.replace("\\", "\\\\"), body)
                before = text[: m.start()].rstrip()
                in_from = bool(re.search(
                    r"(?is)(?:\bFROM|\bJOIN|\bLATERAL|,)\s*$", before))
                if d["setof"]:
                    sm = re.match(
                        r"(?is)^\s*SELECT\s+(.*?)\s+(FROM\s+.*)$",
                        body,
                    )
                    if (sm and len(_split_commas(sm.group(1))) == 1
                            and not re.search(r"(?is)\bAS\s+\w+\s*$",
                                              sm.group(1))):
                        # PG names the single result column after the
                        # function (funcapi.c)
                        body = (f"SELECT {sm.group(1)} AS {name} "
                                f"{sm.group(2)}")
                    has_alias = bool(re.match(
                        r"(?is)\s+(?:AS\s+)?[A-Za-z_]\w*", text[j:]
                    ) and not re.match(
                        r"(?is)\s+(?:WHERE|GROUP|ORDER|LIMIT|HAVING"
                        r"|UNION|INTERSECT|EXCEPT|JOIN|ON|LEFT|RIGHT"
                        r"|FULL|INNER|CROSS)\b", text[j:]))
                    repl = (
                        f"({body})" if (in_from and has_alias)
                        else f"({body}) AS {name}" if in_from
                        else f"({body})"
                    )
                else:
                    sm = re.match(r"(?is)^\s*SELECT\s+(.+)$", body)
                    inner = sm.group(1).strip() if sm else body
                    repl = (
                        f"({inner})"
                        if sm and not re.search(r"(?i)\bFROM\b", inner)
                        else f"({body})"
                    )
                text = text[: m.start()] + repl + text[j:]
        return text

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

    def _drop_aggregate(self, s: str):
        m = self._DROP_AGG_RE.match(s)
        if m is None:
            return self._spark_stmt(s)
        key = m.group(2).split(".")[-1].lower()
        if self._sql_aggregates.pop(key, None) is None and not m.group(1):
            raise ValueError(f'aggregate "{key}" does not exist')
        return self._tag(0)

    def _create_aggregate(self, s: str):
        """CREATE AGGREGATE (commands/aggregatecmds.c DefineAggregate):
        both the modern `name(argtypes) (options)` and the old GP
        one-paren `name (basetype = X, sfunc = ...)` forms register
        {sfunc, stype, finalfunc, combinefunc, initcond}; call sites
        then lower via _substitute_aggregate_calls. When the DDL
        declares combinefunc/prelimfunc (GP's multi-stage contract,
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
        self._sql_aggregates[name] = {
            "sfunc": sfunc.split(".")[-1],
            "stype": stype,
            "finalfunc": (opts.get("finalfunc") or "").split(".")[-1]
            or None,
            # GP spells the merge step combinefunc (PG 9.6+) or
            # prelimfunc (legacy); either enables the two-stage plan
            "combinefunc": (opts.get("combinefunc")
                            or opts.get("prelimfunc")
                            or "").split(".")[-1] or None,
            "initcond": init,
        }
        return self._tag(0)

    def _agg_fold_expr(self, d: dict, arg: str) -> str | None:
        """The nodeAgg.c transition fold for one aggregate over `arg`:
        finalless aggregate(collect_list(arg), init, sfunc) with the
        retained SQL body inlined (Spark's SQL-UDF inliner can't reach
        inside a HOF lambda under an Aggregate)."""
        sf = self._scalar_fn_exprs.get(d["sfunc"].lower())
        if sf is None or len(sf[0]) != 2:
            return None  # non-SQL sfunc: stay loud
        stype = d["stype"]
        if d["initcond"] is not None:
            esc = d["initcond"].replace("'", "''")
            init = f"'{esc}'::{stype}"
        else:
            init = f"NULL::{stype}"
        step = sf[1]
        for pn, var in zip(sf[0], ("__acc", "__v")):
            step = re.sub(rf"\b{re.escape(pn)}\b", var, step)
        return (f"aggregate(collect_list({arg}), {init}, "
                f"(__acc, __v) -> {step})")

    _SIMPLE_GROUPBY_RE = re.compile(
        r"(?is)^\s*SELECT\s+(?P<list>.*?)\s+FROM\s+"
        r"(?P<src>[\w.\"]+)\s+GROUP\s+BY\s+"
        r"(?P<keys>[\w.\",\s]+?)"
        r"(?P<tail>\s+ORDER\s+BY\b.*|\s+LIMIT\b.*)?\s*;?\s*$"
    )

    def _lower_combinefunc_aggregate(self, text: str) -> str | None:
        """Two-stage lowering for combinefunc aggregates
        (cdb/cdbgroupingpaths.c:258 multi-stage agg): a simple
        `SELECT keys, my_agg(x)[, builtin aggs] FROM t GROUP BY keys`
        restructures to

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
        agg_names = {n: d for n, d in self._sql_aggregates.items()
                     if d.get("combinefunc")}
        if not agg_names:
            return None
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
            if fn in agg_names:
                d = agg_names[fn]
                cf = self._scalar_fn_exprs.get(d["combinefunc"].lower())
                fold = self._agg_fold_expr(d, arg)
                if (cf is None or len(cf[0]) != 2 or fold is None
                        or "," in arg or not arg or arg == "*"):
                    return None
                saw_uda = True
                inner.append(f"{fold} AS __st{n_aux}")
                merge = cf[1]
                for pn, var in zip(cf[0], ("__acc", "__v")):
                    merge = re.sub(rf"\b{re.escape(pn)}\b", var, merge)
                stype = d["stype"]
                if d["initcond"] is not None:
                    esc = d["initcond"].replace("'", "''")
                    init = f"'{esc}'::{stype}"
                else:
                    init = f"NULL::{stype}"
                o = (f"aggregate(collect_list(__st{n_aux}), {init}, "
                     f"(__acc, __v) -> {merge})")
                if d["finalfunc"]:
                    o = f"{d['finalfunc']}({o})"
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

    def _substitute_aggregate_calls(self, text: str) -> str:
        """Lower calls to CREATE AGGREGATE-defined aggregates:
        `my_agg(x)` becomes finalfunc(aggregate(collect_list(x),
        initcond::stype, (acc, v) -> sfunc(acc, v))) — the same
        transition-function fold nodeAgg.c runs, expressed with
        Spark's aggregate() HOF so the state type and the transition
        function (a registered SQL/PL-pgSQL-compiled function) stay
        JVM-resolved. Multi-arg / DISTINCT / ORDER BY call shapes are
        left untouched (loud)."""
        if not self._sql_aggregates:
            return text
        restructured = self._lower_combinefunc_aggregate(text)
        if restructured is not None:
            text = restructured
        for name, d in self._sql_aggregates.items():
            if not re.search(rf"(?i)\b{re.escape(name)}\s*\(", text):
                continue

            def repl(m: re.Match, d=d) -> str:
                arg = m.group(1).strip()
                if (not arg or arg == "*" or "," in arg
                        or re.search(r"(?i)\bdistinct\b|\border\s+by\b",
                                     arg)):
                    return m.group(0)
                stype = d["stype"]
                if d["initcond"] is not None:
                    esc = d["initcond"].replace("'", "''")
                    init = f"'{esc}'::{stype}"
                else:
                    init = f"NULL::{stype}"
                # Spark's SQL-UDF inliner can't reach inside a HOF
                # lambda under an Aggregate — inline the transition
                # function's retained body by hand
                sf = self._scalar_fn_exprs.get(d["sfunc"].lower())
                if sf is None or len(sf[0]) != 2:
                    return m.group(0)  # non-SQL sfunc: stay loud
                step = sf[1]
                for pn, var in zip(sf[0], ("__acc", "__v")):
                    step = re.sub(rf"\b{re.escape(pn)}\b", var, step)
                inner = (
                    f"aggregate(collect_list({arg}), {init}, "
                    f"(__acc, __v) -> {step})"
                )
                if d["finalfunc"]:
                    inner = f"{d['finalfunc']}({inner})"
                return f"({inner})"

            text = re.sub(
                rf"(?i)\b{re.escape(name)}\s*\(([^()]*)\)", repl, text
            )
        return text


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

    def _substitute_shadowed_calls(self, text: str) -> str:
        """Rewrite calls to user functions that shadow Spark builtins
        (same arity only — other arities stay on the builtin, the
        closest single-namespace rendering of PG's overload set)."""
        if not self._shadowed_fns:
            return text

        for name, arity in self._shadowed_fns.items():
            pat = re.compile(rf'(?is)(?<![\w.])"?{re.escape(name)}"?\s*\(')
            pos = 0
            while True:
                m = pat.search(text, pos)
                if m is None:
                    break
                j = _close_paren(text, m.end())
                if j < 0:
                    break
                args = _split_commas(text[m.end(): j - 1])
                if len(args) == arity:
                    text = (text[: m.start()] + f"__pgudf_{name}("
                            + text[m.end(): ])
                pos = m.start() + len(f"__pgudf_{name}")
        return text

    def _maybe_call_void_proc(self, text: str):
        """`SELECT voidfn(args)` over a DML-bodied void function:
        execute the stored statements with the arguments substituted
        (the planner's SQL-function execution, driver-side because the
        body is DML, not an expression)."""
        if not self._void_procs:
            return None

        m = re.match(
            r"(?is)^\s*SELECT\s+([\w.]+)\s*\((.*)\)\s*;?\s*$",
            text.strip())
        if m is None:
            return None
        name = m.group(1).split(".")[-1].lower()
        proc = self._void_procs.get(name)
        if proc is None:
            return None
        args = [a.strip() for a in _split_commas(m.group(2))]
        if proc[0] == "plpgsql":
            if len(args) != len(proc[1]):
                return None
            retval = self._run_plpgsql_proc(proc, args)
            ret_spark = proc[7]
            if ret_spark is None:
                return self.spark.sql(
                    f"SELECT CAST(NULL AS STRING) AS {name}")
            from warehouse_pg_spark.engine_proc import _sql_lit

            return self.spark.sql(
                f"SELECT CAST({_sql_lit(retval)} AS {ret_spark}) "
                f"AS {name}")
        if proc[0] == "sqlbody":
            if len(args) != len(proc[1]):
                return None
            return self._run_sqlbody_proc(name, proc, args)
        pnames, stmts = proc
        if len(args) != len(pnames):
            return None
        for stmt in stmts:
            for pn, av in zip(pnames, args):
                stmt = re.sub(rf"\b{re.escape(pn)}\b", f"({av})", stmt)
            self.sql(stmt)
        return self.spark.sql(
            f"SELECT CAST(NULL AS STRING) AS {name}")
