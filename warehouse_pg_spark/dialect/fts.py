"""Full-text search lowering: tsvector/tsquery casts, the FTS function
family, and the @@ / <-> / && / || / !! operator forms.

Runs on MASKED sql (literals are \\x01N\\x01 tokens) BEFORE the jsonpath
@@ pass, so FTS-typed @@ is claimed here and jsonb @@ jsonpath falls
through untouched. All lowerings target pg_* shims registered in
functions/pg.py (Arrow-batched wrappers over functions/fts.py).

Reference surface: tsvector.c/tsquery.c (IO), tsvector_op.c (operators),
tsrank.c (ranks), to_tsany.c (document/query pipelines), wparser_def.c
(default parser). Static typing follows parse_oper.c's operator
resolution outcomes for the literal/cast/function shapes that appear in
the regress corpus: an expression is tsvector- or tsquery-typed when it
is a cast, a type-function spelling, or a call returning that type.
"""

from __future__ import annotations

import re

from warehouse_pg_spark.dialect.mask import (
    _LIT,
    _close_paren,
    _nested_parens,
    _split_commas,
)

# default_text_search_config; engine SET updates this module state
CURRENT_CONFIG = "english"


def set_default_config(cfg: str) -> None:
    global CURRENT_CONFIG
    c = cfg.strip().strip("'\"").lower()
    if "." in c:
        c = c.split(".")[-1]
    if c not in ("english", "simple"):
        raise ValueError(
            f'invalid value for parameter "default_text_search_config": '
            f'"{cfg}"')
    CURRENT_CONFIG = c


_P = _nested_parens(6)

_TSV_FNS = (
    "pg_tsvector_in|pg_to_tsvector_json|pg_to_tsvector|pg_setweight"
    "|pg_tsvector_strip|pg_ts_delete|pg_ts_filter|pg_array_to_tsvector"
    "|pg_tsvector_concat"
)
_TSQ_FNS = (
    "pg_tsquery_in|pg_to_tsquery|pg_plainto_tsquery|pg_phraseto_tsquery"
    "|pg_websearch_to_tsquery|pg_tsquery_phrase|pg_tsquery_and"
    "|pg_tsquery_or|pg_tsquery_not|pg_ts_rewrite"
)
_TSV_EXPR = rf"(?:{_TSV_FNS})\s*{_P}"
_TSQ_EXPR = rf"(?:{_TSQ_FNS})\s*{_P}"


def _map_calls(out: str, name: str, fn) -> str:
    """Replace every call of `name` (case-insensitive, word-bounded) via
    fn(args_list) -> replacement text; None declines (call left as-is)."""
    pat = re.compile(rf"(?i)(?<![\w.\x02])({name})\s*\(")
    while True:
        m = pat.search(out)
        if not m:
            return out
        i = _close_paren(out, m.end())
        if i < 0:
            return out  # unbalanced: leave loud for Spark
        inner = out[m.end():i - 1]
        args = [a.strip() for a in _split_commas(inner)]
        rep = fn(args, m.group(1))
        if rep is None:
            # not claimable: sentinel stops this loop rescanning it
            # (stripped at the end of rewrite_fts)
            rep = "\x02" + out[m.start():i]
        out = out[: m.start()] + rep + out[i:]


def _cfg_lit() -> str:
    return f"'{CURRENT_CONFIG}'"


def _pg_text_array(arg: str, lits: list[str] | None) -> str:
    """Lower a PG '{a,b}' text-array literal (optionally ::text[]/
    ::"char"[] cast) to an array(...) expression; other shapes pass
    through for the generic ARRAY[...] rewrites."""
    m = re.match(
        rf"(?i)^({_LIT})(?:\s*::\s*(?:text|varchar|\"char\"|`char`|char)"
        r"\s*(?:\(\s*\d+\s*\))?\s*\[\s*\])?$", arg.strip())
    if not m or lits is None:
        return arg
    raw = lits[int(re.match(r"\x01(\d+)\x01", m.group(1)).group(1))][1:-1]
    raw = raw.replace("''", "'").strip()
    if not (raw.startswith("{") and raw.endswith("}")):
        return arg
    body = raw[1:-1].strip()
    if not body:
        return "array()"
    parts = []
    for p in re.findall(r'"((?:[^"\\]|\\.)*)"|([^,]+)', body):
        val = p[0] if p[0] else p[1].strip()
        if val.upper() == "NULL" and not p[0]:
            parts.append("NULL")
        else:
            parts.append("'" + val.replace("\\", "").replace("'", "''")
                         + "'")
    return "array(" + ", ".join(parts) + ")"


def _is_json_arg(a: str) -> bool:
    return bool(re.search(r"(?i)::\s*jsonb?\b\s*$", a)) or bool(
        re.match(rf"(?i)^jsonb?\s+{_LIT}$", a.strip()))


def _strip_json_cast(a: str) -> str:
    a = re.sub(r"(?i)\s*::\s*jsonb?\b\s*$", "", a)
    return re.sub(rf"(?i)^jsonb?\s+({_LIT})$", r"\1", a.strip())


def rewrite_fts(out: str, lits: list[str] | None = None) -> str:
    """Lower the FTS surface; masked-literal tokens pass through."""
    if not re.search(
        r"(?i)tsvector|tsquery|ts_rank|ts_headline|ts_lexize|ts_rewrite"
        r"|ts_delete|ts_filter|setweight|websearch|get_current_ts_config"
        r"|ts_stat|tsq_mcontains|ts_parse|ts_token_type|@@", out
    ):
        return out

    # regconfig casts are inert (the config travels as its name)
    out = re.sub(r"(?i)::\s*regconfig\b", "", out)

    # cast spellings --------------------------------------------------
    # E'...' escape-string spellings keep their masked literal; the E
    # prefix drops here (the general E-pass runs later than this one)
    out = re.sub(
        rf"(?i)(?:(?<![\w.])E)?({_LIT})\s*::\s*tsvector\b",
        r"pg_tsvector_in(\1)", out)
    out = re.sub(
        rf"(?i)(?<![\w.])([\w.]+)\s*::\s*tsvector\b",
        r"pg_tsvector_in(\1)", out)
    out = re.sub(
        rf"(?i)(?:(?<![\w.])E)?({_LIT})\s*::\s*tsquery\b",
        r"pg_tsquery_in(\1)", out)
    out = re.sub(
        rf"(?i)(?<![\w.])([\w.]+)\s*::\s*tsquery\b",
        r"pg_tsquery_in(\1)", out)
    out = re.sub(
        rf"(?i)(?<![\w.])tsvector\s+({_LIT})", r"pg_tsvector_in(\1)", out)
    out = re.sub(
        rf"(?i)(?<![\w.])tsquery\s+({_LIT})", r"pg_tsquery_in(\1)", out)
    out = re.sub(
        rf"(?i)\bCAST\s*\(\s*({_LIT}|[\w.]+)\s+AS\s+tsvector\s*\)",
        r"pg_tsvector_in(\1)", out)
    out = re.sub(
        rf"(?i)\bCAST\s*\(\s*({_LIT}|[\w.]+)\s+AS\s+tsquery\s*\)",
        r"pg_tsquery_in(\1)", out)
    # function-style casts over one literal
    out = re.sub(
        rf"(?i)(?<![\w.])tsvector\s*\(\s*({_LIT})\s*\)",
        r"pg_tsvector_in(\1)", out)
    out = re.sub(
        rf"(?i)(?<![\w.])tsquery\s*\(\s*({_LIT})\s*\)",
        r"pg_tsquery_in(\1)", out)

    out = re.sub(
        r"(?i)\bget_current_ts_config\s*\(\s*\)", _cfg_lit(), out)

    # ts_parse / ts_token_type SRFs (wparser_def.c): FROM-position
    # calls become an inline-exploded subquery / a VALUES list
    out = re.sub(
        rf"(?i)\b(FROM|JOIN)\s+ts_parse\s*\(\s*(?:{_LIT}|[\w.]+)"
        rf"\s*,\s*({_LIT}|[\w.]+)\s*\)",
        r"\1 (SELECT inline(pg_ts_parse(\2)))",
        out)
    if re.search(r"(?i)\bts_token_type\s*\(", out):
        from warehouse_pg_spark.functions.fts import (
            TOKEN_DESCRIPTIONS,
            TOKEN_TYPE_NAMES,
        )

        rows = ", ".join(
            f"({t}, '{TOKEN_TYPE_NAMES[t]}', '{TOKEN_DESCRIPTIONS[t]}')"
            for t in sorted(TOKEN_DESCRIPTIONS))
        out = re.sub(
            rf"(?i)\b(FROM|JOIN)\s+ts_token_type\s*\(\s*"
            rf"(?:{_LIT}|[\w.]+)\s*\)",
            rf"\1 (VALUES {rows}) AS __tt(tokid, alias, description)",
            out)

    # function family ---------------------------------------------------
    def lower_to_tsvector(args, _name):
        if len(args) == 1:
            if _is_json_arg(args[0]):
                return (f"pg_to_tsvector_json({_cfg_lit()}, "
                        f"{_strip_json_cast(args[0])}, NULL)")
            return f"pg_to_tsvector({_cfg_lit()}, {args[0]})"
        if len(args) == 2:
            if _is_json_arg(args[1]):
                return (f"pg_to_tsvector_json({args[0]}, "
                        f"{_strip_json_cast(args[1])}, NULL)")
            return f"pg_to_tsvector({args[0]}, {args[1]})"
        return None

    out = _map_calls(out, "to_tsvector", lower_to_tsvector)

    def lower_json_to_tsvector(args, _name):
        if len(args) == 2:
            return (f"pg_to_tsvector_json({_cfg_lit()}, "
                    f"{_strip_json_cast(args[0])}, {args[1]})")
        if len(args) == 3:
            return (f"pg_to_tsvector_json({args[0]}, "
                    f"{_strip_json_cast(args[1])}, {args[2]})")
        return None

    out = _map_calls(out, "jsonb?_to_tsvector", lower_json_to_tsvector)

    def lower_1or2_query(shim):
        def fn(args, _name):
            if len(args) == 1:
                return f"{shim}({_cfg_lit()}, {args[0]})"
            if len(args) == 2:
                return f"{shim}({args[0]}, {args[1]})"
            return None
        return fn

    out = _map_calls(out, "to_tsquery", lower_1or2_query("pg_to_tsquery"))
    out = _map_calls(out, "plainto_tsquery",
                     lower_1or2_query("pg_plainto_tsquery"))
    out = _map_calls(out, "phraseto_tsquery",
                     lower_1or2_query("pg_phraseto_tsquery"))
    out = _map_calls(out, "websearch_to_tsquery",
                     lower_1or2_query("pg_websearch_to_tsquery"))

    def lower_setweight(args, _name):
        if len(args) == 2:
            return f"pg_setweight({args[0]}, {args[1]}, NULL)"
        if len(args) == 3:
            return (f"pg_setweight({args[0]}, {args[1]}, "
                    f"{_pg_text_array(args[2], lits)})")
        return None

    out = _map_calls(out, "setweight", lower_setweight)

    def _looks_weights(a: str) -> bool:
        return bool(re.match(
            rf"(?i)^(?:array\s*\[|array\s*\(|{_LIT}\s*::|\{{)", a))

    def lower_rank(shim):
        def fn(args, _name):
            if len(args) == 2:
                w, v, q, m = "NULL", args[0], args[1], "NULL"
            elif len(args) == 3 and _looks_weights(args[0]):
                w, v, q, m = args[0], args[1], args[2], "NULL"
            elif len(args) == 3:
                w, v, q, m = "NULL", args[0], args[1], args[2]
            elif len(args) == 4:
                w, v, q, m = args
            else:
                return None
            if w != "NULL":
                # '{0.1,0.2,0.4,1.0}'::float4[] text form -> array expr
                lm = re.match(
                    rf"(?i)^({_LIT})\s*::\s*(?:float[48]?|real|numeric)"
                    r"\s*\[\s*\]$", w)
                if lm and lits is not None:
                    idx = int(re.match(r"\x01(\d+)\x01", lm.group(1))
                              .group(1))
                    vals = lits[idx][1:-1].strip().strip("{}")
                    w = "array(" + ", ".join(
                        ("NULL" if p.strip().upper() == "NULL"
                         else str(float(p)))
                        for p in vals.split(",")) + ")"
                w = f"CAST({w} AS ARRAY<DOUBLE>)"
            else:
                w = "CAST(NULL AS ARRAY<DOUBLE>)"
            return f"{shim}({w}, {v}, {q}, CAST({m} AS INT))"
        return fn

    out = _map_calls(out, "ts_rank_cd", lower_rank("pg_ts_rank_cd"))
    out = _map_calls(out, "ts_rank", lower_rank("pg_ts_rank"))

    def lower_ts_delete(args, _name):
        if len(args) != 2:
            return None
        arr = _pg_text_array(args[1], lits)
        if arr == args[1] and not re.match(
                rf"(?i)^(?:array\b|{_LIT}\s*::)", arr):
            arr = f"array({arr})"
        return f"pg_ts_delete({args[0]}, {arr})"

    out = _map_calls(out, "ts_delete", lower_ts_delete)

    def lower_ts_filter(args, _name):
        if len(args) != 2:
            return None
        return (f"pg_ts_filter({args[0]}, "
                f"CAST({_pg_text_array(args[1], lits)} AS ARRAY<STRING>))")

    out = _map_calls(out, "ts_filter", lower_ts_filter)

    out = re.sub(r"(?i)\btsvector_to_array\s*\(", "pg_tsvector_to_array(",
                 out)
    out = re.sub(r"(?i)\barray_to_tsvector\s*\(", "pg_array_to_tsvector(",
                 out)
    out = re.sub(r"(?i)\bts_lexize\s*\(", "pg_ts_lexize(", out)
    out = re.sub(r"(?i)\btsq_mcontains\s*\(", "pg_tsq_mcontains(", out)

    def lower_headline(args, _name):
        cfg, opts = _cfg_lit(), "NULL"
        if len(args) == 2:
            doc, q = args
        elif len(args) == 3:
            # (cfg, doc, q) vs (doc, q, opts): whichever slot holds the
            # (already lowered) tsquery expression decides
            if re.match(rf"(?i)^{_TSQ_EXPR}$", args[2]):
                cfg, doc, q = args
            elif re.match(rf"(?i)^{_TSQ_EXPR}$", args[1]):
                doc, q, opts = args
            else:
                cfg, doc, q = args
        elif len(args) == 4:
            cfg, doc, q, opts = args
        else:
            return None
        if _is_json_arg(doc):
            return (f"pg_ts_headline_json({cfg}, {_strip_json_cast(doc)},"
                    f" {q}, {opts})")
        return f"pg_ts_headline({cfg}, {doc}, {q}, {opts})"

    out = _map_calls(out, "ts_headline", lower_headline)

    def lower_tsquery_phrase(args, _name):
        if len(args) == 2:
            return (f"pg_tsquery_phrase({args[0]}, {args[1]}, 1)")
        if len(args) == 3:
            return (f"pg_tsquery_phrase({args[0]}, {args[1]}, "
                    f"CAST({args[2]} AS INT))")
        return None

    out = _map_calls(out, "tsquery_phrase", lower_tsquery_phrase)

    def lower_ts_rewrite(args, _name):
        if len(args) == 3:
            return f"pg_ts_rewrite({args[0]}, {args[1]}, {args[2]})"
        return None

    out = _map_calls(out, "ts_rewrite", lower_ts_rewrite)

    # type-IO pairs (tsvector.c tsvectorin/tsvectorout, tsquery.c
    # tsqueryin/tsqueryout): the engine's travel form IS the canonical
    # rendered text, so both directions are the normalizing parse
    out = re.sub(r"(?i)\btsvector(?:in|out)\s*\(",
                 "pg_tsvector_in(", out)
    out = re.sub(r"(?i)\btsquery(?:in|out)\s*\(",
                 "pg_tsquery_in(", out)

    # typed wrappers: length/strip/numnode/querytree only when the
    # argument is statically FTS-typed
    out = re.sub(rf"(?i)\blength\s*\(\s*({_TSV_EXPR})\s*\)",
                 r"pg_tsvector_length(\1)", out)
    out = re.sub(rf"(?i)\bstrip\s*\(\s*({_TSV_EXPR})\s*\)",
                 r"pg_tsvector_strip(\1)", out)
    out = re.sub(rf"(?i)\bnumnode\s*\(\s*({_TSQ_EXPR})\s*\)",
                 r"pg_tsquery_numnode(\1)", out)
    out = re.sub(rf"(?i)\bquerytree\s*\(\s*({_TSQ_EXPR})\s*\)",
                 r"pg_querytree(\1)", out)

    # operators ---------------------------------------------------------
    # @@ : resolve like parse_oper.c — tsvector@@tsquery, text@@tsquery,
    # text@@text, tsquery@@tsvector
    _ident = r"[\w.]+"

    def _lit_text(tok: str) -> str | None:
        m2 = re.match(r"^\x01(\d+)\x01$", tok)
        if m2 is None or lits is None:
            return None
        return lits[int(m2.group(1))][1:-1]

    def at_at(m: re.Match) -> str:
        lhs, rhs = m.group(1).strip(), m.group(2).strip()
        l_tsv = re.match(rf"(?i)^{_TSV_EXPR}$", lhs)
        l_tsq = re.match(rf"(?i)^{_TSQ_EXPR}$", lhs)
        r_tsv = re.match(rf"(?i)^{_TSV_EXPR}$", rhs)
        r_tsq = re.match(rf"(?i)^{_TSQ_EXPR}$", rhs)
        if l_tsq and r_tsv:  # reversed form
            return f"pg_ts_match({rhs}, {lhs})"
        # bare identifiers: a column in an @@ is overwhelmingly the
        # tsvector side (regress corpus); a text column would need an
        # explicit to_tsvector() under this static lowering (README)
        l_ident = re.match(rf"^{_ident}$", lhs) and not (l_tsv or l_tsq)
        r_ident = re.match(rf"^{_ident}$", rhs) and not (r_tsv or r_tsq)
        rtext = _lit_text(rhs)
        r_plainlit = rtext is not None and not re.search(r"[$@?]", rtext)
        if l_ident and (r_tsq or r_ident or r_plainlit):
            if not (r_tsq or r_ident):
                rhs = f"pg_tsquery_in({rhs})"
            return f"pg_ts_match({lhs}, {rhs})"
        if r_ident and l_tsv:
            return f"pg_ts_match({lhs}, {rhs})"
        if not (l_tsv or l_tsq or r_tsv or r_tsq):
            # both untyped: PG resolves unknown @@ unknown to
            # text @@ text (FTS) — but a jsonpath-shaped RHS literal
            # belongs to the jsonb @@ pass that runs later
            if not r_plainlit:
                return f"{lhs} @\x02@ {rhs}"
            lhs = f"pg_to_tsvector({_cfg_lit()}, {lhs})"
            rhs = f"pg_plainto_tsquery({_cfg_lit()}, {rhs})"
            return f"pg_ts_match({lhs}, {rhs})"
        if not (l_tsv or l_tsq):
            lhs = f"pg_to_tsvector({_cfg_lit()}, {lhs})"
        if not (r_tsv or r_tsq):
            rhs = f"pg_tsquery_in({rhs})"
        return f"pg_ts_match({lhs}, {rhs})"

    _OPND = rf"(?:{_TSV_EXPR}|{_TSQ_EXPR}|{_LIT}|{_ident})"
    at_at_re = re.compile(rf"({_OPND})\s*@@@?\s*({_OPND})")
    prev = None
    while prev != out:
        prev = out
        out = at_at_re.sub(at_at, out, count=1)

    # tsquery combinators && / || / !! / <-> / @> / comparisons;
    # tsvector || — an unknown literal operand coerces to the typed
    # side's counterpart type (parse_oper.c unknown-coercion)
    _TQ_OPND = rf"(?:{_TSQ_EXPR}|{_LIT})"
    _TV_OPND = rf"(?:{_TSV_EXPR}|{_LIT})"

    def _tq(x: str) -> str:
        return (x if re.match(rf"(?i)^{_TSQ_EXPR}$", x)
                else f"pg_tsquery_in({x})")

    def _tv(x: str) -> str:
        return (x if re.match(rf"(?i)^{_TSV_EXPR}$", x)
                else f"pg_tsvector_in({x})")

    tsq_and_re = re.compile(rf"({_TQ_OPND})\s*&&\s*({_TQ_OPND})")
    tsq_or_re = re.compile(rf"({_TQ_OPND})\s*\|\|\s*({_TQ_OPND})")
    tsq_phr_re = re.compile(
        rf"({_TQ_OPND})\s*<(-|\d+)>\s*({_TQ_OPND})")
    tsq_not_re = re.compile(rf"!!\s*({_TSQ_EXPR})")
    tsq_cont_re = re.compile(
        rf"({_TQ_OPND})\s*(@>|<@)\s*({_TQ_OPND})")
    tsq_cmp_re = re.compile(
        rf"({_TQ_OPND})\s*(<=|>=|<>|!=|=|<|>)\s*({_TQ_OPND})")
    tsv_cat_re = re.compile(rf"({_TSV_EXPR})\s*\|\|\s*({_TV_OPND})"
                            rf"|({_TV_OPND})\s*\|\|\s*({_TSV_EXPR})")

    def _do_cat(m):
        a = m.group(1) or m.group(3)
        b = m.group(2) or m.group(4)
        return f"pg_tsvector_concat({_tv(a)}, {_tv(b)})"

    def _claim_q(m, build):
        """Build only when ≥1 operand is statically tsquery-typed."""
        groups = [g for g in m.groups() if g is not None]
        if not any(re.match(rf"(?i)^{_TSQ_EXPR}$",
                            g.strip()) for g in groups
                   if not re.fullmatch(r"-|\d+|<=|>=|<>|!=|=|<|>|@>|<@",
                                       g.strip())):
            return None
        return build(m)

    prev = None
    while prev != out:
        prev = out
        m = tsv_cat_re.search(out)
        if m and (re.match(rf"(?i)^{_TSV_EXPR}$", (m.group(1)
                  or m.group(3)).strip())
                  or re.match(rf"(?i)^{_TSV_EXPR}$", (m.group(2)
                     or m.group(4)).strip())):
            out = out[:m.start()] + _do_cat(m) + out[m.end():]
            continue
        m = tsq_phr_re.search(out)
        if m:
            rep = _claim_q(m, lambda m: (
                f"pg_tsquery_phrase({_tq(m.group(1))}, {_tq(m.group(3))},"
                f" {1 if m.group(2) == '-' else int(m.group(2))})"))
            if rep is not None:
                out = out[:m.start()] + rep + out[m.end():]
                continue
        for pat, build in (
            (tsq_and_re, lambda m: (f"pg_tsquery_and({_tq(m.group(1))}, "
                                    f"{_tq(m.group(2))})")),
            (tsq_or_re, lambda m: (f"pg_tsquery_or({_tq(m.group(1))}, "
                                   f"{_tq(m.group(2))})")),
            (tsq_cont_re, lambda m: (
                f"pg_tsq_mcontains({_tq(m.group(1))}, {_tq(m.group(3))})"
                if m.group(2) == "@>" else
                f"pg_tsq_mcontains({_tq(m.group(3))}, {_tq(m.group(1))})")),
            (tsq_cmp_re, lambda m: (
                f"(pg_tsquery_cmp({_tq(m.group(1))}, {_tq(m.group(3))})"
                f" {'<>' if m.group(2) == '!=' else m.group(2)} 0)")),
        ):
            m = pat.search(out)
            if m:
                rep = _claim_q(m, build)
                if rep is not None:
                    out = out[:m.start()] + rep + out[m.end():]
                    break
        else:
            out = tsq_not_re.sub(r"pg_tsquery_not(\1)", out, count=1)

    return out.replace("\x02", "")
