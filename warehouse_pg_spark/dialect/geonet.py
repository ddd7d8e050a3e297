"""Geometric (point/box/path) and network (inet/cidr/macaddr) type operator rewrites.

Split from sql_dialect.py (r14); see that module's docstring for
the shim-wide design rules (masked literals, bounded regexes,
anything unrecognized passes through loud).
"""

from __future__ import annotations

import re
from warehouse_pg_spark.dialect.mask import (
    _DISTINCT_OPERAND,
    _lit_value,
    _new_lit,
    _split_commas,
)




def _rewrite_pg_geo(out: str, lits: list[str]) -> str:
    """PG geometric types point/box/circle (utils/adt/geo_ops.c;
    regress sql/point.sql, box.sql, circle.sql). Values are structs;
    literals fold at plan time; constructors/operators/accessors are
    inline Catalyst expressions dispatched STATICALLY on the operand's
    field list (functions/geo.py geo_kind) — the rewrite-time analogue
    of PG's type-directed operator binding."""
    if not re.search(r"(?i)\b(point|box|circle)\b", out):
        return out
    from warehouse_pg_spark.functions import geo

    def fold_lit(m: re.Match, kind: str) -> str:
        body = _lit_value(m.group(1), lits)
        if kind == "point":
            p = geo.parse_point(body)
            if p is None:
                return m.group(0)
            return geo.point_sql(repr(p[0]), repr(p[1]))
        if kind == "box":
            b = geo.parse_box(body)
            return m.group(0) if b is None else geo.box_sql_lit(*b)
        c = geo.parse_circle(body)
        if c is None:
            return m.group(0)
        return geo.circle_sql(repr(c[0]), repr(c[1]), repr(c[2]))

    _GEO_NULL = {
        "point": "STRUCT<x: DOUBLE, y: DOUBLE>",
        "box": "STRUCT<x1: DOUBLE, y1: DOUBLE, x2: DOUBLE, y2: DOUBLE>",
        "circle": "STRUCT<x: DOUBLE, y: DOUBLE, r: DOUBLE>",
    }
    for kind in ("point", "box", "circle"):
        out = re.sub(
            rf"(?i)\b{kind}\s+(\x01\d+\x01)",
            lambda m, k=kind: fold_lit(m, k),
            out,
        )
        out = re.sub(
            rf"(?i)(\x01\d+\x01)\s*::\s*{kind}\b",
            lambda m, k=kind: fold_lit(m, k),
            out,
        )
        # a typed NULL keeps the struct shape (IS NULL tests work)
        out = re.sub(
            rf"(?i)\bNULL\s*::\s*{kind}\b",
            f"CAST(NULL AS {_GEO_NULL[kind]})",
            out,
        )

    _GEO = r"named_struct\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"

    # point(x, y) over scalars first (geo_ops.c construct_point), so
    # box/circle constructors see folded point operands
    def sub_point_ctor(m: re.Match) -> str:
        args = _split_commas(m.group(1))
        if len(args) == 2 and not any(
            geo.geo_kind(a.strip()) for a in args
        ):
            return geo.point_sql(args[0].strip(), args[1].strip())
        return m.group(0)

    out = re.sub(
        r"(?i)\bpoint\s*\(((?:[^()]|\([^()]*\))*)\)", sub_point_ctor, out
    )

    # constructors over existing geo values: box(p, p), circle(p, r)
    def sub_box_ctor(m: re.Match) -> str:
        args = _split_commas(m.group(1))
        if len(args) == 2 and all(
            geo.geo_kind(a.strip()) == "point" for a in args
        ):
            return geo.box_sql_pts(args[0].strip(), args[1].strip())
        return m.group(0)

    def sub_circle_ctor(m: re.Match) -> str:
        args = _split_commas(m.group(1))
        if len(args) == 2 and geo.geo_kind(args[0].strip()) == "point":
            p = args[0].strip()
            return geo.circle_sql(
                f"({p}).x", f"({p}).y", args[1].strip()
            )
        return m.group(0)

    prev_ctor = None
    while prev_ctor != out:  # nested ctors fold to a fixpoint
        prev_ctor = out
        out = re.sub(
            rf"(?i)\bbox\s*\(((?:{_GEO}|[^()])*)\)", sub_box_ctor, out
        )
        out = re.sub(
            rf"(?i)\bcircle\s*\(((?:{_GEO}|[^()])*)\)",
            sub_circle_ctor,
            out,
        )

    # operators — balanced scan (constructor output nests arbitrarily
    # deep, a fixed-depth regex can't bound the operand), fixpoint so
    # chained geo expressions keep folding
    def _balanced_end(s: str, op_paren: int) -> int:
        depth = 0
        for j in range(op_paren, len(s)):
            if s[j] == "(":
                depth += 1
            elif s[j] == ")":
                depth -= 1
                if depth == 0:
                    return j + 1
        return -1

    def _geo_span(s: str, i: int) -> tuple[int, int] | None:
        m = re.compile(r"named_struct\s*\(").match(s, i)
        if not m:
            return None
        end = _balanced_end(s, m.end() - 1)
        return None if end < 0 else (i, end)

    changed = True
    while changed:
        changed = False
        # binary operators a OP b
        for m in re.finditer(r"named_struct\s*\(", out):
            span = _geo_span(out, m.start())
            if span is None:
                continue
            a_s, a_e = span
            om = re.compile(r"\s*(<->|@>|<@|&&|~=)\s*").match(out, a_e)
            if not om:
                continue
            bspan = _geo_span(out, om.end())
            if bspan is None:
                continue
            b_s, b_e = bspan
            a, op, b = out[a_s:a_e], om.group(1), out[b_s:b_e]
            ka, kb = geo.geo_kind(a), geo.geo_kind(b)
            if not (ka and kb):
                continue
            if op == "<->":
                r = geo.distance_sql(a, ka, b, kb)
            elif op == "@>":
                r = geo.contains_sql(a, ka, b, kb)
            elif op == "<@":
                r = geo.contains_sql(b, kb, a, ka)
            elif op == "&&":
                r = geo.overlap_sql(a, ka, b, kb)
            elif op == "~=":  # "same as" (geo_ops.c point_eq/box_same)
                r = geo.same_sql(a, ka, b, kb)
            else:
                r = None
            if r is not None:
                out = out[:a_s] + r + out[b_e:]
                changed = True
                break
        if changed:
            continue
        # prefix @@ (center) and the accessor functions
        for m in re.finditer(
            r"(?i)(@@\s*|\b(?:area|center|radius|diameter|width"
            r"|height)\s*\(\s*)(?=named_struct\s*\()",
            out,
        ):
            span = _geo_span(out, m.end())
            if span is None:
                continue
            g_s, g_e = span
            g = out[g_s:g_e]
            kind = geo.geo_kind(g) or ""
            head = m.group(1).strip()
            if head == "@@":
                r = geo.accessor_sql("center", g, kind)
                if r is not None:
                    out = out[: m.start()] + r + out[g_e:]
                    changed = True
                    break
            else:
                fn = head.rstrip("( \t").strip()
                cm = re.compile(r"\s*\)").match(out, g_e)
                if not cm:
                    continue
                r = geo.accessor_sql(fn, g, kind)
                if r is not None:
                    out = out[: m.start()] + r + out[cm.end():]
                    changed = True
                    break
    return out


def _rewrite_pg_network(out: str, lits: list[str]) -> str:
    """PG network types (utils/adt/network.c inet_in/inet_out,
    network_plus/minus; mac8.c macaddr8_in/macaddr8_set7bit; regress
    sql/inet.sql, sql/macaddr8.sql). Values model as canonical TEXT —
    Python's stdlib ipaddress implements the same canonical form PG's
    inet_out prints (compressed lowercase IPv6, no /32 on bare hosts).
    Literal casts and literal arithmetic FOLD at plan time; pg_inet()
    is a Catalyst-inlined identity marking folded values so chained
    arithmetic ((x + 257) - 257) keeps folding to a fixpoint.
    Non-literal network arithmetic stays loud; the host/masklen/family
    helpers in functions/pg.py run on the text form per-row."""
    import ipaddress

    def _addr_str(a) -> str:
        # inet_out keeps IPv4-mapped addresses in dotted form
        # ('::ffff:1.2.3.4'), where Python compresses to hex groups
        v4 = getattr(a, "ipv4_mapped", None)
        return f"::ffff:{v4}" if v4 is not None else str(a)

    def sub_inet(m: re.Match) -> str:
        body = _lit_value(m.group(1), lits).strip()
        try:
            if "/" in body:
                iface = ipaddress.ip_interface(body)
                # inet_out omits a full-length mask (/32, /128)
                if iface.network.prefixlen == iface.ip.max_prefixlen:
                    canon = _addr_str(iface.ip)
                else:
                    canon = (
                        f"{_addr_str(iface.ip)}/{iface.network.prefixlen}"
                    )
            else:
                canon = _addr_str(ipaddress.ip_address(body))
        except ValueError:
            return m.group(0)  # bad input: stay loud, as PG errors
        return f"pg_inet({_new_lit(canon, lits)})"

    out = re.sub(r"(?i)(\x01\d+\x01)\s*::\s*inet\b", sub_inet, out)

    def sub_cidr(m: re.Match) -> str:
        body = _lit_value(m.group(1), lits).strip()
        try:
            canon = str(ipaddress.ip_network(body, strict=False))
        except ValueError:
            return m.group(0)
        return f"pg_inet({_new_lit(canon, lits)})"

    out = re.sub(r"(?i)(\x01\d+\x01)\s*::\s*cidr\b", sub_cidr, out)

    # PG's abbreviated cidr spellings (network.c cidr_in): missing
    # octets fill with zeros and the netmask defaults to the bits
    # actually given — '192.167.2' is 192.167.2.0/24
    def sub_cidr_abbrev(m: re.Match) -> str:
        body = _lit_value(m.group(1), lits).strip()
        base, _, mask = body.partition("/")
        octs = base.split(".")
        if not (1 <= len(octs) <= 3
                and all(re.fullmatch(r"\d{1,3}", o) for o in octs)):
            return m.group(0)
        bits = mask or str(8 * len(octs))
        full = ".".join(octs + ["0"] * (4 - len(octs)))
        try:
            canon = str(ipaddress.ip_network(f"{full}/{bits}",
                                             strict=False))
        except ValueError:
            return m.group(0)
        return f"pg_inet({_new_lit(canon, lits)})"

    out = re.sub(r"(?i)(\x01\d+\x01)\s*::\s*cidr\b",
                 sub_cidr_abbrev, out)

    # path / lseg / polygon literal casts (geo_ops.c path_in/lseg_in/
    # poly_in): text-modeled with PG's canonical rendering — lseg
    # always brackets, polygon always paired parens, path keeps its
    # open/closed spelling
    def sub_pathish(m: re.Match) -> str:
        body = _lit_value(m.group(1), lits).strip()
        kind = m.group(2).lower()
        nums = re.findall(r"-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?", body)
        if len(nums) % 2 or not nums:
            return m.group(0)  # malformed: stay loud
        pairs = [f"({nums[i]},{nums[i + 1]})"
                 for i in range(0, len(nums), 2)]
        if kind == "lseg":
            if len(pairs) != 2:
                return m.group(0)
            canon = f"[{pairs[0]},{pairs[1]}]"
        elif kind == "polygon":
            canon = "(" + ",".join(pairs) + ")"
        else:  # path: open form keeps brackets, else closed parens
            if body.startswith("["):
                canon = "[" + ",".join(pairs) + "]"
            else:
                canon = "(" + ",".join(pairs) + ")"
        return _new_lit(canon, lits)

    out = re.sub(
        r"(?i)(\x01\d+\x01)\s*::\s*(path|lseg|polygon)\b",
        sub_pathish, out)
    # non-literal ::inet: taken verbatim as text (no canonicalization
    # at runtime — document deviation; literals above ARE canonical)
    out = re.sub(
        rf"({_DISTINCT_OPERAND})\s*::\s*inet\b",
        lambda m: f"pg_inet(CAST({m.group(1)} AS STRING))",
        out,
    )

    def sub_mac(m: re.Match, want8: bool) -> str:
        body = _lit_value(m.group(1), lits).strip().lower()
        hexs = re.sub(r"[:.\-]", "", body)
        if not re.fullmatch(r"[0-9a-f]{12}(?:[0-9a-f]{4})?", hexs):
            return m.group(0)
        if want8 and len(hexs) == 12:
            # 6-byte input expands with ff:fe in the middle (mac8.c)
            hexs = hexs[:6] + "fffe" + hexs[6:]
        if not want8 and len(hexs) != 12:
            return m.group(0)
        canon = ":".join(hexs[i : i + 2] for i in range(0, len(hexs), 2))
        return _new_lit(canon, lits)

    out = re.sub(
        r"(?i)(\x01\d+\x01)\s*::\s*macaddr8\b",
        lambda m: sub_mac(m, True),
        out,
    )
    out = re.sub(
        r"(?i)(\x01\d+\x01)\s*::\s*macaddr\b",
        lambda m: sub_mac(m, False),
        out,
    )

    def sub_set7bit(m: re.Match) -> str:
        parts = _lit_value(m.group(1), lits).split(":")
        if len(parts) != 8:
            return m.group(0)
        parts[0] = f"{int(parts[0], 16) | 0x02:02x}"
        return _new_lit(":".join(parts), lits)

    out = re.sub(
        r"(?i)\bmacaddr8_set7bit\s*\(\s*(\x01\d+\x01)\s*\)",
        sub_set7bit,
        out,
    )

    def sub_inet_arith(m: re.Match) -> str:
        # network_pl preserves the netmask: '10.0.0.1/24' + 5 = '10.0.0.6/24'
        try:
            iface = ipaddress.ip_interface(_lit_value(m.group(1), lits))
        except ValueError:
            return m.group(0)
        op, n = m.group(2), int(m.group(3))
        try:
            r = iface.ip + n if op == "+" else iface.ip - n
        except ValueError:
            # network_pl/network_mi: past the family's address space
            raise ValueError("result is out of range")
        if iface.network.prefixlen != iface.ip.max_prefixlen:
            res = f"{_addr_str(r)}/{iface.network.prefixlen}"
        else:
            res = _addr_str(r)
        return f"pg_inet({_new_lit(res, lits)})"

    def sub_inet_diff(m: re.Match) -> str:
        # inet - inet compares the address parts; masks are ignored
        try:
            a = ipaddress.ip_interface(_lit_value(m.group(1), lits))
            b = ipaddress.ip_interface(_lit_value(m.group(2), lits))
        except ValueError:
            return m.group(0)
        if a.version != b.version:
            return m.group(0)
        diff = int(a.ip) - int(b.ip)
        if not (-(2 ** 63) <= diff < 2 ** 63):
            # network_mi returns int8; IPv6 spans overflow it
            raise ValueError("result is out of range")
        return f"CAST({diff} AS BIGINT)"

    prev = None
    while prev != out:  # chained arithmetic folds to a fixpoint
        prev = out
        out = re.sub(
            # grouping parens only — a call's parens (host(pg_inet(x)))
            # have an identifier char before the '('
            r"(?<![\w.])\(\s*(pg_inet\(\x01\d+\x01\))\s*\)", r"\1", out
        )
        out = re.sub(
            r"pg_inet\((\x01\d+\x01)\)\s*-\s*pg_inet\((\x01\d+\x01)\)",
            sub_inet_diff,
            out,
        )
        out = re.sub(
            r"pg_inet\((\x01\d+\x01)\)\s*([+-])\s*(\d+)\b(?!\s*[.\d])",
            sub_inet_arith,
            out,
        )
    return out
