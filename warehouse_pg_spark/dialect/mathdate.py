"""Scalar math/date helpers: PG operator spellings, format() compile, interval input parsing, date literal folding, U& escape decoding.

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
    _lit_value,
    _new_lit,
    _split_commas,
)



# PG math operators Spark lacks or re-purposes (numeric.c, float.c;
# pg_operator.dat): ^ is POWER in PG but XOR in Spark, # is int XOR,
# @ is abs, |/ sqrt, ||/ cbrt. Order matters: ^→power() runs before
# #→^ so the emitted XOR never re-maps. The right operand admits a
# unary minus (PG '2 ^ -2' is power(2,-2) = 0.25); a '^' whose operands
# still don't match raises rather than letting Spark silently evaluate
# XOR. (Left-side unary minus is NOT claimed: PG ≥9.5 binds unary minus
# tighter than '^', so '-2 ^ 2' is 4 there — spell it '(-2) ^ 2'.)
# power operands admit ::cast suffix chains ('NaN'::numeric ^ 0) and
# depth-2 calls like CAST(x AS DECIMAL(38,18)) emitted by the earlier
# scalar-cast pass — power() receives them unchanged
_POW_OPERAND = (
    # the call form requires the paren to ABUT the name — `SELECT (x)`
    # must not read as a call operand (pinned by test_pg_math_operators)
    rf"(?:[\w.]+\((?:[^()]|\([^()]*\))*\)|{_DISTINCT_OPERAND})"
    rf"(?:\s*::\s*\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)*"
)
_POWER_RE = re.compile(
    rf"({_POW_OPERAND})\s*\^\s*(-\s*{_POW_OPERAND}"
    rf"|{_POW_OPERAND})"
)
_INT_XOR_RE = re.compile(
    rf"({_DISTINCT_OPERAND})\s*#(?![>#])\s*({_DISTINCT_OPERAND})"
)
_CBRT_RE = re.compile(rf"\|\|/\s*(-?\s*{_DISTINCT_OPERAND})")
_SQRT_RE = re.compile(rf"(?<!\|)\|/\s*(-?\s*{_DISTINCT_OPERAND})")
_ABS_AT_RE = re.compile(
    rf"(?<![\w)\]])@\s*(?![>@?=])(-?\s*{_DISTINCT_OPERAND})"
)


def _rewrite_pg_math_ops(sql: str) -> str:
    prev = None
    while prev != sql:  # chains like a ^ b ^ c resolve left-to-right
        prev = sql
        sql = _POWER_RE.sub(lambda m: f"power({m.group(1)}, {m.group(2)})", sql)
    if "^" in sql:
        # In PG dialect '^' is always power; a survivor means an
        # operand form this rewriter doesn't recognize, and Spark
        # would silently evaluate it as bitwise XOR — fail loudly
        # instead. ('#' → XOR translation runs after this check.)
        raise NotImplementedError(
            "unrecognized operand form around PG '^' (power) operator; "
            "parenthesize the operands: " + sql
        )
    # PG factorial operators (pre-14 gram.y): postfix `4!` and prefix
    # `!!4`; the lookaheads keep != / !~ comparisons untouched
    sql = re.sub(
        r"(?<![\w.!])!!\s*(\d+|\([^()]*\))", r"factorial(\1)", sql
    )
    sql = re.sub(
        r"(?<![\w.])(\d+|\([^()]*\))\s*!(?![=~!<>])",
        r"factorial(\1)",
        sql,
    )
    sql = _INT_XOR_RE.sub(lambda m: f"({m.group(1)} ^ {m.group(2)})", sql)
    sql = _CBRT_RE.sub(lambda m: f"cbrt({m.group(1)})", sql)
    sql = _SQRT_RE.sub(lambda m: f"sqrt({m.group(1)})", sql)
    sql = _ABS_AT_RE.sub(lambda m: f"abs({m.group(1)})", sql)
    return sql
# %[position$][-][width|*[position$]]<s|I|L>  (plus bare %%)
_FORMAT_SPEC_RE = re.compile(
    r"%(?:(\d+)\$)?(-)?(?:(\d+)|\*(?:(\d+)\$)?)?([sIL])|%(%)"
)


def _pg_format_compile(fmt: str, args: list[str], lits: list[str]):
    """Compile a PG format() call with a LITERAL picture into a pure
    concat() expression (varlena.c text_format): %s/%I/%L conversions,
    %n$ argument positions, [-]width and */"*n$" indirect widths, with
    PG's argument-advance rule (a consumed indirect width advances the
    sequential counter). Returns None for pictures/arg shapes outside
    the model — the call then stays loud (UNRESOLVED_ROUTINE), which is
    also PG's behavior for too-few-arguments errors."""
    variadic = False
    arr = None
    bool_elems = False
    if len(args) == 1 and re.match(r"(?is)^\s*variadic\b", args[0]):
        variadic = True
        arr = re.sub(r"(?is)^\s*variadic\s+", "", args[0]).strip()
        bool_elems = bool(
            re.match(r"(?is)^array\s*[\[(]", arr)  # pre- or post-rewrite
            and not re.search(
                r"(?is)(::\s*\w+\s*\[\s*\]|AS\s+STRING\s*>?\s*\))\s*$", arr
            )
            and re.search(r"(?i)\b(true|false)\b", arr)
        )

    sq = "chr(39)"  # single quote, avoiding literal-escape headaches
    dq = "chr(34)"
    bs = "chr(92)"
    sp = _new_lit(" ", lits)
    ident_re = _new_lit("^[a-z_][a-z0-9_]*$", lits)

    def raw_arg(i: int) -> str | None:
        if variadic:
            return f"element_at({arr}, {i})"
        if i < 1 or i > len(args):
            return None
        return args[i - 1]

    def str_arg(i: int) -> str | None:
        a = raw_arg(i)
        if a is None:
            return None
        if not variadic:
            t = a.strip().lower()
            if t == "true":
                return _new_lit("t", lits)
            if t == "false":
                return _new_lit("f", lits)
            return f"CAST({a} AS STRING)"
        v = f"CAST({a} AS STRING)"
        if bool_elems:
            # bare-bool variadic array: PG boolout renders t/f
            return (
                f"(CASE WHEN {v} = 'true' THEN {_new_lit('t', lits)} "
                f"WHEN {v} = 'false' THEN {_new_lit('f', lits)} "
                f"ELSE {v} END)"
            )
        return v

    pieces: list[str] = []
    pos = 0
    arg = 1  # next sequential argument position
    for m in _FORMAT_SPEC_RE.finditer(fmt):
        if m.start() > pos:
            pieces.append(_new_lit(fmt[pos : m.start()], lits))
        pos = m.end()
        if m.group(6):  # %%
            pieces.append(_new_lit("%", lits))
            continue
        argpos, minus, width_s, widthpos, conv = m.groups()[:5]
        width_sql = None
        static_w = None
        if width_s is not None:
            static_w = int(width_s)
        elif "*" in m.group(0):
            if widthpos is not None:
                arg = int(widthpos)
            wa = raw_arg(arg)
            if wa is None:
                return None
            width_sql = f"coalesce(CAST({wa} AS INT), 0)"
            arg += 1
        if argpos is not None:
            arg = int(argpos)
        v = str_arg(arg)
        if v is None:
            return None
        arg += 1
        if conv == "s":
            val = f"coalesce({v}, {_new_lit('', lits)})"
        elif conv == "I":
            err = _new_lit(
                "null values cannot be formatted as an SQL identifier",
                lits,
            )
            val = (
                f"(CASE WHEN {v} IS NULL THEN raise_error({err}) "
                f"WHEN {v} RLIKE {ident_re} THEN {v} "
                f"ELSE concat({dq}, replace({v}, {dq}, repeat({dq}, 2)), "
                f"{dq}) END)"
            )
        else:  # L
            val = (
                f"(CASE WHEN {v} IS NULL THEN {_new_lit('NULL', lits)} "
                f"WHEN contains({v}, {bs}) THEN concat('E', {sq}, "
                f"replace(replace({v}, {bs}, repeat({bs}, 2)), "
                f"{sq}, repeat({sq}, 2)), {sq}) "
                f"ELSE concat({sq}, replace({v}, {sq}, repeat({sq}, 2)), "
                f"{sq}) END)"
            )
        if static_w is not None and static_w != 0:
            aw = abs(static_w)
            pad = "rpad" if (minus or static_w < 0) else "lpad"
            val = (
                f"IF(length({val}) >= {aw}, {val}, "
                f"{pad}({val}, {aw}, {sp}))"
            )
        elif width_sql is not None:
            left = "true" if minus else f"({width_sql}) < 0"
            val = (
                f"(CASE WHEN coalesce(abs({width_sql}), 0) <= "
                f"length({val}) THEN {val} "
                f"WHEN {left} THEN rpad({val}, abs({width_sql}), {sp}) "
                f"ELSE lpad({val}, abs({width_sql}), {sp}) END)"
            )
        elif minus:
            pass  # '-' without width: no-op (PG prints unpadded)
        pieces.append(val)
    if pos < len(fmt):
        pieces.append(_new_lit(fmt[pos:], lits))
    # leftover '%' after removing valid specs: PG raises — at plan
    # time here, since the picture is a literal (varlena.c
    # text_format's unterminated / unrecognized specifier errors)
    stripped = _FORMAT_SPEC_RE.sub("", fmt)
    mm = re.search(r"%[-\d$*]*(.?)", stripped)
    if mm:
        if not mm.group(1):
            raise ValueError("unterminated format() type specifier")
        raise ValueError(
            "unrecognized format() type specifier "
            f'"{mm.group(1)}"'
        )
    if not pieces:
        return _new_lit("", lits)
    if len(pieces) == 1:
        return f"CAST({pieces[0]} AS STRING)"
    return "concat(" + ", ".join(pieces) + ")"
# interval-string tokenizer units (datetime.c DecodeUnits subset)
_IV_UNITS = {
    "millennium": "mil", "millenniums": "mil", "millennia": "mil",
    "century": "cen", "centuries": "cen",
    "decade": "dec", "decades": "dec", "dec": "dec", "decs": "dec",
    "year": "y", "years": "y", "yr": "y", "yrs": "y", "y": "y",
    "month": "mo", "months": "mo", "mon": "mo", "mons": "mo",
    "week": "w", "weeks": "w", "w": "w",
    "day": "d", "days": "d", "d": "d",
    "hour": "h", "hours": "h", "hr": "h", "hrs": "h", "h": "h",
    "minute": "mi", "minutes": "mi", "min": "mi", "mins": "mi", "m": "mi",
    "second": "s", "seconds": "s", "sec": "s", "secs": "s", "s": "s",
    "millisecond": "ms", "milliseconds": "ms", "ms": "ms",
    "microsecond": "us", "microseconds": "us", "us": "us",
}
_IV_ORDER = {"y": 6, "mo": 5, "d": 4, "h": 3, "mi": 2, "s": 1}


def _pg_interval_parse(
    body: str, hi: str | None, lo: str | None, prec: int | None
):
    """Parse a PG interval input string under an optional field-range
    qualifier (datetime.c DecodeInterval + AdjustFractSeconds):

    - a bare number binds to the range's LOW field ('1' YEAR TO MONTH
      is 1 month), to days when followed by a time, to seconds when
      unqualified;
    - 'a:b' is hh:mm unless the range is MINUTE TO SECOND or the b part
      carries a fraction (then mm:ss); 'a:b:c' is always h:m:s;
    - 'y-m' is years-months; 'D H' bare pairs only under DAY TO HOUR;
    - fields FINER than the low field are zeroed (regress: '1 2:03'
      DAY TO HOUR keeps 02:00); seconds round to `prec` digits,
      half away from zero; fractional units spill downward
      ('1.5' DAY is 1 day 12:00).

    Returns a unit->Decimal dict or None (caller leaves the SQL
    untouched — an unparseable form should stay loud, matching PG's
    own input errors)."""
    from decimal import ROUND_HALF_UP, Decimal

    s = body.strip()
    neg_all = False
    if s.startswith("@"):
        s = s[1:].strip()
    if s.lower().endswith(" ago"):
        neg_all, s = True, s[:-4].strip()
    if not s:
        return None
    # a sign separated from its number ('1 month - 1 second') binds to
    # the following field (DecodeInterval treats the sign as a prefix)
    s = re.sub(r"([+-])\s+(?=\d)", r"\1", s)
    # suffix-attached unit abbreviations ('100000000y 10mon -10.5s')
    # split into number + unit tokens (DecodeInterval reads them as
    # separate fields)
    s = re.sub(
        r"(?i)(?<=[\d.])"
        r"(millenniums?|millennia|centur(?:y|ies)|decades?|decs?"
        r"|years?|yrs?|months?|mons?|weeks?|days?|hours?|hrs?"
        r"|minutes?|mins?|seconds?|secs?|milliseconds?|microseconds?"
        r"|ms|us|mo|mi|[ywdhms])\b",
        r" \1",
        s,
    )
    toks = s.split()
    f: dict[str, Decimal] = {
        k: Decimal(0) for k in ("y", "mo", "d", "h", "mi", "s")
    }
    num_re = re.compile(r"^[+-]?\d+(?:\.\d+)?$")
    ym_re = re.compile(r"^([+-]?\d+)-(\d+)$")
    tm_re = re.compile(r"^([+-])?(\d+):(\d+)(?::(\d+(?:\.\d+)?))?$"
                       r"|^([+-])?(\d+):(\d+\.\d+)$")
    bare: list[Decimal] = []
    saw_time = False

    # spilled fractions live apart from input-bound fields: the range
    # qualifier truncates what the INPUT bound ('1 2:03' DAY TO HOUR
    # zeroes the :03) but not what a fraction produced ('1.5' DAY is
    # 1 day 12:00 — AdjustFractDays runs after the range check)
    spill_f: dict[str, Decimal] = {
        k: Decimal(0) for k in ("y", "mo", "d", "h", "mi", "s")
    }

    def add(unit: str, v: Decimal, spilled: bool = False) -> None:
        # fractional spill (DecodeInterval AdjustFract*): 0.5 day is
        # 12h, 1.5 years is 1y 6mo, 0.5 mon is 15 days
        if unit == "mil":
            unit, v = "y", v * 1000
        if unit == "cen":
            unit, v = "y", v * 100
        if unit == "dec":
            unit, v = "y", v * 10
        if unit == "w":
            unit, v = "d", v * 7
        if unit == "ms":
            unit, v = "s", v / 1000
        if unit == "us":
            unit, v = "s", v / 1000000
        tgt = spill_f if spilled else f
        whole = v.to_integral_value(rounding="ROUND_DOWN")
        frac = v - whole
        tgt[unit] += whole if unit != "s" else v
        if frac and unit != "s":
            spill = {"y": ("mo", 12), "mo": ("d", 30), "d": ("s", 86400),
                     "h": ("s", 3600), "mi": ("s", 60)}[unit]
            add(spill[0], frac * spill[1], spilled=True)

    i = 0
    while i < len(toks):
        t = toks[i]
        mo_ym = ym_re.match(t)
        mo_tm = tm_re.match(t)
        if mo_ym:
            f["y"] += Decimal(mo_ym.group(1))
            mfrac = Decimal(mo_ym.group(2))
            f["mo"] += -mfrac if mo_ym.group(1).startswith("-") else mfrac
        elif mo_tm:
            saw_time = True
            if mo_tm.group(6) is not None:  # a:b.f — minutes:seconds
                sign = -1 if mo_tm.group(5) == "-" else 1
                a, b = Decimal(mo_tm.group(6)), Decimal(mo_tm.group(7))
                add("mi", sign * a)
                add("s", sign * b)
            else:
                sign = -1 if mo_tm.group(1) == "-" else 1
                a, b = Decimal(mo_tm.group(2)), Decimal(mo_tm.group(3))
                c = mo_tm.group(4)
                if c is not None:  # h:m:s
                    add("h", sign * a)
                    add("mi", sign * b)
                    add("s", sign * Decimal(c))
                elif hi == "minute" and lo == "second":
                    add("mi", sign * a)
                    add("s", sign * b)
                else:  # h:m
                    add("h", sign * a)
                    add("mi", sign * b)
        elif num_re.match(t):
            if i + 1 < len(toks) and toks[i + 1].lower() in _IV_UNITS:
                add(_IV_UNITS[toks[i + 1].lower()], Decimal(t))
                i += 2
                continue
            bare.append(Decimal(t))
        else:
            return None  # unknown token: stay loud
        i += 1

    qmap = {"year": "y", "month": "mo", "day": "d", "hour": "h",
            "minute": "mi", "second": "s"}
    if bare:
        if len(bare) == 1:
            if saw_time:
                add("d", bare[0])
            elif lo:
                add(qmap[lo], bare[0])
            elif hi:
                add(qmap[hi], bare[0])
            else:
                add("s", bare[0])  # lone unqualified number: seconds
        elif len(bare) == 2 and not saw_time and (hi, lo) == ("day", "hour"):
            add("d", bare[0])
            add("h", bare[1])
        else:
            return None  # '1 2' under other ranges: PG errors too

    low = lo or hi
    if low:
        cut = _IV_ORDER[qmap[low]]
        for u, o in _IV_ORDER.items():
            if o < cut:
                f[u] = Decimal(0)
        if low == "second" and prec is None:
            prec = 6
    for u in f:
        f[u] += spill_f[u]
    if prec is not None:
        q = Decimal(1).scaleb(-prec)
        f["s"] = f["s"].quantize(q, rounding=ROUND_HALF_UP)
    if neg_all:
        f = {k: -v for k, v in f.items()}
    return f


def _gcd_sql(x: str, y: str) -> str:
    # Euclid as a JVM-side fold; 128 steps covers 64-bit worst case
    # (consecutive Fibonacci numbers need ~90)
    return (
        "(aggregate(sequence(1, 128), "
        f"named_struct('a', CAST(abs({x}) AS BIGINT), "
        f"'b', CAST(abs({y}) AS BIGINT)), "
        "(__gs, __gi) -> IF(__gs.b = 0, __gs, "
        "named_struct('a', __gs.b, 'b', __gs.a % __gs.b))).a)"
    )


def _decode_uescape(body: str, esc: str) -> str:
    """Decode \\XXXX / \\+XXXXXX escapes (scan.l; doubled escape char
    is the char itself). Raises ValueError on malformed input, exactly
    where PG errors."""
    out: list[str] = []
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == esc:
            if body[i + 1 : i + 2] == esc:
                out.append(esc)
                i += 2
            elif body[i + 1 : i + 2] == "+":
                out.append(chr(int(body[i + 2 : i + 8], 16)))
                if i + 8 > n:
                    raise ValueError("invalid Unicode escape")
                i += 8
            else:
                if i + 5 > n:
                    raise ValueError("invalid Unicode escape")
                out.append(chr(int(body[i + 1 : i + 5], 16)))
                i += 5
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _pg_date_fold(body: str) -> str | None:
    import datetime as _dt

    s = body.strip()
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s):
        return None  # already ISO — native literal is fine
    if re.fullmatch(r"\d{8}", s):  # compact ISO 'YYYYMMDD'
        try:
            return _dt.date(
                int(s[:4]), int(s[4:6]), int(s[6:8])
            ).isoformat()
        except ValueError:
            return None
    if re.fullmatch(r"\d{6}", s):
        # compact 'YYMMDD' (datetime.c DecodeNumberField; regress
        # date.sql: '990108' → 1999-01-08) — 2-digit year window
        y = int(s[:2])
        try:
            return _dt.date(
                y + (2000 if y < 70 else 1900), int(s[2:4]), int(s[4:6])
            ).isoformat()
        except ValueError:
            return None
    if re.fullmatch(r"[Jj]\d{1,7}", s):
        return (
            _dt.date(1970, 1, 1)
            + _dt.timedelta(days=int(s[1:]) - 2440588)
        ).isoformat()
    if re.fullmatch(r"\d{4}\.\d{3}", s):
        # year.doy form (datetime.c DecodeDate special)
        y, doy = int(s[:4]), int(s[5:])
        try:
            return (
                _dt.date(y, 1, 1) + _dt.timedelta(days=doy - 1)
            ).isoformat()
        except (ValueError, OverflowError):
            return None
    nm = re.fullmatch(
        r"(\d{1,4})[\s./-](\d{1,2})[\s./-](\d{1,4})", s
    )
    if nm:
        # all-numeric 3-field dates under the session's default
        # MDY DateStyle (datetime.c DecodeDate): a 4-digit or >31
        # leading field is the year (YMD); a 4-digit trailing
        # field is the year with MDY (day-month swap when the
        # first field can't be a month); 2-digit years take the
        # <70 → 2000s window
        a_s, b_s, c_s = nm.group(1), nm.group(2), nm.group(3)
        a, b, c = int(a_s), int(b_s), int(c_s)

        def _win(y: int) -> int:
            return y + (2000 if y < 70 else 1900) if y < 100 else y

        if len(a_s) == 4 or a > 31:
            y, mo2, d = _win(a), b, c
        else:
            y = _win(c)
            if a <= 12:
                mo2, d = a, b
            elif b <= 12:
                mo2, d = b, a
            else:
                return None
        try:
            return _dt.date(y, mo2, d).isoformat()
        except ValueError:
            return None
    toks = [t for t in re.split(r"[\s,-]+", s) if t]
    months = {
        m: i + 1 for i, m in enumerate(
            ("jan", "feb", "mar", "apr", "may", "jun",
             "jul", "aug", "sep", "oct", "nov", "dec")
        )
    }
    mo = None
    mo_pos = -1
    nums = []
    for pos, t in enumerate(toks):
        if t[:3].lower() in months and not t.isdigit():
            mo = months[t[:3].lower()]
            mo_pos = pos
        elif t.isdigit():
            nums.append(int(t))
        else:
            return None
    if mo is None or len(nums) != 2:
        return None
    if mo_pos == 2 and re.search(r"[-./]", s):
        # datetime.c DecodeDate: with PUNCTUATED fields both leading
        # numbers claim month/day slots before the textual month
        # arrives — '99-08-Jan' errors while '99 08 Jan' (space
        # separators) and '99-Jan-08' parse (date.out:174 vs :216)
        raise ValueError(
            f'invalid input syntax for type date: "{s}"')
    a, b = nums
    y, d = (a, b) if a > 31 else (b, a)
    if y < 100:  # PG's two-digit-year window (datetime.c)
        y += 2000 if y < 70 else 1900
    try:
        return _dt.date(y, mo, d).isoformat()
    except ValueError:
        return None


# --- to_char / to_date / timestamptz-literal passes (moved from
# pgfns.py in the r15 split; behavior unchanged) ---------------
_ARITH_CHAIN_MD = rf"{_DISTINCT_OPERAND}(?:\s*[-+*/%]\s*{_DISTINCT_OPERAND})*"
_TO_CHAR_RE = re.compile(
    rf"\bto_char\s*\(\s*((?:TIMESTAMP|DATE)\s*{_LIT}"
    rf"|[\w.]+\((?:[^()]|\([^()]*\))*\)"
    rf"|-?\s*{_ARITH_CHAIN_MD})\s*,\s*({_LIT})\s*\)",
    re.IGNORECASE,
)
# to_date/to_timestamp with a PG DCH pattern (formatting.c parse
# direction): translated to the Java pattern Spark's parser expects.
# Gated on distinctly-PG tokens — a Java-style pattern ('yyyy-MM-dd')
# must pass through untouched, and an uppercase PG pattern handed to
# Spark raw is already silently wrong (Java D = day-of-year).
_TO_DATE_RE = re.compile(
    rf"\bto_(date|timestamp)\s*\(\s*({_ARITH_CHAIN_MD})\s*,\s*({_LIT})\s*\)",
    re.IGNORECASE,
)
_PG_DCH_GATE_RE = re.compile(
    r"HH24|HH12|YYYY|IYYY|MI|MON|Mon|mon|DAY|Day|day|DDD|Dy|DY|dy"
    # single-letter / two-letter PG fields with no Java equivalent:
    # J (julian day), CC (century), W (week-of-month), Q (quarter) —
    # as a whole-picture match so Java patterns never false-positive
    r"|^\s*J\s*$|\bCC\b|^W\b|\bW\s+MM\b"
    # whole-picture 3-digit year (PG completes to 1500-2499; Java YYY
    # is week-based-year and Spark rejects it outright)
    r"|^\s*YYY\s*$"
    # ISO-calendar family, roman months, grouped years, and
    # backslash separators — all PG-only spellings
    r"|I(?:YYY|YY|Y|W|DDD|D)|\bRM\b|Y,YYY|\\"
    # leading short-year pictures ('Y-MMDD', 'YY-MMDD'): PG completes
    # the year; Java reads uppercase Y as week-based-year and rejects
    r"|^\s*Y{1,3}[^Y]"
)
_TS_ZONE_LIT_RE = re.compile(
    # the single-word timestamptz spelling takes the same path (Spark
    # has no TIMESTAMPTZ literal keyword); exclude the
    # timestamptz(date, time) constructor via the literal lookahead
    r"\btimestamp(?:\s+with(?:out)?\s+time\s+zone|tz)\s+(\x01\d+\x01)",
    re.IGNORECASE,
)


def _rewrite_to_char_to_date(sql: str, lits: list[str]) -> str:
    """to_char over numeric/datetime pictures and to_date/
    to_timestamp DCH translation (formatting.c both directions);
    the literal folds run the PG from_char scanner first so
    PG's own plan-time errors fire before Spark parses."""
    def sub_to_char(m: re.Match) -> str:
        from warehouse_pg_spark.functions.to_char import (
            to_char_datetime_sql,
            to_char_numeric_sql,
        )

        x, lit_tok = m.group(1).strip(), m.group(2)
        body = lits[int(_MASK_RE.match(lit_tok).group(1))][1:-1]
        # strip quoted-literal spans before sniffing for digit slots
        unquoted = re.sub(r'"[^"]*"', "", body)
        if re.search(r"[90]", unquoted):
            out = to_char_numeric_sql(f"({x})", body)
            return out if out is not None else m.group(0)
        return to_char_datetime_sql(f"({x})", body)

    sql = _TO_CHAR_RE.sub(sub_to_char, sql)

    def sub_to_date(m: re.Match) -> str:
        from warehouse_pg_spark.functions.to_char import (
            dch_parse_pattern,
            to_date_fold,
            to_timestamp_fold,
        )

        kind, x, lit_tok = m.group(1).lower(), m.group(2).strip(), m.group(3)
        body = lits[int(_MASK_RE.match(lit_tok).group(1))][1:-1]
        if not _PG_DCH_GATE_RE.search(body):
            # Java-style pattern: pass through — but still run the
            # scanner on a literal subject so PG's own plan-time
            # errors (date out of range &c) fire instead of Spark's
            # CANNOT_PARSE; non-error results keep the Java path
            if _MASK_RE.fullmatch(x):
                try:
                    (to_date_fold if kind == "date"
                     else to_timestamp_fold)(_lit_value(x, lits), body)
                except ValueError as fe:
                    if "out of range" in str(fe):
                        raise
            return m.group(0)
        xm = _MASK_RE.fullmatch(x)
        if kind == "date" and xm:
            # literal subject: fold through the PG from_char scanner —
            # covers pictures Java patterns can't express (J, CC+YY,
            # W, Q, leading-space numeric output of to_char)
            folded = to_date_fold(_lit_value(x, lits), body)
            if folded is not None:
                return f"DATE {_new_lit(folded.isoformat(), lits)}"
        if kind == "timestamp" and xm:
            ts = to_timestamp_fold(_lit_value(x, lits), body)
            if ts is not None:
                return (
                    f"TIMESTAMP "
                    f"{_new_lit(ts.isoformat(sep=' '), lits)}"
                )
        java = dch_parse_pattern(body).replace("'", "''")
        if not java.startswith((" ", "'")):
            # PG's from_char scan skips leading whitespace in the
            # subject (e.g. to_char numeric output's sign column)
            x = f"trim({x})"
        return f"to_{kind}({x}, '{java}')"

    sql = _TO_DATE_RE.sub(sub_to_date, sql)

    # deep-subject fallback: to_date(<any balanced expr>, 'PG pic') —
    # e.g. the folded CASE that to_char's numeric fold emits. Balanced
    # scan; only the picture literal is rewritten.
    def _fold_to_date_deep(s: str) -> str:
        from warehouse_pg_spark.functions.to_char import dch_parse_pattern

        out_parts: list[str] = []
        i = 0
        while True:
            m2 = re.search(r"(?i)\bto_(date|timestamp)\s*\(", s[i:])
            if not m2:
                out_parts.append(s[i:])
                break
            start = i + m2.start()
            op = i + m2.end() - 1
            depth, j = 0, op
            while j < len(s):
                if s[j] == "(":
                    depth += 1
                elif s[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            inner = s[op + 1: j]
            args = _split_commas(inner)
            lm = _MASK_RE.fullmatch(args[-1].strip()) if len(args) == 2 else None
            body = lits[int(lm.group(1))][1:-1] if lm else ""
            if lm and _PG_DCH_GATE_RE.search(body):
                java = dch_parse_pattern(body).replace("'", "''")
                subj = args[0].strip()
                if not java.startswith((" ", "'")):
                    subj = f"trim({subj})"
                out_parts.append(s[i:start])
                out_parts.append(
                    f"to_{m2.group(1).lower()}({subj}, '{java}')"
                )
            else:
                out_parts.append(s[i: j + 1])
            i = j + 1
        return "".join(out_parts)

    sql = _fold_to_date_deep(sql)
    return sql


def _rewrite_ts_zone_literals(sql: str, lits: list[str]) -> str:
    """timestamptz / compact-ISO / julian-day timestamp literal
    normalization (datetime.c input forms)."""
    def sub_ts_zone_lit(m: re.Match) -> str:
        # compact ISO-8601 input ('20011227T040506.789+08',
        # datetime.c DecodeISO8601...): normalize to the punctuated
        # form Spark's parser accepts
        body = _lit_value(m.group(1), lits).strip()
        jm = re.fullmatch(
            # Julian-day timestamp input (datetime.c DecodeDateTime
            # J-prefix; horology.sql): 'J2452271 04:05:06+08',
            # 'J2452271.5-08' (fraction of a day), 'J2452271T040506'
            r"[Jj](\d{1,7})(\.\d+)?"
            r"(?:[T ](\d{2}):?(\d{2})(?::?(\d{2}(?:\.\d+)?))?)?"
            r"\s*([+-]\d{1,2}(?::?\d{2})?)?",
            body,
        )
        if jm:
            import datetime as _dt

            jd, frac, h, mi, s, off = jm.groups()
            try:
                base = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                    days=int(jd) - 2440588
                )
            except OverflowError:
                return f"TIMESTAMP {m.group(1)}"  # BC-era: stay loud
            if frac:
                base += _dt.timedelta(
                    microseconds=round(float(frac) * 86400 * 1e6)
                )
            elif h:
                sec = float(s or 0)
                base += _dt.timedelta(
                    hours=int(h), minutes=int(mi), seconds=sec
                )
            iso = base.strftime("%Y-%m-%d %H:%M:%S")
            if base.microsecond:
                iso += f".{base.microsecond:06d}".rstrip("0")
            if off:
                o = off.replace(":", "")
                iso += (
                    f"{o[0]}{int(o[1:3] if len(o) > 2 else o[1:]):02d}"
                    + (f":{o[3:5]}" if len(o) >= 5 else "")
                )
            return f"TIMESTAMP {_new_lit(iso, lits)}"
        # PG multi-format date part + time + offset ('12/27/2001
        # 04:05:06.789-08', '2001.12.27 ...') and the tagged
        # 'Y2001M12D27H04M05S06.789+08' ISO-alternative form
        gm = re.fullmatch(
            r"(?i)Y(\d{4})M(\d{2})D(\d{2})"
            r"H(\d{2})MM?(\d{2})S(\d{2}(?:\.\d+)?)"
            r"\s*([+-]\d{1,2}(?::?\d{2})?)?",
            body,
        )
        if gm:
            y, mo, d, h, mi, s, off = gm.groups()
            iso = f"{y}-{mo}-{d} {h}:{mi}:{s}"
            if off:
                o = off.replace(":", "")
                iso += (
                    f"{o[0]}{int(o[1:3] if len(o) > 2 else o[1:]):02d}"
                    + (f":{o[3:5]}" if len(o) >= 5 else "")
                )
            return f"TIMESTAMP {_new_lit(iso, lits)}"
        dm = re.fullmatch(
            r"(\S+)\s+(\d{1,2}:\d{2}(?::\d{2}(?:\.\d+)?)?)"
            r"\s*([+-]\d{1,2}(?::?\d{2})?)?",
            body,
        )
        if dm:
            folded_d = (
                dm.group(1)
                if re.fullmatch(r"\d{4}-\d{2}-\d{2}", dm.group(1))
                else _pg_date_fold(dm.group(1))
            )
            if folded_d is not None:
                t = dm.group(2)
                if re.fullmatch(r"\d{1,2}:\d{2}", t):
                    t += ":00"  # Spark's literal parser needs seconds
                iso = f"{folded_d} {t}"
                off = dm.group(3)
                if off:
                    o = off.replace(":", "")
                    iso += (
                        f"{o[0]}"
                        f"{int(o[1:3] if len(o) > 2 else o[1:]):02d}"
                        + (f":{o[3:5]}" if len(o) >= 5 else "")
                    )
                return f"TIMESTAMP {_new_lit(iso, lits)}"
        cm = re.fullmatch(
            r"(\d{4})(\d{2})(\d{2})(?:[T ]?(\d{2}):?(\d{2}):?"
            r"(\d{2}(?:\.\d+)?)?)?\s*([+-]\d{1,2}(?::?\d{2})?)?",
            body,
        )
        if cm:
            y, mo, d, h, mi, s, off = cm.groups()
            iso = f"{y}-{mo}-{d} {h or '00'}:{mi or '00'}:{s or '00'}"
            if off:
                o = off.replace(":", "")
                iso += (
                    f"{o[0]}{int(o[1:3] if len(o) > 2 else o[1:]):02d}"
                    + (f":{o[3:5]}" if len(o) >= 5 else "")
                )
            return f"TIMESTAMP {_new_lit(iso, lits)}"
        return f"TIMESTAMP {m.group(1)}"

    sql = _TS_ZONE_LIT_RE.sub(sub_ts_zone_lit, sql)
    return sql
