"""User-defined types: CREATE DOMAIN, composite CREATE TYPE ... AS
(fields), CREATE TYPE ... AS ENUM.

Reference semantics: src/backend/commands/typecmds.c (DefineDomain,
DefineCompositeType, AlterDomain*), utils/adt/enum.c, regress
sql/domain.sql, sql/composite_types.sql, sql/enum.sql.

Spark-first model — all three are PLAN-TIME rewrites, zero runtime
dispatch:

* a DOMAIN is a named alias for a base type plus CHECK/NOT NULL
  constraints. `expr::dom` lowers to the base-type cast guarded by
  `assert_true(...)` (the Catalyst-native raise path), so a violating
  value errors exactly like PG's "value for domain ... violates check
  constraint", while a passing value costs one boolean expression that
  whole-stage codegen inlines. CHECK uses PG's table-constraint truth
  table: NULL check result = pass.
* a COMPOSITE type is a StructType: `ROW(a,b)::comp` / `(a,b)::comp` /
  `'(a,b)'::comp` lower to named_struct with per-field base-type
  casts; field access keeps Spark's native `(expr).field`.
* an ENUM is a label list: literal casts validate the label at plan
  time (PG errors "invalid input value for enum") and pass through as
  text; enum_first/enum_last/enum_range fold to label constants.

State is session-scoped on the Engine (PG catalogs are per-database;
this engine's DDL surface is session-level throughout, like its temp
views). The rewrite runs BEFORE the main dialect pass, so emitted
casts use PG spellings (`(x)::numeric(8,2)`) and inherit every
downstream rewrite (numeric, inet, interval domains all work).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from warehouse_pg_spark.dialect.mask import _split_commas

_RLIT = r"'(?:[^']|'')*'"
# SQL keywords that may precede a parenthesized expression — never a
# function-call name or cast operand (else `SELECT (x)::t` would
# swallow the keyword into the operand)
_KW_GUARD = (
    r"(?!(?:SELECT|FROM|WHERE|AND|OR|NOT|WHEN|THEN|ELSE|CASE|END|AS"
    r"|ON|BY|IN|IS|VALUES|SET|RETURNING|UNION|EXCEPT|INTERSECT|ALL"
    r"|ANY|SOME|DISTINCT|HAVING|GROUP|ORDER|LIMIT|OFFSET|JOIN|LATERAL"
    r"|BETWEEN|LIKE|ILIKE|EXISTS)\s*\()"
)
# one cast operand: literal / call / dotted name / parenthesized expr
# balanced parens to depth 5 (a guarded domain cast emits
# if(cond, val, raise_error(concat(...))) — 4 levels deep before any
# user nesting), quote-aware at each level
def _paren_depth(n: int) -> str:
    p = r"[^()']*"
    for _ in range(n):
        p = rf"(?:[^()']|{_RLIT}|\({p}\))*"
    return p


_PARENS5 = _paren_depth(5)
_OPERAND = (
    rf"(?:{_RLIT}"
    # PG ARRAY[...] constructor (still bracket-spelled this early —
    # user-type rewriting runs before the dialect pass)
    rf"|ARRAY\s*\[(?:[^\[\]']|{_RLIT}|\[[^\[\]]*\])*\]"
    rf"|(?<![\w.$]){_KW_GUARD}"
    rf"[\w.]+\s*\({_PARENS5}\)"
    # the bare-identifier operand must not be the TYPE NAME inside a
    # chained cast (NULL::derived::base — 'derived' is not an operand)
    r"|(?<![\w.$:])[\w.$]+"
    rf"|\({_PARENS5}\))"
)

_CREATE_DOMAIN_RE = re.compile(
    r"^CREATE\s+DOMAIN\s+([\w.]+)\s+(?:AS\s+)?(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_DOMAIN_RE = re.compile(
    r"^DROP\s+DOMAIN\s+(IF\s+EXISTS\s+)?([\w.,\s]+?)\s*"
    r"(CASCADE|RESTRICT)?\s*$",
    re.IGNORECASE,
)
_CREATE_ENUM_RE = re.compile(
    r"^CREATE\s+TYPE\s+([\w.]+)\s+AS\s+ENUM\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_COMPOSITE_RE = re.compile(
    r"^CREATE\s+TYPE\s+([\w.]+)\s+AS\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_RANGE_RE = re.compile(
    r"^CREATE\s+TYPE\s+([\w.]+)\s+AS\s+RANGE\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# user range subtypes -> built-in range family suffix
# (functions/ranges.py: '' = DOUBLE bounds, '_i8' = DECIMAL(20,0),
# '_ts' = TIMESTAMP, '_str' = STRING)
_RANGE_SUBTYPE_SFX = {
    "int2": "", "smallint": "", "int4": "", "int": "", "integer": "",
    "int8": "_i8", "bigint": "_i8",
    "numeric": "", "decimal": "", "money": "",
    "float4": "", "real": "", "float8": "", "double precision": "",
    "timestamp": "_ts", "timestamptz": "_ts", "date": "_ts",
    "text": "_str", "varchar": "_str", "character varying": "_str",
    "bpchar": "_str", "char": "_str", "character": "_str",
    # the engine's TIME model is a zero-padded HH:MM:SS string, which
    # compares correctly as binary text
    "time": "_str",
}
_RANGE_SFX_ELEM = {
    "": "DOUBLE", "_i8": "DECIMAL(20,0)",
    "_ts": "TIMESTAMP", "_str": "STRING",
}
_CREATE_SHELL_RE = re.compile(
    r"^CREATE\s+TYPE\s+([\w.]+)\s*$", re.IGNORECASE
)
# full base-type definition (typecmds.c DefineType): CREATE TYPE name
# (input = fn, output = fn [, storage/compresstype/...]). The GP
# regress suite defines compression-encoding aliases of the builtins
# this way (int_rle_type &c) — the storage type follows from the
# input function's name
_CREATE_BASE_TYPE_RE = re.compile(
    r"^CREATE\s+TYPE\s+([\w.]+)\s*\(\s*(.*?\binput\s*=.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INPUT_FN_BASE = {
    "boolin": "boolean", "int2in": "int2", "int4in": "int4",
    "int8in": "int8", "float4in": "float4", "float8in": "float8",
    "numeric_in": "numeric", "textin": "text", "varcharin": "varchar",
    "bpcharin": "char(8)", "charin": "char(1)", "date_in": "date",
    "time_in": "time", "timestamp_in": "timestamp",
    "timestamptz_in": "timestamptz", "byteain": "bytea",
    "interval_in": "interval", "uuid_in": "text", "cash_in": "money",
}
_DROP_TYPE_RE = re.compile(
    r"^DROP\s+TYPE\s+(IF\s+EXISTS\s+)?([\w.,\s]+?)\s*"
    r"(CASCADE|RESTRICT)?\s*$",
    re.IGNORECASE,
)
_ALTER_DOMAIN_RE = re.compile(
    r"^ALTER\s+DOMAIN\s+([\w.]+)\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_ALTER_TYPE_RE = re.compile(
    r"^ALTER\s+TYPE\s+([\w.]+)\s+(.+)$", re.IGNORECASE | re.DOTALL
)

# constraint-clause openers inside a CREATE DOMAIN tail (depth-0 only)
_CONSTRAINT_KW_RE = re.compile(
    r"(?i)\b(DEFAULT|CONSTRAINT|CHECK|NOT\s+NULL|NULL|COLLATE)\b"
)


@dataclass
class Domain:
    base: str  # PG type spelling, re-emitted into `(x)::base`
    checks: list[tuple[str, str]] = field(default_factory=list)
    not_null: bool = False
    default: str | None = None


@dataclass
class Composite:
    fields: list[tuple[str, str]]  # (name, PG type spelling)


def _range_parse_body(body: str) -> tuple[str | None, str | None]:
    """rangetypes.c range_parse over an unquoted-literal body: the
    first char is the open flag, the last the close flag; bounds
    split at the top-level comma with CSV-like quoting — double
    quotes delimit verbatim segments ('""' is one quote), backslash
    escapes the next char anywhere, adjacent segments concatenate,
    and unquoted whitespace drops. An unquoted empty bound is
    infinite (None); a quoted empty bound is the empty string."""
    if (len(body) < 3 or body[0] not in "[(" or body[-1] not in ")]"):
        raise ValueError(f'malformed range literal: "{body}"')
    inner = body[1:-1]
    # raw keeps every char (unquoted-bound reading, edges stripped);
    # nows drops unquoted whitespace (quoted/escaped-bound reading)
    bounds: list[tuple[str, str, bool]] = []
    raw: list[str] = []
    nows: list[str] = []
    had_quote = False
    i, n = 0, len(inner)

    def push(ch: str) -> None:
        raw.append(ch)
        nows.append(ch)

    while i < n:
        ch = inner[i]
        if ch == "\\":
            if i + 1 >= n:
                raise ValueError(f'malformed range literal: "{body}"')
            had_quote = True  # escaped chars are verbatim content
            push(inner[i + 1])
            i += 2
        elif ch == '"':
            had_quote = True
            i += 1
            closed = False
            while i < n:
                if inner[i] == "\\" and i + 1 < n:
                    push(inner[i + 1])
                    i += 2
                elif inner[i] == '"':
                    if i + 1 < n and inner[i + 1] == '"':
                        push('"')
                        i += 2
                    else:
                        i += 1
                        closed = True
                        break
                else:
                    push(inner[i])
                    i += 1
            if not closed:
                raise ValueError(f'malformed range literal: "{body}"')
        elif ch == ",":
            bounds.append(("".join(raw), "".join(nows), had_quote))
            raw, nows, had_quote = [], [], False
            i += 1
        elif ch in ")]":
            # range_parse: an unquoted close char terminates the
            # range — anything before the final position is "junk
            # after right parenthesis" territory
            raise ValueError(f'malformed range literal: "{body}"')
        else:
            raw.append(ch)
            if not ch.isspace():
                nows.append(ch)
            i += 1
    bounds.append(("".join(raw), "".join(nows), had_quote))
    if len(bounds) != 2:
        raise ValueError(f'malformed range literal: "{body}"')

    def finish(rawv: str, nowsv: str, quoted: bool) -> str | None:
        if quoted:
            return nowsv
        rawv = rawv.strip()
        return rawv if rawv else None

    return finish(*bounds[0]), finish(*bounds[1])


def _take_balanced(s: str, start: int) -> int:
    """s[start] == '(' -> index just past the matching ')'."""
    depth = 0
    for i in range(start, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError("unbalanced parentheses in type definition")


class UserTypes:
    """Session registry + SQL rewriter for domains/composites/enums."""

    def __init__(self) -> None:
        self.domains: dict[str, Domain] = {}
        self.composites: dict[str, Composite] = {}
        self.enums: dict[str, list[str]] = {}
        # CREATE TYPE ... AS RANGE: name -> built-in family suffix
        self.ranges: dict[str, str] = {}
        self._anon_ck = 0

    @property
    def empty(self) -> bool:
        return not (
            self.domains or self.composites or self.enums or self.ranges
        )

    # ------------------------------------------------------------ DDL
    def maybe_ddl(self, s: str) -> bool:
        """Consume a CREATE/ALTER/DROP DOMAIN|TYPE statement; True if
        handled."""
        if re.match(r"(?i)^CREATE\s+TYPE\b", s):
            # quoted attribute labels ("Internallength" = 4, "Input" =
            # fn): DefineType matches defel names case-insensitively
            # (typecmds.c via pg_strcasecmp) — unquote identifiers so
            # the attribute regexes below see them
            s = re.sub(r'"([A-Za-z_]\w*)"', r"\1", s)
        m = _CREATE_ENUM_RE.match(s)
        if m:
            labels = [
                p.strip()[1:-1].replace("''", "'")
                for p in _split_commas(m.group(2))
            ]
            self.enums[self._key(m.group(1))] = labels
            return True
        m = _CREATE_RANGE_RE.match(s)
        if m:
            # rangetypes.c DefineRange: the subtype picks the bound
            # family; canonical/subtype_diff functions are advisory
            # here (user canonicalization is not replayed)
            opts = {}
            for p in _split_commas(m.group(2)):
                if "=" in p:
                    k, v = p.split("=", 1)
                    opts[k.strip().lower()] = v.strip()
            subtype = opts.get("subtype", "").lower()
            subtype = re.sub(r"\(.*\)", "", subtype).strip()
            dom = self.domains.get(self._key(subtype))
            if dom is not None:
                subtype = re.sub(
                    r"\(.*\)", "", dom.base.lower()
                ).strip()
            sfx = _RANGE_SUBTYPE_SFX.get(subtype)
            if sfx is None:
                raise NotImplementedError(
                    f"CREATE TYPE AS RANGE over subtype {subtype!r} "
                    "is not supported (numeric / timestamp / date / "
                    "text subtypes lower to the built-in families)"
                )
            self.ranges[self._key(m.group(1))] = sfx
            return True
        m = _CREATE_COMPOSITE_RE.match(s)
        if m:
            flds = []
            for item in _split_commas(m.group(2)):
                fm = re.match(r"(\w+)\s+(.+?)(?:\s+COLLATE\s+\S+)?$",
                              item.strip(), re.IGNORECASE | re.DOTALL)
                if not fm:
                    raise ValueError(
                        f"bad composite attribute: {item!r}")
                flds.append((fm.group(1).lower(), fm.group(2).strip()))
            self.composites[self._key(m.group(1))] = Composite(flds)
            return True
        m = _CREATE_DOMAIN_RE.match(s)
        if m:
            d = self._parse_domain(m.group(2).strip())
            # a domain over another domain inherits base + constraints
            # (typecmds.c DefineDomain over a domain type)
            bkey = self._key(d.base.split("(")[0].strip())
            parent = self.domains.get(bkey)
            if parent is not None:
                d = Domain(
                    base=parent.base,
                    checks=parent.checks + d.checks,
                    not_null=parent.not_null or d.not_null,
                    default=d.default if d.default is not None
                    else parent.default,
                )
            self.domains[self._key(m.group(1))] = d
            return True
        m = _ALTER_DOMAIN_RE.match(s)
        if m:
            return self._alter_domain(self._key(m.group(1)),
                                      m.group(2).strip())
        # GP column-compression directives over ANY type spelling
        # (incl. multi-word and parameterized builtins): storage-layer
        # no-op here — parquet encoding is Spark's job
        if re.match(
            r"(?is)^ALTER\s+TYPE\s+.+?\bSET\s+DEFAULT\s+ENCODING\s*\(",
            s,
        ):
            return True
        m = _ALTER_TYPE_RE.match(s)
        if m:
            return self._alter_type(self._key(m.group(1)),
                                    m.group(2).strip())
        m = _DROP_DOMAIN_RE.match(s)
        if m:
            return self._drop(m.group(2), (self.domains,),
                              bool(m.group(1)), "domain")
        m = _DROP_TYPE_RE.match(s)
        if m:
            return self._drop(m.group(2),
                              (self.composites, self.enums,
                               self.ranges),
                              bool(m.group(1)), "type")
        m = _CREATE_BASE_TYPE_RE.match(s)
        if m:
            im = re.search(r"(?i)\binput\s*=\s*([\w.]+)", m.group(2))
            base = _INPUT_FN_BASE.get(
                im.group(1).split(".")[-1].lower() if im else "",
                "text",
            )
            # register as a zero-constraint domain: column decls and
            # ::casts then lower through the existing domain path
            self.domains[self._key(m.group(1))] = Domain(base=base)
            return True
        m = _CREATE_SHELL_RE.match(s)
        if m:
            # shell type (typecmds.c): registers as a text-base alias
            # so I/O-function signatures over it resolve before the
            # full CREATE TYPE (name (input=...)) arrives
            self.domains.setdefault(self._key(m.group(1)),
                                    Domain(base="text"))
            return True
        return False

    @staticmethod
    def _key(name: str) -> str:
        return name.split(".")[-1].lower()

    def _drop(self, names: str, stores, if_exists: bool,
              kind: str) -> bool:
        for raw in names.split(","):
            k = self._key(raw.strip())
            hit = False
            for st in stores:
                if st.pop(k, None) is not None:
                    hit = True
            if not hit and not if_exists:
                raise ValueError(f'{kind} "{k}" does not exist')
        return True

    def _alter_type(self, key: str, action: str) -> bool:
        """ALTER TYPE ... RENAME TO / ADD VALUE (typecmds.c
        RenameType, AddEnumLabel; regress enum.sql renames bogus ->
        bogon between probes). Unhandled actions return False so the
        statement stays loud."""
        # composite attribute surgery (typecmds.c ATExecAddColumn &c
        # over rowtypes; regress alter_table.sql test_type family) —
        # comma-separated multi-action lists apply in order
        if key in self.composites and re.match(
            r"(?is)^(ADD|DROP|ALTER|RENAME)\s+ATTRIBUTE\b", action
        ):
            comp = self.composites[key]
            for act in _split_commas(action):
                act = re.sub(r"(?is)\s+CASCADE\s*$|\s+RESTRICT\s*$",
                             "", act.strip())
                am = re.match(
                    r"(?is)^ADD\s+ATTRIBUTE\s+(\w+)\s+(.+)$", act)
                if am:
                    comp.fields.append(
                        (am.group(1).lower(), am.group(2).strip()))
                    continue
                am = re.match(
                    r"(?is)^DROP\s+ATTRIBUTE\s+(IF\s+EXISTS\s+)?"
                    r"(\w+)$", act)
                if am:
                    k2 = am.group(2).lower()
                    if not any(f == k2 for f, _ in comp.fields) and \
                            not am.group(1):
                        raise ValueError(
                            f'column "{k2}" of relation "{key}" '
                            "does not exist")
                    comp.fields = [
                        (f, t) for f, t in comp.fields if f != k2]
                    continue
                am = re.match(
                    r"(?is)^ALTER\s+ATTRIBUTE\s+(\w+)\s+(?:SET\s+DATA"
                    r"\s+)?TYPE\s+(.+)$", act)
                if am:
                    k2 = am.group(1).lower()
                    comp.fields = [
                        (f, am.group(2).strip() if f == k2 else t)
                        for f, t in comp.fields]
                    continue
                am = re.match(
                    r"(?is)^RENAME\s+ATTRIBUTE\s+(\w+)\s+TO\s+(\w+)$",
                    act)
                if am:
                    comp.fields = [
                        (am.group(2).lower() if f == am.group(1).lower()
                         else f, t)
                        for f, t in comp.fields]
                    continue
                raise ValueError(
                    f"ALTER TYPE: unsupported attribute action: {act!r}")
            return True
        if re.match(
            r"(?is)^SET\s+DEFAULT\s+ENCODING\s*\(|^SET\s+SCHEMA\s+"
            r"|^OWNER\s+TO\s+",
            action,
        ):
            # GP storage-encoding defaults / schema moves / ownership
            # (typecmds.c + GP gram.y): catalog bookkeeping with no
            # engine surface — accepted no-ops (schemas collapse to
            # the one per-session namespace)
            return True
        rm = re.match(r"(?is)^RENAME\s+TO\s+([\w.\"]+)\s*$", action)
        if rm:
            new = self._key(rm.group(1).strip('"'))
            hit = False
            for store in (self.enums, self.composites, self.domains,
                          self.ranges):
                if key in store:
                    store[new] = store.pop(key)
                    hit = True
            if not hit:
                raise ValueError(f'type "{key}" does not exist')
            return True
        am = re.match(
            r"(?is)^ADD\s+VALUE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"'((?:[^']|'')*)'"
            r"(?:\s+(BEFORE|AFTER)\s+'((?:[^']|'')*)')?\s*$",
            action,
        )
        if am and key in self.enums:
            label = am.group(1).replace("''", "'")
            labels = self.enums[key]
            if label in labels:
                return True
            if am.group(2):
                anchor = am.group(3).replace("''", "'")
                if anchor not in labels:
                    raise ValueError(
                        f'"{anchor}" is not an existing enum label')
                i = labels.index(anchor)
                labels.insert(
                    i if am.group(2).upper() == "BEFORE" else i + 1,
                    label,
                )
            else:
                labels.append(label)
            return True
        # RENAME VALUE 'a' TO 'b' (typecmds.c RenameEnumLabel)
        rv = re.match(
            r"(?is)^RENAME\s+VALUE\s+'((?:[^']|'')*)'\s+TO\s+"
            r"'((?:[^']|'')*)'\s*$", action)
        if rv and key in self.enums:
            old = rv.group(1).replace("''", "'")
            new_l = rv.group(2).replace("''", "'")
            labels = self.enums[key]
            if old not in labels:
                raise ValueError(
                    f'"{old}" is not an existing enum label')
            if new_l in labels:
                raise ValueError(
                    f'enum label "{new_l}" already exists')
            labels[labels.index(old)] = new_l
            return True
        return False

    def _parse_domain(self, tail: str) -> Domain:
        km = _CONSTRAINT_KW_RE.search(tail)
        base = (tail[: km.start()] if km else tail).strip()
        if not base:
            raise ValueError("CREATE DOMAIN: missing base type")
        # PG ignores declared array dimensions (arrays.sgml: int[2] is
        # documentation only) — normalize so the base re-emits as the
        # dialect's dimension-less `::type[]` cast spelling
        base = re.sub(r"\[\s*\d*\s*\]", "[]", base)
        d = Domain(base=base)
        rest = tail[km.start():] if km else ""
        cname = None
        while rest:
            rest = rest.lstrip()
            if not rest:
                break
            mm = re.match(r"(?i)CONSTRAINT\s+(\w+)\s+", rest)
            if mm:
                cname = mm.group(1)
                rest = rest[mm.end():]
                continue
            mm = re.match(r"(?i)NOT\s+NULL\b", rest)
            if mm:
                d.not_null = True
                rest = rest[mm.end():]
                cname = None
                continue
            mm = re.match(r"(?i)NULL\b", rest)
            if mm:
                rest = rest[mm.end():]
                cname = None
                continue
            mm = re.match(r"(?i)COLLATE\s+\S+", rest)
            if mm:
                rest = rest[mm.end():]
                continue
            mm = re.match(r"(?i)CHECK\s*\(", rest)
            if mm:
                end = _take_balanced(rest, mm.end() - 1)
                body = rest[mm.end(): end - 1].strip()
                if cname is None:
                    self._anon_ck += 1
                    cname = f"check{self._anon_ck}"
                d.checks.append((cname, body))
                cname = None
                rest = rest[end:]
                continue
            mm = re.match(r"(?i)DEFAULT\s+", rest)
            if mm:
                nxt = _CONSTRAINT_KW_RE.search(rest, mm.end())
                d.default = rest[mm.end(): nxt.start() if nxt
                                 else len(rest)].strip()
                rest = rest[nxt.start():] if nxt else ""
                continue
            raise ValueError(
                f"CREATE DOMAIN: unrecognized clause: {rest[:40]!r}")
        return d

    def _alter_domain(self, name: str, action: str) -> bool:
        d = self.domains.get(name)
        if d is None:
            raise ValueError(f'domain "{name}" does not exist')
        # NOT VALID defers the check to new values only (typecmds.c
        # AlterDomainAddConstraint) — the engine has no stored rows
        # to re-validate, so it reduces to the plain ADD; VALIDATE
        # CONSTRAINT later is then a no-op
        action = re.sub(r"(?is)\s+NOT\s+VALID\s*$", "", action)
        if re.match(
            r"(?is)^VALIDATE\s+CONSTRAINT\s+|^SET\s+SCHEMA\s+"
            r"|^OWNER\s+TO\s+",
            action,
        ):
            return True
        mm = re.match(r"(?i)ADD\s+(.+)$", action, re.DOTALL)
        if mm:
            sub = self._parse_domain(f"{d.base} {mm.group(1)}")
            d.checks.extend(sub.checks)
            d.not_null = d.not_null or sub.not_null
            return True
        mm = re.match(r"(?i)DROP\s+CONSTRAINT\s+(IF\s+EXISTS\s+)?(\w+)",
                      action)
        if mm:
            d.checks = [c for c in d.checks if c[0] != mm.group(2)]
            return True
        if re.match(r"(?i)SET\s+NOT\s+NULL", action):
            d.not_null = True
            return True
        if re.match(r"(?i)DROP\s+NOT\s+NULL", action):
            d.not_null = False
            return True
        mm = re.match(r"(?i)SET\s+DEFAULT\s+(.+)$", action, re.DOTALL)
        if mm:
            d.default = mm.group(1).strip()
            return True
        if re.match(r"(?i)DROP\s+DEFAULT", action):
            d.default = None
            return True
        mm = re.match(r"(?i)RENAME\s+TO\s+(\w+)", action)
        if mm:
            # typecmds.c RenameType over a domain: move the registry
            # entry; existing lowered casts keep the base type
            self.domains[mm.group(1).lower()] = self.domains.pop(name)
            return True
        mm = re.match(r"(?i)RENAME\s+CONSTRAINT\s+(\w+)\s+TO\s+(\w+)",
                      action)
        if mm:
            d.checks = [(mm.group(2) if cn == mm.group(1) else cn, ck)
                        for cn, ck in d.checks]
            return True
        raise ValueError(f"ALTER DOMAIN: unsupported action: {action!r}")

    # -------------------------------------------------------- rewrite
    def rewrite(self, sql: str) -> str:
        """Lower every `::usertype` / `CAST(x AS usertype)` in a query
        to base-type expressions. Runs before the main dialect pass."""
        if self.empty:
            return sql
        # fixpoint: chained casts over user types (NULL::derived::base,
        # a domain over another domain) need the outer cast re-examined
        # after the inner one lowers
        for _ in range(4):
            before = sql
            for name, labels in self.enums.items():
                sql = self._rewrite_enum(sql, name, labels)
            for name, comp in self.composites.items():
                sql = self._rewrite_composite(sql, name, comp)
            for name, dom in self.domains.items():
                sql = self._rewrite_domain(sql, name, dom)
            for name, sfx in self.ranges.items():
                sql = self._rewrite_range(sql, name, sfx)
            if sql == before:
                break
        return sql

    def _rewrite_range(self, sql: str, name: str, sfx: str) -> str:
        """Lower a user range type (rangetypes.c DefineRange): the
        constructor call `name(lo, hi[, bounds])` and the range_in
        literal cast `'[a,b)'::name` both become pg_range{sfx}(...)
        over the matching built-in bound family — downstream range
        operators and accessors then route on the pg_range head
        exactly like the built-in range types."""
        if not re.search(rf"(?i)\b{name}\b", sql):
            return sql
        t = _RANGE_SFX_ELEM[sfx]
        sql = self._normalize_cast_fn(sql, name)
        empty_struct = (
            f"named_struct('lo', CAST(NULL AS {t}), "
            f"'hi', CAST(NULL AS {t}), 'li', false, 'hi_i', false, "
            "'empty', true)"
        )

        def bound_expr(v: str | None) -> str:
            if v is None:
                return f"CAST(NULL AS {t})"
            esc = v.replace("'", "''")
            return f"CAST('{esc}' AS {t})"

        def sub_lit_cast(m: re.Match) -> str:
            body = m.group(1)[1:-1].replace("''", "'").strip()
            if body.lower() == "empty":
                return empty_struct
            lo, hi = _range_parse_body(body)
            li = "true" if body[0] == "[" else "false"
            hi_i = "true" if body[-1] == "]" else "false"
            if lo is not None and hi is not None:
                # make_range: lower must be <= upper; comparable at
                # plan time for string and numeric families
                bad = None
                try:
                    if sfx in ("", "_i8"):
                        bad = float(lo) > float(hi)
                    elif sfx == "_str":
                        bad = lo > hi
                except ValueError:
                    bad = None
                if bad:
                    raise ValueError(
                        "range lower bound must be less than or "
                        "equal to range upper bound")
            return (
                f"pg_range{sfx}({bound_expr(lo)}, "
                f"{bound_expr(hi)}, {li}, {hi_i})"
            )

        sql = re.sub(
            rf"(?is)('(?:[^']|'')*')\s*::\s*{name}\b",
            sub_lit_cast,
            sql,
        )

        def sub_ctor(m: re.Match) -> str:
            args = [a.strip() for a in _split_commas(m.group(1))]
            if len(args) not in (2, 3):
                return m.group(0)
            li, hi_i = "true", "false"  # PG default '[)'
            if len(args) == 3:
                bm = re.match(
                    r"^\s*'([\[(])([\])])'\s*$", args[2].strip()
                )
                if bm is None:
                    return m.group(0)
                li = "true" if bm.group(1) == "[" else "false"
                hi_i = "true" if bm.group(2) == "]" else "false"
            # make_range bound order, checkable when both constructor
            # args are plain literals (rangetypes.c: C-collation text
            # compare, so 'a' > 'Z' bytewise raises)
            lm_ = re.match(r"^\s*'((?:[^']|'')*)'\s*$", args[0])
            hm_ = re.match(r"^\s*'((?:[^']|'')*)'\s*$", args[1])
            nm_ = (re.match(r"^\s*-?\d+(?:\.\d+)?\s*$", args[0]),
                   re.match(r"^\s*-?\d+(?:\.\d+)?\s*$", args[1]))
            bad = None
            if lm_ and hm_ and sfx == "_str":
                bad = (lm_.group(1).replace("''", "'")
                       > hm_.group(1).replace("''", "'"))
            elif nm_[0] and nm_[1] and sfx in ("", "_i8"):
                bad = float(nm_[0].group(0)) > float(nm_[1].group(0))
            if bad:
                raise ValueError(
                    "range lower bound must be less than or "
                    "equal to range upper bound")
            return (
                f"pg_range{sfx}(CAST(({args[0].strip()}) AS {t}), "
                f"CAST(({args[1].strip()}) AS {t}), {li}, {hi_i})"
            )

        return re.sub(
            rf"(?is)\b{name}\s*\(((?:[^()]|\([^()]*\))*)\)",
            sub_ctor,
            sql,
        )

    # CAST(x AS t) -> x::t, for one known type name (so the operand
    # rewrites below see a single spelling)
    @staticmethod
    def _normalize_cast_fn(sql: str, name: str) -> str:
        pat = re.compile(rf"(?is)\bCAST\s*\(", re.IGNORECASE)
        out, i = [], 0
        while True:
            m = pat.search(sql, i)
            if not m:
                out.append(sql[i:])
                break
            end = _take_balanced(sql, m.end() - 1)
            inner = sql[m.end(): end - 1]
            am = re.search(rf"(?is)\s+AS\s+{name}\s*$", inner)
            if am:
                out.append(sql[i: m.start()])
                out.append(f"(({inner[: am.start()]})::{name})")
            else:
                out.append(sql[i: end])
            i = end
        return "".join(out)

    def _rewrite_enum(self, sql: str, name: str,
                      labels: list[str]) -> str:
        if not re.search(rf"(?i)\b{name}\b", sql):
            return sql
        sql = self._normalize_cast_fn(sql, name)
        # enum_first/enum_last/enum_range fold to constants (enum.c)
        sql = re.sub(
            rf"(?is)\benum_first\s*\(\s*NULL\s*::\s*{name}\s*\)",
            f"'{labels[0]}'", sql)
        sql = re.sub(
            rf"(?is)\benum_last\s*\(\s*NULL\s*::\s*{name}\s*\)",
            f"'{labels[-1]}'", sql)
        arr = "array(" + ", ".join(f"'{v}'" for v in labels) + ")"
        sql = re.sub(
            rf"(?is)\benum_range\s*\(\s*NULL\s*::\s*{name}\s*\)",
            arr, sql)

        def lower(op: str) -> str:
            """One cast operand -> its text value. Literals validate at
            plan time (enum.c enum_in); non-literal casts carry a
            runtime label guard (if/raise_error, NOT assert_true — see
            the domain rewrite's NullType note)."""
            if op.startswith("'") and op.endswith("'"):
                lab = op[1:-1].replace("''", "'")
                if lab not in labels:
                    raise ValueError(
                        f"invalid input value for enum {name}: "
                        f'"{lab}"')
                return op
            if op.upper() == "NULL":
                return "CAST(NULL AS STRING)"
            v = f"CAST({op} AS STRING)"
            return (
                f"if({v} IS NULL OR array_contains({arr}, {v}), {v}, "
                f"raise_error(concat('invalid input value for enum "
                f"{name}: \"', {v}, '\"')))"
            )

        def ordinal(op: str) -> str:
            # enumsortorder: 1-based declaration position (enum.c)
            return f"array_position({arr}, {lower(op)})"

        # --- declaration-order semantics (enum.c enum_cmp): lower
        # comparison contexts through array_position ordinals so
        # ordering follows enumsortorder, not lexicographic text.
        def sub_enum_arr(m: re.Match) -> str:
            body = m.group(1)[1:-1].replace("''", "'").strip()
            if not (body.startswith("{") and body.endswith("}")):
                raise ValueError(
                    f'malformed array literal: "{body}"')
            inner = body[1:-1].strip()
            elems = [
                e.strip().strip('"') for e in inner.split(",")
            ] if inner else []
            for e in elems:
                if e not in labels:
                    raise ValueError(
                        f"invalid input value for enum {name}: "
                        f'"{e}"')
            return "array(" + ", ".join(
                "'" + e.replace("'", "''") + "'" for e in elems
            ) + ")"

        sql = re.sub(
            rf"(?is)('(?:[^']|'')*')\s*::\s*{name}\s*\[\s*\]",
            sub_enum_arr,
            sql,
        )
        cast = rf"({_OPERAND})\s*::\s*{name}\b(?!\s*\[)"
        # both-sides enum-cast inequality
        sql = re.sub(
            rf"(?is){cast}\s*(<=|>=|<|>)\s*{cast}",
            lambda m: f"({ordinal(m.group(1))} {m.group(2)} "
                      f"{ordinal(m.group(3))})",
            sql)
        # ORDER BY leading key on an enum cast
        sql = re.sub(
            rf"(?is)\b(ORDER\s+BY\s+){cast}",
            lambda m: f"{m.group(1)}{ordinal(m.group(2))}",
            sql)
        # min/max aggregate over an enum cast: aggregate the ordinal,
        # map back to the label (element_at is 1-based, like ordinals)
        sql = re.sub(
            rf"(?is)\b(min|max)\s*\(\s*{cast}\s*\)",
            lambda m: f"element_at({arr}, CAST({m.group(1)}("
                      f"{ordinal(m.group(2))}) AS INT))",
            sql)
        # least/greatest with every argument an enum cast
        sql = re.sub(
            rf"(?is)\b(least|greatest)\s*\(\s*{cast}\s*"
            rf"(?:,\s*{cast}\s*)+\)",
            lambda m: (
                f"element_at({arr}, CAST({m.group(1)}("
                + ", ".join(
                    ordinal(op) for op in re.findall(
                        rf"(?is)({_OPERAND})\s*::\s*{name}\b",
                        m.group(0)[m.group(0).index("("):])
                ) + ") AS INT))"
            ),
            sql)

        return re.sub(
            rf"(?is)({_OPERAND})\s*::\s*{name}\b(?!\s*\[)",
            lambda m: lower(m.group(1)), sql)

    def _rewrite_composite(self, sql: str, name: str,
                           comp: Composite) -> str:
        if not re.search(rf"(?i)\b{name}\b", sql):
            return sql
        sql = self._normalize_cast_fn(sql, name)

        # json[b]_populate_record(set)(NULL::comp, j) (jsonfuncs.c):
        # the composite's fields ARE a from_json schema — missing keys
        # come back NULL, extra keys are ignored, exactly PG's rule
        from warehouse_pg_spark.sql_dialect import map_decl_type

        schema = ", ".join(
            f"{f} {map_decl_type(t)}" for f, t in comp.fields
        )
        sql = re.sub(
            rf"(?is)\bjsonb?_populate_record\s*\(\s*NULL\s*::\s*{name}"
            rf"\s*,\s*({_RLIT}|[\w.]+)\s*\)",
            lambda m: f"from_json({m.group(1)}, '{schema}')",
            sql,
        )
        sql = re.sub(
            rf"(?is)\bjsonb?_populate_recordset\s*\(\s*NULL\s*::\s*"
            rf"{name}\s*,\s*({_RLIT}|[\w.]+)\s*\)",
            lambda m: (
                f"explode(from_json({m.group(1)}, "
                f"'ARRAY<STRUCT<{schema}>>'))"
            ),
            sql,
        )

        def sub_populate_base(m: re.Match) -> str:
            # base-record merge (populate_record with a non-NULL base):
            # a key PRESENT in the json overrides the base field (an
            # explicit json null sets NULL); a missing key keeps the
            # base value — key presence via json_object_keys
            base, j = m.group(1).strip(), m.group(2).strip()
            # the ::name cast keeps the ROW form so the generic
            # composite-cast pass below lowers it to named_struct
            base_struct = f"({base}::{name})"
            parts = [
                f"'{f}', IF(array_contains(json_object_keys({j}), "
                f"'{f}'), from_json({j}, '{schema}').{f}, "
                f"{base_struct}.{f})"
                for f, _t in comp.fields
            ]
            return f"named_struct({', '.join(parts)})"

        sql = re.sub(
            rf"(?is)\bjsonb?_populate_record\s*\(\s*"
            rf"(ROW\s*\((?:[^()']|{_RLIT})*\))\s*::\s*{name}\s*,\s*"
            rf"({_RLIT}|[\w.]+)\s*\)",
            sub_populate_base,
            sql,
        )

        def sub_populate_base_set(m: re.Match) -> str:
            # recordset with a non-NULL base: the merge applies per
            # array element (jsonfuncs.c populate_recordset_worker)
            base, j = m.group(1).strip(), m.group(2).strip()
            base_struct = f"({base}::{name})"
            parts = [
                f"'{f}', IF(array_contains(json_object_keys(__o), "
                f"'{f}'), from_json(__o, '{schema}').{f}, "
                f"{base_struct}.{f})"
                for f, _t in comp.fields
            ]
            return (
                f"explode(transform(from_json({j}, 'array<string>'), "
                f"__o -> named_struct({', '.join(parts)})))"
            )

        sql = re.sub(
            rf"(?is)\bjsonb?_populate_recordset\s*\(\s*"
            rf"(ROW\s*\((?:[^()']|{_RLIT})*\))\s*::\s*{name}\s*,\s*"
            rf"({_RLIT}|[\w.]+)\s*\)",
            sub_populate_base_set,
            sql,
        )

        def build(args: list[str]) -> str:
            if len(args) != len(comp.fields):
                raise ValueError(
                    f"cannot cast {len(args)} fields to composite "
                    f"{name} ({len(comp.fields)} attributes)")
            parts = [
                f"'{f}', ({a})::{t}"
                for (f, t), a in zip(comp.fields, args)
            ]
            return f"named_struct({', '.join(parts)})"

        def sub(m: re.Match) -> str:
            op = m.group(1).strip()
            # strip redundant outer parens that WRAP the whole operand
            # ((ROW(..)) from a prior fixpoint pass, ((1.1,2.2))) so
            # the ROW / tuple forms below see the bare spelling — but
            # never a paren pair that IS the anonymous tuple itself
            while (
                op.startswith("(") and op.endswith(")")
                and _take_balanced(op, 0) == len(op)
            ):
                inner = op[1:-1].strip()
                if re.match(r"(?is)^ROW\s*\(", inner) or (
                    inner.startswith("(")
                    and _take_balanced(inner, 0) == len(inner)
                ):
                    op = inner
                    continue
                break
            if re.match(r"(?is)^E'", op) and op.endswith("'"):
                # E'' escape-string spelling (scan.l xe): decode the
                # backslash escapes first, then record_in as usual
                body = op[2:-1].replace("''", "'")
                body = re.sub(
                    r"\\(.)",
                    lambda e: {"n": "\n", "t": "\t", "r": "\r",
                               "b": "\b", "f": "\f"}.get(
                        e.group(1), e.group(1)),
                    body,
                )
                op = "'" + body.replace("'", "''") + "'"
            if op.startswith("'") and op.endswith("'"):
                # composite literal '(a,b)' (rowtypes.c record_in):
                # comma-delimited; double-quote quoting admits commas/
                # whitespace with "" and backslash escapes; an empty
                # unquoted field is NULL
                body = op[1:-1].replace("''", "'").strip()
                if not (body.startswith("(") and body.endswith(")")):
                    raise ValueError(
                        f"malformed record literal: {op}")
                inner = body[1:-1]
                fields: list[str | None] = []
                buf: list[str] = []
                had_quote, i, n = False, 0, len(inner)
                while True:
                    if i >= n or (inner[i] == ","):
                        tok = "".join(buf)
                        if not had_quote:
                            tok = tok.strip()
                        fields.append(
                            None if (tok == "" and not had_quote)
                            else tok
                        )
                        buf, had_quote = [], False
                        if i >= n:
                            break
                        i += 1
                        continue
                    ch = inner[i]
                    if ch == '"':
                        had_quote = True
                        i += 1
                        while i < n:
                            if inner[i] == '"':
                                if i + 1 < n and inner[i + 1] == '"':
                                    buf.append('"')
                                    i += 2
                                    continue
                                i += 1
                                break
                            if inner[i] == "\\" and i + 1 < n:
                                buf.append(inner[i + 1])
                                i += 2
                                continue
                            buf.append(inner[i])
                            i += 1
                        continue
                    if ch == "\\" and i + 1 < n:
                        buf.append(inner[i + 1])
                        had_quote = True  # escaped: value, not padding
                        i += 2
                        continue
                    buf.append(ch)
                    i += 1
                args = [
                    "NULL" if f is None
                    else "'" + f.replace("'", "''") + "'"
                    for f in fields
                ]
                return build(args)
            if re.match(r"(?is)^ROW\s*\(", op):
                inner = op[op.index("("): ]
                return build([a.strip() for a in _split_commas(inner[1:-1])])
            if op.startswith("(") and op.endswith(")"):
                return build([a.strip() for a in _split_commas(op[1:-1])])
            if op.upper() == "NULL":
                # typed NULL record: NULL of the struct shape
                from warehouse_pg_spark.sql_dialect import map_decl_type

                return ("CAST(NULL AS STRUCT<"
                        + ", ".join(f"{f}: {map_decl_type(t)}"
                                    for f, t in comp.fields) + ">)")
            return op  # already a struct-valued expression

        sql = re.sub(
            rf"(?is)(ROW\s*\((?:[^()']|{_RLIT}|\([^()]*\))*\)"
            rf"|E{_RLIT}|{_OPERAND})"
            rf"\s*::\s*{name}\b",
            sub, sql)
        return sql

    def _rewrite_domain(self, sql: str, name: str, dom: Domain) -> str:
        if not re.search(rf"(?i)\b{name}\b", sql):
            return sql
        sql = self._normalize_cast_fn(sql, name)
        # a domain over a COMPOSITE base (typecmds.c: domains may wrap
        # row types; regress json.sql j_ordered_pair): resolve the
        # name to the base composite so the composite pass's
        # populate_record / record-literal lowerings apply, and wrap
        # value-producing sites with the domain's CHECKs — the
        # populate_record RESULT is domain-typed in PG
        # (jsonfuncs.c populate_composite -> domain_check)
        base_key = self._key(re.sub(r"\(.*\)", "", dom.base).strip())
        if base_key in self.composites:
            def _checked(val: str) -> str:
                conds = []
                if dom.not_null:
                    conds.append(
                        (f"{name}_not_null", f"{val} IS NOT NULL"))
                for cn, body in dom.checks:
                    from warehouse_pg_spark.sql_dialect import (
                        _mask, _unmask,
                    )

                    masked, lits = _mask(body)
                    cond = _unmask(
                        re.sub(r"(?i)\bVALUE\b",
                               val.replace("\\", "\\\\"), masked),
                        lits,
                    )
                    conds.append((cn, f"coalesce({cond}, true)"))
                expr = val
                for cn, c in reversed(conds):
                    expr = (
                        f"if({c}, {expr}, raise_error('value for "
                        f"domain {name} violates check constraint "
                        f'"{cn}"' + "'))"
                    )
                return f"({expr})" if conds else val

            def sub_populate(m: re.Match) -> str:
                # convert the INNER cast to the base spelling (the
                # composite pass's populate lowering matches on it),
                # then wrap the call's RESULT with the checks
                inner = re.sub(
                    rf"(?is)::\s*{name}\b", f"::{base_key}",
                    m.group(1),
                )
                return _checked(inner)

            sql = re.sub(
                rf"(?is)(\bjsonb?_populate_record\s*\(\s*"
                rf"(?:[^()]|\((?:[^()]|\([^()]*\))*\))*?"
                rf"::\s*{name}\b"
                rf"(?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))",
                sub_populate,
                sql,
            )
            # recordset results explode into rows; each produced
            # record is domain-typed, so the CHECKs apply PER ELEMENT
            # (jsonfuncs.c populate_recordset_worker -> domain_check)
            from warehouse_pg_spark.sql_dialect import map_decl_type

            comp = self.composites[base_key]
            schema = ", ".join(
                f"{f} {map_decl_type(t)}" for f, t in comp.fields)

            def sub_popset(m: re.Match) -> str:
                base, j = m.group(1).strip(), m.group(2).strip()
                if re.match(r"(?is)^NULL$", base):
                    elem = f"from_json(__o, 'STRUCT<{schema}>')"
                else:
                    bs = f"(({base})::{base_key})"
                    parts = [
                        f"'{f}', IF(array_contains("
                        f"json_object_keys(__o), '{f}'), "
                        f"from_json(__o, '{schema}').{f}, {bs}.{f})"
                        for f, _t in comp.fields
                    ]
                    elem = f"named_struct({', '.join(parts)})"
                return (
                    f"explode(transform(from_json({j}, "
                    f"'array<string>'), __o -> {_checked(elem)}))"
                )

            _RL = r"'(?:[^']|'')*'"
            sql = re.sub(
                rf"(?is)\bjsonb?_populate_recordset\s*\(\s*"
                rf"(NULL|ROW\s*\((?:[^()']|{_RL})*\))\s*::\s*{name}"
                rf"\s*,\s*({_RL}|[\w.]+)\s*\)",
                sub_popset,
                sql,
            )
            # unmatched shapes: inner cast converts, per-row check
            # stays relaxed (README)
            sql = re.sub(
                rf"(?is)(\bjsonb?_populate_recordset\s*\(\s*"
                rf"(?:[^()]|\((?:[^()]|\([^()]*\))*\))*?)"
                rf"::\s*{name}\b",
                rf"\1::{base_key}",
                sql,
            )

            def sub_comp_cast(m: re.Match) -> str:
                return _checked(f"(({m.group(1)})::{base_key})")

            sql = re.sub(
                rf"(?is)({_OPERAND})\s*::\s*{name}\b",
                sub_comp_cast,
                sql,
            )
            return re.sub(
                rf"(?is)::\s*{name}\b", f"::{base_key}", sql
            )

        def sub(m: re.Match) -> str:
            op = m.group(1)
            # keep literal operands unwrapped: downstream literal-cast
            # rewrites ('{1,2,3}'::int[] braced arrays, '...'::inet)
            # match on the bare literal::type spelling
            if re.fullmatch(rf"{_RLIT}|[\w.$]+", op):
                val = f"({op}::{dom.base})"
            else:
                val = f"(({op})::{dom.base})"
            conds = []
            if dom.not_null:
                conds.append((f"{name}_not_null", f"{val} IS NOT NULL"))
            for cn, body in dom.checks:
                # table-constraint truth table: NULL check = pass.
                # Mask string literals first so the word 'value'
                # INSIDE a literal (CHECK (VALUE IN ('value',...)))
                # is never substituted — same masking the dialect
                # rewrite uses.
                from warehouse_pg_spark.sql_dialect import (
                    _mask, _unmask,
                )

                masked, lits = _mask(body)
                cond = _unmask(
                    re.sub(r"(?i)\bVALUE\b", val.replace("\\", "\\\\"),
                           masked),
                    lits,
                )
                conds.append((cn, f"coalesce({cond}, true)"))
            if not conds:
                return val
            # if(cond, val, raise_error(...)) — NOT assert_true(..)
            # IS NULL: IsNull over a NullType child constant-folds to
            # true, silently skipping the assert
            expr = val
            for cn, c in reversed(conds):
                expr = (
                    f"if({c}, {expr}, raise_error('value for domain "
                    f"{name} violates check constraint \"{cn}\"'))"
                )
            return f"({expr})"

        sql = re.sub(rf"(?is)({_OPERAND})\s*::\s*{name}\b", sub, sql)
        # bare `name` as a column type in CREATE TABLE / function args
        # lowers to the base spelling (constraints apply at cast sites)
        sql = re.sub(
            rf"(?i)(\s){name}\b(?=\s*[,)\s])",
            lambda m: f"{m.group(1)}{dom.base}",
            sql,
        ) if re.match(r"(?is)^\s*CREATE\s+(TEMP\w*\s+)?TABLE\b", sql) \
            else sql
        return sql
