"""PG->Spark type-name mapping, CREATE TABLE column-def rewriting, braced {...} array literal parsing.

Split from sql_dialect.py (r14); see that module's docstring for
the shim-wide design rules (masked literals, bounded regexes,
anything unrecognized passes through loud).
"""

from __future__ import annotations

import re
from warehouse_pg_spark.dialect.mask import _MASK_RE, _NAME, _close_paren, _split_commas


_TYPE_MAP = {
    "text": "STRING",
    # fmgr C-string I/O pseudotype: text in the engine's model
    "cstring": "STRING",
    "varchar": "STRING",
    "bpchar": "STRING",
    "int2": "SMALLINT",
    "int4": "INT",
    "int8": "BIGINT",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "bool": "BOOLEAN",
    "numeric": "DECIMAL(38,18)",
    "timestamptz": "TIMESTAMP",
    # JSON is a STRING column in this model (README); bytea is binary;
    # the reg* identifier types and jsonpath collapse to their text form
    "json": "STRING",
    "jsonb": "STRING",
    "jsonpath": "STRING",
    "xml": "STRING",
    "bytea": "BINARY",
    "regclass": "STRING",
    "regtype": "STRING",
    "regproc": "STRING",
    "name": "STRING",
    "oid": "BIGINT",
    "unknown": "STRING",
}


def _parse_braced_elems_q(
    inner: str,
) -> list[tuple[str, bool]] | None:
    """array_in tokenizer for ONE-dimensional braced literal bodies
    (reference src/backend/utils/adt/arrayfuncs.c array_in): elements
    split on top-level commas; double-quoted elements may contain
    commas/braces/spaces; backslash escapes the next char. Returns None
    for nested arrays ('{' at element level) — those are not
    representable as a flat array<string> and must stay loud."""
    elems: list[tuple[str, bool]] = []
    buf: list[str] = []
    quoted = in_q = False
    i, n = 0, len(inner)
    while i < n:
        ch = inner[i]
        if in_q:
            if ch == "\\" and i + 1 < n:
                buf.append(inner[i + 1])
                i += 2
                continue
            if ch == '"':
                in_q = False
                i += 1
                continue
            buf.append(ch)
            i += 1
            continue
        if ch == '"':
            in_q = True
            quoted = True
            i += 1
            continue
        if ch == "\\" and i + 1 < n:
            buf.append(inner[i + 1])
            i += 2
            continue
        if ch in "{}":
            return None
        if ch == ",":
            s = "".join(buf)
            elems.append((s if quoted else s.strip(), quoted))
            buf, quoted = [], False
            i += 1
            continue
        buf.append(ch)
        i += 1
    if in_q:
        return None  # unterminated quote: malformed, stay loud
    s = "".join(buf)
    elems.append((s if quoted else s.strip(), quoted))
    return elems


def _parse_braced_elems(inner: str) -> list[str] | None:
    q = _parse_braced_elems_q(inner)
    return None if q is None else [s for s, _ in q]


def _parse_braced_tree(inner: str):
    """Nested array_in tokenizer (arrayfuncs.c array_in, multi-dim):
    elements are strings or sub-lists ('{...}' at element level).
    Returns None on malformed input."""
    elems: list = []
    buf: list[str] = []
    quoted = in_q = False
    pending: list | None = None
    i, n = 0, len(inner)

    def flush():
        nonlocal buf, quoted, pending
        if pending is not None:
            elems.append(pending)
            pending = None
        else:
            s = "".join(buf)
            elems.append(s if quoted else s.strip())
        buf, quoted = [], False

    while i < n:
        ch = inner[i]
        if in_q:
            if ch == "\\" and i + 1 < n:
                buf.append(inner[i + 1])
                i += 2
                continue
            if ch == '"':
                in_q = False
                i += 1
                continue
            buf.append(ch)
            i += 1
            continue
        if ch == '"':
            in_q = True
            quoted = True
            i += 1
            continue
        if ch == "\\" and i + 1 < n:
            buf.append(inner[i + 1])
            i += 2
            continue
        if ch == "{":
            depth, j, inq2 = 0, i, False
            while j < n:
                c2 = inner[j]
                if inq2:
                    if c2 == "\\":
                        j += 2
                        continue
                    if c2 == '"':
                        inq2 = False
                elif c2 == '"':
                    inq2 = True
                elif c2 == "{":
                    depth += 1
                elif c2 == "}":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= n:
                return None
            body = inner[i + 1 : j].strip()
            sub = _parse_braced_tree(body) if body else []
            if sub is None:
                return None
            pending = sub
            i = j + 1
            continue
        if ch == "}":
            return None
        if ch == ",":
            flush()
            i += 1
            continue
        buf.append(ch)
        i += 1
    if in_q:
        return None
    flush()
    return elems


def _braced_to_array(
    arr: str, lits: list[str], null_elems: bool = False
) -> str:
    """'{1,2,3}' braced array-literal text (array_in) → array('1','2',
    '3'); quoted elements keep embedded commas; nested/malformed bodies
    pass through unchanged (stay loud downstream). With null_elems,
    an UNQUOTED null becomes SQL NULL (array_in: only the bare word
    is the null datum) — the text[] paths of jsonb_set &c need it."""
    m = _MASK_RE.fullmatch(arr.strip())
    if not m:
        return arr
    body = lits[int(m.group(1))][1:-1].strip()
    if not (body.startswith("{") and body.endswith("}")):
        return arr
    inner = body[1:-1].strip()
    if not inner:
        return "array()"
    elems = _parse_braced_elems_q(inner)
    if elems is None:
        return arr
    return "array(" + ", ".join(
        "CAST(NULL AS STRING)"
        if null_elems and not q and e.lower() == "null"
        else "'" + e.replace("'", "''") + "'"
        for e, q in elems
    ) + ")"


_SERIAL_TYPES = {
    "serial": "INT",
    "serial4": "INT",
    "bigserial": "BIGINT",
    "serial8": "BIGINT",
    "smallserial": "SMALLINT",
    "serial2": "SMALLINT",
}

_CREATE_TABLE_DEFS_RE = re.compile(
    r"^(CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+"
    r"|UNLOGGED\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    rf"{_NAME}\s*)\(",
    re.IGNORECASE,
)

# column types with no Spark analogue: stored in their PG TEXT form
# (the engine's operators over these families read the text form —
# inet/money/geo/range text parsing lives in the dialect passes)
_COL_TEXT_TYPES = frozenset((
    "path", "box", "polygon", "lseg", "point", "circle", "line",
    "macaddr", "macaddr8", "cidr", "inet", "money", "timetz",
    "interval", "tsvector", "tsquery", "uuid", "bit", "varbit",
    "aclitem", "int2vector", "pg_lsn", "txid_snapshot",
    # cstring: the C-string I/O pseudotype (fmgr) — text here
    "cstring",
))

# per-column constraint clauses Spark's parser rejects (gram.y
# ColConstraint): dropped — PG enforces them, a lakehouse records them
# at best. NOT NULL survives (Spark parses it).
_COL_CONSTRAINT_RE = re.compile(
    # a named inline constraint (CONSTRAINT con1 CHECK ...) strips
    # with its clause (gram.y ColConstraint ConstraintAttr)
    r"\s+(?:CONSTRAINT\s+[\w\"]+\s+)?"
    r"(?:PRIMARY\s+KEY|UNIQUE|REFERENCES\s+[\w.]+(?:\s*\([^)]*\))?"
    r"|CHECK\s*\((?:[^()]|\([^()]*\))*\)"
    # bare NULL (explicit nullability, gram.y ColConstraint NULL_P):
    # Spark parses NOT NULL but not the affirmative spelling
    r"|NULL\b(?!\S)(?<!NOT NULL)"
    r"|DEFAULT\s+(?:[\w.]+\s*\([^()]*\)|'[^']*'|[\w.+-]+))",
    re.IGNORECASE,
)
_TABLE_CONSTRAINT_RE = re.compile(
    r"^\s*(?:CONSTRAINT\s+\w+\s+)?"
    r"(?:PRIMARY\s+KEY|UNIQUE|CHECK|FOREIGN\s+KEY|EXCLUDE)\b",
    re.IGNORECASE,
)


def _rewrite_create_table_defs(sql: str) -> str:
    """CREATE TABLE (col pgtype constraints, ...) — map PG type names
    (int4/text/serial/...) to Spark types and drop the constraint
    clauses Spark's parser rejects (tablecmds.c enforces them; a
    parquet lakehouse records them at best). CTAS has no column-def
    list and passes through."""
    m = _CREATE_TABLE_DEFS_RE.match(sql.strip())
    if m is None:
        return sql
    s = sql.strip()
    # matching close paren of the column list
    i = _close_paren(s, m.end())
    if i < 0:
        return sql
    head, defs, tail = s[: m.end()], s[m.end(): i - 1], s[i - 1:]
    cols = []
    for item in _split_commas(defs):
        item = item.strip()
        # SQL-standard `col int ARRAY[4]` / `col int ARRAY` spellings
        # normalize to the bracket form the column regex handles
        # (gram.y SimpleTypename; dimensions are documentation)
        item = re.sub(r"(?is)\bARRAY\s*(?:\[\s*\d*\s*\])?(?=\s|$)",
                      "[]", item)
        if not item or _TABLE_CONSTRAINT_RE.match(item):
            continue  # table-level constraints drop entirely
        if re.match(r"(?is)^(?:DEFAULT\s+)?COLUMN\b", item):
            continue  # GP per-column ENCODING items (gram.y
            # column_reference_storage_directive) are storage hints
        cm = re.match(
            r"^(\w+|`[^`]+`|\"[^\"]+\")\s+"
            r"(double\s+precision"
            r"|character\s+varying(?:\(\s*\d+\s*\))?"
            r"|bit\s+varying(?:\(\s*\d+\s*\))?"
            r"|timestamp(?:\s*\(\s*\d+\s*\))?"
            r"(?:\s+with(?:out)?\s+time\s+zone)?"
            r"|time(?:\s*\(\s*\d+\s*\))?"
            r"(?:\s+with(?:out)?\s+time\s+zone)?"
            r"|[A-Za-z_]\w*(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
            r"(\s*\[\s*\d*\s*\])*"
            r"(\s+.*)?$",
            item,
            re.DOTALL | re.IGNORECASE,
        )
        if cm is None:
            cols.append(item)
            continue
        name, typ = cm.group(1), cm.group(2).strip()
        dims, rest = cm.group(3) or "", cm.group(4) or ""
        low = re.sub(r"\s+", " ", typ.lower())
        base = low.split("(")[0].strip()
        if base in _COL_TEXT_TYPES or low.startswith("bit varying"):
            typ = "STRING"
        else:
            typ = _SERIAL_TYPES.get(low) or map_decl_type(typ)
        if dims:
            for _ in re.findall(r"\[", dims):
                typ = f"ARRAY<{typ}>"
        rest = re.sub(
            r"(?is)\s+ENCODING\s*\([^)]*\)", "", rest
        )
        rest = _COL_CONSTRAINT_RE.sub("", rest).strip()
        cols.append(f"{name} {typ}" + (f" {rest}" if rest else ""))
    # PG CREATE [TEMP] TABLE has no storage provider and Spark's
    # parser requires one: drop the TEMP keyword (a managed table is
    # the engine's session-table model) and add USING PARQUET right
    # after the column list (before any DISTRIBUTED BY tail, which
    # the engine strips separately)
    head = re.sub(
        r"(?i)\b(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?|UNLOGGED)\s+",
        "",
        head,
    )
    # GP storage options `WITH (appendonly=..., orientation=...)` and
    # ON COMMIT clauses are storage hints with no Spark parse form
    tail = re.sub(
        r"(?is)\s+WITH\s*\((?:[^()]|\([^()]*\))*\)", " ", tail
    )
    tail = re.sub(
        r"(?is)\s+ON\s+COMMIT\s+(?:PRESERVE\s+ROWS|DELETE\s+ROWS"
        r"|DROP)",
        " ",
        tail,
    )
    # GP partition specs on a plain CREATE TABLE (gram.y
    # OptTabPartitionSpec: PARTITION BY ... [SUBPARTITION ...]
    # (START/END/EVERY | VALUES ...)): physical child-table layout
    # with no Spark DDL form — stripped; the CTAS spelling keeps its
    # directory-partitioned materialization (engine._partitioned_ctas)
    pm2 = re.search(r"(?is)\bPARTITION\s+BY\b", tail)
    if pm2:
        sc = tail.find(";", pm2.start())
        tail = tail[: pm2.start()].rstrip() + (
            tail[sc:] if sc >= 0 else ""
        )
    if not re.search(r"(?i)\bUSING\b", tail):
        tail = ") USING PARQUET" + tail[1:]
    return f"{head}{', '.join(cols)}{tail}"


def map_decl_type(t: str) -> str:
    """PG type spelling -> Spark type for declared contexts (function
    parameters / RETURNS / PL/pgSQL DECLARE), including the multiword
    spellings the `::cast` rewrite never sees."""
    tl = re.sub(r"\s+", " ", t.strip().lower())
    # quoted type spellings ('"char"' — the pg_attribute one-byte
    # class tag — and quoted user types) fold like unquoted: the
    # engine's type names are case-folded anyway
    tl = tl.replace('"', "")
    # gram.y SimpleTypename: `int ARRAY[4]` / `int ARRAY` are the SQL
    # standard spellings of `int[]` (dimensions are documentation)
    tl = re.sub(r"\s*\barray(\s*\[\s*\d*\s*\])?$", "[]", tl)
    if tl.endswith("[]"):
        # PG array type spelling (numeric[], int[][]) — each [] pair
        # is one nesting level
        return f"ARRAY<{map_decl_type(tl[:-2])}>"
    if tl == "double precision":
        return "DOUBLE"
    fm = re.match(r"float\s*\(\s*(\d+)\s*\)$", tl)
    if fm:
        # gram.y SimpleTypename float(P): 1-24 is real, 25-53 double
        return "FLOAT" if int(fm.group(1)) <= 24 else "DOUBLE"
    if tl.startswith("character varying") or tl in ("character", "char"):
        # bare char is char(1) in PG (gram.y CharacterSimple); Spark's
        # CHAR demands a length — STRING keeps the text semantics
        return "STRING"
    if tl.startswith("timestamp"):  # with/without time zone spellings
        return "TIMESTAMP"
    if tl.startswith("time"):  # no TIME type in Spark; HH:MM:SS sorts
        return "STRING"
    if tl == "complex":
        # GP complex number type (gpcontrib complex_type.c): the
        # engine's struct model — functions re/im/conj/complex()
        # operate on it (functions/pg.py)
        return "STRUCT<re: DOUBLE, im: DOUBLE>"
    if tl in ("internal", "opaque"):
        # pg_type.dat pseudo-types (fmgr transition state / legacy
        # opaque): opaque bytes here — such functions register but
        # raise when called (see engine's LANGUAGE internal handling)
        return "BINARY"
    return _map_type(t)


def _rewrite_cast_typenames(sql: str) -> str:
    """CAST(x AS text/int4/float8/...) — the function-syntax twin of the
    `::` operator, previously unmapped (only `::` went through
    _map_type). Balanced-paren scan so subquery aliases inside the
    operand are never mistaken for the type position; multiword names
    (double precision, ...) are already normalized by the earlier
    passes."""
    out: list[str] = []
    i = 0
    while True:
        m = re.search(r"(?i)\bCAST\s*\(", sql[i:])
        if not m:
            out.append(sql[i:])
            break
        start, open_p = i + m.start(), i + m.end() - 1
        out.append(sql[i:start])
        depth, j = 0, open_p
        while j < len(sql):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if j >= len(sql):  # unbalanced: leave untouched
            out.append(sql[start:])
            break
        inner = _rewrite_cast_typenames(sql[open_p + 1 : j])
        mt = re.search(
            r"(?is)\s+AS\s+([A-Za-z_]\w*"
            r"(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*$",
            inner,
        )
        if mt:
            inner = inner[: mt.start()] + f" AS {_map_type(mt.group(1).strip())}"
        out.append("CAST(" + inner + ")")
        i = j + 1
    return "".join(out)


def _map_type(t: str) -> str:
    if t.upper().startswith("ARRAY<"):  # already a Spark array type
        return t
    fm = re.match(r"(?is)^\s*float\s*\(\s*(\d+)\s*\)\s*$", t)
    if fm:
        # gram.y float(P): 1-24 real, 25-53 double
        return "FLOAT" if int(fm.group(1)) <= 24 else "DOUBLE"
    base = t.split("(")[0].strip().lower()
    mapped = _TYPE_MAP.get(base)
    if mapped is None:
        return t
    if "(" in t and base in ("varchar", "bpchar", "numeric"):
        if base == "numeric":
            # PG numeric allows precision up to 131072; DECIMAL caps at
            # 38 — clamp, preserving the integer-digit budget
            inner = t[t.index("(") + 1 : t.rindex(")")]
            parts = [x.strip() for x in inner.split(",")]
            try:
                p = int(parts[0])
                s = int(parts[1]) if len(parts) > 1 else 0
            except ValueError:
                return "DECIMAL" + t[t.index("(") :]
            if p > 38:
                int_digits = p - s
                s = max(0, 38 - int_digits) if int_digits < 38 else 0
                p = 38
            return f"DECIMAL({p},{s})"
        return "STRING"
    return mapped


def map_col_type(t: str) -> str:
    """Schema-position type mapping (table columns, OUT-record
    fields): like map_decl_type but the text-modeled families
    (_COL_TEXT_TYPES) collapse to STRING and the remaining PG
    spellings Spark's schema parser rejects map to concrete types."""
    low = re.sub(r"\s+", " ", t.strip().lower())
    base = low.split("(")[0].strip()
    if base in _COL_TEXT_TYPES or low.startswith("bit varying"):
        return "STRING"
    mapped = map_decl_type(t)
    ml = mapped.strip().lower()
    if ml == "real":
        return "FLOAT"
    if ml == "decimal":
        return "DECIMAL(38,18)"
    if re.match(r"^(?:char|varchar)\b", ml):
        return "STRING"
    return mapped
