"""XML value constructors (xmlelement/xmlforest/...) and the xmlbinary GUC state.

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
    _split_commas,
)



_XML_CTOR_START_RE = re.compile(
    r"(?i)\bxml(element|forest|pi|comment|concat|root)\s*\("
)
_XML_NAME_HEAD_RE = re.compile(r"(?is)^name\s+(`[^`]+`|\w+)\s*$")
_XML_AS_NAME_RE = re.compile(r"(?is)^(.*?)\s+AS\s+(`[^`]+`|\w+)\s*$")
# an argument already known to be XML-typed (no content escaping):
# a rewritten constructor (pg_xml marker), an xml literal/cast, xpath
_XML_TYPED_ARG_RE = re.compile(
    r"(?is)^(?:pg_xml\s*\(|xml\s*\x01)|::\s*xml\s*$"
)

# xmlbinary GUC (xml.c XML_BINARY_BASE64 default): how bytea content
# renders inside XML constructors. Session-scoped — the engine's SET
# handler flips it; rewrite() reads it at plan time.
_XMLBINARY = "base64"


def set_xmlbinary(mode: str) -> None:
    global _XMLBINARY
    _XMLBINARY = "hex" if mode.strip().lower() == "hex" else "base64"


def _xmlbinary_mode() -> str:
    return _XMLBINARY


def _xml_ident(tok: str) -> str:
    """Tag/attribute name: quoted identifiers (already backticked by
    the ident pass) keep case; bare names fold lower (xml.c
    map_sql_identifier_to_xml_name via gram.y ColLabel casing)."""
    return tok[1:-1] if tok.startswith("`") else tok.lower()


def _rewrite_xml_ctors(sql: str, lits: list[str] | None = None) -> str:
    """XML value constructors (xml.c xmlelement/xmlforest/xmlpi/
    xmlcomment/xmlconcat/xmlroot; regress sql/xml.sql): pure string
    building — every form lowers to concat over escape helpers
    (functions/pg.py xml_escape_content/xml_escape_attr), with the
    pg_xml() identity marker tagging already-XML subtrees so nested
    constructors embed raw while text content escapes. Zero Python
    per row; unsupported spellings are left untouched (loud)."""

    def content_val(a: str) -> str:
        a = a.strip()
        if _XML_TYPED_ARG_RE.search(a):
            return f"CAST({a} AS STRING)"
        # bytea literal args map per the xmlbinary GUC (xml.c
        # map_sql_value_to_xml_value: base64 default, hex opt-in);
        # folds at plan time — base64/hex text needs no escaping
        bm = re.fullmatch(
            rf"(?is)(?:bytea\s+({_LIT})|(?:E)?({_LIT})\s*::\s*bytea)", a
        )
        if bm and lits is not None:
            txt = _lit_value(bm.group(1) or bm.group(2), lits)
            # byteain accepts only lowercase \x for the hex form; an
            # uppercase \X (or bad hex digits) is 'invalid input
            # syntax for type bytea' (varlena.c byteain)
            if txt.startswith("\\\\x"):
                hexpart = txt[3:]
            elif txt.startswith("\\x"):
                hexpart = txt[2:]
            else:
                hexpart = None
            if hexpart is not None:
                try:
                    data = bytes.fromhex(hexpart)
                except ValueError:
                    raise ValueError(
                        "invalid hexadecimal data: odd number of digits"
                        if len(hexpart) % 2
                        else f'invalid hexadecimal digit: "{hexpart[0]}"'
                    ) from None
            elif re.match(r"\\\\?X", txt):
                raise ValueError("invalid input syntax for type bytea")
            else:
                data = txt.encode()
            if _xmlbinary_mode() == "hex":
                return f"'{data.hex()}'"
            import base64 as _b64

            return f"'{_b64.b64encode(data).decode()}'"
        return f"xml_escape_content(CAST({a} AS STRING))"

    def named_items(args: list[str]) -> list[tuple[str, str]] | None:
        items = []
        for a in args:
            am = _XML_AS_NAME_RE.match(a)
            if am:
                items.append((am.group(1), _xml_ident(am.group(2))))
            elif re.fullmatch(r"[\w.]+", a.strip()):
                items.append((a.strip(), a.strip().split(".")[-1].lower()))
            else:
                return None  # PG: unnamed non-column is an error
        return items

    def build(kind: str, args_str: str) -> str | None:
        args = (
            [a.strip() for a in _split_commas(args_str)]
            if args_str.strip()
            else []
        )
        if kind == "comment":
            if len(args) != 1:
                return None
            e = f"({args[0]})"
            return (
                f"(CASE WHEN {e} IS NULL THEN NULL "
                f"WHEN {e} LIKE '%--%' OR {e} LIKE '%-' "
                f"THEN raise_error('invalid XML comment') "
                f"ELSE concat('<!--', {e}, '-->') END)"
            )
        if kind == "pi":
            if not args or len(args) > 2:
                return None
            mn = _XML_NAME_HEAD_RE.match(args[0])
            if not mn:
                return None
            tgt = _xml_ident(mn.group(1))
            if tgt.lower() == "xml":
                raise ValueError(
                    'invalid XML processing instruction target name: '
                    f'"{tgt}"')
            if len(args) == 1:
                return f"'<?{tgt}?>'"
            c = f"({args[1]})"
            return (
                f"concat('<?{tgt}', CASE WHEN {c} IS NULL THEN '' "
                f"WHEN {c} LIKE '%?>%' "
                f"THEN raise_error('invalid XML processing instruction') "
                f"ELSE concat(' ', {c}) END, '?>')"
            )
        if kind == "concat":
            if not args:
                return None
            # xml.c xmlconcat: parse_xml_decl strips each arg's
            # prolog; the merged decl keeps the version only when
            # every arg agrees (else no value) and standalone="no"
            # only when seen while no arg had dropped it to absent;
            # print_xml_decl emits a prolog iff version != 1.0 or
            # standalone >= 0 (xml.out:68-78 — 1.1 prologs MERGE,
            # they are not an unsupported-XML-feature error)
            g_standalone, g_version, no_value = 1, None, False
            parts = []
            for a in args:
                st = a.strip()
                if re.fullmatch(r"-?\d+(?:\.\d+)?", st):
                    raise ValueError(
                        "argument of XMLCONCAT must be type xml, "
                        f"not type {'numeric' if '.' in st else 'integer'}")
                ver, stand, decl_len = None, -1, 0
                if re.fullmatch(r"(?i)null", st):
                    # xmlconcat2 skips NULL args before the merge
                    parts.append("''")
                    continue
                if lits is not None and re.fullmatch(
                    r"\x01\d+\x01", st
                ):
                    from warehouse_pg_spark.functions.pg import (
                        xml_content_validate,
                    )

                    av = _lit_value(st, lits)
                    xml_content_validate(av)
                    vm2 = re.match(r"<\?xml[ \t][^>]*?\?>", av)
                    if vm2:
                        decl_len = vm2.end()
                        vv = re.search(
                            r"version\s*=\s*[\"']([^\"']*)[\"']",
                            vm2.group(0))
                        ver = vv.group(1) if vv else None
                        sv = re.search(
                            r"standalone\s*=\s*[\"'](yes|no)[\"']",
                            vm2.group(0))
                        stand = (1 if sv and sv.group(1) == "yes"
                                 else 0 if sv else -1)
                if stand == 0 and g_standalone == 1:
                    g_standalone = 0
                if stand < 0:
                    g_standalone = -1
                if ver is None:
                    no_value = True
                elif g_version is None:
                    g_version = ver
                elif ver != g_version:
                    no_value = True
                parts.append(
                    f"coalesce(substr({a}, {decl_len + 1}), '')"
                    if decl_len else f"coalesce({a}, '')"
                )
            decl = ""
            v = None if no_value else g_version
            if ((v is not None and v != "1.0")
                    or g_standalone != -1):
                decl = f'<?xml version="{v or "1.0"}"'
                if g_standalone == 1:
                    decl += ' standalone="yes"'
                elif g_standalone == 0:
                    decl += ' standalone="no"'
                decl += "?>"
            body = ", ".join(parts)
            if decl:
                body = f"'{decl}', {body}"
            return (
                f"(CASE WHEN coalesce({', '.join(args)}) IS NULL "
                f"THEN NULL ELSE concat({body}) END)"
            )
        if kind == "forest":
            items = named_items(args)
            if not items:
                return None
            parts = [
                f"CASE WHEN ({e}) IS NULL THEN '' "
                f"ELSE concat('<{n}>', {content_val(e)}, '</{n}>') END"
                for e, n in items
            ]
            return f"concat({', '.join(parts)})"
        if kind == "element":
            if not args:
                return None
            mn = _XML_NAME_HEAD_RE.match(args[0])
            if not mn:
                return None
            n = _xml_ident(mn.group(1))
            rest = args[1:]
            attrs = "''"
            if rest and re.match(r"(?is)^xmlattributes\s*\(", rest[0]):
                inner = rest[0][rest[0].index("(") + 1 : -1]
                a_items = named_items(
                    [a.strip() for a in _split_commas(inner)]
                )
                if a_items is None:
                    return None
                seen_attr: set[str] = set()
                for _e, an in a_items:
                    if an in seen_attr:
                        raise ValueError(
                            f'XML attribute name "{an}" appears '
                            "more than once")
                    seen_attr.add(an)
                    if lits is not None and re.match(
                        rf"(?is)^\s*{_LIT}\s*::\s*timestamp(?:tz)?"
                        r"\s*$", _e,
                    ):
                        tv = _lit_value(
                            re.match(rf"(?is)^\s*({_LIT})", _e)
                            .group(1), lits).strip().lower()
                        if tv.lstrip("+-") == "infinity":
                            # xml.c map_sql_value_to_xml_value:
                            # XML has no infinite timestamps
                            raise ValueError("timestamp out of range")
                attrs = "concat(" + ", ".join(
                    f"CASE WHEN ({e}) IS NULL THEN '' ELSE concat("
                    f"' {an}=\"', xml_escape_attr(CAST({e} AS STRING)),"
                    f" '\"') END"
                    for e, an in a_items
                ) + ")"
                rest = rest[1:]
            body = (
                "concat("
                + ", ".join(f"coalesce({content_val(a)}, '')" for a in rest)
                + ")"
                if rest
                else "''"
            )
            return (
                f"concat('<{n}', {attrs}, "
                f"CASE WHEN {body} = '' THEN '/>' "
                f"ELSE concat('>', {body}, '</{n}>') END)"
            )
        if kind == "root":
            if len(args) not in (2, 3):
                return None
            x = f"CAST({args[0]} AS STRING)"
            vm = re.match(
                rf"(?is)^version\s+(no\s+value|{_LIT})\s*$", args[1]
            )
            if not vm:
                return None
            sa = ""
            if len(args) == 3:
                sm = re.match(
                    r"(?is)^standalone\s+(yes|no|no\s+value)\s*$", args[2]
                )
                if not sm:
                    return None
                word = re.sub(r"\s+", " ", sm.group(1).lower())
                if word != "no value":
                    sa = f' standalone="{word}"'
            v = vm.group(1)
            if re.match(r"(?is)no\s+value", v):
                if not sa:
                    return x
                return f"concat('<?xml version=\"1.0\"{sa}?>', {x})"
            return (
                f"concat('<?xml version=\"', {v}, '\"{sa}?>', {x})"
            )
        return None

    def process(s: str) -> str:
        m = _XML_CTOR_START_RE.search(s)
        if not m:
            return s
        depth, j = 0, m.end() - 1
        while j < len(s):
            if s[j] == "(":
                depth += 1
            elif s[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            return s  # unbalanced — leave everything untouched
        inner = process(s[m.end() : j])  # nested constructors first
        rep = build(m.group(1).lower(), inner)
        if rep is None:
            rep = s[m.start() : m.end()] + inner + ")"
        else:
            rep = f"pg_xml({rep})"
        return s[: m.start()] + rep + process(s[j + 1 :])

    sql = process(sql)

    # XMLPARSE(DOCUMENT|CONTENT x [PRESERVE|STRIP WHITESPACE]) (xml.c
    # xmlparse): validate through the well-formedness checks, return
    # the text as an XML-marked value; STRIP removes whitespace-only
    # text between tags. Malformed input raises, as PG does.
    def sub_xmlparse(m: re.Match) -> str:
        kind, x, strip = (
            m.group(1).lower(), m.group(2).strip(), m.group(3),
        )
        v = f"CAST({x} AS STRING)"
        if strip and strip.lower().startswith("strip"):
            ws = "concat('>[', chr(9), chr(10), chr(13), ' ]+<')"
            v = f"regexp_replace({v}, {ws}, '><')"
        check = (
            "xml_is_well_formed_document"
            if kind == "document"
            else "xml_is_well_formed_content"
        )
        return (
            f"pg_xml(IF({check}({v}), {v}, "
            f"raise_error(concat('invalid XML {kind}: ', {v}))))"
        )

    sql = re.sub(
        r"(?is)\bXMLPARSE\s*\(\s*(DOCUMENT|CONTENT)\s+"
        r"((?:[^()]|\([^()]*\))+?)"
        r"\s*((?:PRESERVE|STRIP)\s+WHITESPACE)?\s*\)",
        sub_xmlparse,
        sql,
    )

    # XMLSERIALIZE(DOCUMENT|CONTENT x AS type) (xml.c xmltotext):
    # the value IS text in this model; char(n) pads, varchar(n) trims
    def sub_xmlserialize(m: re.Match) -> str:
        x, t = m.group(2).strip(), m.group(3).strip().lower()
        if (m.group(1).lower() == "document" and lits is not None
                and re.fullmatch(r"\x01\d+\x01", x)):
            from warehouse_pg_spark.functions.pg import (
                _xml_wf_document_py,
            )

            if not _xml_wf_document_py(_lit_value(x, lits)):
                raise ValueError("not an XML document")
        v = f"CAST({x} AS STRING)"
        cm = re.fullmatch(r"char(?:acter)?\s*\(\s*(\d+)\s*\)", t)
        if cm:
            return f"rpad({v}, {cm.group(1)}, ' ')"
        vm = re.fullmatch(
            r"(?:varchar|character\s+varying)\s*\(\s*(\d+)\s*\)", t
        )
        if vm:
            return f"substr({v}, 1, {vm.group(1)})"
        return v

    sql = re.sub(
        r"(?is)\bXMLSERIALIZE\s*\(\s*(DOCUMENT|CONTENT)\s+"
        r"((?:[^()]|\([^()]*\))+?)\s+AS\s+"
        r"([\w ]+?(?:\(\s*\d+\s*\))?)\s*\)",
        sub_xmlserialize,
        sql,
    )
    # xmlexists(xpath PASSING [BY REF|BY VALUE] doc [BY REF|BY VALUE])
    # (xml.c xmlexists; SQL/XML X030): BY REF/VALUE are storage
    # directives with no semantic effect — strip them. A count()/sum()
    # top-level XPath returns a number, and a number is a non-empty
    # result sequence, so xmlexists is TRUE regardless of the count
    # (regress xml.sql 'count(/nosuchtag)' → t). Everything else maps
    # to Spark's Hive xpath_boolean built-in (argument order swapped).
    def sub_xmlexists(m: re.Match) -> str:
        path, doc = m.group(1).strip(), m.group(2).strip()
        pm = _MASK_RE.fullmatch(path)
        if (
            pm
            and lits is not None
            and re.match(
                r"(?i)^\s*(count|sum)\s*\(", _lit_value(path, lits)
            )
        ):
            return f"(CAST({doc} AS STRING) IS NOT NULL)"
        return f"xpath_boolean(CAST({doc} AS STRING), {path})"

    sql = re.sub(
        r"(?is)\bxmlexists\s*\(\s*((?:[^()]|\([^()]*\))+?)\s+PASSING\s+"
        r"(?:BY\s+(?:REF|VALUE)\s+)?((?:[^()]|\([^()]*\))+?)"
        r"(?:\s+BY\s+(?:REF|VALUE))?\s*\)",
        sub_xmlexists,
        sql,
    )
    # xpath(path, doc) / xpath_exists(path, doc) (xml.c:4245): route to
    # the engine's ElementTree evaluator (pg_xpath, doc-first), NEVER
    # to Spark's Hive xpath built-in — that one takes (xml, path), so a
    # PG-order call would parse the PATH as the document: a guaranteed
    # wrong answer or error. PG semantics (serialized element nodes,
    # count()/name() scalars) also differ from Hive's text-only result.
    def sub_xpath(m: re.Match) -> str:
        fn = m.group(1).lower()
        args = _split_commas(m.group(2))
        if len(args) != 2:
            return m.group(0)  # 3-arg namespace form stays loud
        path, doc = args[0].strip(), args[1].strip()
        if lits is not None and re.fullmatch(r"\x01\d+\x01", path) \
                and not _lit_value(path, lits).strip():
            # xml.c xpath_internal: zero-length path
            raise ValueError("empty XPath expression")
        doc = re.sub(r"(?is)\s*::\s*xml\s*$", "", doc)
        call = f"pg_xpath(CAST({doc} AS STRING), {path})"
        if fn == "xpath_exists":
            return f"(size({call}) > 0)"
        return call

    sql = re.sub(
        rf"(?is)\b(xpath|xpath_exists)\s*\(\s*"
        rf"((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)",
        sub_xpath,
        sql,
    )
    # x IS [NOT] DOCUMENT (xml.c xml_is_document); an `xml` typed-
    # literal prefix drops here — the global prefix strip runs later
    def sub_is_document(m: re.Match) -> str:
        x = m.group(1).strip()
        if lits is not None and re.fullmatch(r"\x01\d+\x01", x):
            # an UNTYPED literal operand coerces through xml_in first
            # (parse_coerce.c): invalid content raises before the
            # IS DOCUMENT test ever runs
            from warehouse_pg_spark.functions.pg import (
                xml_content_validate,
            )

            xml_content_validate(_lit_value(x, lits))
        return (
            f"({'NOT ' if m.group(2) else ''}"
            f"xml_is_well_formed_document(CAST({x} AS STRING)))"
        )

    sql = re.sub(
        rf"(?:\bxml\s+)?({_DISTINCT_OPERAND})\s+IS\s+(NOT\s+)?DOCUMENT\b",
        sub_is_document,
        sql,
        flags=re.IGNORECASE,
    )
    return sql
