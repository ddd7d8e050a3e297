"""Session-statement substitutions split from engine.py: sequence
DDL + nextval/currval/setval (commands/sequence.c) and
current_setting()/set_config() folding (guc.c). Mixed into Engine."""

from __future__ import annotations

import re

from warehouse_pg_spark.dialect.mask import (
    _LIT,
    _close_paren,
    _lit_value,
    _new_lit,
    _split_commas,
)


_CREATE_SEQ_RE = re.compile(
    # options (sequence.c init_params): START is honored; INCREMENT/
    # MIN/MAXVALUE/CACHE/CYCLE/AS/OWNED BY are accepted and ignored —
    # the coordinator-side counter has no caching or wraparound
    r"^CREATE\s+(?:TEMP(?:ORARY)?\s+|UNLOGGED\s+)?SEQUENCE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)"
    r"((?:\s+(?:START(?:\s+WITH)?\s+-?\d+|INCREMENT(?:\s+BY)?\s+-?\d+"
    r"|MINVALUE\s+-?\d+|MAXVALUE\s+-?\d+|CACHE\s+\d+"
    r"|NO\s+(?:MINVALUE|MAXVALUE|CYCLE)|CYCLE|AS\s+\w+"
    r"|OWNED\s+BY\s+[\w.]+))*)\s*$",
    re.IGNORECASE,
)
_SEQ_START_RE = re.compile(
    r"\bSTART(?:\s+WITH)?\s+(-?\d+)", re.IGNORECASE
)
_DROP_SEQ_RE = re.compile(
    r"^DROP\s+SEQUENCE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*$", re.IGNORECASE
)
_ALTER_SEQ_RE = re.compile(
    # RESTART may carry a sign and mix with other init_params options
    # in any order (sequence.c AlterSequence); only RESTART moves the
    # coordinator counter, the rest are accepted no-ops
    r"^ALTER\s+SEQUENCE\s+(?:IF\s+EXISTS\s+)?([\w.]+)"
    r"((?:\s+(?:RESTART(?:\s+WITH\s+-?\d+)?"
    r"|START(?:\s+WITH)?\s+-?\d+|INCREMENT(?:\s+BY)?\s+-?\d+"
    r"|MINVALUE\s+-?\d+|MAXVALUE\s+-?\d+|CACHE\s+\d+"
    r"|NO\s+(?:MINVALUE|MAXVALUE|CYCLE)|CYCLE|AS\s+\w+))+)\s*$",
    re.IGNORECASE,
)
_SEQ_RESTART_RE = re.compile(
    r"\bRESTART(?:\s+WITH\s+(-?\d+))?", re.IGNORECASE
)
# ownership/rename/option forms (sequence.c AlterSequence): OWNED BY
# binds drop-cascade bookkeeping the engine doesn't track; option
# changes don't affect the coordinator counter — accepted no-ops
_ALTER_SEQ_NOOP_RE = re.compile(
    r"^ALTER\s+SEQUENCE\s+(?:IF\s+EXISTS\s+)?[\w.]+\s+"
    r"(?:OWNED\s+BY\s+|OWNER\s+TO\s+|SET\s+SCHEMA\s+|RENAME\s+TO\s+"
    r"|INCREMENT|MINVALUE|MAXVALUE|CACHE|NO\s+|CYCLE|AS\s+)",
    re.IGNORECASE,
)
# The call passes below run on masked text: a quoted argument is a
# masked-literal token, so a call inside a literal or a comment is
# never seen.
_NEXTVAL_RE = re.compile(
    # name may carry a ::regclass/::text decoration (sequence.c
    # nextval_oid resolves either spelling)
    rf"nextval\(\s*({_LIT})\s*(?:::\s*\w+\s*)?\)", re.IGNORECASE
)
_CURRVAL_RE = re.compile(
    rf"currval\(\s*({_LIT})\s*(?:::\s*\w+\s*)?\)", re.IGNORECASE
)
_SETVAL_RE = re.compile(
    # name may carry a ::regclass/::text decoration; optional 3rd
    # is_called arg (sequence.c setval3_oid)
    rf"setval\(\s*({_LIT})\s*(?:::\s*\w+\s*)?,\s*(\d+)\s*"
    r"(?:,\s*(true|false)\s*)?\)",
    re.IGNORECASE,
)

_SET_CONFIG_RE = re.compile(
    rf"set_config\(\s*({_LIT})\s*,\s*({_LIT})\s*,\s*(?:true|false)\s*\)",
    re.IGNORECASE,
)

_CURRENT_SETTING_RE = re.compile(
    rf"current_setting\(\s*({_LIT})\s*(?:,\s*(true|false)\s*)?\)",
    re.IGNORECASE,
)

# only the kinds whose 2-/3-arg shapes are (obj, priv) / (user, obj,
# priv) fold; has_column/sequence/function_privilege carry extra
# validation (wrong relkind, per-kind privilege sets) and stay loud
_HAS_PRIV_RE = re.compile(
    rf"\bhas_(table|schema|database)_privilege\s*\(\s*"
    rf"({_LIT})\s*,\s*({_LIT})\s*(?:,\s*({_LIT})\s*)?\)",
    re.IGNORECASE,
)
# acl.c string_to_privilege: valid names per object kind
_PRIV_NAMES = {
    "table": {"SELECT", "INSERT", "UPDATE", "DELETE", "TRUNCATE",
              "REFERENCES", "TRIGGER", "MAINTAIN", "ALL"},
    "schema": {"CREATE", "USAGE", "ALL"},
    "database": {"CREATE", "CONNECT", "TEMPORARY", "TEMP", "ALL"},
}


class SequenceMixin:
    # ----------------------------------------------------------- sequences
    def _sequence_ddl(self, s: str) -> DataFrame:
        """PG sequence DDL (commands/sequence.c; regress sequence.sql):
        CREATE/DROP/ALTER ... RESTART. State is coordinator-side ints."""
        m = _CREATE_SEQ_RE.match(s)
        if m:
            name = m.group(1).split(".")[-1]
            sm = _SEQ_START_RE.search(m.group(2) or "")
            start = int(sm.group(1)) if sm else 1
            if name not in self._sequences:
                self._sequences[name] = {"next": start, "start": start}
            return self._tag(0)
        m = _DROP_SEQ_RE.match(s)
        if m:
            self._sequences.pop(m.group(1).split(".")[-1], None)
            return self._tag(0)
        m = _ALTER_SEQ_RE.match(s)
        if m:
            name = m.group(1).split(".")[-1]
            rm2 = _SEQ_RESTART_RE.search(m.group(2))
            if name not in self._sequences and re.search(
                    r"(?i)\bIF\s+EXISTS\b", s):
                return self._tag(0)
            seq = self._seq(name)
            if rm2 is not None:
                seq["next"] = int(rm2.group(1) or seq["start"])
                seq.pop("last", None)
            return self._tag(0)
        rn = re.match(
            r"(?is)^ALTER\s+SEQUENCE\s+(?:IF\s+EXISTS\s+)?([\w.]+)"
            r"\s+RENAME\s+TO\s+([\w.]+)\s*$", s)
        if rn:
            old = rn.group(1).split(".")[-1]
            if old in self._sequences:
                self._sequences[rn.group(2).split(".")[-1]] = (
                    self._sequences.pop(old))
            return self._tag(0)
        if _ALTER_SEQ_NOOP_RE.match(s):
            return self._tag(0)
        return self._spark_stmt(s)

    def _seq(self, name: str) -> dict[str, int]:
        if name not in self._sequences:
            raise KeyError(f"sequence {name!r} does not exist")
        return self._sequences[name]

    _COLDEF_CONSTRAINT_RE = re.compile(
        r"(?is)\b(PRIMARY|NOT\s+NULL|NULL|DEFAULT|CHECK|REFERENCES"
        r"|UNIQUE|COLLATE|GENERATED)\b.*$"
    )
    _COLDEF_TABLE_CONSTRAINTS = (
        "primary", "foreign", "unique", "check", "constraint",
        "like", "exclude",
    )

    def _maybe_register_rowtype(self, text: str) -> None:
        """Every PG table defines a ROWTYPE of the same name
        (parse_type.c typenameType over relations; regress
        rowtypes.sql casts record literals to a temp TABLE's type) —
        register the column list as a composite so `::tablename`
        casts and json[b]_populate_record over the rowtype work. The
        statement itself still executes normally afterwards."""
        m = re.match(
            r"(?is)^\s*CREATE\s+(?:GLOBAL\s+|LOCAL\s+)?"
            r"(?:TEMP(?:ORARY)?\s+)?(?:UNLOGGED\s+)?TABLE\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?([\w.\"]+)\s*\(",
            text,
        )
        if m is None:
            return
        i = _close_paren(text, m.end())
        if i < 0:
            return
        from warehouse_pg_spark.user_types import Composite

        fields: list[tuple[str, str]] = []
        for item in _split_commas(text[m.end(): i - 1]):
            im = re.match(r'^\s*"?(\w+)"?\s+(.+)$', item.strip(),
                          re.DOTALL)
            if not im:
                return
            if im.group(1).lower() in self._COLDEF_TABLE_CONSTRAINTS:
                continue
            typ = self._COLDEF_CONSTRAINT_RE.sub(
                "", im.group(2)
            ).strip()
            if not typ:
                return
            fields.append((im.group(1).lower(), typ))
        if fields:
            key = m.group(1).split(".")[-1].strip('"').lower()
            self._user_types.composites[key] = Composite(fields)
            # serial columns own an implicit sequence named
            # {table}_{column}_seq (parse_utilcmd.c
            # transformColumnDefinition) — nextval/ALTER SEQUENCE on
            # that name must resolve
            for col, typ in fields:
                if re.match(r"(?i)^(?:small|big)?serial[248]?\b",
                            typ):
                    self._sequences.setdefault(
                        f"{key}_{col}_seq", {"next": 1, "start": 1})

    def _substitute_setting_calls(self, masked: str, lits: list[str]) -> str:
        """current_setting('k' [, missing_ok]) / set_config('k', 'v',
        is_local) (utils/misc/guc.c SQL accessors) as driver-side
        literal substitution: the session GUC store lives on the
        coordinator, so the value inlines as a constant and the query
        stays wholly JVM-side — and it is always the CURRENT value
        (a pickled-closure UDF would freeze registration-time state)."""
        low = masked.lower()
        if "current_setting" not in low and "set_config" not in low:
            return masked

        def _get(k: str) -> str | None:
            if k in ("timezone", "time zone"):
                return self.spark.conf.get("spark.sql.session.timeZone")
            return self._gucs.get(k)

        def setc(m: re.Match) -> str:
            k = _lit_value(m.group(1), lits).lower()
            v = _lit_value(m.group(2), lits)
            self._gucs[k] = v
            if k == "timezone":
                self.spark.conf.set("spark.sql.session.timeZone", v)
            return _new_lit(v, lits)

        def cur(m: re.Match) -> str:
            k = _lit_value(m.group(1), lits).lower()
            missing_ok = (m.group(2) or "").lower() == "true"
            v = _get(k)
            if v is None:
                if missing_ok:
                    return "CAST(NULL AS STRING)"
                raise KeyError(f'unrecognized configuration parameter "{k}"')
            return _new_lit(v, lits)

        masked = _SET_CONFIG_RE.sub(setc, masked)
        return _CURRENT_SETTING_RE.sub(cur, masked)

    def _substitute_privilege_calls(self, masked: str, lits: list[str]) -> str:
        """has_*_privilege() over literal args folds driver-side from
        the GRANT/REVOKE ledger (aclchk.c has_table_privilege family):
        all-granted until a REVOKE lands; a comma list of privileges
        is true when ANY is held (aclchk.c string_to_privilege loop).
        The 2-arg form checks the current role (SET ROLE /
        SESSION AUTHORIZATION, else public)."""
        if "_privilege" not in masked.lower():
            return masked

        def sub(m: re.Match) -> str:
            kind = m.group(1).lower()
            a, b, c = (m.group(i) and _lit_value(m.group(i), lits)
                       for i in (2, 3, 4))
            if c is None:
                role = self._gucs.get("role", "none")
                who = (role if role != "none" else
                       self._gucs.get("session_authorization",
                                      "public")).lower()
                obj, privs = a, b
            else:
                who, obj, privs = a.lower(), b, c
            obj = obj.split(".")[-1].strip('"').lower()
            names = []
            for p in privs.split(","):
                if not p.strip():
                    continue
                tok = p.strip().upper()
                name = tok.split()[0]  # 'SELECT WITH GRANT OPTION'
                if name not in _PRIV_NAMES[kind]:
                    # acl.c string_to_privilege
                    raise ValueError(
                        f'unrecognized privilege type: "{p.strip()}"')
                names.append(name)
            held = any((who, obj, n) not in self._acl_revoked
                       for n in names)
            return "TRUE" if held else "FALSE"

        return _HAS_PRIV_RE.sub(sub, masked)

    def _substitute_sequence_calls(self, masked: str, lits: list[str]) -> str:
        """Replace nextval/currval/setval('seq') literals in a statement.

        Each textual nextval occurrence allocates one value (PG evaluates
        nextval once per VALUES row — regress sequence.sql). Per-row
        streams (`SELECT nextval(..) FROM t`) can't be expressed as a
        driver-side substitution; those callers use assign_sequence_ids,
        which block-allocates like GP's segment value caches."""
        if not (
            _NEXTVAL_RE.search(masked)
            or _CURRVAL_RE.search(masked)
            or _SETVAL_RE.search(masked)
        ):
            return masked

        def _name(tok: str) -> str:
            return _lit_value(tok, lits).split(".")[-1]

        def _setval(m: re.Match) -> str:
            seq = self._seq(_name(m.group(1)))
            val = int(m.group(2))
            # is_called=false: the NEXT nextval returns val itself
            is_called = (m.group(3) or "true").lower() == "true"
            seq["next"] = val + 1 if is_called else val
            seq["last"] = val
            return str(val)

        masked = _SETVAL_RE.sub(_setval, masked)

        if _NEXTVAL_RE.search(masked) and re.search(
                r"\bFROM\b", masked, re.IGNORECASE):
            raise NotImplementedError(
                "per-row nextval() over a FROM clause: use "
                "Engine.assign_sequence_ids(df, col, seq) for bulk allocation"
            )

        def _nextval(m: re.Match) -> str:
            seq = self._seq(_name(m.group(1)))
            val = seq["next"]
            seq["next"] = val + 1
            seq["last"] = val
            return str(val)

        masked = _NEXTVAL_RE.sub(_nextval, masked)

        def _currval(m: re.Match) -> str:
            seq = self._seq(_name(m.group(1)))
            if "last" not in seq:
                raise RuntimeError(
                    f"currval of sequence {_name(m.group(1))!r} "
                    "is not yet defined"
                )
            return str(seq["last"])

        return _CURRVAL_RE.sub(_currval, masked)
