"""PG full-text search core: tsvector / tsquery semantics in pure Python.

Reference parity targets (semantics only; all code here is original):
  - tsvector_in/out     src/backend/utils/adt/tsvector.c
  - tsquery_in/out      src/backend/utils/adt/tsquery.c (makepol parser,
                        infix() printer, tsearch_op_priority)
  - @@ match            src/backend/utils/adt/tsvector_op.c (TS_execute,
                        TS_phrase_execute, checkclass_str)
  - ts_rank/ts_rank_cd  src/backend/utils/adt/tsrank.c (calc_rank_and/or,
                        calc_rank_cd Cover/extent machinery)
  - default parser      src/backend/tsearch/wparser_def.c (token-type
                        subset; the torture URL/tag states are approximated)
  - english stemmer     snowball english ("porter2"), implemented from the
                        published algorithm; stopword list is the data file
                        src/backend/snowball/stopwords/english.stop
  - to_tsquery morph    src/backend/tsearch/to_tsany.c +
                        tsquery_cleanup.c stopword dropping

The module is deliberately Spark-free: engine shims wrap these functions
as Arrow-batched pandas UDFs (see functions/pg.py), and the scored
registry queries keep their hot paths JVM-side, using these only where a
built-in cannot express the semantics.
"""

from __future__ import annotations

import json as _json
import math
import re

# ---------------------------------------------------------------------------
# stopwords (snowball english.stop — a public data file, 127 entries)
# ---------------------------------------------------------------------------

STOPWORDS_EN = frozenset(
    """i me my myself we our ours ourselves you your yours yourself
    yourselves he him his himself she her hers herself it its itself they
    them their theirs themselves what which who whom this that these those
    am is are was were be been being have has had having do does did doing
    a an the and but if or because as until while of at by for with about
    against between into through during before after above below to from
    up down in out on off over under again further then once here there
    when where why how all any both each few more most other some such no
    nor not only own same so than too very s t can will just don should
    now""".split()
)

# ---------------------------------------------------------------------------
# snowball english stemmer ("porter2")
# ---------------------------------------------------------------------------

_VOWELS = frozenset("aeiouy")
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_LI_END = frozenset("cdeghkmnrt")

_EXC1 = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
_EXC2 = frozenset(
    ("inning", "outing", "canning", "herring", "earring",
     "proceed", "exceed", "succeed")
)

_STEP2 = (
    ("ization", "ize"), ("fulness", "ful"), ("ousness", "ous"),
    ("iveness", "ive"), ("ational", "ate"), ("biliti", "ble"),
    ("tional", "tion"), ("lessli", "less"), ("ation", "ate"),
    ("alism", "al"), ("aliti", "al"), ("ousli", "ous"),
    ("iviti", "ive"), ("fulli", "ful"), ("entli", "ent"),
    ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
    ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
    ("bli", "ble"), ("ogi", "og"), ("li", ""),
)
_STEP3 = (
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ative", ""),
    ("ical", "ic"), ("ness", ""), ("ful", ""),
)
_STEP4 = (
    "ement", "ance", "ence", "able", "ible", "ment",
    "ent", "ant", "ism", "ate", "iti", "ous", "ive", "ize",
    "ion", "al", "er", "ic",
)


def _is_v(word: str, i: int) -> bool:
    return word[i] in _VOWELS


def _regions(word: str) -> tuple[int, int]:
    """R1/R2 start offsets (snowball mark_regions for english)."""
    n = len(word)
    r1 = n
    for pref in ("gener", "commun", "arsen"):
        if word.startswith(pref):
            r1 = len(pref)
            break
    else:
        for i in range(1, n):
            if not _is_v(word, i) and _is_v(word, i - 1):
                r1 = i + 1
                break
    r2 = n
    for i in range(r1 + 1, n):
        if not _is_v(word, i) and _is_v(word, i - 1):
            r2 = i + 1
            break
    return r1, r2


def _ends_shortv(word: str) -> bool:
    """Backward shortv test at end of word: non-vowel(not wxY) v non-v,
    or v non-v at start-of-word."""
    n = len(word)
    if n >= 3 and not _is_v(word, n - 1) and word[n - 1] not in "wxY" \
            and _is_v(word, n - 2) and not _is_v(word, n - 3):
        return True
    if n == 2 and _is_v(word, 0) and not _is_v(word, 1):
        return True
    return False


import functools


@functools.lru_cache(maxsize=65536)
def stem_english(word: str) -> str:
    """Snowball english stemmer; input must already be lowercased
    (memoized: document vocabularies repeat heavily, so the per-call
    cost on a 100-TB scan is one dict hit per token)."""
    if len(word) <= 2:
        return word
    if word in _EXC1:
        return _EXC1[word]
    if word.startswith("'"):
        word = word[1:]
    # mark consonant-y as Y
    if word.startswith("y"):
        word = "Y" + word[1:]
    chars = list(word)
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _VOWELS:
            chars[i] = "Y"
    word = "".join(chars)
    r1, r2 = _regions(word)

    def in_r1(suffix_len: int) -> bool:
        return len(word) - suffix_len >= r1

    def in_r2(suffix_len: int) -> bool:
        return len(word) - suffix_len >= r2

    # step 0: longest of '  's  's'
    for suf in ("'s'", "'s", "'"):
        if word.endswith(suf):
            word = word[: -len(suf)]
            break

    # step 1a
    if word.endswith("sses"):
        word = word[:-2]
    elif word.endswith(("ied", "ies")):
        word = word[:-3] + ("i" if len(word) > 4 else "ie")
    elif word.endswith(("us", "ss")):
        pass
    elif word.endswith("s"):
        if any(c in _VOWELS for c in word[:-2]):
            word = word[:-1]

    if word in _EXC2:
        return word

    # step 1b
    for suf in ("eedly", "eed"):
        if word.endswith(suf):
            if in_r1(len(suf)):
                word = word[: -len(suf)] + "ee"
            break
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if word.endswith(suf):
                stem = word[: -len(suf)]
                if any(c in _VOWELS for c in stem):
                    word = stem
                    if word.endswith(("at", "bl", "iz")):
                        word += "e"
                    elif word.endswith(_DOUBLES):
                        word = word[:-1]
                    elif len(word) == r1 and _ends_shortv(word):
                        word += "e"
                break

    # step 1c: y/Y -> i when preceded by a non-vowel that is not the
    # first letter
    if len(word) > 2 and word[-1] in "yY" and word[-2] not in _VOWELS:
        word = word[:-1] + "i"

    # step 2 (suffix must lie in R1); longest match decides, condition
    # failure means no action (snowball 'among' semantics)
    for suf, rep in _STEP2:
        if word.endswith(suf):
            if in_r1(len(suf)):
                if suf == "ogi":
                    if word.endswith("logi"):
                        word = word[:-1]
                elif suf == "li":
                    if len(word) > 2 and word[-3] in _LI_END:
                        word = word[:-2]
                else:
                    word = word[: -len(suf)] + rep
            break

    # step 3
    for suf, rep in _STEP3:
        if word.endswith(suf):
            if in_r1(len(suf)):
                if suf == "ative":
                    if in_r2(5):
                        word = word[:-5]
                else:
                    word = word[: -len(suf)] + rep
            break

    # step 4 (R2)
    for suf in _STEP4:
        if word.endswith(suf):
            if in_r2(len(suf)):
                if suf == "ion":
                    if len(word) > 3 and word[-4] in "st":
                        word = word[:-3]
                else:
                    word = word[: -len(suf)]
            break

    # step 5
    if word.endswith("e"):
        if in_r2(1) or (in_r1(1) and not _ends_shortv(word[:-1])):
            word = word[:-1]
    elif word.endswith("l") and in_r2(1) and len(word) > 1 \
            and word[-2] == "l":
        word = word[:-1]

    return word.replace("Y", "y")


# ---------------------------------------------------------------------------
# default parser (wparser_def.c subset)
# ---------------------------------------------------------------------------

# token type ids (wparser_def.c tok_alias ordering)
ASCIIWORD, WORD_T, NUMWORD = 1, 2, 3
EMAIL, URL_T, HOST, SFLOAT, VERSION = 4, 5, 6, 7, 8
HWORD_NUMPART, HWORD_PART, HWORD_ASCIIPART = 9, 10, 11
BLANK, TAG_T, PROTOCOL = 12, 13, 14
NUMHWORD, ASCIIHWORD, HWORD = 15, 16, 17
URL_PATH, FILE_T, FLOAT_T, INT_T, UINT = 18, 19, 20, 21, 22
ENTITY = 23

TOKEN_TYPE_NAMES = {
    1: "asciiword", 2: "word", 3: "numword", 4: "email", 5: "url",
    6: "host", 7: "sfloat", 8: "version", 9: "hword_numpart",
    10: "hword_part", 11: "hword_asciipart", 12: "blank", 13: "tag",
    14: "protocol", 15: "numhword", 16: "asciihword", 17: "hword",
    18: "url_path", 19: "file", 20: "float", 21: "int", 22: "uint",
    23: "entity",
}

# which token types the built-in configs index (pg_ts_config_map
# defaults: everything except blank/tag/protocol/entity)
_UNMAPPED = frozenset((BLANK, TAG_T, PROTOCOL, ENTITY))

_RE_PROTOCOL = re.compile(r"[a-zA-Z]+://")
_RE_EMAIL = re.compile(
    r"[a-zA-Z0-9_][a-zA-Z0-9_.-]*@[a-zA-Z0-9-]+(?:\.[a-zA-Z0-9-]+)*"
    r"\.[a-zA-Z0-9-]{2,}"
)
_RE_HOSTPORT = re.compile(
    r"[a-zA-Z0-9-]+(?:\.[a-zA-Z0-9-]+)*\.[a-zA-Z]+(?::\d+)?"
)
_RE_TAG = re.compile(r"</?[a-zA-Z](?:\"[^\"]*\"|'[^']*'|[^<>\"'])*>|<!--.*?-->")
_RE_ENTITY = re.compile(r"&[a-zA-Z]+;|&#\d+;")
_RE_SFLOAT = re.compile(
    r"[-+]\d+\.\d+[eE][-+]?\d+|\d+\.\d+[eE][-+]?\d+|[-+]\d+\.\d+"
)
_RE_VERSION = re.compile(r"\d+\.\d+(?:\.\d+)+")
_RE_FLOAT = re.compile(r"\d+\.\d+")
_RE_FILEPATH = re.compile(
    r"(?:/[a-zA-Z0-9_.-]+)+/?|[a-zA-Z0-9_-]+(?:/[a-zA-Z0-9_.-]+)+"
)
_RE_FILEEXT = re.compile(
    r"[a-zA-Z0-9_]+(?:\.[a-zA-Z0-9_]+)+"
)
_RE_INT = re.compile(r"[-+]\d+")
_RE_UINT = re.compile(r"\d+")
_RE_WORDCHAR = re.compile(r"[^\W\d_]", re.UNICODE)

_ALNUM_PART = r"[^\W_]+"  # letters+digits, unicode
_RE_HYPHENWORD = re.compile(
    rf"({_ALNUM_PART})(?:-({_ALNUM_PART}))+", re.UNICODE
)
_RE_USCOREWORD = re.compile(
    rf"({_ALNUM_PART})(?:_({_ALNUM_PART}))+", re.UNICODE
)
_RE_PART = re.compile(_ALNUM_PART, re.UNICODE)

# Fast-path for plain ASCII letter runs (the overwhelming majority of
# prose tokens). A run [A-Za-z]+ whose following character cannot
# extend it into any composite token — '@' (email), '.' (host/file),
# '-' (hyphenword), '_' (underscore word), ':' (protocol), '/' (path),
# a digit (numword via _RE_PART), or a non-ASCII alnum (unicode word
# continuation) — is classified ASCIIWORD by the full state machine
# unconditionally, so it can be emitted without trying the ~10
# composite regexes. Cuts parse_default's regex calls ~10x on prose
# (the to_tsvector hot path; r17 measurement: 0.33 ms/doc -> see
# history/OPTIMIZATION_r17.md).
_RE_ASCII_RUN = re.compile(r"[A-Za-z]+")
_UNSAFE_FOLLOW = frozenset("@.-_:/")


def _classify_word(tok: str) -> int:
    if tok.isdigit():
        return UINT
    if any(ch.isdigit() for ch in tok):
        return NUMWORD
    if tok.isascii():
        return ASCIIWORD
    return WORD_T


def _classify_part(tok: str) -> int:
    if any(ch.isdigit() for ch in tok):
        return HWORD_NUMPART
    if tok.isascii():
        return HWORD_ASCIIPART
    return HWORD_PART


def parse_default(text: str) -> list[tuple[int, str, bool]]:
    """Tokenize with a practical subset of the default parser's states.

    Emits (token_type, token_text, glue) triples; glue=True means the
    token shares its position with the previous position-consuming
    token (underscore-joined compound parts). Composite hyphenated
    words emit the whole hword followed by its parts, like
    wparser_def.c's two-pass compound handling.
    """
    out: list[tuple[int, str, bool]] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
            j = i
            while j < n and text[j].isspace():
                j += 1
            out.append((BLANK, text[i:j], False))
            i = j
            continue
        if ("a" <= ch <= "z") or ("A" <= ch <= "Z"):
            m = _RE_ASCII_RUN.match(text, i)
            j = m.end()
            if j >= n or (
                (nx := text[j]).isascii()
                and not nx.isalnum()
                and nx not in _UNSAFE_FOLLOW
            ):
                out.append((ASCIIWORD, m.group(0), False))
                i = j
                continue
        if ch == "<":
            m = _RE_TAG.match(text, i)
            if m:
                out.append((TAG_T, m.group(0), False))
                i = m.end()
                continue
        if ch == "&":
            m = _RE_ENTITY.match(text, i)
            if m:
                out.append((ENTITY, m.group(0), False))
                i = m.end()
                continue
        m = _RE_PROTOCOL.match(text, i)
        if m:
            out.append((PROTOCOL, m.group(0), False))
            i = m.end()
            # what follows a protocol is a URL: host[:port][/path]
            hm = _RE_HOSTPORT.match(text, i)
            if hm:
                host = hm.group(0)
                j = hm.end()
                k = j
                while k < n and not text[k].isspace() \
                        and text[k] not in "<>\"'":
                    k += 1
                path = text[j:k]
                if path and path != "/":
                    out.append((URL_T, host + path, False))
                    out.append((HOST, host, False))
                    out.append((URL_PATH, path, False))
                else:
                    out.append((HOST, host, False))
                    if path:
                        out.append((BLANK, path, False))
                i = k
            continue
        m = _RE_EMAIL.match(text, i)
        if m and _boundary(text, m.end()):
            out.append((EMAIL, m.group(0), False))
            i = m.end()
            continue
        m = _RE_HOSTPORT.match(text, i)
        if m and _boundary(text, m.end(), allow="/:"):
            # host optionally followed by a path => url
            j = m.end()
            if j < n and text[j] == "/":
                k = j
                while k < n and not text[k].isspace() \
                        and text[k] not in "<>\"'":
                    k += 1
                path = text[j:k]
                if path != "/":
                    out.append((URL_T, m.group(0) + path, False))
                    out.append((HOST, m.group(0), False))
                    out.append((URL_PATH, path, False))
                    i = k
                    continue
                out.append((HOST, m.group(0), False))
                out.append((BLANK, path, False))
                i = k
                continue
            out.append((HOST, m.group(0), False))
            i = j
            continue
        m = _RE_SFLOAT.match(text, i)
        if m and _boundary(text, m.end()) and (
            m.group(0)[0] in "+-" or "e" in m.group(0).lower()
        ):
            out.append((SFLOAT, m.group(0), False))
            i = m.end()
            continue
        m = _RE_VERSION.match(text, i)
        if m and _boundary(text, m.end()):
            out.append((VERSION, m.group(0), False))
            i = m.end()
            continue
        m = _RE_FLOAT.match(text, i)
        if m and _boundary(text, m.end()):
            out.append((FLOAT_T, m.group(0), False))
            i = m.end()
            continue
        m = _RE_FILEPATH.match(text, i)
        if m and _boundary(text, m.end()):
            out.append((FILE_T, m.group(0).rstrip("/") or m.group(0),
                        False))
            i = m.end()
            continue
        m = _RE_HYPHENWORD.match(text, i)
        if m and _boundary(text, m.end()) and not (
            m.end() < n and text[m.end()] == "."
        ):
            whole = m.group(0)
            parts = whole.split("-")
            types = [_classify_part(p) for p in parts]
            if HWORD_NUMPART in types:
                wt = NUMHWORD
            elif HWORD_PART in types:
                wt = HWORD
            else:
                wt = ASCIIHWORD
            out.append((wt, whole, False))
            for p, t in zip(parts, types):
                out.append((t, p, False))
            i = m.end()
            continue
        m = _RE_USCOREWORD.match(text, i)
        if m and _boundary(text, m.end()):
            # underscore-joined parts share one position
            parts = m.group(0).split("_")
            for k2, p in enumerate(parts):
                out.append((_classify_word(p), p, k2 > 0))
            i = m.end()
            continue
        m = _RE_FILEEXT.match(text, i)
        if m:
            # gist.h / gist.h.c (trailing dots excluded)
            tok = m.group(0)
            if "." in tok and not tok.replace(".", "").isdigit():
                out.append((FILE_T, tok, False))
                i = m.end()
                continue
        m = _RE_PART.match(text, i)
        if m:
            out.append((_classify_word(m.group(0)), m.group(0), False))
            i = m.end()
            continue
        m = _RE_UINT.match(text, i)
        if m:
            out.append((UINT, m.group(0), False))
            i = m.end()
            continue
        out.append((BLANK, ch, False))
        i += 1
    return out


def _boundary(text: str, pos: int, allow: str = "") -> bool:
    """True when pos is a clean token boundary (not mid-word)."""
    if pos >= len(text):
        return True
    ch = text[pos]
    if ch in allow:
        return True
    return not (ch.isalnum() or ch == "_" or ch == "-")


# ---------------------------------------------------------------------------
# dictionaries / configs
# ---------------------------------------------------------------------------

def lexize(config: str, token_type: int, token: str) -> list[str] | None:
    """Map one parser token through the config's dictionary chain.

    Returns [] for a stopword (position still consumed), None for an
    unmapped token type (position NOT consumed), [lexemes...] otherwise.
    """
    if token_type in _UNMAPPED:
        return None
    low = token.lower()
    if config == "english" and token_type in (
        ASCIIWORD, WORD_T, ASCIIHWORD, HWORD,
        HWORD_ASCIIPART, HWORD_PART,
    ):
        if low in STOPWORDS_EN:
            return []
        return [stem_english(low)]
    # 'simple' dictionary: lowercase, no stopwords
    return [low]


def normalize_config(config: str | None) -> str:
    cfg = (config or "english").strip().lower()
    if "." in cfg:
        cfg = cfg.split(".")[-1]
    cfg = cfg.strip('"')
    if cfg not in ("english", "simple"):
        raise ValueError(
            f'text search configuration "{cfg}" does not exist')
    return cfg


# ---------------------------------------------------------------------------
# TSVector
# ---------------------------------------------------------------------------

MAXENTRYPOS = 1 << 14  # 16384 (ts_type.h)
MAXNUMPOS = 256


class TSVector:
    """lexeme -> list of (pos, weight) pairs; empty list = no positions.

    Weight codes follow WEP_GETWEIGHT: 0=D, 1=C, 2=B, 3=A.
    """

    __slots__ = ("lex",)

    def __init__(self, lex: dict[str, list[tuple[int, int]]] | None = None):
        self.lex = lex if lex is not None else {}

    # -- input ----------------------------------------------------------
    @classmethod
    def parse(cls, s: str) -> "TSVector":
        """tsvector_in (tsvector.c / tsvector_parser.c)."""
        lex: dict[str, list[tuple[int, int]]] = {}
        i, n = 0, len(s)
        while i < n:
            while i < n and s[i].isspace():
                i += 1
            if i >= n:
                break
            word, i = cls._parse_lexeme(s, i)
            positions: list[tuple[int, int]] = []
            if i < n and s[i] == ":":
                i += 1
                i, positions = cls._parse_positions(s, i)
            if not word:
                raise ValueError("syntax error in tsvector: \"%s\"" % s)
            cur = lex.setdefault(word, [])
            if positions:
                merged = {p: w for p, w in cur}
                for p, w in positions:
                    # later duplicate position keeps max weight
                    if p in merged:
                        merged[p] = max(merged[p], w)
                    else:
                        merged[p] = w
                pos_sorted = sorted(merged.items())[:MAXNUMPOS]
                lex[word] = [(p, w) for p, w in pos_sorted]
        return cls(lex)

    @staticmethod
    def _parse_lexeme(s: str, i: int) -> tuple[str, int]:
        n = len(s)
        buf = []
        if i < n and s[i] == "'":
            i += 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        buf.append("'")
                        i += 2
                        continue
                    i += 1
                    break
                if s[i] == "\\" and i + 1 < n:
                    buf.append(s[i + 1])
                    i += 2
                    continue
                buf.append(s[i])
                i += 1
            else:
                raise ValueError(
                    "syntax error in tsvector: \"%s\"" % s)
        else:
            while i < n and not s[i].isspace() and s[i] not in ":'":
                if s[i] == "\\" and i + 1 < n:
                    buf.append(s[i + 1])
                    i += 2
                    continue
                buf.append(s[i])
                i += 1
        return "".join(buf), i

    @staticmethod
    def _parse_positions(s: str, i: int) -> tuple[int, list[tuple[int, int]]]:
        n = len(s)
        positions: list[tuple[int, int]] = []
        while True:
            j = i
            while j < n and s[j].isdigit():
                j += 1
            if j == i:
                raise ValueError(
                    "syntax error in tsvector: \"%s\"" % s)
            pos = int(s[i:j])
            if pos == 0 or pos > MAXENTRYPOS:
                raise ValueError(
                    "wrong position info in tsvector: \"%s\"" % s)
            pos = min(pos, MAXENTRYPOS - 1)
            weight = 0
            while j < n and s[j] in "ABCDabcd*":
                c = s[j].upper()
                weight = {"A": 3, "B": 2, "C": 1, "D": 0, "*": 3}[c]
                j += 1
            positions.append((pos, weight))
            if j < n and s[j] == ",":
                i = j + 1
                continue
            i = j
            break
        if i < n and not s[i].isspace():
            raise ValueError("syntax error in tsvector: \"%s\"" % s)
        return i, positions

    # -- output ---------------------------------------------------------
    def text(self) -> str:
        parts = []
        for word in sorted(self.lex, key=_lex_sort_key):
            quoted = ("'" + word.replace("\\", "\\\\")
                      .replace("'", "''") + "'")
            poss = self.lex[word]
            if poss:
                rendered = ",".join(
                    str(p) + ("", "C", "B", "A")[w] for p, w in poss
                )
                parts.append(f"{quoted}:{rendered}")
            else:
                parts.append(quoted)
        return " ".join(parts)

    # -- ops --------------------------------------------------------------
    def length(self) -> int:
        return len(self.lex)

    def strip(self) -> "TSVector":
        return TSVector({w: [] for w in self.lex})

    def setweight(self, weight: int,
                  only: list[str] | None = None) -> "TSVector":
        out = {}
        sel = set(only) if only is not None else None
        for w, poss in self.lex.items():
            if sel is None or w in sel:
                out[w] = [(p, weight) for p, _ in poss]
            else:
                out[w] = list(poss)
        return TSVector(out)

    def concat(self, other: "TSVector") -> "TSVector":
        """tsvector_concat: right side positions shift by left max pos
        (or left lexeme count 0? — tsvector_op.c uses maxpos of left)."""
        maxpos = 0
        for poss in self.lex.values():
            for p, _ in poss:
                maxpos = max(maxpos, p)
        out = {w: list(poss) for w, poss in self.lex.items()}
        for w, poss in other.lex.items():
            shifted = [(min(p + maxpos, MAXENTRYPOS - 1), wt)
                       for p, wt in poss]
            if w in out:
                merged = out[w] + shifted
                seen = {}
                for p, wt in merged:
                    if p not in seen:
                        seen[p] = wt
                out[w] = sorted(seen.items())[:MAXNUMPOS]
            else:
                out[w] = shifted
        return TSVector(out)

    def delete(self, words) -> "TSVector":
        drop = set(words)
        return TSVector(
            {w: list(p) for w, p in self.lex.items() if w not in drop})

    def filter_weights(self, weights: set[int]) -> "TSVector":
        out = {}
        for w, poss in self.lex.items():
            kept = [(p, wt) for p, wt in poss if wt in weights]
            if kept:
                out[w] = kept
        return TSVector(out)


def _lex_sort_key(word: str):
    return word.encode("utf-8")


# ---------------------------------------------------------------------------
# TSQuery
# ---------------------------------------------------------------------------

# node shapes: ("val", lexeme, weightmask, prefix)
#              ("not", child) ("and", l, r) ("or", l, r)
#              ("phrase", dist, l, r)

_PRIORITY = {"not": 4, "phrase": 3, "and": 2, "or": 1}

_W_BITS = {"A": 1 << 3, "B": 1 << 2, "C": 1 << 1, "D": 1}


class TSQuery:
    __slots__ = ("root",)

    def __init__(self, root):
        self.root = root

    # -- input ------------------------------------------------------------
    @classmethod
    def parse(cls, s: str) -> "TSQuery":
        p = _QueryParser(s)
        root = p.parse_or()
        p.skip_ws()
        if p.i < len(p.s):
            raise ValueError(f"syntax error in tsquery: \"{s}\"")
        return cls(root)

    # -- output -----------------------------------------------------------
    def text(self) -> str:
        if self.root is None:
            return ""
        return _infix(self.root, 0, False)

    def size(self) -> int:
        """Total node count (numnode)."""
        def cnt(nd):
            if nd is None:
                return 0
            if nd[0] == "val":
                return 1
            if nd[0] == "not":
                return 1 + cnt(nd[1])
            if nd[0] == "phrase":
                return 1 + cnt(nd[2]) + cnt(nd[3])
            return 1 + cnt(nd[1]) + cnt(nd[2])
        return cnt(self.root)

    def operands(self) -> list[tuple[str, int, bool]]:
        out = []

        def walk(nd):
            if nd is None:
                return
            if nd[0] == "val":
                out.append((nd[1], nd[2], nd[3]))
            elif nd[0] == "not":
                walk(nd[1])
            elif nd[0] == "phrase":
                walk(nd[2])
                walk(nd[3])
            else:
                walk(nd[1])
                walk(nd[2])
        walk(self.root)
        return out


class _QueryParser:
    """tsquery_in grammar (tsquery.c makepol): OR < AND < PHRASE < NOT."""

    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def skip_ws(self):
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1

    def parse_or(self):
        left = self.parse_and()
        while True:
            self.skip_ws()
            if self.i < len(self.s) and self.s[self.i] == "|":
                self.i += 1
                right = self.parse_and()
                left = ("or", left, right)
            else:
                return left

    def parse_and(self):
        left = self.parse_phrase()
        while True:
            self.skip_ws()
            if self.i < len(self.s) and self.s[self.i] == "&":
                self.i += 1
                right = self.parse_phrase()
                left = ("and", left, right)
            else:
                return left

    def parse_phrase(self):
        left = self.parse_not()
        while True:
            self.skip_ws()
            m = re.match(r"<(?:(-)|(\d+))>", self.s[self.i:])
            if m:
                dist = 1 if m.group(1) else int(m.group(2))
                if dist > MAXENTRYPOS - 1:
                    raise ValueError(
                        "distance in phrase operator must be an integer "
                        "value between zero and 16384 inclusive")
                self.i += m.end()
                right = self.parse_not()
                left = ("phrase", dist, left, right)
            else:
                return left

    def parse_not(self):
        self.skip_ws()
        if self.i < len(self.s) and self.s[self.i] == "!":
            self.i += 1
            return ("not", self.parse_not())
        return self.parse_atom()

    def parse_atom(self):
        self.skip_ws()
        s, i, n = self.s, self.i, len(self.s)
        if i >= n:
            raise ValueError(f"syntax error in tsquery: \"{s}\"")
        if s[i] == "(":
            self.i = i + 1
            node = self.parse_or()
            self.skip_ws()
            if self.i >= n or self.s[self.i] != ")":
                raise ValueError(f"syntax error in tsquery: \"{s}\"")
            self.i += 1
            return node
        word, j = TSVector._parse_lexeme(s, i)
        if not word and not (j > i):
            raise ValueError(f"syntax error in tsquery: \"{s}\"")
        # stop a bare (unquoted) lexeme at operator chars
        if s[i] != "'":
            word = ""
            j = i
            while j < n and not s[j].isspace() and s[j] not in "&|!()<:'":
                if s[j] == "\\" and j + 1 < n:
                    word += s[j + 1]
                    j += 2
                    continue
                word += s[j]
                j += 1
        if not word:
            raise ValueError(f"syntax error in tsquery: \"{s}\"")
        weight = 0
        prefix = False
        if j < n and s[j] == ":":
            j += 1
            got = False
            while j < n and s[j] in "*ABCDabcd":
                got = True
                if s[j] == "*":
                    prefix = True
                else:
                    weight |= _W_BITS[s[j].upper()]
                j += 1
            if not got:
                raise ValueError(f"syntax error in tsquery: \"{s}\"")
        self.i = j
        return ("val", word, weight, prefix)


def _infix(node, parent_pri: int, right_phrase: bool) -> str:
    kind = node[0]
    if kind == "val":
        _, word, weight, prefix = node
        txt = "'" + word.replace("\\", "\\\\").replace("'", "''") + "'"
        if weight or prefix:
            txt += ":"
            if prefix:
                txt += "*"
            for letter in "ABCD":
                if weight & _W_BITS[letter]:
                    txt += letter
        return txt
    pri = _PRIORITY[kind]
    if kind == "not":
        inner = "!" + _infix(node[1], pri, False)
        if pri < parent_pri:
            return "( " + inner + " )"
        return inner
    if kind == "phrase":
        dist, left, right = node[1], node[2], node[3]
        op = " <-> " if dist == 1 else f" <{dist}> "
        body = _infix(left, pri, False) + op + _infix(right, pri, True)
        if pri < parent_pri or right_phrase:
            return "( " + body + " )"
        return body
    op = " & " if kind == "and" else " | "
    body = _infix(node[1], pri, False) + op + _infix(node[2], pri, False)
    if pri < parent_pri:
        return "( " + body + " )"
    return body

# ---------------------------------------------------------------------------
# @@ match (tsvector_op.c TS_execute / TS_phrase_execute)
# ---------------------------------------------------------------------------

TS_NO, TS_YES, TS_MAYBE = 0, 1, 2


def _find_entries(tsv: TSVector, word: str, prefix: bool) -> list[str]:
    if not prefix:
        return [word] if word in tsv.lex else []
    return [w for w in tsv.lex if w.startswith(word)]


class _PhraseData:
    __slots__ = ("npos", "pos", "negate", "width")

    def __init__(self):
        self.npos = 0
        self.pos: list[int] = []
        self.negate = False
        self.width = 0


def _check_val(tsv: TSVector, val, data: "_PhraseData | None") -> bool:
    """checkcondition_str + checkclass_str: weight filtering and
    position collection across (possibly several, for prefix) entries."""
    _, word, weight, prefix = val
    entries = _find_entries(tsv, word, prefix)
    if not entries:
        return False
    res = False
    allpos: list[int] = []
    for w in entries:
        poss = tsv.lex[w]
        if poss and (weight or data is not None):
            if weight and data is not None:
                sel = [p for p, wt in poss if weight & (1 << wt)]
                if sel:
                    allpos.extend(sel)
                    res = True
            elif weight:
                if any(weight & (1 << wt) for p, wt in poss):
                    res = True
            else:
                allpos.extend(p for p, _ in poss)
                res = True
        else:
            # no positions stored, or no weight filter requested and no
            # position data needed: lexeme presence is enough
            res = True
    if data is not None and allpos:
        data.pos = sorted(set(allpos))
        data.npos = len(data.pos)
    return res


def _phrase_output(data, ldata, rdata, emit, loff, roff):
    """TS_phrase_output merge-join; emit bits: 1=L_ONLY 2=R_ONLY 4=BOTH."""
    li = ri = 0
    out = []
    while li < ldata.npos or ri < rdata.npos:
        lpos = ldata.pos[li] + loff if li < ldata.npos else None
        rpos = rdata.pos[ri] + roff if ri < rdata.npos else None
        if lpos is None:
            if not (emit & 2):
                break
            lpos = 1 << 30
        if rpos is None:
            if not (emit & 1):
                break
            rpos = 1 << 30
        opos = 0
        if lpos < rpos:
            if emit & 1:
                opos = lpos
            li += 1
        elif lpos == rpos:
            if emit & 4:
                opos = rpos
            li += 1
            ri += 1
        else:
            if emit & 2:
                opos = rpos
            ri += 1
        if opos > 0:
            if data is None:
                return TS_YES
            out.append(opos)
    if data is not None and out:
        data.pos = out
        data.npos = len(out)
        return TS_YES
    return TS_NO


def _phrase_execute(tsv: TSVector, node, calc_not: bool,
                    data: "_PhraseData | None"):
    kind = node[0]
    if kind == "val":
        d = data if data is not None else _PhraseData()
        if not _check_val(tsv, node, d):
            return TS_NO
        if d.npos > 0 or d.negate:
            return TS_YES
        return TS_MAYBE
    if kind == "not":
        if not calc_not:
            data.negate = True
            return TS_YES
        sub = _phrase_execute(tsv, node[1], calc_not, data)
        if sub == TS_NO:
            data.negate = True
            return TS_YES
        if sub == TS_YES:
            if data.npos > 0:
                data.negate = not data.negate
                return TS_YES
            if data.negate:
                data.negate = False
                return TS_NO
        return TS_MAYBE
    if kind in ("phrase", "and"):
        if kind == "phrase":
            dist, lnode, rnode = node[1], node[2], node[3]
        else:
            lnode, rnode = node[1], node[2]
        ldata, rdata = _PhraseData(), _PhraseData()
        lmatch = _phrase_execute(tsv, lnode, calc_not, ldata)
        if lmatch == TS_NO:
            return TS_NO
        rmatch = _phrase_execute(tsv, rnode, calc_not, rdata)
        if rmatch == TS_NO:
            return TS_NO
        if lmatch == TS_MAYBE or rmatch == TS_MAYBE:
            return TS_MAYBE
        if kind == "phrase":
            loff = dist + rdata.width
            roff = 0
            if data is not None:
                data.width = dist + ldata.width + rdata.width
        else:
            maxw = max(ldata.width, rdata.width)
            loff = maxw - ldata.width
            roff = maxw - rdata.width
            if data is not None:
                data.width = maxw
        if ldata.negate and rdata.negate:
            _phrase_output(data, ldata, rdata, 7, loff, roff)
            if data is not None:
                data.negate = True
            return TS_YES
        if ldata.negate:
            return _phrase_output(data, ldata, rdata, 2, loff, roff)
        if rdata.negate:
            return _phrase_output(data, ldata, rdata, 1, loff, roff)
        return _phrase_output(data, ldata, rdata, 4, loff, roff)
    # OR
    lnode, rnode = node[1], node[2]
    ldata, rdata = _PhraseData(), _PhraseData()
    lmatch = _phrase_execute(tsv, lnode, calc_not, ldata)
    rmatch = _phrase_execute(tsv, rnode, calc_not, rdata)
    if lmatch == TS_NO and rmatch == TS_NO:
        return TS_NO
    if lmatch == TS_MAYBE or rmatch == TS_MAYBE:
        return TS_MAYBE
    if lmatch == TS_NO:
        ldata.width = 0
    if rmatch == TS_NO:
        rdata.width = 0
    maxw = max(ldata.width, rdata.width)
    loff = maxw - ldata.width
    roff = maxw - rdata.width
    if data is not None:
        data.width = maxw
    if ldata.negate and rdata.negate:
        _phrase_output(data, ldata, rdata, 4, loff, roff)
        data.negate = True
        return TS_YES
    if ldata.negate:
        _phrase_output(data, ldata, rdata, 1, loff, roff)
        data.negate = True
        return TS_YES
    if rdata.negate:
        _phrase_output(data, ldata, rdata, 2, loff, roff)
        data.negate = True
        return TS_YES
    return _phrase_output(data, ldata, rdata, 7, loff, roff)


def _execute_recurse(tsv: TSVector, node, calc_not: bool):
    kind = node[0]
    if kind == "val":
        return TS_YES if _check_val(tsv, node, None) else TS_NO
    if kind == "not":
        if not calc_not:
            return TS_YES
        sub = _execute_recurse(tsv, node[1], calc_not)
        if sub == TS_NO:
            return TS_YES
        if sub == TS_YES:
            return TS_NO
        return TS_MAYBE
    if kind == "and":
        lmatch = _execute_recurse(tsv, node[1], calc_not)
        if lmatch == TS_NO:
            return TS_NO
        rmatch = _execute_recurse(tsv, node[2], calc_not)
        if rmatch == TS_NO:
            return TS_NO
        if rmatch == TS_YES:
            return lmatch
        return TS_MAYBE
    if kind == "or":
        lmatch = _execute_recurse(tsv, node[1], calc_not)
        if lmatch == TS_YES:
            return TS_YES
        rmatch = _execute_recurse(tsv, node[2], calc_not)
        if rmatch == TS_NO:
            return lmatch
        if rmatch == TS_YES:
            return TS_YES
        return TS_MAYBE
    # phrase: MAYBE converts to NO at this level (TS_execute_recurse)
    sub = _phrase_execute(tsv, node, calc_not, None)
    if sub == TS_MAYBE:
        return TS_NO
    return sub


def ts_match(tsv: TSVector, query: TSQuery) -> bool:
    if query.root is None:
        return False
    return _execute_recurse(tsv, query.root, True) != TS_NO


# ---------------------------------------------------------------------------
# ts_rank / ts_rank_cd (tsrank.c)
# ---------------------------------------------------------------------------

_DEF_WEIGHTS = (0.1, 0.2, 0.4, 1.0)  # D C B A


def _f32(x: float) -> float:
    """Round-trip through float32 like the reference's float4 math."""
    import struct
    return struct.unpack("f", struct.pack("f", float(x)))[0]


def _word_distance(d: int) -> float:
    if d > 100:
        return 1e-30
    return _f32(1.0 / (1.005 + 0.05 * math.exp(d / 1.5 - 2)))


def _cnt_length(tsv: TSVector) -> int:
    total = 0
    for poss in tsv.lex.values():
        total += len(poss) if poss else 1
    return total


def _sorted_uniq_operands(query: TSQuery):
    ops = query.operands()
    seen = {}
    for word, weight, prefix in ops:
        key = word
        if key not in seen:
            seen[key] = (word, weight, prefix)
    return [seen[k] for k in sorted(seen, key=_lex_sort_key)]


def _rank_entry_positions(tsv, word, prefix):
    """Matching entries, in tsvector (sorted) order."""
    out = []
    for w in sorted(_find_entries(tsv, word, prefix), key=_lex_sort_key):
        out.append(tsv.lex[w])
    return out


def _calc_rank_or(w, tsv: TSVector, query: TSQuery) -> float:
    items = _sorted_uniq_operands(query)
    res = 0.0
    for word, weight, prefix in items:
        for poss in _rank_entry_positions(tsv, word, prefix):
            eff = poss if poss else [(0, 0)]
            resj = 0.0
            wjm = -1.0
            jm = 0
            for j, (p, wt) in enumerate(eff):
                resj += w[wt] / ((j + 1) * (j + 1))
                if w[wt] > wjm:
                    wjm = w[wt]
                    jm = j
            res = _f32(res + _f32(
                (wjm + resj - wjm / ((jm + 1) * (jm + 1))) / 1.64493406685))
    if items:
        res = _f32(res / len(items))
    return res


def _calc_rank_and(w, tsv: TSVector, query: TSQuery) -> float:
    items = _sorted_uniq_operands(query)
    if len(items) < 2:
        return _calc_rank_or(w, tsv, query)
    # posnull sentinel: weight D at position MAXENTRYPOS-1
    posnull = [(MAXENTRYPOS - 1, 0)]
    pos: list[list[tuple[int, int]] | None] = [None] * len(items)
    res = -1.0
    for i, (word, weight, prefix) in enumerate(items):
        for poss in _rank_entry_positions(tsv, word, prefix):
            pos[i] = poss if poss else posnull
            post = pos[i]
            for k in range(i):
                if not pos[k]:
                    continue
                ct = pos[k]
                for lp, lw in post:
                    for cp, cw in ct:
                        dist = abs(lp - cp)
                        if dist or (dist == 0 and (
                                post is posnull or ct is posnull)):
                            if not dist:
                                dist = MAXENTRYPOS
                            curw = _f32(math.sqrt(
                                w[lw] * w[cw] * _word_distance(dist)))
                            res = curw if res < 0 else _f32(
                                1.0 - (1.0 - res) * (1.0 - curw))
    return res


def ts_rank(tsv: TSVector, query: TSQuery,
            weights=None, method: int = 0) -> float:
    w = list(weights) if weights is not None else _DEF_WEIGHTS
    _validate_weights(w)
    if not tsv.lex or query.root is None:
        return 0.0
    root = query.root
    if root[0] in ("and", "phrase"):
        res = _calc_rank_and(w, tsv, query)
    else:
        res = _calc_rank_or(w, tsv, query)
    if res < 0:
        res = 1e-20
    if (method & 1) and tsv.lex:
        res /= math.log(_cnt_length(tsv) + 1) / math.log(2.0)
    if method & 2:
        ln = _cnt_length(tsv)
        if ln > 0:
            res /= ln
    if (method & 8) and tsv.lex:
        res /= len(tsv.lex)
    if (method & 16) and tsv.lex:
        res /= math.log(len(tsv.lex) + 1) / math.log(2.0)
    if method & 32:
        res /= res + 1
    return _f32(res)


def _validate_weights(w):
    if len(w) < 4:
        raise ValueError("array of weight is too short")
    for x in w:
        if x is None:
            raise ValueError("array of weight must not contain nulls")
        if x > 1.0:
            raise ValueError("weight out of range")


def _get_docrep(tsv: TSVector, query: TSQuery):
    """get_docrep: (pos, weightcode, entry_word, {operands}) sorted."""
    ops = query.operands()
    raw = []
    for idx, (word, weight, prefix) in enumerate(ops):
        for w in sorted(_find_entries(tsv, word, prefix),
                        key=_lex_sort_key):
            poss = tsv.lex[w]
            if not poss:
                continue  # ignore words without positions
            for p, wt in poss:
                if weight == 0 or weight & (1 << wt):
                    raw.append((p, wt, w, idx))
    if not raw:
        return None
    raw.sort(key=lambda t: (t[0], t[1], t[2]))
    doc = []
    for p, wt, w, idx in raw:
        if doc and doc[-1][0] == p and doc[-1][2] == w:
            doc[-1][3].add(idx)
        else:
            doc.append((p, wt, w, {idx}))
    return doc


def _cover_check(query: TSQuery, present: dict[int, list[int]],
                 calc_not: bool) -> bool:
    """TS_execute over QueryRepresentation: operand idx -> positions."""
    idx_iter = iter(range(10 ** 9))

    def walk(nd):
        if nd[0] == "val":
            i = next(idx_iter)
            d = _PhraseData()
            if i not in present:
                return TS_NO, d
            d.pos = sorted(present[i])
            d.npos = len(d.pos)
            return TS_YES, d
        if nd[0] == "not":
            sub, d = walk(nd[1])
            if not calc_not:
                nd2 = _PhraseData()
                nd2.negate = True
                return TS_YES, nd2
            if sub == TS_NO:
                d.negate = True
                return TS_YES, d
            if sub == TS_YES:
                if d.npos > 0:
                    d.negate = not d.negate
                    return TS_YES, d
                if d.negate:
                    d.negate = False
                    return TS_NO, d
            return TS_MAYBE, d
        if nd[0] in ("and", "phrase"):
            if nd[0] == "phrase":
                dist, ln, rn = nd[1], nd[2], nd[3]
            else:
                ln, rn = nd[1], nd[2]
            lm, ld = walk(ln)
            rm, rd = walk(rn)
            out = _PhraseData()
            if lm == TS_NO or rm == TS_NO:
                return TS_NO, out
            if lm == TS_MAYBE or rm == TS_MAYBE:
                return TS_MAYBE, out
            if nd[0] == "phrase":
                loff = dist + rd.width
                roff = 0
                out.width = dist + ld.width + rd.width
            else:
                maxw = max(ld.width, rd.width)
                loff = maxw - ld.width
                roff = maxw - rd.width
                out.width = maxw
            if ld.negate and rd.negate:
                _phrase_output(out, ld, rd, 7, loff, roff)
                out.negate = True
                return TS_YES, out
            if ld.negate:
                return _phrase_output(out, ld, rd, 2, loff, roff), out
            if rd.negate:
                return _phrase_output(out, ld, rd, 1, loff, roff), out
            return _phrase_output(out, ld, rd, 4, loff, roff), out
        # or
        lm, ld = walk(nd[1])
        rm, rd = walk(nd[2])
        out = _PhraseData()
        if lm == TS_NO and rm == TS_NO:
            return TS_NO, out
        if lm == TS_MAYBE or rm == TS_MAYBE:
            return TS_MAYBE, out
        if lm == TS_NO:
            ld.width = 0
        if rm == TS_NO:
            rd.width = 0
        maxw = max(ld.width, rd.width)
        loff = maxw - ld.width
        roff = maxw - rd.width
        out.width = maxw
        if ld.negate and rd.negate:
            _phrase_output(out, ld, rd, 4, loff, roff)
            out.negate = True
            return TS_YES, out
        if ld.negate:
            _phrase_output(out, ld, rd, 1, loff, roff)
            out.negate = True
            return TS_YES, out
        if rd.negate:
            _phrase_output(out, ld, rd, 2, loff, roff)
            out.negate = True
            return TS_YES, out
        return _phrase_output(out, ld, rd, 7, loff, roff), out

    def walk_top(nd):
        if nd[0] == "val":
            i = next(idx_iter)
            return TS_YES if i in present else TS_NO
        if nd[0] == "not":
            if not calc_not:
                # consume operand indexes under the NOT
                _consume(nd[1])
                return TS_YES
            sub = walk_top(nd[1])
            if sub == TS_NO:
                return TS_YES
            if sub == TS_YES:
                return TS_NO
            return TS_MAYBE
        if nd[0] == "and":
            lm = walk_top(nd[1])
            if lm == TS_NO:
                _consume(nd[2])
                return TS_NO
            rm = walk_top(nd[2])
            if rm == TS_NO:
                return TS_NO
            if rm == TS_YES:
                return lm
            return TS_MAYBE
        if nd[0] == "or":
            lm = walk_top(nd[1])
            rm = walk_top(nd[2])
            if lm == TS_YES or rm == TS_YES:
                return TS_YES
            if lm == TS_NO and rm == TS_NO:
                return TS_NO
            return TS_MAYBE
        sub, _ = walk(nd)
        if sub == TS_MAYBE:
            return TS_NO
        return sub

    def _consume(nd):
        if nd[0] == "val":
            next(idx_iter)
        elif nd[0] == "not":
            _consume(nd[1])
        elif nd[0] == "phrase":
            _consume(nd[2])
            _consume(nd[3])
        else:
            _consume(nd[1])
            _consume(nd[2])

    return walk_top(query.root) != TS_NO


def _cover(doc, query: TSQuery, startpos: int):
    """Cover(): find smallest window [p, q] of doc (from startpos)
    satisfying the query; returns (begin_idx, end_idx, next_startpos)."""
    n = len(doc)
    pos = startpos
    while pos < n:
        # move up: accumulate operands until query satisfied
        present: dict[int, list[int]] = {}
        q = 0
        lastidx = -1
        ptr = pos
        found = False
        while ptr < n:
            p, wt, w, idxs = doc[ptr]
            for i in idxs:
                present.setdefault(i, [])
                if not present[i] or present[i][-1] != p:
                    present[i].append(p)
            if _cover_check(query, present, calc_not=False):
                if p > q:
                    q = p
                    lastidx = ptr
                    found = True
                break
            ptr += 1
        if not found:
            return None
        # move down from lastidx: find lower bound
        present = {}
        pbound = 1 << 30
        beginidx = lastidx
        ptr = lastidx
        while ptr >= pos:
            p, wt, w, idxs = doc[ptr]
            for i in idxs:
                present.setdefault(i, [])
                # reverse order insert (descending): prepend unique pos
                if not present[i] or present[i][0] != p:
                    present[i].insert(0, p)
            if _cover_check(query, present, calc_not=True):
                if p < pbound:
                    beginidx = ptr
                    pbound = p
                break
            ptr -= 1
        if pbound <= q:
            return (beginidx, lastidx, ptr + 1)
        pos += 1
    return None


def ts_rank_cd(tsv: TSVector, query: TSQuery,
               weights=None, method: int = 0) -> float:
    w = list(weights) if weights is not None else _DEF_WEIGHTS
    _validate_weights(w)
    invw = [1.0 / x for x in w]
    doc = _get_docrep(tsv, query)
    if not doc:
        return 0.0
    wdoc = 0.0
    sumdist = 0.0
    prevextpos = 0.0
    nextent = 0
    startpos = 0
    while True:
        cov = _cover(doc, query, startpos)
        if cov is None:
            break
        begin, end, startpos = cov
        invsum = sum(invw[doc[i][1]] for i in range(begin, end + 1))
        cpos = (end - begin + 1) / invsum
        ext_p, ext_q = doc[begin][0], doc[end][0]
        nnoise = (ext_q - ext_p) - (end - begin)
        if nnoise < 0:
            nnoise = (end - begin) // 2
        wdoc += cpos / (1 + nnoise)
        curextpos = (ext_q + ext_p) / 2.0
        if nextent > 0 and curextpos > prevextpos:
            sumdist += 1.0 / (curextpos - prevextpos)
        prevextpos = curextpos
        nextent += 1
    if (method & 1) and tsv.lex:
        wdoc /= math.log(_cnt_length(tsv) + 1)
    if method & 2:
        ln = _cnt_length(tsv)
        if ln > 0:
            wdoc /= ln
    if (method & 4) and nextent > 0 and sumdist > 0:
        wdoc /= nextent / sumdist
    if (method & 8) and tsv.lex:
        wdoc /= len(tsv.lex)
    if (method & 16) and tsv.lex:
        wdoc /= math.log(len(tsv.lex) + 1) / math.log(2.0)
    if method & 32:
        wdoc /= wdoc + 1
    return _f32(wdoc)

# ---------------------------------------------------------------------------
# document pipeline: to_tsvector (ts_parse.c parsetext)
# ---------------------------------------------------------------------------

def to_tsvector(config: str, text: str) -> TSVector:
    cfg = normalize_config(config)
    lex: dict[str, list[tuple[int, int]]] = {}
    pos = 0
    for ttype, tok, glue in parse_default(text):
        lexemes = lexize(cfg, ttype, tok)
        if lexemes is None:
            continue
        if not (glue and pos):
            pos += 1
        p = min(pos, MAXENTRYPOS - 1)
        for lx in lexemes:
            cur = lex.setdefault(lx, [])
            if len(cur) < MAXNUMPOS and (not cur or cur[-1][0] != p):
                cur.append((p, 0))
    return TSVector(lex)


def _json_strings(value, kinds: set[str]):
    """Yield text fragments from a parsed JSON document in document
    order, per jsonb_to_tsvector's 'all/string/numeric/boolean/key'
    filter classes (jsonfuncs.c transform semantics)."""
    if isinstance(value, dict):
        for k, v in value.items():
            if "key" in kinds:
                yield k
            yield from _json_strings(v, kinds)
    elif isinstance(value, list):
        for v in value:
            yield from _json_strings(v, kinds)
    elif isinstance(value, str):
        if "string" in kinds:
            yield value
    elif isinstance(value, bool):
        if "boolean" in kinds:
            yield "true" if value else "false"
    elif value is None:
        pass
    elif "numeric" in kinds:
        yield _json.dumps(value)


def to_tsvector_json(config: str, doc: str,
                     filt: str | None = None) -> TSVector:
    cfg = normalize_config(config)
    try:
        parsed = _json.loads(doc)
    except Exception:
        raise ValueError(f"invalid input syntax for type json: \"{doc}\"")
    if filt is None:
        kinds = {"string"}
    else:
        fp = _json.loads(filt)
        if isinstance(fp, str):
            fp = [fp]
        kinds = set()
        for k in fp:
            if k == "all":
                kinds |= {"string", "numeric", "boolean", "key"}
            elif k in ("string", "numeric", "boolean", "key"):
                kinds.add(k)
            else:
                raise ValueError(
                    f'wrong flag in flag array: "{k}"')
    lex: dict[str, list[tuple[int, int]]] = {}
    pos = 0
    first = True
    for frag in _json_strings(parsed, kinds):
        if not first:
            pos += 1  # one-position gap between values (to_tsany.c)
        first = False
        for ttype, tok, glue in parse_default(frag):
            lexemes = lexize(cfg, ttype, tok)
            if lexemes is None:
                continue
            if not (glue and pos):
                pos += 1
            p = min(pos, MAXENTRYPOS - 1)
            for lx in lexemes:
                cur = lex.setdefault(lx, [])
                if len(cur) < MAXNUMPOS and (not cur or cur[-1][0] != p):
                    cur.append((p, 0))
    return TSVector(lex)


# ---------------------------------------------------------------------------
# query pipelines (to_tsany.c pushval_morph + tsquery_cleanup.c)
# ---------------------------------------------------------------------------

_STOPNODE = ("stop",)


def _morph_tokens(cfg: str, text: str):
    """Parse operand text; yield (lexeme|None, position) per consumed
    position (None = stopword placeholder)."""
    pos = 0
    out = []
    for ttype, tok, glue in parse_default(text):
        lexemes = lexize(cfg, ttype, tok)
        if lexemes is None:
            continue
        if not (glue and pos):
            pos += 1
        if not lexemes:
            out.append((None, pos))
        else:
            for lx in lexemes:
                out.append((lx, pos))
    return out


def _morph_operand(cfg: str, text: str, weight: int, prefix: bool):
    """Morph one tsquery operand into a node tree (may contain stop
    placeholders for later cleanup)."""
    items = _morph_tokens(cfg, text)
    if not items:
        return _STOPNODE
    # group same-position lexemes into AND first (pushval_morph
    # variants), then phrase-join the position groups
    groups: list[tuple[int, list]] = []
    for lx, p in items:
        leaf = _STOPNODE if lx is None else ("val", lx, weight, prefix)
        if groups and groups[-1][0] == p:
            groups[-1][1].append(leaf)
        else:
            groups.append((p, [leaf]))
    node = None
    prevpos = None
    for p, leaves in groups:
        g = None
        for leaf in leaves:
            if g is None:
                g = leaf
            elif leaf is _STOPNODE and g is _STOPNODE:
                continue
            else:
                g = ("and", g, leaf)
        if node is None:
            node = g
            prevpos = p
        else:
            node = ("phrase", p - prevpos, node, g)
            prevpos = p
    return node


def _clean_stop(node):
    """clean_stopword_intree: returns (node|None, ladd, radd)."""
    kind = node[0]
    if kind == "val":
        return node, 0, 0
    if kind == "stop":
        return None, 0, 0
    if kind == "not":
        child, ladd, radd = _clean_stop(node[1])
        if child is None:
            return None, ladd, radd
        return ("not", child), ladd, radd
    isphrase = kind == "phrase"
    if isphrase:
        ndist, lnode, rnode = node[1], node[2], node[3]
    else:
        ndist, lnode, rnode = 0, node[1], node[2]
    left, lladd, lradd = _clean_stop(lnode)
    right, rladd, rradd = _clean_stop(rnode)
    if left is None and right is None:
        if isphrase:
            add = lladd + ndist + rladd
            return None, add, add
        add = max(lladd, rladd)
        return None, add, add
    if left is None:
        if isphrase:
            return right, lladd + ndist + rladd, rradd
        return right, rladd, rradd
    if right is None:
        if isphrase:
            return left, lladd, lradd + ndist + rradd
        return left, lladd, lradd
    if isphrase:
        return ("phrase", ndist + lradd + rladd, left, right), lladd, rradd
    return (kind, left, right), 0, 0


class StopwordQueryNotice(Warning):
    pass


def _finish_query(root) -> TSQuery:
    cleaned, _, _ = _clean_stop(root) if root is not None else (None, 0, 0)
    return TSQuery(cleaned)


def to_tsquery(config: str, text: str) -> TSQuery:
    cfg = normalize_config(config)
    parsed = TSQuery.parse(text)

    def morph(nd):
        if nd[0] == "val":
            return _morph_operand(cfg, nd[1], nd[2], nd[3])
        if nd[0] == "not":
            return ("not", morph(nd[1]))
        if nd[0] == "phrase":
            return ("phrase", nd[1], morph(nd[2]), morph(nd[3]))
        return (nd[0], morph(nd[1]), morph(nd[2]))

    return _finish_query(morph(parsed.root))


def plainto_tsquery(config: str, text: str) -> TSQuery:
    cfg = normalize_config(config)
    lexemes = [lx for lx, _ in _morph_tokens(cfg, text) if lx is not None]
    node = None
    for lx in lexemes:
        leaf = ("val", lx, 0, False)
        node = leaf if node is None else ("and", node, leaf)
    return TSQuery(node)


def phraseto_tsquery(config: str, text: str) -> TSQuery:
    cfg = normalize_config(config)
    node = _morph_operand(cfg, text, 0, False)
    return _finish_query(node)


def websearch_to_tsquery(config: str, text: str) -> TSQuery:
    """websearch_to_tsquery: AND between items, `or` keyword only when
    BETWEEN two operands, -NOT (stacking), "quoted phrase"; operator
    punctuation is inert and the form never raises."""
    cfg = normalize_config(config)
    # itemize: ("phrase", txt) / ("word", txt) / ("not",) / ("or",)
    items = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace() or ch in "&|!():*<>":
            i += 1
            continue
        if ch == '"':
            j = text.find('"', i + 1)
            if j < 0:
                i += 1  # unbalanced: quote is inert
                continue
            if j > i + 1:
                items.append(("phrase", text[i + 1:j]))
            i = j + 1
            continue
        if ch == "-" and (i + 1 < n and (text[i + 1] == "-"
                                         or text[i + 1].isalpha()
                                         or text[i + 1] == '"')):
            items.append(("not",))
            i += 1
            continue
        # grab a parser-shaped word chunk (stops at websearch blanks)
        j = i
        while j < n and not text[j].isspace() \
                and text[j] not in '"&|!():*<>':
            j += 1
        word = text[i:j]
        i = j
        if word.lower() == "or":
            items.append(("or",))
        elif word:
            items.append(("word", word))

    # `or` is an operator only between two operands; else a plain word
    resolved = []
    for k, it in enumerate(items):
        if it[0] != "or":
            resolved.append(it)
            continue
        has_prev = any(x[0] in ("word", "phrase") for x in resolved)
        has_next = any(x[0] in ("word", "phrase", "or")
                       for x in items[k + 1:])
        if has_prev and has_next:
            resolved.append(("OR",))
        else:
            resolved.append(("word", "or"))

    result = None
    pending_or = False
    pending_not = 0

    def attach(node):
        nonlocal result, pending_or, pending_not
        while pending_not:
            node = ("not", node) if node is not None else None
            if node is None:
                break
            pending_not -= 1
        pending_not = 0
        if node is None:
            pending_or = False
            return
        if result is None:
            result = node
        elif pending_or:
            result = ("or", result, node)
        else:
            result = ("and", result, node)
        pending_or = False

    for it in resolved:
        if it[0] == "OR":
            pending_or = True
        elif it[0] == "not":
            pending_not += 1
        elif it[0] == "phrase":
            node = _morph_operand(cfg, it[1], 0, False)
            cleaned, _, _ = _clean_stop(node)
            attach(cleaned)
        else:
            # unquoted word: all lexemes AND-joined (to_tsany.c
            # pushval_morph QVariant in websearch mode)
            lexs = [lx for lx, _p in _morph_tokens(cfg, it[1])
                    if lx is not None]
            node = None
            for lx in lexs:
                leaf = ("val", lx, 0, False)
                node = leaf if node is None else ("and", node, leaf)
            attach(node)
    return TSQuery(result)


def tsquery_phrase(q1: TSQuery, q2: TSQuery, dist: int = 1) -> TSQuery:
    if q1.root is None or q2.root is None:
        return TSQuery(q1.root if q2.root is None else q2.root)
    return TSQuery(("phrase", dist, q1.root, q2.root))


def tsquery_and(q1: TSQuery, q2: TSQuery) -> TSQuery:
    if q1.root is None:
        return q2
    if q2.root is None:
        return q1
    return TSQuery(("and", q1.root, q2.root))


def tsquery_or(q1: TSQuery, q2: TSQuery) -> TSQuery:
    if q1.root is None:
        return q2
    if q2.root is None:
        return q1
    return TSQuery(("or", q1.root, q2.root))


def tsquery_not(q: TSQuery) -> TSQuery:
    if q.root is None:
        return q
    return TSQuery(("not", q.root))


def querytree(q: TSQuery) -> str:
    """querytree(): strip NOT branches (tsquery_util.c clean_NOT)."""
    def strip_not(nd):
        if nd is None:
            return None
        if nd[0] == "val":
            return nd
        if nd[0] == "not":
            return None
        if nd[0] == "phrase":
            l, r = strip_not(nd[2]), strip_not(nd[3])
            if l is None or r is None:
                # phrase needs both sides; degrade like AND
                return l if r is None else r
            return ("phrase", nd[1], l, r)
        l, r = strip_not(nd[1]), strip_not(nd[2])
        if nd[0] == "and":
            if l is None:
                return r
            if r is None:
                return l
            return ("and", l, r)
        # or: both required, else unknown
        if l is None or r is None:
            return None
        return ("or", l, r)

    stripped = strip_not(q.root)
    if stripped is None:
        return "T"
    return TSQuery(stripped).text()


# --- QTN machinery (tsquery_util.c): ts_rewrite works on an n-ary
# tree whose child arrays are in STORAGE order (tsquery items are
# prefix-serialized with the RIGHT operand first, so QT2QTN's
# child[0] is the right side); rendering through the binary AST
# therefore maps kids[1] -> left, kids[0] -> right.

# pg_crc.h legacy CRC-32: MSB-style Sarwate code over the standard
# reflected table — "it does not correspond to any polynomial in a
# normal CRC algorithm", but tsquery's valcrc ordering depends on it
_CRC_TBL = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0xEDB88320 if _c & 1 else _c >> 1
    _CRC_TBL.append(_c)
del _i, _c


def _legacy_crc32(b: bytes) -> int:
    crc = 0xFFFFFFFF
    for byte in b:
        idx = ((crc >> 24) ^ byte) & 0xFF
        crc = (_CRC_TBL[idx] ^ ((crc << 8) & 0xFFFFFFFF)) & 0xFFFFFFFF
    crc ^= 0xFFFFFFFF
    # valcrc is int32 (ts_type.h:151); comparisons are signed
    return crc - 0x100000000 if crc >= 0x80000000 else crc


_QTN_OPC = {"not": 1, "and": 2, "or": 3, "phrase": 4}


def _to_qtn(nd) -> dict:
    k = nd[0]
    if k in ("val", "stop"):
        return {"op": "val", "word": nd[1], "w": nd[2], "p": nd[3]}
    if k == "not":
        return {"op": "not", "kids": [_to_qtn(nd[1])]}
    if k == "phrase":
        return {"op": "phrase", "dist": nd[1],
                "kids": [_to_qtn(nd[3]), _to_qtn(nd[2])]}
    return {"op": k, "kids": [_to_qtn(nd[2]), _to_qtn(nd[1])]}


def _qtn_to_ast(n):
    if n["op"] == "val":
        return ("val", n["word"], n["w"], n["p"])
    if n["op"] == "not":
        return ("not", _qtn_to_ast(n["kids"][0]))
    if n["op"] == "phrase":
        return ("phrase", n["dist"],
                _qtn_to_ast(n["kids"][1]), _qtn_to_ast(n["kids"][0]))
    return (n["op"],
            _qtn_to_ast(n["kids"][1]), _qtn_to_ast(n["kids"][0]))


def _qtn_node_compare(a: dict, b: dict) -> int:
    """QTNodeCompare (tsquery_util.c:96): OPR before VAL (bigger type
    first), bigger operator code first, more children first, then
    child-wise recursion; operands by DESCENDING signed legacy crc,
    tie-broken bytewise ascending (tsCompareString)."""
    a_t = 2 if a["op"] != "val" else 1
    b_t = 2 if b["op"] != "val" else 1
    if a_t != b_t:
        return -1 if a_t > b_t else 1
    if a_t == 2:
        ao, bo = _QTN_OPC[a["op"]], _QTN_OPC[b["op"]]
        if ao != bo:
            return -1 if ao > bo else 1
        if len(a["kids"]) != len(b["kids"]):
            return -1 if len(a["kids"]) > len(b["kids"]) else 1
        for ka, kb in zip(a["kids"], b["kids"]):
            r = _qtn_node_compare(ka, kb)
            if r:
                return r
        if a["op"] == "phrase" and a["dist"] != b["dist"]:
            return -1 if a["dist"] > b["dist"] else 1
        return 0
    ac, bc = _legacy_crc32(a["word"].encode("utf-8")), \
        _legacy_crc32(b["word"].encode("utf-8"))
    if ac != bc:
        return -1 if ac > bc else 1
    wa, wb = a["word"].encode("utf-8"), b["word"].encode("utf-8")
    return (wa > wb) - (wa < wb)


def _qtn_sort(n: dict) -> None:
    """QTNSort: canonicalize AND/OR child order (phrase keeps order)."""
    if n["op"] == "val":
        return
    for k in n["kids"]:
        _qtn_sort(k)
    if len(n["kids"]) > 1 and n["op"] != "phrase":
        n["kids"].sort(key=functools.cmp_to_key(_qtn_node_compare))


def _qtn_ternary(n: dict) -> None:
    """QTNTernary: flatten nested same-operator AND/OR children."""
    if n["op"] == "val":
        return
    for k in n["kids"]:
        _qtn_ternary(k)
    if n["op"] not in ("and", "or"):
        return
    out = []
    for k in n["kids"]:
        out.extend(k["kids"] if k["op"] == n["op"] else [k])
    n["kids"] = out


def _qtn_binary(n: dict) -> None:
    """QTNBinary: re-binarize n-ary nodes exactly as tsquery_util.c
    does (pair the first two, swap the last child in) — the member
    order PG's regress output pins falls out of this."""
    if n["op"] == "val":
        return
    for k in n["kids"]:
        _qtn_binary(k)
    while len(n["kids"]) > 2:
        nn = {"op": n["op"], "kids": [n["kids"][0], n["kids"][1]]}
        n["kids"][0] = nn
        n["kids"][1] = n["kids"][-1]
        n["kids"].pop()


def _qtn_findeq(node, ex, subs, found):
    """findeq (tsquery_rewrite.c:33): exact-shape match via compare,
    or sorted one-pass subset match for AND/OR; the substitution is
    flagged NOCHANGE so it is never re-scanned or re-matched."""
    import copy

    if node["op"] != ex["op"] or node.get("nochange"):
        return node
    if node["op"] != "val":
        if len(node["kids"]) == len(ex["kids"]):
            if _qtn_node_compare(node, ex) == 0:
                found[0] = True
                if subs is None:
                    return None
                n2 = copy.deepcopy(subs)
                n2["nochange"] = True
                return n2
        elif (len(node["kids"]) > len(ex["kids"]) > 0
              and node["op"] in ("and", "or")):
            matched = [False] * len(node["kids"])
            nm = i = j = 0
            while i < len(node["kids"]) and j < len(ex["kids"]):
                c = _qtn_node_compare(node["kids"][i], ex["kids"][j])
                if c == 0:
                    matched[i] = True
                    nm += 1
                    i += 1
                    j += 1
                elif c < 0:
                    i += 1
                else:
                    break
            if nm == len(ex["kids"]):
                kids = [k for k, m in zip(node["kids"], matched)
                        if not m]
                if subs is not None:
                    s2 = copy.deepcopy(subs)
                    s2["nochange"] = True
                    kids.append(s2)
                node["kids"] = kids
                # re-sort to place the substitution (the reference
                # keeps this "bogus" sort for regress stability)
                _qtn_sort(node)
                found[0] = True
    else:
        if _qtn_node_compare(node, ex) == 0:
            found[0] = True
            if subs is None:
                return None
            n2 = copy.deepcopy(subs)
            n2["nochange"] = True
            return n2
    return node


def _qtn_dofind(root, ex, subs, found):
    """dofindsubquery: match at the node, else recurse; drop void
    subtrees and collapse single-child AND/OR."""
    root = _qtn_findeq(root, ex, subs, found)
    if (root is not None and not root.get("nochange")
            and root["op"] != "val"):
        kids = []
        for k in root["kids"]:
            r = _qtn_dofind(k, ex, subs, found)
            if r is not None:
                kids.append(r)
        root["kids"] = kids
        if not kids:
            return None
        if len(kids) == 1 and root["op"] != "not":
            return kids[0]
    return root


def ts_rewrite(q: TSQuery, target: TSQuery, sub: TSQuery) -> TSQuery:
    """ts_rewrite(tsquery, tsquery, tsquery) — tsquery_rewrite.c
    tsquery_rewrite: the query and target are ternarized and
    QTN-sorted (so a commutative subset of AND/OR members matches),
    the substitution is inserted verbatim, and the result re-binarizes
    through QTNBinary — reproducing PG's member ordering exactly,
    legacy-crc sort and all."""
    if q.root is None or target.root is None:
        return q
    tree = _to_qtn(q.root)
    _qtn_ternary(tree)
    _qtn_sort(tree)
    qex = _to_qtn(target.root)
    _qtn_ternary(qex)
    _qtn_sort(qex)
    subs = _to_qtn(sub.root) if sub.root is not None else None
    found = [False]
    tree = _qtn_dofind(tree, qex, subs, found)
    if tree is None:
        return TSQuery(None)
    _qtn_binary(tree)
    return TSQuery(_qtn_to_ast(tree))


def tsq_mcontains(q1: TSQuery, q2: TSQuery) -> bool:
    """q1 @> q2: every operand of q2 appears in q1 (tsquery_op.c
    tsq_mcontains operand-multiset check)."""
    ops1 = {(w, wt, pf) for w, wt, pf in q1.operands()}
    return all(op in ops1 for op in q2.operands())


# ---------------------------------------------------------------------------
# misc tsvector ops
# ---------------------------------------------------------------------------

_WEIGHT_CODE = {"A": 3, "B": 2, "C": 1, "D": 0,
                "a": 3, "b": 2, "c": 1, "d": 0}


def setweight(v: TSVector, wchar: str,
              lexemes: list[str] | None = None) -> TSVector:
    if wchar not in _WEIGHT_CODE:
        raise ValueError(f"unrecognized weight: \"{wchar}\"")
    return v.setweight(_WEIGHT_CODE[wchar], lexemes)


def ts_filter(v: TSVector, weights: list[str]) -> TSVector:
    if not weights:
        raise ValueError("weight array may not contain nulls")
    codes = set()
    for wc in weights:
        if wc is None:
            raise ValueError("weight array may not contain nulls")
        if wc not in _WEIGHT_CODE:
            raise ValueError(f"unrecognized weight: \"{wc}\"")
        codes.add(_WEIGHT_CODE[wc])
    return v.filter_weights(codes)


def tsvector_to_array(v: TSVector) -> list[str]:
    return sorted(v.lex, key=_lex_sort_key)


def array_to_tsvector(arr: list[str]) -> TSVector:
    lex = {}
    for w in arr:
        if w is None:
            raise ValueError("lexeme array may not contain nulls")
        if w == "":
            raise ValueError("lexeme array may not contain empty strings")
        lex[w] = []
    return TSVector(lex)


def ts_lexize(dictname: str, token: str) -> list[str] | None:
    d = dictname.lower().split(".")[-1]
    low = token.lower()
    if d == "english_stem":
        if low in STOPWORDS_EN:
            return []
        return [stem_english(low)]
    if d == "simple":
        return [low]
    raise ValueError(
        f"text search dictionary \"{dictname}\" does not exist")


# ---------------------------------------------------------------------------
# ts_headline (wparser_def.c prsd_headline, simplified default cover
# selection; honors StartSel/StopSel/MaxWords/MinWords/ShortWord/
# HighlightAll/MaxFragments options)
# ---------------------------------------------------------------------------

def _parse_headline_opts(opts: str | None) -> dict:
    d = {"StartSel": "<b>", "StopSel": "</b>", "MaxWords": 35,
         "MinWords": 15, "ShortWord": 3, "HighlightAll": False,
         "MaxFragments": 0, "FragmentDelimiter": " ... "}
    if not opts:
        return d
    for part in re.findall(r'(\w+)\s*=\s*(?:"([^"]*)"|([^,]*))', opts):
        key, qval, val = part
        v = qval if qval else val.strip()
        lk = key.lower()
        for k in list(d):
            if k.lower() == lk:
                if isinstance(d[k], bool):
                    d[k] = v.lower() in ("1", "true", "t", "on", "yes")
                elif isinstance(d[k], int):
                    d[k] = int(v)
                else:
                    d[k] = v
        if lk not in {k.lower() for k in d}:
            raise ValueError(f"unrecognized headline parameter: \"{key}\"")
    return d


def ts_headline(config: str, document: str, query: TSQuery,
                opts: str | None = None) -> str:
    cfg = normalize_config(config)
    o = _parse_headline_opts(opts)
    qlex = set()
    prefixes = []
    for w, wt, pf in query.operands():
        if pf:
            prefixes.append(w)
        else:
            qlex.add(w)

    tokens = parse_default(document)
    # words model: (raw, lexeme|None, ttype, is_word, interesting, wlen)
    words = []
    for ttype, tok, _glue in tokens:
        lexemes = lexize(cfg, ttype, tok)
        if lexemes is None:
            words.append((tok, None, ttype, False, False, len(tok)))
        else:
            lx = lexemes[0] if lexemes else None
            interesting = lx is not None and (
                lx in qlex or any(lx.startswith(p) for p in prefixes))
            words.append((tok, lx, ttype, True, interesting, len(tok)))

    def render(lo, hi, mark_all=False):
        out = []
        for k in range(lo, hi + 1):
            raw, lx, tt, is_word, interesting, _l = words[k]
            if interesting:
                out.append(o["StartSel"] + raw + o["StopSel"])
            else:
                out.append(raw)
        return "".join(out).strip()

    if o["HighlightAll"]:
        return render(0, len(words) - 1, True)

    widx = [k for k, w in enumerate(words) if w[3]]       # word slots
    iidx = [k for k, w in enumerate(words) if w[4]]       # interesting
    if not widx:
        return document.strip()

    shortword = o["ShortWord"]
    max_words = max(1, o["MaxWords"])
    min_words = max(1, o["MinWords"])
    max_cover = max_words * 10  # DEFAULT_MAX_COVER heuristic

    _NOEND_TYPES = (BLANK, TAG_T, PROTOCOL, ENTITY, URL_T, NUMHWORD,
                    ASCIIHWORD, HWORD, SFLOAT, VERSION, FLOAT_T, INT_T,
                    UINT)

    def bad_endpoint(k):
        # NOENDTOKEN/short words are bad endpoints UNLESS interesting
        if words[k][4]:
            return False
        return (words[k][2] in _NOEND_TYPES
                or words[k][5] <= shortword)

    def substring_matches(lo, hi):
        """TS_execute over the word-index substring (wparser_def.c
        checkcondition_HL; TS_EXEC_EMPTY so NOT subqueries pass)."""
        lex = {}
        relpos = 0
        for k in range(lo, hi + 1):
            if not words[k][3]:
                continue
            relpos += 1
            lx = words[k][1]
            if lx is not None:
                lex.setdefault(lx, []).append((relpos, 0))
        tsv = TSVector(lex)
        return _execute_recurse(tsv, query.root, False) != TS_NO

    def hl_cover(startk):
        """Earliest-shortest cover with query-word endpoints."""
        cands = [k for k in iidx if k >= startk]
        if not cands:
            return None
        for ci, pmin in enumerate(cands):
            words_seen = 0
            for pmax in cands[ci:]:
                # bound cover length in word count
                if sum(1 for k in range(pmin, pmax + 1)
                       if words[k][3]) > max_cover:
                    break
                if substring_matches(pmin, pmax):
                    return (pmin, pmax)
        return None

    if query.root is None:
        best = None
    else:
        best = None   # (poscover, poslen, goodend, lo, hi)
        p = 0
        guard = 0
        while guard < 64:
            guard += 1
            cov = hl_cover(p)
            if cov is None:
                break
            cp, cq = cov
            # build candidate headline per mark_hl_words
            curlen = 0
            poslen = 0
            posb = pose = cp
            k = cp
            while k <= cq and curlen < max_words:
                if words[k][3]:
                    curlen += 1
                if words[k][4]:
                    poslen += 1
                pose = k
                k += 1
            if curlen < max_words:
                k = k - 1
                while k < len(words) and curlen < max_words:
                    if k > cq:
                        if words[k][3]:
                            curlen += 1
                        if words[k][4]:
                            poslen += 1
                    pose = k
                    if not bad_endpoint(k) and curlen >= min_words:
                        break
                    k += 1
                if curlen < min_words:
                    k = cp - 1
                    while k >= 0:
                        if words[k][3]:
                            curlen += 1
                        if words[k][4]:
                            poslen += 1
                        if curlen >= max_words:
                            break
                        if not bad_endpoint(k) and curlen >= min_words:
                            break
                        k -= 1
                    posb = k if k >= 0 else 0
            else:
                if k > cq:
                    k = cq
                while curlen > min_words and k >= posb:
                    if not bad_endpoint(k):
                        break
                    if words[k][3]:
                        curlen -= 1
                    if words[k][4]:
                        poslen -= 1
                    pose = k - 1
                    k -= 1
            poscover = posb <= cp and pose >= cq
            goodend = pose < len(words) and not bad_endpoint(pose)
            cand = (poscover, poslen, goodend, posb, pose)
            if best is None or (cand[0], cand[1], cand[2]) > (
                    best[0], best[1], best[2]):
                best = cand
            # advance p: next interesting index after cp
            nxt = [k2 for k2 in iidx if k2 > cp]
            if not nxt:
                break
            p = nxt[0]

    if best is None:
        # nothing matched: first min_words words
        curlen = 0
        pose = 0
        for k in range(len(words)):
            if words[k][3]:
                curlen += 1
            pose = k
            if curlen >= min_words:
                break
        return render(0, pose)
    return render(best[3], best[4])


def _qtn_compare(a, b) -> int:
    """QTNodeCompare over the binary AST (children visited right-first,
    QT2QTN child[0] = in+1) — same ordering as _qtn_node_compare."""
    return _qtn_node_compare(_to_qtn(a), _to_qtn(b))


def tsquery_cmp(a: TSQuery, b: TSQuery) -> int:
    """CompareTSQ: node count, then stored size, then tree compare."""
    sa, sb = a.size(), b.size()
    if sa != sb:
        return -1 if sa < sb else 1
    va = sum(len(w.encode("utf-8")) + 1 for w, _, _ in a.operands())
    vb = sum(len(w.encode("utf-8")) + 1 for w, _, _ in b.operands())
    if va != vb:
        return -1 if va < vb else 1
    if sa == 0:
        return 0
    return _qtn_compare(a.root, b.root)


TOKEN_DESCRIPTIONS = {
    1: "Word, all ASCII", 2: "Word, all letters",
    3: "Word, letters and digits", 4: "Email address", 5: "URL",
    6: "Host", 7: "Scientific notation", 8: "Version number",
    9: "Hyphenated word part, letters and digits",
    10: "Hyphenated word part, all letters",
    11: "Hyphenated word part, all ASCII", 12: "Space symbols",
    13: "XML tag", 14: "Protocol head",
    15: "Hyphenated word, letters and digits",
    16: "Hyphenated word, all ASCII", 17: "Hyphenated word, all letters",
    18: "URL path", 19: "File or path name", 20: "Decimal notation",
    21: "Signed integer", 22: "Unsigned integer", 23: "XML entity",
}
