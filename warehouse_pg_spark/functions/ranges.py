"""PG range types as first-class SQL functions over a bounds struct.

Reference: src/backend/utils/adt/rangetypes.c (range_in/range_out,
range_contains, range_overlaps, range_adjacent, range_before/after,
range_union/intersect, range_eq, empty/infinite-bound semantics).

Model: STRUCT<lo: T, hi: T, li: BOOLEAN, hi_i: BOOLEAN, empty:
BOOLEAN> with T = DOUBLE for num/int ranges and T = TIMESTAMP for
tsrange/daterange. A NULL lo/hi is an infinite bound (PG stores
infinite bounds as exclusive, so li/hi_i are forced false there).
Discrete ranges (int4range/int8range on integers, daterange on days)
canonicalize to the [lo, hi) form at the DIALECT layer
(sql_dialect range-constructor rewrites), so equality and adjacency
work on the canonical representation — exactly PG's canonical function
contract (rangetypes.c int4range_canonical / daterange_canonical).

Everything here is a pure-SQL temporary function: Catalyst inlines the
bodies, whole-stage codegen applies, zero Python per row — range
predicates over a 100 TB fact column cost the same as hand-written
boolean expressions. The one PG behavior with no expression-level
lowering is the ERROR on a reversed constructor (numrange(2,1)) and on
a union of non-overlapping, non-adjacent ranges — both yield the empty
range / NULL here instead (documented deviation; silent-NULL, never a
wrong value).
"""

from __future__ import annotations


def _family(sfx: str, t: str) -> dict[str, tuple[str, str, str]]:
    """One complete operator family over bound type `t`, names suffixed
    with `sfx` ('' for the DOUBLE family, '_ts' for TIMESTAMP). The
    bodies are type-agnostic — comparisons, least/greatest and <=> all
    work on timestamps exactly as on doubles."""
    r = f"STRUCT<lo: {t}, hi: {t}, li: BOOLEAN, hi_i: BOOLEAN, empty: BOOLEAN>"
    empty = (
        f"named_struct('lo', CAST(NULL AS {t}), 'hi', CAST(NULL AS {t}), "
        "'li', false, 'hi_i', false, 'empty', true)"
    )
    # lower bound of a <= lower bound of b (containment); infinite a.lo
    # always qualifies; equal finite bounds need a at-least-as-inclusive
    lo_le = (
        "(a.lo IS NULL OR (b.lo IS NOT NULL AND (b.lo > a.lo "
        "OR (b.lo = a.lo AND (a.li OR NOT b.li)))))"
    )
    hi_ge = (
        "(a.hi IS NULL OR (b.hi IS NOT NULL AND (b.hi < a.hi "
        "OR (b.hi = a.hi AND (a.hi_i OR NOT b.hi_i)))))"
    )
    return {
        f"pg_range{sfx}": (
            f"lo {t}, hi {t}, li BOOLEAN, hi_i BOOLEAN",
            r,
            f"""CASE
            WHEN lo IS NOT NULL AND hi IS NOT NULL
                 AND (lo > hi OR (lo = hi AND NOT (li AND hi_i)))
              THEN {empty}
            ELSE named_struct('lo', lo, 'hi', hi,
                 'li', lo IS NOT NULL AND li,
                 'hi_i', hi IS NOT NULL AND hi_i, 'empty', false) END""",
        ),
        f"range_contains_elem{sfx}": (
            f"a {r}, x {t}",
            "BOOLEAN",
            """NOT a.empty AND x IS NOT NULL
            AND (a.lo IS NULL OR x > a.lo OR (x = a.lo AND a.li))
            AND (a.hi IS NULL OR x < a.hi OR (x = a.hi AND a.hi_i))""",
        ),
        f"range_contains{sfx}": (
            f"a {r}, b {r}",
            "BOOLEAN",
            f"b.empty OR (NOT a.empty AND {lo_le} AND {hi_ge})",
        ),
        f"range_overlaps{sfx}": (
            f"a {r}, b {r}",
            "BOOLEAN",
            """NOT a.empty AND NOT b.empty
            AND (a.hi IS NULL OR b.lo IS NULL OR b.lo < a.hi
                 OR (b.lo = a.hi AND a.hi_i AND b.li))
            AND (b.hi IS NULL OR a.lo IS NULL OR a.lo < b.hi
                 OR (a.lo = b.hi AND b.hi_i AND a.li))""",
        ),
        f"range_adjacent{sfx}": (
            f"a {r}, b {r}",
            "BOOLEAN",
            """NOT a.empty AND NOT b.empty AND (
              (a.hi IS NOT NULL AND b.lo IS NOT NULL AND a.hi = b.lo
               AND a.hi_i <> b.li)
              OR
              (b.hi IS NOT NULL AND a.lo IS NOT NULL AND b.hi = a.lo
               AND b.hi_i <> a.li))""",
        ),
        f"range_before{sfx}": (  # a << b: all of a below all of b
            f"a {r}, b {r}",
            "BOOLEAN",
            """NOT a.empty AND NOT b.empty
            AND a.hi IS NOT NULL AND b.lo IS NOT NULL
            AND (a.hi < b.lo OR (a.hi = b.lo AND NOT (a.hi_i AND b.li)))""",
        ),
        f"range_after{sfx}": (
            f"a {r}, b {r}",
            "BOOLEAN",
            f"range_before{sfx}(b, a)",
        ),
        f"range_overleft{sfx}": (  # a &< b: a doesn't extend right of b
            f"a {r}, b {r}",
            "BOOLEAN",
            """NOT a.empty AND NOT b.empty
            AND (b.hi IS NULL OR (a.hi IS NOT NULL
                 AND (a.hi < b.hi OR (a.hi = b.hi
                      AND (NOT a.hi_i OR b.hi_i)))))""",
        ),
        f"range_overright{sfx}": (  # a &> b: a doesn't extend left of b
            f"a {r}, b {r}",
            "BOOLEAN",
            """NOT a.empty AND NOT b.empty
            AND (b.lo IS NULL OR (a.lo IS NOT NULL
                 AND (a.lo > b.lo OR (a.lo = b.lo
                      AND (NOT a.li OR b.li)))))""",
        ),
        f"range_eq{sfx}": (
            f"a {r}, b {r}",
            "BOOLEAN",
            """(a.empty AND b.empty) OR (NOT a.empty AND NOT b.empty
            AND a.lo <=> b.lo AND a.hi <=> b.hi
            AND a.li = b.li AND a.hi_i = b.hi_i)""",
        ),
        f"range_union{sfx}": (  # PG errors on disjoint non-adjacent
            f"a {r}, b {r}",
            r,
            f"""CASE
            WHEN a.empty THEN b
            WHEN b.empty THEN a
            WHEN NOT (range_overlaps{sfx}(a, b) OR range_adjacent{sfx}(a, b))
              THEN CAST(NULL AS {r})
            ELSE named_struct(
              'lo', CASE WHEN a.lo IS NULL OR b.lo IS NULL
                         THEN CAST(NULL AS {t})
                         ELSE least(a.lo, b.lo) END,
              'hi', CASE WHEN a.hi IS NULL OR b.hi IS NULL
                         THEN CAST(NULL AS {t})
                         ELSE greatest(a.hi, b.hi) END,
              'li', CASE WHEN a.lo IS NULL OR b.lo IS NULL THEN false
                         WHEN a.lo < b.lo THEN a.li
                         WHEN b.lo < a.lo THEN b.li
                         ELSE a.li OR b.li END,
              'hi_i', CASE WHEN a.hi IS NULL OR b.hi IS NULL THEN false
                           WHEN a.hi > b.hi THEN a.hi_i
                           WHEN b.hi > a.hi THEN b.hi_i
                           ELSE a.hi_i OR b.hi_i END,
              'empty', false) END""",
        ),
        f"range_intersect{sfx}": (
            f"a {r}, b {r}",
            r,
            f"""CASE
            WHEN a.empty OR b.empty OR NOT range_overlaps{sfx}(a, b)
              THEN {empty}
            ELSE pg_range{sfx}(
              CASE WHEN a.lo IS NULL THEN b.lo WHEN b.lo IS NULL THEN a.lo
                   ELSE greatest(a.lo, b.lo) END,
              CASE WHEN a.hi IS NULL THEN b.hi WHEN b.hi IS NULL THEN a.hi
                   ELSE least(a.hi, b.hi) END,
              CASE WHEN a.lo IS NULL AND b.lo IS NULL THEN false
                   WHEN a.lo IS NULL THEN b.li WHEN b.lo IS NULL THEN a.li
                   WHEN a.lo > b.lo THEN a.li WHEN b.lo > a.lo THEN b.li
                   ELSE a.li AND b.li END,
              CASE WHEN a.hi IS NULL AND b.hi IS NULL THEN false
                   WHEN a.hi IS NULL THEN b.hi_i WHEN b.hi IS NULL THEN a.hi_i
                   WHEN a.hi < b.hi THEN a.hi_i WHEN b.hi < a.hi THEN b.hi_i
                   ELSE a.hi_i AND b.hi_i END) END""",
        ),
        f"range_minus{sfx}": (
            f"a {r}, b {r}",
            r,
            # rangetypes.c range_minus: no overlap -> a; b covers a ->
            # empty; else the surviving side; a split (b strictly
            # interior) RAISES, as PG does ("not contiguous")
            f"""CASE
            WHEN a.empty OR b.empty OR NOT range_overlaps{sfx}(a, b)
              THEN a
            WHEN range_contains{sfx}(b, a) THEN {empty}
            WHEN (b.lo IS NULL OR (a.lo IS NOT NULL
                  AND (b.lo < a.lo OR (b.lo = a.lo
                       AND (b.li OR NOT a.li)))))
              THEN pg_range{sfx}(b.hi, a.hi, NOT b.hi_i, a.hi_i)
            WHEN (b.hi IS NULL OR (a.hi IS NOT NULL
                  AND (b.hi > a.hi OR (b.hi = a.hi
                       AND (b.hi_i OR NOT a.hi_i)))))
              THEN pg_range{sfx}(a.lo, b.lo, a.li, NOT b.li)
            ELSE raise_error(
              'result of range difference would not be contiguous')
            END""",
        ),
        f"range_merge{sfx}": (
            f"a {r}, b {r}",
            r,
            # rangetypes.c range_merge: the smallest range containing
            # both — union without the contiguity requirement
            f"""CASE WHEN a.empty THEN b WHEN b.empty THEN a
            ELSE named_struct(
              'lo', CASE WHEN a.lo IS NULL OR b.lo IS NULL
                         THEN CAST(NULL AS {t})
                         ELSE least(a.lo, b.lo) END,
              'hi', CASE WHEN a.hi IS NULL OR b.hi IS NULL
                         THEN CAST(NULL AS {t})
                         ELSE greatest(a.hi, b.hi) END,
              'li', CASE WHEN a.lo IS NULL OR b.lo IS NULL THEN false
                         WHEN a.lo < b.lo THEN a.li
                         WHEN b.lo < a.lo THEN b.li
                         ELSE a.li OR b.li END,
              'hi_i', CASE WHEN a.hi IS NULL OR b.hi IS NULL THEN false
                           WHEN a.hi > b.hi THEN a.hi_i
                           WHEN b.hi > a.hi THEN b.hi_i
                           ELSE a.hi_i OR b.hi_i END,
              'empty', false) END""",
        ),
        f"isempty{sfx}": (f"a {r}", "BOOLEAN", "a.empty"),
        f"lower_inc{sfx}": (f"a {r}", "BOOLEAN", "NOT a.empty AND a.li"),
        f"upper_inc{sfx}": (f"a {r}", "BOOLEAN", "NOT a.empty AND a.hi_i"),
        f"lower_inf{sfx}": (f"a {r}", "BOOLEAN", "NOT a.empty AND a.lo IS NULL"),
        f"upper_inf{sfx}": (f"a {r}", "BOOLEAN", "NOT a.empty AND a.hi IS NULL"),
        # PG range_out text form, for SELECTing a range directly
        f"range_text{sfx}": (
            f"a {r}",
            "STRING",
            """CASE WHEN a.empty THEN 'empty' ELSE concat(
              CASE WHEN a.li THEN '[' ELSE '(' END,
              coalesce(CAST(a.lo AS STRING), ''), ',',
              coalesce(CAST(a.hi AS STRING), ''),
              CASE WHEN a.hi_i THEN ']' ELSE ')' END) END""",
        ),
    }


RANGE_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    **_family("", "DOUBLE"),
    **_family("_ts", "TIMESTAMP"),
    # int8range needs exact bigint bounds: DOUBLE loses integers above
    # 2^53, so the +1 discrete canonicalization would land on the wrong
    # value. DECIMAL(20,0) holds the full int8 domain exactly.
    **_family("_i8", "DECIMAL(20,0)"),
    # user-defined CREATE TYPE ... AS RANGE over text subtypes
    # (rangetypes.c: any type with a btree opclass can be a range
    # subtype) — the bodies are type-agnostic, STRING compares binary
    **_family("_str", "STRING"),
}

