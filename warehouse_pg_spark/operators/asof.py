"""As-of (point-in-time) join.

The reference has no dedicated as-of operator — its time-series support
is function-level (reference: src/backend/utils/adt/interpolate.c:236,
window functions, timeseries.sql regress test) and as-of semantics are
expressed through MergeJoin/NestLoop theta quals (SURVEY §2.3). Here we
implement the idiomatic *distributed* as-of algorithm:

    union(left tagged, right tagged)
      → single hash shuffle on the key
      → per-key sort by (ts, side)
      → last_value(right attrs, ignorenulls) over unbounded-preceding
      → keep left rows

One shuffle, no range-explosion, no skewed nested loop — this is the
plan that survives 100 TB (a naive theta join is O(n·m) per key).

Directions (pandas merge_asof parity):
  backward (default): most recent right row with right.ts <= left.ts
  forward:            earliest right row with right.ts >= left.ts
  nearest:            the closer of the two (tie → backward)
forward is the same window over the reversed timestamp order; nearest
evaluates both windows in the one shuffled partition (two sorts, still
one exchange) and picks per-row by distance.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_values: Sequence[str],
    strict: bool = False,
    tolerance_ms: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the right row selected by `direction`
    (backward: most recent right.ts <= left.ts; forward: earliest
    right.ts >= left.ts; nearest: closer of the two), matching on `on`
    keys.

    right_values: right columns to carry (prefixed `asof_`).
    strict: exclude right rows at exactly left.ts.
    tolerance_ms: matches farther than this are nulled out.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest: {direction}")
    on = list(on)
    lcols = left.columns

    # Tagged sides built as SQL-string selects: one py4j round-trip +
    # JVM parse per select instead of per-column Column-API chatter
    # (r18 driver-overhead work; parsed trees identical).
    l_tagged = left.selectExpr(
        *[f"`{c}`" for c in lcols],
        f"CAST(`{left_ts}` AS TIMESTAMP) AS __ts",
        "1 AS __side",
        *[
            f"CAST(NULL AS {right.schema[c].dataType.simpleString()})"
            f" AS `__r_{c}`"
            for c in right_values
        ],
    )
    r_tagged = right.selectExpr(
        *[
            f"CAST(NULL AS {left.schema[c].dataType.simpleString()}) AS `{c}`"
            for c in lcols
            if c not in on
        ],
        *[f"`{k}`" for k in on],
        f"CAST(`{right_ts}` AS TIMESTAMP) AS __ts",
        "0 AS __side",
        *[f"`{c}` AS `__r_{c}`" for c in right_values],
    ).select(  # align column order with l_tagged
        *lcols,
        "__ts",
        "__side",
        *[f"__r_{c}" for c in right_values],
    )

    unioned = l_tagged.unionByName(r_tagged)

    def fill_cols(ts_desc: bool, prefix: str) -> list[Column]:
        # non-strict: right rows at equal ts must precede the left row
        # in scan order (side 0 first); strict flips that. (SQL ASC =
        # NULLS FIRST, DESC = NULLS LAST — identical to Column
        # .asc()/.desc() defaults.)
        side_order = "DESC" if strict else "ASC"
        ts_order = "DESC" if ts_desc else "ASC"
        partition = f"PARTITION BY {', '.join(f'`{k}`' for k in on)} " if on else ""
        over = (
            f"OVER ({partition}"
            f"ORDER BY __ts {ts_order}, __side {side_order} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        return [
            F.expr(f"last(`__r_{c}`, true) {over}").alias(f"{prefix}_{c}")
            for c in right_values
        ] + [
            F.expr(
                f"last(CASE WHEN __side = 0 THEN __ts END, true) {over}"
            ).alias(f"{prefix}_ts")
        ]

    want_back = direction in ("backward", "nearest")
    want_fwd = direction in ("forward", "nearest")
    cols: list[Column] = []
    if want_back:
        cols += fill_cols(ts_desc=False, prefix="__b")
    if want_fwd:
        cols += fill_cols(ts_desc=True, prefix="__f")
    filled = unioned.select(*lcols, "__ts", "__side", *cols).filter(
        F.col("__side") == 1
    )

    ms = F.unix_millis
    if direction == "backward":
        pick = {c: F.col(f"__b_{c}") for c in right_values}
        match_ts = F.col("__b_ts")
        dist = ms(F.col("__ts")) - ms(match_ts)
    elif direction == "forward":
        pick = {c: F.col(f"__f_{c}") for c in right_values}
        match_ts = F.col("__f_ts")
        dist = ms(match_ts) - ms(F.col("__ts"))
    else:  # nearest: closer match wins, tie → backward
        d_b = ms(F.col("__ts")) - ms(F.col("__b_ts"))
        d_f = ms(F.col("__f_ts")) - ms(F.col("__ts"))
        use_b = F.col("__f_ts").isNull() | (
            F.col("__b_ts").isNotNull() & (d_b <= d_f)
        )
        pick = {
            c: F.when(use_b, F.col(f"__b_{c}")).otherwise(F.col(f"__f_{c}"))
            for c in right_values
        }
        match_ts = F.when(use_b, F.col("__b_ts")).otherwise(F.col("__f_ts"))
        dist = F.when(use_b, d_b).otherwise(d_f)

    in_tol: Column = (
        F.lit(True) if tolerance_ms is None else dist <= F.lit(tolerance_ms)
    )
    return filled.select(
        *lcols,
        *[F.when(in_tol, pick[c]).alias(f"asof_{c}") for c in right_values],
        F.when(in_tol, match_ts).alias("asof_ts"),
    )
