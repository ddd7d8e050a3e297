"""Structured Streaming pipelines over event tables (SURVEY §2.10).

The reference has no streaming operators — its continuous ingest is
external web tables + gpload micro-batches (access/external/
url_execute.c, gpMgmt/bin/gpload.py). This module is the
beyond-reference north-star surface, built entirely on stock
Structured Streaming primitives:

    readStream (file source) → withWatermark → window()/
    session_window() aggregation → sink (parquet via foreachBatch,
    or memory for tests)

Every builder returns a *streaming* DataFrame; `run_available_now`
executes it over the currently-available input (deterministic, used by
tests and backfills — identical code path to a 24/7 stream).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class EventStream:
    """A watermarked stream of events(ts, user_id, event_type, value...)."""

    df: DataFrame
    ts_col: str = "ts"
    watermark: str = "10 minutes"

    @classmethod
    def from_parquet_dir(
        cls,
        spark: SparkSession,
        path: str,
        schema,
        ts_col: str = "ts",
        watermark: str = "10 minutes",
        max_files_per_trigger: int | None = None,
    ) -> "EventStream":
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        df = reader.parquet(path)
        # Engine timestamp policy (catalog.py): event time must be
        # session-TZ TIMESTAMP — withWatermark rejects TIMESTAMP_NTZ.
        if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return cls(df.withWatermark(ts_col, watermark), ts_col, watermark)

    # ------------------------------------------------------------ windows
    def tumbling_counts(self, width: str = "5 minutes") -> DataFrame:
        """Tumbling-window counts+sums per event_type (late data beyond
        the watermark is dropped — the reference has no such concept)."""
        return (
            self.df.groupBy(
                F.window(self.ts_col, width).alias("win"), "event_type"
            )
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .select(
                F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "event_type",
                "n",
                "total",
            )
        )

    def session_windows(self, gap: str = "30 minutes") -> DataFrame:
        """Session windows per user (session_window — the streaming
        twin of the batch events_sessionize query)."""
        return (
            self.df.groupBy(
                F.session_window(self.ts_col, gap).alias("win"), "user_id"
            )
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("total"))
            .select(
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "user_id",
                "n_events",
                "total",
            )
        )

    def dedup_within_watermark(self, keys: list[str]) -> DataFrame:
        """Stateful stream dedup (dropDuplicatesWithinWatermark)."""
        return self.df.dropDuplicatesWithinWatermark(keys)

    def near_dup_filter(self, content_col: str = "props") -> DataFrame:
        """Streaming ingest near-dedup on a normalized content
        fingerprint — the training-data-pipeline dedup applied at the
        stream boundary instead of in a batch sweep (batch twins:
        dedup_fingerprint / multimodal_phash_near_dup). Normalization
        (casefold, strip punctuation, collapse whitespace) makes
        variant encodings of the same content collide; the fingerprint
        is the dedup key, so state is one digest per distinct content,
        evicted by the watermark — bounded, unlike a global batch
        distinct. All map-only until the stateful dedup operator."""
        # One fused regex pass; string-identical to the two-step
        # replace-then-collapse form (see dedup._norm_text).
        c = F.trim(
            F.regexp_replace(F.lower(F.col(content_col)), r"[^a-z0-9]+", " ")
        )
        return (
            self.df.withColumn("__fp", F.md5(F.encode(c, "UTF-8")))
            .dropDuplicatesWithinWatermark(["__fp"])
            .drop("__fp")
        )

    def interval_join(
        self, other: "EventStream", horizon: str = "30 minutes"
    ) -> DataFrame:
        """Stream-stream inner join with an event-time interval bound:
        each left event pairs with right events of the same user within
        [left.ts - horizon, left.ts]. Both sides are watermarked, so the
        join state is bounded — Spark evicts buffered rows once the
        watermark passes the interval (the streaming twin of the batch
        as-of/range join in operators/asof.py). State is partitioned by
        user_id → scales horizontally like any keyed stateful op."""
        lhs = self.df.select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user"),
            F.col(self.ts_col).alias("l_ts"),
        )
        rhs = other.df.select(
            F.col("event_id").alias("r_event_id"),
            F.col("user_id").alias("r_user"),
            F.col(other.ts_col).alias("r_ts"),
        )
        return lhs.join(
            rhs,
            F.expr(
                f"l_user = r_user AND r_ts BETWEEN l_ts - INTERVAL {horizon} AND l_ts"
            ),
            "inner",
        )

    def stateful_user_totals(self) -> DataFrame:
        """Custom stateful operator via applyInPandasWithState: per-user
        running (event count, value total), state carried across
        micro-batches by the state store.

        This is the pattern for any operator Structured Streaming lacks
        natively (the brief's 'custom stateful operators' path): state
        is partitioned by the group key, so it scales horizontally —
        each executor owns the state for its key range, the exact
        shape of a per-segment stateful op in an MPP engine."""
        from pyspark.sql.streaming.state import GroupStateTimeout

        out_schema = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
        state_schema = "n BIGINT, total DOUBLE"

        def update_fn(key, pdfs, state):
            import pandas as pd

            n, total = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["value"].sum())
            state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        return self.df.groupBy("user_id").applyInPandasWithState(
            update_fn,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )


def run_available_now(
    stream_df: DataFrame,
    sink_path: str | None = None,
    query_name: str = "q",
    output_mode: str | None = None,
):
    """Execute a streaming plan over all currently-available input and
    stop (Trigger.AvailableNow) — deterministic batch-equivalent run.

    sink_path=None → in-memory sink (test/debug); else parquet+checkpoint.
    output_mode defaults to 'complete' for aggregations (memory sink
    holds final state) and 'append' for row-level streams (dedup/map).
    Returns the StreamingQuery after completion."""
    if output_mode is None:
        output_mode = "complete" if stream_df.isStreaming and _has_agg(stream_df) else "append"
    if sink_path is None:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    else:
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", sink_path)
            .option("checkpointLocation", sink_path + "_chk")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return q


def upsert_available_now(
    stream_df: DataFrame,
    target,
    on: list[str],
    checkpoint: str,
) -> None:
    """Continuous MERGE sink (CDC-style warehouse ingest): every
    micro-batch upserts into a copy-on-write ParquetTable via
    foreachBatch + merge — the streaming analogue of the reference's
    gpload micro-batch MERGE mode (gpMgmt/bin/gpload.py update/merge).

    Aggregated streams run in 'update' output mode, so each batch
    carries only the groups whose state changed; merging them on the
    group key converges the table to the final aggregate. Runs with
    Trigger.AvailableNow (same code path as a 24/7 stream)."""
    mode = "update" if _has_agg(stream_df) else "append"

    def _merge_batch(bdf: DataFrame, _epoch: int) -> None:
        if bdf.isEmpty():
            return
        target.merge(bdf, on=on)

    q = (
        stream_df.writeStream.foreachBatch(_merge_batch)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _has_agg(df: DataFrame) -> bool:
    """True if the streaming plan contains an aggregation node."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True
    return "Aggregate" in plan
