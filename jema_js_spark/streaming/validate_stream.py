"""Structured-Streaming surface for the validation engine.

The reference is a per-document batch validator (no streaming
constructs — SURVEY.md §2.9), but a crawl pipeline ingests pages
continuously, so the engine exposes its compiled plans over
``readStream`` too.  The compiled predicate DAG is identical in batch
and streaming — Catalyst doesn't care — which is the point: one
compile, both execution modes.

- :func:`validated_stream` — valid column + violation struct per
  micro-batched row.
- :func:`windowed_verdicts` — event-time-windowed pass/fail verdict
  aggregation with a watermark for late data (the streaming analog of
  per-partition verdicts).
- :func:`stream_to_violations` — side output of violation rows only
  (append-mode friendly: stateless projection + explode).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jema_js_spark.validation.engine import violation_rows, with_valid

__all__ = ["validated_stream", "windowed_verdicts",
           "windowed_json_verdicts", "stream_to_violations",
           "stream_dedup", "stream_first_seen"]


def validated_stream(stream_df: DataFrame, schema,
                     format_assertion: bool = False) -> DataFrame:
    return with_valid(stream_df, schema, format_assertion=format_assertion)


def windowed_verdicts(stream_df: DataFrame, schema, ts_col: str,
                      window: str = "1 hour",
                      watermark: str = "2 hours",
                      format_assertion: bool = False) -> DataFrame:
    """Per-event-time-window verdict rows.  Watermark bounds state so
    the aggregation runs forever at constant memory; late rows beyond
    the watermark are dropped (counted by Spark's metrics)."""
    valid = validated_stream(stream_df, schema, format_assertion)
    return (valid.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("window"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("valid").cast("long")).alias("n_valid"))
            .withColumn("n_invalid", F.col("n_rows") - F.col("n_valid"))
            .withColumn("passed", F.col("n_invalid") == 0))


def windowed_json_verdicts(stream_df: DataFrame, json_col: str, schema,
                           ts_col: str,
                           window: str = "1 hour",
                           watermark: str = "2 hours",
                           format_assertion: bool = False,
                           remotes: Optional[dict] = None) -> DataFrame:
    """Windowed verdicts over a dynamic-JSON column WITH route-rate
    observability (round 8, VERDICT r7 #5): each window row carries
    ``n_routed``/``n_kernel`` alongside the verdict counts — the
    streaming twin of the batch ledger metrics
    (``jobs/validate_pages.py``).  The failure mode this exists for: a
    routing-gate regression in a streaming deploy keeps every verdict
    correct while throughput collapses onto the kernel plane; batch
    jobs surface that in the checkpoint ledger, and before this
    function a streaming deploy had no equivalent signal.

    The plane follows ``with_valid_json``'s ``auto`` rule: a routable
    contract routes, any other runs on the kernel with ``n_routed``
    honestly 0 (``plan_choice`` shows which, and why)."""
    from jema_js_spark.validation.json_plane import with_valid_json

    # this wrapper picks the verdict/route column names on the
    # caller's behalf — an input already carrying them would be
    # silently overwritten by withColumn (round-8 review)
    clash = {"valid", "__route"} & set(stream_df.columns)
    if clash:
        raise ValueError(
            f"windowed_json_verdicts reserves columns {sorted(clash)}; "
            "rename or drop them on the input stream")
    out = with_valid_json(stream_df, json_col, schema,
                          format_assertion=format_assertion,
                          remotes=remotes, route_col="__route")
    return (out.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("window"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("valid").cast("long")).alias("n_valid"),
                 F.sum((F.col("__route") == "columnar").cast("long"))
                 .alias("n_routed"),
                 F.sum((F.col("__route") == "kernel").cast("long"))
                 .alias("n_kernel"))
            .withColumn("n_invalid", F.col("n_rows") - F.col("n_valid"))
            .withColumn("route_rate",
                        F.col("n_routed") / F.col("n_rows")))


def stream_to_violations(stream_df: DataFrame, schema,
                         id_cols: Sequence[str],
                         format_assertion: bool = False) -> DataFrame:
    """Stateless violation-row stream (append mode — safe for any
    sink): one output row per failed check, reference error fields."""
    return violation_rows(stream_df, schema, id_cols, format_assertion)


def stream_dedup(stream_df: DataFrame, key_cols: Sequence[str],
                 ts_col: str, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup, built-ins-first:
    ``dropDuplicatesWithinWatermark`` on the key columns.  State holds
    one entry per key inside the watermark horizon and Spark evicts it
    when the watermark passes — the right tool when "duplicate" means
    "same key within the late-data window".

    NOT plain ``dropDuplicates``: with the event-time column outside
    the dedup subset, that operator never evicts state (the eviction
    predicate exists only when the watermark column is part of the
    key), so per-key state grows forever on an unbounded stream —
    review finding, round 3.  Use :func:`stream_first_seen` when the
    policy needs custom state (TTL independent of event time,
    duplicate counting)."""
    return (stream_df.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(key_cols)))


def stream_first_seen(stream_df: DataFrame, key_cols: Sequence[str],
                      ttl_minutes: Optional[int] = 60) -> DataFrame:
    """Custom stateful streaming dedup via ``applyInPandasWithState``:
    emit only the FIRST row seen per key; keep a per-key
    ``(n_seen,)`` state so later micro-batches drop duplicates without
    re-emitting.  ``ttl_minutes`` sets a PROCESSING-time timeout that
    expires idle keys — state stays bounded on an unbounded crawl
    stream, at the documented cost that a key re-crawled after the TTL
    re-emits (the standard first-seen-with-TTL trade).

    Output = the input columns of the first-seen row plus
    ``first_seen_batch_dupes`` (duplicates already present in the same
    micro-batch — visibility, not silence).  The shuffle key is the
    dedup key itself, so state is co-partitioned with arrivals; at
    cluster scale use a fingerprint key column to keep the shuffle
    narrow (same trick as the batch ``duplicate_keys``).

    Trigger interaction: with a processing-time timeout the engine
    keeps scheduling no-data micro-batches to service expirations, so
    an ``availableNow``/``once`` drain never terminates — use
    ``ttl_minutes=None`` for bounded backfills and a TTL only on
    continuously-triggered production streams."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # the output schema appends a reserved column to the input fields —
    # an input that already carries the name would produce a duplicate
    # field and fail deep inside the state runner (ADVICE r3): fail
    # loudly here instead
    if "first_seen_batch_dupes" in stream_df.columns:
        raise ValueError(
            "stream_first_seen reserves the output column "
            "'first_seen_batch_dupes'; rename or drop the input column")
    in_fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                          for f in stream_df.schema.fields)
    out_schema = f"{in_fields}, first_seen_batch_dupes long"
    state_schema = "n_seen long"
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_minutes
               else GroupStateTimeout.NoTimeout)
    ttl_ms = (ttl_minutes or 0) * 60_000

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        first, n = None, 0
        for pdf in pdfs:
            n += len(pdf)
            if first is None and len(pdf):
                first = pdf.iloc[[0]].copy()
        if n == 0:
            return
        if state.exists:
            (seen,) = state.get
            state.update((seen + n,))
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            return          # key already emitted — drop duplicates
        state.update((n,))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        first["first_seen_batch_dupes"] = n - 1
        yield first

    return (stream_df.groupBy(*[F.col(c) for c in key_cols])
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", timeout))
