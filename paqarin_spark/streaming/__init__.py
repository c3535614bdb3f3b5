"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2 'Not present in the
reference': no watermarks/tumbling windows) — its
``normalise_sequences`` calendar buckets are the batch analogue of
tumbling windows. This module provides the streaming duals of the core
operators so the same engine serves continuous ingestion at scale:

- :func:`stream_time_bucket_sum` — op D1 as a watermarked tumbling
  window aggregation.
- :func:`stream_keep_first` — op E2 as watermarked streaming dedup.
- :func:`stream_running_minmax` — op D3/G4's fit-state as a streaming
  aggregation (feeds a MinMaxState for online scaling).

All are *transformations* on an unbounded DataFrame: callers plug any
``readStream`` source in and any ``writeStream`` sink out; tests drive
them with a file source + memory sink under ``Trigger.AvailableNow``.

Versioned corrections. The custom stateful operators —
:func:`stream_quantile_sketch`, :func:`stream_cohort_offsets`,
:func:`stream_view_rollup`, :func:`stream_latest_per_key`,
:func:`stream_group_topk`, :func:`stream_classify_counts`,
:func:`stream_ewma_anomaly`, :func:`stream_phrase_hits`,
:func:`stream_key_counts` and :func:`stream_bin_counts` — keep one
state row per key (``applyInPandasWithState``, append mode, no
timeout) and emit ``(*key, version, *row)``. ``version`` counts a
key's publications: 1, 2, ... with no gaps. An operator publishes for
a key in a micro-batch only when the key's answer may have changed
(the counters and the view/EWMA folds on every batch that touches
the key, the others only when their answer changes), and each
publication carries the key's FULL corrected answer, never a delta.
So the max-version rows per key are the answer over everything seen,
whatever the micro-batch boundaries: finish an accumulated emission
table with :func:`latest_sketch_version` (the ``*_from_emissions``
finishers do, then format). :func:`stream_sliding_windows` is
stateful too but emits each window once, under a ``sequence_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paqarin_spark.schema import TimeSeriesSchema, freq_to_spark

_UNIT_TO_WINDOW = {
    "DAY": "1 day",
    "HOUR": "1 hour",
    "MINUTE": "1 minute",
    "WEEK": "1 week",
    "SECOND": "1 second",
}


def _window_duration(frequency: str) -> str:
    unit, _ = freq_to_spark(frequency)
    if unit not in _UNIT_TO_WINDOW:
        raise ValueError(
            f"frequency {frequency!r} has no fixed-length streaming window"
        )
    return _UNIT_TO_WINDOW[unit]


def _versioned_state(
    staged: DataFrame,
    keys: list[str],
    payload_schema: str,
    state_schema: str,
    step,
) -> DataFrame:
    """The versioned-correction operator (module docstring): group
    ``staged`` by ``keys`` and, per key and micro-batch, call
    ``step(key, pdf_iter, prior) -> (state, rows)``. ``prior`` is the
    stored state — a list of ``state_schema``'s fields — or None for
    a new key. A None ``state`` keeps the stored one; None ``rows``
    publish nothing. Publishing bumps the key's version (kept as the
    last state field) and emits ``(*key, version, *row)`` per row:
    key columns typed as staged (nullable), ``version bigint NOT
    NULL``, then ``payload_schema``'s fields."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_type = StructType(
        [StructField(k, staged.schema[k].dataType, True) for k in keys]
        + [StructField("version", LongType(), False)]
        + StructType.fromDDL(payload_schema).fields
    )
    columns = out_type.names

    def fold(key, pdf_iter, state: GroupState):
        prior, version = None, 0
        if state.exists:
            *prior, version = state.get
        new, rows = step(key, pdf_iter, prior)
        if rows is not None:
            version += 1
        if new is not None or rows is not None:
            state.update((*(prior if new is None else new), version))
        if rows is not None:
            yield pd.DataFrame(
                [(*key, version, *row) for row in rows], columns=columns
            )

    return staged.groupBy(*keys).applyInPandasWithState(
        fold,
        outputStructType=out_type,
        stateStructType=f"{state_schema}, version bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _count_step(key, pdf_iter, prior):
    """Running row count per key, published on every batch."""
    n = (prior[0] if prior else 0) + sum(len(pdf) for pdf in pdf_iter)
    return (n,), [(n,)]


def stream_time_bucket_sum(
    stream: DataFrame,
    schema: TimeSeriesSchema,
    watermark: str = "1 day",
    bucket_column: str = "bucket",
) -> DataFrame:
    """Streaming dual of op D1: per-entity tumbling-window sums with a
    watermark bounding state and admitting late data up to ``watermark``.

    Output schema matches the batch :func:`time_bucket_sum` (bucket =
    window start), so a batch backfill and the streaming path are
    interchangeable — the lambda-architecture contract.
    """
    ts = schema.timestamp_column
    duration = _window_duration(schema.frequency)
    win = F.window(F.col(ts), duration)
    agg = (
        stream.withWatermark(ts, watermark)
        .groupBy(*schema.ids, win.alias("_w"))
        .agg(*[F.sum(F.col(c)).alias(c) for c in schema.values])
    )
    return agg.select(
        *schema.ids, F.col("_w.start").alias(bucket_column), *schema.values
    )


def stream_keep_first(
    stream: DataFrame,
    schema: TimeSeriesSchema,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming dual of op E2: drop later duplicates of
    (entity, timestamp) with bounded state via watermark.

    Batch keep-first picks the first row by explicit arrival order;
    in a stream, arrival order IS the stream order, so
    ``dropDuplicatesWithinWatermark`` keeps the first-seen row per key.
    """
    keys = [*schema.ids, schema.timestamp_column]
    return stream.withWatermark(
        schema.timestamp_column, watermark
    ).dropDuplicatesWithinWatermark(keys)


def stream_distinct_count(
    stream: DataFrame,
    timestamp_column: str,
    key_column: str,
    window_duration: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming windowed COUNT DISTINCT via chained stateful
    operators: watermarked ``dropDuplicatesWithinWatermark`` on
    (key, window start) collapses repeats with bounded per-key state,
    then a tumbling-window count aggregates the survivors — distinct
    counting without ever holding a per-window key set in one
    operator's state. This is the standard two-stage decomposition
    (dedup state is per-key and expires at the watermark; the count
    state is one long per window), and it shuffles on exactly the
    keys each stage groups by — the same plan shape a 1000-executor
    cluster wants. Output: (window_start, n_distinct), append mode on
    window close.
    """
    # The dedup key is the WINDOW START itself (not a hard-coded
    # day-trunc), so a key active in two different windows counts once
    # in each — for any window_duration.
    win = F.window(F.col(timestamp_column), window_duration)
    deduped = (
        stream.withColumn("_bucket", win["start"])
        .withWatermark(timestamp_column, watermark)
        .dropDuplicatesWithinWatermark([key_column, "_bucket"])
    )
    return (
        deduped.groupBy(F.window(F.col(timestamp_column), window_duration).alias("_w"))
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .select(F.col("_w.start").alias("window_start"), "n_distinct")
    )


def stream_hll_registers(
    stream: DataFrame,
    column: str,
    p: int = 12,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Streaming HyperLogLog: the register table IS the streaming
    state. hll_registers is select + groupBy + MAX — exactly the shape
    Structured Streaming's stateful aggregation supports in
    complete/update mode — and MAX is also the sketch's merge
    operator, so each micro-batch folds into ≤ groups × 2^p state rows
    that never grow with stream length (the running-distinct dual of
    st4's min/max scaler state; st6's exact windowed distinct holds
    per-KEY state instead, unbounded in key cardinality). Finish the
    final register table through
    ``operators.sketch.hll_estimate_from_registers`` — the identical
    arithmetic the batch estimator uses, so the streaming estimate
    equals the batch estimate on the same data by construction."""
    from paqarin_spark.operators.sketch import hll_registers

    return hll_registers(stream, column, p=p, group_by=group_by)


def stream_count_min(
    stream: DataFrame,
    column: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Streaming count-min: like st9's HLL registers, the counter
    table IS the streaming state — explode to (row, bucket) and SUM
    in complete/update mode, state bounded at depth×width rows
    forever regardless of stream length or key cardinality (an exact
    streaming frequency table holds one state row PER KEY). SUM is
    also the sketch's merge operator. Probe the final counter table
    with ``operators.sketch``'s estimate arithmetic (min over rows),
    identical to the batch path."""
    from paqarin_spark.operators.sketch import _cm_bucket

    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    return (
        stream.select(F.col(column).cast("string").alias("_v"), rows)
        .select(
            "row", _cm_bucket(F.col("row"), F.col("_v"), width).alias("bucket")
        )
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def stream_quantile_sketch(
    stream: DataFrame,
    value_column: str,
    rank_columns: list[str],
    k: int = 256,
    group_by: list[str] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Streaming dual of ``operators.sketch.quantile_sketch`` — the
    third streaming-sketch shape beside st9's HLL registers and st10's
    count-min counters: per-group state IS the bottom-k uniform sample
    (≤ k rows per group forever, regardless of stream length). Each
    micro-batch folds its rows' portable md5 keys into the state —
    exactly the union + re-top-k merge ``quantile_sketch_merge`` runs
    across shards, so the final state equals the batch sketch of the
    full stream BY CONSTRUCTION. No built-in streaming op keeps a
    ranked top-k, so this is a custom stateful operator
    (``applyInPandasWithState``, the stream_sliding_windows shape).

    Emissions carry a per-group monotone ``version``; readers take
    each group's max-version rows (the emission count depends on
    micro-batch boundaries, the final state does not). Ties on the
    53-bit md5 double break on the STRING concat of ``rank_columns``
    (document for oracle replays: ORDER BY key, CAST(id AS VARCHAR))."""
    from paqarin_spark.functions import uniform_hash

    groups = list(group_by or [])
    if not groups:
        raise ValueError(
            "stream_quantile_sketch requires group_by (state is keyed)"
        )
    ident = [F.col(c).cast("string") for c in rank_columns]
    u = uniform_hash(F.lit("qsketch"), F.lit(str(seed)), *ident)
    staged = stream.select(
        *groups,
        u.alias("_u"),
        F.concat_ws("#", *ident).alias("_tie"),
        F.col(value_column).cast("double").alias("_v"),
    )

    def step(key, pdf_iter, prior):
        entries = list(zip(*prior)) if prior else []
        before = sorted(entries)[:k]
        for pdf in pdf_iter:
            entries.extend(
                zip(
                    (float(x) for x in pdf["_u"]),
                    (str(x) for x in pdf["_tie"]),
                    (float(x) for x in pdf["_v"]),
                )
            )
        entries = sorted(entries)[:k]
        if entries == before:
            return None, None
        return (
            ([e[0] for e in entries], [e[1] for e in entries],
             [e[2] for e in entries]),
            [(rk + 1, e[2]) for rk, e in enumerate(entries)],
        )

    return _versioned_state(
        staged,
        groups,
        "_rk bigint NOT NULL, value double",
        "keys array<double>, ties array<string>, vals array<double>",
        step,
    )


def latest_sketch_version(table: DataFrame, group_by: list[str]) -> DataFrame:
    """Finish any versioned emission table (module docstring): keep
    each ``group_by`` key's max-``version`` rows and drop ``version``
    — the final answer, independent of how many micro-batches the
    stream saw. Every ``*_from_emissions`` finisher starts here."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_by)
    return (
        table.withColumn("_maxv", F.max("version").over(w))
        .where(F.col("version") == F.col("_maxv"))
        .drop("_maxv", "version")
    )


def stream_running_minmax(
    stream: DataFrame,
    schema: TimeSeriesSchema,
) -> DataFrame:
    """Streaming dual of op D3 (scaler fit state): running global
    min/max per value column, emitted in update mode. Collecting the
    latest row yields a MinMaxState for online min-max scaling."""
    aggs = []
    for c in schema.values:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return stream.agg(*aggs)


def stream_sliding_windows(
    stream: DataFrame,
    schema: TimeSeriesSchema,
    sequence_length: int,
) -> DataFrame:
    """Streaming dual of op F3 (sliding-window sequence extraction) —
    a CUSTOM stateful operator via ``applyInPandasWithState``, since no
    built-in streaming op can emit overlapping per-entity windows.

    Per-entity state is exactly the window tail: the last L-1
    observations (timestamp + one value column) plus the count of
    windows already emitted. Each micro-batch appends its rows in
    event-time order, emits every newly completed stride-1 window, and
    truncates state back to L-1 rows — O(L) state per entity, bounded
    regardless of stream length.

    Output matches the batch :func:`paqarin_spark.operators.sliding_windows`
    contract: (ids..., sequence_id, sequence<array<struct<value cols>>>).
    Ordering caveat: rows are sequenced in (event-time, arrival) order
    *within* the state buffer; an observation arriving after a later
    timestamp has already completed a window extends subsequent windows
    only — reprocessing late data exactly requires the batch operator
    over the backfill (the lambda contract, as with D1).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if len(schema.values) != 1:
        raise ValueError("stream_sliding_windows supports one value column")
    value_col = schema.values[0]
    ts_col = schema.timestamp_column
    id_fields = [
        StructField(name, stream.schema[name].dataType, True)
        for name in schema.ids
    ]
    out_type = StructType(
        [
            *id_fields,
            StructField("sequence_id", LongType(), False),
            StructField(
                "sequence",
                ArrayType(
                    StructType([StructField(value_col, DoubleType(), True)])
                ),
                False,
            ),
        ]
    )
    state_type = StructType(
        [
            StructField("ts_micros", ArrayType(LongType()), True),
            StructField("vals", ArrayType(DoubleType()), True),
            StructField("emitted", LongType(), True),
        ]
    )

    def assemble(key, pdf_iter, state: GroupState):
        if state.exists:
            ts_buf, val_buf, emitted = state.get
            ts_buf, val_buf = list(ts_buf), list(val_buf)
        else:
            ts_buf, val_buf, emitted = [], [], 0
        new = []
        for pdf in pdf_iter:
            for ts, val in zip(pdf[ts_col], pdf[value_col]):
                new.append((int(pd.Timestamp(ts).value // 1000), float(val)))
        new.sort()
        for ts_micro, val in new:
            ts_buf.append(ts_micro)
            val_buf.append(val)
        out_rows = []
        while len(val_buf) >= sequence_length:
            window = val_buf[:sequence_length]
            out_rows.append(
                (*key, emitted, [(v,) for v in window])
            )
            emitted += 1
            ts_buf.pop(0)
            val_buf.pop(0)
        state.update((ts_buf, val_buf, emitted))
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=[*schema.ids, "sequence_id", "sequence"]
            )

    return stream.groupBy(*schema.ids).applyInPandasWithState(
        assemble,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessions(
    stream: DataFrame,
    schema: TimeSeriesSchema,
    gap: str = "12 hours",
    watermark: str = "1 day",
    value_column: str | None = None,
    end_at_window_close: bool = False,
    exact_value_sum: bool = False,
) -> DataFrame:
    """Streaming dual of :func:`paqarin_spark.operators.sessionize`:
    gap-based session windows via the built-in ``session_window``
    aggregation — state is one open session per entity, merged/closed
    as the watermark passes ``gap`` beyond the last event.

    Gap-merge produces the same session partitioning as the batch
    cumulative-gap rule, so a bounded run carries the batch oracle
    (q30's segmentation, minus the ordinal). ``session_end`` here is
    the last event time (``max(ts)``) by default, to match the batch
    contract; ``end_at_window_close=True`` reports the window CLOSE
    (last + gap) instead — Spark's native session_window end, what a
    downstream TTL/expiry consumer reads.

    BOUNDARY SEMANTICS (pinned by test): two events exactly ``gap``
    apart MERGE — Spark merges when the next event's window start is
    <= the open session's end, so a batch oracle must break on
    strictly-greater gaps (``diff > gap``), never ``>=``.

    ``exact_value_sum=True`` quantizes each value 12dp and sums in
    decimal(38,12) (the dsir/tx52 order-independence discipline) so a
    6dp-rounded sum can never flip between Spark's state-merge order
    and a sequential oracle SUM; the default raw double SUM keeps
    st3's long-verified contract. BOTH branches emit ``value_sum``
    rounded at 6dp — the flag changes how the sum is accumulated,
    never the output's rounding contract.
    """
    ts = schema.timestamp_column
    end_col = (
        F.col("_w.end").alias("session_end")
        if end_at_window_close
        else F.max(ts).alias("session_end")
    )
    if value_column is None:
        vals = []
    elif exact_value_sum:
        vals = [
            F.round(
                F.sum(
                    F.round(F.col(value_column), 12).cast("decimal(38,12)")
                ).cast("double"),
                6,
            ).alias("value_sum")
        ]
    else:
        vals = [F.round(F.sum(value_column), 6).alias("value_sum")]
    aggs = [
        F.min(ts).alias("session_start"),
        *([] if end_at_window_close else [end_col]),
        F.count(F.lit(1)).alias("n_events"),
        *vals,
    ]
    out = (
        stream.withWatermark(ts, watermark)
        .groupBy(*schema.ids, F.session_window(F.col(ts), gap).alias("_w"))
        .agg(*aggs)
    )
    if end_at_window_close:
        out = out.withColumn("session_end", F.col("_w.end"))
    cols = [
        *schema.ids,
        "session_start",
        "session_end",
        "n_events",
        *(["value_sum"] if value_column is not None else []),
    ]
    return out.select(*cols)


def stream_enrich_window_sum(
    stream: DataFrame,
    dim: DataFrame,
    timestamp_column: str,
    join_column: str,
    dim_key: str,
    segment_column: str,
    value_column: str,
    window_duration: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """STREAM–STATIC enrichment: join each streaming event to a static
    dimension row (broadcast — the dim never shuffles the stream) and
    aggregate the enriched key over tumbling windows. This is the
    canonical streaming-ETL shape (click stream × user dim → per-
    segment rollup). The static side is planned as a broadcast hash
    join probed per micro-batch; stream state is only the windowed
    aggregate, bounded by watermark expiry. Inner join semantics:
    events without a dim row drop, mirroring the batch oracle's INNER
    JOIN. Output (append mode, watermark-closed windows only):
    (window_start, segment, n_events, sum_value).
    """
    enriched = stream.withWatermark(timestamp_column, watermark).join(
        F.broadcast(dim.select(
            F.col(dim_key).alias(join_column), F.col(segment_column)
        )),
        on=join_column,
    )
    return (
        enriched.groupBy(
            F.window(F.col(timestamp_column), window_duration).alias("_w"),
            F.col(segment_column),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_column), 6).alias("sum_value"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            F.col(segment_column),
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(
    stream: DataFrame,
    timestamp_column: str,
    key_column: str,
    left_filter,
    right_filter,
    max_lag: str = "1 hour",
    watermark: str = "1 day",
    left_prefix: str = "left",
    right_prefix: str = "right",
    id_column: str = "event_id",
    how: str = "inner",
) -> DataFrame:
    """STREAM–STREAM interval self-join: pair each left-side event with
    every right-side event of the same key that follows within
    ``max_lag`` (click→purchase attribution, request→error
    correlation). Both sides are watermarked and the join condition
    carries the time bound, so each side's state is evicted once the
    watermark passes ``ts + max_lag`` — the bounded-state contract a
    stream-stream join REQUIRES (an unbounded-time join would keep
    every row forever). Inner join: matches emit as soon as both
    sides have arrived; the result set equals the batch interval join
    exactly, so the oracle is plain SQL.

    ``how="left_outer"`` adds the NON-match verdicts: a left row with
    no partner emits with NULL right columns — but only once the
    watermark proves no partner can still arrive (state eviction
    time), so unmatched results trail the inner ones by the watermark
    delay, and rows whose match window is still open when the stream
    ends are withheld entirely. Callers comparing against a batch
    LEFT JOIN must restrict to left rows whose window provably closed
    (st13 pins a fixed cutoff). Outer mode adds ``{left}_ts`` to the
    output so that closed-window restriction can be expressed
    downstream.

    Output: ({left}_id, {right}_id, key, lag_seconds), both id
    columns taken from ``id_column``; plus ``{left}_ts`` in outer
    mode.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join type: {how!r}")
    lts, rts = f"{left_prefix}_ts", f"{right_prefix}_ts"
    lid, rid = f"{left_prefix}_id", f"{right_prefix}_id"
    left = (
        stream.where(left_filter)
        .select(
            F.col(key_column),
            F.col(id_column).alias(lid),
            F.col(timestamp_column).alias(lts),
        )
        .withWatermark(lts, watermark)
    )
    right = (
        stream.where(right_filter)
        .select(
            F.col(key_column).alias("_rkey"),
            F.col(id_column).alias(rid),
            F.col(timestamp_column).alias(rts),
        )
        .withWatermark(rts, watermark)
    )
    cond = (
        (left[key_column] == right["_rkey"])
        & (F.col(rts) >= F.col(lts))
        & (F.col(rts) <= F.col(lts) + F.expr(f"INTERVAL {max_lag}"))
    )
    joined = left.join(right, cond, how)
    cols = [
        F.col(lid),
        F.col(rid),
        F.col(key_column),
        (F.unix_timestamp(rts) - F.unix_timestamp(lts)).alias("lag_seconds"),
    ]
    if how != "inner":
        cols.append(F.col(lts))
    return joined.select(*cols)


def stream_cohort_offsets(
    stream: DataFrame,
    user_column: str = "user_id",
    ts_column: str = "ts",
) -> DataFrame:
    """Streaming dual of the q82 cohort-retention rollup: per-user
    state tracks the set of DISTINCT ACTIVE DAYS, and each emission
    publishes the user's full corrected (cohort_epoch_day,
    week_offset) set under a monotone version. Storing days — not
    derived offsets — is what makes the operator correct under
    out-of-order arrival: a user's true first event landing in a LATER
    micro-batch rebases the cohort, and every week offset must be
    recomputed against the new anchor (offsets alone cannot be rebased
    when the anchor shifts by a non-multiple of 7). Readers take each
    user's max-version rows (latest_sketch_version shape) and
    aggregate — the result equals the batch rollup BY CONSTRUCTION,
    independent of micro-batch boundaries or arrival order.

    State bound: distinct active days per user (≤ 366/year — calendar
    growth, not event growth); emissions re-publish a user's set only
    when it actually changes."""
    import pandas as pd

    staged = stream.select(
        F.col(user_column).cast("long").alias("user_id"),
        F.datediff(
            F.to_date(ts_column), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("_day"),
    )

    def derived(days: set) -> tuple:
        if not days:
            return ()
        first = min(days)
        return (first, tuple(sorted({(d - first) // 7 for d in days})))

    def step(key, pdf_iter, prior):
        days = set(prior[0]) if prior else set()
        n_before, before = len(days), derived(days)
        for pdf in pdf_iter:
            days.update(int(d) for d in pdf["_day"] if not pd.isna(d))
        if len(days) == n_before:
            return None, None
        # every new day is stored (an earlier first day arriving later
        # rebases all offsets); only a changed (cohort, offsets) set
        # publishes
        after = derived(days)
        first, offsets = after
        rows = None if after == before else [(first, o) for o in offsets]
        return (sorted(days),), rows

    return _versioned_state(
        staged,
        ["user_id"],
        "cohort_epoch_day bigint NOT NULL, week_offset bigint NOT NULL",
        "days array<bigint>",
        step,
    )


def cohort_retention_from_emissions(emissions: DataFrame) -> DataFrame:
    """Finish a :func:`stream_cohort_offsets` emission table into the
    q82 cohort-retention matrix: max-version rows per user (the
    corrected set), then the same (cohort, offset) rollup / offset-0
    size join / 6dp retention arithmetic as the batch query — so a
    streaming run hash-matches the batch SQL oracle."""
    latest = latest_sketch_version(emissions, ["user_id"])
    epoch = F.lit("1970-01-01").cast("date")
    g = (
        latest.select(
            "user_id",
            F.date_add(epoch, F.col("cohort_epoch_day").cast("int")).alias(
                "_cd"
            ),
            F.col("week_offset").cast("int").alias("week_offset"),
        )
        .groupBy("_cd", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    size = g.where(F.col("week_offset") == 0).select(
        "_cd", F.col("active_users").alias("cohort_size")
    )
    return (
        g.join(size, "_cd")
        .select(
            F.date_format("_cd", "yyyy-MM-dd").alias("cohort_day"),
            "week_offset",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_size"),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort_day", "week_offset")
    )


def stream_view_rollup(
    stream: DataFrame,
    user_column: str = "user_id",
    ts_column: str = "ts",
    value_column: str = "value",
) -> DataFrame:
    """Streaming MATERIALIZED-VIEW maintenance — the stateful dual of
    the q86 batch base+delta merge: per-user state carries the exact
    running aggregate (event count, value sum, max timestamp) and each
    emission publishes the corrected row under a monotone version, so
    a reader taking max-version rows holds the same view a batch FULL
    recompute would produce, independent of micro-batch boundaries or
    arrival order.

    Determinism contract: the value sum is kept as an EXACT scaled
    integer (each double is rounded to 10dp HALF_UP — bit-equal to
    Spark/DuckDB ``CAST(value AS DECIMAL(30,10))`` — and summed in
    arbitrary-precision int, so fold order cannot matter); emissions
    carry the sum as a plain decimal string and the finisher casts it
    back through decimal(30,10) before the display rounding, exactly
    the batch pipeline's arithmetic. NaN values are canonicalized to
    NULL (skipped from the sum, still counted in n_events) — the ST14
    oracle mirrors this with a CASE-NULL inside its SUM, so the
    contract is symmetric rather than latent.

    State bound: ONE row per user (three scalars + a version) —
    O(users) forever, never O(events)."""
    import pandas as pd

    staged = stream.select(
        F.col(user_column).cast("long").alias("user_id"),
        F.unix_micros(F.col(ts_column)).alias("_ts_us"),
        F.col(value_column).alias("_v"),
    )

    def step(key, pdf_iter, prior):
        from decimal import ROUND_HALF_UP, Decimal

        n, n_vals, s_str, last = prior or (0, 0, "0", None)
        s = int(s_str)
        for pdf in pdf_iter:
            n += len(pdf)
            for v in pdf["_v"]:
                if not pd.isna(v):
                    n_vals += 1
                    s += int(
                        Decimal(float(v))
                        .scaleb(10)
                        .quantize(Decimal(1), rounding=ROUND_HALF_UP)
                    )
            for t in pdf["_ts_us"]:
                if not pd.isna(t):
                    t = int(t)
                    last = t if last is None or t > last else last
        # SUM over zero non-NULL inputs is NULL in SQL, not 0 — emit
        # None so the finished view hash-matches the batch GROUP BY
        dec = format(Decimal(s).scaleb(-10), "f") if n_vals else None
        return (n, n_vals, str(s), last), [(n, dec, last)]

    return _versioned_state(
        staged,
        ["user_id"],
        "n_events bigint NOT NULL, sum_dec string, last_ts_us bigint",
        "n bigint, n_vals bigint, sum_scaled string, last_ts bigint",
        step,
    )


def view_from_emissions(emissions: DataFrame) -> DataFrame:
    """Finish a :func:`stream_view_rollup` emission table into the
    per-user view: max-version rows, then the decimal-string sum cast
    back through decimal(30,10) and the same 6dp display rounding /
    timestamp formatting as the batch full recompute — so a streaming
    run hash-matches the plain GROUP BY oracle."""
    latest = latest_sketch_version(emissions, ["user_id"])
    return latest.select(
        "user_id",
        "n_events",
        F.round(
            F.col("sum_dec").cast("decimal(30,10)").cast("double"), 6
        ).alias("sum_value"),
        F.date_format(
            F.timestamp_micros("last_ts_us"), "yyyy-MM-dd HH:mm:ss"
        ).alias("last_seen"),
    )


def stream_latest_per_key(
    stream: DataFrame,
    key_column: str = "user_id",
    ts_column: str = "ts",
    id_column: str = "event_id",
    value_column: str = "value",
) -> DataFrame:
    """Streaming LAST-WRITE-WINS cache — the upsert/materialized-KV
    pattern every event pipeline serves (latest profile state, last
    reading per sensor): per-key state holds the single winning row
    under the total order (ts, id), so late or out-of-order arrivals
    never regress the cache, and each change publishes a versioned
    correction (the st12/st14 emission contract). A reader taking
    max-version rows holds exactly the batch "latest row per key"
    query's answer, independent of micro-batch boundaries. A NaN value
    on the winning row is canonicalized to NULL, and rows with NULL
    ts/id are ignored entirely (they have no place in the total
    order); the ST15 oracle mirrors BOTH — a CASE-NULL on the value
    and a NULL ts/id filter before its ranking.

    State bound: ONE row per key, forever."""
    import pandas as pd

    staged = stream.select(
        F.col(key_column).cast("long").alias("k"),
        F.unix_micros(F.col(ts_column)).alias("_ts_us"),
        F.col(id_column).alias("_id"),
        F.col(value_column).alias("_v"),
    )

    def step(key, pdf_iter, prior):
        ts, rid, v = prior or (None, None, None)
        best = (ts, rid) if ts is not None else None
        for pdf in pdf_iter:
            for t, i, val in zip(pdf["_ts_us"], pdf["_id"], pdf["_v"]):
                if pd.isna(t) or pd.isna(i):
                    continue
                cand = (int(t), int(i))
                if best is None or cand > best:
                    best = cand
                    v = None if pd.isna(val) else float(val)
        if best is None or (ts, rid) == best:
            return None, None
        return (*best, v), [(*best, v)]

    return _versioned_state(
        staged,
        ["k"],
        "last_ts_us bigint, last_id bigint, last_value double",
        "ts bigint, id bigint, v double",
        step,
    )


def latest_from_emissions(emissions: DataFrame) -> DataFrame:
    """Finish a :func:`stream_latest_per_key` emission table: the
    max-version row per key IS the cache — formatted with the batch
    query's column contract (ts string, id, value)."""
    latest = latest_sketch_version(emissions, ["k"])
    return latest.select(
        F.col("k"),
        F.date_format(
            F.timestamp_micros("last_ts_us"), "yyyy-MM-dd HH:mm:ss"
        ).alias("last_seen"),
        "last_id",
        F.round("last_value", 6).alias("last_value"),
    )


def stream_group_topk(
    stream: DataFrame,
    key_column: str,
    value_column: str,
    id_column: str,
    k: int = 3,
) -> DataFrame:
    """Streaming LEADERBOARD: per-group top-``k`` ROWS by
    (value DESC, id ASC), maintained as bounded state (exactly the
    ≤ k winning rows per group — never the event history) and
    published as versioned full-set corrections whenever membership
    or order changes. Row semantics match the batch window-rank query
    exactly: ids are NOT upsert keys (two rows sharing an id are two
    ranking candidates, as they are to ROW_NUMBER), a late higher
    value evicts the current minimum, and NULL/NaN values or NULL ids
    are ignored on both sides of the contract (the st16 oracle
    filters them identically).

    State bound: k rows per group, forever."""
    import pandas as pd

    if k < 1:
        raise ValueError("k must be >= 1")
    id_type = stream.schema[id_column].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"id_column must be an integral type (cast to long), got "
            f"{id_type!r} — a lossy cast would silently drop rows"
        )
    staged = stream.select(
        F.col(key_column).cast("string").alias("g"),
        F.col(value_column).cast("double").alias("_v"),
        F.col(id_column).cast("long").alias("_id"),
    )

    def step(key, pdf_iter, prior):
        board = list(zip(*prior)) if prior else []
        before = list(board)
        for pdf in pdf_iter:
            for v, i in zip(pdf["_v"], pdf["_id"]):
                # NULL/NaN values and NULL ids are non-candidates on
                # BOTH sides (the oracle filters them identically)
                if pd.isna(v) or pd.isna(i):
                    continue
                board.append((float(v), int(i)))
        board = sorted(board, key=lambda t: (-t[0], t[1]))[:k]
        if board == before:
            return None, None
        return (
            ([v for v, _ in board], [i for _, i in board]),
            [(r + 1, i, v) for r, (v, i) in enumerate(board)],
        )

    return _versioned_state(
        staged,
        ["g"],
        "rank bigint NOT NULL, id bigint NOT NULL, value double",
        "vals array<double>, ids array<bigint>",
        step,
    )


def leaderboard_from_emissions(emissions: DataFrame) -> DataFrame:
    """Finish a :func:`stream_group_topk` emission table: max-version
    rows per group ARE the leaderboard."""
    return latest_sketch_version(emissions, ["g"]).select(
        "g", "rank", "id", "value"
    )


def stream_classify_counts(
    stream: DataFrame,
    scoring: dict,
    text_column: str = "text",
) -> DataFrame:
    """Streaming DOCUMENT CLASSIFICATION — the deployed half of the
    tx45 learned filter: score each arriving document against a
    COMPILED bounded model (operators.classify.compile_scoring_table —
    top-N feature selection is what makes the model small enough to
    ride in the worker closure) and maintain one state row per class
    holding the running count of documents predicted into it,
    published as versioned corrections (the st12/st14 emission
    contract). A reader taking max-version rows holds exactly the
    batch "classify everything and GROUP BY predicted" answer.

    Scoring semantics (mirrored by the st17 oracle): selected tokens
    contribute their 12dp-stabilized log terms per occurrence,
    non-selected tokens contribute nothing, the prior always
    contributes, arg-max ties break label-ascending. Tokenization is
    the shared [a-z0-9]+ lowercase contract. The compiled terms are
    INTEGER picanats (1e-12 units), so per-class scores accumulate as
    exact python ints on the same lattice the oracle's DECIMAL(25,12)
    sums live on — near-ties cannot flip and true ties compare
    exactly (a float accumulation would guarantee neither).

    State bound: ONE row per class (two scalars), forever."""
    import re

    import pandas as pd

    labels = list(scoring["labels"])
    prior = dict(scoring["prior"])
    terms = {t: dict(cs) for t, cs in scoring["terms"].items()}

    def classify(batches):
        tok_re = re.compile(r"[a-z0-9]+")
        for pdf in batches:
            if not len(pdf):
                continue
            preds = []
            for text in pdf[text_column]:
                scores = dict(prior)
                for tok in tok_re.findall((text or "").lower()):
                    ts = terms.get(tok)
                    if ts is not None:
                        for c in labels:
                            scores[c] += ts[c]
                # arg-max, ties label-ascending
                top = max(scores.values())
                preds.append(min(c for c in labels if scores[c] == top))
            yield pd.DataFrame({"label": preds})

    scored = stream.select(text_column).mapInPandas(
        classify, schema="label string"
    )
    return _versioned_state(
        scored, ["label"], "n_docs bigint NOT NULL", "n bigint", _count_step
    )


def class_counts_from_emissions(emissions: DataFrame) -> DataFrame:
    """Finish :func:`stream_classify_counts` emissions: max-version
    row per class is the current count table."""
    return latest_sketch_version(emissions, ["label"]).select(
        "label", "n_docs"
    )


def stream_ewma_anomaly(
    stream: DataFrame,
    user_column: str = "user_id",
    ts_column: str = "ts",
    id_column: str = "event_id",
    value_column: str = "value",
    warmup: int = 5,
    threshold: float = 100.0,
) -> DataFrame:
    """Streaming PREQUENTIAL anomaly detection per key: every event is
    scored against the EWMA of its predecessors (flagged when
    |x − s_prev| > ``threshold`` after ``warmup`` prior events), then
    folded in — the online drift/outlier monitor a feature pipeline
    runs on event streams, and the first ORDER-DEPENDENT stateful dual
    (st1–st17 are all order-free folds).

    Ordering contract (the watermark analogy, stated not hidden):
    within a micro-batch the fold sorts each key's rows by
    (ts, event_id); ACROSS micro-batches rows must arrive in
    event-time order per key — a row at or below the state's
    high-water mark is DROPPED and counted in ``n_late``, exactly how
    a watermarked operator treats late data. A single
    Trigger.AvailableNow file-source run is one batch, so the batch
    oracle (a recursive replay in event-time order, zero late) applies
    verbatim; restarts are exact whenever the file split respects
    per-key event-time order.

    Determinism: the recurrence s ← 0.75·s + 0.25·x runs in IEEE
    doubles with exact-binary coefficients and a FIXED fold order, so
    Python's floats replay DuckDB's recursive-CTE doubles bit-exactly;
    state carries the EWMA as repr() (shortest round-trip — the cast
    back parses to the identical double). NULL/NaN values must be
    excluded upstream in the staging projection (the contract is
    symmetric with the oracle's WHERE clause, per the st14/st15 NaN
    precedent).

    State bound: ONE row per key (two watermark scalars + the EWMA
    string + three counters + a version), O(keys) forever. The fold
    concatenates one BATCH's chunks per key before sorting — bounded
    by per-key micro-batch volume, the applyInPandas group contract.
    """
    import pandas as pd

    if warmup < 0:
        raise ValueError("warmup must be >= 0")
    staged = stream.select(
        # the staged key type is the emission key type: cast to long
        # up front, whatever the source column's type
        F.col(user_column).try_cast("long").alias("user_id"),
        F.unix_micros(F.col(ts_column)).alias("_ts_us"),
        F.col(id_column).cast("long").alias("_eid"),
        F.col(value_column).cast("double").alias("_v"),
    ).where(
        # try_cast (not cast: ANSI mode hard-crashes the stream on the
        # first malformed key) turns a non-numeric key into NULL; the
        # filter then drops it — without this every such key would
        # collapse into ONE shared NULL-key state row, silently
        # interleaving unrelated series through the order-dependent
        # fold (mirrors the NULL-key drop in paired_permutation_test)
        F.col("user_id").isNotNull()
    )

    def step(key, pdf_iter, prior):
        last_ts, last_eid, s, n, n_anom, n_late = (
            prior or (None, None, None, 0, 0, 0)
        )
        s = None if s is None else float(s)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["_ts_us", "_eid"]
            )
            for t, e, x in zip(pdf["_ts_us"], pdf["_eid"], pdf["_v"]):
                t, e, x = int(t), int(e), float(x)
                if last_ts is not None and (t, e) <= (last_ts, last_eid):
                    n_late += 1
                    continue
                if s is None:
                    s = x
                else:
                    if n >= warmup and abs(x - s) > threshold:
                        n_anom += 1
                    s = 0.75 * s + 0.25 * x
                n += 1
                last_ts, last_eid = t, e
        s_repr = None if s is None else repr(s)
        return (
            (last_ts, last_eid, s_repr, n, n_anom, n_late),
            [(n, n_anom, n_late, s_repr)],
        )

    return _versioned_state(
        staged,
        ["user_id"],
        "n_events bigint NOT NULL, n_anomalies bigint NOT NULL, "
        "n_late bigint NOT NULL, ewma_repr string",
        "last_ts bigint, last_eid bigint, s_repr string, n bigint, "
        "n_anom bigint, n_late bigint",
        step,
    )


def ewma_from_emissions(emissions: DataFrame) -> DataFrame:
    """Finish :func:`stream_ewma_anomaly` emissions: max-version row
    per key, the repr-string EWMA cast back to its identical double,
    6dp display rounding."""
    return latest_sketch_version(emissions, ["user_id"]).select(
        "user_id",
        "n_events",
        "n_anomalies",
        "n_late",
        F.round(F.col("ewma_repr").cast("double"), 6).alias("ewma"),
    )


def stream_phrase_hits(
    stream: DataFrame,
    text_column: str,
    phrases: list[str],
    n: int = 2,
) -> DataFrame:
    """Streaming DEPLOYED half of the tx49 phrase-blocklist gate: as
    documents stream in, per-phrase running occurrence counts
    accumulate as ONE state row per blocklist phrase, published under
    versioned corrections (the st14/st17 pattern) — the live content-
    filter dashboard counter.

    The blocklist is bounded by construction (human-curated), so the
    membership filter ships as a literal IN-set inside the stateless
    n-gram projection — only matching grams ever reach the stateful
    exchange. Occurrences count NON-distinct (document reach needs
    per-doc memory, which is unbounded — the batch tx49 reports it;
    the stream deliberately does not, stated not hidden).

    State bound: |blocklist| rows of (count, version), forever."""
    from paqarin_spark.operators.corpus import (
        normalize_blocklist,
        word_ngrams,
    )
    from paqarin_spark.operators.dedup import normalized_text

    # same normalization + dead-entry rejection and the same shared
    # gram projection as the batch gate — the tx49/st19 parity contract
    blk = normalize_blocklist(phrases, n)
    toks = stream.select(
        F.split(normalized_text(F.col(text_column)), " ").alias("_ts")
    ).where(F.size("_ts") >= n)
    grams = toks.select(
        F.explode(word_ngrams(F.col("_ts"), n)).alias("phrase")
    ).where(F.col("phrase").isin(*blk))
    return _versioned_state(
        grams, ["phrase"], "n_hits bigint NOT NULL", "n_hits bigint",
        _count_step,
    )


def phrase_hits_from_emissions(
    emissions: DataFrame, phrases: list[str], n: int = 2
) -> DataFrame:
    """Finish :func:`stream_phrase_hits` emissions into the full
    blocklist report: max-version row per phrase, zero-hit phrases
    restored by a left join from the (bounded) list — the dashboard
    must show the whole blocklist, exactly like the batch tx49."""
    from paqarin_spark.operators.corpus import normalize_blocklist

    spark = emissions.sparkSession
    blk = spark.createDataFrame(
        [(p,) for p in normalize_blocklist(phrases, n)], ["phrase"]
    )
    latest = latest_sketch_version(emissions, ["phrase"]).select(
        "phrase", "n_hits"
    )
    return blk.join(latest, on="phrase", how="left").select(
        "phrase",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
    )


def stream_key_counts(
    stream: DataFrame,
    key_column: str,
) -> DataFrame:
    """Streaming CATEGORY histogram — the live half of a categorical
    drift monitor (ev29's JSD): each arriving row increments ONE state
    row for its key under versioned corrections (the st14/st19
    emission contract). The key domain is data-bounded (event types /
    class labels — the same boundedness argument ev29's batch rollup
    makes), so the stateful exchange only ever carries |domain| keys.

    NULL keys are dropped EXPLICITLY — ev29's batch rollup states the
    same ``event_type IS NOT NULL`` contract, so the batch/stream
    parity proof holds on NULL-carrying data.

    State bound: one (count, version) row per distinct key, forever."""
    keyed = stream.where(F.col(key_column).isNotNull()).select(
        F.col(key_column).cast("string").alias("key")
    )
    return _versioned_state(
        keyed, ["key"], "n bigint NOT NULL", "n bigint", _count_step
    )


def key_counts_from_emissions(emissions: DataFrame) -> DataFrame:
    """Finish :func:`stream_key_counts` emissions: max-version row per
    key is the current categorical histogram. Keys the stream never
    saw have no row — the finisher joins against the batch reference
    side to restore them (st25 does), because only the reference knows
    the full domain."""
    return latest_sketch_version(emissions, ["key"]).select("key", "n")


def stream_bin_counts(
    stream: DataFrame,
    value_column: str,
    edges: list[float],
) -> DataFrame:
    """Streaming histogram state — the live half of a drift monitor
    (ev27's PSI): values bin by COUNT-OF-EDGES-BELOW against a
    BOUNDED, batch-fit edge list shipped as literals (the blocklist
    discipline: reference statistics are human/batch-owned, the
    stream only counts), and ONE state row per bin accumulates the
    running count under versioned corrections (the st14/st19
    pattern). Bin assignment is a stateless expression, so only
    |edges|+1 keys ever reach the stateful exchange.

    State bound: |edges|+1 rows of (count, version), forever."""
    if not edges:
        raise ValueError("edges must be non-empty")
    bin_expr = sum(
        (F.col(value_column) > F.lit(float(e))).cast("int") for e in edges
    )
    # NULL values are dropped EXPLICITLY (a NULL comparison sums to a
    # NULL bin, which downstream consumers would silently lose) —
    # ev27's batch binning states the same contract, so the
    # batch/stream parity proof holds even on NULL-carrying data.
    binned = stream.where(F.col(value_column).isNotNull()).select(
        bin_expr.alias("bin")
    )
    return _versioned_state(
        binned, ["bin"], "n bigint NOT NULL", "n bigint", _count_step
    )


def bin_counts_from_emissions(
    emissions: DataFrame, n_bins: int
) -> DataFrame:
    """Finish :func:`stream_bin_counts` emissions: max-version row per
    bin, empty bins restored as zero — the monitor must report every
    bin, exactly like the batch histogram."""
    spark = emissions.sparkSession
    bins = spark.createDataFrame([(b,) for b in range(n_bins)], ["bin"])
    latest = latest_sketch_version(emissions, ["bin"]).select("bin", "n")
    return bins.join(latest, on="bin", how="left").select(
        "bin", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
