"""Structured Streaming duals of the core ops, driven with a file
source -> memory sink under availableNow (bounded, deterministic)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from paqarin_spark.schema import TimeSeriesSchema
from paqarin_spark.operators import time_bucket_sum
from paqarin_spark.streaming import (
    stream_keep_first,
    stream_time_bucket_sum,
)

SCHEMA = TimeSeriesSchema(
    item_id_columns=("item_id",),
    timestamp_column="ts",
    value_columns=("v",),
    frequency="D",
)


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    rows = [
        ("a", dt.datetime(2020, 1, 1, 1), 1.0),
        ("a", dt.datetime(2020, 1, 1, 13), 2.0),
        ("a", dt.datetime(2020, 1, 2, 0), 5.0),
        ("b", dt.datetime(2020, 1, 1, 0), 10.0),
        ("b", dt.datetime(2020, 1, 1, 0), 11.0),  # duplicate (entity, ts)
    ]
    df = spark.createDataFrame(rows, "item_id string, ts timestamp, v double")
    path = str(tmp_path_factory.mktemp("stream") / "in")
    df.repartition(2).write.parquet(path)
    return path


def _run(spark, stream_df, name: str, output_mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_bucket_sum_matches_batch(spark, source_dir):
    batch = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(batch.schema).parquet(source_dir)
    # complete mode: append would hold back windows the final watermark
    # never passes (bounded source) — complete emits the full table.
    out = _run(
        spark,
        stream_time_bucket_sum(stream, SCHEMA, watermark="1 day"),
        "t_bucket_sum",
        "complete",
    )
    got = {
        (r["item_id"], str(r["bucket"])[:10]): r["v"] for r in out.collect()
    }
    expected = {
        (r["item_id"], str(r["bucket"])[:10]): r["v"]
        for r in time_bucket_sum(batch, SCHEMA).collect()
    }
    assert got == expected
    assert got[("a", "2020-01-01")] == 3.0


def test_stream_keep_first_dedups(spark, source_dir):
    batch = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(batch.schema).parquet(source_dir)
    out = _run(
        spark,
        stream_keep_first(stream, SCHEMA, watermark="1 day"),
        "t_keep_first",
        "append",
    )
    rows = out.collect()
    keys = [(r["item_id"], r["ts"]) for r in rows]
    assert len(keys) == len(set(keys)) == 4  # the dup (b, 1/1) collapsed


def test_stream_sliding_windows_matches_batch(spark, tmp_path):
    import datetime as dt

    from paqarin_spark.operators import sliding_windows
    from paqarin_spark.streaming import stream_sliding_windows

    rows = [
        ("a", dt.datetime(2020, 1, 1) + dt.timedelta(days=i), float(i))
        for i in range(6)
    ] + [
        ("b", dt.datetime(2020, 1, 1) + dt.timedelta(days=i), 10.0 + i)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "item_id string, ts timestamp, v double")
    path = str(tmp_path / "swin")
    df.repartition(2).write.parquet(path)

    stream = spark.readStream.schema(df.schema).parquet(path)
    out = stream_sliding_windows(stream, SCHEMA, sequence_length=4)
    got = _run(spark, out, "swin_stateful", "append").collect()

    batch = sliding_windows(df, SCHEMA, sequence_length=4).collect()
    canon = lambda rs: sorted(
        (r["item_id"], r["sequence_id"], tuple(x["v"] for x in r["sequence"]))
        for r in rs
    )
    assert canon(got) == canon(batch)
    # b has 3 rows < L: contributes nothing
    assert all(r["item_id"] == "a" for r in got)


def test_stream_sliding_windows_state_spans_microbatches(spark, tmp_path):
    import datetime as dt

    from paqarin_spark.operators import sliding_windows
    from paqarin_spark.streaming import stream_sliding_windows

    rows = [
        ("a", dt.datetime(2020, 1, 1) + dt.timedelta(days=i), float(i))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "item_id string, ts timestamp, v double")
    path = str(tmp_path / "swin_mb")
    # two files = two micro-batches under maxFilesPerTrigger=1; windows
    # crossing the file boundary only exist if state carries over
    df.where("v < 4").coalesce(1).write.parquet(path)
    df.where("v >= 4").coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = stream_sliding_windows(stream, SCHEMA, sequence_length=3)
    got = _run(spark, out, "swin_mb", "append").collect()

    batch = sliding_windows(df, SCHEMA, sequence_length=3).collect()
    canon = lambda rs: sorted(
        (r["item_id"], r["sequence_id"], tuple(x["v"] for x in r["sequence"]))
        for r in rs
    )
    assert canon(got) == canon(batch)
    assert len(got) == 6  # 8 - 3 + 1, including boundary-spanning windows


def test_stream_sessions_matches_batch(spark, source_dir):
    from paqarin_spark.operators import session_stats
    from paqarin_spark.streaming import stream_sessions

    batch = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(batch.schema).parquet(source_dir)
    out = _run(
        spark,
        stream_sessions(stream, SCHEMA, gap="6 hours", value_column="v"),
        "t_sessions",
        "complete",
    ).collect()
    got = {
        (r["item_id"], str(r["session_start"])): (
            str(r["session_end"]),
            r["n_events"],
            r["value_sum"],
        )
        for r in out
    }
    expect = {
        (r["item_id"], str(r["session_start"])): (
            str(r["session_end"]),
            r["n_events"],
            r["value_sum"],
        )
        for r in session_stats(batch, "item_id", "ts", 6 * 3600, "v").collect()
    }
    assert got == expect


def test_stream_distinct_count_closed_windows(spark, tmp_path):
    from paqarin_spark.streaming import stream_distinct_count

    # 3 distinct users on 1/1 (one repeated), 2 on 1/2, 1 on 1/5. With
    # watermark = 1 day the final watermark lands at 1/4, so days 1-2
    # close and emit; the 1/5 window stays open (append contract).
    rows = [
        ("u1", dt.datetime(2020, 1, 1, 1)),
        ("u1", dt.datetime(2020, 1, 1, 9)),
        ("u2", dt.datetime(2020, 1, 1, 5)),
        ("u3", dt.datetime(2020, 1, 1, 22)),
        ("u1", dt.datetime(2020, 1, 2, 3)),
        ("u9", dt.datetime(2020, 1, 2, 4)),
        ("u5", dt.datetime(2020, 1, 5, 1)),
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    path = str(tmp_path / "in")
    df.repartition(2).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = _run(
        spark,
        stream_distinct_count(stream, "ts", "user"),
        "t_distinct_count",
        "append",
    )
    got = {
        str(r["window_start"])[:10]: r["n_distinct"] for r in out.collect()
    }
    assert got == {"2020-01-01": 3, "2020-01-02": 2}


def test_stream_distinct_count_subdaily_window(spark, tmp_path):
    from paqarin_spark.streaming import stream_distinct_count

    # same user in two different HOURS must count once per hourly
    # window (the dedup key is the window start, not a fixed day)
    rows = [
        ("u1", dt.datetime(2020, 1, 1, 1, 5)),
        ("u1", dt.datetime(2020, 1, 1, 1, 40)),  # dup within the hour
        ("u1", dt.datetime(2020, 1, 1, 5, 0)),
        ("u2", dt.datetime(2020, 1, 1, 5, 30)),
        ("u9", dt.datetime(2020, 1, 3, 0, 0)),  # advances the watermark
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    path = str(tmp_path / "in")
    df.repartition(2).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = _run(
        spark,
        stream_distinct_count(
            stream, "ts", "user", window_duration="1 hour", watermark="1 hour"
        ),
        "t_distinct_hourly",
        "append",
    )
    got = {
        str(r["window_start"])[:13]: r["n_distinct"] for r in out.collect()
    }
    assert got == {"2020-01-01 01": 1, "2020-01-01 05": 2}


def test_stream_enrich_window_sum_joins_dim_and_closes_windows(spark, tmp_path):
    from paqarin_spark.streaming import stream_enrich_window_sum

    # u1/u2 have dim rows (gold/silver); u9 does not and must drop
    # (inner join). Watermark 1 day + max ts on 1/5 closes days 1-2.
    rows = [
        (1, dt.datetime(2020, 1, 1, 1), 10.0),
        (1, dt.datetime(2020, 1, 1, 2), 5.0),
        (2, dt.datetime(2020, 1, 1, 3), 7.0),
        (2, dt.datetime(2020, 1, 2, 3), 1.0),
        (9, dt.datetime(2020, 1, 2, 4), 99.0),
        (1, dt.datetime(2020, 1, 5, 1), 3.0),
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, v double")
    path = str(tmp_path / "enrich_in")
    df.repartition(2).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "gold")], "k long, seg string"
    )
    out = _run(
        spark,
        stream_enrich_window_sum(
            stream, dim, "ts", "uid", "k", "seg", "v"
        ),
        "t_enrich",
        "append",
    )
    got = {
        (str(r["window_start"])[:10], r["seg"]): (r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    assert got == {
        ("2020-01-01", "gold"): (2, 15.0),
        ("2020-01-01", "silver"): (1, 7.0),
        ("2020-01-02", "silver"): (1, 1.0),
    }


def test_stream_interval_join_matches_batch(spark, tmp_path):
    from paqarin_spark.streaming import stream_interval_join

    rows = [
        (1, 10, dt.datetime(2020, 1, 1, 10, 0), "click"),
        (2, 10, dt.datetime(2020, 1, 1, 10, 30), "purchase"),  # in window
        (3, 10, dt.datetime(2020, 1, 1, 12, 0), "purchase"),   # too late
        (4, 11, dt.datetime(2020, 1, 1, 10, 10), "purchase"),  # other user
        (5, 11, dt.datetime(2020, 1, 1, 10, 0), "click"),
        (6, 11, dt.datetime(2020, 1, 1, 10, 5), "purchase"),   # in window
        (7, 12, dt.datetime(2020, 1, 1, 9, 0), "purchase"),    # before click
        (8, 12, dt.datetime(2020, 1, 1, 9, 30), "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    path = str(tmp_path / "ivj_in")
    df.repartition(2).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = _run(
        spark,
        stream_interval_join(
            stream,
            "ts",
            "user_id",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
            max_lag="1 hour",
            left_prefix="click",
            right_prefix="purchase",
        ),
        "t_ivj",
        "append",
    )
    got = sorted(
        (r.click_id, r.purchase_id, r.lag_seconds) for r in out.collect()
    )
    # user 10: click 1 -> purchase 2 (1800s); user 11: click 5 -> both
    # purchase 4 (600s) and 6 (300s); user 12: purchase precedes click
    assert got == [(1, 2, 1800), (5, 4, 600), (5, 6, 300)]


def test_stream_hll_registers_match_batch(spark, tmp_path):
    """The streaming register table (complete mode) must equal the
    batch register table on the same data — MAX-aggregated state is
    the sketch itself, so the streaming estimate inherits batch
    equality through hll_estimate_from_registers."""
    from paqarin_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from paqarin_spark.streaming import stream_hll_registers

    df = spark.range(5000).select(
        (F.col("id") % 700).cast("string").alias("k")
    )
    path = str(tmp_path / "hll_in")
    df.repartition(4).write.parquet(path)

    batch_regs = hll_registers(spark.read.parquet(path), "k", p=10)
    stream = spark.readStream.schema("k string").parquet(path)
    out = _run(
        spark,
        stream_hll_registers(stream, "k", p=10),
        "st_hll_regs",
        "complete",
    )
    assert out.exceptAll(batch_regs).count() == 0
    assert batch_regs.exceptAll(out).count() == 0
    est = hll_estimate_from_registers(out, p=10).first()["n_distinct_est"]
    assert est == pytest.approx(700, rel=0.1)


def test_stream_count_min_matches_batch_counters(spark, tmp_path):
    """Streaming counters (complete mode) must equal the batch counter
    table — SUM-aggregated state is the sketch."""
    from paqarin_spark.operators.sketch import count_min_counters
    from paqarin_spark.streaming import stream_count_min

    df = spark.range(3000).select(
        (F.col("id") % 40).cast("string").alias("k")
    )
    path = str(tmp_path / "cm_in")
    df.repartition(4).write.parquet(path)

    batch = count_min_counters(spark.read.parquet(path), "k", depth=4, width=64)
    stream = spark.readStream.schema("k string").parquet(path)
    out = _run(
        spark, stream_count_min(stream, "k", depth=4, width=64),
        "st_cm", "complete",
    )
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0
    assert out.count() <= 4 * 64


def _run_checkpointed(spark, stream_df, name: str, ckpt: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_hll_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill the HLL streaming query after the first batch of files,
    add more data, restart from the SAME checkpoint: availableNow only
    replays the NEW files, so the final register table equals the
    full-data batch sketch ONLY if the register state was durably
    recovered from the state store — bounded state is proven
    elsewhere; this pins durable state."""
    from paqarin_spark.operators.sketch import hll_registers
    from paqarin_spark.streaming import stream_hll_registers

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    part1 = spark.range(0, 2500).select((F.col("id") % 700).cast("string").alias("k"))
    part2 = spark.range(2500, 5000).select(
        (F.col("id") % 300 + 1000).cast("string").alias("k")  # disjoint keys
    )
    part1.repartition(2).write.mode("append").parquet(path)

    stream = spark.readStream.schema("k string").parquet(path)
    _run_checkpointed(spark, stream_hll_registers(stream, "k", p=10), "st_hll_r1", ckpt)

    part2.repartition(2).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema("k string").parquet(path)
    out = _run_checkpointed(
        spark, stream_hll_registers(stream2, "k", p=10), "st_hll_r2", ckpt
    )
    full_batch = hll_registers(spark.read.parquet(path), "k", p=10)
    # precondition: part2 alone gives a DIFFERENT sketch, so equality
    # below can only come from recovered part1 state
    part2_only = hll_registers(part2, "k", p=10)
    assert full_batch.exceptAll(part2_only).count() > 0
    assert out.exceptAll(full_batch).count() == 0
    assert full_batch.exceptAll(out).count() == 0


def test_stream_count_min_state_survives_checkpoint_restart(spark, tmp_path):
    """Same durable-state pin for the count-min counter table: the
    restarted query sees only new files, so counter totals equal the
    full batch counters only via state-store recovery."""
    from paqarin_spark.operators.sketch import count_min_counters
    from paqarin_spark.streaming import stream_count_min

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    part1 = spark.range(0, 1500).select((F.col("id") % 40).cast("string").alias("k"))
    part2 = spark.range(1500, 3000).select((F.col("id") % 60).cast("string").alias("k"))
    part1.repartition(2).write.mode("append").parquet(path)

    stream = spark.readStream.schema("k string").parquet(path)
    _run_checkpointed(
        spark, stream_count_min(stream, "k", depth=4, width=64), "st_cm_r1", ckpt
    )

    part2.repartition(2).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema("k string").parquet(path)
    out = _run_checkpointed(
        spark, stream_count_min(stream2, "k", depth=4, width=64), "st_cm_r2", ckpt
    )
    batch = count_min_counters(spark.read.parquet(path), "k", depth=4, width=64)
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0
    # total mass = depth × total rows over BOTH parts — part2 alone would halve it
    total = out.agg(F.sum("counter").alias("s")).first()["s"]
    assert total == 4 * 3000


def test_stream_quantile_sketch_matches_batch(spark, tmp_path):
    """The streaming bottom-k state (latest version per group) must
    equal the batch quantile sketch of the same data — the fold is the
    same union + re-top-k merge, so equality is by construction."""
    from paqarin_spark.operators.sketch import quantile_sketch
    from paqarin_spark.streaming import (
        latest_sketch_version,
        stream_quantile_sketch,
    )

    df = spark.range(4000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 2).cast("string").alias("g"),
        (F.pmod(F.hash("id"), F.lit(900)) / 3.0).alias("v"),
    )
    path = str(tmp_path / "qs_in")
    df.repartition(4).write.parquet(path)

    stream = spark.readStream.schema(
        "event_id long, g string, v double"
    ).parquet(path)
    out = _run(
        spark,
        stream_quantile_sketch(
            stream, "v", ["event_id"], k=32, group_by=["g"]
        ),
        "st_qs", "append",
    )
    final = latest_sketch_version(out, ["g"])
    batch = quantile_sketch(
        spark.read.parquet(path), "v", ["event_id"], k=32, group_by=["g"]
    )
    a = sorted((r["g"], r["_rk"], r["value"]) for r in final.collect())
    b = sorted((r["g"], r["_rk"], r["value"]) for r in batch.collect())
    assert a == b
    assert len(a) == 64  # bounded: 2 groups x k


def test_stream_quantile_sketch_state_survives_checkpoint_restart(
    spark, tmp_path
):
    """applyInPandasWithState state-store recovery: restart from the
    checkpoint sees only new files, so final == full-data batch sketch
    only if the bottom-k state survived (disjoint-id precondition)."""
    from paqarin_spark.operators.sketch import quantile_sketch
    from paqarin_spark.streaming import (
        latest_sketch_version,
        stream_quantile_sketch,
    )

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, g string, v double"

    def part(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            F.lit("x").alias("g"),
            (F.pmod(F.hash("id"), F.lit(500)) * 1.0).alias("v"),
        )

    out_dir = str(tmp_path / "out")
    part(0, 1500).repartition(2).write.mode("append").parquet(path)
    sk = lambda s: stream_quantile_sketch(  # noqa: E731
        s, "v", ["event_id"], k=32, group_by=["g"]
    )

    def run_to_files(stream_df):
        # memory sink rejects append-mode recovery; the parquet sink
        # is the fault-tolerant one
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    stream1 = spark.readStream.schema(schema).parquet(path)
    run_to_files(sk(stream1))

    part(1500, 3000).repartition(2).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema(schema).parquet(path)
    run_to_files(sk(stream2))

    # the sink dir holds BOTH runs' emissions; the max-version rows
    # must reproduce the full-data batch sketch, which requires the
    # bottom-k state to have survived the restart
    final = latest_sketch_version(spark.read.parquet(out_dir), ["g"])
    batch = quantile_sketch(
        spark.read.parquet(path), "v", ["event_id"], k=32, group_by=["g"]
    )
    a = sorted((r["_rk"], r["value"]) for r in final.collect())
    b = sorted((r["_rk"], r["value"]) for r in batch.collect())
    # precondition: part2 alone gives a different bottom-k
    p2 = quantile_sketch(part(1500, 3000), "v", ["event_id"], k=32, group_by=["g"])
    c = sorted((r["_rk"], r["value"]) for r in p2.collect())
    assert c != b
    assert a == b



def test_stream_cohort_rebases_on_out_of_order_first_event(spark, tmp_path):
    import datetime as dt

    from paqarin_spark.streaming import (
        cohort_retention_from_emissions,
        stream_cohort_offsets,
    )

    # Batch 1 carries user 1's LATER activity (days 10, 24); batch 2
    # delivers the true first event (day 1). The cohort anchor moves
    # by 9 days — NOT a multiple of 7 — so both existing offsets must
    # be recomputed (day10: (10-1)//7=1, day24: 3), which a
    # state-of-offsets design cannot do. User 2 is single-batch
    # control.
    base = dt.datetime(2024, 1, 1)
    b1 = [(1, base + dt.timedelta(days=10)), (1, base + dt.timedelta(days=24)),
          (2, base)]
    b2 = [(1, base + dt.timedelta(days=1)), (2, base + dt.timedelta(days=7))]
    schema = "user_id long, ts timestamp"
    path = str(tmp_path / "cohort_mb")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(path)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    emi = _run(
        spark, stream_cohort_offsets(stream), "cohort_mb", "append"
    )
    got = cohort_retention_from_emissions(emi).collect()

    # user 1 cohort 2024-01-02: offsets {0 (day1), 1 (day10), 3 (day24)}
    # user 2 cohort 2024-01-01: offsets {0, 1}
    expect = {
        ("2024-01-01", 0, 1, 1, 1.0),
        ("2024-01-01", 1, 1, 1, 1.0),
        ("2024-01-02", 0, 1, 1, 1.0),
        ("2024-01-02", 1, 1, 1, 1.0),
        ("2024-01-02", 3, 1, 1, 1.0),
    }
    assert {tuple(r) for r in got} == expect

    # versions: user 1 re-published (2 versions), user 2 likewise
    # (its day-7 offset arrived in batch 2); max-version rows carry
    # the CORRECTED full set
    v = {r["user_id"]: r["mx"] for r in emi.groupBy("user_id")
         .agg(F.max("version").alias("mx")).collect()}
    assert v[1] == 2 and v[2] == 2


def test_stream_cohort_keeps_days_whose_offset_was_already_present(
    spark, tmp_path
):
    """A day whose week offset the state already holds must still be
    stored: day 16 lands in offset 0 next to day 10 and publishes
    nothing, but when day 9 later rebases the cohort, (16-9)//7 = 1 —
    an offset that exists only if day 16 was kept."""
    import datetime as dt

    from paqarin_spark.streaming import (
        cohort_retention_from_emissions,
        stream_cohort_offsets,
    )

    base = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp"
    path = str(tmp_path / "cohort_days")
    for day in (10, 16, 9):
        spark.createDataFrame(
            [(1, base + dt.timedelta(days=day))], schema
        ).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    emi = _run(
        spark, stream_cohort_offsets(stream), "cohort_days", "append"
    )
    got = {tuple(r) for r in cohort_retention_from_emissions(emi).collect()}
    assert got == {
        ("2024-01-10", 0, 1, 1, 1.0),
        ("2024-01-10", 1, 1, 1, 1.0),
    }
    # day 16 changed no derived offset, so it published no version
    assert emi.agg(F.max("version")).first()[0] == 2


def test_stateful_emission_schemas_are_pinned(spark, tmp_path):
    """Every versioned stateful operator's emission schema — names,
    types, nullability — is part of its contract with the finishers
    and with sinks that outlive a restart. Built over an int-keyed
    file stream, so a key type taken from the input would show."""
    from paqarin_spark.streaming import (
        stream_bin_counts,
        stream_classify_counts,
        stream_cohort_offsets,
        stream_ewma_anomaly,
        stream_group_topk,
        stream_key_counts,
        stream_latest_per_key,
        stream_phrase_hits,
        stream_quantile_sketch,
        stream_view_rollup,
    )

    schema = (
        "user_id int, ts timestamp, event_id long, value double, "
        "event_type string, text string"
    )
    path = str(tmp_path / "pin")
    spark.createDataFrame([], schema).write.parquet(path)
    s = spark.readStream.schema(schema).parquet(path)
    scoring = {
        "labels": ["a", "b"],
        "prior": {"a": 0, "b": 0},
        "terms": {"x": {"a": 1, "b": 0}},
    }
    built = {
        "quantile_sketch": stream_quantile_sketch(
            s, "value", ["event_id"], group_by=["event_type"]
        ),
        "cohort_offsets": stream_cohort_offsets(s),
        "view_rollup": stream_view_rollup(s),
        "latest_per_key": stream_latest_per_key(s),
        "group_topk": stream_group_topk(s, "event_type", "value", "event_id"),
        "classify_counts": stream_classify_counts(s, scoring),
        "ewma_anomaly": stream_ewma_anomaly(s),
        "phrase_hits": stream_phrase_hits(s, "text", ["red fox"]),
        "key_counts": stream_key_counts(s, "event_type"),
        "bin_counts": stream_bin_counts(s, "value", [0.0, 1.0]),
    }
    got = {
        name: [(f.name, f.dataType.simpleString(), f.nullable)
               for f in df.schema]
        for name, df in built.items()
    }
    assert all(df.isStreaming for df in built.values())
    assert got == EMISSION_SCHEMAS


EMISSION_SCHEMAS = {
    "quantile_sketch": [
        ("event_type", "string", True),
        ("version", "bigint", False),
        ("_rk", "bigint", False),
        ("value", "double", True),
    ],
    "cohort_offsets": [
        ("user_id", "bigint", True),
        ("version", "bigint", False),
        ("cohort_epoch_day", "bigint", False),
        ("week_offset", "bigint", False),
    ],
    "view_rollup": [
        ("user_id", "bigint", True),
        ("version", "bigint", False),
        ("n_events", "bigint", False),
        ("sum_dec", "string", True),
        ("last_ts_us", "bigint", True),
    ],
    "latest_per_key": [
        ("k", "bigint", True),
        ("version", "bigint", False),
        ("last_ts_us", "bigint", True),
        ("last_id", "bigint", True),
        ("last_value", "double", True),
    ],
    "group_topk": [
        ("g", "string", True),
        ("version", "bigint", False),
        ("rank", "bigint", False),
        ("id", "bigint", False),
        ("value", "double", True),
    ],
    "classify_counts": [
        ("label", "string", True),
        ("version", "bigint", False),
        ("n_docs", "bigint", False),
    ],
    "ewma_anomaly": [
        ("user_id", "bigint", True),
        ("version", "bigint", False),
        ("n_events", "bigint", False),
        ("n_anomalies", "bigint", False),
        ("n_late", "bigint", False),
        ("ewma_repr", "string", True),
    ],
    "phrase_hits": [
        ("phrase", "string", True),
        ("version", "bigint", False),
        ("n_hits", "bigint", False),
    ],
    "key_counts": [
        ("key", "string", True),
        ("version", "bigint", False),
        ("n", "bigint", False),
    ],
    "bin_counts": [
        ("bin", "int", True),
        ("version", "bigint", False),
        ("n", "bigint", False),
    ],
}


def test_stream_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """Left-outer mode: clicks with no purchase in the window emit a
    NULL-partner verdict once the watermark closes the window; a late
    sentinel row on each side pushes the watermark far enough that
    every real verdict flushes under availableNow."""
    from paqarin_spark.streaming import stream_interval_join

    rows = [
        (1, 10, dt.datetime(2020, 1, 1, 10, 0), "click"),
        (2, 10, dt.datetime(2020, 1, 1, 10, 30), "purchase"),   # match
        (3, 11, dt.datetime(2020, 1, 1, 10, 0), "click"),       # no match
        (4, 11, dt.datetime(2020, 1, 1, 12, 0), "purchase"),    # too late
        # watermark-advancing sentinels (outside the asserted region)
        (8, 99, dt.datetime(2020, 1, 10, 0, 0), "click"),
        (9, 99, dt.datetime(2020, 1, 10, 0, 0), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    path = str(tmp_path / "loj_in")
    df.repartition(2).write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    out = _run(
        spark,
        stream_interval_join(
            stream,
            "ts",
            "user_id",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
            max_lag="1 hour",
            watermark="1 hour",
            left_prefix="click",
            right_prefix="purchase",
            how="left_outer",
        ),
        "t_loj",
        "append",
    )
    got = sorted(
        (r.click_id, r.purchase_id)
        for r in out.where(F.col("user_id") < 99).collect()
    )
    assert got == [(1, 2), (3, None)]
    # outer mode exposes the left timestamp for closed-window filters
    assert "click_ts" in out.columns

    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_interval_join(
            stream, "ts", "user_id",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
            how="full_outer",
        )


def _run_checkpointed_append(spark, stream_df, out_dir: str, ckpt: str):
    # memory sink rejects append-mode recovery; parquet is the
    # fault-tolerant sink
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out_dir)


def test_stream_view_rollup_state_survives_checkpoint_restart(spark, tmp_path):
    """Durable-state pin for the incremental-view rollup: the restarted
    query replays only NEW files (including out-of-order timestamps
    and negative/NULL values), so the finished view can equal the
    batch full recompute only if the per-user running aggregates were
    recovered from the state store."""
    from paqarin_spark.streaming import stream_view_rollup, view_from_emissions

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    part1 = spark.range(0, 100).select(
        (F.col("id") % 10).alias("user_id"),
        F.timestamp_micros(
            F.lit(1700000000_000000) + F.col("id") * 60_000_000
        ).alias("ts"),
        (F.col("id") * 0.25 - 3.0).alias("value"),
    )
    # part2: EARLIER timestamps than part1's tail plus a NULL value
    part2 = spark.range(100, 200).select(
        (F.col("id") % 10).alias("user_id"),
        F.timestamp_micros(
            F.lit(1700000000_000000) + (F.col("id") - 150) * 60_000_000
        ).alias("ts"),
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("id") * -0.125)
        .alias("value"),
    )
    part1.repartition(2).write.mode("append").parquet(path)
    schema = "user_id long, ts timestamp, value double"

    out_dir = str(tmp_path / "out")
    stream = spark.readStream.schema(schema).parquet(path)
    _run_checkpointed_append(
        spark, stream_view_rollup(stream), out_dir, ckpt
    )

    part2.repartition(2).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema(schema).parquet(path)
    emi = _run_checkpointed_append(
        spark, stream_view_rollup(stream2), out_dir, ckpt
    )
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["last_seen"])
        for r in view_from_emissions(emi).collect()
    }
    batch = spark.read.parquet(path).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 6
        ).alias("sum_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
    )
    want = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["last_seen"])
        for r in batch.collect()
    }
    assert got == want
    assert all(n == 20 for n, _, _ in got.values())


def test_stream_latest_per_key_survives_restart_and_out_of_order(spark, tmp_path):
    """Last-write-wins state: the restart replays only new files whose
    timestamps are EARLIER for some keys — the cache must keep the
    round-1 winner for those and only advance where the new data
    genuinely wins."""
    from paqarin_spark.streaming import (
        latest_from_emissions,
        stream_latest_per_key,
    )

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    schema = "event_id long, user_id long, ts timestamp, value double"
    part1 = spark.range(0, 40).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 4).alias("user_id"),
        F.timestamp_micros(
            F.lit(1700000000_000000) + F.col("id") * 1_000_000
        ).alias("ts"),
        (F.col("id") * 1.5).alias("value"),
    )
    # part2: users 0/1 get OLDER events (losers); users 2/3 newer
    part2 = spark.range(100, 140).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 4).alias("user_id"),
        F.timestamp_micros(
            F.lit(1700000000_000000)
            + F.when(F.col("id") % 4 < 2, F.col("id") - 200).otherwise(
                F.col("id")
            )
            * 1_000_000
        ).alias("ts"),
        (F.col("id") * -2.0).alias("value"),
    )
    part1.repartition(2).write.mode("append").parquet(path)
    stream = spark.readStream.schema(schema).parquet(path)
    _run_checkpointed_append(
        spark, stream_latest_per_key(stream), out_dir, ckpt
    )
    part2.repartition(2).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema(schema).parquet(path)
    emi = _run_checkpointed_append(
        spark, stream_latest_per_key(stream2), out_dir, ckpt
    )
    got = {
        r["k"]: (r["last_id"], r["last_value"])
        for r in latest_from_emissions(emi).collect()
    }
    batch = spark.read.parquet(path)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r["user_id"]: (r["event_id"], round(r["value"], 6))
        for r in batch.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .collect()
    }
    assert got == want
    assert got[0][0] < 100 and got[2][0] >= 100  # losers kept, winners advanced


def test_stream_view_rollup_all_null_user_sums_to_null(spark, tmp_path):
    """SQL SUM over zero non-NULL inputs is NULL, not 0 — a user whose
    every value is NULL must finish with sum_value NULL to match the
    batch GROUP BY oracle."""
    from paqarin_spark.streaming import stream_view_rollup, view_from_emissions

    path = str(tmp_path / "in")
    df = spark.range(6).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 2).alias("user_id"),
        F.timestamp_micros(F.lit(1700000000_000000) + F.col("id")).alias("ts"),
        F.when(F.col("id") % 2 == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(2.5))
        .alias("value"),
    )
    df.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).parquet(path)
    q = (
        stream_view_rollup(stream)
        .writeStream.format("memory")
        .queryName("st_view_nulls")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in view_from_emissions(spark.table("st_view_nulls")).collect()
    }
    assert got == {0: (3, None), 1: (3, 7.5)}


def test_stream_group_topk_evicts_and_survives_restart(spark, tmp_path):
    """Leaderboard state: round 2 delivers a higher value for one group
    (evicts the minimum) and only losers for another (board unchanged,
    version steady) — final boards equal the batch window rank."""
    from paqarin_spark.streaming import (
        leaderboard_from_emissions,
        stream_group_topk,
    )

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    schema = "g string, v double, i long"
    part1 = spark.createDataFrame(
        [("a", 5.0, 1), ("a", 4.0, 2), ("a", 3.0, 3),
         ("b", 9.0, 4), ("b", 8.0, 5), ("b", 7.0, 6)],
        schema,
    )
    part2 = spark.createDataFrame(
        [("a", 6.0, 7),          # evicts a's 3.0
         ("b", 1.0, 8)],         # loser: b unchanged
        schema,
    )
    part1.write.mode("append").parquet(path)
    mk = lambda s: stream_group_topk(  # noqa: E731
        s, key_column="g", value_column="v", id_column="i", k=3
    )
    stream = spark.readStream.schema(schema).parquet(path)
    _run_checkpointed_append(spark, mk(stream), out_dir, ckpt)
    part2.write.mode("append").parquet(path)
    stream2 = spark.readStream.schema(schema).parquet(path)
    emi = _run_checkpointed_append(spark, mk(stream2), out_dir, ckpt)
    got = sorted(
        (r["g"], r["rank"], r["id"], r["value"])
        for r in leaderboard_from_emissions(emi).collect()
    )
    assert got == [
        ("a", 1, 7, 6.0), ("a", 2, 1, 5.0), ("a", 3, 2, 4.0),
        ("b", 1, 4, 9.0), ("b", 2, 5, 8.0), ("b", 3, 6, 7.0),
    ]


def test_stream_group_topk_row_semantics_and_id_guard(spark, tmp_path):
    """Duplicate ids are ranking ROWS (window-rank semantics), not
    upsert keys: two rows sharing an id can both hold board slots.
    Non-integral id columns are rejected loudly."""
    from paqarin_spark.streaming import (
        leaderboard_from_emissions,
        stream_group_topk,
    )

    path = str(tmp_path / "in")
    schema = "g string, v double, i long"
    spark.createDataFrame(
        [("a", 9.0, 1), ("a", 2.0, 1), ("a", 5.0, 2)], schema
    ).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(schema).parquet(path)
    q = (
        stream_group_topk(stream, "g", "v", "i", k=3)
        .writeStream.format("memory")
        .queryName("st_topk_rows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["rank"], r["id"], r["value"])
        for r in leaderboard_from_emissions(
            spark.table("st_topk_rows")
        ).collect()
    )
    assert got == [(1, 1, 9.0), (2, 2, 5.0), (3, 1, 2.0)]

    import pytest

    sstr = spark.readStream.schema("g string, v double, i string").parquet(
        path
    )
    with pytest.raises(ValueError, match="integral"):
        stream_group_topk(sstr, "g", "v", "i", k=3)


def test_stream_classify_counts_restart_and_batch_parity(spark, tmp_path):
    """Streaming NB classification: the bounded scoring table routes
    planted-vocabulary docs correctly, per-class counts accumulate
    across a checkpoint restart (state recovered, only new files
    replayed), and the finished counts equal the batch
    classify-and-group answer."""
    from paqarin_spark.operators.classify import (
        compile_scoring_table,
        naive_bayes_fit,
    )
    from paqarin_spark.streaming import (
        class_counts_from_emissions,
        stream_classify_counts,
    )

    train = spark.createDataFrame(
        [
            (1, "sv", "stream watermark state stream"),
            (2, "sv", "state stream watermark"),
            (3, "bt", "shuffle partition codegen"),
            (4, "bt", "codegen shuffle partition shuffle"),
        ],
        "doc_id long, label string, text string",
    )
    model = naive_bayes_fit(train, "text", "label")
    scoring = compile_scoring_table(model, n_features=4)
    # selection is REAL: only 4 of the 6 content tokens survive
    assert len(scoring["terms"]) == 4

    path = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    schema = "doc_id long, text string"
    part1 = spark.createDataFrame(
        [(10, "stream state"), (11, "shuffle codegen"), (12, "stream")],
        schema,
    )
    part1.repartition(2).write.mode("append").parquet(path)
    stream = spark.readStream.schema(schema).parquet(path)
    _run_checkpointed_append(
        spark, stream_classify_counts(stream, scoring), out_dir, ckpt
    )
    part2 = spark.createDataFrame(
        [(13, "partition partition"), (14, "watermark stream"),
         (15, "???")],  # zero tokens -> prior argmax (tie -> 'bt')
        schema,
    )
    part2.repartition(2).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema(schema).parquet(path)
    emi = _run_checkpointed_append(
        spark, stream_classify_counts(stream2, scoring), out_dir, ckpt
    )
    got = {
        r["label"]: r["n_docs"]
        for r in class_counts_from_emissions(emi).collect()
    }
    # sv: 10, 12, 14; bt: 11, 13, and 15 (prior tie, label asc)
    assert got == {"sv": 3, "bt": 3}


def test_stream_ewma_anomaly_restart_matches_single_pass(spark, tmp_path):
    """Order-dependent state pin: a restart that replays only the
    LATER half (per-key event-time order respected across the split)
    must land on the same EWMA/anomaly counts as one single-batch
    pass — only possible if the exact double and the (ts, id)
    high-water mark were recovered from the state store."""
    from paqarin_spark.streaming import (
        ewma_from_emissions,
        stream_ewma_anomaly,
    )

    def part(lo, hi):
        # per-user series with a planted spike at every 9th step
        return spark.range(lo, hi).select(
            (F.col("id") % 4).alias("user_id"),
            F.timestamp_micros(
                F.lit(1700000000_000000) + F.col("id") * 60_000_000
            ).alias("ts"),
            F.col("id").alias("event_id"),
            F.when(F.col("id") % 9 == 0, F.lit(500.0))
            .otherwise((F.col("id") % 40) * 1.0)
            .alias("value"),
        )

    schema = "user_id long, ts timestamp, event_id long, value double"
    split_dir = str(tmp_path / "split")
    full_dir = str(tmp_path / "full")
    part(0, 60).repartition(1).write.mode("append").parquet(split_dir)
    part(0, 120).repartition(1).write.mode("append").parquet(full_dir)

    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    s1 = spark.readStream.schema(schema).parquet(split_dir)
    _run_checkpointed_append(
        spark, stream_ewma_anomaly(s1, warmup=3, threshold=90.0),
        out_dir, ckpt,
    )
    part(60, 120).repartition(1).write.mode("append").parquet(split_dir)
    s2 = spark.readStream.schema(schema).parquet(split_dir)
    emi = _run_checkpointed_append(
        spark, stream_ewma_anomaly(s2, warmup=3, threshold=90.0),
        out_dir, ckpt,
    )
    got = {
        r["user_id"]: (r["n_events"], r["n_anomalies"], r["n_late"],
                       r["ewma"])
        for r in ewma_from_emissions(emi).collect()
    }

    ckpt2, out2 = str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    sf = spark.readStream.schema(schema).parquet(full_dir)
    emi_full = _run_checkpointed_append(
        spark, stream_ewma_anomaly(sf, warmup=3, threshold=90.0),
        out2, ckpt2,
    )
    want = {
        r["user_id"]: (r["n_events"], r["n_anomalies"], r["n_late"],
                       r["ewma"])
        for r in ewma_from_emissions(emi_full).collect()
    }
    assert got == want
    assert all(n == 30 for n, _, _, _ in got.values())
    assert sum(a for _, a, _, _ in got.values()) > 0  # spikes flagged
    assert all(late == 0 for _, _, late, _ in got.values())


def test_stream_ewma_anomaly_drops_and_counts_late_rows(spark, tmp_path):
    """The ordering contract's teeth: a second batch whose rows sit at
    or below the key's (ts, event_id) high-water mark is dropped from
    the fold (EWMA unchanged) and surfaced in n_late — the watermark
    analogy, counted rather than silent."""
    import pytest

    from paqarin_spark.streaming import (
        ewma_from_emissions,
        stream_ewma_anomaly,
    )

    schema = "user_id long, ts timestamp, event_id long, value double"
    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    fresh = spark.createDataFrame(
        [(1, 1_000_000, 10, 4.0), (1, 2_000_000, 11, 8.0)],
        "user_id long, us long, event_id long, value double",
    ).select(
        "user_id", F.timestamp_micros("us").alias("ts"), "event_id", "value"
    )
    fresh.repartition(1).write.mode("append").parquet(path)
    s1 = spark.readStream.schema(schema).parquet(path)
    _run_checkpointed_append(
        spark, stream_ewma_anomaly(s1), out_dir, ckpt
    )
    late = spark.createDataFrame(
        [(1, 1_500_000, 5, 999.0), (1, 2_000_000, 11, 999.0),
         (1, 3_000_000, 12, 6.0)],
        "user_id long, us long, event_id long, value double",
    ).select(
        "user_id", F.timestamp_micros("us").alias("ts"), "event_id", "value"
    )
    late.repartition(1).write.mode("append").parquet(path)
    s2 = spark.readStream.schema(schema).parquet(path)
    emi = _run_checkpointed_append(
        spark, stream_ewma_anomaly(s2), out_dir, ckpt
    )
    row = ewma_from_emissions(emi).collect()[0]
    # fold saw 4.0, 8.0, 6.0; the two late rows (ts below HWM; dup id)
    # never touched the EWMA: ((4*.75+8*.25)... s=4 -> 5.0 -> 5.25
    assert (row["n_events"], row["n_late"]) == (3, 2)
    assert row["ewma"] == pytest.approx(0.75 * (0.75 * 4.0 + 0.25 * 8.0) + 0.25 * 6.0)

    with pytest.raises(ValueError, match="warmup"):
        stream_ewma_anomaly(s2, warmup=-1)


def test_stream_phrase_hits_restart_matches_batch(spark, tmp_path):
    """Blocklist counter state survives a checkpoint restart: counts
    after two file batches equal the batch bigram counts over the
    union, zero-hit phrases appear via the finisher, and only
    blocklist grams reach state."""
    import pytest

    from paqarin_spark.operators import blocklist_phrase_hits
    from paqarin_spark.streaming import (
        phrase_hits_from_emissions,
        stream_phrase_hits,
    )

    blk = ["red fox", "lazy dog", "ghost phrase"]
    part1 = spark.createDataFrame(
        [(1, "the red fox met the lazy dog"), (2, "red fox red fox")],
        "doc_id long, text string",
    )
    part2 = spark.createDataFrame(
        [(3, "one more lazy dog here")], "doc_id long, text string"
    )
    path, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    schema = "doc_id long, text string"
    part1.repartition(1).write.mode("append").parquet(path)
    s1 = spark.readStream.schema(schema).parquet(path)
    _run_checkpointed_append(
        spark, stream_phrase_hits(s1, "text", blk), out_dir, ckpt
    )
    part2.repartition(1).write.mode("append").parquet(path)
    s2 = spark.readStream.schema(schema).parquet(path)
    emi = _run_checkpointed_append(
        spark, stream_phrase_hits(s2, "text", blk), out_dir, ckpt
    )
    got = {
        r["phrase"]: r["n_hits"]
        for r in phrase_hits_from_emissions(emi, blk).collect()
    }
    assert got == {"red fox": 3, "lazy dog": 2, "ghost phrase": 0}
    batch = {
        r["phrase"]: r["n_hits"]
        for r in blocklist_phrase_hits(
            spark.read.parquet(path), "text", "doc_id", blk
        ).collect()
    }
    assert got == batch
    with pytest.raises(ValueError, match="non-empty"):
        stream_phrase_hits(s2, "text", [])


def test_stream_ewma_anomaly_drops_null_cast_keys(spark, tmp_path):
    """ADVICE r8: a non-numeric key casts to NULL in staging; without
    the post-cast filter every such key collapses into ONE shared
    NULL-key state row, interleaving unrelated series through the
    order-dependent fold. Dirty keys must vanish; clean numeric-string
    keys fold normally."""
    from paqarin_spark.streaming import (
        ewma_from_emissions,
        stream_ewma_anomaly,
    )

    schema = "user_id string, ts timestamp, event_id long, value double"
    path = str(tmp_path / "in")
    spark.createDataFrame(
        [("7", 1_000_000, 1, 4.0), ("abc", 2_000_000, 2, 8.0),
         ("7", 3_000_000, 3, 8.0), ("", 4_000_000, 4, 9.0)],
        "user_id string, us long, event_id long, value double",
    ).select(
        "user_id", F.timestamp_micros("us").alias("ts"), "event_id", "value"
    ).repartition(1).write.mode("append").parquet(path)
    s = spark.readStream.schema(schema).parquet(path)
    emi = _run_checkpointed_append(
        spark, stream_ewma_anomaly(s),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    rows = ewma_from_emissions(emi).collect()
    assert {r["user_id"] for r in rows} == {7}  # NULL-cast keys dropped
    assert rows[0]["n_events"] == 2
    assert rows[0]["ewma"] == 0.75 * 4.0 + 0.25 * 8.0


def test_stream_bin_counts_state_survives_checkpoint_restart(spark, tmp_path):
    """Durable-state pin for the DEPLOYED-DUAL monitor family (st21's
    operator): kill the stream_bin_counts query after the first batch
    of files, append more, restart from the SAME checkpoint — the
    restarted applyInPandasWithState run replays only NEW files, so
    the finished histogram can equal the full-data batch histogram
    only if every bin's running count was recovered from the state
    store. Clean-run parity was already proven (st21 hash-matches
    ev27); this adds the mid-stream-kill leg the round-9 verdict
    asked for."""
    from paqarin_spark.streaming import (
        bin_counts_from_emissions,
        stream_bin_counts,
    )

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    edges = [100.0, 250.0, 400.0]

    def part(lo, hi):
        return spark.range(lo, hi).select(
            (F.pmod(F.hash("id"), F.lit(500)) * 1.0).alias("value")
        )

    part(0, 2000).repartition(2).write.mode("append").parquet(path)
    stream1 = spark.readStream.schema("value double").parquet(path)
    _run_checkpointed_append(
        spark, stream_bin_counts(stream1, "value", edges), out_dir, ckpt
    )

    part(2000, 4000).repartition(2).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema("value double").parquet(path)
    emi = _run_checkpointed_append(
        spark, stream_bin_counts(stream2, "value", edges), out_dir, ckpt
    )

    final = {
        r["bin"]: r["n"]
        for r in bin_counts_from_emissions(emi, len(edges) + 1).collect()
    }
    bin_expr = sum(
        (F.col("value") > F.lit(e)).cast("int") for e in edges
    )
    batch = {
        r["bin"]: r["n"]
        for r in spark.read.parquet(path)
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    p2_only = {
        r["bin"]: r["n"]
        for r in part(2000, 4000)
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # precondition: the second batch alone is NOT the full histogram,
    # so equality below can only come from recovered counter state
    assert p2_only != batch
    for b in range(len(edges) + 1):
        assert final[b] == batch.get(b, 0), (b, final, batch)


def test_stream_key_counts_state_survives_checkpoint_restart(spark, tmp_path):
    """Durable-state pin for st25's operator (the categorical twin of
    the bin-counts test above): kill the stream_key_counts query after
    the first batch of files, append more, restart from the SAME
    checkpoint — the finished histogram equals the full-data batch
    GROUP BY only if every key's running count was recovered from the
    state store."""
    from paqarin_spark.streaming import (
        key_counts_from_emissions,
        stream_key_counts,
    )

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def part(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(
                F.lit("k"), F.pmod(F.hash("id"), F.lit(4)).cast("string")
            ).alias("event_type")
        )

    part(0, 2000).repartition(2).write.mode("append").parquet(path)
    stream1 = spark.readStream.schema("event_type string").parquet(path)
    _run_checkpointed_append(
        spark, stream_key_counts(stream1, "event_type"), out_dir, ckpt
    )

    part(2000, 4000).repartition(2).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema("event_type string").parquet(path)
    emi = _run_checkpointed_append(
        spark, stream_key_counts(stream2, "event_type"), out_dir, ckpt
    )

    final = {
        r["key"]: r["n"]
        for r in key_counts_from_emissions(emi).collect()
    }
    batch = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    p2_only = {
        r["event_type"]: r["n"]
        for r in part(2000, 4000)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert p2_only != batch
    assert final == batch


def test_stream_keep_first_dedup_survives_checkpoint_restart(spark, tmp_path):
    """Durable-state pin for the dropDuplicates operator class (st5's
    stream_keep_first): duplicates of part-1 keys that arrive ONLY in
    the restarted run must still be dropped, which requires the
    dedup key set to have survived the mid-stream kill in the state
    store. The survivor VALUE also proves first-wins order (part 1's
    value, not the restarted run's)."""
    import datetime as dtm

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    t0 = dtm.datetime(2020, 1, 1, 6)
    part1 = spark.createDataFrame(
        [("a", t0, 1.0), ("b", t0, 10.0)],
        "item_id string, ts timestamp, v double",
    )
    # part 2 re-sends BOTH part-1 keys with different values, plus one
    # genuinely new key
    part2 = spark.createDataFrame(
        [("a", t0, 99.0), ("b", t0, 88.0), ("c", t0, 3.0)],
        "item_id string, ts timestamp, v double",
    )
    part1.coalesce(1).write.mode("append").parquet(path)
    stream1 = spark.readStream.schema(
        "item_id string, ts timestamp, v double"
    ).parquet(path)
    _run_checkpointed_append(
        spark, stream_keep_first(stream1, SCHEMA), out_dir, ckpt
    )

    part2.coalesce(1).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema(
        "item_id string, ts timestamp, v double"
    ).parquet(path)
    out = _run_checkpointed_append(
        spark, stream_keep_first(stream2, SCHEMA), out_dir, ckpt
    )

    rows = {(r["item_id"]): r["v"] for r in out.collect()}
    assert out.count() == 3, out.collect()  # a, b survived once; c new
    assert rows == {"a": 1.0, "b": 10.0, "c": 3.0}, rows


def test_session_window_merges_at_exactly_gap(spark):
    """Pins Spark's session-window boundary rule the st3/st22 oracles
    depend on: two events EXACTLY `gap` apart MERGE (windows touch),
    one microsecond beyond breaks — so a gaps-and-islands oracle must
    break on strictly-greater gaps (`diff > gap`), never `>=` (the
    latent off-by-one the round-10 review caught in st22's first
    draft)."""
    import datetime as dtm

    from paqarin_spark.streaming import stream_sessions

    t0 = dtm.datetime(2020, 1, 1, 0, 0, 0)
    rows = [
        ("u", t0, 1.0),
        ("u", t0 + dtm.timedelta(hours=1), 2.0),  # exactly gap: merges
        (
            "u",
            t0 + dtm.timedelta(hours=2, microseconds=1),  # gap+1us: breaks
            4.0,
        ),
    ]
    df = spark.createDataFrame(rows, "item_id string, ts timestamp, v double")
    out = sorted(
        (r["n_events"], r["value_sum"])
        for r in stream_sessions(
            df, SCHEMA, gap="1 hour", value_column="v"
        ).collect()
    )
    assert out == [(1, 4.0), (2, 3.0)], out
    # and the window-close contract: end = last event + gap
    closed = stream_sessions(
        df, SCHEMA, gap="1 hour", value_column="v",
        end_at_window_close=True, exact_value_sum=True,
    ).collect()
    by_start = {r["session_start"]: r for r in closed}
    first = by_start[t0]
    assert first["session_end"] == t0 + dtm.timedelta(hours=2)
    assert first["value_sum"] == 3.0


def test_stream_sessions_state_survives_checkpoint_restart(spark, tmp_path):
    """Durable-state pin for the MERGING-window state class
    (session_window): a session left OPEN at the kill must absorb a
    post-restart event that falls within its gap — which requires the
    open-session state (bounds + running aggregates) to have been
    recovered — while a post-restart event beyond the gap opens a new
    session. Complete-mode final table equals the batch gaps-and-
    islands recompute of all files."""
    import datetime as dtm

    from paqarin_spark.streaming import stream_sessions

    path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    t0 = dtm.datetime(2020, 1, 1, 0, 0, 0)
    part1 = spark.createDataFrame(
        [("u", t0, 1.0), ("u", t0 + dtm.timedelta(minutes=30), 2.0)],
        "item_id string, ts timestamp, v double",
    )
    # within 1h of part1's last event -> must MERGE into the recovered
    # open session; the second row is >1h beyond -> new session
    part2 = spark.createDataFrame(
        [
            ("u", t0 + dtm.timedelta(minutes=80), 4.0),
            ("u", t0 + dtm.timedelta(minutes=300), 8.0),
        ],
        "item_id string, ts timestamp, v double",
    )
    part1.coalesce(1).write.mode("append").parquet(path)
    schema = "item_id string, ts timestamp, v double"
    stream1 = spark.readStream.schema(schema).parquet(path)
    _run_checkpointed(
        spark,
        stream_sessions(stream1, SCHEMA, gap="1 hour", value_column="v"),
        "st_sess_r1",
        ckpt,
    )
    part2.coalesce(1).write.mode("append").parquet(path)
    stream2 = spark.readStream.schema(schema).parquet(path)
    out = _run_checkpointed(
        spark,
        stream_sessions(stream2, SCHEMA, gap="1 hour", value_column="v"),
        "st_sess_r2",
        ckpt,
    )
    rows = sorted(
        (r["session_start"], r["n_events"], r["value_sum"])
        for r in out.collect()
    )
    assert rows == [
        (t0, 3, 7.0),  # part1's open session absorbed the 80-min event
        (t0 + dtm.timedelta(minutes=300), 1, 8.0),
    ], rows


def test_stream_state_partition_count_scales_with_input(spark, tmp_path):
    """The unbounded-key streaming partition derivation: floor at the
    session's core count for small inputs, byte-derived growth above
    the advisory size, explicit env override wins outright."""
    import os

    from paqarin_spark.plans.queries import _stream_state_partition_count

    sf_dir = str(tmp_path)
    with open(os.path.join(sf_dir, "events.parquet"), "wb") as fh:
        fh.write(b"x" * 1024)  # 1 KiB "table"
    cores = spark.sparkContext.defaultParallelism
    # tiny input -> the core floor, never fewer stores than cores
    assert (
        _stream_state_partition_count(spark, sf_dir, ("events",)) == cores
    )
    # missing table files contribute zero bytes (still the floor)
    assert (
        _stream_state_partition_count(spark, sf_dir, ("nope",)) == cores
    )
    # a table far above the advisory size grows ceil(bytes/advisory):
    # fake it by shrinking the advisory instead of writing gigabytes
    old = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
    )
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b")
        n = _stream_state_partition_count(spark, sf_dir, ("events",))
        assert n == max(cores, 1024), n
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", old)
    # deployment override pins the count exactly
    os.environ["PAQARIN_STREAM_STATE_PARTITIONS"] = "7"
    try:
        assert _stream_state_partition_count(spark, sf_dir, ("events",)) == 7
    finally:
        del os.environ["PAQARIN_STREAM_STATE_PARTITIONS"]

def test_stream_state_partition_count_dir_layout_and_env_validation(
    spark, tmp_path
):
    """ADVICE r12: a table stored as a parquet DIRECTORY must
    contribute its recursive file bytes (a dirent's ~4 KB getsize
    would collapse the count to the core floor at any scale), and the
    env override rejects non-integer / non-positive values loudly."""
    import os

    import pytest

    from paqarin_spark.plans.queries import _stream_state_partition_count

    sf_dir = str(tmp_path)
    d = os.path.join(sf_dir, "events.parquet")
    os.makedirs(os.path.join(d, "part=0"))
    with open(os.path.join(d, "part=0", "f0.parquet"), "wb") as fh:
        fh.write(b"x" * 600)
    with open(os.path.join(d, "f1.parquet"), "wb") as fh:
        fh.write(b"x" * 424)
    cores = spark.sparkContext.defaultParallelism
    old = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
    )
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b")
        n = _stream_state_partition_count(spark, sf_dir, ("events",))
        assert n == max(cores, 1024), n  # 600 + 424 summed recursively
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", old)
    for bad in ("zero", "0", "-3"):
        os.environ["PAQARIN_STREAM_STATE_PARTITIONS"] = bad
        try:
            with pytest.raises(ValueError, match="positive integer"):
                _stream_state_partition_count(spark, sf_dir, ("events",))
        finally:
            del os.environ["PAQARIN_STREAM_STATE_PARTITIONS"]
