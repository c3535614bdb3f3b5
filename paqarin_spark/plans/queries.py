"""The declared oracle query set (SURVEY.md §2.2) plus the north-star
LLM-pipeline queries, as (Spark callable, DuckDB oracle SQL) pairs.

Every Spark query is expressed through the paqarin_spark operator
surface; every oracle is ANSI-ish SQL DuckDB 1.0 runs on the same
parquet tables. Determinism rules (SURVEY.md §2.2): floats rounded
6dp (big sums are aggregated as DECIMAL for order-independent
exactness, then rounded), timestamps emitted as UTC strings, all
ordering tie-broken by explicit key columns.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from paqarin_spark.operators import (
    add_surrogate_key,
    asof_join,
    salted_join,
    calendar_fill,
    cosine_topk,
    exact_duplicates,
    forecast_horizon,
    keep_first,
    lsh_topk,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    range_point_join,
    session_stats,
    simhash,
    tail_trim,
    time_bucket_sum,
    window_starts,
)
from paqarin_spark.functions import is_weekend
from paqarin_spark.functions.text import (
    LANG_MARKERS,
    predict_language,
    text_stats,
)
from paqarin_spark.plans import tpch_families as tpch
from paqarin_spark.schema import EVENTS_SCHEMA
from paqarin_spark.session import configure_for_determinism
from paqarin_spark.sources import read_table, stream_table_glob

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _bounded_state_partitions(spark: SparkSession, n: int):
    """Cap ``spark.sql.shuffle.partitions`` for a streaming run whose
    stateful exchange holds a BOUNDED key set (global min/max = 1 key,
    a curated blocklist = |blocklist| keys). Stateful operators pin
    their partitioning from the session conf at query start; a
    128-way state exchange over ≤10 keys buys no parallelism at ANY
    scale — it pays 128 state-store instances and 128 Python workers
    per micro-batch for nothing (measured: st19 29s → 9s at sf0.1).
    Upstream stateless stages keep their scan parallelism; only the
    keyed exchange narrows. Restored afterwards, so batch plans in the
    same session are untouched."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _stream_state_partition_count(spark: SparkSession, sf_dir: str, tables) -> int:
    """Input-volume-derived state partition count for an UNBOUNDED-key
    streaming run: ``max(cores, ceil(input_bytes / advisory))``.

    Stateful operators pin their partitioning from
    ``spark.sql.shuffle.partitions`` at query start, so AQE's
    coalescing — which makes the session's full shuffle fanout
    harmless for batch plans over small inputs — never applies to a
    streaming exchange (optimization guide §2: make partitioning
    scale-adaptive, derive it from input size). Every state-store
    instance costs a per-micro-batch load/commit cycle whether or not
    it holds rows (measured on st8: 128 stores ≈ 26 s wall at sf0.1,
    8 stores ≈ 6.7 s, 2 stores ≈ 3.1 s — the commit overhead is per
    store, not per row), so the count must track data volume the same
    way AQE's post-shuffle partition sizing does:

    - floor = ``defaultParallelism`` (every core owns at least one
      store, on local[N] and on a cluster alike);
    - growth = input bytes / ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
      (64 MiB default) — at petabyte per-batch volumes the byte term
      dominates and yields the thousands of stores a real deployment
      runs with; at bench scale the floor wins.

    ``PAQARIN_STREAM_STATE_PARTITIONS`` overrides for deployments that
    pin an explicit count (state partition count is frozen into a
    checkpoint, so production jobs version it deliberately).
    """
    env = os.environ.get("PAQARIN_STREAM_STATE_PARTITIONS")
    if env:
        try:
            n = int(env)
        except ValueError:
            raise ValueError(
                "PAQARIN_STREAM_STATE_PARTITIONS must be a positive "
                f"integer, got {env!r}"
            ) from None
        if n <= 0:
            raise ValueError(
                "PAQARIN_STREAM_STATE_PARTITIONS must be a positive "
                f"integer, got {env!r}"
            )
        return n
    total = 0
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            # A parquet DIRECTORY's getsize is the ~4 KB dirent, which
            # would silently collapse the count to the core floor at
            # any scale — sum the tree's file sizes instead.
            for root, _dirs, files in os.walk(path):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.exists(path):
            total += os.path.getsize(path)
    advisory_str = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
    )
    advisory = int(
        spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            advisory_str
        )
    )
    cores = spark.sparkContext.defaultParallelism
    return max(cores, -(-total // max(advisory, 1)))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_determinism(spark)
    return read_table(spark, sf_dir, "events")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_determinism(spark)
    # spread=True: the text/dedup surface is map-heavy (tokenize,
    # shingle explode) and the single-row-group documents file would
    # otherwise run those stages on one core (sources.read_table).
    return read_table(spark, sf_dir, "documents", spread=True)


# --------------------------------------------------------------------------
# Q1 — surrogate key (op C1)


def q01_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op C1: first-appearance surrogate keys per entity (operators.keys.add_surrogate_key; reference paqarin/utils/data_utils.py:25-28)."""
    ev = _events(spark, sf_dir)
    keyed = add_surrogate_key(ev, ["user_id"], ["ts", "event_id"])
    return keyed.select(
        "event_id", "user_id", F.col("surrogate_item_id").cast("long").alias("surrogate_item_id")
    )


Q01_SQL = """
WITH rid AS (
  SELECT event_id, user_id,
         ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rid
  FROM events
), dim AS (
  SELECT user_id,
         ROW_NUMBER() OVER (ORDER BY MIN(rid)) - 1 AS surrogate_item_id
  FROM rid GROUP BY user_id
)
SELECT e.event_id, e.user_id, CAST(d.surrogate_item_id AS BIGINT) AS surrogate_item_id
FROM events e JOIN dim d USING (user_id)
ORDER BY e.event_id
"""


# --------------------------------------------------------------------------
# Q2 — daily resample-sum (op D1)


def q02_daily_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op D1: per-entity daily bucket sums (operators.resample.time_bucket_sum; reference utils/data_utils.py:43-58 resample path)."""
    ev = _events(spark, sf_dir)
    agg = time_bucket_sum(ev, EVENTS_SCHEMA, bucket_column="bucket")
    return agg.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value"), 6).alias("sum_value"),
    )


Q02_SQL = """
SELECT user_id,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Q3 — calendar gap fill (ops F1 = D1 + C2 + G7)


def q03_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops C2/F1/G7: dense daily calendar left-join with zero fill (operators.resample.calendar_fill — the reference's normalise_sequences data path)."""
    ev = _events(spark, sf_dir)
    filled = calendar_fill(ev, EVENTS_SCHEMA, fill_value=0.0)
    return filled.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value"), 6).alias("sum_value"),
    )


Q03_SQL = """
WITH cal AS (
  SELECT unnest(generate_series(
           date_trunc('day', (SELECT MIN(ts) FROM events)),
           date_trunc('day', (SELECT MAX(ts) FROM events)),
           INTERVAL 1 DAY)) AS d
), ids AS (SELECT DISTINCT user_id FROM events),
agg AS (
  SELECT user_id, date_trunc('day', ts) AS d, SUM(value) AS v
  FROM events GROUP BY 1, 2
)
SELECT i.user_id,
       strftime(c.d, '%Y-%m-%d') AS day,
       ROUND(COALESCE(a.v, 0), 6) AS sum_value
FROM ids i CROSS JOIN cal c
LEFT JOIN agg a ON a.user_id = i.user_id AND a.d = c.d
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Q4 — global min-max scale (ops D3 + G4)


def q04_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops D3/G4: global min-max fit + transform as pure expressions (operators.scaling.MinMaxScaler; reference adapters/ydata_adapter.py:233-239)."""
    ev = _events(spark, sf_dir)
    stats = ev.agg(F.min("value").alias("_mn"), F.max("value").alias("_mx"))
    return (
        ev.crossJoin(F.broadcast(stats))
        .select(
            "event_id",
            F.round(
                (F.col("value") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")), 6
            ).alias("scaled"),
        )
    )


Q04_SQL = """
SELECT event_id,
       ROUND((value - mn) / (mx - mn), 6) AS scaled
FROM events CROSS JOIN (SELECT MIN(value) mn, MAX(value) mx FROM events)
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Q5 — stride-1 window starts (op F3 projection)


def q05_window_starts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op F3 projection: valid stride-1 window-start ordinals per entity (operators.windows.window_starts)."""
    ev = _events(spark, sf_dir)
    return window_starts(ev, EVENTS_SCHEMA, sequence_length=8).select(
        "user_id", F.col("win_start").cast("long").alias("win_start")
    )


Q05_SQL = """
SELECT user_id, CAST(rn AS BIGINT) AS win_start
FROM (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
) WHERE rn <= n - 7
ORDER BY user_id, win_start
"""


# --------------------------------------------------------------------------
# Q6 — per-entity tail trim (op F4)


def q06_tail_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op F4: drop each entity's last prediction_length steps (operators.windows.tail_trim; reference metrics/univariate_metrics.py:421-432)."""
    ev = _events(spark, sf_dir)
    return tail_trim(ev, EVENTS_SCHEMA, prediction_length=7).select("event_id")


Q06_SQL = """
SELECT event_id FROM (
  SELECT event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn > 7 ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Q7 — keep-first key dedup (op E2)


def q07_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op E2: keep-first dedup on (entity, ts) by arrival order (operators.dedup.keep_first)."""
    ev = _events(spark, sf_dir)
    return keep_first(ev, ["user_id", "ts"], ["event_id"]).select("event_id")


Q07_SQL = """
SELECT event_id FROM (
  SELECT event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1 ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Q8 — metric summary avg + population std (ops D5/I3)


def q08_metric_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops I2/I3/D5: metric registry summary with population stddev (metrics.registry.MetricManager; reference evaluation.py:125-140)."""
    ev = _events(spark, sf_dir)
    schema = EVENTS_SCHEMA
    daily = ev.groupBy(
        "event_type", F.date_trunc("DAY", F.col(schema.timestamp_column)).alias("d")
    ).agg(F.sum("value").alias("v"))
    return daily.groupBy(F.col("event_type").alias("generator")).agg(
        F.round(F.avg("v"), 6).alias("avg_metric"),
        F.round(F.stddev_pop("v"), 6).alias("std_metric"),
    )


Q08_SQL = """
WITH m AS (
  SELECT event_type, date_trunc('day', ts) AS d, SUM(value) AS v
  FROM events GROUP BY 1, 2
)
SELECT event_type AS generator,
       ROUND(AVG(v), 6) AS avg_metric,
       ROUND(STDDEV_POP(v), 6) AS std_metric
FROM m GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q9 — MAE against lag-1 pseudo-prediction (op I1)


def q09_lag_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op I1: MAE of the naive lag-1 forecaster over daily sums (metrics mae expression; reference metrics/multivariate_metrics.py:219-230)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_pred = ev.withColumn("pred", F.lag("value").over(w)).where(
        F.col("pred").isNotNull()
    )
    return with_pred.agg(
        F.round(F.avg(F.abs(F.col("value") - F.col("pred"))), 6).alias("mae")
    )


Q09_SQL = """
SELECT ROUND(AVG(ABS(value - pred)), 6) AS mae FROM (
  SELECT value,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pred
  FROM events
) WHERE pred IS NOT NULL
"""


# --------------------------------------------------------------------------
# Q10 — weekend covariate counts (op G6)


def q10_weekend_covariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op G6: ISO weekend indicator covariate (functions.is_weekend; Sun=1/Sat=7 remap pinned against the reference)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.sum(is_weekend(F.col("ts"))).cast("long").alias("weekend_events"),
        F.count(F.lit(1)).alias("total_events"),
    )


Q10_SQL = """
SELECT user_id,
       CAST(SUM(CASE WHEN EXTRACT(ISODOW FROM ts) IN (6, 7) THEN 1 ELSE 0 END) AS BIGINT)
         AS weekend_events,
       COUNT(*) AS total_events
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q11 — deterministic positional split counts (op H1)


def q11_positional_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op H1: deterministic train/valid/test positional split (operators.windows.positional_split; reference metrics/multivariate_metrics.py:39-82)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    per_user = Window.partitionBy("user_id")
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(per_user)
    t = F.floor(F.lit(0.75) * n)
    v = t + F.floor((n - t) / F.lit(2.0))
    labeled = ev.withColumn(
        "split",
        F.when(rn <= t, F.lit("train")).when(rn <= v, F.lit("valid")).otherwise(
            F.lit("test")
        ),
    )
    return labeled.groupBy("user_id", "split").agg(F.count(F.lit(1)).alias("n_rows"))


Q11_SQL = """
WITH r AS (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
), s AS (
  SELECT user_id,
         CASE WHEN rn <= FLOOR(0.75 * n) THEN 'train'
              WHEN rn <= FLOOR(0.75 * n) + FLOOR((n - FLOOR(0.75 * n)) / 2.0) THEN 'valid'
              ELSE 'test' END AS split
  FROM r
)
SELECT user_id, split, COUNT(*) AS n_rows FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Q12 — forecast-horizon generation (op F5)


def q12_forecast_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op F5: prediction_length future ticks per entity after each series end (operators.windows.forecast_horizon; reference univariate_metrics.py:384-405)."""
    ev = _events(spark, sf_dir)
    horizon = forecast_horizon(ev, EVENTS_SCHEMA, prediction_length=7)
    return horizon.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_horizon"),
        F.min(F.date_format("ts", TS_FMT_SPARK)).alias("min_h"),
        F.max(F.date_format("ts", TS_FMT_SPARK)).alias("max_h"),
    )


Q12_SQL = f"""
SELECT user_id,
       CAST(7 AS BIGINT) AS n_horizon,
       strftime(MAX(ts) + INTERVAL 1 DAY, '{TS_FMT_DUCK}') AS min_h,
       strftime(MAX(ts) + INTERVAL 7 DAY, '{TS_FMT_DUCK}') AS max_h
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q13 — union/count identity (ops E1/E3/D6)


def q13_count_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops D4/D6/E1: distinct-entity dim vs raw counts consistency (operators.keys.entity_dim)."""
    ev = _events(spark, sf_dir)
    per_entity = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    rollup = per_entity.agg(
        F.sum("c").alias("sum_entity_counts"),
        F.count(F.lit(1)).alias("n_entities"),
    )
    total = ev.agg(F.count(F.lit(1)).alias("total_rows"))
    return total.crossJoin(rollup)


Q13_SQL = """
SELECT (SELECT COUNT(*) FROM events) AS total_rows,
       CAST(SUM(c) AS BIGINT) AS sum_entity_counts,
       COUNT(*) AS n_entities
FROM (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)
"""


# --------------------------------------------------------------------------
# Q14 — TPC-H pricing-summary smoke (ops A1/B/D at relational scale)


def q14_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: returnflag/linestatus pricing aggregate with
    exact decimal sums (the q49/q75 shared-dialect anchor).

    The three averages display through exact micro-units (the q84
    pattern, applied proactively by the round-12 tie sweep):
    quantities are integral and prices/discounts 2dp, so each average
    is a low-denominator rational whose 6dp rounding can land on an
    exact 7th-digit-5 tie where Spark's half-up and DuckDB's float
    round diverge — half-up(N/D, 6dp) = floor((2·S·10⁶ + n)/(2n))
    computed as ONE IEEE double divide of two exactly-derived doubles
    plus a floor, bit-identical on both engines (unlike ROUND, whose
    implementations differ). Expressed as floor-of-double rather than
    q84's integer `div` because Q14_SQL must stay DUAL-DIALECT: q49
    runs this exact text through spark.sql, and there is no integer-
    division operator both engines parse."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(30,10)"
    filtered = li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))

    def _micro(sum6_col: str, n_col: str = "_n"):
        num = (F.lit(2) * F.col(sum6_col) + F.col(n_col)).cast("double")
        den = (F.lit(2) * F.col(n_col)).cast("double")
        return F.floor(num / den).cast("double") / F.lit(1000000.0)

    agged = filtered.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_quantity").cast(dec)).cast("double"), 4).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast(dec)).cast("double"), 4).alias(
            "sum_base_price"
        ),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(dec)
            ).cast("double"),
            4,
        ).alias("sum_disc_price"),
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * (F.lit(1.0) + F.col("l_tax"))
                ).cast(dec)
            ).cast("double"),
            4,
        ).alias("sum_charge"),
        (F.sum(F.col("l_quantity").cast(dec)) * F.lit(1000000))
        .cast("decimal(38,0)")
        .alias("_qty6"),
        (F.sum(F.col("l_extendedprice").cast(dec)) * F.lit(1000000))
        .cast("decimal(38,0)")
        .alias("_prc6"),
        (F.sum(F.col("l_discount").cast(dec)) * F.lit(1000000))
        .cast("decimal(38,0)")
        .alias("_dsc6"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agged.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        _micro("_qty6").alias("avg_qty"),
        _micro("_prc6").alias("avg_price"),
        _micro("_dsc6").alias("avg_disc"),
        "count_order",
    )


Q14_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_charge,
       CAST(FLOOR(CAST(2 * (SUM(CAST(l_quantity AS DECIMAL(30,10))) * 1000000)
                       + COUNT(*) AS DOUBLE)
                  / CAST(2 * COUNT(*) AS DOUBLE)) AS DOUBLE)
         / 1000000.0 AS avg_qty,
       CAST(FLOOR(CAST(2 * (SUM(CAST(l_extendedprice AS DECIMAL(30,10))) * 1000000)
                       + COUNT(*) AS DOUBLE)
                  / CAST(2 * COUNT(*) AS DOUBLE)) AS DOUBLE)
         / 1000000.0 AS avg_price,
       CAST(FLOOR(CAST(2 * (SUM(CAST(l_discount AS DECIMAL(30,10))) * 1000000)
                       + COUNT(*) AS DOUBLE)
                  / CAST(2 * COUNT(*) AS DOUBLE)) AS DOUBLE)
         / 1000000.0 AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Q15 — star-schema join: revenue per nation (broadcast dims)


def q15_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-ish: revenue by nation through the order-customer-nation join chain (bounded dims broadcast)."""
    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    dec = "decimal(30,10)"
    # customer is a FACT-scale dim (multi-GB at 100×): no broadcast
    # hint — AQE picks broadcast at bench scale and shuffle at cluster
    # scale. Explicit hints stay only on the bounded dims
    # (nation/region/supplier: ≤25/5/SF·10k rows by TPC-H construction).
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("o_totalprice").cast(dec)).cast("double"), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


Q15_SQL = """
SELECT n_name,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 4) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q16 — top-k parts by revenue (exact decimal ranking)


def q16_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-ish top-k parts by revenue (TakeOrderedAndProject, no global sort of the fact side)."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(30,10)"
    rev = li.groupBy("l_partkey").agg(
        F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(dec)).alias(
            "rev_d"
        )
    )
    # Top-k first via distributed TakeOrdered (orderBy+limit), THEN
    # rank the 10 survivors — a global row_number window over every
    # part would single-partition the whole dim at scale.
    top = rev.orderBy(F.col("rev_d").desc(), "l_partkey").limit(10)
    w = Window.orderBy(F.col("rev_d").desc(), F.col("l_partkey"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "l_partkey",
        F.round(F.col("rev_d").cast("double"), 4).alias("revenue"),
        F.col("rk").cast("long").alias("rk"),
    )


Q16_SQL = """
SELECT l_partkey,
       ROUND(CAST(rev_d AS DOUBLE), 4) AS revenue,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT l_partkey, rev_d,
         ROW_NUMBER() OVER (ORDER BY rev_d DESC, l_partkey) AS rk
  FROM (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))) AS rev_d
    FROM lineitem GROUP BY 1
  )
) WHERE rk <= 10 ORDER BY rk
"""


# --------------------------------------------------------------------------
# Q17 — JSON property extraction over events.props


def q17_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured scan: JSON property extraction from the events props column (get_json_object pushover)."""
    ev = _events(spark, sf_dir)
    with_k = ev.select(
        "event_type", F.get_json_object("props", "$.k").cast("long").alias("k")
    )
    return with_k.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


Q17_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q18 — univariate panel transform (op F2) over daily-bucketed events


def q18_panel_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op F2: univariate panel transform with regular-index filter (metrics.univariate.panel_transform; reference univariate_metrics.py panel path)."""
    from paqarin_spark.metrics.univariate import panel_transform
    from paqarin_spark.schema import TimeSeriesSchema

    ev = _events(spark, sf_dir)
    daily = time_bucket_sum(ev, EVENTS_SCHEMA, bucket_column="bucket")
    daily_schema = TimeSeriesSchema(
        item_id_columns=("user_id",),
        timestamp_column="bucket",
        value_columns=("value",),
        frequency="D",
    )
    out = panel_transform(daily, daily_schema)
    return out.select(
        F.col("item_id").cast("string").alias("item_id"),
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"),
        F.round("target", 6).alias("target"),
        F.col("is_weekend"),
    )


Q18_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS d, SUM(value) AS v
  FROM events GROUP BY 1, 2
), gaps AS (
  SELECT user_id,
         date_diff('day', LAG(d) OVER (PARTITION BY user_id ORDER BY d), d) AS g
  FROM daily
), regular AS (
  SELECT user_id
  FROM gaps GROUP BY 1
  HAVING COUNT(g) >= 1 AND COUNT(DISTINCT g) = 1
), bounds AS (
  SELECT user_id, MIN(d) AS mn, MAX(d) AS mx FROM daily
  WHERE user_id IN (SELECT user_id FROM regular) GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS d
  FROM bounds
)
SELECT CAST(g.user_id AS VARCHAR) AS item_id,
       strftime(g.d, '%Y-%m-%d') AS day,
       ROUND(COALESCE(daily.v, 0), 6) AS target,
       CASE WHEN EXTRACT(ISODOW FROM g.d) IN (6, 7) THEN 1.0 ELSE 0.0 END AS is_weekend
FROM grid g LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Q19 — sliding-window content sums (op F3 contents)


def q19_window_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op F3 consumer: per-window value sums over sliding sequences (operators.windows.sliding_windows + aggregate expression)."""
    from paqarin_spark.operators import sliding_windows

    ev = _events(spark, sf_dir)
    wins = sliding_windows(ev, EVENTS_SCHEMA, sequence_length=8)
    return wins.select(
        "user_id",
        (F.col("sequence_id") + 1).cast("long").alias("win_start"),
        F.round(
            F.aggregate(
                F.col("sequence"), F.lit(0.0), lambda acc, x: acc + x["value"]
            ),
            6,
        ).alias("win_sum"),
    )


Q19_SQL = """
SELECT user_id, CAST(rn AS BIGINT) AS win_start, ROUND(wsum, 6) AS win_sum
FROM (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wsum
  FROM events
) WHERE rn <= n - 7
ORDER BY user_id, win_start
"""


# --------------------------------------------------------------------------
# Q20 — upsample without aggregation (op D2): nulls kept, counted


def q20_upsample_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op D2: calendar upsample keeping nulls (operators.resample.calendar_fill(fill_value=None) — asfreq semantics)."""
    ev = _events(spark, sf_dir)
    sparse = calendar_fill(ev, EVENTS_SCHEMA, fill_value=None)
    return sparse.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).cast("long").alias(
            "n_missing"
        ),
    )


Q20_SQL = """
WITH cal AS (
  SELECT unnest(generate_series(
           date_trunc('day', (SELECT MIN(ts) FROM events)),
           date_trunc('day', (SELECT MAX(ts) FROM events)),
           INTERVAL 1 DAY)) AS d
), observed AS (
  SELECT user_id, COUNT(DISTINCT date_trunc('day', ts)) AS n_days FROM events GROUP BY 1
)
SELECT user_id,
       (SELECT COUNT(*) FROM cal) AS n_ticks,
       (SELECT COUNT(*) FROM cal) - n_days AS n_missing
FROM observed ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q21 — min-max scale + inverse roundtrip (ops G4/G5)


def q21_minmax_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op G5: scale -> inverse-scale roundtrip equals identity at 6dp (operators.scaling inverse; reference inverse_transform contract)."""
    from paqarin_spark.operators import MinMaxScaler

    ev = _events(spark, sf_dir)
    scaler = MinMaxScaler(["value"]).fit(ev)
    roundtrip = scaler.inverse_transform(scaler.transform(ev))
    return roundtrip.select("event_id", F.round("value", 6).alias("value_roundtrip"))


Q21_SQL = """
SELECT event_id, ROUND(value, 6) AS value_roundtrip FROM events ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Generator / pipeline entries (ops J1/J2/K2) — all VALUE-verified:
# every sampler draws via portable md5 hashes, so even the multi-action
# orchestrations (gen1-gen5, ev1-ev3) replay as single DuckDB
# statements and hash-match.


def _events_gen_params(sequence_length: int = 8):
    from paqarin_spark.generator import GeneratorParameters
    from paqarin_spark.schema import TimeSeriesSchema

    schema = TimeSeriesSchema(
        item_id_columns=("user_id",),
        timestamp_column="ts",
        value_columns=("value",),
        frequency="D",
        order_columns=("event_id",),
    )
    return GeneratorParameters(schema=schema, sequence_length=sequence_length, seed=17)


def gen1_bootstrap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the block-bootstrap generator on events, draw 50 sequences;
    emit (sequence_id, step, value) long-form for a stable schema.
    VALUE-verified: the block draw is an md5(window_key#seed) rank —
    layout-independent by design — so the oracle rebuilds the window
    population in SQL, ranks with the same md5, takes the same 50
    blocks, and replays the scale/inverse roundtrip; the sampled rows
    themselves hash-match."""
    from paqarin_spark.generators import BlockBootstrapGenerator

    ev = _events(spark, sf_dir)
    gen = BlockBootstrapGenerator(_events_gen_params()).fit(ev)
    out = gen.generate(50)
    # One-shot query: the fitted-state cache only pays off across
    # repeated generate() calls; release it so the lazy result
    # recomputes once instead of leaking cache blocks into the session.
    gen.unpersist()
    return out.select(
        "sequence_id", F.posexplode("sequence").alias("step", "_obs")
    ).select("sequence_id", "step", F.round(F.col("_obs.value"), 6).alias("value"))


GEN1_SQL = """
WITH mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), r AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
), wins AS (
  SELECT user_id, p AS w,
         md5(user_id || '|' || p || '#17') AS rk
  FROM r WHERE p <= cnt - 8
), top AS (
  SELECT user_id, w, ROW_NUMBER() OVER (ORDER BY rk) - 1 AS sequence_id
  FROM wins ORDER BY rk LIMIT 50
), steps AS (
  SELECT UNNEST(range(8)) AS step
)
SELECT t.sequence_id,
       CAST(s.step AS INTEGER) AS step,
       ROUND((r2.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn,
             6) AS value
FROM top t CROSS JOIN steps s
JOIN r r2 ON r2.user_id = t.user_id AND r2.p = t.w + s.step
CROSS JOIN mm
ORDER BY 1, 2
"""


def gen2_gaussian_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian per-step generation — VALUE-verified like gen5: the
    sampler draws Box–Muller normals from portable md5-prefix uniforms
    keyed on (sequence, step, column, seed), so the oracle refits the
    per-step profile in SQL (minmax scale → stride-1 window population
    → mean/stddev_pop) and replays the identical draws; the generated
    rows themselves hash-match."""
    from paqarin_spark.generators import GaussianPerStepGenerator

    ev = _events(spark, sf_dir)
    gen = GaussianPerStepGenerator(_events_gen_params()).fit(ev)
    out = gen.generate(50)
    gen.unpersist()
    return out.select(
        "sequence_id", F.posexplode("sequence").alias("step", "_obs")
    ).select("sequence_id", "step", F.round(F.col("_obs.value"), 6).alias("value"))


GEN2_SQL = """
WITH mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), r AS (
  SELECT user_id,
         (value - mm.mn) / (mm.mx - mm.mn) AS sv,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM events CROSS JOIN mm
), steps AS (
  SELECT UNNEST(range(8)) AS step
), prof AS (
  SELECT s.step, AVG(r.sv) AS mean, COALESCE(STDDEV_POP(r.sv), 0) AS std
  FROM r JOIN steps s ON r.p >= s.step AND r.p <= r.cnt - 8 + s.step
  GROUP BY 1
), seqs AS (
  SELECT UNNEST(range(50)) AS sequence_id
), samp AS (
  SELECT q.sequence_id, pr.step, pr.mean, pr.std,
         GREATEST(('0x' || substring(md5('gauss-u1#' || q.sequence_id || '#'
                   || pr.step || '#0#17'), 1, 15))::UBIGINT
                  / 1152921504606846976.0, 1e-18) AS u1,
         ('0x' || substring(md5('gauss-u2#' || q.sequence_id || '#'
                   || pr.step || '#0#17'), 1, 15))::UBIGINT
                  / 1152921504606846976.0 AS u2
  FROM seqs q CROSS JOIN prof pr
)
SELECT sequence_id,
       CAST(step AS INTEGER) AS step,
       ROUND((mean + std * (sqrt(-2.0 * ln(u1))
                            * cos(6.283185307179586 * u2)))
             * (SELECT mx - mn FROM mm) + (SELECT mn FROM mm), 6) AS value
FROM samp ORDER BY sequence_id, step
"""


def gen4_conditional_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAR-contract conditional sampling (J2 with a required context
    frame): generate sequences conditioned on each user's dominant
    event type; emit per-attribute sequence counts (rows-only — seeded
    sampling)."""
    from paqarin_spark.generator import GeneratorParameters
    from paqarin_spark.generators import ConditionalBootstrapGenerator
    from paqarin_spark.schema import TimeSeriesSchema

    ev = _events(spark, sf_dir)
    # PAR's model assumes STATIC per-entity attributes; events carry a
    # per-row type, so derive each user's dominant type as the static
    # attribute first (count-desc, lexicographic tie-break).
    w = Window.partitionBy("user_id").orderBy(
        F.col("_n").desc(), F.col("event_type")
    )
    dom = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("user_id", F.col("event_type").alias("dom_type"))
    )
    tagged = ev.select("user_id", "ts", "event_id", "value").join(
        dom, on="user_id"
    )
    schema = TimeSeriesSchema(
        item_id_columns=("user_id",),
        timestamp_column="ts",
        value_columns=("value",),
        attribute_columns=("dom_type",),
        frequency="D",
        order_columns=("event_id",),
    )
    gen = ConditionalBootstrapGenerator(
        GeneratorParameters(schema=schema, sequence_length=8, seed=23)
    ).fit(tagged)
    ctx = spark.createDataFrame(
        [(t,) for t in EVENT_TYPES for _ in range(4)], "dom_type string"
    )
    out = (
        gen.generate(context=ctx)
        .groupBy("dom_type")
        .agg(
            F.count(F.lit(1)).alias("n_sequences"),
            F.round(
                F.avg(
                    F.aggregate(
                        "sequence",
                        F.lit(0.0),
                        lambda acc, x: acc + x["value"],
                    )
                ),
                6,
            ).alias("avg_seq_sum"),
        )
    )
    gen.unpersist()
    return out


GEN4_SQL = """
WITH mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), dom AS (
  SELECT user_id, event_type AS dom_type FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY COUNT(*) DESC, event_type) AS rk
    FROM events GROUP BY user_id, event_type
  ) WHERE rk = 1
), r AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
), wins AS (
  SELECT r.user_id, d.dom_type, r.p AS w
  FROM r JOIN dom d ON r.user_id = d.user_id
  WHERE r.p <= r.cnt - 8
), ctx AS (
  SELECT t.dom_type,
         ROW_NUMBER() OVER (ORDER BY t.dom_type, j.j) - 1 AS ctx_id
  FROM (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view'))
       t(dom_type)
  CROSS JOIN (SELECT UNNEST(range(4)) AS j) j
), picks AS (
  SELECT ctx_id, dom_type, user_id, w FROM (
    SELECT c.ctx_id, c.dom_type, wi.user_id, wi.w,
           ROW_NUMBER() OVER (PARTITION BY c.ctx_id
             ORDER BY md5(c.ctx_id || '#' || wi.user_id || '|' || wi.w
                          || '#23')) AS rk
    FROM ctx c JOIN wins wi ON wi.dom_type = c.dom_type
  ) WHERE rk = 1
), steps AS (
  SELECT UNNEST(range(8)) AS step
), vals AS (
  SELECT pk.ctx_id, pk.dom_type,
         SUM((r2.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn)
           AS seq_sum
  FROM picks pk CROSS JOIN steps s
  JOIN r r2 ON r2.user_id = pk.user_id AND r2.p = pk.w + s.step
  CROSS JOIN mm
  GROUP BY 1, 2
)
SELECT dom_type, COUNT(*) AS n_sequences,
       ROUND(AVG(seq_sum), 6) AS avg_seq_sum
FROM vals GROUP BY 1 ORDER BY 1
"""


def gen5_markov_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical sequence synthesis (generators.markov.
    MarkovEventGenerator): fit a first-order event-type Markov chain
    on the real event log (q66's transition plan), then sample 40
    sequences of length 8. Every draw is a pure function of
    (sequence_id, step, seed) via the portable md5 hash, so — unlike
    gen1-gen4's rows-only contract — the SAMPLES THEMSELVES are
    value-checked: the DuckDB oracle refits the same chain in SQL and
    replays the identical walk with a recursive CTE. The generate plan
    is one codegen'd projection over spark.range(n): no shuffle, no
    Python, embarrassingly parallel in n."""
    from paqarin_spark.generators import MarkovEventGenerator

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    p = _events_gen_params()
    gen = MarkovEventGenerator(p).fit(ev)
    return gen.generate(40, seed=11).orderBy("sequence_id", "step")


# The oracle replays gen5's exact walk: same (ts, event_type) ordering
# for the lag pairs, same sorted-category CDF (cumulative INT count /
# total — bit-identical doubles), same md5-prefix uniform draws, CDF
# inversion as first-cat-with-cum>=u. Every observed category has
# outgoing transitions in this data, so the generator's absorbing
# self-loop fallback never fires and needs no SQL mirror.
GEN5_SQL = """
WITH RECURSIVE
ordered AS (
  SELECT event_type AS cat,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_type)
           AS rn,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type)
           AS prev
  FROM events
),
init AS (SELECT cat, COUNT(*) AS c FROM ordered WHERE rn = 1 GROUP BY 1),
init_cdf AS (
  SELECT cat,
         SUM(c) OVER (ORDER BY cat) / (SELECT SUM(c) FROM init) AS cum
  FROM init
),
trans AS (
  SELECT prev, cat, COUNT(*) AS c FROM ordered
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
trans_cdf AS (
  SELECT prev, cat,
         SUM(c) OVER (PARTITION BY prev ORDER BY cat)
           / SUM(c) OVER (PARTITION BY prev) AS cum
  FROM trans
),
walk(sequence_id, step, event_type) AS (
  SELECT s.range AS sequence_id, 0,
         (SELECT i.cat FROM init_cdf i
          WHERE i.cum >= ('0x' || substring(
                  md5(s.range::VARCHAR || '#0#11'), 1, 15))::UBIGINT
                / 1152921504606846976.0
          ORDER BY i.cum LIMIT 1)
  FROM range(40) s
  UNION ALL
  SELECT w.sequence_id, w.step + 1,
         (SELECT t.cat FROM trans_cdf t
          WHERE t.prev = w.event_type
            AND t.cum >= ('0x' || substring(
                  md5(w.sequence_id::VARCHAR || '#' ||
                      (w.step + 1)::VARCHAR || '#11'), 1, 15))::UBIGINT
                / 1152921504606846976.0
          ORDER BY t.cum LIMIT 1)
  FROM walk w WHERE w.step < 7
)
SELECT sequence_id, step, event_type FROM walk ORDER BY 1, 2
"""


def ev4_markov_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generative-fidelity EVALUATION of the categorical generator:
    total-variation distance between the real event log's first-order
    transition rows and the transition rows re-estimated from gen5's
    synthetic sample — the train/generate/re-measure loop every
    synthetic-data pipeline runs, and (because the gen5 walk is
    deterministic) the whole evaluation is value-checked against the
    oracle, not just row-counted. Plan: two q66-shaped lag/count
    passes (real: per-user; synthetic: per-sequence), a full-outer
    join on (prev, next) with absent mass as 0, and a per-prev
    0.5·Σ|Δp| rollup."""
    from paqarin_spark.generators import MarkovEventGenerator

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    p = _events_gen_params()
    gen = MarkovEventGenerator(p).fit(ev)
    sample = gen.generate(40, seed=11)

    def _trans_probs(df, part_cols, order_cols, cat="event_type"):
        w = Window.partitionBy(*part_cols).orderBy(*order_cols)
        steps = df.select(
            F.lag(cat).over(w).alias("prev_type"),
            F.col(cat).alias("next_type"),
        ).where(F.col("prev_type").isNotNull())
        counts = steps.groupBy("prev_type", "next_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        row_w = Window.partitionBy("prev_type")
        return counts.select(
            "prev_type",
            "next_type",
            (F.col("n") / F.sum("n").over(row_w)).alias("p"),
        )

    real = _trans_probs(ev, ["user_id"], [F.col("ts"), F.col("event_type")])
    synth = _trans_probs(sample, ["sequence_id"], [F.col("step")])
    joined = real.withColumnRenamed("p", "p_real").join(
        synth.withColumnRenamed("p", "p_synth"),
        ["prev_type", "next_type"],
        "full_outer",
    )
    return (
        joined.groupBy("prev_type")
        .agg(
            F.round(
                F.sum(
                    F.abs(
                        F.coalesce(F.col("p_real"), F.lit(0.0))
                        - F.coalesce(F.col("p_synth"), F.lit(0.0))
                    )
                )
                / 2,
                6,
            ).alias("tvd")
        )
        .orderBy("prev_type")
    )


EV4_SQL = f"""
WITH walk_base AS ({GEN5_SQL.replace("ORDER BY 1, 2", "")}),
real_steps AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type)
           AS prev_type,
         event_type AS next_type
  FROM events
),
real_counts AS (
  SELECT prev_type, next_type, COUNT(*) AS n FROM real_steps
  WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
real_p AS (
  SELECT prev_type, next_type,
         n / SUM(n) OVER (PARTITION BY prev_type) AS p_real
  FROM real_counts
),
synth_steps AS (
  SELECT LAG(event_type) OVER (PARTITION BY sequence_id ORDER BY step)
           AS prev_type,
         event_type AS next_type
  FROM walk_base
),
synth_counts AS (
  SELECT prev_type, next_type, COUNT(*) AS n FROM synth_steps
  WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
synth_p AS (
  SELECT prev_type, next_type,
         n / SUM(n) OVER (PARTITION BY prev_type) AS p_synth
  FROM synth_counts
),
joined AS (
  SELECT COALESCE(r.prev_type, s.prev_type) AS prev_type,
         COALESCE(r.p_real, 0) AS p_real,
         COALESCE(s.p_synth, 0) AS p_synth
  FROM real_p r FULL OUTER JOIN synth_p s
    ON r.prev_type = s.prev_type AND r.next_type = s.next_type
)
SELECT prev_type, ROUND(SUM(ABS(p_real - p_synth)) / 2, 6) AS tvd
FROM joined GROUP BY 1 ORDER BY 1
"""


def gen6_arnet_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTING neural provider (generators.neural.ARNetGenerator
    — one-hidden-layer autoregressive MLP, pure numpy, zero TF/torch):
    fit on events, roll out 30 sequences, emit long-form samples.

    ROWS-ONLY BY DESIGN — the one declared query without a value
    oracle: 200 full-batch gradient epochs are deterministic (md5
    init, sorted bounded batch, layout-independent weights — pinned
    by tests/test_neural.py) but not single-statement SQL. Declaring
    it anyway makes the driver smoke-prove every round that a neural
    train/sample lifecycle (the reference's TimeGAN-shaped boundary,
    `paqarin/adapters/ydata_adapter.py:291-358`) actually executes in
    this environment. The SAMPLE path is value-oracled separately:
    gen15 replays the same feedback rollout with frozen md5-init
    weights through a recursive-CTE oracle, so only the SGD epochs
    themselves stay rows-only."""
    from paqarin_spark.generators import ARNetGenerator

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    gen = ARNetGenerator(_events_gen_params(), hidden=16, epochs=150).fit(ev)
    out = gen.generate(30)
    gen.unpersist()
    return out.select(
        "sequence_id", F.posexplode("sequence").alias("step", "_obs")
    ).select(
        "sequence_id", "step", F.round(F.col("_obs.value"), 6).alias("value")
    ).orderBy("sequence_id", "step")


def ev1_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship orchestration (op K2): fit bootstrap + gaussian on the
    events table, TSTR-score both, emit the summary metric rows.
    VALUE-verified end to end: every stage — stride-1 real windows,
    the global-ordinal 75% positional split, the closed-form
    least-squares head (avg/covar_pop/var_pop), both generators'
    deterministic samples (md5 block ranks / md5 Box–Muller draws,
    seeds 17 and 18 per iteration), the four TSTR MAEs and the
    train-on-real control — replays in EV1_SQL, so the whole K2
    orchestration hash-matches DuckDB."""
    from paqarin_spark.adapter import get_generator_adapter
    from paqarin_spark.evaluation import (
        EvaluationPipeline,
        MultivariatePredictiveScorer,
    )

    ev = _events(spark, sf_dir)
    p = _events_gen_params()
    gens = {
        "bootstrap": get_generator_adapter("paqarin_spark", "bootstrap", p),
        "gaussian": get_generator_adapter("paqarin_spark", "gaussian", p),
    }
    scorer = MultivariatePredictiveScorer(
        sequence_length=8, iterations=2, number_of_sequences=50
    )
    pipe = EvaluationPipeline(gens, scorer).fit(ev)
    # The summary plan is built from driver-side registry rows, so the
    # pipeline's caches can be released before returning — leaked cache
    # blocks degrade unrelated later jobs in a shared session.
    pipe.unpersist()
    return scorer.metric_manager.summary("predictive_score")


# ev1's full multivariate-TSTR replay. Stage by stage:
#   r        — per-user 0-based positions ordered (ts, event_id), the
#              arrival order every window op uses
#   wins     — stride-1 window starts w ∈ [0, cnt-8] (sliding_windows)
#   woff/cuts— the scorer's global ordinal (per-user window counts →
#              cumulative offsets, ordered by user_id) and the
#              positional-split cut points t = ⌊0.75·n⌋,
#              v = t + ⌊(n-t)/2⌋ (train ≤ t < valid ≤ v < test)
#   rxy      — real (x, y) pairs: x = step 6 of the window (last
#              feature step of xy_split's L-1 slice), y = step 7
#   rab/rmae — the closed-form least-squares head fit on real train
#              (a = covar_pop/var_pop, b = ȳ - a·x̄) and its MAE on
#              real test — the train_on_real control row
#   bs/bxy   — block-bootstrap samples: windows ranked by
#              md5(user|w#seed), top 50, seeds 17 (iter 0) / 18
#              (iter 1); values replay the min-max scale→inverse
#              roundtrip bit for bit
#   prof/gdraw/gxy — gaussian per-step profile over the SCALED window
#              population (steps 6/7 suffice for x/y) and the md5
#              Box–Muller draws keyed (gauss-u*, sid, step, col, seed)
#   scoef/sab/smae — per-(generator, iteration) least-squares fits on
#              the synthetic pairs and their MAEs on the same real
#              test set (TSTR)
# Summary = per-generator ROUND(avg/stddev_pop of the two iteration
# MAEs, 6) plus the train_on_real row (same MAE both iterations →
# std exactly 0), sorted by generator — byte-identical to
# MetricManager.summary's driver arithmetic at 6dp.
EV1_SQL = """
WITH mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), r AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
), wins AS (
  SELECT user_id, p AS w FROM r WHERE p <= cnt - 8
), wcnt AS (
  SELECT user_id, COUNT(*) AS c FROM wins GROUP BY 1
), woff AS (
  SELECT user_id,
         COALESCE(SUM(c) OVER (ORDER BY user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM wcnt
), cuts AS (
  SELECT n, t, t + FLOOR((n - t) / 2) AS v
  FROM (SELECT COUNT(*) AS n, FLOOR(0.75 * COUNT(*)) AS t FROM wins)
), rxy AS (
  SELECT wi.user_id, wo.off + wi.w + 1 AS ordn,
         rx.value AS x, ry.value AS y
  FROM wins wi
  JOIN woff wo ON wi.user_id = wo.user_id
  JOIN r rx ON rx.user_id = wi.user_id AND rx.p = wi.w + 6
  JOIN r ry ON ry.user_id = wi.user_id AND ry.p = wi.w + 7
), rtrain AS (
  SELECT * FROM rxy WHERE ordn <= (SELECT t FROM cuts)
), rtest AS (
  SELECT * FROM rxy WHERE ordn > (SELECT v FROM cuts)
), rab AS (
  SELECT CASE WHEN var > 0 THEN cov / var ELSE 0.0 END AS a,
         my_ - (CASE WHEN var > 0 THEN cov / var ELSE 0.0 END) * mx_ AS b
  FROM (SELECT AVG(x) AS mx_, AVG(y) AS my_,
               COVAR_POP(x, y) AS cov, VAR_POP(x) AS var
        FROM rtrain)
), rmae AS (
  SELECT AVG(ABS(((SELECT a FROM rab) * x + (SELECT b FROM rab)) - y))
    AS mae
  FROM rtest
), bs AS (
  SELECT 0 AS it, user_id, w FROM (
    SELECT user_id, w FROM wins
    ORDER BY md5(user_id || '|' || w || '#17') LIMIT 50)
  UNION ALL
  SELECT 1, user_id, w FROM (
    SELECT user_id, w FROM wins
    ORDER BY md5(user_id || '|' || w || '#18') LIMIT 50)
), bxy AS (
  SELECT 'bootstrap' AS gen, b.it,
         (rx.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn AS x,
         (ry.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn AS y
  FROM bs b
  JOIN r rx ON rx.user_id = b.user_id AND rx.p = b.w + 6
  JOIN r ry ON ry.user_id = b.user_id AND ry.p = b.w + 7
  CROSS JOIN mm
), steps AS (
  SELECT UNNEST([6, 7]) AS step
), prof AS (
  SELECT s.step,
         AVG((r.value - mm.mn) / (mm.mx - mm.mn)) AS mean,
         COALESCE(STDDEV_POP((r.value - mm.mn) / (mm.mx - mm.mn)), 0) AS std
  FROM r JOIN steps s ON r.p >= s.step AND r.p <= r.cnt - 8 + s.step
  CROSS JOIN mm
  GROUP BY 1
), gdraw AS (
  SELECT i.it, q.sid, pr.step,
         (pr.mean + pr.std *
           (sqrt(-2.0 * ln(GREATEST(
              ('0x' || substring(md5('gauss-u1#' || q.sid || '#' || pr.step
                 || '#0#' || (17 + i.it)), 1, 15))::UBIGINT
              / 1152921504606846976.0, 1e-18)))
            * cos(6.283185307179586 *
              ('0x' || substring(md5('gauss-u2#' || q.sid || '#' || pr.step
                 || '#0#' || (17 + i.it)), 1, 15))::UBIGINT
              / 1152921504606846976.0)))
         * (mm.mx - mm.mn) + mm.mn AS val
  FROM (VALUES (0), (1)) i(it)
  CROSS JOIN (SELECT UNNEST(range(50)) AS sid) q
  CROSS JOIN prof pr CROSS JOIN mm
), gxy AS (
  SELECT 'gaussian' AS gen, x6.it, x6.val AS x, x7.val AS y
  FROM gdraw x6
  JOIN gdraw x7 ON x6.it = x7.it AND x6.sid = x7.sid
  WHERE x6.step = 6 AND x7.step = 7
), sab AS (
  SELECT gen, it,
         CASE WHEN var > 0 THEN cov / var ELSE 0.0 END AS a,
         my_ - (CASE WHEN var > 0 THEN cov / var ELSE 0.0 END) * mx_ AS b
  FROM (SELECT gen, it, AVG(x) AS mx_, AVG(y) AS my_,
               COVAR_POP(x, y) AS cov, VAR_POP(x) AS var
        FROM (SELECT * FROM bxy UNION ALL SELECT * FROM gxy)
        GROUP BY 1, 2)
), smae AS (
  SELECT s.gen, s.it, AVG(ABS((s.a * t.x + s.b) - t.y)) AS mae
  FROM sab s CROSS JOIN rtest t
  GROUP BY 1, 2
)
SELECT generator, avg_predictive_score, std_predictive_score FROM (
  SELECT gen AS generator,
         ROUND(AVG(mae), 6) AS avg_predictive_score,
         ROUND(STDDEV_POP(mae), 6) AS std_predictive_score
  FROM smae GROUP BY 1
  UNION ALL
  SELECT 'train_on_real', ROUND((SELECT mae FROM rmae), 6), 0.0
) ORDER BY generator
"""


def ev6_ks_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-distribution FIDELITY of the bootstrap generator: the
    two-sample Kolmogorov–Smirnov statistic between the real value
    distribution and the sampled one — the continuous complement to
    ev4's categorical TVD, and the standard synthetic-data acceptance
    test. Exact tie-aware form: per DISTINCT value, cumulative counts
    on both sides; D = max |F̂_real − F̂_synth|. Rides _union_ecdf_ks's
    distributed two-pass prefix sum: the count table is the
    petabyte-to-distinct reduction, and the cumulative window is
    PARTITIONED by equal-width value bucket with a constant-size
    bucket-offset rollup in front — no single task ever sorts the
    distinct-value table."""
    from paqarin_spark.generators import BlockBootstrapGenerator

    ev = _events(spark, sf_dir)
    gen = BlockBootstrapGenerator(_events_gen_params()).fit(ev)
    synth = (
        gen.generate(50)
        .select(F.explode("sequence").alias("_o"))
        .select(F.col("_o.value").alias("v"))
    )
    gen.unpersist()
    real = ev.select(F.col("value").alias("v"))
    return _union_ecdf_ks(real, synth)


# The synth side replays gen1's exact draw (md5 block ranks, seed 17,
# scale/inverse roundtrip); both engines then build tie-aware ECDFs
# over the identical value multisets, so D matches bit-for-bit at 6dp.
# Bootstrap-generator synthetic-sample CTEs shared by EV6 (KS) and
# EV9 (energy distance) — one definition so the two fidelity oracles
# replay the IDENTICAL synthetic values.
_EV_SYNTH_CTE = """mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), r AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
), top AS (
  SELECT user_id, w FROM (
    SELECT user_id, p AS w,
           md5(user_id || '|' || p || '#17') AS rk
    FROM r WHERE p <= cnt - 8
  ) ORDER BY rk LIMIT 50
), synth AS (
  SELECT (r2.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn AS v
  FROM top t CROSS JOIN (SELECT UNNEST(range(8)) AS step) s
  JOIN r r2 ON r2.user_id = t.user_id AND r2.p = t.w + s.step
  CROSS JOIN mm
)"""


EV6_SQL = f"""
WITH {_EV_SYNTH_CTE}, c AS (
  SELECT v, SUM(is_r) AS cr, SUM(is_s) AS cs FROM (
    SELECT value AS v, 1 AS is_r, 0 AS is_s FROM events
    UNION ALL
    SELECT v, 0, 1 FROM synth
  ) GROUP BY 1
), tot AS (
  SELECT SUM(cr) AS nr, SUM(cs) AS ns FROM c
), cum AS (
  SELECT SUM(cr) OVER (ORDER BY v) AS cum_r,
         SUM(cs) OVER (ORDER BY v) AS cum_s
  FROM c
)
SELECT (SELECT CAST(nr AS BIGINT) FROM tot) AS n_real,
       (SELECT CAST(ns AS BIGINT) FROM tot) AS n_synth,
       ROUND(MAX(ABS(cum_r / (SELECT nr FROM tot)
                     - cum_s / (SELECT ns FROM tot))), 6) AS ks_stat
FROM cum
"""


def ev9_energy_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel two-sample FIDELITY of the bootstrap generator
    (evaluation.energy_distance_stats): the Székely–Rizzo energy
    distance E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| between an md5-rank
    bounded real sample and the generator's output — the
    whole-distance-structure complement to ev6's KS (which sees only
    the worst single ECDF gap), and an MMD under the distance-induced
    kernel with NO per-pair transcendentals: every |a−b| is an exact
    IEEE double, so the three pair-grid means replay bit-for-bit
    through the exact-decimal sum contract. Both samples are
    sketch-sized and broadcast; the V-statistic grids never touch an
    unbounded cross join."""
    from paqarin_spark.evaluation import energy_distance_stats
    from paqarin_spark.generators import BlockBootstrapGenerator

    ev = _events(spark, sf_dir)
    gen = BlockBootstrapGenerator(_events_gen_params()).fit(ev)
    # ≤ 400 and ≤ 256 rows, each consumed by TWO pair grids — bound
    # them eagerly so the generator / rank-sample ETL runs once.
    synth = (
        gen.generate(50)
        .select(F.explode("sequence").alias("_o"))
        .select(F.col("_o.value").alias("v"))
        .localCheckpoint()
    )
    gen.unpersist()
    real = (
        ev.withColumn(
            "_rk",
            F.md5(
                F.concat_ws(
                    "#", F.lit("mmd"), F.col("event_id").cast("string")
                )
            ),
        )
        .orderBy("_rk", "event_id")
        .limit(256)
        .select(F.col("value").alias("v"))
        .localCheckpoint()
    )
    return energy_distance_stats(real, synth, "v")


EV9_SQL = f"""
WITH {_EV_SYNTH_CTE}, rs AS (
  SELECT value AS v FROM (
    SELECT value, event_id,
           md5('mmd#' || CAST(event_id AS VARCHAR)) AS rk
    FROM events ORDER BY rk, event_id LIMIT 256
  )
), xy AS (
  SELECT CAST(SUM(CAST(ABS(a.v - b.v) AS DECIMAL(30,10))) AS DOUBLE)
           / COUNT(*) AS m
  FROM rs a CROSS JOIN synth b
), xx AS (
  SELECT CAST(SUM(CAST(ABS(a.v - b.v) AS DECIMAL(30,10))) AS DOUBLE)
           / COUNT(*) AS m
  FROM rs a CROSS JOIN rs b
), yy AS (
  SELECT CAST(SUM(CAST(ABS(a.v - b.v) AS DECIMAL(30,10))) AS DOUBLE)
           / COUNT(*) AS m
  FROM synth a CROSS JOIN synth b
)
SELECT (SELECT COUNT(*) FROM rs) AS n_real,
       (SELECT COUNT(*) FROM synth) AS n_synth,
       ROUND(xy.m, 6) AS e_xy,
       ROUND(xx.m, 6) AS e_xx,
       ROUND(yy.m, 6) AS e_yy,
       ROUND(2 * xy.m - xx.m - yy.m, 6) AS energy_dist
FROM xy CROSS JOIN xx CROSS JOIN yy
"""


def ev8_coverage_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generative PRECISION/COVERAGE — the fidelity-diversity pair
    that complements ev4 (categorical TVD) and ev6 (marginal KS):
    per-sequence sums of gen1's bootstrap samples are compared
    against the real stride-1 window-sum population. precision =
    fraction of synthetic sums inside the real support [min, max]
    (out-of-support on EITHER side counts against it); bin_recall =
    of the 10 equal-width bins over the real support, the fraction
    hit by an in-support synthetic sum (mode collapse shows up here
    long before the mean drifts). Sums ROUND to 6dp before every
    comparison — window-sum fold order differs between engines in
    the last ulp, and an unrounded value sitting on a bin edge would
    flip the bin nondeterministically. Equal-width bins are pure
    arithmetic — no global sort — and every number replays in SQL."""
    from paqarin_spark.generators import BlockBootstrapGenerator

    ev = _events(spark, sf_dir)
    gen = BlockBootstrapGenerator(_events_gen_params()).fit(ev)
    synth_sums = (
        gen.generate(50)
        .select(
            F.round(
                F.aggregate(
                    "sequence", F.lit(0.0), lambda acc, s: acc + s["value"]
                ),
                6,
            ).alias("s")
        )
    )
    gen.unpersist()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    real_sums = (
        ev.select(
            "user_id",
            F.round(
                F.sum("value").over(w.rowsBetween(Window.currentRow, 7)), 6
            ).alias("s"),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("_n"),
        )
        .where(F.col("_rn") <= F.col("_n") - 7)
        .select("s")
    )
    bounds = real_sums.agg(
        F.min("s").alias("_lo"), F.max("s").alias("_hi")
    )
    # isNotNull guard: an EMPTY real window set leaves NULL bounds —
    # NULL-propagating comparisons would make _ok (and precision) NULL
    # where the oracle's CASE WHEN yields 0; pin "not in support".
    in_support = (
        F.col("_lo").isNotNull()
        & (F.col("s") >= F.col("_lo"))
        & (F.col("s") <= F.col("_hi"))
    )
    # bin over the real support only: s == hi folds into bin 9 (the
    # half-open top bin closes); out-of-support rows get NO bin — the
    # earlier clamp-then-filter form silently binned above-max sums
    # into bin 9, blinding precision to high drift entirely.
    # degenerate-support guard: if every real sum is identical
    # (_hi == _lo) the width is zero — collapse to a single bin 0 on
    # both engines instead of a 0/0 whose NULL/NaN handling diverges.
    bin_col = F.when(
        in_support,
        F.when(
            F.col("_hi") > F.col("_lo"),
            F.least(
                F.floor(
                    F.lit(10.0)
                    * (F.col("s") - F.col("_lo"))
                    / (F.col("_hi") - F.col("_lo"))
                ),
                F.lit(9),
            ),
        ).otherwise(F.lit(0)),
    )

    def binned(df):
        return df.crossJoin(F.broadcast(bounds)).select(
            bin_col.alias("bin"), in_support.cast("int").alias("_ok")
        )

    real_bins = binned(real_sums)
    synth_bins = binned(synth_sums)
    rb = real_bins.select("bin").distinct()
    sb = synth_bins.where(F.col("_ok") == 1).select("bin").distinct()
    hit = rb.join(sb, "bin")
    prec = synth_bins.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_ok").alias("_in")
    )
    return (
        real_sums.agg(F.count(F.lit(1)).alias("n_real_windows"))
        .crossJoin(F.broadcast(prec))
        .crossJoin(
            F.broadcast(rb.agg(F.count(F.lit(1)).alias("_rbins")))
        )
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("_hbins"))))
        .select(
            "n_real_windows",
            F.col("_n").cast("bigint").alias("n_synth"),
            F.round(F.col("_in") / F.col("_n"), 6).alias("precision"),
            F.round(F.col("_hbins") / F.col("_rbins"), 6).alias("bin_recall"),
        )
    )


EV8_SQL = """
WITH r AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
), rsums AS (
  SELECT ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING), 6) AS s
  FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
          <= COUNT(*) OVER (PARTITION BY user_id) - 7
), mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), top AS (
  SELECT user_id, w FROM (
    SELECT user_id, p AS w, md5(user_id || '|' || p || '#17') AS rk
    FROM r WHERE p <= cnt - 8
  ) ORDER BY rk LIMIT 50
), ssums AS (
  SELECT ROUND(SUM((r2.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn)
                   + mm.mn), 6) AS s
  FROM top t CROSS JOIN (SELECT UNNEST(range(8)) AS step) st
  JOIN r r2 ON r2.user_id = t.user_id AND r2.p = t.w + st.step
  CROSS JOIN mm
  GROUP BY t.user_id, t.w
), bounds AS (
  SELECT MIN(s) AS lo, MAX(s) AS hi FROM rsums
), rbins AS (
  SELECT DISTINCT CASE WHEN (SELECT hi FROM bounds) > (SELECT lo FROM bounds)
    THEN LEAST(FLOOR(10.0 * (s - (SELECT lo FROM bounds))
               / ((SELECT hi FROM bounds) - (SELECT lo FROM bounds))), 9)
    ELSE 0 END AS bin
  FROM rsums
), sflag AS (
  SELECT s,
         CASE WHEN s >= (SELECT lo FROM bounds)
               AND s <= (SELECT hi FROM bounds) THEN 1 ELSE 0 END AS ok
  FROM ssums
), sbins AS (
  SELECT DISTINCT CASE WHEN (SELECT hi FROM bounds) > (SELECT lo FROM bounds)
    THEN LEAST(FLOOR(10.0 * (s - (SELECT lo FROM bounds))
               / ((SELECT hi FROM bounds) - (SELECT lo FROM bounds))), 9)
    ELSE 0 END AS bin
  FROM sflag WHERE ok = 1
)
SELECT (SELECT COUNT(*) FROM rsums) AS n_real_windows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sflag) AS n_synth,
       ROUND((SELECT SUM(ok) FROM sflag) * 1.0
             / (SELECT COUNT(*) FROM sflag), 6) AS precision,
       ROUND((SELECT COUNT(*) FROM rbins r JOIN sbins s ON r.bin = s.bin)
             * 1.0 / (SELECT COUNT(*) FROM rbins), 6) AS bin_recall
"""


def _univariate_tstr_summary(
    spark: SparkSession, sf_dir: str, seed: int, forecaster_factory=None
) -> DataFrame:
    """Shared TSTR orchestration behind ev2/ev3: normalise events to a
    dense daily panel (F1), fit both Spark-native generators, score
    each (generator, iteration) with the given forecaster in ONE
    batched plan, and emit the metric summary. The two declared
    queries differ only in seed and forecaster pluggable — keeping the
    calendar-fill/persist/score/unpersist discipline in one place."""
    from paqarin_spark.adapter import get_generator_adapter
    from paqarin_spark.metrics.univariate import (
        FORECAST_SCORE,
        UnivariateForecastScorer,
    )

    from paqarin_spark.generator import GeneratorParameters
    from paqarin_spark.schema import TimeSeriesSchema

    ev = _events(spark, sf_dir)
    # Panel scoring needs a regular per-item index: normalise to a
    # dense daily calendar (F1 — bucket-sum + gap-fill with zeros, the
    # reference's normalise_sequences semantics). Raw event timestamps
    # are irregular seconds, and at small scale even the daily series
    # has per-user holes that would fail the regularity filter.
    # Persist: the gap-fill pipeline (grid cross-join + agg + left
    # join) otherwise re-executes inside every downstream action —
    # generator window builds, panel ranking, per-iteration scoring.
    daily = (
        calendar_fill(ev, EVENTS_SCHEMA, bucket_column="bucket")
        .select("user_id", "bucket", "value")
        .persist()
    )
    daily_schema = TimeSeriesSchema(
        item_id_columns=("user_id",),
        timestamp_column="bucket",
        value_columns=("value",),
        frequency="D",
    )
    p = GeneratorParameters(schema=daily_schema, sequence_length=8, seed=seed)
    gens = {
        "bootstrap": get_generator_adapter("paqarin_spark", "bootstrap", p),
        "gaussian": get_generator_adapter("paqarin_spark", "gaussian", p),
    }
    scorer_kwargs = dict(
        prediction_length=7, iterations=2, number_of_sequences=30
    )
    if forecaster_factory is not None:
        scorer_kwargs["forecaster_factory"] = forecaster_factory
    scorer = UnivariateForecastScorer(**scorer_kwargs)
    for gen in gens.values():
        gen.fit(daily)
    # One batched plan scores every (generator, iteration) pair — the
    # scoring pass is a single collect instead of one per generator.
    scorer.calculate_many(gens, daily)
    out = scorer.metric_manager.summary(FORECAST_SCORE)
    scorer.unpersist()
    for gen in gens.values():
        gen.unpersist()
    daily.unpersist()
    return out


def ev2_univariate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate TSTR orchestration (ops F2+F4+F7+H2+I2-I4+J4
    boundary, `paqarin/metrics/univariate_metrics.py:130-277`): fit
    both Spark-native generators on events, score with the
    weekday-profile forecaster trained on synthetic panels, emit the
    summary rows (rows-only — seeded sampling output)."""
    return _univariate_tstr_summary(spark, sf_dir, seed=17)


def ev3_drift_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev2's TSTR orchestration under the SECOND J4 pluggable
    (SeasonalNaiveDriftForecaster): same generators, same panel
    pipeline, batched scoring plan specialised to the drift model —
    per-combo drift scalar + weekday-offset dims grouped on the
    (generator, iteration) tag, one MAE collect. Together with ev2
    the two summaries show the ranking discriminating by which
    structure each generator's synthetic data preserves (rows-only —
    seeded sampling output)."""
    from paqarin_spark.metrics.univariate import SeasonalNaiveDriftForecaster

    return _univariate_tstr_summary(
        spark, sf_dir, seed=23, forecaster_factory=SeasonalNaiveDriftForecaster
    )


# --------------------------------------------------------------------------
# Time-series join family (as-of / range / session — operators a
# large-scale event pipeline needs that the reference lacks; batch
# analogues of Flink temporal joins and session windows)


def q28_asof_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.joins.asof_join): attach to every event
    its user's most recent Monday daily-sum checkpoint. Single shuffle
    on the key — no interval explosion."""
    ev = _events(spark, sf_dir)
    daily = time_bucket_sum(ev, EVENTS_SCHEMA, bucket_column="bucket")
    checkpoints = daily.filter(F.weekday("bucket") == 0).select(
        "user_id", "bucket", F.round("value", 6).alias("checkpoint_sum")
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        checkpoints,
        on=["user_id"],
        left_ts="ts",
        right_ts="bucket",
    )
    return out.select(
        "event_id",
        "user_id",
        "checkpoint_sum",
        F.date_format("matched_ts", "yyyy-MM-dd").alias("checkpoint_day"),
    )


Q28_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS bucket,
         ROUND(SUM(value), 6) AS checkpoint_sum
  FROM events GROUP BY 1, 2
), cp AS (
  SELECT * FROM daily WHERE EXTRACT(ISODOW FROM bucket) = 1
)
SELECT e.event_id, e.user_id, cp.checkpoint_sum,
       strftime(cp.bucket, '%Y-%m-%d') AS checkpoint_day
FROM events e ASOF LEFT JOIN cp
  ON e.user_id = cp.user_id AND e.ts >= cp.bucket
ORDER BY e.event_id
"""


def q58_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient salted join (operators.joins.salted_join):
    lineitem ⋈ orders spread across 8 salt buckets, then revenue per
    order priority. The oracle is the PLAIN join — proving salting is
    a pure physical rewrite (per-row scatter on the left, bucket
    replication on the right) with zero semantic drift."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    dec = "decimal(30,10)"
    joined = salted_join(
        li.select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_r"),
        ),
        orders,
        on=["l_orderkey"],
        salt_buckets=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("_r").cast(dec)).cast("double"), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q58_SQL = """
SELECT o_orderpriority,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))) AS DOUBLE), 4) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""


def q59_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance (the variant q28 doesn't
    exercise): every event matched to its user's NEXT Monday
    checkpoint, nulled when it is more than 3 days ahead. Gap compared
    in integer microseconds on both engines; the oracle expresses
    forward-as-of as a correlated MIN(bucket >= ts) subquery."""
    ev = _events(spark, sf_dir)
    daily = time_bucket_sum(ev, EVENTS_SCHEMA, bucket_column="bucket")
    checkpoints = daily.filter(F.weekday("bucket") == 0).select(
        "user_id", "bucket", F.round("value", 6).alias("checkpoint_sum")
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        checkpoints,
        on=["user_id"],
        left_ts="ts",
        right_ts="bucket",
        direction="forward",
        tolerance="3 days",
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("checkpoint_sum").alias("n_matched"),
        F.round(F.sum("checkpoint_sum"), 6).alias("sum_matched"),
        F.max(
            F.unix_micros("matched_ts") - F.unix_micros("ts")
        ).alias("max_gap_us"),
    )


Q59_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS bucket,
         ROUND(SUM(value), 6) AS checkpoint_sum
  FROM events GROUP BY 1, 2
), cp AS (
  SELECT * FROM daily WHERE EXTRACT(ISODOW FROM bucket) = 1
), matched AS (
  SELECT e.event_id, e.user_id, e.ts,
         (SELECT MIN(c.bucket) FROM cp c
          WHERE c.user_id = e.user_id AND c.bucket >= e.ts) AS m
  FROM events e
), tol AS (
  SELECT user_id, ts,
         CASE WHEN m IS NOT NULL
                   AND epoch_us(m) - epoch_us(ts) <= 3 * 86400000000
              THEN m END AS m
  FROM matched
)
SELECT t.user_id,
       COUNT(*) AS n_events,
       COUNT(c.checkpoint_sum) AS n_matched,
       ROUND(SUM(c.checkpoint_sum), 6) AS sum_matched,
       MAX(epoch_us(t.m) - epoch_us(t.ts)) AS max_gap_us
FROM tol t
LEFT JOIN cp c ON c.user_id = t.user_id AND c.bucket = t.m
GROUP BY 1 ORDER BY 1
"""


def q29_range_hot_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (operators.joins.range_point_join): events
    falling inside above-average global days, joined point-in-interval
    via day-width hash bins (equi-join, never a nested loop)."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.date_trunc("DAY", "ts").alias("d")).agg(
        F.sum("value").alias("s")
    )
    thresh = daily.agg(F.avg("s").alias("avg_s"))
    hot = (
        daily.join(F.broadcast(thresh))
        .filter(F.col("s") > F.col("avg_s"))
        .select("d", (F.col("d") + F.expr("INTERVAL 1 DAY")).alias("d_end"))
    )
    joined = range_point_join(
        ev.select("event_id", "ts", "value"),
        hot,
        on=[],
        point="ts",
        range_start="d",
        range_end="d_end",
        bin_width_seconds=86400,
    )
    return joined.groupBy(F.date_format("d", "yyyy-MM-dd").alias("hot_day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


Q29_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, SUM(value) AS s FROM events GROUP BY 1
), hot AS (
  SELECT d, d + INTERVAL 1 DAY AS d_end FROM daily
  WHERE s > (SELECT AVG(s) FROM daily)
)
SELECT strftime(h.d, '%Y-%m-%d') AS hot_day,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 6) AS sum_value
FROM events e JOIN hot h ON e.ts >= h.d AND e.ts < h.d_end
GROUP BY 1 ORDER BY 1
"""


def q50_left_range_cold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT binned range join (operators.joins.range_point_join
    how='left'): every event tagged with its above-average day, events
    on cold days kept with a null interval and rolled into a '(none)'
    bucket — proves outer semantics survive the bin+residual-filter
    rewrite (unmatched rows recovered by null-safe anti-join)."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.date_trunc("DAY", "ts").alias("d")).agg(
        F.sum("value").alias("s")
    )
    thresh = daily.agg(F.avg("s").alias("avg_s"))
    hot = (
        daily.join(F.broadcast(thresh))
        .filter(F.col("s") > F.col("avg_s"))
        .select("d", (F.col("d") + F.expr("INTERVAL 1 DAY")).alias("d_end"))
    )
    joined = range_point_join(
        ev.select("event_id", "ts", "value"),
        hot,
        on=[],
        point="ts",
        range_start="d",
        range_end="d_end",
        bin_width_seconds=86400,
        how="left",
    )
    return joined.groupBy(
        F.coalesce(F.date_format("d", "yyyy-MM-dd"), F.lit("(none)")).alias(
            "hot_day"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


Q50_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, SUM(value) AS s FROM events GROUP BY 1
), hot AS (
  SELECT d, d + INTERVAL 1 DAY AS d_end FROM daily
  WHERE s > (SELECT AVG(s) FROM daily)
)
SELECT COALESCE(strftime(h.d, '%Y-%m-%d'), '(none)') AS hot_day,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 6) AS sum_value
FROM events e LEFT JOIN hot h ON e.ts >= h.d AND e.ts < h.d_end
GROUP BY 1 ORDER BY 1
"""


def q51_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from brand lineitems below 20% of
    their part's average quantity. Written decorrelated: the
    per-part averages aggregate first (map-side partials on
    l_partkey), then one join+filter — never a per-row subquery.
    The brand filter prunes the part side to a broadcastable dim."""
    configure_for_determinism(spark)
    return tpch.q17_small_qty_revenue(spark, sf_dir, **_Q51_KNOBS)


_Q51_KNOBS = dict(
    brand="Brand#13", avg_scope="all", count_alias="n_lines", dp=4
)

Q51_SQL = tpch.q17_sql(**_Q51_KNOBS)


def q52_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a disjunction of
    (brand, size-band, quantity-band) predicates. One broadcast join
    with the OR evaluated as a single codegen'd predicate — Catalyst
    extracts the common p_partkey conjunct; no union-of-three-scans."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    dec = "decimal(30,10)"
    bands = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(bands)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast(dec)
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


Q52_SQL = """
SELECT p_brand,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))) AS DOUBLE), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 30)
GROUP BY 1 ORDER BY 1
"""


def q53_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose 1996-Q1 revenue equals the
    maximum. The revenue view aggregates once and is self-consumed:
    max is a one-row broadcast, equality compares the UNROUNDED
    decimal-sum doubles (bit-identical on both engines), so float
    ties are exact."""
    configure_for_determinism(spark)
    return tpch.q15_top_supplier(spark, sf_dir, order=None, **_Q53_KNOBS)


_Q53_KNOBS = dict(rev_mode="double", rev_alias="total_rev", dp=4)

Q53_SQL = tpch.q15_sql(**_Q53_KNOBS)


def q54_promo_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted — no partsupp table in the star):
    suppliers who shipped >300 units of PROMO parts in 1997, via a
    semi-join chain: part filter (broadcast) → lineitem aggregate →
    left_semi onto supplier. Quantity sums are integral doubles
    (<2^53), so the HAVING threshold is order-exact without decimal."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supp = read_table(spark, sf_dir, "supplier")
    bulk = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(part, li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 300.0)
    )
    return supp.join(
        bulk, supp.s_suppkey == bulk.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


Q54_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
  GROUP BY 1 HAVING SUM(l_quantity) > 300.0
)
ORDER BY 1
"""


_Q55_KNOBS = dict(
    cutoff="1999-01-01",
    threshold="sumcount_double",
    group="nationkey",
    group_alias="c_nationkey",
    count_alias="numcust",
    sum_alias="totacctbal",
    dp=4,
)


def q55_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nationkey standing in for the phone prefix):
    customers with above-average positive balance and no recent
    (1999+) orders — scalar-subquery threshold (one-row broadcast) +
    anti-join, grouped per nation. The average compares unrounded
    decimal-sum doubles; only the output sum rounds.
    (plans/tpch_families.q22_dormant_rich — the Q22 family's shared
    plan; this variant's knobs in _Q55_KNOBS.)"""
    configure_for_determinism(spark)
    return tpch.q22_dormant_rich(spark, sf_dir, order=None, **_Q55_KNOBS)


Q55_SQL = tpch.q22_sql(**_Q55_KNOBS)


def q30_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators.sessions): 12-hour
    inactivity gap per user, per-session bounds/counts/sums."""
    ev = _events(spark, sf_dir)
    out = session_stats(
        ev,
        "user_id",
        "ts",
        gap_seconds=43200,
        value_column="value",
        order_columns=("event_id",),
    )
    return out.select(
        "user_id",
        "session_id",
        F.date_format("session_start", TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end", TS_FMT_SPARK).alias("session_end"),
        "n_events",
        "value_sum",
    )


Q30_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) - 1
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(MAX(ts), '{TS_FMT_DUCK}') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS value_sum
FROM numbered GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Relational breadth: rollup, exact quantiles, two more TPC-H shapes


def q35_multi_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup reuse (hypertable continuous-aggregate
    pattern): monthly per-entity sums derived FROM the daily aggregate,
    never from raw — at 100 TB the coarse rollup reads the small
    pre-aggregate. The oracle aggregates raw directly, so the check
    proves the rollup-reuse identity sum(daily)==sum(raw)."""
    ev = _events(spark, sf_dir)
    daily = time_bucket_sum(ev, EVENTS_SCHEMA, bucket_column="bucket")
    return (
        daily.groupBy(
            "user_id", F.date_trunc("MONTH", "bucket").alias("month_start")
        )
        .agg(
            F.round(F.sum("value"), 6).alias("month_sum"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select(
            "user_id",
            F.date_format("month_start", "yyyy-MM-dd").alias("month"),
            "month_sum",
            "n_days",
        )
    )


Q35_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS d, SUM(value) AS v
  FROM events GROUP BY 1, 2
)
SELECT user_id, strftime(date_trunc('month', d), '%Y-%m-%d') AS month,
       ROUND(SUM(v), 6) AS month_sum, COUNT(*) AS n_days
FROM daily GROUP BY 1, 2 ORDER BY 1, 2
"""


def q36_inactive_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (left_anti — the NOT EXISTS plan shape): customers
    with no orders in 1997+, counted per nation. Broadcast the nation
    dim; the anti-join shuffles on the key like a semi-join, no
    fan-out."""
    configure_for_determinism(spark)
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    nation = read_table(spark, sf_dir, "nation")
    inactive = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        inactive.join(F.broadcast(nation), inactive.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


Q36_SQL = """
SELECT n_name, COUNT(*) AS n_inactive
FROM customer c JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY 1 ORDER BY 1
"""


def q39_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window (relational generality; the
    reference's only top-k is a global argmin): top-3 events by value
    per user. The rank window partitions on the group key — parallel
    across users, never a global sort."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "user_id",
            F.col("rk").cast("long").alias("rk"),
            "event_id",
            F.round("value", 6).alias("value"),
        )
    )


Q39_SQL = """
SELECT user_id, CAST(rk AS BIGINT) AS rk, event_id, ROUND(value, 6) AS value
FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rk
  FROM events
) WHERE rk <= 3 ORDER BY user_id, rk
"""


def q40_above_average_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders 1.5× above their customer's
    average), written decorrelated: per-customer averages aggregate
    first (partial-agg shuffle on the key), then join+filter — the
    plan Catalyst's decorrelation would produce from the subquery."""
    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    # Decimal-sum average: float avg differs in the 4th decimal across
    # engines' summation orders; sum(DECIMAL)/count is order-exact.
    avg_per_cust = orders.groupBy(F.col("o_custkey").alias("_ck")).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg_price")
    )
    return (
        orders.join(avg_per_cust, orders.o_custkey == F.col("_ck"))
        .where(F.col("o_totalprice") > F.col("_avg_price") * 1.5)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            # the average itself stays out of the output: its quotient
            # can land exactly on a .5 at any fixed rounding scale,
            # where Spark (HALF_UP) and DuckDB disagree; the filter
            # compares the unrounded doubles, which are identical
        )
    )


Q40_SQL = """
WITH avgs AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
           / COUNT(*) AS cust_avg
  FROM orders GROUP BY 1
)
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS o_totalprice
FROM orders JOIN avgs ON o_custkey = ck
WHERE o_totalprice > cust_avg * 1.5
ORDER BY o_orderkey
"""


def q41_churned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT = ``subtract``): users active in
    the first week of the window but absent on its final day. Distinct
    projections shuffle on the key; the except is a hash anti-join on
    tiny sets."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.min("ts").alias("_mn"), F.max("ts").alias("_mx")
    )
    with_b = ev.join(F.broadcast(bounds))
    first_week = with_b.where(
        F.col("ts") < F.col("_mn") + F.expr("INTERVAL 7 DAYS")
    ).select("user_id")
    last_day = with_b.where(
        F.col("ts") >= F.col("_mx") - F.expr("INTERVAL 1 DAY")
    ).select("user_id")
    return first_week.subtract(last_day)


Q41_SQL = """
WITH b AS (SELECT MIN(ts) AS mn, MAX(ts) AS mx FROM events)
SELECT DISTINCT user_id FROM events, b
WHERE ts < mn + INTERVAL 7 DAY
EXCEPT
SELECT DISTINCT user_id FROM events, b
WHERE ts >= mx - INTERVAL 1 DAY
ORDER BY user_id
"""


def em5_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the k-means/IVF training
    primitive): element-wise mean per (label, dimension) via
    posexplode + partial-agg groupBy — dimension fan-out is the
    shuffle key, never a driver-side matrix."""
    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("dim", "x"),
        )
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("x"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


EM5_SQL = """
SELECT label, CAST(t.i - 1 AS INTEGER) AS dim,
       ROUND(AVG(CAST(embedding[t.i] AS DOUBLE)), 6) AS centroid,
       COUNT(*) AS n_vectors
FROM embeddings CROSS JOIN range(1, 65) t(i)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def em7_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the k-means E-step / IVF coarse
    quantizer): every vector assigned to the closest label centroid by
    squared L2. Centroids round to 6 dp FIRST so both engines compare
    identical inputs; per-(vector, centroid) distances sum 64
    decimal-cast terms (q14 pattern — order-independent); argmin via
    row_number ordered (distance, label). The centroid set is
    dims×labels — a broadcast, so the fan-out join never shuffles the
    vector side; at 100 TB this is the mapInPandas-free assignment
    path as long as k×d stays broadcastable."""
    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    cent = (
        emb.select(
            F.col("label").alias("c_label"),
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("dim", "cx"),
        )
        .groupBy("c_label", "dim")
        .agg(F.round(F.avg("cx"), 6).alias("c"))
    )
    d2 = (
        dims.join(F.broadcast(cent), on="dim")
        .groupBy("vec_id", "c_label")
        .agg(
            F.sum(
                ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).cast(
                    "decimal(30,10)"
                )
            )
            .cast("double")
            .alias("_d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("_d2", "c_label")
    return (
        d2.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "vec_id",
            F.col("c_label").alias("assigned_label"),
            F.round("_d2", 6).alias("dist_sq"),
        )
    )


EM7_SQL = """
WITH cent AS (
  SELECT label AS c_label, CAST(t.i - 1 AS INTEGER) AS dim,
         ROUND(AVG(CAST(embedding[t.i] AS DOUBLE)), 6) AS c
  FROM embeddings CROSS JOIN range(1, 65) t(i)
  GROUP BY 1, 2
), d2 AS (
  SELECT e.vec_id, cent.c_label,
         CAST(SUM(CAST(
           (CAST(e.embedding[cent.dim + 1] AS DOUBLE) - cent.c)
           * (CAST(e.embedding[cent.dim + 1] AS DOUBLE) - cent.c)
           AS DECIMAL(30,10))) AS DOUBLE) AS _d2
  FROM embeddings e CROSS JOIN cent
  GROUP BY 1, 2
)
SELECT vec_id, c_label AS assigned_label, ROUND(_d2, 6) AS dist_sq
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY _d2, c_label
  ) AS _rn FROM d2
)
WHERE _rn = 1 ORDER BY vec_id
"""


def q42_cube_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all grouping-set combinations of event type ×
    ISO weekday) — one pass, partial-agg per grouping set."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            "event_type",
            (F.weekday("ts") + 1).cast("long").alias("isodow"),
            "value",
        )
        .cube("event_type", "isodow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
    )


Q42_SQL = """
SELECT event_type, CAST(EXTRACT(ISODOW FROM ts) AS BIGINT) AS isodow,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, isodow)
ORDER BY 1, 2
"""


def q43_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type (robust spread —
    nested exact quantiles): MAD = median(|x - median(x)|). Two
    percentile aggregations with a broadcast join between them."""
    ev = _events(spark, sf_dir)
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("_med")
    )
    return (
        ev.join(F.broadcast(med), on="event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("_med"), 6).alias("median_value"),
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("_med")), F.lit(0.5)), 6
            ).alias("mad_value"),
        )
    )


Q43_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY 1
)
SELECT e.event_type,
       ROUND(MIN(m), 6) AS median_value,
       ROUND(quantile_cont(ABS(value - m), 0.5), 6) AS mad_value
FROM events e JOIN med USING (event_type)
GROUP BY 1 ORDER BY 1
"""


def q49_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-string surface: register the relations as
    views and run the pricing-summary oracle text VERBATIM through
    ``spark.sql`` — one SQL string, two engines, identical result.
    Proves dialect-level parity, not just DataFrame-plan parity."""
    from paqarin_spark.sources import register_views

    configure_for_determinism(spark)
    register_views(spark, sf_dir)
    return spark.sql(Q14_SQL)


Q49_SQL = Q14_SQL  # the whole point: one text, two engines


# One SQL text for both engines (the q49 contract): arbitrary
# GROUPING SETS — the generalization q31's ROLLUP and q42's CUBE are
# special cases of. Group markers surface through COALESCE (no NULL
# returnflag/linestatus exists in the data), the revenue sum runs
# through the exact-decimal contract, and both engines produce the
# identical grouping-set union in one aggregation pass (Spark expands
# to an Expand + single exchange, not one scan per set).
Q75_SQL = """
SELECT COALESCE(l_returnflag, '*') AS returnflag,
       COALESCE(l_linestatus, '*') AS linestatus,
       COUNT(*) AS n_rows,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(30,10))) AS DOUBLE), 4) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY returnflag, linestatus
"""


def q75_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS in one aggregation pass — detail,
    per-returnflag subtotals, and the grand total from a single
    lineitem scan (one Expand + one exchange, vs q31's ROLLUP / q42's
    CUBE special cases). Same SQL text runs on both engines (the q49
    dialect-parity contract)."""
    from paqarin_spark.sources import register_views

    configure_for_determinism(spark)
    register_views(spark, sf_dir)
    return spark.sql(Q75_SQL)


def q45_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between two event types' daily volumes
    (cross-series dependence — the screen before joint modeling):
    pivot the daily type sums, then one corr aggregate."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.date_trunc("DAY", "ts").alias("d")).pivot(
        "event_type", ["click", "view"]
    ).agg(F.sum("value"))
    return daily.agg(
        F.round(F.corr("click", "view"), 6).alias("corr_click_view"),
        F.count(F.lit(1)).alias("n_days"),
    )


Q45_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         SUM(CASE WHEN event_type = 'click' THEN value END) AS click,
         SUM(CASE WHEN event_type = 'view' THEN value END) AS view
  FROM events GROUP BY 1
)
SELECT ROUND(corr(click, view), 6) AS corr_click_view,
       COUNT(*) AS n_days
FROM daily
"""


def q46_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user cumulative sums over the daily series (the
    balance/odometer shape): unbounded-preceding window over the
    pre-aggregated daily frame — the window sorts days per user, not
    raw events."""
    ev = _events(spark, sf_dir)
    daily = time_bucket_sum(ev, EVENTS_SCHEMA, bucket_column="bucket")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        F.round(F.sum(F.col("value").cast("decimal(30,10)")).over(w).cast("double"), 4).alias(
            "running_sum"
        ),
    )


Q46_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS bucket, SUM(value) AS v
  FROM events GROUP BY 1, 2
)
SELECT user_id, strftime(bucket, '%Y-%m-%d') AS day,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(30,10)))
                    OVER (PARTITION BY user_id ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4)
         AS running_sum
FROM daily ORDER BY 1, 2
"""


def q47_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (share) per nation: group sums against a
    1-row broadcast grand total — never a global window over the
    detail rows."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    dec = "decimal(30,10)"
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(dec)
            ).alias("_r")
        )
    )
    total = rev.agg(F.sum("_r").alias("_t"))
    return rev.join(F.broadcast(total)).select(
        "n_name",
        F.round(F.col("_r").cast("double"), 4).alias("revenue"),
        F.round((F.col("_r") / F.col("_t")).cast("double"), 6).alias("share"),
    )


Q47_SQL = """
WITH rev AS (
  SELECT n_name,
         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))) AS r
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1
)
SELECT n_name, ROUND(CAST(r AS DOUBLE), 4) AS revenue,
       ROUND(CAST(r / (SELECT SUM(r) FROM rev) AS DOUBLE), 6) AS share
FROM rev ORDER BY 1
"""


def q48_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type (distribution
    profiling): bucket = floor(value / 50) — a groupBy expression, so
    the histogram is one partial-agg shuffle at any scale (DuckDB 1.0
    has no width_bucket; floor-bucketing is the portable form)."""
    ev = _events(spark, sf_dir)
    bucket = F.floor(F.col("value") / 50).cast("long")
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


Q48_SQL = """
SELECT event_type, CAST(FLOOR(value / 50) AS BIGINT) AS bucket, COUNT(*) AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q56_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity exponential moving average (the classic sequential
    fold SQL engines struggle with): collect the ordered value series
    per entity, fold it with ``F.aggregate`` (a codegen'd expression —
    no UDF, no driver loop), seeded with the first element:
    ema = 0.3·x + 0.7·ema_prev. Both engines fold left-to-right over
    identical doubles (DuckDB mirrors with list_reduce), so the result
    is bit-identical before rounding. State is O(history) per entity
    in one array — the same per-entity memory contract as F3
    windowing; entities themselves parallelize freely."""
    ev = _events(spark, sf_dir)
    seq = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("_s")
    )
    vals = F.transform("_s", lambda r: r["value"])
    ema = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return seq.select(
        "user_id",
        F.round(ema, 6).alias("ema"),
        F.size(vals).cast("long").alias("n_obs"),
    )


Q56_SQL = """
SELECT user_id,
       ROUND(list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ema,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM events GROUP BY 1 ORDER BY 1
"""


def q60_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-bounded RANGE window (the trailing-aggregate family
    RANGE frames exist for): per event, the sum and count of the same
    user's events in the trailing 7 days INCLUDING the current second.
    Frame membership is time-valued, not row-counted — duplicate
    timestamps all enter the frame on both engines, so no tie-break is
    needed; the float sum rounds through the decimal path. The frame
    bound is INTEGER MICROSECONDS on both engines (events carry
    sub-second precision; a seconds-truncated ordering key would move
    boundary rows between frames). One shuffle on the user key,
    per-partition ordered scan — O(n) with a sliding frame, no
    self-join."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    dec = "decimal(30,10)"
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(F.col("value").cast(dec)).over(w).cast("double"), 6
        ).alias("trail_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("trail_n"),
    )


Q60_SQL = """
SELECT event_id, user_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE), 6)
         AS trail_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
)
ORDER BY event_id
"""


def q57_order_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile profile of order prices (mixture/quality binning
    for corpus curation): tie-broken by order key so the decile
    assignment is total-order deterministic on both engines. Round
    12: the exact global NTILE now runs through
    operators.windows.distributed_ntile — equal-width price buckets
    (broadcast [min,max]) rank in parallel and a constant-1024-row
    bucket-offset rollup reconstructs the exact global rank, so NO
    task ever sorts the full orders table; bit-identical to the
    single-window NTILE the oracle replays."""
    from paqarin_spark.operators import distributed_ntile

    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    dec = "decimal(30,10)"
    tiled = distributed_ntile(
        orders.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        10,
        tile_column="decile",
    )
    return (
        tiled.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast(dec)).cast("double"), 4
            ).alias("sum_price"),
        )
    )


Q57_SQL = """
SELECT CAST(decile AS BIGINT) AS decile,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 4)
         AS sum_price
FROM (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
GROUP BY 1 ORDER BY 1
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q37_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide panel via pivot (B4 generalization — long↔wide is the
    boundary between the engine's long format and classic panel
    tools): per-user value sums pivoted into one column per event
    type. The pivot value list is DECLARED, not discovered, so the
    plan is a single groupBy — no extra distinct-scan job and a
    deterministic schema at any scale."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.round(F.sum("value"), 6))
    )


Q37_SQL = f"""
SELECT user_id,
       {', '.join(
           "ROUND(SUM(CASE WHEN event_type = '" + t + "' THEN value END), 6)"
           " AS " + t
           for t in EVENT_TYPES
       )}
FROM events GROUP BY 1 ORDER BY 1
"""


def q38_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the q37 wide panel back to long — the inverse
    boundary op; nulls (user × type combos with no events) drop on
    both engines, so the roundtrip re-derives exactly the per-(user,
    type) sums."""
    wide = q37_pivot_event_types(spark, sf_dir)
    return wide.unpivot(
        ids=["user_id"],
        values=list(EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="type_sum",
    ).where(F.col("type_sum").isNotNull())


Q38_SQL = """
SELECT user_id, event_type, ROUND(SUM(value), 6) AS type_sum
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q31_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (north-star relational generality; absent in
    the reference — SURVEY.md §2 'Not present'): revenue by
    (nation, order year) with subtotal and grand-total rows, computed
    in one pass by Spark's partial-agg rollup. Dims broadcast."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    dec = "decimal(30,10)"
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("_r"),
        )
    )
    return rev.rollup("n_name", "o_year").agg(
        F.round(F.sum(F.col("_r").cast(dec)).cast("double"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q31_SQL = """
SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(30,10))) AS DOUBLE), 4) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, o_year)
ORDER BY 1, 2
"""


def q32_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (D-family breadth): per
    document source, median and p90 of document length. Spark
    ``percentile`` == DuckDB ``quantile_cont`` (both linear
    interpolation). The exact form shuffles the group's values; at
    100 TB swap in ``approx_percentile`` (t-digest, partial-agg) —
    same API shape, documented trade."""
    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("median_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90_chars"),
    )


Q32_SQL = """
SELECT source, COUNT(*) AS n_docs,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS median_chars,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars
FROM documents GROUP BY 1 ORDER BY 1
"""


def q33_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 150 —
    pre-aggregate lineitem on its join key (map-side partials), THEN
    join the small survivor set; never order×lineitem first."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    dec = "decimal(30,10)"
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_quantity").cast(dec)).cast("double"), 4).alias("sum_qty"))
        .where(F.col("sum_qty") > 150.0)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "sum_qty",
        )
    )


Q33_SQL = """
WITH big AS (
  SELECT l_orderkey,
         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum_qty > 150.0
)
SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       ROUND(o_totalprice, 4) AS o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey
"""


def q34_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between supplier-nation and
    customer-nation pairs per ship year. Two broadcast dim chains onto
    one fact shuffle — the join order a 100 TB plan needs."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    dec = "decimal(30,10)"
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(dec)
                ).cast("double"),
                4,
            ).alias("volume")
        )
    )


Q34_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(30,10))) AS DOUBLE), 4) AS volume
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q61_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of ECONOMY-part
    revenue among AMERICA-region customers, per order year —
    conditional aggregation over a two-sided broadcast dim chain
    (part/supplier/nation on the lineitem side, customer/nation/region
    on the orders side) with the only big-table shuffle being
    lineitem ⨝ orders on the order key."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate").between(1996, 1997)
    )
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n_c = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n_s = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    dec = "decimal(30,10)"
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(dec)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                (
                    F.sum(
                        F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
                            F.lit(0).cast(dec)
                        )
                    )
                    / F.sum(vol)
                ).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


Q61_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(CAST(SUM(CASE WHEN n2.n_name = 'NATION_1'
                           THEN CAST(l_extendedprice * (1.0 - l_discount)
                                     AS DECIMAL(30,10))
                           ELSE CAST(0 AS DECIMAL(30,10)) END)
                  / SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(30,10))) AS DOUBLE), 6) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE EXTRACT(YEAR FROM o_orderdate) BETWEEN 1996 AND 1997
GROUP BY 1 ORDER BY 1
"""


def q62_custorder_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts
    INCLUDING zero-order customers — the filter must live inside the
    left join condition (a WHERE would turn it inner and drop the
    zeros), then two stacked aggregations. o_orderpriority stands in
    for Q13's o_comment exclusion (no comment column in this schema)."""
    configure_for_determinism(spark)
    return tpch.q13_custorder_distribution(
        spark, sf_dir, exclude=F.col("o_orderpriority") != "1-URGENT"
    )


Q62_SQL = tpch.q13_sql(exclude_sql="o.o_orderpriority <> '1-URGENT'")


def q63_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: pseudo-profit by supplier nation and order
    year over parts whose name contains 'widget'. The schema carries
    no partsupp table, so ps_supplycost is replaced by a retail-price
    cost basis (0.5 · p_retailprice · l_quantity) — a documented
    deviation that preserves Q9's plan shape: name-filtered part dim
    broadcast under the fact, supplier/nation broadcast chain,
    decimal-exact aggregation."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part").where(
        F.col("p_name").contains("widget")
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    dec = "decimal(30,10)"
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(dec)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(amount).cast("double"), 4).alias("sum_profit"))
    )


Q63_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           - 0.5 * p_retailprice * l_quantity
                           AS DECIMAL(30,10))) AS DOUBLE), 4) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q64_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (p25/p50/p75 of event value by
    type) via SQL ``percentile`` — linear interpolation on the sorted
    group, matching DuckDB's ``quantile_cont`` bit-for-bit at 6
    decimals. Exact percentile buffers each group's values on its
    reducer, which is fine for bounded per-group cardinality (event
    types here); the 100-TB escape hatch for unbounded groups is
    ``approx_percentile`` with a pinned accuracy — same plan shape,
    sketch-mergeable map-side state, no full buffering."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    pct = F.expr("percentile(value, array(0.25D, 0.5D, 0.75D))")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.element_at(pct, 1), 6).alias("p25"),
            F.round(F.element_at(pct, 2), 6).alias("p50"),
            F.round(F.element_at(pct, 3), 6).alias("p75"),
        )
        .orderBy("event_type")
    )


Q64_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75
FROM events GROUP BY 1 ORDER BY 1
"""


def q65_cold_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers DORMANT since
    2000-01-01 (no orders on/after the cutoff), rolled up by nation.
    Exercises the scalar-subquery + ANTI-join pattern: the
    positive-balance average is a 1-row broadcast under a cross join
    (never a driver collect), the dormancy predicate is a left ANTI
    join against the date-filtered orders — the filter pushes to the
    orders scan, the anti join is null-safe with no fan-out, and at
    scale both sides hash-exchange on the key while AQE can flip the
    shrunken recent-orders side to broadcast."""
    configure_for_determinism(spark)
    return tpch.q22_dormant_rich(spark, sf_dir, order="nation", **_Q65_KNOBS)


_Q65_KNOBS = dict(
    cutoff="2000-01-01",
    threshold="avg_double",
    group="nation_name",
    group_alias="nation",
    count_alias="n_cold",
    sum_alias="total_bal",
    dp=2,
)

Q65_SQL = tpch.q22_sql(**_Q65_KNOBS)


def q66_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (Markov counts +
    row-normalized probabilities) — the sequence-mining primitive
    behind funnel and next-action analyses. The lag window partitions
    per user (users parallelize freely; no global window), the count
    is one shuffle on the (prev, next) pair, and the row
    normalization is a partition-local window over at most
    |event_types| rows."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = steps.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    row_total = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(F.col("n_trans") / F.sum("n_trans").over(row_total), 6).alias(
            "p_trans"
        ),
    ).orderBy("prev_type", "next_type")


Q66_SQL = """
WITH steps AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
), counts AS (
  SELECT prev_type, next_type, COUNT(*) AS n_trans
  FROM steps WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n_trans,
       ROUND(n_trans / SUM(n_trans) OVER (PARTITION BY prev_type), 6)
         AS p_trans
FROM counts ORDER BY 1, 2
"""


def q67_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count ESTIMATION via a deterministic KMV (k minimum
    values) sketch, evaluated against the exact count — the
    cardinality-sketch pattern (HLL's simpler cousin) built from
    portable primitives so even the estimator itself is
    value-checkable in the oracle: hash each key to (0,1) via an
    md5-prefix, keep each group's k smallest, estimate
    (k-1)/kth_value. At scale the k smallest per group come out of
    one shuffle with partial top-k pruning; here the rank window runs
    per event_type. Spark's own approx_count_distinct(HLL++) is the
    production path; this query pins the math end to end."""
    configure_for_determinism(spark)
    k = 32
    ev = _events(spark, sf_dir)
    keys = ev.select("event_type", "user_id").distinct()
    hashed = keys.select(
        "event_type",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("double")
            / F.lit(float(1 << 60))
        ).alias("u"),
    )
    w = Window.partitionBy("event_type").orderBy("u")
    kth = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == k)
        .select("event_type", F.col("u").alias("u_k"))
    )
    exact = keys.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    # Standard KMV small-set degeneracy: a sketch holding fewer than k
    # values IS the exact distinct set, so the estimate falls back to
    # the exact count (left join + coalesce).
    est = F.coalesce(
        F.lit(k - 1) / F.col("u_k"), F.col("n_exact").cast("double")
    )
    return (
        exact.join(kth, "event_type", "left")
        .select(
            "event_type",
            "n_exact",
            F.round(est, 4).alias("n_kmv"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


Q67_SQL = """
WITH keys AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
           / 1152921504606846976.0 AS u
  FROM keys
), kth AS (
  SELECT event_type, u AS u_k FROM (
    SELECT event_type, u,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn
    FROM hashed
  ) WHERE rn = 32
), exact AS MATERIALIZED (
  SELECT event_type, COUNT(*) AS n_exact FROM keys GROUP BY 1
)
SELECT e.event_type, e.n_exact,
       ROUND(COALESCE(31.0 / k.u_k, e.n_exact), 4) AS n_kmv,
       ROUND(ABS(COALESCE(31.0 / k.u_k, e.n_exact) - e.n_exact)
             / e.n_exact, 6) AS rel_error
FROM exact e LEFT JOIN kth k ON e.event_type = k.event_type
ORDER BY 1
"""


def q68_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → later click → later
    purchase): per-user stage timestamps via chained per-user window
    minima — stage k+1's candidate set is conditioned on stage k's
    window result, so the three projections reuse ONE exchange on
    user_id (no re-shuffle between stages; check the plan for a
    single Exchange). The final rollup counts users reaching each
    stage — the sequence-pattern primitive behind funnel dashboards,
    here without any MATCH_RECOGNIZE dependency."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "_t_signup",
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).over(w),
    )
    s2 = s1.withColumn(
        "_t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("_t_signup")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "_t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("_t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("_t_signup").alias("t1"),
        F.max("_t_click").alias("t2"),
        F.max("_t_purchase").alias("t3"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_click_after"),
        F.count("t3").alias("n_purchase_after"),
    )


Q68_SQL = """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t_signup
  FROM events
), s2 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'click' AND ts > t_signup THEN ts END)
           OVER (PARTITION BY user_id) AS t_click
  FROM s1
), s3 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
           OVER (PARTITION BY user_id) AS t_purchase
  FROM s2
), per_user AS (
  SELECT user_id, MAX(t_signup) AS t1, MAX(t_click) AS t2,
         MAX(t_purchase) AS t3
  FROM s3 GROUP BY 1
)
SELECT COUNT(*) AS n_users,
       COUNT(t1) AS n_signup,
       COUNT(t2) AS n_click_after,
       COUNT(t3) AS n_purchase_after
FROM per_user
"""


# --------------------------------------------------------------------------
# Text / dedup family (north-star extensions, documents table)

_TOKS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, len({t}) - 1), "
    "i -> array_to_string(list_slice({t}, i, i + 2), ' ')))"
).format(t=_TOKS_SQL)
_STOPWORDS_SQL = "['the','and','of','to','in','is','that','it','a','an','for','on','with','as','at']"
# The tx1 composite quality heuristic, ONE definition for every oracle
# that scores documents (tx1/tx10/tx20/em6/tx37) — mirrors
# functions.text.quality_score; edit both together.
_QUALITY_SQL = (
    "ROUND((LEAST(len({t}) / 100.0, 1.0) "
    "+ length(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
    "/ GREATEST(length(text), 1) "
    "+ len(list_filter({t}, x -> list_contains({s}, x))) "
    "/ GREATEST(len({t}), 1)) / 3.0, 6)"
).format(t=_TOKS_SQL, s=_STOPWORDS_SQL)


def tx1_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis baseline: per-doc token/char/quality heuristics in one shuffle-free projection (functions.text.text_stats)."""
    docs = _docs(spark, sf_dir)
    return text_stats(docs, "text", "doc_id")


TX1_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_computed,
       CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
       ROUND(list_sum(list_transform({_TOKS_SQL}, x -> length(x)))
             / GREATEST(len({_TOKS_SQL}), 1), 6) AS mean_token_len,
       ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             / GREATEST(length(text), 1), 6) AS alpha_ratio,
       ROUND(len(list_filter({_TOKS_SQL}, x -> list_contains({_STOPWORDS_SQL}, x)))
             / GREATEST(len({_TOKS_SQL}), 1), 6) AS stopword_ratio,
       {_QUALITY_SQL} AS quality,
       md5(array_to_string({_TOKS_SQL}, ' ')) AS fingerprint
FROM documents ORDER BY doc_id
"""


def tx2_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID via marker-word hits, argmax as one codegen expression (functions.text.predict_language)."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", predict_language(F.col("text")).alias("pred_lang"))


def _langid_sql(extra_cols: str = "") -> str:
    hits = {
        lang: (
            f"len(list_filter({_TOKS_SQL}, x -> list_contains("
            f"[{', '.join(repr(w) for w in words)}], x)))"
        )
        for lang, words in LANG_MARKERS.items()
    }
    langs = sorted(LANG_MARKERS)
    all_hits = ", ".join(f"h_{L}" for L in langs)
    cases = " ".join(
        f"WHEN h_{L} >= GREATEST({all_hits}) THEN '{L}'" for L in langs
    )
    hit_cols = ", ".join(f"{expr} AS h_{L}" for L, expr in hits.items())
    carry = f", {extra_cols}" if extra_cols else ""
    return f"""
WITH h AS (SELECT doc_id{carry}, {hit_cols} FROM documents)
SELECT doc_id{carry}, CASE {cases} END AS pred_lang FROM h ORDER BY doc_id
"""


TX2_SQL = _langid_sql()


def tx3_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy keeping the smallest id (operators.dedup.exact_duplicates) — the 100-TB first pass."""
    docs = _docs(spark, sf_dir)
    return exact_duplicates(docs, "text", "doc_id")


TX3_SQL = """
SELECT md5(text) AS content_hash, COUNT(*) AS dup_count, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1 ORDER BY 1
"""


def tx4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard pairs via a df-capped inverted shingle index — no all-pairs join (operators.dedup.ngram_jaccard_pairs)."""
    docs = _docs(spark, sf_dir)
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.2, max_doc_frequency=50
    )


# Stop-shingle df-cap (50) mirrored from ngram_jaccard_pairs: shingles
# in >50 docs are dropped from the JOIN side only; sizes still count
# every shingle.
TX4_SQL = f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SHINGLES_SQL}) AS shingle FROM documents
), sizes AS (
  SELECT doc, COUNT(*) AS n_shingles FROM sh GROUP BY 1
), kept AS (
  SELECT doc, shingle FROM sh
  WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) > 50
  )
), common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS common
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(common / (sa.n_shingles + sb.n_shingles - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE common / (sa.n_shingles + sb.n_shingles - common) >= 0.2
ORDER BY 1, 2
"""



def tx40_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR audit — the text-side sibling of the em10–em13
    index self-audits: for every tx6 LSH candidate pair, compare the
    4-component signature agreement fraction (the MinHash Jaccard
    estimator, E[est] = J) against the EXACT distinct-shingle Jaccard,
    and report the absolute error. This measures the num_hashes
    knob the whole MinHash/LSH family trades on, with the same
    sketches the dedup pipeline already builds.

    Scale shape: signatures are O(num_hashes) per doc off one shingle
    shuffle; the exact side is the inverted-index shingle self-join
    (docs sharing no shingle never meet) inner-joined down to the
    LSH-bounded pair set; the estimator join touches only pair rows.
    Both similarity values round to 6dp before the error subtraction,
    so every row replays in SQL."""
    from paqarin_spark.operators.dedup import (
        _shingle_rows,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=4, band_size=2, shingle_n=3
    ).select("id_a", "id_b")
    sigs = minhash_signatures(
        docs, "text", "doc_id", num_hashes=4, shingle_n=3
    )
    sa = sigs.select(
        F.col("doc").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"_a{i}") for i in range(4)],
    )
    sb = sigs.select(
        F.col("doc").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"_b{i}") for i in range(4)],
    )
    agree = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(4)
    )
    est = (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a", "id_b", F.round(agree / F.lit(4.0), 6).alias("est_j")
        )
    )
    sh = _shingle_rows(docs, "text", "doc_id", 3)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    joined = (
        est.join(common, on=["id_a", "id_b"], how="left")
        .join(sizes.withColumnRenamed("doc", "id_a"), on="id_a")
        .withColumnRenamed("n_shingles", "_na")
        .join(sizes.withColumnRenamed("doc", "id_b"), on="id_b")
        .withColumnRenamed("n_shingles", "_nb")
        .select(
            "id_a",
            "id_b",
            "est_j",
            F.round(
                F.coalesce(F.col("common"), F.lit(0)).cast("double")
                / (
                    F.col("_na")
                    + F.col("_nb")
                    - F.coalesce(F.col("common"), F.lit(0))
                ),
                6,
            ).alias("true_j"),
        )
    )
    return joined.select(
        "id_a",
        "id_b",
        "est_j",
        "true_j",
        F.round(F.abs(F.col("est_j") - F.col("true_j")), 6).alias("abs_err"),
    ).orderBy("id_a", "id_b")


TX40_SQL = f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SHINGLES_SQL}) AS shingle FROM documents
), sigs AS (
  SELECT doc,
         MIN(md5('0:' || shingle)) AS mh_0,
         MIN(md5('1:' || shingle)) AS mh_1,
         MIN(md5('2:' || shingle)) AS mh_2,
         MIN(md5('3:' || shingle)) AS mh_3
  FROM sh GROUP BY 1
), bands AS (
  SELECT doc, 0 AS band, md5(mh_0 || '|' || mh_1) AS band_hash FROM sigs
  UNION ALL
  SELECT doc, 1 AS band, md5(mh_2 || '|' || mh_3) AS band_hash FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc < b.doc
), sizes AS (
  SELECT doc, COUNT(*) AS n_shingles FROM sh GROUP BY 1
), common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
), scored AS (
  SELECT p.id_a, p.id_b,
         ROUND(((sa.mh_0 = sb.mh_0)::INT + (sa.mh_1 = sb.mh_1)::INT
                + (sa.mh_2 = sb.mh_2)::INT + (sa.mh_3 = sb.mh_3)::INT)
               / 4.0, 6) AS est_j,
         ROUND(CAST(COALESCE(c.common, 0) AS DOUBLE)
               / (za.n_shingles + zb.n_shingles - COALESCE(c.common, 0)),
               6) AS true_j
  FROM pairs p
  JOIN sigs sa ON sa.doc = p.id_a
  JOIN sigs sb ON sb.doc = p.id_b
  LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
  JOIN sizes za ON za.doc = p.id_a
  JOIN sizes zb ON zb.doc = p.id_b
)
SELECT id_a, id_b, est_j, true_j,
       ROUND(ABS(est_j - true_j), 6) AS abs_err
FROM scored ORDER BY 1, 2
"""

def tx5_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures from portable md5 hashes per shingle (operators.dedup.minhash_signatures) — layout-independent sketch rows."""
    docs = _docs(spark, sf_dir)
    return minhash_signatures(docs, "text", "doc_id", num_hashes=4, shingle_n=3)


TX5_SQL = f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SHINGLES_SQL}) AS shingle FROM documents
)
SELECT doc,
       MIN(md5('0:' || shingle)) AS mh_0,
       MIN(md5('1:' || shingle)) AS mh_1,
       MIN(md5('2:' || shingle)) AS mh_2,
       MIN(md5('3:' || shingle)) AS mh_3
FROM sh GROUP BY 1 ORDER BY 1
"""


def tx6_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs via band-bucket equi-joins (operators.dedup.minhash_lsh_pairs) — the near-dup discovery shuffle shape."""
    docs = _docs(spark, sf_dir)
    return minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=4, band_size=2, shingle_n=3
    )


TX6_SQL = f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SHINGLES_SQL}) AS shingle FROM documents
), sigs AS (
  SELECT doc,
         MIN(md5('0:' || shingle)) AS mh_0,
         MIN(md5('1:' || shingle)) AS mh_1,
         MIN(md5('2:' || shingle)) AS mh_2,
         MIN(md5('3:' || shingle)) AS mh_3
  FROM sh GROUP BY 1
), bands AS (
  SELECT doc, 0 AS band, md5(mh_0 || '|' || mh_1) AS band_hash FROM sigs
  UNION ALL
  SELECT doc, 1 AS band, md5(mh_2 || '|' || mh_3) AS band_hash FROM sigs
)
SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
WHERE a.doc < b.doc
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Q22 — forecast error metrics in one pass (op I5)


def q22_forecast_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four error metrics (MAE/MAPE/RMSE/SMAPE) from one distributed
    aggregation over a lag-1 pseudo-forecast (op I5,
    `paqarin/metrics/univariate_metrics.py:434-476`)."""
    from paqarin_spark.metrics.errors import mae, mape, rmse, smape

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_pred = ev.withColumn("pred", F.lag("value").over(w)).where(
        F.col("pred").isNotNull()
    )
    y, p = F.col("value"), F.col("pred")
    return with_pred.agg(
        F.round(mae(y, p), 6).alias("mae"),
        F.round(mape(y, p), 6).alias("mape"),
        F.round(rmse(y, p), 6).alias("rmse"),
        F.round(smape(y, p), 6).alias("smape"),
    )


Q22_SQL = """
WITH p AS (
  SELECT value,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pred
  FROM events
)
SELECT
  ROUND(AVG(ABS(pred - value)), 6) AS mae,
  ROUND(AVG(CASE WHEN value <> 0 THEN ABS((pred - value) / value) END), 6)
    AS mape,
  ROUND(SQRT(AVG(POW(pred - value, 2))), 6) AS rmse,
  ROUND(AVG(CASE WHEN (ABS(value) + ABS(pred)) / 2 <> 0
            THEN ABS(pred - value) / ((ABS(value) + ABS(pred)) / 2) END), 6)
    AS smape
FROM p WHERE pred IS NOT NULL
"""


def gen3_generation_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op H2: three generation rounds unioned lazily with globally
    unique sequence ids. VALUE-verified: each round is the bootstrap's
    md5-ranked draw under a derived seed (17+r), so the oracle replays
    all three rounds with the id-offset contract (round r occupies
    [r·n, (r+1)·n)) and the unioned rows hash-match."""
    from paqarin_spark.generator import generate_rounds
    from paqarin_spark.generators import BlockBootstrapGenerator

    ev = _events(spark, sf_dir)
    gen = BlockBootstrapGenerator(_events_gen_params()).fit(ev)
    out = generate_rounds(gen, number_of_sequences=20, rounds=3)
    gen.unpersist()
    return out.select(
        "sequence_id", F.posexplode("sequence").alias("step", "_obs")
    ).select("sequence_id", "step", F.round(F.col("_obs.value"), 6).alias("value"))


def _gen3_round_sql(seed: int, offset: int) -> str:
    return f"""
  SELECT user_id, w,
         ROW_NUMBER() OVER (ORDER BY md5(user_id || '|' || w || '#{seed}'))
           - 1 + {offset} AS sequence_id
  FROM wins ORDER BY md5(user_id || '|' || w || '#{seed}') LIMIT 20
"""


GEN3_SQL = f"""
WITH mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), r AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
), wins AS (
  SELECT user_id, p AS w FROM r WHERE p <= cnt - 8
), t0 AS ({_gen3_round_sql(17, 0)}
), t1 AS ({_gen3_round_sql(18, 20)}
), t2 AS ({_gen3_round_sql(19, 40)}
), allt AS (
  SELECT * FROM t0 UNION ALL SELECT * FROM t1 UNION ALL SELECT * FROM t2
), steps AS (
  SELECT UNNEST(range(8)) AS step
)
SELECT a.sequence_id,
       CAST(s.step AS INTEGER) AS step,
       ROUND((r2.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn,
             6) AS value
FROM allt a CROSS JOIN steps s
JOIN r r2 ON r2.user_id = a.user_id AND r2.p = a.w + s.step
CROSS JOIN mm
ORDER BY 1, 2
"""


def tx7_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints from token md5s (operators.dedup.simhash) — the Hamming-distance dedup sketch."""
    docs = _docs(spark, sf_dir)
    return simhash(docs, "text", "doc_id")


def _simhash_sql() -> str:
    """DuckDB mirror of operators.dedup.simhash: md5 per token, 60-bit
    value from the first 15 hex chars (char j holds bits
    4*(15-j)..4*(15-j)+3), per-bit +1/-1 votes, fingerprint sets bits
    with positive vote sums."""
    votes = []
    for i in range(60):
        j = 15 - i // 4
        digit = f"(strpos('0123456789abcdef', substring(h, {j}, 1)) - 1)"
        votes.append(
            f"SUM(CASE WHEN (({digit} >> {i % 4}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS v_{i}"
        )
    fp = " + ".join(
        f"(CASE WHEN v_{i} > 0 THEN (CAST(1 AS BIGINT) << {i})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(60)
    )
    return f"""
WITH tok AS (
  SELECT doc, md5(t) AS h FROM (
    SELECT doc_id AS doc, unnest({_TOKS_SQL}) AS t FROM documents
  )
), votes AS (
  SELECT doc, {', '.join(votes)} FROM tok GROUP BY doc
)
SELECT doc, {fp} AS simhash FROM votes ORDER BY doc
"""


TX7_SQL = _simhash_sql()


# --------------------------------------------------------------------------
# Embedding similarity (north-star extensions, embeddings table)


def em1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 over embeddings via the block-matrix BLAS kernel (operators.similarity.cosine_topk)."""
    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return cosine_topk(emb, "vec_id", "embedding", k=5)


EM1_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))),
           6) AS cos_sim
  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM pairs
) WHERE rk <= 5 ORDER BY query_id, neighbor_id
"""


def em2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — VALUE-verified: the ±1
    hyperplanes come from md5 parity (plane_family='sign', the em12
    portable-hash convention), so the oracle recomputes the same
    planes, bucket ids, and within-bucket exact rankings in SQL and
    the approximate result itself hash-matches."""
    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return lsh_topk(
        emb, "vec_id", "embedding", k=5, num_planes=6, dim=64,
        plane_family="sign",
    )


EM2_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), b AS (
  SELECT vec_id, e,
         list_sum(list_transform(range(6), j ->
           CASE WHEN ROUND(list_sum(list_transform(range(len(e)), i ->
                  e[i + 1] *
                  (CASE WHEN ('0x' || substring(
                         md5('lsh42#' || j || '#' || i), 1, 1))::UBIGINT
                         % 2 = 0
                        THEN 1.0 ELSE -1.0 END))), 6) >= 0
                THEN CAST(2 ** j AS BIGINT) ELSE 0 END)) AS bucket
  FROM v
), pairs AS (
  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * c.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65),
                                             i -> c.e[i] * c.e[i])))),
           6) AS cos_sim
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM pairs
) WHERE rk <= 5 ORDER BY query_id, neighbor_id
"""


# --------------------------------------------------------------------------
# Q25 — shipping-priority top-k (TPC-H Q3 shape: 3-way join + agg + top-k)


def q25_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape over the driver tables: customer ⋈ orders ⋈
    lineitem with selective predicates on both sides of the join, then
    revenue agg and top-10. Catalyst pushes the segment/date filters
    into the scans (check PushedFilters) and AQE picks broadcast for
    the filtered customer side at this scale."""
    configure_for_determinism(spark)
    cust = read_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    dec = "decimal(30,10)"
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                        dec
                    )
                ).cast("double"),
                4,
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


Q25_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(30,10))), 4) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND o_orderkey = l_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


# --------------------------------------------------------------------------
# Q26 — order-priority check (TPC-H Q4 shape: EXISTS semi-join)


def q26_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: count orders per priority that have at least one
    late lineitem — a left-SEMI join (no fan-out, dedup-free), the plan
    shape Spark picks for EXISTS."""
    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    late = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1999-06-01").cast("timestamp")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q26_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1999-06-01'
  )
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q27 — returned-item revenue (TPC-H Q10 shape: 4-way join + top-k)


def q27_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    top-20. The nation dim is broadcast; the orders/lineitem join
    shuffles on orderkey."""
    configure_for_determinism(spark)
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = read_table(spark, sf_dir, "nation")
    dec = "decimal(30,10)"
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                        dec
                    )
                ).cast("double"),
                4,
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q27_SQL = """
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(30,10))), 4) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND o_orderkey = l_orderkey
  AND c_nationkey = n_nationkey
  AND o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


# --------------------------------------------------------------------------
# Q23 — sequence feature/label split (op F6)


def q23_xy_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op F6 (`paqarin/metrics/multivariate_metrics.py:29-36`): per
    entity, the label is the last observation and the features are all
    preceding ones — expressed as one per-entity sequence via
    collect_list over an ordered window, then `element_at(seq, -1)` /
    `slice(seq, 1, n-1)` on the array column."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    seqs = ev.select(
        "user_id", F.collect_list("value").over(w).alias("seq")
    ).dropDuplicates(["user_id"])
    n = F.size("seq")
    feats = F.slice("seq", 1, n - 1)
    return seqs.select(
        "user_id",
        (n - 1).cast("long").alias("n_features"),
        F.round(F.element_at("seq", -1), 6).alias("label"),
        F.round(
            F.aggregate(feats, F.lit(0.0), lambda acc, v: acc + v), 6
        ).alias("feat_sum"),
        F.round(F.element_at("seq", 1), 6).alias("feat_first"),
    )


Q23_SQL = """
SELECT user_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_features,
       ROUND(MAX(CASE WHEN rn_desc = 1 THEN value END), 6) AS label,
       ROUND(SUM(CASE WHEN rn_desc > 1 THEN value ELSE 0 END), 6) AS feat_sum,
       ROUND(MAX(CASE WHEN rn_asc = 1 THEN value END), 6) AS feat_first
FROM (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn_desc,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_asc
  FROM events
) GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Q24 — best-generator argmin (op I4)


def q24_best_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op I4 (`paqarin/metrics/multivariate_metrics.py:207-217`):
    smallest average metric wins, ties to the lexicographically first
    generator name — over the same pseudo-generator metric table as
    Q8."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("DAY", F.col("ts")).alias("d")
    ).agg(F.sum("value").alias("v"))
    summary = daily.groupBy(F.col("event_type").alias("generator")).agg(
        F.round(F.avg("v"), 6).alias("avg_metric")
    )
    return summary.orderBy("avg_metric", "generator").limit(1)


Q24_SQL = """
SELECT generator, avg_metric FROM (
  SELECT event_type AS generator, ROUND(AVG(v), 6) AS avg_metric
  FROM (
    SELECT event_type, DATE_TRUNC('day', ts) AS d, SUM(value) AS v
    FROM events GROUP BY 1, 2
  ) GROUP BY 1
) ORDER BY avg_metric, generator LIMIT 1
"""


# --------------------------------------------------------------------------
# TX8 — polynomial rolling-hash fingerprint (text analysis north star)


def tx8_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling document fingerprints (polynomial hash over token stream, functions.text) — the shard-stable content signature."""
    from paqarin_spark.functions.text import rolling_hash

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", rolling_hash(F.col("text")).alias("rhash")
    )


TX8_SQL = """
SELECT doc_id,
       list_reduce(
         list_prepend(
           CAST(0 AS BIGINT),
           list_transform(
             string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ''
             ),
             c -> CAST(ascii(c) AS BIGINT)
           )
         ),
         (a, b) -> (a * 31 + b) % 1000000007
       ) AS rhash
FROM documents ORDER BY doc_id
"""


def tx9_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (functions.text.bpe_token_count): GPT-2
    pre-tokenizer regex matches per document plus the corpus total per
    source — the training-token cost estimate a data pipeline budgets
    by."""
    from paqarin_spark.functions.text import bpe_token_count

    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "source", F.col("doc_id"), bpe_token_count(F.col("text")).alias("bpe_tokens")
    )
    # integer-count average → exact micro-unit display (the q84/q14
    # round-12 tie-sweep pattern): token counts are integers, so the
    # average is a low-denominator rational whose 6dp rounding can
    # land on an exact 7th-digit-5 tie; half-up = floor((2·S·10⁶+n)
    # /(2n)) via one IEEE double divide, identical on both engines
    _num = (
        F.lit(2) * F.sum("bpe_tokens").cast("decimal(38,0)") * F.lit(1000000)
        + F.count(F.lit(1))
    ).cast("double")
    _den = (F.lit(2) * F.count(F.lit(1))).cast("double")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        (F.floor(_num / _den).cast("double") / F.lit(1000000.0)).alias(
            "avg_bpe_tokens"
        ),
    )


TX9_SQL = r"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_bpe_tokens,
       CAST(FLOOR(CAST(2 * SUM(n) * 1000000 + COUNT(*) AS DOUBLE)
                  / CAST(2 * COUNT(*) AS DOUBLE)) AS DOUBLE)
         / 1000000.0 AS avg_bpe_tokens
FROM (
  SELECT source,
         CAST(len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'
         )) AS BIGINT) AS n
  FROM documents
)
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# EM3 — embedding-cosine near-duplicate pairs (dedup north star)


def em3_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs above threshold, canonical a<b order (operators.similarity.cosine_dedup_pairs)."""
    from paqarin_spark.operators import cosine_dedup_pairs

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return cosine_dedup_pairs(emb, "vec_id", "embedding", threshold=0.4)


EM3_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))),
           6) AS cos_sim
  FROM v a JOIN v b ON a.vec_id < b.vec_id
) WHERE cos_sim >= 0.4 ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# EM4 — IVF (inverted-file) approximate top-k (similarity north star)


def em4_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe IVF approximate top-k: nearest-centroid cells bound each query's candidate set (operators.similarity.ivf_topk)."""
    from paqarin_spark.operators import ivf_topk

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return ivf_topk(emb, "vec_id", "embedding", k=5, num_cells=16)


EM4_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND(
               list_sum(list_transform(range(1, 65), i -> v.e[i] * c.ce[i]))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> v.e[i] * v.e[i])))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> c.ce[i] * c.ce[i])))),
               6) DESC, c.cid
           ) AS rk
    FROM v CROSS JOIN c
  ) WHERE rk = 1
), pairs AS (
  SELECT qa.vec_id AS query_id, nb.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))),
           6) AS cos_sim
  FROM assign qa
  JOIN assign nb ON nb.cid = qa.cid AND nb.vec_id <> qa.vec_id
  JOIN v a ON a.vec_id = qa.vec_id
  JOIN v b ON b.vec_id = nb.vec_id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM pairs
) WHERE rk <= 5 ORDER BY query_id, neighbor_id
"""


def em8_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (nprobe=2) — the production recall knob over
    em4's single-probe plan: each vector stays a member of its home
    cell but queries its two nearest cells, and a per-query window
    merges the per-cell candidate lists. Same deterministic first_ids
    quantizer, so the whole approximate index stays SQL-mirrorable."""
    from paqarin_spark.operators import ivf_topk

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return ivf_topk(emb, "vec_id", "embedding", k=5, num_cells=16, nprobe=2)


EM8_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16
), ranked AS (
  SELECT v.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(
             list_sum(list_transform(range(1, 65), i -> v.e[i] * c.ce[i]))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> v.e[i] * v.e[i])))
                * sqrt(list_sum(list_transform(range(1, 65), i -> c.ce[i] * c.ce[i])))),
             6) DESC, c.cid
         ) AS rk
  FROM v CROSS JOIN c
), member AS (
  SELECT vec_id, cid FROM ranked WHERE rk = 1
), probe AS (
  SELECT vec_id, cid FROM ranked WHERE rk <= 2
), pairs AS (
  SELECT q.vec_id AS query_id, m.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))),
           6) AS cos_sim
  FROM probe q
  JOIN member m ON m.cid = q.cid AND m.vec_id <> q.vec_id
  JOIN v a ON a.vec_id = q.vec_id
  JOIN v b ON b.vec_id = m.vec_id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM pairs
) WHERE rk <= 5 ORDER BY query_id, neighbor_id
"""


# --------------------------------------------------------------------------
# MM1 — multimodal decode pipeline (multimodal north star)


def _media_from_docs(docs: DataFrame) -> DataFrame:
    """Documents dressed as media assets: content = UTF-8 payload,
    typed metadata derived deterministically from the text — the
    Spark-side plumbing (binary column, metadata struct, Arrow batch
    flow) is exactly what a real image/audio table exercises."""
    media_type = (
        F.when(F.col("doc_id") % 3 == 2, F.lit("video"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("image"))
    )
    # video: n_frames = frame count; audio: n_frames = SAMPLE count at
    # sample_rate Hz (the MEDIA_META contract)
    n_frames = (
        F.when(F.col("doc_id") % 3 == 2, F.col("doc_id") % 10 + 1)
        .when(F.col("doc_id") % 3 == 1, F.length("text") * 37)
        .otherwise(F.lit(None))
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            media_type.alias("media_type"),
            F.lit("png").alias("format"),
            (F.length("text") % 640 + 1).cast("int").alias("width"),
            (F.length("text") % 480 + 1).cast("int").alias("height"),
            n_frames.cast("int").alias("n_frames"),
            F.when(F.col("doc_id") % 3 == 1, F.lit(16000))
            .cast("int")
            .alias("sample_rate"),
        ).alias("meta"),
    )


def mm1_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column pipeline end-to-end: binary content + typed
    metadata -> Arrow-batched decode -> per-asset record. These payloads
    are text dressed as compressed media, so the decoder takes its
    metadata-fallback path (real BMP/WAV parsing is driver-checked by
    mm4); every fallback value is SQL-expressible, keeping even the
    Python-UDF path oracle-checked."""
    from paqarin_spark.multimodal import decode_media

    docs = _docs(spark, sf_dir)
    return decode_media(_media_from_docs(docs))


MM1_SQL = """
SELECT doc_id AS asset_id,
       md5(text) AS content_hash,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(length(text) % 640 + 1 AS INTEGER) AS width,
       CAST(length(text) % 480 + 1 AS INTEGER) AS height,
       CASE WHEN doc_id % 3 = 1 THEN 16000 END AS sample_rate,
       CASE WHEN doc_id % 3 = 1 THEN CAST(length(text) * 37 AS BIGINT) END
         AS n_samples
FROM documents ORDER BY doc_id
"""


def mm4_codec_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode (multimodal.parse_bmp / parse_wav): spec-built
    BMP and WAV payloads with dimension metadata deliberately withheld,
    so width/height/sample_rate/n_samples in the output can only have
    been parsed from the bytes. The oracle predicts them (and the exact
    file sizes, incl. BMP 4-byte row padding) from id arithmetic."""
    from paqarin_spark.multimodal import codec_assets_from_ids, decode_media

    docs = _docs(spark, sf_dir)
    return decode_media(codec_assets_from_ids(docs, "doc_id")).select(
        "asset_id", "width", "height", "sample_rate", "n_samples", "n_bytes"
    )


MM4_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 8 + 1 AS INTEGER) END
         AS width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 6 + 1 AS INTEGER) END
         AS height,
       CASE WHEN doc_id % 2 = 1
            THEN CAST(8000 + doc_id % 4 * 1000 AS INTEGER) END AS sample_rate,
       CASE WHEN doc_id % 2 = 1 THEN CAST(doc_id % 100 + 1 AS BIGINT) END
         AS n_samples,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(54 + ((doc_id % 8 + 1) * 3 + 3) // 4 * 4
                           * (doc_id % 6 + 1) AS BIGINT)
            ELSE CAST(44 + (doc_id % 100 + 1) * 2 AS BIGINT)
       END AS n_bytes
FROM documents ORDER BY doc_id
"""


def mm5_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end to end (multimodal.parse_png): spec-built
    RGB8 PNGs — zlib-compressed IDAT, per-row filter type y%5 so every
    standard filter appears, CRC-validated chunks — with dimension
    metadata withheld. The output's channel means are computed from the
    RECONSTRUCTED pixels, so the oracle (which predicts them from the
    pixel formula by id arithmetic) catches any defilter/inflate bug,
    not just header parsing."""
    from paqarin_spark.multimodal import png_assets_from_ids, png_pixel_stats

    docs = _docs(spark, sf_dir)
    return png_pixel_stats(png_assets_from_ids(docs, "doc_id")).orderBy("asset_id")


MM5_SQL = """
WITH a AS (
  SELECT doc_id AS asset_id,
         CAST(doc_id % 6 + 2 AS INTEGER) AS width,
         CAST(doc_id % 5 + 2 AS INTEGER) AS height
  FROM documents
),
gx AS (SELECT asset_id, width, height, UNNEST(range(width)) AS x FROM a),
g AS (SELECT asset_id, width, height, x, UNNEST(range(height)) AS y FROM gx)
SELECT asset_id, width, height,
       ROUND(AVG((x + y + asset_id) % 256), 6) AS mean_r,
       ROUND(AVG((2 * x + y + asset_id) % 256), 6) AS mean_g,
       ROUND(AVG((x * y + asset_id) % 256), 6) AS mean_b
FROM g
GROUP BY asset_id, width, height
ORDER BY asset_id
"""


def mm6_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end to end: the deterministic PNG assets are
    nearest-neighbor resampled to 3×3 (multimodal.resize_png — decode,
    sample src pixel (dst·src)//3 per axis, re-encode) and decoded
    AGAIN for channel means, so the oracle (which predicts the sampled
    source coordinates by id arithmetic) checks the decode → resample
    → re-encode → decode chain, not just one codec direction."""
    from paqarin_spark.multimodal import png_assets_from_ids, png_pixel_stats, resize_images

    docs = _docs(spark, sf_dir)
    resized = resize_images(png_assets_from_ids(docs, "doc_id"), 3, 3)
    return png_pixel_stats(resized).orderBy("asset_id")


MM6_SQL = """
WITH a AS (
  SELECT doc_id AS asset_id,
         doc_id % 6 + 2 AS src_w,
         doc_id % 5 + 2 AS src_h
  FROM documents
),
gx AS (SELECT asset_id, src_w, src_h, UNNEST(range(3)) AS x FROM a),
g AS (
  SELECT asset_id, (x * src_w) // 3 AS sx, (y * src_h) // 3 AS sy
  FROM (SELECT asset_id, src_w, src_h, x, UNNEST(range(3)) AS y FROM gx)
)
SELECT asset_id,
       CAST(3 AS INTEGER) AS width,
       CAST(3 AS INTEGER) AS height,
       ROUND(AVG((sx + sy + asset_id) % 256), 6) AS mean_r,
       ROUND(AVG((2 * sx + sy + asset_id) % 256), 6) AS mean_g,
       ROUND(AVG((sx * sy + asset_id) % 256), 6) AS mean_b
FROM g
GROUP BY asset_id
ORDER BY asset_id
"""


def mm7_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-walk metadata PROBE for compressed formats
    (multimodal.parse_jpeg_meta / parse_mp4_meta): JPEG marker walk to
    the first SOFn for dimensions/components, ISO-BMFF box walk to
    moov/mvhd for timescale/duration. This is the step a 100-TB
    ingest runs BEFORE any decode — cheap routing/filtering/sharding
    off a few header bytes, one Arrow-batched linear pass, no
    shuffle. The shell fixtures carry their metadata ONLY inside the
    parsed structures (and the oracle predicts every field — incl.
    exact byte sizes — from id arithmetic), so the output proves the
    parsers, not the plumbing. Full JPEG entropy decode / MP4 sample
    decode remain the stub boundary."""
    from paqarin_spark.multimodal import probe_media_from_ids

    docs = _docs(spark, sf_dir)
    return probe_media_from_ids(docs, "doc_id").orderBy("asset_id")


MM7_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'mp4' END AS kind,
       CASE WHEN doc_id % 2 = 0 THEN doc_id % 640 + 16 END AS width,
       CASE WHEN doc_id % 2 = 0 THEN doc_id % 480 + 16 END AS height,
       CASE WHEN doc_id % 2 = 0 THEN 3 END AS n_components,
       CASE WHEN doc_id % 2 = 1 THEN doc_id % 9000 + 1000 END AS duration_ms,
       CASE WHEN doc_id % 2 = 0
            THEN 41 + CASE WHEN doc_id % 50 > 0 THEN 4 + doc_id % 50 ELSE 0 END
            ELSE 140 + CASE WHEN doc_id % 50 > 0 THEN 8 + doc_id % 50 ELSE 0 END
       END AS n_bytes
FROM documents ORDER BY doc_id
"""


def mm10_mp4_sample_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF SAMPLE-TABLE probe (multimodal.parse_mp4_sample_table):
    walk moov→trak→mdia→minf→stbl, decode stsz/stco, and byte-verify
    the table against the mdat payload (first byte of every sample is
    read back through the stco/stsz arithmetic). This closes the MP4
    metadata surface at the sample level — per-sample sizes/offsets
    are what a frame-extraction shard planner needs before any codec
    work; entropy decode of video essence remains the documented stub.
    The oracle predicts every field, including the exact chunk offset
    (445 + 4·n_samples) and file size, from id arithmetic."""
    from paqarin_spark.multimodal import mp4_sample_stats_from_ids

    docs = _docs(spark, sf_dir)
    return mp4_sample_stats_from_ids(docs, "doc_id").orderBy("asset_id")


MM10_SQL = """
WITH sz AS (
  SELECT doc_id, ((doc_id * 31 + k * 17) % 113) + 1 AS s,
         (doc_id + k) % 256 AS fb
  FROM documents, LATERAL (
    SELECT UNNEST(range(doc_id % 7 + 2)) AS k
  )
)
SELECT doc_id AS asset_id,
       CAST(doc_id % 7 + 2 AS BIGINT) AS n_samples,
       CAST(SUM(s) AS BIGINT) AS total_sample_bytes,
       CAST(MAX(s) AS BIGINT) AS max_sample_bytes,
       CAST(445 + 4 * (doc_id % 7 + 2) AS BIGINT) AS chunk_offset,
       CAST(SUM(fb) AS BIGINT) AS first_byte_sum,
       CAST(445 + 4 * (doc_id % 7 + 2) + SUM(s) AS BIGINT) AS n_bytes
FROM sz GROUP BY doc_id ORDER BY asset_id
"""


def mm11_mjpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motion-JPEG ESSENCE decode through the ISO-BMFF sample table
    (multimodal.mjpeg_frame_stats_from_ids) — the last codec stub
    closed: mm10's byte-verified stsz/stco walk now indexes real
    baseline-JPEG frames inside the mdat, and each frame runs the full
    in-repo entropy decode → dequantize → IDCT → upsample → YCbCr→RGB
    pipeline (paqarin_spark.jpeg). 1 asset → id%3+2 frame rows, each
    value-checked: width/height from the frame's own SOF0, channel
    means from the reconstructed pixels, replayed in SQL via the mm8
    DC-quantization arithmetic (solid frames keep every lossy
    floor(round(x,6)+0.5) step exactly predictable)."""
    from paqarin_spark.multimodal import mjpeg_frame_stats_from_ids

    docs = _docs(spark, sf_dir)
    return mjpeg_frame_stats_from_ids(docs, "doc_id").orderBy(
        "asset_id", "frame_index"
    )


MM11_SQL = """
WITH src AS (
  SELECT doc_id AS asset_id, CAST(f.k AS BIGINT) AS frame_index,
         (7 * doc_id + 19 * f.k) % 256 AS r,
         (13 * doc_id + 5 + 23 * f.k) % 256 AS g,
         (29 * doc_id + 11 + 31 * f.k) % 256 AS b
  FROM documents, LATERAL (SELECT UNNEST(range(doc_id % 3 + 2)) AS k) f
), ycc AS (
  SELECT asset_id, frame_index,
    LEAST(255, GREATEST(0,
      FLOOR(ROUND(0.299*r + 0.587*g + 0.114*b, 6) + 0.5))) AS y,
    LEAST(255, GREATEST(0,
      FLOOR(ROUND(-0.168736*r - 0.331264*g + 0.5*b + 128, 6) + 0.5))) AS cb,
    LEAST(255, GREATEST(0,
      FLOOR(ROUND(0.5*r - 0.418688*g - 0.081312*b + 128, 6) + 0.5))) AS cr
  FROM src
), dq AS (
  SELECT asset_id, frame_index,
    LEAST(255, GREATEST(0, FLOOR(ROUND(
      SIGN(y - 128) * FLOOR(ROUND(ABS(8*(y - 128)) / 16.0, 6) + 0.5)
      * 16 / 8.0 + 128, 6) + 0.5))) AS y2,
    LEAST(255, GREATEST(0, FLOOR(ROUND(
      SIGN(cb - 128) * FLOOR(ROUND(ABS(8*(cb - 128)) / 17.0, 6) + 0.5)
      * 17 / 8.0 + 128, 6) + 0.5))) AS cb2,
    LEAST(255, GREATEST(0, FLOOR(ROUND(
      SIGN(cr - 128) * FLOOR(ROUND(ABS(8*(cr - 128)) / 17.0, 6) + 0.5)
      * 17 / 8.0 + 128, 6) + 0.5))) AS cr2
  FROM ycc
)
SELECT asset_id, frame_index,
       CAST((asset_id % 2 + 1) * 8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(LEAST(255, GREATEST(0,
         FLOOR(ROUND(y2 + 1.402*(cr2 - 128), 6) + 0.5))) AS DOUBLE) AS mean_r,
       CAST(LEAST(255, GREATEST(0,
         FLOOR(ROUND(y2 - 0.344136*(cb2 - 128) - 0.714136*(cr2 - 128), 6)
               + 0.5))) AS DOUBLE) AS mean_g,
       CAST(LEAST(255, GREATEST(0,
         FLOOR(ROUND(y2 + 1.772*(cb2 - 128), 6) + 0.5))) AS DOUBLE) AS mean_b
FROM dq ORDER BY asset_id, frame_index
"""


def q80_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable BLOOM-FILTER membership pruning (sketch.bloom_bits /
    bloom_probe) — the explicit, oracle-checkable form of the
    semi-join pushdown a 100-TB fact scan wants: build a ≤ m-row bit
    table over the interesting dimension keys (suppliers from nations
    0–4), broadcast it, and prefilter lineitem with 3 generated hash
    rows per probe + one broadcast join. The query exposes the
    sketch's whole truth table per returnflag: probe hits (true
    members + false positives at the (1−e^(−jn/m))^j rate), exact
    members, and the FP overcount — no false negatives by
    construction, and every bit replays in SQL."""
    from paqarin_spark.operators import bloom_bits, bloom_probe

    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    risky = supp.where(F.col("s_nationkey") < 5).select("s_suppkey")
    bits = bloom_bits(risky, "s_suppkey", m=1024, hashes=3)
    probed = bloom_probe(
        li.select("l_suppkey", "l_returnflag"),
        "l_suppkey",
        bits,
        m=1024,
        hashes=3,
    )
    exact = li.join(
        risky, li.l_suppkey == risky.s_suppkey, "left_semi"
    ).groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        probed.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
        )
        .join(exact, on="l_returnflag", how="left")
        .select(
            "l_returnflag",
            "n_rows",
            "n_bloom_hits",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            (F.col("n_bloom_hits") - F.coalesce("n_exact", F.lit(0)))
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .orderBy("l_returnflag")
    )


Q80_SQL = """
WITH keys AS (
  SELECT DISTINCT s_suppkey FROM supplier WHERE s_nationkey < 5
), bits AS (
  SELECT DISTINCT
    ('0x' || substring(md5('bloom#0#' || h.h || '#'
        || CAST(s_suppkey AS VARCHAR)), 1, 15))::UBIGINT % 1024 AS bit
  FROM keys, (SELECT UNNEST(range(3)) AS h) h
), probe AS (
  SELECT l_returnflag, l_suppkey,
         COUNT(*) FILTER (WHERE
           ('0x' || substring(md5('bloom#0#' || h.h || '#'
               || CAST(l_suppkey AS VARCHAR)), 1, 15))::UBIGINT % 1024
           IN (SELECT bit FROM bits)) AS nset
  FROM (SELECT ROW_NUMBER() OVER () AS rid, l_returnflag, l_suppkey
        FROM lineitem) l,
       (SELECT UNNEST(range(3)) AS h) h
  GROUP BY rid, l_returnflag, l_suppkey
), exact AS (
  SELECT l_returnflag, COUNT(*) AS n_exact
  FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM keys)
  GROUP BY l_returnflag
)
SELECT p.l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN nset = 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_hits,
       COALESCE(MAX(e.n_exact), 0) AS n_exact,
       CAST(SUM(CASE WHEN nset = 3 THEN 1 ELSE 0 END)
            - COALESCE(MAX(e.n_exact), 0) AS BIGINT) AS n_false_pos
FROM probe p LEFT JOIN exact e ON p.l_returnflag = e.l_returnflag
GROUP BY p.l_returnflag
ORDER BY p.l_returnflag
"""


def mm12_exif_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Camera-metadata harvest (multimodal.exif_stats_from_ids) — the
    third honest binary-metadata parser beside the JPEG marker walk
    (mm7) and the ISO-BMFF box walk (mm10): each asset's APP1 carries
    a REAL little-endian TIFF IFD (SHORT dims inline, Make/DateTime
    ASCII out-of-line in the data area, offsets relative to the TIFF
    header) and extraction reads only the bytes — marker walk → Exif
    APP1 → strict bounds-checked IFD traversal. The oracle predicts
    every tag from id arithmetic, so the output proves the TIFF
    parser, not the plumbing. Arrow-batched linear pass, no shuffle —
    the metadata-harvest step a 100-TB image ingest runs before any
    decode (shard by camera, partition by capture date)."""
    from paqarin_spark.multimodal import exif_stats_from_ids

    docs = _docs(spark, sf_dir)
    return exif_stats_from_ids(docs, "doc_id").orderBy("asset_id")


MM12_SQL = """
SELECT doc_id AS asset_id,
       CAST((doc_id % 7 + 1) * 160 AS INTEGER) AS width,
       CAST((doc_id % 5 + 1) * 120 AS INTEGER) AS height,
       CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
       '2024:' || LPAD(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || ':'
         || LPAD(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         || ' 00:00:00' AS taken_at,
       'cam-' || CAST(doc_id % 4 AS VARCHAR) AS make
FROM documents
ORDER BY asset_id
"""


def q81_triangle_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting (operators.graph.triangles) over the
    part co-order graph — parts are vertices, an edge connects two
    parts that ever ship in the same order — finished as per-brand
    triangle participation (each triangle credits its three vertices'
    brands). Graph family #3 beside pagerank (q69) and connected
    components (tx11); beyond-reference north-star op (SURVEY.md §2
    'Not present in the reference').

    Scale shape: degree-ordered orientation bounds every oriented
    out-degree by O(sqrt(m)) before the wedge self-join — the plan a
    1000-executor triangle count needs (an unordered hub of degree d
    would emit C(d,2) wedges; oriented, its edges all point INTO it).
    Edge construction is one self-join keyed on the order key behind a
    pushed-down ship-year predicate (the analysis window — wedge
    volume grows with the SQUARE of average degree, so an unbounded
    co-order graph densifies into noise as history accumulates; a
    windowed graph keeps per-executor wedge fan-out flat no matter how
    many years land in the table). The brand rollup joins `part`
    un-hinted so AQE picks broadcast at bench scale and sort-merge at
    cluster scale."""
    from paqarin_spark.operators import triangles

    configure_for_determinism(spark)
    li = (
        read_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    tri = triangles(edges)
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE explode, not three unioned selects — a 3-branch union would
    # replay the wedge join + closing probe once per branch.
    vertices = tri.select(
        F.explode(F.array("x", "y", "z")).alias("pk")
    )
    return (
        vertices.join(part, vertices.pk == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("triangles"))
        .orderBy("brand")
    )


Q81_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'),
e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (SELECT n, COUNT(*) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        GROUP BY n),
o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS db
      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM o e1
        JOIN o e2 ON e1.a = e2.a AND (e1.db, e1.b) < (e2.db, e2.b)
        JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b),
verts AS (SELECT x AS pk FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
SELECT p.p_brand AS brand, COUNT(*) AS triangles
FROM verts v JOIN part p ON v.pk = p.p_partkey
GROUP BY p.p_brand
ORDER BY brand
"""


def q82_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the classic product-analytics rollup
    a large-scale event pipeline serves: users cohorted by FIRST-seen
    day, activity folded into week offsets since that day, retention =
    active users / cohort size. Beyond-reference north-star op
    (events family beside q41 churn / q44 DAU; SURVEY.md §2 'Not
    present in the reference').

    Scale shape: the user-level pass costs ONE exchange on user_id —
    the cohort day is a window MIN over the user partition instead of
    a groupBy-then-join-back pair; downstream remain only the
    (cohort, offset) distinct-count rollup (partial-aggregated,
    cardinality ≈ cohorts × offsets) and the offset-0 size join
    (cohort-count rows, un-hinted — AQE broadcasts at any scale)."""
    configure_for_determinism(spark)
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    act = ev.select(
        "user_id",
        F.min(F.to_date("ts")).over(w).alias("_cd"),
        F.to_date("ts").alias("_d"),
    ).select(
        "user_id",
        "_cd",
        F.floor(F.datediff("_d", "_cd") / 7).cast("int").alias("week_offset"),
    )
    g = act.groupBy("_cd", "week_offset").agg(
        F.countDistinct("user_id").alias("active_users")
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
                F.col("active_users").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_day", "week_offset")
    )


Q82_SQL = """
WITH a AS (
  SELECT user_id,
         MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cd,
         CAST(ts AS DATE) AS d
  FROM events
), o AS (
  SELECT user_id, cd,
         CAST(date_diff('day', cd, d) // 7 AS INTEGER) AS week_offset
  FROM a
), g AS (
  SELECT cd, week_offset, COUNT(DISTINCT user_id) AS active_users
  FROM o GROUP BY cd, week_offset
), s AS (
  SELECT cd, active_users AS cohort_size FROM g WHERE week_offset = 0
)
SELECT strftime(g.cd, '%Y-%m-%d') AS cohort_day, g.week_offset,
       g.active_users, s.cohort_size,
       ROUND(CAST(g.active_users AS DOUBLE) / s.cohort_size, 6) AS retention
FROM g JOIN s ON g.cd = s.cd
ORDER BY cohort_day, week_offset
"""


def em16_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric-distance (ADC) retrieval
    (operators.similarity.pq_train_encode — Jégou/Douze/Schmid's PQ,
    the FAISS IVF-PQ memory layout): 2 subspaces × 4 codewords trained
    by the deterministic Lloyd on an md5-rank-bounded sample, every
    vector encoded to its per-subspace nearest codeword, then each
    probe (vec_id % 100 == 0) ranks the WHOLE corpus through a k×m
    lookup table instead of full vectors. Output per probe: ADC top-1,
    exact top-1, and recall@5 of ADC against the exact ranking — the
    compression/recall trade every billion-vector ANN index runs on.

    Scale shape: training touches ≤ 500 sampled rows; encoding and the
    LUT join broadcast the m·k×(d/m) codebook (vector side never
    shuffles); the ADC scan is codes ⋈ LUT keyed on (subspace, code) —
    codes are 2 small ints per vector, so the rank pass moves ~1% of
    the raw vector bytes. Every arithmetic step (6dp-rounded M-steps,
    exact-decimal distance sums) replays in SQL, so codes, ADC values,
    and both rankings hash-match the unrolled oracle."""
    from paqarin_spark.operators import pq_train_encode

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    codes, books = pq_train_encode(
        emb, "vec_id", "embedding",
        subspaces=_PQ_SUBSPACES, k=4, iterations=2, train_limit=500,
    )
    dims = emb.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    pdims = dims.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q"), "dim", F.col("x").alias("px")
    )
    # probe LUT: d2(probe subvector, codeword) per (q, subspace, code)
    lut = (
        pdims.withColumn(
            "psub", F.floor(F.col("dim") / _PQ_WIDTH).cast("int")
        )
        .withColumn("sdim", F.col("dim") % _PQ_WIDTH)
        .join(
            F.broadcast(books),
            (F.col("psub") == books.subspace) & (F.col("sdim") == books.dim),
        )
        .groupBy("q", "subspace", "cluster")
        .agg(
            F.sum(
                ((F.col("px") - F.col("c")) * (F.col("px") - F.col("c")))
                .cast("decimal(30,10)")
            )
            .cast("double")
            .alias("lutd2")
        )
    )
    adc = (
        codes.join(
            lut,
            (codes.subspace == lut.subspace) & (codes.code == lut.cluster),
        )
        .groupBy("q", "vec_id")
        .agg(F.sum("lutd2").alias("adc"))
    )
    w_adc = Window.partitionBy("q").orderBy("adc", "vec_id")
    # ≤ 5·probes rows, but consumed TWICE (intersection + top-1) —
    # without the checkpoint each consumer re-runs the whole
    # train/encode/ADC pipeline.
    adc_top = (
        adc.withColumn("rk", F.row_number().over(w_adc))
        .where(F.col("rk") <= 5)
        .localCheckpoint()
    )
    exact = (
        pdims.join(dims, on="dim")
        .groupBy("q", "vec_id")
        .agg(
            F.sum(
                ((F.col("px") - F.col("x")) * (F.col("px") - F.col("x")))
                .cast("decimal(30,10)")
            )
            .cast("double")
            .alias("ed2")
        )
    )
    w_ex = Window.partitionBy("q").orderBy("ed2", "vec_id")
    exact_top = (
        exact.withColumn("rk", F.row_number().over(w_ex))
        .where(F.col("rk") <= 5)
        .localCheckpoint()
    )
    inter = (
        adc_top.select("q", "vec_id")
        .join(exact_top.select("q", "vec_id"), on=["q", "vec_id"])
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    a1 = adc_top.where(F.col("rk") == 1).select(
        "q", F.col("vec_id").alias("adc_top1")
    )
    e1 = exact_top.where(F.col("rk") == 1).select(
        "q", F.col("vec_id").alias("exact_top1")
    )
    return (
        a1.join(e1, on="q")
        .join(inter, on="q", how="left")
        .select(
            F.col("q").alias("query_id"),
            "adc_top1",
            "exact_top1",
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)).cast("double") / 5.0, 6
            ).alias("recall5"),
        )
        .orderBy("query_id")
    )


# em16's geometry — shared by the DataFrame plan and the SQL generator
# so the probe LUT join keys (psub, sdim) can never misalign with the
# subspace-local codebook dims if either side changes.
_PQ_SUBSPACES = 2
_PQ_DIM = 64  # embeddings fixture width (TESTDATA.md)
_PQ_WIDTH = _PQ_DIM // _PQ_SUBSPACES


def _pq_subspace_sql(s: int, width: int = _PQ_WIDTH, k: int = 4) -> str:
    """Per-subspace CTE block for EM16_SQL: slice dims, unroll the
    2-iteration deterministic Lloyd (em14's CTE pattern on the
    training sample), encode ALL vectors against the final centroids,
    and build the probe lookup table."""
    lo, hi = s * width, (s + 1) * width
    key = "md5('kmeans#' || CAST(vec_id AS VARCHAR) || '#7')"
    return f"""vs{s} AS (
  SELECT vec_id, dim - {lo} AS dim, x FROM v WHERE dim >= {lo} AND dim < {hi}
), tv{s} AS (
  SELECT vs.vec_id, vs.dim, vs.x FROM vs{s} vs JOIN tr USING (vec_id)
), init{s} AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {key}) - 1 AS cluster, vec_id
  FROM tr ORDER BY {key} LIMIT {k}
), c0_{s} AS (
  SELECT i.cluster, t.dim, t.x AS c
  FROM init{s} i JOIN tv{s} t ON t.vec_id = i.vec_id
), d1_{s} AS (
  SELECT t.vec_id, c.cluster,
         CAST(SUM(CAST((t.x - c.c) * (t.x - c.c) AS DECIMAL(30,10)))
              AS DOUBLE) AS d2
  FROM tv{s} t JOIN c0_{s} c ON t.dim = c.dim GROUP BY 1, 2
), a1_{s} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
    FROM d1_{s}
  ) WHERE rk = 1
), c1_{s} AS (
  SELECT a.cluster, t.dim,
         ROUND(CAST(SUM(CAST(t.x AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM tv{s} t JOIN a1_{s} a ON t.vec_id = a.vec_id GROUP BY 1, 2
), d2_{s} AS (
  SELECT t.vec_id, c.cluster,
         CAST(SUM(CAST((t.x - c.c) * (t.x - c.c) AS DECIMAL(30,10)))
              AS DOUBLE) AS d2
  FROM tv{s} t JOIN c1_{s} c ON t.dim = c.dim GROUP BY 1, 2
), a2_{s} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
    FROM d2_{s}
  ) WHERE rk = 1
), c2_{s} AS (
  SELECT a.cluster, t.dim,
         ROUND(CAST(SUM(CAST(t.x AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM tv{s} t JOIN a2_{s} a ON t.vec_id = a.vec_id GROUP BY 1, 2
), enc{s} AS (
  SELECT vec_id, cluster AS code FROM (
    SELECT e.vec_id, e.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY e.d2, e.cluster)
             AS rk
    FROM (
      SELECT t.vec_id, c.cluster,
             CAST(SUM(CAST((t.x - c.c) * (t.x - c.c) AS DECIMAL(30,10)))
                  AS DOUBLE) AS d2
      FROM vs{s} t JOIN c2_{s} c ON t.dim = c.dim GROUP BY 1, 2
    ) e
  ) WHERE rk = 1
), lut{s} AS (
  SELECT t.vec_id AS q, c.cluster,
         CAST(SUM(CAST((t.x - c.c) * (t.x - c.c) AS DECIMAL(30,10)))
              AS DOUBLE) AS lutd2
  FROM vs{s} t JOIN c2_{s} c ON t.dim = c.dim
  WHERE t.vec_id % 100 = 0 GROUP BY 1, 2
)"""


EM16_SQL = f"""
WITH v AS (
  SELECT vec_id, u.dim, u.x FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           UNNEST(embedding)::DOUBLE AS x
  ) u
), tr AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (
             ORDER BY md5('pqtrain#' || CAST(vec_id AS VARCHAR)), vec_id
           ) AS rn
    FROM embeddings
  ) WHERE rn <= 500
), {", ".join(_pq_subspace_sql(s) for s in range(_PQ_SUBSPACES))}, adc AS (
  SELECT l.q, e.vec_id, SUM(l.lutd2) AS adc
  FROM ({" UNION ALL ".join(
      f"SELECT {s} AS s, vec_id, code FROM enc{s}"
      for s in range(_PQ_SUBSPACES))}) e
  JOIN ({" UNION ALL ".join(
      f"SELECT {s} AS s, q, cluster, lutd2 FROM lut{s}"
      for s in range(_PQ_SUBSPACES))}) l
    ON e.s = l.s AND e.code = l.cluster
  GROUP BY l.q, e.vec_id
), adc_top AS (
  SELECT q, vec_id, rk FROM (
    SELECT q, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY adc, vec_id) AS rk
    FROM adc
  ) WHERE rk <= 5
), exact AS (
  SELECT p.vec_id AS q, o.vec_id,
         CAST(SUM(CAST((p.x - o.x) * (p.x - o.x) AS DECIMAL(30,10)))
              AS DOUBLE) AS ed2
  FROM v p JOIN v o ON p.dim = o.dim
  WHERE p.vec_id % 100 = 0 GROUP BY 1, 2
), exact_top AS (
  SELECT q, vec_id, rk FROM (
    SELECT q, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY ed2, vec_id) AS rk
    FROM exact
  ) WHERE rk <= 5
), inter AS (
  SELECT a.q, COUNT(*) AS hits
  FROM adc_top a JOIN exact_top e ON a.q = e.q AND a.vec_id = e.vec_id
  GROUP BY a.q
)
SELECT a1.q AS query_id, a1.vec_id AS adc_top1, e1.vec_id AS exact_top1,
       ROUND(CAST(COALESCE(i.hits, 0) AS DOUBLE) / 5.0, 6) AS recall5
FROM (SELECT q, vec_id FROM adc_top WHERE rk = 1) a1
JOIN (SELECT q, vec_id FROM exact_top WHERE rk = 1) e1 ON a1.q = e1.q
LEFT JOIN inter i ON i.q = a1.q
ORDER BY query_id
"""



def em17_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with asymmetric distance (operators.similarity.
    ivfpq_adc_topk — Jégou/Douze/Schmid's IVFADC, the FAISS
    billion-scale ANN architecture): a 1-round deterministic-Lloyd
    coarse quantizer splits the corpus into 4 inverted lists, every
    vector is product-quantized (2 subspaces × 4 codewords) on its
    6dp-rounded RESIDUAL from its cell centroid, and each probe
    (vec_id % 100 == 0) scans only its 2 nearest cells through a
    per-(query, cell) ADC lookup table. Output per probe: ADC top-1,
    exact top-1, and recall@5 against the exact ranking — the
    cell-prune + compression recall audit, completing the em4/em8
    (IVF) and em16 (PQ) composition end-to-end.

    Scale shape: centroids (4×64) and codebooks (2×4×32) broadcast
    everywhere; the candidate scan joins 2-small-int code rows against
    the probe LUT keyed on (cell, subspace, code), so a query ranks
    ~nprobe/num_cells of the corpus moving ~1% of the raw vector
    bytes. Every stage keeps the exact-decimal / 6dp-rounded Lloyd
    contract, so cells, residuals, codes, ADC values and both
    rankings hash-match the fully unrolled SQL oracle."""
    from paqarin_spark.operators import ivfpq_adc_topk

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    adc_top = ivfpq_adc_topk(
        emb, "vec_id", "embedding", F.col("vec_id") % 100 == 0,
        num_cells=4, subspaces=2, k_codes=4, nprobe=2, k=5,
        train_limit=400, coarse_seed=11, pq_seed=7,
    ).localCheckpoint()  # consumed twice (top-1 + intersection)
    dims = emb.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    pdims = dims.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q"), "dim", F.col("x").alias("px")
    )
    exact = (
        pdims.join(dims, on="dim")
        .groupBy("q", "vec_id")
        .agg(
            F.sum(
                ((F.col("px") - F.col("x")) * (F.col("px") - F.col("x")))
                .cast("decimal(30,10)")
            )
            .cast("double")
            .alias("ed2")
        )
    )
    w_ex = Window.partitionBy("q").orderBy("ed2", "vec_id")
    exact_top = (
        exact.withColumn("rk", F.row_number().over(w_ex))
        .where(F.col("rk") <= 5)
        .localCheckpoint()
    )
    inter = (
        adc_top.select("query_id", "neighbor_id")
        .join(
            exact_top.select(
                F.col("q").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
            ),
            on=["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    a1 = adc_top.where(F.col("rk") == 1).select(
        "query_id", F.col("neighbor_id").alias("adc_top1")
    )
    e1 = exact_top.where(F.col("rk") == 1).select(
        F.col("q").alias("query_id"), F.col("vec_id").alias("exact_top1")
    )
    return (
        a1.join(e1, on="query_id")
        .join(inter, on="query_id", how="left")
        .select(
            "query_id",
            "adc_top1",
            "exact_top1",
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)).cast("double") / 5.0, 6
            ).alias("recall5"),
        )
        .orderBy("query_id")
    )


def _ivfpq_subspace_sql(s: int, width: int = _PQ_WIDTH, k: int = 4) -> str:
    """Per-subspace CTE block for EM17_SQL — em16's PQ pattern pointed
    at the RESIDUAL dims CTE ``rv`` (1 Lloyd iteration: pb0 → pa1 →
    pb1 final), plus the per-(query, cell) residual LUT."""
    lo, hi = s * width, (s + 1) * width
    key = "md5('kmeans#' || CAST(vec_id AS VARCHAR) || '#7')"
    return f"""rvs{s} AS (
  SELECT vec_id, dim - {lo} AS dim, x FROM rv WHERE dim >= {lo} AND dim < {hi}
), ptv{s} AS (
  SELECT r.vec_id, r.dim, r.x FROM rvs{s} r JOIN tr USING (vec_id)
), pinit{s} AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {key}) - 1 AS cluster, vec_id
  FROM tr ORDER BY {key} LIMIT {k}
), pb0_{s} AS (
  SELECT i.cluster, t.dim, t.x AS c
  FROM pinit{s} i JOIN ptv{s} t ON t.vec_id = i.vec_id
), pa1_{s} AS (
  SELECT vec_id, cluster FROM (
    SELECT t.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY t.vec_id
             ORDER BY CAST(SUM(CAST((t.x - c.c) * (t.x - c.c)
                                    AS DECIMAL(30,10))) AS DOUBLE), c.cluster
           ) AS rk
    FROM ptv{s} t JOIN pb0_{s} c ON t.dim = c.dim GROUP BY t.vec_id, c.cluster
  ) WHERE rk = 1
), pb1_{s} AS (
  SELECT a.cluster, t.dim,
         ROUND(CAST(SUM(CAST(t.x AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM ptv{s} t JOIN pa1_{s} a ON t.vec_id = a.vec_id GROUP BY 1, 2
), enc{s} AS (
  SELECT vec_id, cluster AS code FROM (
    SELECT e.vec_id, e.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY e.d2, e.cluster)
             AS rk
    FROM (
      SELECT t.vec_id, c.cluster,
             CAST(SUM(CAST((t.x - c.c) * (t.x - c.c) AS DECIMAL(30,10)))
                  AS DOUBLE) AS d2
      FROM rvs{s} t JOIN pb1_{s} c ON t.dim = c.dim GROUP BY 1, 2
    ) e
  ) WHERE rk = 1
), lut{s} AS (
  SELECT r.q, r.cell, c.cluster,
         CAST(SUM(CAST((r.x - c.c) * (r.x - c.c) AS DECIMAL(30,10)))
              AS DOUBLE) AS lutd2
  FROM (SELECT q, cell, dim - {lo} AS dim, x
        FROM qr WHERE dim >= {lo} AND dim < {hi}) r
  JOIN pb1_{s} c ON c.dim = r.dim
  GROUP BY 1, 2, 3
)"""


_EM17_COARSE_KEY = "md5('kmeans#' || CAST(vec_id AS VARCHAR) || '#11')"


def _ivfpq_adc_sql(probe_pred: str) -> str:
    """Shared IVF-PQ ADC pipeline CTEs (through ``adc_top``),
    parameterized by the probe predicate — EM17 (corpus-fraction
    recall audit) and EM34 (fixed-probe serving leg) consume the
    SAME replay so the two oracles cannot drift."""
    return f"""
WITH v AS (
  SELECT vec_id, u.dim, u.x FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           UNNEST(embedding)::DOUBLE AS x
  ) u
), civ AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {_EM17_COARSE_KEY}) - 1 AS cell, vec_id
  FROM embeddings ORDER BY {_EM17_COARSE_KEY} LIMIT 4
), c0 AS (
  SELECT i.cell, v.dim, v.x AS c FROM civ i JOIN v ON v.vec_id = i.vec_id
), a1 AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(SUM(CAST((v.x - c.c) * (v.x - c.c)
                                    AS DECIMAL(30,10))) AS DOUBLE), c.cell
           ) AS rk
    FROM v JOIN c0 c ON v.dim = c.dim GROUP BY v.vec_id, c.cell
  ) WHERE rk = 1
), c1 AS (
  SELECT a.cell, v.dim,
         ROUND(CAST(SUM(CAST(v.x AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM v JOIN a1 a ON v.vec_id = a.vec_id GROUP BY 1, 2
), a2 AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(SUM(CAST((v.x - c.c) * (v.x - c.c)
                                    AS DECIMAL(30,10))) AS DOUBLE), c.cell
           ) AS rk
    FROM v JOIN c1 c ON v.dim = c.dim GROUP BY v.vec_id, c.cell
  ) WHERE rk = 1
), rv AS (
  SELECT v.vec_id, v.dim, ROUND(v.x - c.c, 6) AS x
  FROM v JOIN a2 ON v.vec_id = a2.vec_id
  JOIN c1 c ON c.cell = a2.cell AND c.dim = v.dim
), tr AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (
             ORDER BY md5('pqtrain#' || CAST(vec_id AS VARCHAR)), vec_id
           ) AS rn
    FROM embeddings
  ) WHERE rn <= 400
), qcd AS (
  SELECT v.vec_id AS q, c.cell,
         CAST(SUM(CAST((v.x - c.c) * (v.x - c.c) AS DECIMAL(30,10)))
              AS DOUBLE) AS d2
  FROM v JOIN c1 c ON v.dim = c.dim
  WHERE {probe_pred} GROUP BY 1, 2
), qcell AS (
  SELECT q, cell FROM (
    SELECT q, cell, ROW_NUMBER() OVER (PARTITION BY q ORDER BY d2, cell) AS rk
    FROM qcd
  ) WHERE rk <= 2
), qr AS (
  SELECT v.vec_id AS q, qc.cell, v.dim, ROUND(v.x - c.c, 6) AS x
  FROM v JOIN qcell qc ON qc.q = v.vec_id
  JOIN c1 c ON c.cell = qc.cell AND c.dim = v.dim
), {", ".join(_ivfpq_subspace_sql(s) for s in range(_PQ_SUBSPACES))}, adc AS (
  SELECT l.q, e.vec_id, SUM(l.lutd2) AS adc
  FROM ({" UNION ALL ".join(
      f"SELECT {s} AS s, vec_id, code FROM enc{s}"
      for s in range(_PQ_SUBSPACES))}) e
  JOIN a2 ON a2.vec_id = e.vec_id
  JOIN ({" UNION ALL ".join(
      f"SELECT {s} AS s, q, cell, cluster, lutd2 FROM lut{s}"
      for s in range(_PQ_SUBSPACES))}) l
    ON l.s = e.s AND l.cluster = e.code AND l.cell = a2.cell
  GROUP BY l.q, e.vec_id
), adc_top AS (
  SELECT q, vec_id, adc, rk FROM (
    SELECT q, vec_id, adc,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY adc, vec_id) AS rk
    FROM adc
  ) WHERE rk <= 5
)"""


EM17_SQL = _ivfpq_adc_sql("v.vec_id % 100 = 0") + f""", exact AS (
  SELECT p.vec_id AS q, o.vec_id,
         CAST(SUM(CAST((p.x - o.x) * (p.x - o.x) AS DECIMAL(30,10)))
              AS DOUBLE) AS ed2
  FROM v p JOIN v o ON p.dim = o.dim
  WHERE p.vec_id % 100 = 0 GROUP BY 1, 2
), exact_top AS (
  SELECT q, vec_id, rk FROM (
    SELECT q, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY ed2, vec_id) AS rk
    FROM exact
  ) WHERE rk <= 5
), inter AS (
  SELECT a.q, COUNT(*) AS hits
  FROM adc_top a JOIN exact_top e ON a.q = e.q AND a.vec_id = e.vec_id
  GROUP BY a.q
)
SELECT a1t.q AS query_id, a1t.vec_id AS adc_top1, e1.vec_id AS exact_top1,
       ROUND(CAST(COALESCE(i.hits, 0) AS DOUBLE) / 5.0, 6) AS recall5
FROM (SELECT q, vec_id FROM adc_top WHERE rk = 1) a1t
JOIN (SELECT q, vec_id FROM exact_top WHERE rk = 1) e1 ON a1t.q = e1.q
LEFT JOIN inter i ON i.q = a1t.q
ORDER BY query_id
"""


def em34_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ SERVING leg with a FIXED probe set — the production
    counterpart of em17's recall audit, and the round-11 scale-bench
    finding made operational: the 10× leg measured the corpus-FRACTION
    probe audits (em17 39.9×, em18 45.7×) going quadratic by
    construction, because probes scaling with the corpus make
    probe×candidate work ∝ n². A serving path pins the query set —
    here the 8 vectors with vec_id < 8, fixed at ANY scale factor
    (ids are dense from 0) — so cost scales with the corpus only
    through the pruned inverted lists (~nprobe/num_cells of one
    cell's codes per query), the FAISS deployment shape. Same trained
    index, same ADC arithmetic, same oracle pipeline as em17 (the
    shared `_ivfpq_adc_sql` replay — the two CANNOT drift); output is
    the served result itself: top-5 neighbors per query with the
    6dp-rounded ADC distance, no exact-scan leg at all (that is the
    audit's job, run offline)."""
    from paqarin_spark.operators import ivfpq_adc_topk

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        ivfpq_adc_topk(
            emb, "vec_id", "embedding", F.col("vec_id") < 8,
            num_cells=4, subspaces=2, k_codes=4, nprobe=2, k=5,
            train_limit=400, coarse_seed=11, pq_seed=7,
        )
        .select(
            "query_id",
            F.col("rk").cast("int").alias("rank"),
            "neighbor_id",
            F.round("adc", 6).alias("adc_d2"),
        )
        .orderBy("query_id", "rank")
    )


EM34_SQL = _ivfpq_adc_sql("v.vec_id < 8") + """
SELECT q AS query_id, CAST(rk AS INTEGER) AS rank,
       vec_id AS neighbor_id, ROUND(adc, 6) AS adc_d2
FROM adc_top ORDER BY query_id, rank
"""


def _hamming_banded_top5(spark: SparkSession, sf_dir: str, probe_filter):
    """Shared banded-SimHash retrieval kernel for em18 (the recall
    AUDIT) and em35 (the fixed-probe SERVE) — one definition so audit
    and serving path cannot drift (the em17/em34 `_ivfpq_adc_sql`
    discipline applied to the Hamming family). 32 md5-sign hyperplane
    bits pack into one long per vector (similarity.sign_signatures,
    expr method); each signature splits into four 8-bit bands; a
    corpus item is a candidate for a probe iff they collide in ≥1
    band (256-value (band, value) bucket equi-join — a keyed shuffle,
    never a corpus-fraction broadcast); candidates rerank by full
    Hamming distance (bit_count of xor), top-5 per probe, ties to the
    smaller vec_id. Returns (q, vec_id, ham, rk<=5)."""
    from paqarin_spark.operators import sign_signatures

    emb = read_table(spark, sf_dir, "embeddings")
    sigs = sign_signatures(
        emb, "vec_id", "embedding", num_planes=32, seed=7, prefix="ham",
        method="expr",  # the oracle-parity path; matmul is the default
    ).localCheckpoint()  # consumed by both sides of the probe scan
    bands = F.array(
        *[
            F.shiftright(F.col("sig"), 8 * b).bitwiseAND(F.lit(255))
            for b in range(4)
        ]
    )
    cb = sigs.select(
        "vec_id", "sig", F.posexplode(bands).alias("b", "bv")
    )
    pb = cb.where(probe_filter).select(
        F.col("vec_id").alias("q"), F.col("sig").alias("qsig"), "b", "bv"
    )
    cand = (
        cb.join(pb, on=["b", "bv"])
        .select("q", "vec_id", "sig", "qsig")
        .distinct()
    )
    ham = cand.select(
        "q",
        "vec_id",
        F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))).alias("ham"),
    )
    w_h = Window.partitionBy("q").orderBy("ham", "vec_id")
    return ham.withColumn("rk", F.row_number().over(w_h)).where(
        F.col("rk") <= 5
    )


def _hamming_banded_sql(probe_pred: str) -> str:
    """Oracle prefix shared by EM18_SQL and EM35_SQL: replays
    signatures, the 4×8-bit band split, the positional band-collision
    candidate join under `probe_pred`, and the Hamming top-5 — ending
    open after the ham_top CTE so each query appends its own tail."""
    return f"""
WITH v AS (
  SELECT vec_id, u.dim, u.x FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           UNNEST(embedding)::DOUBLE AS x
  ) u
), planes AS (
  SELECT j, i,
         CASE WHEN ('0x' || substring(
                md5('ham7#' || j || '#' || i), 1, 1))::UBIGINT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s,
         CAST(2 ** j AS BIGINT) AS w
  FROM (SELECT unnest(range(32)) AS j), (SELECT unnest(range(64)) AS i)
), proj AS (
  SELECT v.vec_id, p.j, p.w,
         ROUND(CAST(SUM(CAST(v.x * p.s AS DECIMAL(30,10))) AS DOUBLE), 6)
           AS pr
  FROM v JOIN planes p ON p.i = v.dim
  GROUP BY 1, 2, 3
), sigs AS (
  SELECT vec_id, SUM(CASE WHEN pr >= 0 THEN w ELSE 0 END) AS sig
  FROM proj GROUP BY 1
), cbands AS (
  SELECT vec_id, CAST(sig AS BIGINT) AS sig, b.b,
         (CAST(sig AS BIGINT) >> (8 * b.b)) & 255 AS bv
  FROM sigs, (SELECT unnest(range(4)) AS b) b
), cand AS (
  SELECT DISTINCT p.vec_id AS q, p.sig AS qsig, c.vec_id, c.sig
  FROM cbands c
  JOIN (SELECT * FROM cbands WHERE {probe_pred}) p
    ON c.b = p.b AND c.bv = p.bv
), ham AS (
  SELECT q, vec_id, bit_count(xor(sig, qsig)) AS hd
  FROM cand
), ham_top AS (
  SELECT q, vec_id, hd, rk FROM (
    SELECT q, vec_id, hd,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY hd, vec_id) AS rk
    FROM ham
  ) WHERE rk <= 5
)"""


def em35_hamming_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature SERVING leg with a FIXED probe set — em34's
    fixed-probe pattern applied to the Hamming/SimHash family (the
    round-11 scale-bench answer made operational for the second index
    class): em18's recall audit probes a corpus FRACTION (vec_id %
    100 == 0), so its probe×candidate work grows ∝ n² by the audit's
    own construction (measured 45.7× at 10× data); production serving
    pins the query set — the 8 vectors with vec_id < 8, fixed at ANY
    scale factor (ids are dense from 0) — so cost scales with the
    corpus only through the per-band bucket lists (~4·n/256 candidate
    rows per query), the Charikar-SimHash deployment shape. Same
    signatures, same band split, same candidate join, same Hamming
    rerank, same oracle pipeline as em18 (the shared
    `_hamming_banded_sql` replay — audit and serve CANNOT drift);
    output is the served result itself: top-5 neighbors per query
    with the integer Hamming distance, no exact-cosine leg at all
    (that is the audit's job, run offline)."""
    configure_for_determinism(spark)
    top = _hamming_banded_top5(spark, sf_dir, F.col("vec_id") < 8)
    return top.select(
        F.col("q").alias("query_id"),
        F.col("rk").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("ham").cast("int").alias("ham_d"),
    ).orderBy("query_id", "rank")


EM35_SQL = _hamming_banded_sql("vec_id < 8") + """
SELECT q AS query_id, CAST(rk AS INTEGER) AS rank,
       vec_id AS neighbor_id, CAST(hd AS INTEGER) AS ham_d
FROM ham_top ORDER BY query_id, rank
"""


def em18_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature retrieval audit (operators.similarity.
    sign_signatures — Charikar's SimHash over dense embeddings): pack
    32 md5-sign hyperplane bits into one long per vector, rank the
    corpus for every probe (vec_id % 100 == 0) by HAMMING distance
    (bit_count of xor — pure integer ops on 8-byte signatures instead
    of 256-byte float vectors), and audit recall@5 of the Hamming
    ranking against exact cosine. E[ham]/32 estimates θ/π, so this is
    the compression/recall trade of binary-hashing ANN, measured.

    The Hamming leg is BANDED, em2-style (round 11): each 32-bit
    signature splits into four 8-bit bands; a corpus item is a
    candidate for a probe iff they collide in at least one band
    (256-value bucket equi-join, 4·n·p/256 pairs instead of n·p),
    and only candidates are reranked by full Hamming distance. The
    oracle replays the identical banding, so the hash match verifies
    the banded retrieval itself; exact cosine stays the unbanded
    ground-truth leg recall@5 is measured against.

    Scale shape: signatures are ONE JVM-side groupBy over exploded
    dims against a broadcast 32×d ±1 plane table, computed once and
    8 bytes/vector thereafter; the probe scan is a (band, value)
    bucket equi-join — a keyed shuffle, NO corpus-fraction broadcast
    (the r10-adjudicated amber this banding closes). Ties in Hamming
    distance break by vec_id; every signature bit, the band split,
    and both rankings replay in SQL."""
    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    ham_top = _hamming_banded_top5(
        spark, sf_dir, F.col("vec_id") % 100 == 0
    ).localCheckpoint()  # consumed by both the recall join and h1
    dims = emb.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    norms = dims.groupBy("vec_id").agg(
        F.sqrt(
            F.sum((F.col("x") * F.col("x")).cast("decimal(30,10)")).cast(
                "double"
            )
        ).alias("nrm")
    )
    pdims = dims.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q"), "dim", F.col("x").alias("px")
    )
    dots = (
        pdims.join(dims, on="dim")
        .groupBy("q", "vec_id")
        .agg(
            F.sum((F.col("px") * F.col("x")).cast("decimal(30,10)"))
            .cast("double")
            .alias("dot")
        )
    )
    cos = (
        dots.join(norms.withColumnRenamed("vec_id", "q"), on="q")
        .withColumnRenamed("nrm", "qn")
        .join(norms, on="vec_id")
        .select(
            "q",
            "vec_id",
            F.round(F.col("dot") / (F.col("qn") * F.col("nrm")), 6).alias(
                "cs"
            ),
        )
    )
    w_c = Window.partitionBy("q").orderBy(F.col("cs").desc(), "vec_id")
    cos_top = (
        cos.withColumn("rk", F.row_number().over(w_c))
        .where(F.col("rk") <= 5)
        .localCheckpoint()
    )
    inter = (
        ham_top.select("q", "vec_id")
        .join(cos_top.select("q", "vec_id"), on=["q", "vec_id"])
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    h1 = ham_top.where(F.col("rk") == 1).select(
        "q", F.col("vec_id").alias("ham_top1")
    )
    c1 = cos_top.where(F.col("rk") == 1).select(
        "q", F.col("vec_id").alias("cos_top1")
    )
    return (
        h1.join(c1, on="q")
        .join(inter, on="q", how="left")
        .select(
            F.col("q").alias("query_id"),
            "ham_top1",
            "cos_top1",
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)).cast("double") / 5.0, 6
            ).alias("recall5"),
        )
        .orderBy("query_id")
    )


EM18_SQL = _hamming_banded_sql("vec_id % 100 = 0") + """, norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE))
           AS nrm
  FROM v GROUP BY 1
), cos AS (
  SELECT p.vec_id AS q, o.vec_id,
         ROUND(CAST(SUM(CAST(p.x * o.x AS DECIMAL(30,10))) AS DOUBLE)
               / (np.nrm * no.nrm), 6) AS cs
  FROM v p
  JOIN v o ON p.dim = o.dim
  JOIN norms np ON np.vec_id = p.vec_id
  JOIN norms no ON no.vec_id = o.vec_id
  WHERE p.vec_id % 100 = 0
  GROUP BY p.vec_id, o.vec_id, np.nrm, no.nrm
), cos_top AS (
  SELECT q, vec_id, rk FROM (
    SELECT q, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY cs DESC, vec_id) AS rk
    FROM cos
  ) WHERE rk <= 5
), inter AS (
  SELECT h.q, COUNT(*) AS hits
  FROM ham_top h JOIN cos_top c ON h.q = c.q AND h.vec_id = c.vec_id
  GROUP BY h.q
)
SELECT h1.q AS query_id, h1.vec_id AS ham_top1, c1.vec_id AS cos_top1,
       ROUND(CAST(COALESCE(i.hits, 0) AS DOUBLE) / 5.0, 6) AS recall5
FROM (SELECT q, vec_id FROM ham_top WHERE rk = 1) h1
JOIN (SELECT q, vec_id FROM cos_top WHERE rk = 1) c1 ON h1.q = c1.q
LEFT JOIN inter i ON i.q = h1.q
ORDER BY query_id
"""

def st11_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantile sketch — the third streaming-sketch dual
    beside st9 (HLL registers) and st10 (count-min counters): the
    bottom-k uniform sample IS the per-group state (≤ k rows forever),
    folded per micro-batch by the same union + re-top-k merge the
    batch sketch uses across shards, via a custom
    applyInPandasWithState operator. The final state provably equals
    batch q79's sample at the same k, and finishes through the SAME
    estimate arithmetic — so a STREAMING run hash-matches a plain SQL
    oracle (tie-break on the md5 key then the id STRING, mirrored in
    the ORDER BY)."""
    from paqarin_spark.operators.sketch import quantile_estimate_from_sketch
    from paqarin_spark.streaming import (
        latest_sketch_version,
        stream_quantile_sketch,
    )

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    sk = stream_quantile_sketch(
        stream, "value", rank_columns=["event_id"], k=128,
        group_by=["event_type"],
    )
    name = "st11_stream_quantile_sketch"
    # state rows bounded by construction — cap the keyed exchange
    sink = _run_to_memory(spark, sk, name, "append", 8)
    final = latest_sketch_version(sink, ["event_type"])
    return quantile_estimate_from_sketch(
        final, [0.5, 0.9, 0.99], group_by=["event_type"]
    ).orderBy("event_type")


ST11_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY ('0x' || substring(md5('qsketch#0#'
                       || CAST(event_id AS VARCHAR)), 1, 15))::UBIGINT
                    / 1152921504606846976.0,
                    CAST(event_id AS VARCHAR)
         ) AS rk
  FROM events
), samp AS (
  SELECT event_type, value FROM ranked WHERE rk <= 128
), agg AS (
  SELECT event_type, COUNT(*) AS m,
         LIST(value ORDER BY value) AS vs
  FROM samp GROUP BY event_type
)
SELECT event_type,
       CAST(m AS BIGINT) AS n_sample,
       ROUND(vs[GREATEST(CAST(CEIL(0.5 * m) AS INTEGER), 1)], 6) AS p5,
       ROUND(vs[GREATEST(CAST(CEIL(0.9 * m) AS INTEGER), 1)], 6) AS p9,
       ROUND(vs[GREATEST(CAST(CEIL(0.99 * m) AS INTEGER), 1)], 6) AS p99
FROM agg ORDER BY event_type
"""


def st12_stream_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING cohort retention — the batch/stream dual of q82
    (streaming.stream_cohort_offsets): per-user state stores the set
    of distinct ACTIVE DAYS, so a user's true first event arriving in
    a later micro-batch rebases the cohort and every week offset is
    recomputed against the new anchor (offsets alone cannot be rebased
    when the anchor moves by a non-multiple of 7). Emissions publish
    each user's full corrected offset set under a monotone version;
    the finisher takes max-version rows and runs the SAME rollup /
    size-join / 6dp retention arithmetic as the batch query — so the
    streaming run hash-matches q82's plain SQL oracle independent of
    micro-batch boundaries or arrival order."""
    from paqarin_spark.streaming import (
        cohort_retention_from_emissions,
        stream_cohort_offsets,
    )

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    emi = stream_cohort_offsets(stream)
    name = "st12_stream_cohort"
    sink = _run_to_memory(
        spark, emi, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return cohort_retention_from_emissions(sink)


# st12 is the streaming dual of q82 and carries q82's batch oracle.
ST12_SQL = Q82_SQL


def tx38_fuzzy_supplier_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution FUZZY JOIN (operators.dedup.fuzzy_pairs):
    supplier names within edit distance 1, found by
    deletion-neighborhood blocking — candidates come from an EQUI-join
    on the string's single-deletion variants (exact for distance ≤ 1),
    never an all-pairs crossJoin; the ORACLE is the naive quadratic
    levenshtein join, proving the blocked plan computes the identical
    pair set. The near-sequential supplier serials make a dense,
    adversarial distance-1 graph (13.5k pairs at sf0.1)."""
    from paqarin_spark.operators.dedup import fuzzy_pairs

    configure_for_determinism(spark)
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return fuzzy_pairs(supp, "s_name", "s_suppkey").orderBy("id_a", "id_b")


TX38_SQL = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
ORDER BY id_a, id_b
"""


def q79_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch (operators.sketch.quantile_sketch) —
    the fourth sketch shape beside HLL (q73), count-min (tx33) and
    weighted sampling (tx35): a bottom-k md5-rank uniform sample per
    event_type (bounded at k rows/group forever, merge = union +
    re-top-k), finished into type-1 sample quantiles
    (quantile_estimate_from_sketch). The sample is value-independent
    (ranks hash only the row identity), so the estimates are
    bit-reproducible on any layout and replay exactly in SQL — the
    error is statistical (O(1/sqrt(k))), the value deterministic."""
    from paqarin_spark.operators import (
        quantile_estimate_from_sketch,
        quantile_sketch,
    )

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    sk = quantile_sketch(
        ev, "value", rank_columns=["event_id"], k=128,
        group_by=["event_type"],
    )
    return quantile_estimate_from_sketch(
        sk, [0.5, 0.9, 0.99], group_by=["event_type"]
    ).orderBy("event_type")


Q79_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY ('0x' || substring(md5('qsketch#0#'
                       || CAST(event_id AS VARCHAR)), 1, 15))::UBIGINT
                    / 1152921504606846976.0,
                    CAST(event_id AS VARCHAR)
         ) AS rk
  FROM events
), samp AS (
  SELECT event_type, value FROM ranked WHERE rk <= 128
), agg AS (
  SELECT event_type, COUNT(*) AS m,
         LIST(value ORDER BY value) AS vs
  FROM samp GROUP BY event_type
)
SELECT event_type,
       CAST(m AS BIGINT) AS n_sample,
       ROUND(vs[GREATEST(CAST(CEIL(0.5 * m) AS INTEGER), 1)], 6) AS p5,
       ROUND(vs[GREATEST(CAST(CEIL(0.9 * m) AS INTEGER), 1)], 6) AS p9,
       ROUND(vs[GREATEST(CAST(CEIL(0.99 * m) AS INTEGER), 1)], 6) AS p99
FROM agg ORDER BY event_type
"""


def q76_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds 200, joined back to customer detail, top 100 by
    value. The HAVING subquery decorrelates into one lineitem rollup
    keyed on l_orderkey — the SAME key the orders join shuffles on, so
    at scale the rollup and the join co-locate into one exchange
    chain; the customer dim joins under AQE (broadcast at bench scale,
    shuffled at 100 TB). Quantity sums are exact decimal, rounded at
    the boundary and output (the q33 order-independence discipline)."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(30,10)")).cast(
                    "double"
                ),
                6,
            ).alias("total_qty")
        )
        .where(F.col("total_qty") > 200.0)
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.round("o_totalprice", 6).alias("total_price"),
            "total_qty",
        )
        .orderBy(
            F.col("total_price").desc(), F.col("order_day"), F.col("o_orderkey")
        )
        .limit(100)
    )


Q76_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE), 6)
           AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING total_qty > 200.0
)
SELECT c_name, o_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS order_day,
       ROUND(o_totalprice, 6) AS total_price,
       total_qty
FROM per_order
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_price DESC, order_day, o_orderkey
LIMIT 100
"""


def q77_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): average yearly
    revenue lost if orders below 20% of a part's average quantity were
    dropped, for one brand. The correlated per-part average
    decorrelates into a lineitem rollup keyed on l_partkey — the same
    key the detail join shuffles on (co-located exchange chain); the
    brand-filtered part dim prunes FIRST so both lineitem passes scan
    only matching parts' rows. Per-part averages use exact decimal
    sums over a long count (identical doubles on both engines — no
    rounded-threshold boundary to flip)."""
    configure_for_determinism(spark)
    return tpch.q17_small_qty_revenue(spark, sf_dir, **_Q77_KNOBS)


_Q77_KNOBS = dict(
    brand="Brand#23", avg_scope="branded", count_alias="n_small", dp=6
)

Q77_SQL = tpch.q17_sql(**_Q77_KNOBS)


def q78_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balances and NO order since mid-2000,
    rolled up per nation. The NOT EXISTS is a LEFT ANTI join against
    the date-pruned orders projection (the filter pushes to the
    orders scan; the anti join shuffles only matching custkeys); the
    scalar average threshold is an exact decimal sum over a long
    count, so both engines compare against the identical double."""
    configure_for_determinism(spark)
    return tpch.q22_dormant_rich(
        spark, sf_dir, order="nationkey", **_Q78_KNOBS
    )


_Q78_KNOBS = dict(
    cutoff="2000-06-01",
    threshold="sumcount_double",
    group="nationkey",
    group_alias="nationkey",
    count_alias="numcust",
    sum_alias="totacctbal",
    dp=6,
)


Q78_SQL = tpch.q22_sql(**_Q78_KNOBS)


def q83_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (part-promotion supplier selection) re-expressed
    over the slimmed schema (no partsupp table): for every PROMO-type
    part, find the LEADING supplier — the one that shipped the largest
    total quantity of that part (exact-decimal sums; suppkey breaks
    ties) — and report how many parts each supplier leads. Q20's
    correlated `availqty > 0.5 * SUM(lineitem)` threshold becomes a
    per-part argmax so the selection stays meaningful at ANY scale
    factor (a fixed share threshold empties out as supplier counts per
    part grow with SF); the plan is the same decorrelated two-stage
    shape — one (part, supplier) aggregation, one per-part rank over
    it, written directly instead of as a correlated subquery.

    Scale shape: the part-type filter semi-prunes lineitem
    at the scan; the rank window re-uses the aggregation's l_partkey
    partitioning (no extra exchange); the supplier join is AQE's
    choice (q53/q74 policy). Exact-decimal qty ordering means the
    argmax can never flip cross-engine."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    promo = part.where(F.col("p_type") == "PROMO").select("p_partkey")
    pruned = li.join(
        promo, li.l_partkey == F.col("p_partkey"), "left_semi"
    )
    per_ps = pruned.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,10)")).alias("qty_ps")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("qty_ps").desc(), F.col("l_suppkey")
    )
    leaders = per_ps.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") == 1
    )
    return (
        leaders.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_parts_led"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "n_parts_led")
        .orderBy(F.col("n_parts_led").desc(), "s_name")
    )


Q83_SQL = """
WITH promo AS (
  SELECT p_partkey FROM part WHERE p_type = 'PROMO'
), per_ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(30,10))) AS qty_ps
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM promo)
  GROUP BY 1, 2
), leaders AS (
  SELECT l_partkey, l_suppkey FROM (
    SELECT l_partkey, l_suppkey,
           ROW_NUMBER() OVER (PARTITION BY l_partkey
                              ORDER BY qty_ps DESC, l_suppkey) AS rk
    FROM per_ps
  ) WHERE rk = 1
)
SELECT s_name, n_parts_led FROM (
  SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_parts_led
  FROM leaders l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY s.s_suppkey, s.s_name
)
ORDER BY n_parts_led DESC, s_name
"""


def q84_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier) over the slimmed schema:
    for every LARGE-type part, find the EUROPE supplier with the
    lowest observed unit price — exact-decimal sum(extendedprice) /
    sum(quantity) per (part, supplier), argmin per part with suppkey
    tie-break. Q2's correlated `ps_supplycost = (SELECT MIN ...)`
    subquery becomes one aggregation plus a per-part rank window (the
    decorrelated plan), and the region→nation→supplier dimension
    chain collapses into ONE broadcast-able supplier filter before
    the big-table aggregation — the join order Catalyst should pick,
    declared directly.

    Scale shape: region⋈nation⋈supplier is dims-only (broadcast by
    AQE); lineitem is semi-pruned by BOTH broadcast probes (part
    type, regional supplier) before its only exchange on
    (l_partkey, l_suppkey); the argmin window reuses the l_partkey
    prefix of that key. Unit price divides two exact decimal sums, so
    the double is bit-identical cross-engine and the argmin cannot
    flip."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    euro_supp = (
        supp.join(
            nation, supp.s_nationkey == nation.n_nationkey
        )
        .join(
            region.where(F.col("r_name") == "EUROPE"),
            nation.n_regionkey == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    large = part.where(F.col("p_type") == "LARGE").select(
        "p_partkey", "p_name"
    )
    pruned = li.join(
        large.select("p_partkey"),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    ).join(
        euro_supp.select("s_suppkey"),
        li.l_suppkey == F.col("s_suppkey"),
        "left_semi",
    )
    per_ps = pruned.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(30,10)"))
            .cast("double")
            / F.sum(F.col("l_quantity").cast("decimal(30,10)")).cast(
                "double"
            )
        ).alias("unit_price"),
        # exact-integer legs for the DISPLAY rounding: prices are 2dp
        # and quantities integral, so both sums scale to exact
        # integers and half-up at 6dp becomes pure integer floor
        # arithmetic — floor((2·P·10⁶ + Q)/(2·Q)) — identical on both
        # engines. Rounding the quotient DOUBLE instead flips on
        # exact 6dp ties (the sf0.1 gate caught 266.9078125: Spark
        # half-up 813 vs DuckDB's float round 812); the unrounded
        # double still carries the argmin ORDERING, bit-identical
        # cross-engine as before.
        (
            F.sum(F.col("l_extendedprice").cast("decimal(30,10)"))
            * F.lit(1000000)
        ).cast("decimal(38,0)").alias("_p6"),
        F.sum(F.col("l_quantity").cast("decimal(30,10)"))
        .cast("decimal(38,0)")
        .alias("_q0"),
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = per_ps.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") == 1
    )
    return (
        best.join(large, best.l_partkey == large.p_partkey)
        .join(euro_supp, best.l_suppkey == euro_supp.s_suppkey)
        .select(
            F.col("l_partkey").alias("partkey"),
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            (
                F.expr("(2 * _p6 + _q0) div (2 * _q0)").cast("double")
                / F.lit(1000000.0)
            ).alias("unit_price"),
        )
        .orderBy("partkey")
    )


Q84_SQL = """
WITH euro_supp AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), large AS (
  SELECT p_partkey, p_name FROM part WHERE p_type = 'LARGE'
), per_ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)
           AS unit_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) * 1000000
              AS HUGEINT) AS p6,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS HUGEINT) AS q0
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM large)
    AND l_suppkey IN (SELECT s_suppkey FROM euro_supp)
  GROUP BY 1, 2
), best AS (
  SELECT l_partkey, l_suppkey, p6, q0 FROM (
    SELECT l_partkey, l_suppkey, p6, q0,
           ROW_NUMBER() OVER (PARTITION BY l_partkey
                              ORDER BY unit_price, l_suppkey) AS rk
    FROM per_ps
  ) WHERE rk = 1
)
SELECT b.l_partkey AS partkey, p.p_name, s.s_name, s.n_name AS nation,
       CAST((2 * b.p6 + b.q0) // (2 * b.q0) AS DOUBLE) / 1000000.0
         AS unit_price
FROM best b
JOIN large p ON b.l_partkey = p.p_partkey
JOIN euro_supp s ON b.l_suppkey = s.s_suppkey
ORDER BY partkey
"""


def q85_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the customer–supplier trade graph
    (operators.graph.bfs_hops — graph family #4 beside pagerank,
    connected components, triangles): seed every 100th customer, walk
    the UNDIRECTED bipartite edge list (customer ⋈ orders ⋈ lineitem
    supplier pairs, both directions), and report how many customers /
    suppliers first become reachable at each hop ≤ 4 — the supply-
    chain blast-radius question as iterative frontier expansion.
    Node ids carry a 'c'/'s' prefix so the two integer key spaces
    cannot collide.

    Scale shape: one keyed equi-join + one anti-join per round
    (pagerank's per-round discipline, lineage checkpointed); the
    fixed hop bound IS the contract, so the oracle unrolls the exact
    rounds as stacked NOT-IN CTEs. On this dense bipartite graph the
    frontier saturates in 2–3 hops — the output pins exactly where."""
    from paqarin_spark.operators import bfs_hops

    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cust = read_table(spark, sf_dir, "customer")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("b"),
        )
        .distinct()
    )
    und = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    seeds = cust.where(F.col("c_custkey") % 100 == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("node")
    )
    reached = bfs_hops(und, seeds, src="a", dst="b", max_hops=4)
    return (
        reached.groupBy(
            "hop", F.substring("node", 1, 1).alias("node_type")
        )
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("hop", "node_type")
    )


Q85_SQL = """
WITH e AS (
  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), und AS (
  SELECT a, b FROM e UNION SELECT b, a FROM e
), h0 AS (
  SELECT DISTINCT 'c' || c_custkey AS node FROM customer
  WHERE c_custkey % 100 = 0
), h1 AS (
  SELECT DISTINCT u.b AS node FROM und u JOIN h0 ON u.a = h0.node
  WHERE u.b NOT IN (SELECT node FROM h0)
), h2 AS (
  SELECT DISTINCT u.b AS node FROM und u JOIN h1 ON u.a = h1.node
  WHERE u.b NOT IN (SELECT node FROM h0)
    AND u.b NOT IN (SELECT node FROM h1)
), h3 AS (
  SELECT DISTINCT u.b AS node FROM und u JOIN h2 ON u.a = h2.node
  WHERE u.b NOT IN (SELECT node FROM h0)
    AND u.b NOT IN (SELECT node FROM h1)
    AND u.b NOT IN (SELECT node FROM h2)
), h4 AS (
  SELECT DISTINCT u.b AS node FROM und u JOIN h3 ON u.a = h3.node
  WHERE u.b NOT IN (SELECT node FROM h0)
    AND u.b NOT IN (SELECT node FROM h1)
    AND u.b NOT IN (SELECT node FROM h2)
    AND u.b NOT IN (SELECT node FROM h3)
), reached AS (
  SELECT node, 0 AS hop FROM h0
  UNION ALL SELECT node, 1 FROM h1
  UNION ALL SELECT node, 2 FROM h2
  UNION ALL SELECT node, 3 FROM h3
  UNION ALL SELECT node, 4 FROM h4
)
SELECT hop, substr(node, 1, 1) AS node_type, COUNT(*) AS n_nodes
FROM reached GROUP BY 1, 2 ORDER BY 1, 2
"""


def q86_incremental_view_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance — the aggregate-level
    sibling of q71's row-level CDC merge: a per-user rollup (event
    count, value sum, last activity) is maintained by aggregating the
    BASE period (ts < Jan 20) and the DELTA period separately and
    merging with one full-outer coalesce join — never re-scanning the
    base at refresh time. The ORACLE deliberately computes the same
    view by FULL recompute over all events, so the hash match proves
    the algebraic identity the whole incremental-refresh pattern
    rests on: decimal sums and counts are associative across the
    split, and max(last_ts) distributes over the union.

    Scale shape: at 100 TB the base aggregate is a stored table and
    only the delta is scanned per refresh; both aggregations and the
    merge share the user_id key, so the refresh is one delta-sized
    exchange plus a co-partitioned join. Exact decimal(30,10) sums
    make base+delta bit-equal to the one-pass sum, cast to double
    only at output."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    split = "2024-01-20"

    def rollup(part):
        return part.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,10)")).alias("s"),
            F.max("ts").alias("last_ts"),
        )

    base = rollup(ev.where(F.col("ts") < F.lit(split).cast("timestamp")))
    delta = rollup(ev.where(F.col("ts") >= F.lit(split).cast("timestamp")))
    b = base.select(
        "user_id",
        F.col("n").alias("_bn"),
        F.col("s").alias("_bs"),
        F.col("last_ts").alias("_bt"),
    )
    d = delta.select(
        "user_id",
        F.col("n").alias("_dn"),
        F.col("s").alias("_ds"),
        F.col("last_ts").alias("_dt"),
    )
    merged = b.join(d, on="user_id", how="full_outer").select(
        "user_id",
        (
            F.coalesce("_bn", F.lit(0)) + F.coalesce("_dn", F.lit(0))
        ).alias("n_events"),
        F.round(
            (
                F.coalesce(F.col("_bs"), F.lit(0).cast("decimal(30,10)"))
                + F.coalesce(F.col("_ds"), F.lit(0).cast("decimal(30,10)"))
            ).cast("double"),
            6,
        ).alias("sum_value"),
        F.date_format(
            F.greatest(
                F.coalesce("_bt", "_dt"), F.coalesce("_dt", "_bt")
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("last_seen"),
    )
    return merged.orderBy("user_id")


Q86_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS sum_value,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q87_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification) over the
    slimmed schema (no partsupp): per-part stock value = exact-decimal
    sum of discounted lineitem revenue restricted to ASIA suppliers,
    keeping parts whose value exceeds 0.1% of the GLOBAL total. Q11's
    scalar subquery (`HAVING SUM(...) > (SELECT SUM(...) * frac)`)
    becomes a 1-row broadcast cross join, and the fraction compare is
    kept in EXACT decimal arithmetic — `value * 1000 > total` instead
    of `value > total * 0.001` — so no float rounding can flip a
    borderline part on either engine (the q77/q78 threshold rule:
    never ROUND a value that feeds a comparison).

    Scale shape: the region→nation→supplier chain is dims-only and
    semi-prunes lineitem before its single l_partkey exchange; the
    global total re-aggregates the (already tiny) per-part rollup and
    broadcasts ONE row back — the detail table is scanned exactly
    once. Output ordering is on the exact decimal value, so the
    ranking is engine-independent before the display rounding."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    asia_supp = (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(
            region.where(F.col("r_name") == "ASIA"),
            nation.n_regionkey == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    pruned = li.join(
        asia_supp, li.l_suppkey == F.col("s_suppkey"), "left_semi"
    )
    per_part = pruned.groupBy("l_partkey").agg(
        F.sum(
            (
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).cast("decimal(30,10)")
        ).alias("val_d")
    )
    total = per_part.agg(F.sum("val_d").alias("_tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("val_d") * 1000 > F.col("_tot"))
        .join(part, F.col("l_partkey") == part.p_partkey)
        .select(
            F.col("l_partkey").alias("partkey"),
            "p_name",
            F.round(F.col("val_d").cast("double"), 4).alias("stock_value"),
            F.col("val_d"),
        )
        .orderBy(F.col("val_d").desc(), "partkey")
        .drop("val_d")
    )


Q87_SQL = """
WITH asia_supp AS (
  SELECT s_suppkey
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(30,10))) AS val_d
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM asia_supp)
  GROUP BY 1
), tot AS (
  SELECT SUM(val_d) AS t FROM per_part
)
SELECT pp.l_partkey AS partkey, p.p_name,
       ROUND(CAST(pp.val_d AS DOUBLE), 4) AS stock_value
FROM per_part pp
CROSS JOIN tot
JOIN part p ON pp.l_partkey = p.p_partkey
WHERE pp.val_d * 1000 > tot.t
ORDER BY pp.val_d DESC, partkey
"""


def q88_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many
    DISTINCT suppliers ship each (brand, type) of mid-size parts,
    excluding low-standing suppliers (s_acctbal < 1000 stands in for
    Q16's customer-complaints subquery). The NOT-IN subquery is the
    anti-join plan shape (q36's family) but feeding a count-DISTINCT
    aggregation rather than a plain count — the shuffle is keyed on
    (brand, type, suppkey) for the partial-distinct pass, then
    re-aggregated, which is how Spark avoids a full-detail exchange
    for COUNT(DISTINCT).

    Scale shape: the excluded-supplier anti-probe is left unhinted —
    supplier scales with SF, so AQE picks broadcast only while the
    filtered side actually fits; the part join carries only 3 columns
    after pruning and is AQE's choice too (q53/q74 de-hinting
    policy); both engines order on the exact bigint count."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    bad = supp.where(F.col("s_acctbal") < 1000).select("s_suppkey")
    good_li = li.join(
        bad, li.l_suppkey == F.col("s_suppkey"), "left_anti"
    )
    mid_parts = part.where(
        (F.col("p_size").between(10, 40)) & (F.col("p_brand") != "Brand#1")
    ).select("p_partkey", "p_brand", "p_type")
    return (
        good_li.join(mid_parts, good_li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
    )


Q88_SQL = """
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size BETWEEN 10 AND 40
  AND p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 1000)
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p_brand, p_type
"""


def q90_priority_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority split): for each lineitem
    status class, how many lines belong to critical-priority orders
    (1-URGENT / 2-HIGH) vs everything else, within one ship-date
    year. The reference dataset carries no l_shipmode, so
    l_linestatus stands in for the grouping leg; the SHAPE is Q12's —
    a fact⋈fact equi-join feeding two conditional counts computed in
    ONE pass (`SUM(CASE WHEN ...)`), not two scans unioned.

    Scale shape: the year filter pushes to the lineitem parquet scan;
    the join shuffles both sides on the orderkey (the natural key at
    100 TB — no broadcast pretence about the orders table); the
    conditional counts partial-aggregate map-side so the final
    exchange carries one row per (status, year) group. Counts are
    exact bigints — nothing to round.

    Reference parity: mirrors the conditional-aggregation pipeline of
    /root/reference/paqarin (multi-metric rollups in
    metrics/univariate_metrics.py) re-expressed as one codegen'd
    CASE aggregation."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(F.year("l_shipdate") == 1998)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(critical, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(critical, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q90_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE EXTRACT(YEAR FROM l_shipdate) = 1998
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q91_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): per ship-month, the
    percentage of discounted revenue that came from PROMO-type parts.
    Both the conditional numerator and the total denominator are
    computed in the SAME aggregation pass — one join, one shuffle,
    no self-join — with exact decimal sums so fold order can't move
    the ratio (q33 discipline), divided and rounded only at the
    output boundary.

    Scale shape: part scales with SF, so the join strategy is AQE's
    choice (the q53/q74 de-hinting policy); only p_partkey/p_type
    survive pruning onto the probe. The month rollup carries a few
    dozen groups — the final exchange is trivial."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    dec = "decimal(30,10)"
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        dec
    )
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast(dec)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo_rev).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_share_pct"),
            F.round(F.sum(rev).cast("double"), 4).alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


Q91_SQL = """
SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month,
       ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(30,10))
                     ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(30,10))) AS DOUBLE),
             6) AS promo_share_pct,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(30,10))) AS DOUBLE), 4)
         AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
ORDER BY ship_month
"""


def st13_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM–STREAM LEFT-OUTER interval join — the semantics st8's
    inner join cannot show: clicks with NO purchase within the hour
    emit a NULL-partner verdict, but only once the watermark PROVES
    the window closed (state-eviction time), which is the whole
    outer-join-on-streams contract. The daily attribution funnel
    (matches vs abandonments) is restricted to clicks before a fixed
    cutoff two days inside the stream end, so every aggregated
    verdict is provably flushed regardless of where the final
    watermark lands — the closed-window carve-out the docstring of
    streaming.stream_interval_join prescribes. Oracle: plain batch
    LEFT JOIN under the same cutoff.

    Scale shape: watermarked state on both sides evicted at
    watermark + lag (st8's discipline); the verdict aggregation is a
    day-keyed rollup of the join output."""
    from paqarin_spark.streaming import stream_interval_join

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    out = stream_interval_join(
        stream,
        timestamp_column="ts",
        key_column="user_id",
        left_filter=F.col("event_type") == "click",
        right_filter=F.col("event_type") == "purchase",
        max_lag="1 hour",
        watermark="1 day",
        left_prefix="click",
        right_prefix="purchase",
        how="left_outer",
    )
    name = "st13_stream_left_join"
    sink = _run_to_memory(
        spark, out, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return (
        sink.where(F.col("click_ts") < F.lit("2024-01-28").cast("timestamp"))
        .groupBy(F.date_format("click_ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("purchase_id").alias("n_attributed"),
            F.count(
                F.when(F.col("purchase_id").isNull(), F.lit(1))
            ).alias("n_abandoned"),
        )
        .orderBy("day")
    )


ST13_SQL = """
SELECT strftime(a.ts, '%Y-%m-%d') AS day,
       COUNT(b.event_id) AS n_attributed,
       COUNT(CASE WHEN b.event_id IS NULL THEN 1 END) AS n_abandoned
FROM events a
LEFT JOIN events b
  ON a.user_id = b.user_id
 AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour'
WHERE a.event_type = 'click'
  AND a.ts < TIMESTAMP '2024-01-28 00:00:00'
GROUP BY 1 ORDER BY 1
"""


def q89_trade_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling over the undirected customer–supplier
    trade graph (operators.graph.kcore_peel — graph family #5 beside
    pagerank, components, triangles, BFS): three rounds of
    remove-degree-<30, the dense-trading-core question. On this
    bipartite graph peeling customers only drops SUPPLIER degrees, so
    the cascade stabilizes fast — the per-round peel counts pin
    exactly where, and the fixed round bound is the contract the
    oracle unrolls in stacked CTEs (the q85 BFS pattern).

    Scale shape: per round one degree groupBy keyed on the edge
    source + two semi-join restrictions; the edge list persists as
    the loop invariant, survivor sets localCheckpoint (pagerank loop
    discipline). Output: per side, initial nodes, per-round peels,
    survivors."""
    from paqarin_spark.operators import kcore_peel

    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("b"),
        )
        .distinct()
    )
    und = e.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    res = kcore_peel(und, k=30, rounds=3)
    return (
        res.groupBy(F.substring("node", 1, 1).alias("side"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.count(F.when(F.col("peel_round") == 1, F.lit(1))).alias(
                "n_peel1"
            ),
            F.count(F.when(F.col("peel_round") == 2, F.lit(1))).alias(
                "n_peel2"
            ),
            F.count(F.when(F.col("peel_round") == 3, F.lit(1))).alias(
                "n_peel3"
            ),
            F.count(F.when(F.col("peel_round").isNull(), F.lit(1))).alias(
                "n_survive"
            ),
        )
        .orderBy("side")
    )


Q89_SQL = """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                  's' || CAST(l_suppkey AS VARCHAR) AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), u0 AS (
  SELECT a AS src, b AS dst FROM e
  UNION ALL SELECT b, a FROM e
), d1 AS (
  SELECT src AS node, COUNT(*) AS deg FROM u0 GROUP BY 1
), s1 AS (
  SELECT node FROM d1 WHERE deg >= 30
), p1 AS (
  SELECT node FROM d1 WHERE deg < 30
), u1 AS (
  SELECT src, dst FROM u0
  WHERE src IN (SELECT node FROM s1) AND dst IN (SELECT node FROM s1)
), d2 AS (
  SELECT src AS node, COUNT(*) AS deg FROM u1 GROUP BY 1
), s2 AS (
  SELECT node FROM d2 WHERE deg >= 30
), p2 AS (
  SELECT node FROM s1 WHERE node NOT IN (SELECT node FROM s2)
), u2 AS (
  SELECT src, dst FROM u1
  WHERE src IN (SELECT node FROM s2) AND dst IN (SELECT node FROM s2)
), d3 AS (
  SELECT src AS node, COUNT(*) AS deg FROM u2 GROUP BY 1
), s3 AS (
  SELECT node FROM d3 WHERE deg >= 30
), p3 AS (
  SELECT node FROM s2 WHERE node NOT IN (SELECT node FROM s3)
), labeled AS (
  SELECT node, 1 AS pr FROM p1
  UNION ALL SELECT node, 2 FROM p2
  UNION ALL SELECT node, 3 FROM p3
  UNION ALL SELECT node, NULL FROM s3
)
SELECT substring(node, 1, 1) AS side,
       COUNT(*) AS n_nodes,
       COUNT(CASE WHEN pr = 1 THEN 1 END) AS n_peel1,
       COUNT(CASE WHEN pr = 2 THEN 1 END) AS n_peel2,
       COUNT(CASE WHEN pr = 3 THEN 1 END) AS n_peel3,
       COUNT(CASE WHEN pr IS NULL THEN 1 END) AS n_survive
FROM labeled GROUP BY 1 ORDER BY 1
"""


def tx41_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level corpus dedup (operators.dedup.dedup_lines):
    documents are cut into consecutive non-overlapping 4-word lines;
    only the first global occurrence of each normalized line survives
    (keep-first ordered by doc_id, line position), and every later
    occurrence is flagged for removal — the boilerplate-stripping
    decision duplicate_spans (tx23) only measures. Per-doc output:
    how many lines the doc has and how many a rewrite would drop.

    Scale shape: line slicing stays in the array domain (no
    word-level explode reaches the shuffle); the corpus pays one
    line-key groupBy (partial-agg shrunk to distinct lines) + one
    key-keyed flag join + one doc-keyed rollup."""
    from paqarin_spark.operators import dedup_lines

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    lines = dedup_lines(docs, "text", "doc_id", words_per_line=4)
    return (
        lines.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(F.when(~F.col("kept"), F.lit(1))).alias("n_dupes"),
        )
        .orderBy("doc_id")
    )


TX41_SQL = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
), lines AS (
  SELECT doc_id, u.pos AS line_pos,
         lower(trim(array_to_string(
           list_slice(arr, u.pos * 4 + 1, u.pos * 4 + 4), ' '))) AS key
  FROM docs, LATERAL (
    SELECT UNNEST(range(len(arr) // 4)) AS pos
  ) u
), firsts AS (
  SELECT key, doc_id, line_pos FROM (
    SELECT key, doc_id, line_pos,
           ROW_NUMBER() OVER (PARTITION BY key
                              ORDER BY doc_id, line_pos) AS rk
    FROM lines
  ) WHERE rk = 1
)
SELECT l.doc_id, COUNT(*) AS n_lines,
       COUNT(CASE WHEN f.key IS NULL THEN 1 END) AS n_dupes
FROM lines l
LEFT JOIN firsts f ON f.key = l.key AND f.doc_id = l.doc_id
                  AND f.line_pos = l.line_pos
GROUP BY l.doc_id
ORDER BY l.doc_id
"""


def ev11_ewma_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA one-step-ahead backtest — the exponential-smoothing
    forecaster the reference's univariate family implies but never
    ships: for every user with ≥17 events, forecast the LAST value
    from a 16-lag truncated exponentially-weighted average
    (alpha = 0.5, weights renormalized over the truncated tail).
    alpha = 0.5 is chosen deliberately: every weight 2^-(j+1) and the
    renormalizer 1 - 2^-16 are EXACT doubles, and value * 2^-k is a
    pure exponent shift (no rounding), so both engines fold the same
    contributions — decimal sums then make the fold order-free (q33
    discipline), and only outputs round.

    Scale shape: one window pass keyed on user_id (partial rollups on
    the natural partition key), one 16-row-per-user aggregation, one
    user-keyed join — no global window, no Python."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    wn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    base = ev.select(
        "user_id",
        "value",
        F.row_number().over(wn).alias("_rn"),
        F.count(F.lit(1)).over(wp).alias("_n"),
    ).where(F.col("_n") >= 17)
    dec = "decimal(30,10)"
    contrib = (
        F.col("value") * F.pow(F.lit(0.5), (F.col("_n") - F.col("_rn")).cast("double"))
    ).cast(dec)
    norm = F.lit(1.0) - F.pow(F.lit(0.5), F.lit(16.0))
    fc = (
        base.where(
            (F.col("_rn") >= F.col("_n") - 16) & (F.col("_rn") <= F.col("_n") - 1)
        )
        .groupBy("user_id")
        .agg((F.sum(contrib).cast("double") / norm).alias("_fc"))
    )
    actual = base.where(F.col("_rn") == F.col("_n")).select(
        "user_id", F.col("value").alias("_act")
    )
    return (
        fc.join(actual, "user_id")
        .select(
            "user_id",
            F.round("_fc", 6).alias("ewma_forecast"),
            F.round("_act", 6).alias("actual_value"),
            F.round(F.abs(F.col("_fc") - F.col("_act")), 6).alias("abs_err"),
        )
        .orderBy("user_id")
    )


EV11_SQL = """
WITH base AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
), eligible AS (
  SELECT * FROM base WHERE n >= 17
), fc AS (
  SELECT user_id,
         CAST(SUM(CAST(value * POWER(0.5, CAST(n - rn AS DOUBLE))
                       AS DECIMAL(30,10))) AS DOUBLE)
           / (1.0 - POWER(0.5, 16.0)) AS f
  FROM eligible
  WHERE rn BETWEEN n - 16 AND n - 1
  GROUP BY user_id
), act AS (
  SELECT user_id, value AS a FROM eligible WHERE rn = n
)
SELECT fc.user_id AS user_id,
       ROUND(fc.f, 6) AS ewma_forecast,
       ROUND(act.a, 6) AS actual_value,
       ROUND(ABS(fc.f - act.a), 6) AS abs_err
FROM fc JOIN act ON fc.user_id = act.user_id
ORDER BY user_id
"""


def ev10_acf_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL fidelity of the bootstrap generator — the axis no
    other ev metric sees: ev4/ev6/ev8/ev9 all compare MARGINAL value
    distributions, which a generator can match perfectly while
    shuffling time order into noise. Lag-1 autocorrelation (pooled
    Pearson over consecutive-observation pairs, per user for the real
    panel / per generated sequence for the synthetic one) is the
    standard first-order check that temporal DEPENDENCE survived
    generation; block-bootstrap should score near the real panel by
    construction — the gap pins how near.

    Determinism: both engines build identical pair multisets (the
    ev6-proven md5 window replay; lag windows keyed on the same
    (ts, event_id) order), and COVAR_POP/STDDEV_POP differ only in
    last-ulp summation — safe behind ROUND 6 (the ev1 contract), with
    the gap computed from unrounded statistics before its own round.

    Scale shape: the real side is one lag window per user partition +
    a scalar aggregate; the synthetic side is sequence-count-bounded.
    Nothing quadratic, nothing driver-side."""
    from paqarin_spark.generators import BlockBootstrapGenerator

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    gen = BlockBootstrapGenerator(_events_gen_params()).fit(ev)
    seq = (
        gen.generate(50)
        .select(
            "sequence_id",
            F.posexplode("sequence").alias("step", "_o"),
        )
        .select("sequence_id", "step", F.col("_o.value").alias("v"))
    )
    wl = Window.partitionBy("sequence_id").orderBy("step")
    spairs = (
        seq.select(
            F.lag("v").over(wl).alias("x"), F.col("v").alias("y")
        )
        .where(F.col("x").isNotNull())
        .localCheckpoint()
    )
    gen.unpersist()
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rpairs = ev.select(
        F.lag("value").over(wr).alias("x"), F.col("value").alias("y")
    ).where(F.col("x").isNotNull())

    def acf(pairs):
        return pairs.agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.covar_pop("x", "y")
                / (F.stddev_pop("x") * F.stddev_pop("y"))
            ).alias("acf"),
        )

    r = acf(rpairs).select(
        F.col("n").alias("n_pairs_real"), F.col("acf").alias("_ar")
    )
    s = acf(spairs).select(
        F.col("n").alias("n_pairs_synth"), F.col("acf").alias("_as")
    )
    return r.crossJoin(s).select(
        "n_pairs_real",
        "n_pairs_synth",
        F.round("_ar", 6).alias("acf1_real"),
        F.round("_as", 6).alias("acf1_synth"),
        F.round(F.abs(F.col("_ar") - F.col("_as")), 6).alias("acf1_gap"),
    )


EV10_SQL = f"""
WITH {_EV_SYNTH_CTE}, spairs AS (
  SELECT (a2.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn AS x,
         (b2.value - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn AS y
  FROM top t CROSS JOIN (SELECT UNNEST(range(7)) AS step) s
  JOIN r a2 ON a2.user_id = t.user_id AND a2.p = t.w + s.step
  JOIN r b2 ON b2.user_id = t.user_id AND b2.p = t.w + s.step + 1
  CROSS JOIN mm
), rpairs AS (
  SELECT a.value AS x, b.value AS y
  FROM r a JOIN r b ON a.user_id = b.user_id AND b.p = a.p + 1
), sstat AS (
  SELECT COUNT(*) AS n,
         COVAR_POP(x, y) / (STDDEV_POP(x) * STDDEV_POP(y)) AS acf
  FROM spairs
), rstat AS (
  SELECT COUNT(*) AS n,
         COVAR_POP(x, y) / (STDDEV_POP(x) * STDDEV_POP(y)) AS acf
  FROM rpairs
)
SELECT rstat.n AS n_pairs_real, sstat.n AS n_pairs_synth,
       ROUND(rstat.acf, 6) AS acf1_real,
       ROUND(sstat.acf, 6) AS acf1_synth,
       ROUND(ABS(rstat.acf - sstat.acf), 6) AS acf1_gap
FROM rstat CROSS JOIN sstat
"""


def em19_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (operators.similarity.mmr_rerank):
    every 50th vector queries the remaining corpus for its exact
    top-8 by cosine (em15's cross-table probe), then greedily keeps 3
    maximizing 0.5·relevance − 0.5·max-sim-to-selected — the
    redundancy-suppression stage between retrieval and a RAG prompt.
    The greedy trajectory is bit-replayable: relevance carries
    cosine_topk's 6dp contract, candidate-pair sims round to 6dp, and
    every argmax tie-breaks to the smaller neighbor_id, so the oracle
    unrolls the two selection rounds in CTEs exactly.

    Scale shape: corpus touched once by the BLAS top-k probe; the
    selection works on the ≤Q·k candidate table and ≤Q·k² pair table,
    all keyed on query_id — Q-parallel argmax windows, no
    data-dependent iteration."""
    from paqarin_spark.operators import mmr_rerank

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    corpus = emb.where(F.col("vec_id") % 50 != 0)
    return mmr_rerank(
        corpus,
        "vec_id",
        "embedding",
        queries=queries_df,
        k_candidates=8,
        select_k=3,
        lam=0.5,
    ).orderBy("query_id", "sel_rank")


EM19_SQL = """
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id % 50 = 0
), c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id % 50 <> 0
), rel AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))),
           6) AS cos_sim
  FROM q a CROSS JOIN c b
), cand AS (
  SELECT query_id, neighbor_id, cos_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM rel
  ) WHERE rk <= 8
), cp AS (
  SELECT x.query_id, x.neighbor_id AS a_id, y.neighbor_id AS b_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> cx.e[i] * cy.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> cx.e[i] * cx.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> cy.e[i] * cy.e[i])))),
           6) AS sim
  FROM cand x
  JOIN cand y ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id
  JOIN c cx ON cx.vec_id = x.neighbor_id
  JOIN c cy ON cy.vec_id = y.neighbor_id
), s1 AS (
  SELECT query_id, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, 0.5 * cos_sim AS score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY 0.5 * cos_sim DESC, neighbor_id) AS rk
    FROM cand
  ) WHERE rk = 1
), pen2 AS (
  SELECT p.query_id, p.a_id, MAX(p.sim) AS pen
  FROM cp p JOIN s1 ON p.query_id = s1.query_id AND p.b_id = s1.neighbor_id
  GROUP BY 1, 2
), s2 AS (
  SELECT query_id, neighbor_id, score FROM (
    SELECT cd.query_id, cd.neighbor_id,
           0.5 * cd.cos_sim - 0.5 * p.pen AS score,
           ROW_NUMBER() OVER (PARTITION BY cd.query_id
                              ORDER BY 0.5 * cd.cos_sim - 0.5 * p.pen DESC,
                                       cd.neighbor_id) AS rk
    FROM cand cd
    JOIN pen2 p ON cd.query_id = p.query_id AND cd.neighbor_id = p.a_id
  ) WHERE rk = 1
), sel2 AS (
  SELECT query_id, neighbor_id FROM s1
  UNION ALL SELECT query_id, neighbor_id FROM s2
), pen3 AS (
  SELECT p.query_id, p.a_id, MAX(p.sim) AS pen
  FROM cp p JOIN sel2 s ON p.query_id = s.query_id AND p.b_id = s.neighbor_id
  GROUP BY 1, 2
), s3 AS (
  SELECT query_id, neighbor_id, score FROM (
    SELECT cd.query_id, cd.neighbor_id,
           0.5 * cd.cos_sim - 0.5 * p.pen AS score,
           ROW_NUMBER() OVER (PARTITION BY cd.query_id
                              ORDER BY 0.5 * cd.cos_sim - 0.5 * p.pen DESC,
                                       cd.neighbor_id) AS rk
    FROM cand cd
    JOIN pen3 p ON cd.query_id = p.query_id AND cd.neighbor_id = p.a_id
    WHERE NOT EXISTS (SELECT 1 FROM sel2 s
                      WHERE s.query_id = cd.query_id
                        AND s.neighbor_id = cd.neighbor_id)
  ) WHERE rk = 1
)
SELECT query_id, sel_rank, neighbor_id,
       CAST(ROUND(CAST(score AS DECIMAL(27,7)), 6) AS DOUBLE) AS mmr_score FROM (
  SELECT query_id, CAST(1 AS INTEGER) AS sel_rank, neighbor_id, score FROM s1
  UNION ALL
  SELECT query_id, CAST(2 AS INTEGER), neighbor_id, score FROM s2
  UNION ALL
  SELECT query_id, CAST(3 AS INTEGER), neighbor_id, score FROM s3
) ORDER BY query_id, sel_rank
"""


def em20_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest (operators.similarity.ivf_ingest) — the
    ANN index-maintenance sibling of q86's view merge: vectors with
    vec_id % 7 == 0 arrive as a NEW batch against an index built on
    the rest. Centroids stay frozen (md5-rank seed vectors from the
    base, the kmeans init contract); base and delta assign separately
    through the exact-decimal E-step; per-cluster (count, per-dim
    decimal sum) partials merge with one coalesce join. The ORACLE
    recomputes everything in ONE pass over the union, so the hash
    match proves base+delta partial aggregates are bit-equal to the
    full rebuild — the identity that makes a 100-TB index refresh a
    delta-sized job (stored base partials + assign-the-batch).

    Output: per cluster, base/delta occupancy and the updated
    centroid at dims {0, 31, 63} (6dp exact-decimal means)."""
    from paqarin_spark.operators import ivf_ingest

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 7 != 0)
    delta = emb.where(F.col("vec_id") % 7 == 0)
    counts, cent = ivf_ingest(
        base, delta, "vec_id", "embedding", k=4, seed=11
    )
    picks = (
        cent.where(F.col("dim").isin(0, 31, 63))
        .groupBy("cluster")
        .agg(
            F.max(F.when(F.col("dim") == 0, F.col("c_upd"))).alias("c_dim0"),
            F.max(F.when(F.col("dim") == 31, F.col("c_upd"))).alias(
                "c_dim31"
            ),
            F.max(F.when(F.col("dim") == 63, F.col("c_upd"))).alias(
                "c_dim63"
            ),
        )
    )
    return (
        counts.join(picks, on="cluster")
        .select("cluster", "n_base", "n_delta", "c_dim0", "c_dim31", "c_dim63")
        .orderBy("cluster")
    )


EM20_SQL = """
WITH v AS (
  SELECT vec_id, (vec_id % 7 = 0) AS is_delta, u.dim, u.x
  FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           UNNEST(embedding)::DOUBLE AS x
  ) u
), init AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (
           ORDER BY md5('kmeans#' || CAST(vec_id AS VARCHAR) || '#11')
         ) - 1 AS cluster,
         vec_id
  FROM embeddings WHERE vec_id % 7 <> 0
  ORDER BY md5('kmeans#' || CAST(vec_id AS VARCHAR) || '#11') LIMIT 4
), c0 AS (
  SELECT i.cluster, v.dim, v.x AS c
  FROM init i JOIN v ON v.vec_id = i.vec_id
), d1 AS (
  SELECT v.vec_id, v.is_delta, c.cluster,
         CAST(SUM(CAST((v.x - c.c) * (v.x - c.c) AS DECIMAL(30,10)))
              AS DOUBLE) AS d2
  FROM v JOIN c0 c ON v.dim = c.dim
  GROUP BY 1, 2, 3
), a1 AS (
  SELECT vec_id, is_delta, cluster FROM (
    SELECT vec_id, is_delta, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rk
    FROM d1
  ) WHERE rk = 1
), means AS (
  SELECT a.cluster, v.dim,
         ROUND(CAST(SUM(CAST(v.x AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*), 6) AS c_upd
  FROM v JOIN a1 a ON v.vec_id = a.vec_id
  GROUP BY 1, 2
), counts AS (
  SELECT cluster,
         COUNT(CASE WHEN NOT is_delta THEN 1 END) AS n_base,
         COUNT(CASE WHEN is_delta THEN 1 END) AS n_delta
  FROM a1 GROUP BY 1
)
SELECT k.cluster, k.n_base, k.n_delta,
       m0.c_upd AS c_dim0, m31.c_upd AS c_dim31, m63.c_upd AS c_dim63
FROM counts k
JOIN means m0 ON m0.cluster = k.cluster AND m0.dim = 0
JOIN means m31 ON m31.cluster = k.cluster AND m31.dim = 31
JOIN means m63 ON m63.cluster = k.cluster AND m63.dim = 63
ORDER BY k.cluster
"""


# --------------------------------------------------------------------------
# MM2 — video frame-sampling fan-out (multimodal north star)


def mm2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the video subset: 1 asset row -> ceil(n/2)
    frame rows through the mapInPandas UDTF shape. Frame hashes are
    exercised in unit tests; the declared query pins the fan-out
    contract (which assets, which frame indices) in SQL."""
    from paqarin_spark.multimodal import sample_frames

    docs = _docs(spark, sf_dir)
    return sample_frames(_media_from_docs(docs), every_nth=2).select(
        "asset_id", "frame_index"
    )


MM2_SQL = """
SELECT doc_id AS asset_id, CAST(f.i AS INTEGER) AS frame_index
FROM documents, LATERAL (
  SELECT unnest(range(0, CAST(doc_id % 10 + 1 AS INTEGER), 2)) AS i
) f
WHERE doc_id % 3 = 2
ORDER BY asset_id, frame_index
"""


def mm3_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking over the audio subset (multimodal.chunk_audio):
    1 asset row -> ceil(samples / rate·window) chunk rows through the
    Arrow-batched UDTF shape. Chunk hashes are unit-tested; the
    declared query pins the fan-out contract (which assets, which
    chunk bounds) in SQL."""
    from paqarin_spark.multimodal import chunk_audio

    docs = _docs(spark, sf_dir)
    return chunk_audio(_media_from_docs(docs), window_seconds=1.0).select(
        "asset_id", "chunk_index", "start_sample", "n_samples"
    )


MM3_SQL = """
SELECT doc_id AS asset_id,
       CAST(c.i // 16000 AS INTEGER) AS chunk_index,
       CAST(c.i AS BIGINT) AS start_sample,
       CAST(LEAST(16000, length(text) * 37 - c.i) AS INTEGER) AS n_samples
FROM documents, LATERAL (
  SELECT unnest(range(0, length(text) * 37, 16000)) AS i
) c
WHERE doc_id % 3 = 1
ORDER BY asset_id, chunk_index
"""


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with the same timestamp
    normalization as the batch `read_table`: nano-long ts (legacy conf
    pinned by a batch read first) becomes micros TIMESTAMP, and naive
    micros parquet — which Spark 4 infers as TIMESTAMP_NTZ, a type
    streaming watermarks reject — casts to TIMESTAMP (UTC session, so
    wall-clock values are unchanged and batch/stream oracles agree)."""
    from pyspark.sql.types import LongType, TimestampNTZType

    read_table(spark, sf_dir, "events")  # pins nano-ts session conf
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).parquet(
        f"{sf_dir}/events*.parquet"
    )
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("`ts` div 1000"))
        )
    elif isinstance(ts_type, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(
    spark: SparkSession, frame: DataFrame, name: str, mode: str, partitions: int
) -> DataFrame:
    """Run the streaming ``frame`` to completion into the memory sink
    table ``name`` (``mode`` output, Trigger.AvailableNow) and return
    that table. ``partitions`` caps the stateful exchange for the
    ``start()``/``awaitTermination`` window only: a declared key-domain
    bound for bounded-key state, or
    :func:`_stream_state_partition_count` for unbounded keys. The
    checkpoint lives in a fresh dir under ``tempfile.gettempdir()``,
    removed when the run ends."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix=f"{name}-ckpt-")
    try:
        with _bounded_state_partitions(spark, partitions):
            (
                frame.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


# --------------------------------------------------------------------------
# ST1 — streaming daily sum (Structured Streaming dual of op D1)


def st1_stream_daily_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op D1 as a Structured Streaming job run to completion: file
    source -> watermarked tumbling-window per-entity sums -> memory
    sink under Trigger.AvailableNow. The bounded run is deterministic,
    so the streaming path carries the SAME oracle as the batch daily
    sum — the lambda-architecture parity contract, checked rather than
    claimed. (Complete output mode: a terminating stream never emits
    its final windows in append mode.)"""
    from paqarin_spark.streaming import stream_time_bucket_sum

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    out = stream_time_bucket_sum(stream, EVENTS_SCHEMA, watermark="1 day")
    name = "st1_stream_daily_sum"
    sink = _run_to_memory(
        spark, out, name, "complete",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return sink.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        F.round("value", 6).alias("sum_value"),
    )


ST1_SQL = """
SELECT user_id,
       strftime(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# ST2 — custom stateful streaming: sliding windows via applyInPandasWithState


def st2_stream_window_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op F3 as a CUSTOM stateful streaming operator
    (`stream_sliding_windows`, applyInPandasWithState with O(L) state
    per entity), run to completion and checked against the same SQL
    oracle as the batch window sums. Rows are sequenced by
    (event-time, value) on both sides so duplicate-timestamp ties
    resolve identically."""
    from paqarin_spark.streaming import stream_sliding_windows

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    out = stream_sliding_windows(stream, EVENTS_SCHEMA, sequence_length=8)
    name = "st2_stream_window_sums"
    sink = _run_to_memory(
        spark, out, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return sink.select(
        "user_id",
        "sequence_id",
        F.round(
            F.aggregate(
                F.col("sequence"),
                F.lit(0.0),
                lambda acc, s: acc + s["value"],
            ),
            6,
        ).alias("win_sum"),
    )


ST2_SQL = """
SELECT user_id, CAST(rn - 1 AS BIGINT) AS sequence_id,
       ROUND(win_sum, 6) AS win_sum
FROM (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, value) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         SUM(value) OVER (PARTITION BY user_id ORDER BY ts, value
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win_sum
  FROM events
) WHERE rn <= n - 7
ORDER BY user_id, sequence_id
"""


def st4_stream_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op D3's scaler-fit state as a bounded Structured Streaming run
    (streaming.stream_running_minmax): the online min/max that feeds
    MinMaxState for continuous scaling, same oracle as the batch
    global aggregate."""
    from paqarin_spark.streaming import stream_running_minmax

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    out = stream_running_minmax(stream, EVENTS_SCHEMA)
    name = "st4_stream_minmax"
    # ONE state row total — a wide state exchange is pure overhead
    sink = _run_to_memory(spark, out, name, "complete", 4)
    return sink.select(
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
    )


ST4_SQL = """
SELECT ROUND(MIN(value), 6) AS min_value, ROUND(MAX(value), 6) AS max_value
FROM events
"""


def st5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on ingest (streaming.stream_keep_first,
    dropDuplicatesWithinWatermark with bounded per-key state) on the
    coarse (user, day) key, run to completion. Which duplicate row
    survives is micro-batch-order nondeterministic, so the declared
    output is the KEY SET — deterministic, and the full-value oracle
    is plain SELECT DISTINCT. The surviving-payload variant is pinned
    by tests/test_streaming.py instead."""
    from paqarin_spark.schema import TimeSeriesSchema
    from paqarin_spark.streaming import stream_keep_first

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    stream = stream.withColumn("day", F.date_trunc("DAY", "ts"))
    day_schema = TimeSeriesSchema(
        item_id_columns=("user_id",),
        timestamp_column="day",
        value_columns=("value",),
        frequency="D",
    )
    out = stream_keep_first(stream, day_schema, watermark="1 day")
    name = "st5_stream_dedup"
    sink = _run_to_memory(
        spark, out, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return sink.select(
        "user_id", F.date_format("day", "yyyy-MM-dd").alias("day")
    )


ST5_SQL = """
SELECT DISTINCT user_id, strftime(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day
FROM events ORDER BY 1, 2
"""


def st6_stream_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily-active-users (streaming.stream_distinct_count):
    CHAINED stateful operators — watermarked per-(user, day) dedup
    feeding a tumbling-window count — the decomposition that gives
    windowed COUNT DISTINCT with bounded state in each stage. Chained
    stateful operators REQUIRE append mode (no complete-mode escape
    like st1/st3), and an append stream only ever emits
    watermark-CLOSED windows, so a terminating run holds back the
    final watermark-delay's worth of days. The oracle encodes exactly
    that contract: days whose window end precedes max(ts) - 1 day.
    Emitted counts are exact (verified against the q44 batch rollup
    on the emitted range)."""
    from paqarin_spark.streaming import stream_distinct_count

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    out = stream_distinct_count(
        stream, "ts", "user_id", window_duration="1 day", watermark="1 day"
    )
    name = "st6_stream_daily_users"
    sink = _run_to_memory(
        spark, out, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return sink.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"), "n_distinct"
    )


ST6_SQL = """
SELECT strftime(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
       COUNT(DISTINCT user_id) AS n_distinct
FROM events
WHERE DATE_TRUNC('day', ts) + INTERVAL '1 day'
      <= (SELECT MAX(ts) - INTERVAL '1 day' FROM events)
GROUP BY 1 ORDER BY 1
"""


def st3_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a Structured Streaming job
    (streaming.stream_sessions, built-in session_window state): bounded
    run under Trigger.AvailableNow, same 12-hour-gap oracle as the
    batch q30 minus the ordinal — checked streaming/batch parity for
    session semantics."""
    from paqarin_spark.streaming import stream_sessions

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    out = stream_sessions(
        stream, EVENTS_SCHEMA, gap="12 hours", value_column="value"
    )
    name = "st3_stream_sessions"
    sink = _run_to_memory(
        spark, out, name, "complete",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return sink.select(
        "user_id",
        F.date_format("session_start", TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end", TS_FMT_SPARK).alias("session_end"),
        "n_events",
        "value_sum",
    )


ST3_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(MAX(ts), '{TS_FMT_DUCK}') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS value_sum
FROM numbered GROUP BY user_id, session_id ORDER BY 1, 2
"""


def tx12_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (operators.dedup.simhash_pairs):
    hamming distance <= 3 via pigeonhole banding (15-bit band
    equi-join, never all-pairs) + exact bit_count(xor) filter. The
    oracle brute-forces all pairs — same result set, proving the
    banding loses nothing."""
    from paqarin_spark.operators import simhash_pairs

    docs = _docs(spark, sf_dir)
    return simhash_pairs(docs, "text", "doc_id", max_hamming=3, n_bands=4)


TX12_SQL = f"""
WITH fp AS ({TX7_SQL.replace("ORDER BY doc", "")})
SELECT a.doc AS id_a, b.doc AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY 1, 2
"""


def tx56_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDENED SimHash near-dup pairs — the multi-word fingerprint
    path behind ``simhash_pairs(band_bits=...)`` (round-12: band
    width must grow with log₂(corpus) to keep random band collisions
    sub-quadratic; dedup.derived_band_bits). Declared at the FIXED
    width 16 so the oracle is SF-stable: 4 bands × 16 bits = 64
    fingerprint bits drawn from TWO md5 words per token (bits 0–59
    from md5(token), 60–63 from md5(token||'#w1')) — deliberately
    past the 60-bit single-long boundary so the word-spanning layout
    is value-verified, not just unit-tested. The oracle brute-forces
    all pairs over the replayed 2-word fingerprints and filters
    Hamming ≤ 3 — same result set, proving the 16-bit pigeonhole
    banding loses nothing (max_hamming < n_bands)."""
    from paqarin_spark.operators import simhash_pairs

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    return simhash_pairs(
        docs, "text", "doc_id", max_hamming=3, n_bands=4, band_bits=16
    )


def _simhash_wide_sql(n_bands: int = 4, width: int = 16) -> str:
    """DuckDB mirror of dedup._simhash_band_values: global bit j draws
    its ±1 votes from bit j%60 of md5 word j//60 (word 0 = md5(t),
    word w = md5(t || '#w<w>')); band b packs bits [b·width,
    (b+1)·width). Brute-force pair scan + exact Hamming over the band
    longs (bands tile the bit space exactly)."""
    total = n_bands * width
    n_words = (total + 59) // 60
    votes = []
    for j in range(total):
        w, i = j // 60, j % 60
        hexpos = 15 - i // 4
        digit = f"(strpos('0123456789abcdef', substring(h{w}, {hexpos}, 1)) - 1)"
        votes.append(
            f"SUM(CASE WHEN (({digit} >> {i % 4}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS v_{j}"
        )
    band_cols = []
    for b in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN v_{b * width + i} > 0"
            f" THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
            for i in range(width)
        )
        band_cols.append(f"({bits}) AS bb_{b}")
    hexprs = ", ".join(
        "md5(t) AS h0"
        if w == 0
        else f"md5(t || '#w{w}') AS h{w}"
        for w in range(n_words)
    )
    ham = " + ".join(
        f"bit_count(xor(a.bb_{b}, b.bb_{b}))" for b in range(n_bands)
    )
    return f"""
WITH tok AS (
  SELECT doc, {hexprs} FROM (
    SELECT doc_id AS doc, unnest({_TOKS_SQL}) AS t FROM documents
  )
), votes AS (
  SELECT doc, {', '.join(votes)} FROM tok GROUP BY doc
), fp AS (
  SELECT doc, {', '.join(band_cols)} FROM votes
)
SELECT a.doc AS id_a, b.doc AS id_b, CAST({ham} AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc < b.doc
WHERE {ham} <= 3
ORDER BY 1, 2
"""


TX56_SQL = _simhash_wide_sql()


def tx13_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-20 tokens by frequency (the
    word-count shape — partial-agg shuffle on token, distributed
    TakeOrdered for the limit; lexicographic tie-break for
    determinism)."""
    from paqarin_spark.operators.dedup import tokens

    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


TX13_SQL = f"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
GROUP BY 1 ORDER BY n DESC, token LIMIT 20
"""


def tx11_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering (operators.dedup.duplicate_clusters):
    connected components over the tx6 MinHash-LSH pair list by
    iterative min-label propagation; each doc maps to the smallest doc
    id in its component (the canonical representative to keep)."""
    from paqarin_spark.operators import duplicate_clusters

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=4, band_size=2, shingle_n=3
    )
    return duplicate_clusters(pairs, algorithm="contract")


TX11_SQL = f"""
WITH RECURSIVE pairs AS ({TX6_SQL.replace("ORDER BY 1, 2", "")}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT e.src, re.r FROM sym e JOIN reach re ON e.dst = re.node
)
SELECT node AS doc, MIN(r) AS cluster_rep
FROM reach GROUP BY 1 ORDER BY 1
"""


def tx37_quality_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup RESOLUTION — the curation refinement on
    top of tx11's clustering: inside every MinHash-LSH duplicate
    cluster keep the HIGHEST-quality member (argmax on the 6dp-rounded
    tx10 heuristic, doc-id tie-break) instead of the smallest id —
    what a real pipeline does so boilerplate-stripped originals beat
    their mirrored copies. Composition of three existing stages
    (LSH pairs → contraction components → per-cluster argmax window);
    the quality ROUNDS BEFORE ranking so the argmax is cross-engine
    deterministic. Output: one row per multi-doc cluster."""
    from paqarin_spark.functions.text import quality_score
    from paqarin_spark.operators import duplicate_clusters

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=4, band_size=2, shingle_n=3
    )
    clusters = duplicate_clusters(pairs, algorithm="contract")
    q = docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )
    members = clusters.join(q, clusters.doc == q.doc_id)
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        members.withColumn("_rk", F.row_number().over(w))
        .groupBy("cluster_rep")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("_rk") == 1, F.col("doc_id"))).alias(
                "kept_doc_id"
            ),
            F.max(F.when(F.col("_rk") == 1, F.col("quality"))).alias(
                "kept_quality"
            ),
        )
        .orderBy("cluster_rep")
    )


TX37_SQL = f"""
WITH RECURSIVE pairs AS ({TX6_SQL.replace("ORDER BY 1, 2", "")}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT e.src, re.r FROM sym e JOIN reach re ON e.dst = re.node
),
comp AS (
  SELECT node AS doc, MIN(r) AS cluster_rep FROM reach GROUP BY 1
),
q AS (
  SELECT doc_id,
         {_QUALITY_SQL} AS quality
  FROM documents
),
m AS (
  SELECT c.cluster_rep, c.doc, q.quality,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
                            ORDER BY q.quality DESC, c.doc) AS rk
  FROM comp c JOIN q ON c.doc = q.doc_id
)
SELECT cluster_rep,
       COUNT(*) AS n_members,
       MAX(CASE WHEN rk = 1 THEN doc END) AS kept_doc_id,
       MAX(CASE WHEN rk = 1 THEN quality END) AS kept_quality
FROM m GROUP BY 1 ORDER BY 1
"""



def tx39_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup resolution, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540; operators.similarity.semdedup_pairs): k-means
    clusters over the document EMBEDDINGS bound the quadratic, exact
    cosine ≥ 0.4 within each cluster yields semantic-dup pairs, and
    inside every connected dup component the HIGHEST-quality document
    wins (6dp-rounded tx10 heuristic, doc-id tie-break) — tx37's
    quality-keep contract with the candidate front swapped from
    text-shingle LSH to embedding clusters, catching paraphrases that
    share no n-grams. vec_id IS doc_id (TESTDATA.md pairs the two
    fixtures row-for-row).

    Scale shape: the md5-init Lloyd assignment broadcasts a k×d
    centroid table (vectors never shuffle), pair generation is one
    BLAS matmul per cluster group — no all-pairs stage; k grows with
    the corpus to keep cluster width constant (SemDeDup runs 50k
    clusters at 5B docs). Deterministic end-to-end, so memberships,
    pairs, components and the quality argmax all replay in SQL."""
    from paqarin_spark.functions.text import quality_score
    from paqarin_spark.operators import duplicate_clusters, semdedup_pairs

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    docs = _docs(spark, sf_dir)
    pairs = semdedup_pairs(
        emb, "vec_id", "embedding", k=4, threshold=0.4,
        iterations=1, seed=5, assignment="expr",
    ).select(
        F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")
    )
    clusters = duplicate_clusters(pairs, algorithm="contract")
    q = docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )
    members = clusters.join(q, clusters.doc == q.doc_id)
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        members.withColumn("_rk", F.row_number().over(w))
        .groupBy("cluster_rep")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("_rk") == 1, F.col("doc_id"))).alias(
                "kept_doc_id"
            ),
            F.max(F.when(F.col("_rk") == 1, F.col("quality"))).alias(
                "kept_quality"
            ),
        )
        .orderBy("cluster_rep")
    )


_TX39_KM_KEY = "md5('kmeans#' || CAST(vec_id AS VARCHAR) || '#5')"

TX39_SQL = f"""
WITH RECURSIVE v AS (
  SELECT vec_id, u.dim, u.x FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           UNNEST(embedding)::DOUBLE AS x
  ) u
), init AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {_TX39_KM_KEY}) - 1 AS cluster, vec_id
  FROM embeddings ORDER BY {_TX39_KM_KEY} LIMIT 4
), c0 AS (
  SELECT i.cluster, v.dim, v.x AS c FROM init i JOIN v ON v.vec_id = i.vec_id
), a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT v.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(SUM(CAST((v.x - c.c) * (v.x - c.c)
                                    AS DECIMAL(30,10))) AS DOUBLE), c.cluster
           ) AS rk
    FROM v JOIN c0 c ON v.dim = c.dim GROUP BY v.vec_id, c.cluster
  ) WHERE rk = 1
), norms AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE))
           AS nrm
  FROM v GROUP BY 1
), dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(SUM(CAST(a.x * b.x AS DECIMAL(30,10))) AS DOUBLE) AS dot
  FROM v a
  JOIN a1 ca ON ca.vec_id = a.vec_id
  JOIN a1 cb ON cb.cluster = ca.cluster
  JOIN v b ON b.vec_id = cb.vec_id AND b.dim = a.dim AND a.vec_id < b.vec_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM dots
  JOIN norms na ON na.vec_id = id_a
  JOIN norms nb ON nb.vec_id = id_b
  WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= 0.4
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT e.src, re.r FROM sym e JOIN reach re ON e.dst = re.node
),
comp AS (
  SELECT node AS doc, MIN(r) AS cluster_rep FROM reach GROUP BY 1
),
q AS (
  SELECT doc_id,
         {_QUALITY_SQL} AS quality
  FROM documents
),
m AS (
  SELECT c.cluster_rep, c.doc, q.quality,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
                            ORDER BY q.quality DESC, c.doc) AS rk
  FROM comp c JOIN q ON c.doc = q.doc_id
)
SELECT cluster_rep,
       COUNT(*) AS n_members,
       MAX(CASE WHEN rk = 1 THEN doc END) AS kept_doc_id,
       MAX(CASE WHEN rk = 1 THEN quality END) AS kept_quality
FROM m GROUP BY 1 ORDER BY 1
"""

def tx14_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (the mixture-building step of
    a corpus pipeline): 5 docs per source by seeded hash rank — stable
    under retries and across cluster sizes, unlike ``rand()`` sampling;
    one shuffle on the stratum key."""
    docs = _docs(spark, sf_dir)
    rank = F.md5(F.concat_ws("#", F.col("doc_id"), F.lit("7")))
    w = Window.partitionBy("source").orderBy(rank)
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 5)
        .select("source", "doc_id")
    )


TX14_SQL = """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '#' || '7')
         ) AS rk
  FROM documents
) WHERE rk <= 5 ORDER BY source, doc_id
"""


def em6_label_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join (documents ⋈ embeddings on the shared id):
    text-quality statistics per embedding-cluster label — the check a
    curation pipeline runs to see which semantic clusters carry
    low-quality text. The (id, label) side is one row per embedding —
    it scales with the corpus, so the join is unhinted (AQE picks);
    quality reuses tx1's single-pass stats."""
    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    stats = text_stats(docs, "text", "doc_id").select("doc_id", "quality")
    return (
        stats.join(emb, on="doc_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(F.min("quality"), 6).alias("min_quality"),
        )
    )


EM6_SQL = f"""
WITH q AS (
  SELECT doc_id,
         {_QUALITY_SQL} AS quality
  FROM documents
)
SELECT label, COUNT(*) AS n_docs,
       ROUND(AVG(quality), 6) AS avg_quality,
       ROUND(MIN(quality), 6) AS min_quality
FROM q JOIN embeddings ON doc_id = vec_id
GROUP BY 1 ORDER BY 1
"""


def q44_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count time series (DAU — the canonical event-pipeline
    aggregate): exact countDistinct per day. At 100 TB swap in
    approx_count_distinct (HLL, partial-agg, no per-key set state) —
    same API shape, documented trade."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.date_format(F.date_trunc("DAY", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q44_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(DISTINCT user_id) AS dau,
       COUNT(*) AS n_events
FROM events GROUP BY 1 ORDER BY 1
"""


def tx10_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality pruning (the filter step every training-data
    pipeline runs after scoring): keep documents at or above the global
    p25 quality score, report per-source survivor counts. Threshold is
    a 1-row broadcast; the quality column reuses tx1's single-pass
    stats (thresholding on the 6dp-rounded score keeps the boundary
    exact on both engines)."""
    docs = _docs(spark, sf_dir)
    stats = text_stats(docs, "text", "doc_id").join(
        docs.select("doc_id", "source"), on="doc_id"
    )
    thresh = stats.agg(
        F.percentile("quality", F.lit(0.25)).alias("_q25")
    )
    return (
        stats.join(F.broadcast(thresh))
        .where(F.col("quality") >= F.col("_q25"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
    )


TX10_SQL = f"""
WITH q AS (
  SELECT doc_id, source,
         {_QUALITY_SQL} AS quality
  FROM documents
)
SELECT source, COUNT(*) AS n_kept, ROUND(AVG(quality), 6) AS avg_quality
FROM q WHERE quality >= (SELECT quantile_cont(quality, 0.25) FROM q)
GROUP BY 1 ORDER BY 1
"""


def tx15_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning pass (functions.text.clean_text): HTML-tag
    strip, entity decode, whitespace collapse, casefold — the standard
    normalization in front of dedup/tokenization, all codegen'd
    regexp. Emits per-doc cleaned length and a cleaning fingerprint so
    the whole transform is value-checked, plus the shrinkage per doc."""
    from paqarin_spark.functions.text import clean_text

    docs = _docs(spark, sf_dir)
    cleaned = clean_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.length(cleaned).cast("long").alias("clean_len"),
        (F.length("text") - F.length(cleaned)).cast("long").alias("removed"),
        F.md5(cleaned).alias("clean_md5"),
    ).orderBy("doc_id")


# DuckDB mirror of clean_text: same pass order (tags -> entities with
# '&amp;' LAST -> whitespace -> trim -> lower); regexp_replace needs
# the 'g' flag where Spark replaces all matches by default.
_CLEAN_SQL = (
    "lower(trim(regexp_replace("
    "replace(replace(replace(replace(replace(replace("
    "regexp_replace(text, '<[^>]*>', ' ', 'g'),"
    " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'),"
    " '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),"
    " '\\s+', ' ', 'g')))"
)

TX15_SQL = f"""
SELECT doc_id,
       CAST(length({_CLEAN_SQL}) AS BIGINT) AS clean_len,
       CAST(length(text) - length({_CLEAN_SQL}) AS BIGINT) AS removed,
       md5({_CLEAN_SQL}) AS clean_md5
FROM documents ORDER BY doc_id
"""


def tx16_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions.text.redact_pii): email/IPv4/phone masking
    with typed placeholders plus per-kind audit counts, value-checked
    byte-exactly via the md5 of the redacted text. The same regex text
    runs on both engines (Java regex and RE2 agree on this dialect
    subset), so the oracle pins the patterns themselves."""
    from paqarin_spark.functions.text import pii_counts, redact_pii

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        *pii_counts(F.col("text")),
        F.md5(redact_pii(F.col("text"))).alias("redacted_md5"),
    ).orderBy("doc_id")


def _tx16_sql() -> str:
    from paqarin_spark.functions.text import PII_PATTERNS

    # Mirror pii_counts' sequential semantics: each kind is counted on
    # the text with all earlier patterns already applied.
    counts = []
    redacted = "text"
    for kind, p, token in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({redacted}, '{p}')) AS BIGINT)"
            f" AS n_{kind}"
        )
        redacted = f"regexp_replace({redacted}, '{p}', '{token}', 'g')"
    return f"""
SELECT doc_id, {', '.join(counts)}, md5({redacted}) AS redacted_md5
FROM documents ORDER BY doc_id
"""


TX16_SQL = _tx16_sql()


def tx17_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram vocabulary head: every occurrence (not per-doc
    distinct) of every adjacent token pair, counted corpus-wide, top 20
    by (count desc, bigram asc). The bigram build is one materialized
    token array per doc + a transform/slice pass; the count is a plain
    shuffle agg with map-side combine — word-count shape, scales."""
    from paqarin_spark.operators.dedup import tokens

    docs = _docs(spark, sf_dir)
    toks = docs.select(tokens(F.col("text")).alias("_toks"))
    bigrams = toks.select(
        F.explode(
            F.filter(
                F.transform(
                    F.col("_toks"),
                    lambda _, i: F.when(
                        i <= F.size(F.col("_toks")) - 2,
                        F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, 2)),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


TX17_SQL = f"""
WITH b AS (
  SELECT unnest(list_transform(range(1, len({_TOKS_SQL})),
                i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 1), ' ')))
         AS bigram
  FROM documents
)
SELECT bigram, COUNT(*) AS n FROM b
GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20
"""


def tx19_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize-then-hash dedup: exact_duplicates over clean_text
    output instead of raw bytes, so casing/markup/whitespace variants
    of the same document collapse into one group — the standard first
    dedup pass of a corpus pipeline (clean -> hash -> groupBy), still
    one shuffle on the digest."""
    from paqarin_spark.functions.text import clean_text
    from paqarin_spark.operators.dedup import exact_duplicates

    docs = _docs(spark, sf_dir).select(
        "doc_id", clean_text(F.col("text")).alias("norm")
    )
    return exact_duplicates(docs, "norm", "doc_id")


TX19_SQL = f"""
SELECT md5({_CLEAN_SQL}) AS content_hash,
       COUNT(*) AS dup_count, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1 ORDER BY 1
"""


def tx18_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher/C4-style quality signal):
    1 − distinct-trigrams / total-trigrams per doc, 0 for docs too
    short to have a trigram. All expression work on one materialized
    token array — no shuffle at all; at 100 TB this runs at scan
    speed."""
    from paqarin_spark.operators.dedup import shingles_from_tokens, tokens

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    total = F.greatest(F.size("_toks") - F.lit(2), F.lit(0))
    distinct = F.size(shingles_from_tokens(F.col("_toks"), 3))
    return toks.select(
        "doc_id",
        total.cast("long").alias("total_trigrams"),
        F.when(total > 0, F.round(1 - distinct / total, 6))
        .otherwise(F.lit(0.0))
        .alias("repetition"),
    ).orderBy("doc_id")


TX18_SQL = f"""
SELECT doc_id,
       CAST(GREATEST(len({_TOKS_SQL}) - 2, 0) AS BIGINT) AS total_trigrams,
       CASE WHEN len({_TOKS_SQL}) > 2
            THEN ROUND(1 - len({_SHINGLES_SQL})
                           / CAST(len({_TOKS_SQL}) - 2 AS DOUBLE), 6)
            ELSE 0.0 END AS repetition
FROM documents ORDER BY doc_id
"""


def tx21_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content language audit: declared ``lang`` against
    tx2's n-gram language prediction, rolled up to per-source mismatch
    rates — the contamination gate a multilingual corpus runs before
    mixing sources. Prediction is one codegen'd expression (tx2); the
    only shuffle is the per-source rollup."""
    docs = _docs(spark, sf_dir)
    pred = docs.select(
        "source", "lang", predict_language(F.col("text")).alias("_pred")
    )
    mism = (F.col("_pred") != F.col("lang")).cast("long")
    return (
        pred.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(mism).alias("n_mismatch"),
            F.round(F.sum(mism) / F.count(F.lit(1)), 6).alias("mismatch_rate"),
        )
        .orderBy("source")
    )


TX21_SQL = f"""
WITH p AS ({_langid_sql("source, lang").replace("ORDER BY doc_id", "")})
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN pred_lang <> lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatch,
       ROUND(SUM(CASE WHEN pred_lang <> lang THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mismatch_rate
FROM p GROUP BY source ORDER BY source
"""


def _ngrams_sql(n: int, distinct: bool = True) -> str:
    """DuckDB word n-gram list over ``text`` mirroring
    operators.dedup._shingle_rows (distinct/positional variants)."""
    base = (
        "list_transform(range(1, len({t}) - {m}), "
        "i -> array_to_string(list_slice({t}, i, i + {k}), ' '))"
    ).format(t=_TOKS_SQL, m=n - 2, k=n - 1)
    return f"list_distinct({base})" if distinct else base


def tx22_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit (operators.dedup.
    contamination_check): 8-gram overlap of every non-benchmark corpus
    document against the held-out benchmark slice (source='src0').
    The benchmark shingle set is broadcast — the 100-TB corpus side is
    never shuffled for the probe, only for its own per-doc rollup."""
    from paqarin_spark.operators import contamination_check

    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("source") != "src0")
    benchmark = docs.where(F.col("source") == "src0")
    return contamination_check(
        corpus, benchmark, "text", "doc_id", n=8
    ).orderBy("doc_id")


TX22_SQL = f"""
WITH csh AS (
  SELECT doc_id AS doc, unnest({_ngrams_sql(8)}) AS shingle
  FROM documents WHERE source <> 'src0'
), bsh AS (
  SELECT DISTINCT unnest({_ngrams_sql(8)}) AS shingle
  FROM documents WHERE source = 'src0'
)
SELECT doc AS doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN shingle IN (SELECT shingle FROM bsh)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       ROUND(SUM(CASE WHEN shingle IN (SELECT shingle FROM bsh)
                      THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS contamination_ratio
FROM csh GROUP BY doc ORDER BY doc
"""


def tx36_ingest_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup MANIFEST (operators.dedup.
    ingest_novelty): every 7th document plays the daily batch, the
    rest the existing corpus; each batch doc is admitted as
    exact_dup / near_dup (≥60% trigram containment) / novel. The
    probes (batch hash + shingle sets) broadcast; the corpus side is
    scanned once per probe and NEVER shuffled — the inverse broadcast
    direction of tx22's decontamination, because here the corpus is
    the 100-TB side."""
    from paqarin_spark.operators import ingest_novelty

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % 7 == 3)
    corpus = docs.where(F.col("doc_id") % 7 != 3)
    return ingest_novelty(
        batch, corpus, "text", "doc_id", n=3, near_threshold=0.6
    ).orderBy("doc_id")


TX36_SQL = f"""
WITH bh AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 = 3
), ch AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 7 <> 3
), bsh AS (
  SELECT doc_id AS doc, unnest({_ngrams_sql(3)}) AS shingle
  FROM documents WHERE doc_id % 7 = 3
), csh AS (
  SELECT DISTINCT unnest({_ngrams_sql(3)}) AS shingle
  FROM documents WHERE doc_id % 7 <> 3
), contained AS (
  SELECT doc,
         COUNT(*) AS n_shingles,
         ROUND(SUM(CASE WHEN shingle IN (SELECT shingle FROM csh)
                        THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
           AS containment
  FROM bsh GROUP BY doc
)
SELECT b.doc_id,
       COALESCE(c.n_shingles, 0) AS n_shingles,
       COALESCE(c.containment, 0.0) AS containment,
       CASE WHEN b.h IN (SELECT h FROM ch) THEN 'exact_dup'
            WHEN COALESCE(c.containment, 0.0) >= 0.6 THEN 'near_dup'
            ELSE 'novel' END AS verdict
FROM bh b LEFT JOIN contained c ON b.doc_id = c.doc
ORDER BY b.doc_id
"""


def tx23_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection (operators.dedup.duplicate_spans):
    per document, the share of its word 8-gram spans (with
    multiplicity) that occur in at least one other document — the
    relational form of substring-level training-data dedup
    (Lee et al. 2022)."""
    from paqarin_spark.operators import duplicate_spans

    docs = _docs(spark, sf_dir)
    return duplicate_spans(docs, "text", "doc_id", n=8).orderBy("doc_id")


TX23_SQL = f"""
WITH spans AS (
  SELECT doc_id AS doc, unnest({_ngrams_sql(8, distinct=False)}) AS shingle
  FROM documents
), dup AS (
  SELECT shingle FROM (
    SELECT shingle, COUNT(DISTINCT doc) AS df FROM spans GROUP BY 1
  ) WHERE df >= 2
)
SELECT doc AS doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN shingle IN (SELECT shingle FROM dup)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       ROUND(SUM(CASE WHEN shingle IN (SELECT shingle FROM dup)
                      THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_span_ratio
FROM spans GROUP BY doc ORDER BY doc
"""


def tx26_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    |A∩B| / |A| — the score that catches a short document embedded
    inside a longer one (quote farms, paywall snippets, boilerplate
    wrappers), which symmetric Jaccard dilutes below any threshold.
    Same inverted-index join as tx4 (docs meet only on shared
    shingles, df-capped against viral shingles), but normalized by
    the CONTAINED side's size and emitted in both directions."""
    from paqarin_spark.operators import containment_pairs

    docs = _docs(spark, sf_dir)
    return containment_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8, max_doc_frequency=50
    ).orderBy("id_small", "id_large")


TX26_SQL = f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest({_SHINGLES_SQL}) AS shingle FROM documents
), sizes AS (
  SELECT doc, COUNT(*) AS n_shingles FROM sh GROUP BY 1
), kept AS (
  SELECT doc, shingle FROM sh
  WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) > 50
  )
), common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS common
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
), both_dirs AS (
  SELECT id_a AS id_small, id_b AS id_large, common FROM common
  UNION ALL
  SELECT id_b, id_a, common FROM common
)
SELECT id_small, id_large,
       ROUND(common / s.n_shingles, 6) AS containment
FROM both_dirs JOIN sizes s ON s.doc = id_small
WHERE common / s.n_shingles >= 0.8
ORDER BY 1, 2
"""


def tx24_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics health check: the Zipf log-log slope of the
    top-100 token frequencies (natural text sits near -1; synthetic or
    templated corpora drift off). Token counting is one shuffle with
    partial aggregation; the top-100 cut is TakeOrderedAndProject
    (per-partition heaps merged on the driver — no global sort), and
    the rank window then runs over exactly 100 rows. The regression
    itself is the built-in ``regr_slope``/``regr_intercept`` pair —
    one scan over the ranked head, all JVM-side."""
    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    from paqarin_spark.operators.dedup import tokens as _tokens

    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    top = freq.orderBy(F.desc("freq"), F.asc("token")).limit(100)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.expr("regr_slope(ln(freq), ln(rank))"), 6
        ).alias("zipf_slope"),
        F.round(
            F.expr("regr_intercept(ln(freq), ln(rank))"), 6
        ).alias("zipf_intercept"),
    )


TX24_SQL = f"""
WITH freq AS (
  SELECT unnest({_TOKS_SQL}) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS freq FROM freq GROUP BY 1
), top AS (
  SELECT token, freq FROM counts ORDER BY freq DESC, token LIMIT 100
), ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
  FROM top
)
SELECT COUNT(*) AS n_tokens,
       ROUND(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
       ROUND(regr_intercept(ln(freq), ln(rank)), 6) AS zipf_intercept
FROM ranked
"""


def tx25_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-document mean negative log
    probability under the corpus's own unigram language model — the
    cheap stand-in for the KenLM gate most LLM data pipelines run
    (low mean -log p = fluent/common tokens, high = junk or
    out-of-domain). Two aggregation passes over one exploded token
    frame: global token frequencies (shuffle keyed on token, partial
    agg bounds it by vocabulary), then a token-keyed join back and a
    per-doc mean. At 100 TB the frequency side is vocabulary-sized —
    usually broadcastable after a min-count floor; the join below
    stays a shuffle join so the plan is correct even for unbounded
    vocabularies."""
    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    from paqarin_spark.operators.dedup import tokens as _tokens

    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_c"))
    total = freq.agg(F.sum("_c").alias("_n"))
    scored = toks.join(freq, "token").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("_c") / F.col("_n"))), 6).alias(
                "mean_neg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


TX25_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
), f AS (
  SELECT token, COUNT(*) AS c FROM t GROUP BY 1
), tot AS (
  SELECT SUM(c) AS n FROM f
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       ROUND(AVG(-ln(f.c / tot.n)), 6) AS mean_neg_logprob
FROM t JOIN f USING (token) CROSS JOIN tot
GROUP BY t.doc_id ORDER BY t.doc_id
"""


def em9_embed_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate CLUSTERS: connected components over
    em3's exact cosine pair list — the cross-family composition
    (similarity → graph clustering) that turns pairwise near-dups into
    keep-one-representative groups, exactly like tx11 does for MinHash
    pairs. Runs the min-neighbor-contraction variant (O(log n)
    rounds on the chain-shaped graphs a 0.4 threshold produces), so
    every vector in a dup pair maps to the smallest vec_id reachable
    from it."""
    from paqarin_spark.operators import cosine_dedup_pairs, duplicate_clusters

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pairs = cosine_dedup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    return duplicate_clusters(pairs, algorithm="contract")


def em10_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index QUALITY evaluation — the measurement loop any
    deployment runs before trusting an approximate index: recall@5 of
    the single-probe IVF index (em4) against the exact brute-force
    top-k (em1). Both sides are deterministic, so even the evaluation
    itself is value-checked against the oracle. Output: one row
    (n_queries, avg_recall)."""
    from paqarin_spark.operators import cosine_topk, ivf_topk

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    exact = cosine_topk(emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(emb, "vec_id", "embedding", k=5, num_cells=16).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, on=["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    per_q = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("_k"))
    recall = per_q.join(hits, on="query_id", how="left").select(
        F.coalesce(F.col("_h"), F.lit(0)).alias("_h"), "_k"
    )
    # k is the constant top-5, so mean-of-ratios == pooled SUM(h)/SUM(k)
    # — which is a low-denominator rational displayed through the exact
    # micro-unit floor (the q84/q14 round-12 tie-sweep pattern) instead
    # of rounding a float AVG whose 7th-digit-5 ties diverge by engine.
    _num = (
        F.lit(2) * F.sum("_h").cast("decimal(38,0)") * F.lit(1000000)
        + F.sum("_k")
    ).cast("double")
    _den = (F.lit(2) * F.sum("_k")).cast("double")
    return recall.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.floor(_num / _den).cast("double") / F.lit(1000000.0)).alias(
            "avg_recall"
        ),
    )


EM10_SQL = f"""
WITH exact AS ({EM1_SQL.replace("ORDER BY query_id, neighbor_id", "")}),
approx AS ({EM4_SQL.replace("ORDER BY query_id, neighbor_id", "")}),
hits AS (
  SELECT e.query_id, COUNT(*) AS h
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1
), per_q AS (
  SELECT query_id, CAST(COUNT(*) AS DOUBLE) AS k FROM exact GROUP BY 1
)
SELECT COUNT(*) AS n_queries,
       CAST(FLOOR(CAST(2 * SUM(COALESCE(h.h, 0)) * 1000000 + SUM(p.k) AS DOUBLE)
                  / CAST(2 * SUM(p.k) AS DOUBLE)) AS DOUBLE)
         / 1000000.0 AS avg_recall
FROM per_q p LEFT JOIN hits h ON p.query_id = h.query_id
"""


def em11_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit
    (operators.similarity.scalar_quantize_error): per-vector cosine
    similarity and MSE between each embedding and its uniformly
    quantized reconstruction — the measurement a pipeline runs before
    switching its ANN index to compressed codes. Per-dim min/max is
    one dimension-keyed micro-shuffle folded into a broadcast row; the
    rest is pure codegen'd array expressions."""
    from paqarin_spark.operators import scalar_quantize_error

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return scalar_quantize_error(emb, "vec_id", "embedding", bits=8).orderBy(
        "vec_id"
    )


EM11_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), d AS (
  SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e
), s AS (
  SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM d GROUP BY 1
), arrs AS (
  SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi FROM s
), r AS (
  SELECT vec_id, v,
         list_transform(range(1, len(v) + 1),
           i -> CASE WHEN arrs.hi[i] > arrs.lo[i]
                THEN arrs.lo[i] + round((v[i] - arrs.lo[i])
                     / (arrs.hi[i] - arrs.lo[i]) * 255) / 255
                     * (arrs.hi[i] - arrs.lo[i])
                ELSE arrs.lo[i] END) AS recon
  FROM e, arrs
)
SELECT vec_id,
       ROUND(list_sum(list_transform(range(1, len(v) + 1),
                                     i -> v[i] * recon[i]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform(recon, x -> x * x)))), 6)
         AS cos_recon,
       ROUND(list_sum(list_transform(range(1, len(v) + 1),
                                     i -> (v[i] - recon[i])
                                          * (v[i] - recon[i])))
             / len(v), 8) AS mse
FROM r ORDER BY vec_id
"""


EM9_SQL = f"""
WITH RECURSIVE pairs AS ({EM3_SQL.replace("ORDER BY id_a, id_b", "")}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT e.src, re.r FROM sym e JOIN reach re ON e.dst = re.node
)
SELECT node AS doc, MIN(r) AS cluster_rep
FROM reach GROUP BY 1 ORDER BY 1
"""


def tx20_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus-curation funnel in ONE declared query — the C4/Gopher
    recipe end to end with per-source survivor accounting: quality
    scoring (tx1's single-pass stats), within-doc repetition (tx18),
    global p25 quality gate (tx10), repetition gate, then
    normalize-then-hash keep-first dedup among survivors (tx19).
    Output: (source, n_total, n_quality, n_clean, n_final).

    Scale shape: all signals are expression-side over ONE scan whose
    slim result (5 small columns/doc) is localCheckpointed — the
    funnel consumes it four times (threshold agg, flags, keep-first
    groupBy on the clean hash, per-source rollup) and must not re-run
    the regexp tokenization per consumer. The p25 threshold is a
    scalar aggregate collected to the driver (the MinMaxScaler.fit
    pattern); remaining exchanges are single keyed shuffles."""
    from paqarin_spark.functions.text import ENGLISH_STOPWORDS, clean_text
    from paqarin_spark.operators.dedup import shingles_from_tokens, tokens

    docs = _docs(spark, sf_dir)
    # Staged projection: ONE tokens() regexp pass per row feeds quality,
    # repetition, and the trigram terms (CollapseProject keeps _toks
    # materialized); no doc_id self-join anywhere.
    base = docs.select(
        "doc_id",
        "source",
        "text",
        tokens(F.col("text")).alias("_toks"),
        F.md5(clean_text(F.col("text"))).alias("_h"),
    )
    n_toks = F.greatest(F.size("_toks"), F.lit(1))
    alpha = F.regexp_count(F.col("text"), F.lit("[A-Za-z]")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    stop = F.size(F.filter(F.col("_toks"), lambda t: t.isin(*ENGLISH_STOPWORDS))) / n_toks
    length_term = F.least(F.size("_toks") / F.lit(100.0), F.lit(1.0))
    total = F.greatest(F.size("_toks") - F.lit(2), F.lit(0))
    rep = (
        F.when(
            total > 0,
            F.round(1 - F.size(shingles_from_tokens(F.col("_toks"), 3)) / total, 6),
        )
        .otherwise(F.lit(0.0))
    )
    scored = base.select(
        "doc_id",
        "source",
        "_h",
        F.round((length_term + alpha + stop) / F.lit(3.0), 6).alias("quality"),
        rep.alias("_rep"),
    ).localCheckpoint()  # one tokenization pass total, 4 consumers
    q25 = scored.agg(F.percentile("quality", F.lit(0.25)).alias("_q25")).collect()[
        0
    ]["_q25"]
    flagged = scored.select(
        "doc_id",
        "source",
        "_h",
        (F.col("quality") >= F.lit(q25)).alias("_pq"),
        (
            (F.col("quality") >= F.lit(q25)) & (F.col("_rep") <= 0.2)
        ).alias("_surv"),
    )
    keep = (
        flagged.where("_surv")
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("_final"))
    )
    return (
        flagged.join(keep, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("_pq").cast("long")).alias("n_quality"),
            F.sum(F.col("_surv").cast("long")).alias("n_clean"),
            F.sum(F.coalesce(F.col("_final").cast("long"), F.lit(0))).alias(
                "n_final"
            ),
        )
        .orderBy("source")
    )


TX20_SQL = f"""
WITH q AS (
  SELECT doc_id, source,
         {_QUALITY_SQL} AS quality,
         CASE WHEN len({_TOKS_SQL}) > 2
              THEN ROUND(1 - len({_SHINGLES_SQL})
                             / CAST(len({_TOKS_SQL}) - 2 AS DOUBLE), 6)
              ELSE 0.0 END AS rep,
         md5({_CLEAN_SQL}) AS h
  FROM documents
), f AS (
  SELECT *,
         quality >= (SELECT quantile_cont(quality, 0.25) FROM q) AS pq,
         (quality >= (SELECT quantile_cont(quality, 0.25) FROM q)
          AND rep <= 0.2) AS surv
  FROM q
), k AS (
  SELECT MIN(doc_id) AS doc_id FROM f WHERE surv GROUP BY h
)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN pq THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN surv THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM k) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_final
FROM f GROUP BY source ORDER BY source
"""


def tx27_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus MIXTURE sampling (operators.corpus.
    mixture_sample): per-source keep rates (the pretraining
    reweighting step — keep curated sources at 100%, downweight noisy
    web text), decided by an md5-prefix uniform so the same document
    survives on any cluster layout, retry, or scale. Pure filter —
    zero shuffle."""
    from paqarin_spark.operators import mixture_sample

    docs = _docs(spark, sf_dir)
    kept = mixture_sample(
        docs,
        "doc_id",
        "source",
        rates={"src0": 1.0, "src1": 0.7, "src2": 0.4, "src3": 0.1},
        default_rate=0.3,
    )
    return kept.select("doc_id", "source").orderBy("doc_id")


TX27_SQL = """
SELECT doc_id, source
FROM documents
WHERE ('0x' || substring(md5('mix#' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
      / 1152921504606846976.0
      < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.7
                    WHEN 'src2' THEN 0.4 WHEN 'src3' THEN 0.1
                    ELSE 0.3 END
ORDER BY doc_id
"""


def tx28_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk SEQUENCE PACKING (operators.corpus.
    pack_sequences): the GPT-style pretraining layout — documents
    concatenated in doc_id order and split every 512 tokens; each doc
    reports the training sequences it spans. The global prefix-sum is
    two-level (within-bucket window + broadcast bucket offsets), so no
    task ever windows the whole corpus."""
    from paqarin_spark.operators import pack_sequences

    docs = _docs(spark, sf_dir)
    packed = pack_sequences(docs, "doc_id", "text", budget=512, num_buckets=128)
    return packed.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "start_offset",
        "first_seq",
        "last_seq",
        "n_seqs",
    ).orderBy("doc_id")


TX28_SQL = f"""
WITH t AS (
  SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_offset
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 512 AS BIGINT) AS first_seq,
       CAST(CASE WHEN n_tokens = 0 THEN start_offset // 512
                 ELSE (start_offset + n_tokens - 1) // 512 END AS BIGINT)
         AS last_seq,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (start_offset + n_tokens - 1) // 512
                      - start_offset // 512 + 1 END AS BIGINT) AS n_seqs
FROM c ORDER BY doc_id
"""


def tx29_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token CHUNKING (operators.corpus.chunk_tokens): the
    RAG / context-window prep step — every document explodes into
    32-token windows every 24 tokens (8-token overlap). Generate-and-
    project only, no shuffle; chunk text is md5'd here so the declared
    result stays compact."""
    from paqarin_spark.operators import chunk_tokens

    docs = _docs(spark, sf_dir)
    chunks = chunk_tokens(docs, "doc_id", "text", chunk=32, stride=24)
    return chunks.select(
        "doc_id",
        "chunk_id",
        "start_token",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


TX29_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), s AS (
  SELECT doc_id, toks,
         UNNEST(range(0, GREATEST(len(toks), 1), 24)) AS start_token
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(start_token // 24 AS BIGINT) AS chunk_id,
       CAST(start_token AS INTEGER) AS start_token,
       CAST(len(list_slice(toks, start_token + 1, start_token + 32))
            AS INTEGER) AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, start_token + 1, start_token + 32),
           ' ')) AS chunk_hash
FROM s ORDER BY doc_id, chunk_id
"""


def tx30_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators.corpus.
    tfidf_top_terms): smoothed scikit-learn idf, term-asc tie-break.
    Term stats shuffle on the term key; N is a scalar broadcast."""
    from paqarin_spark.operators import tfidf_top_terms

    docs = _docs(spark, sf_dir)
    top = tfidf_top_terms(docs, "doc_id", "text", k=3)
    return top.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        "term",
        "tf",
        "df",
        "score",
    ).orderBy("doc_id", "rank")


TX30_SQL = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_TOKS_SQL}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), idf AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, idf.df,
         tf.tf * (ln((n.n + 1.0) / (idf.df + 1.0)) + 1.0) AS score
  FROM tf JOIN idf USING (term) CROSS JOIN n
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(score, 6) AS score
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS rank
  FROM scored
)
WHERE rank <= 3 ORDER BY doc_id, rank
"""


def tx31_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval (operators.corpus.bm25_topk) for a fixed
    query bag — full-corpus search scoring as a relational plan. The
    corpus explodes only the query terms' postings (filter before the
    shuffle); the final top-k is TakeOrderedAndProject, never a full
    sort."""
    from paqarin_spark.operators import bm25_topk

    docs = _docs(spark, sf_dir)
    return bm25_topk(
        docs, "doc_id", "text", ["spark", "join", "window", "hash"], k=20
    )


TX31_SQL = f"""
WITH d AS (
  SELECT doc_id, len({_TOKS_SQL}) AS dl,
         list_filter({_TOKS_SQL},
                     t -> list_contains(['spark','join','window','hash'], t))
           AS hits
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM d
), postings AS (
  SELECT doc_id, dl, UNNEST(hits) AS term FROM d
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM postings GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
)
SELECT doc_id,
       ROUND(SUM(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
                 * (t.tf * 2.2)
                 / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))), 6)
         AS score
FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
"""


def em12_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss compression audit (operators.similarity.
    random_projection_distortion): 64→16 dims through a deterministic
    md5-sign matrix, reporting per-vector norm distortion (JL
    expectation 1). The sign matrix is driver-built literals — the
    per-row path is pure codegen'd array math, zero shuffle — and the
    oracle recomputes the same signs from md5 in SQL, so the projection
    itself is value-checked."""
    from paqarin_spark.operators import random_projection_distortion

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return random_projection_distortion(
        emb, "vec_id", "embedding", out_dim=16
    ).orderBy("vec_id")


EM12_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), p AS (
  SELECT vec_id, v,
         list_transform(range(16), j ->
           list_sum(list_transform(range(len(v)), i -> v[i + 1] *
             (CASE WHEN ('0x' || substring(md5('rp#' || j || '#' || i), 1, 1))
                        ::UBIGINT % 2 = 0
                   THEN 1.0 ELSE -1.0 END)))) AS proj
  FROM e
)
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS norm_in,
       CASE WHEN list_sum(list_transform(v, x -> x * x)) > 0
            THEN ROUND(list_sum(list_transform(proj, x -> x * x))
                       / (16.0 * list_sum(list_transform(v, x -> x * x))), 6)
       END AS distortion
FROM p ORDER BY vec_id
"""


def st7_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM–STATIC enrichment rollup (streaming.
    stream_enrich_window_sum): the events stream joins the static
    customer dim (broadcast, probed per micro-batch — the stream never
    shuffles for the join) and rolls up per-market-segment daily
    counts/sums with a 1-day watermark. Append mode emits only
    watermark-closed windows; the oracle encodes that contract exactly
    like st6."""
    from paqarin_spark.streaming import stream_enrich_window_sum

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer")
    out = stream_enrich_window_sum(
        stream,
        dim,
        timestamp_column="ts",
        join_column="user_id",
        dim_key="c_custkey",
        segment_column="c_mktsegment",
        value_column="value",
        window_duration="1 day",
        watermark="1 day",
    )
    name = "st7_stream_enrich"
    sink = _run_to_memory(
        spark, out, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return sink.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        F.col("c_mktsegment").alias("segment"),
        "n_events",
        "sum_value",
    )


ST7_SQL = """
SELECT strftime(DATE_TRUNC('day', e.ts), '%Y-%m-%d') AS day,
       c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 6) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE DATE_TRUNC('day', e.ts) + INTERVAL '1 day'
      <= (SELECT MAX(ts) - INTERVAL '1 day' FROM events)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def tx32_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style multi-rule quality gate (functions.text.
    gopher_quality_flags): per-document verdicts for the classic
    shape/repetition filters — token-count bounds, mean-token-length
    bounds, top-token share cap, minimum stopword hits, duplicate-
    trigram cap — plus the overall keep flag. One projection pass,
    zero shuffle; every rule is value-checked."""
    from paqarin_spark.functions.text import gopher_quality_flags

    docs = _docs(spark, sf_dir)
    return gopher_quality_flags(docs, "text", "doc_id").orderBy("doc_id")


TX32_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n,
         COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
           / GREATEST(len(toks), 1) AS mean_len,
         COALESCE(list_max(list_transform(list_distinct(toks),
                    t2 -> len(list_filter(toks, x -> x = t2)))), 0) AS topc,
         len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x)))
           AS stop_hits,
         GREATEST(len(toks) - 2, 0) AS tri_total,
         len(list_distinct(list_transform(range(1, len(toks) - 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' '))))
           AS tri_distinct
  FROM t
), s AS (
  SELECT doc_id,
         CAST(n AS BIGINT) AS n_tokens,
         ROUND(mean_len, 6) AS mean_token_len,
         ROUND(topc / GREATEST(n, 1), 6) AS top_token_frac,
         CAST(stop_hits AS BIGINT) AS stopword_hits,
         CASE WHEN tri_total > 0
              THEN ROUND(1 - tri_distinct / CAST(tri_total AS DOUBLE), 6)
              ELSE 0.0 END AS repetition
  FROM m
)
SELECT *,
       n_tokens BETWEEN 10 AND 100000 AS ok_token_count,
       mean_token_len BETWEEN 3.0 AND 10.0 AS ok_mean_len,
       top_token_frac <= 0.20 AS ok_top_token,
       stopword_hits >= 2 AS ok_stopwords,
       repetition <= 0.30 AS ok_repetition,
       (n_tokens BETWEEN 10 AND 100000 AND mean_token_len BETWEEN 3.0 AND 10.0
        AND top_token_frac <= 0.20 AND stopword_hits >= 2
        AND repetition <= 0.30) AS keep
FROM s ORDER BY doc_id
"""


def mm8_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end to end (paqarin_spark.jpeg):
    spec-built JFIF fixtures — standard Annex K quant/Huffman tables,
    4:4:4 on even ids and 4:2:0 MCU-interleaved on odd ids — with
    dimension metadata withheld, so width/height come from SOF0 and
    the channel means from Huffman entropy decode → dequantize → IDCT
    → chroma upsample → YCbCr→RGB. Solid-color fixtures keep every
    lossy rounding step (floor(x+0.5) contract) exactly predictable,
    so the oracle replays the codec's DC-quantization arithmetic in
    SQL and the means hash-match despite JPEG being lossy."""
    from paqarin_spark.multimodal import jpeg_assets_from_ids, jpeg_pixel_stats

    docs = _docs(spark, sf_dir)
    return jpeg_pixel_stats(jpeg_assets_from_ids(docs, "doc_id")).orderBy(
        "asset_id"
    )


MM8_SQL = """
WITH src AS (
  SELECT doc_id AS asset_id,
         7 * doc_id % 256 AS r,
         (13 * doc_id + 5) % 256 AS g,
         (29 * doc_id + 11) % 256 AS b
  FROM documents
), ycc AS (
  SELECT asset_id, r, g, b,
    LEAST(255, GREATEST(0,
      FLOOR(ROUND(0.299*r + 0.587*g + 0.114*b, 6) + 0.5))) AS y,
    LEAST(255, GREATEST(0,
      FLOOR(ROUND(-0.168736*r - 0.331264*g + 0.5*b + 128, 6) + 0.5))) AS cb,
    LEAST(255, GREATEST(0,
      FLOOR(ROUND(0.5*r - 0.418688*g - 0.081312*b + 128, 6) + 0.5))) AS cr
  FROM src
), dq AS (
  SELECT asset_id,
    LEAST(255, GREATEST(0, FLOOR(ROUND(
      SIGN(y - 128) * FLOOR(ROUND(ABS(8*(y - 128)) / 16.0, 6) + 0.5)
      * 16 / 8.0 + 128, 6) + 0.5))) AS y2,
    LEAST(255, GREATEST(0, FLOOR(ROUND(
      SIGN(cb - 128) * FLOOR(ROUND(ABS(8*(cb - 128)) / 17.0, 6) + 0.5)
      * 17 / 8.0 + 128, 6) + 0.5))) AS cb2,
    LEAST(255, GREATEST(0, FLOOR(ROUND(
      SIGN(cr - 128) * FLOOR(ROUND(ABS(8*(cr - 128)) / 17.0, 6) + 0.5)
      * 17 / 8.0 + 128, 6) + 0.5))) AS cr2
  FROM ycc
)
SELECT asset_id,
       CAST((asset_id % 4 + 1) * 8 AS INTEGER) AS width,
       CAST((asset_id % 3 + 1) * 8 AS INTEGER) AS height,
       CAST(LEAST(255, GREATEST(0,
         FLOOR(ROUND(y2 + 1.402*(cr2 - 128), 6) + 0.5))) AS DOUBLE) AS mean_r,
       CAST(LEAST(255, GREATEST(0,
         FLOOR(ROUND(y2 - 0.344136*(cb2 - 128) - 0.714136*(cr2 - 128), 6)
               + 0.5))) AS DOUBLE) AS mean_g,
       CAST(LEAST(255, GREATEST(0,
         FLOOR(ROUND(y2 + 1.772*(cb2 - 128), 6) + 0.5))) AS DOUBLE) AS mean_b
FROM dq ORDER BY asset_id
"""


def mm9_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform FEATURE extraction from real decoded PCM
    (multimodal.wav_audio_stats over parse_wav_samples): spec-built
    mono 16-bit WAVs whose sample values are id-arithmetic, so the
    decoded features — mean |amplitude|, peak, zero crossings — are
    value-checked, not just the header counts mm3/mm4 already pin."""
    from paqarin_spark.multimodal import wav_assets_from_ids, wav_audio_stats

    docs = _docs(spark, sf_dir)
    return wav_audio_stats(wav_assets_from_ids(docs, "doc_id")).orderBy(
        "asset_id"
    )


MM9_SQL = """
WITH g AS (
  SELECT doc_id AS asset_id, doc_id % 7 + 1 AS step, doc_id % 100 + 1 AS n,
         UNNEST(range(doc_id % 100 + 1)) AS i
  FROM documents
), s AS (
  SELECT asset_id, n, i,
         (i * step * 37 + asset_id) % 4001 - 2000 AS v,
         CASE WHEN i > 0
              THEN ((i - 1) * step * 37 + asset_id) % 4001 - 2000 END AS pv
  FROM g
)
SELECT asset_id,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       ROUND(AVG(ABS(v)), 6) AS mean_abs,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak,
       CAST(COALESCE(SUM(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS zero_crossings
FROM s GROUP BY asset_id ORDER BY asset_id
"""


def st8_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM–STREAM interval self-join (streaming.
    stream_interval_join): click→purchase attribution within 1 hour
    per user, both sides watermarked so join state is evicted once the
    watermark passes ts + lag. Inner-join semantics make the emitted
    set equal the batch interval join exactly — the oracle is plain
    SQL, no closed-window carve-out needed."""
    from paqarin_spark.streaming import stream_interval_join

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    out = stream_interval_join(
        stream,
        timestamp_column="ts",
        key_column="user_id",
        left_filter=F.col("event_type") == "click",
        right_filter=F.col("event_type") == "purchase",
        max_lag="1 hour",
        watermark="1 day",
        left_prefix="click",
        right_prefix="purchase",
    )
    name = "st8_stream_interval_join"
    sink = _run_to_memory(
        spark, out, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return sink.select(
        "click_id", "purchase_id", "user_id", "lag_seconds"
    )


ST8_SQL = """
SELECT a.event_id AS click_id,
       b.event_id AS purchase_id,
       a.user_id,
       CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS lag_seconds
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour'
ORDER BY 1, 2
"""


def st9_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch: the HLL register table as streaming state
    (streaming.stream_hll_registers — groupBy + MAX in complete mode,
    ≤ groups × 2^p state rows forever, where st6's exact distinct
    holds per-KEY state that grows with cardinality). The final
    register table finishes through the SAME estimator arithmetic as
    batch q73, so the streaming estimate provably equals the batch
    estimate — and hash-matches the same oracle replay."""
    from paqarin_spark.operators.sketch import hll_estimate_from_registers
    from paqarin_spark.streaming import stream_hll_registers

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    regs = stream_hll_registers(
        stream, "user_id", p=10, group_by=["event_type"]
    )
    name = "st9_stream_hll_distinct"
    # state rows bounded by construction — cap the keyed exchange
    sink = _run_to_memory(spark, regs, name, "complete", 16)
    return (
        hll_estimate_from_registers(sink, p=10, group_by=["event_type"])
        .select(
            "event_type", F.round("n_distinct_est", 4).alias("est_users")
        )
        .orderBy("event_type")
    )


ST9_SQL = """
WITH h AS (
  SELECT event_type,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
           AS hv
  FROM events
), reg AS (
  SELECT event_type, hv // 1125899906842624 AS idx,
         MAX(CASE WHEN hv % 1125899906842624 = 0 THEN 51
                  ELSE 50 - length(bin(hv % 1125899906842624)) + 1 END) AS r
  FROM h GROUP BY 1, 2
), agg AS (
  SELECT event_type, COUNT(*) AS nobs, SUM(power(2.0, -r)) AS sobs
  FROM reg GROUP BY 1
), est AS (
  SELECT event_type,
         (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
           / (sobs + CAST(1024 - nobs AS DOUBLE)) AS raw,
         1024 - nobs AS v
  FROM agg
)
SELECT event_type,
       ROUND(CASE WHEN raw <= 2560.0 AND v > 0
                  THEN 1024.0 * ln(1024.0 / CAST(v AS DOUBLE))
                  ELSE raw END, 4) AS est_users
FROM est ORDER BY 1
"""


def st10_stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING count-min (streaming.stream_count_min): the counter
    table as bounded streaming state — 4×512 rows forever, where an
    exact streaming frequency table holds one state row per key. The
    final counters are probed batch-side with the same min-over-rows
    arithmetic as tx33, next to the true per-type counts; both the
    counters and the probe replay in SQL, so the streaming sketch's
    VALUES hash-match, not just its shape."""
    from paqarin_spark.operators.sketch import _cm_bucket
    from paqarin_spark.streaming import stream_count_min

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    counters = stream_count_min(stream, "event_type", depth=4, width=512)
    name = "st10_stream_count_min"
    # state rows bounded by construction — cap the keyed exchange
    sink = _run_to_memory(spark, counters, name, "complete", 16)
    ev = _events(spark, sf_dir)
    true_counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_true")
    )
    rows = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("row")
    probes = true_counts.select(
        "event_type",
        "n_true",
        rows,
    ).select(
        "event_type",
        "n_true",
        "row",
        _cm_bucket(F.col("row"), F.col("event_type"), 512).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sink), on=["row", "bucket"], how="left")
        .groupBy("event_type", "n_true")
        .agg(
            F.min(F.coalesce(F.col("counter"), F.lit(0)))
            .cast("bigint")
            .alias("cm_estimate")
        )
        .orderBy("event_type")
    )


ST10_SQL = """
WITH rows_ AS (
  SELECT UNNEST(range(4)) AS row
), counters AS (
  SELECT r.row,
         ('0x' || substring(md5(r.row || '#' || e.event_type), 1, 15))::UBIGINT
           % 512 AS bucket,
         COUNT(*) AS counter
  FROM events e CROSS JOIN rows_ r
  GROUP BY 1, 2
), tc AS (
  SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY 1
), probes AS (
  SELECT t.event_type, t.n_true, r.row,
         ('0x' || substring(md5(r.row || '#' || t.event_type), 1, 15))::UBIGINT
           % 512 AS bucket
  FROM tc t CROSS JOIN rows_ r
)
SELECT p.event_type, p.n_true,
       CAST(MIN(COALESCE(c.counter, 0)) AS BIGINT) AS cm_estimate
FROM probes p LEFT JOIN counters c ON p.row = c.row AND p.bucket = c.bucket
GROUP BY 1, 2 ORDER BY 1
"""


def q74_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers-who-kept-orders-waiting) re-expressed
    without correlated EXISTS/NOT-EXISTS: a supplier is 'to blame' for
    an order when its lineitem shipped late (> 60 days after the order
    date — the slimmed lineitem carries no commit/receipt dates) on a
    multi-supplier order where NO other supplier was late. Q21's two
    correlated subqueries collapse into one per-(order, supplier)
    flag aggregation plus one per-order rollup — two exchanges keyed
    on l_orderkey, then a supplier-keyed count. That is the
    decorrelated plan an optimizer should find, written directly; at
    100 TB it avoids the join-per-subquery a naive translation pays."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supp = read_table(spark, sf_dir, "supplier")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .cast("int")
        .alias("_late"),
    )
    per_os = joined.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("_late").alias("_late")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supps"),
        F.sum("_late").alias("_n_late"),
    )
    qual = (
        per_os.where(F.col("_late") == 1)
        .join(per_o, "l_orderkey")
        .where((F.col("_n_supps") >= 2) & (F.col("_n_late") == 1))
    )
    return (
        qual.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(15)
    )


Q74_SQL = """
WITH j AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS late FROM j GROUP BY 1, 2
), per_o AS (
  SELECT l_orderkey, COUNT(*) AS n_supps, SUM(late) AS n_late
  FROM per_os GROUP BY 1
)
SELECT s.s_name, COUNT(*) AS numwait
FROM per_os p
JOIN per_o q ON p.l_orderkey = q.l_orderkey
JOIN supplier s ON p.l_suppkey = s.s_suppkey
WHERE p.late = 1 AND q.n_supps >= 2 AND q.n_late = 1
GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 15
"""


def q69_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (operators.graph.pagerank) over the directed
    supplier-nation → customer-nation trade graph, revenue-weighted,
    3 fixed iterations — the canonical iterative join-aggregate
    pattern (two keyed shuffles per round, dangling mass folded in via
    a 1-row broadcast, nothing through the driver). Edge weights stay
    exact decimals through the out-weight sum so the normalized
    fractions are engine-reproducible; the oracle unrolls the same 3
    rounds in CTEs and the ranks hash-match at 6dp."""
    from paqarin_spark.operators import pagerank

    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    edges = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(30,10)")
            ).alias("volume")
        )
    )
    ranks = pagerank(
        edges, src="supp_nation", dst="cust_nation", weight="volume", iterations=3
    )
    return ranks.select(
        "node", F.round("rank", 6).alias("rank")
    ).orderBy("node")


Q69_SQL = """
WITH e AS (
  SELECT n1.n_name AS s, n2.n_name AS d,
         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10)))
           AS w
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  GROUP BY 1, 2
), nodes AS (
  SELECT DISTINCT nn FROM (SELECT s AS nn FROM e UNION SELECT d FROM e)
), nc AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), ow AS (
  SELECT s, SUM(w) AS ow FROM e GROUP BY 1
), f AS (
  SELECT e.s, e.d, CAST(e.w AS DOUBLE) / CAST(ow.ow AS DOUBLE) AS frac
  FROM e JOIN ow USING (s)
), r0 AS (
  SELECT nn AS node, 1.0 / n AS rank FROM nodes CROSS JOIN nc
), i1 AS (
  SELECT d, SUM(r.rank * f.frac) AS infl FROM f JOIN r0 r ON f.s = r.node
  GROUP BY 1
), d1 AS (
  SELECT COALESCE(SUM(rank), 0) AS dm FROM r0
  WHERE node NOT IN (SELECT s FROM ow)
), r1 AS (
  SELECT nn AS node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         + CAST(0.85 AS DOUBLE) * (COALESCE(infl, 0) + dm / n) AS rank
  FROM nodes LEFT JOIN i1 ON nn = i1.d CROSS JOIN d1 CROSS JOIN nc
), i2 AS (
  SELECT d, SUM(r.rank * f.frac) AS infl FROM f JOIN r1 r ON f.s = r.node
  GROUP BY 1
), d2 AS (
  SELECT COALESCE(SUM(rank), 0) AS dm FROM r1
  WHERE node NOT IN (SELECT s FROM ow)
), r2 AS (
  SELECT nn AS node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         + CAST(0.85 AS DOUBLE) * (COALESCE(infl, 0) + dm / n) AS rank
  FROM nodes LEFT JOIN i2 ON nn = i2.d CROSS JOIN d2 CROSS JOIN nc
), i3 AS (
  SELECT d, SUM(r.rank * f.frac) AS infl FROM f JOIN r2 r ON f.s = r.node
  GROUP BY 1
), d3 AS (
  SELECT COALESCE(SUM(rank), 0) AS dm FROM r2
  WHERE node NOT IN (SELECT s FROM ow)
), r3 AS (
  SELECT nn AS node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         + CAST(0.85 AS DOUBLE) * (COALESCE(infl, 0) + dm / n) AS rank
  FROM nodes LEFT JOIN i3 ON nn = i3.d CROSS JOIN d3 CROSS JOIN nc
)
SELECT node, ROUND(rank, 6) AS rank FROM r3 ORDER BY node
"""


def em13_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style TRUNCATION audit: recall@5 of brute-force
    top-k computed on the 16-dim embedding PREFIX against the full
    64-dim baseline — the measurement a pipeline runs before shipping
    truncated embeddings to cut index cost 4×. Both sides reuse the
    exact block-matrix kernel (em1), so the audit itself is
    value-checked. Output: one row (n_queries, avg_recall)."""
    from paqarin_spark.operators import cosine_topk

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    full_topk = cosine_topk(emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    trunc_topk = cosine_topk(trunc, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    hits = (
        full_topk.join(trunc_topk, on=["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    per_q = full_topk.groupBy("query_id").agg(F.count(F.lit(1)).alias("_k"))
    recall = per_q.join(hits, on="query_id", how="left").select(
        F.coalesce(F.col("_h"), F.lit(0)).alias("_h"), "_k"
    )
    # constant k ⇒ mean-of-ratios == pooled SUM(h)/SUM(k); exact
    # micro-unit display (see em10's note — same round-12 tie sweep)
    _num = (
        F.lit(2) * F.sum("_h").cast("decimal(38,0)") * F.lit(1000000)
        + F.sum("_k")
    ).cast("double")
    _den = (F.lit(2) * F.sum("_k")).cast("double")
    return recall.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.floor(_num / _den).cast("double") / F.lit(1000000.0)).alias(
            "avg_recall"
        ),
    )


_EM13_TRUNC_TOPK = """
WITH v AS (
  SELECT vec_id,
         list_transform(list_slice(embedding, 1, 16),
                        x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, 17), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 17), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 17), i -> b.e[i] * b.e[i])))),
           6) AS cos_sim
  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM pairs
) WHERE rk <= 5
"""

EM13_SQL = f"""
WITH fullk AS ({EM1_SQL.replace("ORDER BY query_id, neighbor_id", "")}),
trunck AS ({_EM13_TRUNC_TOPK}),
hits AS (
  SELECT f.query_id, COUNT(*) AS h
  FROM fullk f JOIN trunck t
    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
  GROUP BY 1
), per_q AS (
  SELECT query_id, CAST(COUNT(*) AS DOUBLE) AS k FROM fullk GROUP BY 1
)
SELECT COUNT(*) AS n_queries,
       CAST(FLOOR(CAST(2 * SUM(COALESCE(h.h, 0)) * 1000000 + SUM(p.k) AS DOUBLE)
                  / CAST(2 * SUM(p.k) AS DOUBLE)) AS DOUBLE)
         / 1000000.0 AS avg_recall
FROM per_q p LEFT JOIN hits h ON p.query_id = h.query_id
"""


def em15_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE retrieval — the RAG shape em1's self-join is not:
    a disjoint query set (every 10th vector) searches the remaining
    corpus for its exact top-3 by cosine, via the same block-matrix
    BLAS kernel (cosine_topk's ``queries`` side). The block pairing
    streams Q-blocks × C-blocks, so the query table can be tiny (one
    block) while the corpus fans wide — at 100 TB that is a broadcast
    -shaped probe of queries against corpus blocks with per-block
    top-k and a ≤B·k-candidate global rank. Value-verified against
    the exact SQL cross join."""
    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    queries_df = emb.where(F.col("vec_id") % 10 == 0)
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    return cosine_topk(corpus, "vec_id", "embedding", k=3, queries=queries_df)


EM15_SQL = """
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id % 10 = 0
), c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id % 10 <> 0
), pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))),
           6) AS cos_sim
  FROM q a CROSS JOIN c b
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM pairs
) WHERE rk <= 3 ORDER BY query_id, neighbor_id
"""


def em14_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's K-MEANS over the embedding corpus
    (operators.similarity.kmeans_lloyd, k=4, 2 fixed rounds, md5-rank
    init) — the coarse-quantizer TRAINING step that em4/em8's IVF
    index assumes as given, now implemented and value-verified: fixed
    iteration count + 6dp-rounded M-steps make every assignment and
    centroid bit-replayable, so the oracle unrolls both E/M rounds in
    CTEs (the pagerank contract applied to clustering). Per-round
    cost: one broadcast join against the k×d centroid table (the
    vector side never shuffles for assignment) + one cluster-keyed
    mean. Output: per-cluster size and mean squared distance."""
    from paqarin_spark.operators import kmeans_lloyd

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    assign, _ = kmeans_lloyd(
        emb, "vec_id", "embedding", k=4, iterations=2, assignment="expr"
    )
    return (
        assign.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("_d2"), 6).alias("avg_d2"),
        )
        .orderBy("cluster")
    )


EM14_SQL = """
WITH v AS (
  SELECT vec_id, u.dim, u.x FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           UNNEST(embedding)::DOUBLE AS x
  ) u
), init AS (
  SELECT ROW_NUMBER() OVER (
           ORDER BY md5('kmeans#' || CAST(vec_id AS VARCHAR) || '#5')
         ) - 1 AS cluster,
         vec_id
  FROM embeddings
  ORDER BY md5('kmeans#' || CAST(vec_id AS VARCHAR) || '#5') LIMIT 4
), c0 AS (
  SELECT i.cluster, v.dim, v.x AS c
  FROM init i JOIN v ON v.vec_id = i.vec_id
), d1 AS (
  SELECT v.vec_id, c.cluster,
         CAST(SUM(CAST((v.x - c.c) * (v.x - c.c) AS DECIMAL(30,10)))
              AS DOUBLE) AS d2
  FROM v JOIN c0 c ON v.dim = c.dim GROUP BY 1, 2
), a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster)
             AS rk
    FROM d1
  ) WHERE rk = 1
), c1 AS (
  SELECT a.cluster, v.dim,
         ROUND(CAST(SUM(CAST(v.x AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM v JOIN a1 a ON v.vec_id = a.vec_id GROUP BY 1, 2
), d2_ AS (
  SELECT v.vec_id, c.cluster,
         CAST(SUM(CAST((v.x - c.c) * (v.x - c.c) AS DECIMAL(30,10)))
              AS DOUBLE) AS d2
  FROM v JOIN c1 c ON v.dim = c.dim GROUP BY 1, 2
), a2 AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT vec_id, cluster, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster)
             AS rk
    FROM d2_
  ) WHERE rk = 1
)
SELECT cluster, COUNT(*) AS n_vecs, ROUND(AVG(d2), 6) AS avg_d2
FROM a2 GROUP BY 1 ORDER BY 1
"""


def q70_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (operators.cdc.scd2_intervals):
    collapse each user's per-day activity LEVEL (count bands) into
    validity intervals — one row per run of equal states, valid_to =
    start of the next run, NULL = current. Both window passes share
    one key exchange."""
    from paqarin_spark.operators import scd2_intervals

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("_n"))
    state = (
        F.when(F.col("_n") < 3, F.lit("low"))
        .when(F.col("_n") <= 5, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    leveled = daily.select("user_id", "bucket", state.alias("level"))
    out = scd2_intervals(leveled, ["user_id"], "bucket", "level")
    return out.select(
        "user_id",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "level",
    ).orderBy("user_id", "valid_from")


Q70_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS bucket, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), leveled AS (
  SELECT user_id, bucket,
         CASE WHEN n < 3 THEN 'low' WHEN n <= 5 THEN 'mid'
              ELSE 'high' END AS level
  FROM daily
), marked AS (
  SELECT *,
         (level IS DISTINCT FROM
            LAG(level) OVER (PARTITION BY user_id ORDER BY bucket)
          OR ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY bucket) = 1)
           AS chg
  FROM leveled
), runs AS (
  SELECT user_id, bucket AS valid_from,
         LEAD(bucket) OVER (PARTITION BY user_id ORDER BY bucket)
           AS valid_to,
         level
  FROM marked WHERE chg
)
SELECT user_id,
       strftime(valid_from, '%Y-%m-%d') AS valid_from,
       strftime(valid_to, '%Y-%m-%d') AS valid_to,
       level
FROM runs ORDER BY user_id, valid_from
"""


def q71_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins CDC merge (operators.cdc.apply_cdc — the batch form
    of MERGE INTO): the event stream is read as a change log per user
    ('error' = delete, anything else = upsert); the snapshot keeps
    each user's highest-version record unless it is a delete. One
    exchange on the key."""
    from paqarin_spark.operators import apply_cdc

    ev = _events(spark, sf_dir)
    changes = ev.select(
        "user_id",
        "value",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    snap = apply_cdc(
        changes, ["user_id"], ["ts", "event_id"], "op", delete_op="delete"
    )
    return snap.select(
        "user_id",
        F.round("value", 6).alias("value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    ).orderBy("user_id")


Q71_SQL = """
WITH ranked AS (
  SELECT user_id, value, ts, event_id,
         CASE WHEN event_type = 'error' THEN 'delete'
              ELSE 'upsert' END AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ROUND(value, 6) AS value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
FROM ranked WHERE rn = 1 AND op <> 'delete'
ORDER BY user_id
"""


def q72_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset SPLIT manifest — the train/val/test
    assignment step of a dataset release: each document lands in a
    split by md5-uniform (train <0.8, val <0.9, else test), and the
    manifest reports per-split counts, token totals, and an
    order-insensitive content digest (sum of per-doc hashes — the
    manifest a consumer uses to verify a shard set without reading
    order). Pure filter + one tiny aggregate; the assignment is
    reproducible on any cluster layout, like tx27."""
    docs = _docs(spark, sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit("split"), F.col("doc_id"))), 1, 15
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    split = (
        F.when(u < 0.8, F.lit("train"))
        .when(u < 0.9, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    from paqarin_spark.operators.dedup import tokens

    return (
        docs.select(
            split.alias("split"),
            F.size(tokens(F.col("text"))).alias("_nt"),
            F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
            .cast("decimal(38,0)")
            .alias("_h"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("n_tokens"),
            # fold the exact decimal sum into int64 range (mod 2^61)
            # so both engines surface the digest as a plain BIGINT
            (F.sum("_h").cast("decimal(38,0)") % F.lit(1 << 61))
            .cast("bigint")
            .alias("content_digest"),
        )
        .orderBy("split")
    )


Q72_SQL = """
WITH assigned AS (
  SELECT CASE
           WHEN ('0x' || substring(md5('split#' || CAST(doc_id AS VARCHAR)),
                 1, 15))::UBIGINT / 1152921504606846976.0 < 0.8 THEN 'train'
           WHEN ('0x' || substring(md5('split#' || CAST(doc_id AS VARCHAR)),
                 1, 15))::UBIGINT / 1152921504606846976.0 < 0.9 THEN 'val'
           ELSE 'test' END AS split,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt,
         CAST(('0x' || substring(md5(text), 1, 15))::UBIGINT
              AS DECIMAL(38,0)) AS h
  FROM documents
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(h) AS DECIMAL(38,0)) % 2305843009213693952
            AS BIGINT) AS content_digest
FROM assigned GROUP BY split ORDER BY split
"""


def q73_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch per event type
    (operators.sketch.hll_estimate, p=10) next to the exact count —
    the mergeable-register construction every petabyte profiler uses
    where countDistinct's exact shuffle would be the bottleneck. The
    register assignment is portable md5 bit arithmetic, so the sketch
    VALUE (not just its error bound) replays in SQL: idx = top 10
    hash bits, rho = leading-zero rank via integer bin()-length (no
    float log edge cases), harmonic estimate + linear-counting
    correction expression for expression."""
    from paqarin_spark.operators import hll_estimate

    ev = _events(spark, sf_dir)
    est = hll_estimate(ev, "user_id", p=10, group_by=["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_users",
            F.round("n_distinct_est", 4).alias("est_users"),
        )
        .orderBy("event_type")
    )


Q73_SQL = """
WITH h AS (
  SELECT event_type,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
           AS hv
  FROM events
), reg AS (
  SELECT event_type, hv // 1125899906842624 AS idx,
         MAX(CASE WHEN hv % 1125899906842624 = 0 THEN 51
                  ELSE 50 - length(bin(hv % 1125899906842624)) + 1 END) AS r
  FROM h GROUP BY 1, 2
), agg AS (
  SELECT event_type, COUNT(*) AS nobs, SUM(power(2.0, -r)) AS sobs
  FROM reg GROUP BY 1
), est AS (
  SELECT event_type,
         (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
           / (sobs + CAST(1024 - nobs AS DOUBLE)) AS raw,
         1024 - nobs AS v
  FROM agg
), ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1
)
SELECT e.event_type, x.n_users,
       ROUND(CASE WHEN e.raw <= 2560.0 AND e.v > 0
                  THEN 1024.0 * ln(1024.0 / CAST(e.v AS DOUBLE))
                  ELSE e.raw END, 4) AS est_users
FROM est e JOIN ex x ON e.event_type = x.event_type
ORDER BY 1
"""


def tx33_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter estimation (operators.sketch): the
    corpus token stream folds into a 4×512 counter table (one
    groupBy, output bounded by the sketch size at ANY corpus scale),
    then the true top-20 tokens probe it — estimate = min over rows,
    an overestimate by construction. Counters and probes share the
    portable md5 bucket hash, so the estimates themselves
    hash-match; the counter table broadcasts to the probe side."""
    from paqarin_spark.operators import count_min_estimates
    from paqarin_spark.operators.dedup import tokens as _tokens

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
    true_counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_true"))
    cands = true_counts.orderBy(F.col("n_true").desc(), "token").limit(20)
    est = count_min_estimates(toks, "token", cands, "token", depth=4, width=512)
    return (
        cands.join(est, "token")
        .select("token", "n_true", "cm_estimate")
        .orderBy(F.col("n_true").desc(), "token")
    )


TX33_SQL = f"""
WITH toks AS (
  SELECT UNNEST({_TOKS_SQL}) AS token FROM documents
), tc AS (
  SELECT token, COUNT(*) AS n_true FROM toks GROUP BY 1
), cands AS (
  SELECT token, n_true FROM tc ORDER BY n_true DESC, token LIMIT 20
), rows_ AS (
  SELECT UNNEST(range(4)) AS row
), counters AS (
  SELECT r.row,
         ('0x' || substring(md5(r.row || '#' || t.token), 1, 15))::UBIGINT
           % 512 AS bucket,
         COUNT(*) AS counter
  FROM toks t CROSS JOIN rows_ r
  GROUP BY 1, 2
), probes AS (
  SELECT c.token, c.n_true, r.row,
         ('0x' || substring(md5(r.row || '#' || c.token), 1, 15))::UBIGINT
           % 512 AS bucket
  FROM cands c CROSS JOIN rows_ r
)
SELECT p.token, p.n_true, CAST(MIN(co.counter) AS BIGINT) AS cm_estimate
FROM probes p JOIN counters co ON p.row = co.row AND p.bucket = co.bucket
GROUP BY 1, 2 ORDER BY n_true DESC, token
"""


def tx34_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document by mean
    negative log probability under a corpus-self BIGRAM model
    (add-0.5 smoothing over the observed vocabulary) and split the
    corpus into head/middle/tail terciles — the quality-stratified
    mixture step of a pretraining pipeline. Two token-keyed
    aggregations (bigram and context counts), one join back, an
    ntile over (rounded score, doc_id) so the bucket boundary is
    deterministic cross-engine. Per-bucket output keeps the whole
    plan value-checkable.

    Scale note (same posture as q57's deciles, upgraded round 12):
    the tercile split runs through distributed_ntile — the exact
    global rank is reconstructed from per-bucket parallel ranks plus
    a constant-1024-row bucket-offset rollup, so no task sorts the
    whole per-doc score table. Bit-identical to the single-window
    NTILE the oracle replays (approx-quantile cutoffs — CCNet's
    actual construction — were rejected because they are not
    bit-portable across engines)."""
    from paqarin_spark.operators.dedup import tokens as _tokens

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        "doc_id",
        F.lag("token").over(w).alias("prev"),
        F.col("token").alias("cur"),
    ).where(F.col("prev").isNotNull())
    c2 = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = bi.groupBy("prev").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = toks.select("token").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("_v")
    )
    scored = (
        bi.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(
                    -F.log(
                        (F.col("_c2") + F.lit(0.5))
                        / (F.col("_c1") + F.lit(0.5) * F.col("_v"))
                    )
                ),
                9,
            ).alias("_score")
        )
    )
    from paqarin_spark.operators import distributed_ntile

    bucketed = distributed_ntile(
        scored, ["_score", "doc_id"], 3, tile_column="bucket"
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_score"), 6).alias("avg_neg_logprob"),
        )
        .orderBy("bucket")
    )


TX34_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.token, t.pos
  FROM documents, LATERAL (
    SELECT UNNEST({_TOKS_SQL}) AS token,
           generate_subscripts({_TOKS_SQL}, 1) AS pos
  ) t
), bi AS (
  SELECT doc_id,
         LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
         token AS cur
  FROM toks
  QUALIFY prev IS NOT NULL
), c2 AS (
  SELECT prev, cur, COUNT(*) AS c2 FROM bi GROUP BY 1, 2
), c1 AS (
  SELECT prev, COUNT(*) AS c1 FROM bi GROUP BY 1
), vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v FROM toks
), scored AS (
  SELECT b.doc_id,
         ROUND(AVG(-ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * vocab.v))), 9)
           AS score
  FROM bi b
  JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
  JOIN c1 ON b.prev = c1.prev
  CROSS JOIN vocab
  GROUP BY 1
), bucketed AS (
  SELECT doc_id, score,
         NTILE(3) OVER (ORDER BY score, doc_id) AS bucket
  FROM scored
)
SELECT bucket, COUNT(*) AS n_docs,
       ROUND(AVG(score), 6) AS avg_neg_logprob
FROM bucketed GROUP BY 1 ORDER BY 1
"""


def tx35_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis,
    exponential-clocks form): draw 40 documents with probability
    proportional to length (n_chars) via key = -ln(u)/w over portable
    md5 uniforms — the deterministic heavy-docs-first draw a mixture
    builder uses where naive rand() sampling breaks reproducibility
    across retries. The global sort sees only (id, key) pairs
    (TakeOrderedAndProject); output is the sampled ids with their
    weights."""
    from paqarin_spark.operators import weighted_sample

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    picked = weighted_sample(docs, "doc_id", "n_chars", k=40, seed=7)
    return (
        picked.join(docs.select("doc_id", "n_chars"), "doc_id")
        .orderBy("doc_id")
    )


TX35_SQL = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         -ln(('0x' || substring(md5('wsample#' || CAST(doc_id AS VARCHAR)
               || '#7'), 1, 15))::UBIGINT / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE) AS k
  FROM documents
  WHERE n_chars > 0
  ORDER BY k LIMIT 40
) ORDER BY doc_id
"""


def ev5_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-checked forecaster evaluation (the I5/J4 math itself,
    where ev2/ev3's TSTR orchestrations are rows-only): hold out the
    last 7 days of the real daily panel, fit the weekday-profile
    forecaster on the train split, predict the holdout, and report
    per-user MAE. Every step — calendar fill, weekday multipliers,
    recent-history base levels, horizon MAE — replays in SQL, so the
    evaluation arithmetic is hash-verified end to end."""
    from paqarin_spark.metrics.univariate import (
        ITEM_ID,
        TARGET,
        TIMESTAMP,
        GlobalWeekdayProfileForecaster,
    )
    from paqarin_spark.operators import calendar_fill

    ev = _events(spark, sf_dir)
    panel = calendar_fill(ev, EVENTS_SCHEMA, bucket_column="bucket").select(
        F.col("user_id").alias(ITEM_ID),
        F.col("bucket").alias(TIMESTAMP),
        F.col("value").alias(TARGET),
    )
    cutoff = panel.agg(
        F.date_sub(F.max(TIMESTAMP), 7).cast("timestamp").alias("_c")
    )
    with_cut = panel.crossJoin(F.broadcast(cutoff))
    train = with_cut.where(F.col(TIMESTAMP) <= F.col("_c")).drop("_c")
    test = with_cut.where(F.col(TIMESTAMP) > F.col("_c")).drop("_c")
    fc = GlobalWeekdayProfileForecaster().fit(train)
    pred = fc.predict(train, test.select(ITEM_ID, TIMESTAMP))
    joined = pred.join(test, on=[ITEM_ID, TIMESTAMP])
    return (
        joined.groupBy(ITEM_ID)
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.avg(F.abs(F.col("target_pred") - F.col(TARGET))), 6
            ).alias("mae"),
        )
        .select(F.col(ITEM_ID).alias("user_id"), "n_days", "mae")
        .orderBy("user_id")
    )


# Shared replay building blocks for the ev oracles: the real daily
# panel + 7-day holdout (EV5/EV2/EV3) and the two generators'
# deterministic-sample CTEs (EV2/EV3, parameterized by seed — the
# per-iteration seed is seed + 101*it). One copy: a change to
# calendar fill, holdout width, or the draw contract edits every
# oracle at once.
_EV_PANEL_CORE = """WITH cal AS (
  SELECT unnest(generate_series(
           date_trunc('day', (SELECT MIN(ts) FROM events)),
           date_trunc('day', (SELECT MAX(ts) FROM events)),
           INTERVAL 1 DAY)) AS d
), ids AS (
  SELECT DISTINCT user_id FROM events
), agg AS (
  SELECT user_id, date_trunc('day', ts) AS d, SUM(value) AS v
  FROM events GROUP BY 1, 2
), panel AS (
  SELECT i.user_id, c.d, COALESCE(a.v, 0) AS v
  FROM ids i CROSS JOIN cal c
  LEFT JOIN agg a ON a.user_id = i.user_id AND a.d = c.d
), cut AS (
  SELECT MAX(d) - INTERVAL 7 DAY AS c FROM panel
), train AS (
  SELECT * FROM panel WHERE d <= (SELECT c FROM cut)"""


def _ev_synth_sql(seed: int) -> str:
    return """), actuals AS (
  SELECT * FROM panel WHERE d > (SELECT c FROM cut)
), strt AS (
  SELECT MIN(d) AS s FROM train
), mm AS (
  SELECT MIN(v) AS mn, MAX(v) AS mx FROM panel
), r AS (
  SELECT user_id, v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) - 1 AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM panel
), wins AS (
  SELECT user_id, p AS w FROM r WHERE p <= cnt - 8
), steps AS (
  SELECT UNNEST(range(8)) AS step
), bs AS (
  SELECT 0 AS it, user_id, w FROM (
    SELECT user_id, w FROM wins
    ORDER BY md5(user_id || '|' || w || '#{seed}') LIMIT 30)
  UNION ALL
  SELECT 1, user_id, w FROM (
    SELECT user_id, w FROM wins
    ORDER BY md5(user_id || '|' || w || '#{seed_it1}') LIMIT 30)
), bvals AS (
  SELECT 'bootstrap' AS gen, b.it,
         b.user_id || '|' || b.w AS seq, s.step,
         (r2.v - mm.mn) / (mm.mx - mm.mn) * (mm.mx - mm.mn) + mm.mn AS tv
  FROM bs b CROSS JOIN steps s
  JOIN r r2 ON r2.user_id = b.user_id AND r2.p = b.w + s.step
  CROSS JOIN mm
), prof AS (
  SELECT s.step,
         AVG((r.v - mm.mn) / (mm.mx - mm.mn)) AS mean,
         COALESCE(STDDEV_POP((r.v - mm.mn) / (mm.mx - mm.mn)), 0) AS std
  FROM r JOIN steps s ON r.p >= s.step AND r.p <= r.cnt - 8 + s.step
  CROSS JOIN mm
  GROUP BY 1
), seqs AS (
  SELECT UNNEST(range(30)) AS sid
), gvals AS (
  SELECT 'gaussian' AS gen, i.it, CAST(q.sid AS VARCHAR) AS seq, pr.step,
         (pr.mean + pr.std *
           (sqrt(-2.0 * ln(GREATEST(
              ('0x' || substring(md5('gauss-u1#' || q.sid || '#' || pr.step
                 || '#0#' || ({seed} + 101 * i.it)), 1, 15))::UBIGINT
              / 1152921504606846976.0, 1e-18)))
            * cos(6.283185307179586 *
              ('0x' || substring(md5('gauss-u2#' || q.sid || '#' || pr.step
                 || '#0#' || ({seed} + 101 * i.it)), 1, 15))::UBIGINT
              / 1152921504606846976.0)))
         * (mm.mx - mm.mn) + mm.mn AS tv
  FROM (VALUES (0), (1)) i(it) CROSS JOIN seqs q CROSS JOIN prof pr
  CROSS JOIN mm
), synth AS (
  SELECT gen, it, seq, step, tv,
         ISODOW((SELECT s FROM strt) + step * INTERVAL 1 DAY) AS dow
  FROM (SELECT * FROM bvals UNION ALL SELECT * FROM gvals)
""".format(seed=seed, seed_it1=seed + 101)


EV5_SQL = _EV_PANEL_CORE + """), test AS (
  SELECT * FROM panel WHERE d > (SELECT c FROM cut)
), gmean AS (
  SELECT AVG(v) AS g FROM train
), prof AS (
  SELECT ISODOW(d) AS dow,
         CASE WHEN (SELECT g FROM gmean) <> 0
              THEN AVG(v) / (SELECT g FROM gmean) ELSE 1.0 END AS mult
  FROM train GROUP BY 1
), base AS (
  SELECT user_id, AVG(v) AS b FROM (
    SELECT user_id, v,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn
    FROM train
  ) WHERE rn <= 7 GROUP BY 1
), pred AS (
  SELECT t.user_id, t.d, t.v,
         COALESCE(b.b, 0) * COALESCE(p.mult, 1.0) AS yhat
  FROM test t
  LEFT JOIN base b ON t.user_id = b.user_id
  LEFT JOIN prof p ON ISODOW(t.d) = p.dow
)
SELECT user_id,
       COUNT(*) AS n_days,
       ROUND(AVG(ABS(yhat - v)), 6) AS mae
FROM pred GROUP BY 1 ORDER BY 1
"""

EV2_SQL = _EV_PANEL_CORE + _ev_synth_sql(17) + """), gm AS (
  SELECT gen, it, AVG(tv) AS g FROM synth GROUP BY 1, 2
), mult AS (
  SELECT s.gen, s.it, s.dow,
         CASE WHEN m.g <> 0 THEN AVG(s.tv) / m.g ELSE 1.0 END AS mult
  FROM synth s JOIN gm m ON s.gen = m.gen AND s.it = m.it
  GROUP BY s.gen, s.it, s.dow, m.g
), base AS (
  SELECT user_id, AVG(v) AS b FROM (
    SELECT user_id, v,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn
    FROM train
  ) WHERE rn <= 7 GROUP BY 1
), combos AS (
  SELECT DISTINCT gen, it FROM synth
), preds AS (
  SELECT c.gen, c.it, a.user_id, a.d, a.v,
         COALESCE(b.b, 0) * COALESCE(mu.mult, 1.0) AS yhat
  FROM actuals a CROSS JOIN combos c
  LEFT JOIN base b ON a.user_id = b.user_id
  LEFT JOIN mult mu ON mu.gen = c.gen AND mu.it = c.it
        AND mu.dow = ISODOW(a.d)
), scores AS (
  SELECT gen, it, AVG(ABS(yhat - v)) AS mae FROM preds GROUP BY 1, 2
), rgm AS (
  SELECT AVG(v) AS g FROM train
), rmult AS (
  SELECT ISODOW(d) AS dow,
         CASE WHEN (SELECT g FROM rgm) <> 0
              THEN AVG(v) / (SELECT g FROM rgm) ELSE 1.0 END AS mult
  FROM train GROUP BY 1
), rscore AS (
  SELECT AVG(ABS(COALESCE(b.b, 0) * COALESCE(mu.mult, 1.0) - a.v)) AS mae
  FROM actuals a
  LEFT JOIN base b ON a.user_id = b.user_id
  LEFT JOIN rmult mu ON mu.dow = ISODOW(a.d)
)
SELECT generator, avg_forecast_mae, std_forecast_mae FROM (
  SELECT gen AS generator,
         ROUND(AVG(mae), 6) AS avg_forecast_mae,
         ROUND(STDDEV_POP(mae), 6) AS std_forecast_mae
  FROM scores GROUP BY 1
  UNION ALL
  SELECT 'train_on_real', ROUND((SELECT mae FROM rscore), 6), 0.0
) ORDER BY generator
"""

EV3_SQL = _EV_PANEL_CORE + _ev_synth_sql(23) + """), drift AS (
  SELECT gen, it, AVG(tv - ptv) AS dr FROM (
    SELECT gen, it, seq, tv,
           LAG(tv) OVER (PARTITION BY gen, it, seq ORDER BY step) AS ptv
    FROM synth
  ) WHERE ptv IS NOT NULL GROUP BY 1, 2
), lvl AS (
  SELECT gen, it, seq, AVG(tv) AS l FROM synth GROUP BY 1, 2, 3
), offs AS (
  SELECT s.gen, s.it, s.dow, AVG(s.tv - l.l) AS off
  FROM synth s JOIN lvl l
    ON s.gen = l.gen AND s.it = l.it AND s.seq = l.seq
  GROUP BY 1, 2, 3
), anchor AS (
  SELECT user_id, AVG(v) AS lvl, MAX(d) AS last_d, COUNT(*) AS n FROM (
    SELECT user_id, v, d,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn
    FROM train
  ) WHERE rn <= 7 GROUP BY 1
), combos AS (
  SELECT DISTINCT gen, it FROM synth
), preds AS (
  SELECT c.gen, c.it, a.user_id, a.v,
         COALESCE(an.lvl, 0)
         + dr.dr * (CAST(COALESCE(date_diff('day', an.last_d, a.d), 0)
                         AS DOUBLE)
                    + (COALESCE(an.n, 1) - 1) / 2.0)
         + COALESCE(o.off, 0) AS yhat
  FROM actuals a CROSS JOIN combos c
  JOIN drift dr ON dr.gen = c.gen AND dr.it = c.it
  LEFT JOIN anchor an ON a.user_id = an.user_id
  LEFT JOIN offs o ON o.gen = c.gen AND o.it = c.it
        AND o.dow = ISODOW(a.d)
), scores AS (
  SELECT gen, it, AVG(ABS(yhat - v)) AS mae FROM preds GROUP BY 1, 2
), rdrift AS (
  SELECT AVG(v - pv) AS dr FROM (
    SELECT v, LAG(v) OVER (PARTITION BY user_id ORDER BY d) AS pv
    FROM train
  ) WHERE pv IS NOT NULL
), rlvl AS (
  SELECT user_id, AVG(v) AS l FROM train GROUP BY 1
), roffs AS (
  SELECT ISODOW(t.d) AS dow, AVG(t.v - l.l) AS off
  FROM train t JOIN rlvl l ON t.user_id = l.user_id GROUP BY 1
), rscore AS (
  SELECT AVG(ABS(
    COALESCE(an.lvl, 0)
    + (SELECT dr FROM rdrift)
      * (CAST(COALESCE(date_diff('day', an.last_d, a.d), 0) AS DOUBLE)
         + (COALESCE(an.n, 1) - 1) / 2.0)
    + COALESCE(o.off, 0) - a.v)) AS mae
  FROM actuals a
  LEFT JOIN anchor an ON a.user_id = an.user_id
  LEFT JOIN roffs o ON o.dow = ISODOW(a.d)
)
SELECT generator, avg_forecast_mae, std_forecast_mae FROM (
  SELECT gen AS generator,
         ROUND(AVG(mae), 6) AS avg_forecast_mae,
         ROUND(STDDEV_POP(mae), 6) AS std_forecast_mae
  FROM scores GROUP BY 1
  UNION ALL
  SELECT 'train_on_real', ROUND((SELECT mae FROM rscore), 6), 0.0
) ORDER BY generator
"""


# ev2's full TSTR replay: real daily panel -> 7-day holdout -> both
# generators' deterministic samples (md5 bootstrap ranks, md5
# Box-Muller gaussian draws, seeds 17 and 17+101 per iteration) ->
# per-combo weekday profiles fit on the SYNTHETIC panels -> horizon
# MAE on the real holdout -> per-generator avg/std plus the
# train-on-real control (same score both iterations, std exactly 0).


# ev3's replay: same panel/holdout/generator machinery as EV2_SQL
# (seeds 23/124) but the SECOND J4 pluggable — additive seasonal-naive
# with drift: per-combo mean consecutive-tick delta + per-weekday
# offsets from item levels, predictions anchored on each real item's
# recent level with the drift extrapolated from the window center
# (datediff + (7-1)/2).


# --------------------------------------------------------------------------
# Registry


# Registry order matters: the driver verifies exactly the FIRST 50
# entries per round. Round-3 window: (1) the round-2 additions
# tx15-tx19 and every NEW round-3 query — the only entries without a
# driver row yet; (2) regression-watch entries (q33/gen4/st2/st3 moved
# >2x in BENCH_r02) plus one representative per operator family so the
# driver re-checks each family against this round's regenerated
# testdata; (3) backfill from the round-1-verified set, whose last
# driver check is the oldest. Everything after position 50 has at
# least one green driver row from rounds 1-2 and stays covered by the
# local sf0.001/sf0.01 gate (tools/check_oracle.py).

def tx42_duplicate_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span detection (operators.dedup.
    duplicate_substring_spans) — Lee et al. 2022's substring dedup
    primitive: every maximal token interval whose 8-gram anchors ALL
    occur >= 2 times in the corpus (within-doc repeats count, as the
    paper's suffix array does). tx23 counts duplicated fixed-width
    spans; this finds the variable-length maximal duplicated
    substrings themselves.

    Scale shape: one anchor-keyed aggregation (partial agg bounds the
    shuffle by vocabulary) + a semi-join flag pass + one DOC-keyed
    islands window — no global sort, no suffix array."""
    from paqarin_spark.operators import duplicate_substring_spans

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    out = duplicate_substring_spans(docs, "text", "doc_id", min_tokens=8)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_len").cast("long").alias("span_len"),
    ).orderBy("doc_id", "span_start")


TX42_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM documents
), anch AS (
  SELECT doc_id, u.pos AS pos,
         array_to_string(list_slice(t, u.pos + 1, u.pos + 8), ' ') AS sh
  FROM toks, LATERAL (SELECT UNNEST(range(len(t) - 7)) AS pos) u
), dup AS (
  SELECT sh FROM anch GROUP BY sh HAVING COUNT(*) >= 2
), hits AS (
  SELECT a.doc_id, a.pos FROM anch a JOIN dup d ON d.sh = a.sh
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM hits)
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def tx43_exactsubstr_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL (operators.dedup.strip_duplicate_substrings)
    — the corpus rewrite of Lee et al. 2022: duplicated substrings are
    stripped from every occurrence except the globally-first one
    (keep-first by doc id, then position, decided per 8-gram anchor).
    Output per document: token count, removed-token count, and the md5
    of the rewritten text — the value-verifiable fingerprint without
    shipping full text through the comparator.

    Scale shape: keeper table is ONE partial-aggregatable groupBy
    (count + min-struct — no sort window over anchor content, so a
    viral anchor never serializes through one task); removal intervals
    merge to maximal islands BEFORE the position explode; reassembly
    is one doc-keyed aggregation."""
    from paqarin_spark.operators import strip_duplicate_substrings

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    return strip_duplicate_substrings(
        docs, "text", "doc_id", min_tokens=8
    ).orderBy("doc_id")


TX43_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM documents
), tokpos AS (
  SELECT doc_id, u.pos AS pos, t[u.pos + 1] AS tok
  FROM toks, LATERAL (SELECT UNNEST(range(len(t))) AS pos) u
), anch AS (
  SELECT doc_id, u.pos AS pos,
         array_to_string(list_slice(t, u.pos + 1, u.pos + 8), ' ') AS sh
  FROM toks, LATERAL (SELECT UNNEST(range(len(t) - 7)) AS pos) u
), removable AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rk
    FROM anch
  ) WHERE rk > 1
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM removable)
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
  FROM isl GROUP BY doc_id, island
), rm AS (
  SELECT doc_id, u.p AS pos
  FROM spans, LATERAL (SELECT UNNEST(generate_series(s, e)) AS p) u
), kept AS (
  SELECT t.doc_id, COUNT(*) AS n_kept,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS clean
  FROM tokpos t
  LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.pos = t.pos
  WHERE rm.pos IS NULL
  GROUP BY t.doc_id
)
SELECT x.doc_id,
       CAST(len(x.t) AS BIGINT) AS n_tokens,
       CAST(len(x.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(k.clean, '')) AS clean_md5
FROM toks x LEFT JOIN kept k ON k.doc_id = x.doc_id
ORDER BY x.doc_id
"""



def mm13_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-metadata harvest (multimodal.audio_meta_from_ids) — the
    audio-side header probe beside the image (JPEG/PNG/BMP/EXIF) and
    container (MP4) walks: even ids carry a REAL ID3v2.3 tag
    (syncsafe size, bounds-checked text frames), odd ids a REAL FLAC
    STREAMINFO block (the spec's 20/3/5/36-bit packed word), and
    extraction reads only the bytes back. The oracle predicts every
    tag from id arithmetic, so the output proves the header walks,
    not the plumbing. Arrow-batched linear pass, no shuffle — the
    pre-decode sharding step of a 100-TB audio ingest."""
    from paqarin_spark.multimodal import audio_meta_from_ids

    docs = _docs(spark, sf_dir)
    return audio_meta_from_ids(docs, "doc_id").orderBy("asset_id")


MM13_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN 'id3' ELSE 'flac' END AS container,
       CASE WHEN doc_id % 2 = 0
            THEN 'track-' || CAST(doc_id AS VARCHAR) END AS title,
       CASE WHEN doc_id % 2 = 0
            THEN 'artist-' || CAST(doc_id % 6 AS VARCHAR) END AS artist,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(2000 + doc_id % 25 AS INTEGER) END AS year,
       CASE WHEN doc_id % 2 = 1 THEN CAST(
         CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END
         AS INTEGER) END AS sample_rate,
       CASE WHEN doc_id % 2 = 1
            THEN CAST(doc_id % 4 + 1 AS INTEGER) END AS channels,
       CASE WHEN doc_id % 2 = 1 THEN CAST(
         CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END
         AS INTEGER) END AS bits_per_sample,
       CASE WHEN doc_id % 2 = 1
            THEN CAST(doc_id * 1000 + doc_id % 7 AS BIGINT)
            END AS total_samples
FROM documents
ORDER BY asset_id
"""



def st14_stream_view_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental-view maintenance — the stateful dual of
    q86's batch base+delta merge (streaming.stream_view_rollup):
    per-user state holds the exact running aggregate (count, scaled-
    integer decimal sum, max ts) and publishes corrected rows under a
    monotone version; the finisher takes max-version rows and applies
    the batch pipeline's decimal(30,10)→double→6dp arithmetic. The
    ORACLE is the plain GROUP BY full recompute over all events, so
    the hash match proves the streaming state converges to the exact
    batch view regardless of micro-batch boundaries or arrival order.

    Scale shape: state is ONE row per user, O(users) forever; each
    micro-batch pays one user-keyed exchange — the refresh cost a
    100-TB continuously-maintained rollup actually needs."""
    from paqarin_spark.streaming import (
        stream_view_rollup,
        view_from_emissions,
    )

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    emi = stream_view_rollup(stream)
    name = "st14_stream_view_rollup"
    sink = _run_to_memory(
        spark, emi, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return view_from_emissions(sink).orderBy("user_id")


ST14_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CASE WHEN isnan(value) THEN NULL
                           ELSE CAST(value AS DECIMAL(30,10)) END)
                  AS DOUBLE), 6)
         AS sum_value,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
FROM events
GROUP BY user_id
ORDER BY user_id
"""



def q92_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): histogram of customers
    by how many qualifying (non-urgent) orders they placed, INCLUDING
    the zero bucket — the left-outer-join-then-double-aggregate shape
    Q13 exists to test (an inner join would silently drop the
    customers with no orders, usually the biggest bucket).

    Scale shape: one left join keyed on custkey (the filter prunes
    the probe side before the join), then two partial-aggregatable
    groupBys — counts only, no float arithmetic anywhere."""
    configure_for_determinism(spark)
    return tpch.q13_custorder_distribution(
        spark, sf_dir, exclude=~F.col("o_orderpriority").startswith("1-")
    )


Q92_SQL = tpch.q13_sql(exclude_sql="o.o_orderpriority NOT LIKE '1-%'")


def q93_trade_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier trade graph
    (Newman 2002, "Assortative mixing in networks"): the Pearson
    correlation of endpoint degrees over all directed edges — do
    high-degree customers trade with high-degree suppliers? Completes
    the graph-analysis family (pagerank, components, triangles, BFS,
    k-core) with its standard structure METRIC.

    Determinism: every sum term is an INTEGER (degrees × degrees)
    accumulated in exact decimal(38,0) — bigint-domain sums of degree²
    per edge would overflow 2^63 well before 100-TB edge counts, while
    38 digits leave ~1e19× headroom (the q33/q69 exact-decimal
    pattern; the DuckDB mirror sums in HUGEINT, exact to the same
    width). Floats appear only in the final sqrt/divide, where both
    engines see identical exact inputs (< 2^53 at any tested SF) and
    IEEE sqrt/divide are correctly rounded.
    Scale shape: one distinct pair build, one
    degree groupBy, two keyed joins to label edge endpoints, one
    global aggregation — no windows, no collects."""
    from paqarin_spark.operators.graph import degree_assortativity

    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("b"),
        )
        .distinct()
    )
    return degree_assortativity(e, "a", "b")


Q93_SQL = """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), und AS (
  SELECT a AS src, b AS dst FROM e
  UNION ALL
  SELECT b AS src, a AS dst FROM e
), deg AS (
  SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src
), lab AS (
  SELECT CAST(dx.deg AS HUGEINT) AS dx, CAST(dy.deg AS HUGEINT) AS dy
  FROM und u
  JOIN deg dx ON dx.node = u.src
  JOIN deg dy ON dy.node = u.dst
)
SELECT COUNT(*) AS n_edges,
       ROUND(
         CAST(COUNT(*) * SUM(dx * dy) - SUM(dx) * SUM(dy) AS DOUBLE)
         / (SQRT(CAST(COUNT(*) * SUM(dx * dx) - SUM(dx) * SUM(dx) AS DOUBLE))
            * SQRT(CAST(COUNT(*) * SUM(dy * dy) - SUM(dy) * SUM(dy) AS DOUBLE))),
         6) AS assortativity
FROM lab
"""


def ev12_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift test over the event-type mix: the contingency
    of event_type × period (before/after Jan 20) and Pearson's X² —
    the categorical-distribution drift gate a generation pipeline runs
    beside the numeric TVD/KS/energy family (ev4/ev6/ev9). All counts
    are integers; expected counts and per-cell contributions are
    IEEE-deterministic from exact inputs, each cell's contribution is
    stabilized at 9dp and summed in EXACT decimal (cell count is
    bounded by the type alphabet, but the engines' float sum orders
    are not — the q33 decimal-sum discipline applied to a float)."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    split = F.lit("2024-01-20").cast("timestamp")
    cells = (
        ev.select(
            "event_type",
            F.when(F.col("ts") < split, F.lit("early"))
            .otherwise(F.lit("late"))
            .alias("period"),
        )
        .groupBy("event_type", "period")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    colz = cells.groupBy("period").agg(F.sum("o").alias("col_n"))
    grand = cells.agg(F.sum("o").alias("n"))
    contrib = (
        cells.join(rows, "event_type")
        .join(F.broadcast(colz), "period")
        .crossJoin(F.broadcast(grand))
        .select(
            (
                (
                    F.col("o")
                    - F.col("row_n") * F.col("col_n") / F.col("n")
                )
                * (
                    F.col("o")
                    - F.col("row_n") * F.col("col_n") / F.col("n")
                )
                / (F.col("row_n") * F.col("col_n") / F.col("n"))
            ).alias("c"),
            F.col("n"),
        )
    )
    return contrib.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(
            F.sum(F.round(F.col("c"), 9).cast("decimal(25,9)")).cast(
                "double"
            ),
            6,
        ).alias("chi2"),
    )


EV12_SQL = """
WITH cells AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 'early'
              ELSE 'late' END AS period,
         COUNT(*) AS o
  FROM events GROUP BY 1, 2
), rows_t AS (
  SELECT event_type, SUM(o) AS row_n FROM cells GROUP BY event_type
), cols_t AS (
  SELECT period, SUM(o) AS col_n FROM cells GROUP BY period
), grand AS (
  SELECT SUM(o) AS n FROM cells
), contrib AS (
  SELECT (c.o - r.row_n * p.col_n / g.n)
         * (c.o - r.row_n * p.col_n / g.n)
         / (r.row_n * p.col_n / g.n) AS c
  FROM cells c
  JOIN rows_t r ON r.event_type = c.event_type
  JOIN cols_t p ON p.period = c.period
  CROSS JOIN grand g
)
SELECT COUNT(*) AS n_cells,
       ROUND(CAST(SUM(CAST(ROUND(c, 9) AS DECIMAL(25,9))) AS DOUBLE), 6)
         AS chi2
FROM contrib
"""



def tx44_token_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over the corpus (operators.corpus.
    token_pair_lift): support/confidence/lift for co-occurring token
    pairs, the collocation/topic-leak audit a curation pipeline runs —
    market-basket statistics with document = basket. Every ratio is an
    exact-integer quotient evaluated once in double and rounded 6dp.

    Scale shape: the pair self-join is keyed on DOC id (fanout bounded
    by document length, never corpus size); token totals and the
    final stats joins stay unhinted so AQE broadcasts the dictionary
    only when it fits."""
    from paqarin_spark.operators import token_pair_lift

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    return token_pair_lift(
        docs, "text", "doc_id", min_pair_support=20
    ).orderBy("token_a", "token_b")


TX44_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, t.tok
  FROM documents,
  LATERAL (
    SELECT UNNEST(string_split(
      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
  ) t
  WHERE t.tok <> ''
), tok_df AS (
  SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), pairs AS (
  SELECT a.tok AS token_a, b.tok AS token_b, COUNT(*) AS n_pair
  FROM toks a JOIN toks b ON a.doc = b.doc AND a.tok < b.tok
  GROUP BY 1, 2
  HAVING COUNT(*) >= 20
)
SELECT p.token_a, p.token_b, ta.n_tok AS n_a, tb.n_tok AS n_b, p.n_pair,
       ROUND((p.n_pair * nd.n_docs) / (ta.n_tok * tb.n_tok), 6) AS lift,
       ROUND(p.n_pair / ta.n_tok, 6) AS confidence
FROM pairs p
JOIN tok_df ta ON ta.tok = p.token_a
JOIN tok_df tb ON tb.tok = p.token_b
CROSS JOIN nd
ORDER BY token_a, token_b
"""


def em21_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance matrix of the embedding corpus
    (operators.similarity.covariance_matrix) — the one-pass second-
    moment table behind whitening / PCA preprocessing / drift audits,
    as the upper-triangle long format (i, j, cov).

    Scale shape: dimension pairs materialize INSIDE each row (nested
    transform + one explode, no join); the only exchange carries
    d(d+1)/2 partial aggregates regardless of corpus size. COVAR_POP
    last-ulp noise hides behind the 6dp rounding (ev1 precedent)."""
    from paqarin_spark.operators import covariance_matrix

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return covariance_matrix(emb, "embedding").orderBy("i", "j")


EM21_SQL = """
WITH x AS (
  SELECT a.i, a.xi, b.j, b.xj
  FROM embeddings e,
  LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS i,
           UNNEST(embedding) AS xi
  ) a,
  LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS j,
           UNNEST(embedding) AS xj
  ) b
  WHERE a.i <= b.j
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       ROUND(COVAR_POP(xi, xj), 6) + 0.0 AS cov
FROM x GROUP BY i, j ORDER BY i, j
"""


def mm14_subtitle_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle-track harvest (multimodal.srt_stats_from_ids) — the
    caption-alignment parse a video-text pipeline runs on the text
    track: each id becomes a REAL SubRip document (sequential indices,
    strict 'HH:MM:SS,mmm --> HH:MM:SS,mmm' grammar, monotone cue
    starts) and extraction reads only the bytes back through the
    bounds-checked walk. Oracle replays the cue recipe from id
    arithmetic. Arrow-batched linear pass, no shuffle."""
    from paqarin_spark.multimodal import srt_stats_from_ids

    docs = _docs(spark, sf_dir)
    return srt_stats_from_ids(docs, "doc_id").orderBy("asset_id")


MM14_SQL = """
SELECT doc_id AS asset_id,
       CAST(doc_id % 3 + 1 AS INTEGER) AS n_cues,
       CAST(1500 * (doc_id % 3 + 1) AS BIGINT) AS total_ms,
       'line-' || CAST(doc_id AS VARCHAR) || '-1' AS first_text,
       CAST(doc_id * 1000 + (doc_id % 3 + 1) * 2000 + 1500 AS BIGINT)
         AS last_end_ms
FROM documents
ORDER BY asset_id
"""



def q94_dormant_rich_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): per nation, how many
    customers hold an above-average positive account balance whose last
    order predates 2000 (dormant), and their total balance. The Q22 trio of shapes in
    one plan: a scalar-subquery threshold (1-row broadcast cross
    join), an anti-join against orders, and a dim rollup. The
    threshold compare stays in EXACT decimal via cross-multiplication
    (balance·count vs sum — the q87 rule: never round a value that
    feeds a comparison).

    Scale shape: orders is pre-shrunk to distinct custkeys before the
    anti-join; nation is a broadcast dim; the scalar threshold is one
    aggregate row broadcast back."""
    configure_for_determinism(spark)
    return tpch.q22_dormant_rich(
        spark, sf_dir, order="n_name", distinct_orders=True, **_Q94_KNOBS
    )


_Q94_KNOBS = dict(
    cutoff="2000-01-01",
    threshold="crossmul_decimal",
    group="nation_name",
    group_alias="n_name",
    count_alias="numcust",
    sum_alias="totacctbal",
    dp=6,
)

Q94_SQL = tpch.q22_sql(**_Q94_KNOBS)


def q95_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier
    (one decimal-exact rollup of discounted lineitem revenue,
    l_shipdate in 1996-Q1) and the supplier(s) whose revenue EQUALS
    the maximum — the view-plus-self-aggregate shape Q15 tests. The
    max compare runs on the EXACT decimal totals (display rounding
    happens after), so a last-ulp tie can never pick different
    winners on different engines.

    Scale shape: lineitem is filtered at the scan, one l_suppkey
    exchange for the rollup, and the 1-row MAX broadcasts back; the
    supplier dim joins broadcast."""
    configure_for_determinism(spark)
    return tpch.q15_top_supplier(
        spark, sf_dir, order="s_suppkey", **_Q95_KNOBS
    )


_Q95_KNOBS = dict(rev_mode="decimal", rev_alias="total_revenue", dp=6)

Q95_SQL = tpch.q15_sql(**_Q95_KNOBS)


def gen7_quantile_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-quantile REMAP sampler — the rank-marginal half of a
    copula generator: per user, 8 synthetic values drawn by mapping
    md5-uniforms through the inverse empirical CDF (sample k of user u
    takes the ceil(u_k·n)-th order statistic of u's history). Every
    emitted value is an EXISTING double picked by exact index
    arithmetic — no float synthesis anywhere — so the generator is
    md5-portable like gen1/gen5 and the marginal distribution is the
    training marginal by construction.

    Scale shape: one per-user rollup (bounded panel history inside an
    array), samples explode from a literal sequence, no shuffle after
    the rollup."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    hist = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.col("value"))).alias("_vals"),
        F.count(F.lit(1)).alias("_n"),
    )
    samples = hist.select(
        "user_id",
        "_vals",
        "_n",
        F.explode(F.sequence(F.lit(1), F.lit(8))).alias("k"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("gen7#"),
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(1152921504606846976.0)
    )
    idx = F.greatest(F.lit(1), F.ceil(u * F.col("_n")).cast("int"))
    return samples.select(
        "user_id",
        "k",
        F.element_at("_vals", idx).alias("synth_value"),
    ).orderBy("user_id", "k")


GEN7_SQL = """
WITH hist AS (
  SELECT user_id,
         list(value ORDER BY value) AS vals,
         COUNT(*) AS n
  FROM events GROUP BY user_id
), samples AS (
  SELECT user_id, vals, n, k.k
  FROM hist, LATERAL (SELECT UNNEST(range(1, 9)) AS k) k
)
SELECT user_id, k,
       vals[GREATEST(1, CAST(CEIL(
         (('0x' || substring(
            md5('gen7#' || CAST(user_id AS VARCHAR) || '#'
                || CAST(k AS VARCHAR)), 1, 15))::UBIGINT
          / 1152921504606846976.0) * n) AS INTEGER))] AS synth_value
FROM samples
ORDER BY user_id, k
"""


def ev13_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U forecast-skill statistic per event type: the ratio of
    the lag-1 'no-change' RMSE to the raw signal RMS — U < 1 means the
    series is smoother than a random walk. Both squared sums are EXACT
    decimals (each squared double is 10dp-stabilized into decimal
    before summation, the q33 discipline), so sqrt of the exact ratio
    is the only float op and it is correctly rounded on both engines.

    Scale shape: one (type, user)-keyed window pass for the lag, one
    type-keyed rollup."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    lagged = ev.select(
        "event_type",
        F.col("value"),
        F.lag("value").over(w).alias("_prev"),
    ).where(F.col("_prev").isNotNull())
    err = lagged.select(
        "event_type",
        F.round(
            (F.col("value") - F.col("_prev"))
            * (F.col("value") - F.col("_prev")),
            10,
        )
        .cast("decimal(30,10)")
        .alias("_se"),
        F.round(F.col("value") * F.col("value"), 10)
        .cast("decimal(30,10)")
        .alias("_sv"),
    )
    return (
        err.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.sum("_se").alias("_sse"),
            F.sum("_sv").alias("_ssv"),
        )
        .select(
            "event_type",
            "n_steps",
            F.round(
                F.sqrt(
                    F.col("_sse").cast("double")
                    / F.col("_ssv").cast("double")
                ),
                6,
            ).alias("theil_u"),
        )
        .orderBy("event_type")
    )


EV13_SQL = """
WITH lagged AS (
  SELECT event_type, value,
         LAG(value) OVER (PARTITION BY event_type, user_id
                          ORDER BY ts, event_id) AS prev
  FROM events
), err AS (
  SELECT event_type,
         CAST(ROUND((value - prev) * (value - prev), 10)
              AS DECIMAL(30,10)) AS se,
         CAST(ROUND(value * value, 10) AS DECIMAL(30,10)) AS sv
  FROM lagged WHERE prev IS NOT NULL
)
SELECT event_type, COUNT(*) AS n_steps,
       ROUND(SQRT(CAST(SUM(se) AS DOUBLE) / CAST(SUM(sv) AS DOUBLE)), 6)
         AS theil_u
FROM err
GROUP BY event_type
ORDER BY event_type
"""



def q96_mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust
    location/scale pair (median, MAD) an outlier-resistant quality
    gate runs where mean/stddev (q08) would be poisoned by heavy
    tails. Both statistics are ORDER-STATISTIC PICKS (the smallest
    value at rank ceil(n/2), percentile_disc semantics): every output
    is an existing double or an exact double difference, so no
    arithmetic noise exists to round away.

    Scale note: exact per-group order statistics need a per-group
    sort (two window passes here); the sketch path for corpora where
    that sort cannot fit is q79's bounded quantile sketch — this
    query is the EXACT contract."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    w_ord = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_cnt = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(w_ord).alias("_rn"),
        F.count(F.lit(1)).over(w_cnt).alias("_cnt"),
    )
    med = ranked.where(
        F.col("_rn") == F.ceil(F.col("_cnt") / 2)
    ).select("event_type", F.col("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("med")).alias("_dev"),
    )
    w_dev = Window.partitionBy("event_type").orderBy("_dev", "event_id")
    mad = (
        dev.select(
            "event_type",
            "_dev",
            F.row_number().over(w_dev).alias("_rn"),
            F.count(F.lit(1)).over(w_cnt).alias("_cnt"),
        )
        .where(F.col("_rn") == F.ceil(F.col("_cnt") / 2))
        .select("event_type", F.col("_dev").alias("mad"))
    )
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.join(med, "event_type")
        .join(mad, "event_type")
        .select("event_type", "n", "med", "mad")
        .orderBy("event_type")
    )


Q96_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM events
), med AS (
  SELECT event_type, value AS med FROM ranked
  WHERE rn = CEIL(cnt / 2.0)
), dev AS (
  SELECT e.event_type, e.event_id, ABS(e.value - m.med) AS d
  FROM events e JOIN med m ON m.event_type = e.event_type
), dev_ranked AS (
  SELECT event_type, d,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY d, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM dev
), mad AS (
  SELECT event_type, d AS mad FROM dev_ranked
  WHERE rn = CEIL(cnt / 2.0)
)
SELECT c.event_type, c.n, med.med, mad.mad
FROM (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1) c
JOIN med ON med.event_type = c.event_type
JOIN mad ON mad.event_type = c.event_type
ORDER BY c.event_type
"""


def em22_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding corpus
    (operators.similarity.power_iteration) — dominant eigenvector +
    eigenvalue of the population covariance by 6 power-iteration
    rounds. The ORACLE unrolls the whole loop into stacked CTEs
    (12dp-stabilized decimal matvec sums, 6dp-rounded iterates — the
    kmeans/pagerank replay discipline), so the hash match proves the
    iteration arithmetic, not just the covariance pass.

    Scale shape: corpus touched once (the em21 covariance pass);
    every iteration is a d×d-bounded join chain, localCheckpointed."""
    from paqarin_spark.operators import power_iteration

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return power_iteration(emb, "embedding", iterations=6).orderBy("i")


def _em22_sql() -> str:
    cov = """
cov AS (
  SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
         ROUND(COVAR_POP(xi, xj), 6) + 0.0 AS cov
  FROM (
    SELECT a.i, a.xi, b.j, b.xj
    FROM embeddings e,
    LATERAL (
      SELECT generate_subscripts(embedding, 1) - 1 AS i,
             UNNEST(embedding) AS xi
    ) a,
    LATERAL (
      SELECT generate_subscripts(embedding, 1) - 1 AS j,
             UNNEST(embedding) AS xj
    ) b
    WHERE a.i <= b.j
  ) GROUP BY i, j
), mat AS (
  SELECT i, j, cov FROM cov
  UNION ALL
  SELECT j AS i, i AS j, cov FROM cov WHERE i <> j
), v0 AS (
  SELECT UNNEST(range(64)) AS j, 1.0 AS vj
)"""
    its = []
    for t in range(1, 7):
        its.append(f"""
w{t} AS (
  SELECT m.i,
         CAST(SUM(CAST(ROUND(m.cov * v.vj, 12) AS DECIMAL(30,12)))
              AS DOUBLE) AS wi
  FROM mat m JOIN v{t-1} v ON v.j = m.j
  GROUP BY m.i
), n{t} AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(wi * wi, 12) AS DECIMAL(38,12)))
              AS DOUBLE)) AS nrm
  FROM w{t}
), v{t} AS (
  SELECT w.i AS j, ROUND(w.wi / n.nrm, 6) AS vj
  FROM w{t} w CROSS JOIN n{t} n
)""")
    return (
        "WITH " + cov.strip() + "," + ",".join(its) + """
SELECT CAST(v.j AS INTEGER) AS i,
       v.vj + 0.0 AS loading,
       ROUND(n.nrm, 6) + 0.0 AS eigenvalue
FROM v6 v CROSS JOIN n6 n
ORDER BY i
"""
    )


EM22_SQL = _em22_sql()


def st15_stream_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING last-write-wins cache (streaming.
    stream_latest_per_key): per-user state keeps the single winning
    event under the (ts, event_id) total order — the upsert/
    materialized-KV pattern of a serving cache — publishing versioned
    corrections so the max-version view equals the batch "latest row
    per key" query regardless of arrival order. ORACLE: plain window
    rank over all events.

    Scale shape: one row of state per key, forever; one user-keyed
    exchange per micro-batch."""
    from paqarin_spark.streaming import (
        latest_from_emissions,
        stream_latest_per_key,
    )

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    emi = stream_latest_per_key(stream)
    name = "st15_stream_latest"
    sink = _run_to_memory(
        spark, emi, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return (
        latest_from_emissions(sink)
        .withColumnRenamed("k", "user_id")
        .orderBy("user_id")
    )


ST15_SQL = """
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
       event_id AS last_id,
       CASE WHEN isnan(value) THEN NULL
            ELSE ROUND(value, 6) END AS last_value
FROM (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
  -- symmetry with the streaming fold: rows with NULL ts/id have no
  -- place in the (ts, id) total order and are ignored there too
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
) WHERE rk = 1
ORDER BY user_id
"""



_EXIT_PATHS: set[str] = set()


def _remove_at_exit(path: str) -> None:
    """Register ``path`` for best-effort removal at interpreter exit
    (idempotent per path)."""
    import atexit
    import shutil

    if path in _EXIT_PATHS:
        return
    _EXIT_PATHS.add(path)
    atexit.register(lambda: shutil.rmtree(path, ignore_errors=True))


def _sweep_stale_staging(prefix: str) -> None:
    """Remove temp-dir staging dirs named ``<prefix>..._<pid>`` whose
    pid is no longer alive — bounds accumulation across crashed or
    killed runs to the set of LIVE processes."""
    import glob
    import shutil
    import tempfile

    for d in glob.glob(os.path.join(tempfile.gettempdir(), f"{prefix}*")):
        pid_part = d.rsplit("_", 1)[-1]
        if not pid_part.isdigit() or int(pid_part) == os.getpid():
            continue
        try:
            os.kill(int(pid_part), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave it


def _staging_dir(prefix: str, sf_dir: str) -> str:
    """Process-private staging dir ``<tmp>/<prefix><md5(sf_dir)>_<pid>``
    for a sink/source round-trip. The pid keeps two processes auditing
    or benching the same ``sf_dir`` from overwriting each other; repeat
    calls in ONE process get the same dir (overwrite write modes, or a
    reused checkpoint), dirs of dead pids are swept first, and this
    process's dir is removed at exit — staging never accumulates."""
    import hashlib
    import tempfile

    _sweep_stale_staging(prefix)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"{prefix}{tag}_{os.getpid()}")
    _remove_at_exit(path)
    return path


def q97_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink/source round-trip PROOF (ops A1/A3 beyond unit
    tests): events are written through sources.write_jsonl, read back
    through sources.read_jsonl with an explicit schema, and rolled up
    day × type — and the ORACLE aggregates the ORIGINAL parquet, so
    the hash match proves doubles and timestamps survive the text
    round-trip bit-exactly (shortest-repr JSON doubles re-parse to the
    identical binary, the property interchange corpora rely on).

    Scale shape: one partitioned JSON write + scan, one day×type
    rollup with decimal-exact sums; staging via :func:`_staging_dir`."""
    from paqarin_spark.sources import read_jsonl, write_jsonl

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    staged = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
    )
    path = _staging_dir("paqarin_q97_", sf_dir)
    write_jsonl(staged, path)
    back = read_jsonl(
        spark, path, schema="day string, event_type string, value double"
    )
    return (
        back.groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,10)")).cast("double"),
                6,
            ).alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


Q97_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def q98_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): in every
    multi-supplier order, if exactly ONE supplier shipped late
    (l_shipdate > o_orderdate + 60 days), that supplier takes the
    blame — Q21's exists/not-exists pair re-expressed as one per-order
    aggregate (distinct suppliers, distinct LATE suppliers, and the
    argmax-free single-late-supplier pick via conditional max), which
    shuffles the lineitem side exactly once on the order key.

    Scale shape: one orderkey join to fetch o_orderdate (orders is the
    smaller side), one orderkey-keyed aggregate, one supplier rollup;
    top-20 via TakeOrderedAndProject, never a global sort."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supp = read_table(spark, sf_dir, "supplier")
    lines = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("_late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("_n_supp"),
        F.count_distinct(
            F.when(F.col("_late"), F.col("l_suppkey"))
        ).alias("_n_late"),
        F.max(F.when(F.col("_late"), F.col("l_suppkey"))).alias("_blame"),
    )
    numwait = (
        per_order.where(
            (F.col("_n_supp") >= 2) & (F.col("_n_late") == 1)
        )
        .groupBy("_blame")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        numwait.join(supp, numwait._blame == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


Q98_SQL = """
WITH lines AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN late THEN l_suppkey END) AS blame
  FROM lines GROUP BY l_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM per_order p
JOIN supplier s ON s.s_suppkey = p.blame
WHERE p.n_supp >= 2 AND p.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def em23_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance explained by the leading principal component: the
    em22 eigenvalue over the covariance trace — the one-number PCA
    audit (how much of the corpus variance one direction carries)
    that decides whether dimensionality reduction is even worth it.
    Trace is an EXACT decimal sum of the 6dp-rounded diagonal; the
    eigenvalue replays em22's unrolled iteration; only the final
    ratio touches floats.

    Scale shape: the covariance pass is the only corpus-sized stage,
    computed ONCE and localCheckpointed — eigenvalue and trace both
    read the same d×d table."""
    from paqarin_spark.operators import (
        covariance_matrix,
        power_iteration_on_cov,
    )

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    width = emb.select(F.size("embedding").alias("d")).first()["d"]
    cov = covariance_matrix(emb, "embedding").localCheckpoint()
    eig = (
        power_iteration_on_cov(cov, width, iterations=6)
        .agg(F.max("eigenvalue").alias("eigenvalue"))
    )
    trace = (
        cov.where(F.col("i") == F.col("j"))
        .agg(
            F.round(
                F.sum(F.col("cov").cast("decimal(25,6)")).cast("double"), 6
            ).alias("trace")
        )
    )
    return eig.crossJoin(F.broadcast(trace)).select(
        "eigenvalue",
        "trace",
        F.round(F.col("eigenvalue") / F.col("trace"), 6).alias(
            "explained_ratio"
        ),
    )


def _em23_sql() -> str:
    body = EM22_SQL
    head, tail = body.rsplit("SELECT CAST(v.j AS INTEGER) AS i,", 1)
    return (
        head
        + """, eig AS (
  SELECT ROUND(nrm, 6) + 0.0 AS eigenvalue FROM n6
), tr AS (
  SELECT ROUND(CAST(SUM(CAST(cov AS DECIMAL(25,6))) AS DOUBLE), 6)
           AS trace
  FROM cov WHERE i = j
)
SELECT e.eigenvalue, t.trace,
       ROUND(e.eigenvalue / t.trace, 6) AS explained_ratio
FROM eig e CROSS JOIN tr t
"""
    )


EM23_SQL = _em23_sql()


def em36_pc_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal-component DRIFT between two embedding cohorts — the
    spectral member of the drift family (PSI ev27, chi² ev12, JSD
    ev29, KS ev6, W1 ev30 are all per-feature marginals; this one
    asks whether the dominant DIRECTION of the representation space
    itself rotated): power-iterate the dominant eigenpair on the
    even and odd vec_id halves independently and report the absolute
    cosine of the two unit eigenvectors (1 = perfectly aligned
    principal axes, 0 = orthogonal rotation) plus both eigenvalues.
    On a split-half of the same corpus this is the noise-floor
    reading, the ev30 framing applied to spectra.

    Determinism: both chains are the em22 replay contract
    (12dp-stabilized decimal matvecs, 6dp iterates, fixed v0 = 1);
    the alignment dot product accumulates ROUND(la·lb, 12) in exact
    DECIMAL(38,12) — the same sum shape the iteration itself uses —
    so the oracle (two prefixed copies of the em22 CTE chain joined
    on component index) replays it term-for-term. Power iteration
    from a fixed positive start vector gives a deterministic SIGN on
    both engines; ABS makes the reported metric sign-free anyway.

    Scale shape: two half-corpus covariance passes (together ~one
    full pass, d(d+1)/2 partial aggregates each) and two
    d×d-bounded iteration chains; the final join is d rows."""
    from paqarin_spark.operators import power_iteration

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    pa = power_iteration(even, "embedding", iterations=6)
    pb = power_iteration(odd, "embedding", iterations=6)
    counts = (
        emb.agg(
            F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_even"),
            F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_odd"),
        )
    )
    j = pa.select(
        "i",
        F.col("loading").alias("_la"),
        F.col("eigenvalue").alias("_ea"),
    ).join(
        pb.select(
            "i",
            F.col("loading").alias("_lb"),
            F.col("eigenvalue").alias("_eb"),
        ),
        "i",
    )
    scores = j.agg(
        F.max("_ea").alias("eigen_even"),
        F.max("_eb").alias("eigen_odd"),
        (
            F.round(
                F.abs(
                    F.sum(
                        F.round(F.col("_la") * F.col("_lb"), 12).cast(
                            "decimal(38,12)"
                        )
                    ).cast("double")
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("pc_alignment"),
    )
    return counts.crossJoin(F.broadcast(scores)).select(
        "n_even", "n_odd", "eigen_even", "eigen_odd", "pc_alignment"
    )


def _power_iter_blocks(prefix: str, pred: str) -> str:
    """The em22 covariance + 6-round power-iteration CTE chain with
    every CTE name prefixed and the corpus restricted by ``pred`` —
    lets one statement carry several independent chains (em36 runs
    two)."""
    p = prefix
    cov = f"""
{p}cov AS (
  SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
         ROUND(COVAR_POP(xi, xj), 6) + 0.0 AS cov
  FROM (
    SELECT a.i, a.xi, b.j, b.xj
    FROM embeddings e,
    LATERAL (
      SELECT generate_subscripts(embedding, 1) - 1 AS i,
             UNNEST(embedding) AS xi
    ) a,
    LATERAL (
      SELECT generate_subscripts(embedding, 1) - 1 AS j,
             UNNEST(embedding) AS xj
    ) b
    WHERE a.i <= b.j AND ({pred})
  ) GROUP BY i, j
), {p}mat AS (
  SELECT i, j, cov FROM {p}cov
  UNION ALL
  SELECT j AS i, i AS j, cov FROM {p}cov WHERE i <> j
), {p}v0 AS (
  SELECT UNNEST(range(64)) AS j, 1.0 AS vj
)"""
    its = []
    for t in range(1, 7):
        its.append(f"""
{p}w{t} AS (
  SELECT m.i,
         CAST(SUM(CAST(ROUND(m.cov * v.vj, 12) AS DECIMAL(30,12)))
              AS DOUBLE) AS wi
  FROM {p}mat m JOIN {p}v{t-1} v ON v.j = m.j
  GROUP BY m.i
), {p}n{t} AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(wi * wi, 12) AS DECIMAL(38,12)))
              AS DOUBLE)) AS nrm
  FROM {p}w{t}
), {p}v{t} AS (
  SELECT w.i AS j, ROUND(w.wi / n.nrm, 6) AS vj
  FROM {p}w{t} w CROSS JOIN {p}n{t} n
)""")
    return cov.strip() + "," + ",".join(its)


EM36_SQL = (
    "WITH "
    + _power_iter_blocks("a", "e.vec_id % 2 = 0")
    + ", "
    + _power_iter_blocks("b", "e.vec_id % 2 = 1")
    + """
SELECT (SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) FROM embeddings) AS n_even,
       (SELECT CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
               AS BIGINT) FROM embeddings) AS n_odd,
       ROUND(an.nrm, 6) + 0.0 AS eigen_even,
       ROUND(bn.nrm, 6) + 0.0 AS eigen_odd,
       ROUND(ABS(CAST(SUM(CAST(ROUND(av.vj * bv.vj, 12)
                              AS DECIMAL(38,12))) AS DOUBLE)), 6) + 0.0
         AS pc_alignment
FROM av6 av JOIN bv6 bv ON av.j = bv.j
CROSS JOIN an6 an CROSS JOIN bn6 bn
GROUP BY an.nrm, bn.nrm
"""
)



def q99_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): within orders placed by
    ASIA-region customers, the share of yearly revenue supplied by
    NATION_2's suppliers. Both the nation slice and the yearly total
    are EXACT decimal sums; the share divides the two decimals as
    doubles only at output (the q91 promo-share discipline).

    Scale shape: the region→nation→customer chain and the supplier→
    nation chain are dim-only broadcasts semi-pruning the fact join;
    lineitem shuffles once on the order key; the rollup is
    year-keyed."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    asia_nations = nation.join(
        region.where(F.col("r_name") == "ASIA"),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey")
    asia_cust = cust.join(
        F.broadcast(asia_nations),
        cust.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nat = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    rev = (
        orders.join(asia_cust, orders.o_custkey == F.col("c_custkey"))
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp_nat, li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (
                F.col("l_extendedprice").cast("decimal(30,10)")
                * (
                    F.lit(1).cast("decimal(30,10)")
                    - F.col("l_discount").cast("decimal(30,10)")
                )
            ).cast("decimal(30,10)").alias("_vol"),
            (F.col("n_name") == "NATION_2").alias("_target"),
        )
    )
    return (
        rev.groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("_target"), F.col("_vol"))).alias("_tn"),
            F.sum("_vol").alias("_tot"),
        )
        .select(
            "o_year",
            F.round(
                F.coalesce(F.col("_tn"), F.lit(0).cast("decimal(30,10)"))
                .cast("double"),
                6,
            ).alias("nation_revenue"),
            F.round(F.col("_tot").cast("double"), 6).alias("total_revenue"),
            F.round(
                F.coalesce(
                    F.col("_tn"), F.lit(0).cast("decimal(30,10)")
                ).cast("double")
                / F.col("_tot").cast("double"),
                6,
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


Q99_SQL = """
WITH vol AS (
  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
         CAST(CAST(l.l_extendedprice AS DECIMAL(30,10))
              * (CAST(1 AS DECIMAL(30,10))
                 - CAST(l.l_discount AS DECIMAL(30,10)))
              AS DECIMAL(30,10)) AS v,
         sn.n_name = 'NATION_2' AS is_target
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'ASIA'
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
)
SELECT o_year,
       ROUND(CAST(COALESCE(SUM(CASE WHEN is_target THEN v END),
                           CAST(0 AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS nation_revenue,
       ROUND(CAST(SUM(v) AS DOUBLE), 6) AS total_revenue,
       ROUND(CAST(COALESCE(SUM(CASE WHEN is_target THEN v END),
                           CAST(0 AS DECIMAL(30,10))) AS DOUBLE)
             / CAST(SUM(v) AS DOUBLE), 6) AS mkt_share
FROM vol
GROUP BY o_year
ORDER BY o_year
"""


def gen8_smoothed_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed bootstrap sampler (Efron's bootstrap + a uniform
    kernel, bandwidth = the user's MAD): sample k draws the
    ceil(u1·n)-th order statistic of the user's history, then jitters
    it by (u2 − 0.5)·2·MAD — the KDE-style generator that fills gaps
    between observed values where gen7's pure quantile remap can only
    repeat them. Both uniforms are md5 streams; MAD is an exact
    order-statistic pick of |x − median| (the q96 machinery in the
    array domain), so every arithmetic step is a deterministic double
    expression on identical inputs; outputs round 6dp.

    Scale shape: one per-user rollup, samples explode from a literal
    sequence — no shuffle after the rollup."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    hist = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.col("value"))).alias("_vals"),
        F.count(F.lit(1)).alias("_n"),
    )
    med = F.element_at(
        "_vals", F.greatest(F.lit(1), F.ceil(F.col("_n") / 2).cast("int"))
    )
    devs = F.array_sort(
        F.transform("_vals", lambda x: F.abs(x - med))
    )
    mad = F.element_at(
        devs, F.greatest(F.lit(1), F.ceil(F.col("_n") / 2).cast("int"))
    )
    samples = hist.select(
        "user_id",
        "_vals",
        "_n",
        mad.alias("_mad"),
        F.explode(F.sequence(F.lit(1), F.lit(8))).alias("k"),
    )

    def md5u(prefix):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(prefix),
                            F.col("user_id").cast("string"),
                            F.lit("#"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(1152921504606846976.0)
        )
    idx = F.greatest(F.lit(1), F.ceil(md5u("gen8v#") * F.col("_n")).cast("int"))
    base = F.element_at("_vals", idx)
    jitter = (md5u("gen8j#") - F.lit(0.5)) * F.lit(2.0) * F.col("_mad")
    return samples.select(
        "user_id",
        "k",
        F.round(base + jitter, 6).alias("synth_value"),
    ).orderBy("user_id", "k")


GEN8_SQL = """
WITH hist AS (
  SELECT user_id,
         list(value ORDER BY value) AS vals,
         COUNT(*) AS n
  FROM events GROUP BY user_id
), stats AS (
  SELECT user_id, vals, n,
         list_sort(list_transform(vals,
           x -> ABS(x - vals[GREATEST(1, CAST(CEIL(n / 2.0) AS INTEGER))])
         ))[GREATEST(1, CAST(CEIL(n / 2.0) AS INTEGER))] AS mad
  FROM hist
), samples AS (
  SELECT user_id, vals, n, mad, k.k
  FROM stats, LATERAL (SELECT UNNEST(range(1, 9)) AS k) k
)
SELECT user_id, k,
       ROUND(
         vals[GREATEST(1, CAST(CEIL(
           (('0x' || substring(md5('gen8v#' || CAST(user_id AS VARCHAR)
               || '#' || CAST(k AS VARCHAR)), 1, 15))::UBIGINT
            / 1152921504606846976.0) * n) AS INTEGER))]
         + ((('0x' || substring(md5('gen8j#' || CAST(user_id AS VARCHAR)
               || '#' || CAST(k AS VARCHAR)), 1, 15))::UBIGINT
             / 1152921504606846976.0) - 0.5) * 2.0 * mad,
         6) AS synth_value
FROM samples
ORDER BY user_id, k
"""


def ev14_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical prediction-interval coverage — the conformal-style
    calibration audit: per user, the [p10, p90] interval of all
    history EXCEPT the final event (order-statistic picks, train
    split), then the fraction of users whose held-out final value
    actually landed inside. Every bound is an existing double; the
    only arithmetic is exact integer ratios at output.

    Scale shape: one user-keyed window pass marks the holdout, one
    rollup builds the intervals in the array domain, one global
    count."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    marked = ev.select(
        "user_id",
        "value",
        (F.row_number().over(w) == 1).alias("_is_last"),
    )
    per_user = marked.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.when(~F.col("_is_last"), F.col("value")))
        ).alias("_train"),
        F.max(F.when(F.col("_is_last"), F.col("value"))).alias("_y"),
    ).where(F.size("_train") >= 5)
    n_tr = F.size("_train")
    lo = F.element_at(
        "_train",
        F.greatest(F.lit(1), F.ceil(n_tr * 0.1).cast("int")),
    )
    hi = F.element_at(
        "_train",
        F.greatest(F.lit(1), F.ceil(n_tr * 0.9).cast("int")),
    )
    flags = per_user.select(
        ((F.col("_y") >= lo) & (F.col("_y") <= hi)).cast("long").alias(
            "_cov"
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("_cov").alias("n_covered"),
        F.round(F.sum("_cov") / F.count(F.lit(1)), 6).alias("coverage"),
    )


EV14_SQL = """
WITH marked AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) = 1 AS is_last
  FROM events
), per_user AS (
  SELECT user_id,
         list(value ORDER BY value)
           FILTER (WHERE NOT is_last AND value IS NOT NULL) AS train,
         MAX(CASE WHEN is_last THEN value END) AS y
  FROM marked GROUP BY user_id
), sized AS (
  SELECT user_id, train, y, len(train) AS n
  FROM per_user WHERE len(train) >= 5
), flags AS (
  SELECT CASE WHEN y >= train[GREATEST(1, CAST(CEIL(n * 0.1) AS INTEGER))]
               AND y <= train[GREATEST(1, CAST(CEIL(n * 0.9) AS INTEGER))]
          THEN 1 ELSE 0 END AS cov
  FROM sized
)
SELECT COUNT(*) AS n_users, CAST(SUM(cov) AS BIGINT) AS n_covered,
       ROUND(SUM(cov) / COUNT(*), 6) AS coverage
FROM flags
"""



def q100_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under a triple-OR of
    brand/size/quantity bands): the disjunctive join-predicate pattern
    Q19 exists to test — Catalyst must push the common l_partkey
    equi-key through the OR and keep the per-branch band filters as a
    residual, instead of falling back to a cartesian. Revenue is the
    exact-decimal discount sum.

    Scale shape: part scales linearly with SF (SF*200k rows), so the
    join strategy is left to AQE -- broadcast at small SF, shuffled
    hash / sort-merge at cluster scale. lineitem is scanned once with
    the residual OR evaluated as a join residual, never a cartesian."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(band).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(30,10)")
                    * (
                        F.lit(1).cast("decimal(30,10)")
                        - F.col("l_discount").cast("decimal(30,10)")
                    )
                ).cast("decimal(30,10)")
            ).cast("double"),
            6,
        ).alias("revenue"),
    )


Q100_SQL = """
SELECT COUNT(*) AS n_lines,
       ROUND(CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(30,10))
             * (CAST(1 AS DECIMAL(30,10))
                - CAST(l.l_discount AS DECIMAL(30,10)))
             AS DECIMAL(30,10))) AS DOUBLE), 6) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30
       AND l.l_quantity BETWEEN 20 AND 30)
"""


def em24_loo_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label accuracy — the embedding-quality audit
    the labeled corpus affords: for every vector, does its nearest
    OTHER vector (exact cosine, self-kNN mode excludes self) carry the
    same label? Per-label accuracy exposes which classes the
    embedding space actually separates; the standard probe before
    trusting an index for retrieval or semdedup.

    Scale shape: the exact self-kNN is the em1 blocked-matmul kernel;
    the label joins are dim-sized; the rollup is label-keyed."""
    from paqarin_spark.operators import cosine_topk

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    nn = cosine_topk(emb, "vec_id", "embedding", k=1)
    lab = emb.select("vec_id", "label")
    qlab = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("label")
    )
    nlab = lab.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("_nl"),
    )
    # no broadcast hints: the vec_id→label map is one row per corpus
    # vector (linear in SF) — the §4 policy reserves hints for
    # bounded-by-construction dims; AQE picks the join strategy here
    flagged = nn.join(qlab, "query_id").join(nlab, "neighbor_id")
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("label") == F.col("_nl")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n"), 6).alias("accuracy"),
        )
        .orderBy("label")
    )


EM24_SQL = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS query_id, a.label AS label, b.label AS nl,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))),
           6) AS cos_sim,
         b.vec_id AS neighbor_id
  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
), nn AS (
  SELECT label, nl FROM (
    SELECT label, nl,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM pairs
  ) WHERE rk = 1
)
SELECT label, COUNT(*) AS n,
       CAST(SUM(CASE WHEN label = nl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(SUM(CASE WHEN label = nl THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS accuracy
FROM nn GROUP BY label ORDER BY label
"""



_ECDF_BUCKETS = 1024


def _union_ecdf_ks(real: DataFrame, synth: DataFrame) -> DataFrame:
    """Shared union-ECDF Kolmogorov–Smirnov shape (the ev6 contract):
    both inputs are single-column frames of `v`; returns one row
    (n_real, n_synth, ks_stat). Counts are exact integers; only the
    two final divides touch floats.

    Scale shape — DISTRIBUTED two-pass prefix sum (no global window
    over the distinct values): (1) the value-keyed union aggregate is
    the petabyte-to-distinct reduction; (2) each distinct value is
    binned into one of _ECDF_BUCKETS equal-width buckets on the
    broadcast global [min,max]; (3) per-bucket partial counts roll up
    to an exclusive running offset over the bucket table — the ONLY
    single-partition window, bounded by the CONSTANT bucket count,
    never by data; (4) the offsets join back (AQE picks broadcast at
    runtime against real sizes) and the cumulative counts come from a
    window PARTITIONED BY bucket. The statistic is bucketing-invariant
    (prefix sums over a total order don't care where the order is
    cut), so the oracle SQL keeps the plain single-window form."""
    B = _ECDF_BUCKETS
    r = real.select("v", F.lit(1).alias("_r"), F.lit(0).alias("_s"))
    t = synth.select("v", F.lit(0).alias("_r"), F.lit(1).alias("_s"))
    c = (
        r.unionByName(t)
        .groupBy("v")
        .agg(F.sum("_r").alias("cr"), F.sum("_s").alias("cs"))
    )
    tot = c.agg(
        F.sum("cr").alias("nr"),
        F.sum("cs").alias("ns"),
        F.min("v").alias("_vmin"),
        F.max("v").alias("_vmax"),
    )
    cb = c.crossJoin(F.broadcast(tot)).withColumn(
        "_b",
        F.when(F.col("_vmax") <= F.col("_vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(B - 1).cast("long"),
                F.floor(
                    (F.col("v") - F.col("_vmin"))
                    / (F.col("_vmax") - F.col("_vmin"))
                    * B
                ),
            )
        )
        .cast("int"),
    )
    woff = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        cb.groupBy("_b")
        .agg(F.sum("cr").alias("_br"), F.sum("cs").alias("_bs"))
        .select(
            "_b",
            F.coalesce(F.sum("_br").over(woff), F.lit(0)).alias("_or"),
            F.coalesce(F.sum("_bs").over(woff), F.lit(0)).alias("_os"),
        )
    )
    win = (
        Window.partitionBy("_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cb.join(offsets, "_b").select(
        (F.col("_or") + F.sum("cr").over(win)).alias("cum_r"),
        (F.col("_os") + F.sum("cs").over(win)).alias("cum_s"),
        "nr",
        "ns",
    )
    return cum.agg(
        F.max(F.col("nr")).alias("n_real"),
        F.max(F.col("ns")).alias("n_synth"),
        F.round(
            F.max(
                F.abs(
                    F.col("cum_r") / F.col("nr")
                    - F.col("cum_s") / F.col("ns")
                )
            ),
            6,
        ).alias("ks_stat"),
    )


def ev15_synth_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end generate→evaluate composition: gen7's quantile-remap
    SYNTHETIC sample against the real value distribution under the KS
    statistic (ev6's union-ECDF shape) — the fidelity loop a synthesis
    pipeline actually closes (train marginal in, KS gap out). gen7's
    inverse-ECDF draws repeat existing doubles, so the union GROUP BY
    collapses exactly and the ECDF gap is exact rational arithmetic
    until the final divides.

    Scale shape: one value-keyed union aggregate and one ordered
    window over distinct values (the ev6 amber class — bounded by the
    value domain, not row count)."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    return _union_ecdf_ks(
        ev.select(F.col("value").alias("v")),
        gen7_quantile_remap(spark, sf_dir).select(
            F.col("synth_value").alias("v")
        ),
    )


EV15_SQL = f"""
WITH synth_rows AS ({GEN7_SQL.strip()}
), c AS (
  SELECT v, SUM(is_r) AS cr, SUM(is_s) AS cs FROM (
    SELECT value AS v, 1 AS is_r, 0 AS is_s FROM events
    UNION ALL
    SELECT synth_value AS v, 0, 1 FROM synth_rows
  ) GROUP BY 1
), tot AS (
  SELECT SUM(cr) AS nr, SUM(cs) AS ns FROM c
), cum AS (
  SELECT SUM(cr) OVER (ORDER BY v) AS cum_r,
         SUM(cs) OVER (ORDER BY v) AS cum_s
  FROM c
)
SELECT (SELECT CAST(nr AS BIGINT) FROM tot) AS n_real,
       (SELECT CAST(ns AS BIGINT) FROM tot) AS n_synth,
       ROUND(MAX(ABS(cum_r / (SELECT nr FROM tot)
                     - cum_s / (SELECT ns FROM tot))), 6) AS ks_stat
FROM cum
"""



def q101_percent_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function family breadth (percent_rank + cume_dist beside
    q57's ntile): every order's price percentile within its priority
    class — the relative-standing projection feeding SLA and pricing
    analyses. Both functions are exact integer ratios ((rank-1)/(n-1),
    rank/n) evaluated identically per row even under ties, so no
    rounding is needed anywhere.

    Scale shape: one priority-keyed window pass; output is row-wise,
    no aggregation."""
    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.percent_rank().over(w).alias("price_pr"),
            F.cume_dist().over(w).alias("price_cd"),
        )
        .orderBy("o_orderkey")
    )


Q101_SQL = """
SELECT o_orderkey, o_orderpriority,
       PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS price_pr,
       CUME_DIST() OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice) AS price_cd
FROM orders
ORDER BY o_orderkey
"""


def st16_stream_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING leaderboard (streaming.stream_group_topk): per event
    type, the top-3 events by (value DESC, event_id ASC) maintained as
    exactly-k-rows state with versioned full-set corrections — the
    serving-layer "top movers" pattern. Max-version rows hash-match
    the batch window-rank ORACLE regardless of arrival order or
    micro-batch boundaries.

    Scale shape: k rows of state per group forever; one group-keyed
    exchange per micro-batch."""
    from paqarin_spark.streaming import (
        leaderboard_from_emissions,
        stream_group_topk,
    )

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    emi = stream_group_topk(
        stream, key_column="event_type", value_column="value",
        id_column="event_id", k=3,
    )
    name = "st16_stream_leaderboard"
    # state rows bounded by construction — cap the keyed exchange
    sink = _run_to_memory(spark, emi, name, "append", 8)
    return (
        leaderboard_from_emissions(sink)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type", "rank")
    )


ST16_SQL = """
SELECT event_type, rank, id, value FROM (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rank,
         event_id AS id, value
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND event_id IS NOT NULL
) WHERE rank <= 3
ORDER BY event_type, rank
"""



def q102_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the one-table
    filtered aggregate — revenue that would have been gained by
    eliminating discounts in a band (shipdate year, discount within
    ±0.01 of a target, quantity cap). Completes the TPC-H sweep: with
    q14/q84/q25/q26/q15/q34/q99/q27/q87/q90/q92/q91/q95/q88/q77/q33/
    q100/q83/q98/q94 this registry covers 21 of the 22 shapes (Q9
    needs partsupp, absent from the slim schema). The discount band
    uses exact decimal bounds so no float literal can flip a boundary
    row.

    Scale shape: scan-level predicate pushdown (year + band + cap all
    reach the parquet scan), one global aggregate — the minimal plan
    Q6 exists to measure."""
    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    d = F.col("l_discount").cast("decimal(12,4)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (d >= F.lit("0.05").cast("decimal(12,4)"))
            & (d <= F.lit("0.07").cast("decimal(12,4)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(30,10)")
                        * F.col("l_discount").cast("decimal(30,10)")
                    ).cast("decimal(30,10)")
                ).cast("double"),
                6,
            ).alias("revenue_effect"),
        )
    )


Q102_SQL = """
SELECT COUNT(*) AS n_lines,
       ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(30,10))
             * CAST(l_discount AS DECIMAL(30,10))
             AS DECIMAL(30,10))) AS DOUBLE), 6) AS revenue_effect
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(l_discount AS DECIMAL(12,4)) BETWEEN CAST('0.05' AS DECIMAL(12,4))
                                            AND CAST('0.07' AS DECIMAL(12,4))
  AND l_quantity < 24
"""


def ev16_generator_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator LEADERBOARD under the KS fidelity gate — the I4
    best-generator argmin applied to the marginal-fidelity family:
    gen7 (quantile remap) and gen8 (smoothed bootstrap) each produce a
    synthetic sample, each sample is scored with the ev6 union-ECDF KS
    against the real values, and the winner is rank 1 by
    (ks, generator name). The ranking compares doubles both engines
    computed identically from exact integer cumulative counts.

    Scale shape: per generator one value-keyed union aggregate + one
    ordered window over distinct values; the leaderboard itself is a
    2-row sort."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    real = ev.select(F.col("value").alias("v"))

    def ks_of(synth_df, name):
        return _union_ecdf_ks(
            real, synth_df.select(F.col("synth_value").alias("v"))
        ).select(F.lit(name).alias("generator"), "ks_stat")

    board = ks_of(gen7_quantile_remap(spark, sf_dir), "gen7_quantile_remap")
    board = board.unionByName(
        ks_of(gen8_smoothed_bootstrap(spark, sf_dir), "gen8_smoothed_bootstrap")
    )
    w = Window.orderBy("ks_stat", "generator")
    return board.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "generator",
        "ks_stat",
    ).orderBy("rank")


EV16_SQL = f"""
WITH g7 AS ({GEN7_SQL.strip()}
), g8 AS ({GEN8_SQL.strip()}
), c7 AS (
  SELECT v, SUM(is_r) AS cr, SUM(is_s) AS cs FROM (
    SELECT value AS v, 1 AS is_r, 0 AS is_s FROM events
    UNION ALL SELECT synth_value, 0, 1 FROM g7
  ) GROUP BY 1
), t7 AS (
  SELECT SUM(cr) AS nr, SUM(cs) AS ns FROM c7
), k7 AS (
  SELECT ROUND(MAX(ABS(cum_r / (SELECT nr FROM t7)
                       - cum_s / (SELECT ns FROM t7))), 6) AS ks_stat
  FROM (SELECT SUM(cr) OVER (ORDER BY v) AS cum_r,
               SUM(cs) OVER (ORDER BY v) AS cum_s FROM c7)
), c8 AS (
  SELECT v, SUM(is_r) AS cr, SUM(is_s) AS cs FROM (
    SELECT value AS v, 1 AS is_r, 0 AS is_s FROM events
    UNION ALL SELECT synth_value, 0, 1 FROM g8
  ) GROUP BY 1
), t8 AS (
  SELECT SUM(cr) AS nr, SUM(cs) AS ns FROM c8
), k8 AS (
  SELECT ROUND(MAX(ABS(cum_r / (SELECT nr FROM t8)
                       - cum_s / (SELECT ns FROM t8))), 6) AS ks_stat
  FROM (SELECT SUM(cr) OVER (ORDER BY v) AS cum_r,
               SUM(cs) OVER (ORDER BY v) AS cum_s FROM c8)
), ks AS (
  SELECT 'gen7_quantile_remap' AS generator, ks_stat FROM k7
  UNION ALL
  SELECT 'gen8_smoothed_bootstrap', ks_stat FROM k8
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY ks_stat, generator) AS BIGINT)
         AS rank,
       generator, ks_stat
FROM ks
ORDER BY rank
"""



def gen9_text_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic TEXT generation — the corpus-domain instantiation of
    the categorical Markov machinery (generators.markov.
    MarkovEventGenerator with tokens as categories, document position
    as the order axis): fit a first-order token bigram chain on the
    documents table, then walk 30 sequences of 8 tokens with the
    md5-portable draws. Like gen5, the SAMPLES THEMSELVES are
    value-checked — the oracle refits the same chain over the same
    (doc, pos)-ordered token rows and replays the identical walk in a
    recursive CTE.

    Scale note: fit is one doc-keyed window pass + one vocabulary-
    bounded aggregate; the generate plan is a codegen'd projection
    over spark.range — the per-state CASE chain bounds this design to
    bounded vocabularies (character/BPE-bucket alphabets at corpus
    scale; the fitted-dict collect is vocabulary-sized by
    construction)."""
    from paqarin_spark.generator import GeneratorParameters
    from paqarin_spark.generators import MarkovEventGenerator
    from paqarin_spark.operators.dedup import normalized_text
    from paqarin_spark.schema import TimeSeriesSchema

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(normalized_text(F.col("text")), " ")
        ).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    schema = TimeSeriesSchema(
        item_id_columns=("doc_id",),
        timestamp_column="pos",
        value_columns=("pos",),
        frequency="D",
        order_columns=("pos",),
    )
    params = GeneratorParameters(schema=schema, sequence_length=8, seed=13)
    gen = MarkovEventGenerator(params, category_column="tok").fit(toks)
    return gen.generate(30, seed=13).orderBy("sequence_id", "step")


GEN9_SQL = """
WITH RECURSIVE
toks AS (
  SELECT doc_id, u.pos AS pos, t[u.pos + 1] AS cat
  FROM (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                                            'g')), ' ') AS t
    FROM documents
  ) x,
  LATERAL (SELECT UNNEST(range(len(t))) AS pos) u
  WHERE t[u.pos + 1] <> ''
),
ordered AS (
  SELECT cat,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos, cat) AS rn,
         LAG(cat) OVER (PARTITION BY doc_id ORDER BY pos, cat) AS prev
  FROM toks
),
init AS (SELECT cat, COUNT(*) AS c FROM ordered WHERE rn = 1 GROUP BY 1),
init_cdf AS (
  SELECT cat,
         SUM(c) OVER (ORDER BY cat) / (SELECT SUM(c) FROM init) AS cum
  FROM init
),
trans AS (
  SELECT prev, cat, COUNT(*) AS c FROM ordered
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
trans_cdf AS (
  SELECT prev, cat,
         SUM(c) OVER (PARTITION BY prev ORDER BY cat)
           / SUM(c) OVER (PARTITION BY prev) AS cum
  FROM trans
),
walk(sequence_id, step, tok) AS (
  SELECT s.range AS sequence_id, 0,
         (SELECT i.cat FROM init_cdf i
          WHERE i.cum >= ('0x' || substring(
                  md5(s.range::VARCHAR || '#0#13'), 1, 15))::UBIGINT
                / 1152921504606846976.0
          ORDER BY i.cum LIMIT 1)
  FROM range(30) s
  UNION ALL
  SELECT w.sequence_id, w.step + 1,
         (SELECT t.cat FROM trans_cdf t
          WHERE t.prev = w.tok
            AND t.cum >= ('0x' || substring(
                  md5(w.sequence_id::VARCHAR || '#' ||
                      (w.step + 1)::VARCHAR || '#13'), 1, 15))::UBIGINT
                / 1152921504606846976.0
          ORDER BY t.cum LIMIT 1)
  FROM walk w WHERE w.step < 7
)
SELECT sequence_id, step, tok FROM walk ORDER BY 1, 2
"""


def tx45_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned language classifier — distributed multinomial Naive
    Bayes (operators/classify.py): the learned-filter seam of the
    CCNet/GPT-3 pretraining pipelines (fastText-class, Joulin et al.
    2016), absent from the repo until now (tx10/tx32 are heuristic
    gates, tx25/tx34 corpus-self LMs). Train on the declared-lang
    labels of the 75% md5 split, score the 25% holdout, report
    per-class precision/recall — the standard audit before trusting a
    learned filter on a corpus.

    Honest result note: in the synthetic corpus BOTH candidate doc
    labels (lang, source) are statistically independent of the token
    stream (measured: per-source token lifts ≤1.6 are too weak for
    30-token docs; accuracy lands at the class prior — the classifier
    correctly defaults to majority-class behavior). The query is
    therefore the end-to-end machinery-and-report audit on declared
    labels; LEARNING itself is pinned by tests/test_classify.py on a
    planted-vocabulary corpus where NB must reach 100%.

    Determinism: the split is the portable md5 uniform; fit counts are
    exact integers; every score term is ROUND(ln(·),12) summed in
    exact decimal, and arg-max margins are bounded below by the
    discrete count structure (≫ the 1e-12 stabilization width), so
    predictions replay exactly — the oracle unrolls fit, score, and
    arg-max in CTEs. Outputs are integer counts and 6dp ratios of
    integers.

    Scale shape: fit = one token-keyed groupBy (partial-aggregatable)
    + a label-keyed doc count; score = token-keyed shuffle join
    against the (vocab × classes) count table (never broadcast) and a
    label-bounded broadcast of class stats; report is label-keyed."""
    from paqarin_spark.operators.classify import (
        classification_report,
        naive_bayes_fit,
        naive_bayes_predict,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("tx45#"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(1152921504606846976.0)
    )
    base = docs.select("doc_id", "text", "lang", u.alias("_u"))
    train = base.where(F.col("_u") >= 0.25)
    hold = base.where(F.col("_u") < 0.25)
    model = naive_bayes_fit(train, "text", "lang")
    preds = naive_bayes_predict(model, hold, "text", "doc_id")
    return classification_report(
        preds,
        hold.select("doc_id", "lang"),
        id_column="doc_id",
        label_column="lang",
        classes=model.class_stats.select("label"),
    )


TX45_SQL = f"""
WITH base AS (
  SELECT doc_id, text, lang,
         ('0x' || substring(md5('tx45#' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
           / 1152921504606846976.0 AS u
  FROM documents
), train AS (
  SELECT * FROM base WHERE u >= 0.25
), hold AS (
  SELECT * FROM base WHERE u < 0.25
), ttoks AS (
  SELECT lang, t.token
  FROM train, LATERAL (SELECT UNNEST({_TOKS_SQL}) AS token) t
), counts AS (
  SELECT lang, token, COUNT(*) AS cnt FROM ttoks GROUP BY 1, 2
), cstats AS (
  SELECT d.lang, d.n_docs, COALESCE(k.n_tokens, 0) AS n_tokens
  FROM (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY 1) d
  LEFT JOIN (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens
             FROM counts GROUP BY 1) k USING (lang)
), vocab AS (
  SELECT COUNT(DISTINCT token) AS v FROM counts
), total AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cstats
), htoks AS (
  SELECT doc_id, t.token
  FROM hold, LATERAL (SELECT UNNEST({_TOKS_SQL}) AS token) t
), token_terms AS (
  SELECT h.doc_id, c.lang,
         CAST(ROUND(ln((COALESCE(k.cnt, 0) + 1)
                       / (c.n_tokens + vocab.v)), 12)
              AS DECIMAL(25,12)) AS term
  FROM htoks h
  CROSS JOIN cstats c CROSS JOIN vocab
  LEFT JOIN counts k ON k.token = h.token AND k.lang = c.lang
), prior_terms AS (
  SELECT h.doc_id, c.lang,
         CAST(ROUND(ln(c.n_docs / total.n), 12)
              AS DECIMAL(25,12)) AS term
  FROM hold h CROSS JOIN cstats c CROSS JOIN total
), scores AS (
  SELECT doc_id, lang, SUM(term) AS s
  FROM (SELECT * FROM token_terms UNION ALL SELECT * FROM prior_terms)
  GROUP BY 1, 2
), pred AS (
  SELECT doc_id, lang AS predicted FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY s DESC, lang) AS rk
    FROM scores
  ) WHERE rk = 1
), joined AS (
  SELECT h.doc_id, h.lang AS true_lang, p.predicted
  FROM hold h JOIN pred p USING (doc_id)
)
SELECT c.lang AS label,
       COALESCE(t.n_true, 0) AS n_true,
       COALESCE(p.n_pred, 0) AS n_pred,
       COALESCE(x.n_correct, 0) AS n_correct,
       CASE WHEN COALESCE(p.n_pred, 0) > 0
            THEN ROUND(COALESCE(x.n_correct, 0) / p.n_pred, 6) END
         AS "precision",
       CASE WHEN COALESCE(t.n_true, 0) > 0
            THEN ROUND(COALESCE(x.n_correct, 0) / t.n_true, 6) END
         AS recall
FROM (SELECT lang FROM cstats) c
LEFT JOIN (SELECT true_lang AS lang, COUNT(*) AS n_true
           FROM joined GROUP BY 1) t USING (lang)
LEFT JOIN (SELECT predicted AS lang, COUNT(*) AS n_pred
           FROM joined GROUP BY 1) p USING (lang)
LEFT JOIN (SELECT true_lang AS lang, COUNT(*) AS n_correct
           FROM joined WHERE true_lang = predicted GROUP BY 1) x
  USING (lang)
ORDER BY c.lang
"""


def tx46_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest BPE tokenizer TRAINING (operators/corpus.py bpe_train;
    Sennrich et al. 2016) — upgrades tx9's "BPE-ish" pre-tokenizer to
    real merge learning: 6 fixed rounds, each ONE adjacent-pair
    groupBy over the VOCABULARY-sized word-frequency table (the corpus
    is read once, then never again) + a deterministic argmax
    (count DESC, pair ASC) + a greedy fold applying the merge.

    Output is the merge table itself: (round, merge_left, merge_right,
    pair_count, n_symbols_after) — pair_count value-verifies each
    round's count+argmax and n_symbols_after checksums the full symbol
    state after applying the merge, so the oracle (which unrolls all 6
    rounds as CTE blocks, replacing the greedy scan with a
    gaps-and-islands parity rule proven equivalent) pins training AND
    the encode fold at every step. All values are exact integers.

    Scale shape: one corpus tokenize+groupBy; per round, one
    vocab-keyed aggregate and one expression-only fold pass, words
    localCheckpoint-ed per round (em14/q69 iterative discipline);
    driver traffic is one merge row per round."""
    from paqarin_spark.operators import bpe_train

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    records, _ = bpe_train(docs, "text", rounds=6)
    return spark.createDataFrame(
        records,
        "round int, merge_left string, merge_right string, "
        "pair_count long, n_symbols_after long",
    ).orderBy("round")


def _tx46_sql(rounds: int = 6) -> str:
    """Unrolled CTE replay of bpe_train (the em22 fixed-round-unroll
    pattern): per round — pair count + argmax, then the greedy merge
    as explode → candidate mark → consecutive-candidate runs →
    even-offset parity (equivalent to the left-to-right scan; for
    merge_left != merge_right candidates can never be adjacent, and
    for equal symbols a run of k merges at offsets 0,2,4...) →
    rebuild arrays dropping consumed positions."""
    blocks = [
        f"""WITH wf AS (
  SELECT t.token AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, LATERAL (SELECT UNNEST({_TOKS_SQL}) AS token) t
  GROUP BY 1
), words0 AS (
  SELECT word, freq,
         list_transform(range(1, length(word) + 1),
                        i -> substring(word, i, 1)) AS syms
  FROM wf
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        blocks.append(f""", exp{r} AS (
  SELECT word, freq, u.pos, u.sym
  FROM words{p}, LATERAL (SELECT UNNEST(syms) AS sym,
                          generate_subscripts(syms, 1) AS pos) u
), cand{r} AS MATERIALIZED (
  SELECT word, freq, pos, sym,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM exp{r}
), best{r} AS (
  SELECT sym AS ml, nxt AS mr, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM cand{r} WHERE nxt IS NOT NULL
  GROUP BY 1, 2 ORDER BY cnt DESC, ml, mr LIMIT 1
), mark{r} AS (
  SELECT c.word, c.freq, c.pos, c.sym, c.nxt,
         CASE WHEN c.sym = b.ml AND c.nxt = b.mr
              THEN 1 ELSE 0 END AS is_cand
  FROM cand{r} c CROSS JOIN best{r} b
), runs{r} AS (
  SELECT *, CASE WHEN is_cand = 1
                 THEN pos - ROW_NUMBER() OVER (PARTITION BY word, is_cand
                                               ORDER BY pos) END AS run_id
  FROM mark{r}
), merged{r} AS (
  SELECT *, CASE WHEN is_cand = 1
                 AND (pos - MIN(pos) OVER (PARTITION BY word, run_id))
                     % 2 = 0
            THEN 1 ELSE 0 END AS do_merge
  FROM runs{r}
), consumed{r} AS (
  SELECT *, COALESCE(LAG(do_merge) OVER (PARTITION BY word
                                         ORDER BY pos), 0) AS eaten
  FROM merged{r}
), words{r} AS (
  SELECT word, freq,
         list(CASE WHEN do_merge = 1 THEN sym || nxt ELSE sym END
              ORDER BY pos) FILTER (WHERE eaten = 0) AS syms
  FROM consumed{r} GROUP BY word, freq
), stat{r} AS (
  SELECT CAST({r} AS INTEGER) AS round, b.ml AS merge_left,
         b.mr AS merge_right, b.cnt AS pair_count,
         (SELECT CAST(SUM(freq * len(syms)) AS BIGINT)
          FROM words{r}) AS n_symbols_after
  FROM best{r} b
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM stat{r}" for r in range(1, rounds + 1)
    )
    return "".join(blocks) + f"\n{union}\nORDER BY round"


TX46_SQL = _tx46_sql(6)


def _tx47_sql(rounds: int = 6, top: int = 20) -> str:
    """tx47's oracle: the tx46 round chain, then ENCODE the corpus by
    joining every token occurrence to its final symbol array (exactly
    what bpe_encode's distinct-word dedup computes) and rank the BPE
    token frequencies."""
    chain = _tx46_sql(rounds)
    head = chain[: chain.index("\nSELECT * FROM stat1")]
    return head + f""", enc AS (
  SELECT s.sym, COUNT(*) AS n
  FROM (
    SELECT t.token
    FROM documents, LATERAL (SELECT UNNEST({_TOKS_SQL}) AS token) t
  ) d
  JOIN words{rounds} w ON w.word = d.token,
  LATERAL (SELECT UNNEST(w.syms) AS sym) s
  GROUP BY 1
)
SELECT sym AS bpe_token, CAST(n AS BIGINT) AS n_occurrences
FROM enc ORDER BY n DESC, bpe_token LIMIT {top}
"""


TX47_SQL = _tx47_sql(6, 20)


def ev17_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CONFIDENCE CALIBRATION audit — does a bigger
    decision margin actually mean a more reliable prediction? For the
    tx45 NB holdout, bin every document by the EXACT DECIMAL margin
    between its best and second-best class log-scores (0–1, 1–2, 2–4,
    4–8, 8+ nats) and report per-bin accuracy — the reliability-curve
    audit every deployed filter needs before its scores gate data.

    Determinism: margins are differences of the exact decimal score
    sums (no exp/softmax — a float probability would put bin edges at
    the mercy of last-ulp noise; decimal compares are exact on both
    engines), bins are decimal-literal comparisons, outputs are
    integer counts + one ratio.

    Scale shape: rides the tx45 scoring pipeline (token-keyed shuffle
    join); the extra work is a second row_number over the same
    per-doc window and a bin-keyed rollup."""
    from paqarin_spark.operators.classify import (
        _score_frame,
        naive_bayes_fit,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("tx45#"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(1152921504606846976.0)
    )
    base = docs.select("doc_id", "text", "lang", u.alias("_u"))
    train = base.where(F.col("_u") >= 0.25)
    hold = base.where(F.col("_u") < 0.25)
    model = naive_bayes_fit(train, "text", "lang")
    # the per-class decimal scores (the predict pipeline's internals)
    # keep the margin in the exact domain
    scores = _score_frame(model, hold, "text", "doc_id")
    w = Window.partitionBy("_id").orderBy(
        F.col("_score").desc(), F.col("label").asc()
    )
    ranked = scores.withColumn("_rk", F.row_number().over(w))
    best = ranked.where(F.col("_rk") == 1).select(
        "_id",
        F.col("label").alias("predicted"),
        F.col("_score").alias("_s1"),
    )
    second = ranked.where(F.col("_rk") == 2).select(
        "_id", F.col("_score").alias("_s2")
    )
    margins = best.join(second, "_id").select(
        "_id",
        "predicted",
        (F.col("_s1") - F.col("_s2")).alias("_margin"),
    )
    truth = hold.select(F.col("doc_id").alias("_id"), F.col("lang"))
    joined = margins.join(truth, "_id")
    bin_col = (
        F.when(F.col("_margin") < 1, F.lit("0-1"))
        .when(F.col("_margin") < 2, F.lit("1-2"))
        .when(F.col("_margin") < 4, F.lit("2-4"))
        .when(F.col("_margin") < 8, F.lit("4-8"))
        .otherwise(F.lit("8+"))
    )
    return (
        joined.select(
            bin_col.alias("margin_bin"),
            (F.col("predicted") == F.col("lang")).cast("long").alias("_c"),
        )
        .groupBy("margin_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_c").alias("n_correct"),
        )
        .select(
            "margin_bin",
            "n_docs",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_docs"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("margin_bin")
    )


EV17_SQL = f"""
WITH base AS (
  SELECT doc_id, text, lang,
         ('0x' || substring(md5('tx45#' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
           / 1152921504606846976.0 AS u
  FROM documents
), train AS (
  SELECT * FROM base WHERE u >= 0.25
), hold AS (
  SELECT * FROM base WHERE u < 0.25
), ttoks AS (
  SELECT lang, t.token
  FROM train, LATERAL (SELECT UNNEST({_TOKS_SQL}) AS token) t
), counts AS (
  SELECT lang, token, COUNT(*) AS cnt FROM ttoks GROUP BY 1, 2
), cstats AS (
  SELECT d.lang, d.n_docs, COALESCE(k.n_tokens, 0) AS n_tokens
  FROM (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY 1) d
  LEFT JOIN (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens
             FROM counts GROUP BY 1) k USING (lang)
), vocab AS (
  SELECT COUNT(DISTINCT token) AS v FROM counts
), total AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cstats
), htoks AS (
  SELECT doc_id, t.token
  FROM hold, LATERAL (SELECT UNNEST({_TOKS_SQL}) AS token) t
), term_rows AS (
  SELECT h.doc_id, c.lang,
         CAST(ROUND(ln((COALESCE(k.cnt, 0) + 1)
                       / (c.n_tokens + vocab.v)), 12)
              AS DECIMAL(25,12)) AS term
  FROM htoks h
  CROSS JOIN cstats c CROSS JOIN vocab
  LEFT JOIN counts k ON k.token = h.token AND k.lang = c.lang
), prior_rows AS (
  SELECT h.doc_id, c.lang,
         CAST(ROUND(ln(c.n_docs / total.n), 12)
              AS DECIMAL(25,12)) AS term
  FROM hold h CROSS JOIN cstats c CROSS JOIN total
), scores AS (
  SELECT doc_id, lang, SUM(term) AS s
  FROM (SELECT * FROM term_rows UNION ALL SELECT * FROM prior_rows)
  GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, lang, s,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY s DESC, lang) AS rk
  FROM scores
), margins AS (
  SELECT b.doc_id, b.lang AS predicted, b.s - x.s AS margin
  FROM (SELECT * FROM ranked WHERE rk = 1) b
  JOIN (SELECT * FROM ranked WHERE rk = 2) x USING (doc_id)
), joined AS (
  SELECT m.predicted, m.margin, h.lang AS true_lang
  FROM margins m JOIN hold h USING (doc_id)
)
SELECT CASE WHEN margin < 1 THEN '0-1'
            WHEN margin < 2 THEN '1-2'
            WHEN margin < 4 THEN '2-4'
            WHEN margin < 8 THEN '4-8'
            ELSE '8+' END AS margin_bin,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN predicted = true_lang THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN predicted = true_lang THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS accuracy
FROM joined
GROUP BY 1 ORDER BY 1
"""


def st17_stream_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING document classification — the DEPLOYED half of the
    tx45 learned filter (streaming.stream_classify_counts): fit NB on
    the batch corpus, compile the bounded top-32-feature scoring table
    (feature selection is what makes the model worker-shippable), then
    classify the documents STREAM and maintain one state row per class
    with the running predicted-count, published as versioned
    corrections. Max-version rows hash-match the batch
    classify-everything GROUP BY oracle regardless of micro-batch
    boundaries.

    Determinism: scoring mirrors tx45 (12dp log terms, label-asc
    ties) restricted to the selected features; the oracle replays fit,
    selection (total count DESC, token ASC, LIMIT 32), scoring, and
    arg-max in CTEs. State bound: one row per class, forever."""
    from paqarin_spark.operators.classify import (
        compile_scoring_table,
        naive_bayes_fit,
    )
    from paqarin_spark.streaming import (
        class_counts_from_emissions,
        stream_classify_counts,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    model = naive_bayes_fit(docs, "text", "lang")
    scoring = compile_scoring_table(model, n_features=32)
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # FileStreamSource needs a glob (direct file paths are rejected);
    # stream_table_glob asserts it resolves to EXACTLY the batch file,
    # so the promised batch/oracle parity cannot silently diverge if
    # the sf dir ever gained a second documents*.parquet file
    stream = spark.readStream.schema(raw_schema).parquet(
        stream_table_glob(spark, sf_dir, "documents")
    )
    emi = stream_classify_counts(stream, scoring, "text")
    name = "st17_stream_classify"
    sink = _run_to_memory(
        spark, emi, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("documents",)),
    )
    return class_counts_from_emissions(sink).orderBy("label")


ST17_SQL = f"""
WITH ttoks AS (
  SELECT lang, t.token
  FROM documents, LATERAL (SELECT UNNEST({_TOKS_SQL}) AS token) t
), counts AS (
  SELECT lang, token, COUNT(*) AS cnt FROM ttoks GROUP BY 1, 2
), cstats AS (
  SELECT d.lang, d.n_docs, COALESCE(k.n_tokens, 0) AS n_tokens
  FROM (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1) d
  LEFT JOIN (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens
             FROM counts GROUP BY 1) k USING (lang)
), vocab AS (
  SELECT COUNT(DISTINCT token) AS v FROM counts
), total AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cstats
), feats AS (
  SELECT token FROM (
    SELECT token, SUM(cnt) AS tot FROM counts GROUP BY 1
    ORDER BY tot DESC, token LIMIT 32
  )
), occ AS (
  SELECT doc_id, t.token
  FROM documents, LATERAL (SELECT UNNEST({_TOKS_SQL}) AS token) t
), term_rows AS (
  SELECT o.doc_id, c.lang,
         CAST(ROUND(ln((COALESCE(k.cnt, 0) + 1)
                       / (c.n_tokens + vocab.v)), 12)
              AS DECIMAL(25,12)) AS term
  FROM occ o
  JOIN feats f USING (token)
  CROSS JOIN cstats c CROSS JOIN vocab
  LEFT JOIN counts k ON k.token = o.token AND k.lang = c.lang
), prior_rows AS (
  SELECT d.doc_id, c.lang,
         CAST(ROUND(ln(c.n_docs / total.n), 12)
              AS DECIMAL(25,12)) AS term
  FROM documents d CROSS JOIN cstats c CROSS JOIN total
), scores AS (
  SELECT doc_id, lang, SUM(term) AS s
  FROM (SELECT * FROM term_rows UNION ALL SELECT * FROM prior_rows)
  GROUP BY 1, 2
), pred AS (
  SELECT doc_id, lang AS predicted FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY s DESC, lang) AS rk
    FROM scores
  ) WHERE rk = 1
)
SELECT predicted AS label, COUNT(*) AS n_docs
FROM pred GROUP BY 1 ORDER BY 1
"""


def tx47_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE surface, value-verified end to end (the other half
    of tx46): train the 6-round merge table, encode the WHOLE corpus
    through operators.corpus.bpe_encode (distinct-word dedup → fold
    application → order-preserving join-back), and rank the top-20
    BPE tokens by occurrence. The oracle re-derives the encode from
    the tx46 round chain's final word table, so any divergence in the
    merge application or the join-back changes the counts.

    Scale shape: encode cost is one distinct-word fold (vocabulary-
    bounded) + one token-keyed join; the rollup is BPE-vocab-keyed."""
    from paqarin_spark.operators import bpe_encode, bpe_train

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    records, _ = bpe_train(docs, "text", rounds=6)
    enc = bpe_encode(docs, records, "text", "doc_id")
    return (
        enc.select(F.explode("bpe_tokens").alias("bpe_token"))
        .groupBy("bpe_token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "bpe_token")
        .limit(20)
    )


def em26_graph_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN SEARCH audit — the SERVE half beside em25's BUILD
    half (operators/similarity.py graph_greedy_search, the HNSW-class
    layer-0 walk): build the EXACT k=10 cosine graph (em1 kernel, so
    search quality is isolated from construction quality), run the
    fixed-entry greedy beam search (beam 8, 6 hops) for every 20th
    vector as a query, and report recall@3 of the walk's final beam
    against the true top-3.

    Determinism: expression cosine 6dp, node-ascending ties, fixed
    minimum-id entry, fixed hops — the oracle unrolls the walk as
    MATERIALIZED CTEs over the same cross-join-derived graph.

    Scale shape: per query per hop the walk touches O(beam · degree)
    candidates — never the corpus; the exact graph build is the
    audit's deliberate brute-force baseline (production builds it
    with nn_descent)."""
    from paqarin_spark.operators import cosine_topk, graph_greedy_search

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    # localCheckpoint: the exact graph feeds the walk AND both audit
    # legs — without it the final collect replays the O(n²) kernel 4
    # more times (plan dump: 4 MapInPandas, 0 ReusedExchange)
    graph = cosine_topk(emb, "vec_id", "embedding", k=10).select(
        F.col("query_id").alias("node"),
        F.col("neighbor_id").alias("nbr"),
        "cos_sim",
    ).localCheckpoint()
    qs = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    beam = graph_greedy_search(
        graph, emb, qs, "vec_id", "embedding", beam=8, hops=6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("node").asc()
    )
    search3 = (
        beam.where(F.col("node") != F.col("query_id"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 3)
        .select("query_id", "node")
    )
    wg = Window.partitionBy("node").orderBy(
        F.col("cos_sim").desc(), F.col("nbr").asc()
    )
    exact3 = (
        graph.join(
            qs.select(F.col("query_id").alias("node")), "node", "left_semi"
        )
        .withColumn("_rk", F.row_number().over(wg))
        .where(F.col("_rk") <= 3)
        .select(F.col("node").alias("query_id"), F.col("nbr").alias("node"))
    )
    flagged = exact3.join(search3, ["query_id", "node"], "left_semi")
    n_q = qs.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        exact3.agg(F.count(F.lit(1)).alias("n_expected"))
        .crossJoin(F.broadcast(flagged.agg(F.count(F.lit(1)).alias("n_hits"))))
        .crossJoin(F.broadcast(n_q))
        .select(
            "n_queries",
            "n_expected",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_expected"), 6).alias(
                "recall_at_3"
            ),
        )
    )


def _em26_sql(
    k_graph: int = 10, beam: int = 8, hops: int = 4, top: int = 3,
    qmod: int = 20,
) -> str:
    """Unrolled CTE replay of graph_greedy_search + its recall audit."""

    def cos(a: str, b: str) -> str:
        return (
            f"ROUND(list_sum(list_transform(range(1, len({a}) + 1),"
            f" t -> {a}[t] * {b}[t]))"
            f" / (sqrt(list_sum(list_transform(range(1, len({a}) + 1),"
            f" t -> {a}[t] * {a}[t])))"
            f" * sqrt(list_sum(list_transform(range(1, len({b}) + 1),"
            f" t -> {b}[t] * {b}[t])))), 6)"
        )

    blocks = [f"""WITH emb AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), graph AS MATERIALIZED (
  SELECT node, nbr, sim FROM (
    SELECT a.id AS node, b.id AS nbr, {cos('a.v', 'b.v')} AS sim,
           ROW_NUMBER() OVER (PARTITION BY a.id
                              ORDER BY {cos('a.v', 'b.v')} DESC, b.id)
             AS rk
    FROM emb a JOIN emb b ON a.id <> b.id
  ) WHERE rk <= {k_graph}
), qs AS MATERIALIZED (
  SELECT id AS qid, v AS qv FROM emb WHERE id % {qmod} = 0
), entry AS (
  SELECT MIN(id) AS nid FROM emb
), f0 AS MATERIALIZED (
  SELECT q.qid, n.id AS nid, {cos('n.v', 'q.qv')} AS sim
  FROM qs q CROSS JOIN entry e JOIN emb n ON n.id = e.nid
), seen0 AS MATERIALIZED (
  SELECT qid, nid FROM f0
)"""]
    for r in range(1, hops + 1):
        p = r - 1
        blocks.append(f""", exp{r} AS MATERIALIZED (
  SELECT DISTINCT f.qid, g.nbr AS nid
  FROM f{p} f JOIN graph g ON g.node = f.nid
  WHERE NOT EXISTS (SELECT 1 FROM seen{p} x
                    WHERE x.qid = f.qid AND x.nid = g.nbr)
), scored{r} AS MATERIALIZED (
  SELECT e.qid, e.nid, {cos('n.v', 'q.qv')} AS sim
  FROM exp{r} e JOIN emb n ON n.id = e.nid JOIN qs q ON q.qid = e.qid
), f{r} AS MATERIALIZED (
  SELECT qid, nid, sim FROM (
    SELECT qid, nid, sim,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim DESC, nid) AS rk
    FROM (SELECT * FROM f{p} UNION ALL SELECT * FROM scored{r})
  ) WHERE rk <= {beam}
), seen{r} AS MATERIALIZED (
  SELECT * FROM seen{p} UNION ALL SELECT qid, nid FROM exp{r}
)""")
    blocks.append(f""", search3 AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim DESC, nid) AS rk
    FROM f{hops} WHERE nid <> qid
  ) WHERE rk <= {top}
), exact3 AS (
  SELECT node AS qid, nbr AS nid FROM (
    SELECT node, nbr,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY sim DESC, nbr) AS rk
    FROM graph WHERE node IN (SELECT qid FROM qs)
  ) WHERE rk <= {top}
), audit AS (
  SELECT e.qid,
         CASE WHEN s.qid IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM exact3 e
  LEFT JOIN search3 s ON s.qid = e.qid AND s.nid = e.nid
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM qs) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_expected,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       ROUND(SUM(hit) / COUNT(*), 6) AS recall_at_3
FROM audit""")
    return "".join(blocks)


EM26_SQL = _em26_sql(10, 8, 6, 3, 20)


def em27_graph_ingest_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental kNN-graph INGEST audit (operators/similarity.py
    nn_descent_ingest) — the graph-family counterpart of em20's IVF
    ingest: hold out every 5th vector, build the exact k=10 graph on
    the remaining 80%, ingest the holdout through greedy search +
    reverse updates + co-neighbor pairs (no full rebuild; old–old
    edges never rescored), and report per-scope recall of the updated
    graph against the exact FULL rebuild — one row for the new nodes'
    lists, one for the refreshed existing lists.

    Determinism: every sim is the 6dp cosine with neighbor-ascending
    ties, fixed entry/hops — the oracle unrolls the search walk, the
    ingest merge, and the rebuild in MATERIALIZED CTEs.

    Scale shape: per new vector the ingest touches O(beam · degree ·
    hops) candidates + its found-list's co-neighbors — never the
    corpus; the full rebuild here is the audit's deliberate
    brute-force baseline."""
    from paqarin_spark.operators import cosine_topk, nn_descent_ingest

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    corpus = emb.where(F.col("vec_id") % 5 != 4)
    new = emb.where(F.col("vec_id") % 5 == 4)
    # localCheckpoints: graph feeds the ingest (twice: walk + merge)
    # and rebuild feeds both audit aggregations — without them the
    # final collect replays the O(n²) kernel 6 more times (plan dump:
    # 6 MapInPandas, 0 ReusedExchange)
    graph = cosine_topk(corpus, "vec_id", "embedding", k=10).select(
        F.col("query_id").alias("node"),
        F.col("neighbor_id").alias("nbr"),
        "cos_sim",
    ).localCheckpoint()
    merged = nn_descent_ingest(
        graph, corpus, new, "vec_id", "embedding", k=10, beam=20, hops=6
    )
    rebuild = cosine_topk(emb, "vec_id", "embedding", k=10).select(
        F.col("query_id").alias("node"),
        F.col("neighbor_id").alias("nbr"),
    ).localCheckpoint()
    flagged = rebuild.join(
        merged.select("node", "nbr"), ["node", "nbr"], "left_semi"
    )
    scope = F.when(F.col("node") % 5 == 4, F.lit("new")).otherwise(
        F.lit("existing")
    )
    expected = rebuild.groupBy(scope.alias("scope")).agg(
        F.countDistinct("node").alias("n_nodes"),
        F.count(F.lit(1)).alias("n_expected"),
    )
    hits = flagged.groupBy(scope.alias("scope")).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        expected.join(hits, "scope", "left")
        .select(
            "scope",
            "n_nodes",
            "n_expected",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_expected"), 6
            ).alias("recall"),
        )
        .orderBy("scope")
    )


def _em27_sql(
    k: int = 10, beam: int = 10, hops: int = 6, mod: int = 5, rem: int = 4
) -> str:
    """Unrolled CTE replay of nn_descent_ingest + its rebuild audit."""

    def cos(a: str, b: str) -> str:
        return (
            f"ROUND(list_sum(list_transform(range(1, len({a}) + 1),"
            f" t -> {a}[t] * {b}[t]))"
            f" / (sqrt(list_sum(list_transform(range(1, len({a}) + 1),"
            f" t -> {a}[t] * {a}[t])))"
            f" * sqrt(list_sum(list_transform(range(1, len({b}) + 1),"
            f" t -> {b}[t] * {b}[t])))), 6)"
        )

    blocks = [f"""WITH emb AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), corpus AS MATERIALIZED (
  SELECT * FROM emb WHERE id % {mod} <> {rem}
), news AS MATERIALIZED (
  SELECT id AS qid, v AS qv FROM emb WHERE id % {mod} = {rem}
), graph AS MATERIALIZED (
  SELECT node, nbr, sim FROM (
    SELECT a.id AS node, b.id AS nbr, {cos('a.v', 'b.v')} AS sim,
           ROW_NUMBER() OVER (PARTITION BY a.id
                              ORDER BY {cos('a.v', 'b.v')} DESC, b.id)
             AS rk
    FROM corpus a JOIN corpus b ON a.id <> b.id
  ) WHERE rk <= {k}
), entry AS (
  SELECT MIN(id) AS nid FROM corpus
), f0 AS MATERIALIZED (
  SELECT q.qid, n.id AS nid, {cos('n.v', 'q.qv')} AS sim
  FROM news q CROSS JOIN entry e JOIN corpus n ON n.id = e.nid
), seen0 AS MATERIALIZED (
  SELECT qid, nid FROM f0
)"""]
    for r in range(1, hops + 1):
        p = r - 1
        blocks.append(f""", exp{r} AS MATERIALIZED (
  SELECT DISTINCT f.qid, g.nbr AS nid
  FROM f{p} f JOIN graph g ON g.node = f.nid
  WHERE NOT EXISTS (SELECT 1 FROM seen{p} x
                    WHERE x.qid = f.qid AND x.nid = g.nbr)
), scored{r} AS MATERIALIZED (
  SELECT e.qid, e.nid, {cos('n.v', 'q.qv')} AS sim
  FROM exp{r} e JOIN corpus n ON n.id = e.nid JOIN news q ON q.qid = e.qid
), f{r} AS MATERIALIZED (
  SELECT qid, nid, sim FROM (
    SELECT qid, nid, sim,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim DESC, nid) AS rk
    FROM (SELECT * FROM f{p} UNION ALL SELECT * FROM scored{r})
  ) WHERE rk <= {beam}
), seen{r} AS MATERIALIZED (
  SELECT * FROM seen{p} UNION ALL SELECT qid, nid FROM exp{r}
)""")
    blocks.append(f""", found AS MATERIALIZED (
  SELECT qid, nid, sim FROM f{hops}
), co_scored AS MATERIALIZED (
  SELECT c.x, c.y, {cos('qa.qv', 'qb.qv')} AS sim
  FROM (
    SELECT DISTINCT a.qid AS x, b.qid AS y
    FROM found a JOIN found b ON a.nid = b.nid AND a.qid < b.qid
  ) c
  JOIN news qa ON qa.qid = c.x JOIN news qb ON qb.qid = c.y
), updated_old AS MATERIALIZED (
  SELECT node, nbr FROM (
    SELECT node, nbr, sim,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY sim DESC, nbr) AS rk
    FROM (SELECT DISTINCT node, nbr, sim FROM (
      SELECT node, nbr, sim FROM graph
      UNION ALL SELECT nid AS node, qid AS nbr, sim FROM found
    ))
  ) WHERE rk <= {k}
), new_lists AS MATERIALIZED (
  SELECT node, nbr FROM (
    SELECT node, nbr, sim,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY sim DESC, nbr) AS rk
    FROM (SELECT DISTINCT node, nbr, sim FROM (
      SELECT qid AS node, nid AS nbr, sim FROM found
      UNION ALL SELECT x AS node, y AS nbr, sim FROM co_scored
      UNION ALL SELECT y AS node, x AS nbr, sim FROM co_scored
    ))
  ) WHERE rk <= {k}
), merged AS MATERIALIZED (
  SELECT * FROM updated_old UNION ALL SELECT * FROM new_lists
), rebuild AS MATERIALIZED (
  SELECT node, nbr FROM (
    SELECT a.id AS node, b.id AS nbr,
           ROW_NUMBER() OVER (PARTITION BY a.id
                              ORDER BY {cos('a.v', 'b.v')} DESC, b.id)
             AS rk
    FROM emb a JOIN emb b ON a.id <> b.id
  ) WHERE rk <= {k}
), audit AS (
  SELECT CASE WHEN r.node % {mod} = {rem} THEN 'new'
              ELSE 'existing' END AS scope,
         r.node,
         CASE WHEN m.node IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM rebuild r
  LEFT JOIN merged m ON m.node = r.node AND m.nbr = r.nbr
)
SELECT scope,
       CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) AS BIGINT) AS n_expected,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       ROUND(SUM(hit) / COUNT(*), 6) AS recall
FROM audit GROUP BY 1 ORDER BY 1""")
    return "".join(blocks)


EM27_SQL = _em27_sql(10, 20, 6, 5, 4)


def gen10_grunet_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RECURRENT executing provider (generators.recurrent.
    GRUNetGenerator — gated recurrent unit, pure-numpy full-batch
    BPTT, zero TF/torch): fit on events, roll out 30 sequences with a
    hidden state warmed on each context and carried through the whole
    rollout, emit long-form samples.

    ROWS-ONLY BY DESIGN (the gen6 precedent; the only two declared
    queries without value oracles are the two executing neural
    providers): BPTT is deterministic — md5 Glorot init, sorted
    bounded batch, fixed epochs, layout-independent weights, all
    pinned by tests/test_neural.py, which also pins the structural
    long-memory win over the feedforward ARNet core (a delay-line
    task the flat window head cannot express) — but not
    single-statement SQL, and the trained weights differ per SF, so
    no static oracle can own them (round-10 adjudication). The
    SAMPLE path is value-oracled separately: gen13 replays the same
    rollout orchestration with frozen md5-Glorot weights against a
    recursive-CTE mirror, leaving ONLY the BPTT fit rows-only. Declaring it makes the driver smoke-prove
    every round that a RECURRENT train/sample lifecycle (the
    reference's TimeGAN/PAR sequence-model seam,
    `paqarin/adapters/ydata_adapter.py:291-322`,
    `sdv_adapter.py:94-119`) actually executes in this environment."""
    from paqarin_spark.generators import GRUNetGenerator

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    gen = GRUNetGenerator(_events_gen_params(), hidden=12, epochs=120).fit(ev)
    out = gen.generate(30)
    gen.unpersist()
    return out.select(
        "sequence_id", F.posexplode("sequence").alias("step", "_obs")
    ).select(
        "sequence_id", "step", F.round(F.col("_obs.value"), 6).alias("value")
    ).orderBy("sequence_id", "step")


def em25_nn_descent_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction via NN-descent (Dong et al., WWW 2011;
    operators/similarity.py nn_descent) plus its recall@k audit vs the
    exact em1 blocked kernel — the graph-based ANN family beside
    IVF/PQ/LSH/binary, and the structure HNSW-class indexes build on.

    The output row is the audit: how much of the TRUE kNN graph did 3
    rounds of neighbor-of-neighbor refinement recover from md5-seeded
    random lists? n_hits/recall pins the FULL final edge set (any
    divergence in any round's candidate generation, scoring, or
    ranking changes the intersection), all as exact integers + one
    ratio.

    Determinism: md5-offset seeds; expression-cosine similarities
    (strict left-fold dot, float64, 6dp) with neighbor-ascending tie
    breaks everywhere; the oracle unrolls the init and all 3 rounds as
    CTE blocks and re-derives the exact graph by cross-join ranking
    (the em24 precedent at the same SFs).

    Scale shape: per round, candidate fanout is O(n·(2k)²) pairs —
    never all-pairs; updates are node-keyed window ranks; edge tables
    localCheckpoint per round. The EXACT side is the audit's oracle
    cost (em1's blocked BLAS kernel, the deliberate brute-force
    baseline); production at 100 TB runs nn_descent alone."""
    from paqarin_spark.operators import cosine_topk, nn_descent

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    approx = nn_descent(emb, "vec_id", "embedding", k=14, rounds=3)
    exact = cosine_topk(emb, "vec_id", "embedding", k=14)
    flagged = exact.join(
        approx,
        (exact.query_id == approx.node)
        & (exact.neighbor_id == approx.nbr),
        "left",
    )
    n_vec = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        flagged.agg(
            F.count(F.lit(1)).alias("n_exact_edges"),
            F.sum(F.col("node").isNotNull().cast("long")).alias("n_hits"),
        )
        .crossJoin(F.broadcast(n_vec))
        .select(
            "n_vectors",
            "n_exact_edges",
            "n_hits",
            F.round(
                F.col("n_hits") / F.col("n_exact_edges"), 6
            ).alias("recall_at_k"),
        )
    )


def _em25_sql(k: int = 6, rounds: int = 3) -> str:
    """Unrolled CTE replay of nn_descent + the exact-graph audit."""

    def cos(a: str, b: str) -> str:
        return (
            f"ROUND(list_sum(list_transform(range(1, len({a}.v) + 1),"
            f" t -> {a}.v[t] * {b}.v[t]))"
            f" / (sqrt(list_sum(list_transform(range(1, len({a}.v) + 1),"
            f" t -> {a}.v[t] * {a}.v[t])))"
            f" * sqrt(list_sum(list_transform(range(1, len({b}.v) + 1),"
            f" t -> {b}.v[t] * {b}.v[t])))), 6)"
        )

    blocks = [f"""WITH emb AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), nn AS (
  SELECT COUNT(*) AS n FROM emb
), init AS (
  SELECT DISTINCT e.id AS node,
         (e.id + 1 + (('0x' || substring(md5('nnd#init#'
              || CAST(e.id AS VARCHAR) || '#' || CAST(s.s AS VARCHAR)),
              1, 15))::UBIGINT % (nn.n - 1))) % nn.n AS nbr
  FROM emb e CROSS JOIN nn,
       LATERAL (SELECT UNNEST(range(1, {k} + 1)) AS s) s
), edges0 AS MATERIALIZED (
  SELECT node, nbr, sim FROM (
    SELECT i.node, i.nbr, {cos('a', 'b')} AS sim,
           ROW_NUMBER() OVER (PARTITION BY i.node
                              ORDER BY {cos('a', 'b')} DESC, i.nbr) AS rk
    FROM init i
    JOIN emb a ON a.id = i.node JOIN emb b ON b.id = i.nbr
  ) WHERE rk <= {k}
)"""]
    for r in range(1, rounds + 1):
        p = r - 1
        blocks.append(f""", revc{r} AS MATERIALIZED (
  SELECT node, nbr, sim FROM (
    SELECT nbr AS node, node AS nbr, sim,
           ROW_NUMBER() OVER (PARTITION BY nbr
                              ORDER BY sim DESC, node) AS rk
    FROM edges{p}
  ) WHERE rk <= {k}
), und{r} AS MATERIALIZED (
  SELECT DISTINCT node, nbr FROM (
    SELECT node, nbr FROM edges{p}
    UNION ALL SELECT node, nbr FROM revc{r}
  )
), cand{r} AS (
  SELECT DISTINCT a.nbr AS x, b.nbr AS y
  FROM und{r} a JOIN und{r} b
    ON a.node = b.node AND a.nbr < b.nbr
), scored{r} AS MATERIALIZED (
  SELECT c.x, c.y, {cos('a', 'b')} AS sim
  FROM cand{r} c JOIN emb a ON a.id = c.x JOIN emb b ON b.id = c.y
), edges{r} AS MATERIALIZED (
  SELECT node, nbr, sim FROM (
    SELECT node, nbr, sim,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY sim DESC, nbr) AS rk
    FROM (SELECT DISTINCT node, nbr, sim FROM (
      SELECT node, nbr, sim FROM edges{p}
      UNION ALL SELECT x AS node, y AS nbr, sim FROM scored{r}
      UNION ALL SELECT y AS node, x AS nbr, sim FROM scored{r}
    ))
  ) WHERE rk <= {k}
)""")
    blocks.append(f""", exact AS (
  SELECT qid, nid FROM (
    SELECT a.id AS qid, b.id AS nid,
           ROW_NUMBER() OVER (PARTITION BY a.id
                              ORDER BY {cos('a', 'b')} DESC, b.id) AS rk
    FROM emb a JOIN emb b ON a.id <> b.id
  ) WHERE rk <= {k}
), audit AS (
  SELECT e.qid,
         CASE WHEN d.node IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM exact e
  LEFT JOIN edges{rounds} d ON d.node = e.qid AND d.nbr = e.nid
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM emb) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS n_exact_edges,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       ROUND(SUM(hit) / COUNT(*), 6) AS recall_at_k
FROM audit""")
    return "".join(blocks)


EM25_SQL = _em25_sql(14, 3)


# --------------------------------------------------------------------------
# Round-8 additions


def em28_pca_label_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA of the embedding corpus + per-label centroid
    coordinates in the principal plane (operators.similarity.pca_top2
    / pca_label_projection) — the class-separation and
    drift-visualization audit over labeled embeddings, and the first
    query to exercise Hotelling DEFLATION (second eigenpair), not just
    the dominant one (em22).

    ORACLE: unrolls BOTH power-iteration chains (6 rounds each on the
    em22 decimal lattice), the rank-1 deflation, and the
    label-sum projection — the hash match proves the whole
    decomposition arithmetic. By linearity the per-label mean
    projection equals the projection of the label's exact-decimal
    mean vector, so no per-row score ever materializes.

    Scale shape: corpus touched twice (covariance pass + label-sum
    pass, both partial-aggregatable); everything else is d×d- or
    (labels × d)-bounded."""
    from paqarin_spark.operators import pca_label_projection

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return pca_label_projection(
        emb, "embedding", "label", iterations=6
    ).orderBy("label")


def _em28_sql(width: int = 64, iterations: int = 6) -> str:
    # Every stage CTE is MATERIALIZED (the em25/em27 precedent):
    # DuckDB inlines plain CTEs per reference, and the stacked
    # iteration chains would re-expand the covariance scan
    # exponentially (observed: file-handle exhaustion at 2 chains).
    def chain(tag: str, mat: str) -> str:
        its = []
        for t in range(1, iterations + 1):
            its.append(f"""
w{tag}{t} AS MATERIALIZED (
  SELECT m.i,
         CAST(SUM(CAST(ROUND(m.cov * v.vj, 12) AS DECIMAL(30,12)))
              AS DOUBLE) AS wi
  FROM {mat} m JOIN v{tag}{t-1} v ON v.j = m.j
  GROUP BY m.i
), n{tag}{t} AS MATERIALIZED (
  SELECT SQRT(CAST(SUM(CAST(ROUND(wi * wi, 12) AS DECIMAL(38,12)))
              AS DOUBLE)) AS nrm
  FROM w{tag}{t}
), v{tag}{t} AS MATERIALIZED (
  SELECT w.i AS j, ROUND(w.wi / n.nrm, 6) AS vj
  FROM w{tag}{t} w CROSS JOIN n{tag}{t} n
)""")
        return ",".join(its)

    last = iterations
    return f"""
WITH cov AS MATERIALIZED (
  SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
         ROUND(COVAR_POP(xi, xj), 6) + 0.0 AS cov
  FROM (
    SELECT a.i, a.xi, b.j, b.xj
    FROM embeddings e,
    LATERAL (
      SELECT generate_subscripts(embedding, 1) - 1 AS i,
             UNNEST(embedding) AS xi
    ) a,
    LATERAL (
      SELECT generate_subscripts(embedding, 1) - 1 AS j,
             UNNEST(embedding) AS xj
    ) b
    WHERE a.i <= b.j
  ) GROUP BY i, j
), mat AS MATERIALIZED (
  SELECT i, j, cov FROM cov
  UNION ALL
  SELECT j AS i, i AS j, cov FROM cov WHERE i <> j
), va0 AS (
  SELECT UNNEST(range({width})) AS j, 1.0 AS vj
),{chain('a', 'mat')}, pc1 AS MATERIALIZED (
  SELECT j AS i, vj AS v FROM va{last}
), l1 AS MATERIALIZED (
  SELECT ROUND(nrm, 6) AS lam FROM na{last}
), cov2 AS MATERIALIZED (
  SELECT c.i, c.j,
         ROUND(c.cov - ROUND(l.lam * a.v * b.v, 12), 6) + 0.0 AS cov
  FROM cov c
  JOIN pc1 a ON a.i = c.i
  JOIN pc1 b ON b.i = c.j
  CROSS JOIN l1 l
), mat2 AS MATERIALIZED (
  SELECT i, j, cov FROM cov2
  UNION ALL
  SELECT j AS i, i AS j, cov FROM cov2 WHERE i <> j
), vb0 AS (
  SELECT UNNEST(range({width})) AS j, 1.0 AS vj
),{chain('b', 'mat2')}, l2 AS MATERIALIZED (
  SELECT ROUND(nrm, 6) AS lam FROM nb{last}
), loadings AS MATERIALIZED (
  SELECT 1 AS component, i, v FROM pc1
  UNION ALL
  SELECT 2 AS component, j AS i, vj AS v FROM vb{last}
), ls AS MATERIALIZED (
  SELECT label, a.i,
         SUM(CAST(ROUND(a.x, 12) AS DECIMAL(38,12))) AS s,
         COUNT(*) AS n
  FROM embeddings e,
  LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS i,
           UNNEST(embedding)::DOUBLE AS x
  ) a
  GROUP BY label, a.i
), terms AS MATERIALIZED (
  SELECT s.label, s.n, l.component,
         CAST(ROUND(l.v * CAST(s.s AS DOUBLE), 12) AS DECIMAL(38,12)) AS t
  FROM ls s JOIN loadings l ON l.i = s.i
), agg AS MATERIALIZED (
  SELECT label, MAX(n) AS n_vectors,
         CAST(SUM(CASE WHEN component = 1 THEN t END) AS DOUBLE) AS t1,
         CAST(SUM(CASE WHEN component = 2 THEN t END) AS DOUBLE) AS t2
  FROM terms GROUP BY label
)
SELECT CAST(a.label AS INTEGER) AS label,
       CAST(a.n_vectors AS BIGINT) AS n_vectors,
       ROUND(a.t1 / a.n_vectors, 6) + 0.0 AS mean_pc1,
       ROUND(a.t2 / a.n_vectors, 6) + 0.0 AS mean_pc2,
       l1.lam + 0.0 AS lam1,
       l2.lam + 0.0 AS lam2
FROM agg a CROSS JOIN l1 CROSS JOIN l2
ORDER BY label
"""


EM28_SQL = _em28_sql()


TX49_BLOCKLIST = [
    "table hash",
    "part filter",
    "customer join",
    "slow query",
    "scan slow",
    "sort merge",
    "hash join",
    "big data",
    "drop table",
    "never matches",
]


def tx49_blocklist_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-blocklist content filter (operators.corpus.
    blocklist_phrase_hits) — the banned-phrase gate of the C4/CCNet
    curation funnels, as the per-phrase reach report: document counts
    and non-distinct occurrence totals for every phrase on the list,
    zero-hit phrases included (the dashboard must show the whole
    list). Exact word-bigram matching on the shared normalized token
    alphabet — a blocklist must not fire inside larger words, so no
    substring LIKE.

    Scale shape: blocklist bounded by construction → broadcast hash
    join keyed on the gram; the corpus side is one tokenize + n-gram
    explode, no corpus-sized shuffle; output is |blocklist| rows."""
    from paqarin_spark.operators import blocklist_phrase_hits

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    return blocklist_phrase_hits(
        docs, "text", "doc_id", TX49_BLOCKLIST, n=2
    ).orderBy("phrase")


TX49_SQL = """
WITH blk AS (
  SELECT * FROM (VALUES
    ('table hash'), ('part filter'), ('customer join'), ('slow query'),
    ('scan slow'), ('sort merge'), ('hash join'), ('big data'),
    ('drop table'), ('never matches')
  ) v(phrase)
), toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                                          'g')), ' ') AS ts
  FROM documents
), grams AS (
  SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS gram
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(ts))) AS i)
  WHERE len(ts) >= 2
), hits AS (
  SELECT g.gram AS phrase,
         COUNT(DISTINCT g.doc_id) AS n_docs,
         COUNT(*) AS n_hits
  FROM grams g JOIN blk b ON b.phrase = g.gram
  GROUP BY 1
)
SELECT b.phrase,
       CAST(COALESCE(h.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
FROM blk b LEFT JOIN hits h ON h.phrase = b.phrase
ORDER BY b.phrase
"""


def ev18_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test (metrics.errors.
    paired_permutation_test) between two one-step-ahead forecasting
    heads — lag-1 naive vs the 4-lag moving average — on per-user MAE:
    the SIGNIFICANCE check missing beside the point metrics (ev5/ev11
    report errors; this reports whether the difference beats chance).
    200 md5-keyed sign permutations (the q72 draw construction), exact
    DECIMAL sums, and the |mean| comparison reduced to the exact SUMS
    (same n every permutation) so no float division sits near the
    decision boundary. Two-sided add-one p-value.

    Scale shape: the corpus reduces to one diff row per user before
    the rounds × users fan-out (linear, partial-aggregatable, 200
    groups); the ORACLE replays every stage including all 200
    permutation statistics."""
    from paqarin_spark.metrics.errors import paired_permutation_test

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.where(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("_l1"),
        F.lag("value", 2).over(w).alias("_l2"),
        F.lag("value", 3).over(w).alias("_l3"),
        F.lag("value", 4).over(w).alias("_l4"),
    )
    scored = lagged.where(F.col("_l4").isNotNull()).select(
        "user_id",
        F.round(F.abs(F.col("value") - F.col("_l1")), 12)
        .cast("decimal(38,12)")
        .alias("_ea"),
        F.round(
            F.abs(
                F.col("value")
                - F.round(
                    (
                        F.col("_l1")
                        + F.col("_l2")
                        + F.col("_l3")
                        + F.col("_l4")
                    )
                    / F.lit(4.0),
                    12,
                )
            ),
            12,
        )
        .cast("decimal(38,12)")
        .alias("_eb"),
    )
    diffs = scored.groupBy("user_id").agg(
        F.round(
            F.round(
                F.sum("_ea").cast("double") / F.count(F.lit(1)), 12
            )
            - F.round(
                F.sum("_eb").cast("double") / F.count(F.lit(1)), 12
            ),
            12,
        ).alias("_diff")
    )
    return paired_permutation_test(
        diffs, "user_id", "_diff", rounds=200, seed="ev18"
    )


EV18_SQL = """
WITH lagged AS (
  SELECT user_id, value,
         LAG(value, 1) OVER w AS l1,
         LAG(value, 2) OVER w AS l2,
         LAG(value, 3) OVER w AS l3,
         LAG(value, 4) OVER w AS l4
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), scored AS (
  SELECT user_id,
         CAST(ROUND(ABS(value - l1), 12) AS DECIMAL(38,12)) AS ea,
         CAST(ROUND(ABS(value - ROUND((l1 + l2 + l3 + l4) / 4.0, 12)), 12)
              AS DECIMAL(38,12)) AS eb
  FROM lagged WHERE l4 IS NOT NULL
), diffs AS (
  SELECT CAST(user_id AS VARCHAR) AS k,
         CAST(ROUND(ROUND(CAST(SUM(ea) AS DOUBLE) / COUNT(*), 12)
                    - ROUND(CAST(SUM(eb) AS DOUBLE) / COUNT(*), 12), 12)
              AS DECIMAL(38,12)) AS d
  FROM scored GROUP BY user_id
), obs AS (
  SELECT COUNT(*) AS n, SUM(d) AS t_obs FROM diffs
), perms AS (
  SELECT r.r,
         SUM(CASE WHEN ('0x' || substring(md5('ev18#' || r.r || '#' || k),
               1, 15))::UBIGINT / 1152921504606846976.0 < 0.5
             THEN d ELSE -d END) AS t
  FROM diffs, (SELECT UNNEST(range(1, 201)) AS r) r
  GROUP BY r.r
), ext AS (
  SELECT SUM(CASE WHEN ABS(t) >= (SELECT ABS(t_obs) FROM obs)
             THEN 1 ELSE 0 END) AS n_extreme
  FROM perms
)
SELECT CAST(o.n AS BIGINT) AS n_units,
       ROUND(CAST(o.t_obs AS DOUBLE) / o.n, 6) + 0.0 AS mean_diff,
       CAST(e.n_extreme AS BIGINT) AS n_extreme,
       ROUND((1 + e.n_extreme) / 201.0, 6) AS p_value
FROM obs o CROSS JOIN ext e
"""


def mm15_tar_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar shard WRITE → READ round-trip
    (multimodal.tar_shards_from_docs / tar_members_table): the corpus
    packs into 8 honest POSIX-ustar archives (512-byte headers,
    space-seeded checksums — encode_ustar), the reader walks the raw
    bytes back out with checksums re-verified, and the report proves
    PAYLOAD fidelity: per-shard member counts, byte totals, name range,
    and the q72 md5-prefix content digest computed from the EXTRACTED
    payload bytes. The ORACLE computes the same manifest straight from
    the documents table, so a hash match means every byte survived the
    container. tests/test_multimodal.py cross-validates the format
    against the stdlib tarfile module in both directions.

    Scale shape: one groupBy on the shard key to write (each task
    builds one shard — the caller sizes shard count, the same contract
    real shard writers have), one mapInPandas to read; no driver
    involvement."""
    from paqarin_spark.multimodal import (
        tar_members_table,
        tar_shards_from_docs,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    shards = tar_shards_from_docs(docs, "doc_id", "text", num_shards=8)
    members = tar_members_table(shards)
    return (
        members.select(
            "shard_id",
            "name",
            "size",
            F.conv(F.substring(F.md5("payload"), 1, 15), 16, 10)
            .cast("decimal(38,0)")
            .alias("_h"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("size").cast("bigint").alias("total_payload_bytes"),
            F.min("name").alias("first_member"),
            F.max("name").alias("last_member"),
            (F.sum("_h").cast("decimal(38,0)") % F.lit(1 << 61))
            .cast("bigint")
            .alias("content_digest"),
        )
        .orderBy("shard_id")
    )


MM15_SQL = """
WITH m AS (
  SELECT CAST(doc_id % 8 AS INTEGER) AS shard_id,
         lpad(CAST(doc_id AS VARCHAR), 12, '0') || '.txt' AS name,
         octet_length(encode(COALESCE(text, ''))) AS nbytes,
         CAST(('0x' || substring(md5(COALESCE(text, '')), 1, 15))::UBIGINT
              AS DECIMAL(38,0)) AS h
  FROM documents
)
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(nbytes) AS BIGINT) AS total_payload_bytes,
       MIN(name) AS first_member,
       MAX(name) AS last_member,
       CAST(CAST(SUM(h) AS DECIMAL(38,0)) % 2305843009213693952 AS BIGINT)
         AS content_digest
FROM m GROUP BY shard_id ORDER BY shard_id
"""


def st18_stream_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING prequential anomaly detection (streaming.
    stream_ewma_anomaly): every event scores against the EWMA of its
    per-user predecessors (|x − s_prev| > 100 after 5 warmup events),
    then folds in — the online outlier monitor, and the registry's
    first ORDER-DEPENDENT stateful dual (st1–st17 fold order-free).
    NULL/NaN values are excluded in the staging projection and the
    oracle's WHERE mirrors it (the st14/st15 symmetry discipline).

    ORACLE: a recursive CTE replays the identical IEEE recurrence
    (exact-binary coefficients 0.75/0.25, fixed event-time fold order)
    per user — the hash match proves the streaming fold IS the
    sequential replay, not an approximation of it.

    Scale shape: one row of state per user (two watermark scalars +
    the EWMA + counters); one user-keyed exchange per micro-batch."""
    from paqarin_spark.streaming import (
        ewma_from_emissions,
        stream_ewma_anomaly,
    )

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir).where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    emi = stream_ewma_anomaly(stream, warmup=5, threshold=100.0)
    name = "st18_stream_ewma_anomaly"
    sink = _run_to_memory(
        spark, emi, name, "append",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return ewma_from_emissions(sink).orderBy("user_id")


ST18_SQL = """
WITH RECURSIVE src AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
), step AS (
  SELECT user_id, rn, value, CAST(value AS DOUBLE) AS s, 0 AS flagged
  FROM src WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.value,
         0.75 * st.s + 0.25 * o.value AS s,
         CASE WHEN o.rn > 5 AND ABS(o.value - st.s) > 100.0
              THEN 1 ELSE 0 END AS flagged
  FROM step st JOIN src o
    ON o.user_id = st.user_id AND o.rn = st.rn + 1
)
SELECT user_id,
       CAST(MAX(rn) AS BIGINT) AS n_events,
       CAST(SUM(flagged) AS BIGINT) AS n_anomalies,
       CAST(0 AS BIGINT) AS n_late,
       ROUND(arg_max(s, rn), 6) AS ewma
FROM step GROUP BY user_id ORDER BY user_id
"""


def tx48_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (operators.corpus.textrank_keywords
    — Mihalcea & Tarau 2004): top-20 corpus keywords by PageRank over
    the word co-occurrence graph (top-128 df-gated vocabulary, window
    2, 3 damped rounds through operators.graph.pagerank). The ORACLE
    rebuilds the graph and unrolls the same 3 rounds in CTEs (the q69
    replay) and ranks on the 6dp-ROUNDED score with token tie-breaks,
    so the cut sits on the lattice, not on last-ulp float order.

    Scale shape: pair stage is an equality join on (doc, position)
    with fanout exactly `window` per token; the vocabulary gate is a
    TakeOrderedAndProject; pagerank iterates on a ≤128-node graph."""
    from paqarin_spark.operators import textrank_keywords

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    return textrank_keywords(
        docs, "text", "doc_id",
        vocab_size=128, window=2, iterations=3, top_k=20,
    )


def _tx48_sql(
    vocab_size: int = 128,
    window: int = 2,
    iterations: int = 3,
    top_k: int = 20,
) -> str:
    rounds = []
    for t in range(1, iterations + 1):
        rounds.append(f"""
i{t} AS (
  SELECT d, SUM(r.rank * f.frac) AS infl
  FROM f JOIN r{t-1} r ON f.s = r.node
  GROUP BY 1
), d{t} AS (
  SELECT COALESCE(SUM(rank), 0) AS dm FROM r{t-1}
  WHERE node NOT IN (SELECT s FROM ow)
), r{t} AS (
  SELECT nn AS node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         + CAST(0.85 AS DOUBLE) * (COALESCE(infl, 0) + dm / n) AS rank
  FROM nodes LEFT JOIN i{t} ON nn = i{t}.d CROSS JOIN d{t} CROSS JOIN nc
)""")
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, t.pos, t.tok
  FROM documents,
  LATERAL (
    SELECT UNNEST(string_split(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ')) AS tok,
           generate_subscripts(string_split(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' '), 1) - 1 AS pos
  ) t
  WHERE t.tok <> ''
), gate AS MATERIALIZED (
  SELECT tok FROM (
    SELECT tok, COUNT(DISTINCT doc_id) AS df_
    FROM toks GROUP BY tok
  ) ORDER BY df_ DESC, tok LIMIT {vocab_size}
), cand AS MATERIALIZED (
  SELECT doc_id, pos, tok FROM toks JOIN gate USING (tok)
), und AS MATERIALIZED (
  SELECT LEAST(a.tok, b.tok) AS u, GREATEST(a.tok, b.tok) AS v,
         COUNT(*) AS w
  FROM cand a JOIN cand b
    ON a.doc_id = b.doc_id
   AND b.pos BETWEEN a.pos + 1 AND a.pos + {window}
  WHERE a.tok <> b.tok
  GROUP BY 1, 2
), e AS MATERIALIZED (
  SELECT u AS s, v AS d, w FROM und
  UNION ALL
  SELECT v AS s, u AS d, w FROM und
), nodes AS MATERIALIZED (
  SELECT DISTINCT nn FROM (SELECT s AS nn FROM e UNION SELECT d FROM e)
), nc AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), ow AS MATERIALIZED (
  SELECT s, SUM(w) AS ow FROM e GROUP BY 1
), f AS MATERIALIZED (
  SELECT e.s, e.d, CAST(e.w AS DOUBLE) / CAST(ow.ow AS DOUBLE) AS frac
  FROM e JOIN ow USING (s)
), r0 AS (
  SELECT nn AS node, 1.0 / n AS rank FROM nodes CROSS JOIN nc
),{",".join(rounds)}
SELECT CAST(ROW_NUMBER() OVER (ORDER BY ROUND(rank, 6) DESC, node)
            AS INTEGER) AS rk,
       node AS token,
       ROUND(rank, 6) AS score
FROM r{iterations}
ORDER BY ROUND(rank, 6) DESC, node
LIMIT {top_k}
"""


TX48_SQL = _tx48_sql()


def em29_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier audit (operators.similarity.zscore_outliers):
    top-20 most anomalous vectors by per-dimension z-score energy
    Σ z² (diagonal Mahalanobis) — the corrupted-embedding detector a
    curation pipeline runs before indexing. Stats pass is d-bounded
    partial aggregates; scoring is ONE scan with the stats broadcast
    as a packed array row and the z² terms folded in exact decimal
    inside the expression (no per-element join, no row-id shuffle);
    top-k is a TakeOrderedAndProject. ORACLE replays mean/std on the
    12dp lattice, the identical fold, and ranks on the 6dp score with
    id tie-breaks."""
    from paqarin_spark.operators import zscore_outliers

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return zscore_outliers(emb, "vec_id", "embedding", top_k=20)


EM29_SQL = """
WITH el AS MATERIALIZED (
  SELECT e.vec_id, a.i, a.x
  FROM embeddings e,
  LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS i,
           UNNEST(embedding)::DOUBLE AS x
  ) a
), st AS MATERIALIZED (
  SELECT i,
         ROUND(CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*), 12) AS mu,
         ROUND(SQRT(GREATEST(
           ROUND(CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12)))
                      AS DOUBLE) / COUNT(*)
                 - ROUND(ROUND(CAST(SUM(CAST(ROUND(x, 12)
                                             AS DECIMAL(38,12)))
                                    AS DOUBLE) / COUNT(*), 12)
                         * ROUND(CAST(SUM(CAST(ROUND(x, 12)
                                               AS DECIMAL(38,12)))
                                      AS DOUBLE) / COUNT(*), 12), 12),
                 12), 0.0)), 12) AS sd
  FROM el GROUP BY i
), zc AS (
  -- |z| clamped at 1e12 before squaring (mirrors the operator): a
  -- corrupted element's unclamped z² would overflow DECIMAL(38,12).
  -- The CASE guards BOTH sd=0 division and NULL elements (LEAST/
  -- GREATEST skip NULLs, which would turn a NULL x into -1e12).
  SELECT el.vec_id,
         CASE WHEN el.x IS NULL OR st.sd <= 0 THEN NULL
              ELSE LEAST(GREATEST(ROUND((el.x - st.mu) / st.sd, 12),
                                  -1e12), 1e12) END AS z
  FROM el JOIN st USING (i)
), scored AS (
  SELECT vec_id,
         ROUND(CAST(SUM(CASE WHEN z IS NOT NULL
           THEN CAST(ROUND(z * z, 12) AS DECIMAL(38,12))
           ELSE CAST(0.0 AS DECIMAL(38,12)) END) AS DOUBLE), 6) AS score
  FROM zc
  GROUP BY vec_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY s.score DESC, s.vec_id)
            AS INTEGER) AS rk,
       s.vec_id, e.label, s.score
FROM scored s JOIN embeddings e USING (vec_id)
ORDER BY s.score DESC, s.vec_id
LIMIT 20
"""


def ev19_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval (metrics.errors.
    bootstrap_ci) for the mean of the per-user average event value —
    the uncertainty quantification beside ev18's significance test.
    200 resamples draw each unit's multiplicity from a truncated
    Poisson(1) via the portable md5 uniform (the bootstrap that needs
    no global n, so it distributes); the interval is the
    [floor(0.025·R)+1, R−floor(0.025·R)] order statistics of the
    replicate means, tie-broken by replicate index. ORACLE replays
    every draw, every exact-decimal weighted sum, and the rank pick."""
    from paqarin_spark.metrics.errors import bootstrap_ci

    ev = _events(spark, sf_dir)
    units = (
        ev.where(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("value"), 12).cast("decimal(38,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                12,
            ).alias("_m")
        )
    )
    return bootstrap_ci(units, "user_id", "_m", rounds=200, seed="ev19")


EV19_SQL = """
WITH units AS (
  SELECT CAST(user_id AS VARCHAR) AS k,
         CAST(ROUND(CAST(SUM(CAST(ROUND(value, 12) AS DECIMAL(38,12)))
                         AS DOUBLE) / COUNT(*), 12)
              AS DECIMAL(38,12)) AS x
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY user_id
), base AS (
  SELECT COUNT(*) AS n, SUM(x) AS s FROM units
), draws AS (
  SELECT r.r, u.x,
         ('0x' || substring(md5('ev19#' || r.r || '#' || u.k), 1, 15))
           ::UBIGINT / 1152921504606846976.0 AS uu
  FROM units u, (SELECT UNNEST(range(1, 201)) AS r) r
), stats AS (
  SELECT r,
         SUM(CASE WHEN uu < 0.3678794411714423
                    THEN CAST(0 AS DECIMAL(38,12))
                  WHEN uu < 0.7357588823428846 THEN x
                  WHEN uu < 0.9196986029286058
                    THEN CAST(x + x AS DECIMAL(38,12))
                  WHEN uu < 0.9810118431238462
                    THEN CAST(x + x + x AS DECIMAL(38,12))
                  ELSE CAST(x + x + x + x AS DECIMAL(38,12)) END) AS ss,
         SUM(CASE WHEN uu < 0.3678794411714423 THEN 0
                  WHEN uu < 0.7357588823428846 THEN 1
                  WHEN uu < 0.9196986029286058 THEN 2
                  WHEN uu < 0.9810118431238462 THEN 3
                  ELSE 4 END) AS ww
  FROM draws GROUP BY r
), kept AS (
  SELECT r, ROUND(CAST(ss AS DOUBLE) / ww, 12) AS t
  FROM stats WHERE ww > 0
), ranked AS (
  SELECT t, ROW_NUMBER() OVER (ORDER BY t, r) AS rk,
         COUNT(*) OVER () AS c
  FROM kept
), ci AS (
  SELECT MAX(c) AS n_rounds,
         MAX(CASE WHEN rk = FLOOR(0.025 * c) + 1 THEN t END) AS lo,
         MAX(CASE WHEN rk = c - FLOOR(0.025 * c) THEN t END) AS hi
  FROM ranked
)
SELECT CAST(b.n AS BIGINT) AS n_units,
       ROUND(CAST(b.s AS DOUBLE) / b.n, 6) + 0.0 AS mean_value,
       CAST(ci.n_rounds AS BIGINT) AS n_rounds,
       ROUND(ci.lo, 6) + 0.0 AS ci_lo,
       ROUND(ci.hi, 6) + 0.0 AS ci_hi
FROM base b CROSS JOIN ci
"""


def st19_stream_phrase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING phrase-blocklist counter — the DEPLOYED half of tx49
    (streaming.stream_phrase_hits): documents stream through the
    stateless n-gram projection with the bounded blocklist shipped as
    a literal IN-set, and one state row per phrase accumulates the
    running occurrence count under versioned corrections. The
    finisher restores zero-hit phrases from the list, so max-version
    rows hash-match the batch per-phrase occurrence counts (tx49's
    n_hits column) regardless of micro-batch boundaries. Document
    REACH (n_docs) is deliberately batch-only — per-doc memory is
    unbounded state (documented in the operator).

    State bound: |blocklist| rows, forever; only matching grams reach
    the stateful exchange."""
    from paqarin_spark.streaming import (
        phrase_hits_from_emissions,
        stream_phrase_hits,
    )

    configure_for_determinism(spark)
    read_table(spark, sf_dir, "documents")  # pins session read confs
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # FileStreamSource needs a glob (direct file paths are rejected);
    # stream_table_glob asserts it resolves to EXACTLY the batch file,
    # so the promised batch/oracle parity cannot silently diverge if
    # the sf dir ever gained a second documents*.parquet file
    stream = spark.readStream.schema(raw_schema).parquet(
        stream_table_glob(spark, sf_dir, "documents")
    )
    emi = stream_phrase_hits(stream, "text", TX49_BLOCKLIST, n=2)
    name = "st19_stream_phrase_hits"
    # the stateful exchange holds ≤|blocklist| keys forever — cap its
    # width instead of inheriting the session's full shuffle fanout
    sink = _run_to_memory(spark, emi, name, "append", 8)
    return phrase_hits_from_emissions(sink, TX49_BLOCKLIST).orderBy("phrase")


ST19_SQL = """
WITH blk AS (
  SELECT * FROM (VALUES
    ('table hash'), ('part filter'), ('customer join'), ('slow query'),
    ('scan slow'), ('sort merge'), ('hash join'), ('big data'),
    ('drop table'), ('never matches')
  ) v(phrase)
), toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                                          'g')), ' ') AS ts
  FROM documents
), grams AS (
  SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS gram
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(ts))) AS i)
  WHERE len(ts) >= 2
), hits AS (
  SELECT g.gram AS phrase, COUNT(*) AS n_hits
  FROM grams g JOIN blk b ON b.phrase = g.gram
  GROUP BY 1
)
SELECT b.phrase,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
FROM blk b LEFT JOIN hits h ON h.phrase = b.phrase
ORDER BY b.phrase
"""


def ev20_memorization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator MEMORIZATION audit — the "did the generator copy its
    training data" check every generative-data pipeline runs before
    releasing synthetic text (Carlini et al.'s n-gram overlap
    instantiation): regenerate gen9's 30 Markov walks, shingle each
    into word 4-grams (the SAME corpus.word_ngrams projection the
    blocklist gate uses), and report per-sequence how many grams
    appear verbatim anywhere in the training corpus. A first-order
    chain SHOULD memorize heavily — the audit's value is the exact
    number, not a pass/fail.

    ORACLE: extends the gen9 recursive-CTE walk replay with the gram
    join, so the hash match proves sample regeneration AND the overlap
    accounting. NULL walk steps (a dead-end state) are dropped on both
    sides before shingling — concat_ws skips NULLs where SQL ||
    propagates them, so the contract is made explicit rather than
    latent.

    Scale shape: corpus grams are a tokenize + n-gram explode +
    distinct (gram-keyed); the generated side is 30×5 grams; the
    membership join is gram-keyed and unhinted (AQE broadcasts the
    tiny generated side)."""
    from paqarin_spark.generator import GeneratorParameters
    from paqarin_spark.generators import MarkovEventGenerator
    from paqarin_spark.operators.corpus import word_ngrams
    from paqarin_spark.operators.dedup import normalized_text
    from paqarin_spark.schema import TimeSeriesSchema

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(normalized_text(F.col("text")), " ")
        ).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    schema = TimeSeriesSchema(
        item_id_columns=("doc_id",),
        timestamp_column="pos",
        value_columns=("pos",),
        frequency="D",
        order_columns=("pos",),
    )
    params = GeneratorParameters(schema=schema, sequence_length=8, seed=13)
    gen = MarkovEventGenerator(params, category_column="tok").fit(toks)
    walks = gen.generate(30, seed=13)
    seqs = (
        walks.where(F.col("tok").isNotNull())
        .groupBy("sequence_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "tok"))),
                lambda s: s["tok"],
            ).alias("_ts")
        )
    )
    ggrams = seqs.select(
        "sequence_id", F.explode(word_ngrams(F.col("_ts"), 4)).alias("_g")
    )
    # the normalized alphabet cannot produce interior '' tokens, and
    # word_ngrams returns [] below 4 tokens — no per-component filter
    # needed on either engine (the oracle guards len(t) >= 4 the same
    # way)
    # membership, not enumeration: the audit only needs corpus grams
    # that MATCH one of the <=150 generated grams (30 walks x <=5
    # 4-grams), so the bounded generated set broadcasts as a semi-join
    # filter BELOW the distinct — the full corpus gram set is scanned
    # once but never shuffled (the old plan distinct-shuffled every
    # corpus 4-gram before the join; 11.8 s -> 8.0 s at sf0.1)
    gset = ggrams.select("_g").distinct()
    cgrams = (
        docs.select(
            F.split(normalized_text(F.col("text")), " ").alias("_ct")
        )
        .select(F.explode(word_ngrams(F.col("_ct"), 4)).alias("_g"))
        .join(F.broadcast(gset), on="_g", how="left_semi")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_seq = (
        ggrams.join(cgrams, on="_g", how="left")
        .groupBy("sequence_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias(
                "n_memorized"
            ),
        )
    )
    return (
        seqs.select("sequence_id")
        .join(per_seq, on="sequence_id", how="left")
        .select(
            "sequence_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_memorized", F.lit(0)).cast("long").alias(
                "n_memorized"
            ),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.round(
                    F.col("n_memorized") / F.col("n_grams"), 6
                ),
            ).alias("memorization_rate"),
        )
        .orderBy("sequence_id")
    )


def _ev20_sql() -> str:
    walk_core = GEN9_SQL[GEN9_SQL.index("WITH RECURSIVE"):GEN9_SQL.index(
        "SELECT sequence_id, step, tok FROM walk"
    )].rstrip().rstrip(",")
    return walk_core + """,
seqs AS (
  SELECT sequence_id, list(tok ORDER BY step) AS ts
  FROM walk WHERE tok IS NOT NULL
  GROUP BY sequence_id
),
ggrams AS (
  SELECT sequence_id,
         ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] || ' ' || ts[i + 3]
           AS g
  FROM seqs, LATERAL (SELECT UNNEST(range(1, len(ts) - 2)) AS i)
  WHERE len(ts) >= 4
),
cgrams AS (
  SELECT DISTINCT
         t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS g
  FROM (
    SELECT string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                                            'g')), ' ') AS t
    FROM documents
  ) x, LATERAL (SELECT UNNEST(range(1, len(t) - 2)) AS i)
  WHERE len(t) >= 4
),
per_seq AS (
  SELECT gg.sequence_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END) AS n_memorized
  FROM ggrams gg LEFT JOIN cgrams c ON c.g = gg.g
  GROUP BY 1
)
SELECT s.sequence_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_memorized, 0) AS BIGINT) AS n_memorized,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN ROUND(COALESCE(p.n_memorized, 0) / p.n_grams, 6)
            END AS memorization_rate
FROM seqs s LEFT JOIN per_seq p ON p.sequence_id = s.sequence_id
ORDER BY s.sequence_id
"""


EV20_SQL = _ev20_sql()


def ev21_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (metrics.ranking.roc_auc) — the threshold-free
    ranking-quality metric every classifier eval reports beside
    ev17's calibration: per event type, how well `value` ranks events
    whose props payload k ≥ 50 above the rest, via the Mann-Whitney
    rank-sum identity with midrank tie handling. Midranks are carried
    as exact integers (2·RANK() + ties − 1), the positive-class rank
    sum accumulates in decimal(38,0) (bigint overflows at ~2e9 rows
    per group), and only the final 3-term scalar identity runs in
    double — bit-identical across engines.

    Scale shape: one window pass partitioned by event type + one
    group-keyed agg; no global sort, no SinglePartition exchange."""
    from paqarin_spark.metrics.ranking import roc_auc

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    labeled = ev.select(
        "event_type",
        "value",
        F.when(
            F.get_json_object("props", "$.k").cast("int") >= 50, 1
        )
        .when(F.get_json_object("props", "$.k").cast("int") < 50, 0)
        .alias("label"),
    )
    return roc_auc(labeled, "event_type", "label", "value").orderBy(
        "event_type"
    )


EV21_SQL = """
WITH base AS (
  SELECT event_type AS grp,
         CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
              THEN 1 ELSE 0 END AS y,
         value AS s
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
    AND json_extract_string(props, '$.k') IS NOT NULL
), ranked AS (
  SELECT grp, y,
         2 * RANK() OVER (PARTITION BY grp ORDER BY s)
           + COUNT(*) OVER (PARTITION BY grp, s) - 1 AS mr2
  FROM base
), agg AS (
  SELECT grp,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
         SUM(CASE WHEN y = 1 THEN CAST(mr2 AS DECIMAL(38,0))
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS s2
  FROM ranked GROUP BY grp
)
SELECT grp AS event_type, n_pos, n_neg,
       ROUND(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           (CAST(s2 AS DOUBLE) - CAST(n_pos AS DOUBLE)
              * (CAST(n_pos AS DOUBLE) + 1.0))
           / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
         END, 6) AS auc
FROM agg ORDER BY event_type
"""


def ev22_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation (metrics.ranking.spearman_rho)
    — the standard monotone-association check between two quality
    signals (here: does the props payload k co-rank with value within
    each event type?). Pearson on CENTERED doubled midranks
    (d = 2·midrank − (n+1), so Σd ≡ 0): products and sums run in
    decimal(38,0) — the naive n·Σxy − Σx·Σy form overflows 38 digits
    at ~1e12 rows (the q93 lesson), the centered form never does —
    and only the final sqrt/divide runs in double.

    Scale shape: two window passes partitioned by event type, one
    group agg; distributes across groups like ev21/q101."""
    from paqarin_spark.metrics.ranking import spearman_rho

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    paired = ev.select(
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("k"),
    )
    return spearman_rho(paired, "event_type", "k", "value").orderBy(
        "event_type"
    )


EV22_SQL = """
WITH base AS (
  SELECT event_type AS grp,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS x,
         value AS y
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
    AND value IS NOT NULL AND NOT isnan(value)
), centered AS (
  SELECT grp,
         CAST(2 * RANK() OVER (PARTITION BY grp ORDER BY x)
              + COUNT(*) OVER (PARTITION BY grp, x) - 1
              - (COUNT(*) OVER (PARTITION BY grp) + 1)
              AS DECIMAL(38,0)) AS dx,
         CAST(2 * RANK() OVER (PARTITION BY grp ORDER BY y)
              + COUNT(*) OVER (PARTITION BY grp, y) - 1
              - (COUNT(*) OVER (PARTITION BY grp) + 1)
              AS DECIMAL(38,0)) AS dy
  FROM base
), agg AS (
  SELECT grp, COUNT(*) AS n,
         SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
  FROM centered GROUP BY grp
)
SELECT grp AS event_type, CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN sxx > 0 AND syy > 0 THEN
           CAST(sxy AS DOUBLE)
           / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))
         END, 6) AS rho
FROM agg ORDER BY event_type
"""


def ev23_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b (metrics.ranking.kendall_tau) between daily
    volume and daily revenue per event type — the calendar-rollup
    association check (does busier = richer, monotonically?). The
    all-pairs sign census runs over DAYS (30 rows → 435 pairs per
    group, fixed by the calendar forever), NOT raw events: the
    distributed work is the day rollup; tau itself is
    calendar-bounded. Comparisons happen on exact values (bigint
    count, decimal sum) so concordance is engine-exact, and every
    C/D/Tx/Ty count is a decimal(38,0) integer — only the final
    sqrt/divide runs in double."""
    from paqarin_spark.metrics.ranking import kendall_tau

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,10)")).alias("sum_value"),
    )
    return kendall_tau(
        daily, "event_type", "day", "n_events", "sum_value"
    ).orderBy("event_type")


EV23_SQL = """
WITH daily0 AS (
  SELECT event_type AS grp, CAST(ts AS DATE) AS day,
         COUNT(*) AS x, SUM(CAST(value AS DECIMAL(30,10))) AS y
  FROM events GROUP BY 1, 2
), daily AS (
  -- mirror kendall_tau's usable-row filter (x is a COUNT, never
  -- NULL; y can be NULL only if every value in the bucket is NULL;
  -- day is the order key and also NULL-filtered, matching
  -- kendall_census — a NULL order value would count in n but never
  -- pair)
  SELECT * FROM daily0
  WHERE day IS NOT NULL AND x IS NOT NULL AND y IS NOT NULL
), pairs AS (
  SELECT a.grp,
         CASE WHEN a.x < b.x THEN -1 WHEN a.x > b.x THEN 1 ELSE 0 END AS dx,
         CASE WHEN a.y < b.y THEN -1 WHEN a.y > b.y THEN 1 ELSE 0 END AS dy
  FROM daily a JOIN daily b ON a.grp = b.grp AND a.day < b.day
), cen AS (
  SELECT grp,
         CAST(SUM(CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS c,
         CAST(SUM(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS d,
         CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS tx,
         CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS ty,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n0
  FROM pairs GROUP BY grp
), counts AS (
  SELECT grp, COUNT(*) AS n FROM daily GROUP BY grp
)
SELECT counts.grp AS event_type, CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE) > 0
         THEN CAST(c - d AS DOUBLE)
              / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
         END, 6) AS tau
FROM counts LEFT JOIN cen USING (grp)
ORDER BY event_type
"""


def ev24_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon–Mann–Whitney rank-sum drift test (metrics.ranking.
    rank_sum_test): within each order priority, do FINALIZED orders'
    totals stochastically dominate the open/pending ones? The
    distribution-free two-sample location test beside ev6's KS gap —
    U from the shared doubled-midrank window, tie-corrected normal z,
    every sum exact decimal, z's IEEE arithmetic mirrored in the
    oracle. Ranks partition by priority, so the pass distributes
    across groups (the ev21/ev22 window class)."""
    from paqarin_spark.metrics.ranking import rank_sum_test

    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    flagged = orders.select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
        "o_totalprice",
    )
    return rank_sum_test(
        flagged, "o_orderpriority", "is_final", "o_totalprice"
    ).orderBy("o_orderpriority")


EV24_SQL = """
WITH base AS (
  SELECT o_orderpriority AS grp,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f,
         o_totalprice AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
), ranked AS (
  SELECT grp, f,
         2 * RANK() OVER (PARTITION BY grp ORDER BY v)
           + COUNT(*) OVER (PARTITION BY grp, v) - 1 AS mr2
  FROM base
), ties AS (
  SELECT grp, SUM(t * t * t - t) AS tsum FROM (
    SELECT grp, CAST(COUNT(*) AS DECIMAL(38,0)) AS t
    FROM base GROUP BY grp, v
  ) GROUP BY grp
), agg AS (
  SELECT grp, CAST(SUM(f) AS BIGINT) AS n_flag,
         CAST(COUNT(*) - SUM(f) AS BIGINT) AS n_rest,
         CAST(SUM(CASE WHEN f = 1 THEN mr2 ELSE 0 END)
              AS DECIMAL(38,0)) AS s2
  FROM ranked GROUP BY grp
), stats AS (
  SELECT agg.*,
         (CAST(s2 AS DOUBLE)
          - CAST(n_flag AS DOUBLE) * (CAST(n_flag AS DOUBLE) + 1.0)) / 2.0
           AS u,
         CAST(n_flag AS DOUBLE) * CAST(n_rest AS DOUBLE) / 2.0 AS mu,
         CAST(n_flag AS DOUBLE) * CAST(n_rest AS DOUBLE) / 12.0
           * ((CAST(n_flag AS DOUBLE) + CAST(n_rest AS DOUBLE) + 1.0)
              - CAST(tsum AS DOUBLE)
                / ((CAST(n_flag AS DOUBLE) + CAST(n_rest AS DOUBLE))
                   * (CAST(n_flag AS DOUBLE) + CAST(n_rest AS DOUBLE)
                      - 1.0))) AS var
  FROM agg JOIN ties USING (grp)
)
SELECT grp AS o_orderpriority, n_flag, n_rest,
       ROUND(CASE WHEN n_flag > 0 AND n_rest > 0 THEN u END, 6) AS u,
       ROUND(CASE WHEN n_flag > 0 AND n_rest > 0 AND var > 0
                  THEN (u - mu) / sqrt(var) END, 6) AS z
FROM stats
ORDER BY o_orderpriority
"""


def q103_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue per market segment —
    the inequality/concentration audit a revenue (or token-ownership)
    pipeline reports. Computed in the CENTERED single-pass form

        G = Σ (2·r − n − 1)·x / (n·Σx),   x ascending, r = 1..n

    which is tie-order invariant (equal x swap freely between ranks
    without changing the sum). Revenue is made integer first
    (decimal(30,10) sum shifted ×1e10 into decimal(38,0) — exact, no
    float rounding), so numerator and denominator are exact integers
    at any row count; the single divide runs in double. Scale shape:
    one revenue rollup, one rank window partitioned by segment, one
    group agg — the q101/ev21 window class. Covers customers WITH
    orders (an inner rollup; zero-revenue customers are a documented
    exclusion, they would need the calendar-fill join)."""
    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,10)")).alias("_rev")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            "o_custkey",
            (F.col("_rev") * F.lit(10000000000).cast("decimal(20,0)"))
            .cast("decimal(38,0)")
            .alias("_x"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("_x", "o_custkey")
    wn = Window.partitionBy("c_mktsegment")
    terms = rev.select(
        "c_mktsegment",
        "_x",
        (
            F.lit(2) * F.row_number().over(w)
            - F.count(F.lit(1)).over(wn)
            - F.lit(1)
        )
        .cast("decimal(38,0)")
        .alias("_c"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    agg = terms.groupBy("c_mktsegment").agg(
        F.max("_n").alias("n_customers"),
        F.sum(F.col("_c") * F.col("_x")).alias("_num"),
        F.sum("_x").alias("_sx"),
    )
    gini = F.col("_num").cast("double") / (
        F.col("n_customers").cast("double") * F.col("_sx").cast("double")
    )
    return agg.select(
        "c_mktsegment",
        F.col("n_customers").cast("long").alias("n_customers"),
        F.round(
            (F.col("_sx").cast("double") / F.lit(1e10)), 6
        ).alias("total_revenue"),
        F.round(F.when(F.col("_sx") > 0, gini), 6).alias("gini"),
    ).orderBy("c_mktsegment")


Q103_SQL = """
WITH rev AS (
  SELECT c_mktsegment, o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
              * CAST(10000000000 AS DECIMAL(20,0)) AS DECIMAL(38,0)) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_custkey
), terms AS (
  SELECT c_mktsegment, x,
         CAST(2 * ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                     ORDER BY x, o_custkey)
              - COUNT(*) OVER (PARTITION BY c_mktsegment) - 1
              AS DECIMAL(38,0)) AS c,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM rev
), agg AS (
  SELECT c_mktsegment, MAX(n) AS n_customers,
         SUM(c * x) AS num, SUM(x) AS sx
  FROM terms GROUP BY c_mktsegment
)
SELECT c_mktsegment, CAST(n_customers AS BIGINT) AS n_customers,
       ROUND(CAST(sx AS DOUBLE) / 1e10, 6) AS total_revenue,
       ROUND(CASE WHEN sx > 0 THEN CAST(num AS DOUBLE)
         / (CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE)) END,
         6) AS gini
FROM agg ORDER BY c_mktsegment
"""


def q104_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue — the median of all
    pairwise day-to-day slopes, the outlier-proof alternative to an
    OLS fit (one corrupted day moves OLS arbitrarily, Theil–Sen
    tolerates ~29% corruption). Pairs are built over the DAILY rollup,
    so the O(n²) stage is calendar-bounded (a year = 66k pairs
    forever) while the distributed work is the day aggregation —
    the ev23 discipline. Slope numerators stay exact decimal until
    the one double divide per pair; the exact median (mean of the two
    middle order statistics, deterministic total order) replays in
    SQL without percentile-interpolation ambiguity."""
    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    # calendar-bounded rollup, THREE consumers (pair sides a/b,
    # n_days) — checkpoint or each consumer re-scans orders
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,10)")).alias("rev")
        )
        .localCheckpoint()
    )
    a = daily.select(F.col("day").alias("day_a"), F.col("rev").alias("rev_a"))
    b = daily.select(F.col("day").alias("day_b"), F.col("rev").alias("rev_b"))
    pairs = a.join(b, F.col("day_a") < F.col("day_b")).select(
        "day_a",
        "day_b",
        (
            (F.col("rev_b") - F.col("rev_a")).cast("double")
            / F.datediff("day_b", "day_a").cast("double")
        ).alias("slope"),
    )
    w = Window.orderBy("slope", "day_a", "day_b")
    ranked = pairs.select(
        "slope",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_m"),
    )
    med = ranked.where(
        (F.col("_rn") == F.floor((F.col("_m") + 1) / 2))
        | (F.col("_rn") == F.floor((F.col("_m") + 2) / 2))
    ).agg(
        F.max("_m").alias("n_pairs"),
        F.round(F.avg("slope"), 6).alias("sen_slope"),
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return n_days.crossJoin(med).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "sen_slope",
    )


Q104_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
  FROM orders GROUP BY 1
), pairs AS (
  SELECT a.day AS day_a, b.day AS day_b,
         CAST(b.rev - a.rev AS DOUBLE)
           / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.day < b.day
), ranked AS (
  SELECT slope,
         ROW_NUMBER() OVER (ORDER BY slope, day_a, day_b) AS rn,
         COUNT(*) OVER () AS m
  FROM pairs
), med AS (
  SELECT MAX(m) AS n_pairs, ROUND(AVG(slope), 6) AS sen_slope
  FROM ranked
  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
)
SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs, sen_slope
FROM med
"""


def tx51_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators.corpus.dsir_weights +
    dsir_resample; Xie et al. 2023): importance weights of every
    document toward the English subset under add-one unigram LMs,
    then an exact Gumbel-top-k resample of 25 docs ∝ softmax(log w)
    via the portable md5 uniform — the learned-ish domain-selection
    stage (the hashed-n-gram DSIR variant) between the heuristic
    gates (tx10/tx32) and the trained classifier (tx45). The output
    reports each picked doc's weight and language, so the hash match
    also value-verifies the weight arithmetic end-to-end."""
    from paqarin_spark.operators import dsir_resample, dsir_weights

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    weighted = dsir_weights(
        docs.withColumn("is_en", F.col("lang") == "en"),
        "doc_id",
        "text",
        "is_en",
    )
    picked = dsir_resample(weighted, "doc_id", "log_weight", k=25, seed=11)
    return (
        picked.join(weighted, "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round("log_weight", 6).alias("log_weight"),
        )
        .orderBy("doc_id")
    )


TX51_SQL = f"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS tgt, unnest({_TOKS_SQL}) AS token
  FROM documents
), pd AS (
  SELECT doc_id, tgt, token, COUNT(*) AS c FROM t GROUP BY 1, 2, 3
), vc AS (
  SELECT token, SUM(c) AS c_raw,
         SUM(CASE WHEN tgt THEN c ELSE 0 END) AS c_tgt
  FROM pd GROUP BY 1
), tot AS (
  SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt, COUNT(*) AS v FROM vc
), w AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(ROUND(
           CAST(c AS DOUBLE) * (ln(c_tgt + 1) - ln(n_tgt + v)
                                - ln(c_raw + 1) + ln(n_raw + v)), 12)
           AS DECIMAL(38,12))) AS DOUBLE)
           AS lw
  FROM pd JOIN vc USING (token) CROSS JOIN tot GROUP BY doc_id
), picked AS (
  SELECT doc_id, n_tokens, lw
  FROM w
  ORDER BY lw - ln(-ln(('0x' || substring(md5('dsir#'
             || CAST(doc_id AS VARCHAR) || '#11'), 1, 15))::UBIGINT
             / 1152921504606846976.0)) DESC, doc_id
  LIMIT 25
)
SELECT doc_id, lang, n_tokens, ROUND(lw, 6) AS log_weight
FROM picked JOIN documents USING (doc_id)
ORDER BY doc_id
"""


def tx52_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health diagnostic every
    tokenizer/corpus QA pass plots: OLS of ln(freq) on ln(rank) over
    the top-100 terms (natural corpora slope ≈ −1; a flat or broken
    slope flags template spam or tokenizer damage). One distributed
    token count, then the fit runs on a VOCABULARY-BOUNDED top-k
    (deterministic freq-desc/token-asc order); slope, intercept and
    r² come from closed-form sums over those 100 points, mirrored
    expression-for-expression in the oracle."""
    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    from paqarin_spark.operators.dedup import tokens as _tokens

    freq = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.orderBy(F.desc("_c"), F.asc("token"))
    top = freq.select(
        "_c", F.row_number().over(w).alias("_rk")
    ).where(F.col("_rk") <= 100)
    pts = top.select(
        F.log(F.col("_rk").cast("double")).alias("_x"),
        F.log(F.col("_c").cast("double")).alias("_y"),
        F.col("_c"),
    )
    # Moment sums are rounded 12dp per point and accumulated in
    # decimal(38,12) (the em31 order-independence discipline): a raw
    # double SUM over 100 points is partial-agg-order-dependent vs
    # DuckDB's sequential SUM and can flip the 6dp-rounded fit at a
    # rounding boundary.
    dec = lambda c: F.sum(F.round(c, 12).cast("decimal(38,12)")).cast(
        "double"
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.max("_c").cast("long").alias("top_freq"),
        dec(F.col("_x")).alias("_sx"),
        dec(F.col("_y")).alias("_sy"),
        dec(F.col("_x") * F.col("_x")).alias("_sxx"),
        dec(F.col("_x") * F.col("_y")).alias("_sxy"),
        dec(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    cov = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    varx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vary = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = cov / varx
    return agg.select(
        F.col("_n").cast("long").alias("n_terms"),
        "top_freq",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("_sy") - slope * F.col("_sx")) / F.col("_n"), 6).alias(
            "intercept"
        ),
        F.round(
            F.when(vary > 0, cov * cov / (varx * vary)), 6
        ).alias("r2"),
    )


TX52_SQL = f"""
WITH f AS (
  SELECT token, COUNT(*) AS c
  FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
  GROUP BY 1
), top AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rk
  FROM f QUALIFY rk <= 100
), pts AS (
  SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y, c
  FROM top
), agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, MAX(c) AS top_freq,
         CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS sxx,
         CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS sxy,
         CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms, CAST(top_freq AS BIGINT) AS top_freq,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
             6) AS intercept,
       ROUND(CASE WHEN (n * syy - sy * sy) > 0 THEN
           (n * sxy - sx * sy) * (n * sxy - sx * sy)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
FROM agg
"""


def tx54_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth fit — the corpus-health diagnostic
    BESIDE the Zipf rank-frequency slope (tx52): distinct-vocabulary
    size V(n) against corpus token count n over doc-id-ordered
    prefixes follows V ≈ K·n^β (natural English β≈0.4–0.6; β→1 flags
    boilerplate-free synthetic spam, β→0 template duplication). The
    CHECKPOINT formulation keeps it scale-shaped: no global token
    order, no running-distinct window — per-token MIN(doc_id) (one
    token-keyed aggregation) gives each type's first-appearance
    prefix, per-doc token counts give prefix sizes, and 16
    deterministic checkpoints ck_j = (max_id·j) div 16 turn both into
    16-row conditional rollups (a bounded broadcast of checkpoints
    against two already-aggregated tables — the corpus is touched
    once). OLS of ln V on ln n uses the tx52/em31 decimal-sum
    discipline. Output: one row (n_points, beta, log_k, r2)."""
    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    from paqarin_spark.operators.dedup import tokens as _tokens

    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    )
    # one tokenize pass: both rollups derive from a localCheckpointed
    # (doc, token, cnt) table — without it the scan+explode subtree
    # executes once per consumer (the q111 bounded-round discipline)
    pairs = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint()
    )
    first_doc = pairs.groupBy("token").agg(F.min("doc_id").alias("_fd"))
    doc_sizes = pairs.groupBy("doc_id").agg(
        F.sum("_c").cast("long").alias("_sz")
    )
    mx = docs.agg(F.max("doc_id").alias("_mx"))
    cks = (
        spark.range(1, 17)
        .crossJoin(F.broadcast(mx))
        .select(
            # integer `div` — a double divide would lose exactness
            # once max_id*j exceeds 2^53 at corpus scale
            F.expr("(_mx * id) div 16").cast("long").alias("_ck")
        )
        .distinct()
    )
    n_at = (
        doc_sizes.crossJoin(F.broadcast(cks))
        .where(F.col("doc_id") <= F.col("_ck"))
        .groupBy("_ck")
        .agg(F.sum("_sz").cast("long").alias("_n"))
    )
    v_at = (
        first_doc.crossJoin(F.broadcast(cks))
        .where(F.col("_fd") <= F.col("_ck"))
        .groupBy("_ck")
        .agg(F.count(F.lit(1)).cast("long").alias("_v"))
    )
    pts = n_at.join(v_at, "_ck").select(
        F.log(F.col("_n").cast("double")).alias("_x"),
        F.log(F.col("_v").cast("double")).alias("_y"),
    )
    dec = lambda c: F.sum(F.round(c, 12).cast("decimal(38,12)")).cast(
        "double"
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        dec(F.col("_x")).alias("_sx"),
        dec(F.col("_y")).alias("_sy"),
        dec(F.col("_x") * F.col("_x")).alias("_sxx"),
        dec(F.col("_x") * F.col("_y")).alias("_sxy"),
        dec(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    cov = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    varx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vary = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = cov / varx
    return agg.select(
        F.col("_n").cast("long").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round(
            (F.col("_sy") - slope * F.col("_sx")) / F.col("_n"), 6
        ).alias("log_k"),
        F.round(
            F.when(vary > 0, cov * cov / (varx * vary)), 6
        ).alias("r2"),
    )


TX54_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
), first_doc AS (
  SELECT token, MIN(doc_id) AS fd FROM toks GROUP BY 1
), doc_sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY 1
), cks AS (
  SELECT DISTINCT CAST((SELECT MAX(doc_id) FROM documents) * j // 16
                  AS BIGINT) AS ck
  FROM range(1, 17) t(j)
), n_at AS (
  SELECT ck, CAST(SUM(sz) AS BIGINT) AS n
  FROM doc_sizes CROSS JOIN cks WHERE doc_id <= ck GROUP BY ck
), v_at AS (
  SELECT ck, CAST(COUNT(*) AS BIGINT) AS v
  FROM first_doc CROSS JOIN cks WHERE fd <= ck GROUP BY ck
), pts AS (
  SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
  FROM n_at JOIN v_at USING (ck)
), agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS sxx,
         CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS sxy,
         CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
           AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
             6) AS log_k,
       ROUND(CASE WHEN (n * syy - sy * sy) > 0 THEN
           (n * sxy - sx * sy) * (n * sxy - sx * sy)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
FROM agg
"""


def q113_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized FUNNEL conversion — the ordered-pattern analytics
    every product team runs on top of sessionization (the
    MATCH_RECOGNIZE class, expressed relationally): within each
    6-hour session (operators.sessions.sessionize — the batch
    gaps-and-islands dual of st3/st22's session windows), did a
    'click' happen and a 'purchase' happen STRICTLY AFTER it in
    session order? Order positions are ROW_NUMBERs under the
    deterministic (ts, event_id) total order, so 'after' is an exact
    integer comparison (min click position < max purchase position),
    not a timestamp-tie gamble. Rolled up by ISO weekday of the
    session start — conversion by day-of-week, the report shape.

    Scale shape: one user-keyed window pass (sessionize), one
    (user, session) rollup, one 7-row weekday rollup — no joins at
    all; the funnel predicate is pure aggregation."""
    from paqarin_spark.operators import sessionize

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    sess = sessionize(
        ev, "user_id", "ts", 6 * 3600, order_columns=("event_id",)
    )
    pos_w = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    marked = sess.select(
        "user_id",
        "session_id",
        "ts",
        "event_type",
        F.row_number().over(pos_w).alias("_pos"),
    )
    per_sess = marked.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("_start"),
        F.min(
            F.when(F.col("event_type") == "click", F.col("_pos"))
        ).alias("_mc"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("_pos"))
        ).alias("_mp"),
    )
    flagged = per_sess.select(
        (F.weekday("_start") + 1).cast("long").alias("isodow"),
        (
            F.col("_mc").isNotNull()
            & F.col("_mp").isNotNull()
            & (F.col("_mp") > F.col("_mc"))
        ).cast("int").alias("_conv"),
    )
    return (
        flagged.groupBy("isodow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("_conv").cast("long").alias("n_converted"),
        )
        .select(
            "isodow",
            "n_sessions",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double")
                / F.col("n_sessions").cast("double"),
                6,
            ).alias("conv_rate"),
        )
        .orderBy("isodow")
    )


Q113_SQL = """
WITH flaggedrows AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                   > 21600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned0 AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM flaggedrows
), sessioned AS (
  SELECT user_id, ts, event_type, session_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS pos
  FROM sessioned0
), per_sess AS (
  SELECT user_id, session_id, MIN(ts) AS start_ts,
         MIN(CASE WHEN event_type = 'click' THEN pos END) AS mc,
         MAX(CASE WHEN event_type = 'purchase' THEN pos END) AS mp
  FROM sessioned GROUP BY 1, 2
), flagged AS (
  SELECT CAST(EXTRACT(ISODOW FROM start_ts) AS BIGINT) AS isodow,
         CASE WHEN mc IS NOT NULL AND mp IS NOT NULL AND mp > mc
              THEN 1 ELSE 0 END AS conv
  FROM per_sess
)
SELECT isodow, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(conv) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS conv_rate
FROM flagged GROUP BY 1 ORDER BY isodow
"""


def st23_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING funnel conversion — q113's deployed dual, and the
    composition the session-window state class exists for: the funnel
    predicate rides INSIDE the merging session aggregation as
    conditional struct extrema (min click (ts,event_id), max purchase
    (ts,event_id) — orderable structs, so 'purchase strictly after
    click' is one tuple comparison at session close; no per-event
    state beyond the open session row). Batch sessionize breaks on
    strictly-greater gaps and session_window merges at exactly-gap —
    the SAME partitioning (pinned by the boundary test) — so a
    bounded run carries q113's oracle VERBATIM (the st21=ev27
    precedent): identical weekday conversion rates regardless of
    micro-batch boundaries.

    State bound: one row (two structs + a timestamp) per OPEN session
    per user; watermark evicts closed sessions in production."""
    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(
            "user_id", F.session_window("ts", "6 hours").alias("_w")
        )
        .agg(
            F.min("ts").alias("_start"),
            F.min(
                F.when(
                    F.col("event_type") == "click",
                    F.struct("ts", "event_id"),
                )
            ).alias("_mc"),
            F.max(
                F.when(
                    F.col("event_type") == "purchase",
                    F.struct("ts", "event_id"),
                )
            ).alias("_mp"),
        )
    )
    name = "st23_stream_funnel"
    sink = _run_to_memory(
        spark, agg, name, "complete",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    per_sess = sink.select(
        (F.weekday("_start") + 1).cast("long").alias("isodow"),
        (
            F.col("_mc").isNotNull()
            & F.col("_mp").isNotNull()
            & (F.col("_mp") > F.col("_mc"))
        ).cast("int").alias("_conv"),
    )
    return (
        per_sess.groupBy("isodow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("_conv").cast("long").alias("n_converted"),
        )
        .select(
            "isodow",
            "n_sessions",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double")
                / F.col("n_sessions").cast("double"),
                6,
            ).alias("conv_rate"),
        )
        .orderBy("isodow")
    )


# q113's oracle verbatim — the batch/stream parity proof contract
# (the ST21_SQL = EV27_SQL precedent)
ST23_SQL = Q113_SQL


def ev29_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the event-TYPE distributions
    of the reference window (first 15 days, ev27's split) and
    everything after — the info-theoretic drift metric beside PSI
    (ev27), chi² (ev12) and KS (ev6): symmetric, bounded [0, ln 2],
    finite even on disjoint supports (KL is not, which is why
    monitoring uses JSD). Per-type terms
    0.5·p·ln(p/m) + 0.5·q·ln(q/m) with m = (p+q)/2 are reported so
    the hash pins the whole decomposition; Σterm = JSD. Counts are
    exact bigints; the category set is data-bounded (event types), so
    the only doubles are the per-type proportion ratios, mirrored
    op-for-op. One type-keyed rollup + one scalar broadcast — the
    ev27 plan shape."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir).where(F.col("event_type").isNotNull())
    d0 = ev.agg(F.min(F.to_date("ts")).alias("_d0"))
    counts = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "event_type",
            (F.datediff(F.to_date("ts"), F.col("_d0")) < 15).alias("_ref"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("_ref"), 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(~F.col("_ref"), 1).otherwise(0))
            .cast("long")
            .alias("n_cur"),
        )
    )
    return _jsd_report(counts)


def _jsd_report(counts: DataFrame) -> DataFrame:
    """Shared JSD finisher (ev29 + its streaming dual st25): input is
    (event_type, n_ref, n_cur) exact counts, output the per-type
    0.5·p·ln(p/m) + 0.5·q·ln(q/m) decomposition — one arithmetic
    path, so the batch query and the deployed monitor cannot drift."""
    tot = counts.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    p = F.col("n_ref").cast("double") / F.col("_tr").cast("double")
    q = F.col("n_cur").cast("double") / F.col("_tc").cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * F.when(p > 0, p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.lit(0.5) * F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.round(term, 6).alias("jsd_term"),
        )
        .orderBy("event_type")
    )


EV29_SQL = """
WITH dated AS (
  SELECT event_type,
         date_diff('day', (SELECT MIN(CAST(ts AS DATE))
                           FROM events WHERE event_type IS NOT NULL),
                   CAST(ts AS DATE)) < 15 AS ref
  FROM events WHERE event_type IS NOT NULL
), counts AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cur
  FROM dated GROUP BY 1
), tot AS (
  SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts
), terms AS (
  SELECT event_type, n_ref, n_cur,
         CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE) AS p,
         CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE) AS q
  FROM counts CROSS JOIN tot
)
SELECT event_type, n_ref, n_cur,
       ROUND(0.5 * (CASE WHEN p > 0
                         THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END)
             + 0.5 * (CASE WHEN q > 0
                           THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END),
             6) AS jsd_term
FROM terms ORDER BY event_type
"""


def ev30_wasserstein_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 1-D Wasserstein-1 (earth-mover) distance between the
    value distributions of the even and odd event-id halves — the
    split-half NOISE FLOOR for the drift family: PSI (ev27), chi²
    (ev12), JSD (ev29) and KS (ev6) all need a "how big is big"
    reference, and the W1 between two random halves of the SAME
    distribution is exactly that (Ramdas et al. 2017's two-sample
    framing). W1 = Σ_i |F̂_a(v_i) − F̂_b(v_i)|·(v_{i+1} − v_i) over
    the union of distinct values — the tie-aware discrete form of
    ∫|F_a − F_b|dx.

    Determinism end to end: values quantize to integer micro-units
    via FLOOR(value·1e6) (floor of the same IEEE double is
    bit-identical on both engines — no round-half tie class at all);
    cumulative counts are exact integers; each term
    |cum_a·n_b − cum_b·n_a|·gap accumulates in DECIMAL(38,0)
    (HUGEINT in the oracle — n_a·n_b·gap overflows BIGINT already at
    bench scale), and ONE shared double expression divides and
    rounds at the end.

    Scale shape: the (type, value)-keyed rollup is the
    petabyte-to-distinct reduction; the cumulative sums AND the
    next-distinct-value gap both ride the _union_ecdf_ks two-level
    prefix-sum discipline — values bucket into _ECDF_BUCKETS
    equal-width bins per type on the broadcast per-type [min,max],
    per-bucket offsets and next-bucket minima roll over the
    constant-size bucket table, and the within-bucket window is
    PARTITIONED BY (type, bucket). No task ever sorts a full
    per-type distinct-value table. The last distinct value needs no
    gap: its CDF term is |n_a·n_b − n_b·n_a| = 0 by construction."""
    B = _ECDF_BUCKETS
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    even = F.col("event_id") % 2 == 0
    c = (
        ev.select(
            F.col("event_type").alias("et"),
            F.floor(F.col("value") * F.lit(1000000.0)).alias("m"),
            F.when(even, 1).otherwise(0).alias("_a"),
            F.when(even, 0).otherwise(1).alias("_b"),
        )
        .groupBy("et", "m")
        .agg(F.sum("_a").alias("ca"), F.sum("_b").alias("cb"))
    )
    tot = c.groupBy("et").agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.min("m").alias("_mmin"),
        F.max("m").alias("_mmax"),
    )
    cbk = c.join(F.broadcast(tot), "et").withColumn(
        "_bk",
        F.when(F.col("_mmax") <= F.col("_mmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(B - 1).cast("long"),
                F.floor(
                    (F.col("m") - F.col("_mmin"))
                    / (F.col("_mmax") - F.col("_mmin")).cast("double")
                    * B
                ),
            )
        )
        .cast("int"),
    )
    owin = Window.partitionBy("et").orderBy("_bk")
    offsets = (
        cbk.groupBy("et", "_bk")
        .agg(
            F.sum("ca").alias("_ba"),
            F.sum("cb").alias("_bb"),
            F.min("m").alias("_bmin"),
        )
        .select(
            "et",
            "_bk",
            F.coalesce(
                F.sum("_ba").over(
                    owin.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_oa"),
            F.coalesce(
                F.sum("_bb").over(
                    owin.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_ob"),
            F.lead("_bmin").over(owin).alias("_nbmin"),
        )
    )
    win = Window.partitionBy("et", "_bk").orderBy("m")
    cum = cbk.join(offsets, ["et", "_bk"]).select(
        "et",
        "na",
        "nb",
        (
            F.col("_oa")
            + F.sum("ca").over(
                win.rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("cum_a"),
        (
            F.col("_ob")
            + F.sum("cb").over(
                win.rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("cum_b"),
        F.coalesce(
            F.coalesce(F.lead("m").over(win), F.col("_nbmin"))
            - F.col("m"),
            F.lit(0),
        ).alias("gap"),
    )
    dec = "decimal(38,0)"
    term = F.abs(
        F.col("cum_a").cast(dec) * F.col("nb").cast(dec)
        - F.col("cum_b").cast(dec) * F.col("na").cast(dec)
    ) * F.col("gap").cast(dec)
    return (
        cum.groupBy("et")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.sum(term).alias("_s"),
        )
        .select(
            F.col("et").alias("event_type"),
            "n_a",
            "n_b",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.round(
                    F.col("_s").cast("double")
                    / (
                        F.col("n_a").cast("double")
                        * F.col("n_b").cast("double")
                        * F.lit(1000000.0)
                    ),
                    6,
                ),
            ).alias("w1"),
        )
        .orderBy("event_type")
    )


EV30_SQL = """
WITH c AS (
  SELECT event_type AS et,
         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS m,
         SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT et, SUM(ca) AS na, SUM(cb) AS nb FROM c GROUP BY et
), cum AS (
  SELECT et, m,
         SUM(ca) OVER (PARTITION BY et ORDER BY m) AS cum_a,
         SUM(cb) OVER (PARTITION BY et ORDER BY m) AS cum_b,
         COALESCE(LEAD(m) OVER (PARTITION BY et ORDER BY m) - m, 0)
           AS gap
  FROM c
), terms AS (
  SELECT cum.et, na, nb,
         ABS(CAST(cum_a AS HUGEINT) * CAST(nb AS HUGEINT)
             - CAST(cum_b AS HUGEINT) * CAST(na AS HUGEINT))
           * CAST(gap AS HUGEINT) AS term
  FROM cum JOIN tot ON cum.et = tot.et
)
SELECT et AS event_type,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
         ROUND(CAST(SUM(term) AS DOUBLE)
               / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)
                  * 1000000.0), 6)
       END AS w1
FROM terms GROUP BY et ORDER BY et
"""


def tx55_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint matching (operators.dedup.
    winnowing_fingerprints — Schleimer/Wilkerson/Aiken's MOSS local
    fingerprinting, SIGMOD 2003): the POSITION-LOCAL near-dup scheme
    the dedup family was missing — MinHash sketches whole documents
    (a long plagiarized passage inside an otherwise unrelated page is
    invisible at document Jaccard), while winnowing guarantees any
    shared token run of length >= w+k-1 = 6 shares a fingerprint.
    Distinct window-minimum md5-prefix hashes per doc (k=3, w=4),
    hot fingerprints df-capped at 32 docs (the tx4 viral-shingle
    discipline — one boilerplate fingerprint in 10k docs is a 50M-row
    join without it), pairs sharing >= 2 fingerprints reported.

    Scale shape: one doc-keyed window pass selects ~2/(w+1) of the
    k-grams; the pair join is fingerprint-keyed and df-capped — the
    inverted-index shape, never all-pairs."""
    from paqarin_spark.operators import winnowing_fingerprints

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    fps = winnowing_fingerprints(docs, "text", "doc_id", k=3, w=4)
    df_counts = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= 32)
        .select("fingerprint")
    )
    kept = fps.join(df_counts, "fingerprint", "left_semi")
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (
        a.join(b, "fingerprint")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
    return pairs.orderBy(
        F.desc("n_shared"), "id_a", "id_b"
    ).limit(40)


TX55_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
), grams AS (
  SELECT doc_id, i AS pos,
         ('0x' || substring(md5(ts[i] || ' ' || ts[i + 1] || ' '
                                || ts[i + 2]), 1, 15))::UBIGINT AS h
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(ts) - 1)) AS i)
  WHERE len(ts) >= 3
), winmin AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, fp FROM winmin WHERE c = 4
), keep AS (
  SELECT doc_id, fp FROM fps
  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 32)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT id_a, id_b, n_shared FROM pairs
ORDER BY n_shared DESC, id_a, id_b LIMIT 40
"""


def _trade_rel_edges(spark: SparkSession, sf_dir: str, min_items: int):
    """Repeat-trade relationship edges: (customer, supplier) pairs
    with >= min_items line items — the thresholded sparse view of the
    bipartite trade graph the community/link-prediction queries run
    on (the raw graph is near-complete and carries no structure)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_items)
        .select("o_custkey", "l_suppkey")
    )


_TRADE_REL_SQL = """
  SELECT o_custkey, l_suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, l_suppkey HAVING COUNT(*) >= {t}
"""


def q105_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators.graph.label_propagation — LPA
    with self-vote, 4 synchronous rounds, min-label ties) over the
    repeat-trade graph (>= 3 line items per relationship; the raw
    bipartite graph is near-complete and structureless). Nodes carry
    'c'/'s' prefixes so the key spaces cannot collide. Reports the 10
    largest communities (members, customer/supplier split, community
    id = its minimum-label anchor); the oracle unrolls the identical
    4 rounds as stacked count+argmax CTEs, so the hash match pins
    every round's tie-breaks, not just the final partition."""
    from paqarin_spark.operators import label_propagation

    configure_for_determinism(spark)
    rel = _trade_rel_edges(spark, sf_dir, 3)
    edges = rel.select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    labels = label_propagation(edges, "src", "dst", rounds=4)
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(
                F.when(F.col("node").startswith("c"), 1).otherwise(0)
            ).cast("long").alias("n_customers"),
            F.sum(
                F.when(F.col("node").startswith("s"), 1).otherwise(0)
            ).cast("long").alias("n_suppliers"),
        )
        .orderBy(F.desc("n_members"), F.asc("label"))
        .limit(10)
        .withColumnRenamed("label", "community")
    )


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT node, label FROM (
    SELECT node, label, COUNT(*) AS cnt FROM (
      SELECT e.a AS node, l.label FROM und e JOIN {prev} l ON l.node = e.b
      UNION ALL SELECT node, label FROM {prev}
    ) GROUP BY node, label
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY node
                               ORDER BY cnt DESC, label ASC) = 1
)"""


Q105_SQL = f"""
WITH rel AS (
{_TRADE_REL_SQL.format(t=3)}
), e0 AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS a,
         's' || CAST(l_suppkey AS VARCHAR) AS b
  FROM rel
), und AS (
  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
), l0 AS (
  SELECT DISTINCT a AS node, a AS label FROM und
), {_lpa_round_sql('l0', 'l1')},
{_lpa_round_sql('l1', 'l2')},
{_lpa_round_sql('l2', 'l3')},
{_lpa_round_sql('l3', 'l4')}
SELECT label AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN node LIKE 'c%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers,
       CAST(SUM(CASE WHEN node LIKE 's%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers
FROM l4 GROUP BY label
ORDER BY n_members DESC, community ASC LIMIT 10
"""


def q106_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (operators.graph.adamic_adar): which supplier
    pairs share the most informative customer base? AA sums
    1/ln(deg) over common customers, so rare shared customers count
    more than shop-everywhere hubs; contributors above degree 48 are
    excluded by stated contract (their C(deg,2) wedge fanout is
    quadratic while 1/ln(deg) carries ~nothing — the cap is what
    keeps the wedge join linear in |edges| at 100 TB). Top 20 pairs
    by 6dp-rounded score with full id tie-breaks."""
    from paqarin_spark.operators import adamic_adar

    configure_for_determinism(spark)
    rel = _trade_rel_edges(spark, sf_dir, 2)
    scores = adamic_adar(
        rel, "o_custkey", "l_suppkey", max_degree=48
    )
    return (
        scores.select(
            F.col("node_a").cast("long").alias("supp_a"),
            F.col("node_b").cast("long").alias("supp_b"),
            "n_common",
            F.round("aa_score", 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "supp_a", "supp_b")
        .limit(20)
    )


Q106_SQL = f"""
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s FROM (
{_TRADE_REL_SQL.format(t=2)}
  )
), deg AS (
  SELECT c, COUNT(*) AS d FROM e GROUP BY c
), contrib AS (
  SELECT e.c, e.s, deg.d FROM e JOIN deg USING (c)
  WHERE d BETWEEN 2 AND 48
), wedges AS (
  SELECT a.s AS supp_a, b.s AS supp_b, a.d
  FROM contrib a JOIN contrib b ON a.c = b.c AND a.s < b.s
)
SELECT CAST(supp_a AS BIGINT) AS supp_a, CAST(supp_b AS BIGINT) AS supp_b,
       CAST(COUNT(*) AS BIGINT) AS n_common,
       ROUND(CAST(SUM(CAST(1.0 / ln(CAST(d AS DOUBLE))
                         AS DECIMAL(30,12))) AS DOUBLE), 6) AS aa_score
FROM wedges GROUP BY supp_a, supp_b
ORDER BY aa_score DESC, supp_a, supp_b LIMIT 20
"""


def q111_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) on the bipartite trade
    graph — the mutually-recursive centrality beside PageRank's random
    walk (q69): customers are hubs, suppliers authorities; 4
    synchronous rounds of a = normalize(Eᵀh), h = normalize(Ea) with
    L2 norms. Completes the spectral-graph family (PageRank, LPA,
    k-core, assortativity, Adamic–Adar) with the power iteration on
    EᵀE that search-era link analysis actually ran.

    Determinism: every edge-keyed score sum and both norm sums follow
    the em31/adamic-adar order-independence discipline — addends
    rounded 12dp, summed in decimal(38,12), cast double — and each
    round's normalized scores are RE-QUANTIZED at 12dp, so all four
    rounds replay bit-exactly in the unrolled-CTE oracle regardless
    of partial-aggregation order.

    Scale shape: per round, one edge-keyed join + two group-bys and
    one scalar norm broadcast — PageRank's exact plan shape (bounded
    rounds on a thresholded edge table, never all-pairs). Output: the
    top-10 authority suppliers."""
    configure_for_determinism(spark)
    e = _trade_rel_edges(spark, sf_dir, 2).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    ).persist()
    dec12 = lambda col: F.sum(
        F.round(col, 12).cast("decimal(38,12)")
    ).cast("double")
    h = e.select("c").distinct().select("c", F.lit(1.0).alias("score"))
    a = None
    for _ in range(4):
        # localCheckpoint each side's unnormalized scores: `au` is
        # referenced twice (norm + normalize) and the h↔a recursion
        # would otherwise double the recompute every round — the
        # pagerank/q89 bounded-round discipline
        au = (
            e.join(h, "c")
            .groupBy("s")
            .agg(dec12(F.col("score")).alias("_u"))
            .localCheckpoint()
        )
        anorm = au.agg(
            F.sqrt(dec12(F.col("_u") * F.col("_u"))).alias("_nrm")
        )
        a = au.crossJoin(F.broadcast(anorm)).select(
            "s", F.round(F.col("_u") / F.col("_nrm"), 12).alias("score")
        )
        hu = (
            e.join(a, "s")
            .groupBy("c")
            .agg(dec12(F.col("score")).alias("_u"))
            .localCheckpoint()
        )
        hnorm = hu.agg(
            F.sqrt(dec12(F.col("_u") * F.col("_u"))).alias("_nrm")
        )
        h = hu.crossJoin(F.broadcast(hnorm)).select(
            "c", F.round(F.col("_u") / F.col("_nrm"), 12).alias("score")
        )
    e.unpersist()
    return (
        a.select(
            F.col("s").cast("long").alias("l_suppkey"),
            F.round("score", 6).alias("authority"),
        )
        .orderBy(F.desc("authority"), "l_suppkey")
        .limit(10)
    )


def _q111_sql() -> str:
    """Unrolled-CTE replay of the 4 HITS rounds with identical
    12dp/decimal(38,12) quantization at every reduction."""

    def dsum(term: str) -> str:
        return (
            f"CAST(SUM(CAST(ROUND({term}, 12) AS DECIMAL(38,12)))"
            " AS DOUBLE)"
        )

    blocks = [
        f"""WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s FROM (
{_TRADE_REL_SQL.format(t=2)}
  )
), h0 AS (
  SELECT DISTINCT c, 1.0 AS score FROM e
)"""
    ]
    prev_h = "h0"
    for r in range(1, 5):
        blocks.append(
            f""", a{r}u AS (
  SELECT s, {dsum('score')} AS u
  FROM e JOIN {prev_h} USING (c) GROUP BY s
), a{r}n AS (
  SELECT SQRT({dsum('u * u')}) AS nrm FROM a{r}u
), a{r} AS (
  SELECT s, ROUND(u / nrm, 12) AS score FROM a{r}u CROSS JOIN a{r}n
), h{r}u AS (
  SELECT c, {dsum('score')} AS u
  FROM e JOIN a{r} USING (s) GROUP BY c
), h{r}n AS (
  SELECT SQRT({dsum('u * u')}) AS nrm FROM h{r}u
), h{r} AS (
  SELECT c, ROUND(u / nrm, 12) AS score FROM h{r}u CROSS JOIN h{r}n
)"""
        )
        prev_h = f"h{r}"
    blocks.append(
        """
SELECT CAST(s AS BIGINT) AS l_suppkey, ROUND(score, 6) AS authority
FROM a4 ORDER BY authority DESC, l_suppkey LIMIT 10
"""
    )
    return "".join(blocks)


Q111_SQL = _q111_sql()


def mm17_audio_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral band energies from real decoded PCM (multimodal.
    wav_dft_features over wav_assets_from_ids): every asset is a REAL
    16-bit mono WAV whose samples are id-arithmetic, the decode walks
    the actual RIFF bytes, and the DFT magnitudes at bins 1/2/3 are
    computed from the decoded waveform — so the oracle (which replays
    the sample formula with unnest(range) + cos/sin sums) verifies
    the full decode→featurize value path, not just counts. The audio
    analogue of mm6's pixel-value resize proof. Arrow-batched linear
    pass, no shuffle — the featurize step of a 100-TB audio ingest."""
    from paqarin_spark.multimodal import (
        wav_assets_from_ids,
        wav_dft_features,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    assets = wav_assets_from_ids(docs, "doc_id")
    return wav_dft_features(assets, bins=(1, 2, 3)).orderBy(
        "asset_id", "bin"
    )


MM17_SQL = """
WITH a AS (
  SELECT doc_id AS asset_id, doc_id % 100 + 1 AS n, doc_id % 7 + 1 AS step
  FROM documents
), s AS (
  SELECT asset_id, n,
         CAST(t.i AS DOUBLE) AS i,
         CAST(((t.i * step * 37 + asset_id) % 4001) - 2000 AS DOUBLE) AS x
  FROM a, LATERAL (SELECT unnest(range(0, n)) AS i) t
), b AS (
  SELECT unnest([1, 2, 3]) AS bin
), dft AS (
  SELECT asset_id, bin, MAX(n) AS n,
         CAST(SUM(CAST(ROUND(x * cos((2 * pi() * bin) * i / n), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS re,
         CAST(SUM(CAST(ROUND(x * sin((2 * pi() * bin) * i / n), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS im
  FROM s CROSS JOIN b GROUP BY asset_id, bin
)
SELECT asset_id, CAST(bin AS INTEGER) AS bin,
       CAST(n AS INTEGER) AS n_samples,
       ROUND(sqrt(re * re + im * im) / n, 6) AS magnitude
FROM dft ORDER BY asset_id, bin
"""


def q107_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip PROOF (ops A1/A3 for the second
    columnar lake format — Hive-era warehouses hand data over as
    ORC): lineitem's pricing columns are written through
    sources.write_orc, read back through sources.read_orc with an
    explicit schema, and rolled up ship-day × returnflag — while the
    ORACLE aggregates the ORIGINAL parquet, so the hash match proves
    doubles survive the ORC round-trip bit-exactly. Staging via
    :func:`_staging_dir` (pid-scoped dir, stale sweep, exit cleanup)."""
    from paqarin_spark.sources import read_orc, write_orc

    configure_for_determinism(spark)
    li = read_table(spark, sf_dir, "lineitem")
    staged = li.select(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )
    path = _staging_dir("paqarin_q107_", sf_dir)
    write_orc(staged, path)
    back = read_orc(
        spark,
        path,
        schema=(
            "ship_day string, l_returnflag string, "
            "l_quantity double, l_extendedprice double"
        ),
    )
    return (
        back.groupBy("ship_day", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(30,10)")).cast(
                    "double"
                ),
                6,
            ).alias("sum_qty"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(30,10)")
                ).cast("double"),
                6,
            ).alias("sum_price"),
        )
        .orderBy("ship_day", "l_returnflag")
    )


Q107_SQL = """
SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_day, l_returnflag,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS sum_price
FROM lineitem
GROUP BY 1, 2
ORDER BY ship_day, l_returnflag
"""


def em32_sq_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization (symmetric int8) retrieval + recall audit —
    the third ANN compression class beside product quantization
    (em16/em17) and binary sign-sketches (em18): each vector gets ONE
    per-vector scale s = max|x|/127 and 64 int8 codes
    q_i = round(|x_i|/s)·sign(x_i), the memory layout every
    billion-vector serving index (FAISS SQ8, ScaNN) defaults to at
    4× compression. The elegance the query pins: under SYMMETRIC
    per-vector scaling the scale CANCELS in cosine —
    cos ≈ Σq_a·q_b / (√Σq_a² · √Σq_b²) — so the entire approximate
    ranking is EXACT-INTEGER arithmetic (bigint dots and norms, one
    double sqrt/divide at the end), deterministic under any layout
    with no decimal discipline needed. Probes (vec_id % 100 == 0)
    rank the whole corpus through codes; recall@10 audits the int8
    ranking against em1's exact blocked-BLAS top-k.

    Scale shape: quantization is one per-vector rollup + dim-keyed
    join; the rank pass moves 1-byte codes instead of 8-byte doubles
    (the 4-8× scan-bandwidth win SQ exists for); the exact side is
    the audit's oracle cost, production runs codes alone."""
    from paqarin_spark.operators import cosine_topk

    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    stats = dims.groupBy("vec_id").agg(F.max(F.abs("x")).alias("_mx"))
    codes = (
        dims.join(stats, "vec_id")
        .select(
            "vec_id",
            "dim",
            F.when(
                F.col("_mx") > 0,
                (
                    F.floor(
                        F.abs("x") / (F.col("_mx") / F.lit(127.0))
                        + F.lit(0.5)
                    )
                    * F.signum("x")
                ).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("q"),
        )
    )
    ssq = codes.groupBy("vec_id").agg(
        F.sum(F.col("q") * F.col("q")).cast("long").alias("_ssq")
    )
    probes = codes.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("p"), "dim", F.col("q").alias("pq")
    )
    dots = (
        probes.join(codes, "dim")
        .where(F.col("p") != F.col("vec_id"))
        .groupBy("p", "vec_id")
        .agg(F.sum(F.col("pq") * F.col("q")).cast("long").alias("_dot"))
    )
    scored = (
        dots.join(ssq.withColumnRenamed("vec_id", "p"), "p")
        .withColumnRenamed("_ssq", "_ssq_p")
        .join(ssq, "vec_id")
        .select(
            "p",
            "vec_id",
            F.round(
                F.col("_dot").cast("double")
                / (
                    F.sqrt(F.col("_ssq_p").cast("double"))
                    * F.sqrt(F.col("_ssq").cast("double"))
                ),
                6,
            ).alias("_sq_cos"),
        )
    )
    w = Window.partitionBy("p").orderBy(
        F.desc("_sq_cos"), F.asc("vec_id")
    )
    sq10 = scored.select(
        "p", "vec_id", F.row_number().over(w).alias("_rk")
    ).where(F.col("_rk") <= 10)
    # exact leg restricted to the probes (cosine_topk's queries=
    # param): k=11 because explicit queries disables self-exclusion
    # (the probe ranks itself #1), then drop self and re-rank under
    # the kernel's own (rounded-cos desc, neighbor asc) order — the
    # full-corpus top-k would do ~100x the BLAS work only to be
    # filtered to 1%
    probes_emb = emb.where(F.col("vec_id") % 100 == 0)
    exact_raw = cosine_topk(
        emb, "vec_id", "embedding", k=11, queries=probes_emb
    ).where(F.col("neighbor_id") != F.col("query_id"))
    we = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    exact10 = exact_raw.select(
        "query_id", "neighbor_id", F.row_number().over(we).alias("_erk")
    ).where(F.col("_erk") <= 10)
    flagged = sq10.join(
        exact10,
        (sq10.p == exact10.query_id) & (sq10.vec_id == exact10.neighbor_id),
        "left",
    )
    return (
        flagged.groupBy("p")
        .agg(
            F.sum(F.col("query_id").isNotNull().cast("long"))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            F.col("p").cast("long").alias("probe_id"),
            "n_hits",
            F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_10"),
        )
        .orderBy("probe_id")
    )


EM32_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), dims AS (
  SELECT vec_id, t.i AS dim, e[t.i + 1] AS x
  FROM v, LATERAL (SELECT unnest(range(0, 64)) AS i) t
), stats AS (
  SELECT vec_id, MAX(ABS(x)) AS mx FROM dims GROUP BY 1
), codes AS (
  SELECT d.vec_id, d.dim,
         CASE WHEN s.mx > 0 THEN
           CAST(FLOOR(ABS(d.x) / (s.mx / 127.0) + 0.5) * SIGN(d.x)
                AS BIGINT)
         ELSE 0 END AS q
  FROM dims d JOIN stats s USING (vec_id)
), ssq AS (
  SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS ssq FROM codes GROUP BY 1
), dots AS (
  SELECT p.vec_id AS pid, c.vec_id AS cid,
         CAST(SUM(p.q * c.q) AS BIGINT) AS dot
  FROM codes p JOIN codes c ON p.dim = c.dim
  WHERE p.vec_id % 100 = 0 AND p.vec_id <> c.vec_id
  GROUP BY 1, 2
), sq10 AS (
  SELECT pid, cid FROM (
    SELECT pid, cid,
           ROW_NUMBER() OVER (
             PARTITION BY pid
             ORDER BY ROUND(CAST(dot AS DOUBLE)
                  / (sqrt(CAST(a.ssq AS DOUBLE))
                     * sqrt(CAST(b.ssq AS DOUBLE))), 6) DESC, cid) AS rk
    FROM dots JOIN ssq a ON a.vec_id = pid JOIN ssq b ON b.vec_id = cid
  ) WHERE rk <= 10
), exact10 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
             ROUND(
               list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
               / (sqrt(list_sum(list_transform(range(1, 65),
                                               i -> a.e[i] * a.e[i])))
                  * sqrt(list_sum(list_transform(range(1, 65),
                                                 i -> b.e[i] * b.e[i])))),
               6) DESC, b.vec_id) AS rk
    FROM v a CROSS JOIN v b
    WHERE a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id
  ) WHERE rk <= 10
)
SELECT CAST(pid AS BIGINT) AS probe_id,
       CAST(SUM(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       ROUND(SUM(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
             / 10.0, 6) AS recall_at_10
FROM sq10 LEFT JOIN exact10 e
  ON e.query_id = sq10.pid AND e.neighbor_id = sq10.cid
GROUP BY pid ORDER BY probe_id
"""


def mm20_png_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-INTERLACED PNG decode end to end — the progressive-
    rendering layout web PNGs actually ship in, and the one PNG
    variant the decoder previously returned header-only: seven
    independently-filtered sub-images whose samples scatter back into
    the full raster on a (x0,y0,dx,dy) pass grid (spec §8.2; empty
    passes carry no bytes). Assets are spec-built at 6..11 × 6..10 so
    all seven passes are non-empty and every standard filter appears
    pass-locally; dimension metadata is withheld. The channel means
    come from the RECONSTRUCTED raster, so the oracle — which
    predicts them from the pixel formula by pure id arithmetic,
    exactly mm5's proof shape — catches any pass-extraction,
    defilter, or scatter bug, not just header parsing. Arrow-batched
    linear pass, no shuffle."""
    from paqarin_spark.multimodal import png_assets_from_ids, png_pixel_stats

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    return png_pixel_stats(
        png_assets_from_ids(docs, "doc_id", interlace=True, base=6)
    ).orderBy("asset_id")


MM20_SQL = """
WITH a AS (
  SELECT doc_id AS asset_id,
         CAST(doc_id % 6 + 6 AS INTEGER) AS width,
         CAST(doc_id % 5 + 6 AS INTEGER) AS height
  FROM documents
),
gx AS (SELECT asset_id, width, height, UNNEST(range(width)) AS x FROM a),
g AS (SELECT asset_id, width, height, x, UNNEST(range(height)) AS y FROM gx)
SELECT asset_id, width, height,
       ROUND(AVG((x + y + asset_id) % 256), 6) AS mean_r,
       ROUND(AVG((2 * x + y + asset_id) % 256), 6) AS mean_g,
       ROUND(AVG((x * y + asset_id) % 256), 6) AS mean_b
FROM g
GROUP BY asset_id, width, height
ORDER BY asset_id
"""


def q112_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source round-trip PROOF — the LAST unproven leg of the
    A1/A3 format family (q97 JSONL, q107 ORC, parquet everywhere):
    orders' pricing columns are written through sources.write_csv
    (header text files), read back through sources.read_csv with an
    EXPLICIT schema (inference is the production anti-pattern — two
    scans, no pruning), and rolled up day × status — while the ORACLE
    aggregates the ORIGINAL parquet, so the hash match proves doubles
    survive the text round-trip bit-exactly (Spark writes shortest
    round-trip decimal representations; reading them back under a
    double schema reproduces the exact IEEE values). Staging via
    :func:`_staging_dir` (pid-scoped dir, stale sweep, exit cleanup)."""
    from paqarin_spark.sources import read_csv, write_csv

    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    staged = orders.select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "o_orderstatus",
        "o_totalprice",
    )
    path = _staging_dir("paqarin_q112_", sf_dir)
    write_csv(staged, path)
    back = read_csv(
        spark,
        path,
        schema="order_day string, o_orderstatus string, o_totalprice double",
    )
    return (
        back.groupBy("order_day", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,10)")).cast(
                    "double"
                ),
                6,
            ).alias("sum_price"),
        )
        .orderBy("order_day", "o_orderstatus")
    )


Q112_SQL = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day, o_orderstatus,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS sum_price
FROM orders
GROUP BY 1, 2
ORDER BY order_day, o_orderstatus
"""


def em31_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin cluster-validity audit over the labeled
    embedding clusters: per label the within-cluster scatter (mean
    member→centroid distance) and the DB component max_{j≠i}
    (s_i+s_j)/d(c_i,c_j) — the compactness-vs-separation score that
    needs only centroid-local statistics (no all-pairs over vectors,
    unlike silhouette): k·d centroids + k² centroid distances.
    Determinism discipline: centroids round to 6dp FIRST (the em7
    identical-inputs rule), every 64-term squared sum aggregates as
    decimal(30,12) (order-independent), scatters round to 6dp before
    the ratio — so both engines walk identical doubles end to end.
    Scale shape: one posexplode rollup for centroids, one
    member-distance join keyed on (label, dim), one k²-bounded
    centroid self-join; nothing driver-side."""
    configure_for_determinism(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    cen = dims.groupBy("label", "dim").agg(
        F.round(F.avg("x"), 6).alias("c")
    ).localCheckpoint()
    term = (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
    dist = (
        dims.join(cen, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum(term.cast("decimal(30,12)")).cast("double")
            ).alias("_dist")
        )
    )
    scat = dist.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum(F.col("_dist").cast("decimal(30,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("scatter"),
    )
    ca = cen.select(
        F.col("label").alias("_la"), "dim", F.col("c").alias("_c1")
    )
    cb = cen.select(
        F.col("label").alias("_lb"),
        F.col("dim").alias("_dim2"),
        F.col("c").alias("_c2"),
    )
    dterm = (F.col("_c1") - F.col("_c2")) * (F.col("_c1") - F.col("_c2"))
    cdist = (
        ca.join(
            cb,
            (F.col("dim") == F.col("_dim2"))
            & (F.col("_la") != F.col("_lb")),
        )
        .groupBy("_la", "_lb")
        .agg(
            F.sqrt(
                F.sum(dterm.cast("decimal(30,12)")).cast("double")
            ).alias("_d")
        )
    )
    sa = scat.select(F.col("label").alias("_la"), F.col("scatter").alias("_sa"))
    sb = scat.select(F.col("label").alias("_lb"), F.col("scatter").alias("_sb"))
    ratios = (
        cdist.join(sa, "_la")
        .join(sb, "_lb")
        .groupBy("_la")
        .agg(
            F.round(
                F.max((F.col("_sa") + F.col("_sb")) / F.col("_d")), 6
            ).alias("db_component")
        )
    )
    return (
        scat.join(ratios, scat.label == ratios._la)
        .select("label", "n_members", "scatter", "db_component")
        .orderBy("label")
    )


EM31_SQL = """
WITH dims AS (
  SELECT vec_id, label, CAST(t.i - 1 AS INTEGER) AS dim,
         CAST(embedding[t.i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(1, 65) t(i)
), cen AS (
  SELECT label, dim, ROUND(AVG(x), 6) AS c
  FROM dims GROUP BY label, dim
), dist AS (
  SELECT vec_id, dims.label,
         sqrt(CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(30,12)))
                   AS DOUBLE)) AS d
  FROM dims JOIN cen ON dims.label = cen.label AND dims.dim = cen.dim
  GROUP BY vec_id, dims.label
), scat AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
         ROUND(CAST(SUM(CAST(d AS DECIMAL(30,12))) AS DOUBLE)
               / COUNT(*), 6) AS scatter
  FROM dist GROUP BY label
), cdist AS (
  SELECT a.label AS la, b.label AS lb,
         sqrt(CAST(SUM(CAST((a.c - b.c) * (a.c - b.c) AS DECIMAL(30,12)))
                   AS DOUBLE)) AS d
  FROM cen a JOIN cen b ON a.dim = b.dim AND a.label <> b.label
  GROUP BY a.label, b.label
), ratios AS (
  SELECT la, ROUND(MAX((sa.scatter + sb.scatter) / d), 6) AS db_component
  FROM cdist
  JOIN scat sa ON sa.label = cdist.la
  JOIN scat sb ON sb.label = cdist.lb
  GROUP BY la
)
SELECT label, n_members, scatter, db_component
FROM scat JOIN ratios ON scat.label = ratios.la
ORDER BY label
"""


def st20_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING FILE SINK round-trip — every other streaming query
    verifies through the memory sink; the DEPLOYED path of a
    streaming ETL writes exactly-once PARQUET FILES under a
    checkpoint, and this query proves that path end to end: events
    stream through a stateless projection into a parquet file sink
    (append mode, availableNow, checkpointed), the sink directory is
    then read back with the BATCH reader and rolled up day × type —
    and the oracle aggregates the ORIGINAL events table, so the hash
    match proves the streamed files carry every row exactly once
    with doubles bit-intact (the q97/q107 proof, now through the
    micro-batch commit protocol). Re-runs in one process reuse the
    checkpoint: committed offsets make the second run a no-op and
    the files stay correct — idempotence is the sink contract.

    Scale shape: stateless stream (no state store), file commits per
    micro-batch; staging via :func:`_staging_dir` (pid-scoped dirs,
    stale sweep, exit cleanup)."""
    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    staged = stream.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
    )
    base = _staging_dir("paqarin_st20_", sf_dir)
    with _bounded_state_partitions(
        spark, _stream_state_partition_count(spark, sf_dir, ("events",))
    ):
        q = (
            staged.writeStream.format("parquet")
            .option("path", os.path.join(base, "out"))
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = spark.read.schema(
        "day string, event_type string, value double"
    ).parquet(os.path.join(base, "out"))
    return (
        back.groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,10)")).cast("double"),
                6,
            ).alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


ST20_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 6)
         AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def ev25_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — the calibration
    audit beside ev17's reliability bins: a probability forecast of
    "order finalizes" is FIT on the odd-orderkey half (per-priority
    empirical F-rate) and EVALUATED on the even half, where

        brier = reliability − resolution + uncertainty
        REL = Σ n_k (p_k − o_k)² / N    (forecast vs realized, per bin)
        RES = Σ n_k (o_k − ō)² / N      (how much the bins separate)
        UNC = ō (1 − ō)

    The identity is exact for binned forecasts (p constant within a
    priority), so the output reports all four terms AND the directly
    computed mean (p−y)² — the hash match pins the identity itself.
    Counts aggregate exactly (bigint); the double arithmetic runs on
    count ratios, mirrored op-for-op. Scale shape: two priority-keyed
    rollups and one 5-row join — nothing wider than the ev12 class."""
    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    labeled = orders.select(
        "o_orderpriority",
        (F.col("o_orderkey") % 2 == 1).alias("_train"),
        (F.col("o_orderstatus") == "F").cast("int").alias("_y"),
    )
    fit = (
        labeled.where("_train")
        .groupBy("o_orderpriority")
        .agg(
            (
                F.sum("_y").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("_p")
        )
    )
    test = (
        labeled.where(~F.col("_train"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("_nk"),
            F.sum("_y").alias("_yk"),
        )
    )
    binned = test.join(fit, "o_orderpriority").select(
        "_nk",
        "_p",
        (F.col("_yk").cast("double") / F.col("_nk").cast("double")).alias(
            "_ok"
        ),
        "_yk",
    )
    agg = binned.agg(
        F.sum("_nk").cast("long").alias("n"),
        F.sum("_yk").cast("long").alias("_ny"),
        F.sum(
            F.col("_nk").cast("double")
            * (F.col("_p") - F.col("_ok"))
            * (F.col("_p") - F.col("_ok"))
        ).alias("_rel_num"),
        # Σ_rows (p−y)² = n_k·p² − 2·p·y_k + y_k per bin (y² = y)
        F.sum(
            F.col("_nk").cast("double") * F.col("_p") * F.col("_p")
            - F.lit(2.0) * F.col("_p") * F.col("_yk").cast("double")
            + F.col("_yk").cast("double")
        ).alias("_brier_num"),
        F.sum(F.col("_nk").cast("double") * F.col("_ok") * F.col("_ok"))
        .alias("_sok2"),
    )
    obar = F.col("_ny").cast("double") / F.col("n").cast("double")
    rel = F.col("_rel_num") / F.col("n").cast("double")
    res = F.col("_sok2") / F.col("n").cast("double") - obar * obar
    unc = obar * (F.lit(1.0) - obar)
    brier = F.col("_brier_num") / F.col("n").cast("double")
    return agg.select(
        "n",
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(rel - res + unc, 6).alias("identity_brier"),
    )


EV25_SQL = """
WITH labeled AS (
  SELECT o_orderpriority,
         o_orderkey % 2 = 1 AS train,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), fit AS (
  SELECT o_orderpriority,
         CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p
  FROM labeled WHERE train GROUP BY 1
), test AS (
  SELECT o_orderpriority, COUNT(*) AS nk, SUM(y) AS yk
  FROM labeled WHERE NOT train GROUP BY 1
), binned AS (
  SELECT nk, p, CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE) AS ok, yk
  FROM test JOIN fit USING (o_orderpriority)
), agg AS (
  SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(yk) AS BIGINT) AS ny,
         SUM(CAST(nk AS DOUBLE) * (p - ok) * (p - ok)) AS rel_num,
         SUM(CAST(nk AS DOUBLE) * p * p
             - 2.0 * p * CAST(yk AS DOUBLE)
             + CAST(yk AS DOUBLE)) AS brier_num,
         SUM(CAST(nk AS DOUBLE) * ok * ok) AS sok2
  FROM binned
)
SELECT n,
       ROUND(brier_num / CAST(n AS DOUBLE), 6) AS brier,
       ROUND(rel_num / CAST(n AS DOUBLE), 6) AS reliability,
       ROUND(sok2 / CAST(n AS DOUBLE)
             - (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS resolution,
       ROUND((CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS uncertainty,
       ROUND(rel_num / CAST(n AS DOUBLE)
             - (sok2 / CAST(n AS DOUBLE)
                - (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)))
             + (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS identity_brier
FROM agg
"""


def mm18_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF/LZW codec round-trip (multimodal.gif_assets_from_ids →
    gif_pixel_stats): every asset is a REAL single-frame GIF89a whose
    4-color index raster is id-arithmetic, compressed by the
    hand-written variable-width LZW encoder and decoded back through
    the parser's screen-descriptor walk + LZW decompressor — the
    dictionary-coding rung of the honest-codec ladder (stored/zlib →
    LZW → DCT). The oracle predicts width/height/pixel-mean/
    color-counts from id arithmetic alone, so a hash match proves
    decode(encode(x)) == x pixel-by-pixel through the compressor.
    External-reader cross-validation is an env seam (no PIL here);
    the bit format is pinned by hand-computed bitstream fixtures in
    tests/test_multimodal.py. Arrow-batched linear pass, no shuffle."""
    from paqarin_spark.multimodal import (
        gif_assets_from_ids,
        gif_pixel_stats,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    return gif_pixel_stats(gif_assets_from_ids(docs, "doc_id")).orderBy(
        "asset_id"
    )


MM18_SQL = """
WITH a AS (
  SELECT doc_id AS asset_id, doc_id % 16 + 1 AS w, doc_id % 12 + 1 AS h
  FROM documents
), px AS (
  SELECT asset_id, w, h, (x.i + y.i * w + asset_id) % 4 AS idx
  FROM a,
       LATERAL (SELECT unnest(range(0, w)) AS i) x,
       LATERAL (SELECT unnest(range(0, h)) AS i) y
)
SELECT asset_id,
       CAST(MAX(w) AS INTEGER) AS width,
       CAST(MAX(h) AS INTEGER) AS height,
       CAST(COUNT(*) AS INTEGER) AS n_pixels,
       ROUND(CAST(SUM(idx) AS DOUBLE) / COUNT(*), 6) AS mean_index,
       CAST(SUM(CASE WHEN idx = 0 THEN 1 ELSE 0 END) AS INTEGER)
         AS count_c0
FROM px GROUP BY asset_id ORDER BY asset_id
"""


def gen11_fgm_copula_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copula-based joint synthesizer — the SDV-GaussianCopula seam of
    the reference's generator zoo (paqarin wraps SDV's copula models;
    sdv_adapter.py), re-expressed with the Farlie–Gumbel–Morgenstern
    family because its conditional inverse is CLOSED-FORM in +,−,×,÷
    and one sqrt — every step is a correctly-rounded IEEE op, so the
    sample replays BIT-EXACTLY in SQL (no libm pow/ln in the sampling
    path, unlike Clayton/Gumbel). Fit: Kendall τ of (daily volume,
    daily revenue) over the calendar-bounded rollup (the ev23
    census), θ = clamp(9τ/2, −1, 1) via the FGM identity τ = 2θ/9.
    Sample: 1200 draws of (u, v) where u is an md5 uniform and v
    inverts the conditional CDF v(1 + θ(1−2u)(1−v)) = p; marginals
    map back through exact empirical quantile joins (ceil(u·n)-th
    order statistic, the gen7/gen8 machinery). FGM buys exactness at
    the cost of weak dependence (|τ| ≤ 2/9) — stated, not hidden.

    Scale shape: fit is the bounded day-pair census; sampling is a
    spark.range projection + two broadcast-sized rank-table joins."""
    from paqarin_spark.functions import uniform_hash

    from paqarin_spark.metrics.ranking import kendall_census

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.col("value").cast("decimal(30,10)")).alias("y"),
    )
    # ONE shared pair census with ev23 (metrics.ranking) — a constant
    # group key makes it global
    cen = kendall_census(
        daily.withColumn("_g", F.lit(1)), "_g", "day", "x", "y"
    )
    dec = "decimal(38,0)"
    tau = (F.col("_c") - F.col("_d")).cast("double") / F.sqrt(
        (F.col("_n0").cast(dec) - F.col("_tx")).cast("double")
        * (F.col("_n0").cast(dec) - F.col("_ty")).cast("double")
    )
    theta_row = cen.select(
        F.least(
            F.lit(1.0), F.greatest(F.lit(-1.0), F.lit(4.5) * tau)
        ).alias("_theta")
    )
    n_row = daily.agg(F.count(F.lit(1)).alias("_n"))
    wx = Window.orderBy("x", "day")
    xr = daily.select(F.col("x"), F.row_number().over(wx).alias("_ix"))
    wy = Window.orderBy("y", "day")
    yr = daily.select(F.col("y"), F.row_number().over(wy).alias("_iy"))
    m = 1200
    draws = (
        spark.range(m)
        .select(
            F.col("id").alias("i"),
            uniform_hash(
                F.lit("g11u"), F.col("id").cast("string")
            ).alias("_u"),
            uniform_hash(
                F.lit("g11p"), F.col("id").cast("string")
            ).alias("_p"),
        )
        .crossJoin(F.broadcast(theta_row))
        .crossJoin(F.broadcast(n_row))
    )
    bb = F.col("_theta") * (F.lit(1.0) - F.lit(2.0) * F.col("_u"))
    disc = (F.lit(1.0) + bb) * (F.lit(1.0) + bb) - F.lit(4.0) * bb * F.col(
        "_p"
    )
    v = F.when(F.abs(bb) < F.lit(1e-12), F.col("_p")).otherwise(
        ((F.lit(1.0) + bb) - F.sqrt(disc)) / (F.lit(2.0) * bb)
    )
    keyed = draws.select(
        "i",
        "_theta",
        F.least(
            F.col("_n"),
            F.greatest(F.lit(1).cast("long"), F.ceil(F.col("_u") * F.col("_n"))),
        ).cast("int").alias("_ix"),
        F.least(
            F.col("_n"),
            F.greatest(F.lit(1).cast("long"), F.ceil(v * F.col("_n"))),
        ).cast("int").alias("_iy"),
    )
    return (
        keyed.join(F.broadcast(xr), "_ix")
        .join(F.broadcast(yr), "_iy")
        .select(
            "i",
            F.col("x").cast("long").alias("sampled_events"),
            F.round(F.col("y").cast("double"), 6).alias("sampled_revenue"),
            F.round("_theta", 6).alias("theta"),
        )
        .orderBy("i")
    )


GEN11_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x,
         SUM(CAST(value AS DECIMAL(30,10))) AS y
  FROM events GROUP BY 1
), dailyf AS (
  -- day is the census order key; NULL-filtered to mirror
  -- kendall_census's usable-row contract
  SELECT * FROM daily
  WHERE day IS NOT NULL AND x IS NOT NULL AND y IS NOT NULL
), pairs AS (
  SELECT CASE WHEN a.x < b.x THEN -1 WHEN a.x > b.x THEN 1 ELSE 0 END AS dx,
         CASE WHEN a.y < b.y THEN -1 WHEN a.y > b.y THEN 1 ELSE 0 END AS dy
  FROM dailyf a JOIN dailyf b ON a.day < b.day
), cen AS (
  SELECT CAST(SUM(CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS c,
         CAST(SUM(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS d,
         CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))
           AS tx,
         CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))
           AS ty,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n0
  FROM pairs
), theta_row AS (
  SELECT LEAST(1.0, GREATEST(-1.0,
           4.5 * (CAST(c - d AS DOUBLE)
                  / sqrt(CAST(n0 - tx AS DOUBLE)
                         * CAST(n0 - ty AS DOUBLE))))) AS theta
  FROM cen
), n_row AS (
  SELECT COUNT(*) AS n FROM daily
), xr AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, day) AS ix FROM daily
), yr AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY y, day) AS iy FROM daily
), draws AS (
  SELECT i,
         ('0x' || substring(md5('g11u#' || CAST(i AS VARCHAR)), 1, 15))
           ::UBIGINT / 1152921504606846976.0 AS u,
         ('0x' || substring(md5('g11p#' || CAST(i AS VARCHAR)), 1, 15))
           ::UBIGINT / 1152921504606846976.0 AS p
  FROM (SELECT unnest(range(0, 1200)) AS i)
), solved AS (
  SELECT i, theta, u, p,
         theta * (1.0 - 2.0 * u) AS b
  FROM draws CROSS JOIN theta_row
), keyed AS (
  SELECT i, theta,
         LEAST(n, GREATEST(1, CAST(CEIL(u * n) AS BIGINT))) AS ix,
         LEAST(n, GREATEST(1, CAST(CEIL(
           (CASE WHEN ABS(b) < 1e-12 THEN p
                 ELSE ((1.0 + b) - sqrt((1.0 + b) * (1.0 + b)
                                        - 4.0 * b * p)) / (2.0 * b)
            END) * n) AS BIGINT))) AS iy
  FROM solved CROSS JOIN n_row
)
SELECT i, CAST(xr.x AS BIGINT) AS sampled_events,
       ROUND(CAST(yr.y AS DOUBLE), 6) AS sampled_revenue,
       ROUND(theta, 6) AS theta
FROM keyed JOIN xr USING (ix) JOIN yr USING (iy)
ORDER BY i
"""


def ev26_crps_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-based CRPS — the proper scoring rule for ENSEMBLE
    forecasts (the ev14 interval check grades one interval; CRPS
    grades the whole predictive distribution):

        CRPS = (1/m)·Σ|xᵢ − y| − (1/2m²)·ΣΣ|xᵢ − xⱼ|

    per event type, with the ensemble = the first 8 days' totals and
    the outcome y = the last day's total (a persistence-ensemble
    backtest). Both Σ terms are ENSEMBLE-BOUNDED (m and m² rows per
    group, m=8 forever) and aggregate exact decimals — |xᵢ−y| of
    decimal(30,10) values is exact — so only the final two divides
    run in double. Output keeps the MAE and spread terms beside the
    score (CRPS = sharpness-penalized error; the decomposition is
    what a forecast dashboard plots)."""
    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(30,10)")).alias("x"))
    w_asc = Window.partitionBy("event_type").orderBy("day")
    w_desc = Window.partitionBy("event_type").orderBy(F.desc("day"))
    ranked = daily.select(
        "event_type",
        "x",
        F.row_number().over(w_asc).alias("_ra"),
        F.row_number().over(w_desc).alias("_rd"),
    )
    ens = ranked.where(F.col("_ra") <= 8).select(
        "event_type", F.col("_ra").alias("_i"), F.col("x").alias("_xi")
    )
    obs = ranked.where(F.col("_rd") == 1).select(
        "event_type", F.col("x").alias("_y")
    )
    mae = (
        ens.join(obs, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(F.abs(F.col("_xi") - F.col("_y"))).alias("_mae_sum"),
        )
    )
    e2 = ens.select(
        F.col("event_type").alias("_et"),
        F.col("_i").alias("_j"),
        F.col("_xi").alias("_xj"),
    )
    spread = (
        ens.join(e2, ens.event_type == e2._et)
        .groupBy("event_type")
        .agg(F.sum(F.abs(F.col("_xi") - F.col("_xj"))).alias("_sp_sum"))
    )
    md = F.col("m").cast("double")
    crps = F.col("_mae_sum").cast("double") / md - F.col(
        "_sp_sum"
    ).cast("double") / (F.lit(2.0) * md * md)
    return (
        mae.join(spread, "event_type")
        .select(
            "event_type",
            "m",
            F.round(F.col("_mae_sum").cast("double") / md, 6).alias(
                "mae_term"
            ),
            F.round(
                F.col("_sp_sum").cast("double") / (F.lit(2.0) * md * md), 6
            ).alias("spread_term"),
            F.round(crps, 6).alias("crps"),
        )
        .orderBy("event_type")
    )


EV26_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(value AS DECIMAL(30,10))) AS x
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS ra,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day DESC)
           AS rd
  FROM daily
), ens AS (
  SELECT event_type, ra AS i, x AS xi FROM ranked WHERE ra <= 8
), obs AS (
  SELECT event_type, x AS y FROM ranked WHERE rd = 1
), mae AS (
  SELECT ens.event_type, CAST(COUNT(*) AS BIGINT) AS m,
         SUM(ABS(xi - y)) AS mae_sum
  FROM ens JOIN obs USING (event_type) GROUP BY 1
), spread AS (
  SELECT a.event_type, SUM(ABS(a.xi - b.xi)) AS sp_sum
  FROM ens a JOIN ens b USING (event_type) GROUP BY 1
)
SELECT event_type, m,
       ROUND(CAST(mae_sum AS DOUBLE) / CAST(m AS DOUBLE), 6) AS mae_term,
       ROUND(CAST(sp_sum AS DOUBLE)
             / (2.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
         AS spread_term,
       ROUND(CAST(mae_sum AS DOUBLE) / CAST(m AS DOUBLE)
             - CAST(sp_sum AS DOUBLE)
               / (2.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6) AS crps
FROM mae JOIN spread USING (event_type)
ORDER BY event_type
"""


def tx53_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    gate beside the length/stopword heuristics (tx10) and learned
    filters (tx45/tx51): 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), with sentences = [.!?]+ runs in the raw
    text (floored at 1) and syllables = per-word [aeiouy]+ vowel
    groups (floored at 1 per word, so digit-only tokens count one) —
    the standard dictionary-free approximation. Everything is
    regexp-count arithmetic on the shared token alphabet: one explode
    rollup for syllables, zero joins, shuffle keyed on doc_id only.
    Documents with no tokens report NULL flesch (undefined, not 0)."""
    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    from paqarin_spark.operators.dedup import tokens as _tokens

    syl = (
        docs.select(
            "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
        )
        .select(
            "doc_id",
            F.greatest(
                F.lit(1), F.regexp_count("tok", F.lit("[aeiouy]+"))
            ).alias("_s"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("_s").cast("long").alias("n_syllables"),
        )
    )
    sent = docs.select(
        "doc_id",
        F.greatest(
            F.lit(1), F.regexp_count("text", F.lit("[.!?]+"))
        ).cast("long").alias("n_sentences"),
    )
    joined = sent.join(syl, "doc_id", "left")
    wd = F.col("n_words").cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (wd / F.col("n_sentences").cast("double"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / wd)
    )
    return joined.select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        "n_sentences",
        F.coalesce("n_syllables", F.lit(0)).alias("n_syllables"),
        F.round(F.when(F.col("n_words") > 0, flesch), 6).alias("flesch"),
    ).orderBy("doc_id")


TX53_SQL = f"""
WITH syl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(GREATEST(1, len(regexp_extract_all(tok, '[aeiouy]+'))))
              AS BIGINT) AS n_syllables
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents)
  GROUP BY doc_id
), sent AS (
  SELECT doc_id,
         CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
              AS BIGINT) AS n_sentences
  FROM documents
)
SELECT doc_id,
       COALESCE(n_words, 0) AS n_words,
       n_sentences,
       COALESCE(n_syllables, 0) AS n_syllables,
       ROUND(CASE WHEN n_words > 0 THEN
           206.835
           - 1.015 * (CAST(n_words AS DOUBLE)
                      / CAST(n_sentences AS DOUBLE))
           - 84.6 * (CAST(n_syllables AS DOUBLE)
                     / CAST(n_words AS DOUBLE)) END, 6) AS flesch
FROM sent LEFT JOIN syl USING (doc_id)
ORDER BY doc_id
"""


def _psi_reference_edges(ref: DataFrame) -> DataFrame:
    """The ONE decile-edge extraction both PSI surfaces (ev27 batch,
    st21 streaming) build on: exact order-statistic picks at rank
    ceil(k·n/10), k = 1..9, under a deterministic (value, event_id)
    total order. Round 12: the global rank comes from
    operators.windows.distributed_rank (two-level bucket ranks +
    constant-size offset rollup), so the reference window — which
    SCALES with SF (15 days of events) — is never sorted on one
    task; the rank values are identical to the single-window
    row_number the oracle replays."""
    from paqarin_spark.operators import distributed_rank

    ranked = distributed_rank(
        ref.select("value", "event_id"),
        ["value", "event_id"],
        rank_column="_r",
        count_column="_n",
    )
    return ranked.where(
        F.expr("exists(sequence(1, 9), k -> _r = ceil(k * _n / 10))")
    ).select(F.col("value").alias("_edge"), F.col("_r").alias("_rank"))


def _psi_report(counts: DataFrame) -> DataFrame:
    """The ONE Laplace-smoothed PSI-term arithmetic both surfaces
    share: (bin, n_ref, n_cur) → per-bin (q−p)·ln(q/p) with
    (count+1)/(total+10) proportions, 6dp. Mirrored op-for-op by
    EV27_SQL (st21's oracle is literally that SQL, so this helper is
    what keeps the batch/stream parity proof from drifting)."""
    tot = counts.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    p = (F.col("n_ref").cast("double") + F.lit(1.0)) / (
        F.col("_tr").cast("double") + F.lit(10.0)
    )
    q = (F.col("n_cur").cast("double") + F.lit(1.0)) / (
        F.col("_tc").cast("double") + F.lit(10.0)
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n_ref",
            "n_cur",
            F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


def ev27_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the production ML-monitoring
    drift metric beside the KS gap (ev6) and chi-square (ev12): the
    event-value distribution of the FIRST 15 days (reference window)
    vs everything after (current window), binned by the reference's
    own exact decile edges (_psi_reference_edges), each bin's term
    (c_i − r_i)·ln(c_i/r_i) reported with Laplace-smoothed
    proportions (_psi_report) so empty bins stay finite. Counts are
    exact bigints; only the proportion ratios and ln run in double,
    mirrored op-for-op. Bin assignment folds the 9-edge ARRAY in one
    broadcast row (F.aggregate — no per-event fan-out or row-keyed
    shuffle; the only fact-side exchange is the ≤10-key bin rollup).
    Output: one row per OCCUPIED bin; Σterm is the PSI (>0.25 =
    action threshold in the standard reading)."""
    configure_for_determinism(spark)
    # NULL values carry no bin evidence and are dropped explicitly —
    # the same stated contract as stream_bin_counts, keeping the
    # st21 batch/stream parity proof independent of the dataset
    # never carrying NULLs.
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    d0 = ev.agg(F.min(F.to_date("ts")).alias("_d0"))
    dated = ev.crossJoin(F.broadcast(d0)).select(
        "event_id",
        "value",
        (F.datediff(F.to_date("ts"), F.col("_d0")) < 15).alias("_ref"),
    )
    earr = _psi_reference_edges(dated.where("_ref")).agg(
        F.collect_list("_edge").alias("_edges")
    )
    binned = (
        dated.crossJoin(F.broadcast(earr))
        .select(
            "_ref",
            F.aggregate(
                "_edges",
                F.lit(0),
                lambda acc, e: acc + (F.col("value") > e).cast("int"),
            ).alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("_ref"), 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(~F.col("_ref"), 1).otherwise(0))
            .cast("long")
            .alias("n_cur"),
        )
    )
    return _psi_report(binned)


EV27_SQL = """
WITH dated AS (
  SELECT event_id, value,
         date_diff('day', (SELECT MIN(CAST(ts AS DATE))
                           FROM events WHERE value IS NOT NULL),
                   CAST(ts AS DATE)) < 15 AS ref
  FROM events WHERE value IS NOT NULL
), ranked AS (
  SELECT value, ROW_NUMBER() OVER (ORDER BY value, event_id) AS r,
         COUNT(*) OVER () AS n
  FROM dated WHERE ref
), edges AS (
  SELECT value AS edge FROM ranked
  WHERE EXISTS (SELECT 1 FROM range(1, 10) t(k)
                WHERE r = CAST(CEIL(k * n / 10.0) AS BIGINT))
), binned AS (
  SELECT bin,
         CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cur
  FROM (
    SELECT d.event_id, d.ref,
           SUM(CASE WHEN d.value > e.edge THEN 1 ELSE 0 END) AS bin
    FROM dated d CROSS JOIN edges e
    GROUP BY d.event_id, d.ref
  ) GROUP BY bin
), tot AS (
  SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM binned
)
SELECT CAST(bin AS INTEGER) AS bin, n_ref, n_cur,
       ROUND(((CAST(n_cur AS DOUBLE) + 1.0) / (CAST(tc AS DOUBLE) + 10.0)
              - (CAST(n_ref AS DOUBLE) + 1.0)
                / (CAST(tr AS DOUBLE) + 10.0))
             * ln(((CAST(n_cur AS DOUBLE) + 1.0)
                   / (CAST(tc AS DOUBLE) + 10.0))
                  / ((CAST(n_ref AS DOUBLE) + 1.0)
                     / (CAST(tr AS DOUBLE) + 10.0))), 6) AS psi_term
FROM binned CROSS JOIN tot
ORDER BY bin
"""


def q108_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT surface proof (the one relational set operation the
    registry hadn't exercised — EXCEPT lives in q33): customers who
    ordered in BOTH calendar halves, with the retained share per
    market segment. The halves split on the order-date midpoint
    (min+max)/2 computed in-plan; INTERSECT DISTINCT of the two
    custkey sets is the Spark `intersect`, which Catalyst plans as a
    left-semi join aggregation — shuffle keyed on the customer, no
    driver involvement."""
    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("_lo"),
        F.max(F.to_date("o_orderdate")).alias("_hi"),
    )
    dated = orders.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        (
            F.datediff(F.to_date("o_orderdate"), F.col("_lo"))
            * 2
            <= F.datediff(F.col("_hi"), F.col("_lo"))
        ).alias("_first_half"),
    )
    first = dated.where("_first_half").select("o_custkey").distinct()
    second = dated.where(~F.col("_first_half")).select("o_custkey").distinct()
    both = first.intersect(second)
    return (
        cust.join(both, cust.c_custkey == both.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(
                F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_repeat"),
            F.round(
                F.sum(
                    F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("repeat_share"),
        )
        .orderBy("c_mktsegment")
    )


Q108_SQL = """
WITH bounds AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
         MAX(CAST(o_orderdate AS DATE)) AS hi
  FROM orders
), dated AS (
  SELECT o_custkey,
         date_diff('day', lo, CAST(o_orderdate AS DATE)) * 2
           <= date_diff('day', lo, hi) AS first_half
  FROM orders CROSS JOIN bounds
), both_halves AS (
  SELECT o_custkey FROM dated WHERE first_half
  INTERSECT
  SELECT o_custkey FROM dated WHERE NOT first_half
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repeat,
       ROUND(CAST(SUM(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS repeat_share
FROM customer LEFT JOIN both_halves b ON c_custkey = b.o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q109_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA — the estimation HLL registers cannot
    do: intersection cardinality of two key sets from one bottom-k
    sketch of their union (Beyer et al. 2007). Clickers ∩ viewers:
    every member hashes to the portable md5 uniform, the k smallest
    of the UNION form the sketch, the fraction m/k of sketch members
    belonging to BOTH sets estimates the Jaccard, and est_inter =
    (m/k)·(k−1)/u_k. The exact intersection runs beside it so the
    output audits the estimator's relative error end to end (the q67
    discipline, lifted from one set to the set algebra). Scale shape:
    one distinct rollup keyed on the user (flags via conditional
    max), one global bottom-k via orderBy+limit — a true distributed
    TakeOrderedAndProject (per-partition heaps, k-row merge on the
    driver side of the exchange) — then a rank window over only the
    k=64 survivors, and one 1-row compare."""
    configure_for_determinism(spark)
    k = 64
    ev = _events(spark, sf_dir)
    flags = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("_a"),
            F.max((F.col("event_type") == "view").cast("int")).alias("_b"),
        )
    )
    hashed = flags.select(
        "user_id",
        "_a",
        "_b",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("double")
            / F.lit(float(1 << 60))
        ).alias("_u"),
    )
    # Bottom-k first via distributed TakeOrdered (orderBy+limit) —
    # the q16 pattern — THEN rank the k survivors for u_k.  A global
    # row_number window over every distinct user would
    # single-partition the whole rollup at scale (the exact failure
    # a KMV sketch exists to avoid: Beyer et al. 2007's bottom-k is
    # a per-partition top-k merge, never a global sort).
    bottom = hashed.orderBy("_u", "user_id").limit(k)
    w = Window.orderBy("_u", "user_id")
    sk = bottom.withColumn("_rn", F.row_number().over(w))
    sk_agg = sk.agg(
        F.count(F.lit(1)).alias("_nk"),
        F.sum(F.col("_a") * F.col("_b")).alias("_m"),
        F.max(F.when(F.col("_rn") == k, F.col("_u"))).alias("_uk"),
    )
    exact = hashed.agg(
        F.sum("_a").cast("long").alias("n_clickers"),
        F.sum("_b").cast("long").alias("n_viewers"),
        F.sum(F.col("_a") * F.col("_b")).cast("long").alias("exact_inter"),
        F.count(F.lit(1)).cast("long").alias("exact_union"),
    )
    est_union = F.coalesce(
        F.lit(k - 1) / F.col("_uk"), F.col("exact_union").cast("double")
    )
    est_inter = (
        F.col("_m").cast("double") / F.col("_nk").cast("double")
    ) * est_union
    return exact.crossJoin(F.broadcast(sk_agg)).select(
        "n_clickers",
        "n_viewers",
        "exact_inter",
        F.round(
            F.col("_m").cast("double") / F.col("_nk").cast("double"), 6
        ).alias("jaccard_est"),
        F.round(est_inter, 6).alias("est_inter"),
        F.round(
            F.abs(est_inter - F.col("exact_inter").cast("double"))
            / F.col("exact_inter").cast("double"),
            6,
        ).alias("rel_err"),
    )


Q109_SQL = """
WITH flags AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY user_id
), hashed AS (
  SELECT user_id, a, b,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
           ::UBIGINT / 1152921504606846976.0 AS u
  FROM flags
), sk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY u, user_id) AS rn
  FROM hashed QUALIFY rn <= 64
), sk_agg AS (
  SELECT COUNT(*) AS nk, SUM(a * b) AS m,
         MAX(CASE WHEN rn = 64 THEN u END) AS uk
  FROM sk
), exact AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n_clickers,
         CAST(SUM(b) AS BIGINT) AS n_viewers,
         CAST(SUM(a * b) AS BIGINT) AS exact_inter,
         CAST(COUNT(*) AS BIGINT) AS exact_union
  FROM hashed
)
SELECT n_clickers, n_viewers, exact_inter,
       ROUND(CAST(m AS DOUBLE) / CAST(nk AS DOUBLE), 6) AS jaccard_est,
       ROUND((CAST(m AS DOUBLE) / CAST(nk AS DOUBLE))
             * COALESCE(63.0 / uk, CAST(exact_union AS DOUBLE)), 6)
         AS est_inter,
       ROUND(ABS((CAST(m AS DOUBLE) / CAST(nk AS DOUBLE))
                 * COALESCE(63.0 / uk, CAST(exact_union AS DOUBLE))
                 - CAST(exact_inter AS DOUBLE))
             / CAST(exact_inter AS DOUBLE), 6) AS rel_err
FROM exact CROSS JOIN sk_agg
"""


def mm19_png_gif_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-composition transcode proof (multimodal.
    transcode_png_to_gif → gif_pixel_stats): PNG assets decode
    through the real chunk-walk/defilter path (every standard PNG
    filter appears), quantize onto the 4-color palette, re-encode
    through the hand-written LZW, decode AGAIN, and report pixel
    statistics — so the oracle (which predicts every pixel from the
    PNG gradient arithmetic) verifies a four-stage codec chain
    (deflate-decode → defilter → LZW-encode → LZW-decode) end to end
    by value. The normalize-formats step of a 100-TB image ingest,
    shuffle-free."""
    from paqarin_spark.multimodal import (
        gif_pixel_stats,
        png_assets_from_ids,
        transcode_png_to_gif,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    gifs = transcode_png_to_gif(png_assets_from_ids(docs, "doc_id"))
    return gif_pixel_stats(gifs).orderBy("asset_id")


MM19_SQL = """
WITH a AS (
  SELECT doc_id AS asset_id, doc_id % 6 + 2 AS w, doc_id % 5 + 2 AS h
  FROM documents
), px AS (
  SELECT asset_id, w, h,
         ((x.i + y.i + asset_id) % 256
          + (2 * x.i + y.i + asset_id) % 256
          + (x.i * y.i + asset_id) % 256) % 4 AS idx
  FROM a,
       LATERAL (SELECT unnest(range(0, w)) AS i) x,
       LATERAL (SELECT unnest(range(0, h)) AS i) y
)
SELECT asset_id,
       CAST(MAX(w) AS INTEGER) AS width,
       CAST(MAX(h) AS INTEGER) AS height,
       CAST(COUNT(*) AS INTEGER) AS n_pixels,
       ROUND(CAST(SUM(idx) AS DOUBLE) / COUNT(*), 6) AS mean_index,
       CAST(SUM(CASE WHEN idx = 0 THEN 1 ELSE 0 END) AS INTEGER)
         AS count_c0
FROM px GROUP BY asset_id ORDER BY asset_id
"""


def st21_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor — the DEPLOYED half of ev27's PSI: the
    reference window (first 15 days) is batch-owned — its exact
    decile edges ship into the stream as literals (the blocklist
    discipline: 9 bounded scalars, the one collect class the §4
    policy allows) — and the CURRENT window's values stream through a
    stateless bin expression into ONE state row per bin
    (streaming.stream_bin_counts, versioned corrections, ≤10 keys →
    capped exchange). The finisher joins the streamed counts against
    the batch reference histogram, drops bins no event ever reached
    (EV27_SQL's occupied-bin contract — a both-empty bin exists only
    when the reference has heavy decile ties), and computes the PSI
    terms through the SAME _psi_report arithmetic as the batch
    query, so the output hash-matches ev27's recompute regardless of
    micro-batch boundaries — the st14-class batch/stream parity
    proof, now for the monitoring metric itself.

    State bound: |edges|+1 ≤ 10 rows of (count, version), forever."""
    from paqarin_spark.streaming import (
        bin_counts_from_emissions,
        stream_bin_counts,
    )

    configure_for_determinism(spark)
    # NULL values dropped explicitly on BOTH the reference and the
    # stream side (stream_bin_counts states the same filter) — the
    # parity contract with ev27, not an implicit dataset property.
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    min_day_row = ev.agg(F.min(F.to_date("ts")).alias("_d")).collect()[0]
    min_day = min_day_row["_d"].isoformat()
    ref = ev.where(
        F.datediff(F.to_date("ts"), F.lit(min_day).cast("date")) < 15
    )
    # the shared edge extraction (ev27's helper), collected — 9
    # bounded scalars, the blocklist/centroid collect class
    edges = [
        r["_edge"]
        for r in _psi_reference_edges(ref.select("event_id", "value"))
        .orderBy("_rank")
        .collect()
    ]
    bin_expr = sum(
        (F.col("value") > F.lit(float(e))).cast("int") for e in edges
    )
    ref_counts = (
        ref.select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ref"))
    )
    stream = _events_stream(spark, sf_dir).where(
        F.datediff(F.to_date("ts"), F.lit(min_day).cast("date")) >= 15
    )
    emi = stream_bin_counts(stream, "value", edges)
    name = "st21_stream_psi"
    sink = _run_to_memory(spark, emi, name, "append", 8)
    cur = bin_counts_from_emissions(sink, len(edges) + 1).select(
        "bin", F.col("n").alias("n_cur")
    )
    joined = (
        cur.join(ref_counts, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            "n_cur",
        )
        .where((F.col("n_ref") + F.col("n_cur")) > 0)
    )
    return _psi_report(joined)


ST21_SQL = EV27_SQL


def st25_stream_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING categorical drift monitor — the DEPLOYED half of
    ev29's Jensen–Shannon divergence, completing the st21 pattern for
    the CATEGORY axis: the reference window (first 15 days) is
    batch-owned, the CURRENT window's event types stream through
    streaming.stream_key_counts into ONE state row per type
    (versioned corrections, data-bounded key domain → capped
    exchange), and the finisher joins the streamed histogram against
    the batch reference counts FULL OUTER (only the union of the two
    windows knows the type domain) before scoring through the SAME
    _jsd_report arithmetic as the batch query — so the output
    hash-matches ev29's recompute regardless of micro-batch
    boundaries (the st14-class batch/stream parity proof).

    State bound: one (count, version) row per event type, forever."""
    from paqarin_spark.streaming import (
        key_counts_from_emissions,
        stream_key_counts,
    )

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir).where(F.col("event_type").isNotNull())
    min_day = (
        ev.agg(F.min(F.to_date("ts")).alias("_d")).collect()[0]["_d"]
    ).isoformat()
    ref_counts = (
        ev.where(
            F.datediff(F.to_date("ts"), F.lit(min_day).cast("date")) < 15
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ref"))
    )
    stream = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type").isNotNull())
        .where(
            F.datediff(F.to_date("ts"), F.lit(min_day).cast("date")) >= 15
        )
    )
    emi = stream_key_counts(stream, "event_type")
    name = "st25_stream_jsd"
    sink = _run_to_memory(spark, emi, name, "append", 8)
    cur = key_counts_from_emissions(sink).select(
        F.col("key").alias("event_type"), F.col("n").alias("n_cur")
    )
    counts = ref_counts.join(cur, "event_type", "full_outer").select(
        "event_type",
        F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
    )
    return _jsd_report(counts)


ST25_SQL = EV29_SQL


def ev28_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift test (metrics.ranking.
    cramer_von_mises): within each order priority, does the FULL
    distribution of finalized orders' totals match the open/pending
    ones? The omnibus integrated-CDF-gap statistic that completes the
    two-sample family — KS (ev6) sees the largest deviation, rank-sum
    (ev24) the location shift, chi² (ev12) binned frequencies; CvM
    accumulates every deviation. Ranks under the deterministic
    (value, orderkey) total order, every squared rank gap an exact
    decimal(38,0) integer, only the final two-term T in double —
    mirrored op-for-op in the oracle (the ev21–ev24 window class)."""
    from paqarin_spark.metrics.ranking import cramer_von_mises

    configure_for_determinism(spark)
    orders = read_table(spark, sf_dir, "orders")
    flagged = orders.select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
        "o_totalprice",
        "o_orderkey",
    )
    return cramer_von_mises(
        flagged, "o_orderpriority", "is_final", "o_totalprice", "o_orderkey"
    ).orderBy("o_orderpriority")


EV28_SQL = """
WITH base AS (
  SELECT o_orderpriority AS grp,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f,
         o_totalprice AS v, o_orderkey AS k
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
    AND o_orderkey IS NOT NULL
), ranked AS (
  SELECT grp, f,
         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, k)
           - ROW_NUMBER() OVER (PARTITION BY grp, f ORDER BY v, k)
           AS DECIMAL(19,0))
           AS gap
  FROM base
), cen AS (
  SELECT grp,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DECIMAL(38,0))
           AS n1,
         CAST(SUM(CASE WHEN f = 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))
           AS n0,
         SUM(CASE WHEN f = 1 THEN gap * gap
                  ELSE CAST(0 AS DECIMAL(38,0)) END)::DECIMAL(38,0) AS u1,
         SUM(CASE WHEN f = 0 THEN gap * gap
                  ELSE CAST(0 AS DECIMAL(38,0)) END)::DECIMAL(38,0) AS u0
  FROM ranked GROUP BY grp
)
SELECT grp AS o_orderpriority,
       CAST(n1 AS BIGINT) AS n_flag,
       CAST(n0 AS BIGINT) AS n_rest,
       ROUND(CASE WHEN n1 > 0 AND n0 > 0 THEN
         (CAST(n1 AS DOUBLE) * CAST(u1 AS DOUBLE)
          + CAST(n0 AS DOUBLE) * CAST(u0 AS DOUBLE))
           / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
              * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)))
         - (4.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) - 1.0)
           / (6.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)))
         END, 6) AS t_cvm
FROM cen ORDER BY o_orderpriority
"""


def st22_stream_sessions_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, DETERMINISM-HARDENED and at the window-CLOSE
    contract — the variant of st3's session proof a downstream
    TTL/expiry consumer needs: st3 reports last-event ends and a raw
    double value SUM (its long-verified contract); this query pins
    (a) ``session_end`` = Spark's native window close (MAX(ts) + gap),
    (b) value sums under the decimal(38,12) order-independence
    discipline (a raw double SUM can flip its 6dp rounding between
    Spark's state-merge order and the oracle's sequential SUM — the
    dsir/tx52 class), and (c) the EXACT boundary rule at a different
    gap (6h): two events exactly ``gap`` apart MERGE, so the
    gaps-and-islands oracle breaks on STRICTLY-greater gaps
    (verified against Spark's merge semantics; a >= break is the
    latent off-by-one this round's review caught in the first draft).
    Complete output mode (the st1 contract note); production runs
    append + watermark and evicts each session once event time passes
    end + watermark.

    Scale shape: state is one row per OPEN session per user, shuffled
    on the user key — 1000 executors each own their users; nothing
    global."""
    from paqarin_spark.streaming import stream_sessions

    configure_for_determinism(spark)
    stream = _events_stream(spark, sf_dir)
    out = stream_sessions(
        stream,
        EVENTS_SCHEMA,
        gap="6 hours",
        value_column="value",
        end_at_window_close=True,
        exact_value_sum=True,
    )
    name = "st22_stream_sessions_close"
    sink = _run_to_memory(
        spark, out, name, "complete",
        _stream_state_partition_count(spark, sf_dir, ("events",)),
    )
    return (
        sink.select(
            "user_id",
            F.date_format(
                "session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_start"),
            F.date_format(
                "session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_end"),
            "n_events",
            F.round("value_sum", 6).alias("value_sum"),
        )
        .orderBy("user_id", "session_start")
    )


ST22_SQL = """
WITH marked AS (
  -- break on STRICTLY greater gaps: Spark's session_window MERGES
  -- two events exactly `gap` apart (pinned by unit test)
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 6 HOUR
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 6 HOUR,
                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(value, 12) AS DECIMAL(38,12)))
                  AS DOUBLE), 6) AS value_sum
FROM sessioned
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q110_trailing_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users via HLL REGISTER-WINDOW MERGES —
    the sliding-window cardinality pattern a petabyte dashboard
    actually runs: exact trailing COUNT DISTINCT cannot be maintained
    incrementally (distinct doesn't subtract), but register tables
    merge with MAX, so each day's sketch is built ONCE and every
    7-day window is a register-wise MAX over the trailing days. The
    register fan-out ships each (day, idx, r) row to its ≤7 target
    days (a sequence explode — days × 2^p × 7 rows, calendar- and
    p-bounded), the merged registers finish through the SHARED
    hll_estimate_from_registers arithmetic (the q73/st9 estimator),
    and the exact trailing distinct runs beside it so the output
    audits the estimator per window. Output: one row per day with a
    FULL 7-day trailing window."""
    from paqarin_spark.operators import (
        hll_estimate_from_registers,
        hll_registers,
    )

    configure_for_determinism(spark)
    p = 10
    ev = _events(spark, sf_dir)
    dated = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).crossJoin(
        F.broadcast(
            ev.agg(F.min(F.to_date("ts")).alias("_d0"))
        )
    ).select(
        F.datediff("day", "_d0").alias("_di"), "user_id"
    )
    regs = hll_registers(dated, "user_id", p=p, group_by=["_di"])
    span = dated.agg(F.max("_di").alias("_mx"))
    fanned = (
        regs.select(
            "idx",
            "r",
            F.explode(
                F.sequence(F.col("_di"), F.col("_di") + F.lit(6))
            ).alias("_tgt"),
        )
        .crossJoin(F.broadcast(span))
        .where((F.col("_tgt") >= 6) & (F.col("_tgt") <= F.col("_mx")))
        .groupBy("_tgt", "idx")
        .agg(F.max("r").alias("r"))
    )
    est = hll_estimate_from_registers(
        fanned, p=p, group_by=["_tgt"], out_column="_est"
    )
    du = dated.select(F.col("_di").alias("_dj"), "user_id").distinct()
    tgts = dated.select("_di").distinct().where(F.col("_di") >= 6)
    exact = (
        tgts.join(
            du,
            (F.col("_dj") >= F.col("_di") - 6) & (F.col("_dj") <= F.col("_di")),
        )
        .groupBy("_di")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_dau7"))
    )
    return (
        exact.join(est, exact._di == est._tgt)
        .select(
            F.col("_di").cast("int").alias("day_index"),
            "exact_dau7",
            F.round("_est", 4).alias("est_dau7"),
            F.round(
                F.abs(F.col("_est") - F.col("exact_dau7").cast("double"))
                / F.col("exact_dau7").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("day_index")
    )


Q110_SQL = """
WITH d0 AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events
), dated AS (
  SELECT date_diff('day', d0, CAST(ts AS DATE)) AS di, user_id
  FROM events CROSS JOIN d0
), h AS (
  SELECT di,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
           AS hv
  FROM dated
), reg AS (
  SELECT di, hv // 1125899906842624 AS idx,
         MAX(CASE WHEN hv % 1125899906842624 = 0 THEN 51
                  ELSE 50 - length(bin(hv % 1125899906842624)) + 1 END) AS r
  FROM h GROUP BY 1, 2
), span AS (
  SELECT MAX(di) AS mx FROM dated
), fanned AS (
  SELECT t.tgt, idx, MAX(r) AS r
  FROM reg, LATERAL (SELECT unnest(range(di, di + 7)) AS tgt) t
       CROSS JOIN span
  WHERE t.tgt >= 6 AND t.tgt <= mx
  GROUP BY t.tgt, idx
), agg AS (
  SELECT tgt, COUNT(*) AS nobs, SUM(power(2.0, -r)) AS sobs
  FROM fanned GROUP BY tgt
), est AS (
  SELECT tgt,
         CASE WHEN (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                   / (sobs + (1024 - nobs)) <= 2.5 * 1024
                   AND (1024 - nobs) > 0
              THEN 1024.0 * ln(1024.0 / (1024 - nobs))
              ELSE (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                   / (sobs + (1024 - nobs)) END AS e
  FROM agg
), exact AS (
  SELECT a.di, COUNT(DISTINCT b.user_id) AS exact_dau7
  FROM (SELECT DISTINCT di FROM dated WHERE di >= 6) a
  JOIN (SELECT DISTINCT di AS dj, user_id FROM dated) b
    ON b.dj BETWEEN a.di - 6 AND a.di
  GROUP BY a.di
)
SELECT CAST(di AS INTEGER) AS day_index,
       CAST(exact_dau7 AS BIGINT) AS exact_dau7,
       ROUND(e, 4) AS est_dau7,
       ROUND(ABS(e - CAST(exact_dau7 AS DOUBLE))
             / CAST(exact_dau7 AS DOUBLE), 6) AS rel_err
FROM exact JOIN est ON di = tgt
ORDER BY day_index
"""


def em30_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via reciprocal-rank fusion (similarity.
    rrf_fuse, Cormack et al. 2009) — the standard way production
    search merges a lexical and a vector lane without score
    calibration: BM25 top-20 for the tx31 query bag fuses with the
    exact cosine top-20 for query vector 0 (the em15 cross-table
    kernel), each doc scoring Σ 1/(60 + rank) over the lanes that
    retrieved it. Contributions add in fixed lane order (bm25 then
    cos) as one expression chain; the final ranking sorts the
    6dp-rounded fused score with doc-id tie-break — fully
    SQL-replayable.

    Scale shape: both lanes bound their own heavy work (BM25 explodes
    only query-term postings; cosine is the blocked BLAS kernel); the
    fusion itself touches only 2×20 rows."""
    from paqarin_spark.operators import bm25_topk, rrf_fuse

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    bm = bm25_topk(
        docs, "doc_id", "text", ["spark", "join", "window", "hash"], k=20
    )
    w_bm = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm_ranked = bm.select(
        "doc_id", F.row_number().over(w_bm).alias("rk")
    )
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    q0 = emb.where(F.col("vec_id") == 0)
    corpus = emb.where(F.col("vec_id") != 0)
    cs = cosine_topk(corpus, "vec_id", "embedding", k=20, queries=q0)
    w_cs = Window.orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    cs_ranked = cs.select(
        F.col("neighbor_id").alias("doc_id"),
        F.row_number().over(w_cs).alias("rk"),
    )
    return rrf_fuse(
        [("bm25", bm_ranked), ("cos", cs_ranked)],
        "doc_id",
        k0=60,
        top_k=10,
    )


EM30_SQL = f"""
WITH d AS (
  SELECT doc_id, len({_TOKS_SQL}) AS dl,
         list_filter({_TOKS_SQL},
                     t -> list_contains(['spark','join','window','hash'], t))
           AS hits
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM d
), postings AS (
  SELECT doc_id, dl, UNNEST(hits) AS term FROM d
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM postings GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), bmscore AS (
  SELECT doc_id,
         ROUND(SUM(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))), 6)
           AS score
  FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s
  GROUP BY doc_id
  ORDER BY score DESC, doc_id
  LIMIT 20
), bm AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
              AS INTEGER) AS bm25_rk
  FROM bmscore
), q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id = 0
), c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id <> 0
), cpairs AS (
  SELECT b.vec_id AS doc_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
           / (sqrt(list_sum(list_transform(range(1, 65),
                                           i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, 65),
                                             i -> b.e[i] * b.e[i])))),
           6) AS cos_sim
  FROM q a CROSS JOIN c b
  ORDER BY cos_sim DESC, doc_id
  LIMIT 20
), ck AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)
              AS INTEGER) AS cos_rk
  FROM cpairs
), fused AS (
  SELECT COALESCE(bm.doc_id, ck.doc_id) AS doc_id, bm.bm25_rk, ck.cos_rk,
         ROUND(
           (CASE WHEN bm.bm25_rk IS NOT NULL
                 THEN 1.0 / (60.0 + bm.bm25_rk) ELSE 0.0 END)
           + (CASE WHEN ck.cos_rk IS NOT NULL
                   THEN 1.0 / (60.0 + ck.cos_rk) ELSE 0.0 END), 6) AS rrf
  FROM bm FULL OUTER JOIN ck ON bm.doc_id = ck.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
         AS rk,
       doc_id, bm25_rk, cos_rk, rrf
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


def tx50_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram LM scoring (corpus.
    kn_bigram_doc_scores) — the honest analogue of the KenLM
    perplexity gate in CCNet-style pipelines (Wenzek et al. 2020),
    upgrading tx34's add-k smoothing with absolute discounting +
    continuation-probability backoff. Per-language mean cross-entropy
    over the corpus: language-coherent subcorpora (en) should score
    lower than the mixed tail — the signal a quality-stratified
    mixture actually uses.

    Exactness: each bigram's −ln P is rounded 12dp and summed in
    decimal(38,12) (partition-order-independent, unlike a raw double
    SUM); per-doc means are re-quantized to decimal(20,9) before the
    per-language sum so both aggregation levels replay exactly.

    Scale shape: one token-keyed shuffle builds the bigram table; the
    model tables are vocabulary-sized partial aggs; no token-table
    broadcasts (unbounded vocabulary)."""
    from paqarin_spark.operators import kn_bigram_doc_scores

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    perdoc = kn_bigram_doc_scores(docs, "doc_id", "text")
    return (
        perdoc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("cross_entropy").cast("decimal(20,9)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cross_entropy"),
        )
        .orderBy("lang")
    )


TX50_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
), bi AS (
  SELECT doc_id, ts[i] AS prev, ts[i + 1] AS cur
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(ts))) AS i)
  WHERE len(ts) >= 2
), c2 AS (
  SELECT prev, cur, COUNT(*) AS c2 FROM bi GROUP BY 1, 2
), c1 AS (
  SELECT prev, SUM(c2) AS c1, COUNT(*) AS n1p FROM c2 GROUP BY 1
), cont AS (
  SELECT cur, COUNT(*) AS cont FROM c2 GROUP BY 1
), tt AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c2
), terms AS (
  SELECT bi.doc_id,
         CAST(ROUND(-ln(
           GREATEST(c2.c2 - 0.75, 0.0) / c1.c1
           + (0.75 * c1.n1p / c1.c1) * (cont.cont / tt.t)
         ), 12) AS DECIMAL(38,12)) AS term
  FROM bi JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
       JOIN cont USING (cur) CROSS JOIN tt
), perdoc AS (
  SELECT doc_id, COUNT(*) AS nb,
         ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 9) AS ce
  FROM terms GROUP BY 1
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.nb) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(p.ce AS DECIMAL(20,9))) AS DOUBLE)
             / COUNT(*), 6) AS avg_cross_entropy
FROM perdoc p JOIN documents d USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


def mm16_zip_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP shard WRITE → READ round-trip (multimodal.
    zip_shards_from_docs / zip_members_table) — the random-access
    counterpart of mm15's tar shards: the central directory lets a
    training loader fetch ONE member without streaming the shard. The
    corpus packs into 8 honest ZIP archives (PKWARE local headers +
    central directory, raw-deflate member data — encode_zip), the
    reader walks the central directory with per-member CRC-32
    RE-VERIFIED, and the manifest proves payload fidelity through the
    compressor: per-shard member counts, UNCOMPRESSED byte totals,
    name range, and the q72 md5-prefix digest of the EXTRACTED bytes.
    A hash match therefore proves inflate(deflate(x)) == x for every
    member. tests/test_multimodal.py cross-validates the format
    against the stdlib zipfile module in both directions.

    Scale shape: identical to mm15 — one shard-keyed groupBy to
    write, one mapInPandas to read, no driver involvement."""
    from paqarin_spark.multimodal import (
        zip_members_table,
        zip_shards_from_docs,
    )

    configure_for_determinism(spark)
    docs = _docs(spark, sf_dir)
    shards = zip_shards_from_docs(
        docs, "doc_id", "text", num_shards=8, method="deflate"
    )
    members = zip_members_table(shards)
    return (
        members.select(
            "shard_id",
            "name",
            "size",
            F.conv(F.substring(F.md5("payload"), 1, 15), 16, 10)
            .cast("decimal(38,0)")
            .alias("_h"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("size").cast("bigint").alias("total_payload_bytes"),
            F.min("name").alias("first_member"),
            F.max("name").alias("last_member"),
            (F.sum("_h").cast("decimal(38,0)") % F.lit(1 << 61))
            .cast("bigint")
            .alias("content_digest"),
        )
        .orderBy("shard_id")
    )


MM16_SQL = """
WITH m AS (
  SELECT CAST(doc_id % 8 AS INTEGER) AS shard_id,
         lpad(CAST(doc_id AS VARCHAR), 12, '0') || '.txt' AS name,
         octet_length(encode(COALESCE(text, ''))) AS nbytes,
         CAST(('0x' || substring(md5(COALESCE(text, '')), 1, 15))::UBIGINT
              AS DECIMAL(38,0)) AS h
  FROM documents
)
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(nbytes) AS BIGINT) AS total_payload_bytes,
       MIN(name) AS first_member,
       MAX(name) AS last_member,
       CAST(CAST(SUM(h) AS DECIMAL(38,0)) % 2305843009213693952 AS BIGINT)
         AS content_digest
FROM m GROUP BY shard_id ORDER BY shard_id
"""


def gen12_gan_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADVERSARIALLY-TRAINED executing provider
    (generators.adversarial.GANWindowGenerator — generator +
    discriminator trained JOINTLY by alternating full-batch steps,
    pure numpy, zero TF/torch): fit on events windows, sample 30
    unconditional sequences from md5 noise, emit long-form.

    ROWS-ONLY BY DESIGN (the gen6/gen10 precedent — the executing
    neural providers' TRAINING loops are not single-statement SQL):
    the fit is deterministic — md5 Glorot init, md5 noise keyed
    (seed, epoch, i, j), sorted bounded batch, fixed epochs,
    layout-independent weights — all pinned by
    tests/test_adversarial.py, which also pins the structural claims
    no other in-env provider can make: the discriminator loss
    descends without the game collapsing, and the generator covers
    BOTH modes of a bimodal population where any MSE-trained head
    provably averages to the mean. Declaring it makes the driver
    smoke-prove every round that an ADVERSARIAL train/sample
    lifecycle — the reference's TimeGAN generator/discriminator seam
    (`paqarin/adapters/ydata_adapter.py:291-322`), the last
    unoccupied generator class — actually executes in this
    environment. Sampling is unconditional (z → window), so the
    rollout is one embarrassingly parallel mapInPandas pass, no
    start-pool state. The SAMPLE path is value-oracled separately:
    gen14 replays the same z → tanh → sigmoid forward with frozen
    md5-init weights against a plain-SQL oracle, so only the
    adversarial game itself stays rows-only."""
    from paqarin_spark.generators import GANWindowGenerator

    configure_for_determinism(spark)
    ev = _events(spark, sf_dir)
    gen = GANWindowGenerator(_events_gen_params(), epochs=800).fit(ev)
    out = gen.generate(30)
    return out.select(
        "sequence_id", F.posexplode("sequence").alias("step", "_obs")
    ).select(
        "sequence_id", "step", F.round(F.col("_obs.value"), 6).alias("value")
    ).orderBy("sequence_id", "step")


def _replay_bounds(spark: SparkSession, sf_dir: str):
    """The non-NULL events and their min/max bounds ``_mn``/``_mx``
    (one scalar aggregate) — the scale the gen13–15 replays invert."""
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    return ev, ev.agg(F.min("value").alias("_mn"), F.max("value").alias("_mx"))


def _replay_starts(
    spark: SparkSession, sf_dir: str, n_ctx: int, tag: str, nseq: int
) -> DataFrame:
    """The start frame of the gen13/gen15 rollout replays: each user's
    first ``n_ctx`` non-NULL values by (ts, event_id) (users with fewer
    are skipped), the ``nseq`` users first by md5(``tag`` || user_id),
    numbered 0.. as ``sequence_id``, with the min-max scaled context
    ``_xs`` next to the bounds ``_mn``/``_mx``."""
    ev, b = _replay_bounds(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ctx = (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_ctx)
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_rn", "value"))
            ).alias("_a"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") == n_ctx)
        .select(
            "user_id",
            F.transform("_a", lambda s: s["value"]).alias("_ctx"),
        )
    )
    ranked = ctx.withColumn(
        "_r",
        F.md5(F.concat(F.lit(tag), F.col("user_id").cast("string"))),
    )
    picked = (
        ranked.orderBy("_r")
        .limit(nseq)
        .select(
            (F.row_number().over(Window.orderBy("_r")) - 1)
            .cast("long")
            .alias("sequence_id"),
            "_ctx",
        )
    )
    return picked.crossJoin(F.broadcast(b)).select(
        "sequence_id",
        F.transform(
            "_ctx",
            lambda v: (v - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
        ).alias("_xs"),
        "_mn",
        "_mx",
    )


_GEN13_HIDDEN = 4
_GEN13_SEED = 13
_GEN13_WARM = 7
_GEN13_FREE = 8
_GEN13_NSEQ = 12


def gen13_gru_rollout_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-ORACLED recurrent SAMPLE path — the oracle-side evidence
    the executing GRU provider (gen10) cannot carry for its trained
    weights: the same md5-Glorot init (generators.nn.init_gru_params,
    shared code with gen10's fit) is FROZEN (no BPTT), each picked
    user's first 7 min-max-scaled event values warm the hidden state,
    and the GRU then free-runs 8 steps feeding its own predictions
    back — the exact rollout orchestration of GRUNetGenerator
    (``_rollout_body`` in generators/recurrent.py), driven
    through nn.gru_step_strict, the strict-left-fold/libm twin of
    the BLAS gru_step kernel. The oracle replays the full recurrence
    in a recursive CTE with the weights shipped as literals (the
    VERDICT-r9 "frozen weights, replay the rollout" design), so the
    hash match value-verifies gate arithmetic, hidden-state carry,
    feedback, and inverse scaling end-to-end. Training (BPTT) remains
    the one rows-only boundary, now provably ONLY training: its
    weights differ per SF, so no static SQL can own them (adjudicated
    round 10; gen6/gen10 stay rows-only by design).

    Reference seam: the sample half of the recurrent providers —
    TimeGAN rollout (`paqarin/adapters/ydata_adapter.py:291-358`) and
    SDV-PAR sampling (`sdv_adapter.py:94-119`).

    Scale shape: bounds are one scalar aggregate; contexts are one
    per-user window rank (user-keyed shuffle); the rollout is an
    Arrow-batched linear pass with ZERO shuffles — 1000 executors
    each roll their own sequence partition; the 15-step recursion is
    per-sequence state, never cross-sequence."""
    from paqarin_spark.generators import nn

    configure_for_determinism(spark)
    H, seed = _GEN13_HIDDEN, _GEN13_SEED
    warm, free, nseq = _GEN13_WARM, _GEN13_FREE, _GEN13_NSEQ
    scaled = _replay_starts(spark, sf_dir, warm, "g13u#", nseq)
    wlists = nn.gru_params_to_lists(nn.init_gru_params(1, H, 1, seed))

    def rollout(batches):
        import pandas as pd

        from paqarin_spark.generators import nn as _nn

        for pdf in batches:
            rows = []
            for sid, xs, mn, mx in zip(
                pdf["sequence_id"], pdf["_xs"], pdf["_mn"], pdf["_mx"]
            ):
                h = [0.0] * H
                y = [0.0]
                for t in range(warm):
                    y, h = _nn.gru_step_strict(wlists, [float(xs[t])], h)
                for s in range(free):
                    pred = y[0]
                    rows.append(
                        {
                            "sequence_id": int(sid),
                            "step": s,
                            "value": (pred * (mx - mn)) + mn,
                        }
                    )
                    y, h = _nn.gru_step_strict(wlists, [pred], h)
            yield pd.DataFrame(
                rows, columns=["sequence_id", "step", "value"]
            )

    out = scaled.mapInPandas(
        rollout, schema="sequence_id long, step int, value double"
    )
    return out.select(
        "sequence_id", "step", F.round("value", 6).alias("value")
    ).orderBy("sequence_id", "step")


def _gen13_sql() -> str:
    """Recursive-CTE replay of gen13's rollout with the frozen
    weights inlined as literals (computed by the SAME
    nn.init_gru_params call the Spark side makes — data-independent,
    so one static SQL holds at every SF). Every expression mirrors
    gru_step_strict's association-order contract token-for-token."""
    from paqarin_spark.generators import nn

    H, seed = _GEN13_HIDDEN, _GEN13_SEED
    warm, free, nseq = _GEN13_WARM, _GEN13_FREE, _GEN13_NSEQ
    p = nn.gru_params_to_lists(nn.init_gru_params(1, H, 1, seed))
    wx, wh, wo = p["wx"][0], p["wh"], p["wo"]

    def lit(v: float) -> str:
        s = repr(float(v))
        return f"({s})" if s.startswith("-") else s

    def fold_h(vec_fmt: str, col: int) -> str:
        return " + ".join(
            f"{vec_fmt.format(i=i + 1)} * {lit(wh[i][col])}"
            for i in range(H)
        )

    z_arr = ", ".join(
        f"1.0 / (1.0 + exp(-((x * {lit(wx[k])}"
        f" + ({fold_h('hp[{i}]', k)})) + 0.0)))"
        for k in range(H)
    )
    r_arr = ", ".join(
        f"1.0 / (1.0 + exp(-((x * {lit(wx[H + k])}"
        f" + ({fold_h('hp[{i}]', H + k)})) + 0.0)))"
        for k in range(H)
    )
    def tanh_sql(a: str) -> str:
        # DuckDB 1.0 has no tanh; the exp form mirrors
        # gru_step_strict's tanh_exp op-for-op
        return f"(exp(2.0 * ({a})) - 1.0) / (exp(2.0 * ({a})) + 1.0)"

    c_arr = ", ".join(
        tanh_sql(
            f"(x * {lit(wx[2 * H + k])}"
            f" + ({fold_h('(r[{i}] * hp[{i}])', 2 * H + k)})) + 0.0"
        )
        for k in range(H)
    )
    hn_arr = ", ".join(
        f"((1.0 - z[{k + 1}]) * hp[{k + 1}]) + (z[{k + 1}] * c[{k + 1}])"
        for k in range(H)
    )
    y_expr = (
        " + ".join(f"hn[{i + 1}] * {lit(wo[i][0])}" for i in range(H))
        + " + 0.0"
    )
    # the initial state must be typed DOUBLE[] explicitly — a bare
    # [0.0, ...] literal types the CTE's h column DECIMAL(2,1)[] in
    # DuckDB, silently quantizing the whole recurrence
    h0 = ", ".join(["CAST(0.0 AS DOUBLE)"] * H)
    last_t = warm + free - 1
    return f"""
WITH RECURSIVE
bounds AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx
  FROM events WHERE value IS NOT NULL
),
byuser AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vs
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id HAVING COUNT(*) >= {warm}
),
picked AS (
  SELECT user_id, vs,
         ROW_NUMBER() OVER (
           ORDER BY md5('g13u#' || CAST(user_id AS VARCHAR))) - 1 AS sid
  FROM byuser
  QUALIFY sid < {nseq}
),
scaled AS (
  SELECT sid,
         list_transform(vs[1:{warm}], v -> (v - mn) / (mx - mn)) AS xs
  FROM picked CROSS JOIN bounds
),
walk(sid, xs, t, h, y) AS (
  SELECT sid, xs, 0, [{h0}], CAST(NULL AS DOUBLE) FROM scaled
  UNION ALL
  SELECT sid, xs, t2, hn, ({y_expr})
  FROM (
    SELECT sid, xs, t2, [{hn_arr}] AS hn
    FROM (
      SELECT sid, xs, t2, hp, z, [{c_arr}] AS c
      FROM (
        SELECT sid, xs, t2, hp, x, [{z_arr}] AS z, [{r_arr}] AS r
        FROM (
          SELECT sid, xs, t + 1 AS t2, h AS hp,
                 CASE WHEN t < {warm} THEN xs[t + 1] ELSE y END AS x
          FROM walk WHERE t < {last_t}
        )
      )
    )
  )
)
SELECT CAST(sid AS BIGINT) AS sequence_id,
       CAST(t - {warm} AS INTEGER) AS step,
       ROUND((y * (mx - mn)) + mn, 6) AS value
FROM walk CROSS JOIN bounds
WHERE t >= {warm}
ORDER BY sequence_id, step
"""


GEN13_SQL = _gen13_sql()


_GEN14_NZ = 3
_GEN14_HG = 6
_GEN14_L = 8
_GEN14_NSEQ = 20
_GEN14_SEED = 14


def gen14_gan_sample_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-ORACLED adversarial SAMPLE path — the gen13 design
    applied to the GAN provider: the same md5-Glorot init
    (generators.nn.init_params, shared code with gen12's train_gan)
    is FROZEN (no adversarial steps), each sequence draws its noise
    vector with the exact keying GANWindowGenerator.generate uses
    (``gan-gen#{seed}#{sid}#{j}``, GANWindowGenerator's
    ``_rollout_body``), and the generator net — tanh hidden, SIGMOID
    output, the nn.gan_sample forward — maps z to an 8-step window
    in (0,1) that inverse-min-max-scales against the events bounds.
    The rollout drives nn.mlp_forward_strict, the
    strict-left-fold/libm twin of the BLAS forward, so the oracle
    replays every expression token-for-token as plain
    (non-recursive) SQL — noise hashing,
    both layers, sigmoid, inverse scaling. With gen13 this closes the
    sample half of BOTH executing neural classes: training (the
    adversarial game / BPTT) remains the only rows-only boundary,
    provably ONLY training (its weights differ per SF; no static SQL
    can own them — gen12/gen6/gen10 stay rows-only by design).

    Reference seam: the sample half of the adversarial provider —
    TimeGAN `.sample(n_samples)`
    (`paqarin/adapters/ydata_adapter.py:371-373`).

    Scale shape: bounds are one scalar aggregate broadcast; the
    rollout is an embarrassingly parallel mapInPandas over a range —
    ZERO shuffles, no start pool, 1000 executors each roll their own
    sid partition."""
    from paqarin_spark.generators import nn

    configure_for_determinism(spark)
    nz, hg, L = _GEN14_NZ, _GEN14_HG, _GEN14_L
    nseq, seed = _GEN14_NSEQ, _GEN14_SEED
    _, b = _replay_bounds(spark, sf_dir)
    sids = spark.range(nseq).select(F.col("id").alias("sequence_id"))
    g_lists = nn.params_to_lists(nn.init_params([nz, hg, L], seed))

    def rollout(batches):
        import pandas as pd

        from paqarin_spark.generators import nn as _nn
        from paqarin_spark.generators.nn import _md5_unit

        for pdf in batches:
            rows = []
            for sid, mn, mx in zip(pdf["sequence_id"], pdf["_mn"], pdf["_mx"]):
                z = [
                    (2.0 * _md5_unit(f"gan-gen#{seed}#{int(sid)}#{j}")) - 1.0
                    for j in range(nz)
                ]
                win = _nn.mlp_forward_strict(g_lists, z, sigmoid_out=True)
                for t in range(L):
                    rows.append(
                        {
                            "sequence_id": int(sid),
                            "step": t,
                            "value": (win[t] * (mx - mn)) + mn,
                        }
                    )
            yield pd.DataFrame(rows, columns=["sequence_id", "step", "value"])

    out = sids.crossJoin(F.broadcast(b)).mapInPandas(
        rollout, schema="sequence_id long, step int, value double"
    )
    return out.select(
        "sequence_id", "step", F.round("value", 6).alias("value")
    ).orderBy("sequence_id", "step")


def _gen14_sql() -> str:
    """Plain-SQL replay of gen14's GAN forward with the frozen
    generator weights inlined as literals (computed by the SAME
    nn.init_params call the Spark side makes — data-independent, so
    one static SQL holds at every SF). Mirrors mlp_forward_strict's
    association-order contract token-for-token; the md5→uniform noise
    uses the repo's standard hex-prefix idiom."""
    from paqarin_spark.generators import nn

    nz, hg, L = _GEN14_NZ, _GEN14_HG, _GEN14_L
    nseq, seed = _GEN14_NSEQ, _GEN14_SEED
    g = nn.params_to_lists(nn.init_params([nz, hg, L], seed))
    w0, w1 = g[0]["w"], g[1]["w"]

    def lit(v: float) -> str:
        s = repr(float(v))
        return f"({s})" if s.startswith("-") else s

    z_arr = ", ".join(
        "((2.0 * (('0x' || substring(md5('gan-gen#"
        f"{seed}#' || CAST(sid AS VARCHAR) || '#{j}'), 1, 15))::UBIGINT"
        " / 1152921504606846976.0)) - 1.0)"
        for j in range(nz)
    )

    def tanh_sql(a: str) -> str:
        return f"(exp(2.0 * ({a})) - 1.0) / (exp(2.0 * ({a})) + 1.0)"

    h_arr = ", ".join(
        tanh_sql(
            "("
            + " + ".join(f"z[{d + 1}] * {lit(w0[d][k])}" for d in range(nz))
            + ") + 0.0"
        )
        for k in range(hg)
    )
    v_arr = ", ".join(
        "1.0 / (1.0 + exp(-(("
        + " + ".join(f"h[{k + 1}] * {lit(w1[k][t])}" for k in range(hg))
        + ") + 0.0)))"
        for t in range(L)
    )
    return f"""
WITH
bounds AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx
  FROM events WHERE value IS NOT NULL
),
sids AS (SELECT CAST(range AS BIGINT) AS sid FROM range({nseq})),
zs AS (SELECT sid, [{z_arr}] AS z FROM sids),
hs AS (SELECT sid, [{h_arr}] AS h FROM zs),
vs AS (SELECT sid, [{v_arr}] AS v FROM hs)
SELECT sid AS sequence_id,
       CAST(st AS INTEGER) AS step,
       ROUND((v[st + 1] * (mx - mn)) + mn, 6) AS value
FROM vs
CROSS JOIN bounds
CROSS JOIN (SELECT range AS st FROM range({L})) steps
ORDER BY sequence_id, step
"""


GEN14_SQL = _gen14_sql()


_GEN15_HIDDEN = 4
_GEN15_CTX = 7
_GEN15_FREE = 8
_GEN15_NSEQ = 12
_GEN15_SEED = 15


def gen15_arnet_rollout_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-ORACLED autoregressive SAMPLE path — gen13's
    frozen-weight replay applied to the ARNet provider (gen6): the
    same md5-Glorot init (nn.init_params, shared code with gen6's
    fit) is FROZEN (no SGD), each picked user's first 7
    min-max-scaled event values form the start context, and the
    one-hidden-layer AR MLP then free-runs 8 steps feeding its own
    predictions back through the sliding context — the exact rollout
    orchestration of ARNetGenerator.generate with noise=0
    (ARNetGenerator's ``_rollout_body``: ctx = ctx[1:] + [pred]), driven
    through nn.mlp_forward_strict, the strict-left-fold/libm twin of
    the BLAS forward. The oracle replays the full recurrence in a
    recursive CTE with the weights as literals, so the hash match
    value-verifies context sliding, both layers, feedback, and
    inverse scaling end-to-end — the feedforward counterpart of
    gen13's GRU proof.

    Reference seam: the sample half of the sequence providers —
    SDV-PAR `.sample(num_sequences)`
    (`paqarin/adapters/sdv_adapter.py:94-119`).

    Scale shape: bounds are one scalar aggregate; contexts are one
    per-user window rank (user-keyed shuffle); the rollout is an
    Arrow-batched linear pass with ZERO shuffles; the 8-step
    recursion is per-sequence state, never cross-sequence."""
    from paqarin_spark.generators import nn

    configure_for_determinism(spark)
    H, seed = _GEN15_HIDDEN, _GEN15_SEED
    ctxn, free, nseq = _GEN15_CTX, _GEN15_FREE, _GEN15_NSEQ
    scaled = _replay_starts(spark, sf_dir, ctxn, "g15u#", nseq)
    wlists = nn.params_to_lists(nn.init_params([ctxn, H, 1], seed))

    def rollout(batches):
        import pandas as pd

        from paqarin_spark.generators import nn as _nn

        for pdf in batches:
            rows = []
            for sid, xs, mn, mx in zip(
                pdf["sequence_id"], pdf["_xs"], pdf["_mn"], pdf["_mx"]
            ):
                c = [float(v) for v in xs]
                for s in range(free):
                    y = _nn.mlp_forward_strict(wlists, c)[0]
                    rows.append(
                        {
                            "sequence_id": int(sid),
                            "step": s,
                            "value": (y * (mx - mn)) + mn,
                        }
                    )
                    c = c[1:] + [y]
            yield pd.DataFrame(rows, columns=["sequence_id", "step", "value"])

    out = scaled.mapInPandas(
        rollout, schema="sequence_id long, step int, value double"
    )
    return out.select(
        "sequence_id", "step", F.round("value", 6).alias("value")
    ).orderBy("sequence_id", "step")


def _gen15_sql() -> str:
    """Recursive-CTE replay of gen15's AR rollout with the frozen
    weights inlined as literals. Every expression mirrors
    mlp_forward_strict's association-order contract token-for-token;
    the context slide ctx[1:] + [y] becomes list slicing on the CTE
    state column."""
    from paqarin_spark.generators import nn

    H, seed = _GEN15_HIDDEN, _GEN15_SEED
    ctxn, free, nseq = _GEN15_CTX, _GEN15_FREE, _GEN15_NSEQ
    p = nn.params_to_lists(nn.init_params([ctxn, H, 1], seed))
    w0, w1 = p[0]["w"], p[1]["w"]

    def lit(v: float) -> str:
        s = repr(float(v))
        return f"({s})" if s.startswith("-") else s

    def tanh_sql(a: str) -> str:
        return f"(exp(2.0 * ({a})) - 1.0) / (exp(2.0 * ({a})) + 1.0)"

    h_arr = ", ".join(
        tanh_sql(
            "("
            + " + ".join(
                f"cp[{d + 1}] * {lit(w0[d][k])}" for d in range(ctxn)
            )
            + ") + 0.0"
        )
        for k in range(H)
    )
    y_expr = (
        "("
        + " + ".join(f"h[{k + 1}] * {lit(w1[k][0])}" for k in range(H))
        + ") + 0.0"
    )
    return f"""
WITH RECURSIVE
bounds AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx
  FROM events WHERE value IS NOT NULL
),
byuser AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vs
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id HAVING COUNT(*) >= {ctxn}
),
picked AS (
  SELECT user_id, vs,
         ROW_NUMBER() OVER (
           ORDER BY md5('g15u#' || CAST(user_id AS VARCHAR))) - 1 AS sid
  FROM byuser
  QUALIFY sid < {nseq}
),
scaled AS (
  SELECT sid,
         list_transform(vs[1:{ctxn}], v -> (v - mn) / (mx - mn)) AS xs
  FROM picked CROSS JOIN bounds
),
walk(sid, t, ctx, y) AS (
  SELECT sid, 0, xs, CAST(NULL AS DOUBLE) FROM scaled
  UNION ALL
  SELECT sid, t2, cp[2:{ctxn}] || [y2], y2
  FROM (
    SELECT sid, t2, cp, ({y_expr}) AS y2
    FROM (
      SELECT sid, t + 1 AS t2, ctx AS cp, [{h_arr}] AS h
      FROM walk WHERE t < {free}
    )
  )
)
SELECT CAST(sid AS BIGINT) AS sequence_id,
       CAST(t - 1 AS INTEGER) AS step,
       ROUND((y * (mx - mn)) + mn, 6) AS value
FROM walk CROSS JOIN bounds
WHERE t >= 1
ORDER BY sequence_id, step
"""


GEN15_SQL = _gen15_sql()


def em33_embedding_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space DECONTAMINATION — the embedding dual of tx22's
    shingle-space benchmark check, the audit an LLM pipeline runs
    before training: does any eval-benchmark item have a near-duplicate
    in the training corpus under the retrieval embedding? The
    benchmark here is PLANTED (the tx22/DAU-smoke discipline): every
    13th corpus vector gets a deterministic md5 perturbation
    (x + (((2u−1)·0.3)/8) per dim ⇒ cos≈0.985 with its source on the
    unit-norm corpus, far above the ~0.3 p99 of unrelated pairs), so
    ground truth exists by construction and the τ=0.9 flag has a real
    margin on both sides.

    Retrieval is BANDED, never all-pairs: 16-bit sign-plane signatures
    (operators.similarity.sign_signatures expr contract — md5-sign
    planes, 6dp-rounded decimal projections) split into two 8-bit
    bands; a corpus item is a candidate iff it collides with a
    benchmark item in ≥1 band, and only candidates get the exact
    decimal-disciplined cosine. LSH recall < 1 by design — a planted
    pair whose perturbation flips a bit in BOTH bands is missed, and
    the oracle replays exactly which (deterministic planes + noise;
    no probability at the value level). Probes with zero candidates
    still report (left join), n_candidates/n_contaminated = 0.

    Scale shape: the benchmark side is bounded in production (a fixed
    eval suite); bands are a (band, value) bucket equi-join; the
    verify joins dims only for candidate pairs. No corpus-fraction
    broadcast anywhere (the em18-banding lesson applied from birth).

    Reference seam: the evaluation-integrity half of K2 — the
    reference scores generators against held-out data
    (`paqarin/metrics/univariate_metrics.py`), which is meaningless
    if the held-out set leaks into training; this is the leak check.
    """
    from paqarin_spark.functions import uniform_hash
    from paqarin_spark.operators import sign_signatures
    from paqarin_spark.operators.similarity import _md5_sign

    configure_for_determinism(spark)
    tau = 0.9
    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    ).localCheckpoint()
    dec = "decimal(30,10)"
    noise = (
        (
            F.lit(2.0)
            * uniform_hash(
                F.lit("dec33p"),
                F.col("vec_id").cast("string"),
                F.col("dim").cast("string"),
            )
            - F.lit(1.0)
        )
        * F.lit(0.3)
    ) / F.lit(8.0)
    bdims = (
        dims.where(F.col("vec_id") % 13 == 0)
        .select(
            F.col("vec_id").alias("bench_id"),
            "dim",
            (F.col("x") + noise).alias("bx"),
        )
        .localCheckpoint()
    )
    csig = sign_signatures(
        emb, "vec_id", "embedding", num_planes=16, seed=33, prefix="dec",
        method="expr",
    )
    planes = spark.createDataFrame(
        [
            (j, i, _md5_sign(f"dec33#{j}#{i}"), 1 << j)
            for j in range(16)
            for i in range(64)
        ],
        "j int, dim int, s double, w long",
    )
    bproj = (
        bdims.join(F.broadcast(planes), on="dim")
        .groupBy("bench_id", "j", "w")
        .agg(
            F.round(
                F.sum((F.col("bx") * F.col("s")).cast(dec)).cast("double"),
                6,
            ).alias("p")
        )
    )
    bsig = bproj.groupBy("bench_id").agg(
        F.sum(
            F.when(F.col("p") >= 0, F.col("w")).otherwise(F.lit(0))
        ).alias("bsig")
    )
    band = lambda c, b: F.shiftright(F.col(c), 8 * b).bitwiseAND(F.lit(255))
    cb = csig.select(
        "vec_id",
        F.posexplode(F.array(band("sig", 0), band("sig", 1))).alias(
            "b", "bv"
        ),
    )
    bb = bsig.select(
        "bench_id",
        F.posexplode(F.array(band("bsig", 0), band("bsig", 1))).alias(
            "b", "bv"
        ),
    )
    cand = cb.join(bb, on=["b", "bv"]).select("bench_id", "vec_id").distinct()
    cnorm = dims.groupBy("vec_id").agg(
        F.sqrt(
            F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double")
        ).alias("cn")
    )
    bnorm = bdims.groupBy("bench_id").agg(
        F.sqrt(
            F.sum((F.col("bx") * F.col("bx")).cast(dec)).cast("double")
        ).alias("bn")
    )
    dots = (
        cand.join(bdims, on="bench_id")
        .join(dims, on=["vec_id", "dim"])
        .groupBy("bench_id", "vec_id")
        .agg(
            F.sum((F.col("bx") * F.col("x")).cast(dec))
            .cast("double")
            .alias("dot")
        )
    )
    cos = (
        dots.join(bnorm, on="bench_id")
        .join(cnorm, on="vec_id")
        .select(
            "bench_id",
            "vec_id",
            F.round(F.col("dot") / (F.col("bn") * F.col("cn")), 6).alias(
                "cs"
            ),
        )
    )
    w = Window.partitionBy("bench_id").orderBy(F.desc("cs"), F.asc("vec_id"))
    per_probe = (
        cos.withColumn("_rk", F.row_number().over(w))
        .groupBy("bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("cs") >= tau).cast("long")).alias("n_contaminated"),
            F.max("cs").alias("max_cos"),
            F.min(F.when(F.col("_rk") == 1, F.col("vec_id"))).alias(
                "top_match_id"
            ),
        )
    )
    probes = emb.where(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("bench_id")
    )
    return (
        probes.join(per_probe, on="bench_id", how="left")
        .select(
            F.col("bench_id").cast("long").alias("probe_id"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            F.col("top_match_id").cast("long").alias("top_match_id"),
            "max_cos",
        )
        .orderBy("probe_id")
    )


EM33_SQL = """
WITH v AS (
  SELECT vec_id, u.dim, u.x FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           UNNEST(embedding)::DOUBLE AS x
  ) u
), bdims AS (
  SELECT vec_id AS bench_id, dim,
         x + ((((2.0 * (('0x' || substring(md5('dec33p#'
                 || CAST(vec_id AS VARCHAR) || '#'
                 || CAST(dim AS VARCHAR)), 1, 15))::UBIGINT
                 / 1152921504606846976.0)) - 1.0) * 0.3) / 8.0) AS bx
  FROM v WHERE vec_id % 13 = 0
), planes AS (
  SELECT j, i,
         CASE WHEN ('0x' || substring(
                md5('dec33#' || j || '#' || i), 1, 1))::UBIGINT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s,
         CAST(2 ** j AS BIGINT) AS w
  FROM (SELECT unnest(range(16)) AS j), (SELECT unnest(range(64)) AS i)
), cproj AS (
  SELECT v.vec_id, p.j, p.w,
         ROUND(CAST(SUM(CAST(v.x * p.s AS DECIMAL(30,10))) AS DOUBLE), 6)
           AS pr
  FROM v JOIN planes p ON p.i = v.dim
  GROUP BY 1, 2, 3
), csig AS (
  SELECT vec_id, SUM(CASE WHEN pr >= 0 THEN w ELSE 0 END) AS sig
  FROM cproj GROUP BY 1
), bproj AS (
  SELECT b.bench_id, p.j, p.w,
         ROUND(CAST(SUM(CAST(b.bx * p.s AS DECIMAL(30,10))) AS DOUBLE), 6)
           AS pr
  FROM bdims b JOIN planes p ON p.i = b.dim
  GROUP BY 1, 2, 3
), bsig AS (
  SELECT bench_id, SUM(CASE WHEN pr >= 0 THEN w ELSE 0 END) AS sig
  FROM bproj GROUP BY 1
), cband AS (
  SELECT vec_id, t.b, (CAST(sig AS BIGINT) >> (8 * t.b)) & 255 AS bv
  FROM csig, (SELECT unnest(range(2)) AS b) t
), bband AS (
  SELECT bench_id, t.b, (CAST(sig AS BIGINT) >> (8 * t.b)) & 255 AS bv
  FROM bsig, (SELECT unnest(range(2)) AS b) t
), cand AS (
  SELECT DISTINCT b.bench_id, c.vec_id
  FROM cband c JOIN bband b ON c.b = b.b AND c.bv = b.bv
), cnorm AS (
  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE))
           AS cn
  FROM v GROUP BY 1
), bnorm AS (
  SELECT bench_id,
         sqrt(CAST(SUM(CAST(bx * bx AS DECIMAL(30,10))) AS DOUBLE)) AS bn
  FROM bdims GROUP BY 1
), dots AS (
  SELECT cand.bench_id, cand.vec_id,
         CAST(SUM(CAST(b.bx * v.x AS DECIMAL(30,10))) AS DOUBLE) AS dot
  FROM cand
  JOIN bdims b ON b.bench_id = cand.bench_id
  JOIN v ON v.vec_id = cand.vec_id AND v.dim = b.dim
  GROUP BY 1, 2
), cs AS (
  SELECT d.bench_id, d.vec_id,
         ROUND(d.dot / (bn.bn * cn.cn), 6) AS cs
  FROM dots d
  JOIN bnorm bn ON bn.bench_id = d.bench_id
  JOIN cnorm cn ON cn.vec_id = d.vec_id
), ranked AS (
  SELECT bench_id, vec_id, cs,
         ROW_NUMBER() OVER (PARTITION BY bench_id
                            ORDER BY cs DESC, vec_id) AS rk
  FROM cs
), per_probe AS (
  SELECT bench_id,
         COUNT(*) AS n_candidates,
         SUM(CASE WHEN cs >= 0.9 THEN 1 ELSE 0 END) AS n_contaminated,
         MAX(cs) AS max_cos,
         MIN(CASE WHEN rk = 1 THEN vec_id END) AS top_match_id
  FROM ranked GROUP BY 1
)
SELECT CAST(p.vec_id AS BIGINT) AS probe_id,
       CAST(COALESCE(pp.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(pp.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CAST(pp.top_match_id AS BIGINT) AS top_match_id,
       pp.max_cos
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 13 = 0) p
LEFT JOIN per_probe pp ON pp.bench_id = p.vec_id
ORDER BY probe_id
"""


def st24_stream_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING decontamination — em33's DEPLOYED dual (the st17/tx45
    pattern: batch fits the artifact, the stream consumes it): the
    bounded benchmark table (every 13th vector + the em33 md5
    perturbation — in production a FIXED eval suite, the tx22
    bounded-probe-side precedent) is compiled batch-side into
    (bands, vector, norm) rows, and the embeddings STREAM is checked
    per micro-batch: signature → band overlap against the benchmark →
    exact cosine ≥ τ=0.9 → one running (n_hits, max_cos) state row
    per benchmark item. Max state rows = |benchmark|, forever.

    Everything on the stream side is PURE EXPRESSIONS — the 16 plane
    projections are exact-decimal left folds (`F.aggregate` over
    `zip_with`) matching the sign_signatures expr contract
    bit-for-bit (no mapInPandas, no shuffle before the bounded agg),
    so a bounded run carries the batch oracle regardless of
    micro-batch boundaries: the oracle replays signatures, band
    overlap, cosine, threshold, and the per-probe rollup in SQL.
    The benchmark join is a pair of broadcast HASH EQUI-JOINS on the
    band values (band-0 equality, plus band-1 equality excluding
    band-0 collisions — a disjoint split of the same-band collision
    set, so every candidate pair appears exactly once and the
    stateful agg needs no dedup state). Round 12 replaced the
    original arrays_overlap BroadcastNestedLoopJoin: its predicate
    ran against every stream×benchmark pair, which the 10×
    scale-bench leg measured at 36× wall when both sides grow."""
    from paqarin_spark.functions import uniform_hash
    from paqarin_spark.operators.similarity import _md5_sign

    configure_for_determinism(spark)
    tau = 0.9
    emb = read_table(spark, sf_dir, "embeddings")

    def dot_fold(a, b):
        # STRICT LEFT FOLD in IEEE double: Spark's `aggregate` and
        # DuckDB's `list_reduce` walk the array in the same order over
        # bit-identical products, so the sums agree bit-for-bit (the
        # gru_step_strict association-order discipline applied to
        # array expressions — decimal accumulators are not closed
        # under Spark's aggregate type rule, so the fold IS the
        # portable convention here; Spark's extra 0.0 seed is
        # IEEE-exact against DuckDB's first-element seed — up to the
        # sign of zero: 0.0 + (-0.0) = +0.0, so a -0.0 FIRST product
        # would differ in zero-sign only; unit-norm embeddings carry
        # no exact zeros, and every consumer rounds after a divide)
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def sig_expr(vcol):
        bits = []
        for j in range(16):
            plane = F.array(
                *[F.lit(_md5_sign(f"dec33#{j}#{i}")) for i in range(64)]
            )
            bits.append(
                F.when(
                    F.round(dot_fold(vcol, plane), 6) >= 0,
                    F.lit(1 << j).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    def band_expr(sig, b):
        return F.shiftright(sig, 8 * b).bitwiseAND(F.lit(255))

    noise = lambda i: (
        (
            F.lit(2.0)
            * uniform_hash(
                F.lit("dec33p"),
                F.col("vec_id").cast("string"),
                i.cast("string"),
            )
            - F.lit(1.0)
        )
        * F.lit(0.3)
    ) / F.lit(8.0)
    bench = (
        emb.where(F.col("vec_id") % 13 == 0)
        .select(
            F.col("vec_id").alias("bench_id"),
            F.transform(
                "embedding", lambda x, i: x.cast("double") + noise(i)
            ).alias("bvec"),
        )
        .select(
            "bench_id",
            "bvec",
            F.sqrt(dot_fold(F.col("bvec"), F.col("bvec"))).alias("bn"),
            band_expr(sig_expr(F.col("bvec")), 0).alias("bb0"),
            band_expr(sig_expr(F.col("bvec")), 1).alias("bb1"),
        )
        .localCheckpoint()  # bounded eval-suite artifact, computed once
    )
    raw_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = spark.readStream.schema(raw_schema).parquet(
        stream_table_glob(spark, sf_dir, "embeddings")
    )
    svec = stream.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).select(
        "vec_id",
        "v",
        F.sqrt(dot_fold(F.col("v"), F.col("v"))).alias("vn"),
        band_expr(sig_expr(F.col("v")), 0).alias("vb0"),
        band_expr(sig_expr(F.col("v")), 1).alias("vb1"),
    )
    # Candidate join as TWO HASH EQUI-JOINS, pair-once by construction
    # (round 12 — replaces the arrays_overlap BNLJ, which evaluated
    # its predicate against every (stream-row × benchmark-row) pair:
    # linear in the honest fixed-suite deployment but measured 36× at
    # the 10× scale-bench leg where both sides grow): band-0 equality
    # catches every pair colliding in band 0; band-1 equality WITH
    # band-0 inequality catches exactly the rest — the union is the
    # positional same-band collision set the oracle's cand CTE
    # replays, each pair appearing exactly once, so the stateful agg
    # still needs no dedup state.
    def _score(j):
        return j.select(
            "bench_id",
            F.round(
                dot_fold(F.col("v"), F.col("bvec"))
                / (F.col("vn") * F.col("bn")),
                6,
            ).alias("cs"),
        )

    j0 = svec.join(F.broadcast(bench), F.col("vb0") == F.col("bb0"))
    j1 = svec.join(
        F.broadcast(bench),
        (F.col("vb1") == F.col("bb1")) & (F.col("vb0") != F.col("bb0")),
    )
    hits = (
        _score(j0).unionByName(_score(j1))
        .where(F.col("cs") >= tau)
        .groupBy("bench_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.max("cs").alias("max_cos"),
        )
    )
    name = "st24_stream_decontamination"
    sink = _run_to_memory(
        spark, hits, name, "complete",
        _stream_state_partition_count(spark, sf_dir, ("embeddings",)),
    )
    probes = emb.where(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("bench_id")
    )
    return (
        probes.join(sink, on="bench_id", how="left")
        .select(
            F.col("bench_id").cast("long").alias("probe_id"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "max_cos",
        )
        .orderBy("probe_id")
    )


ST24_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), bench AS (
  SELECT vec_id AS bench_id,
         list_transform(e, (x, i) -> x
           + ((((2.0 * (('0x' || substring(md5('dec33p#'
                   || CAST(vec_id AS VARCHAR) || '#'
                   || CAST(i - 1 AS VARCHAR)), 1, 15))::UBIGINT
                   / 1152921504606846976.0)) - 1.0) * 0.3) / 8.0)) AS bvec
  FROM v WHERE vec_id % 13 = 0
), planes AS (
  SELECT j, CAST(2 ** j AS BIGINT) AS w, list(s ORDER BY i) AS p
  FROM (
    SELECT j, i,
           CAST(CASE WHEN ('0x' || substring(
                  md5('dec33#' || j || '#' || i), 1, 1))::UBIGINT % 2 = 0
                THEN 1.0 ELSE -1.0 END AS DOUBLE) AS s
    FROM (SELECT unnest(range(16)) AS j), (SELECT unnest(range(64)) AS i)
  ) GROUP BY j
), csig AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN ROUND(list_reduce(
                list_transform(e, (x, i) -> x * p[i]),
                (acc, t) -> acc + t), 6) >= 0
              THEN w ELSE 0 END) AS BIGINT) AS sig
  FROM v CROSS JOIN planes GROUP BY 1
), bsig AS (
  SELECT bench_id,
         CAST(SUM(CASE WHEN ROUND(list_reduce(
                list_transform(bvec, (x, i) -> x * p[i]),
                (acc, t) -> acc + t), 6) >= 0
              THEN w ELSE 0 END) AS BIGINT) AS sig
  FROM bench CROSS JOIN planes GROUP BY 1
), cband AS (
  SELECT vec_id, t.b, (sig >> (8 * t.b)) & 255 AS bv
  FROM csig, (SELECT unnest(range(2)) AS b) t
), bband AS (
  SELECT bench_id, t.b, (sig >> (8 * t.b)) & 255 AS bv
  FROM bsig, (SELECT unnest(range(2)) AS b) t
), cand AS (
  SELECT DISTINCT b.bench_id, c.vec_id
  FROM cband c JOIN bband b ON c.b = b.b AND c.bv = b.bv
), scored AS (
  SELECT cand.bench_id,
         ROUND(list_reduce(list_transform(v.e, (x, i) -> x * bench.bvec[i]),
                           (acc, t) -> acc + t)
               / (sqrt(list_reduce(list_transform(bench.bvec, x -> x * x),
                                   (acc, t) -> acc + t))
                  * sqrt(list_reduce(list_transform(v.e, x -> x * x),
                                     (acc, t) -> acc + t))), 6) AS cs
  FROM cand
  JOIN v ON v.vec_id = cand.vec_id
  JOIN bench ON bench.bench_id = cand.bench_id
), per_probe AS (
  SELECT bench_id, COUNT(*) AS n_hits, MAX(cs) AS max_cos
  FROM scored WHERE cs >= 0.9 GROUP BY 1
)
SELECT CAST(p.vec_id AS BIGINT) AS probe_id,
       CAST(COALESCE(pp.n_hits, 0) AS BIGINT) AS n_hits,
       pp.max_cos
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 13 = 0) p
LEFT JOIN per_probe pp ON pp.bench_id = p.vec_id
ORDER BY probe_id
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- round-12 additions (never driver-verified) come first ---
    "st25_stream_jsd": st25_stream_jsd,
    "em36_pc_drift": em36_pc_drift,
    "ev30_wasserstein_split": ev30_wasserstein_split,
    "tx56_simhash_wide": tx56_simhash_wide,
    "em35_hamming_serve": em35_hamming_serve,
    # --- round-11 additions ---
    "em34_ivfpq_serve": em34_ivfpq_serve,
    "st24_stream_decontamination": st24_stream_decontamination,
    "em33_embedding_decontamination": em33_embedding_decontamination,
    "gen14_gan_sample_replay": gen14_gan_sample_replay,
    "gen15_arnet_rollout_replay": gen15_arnet_rollout_replay,
    # --- round-10 additions ---
    "st23_stream_funnel": st23_stream_funnel,
    "mm20_png_interlaced": mm20_png_interlaced,
    "q113_session_funnel": q113_session_funnel,
    "ev29_jensen_shannon": ev29_jensen_shannon,
    "tx55_winnowing_pairs": tx55_winnowing_pairs,
    "em32_sq_int8_recall": em32_sq_int8_recall,
    "q112_csv_roundtrip": q112_csv_roundtrip,
    "q111_hits_authorities": q111_hits_authorities,
    "tx54_heaps_fit": tx54_heaps_fit,
    "ev28_cramer_von_mises": ev28_cramer_von_mises,
    "st22_stream_sessions_close": st22_stream_sessions_close,
    "gen12_gan_sample": gen12_gan_sample,
    "gen13_gru_rollout_replay": gen13_gru_rollout_replay,
    # --- round-9 additions, r9-driver-verified ---
    "ev23_kendall_tau": ev23_kendall_tau,
    "q110_trailing_dau_hll": q110_trailing_dau_hll,
    "st21_stream_psi": st21_stream_psi,
    "mm19_png_gif_transcode": mm19_png_gif_transcode,
    "q109_kmv_intersection": q109_kmv_intersection,
    "ev27_psi_drift": ev27_psi_drift,
    "q108_repeat_customers": q108_repeat_customers,
    "ev26_crps_ensemble": ev26_crps_ensemble,
    "tx53_readability": tx53_readability,
    "gen11_fgm_copula_sample": gen11_fgm_copula_sample,
    "mm18_gif_roundtrip": mm18_gif_roundtrip,
    "st20_stream_file_sink": st20_stream_file_sink,
    "ev25_brier_decomposition": ev25_brier_decomposition,
    "mm17_audio_dft": mm17_audio_dft,
    "q107_orc_roundtrip": q107_orc_roundtrip,
    "em31_davies_bouldin": em31_davies_bouldin,
    "q105_label_propagation": q105_label_propagation,
    "q106_adamic_adar": q106_adamic_adar,
    "tx51_dsir_resample": tx51_dsir_resample,
    "tx52_zipf_fit": tx52_zipf_fit,
    "q103_gini_concentration": q103_gini_concentration,
    "q104_theil_sen_trend": q104_theil_sen_trend,
    "ev24_rank_sum_test": ev24_rank_sum_test,
    "mm16_zip_shard_roundtrip": mm16_zip_shard_roundtrip,
    "tx50_kneser_ney_lm": tx50_kneser_ney_lm,
    "em30_rrf_fusion": em30_rrf_fusion,
    "ev21_roc_auc": ev21_roc_auc,
    "ev22_spearman_rho": ev22_spearman_rho,
    # --- round-8 additions, r8-driver-verified ---
    "em28_pca_label_projection": em28_pca_label_projection,
    "tx49_blocklist_phrases": tx49_blocklist_phrases,
    "ev18_permutation_test": ev18_permutation_test,
    "mm15_tar_shard_roundtrip": mm15_tar_shard_roundtrip,
    "st18_stream_ewma_anomaly": st18_stream_ewma_anomaly,
    "tx48_textrank_keywords": tx48_textrank_keywords,
    "em29_zscore_outliers": em29_zscore_outliers,
    "ev19_bootstrap_ci": ev19_bootstrap_ci,
    "st19_stream_phrase_hits": st19_stream_phrase_hits,
    # (Historical round-4/round-5 rotation prose removed in round 9 —
    # it described entries that have long since been driver-verified
    # and rotated; per-displacement notes below the marker are the
    # accurate record. Everything ABOVE this line is the current
    # 50-entry driver window: round-10 additions first, then the most
    # recently verified rounds.)
    # ------------- driver 50-entry window ends HERE (position 50) -------------
    # ev20 (r8-driver-verified) displaced for round-10 st23.
    "ev20_memorization_audit": ev20_memorization_audit,
    # em27 (r7-driver-verified) displaced for round-10 mm20.
    "em27_graph_ingest_recall": em27_graph_ingest_recall,
    # em26 (r7-driver-verified) displaced for round-10 q113.
    "em26_graph_search_recall": em26_graph_search_recall,
    # ev17 (r7-driver-verified) displaced for round-10 ev29.
    "ev17_classifier_calibration": ev17_classifier_calibration,
    # st17 (r7-driver-verified) displaced for round-10 tx55.
    "st17_stream_classify": st17_stream_classify,
    # tx47 (r7-driver-verified) displaced for round-10 em32.
    "tx47_bpe_encode_stats": tx47_bpe_encode_stats,
    # gen10 (r7-driver-verified; rows-only smoke) displaced for
    # round-10 q112.
    "gen10_grunet_sample": gen10_grunet_sample,
    # em25 (r7-driver-verified) displaced for round-10 q111.
    "em25_nn_descent_recall": em25_nn_descent_recall,
    # tx46 (r7-driver-verified) displaced for round-10 tx54.
    "tx46_bpe_train": tx46_bpe_train,
    # tx45 (r7-driver-verified) displaced for round-10 ev28.
    "tx45_naive_bayes_lang": tx45_naive_bayes_lang,
    # tx42 (r6-driver-verified) displaced for round-10 st22.
    "tx42_duplicate_substrings": tx42_duplicate_substrings,
    # tx43 (r6-driver-verified) displaced for round-10 gen12.
    "tx43_exactsubstr_strip": tx43_exactsubstr_strip,
    # mm13 (r6-driver-verified) displaced for round-10 gen13.
    "mm13_audio_metadata": mm13_audio_metadata,
    # st14 (r6-driver-verified) displaced for round-9 q110.
    "st14_stream_view_rollup": st14_stream_view_rollup,
    # q93 (r6-driver-verified) displaced for round-9 st21.
    "q93_trade_assortativity": q93_trade_assortativity,
    # q92 (r6-driver-verified) displaced for round-9 mm19.
    "q92_customer_distribution": q92_customer_distribution,
    # ev12 (r6-driver-verified) displaced for round-9 q109.
    "ev12_chi2_drift": ev12_chi2_drift,
    # tx44 (r6-driver-verified) displaced for round-9 q108.
    "tx44_token_pair_lift": tx44_token_pair_lift,
    # em21 (r6-driver-verified) displaced for round-9 ev27.
    "em21_covariance_matrix": em21_covariance_matrix,
    # mm14 (r6-driver-verified) displaced for round-9 tx53.
    "mm14_subtitle_cues": mm14_subtitle_cues,
    # q94 (r6-driver-verified) displaced for round-9 ev26.
    "q94_dormant_rich_by_nation": q94_dormant_rich_by_nation,
    # q95 (r6-driver-verified) displaced for round-9 gen11.
    "q95_top_supplier": q95_top_supplier,
    # gen7 (r6-driver-verified) displaced for round-9 mm18.
    "gen7_quantile_remap": gen7_quantile_remap,
    # ev13/q96 (r6-driver-verified) displaced for round-9 st20/ev25.
    "q96_mad_robust_stats": q96_mad_robust_stats,
    "ev13_theil_u": ev13_theil_u,
    # em22/st15/q97/q98/em23/q99/gen8/ev14/q100/em24/ev15/q101/st16/
    # q102/ev16/gen9 (r6-driver-verified, r8-window re-verified where
    # rotated) displaced for the 16 round-9 entries.
    "em22_power_iteration": em22_power_iteration,
    "st15_stream_latest": st15_stream_latest,
    "q97_jsonl_roundtrip": q97_jsonl_roundtrip,
    "q98_waiting_suppliers": q98_waiting_suppliers,
    "em23_variance_explained": em23_variance_explained,
    "q99_market_share": q99_market_share,
    "gen8_smoothed_bootstrap": gen8_smoothed_bootstrap,
    "ev14_interval_coverage": ev14_interval_coverage,
    "q100_disjunctive_predicates": q100_disjunctive_predicates,
    "em24_loo_knn_accuracy": em24_loo_knn_accuracy,
    "ev15_synth_ks": ev15_synth_ks,
    "q101_percent_ranks": q101_percent_ranks,
    "st16_stream_leaderboard": st16_stream_leaderboard,
    "q102_forecast_revenue_change": q102_forecast_revenue_change,
    "ev16_generator_rank": ev16_generator_rank,
    "gen9_text_markov": gen9_text_markov,
    # ev11_ewma_backtest (r5-green) displaced for round-8 ev20.
    "ev11_ewma_backtest": ev11_ewma_backtest,
    # q90/q91/q89/st13/tx41/ev10/q85/tx40/q84 (r5-green, r6/r7
    # re-verified) displaced for round-8 em28/tx49/ev18/mm15/st18/
    # tx48/em29/ev19/st19.
    "q90_priority_shipments": q90_priority_shipments,
    "q91_promo_revenue_share": q91_promo_revenue_share,
    "q89_trade_kcore": q89_trade_kcore,
    "st13_stream_left_join": st13_stream_left_join,
    "tx41_line_dedup": tx41_line_dedup,
    "ev10_acf_fidelity": ev10_acf_fidelity,
    "q85_trade_reach": q85_trade_reach,
    "tx40_minhash_error": tx40_minhash_error,
    "q84_min_cost_supplier": q84_min_cost_supplier,
    # em17_ivfpq_recall/tx39_semdedup_keep/em20_ivf_ingest/
    # q88_part_supplier_counts/q87_important_parts (r5-green)
    # displaced for round-7 tx45/tx46/em25/gen10/tx47.
    "em17_ivfpq_recall": em17_ivfpq_recall,
    "tx39_semdedup_keep": tx39_semdedup_keep,
    "em20_ivf_ingest": em20_ivf_ingest,
    "q88_part_supplier_counts": q88_part_supplier_counts,
    "q87_important_parts": q87_important_parts,
    # q86_incremental_view_merge (r5-green; st14 is its streaming dual
    # and stays in the window) displaced for round-7 st17;
    # em19_mmr_rerank/em18_hamming_rerank (r5-green) displaced for
    # round-7 ev17/em26.
    "q86_incremental_view_merge": q86_incremental_view_merge,
    "em19_mmr_rerank": em19_mmr_rerank,
    "em18_hamming_rerank": em18_hamming_rerank,
    # q83_dominant_part_suppliers (r5-green) displaced for round-7
    # em27 (em16 was already below the marker since round 6).
    "q83_dominant_part_suppliers": q83_dominant_part_suppliers,
    "em16_pq_adc_recall": em16_pq_adc_recall,
    # q81_triangle_brands (r5-green) displaced for round-6 gen9.
    "q81_triangle_brands": q81_triangle_brands,
    # q82_cohort_retention/em16_pq_adc_recall (r5-green) displaced for round-6 q102/ev16.
    "q82_cohort_retention": q82_cohort_retention,
    # mm12_exif_tags/st12_stream_cohort (r5-green) displaced for round-6 q101/st16.
    "mm12_exif_tags": mm12_exif_tags,
    "st12_stream_cohort": st12_stream_cohort,
    # ev9_energy_fidelity/mm11_mjpeg_decode/q76_large_volume_orders (r5-green) displaced for round-6 q100/em24/ev15.
    "ev9_energy_fidelity": ev9_energy_fidelity,
    "mm11_mjpeg_decode": mm11_mjpeg_decode,
    "q76_large_volume_orders": q76_large_volume_orders,
    # q77_small_qty_revenue/q78_dormant_rich_customers/q79_quantile_sketch (r5-green) displaced for round-6 q99/gen8/ev14.
    "q77_small_qty_revenue": q77_small_qty_revenue,
    "q78_dormant_rich_customers": q78_dormant_rich_customers,
    "q79_quantile_sketch": q79_quantile_sketch,
    # tx38_fuzzy_supplier_match/st11_stream_quantile_sketch/q80_bloom_prune (r5-green) displaced for round-6 q97/q98/em23.
    "tx38_fuzzy_supplier_match": tx38_fuzzy_supplier_match,
    "st11_stream_quantile_sketch": st11_stream_quantile_sketch,
    "q80_bloom_prune": q80_bloom_prune,
    # mm10_mp4_sample_table/q73_hll_distinct/tx33_count_min_tokens (r5-green) displaced for round-6 q96/em22/st15.
    "mm10_mp4_sample_table": mm10_mp4_sample_table,
    "q73_hll_distinct": q73_hll_distinct,
    "tx33_count_min_tokens": tx33_count_min_tokens,
    # tx34/tx35/st9/q74 (r5-green) displaced for round-6 q94/q95/gen7/ev13.
    "tx34_perplexity_buckets": tx34_perplexity_buckets,
    "tx35_weighted_sample": tx35_weighted_sample,
    "st9_stream_hll_distinct": st9_stream_hll_distinct,
    "q74_blame_suppliers": q74_blame_suppliers,
    "em14_kmeans_clusters": em14_kmeans_clusters,
    # em14/ev6/st10 (r5-green) displaced for round-6 tx44/em21/mm14.
    "ev6_ks_fidelity": ev6_ks_fidelity,
    "st10_stream_count_min": st10_stream_count_min,
    # tx36/tx37/ev1/ev8 then q75/gen6/em15 (all r5-green) displaced for
    # round-6 tx42/tx43/mm13/st14/q92/q93/ev12.
    "q75_grouping_sets": q75_grouping_sets,
    "gen6_arnet_sample": gen6_arnet_sample,
    "em15_retrieval_topk": em15_retrieval_topk,
    "ev8_coverage_metric": ev8_coverage_metric,
    "ev1_pipeline_summary": ev1_pipeline_summary,
    "tx36_ingest_novelty": tx36_ingest_novelty,
    "tx37_quality_dedup_keep": tx37_quality_dedup_keep,
    "ev5_forecast_backtest": ev5_forecast_backtest,
    "em2_lsh_topk": em2_lsh_topk,
    "gen4_conditional_sample": gen4_conditional_sample,
    # tx30/tx31/em12/st7/st8/q69 displaced for
    # q81/q82/em16/mm12/st12/ev9, then tx27/tx28/tx29 displaced for
    # q83/tx39/em17, then em11/q68 (r4-green) displaced for q87/q88
    # (all displaced entries r3/r4-green: driver windows
    # + judge sf0.01 spot-checks). Round-5 session-3 batch B displaced
    # ev3/q64 (r4-green) for em19/em20; batch C displaced em9/mm6
    # (r4-green) for tx41/ev10; batch D displaced ev2/em8 (r4-green)
    # for q89/st13.
    "ev2_univariate_summary": ev2_univariate_summary,
    # --- round-3-verified regression sentinels (one per family) ---
    "em8_ivf_multiprobe": em8_ivf_multiprobe,
    "em9_embed_clusters": em9_embed_clusters,
    "mm6_png_resize": mm6_png_resize,
    "ev3_drift_summary": ev3_drift_summary,
    "q64_event_percentiles": q64_event_percentiles,
    "em11_quantization_error": em11_quantization_error,
    "q68_conversion_funnel": q68_conversion_funnel,
    "q66_type_transitions": q66_type_transitions,
    "q67_kmv_distinct": q67_kmv_distinct,
    "mm7_media_probe": mm7_media_probe,
    "tx25_unigram_logprob": tx25_unigram_logprob,
    "tx26_containment_pairs": tx26_containment_pairs,
    "tx27_mixture_sample": tx27_mixture_sample,
    "tx28_sequence_pack": tx28_sequence_pack,
    "tx29_chunk_overlap": tx29_chunk_overlap,
    "tx30_tfidf_terms": tx30_tfidf_terms,
    "tx31_bm25_search": tx31_bm25_search,
    "em12_random_projection": em12_random_projection,
    "st7_stream_enrich": st7_stream_enrich,
    "st8_stream_interval_join": st8_stream_interval_join,
    "q69_trade_pagerank": q69_trade_pagerank,
    "tx32_gopher_gate": tx32_gopher_gate,
    "mm8_jpeg_decode": mm8_jpeg_decode,
    "mm9_wav_stats": mm9_wav_stats,
    "em13_truncation_recall": em13_truncation_recall,
    "q70_scd2_intervals": q70_scd2_intervals,
    "q71_cdc_merge": q71_cdc_merge,
    "q72_split_manifest": q72_split_manifest,
    # --- displaced this round to make room for the rotation (all
    # driver-green in r3 on these exact oracles; families still
    # represented above: tx19 clean_text, tx22 span/contamination,
    # gen3/gen4/gen5 generators, q63/q64/q66-q68 TPC-H agg/join) ---
    "gen3_generation_rounds": gen3_generation_rounds,
    "tx23_duplicate_spans": tx23_duplicate_spans,
    "mm5_png_decode": mm5_png_decode,
    "tx21_lang_mismatch": tx21_lang_mismatch,
    "em10_ann_recall": em10_ann_recall,
    "st6_stream_daily_users": st6_stream_daily_users,
    "tx24_zipf_slope": tx24_zipf_slope,
    "gen5_markov_sample": gen5_markov_sample,
    "ev4_markov_fidelity": ev4_markov_fidelity,
    "tx22_contamination": tx22_contamination,
    "q63_nation_profit": q63_nation_profit,
    "tx20_corpus_curation": tx20_corpus_curation,
    "tx19_normalized_dedup": tx19_normalized_dedup,
    "q65_cold_customers": q65_cold_customers,
    "gen2_gaussian_sample": gen2_gaussian_sample,
    "gen1_bootstrap_sample": gen1_bootstrap_sample,
    "tx15_clean_text": tx15_clean_text,
    "tx16_pii_redaction": tx16_pii_redaction,
    "tx17_top_bigrams": tx17_top_bigrams,
    "tx18_repetition_ratio": tx18_repetition_ratio,
    "q61_market_share": q61_market_share,
    "q62_custorder_distribution": q62_custorder_distribution,
    # --- driver-green in earlier rounds ---
    "q33_large_orders": q33_large_orders,
    "st2_stream_window_sums": st2_stream_window_sums,
    "st3_stream_sessions": st3_stream_sessions,
    # --- one representative per operator family ---
    "tx11_dup_clusters": tx11_dup_clusters,
    "em4_ivf_topk": em4_ivf_topk,
    "q58_salted_revenue": q58_salted_revenue,
    "q14_pricing_summary": q14_pricing_summary,
    # --- displaced representatives (driver-green in r2 on these exact rows) ---
    "q01_surrogate_key": q01_surrogate_key,
    "q02_daily_sum": q02_daily_sum,
    "q03_gap_fill": q03_gap_fill,
    "q04_minmax_scale": q04_minmax_scale,
    "tx3_exact_dedup": tx3_exact_dedup,
    "em1_cosine_topk": em1_cosine_topk,
    "mm4_codec_decode": mm4_codec_decode,
    "tx6_minhash_lsh_pairs": tx6_minhash_lsh_pairs,
    "q30_sessionize": q30_sessionize,
    # --- backfill: round-1-verified (oldest driver check) ---
    "q05_window_starts": q05_window_starts,
    "q06_tail_trim": q06_tail_trim,
    "q07_keep_first": q07_keep_first,
    "q08_metric_summary": q08_metric_summary,
    "q09_lag_mae": q09_lag_mae,
    "q10_weekend_covariate": q10_weekend_covariate,
    "q11_positional_split": q11_positional_split,
    "q12_forecast_horizon": q12_forecast_horizon,
    "q13_count_identity": q13_count_identity,
    "q15_nation_revenue": q15_nation_revenue,
    "q16_top_parts": q16_top_parts,
    "q17_json_props": q17_json_props,
    "q18_panel_transform": q18_panel_transform,
    "q19_window_sums": q19_window_sums,
    "q20_upsample_nulls": q20_upsample_nulls,
    "q21_minmax_roundtrip": q21_minmax_roundtrip,
    "q22_forecast_errors": q22_forecast_errors,
    "q23_xy_split": q23_xy_split,
    "q24_best_generator": q24_best_generator,
    "q25_shipping_priority": q25_shipping_priority,
    "q26_order_priority": q26_order_priority,
    "q27_returned_items": q27_returned_items,
    "q28_asof_checkpoint": q28_asof_checkpoint,
    "q29_range_hot_days": q29_range_hot_days,
    "q31_rollup_revenue": q31_rollup_revenue,
    "q32_quality_quantiles": q32_quality_quantiles,
    "q34_nation_pair_volume": q34_nation_pair_volume,
    "q35_multi_resolution": q35_multi_resolution,
    "q36_inactive_dims": q36_inactive_dims,
    "q37_pivot_event_types": q37_pivot_event_types,
    "q38_unpivot_roundtrip": q38_unpivot_roundtrip,
    "q39_top_events_per_user": q39_top_events_per_user,
    "q40_above_average_orders": q40_above_average_orders,
    "q41_churned_users": q41_churned_users,
    "q42_cube_type_weekday": q42_cube_type_weekday,
    "q50_left_range_cold": q50_left_range_cold,
    "q51_small_quantity_revenue": q51_small_quantity_revenue,
    "q52_disjunctive_bands": q52_disjunctive_bands,
    "q53_top_supplier": q53_top_supplier,
    "q54_promo_bulk_suppliers": q54_promo_bulk_suppliers,
    "q55_rich_inactive_customers": q55_rich_inactive_customers,
    "q59_asof_forward_tolerance": q59_asof_forward_tolerance,
    "q60_trailing_7d": q60_trailing_7d,
    "q43_mad_by_type": q43_mad_by_type,
    "q44_daily_active_users": q44_daily_active_users,
    "q45_type_correlation": q45_type_correlation,
    "q46_running_totals": q46_running_totals,
    "q47_revenue_share": q47_revenue_share,
    "q48_value_histogram": q48_value_histogram,
    "q49_sql_surface": q49_sql_surface,
    "q56_ema": q56_ema,
    "q57_order_deciles": q57_order_deciles,
    "tx1_text_stats": tx1_text_stats,
    "tx2_language_id": tx2_language_id,
    "tx4_ngram_jaccard": tx4_ngram_jaccard,
    "tx5_minhash_signatures": tx5_minhash_signatures,
    "tx7_simhash": tx7_simhash,
    "tx8_rolling_hash": tx8_rolling_hash,
    "tx9_bpe_tokens": tx9_bpe_tokens,
    "tx10_quality_prune": tx10_quality_prune,
    "tx12_simhash_pairs": tx12_simhash_pairs,
    "tx13_top_tokens": tx13_top_tokens,
    "tx14_stratified_sample": tx14_stratified_sample,
    "em3_cosine_dedup": em3_cosine_dedup,
    "em5_label_centroids": em5_label_centroids,
    "em6_label_quality": em6_label_quality,
    "em7_nearest_centroid": em7_nearest_centroid,
    "mm1_media_decode": mm1_media_decode,
    "mm2_frame_sample": mm2_frame_sample,
    "mm3_audio_chunks": mm3_audio_chunks,
    "st1_stream_daily_sum": st1_stream_daily_sum,
    "st4_stream_minmax": st4_stream_minmax,
    "st5_stream_dedup": st5_stream_dedup,
}

# Every query EXCEPT gen6/gen10/gen12 is value-hash-checked against
# DuckDB — all md5-portable generator samples, all THREE TSTR
# pipelines (ev1 multivariate, ev2/ev3 univariate), the LSH index
# itself (em2), the sketches (q73/tx33/st9/st10), and the k-means
# rounds (em14). The three rows-only entries are the executing neural
# providers' TRAINING loops (ARNet SGD / GRU BPTT / GAN adversarial
# game): deterministic (tests pin layout-independence) but not
# single-statement SQL — declared so the driver proves each
# train/sample lifecycle runs. Their SAMPLE paths ARE value-oracled:
# gen13 replays the GRU rollout, gen14 the GAN generator forward,
# gen15 the ARNet feedback rollout — each with frozen md5-init
# weights shipped into the SQL as literals, so training is provably
# the ONLY rows-only boundary.
ROWS_ONLY = frozenset(
    {"gen6_arnet_sample", "gen10_grunet_sample", "gen12_gan_sample"}
)

# Every other query's oracle is the module's ``<PREFIX>_SQL`` constant
# (``q82_cohort_retention`` -> ``Q82_SQL``); a query without one fails
# at import, so QUERIES and ORACLE_SQL cannot drift apart.
ORACLE_SQL: dict[str, str] = {
    name: globals()[f"{name.split('_', 1)[0].upper()}_SQL"]
    for name in QUERIES
    if name not in ROWS_ONLY
}
