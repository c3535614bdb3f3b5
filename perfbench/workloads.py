"""The benchmark's workloads: each is a fixed, ordered list of declared
queries (``__spark_entry__.queries()``) over seeded sf0.01 inputs.

Each list is chosen so that its time falls on a different layer of
``paqarin_spark``; ``why`` says which, and is copied into
``BENCHMARK.json``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    tables: tuple[str, ...]
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="ts_prep",
            tables=("events",),
            queries=(
                "q01_surrogate_key",
                "q02_daily_sum",
                "q03_gap_fill",
                "q21_minmax_roundtrip",
                "q05_window_starts",
                "q07_keep_first",
                "q30_sessionize",
                "st5_stream_dedup",
            ),
            why=(
                "pre-processing of long-format series: lazy plans with a few "
                "wide shuffles and windows, plus the streaming twin of keep-first"
            ),
        ),
        Workload(
            name="eval_embed",
            tables=("events", "embeddings"),
            queries=(
                "gen5_markov_sample",
                "ev1_pipeline_summary",
                "q22_forecast_errors",
                "em14_kmeans_clusters",
            ),
            why=(
                "fit, generate and TSTR-score generators, then k-means over "
                "embeddings: many small eager jobs, bound by driver and job overhead"
            ),
        ),
    )
}
