"""The windowed lifecycle shared by the three EXECUTING neural
providers — ARNet (neural.py), GRUNet (recurrent.py) and GAN
(adversarial.py), each trained and sampled in this environment with
pure numpy (generators/nn.py), zero TF/torch.

They occupy the lifecycle of the reference's deep providers — scale →
window → train on the window population → sample → inverse scale
(`paqarin/adapters/ydata_adapter.py:233-288`) — and
``_WindowedGenerator`` states it once. A provider keeps only its
hyperparameters (the constructor keywords, which are also the saved
``generator.json`` keys), a per-group ``_train_body`` and a
per-sequence ``_rollout_body``.

Physical placement:

- everything DISTRIBUTED stays distributed — scaling (one global
  aggregate), windowing (per-entity Spark windows), the deterministic
  md5-rank subsample, the rollout fan-out (``mapInPandas``, one
  independent sequence per row), inverse scaling;
- TRAINING runs inside ``applyInPandas`` over the bounded subsample
  (``max_windows``), one Arrow batch per shard — the single-node model
  boundary every deep provider has, made explicit and bounded; only
  the weight state crosses back (one JSON row per shard, never row
  data).

Determinism: the subsample is an md5 rank (layout-independent), each
shard is SORTED by window key before training, shards are a content
hash of the window key, gradients are full-batch sums, init is
md5-derived — so the fitted weights, and therefore every generated
sequence, are a pure function of (data, parameters.seed). Rollout
noise, where a provider has it, is md5 Box–Muller (off by default).
"""

from __future__ import annotations

import inspect
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from paqarin_spark.generator import (
    GeneratorParameters,
    TimeSeriesGenerator,
    _read_params,
    _write_params,
)
from paqarin_spark.generators.nn import _md5_unit
from paqarin_spark.operators.resample import parse_timestamps
from paqarin_spark.operators.scaling import MinMaxScaler, MinMaxState
from paqarin_spark.operators.windows import SEQUENCE, SEQUENCE_ID, sliding_windows


def _window_array(pdf, cols: list[str]) -> np.ndarray:
    """A shard's windows as an (n, L, C) float64 array."""
    return np.array(
        [[[rec[c] for c in cols] for rec in seq] for seq in pdf[SEQUENCE]],
        dtype=np.float64,
    )


def _add_noise(pred, noise: float, method: str, sid: int, step: int, seed: int):
    """Add md5 Box–Muller noise to one rollout step in place (a no-op
    at ``noise == 0``)."""
    if noise > 0.0:
        for j in range(len(pred)):
            u1 = max(_md5_unit(f"{method}-u1#{sid}#{step}#{j}#{seed}"), 1e-18)
            u2 = _md5_unit(f"{method}-u2#{sid}#{step}#{j}#{seed}")
            z = (-2.0 * np.log(u1)) ** 0.5 * np.cos(2.0 * np.pi * u2)
            pred[j] += noise * z


class _WindowedGenerator(TimeSeriesGenerator):
    """fit → generate → save/load over md5-ranked scaled windows.

    Subclasses set ``method``, call ``super().__init__(parameters,
    max_windows)`` and implement ``_train_body`` and
    ``_rollout_body``. ``keeps_starts`` says whether the rollout
    continues real windows (ARNet, GRU: the fit sample is kept,
    persisted and saved as ``starts.parquet``) or samples
    unconditionally from a range of ids (GAN)."""

    provider = "paqarin_spark"
    keeps_starts = True

    def __init__(self, parameters: GeneratorParameters, max_windows: int):
        super().__init__(parameters)
        self.max_windows = int(max_windows)
        self.scaler = MinMaxScaler(list(parameters.schema.value_columns))
        self.weights = None  # JSON-able weight state
        self._starts: DataFrame | None = None  # scaled windows, keyed
        self._n_starts: int | None = None

    @classmethod
    def _hyperparameters(cls) -> list[str]:
        """The constructor keywords — saved under these keys and passed
        back by ``load``, so each default is written only in
        ``__init__``."""
        names = list(inspect.signature(cls.__init__).parameters)
        return names[2:]  # drop self, parameters

    @property
    def is_fitted(self) -> bool:
        return self.weights is not None and (
            self._starts is not None or not self.keeps_starts
        )

    def unpersist(self) -> None:
        if self._starts is not None:
            self._starts.unpersist()

    # ------------------------------------------------------------ fit

    def _train_body(self, cols: list[str], L: int):
        """Return ``body(pdf) -> JSON-able weights`` for one shard's
        windows, sorted by ``_window_key``. The body runs on a worker:
        it may capture plain values only, never ``self``."""
        raise NotImplementedError

    def _train(self, sample: DataFrame, cols: list[str], L: int):
        """One train lane over the whole sample; ARNet overrides this
        with its parameter-averaged rounds."""
        return self._train_lane(sample, self._train_body(cols, L))[0][1]

    def fit(self, training_data: DataFrame) -> "_WindowedGenerator":
        schema = self.parameters.schema
        cols = list(schema.value_columns)
        if not cols:
            raise ValueError("schema has no value columns")
        L = self.parameters.sequence_length
        seed = self.parameters.seed

        parsed = parse_timestamps(training_data, schema)
        if not self.scaler.is_fitted:
            self.scaler.fit(parsed)
        scaled = self.scaler.transform(parsed)
        windows = sliding_windows(scaled, schema, L).select(
            F.concat_ws(
                "|", *[F.col(c).cast("string") for c in schema.ids], SEQUENCE_ID
            ).alias("_window_key"),
            F.col(SEQUENCE),
        )
        # Deterministic bounded subsample (the bootstrap draw): the
        # training set is the md5-rank top ``max_windows`` windows —
        # layout-independent, and each training batch is bounded by
        # construction at any corpus size.
        ranked = windows.withColumn(
            "_r",
            F.md5(
                F.concat_ws("#", F.col("_window_key"), F.lit(f"{self.method}{seed}"))
            ),
        )
        sample = ranked.orderBy("_r").limit(self.max_windows)
        if self.keeps_starts:
            sample = sample.persist()
        self.weights = self._train(sample, cols, L)
        if self.keeps_starts:
            self._starts = sample
        return self

    def _train_lane(self, sample: DataFrame, body, shards: int = 1):
        """The one training ``applyInPandas``: split ``sample`` into
        ``shards`` groups by a content hash of the window key, run
        ``body`` on each group sorted by ``_window_key``, and return the
        collected ``(n, weights)`` per shard. The summed ``n`` is the
        start-pool size."""

        def train(pdf):
            # single-argument closure: applyInPandas reads the arity,
            # and two parameters would read as (key, pdf)
            import pandas as pd

            pdf = pdf.sort_values("_window_key")
            return pd.DataFrame({"n": [len(pdf)], "weights": [json.dumps(body(pdf))]})

        key = F.concat(F.lit(f"{self.method}-shard#"), F.col("_window_key"))
        shard = F.pmod(
            F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long"),
            F.lit(shards),
        )
        rows = (
            sample.withColumn("_shard", shard)
            .groupBy("_shard")
            .applyInPandas(train, schema="n long, weights string")
            .collect()
        )
        if not rows:
            sample.unpersist()
            raise ValueError(
                "cannot fit: no training windows (every entity is "
                f"shorter than sequence_length={self.parameters.sequence_length})"
            )
        self._n_starts = sum(int(r["n"]) for r in rows)
        return [(int(r["n"]), json.loads(r["weights"])) for r in rows]

    # ------------------------------------------------------- generate

    def _rollout_body(self, n_cols: int, L: int, seed: int):
        """Return a worker-side factory ``make()`` whose result maps
        ``(sequence_id, ctx)`` to the L×C scaled steps of one sequence;
        ``ctx`` is the start window's first L-1 scaled rows (None
        without ``keeps_starts``). ``make`` runs once per partition, so
        it is where the weights are decoded; it may capture plain
        values only, never ``self``."""
        raise NotImplementedError

    def _pick_starts(self, number_of_sequences: int, seed: int) -> DataFrame:
        if number_of_sequences > self._n_starts:
            # The rollout pool is the bounded fit-time subsample; a
            # silent shortfall would skew downstream TSTR scoring
            # (e.g. number_of_sequences=600 quietly scoring on 512).
            raise ValueError(
                f"number_of_sequences={number_of_sequences} exceeds the "
                f"fitted start pool ({self._n_starts}); refit with a larger "
                "max_windows to draw more"
            )
        ranked = self._starts.withColumn(
            "_rs",
            F.md5(F.concat_ws("#", F.col("_window_key"), F.lit(str(seed)))),
        )
        return (
            ranked.orderBy("_rs")
            .limit(number_of_sequences)
            .select(
                (F.row_number().over(Window.orderBy("_rs")) - 1).alias(SEQUENCE_ID),
                SEQUENCE,
            )
        )

    def generate(self, number_of_sequences: int, seed: int | None = None) -> DataFrame:
        if not self.is_fitted:
            raise RuntimeError("generator is not fitted")
        seed = self.parameters.seed if seed is None else seed
        cols = list(self.parameters.schema.value_columns)
        L = self.parameters.sequence_length
        if self.keeps_starts:
            frame = self._pick_starts(number_of_sequences, seed)
        else:
            frame = (
                SparkSession.getActiveSession()
                .range(number_of_sequences)
                .select(F.col("id").alias(SEQUENCE_ID))
            )
        make = self._rollout_body(len(cols), L, seed)
        ranges = [self.scaler.state.column_range[c] for c in cols]

        def rollout(batches):
            import pandas as pd

            sequence = make()
            for pdf in batches:
                starts = pdf[SEQUENCE] if SEQUENCE in pdf else [None] * len(pdf)
                out_rows = []
                for sid, seq in zip(pdf[SEQUENCE_ID], starts):
                    ctx = None
                    if seq is not None:
                        ctx = [[rec[c] for c in cols] for rec in seq[: L - 1]]
                    steps = sequence(int(sid), ctx)
                    out_rows.append(
                        {
                            SEQUENCE_ID: int(sid),
                            SEQUENCE: [
                                {
                                    c: sv[j] * (hi - lo) + lo
                                    for j, (c, (lo, hi)) in enumerate(zip(cols, ranges))
                                }
                                for sv in steps
                            ],
                        }
                    )
                yield pd.DataFrame(out_rows, columns=[SEQUENCE_ID, SEQUENCE])

        struct = ", ".join(f"{c}: double" for c in cols)
        return frame.mapInPandas(
            rollout,
            schema=f"{SEQUENCE_ID} long, {SEQUENCE} array<struct<{struct}>>",
        )

    # ---------------------------------------------------- persistence

    def save(self, path: str) -> None:
        if not self.is_fitted:
            raise RuntimeError("generator is not fitted")
        spark = (
            self._starts.sparkSession
            if self._starts is not None
            else SparkSession.getActiveSession()
        )
        _write_params(
            path,
            self.parameters,
            {
                "provider": self.provider,
                "method": self.method,
                **{k: getattr(self, k) for k in self._hyperparameters()},
                "weights": self.weights,
            },
            spark=spark,
        )
        self.scaler.state.save(os.path.join(path, "scaler.json"), spark=spark)
        if self._starts is not None:
            self._starts.write.mode("overwrite").parquet(
                os.path.join(path, "starts.parquet")
            )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "_WindowedGenerator":
        params, stored = _read_params(path, spark=spark)
        gen = cls(
            params, **{k: stored[k] for k in cls._hyperparameters() if k in stored}
        )
        gen.weights = stored["weights"]
        gen.scaler.state = MinMaxState.load(
            os.path.join(path, "scaler.json"), spark=spark
        )
        if cls.keeps_starts:
            gen._starts = spark.read.parquet(os.path.join(path, "starts.parquet"))
            gen._n_starts = gen._starts.count()
        return gen
