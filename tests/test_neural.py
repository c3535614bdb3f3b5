"""ARNetGenerator — the EXECUTING neural provider (J1/J2 with zero
TF/torch). These tests prove actual training (loss decreases, the
model beats the linear head on nonlinear dynamics), determinism
(layout-independent fits and samples), and the full reference
lifecycle (fit → generate → save → load → generate-equal)."""

from __future__ import annotations

import datetime as dt
import json
import math

import pytest
from pyspark.sql import functions as F

from paqarin_spark.generator import GeneratorParameters
from paqarin_spark.generators import ARNetGenerator
from paqarin_spark.schema import TimeSeriesSchema

SCHEMA = TimeSeriesSchema(
    item_id_columns=("item_id",),
    timestamp_column="ts",
    value_columns=("v",),
    frequency="D",
)


@pytest.fixture(scope="module")
def sine_panel(spark):
    # 3 entities, 120 days of clean sinusoids with different phases —
    # nonlinear AR dynamics a linear last-step head cannot capture.
    rows = []
    for e in range(3):
        for d in range(120):
            rows.append(
                (
                    f"e{e}",
                    dt.datetime(2020, 1, 1) + dt.timedelta(days=d),
                    math.sin(2 * math.pi * (d + 13 * e) / 14.0),
                )
            )
    return spark.createDataFrame(rows, "item_id string, ts timestamp, v double")


def _params(seed=9):
    return GeneratorParameters(schema=SCHEMA, sequence_length=8, seed=seed)


def test_nn_core_training_reduces_loss():
    import numpy as np

    from paqarin_spark.generators import nn

    xs = np.linspace(-1, 1, 200)[:, None]
    ys = np.sin(3 * xs)
    init = nn.init_params([1, 16, 1], seed=4)
    trained = nn.train_mlp(xs, ys, hidden=16, epochs=400, lr=0.1, seed=4)
    assert nn.mse(trained, xs, ys) < 0.25 * nn.mse(init, xs, ys)
    assert nn.mse(trained, xs, ys) < 0.02


def test_arnet_fits_and_generates_shapes(sine_panel):
    gen = ARNetGenerator(_params(), hidden=16, epochs=150).fit(sine_panel)
    out = gen.generate(10).collect()
    assert len(out) == 10
    assert all(len(r["sequence"]) == 8 for r in out)
    assert all(
        all(-1.5 <= s["v"] <= 1.5 for s in r["sequence"]) for r in out
    )
    gen.unpersist()


def test_arnet_rollout_tracks_sine_dynamics(sine_panel):
    """The trained net's autoregressive rollout must predict the
    sinusoid far better than chance: one-step-ahead error from real
    contexts should be a small fraction of the signal amplitude —
    proof the model LEARNED dynamics, not just shapes."""
    import numpy as np

    from paqarin_spark.generators import nn

    gen = ARNetGenerator(_params(), hidden=16, epochs=300).fit(sine_panel)
    params = nn.params_from_lists(gen.weights)
    starts = gen._starts.limit(50).collect()
    errs = []
    for r in starts:
        seq = r["sequence"]
        x = np.array([s["v"] for s in seq[:7]], dtype=np.float64)[None, :]
        pred = nn.forward(params, x)[0][0]
        errs.append(abs(pred - seq[7]["v"]))
    # scaled space spans [0,1]; sine amplitude = 1.0 scaled units
    assert sum(errs) / len(errs) < 0.05
    gen.unpersist()


def test_arnet_deterministic_across_layouts(sine_panel, weights_digest):
    g1 = ARNetGenerator(_params(), epochs=80).fit(sine_panel)
    g2 = ARNetGenerator(_params(), epochs=80).fit(sine_panel.repartition(16))
    assert g1.weights == g2.weights
    assert weights_digest(g1.weights) == (
        "0e271e037d09a6ffeb6779fa5a7e7ebd33aa7cc23ffa2995ce4fe40322df570f"
    )
    s1 = [
        (r["sequence_id"], tuple(round(s["v"], 9) for s in r["sequence"]))
        for r in g1.generate(5, seed=3).orderBy("sequence_id").collect()
    ]
    s2 = [
        (r["sequence_id"], tuple(round(s["v"], 9) for s in r["sequence"]))
        for r in g2.generate(5, seed=3).orderBy("sequence_id").collect()
    ]
    assert s1 == s2
    g1.unpersist()
    g2.unpersist()


def test_arnet_save_load_roundtrip(sine_panel, tmp_path):
    gen = ARNetGenerator(_params(), epochs=80).fit(sine_panel)
    path = str(tmp_path / "arnet_model")
    gen.save(path)
    with open(f"{path}/generator.json", encoding="utf-8") as fh:
        assert sorted(json.load(fh)) == [
            "epochs", "hidden", "learning_rate", "max_windows", "method",
            "noise", "provider", "provider_options", "rounds", "schema",
            "seed", "sequence_length", "shards", "weights",
        ]
    loaded = ARNetGenerator.load(sine_panel.sparkSession, path)
    assert loaded.is_fitted
    assert loaded.weights == gen.weights
    a = [
        tuple(round(s["v"], 9) for s in r["sequence"])
        for r in gen.generate(4, seed=1).orderBy("sequence_id").collect()
    ]
    b = [
        tuple(round(s["v"], 9) for s in r["sequence"])
        for r in loaded.generate(4, seed=1).orderBy("sequence_id").collect()
    ]
    assert a == b
    gen.unpersist()


def test_arnet_via_adapter_and_tstr_pipeline(sine_panel):
    """The executing neural provider slots into the K1/K2 surface:
    adapter dispatch + EvaluationPipeline TSTR scoring next to
    bootstrap, and the summary carries a finite score for both."""
    from paqarin_spark.adapter import get_generator_adapter
    from paqarin_spark.evaluation import (
        EvaluationPipeline,
        MultivariatePredictiveScorer,
    )

    gens = {
        "arnet": get_generator_adapter("paqarin_spark", "arnet", _params()),
        "bootstrap": get_generator_adapter(
            "paqarin_spark", "bootstrap", _params()
        ),
    }
    scorer = MultivariatePredictiveScorer(
        sequence_length=8, iterations=1, number_of_sequences=20
    )
    pipe = EvaluationPipeline(gens, scorer).fit(sine_panel)
    by_gen = {
        r["generator"]: r["avg_predictive_score"] for r in pipe.training_results
    }
    assert set(by_gen) >= {"arnet", "bootstrap"}
    assert all(v is not None and v == v for v in by_gen.values())
    assert pipe.best_generator_name in {"arnet", "bootstrap"}
    pipe.unpersist()


def test_mlp_forecaster_beats_linear_on_nonlinear_dynamics(spark):
    """J4-class upgrade: the trained MLP head must fit y = x1*x2 (pure
    interaction — invisible to any linear model) with a fraction of
    the linear head's error."""
    import random

    from paqarin_spark.evaluation import (
        LinearLastStepForecaster,
        MLPLagForecaster,
    )

    rng = random.Random(7)
    rows = []
    for _ in range(400):
        x1, x2 = rng.uniform(-1, 1), rng.uniform(-1, 1)
        rows.append(([{"v": x1}, {"v": x2}], {"v": x1 * x2}))
    df = spark.createDataFrame(
        rows, "features array<struct<v:double>>, label struct<v:double>"
    )
    mlp = MLPLagForecaster(["v"], hidden=24, epochs=600, learning_rate=0.2).fit(df)
    lin = LinearLastStepForecaster(["v"]).fit(df)
    mlp_mae = mlp.evaluate_mae(df)
    lin_mae = lin.evaluate_mae(df)
    assert mlp_mae < 0.5 * lin_mae
    assert mlp_mae < 0.1


def test_mlp_forecaster_layout_independent_fit(spark):
    import random

    from paqarin_spark.evaluation import MLPLagForecaster

    rng = random.Random(3)
    rows = [
        ([{"v": rng.uniform(-1, 1)}, {"v": rng.uniform(-1, 1)}], {"v": 0.3})
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        rows, "features array<struct<v:double>>, label struct<v:double>"
    )
    w1 = MLPLagForecaster(["v"], epochs=50).fit(df.coalesce(1)).weights
    w2 = MLPLagForecaster(["v"], epochs=50).fit(df.repartition(32)).weights
    assert w1 == w2


def test_mlp_forecaster_in_tstr_scorer(sine_panel):
    """The trained MLP slots into the scorer factory boundary and
    ranks the faithful generator over noise (the VERDICT's
    defensible-ranking contract, now with a genuinely trained
    nonlinear model)."""
    from paqarin_spark.adapter import get_generator_adapter
    from paqarin_spark.evaluation import (
        EvaluationPipeline,
        MLPLagForecaster,
        MultivariatePredictiveScorer,
    )

    class NoiseGenerator:
        parameters = _params()
        is_fitted = False

        def fit(self, df):
            self._spark = df.sparkSession
            self.is_fitted = True
            return self

        def generate(self, n, seed=None):
            seqs = self._spark.range(n).select(F.col("id").alias("sequence_id"))
            return seqs.select(
                "sequence_id",
                F.array(
                    *[
                        F.struct((F.rand(29 + j) * 1000 - 500).alias("v"))
                        for j in range(8)
                    ]
                ).alias("sequence"),
            )

    scorer = MultivariatePredictiveScorer(
        sequence_length=8,
        iterations=1,
        number_of_sequences=15,
        forecaster_factory=MLPLagForecaster,
    )
    pipe = EvaluationPipeline(
        {
            "bootstrap": get_generator_adapter(
                "paqarin_spark", "bootstrap", _params()
            ),
            "noise": NoiseGenerator(),
        },
        scorer,
    ).fit(sine_panel)
    assert pipe.best_generator_name == "bootstrap"
    pipe.unpersist()


def test_average_params_is_example_weighted_and_order_free():
    import numpy as np

    from paqarin_spark.generators import nn

    a = [{"w": np.full((2, 2), 1.0), "b": np.zeros(2)}]
    b = [{"w": np.full((2, 2), 5.0), "b": np.ones(2)}]
    avg = nn.average_params([(1, a), (3, b)])
    assert np.allclose(avg[0]["w"], 4.0)  # (1*1 + 3*5) / 4
    assert np.allclose(avg[0]["b"], 0.75)
    # permuting the shard list cannot change the float result
    avg2 = nn.average_params([(3, b), (1, a)])
    assert np.array_equal(avg[0]["w"], avg2[0]["w"])
    assert np.array_equal(avg[0]["b"], avg2[0]["b"])
    with pytest.raises(ValueError):
        nn.average_params([])
    with pytest.raises(ValueError):
        nn.average_params([(0, a)])


def test_parameter_averaged_fit_is_layout_independent(sine_panel, weights_digest):
    """Local-SGD training shards by a CONTENT hash of the window key,
    so the fitted weights are a pure function of the data — identical
    across any input partitioning."""
    import numpy as np

    from paqarin_spark.generators import nn

    fits = []
    for parts in (1, 16):
        gen = ARNetGenerator(
            _params(), hidden=8, epochs=40, shards=3, rounds=2
        ).fit(sine_panel.repartition(parts))
        assert weights_digest(gen.weights) == (
            "0d47d179f32a315a5825d127698bd0496200700941f27d46dbec8cd938f6f056"
        )
        fits.append(nn.params_from_lists(gen.weights))
        gen.unpersist()
    for p0, p1 in zip(*fits):
        assert np.array_equal(p0["w"], p1["w"])
        assert np.array_equal(p0["b"], p1["b"])


def test_parameter_averaged_fit_learns_dynamics(sine_panel):
    """The averaged model must actually train: after shards×rounds of
    local steps + weight averaging, one-step-ahead error on the real
    windows is a small fraction of the md5-init model's error."""
    import numpy as np

    from paqarin_spark.generators import nn
    from paqarin_spark.operators.windows import sliding_windows
    from paqarin_spark.operators.resample import parse_timestamps

    gen = ARNetGenerator(
        _params(), hidden=16, epochs=200, shards=3, rounds=4
    ).fit(sine_panel)
    trained = nn.params_from_lists(gen.weights)
    init = nn.init_params(
        [7 * 1, gen.hidden, 1], gen.parameters.seed
    )
    parsed = parse_timestamps(sine_panel, SCHEMA)
    scaled = gen.scaler.transform(parsed)
    wins = sliding_windows(scaled, SCHEMA, 8).limit(200).collect()
    x = np.array(
        [[rec["v"] for rec in r["sequence"][:7]] for r in wins]
    )
    y = np.array([[r["sequence"][7]["v"]] for r in wins])
    assert nn.mse(trained, x, y) < 0.25 * nn.mse(init, x, y)
    gen.unpersist()


def test_arnet_rounds_apply_at_one_shard(sine_panel):
    """``rounds`` splits the epochs into parameter-averaged rounds with
    momentum restarting each round, at any shard count — so with a
    single shard, two rounds train a different model from one."""
    fits = [
        ARNetGenerator(_params(), hidden=8, epochs=40, rounds=r).fit(sine_panel)
        for r in (1, 2)
    ]
    assert fits[0].weights != fits[1].weights
    for gen in fits:
        gen.unpersist()


def test_windowed_providers_reject_schema_without_value_columns(spark):
    """ARNet, GRUNet and GAN share one fit preamble: a schema with no
    value columns is a ValueError before any Spark job runs."""
    from paqarin_spark.generators import GANWindowGenerator, GRUNetGenerator

    schema = TimeSeriesSchema(
        item_id_columns=("item_id",), timestamp_column="ts", value_columns=()
    )
    df = spark.createDataFrame(
        [("e0", dt.datetime(2020, 1, 1))], "item_id string, ts timestamp"
    )
    sc = spark.sparkContext
    sc.setJobGroup("no-value-columns", "windowed providers without values")
    try:
        for cls in (ARNetGenerator, GRUNetGenerator, GANWindowGenerator):
            gen = cls(GeneratorParameters(schema=schema, sequence_length=4))
            with pytest.raises(ValueError, match="no value columns"):
                gen.fit(df)
        assert sc.statusTracker().getJobIdsForGroup("no-value-columns") == []
    finally:
        sc._jsc.clearJobGroup()


def test_average_params_equal_n_shards_are_order_free():
    """Two shards with the SAME example count must still average to
    bit-identical floats in any arrival order (the tie-break is the
    weight content, not the list index)."""
    import numpy as np

    from paqarin_spark.generators import nn

    a = [{"w": np.array([[0.1, 0.2], [0.3, 0.4]]), "b": np.array([0.5, 0.6])}]
    b = [{"w": np.array([[0.7, 0.8], [0.9, 1.0]]), "b": np.array([1.1, 1.2])}]
    c = [{"w": np.array([[1.3, 1.4], [1.5, 1.6]]), "b": np.array([1.7, 1.8])}]
    r1 = nn.average_params([(3, c), (7, a), (7, b)])
    r2 = nn.average_params([(7, b), (3, c), (7, a)])
    assert np.array_equal(r1[0]["w"], r2[0]["w"])
    assert np.array_equal(r1[0]["b"], r2[0]["b"])


# --------------------------------------------------------------- GRUNet


def test_gru_bptt_gradients_match_finite_differences():
    """The BPTT backward pass is exactly the analytic gradient (max
    relative error vs central differences < 1e-5 on a tiny GRU)."""
    import numpy as np

    from paqarin_spark.generators import nn

    seqs = np.array(
        [[[0.1, 0.9], [0.3, 0.2], [0.2, 0.4], [0.5, 0.1]],
         [[0.4, 0.3], [0.1, 0.8], [0.6, 0.2], [0.2, 0.6]]]
    )
    p = nn.init_gru_params(2, 3, 2, 11)
    lr = 1e-3
    p_after = nn.train_gru(
        seqs, hidden=3, epochs=1, lr=lr, seed=11,
        params=nn.gru_params_to_lists(p),
    )
    analytic = {k: (p[k] - p_after[k]) / lr for k in p}
    eps = 1e-6
    for k in p:
        it = np.nditer(p[k], flags=["multi_index"])
        for _ in range(min(p[k].size, 6)):
            idx = it.multi_index
            pp = {kk: vv.copy() for kk, vv in p.items()}
            pp[k][idx] += eps
            lo_p = nn.gru_mse(pp, seqs)
            pp[k][idx] -= 2 * eps
            lo_m = nn.gru_mse(pp, seqs)
            num = (lo_p - lo_m) / (2 * eps)
            ana = analytic[k][idx]
            assert abs(num - ana) <= 1e-5 * max(1.0, abs(num) + abs(ana))
            it.iternext()


def test_gru_step_strict_matches_blas_kernel():
    """gru_step_strict (the SQL-replayable left-fold/libm twin that
    gen13's recursive-CTE oracle mirrors) agrees with the BLAS
    gru_step kernel to <=1e-9 on md5-derived states across multiple
    shapes — the tie that makes the oracled rollout evidence about
    the REAL recurrent sample path, not a parallel implementation."""
    import numpy as np

    from paqarin_spark.generators import nn

    for d_in, hidden, d_out, seed in [(1, 4, 1, 13), (2, 3, 2, 7), (3, 6, 1, 29)]:
        p = nn.init_gru_params(d_in, hidden, d_out, seed)
        x = [2.0 * nn._md5_unit(f"sx#{seed}#{d}") - 1.0 for d in range(d_in)]
        h = [2.0 * nn._md5_unit(f"sh#{seed}#{i}") - 1.0 for i in range(hidden)]
        # drive several chained steps so divergence would compound
        hb = np.array([h])
        hs = list(h)
        for t in range(5):
            yb, hb = nn.gru_step(p, np.array([x]), hb)
            ys, hs = nn.gru_step_strict(p, x, hs)
            assert np.max(np.abs(np.array([ys]) - yb)) <= 1e-9
            assert np.max(np.abs(np.array([hs]) - hb)) <= 1e-9
            x = [float(v) for v in ys[:d_in]] if d_out >= d_in else x


def test_gru_beats_feedforward_on_long_memory_delay_line():
    """The structural claim gen10 exists for: a delay-line task
    (period-5 sequences of md5 bits, so x_{t+1} = x_{t-4}) is EXACTLY
    solvable by a recurrent state but structurally invisible to a
    feedforward head whose window holds only 4 lags — the ARNet/MLP
    core saturates at the task variance while the GRU drives the
    teacher-forced MSE two orders of magnitude below it."""
    import hashlib

    import numpy as np

    from paqarin_spark.generators import nn

    def bit(key):
        return 0.1 + 0.8 * (
            int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % 2
        )

    K, T = 5, 18
    def make_seq(s):
        vals = [bit(f"echo#{K}#{s}#{j}") for j in range(K)]
        return [vals[t % K] for t in range(T)]

    train = np.array([make_seq(s) for s in range(120)])[:, :, None]
    test = np.array([make_seq(s) for s in range(200, 240)])[:, :, None]
    gru = nn.train_gru(train, hidden=16, epochs=800, lr=0.2, seed=17)
    n = test.shape[0]
    h = np.zeros((n, gru["wh"].shape[0]))
    errs = []
    for s in range(T - 1):
        y, h = nn.gru_step(gru, test[:, s, :], h)
        if s + 1 >= K:
            errs.append(float(((y - test[:, s + 1, :]) ** 2).mean()))
    gru_mse = float(np.mean(errs))

    L = K - 1  # feedforward window: 4 lags, one short of the period
    wins = np.array(
        [seq[i : i + L + 1, 0] for seq in train for i in range(T - L - 1)]
    )
    mlp = nn.train_mlp(
        wins[:, :L], wins[:, L:], hidden=16, epochs=400, lr=0.05, seed=17
    )
    twins = np.array(
        [seq[i : i + L + 1, 0] for seq in test for i in range(K - L, T - L - 1)]
    )
    mlp_mse = float(
        ((nn.forward(mlp, twins[:, :L]) - twins[:, L:]) ** 2).mean()
    )
    assert gru_mse < 0.1 * mlp_mse, (gru_mse, mlp_mse)


def test_grunet_lifecycle_and_determinism(sine_panel, tmp_path, weights_digest):
    """fit -> generate -> save -> load -> generate-equal, and two fits
    from the same data produce identical weights (layout-independent,
    the ARNet contract)."""
    from paqarin_spark.generators import GRUNetGenerator

    gen = GRUNetGenerator(_params(), hidden=8, epochs=60).fit(sine_panel)
    out = gen.generate(4, seed=1).orderBy("sequence_id").collect()
    assert len(out) == 4
    assert all(len(r["sequence"]) == 8 for r in out)
    assert all(
        all(s["v"] == s["v"] for s in r["sequence"]) for r in out
    )  # no NaNs
    repartitioned = sine_panel.repartition(7)
    gen2 = GRUNetGenerator(_params(), hidden=8, epochs=60).fit(repartitioned)
    assert gen.weights == gen2.weights
    assert weights_digest(gen.weights) == (
        "7f1ae76f17a4fcda452711a435f62784a73c07007f348949b3ad11ad67adb5a4"
    )
    path = str(tmp_path / "grunet_model")
    gen.save(path)
    with open(f"{path}/generator.json", encoding="utf-8") as fh:
        assert sorted(json.load(fh)) == [
            "epochs", "hidden", "learning_rate", "max_windows", "method",
            "noise", "provider", "provider_options", "schema", "seed",
            "sequence_length", "weights",
        ]
    loaded = GRUNetGenerator.load(sine_panel.sparkSession, path)
    assert loaded.weights == gen.weights
    a = [
        tuple(round(s["v"], 9) for s in r["sequence"])
        for r in out
    ]
    b = [
        tuple(round(s["v"], 9) for s in r["sequence"])
        for r in loaded.generate(4, seed=1).orderBy("sequence_id").collect()
    ]
    assert a == b
    gen.unpersist()
    gen2.unpersist()


def test_grunet_via_adapter_and_tstr_pipeline(sine_panel):
    """gen10's provider slots into the K1/K2 surface beside arnet."""
    from paqarin_spark.adapter import get_generator_adapter
    from paqarin_spark.evaluation import (
        EvaluationPipeline,
        MultivariatePredictiveScorer,
    )

    gens = {
        "grunet": get_generator_adapter("paqarin_spark", "grunet", _params()),
        "bootstrap": get_generator_adapter(
            "paqarin_spark", "bootstrap", _params()
        ),
    }
    scorer = MultivariatePredictiveScorer(
        sequence_length=8, iterations=1, number_of_sequences=20
    )
    pipe = EvaluationPipeline(gens, scorer).fit(sine_panel)
    by_gen = {
        r["generator"]: r["avg_predictive_score"] for r in pipe.training_results
    }
    assert set(by_gen) >= {"grunet", "bootstrap"}
    assert all(v is not None and v == v for v in by_gen.values())
    pipe.unpersist()


def test_mlp_forward_strict_matches_blas_forward():
    """mlp_forward_strict (the SQL-replayable left-fold/libm twin that
    gen14/gen15's oracles mirror) agrees with the BLAS forward — and,
    with sigmoid_out=True, with gan_sample — to <=1e-9 on md5-derived
    inputs across multiple shapes, including a chained AR rollout
    where divergence would compound. The tie that makes the oracled
    replay evidence about the REAL feedforward sample paths."""
    import numpy as np

    from paqarin_spark.generators import nn

    for sizes, seed in [([3, 6, 8], 14), ([7, 4, 1], 15), ([2, 5, 3], 3)]:
        p = nn.init_params(sizes, seed)
        pl = nn.params_to_lists(p)
        x = [2.0 * nn._md5_unit(f"mx#{seed}#{d}") - 1.0 for d in range(sizes[0])]
        blas = nn.forward(p, np.array([x]))[0]
        strict = nn.mlp_forward_strict(pl, x)
        assert np.max(np.abs(np.array(strict) - blas)) <= 1e-9
        sig = nn.gan_sample(p, np.array([x]))[0]
        strict_sig = nn.mlp_forward_strict(pl, x, sigmoid_out=True)
        assert np.max(np.abs(np.array(strict_sig) - sig)) <= 1e-9
    # chained feedback rollout (gen15's shape): 7 -> 1, slide 10 steps
    p = nn.init_params([7, 4, 1], 15)
    pl = nn.params_to_lists(p)
    ctx = [nn._md5_unit(f"mc#{i}") for i in range(7)]
    ctx_b = list(ctx)
    for _ in range(10):
        y = nn.mlp_forward_strict(pl, ctx)[0]
        yb = float(nn.forward(p, np.array([ctx_b]))[0][0])
        assert abs(y - yb) <= 1e-9
        ctx = ctx[1:] + [y]
        ctx_b = ctx_b[1:] + [yb]
