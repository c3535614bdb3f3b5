"""GANWindowGenerator — the ADVERSARIALLY-TRAINED executing provider
(the TimeGAN generator/discriminator seam,
`paqarin/adapters/ydata_adapter.py:291-322`). These tests prove the
structural claims the class exists for: joint two-player training
whose discriminator loss descends without the game collapsing, mode
COVERAGE a regression head provably cannot produce (an MSE objective
with no noise↔sample correspondence collapses to the mean), plus the
standard provider lifecycle (fit → generate → save → load →
generate-equal, layout-independent fits) and the K1/K2 adapter/TSTR
integration."""

from __future__ import annotations

import datetime as dt
import json
import math

import pytest

from paqarin_spark.generator import GeneratorParameters
from paqarin_spark.schema import TimeSeriesSchema

SCHEMA = TimeSeriesSchema(
    item_id_columns=("item_id",),
    timestamp_column="ts",
    value_columns=("v",),
    frequency="D",
)


@pytest.fixture(scope="module")
def sine_panel(spark):
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


def _bimodal(n=64, L=6):
    import numpy as np

    return np.array([[0.9] * L if i % 2 else [0.1] * L for i in range(n)])


def test_gan_covers_modes_an_mse_head_must_average():
    """THE adversarial claim: on a bimodal window population the GAN
    puts mass near BOTH modes, while the best an MSE-trained
    noise→window head can do — when the pairing carries no
    information, which is the honest unconditional-generation setting
    — is the mean. The MSE baseline rotates its pairing every epoch
    (deterministically), so it cannot memorize noise↔window
    correspondences; it converges to ≈0.5 everywhere."""
    import numpy as np

    from paqarin_spark.generators import nn

    real = _bimodal()
    g, _, _ = nn.train_gan(real, nz=3, epochs=1500, seed=5)
    z = nn.gan_noise(400, 3, 99, "probe")
    samp = nn.gan_sample(g, z)
    near_hi = float((np.abs(samp - 0.9) < 0.1).mean())
    near_lo = float((np.abs(samp - 0.1) < 0.1).mean())
    assert near_hi > 0.3, near_hi
    assert near_lo > 0.3, near_lo

    zt = nn.gan_noise(len(real), 3, 5, "mse")
    mse_params = None
    for ep in range(400):
        mse_params = nn.train_mlp(
            zt,
            np.roll(real, ep, axis=0),
            hidden=16,
            epochs=1,
            lr=0.1,
            seed=5,
            params=mse_params,
        )
    pred = nn.forward(mse_params, z)
    assert float((np.abs(pred - 0.5) < 0.25).mean()) > 0.95, (
        pred.min(),
        pred.max(),
    )
    assert float((np.abs(pred - 0.9) < 0.1).mean()) < 0.05
    assert float((np.abs(pred - 0.1) < 0.1).mean()) < 0.05


def test_gan_discriminator_loss_descends_without_collapse():
    """The two-player dynamic is real: D's loss descends from its
    init value (it learned to separate) but ends OFF zero (the
    smoothing/no-momentum choices keep the game alive — a D loss at 0
    is the collapse mode the first prototypes hit)."""
    from paqarin_spark.generators import nn

    _, _, losses = nn.train_gan(_bimodal(), nz=3, epochs=1500, seed=5)
    assert losses[-1] < losses[0], (losses[0], losses[-1])
    assert losses[-1] > 0.4, losses[-1]


def test_gan_lifecycle_and_determinism(sine_panel, tmp_path, weights_digest):
    """fit → generate → save → load → generate-equal, and two fits
    from different layouts produce identical weights (the
    ARNet/GRUNet layout-independence contract)."""
    from paqarin_spark.generators import GANWindowGenerator

    gen = GANWindowGenerator(_params(), epochs=300).fit(sine_panel)
    out = gen.generate(4, seed=1).orderBy("sequence_id").collect()
    assert len(out) == 4
    assert all(len(r["sequence"]) == 8 for r in out)
    assert all(
        all(
            s["v"] == s["v"] and -1.5 <= s["v"] <= 1.5
            for s in r["sequence"]
        )
        for r in out
    )
    gen2 = GANWindowGenerator(_params(), epochs=300).fit(
        sine_panel.repartition(7)
    )
    assert gen.weights == gen2.weights
    assert weights_digest(gen.weights) == (
        "49e885569951cbba78c6fd99723f2c660dff567adbc0de6036c5a24d8d2c0db5"
    )
    path = str(tmp_path / "gan_model")
    gen.save(path)
    with open(f"{path}/generator.json", encoding="utf-8") as fh:
        assert sorted(json.load(fh)) == [
            "epochs", "hidden_d", "hidden_g", "lr_d", "lr_g", "max_windows",
            "method", "noise_dim", "provider", "provider_options", "schema",
            "seed", "sequence_length", "weights",
        ]
    loaded = GANWindowGenerator.load(sine_panel.sparkSession, path)
    assert loaded.weights == gen.weights
    a = [
        tuple(round(s["v"], 9) for s in r["sequence"]) for r in out
    ]
    b = [
        tuple(round(s["v"], 9) for s in r["sequence"])
        for r in loaded.generate(4, seed=1).orderBy("sequence_id").collect()
    ]
    assert a == b


# generator.json and scaler.json of a 3-epoch GAN (noise_dim=1,
# hidden_g=2, hidden_d=1, sequence_length=2, seed=4) as the
# per-provider save() wrote them before the windowed base existed
_SIDECAR_GENERATOR_JSON = (
    '{"schema": {"item_id_columns": ["item_id"], '
    '"timestamp_column": "ts", "value_columns": ["v"], '
    '"attribute_columns": [], "frequency": "D", "date_format": null, '
    '"order_columns": []}, "sequence_length": 2, "seed": 4, '
    '"provider_options": {}, "provider": "paqarin_spark", '
    '"method": "gan", "noise_dim": 1, "hidden_g": 2, "hidden_d": 1, '
    '"epochs": 3, "lr_g": 1.0, "lr_d": 0.5, "max_windows": 256, '
    '"weights": {"g": [{"w": [[-0.3418550341388047, '
    '0.7127054804659142]], "b": [0.019143897888499947, '
    '0.020557725803293514]}, {"w": [[0.6247902765498968, '
    '0.37970522102099846], [0.6852049875295644, 0.757660655372139]], '
    '"b": [0.02803604672743772, 0.006274087368514301]}], '
    '"d": [{"w": [[0.5799919668831146], [0.12730665000626]], '
    '"b": [-0.02485716957040747]}, {"w": [[0.12449483528492764]], '
    '"b": [-0.14581438870039723]}], '
    '"d_loss_first": 1.3883279053647466, '
    '"d_loss_last": 1.3883033506919396}}'
)
_SIDECAR_SCALER_JSON = '{"v": [-0.9749279121818248, 0.9749279121818255]}'


def test_gan_loads_sidecar_in_earlier_layout(spark, tmp_path):
    """A model saved in the earlier per-provider layout loads with its
    stored hyperparameters and weights and samples the same values."""
    from paqarin_spark.generators import GANWindowGenerator

    (tmp_path / "generator.json").write_text(_SIDECAR_GENERATOR_JSON)
    (tmp_path / "scaler.json").write_text(_SIDECAR_SCALER_JSON)
    gen = GANWindowGenerator.load(spark, str(tmp_path))
    assert gen.is_fitted
    assert (gen.noise_dim, gen.hidden_g, gen.hidden_d, gen.epochs) == (1, 2, 1, 3)
    assert (gen.lr_g, gen.lr_d, gen.max_windows) == (1.0, 0.5, 256)
    assert gen.weights == json.loads(_SIDECAR_GENERATOR_JSON)["weights"]
    out = gen.generate(2, seed=1).orderBy("sequence_id").collect()
    assert [[round(s["v"], 9) for s in r["sequence"]] for r in out] == [
        [-0.065638599, -0.126604113],
        [0.06049398, 0.065511699],
    ]
    gen.save(str(tmp_path / "resaved"))
    resaved = (tmp_path / "resaved" / "generator.json").read_text()
    assert resaved == _SIDECAR_GENERATOR_JSON


def test_gan_via_adapter_and_tstr_pipeline(sine_panel):
    """gen12's provider slots into the K1/K2 surface beside the
    regression-fit providers — the TSTR predictive scorer runs on its
    samples end-to-end."""
    from paqarin_spark.adapter import get_generator_adapter
    from paqarin_spark.evaluation import (
        EvaluationPipeline,
        MultivariatePredictiveScorer,
    )

    gens = {
        "gan": get_generator_adapter("paqarin_spark", "gan", _params()),
        "bootstrap": get_generator_adapter(
            "paqarin_spark", "bootstrap", _params()
        ),
    }
    scorer = MultivariatePredictiveScorer(
        sequence_length=8, iterations=1, number_of_sequences=20
    )
    pipe = EvaluationPipeline(gens, scorer).fit(sine_panel)
    by_gen = {
        r["generator"]: r["avg_predictive_score"]
        for r in pipe.training_results
    }
    assert set(by_gen) >= {"gan", "bootstrap"}
    assert all(v is not None and v == v for v in by_gen.values())
    pipe.unpersist()
