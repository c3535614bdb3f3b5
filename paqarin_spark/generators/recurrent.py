"""GRUNetGenerator — the RECURRENT executing provider (J1/J2): a
gated recurrent unit trained and sampled end-to-end in this
environment with pure numpy (generators/nn.py GRU core), zero
TF/torch.

This occupies the sequence-model seam of the reference's recurrent
providers — TimeGAN's GRU-stacked generator/supervisor
(`paqarin/adapters/ydata_adapter.py:291-322`) and SDV-PAR's
autoregressive RNN (`sdv_adapter.py:94-119`) — with a model CLASS the
repo's feedforward heads (ARNet MLP, Ridge/GBT forecasters) cannot
imitate: a persistent hidden state that is warmed on the context and
carried across the entire rollout, trained by teacher-forced
full-batch BPTT over every step of every window (not just the last
step, which is all ARNet's flattened MLP sees).

Placement and determinism are the shared windowed lifecycle
(generators/windowed.py): md5 Glorot init, SORTED batch, full-batch
gradients, fixed epochs — weights are a pure function of (data,
seed), layout-independent (tests/test_neural.py pins this and the
long-memory win over ARNet).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame

from paqarin_spark.generator import GeneratorParameters
from paqarin_spark.generators import nn
from paqarin_spark.generators.windowed import (
    _add_noise,
    _window_array,
    _WindowedGenerator,
)


class GRUNetGenerator(_WindowedGenerator):
    method = "grunet"

    def __init__(
        self,
        parameters: GeneratorParameters,
        hidden: int = 12,
        epochs: int = 150,
        learning_rate: float = 0.08,
        max_windows: int = 512,
        noise: float = 0.0,
    ):
        super().__init__(parameters, max_windows)
        self.hidden = int(hidden)
        self.epochs = int(epochs)
        self.learning_rate = float(learning_rate)
        self.noise = float(noise)

    def fit(self, training_data: DataFrame) -> "GRUNetGenerator":
        if self.parameters.sequence_length < 2:
            raise ValueError("sequence_length must be >= 2 for BPTT")
        return super().fit(training_data)

    def _train_body(self, cols, L):
        hidden, epochs, lr = self.hidden, self.epochs, self.learning_rate
        seed = self.parameters.seed

        def body(pdf):
            params = nn.train_gru(
                _window_array(pdf, cols), hidden=hidden, epochs=epochs, lr=lr, seed=seed
            )
            return nn.gru_params_to_lists(params)

        return body

    def _rollout_body(self, n_cols, L, seed):
        weights_json, noise, method = json.dumps(self.weights), self.noise, self.method

        def make():
            params = nn.gru_params_from_lists(json.loads(weights_json))

            def sequence(sid, ctx):
                # warm the hidden state on the context window
                # (teacher-forced), then free-run L steps — the state
                # carries through the WHOLE rollout, the recurrent
                # capability this class exists for
                h = np.zeros((1, params["wh"].shape[0]))
                y = None
                for row in ctx:
                    y, h = nn.gru_step(params, np.array([row], dtype=np.float64), h)
                gen = []
                for step in range(L):
                    pred = y[0].copy()
                    _add_noise(pred, noise, method, sid, step, seed)
                    gen.append([float(v) for v in pred])
                    y, h = nn.gru_step(params, np.array([gen[-1]], dtype=np.float64), h)
                return gen

            return sequence

        return make
