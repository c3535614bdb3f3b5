"""ARNetGenerator — an EXECUTING neural provider (J1/J2) with zero
TF/torch: a one-hidden-layer autoregressive MLP, trained and sampled
end-to-end in this environment with pure numpy (generators/nn.py).

Where DeepProviderGenerator carries the reference providers'
parameter-translation contracts but cannot run them here (TimeGAN /
DoppleGANger / PAR need TF or torch —
`paqarin/adapters/ydata_adapter.py:291-358`,
`synthcity_adapter.py:109-155`), ARNet occupies the SAME lifecycle
(generators/windowed.py states it, with the placement and determinism
contract) with a model that genuinely fits: nonlinear (tanh hidden
layer), trained by full-batch gradient descent for a fixed epoch
count, reproducible on any cluster layout.

Training is parameter-averaged (local SGD / FedAvg): the window sample
is sharded by a CONTENT hash of the window key (not partition layout),
each shard trains locally from the current global weights for
``epochs // rounds`` full-batch steps (momentum restarts each round),
the shard weights are averaged by example count, and this repeats for
``rounds`` rounds — at any shard count, including the default single
shard. Per round the driver sees ≤ ``shards`` weight rows (never
window data) — the communication pattern that trains one model across
a 1000-executor cluster when the window population no longer fits one
Arrow batch. The reference trains its providers single-node on one
host (ydata_adapter.py:291-358); this is the cluster-shaped
counterpart for the in-env numpy model.
"""

from __future__ import annotations

import functools
import json

import numpy as np

from paqarin_spark.generator import GeneratorParameters
from paqarin_spark.generators import nn
from paqarin_spark.generators.windowed import (
    _add_noise,
    _window_array,
    _WindowedGenerator,
)


def _local_train(pdf, cols, hidden, epochs, lr, seed, start):
    """One shard's local steps from the round's global weights."""
    seqs = _window_array(pdf, cols)
    L = seqs.shape[1]
    x = seqs[:, : L - 1, :].reshape(len(seqs), -1)
    trained = nn.train_mlp(
        x, seqs[:, L - 1, :], hidden=hidden, epochs=epochs, lr=lr, seed=seed,
        params=json.loads(start),
    )
    return nn.params_to_lists(trained)


class ARNetGenerator(_WindowedGenerator):
    method = "arnet"

    def __init__(
        self,
        parameters: GeneratorParameters,
        hidden: int = 16,
        epochs: int = 200,
        learning_rate: float = 0.05,
        max_windows: int = 512,
        noise: float = 0.0,
        shards: int = 1,
        rounds: int = 1,
    ):
        super().__init__(parameters, max_windows)
        self.hidden = int(hidden)
        self.epochs = int(epochs)
        self.learning_rate = float(learning_rate)
        self.noise = float(noise)
        if int(shards) < 1 or int(rounds) < 1:
            raise ValueError("shards and rounds must be >= 1")
        self.shards = int(shards)
        self.rounds = int(rounds)

    def _train(self, sample, cols, L):
        seed = self.parameters.seed
        params = nn.init_params([(L - 1) * len(cols), self.hidden, len(cols)], seed)
        body = functools.partial(
            _local_train,
            cols=cols,
            hidden=self.hidden,
            epochs=max(1, self.epochs // self.rounds),
            lr=self.learning_rate,
            seed=seed,
        )
        for _ in range(self.rounds):
            start = json.dumps(nn.params_to_lists(params))
            shards = self._train_lane(
                sample, functools.partial(body, start=start), self.shards
            )
            params = nn.average_params(
                [(n, nn.params_from_lists(w)) for n, w in shards]
            )
        return nn.params_to_lists(params)

    def _rollout_body(self, n_cols, L, seed):
        weights_json, noise, method = json.dumps(self.weights), self.noise, self.method

        def make():
            params = nn.params_from_lists(json.loads(weights_json))

            def sequence(sid, ctx):
                gen = []
                for step in range(L):
                    x = np.array([v for row in ctx for v in row], dtype=np.float64)
                    pred = nn.forward(params, x[None, :])[0]
                    _add_noise(pred, noise, method, sid, step, seed)
                    gen.append([float(v) for v in pred])
                    ctx = ctx[1:] + [gen[-1]]
                return gen

            return sequence

        return make
