"""GANWindowGenerator — the ADVERSARIALLY-TRAINED executing provider
(J1/J2): a generator/discriminator pair trained jointly in this
environment with pure numpy (generators/nn.py GAN core), zero
TF/torch.

This occupies the adversarial seam of the reference's deep providers —
TimeGAN's jointly-trained generator + discriminator
(`paqarin/adapters/ydata_adapter.py:291-322`) — the one training
OBJECTIVE none of the other executing providers has: every other
in-env generator fits by regression or closed form (ARNet/GRU minimize
MSE against teacher-forced targets; copula/bootstrap are closed-form),
while this one trains against a LEARNED adversary with no paired
targets at all, which is what lets it commit to modes instead of
averaging them (pinned by tests: on a bimodal window population the
GAN covers both modes while an MSE head trained on the same
noise→window task collapses to the mean).

Placement and determinism are the shared windowed lifecycle
(generators/windowed.py), plus md5 noise keyed (seed, epoch, i, j)
and full-batch alternating steps. Sampling is UNCONDITIONAL
(z → window), so generate() needs no start pool — the whole rollout
is one embarrassingly parallel mapInPandas pass over a range of ids.
"""

from __future__ import annotations

import json

import numpy as np

from paqarin_spark.generator import GeneratorParameters
from paqarin_spark.generators import nn
from paqarin_spark.generators.windowed import _window_array, _WindowedGenerator


class GANWindowGenerator(_WindowedGenerator):
    method = "gan"
    keeps_starts = False

    def __init__(
        self,
        parameters: GeneratorParameters,
        noise_dim: int = 3,
        hidden_g: int = 16,
        hidden_d: int = 8,
        epochs: int = 1500,
        lr_g: float = 1.0,
        lr_d: float = 0.5,
        max_windows: int = 256,
    ):
        super().__init__(parameters, max_windows)
        self.noise_dim = int(noise_dim)
        self.hidden_g = int(hidden_g)
        self.hidden_d = int(hidden_d)
        self.epochs = int(epochs)
        self.lr_g = float(lr_g)
        self.lr_d = float(lr_d)

    def _train_body(self, cols, L):
        nz, hg, hd = self.noise_dim, self.hidden_g, self.hidden_d
        epochs, lr_g, lr_d = self.epochs, self.lr_g, self.lr_d
        seed = self.parameters.seed

        def body(pdf):
            seqs = _window_array(pdf, cols)
            g, d, losses = nn.train_gan(
                seqs.reshape(seqs.shape[0], -1),
                nz=nz,
                hidden_g=hg,
                hidden_d=hd,
                epochs=epochs,
                lr_g=lr_g,
                lr_d=lr_d,
                seed=seed,
            )
            return {
                "g": nn.params_to_lists(g),
                "d": nn.params_to_lists(d),
                "d_loss_first": losses[0],
                "d_loss_last": losses[-1],
            }

        return body

    def _rollout_body(self, n_cols, L, seed):
        g_json, nz = json.dumps(self.weights["g"]), self.noise_dim

        def make():
            g = nn.params_from_lists(json.loads(g_json))

            def sequence(sid, ctx):
                z = [
                    2.0 * nn._md5_unit(f"gan-gen#{seed}#{sid}#{j}") - 1.0
                    for j in range(nz)
                ]
                win = nn.gan_sample(g, np.array([z], dtype=np.float64))[0]
                return win.reshape(L, n_cols).tolist()

            return sequence

        return make
