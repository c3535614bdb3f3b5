"""applyInPandas-hosted deep-provider adapter (SURVEY.md §2 ops J1/J2).

Reference surface: the provider adapters translate paqarin parameter
objects into library kwargs and drive train → sample
(`paqarin/adapters/ydata_adapter.py:291-358`,
`paqarin/adapters/synthcity_adapter.py:109-155`,
`paqarin/adapters/sdv_adapter.py:94-119`; contracts pinned by
`tests/test_synthcity_adapter.py:148-157`, `tests/test_ydata_adapter.py:13-45`).

Spark-first hosting: these are single-node model libraries, so the
engine runs train+sample FUSED inside one ``applyInPandas`` stage —
training rows reach the executor as Arrow batches, the provider model
never exists on the driver, and sampled sequences come back as
DataFrame rows in the engine's ``(sequence_id, sequence)`` contract.
With a ``cohort_column`` the same stage trains ONE MODEL PER COHORT in
parallel — the scale move a single-node library cannot make on its
own; without it there is one global model, matching the reference
exactly (its one model sees all rows; so does the single group here).

The provider libraries (TF/torch-backed) are not installable in every
environment, so the executor entry point is a pluggable ``runner``
callable: the default runners import the real libraries by their
published APIs; tests inject a deterministic fake runner (cloudpickle
ships it inside the closure) to pin the translation contract without
the dependency. Dispatch raises the same ImportError as before when
the library is absent.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paqarin_spark.generator import GeneratorParameters, TimeSeriesGenerator

# pip-name / import-name per provider (reference `paqarin/adapter.py:64-97`).
PROVIDER_LIBS: dict[str, tuple[str, str]] = {
    "ydata": ("ydata-synthetic", "ydata_synthetic"),
    "synthcity": ("synthcity", "synthcity"),
    "sdv": ("sdv", "sdv"),
}


# ---------------------------------------------------------------------------
# Parameter translation — field-by-field mirrors of the reference adapters.
# ---------------------------------------------------------------------------


def translate_ydata_timegan(p: GeneratorParameters) -> dict:
    """Mirror of `adapters/ydata_adapter.py:291-322` (train_timegan):
    ModelParameters(batch_size, lr, noise_dim, layers_dim, latent_dim,
    gamma) + TrainParameters(epochs, sequence_length, number_sequences)
    + num_cols. The optional fields are forwarded only when the caller
    provides them, so the provider's own defaults apply otherwise."""
    o = p.provider_options
    model: dict = {
        "batch_size": o["batch_size"],
        "lr": o["learning_rate"],
        "latent_dim": o["latent_dimension"],
        "gamma": o["gamma"],
    }
    if "noise_dimension" in o:
        model["noise_dim"] = o["noise_dimension"]
    if "layers_dimension" in o:
        model["layers_dim"] = o["layers_dimension"]
    train: dict = {
        "epochs": o["epochs"],
        "sequence_length": p.sequence_length,
    }
    if "number_of_sequences" in o:
        train["number_sequences"] = o["number_of_sequences"]
    return {
        "modelname": "timegan",
        "model_parameters": model,
        "train_parameters": train,
        "num_cols": list(p.schema.value_columns),
    }


def translate_ydata_doppleganger(p: GeneratorParameters) -> dict:
    """Mirror of `adapters/ydata_adapter.py:325-358` (train_doppleganger):
    ModelParameters(batch_size, lr, betas, latent_dim, gp_lambda, pac) +
    TrainParameters(epochs, sequence_length, sample_length, rounds,
    measurement_cols) + num/cat cols. Optional fields forward only when
    the caller provides them."""
    o = p.provider_options
    model: dict = {
        "batch_size": o["batch_size"],
        "lr": o["learning_rate"],
        "latent_dim": o["latent_dimension"],
    }
    if "exponential_decay_rates" in o:
        model["betas"] = tuple(o["exponential_decay_rates"])
    if "wgan_weight" in o:
        model["gp_lambda"] = o["wgan_weight"]
    if "packing_degree" in o:
        model["pac"] = o["packing_degree"]
    train: dict = {
        "epochs": o["epochs"],
        "sequence_length": p.sequence_length,
        "sample_length": o["sample_length"],
        "measurement_cols": list(p.schema.value_columns),
    }
    if "steps_per_batch" in o:
        train["rounds"] = o["steps_per_batch"]
    return {
        "modelname": "doppelganger",
        "model_parameters": model,
        "train_parameters": train,
        "num_cols": list(p.schema.value_columns),
        "cat_cols": list(p.schema.attribute_columns),
    }


def translate_synthcity_timegan(p: GeneratorParameters) -> dict:
    """Mirror of `adapters/synthcity_adapter.py:142-151`, pinned by the
    reference's `tests/test_synthcity_adapter.py:148-157`: both learning
    rates get `learning_rate`, both hidden-unit counts get
    `latent_dimension`."""
    o = p.provider_options
    return {
        "plugin": "timegan",
        "n_iter": o["epochs"],
        "batch_size": o["batch_size"],
        "discriminator_lr": o["learning_rate"],
        "generator_lr": o["learning_rate"],
        "gamma_penalty": o["gamma"],
        "generator_n_units_hidden": o["latent_dimension"],
        "discriminator_n_units_hidden": o["latent_dimension"],
    }


def translate_sdv_par(p: GeneratorParameters) -> dict:
    """Mirror of `adapters/sdv_adapter.py:94-119` (train_par):
    PARSynthesizer(epochs, verbose, context_columns=item_id_columns)
    with the timestamp column as sequence index."""
    o = p.provider_options
    return {
        "epochs": o["epochs"],
        "verbose": True,
        "context_columns": list(p.schema.item_id_columns),
        "sequence_index": p.schema.timestamp_column,
        "sample_size": o.get("sample_size", 1),
    }


TRANSLATORS: dict[tuple[str, str], Callable[[GeneratorParameters], dict]] = {
    ("ydata", "timegan"): translate_ydata_timegan,
    ("ydata", "doppleganger"): translate_ydata_doppleganger,
    ("synthcity", "timegan"): translate_synthcity_timegan,
    ("sdv", "par"): translate_sdv_par,
}


# ---------------------------------------------------------------------------
# Default executor-side runners: import the real library, train, sample.
# Signature: runner(pdf, kwargs, n, seed) -> list[pandas.DataFrame], one
# frame per sampled sequence carrying the value columns (the reference's
# generate_sequences list-of-frames contract). The provider libraries
# expose no direct seed kwarg on their train/sample APIs, so each runner
# seeds the process-global RNGs first — the strongest reproducibility
# these stacks offer, and it makes the per-iteration derived seeds the
# scorers pass actually vary the samples.
# ---------------------------------------------------------------------------


def _seed_rngs(seed: int) -> None:
    import random

    import numpy as np

    random.seed(seed)
    np.random.seed(seed % (2**32))
    try:
        import torch

        torch.manual_seed(seed)
    except ImportError:
        pass
    try:
        import tensorflow as tf

        tf.random.set_seed(seed)
    except ImportError:
        pass


def minmax_scale_frame(
    pdf: pd.DataFrame, num_cols: list[str]
) -> tuple[pd.DataFrame, pd.Series, pd.Series]:
    """Min-max scale ``num_cols`` like the reference transformers do
    before fit (`adapters/ydata_adapter.py:45-73,202-239`); returns the
    scaled frame plus the (mins, range) state used to invert. A
    zero-range column keeps scale 1, matching sklearn's MinMaxScaler."""
    mins = pdf[num_cols].min()
    rng = (pdf[num_cols].max() - mins).replace(0.0, 1.0)
    scaled = pdf.copy()
    scaled[num_cols] = (scaled[num_cols] - mins) / rng
    return scaled, mins, rng


def inverse_transform_samples(
    raw, num_cols: list[str], mins: pd.Series, rng: pd.Series
) -> list[pd.DataFrame]:
    """Reference ``inverse_transform`` semantics
    (`adapters/ydata_adapter.py:75-91,241-254`): sampled sequences —
    ndarrays in scaled space (TimeGAN) or DataFrames (DoppleGANger) —
    become named DataFrames with the numeric columns descaled."""
    import numpy as np

    if isinstance(raw, np.ndarray):
        raw = list(raw) if raw.ndim == 3 else [raw]
    frames: list[pd.DataFrame] = []
    for item in raw:
        if isinstance(item, pd.DataFrame):
            frame = item.copy()
        else:
            frame = pd.DataFrame(
                np.asarray(item, dtype="float64"), columns=num_cols
            )
        frame[num_cols] = frame[num_cols] * rng.to_numpy() + mins.to_numpy()
        frames.append(frame)
    return frames


def _ydata_runner(pdf: pd.DataFrame, kwargs: dict, n: int, seed: int) -> list:
    """Train + sample with scaling handled like the reference transformers:
    `TimeGanTransformer`/`DoppleGangerTransformer` min-max scale the numeric
    columns before fit and inverse-transform sampled sequences back
    (`adapters/ydata_adapter.py:45-91,202-264`). TimeGAN's ``sample`` returns
    raw ndarrays in scaled space; they become named DataFrames here, exactly
    what ``inverse_transform`` produces in the reference."""
    from ydata_synthetic.synthesizers import ModelParameters, TrainParameters
    from ydata_synthetic.synthesizers.timeseries import TimeSeriesSynthesizer

    _seed_rngs(seed)

    num_cols = list(kwargs["num_cols"])
    scaled, mins, rng = minmax_scale_frame(pdf, num_cols)

    synthesizer = TimeSeriesSynthesizer(
        modelname=kwargs["modelname"],
        model_parameters=ModelParameters(**kwargs["model_parameters"]),
    )
    fit_extra = {"num_cols": num_cols}
    if kwargs.get("cat_cols"):
        fit_extra["cat_cols"] = kwargs["cat_cols"]
    synthesizer.fit(
        scaled, TrainParameters(**kwargs["train_parameters"]), **fit_extra
    )
    return inverse_transform_samples(synthesizer.sample(n), num_cols, mins, rng)


def _synthcity_runner(pdf: pd.DataFrame, kwargs: dict, n: int, seed: int) -> list:
    from synthcity.plugins import Plugins

    _seed_rngs(seed)
    kwargs = dict(kwargs)
    plugin_name = kwargs.pop("plugin")
    plugin = Plugins().get(plugin_name, **kwargs)
    plugin.fit(pdf)
    frame = plugin.generate(count=n).dataframe()
    return [seq for _, seq in frame.groupby("seq_id")]


def _sdv_runner(pdf: pd.DataFrame, kwargs: dict, n: int, seed: int) -> list:
    from sdv.metadata import SingleTableMetadata
    from sdv.sequential import PARSynthesizer

    _seed_rngs(seed)

    metadata = SingleTableMetadata()
    metadata.detect_from_dataframe(data=pdf)
    metadata.update_column(column_name=kwargs["sequence_index"], sdtype="datetime")
    metadata.set_sequence_index(column_name=kwargs["sequence_index"])
    synthesizer = PARSynthesizer(
        metadata=metadata,
        epochs=kwargs["epochs"],
        verbose=kwargs["verbose"],
        context_columns=kwargs["context_columns"],
    )
    synthesizer.fit(pdf)
    frame = synthesizer.sample(num_sequences=n)
    return [seq for _, seq in frame.groupby(kwargs["context_columns"])]


RUNNERS: dict[str, Callable] = {
    "ydata": _ydata_runner,
    "synthcity": _synthcity_runner,
    "sdv": _sdv_runner,
}


class DeepProviderGenerator(TimeSeriesGenerator):
    """J1/J2: a third-party deep generator hosted at the executor edge.

    ``generate`` is lazy — the returned DataFrame's applyInPandas stage
    trains the provider model and samples from it when acted on. The
    engine's no-pickle persistence rule means deep models are
    train-per-run (the reference pickles transformers to disk,
    `adapters/ydata_adapter.py:255-264` — deliberately not replicated);
    ``save``/``load`` persist parameters only.
    """

    def __init__(
        self,
        parameters: GeneratorParameters,
        provider: str,
        method: str,
        runner: Callable | None = None,
    ):
        super().__init__(parameters)
        self.provider = provider
        self.method = method
        pip_name, import_name = PROVIDER_LIBS[provider]
        if runner is None:
            try:
                importlib.import_module(import_name)
            except ImportError as exc:
                raise ImportError(
                    f"provider {provider!r} method {method!r} requires "
                    f"{pip_name}, which is not installed; use "
                    "provider='paqarin_spark' for the dependency-free "
                    "Spark-native generators"
                ) from exc
            runner = RUNNERS[provider]
        self._runner = runner
        self._training: DataFrame | None = None

    @property
    def is_fitted(self) -> bool:
        return self._training is not None

    def fit(self, training_data: DataFrame) -> "DeepProviderGenerator":
        self._training = training_data
        return self

    def generate(self, number_of_sequences: int, seed: int | None = None) -> DataFrame:
        if self._training is None:
            raise RuntimeError("generator is not fitted")
        seed = self.parameters.seed if seed is None else seed
        params = self.parameters
        value_columns = list(params.schema.value_columns)
        kwargs = TRANSLATORS[(self.provider, self.method)](params)
        runner = self._runner
        n = number_of_sequences

        cohort = params.provider_options.get("cohort_column")
        group_cols = [cohort] if cohort else ["_g"]
        struct_fields = ", ".join(f"{c}: double" for c in value_columns)
        # the cohort column keeps its ACTUAL type from the training
        # frame (hardcoding string would break integer cohort keys)
        cohort_type = (
            self._training.schema[cohort].dataType.simpleString() if cohort else None
        )
        out_cols = (f"{cohort} {cohort_type}, " if cohort else "") + (
            f"sequence_id long, sequence array<struct<{struct_fields}>>"
        )

        # Columns the provider legitimately consumes: everything the
        # schema declares (sdv's context_columns are the item id
        # columns; ydata's cat_cols are the attribute columns). A
        # grouping column OUTSIDE that set — the synthetic _g, or an
        # ad-hoc cohort key — is constant within the group and must
        # not reach fit/metadata detection.
        declared = (
            set(params.schema.item_id_columns)
            | set(params.schema.attribute_columns)
            | set(value_columns)
            | {params.schema.timestamp_column}
        )
        drop_cols = [c for c in group_cols if c not in declared]

        def train_sample(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.drop(columns=[c for c in drop_cols if c in pdf.columns])
            sequences = runner(pdf, kwargs, n, seed)
            rows = []
            for i, frame in enumerate(sequences):
                seq = [
                    {c: float(rec[c]) for c in value_columns}
                    for rec in frame[value_columns].to_dict("records")
                ]
                row = {"sequence_id": i, "sequence": seq}
                if cohort:
                    row[cohort] = key[0]
                rows.append(row)
            return pd.DataFrame(
                rows,
                columns=([cohort] if cohort else []) + ["sequence_id", "sequence"],
            )

        source = (
            self._training
            if cohort
            else self._training.withColumn("_g", F.lit(0))
        )
        return source.groupBy(*group_cols).applyInPandas(
            train_sample, schema=out_cols
        )

    def save(self, path: str) -> None:
        from paqarin_spark.generator import _write_params

        _write_params(
            path,
            self.parameters,
            {"provider": self.provider, "method": self.method},
            spark=self._training.sparkSession if self._training is not None else None,
        )

    @classmethod
    def load(cls, spark, path: str) -> "DeepProviderGenerator":
        """Reconstruct from the persisted parameters. The provider
        model itself is train-per-run by the no-pickle rule, so the
        loaded generator is UNFITTED — call ``fit`` before
        ``generate`` (the reference instead unpickles a transformer +
        provider weights, `adapters/ydata_adapter.py:377-402`)."""
        from paqarin_spark.generator import _read_params

        params, meta = _read_params(path, spark=spark)
        return cls(params, meta["provider"], meta["method"])
