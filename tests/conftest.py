from __future__ import annotations

import datetime as dt

import pytest

from paqarin_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session("paqarin-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="session")
def timeseries_df(spark):
    """FIXTURES.md F-1: multi-entity long-format series with a NULL, a
    duplicate (item, ts) key, interior gaps, and sub-daily rows."""
    rows = [
        ("item_1", ts("2020-01-01 01:00:00"), 1.0),
        ("item_1", ts("2020-01-01 13:00:00"), 2.0),  # same day, sums to 3.0
        ("item_1", ts("2020-01-03 00:00:00"), 5.0),  # gap on 01-02
        ("item_2", ts("2020-01-02 00:00:00"), 10.0),
        ("item_2", ts("2020-01-02 00:00:00"), 11.0),  # duplicate key
        ("item_2", ts("2020-01-04 00:00:00"), None),  # NULL value
    ]
    return spark.createDataFrame(rows, "item_id string, timestamp timestamp, value double")


@pytest.fixture(scope="session")
def weights_digest():
    """sha256 of a JSON-able weight state with every float rounded to 9
    decimals: pins a fitted model across refactors without depending
    on the last bit of a BLAS reduction."""
    import hashlib
    import json

    def rounded(o):
        if isinstance(o, float):
            return round(o, 9)
        if isinstance(o, list):
            return [rounded(v) for v in o]
        if isinstance(o, dict):
            return {k: rounded(v) for k, v in o.items()}
        return o

    return lambda w: hashlib.sha256(json.dumps(rounded(w)).encode()).hexdigest()
