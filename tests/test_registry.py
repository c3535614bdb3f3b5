"""Query registry and staging-dir contracts, checked without a Spark
session: the declared query order, the derived oracle map, and the
pid-scoped temp staging used by the sink/source round-trip queries."""

from __future__ import annotations

import hashlib
import os
import tempfile

import __spark_entry__ as entrymod
from paqarin_spark.plans import queries as q


def test_query_order_is_pinned():
    """The driver contract depends on the registry ORDER (its query
    windows slice it), so the name sequence is pinned by digest."""
    names = "\n".join(entrymod.queries())
    assert hashlib.sha256(names.encode()).hexdigest() == (
        "fceef87b61f717bc58a2461254f96855b6b814582ed089764ad45f58e00ef41d"
    )


def test_every_query_but_rows_only_has_an_oracle():
    oracles = entrymod.oracle_sql()
    assert set(entrymod.queries()) - set(oracles) == q.ROWS_ONLY
    assert set(oracles) <= set(entrymod.queries())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_staging_dir_lives_under_tempdir_and_sweeps_dead_pids(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    prefix = "paqarin_test_"
    # above Linux's PID_MAX_LIMIT (2**22), so never a live process
    dead = tmp_path / f"{prefix}0123456789_{2**22 + 1}"
    dead.mkdir()
    mine = tmp_path / f"{prefix}9876543210_{os.getpid()}"
    mine.mkdir()

    path = q._staging_dir(prefix, "/data/sf0.001")

    assert os.path.dirname(path) == str(tmp_path)
    assert os.path.basename(path).startswith(prefix)
    assert path.endswith(f"_{os.getpid()}")
    assert path == q._staging_dir(prefix, "/data/sf0.001")
    assert not dead.exists()
    assert mine.exists()


def test_check_oracle_refuses_unknown_query_names():
    """A query name outside the registry fails the gate before any
    Spark session starts, instead of checking nothing and passing."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"),
         tempfile.gettempdir(), "mm1_media_decode", "mm99_no_such_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert done.returncode != 0
    assert "mm99_no_such_query" in done.stdout
    assert "all green" not in done.stdout
