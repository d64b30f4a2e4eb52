"""``SPARK_GRAFT_CPUS`` parsing: one parser for the session and the bench."""

from __future__ import annotations

import os

import pytest

from hbase_tohdfs_spark.session import graft_cpus


@pytest.mark.parametrize(
    "raw, expected",
    [
        ("4", 4),
        ("*", os.cpu_count()),
        (None, os.cpu_count()),
        ("x", None),
        ("", None),
        ("0", None),
    ],
)
def test_graft_cpus(monkeypatch, raw, expected):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    if expected is None:
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            graft_cpus()
    else:
        assert graft_cpus() == expected
