"""EngineConfig tests: env parsing, validation messages, and the
single-boundary rule (no engine module reads tuning env vars outside
config.py / session.py / bench.py)."""

from __future__ import annotations

import os
import subprocess

import pytest

from polybot_data_etl_spark.config import EngineConfig


def test_defaults_and_master():
    c = EngineConfig.from_env({})
    assert c.sf_dir == "/root/testdata/sf0.1"
    assert c.master == "local[*]"
    assert EngineConfig.from_env({"SPARK_GRAFT_CPUS": "8"}).master == "local[8]"


def test_invalid_values_name_the_variable():
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        EngineConfig.from_env({"SPARK_GRAFT_CPUS": "eight"})
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        EngineConfig.from_env({"SPARK_GRAFT_CPUS": "-4"})
    with pytest.raises(ValueError, match="SPARK_GRAFT_SF_DIR"):
        EngineConfig.from_env({"SPARK_GRAFT_SF_DIR": "/no/such/dir"})


def test_env_reads_confined_to_config_boundary():
    """Tuning env vars may be read only at the config/session/bench
    boundary — an operator that consults os.environ hides a deployment
    knob from the typed config surface."""
    pkg = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    out = subprocess.run(
        [
            "grep", "-rln", "--include=*.py", "SPARK_GRAFT",
            os.path.join(pkg, "polybot_data_etl_spark"),
        ],
        capture_output=True,
        text=True,
    ).stdout.splitlines()
    allowed = {"config.py", "session.py"}
    assert all(os.path.basename(p) in allowed for p in out), out


def test_build_session_master_from_engine_config(spark, monkeypatch):
    """build_session takes its default master from EngineConfig, so a
    malformed SPARK_GRAFT_CPUS raises the named ValueError instead of
    reaching Spark as ``local[eight]``; a SPARK_GRAFT_SF_DIR naming no
    directory does not make it fail."""
    from polybot_data_etl_spark.session import build_session

    for bad in ("eight", "-4"):
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_CPUS", bad)
            with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
                build_session()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/no/such/dir")
    # same app name and partitions as the fixture: getOrCreate re-applies
    # only runtime settings, all equal to the fixture's
    s = build_session(app_name="polyspark-tests", shuffle_partitions=8)
    assert s.sparkContext.applicationId == spark.sparkContext.applicationId
