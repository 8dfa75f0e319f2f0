from __future__ import annotations

import sys
from pathlib import Path

import pytest

# Import the checkout these tests live in, wherever it is.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from setup_harvest_action_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture
def restore_spark_conf(spark):
    """For tests that run ``cli.main`` in-process: its ``get_spark()``
    re-applies the CLI builder's runtime SQL confs to the shared session
    (``shuffle.partitions`` becomes ``SPARK_GRAFT_CPUS``), so snapshot
    the runtime conf and put it back afterwards."""
    before = dict(spark.conf.getAll)
    yield
    after = dict(spark.conf.getAll)
    for key in before.keys() | after.keys():
        if before.get(key) == after.get(key) or not spark.conf.isModifiable(key):
            continue
        if key in before:
            spark.conf.set(key, before[key])
        else:
            spark.conf.unset(key)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
