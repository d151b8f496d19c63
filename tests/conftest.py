from __future__ import annotations

import contextlib
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_UNIT = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    s = (
        SparkSession.builder.master("local[8]")
        .appName("smart-geocubes-spark-tests")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="sgs_wh_"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def crash_writing():
    """``with crash_writing("lineage"): ...`` kills a store writer at a
    phase boundary: every ``DataFrameWriter.parquet`` call whose target
    lies under a ``lineage/`` (or ``blocks/``, ``events/``) dir raises
    ``RuntimeError("simulated crash")`` before writing anything. The
    original writer is restored when the block exits."""

    @contextlib.contextmanager
    def arm(subdir: str):
        from pyspark.sql.readwriter import DataFrameWriter

        orig = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            if f"{os.sep}{subdir}{os.sep}" in str(path):
                raise RuntimeError("simulated crash")
            return orig(self, path, *args, **kwargs)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(DataFrameWriter, "parquet", parquet)
            yield

    return arm
