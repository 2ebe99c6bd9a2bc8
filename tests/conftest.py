from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from sparkifydb_datawarehouse_spark.session import get_spark

    spark = get_spark("sparkifydb-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def two_batch_dir(spark, sf_dir, tmp_path_factory) -> str:
    """The events table split into two parquet files in one directory:
    a file-source stream with maxFilesPerTrigger=1 reads it as two
    micro-batches."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("two_batch_src"))
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    half = raw.count() // 2
    raw.filter(F.col("event_id") < half).coalesce(1).write.parquet(os.path.join(d, "a"))
    raw.filter(F.col("event_id") >= half).coalesce(1).write.parquet(os.path.join(d, "b"))
    # flatten: file source watches one dir
    for sub in ("a", "b"):
        for f in os.listdir(os.path.join(d, sub)):
            if f.endswith(".parquet"):
                shutil.move(os.path.join(d, sub, f), os.path.join(d, f"{sub}.parquet"))
        shutil.rmtree(os.path.join(d, sub))
    return d
