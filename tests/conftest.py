"""Shared fixtures: one SparkSession per test session + the reference's
canonical fixture shapes (reference: tests/conftest.py) rebuilt as Spark
DataFrames."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from gate_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("gate_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _jvm_alive():
    """Stop the run at the first test that finds the shared JVM dead
    (e.g. killed for memory) instead of failing every later test with
    its own ConnectionRefused. One gateway round trip per test; tests
    that never started Spark skip it."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc._jvm.java.lang.System.currentTimeMillis()
        except (Py4JError, OSError) as e:
            pytest.exit(f"JVM died (OOM?) — stopping the run: {e!r}", returncode=3)


@pytest.fixture(scope="session")
def tiny_df(spark):
    """reference tests/conftest.py:7-17 — 1 partition, 3 rows."""
    pdf = pd.DataFrame(
        {
            "grp": ["A", "A", "A"],
            "string_col": ["cat", "dog", "dog"],
            "int_col": pd.array([0, 1, None], dtype="Int64"),
            "float_col": [0.0, 0.1, 0.2],
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="session")
def tiny_df_2(spark):
    """reference tests/conftest.py:20-30 — renamed partition key."""
    pdf = pd.DataFrame(
        {
            "other_grp": ["A", "A", "A"],
            "string_col": ["cat", "dog", "dog"],
            "int_col": pd.array([0, 1, None], dtype="Int64"),
            "float_col": [0.0, 0.1, 0.2],
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="session")
def small_df(spark):
    """reference tests/conftest.py:33-51 — 5 partitions, 10 rows."""
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "grp": list("AABBCCDDEE"),
            "string_col": ["foo", "bar", "baz"] * 3 + [None],
            "int_col": rng.randint(0, 100, 10),
            "float_col": rng.rand(10),
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="session")
def medium_df(spark):
    """reference tests/conftest.py:54-79 — 30 daily partitions holding
    the SAME drawn data (identical partitions => zero drift score)."""
    rng = np.random.RandomState(42)
    n = 2000
    int_col = rng.randint(0, 10, n)
    float_col = rng.normal(0, 1, n)
    string_col = rng.choice(["A", "B", "C"], n)
    start = dt.datetime(2022, 1, 1)
    frames = [
        pd.DataFrame(
            {
                "date": [start + dt.timedelta(days=p)] * n,
                "int_col": int_col,
                "float_col": float_col,
                "string_col": string_col,
            }
        )
        for p in range(30)
    ]
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


@pytest.fixture(scope="session")
def df_with_drift(spark):
    """reference tests/conftest.py:82-136 — 10 daily partitions, 11
    columns drawn i.i.d. per partition, last partition's
    int/float/string distributions shifted."""
    rng = np.random.RandomState(42)
    n = 2000
    start = dt.datetime(2022, 1, 1)
    frames = []
    for p in range(10):
        drifted = p == 9
        frames.append(
            pd.DataFrame(
                {
                    "date": [start + dt.timedelta(days=p)] * n,
                    "int_col": rng.randint(10, 20, n) if drifted else rng.randint(0, 10, n),
                    "float_col": rng.normal(1, 2, n) if drifted else rng.normal(0, 1, n),
                    "string_col": rng.choice(["D", "B", "C"] if drifted else ["A", "B", "C"], n),
                    "int_col_2": rng.randint(10, 20, n),
                    "float_col_2": rng.normal(1, 2, n),
                    "float_col_3": rng.normal(1, 2, n),
                    "float_col_4": rng.normal(1, 2, n),
                    "string_col_2": rng.choice(["D", "B", "C"], n),
                    "string_col_3": rng.choice(["E", "B", "C"], n),
                    "string_col_4": rng.choice(["F", "B", "C"], n),
                }
            )
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="session")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")
