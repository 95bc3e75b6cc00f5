"""Shared fixtures: one session-scoped SparkSession and deterministic
synthetic fixtures (FIXTURES.md §1/§3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cesium_spark.session import get_spark
from cesium_spark.sources.synth import generate_transcripts_pandas


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cesium_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_transcripts_pdf() -> pd.DataFrame:
    """50 deterministic conversations (FIXTURES.md 'tiny')."""
    return generate_transcripts_pandas(50, seed=42)


@pytest.fixture(scope="session")
def tiny_transcripts(spark, tiny_transcripts_pdf):
    return spark.createDataFrame(tiny_transcripts_pdf).cache()


# --- cesium-style signal fixtures (FIXTURES.md §3) -------------------------

@pytest.fixture(scope="session")
def white_noise_irregular():
    rng = np.random.default_rng(0)
    t = np.sort(rng.uniform(0, 10, 50))
    m = rng.normal(0, 1, 50)
    e = np.full(50, 1e-4)
    return t, m, e


@pytest.fixture(scope="session")
def regular_periodic():
    t = np.linspace(0, 2, 501)
    f = 5.3
    m = (1.0 * np.sin(2 * np.pi * f * t)
         + 0.4 * np.sin(2 * np.pi * 2 * f * t + 0.1)
         + 0.2 * np.sin(2 * np.pi * 3 * f * t + 0.1))
    e = np.full(t.size, 1e-4)
    return t, m, e, f


@pytest.fixture(scope="session")
def irregular_periodic():
    rng = np.random.default_rng(1)
    t = np.sort(rng.uniform(0, 2, 300))
    f = 5.3
    m = (1.0 * np.sin(2 * np.pi * f * t)
         + 0.4 * np.sin(2 * np.pi * 2 * f * t + 0.1))
    e = np.full(t.size, 1e-4)
    return t, m, e, f
