from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from astro_spark import get_session

    spark = get_session("astro-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _no_stranded_streams(request):
    """Fail any test that uses ``spark`` and leaves a streaming query
    running; the stranded queries are stopped so later tests start
    clean."""
    spark = request.getfixturevalue("spark") if "spark" in request.fixturenames else None
    yield
    if spark is None:
        return
    stranded = spark.streams.active
    for q in stranded:
        q.stop()
    assert stranded == [], f"test left {len(stranded)} active stream(s): {[q.name for q in stranded]}"
