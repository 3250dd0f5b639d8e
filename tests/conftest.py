"""Shared Spark session for the test suite.

One session for the whole run (JVM startup is ~10 s); local[8] with 8
shuffle partitions keeps sf0.001-scale work fast while still exercising
multi-partition execution paths.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from monasca_aggregator_spark.session import get_spark

    spark = get_spark("tests", cpus=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


def explain_str(df) -> str:
    """Formatted physical plan as a string (for plan-shape assertions)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()
