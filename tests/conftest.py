from __future__ import annotations

import contextlib
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF = "/root/reference/pdfparse-lib/src/test/resources"
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def ref_bytes(name: str) -> bytes:
    with open(os.path.join(REF, name), "rb") as f:
        return f.read()


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as text (no action runs)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="session")
def spark():
    from pdfspark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8, app_name="pdfspark-tests")
    yield s
    s.stop()
