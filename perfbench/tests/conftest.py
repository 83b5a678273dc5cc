from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from genai_batch_processor_spark.session import get_spark

    return get_spark("perfbench-tests")
