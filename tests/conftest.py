import os
import sys
from pathlib import Path

import pytest

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from PYTHONPATH, not from
# this process's sys.path, so the suite runs from any working directory.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
)


@pytest.fixture(scope="session")
def spark():
    from speech_data_pipeline_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4, extra_conf={"spark.ui.enabled": "false"})
    yield s


def rows(df, *cols):
    """Collect to a sorted list of plain tuples for golden comparison."""
    if cols:
        df = df.select(*cols)
    out = [tuple(r) for r in df.collect()]
    return sorted(out)
