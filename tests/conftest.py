import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


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
