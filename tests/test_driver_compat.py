"""Driver-session compatibility: the acceptance driver runs
__spark_entry__ on its OWN SparkSession — no engine conf, no pinned
timezone, default everything. This round's nanos-timestamp breakage
only showed up there, so this test runs the contract in a subprocess
with a deliberately hostile session (non-UTC timezone, no engine
defaults) and checks a timestamp-sensitive query still matches its
DuckDB oracle value-for-value."""

import json
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = str(Path(__file__).resolve().parents[1])

SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as ent

assert len(ent.entry(spark).collect()) > 0
qs, os_ = ent.queries(), ent.oracle_sql()
assert set(qs) == set(os_), "every query needs an oracle"

import duckdb

sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in ("events", "documents", "embeddings"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

for name in ("w1_sessionize_gap", "a10_windowed_means"):
    got = sorted(
        tuple(r) for r in qs[name](spark, sf).collect()
    )
    want = sorted(tuple(r) for r in con.execute(os_[name]).fetchall())
    assert len(got) == len(want), (name, len(got), len(want))
    assert got == want, name
print(json.dumps({"ok": True}))
"""


def test_driver_contract_on_plain_session():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, ROOT],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["ok"]



def _jvm_bytes(size: str) -> int:
    """A JVM memory string (``512m``, ``48g``; bare numbers are MiB)."""
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    size = size.strip().lower()
    if size[-1] in units:
        return int(size[:-1]) * units[size[-1]]
    return int(size) * units["m"]


@pytest.mark.skipif(
    "SPARK_DRIVER_MEMORY" in os.environ,
    reason="SPARK_DRIVER_MEMORY overrides the default heap",
)
def test_default_driver_memory_fits_the_host(spark):
    """The default driver heap fits in physical memory: a local-mode
    driver sized past the host dies on a native-memory commit failure
    under load."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _jvm_bytes(heap) <= physical, (heap, physical)


def test_shuffle_partitions_follow_cpus_set_after_import(monkeypatch):
    """``get_spark`` reads ``SPARK_GRAFT_CPUS`` when it is called, for
    the shuffle partitions as for the master, so a caller that sets it
    after importing the package gets ``local[n]`` with n-way exchanges."""
    from speech_data_pipeline_spark import session

    conf = {}

    class Builder:
        def appName(self, _name):
            return self

        def config(self, key, value):
            conf[key] = value
            return self

        def master(self, value):
            return self.config("master", value)

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _level: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark("t")
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
