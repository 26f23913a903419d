"""Write the golden stage tables: the five tables of one cold
``plans.pipeline.run_pipeline`` pass over perfbench's seeded clips
corpus (``perfbench/corpus.write_clips``), one JSON object per row.

    python tools/golden_tables.py [--seed 1] [--out DIR]

The default ``--out`` is ``tests/golden/clips_seed<seed>/``, one
``<stage>.jsonl`` per stage with its lines sorted, so the files read as
multisets and diff line by line. ``tests/test_run_pipeline.py``
compares passes against them exactly. A change that alters a stage
table on purpose regenerates them with this command and says why.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def table_lines(workdir: str, stage: str) -> list[str]:
    """Stage table ``workdir/stage`` as sorted JSON lines. ``json``
    writes floats with ``repr``, so every bit of a double survives."""
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(workdir, stage)).to_pylist()
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    out = args.out or os.path.join(ROOT, "tests", "golden", f"clips_seed{args.seed}")

    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package from PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from perfbench import corpus
    from perfbench.run import decoded
    from speech_data_pipeline_spark.plans.pipeline import STAGE_ORDER, run_pipeline
    from speech_data_pipeline_spark.session import get_spark
    from speech_data_pipeline_spark.sources.audio import (
        scan_audio_dir,
        scan_reference_voiceprints,
    )

    spark = get_spark("golden-tables")
    sc = spark.sparkContext
    try:
        with tempfile.TemporaryDirectory() as tmp:
            audio_dir, host_dir, _ = corpus.write_clips(os.path.join(tmp, "corpus"), args.seed)
            audio = decoded(
                scan_audio_dir(spark, audio_dir), "audio_id", sc.accumulator(0), sc.accumulator(0.0)
            )
            hosts = decoded(
                scan_reference_voiceprints(spark, host_dir), "host_id",
                sc.accumulator(0), sc.accumulator(0.0),
            )
            workdir = os.path.join(tmp, "stages")
            run_pipeline(spark, audio, workdir, hosts=hosts)
            os.makedirs(out, exist_ok=True)
            for stage in STAGE_ORDER:
                lines = table_lines(workdir, stage)
                with open(os.path.join(out, f"{stage}.jsonl"), "w") as f:
                    f.writelines(line + "\n" for line in lines)
                print(f"{stage}: {len(lines)} rows")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
