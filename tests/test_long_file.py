"""A long file passes all five stages at a 2g driver.

The file is one ≈199 s clip of two speakers taking 22 alternating 8.2 s
turns, built with perfbench's clip generator, and its host's
voiceprint. ``run_pipeline`` runs on it in a subprocess whose Spark
driver has 2g of memory, as perfbench pins it; every stage table must
come out non-empty. Rematch and host matching once joined each segment
row to its file's whole waveform, and the driver's JVM ran out of heap
in rematch on this file.
"""

import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

from perfbench import corpus
from speech_data_pipeline_spark.plans.pipeline import STAGE_ORDER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_TURNS = 22
TURN_SECONDS = 8.2

PASS = """
import sys

from perfbench.run import decoded
from speech_data_pipeline_spark.plans.pipeline import run_pipeline
from speech_data_pipeline_spark.session import get_spark
from speech_data_pipeline_spark.sources.audio import scan_audio_dir, scan_reference_voiceprints

audio_dir, host_dir, workdir = sys.argv[1:]
spark = get_spark("long-file")
sc = spark.sparkContext
audio = decoded(scan_audio_dir(spark, audio_dir), "audio_id", sc.accumulator(0), sc.accumulator(0.0))
hosts = decoded(
    scan_reference_voiceprints(spark, host_dir), "host_id", sc.accumulator(0), sc.accumulator(0.0)
)
run_pipeline(spark, audio, workdir, hosts=hosts)
spark.stop()
"""


def write_long_clip(root: str) -> tuple[str, str]:
    rng = np.random.default_rng(7)
    host = corpus._voice(rng, corpus.HOST_LEVEL)
    guest = corpus._voice(rng, corpus.GUEST_LEVEL)
    clip = corpus.speech_clip(
        rng, [(host if i % 2 == 0 else guest, TURN_SECONDS) for i in range(N_TURNS)]
    )
    voiceprint = corpus.speech_clip(rng, [(host, corpus.HOST_SECONDS)])
    audio_dir, host_dir = os.path.join(root, "audio"), os.path.join(root, "hosts")
    for d, name, x in ((audio_dir, "long.wav", clip), (host_dir, "host_0.wav", voiceprint)):
        os.makedirs(d)
        with open(os.path.join(d, name), "wb") as f:
            f.write(corpus.wav_bytes(x))
    assert 195 < len(clip) / corpus.SR < 205
    return audio_dir, host_dir


def test_long_two_speaker_file_passes_all_stages_at_a_2g_driver(tmp_path):
    audio_dir, host_dir = write_long_clip(str(tmp_path / "corpus"))
    workdir = str(tmp_path / "stages")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="2g")
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    proc = subprocess.run(
        [sys.executable, "-c", PASS, audio_dir, host_dir, workdir],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = {s: pq.read_table(os.path.join(workdir, s)).num_rows for s in STAGE_ORDER}
    assert all(rows.values()), rows
