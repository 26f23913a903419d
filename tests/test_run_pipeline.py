"""``run_pipeline`` end to end over perfbench's seeded clips corpus
(seeds 1-3): a cold pass writes exactly the golden stage tables under
``tests/golden/clips_seed<seed>/`` (``tools/golden_tables.py``), at any
shuffle partition count and Arrow batch size, and a rerun with nothing
new leaves every table as it was, as does a pass over four files
followed by a pass after the other two are added. Equality is exact, as
multisets of rows, with no tolerance. A pass decodes each file once, and
leaves nothing it persisted in the session's cache, whether it returns
or raises. Each stage runs its Spark jobs in the job group
``pipeline:<stage>``; a cold pass stays under a per-stage job ceiling,
and a rerun with nothing new only reads each stage table's ok keys.
"""

import os
import shutil

import pandas as pd
import pytest
from pyspark import StorageLevel

from speech_data_pipeline_spark.plans.pipeline import STAGE_ORDER, run_pipeline
from speech_data_pipeline_spark.sources.audio import (
    scan_audio_dir,
    scan_reference_voiceprints,
)
from tools.golden_tables import table_lines

SEED = 1
GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
#: Most Spark jobs each stage may launch in a cold pass over the corpus
#: (52 in all while each stage anti-joined the decoded audio, probed it
#: with ``isEmpty()`` and ran its shared sub-plans once per branch; 28
#: while rematch and host matching joined each segment to its file's
#: whole waveform, and host matching ran its rules as Spark windows).
COLD_JOB_CEILINGS = {"vad": 3, "separation": 4, "diarization": 3, "rematch": 4, "host_match": 6}
#: A stage with nothing pending reads the keys of its ``ok`` rows, in
#: one job; the table it returns reads its schema from a parquet footer.
NOOP_JOBS_PER_STAGE = 1
CALLER_GROUP = "caller"


def decoded(df, id_col, files):
    """Decode glue: ``(id, content)`` WAV rows -> ``(id, samples, sr)``,
    adding the number of files decoded to accumulator ``files``."""
    from speech_data_pipeline_spark.operators.multimodal import decode_wav_bytes

    def kernel(batches):
        for pdf in batches:
            dec = [decode_wav_bytes(b) for b in pdf["content"]]
            files.add(len(dec))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "samples": [d[0] for d in dec], "sr": [d[1] for d in dec]}
            )

    return df.select(id_col, "content").mapInPandas(
        kernel, f"{id_col} string, samples array<double>, sr int"
    )


def write_clips(tmp_path_factory, seed):
    from perfbench import corpus

    return corpus.write_clips(str(tmp_path_factory.mktemp(f"clips{seed}")), seed)


@pytest.fixture(scope="module")
def clips(tmp_path_factory):
    return write_clips(tmp_path_factory, SEED)


def inputs(spark, clips, files):
    sc = spark.sparkContext
    audio = decoded(scan_audio_dir(spark, clips[0]), "audio_id", files)
    hosts = decoded(scan_reference_voiceprints(spark, clips[1]), "host_id", sc.accumulator(0))
    return audio, hosts


def persisted_rdds(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def assert_nothing_left_cached(spark, frames, n_rdds):
    assert all(df.storageLevel == StorageLevel.NONE for df in frames)
    assert persisted_rdds(spark) == n_rdds


def stage_jobs(spark):
    tracker = spark.sparkContext.statusTracker()
    return {s: set(tracker.getJobIdsForGroup(f"pipeline:{s}")) for s in STAGE_ORDER}


def run(spark, clips, workdir):
    """One ``run_pipeline`` call over ``clips`` into ``workdir``, from a
    caller in job group ``CALLER_GROUP``; returns the number of corpus
    files the glue decoded and the number of jobs each stage launched.
    Checks that the call leaves nothing cached and restores the
    caller's job group."""
    sc = spark.sparkContext
    files = sc.accumulator(0)
    audio, hosts = inputs(spark, clips, files)
    n_rdds = persisted_rdds(spark)
    before = stage_jobs(spark)
    sc.setJobGroup(CALLER_GROUP, "test")
    try:
        run_pipeline(spark, audio, workdir, hosts=hosts)
        assert sc.getLocalProperty("spark.jobGroup.id") == CALLER_GROUP
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert_nothing_left_cached(spark, (audio, hosts), n_rdds)
    after = stage_jobs(spark)
    return files.value, {s: len(after[s] - before[s]) for s in STAGE_ORDER}


def tables(workdir):
    return {stage: table_lines(workdir, stage) for stage in STAGE_ORDER}


def golden(seed=SEED):
    out = {}
    for stage in STAGE_ORDER:
        with open(os.path.join(GOLDEN_DIR, f"clips_seed{seed}", f"{stage}.jsonl")) as f:
            out[stage] = f.read().splitlines()
    return out


def assert_tables_equal(got, want):
    for stage in STAGE_ORDER:
        assert len(got[stage]) == len(want[stage]), stage
        assert got[stage] == want[stage], stage


@pytest.fixture(scope="module")
def passes(spark, clips, tmp_path_factory):
    """A cold pass, then a rerun with nothing new into the same workdir."""
    workdir = str(tmp_path_factory.mktemp("stages"))
    cold_files, cold_jobs = run(spark, clips, workdir)
    cold = tables(workdir)
    noop_files, noop_jobs = run(spark, clips, workdir)
    return dict(
        cold=cold, cold_files=cold_files, cold_jobs=cold_jobs,
        noop=tables(workdir), noop_files=noop_files, noop_jobs=noop_jobs,
    )


def test_cold_pass_equals_golden_tables(passes):
    assert_tables_equal(passes["cold"], golden())


@pytest.mark.parametrize("seed", [2, 3])
def test_cold_pass_of_other_seeds_equals_golden_tables(spark, tmp_path_factory, seed):
    workdir = str(tmp_path_factory.mktemp("stages"))
    run(spark, write_clips(tmp_path_factory, seed), workdir)
    assert_tables_equal(tables(workdir), golden(seed))


def run_with_conf(spark, clips, workdir, key, value):
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        run(spark, clips, workdir)
    finally:
        spark.conf.set(key, before)


def test_cold_pass_at_one_shuffle_partition_equals_golden_tables(spark, clips, tmp_path):
    run_with_conf(spark, clips, str(tmp_path), "spark.sql.shuffle.partitions", "1")
    assert_tables_equal(tables(str(tmp_path)), golden())


def test_cold_pass_at_arrow_batches_of_three_rows_equals_golden_tables(spark, clips, tmp_path):
    """Every Python kernel's input is cut into batches of three rows, so
    the values a kernel reduces sit elsewhere in its Arrow buffers."""
    run_with_conf(
        spark, clips, str(tmp_path), "spark.sql.execution.arrow.maxRecordsPerBatch", "3"
    )
    assert_tables_equal(tables(str(tmp_path)), golden())


def test_rerun_with_nothing_new_leaves_tables_equal(passes):
    assert_tables_equal(passes["noop"], passes["cold"])


def test_base_then_delta_equals_golden_tables(spark, clips, tmp_path):
    """A pass over four of the clips, then one after the other two are
    copied in, into the same workdir, writes the tables of one cold pass
    over all six."""
    names = sorted(os.listdir(clips[0]))
    assert len(names) == 6
    audio_dir, workdir = tmp_path / "audio", str(tmp_path / "stages")
    audio_dir.mkdir()
    for batch in (names[:4], names[4:]):
        for name in batch:
            shutil.copy(os.path.join(clips[0], name), audio_dir)
        run(spark, (str(audio_dir), clips[1]), workdir)
    assert_tables_equal(tables(workdir), golden())


def test_each_file_decoded_once_per_pass(passes, clips):
    n_files = len(clips[2])
    assert passes["cold_files"] == n_files
    assert passes["noop_files"] <= n_files


def test_cold_pass_jobs_per_stage_under_ceiling(passes):
    jobs = passes["cold_jobs"]
    assert all(0 < jobs[s] <= COLD_JOB_CEILINGS[s] for s in STAGE_ORDER), jobs


def test_rerun_with_nothing_new_only_reads_stage_tables(passes):
    assert passes["noop_jobs"] == {s: NOOP_JOBS_PER_STAGE for s in STAGE_ORDER}


def test_raising_pass_leaves_nothing_cached(spark, clips, tmp_path):
    audio, hosts = inputs(spark, clips, spark.sparkContext.accumulator(0))
    n_rdds = persisted_rdds(spark)
    with pytest.raises(TypeError, match="bogus"):
        run_pipeline(
            spark, audio, str(tmp_path), hosts=hosts, stage_conf={"separation": {"bogus": 1}}
        )
    assert_nothing_left_cached(spark, (audio, hosts), n_rdds)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_caller_cache_is_left_in_place(spark, tmp_path):
    """A frame the caller cached stays cached after the call."""
    audio = spark.createDataFrame([], "audio_id string, samples array<double>, sr int").cache()
    try:
        run_pipeline(spark, audio, str(tmp_path), stages=("vad",))
        assert audio.storageLevel != StorageLevel.NONE
    finally:
        audio.unpersist()
