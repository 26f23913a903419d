"""End-to-end pipeline parity smoke (SURVEY.md §5 plan item 4):
synthetic audio (tones + silence, two alternating 'speakers') through
all five stages on stub models; assert the stage tables have the
reference's shapes and invariants.
"""

import numpy as np
import pytest
from conftest import rows
from pyspark.sql import functions as F

from speech_data_pipeline_spark.plans.stages import (
    diarization_stage,
    host_match_stage,
    rematch_stage,
    separation_stage,
    vad_stage,
)

SR = 100  # tiny sample rate keeps arrays small


def synth_audio(spark):
    """Two files: speech bursts with silences; one all-silence file."""

    def burst(level, sec):
        return [level, -level] * (SR * sec // 2)

    def silence(sec):
        return [0.0] * (SR * sec)

    a = burst(0.5, 2) + silence(2) + burst(0.3, 2) + silence(1) + burst(0.6, 3)
    b = burst(0.4, 1) + silence(3) + burst(0.2, 2)
    c = silence(5)
    rows = [("f1", a, SR), ("f2", b, SR), ("f3", c, SR)]
    return spark.createDataFrame(rows, ["audio_id", "samples", "sr"])


@pytest.fixture(scope="module")
def stages(spark):
    audio = synth_audio(spark)
    vad = vad_stage(audio)
    sep = separation_stage(audio, vad)
    diar = diarization_stage(sep)
    single = (
        diar.where(~F.col("overlapping")).withColumnRenamed("speaker", "tag").drop("overlapping")
    )
    overlap = diar.where(F.col("overlapping"))
    # toy fixture timescales: 1-2 s merged spans, so relax the reference's
    # 3 s post-merge drop (its default is asserted in
    # test_rematch_min_merged_duration_filter)
    rematched, mapping = rematch_stage(audio, single, min_merged_duration=0.0)
    hosts = spark.createDataFrame(
        [("host_a", [0.5, -0.5] * 50, SR)], ["host_id", "samples", "sr"]
    )
    matches = host_match_stage(audio, rematched, hosts)
    return dict(
        audio=audio, vad=vad, scored=sep.where(F.col("kind") == "window"), single=single,
        overlap=overlap, rematched=rematched, mapping=mapping, matches=matches,
    )


def test_vad_finds_bursts_not_silence(stages):
    vad = stages["vad"].collect()
    ids = {r.audio_id for r in vad}
    assert "f1" in ids and "f2" in ids
    assert "f3" not in ids  # all-silence file produces no segments
    for r in vad:
        assert r.end > r.start >= 0


def _vad_runs_loop(x, sr, threshold=0.01, min_gap=0.02):
    """Reference for the VAD stub: the sample-by-sample run scan, then
    the ``min_gap`` merge, as ``(start, end)`` seconds."""
    runs, s0 = [], None
    for i, v in enumerate(x):
        if abs(v) > threshold and s0 is None:
            s0 = i
        elif abs(v) <= threshold and s0 is not None:
            runs.append((s0, i))
            s0 = None
    if s0 is not None:
        runs.append((s0, len(x)))
    merged = []
    for s, e in runs:
        if merged and (s - merged[-1][1]) / sr <= min_gap:
            merged[-1] = (merged[-1][0], e)
        else:
            merged.append((s, e))
    return [(s / sr, e / sr) for s, e in merged]


def test_vad_stub_run_edges(spark):
    """Runs that touch the first or the last sample, a file that is all
    speech, one that is all silence, and a gap of exactly ``min_gap``
    (merged) beside one a sample longer (kept); then random files
    against the sample-by-sample reference."""
    from speech_data_pipeline_spark.ml.stubs import vad

    def wave(*spans, n=20):  # active half-open sample spans of n samples
        x = [0.0] * n
        for s, e in spans:
            x[s:e] = [0.5] * (e - s)
        return x

    edges = [
        ("head", wave((0, 3))),
        ("tail", wave((17, 20))),
        ("all", wave((0, 20))),
        ("none", wave()),
        ("gaps", wave((2, 5), (7, 10), (13, 15))),  # gaps of 2 and 3
    ]
    audio = spark.createDataFrame(
        [(aid, x, SR) for aid, x in edges], ["audio_id", "samples", "sr"]
    )
    got = rows(vad(audio, min_gap=2 / SR))
    want = sorted(
        (aid, s / SR, e / SR)
        for aid, s, e in [
            ("head", 0, 3), ("tail", 17, 20), ("all", 0, 20),
            ("gaps", 2, 10), ("gaps", 13, 15),
        ]
    )
    assert got == want

    rng = np.random.default_rng(5)
    files = [
        (f"r{i}", (rng.random(n) * (rng.random(n) < 0.6) * 0.02).tolist(), sr)
        for i, (n, sr) in enumerate([(500, 100), (4000, 8000), (4000, 16000)])
    ]
    audio = spark.createDataFrame(files, ["audio_id", "samples", "sr"])
    want = sorted(
        (aid, s, e) for aid, x, sr in files for s, e in _vad_runs_loop(x, sr)
    )
    assert len(want) > 30 and rows(vad(audio)) == want


def test_vad_segments_non_overlapping_sorted(stages):
    by_file = {}
    for r in stages["vad"].collect():
        by_file.setdefault(r.audio_id, []).append((r.start, r.end))
    for segs in by_file.values():
        segs.sort()
        for (s1, e1), (s2, e2) in zip(segs, segs[1:]):
            assert s2 > e1  # merged at interval=0: strictly separated


def test_separation_scores_in_unit_range(stages):
    rows = stages["scored"].collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.v_r <= 1.0 and abs(r.v_r + r.nv_r - 1.0) < 1e-9


def test_diarization_partitions_timeline(stages):
    single = stages["single"].collect()
    assert single
    for r in single:
        assert r.tag.startswith("speaker_")
    by_file = {}
    for r in single:
        by_file.setdefault(r.audio_id, []).append((r.start, r.end))
    for segs in by_file.values():
        segs.sort()
        for (s1, e1), (s2, e2) in zip(segs, segs[1:]):
            assert s2 >= e1 - 1e-9  # flattened pieces never overlap


def test_rematch_mapping_and_merge(stages):
    mapping = stages["mapping"].collect()
    assert mapping
    for r in mapping:
        assert r.global_speaker.startswith("speaker_")
    rem = stages["rematched"].collect()
    assert rem
    for r in rem:
        assert r.end - r.start <= 20.0 + 1e-9  # W2 span cap


@pytest.mark.parametrize("backend", ["stub", "dbscan"])
def test_rematch_kernel_labels_like_the_dataframe_chain(stages, backend):
    """The per-file rematch kernel labels every segment as the DataFrame
    chain attach_sliced_samples -> embed -> cluster_per_group does."""
    from speech_data_pipeline_spark.ml import stubs
    from speech_data_pipeline_spark.operators.multimodal import attach_sliced_samples

    audio = stages["audio"]
    segs = stages["single"].select("audio_id", "start", "end", "tag")
    got = rows(stubs.rematch_labels(audio, segs, min_chunks=1, backend=backend))
    sliced = attach_sliced_samples(segs, audio).withColumnRenamed("tag", "local_speaker")
    chain = stubs.cluster_per_group(stubs.embed(sliced).drop("samples", "sr"), backend=backend)
    want = rows(chain, "audio_id", "start", "end", "local_speaker", "label")
    assert len(got) > 2 and got == want


# (audio_id, speaker, start, end): a file whose dominant speaker is left
# out, a two-speaker shortcut file, a balanced two-speaker file and a
# one-speaker file. Lengths such as 1.3 s and 1.7 s differ in their
# floored microseconds; the 1.5 s ones tie exactly, so the budget's
# floors, its ties and the order of each mean's sum all count.
HOST_SEGS = [
    ("three", "A", 0.1, 4.4), ("three", "A", 5.0, 9.7), ("three", "A", 10.3, 13.1),
    ("three", "B", 13.4, 14.7), ("three", "B", 15.0, 16.3),
    ("three", "C", 16.9, 18.2), ("three", "C", 18.5, 19.6),
    ("short", "A", 0.0, 6.1), ("short", "A", 7.0, 12.3),
    ("short", "B", 12.5, 13.7), ("short", "B", 14.0, 15.1),
    ("two", "A", 0.25, 1.75), ("two", "A", 2.0, 3.5), ("two", "B", 3.75, 5.25),
    ("two", "B", 5.6, 6.9), ("two", "A", 8.0, 9.5), ("two", "B", 10.0, 10.8),
    ("solo", "A", 1.0, 2.5), ("solo", "A", 3.0, 6.5),
]
BUDGET_SEC = 4.8


def host_speakers_chain(audio, segs, budget_sec, early_exit):
    """host_match_stage's speaker table as a DataFrame chain: window
    statistics for the early exits, budgeted_topk, attach_sliced_samples,
    embed, and a per-speaker avg and sum."""
    from pyspark.sql import Window

    from speech_data_pipeline_spark.ml import stubs
    from speech_data_pipeline_spark.operators.multimodal import attach_sliced_samples
    from speech_data_pipeline_spark.operators.windows import budgeted_topk

    durs = segs.withColumn("dur", F.col("end") - F.col("start"))
    out = []
    if early_exit:
        w_all = Window.partitionBy("audio_id")
        w_rank = Window.partitionBy("audio_id").orderBy(F.col("spk_dur").desc(), "speaker")
        stats = (
            durs.groupBy("audio_id", "speaker")
            .agg(F.sum("dur").alias("spk_dur"))
            .withColumn("n", F.count(F.lit(1)).over(w_all))
            .withColumn("total", F.sum("spk_dur").over(w_all))
            .withColumn("top", F.max("spk_dur").over(w_all))
            .withColumn("rnk", F.row_number().over(w_rank))
        )
        rest = F.col("total") - F.col("top")
        shortcut = (F.col("n") == 2) & (F.col("top") >= 3.0 * rest)
        dominant = (F.col("n") != 2) & (F.col("top") >= 2.0 * rest)
        stats = stats.withColumn(
            "verify",
            F.when(shortcut, False).when(dominant, F.col("rnk") > 1).otherwise(True),
        ).withColumn("shortcut", shortcut & (F.col("rnk") == 2))
        out += [
            (r.audio_id, r.speaker, None, r.spk_dur, True)
            for r in stats.where("shortcut").collect()
        ]
        durs = durs.join(
            stats.where("verify").select("audio_id", "speaker"),
            ["audio_id", "speaker"],
            "left_semi",
        )
    budgeted = budgeted_topk(
        durs.withColumn("dur_us", F.floor(F.col("dur") * F.lit(1_000_000.0)).cast("long")),
        budget=int(budget_sec * 1e6),
        key="audio_id",
        weight_col="dur_us",
        order_cols=("speaker", "start"),
    )
    # Spark leaves the order of a sum's inputs to the plan. With the
    # waveforms as the broadcast side, the rows reach the aggregate in the
    # budget window's order; with the segments as the broadcast side, as
    # adaptive execution may choose here, they come in hash-table order.
    sliced = attach_sliced_samples(budgeted, F.broadcast(audio)).select(
        "audio_id", "speaker", "samples", "dur"
    )
    spk = stubs.embed(sliced).groupBy("audio_id", "speaker").agg(
        F.array(*[F.avg(F.col("embedding")[i]) for i in range(stubs.EMB_DIM)]).alias("emb_b"),
        F.sum("dur").alias("audio_duration"),
    )
    out += [(r.audio_id, r.speaker, r.emb_b, r.audio_duration, False) for r in spk.collect()]
    return sorted(out)


@pytest.mark.parametrize("early_exit", [True, False])
def test_host_kernel_speakers_like_the_dataframe_chain(spark, early_exit):
    """The per-file host-match kernel keeps, embeds and averages the
    same segments as the DataFrame chain, to the bit, at a budget that
    drops segments of every file it verifies."""
    from speech_data_pipeline_spark.ml import stubs

    # At this seed, summing the three tied 1.5 s segments of ("two", "A")
    # in reverse order changes their mean.
    rng = np.random.default_rng(25)
    audio = spark.createDataFrame(
        [(aid, rng.standard_normal(SR * 20).tolist(), SR)
         for aid in ("three", "short", "two", "solo")],
        ["audio_id", "samples", "sr"],
    )
    segs = spark.createDataFrame(HOST_SEGS, ["audio_id", "speaker", "start", "end"])
    got = rows(
        stubs.host_match_speakers(audio, segs, budget_sec=BUDGET_SEC, early_exit=early_exit)
    )
    assert got == host_speakers_chain(audio, segs, BUDGET_SEC, early_exit)

    # A file whose longest segment alone exceeds the budget keeps none.
    verified = {r[0] for r in got if not r[4]}
    assert verified == ({"three", "two"} if early_exit else {"three", "two", "solo"})
    left_out = {("three", "A")} if early_exit else set()  # the dominant speaker
    for aid in verified:
        kept = sum(r[3] for r in got if r[0] == aid)
        offered = sum(
            e - s for a, spk, s, e in HOST_SEGS if a == aid and (a, spk) not in left_out
        )
        assert 0 < kept <= BUDGET_SEC < offered
    assert [r[:2] for r in got if r[4]] == ([("short", "B")] if early_exit else [])


def test_host_match_schema_and_acceptance(stages):
    m = stages["matches"]
    assert set(m.columns) == {
        "audio_id", "host_id", "speaker", "score", "audio_duration", "rank"
    }
    for r in m.collect():
        assert r.score > 0.5  # F6 acceptance predicate enforced


def test_rematch_min_merged_duration_filter(spark, stages):
    """W2 trailing filter (speaker_rematch.py:43): merged segments with
    span <= min_merged_duration are dropped; 0.0 keeps everything."""
    audio, single = stages["audio"], stages["single"]
    kept, _ = rematch_stage(audio, single, min_merged_duration=0.0)
    filtered, _ = rematch_stage(audio, single, min_merged_duration=1.5)
    kept_rows = kept.collect()
    f_rows = filtered.collect()
    assert len(f_rows) < len(kept_rows)  # fixture spans are ~1-2 s
    assert all(r.end - r.start > 1.5 for r in f_rows)
    key = lambda r: (r.audio_id, r.speaker, r.start, r.end)  # noqa: E731
    assert {key(r) for r in f_rows} <= {key(r) for r in kept_rows}


def _burst_audio(spark, rows_sec):
    rows = [
        (aid, [0.5, -0.5] * (SR * sec // 2), SR) for aid, sec in rows_sec
    ]
    return spark.createDataFrame(rows, ["audio_id", "samples", "sr"])


def test_host_match_early_exit_heuristics(spark):
    """Reference host_rematch.py:49-96 verification governor:
    2-speaker ratio>=3 shortcut, dominant>=2x-rest skip, else verify all."""
    audio = _burst_audio(spark, [("h1", 14), ("h2", 16), ("h3", 9)])
    rem_rows = [
        # h1: two speakers, 9s vs 3s -> ratio 3 -> shortcut, no verify
        ("h1", "speaker_0", 0.0, 9.0),
        ("h1", "speaker_1", 9.0, 12.0),
        # h2: three speakers, 10s vs 2+2 -> dominant skipped, rest verified
        ("h2", "speaker_0", 0.0, 10.0),
        ("h2", "speaker_1", 10.0, 12.0),
        ("h2", "speaker_2", 12.0, 14.0),
        # h3: two speakers, 4s vs 3s -> ratio < 3 -> verify both
        ("h3", "speaker_0", 0.0, 4.0),
        ("h3", "speaker_1", 4.0, 7.0),
    ]
    rematched = spark.createDataFrame(
        rem_rows, ["audio_id", "speaker", "start", "end"]
    )
    hosts = spark.createDataFrame(
        [("host_b", [0.5, -0.5] * 50, SR), ("host_a", [0.5, -0.5] * 50, SR)],
        ["host_id", "samples", "sr"],
    )
    from speech_data_pipeline_spark.plans.stages import host_match_stage as hm

    fast = hm(audio, rematched, hosts).collect()
    full = hm(audio, rematched, hosts, early_exit=False).collect()

    h1 = [r for r in fast if r.audio_id == "h1"]
    assert len(h1) == 1
    assert h1[0].speaker == "speaker_1"  # the shorter of the two
    assert h1[0].score == 1.0 and h1[0].rank == 1
    assert h1[0].host_id == "host_a"  # deterministic min(host_id)
    assert abs(h1[0].audio_duration - 3.0) < 1e-6

    h2_fast = {r.speaker for r in fast if r.audio_id == "h2"}
    h2_full = {r.speaker for r in full if r.audio_id == "h2"}
    assert "speaker_0" not in h2_fast  # dominant speaker skipped
    assert "speaker_0" in h2_full  # ...but would have matched unguarded
    assert h2_fast == {"speaker_1", "speaker_2"}

    key = lambda r: (r.audio_id, r.host_id, r.speaker)  # noqa: E731
    h3_fast = sorted([r for r in fast if r.audio_id == "h3"], key=key)
    h3_full = sorted([r for r in full if r.audio_id == "h3"], key=key)
    assert h3_fast and [tuple(r) for r in h3_fast] == [tuple(r) for r in h3_full]


def test_host_match_single_speaker_verifies_nobody(spark):
    """One speaker: dominant >= 2*0 -> verify list empty (reference else
    branch with len(sorted)==1)."""
    audio = _burst_audio(spark, [("s1", 6)])
    rematched = spark.createDataFrame(
        [("s1", "speaker_0", 0.0, 5.0)], ["audio_id", "speaker", "start", "end"]
    )
    hosts = spark.createDataFrame(
        [("host_a", [0.5, -0.5] * 50, SR)], ["host_id", "samples", "sr"]
    )
    from speech_data_pipeline_spark.plans.stages import host_match_stage as hm

    assert hm(audio, rematched, hosts).count() == 0
    assert hm(audio, rematched, hosts, early_exit=False).count() == 1


def test_run_pipeline_empty_corpus(spark, tmp_path):
    """An empty corpus runs through all five stages: each stage reads its
    upstream table from this call, not from a workdir that was never
    written."""
    from speech_data_pipeline_spark.plans.pipeline import STAGE_ORDER, run_pipeline

    audio = spark.createDataFrame([], "audio_id string, samples array<double>, sr int")
    hosts = spark.createDataFrame([], "host_id string, samples array<double>, sr int")
    out = run_pipeline(spark, audio, str(tmp_path), hosts=hosts)
    assert set(out) == set(STAGE_ORDER)
    assert all(df.count() == 0 for df in out.values())
