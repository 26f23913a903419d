"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import decimal
import json
import os
import shutil
import subprocess
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, stats  # noqa: E402
from perfbench.run import QUERY_NAMES, Bench  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_clips_are_deterministic_per_seed():
    assert corpus.generate_clips(7) == corpus.generate_clips(7)
    clips7, hosts7, manifest7 = corpus.generate_clips(7)
    clips8, hosts8, manifest8 = corpus.generate_clips(8)
    assert clips7.keys() == clips8.keys()
    assert all(clips7[k] != clips8[k] for k in clips7)
    assert hosts7 != hosts8
    assert manifest7 != manifest8


def test_events_are_deterministic_per_seed():
    assert corpus.events_parquet(7) == corpus.events_parquet(7)
    assert corpus.events_parquet(7) != corpus.events_parquet(8)


def test_clips_decode_to_their_shape_with_quiet_gaps():
    import numpy as np

    from speech_data_pipeline_spark.operators.multimodal import decode_wav_bytes

    clips, hosts, manifest = corpus.generate_clips(3)
    assert len(clips) == len(corpus.CLIP_KINDS) and len(hosts) == corpus.N_HOSTS
    for name, blob in clips.items():
        x, sr = decode_wav_bytes(blob)
        x = np.abs(np.asarray(x))
        assert sr == corpus.SR and len(x) / sr == manifest[name[: -len(".wav")]][1]
        assert 0.05 < (x > 0.01).mean() < 0.95  # both speech and quiet gaps
        assert x[:100].max() <= 0.01  # every clip opens with a noise gap


def test_every_clip_is_built_around_a_host():
    _, hosts, manifest = corpus.generate_clips(3)
    assert {h for h, _ in manifest.values()} == {n[: -len(".wav")] for n in hosts}
    for (host, _), kind in zip(manifest.values(), corpus.CLIP_KINDS):
        if kind == "dominated":  # the two-speaker shortcut names the first host
            assert host == "host_0"


def test_host_match_check_needs_every_clips_host():
    manifest = {"a": ("host_0", 10.0), "b": ("host_1", 10.0)}
    hosts = {"host_0", "host_1"}

    def row(aid, host, rank=1):
        return {"audio_id": aid, "host_id": host, "speaker": "speaker_0", "score": 0.9,
                "rank": rank, "status": "ok"}

    good = [row("a", "host_0"), row("b", "host_1"), row("b", "host_0")]
    assert checks.stage_problems("host_match", good, manifest, hosts) == []
    assert checks.stage_problems("host_match", [], manifest, hosts) == [
        "a: its host host_0 not matched", "b: its host host_1 not matched"
    ]
    assert checks.stage_problems("host_match", good[:2] + [row("b", "host_1", 3)], manifest,
                                 hosts) == ["('b', 'host_1'): ranks [1, 3]"]


def test_events_have_the_registry_schema():
    t = corpus.events_table(3)
    assert [(f.name, str(f.type)) for f in t.schema] == [
        ("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ]
    assert t.num_rows == corpus.N_USERS * corpus.EVENTS_PER_USER
    ts = t["ts"].to_pylist()
    assert ts == sorted(ts)
    assert set(t["event_type"].to_pylist()) == set(corpus.EVENT_TYPES)


def test_query_names_are_interval_queries_with_oracles():
    from speech_data_pipeline_spark.queries import ORACLES, QUERIES, intervals_q

    assert len(set(QUERY_NAMES)) == len(QUERY_NAMES) == 12
    assert all(QUERIES[n].__module__ == intervals_q.__name__ for n in QUERY_NAMES)
    assert all(n in ORACLES for n in QUERY_NAMES)


def test_digest_ignores_row_and_column_order_and_number_types():
    a = checks.digest(["b", "a"], [(1, 2.0), (3, decimal.Decimal("4.50"))])
    b = checks.digest(["a", "b"], [(4.5, 3), (2, 1.0)])
    assert a == b
    assert checks.query_problems(a, b) == []
    assert checks.digest(["a"], [(1,), (1,)]) != checks.digest(["a"], [(1,)])


def test_query_problems_name_the_difference():
    want = checks.digest(["a"], [(1,), (2,)])
    assert checks.query_problems(checks.digest(["a"], [(1,)]), want) == ["rows 1 != oracle 2"]
    assert checks.query_problems(checks.digest(["b"], [(1,), (2,)]), want) == [
        "columns ['b'] != oracle ['a']"
    ]
    assert checks.query_problems(checks.digest(["a"], [(1,), (3,)]), want) == [
        "values differ from the oracle"
    ]


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99

    def beyond(p, n):  # samples above the nearest-rank position of p
        return n - -(-p * n // 100)

    for n in range(1, 400):
        p = stats.tail_percentile(n)
        if p is None:
            assert beyond(50, n) < 10
            continue
        assert beyond(p, n) >= 10
        if p < 99:
            assert beyond(p + 1, n) < 10


def test_summarize_reports_median_tail_and_count():
    values = [float(v) for v in range(1, 101)]
    assert stats.summarize(values) == {"p50": 50.5, "tail": 90.0, "tail_pct": 90, "n": 100}
    assert stats.summarize([3.0, 1.0, 2.0]) == {"p50": 2.0, "tail": 3.0, "tail_pct": 100, "n": 3}


def test_end_to_end_names_match_spec():
    fake = types.SimpleNamespace(start_s=1.0, warm_s=1.0, setup_cpu_s=3.0)
    passes = [types.SimpleNamespace(wall=12.0, cpu=20.0), types.SimpleNamespace(wall=13.0, cpu=22.0)]
    got = Bench.end_to_end(fake, passes, 1e9)
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert all(v["value"] > 0 for v in got.values())
    assert got["pass_cpu_s"]["value"] == 21.0


def test_per_layer_names_match_spec(tmp_path):
    events = [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "cold:vad"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "untraced:vad"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1250},
         "Task Metrics": {"JVM GC Time": 20, "Disk Bytes Spilled": 3_000_000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1000, "Finish Time": 9000}, "Task Metrics": {}},
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    fake = types.SimpleNamespace(
        start_s=1.0, warm_s=1.0, files={"a", "b"}, event_dir=str(tmp_path), tracer=Tracer(),
        decode_s=0.5, noop_s=2.0, decoded_files={"cold": 4, "noop": 4},
    )
    got = Bench.per_layer(fake, types.SimpleNamespace(wall=10.0, cpu=20.0),
                          types.SimpleNamespace(wall=8.0, cpu=15.0))
    want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["stages.vad.tasks"]["value"] == 1  # the untraced pass's task is left out
    assert got["stages.vad.shuffle_write_mb"]["value"] == pytest.approx(2.0)
    assert got["stages.vad.spill_mb"]["value"] == pytest.approx(3.0)
    assert got["spark.gc_s"]["value"] == pytest.approx(0.02)
    assert got["spark.task_p50_s"]["value"] == pytest.approx(0.25)
    assert got["incremental.useful_ratio"]["value"] == pytest.approx(0.5)
    assert got["trace.overhead_s"]["value"] == pytest.approx(2.0)
    assert got["trace.overhead_cpu_s"]["value"] == pytest.approx(5.0)


def test_workloads_match_spec():
    from perfbench.run import BENCHES

    assert sorted(BENCHES) == sorted(w["name"] for w in spec()["workloads"])


def test_clock_sums_wall_and_cpu_over_timed_regions():
    from perfbench.run import Clock

    clock = Clock()
    for _ in range(2):
        with clock.timing():
            sum(i * i for i in range(200_000))
    assert 0 < clock.wall < 10 and 0 <= clock.cpu < 10
    with pytest.raises(ValueError), clock.timing():
        raise ValueError
    assert clock.wall > 0


def test_tracer_self_time_excludes_children():
    t = Tracer()
    t.phase = "cold"
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer = t.roots[0]
    assert outer.self_seconds == pytest.approx(outer.seconds - outer.children[0].seconds)
    assert t.total("inner", "cold", "seconds") == outer.children[0].seconds
    assert t.total("inner", "noop") == 0


def test_run_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = [*spec()["command"], "--workload", "clips", "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
