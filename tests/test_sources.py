"""Tests for the audio corpus source layer (S1/S9/S10)."""

import os
import shutil
import tempfile

import pytest

from speech_data_pipeline_spark.sources.audio import (
    resolve_transcript_sidecars,
    scan_audio_dir,
    scan_reference_voiceprints,
)


@pytest.fixture(scope="module")
def audio_dir():
    tmp = tempfile.mkdtemp()
    for name, content in [
        ("ep1.mp3", b"a" * 100),
        ("ep2.WAV", b"b" * 50),
        ("notes.txt", b"ignore me"),
        ("ep3.flac", b""),
    ]:
        with open(os.path.join(tmp, name), "wb") as f:
            f.write(content)
    os.mkdir(os.path.join(tmp, "sub"))
    with open(os.path.join(tmp, "sub", "ep4.ogg"), "wb") as f:
        f.write(b"c" * 10)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_scan_filters_extensions_and_strips_ids(spark, audio_dir):
    got = {r.audio_id: r.length for r in scan_audio_dir(spark, audio_dir).collect()}
    # ep3.flac is 0 bytes: binaryFile drops empty files (the F8 guard);
    # ep2.WAV matches case-insensitively
    assert got == {"ep1": 100, "ep2": 50}


def test_scan_recursive(spark, audio_dir):
    got = {r.audio_id for r in scan_audio_dir(spark, audio_dir, recursive=True).collect()}
    assert got == {"ep1", "ep2", "ep4"}


def test_voiceprint_scan(spark, audio_dir):
    with open(os.path.join(audio_dir, "host_jane.wav"), "wb") as f:
        f.write(b"w" * 5)
    got = {r.host_id for r in scan_reference_voiceprints(spark, audio_dir).collect()}
    assert "host_jane" in got and "ep1" not in got


def test_sidecar_preference(spark):
    audio = spark.createDataFrame([("a",), ("b",), ("c",)], ["audio_id"])
    sidecars = spark.createDataFrame(
        [
            ("a", "en", "plain-a"),
            ("a", "en-orig", "orig-a"),
            ("b", "en", "plain-b"),
        ],
        ["audio_id", "kind", "text"],
    )
    got = {
        r.audio_id: r.transcript
        for r in resolve_transcript_sidecars(audio, sidecars).collect()
    }
    assert got == {"a": "orig-a", "b": "plain-b"}  # c dropped, orig preferred


def test_wavmeta_datasource(spark, tmp_path):
    """Custom Python DataSource: header-only metadata scan of a WAV
    directory — values match a full decode, broken files yield
    ok=false rows (never task failures), and file batches spread
    across the requested partitions."""
    from test_multimodal import make_wav

    from speech_data_pipeline_spark.operators.multimodal import decode_wav_bytes
    from speech_data_pipeline_spark.sources.wavmeta import register_wavmeta

    specs = {
        "a": dict(sr=8000, bits=16, n_ch=1, n=1600),
        "b": dict(sr=16000, bits=24, n_ch=2, n=3200),
        "c": dict(sr=44100, bits=32, n_ch=2, n=441),
    }
    for name, s in specs.items():
        wav = make_wav(
            [0.25, -0.5] * (s["n"] * s["n_ch"] // 2),
            sr=s["sr"], bits=s["bits"], n_ch=s["n_ch"],
        )
        (tmp_path / f"{name}.wav").write_bytes(wav)
    (tmp_path / "broken.wav").write_bytes(b"not a riff file at all")
    (tmp_path / "ignored.txt").write_bytes(b"x")

    register_wavmeta(spark)
    df = (
        spark.read.format("wavmeta")
        .option("partitions", "2")
        .load(str(tmp_path))
    )
    rows = {r.audio_id: r for r in df.collect()}
    assert set(rows) == {"a", "b", "c", "broken"}
    assert not rows["broken"].ok and rows["broken"].duration == 0.0
    for name, s in specs.items():
        r = rows[name]
        assert r.ok and (r.sample_rate, r.channels, r.bits) == (
            s["sr"], s["n_ch"], s["bits"]
        )
        # frame count & duration agree with the full decoder
        wave, sr = decode_wav_bytes((tmp_path / f"{name}.wav").read_bytes())
        assert sr == s["sr"]
        assert r.n_frames == len(wave)
        assert abs(r.duration - len(wave) / sr) < 1e-12
    # projection pushdown: pruned schema still reads
    slim = (
        spark.read.format("wavmeta").load(str(tmp_path))
        .select("audio_id", "duration").collect()
    )
    assert len(slim) == 4


def test_wavmeta_stream_reader_incremental(spark, tmp_path):
    """Streaming wavmeta: two micro-batch rounds over the same
    checkpoint pick up exactly the newly-landed files."""
    import tempfile

    from test_multimodal import make_wav

    from speech_data_pipeline_spark.sources.wavmeta import register_wavmeta

    land = tmp_path / "land"
    land.mkdir()
    ckpt = tempfile.mkdtemp()
    for n in ("part-0001", "part-0002"):
        (land / f"{n}.wav").write_bytes(make_wav([0.1, -0.1] * 800, sr=8000))

    register_wavmeta(spark)

    out = str(tmp_path / "out")

    def run_round():
        q = (
            spark.readStream.format("wavmeta")
            .load(str(land))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        return {r.audio_id for r in spark.read.parquet(out).collect()}

    assert run_round() == {"part-0001", "part-0002"}
    (land / "part-0003.wav").write_bytes(make_wav([0.2] * 400, sr=8000))
    # same checkpoint: the second round appends ONLY the new file
    assert run_round() == {"part-0001", "part-0002", "part-0003"}
