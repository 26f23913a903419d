"""Tests for the audio corpus source layer (S1/S9)."""

import os
import shutil
import tempfile

import pytest

from speech_data_pipeline_spark.sources.audio import (
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


def test_listing_without_content_reads_no_bytes(spark, tmp_path):
    """A scan that leaves ``content`` out lists a file bigger than any
    row Spark can hold without reading it; selecting ``content`` reads
    it and fails. So listing files needs no header-only reader."""
    big = tmp_path / "big.wav"
    with open(big, "wb") as f:
        os.truncate(f.fileno(), 3 << 30)  # sparse: takes no disk space
    scan = scan_audio_dir(spark, str(tmp_path))
    listed = scan.select("audio_id", "length", "modificationTime").collect()
    assert [(r.audio_id, r.length) for r in listed] == [("big", 3 << 30)]
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        scan.select("audio_id", "content").collect()
