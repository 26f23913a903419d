"""Audio corpus sources (SURVEY.md §2.1 S1/S9).

The reference scans a folder for six audio extensions and keys
everything by the file's basename (modules/models/utils.py:11-22).
Spark-first equivalent: a ``binaryFile`` scan with a glob pushdown —
file listing and reads are distributed, and the payload column is only
materialized for rows that survive pushed filters.

At 100 TB the corpus is millions of objects on S3/GCS: ``binaryFile``
parallelizes listing, and a scan that leaves ``content`` out lists files
without reading their bytes. The decoded waveform of a file is one row,
so a single file must fit a row and an Arrow batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AUDIO_EXTENSIONS = ("mp3", "wav", "flac", "aac", "ogg", "m4a")


def audio_id_from_path(path: F.Column) -> F.Column:
    """X1: basename sans audio extension, case-insensitive."""
    base = F.element_at(F.split(path, "/"), -1)
    return F.regexp_replace(
        base, r"(?i)\.(" + "|".join(AUDIO_EXTENSIONS) + r")$", ""
    )


def scan_audio_dir(
    spark: SparkSession, directory: str, recursive: bool = False
) -> DataFrame:
    """S1: distributed audio-directory scan.

    Returns ``(audio_id, path, length, modificationTime, content)``.
    The glob filter prunes at the listing, before any bytes move. The
    glob carries upper/lower variants because Hadoop globs are
    case-sensitive while the reference's extension test is not (X17,
    utils.py:20). Note: binaryFile silently drops 0-byte files — the
    reference's empty-file guard (F8) for free.
    """
    exts = [e for x in AUDIO_EXTENSIONS for e in (x, x.upper())]
    reader = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{" + ",".join(exts) + "}")
    )
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(directory)
    return df.select(
        audio_id_from_path(F.col("path")).alias("audio_id"),
        "path",
        "length",
        "modificationTime",
        "content",
    )


def scan_reference_voiceprints(spark: SparkSession, directory: str) -> DataFrame:
    """S9: host voiceprint scan — ``host_id`` = wav basename."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(directory)
    )
    return df.select(
        audio_id_from_path(F.col("path")).alias("host_id"), "path", "content"
    )


def longest_first_hint(df: DataFrame, duration_col: str = "duration") -> DataFrame:
    """W10: the reference sorts files longest-first so stragglers start
    early (modules/vad_multi.py:79-97). Spark's task scheduler makes
    the sort unnecessary; the surviving useful form is a range
    repartition by descending duration, which groups similarly-sized
    files so AQE sees balanced partitions."""
    return df.repartitionByRange(F.col(duration_col).desc())
