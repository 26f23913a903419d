"""`wavmeta` — a Spark 4 Python DataSource for audio-metadata scans.

The reference probes durations by opening every file with pydub
(modules/vad_multi.py:12-16) inside its own process pool. The Spark-
native form is a *custom data source*: `spark.read.format("wavmeta")
.load(dir)` plans one task per file batch, each task reads ONLY the
RIFF header bytes of its files (operators/multimodal.py
`parse_wav_header`) and emits typed metadata rows — no payload bytes
ever cross the wire, unlike a `binaryFile` scan whose `content`
column materializes whole files just to probe them.

Scale notes:

- **Listing** happens driver-side in `partitions()` (exactly like
  Spark's own file-source listing); files are chunked into
  `partitions` input splits (option, default 8) so header reads
  parallelize across executors.
- Rows are built from whatever schema Spark hands `reader()`, so the
  reader honors planner-side pruning when the Python data-source API
  applies it; the per-row cost is header parsing either way.
- Broken / non-WAV files follow the reference's contract (F8/S6):
  rows with `ok = false` and zeroed metadata, never a task failure —
  at a million files a single corrupt header must not kill the scan.
- On a real deployment the `open()` in `read()` is the seam where an
  object-store client (s3/gs) plugs in; the partition planning and
  header-only read discipline are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from speech_data_pipeline_spark.sources.audio import AUDIO_EXTENSIONS

WAVMETA_SCHEMA = StructType(
    [
        StructField("audio_id", StringType()),
        StructField("path", StringType()),
        StructField("byte_len", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration", DoubleType()),
        StructField("ok", BooleanType()),
    ]
)


class _FilesPartition(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class WavMetaDataSource(DataSource):
    """Register with ``spark.dataSource.register(WavMetaDataSource)``,
    then ``spark.read.format("wavmeta").load(directory)``."""

    @classmethod
    def name(cls) -> str:
        return "wavmeta"

    def schema(self) -> StructType:
        return WAVMETA_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return WavMetaReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType):
        return WavMetaStreamReader(schema, self.options)


class WavMetaReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.directory = options.get("path")
        if not self.directory:
            raise ValueError("wavmeta: .load(directory) is required")
        self.n_parts = int(options.get("partitions", "8"))
        exts = tuple(f".{e}" for e in AUDIO_EXTENSIONS)
        self.exts = exts

    def partitions(self) -> list[InputPartition]:
        paths = sorted(
            os.path.join(self.directory, f)
            for f in os.listdir(self.directory)
            if f.lower().endswith(self.exts)
        )
        n = max(1, min(self.n_parts, len(paths) or 1))
        return [_FilesPartition(paths[i::n]) for i in range(n)]

    def read(self, partition: _FilesPartition):
        # executor-side: header bytes only, never the payload
        fields = [f.name for f in self.schema.fields]
        for path in partition.paths:
            yield _meta_tuple(path, fields)


def _meta_tuple(path: str, fields: list[str]) -> tuple:
    """One metadata row for ``path`` — header bytes only; broken or
    non-WAV files become ``ok=false`` rows, never exceptions."""
    from speech_data_pipeline_spark.operators.multimodal import (
        parse_wav_header,
    )

    base = os.path.basename(path)
    audio_id = base
    for e in AUDIO_EXTENSIONS:
        if base.lower().endswith("." + e):
            audio_id = base[: -(len(e) + 1)]
            break
    try:
        size = os.path.getsize(path)
        with open(path, "rb") as fh:
            head = fh.read(1 << 16)
        meta = parse_wav_header(head)
        row = {
            "audio_id": audio_id,
            "path": path,
            "byte_len": size,
            "sample_rate": meta["sample_rate"],
            "channels": meta["channels"],
            "bits": meta["bits"],
            "n_frames": meta["n_frames"],
            "duration": float(meta["duration"]),
            "ok": True,
        }
    except (OSError, ValueError):
        row = {
            "audio_id": audio_id,
            "path": path,
            "byte_len": 0,
            "sample_rate": 0,
            "channels": 0,
            "bits": 0,
            "n_frames": 0,
            "duration": 0.0,
            "ok": False,
        }
    return tuple(row[f] for f in fields)


class WavMetaStreamReader(SimpleDataSourceStreamReader):
    """Streaming form: ``spark.readStream.format("wavmeta")`` tails an
    append-only landing directory, emitting one metadata row per NEW
    file each micro-batch.

    The offset is the lexically-largest file name processed so far —
    O(1) state regardless of history, exactly replayable (``read``
    from a committed offset re-lists deterministically, and
    ``readBetweenOffsets`` re-derives any batch from its bounds). The
    contract this needs: landing files arrive with monotonically
    increasing names (``part-00001…``, timestamped uploads). A file sorting BELOW the
    cursor is ignored by construction — the same append-only
    assumption Spark's file stream source makes, but with bounded
    offset state instead of its seen-files log.
    """

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.directory = options.get("path")
        if not self.directory:
            raise ValueError("wavmeta: .load(directory) is required")
        exts = tuple(f".{e}" for e in AUDIO_EXTENSIONS)
        self.exts = exts

    def _names(self) -> list[str]:
        return sorted(
            f
            for f in os.listdir(self.directory)
            if f.lower().endswith(self.exts)
        )

    def initialOffset(self) -> dict:
        return {"last": ""}

    def read(self, start: dict):
        names = [n for n in self._names() if n > start["last"]]
        fields = [f.name for f in self.schema.fields]
        rows = [
            _meta_tuple(os.path.join(self.directory, n), fields)
            for n in names
        ]
        end = {"last": names[-1]} if names else dict(start)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        names = [
            n for n in self._names() if start["last"] < n <= end["last"]
        ]
        fields = [f.name for f in self.schema.fields]
        return iter(
            _meta_tuple(os.path.join(self.directory, n), fields)
            for n in names
        )


def register_wavmeta(spark) -> None:
    spark.dataSource.register(WavMetaDataSource)
