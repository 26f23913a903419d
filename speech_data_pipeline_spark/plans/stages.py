"""The reference's five-stage pipeline as composable DataFrame
functions (SURVEY.md §3 traces), on stub model backends.

Each stage is DataFrame→DataFrame; the shell-script orchestration of
the reference (scripts/data_pipeline.sh:18-70, one process + JSON files
per stage) collapses into one lineage with optional parquet checkpoints
between stages. The ``audio_id`` partition key flows through every
stage: the session and sweep kernels, windows and aggregates that need
a file's rows together shuffle on it. A sub-plan that two branches of a
stage need is computed once: diarization projects its sweep once, and
host matching ranks and picks its shortcut host on one exchange. The
per-file model work runs in one kernel call per file, which gets the
file's samples once with all of its rows (``ml.stubs``): separation
scores every window, rematch slices, embeds and clusters every
segment, and host matching slices, embeds and averages the segments it
verifies.

Stage ↔ reference trace map:
  vad_stage          → §3.2 (scan → VAD M1 → pad/clamp F11 → merge W1)
  separation_stage   → separation_filter.py: windows W4 + per-file
                       separation M2 and energy A5/A6 + ratio
                       projections, and lead-gap J4, as one table
                       tagged ``window`` or ``gap``
  diarization_stage  → §3.3 (voice/silence tag F1/F2, which stands in
                       for the U1 union → combine W9/W1 → diarize M3 →
                       sweep W3 → overlap flag F5)
  rematch_stage      → speaker_rematch.py: per-file kernel (chunk
                       F3/F4 → slice → embed M4 → cluster M5) →
                       relabel X3 → merge W2 → mapping J6, guards F9/F10
  host_match_stage   → host_rematch.py: per-file kernel (A1 durations
                       → early exits → A12 budget → slice → embed M4 →
                       per-speaker mean) → J5 cross-join verify M6 →
                       F6 accept → W11 rank
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from speech_data_pipeline_spark.ml import stubs
from speech_data_pipeline_spark.operators.intervals import clamp
# No stage calls ``attach_sliced_samples`` or ``budgeted_topk`` any more;
# both stay imported because perfbench/trace.py patches them here by name.
from speech_data_pipeline_spark.operators.multimodal import attach_sliced_samples  # noqa: F401
from speech_data_pipeline_spark.operators.sessions import (
    sessionize_capped,
    sessionize_gap,
)
from speech_data_pipeline_spark.operators.sweepline import flatten_active_sets
from speech_data_pipeline_spark.operators.windows import (
    budgeted_topk,  # noqa: F401
    sliding_windows,
)


def _us(col):  # seconds (double) -> integer microseconds for the kernels
    return F.floor(col * F.lit(1_000_000.0)).cast("long")


def vad_stage(audio: DataFrame, pad: float = 0.05) -> DataFrame:
    """Audio → padded, clamped, gap-merged VAD segment table (seconds)."""
    segs = stubs.vad(audio)
    durations = audio.select("audio_id", (F.size("samples") / F.col("sr")).alias("duration"))
    padded = clamp(
        segs.join(durations, "audio_id"), pad=pad, start="start", end="end"
    )
    merged = sessionize_gap(
        padded.withColumn("start_us", _us(F.col("start")))
        .withColumn("end_us", _us(F.col("end"))),
        interval=0,
        key="audio_id",
    )
    return merged.select(
        "audio_id",
        (F.col("session_start") / 1e6).alias("start"),
        (F.col("session_end") / 1e6).alias("end"),
    )


def separation_stage(
    audio: DataFrame,
    vad: DataFrame,
    window: float = 3.0,
    hop: float = 1.0,
) -> DataFrame:
    """VAD segments → separation table ``(audio_id, start, end, v_r,
    nv_r, kind)`` (seconds).

    ``kind = 'window'`` rows are the ``window``-second windows at
    ``hop``-second steps over each VAD segment, with the vocal and
    nonvocal energy ratios ``v_r`` and ``nv_r`` of the per-file
    separation kernel (:func:`~speech_data_pipeline_spark.ml.stubs.separate`).
    ``kind = 'gap'`` rows are the spans between consecutive VAD
    segments, with null ratios.
    """
    wins = sliding_windows(
        vad.withColumn("start_us", _us(F.col("start"))).withColumn(
            "end_us", _us(F.col("end"))
        ),
        window=int(window * 1e6),
        hop=int(hop * 1e6),
        key="audio_id",
    )
    total = F.col("v_e") + F.col("nv_e")
    scored = (
        stubs.separate(audio, wins)
        .withColumn("v_r", F.when(total > 0, F.col("v_e") / total).otherwise(0.0))
        .select(
            "audio_id",
            (F.col("win_start") / 1e6).alias("start"),
            (F.col("win_end") / 1e6).alias("end"),
            "v_r",
            (1 - F.col("v_r")).alias("nv_r"),
            F.lit("window").alias("kind"),
        )
    )
    w = Window.partitionBy("audio_id").orderBy("start", "end")
    gaps = (
        vad.withColumn("next_start", F.lead("start").over(w))
        .where(F.col("next_start").isNotNull() & (F.col("next_start") >= F.col("end")))
        .select(
            "audio_id",
            F.col("end").alias("start"),
            F.col("next_start").alias("end"),
            F.lit(None).cast("double").alias("v_r"),
            F.lit(None).cast("double").alias("nv_r"),
            F.lit("gap").alias("kind"),
        )
    )
    return scored.unionByName(gaps)


def diarization_stage(
    sep: DataFrame,
    v_r_threshold: float = 0.5,
    max_chunk: float = 1000.0,
    join_interval: float = 5.0,
) -> DataFrame:
    """Separation table (:func:`separation_stage`) → speaker segment
    table.

    The windows with ``v_r >= v_r_threshold`` are voice and the gaps are
    silence. Both are merged into sessions (broken by a gap over
    ``join_interval`` seconds, capped at ``max_chunk`` seconds), and the
    sessions that hold voice go to the diarizer. One row per
    flattened timeline piece: ``(audio_id, speaker, start, end,
    overlapping)``, where ``speaker`` is the active tags joined by ``+``
    and ``overlapping`` says more than one is active (F5). A single
    projection of the sweep, so the chain under it runs once.
    """
    vocal = (F.col("kind") == "window") & (F.col("v_r") >= v_r_threshold)
    segs = sep.where(vocal | (F.col("kind") == "gap")).select(
        "audio_id",
        "start",
        "end",
        F.when(vocal, F.lit("voice")).otherwise(F.lit("silence")).alias("seg_type"),
    )
    combined = sessionize_capped(
        segs.withColumn("start_us", _us(F.col("start"))).withColumn(
            "end_us", _us(F.col("end"))
        ),
        interval=join_interval * 1e6,
        max_duration=max_chunk * 1e6,
        key="audio_id",
        type_col="seg_type",
        must_include="voice",
    )
    diar_in = combined.select(
        "audio_id",
        (F.col("session_start") / 1e6).alias("start"),
        (F.col("session_end") / 1e6).alias("end"),
    )
    diarized = stubs.diarize(diar_in)
    flat = flatten_active_sets(
        diarized.withColumn("start_us", _us(F.col("start")))
        .withColumn("end_us", _us(F.col("end")))
        .withColumnRenamed("speaker", "tag"),
        key="audio_id",
    )
    return flat.select(
        "audio_id",
        F.concat_ws("+", "tags").alias("speaker"),
        (F.col("piece_start") / 1e6).alias("start"),
        (F.col("piece_end") / 1e6).alias("end"),
        (F.col("n_active") > 1).alias("overlapping"),
    )


def rematch_stage(
    audio: DataFrame,
    single: DataFrame,
    min_duration: float = 0.5,
    min_chunks: int = 2,
    min_merged_duration: float = 3.0,
    cluster_backend: str = "stub",
) -> tuple[DataFrame, DataFrame]:
    """Single-speaker segments → globally relabeled segments + mapping.

    ``audio``: ``(audio_id, samples, sr)``. The segments longer than
    ``min_duration`` are sliced, embedded and clustered in one kernel
    call per file (:func:`~speech_data_pipeline_spark.ml.stubs.rematch_labels`),
    which gets the file's samples once, so no row carries a whole
    waveform; a file with fewer than ``min_chunks`` of them is dropped.
    The relabel, the ``mapping`` and the capped speaker merge run in
    Spark on the labelled segments.

    ``min_merged_duration`` is the reference's trailing W2 filter
    (speaker_rematch.py:43: drop merged segments with
    ``end - start <= min_duration``, default 3.0 s) — applied *after*
    the capped speaker merge, so brief isolated utterances don't reach
    host matching.
    """
    segs = single.where(F.col("end") - F.col("start") > min_duration)
    labeled = stubs.rematch_labels(
        audio, segs, min_chunks=min_chunks, backend=cluster_backend
    )
    # noise chunks (-1, from the dbscan backend) map to the reference's
    # "unknown" label (speaker_rematch.py:144), not a speaker id
    relabeled = labeled.withColumn(
        "speaker",
        F.when(F.col("label") < 0, F.lit("unknown")).otherwise(
            F.concat(F.lit("speaker_"), F.col("label").cast("string"))
        ),
    )
    mapping = (
        relabeled.groupBy("audio_id", "local_speaker")
        .agg(
            F.max_by(
                "speaker", F.struct((F.col("end") - F.col("start")), F.col("speaker"))
            ).alias("global_speaker")
        )
    )
    merged = sessionize_capped(
        relabeled.withColumn("start_us", _us(F.col("start"))).withColumn(
            "end_us", _us(F.col("end"))
        ),
        interval=0.25 * 1e6,
        max_duration=20.0 * 1e6,
        key="audio_id",
        break_cols=("speaker",),
    ).select(
        "audio_id",
        "speaker",
        (F.col("session_start") / 1e6).alias("start"),
        (F.col("session_end") / 1e6).alias("end"),
    ).where(F.col("end") - F.col("start") > min_merged_duration)
    return merged, mapping


def host_match_stage(
    audio: DataFrame,
    rematched: DataFrame,
    hosts: DataFrame,
    budget_sec: float = 180.0,
    early_exit: bool = True,
) -> DataFrame:
    """Rematched segments × host voiceprints → accepted matches.

    With ``early_exit`` (the default, mirroring the reference's
    verification-cost governor, host_rematch.py:49-96):

    * exactly 2 speakers whose duration ratio is ≥ 3: skip model
      verification entirely and match the *shorter* speaker to the
      first host with score 1.0 (reference takes ``host_ids[0]`` in
      directory order; we take ``min(host_id)`` for determinism);
    * otherwise (≠ 2 speakers) when the dominant speaker's duration is
      ≥ 2× the sum of the rest: drop the dominant speaker from
      verification and verify only the rest (with a single speaker
      this verifies nobody, as in the reference);
    * else verify every speaker.

    The verified speakers' segments are then budgeted longest first to
    ``budget_sec``, sliced, embedded and averaged per speaker. All of
    that, the durations and both rules included, is one kernel call per
    file (:func:`~speech_data_pipeline_spark.ml.stubs.host_match_speakers`),
    which gets the file's samples once. Spark then cross-joins its
    speakers with the broadcast host embeddings, runs the verifier, and
    ranks each ``(audio_id, host_id)``'s accepted speakers by score.
    """
    speakers = stubs.host_match_speakers(
        audio, rematched, budget_sec=budget_sec, early_exit=early_exit
    )
    host_emb = stubs.embed(hosts, samples_col="samples").select(
        F.col("host_id"), F.col("embedding").alias("emb_a")
    )
    scored = stubs.verify_pairs(speakers.crossJoin(F.broadcast(host_emb)))
    # One exchange on ``audio_id`` serves both windows. A shortcut file
    # verifies no speaker: its rows are its shorter speaker against every
    # host, and it keeps the first host's row, which ranks 1 alone.
    first_host = F.min("host_id").over(Window.partitionBy("audio_id"))
    w = Window.partitionBy("audio_id", "host_id").orderBy(
        F.col("score").desc(), F.col("speaker")
    )
    return (
        scored.withColumn("first_host", first_host)
        .where(
            F.when(F.col("shortcut"), F.col("host_id") == F.col("first_host"))
            .otherwise(F.col("prediction") & (F.col("score") > 0.5))
        )
        .withColumn("score", F.when(F.col("shortcut"), F.lit(1.0)).otherwise(F.col("score")))
        .withColumn("rank", F.row_number().over(w))
        .select("audio_id", "host_id", "speaker", "score", "audio_duration", "rank")
    )
