"""The reference's five-stage pipeline as composable DataFrame
functions (SURVEY.md §3 traces), on stub model backends.

Each stage is DataFrame→DataFrame; the shell-script orchestration of
the reference (scripts/data_pipeline.sh:18-70, one process + JSON files
per stage) collapses into one lineage with optional parquet checkpoints
between stages. The ``audio_id`` partition key flows through every
stage: the session and sweep kernels, windows and aggregates that need
a file's rows together shuffle on it. A sub-plan that two branches of a
stage need is computed once: the separation kernel scores every window
of a file in one call, diarization projects its sweep once, rematch
counts chunks on the exchange its clustering uses, and host matching
reuses its per-speaker table's exchanges in both branches.

Stage ↔ reference trace map:
  vad_stage          → §3.2 (scan → VAD M1 → pad/clamp F11 → merge W1)
  separation_stage   → separation_filter.py: lead-gap J4 + windows W4 +
                       per-file separation M2 and energy A5/A6 + ratio
                       projections
  diarization_stage  → §3.3 (vocal combine F1/F2/U1/W9/W1 →
                       diarize M3 → sweep W3 → overlap flag F5)
  rematch_stage      → speaker_rematch.py: chunk F3/F4 → embed M4 →
                       per-file cluster M5 → relabel X3 → merge W2 →
                       mapping join J6, guards F9/F10
  host_match_stage   → host_rematch.py: A1 durations → A12 budget →
                       J5 cross-join verify M6 → F6 accept → W11 rank
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from speech_data_pipeline_spark.ml import stubs
from speech_data_pipeline_spark.operators.intervals import clamp
from speech_data_pipeline_spark.operators.multimodal import attach_sliced_samples
from speech_data_pipeline_spark.operators.sessions import (
    sessionize_capped,
    sessionize_gap,
)
from speech_data_pipeline_spark.operators.sweepline import flatten_active_sets
from speech_data_pipeline_spark.operators.windows import (
    budgeted_topk,
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
) -> tuple[DataFrame, DataFrame]:
    """VAD segments → (windowed vocal-ratio table, gap/nonvad table)."""
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
        .withColumn("nv_r", 1 - F.col("v_r"))
        .select(
            "audio_id",
            (F.col("win_start") / 1e6).alias("start"),
            (F.col("win_end") / 1e6).alias("end"),
            "v_r",
            "nv_r",
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
            F.struct(F.col("start").alias("s"), F.col("end").alias("e")).alias("prev"),
        )
    )
    return scored, gaps


def diarization_stage(
    scored: DataFrame,
    gaps: DataFrame,
    v_r_threshold: float = 0.5,
    max_chunk: float = 1000.0,
    join_interval: float = 5.0,
) -> DataFrame:
    """Windowed scores + gaps → speaker segment table.

    One row per flattened timeline piece: ``(audio_id, speaker, start,
    end, overlapping)``, where ``speaker`` is the active tags joined by
    ``+`` and ``overlapping`` says more than one is active (F5). A
    single projection of the sweep, so the chain under it runs once.
    """
    vocal = scored.where(F.col("v_r") >= v_r_threshold).select(
        "audio_id", "start", "end", F.lit("voice").alias("seg_type")
    )
    silence = gaps.select(
        "audio_id", "start", "end", F.lit("silence").alias("seg_type")
    )
    unioned = vocal.unionByName(silence)
    combined = sessionize_capped(
        unioned.withColumn("start_us", _us(F.col("start"))).withColumn(
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

    ``audio`` may be the full-waveform table or the chunked one from
    :func:`~speech_data_pipeline_spark.operators.multimodal.chunk_waveforms`
    — long files MUST use the chunked form at scale (SURVEY.md §7
    known-hard #5); ``attach_sliced_samples`` handles both identically.

    ``min_merged_duration`` is the reference's trailing W2 filter
    (speaker_rematch.py:43: drop merged segments with
    ``end - start <= min_duration``, default 3.0 s) — applied *after*
    the capped speaker merge, so brief isolated utterances don't reach
    host matching.
    """
    segs = single.where(F.col("end") - F.col("start") > min_duration)
    sliced = attach_sliced_samples(segs, audio).select(
        "audio_id",
        "start",
        "end",
        F.col("tag").alias("local_speaker"),
        "samples",
    )
    # files with enough chunks: a count over the file, whose exchange on
    # ``audio_id`` the per-file clustering reuses
    n_chunks = F.count(F.lit(1)).over(Window.partitionBy("audio_id"))
    emb = (
        stubs.embed(sliced).drop("samples")
        .withColumn("n_chunks", n_chunks)
        .where(F.col("n_chunks") >= min_chunks)
        .drop("n_chunks")
    )
    labeled = stubs.cluster_per_group(emb, key="audio_id", backend=cluster_backend)
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

    At scale this is the knob that keeps the expensive slice→embed→
    verify path off the hosts-dominated bulk of the corpus; the
    heuristics themselves are one window over the per-speaker duration
    table (one shuffle on ``audio_id``, no model calls), computed once
    for both branches.
    """
    # A row without a key belongs to no file. Dropping it here, and not
    # only where the semi-join below infers that filter on its stats
    # side, gives both branches the same stats sub-plan, so Spark runs
    # its two shuffles once and reuses them in the other branch.
    durs = rematched.where(F.col("audio_id").isNotNull()).withColumn(
        "dur", F.col("end") - F.col("start")
    )
    shortcut_matches = None
    if early_exit:
        w_all = Window.partitionBy("audio_id")
        w_rank = Window.partitionBy("audio_id").orderBy(
            F.col("spk_dur").desc(), F.col("speaker")
        )
        stats = (
            durs.groupBy("audio_id", "speaker")
            .agg(F.sum("dur").alias("spk_dur"))
            .withColumn("n_speakers", F.count(F.lit(1)).over(w_all))
            .withColumn("total_dur", F.sum("spk_dur").over(w_all))
            .withColumn("top_dur", F.max("spk_dur").over(w_all))
            .withColumn("rnk", F.row_number().over(w_rank))
        )
        rest = F.col("total_dur") - F.col("top_dur")
        two_shortcut = (F.col("n_speakers") == 2) & (F.col("top_dur") >= 3.0 * rest)
        dominant_skip = (F.col("n_speakers") != 2) & (F.col("top_dur") >= 2.0 * rest)
        stats = stats.withColumn(
            "verify",
            F.when(two_shortcut, F.lit(False))
            .when(dominant_skip, F.col("rnk") > 1)
            .otherwise(F.lit(True)),
        )
        first_host = hosts.select(F.min("host_id").alias("host_id")).where(
            F.col("host_id").isNotNull()
        )
        shortcut_matches = (
            stats.where(two_shortcut & (F.col("rnk") == 2))
            .crossJoin(F.broadcast(first_host))
            .select(
                "audio_id",
                "host_id",
                "speaker",
                F.lit(1.0).alias("score"),
                F.col("spk_dur").alias("audio_duration"),
                F.lit(1).alias("rank"),
            )
        )
        durs = durs.join(
            stats.where(F.col("verify")).select("audio_id", "speaker"),
            ["audio_id", "speaker"],
            "left_semi",
        )
    budgeted = budgeted_topk(
        durs.withColumn("dur_us", _us(F.col("dur"))),
        budget=int(budget_sec * 1e6),
        key="audio_id",
        weight_col="dur_us",
        order_cols=("speaker", "start"),
    )
    sliced = attach_sliced_samples(budgeted, audio).select(
        "audio_id", "speaker", "samples", "dur"
    )
    spk_emb = (
        stubs.embed(sliced)
        .groupBy("audio_id", "speaker")
        .agg(
            F.array(*[F.avg(F.col("embedding")[i]) for i in range(stubs.EMB_DIM)]).alias(
                "emb_b"
            ),
            F.sum("dur").alias("audio_duration"),
        )
    )
    host_emb = stubs.embed(hosts, samples_col="samples").select(
        F.col("host_id"), F.col("embedding").alias("emb_a")
    )
    scored = stubs.verify_pairs(spk_emb.crossJoin(F.broadcast(host_emb)))
    accepted = scored.where(F.col("prediction") & (F.col("score") > 0.5))
    w = Window.partitionBy("audio_id", "host_id").orderBy(
        F.col("score").desc(), F.col("speaker")
    )
    verified = accepted.withColumn("rank", F.row_number().over(w)).select(
        "audio_id", "host_id", "speaker", "score", "audio_duration", "rank"
    )
    if shortcut_matches is not None:
        # shortcut files verify no speakers, so the union introduces no
        # duplicate (audio_id, host_id) groups and rank=1 stands alone
        verified = verified.unionByName(shortcut_matches)
    return verified
