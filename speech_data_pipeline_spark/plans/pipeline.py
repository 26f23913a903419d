"""Composed pipeline runner (SURVEY.md §3.1): the five stages chained
with incremental parquet checkpoints between them.

The reference's orchestration — a shell loop running one Python process
per stage per dataset, exchanging JSON files under
``{audio}_outputs/{stage}/`` (scripts/data_pipeline.sh:18-70,
modules/models/utils.py:190-195) — becomes: one SparkSession, one
keyed table per stage under ``workdir/{stage}``, each stage running
only for keys absent from its table (plans/incremental.pending). Stage
gating (run_vad/run_sep_filter/... flags, sh:10-14) maps to the
``stages`` argument.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from speech_data_pipeline_spark.plans import stages as st
from speech_data_pipeline_spark.plans.incremental import run_incremental_stage

STAGE_ORDER = ("vad", "separation", "diarization", "rematch", "host_match")


def run_pipeline(
    spark: SparkSession,
    audio: DataFrame,
    workdir: str,
    hosts: DataFrame | None = None,
    stages: tuple[str, ...] = STAGE_ORDER,
    stage_conf: dict[str, dict] | None = None,
) -> dict[str, DataFrame]:
    """Run the pipeline incrementally; returns {stage: full stage table}.

    Re-running with a superset corpus computes only new ``audio_id``s
    per stage; stage tables append idempotently.

    ``stage_conf`` passes per-stage keyword overrides straight to the
    stage functions (the analog of the reference's per-stage CLI flags,
    scripts/data_pipeline.sh:10-14), e.g.
    ``{"rematch": {"min_merged_duration": 0.0}}``.
    """
    out: dict[str, DataFrame] = {}
    conf = stage_conf or {}

    def path(stage: str) -> str:
        return os.path.join(workdir, stage)

    def upstream(stage: str) -> DataFrame:
        # Read the stage's table only when this call did not run it.
        return out[stage] if stage in out else _load(spark, path(stage))

    if "vad" in stages:
        out["vad"] = run_incremental_stage(
            spark, audio, lambda a: st.vad_stage(a, **conf.get("vad", {})), path("vad")
        )
    if "separation" in stages:
        vad = upstream("vad")

        def sep(todo_audio: DataFrame) -> DataFrame:
            scored, gaps = st.separation_stage(todo_audio, vad.join(
                todo_audio.select("audio_id").distinct(), "audio_id"
            ), **conf.get("separation", {}))
            return scored.withColumn("kind", F.lit("window")).unionByName(
                gaps.select(
                    "audio_id", "start", "end",
                    F.lit(None).cast("double").alias("v_r"),
                    F.lit(None).cast("double").alias("nv_r"),
                    F.lit("gap").alias("kind"),
                )
            )

        out["separation"] = run_incremental_stage(spark, audio, sep, path("separation"))
    if "diarization" in stages:
        sep_tbl = upstream("separation")

        def diar(todo_audio: DataFrame) -> DataFrame:
            mine = sep_tbl.join(todo_audio.select("audio_id").distinct(), "audio_id")
            scored = mine.where(F.col("kind") == "window").drop("kind")
            gaps = mine.where(F.col("kind") == "gap").select("audio_id", "start", "end")
            single, overlap = st.diarization_stage(scored, gaps, **conf.get("diarization", {}))
            return single.withColumnRenamed("tag", "speaker").withColumn(
                "overlapping", F.lit(False)
            ).unionByName(
                overlap.select(
                    "audio_id",
                    F.concat_ws("+", "tags").alias("speaker"),
                    F.lit(True).alias("overlapping"),
                    "start",
                    "end",
                )
            )

        out["diarization"] = run_incremental_stage(spark, audio, diar, path("diarization"))
    if "rematch" in stages:
        diar_tbl = upstream("diarization")

        def rematch(todo_audio: DataFrame) -> DataFrame:
            single = (
                diar_tbl.join(todo_audio.select("audio_id").distinct(), "audio_id")
                .where(~F.col("overlapping"))
                .select("audio_id", "start", "end", F.col("speaker").alias("tag"))
            )
            merged, mapping = st.rematch_stage(
                todo_audio, single, **conf.get("rematch", {})
            )
            return merged
        out["rematch"] = run_incremental_stage(spark, audio, rematch, path("rematch"))
    if "host_match" in stages and hosts is not None:
        rem_tbl = upstream("rematch")

        def match(todo_audio: DataFrame) -> DataFrame:
            mine = rem_tbl.join(todo_audio.select("audio_id").distinct(), "audio_id")
            return st.host_match_stage(
                todo_audio, mine.drop("status", "error"), hosts,
                **conf.get("host_match", {})
            )

        out["host_match"] = run_incremental_stage(spark, audio, match, path("host_match"))
    return out


def _load(spark: SparkSession, path: str) -> DataFrame:
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"stage table {path} missing - run its upstream stage first"
        )
    return spark.read.parquet(path)
