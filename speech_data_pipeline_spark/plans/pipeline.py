"""Composed pipeline runner (SURVEY.md §3.1): the five stages chained
with incremental parquet checkpoints between them.

The reference's orchestration — a shell loop running one Python process
per stage per dataset, exchanging JSON files under
``{audio}_outputs/{stage}/`` (scripts/data_pipeline.sh:18-70,
modules/models/utils.py:190-195) — becomes: one SparkSession, one
keyed table per stage under ``workdir/{stage}``, each stage running
only for keys absent from its table (plans/incremental.pending_keys).
Stage gating (run_vad/run_sep_filter/... flags, sh:10-14) maps to the
``stages`` argument.

``STAGES`` is the pipeline as data: each stage names its upstream stage
and a function of the pending audio, that upstream's rows for the
pending files, the host voiceprints and the stage's keyword conf.
``run_pipeline`` is one loop over it.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from speech_data_pipeline_spark.plans import stages as st
from speech_data_pipeline_spark.plans.incremental import (
    listed_keys,
    pending_keys,
    read_table,
    run_incremental_stage,
)

#: The local properties ``SparkContext.setJobGroup`` sets.
_JOB_GROUP_PROPERTIES = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"
)


def _vad(audio: DataFrame, _up, _hosts, **kw) -> DataFrame:
    return st.vad_stage(audio, **kw)


def _separation(audio: DataFrame, vad: DataFrame, _hosts, **kw) -> DataFrame:
    return st.separation_stage(audio, vad, **kw)


def _diarization(audio: DataFrame, sep: DataFrame, _hosts, **kw) -> DataFrame:
    return st.diarization_stage(sep, **kw)


def _rematch(audio: DataFrame, diar: DataFrame, _hosts, **kw) -> DataFrame:
    single = diar.where(~F.col("overlapping")).select(
        "audio_id", "start", "end", F.col("speaker").alias("tag")
    )
    merged, _mapping = st.rematch_stage(audio, single, **kw)
    return merged


def _host_match(audio: DataFrame, rematched: DataFrame, hosts: DataFrame, **kw) -> DataFrame:
    return st.host_match_stage(audio, rematched.drop("status", "error"), hosts, **kw)


#: name -> (upstream stage, fn(pending audio, upstream rows of the
#: pending files, hosts, **stage_conf[name])), in run order.
STAGES = {
    "vad": (None, _vad),
    "separation": ("vad", _separation),
    "diarization": ("separation", _diarization),
    "rematch": ("diarization", _rematch),
    "host_match": ("rematch", _host_match),
}
STAGE_ORDER = tuple(STAGES)


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
    per stage; stage tables append idempotently. ``host_match`` runs
    only when ``hosts`` is given.

    One job collects the ``audio_id``s of ``audio`` per call. Each stage
    then takes its pending keys on the Spark driver (those without an
    ``ok`` row in its table, read with no job while the table does not
    exist) and gets ``audio`` and its upstream's rows filtered to those
    keys: no anti-join, no emptiness probe and no key exchange. A stage
    with nothing pending only reads the keys of its table, in one job;
    the table it returns takes its schema from a part file's footer.

    ``audio`` and ``hosts`` are persisted for the length of the call
    (unless the caller already cached them) and released when it ends,
    so the listing and every stage read one decoded copy: a pass
    decodes each file once, not once per job.

    Each stage's jobs run in the job group ``pipeline:<stage>``; the
    caller's job group is restored when the call ends.

    ``stage_conf`` passes per-stage keyword overrides straight to the
    stage functions (the analog of the reference's per-stage CLI flags,
    scripts/data_pipeline.sh:10-14), e.g.
    ``{"rematch": {"min_merged_duration": 0.0}}``.
    """
    conf = stage_conf or {}
    out: dict[str, DataFrame] = {}
    sc = spark.sparkContext
    caller_group = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPERTIES}
    owned = [
        df for df in (audio, hosts)
        if df is not None and df.storageLevel == StorageLevel.NONE
    ]
    for df in owned:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        ids = listed_keys(audio)
        for name, (up, fn) in STAGES.items():
            if name not in stages or (name == "host_match" and hosts is None):
                continue
            sc.setJobGroup(f"pipeline:{name}", name)
            path = os.path.join(workdir, name)
            upstream = None
            if up is not None:
                # Read the upstream table only when this call did not run it.
                upstream = out[up] if up in out else _load(spark, os.path.join(workdir, up))
            keys = pending_keys(spark, ids, path)

            def stage_fn(todo, fn=fn, upstream=upstream, keys=keys, kw=conf.get(name, {})):
                if upstream is not None:  # its rows for the pending files
                    upstream = upstream.where(F.col("audio_id").isin(keys))
                return fn(todo, upstream, hosts, **kw)

            out[name] = run_incremental_stage(spark, audio, stage_fn, path, keys=keys)
        return out
    finally:
        for k, v in caller_group.items():
            sc.setLocalProperty(k, v)
        for df in owned:
            df.unpersist()


def _load(spark: SparkSession, path: str) -> DataFrame:
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"stage table {path} missing - run its upstream stage first"
        )
    return read_table(spark, path)
