"""ML-inference operator surface (SURVEY.md §2.10, M1-M6) with
deterministic stub backends.

Every model stage of the pipeline becomes an Arrow-batched pandas
kernel (``mapInPandas`` for 1→N "table function" models, scalar pandas
UDF for 1→1 scoring) with a pluggable backend:

- the **stub** backend (this module) is a pure deterministic function of
  the waveform — CI-testable, no GPUs, no downloads;
- a **real** backend (Silero/MDX/Sortformer/ECAPA/...) plugs in
  behind the same column contract; per-executor model caching via the
  module-global `_MODEL_CACHE` pattern below (load once per worker
  process — the reference reloads Silero per *file*,
  modules/vad_multi.py:50, which this design fixes for free).

Cardinalities mirror SURVEY §2.10: M1/M3 are 1→N (mapInPandas), M4/M6
are 1→1 (scalar kernels), M5 is per-group (applyInPandas — the fit is
global per audio file). The reference's stage 5 (ASR M7, language ID
M8, alignment M9, DNSMOS M10) is switched off in its pipeline script
and has no stub here.

The pipeline's per-file model work runs as per-file kernels
(:func:`_per_file`): one ``mapInPandas`` call per file gets the file's
samples once, with all of its rows, so no row carries a whole
waveform. Separation (M2, :func:`separate`) scores a file's windows;
speaker rematch (:func:`rematch_labels`) slices, embeds (M4) and
clusters (M5) its segments; host matching
(:func:`host_match_speakers`) applies its early exits and budget, then
slices, embeds and averages the segments it verifies. The embedder
features (:func:`embed_features`) and the cluster labelling
(:func:`cluster_labels`) are plain NumPy functions that these kernels
and the DataFrame stubs :func:`embed` and :func:`cluster_per_group`
share.

No real model libraries exist in this container; real backends raise
NotImplementedError at the single `load_backend` seam.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-executor model cache: populated lazily inside kernels, survives
#: across Arrow batches and tasks in the same Python worker.
_MODEL_CACHE: dict[str, object] = {}


def _load_dbscan_backend():
    from speech_data_pipeline_spark.ml import clustering

    return clustering


#: Real backends that need nothing beyond NumPy — resolved like any
#: model backend (cached per executor). Backends requiring absent
#: model/codec libraries still raise at this same seam.
_REAL_BACKEND_FACTORIES = {
    "cluster:dbscan": _load_dbscan_backend,
}


def load_backend(name: str, backend: str = "stub"):
    """Resolve a model backend, caching per executor process."""
    key = f"{name}:{backend}"
    if key not in _MODEL_CACHE:
        if backend == "stub":
            _MODEL_CACHE[key] = object()  # stubs are stateless; marker only
        elif key in _REAL_BACKEND_FACTORIES:
            _MODEL_CACHE[key] = _REAL_BACKEND_FACTORIES[key]()
        else:
            raise NotImplementedError(
                f"real backend '{backend}' for {name} requires model "
                "libraries not present in this environment"
            )
    return _MODEL_CACHE[key]


# --------------------------------------------------------------------------
# M1: VAD — 1 audio → N speech segments
# --------------------------------------------------------------------------

VAD_SCHEMA = "audio_id string, start double, end double"


def vad(df: DataFrame, threshold: float = 0.01, min_gap: float = 0.02) -> DataFrame:
    """Energy-threshold VAD stub: emits maximal runs where |x| > threshold.

    Input: ``(audio_id, samples array<float>, sr)``. Output: VAD segment
    table in seconds (reference M1, modules/vad_multi.py:21-46).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        load_backend("vad")
        for pdf in batches:
            rows = []
            for aid, samples, sr in zip(pdf["audio_id"], pdf["samples"], pdf["sr"]):
                x = np.abs(np.asarray(samples, dtype=np.float64))
                active = x > threshold
                # Run edges: starts at even positions, ends at odd ones.
                edges = np.flatnonzero(
                    np.diff(np.concatenate(([False], active, [False])).astype(np.int8))
                )
                merged = []
                for s, e in zip(edges[0::2].tolist(), edges[1::2].tolist()):
                    if merged and (s - merged[-1][1]) / sr <= min_gap:
                        merged[-1] = (merged[-1][0], e)
                    else:
                        merged.append((s, e))
                for s, e in merged:
                    rows.append((aid, s / sr, e / sr))
            yield pd.DataFrame(rows, columns=["audio_id", "start", "end"])

    return df.mapInPandas(kernel, schema=VAD_SCHEMA)


# --------------------------------------------------------------------------
# M2: source separation — waveform → per-window (vocal, nonvocal) energy
# --------------------------------------------------------------------------

SEP_SCHEMA = "audio_id string, win_start long, win_end long, v_e double, nv_e double"


def _per_file(
    audio: DataFrame,
    rows: DataFrame,
    fields: tuple[str, ...],
    schema: str,
    fn,
) -> DataFrame:
    """One call ``fn(audio_id, samples, sr, rows)`` per file, all in one
    ``mapInPandas``: the ``fields`` of a file's ``rows`` are collected
    into one list (of dicts, in no set order) and joined to the file's
    ``(samples, sr)`` from ``audio`` once, so no row carries a whole
    waveform. ``samples`` reaches ``fn`` as a float64 array; ``fn``
    returns the file's output rows as tuples in ``schema``'s column
    order. A file with no ``rows``, or no ``audio`` row, gets no call.
    """
    per_file = rows.groupBy("audio_id").agg(
        F.collect_list(F.struct(*fields)).alias("_rows")
    )
    columns = [c.split()[0] for c in schema.split(",")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, samples, sr, file_rows in zip(
                pdf["audio_id"], pdf["samples"], pdf["sr"], pdf["_rows"]
            ):
                out.extend(fn(aid, np.asarray(samples, dtype=np.float64), sr, file_rows))
            yield pd.DataFrame(out, columns=columns)

    return (
        audio.select("audio_id", "samples", "sr")
        .join(per_file, "audio_id")
        .mapInPandas(kernel, schema=schema)
    )


def _segment(x: np.ndarray, sr: int, start: float, end: float) -> np.ndarray:
    """The samples ``[start*sr, end*sr)`` of ``x``: Spark's
    ``slice(samples, cast(start * sr as int) + 1, cast((end - start) *
    sr as int))``."""
    i = int(start * sr)
    return x[i:i + int((end - start) * sr)]


def separate(audio: DataFrame, windows: DataFrame, gate: float = 0.1) -> DataFrame:
    """Separation stub scored per window (M2 analog, deterministic).

    An amplitude gate splits each file's samples: those with
    ``|x| >= gate`` form the vocal track, the rest the nonvocal one.
    Each window ``(audio_id, win_start, win_end)`` (µs) of ``windows``
    gets the energy of both tracks over its ``int((win_end - win_start)
    / 1e6 * sr)`` samples from ``int(win_start / 1e6 * sr)`` on: one
    output row ``(audio_id, win_start, win_end, v_e, nv_e)``.

    Input ``audio``: ``(audio_id, samples, sr)``. One per-file kernel
    (:func:`_per_file`) does the gating and the scoring. Each energy is
    summed in sample order (``np.cumsum(...)[-1]``), the same left fold
    as Spark's ``aggregate``, so the sums are bit-identical to it.
    """

    def energy(track: np.ndarray) -> float:
        return float(np.cumsum(track * track)[-1]) if len(track) else 0.0

    def score(aid, x, sr, wins):
        load_backend("separator")
        mask = np.abs(x) >= gate
        voc, nvoc = np.where(mask, x, 0.0), np.where(mask, 0.0, x)
        for w in wins:
            s, e = int(w["win_start"]), int(w["win_end"])
            i = int(s / 1e6 * sr)
            n = int((e - s) / 1e6 * sr)
            yield aid, s, e, energy(voc[i:i + n]), energy(nvoc[i:i + n])

    return _per_file(audio, windows, ("win_start", "win_end"), SEP_SCHEMA, score)


# --------------------------------------------------------------------------
# M3: diarization — segments → speaker-tagged sub-segments (1→N)
# --------------------------------------------------------------------------

DIAR_SCHEMA = "audio_id string, start double, end double, speaker string"


def diarize(df: DataFrame, turn_sec: float = 1.0, n_speakers: int = 2) -> DataFrame:
    """Diarizer stub: alternates speakers every ``turn_sec`` within each
    input segment (deterministic phase from the segment start)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        load_backend("diarizer")
        for pdf in batches:
            rows = []
            for aid, s, e in zip(pdf["audio_id"], pdf["start"], pdf["end"]):
                t = s
                while t < e:
                    nxt = min(t + turn_sec, e)
                    spk = f"speaker_{int(t // turn_sec) % n_speakers}"
                    rows.append((aid, t, nxt, spk))
                    t = nxt
            yield pd.DataFrame(rows, columns=["audio_id", "start", "end", "speaker"])

    return df.mapInPandas(kernel, schema=DIAR_SCHEMA)


# --------------------------------------------------------------------------
# M4: embedding — chunk → fixed-dim vector
# --------------------------------------------------------------------------

EMB_DIM = 8


def embed_features(x: np.ndarray) -> list[float]:
    """The stub embedder's vector of one float64 waveform: mean, std,
    abs-mean, rms, min, max, zero-cross rate and length-log."""
    if len(x) == 0:
        return [0.0] * EMB_DIM
    zc = float(np.mean(np.abs(np.diff(np.sign(x))) > 0)) if len(x) > 1 else 0.0
    return [
        float(np.mean(x)),
        float(np.std(x)),
        float(np.mean(np.abs(x))),
        float(np.sqrt(np.mean(x * x))),
        float(np.min(x)),
        float(np.max(x)),
        zc,
        float(np.log1p(len(x))),
    ]


def embed(df: DataFrame, samples_col: str = "samples") -> DataFrame:
    """Embedder stub (M4 analog): appends ``embedding array<double>``,
    the :func:`embed_features` of each row's waveform."""

    @F.pandas_udf("array<double>")
    def _embed(samples: pd.Series) -> pd.Series:
        load_backend("embedder")
        return samples.map(lambda v: embed_features(np.asarray(v, dtype=np.float64)))

    return df.withColumn("embedding", _embed(F.col(samples_col)))


# --------------------------------------------------------------------------
# M5: per-file clustering — all chunks of one audio → labels
# --------------------------------------------------------------------------


def cluster_labels(
    embeddings: list, distance_threshold: float = 0.5, backend: str = "stub"
) -> list[int]:
    """Cluster labels of one file's chunk embeddings, in input order.

    Backends:

    - ``stub`` — greedy leader clustering (CI-cheap, order-stable);
    - ``dbscan`` — REAL pure-NumPy density clustering
      (ml/clustering.py): DBSCAN at ``eps=distance_threshold`` with the
      reference's ``max(2, 4% n)`` cluster-size floor and its
      noise-rescue pass; noise stays ``-1`` exactly as the reference's
      unmatched label.
    """
    be = load_backend("cluster", backend)
    X = [np.asarray(v, dtype=np.float64) for v in embeddings]
    if backend == "dbscan":
        return [int(x) for x in be.cluster_embeddings(np.stack(X), eps=distance_threshold)]
    leaders: list[np.ndarray] = []
    labels = []
    for x in X:
        for li, l in enumerate(leaders):
            if np.linalg.norm(x - l) <= distance_threshold:
                labels.append(li)
                break
        else:
            leaders.append(x)
            labels.append(len(leaders) - 1)
    return labels


def cluster_per_group(
    df: DataFrame,
    key: str = "audio_id",
    emb_col: str = "embedding",
    distance_threshold: float = 0.5,
    backend: str = "stub",
) -> DataFrame:
    """Per-file clustering (M5): fit per key inside applyInPandas —
    the per-group-global-fit shape of UMAP+HDBSCAN in the reference
    (modules/speaker_rematch.py:90-137), deterministic (input-order by
    chunk index, fixed threshold). Appends ``label int``; see
    :func:`cluster_labels` for the backends.
    """
    other_cols = [c for c in df.columns if c not in (key, emb_col)]
    in_types = dict(df.dtypes)
    schema_parts = [f"{key} {in_types[key]}"]
    schema_parts += [f"{c} {in_types[c]}" for c in other_cols]
    schema_parts.append("label int")
    schema = ", ".join(schema_parts)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        sort_cols = [c for c in ("chunk_idx", "start") if c in pdf.columns]
        if sort_cols:
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
        out = pdf[[key, *other_cols]].copy()
        out["label"] = cluster_labels(pdf[emb_col], distance_threshold, backend)
        return out

    return df.groupBy(key).applyInPandas(kernel, schema=schema)


# --------------------------------------------------------------------------
# Stage-4 per-file kernels: slice → embed → cluster, and slice → embed →
# per-speaker mean for host verification
# --------------------------------------------------------------------------

REMATCH_SCHEMA = (
    "audio_id string, start double, end double, local_speaker string, label int"
)


def rematch_labels(
    audio: DataFrame,
    segs: DataFrame,
    min_chunks: int = 2,
    backend: str = "stub",
) -> DataFrame:
    """Speaker rematch chunks (M4 → M5) in one per-file kernel.

    ``segs``: ``(audio_id, start, end, tag)`` single-speaker segments
    (seconds). Per file, in ``start`` order, each segment's samples are
    sliced (:func:`_segment`) and embedded (:func:`embed_features`), and
    the embeddings are clustered (:func:`cluster_labels`). A file with
    fewer than ``min_chunks`` segments is dropped. Output: one row
    ``(audio_id, start, end, local_speaker, label)`` per segment.
    """

    def label(aid, x, sr, rows):
        if len(rows) < min_chunks:
            return []
        load_backend("embedder")
        rows = sorted(rows, key=lambda r: (r["start"], r["end"], r["tag"]))
        embs = [embed_features(_segment(x, sr, r["start"], r["end"])) for r in rows]
        labels = cluster_labels(embs, backend=backend)
        return [
            (aid, r["start"], r["end"], r["tag"], lab) for r, lab in zip(rows, labels)
        ]

    return _per_file(audio, segs, ("start", "end", "tag"), REMATCH_SCHEMA, label)


HOST_SPEAKER_SCHEMA = (
    "audio_id string, speaker string, emb_b array<double>, "
    "audio_duration double, shortcut boolean"
)


def host_match_speakers(
    audio: DataFrame,
    segs: DataFrame,
    budget_sec: float = 180.0,
    early_exit: bool = True,
) -> DataFrame:
    """The speakers of each file that host matching verifies, with their
    mean embedding, in one per-file kernel (reference
    host_rematch.py:49-96).

    ``segs``: ``(audio_id, speaker, start, end)`` rematched segments.
    Per file:

    1. each speaker's duration, its segments' ``end - start`` summed in
       ``start`` order;
    2. with ``early_exit``, the two rules of
       :func:`~speech_data_pipeline_spark.plans.stages.host_match_stage`:
       the two-speaker shortcut emits the shorter speaker as a
       ``shortcut`` row (``emb_b`` null, ``audio_duration`` its whole
       duration) and verifies nobody, and a dominant speaker is left out
       of verification;
    3. the verified speakers' segments are taken longest first while
       their running total of whole microseconds stays within
       ``budget_sec`` (A12, ties by speaker, then start);
    4. each kept segment is sliced and embedded, and each speaker gets
       one row with the mean of its embeddings (``emb_b``) and the sum of
       their durations (``audio_duration``), both accumulated in that
       longest-first order.

    Every sum starts at 0.0 and adds in the order stated. Spark leaves
    the order of an aggregate's inputs to the physical plan; this is the
    order in which the stage's former DataFrame plan fed its aggregates
    (the budget window's, for the means), so the stage tables are
    bit-identical to that plan's.
    """
    budget = int(budget_sec * 1e6)

    def dur_us(r) -> int:
        return math.floor((r["end"] - r["start"]) * 1_000_000.0)

    def speakers(aid, x, sr, rows):
        # Explicit left folds: sum() compensates float error on Python 3.12+.
        spk_dur: dict[str, float] = {}
        for r in sorted(rows, key=lambda r: (r["start"], r["end"], r["speaker"])):
            spk_dur[r["speaker"]] = spk_dur.get(r["speaker"], 0.0) + (r["end"] - r["start"])
        ranked = sorted(spk_dur, key=lambda s: (-spk_dur[s], s))
        verify = set(ranked)
        if early_exit:
            total = 0.0
            for s in ranked:
                total += spk_dur[s]
            top = spk_dur[ranked[0]]
            if len(ranked) == 2 and top >= 3.0 * (total - top):
                return [(aid, ranked[1], None, spk_dur[ranked[1]], True)]
            if len(ranked) != 2 and top >= 2.0 * (total - top):
                verify.discard(ranked[0])
        candidates = sorted(
            (r for r in rows if r["speaker"] in verify),
            key=lambda r: (-dur_us(r), r["speaker"], r["start"]),
        )
        load_backend("embedder")
        acc: dict[str, tuple[list[float], float, int]] = {}
        used = 0
        for r in candidates:
            used += dur_us(r)
            if used > budget:
                continue
            emb = embed_features(_segment(x, sr, r["start"], r["end"]))
            sums, dur, n = acc.get(r["speaker"], ([0.0] * EMB_DIM, 0.0, 0))
            acc[r["speaker"]] = (
                [a + e for a, e in zip(sums, emb)], dur + (r["end"] - r["start"]), n + 1
            )
        return [
            (aid, spk, [a / n for a in sums], dur, False)
            for spk, (sums, dur, n) in acc.items()
        ]

    return _per_file(
        audio, segs, ("speaker", "start", "end"), HOST_SPEAKER_SCHEMA, speakers
    )


# --------------------------------------------------------------------------
# M6: pairwise verification — (emb_a, emb_b) → score
# --------------------------------------------------------------------------


def verify_pairs(df: DataFrame, a_col: str = "emb_a", b_col: str = "emb_b") -> DataFrame:
    """Verification stub: cosine similarity of embeddings + boolean
    prediction at 0.25 (M6 analog over the J5 cross join). A pair with
    a null embedding scores 0.0."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        load_backend("verifier")

        def cos(p):
            if p[0] is None or p[1] is None:
                return 0.0
            # Fresh copies: on arrays that view the Arrow batch in place,
            # the dot product's rounding depends on their position in it.
            x = np.array(p[0], dtype=float, copy=True)
            y = np.array(p[1], dtype=float, copy=True)
            nx, ny = np.linalg.norm(x), np.linalg.norm(y)
            if nx == 0 or ny == 0:
                return 0.0
            return float(np.dot(x, y) / (nx * ny))

        return pd.Series([cos(p) for p in zip(a, b)])

    # Nondeterministic only to the optimizer: it keeps a filter on
    # ``score`` above this projection, so ``_cos`` runs once per pair
    # instead of again inside the pushed-down filter.
    score = _cos.asNondeterministic()(F.col(a_col), F.col(b_col))
    return df.withColumn("score", score).withColumn("prediction", F.col("score") > 0.25)
