"""Seeded inputs for the benchmark, generated before anything is timed.

``clips``: 16 kHz 16-bit mono PCM WAV files, each built around one
of the host voices. A clip alternates speech bursts of its host and of
a guest voice with noise gaps whose amplitude stays under the stub VAD
threshold (|x| <= 0.01), so the VAD sees the bursts and never the gaps.
A voice is a fixed fundamental with two harmonics under a
syllable-rate envelope; host voices are loud and guest voices quiet,
so the stub embedder tells them apart and both reach host matching.
Host voiceprints are short clips of the host voices.

``segment_queries``: an ``events`` parquet table with the schema of
the registry's test data (``event_id, ts, user_id, event_type, value,
props``), from which ``sources.catalog.derived_intervals`` derives the
segment table the interval queries read.

Generation is pure NumPy/pyarrow and deterministic per (workload,
seed): the same pair always yields byte-identical files.
"""

from __future__ import annotations

import io
import os
import wave

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("clips", "segment_queries")

SR = 16_000
#: Peak noise amplitude in the gaps; the stub VAD threshold is 0.01.
NOISE_PEAK = 0.006
#: ``clips``: many small files, so per-file and per-task overhead
#: dominate. A ``turns`` clip has one host burst and one guest burst of
#: comparable length, in seeded order, so host matching verifies both
#: speakers. A ``dominated`` clip has a guest burst over three times as
#: long as its host burst with the gap after it (at least 16.5 s to at
#: most 5 s), so host matching takes its two-speaker shortcut, which
#: names the first host: it is built around ``host_0``. Every burst
#: outlasts the rematch stage's 3 s minimum merged segment, so both
#: voices of a clip reach host matching whatever the seed.
CLIP_KINDS = ("turns",) * 5 + ("dominated",)
TURN_SECONDS = (4.2, 5.0)
DOMINATED_HOST_SECONDS = (4.2, 4.5)
DOMINATED_GUEST_SECONDS = (16.5, 17.5)
GAP_SECONDS = (0.4, 0.9)
N_HOSTS = 2
HOST_SECONDS = 3.0
#: Loud hosts and quiet guests: the stub embedder's amplitude features
#: put them well over its 0.5 clustering distance apart.
HOST_LEVEL = (0.85, 0.95)
GUEST_LEVEL = (0.28, 0.36)

#: ``segment_queries``: users (the segment table's partition key) and
#: events per user, spread over 30 days.
N_USERS = 40
EVENTS_PER_USER = 60
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
DAYS = 30
EPOCH_2024_US = 1_704_067_200_000_000


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOADS.index(workload)])


def _voice(rng: np.random.Generator, level: tuple[float, float]) -> tuple[float, float]:
    """(fundamental Hz, level) of one speaker."""
    return float(rng.uniform(90, 260)), float(rng.uniform(*level))


def _burst(rng: np.random.Generator, voice: tuple[float, float], seconds: float) -> np.ndarray:
    f0, level = voice
    t = np.arange(int(seconds * SR)) / SR
    tone = (
        np.sin(2 * np.pi * f0 * t)
        + 0.5 * np.sin(2 * np.pi * 2 * f0 * t)
        + 0.25 * np.sin(2 * np.pi * 3 * f0 * t)
    ) / 1.75
    syll = 0.6 + 0.4 * np.abs(np.sin(2 * np.pi * rng.uniform(3.0, 5.0) * t))
    return level * syll * tone


def _noise(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.uniform(-NOISE_PEAK, NOISE_PEAK, n)


def speech_clip(rng: np.random.Generator, bursts) -> np.ndarray:
    """A noise gap, then each ``(voice, seconds)`` burst followed by a
    noise gap of at least ``GAP_SECONDS[0]``.

    Each burst and the gap after it span whole seconds, so every burst
    starts a whole number of seconds after the first: the stub
    diarizer cuts a file's speech into 1 s turns from its first VAD
    onset, and so no turn holds the noise before a burst together with
    a sliver of its voice. Such a turn embeds far from both voices,
    and the rematch stage can then split the next voice into runs too
    short to keep."""
    parts = [_noise(rng, int(rng.uniform(*GAP_SECONDS) * SR))]
    for voice, seconds in bursts:
        burst = _burst(rng, voice, seconds)
        span = -(-(len(burst) + int(GAP_SECONDS[0] * SR)) // SR) * SR
        parts += [burst, _noise(rng, span - len(burst))]
    return np.concatenate(parts)


def wav_bytes(x: np.ndarray) -> bytes:
    """16-bit mono PCM WAV encoding of ``x`` in [-1, 1]."""
    pcm = np.clip(np.rint(x * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(SR)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def generate_clips(seed: int) -> tuple[dict[str, bytes], dict[str, bytes], dict[str, tuple[str, float]]]:
    """``({clip_name: wav}, {host_name: wav}, {clip_id: (host_id,
    seconds)})`` for one seed; the last names the host each clip is
    built around, and its length."""
    rng = _rng("clips", seed)
    hosts = [_voice(rng, HOST_LEVEL) for _ in range(N_HOSTS)]
    guests = [_voice(rng, GUEST_LEVEL) for _ in range(N_HOSTS)]
    clips, manifest = {}, {}
    for i, kind in enumerate(CLIP_KINDS):
        h = i % N_HOSTS if kind == "turns" else 0
        guest = guests[int(rng.integers(len(guests)))]
        if kind == "turns":
            bursts = [(hosts[h], rng.uniform(*TURN_SECONDS)), (guest, rng.uniform(*TURN_SECONDS))]
            bursts = [bursts[j] for j in rng.permutation(2)]
        else:
            bursts = [
                (hosts[h], rng.uniform(*DOMINATED_HOST_SECONDS)),
                (guest, rng.uniform(*DOMINATED_GUEST_SECONDS)),
            ]
        x = speech_clip(rng, bursts)
        clips[f"clip_{i:03d}.wav"] = wav_bytes(x)
        manifest[f"clip_{i:03d}"] = (f"host_{h}", len(x) / SR)
    voiceprints = {
        f"host_{h}.wav": wav_bytes(speech_clip(rng, [(hosts[h], HOST_SECONDS)]))
        for h in range(N_HOSTS)
    }
    return clips, voiceprints, manifest


def write_clips(root: str, seed: int) -> tuple[str, str, dict[str, tuple[str, float]]]:
    """Write the clip corpus under ``root``; returns (audio dir, host
    dir, manifest)."""
    clips, hosts, manifest = generate_clips(seed)
    audio_dir = os.path.join(root, "audio")
    host_dir = os.path.join(root, "hosts")
    for d, files in ((audio_dir, clips), (host_dir, hosts)):
        os.makedirs(d, exist_ok=True)
        for name, blob in files.items():
            with open(os.path.join(d, name), "wb") as f:
                f.write(blob)
    return audio_dir, host_dir, manifest


def events_table(seed: int) -> pa.Table:
    """The ``events`` table for one seed, in timestamp order."""
    rng = _rng("segment_queries", seed)
    n = N_USERS * EVENTS_PER_USER
    ts = np.sort(EPOCH_2024_US + rng.integers(0, DAYS * 86_400 * 10**6, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, n).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.uniform(0.01, 200.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def events_parquet(seed: int) -> bytes:
    buf = io.BytesIO()
    pq.write_table(events_table(seed), buf)
    return buf.getvalue()


def write_events(root: str, seed: int) -> str:
    """Write ``events.parquet`` under ``root``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "events.parquet"), "wb") as f:
        f.write(events_parquet(seed))
    return root
