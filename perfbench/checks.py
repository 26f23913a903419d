"""Output checks: the five stage tables, read straight from their
parquet directories (no Spark, so checking adds no Spark jobs), and
interval-query results against the registry's DuckDB oracle SQL.

Each stage check returns a list of problems; an empty list means the
stage table passed.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os

import pyarrow.parquet as pq

EPS = 1e-6


def read_stage(workdir: str, stage: str) -> list[dict]:
    path = os.path.join(workdir, stage)
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def multiset(rows: list[dict]) -> list[tuple]:
    return sorted((tuple(sorted(r.items())) for r in rows), key=repr)


def _by_file(rows):
    out: dict[str, list[dict]] = {}
    for r in rows:
        out.setdefault(r["audio_id"], []).append(r)
    return out


def _inside(rows, seconds):
    return [
        f"{r['audio_id']}: [{r['start']}, {r['end']}) outside [0, {seconds[r['audio_id']]}]"
        for r in rows
        if not (-EPS <= r["start"] < r["end"] <= seconds[r["audio_id"]] + EPS)
    ]


def _non_overlapping(rows):
    bad = []
    for aid, rs in _by_file(rows).items():
        rs = sorted(rs, key=lambda r: (r["start"], r["end"]))
        bad += [
            f"{aid}: {a['start']}-{a['end']} overlaps {b['start']}-{b['end']}"
            for a, b in zip(rs, rs[1:])
            if b["start"] < a["end"] - EPS
        ]
    return bad


def stage_problems(
    stage: str, rows: list[dict], manifest: dict[str, tuple[str, float]], hosts: set[str]
) -> list[str]:
    """Invariants of one stage table over a corpus whose ``manifest``
    maps each file to the host it is built around and its length."""
    bad = [f"{r['audio_id']}: status {r['status']}" for r in rows if r["status"] != "ok"]
    bad += [f"unknown audio_id {r['audio_id']}" for r in rows if r["audio_id"] not in manifest]
    if bad:
        return bad
    seconds = {f: s for f, (_, s) in manifest.items()}
    if stage == "vad":
        bad += _inside(rows, seconds) + _non_overlapping(rows)
        bad += [f"{f}: no speech found" for f in manifest.keys() - {r["audio_id"] for r in rows}]
    elif stage == "separation":
        windows = [r for r in rows if r["kind"] == "window"]
        bad += _inside(windows, seconds)
        bad += [
            f"{r['audio_id']}: v_r {r['v_r']} + nv_r {r['nv_r']} != 1"
            for r in windows
            if not (0 <= r["v_r"] <= 1 and abs(r["v_r"] + r["nv_r"] - 1) <= EPS)
        ]
        bad += [f"bad kind {r['kind']}" for r in rows if r["kind"] not in ("window", "gap")]
    elif stage == "diarization":
        bad += _inside(rows, seconds) + _non_overlapping(rows)
    elif stage == "rematch":
        bad += _inside(rows, seconds)
    elif stage == "host_match":
        bad += [f"unknown host {r['host_id']}" for r in rows if r["host_id"] not in hosts]
        bad += [f"score {r['score']}" for r in rows if not -1 - EPS <= r["score"] <= 1 + EPS]
        found = {(r["audio_id"], r["host_id"]) for r in rows}
        bad += [f"{f}: its host {h} not matched" for f, (h, _) in manifest.items() if (f, h) not in found]
        ranks: dict[tuple, list[int]] = {}
        for r in rows:
            ranks.setdefault((r["audio_id"], r["host_id"]), []).append(r["rank"])
        bad += [f"{k}: ranks {sorted(v)}" for k, v in ranks.items() if sorted(v) != list(range(1, len(v) + 1))]
    return bad


def _canon(v):
    """One cell in an engine-independent form: numbers rounded to 6
    places (integral ones as ``int``), arrays as tuples, times as ISO
    strings."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = round(float(v), 6)
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def digest(columns: list[str], rows) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive hash) of a
    result; columns are matched by name, rows as a multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    return len(lines), sorted(columns), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def query_problems(got: tuple, want: tuple) -> list[str]:
    """Differences between the digests of a Spark result and its oracle."""
    bad = []
    if got[0] != want[0]:
        bad.append(f"rows {got[0]} != oracle {want[0]}")
    if got[1] != want[1]:
        bad.append(f"columns {got[1]} != oracle {want[1]}")
    if not bad and got[2] != want[2]:
        bad.append("values differ from the oracle")
    return bad
