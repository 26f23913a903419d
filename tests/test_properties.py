"""Property-based tests (SURVEY.md §5 item 2): kernels vs brute-force
Python references on hypothesis-generated segment tables.

Invariants pinned:
- capped session merge: output sessions are ordered, non-overlapping-
  in-formation order, each within the span cap where achievable, and
  exactly match a straightforward sequential reference implementation;
- sweep-line: emitted pieces partition the covered timeline (no
  overlaps, no gaps inside a covered run), and piece tag sets match a
  brute-force stabbing query.
"""

import pytest
from hypothesis import given, settings, strategies as st

from conftest import rows

from speech_data_pipeline_spark.operators.sessions import sessionize_capped
from speech_data_pipeline_spark.operators.sweepline import flatten_active_sets

segments = st.lists(
    st.tuples(st.integers(0, 200), st.integers(1, 60)).map(
        lambda t: (t[0], t[0] + t[1])
    ),
    min_size=1,
    max_size=12,
)


def ref_capped_merge(segs, interval, cap):
    segs = sorted(segs)
    sessions = []
    cur = None
    for s, e in segs:
        if cur is None:
            cur = [s, e, 1]
        elif s - cur[1] > interval or e - cur[0] > cap:
            sessions.append(tuple(cur))
            cur = [s, e, 1]
        else:
            cur[1] = max(cur[1], e)
            cur[2] += 1
    sessions.append(tuple(cur))
    return sessions


@settings(max_examples=12, deadline=None)
@given(segs=segments, interval=st.integers(0, 30), cap=st.integers(10, 120))
def test_capped_merge_matches_reference(spark, segs, interval, cap):
    df = spark.createDataFrame(
        [("k", s, e) for s, e in segs], ["user_id", "start_us", "end_us"]
    )
    got = rows(
        sessionize_capped(df, interval=interval, max_duration=cap),
        "session_start", "session_end", "n_segments",
    )
    assert got == sorted(ref_capped_merge(segs, interval, cap))


def ref_sweep(segs):
    bounds = sorted({t for s, e, _ in segs for t in (s, e)})
    out = []
    for p1, p2 in zip(bounds, bounds[1:]):
        tags = sorted({tag for (s, e, tag) in segs if s <= p1 and e >= p2})
        if tags:
            out.append((p1, p2, tags))
    return out


@settings(max_examples=12, deadline=None)
@given(
    segs=st.lists(
        st.tuples(
            st.integers(0, 100),
            st.integers(1, 40),
            st.sampled_from(["a", "b", "c"]),
        ).map(lambda t: (t[0], t[0] + t[1], t[2])),
        min_size=1,
        max_size=10,
    )
)
def test_sweepline_matches_bruteforce_and_partitions(spark, segs):
    df = spark.createDataFrame(
        [("k", s, e, tag) for s, e, tag in segs],
        ["user_id", "start_us", "end_us", "tag"],
    )
    got = rows(flatten_active_sets(df), "piece_start", "piece_end", "tags")
    got = [(a, b, sorted(set(t))) for a, b, t in got]
    assert got == ref_sweep(segs)
    # pieces are disjoint and ordered
    for (s1, e1, _), (s2, e2, _) in zip(got, got[1:]):
        assert e1 <= s2


weights = st.lists(st.integers(1, 500), min_size=1, max_size=15)


@given(ws=weights)
@settings(max_examples=12, deadline=None)
def test_pack_sequences_properties(spark, ws):
    """Next-fit packing invariants on arbitrary weight lists: output is
    a permutation of the input, seq ids are contiguous from 1, every
    multi-item bin respects the budget, and the packing is greedy
    (the first item of bin i+1 would have overflowed bin i)."""
    from speech_data_pipeline_spark.operators.packing import pack_sequences

    budget = 600
    df = spark.createDataFrame(
        [("k", i, w) for i, w in enumerate(ws)],
        "source string, doc_id long, n_tokens long",
    )
    out = sorted(
        (r.doc_id, r.n_tokens, r.seq_id)
        for r in pack_sequences(df, budget=budget, key="source").collect()
    )
    assert [(d, w) for d, w, _ in out] == list(enumerate(ws))  # permutation
    bins: dict[int, list[int]] = {}
    for _, w, sid in out:
        bins.setdefault(sid, []).append(w)
    assert sorted(bins) == list(range(1, len(bins) + 1))  # contiguous ids
    for sid, items in bins.items():
        if len(items) > 1:
            assert sum(items) <= budget
        if sid + 1 in bins:  # greedy: next bin's head overflowed this bin
            assert sum(items) + bins[sid + 1][0] > budget


@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=500.0, allow_nan=False),
        min_size=12,
        max_size=60,
    )
)
@settings(max_examples=25, deadline=None)
def test_zscore_moment_identity(vals):
    """The integer moment-sum z ((n·x−Σx)/√(n·Σx²−(Σx)²)) equals the
    classic (x−μ)/σ_pop on the quantized grid, for every window."""
    import numpy as np

    mv = np.floor(np.asarray(vals) * 1000.0 + 0.5).astype(np.int64)
    for i in range(10, len(mv)):
        w = mv[max(0, i - 20):i]
        n, s1, s2 = len(w), int(w.sum()), int((w.astype(object) ** 2).sum())
        var_num = n * s2 - s1 * s1
        if var_num <= 0:
            continue
        z_int = (n * int(mv[i]) - s1) / np.sqrt(float(var_num))
        mu, sd = w.mean(), w.std()  # population std
        z_ref = (mv[i] - mu) / sd
        assert z_int == pytest.approx(z_ref, rel=1e-9, abs=1e-9)
