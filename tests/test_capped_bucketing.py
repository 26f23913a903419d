"""Population-capped LSH bucketing (rp_lsh_bucket_capped): assignment
parity against an independent Python replay, escalation + salt paths on
crafted fixtures, continuity with fixed-plane bucketing when nothing
escalates, and the population bound on the skewed stress corpus."""

import collections
import os

import numpy as np
import pytest

from speech_data_pipeline_spark.operators.similarity import (
    hyperplanes,
    knn_in_buckets,
    rp_lsh_bucket,
    rp_lsh_bucket_capped,
)

DIM = 8


def _fold_dot(p, v):
    acc = 0.0
    for a, b in zip(p, v):
        acc = acc + float(a) * float(b)
    return acc


def _replay(ids, vecs, base, step, levels, cap, seed=42, dim=DIM):
    """Independent driver-side replay of the capped assignment."""
    total = base + step * levels
    planes = hyperplanes(dim, total, seed)
    bits = [
        "".join("1" if _fold_dot(p, v) >= 0 else "0" for p in planes)
        for v in vecs
    ]
    bkt = [s[:base] for s in bits]
    for lvl in range(1, levels + 1):
        cnt = collections.Counter(bkt)
        esc = {k for k, v in cnt.items() if v > cap}
        bkt = [
            bits[i][: base + step * lvl] if bkt[i] in esc else bkt[i]
            for i in range(len(bkt))
        ]
    cnt = collections.Counter(bkt)
    out = {}
    for i, b in enumerate(bkt):
        if cnt[b] > cap:
            nsh = (cnt[b] + cap - 1) // cap
            out[ids[i]] = f"{b}#{ids[i] % nsh}"
        else:
            out[ids[i]] = b
    return out


def _fixture(spark):
    """3 regimes in one frame: a 20-copy IDENTICAL pile (no hyperplane
    separates it -> must salt), a 30-member splittable hot cluster
    (centroid + noise -> must escalate), and 40 spread singletons."""
    rng = np.random.default_rng(7)
    rows = []
    pile = rng.standard_normal(DIM)
    for i in range(20):
        rows.append((i, [float(x) for x in pile]))
    centroid = rng.standard_normal(DIM) * 3.0
    for i in range(30):
        v = centroid + 0.4 * rng.standard_normal(DIM)
        rows.append((100 + i, [float(x) for x in v]))
    for i in range(40):
        v = rng.standard_normal(DIM)
        rows.append((200 + i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ), rows


def test_assignment_matches_replay_and_bounds(spark):
    df, rows_py = _fixture(spark)
    base, step, levels, cap = 3, 4, 2, 8
    got = {
        r["vec_id"]: r["bucket"]
        for r in rp_lsh_bucket_capped(
            df, DIM, base_planes=base, step=step, levels=levels, cap=cap
        ).collect()
    }
    exp = _replay(
        [i for i, _ in rows_py],
        [v for _, v in rows_py],
        base, step, levels, cap,
    )
    assert got == exp
    sizes = collections.Counter(got.values())
    # the identical pile has sequential ids 0..19 -> mod shards are
    # perfectly balanced -> the bound is EXACT here
    pile_buckets = {got[i] for i in range(20)}
    assert len(pile_buckets) >= 3  # ceil(20/8) shards
    assert all("#" in b for b in pile_buckets)  # salted, not escalated away
    assert max(sizes[b] for b in pile_buckets) <= cap
    # everything is bounded on this fixture
    assert max(sizes.values()) <= cap


def test_identical_pile_salts_at_max_depth(spark):
    """A pile no plane separates must ride escalation to max depth and
    then salt -- the bucket key is the FULL bit string plus '#shard'."""
    df, _ = _fixture(spark)
    base, step, levels, cap = 3, 4, 2, 8
    out = {
        r["vec_id"]: r["bucket"]
        for r in rp_lsh_bucket_capped(
            df, DIM, base_planes=base, step=step, levels=levels, cap=cap
        ).collect()
    }
    pile = [out[i] for i in range(20)]
    prefixes = {b.split("#")[0] for b in pile}
    assert len(prefixes) == 1  # identical vectors, identical bits
    assert len(next(iter(prefixes))) == base + step * levels  # max depth
    assert {b.split("#")[1] for b in pile} == {"0", "1", "2"}


def test_no_escalation_equals_fixed_plane(spark):
    """cap larger than every bucket -> keys identical to rp_lsh_bucket
    with the base planes (hyperplanes() is prefix-stable in n)."""
    df, _ = _fixture(spark)
    base = 3
    capped = {
        r["vec_id"]: r["bucket"]
        for r in rp_lsh_bucket_capped(
            df, DIM, base_planes=base, step=4, levels=2, cap=10_000
        ).collect()
    }
    fixed = {
        r["vec_id"]: r["bucket"]
        for r in rp_lsh_bucket(
            df, hyperplanes(DIM, base, 42), "embedding"
        ).collect()
    }
    assert capped == fixed


def test_knn_capped_edges_match_bucket_local_brute(spark):
    """knn_in_buckets(cap=...) edges == brute-force top-k within the
    replayed capped buckets (fold-exact cosine, dst-asc tie-break)."""
    df, rows_py = _fixture(spark)
    base, step, levels, cap, k = 3, 4, 2, 8, 3
    assign = _replay(
        [i for i, _ in rows_py], [v for _, v in rows_py],
        base, step, levels, cap,
    )
    emb = dict(rows_py)
    exp = set()
    by_bucket = collections.defaultdict(list)
    for i, b in assign.items():
        by_bucket[b].append(i)
    for members in by_bucket.values():
        for i in sorted(members):
            cands = []
            for j in sorted(members):
                if j == i:
                    continue
                na = _fold_dot(emb[i], emb[i]) ** 0.5
                nb = _fold_dot(emb[j], emb[j]) ** 0.5
                cands.append((-(_fold_dot(emb[i], emb[j]) / (na * nb)), j))
            cands.sort()
            for _, j in cands[:k]:
                exp.add((i, j))
    got = {
        (r["src"], r["dst"])
        for r in knn_in_buckets(
            df, k=k, n_planes=base, dim=DIM, cap=cap, step=step,
            levels=levels,
        ).collect()
    }
    assert got == exp


STRESS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "stress_data/sf1skew/embeddings.parquet",
)


@pytest.mark.skipif(
    not os.path.exists(STRESS),
    reason="stress data not generated (tools/gen_scale.py)",
)
def test_population_bound_on_sf1skew(spark):
    """The production knobs of embed_mutual_knn must bound every final
    bucket on the skewed stress corpus: <= cap up to the documented
    mod-split imbalance (a few percent), and the pre-salt escalation
    alone must already have destroyed the corpus-linear piles."""
    from speech_data_pipeline_spark.queries.text_q import (
        _MKNN_CAP,
        _MKNN_LEVELS,
        _MKNN_PLANES,
        _MKNN_STEP,
    )

    df = spark.read.parquet(STRESS)
    sizes = (
        rp_lsh_bucket_capped(
            df, 64, base_planes=_MKNN_PLANES, step=_MKNN_STEP,
            levels=_MKNN_LEVELS, cap=_MKNN_CAP,
        )
        .groupBy("bucket")
        .count()
        .agg({"count": "max"})
        .collect()[0][0]
    )
    # fixed 6-plane bucketing puts >3000 rows in one bucket here; the
    # capped form must stay within the documented +5% of cap
    assert sizes <= int(_MKNN_CAP * 1.05)
