"""Curation-operator tests: repetition metrics, hash split, sequence
packing, TF-IDF — synthetic fixtures covering the branches the parquet
corpus doesn't exercise (documents there have no newlines or repeated
lines; packing needs an oversized document)."""

import math

import pytest
from pyspark.sql import functions as F

from speech_data_pipeline_spark.operators.packing import pack_sequences
from speech_data_pipeline_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # 4 lines, "dup dup" line repeated -> 2/4 dup lines
        (1, "a b c\ndup dup\ndup dup\nx y z"),
        (2, "all unique words here"),
        (3, "go go go go"),  # heavy word + bigram repetition
        (4, ""),  # empty-document guards
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_metrics_golden(docs):
    out = {r.doc_id: r for r in tx.repetition(docs).collect()}
    r1 = out[1]
    assert r1.dup_line_frac == pytest.approx(0.25, abs=1e-6)  # 4 lines, 3 distinct
    # duplicated-line chars: 2 * len("dup dup") = 14 of 5+7+7+5 = 24
    assert r1.dup_line_char_frac == pytest.approx(14 / 24, abs=1e-6)
    assert out[2].dup_line_frac == 0.0
    assert out[2].dup_word_frac == 0.0
    r3 = out[3]
    assert r3.dup_word_frac == pytest.approx(0.75, abs=1e-6)  # 4 tokens 1 distinct
    # top bigram "go go" occurs 3 times, len 5, text len 11
    assert r3.top_bigram_frac == pytest.approx(math.floor(15 / 11 * 1e6) / 1e6)
    r4 = out[4]
    assert (r4.dup_line_frac, r4.dup_word_frac, r4.top_bigram_frac) == (0, 0, 0)


def test_pack_sequences_next_fit_and_oversize(spark):
    rows = [
        ("s", 1, 600), ("s", 2, 600), ("s", 3, 600),  # 600+600 | 600...
        ("s", 4, 5000),  # oversized -> own bin
        ("s", 5, 100),
        ("t", 6, 100), ("t", 7, 100),  # second key restarts seq ids
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = {
        r.doc_id: r.seq_id
        for r in pack_sequences(df, budget=1300, key="source").collect()
    }
    assert out[1] == 1 and out[2] == 1  # 1200 <= 1300
    assert out[3] == 2  # 1800 > 1300 -> new bin
    assert out[4] == 3  # oversized doc closes bin 2, sits alone
    assert out[5] == 4  # 5000+100 > budget -> next bin
    assert out[6] == 1 and out[7] == 1  # per-key restart


def test_pack_sequences_invariants(spark):
    from speech_data_pipeline_spark.sources.catalog import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source",
        "doc_id",
        (F.floor(F.col("n_chars") / F.lit(4.0)).cast("long") + 1).alias("n_tokens"),
    )
    packed = pack_sequences(d, budget=2048, key="source")
    assert packed.count() == d.count()  # partition of the input
    sums = packed.groupBy("source", "seq_id").agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    # every multi-doc sequence respects the budget (single docs may exceed)
    assert sums.where((F.col("n") > 1) & (F.col("tot") > 2048)).count() == 0


def test_tfidf_topk_golden(spark):
    rows = [
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry dates dates dates"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rnk, r.term, r.tf))
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert sorted(by_doc[1]) == [(1, "apple", 2), (2, "banana", 1)]
    # doc 3: dates tf=3 df=1 then cherry tf=1 df=2
    assert sorted(by_doc[3]) == [(1, "dates", 3), (2, "cherry", 1)]
    # scores consistent with smoothed ln idf
    s = {(r.doc_id, r.term): r.score for r in out}
    want = 2 * math.log(4 / 2)
    assert s[(1, "apple")] == pytest.approx(math.floor(want * 1e6) / 1e6, abs=1e-9)


def test_split_hash_buckets_deterministic_and_balanced(spark):
    from speech_data_pipeline_spark.queries.curation_q import split_hash_buckets

    out1 = split_hash_buckets(spark, "/root/testdata/sf0.001").collect()
    out2 = split_hash_buckets(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    frac = {
        r.split: r.n
        for r in split_hash_buckets(spark, "/root/testdata/sf0.001")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = sum(frac.values())
    assert frac["train"] / n == pytest.approx(0.8, abs=0.1)


def test_cdc_chunks_detect_shared_passage_after_insertion(spark):
    """The CDC property: an insertion near the head shifts every byte
    offset, yet anchor boundaries realign afterwards, so the shared
    tail still hashes to common chunks (fixed-offset chunking would
    lose all of them)."""
    import random

    random.seed(42)
    passage = " ".join(
        "".join(random.choice("abcdefghij") for _ in range(6)) for _ in range(120)
    )
    rows = [
        (1, "PREFIX ONE " + passage),
        (2, "A COMPLETELY DIFFERENT AND LONGER PREFIX " + passage),
        (3, "unrelated " + " ".join(
            "".join(random.choice("qrstuvwxyz") for _ in range(6))
            for _ in range(120)
        )),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("cdc_docs")

    from speech_data_pipeline_spark.queries.curation_q import dedup_cdc_chunks
    from unittest import mock

    with mock.patch(
        "speech_data_pipeline_spark.queries.curation_q.load_table",
        lambda spark_, sf, name: df,
    ):
        out = {r.doc_id: r for r in dedup_cdc_chunks(spark, "unused").collect()}
    assert out[1].n_shared > 0 and out[2].n_shared > 0  # realigned tail found
    assert out[3].n_shared == 0  # unrelated doc shares nothing
    assert out[1].n_chunks > 2  # anchors actually split the passage


def test_count_min_never_underestimates(spark):
    """CMS invariant: every estimate >= exact count, and heavy hitters
    on this corpus estimate exactly (collisions only inflate)."""
    from speech_data_pipeline_spark.queries.curation_q import sketch_count_min

    rows = sketch_count_min(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    assert all(r.cms_est >= r.exact_n for r in rows)
    assert max(r.exact_n for r in rows) > 1  # probes are real heavy hitters


class TestPerplexityBuckets:
    def test_buckets_partition_corpus_in_thirds(self, spark):
        from collections import Counter

        from speech_data_pipeline_spark.queries.registry import QUERIES

        rows = QUERIES["quality_perplexity_buckets"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        c = Counter(r["bucket"] for r in rows)
        n = sum(c.values())
        assert set(c) <= {"head", "middle", "tail"}
        # tercile cut: each bucket within a distinct-value-tie of n/3
        assert c["head"] >= n // 4 and c["tail"] >= n // 4

    def test_english_docs_skew_to_head(self, spark):
        # The LM trains on English: English docs must have lower mean
        # xent than the rest (the filter's entire point).
        from speech_data_pipeline_spark.queries.registry import QUERIES
        from speech_data_pipeline_spark.sources.catalog import load_table

        sf = "/root/testdata/sf0.001"
        scored = {
            r["doc_id"]: r["xent"]
            for r in QUERIES["quality_perplexity_buckets"](spark, sf).collect()
        }
        langs = {
            r["doc_id"]: r["lang"]
            for r in load_table(spark, sf, "documents").collect()
        }
        en = [x for d, x in scored.items() if langs[d] == "en"]
        other = [x for d, x in scored.items() if langs[d] != "en"]
        assert sum(en) / len(en) < sum(other) / len(other)


class TestBenfordDigits:
    def test_benford_matches_brute_counts_and_chi2(self, spark):
        import math

        from speech_data_pipeline_spark.queries.registry import QUERIES
        from speech_data_pipeline_spark.sources.catalog import load_table

        sf = "/root/testdata/sf0.001"
        rows = {r["digit"]: r
                for r in QUERIES["dq_benford_digits"](spark, sf).collect()}
        obs = {d: 0 for d in range(1, 10)}
        for r in load_table(spark, sf, "orders").collect():
            if r["o_totalprice"] >= 1.0:
                obs[int(str(int(r["o_totalprice"]))[0])] += 1
        n = sum(obs.values())
        chi2 = 0.0
        for d in range(1, 10):
            p = math.log10(1 + 1 / d)
            chi2 += (obs[d] - n * p) ** 2 / (n * p)
            assert rows[d]["n_obs"] == obs[d]
            assert abs(rows[d]["exp_p"] - p) < 2e-6
        assert abs(rows[9]["chi2_run"] - chi2) < 1e-4
        assert len(rows) == 9

    def test_benford_all_digits_present_even_when_absent_in_data(
        self, spark
    ):
        import os, tempfile
        import pandas as pd

        from speech_data_pipeline_spark.queries.registry import QUERIES

        df = pd.DataFrame(
            {
                "o_orderkey": range(30),
                "o_custkey": [1] * 30,
                "o_orderstatus": ["F"] * 30,
                "o_totalprice": [100.0 + i for i in range(30)],
                "o_orderdate": ["1995-01-01"] * 30,
                "o_orderpriority": ["1-URGENT"] * 30,
            }
        )
        with tempfile.TemporaryDirectory() as d:
            df.to_parquet(os.path.join(d, "orders.parquet"))
            rows = QUERIES["dq_benford_digits"](spark, d).collect()
        got = {r["digit"]: r["n_obs"] for r in rows}
        assert got == {1: 30, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 0, 8: 0,
                       9: 0}


class TestRendezvousShards:
    def test_minimal_disruption_property(self, spark):
        from speech_data_pipeline_spark.queries.registry import QUERIES

        rows = QUERIES["infra_rendezvous_shards"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        by = {r["shard"]: r for r in rows}
        assert sorted(by) == list(range(8))
        total = sum(r["n_before"] for r in rows)
        assert total == 500
        # removing shard 7: every other shard keeps its docs and only
        # inherits from shard 7
        for s in range(7):
            assert (by[s]["n_after"]
                    == by[s]["n_before"] + by[s]["n_moved_in"])
        assert by[7]["n_after"] == 0
        assert sum(r["n_moved_in"] for r in rows) == by[7]["n_before"]
        # HRW spreads: no shard grossly hot
        assert max(r["n_before"] for r in rows) < 500 * 0.3

    def test_matches_brute_argmax(self, spark):
        import hashlib

        from speech_data_pipeline_spark.queries.registry import QUERIES
        from speech_data_pipeline_spark.sources.catalog import load_table

        sf = "/root/testdata/sf0.001"
        rows = {r["shard"]: r
                for r in QUERIES["infra_rendezvous_shards"](
                    spark, sf).collect()}
        docs = [r["doc_id"]
                for r in load_table(spark, sf, "documents").collect()]

        def hrw(doc, n):
            hs = [int(hashlib.md5(f"{doc}_hrw_{s}".encode())
                      .hexdigest()[:7], 16) for s in range(n)]
            m = max(hs)
            return hs.index(m)

        from collections import Counter

        c8 = Counter(hrw(d, 8) for d in docs)
        for s in range(8):
            assert rows[s]["n_before"] == c8.get(s, 0)


class TestBpeFertility:
    def test_fertility_matches_brute_encode(self, spark):
        # Replay: train the same 5 merges brute-force in python, then
        # chars/token per language must match exactly.
        import re
        from collections import Counter, defaultdict

        from speech_data_pipeline_spark.queries.registry import QUERIES
        from speech_data_pipeline_spark.sources.catalog import load_table

        sf = "/root/testdata/sf0.001"
        got = {r["lang"]: r
               for r in QUERIES["text_bpe_fertility"](spark, sf).collect()}
        docs = [(r["doc_id"], r["lang"], r["text"])
                for r in load_table(spark, sf, "documents").collect()]
        wfreq = Counter()
        for _, _, t in docs:
            wfreq.update(re.findall(r"[a-z]+", t.lower()))
        symtab = {w: list(w) for w in wfreq}
        for _ in range(5):
            pc = Counter()
            for w, syms in symtab.items():
                f = wfreq[w]
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] += f
            if not pc:
                break
            (a, b), _c = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0])
            )
            for w, syms in symtab.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == a
                            and syms[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                symtab[w] = out
        agg = defaultdict(lambda: [set(), 0, 0, 0])  # docs,words,toks,chars
        for did, lang, t in docs:
            for w in re.findall(r"[a-z]+", t.lower()):
                a = agg[lang]
                a[0].add(did)
                a[1] += 1
                a[2] += len(symtab[w])
                a[3] += len(w)
        import math

        for lang, (ds, nw, nt, nc) in agg.items():
            assert got[lang]["n_docs"] == len(ds)
            assert got[lang]["n_words"] == nw
            assert got[lang]["n_tokens"] == nt
            assert got[lang]["chars_per_token"] == math.floor(
                nc / nt * 1e6) / 1e6


class TestReadabilityAndClean:
    def test_flesch_matches_brute(self, spark):
        import math
        import re

        from speech_data_pipeline_spark.queries.registry import QUERIES
        from speech_data_pipeline_spark.sources.catalog import load_table

        sf = "/root/testdata/sf0.001"
        got = {r["doc_id"]: r
               for r in QUERIES["text_readability"](spark, sf).collect()}
        for r in load_table(spark, sf, "documents").limit(50).collect():
            t = r["text"]
            w = len(re.findall(r"[a-z]+", t.lower()))
            s = max(len(re.findall(r"[.!?]+", t)), 1)
            syl = len(re.findall(r"[aeiouy]+", t.lower()))
            g = got[r["doc_id"]]
            assert g["n_words"] == w and g["n_sentences"] == s
            assert g["n_syllables"] == syl
            if w:
                fl = 206.835 - 1.015 * w / s - 84.6 * syl / w
                assert g["flesch"] == math.floor(fl * 1e6) / 1e6

    def test_clean_normalize_on_crafted_dirty_text(self, spark):
        import hashlib
        import os, tempfile

        import pandas as pd

        from speech_data_pipeline_spark.queries.registry import QUERIES

        dirty = "  hello\x00\x01  world\t\tagain \n\n end  "
        clean = "hello world again end"
        df = pd.DataFrame(
            {"doc_id": [1, 2], "text": [dirty, "already clean"],
             "lang": ["en", "en"], "source": ["s", "s"],
             "n_chars": [len(dirty), 13]}
        )
        with tempfile.TemporaryDirectory() as d:
            df.to_parquet(os.path.join(d, "documents.parquet"))
            rows = {r["doc_id"]: r
                    for r in QUERIES["text_clean_normalize"](
                        spark, d).collect()}
        r = rows[1]
        assert r["changed"] == 1
        assert r["n_ctrl"] == 2
        assert r["clean_chars"] == len(clean)
        assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest()
        assert rows[2]["changed"] == 0
        assert rows[2]["clean_md5"] == hashlib.md5(
            b"already clean").hexdigest()


def test_split_leakage_safe_planted_duplicates(spark, tmp_path):
    """A duplicate cluster whose members naive-hash into different
    splits must (a) stay together under the canonical-id split and
    (b) be counted by the naive-leak counterfactual."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from speech_data_pipeline_spark.queries.corpus_q import (
        split_leakage_safe,
    )

    rows = [(i, "web", 40, f"unique text number {i}") for i in range(40)]
    # 12 exact copies: with 12 doc_ids hashed %10 into 3 named splits,
    # at least two distinct naive splits are near-certain (and fixed
    # ids make it deterministic)
    rows += [(100 + i, "web", 40, "the same duplicated text") for i in range(12)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars int, text string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_t"))
    part = next(
        f for f in os.listdir(tmp_path / "_t") if f.endswith(".parquet")
    )
    shutil.move(str(tmp_path / "_t" / part), str(tmp_path / "documents.parquet"))

    out = {r.split_name: r for r in split_leakage_safe(spark, str(tmp_path)).collect()}
    # the cluster lands in exactly ONE split under the safe hash
    clusters_with_cluster = [
        s for s, r in out.items() if r.n_docs > r.n_clusters
    ]
    assert len(clusters_with_cluster) == 1
    home = out[clusters_with_cluster[0]]
    assert home.n_docs - home.n_clusters == 11  # 12 members, 1 cluster
    # and the counterfactual naive split would have leaked it
    assert home.naive_leaked_clusters == 1
    assert sum(r.naive_leaked_clusters for r in out.values()) == 1
