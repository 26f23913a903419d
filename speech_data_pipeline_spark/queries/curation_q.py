"""Corpus-curation queries: repetition filtering, deterministic
train/val/test splitting, sequence packing, TF-IDF term extraction.

The training-data-pipeline surface beyond the reference's own operators
(the reference ends at per-file segment tables; these are the steps a
100 TB text corpus goes through on the way to a training run). Every
query has a DuckDB oracle; the packing kernel's non-associative
recurrence is replayed as a recursive CTE, the same trick as
w1_sessionize_capped (queries/intervals_q.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from speech_data_pipeline_spark.functions import trunc6
from speech_data_pipeline_spark.operators import text as tx
from speech_data_pipeline_spark.operators.packing import pack_sequences
from speech_data_pipeline_spark.queries.registry import query
from speech_data_pipeline_spark.queries.text_q import _hex7_to_int_sql
from speech_data_pipeline_spark.sources.catalog import load_table

#: Token budget for one packed training sequence.
PACK_BUDGET = 2048


@query(
    "text_repetition",
    oracle=r"""
    WITH lines AS (
      SELECT doc_id, length(text) AS n_chars,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls,
             list_filter(string_split_regex(trim(text), '[ \t\n\r\f\x0b]+'), t -> t <> '') AS t
      FROM documents
    ), base AS (
      SELECT doc_id, n_chars,
        CASE WHEN len(ls) > 0
             THEN (len(ls) - len(list_distinct(ls))) * 1.0 / len(ls)
             ELSE 0.0 END AS dlf,
        CASE WHEN coalesce(list_sum(list_transform(ls, l -> length(l))), 0) > 0
             THEN coalesce(list_sum(list_transform(
                    list_filter(ls, l -> len(list_filter(ls, x -> x = l)) > 1),
                    l -> length(l))), 0) * 1.0
                  / list_sum(list_transform(ls, l -> length(l)))
             ELSE 0.0 END AS dlcf,
        CASE WHEN len(t) > 0
             THEN (len(t) - len(list_distinct(t))) * 1.0 / len(t)
             ELSE 0.0 END AS dwf
      FROM lines
    ), bg AS (
      SELECT doc_id, t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1]
               AS bigram
      FROM (
        SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
        FROM lines
      )
    ), counts AS (
      SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
    ), top AS (
      SELECT doc_id, c, length(bigram) AS blen FROM (
        SELECT doc_id, bigram, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, length(bigram) DESC,
                                           bigram DESC) AS rn
        FROM counts
      ) WHERE rn = 1
    )
    SELECT b.doc_id,
           floor(b.dlf * 1000000.0) / 1000000.0 AS dup_line_frac,
           floor(b.dlcf * 1000000.0) / 1000000.0 AS dup_line_char_frac,
           floor(b.dwf * 1000000.0) / 1000000.0 AS dup_word_frac,
           floor(CASE WHEN t.doc_id IS NOT NULL AND b.n_chars > 0
                      THEN t.c * t.blen * 1.0 / b.n_chars
                      ELSE 0.0 END * 1000000.0) / 1000000.0 AS top_bigram_frac
    FROM base b LEFT JOIN top t USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (duplicate lines/words, top bigram
    coverage) — the standard web-corpus repetition filter family."""
    return tx.repetition(load_table(spark, sf_dir, "documents"))


@query(
    "split_hash_buckets",
    oracle=f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             {_hex7_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
      FROM documents
    )
    """,
)
def split_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/validation/test split (80/10/10).

    md5 of the stable document id → 28-bit int → percent bucket. Pure
    column expressions, reproducible across engines, runs, and cluster
    sizes — the property random() splits lack. At 100 TB this is a
    map-only projection with zero shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    from speech_data_pipeline_spark.queries.corpus_q import _bucket

    bucket = _bucket("doc_id")  # ONE split-defining hash (corpus_q._bucket)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "pack_sequences_budget",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT source, doc_id,
             CAST(floor(n_chars / 4.0) AS BIGINT) + 1 AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), walk AS (
      SELECT source, rn, doc_id, n_tokens,
             CAST(1 AS BIGINT) AS seq_id, n_tokens AS total
      FROM d WHERE rn = 1
      UNION ALL
      SELECT n.source, n.rn, n.doc_id, n.n_tokens,
             CASE WHEN w.total + n.n_tokens > {PACK_BUDGET}
                  THEN w.seq_id + 1 ELSE w.seq_id END,
             CASE WHEN w.total + n.n_tokens > {PACK_BUDGET}
                  THEN n.n_tokens ELSE w.total + n.n_tokens END
      FROM walk w JOIN d n ON n.source = w.source AND n.rn = w.rn + 1
    )
    SELECT source, seq_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM walk GROUP BY source, seq_id
    """,
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing under a 2048-token
    budget, per source (operators/packing.py kernel; oracle replays the
    recurrence as a recursive CTE)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        (F.floor(F.col("n_chars") / F.lit(4.0)).cast("long") + 1).alias("n_tokens"),
    )
    packed = pack_sequences(
        d, budget=PACK_BUDGET, key="source", order_col="doc_id",
        weight_col="n_tokens",
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


#: Count-Min Sketch shape: d hash rows × w counters.
_CMS_D = 4
_CMS_W = 256


def _cms_bucket_sql(j: int) -> str:
    return (
        _hex7_to_int_sql(f"md5('{j}:' || tok)") + f" % {_CMS_W}"
    )


@query(
    "sketch_count_min",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS tok
      FROM documents
    ), cms AS (
      {" UNION ALL ".join(
          f'''SELECT {j} AS j, {_cms_bucket_sql(j)} AS bucket,
                     count(*) AS c FROM toks GROUP BY bucket'''
          for j in range(_CMS_D)
      )}
    ), exact AS (
      SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok
    ), probes AS (
      SELECT tok, exact_n FROM (
        SELECT tok, exact_n,
               row_number() OVER (ORDER BY exact_n DESC, tok) AS rn
        FROM exact
      ) WHERE rn <= 20
    ), lookups AS (
      {" UNION ALL ".join(
          f'''SELECT tok, exact_n, {j} AS j, {_cms_bucket_sql(j)} AS bucket
              FROM probes'''
          for j in range(_CMS_D)
      )}
    )
    SELECT l.tok, CAST(max(l.exact_n) AS BIGINT) AS exact_n,
           CAST(min(coalesce(c.c, 0)) AS BIGINT) AS cms_est
    FROM lookups l LEFT JOIN cms c ON c.j = l.j AND c.bucket = l.bucket
    GROUP BY l.tok
    """,
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch over the corpus token stream — a *deterministic*
    sketch (seeded md5 row hashes, integer counters), so unlike HLL it
    is exactly replayable cross-engine and value-hash checkable.

    Construction: **one corpus scan total.** Tokens are counted once
    (``groupBy(tok)`` with map-side partial aggregation), and every
    downstream piece derives from that vocab-sized table: the
    {_CMS_D}×{_CMS_W} counter table is ``sum(exact_n)`` grouped by
    ``(j, bucket)`` after exploding ``sequence(0, d-1)`` against the
    vocab (bit-identical counters to counting raw occurrences, at
    vocab cost instead of corpus cost), and the top-20 probe set is
    ``orderBy(...).limit(20)`` — TakeOrderedAndProject, a per-partition
    heap, never a single-task global ``row_number`` over the vocabulary.
    Sketch size stays O(d·w) regardless of corpus size, the entire
    point at 100 TB (the sketch is broadcastable state; merging shards
    is counter addition). Query: the top-20 exact-frequency tokens
    estimated from the sketch (min over rows); CMS guarantees
    est >= exact, tested in tests/test_curation.py.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z]+)"), 1)
        ).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    # (j, bucket) per vocab entry; bucket = first 7 hex of md5("j:tok").
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("tok"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )
    hashed = exact.select(
        "tok",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("j"),
    ).withColumn("bucket", bucket)
    cms = hashed.groupBy("j", "bucket").agg(F.sum("exact_n").alias("c"))
    probes = exact.orderBy(F.col("exact_n").desc(), "tok").limit(20)
    lookups = probes.select(
        "tok",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("j"),
    ).withColumn("bucket", bucket)
    return (
        lookups.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy("tok")
        .agg(
            F.max("exact_n").alias("exact_n"),
            F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"),
        )
    )


#: Content-defined chunking constants: window, base powers, anchor mod.
_CDC_W = 8
_CDC_B = 31
_CDC_M = 64
#: Ascending powers B^0..B^(w-1). Convention (MUST match the kernel,
#: operators/text.py cdc_anchor_chunks: ``sliding_window @ pows``):
#: the FIRST (oldest) char of the window carries B^0, the last
#: B^(w-1). (For THESE constants B=31, mod=64 the reversed orientation
#: happens to have the identical zero set — 31² ≡ 1 mod 64 — which is
#: exactly why an orientation mix-up would pass the gate silently; the
#: explicit convention note is the guard.)
_CDC_POWS = [_CDC_B ** j for j in range(_CDC_W)]


def _cdc_pred_sql() -> str:
    """DuckDB anchor predicate: polynomial hash of the trailing 8-char
    window ≡ 0 (mod 64), over a precomputed per-row codepoint array
    ``codes`` (O(1) element lookups — ``substr(text, i, 1)`` inside the
    position lambda would be an O(i) UTF-8 scan, turning the whole
    predicate O(n²·w) per document). Exact in 64-bit:
    255·31^7·8 < 2^63. (The Spark side runs the vectorized Arrow
    kernel, operators/text.py cdc_anchor_chunks — no SQL dialect twin
    to keep in sync.)"""
    terms = " + ".join(
        # window at boundary i spans codes[i-w+1 .. i]; term j is the
        # j-th-oldest char times B^j (kernel orientation)
        f"CAST(codes[i - {_CDC_W - 1 - j}] AS BIGINT) * CAST({p} AS BIGINT)"
        for j, p in enumerate(_CDC_POWS)
    )
    return f"(({terms}) % {_CDC_M}) = 0"


@query(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH coded AS (
      SELECT doc_id, text, length(text) AS n,
             list_transform(string_split(text, ''), c -> ascii(c)) AS codes
      FROM documents WHERE length(text) >= {_CDC_W}
    ), bounds AS (
      SELECT doc_id, n, text,
             list_sort(list_distinct(
               [0] || list_filter(range({_CDC_W}, n + 1),
                                  i -> {_cdc_pred_sql()})
                   || [n]
             )) AS bs
      FROM coded
    ), chunks AS (
      SELECT doc_id,
             md5(substr(text, CAST(prev AS INTEGER) + 1,
                        CAST(b - prev AS INTEGER))) AS chunk_hash
      FROM (
        SELECT doc_id, text, b,
               lag(b) OVER (PARTITION BY doc_id ORDER BY b) AS prev
        FROM (SELECT doc_id, text, unnest(bs) AS b FROM bounds)
      ) WHERE prev IS NOT NULL AND b > prev
    ), shared AS (
      SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chunk_hash
    )
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           floor(sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 1000000.0) / 1000000.0 AS shared_frac
    FROM chunks c JOIN shared s USING (chunk_hash)
    GROUP BY c.doc_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: rolling-hash anchor boundaries
    split each document into content-aligned chunks; chunks hashing
    equal ACROSS documents expose shared passages (sub-document
    duplication that whole-doc digests miss, robust to insertions
    because boundaries realign after an edit — the CDC property).

    Stateless anchor form (boundary wherever the trailing-window
    polynomial hash ≡ 0 mod 64; expected chunk ≈ 64 chars):
    every position is decided independently. The boundary scan runs as
    the vectorized Arrow-batch kernel
    (operators/text.py `cdc_anchor_chunks` — one sliding-window matmul
    per document); an equivalent pure-column formulation
    (`filter(sequence(...), i -> polynomial)` over a lambda-bound
    codepoint array) was ~2× slower because Catalyst evaluates
    higher-order-function lambdas interpreted, per element, outside
    whole-stage codegen. The oracle still replays the pure-SQL spec
    (`_cdc_pred`), so the kernel's hash convention is pinned
    cross-engine.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    chunks = tx.cdc_anchor_chunks(d, window=_CDC_W, base=_CDC_B, mod=_CDC_M)
    # Single kernel pass: the earlier groupBy+self-join consumed the
    # chunk stream twice (Spark re-executes an uncached mapInPandas per
    # subtree — re-decoding and re-hashing every document). Instead,
    # reduce to the distinct (chunk, doc) stream once, tag each row
    # with its chunk's doc count via a window, and re-aggregate: the
    # exchanges move only the ~n_chars/64-row chunk stream, never the
    # text, and the kernel runs once.
    per = chunks.groupBy("chunk_hash", "doc_id").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    tagged = per.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("chunk_hash"))
    )
    shared_occ = F.sum(F.when(F.col("n_docs") > 1, F.col("n_occ")).otherwise(0))
    return tagged.groupBy("doc_id").agg(
        F.sum("n_occ").alias("n_chunks"),
        shared_occ.alias("n_shared"),
        trunc6(shared_occ / F.sum("n_occ")).alias("shared_frac"),
    )


@query(
    "pipeline_training_mix",
    oracle=f"""
    WITH canon AS (
      SELECT doc_id, source, n_chars,
             md5(text) AS digest,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\r\\f\\x0b]+'),
                 t -> t <> '')) AS n_tokens
      FROM documents
    ), kept AS (
      SELECT doc_id, source, n_chars, n_tokens,
             {_hex7_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
      FROM canon
      WHERE doc_id = canonical_id AND n_tokens >= 20
    )
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(CAST(floor(n_chars / 4.0) AS BIGINT) + 1) AS BIGINT)
             AS total_tokens,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM kept GROUP BY source, split
    """,
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone curation composite: exact-dedup canonical filter →
    minimum-length quality gate → deterministic hash split → per
    (source, split) training-mix report (docs + token budget). ONE
    declarative plan: the dedup canonical is a window over the content
    digest, the split is a map-only projection, and the report is a
    single grouped aggregate — three shuffles end to end at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    # digest + token count computed BEFORE the window so the exchange
    # moves five scalar columns, never the text
    canon = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.col("text")).alias("dig"),
        F.size(tx.tokens(F.col("text"))).alias("n_tokens"),
    ).withColumn(
        "canonical_id", F.min("doc_id").over(Window.partitionBy("dig"))
    )
    from speech_data_pipeline_spark.queries.corpus_q import _bucket

    bucket = _bucket("doc_id")  # ONE split-defining hash (corpus_q._bucket)
    kept = canon.where(
        (F.col("doc_id") == F.col("canonical_id")) & (F.col("n_tokens") >= 20)
    ).withColumn("bucket", bucket)
    return (
        kept.withColumn(
            "split",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "validation")
            .otherwise("test"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.floor(F.col("n_chars") / F.lit(4.0)).cast("long") + 1).alias(
                "total_tokens"
            ),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "sample_stratified_hash",
    oracle="""
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: the first 5 documents per
    source in content-hash order — a reproducible, engine-independent
    'random' sample per stratum (the eval-set construction primitive;
    Bernoulli sampling is partitioning-dependent and unreproducible
    across engines). One window over the stratum key, no shuffle
    beyond it; at 100 TB the hash order is computed scan-side and the
    per-stratum top-k never materializes a stratum."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "doc_id", "n_chars")
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS term
        FROM documents
      ) GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS dfreq FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf,
           floor(score * 1000000.0) / 1000000.0 AS score, rnk
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * ln((n.n_docs + 1.0) / (d.dfreq + 1.0)) AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln((n.n_docs + 1.0) / (d.dfreq + 1.0)) DESC,
                        tf.term) AS rnk
      FROM tf JOIN dfreq d USING (term) CROSS JOIN n
    ) WHERE rnk <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed ln idf; deterministic
    per-doc cut by score desc, term asc)."""
    return tx.tfidf_topk(load_table(spark, sf_dir, "documents"), k=3)
