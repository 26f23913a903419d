"""Text-analysis operators over a document corpus.

Large-scale training-data-pipeline surface (the transcript-processing
analog of the reference's stage 5 text outputs,
modules/models/whisper_asr.py:171-178): quality scoring, language
identification, document fingerprinting.

Everything here is built-in-function column algebra — JVM-side,
whole-stage codegen, no Python in the hot path. Each function takes and
returns DataFrames so the operators compose into pipelines and push
filters/projections down to the scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from speech_data_pipeline_spark.functions import trunc6

#: Tiny per-language marker lexicons for the n-gram/stopword language-ID
#: heuristic. Deterministic, dependency-free; real deployments would swap
#: in fastText/CLD3 behind the same column contract.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "que", "de", "es"),
    "zh": ("的", "是", "不", "了", "在"),
}


#: BPE-ish subword pieces: word-char runs plus single non-word,
#: non-whitespace characters. ONE definition — the text_q oracle and
#: this operator must count identical pieces (the old lookaround-split
#: form counted tab/newline pieces because F.trim strips spaces only).
SUBWORD_PAT = r"[A-Za-z0-9_]+|[^ \t\n\rA-Za-z0-9_]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank
    text). The separator is an EXPLICIT class rather than ``\\s`` —
    Java's ``\\s`` includes vertical tab while RE2's (DuckDB) does
    not, so ``\\s`` silently breaks the cross-engine tokenizer
    contract on U+000B; the class below is byte-identical in both."""
    return F.filter(
        F.split(F.trim(text), "[ \\t\\n\\r\\f\\x0b]+"), lambda t: t != ""
    )


def html_to_text(html: Column) -> Column:
    """HTML → visible text: the first step of every web-crawl corpus
    pipeline (WARC/Common-Crawl → documents), as a pure JVM-side
    regexp chain — no UDF, fully pushdown/codegen-friendly, and
    expressible verbatim in the DuckDB oracle dialect.

    Steps (order matters): drop <script>/<style> elements WITH their
    content, drop comments, strip remaining tags, decode the six
    ubiquitous character entities (&amp; LAST so `&amp;lt;` decodes to
    the literal `&lt;`, not `<`), collapse whitespace. Regexes avoid
    every Java-vs-RE2 divergence: inline (?is) flags, lazy `.*?`, and
    explicit whitespace classes only (see :func:`tokens`).

    A full HTML5 parser this is not (CDATA, conditional comments,
    malformed-tag recovery are out of scope) — it is the
    trafilatura/jusText-style *extraction preprocessor*, where
    throughput across 100 TB matters more than DOM fidelity.
    """
    t = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, "[ \\t\\n\\r\\f\\x0b]+", " "))


def url_parts(url: Column) -> tuple[Column, Column, Column]:
    """Split a URL into (scheme, host[:port], rest-before-fragment)
    with regexp_extract only — identical Java/RE2 semantics, so the
    DuckDB oracle runs the same three patterns."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    rest = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    return scheme, host, rest


def url_normalize(url: Column) -> Column:
    """Canonical URL form — the dedup key of a web crawl frontier
    (billions of URLs; normalization collapses the trivial aliases
    BEFORE the exact-hash dedup): lowercase scheme+host (path stays
    case-sensitive), strip a leading ``www.``, drop default ports
    (``:80`` http / ``:443`` https), drop the fragment, strip
    ``utm_*`` tracking parameters (tidying separators), collapse an
    empty path to ``/``, and strip one trailing slash from non-root
    paths. Pure column algebra; every step is a regexp with identical
    Java/RE2 behavior.
    """
    scheme, host, rest = url_parts(url)
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, ":443$", "")).otherwise(host)
    )
    # utm params: kill 'utm_x=y' runs then tidy dangling separators.
    rest = F.regexp_replace(rest, r"utm_[A-Za-z0-9_]*=[^&#]*&?", "")
    rest = F.regexp_replace(rest, r"[?&]$", "")
    rest = F.regexp_replace(rest, r"\?&", "?")
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    rest = F.regexp_replace(rest, r"(.)/$", "$1")
    return F.concat(scheme, F.lit("://"), host, rest)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition quality features.

    Emits per-document features plus a composite ``quality`` in [0,1]:
    the mean of four clamped component scores. Thresholds follow common
    published web-corpus filters (Gopher/C4-style length and symbol
    ratios), computed entirely with built-in expressions.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    n_upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    uniq_ratio = F.when(
        n_tokens > 0, F.size(F.array_distinct(toks)) / n_tokens
    ).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_tokens > 0, n_alpha / n_tokens).otherwise(F.lit(0.0))
    len_score = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(
        n_punct / F.greatest(n_chars, F.lit(1)) * F.lit(10.0), F.lit(1.0)
    )
    case_score = F.lit(1.0) - F.least(
        n_upper / F.greatest(n_alpha, F.lit(1)) * F.lit(2.0), F.lit(1.0)
    )
    return (
        df.withColumn("n_chars_c", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("uniq_token_ratio", trunc6(uniq_ratio))
        .withColumn("mean_word_len", trunc6(mean_word_len))
        .withColumn(
            "quality",
            trunc6((len_score + punct_score + case_score + uniq_ratio) / 4.0),
        )
    )


def _marker_pattern(lang: str, markers: tuple[str, ...]) -> str:
    """Marker regex shared with the DuckDB oracle. Latin languages use
    \\b word boundaries; zh does NOT — regex \\b is defined on ASCII
    word chars, so ``\\b的\\b`` can never match inside unspaced CJK
    text and the zh path would be functionally dead (classifying
    Chinese as 'und'). CJK markers are single logographs, so plain
    occurrence counting is the correct boundary-free form.
    """
    body = "(" + "|".join(markers) + ")"
    return body if lang == "zh" else r"\b" + body + r"\b"


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language-ID heuristic.

    Scores each language by the number of marker-token occurrences
    (word-boundary matches), predicts the argmax with deterministic
    lexicographic tie-break, abstains to 'und' when no marker hits.
    """
    t = F.lower(F.col(text_col))
    scores = []
    out = df
    for lang, markers in sorted(LANG_MARKERS.items()):
        pattern = _marker_pattern(lang, markers)
        col = F.size(F.regexp_extract_all(t, F.lit(pattern), 1))
        out = out.withColumn(f"score_{lang}", col)
        scores.append((lang, F.col(f"score_{lang}")))
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # reversed so earlier languages win lexicographic ties via later overwrite
    for lang, s in reversed(scores):
        pred = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", pred)


#: Seed corpora for the Cavnar–Trenkle trigram profiles — ordinary
#: prose authored here (no downloads, no models). Accents are written
#: plainly because the shared normalizer keeps only [a-z] and the CJK
#: unified block, identically in Spark, DuckDB, and Python.
CT_SEEDS: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and the small "
        "children walk to school in the morning while the sun rises "
        "over the green hills and many people read their books about "
        "history and science with great interest every single day "
        "this is the house that we have built together and it will "
        "stand for a long time because the walls are strong and the "
        "roof does not leak when it rains in the autumn months "
        "there are many things that you should know about the world "
        "and the best way to learn them is to ask good questions and "
        "listen carefully to the answers that other people give you"
    ),
    "de": (
        "der schnelle braune fuchs springt ueber den faulen hund und "
        "die kleinen kinder gehen morgens zur schule waehrend die "
        "sonne ueber den huegeln aufgeht und die menschen mit grossem "
        "interesse buecher ueber geschichte und wissenschaft lesen "
        "das ist das haus das wir zusammen gebaut haben und es wird "
        "lange stehen weil die waende stark sind und das dach nicht "
        "undicht wird wenn es im herbst regnet "
        "es gibt viele dinge die man ueber die welt wissen sollte "
        "und der beste weg sie zu lernen ist gute fragen zu stellen "
        "und den antworten der anderen menschen genau zuzuhoeren"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et "
        "les petits enfants vont a l ecole le matin pendant que le "
        "soleil se leve sur les collines vertes et les gens lisent des "
        "livres sur l histoire et la science avec beaucoup d interet "
        "c est la maison que nous avons construite ensemble et elle "
        "restera longtemps debout parce que les murs sont solides et "
        "que le toit ne fuit pas quand il pleut en automne "
        "il y a beaucoup de choses que vous devriez savoir sur le "
        "monde et la meilleure facon de les apprendre est de poser de "
        "bonnes questions et d ecouter attentivement les reponses que "
        "les autres personnes vous donnent"
    ),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso y los "
        "ninos pequenos van a la escuela por la manana mientras el sol "
        "sale sobre las colinas verdes y la gente lee muchos libros "
        "sobre historia y ciencia con mucho interes cada dia "
        "esta es la casa que hemos construido juntos y quedara en pie "
        "mucho tiempo porque las paredes son fuertes y el techo no "
        "gotea cuando llueve en otono "
        "hay muchas cosas que deberias saber sobre el mundo y la "
        "mejor manera de aprenderlas es hacer buenas preguntas y "
        "escuchar con atencion las respuestas que otras personas te dan"
    ),
    "zh": (
        "敏捷的棕色狐狸跳过懒狗小孩子早上走路去学校太阳从山上升起"
        "人们带着极大的兴趣阅读关于历史和科学的书籍我们每天学习新的"
        "知识语言是人类交流的工具每个人都喜欢读书和写字"
        "这是我们一起建造的房子它会长久地站立因为墙壁坚固屋顶在秋天"
        "下雨的时候不会漏水世界上有很多事情你应该知道学习它们的最好"
        "方法是提出好的问题并且认真听别人给你的回答"
    ),
}

#: Normalizer shared verbatim by the Spark operator, the DuckDB oracle
#: (with its explicit 'g' flag), and the Python profile builder: keep
#: lowercase ascii letters and the CJK unified block, collapse
#: everything else into single spaces.
CT_NORM_PAT = "[^a-z一-龥]+"

#: Per-document ranked-n-gram depth (the classified side).
CT_K = 150

#: Per-language profile depth — deeper than the doc side so a typical
#: document's grams are COVERED by the right language's profile (a
#: 150-deep profile left ~half of a short doc's grams unmatched and
#: the miss penalty drowned the signal); 400 ≈ the distinct-gram count
#: of the seed corpora, and Cavnar–Trenkle themselves run 300+.
CT_K_PROF = 400

#: Character n-gram orders (Cavnar–Trenkle use 1..5; 1..3 suffices
#: here and keeps the CJK path alive: an unseen hanzi TRIgram still
#: matches the profile through its unigrams/bigrams, where pure
#: trigrams between two different Chinese sentences rarely overlap).
CT_NS = (1, 2, 3)


def ct_profiles(k: int = CT_K_PROF) -> dict[str, dict[str, int]]:
    """Cavnar–Trenkle language profiles from :data:`CT_SEEDS`: the
    top-``k`` character 1-/2-/3-grams of the padded normalized seed,
    ranked 1..k by (count desc, gram asc) — pure Python,
    deterministic, and byte-identical to the gram streams the engines
    extract."""
    import re

    out: dict[str, dict[str, int]] = {}
    for lang, seed in CT_SEEDS.items():
        t = re.sub(CT_NORM_PAT, " ", seed.lower()).strip()
        s = f" {t} " if t else ""
        counts: dict[str, int] = {}
        for n in CT_NS:
            for i in range(len(s) - n + 1):
                g = s[i : i + n]
                counts[g] = counts.get(g, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[lang] = {g: rank for rank, (g, _) in enumerate(ranked, 1)}
    return out


def language_id_trigram(
    df: DataFrame,
    text_col: str = "text",
    k: int = CT_K,
    k_prof: int = CT_K_PROF,
) -> DataFrame:
    """Cavnar–Trenkle character-trigram language ID (N-Gram-Based Text
    Categorization, 1994) — the profile method fastText-less systems
    ship: rank a document's top-``k`` character 1-/2-/3-grams, compare
    to each language's seeded profile by out-of-place distance
    (a gram missing from the profile costs ``k_prof``, the profile
    depth — NOT ``k``), predict the argmin (ties: lang asc), abstain
    to 'und' when the text has no grams. Output columns ``pred_lang``
    / ``best_dist`` overwrite same-named input columns (re-running or
    stacking classifiers is idempotent, never ambiguous).

    Plan shape (scales): classification is PER-DOCUMENT work — no gram
    ever needs to cross documents — so it runs as one Arrow-batched
    pandas UDF over the text column: ZERO shuffles, embarrassingly
    parallel, cost O(doc length) per document. The round-4 relational
    formulation (explode 1/2/3-grams → (doc, gram) count shuffle →
    rank window → ×|langs| profile join) was semantically identical
    but pushed 3×corpus-characters through a shuffle and a sort — 84 s
    at the sf1 stress scale vs 0.7 s for this kernel; at 100 TB the
    relational form shuffles the corpus, this form streams it. The
    per-language profile tables (5 × ``k_prof`` entries, built
    driver-side from the same seeds as the DuckDB oracle) ride along
    in the UDF closure — the broadcast-small side stays broadcast.
    The DuckDB oracle (queries/text_q.py) still replays the full
    relational formulation, pinning this kernel's semantics to the
    declarative spec.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    profs = ct_profiles(k_prof)
    langs = sorted(profs)
    norm_re = re.compile(CT_NORM_PAT)

    @pandas_udf("pred_lang string, best_dist long")
    def _ct_classify(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        preds: list[str] = []
        dists: list[int] = []
        for txt in texts:
            t = norm_re.sub(" ", (txt or "").lower()).strip()
            if not t:
                preds.append("und")
                dists.append(0)
                continue
            s = f" {t} "
            counts: Counter[str] = Counter()
            for n in CT_NS:
                counts.update(s[i : i + n] for i in range(len(s) - n + 1))
            ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            best_lang, best_dist = "und", -1
            for lang in langs:
                p = profs[lang]
                d = 0
                for drank, (g, _) in enumerate(ranked, 1):
                    pr = p.get(g)
                    d += k_prof if pr is None else abs(drank - pr)
                if best_dist < 0 or d < best_dist:
                    best_lang, best_dist = lang, d
            preds.append(best_lang)
            dists.append(max(best_dist, 0))
        return pd.DataFrame({"pred_lang": preds, "best_dist": dists})

    # drop (no-op when absent) so re-classification overwrites instead
    # of raising an ambiguous-reference AnalysisException
    out = df.drop("pred_lang", "best_dist").withColumn(
        "_ct", _ct_classify(F.col(text_col))
    )
    return (
        out.withColumn("pred_lang", F.col("_ct.pred_lang"))
        .withColumn("best_dist", F.col("_ct.best_dist"))
        .drop("_ct")
    )


def repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition metrics.

    Emits per document:

    - ``dup_line_frac`` — fraction of non-blank lines that are repeats
      of an earlier-seen line (1 - distinct/total);
    - ``dup_line_char_frac`` — fraction of line characters belonging to
      lines that occur more than once;
    - ``dup_word_frac`` — fraction of word occurrences that repeat an
      earlier-seen word (1 - distinct/total tokens);
    - ``top_bigram_frac`` — fraction of characters covered by
      occurrences of the most frequent word bigram (count × bigram
      length / total chars), the "top 2-gram" filter of web-corpus
      quality stacks.

    Line metrics are in-row array algebra (no shuffle). The bigram mode
    is explode → two groupBys → broadcast-joinable per-doc argmax —
    linear in corpus size, the scalable shape (an in-row O(lines²)
    variant would be quadratic in pathological single-doc line counts).
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, r"\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    # Chars in lines occurring >1 times, via sorted-neighbor equality —
    # O(L log L) per document (a nested filter-within-filter would scan
    # all lines per line: O(L²), a single pathological document with
    # 1e5+ lines stalls its task).
    sl = F.array_sort(lines)
    m = F.size(sl)
    dup_chars = F.aggregate(
        F.transform(
            sl,
            lambda l, i: F.when(
                ((i > 0) & (F.element_at(sl, i) == l))
                | ((i < m - 1) & (F.element_at(sl, i + 2) == l)),
                F.length(l).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    toks0 = tokens(t)
    n_toks = F.size(toks0)
    base = df.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        F.when(n_lines > 0, (n_lines - n_distinct) / n_lines)
        .otherwise(F.lit(0.0))
        .alias("_dlf"),
        F.when(line_chars > 0, dup_chars / line_chars)
        .otherwise(F.lit(0.0))
        .alias("_dlcf"),
        F.when(n_toks > 0, (n_toks - F.size(F.array_distinct(toks0))) / n_toks)
        .otherwise(F.lit(0.0))
        .alias("_dwf"),
    )

    toks = tokens(t)
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    bg = df.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, n).alias("w1"), F.slice(toks, 2, n).alias("w2")
            )
        ).alias("b"),
    ).select(
        "doc_id", F.concat_ws(" ", F.col("b.w1"), F.col("b.w2")).alias("bigram")
    )
    counts = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    top = counts.groupBy("doc_id").agg(
        F.max_by(
            F.struct(F.col("c"), F.length("bigram").alias("blen")),
            # deterministic argmax: highest count, then longest, then last
            # lexicographic — encoded in one orderable struct
            F.struct(F.col("c"), F.length("bigram").alias("blen"), F.col("bigram")),
        ).alias("t")
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            trunc6(F.col("_dlf")).alias("dup_line_frac"),
            trunc6(F.col("_dlcf")).alias("dup_line_char_frac"),
            trunc6(F.col("_dwf")).alias("dup_word_frac"),
            trunc6(
                F.when(
                    F.col("t").isNotNull() & (F.col("n_chars") > 0),
                    F.col("t.c") * F.col("t.blen") / F.col("n_chars"),
                ).otherwise(F.lit(0.0))
            ).alias("top_bigram_frac"),
        )
    )


def tfidf_topk(df: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    Terms are lowercase alphabetic runs; ``idf = ln((N+1)/(df+1))``
    (smoothed). Rank per document by score descending, term ascending —
    exact double ties (same tf and df) break on the term, so the cut is
    deterministic cross-engine.

    Plan: one explode → (doc, term) counts; document frequency derived
    from the counts (no second corpus pass); N is a broadcast scalar;
    top-k via row_number per doc. All shuffles key on term or doc_id.
    The tf⋈dfreq join is deliberately NOT hinted: the distinct-term
    vocabulary grows with the corpus and can exceed broadcast limits at
    scale — AQE picks broadcast when the vocab is actually small.
    """
    terms = df.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("([a-z]+)"), 1)
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    score = F.col("tf") * F.log(
        (F.col("n_docs") + F.lit(1.0)) / (F.col("dfreq") + F.lit(1.0))
    )
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            trunc6(score).alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def bpe_train_merges(
    df: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Train the first ``n_merges`` BPE tokenizer merges over the
    corpus — the way production tokenizers are actually trained: on the
    WORD-FREQUENCY table, not raw sequences, so the corpus-sized work
    is one token count and every merge round runs on the vocab.

    Protocol (the standard greedy BPE): words are DOUBLE-space-joined
    character symbols with double-space sentinels (``  a  b  c  ``);
    each round counts adjacent symbol pairs weighted by word frequency,
    picks the most frequent (ties: count desc, left asc, right asc),
    and merges every greedy-leftmost occurrence as ONE string
    ``replace(' a  b ' -> ' ab ')`` per word. The double boundary is
    load-bearing: each match consumes one space from each side, so
    symbol-disjoint adjacent occurrences (``x a b a b`` → ``x ab ab``)
    do not overlap in the string and all merge in one round, while
    symbol-SHARING occurrences (``a a a`` with pair (a,a) → ``aa a``)
    still merge non-overlapping leftmost — exactly BPE's convention.
    Both engines define replace() identically (leftmost,
    non-overlapping, boundary-preserving here by construction), so the
    whole trajectory replays as chained CTEs.

    The merge loop itself runs as a single-task Arrow pass over the
    Heaps-bounded word table (see :func:`bpe_train` for the round-11
    rationale; the trajectory is bit-identical to the former per-round
    distributed loop and stays oracle-gated). A delta-maintained
    pair-count table — the classic single-machine BPE trick — was
    measured 22× SLOWER than recounting when the loop was distributed;
    in the local kernel the recount is a plain dict pass over the
    bounded table and needs no such machinery.

    Returns ``(round, left, right, pair_count)`` — the merge table a
    tokenizer ships. :func:`bpe_train` additionally returns the
    trained word table for encoding.
    """
    merges, _ = bpe_train(df, n_merges, text_col)
    return merges


#: mapInPandas output schemas of the single-task tokenizer trainers.
_BPE_MERGE_SCHEMA = "round int, left string, right string, pair_count long"
_WP_MERGE_SCHEMA = _BPE_MERGE_SCHEMA + ", score double"
_TRAIN_VOCAB_SCHEMA = "word string, freq long, w string"


def _tokenizer_words(df: DataFrame, text_col: str) -> DataFrame:
    """The shared corpus-sized pass of every trainer: lowercase
    ``[a-z]+`` word frequencies, coalesced so the FINAL (merge-side)
    aggregation lands in one task — the map-side partial counts stay
    fully parallel, and the single reduce task is what the local
    training kernel then runs on without another exchange."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("([a-z]+)"), 1
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .coalesce(1)
    )


def _greedy_merge_rounds(
    words: list, freqs: list, n_merges: int, wordpiece: bool
):
    """Pure-Python replay of the greedy merge trajectory over the
    bounded word table — the EXACT sequence the former per-round
    distributed loop (and the DuckDB oracle's chained CTEs) computes:

    - pair counts: adjacent symbols of the double-space symbol string,
      weighted by word freq;
    - argmax: (count desc, a, b) for BPE; (score desc, count desc,
      a, b) for WordPiece with ``score = c / (count(a)·count(b))`` as
      an IEEE double division of exact ints (same value as Spark's
      ``cast(double)/cast(double)``);
    - merge: leftmost non-overlapping ``replace(' a  b ' -> ' ab ')``
      (``str.replace`` and UTF8String.replace agree), WordPiece
      stripping the right side's ``##`` continuation marker;
    - a round with NO pairs is a no-op that emits no merge row (the
      sentinel-row semantics of the distributed form).
    """
    if wordpiece:
        ws = [
            "  "
            + w[0]
            + ("  ##" + "  ##".join(w[1:]) if len(w) > 1 else "")
            + "  "
            for w in words
        ]
    else:
        ws = ["  " + "  ".join(w) + "  " for w in words]
    merges = []
    for rnd in range(1, n_merges + 1):
        pc: dict = {}
        sc: dict = {}
        for wstr, f in zip(ws, freqs):
            syms = [s for s in wstr.split(" ") if s]
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + f
            if wordpiece:
                for s in syms:
                    sc[s] = sc.get(s, 0) + f
        if not pc:
            continue
        if wordpiece:
            (a, b), c = min(
                pc.items(),
                key=lambda kv: (
                    -(float(kv[1]) / float(sc[kv[0][0]] * sc[kv[0][1]])),
                    -kv[1],
                    kv[0],
                ),
            )
            score = float(c) / float(sc[a] * sc[b])
            merges.append((rnd, a, b, int(c), score))
            rep = f" {a}{b[2:]} "
        else:
            (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rnd, a, b, int(c)))
            rep = f" {a}{b} "
        pat = f" {a}  {b} "
        ws = [w.replace(pat, rep) for w in ws]
    return ws, merges


def _local_trainer(n_merges: int, wordpiece: bool, emit: str):
    """mapInPandas kernel factory: consume the (single-partition) word
    table, run :func:`_greedy_merge_rounds` once, emit either the
    merge table or the trained vocab."""

    def fn(batches):
        frames = list(batches)
        if frames:
            allb = pd.concat(frames, ignore_index=True)
            words = allb["word"].tolist()
            freqs = allb["freq"].tolist()
        else:
            words, freqs = [], []
        ws, merges = _greedy_merge_rounds(words, freqs, n_merges, wordpiece)
        if emit == "merges":
            cols = (
                list(zip(*merges))
                if merges
                else [[]] * (5 if wordpiece else 4)
            )
            data = {
                "round": cols[0],
                "left": cols[1],
                "right": cols[2],
                "pair_count": cols[3],
            }
            types = {"round": "int32", "pair_count": "int64"}
            if wordpiece:
                data["score"] = cols[4]
                types["score"] = "float64"
            yield pd.DataFrame(data).astype(types)
        else:
            yield pd.DataFrame(
                {"word": words, "freq": freqs, "w": ws}
            ).astype({"freq": "int64"})

    return fn


def bpe_train(
    df: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
):
    """Run BPE training (see :func:`bpe_train_merges`); returns
    ``(merges, vocab)`` where ``vocab`` is the trained word table
    ``(word, freq, w)`` — ``w`` the word's final symbol string, whose
    symbol count IS the word's BPE token count (the encode step is a
    join against this table, never a re-segmentation).

    The merge loop runs as ONE single-task Arrow pass over the word
    table (round-11 optimization, guide §1.2): corpus-sized work is
    still the distributed word count, but the training STATE — the
    word-frequency table — is Heaps-law bounded, the same bound the
    former per-round distributed loop already relied on for its
    broadcast one-row argmax and its localCheckpoint-per-round
    materializations. Replaying the greedy trajectory in one
    ``mapInPandas`` task replaces 2·n_merges eager vocab-sized jobs
    (measured: the per-round job ladder, not data volume, dominated —
    8c/32c scaling ratio 0.64) with zero extra jobs; the trajectory
    itself is bit-identical (:func:`_greedy_merge_rounds`) and stays
    gated by the DuckDB oracle's chained-CTE replay.
    """
    words = _tokenizer_words(df, text_col)
    merges = words.mapInPandas(
        _local_trainer(n_merges, False, "merges"), _BPE_MERGE_SCHEMA
    )
    vocab = words.mapInPandas(
        _local_trainer(n_merges, False, "vocab"), _TRAIN_VOCAB_SCHEMA
    )
    return merges, vocab


def wordpiece_train(
    df: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
):
    """Train WordPiece merges (Schuster & Nakajima 2012; the BERT
    tokenizer) — the third production tokenizer family beside
    :func:`bpe_train` and :func:`unigram_lm_train`.

    Identical loop shape to BPE (word-frequency table, double-space
    symbol strings, one vocab-sized recount + broadcast one-row argmax
    + boundary-preserving replace per round) with two deltas:

    - **continuation symbols**: a word's first character is plain,
      the rest carry the ``##`` prefix (``  c  ##a  ##t  ``); a merge
      of ``(x, ##y)`` yields ``x·y`` with the right side's ``##``
      stripped — so merged symbols inherit the LEFT side's position
      marker, exactly the HF-tokenizers convention.
    - **likelihood argmax**: instead of raw pair count, WordPiece
      picks the pair maximizing ``count(ab) / (count(a)·count(b))``
      (the corpus-likelihood gain of the merge). The score is an IEEE
      double division of exact BIGINTs — correctly rounded, hence
      bit-identical in Spark and DuckDB — with (count desc, a, b) as
      the deterministic tie-break, so the argmax trajectory replays
      engine-exactly.

    Scale shape = BPE's: corpus-sized work is the single word count;
    the merge loop itself runs as ONE single-task Arrow pass over the
    Heaps-bounded word table (see :func:`bpe_train` — same round-11
    rationale, same bit-identical trajectory contract, still gated by
    the DuckDB oracle's chained-CTE replay).

    Returns ``(merges, vocab)``: merges = (round, left, right,
    pair_count, score — trunc6 double); vocab = (word, freq, w) with
    ``w`` the final symbol string (symbol count = WordPiece token
    count, so encode is a join, never re-segmentation).
    """
    from speech_data_pipeline_spark.functions import trunc6

    words = _tokenizer_words(df, text_col)
    merges = words.mapInPandas(
        _local_trainer(n_merges, True, "merges"), _WP_MERGE_SCHEMA
    ).select(
        "round",
        "left",
        "right",
        "pair_count",
        trunc6(F.col("score")).alias("score"),
    )
    vocab = words.mapInPandas(
        _local_trainer(n_merges, True, "vocab"), _TRAIN_VOCAB_SCHEMA
    )
    return merges, vocab


#: Log-cost quantization grid for the unigram LM: floor(ln(p) * 2^20)
#: — the ml_q.py integer nano-nat convention; BIGINT-exact DP sums.
UNIGRAM_Q = 1 << 20


def _unigram_local_rounds(
    words: list,
    freqs: list,
    n_rounds: int,
    ml: int,
    seed_multi: int,
):
    """Pure-Python replay of the unigram-LM EM trajectory over the
    bounded word table — the EXACT computation the former distributed
    loop (and the DuckDB oracle's recursive CTEs) performs:

    - seed: positional-multiplicity substring counts (len 1..``ml``)
      weighted by word freq; vocab = all singles + top ``seed_multi``
      multis by (cnt desc, piece asc);
    - costs: ``-floor(ln(cnt/total)·2^20)`` with the same double ops
      (cnt and total cast to double, IEEE divide, ln, multiply);
    - E-step: integer Viterbi (min total cost; backtrack picks the
      MINIMAL j, i.e. the longest optimal piece — the array_min tie
      rule);
    - M-step: multis keep freq-weighted usage (unused pieces prune),
      the SEED single-char set gets usage + 1 (Laplace floor).

    Returns ``(trajectory, vocab_rows, word_seg)`` as plain tuples.
    """
    import math

    q = UNIGRAM_Q
    seedc: dict = {}
    for w, f in zip(words, freqs):
        n = len(w)
        for j in range(n):
            for ln_ in range(1, min(ml, n - j) + 1):
                p = w[j : j + ln_]
                seedc[p] = seedc.get(p, 0) + f
    singles = {p: c for p, c in seedc.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in seedc.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: int(seed_multi)]
    vocab = dict(singles)
    vocab.update(multis)
    single_set = sorted(singles)

    def costs_of(v: dict) -> dict:
        total = float(sum(v.values()))
        return {
            p: -math.floor(math.log(float(c) / total) * q)
            for p, c in v.items()
        }

    def viterbi(w: str, costs: dict):
        n = len(w)
        bests = [0] * (n + 1)
        for i in range(1, n + 1):
            best = None
            for ln_ in range(1, min(ml, i) + 1):
                c = costs.get(w[i - ln_ : i])
                if c is None:
                    continue
                cand = bests[i - ln_] + c
                if best is None or cand < best:
                    best = cand
            bests[i] = best
        pieces = []
        cur = n
        while cur > 0:
            minj = None
            for ln_ in range(1, min(ml, cur) + 1):
                j = cur - ln_
                c = costs.get(w[j:cur])
                if c is not None and bests[j] + c == bests[cur]:
                    minj = j  # longest piece = smallest j; loop ascends ln_
            pieces.append(w[minj:cur])
            cur = minj
        return pieces, bests[n]

    costs = costs_of(vocab)
    traj = [(0, p, vocab[p], costs[p]) for p in vocab]
    for rnd in range(1, int(n_rounds) + 1):
        usage: dict = {}
        for w, f in zip(words, freqs):
            for p in viterbi(w, costs)[0]:
                usage[p] = usage.get(p, 0) + f
        vocab = {p: usage.get(p, 0) + 1 for p in single_set}
        for p, u in usage.items():
            if len(p) > 1:
                vocab[p] = u
        costs = costs_of(vocab)
        traj.extend((rnd, p, vocab[p], costs[p]) for p in vocab)
    seg = []
    for w, f in zip(words, freqs):
        pieces, total_cost = viterbi(w, costs)
        seg.append((w, f, len(pieces), total_cost))
    vocab_rows = [(p, vocab[p], costs[p]) for p in vocab]
    return traj, vocab_rows, seg


def unigram_lm_train(
    df: DataFrame,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    seed_multi: int = 150,
    text_col: str = "text",
):
    """Train a SentencePiece-style unigram-LM tokenizer (Kudo 2018)
    over the corpus word-frequency table — the second production
    tokenizer family beside :func:`bpe_train`.

    Protocol (fixed-round EM, engine-exact):

    - **words**: same extraction as BPE — lowercase ``[a-z]+`` word
      frequencies; the only corpus-sized pass.
    - **seed** (round 0): every substring of length 1..``max_piece_len``
      counted with positional multiplicity, weighted by word freq; the
      vocab is ALL single characters plus the top ``seed_multi``
      multi-character pieces by (count desc, piece asc) — a
      TakeOrdered, no global window. Piece probabilities are
      ``cnt/total``; costs are the ml_q.py integer grid
      ``-floor(ln(p)·2^20)`` so Viterbi sums are BIGINT-exact and the
      whole trajectory replays in DuckDB.
    - **E-step**: per-word Viterbi segmentation under current costs;
      ties prefer the longest piece (minimal j), deterministically.
    - **M-step**: piece usage = freq-weighted occurrence count in the
      Viterbi segmentations. New counts: multi-char pieces keep
      ``usage`` (unused pieces PRUNE — that's the EM's vocabulary
      selection); single characters get ``usage + 1`` (Laplace floor)
      so coverage never dies. Costs recomputed from the new total.

    Scale shape: corpus-sized work is the single word count; the EM
    loop itself runs as ONE single-task Arrow pass over the
    Heaps-bounded word table (:func:`_unigram_local_rounds` — the
    round-11 :func:`bpe_train` rationale: the former per-round
    distributed jobs on the same bounded table were pure scheduling
    overhead, and the trajectory is replayed value-exactly, still
    gated by the DuckDB oracle's recursive CTEs). Per-word DP cost is
    O(len·max_piece_len) integer arithmetic.

    Returns ``(trajectory, final_costs, word_seg)``:
    ``trajectory`` = (round, piece, cnt, cost) for rounds
    0..``n_rounds``; ``final_costs`` = the last round's vocab;
    ``word_seg`` = (word, freq, n_pieces, word_cost) — each word's
    token count and total cost under the FINAL vocab (encoding is a
    join against this table, never per-document re-segmentation).
    """
    words = _tokenizer_words(df, text_col)
    ml, sm, nr = int(max_piece_len), int(seed_multi), int(n_rounds)

    def kernel(emit: str):
        def fn(batches):
            frames = list(batches)
            if frames:
                allb = pd.concat(frames, ignore_index=True)
                ws = allb["word"].tolist()
                fs = allb["freq"].tolist()
            else:
                ws, fs = [], []
            traj, vocab_rows, seg = _unigram_local_rounds(ws, fs, nr, ml, sm)
            if emit == "traj":
                rows = traj
                cols = {"round": "int32", "piece": None, "cnt": "int64",
                        "cost": "int64"}
            elif emit == "vocab":
                rows = vocab_rows
                cols = {"piece": None, "cnt": "int64", "cost": "int64"}
            else:
                rows = seg
                cols = {"word": None, "freq": "int64", "n_pieces": "int64",
                        "word_cost": "int64"}
            data = list(zip(*rows)) if rows else [[]] * len(cols)
            out = pd.DataFrame(dict(zip(cols, data)))
            yield out.astype({k: t for k, t in cols.items() if t})

        return fn

    trajectory = words.mapInPandas(
        kernel("traj"), "round int, piece string, cnt long, cost long"
    )
    vocab = words.mapInPandas(
        kernel("vocab"), "piece string, cnt long, cost long"
    )
    word_seg = words.mapInPandas(
        kernel("seg"), "word string, freq long, n_pieces long, word_cost long"
    )
    return trajectory, vocab, word_seg


def cdc_anchor_chunks(
    df: DataFrame,
    window: int = 8,
    base: int = 31,
    mod: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stateless content-defined chunking: split each document at every
    position where the polynomial hash of the trailing ``window``-char
    codepoint window ≡ 0 (mod ``mod``); emit ``(id, chunk_hash)`` rows.

    Hash convention (must match the SQL spec in
    queries/curation_q.py `_cdc_pred`): the FIRST char of the window
    carries base^0, the last base^(window-1).

    Vectorized Arrow-batch kernel: codepoints come from one
    ``utf-32-le`` reinterpretation (no per-char Python), the sliding
    polynomial is one ``sliding_window_view @ pows`` matmul per
    document, boundaries one ``nonzero``. This replaces an equivalent
    in-row higher-order-function formulation that was ~2× slower —
    Catalyst evaluates lambda bodies per element interpreted, outside
    whole-stage codegen — while remaining exactly replayable: the
    DuckDB oracle still runs the pure-SQL spec and hash-matches.
    Per-document state only; scales with partitions like every other
    kernel here.
    """
    import numpy as np
    import pandas as pd

    pows = np.array([base**k for k in range(window)], dtype=np.int64)

    def run(batches):
        import hashlib

        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids: list = []
            hashes: list[str] = []
            for doc_id, text in zip(pdf[id_col].values, pdf[text_col].values):
                n = len(text)
                if n < window:
                    continue
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                h = sliding_window_view(codes, window) @ pows
                ends = np.nonzero(h % mod == 0)[0] + window  # 1-based end pos
                bs = np.unique(np.concatenate(([0], ends, [n])))
                for a, b in zip(bs[:-1], bs[1:]):
                    ids.append(doc_id)
                    hashes.append(hashlib.md5(text[a:b].encode()).hexdigest())
            yield pd.DataFrame({id_col: ids, "chunk_hash": hashes})

    return (
        df.select(id_col, text_col)
        .where(F.length(text_col) >= window)
        .mapInPandas(run, schema=f"{id_col} long, chunk_hash string")
    )


def char_shingles(text: Column, k: int) -> Column:
    """All ``k``-char shingles of ``text`` as array<string> (with repeats).

    For texts shorter than ``k`` the single truncated prefix is emitted,
    so every non-empty document has at least one shingle.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - F.lit(k - 1), F.lit(1)))
    return F.transform(idx, lambda i: text.substr(i, F.lit(k)))


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 8) -> DataFrame:
    """Deterministic document fingerprint (rolling-hash analog).

    The minimum MD5 over all ``k``-char shingles — a winnowing-style
    content fingerprint, stable under corpus reordering and portable
    across engines (pure md5 + substring + lexicographic min).
    """
    return df.withColumn(
        "fingerprint",
        F.array_min(F.transform(char_shingles(F.col(text_col), k), F.md5)),
    )


def word_ngrams(text: Column, n: int) -> Column:
    """All word ``n``-grams of ``text`` as array<string> (space-joined,
    lowercase alpha tokens; empty array when the document has fewer
    than ``n`` tokens).

    In-row column algebra: one regexp tokenization, then a
    ``transform(sequence(...))`` slide — no explode until the caller
    chooses to.

    The token array is bound as a LAMBDA VARIABLE (transform over a
    1-element array), not inlined: Catalyst's CollapseProject
    duplicates a plain column expression into every reference — the
    two ``size(t)`` guards and the per-gram ``slice`` — re-running the
    regexp tokenization per gram (observed 6 ``regexp_extract_all``
    nodes in a consumer's plan; same fix as the CDC codepoint array in
    queries/curation_q.py).
    """
    tok = F.regexp_extract_all(F.lower(text), F.lit("([a-z]+)"), 1)

    def build(t):
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tok), build), 1)


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing any word
    ``n``-gram with a benchmark/eval set (the standard pre-training
    leakage check; production stacks use n in 8–13).

    Per corpus document: ``n_grams`` (distinct grams), ``n_hits``
    (distinct grams also present in the benchmark), ``contaminated``.

    100 TB shape: the benchmark gram set is bounded (eval suites are
    MBs, the corpus is TBs), so it is **broadcast** — and the corpus
    is NEVER shuffled at gram width: per-document gram dedup is
    in-row ``array_distinct`` (a document's grams live in one row
    before any explode), ``n_grams`` is an in-row ``size``, the
    exploded distinct-gram stream semi-joins map-side against the
    broadcast set, and only the surviving hits shuffle into the
    per-document count.
    """
    dg = corpus.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("grams"),
    )
    bench_grams = benchmark.select(
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("gram")
    ).distinct()
    hits = (
        dg.select(id_col, F.explode("grams").alias("gram"))
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        dg.select(id_col, F.size("grams").alias("n_grams"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


#: PII regex patterns shared by the Spark operator and the DuckDB
#: oracle: plain character classes only — identical semantics in Java
#: regex and RE2 (no lookaround, no backrefs).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    # explicit [a-zA-Z] classes, not (?i): real-world PII is mixed-case
    # (John.Doe@Gmail.COM), and spelled-out classes keep the Java/RE2
    # semantics identical without relying on flag parity
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails / IPv4s / phone numbers, emitting per-document match
    counts and the redacted text.

    Map-only column algebra (three ``regexp_replace`` passes + three
    ``regexp_extract_all`` counts) — zero shuffle at any scale. Each
    pattern is COUNTED on the text after the previous patterns were
    redacted, so every count corresponds to an actual replacement in
    the output: a phone/IP shape embedded inside an email local part
    ("555-123-4567@mail.com") counts once as an email, not again as a
    phone.
    """
    out = df
    red = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(red, F.lit(pat), 0))
        )
        red = F.regexp_replace(red, F.lit(pat), F.lit(repl))
    return out.withColumn("redacted", red)


def hash_embed_sparse(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashed bag-of-words embedding, sparse form
    ``(id, bucket, dv)`` (Weinberger et al. 2009, "Feature Hashing for
    Large Scale Multitask Learning" — the signed hashing-trick).

    Text becomes a ``dim``-dimensional vector with NO model: each word
    occurrence hashes to a bucket (low ``log2(dim)`` bits of its 60-bit
    md5 prefix) and contributes ±1 (the next hash bit), so ``dv`` is an
    exact integer and every downstream dot product / norm is integer
    arithmetic — bit-identical on any engine and any shuffle order.

    Plan shape: explode word occurrences → one groupBy
    ``(id, bucket)`` with map-side partial combine. At 100 TB that is
    a single hash shuffle of ``(id, bucket, ±1)`` partial sums — the
    canonical distributed text-vectorization shape (Spark MLlib's
    HashingTF is the same plan with a murmur hash; md5 here keeps the
    DuckDB oracle exact).

    ``dim`` must be a power of two (bucket = bitmask, sign = next bit).
    """
    if dim & (dim - 1):
        raise ValueError("hash_embed_sparse: dim must be a power of two")
    shift = dim.bit_length() - 1
    occ = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("([a-z]+)"), 1)
        ).alias("w"),
    )
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    return (
        occ.select(
            "id",
            F.pmod(h, F.lit(dim)).alias("bucket"),
            F.when(F.pmod(F.shiftright(h, shift), F.lit(2)) == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("s"),
        )
        .groupBy("id", "bucket")
        .agg(F.sum("s").alias("dv"))
    )


def hash_embed_vector(text: str, dim: int = 64) -> dict[int, int]:
    """Driver-side mirror of :func:`hash_embed_sparse` for one literal
    query string — same md5-prefix hash, same bucket/sign bits, so the
    resulting sparse dict matches what the cluster would compute."""
    import hashlib
    import re

    shift = dim.bit_length() - 1
    vec: dict[int, int] = {}
    for w in re.findall("[a-z]+", text.lower()):
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        b = h % dim
        s = 1 if (h >> shift) % 2 == 0 else -1
        vec[b] = vec.get(b, 0) + s
    return {b: v for b, v in vec.items()}


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-char shingle,
    slide a ``w``-hash window, and select each window's MINIMUM hash
    with the RIGHTMOST tie-break; identical (position, hash)
    selections collapse. Guarantees every match of length ≥ w+k-1 is
    caught while keeping ~2/(w+1) of the hashes.

    Returns one row per selected fingerprint: ``(id, pos, fp)`` where
    ``pos`` is the 1-based shingle index and ``fp`` the 28-bit
    md5-prefix hash (the engine-portable hash convention).

    100 TB shape: the whole selection is in-row column algebra over
    per-document arrays (bounded by document length) — no UDF, no
    shuffle until the caller aggregates the exploded fingerprint rows.
    The gram and per-window slice arrays are bound as lambda
    variables (transform-over-1-element-array) so CollapseProject
    cannot re-inline the md5 scan per window.
    """
    from speech_data_pipeline_spark.operators.dedup import (
        _ensure_parallelism,
    )

    df = _ensure_parallelism(df)  # one row-group parquet scans as ONE
    # partition; the per-row md5 work below would run single-threaded
    text = F.col(text_col)
    grams_expr = F.transform(
        char_shingles(text, k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
    )

    def per_window(g):
        nwin = F.greatest(F.size(g) - F.lit(w - 1), F.lit(1))

        # w is a small compile-time constant: unroll the window min and
        # the rightmost-tie position as least() + a CASE ladder over w
        # element_at probes — no per-window slice/reverse/array_position
        # allocations (the slice form measured ~8µs/window; this is
        # pure scalar codegen). try_element_at past the end is NULL
        # (plain element_at THROWS under ANSI): least() skips NULLs and
        # a NULL == comparison falls through the CASE.
        def pick(j):
            es = [F.try_element_at(g, j + F.lit(i)) for i in range(w)]
            mn = F.least(*es) if w > 1 else es[0]

            def bind(m):
                pos = F.when(es[w - 1] == m, j + (w - 1))
                for i in range(w - 2, 0, -1):
                    pos = pos.when(es[i] == m, j + i)
                pos = pos.otherwise(j)
                return F.struct(pos.alias("pos"), m.alias("fp"))

            return F.element_at(
                F.transform(F.array(mn), bind), 1
            )

        return F.transform(F.sequence(F.lit(1), nwin), pick)

    wins = F.element_at(F.transform(F.array(grams_expr), per_window), 1)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(wins)).alias("t"),
    ).select("id", F.col("t.pos").alias("pos"), F.col("t.fp").alias("fp"))
