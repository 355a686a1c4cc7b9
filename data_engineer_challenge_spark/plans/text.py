"""Text-analysis query library (SURVEY.md §2.10; driver north star).

Training-data-pipeline text operators over the ``documents`` table:
token statistics, quality scoring, language-ID heuristic, document
fingerprinting. Everything is built-in column expressions (regex, list
lambdas, md5) — per-row, no shuffle beyond the final aggregates, no
Python. At 100 TB these run map-only inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import WS_CLASS as _WS  # \s diverges Java/RE2
from ..functions.tokenize import TOKEN_RE, word_tokens as tokens
from ..localrel import local_rows_df
from ..operators.similarity import _lit_array
from ..operators.text_dedup import _CACHED_FRAMES
from ..parallelism import spread
from ..tables import load_table
from . import register
from .helpers import (
    MD5_LONG_SQL,
    dec_avg_sql,
    dec_sum,
    dec_sum_sql,
    md5_long,
    scratch_dir,
)

# language marker words for the n-gram/stopword language-ID heuristic
LANG_MARKERS = {
    "en": ["the", "a", "of", "is", "and"],
    "fr": ["le", "la", "et", "un", "des"],
    "es": ["el", "los", "y", "una", "que"],
    "de": ["der", "die", "und", "ein", "nicht"],
}
STOPWORDS = LANG_MARKERS["en"]

_MD5_LONG_SQL = MD5_LONG_SQL  # the shared md5_long twin (helpers)

_DSIR_BUCKETS = 4096  # hashed n-gram feature dimension (DSIR infra)

#: epoch-shuffle constants — shared by the packing/split family, the
#: curation mixes, and the corpus-release capstone (plans/release.py)
_GSHUF_SHARDS = 8
_GSHUF_SALT = "gshuf-e1-"  # epoch folds into the salt: e2, e3, ...


#: BPE-ish pre-tokenization pattern (GPT-2 style, lowercase form):
#: contraction suffixes, space-prefixed letter runs, digit runs, and
#: punctuation runs — the segmentation a byte-pair encoder starts
#: from, so its match count tracks LLM token counts far better than
#: whitespace splitting. Plain alternation only, and whitespace is an
#: EXPLICIT char class rather than \s: Java's \s includes U+000B
#: (vertical tab) while RE2's does not, so \s would silently diverge
#: between the Spark plan and the DuckDB oracle on \x0B-bearing text.
BPE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^ \t\n\x0B\f\ra-z0-9]+"


def _hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def _hits_sql(words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'), t -> t IN ({quoted})))"


@register(
    "doc_token_stats",
    # r7: pytest-oracled — per-doc length/token counts are a strict
    # subset of doc_quality_scores' profile; its driver slot rotated
    # to inverted_index_probe (the persisted BM25 postings index)
    driver=False,
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS BIGINT)
               AS n_unique_tokens,
           CAST(len(string_split_regex(text, '{_WS}+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{BPE_RE.replace("'", "''")}'))
               AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, three ways: whitespace split, word-regex
    tokenizer, and a BPE-ish pre-tokenization count (GPT-2-style
    segmentation — the best cheap proxy for LLM token budgets)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.size(F.split(F.col("text"), _WS + "+")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@register(
    "doc_quality_scores",
    oracle=f"""
    SELECT doc_id, n_tokens, stopword_ratio, mean_token_len,
           0.4 * least(1.0, n_tokens / 200.0)
             + 0.3 * (1.0 - stopword_ratio)
             + 0.3 * least(1.0, mean_token_len / 6.0) AS quality_score
    FROM (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
               CAST({_hits_sql(STOPWORDS)} AS DOUBLE)
                   / len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS stopword_ratio,
               CAST(list_sum(list_transform(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                                            t -> length(t))) AS DOUBLE)
                   / len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS mean_token_len
        FROM documents
        WHERE len(regexp_extract_all(lower(text), '{TOKEN_RE}')) > 0
    )
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/word-shape quality scoring (the filter stage of
    an LLM-data pipeline). Identical arithmetic order on both engines
    keeps the doubles bit-equal."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks).cast("long")
    stop_ratio = _hits(toks, STOPWORDS).cast("double") / F.size(toks)
    token_len_sum = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    mean_len = token_len_sum.cast("double") / F.size(toks)
    base = docs.filter(F.size(toks) > 0).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
    )
    quality = (
        0.4 * F.least(F.lit(1.0), F.col("n_tokens") / 200.0)
        + 0.3 * (1.0 - F.col("stopword_ratio"))
        + 0.3 * F.least(F.lit(1.0), F.col("mean_token_len") / 6.0)
    )
    return base.withColumn("quality_score", quality)


@register(
    "doc_lang_id",
    # r13: rotated OFF the driver surface (VERDICT r12 #1) — its slot
    # went to emb_pq_residual_adc_knn (the compressed-retrieval tier
    # had zero driver-hash coverage). Verbatim-oracle rule: the
    # marker-hit + deterministic-argmax CASE machinery survives on
    # the surface in docs_curriculum_order's and the quality-
    # classifier rows' oracles; the local pytest replica still
    # hash-checks this row every run.
    driver=False,
    oracle=f"""
    SELECT doc_id, lang,
           CASE
             WHEN en >= fr AND en >= es AND en >= de AND en > 0 THEN 'en'
             WHEN fr >= es AND fr >= de AND fr > 0 THEN 'fr'
             WHEN es >= de AND es > 0 THEN 'es'
             WHEN de > 0 THEN 'de'
             ELSE 'unknown'
           END AS predicted_lang
    FROM (
        SELECT doc_id, lang,
               {_hits_sql(LANG_MARKERS['en'])} AS en,
               {_hits_sql(LANG_MARKERS['fr'])} AS fr,
               {_hits_sql(LANG_MARKERS['es'])} AS es,
               {_hits_sql(LANG_MARKERS['de'])} AS de
        FROM documents
    )
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification with a deterministic
    argmax tie-break (en > fr > es > de)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = docs.select(
        "doc_id",
        "lang",
        _hits(toks, LANG_MARKERS["en"]).alias("en"),
        _hits(toks, LANG_MARKERS["fr"]).alias("fr"),
        _hits(toks, LANG_MARKERS["es"]).alias("es"),
        _hits(toks, LANG_MARKERS["de"]).alias("de"),
    )
    en, fr, es, de = (F.col(c) for c in ("en", "fr", "es", "de"))
    predicted = (
        F.when((en >= fr) & (en >= es) & (en >= de) & (en > 0), "en")
        .when((fr >= es) & (fr >= de) & (fr > 0), "fr")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("unknown")
    )
    return scored.select("doc_id", "lang", predicted.alias("predicted_lang"))


@register(
    "docs_stats_by_lang_source",
    # r6: demoted to pytest-oracled — a plain two-key GROUP BY whose
    # shape several driver rows already prove (events_cube_profile,
    # corpus_mixture_weights' token rollup); its slot went to
    # docs_hybrid_rrf_search (sparse+dense RRF retrieval, a whole
    # capability). The local oracle replica still hash-checks it.
    driver=False,
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {dec_avg_sql('n_chars')} AS avg_chars,
           {dec_sum_sql(f"len(regexp_extract_all(lower(text), '{TOKEN_RE}'))")} AS total_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def docs_stats_by_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile: per (lang, source) volume and token totals."""
    docs = load_table(spark, sf_dir, "documents")
    from .helpers import dec_avg

    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        dec_avg(F.col("n_chars").cast("double")).alias("avg_chars"),
        dec_sum(F.size(tokens("text")).cast("double")).alias("total_tokens"),
    )


@register(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY term
    )
    SELECT doc_id, term, tf, df, rank FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, df.df ASC, tf.term
               ) AS INTEGER) AS rank
        FROM tf JOIN df ON tf.term = df.term
    ) WHERE rank <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document, TF-IDF-style: rank by
    (tf DESC, df ASC, term) — the integer-pair ordering equivalent to
    weighting rare terms higher, with no float ln() in the hashed
    output, so the DuckDB oracle matches bit-exactly (a float
    ``tf*ln((N+1)/(df+1))`` score differs across engine libm in the
    last ulp; this ordering is deterministic on both engines).

    Shape at scale: explode → two aggregations sharing the token scan;
    df is a small per-term table broadcast back; the top-k window
    partitions by doc_id (no global sort)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df), "term")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    )


@register(
    "doc_unigram_surprisal",
    driver=False,  # surface capped at 50; pytest-oracled
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ),
    counts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term
    ),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM counts),
    rarity AS (
        SELECT term, CAST(length(bin(t // c)) - 1 AS BIGINT) AS bits
        FROM counts, total
    )
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(bits) AS BIGINT) AS total_bits,
           CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS avg_bits
    FROM toks JOIN rarity ON toks.term = rarity.term
    GROUP BY toks.doc_id
    """,
)
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surprisal under the corpus's own unigram LM — the
    classic perplexity-style quality filter (CCNet/Gopher shape: score
    each doc by how "expected" its tokens are; outliers both ways are
    boilerplate or garbage), with the model trained and applied in the
    same two-pass plan.

    Each token's surprisal −log2 p(w) = log2(T / c_w) is QUANTIZED to
    its integer floor, computed exactly as ``length(bin(T div c_w))−1``
    (for positive ints, floor(log2(T/c)) == floor(log2(T div c)) —
    T/c ≥ 2^k iff T ≥ c·2^k iff T div c ≥ 2^k since c·2^k is an
    integer). No float log appears anywhere, so Spark and the DuckDB
    oracle hash-match bit-exactly (same reason doc_tfidf_top_terms
    ranks on integer pairs); the only float is one exact-int division
    per output row, correctly rounded identically on both engines.

    Scale shape: two map-only passes over the corpus tokens (model
    counts, then scoring — Spark physically re-scans rather than
    materializing the explode); the rarity table is vocab-sized
    (heavy-tail bounded, ≪ corpus) and broadcast back onto the token
    stream; the per-doc aggregate map-side combines. No driver-side
    model state — the "LM" is a DataFrame end to end."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    rarity = counts.crossJoin(F.broadcast(total)).select(
        "term",
        (F.length(F.bin(F.expr("t div c"))) - 1).cast("bigint").alias("bits"),
    )
    return (
        toks.join(F.broadcast(rarity), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("bits").alias("total_bits"),
            (F.sum("bits").cast("double") / F.count(F.lit(1))).alias("avg_bits"),
        )
    )


@register(
    "docs_with_embeddings_profile",
    # r5: demoted to pytest-oracled — the cross-modal join shape is a
    # two-line groupBy; its driver slot went to events_heavy_hitters
    # (the bounded-state sketch tier); local oracle still checks it
    driver=False,
    oracle=f"""
    SELECT d.lang, e.label,
           COUNT(*) AS n_docs,
           {dec_sum_sql('d.n_chars')} AS total_chars
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang, e.label
    """,
)
def docs_with_embeddings_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: text rows to their embedding rows (doc_id =
    vec_id) — the multimodal-table star-join shape."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dec_sum(F.col("n_chars").cast("double")).alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: winnowing (Schleimer/Wilkerson/Aiken,
# SIGMOD'03 — the MOSS algorithm). Character k-grams are hashed, and
# each sliding window of _FP_W consecutive k-gram hashes contributes
# its minimum — dense enough that any shared substring of length
# k + _FP_W - 1 is guaranteed to produce a shared fingerprint, sparse
# enough that only ~2/(w+1) of positions survive. The production hash
# is a Rabin-Karp-style polynomial over codepoints mod 2^61-1
# (vectorizes to K numpy sweeps per batch AND replays exactly in the
# DuckDB oracle's HUGEINT arithmetic); an md5 tier (the
# engine-reproducible 60-bit family SimHash/KMV use) remains as the
# cross-engine md5 anchor. The selection guarantees are hash-agnostic.
# ---------------------------------------------------------------------------

#: k-gram length: 16 chars. Short grams (8) collide on common phrase
#: fragments ("of the th…") and give unrelated same-lang pairs a
#: nonzero shared-fingerprint floor (measured p50=4 at k=8 vs p50=1 at
#: k=16 on the sf0.01 corpus); 16 keeps only genuinely copied text.
_FP_K = 16
#: winnowing window: guarantee window (w=4) — every run of 4
#: consecutive k-grams yields at least one fingerprint.
_FP_W = 4
#: fingerprints appearing in more than this many documents are
#: boilerplate (the MOSS "ignore over-common" rule) and are dropped
#: before the pair join — also the skew guard bounding any single
#: join bucket, exactly like minhash max_bucket_size.
_FP_CAP = 50
#: minimum shared fingerprints for a reported overlap pair: at k=16 /
#: w=4 the sf0.01 corpus shows unrelated pairs share ≤ ~5 and planted
#: near-dups share ≥ ~20, so 10 cleanly separates the modes.
_FP_MIN_SHARED = 10

_FP_NORM_SQL = f"trim(regexp_replace(lower(text), '{_WS}+', ' ', 'g'))"

#: production k-gram hash: polynomial rolling hash over codepoints,
#: mod the Mersenne prime 2^61-1. Chosen over md5 for the hot path
#: because it vectorizes — one numpy multiply-add sweep per k-gram
#: OFFSET (16 sweeps per batch) instead of one interpreted md5 call
#: per CHARACTER POSITION — while staying exactly replayable in SQL:
#: DuckDB evaluates Sum(code_j * B^(K-1-j)) in HUGEINT and reduces
#: % P, landing on the identical 61-bit integer.
_POLY_P = (1 << 61) - 1
_POLY_B = 1_000_003
_POLY_POW = tuple(pow(_POLY_B, _FP_K - 1 - j, _POLY_P) for j in range(_FP_K))

_POLY_H_SQL = (
    "("
    + " + ".join(
        f"CAST(unicode(substr(t, CAST(pos + {j} AS INTEGER), 1)) AS HUGEINT)"
        f" * {c}"
        for j, c in enumerate(_POLY_POW)
    )
    + f") % {_POLY_P}"
)

_FP_SEL_SQL = f"""
    norm AS (
        SELECT doc_id, {_FP_NORM_SQL} AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, t, UNNEST(range(1, length(t) - {_FP_K - 2})) AS pos
        FROM norm WHERE length(t) >= {_FP_K}
    ),
    grams AS (
        SELECT doc_id, pos,
               CAST({_POLY_H_SQL} AS BIGINT) AS h
        FROM pos
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {_FP_W - 1} PRECEDING AND CURRENT ROW)
                   AS fp
        FROM grams
    )
"""


def _poly_rolling_hashes(codes, np):
    """Vectorized k-gram hashes over a codepoint array: K multiply-add
    sweeps in exact mod-(2^61-1) arithmetic (the 30/31-bit split keeps
    every intermediate under 2^63 — no uint64 overflow, no Python loop
    over positions). Returns int64 in [0, 2^61-1) for every position,
    bit-equal to the oracle's HUGEINT evaluation of the polynomial.

    The caller passes the WHOLE Arrow batch's documents concatenated:
    each position's hash depends only on its own K characters, so the
    per-document hash slices are read back by offset afterwards — the
    sweeps amortize over the batch instead of paying numpy dispatch
    per document (positions straddling a document boundary are
    computed and discarded by the slicing; K-1 waste rows per doc)."""
    n = len(codes) - (_FP_K - 1)
    m61 = np.uint64(_POLY_P)
    m30 = np.uint64((1 << 30) - 1)
    s31 = np.uint64(31)
    s30 = np.uint64(30)
    s61 = np.uint64(61)
    acc = np.zeros(n, dtype=np.uint64)
    t1 = np.empty(n, dtype=np.uint64)
    tmp = np.empty(n, dtype=np.uint64)
    last = len(_POLY_POW) - 1
    for j, c in enumerate(_POLY_POW):
        seg = codes[j : j + n]  # codepoints < 2^21
        # (seg * (c>>31)) * 2^31 mod P via 2^61 === 1 (mod P),
        # all in-place on two scratch buffers (the kernel is
        # memory-bound: every avoided temporary is an avoided pass)
        np.multiply(seg, np.uint64(c >> 31), out=t1)  # < 2^51
        np.bitwise_and(t1, m30, out=tmp)
        np.left_shift(tmp, s31, out=tmp)
        np.right_shift(t1, s30, out=t1)
        np.add(t1, tmp, out=t1)  # < 2^61 + 2^21
        acc += t1
        np.multiply(seg, np.uint64(c & 0x7FFFFFFF), out=t1)  # < 2^52
        acc += t1
        if j % 2 == 1 or j == last:
            # fold every OTHER sweep: two unfolded terms keep
            # acc < 3 * 2^61 < 2^64, and halving the folds saves
            # three array passes per skipped sweep
            np.bitwise_and(acc, m61, out=tmp)
            np.right_shift(acc, s61, out=acc)
            np.add(acc, tmp, out=acc)
    np.bitwise_and(acc, m61, out=tmp)
    np.right_shift(acc, s61, out=acc)
    np.add(acc, tmp, out=acc)
    return np.where(acc >= m61, acc - m61, acc).astype(np.int64)


def _winnow_norm(docs: DataFrame) -> DataFrame:
    norm = F.trim(F.regexp_replace(F.lower("text"), _WS + "+", " "))
    return docs.select("doc_id", norm.alias("t")).filter(
        F.length("t") >= _FP_K
    )


def _winnow_fingerprints(docs: DataFrame, tier: str = "poly") -> DataFrame:
    """(doc_id, fp) distinct winnowing fingerprints — one Arrow pass,
    MAP-ONLY: the sliding window-min is per-document state, so with
    whole documents in hand no shuffle or global window is needed at
    all (the expression form below pays a doc_id shuffle for its
    window). Per batch: k-gram hashes, vectorized trailing-min over W
    shifted views, per-doc ``np.unique``.

    Two hash tiers, same selection machinery (the winnowing guarantees
    — density ~2/(w+1), every k+w-1 shared run leaves a shared
    fingerprint — are hash-agnostic):

    - ``poly`` (production, default): :func:`_poly_kgram_hashes` — no
      per-position interpreter work at all; the inner loop is K numpy
      sweeps over the whole document. This is what the driver queries
      run, and the oracle replays the identical polynomial in HUGEINT.
    - ``md5``: one interpreted ``hashlib.md5`` call per position
      (``digest()[:8] >> 4`` IS the first 15 hex digits, the same
      60-bit integer the SimHash/KMV family uses). Kept as the
      cross-engine md5 anchor, bit-parity-tested against
      :func:`_winnow_fingerprints_expr`; per-character interpreter
      cost makes it the slow tier at 100 TB.

    Partial windows at the doc head are included (the first k-gram
    always fingerprints) — a deterministic variant that only ADDS
    coverage near position 1; the oracle mirrors it because its
    trailing window min auto-clamps at the partition start."""
    if tier not in ("poly", "md5"):
        raise ValueError(f"unknown winnowing hash tier {tier!r}")
    base = _winnow_norm(docs).repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )

    def fn(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf["t"].tolist()
            if tier == "poly":
                # hash the whole batch in one shot: one utf-32 decode
                # + K sweeps over the concatenation, sliced back per
                # document below
                lens = np.array([len(t) for t in texts], dtype=np.int64)
                codes = np.frombuffer(
                    "".join(texts).encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                batch_hs = _poly_rolling_hashes(codes, np)
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            ids, fps = [], []
            for i, (did, t) in enumerate(zip(pdf["doc_id"].to_numpy(), texts)):
                n = len(t) - (_FP_K - 1)
                if tier == "poly":
                    hs = batch_hs[starts[i] : starts[i] + n]
                else:
                    hs = np.empty(n, dtype=np.int64)
                    md5 = hashlib.md5
                    for p in range(n):
                        hs[p] = (
                            int.from_bytes(
                                md5(t[p : p + _FP_K].encode()).digest()[:8],
                                "big",
                            )
                            >> 4
                        )
                m = hs.copy()
                for j in range(1, _FP_W):
                    np.minimum(m[j:], hs[:-j], out=m[j:])
                u = np.unique(m)
                ids.append(np.full(len(u), did, dtype=np.int64))
                fps.append(u)
            if ids:
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(ids), "fp": np.concatenate(fps)}
                )

    return base.mapInPandas(fn, schema="doc_id long, fp long")


def _winnow_fingerprints_expr(docs: DataFrame) -> DataFrame:
    """Pure-expression md5 twin of the kernel's ``md5`` tier (explode
    k-gram positions → md5/conv hash → trailing window min →
    distinct). Kept as the in-Spark md5 parity anchor; the driver
    oracle now replays the ``poly`` tier's polynomial directly
    (``_POLY_H_SQL``), and the Arrow kernel is the production path."""
    from pyspark.sql.window import Window

    base = _winnow_norm(docs)
    grams = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("t") - (_FP_K - 1))).alias(
            "pos"
        ),
        "t",
    ).select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(
                F.md5(
                    F.col("t").substr(F.col("pos"), F.lit(_FP_K)).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_FP_W - 1), 0)
    )
    return grams.select("doc_id", F.min("h").over(w).alias("fp")).distinct()


@register(
    "doc_fingerprint_winnowing",
    # r11: rotated OFF the driver surface (slot for
    # docs_global_shuffle_order, VERDICT r10 #4): the winnowing
    # machinery itself — normalization, k-gram hashing, the window
    # min, the selected-fingerprint set (the `sel` CTE) — rides
    # VERBATIM inside docs_fingerprint_overlap_pairs' oracle, which
    # stays on the surface; only the per-doc profile aggregation
    # (count/xor/min over the same sel rows) moves to the local
    # pytest oracle, the docs_dsir_selection→token_budget precedent.
    driver=False,
    oracle=f"""
    WITH {_FP_SEL_SQL}
    SELECT s.doc_id, d.n_kgrams, COUNT(*) AS n_fingerprints,
           CAST(bit_xor(fp) AS BIGINT) AS fp_xor, MIN(fp) AS fp_min
    FROM sel s JOIN (SELECT doc_id, length(t) - {_FP_K - 1} AS n_kgrams
                     FROM norm WHERE length(t) >= {_FP_K}) d USING (doc_id)
    GROUP BY s.doc_id, d.n_kgrams
    """,
)
def doc_fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint profile: k-gram count, number
    of selected fingerprints (density ~2/(w+1) of positions), and an
    order-independent XOR signature of the fingerprint set — the
    compact per-doc identity used for copy detection and incremental
    re-fingerprinting.

    Shape at scale: the k-gram explode is a map-only stage (rows =
    corpus characters), the window min partitions by doc_id (one
    shuffle), and the aggregate reuses the same key — no global sort,
    no Python. bit_xor keeps the signature order-independent so the
    result is partitioning-invariant."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), _WS + "+", " "))
    lengths = docs.select(
        "doc_id", (F.length(norm) - (_FP_K - 1)).cast("long").alias("n_kgrams")
    ).filter(F.col("n_kgrams") >= 1)
    agg = (
        _winnow_fingerprints(docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.expr("bit_xor(fp)").cast("long").alias("fp_xor"),
            F.min("fp").alias("fp_min"),
        )
    )
    return agg.join(lengths, "doc_id").select(
        "doc_id", "n_kgrams", "n_fingerprints", "fp_xor", "fp_min"
    )


@register(
    "docs_fingerprint_overlap_pairs",
    oracle=f"""
    WITH {_FP_SEL_SQL},
    rare AS (
        SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= {_FP_CAP}
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM sel a JOIN sel b USING (fp) JOIN rare USING (fp)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= {_FP_MIN_SHARED}
    """,
)
def docs_fingerprint_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style copy detection: pairs of documents sharing >=
    _FP_MIN_SHARED winnowing fingerprints. A fourth near-dup tier next
    to MinHash/SimHash/embedding-LSH, with a different signal — shared
    *contiguous substrings* (any common run of k+w-1 chars must leave
    a shared fingerprint) rather than bag-of-shingles similarity, so
    it catches partial plagiarism that global Jaccard dilutes.

    Shape at scale: the pair join keys on the fingerprint value and
    carries ids only; over-common fingerprints (> _FP_CAP docs) are
    dropped first — boilerplate suppression AND the skew bound, since
    a fingerprint bucket of B docs yields B²/2 pair rows. The shared
    count aggregates on (id_a, id_b) — the same banded ids-only
    bucket-join shape as the MinHash tier."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    # cache AFTER the cap filter: the left/right self-join branches
    # then reread the capped frame instead of re-running the
    # fingerprint pipeline + fp-window once per branch
    rare = (
        _winnow_fingerprints(docs)
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("__n") <= _FP_CAP)
        .select("doc_id", "fp")
        .cache()
    )
    _CACHED_FRAMES.append(rare)  # released via text_dedup.release_cached
    left = rare.select(F.col("doc_id").alias("id_a"), "fp")
    right = rare.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        left.join(right, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _FP_MIN_SHARED)
    )



def _bpe_oracle() -> str:
    """Full DuckDB replay of the frozen-merge BPE encoder (r12,
    VERDICT r11 #4 — the docs_pack_nostraddle recursive-CTE
    precedent): the merge table is a literal ranks VALUES list, and
    the encoder's loop — merge the LOWEST-rank adjacent pair present,
    leftmost on rank ties, rescan — is a deterministic state machine
    per word, replayed as a recursive CTE whose recursive term picks
    the next merge via LATERAL argmin (ORDER BY rank, position
    LIMIT 1) and terminates when no pair joins the rank table. Only
    corpus-DISTINCT words enter the recursion (the production tier's
    own vocabulary-not-occurrences shape), then subword counts join
    back onto the exploded words. Closes the registry's last
    rows-only entry."""
    from .bpe_merges import MERGES

    ranks = ", ".join(
        f"({i}, '{a}', '{b}')" for i, (a, b) in enumerate(MERGES)
    )
    return f"""
    WITH RECURSIVE
    ranks(rank, a, b) AS (VALUES {ranks}),
    toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ws
        FROM documents
    ),
    words AS (
        SELECT DISTINCT t.w FROM toks, UNNEST(ws) AS t(w)
    ),
    enc AS (
        SELECT w, string_split(w, '') AS syms, 0 AS step FROM words
        UNION ALL
        SELECT e.w,
               list_concat(list_concat(e.syms[1:p.bi-1],
                                       [e.syms[p.bi] || e.syms[p.bi+1]]),
                           e.syms[p.bi+2:]),
               e.step + 1
        FROM enc e, LATERAL (
            SELECT i AS bi
            FROM UNNEST(range(1, len(e.syms))) AS t(i)
            JOIN ranks r ON r.a = e.syms[i] AND r.b = e.syms[i+1]
            ORDER BY r.rank, i LIMIT 1
        ) p
    ),
    final AS (
        SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM (
            SELECT w, syms, ROW_NUMBER() OVER (
                PARTITION BY w ORDER BY step DESC) AS rn
            FROM enc) WHERE rn = 1
    ),
    sums AS (
        SELECT e.doc_id, CAST(SUM(f.n_sub) AS BIGINT) AS n_bpe
        FROM (SELECT doc_id, t.w FROM toks, UNNEST(ws) AS t(w)) e
        JOIN final f USING (w)
        GROUP BY e.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.ws) AS BIGINT) AS n_words,
           COALESCE(s.n_bpe, 0) AS n_bpe_tokens,
           CASE WHEN len(t.ws) > 0
                THEN CAST(COALESCE(s.n_bpe, 0) AS DOUBLE) / len(t.ws)
                ELSE 0.0 END AS bpe_per_word
    FROM toks t LEFT JOIN sums s USING (doc_id)
    """


@register(
    "doc_bpe_token_stats",
    # r12: the registry's last rows-only entry gains a full DuckDB
    # oracle (VERDICT r11 #4) — the ranked merge loop replayed as a
    # recursive CTE over distinct words (_bpe_oracle). Off the 50-row
    # driver surface as before; the local replica hash-checks it.
    driver=False,
    oracle=_bpe_oracle(),
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL subword token statistics under the frozen BPE merge table
    (plans/bpe_merges.py — trained offline, shipped as a constant,
    exactly the IVF-centroid posture): per document, word count, BPE
    token count, and tokens-per-word. This is the unit LLM training
    budgets are denominated in — the word-count proxies elsewhere in
    the registry over- or under-shoot on morphology-heavy text.

    Production tier (operators/bpe.py:bpe_token_counts_distinct):
    corpus-distinct words are encoded EXACTLY ONCE in the Arrow
    kernel — total Python work ∝ vocabulary, not occurrences — then
    the counts join back and fold per document. The per-task-memo
    tier (bpe_token_counts) remains the small-corpus path; a pytest
    pins the two tiers bit-identical."""
    from ..operators.bpe import bpe_token_counts_distinct
    from .bpe_merges import MERGES

    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_counts_distinct(docs, MERGES).withColumnRenamed(
        "id", "doc_id"
    )



def _gram_features(docs: DataFrame) -> DataFrame:
    """Instance-level hashed unigram+bigram features over a
    (doc_id, lang, text) frame: one row per gram INSTANCE as
    (doc_id, lang, g, b) — the shared feature extraction under both
    DSIR paths (the batch ranker below and the delta-aware refresh's
    per-doc histograms, streaming/ingest.py). Kept as one function so
    the two paths cannot drift on tokenization, gram construction, or
    bucket hashing — drift here would silently break the delta
    refresh's bit-identity contract."""
    toks = docs.select(
        "doc_id", "lang", tokens("text").alias("t")
    )
    # the shared guarded gram expression (defined with the quality
    # classifier below): slice(t, 1, size(t) - 1) raises
    # INVALID_PARAMETER_VALUE.LENGTH for zero-token docs (size-1 = -1),
    # and empty/punctuation-only text is a supported input (P10 only
    # filters empty STRINGS) — so the bigram branch is guarded exactly
    # like dedup.py guards sequence(0,-1).
    grams = F.expr(_GRAMS_EXPR)
    return toks.select(
        "doc_id", "lang", F.explode(grams).alias("g")
    ).withColumn("b", md5_long("g") % _DSIR_BUCKETS)


def _dsir_ratio(model: DataFrame) -> DataFrame:
    """Bucket log-likelihood-ratio weights from a DSIR count model —
    ``model`` is (b, c_r long, c_t nullable long); returns (b, w
    double). Factored so the delta-aware refresh evaluates the EXACT
    same arithmetic (same column types, same operation order — the
    doubles must match bit-for-bit) over a model it folded from
    persisted per-doc histograms instead of a fresh gram pass."""
    tot = model.agg(
        F.sum("c_r").alias("t_r"),
        F.coalesce(F.sum("c_t"), F.lit(0)).alias("t_t"),
    )
    nb = float(_DSIR_BUCKETS)
    return (
        model
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.log(
                (F.coalesce(F.col("c_t"), F.lit(0)) + 1)
                * (F.col("t_r") + nb)
                / ((F.col("c_r") + 1) * (F.col("t_t") + nb))
            ).alias("w"),
        )
    )


def _dsir_rank(docs: DataFrame) -> DataFrame:
    """DSIR importance weights over ANY documents frame — the scoring
    core shared by the registered selection query and the curation
    funnel's final stage. Returns (doc_id, lang, n_feats, log_weight)
    unranked; callers order/limit.

    r15 shape (guide §1.2): the r7–r14 form tokenized the corpus
    THREE times — raw-count pass, target-count pass, final weighted
    aggregate; ``feats`` was rebuilt per use. Now the gram pass runs
    ONCE into a narrow (doc_id, lang, b) checkpoint (DISK_ONLY — the
    one frame here that grows with the corpus, the release.py
    discipline; measured 2.7→2.0 s at sf0.1, and at 100 TB it removes
    two full tokenize+md5 re-reads of the corpus) and both model
    counts fold in ONE aggregation over it (conditional count — 0
    instead of NULL for en-less buckets, value-identical through
    _dsir_ratio's coalesce). The ratio stays a broadcast join: a
    4096-double literal-array lookup was A/B'd and REJECTED — F.lit
    builds a 4096-child CreateArray the analyzer re-walks on every
    rule, which regressed the funnel/release plans it embeds in."""
    from pyspark.storagelevel import StorageLevel

    feats = (
        _gram_features(docs)
        .select("doc_id", "lang", "b")
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    model = (
        feats.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("c_r"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("c_t"),
        )
        .localCheckpoint()  # ≤ _DSIR_BUCKETS rows; read twice below
    )
    ratio = _dsir_ratio(model)
    return (
        feats.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_feats"),
            dec_sum("w").alias("log_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Learned quality classifier (the CCNet / GPT-3 Wikipedia-vs-CC filter
# stage; fastText architecture — Joulin et al. 2016): mean-pooled
# hashed unigram+bigram features through a single logistic unit, with
# weights trained OFFLINE by the deterministic trainer
# (operators/logreg.train_logreg_hashed) and shipped frozen
# (plans/quality_weights.py — the bpe_merges/ivf_centroids posture).
# Scoring is a map-only broadcast dot product: grams explode map-side,
# join the 256-row weight table broadcast, and the only shuffle is the
# per-doc aggregate (map-side combined). Fully SQL-replayable.
# ---------------------------------------------------------------------------

_QC_BUCKETS = 256  # hashed feature dimension (fastText-style buckets)

#: the guarded unigram+bigram expression shared with the DSIR plan —
#: zero-token docs produce array() instead of a slice(…, -1) error.
#: The FMT form parameterizes the token-array column name for callers
#: that cannot claim the bare ``t`` (with_quality_score must not
#: collide with a corpus column).
_GRAMS_EXPR_FMT = (
    "concat({t}, CASE WHEN size({t}) >= 2 THEN transform("
    "slice({t}, 1, size({t}) - 1), (x, i) -> concat(x, ' ', {t}[i + 1])) "
    "ELSE array() END)"
)
_GRAMS_EXPR = _GRAMS_EXPR_FMT.format(t="t")

_GRAMS_SQL = (
    "list_concat(t, list_transform(range(1, len(t)),"
    " i -> t[i] || ' ' || t[i+1]))"
)


def _qc_weights_values_sql() -> str:
    """The frozen weight table as a DuckDB VALUES list — the literals
    inline into the oracle exactly as they broadcast into the plan."""
    from .quality_weights import WEIGHTS

    return ", ".join(f"({b}, {w!r})" for b, w in enumerate(WEIGHTS))


def _qc_wt(b_col: Column | str = "b") -> Column:
    """The frozen weight of hashed-gram bucket ``b`` as a LITERAL
    ARRAY lookup — replaces the r8–r14 256-row broadcast-join weight
    attach (r15, guide §2.4): ``element_at`` over a constant-folded
    256-double array is pure codegen'd projection work, so every
    scoring pass drops one BroadcastExchange + BroadcastHashJoin from
    its plan (measured −0.35 s per pass at sf0.1: join+agg 1.81 s →
    element_at+agg 1.45 s). The looked-up double is the identical
    value the broadcast row carried, so every downstream dec_sum is
    bit-identical. (A fully map-only array ``aggregate`` fold was
    measured FIRST and rejected: higher-order functions are
    CodegenFallback — interpreted per gram — and regressed the scorer
    4×.)"""
    from .quality_weights import WEIGHTS as _w

    b = F.col(b_col) if isinstance(b_col, str) else b_col
    # one parsed literal, not a Py4J call per weight (~0.1 s per call)
    wts = _lit_array(_w)
    return F.element_at(wts, b.cast("int") + F.lit(1))


def _register_quality_classifier() -> None:
    from .quality_weights import BIAS

    @register(
        "docs_quality_classifier",
        # r8: on the driver surface in the slot of docs_bm25_search,
        # whose oracle inverted_index_probe already carries verbatim
        # (the redundant-twin demotion rule)
        oracle=f"""
        WITH feats AS (
            SELECT doc_id, lang,
                   {_MD5_LONG_SQL.format(c='g')} % {_QC_BUCKETS} AS b
            FROM (
                SELECT doc_id, lang, unnest({_GRAMS_SQL}) AS g
                FROM (SELECT doc_id, lang,
                             regexp_extract_all(lower(text), '{TOKEN_RE}')
                                 AS t
                      FROM documents)
            )
        ),
        w(b, wt) AS (VALUES {_qc_weights_values_sql()}),
        pooled AS (
            SELECT f.doc_id,
                   any_value(f.lang) AS lang,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   {dec_sum_sql('w.wt')} AS s
            FROM feats f JOIN w ON w.b = f.b
            GROUP BY f.doc_id
        )
        SELECT doc_id, lang, n_grams,
               ROUND(1.0 / (1.0 + exp(-({BIAS!r} + s / n_grams))), 6)
                   AS quality_score,
               ({BIAS!r} + s / n_grams) >= 0.0 AS is_kept
        FROM pooled
        ORDER BY quality_score DESC, doc_id
        """,
    )
    def docs_quality_classifier(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Learned quality classifier — the CCNet / GPT-3
        "Wikipedia-vs-CommonCrawl" filter stage (Wenzek et al. 2019;
        Brown et al. 2020 §A; fastText architecture, Joulin et al.
        2016): every document scores
        ``sigmoid(bias + mean_g w[bucket(g)])`` over hashed
        unigram+bigram features, with weights trained OFFLINE by the
        deterministic distributed trainer
        (operators/logreg.train_logreg_hashed) and shipped frozen
        (plans/quality_weights.py, provenance-pinned: pytest re-runs
        the trainer and asserts the literals). ``is_kept`` is the
        logit-sign keep decision (score ≥ 0.5), evaluated on the
        exact logit so the boundary never depends on exp() rounding.

        Hash-match discipline: the per-doc weight sum goes through
        the decimal cast (dec_sum — identical double on both
        engines), the mean divides by the identical long count, and
        the sigmoid rounds to 6 dp before ranking (the ln()/exp()
        libm-ulp rule).

        Scale shape (r15): grams explode map-side, the frozen
        weights attach as a constant-folded 256-double array lookup
        (``_qc_wt`` — no broadcast join, one less exchange than the
        r8–r14 plan), and the ONLY shuffle is the per-doc aggregate
        (map-side combined, ids+decimal); the sort is by the rounded
        score (a top-level presentation sort a caller would LIMIT —
        the scoring itself is one pass). At 100 TB this is the
        cheapest stage in the curation funnel: no corpus statistics,
        no second pass, no index — exactly why the public pipelines
        run a linear scorer over hashed n-grams."""
        from .quality_weights import BIAS as _bias

        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select("doc_id", "lang", tokens("text").alias("t"))
        feats = toks.select(
            "doc_id", "lang", F.explode(F.expr(_GRAMS_EXPR)).alias("g")
        ).withColumn("b", md5_long("g") % _QC_BUCKETS)
        pooled = (
            feats.withColumn("wt", _qc_wt())
            .groupBy("doc_id")
            .agg(
                F.any_value("lang").alias("lang"),
                F.count(F.lit(1)).cast("long").alias("n_grams"),
                dec_sum("wt").alias("s"),
            )
        )
        logit = F.lit(_bias) + F.col("s") / F.col("n_grams")
        return pooled.select(
            "doc_id",
            "lang",
            "n_grams",
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6
            ).alias("quality_score"),
            (logit >= 0.0).alias("is_kept"),
        ).orderBy(F.desc("quality_score"), "doc_id")


_register_quality_classifier()


def with_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """All input columns + ``quality_score`` (double, 6 dp) and
    ``is_kept`` (boolean) under the FROZEN classifier — the reusable
    scoring stage behind ``docs_quality_classifier``, shaped for
    pipeline composition (the WARC ingest tick's quarantine stage
    takes exactly this frame contract). Zero-gram documents (nothing
    tokenizable) score NULL and ``is_kept = false`` — a quality
    filter rejects content it cannot score, mirroring the public
    pipelines' treatment of empty extractions.

    Same plan shape as the registered query (r15): map-side gram
    explode, weights attached by the constant-folded array lookup
    (``_qc_wt`` — the 256-row broadcast join is gone), ONE per-doc
    aggregate, then a broadcast-back join keyed on doc_id (the pooled
    frame is ids+score — small side of the join at any corpus scale,
    but left as a plain equi-join so AQE picks the strategy from
    measured sizes)."""
    from .quality_weights import BIAS as _bias

    feats = docs.select(
        "doc_id", tokens(text_col).alias("t")
    ).select(
        "doc_id", F.explode(F.expr(_GRAMS_EXPR)).alias("g")
    ).withColumn("b", md5_long("g") % _QC_BUCKETS)
    logit = F.lit(_bias) + F.col("s") / F.col("n_grams")
    pooled = (
        feats.withColumn("wt", _qc_wt())
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            dec_sum("wt").alias("s"),
        )
        .select(
            "doc_id",
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6
            ).alias("quality_score"),
            (logit >= 0.0).alias("__kept"),
        )
    )
    return docs.join(pooled, "doc_id", "left").withColumn(
        "is_kept", F.coalesce(F.col("__kept"), F.lit(False))
    ).drop("__kept")


def quality_gram_feats(docs: DataFrame) -> DataFrame:
    """Per-doc hashed-gram bucket counts ``(doc_id, b, c, n)`` — the
    feature extractor BOTH the frozen-weight scorer and the trainer
    consume (one definition, so the provenance test trains on exactly
    what the scorer scores). ``n`` is the doc's total gram count,
    denormalized for the mean-pool."""
    from pyspark.sql.window import Window

    feats = docs.select(
        "doc_id", tokens("text").alias("t")
    ).select(
        "doc_id", F.explode(F.expr(_GRAMS_EXPR)).alias("g")
    ).withColumn("b", md5_long("g") % _QC_BUCKETS)
    return (
        feats.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "n", F.sum("c").over(Window.partitionBy("doc_id"))
        )
    )


_FUNNEL_TOPK = 100


# Parameterized over the corpus source so curation_mix_diff can run
# the IDENTICAL funnel SQL over two corpus versions (and the corpus-
# release capstone can run it over the filter bank's keepers); the
# registered batch/delta oracles interpolate src='documents',
# producing the same string they always carried. Module-level (r12)
# so plans/release.py chains it verbatim into the capstone oracle.
def funnel_sql(src: str = "documents") -> str:
    from .quality_weights import BIAS

    norm_sql = f"trim(regexp_replace(lower(text), '{_WS}+', ' ', 'g'))"
    return f"""
        WITH qfeats AS (
            SELECT doc_id, {_MD5_LONG_SQL.format(c='g')} % {_QC_BUCKETS} AS b
            FROM (
                SELECT doc_id, unnest({_GRAMS_SQL}) AS g
                FROM (SELECT doc_id,
                             regexp_extract_all(lower(text), '{TOKEN_RE}')
                                 AS t
                      FROM {src})
            )
        ),
        w(b, wt) AS (VALUES {_qc_weights_values_sql()}),
        pooled AS (
            SELECT f.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   {dec_sum_sql('w.wt')} AS s
            FROM qfeats f JOIN w ON w.b = f.b
            GROUP BY f.doc_id
        ),
        kept AS (
            SELECT d.doc_id, d.lang, d.text,
                   ROUND(1.0 / (1.0 + exp(-({BIAS!r} + p.s / p.n_grams))),
                         6) AS quality_score
            FROM {src} d JOIN pooled p USING (doc_id)
            WHERE ({BIAS!r} + p.s / p.n_grams) >= 0.0
        ),
        uniq AS (
            SELECT doc_id, lang, text, quality_score FROM (
                SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY md5({norm_sql})
                                          ORDER BY doc_id) AS rn
                FROM kept
            ) WHERE rn = 1
        ),
        feats AS (
            SELECT doc_id, lang,
                   {_MD5_LONG_SQL.format(c='g')} % {_DSIR_BUCKETS} AS b
            FROM (
                SELECT doc_id, lang, unnest({_GRAMS_SQL}) AS g
                FROM (SELECT doc_id, lang,
                             regexp_extract_all(lower(text), '{TOKEN_RE}')
                                 AS t
                      FROM uniq)
            )
        ),
        raw AS (SELECT b, COUNT(*) AS c_r FROM feats GROUP BY b),
        tgt AS (SELECT b, COUNT(*) AS c_t FROM feats
                WHERE lang = 'en' GROUP BY b),
        tot AS (SELECT (SELECT COUNT(*) FROM feats) AS t_r,
                       (SELECT COUNT(*) FROM feats WHERE lang = 'en')
                           AS t_t),
        ratio AS (
            SELECT r.b,
                   ln( (COALESCE(g.c_t, 0) + 1)
                       * (t.t_r + {_DSIR_BUCKETS}.0)
                       / ((r.c_r + 1) * (t.t_t + {_DSIR_BUCKETS}.0)) )
                       AS w
            FROM raw r LEFT JOIN tgt g USING (b), tot t
        ),
        ranked AS (
            SELECT f.doc_id,
                   any_value(f.lang) AS lang,
                   CAST(COUNT(*) AS BIGINT) AS n_feats,
                   {dec_sum_sql('rt.w')} AS log_weight
            FROM feats f JOIN ratio rt USING (b)
            GROUP BY f.doc_id
        )
        SELECT r.doc_id, r.lang, u.quality_score, r.n_feats, r.log_weight
        FROM ranked r JOIN uniq u USING (doc_id)
        ORDER BY log_weight DESC, doc_id
        LIMIT {_FUNNEL_TOPK}
        """


def _register_curation_funnel() -> None:
    funnel_oracle = funnel_sql()

    @register(
        "docs_curation_funnel",
        # r11: rotated OFF the driver surface — its oracle rides
        # VERBATIM as docs_curation_refresh_delta's (the shared
        # ``funnel_oracle`` literal below), which runs the SAME batch
        # semantics through the delta-aware incremental machinery; the
        # redundant-twin rule that moved docs_exact_dedup out for this
        # row at r8. Locally pytest-oracled as always.
        driver=False,
        oracle=funnel_oracle,
    )
    def docs_curation_funnel(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The composed curation pipeline under ONE exact hash — the
        end-to-end funnel every public LLM-data recipe runs, stage
        order per CCNet/RefinedWeb practice (cheapest first):

        1. **Quality gate** — the frozen learned classifier
           (``with_quality_score``), keep ``logit >= 0``.
        2. **Exact dedup** — keep-first on the normalized-content md5
           (``docs_exact_dedup``'s rule) among the keepers.
        3. **DSIR selection** — importance-resample the survivors
           toward the target slice (``_dsir_rank``), deterministic
           top-``_FUNNEL_TOPK``.

        Every stage is individually oracled elsewhere; this row proves
        the COMPOSITION is hash-exact — the funnel's intermediate
        frames (kept/uniq) feed stage inputs whose statistics (DSIR's
        raw/target bucket models) are computed OVER THE SURVIVORS, not
        the raw corpus, which is where a subtly-wrong composition
        would diverge (selection statistics contaminated by documents
        the earlier stages removed).

        Scale shape: stage 1 is the one-pass scorer over the corpus
        spread on ``doc_id`` (one text shuffle when the corpus scans in
        fewer than ``defaultParallelism`` partitions, none otherwise;
        the scorer's per-doc aggregate and join back reuse that
        partitioning); stage 2 one fingerprint shuffle over keepers;
        stage 3 the DSIR three-pass shape over survivors only —
        strictly less data at every stage, no stage re-reads the raw
        corpus after stage 1's gate."""
        return curation_funnel(load_table(spark, sf_dir, "documents"))

    @register(
        "docs_curation_refresh_delta",
        # r11: ON the driver surface (VERDICT r10 #3, the
        # ivm_maintained_view precedent — incremental machinery under
        # the driver's own hash check; slot from docs_curation_funnel,
        # whose oracle this row carries VERBATIM): the delta-aware
        # refresh must land a mix bit-identical to the batch funnel,
        # so the funnel's static SQL IS its exact oracle.
        oracle=funnel_oracle,
    )
    def docs_curation_refresh_delta(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The delta-aware continuous-curation refresh
        (``streaming/ingest.curation_refresh_delta_tick``) under the
        driver's hard hash signal: a SnapshotTable corpus is driven
        through three commits — a bulk load, a copy-on-write takedown,
        and a re-add-plus-backfill append — with a delta refresh tick
        after each, and the FINAL committed mix must hash-match the
        static batch-funnel SQL over the documents table.

        The static-oracle trick (the ``ivm_maintained_view`` pattern):
        every commit derives from a deterministic doc_id predicate and
        the sequence ends with exactly the full table live — load
        ``doc_id % 4 != 3``, take down ``doc_id < 50`` (a pure
        retraction: the tick must score ZERO documents — pinned below
        — while keeper handoff and the shrunken DSIR model re-rank
        exactly), then append everything not currently live (the
        ``% 4 == 3`` holdout plus the re-added takedown docs, which
        must revive through their DEAD stats rows). The hash match
        therefore proves end to end: the signed change feed, the
        carried-survivor skip, per-version (doc_id, __v) state
        serving, tombstone revival, the exact-decimal DSIR re-rank,
        and the shared-txn cursor.

        Fresh throwaway tables per call (driver and bench call queries
        repeatedly); cost is three delta-sized scoring passes plus
        three metadata re-ranks — the batch funnel's one full pass,
        paid incrementally."""
        from ..operators.snapshot import SnapshotTable
        from ..streaming.ingest import curation_refresh_delta_tick

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        corpus = SnapshotTable(spark, scratch_dir("crd_corpus_"))
        sel = SnapshotTable(spark, scratch_dir("crd_sel_"))
        state = scratch_dir("crd_state_")

        corpus.append(docs.where("doc_id % 4 != 3"), txn="b0")
        if not curation_refresh_delta_tick(spark, corpus, sel, state)[
            "fired"
        ]:
            raise RuntimeError("bootstrap refresh did not fire")
        corpus.delete_where([("doc_id", "<", 50)])
        r2 = curation_refresh_delta_tick(spark, corpus, sel, state)
        if r2["docs_scored"] != 0:
            raise RuntimeError(
                "pure retraction re-scored documents — the carried-"
                "survivor skip is broken"
            )
        corpus.append(
            docs.where("doc_id % 4 = 3 or doc_id < 50"), txn="b2"
        )
        if not curation_refresh_delta_tick(spark, corpus, sel, state)[
            "fired"
        ]:
            raise RuntimeError("final refresh did not fire")
        if curation_refresh_delta_tick(spark, corpus, sel, state)[
            "fired"
        ]:
            raise RuntimeError("caught-up tick fired — cursor broken")
        return sel.read()

    @register(
        "curation_mix_diff",
        # pytest-oracled (driver surface capped at 50): the funnel and
        # the delta refresh are both driver-hash-checked; this is the
        # AUDIT over their outputs
        driver=False,
        oracle=f"""
        WITH v1 AS ({funnel_sql(
            "(SELECT * FROM documents WHERE doc_id % 4 <> 3)"
        )}),
        v2 AS ({funnel_sql()})
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    ELSE 'kept' END AS status,
               v1.log_weight AS old_log_weight,
               v2.log_weight AS new_log_weight
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        """,
    )
    def curation_mix_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Training-mix release audit: diff the committed mix between
        two corpus versions — which documents entered, which left, and
        how the selection weight of every survivor moved. The corpus
        versions are the delta-refresh row's own pair (v1 = the
        ``doc_id % 4 != 3`` initial load, v2 = the full table), so the
        audit covers exactly the transition that row replays.

        Why survivors' weights move at all: DSIR's raw/target bucket
        models are statistics OVER THE CORPUS VERSION, so adding
        documents re-weights everyone — a mix release can change
        composition without any shared document changing bytes. That
        is precisely what a release audit must surface (and what a
        naive added/removed id-diff misses); ``status='kept'`` rows
        carry both weights so the drift is the deliverable.

        Scale shape: two funnel runs (each the audited three-stage
        shape over ITS corpus version) + one full outer join on
        doc_id over two top-k-bounded frames — the join input is
        2×topk rows regardless of corpus size."""
        docs = load_table(spark, sf_dir, "documents")
        v1 = curation_funnel(docs.where("doc_id % 4 != 3")).select(
            "doc_id", F.col("log_weight").alias("old_log_weight")
        )
        v2 = curation_funnel(docs).select(
            "doc_id", F.col("log_weight").alias("new_log_weight")
        )
        return v1.join(v2, "doc_id", "full_outer").select(
            "doc_id",
            F.when(F.col("old_log_weight").isNull(), F.lit("added"))
            .when(F.col("new_log_weight").isNull(), F.lit("removed"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            "old_log_weight",
            "new_log_weight",
        )


def exact_fingerprint(text_col: str = "text") -> Column:
    """The funnel's exact-dedup fingerprint: md5 over
    whitespace-normalized lowercased text — factored so the
    delta-aware refresh (streaming/ingest.py) fingerprints its delta
    docs with literally the same expression the batch funnel uses
    (any drift breaks its bit-identity contract)."""
    norm = F.trim(
        F.regexp_replace(F.lower(text_col), _WS + "+", " ")
    )
    return F.md5(norm.cast("binary"))


def curation_funnel(
    docs: DataFrame,
    scorer=None,
    topk: int | None = None,
) -> DataFrame:
    """The composition core behind ``docs_curation_funnel`` (its
    docstring carries the pipeline rationale): quality gate →
    exact-dedup keep-first → DSIR over SURVIVORS, deterministic
    top-``topk``. Factored out (r9, VERDICT r8 #8) so the composition
    itself — not a test-local copy — is exercisable with a pluggable
    ``scorer``: any callable ``docs -> frame`` adding
    ``quality_score`` (double) and ``is_kept`` (boolean) to the input
    columns (the ``with_quality_score`` contract, which is the
    default). The stage-interaction property this enables pinning: a
    document the gate removes must vanish from DSIR's raw/target
    bucket models, and dedup's keep-first runs among gate SURVIVORS
    (a group's lowest-id member being gated hands the group to its
    next survivor).

    The input is spread on ``doc_id`` before the scorer
    (``parallelism.spread``): a small corpus is one parquet file, which
    scans as one task, and the scorer's per-document kernels
    (tokenize, grams, ``md5_long`` per gram) would otherwise run on a
    single core. A corpus already scanning in ``defaultParallelism``
    or more partitions passes through with no shuffle. The hash
    partitioning on ``doc_id`` also serves the scorer's per-doc
    aggregate and its join back on ``doc_id``, so neither adds an
    exchange. Results do not depend on it: every kernel is
    row-deterministic, the score sum is exact decimal, and the dedup
    window orders by ``doc_id``."""
    scorer = with_quality_score if scorer is None else scorer
    kept = scorer(spread(docs, "doc_id")).where(F.col("is_kept"))
    from pyspark.sql.window import Window as _W

    uniq = (
        kept.withColumn("fingerprint", exact_fingerprint())
        .withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("fingerprint").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "text", "quality_score")
        # pin: _dsir_rank consumes this frame in three passes
        # (raw counts, target counts, scoring) — unpinned, each
        # pass would re-run the scorer + dedup window
        .localCheckpoint()
    )
    return (
        _dsir_rank(uniq.select("doc_id", "lang", "text"))
        .join(uniq.select("doc_id", "quality_score"), "doc_id")
        .select(
            "doc_id", "lang", "quality_score", "n_feats", "log_weight"
        )
        .orderBy(F.desc("log_weight"), "doc_id")
        .limit(_FUNNEL_TOPK if topk is None else topk)
    )


_register_curation_funnel()



# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Module split (r12, VERDICT r11 #6): the retrieval, curation, and
# packing/split families moved to sibling modules. Importing them here
# runs their @register calls exactly as before, and the PEP-562
# __getattr__ below keeps ``plans.text`` the stable import façade for
# every symbol that ever lived here (tests, tools, and streaming
# import through this module). The re-export is LAZY on purpose: an
# eager ``from .text_packing import X`` here would break DIRECT
# imports of the submodules (the submodule imports .text at its top;
# text.py reaching back into the still-partially-initialized importer
# for attributes raises ImportError — r12 review finding). A bare
# ``from . import <mod>`` only binds the module object, which is safe
# in both import orders.
# ---------------------------------------------------------------------------

from . import text_retrieval  # noqa: E402,F401
from . import text_curation  # noqa: E402,F401
from . import text_packing  # noqa: E402,F401

#: façade map: public/legacy name -> owning submodule (see __getattr__)
_SPLIT_EXPORTS = {
    "GOPHER_STOPWORDS": "text_curation",
    "_BM25_B": "text_retrieval",
    "_BM25_K1": "text_retrieval",
    "_BM25_ORACLE": "text_retrieval",
    "_BM25_TERMS": "text_retrieval",
    "_BM25_TOPK": "text_retrieval",
    "_CHUNK_LEN": "text_retrieval",
    "_CHUNK_STRIDE": "text_retrieval",
    "_GSHUF_RESUME_STEP": "text_packing",
    # _GSHUF_SALT/_GSHUF_SHARDS are NOT mapped here: they are defined
    # at this module's top (shared constants) and text_packing imports
    # them FROM text — a map entry would misstate ownership (r13
    # review: the PEP-562 __getattr__ never fires for defined names).
    "_PACK_LEN": "text_packing",
    "_PACK_SHARDS": "text_packing",
    "_PHRASE": "text_retrieval",
    "_QSAMP_SALT": "text_curation",
    "_REBALANCE_DEFAULT_PCT": "text_curation",
    "_REBALANCE_PCT": "text_curation",
    "_SNIP_W": "text_retrieval",
    "_SREP_DUP_PPM": "text_curation",
    "_SREP_MIN_Q": "text_curation",
    "_STRAT_SALT": "text_packing",
    "_STRAT_VAL_PCT": "text_packing",
    "_TEMP_BUDGET": "text_curation",
    "_TOKEN_BUDGET": "text_curation",
    "corpus_mixture_weights": "text_curation",
    "corpus_ngram_topk": "text_curation",
    "docs_bigram_lm_perplexity": "text_curation",
    "docs_bm25_search": "text_retrieval",
    "docs_chunk_windows": "text_retrieval",
    "docs_decontaminated_train": "text_packing",
    "docs_dsir_selection": "text_curation",
    "docs_epoch_replay_mix": "text_curation",
    "docs_global_shuffle_order": "text_packing",
    "docs_heuristic_filter_bank": "text_curation",
    "docs_pack_nostraddle": "text_packing",
    "docs_pack_sequences": "text_packing",
    "docs_packed_doc_spans": "text_packing",
    "docs_packing_efficiency": "text_packing",
    "docs_paragraph_dedup": "text_curation",
    "docs_phrase_search_positional": "text_retrieval",
    "docs_phrase_search_via_index": "text_retrieval",
    "docs_pii_scrub": "text_curation",
    "docs_range_sharded_export": "text_packing",
    "docs_rebalance_sample": "text_curation",
    "docs_repetition_stats": "text_curation",
    "docs_rm3_search": "text_retrieval",
    "docs_search_snippets": "text_retrieval",
    "docs_shuffle_resume": "text_packing",
    "docs_shuffled_packing": "text_packing",
    "docs_span_corruption_masks": "text_packing",
    "docs_stratified_split": "text_packing",
    "docs_temperature_mix": "text_curation",
    "docs_token_budget_selection": "text_curation",
    "docs_train_val_split": "text_packing",
    "filter_bank_flags": "text_curation",
    "inverted_index_probe": "text_retrieval",
    "split_contamination_pairs": "text_packing",
}


def __getattr__(name: str):
    """Lazy re-export of the split modules' symbols (PEP 562): fires
    only for names NOT defined in this module, so text.py's own
    definitions always win. Resolution imports the owning submodule
    (a no-op after _load) and returns its attribute."""
    mod = _SPLIT_EXPORTS.get(name)
    if mod is None:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        )
    import importlib

    return getattr(
        importlib.import_module(f".{mod}", __package__), name
    )
