"""Near-duplicate text detection (SURVEY.md §2.10; the shipped form of
the reference's unshipped ``recordlinkage`` intent, requirements.txt:25).

All hashing is ``xxhash64`` with literal seeds — deterministic across
runs and executors, no driver-side state. The LSH pipeline is the
100 TB shape: shingle → minhash signature → band buckets → equi-join on
bucket (never an all-pairs product) → verify candidates exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..parallelism import spread
from ..functions.tokenize import word_tokens


def word_shingles(col: Column | str, n: int = 2) -> Column:
    """Distinct n-word shingles ('w1 w2' strings) from raw text."""
    return shingles_from_tokens(word_tokens(col), n)


def shingles_from_tokens(toks: Column, n: int = 2) -> Column:
    """Distinct n-word shingles from a pre-tokenized array — callers
    that already tokenized (e.g. for a length filter) pass the token
    column and skip a second regex scan of the text. Empty array when
    the document has fewer than n tokens.

    Built by zipping n shifted slices of the token array rather than
    indexing with ``element_at`` inside a ``transform`` lambda — the
    lambda form would inline the tokenizer expression into every
    element access (n·len regex scans per document; measured 8x slower
    at sf0.1). Slicing evaluates the token array n times total.
    """
    length = F.size(toks) - (n - 1)
    build = F.slice(toks, 1, length)
    for j in range(1, n):
        build = F.zip_with(
            build,
            F.slice(toks, 1 + j, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) >= n, F.array_distinct(build)).otherwise(
        F.array().cast("array<string>")
    )


def jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| over distinct-element arrays."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


#: affine minhash family parameters: positive 31-bit masked base hash,
#: per-slot (a_j, b_j) from a double-round LCG, modulus 2^31
_MH_A, _MH_C, _MH_M = 1103515245, 12345, 1 << 31


def minhash_bands_vectorized(
    df: DataFrame,
    num_hashes: int,
    bands: int,
    block_cols: tuple[str, ...] = (),
    id_col: str = "__id",
    hashes_col: str = "__hs",
) -> DataFrame:
    """(id, blocks…, band, band_hash) rows for the LSH band join, one
    Arrow pass per batch: all ``num_hashes`` minhash slots compute as
    affine maps ``(a_j·h + b_j) mod 2³¹`` over the 31-bit-masked
    shingle hashes with ``np.minimum.reduceat`` folding per document,
    and band hashes FNV-fold the per-band slots. Pure integer math —
    deterministic across runs/executors/platforms. Rows must carry
    non-empty hash arrays (``np.minimum.reduceat`` mis-reads a
    zero-length segment); callers filter empties first. The banding
    *family* differs from the expression form's xxhash64 slots, but
    any min-wise independent family gives the same collision
    probabilities; coverage vs the exhaustive baseline is asserted in
    tests (and the clean-corpus oracle would catch a recall hole)."""
    import numpy as np
    import pandas as pd

    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be a multiple of "
            f"bands={bands}: the trailing {num_hashes % bands} hash "
            "slots would be silently ignored and the banding would run "
            "at a different rows-per-band than the caller's recall "
            "math assumes"
        )
    rows_per_band = num_hashes // bands
    # per-slot affine parameters from the shared double-round LCG
    seeds = np.arange(num_hashes, dtype=np.int64)
    a = (_MH_A * ((_MH_A * seeds + _MH_C) % _MH_M) + _MH_C) % _MH_M
    a = (a | 1).astype(np.int64)  # odd multipliers
    b = (_MH_A * (seeds + num_hashes) + _MH_C) % _MH_M
    fnv = np.uint64(1099511628211)

    out_fields = [f"{id_col} long"]
    for c in block_cols:
        out_fields.append(f"{c} {df.schema[c].dataType.simpleString()}")
    out_fields += ["__band int", "__bh long"]
    schema = ", ".join(out_fields)

    def bandify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens = pdf[hashes_col].map(len).to_numpy()
            offsets = np.zeros(len(pdf), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            flat = np.concatenate(list(pdf[hashes_col])).astype(np.int64)
            hm = flat & 0x7FFFFFFF  # positive 31-bit base hash
            sig = np.empty((len(pdf), num_hashes), dtype=np.int64)
            for j in range(num_hashes):
                sig[:, j] = np.minimum.reduceat((a[j] * hm + b[j]) % _MH_M, offsets)
            # FNV-fold each band's slots into one int64 band hash
            bh = np.empty((len(pdf), bands), dtype=np.uint64)
            for bd in range(bands):
                h = np.full(len(pdf), np.uint64(bd + 0xCBF29CE4), dtype=np.uint64)
                for r in range(rows_per_band):
                    h = (h * fnv) ^ sig[:, bd * rows_per_band + r].astype(np.uint64)
                bh[:, bd] = h
            out = {
                id_col: np.repeat(pdf[id_col].to_numpy(), bands),
                "__band": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                "__bh": bh.reshape(-1).view(np.int64),
            }
            for c in block_cols:
                out[c] = np.repeat(pdf[c].to_numpy(), bands)
            yield pd.DataFrame(out)

    return df.select(id_col, *block_cols, hashes_col).mapInPandas(
        bandify, schema=schema
    )


def hashed_shingles(col: Column | str, n: int = 2, pre_tokenized: bool = False) -> Column:
    """Distinct n-word shingle hashes (long). Each token hashes once
    (xxhash64 of the string); a shingle's hash combines the n
    consecutive token hashes with one more xxhash64 — no intermediate
    'w1 w2' concat strings are ever built, so the hot map stage does n
    string hashes + n long combines per document instead of n string
    builds + n string hashes (measured ~1.5x faster at sf0.1). All
    downstream set math (minhash, Jaccard) runs on the fixed-width
    longs — set semantics match string shingles up to 64-bit
    collisions (~1e-16 per document).
    ``pre_tokenized`` treats ``col`` as an existing token array."""
    c = F.col(col) if isinstance(col, str) else col
    toks = c if pre_tokenized else word_tokens(c)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    length = F.size(th) - (n - 1)
    build = F.slice(th, 1, length)
    for j in range(1, n):
        build = F.zip_with(
            build, F.slice(th, 1 + j, length), lambda a, b: F.xxhash64(a, b)
        )
    combined = F.when(F.size(th) >= n, build).otherwise(
        F.array().cast("array<bigint>")
    )
    return F.array_distinct(combined)


#: frames cached by minhash_candidate_pairs, pending release — the
#: operator returns lazy plans over them, so only the caller knows
#: when they can go (see the docstring's cache-lifetime note)
_CACHED_FRAMES: list = []


def cached_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    block_cols: tuple[str, ...] = (),
    partitions: int | None = None,
    pre_tokenized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """``(hashed, nonempty)``: every document's :func:`hashed_shingles`
    as a cached ``(__id, *block_cols, __hs)`` frame, and that frame
    without the documents whose set is empty. The caller owns the
    cache and unpersists ``hashed`` when done.

    The input is spread first (a single-file input scans as one task);
    an explicit ``partitions`` repartitions unconditionally. The empty
    filter runs on the cached frame on purpose: over the uncached plan
    Catalyst pushes ``size(__hs) > 0`` below the repartition, so the
    hashing would run once on the scan's tasks for the filter and
    again after the exchange (parallelism.py module docstring)."""
    cols = (
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in block_cols],
        F.col(text_col).alias("__text"),
    )
    src = (
        spread(df.select(*cols), "__id")
        if partitions is None
        else df.select(*cols).repartition(partitions, "__id")
    )
    hashed = src.select(
        "__id",
        *block_cols,
        hashed_shingles(F.col("__text"), shingle_n, pre_tokenized).alias(
            "__hs"
        ),
    ).cache()
    return hashed, hashed.filter(F.size("__hs") > 0)


def release_cached() -> None:
    """Unpersist every frame minhash_candidate_pairs has cached so
    far — the targeted alternative to a session-wide clearCache for
    long-lived callers sharing the session with other cached data.
    Safe to call any time after the returned DataFrames have been
    materialized (or abandoned)."""
    while _CACHED_FRAMES:
        _CACHED_FRAMES.pop().unpersist()


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = (),
    partitions: int | None = None,
    max_bucket_size: int | None = None,
    pre_tokenized: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified.

    bands=8 × rows=4 over 32 hashes ⇒ candidate probability
    1-(1-j⁴)⁸ — ~0.99 at j=0.8, ~0.03 at j=0.2. The band equi-join is
    the only shuffle; verified pairs re-compute true Jaccard on the two
    shingle sets only (candidates, not all pairs).

    ``block_cols`` adds hard blocking keys (e.g. lang) to the band
    join: pairs must agree on them, mirroring an exhaustive
    within-block baseline, and hot band buckets split across blocks.
    The per-document hashing runs on the input spread to
    ``defaultParallelism`` partitions when its scan is narrower (one
    parquet file is one task); ``partitions`` repartitions to that
    count unconditionally instead (:func:`cached_shingles`).

    ``max_bucket_size`` is the skew guard for power-law content: a band
    bucket holding B documents yields B²/2 candidate pairs inside ONE
    join key — AQE can split the partition but not the quadratic
    blow-up, so a 10⁴-copy boilerplate passage would emit 10⁸ pairs
    per band. Buckets larger than the cap are dropped before the
    self-join (one window count, same shuffle key as the join). Run
    exact dedup first (as documents_clean_corpus does): identical
    documents collapse there, so an over-cap bucket signals degenerate
    boilerplate, which near-dup dedup is free to skip — the cap trades
    bounded recall loss on hot content for a hard per-bucket work
    bound.

    Cache lifetime: the hashed-shingle and banded-postings
    intermediates are cached and deliberately NOT unpersisted here —
    the returned plan references them lazily, so the operator cannot
    know when the caller is done. Both are tracked in a module
    registry: long-lived callers (a daemon, a bench loop) call
    :func:`release_cached` after materializing the result — the
    targeted equivalent of ``MinHashIndex.release()`` — or a blanket
    ``spark.catalog.clearCache()`` between rounds, as bench.py does.
    """
    # shingles hashed once per document into a cache the band join
    # and the verification stage share
    hashed, base = cached_shingles(
        df,
        id_col,
        text_col,
        shingle_n,
        block_cols=block_cols,
        partitions=partitions,
        pre_tokenized=pre_tokenized,
    )
    _CACHED_FRAMES.append(hashed)
    # band join carries only (blocks, band, hash, id) — the shingle
    # arrays never enter the shuffle
    banded = minhash_bands_vectorized(
        base, num_hashes=num_hashes, bands=bands, block_cols=block_cols
    )
    join_keys = [*block_cols, "__band", "__bh"]
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        wb = Window.partitionBy(*join_keys)
        banded = (
            banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    # cache the (ids, band, hash)-only postings: the self-join's two
    # sides otherwise each re-run the Arrow bandify + bucket-cap window
    # (Catalyst does not reuse the exchange across the renamed
    # branches; measured ~25% of pipeline time at sf0.1). The cached
    # frame is narrow — n_docs × bands rows of three scalars.
    banded = banded.cache()
    _CACHED_FRAMES.append(banded)
    left = banded.withColumnRenamed("__id", "id_a")
    right = banded.withColumnRenamed("__id", "id_b")
    cands = (
        left.join(right, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification re-attaches hashed shingles per side from the cache;
    # it may read the unfiltered one, since candidate ids come only
    # from documents with a non-empty set
    sha = hashed.select(F.col("__id").alias("id_a"), F.col("__hs").alias("__sha"))
    shb = hashed.select(F.col("__id").alias("id_b"), F.col("__hs").alias("__shb"))
    return (
        cands.join(sha, "id_a")
        .join(shb, "id_b")
        .withColumn("jaccard", jaccard(F.col("__sha"), F.col("__shb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: literal bit masks for the 64 simhash positions; index 63 is the
#: long's sign bit, so its mask is the (negative) minimum long
_BIT_MASKS = [1 << b if b < 63 else -(1 << 63) for b in range(64)]


def md5_token_hash(t: Column) -> Column:
    """60-bit positive token hash both engines compute identically:
    the first 15 hex chars of md5(utf8) parsed as an integer — Spark
    ``conv(..., 16, 10)``, DuckDB ``CAST('0x...' AS BIGINT)``. The
    cross-engine reproducibility is what lets SimHash carry a full
    DuckDB oracle (xxhash64 exists only in Spark)."""
    return F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10).cast("long")


def simhash60(toks: Column) -> Column:
    """60-bit SimHash over a token array using :func:`md5_token_hash`:
    each token votes ±1 per bit position (occurrence-weighted), the
    sign of each vote total sets the bit. Positive int64 — no sign-bit
    special case — and SQL-reproducible. Single pass over the token
    hashes, same fold shape as :func:`simhash64`."""
    hashes = F.transform(toks, md5_token_hash)
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(60)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 60),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash64(col: Column | str) -> Column:
    """64-bit SimHash over word tokens: each token's xxhash64 votes ±1
    per bit position; the sign of each vote total sets the bit.

    One pass over the token hashes: the fold accumulator is the
    64-wide vote array and each token updates all 64 counters via
    ``zip_with`` against a literal mask array (the earlier form ran 64
    separate folds = 64 traversals of the hash array; measured ~4x
    slower at sf0.1). Map-only at any scale."""
    hashes = F.transform(word_tokens(col), lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    # re-assemble the fingerprint: add each mask whose vote is positive
    # (each mask appears at most once, so the sum cannot overflow)
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup pairs blocked on 15-bit bands of the 60-bit
    md5-based fingerprint (:func:`simhash60` — SQL-reproducible, so
    the whole pipeline carries a DuckDB oracle).

    Pigeonhole: hamming ≤ 6 over 4 bands ⇒ at least one band is ≤ 1
    apart; we block on exact band match (catches hamming ≤ 3 per the
    standard 4-band scheme and most ≤ 6 cases) — recall/cost knob, with
    exact hamming verification after the join. Token-less documents
    carry no signal and are excluded (both engines)."""
    # cache: the simhash fold must not be recomputed per join side;
    # conditional spread first (r14 — a single-file input would fold
    # on one task; an already-parallel scan skips the text shuffle).
    # The fold stays the JVM expression form deliberately: an
    # Arrow-vectorized twin (memoized md5 + numpy votes) was built,
    # measured no better in steady state, and showed bimodal 2-4x
    # slow runs from the Python worker boundary — reverted.
    # Token-less documents get a NULL fingerprint inside the cached
    # projection and are dropped on the cached frame: a filter on the
    # tokens over the uncached plan is pushed below the spread's
    # exchange and tokenizes every document twice (parallelism.py).
    toks = F.col("__toks")
    sh = (
        spread(
            df.select(
                F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
            ),
            "__id",
        )
        .select("__id", word_tokens(F.col("__t")).alias("__toks"))
        .select(
            "__id", F.when(F.size(toks) > 0, simhash60(toks)).alias("__sh")
        )
        .cache()
    )
    _CACHED_FRAMES.append(sh)  # released via release_cached(), same
    # lifetime contract as the minhash postings cache
    bands = sh.where(F.col("__sh").isNotNull()).select(
        "__id",
        "__sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("__sh"), 15 * b).bitwiseAND(F.lit(0x7FFF))
                    for b in range(4)
                ]
            )
        ).alias("__band", "__bv"),
    )
    left = bands.select(
        "__band", "__bv", F.col("__id").alias("id_a"), F.col("__sh").alias("__sha")
    )
    right = bands.select(
        "__band", "__bv", F.col("__id").alias("id_b"), F.col("__sh").alias("__shb")
    )
    return (
        left.join(right, ["__band", "__bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("__sha"), F.col("__shb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
