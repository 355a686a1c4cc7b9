"""Vector similarity operators (SURVEY.md §2.10).

Cosine math is pure column expressions over ``ArrayType(FloatType)`` —
``zip_with``/``aggregate`` fold JVM-side in array order, so results are
deterministic and bit-reproducible (each float32 widens exactly to
float64). Brute-force top-k is the correctness baseline; the bucketed
variants (IVF via coarse centroids, random-hyperplane LSH) are the
100 TB path: candidate generation touches only matching buckets, so the
cross product never materializes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..localrel import local_rows_df
from ..parallelism import spread
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in array order, float64 accumulation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_sq(a: Column) -> Column:
    return dot(a, a)


def cosine(a: Column, b: Column) -> Column:
    """dot / sqrt(|a|²·|b|²) — keep this exact formula in any oracle
    (sqrt(x·y) and sqrt(x)·sqrt(y) differ in low bits)."""
    return dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. One scan of the corpus, no shuffle of the
    corpus itself — only (n_queries × k) rows survive the window."""
    q = queries.select(F.col(query_id), F.col(vec).alias("__qv"))
    c = corpus.select(F.col(corpus_id), F.col(vec).alias("__cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id,
        corpus_id,
        cosine(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def neardup_pairs_blocked(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Near-duplicate pairs within a blocking key (equi-join on the
    block, never a full cross product). The block column is whatever
    coarse structure exists — a cluster id, an LSH bucket, a shard."""
    # parallelism of the broadcast block-join equals the probe side's
    # partition count — spread it (a single-file scan is one task)
    # conditional (r14): the spread is a local/small-input fix — at
    # scale the scan is already parallel and this shuffle of vector
    # payloads would be pure waste (parallelism.spread rationale)
    a = spread(df, id_col).select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec).alias("__va"),
    )
    b = df.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec).alias("__vb"),
    )
    pairs = a.join(b, "__blk").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "__blk",
            "id_a",
            "id_b",
            cosine(F.col("__va"), F.col("__vb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") > threshold)
        .withColumnRenamed("__blk", block_col)
    )


#: centroid count at which map-only cell assignment auto-switches from
#: the literal-expression argmax (:func:`nearest_centroid`) to the
#: Arrow kernel (:func:`assign_cells_vectorized`). The two are
#: bit-identical (test-pinned); the expression form inlines one struct
#: per centroid into the projection — fine at k=16, binding by k~160
#: (measured at 10x corpus: 21.2 s expression vs 1.8 s kernel for the
#: retrained k=160 quantizer, SCALE.md), impossible at production
#: SemDeDup cell counts (k ~ 1e5). 48 sits safely below the measured
#: crossover; callers can still force either form explicitly.
ARROW_ASSIGN_MIN_K = 48


def _sql_double(v: float) -> str:
    """``v`` as a Spark SQL double literal that parses back to the same
    bits (``repr`` is the shortest round-tripping decimal)."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _sql_array(values: list) -> str:
    """Spark SQL text of a (nested) list of floats."""
    return "array(%s)" % ", ".join(
        _sql_array(v) if isinstance(v, (list, tuple)) else _sql_double(v)
        for v in values
    )


def _lit_array(values: list) -> Column:
    """``array<double>`` literal, or ``array<array<double>>`` and deeper
    for nested lists. Built as ONE parsed SQL expression:
    ``F.array(*[F.lit(v) ...])`` costs a Py4J round-trip per element,
    and the literal-heavy assignment/encode expressions spent most of
    their driver time there (same Catalyst array of double literals)."""
    return F.expr(_sql_array(values))


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row, however
    often ``body`` reads it (a lambda body re-evaluates outer columns
    on every call)."""
    return F.transform(F.array(value), body)[0]


def _refuse_zero_norm_centroids(
    centroids: list[list[float]], fn: str
) -> None:
    """A zero-norm centroid makes every cosine against it NaN, and the
    two assignment engines disagree on NaN (numpy argmax treats NaN as
    maximal and would send EVERY row to that cell; Spark struct
    ordering never picks it) — refuse at the API edge instead of
    letting the bit-identical contract silently break."""
    for i, c in enumerate(centroids):
        if not any(float(x) != 0.0 for x in c):
            raise ValueError(
                f"{fn}: centroid {i} has zero norm — cosine against it "
                "is undefined; drop it or retrain the quantizer"
            )


def _cell_means(df: DataFrame, cell_col: str, vec: str) -> DataFrame:
    """Component-wise mean vector per cell: posexplode (keeps component
    order), mean per (cell, pos), re-assemble."""
    return (
        df.select(F.col(cell_col), F.posexplode(F.col(vec)).alias("pos", "val"))
        .groupBy(cell_col, "pos")
        .agg(F.avg("val").alias("mval"))
        .groupBy(cell_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pairs"))
        .select(
            cell_col,
            F.transform(F.col("pairs"), lambda p: p["mval"].cast("float")).alias(
                "centroid"
            ),
        )
    )


def nearest_centroid(
    vec_col: Column,
    centroids: list[list[float]],
    norm2: Column | None = None,
) -> Column:
    """Map-only argmax-cosine cell assignment: the centroid matrix
    inlines as literal arrays, so assignment is one projection — no
    join, no shuffle, whatever the corpus size. Ties break to the
    lowest cell id via struct ordering.

    Expression-cost hygiene (bit-identical, ~3x fewer array folds per
    row): each centroid's squared norm is summed in PYTHON — a
    sequential float64 left fold over the components, exactly the fold
    ``aggregate`` performs over the literal array, so the product
    under the sqrt carries the same bits — and callers that already
    materialize the row vector's squared norm can pass it as ``norm2``
    so it folds once instead of once per centroid. With neither
    optimization a k-centroid assignment folds 3k aggregates per row;
    with both it folds k dots (+1 norm)."""
    n2v = norm_sq(vec_col) if norm2 is None else norm2

    def _py_norm2(c: list[float]) -> float:
        s = 0.0
        for x in c:
            s += float(x) * float(x)
        return s

    _refuse_zero_norm_centroids(centroids, "nearest_centroid")

    # one struct per centroid, scored by a transform over the literal
    # centroid matrix: the same doubles as one inlined struct per
    # centroid, at a fixed handful of Py4J calls instead of ~k·dim
    cents = _lit_array(centroids)
    cn2 = _lit_array([_py_norm2(c) for c in centroids])

    def argmax(r: Column) -> Column:
        scored = F.transform(
            cents,
            lambda c, i: F.struct(
                (-(dot(r["v"], c) / F.sqrt(r["n2"] * F.get(cn2, i)))).alias(
                    "d"
                ),
                i.alias("cid"),
            ),
        )
        return F.array_min(scored)["cid"]

    return _let(F.struct(vec_col.alias("v"), n2v.alias("n2")), argmax)


def kmeans_centroids(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 8,
    seed: int = 42,
    sample_mod: int | None = None,
    vectorized: bool | None = None,
) -> list[list[float]]:
    """Deterministic seeded Lloyd k-means — the external coarse
    quantizer for IVF.

    Init picks the k rows with the smallest ``xxhash64(seed, id)``
    (deterministic across runs/retries, no RNG state). Each iteration
    is one map-only assignment (literal-centroid argmax, see
    :func:`nearest_centroid`) plus one aggregation for the new means;
    the k×dim centroid matrix round-trips through the driver per
    iteration — it is the deliberately-small broadcast side, same as
    the KNN query matrix. ``sample_mod=m`` trains on the deterministic
    1/m hash-sample of rows — at 100 TB the quantizer never needs the
    full corpus. ``vectorized=True`` runs each iteration's assignment
    through the Arrow kernel (:func:`assign_cells_vectorized`,
    bit-identical — same trained centroids, test-pinned): the
    expression argmax recompiles a k-struct projection per iteration,
    acceptable at k=16 and the dominant cost of a k=160 retrain; at
    production cell counts the kernel is the only viable form.
    """
    if vectorized is None:
        # auto: past the measured crossover the expression argmax is
        # the dominant cost of a retrain — default to the kernel there
        vectorized = k >= ARROW_ASSIGN_MIN_K
    base = df.select(F.col(id_col).alias("__id"), F.col(vec).alias("__v"))
    if sample_mod:
        base = base.filter(F.pmod(F.xxhash64(F.lit(seed + 1), "__id"), sample_mod) == 0)
    base = base.cache()
    init = (
        base.withColumn("__h", F.xxhash64(F.lit(seed), "__id"))
        .orderBy("__h")
        .limit(k)
        .select("__v")
        .collect()
    )
    centroids = [list(r["__v"]) for r in init]
    for _ in range(iters):
        if vectorized:
            assigned = assign_cells_vectorized(
                base, centroids, id_col="__id", vec="__v"
            ).withColumnRenamed("cell", "__cell")
        else:
            assigned = base.withColumn(
                "__cell", nearest_centroid(F.col("__v"), centroids)
            )
        means = _cell_means(assigned, "__cell", "__v").collect()
        new = {r["__cell"]: list(r["centroid"]) for r in means}
        # empty cells keep their previous centroid
        centroids = [new.get(i, c) for i, c in enumerate(centroids)]
    base.unpersist()
    return centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    n_probe: int = 2,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vec: str = "embedding",
    coarse_col: str | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k.

    Coarse quantization, in priority order: ``centroids`` (an external
    learned quantizer, e.g. :func:`kmeans_centroids` — corpus vectors
    assign map-only to their nearest centroid), else ``coarse_col`` (a
    pre-existing assignment column; cell centroids derive as per-cell
    means), else the per-``label`` mean fallback. Each query probes its
    ``n_probe`` nearest centroids and ranks only those inverted lists.
    Recall < 1.0 by design — the correctness baseline is
    :func:`brute_force_topk`.
    """
    if centroids is not None:
        if len(centroids) >= ARROW_ASSIGN_MIN_K:
            # past the measured crossover the expression argmax
            # dominates the whole query — take the bit-identical
            # Arrow kernel by default (ARROW_ASSIGN_MIN_K)
            assigned = (
                assign_cells_vectorized(
                    corpus, centroids, id_col=corpus_id, vec=vec
                )
                .withColumnRenamed("cell", "__coarse")
                .drop("__n2")
            )
        else:
            assigned = corpus.withColumn(
                "__coarse", nearest_centroid(F.col(vec), centroids)
            )
        # array<double>, matching nearest_centroid's float64 literals:
        # a float32 column here would silently round the probe-side
        # cosines for any externally-trained (non-f32-representable)
        # quantizer and diverge from both the assignment argmax and
        # ivf_topk_vectorized's bit-identity claim
        cent_df = local_rows_df(
            corpus.sparkSession,
            [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
            "label int, centroid array<double>",
        )
    else:
        cell = coarse_col or "label"
        cent_df = _cell_means(corpus, cell, vec).withColumnRenamed(cell, "label")
        assigned = corpus.withColumn("__coarse", F.col(cell))

    # query → n_probe nearest centroids (centroid set is tiny: broadcast)
    q = queries.select(F.col(query_id), F.col(vec).alias("__qv"))
    qc = q.crossJoin(F.broadcast(cent_df)).select(
        query_id,
        "__qv",
        F.col("label").alias("__coarse"),
        cosine(F.col("__qv"), F.col("centroid")).alias("__csim"),
    )
    wq = Window.partitionBy(query_id).orderBy(F.col("__csim").desc(), F.col("__coarse"))
    probes = qc.withColumn("__pr", F.row_number().over(wq)).filter(
        F.col("__pr") <= n_probe
    )

    # rank only within probed inverted lists
    c = assigned.select("__coarse", F.col(corpus_id), F.col(vec).alias("__cv"))
    scored = probes.join(c, "__coarse").select(
        query_id, corpus_id, cosine(F.col("__qv"), F.col("__cv")).alias("cos_sim")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_vectorized(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    n_probe: int = 2,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """One-pass IVF top-k, bit-identical to :func:`ivf_topk` with an
    external ``centroids`` quantizer — and the better 100 TB shape:
    the query set and the centroid matrix are both driver-sized, so
    probe selection happens on the driver and cell assignment +
    scoring fuse into a SINGLE ``mapInPandas`` over the corpus. Zero
    joins, zero corpus shuffle — the only exchange is the final
    per-query rank over the per-batch top-k survivors (the same
    pre-reduction :func:`brute_force_topk_vectorized` uses).

    All cosine math accumulates per-DIMENSION in sequence (the fold
    order the expression form and the DuckDB oracle use), vectorized
    across rows — so this path shares emb_ivf_topk's exact oracle.
    Ties break identically: assignment argmax to the lowest cell
    (np.argmax keeps the first max), ranks by (cos desc, id asc).

    Precondition: no zero-norm vectors — cosine is undefined there
    (NaN), and numpy, Spark SQL and DuckDB disagree on NaN ordering,
    so a zero vector would silently diverge from the expression form
    (emb_norm_stats is the QA query that catches zero norms before
    indexing).

    Note: the query set collects at plan-BUILD time (it is the
    deliberately-small driver side, same cost class as the
    :func:`brute_force_topk_vectorized` query matrix), so building
    this plan runs one small Spark job.
    """
    import numpy as np
    import pandas as pd

    _require_long_ids(queries, query_id, "ivf_topk_vectorized")
    _require_long_ids(corpus, corpus_id, "ivf_topk_vectorized")

    cent = np.array(centroids, dtype=np.float64)  # (K, dim)
    n_cells, dim = cent.shape
    cent_norm_sq = np.zeros(n_cells)
    for i in range(dim):
        cent_norm_sq += cent[:, i] * cent[:, i]

    q_rows = queries.select(query_id, vec).collect()
    if not q_rows:  # empty query set: empty result, same schema as
        # the non-empty path (ivf_topk degrades the same way)
        return local_rows_df(
            corpus.sparkSession,
            [],
            f"{query_id} long, {corpus_id} long, cos_sim double, rank int",
        )
    q_ids = np.array([r[query_id] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec] for r in q_rows], dtype=np.float64)
    nq = len(q_ids)
    q_norm_sq = np.zeros(nq)
    for i in range(dim):
        q_norm_sq += q_mat[:, i] * q_mat[:, i]

    # driver-side probe selection: per query, the n_probe nearest
    # cells by (cos desc, cell asc) — mirrors the window in ivf_topk
    dot_qc = np.zeros((nq, n_cells))
    for i in range(dim):
        dot_qc += q_mat[:, i][:, None] * cent[:, i][None, :]
    sims_qc = dot_qc / np.sqrt(q_norm_sq[:, None] * cent_norm_sq[None, :])
    cells = np.arange(n_cells)
    probers_by_cell: list[list[int]] = [[] for _ in range(n_cells)]
    for qi in range(nq):
        for cell in np.lexsort((cells, -sims_qc[qi]))[:n_probe]:
            probers_by_cell[cell].append(qi)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_mat = np.array(list(pdf[vec]), dtype=np.float64)
            cids = pdf[corpus_id].to_numpy()
            # cell assignment: argmax cosine vs the centroid matrix
            dot_cc = np.zeros((len(cids), n_cells))
            c_norm_sq = np.zeros(len(cids))
            for i in range(dim):
                dot_cc += c_mat[:, i][:, None] * cent[:, i][None, :]
                c_norm_sq += c_mat[:, i] * c_mat[:, i]
            sims_cc = dot_cc / np.sqrt(c_norm_sq[:, None] * cent_norm_sq[None, :])
            assigned = np.argmax(sims_cc, axis=1)  # first max = lowest cell

            out_q, out_c, out_s = [], [], []
            for cell in np.unique(assigned):
                qidx = probers_by_cell[cell]
                if not qidx:
                    continue
                mask = assigned == cell
                sub = c_mat[mask]
                sub_ids = cids[mask]
                dot = np.zeros((len(qidx), len(sub_ids)))
                for i in range(dim):
                    dot += q_mat[qidx, i][:, None] * sub[:, i][None, :]
                sims = dot / np.sqrt(
                    q_norm_sq[qidx][:, None] * c_norm_sq[mask][None, :]
                )
                n_keep = min(k, len(sub_ids))
                for row, qi in enumerate(qidx):
                    order = np.lexsort((sub_ids, -sims[row]))[:n_keep]
                    out_q.extend([q_ids[qi]] * n_keep)
                    out_c.extend(sub_ids[order])
                    out_s.extend(sims[row, order])
            yield pd.DataFrame(
                {query_id: out_q, corpus_id: out_c, "cos_sim": out_s}
            )

    partial = corpus.select(corpus_id, vec).mapInPandas(
        score_batches, schema=f"{query_id} long, {corpus_id} long, cos_sim double"
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: quantization scale for LSH projections — a power of two, so
#: ``x * _Q`` only shifts the float exponent and ``floor`` is exact and
#: engine-independent
_Q = 1048576.0
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2147483648
#: stride between plane seeds — any value > the vector dimension keeps
#: per-plane component streams disjoint
_SEED_STRIDE = 1000003


def _lcg_component(s: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in
    [-1000, 1000] from a double-round LCG over the seed index. Pure
    positive-int64 arithmetic (no overflow at any reachable seed), so
    any SQL engine reproduces it bit-exactly — this is what lets the
    LSH pipeline carry a DuckDB oracle."""
    a = F.lit(_LCG_A).cast("long")  # force int64 arithmetic: the raw
    c = F.lit(_LCG_C).cast("long")  # int literals would multiply in
    m = F.lit(_LCG_M).cast("long")  # int32 and overflow under ANSI
    h1 = (a * s.cast("long") + c) % m
    h2 = (a * h1 + c) % m
    return h2 % F.lit(2001).cast("long") - F.lit(1000).cast("long")


def _plane_projection(vec: Column, plane_seed: int) -> Column:
    """Integer-exact dot product with a deterministic pseudo-random
    hyperplane: vector components quantize to ``floor(x · 2²⁰)`` (exact
    — the scale is a power of two) and the plane components are LCG
    integers, so the projection is an int64 sum — order-independent,
    no float-accumulation drift between engines or retries."""
    s0 = plane_seed * _SEED_STRIDE
    return F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(s0), F.lit(s0) + F.size(vec) - 1),
            lambda x, s: F.floor(x.cast("double") * F.lit(_Q)).cast("long")
            * _lcg_component(s),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _plane_matrix(n_planes_total: int, dim: int):
    """(n_planes_total × dim) int64 hyperplane component matrix — the
    same double-round LCG stream :func:`_lcg_component` evaluates
    column-wise, materialized once for the vectorized path. All values
    fit int64 with headroom (bounds in the constants above)."""
    import numpy as np

    seeds = (
        np.arange(n_planes_total, dtype=np.int64)[:, None] * _SEED_STRIDE
        + np.arange(dim, dtype=np.int64)[None, :]
    )
    h1 = (_LCG_A * seeds + _LCG_C) % _LCG_M
    h2 = (_LCG_A * h1 + _LCG_C) % _LCG_M
    return h2 % 2001 - 1000


def _assign_buckets(mat, planes_matrix, n_tables: int, n_planes: int):
    """(batch × n_tables) int64 bucket ids for a float64 vector batch —
    THE oracle-critical math, shared by every vectorized LSH path:
    exact power-of-two quantization, integer matmul against the LCG
    plane matrix, sign bits weighted 2^p per table. Any change here
    must mirror into ``_bucket_sql`` (plans/similarity.py)."""
    import numpy as np

    q = np.floor(mat * _Q).astype(np.int64)
    proj = q @ planes_matrix.T  # (batch × tables·planes), exact int64
    bits = (proj >= 0).astype(np.int64).reshape(-1, n_tables, n_planes)
    weights = np.array([1 << p for p in range(n_planes)], dtype=np.int64)
    return bits @ weights


def lsh_buckets_vectorized(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_tables: int = 8,
    n_planes: int = 6,
) -> DataFrame:
    """(id, table, bucket) assignments for all LSH tables in one Arrow
    pass: quantize each batch to int64 and compute every projection as
    one (batch × dim) @ (dim × planes) integer matmul. Bit-identical to
    the :func:`_plane_projection` expression form (same quantization,
    same LCG planes, pure int64 — proven by the DuckDB oracle on
    emb_lsh_neardup_pairs), but vectorized: the interpreted
    higher-order-function fold dominated the runtime (measured ~7 s for
    2000×48 projections at sf0.1; this path is ~50 ms)."""
    import numpy as np
    import pandas as pd

    total = n_tables * n_planes

    def assign(batches):
        planes = {}
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf[vec]), dtype=np.float64)
            dim = mat.shape[1]
            if dim not in planes:
                planes[dim] = _plane_matrix(total, dim)
            buckets = _assign_buckets(mat, planes[dim], n_tables, n_planes)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "__id": np.repeat(ids, n_tables),
                    "__table": np.tile(np.arange(n_tables), len(ids)),
                    "__bucket": buckets.reshape(-1),
                }
            )

    return df.select(F.col(id_col).alias(id_col), F.col(vec)).mapInPandas(
        assign, schema="__id long, __table int, __bucket long"
    )


def hyperplane_lsh_buckets(
    df: DataFrame, n_planes: int = 8, id_col: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Single-table random-hyperplane LSH: sign pattern of ``n_planes``
    hyperplanes → integer bucket (a shard/partition key)."""
    sign_bits = []
    for p in range(n_planes):
        proj = _plane_projection(F.col(vec), p)
        sign_bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**p))
    bucket = sum(sign_bits[1:], sign_bits[0])
    return df.withColumn("lsh_bucket", bucket.cast("long"))


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.35,
    n_tables: int = 8,
    n_planes: int = 6,
) -> DataFrame:
    """Multi-table hyperplane LSH near-dup pairs, exact-cosine verified.

    One table of k planes catches an angle-θ pair with
    p = (1-θ/π)^k; L independent tables lift recall to 1-(1-p)^L —
    k=6, L=8 ⇒ ~0.98 at cos≈0.9 (true near-dups) and ~0.4 at cos≈0.4,
    with 2^6 buckets per table keeping the candidate volume ~n²/64 per
    table even on a worst-case uniform corpus. k is the recall/cost
    knob.

    Verification runs WITHIN each (table, bucket) group rather than on
    materialized candidate pairs: each vector shuffles once per table
    (n·L rows), and the all-pairs cosine happens in-task over the
    bucket's own vectors. The alternative — an ids-only candidate
    equi-join plus joining both vectors back onto every pair — shuffles
    O(candidates) vector payloads, and candidates dwarf survivors at
    any permissive threshold (measured at sf0.1: 447k candidates →
    1.9k survivors; the pair-join form moved ~460 MB of vectors where
    this form moves ~8 MB). Only surviving pairs reach the cross-table
    dedup shuffle. A hot bucket concentrates its O(s²) verify in one
    task — the knob is n_planes (bucket count 2^k); compute is
    row-blocked so memory stays O(block · s) even on a skewed bucket.
    A pair colliding in several tables is cosine-verified once per
    colliding table (the grams batch whole buckets; skipping
    individual cells would cost more than recomputing them) — bounded
    L× redundancy, traded for never shuffling candidate payloads.

    Cosine accumulates per-DIMENSION in sequence (the fold order both
    engines use), vectorized across the bucket — np.dot's
    pairwise/BLAS accumulation would drift in the low bits and break
    the DuckDB oracle on emb_lsh_neardup_pairs, which enumerates the
    same bucket-equality candidates in SQL."""
    import numpy as np
    import pandas as pd

    total = n_tables * n_planes
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(F.col(id_col).alias("__id"), F.col(vec).alias("__v")).repartition(
        par, "__id"
    )  # spread the projection math — the input is often one file = one task

    def assign(batches):
        # same bucket math as lsh_buckets_vectorized (shared
        # _assign_buckets), but the vector rides along so the bucket
        # group can verify without joining payloads onto candidate
        # pairs
        planes = {}
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["__v"]), dtype=np.float64)
            dim = mat.shape[1]
            if dim not in planes:
                planes[dim] = _plane_matrix(total, dim)
            buckets = _assign_buckets(mat, planes[dim], n_tables, n_planes)
            yield pd.DataFrame(
                {
                    "__id": np.repeat(pdf["__id"].to_numpy(), n_tables),
                    "__table": np.tile(np.arange(n_tables), len(pdf)),
                    "__bucket": buckets.reshape(-1),
                    "__v": [v for v in pdf["__v"] for _ in range(n_tables)],
                }
            )

    banded = base.mapInPandas(
        assign, schema="__id long, __table int, __bucket long, __v array<double>"
    )

    def verify_bucket(pdf):
        s = len(pdf)
        if s < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        ids = pdf["__id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.array(list(pdf["__v"]), dtype=np.float64)[order]
        dim = mat.shape[1]
        norm_sq = np.zeros(s)
        for i in range(dim):
            norm_sq += mat[:, i] * mat[:, i]
        out_a, out_b, out_s = [], [], []
        block = 2048  # bounds the (block × s) gram slab on hot buckets
        for lo in range(0, s, block):
            hi = min(lo + block, s)
            dot = np.zeros((hi - lo, s))
            for i in range(dim):
                dot += mat[lo:hi, i][:, None] * mat[:, i][None, :]
            cos = dot / np.sqrt(norm_sq[lo:hi][:, None] * norm_sq[None, :])
            # pair condition on id VALUES, not positions: with ids
            # sorted this is the strict upper triangle, except that
            # duplicate ids (two rows sharing a key) must not emit a
            # self-pair — the pair-join form's id_a < id_b value
            # filter never could
            rows, cols = np.nonzero(
                (cos > threshold) & (ids[None, :] > ids[lo:hi, None])
            )
            out_a.extend(ids[rows + lo])
            out_b.extend(ids[cols])
            out_s.extend(cos[rows, cols])
        return pd.DataFrame(
            {
                "id_a": np.array(out_a, dtype=np.int64),
                "id_b": np.array(out_b, dtype=np.int64),
                "cos_sim": np.array(out_s, dtype=np.float64),
            }
        )

    pairs = banded.groupBy("__table", "__bucket").applyInPandas(
        verify_bucket, schema="id_a long, id_b long, cos_sim double"
    )
    # a pair that collides in several tables gets the bit-identical
    # cos_sim in each (same per-dimension fold), so any-row dedup is
    # deterministic
    return pairs.dropDuplicates(["id_a", "id_b"])


_INT_ID_TYPES = {"bigint", "int", "smallint", "tinyint"}


def _require_long_ids(df: DataFrame, col: str, fn: str) -> None:
    """The Arrow kernels materialize ids as int64 and declare a long
    output schema; a string/decimal id would fail deep inside numpy or
    Arrow conversion — raise at the API boundary with the remedy
    instead (the expression-form siblings are id-type generic)."""
    t = df.schema[col].dataType.simpleString()
    if t not in _INT_ID_TYPES:
        raise ValueError(
            f"{fn} requires an integral id column; {col!r} is {t} — "
            "use the expression-form operator for non-integer ids"
        )


def brute_force_topk_vectorized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """Vectorized exact top-k, bit-identical to :func:`brute_force_topk`:
    the query matrix (small by definition — it is the broadcast side)
    ships to every executor inside a pandas UDF closure; each Arrow
    batch of corpus vectors scores against every query at once, and
    only the per-batch top-k rows survive before the global rank.

    Scores accumulate per-DIMENSION in sequence (the fold order the
    cosine() expression uses) while vectorizing across the
    query×corpus grid — a plain BLAS matmul would drift in the float
    low bits and diverge from the expression form/oracle. Per-batch
    pre-reduction keeps the k best by the SAME (cos desc, id asc)
    order the final window ranks by, so boundary ties survive.
    """
    import numpy as np
    import pandas as pd

    _require_long_ids(queries, query_id, "brute_force_topk_vectorized")
    _require_long_ids(corpus, corpus_id, "brute_force_topk_vectorized")
    q_rows = queries.select(query_id, vec).collect()
    if not q_rows:  # empty query set: empty result, same schema as
        # the non-empty path (brute_force_topk degrades the same way)
        return local_rows_df(
            corpus.sparkSession,
            [],
            f"{query_id} long, {corpus_id} long, cos_sim double, rank int",
        )
    q_ids = np.array([r[query_id] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec] for r in q_rows], dtype=np.float64)
    nq, dim = q_mat.shape
    q_norm_sq = np.zeros(nq)
    for i in range(dim):
        q_norm_sq += q_mat[:, i] * q_mat[:, i]

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_mat = np.array(list(pdf[vec]), dtype=np.float64)
            dot = np.zeros((nq, c_mat.shape[0]))
            c_norm_sq = np.zeros(c_mat.shape[0])
            for i in range(dim):
                dot += q_mat[:, i][:, None] * c_mat[:, i][None, :]
                c_norm_sq += c_mat[:, i] * c_mat[:, i]
            sims = dot / np.sqrt(q_norm_sq[:, None] * c_norm_sq[None, :])
            n_keep = min(k, sims.shape[1])
            cids = pdf[corpus_id].to_numpy()
            out_q, out_c, out_s = [], [], []
            for qi in range(nq):
                order = np.lexsort((cids, -sims[qi]))[:n_keep]
                out_q.extend([q_ids[qi]] * n_keep)
                out_c.extend(cids[order])
                out_s.extend(sims[qi, order])
            yield pd.DataFrame({query_id: out_q, corpus_id: out_c, "cos_sim": out_s})

    partial = corpus.select(corpus_id, vec).mapInPandas(
        score_batches, schema=f"{query_id} long, {corpus_id} long, cos_sim double"
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantized_shortlist_vectorized(
    queries: DataFrame,
    corpus: DataFrame,
    shortlist: int,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    qvec: str = "q",
    qnorm: str = "qnorm",
) -> DataFrame:
    """Arrow twin of the int8-quantized shortlist stage, bit-identical
    to the expression form BY CONSTRUCTION: the dot products are
    int64 matmuls (exact — |q|<=127 over <=~2k dims cannot overflow),
    and the only float ops (sqrt of the norm product, one division)
    are single correctly-rounded IEEE operations identical to the JVM
    expression's. That exactness is what lets the float cosine
    vectorization's per-dimension-fold caveat disappear here — integer
    math has no accumulation-order drift, so a plain matmul is safe.

    Same harness as brute_force_topk_vectorized: query codes ship in
    the UDF closure (the deliberately-small broadcast side), each
    corpus batch scores against all queries at once, per-batch
    pre-reduction keeps the ``shortlist`` best by the same
    (qcos desc, id asc) order the global window ranks by."""
    import numpy as np
    import pandas as pd

    _require_long_ids(queries, query_id, "quantized_shortlist_vectorized")
    _require_long_ids(corpus, corpus_id, "quantized_shortlist_vectorized")
    q_rows = queries.select(query_id, qvec, qnorm).collect()
    if not q_rows:
        return local_rows_df(
            corpus.sparkSession, [], f"{query_id} long, {corpus_id} long"
        )
    q_ids = np.array([r[query_id] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[qvec] for r in q_rows], dtype=np.int64)
    q_n = np.array([r[qnorm] for r in q_rows], dtype=np.float64)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_mat = np.array(list(pdf[qvec]), dtype=np.int64)
            c_n = pdf[qnorm].to_numpy(dtype=np.float64)
            dots = (q_mat @ c_mat.T).astype(np.float64)  # exact ints
            qcos = dots / np.sqrt(q_n[:, None] * c_n[None, :])
            cids = pdf[corpus_id].to_numpy()
            n_keep = min(shortlist, qcos.shape[1])
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                order = np.lexsort((cids, -qcos[qi]))[:n_keep]
                out_q.extend([q_ids[qi]] * n_keep)
                out_c.extend(cids[order])
                out_s.extend(qcos[qi, order])
            yield pd.DataFrame(
                {query_id: out_q, corpus_id: out_c, "qcos": out_s}
            )

    partial = corpus.select(corpus_id, qvec, qnorm).mapInPandas(
        score_batches, schema=f"{query_id} long, {corpus_id} long, qcos double"
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("qcos").desc(), F.col(corpus_id)
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select(query_id, corpus_id)
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.35,
    order_col: str | None = None,
    order_desc: bool = False,
    vectorized_assign: bool | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): bucket the corpus by nearest coarse-quantizer
    centroid, then drop every row that has a LOWER-id neighbor in the
    SAME cell with cosine above ``threshold``. Returns one row per
    input row — ``(id_col, cell, dup_of, is_kept)`` where ``dup_of``
    is the smallest dominating id (NULL for survivors) — so the pruned
    corpus is ``WHERE is_kept`` and the audit trail rides along.

    The keep rule is the deterministic variant of the paper's
    "keep one example per semantic cluster": a row is dropped iff ANY
    earlier same-cell row sits above the threshold, independent of
    whether that earlier row itself survives. Unlike a transitive-
    closure representative this needs no iteration, is insensitive to
    partitioning/row order, and is plain EXISTS/GROUP BY semantics —
    which is what makes the whole operator SQL-replayable (the
    registered oracle mirrors the frozen centroids into DuckDB, same
    pattern as ``ivf_topk``).

    Scale shape: assignment is the map-only literal-centroid argmax
    (no join, no shuffle); candidate generation is an equi-join on the
    cell id, so the cross product never materializes and per-cell work
    is quadratic only WITHIN a cell. The knob that keeps cells small
    is quantizer granularity — SemDeDup runs k ~ 0.1% of corpus size
    (110k clusters for LAION-440M), so per-cell membership stays
    roughly constant as the corpus grows; at 100 TB you train more
    centroids on the offline sample, never a bigger join. The
    reference engine has no vector surface at all (SURVEY §2.10);
    this exists for BASELINE.json's dedup north star.

    ``order_col`` swaps the keep priority from "lowest id" to a
    quality rule: row *a* dominates *b* when *a*'s order value is
    strictly better (smaller, or larger with ``order_desc=True``), or
    equal with the smaller id — e.g. ``order_col="n_chars",
    order_desc=True`` keeps the LONGEST document of a semantic
    duplicate pair, the practical corpus-curation rule. ``dup_of``
    stays "smallest dominating id" in every mode so the audit column
    is one definition everywhere. Use an integer-typed order column:
    the cross-engine oracle story needs bit-stable comparisons, which
    integers give for free.

    ``vectorized_assign`` picks the assignment engine: the literal-
    argmax projection (False) or the Arrow kernel
    (:func:`assign_cells_vectorized`, bit-identical — test-pinned).
    The default (None) AUTO-SWITCHES to the kernel at
    ``ARROW_ASSIGN_MIN_K`` centroids (id-keep mode only — the kernel
    does not carry order_col): the expression form inlines one struct
    per centroid, fine at k=16, measured binding at k=160 (21.2 s vs
    1.8 s at 10x corpus, SCALE.md), impossible at production cell
    counts (k ~ 10^5), so the production regime takes the kernel
    WITHOUT the caller opting in."""
    # each vector's squared norm is computed ONCE here and carried
    # through the join: the pair filter then folds one dot product per
    # candidate instead of three (dot + both norms) — identical floats
    # (norm_sq reuse is the same left-fold value), ~3x less expression
    # work on the quadratic-in-cell part of the plan
    extra = [F.col(order_col).alias("__o")] if order_col else []
    if vectorized_assign is None:
        vectorized_assign = (
            order_col is None and len(centroids) >= ARROW_ASSIGN_MIN_K
        )
    if vectorized_assign:
        if order_col:
            # the kernel ships (id, vec) only; join the order column
            # back by id (small projected frame, id-keyed)
            raise ValueError(
                "vectorized_assign does not carry order_col yet — "
                "use the expression form for quality-rule dedup"
            )
        # materialize the kernel's output once: three plan subtrees
        # consume `assigned` (both join sides + the audit frame), and
        # re-running the Python assignment pass 3x is exactly the cost
        # the kernel exists to avoid. The expression form stays lazy —
        # its recompute is cheap JVM codegen, not an Arrow round-trip.
        assigned = assign_cells_vectorized(
            df, centroids, id_col=id_col, vec=vec
        ).withColumnRenamed(vec, "__v").localCheckpoint()
    else:
        assigned = (
            df.select(F.col(id_col), F.col(vec).alias("__v"), *extra)
            .withColumn("__n2", norm_sq(F.col("__v")))
            .withColumn(
                "cell",
                nearest_centroid(
                    F.col("__v"), centroids, norm2=F.col("__n2")
                ),
            )
        )
    return _dominance_audit(
        assigned,
        id_col=id_col,
        threshold=threshold,
        has_order=bool(order_col),
        order_desc=order_desc,
    )


def _dominance_audit(
    assigned: DataFrame,
    id_col: str,
    threshold: float,
    has_order: bool = False,
    order_desc: bool = False,
) -> DataFrame:
    """Shared dominance + audit-frame stage of semantic dedup (used by
    both the standalone operator and IVFVectorIndex.semantic_dedup —
    one definition, so the two "decision-identical" paths cannot
    drift). ``assigned`` must carry ``(id_col, __v, __n2, cell)`` and,
    when ``has_order``, ``__o``.

    NULL order values are defined as WORST quality: a NULL-order row
    never dominates a non-NULL one and is dominated by any non-NULL
    same-cell neighbor above the threshold; two NULL-order rows fall
    back to the id tie-break. Without an explicit rule the raw
    comparisons evaluate to SQL NULL in both orientations and a
    NULL-quality duplicate silently survives."""
    a = spread(assigned, id_col).select(
        F.col("cell").alias("__cell"),
        F.col(id_col).alias("__id_a"),
        F.col("__v").alias("__va"),
        F.col("__n2").alias("__na"),
        *([F.col("__o").alias("__oa")] if has_order else []),
    )
    b = assigned.select(
        F.col("cell").alias("__cell"),
        F.col(id_col).alias("__id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n2").alias("__nb"),
        *([F.col("__o").alias("__ob")] if has_order else []),
    )
    pair_cos = dot(F.col("__va"), F.col("__vb")) / F.sqrt(
        F.col("__na") * F.col("__nb")
    )
    id_lt = F.col("__id_a") < F.col("__id_b")
    if has_order:
        oa, ob = F.col("__oa"), F.col("__ob")
        strict = oa > ob if order_desc else oa < ob
        better = (oa.isNotNull() & ob.isNull()) | (
            oa.isNotNull() & ob.isNotNull() & strict
        )
        tied = (oa.isNull() & ob.isNull()) | (
            oa.isNotNull() & ob.isNotNull() & (oa == ob)
        )
        dominates = better | (tied & id_lt)
    else:
        dominates = id_lt
    dom = (
        a.join(b, "__cell")
        .filter(dominates)
        .filter(pair_cos > threshold)
        .groupBy("__id_b")
        .agg(F.min("__id_a").alias("dup_of"))
        .withColumnRenamed("__id_b", id_col)
    )
    return (
        assigned.select(id_col, "cell")
        .join(dom, id_col, "left")
        .withColumn("is_kept", F.col("dup_of").isNull())
    )


def assign_cells_vectorized(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Arrow twin of :func:`nearest_centroid`, bit-identical by the
    per-dimension-sequential accumulation rule every vectorized kernel
    here follows (brute_force_topk_vectorized): dots and the row norm
    accumulate dimension-at-a-time in fold order while vectorizing
    across the batch×centroid grid, centroid norms are the same
    sequential Python-float sums the expression form inlines, and the
    argmax takes the first maximum (= lowest cell id on ties, the
    struct-ordering rule). Returns ``(id_col, vec, __n2, cell)``.

    This is the high-k scale path: the expression form inlines one
    struct per centroid into the projection, which is fine at k=16
    and already binding at k=160 (measured: the k=160 retrained-
    quantizer run spends more on assignment than on 10x fewer pairs);
    production SemDeDup runs k ~ 10^5, where only a kernel that
    scores a batch against the whole centroid matrix at once is
    viable. Equivalence with the expression form is test-pinned."""
    import numpy as np
    import pandas as pd

    _require_long_ids(df, id_col, "assign_cells_vectorized")
    _refuse_zero_norm_centroids(centroids, "assign_cells_vectorized")
    # preserve the input element type: declaring array<float> for an
    # array<double> input would make Arrow silently downcast the
    # passthrough vectors while __n2 kept full precision — downstream
    # pair cosines would mix precisions and drift from the expression
    # form near the threshold
    elem = df.schema[vec].dataType.elementType.simpleString()
    if elem not in ("float", "double"):
        raise ValueError(
            f"assign_cells_vectorized requires float/double vector "
            f"elements; {vec!r} is array<{elem}>"
        )
    c_mat = np.array(centroids, dtype=np.float64)
    k, dim = c_mat.shape
    c_norm_sq = np.zeros(k)
    for i in range(dim):
        c_norm_sq += c_mat[:, i] * c_mat[:, i]

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v_mat = np.array(list(pdf[vec]), dtype=np.float64)
            dots = np.zeros((v_mat.shape[0], k))
            n2 = np.zeros(v_mat.shape[0])
            for i in range(dim):
                dots += v_mat[:, i][:, None] * c_mat[:, i][None, :]
                n2 += v_mat[:, i] * v_mat[:, i]
            cos = dots / np.sqrt(n2[:, None] * c_norm_sq[None, :])
            cells = np.argmax(cos, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec: pdf[vec],
                    "__n2": n2,
                    "cell": cells,
                }
            )

    return df.select(id_col, vec).mapInPandas(
        assign,
        schema=(
            f"{id_col} long, {vec} array<{elem}>, __n2 double, cell int"
        ),
    )
