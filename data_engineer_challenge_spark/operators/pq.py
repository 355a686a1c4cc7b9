"""Product quantization (PQ) — Jégou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011, public method):
split each vector into ``m`` subvectors, vector-quantize every
subspace with its own small codebook (``ksub`` codewords trained by
k-means), and represent a vector as ``m`` small codes. Asymmetric
distance computation (ADC) then scores a full-precision QUERY against
a CODED candidate as a sum of per-subspace lookup-table entries —
``m`` table lookups instead of a ``dim``-long dot product, and the
coded corpus is ~``dim·32 / (m·log2 ksub)``× smaller than float32
(64-dim float32 → 8 bytes per vector at m=8/ksub=16 codes here).

This module deliberately keeps every stage an EXPRESSION over
literal codebooks (the ``plans/ivf_centroids.py`` posture):

- encoding is a map-only per-subspace L2 argmin over ``ksub`` literal
  codewords — no join, no shuffle, no Python;
- ADC scoring computes each query's ``m × ksub`` lookup table ONCE on
  the query frame (``m`` literal-codeword dot products per entry) and
  the per-candidate score is ``m`` ``element_at`` lookups summed in
  fixed subspace order;
- both stages are plain float64 arithmetic with deterministic
  fold/tie order, so the full two-stage retrieval (ADC shortlist →
  exact rescore) mirrors into a DuckDB oracle exactly like the IVF
  and int8-SQ tiers (plans/similarity.py).

Codebook training (:func:`train_pq_codebooks`) is a deterministic
seeded Lloyd per subspace — xxhash64 init (no RNG state), L2 argmin
assignment, exact-decimal component means (accumulation-order-proof,
the logreg trainer's discipline), float32-rounded output — so the
frozen literals in ``plans/pq_codebooks.py`` are reproducible
bit-for-bit from the documented invocation (provenance-tested).

Reference scope: the reference engine has no vector surface at all
(SURVEY §2.10 — driven by BASELINE.json's "similarity search").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import _let, _lit_array, dot

#: default geometry for the 64-dim synthetic embeddings: 8 subspaces
#: × 8 dims, 16 codewords each → 4-bit codes, 8 bytes/vector
M_SUBSPACES = 8
KSUB = 16

_DEC = "decimal(30,15)"


def _py_norm2(c: list[float]) -> float:
    """Sequential float64 left fold of Σx² — the same fold the SQL
    mirror inlines as a literal, so both engines compare identical
    distance expressions (nearest_centroid's hygiene)."""
    s = 0.0
    for x in c:
        s += float(x) * float(x)
    return s


def subvector(vec: Column, s: int, sub_dim: int) -> Column:
    """Subspace ``s``'s components as float64 (1-based slice — the
    same convention DuckDB's list slicing uses in the oracle)."""
    return F.transform(
        F.slice(vec, s * sub_dim + 1, sub_dim),
        lambda x: x.cast("double"),
    )


def pq_argmin(sub_col: Column, codewords: list[list[float]]) -> Column:
    """Map-only L2 argmin over literal codewords: for fixed ``x``,
    ``argmin_k |x - c_k|²  =  argmin_k (|c_k|² - 2⟨x, c_k⟩)`` — the
    |x|² term is constant across k and folds away, so each codeword
    costs one dot product. Ties break to the lowest code via struct
    ordering (the SQL mirror orders ``d ASC, k ASC``). No zero-norm
    hazard: L2 needs no normalization (unlike the cosine argmax).
    The codewords score through one transform over a literal matrix
    (nearest_centroid's form: same doubles, a fixed handful of Py4J
    calls to build)."""
    return _argmin_over(
        sub_col,
        _lit_array(codewords),
        _lit_array([_py_norm2(cw) for cw in codewords]),
    )


def _argmin_over(x: Column, cb: Column, n2: Column) -> Column:
    """:func:`pq_argmin` over codeword rows ``cb`` (``array<array<
    double>>``) with their squared norms ``n2``, both columns."""

    def argmin(xv: Column) -> Column:
        scored = F.transform(
            cb,
            lambda cw, k: F.struct(
                (F.get(n2, k) - 2.0 * dot(xv, cw)).alias("d"),
                k.alias("k"),
            ),
        )
        return F.array_min(scored)["k"]

    return _let(x, argmin)


def residual_vec(
    vec: Column,
    centroids: list[list[float]],
    cell_col: str = "cid",
) -> Column:
    """``vec - centroids[cid]`` as float64 — the residual a coarse-
    quantized vector encodes under IVFADC (Jégou et al. TPAMI 2011
    §IV.B: coding the residual instead of the raw vector spends the
    same bits on a strictly smaller-variance signal, and the dropped
    centroid term is restored EXACTLY at scoring time as ``⟨q, c⟩``).
    Element-wise float64 subtract of a literal row picked by the cell
    id — identical doubles to the numpy form (test-pinned)."""
    cent = F.element_at(
        _lit_array(centroids), (F.col(cell_col) + 1).cast("int")
    )
    return F.zip_with(
        vec, cent, lambda a, b: a.cast("double") - b
    )


def encode_pq(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec: str = "embedding",
    residual_centroids: list[list[float]] | None = None,
    cell_col: str = "cid",
) -> DataFrame:
    """``(id, code0..code{m-1})`` — one map-only projection, the whole
    corpus encoded without a join or shuffle. With
    ``residual_centroids`` the encoded signal is the IVFADC residual
    (``vec - centroids[cell_col]``); the codebooks must then be
    residual-trained."""
    sub_dim = len(codebooks[0][0])
    v: Column = F.col(vec)
    if residual_centroids is not None:
        v = residual_vec(v, residual_centroids, cell_col)
    cols = [F.col(id_col)]
    for s, cb in enumerate(codebooks):
        cols.append(
            pq_argmin(subvector(v, s, sub_dim), cb).alias(f"code{s}")
        )
    return df.select(*cols)


def adc_luts(
    query_vec: Column, codebooks: list[list[list[float]]]
) -> list[Column]:
    """Per-subspace inner-product lookup tables for one query row:
    ``lut_s[k] = ⟨q_s, c_k⟩`` — computed ONCE per query (m·ksub literal
    dots), so scoring a candidate is m array lookups."""
    sub_dim = len(codebooks[0][0])
    out = []
    for s, cb in enumerate(codebooks):
        qs = subvector(query_vec, s, sub_dim)
        cws = _lit_array(cb)
        out.append(_let(qs, lambda q: F.transform(cws, lambda cw: dot(q, cw))))
    return out


def adc_score(m: int) -> Column:
    """Approximate inner product from a joined (codes × luts) frame:
    ``Σ_s lut{s}[code{s}]`` in FIXED subspace order (left-associated
    sum — the SQL mirror adds its scalar subqueries in the same
    order, so the doubles agree bit-for-bit)."""
    expr: Column | None = None
    for s in range(m):
        term = F.element_at(
            F.col(f"lut{s}"), (F.col(f"code{s}") + 1).cast("int")
        )
        expr = term if expr is None else expr + term
    assert expr is not None
    return expr


def np_adc_luts(
    qvec: list[float], codebooks: list[list[list[float]]]
):
    """Driver-side LUT for ONE query vector, bit-identical to the
    :func:`adc_luts` expression: each ``lut[s][k] = ⟨q_s, c_k⟩`` is the
    same 0.0-seeded sequential float64 fold ``F.aggregate`` evaluates
    (Python floats ARE IEEE doubles, and a fixed-order scalar loop is
    the same op sequence), so the vectorized ADC tier scores with
    literally the values the expression tier would."""
    import numpy as np

    m = len(codebooks)
    ksub = len(codebooks[0])
    sub_dim = len(codebooks[0][0])
    out = np.empty((m, ksub), dtype=np.float64)
    for s, cb in enumerate(codebooks):
        qs = qvec[s * sub_dim : (s + 1) * sub_dim]
        for kk, cw in enumerate(cb):
            acc = 0.0
            for i in range(sub_dim):
                acc = acc + float(qs[i]) * float(cw[i])
            out[s, kk] = acc
    return out


def encode_pq_vectorized(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec: str = "embedding",
    passthrough: tuple[str, ...] = (),
    residual_centroids: list[list[float]] | None = None,
    cell_col: str = "cid",
) -> DataFrame:
    """Arrow twin of :func:`encode_pq` (the
    ``assign_cells_vectorized`` pattern — VERDICT r9 #2): the
    expression form inlines ``m × ksub`` literal codewords into one
    projection, whose one-time whole-stage-codegen compile dominates
    interactive latency (measured flat in data size: +2% wall for 10×
    rows); this kernel scores each Arrow batch against the codeword
    matrices with numpy instead. Bit-identical by the
    per-dimension-sequential accumulation rule: dots fold
    dimension-at-a-time across the batch×ksub grid in the expression's
    order, the distance is the same ``|c_k|² - 2⟨x,c_k⟩`` with
    ``|c_k|²`` from the identical sequential Python fold, and argmin
    takes the FIRST minimum (= lowest code on ties, the struct-order
    rule). Equality with :func:`encode_pq` is test-pinned.

    ``passthrough`` names extra input columns carried through the
    kernel unchanged (their declared types copied from the input
    schema — the assign_cells_vectorized element-type discipline), so
    the index build's ``(id, vec, cid, code*)`` projection runs as
    ONE Arrow stage instead of stacking the literal argmin
    expressions on top of the assignment."""
    import numpy as np
    import pandas as pd

    sub_dim = len(codebooks[0][0])
    m = len(codebooks)
    cb_mats = [np.array(cb, dtype=np.float64) for cb in codebooks]
    cb_n2 = [
        np.array([_py_norm2(cw) for cw in cb], dtype=np.float64)
        for cb in codebooks
    ]
    # residual mode (IVFADC): subtract each row's coarse centroid
    # before encoding — float64 element-wise, the same doubles the
    # residual_vec expression produces (test-pinned)
    cents_mat = (
        None
        if residual_centroids is None
        else np.array(residual_centroids, dtype=np.float64)
    )

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf[vec]), dtype=np.float64)
            if cents_mat is not None:
                v = v - cents_mat[pdf[cell_col].to_numpy()]
            out = {id_col: pdf[id_col].to_numpy()}
            for c in passthrough:
                out[c] = pdf[c]
            for s in range(m):
                vs = v[:, s * sub_dim : (s + 1) * sub_dim]
                dots = np.zeros((vs.shape[0], cb_mats[s].shape[0]))
                for i in range(sub_dim):
                    dots += vs[:, i][:, None] * cb_mats[s][:, i][None, :]
                d = cb_n2[s][None, :] - 2.0 * dots
                out[f"code{s}"] = np.argmin(d, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    pt_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}"
        for c in passthrough
    )
    # the id column's declared type is copied from the input schema
    # like the passthrough columns (ADVICE r10: a hardcoded `long`
    # silently narrowed the contract relative to encode_pq, which
    # keeps whatever id type the caller projects)
    id_type = df.schema[id_col].dataType.simpleString()
    code_schema = ", ".join(f"code{s} int" for s in range(m))
    cols = [id_col, *passthrough]
    if vec not in cols:  # vec may itself be a passthrough column
        cols.append(vec)
    if cents_mat is not None and cell_col not in cols:
        cols.append(cell_col)  # kernel input only, not emitted
    return df.select(*cols).mapInPandas(
        encode, schema=f"{id_col} {id_type}{pt_schema}, {code_schema}"
    )


def adc_score_pairs_vectorized(
    pairs: DataFrame,
    luts: dict,
    m: int,
    q_col: str = "q_id",
    id_col: str = "c_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Arrow twin of the joined-``(codes × luts)`` :func:`adc_score`
    stage for PER-QUERY candidate sets (the ``probe_adc`` shape):
    ``pairs`` carries ``(q_col, id_col, code0..code{m-1})`` and
    ``luts`` maps query id → the :func:`np_adc_luts` (m × ksub)
    table. Per batch and per query present in it, the score is a
    left-associated float64 add chain of ``m`` numpy gathers — the
    expression's exact op order — so the doubles agree bit-for-bit
    (test-pinned). The LUT dict ships as an EXPLICIT Spark broadcast
    (ADVICE r10): the task closure carries only the broadcast handle,
    so per-task serialization stays O(1) no matter how many queries
    (``m·ksub`` doubles per query) the dict holds — the expression
    form's broadcast-LUT-columns posture, made literal. The
    ``q_col``/``id_col`` output types are copied from the input
    schema (ids pass through the kernel untouched), so non-long
    query/candidate ids keep working on this path."""
    import numpy as np
    import pandas as pd

    bc = pairs.sparkSession.sparkContext.broadcast(luts)

    def score(batches):
        tabs = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = [
                pdf[f"code{s}"].to_numpy() for s in range(m)
            ]
            qs = pdf[q_col].to_numpy()
            adc = np.empty(len(pdf), dtype=np.float64)
            for qid in pd.unique(qs):
                mask = qs == qid
                lut = tabs[qid]
                acc = lut[0][codes[0][mask]]
                for s in range(1, m):
                    acc = acc + lut[s][codes[s][mask]]
                adc[mask] = acc
            out = {
                q_col: qs,
                id_col: pdf[id_col].to_numpy(),
            }
            for c in passthrough:
                out[c] = pdf[c]
            out["__adc"] = adc
            yield pd.DataFrame(out)

    q_type = pairs.schema[q_col].dataType.simpleString()
    c_type = pairs.schema[id_col].dataType.simpleString()
    pt_schema = "".join(
        f", {c} {pairs.schema[c].dataType.simpleString()}"
        for c in passthrough
    )
    cols = [q_col, id_col, *passthrough, *[f"code{s}" for s in range(m)]]
    return pairs.select(*cols).mapInPandas(
        score,
        schema=f"{q_col} {q_type}, {id_col} {c_type}{pt_schema},"
        " __adc double",
    )


def adc_score_cross_vectorized(
    codes: DataFrame,
    luts: dict,
    m: int,
    id_col: str = "vec_id",
    q_col: str = "q_id",
    out_id: str = "c_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Arrow twin of the ``codes × broadcast(q_luts)`` corpus scan
    (the registered ``emb_pq_adc_knn`` shape): every query in
    ``luts`` scores EVERY candidate batch — the kernel replaces both
    the LUT-literal compile and the crossJoin, emitting
    ``(q_col, out_id, __adc)`` for the |queries| × |batch| grid with
    the same left-associated gather-sum as
    :func:`adc_score_pairs_vectorized` (bit-equality test-pinned).

    The LUT dict ships as an explicit Spark broadcast (ADVICE r10:
    with queries ∝ corpus — the registered query's ``vec_id % 100``
    sample — a closure-riding dict would serialize per task and grow
    linearly with corpus scale; the broadcast ships once per
    executor). Query ids emit as longs — they exist only as ``luts``
    keys (no input schema to copy from) and every caller keys by a
    long ``vec_id``; the candidate-id type IS copied from
    ``codes``' schema."""
    import numpy as np
    import pandas as pd

    qids = list(luts.keys())
    bc = codes.sparkSession.sparkContext.broadcast(luts)

    def score(batches):
        tabs = bc.value
        for pdf in batches:
            n = len(pdf)
            if not n or not qids:  # no rows / no queries: no pairs
                continue
            code_arrs = [pdf[f"code{s}"].to_numpy() for s in range(m)]
            ids = pdf[id_col].to_numpy()
            frames = []
            for qid in qids:
                lut = tabs[qid]
                acc = lut[0][code_arrs[0]]
                for s in range(1, m):
                    acc = acc + lut[s][code_arrs[s]]
                out = {
                    q_col: np.full(n, qid, dtype=np.int64),
                    out_id: ids,
                }
                for c in passthrough:
                    out[c] = pdf[c]
                out["__adc"] = acc
                frames.append(pd.DataFrame(out))
            yield pd.concat(frames, ignore_index=True)

    c_type = codes.schema[id_col].dataType.simpleString()
    pt_schema = "".join(
        f", {c} {codes.schema[c].dataType.simpleString()}"
        for c in passthrough
    )
    cols = [id_col, *passthrough, *[f"code{s}" for s in range(m)]]
    return codes.select(*cols).mapInPandas(
        score,
        schema=f"{q_col} long, {out_id} {c_type}{pt_schema}, __adc double",
    )


def _pq_cell_means(df: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """Component-wise mean per ``keys`` group (a cell) with EXACT-DECIMAL
    sums (the logreg trainer's accumulation-order-proof discipline — a
    plain float avg would drift low bits with partitioning and break the
    frozen-codebook provenance), rounded to float32 like the stored
    literals."""
    return (
        df.select(
            *keys,
            F.posexplode(F.col(vec)).alias("pos", "val"),
        )
        .groupBy(*keys, "pos")
        .agg(
            (
                F.sum(F.col("val").cast(_DEC)) / F.count(F.lit(1))
            ).cast("double").alias("mval")
        )
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mval"))
            ).alias("pairs")
        )
        .select(
            *keys,
            F.transform(
                F.col("pairs"), lambda p: p["mval"].cast("float")
            ).alias("centroid"),
        )
    )


def train_pq_codebooks(
    df: DataFrame,
    m: int = M_SUBSPACES,
    ksub: int = KSUB,
    iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic per-subspace Lloyd k-means: init picks the
    ``ksub`` rows with the smallest ``xxhash64(seed·1000+s, id)``
    (replay-stable, no RNG state), assignment is the L2
    :func:`pq_argmin` expression, means are exact-decimal, and the
    output rounds to float32 — so a retrain reproduces the frozen
    ``plans/pq_codebooks.py`` literals bit-for-bit (provenance test).
    At 100 TB the codebooks train on a sample offline, never the full
    corpus — this is the executable form of that posture."""
    dim = len(df.select(vec).first()[0])
    if dim % m:
        raise ValueError(f"train_pq_codebooks: dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    # all m subspaces train together, one Spark job per Lloyd step:
    # each row explodes into its m (subspace, subvector) rows, and the
    # init ranks and cell means group by subspace. Every group sees the
    # rows a per-subspace loop would, and the decimal sums are exact,
    # so the codebooks are the same bits at 1/m of the jobs.
    base = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("__s"),
                        subvector(F.col(vec), s, sub_dim).alias("__v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("__sv"),
    ).select("__id", "__sv.__s", "__sv.__v").cache()

    def per_subspace(col_of) -> Column:
        """``col_of(s)`` on the rows of subspace ``s``."""
        out = F.when(F.col("__s") == 0, col_of(0))
        for s in range(1, m):
            out = out.when(F.col("__s") == s, col_of(s))
        return out

    try:
        init = (
            base.withColumn(
                "__h",
                per_subspace(
                    lambda s: F.xxhash64(F.lit(seed * 1000 + s), "__id")
                ),
            )
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("__s").orderBy("__h", "__id")
                ),
            )
            .filter(F.col("__rn") <= ksub)
            .select("__s", "__rn", "__v")
            .collect()
        )
        cbs: list[list[list[float]]] = [[] for _ in range(m)]
        for r in sorted(init, key=lambda r: (r["__s"], r["__rn"])):
            cbs[r["__s"]].append([float(x) for x in r["__v"]])
        for _ in range(iters):
            # the subspace's codebook is picked per row from one
            # literal, so the argmin builds once per step, not m times
            assigned = base.withColumn(
                "__cell",
                _argmin_over(
                    F.col("__v"),
                    F.get(_lit_array(cbs), F.col("__s")),
                    F.get(
                        _lit_array([[_py_norm2(c) for c in cb] for cb in cbs]),
                        F.col("__s"),
                    ),
                ),
            )
            new = {
                (r["__s"], r["__cell"]): [float(x) for x in r["centroid"]]
                for r in _pq_cell_means(
                    assigned, ["__s", "__cell"], "__v"
                ).collect()
            }
            # empty cells keep their previous codeword
            cbs = [
                [new.get((s, k), c) for k, c in enumerate(cb)]
                for s, cb in enumerate(cbs)
            ]
    finally:
        base.unpersist()
    return cbs
