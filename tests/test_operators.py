from __future__ import annotations

from pyspark.sql import functions as F

from data_engineer_challenge_spark.operators.dedup import exact_dedup, keep_first_dedup
from data_engineer_challenge_spark.operators.ids import dense_ids
from data_engineer_challenge_spark.operators.joins import anti_join, semi_join


def test_keep_first_dedup_is_deterministic(spark):
    # same composite key, different payload — first by order col must win
    df = spark.createDataFrame(
        [("a", 1, "keep"), ("a", 2, "drop"), ("b", 3, "only"), ("a", 4, "drop2")],
        "k string, ord int, payload string",
    ).repartition(4)
    out = keep_first_dedup(df, ["k"], ["ord"]).orderBy("k").collect()
    assert [(r["k"], r["payload"]) for r in out] == [("a", "keep"), ("b", "only")]


def test_exact_dedup(spark):
    df = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "a int, b string")
    assert exact_dedup(df).count() == 2


def test_dense_and_extended_ids(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",)], "k string")
    out = {r["k"]: r["id"] for r in dense_ids(df, "id", ["k"]).collect()}
    assert out == {"a": 1, "b": 2, "c": 3}


def test_joins(spark):
    facts = spark.createDataFrame([(1, "d1"), (2, "d2"), (9, "dx")], "k int, v string")
    dim = spark.createDataFrame([(1, "p1"), (2, "p2"), (2, "p2bis")], "k int, p string")
    assert anti_join(facts, dim, "k").collect()[0]["k"] == 9
    assert {r["k"] for r in semi_join(facts, dim, "k").collect()} == {1, 2}


def test_heavy_hitters_exact_on_planted_skew(spark):
    """Two-pass Misra-Gries + verify equals the exact GROUP BY/HAVING
    on a corpus with planted heavies, long-tail noise, and many
    partitions (the regime where the candidate union must not lose a
    global heavy that is lukewarm in every single partition)."""
    from data_engineer_challenge_spark.operators.frequent import heavy_hitters

    # 2 heavies (1500 + 900 rows), 6000 tail keys with 1 row each; 32
    # partitions spread each heavy thin: 1500/32 ≈ 47 per partition,
    # against per-partition thresholds n_p/cap ≈ 263/16 ≈ 16
    rows = [(1,)] * 1500 + [(2,)] * 900 + [(10_000 + i,) for i in range(6000)]
    df = spark.createDataFrame(rows, "k long").repartition(32)
    got = {
        (r["k"], r["n_rows"]) for r in heavy_hitters(df, "k", capacity=16).collect()
    }
    n = len(rows)
    assert got == {(1, 1500), (2, 900)}
    # and the shares are the exact fractions
    shares = {
        r["k"]: r["share"] for r in heavy_hitters(df, "k", capacity=16).collect()
    }
    assert shares == {1: 1500 / n, 2: 900 / n}


def test_heavy_hitters_kernel_state_is_bounded(spark):
    """The pass-1 kernel emits ONE summary row per partition — the
    exact partition row count plus at most ``capacity`` candidate keys,
    no matter the distinct-key count it streamed."""
    import pandas as pd

    from data_engineer_challenge_spark.operators.frequent import _mg_partition

    batches = [
        pd.DataFrame({"k": list(range(i * 1000, (i + 1) * 1000))})
        for i in range(5)
    ]
    out = list(_mg_partition("k", capacity=8)(iter(batches)))
    assert len(out) == 1 and len(out[0]) == 1
    row = out[0].iloc[0]
    assert row["part_rows"] == 5000
    assert len(row["keys"]) <= 8


def test_heavy_hitters_empty_and_uniform(spark):
    from data_engineer_challenge_spark.operators.frequent import heavy_hitters

    empty = spark.createDataFrame([], "k long")
    assert heavy_hitters(empty, "k").count() == 0
    # perfectly uniform data above the threshold count: every key
    # qualifies — candidates must cover all of them
    df = spark.createDataFrame([(i % 4,) for i in range(400)], "k long")
    got = heavy_hitters(df, "k", capacity=8)  # threshold 400/8 = 50 < 100
    assert {(r["k"], r["n_rows"]) for r in got.collect()} == {
        (0, 100), (1, 100), (2, 100), (3, 100),
    }


def test_semantic_dedup_dominance_rule(spark):
    """Hand-built corpus: two orthogonal clusters; within cluster 0 a
    chain a~b, b~c with a!~c — the dominance rule drops BOTH b and c
    (each has a lower-id neighbor above threshold: b via a, c via b),
    and crucially the rule is independent of whether the dominator
    itself survived. Cross-cell twins never pair."""
    import math

    from data_engineer_challenge_spark.operators.similarity import (
        semantic_dedup,
    )

    # cell 0 points live near +x, cell 1 near +y
    s, c = math.sin(0.35), math.cos(0.35)
    rows = [
        (0, [1.0, 0.0]),          # a: survivor, cell 0
        (1, [c, s]),              # b: cos(a,b)=cos(0.35)≈0.94 > 0.9 -> dropped by a
        (2, [math.cos(0.7), math.sin(0.7)]),  # c: cos(b,c)≈0.94, cos(a,c)≈0.76 -> dropped by b
        (10, [0.0, 1.0]),         # d: survivor, cell 1
        (11, [0.0, 1.0]),         # e: identical to d -> dropped by d
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = {
        r["vec_id"]: (r["cell"], r["dup_of"], r["is_kept"])
        for r in semantic_dedup(df, cents, threshold=0.9).collect()
    }
    assert got[0] == (0, None, True)
    assert got[1] == (0, 0, False)
    assert got[2] == (0, 1, False)   # dominated by b even though b was dropped
    assert got[10] == (1, None, True)
    assert got[11] == (1, 10, False)
    # cross-cell: c (cell 0) vs d (cell 1) share no cell, never compared


def test_semantic_dedup_vectorized_assign_bit_identical(spark):
    """The Arrow assignment kernel must reproduce the expression
    form's full audit frame EXACTLY (per-dimension-sequential
    accumulation + first-max tie-break = struct ordering) — this is
    the high-k scale path, so divergence here would silently change
    which documents a production-scale quantizer drops."""
    from data_engineer_challenge_spark.operators.similarity import (
        semantic_dedup,
    )
    from data_engineer_challenge_spark.plans.ivf_centroids import CENTROIDS
    from data_engineer_challenge_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    expr = {tuple(r) for r in semantic_dedup(emb, CENTROIDS).collect()}
    vect = {
        tuple(r)
        for r in semantic_dedup(
            emb, CENTROIDS, vectorized_assign=True
        ).collect()
    }
    assert vect == expr and len(vect) == emb.count()


def test_kmeans_vectorized_assignment_trains_identical_centroids(spark):
    """Training with the Arrow assignment kernel must reproduce the
    expression-form centroids EXACTLY (same init, same per-iteration
    cell memberships, same means) — retrained quantizers must not
    depend on which assignment engine ran."""
    from data_engineer_challenge_spark.operators.similarity import (
        kmeans_centroids,
    )
    from data_engineer_challenge_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = kmeans_centroids(emb, k=6, iters=3, seed=7)
    b = kmeans_centroids(emb, k=6, iters=3, seed=7, vectorized=True)
    assert a == b


def test_semantic_dedup_guards_and_null_order(spark):
    """Review-pinned edges: (1) a zero-norm centroid is refused by
    BOTH assignment engines (their NaN behaviors diverge — numpy
    argmax would send every row to the dead cell, struct ordering
    never picks it); (2) with a quality rule, NULL order is WORST —
    a NULL-quality duplicate is dominated by its non-NULL twin, two
    NULL-quality twins fall back to the id tie-break (without the
    explicit rule both dominance orientations evaluate to SQL NULL
    and the duplicate silently survives); (3) the Arrow kernel
    refuses non-float vector elements instead of silently casting."""
    import pytest

    from data_engineer_challenge_spark.operators.similarity import (
        assign_cells_vectorized,
        semantic_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 10),
            (2, [1.0, 0.0], None),   # NULL quality: dominated by 1
            (3, [0.0, 1.0], None),   # NULL pair in cell 1 ...
            (4, [0.0, 1.0], None),   # ... falls back to id order
        ],
        "vec_id long, embedding array<float>, q int",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = {
        r["vec_id"]: (r["dup_of"], r["is_kept"])
        for r in semantic_dedup(
            df, cents, threshold=0.9, order_col="q", order_desc=True
        ).collect()
    }
    assert got[1] == (None, True)
    assert got[2] == (1, False)    # non-NULL quality beats NULL
    assert got[3] == (None, True)  # NULL-NULL tie: lower id wins
    assert got[4] == (3, False)

    with pytest.raises(ValueError, match="zero norm"):
        semantic_dedup(df, [[0.0, 0.0], [0.0, 1.0]], threshold=0.9)
    with pytest.raises(ValueError, match="zero norm"):
        assign_cells_vectorized(df, [[0.0, 0.0], [0.0, 1.0]])
    ints = spark.createDataFrame(
        [(1, [1, 0])], "vec_id long, embedding array<int>"
    )
    with pytest.raises(ValueError, match="float/double"):
        assign_cells_vectorized(ints, cents)


def test_assign_cells_vectorized_preserves_double_vectors(spark):
    """array<double> input must come back as array<double> — a silent
    float32 downcast of the passthrough vectors would mix precisions
    with the full-precision __n2 in downstream pair cosines."""
    from data_engineer_challenge_spark.operators.similarity import (
        assign_cells_vectorized,
    )

    df = spark.createDataFrame(
        [(1, [0.1234567890123, 0.9])], "vec_id long, embedding array<double>"
    )
    out = assign_cells_vectorized(df, [[1.0, 0.0], [0.0, 1.0]])
    assert out.schema["embedding"].dataType.simpleString() == "array<double>"
    row = out.collect()[0]
    assert row["embedding"][0] == 0.1234567890123  # no precision loss
    assert row["cell"] == 1


def test_semantic_dedup_fuzz_agrees_with_python_reference(spark):
    """Seeded fuzz (the test_fuzz_extraction pattern): on random small
    corpora the full audit frame must equal an INDEPENDENT pure-Python
    replay of the declared semantics — float32-widened row vectors,
    float64 sequential-fold cosines, argmax ties to the lowest cell,
    lower-id dominance. Exercises the expression form and the Arrow
    kernel against the same reference."""
    import math
    import random

    import numpy as np

    from data_engineer_challenge_spark.operators.similarity import (
        semantic_dedup,
    )

    def f32(x):
        return float(np.float32(x))

    def dot_rr(a, b):  # both row vectors: float32-widened elements
        s = 0.0
        for x, y in zip(a, b):
            s += f32(x) * f32(y)
        return s

    def dot_rc(v, c):  # row x centroid: centroid literals stay double
        s = 0.0
        for x, y in zip(v, c):
            s += f32(x) * float(y)
        return s

    def dot_cc(c):
        s = 0.0
        for x in c:
            s += float(x) * float(x)
        return s

    def reference(rows, cents, threshold):
        assigned = {}
        for rid, v in rows:
            n2v = dot_rr(v, v)
            best, cell = None, None
            for i, c in enumerate(cents):
                cos = dot_rc(v, c) / math.sqrt(n2v * dot_cc(c))
                if best is None or cos > best:
                    best, cell = cos, i
            assigned[rid] = (cell, v)
        out = {}
        for rid, (cell, v) in assigned.items():
            doms = [
                oid
                for oid, (ocell, ov) in assigned.items()
                if ocell == cell
                and oid < rid
                and dot_rr(ov, v)
                / math.sqrt(dot_rr(ov, ov) * dot_rr(v, v))
                > threshold
            ]
            out[rid] = (cell, min(doms) if doms else None, not doms)
        return out

    rng = random.Random(20260814)
    for case in range(6):
        dim = rng.choice([2, 3])
        n = rng.randint(4, 10)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
        ]
        cents = [
            [rng.uniform(-1, 1) or 0.5 for _ in range(dim)]
            for _ in range(rng.randint(2, 3))
        ]
        threshold = rng.choice([0.3, 0.5, 0.7])
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        want = reference(rows, cents, threshold)
        for vect in (False, True):
            got = {
                r["vec_id"]: (r["cell"], r["dup_of"], r["is_kept"])
                for r in semantic_dedup(
                    df, cents, threshold=threshold, vectorized_assign=vect
                ).collect()
            }
            assert got == want, (case, vect, threshold)


def test_pagerank_matches_numpy_power_iteration(spark):
    """Fixed-point integer PageRank vs an independent float power
    iteration with the same conventions (init 1.0/node, base 0.15,
    damping 0.85, dangling mass leaks). The integer floors lose
    < 1/PR_SCALE per edge per round, so agreement is ~1e-7."""
    import numpy as np

    from data_engineer_challenge_spark.operators.graph import PR_SCALE, pagerank

    rng = np.random.default_rng(42)
    n = 30
    edges = {(int(a), int(b)) for a, b in rng.integers(0, n, (120, 2)) if a != b}
    edges.add((n - 1, 0))  # ensure node n-1 exists; 0 gets extra in-mass
    df = spark.createDataFrame(sorted(edges), "src int, dst int")

    iters = 6
    got = {
        r["node"]: r["rank_fp"] / PR_SCALE
        for r in pagerank(df, iterations=iters).collect()
    }

    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    outdeg = np.zeros(len(nodes))
    for a, _ in edges:
        outdeg[idx[a]] += 1
    r = np.ones(len(nodes))
    for _ in range(iters):
        nxt = np.full(len(nodes), 0.15)
        for a, b in edges:
            nxt[idx[b]] += 0.85 * r[idx[a]] / outdeg[idx[a]]
        r = nxt

    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-6, v
    # a node with no in-edges sits at exactly the base mass
    sinks = [v for v in nodes if all(b != v for _, b in edges)]
    for v in sinks:
        assert got[v] == 0.15


def test_count_triangles_known_graphs(spark):
    from data_engineer_challenge_spark.operators.graph import count_triangles

    # K4 (4 triangles) + an isolated edge + a duplicate/reversed edge
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 6), (2, 1)]
    row = count_triangles(
        spark.createDataFrame(edges, "src int, dst int")
    ).first()
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (6, 7, 4)

    # star graph: hub with many leaves — zero triangles, and degree
    # orientation points every edge AWAY from leaves (hub fan-out 0)
    star = [(0, i) for i in range(1, 40)]
    row = count_triangles(
        spark.createDataFrame(star, "src int, dst int")
    ).first()
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (40, 39, 0)


def test_profile_table_handles_non_identifier_column_names(spark):
    """ANALYZE must profile any legal Spark column name — spaces,
    dashes, dots, quotes — since names never enter SQL text."""
    from data_engineer_challenge_spark.operators.quality import profile_table

    df = spark.createDataFrame(
        [(1, 2.5, "x"), (2, None, "y'z"), (2, 3.5, None)],
        ["order date", "price-usd", "a.b's"],
    )
    rows = {r["column_name"]: r for r in profile_table(df).collect()}
    assert set(rows) == {"order date", "price-usd", "a.b's"}
    assert rows["order date"]["n_distinct"] == 2
    assert rows["price-usd"]["n_nulls"] == 1
    assert rows["a.b's"]["min_value"] == "x"
    assert all(r["n_rows"] == 3 for r in rows.values())


def test_inverted_text_index_incremental_append(spark, tmp_path):
    """build(corpus) and build(half)+append(half) answer every probe
    identically — the incremental path cannot drift from the one-shot
    build; replayed appends leave TF/DF-derived scores unchanged (the
    probe folds duplicate postings); reopening with a different bucket
    count is refused."""
    import pytest as _pytest

    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )

    rows = [
        (0, "spark streams window functions over vector data"),
        (1, "a window into spark internals and the catalyst optimizer"),
        (2, "vector search with cosine similarity"),
        (3, "nothing relevant here at all"),
        (4, "spark spark spark window"),
        (5, ""),  # empty doc still counts toward n_docs/avgdl
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    whole = InvertedTextIndex(spark, str(tmp_path / "w"))
    whole.build(docs)
    want = [tuple(r) for r in whole.probe(
        ("spark", "window", "vector"), topk=10
    ).collect()]
    assert [r[0] for r in want]  # non-empty ranking

    inc = InvertedTextIndex(spark, str(tmp_path / "i"))
    inc.build(docs.where("doc_id < 3"))
    inc.append(docs.where("doc_id >= 3"))
    got = [tuple(r) for r in inc.probe(
        ("spark", "window", "vector"), topk=10
    ).collect()]
    assert got == want

    # replayed append WITHOUT a txn id: postings fold via max, DF from
    # the folded frame — but anonymous appends each get a unique stats
    # key, so the corpus stats double-count BY DESIGN (pass txn= for
    # exactly-once; see test_inverted_text_index_txn_append below).
    # Replay a batch and verify the ranking ORDER/tf-df inputs are
    # stable by re-deriving with stats compacted back (fold keeps
    # sums, so equality means postings really did fold).
    inc.append(docs.where("doc_id >= 3"))  # simulate a crashed retry
    assert inc.maybe_compact(max_files_per_bucket=0) >= 1
    # stats now double-count the replayed batch (documented); undo by
    # rebuilding ONLY the stats table to prove postings folded exactly
    import shutil

    shutil.rmtree(str(tmp_path / "i" / "stats"))
    fresh = InvertedTextIndex(spark, str(tmp_path / "w"))
    spark.read.parquet(str(tmp_path / "w" / "stats")).write.parquet(
        str(tmp_path / "i" / "stats")
    )
    got2 = [tuple(r) for r in inc.probe(
        ("spark", "window", "vector"), topk=10
    ).collect()]
    assert got2 == want

    with _pytest.raises(ValueError, match="bucket"):
        InvertedTextIndex(spark, str(tmp_path / "w"), t_buckets=8)
    del fresh


def test_inverted_text_index_compaction_bounds_files(spark, tmp_path):
    """Ten one-doc appends → fat buckets; maybe_compact rewrites them
    to one sorted file each and folds stats to one FILE (one row per
    txn — replay detection survives compaction); probe answers
    identical before/after."""
    import os

    from data_engineer_challenge_spark.operators.compaction import (
        _data_files,
    )
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )

    idx = InvertedTextIndex(spark, str(tmp_path / "c"), t_buckets=4)
    for t in range(10):
        idx.append(spark.createDataFrame(
            [(t, f"common words plus unique{t} token spark")],
            "doc_id long, text string",
        ))
    want = [tuple(r) for r in idx.probe(("spark", "common")).collect()]
    postings = tmp_path / "c" / "postings"
    pre = {
        d: len(_data_files(str(postings / d)))
        for d in os.listdir(postings) if d.startswith("t_bucket=")
    }
    assert max(pre.values()) > 8
    assert idx.maybe_compact(max_files_per_bucket=8) >= 1
    post = {
        d: len(_data_files(str(postings / d)))
        for d in os.listdir(postings) if d.startswith("t_bucket=")
    }
    for d, v in post.items():
        if pre[d] > 8:
            assert v == 1, (d, v)
    assert len(_data_files(str(tmp_path / "c" / "stats"))) == 1
    got = [tuple(r) for r in idx.probe(("spark", "common")).collect()]
    assert got == want


def test_inverted_text_index_txn_append_exactly_once(spark, tmp_path):
    """The txn guard makes appends exactly-once across the whole crash
    matrix: a committed txn no-ops (returns False, scores and corpus
    stats unchanged), and even the crash window the guard can't see —
    postings landed, retry re-runs the full write under the SAME txn —
    converges because the probe folds postings by max and stats by
    per-txn max before summing. Compaction keeps one stats row per
    txn, so replay detection survives it."""
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )

    rows = [
        (0, "spark streams window functions over vector data"),
        (1, "a window into spark internals"),
        (2, "vector search with cosine similarity"),
        (3, "spark spark window"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = InvertedTextIndex(spark, str(tmp_path / "t"))
    idx.build(docs.where("doc_id < 2"))
    assert idx.append(docs.where("doc_id >= 2"), txn="tick-1") is True
    want = [tuple(r) for r in idx.probe(
        ("spark", "window", "vector"), topk=10
    ).collect()]

    # committed txn -> silent no-op
    assert idx.append(docs.where("doc_id >= 2"), txn="tick-1") is False
    got = [tuple(r) for r in idx.probe(
        ("spark", "window", "vector"), topk=10
    ).collect()]
    assert got == want

    # crash window: first attempt died between the postings write and
    # the stats write, so the guard sees the txn as uncommitted and
    # the retry re-runs the FULL write under the same txn — duplicate
    # postings fold (max), duplicate stats rows fold (per-txn max)
    idx._write(docs.where("doc_id >= 2"), "doc_id", "text",
               "append", txn="tick-1")
    stats = spark.read.parquet(str(tmp_path / "t" / "stats"))
    assert stats.where("txn = 'tick-1'").count() == 2  # raw rows...
    got = [tuple(r) for r in idx.probe(
        ("spark", "window", "vector"), topk=10
    ).collect()]
    assert got == want  # ...but scores (N, avgdl, tf, df) unchanged

    # compaction dedups the replayed stats row and keeps per-txn rows
    assert idx.maybe_compact(max_files_per_bucket=0) >= 1
    stats = spark.read.parquet(str(tmp_path / "t" / "stats"))
    assert stats.where("txn = 'tick-1'").count() == 1
    assert stats.count() == 2  # build + tick-1
    got = [tuple(r) for r in idx.probe(
        ("spark", "window", "vector"), topk=10
    ).collect()]
    assert got == want


def test_assignment_auto_switches_to_arrow_kernel(spark, monkeypatch):
    """Past ARROW_ASSIGN_MIN_K centroids the default paths (semantic
    dedup, ivf_topk, IVFVectorIndex build) take the Arrow kernel with
    NO caller opt-in, and land on exactly the rows the expression
    argmax produces — the threshold changes how assignment executes,
    never what comes back."""
    import tempfile

    from data_engineer_challenge_spark.operators import similarity as sim
    from data_engineer_challenge_spark.operators.ann_index import (
        IVFVectorIndex,
    )
    from data_engineer_challenge_spark.plans.ivf_centroids import CENTROIDS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id % 100 = 0").selectExpr(
        "vec_id as q_id", "embedding"
    )

    def run_all():
        sd = sorted(map(tuple, sim.semantic_dedup(
            emb, CENTROIDS, threshold=0.35
        ).collect()))
        ivf = sorted(map(tuple, sim.ivf_topk(
            queries, emb.selectExpr("vec_id as c_id", "embedding"),
            n_probe=4, k=5, centroids=CENTROIDS,
        ).collect()))
        idx = IVFVectorIndex(
            spark, tempfile.mkdtemp() + "/ivfauto", CENTROIDS
        )
        idx.build(emb)
        probed = sorted(map(tuple, idx.probe(
            queries, k=5, n_probe=4
        ).collect()))
        return sd, ivf, probed

    # expression form (threshold far above the frozen k=16 quantizer)
    monkeypatch.setattr(sim, "ARROW_ASSIGN_MIN_K", 10_000)
    want = run_all()
    # kernel form (threshold below k=16 → every default path switches)
    monkeypatch.setattr(sim, "ARROW_ASSIGN_MIN_K", 1)
    got = run_all()
    assert got == want


def test_positional_index_phrase_occurrences(spark, tmp_path):
    """positions=True postings answer phrase queries index-resident:
    3-term phrases, repeated-token phrases, replayed appends (max
    fold on bit-identical arrays), compaction of the positional
    store, and the tf-only guard."""
    import pytest

    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the quick brown cat"),
            (2, "quick brown things move fast, brown quick things do not"),
            (3, "the the the repeated tokens stack here the the"),
            (4, "nothing relevant whatsoever"),
        ],
        "doc_id long, text string",
    )
    idx = InvertedTextIndex(
        spark, str(tmp_path / "pidx"), t_buckets=8, positions=True
    )
    idx.build(docs)

    got = {
        (r["doc_id"], r["n_occurrences"])
        for r in idx.phrase_occurrences(
            ("quick", "brown", "fox")
        ).collect()
    }
    assert got == {(1, 1)}
    got2 = {
        (r["doc_id"], r["n_occurrences"])
        for r in idx.phrase_occurrences(("quick", "brown")).collect()
    }
    assert got2 == {(1, 2), (2, 1)}
    # repeated-token phrase: "the the" occurs at positions (0,1),(1,2)
    # in the leading run of doc 3 plus (7,8) in the trailing pair
    got3 = {
        (r["doc_id"], r["n_occurrences"])
        for r in idx.phrase_occurrences(("the", "the")).collect()
    }
    assert got3 == {(3, 3)}

    # replayed append: answers unchanged (max fold), then compaction
    # physically dedups and answers are still identical
    idx.append(docs.where("doc_id = 2"), txn=None)
    assert {
        (r["doc_id"], r["n_occurrences"])
        for r in idx.phrase_occurrences(("quick", "brown")).collect()
    } == got2
    assert idx.maybe_compact(max_files_per_bucket=0) >= 1
    assert {
        (r["doc_id"], r["n_occurrences"])
        for r in idx.phrase_occurrences(("quick", "brown")).collect()
    } == got2

    # the BM25 probe still works over a positional store (positions
    # are additive — scoring ignores them)
    hits = idx.probe(("fox",), topk=5).collect()
    assert [r["doc_id"] for r in hits] == [1]

    # tf-only stores refuse phrase probes loudly
    flat = InvertedTextIndex(spark, str(tmp_path / "flat"), t_buckets=8)
    flat.build(docs)
    with pytest.raises(ValueError, match="positions=True"):
        flat.phrase_occurrences(("quick", "brown"))
    # and the layout flag is part of the reopen fingerprint
    with pytest.raises(ValueError, match="meta|positions|stored"):
        InvertedTextIndex(
            spark, str(tmp_path / "flat"), t_buckets=8, positions=True
        )


def test_spark_hash_string_matches_f_hash(spark):
    """The pure-Python Murmur3 replica behind text probe_local's
    bucket computation must be BIT-IDENTICAL to Spark's F.hash on
    strings (and its pmod to F.pmod) — ASCII, multibyte UTF-8, empty,
    tail lengths 0-3, long strings."""
    from data_engineer_challenge_spark.operators.text_index import (
        _spark_hash_string,
    )

    words = [
        "data", "the", "a", "ab", "abc", "abcd", "abcde", "abcdef",
        "église", "naïve", "学习", "", "0", "zz9", "retrieval",
        "x" * 37, "y" * 128, "mixed123tokens", "ünïcödë",
    ]
    rows = (
        spark.createDataFrame([(w,) for w in words], "t string")
        .select(
            "t",
            F.hash("t").alias("h"),
            F.pmod(F.hash("t"), F.lit(64)).alias("b"),
        )
        .collect()
    )
    for r in rows:
        assert _spark_hash_string(r["t"]) == r["h"], r["t"]
        assert _spark_hash_string(r["t"]) % 64 == r["b"], r["t"]


def test_round6_matches_spark_round(spark):
    """_round6 must replicate F.round(col, 6) bit-exactly: Spark
    rounds HALF_UP over the SHORTEST decimal repr (BigDecimal.valueOf
    semantics), so 0.1234565 → 0.123457 even though its binary
    expansion sits below the half."""
    import random

    from data_engineer_challenge_spark.operators.text_index import (
        _round6,
    )

    random.seed(13)
    vals = [random.uniform(-30.0, 30.0) for _ in range(2000)] + [
        1.0000005, 2.5e-7, -1.0000005, 0.1234565, 0.1234575,
        3.0000004999999997, 0.0, -0.0, 1e300, -1e-300,
    ]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .select("x", F.round("x", 6).alias("r"))
        .collect()
    )
    for r in rows:
        assert _round6(r["x"]) == r["r"], r["x"]


def test_text_probe_local_bit_identical_to_probe(spark, tmp_path):
    """r13 (VERDICT r12 #4): the text-side point-serving path.
    probe_local must return EXACTLY probe()'s rows — same max folds,
    same fixed-term-order BM25 left fold, same 6-dp rounding, same
    (score desc, doc_id) ties — across appends (resident cache
    invalidates via the store-state fingerprint) and compaction, and
    for single-term / multi-term / absent-term / non-default (k1, b)
    configs."""
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )
    from data_engineer_challenge_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "tix")
    idx = InvertedTextIndex(spark, path, t_buckets=16)
    idx.build(docs.where("doc_id % 2 = 0").select("doc_id", "text"))

    local = InvertedTextIndex.open_local(path)
    queries = [
        ("spark", "window", "vector"),
        ("the",),
        ("data", "quality"),
        ("zzzznotaterm",),
        ("data", "zzzznotaterm"),
    ]

    def check(q, **kw):
        want = [
            (r["doc_id"], r["score"], r["rank"])
            for r in idx.probe(q, **kw)
            .orderBy("rank")
            .collect()
        ]
        got = local.probe_local(q, **kw)
        assert got == want, (q, kw, got[:3], want[:3])

    for q in queries:
        check(q)
    check(queries[0], k1=0.9, b=0.4, topk=7)

    # mutate the store: the resident cache must drop (fingerprint)
    idx.append(
        docs.where("doc_id % 2 = 1").select("doc_id", "text"),
        txn="tick-odd",
    )
    for q in queries[:3]:
        check(q)
    # compaction rewrites buckets; answers still identical
    assert idx.maybe_compact(max_files_per_bucket=0) >= 1
    for q in queries[:3]:
        check(q)


def test_probe_local_retry_on_mid_call_mutation():
    """r14 (ADVICE r13): the probe_local TOCTOU guard. A store whose
    fingerprint moves mid-call (cross-process compaction/rebucket
    commit), or whose part-files vanish under the reader
    (FileNotFoundError from the park-and-swap), must drop the
    resident cache and replay the probe exactly once from fresh
    state — and propagate a second consecutive failure."""
    import pytest

    from data_engineer_challenge_spark.operators.compaction import (
        probe_local_retry,
    )

    class Store:
        def __init__(self):
            self.fp = 0
            self.calls = 0
            self._cache_state = None

        def _local_store_state(self):
            return self.fp

        @probe_local_retry("_cache_state")
        def probe(self, mutate_after=0, raise_first=0):
            self.calls += 1
            entered_cold = self._cache_state is None
            # the real probe_local contract: the body caches the
            # fingerprint it serves from in state_attr — the
            # wrapper's single post-walk compares against it
            self._cache_state = self._local_store_state()
            if self.calls <= raise_first:
                raise FileNotFoundError("part-file swapped away")
            if self.calls <= mutate_after:
                self.fp += 1  # store mutated while we were reading
            return ("answer", self.calls, entered_cold)

    # quiet store: one call, no replay
    s = Store()
    assert s.probe() == ("answer", 1, True)
    assert s.probe() == ("answer", 2, False)  # warm, still no replay

    # fingerprint moves during the first read: replay once with the
    # resident cache dropped (state_attr reset to None pre-replay)
    s = Store()
    out = s.probe(mutate_after=1)
    assert out == ("answer", 2, True)
    assert s.calls == 2

    # vanished file on the first read: same single replay
    s = Store()
    assert s.probe(raise_first=1) == ("answer", 2, True)

    # a store that churns through BOTH attempts propagates the error
    s = Store()
    with pytest.raises(FileNotFoundError):
        s.probe(raise_first=2)


def test_opq_rotation_train_and_rotate(spark):
    """r14 (VERDICT r13 #5): the OPQ pre-rotation. Pins: (a) the
    hash-ordered sample and the whole trainer are deterministic
    (replay-equal); (b) R is orthogonal to float64 tolerance, so
    distances/cosines are preserved and recall numbers stay
    comparable; (c) on an ANISOTROPIC corpus (power-law spectrum —
    the real-encoder shape) OPQ's reconstruction error beats the
    same trainer's unrotated codebooks; (d) the Arrow rotate kernel
    is bit-identical to the numpy it wraps and passes other columns
    through."""
    import numpy as np

    from data_engineer_challenge_spark.operators.opq import (
        quantization_error,
        rotate_vectorized,
        sample_vectors,
        train_opq,
        _train_codebooks_np,
    )
    from data_engineer_challenge_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # anisotropic variant: deterministic per-dim power-law scaling
    scale = [float((i + 1) ** -0.7 * 4) for i in range(64)]
    aniso = emb.select(
        "vec_id",
        F.zip_with(
            "embedding",
            F.lit(scale).cast("array<float>"),
            lambda v, s: v * s,
        ).alias("embedding"),
    )

    # (a) deterministic sample + train
    X1 = sample_vectors(aniso, n=500)
    X2 = sample_vectors(aniso, n=500)
    assert (X1 == X2).all()
    R1, cb1 = train_opq(X1, iters=4, inner_iters=3)
    R2, cb2 = train_opq(X2, iters=4, inner_iters=3)
    assert R1 == R2 and cb1 == cb2

    # (b) orthogonality
    R = np.asarray(R1)
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-9

    # (c) error improvement over unrotated codebooks, same trainer
    raw_cbs = _train_codebooks_np(X1, 8, 16, 3)
    e_raw = quantization_error(X1, raw_cbs)
    e_opq = quantization_error(X1 @ R, cb1)
    assert e_opq < e_raw, (e_opq, e_raw)

    # (d) kernel == numpy, passthrough intact
    out = rotate_vectorized(aniso, R1).orderBy("vec_id").collect()
    src = aniso.orderBy("vec_id").collect()
    assert [r["vec_id"] for r in out] == [r["vec_id"] for r in src]
    Xs = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in src]
    )
    want = (Xs @ R).astype(np.float32)
    got = np.stack(
        [np.asarray(r["embedding"], dtype=np.float32) for r in out]
    )
    assert (got == want).all()


def test_local_rows_df_semantics_and_jvm_local_relation(spark):
    """r14 localrel contract: positional schema mapping, None -> NULL,
    arrays pass through, empty row lists are legal — and the plan is a
    JVM LocalTableScan, NOT a pickled Python RDD scan (the 5 s-per-
    write boundary cost the helper exists to remove)."""
    from data_engineer_challenge_spark.localrel import local_rows_df

    df = local_rows_df(
        spark,
        [("a", 1, None), ("b", None, 2.5)],
        "k string, n long, v double",
    )
    rows = {(r["k"], r["n"], r["v"]) for r in df.collect()}
    assert rows == {("a", 1, None), ("b", None, 2.5)}
    assert [f.simpleString() for f in df.schema.fields] == [
        "k:string", "n:bigint", "v:double",
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    arr = local_rows_df(spark, [(1, [1, 2])], "id long, hs array<bigint>")
    assert arr.collect()[0]["hs"] == [1, 2]

    empty = local_rows_df(spark, [], "x long, y string")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["x", "y"]

    # r15 (ADVICE r14): float NaN is a VALUE, not a null — the r14
    # pandas route silently coerced NaN to NULL, which would drop a
    # NaN weight/score out of join arithmetic that createDataFrame's
    # row path propagated
    import math

    nan_df = local_rows_df(
        spark,
        [(1, float("nan")), (2, None), (3, 0.5)],
        "id long, w double",
    )
    got = {r["id"]: r["w"] for r in nan_df.collect()}
    assert math.isnan(got[1])
    assert got[2] is None
    assert got[3] == 0.5


def test_spread_skips_shuffle_when_already_parallel(spark, tmp_path):
    """r14/r15 parallelism contract: spread() repartitions a below-
    parallelism input (the local small-file fix) but passes an
    already-parallel SCAN through IDENTICALLY — no Exchange, so at
    scale the kernels never pay a payload shuffle for it. r15 (ADVICE
    r14): the probe is JOB-FREE — it estimates scan parallelism from
    the plan shape + file sizes instead of df.rdd (which finalizes the
    AQE plan and EXECUTES upstream stages); non-scan frames fall back
    to the always-correct unconditional repartition."""
    from data_engineer_challenge_spark.parallelism import (
        _scan_parallelism,
        spread,
    )

    par = spark.sparkContext.defaultParallelism

    # a multi-file scan whose estimated split count >= parallelism
    # (openCost-dominated packing: N small files ≈ N x 4 MB, so the
    # estimate lands at ~par when N >= par) passes through untouched
    wide_path = str(tmp_path / "wide")
    spark.range(1000).repartition(2 * par).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path).select("id").where("id >= 0")
    assert (_scan_parallelism(wide) or 0) >= par
    out_w = spread(wide, "id")
    assert out_w is wide  # identity: not even a new plan node

    # a single-file scan is below parallelism -> spread
    narrow_path = str(tmp_path / "narrow")
    spark.range(100).coalesce(1).write.parquet(narrow_path)
    narrow = spark.read.parquet(narrow_path)
    assert (_scan_parallelism(narrow) or 99) < par
    out_n = spread(narrow, "id")
    assert out_n.rdd.getNumPartitions() >= par

    # a non-scan frame (upstream exchange) has no job-free proof:
    # the probe returns None and spread falls back to the
    # unconditional repartition (pre-r14 behavior, never .rdd)
    agg = wide.groupBy("id").count()
    assert _scan_parallelism(agg) is None
    out_a = spread(agg, "id")
    assert out_a is not agg

    # results are partitioning-independent (the kernels' contract)
    assert sorted(r["id"] for r in out_n.collect()) == list(range(100))


def test_compact_partitioned_batched_fold_one_file_per_bucket(spark, tmp_path):
    """r14 batched compaction: all eligible buckets rewrite in ONE
    Spark job (one partitioned read + one shuffle + one partitioned
    write + per-dir swaps) — each compacted dir must hold exactly one
    sorted data file, rows identical to the pre-fold distinct set,
    including a bucket the fold empties entirely."""
    import os

    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.localrel import local_rows_df
    from data_engineer_challenge_spark.operators.compaction import (
        _data_files,
        compact_partitioned,
    )

    root = str(tmp_path / "store")
    rows = [(i % 7, i % 50, f"v{i}") for i in range(400)]
    df = local_rows_df(spark, rows, "b int, k long, v string")
    # three appends -> >= 3 files per bucket dir
    for _ in range(3):
        df.hint("rebalance", "b").write.partitionBy("b").mode(
            "append"
        ).parquet(root)
    n = compact_partitioned(
        spark,
        root,
        "b",
        "k long, v string",
        lambda d: d.distinct(),
        ["k", "v"],
        max_files=1,
        budget=None,
    )
    assert n == 7
    for bdir in sorted(os.listdir(root)):
        if not bdir.startswith("b="):
            continue
        assert len(_data_files(os.path.join(root, bdir))) == 1, bdir
    got = {
        (r["b"], r["k"], r["v"])
        for r in spark.read.parquet(root).collect()
    }
    assert got == set(rows)

    # a fold that eliminates one bucket's rows entirely still swaps in
    # an (empty) rewritten dir and the store stays readable
    n2 = compact_partitioned(
        spark,
        root,
        "b",
        "k long, v string",
        lambda d: d.where(F.col("b") != 3),
        ["k", "v"],
        max_files=0,
        budget=None,
    )
    assert n2 == 7
    left = {
        (r["b"], r["k"], r["v"])
        for r in spark.read.parquet(root).collect()
    }
    assert left == {t for t in set(rows) if t[0] != 3}
