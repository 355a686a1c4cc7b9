"""Physical-plan regression tests: the scale properties (pushdown,
pruning, broadcast, window-limit, partial agg) must survive refactors.
These assert on explain output — the same checks done interactively
during the perf audit, frozen as tests."""

from __future__ import annotations


from data_engineer_challenge_spark import plans

from .conftest import SF_SMOKE

plans._load()


#: executed plan of each registered query, built once per module: the
#: registry-wide checks below each read every query's plan, and
#: building them all takes about a minute
_PLANS: dict[str, str] = {}


def _plan(spark, name: str) -> str:
    if name not in _PLANS:
        df = plans.REGISTRY[name].builder(spark, SF_SMOKE)
        _PLANS[name] = df._jdf.queryExecution().executedPlan().toString()
    return _PLANS[name]


def _formatted(spark, name: str) -> str:
    import contextlib
    import io

    df = plans.REGISTRY[name].builder(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_broadcasts_and_prunes(spark):
    p = _formatted(spark, "flagship_regional_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # all dims broadcastable at test scale
    # date filter reaches the orders parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in p
    # lineitem scan reads only the 3 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in p


def test_q1_pushes_filter_and_partial_aggregates(spark):
    p = _formatted(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p
    assert p.count("HashAggregate") >= 2  # partial + final


def test_topk_uses_window_group_limit(spark):
    assert "WindowGroupLimit" in _plan(spark, "top_orders_per_customer")


def test_partitioned_windows_everywhere(spark):
    """No registered query may sort all data through one partition
    (WindowExec warning) — except the documented dimension-sized
    dense-ID query."""
    def unpartitioned_windows(plan: str) -> list[str]:
        # 'Window [exprs], [ordering]'              = UNpartitioned
        # 'Window [exprs], [partition]'             = partitioned, no order
        # 'Window [exprs], [partition], [ordering]' = partitioned+ordered
        # → flag 2-group forms whose second group is an ordering
        out = []
        for line in plan.splitlines():
            if "Window [" not in line or line.count("], [") != 1:
                continue
            tail = line.rsplit("], [", 1)[1]
            if " ASC" in tail or " DESC" in tail:
                out.append(line.strip())
        return out

    # nation_dense_ids: documented dimension-sized global window.
    # docs_bm25_search: its global rank window consumes the ≤20-row
    # output of TakeOrderedAndProject (pinned by
    # test_bm25_topk_compiles_to_take_ordered) — the sort that touches
    # real data is the per-partition top-k, not this window.
    # docs_hybrid_rrf_search: BOTH its global rank windows consume
    # TakeOrderedAndProject outputs (≤20-row retriever lists / the
    # ≤40-row fusion — pinned by test_hybrid_rrf_branches_take_ordered).
    # docs_range_sharded_export: the global rank window sees ONLY the
    # md5-gated boundary sample (the TeraSort sampler premise — pinned
    # by test_range_shard_sampler_isolation); the corpus never enters.
    # inverted_index_probe: docs_bm25_search's exact shape — the
    # global rank window consumes a ≤topk-row TakeOrderedAndProject
    # output (pinned, with the bucket pruning, by test_text_dedup.py::
    # test_inverted_index_probe_prunes_buckets_and_pushes_terms).
    # docs_token_budget_selection: the global running-sum window
    # consumes a TakeOrderedAndProject-capped prefix (≤ _TOKEN_BUDGET
    # rows — every scored doc carries ≥1 token, so no doc beyond that
    # rank can fit the budget); the corpus-sized sort never happens.
    allowed_global_window = {
        "nation_dense_ids",
        "docs_bm25_search",
        # BM25's global top-k shape twice over (feedback rank + final
        # rank) plus the expansion-term rank, whose input is the
        # exploded tokens of TEN feedback documents — all bounded
        "docs_rm3_search",
        "docs_hybrid_rrf_search",
        "docs_hybrid_rrf_via_index",
        "docs_range_sharded_export",
        "inverted_index_probe",
        "docs_token_budget_selection",
    }
    # self-check the detector on the known-global-window query
    assert unpartitioned_windows(
        _plan(spark, "nation_dense_ids")
    ), "detector failed to flag the known unpartitioned window"

    for name in plans.REGISTRY:
        if name in allowed_global_window:
            continue
        bad = unpartitioned_windows(_plan(spark, name))
        assert not bad, f"{name} contains an unpartitioned window: {bad[:1]}"


def test_ivf_plan_is_fused_single_pass(spark):
    """The IVF scale contract: probe selection is driver-side (queries
    and centroids are both driver-sized), so assignment + scoring fuse
    into ONE Arrow pass over the corpus — the plan must contain no
    join of any kind and no corpus shuffle; the only exchange is the
    final per-query rank, pre-reduced by WindowGroupLimit."""
    p = _plan(spark, "emb_ivf_topk")
    assert "Join" not in p  # zero joins: the corpus never co-locates
    assert "MapInPandas" in p  # the single fused Arrow pass
    assert "WindowGroupLimit" in p  # per-partition top-k pre-reduction


def test_session_window_exact_gap_boundary(spark):
    """Pin Spark's boundary semantics so the DuckDB oracle can't
    silently diverge on corpora with exact-gap pairs: session_window
    MERGES two events exactly 30 min apart (the second event starts at
    the first window's end and joins it); only a strictly greater gap
    splits. The oracle's `> INTERVAL 30 MINUTE` mirrors this; the old
    `>=` form split the boundary pair and passed only because no
    fixture contains an exact 1800 s gap."""
    import datetime

    from pyspark.sql import functions as F

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 0)),
        (1, datetime.datetime(2024, 1, 1, 0, 30, 0)),  # exactly 1800 s
        (2, datetime.datetime(2024, 1, 1, 0, 0, 0)),
        (2, datetime.datetime(2024, 1, 1, 0, 30, 1)),  # 1801 s
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    got = {r["user_id"]: r["n_sessions"] for r in out.collect()}
    assert got == {1: 1, 2: 2}


def test_sessionization_native_vs_lag_cumsum(spark):
    """The native session_window query must produce exactly the
    sessions the classic lag+cumsum formulation produces (same user,
    same start, same event count) — the two batch forms are
    interchangeable, and the streaming twin shares the native
    operator. Boundary semantics: session_window MERGES an
    exactly-gap-sized gap (verified in test_session_window_exact_gap_
    boundary), so the classic form starts a new session only on
    gap > 1800 s."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_engineer_challenge_spark.tables import load_table

    df = plans.REGISTRY["events_sessionization"].builder(spark, SF_SMOKE)
    native = sorted(
        (r["user_id"], r["session_start"], r["n_events"]) for r in df.collect()
    )

    ev = load_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    is_new = F.when(gap_s.isNull() | (gap_s > 1800.0), 1).otherwise(0)
    classic = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "sid",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    assert native == sorted(
        (r["user_id"], r["session_start"], r["n_events"]) for r in classic.collect()
    )


def test_no_cartesian_products(spark):
    """Every registered query must avoid CartesianProduct /
    BroadcastNestedLoopJoin except the deliberate broadcast cross joins
    with a bounded side: brute-force KNN and the quantized-KNN
    shortlist (tiny query side), the IVF index probe (query side x the
    16-row centroid table), BM25 (two single-row corpus-stats
    aggregates broadcast onto the per-document scores), the unigram-LM
    rarity table (the single-row total-token count broadcast onto the
    vocab), and the triangle census (three single-row counts zipped
    into one result row)."""
    allowed = {
        "emb_knn_bruteforce",
        "emb_quantized_knn",
        # the brute-force shortlist stage (tiny query side) feeding
        # the per-query MMR fold
        "emb_mmr_rerank",
        # the same labeled crossJoin shape (tiny anchor side) below
        # the kernel threshold
        "emb_hard_negatives",
        # two of that shape (hardest positive + hardest negative)
        "emb_training_triplets",
        # contains the brute-force baseline side verbatim
        "emb_ann_recall_report",
        "ivf_index_probe",
        "docs_bm25_search",
        # BM25's corpus-stats broadcasts, in both the feedback stage
        # and the expanded re-score
        "docs_rm3_search",
        # same two single-row corpus-stats broadcasts as
        # docs_bm25_search (shared bm25_score kernel), read from the
        # index's stats table instead of a corpus aggregate
        "inverted_index_probe",
        "doc_unigram_surprisal",
        "supplier_cosupply_triangles",
        # single-row (tot, tot_w) normalizer broadcast onto the strata
        "corpus_mixture_weights",
        # single-row total-token count broadcast onto the token stream
        # (doc_unigram_surprisal's shape, under the interpolated LM)
        "docs_bigram_lm_perplexity",
        # single-row (t_r, t_t) totals broadcast onto the 4096-row
        # bucket model (the corpus_mixture_weights shape)
        "docs_dsir_selection",
        # same DSIR core (_dsir_rank) as its final stage — the same
        # single-row totals broadcast
        "docs_curation_funnel",
        # runs the funnel TWICE (both corpus versions) — two of the
        # same single-row DSIR totals broadcasts, nothing unbounded
        "curation_mix_diff",
        # same DSIR core under the token-budget gate — same broadcast
        "docs_token_budget_selection",
        # inherits BM25's corpus-stats broadcasts + a 1-row query
        # vector broadcast (the emb_knn_bruteforce shape)
        "docs_hybrid_rrf_search",
        # same fusion, sparse branch read through the persisted index
        # (inverted_index_probe's stats broadcasts)
        "docs_hybrid_rrf_via_index",
        # bounded query-set LUT broadcast onto the coded corpus (the
        # emb_knn_bruteforce query-matrix shape: Q rows, never corpus)
        "emb_pq_adc_knn",
        # same shape plus the queries x 16-row-centroid cross for the
        # ⟨q, c⟩ correction — both sides driver-bounded
        "emb_pq_residual_adc_knn",
        # 1-row boundary-array broadcast onto the corpus scan
        "docs_range_sharded_export",
        # single-row sqrt-mass total broadcast onto the |langs|-row
        # rate table (the corpus_mixture_weights normalizer shape)
        "docs_temperature_mix",
        # the r12 capstone runs the funnel as its stage 2 — the same
        # two single-row DSIR totals broadcasts as
        # docs_curation_funnel, nothing unbounded
        "docs_corpus_release",
    }
    for name in plans.REGISTRY:
        if name in allowed:
            continue
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_curation_funnel_stage_interaction_adversarial_scorer(spark):
    """VERDICT r8 #8: the funnel composition is load-bearing, not
    vacuously green. With a deterministic custom scorer (the frozen
    classifier rejects nearly everything on planted text — memory-
    documented), pin the two interactions the one-hash oracle claims
    to catch: (1) exact dedup's keep-first runs among GATE SURVIVORS —
    gating a duplicate group's lowest-id member hands the group to its
    next survivor; (2) DSIR's raw/target bucket models are computed
    over survivors — gating a contaminating en-labeled document
    CHANGES other documents' log_weights, and each run's weights equal
    _dsir_rank applied directly to the expected survivor set."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.plans.text import (
        _dsir_rank, curation_funnel,
    )
    from data_engineer_challenge_spark.schemas import TESTDATA

    t_dup = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, t_dup, "en", "s", len(t_dup)),
        (2, t_dup, "xx", "s", len(t_dup)),  # exact dup of 1
        (3, "alpha beta gamma shared words here", "en", "s", 34),
        (4, "delta epsilon zeta other tokens talk", "xx", "s", 36),
        # shares grams with the contaminator, so its DSIR weight
        # depends on whether the contaminator reaches the models
        (5, "boson hadron overlap with common words", "xx", "s", 38),
        # the contaminator: distinctive vocabulary, en-labeled — it
        # tilts the TARGET model wherever it survives the gate
        (9, "quantum flux boson hadron lepton muon", "en", "s", 37),
    ]
    docs = spark.createDataFrame(rows, TESTDATA["documents"])

    def make_scorer(gated):
        def scorer(d):
            return d.withColumn(
                "quality_score", F.col("doc_id") / 100.0
            ).withColumn(
                "is_kept",
                ~F.col("doc_id").isin(*gated)
                if gated
                else F.lit(True),
            )

        return scorer

    def run(gated):
        out = curation_funnel(
            docs, scorer=make_scorer(gated), topk=10
        ).collect()
        return {r["doc_id"]: r for r in out}

    all_kept = run(set())
    gated = run({1, 9})

    # (1) keep-first over survivors: with nothing gated, doc 1 owns
    # the duplicate group; gating doc 1 hands the group to doc 2
    assert 1 in all_kept and 2 not in all_kept
    assert 2 in gated and 1 not in gated
    # the custom scorer's outputs ride the composition verbatim
    assert all_kept[1]["quality_score"] == 0.01
    assert gated[2]["quality_score"] == 0.02

    # (2) survivor-computed statistics: each run equals _dsir_rank on
    # the EXPECTED survivor set, and the two differ on shared docs
    def direct(ids):
        frame = docs.where(F.col("doc_id").isin(*ids)).select(
            "doc_id", "lang", "text"
        )
        return {
            r["doc_id"]: r["log_weight"]
            for r in _dsir_rank(frame).collect()
        }

    want_all = direct({1, 3, 4, 5, 9})
    want_gated = direct({2, 3, 4, 5})
    assert {d: r["log_weight"] for d, r in all_kept.items()} == want_all
    assert {d: r["log_weight"] for d, r in gated.items()} == want_gated
    # gating the contaminator moved doc 5's weight (its grams overlap
    # the contaminator's) — the exact divergence a raw-corpus-computed
    # model would hide
    assert all_kept[5]["log_weight"] != gated[5]["log_weight"]


def test_curation_funnel_spreads_a_single_scan_task_corpus(spark, tmp_path):
    """A single-file corpus scans as one task: the funnel spreads it on
    doc_id before the scorer, so tokenizing and gram hashing run on
    every core, and the scorer's per-doc aggregate reuses that
    partitioning (no second exchange on doc_id). A corpus already
    written as defaultParallelism files is scanned as is."""
    import random
    import re

    from data_engineer_challenge_spark.plans.text import (
        curation_funnel, with_quality_score,
    )
    from perfbench.gen import make_corpus

    from .fixtures import plan_subtrees, write_corpus_layouts

    par = spark.sparkContext.defaultParallelism
    one, many = write_corpus_layouts(
        tmp_path, make_corpus(random.Random(3), 300), par
    )

    def scorer_plan(path: str) -> str:
        seen = []

        def scorer(d):
            seen.append(with_quality_score(d))
            return seen[-1]

        curation_funnel(spark.read.parquet(path), scorer=scorer)
        return seen[0]._jdf.queryExecution().executedPlan().toString()

    spread_exchange = re.compile(
        rf"Exchange hashpartitioning\(doc_id#\d+L, {par}\), REPARTITION_BY_NUM"
    )
    plan = scorer_plan(one)
    tokenizers = plan_subtrees(plan, "regexp_extract_all")
    assert tokenizers and all(spread_exchange.search(t) for t in tokenizers), plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan

    plan = scorer_plan(many)
    assert "regexp_extract_all" in plan and "REPARTITION_BY_NUM" not in plan, plan


def test_dsir_selection_ranks_target_like_docs_first(spark, tmp_path):
    """DSIR semantics on a planted corpus: among the non-English docs,
    the one written in the English slice's vocabulary must outrank the
    one written in a divergent vocabulary — the importance weight is
    log p_target/p_raw over hashed n-grams, so sharing the target's
    n-gram mass is exactly what the score measures."""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.schemas import TESTDATA

    plans._load()
    target_text = "the quick brown fox jumps over the lazy dog"
    rows = [
        # the target slice: en docs sharing one vocabulary
        *[(i, target_text, "en", "srcA", 44) for i in range(8)],
        # a non-en doc in the TARGET vocabulary -> should score high
        (100, "quick brown fox over the lazy dog", "xx", "srcB", 33),
        # a non-en doc in a DIVERGENT vocabulary -> should score low
        (101, "zzq wvk jjx qqp zzq wvk jjx qqp", "xx", "srcB", 31),
    ]
    df = spark.createDataFrame(rows, TESTDATA["documents"])
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = (
        plans.REGISTRY["docs_dsir_selection"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    w = {r["doc_id"]: r["log_weight"] for r in got}
    assert w[100] > w[101]
    # per-feature weight too (doc length must not mask divergence)
    n = {r["doc_id"]: r["n_feats"] for r in got}
    assert w[100] / n[100] > w[101] / n[101]


def test_dsir_selection_survives_zero_token_docs(spark, tmp_path):
    """Regression (r8 ADVICE): punctuation-only text tokenizes to an
    empty array, and the unguarded bigram slice(t, 1, size(t)-1) threw
    INVALID_PARAMETER_VALUE.LENGTH (length -1) for it — killing the
    whole driver-surface job. P10 only filters empty STRINGS, so a
    zero-token doc is a supported input: the query must run, scoring
    the token-bearing docs and simply emitting no features for the
    empty one (the DuckDB oracle's range(1,0) does the same)."""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.schemas import TESTDATA

    plans._load()
    rows = [
        (1, "the quick brown fox", "en", "srcA", 40),
        (2, "quick brown fox too", "xx", "srcB", 41),
        # zero tokens after TOKEN_RE extraction; one-token doc exercises
        # the slice(t,1,0) edge as well
        (3, "!!! ... ??? ---", "xx", "srcB", 42),
        (4, "solitary", "xx", "srcB", 43),
    ]
    df = spark.createDataFrame(rows, TESTDATA["documents"])
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = (
        plans.REGISTRY["docs_dsir_selection"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    ids = {r["doc_id"] for r in got}
    assert 3 not in ids  # no features -> no row, not a crash
    assert {1, 2, 4} <= ids


def test_quality_weights_provenance(spark):
    """The frozen classifier weights (plans/quality_weights.py) are
    exactly what the engine's own deterministic distributed trainer
    produces from the documented invocation — the bpe_merges /
    ivf_centroids executable-provenance posture. Bit-equality, not
    approx: the trainer's cross-document sums are exact decimals and
    its updates float64, so any drift is a real change."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.logreg import (
        train_logreg_hashed,
    )
    from data_engineer_challenge_spark.plans.quality_weights import (
        BIAS, TRAIN_ITERS, TRAIN_LR, TRAIN_LR_BIAS, WEIGHTS,
    )
    from data_engineer_challenge_spark.plans.text import (
        _QC_BUCKETS, quality_gram_feats,
    )
    from data_engineer_challenge_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    labels = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    jsc = spark.sparkContext._jsc.sc()
    persisted_before = jsc.getPersistentRDDs().size()
    bias, w = train_logreg_hashed(
        quality_gram_feats(docs), labels, _QC_BUCKETS,
        iters=TRAIN_ITERS, lr=TRAIN_LR, lr_bias=TRAIN_LR_BIAS,
    )
    assert bias == BIAS
    assert w == WEIGHTS
    # the trainer releases every frame it pinned (r8 ADVICE: the old
    # localCheckpoints accumulated one block set per iteration for the
    # life of the session)
    assert jsc.getPersistentRDDs().size() <= persisted_before


def test_pq_codebooks_provenance(spark):
    """The frozen PQ codebooks (plans/pq_codebooks.py) are exactly
    what the deterministic per-subspace Lloyd trainer produces from
    the documented invocation — bit-equality, the quality_weights /
    ivf_centroids executable-provenance posture (exact-decimal
    component means make the retrain accumulation-order-proof)."""
    from data_engineer_challenge_spark.operators.pq import (
        train_pq_codebooks,
    )
    from data_engineer_challenge_spark.plans.pq_codebooks import CODEBOOKS
    from data_engineer_challenge_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    assert train_pq_codebooks(emb) == CODEBOOKS


def test_quality_classifier_learns_planted_vocabulary_split(
    spark, tmp_path
):
    """Trainer capability on a corpus with REAL signal (the synthetic
    driver corpus draws all languages from one vocabulary, so the
    frozen weights there capture only sampling tilt — this test is
    where the learning is proven, the DSIR planted-corpus
    discipline): positive docs written in vocabulary A, negatives in
    vocabulary B, the trained model must separate them perfectly and
    the scorer must rank every A-doc above every B-doc."""
    import random

    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.logreg import (
        sigmoid, train_logreg_hashed,
    )
    from data_engineer_challenge_spark.plans.text import (
        _QC_BUCKETS, quality_gram_feats,
    )
    from data_engineer_challenge_spark.schemas import TESTDATA

    rng = random.Random(7)
    va = ("the quick brown fox jumps over lazy dog river bank moon "
          "light tree stone").split()
    vb = "zzq wvk jjx qqp mmr ttk bbv ccd lle ffg hhj kkl ppo uui".split()
    shared = "alpha beta gamma delta".split()
    rows = []
    for i in range(120):
        vocab = (va if i % 2 == 0 else vb) + shared
        text = " ".join(
            vocab[rng.randrange(len(vocab))] for _ in range(40)
        )
        rows.append((i, text, "en" if i % 2 == 0 else "xx", "s", 40))
    docs = spark.createDataFrame(rows, TESTDATA["documents"])
    feats = quality_gram_feats(docs).localCheckpoint()
    labels = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    bias, w = train_logreg_hashed(feats, labels, _QC_BUCKETS, iters=16)
    wdf = spark.createDataFrame(
        [(b, w[b]) for b in range(_QC_BUCKETS)], "b long, wt double"
    )
    scored = (
        feats.join(F.broadcast(wdf), "b")
        .groupBy("doc_id")
        .agg(
            (F.lit(bias) + F.sum(F.col("wt") * F.col("c")) / F.first("n"))
            .alias("logit")
        )
        .select("doc_id", sigmoid(F.col("logit")).alias("p"))
        .collect()
    )
    pos = [r["p"] for r in scored if r["doc_id"] % 2 == 0]
    neg = [r["p"] for r in scored if r["doc_id"] % 2 == 1]
    assert min(pos) > 0.5 > max(neg)  # perfect separation
    assert min(pos) > max(neg)  # every A-doc above every B-doc


def test_quality_classifier_survives_zero_token_docs(spark, tmp_path):
    """Feature-bearing docs score; zero-gram docs drop cleanly (the
    same P10-adjacent contract as DSIR — no slice(-1) crash, no NULL
    division)."""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.schemas import TESTDATA

    plans._load()
    rows = [
        (1, "the quick brown fox", "en", "srcA", 40),
        (2, "!!! ... ??? ---", "xx", "srcB", 42),
    ]
    df = spark.createDataFrame(rows, TESTDATA["documents"])
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = (
        plans.REGISTRY["docs_quality_classifier"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    assert [r["doc_id"] for r in got] == [1]


def test_calendar_densified_fills_planted_gaps(spark, tmp_path):
    """The driver corpus is dense (every type logs every day), so the
    zero-fill path never fires in the oracle comparison — plant a
    sparse corpus and pin it: silent days inside a type's span emit
    (0, is_gap=true), days outside any span emit nothing."""
    import datetime as dt

    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.schemas import TESTDATA
    from data_engineer_challenge_spark.tables import load_table

    plans._load()
    t0 = dt.datetime(2024, 3, 1)
    rows = [
        # click: days 1 and 4 observed -> days 2,3 are gaps
        (1, t0, 10, "click", 1.0, None),
        (2, t0 + dt.timedelta(days=3), 11, "click", 1.0, None),
        # view: single day -> no gaps
        (3, t0 + dt.timedelta(days=9), 12, "view", 1.0, None),
    ]
    df = spark.createDataFrame(rows, TESTDATA["events"])
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["event_type"], r["day"].day, r["n_events"], r["is_gap"])
        for r in plans.REGISTRY["events_calendar_densified"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert got == {
        ("click", 1, 1, False),
        ("click", 2, 0, True),
        ("click", 3, 0, True),
        ("click", 4, 1, False),
        ("view", 10, 1, False),
    }


def test_surprisal_broadcasts_model_onto_token_stream(spark):
    """doc_unigram_surprisal's scale contract: the vocab-sized rarity
    table broadcasts onto the exploded token stream (no sort-merge of
    the corpus against its own model), and the per-doc aggregate
    map-side combines (two HashAggregate levels)."""
    p = _plan(spark, "doc_unigram_surprisal")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("HashAggregate") >= 2


def test_pagerank_rounds_are_integer_joins(spark):
    """supplier_customer_pagerank executes through localCheckpoint
    per round, so the final plan must be flat (constant depth — a
    scan of the last checkpoint, not 5 nested join rounds) and the
    result exactly integer (bigint rank_fp)."""
    df = plans.REGISTRY["supplier_customer_pagerank"].builder(spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p  # checkpoint truncated every round's lineage
    assert dict(df.dtypes)["rank_fp"] == "bigint"


def test_table_profile_is_one_scan(spark):
    """profile_table's contract: every column's stats ride ONE scan of
    the table (the oracle pays one scan per column; the operator must
    not). Exact multi-distinct shows up as Expand — allowed; a second
    FileScan would mean the unpivot re-read the table."""
    p = _plan(spark, "orders_table_profile")
    assert p.count("FileScan") == 1, p


def test_pii_scrub_planted_corpus(spark, tmp_path):
    """The synthetic corpus has no PII (counts 0 — pinned by the
    registry oracle run), so drive the positive paths on a planted
    corpus through the SAME DuckDB oracle, plus semantic pins: an IP's
    digits must never feed the phone pattern (stage order), emails are
    matched case-insensitively, and clean text passes untouched."""
    import os

    from .oracle import assert_matches_oracle

    rows = [
        (0, "contact John.Doe+spam@Example.COM or call 555-867-5309 now",
         "en", "t", 1),
        (1, "server at 192.168.101.254 responded; fallback 10.0.0.1",
         "en", "t", 1),
        (2, "no personal information in this perfectly clean sentence",
         "en", "t", 1),
        (3, "mixed: a@b.io then 8.8.8.8 then 212 555 1234 done",
         "en", "t", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    # single parquet FILE (not a Spark part directory): the DuckDB
    # oracle reads `<sf>/<table>.parquet` as one file, like testdata
    df.toPandas().to_parquet(f"{sf}/documents.parquet", index=False)
    # the oracle helper registers every testdata table as a view up
    # front — satisfy it by linking the untouched tables from smoke
    from data_engineer_challenge_spark.schemas import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")

    spec = plans.REGISTRY["docs_pii_scrub"]
    out = spec.builder(spark, sf)
    assert_matches_oracle(out, spec.oracle, sf)

    got = {r["doc_id"]: r for r in out.collect()}
    assert got[0]["n_emails"] == 1 and got[0]["n_phones"] == 1
    assert "<EMAIL>" in got[0]["scrubbed_text"]
    assert "<PHONE>" in got[0]["scrubbed_text"]
    assert got[1]["n_ips"] == 2 and got[1]["n_phones"] == 0  # stage order
    assert got[1]["scrubbed_text"].count("<IP>") == 2
    # field-by-field (a pyspark Row never equals a dict, so a
    # row-vs-dict == would silently pass only a weaker fallback)
    assert got[2]["n_emails"] == 0
    assert got[2]["n_ips"] == 0
    assert got[2]["n_phones"] == 0
    assert got[2]["scrubbed_text"] == rows[2][1]  # clean doc untouched
    assert got[3]["n_emails"] == 1 and got[3]["n_ips"] == 1
    assert got[3]["n_phones"] == 1  # space-separated phone shape


def test_shuffle_resume_is_exact_suffix_of_epoch_order(spark):
    """The resume suffix plus the consumed prefix must tile the full
    epoch order exactly — the property that makes one integer a
    sufficient dataloader checkpoint."""
    from data_engineer_challenge_spark.plans.text import (
        _GSHUF_RESUME_STEP,
        _GSHUF_SHARDS,
        docs_global_shuffle_order,
        docs_shuffle_resume,
    )

    full = {
        (r.doc_id, r.shard_id, r.pos)
        for r in docs_global_shuffle_order(spark, SF_SMOKE).collect()
    }
    resumed = {
        (r.doc_id, r.shard_id, r.pos)
        for r in docs_shuffle_resume(spark, SF_SMOKE).collect()
    }
    assert resumed <= full
    consumed = full - resumed
    # the consumed prefix is exactly the round-robin count per shard
    # (shards may be smaller than their quota on a tiny corpus)
    per_shard_quota = {
        s: _GSHUF_RESUME_STEP // _GSHUF_SHARDS
        + (1 if s < _GSHUF_RESUME_STEP % _GSHUF_SHARDS else 0)
        for s in range(_GSHUF_SHARDS)
    }
    shard_sizes: dict[int, int] = {}
    for _, s, _p in full:
        shard_sizes[s] = shard_sizes.get(s, 0) + 1
    for s, quota in per_shard_quota.items():
        want = min(quota, shard_sizes.get(s, 0))
        got = sum(1 for (_, sh, p) in consumed if sh == s)
        assert got == want
        # and it is the PREFIX: every consumed pos <= every resumed pos
        if want:
            max_consumed = max(
                p for (_, sh, p) in consumed if sh == s
            )
            assert max_consumed == want
    assert len(consumed) + len(resumed) == len(full)


def test_mix_diff_statuses_agree_with_the_two_funnels(spark):
    """curation_mix_diff's added/removed/kept partition must agree
    row-for-row with independently running the funnel on each corpus
    version."""
    from data_engineer_challenge_spark.plans import REGISTRY
    from data_engineer_challenge_spark.plans.text import curation_funnel
    from data_engineer_challenge_spark.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    v1 = {
        r.doc_id
        for r in curation_funnel(docs.where("doc_id % 4 != 3"))
        .select("doc_id")
        .collect()
    }
    v2 = {
        r.doc_id
        for r in curation_funnel(docs).select("doc_id").collect()
    }
    diff = REGISTRY["curation_mix_diff"].builder(spark, SF_SMOKE).collect()
    by_status = {"added": set(), "removed": set(), "kept": set()}
    for r in diff:
        by_status[r.status].add(r.doc_id)
        if r.status == "added":
            assert r.old_log_weight is None
            assert r.new_log_weight is not None
        elif r.status == "removed":
            assert r.new_log_weight is None
            assert r.old_log_weight is not None
        else:
            assert r.old_log_weight is not None
            assert r.new_log_weight is not None
    assert by_status["added"] == v2 - v1
    assert by_status["removed"] == v1 - v2
    assert by_status["kept"] == v1 & v2


def test_packing_efficiency_waste_identities(spark):
    """Waste identities that must hold by construction: concat-chunk
    waste < PACK_LEN per shard (it is the tail remainder); no-straddle
    waste >= concat waste on the same shard contents (next-fit can
    only fragment more, never less, at equal capacity); utilization is
    on the exact ppm grid."""
    from data_engineer_challenge_spark.plans import REGISTRY
    from data_engineer_challenge_spark.plans.text import _PACK_LEN

    rows = (
        REGISTRY["docs_packing_efficiency"]
        .builder(spark, SF_SMOKE)
        .collect()
    )
    concat = {r.shard: r for r in rows if r.packer == "concat_chunk"}
    ns = {r.shard: r for r in rows if r.packer == "no_straddle"}
    assert set(concat) == set(ns)
    for shard, c in concat.items():
        n = ns[shard]
        assert c.n_docs == n.n_docs
        assert c.total_tokens == n.total_tokens
        assert 0 <= c.wasted_tokens < _PACK_LEN
        assert n.n_seqs >= c.n_seqs
        assert n.wasted_tokens >= c.wasted_tokens
        for r in (c, n):
            cap = r.n_seqs * _PACK_LEN
            assert r.util_ppm == 1000000 * (cap - r.wasted_tokens) // cap


def test_cluster_balanced_selection_quota_and_determinism(spark):
    """Every cluster contributes at most the quota; clusters smaller
    than the quota are kept whole; two runs pick the identical set."""
    from data_engineer_challenge_spark.plans import REGISTRY
    from data_engineer_challenge_spark.plans.similarity import _CBAL_QUOTA

    b = REGISTRY["emb_cluster_balanced_selection"].builder
    rows = b(spark, SF_SMOKE).collect()
    per_cell: dict[int, list] = {}
    for r in rows:
        per_cell.setdefault(r.cell, []).append(r)
    for cell, rs in per_cell.items():
        n_cell = rs[0].n_cell
        assert all(r.n_cell == n_cell for r in rs)
        assert len(rs) == min(_CBAL_QUOTA, n_cell)
        assert {r.pick_rank for r in rs} == set(range(1, len(rs) + 1))
    again = {(r.vec_id, r.cell, r.pick_rank) for r in b(spark, SF_SMOKE).collect()}
    assert again == {(r.vec_id, r.cell, r.pick_rank) for r in rows}


def test_paragraph_dedup_rewrite_on_planted_doc(spark, tmp_path):
    """A planted document with duplicated lines: the rewrite keeps the
    first occurrence of each normalized line, preserves order and
    empty lines, and the md5 matches the hand-built clean text."""
    import hashlib

    from data_engineer_challenge_spark.plans import REGISTRY

    text = "alpha\nbeta\nAlpha \n\ngamma\nbeta\n\nalpha"
    # normalized dups: 'Alpha ' (of alpha), second beta, final alpha;
    # empty lines are never duplicates
    clean = "alpha\nbeta\n\ngamma\n"  # 5 kept lines, 4 separators
    df = spark.createDataFrame(
        [(1, text, "en", "web", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    df.write.parquet(f"{sf}/documents.parquet")
    rows = REGISTRY["docs_paragraph_dedup"].builder(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_lines == 8
    assert r.n_dup_lines == 3
    assert r.clean_md5 == hashlib.md5(clean.encode()).hexdigest()


def test_cluster_election_exactly_one_per_cluster_and_longest_wins(spark):
    from data_engineer_challenge_spark.plans import REGISTRY

    rows = (
        REGISTRY["docs_cluster_quality_election"]
        .builder(spark, SF_SMOKE)
        .collect()
    )
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    multi = 0
    for cluster, rs in by_cluster.items():
        elected = [r for r in rs if r.elected == 1]
        assert len(elected) == 1
        win = elected[0]
        # the winner is the (max tokens, min id) member
        best = max(rs, key=lambda r: (r.n_tokens, -r.doc_id))
        assert (win.doc_id, win.n_tokens) == (best.doc_id, best.n_tokens)
        if len(rs) > 1:
            multi += 1
    assert multi > 0  # fixtures must actually exercise real clusters


def test_quality_sampled_mix_applies_the_exact_ppm_rule(spark):
    """The selected set must be exactly {scorable docs with
    salted-hash residue below the score's ppm floor} — recomputed
    independently — and the sampling must be PARTIAL (some scorable
    docs in, some out)."""
    from data_engineer_challenge_spark.plans import REGISTRY
    from data_engineer_challenge_spark.plans.helpers import md5_long
    from data_engineer_challenge_spark.plans.text import (
        _QSAMP_SALT,
        with_quality_score,
    )
    from data_engineer_challenge_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    scored = (
        with_quality_score(docs)
        .where(F.col("quality_score").isNotNull())
        .select(
            "doc_id",
            "quality_score",
            (
                md5_long(
                    F.concat(
                        F.lit(_QSAMP_SALT), F.col("doc_id").cast("string")
                    )
                )
                % 1000000
            ).alias("h"),
        )
        .collect()
    )
    want = {
        r.doc_id
        for r in scored
        if r.h < round(r.quality_score * 1000000)
    }
    got = {
        r.doc_id
        for r in REGISTRY["docs_quality_sampled_mix"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    assert got == want
    assert 0 < len(got) < len(scored)


def test_source_reputation_totals_and_flag_rule(spark):
    from data_engineer_challenge_spark.plans import REGISTRY
    from data_engineer_challenge_spark.plans.text import (
        _SREP_DUP_PPM,
        _SREP_MIN_Q,
        exact_fingerprint,
    )
    from data_engineer_challenge_spark.tables import load_table
    from pyspark.sql import functions as F

    rows = (
        REGISTRY["docs_source_reputation"].builder(spark, SF_SMOKE).collect()
    )
    docs = load_table(spark, SF_SMOKE, "documents")
    n_total = docs.count()
    n_distinct_fp = (
        docs.select(exact_fingerprint().alias("fp")).distinct().count()
    )
    assert sum(r.n_docs for r in rows) == n_total
    assert sum(r.n_dups for r in rows) == n_total - n_distinct_fp
    for r in rows:
        assert r.dup_ppm == 1000000 * r.n_dups // r.n_docs
        want_flag = int(
            r.dup_ppm > _SREP_DUP_PPM
            or (r.mean_quality is not None and r.mean_quality < _SREP_MIN_Q)
        )
        assert r.flagged == want_flag


def test_pq_residual_codebooks_provenance(spark):
    """The frozen RESIDUAL codebooks (plans/pq_residual_codebooks.py)
    are exactly what the trainer produces from the documented
    invocation over the coarse-quantizer residuals — the
    pq_codebooks executable-provenance posture."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.pq import (
        residual_vec,
        train_pq_codebooks,
    )
    from data_engineer_challenge_spark.operators.similarity import (
        nearest_centroid,
    )
    from data_engineer_challenge_spark.plans.ivf_centroids import CENTROIDS
    from data_engineer_challenge_spark.plans.pq_residual_codebooks import (
        RESIDUAL_CODEBOOKS,
    )
    from data_engineer_challenge_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    assigned = emb.select(
        "vec_id",
        "embedding",
        nearest_centroid(F.col("embedding"), CENTROIDS).alias("cid"),
    )
    res = assigned.select(
        "vec_id",
        residual_vec(F.col("embedding"), CENTROIDS).alias("embedding"),
    )
    assert train_pq_codebooks(res) == RESIDUAL_CODEBOOKS


def test_leakage_safe_split_is_cluster_atomic(spark):
    """Every near-dup cluster lands entirely on one side of the
    split — the property the operator exists for — and known near-dup
    fixtures share their cluster's split."""
    from data_engineer_challenge_spark.plans import REGISTRY

    rows = (
        REGISTRY["docs_leakage_safe_split"].builder(spark, SF_SMOKE).collect()
    )
    by_cluster: dict[int, set] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    assert any(
        len([r for r in rows if r.cluster == c]) > 1 for c in by_cluster
    ), "fixtures must exercise a real multi-doc cluster"
    assert {r.split for r in rows} == {"train", "heldout"}


def test_stratified_split_exact_floor_counts(spark):
    """Every (lang, source) stratum sends EXACTLY floor(n*5%) rows to
    val — the guarantee the in-expectation hash split cannot give."""
    from data_engineer_challenge_spark.plans import REGISTRY
    from data_engineer_challenge_spark.plans.text import _STRAT_VAL_PCT

    rows = (
        REGISTRY["docs_stratified_split"].builder(spark, SF_SMOKE).collect()
    )
    strata: dict[tuple, list] = {}
    for r in rows:
        strata.setdefault((r.lang, r.source), []).append(r.split)
    assert strata
    for (lang, source), splits in strata.items():
        n = len(splits)
        assert splits.count("val") == n * _STRAT_VAL_PCT // 100, (
            lang,
            source,
        )


def test_mmr_rerank_diversifies_and_respects_relevance(spark):
    """MMR invariants: (a) every query returns ranks 1..k; (b) the
    first pick IS the top-relevance candidate; (c) diversity actually
    improves — the mean max-pairwise similarity inside MMR's picked
    set is <= the plain relevance top-k's (the objective's purpose),
    measured over all queries."""
    from data_engineer_challenge_spark.plans import REGISTRY
    from data_engineer_challenge_spark.plans.similarity import _MMR_K
    from data_engineer_challenge_spark.operators.similarity import (
        brute_force_topk,
    )
    from data_engineer_challenge_spark.tables import load_table
    from pyspark.sql import functions as F
    import numpy as np

    rows = REGISTRY["emb_mmr_rerank"].builder(spark, SF_SMOKE).collect()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.q_id, r.rank)):
        by_q.setdefault(r.q_id, []).append(r.c_id)
    assert by_q
    for q, picks in by_q.items():
        assert len(picks) == _MMR_K
    emb = load_table(spark, SF_SMOKE, "embeddings")
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    topk = brute_force_topk(
        queries,
        emb.select(F.col("vec_id").alias("c_id"), "embedding"),
        k=_MMR_K + 1,  # may include the query itself
    ).collect()
    plain: dict[int, list] = {}
    for r in sorted(topk, key=lambda r: (r.q_id, r.rank)):
        if r.c_id != r.q_id and len(plain.setdefault(r.q_id, [])) < _MMR_K:
            plain[r.q_id].append(r.c_id)

    def cos(a, b):
        return float(
            vecs[a] @ vecs[b]
            / np.sqrt((vecs[a] @ vecs[a]) * (vecs[b] @ vecs[b]))
        )

    def max_pair_sim(ids):
        return max(
            cos(x, y) for i, x in enumerate(ids) for y in ids[i + 1:]
        )

    mmr_div, plain_div = [], []
    for q, picks in by_q.items():
        assert picks[0] == plain[q][0]  # (b) first pick = top relevance
        mmr_div.append(max_pair_sim(picks))
        plain_div.append(max_pair_sim(plain[q]))
    assert np.mean(mmr_div) <= np.mean(plain_div) + 1e-12


def test_mmr_rerank_single_candidate_query(spark, tmp_path):
    """Regression (r11 ADVICE): a query whose non-self shortlist holds
    exactly ONE candidate has zero pairwise-similarity rows, and a
    greedy driven off the pairwise frame alone silently dropped the
    query from Spark output while the DuckDB oracle's recursive CTE
    still emitted its rank-1 pick. The fold's input is now seeded from
    the candidate frame, so the degenerate query survives."""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.schemas import TESTDATA

    plans._load()
    rows = [(0, [1.0, 0.0], 1), (1, [0.6, 0.8], 1)]
    df = spark.createDataFrame(rows, TESTDATA["embeddings"])
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = (
        plans.REGISTRY["emb_mmr_rerank"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    assert [(r.q_id, r.rank, r.c_id) for r in got] == [(0, 1, 1)]


def test_hard_negatives_kernel_path_skips_null_labels(spark, tmp_path):
    """Regression (r11 ADVICE): the per-label kernel path collected
    and sorted the distinct label list, so a NULL label raised
    TypeError (None vs int) while the expression path — and the DuckDB
    oracle, whose label <> predicate never matches NULL — silently
    excluded those rows. Both paths must now agree: NULL-label vectors
    appear on neither side of the mining join."""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.schemas import TESTDATA
    import data_engineer_challenge_spark.plans.similarity as S

    plans._load()
    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 2),
        (2, [0.8, 0.2], None),  # must be ignored, not crash
        (100, [0.7, 0.3], 2),
    ]
    df = spark.createDataFrame(rows, TESTDATA["embeddings"])
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    old = S._PQ_VECTORIZE_MIN_N
    try:
        S._PQ_VECTORIZE_MIN_N = 1  # force the per-label kernel
        k_rows = sorted(
            map(
                tuple,
                plans.REGISTRY["emb_hard_negatives"]
                .builder(spark, str(tmp_path))
                .collect(),
            )
        )
        t_rows = sorted(
            map(
                tuple,
                plans.REGISTRY["emb_training_triplets"]
                .builder(spark, str(tmp_path))
                .collect(),
            )
        )
        S._PQ_VECTORIZE_MIN_N = 10**9  # force the expression path
        e_rows = sorted(
            map(
                tuple,
                plans.REGISTRY["emb_hard_negatives"]
                .builder(spark, str(tmp_path))
                .collect(),
            )
        )
        te_rows = sorted(
            map(
                tuple,
                plans.REGISTRY["emb_training_triplets"]
                .builder(spark, str(tmp_path))
                .collect(),
            )
        )
    finally:
        S._PQ_VECTORIZE_MIN_N = old
    assert k_rows == e_rows and len(k_rows) > 0
    assert t_rows == te_rows
    anchors = {r[0] for r in k_rows}
    negs = {r[1] for r in k_rows}
    assert 2 not in anchors and 2 not in negs  # NULL label excluded


def test_corpus_release_composition_invariants(spark):
    """docs_corpus_release (r12 capstone): beyond the driver's hash
    equality, pin the composition properties a subtly-wrong pipeline
    would break: (a) every released doc passed the release's filter
    gate AND sits in the funnel-over-keepers mix; (b) no released doc
    is on the held-out side of the cluster split (leakage-safety
    composed through); (c) the packing layout is well-formed — per
    shard, pos is contiguous from 1 and seq_offset equals the running
    token sum mod/div PACK_LEN."""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.plans import release as R
    from data_engineer_challenge_spark.plans.text import _PACK_LEN
    from data_engineer_challenge_spark.tables import load_table
    from pyspark.sql import functions as F

    plans._load()
    rows = sorted(
        plans.REGISTRY["docs_corpus_release"]
        .builder(spark, SF_SMOKE)
        .collect(),
        key=lambda r: (r.shard_id, r.pos),
    )
    assert rows
    docs = load_table(spark, SF_SMOKE, "documents")
    gate = None
    for rule in R._RELEASE_RULES:
        cond = F.col(rule) == 1
        gate = cond if gate is None else gate & cond
    keep_ids = {
        r.doc_id
        for r in R.filter_bank_flags(docs).where(gate).collect()
    }
    mix_ids = {
        r.doc_id
        for r in R.curation_funnel(
            docs.join(
                spark.createDataFrame(
                    [(i,) for i in keep_ids], "doc_id long"
                ),
                "doc_id",
            ).select("doc_id", "lang", "text")
        ).collect()
    }
    splits = {
        r.doc_id: r.split
        for r in R.docs_leakage_safe_split(spark, SF_SMOKE).collect()
    }
    cum = {}
    last_pos = {}
    for r in rows:
        assert r.doc_id in keep_ids  # (a) gate
        assert r.doc_id in mix_ids  # (a) mix
        assert splits[r.doc_id] == "train"  # (b)
        # (c) packing layout
        assert r.pos == last_pos.get(r.shard_id, 0) + 1
        last_pos[r.shard_id] = r.pos
        c = cum.get(r.shard_id, 0)
        assert r.seq_id == c // _PACK_LEN and r.seq_offset == c % _PACK_LEN
        cum[r.shard_id] = c + r.n_tokens


def test_split_modules_import_directly():
    """r12 review: the text.py module split must not leave a circular
    import — `import plans.text_packing` (without going through
    plans.text first) has to work, in a FRESH interpreter (this
    process has long since imported everything)."""
    import subprocess
    import sys

    for mod in ("text_retrieval", "text_curation", "text_packing"):
        r = subprocess.run(
            [
                sys.executable,
                "-c",
                f"import data_engineer_challenge_spark.plans.{mod} as m;"
                f"assert m.__name__.endswith('{mod}')",
            ],
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert r.returncode == 0, (mod, r.stderr[-500:])


def test_mining_kernel_all_null_labels_returns_empty(spark, tmp_path):
    """r12 review: a corpus whose labels are ALL NULL must return an
    empty mining result on the kernel path (matching the expression
    path and the oracle), not IndexError on parts[0]."""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.schemas import TESTDATA
    import data_engineer_challenge_spark.plans.similarity as S

    plans._load()
    rows = [(0, [1.0, 0.0], None), (1, [0.9, 0.1], None)]
    df = spark.createDataFrame(rows, TESTDATA["embeddings"])
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    old = S._PQ_VECTORIZE_MIN_N
    try:
        S._PQ_VECTORIZE_MIN_N = 1
        for name in ("emb_hard_negatives", "emb_training_triplets"):
            got = (
                plans.REGISTRY[name]
                .builder(spark, str(tmp_path))
                .collect()
            )
            assert got == [], name
    finally:
        S._PQ_VECTORIZE_MIN_N = old


def test_mmr_survives_null_embedding(spark, tmp_path):
    """r12 review: a NULL embedding in the shortlist produces NULL
    cosines (NaN once Arrow hands the group to pandas); the greedy
    must skip the unrankable candidate instead of crashing on
    int(NaN), and still rank the rest. (A zero-NORM vector is a
    different failure: ANSI Spark raises DIVIDE_BY_ZERO inside the
    cosine expression itself, upstream of every consumer — the
    quantized tiers' amax>0 exclusion is the posture for those.)"""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.schemas import TESTDATA

    plans._load()
    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.6, 0.8], 1),
        (2, None, 1),  # NULL embedding: NULL cosine everywhere
        (3, [0.8, 0.6], 1),
    ]
    df = spark.createDataFrame(rows, TESTDATA["embeddings"])
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    spec = plans.REGISTRY["emb_mmr_rerank"]
    got = spec.builder(spark, str(tmp_path)).collect()
    picked = [r.c_id for r in sorted(got, key=lambda r: r.rank)]
    assert 2 not in picked and set(picked) == {1, 3}
    # r13 (advisor): the oracle must exclude the NULL candidate TOO —
    # before the symmetric isNotNull filter its LATERAL argmin seated
    # c_id=2 at rank 3 (NULLS LAST still ranks), a latent driver-hash
    # mismatch this fixture now pins on BOTH engines.
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
            f"'{tmp_path}/embeddings.parquet/*.parquet')"
        )
        oracle_rows = con.execute(spec.oracle).fetchall()
    finally:
        con.close()
    assert sorted((r[0], r[1], r[2]) for r in oracle_rows) == sorted(
        (r.q_id, r.rank, r.c_id) for r in got
    )
