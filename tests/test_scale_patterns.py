"""Scale-pattern verification: salting preserves join semantics, and
bucketed tables co-locate joins (no shuffle Exchange in the plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineer_challenge_spark.operators.skew import salted_join


def test_salted_join_row_identical(spark):
    # heavily skewed big side: 90% of rows share key 1
    big = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim_val")
    )
    plain = {(r["k"], r["payload"], r["dim_val"]) for r in big.join(small, "k").collect()}
    salted = {
        (r["k"], r["payload"], r["dim_val"])
        for r in salted_join(big, small, ["k"], n_salts=8).collect()
    }
    assert salted == plain and len(plain) == 10_000


def test_salted_join_rejects_outer_variants(spark):
    big = spark.range(3).select(F.col("id").alias("k"))
    small = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, ["k"], how="full_outer")


def test_minhash_bucket_cap_bounds_hot_bucket(spark):
    """Planted skew: 10⁴ copies of one passage land every copy in the
    same bucket of every band — uncapped, that is ~10⁸ candidate pairs
    per band and the join never finishes at scale. With the cap the hot
    buckets drop (bounded per-partition work), the planted honest
    near-dup pair is still found, and no join-input partition carries
    more than a capped bucket's worth of rows."""
    from data_engineer_challenge_spark.operators.text_dedup import (
        minhash_candidate_pairs,
    )

    hot = "boilerplate terms of service apply to every page of this website forever"
    base = (
        "spark shuffles data between executors during wide transformations "
        "while the optimizer prunes columns at the parquet scan"
    )
    near = base.replace("parquet scan", "parquet reader")
    rows = [(i, hot) for i in range(10_000)] + [(10_001, base), (10_002, near)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_candidate_pairs(
        docs, "doc_id", "text", threshold=0.5, max_bucket_size=100
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (10_001, 10_002) in got  # honest near-dup survives the cap
    # every hot-bucket pair was skipped: only the planted pair remains
    assert got == {(10_001, 10_002)}

    # structural check: after the cap, no (band, hash) join bucket on
    # the self-join input exceeds the cap
    from pyspark.sql.window import Window
    from data_engineer_challenge_spark.operators.text_dedup import (
        hashed_shingles,
        minhash_bands_vectorized,
    )

    base_df = (
        docs.repartition(8, "doc_id")
        .select(F.col("doc_id").alias("__id"), hashed_shingles("text", 2).alias("__hs"))
        .filter(F.size("__hs") > 0)
    )
    banded = minhash_bands_vectorized(base_df, num_hashes=32, bands=8)
    capped = (
        banded.withColumn(
            "__bn", F.count(F.lit(1)).over(Window.partitionBy("__band", "__bh"))
        )
        .filter(F.col("__bn") <= 100)
    )
    max_bucket = capped.groupBy("__band", "__bh").count().agg(F.max("count")).first()[0]
    assert max_bucket is not None and max_bucket <= 100


def test_salted_join_deterministic_salts(spark):
    big = spark.range(0, 1000).select((F.col("id") % 3).alias("k"), F.col("id").alias("v"))
    small = spark.range(0, 3).select(F.col("id").alias("k"))
    a = salted_join(big, small, ["k"]).count()
    b = salted_join(big, small, ["k"]).count()
    assert a == b == 1000


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    from data_engineer_challenge_spark.tables import load_table

    root = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    for name, df, key in [("b_lineitem", li, "l_orderkey"), ("b_orders", orders, "o_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(root / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    return "b_lineitem", "b_orders"


def test_flagship_plan_broadcasts_and_prunes(spark):
    """Physical-plan regression for the headline star join: every dim
    join broadcasts (no sort-merge), and the lineitem scan is pruned to
    the three columns the query touches."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["flagship_regional_revenue"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    li_scans = [l for l in plan.splitlines() if "FileScan parquet" in l and "lineitem" in l]
    assert li_scans, plan
    for scan in li_scans:
        cols = scan.split("FileScan parquet [")[1].split("]")[0].split(",")
        assert len(cols) <= 3, f"lineitem scan reads too many columns: {cols}"


def test_q1_aggregate_is_partial_then_final(spark):
    """The Q1 aggregation must combine map-side: two HashAggregate
    levels with one Exchange between them, not a raw-row shuffle."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["q1_pricing_summary"].builder(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange hashpartitioning" in plan


def test_bucketed_join_avoids_shuffle(spark, bucketed_tables):
    li_name, o_name = bucketed_tables
    li = spark.table(li_name)
    orders = spark.table(o_name)
    joined = li.join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    ).select("l_orderkey", "o_totalprice")

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan  # co-located scan

    # and it still computes the right thing
    expected = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").count()
    )
    assert joined.count() == expected


def test_lsh_pairs_plan_has_no_pair_join(spark):
    """Physical-plan regression for emb_lsh_neardup_pairs: verification
    runs inside the (table, bucket) groups, so the plan must contain NO
    join operator at all — the old pair-join form shuffled O(candidates)
    vector payloads (sf0.1: 447k candidates for 1.9k survivors). The
    only exchanges are the bucket grouping and the surviving-pair
    dedup."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["emb_lsh_neardup_pairs"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_winnow_fingerprints_map_only(spark):
    """The Arrow winnowing kernel computes per-document fingerprints
    with NO data-dependent shuffle: the only Exchange allowed in its
    plan is the round-robin repartition that spreads a single-file
    scan across cores. A doc_id hash Exchange appearing here would
    mean the window-min regressed to the shuffling expression form."""
    from data_engineer_challenge_spark.plans.text import _winnow_fingerprints
    from data_engineer_challenge_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        _winnow_fingerprints(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_quantized_knn_broadcasts_queries(spark):
    """The int8 shortlist stage must broadcast the (small) query side —
    a shuffle of the quantized corpus against queries would be the
    wrong shape at any scale."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["emb_quantized_knn"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan, plan


def test_global_shuffle_order_no_global_sort(spark):
    """The epoch shuffle's whole point is assembling a reproducible
    pseudo-random order WITHOUT a global sort: the plan must hash-
    partition on shard_id for the per-shard rank window and never
    range-partition (the global-sort signature), and the scan must
    read only doc_id."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_global_shuffle_order"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard_id#" in plan, plan
    assert "rangepartitioning" not in plan, plan
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all(
        "ReadSchema: struct<doc_id:bigint>" in l for l in scans
    ), plan


def test_shuffled_packing_one_shuffle_and_pos_agreement(spark):
    """VERDICT r10 #5 — the dataloader composition. (a) Plan: the two
    windows (shuffle rank, packing cumsum) share ONE hash partitioning
    on shard_id — exactly one Exchange, no rangepartitioning, so the
    composition costs the same single shuffle as either half. (b) Key
    family: every (doc_id, shard_id, pos) the composition emits is
    bit-equal to docs_global_shuffle_order's assignment — the packing
    really consumes the epoch order, not a lookalike."""
    from data_engineer_challenge_spark import plans

    plans._load()
    sf = "/root/testdata/sf0.001"
    df = plans.REGISTRY["docs_shuffled_packing"].builder(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 1, plan
    assert "shard_id#" in exchanges[0], plan

    shuf = {
        (r["doc_id"], r["shard_id"], r["pos"])
        for r in plans.REGISTRY["docs_global_shuffle_order"]
        .builder(spark, sf)
        .collect()
    }
    got = {
        (r["doc_id"], r["shard_id"], r["pos"]) for r in df.collect()
    }
    assert got <= shuf and len(got) > 0
    # only zero-token docs may hold a position without packing a seq
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.functions.tokenize import TOKEN_RE
    from data_engineer_challenge_spark.tables import load_table

    n_zero = (
        load_table(spark, sf, "documents")
        .where(
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(TOKEN_RE), F.lit(0)
                )
            )
            == 0
        )
        .count()
    )
    assert len(shuf) - len(got) == n_zero


def test_heavy_hitters_verify_pass_plan(spark):
    """The verify pass must be the CHEAP shape: a one-column scan,
    broadcast-LEFT-SEMI-joined against the (distributed) candidate
    frame, partial-aggregating only candidate rows — never a
    full-cardinality aggregate of all keys, and never the candidate
    set baked into the plan as driver-collected IN-list literals
    (capacity × tasks literals at 100 TB = plan-size blowup)."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["events_heavy_hitters"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "INSET" not in plan and " IN (" not in plan, plan
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all(
        "ReadSchema: struct<user_id:bigint>" in l for l in scans
    ), plan
    assert "partial_count" in plan  # map-side combine on candidates


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """The session enables Spark's runtime bloom-filter injection: when
    a fact⋈dim join really shuffles (at 100 TB it does — locally we
    must disable auto-broadcast and the 10 GB fact-scan floor to reach
    that regime), a selective dim filter materializes as a
    bloom_filter_agg on the dim side and a might_contain() guard on the
    FACT side BEFORE its shuffle — rows that cannot join never cross
    the wire."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        sf = "/root/testdata/sf0.001"
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        # the guard must sit on the FACT key, pre-shuffle
        assert any(
            "might_contain" in l and "l_orderkey" in l
            for l in plan.splitlines()
        ), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bm25_topk_compiles_to_take_ordered(spark):
    """docs_bm25_search's global top-20 must compile to
    TakeOrderedAndProject (per-partition top-k + driver merge of k
    rows per partition), never a global Sort — and the query-term
    filter must reach the exploded stream before any shuffle."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_bm25_search"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=20" in plan, plan
    assert "Sort [score" not in plan, plan


def test_token_budget_window_is_take_ordered_capped(spark):
    """docs_token_budget_selection's global running-sum window must
    consume a TakeOrderedAndProject-capped prefix (≤ _TOKEN_BUDGET
    rows — every scored doc carries ≥1 token, so no later doc can
    fit), never sort the corpus globally: the plan carries the
    budget-limit TakeOrdered and no corpus-sized global Sort feeds
    the Window. Correctness of the cap itself is the oracle's job;
    this pins the SHAPE the allowlist entry claims."""
    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.plans.text import _TOKEN_BUDGET

    plans._load()
    df = plans.REGISTRY["docs_token_budget_selection"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"TakeOrderedAndProject(limit={_TOKEN_BUDGET}" in plan, plan
    # the one Window in the plan sits ABOVE the TakeOrdered cap
    w_at = plan.find("Window [")
    t_at = plan.find("TakeOrderedAndProject")
    assert 0 <= w_at < t_at, (w_at, t_at)


def test_hybrid_rrf_via_index_reads_pruned_postings(spark):
    """The index-backed hybrid retriever's sparse branch must read the
    persisted postings through the bucket-pruned probe (non-empty
    t_bucket PartitionFilters + pushed term IN-list), not re-tokenize
    the corpus — that is the entire point of the via-index variant."""
    import re as _re

    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_hybrid_rrf_via_index"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[t_bucket#\d+ IN \(", plan), plan
    assert "In(term" in plan, plan


def test_phrase_search_two_stage_pruned_shape(spark):
    """Phrase search never re-tokenizes the corpus: the candidate
    stage's postings scan is bucket-pruned with the term IN-list
    pushed, and the only tokenize in the plan runs over the CANDIDATE
    join side (one regexp_extract_all), not a second full-corpus
    model pass."""
    import re as _re

    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_phrase_search_via_index"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[t_bucket#\d+ IN \(", plan), plan
    assert "In(term" in plan, plan
    # exactly ONE scan reads document text (the candidate verify);
    # the postings scans read only [term, doc_id]
    text_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "text#" in l.split("Batched")[0]
    ]
    assert len(text_scans) == 1, plan


def test_dsir_scoring_pass_shape(spark):
    """docs_dsir_selection's returned plan is the SCORING pass only
    (the model counts ran eagerly into the checkpointed 4096-row
    model): the corpus is tokenized at most once per pass — the gram
    pass runs once into a narrow (doc_id, lang, b) checkpoint that the
    model counts fold from, so scoring re-reads that checkpoint and
    tokenizes nothing — the bucket model arrives by broadcast hash
    join, exactly one doc_id exchange for the per-doc fold, and a
    TakeOrdered top-k — never a global sort."""
    import re

    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_dsir_selection"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_extract_all") == 0, plan
    assert re.search(r"Scan ExistingRDD\[doc_id#\d+L,lang#\d+,b#\d+L\]", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert "TakeOrderedAndProject(limit=200" in plan, plan
    assert "Sort [log_weight" not in plan, plan


def test_assignment_queries_are_map_only(spark):
    """The deterministic-assignment tier (split, rebalance sample)
    must be MAP-ONLY: one scan, no Exchange of any kind — hash,
    compare, emit."""
    from data_engineer_challenge_spark import plans

    plans._load()
    for name in ("docs_train_val_split", "docs_rebalance_sample"):
        df = plans.REGISTRY[name].builder(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (name, plan)


def test_semantic_dedup_plan_shape(spark):
    """The SemDeDup plan's scale claims, pinned: (1) centroid
    assignment is a pure projection — NO join anywhere carries the
    centroid matrix (it inlines as literals), so the only joins are
    the cell equi-join and the final id join; (2) the dominance
    aggregate ships ids only (its exchange partitions by the pair's
    right id, never by vectors); (3) no cartesian product."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["emb_semantic_dedup"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # assignment-by-join would scan a centroid-side relation: the only
    # FileScans allowed are the embeddings table itself
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans and all("embeddings" in l for l in scans), plan


def test_sketch_rollup_plan_combines_map_side(spark):
    """The distinct-sketch rollup must partial-aggregate BOTH levels
    map-side (raw user ids never shuffle — only sketch states do) and
    stay JVM-side end to end (no Python/Arrow eval nodes)."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["events_distinct_sketch_rollup"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_hll_sketch_agg" in plan, plan
    assert "partial_hll_union_agg" in plan, plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, (node, plan)


def test_segment_dedup_text_never_rides_dedup_shuffle(spark):
    """docs_segment_dedup's 100 TB contract: the keep-first decision
    shuffles an ids-only (doc_id, seg_idx, md5) projection — the
    segment TEXT must not appear in the hash exchange feeding the
    window, and the per-doc decision aggregate must partial-combine
    map-side. (At sf0.001 the decision frame then broadcasts, so the
    document text pays zero exchanges end to end.)"""
    import contextlib
    import io

    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_segment_dedup"].builder(
        spark, "/root/testdata/sf0.001"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the node blocks are separated by blank lines; find the Exchange
    # that hash-partitions on the md5 column and inspect its Input
    blocks = [b for b in plan.split("\n\n") if "hashpartitioning(h#" in b]
    assert blocks, plan
    for b in blocks:
        assert "seg_text" not in b and "text#" not in b, b
    assert "partial_collect_list" in plan  # map-side combine


def test_training_examples_single_user_shuffle(spark):
    """Point-in-time feature assembly: all six window functions share
    ONE hashpartitioning(user_id) exchange — a second fact shuffle (or
    a join back onto purchases) is the regression this pins out."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["events_training_examples"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 1, exchanges
    assert "user_id" in exchanges[0]
    assert plan.count("Window") == 2, plan  # range frames + the lag


def test_q21_decorrelation_has_no_expand(spark):
    """The correlated-EXISTS rewrite must keep its cascading-aggregate
    form: countDistinct pairs would reintroduce Expand (3 rows out per
    fact row in) plus a second fact-grain exchange."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["suppliers_sole_return_blockers"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    # fact shuffles exactly once at pair grain, then order grain
    pair_grain = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
        and "l_orderkey" in l
        and "l_suppkey" in l
    ]
    assert pair_grain, plan
    assert "BroadcastHashJoin" in plan  # supplier dim never sort-merges


def test_range_shard_sampler_isolation(spark):
    """Range-sharded export: only the md5-gated SAMPLE may cross the
    SinglePartition rank window; the corpus side must see a broadcast
    of the boundary array and exactly one (rollup) shuffle."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_range_sharded_export"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    single = [
        l for l in plan.splitlines() if "Exchange SinglePartition" in l
    ]
    assert len(single) == 1, single
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastExchange" in plan


def test_hybrid_rrf_branches_take_ordered(spark):
    """Hybrid RRF: both retriever branches must pre-limit through
    TakeOrderedAndProject (k-row lists), never a global sort of the
    scored corpus."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_hybrid_rrf_search"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_exact_substring_dedup_ids_only_shuffle(spark):
    """Arbitrary-alignment passage dedup: the keep-first shuffle
    partitions on the window HASH and is fed directly by the Generate
    that consumes the token array map-side — text/tokens never cross
    the dedup exchange (the segment-dedup discipline at stride 1)."""
    import re

    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_exact_substring_dedup"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    h_ex = [
        i
        for i, l in enumerate(lines)
        if re.search(r"Exchange hashpartitioning\(h#", l)
    ]
    assert h_ex, plan
    # the exchange's subtree starts right below it: the md5-bearing
    # Generate must appear within the next few lines, proving the
    # hash is computed BEFORE the shuffle, from tokens that stay
    # map-side
    window = "\n".join(lines[h_ex[0] : h_ex[0] + 4])
    assert "Generate explode(transform" in window, window
    assert "md5" in window, window


def test_pii_scrub_is_map_only(spark):
    """docs_pii_scrub's scale contract: three regexp passes over the
    text column and nothing else — the plan must contain no Exchange
    of any kind (a pure scan-bandwidth pass at 100 TB)."""
    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_pii_scrub"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_phrase_search_positional_is_index_resident(spark):
    """The positional variant (r8): the probe plan reads ONLY the
    pruned positional postings — no documents scan, no tokenize
    anywhere in the plan. The documents table is touched once, at
    build time (VERDICT r7 #5's 'zero document-text reads')."""
    import re as _re

    from data_engineer_challenge_spark import plans

    plans._load()
    df = plans.REGISTRY["docs_phrase_search_positional"].builder(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[t_bucket#\d+ IN \(", plan), plan
    scans = [
        l for l in plan.splitlines() if "FileScan parquet" in l
    ]
    assert scans, plan
    assert not any("text#" in l.split("Batched")[0] for l in scans), plan
    assert "regexp_extract_all" not in plan, plan


def test_packed_doc_spans_tile_sequences_exactly(spark):
    """The loss-mask span table must be a PARTITION of each shard's
    token stream: per document the spans sum to its token count, and
    within every (shard, seq_id) the spans are disjoint, start at 0,
    and chain contiguously (prev end == next start) up to the
    sequence's fill. Plus the plan shape: partitioned window only, no
    rangepartitioning (the packing family contract)."""
    from collections import defaultdict

    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.plans.text import _PACK_LEN

    plans._load()
    sf = "/root/testdata/sf0.001"
    df = plans.REGISTRY["docs_packed_doc_spans"].builder(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan

    rows = df.collect()
    assert rows
    packed = {
        r["doc_id"]: r["n_tokens"]
        for r in plans.REGISTRY["docs_pack_sequences"]
        .builder(spark, sf)
        .collect()
    }
    per_doc = defaultdict(int)
    per_seq = defaultdict(list)
    for r in rows:
        assert 0 <= r["start_tok"] < r["end_tok"] <= _PACK_LEN, r
        per_doc[r["doc_id"]] += r["end_tok"] - r["start_tok"]
        per_seq[(r["shard"], r["seq_id"])].append(
            (r["start_tok"], r["end_tok"])
        )
    assert per_doc == packed  # spans reconstruct every token count
    for key, spans in per_seq.items():
        spans.sort()
        assert spans[0][0] == 0, (key, spans)
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 == s2, (key, spans)  # contiguous, non-overlapping


def test_epoch_replay_mix_copy_counts_and_dense_pos(spark):
    """Replay semantics: a 2.5-epoch language's documents appear 2 or
    3 times, a 0.25-epoch language's 0 or 1 times, unlisted languages
    exactly once; replicas are exactly 1..n per document; and pos is a
    dense 1..count rank within every shard (the dataloader contract).
    Plan: partitioned window, no rangepartitioning, no join."""
    from collections import Counter, defaultdict

    from data_engineer_challenge_spark import plans

    plans._load()
    sf = "/root/testdata/sf0.001"
    df = plans.REGISTRY["docs_epoch_replay_mix"].builder(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan

    rows = df.collect()
    reps = defaultdict(list)
    lang_of = {}
    for r in rows:
        reps[r["doc_id"]].append(r["replica"])
        lang_of[r["doc_id"]] = r["lang"]
    allowed = {"en": {1}, "fr": {2, 3}}
    for doc_id, rs in reps.items():
        n = len(rs)
        assert sorted(rs) == list(range(1, n + 1)), (doc_id, rs)
        assert n in allowed.get(lang_of[doc_id], {1}), (
            doc_id, lang_of[doc_id], n,
        )
    # the fractional copies actually fire both ways at this corpus size
    fr_counts = Counter(
        len(rs) for d, rs in reps.items() if lang_of[d] == "fr"
    )
    assert fr_counts[2] > 0 and fr_counts[3] > 0, fr_counts
    per_shard = defaultdict(list)
    for r in rows:
        per_shard[r["shard_id"]].append(r["pos"])
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_temperature_mix_rates_match_exact_integer_model(spark):
    """The data-dependent rate table must equal an independent exact
    recomputation (math.sqrt + integer arithmetic — the same IEEE ops
    the engines run), the head language must be throttled below the
    tail languages, and the plan must broadcast the rate table (no
    SortMergeJoin: the corpus never shuffles)."""
    import math
    from collections import Counter

    from data_engineer_challenge_spark import plans
    from data_engineer_challenge_spark.plans.text import _TEMP_BUDGET
    from data_engineer_challenge_spark.tables import load_table

    plans._load()
    sf = "/root/testdata/sf0.001"
    df = plans.REGISTRY["docs_temperature_mix"].builder(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan

    counts = Counter(
        r["lang"]
        for r in load_table(spark, sf, "documents")
        .select("lang")
        .collect()
    )
    s6 = {l: math.floor(math.sqrt(n) * 1000000.0) for l, n in counts.items()}
    t6 = sum(s6.values())
    expect = {
        l: min(
            1000000,
            (1000000 * ((_TEMP_BUDGET * s6[l]) // t6)) // counts[l],
        )
        for l in counts
    }
    got = {}
    for r in df.collect():
        got.setdefault(r["lang"], set()).add(r["pct_ppm"])
    assert {l: {p} for l, p in expect.items() if l in got} == got
    # temperature flattening: the head language keeps a smaller share
    head = max(counts, key=counts.get)
    assert all(
        expect[head] <= expect[l] for l in counts
    ), (head, expect)


def test_corpus_release_packing_shares_one_exchange(spark):
    """r12 capstone plan pin: docs_corpus_release's final stage — the
    shuffled-packing rank + cumsum windows over the RELEASED set —
    must share ONE hash partitioning on shard_id (the
    docs_shuffled_packing pin, surviving the composition) and never
    fall back to rangepartitioning anywhere in the plan."""
    from data_engineer_challenge_spark import plans

    plans._load()
    sf = "/root/testdata/sf0.001"
    df = plans.REGISTRY["docs_corpus_release"].builder(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    shard_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "shard_id#" in l
    ]
    assert len(shard_exchanges) == 1, plan
