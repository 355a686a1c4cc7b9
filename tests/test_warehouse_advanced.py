"""Warehouse MERGE paths."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from data_engineer_challenge_spark.operators.merge import ParquetWarehouse


def _file_hashes(root):
    import hashlib, os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """Delta-style pruned MERGE: a micro-batch touching a few keys must
    leave every untouched __pkey partition's files byte-identical, and
    produce the same table contents as the full-rewrite MERGE."""
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    wh.overwrite_partitioned("t", base, ["k"], n_buckets=8)

    before = _file_hashes(wh.path("t"))
    # a source touching 3 keys → at most 3 of the 8 partitions rewritten
    src = spark.createDataFrame([(1, 111), (2, 222), (5000, 555)], "k long, v long")
    wh.merge_upsert("t", src, ["k"])
    after = _file_hashes(wh.path("t"))

    changed_dirs = {
        p.split("/")[0] for p in (set(before) ^ set(after))
        | {p for p in before if p in after and before[p] != after[p]}
    }
    touched_dirs = {p.split("/")[0] for p in changed_dirs}
    assert 0 < len(touched_dirs) <= 3, touched_dirs
    untouched = {p for p in before if p.split("/")[0] not in touched_dirs}
    for p in untouched:
        assert before[p] == after[p], f"untouched file rewritten: {p}"

    # contents identical to the reference full-rewrite MERGE
    got = {(r["k"], r["v"]) for r in wh.read("t").collect()}
    want = {(i, i * 2) for i in range(1000)} - {(1, 2), (2, 4)}
    want |= {(1, 111), (2, 222), (5000, 555)}
    assert got == want

    # idempotence: merging the same source again changes nothing
    wh.merge_upsert("t", src, ["k"])
    assert {(r["k"], r["v"]) for r in wh.read("t").collect()} == want


def test_partitioned_merge_empty_batch_is_noop(spark, tmp_path):
    """An empty micro-batch (e.g. a streaming replay tick with nothing
    new) must leave the partitioned table untouched, not crash on an
    empty staging dir."""
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    wh.overwrite_partitioned("t", base, ["k"], n_buckets=4)
    before = _file_hashes(wh.path("t"))
    wh.merge_upsert("t", base.filter(F.lit(False)), ["k"])
    assert _file_hashes(wh.path("t")) == before
    assert wh.read("t").count() == 100


def test_stage_and_swap_crash_window_falls_back_to_old(spark, tmp_path):
    """A crash between 'move old aside' and 'move staging in' must
    degrade reads to the previous snapshot, not an empty/missing
    table."""
    import os

    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite("t", spark.range(5).select(F.col("id").alias("k")))
    # simulate the crash window: table dir moved aside, nothing swapped in
    os.rename(wh.path("t"), wh.path("t") + ".old")
    assert wh.exists("t")
    assert wh.read("t").count() == 5
    # the next successful write clears the leftover .old
    wh.overwrite("t", spark.range(7).select(F.col("id").alias("k")))
    assert wh.read("t").count() == 7
    assert not os.path.isdir(wh.path("t") + ".old")


def test_pruned_merge_recovers_crashed_swap(spark, tmp_path):
    """A crashed whole-table swap leaves only ``t.old``; the next
    pruned merge must restore the snapshot and merge into it instead of
    raising on the missing live directory (ADVICE r2: the pruned path
    reads path(table) directly, bypassing _live_path)."""
    import os

    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    wh.overwrite_partitioned("t", base, ["k"], n_buckets=4)
    os.rename(wh.path("t"), wh.path("t") + ".old")  # crash window

    src = spark.createDataFrame([(1, 111), (500, 555)], "k long, v long")
    wh.merge_upsert("t", src, ["k"])

    assert not os.path.isdir(wh.path("t") + ".old")
    got = {r["k"]: r["v"] for r in wh.read("t").collect()}
    assert len(got) == 101 and got[1] == 111 and got[500] == 555


def test_pruned_merge_partial_commit_replay_converges(spark, tmp_path):
    """The pruned merge's crash window is per-partition: a crash during
    the dynamic partition overwrite leaves some touched partitions
    merged and others on their previous content. Replaying the same
    micro-batch must converge to the fully-merged table (the
    idempotence contract documented on _merge_pruned)."""
    import os
    import shutil

    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    wh.overwrite_partitioned("t", base, ["k"], n_buckets=8)
    pre = str(tmp_path / "pre")  # pre-merge snapshot, to roll back from
    shutil.copytree(wh.path("t"), pre)
    before = _file_hashes(wh.path("t"))

    src = spark.createDataFrame(
        [(1, 111), (2, 222), (3, 333), (5000, 555)], "k long, v long"
    )
    wh.merge_upsert("t", src, ["k"])
    expected = sorted((r["k"], r["v"]) for r in wh.read("t").collect())

    # simulate the mid-commit crash: roll ONE touched partition back to
    # its pre-merge content, keep the others merged
    after = _file_hashes(wh.path("t"))
    touched = sorted(
        p.split("/")[0]
        for p in {q for q in before if before[q] != after.get(q)}
        | (set(before) ^ set(after))
        if p.startswith("__pkey=")
    )
    assert touched, "merge should have rewritten at least one partition"
    victim = touched[0]
    shutil.rmtree(os.path.join(wh.path("t"), victim))
    shutil.copytree(os.path.join(pre, victim), os.path.join(wh.path("t"), victim))
    assert sorted(
        (r["k"], r["v"]) for r in wh.read("t").collect()
    ) != expected, "rollback should have un-merged something"

    wh.merge_upsert("t", src, ["k"])  # the replay
    assert sorted((r["k"], r["v"]) for r in wh.read("t").collect()) == expected


def test_pruned_merge_drops_stale_old_snapshot(spark, tmp_path):
    """A crash between 'staging -> final' and the '.old' cleanup
    leaves BOTH directories; the pruned path never runs
    _stage_and_swap's own leftover cleanup, so merge_upsert must drop
    the stale shadow copy itself (a full extra copy of the table
    otherwise persists forever)."""
    import os
    import shutil

    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    wh.overwrite_partitioned("t", base, ["k"], n_buckets=4)
    shutil.copytree(wh.path("t"), wh.path("t") + ".old")  # crash leftover

    src = spark.createDataFrame([(1, 111)], "k long, v long")
    wh.merge_upsert("t", src, ["k"])

    assert not os.path.isdir(wh.path("t") + ".old")
    got = {r["k"]: r["v"] for r in wh.read("t").collect()}
    assert len(got) == 100 and got[1] == 111


def test_merge_raises_on_duplicate_source_keys(spark, tmp_path):
    """Real MERGE INTO semantics: several source rows for one key must
    raise, not silently union both copies into the table (which would
    break the key invariant forever). Both the full-rewrite and the
    pruned path check."""
    import pytest

    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 20).select(F.col("id").alias("k"), F.col("id").alias("v"))
    dup = spark.createDataFrame([(1, 10), (1, 11)], "k long, v long")

    wh.overwrite("flat", base)
    with pytest.raises(ValueError, match="multiple rows"):
        wh.merge_upsert("flat", dup, ["k"])

    wh.overwrite_partitioned("part", base, ["k"], n_buckets=4)
    with pytest.raises(ValueError, match="multiple rows"):
        wh.merge_upsert("part", dup, ["k"])


def test_merge_evaluates_source_once(spark, tmp_path):
    """An unpartitioned MERGE runs its source plan once: the source is
    cached, and the write job — whose anti-join keys and written rows
    both read the cache, with the duplicate-key guard riding the
    written rows — fills it, so the rows written are the rows checked.
    A row-counting UDF sees each of the N source rows exactly once
    (twice or more would mean the anti-join and the written rows each
    recomputed the source). A duplicate-key source still raises."""
    import pytest

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite("flat", spark.range(0, 20).select(F.col("id").alias("k"), F.col("id").alias("v")))
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(k):
        seen.add(1)
        return k

    n = 15
    source = spark.range(10, 10 + n).select(
        counted("id").alias("k"), (F.col("id") * 100).alias("v")
    )
    wh.merge_upsert("flat", source, ["k"])
    assert seen.value == n
    got = {r["k"]: r["v"] for r in wh.read("flat").collect()}
    assert len(got) == 10 + n and got[9] == 9 and got[10] == 1000 and got[24] == 2400

    dup = spark.range(0, 4).select(counted(F.col("id") % 2).alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="multiple rows"):
        wh.merge_upsert("flat", dup, ["k"])
    assert wh.read("flat").count() == 10 + n


def _kv_table(spark, wh, layout, rows):
    """Table ``t`` of ``(k, v)`` rows, unpartitioned or in the
    pruned-MERGE layout."""
    df = spark.createDataFrame(rows, "k long, v long")
    if layout == "flat":
        wh.overwrite("t", df)
    else:
        wh.overwrite_partitioned("t", df, ["k"], n_buckets=4)


def _leftovers(wh):
    import os

    return sorted(
        e for e in os.listdir(wh.root)
        if ".staging-" in e or e.endswith(".old")
    ) + sorted(e for e in os.listdir(wh.path("t")) if e.startswith(".old-"))


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
@pytest.mark.parametrize(
    "dup_rows,named",
    [
        ([(1, 10), (1, 11), (2, 20)], "{'k': 1}"),
        ([(None, 10), (None, 11), (2, 20)], "{'k': None}"),
    ],
    ids=["key", "null_key"],
)
def test_merge_duplicate_key_fails_cleanly(spark, tmp_path, layout, dup_rows, named):
    """A source with two rows for one key — two null keys included,
    since grouping puts nulls together — raises a ValueError naming
    the key, leaves the table's rows as they were, and leaves no
    staging or ``.old`` directory behind. On the unpartitioned path
    the guard fails the write job itself."""
    import re

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    rows = [(i, i) for i in range(10)] + [(None, -1)]
    _kv_table(spark, wh, layout, rows)
    dup = spark.createDataFrame(dup_rows, "k long, v long")
    with pytest.raises(ValueError, match="multiple rows for key " + re.escape(named)):
        wh.merge_upsert("t", dup, ["k"])
    nulls_first = lambda r: (r[0] is not None, r[0] or 0)
    assert sorted(map(tuple, wh.read("t").collect()), key=nulls_first) == sorted(rows, key=nulls_first)
    assert _leftovers(wh) == []


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_merge_null_key_never_matches(spark, tmp_path, layout):
    """A null-key source row does not replace a null-key target row —
    the anti-join never matches null — so both survive, next to the
    ordinary update."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    _kv_table(spark, wh, layout, [(1, 1), (None, 2)])
    src = spark.createDataFrame([(1, 10), (None, 20)], "k long, v long")
    wh.merge_upsert("t", src, ["k"])
    got = sorted(wh.read("t").collect(), key=lambda r: (r["k"] is not None, r["v"]))
    assert [tuple(r) for r in got] == [(None, 2), (None, 20), (1, 10)]


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_merge_into_table_without_recorded_schema(spark, tmp_path, layout):
    """Every swap records the table schema in the sidecar, and reads
    and merges use it instead of inferring it. A table written before
    schemas were recorded has no ``schema`` entry: it still reads and
    merges (by inference), and the merge records the schema."""
    import json
    import os

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    _kv_table(spark, wh, layout, [(i, i) for i in range(10)])
    wide = spark.createDataFrame([(5, 5, 5)], "k long, v long, w long")
    # the whole recorded schema is read: a source whose columns differ
    # from the table's is still refused
    with pytest.raises(AnalysisException):
        wh.merge_upsert("t", wide, ["k"])
    sidecar = os.path.join(wh.path("t"), "_wh_meta.json")
    meta = json.load(open(sidecar))
    assert [f["name"] for f in meta.pop("schema")["fields"]][:2] == ["k", "v"]
    if meta:
        with open(sidecar, "w") as fh:
            json.dump(meta, fh)
    else:
        os.remove(sidecar)

    wh.merge_upsert("t", spark.createDataFrame([(3, 30), (42, 420)], "k long, v long"), ["k"])
    got = {r["k"]: r["v"] for r in wh.read("t").collect()}
    assert len(got) == 11 and got[3] == 30 and got[42] == 420 and got[9] == 9
    assert ("schema" in wh._meta("t")) == (layout == "flat")  # a swap re-records it
    with pytest.raises(AnalysisException):
        wh.merge_upsert("t", wide, ["k"])


def test_merge_into_empty_partitioned_table(spark, tmp_path):
    """The create-empty-then-stream-into lifecycle: a partitioned
    table created with zero rows has no partition dirs, so the pruned
    merge must append the first batch instead of failing parquet
    schema inference on a part-file-less directory."""
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    empty = spark.range(0).select(F.col("id").alias("k"), F.col("id").alias("v"))
    wh.overwrite_partitioned("t", empty, ["k"], n_buckets=4)
    src = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    wh.merge_upsert("t", src, ["k"])
    assert sorted((r["k"], r["v"]) for r in wh.read("t").collect()) == [(1, 10), (2, 20)]
    # and a second merge goes through the normal pruned path
    wh.merge_upsert("t", spark.createDataFrame([(2, 22)], "k long, v long"), ["k"])
    got = {r["k"]: r["v"] for r in wh.read("t").collect()}
    assert got == {1: 10, 2: 22}


def test_merge_sweeps_stale_staging_dirs(spark, tmp_path):
    """Crashed staging writes leave <table>.staging-* copies; the next
    merge must sweep them (they only ever go live via rename, so any
    survivor is garbage) instead of leaking table-sized directories."""
    import os

    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    wh.overwrite("t", base)
    stale = wh.path("t") + ".staging-deadbeef"
    os.makedirs(stale)
    wh.merge_upsert("t", spark.createDataFrame([(1, 11)], "k long, v long"), ["k"])
    assert not os.path.isdir(stale)
    assert wh.read("t").count() == 10


def test_partitioned_merge_key_mismatch_raises(spark, tmp_path):
    """Merging a partitioned table on keys other than its partition
    keys must raise instead of silently rewriting the table without its
    layout (ADVICE r2)."""
    import pytest

    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 50).select(
        F.col("id").alias("k"), F.col("id").alias("other"), (F.col("id") * 2).alias("v")
    )
    wh.overwrite_partitioned("t", base, ["k"], n_buckets=4)
    with pytest.raises(ValueError, match="partitioned on"):
        wh.merge_upsert("t", base, ["other"])
    # and the layout survived the failed call
    assert wh._meta("t")["partition_keys"] == ["k"]


def test_pruned_merge_parked_partition_recovers(spark, tmp_path):
    """A crash between 'park old partition dir' and 'rename new dir in'
    leaves ``.old-__pkey=N`` with no live ``__pkey=N`` — the previous
    snapshot must be restored (no crash instant destroys data), and a
    stale park next to a live partition must be swept. Hidden dirs are
    invisible to Spark reads either way."""
    import os
    import shutil

    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    wh.overwrite_partitioned("t", base, ["k"], n_buckets=8)
    before = sorted((r["k"], r["v"]) for r in wh.read("t").collect())

    # simulate the crash: one partition parked, nothing renamed in
    part = next(
        e for e in os.listdir(wh.path("t")) if e.startswith("__pkey=")
    )
    os.rename(
        os.path.join(wh.path("t"), part),
        os.path.join(wh.path("t"), ".old-" + part),
    )
    # a reader between crash and recovery skips the hidden dir
    assert len(wh.read("t").collect()) < len(before)

    src = spark.createDataFrame([(1, 111)], "k long, v long")
    wh.merge_upsert("t", src, ["k"])  # recovery runs first, then merges
    got = sorted((r["k"], r["v"]) for r in wh.read("t").collect())
    assert got == sorted([(k, 111 if k == 1 else v) for k, v in before])
    assert not any(
        e.startswith(".old-") for e in os.listdir(wh.path("t"))
    )

    # stale park next to a live partition: swept, content untouched
    shutil.copytree(
        os.path.join(wh.path("t"), part),
        os.path.join(wh.path("t"), ".old-" + part),
    )
    wh.merge_upsert("t", src, ["k"])
    assert not any(
        e.startswith(".old-") for e in os.listdir(wh.path("t"))
    )
    assert sorted((r["k"], r["v"]) for r in wh.read("t").collect()) == got


def test_incremental_agg_matches_full_recompute(spark, tmp_path):
    """IVM over an append-only source: after several ticks the
    maintained view must EQUAL the from-scratch aggregate, touched-
    group folding included; idle and replayed ticks are no-ops; a
    tick's cost model is visible in the merge manifest (directories
    outside the delta's key envelope carried, not rewritten)."""
    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm = IncrementalAgg(
        spark, src, view, group_cols=["k"], sum_cols=["v"]
    )

    def wave(rows):
        src.append(
            spark.createDataFrame(rows, "k long, v double").coalesce(1)
        )

    wave([(1, 1.0), (1, 2.0), (2, 5.0)])
    assert ivm.tick() is not None
    wave([(2, 1.0), (3, 9.0)])          # touches groups 2,3 only
    assert ivm.tick() is not None
    assert ivm.tick() is None           # idle: nothing new
    wave([(1, 0.5)])
    assert ivm.tick() is not None

    got = {
        (r["k"], r["n_rows"], r["sum_v"]) for r in view.read().collect()
    }
    from pyspark.sql import functions as SF

    want = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in src.read()
        .groupBy("k")
        .agg(SF.count("*").alias("n_rows"), SF.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want == {(1, 3, 3.5), (2, 2, 6.0), (3, 1, 9.0)}


def test_incremental_agg_refuses_null_group_keys(spark, tmp_path):
    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    src.append(spark.createDataFrame([(None, 1.0)], "k long, v double"))
    ivm = IncrementalAgg(spark, src, view, group_cols=["k"], sum_cols=["v"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="null values in group"):
        ivm.tick()


def test_incremental_agg_empty_delta_advances_cursor_cheaply(spark, tmp_path):
    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm = IncrementalAgg(spark, src, view, group_cols=["k"], sum_cols=["v"])
    src.append(spark.createDataFrame([(1, 2.0)], "k long, v double"))
    ivm.tick()
    dirs_before = view.history()[-1]["dirs"]
    # an empty source version (e.g. an empty streaming batch)
    src.append(
        spark.createDataFrame([], "k long, v double")
    )
    v = ivm.tick()
    assert v is not None  # cursor advanced
    m = view.history()[-1]
    assert m["op"] == "append"  # NOT a merge: no view rewrite happened
    assert set(dirs_before) <= set(m["dirs"])
    assert ivm.tick() is None  # and the cursor really moved
    got = {(r["k"], r["n_rows"]) for r in view.read().collect()}
    assert got == {(1, 1)}


def test_incremental_agg_subtractive_delete_and_merge(spark, tmp_path):
    """Subtractive IVM (VERDICT r5 #4): source delete_where and keyed
    merge maintain the view through signed retractions — after every
    tick the view EQUALS the from-scratch aggregate, and a group whose
    last row is retracted disappears from the view entirely."""
    from pyspark.sql import functions as SF

    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm = IncrementalAgg(spark, src, view, group_cols=["k"], sum_cols=["v"])

    def check():
        got = {
            (r["k"], r["n_rows"], r["sum_v"]) for r in view.read().collect()
        }
        want = {
            (r["k"], r["n_rows"], r["sum_v"])
            for r in src.read()
            .groupBy("k")
            .agg(SF.count("*").alias("n_rows"), SF.sum("v").alias("sum_v"))
            .collect()
        }
        assert got == want, (got, want)
        return got

    src.append(
        spark.createDataFrame(
            [(1, 1.0), (1, 2.0), (2, 5.0), (3, 4.0)], "k long, v double"
        ).coalesce(1)
    )
    assert ivm.tick() is not None
    check()

    # delete one of group 1's rows and ALL of group 3 (v >= 4 hits
    # both 3's row and nothing else), then append to group 2
    src.delete_where([("v", ">=", 4.0)])
    src.append(
        spark.createDataFrame([(2, 1.0)], "k long, v double").coalesce(1)
    )
    assert ivm.tick() is not None
    got = check()
    assert 3 not in {k for k, _, _ in got}  # zero-count group DELETED

    # keyed merge: replace group 1's remaining rows via upsert
    src.merge(
        spark.createDataFrame([(10, 1, 9.0)], "id long, k long, v double"),
        keys=["k"],
    )
    assert ivm.tick() is not None
    # merge evolved src schema (added id); recompute ignores it
    check()

    # replayed tick stays a no-op
    assert ivm.tick() is None


def test_incremental_agg_ignores_pure_rewrites(spark, tmp_path):
    """compact()/optimize() net no row-level change — the signed feed
    cancels, so the tick advances the cursor with an EMPTY append
    instead of re-folding (or worse, double-counting) the view."""
    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm = IncrementalAgg(spark, src, view, group_cols=["k"], sum_cols=["v"])
    src.append(
        spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, v double")
    )
    ivm.tick()
    src.compact()  # pure rewrite: same rows, one directory
    v = ivm.tick()
    assert v is not None
    assert view.history()[-1]["op"] == "append"  # cursor-advance only
    assert ivm.tick() is None
    got = {(r["k"], r["n_rows"], r["sum_v"]) for r in view.read().collect()}
    assert got == {(1, 1, 2.0), (2, 1, 3.0)}


def test_incremental_agg_refuses_negative_counts(spark, tmp_path):
    """A retraction the view never absorbed (external edits to the
    view) must raise, not silently commit a negative count."""
    import pytest as _pytest

    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm = IncrementalAgg(spark, src, view, group_cols=["k"], sum_cols=["v"])
    src.append(
        spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, v double").coalesce(1)
    )
    ivm.tick()
    view.delete_where([("k", "=", 1)])  # hostile external edit
    src.delete_where([("k", "=", 1)])   # retraction of group 1
    with _pytest.raises(ValueError, match="below zero"):
        ivm.tick()


def test_incremental_agg_fold_prunes_to_touched_buckets(spark, tmp_path):
    """VERDICT r5 #5 'done' bar: under an ADVERSARIALLY interleaved
    key space (hash-ordered keys — every file's group-key min/max
    spans essentially the whole domain, so the range envelope proves
    nothing), a small-delta tick must still read a STRICT SUBSET of
    the view's files, via the persisted __kb bucket layout and the
    in-set stats proof."""
    from pyspark.sql import functions as SF

    from data_engineer_challenge_spark.operators.ivm import (
        BUCKET_COL,
        IncrementalAgg,
    )
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm = IncrementalAgg(
        spark, src, view, group_cols=["k"], sum_cols=["v"], n_buckets=16
    )
    # 1000 groups; key order deliberately scrambled relative to any
    # range clustering (the keys themselves are spread over a huge
    # domain so min/max envelopes are useless)
    rows = [((i * 2654435761) % 1_000_003, float(i)) for i in range(1000)]
    src.append(spark.createDataFrame(rows, "k long, v double").coalesce(4))
    assert ivm.tick() is not None

    all_files = set(view.read().inputFiles())
    assert len(all_files) > 4  # bucketed bootstrap: many tight files

    # spy on the view reads the NEXT tick performs
    orig_read = view.read
    seen = []

    def spy(version=None, where=None):
        df = orig_read(version=version, where=where)
        seen.append((where, set(df.inputFiles())))
        return df

    view.read = spy
    try:
        # small delta: one existing group gets one more row
        k0 = rows[17][0]
        src.append(
            spark.createDataFrame([(k0, 10.0)], "k long, v double").coalesce(1)
        )
        assert ivm.tick() is not None
    finally:
        view.read = orig_read

    fold_reads = [
        (w, files)
        for w, files in seen
        if w and any(t[0] == BUCKET_COL and t[1] == "in" for t in w)
    ]
    assert fold_reads, f"no bucket-pruned fold read seen: {seen}"
    (where, files) = fold_reads[0]
    assert files < all_files, "fold read did not prune the view's files"
    assert len(files) <= max(1, len(all_files) // 4)  # genuinely pruned

    # and the maintained view still equals the full recompute
    got = {
        (r["k"], r["n_rows"], r["sum_v"]) for r in ivm.read_view().collect()
    }
    want = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in src.read()
        .groupBy("k")
        .agg(SF.count("*").alias("n_rows"), SF.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want


def test_incremental_agg_upgrades_legacy_unbucketed_view(spark, tmp_path):
    """A view bootstrapped by the pre-bucketing maintainer (no __kb
    column) must be upgraded with a one-time full restamp on the next
    tick — merely skipping the bucket filter once is NOT enough: the
    first new-layout merge evolves the schema while old rows keep
    NULL stamps, and the following tick's exact `__kb in touched`
    filter would drop them before any restamp, silently losing their
    counts. Two post-upgrade ticks over existing groups must still
    equal the full recompute."""
    from pyspark.sql import functions as SF

    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    src.append(
        spark.createDataFrame(
            [(1, 1.0), (1, 2.0), (2, 5.0)], "k long, v double"
        ).coalesce(1),
        txn="b0",
    )
    # hand-build the LEGACY bootstrap: the aggregate WITHOUT __kb,
    # committed under the cursor/txn a pre-bucketing tick would use
    legacy = (
        src.read()
        .groupBy("k")
        .agg(
            SF.count("*").cast("long").alias("n_rows"),
            SF.sum("v").alias("sum_v"),
        )
    )
    view.append(
        legacy, txn=f"ivm-{src.current_version()}",
        cursor=("ivm", src.current_version()),
    )
    ivm = IncrementalAgg(spark, src, view, group_cols=["k"], sum_cols=["v"])
    assert ivm.tick() is None  # cursor is current; upgrade may still run

    # two more waves touching EXISTING groups — the second tick is the
    # one the unfixed code corrupted (old rows carried null __kb)
    src.append(
        spark.createDataFrame([(1, 10.0), (3, 7.0)], "k long, v double")
        .coalesce(1)
    )
    assert ivm.tick() is not None
    src.append(
        spark.createDataFrame([(2, 1.0), (1, 0.5)], "k long, v double")
        .coalesce(1)
    )
    assert ivm.tick() is not None

    got = {
        (r["k"], r["n_rows"], r["sum_v"]) for r in ivm.read_view().collect()
    }
    want = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in src.read()
        .groupBy("k")
        .agg(SF.count("*").cast("long").alias("n_rows"), SF.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want == {(1, 4, 13.5), (2, 2, 6.0), (3, 1, 7.0)}


def test_incremental_agg_pins_layout_parameters(spark, tmp_path):
    """Reopening a maintained view with a different n_buckets (or key
    set) must raise: mismatched __kb stamps silently violate merge's
    in_cols contract — old rows get excluded from folds and the group
    ends up with duplicate rows, with no error anywhere downstream."""
    import pytest

    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    IncrementalAgg(
        spark, src, view, group_cols=["k"], sum_cols=["v"], n_buckets=8
    )
    with pytest.raises(ValueError, match="laid"):
        IncrementalAgg(
            spark, src, view, group_cols=["k"], sum_cols=["v"], n_buckets=4
        )
    with pytest.raises(ValueError, match="laid"):
        IncrementalAgg(
            spark, src, view, group_cols=["k2"], sum_cols=["v"], n_buckets=8
        )
    # same parameters reopen cleanly
    IncrementalAgg(
        spark, src, view, group_cols=["k"], sum_cols=["v"], n_buckets=8
    )


def test_incremental_agg_adopts_pre_sidecar_view_with_different_buckets(
    spark, tmp_path
):
    """A view whose sidecar is missing but which already holds data
    (pre-sidecar history) may carry stamps from ANY layout — writing
    the sidecar immediately would pin current params against unknown
    stamps. The maintainer must instead restamp the whole view under
    its own layout on the next fold and only then pin: here the view
    is laid out under n_buckets=8, the sidecar is removed, and a
    reopen under n_buckets=4 must still fold to the exact full
    recompute (the unfixed adoption left the mod-8 stamps in place
    and produced duplicate group rows)."""
    import os

    from pyspark.sql import functions as SF

    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm8 = IncrementalAgg(
        spark, src, view, group_cols=["k"], sum_cols=["v"], n_buckets=8
    )
    src.append(
        spark.createDataFrame(
            [(1, 1.0), (2, 5.0), (3, 2.0)], "k long, v double"
        ).coalesce(1)
    )
    assert ivm8.tick() is not None
    os.remove(os.path.join(view.path, "ivm_meta.json"))

    ivm4 = IncrementalAgg(
        spark, src, view, group_cols=["k"], sum_cols=["v"], n_buckets=4
    )
    src.append(
        spark.createDataFrame([(1, 10.0), (2, 1.0)], "k long, v double")
        .coalesce(1)
    )
    assert ivm4.tick() is not None
    src.append(
        spark.createDataFrame([(3, 0.5)], "k long, v double").coalesce(1)
    )
    assert ivm4.tick() is not None

    got = {
        (r["k"], r["n_rows"], r["sum_v"]) for r in ivm4.read_view().collect()
    }
    want = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in src.read()
        .groupBy("k")
        .agg(SF.count("*").cast("long").alias("n_rows"), SF.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want == {(1, 2, 11.0), (2, 2, 6.0), (3, 2, 2.5)}
    # the sidecar is pinned again after adoption
    assert os.path.exists(os.path.join(view.path, "ivm_meta.json"))
