"""Manifest-committed SnapshotTable: atomicity, snapshot isolation,
time travel, crash-orphan invisibility, vacuum, commit races."""

from __future__ import annotations

import json
import os

import pytest

from data_engineer_challenge_spark.operators.snapshot import (
    CommitConflict,
    SnapshotTable,
)


def _df(spark, rows):
    return spark.createDataFrame([(i, f"r{i}") for i in rows], "id long, v string")


def _ids(df):
    return {r["id"] for r in df.collect()}


def test_append_replace_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, [1, 2]))
    v1 = t.append(_df(spark, [3]))
    v2 = t.replace(_df(spark, [9]))
    assert (v0, v1, v2) == (0, 1, 2)
    assert _ids(t.read()) == {9}
    assert _ids(t.read(version=v1)) == {1, 2, 3}  # time travel
    assert _ids(t.read(version=v0)) == {1, 2}
    ops = [m["op"] for m in t.history()]
    assert ops == ["append", "append", "replace"]


def test_reader_snapshot_stable_under_concurrent_replace(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1, 2]))
    snap = t.read()  # resolves the v0 manifest NOW
    t.replace(_df(spark, [100]))
    # the in-flight reader keeps its snapshot: commits never mutate or
    # delete published directories
    assert _ids(snap) == {1, 2}
    assert _ids(t.read()) == {100}


def test_crashed_commit_is_invisible_and_vacuumed(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1]))
    # simulate a writer dying AFTER its data write, BEFORE its manifest
    # publish: write a commit dir by hand with no manifest reference
    orphan, _ = t._write_commit_dir(_df(spark, [777]))
    assert _ids(t.read()) == {1}  # invisible to readers
    # default retention protects a fresh dir (it could be an in-flight
    # commit); an aged-out orphan sweeps
    assert orphan not in t.vacuum(keep_versions=1)
    removed = t.vacuum(keep_versions=1, min_age_seconds=0)
    assert orphan in removed
    assert _ids(t.read()) == {1}  # kept version untouched


def test_vacuum_expires_history_keeps_current(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1]))
    t.append(_df(spark, [2]))
    t.replace(_df(spark, [3]))
    t.vacuum(keep_versions=1)
    assert _ids(t.read()) == {3}
    assert t.versions() == [2]  # history expired
    with pytest.raises(FileNotFoundError):
        t.read(version=0)


def test_commit_race_loser_retries_next_slot(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1]))
    # steal the next version slot, as a racing writer would
    stolen = t._manifest_path(1)
    with open(stolen, "w") as f:
        json.dump({"op": "append", "dirs": t._manifest(0)["dirs"],
                   "version": 1, "base_version": 0}, f)
    v = t.append(_df(spark, [2]))
    assert v == 2  # lost v1, landed v2
    assert _ids(t.read()) == {1, 2}


def test_compact_folds_dirs_preserving_rows(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, [i]))
    assert len(t._manifest(t.current_version())["dirs"]) == 4
    t.compact()
    assert len(t._manifest(t.current_version())["dirs"]) == 1
    assert _ids(t.read()) == {0, 1, 2, 3}


def test_publish_gives_up_after_persistent_conflict(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1]))
    real_link = os.link

    def always_exists(src, dst, *a, **k):
        if dst.startswith(t._manifest_dir()):
            raise FileExistsError(dst)
        return real_link(src, dst, *a, **k)

    import data_engineer_challenge_spark.operators.snapshot as S

    orig = S.os.link
    S.os.link = always_exists
    try:
        with pytest.raises(CommitConflict):
            t.append(_df(spark, [2]))
    finally:
        S.os.link = orig


def test_txn_append_is_idempotent_under_replay(spark, tmp_path):
    """The streaming-sink pattern: a replayed micro-batch (same txn id)
    must be a no-op instead of duplicating rows; distinct batches with
    distinct txns all land."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v = t.append(_df(spark, [1, 2]), txn="ingest-0")
    assert v == 0
    assert t.append(_df(spark, [1, 2]), txn="ingest-0") is None  # replay
    assert _ids(t.read()) == {1, 2}
    assert t.append(_df(spark, [3]), txn="ingest-1") == 1
    assert _ids(t.read()) == {1, 2, 3}
    # and a replay of the FIRST batch after later commits is still a no-op
    assert t.append(_df(spark, [1, 2]), txn="ingest-0") is None
    assert _ids(t.read()) == {1, 2, 3}


def test_append_race_does_not_lose_the_racers_rows(spark, tmp_path):
    """Lost-update guard: if a racing append commits between our dirs
    computation and our publish, the retry must fold the racer's
    directory in — not resurrect the stale pre-race dirs list."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1]))

    # interpose on the manifest link: the FIRST attempt finds the slot
    # taken because a racer (simulated here) just committed
    real_link = os.link
    state = {"raced": False}

    def race_once(src, dst, *a, **k):
        if not state["raced"] and dst.startswith(t._manifest_dir()):
            state["raced"] = True
            # the racer commits row 50 into the contended slot
            rdir, _ = t._write_commit_dir(_df(spark, [50]))
            base = t._manifest(t.current_version())["dirs"]
            with open(dst, "w") as f:
                json.dump(
                    {"op": "append", "dirs": [*base, rdir],
                     "version": t.current_version() + 1,
                     "base_version": t.current_version()}, f)
            raise FileExistsError(dst)
        return real_link(src, dst, *a, **k)

    import data_engineer_challenge_spark.operators.snapshot as S

    S.os.link = race_once
    try:
        t.append(_df(spark, [2]))
    finally:
        S.os.link = real_link
    # all three writers' rows survive
    assert _ids(t.read()) == {1, 2, 50}


def test_vacuum_rejects_keeping_nothing(spark, tmp_path):
    """keep_versions=0 would delete every data dir while manifests
    still reference them — refused."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1]))
    with pytest.raises(ValueError, match="at least 1"):
        t.vacuum(keep_versions=0)
    assert _ids(t.read()) == {1}


def test_random_walk_matches_model(spark, tmp_path):
    """Seeded random sequence of append/replace/compact/txn-append/
    vacuum against a pure-Python model: read() must always equal the
    model's multiset, versions stay strictly monotonic, and history
    length never exceeds commit count."""
    import random

    rng = random.Random(99)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    model: list[int] = []
    next_id = 0
    seen_txns: set[str] = set()
    last_version = -1
    for step in range(22):
        op = rng.choice(["append", "append", "replace", "txn", "compact", "vacuum"])
        rows = [next_id + i for i in range(rng.randint(1, 3))]
        next_id += len(rows)
        if op == "append":
            v = t.append(_df(spark, rows))
            model.extend(rows)
        elif op == "replace":
            v = t.replace(_df(spark, rows))
            model = list(rows)
        elif op == "txn":
            txn = f"walk-{rng.randint(0, 5)}"  # small space -> replays happen
            v = t.append(_df(spark, rows), txn=txn)
            if txn in seen_txns:
                assert v is None  # replay absorbed
                continue
            seen_txns.add(txn)
            model.extend(rows)
        elif op == "compact":
            v = t.compact()
        else:
            t.vacuum(keep_versions=1, min_age_seconds=0)
            # txns ride the rolling manifest map, so they SURVIVE
            # vacuum (within the _TXN_WINDOW) — the model keeps them
            continue
        assert v is not None and v > last_version
        last_version = v
        got = sorted(r["id"] for r in t.read().collect())
        assert got == sorted(model), (step, op, got, model)


def test_txn_window_trims_oldest(spark, tmp_path, monkeypatch):
    """The rolling txn map is bounded by _TXN_WINDOW: the newest ids
    survive every commit, the oldest fall out — so a replay INSIDE the
    window absorbs and a replay OLDER than the window (the documented
    trade) would land again. Pins the trim so the bound is real, not
    aspirational."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    monkeypatch.setattr(SnapshotTable, "_TXN_WINDOW", 3)
    for i in range(5):
        t.append(_df(spark, [i]), txn=f"b-{i}")
    txns = t._manifest(t.current_version())["txns"]
    assert set(txns) == {"b-2", "b-3", "b-4"}  # newest 3 kept
    # inside the window: absorbed
    assert t.append(_df(spark, [99]), txn="b-3") is None
    # older than the window: forgotten -> lands again (documented)
    assert t.append(_df(spark, [0]), txn="b-0") is not None


def test_commit_coordinator_seam(spark, tmp_path):
    """The mutual-exclusion primitive is injectable (the S3/DynamoDB
    deployment seam): a coordinator that always reports a lost race
    must surface CommitConflict without ever publishing; a counting
    pass-through coordinator must be the one actually used."""
    from data_engineer_challenge_spark.operators.snapshot import (
        _posix_exclusive_link,
    )

    calls = []

    def counting(tmp, dst):
        calls.append(dst)
        return _posix_exclusive_link(tmp, dst)

    t = SnapshotTable(spark, str(tmp_path / "t"), commit_coordinator=counting)
    t.append(_df(spark, [1]))
    assert len(calls) == 1 and calls[0].endswith("v000000000000.json")
    assert _ids(t.read()) == {1}

    always_loses = SnapshotTable(
        spark, str(tmp_path / "t2"), commit_coordinator=lambda tmp, dst: False
    )
    with pytest.raises(CommitConflict):
        always_loses.append(_df(spark, [2]))
    assert always_loses.current_version() is None  # nothing published


# -- data skipping / delete_where / change feed ----------------------


def _keyed(spark, lo, hi):
    """Rows with id in [lo, hi) — one commit per key range, so the
    manifest stats give each directory a disjoint [min, max]."""
    return spark.createDataFrame(
        [(i, f"r{i}") for i in range(lo, hi)], "id long, v string"
    )


def test_commit_stats_recorded_from_footers(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 100))
    st = t.history()[-1]["stats"]
    (dstats,) = st.values()
    assert dstats["rows"] == 100
    assert dstats["cols"]["id"] == {"min": 0, "max": 99, "nulls": 0}
    assert dstats["cols"]["v"]["min"] == "r0"


def test_read_where_prunes_directories_and_matches_filter(spark, tmp_path):
    """The hard evidence: a stats-pruned read's inputFiles() touch ONLY
    the directories whose [min,max] overlaps the predicate, and the
    rows equal the unpruned read + exact filter."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 100))
    t.append(_keyed(spark, 100, 200))
    t.append(_keyed(spark, 200, 300))
    dirs = t.history()[-1]["dirs"]

    got = t.read(where=[("id", ">=", 120), ("id", "<", 180)])
    assert {os.path.basename(os.path.dirname(f)) for f in got.inputFiles()} == {
        dirs[1]
    }
    want = {r["id"] for r in t.read().where("id >= 120 AND id < 180").collect()}
    assert _ids(got) == want == set(range(120, 180))

    # equality point-lookup prunes to one directory too
    one = t.read(where=[("id", "=", 250)])
    assert {os.path.basename(os.path.dirname(f)) for f in one.inputFiles()} == {
        dirs[2]
    }
    assert _ids(one) == {250}

    # a predicate no directory can satisfy: zero rows, correct schema
    none = t.read(where=[("id", ">", 10_000)])
    assert none.columns == ["id", "v"]
    assert none.count() == 0

    # string stats prune as well
    sv = t.read(where=[("v", "=", "r42")])
    assert _ids(sv) == {42}
    assert {os.path.basename(os.path.dirname(f)) for f in sv.inputFiles()} <= {
        dirs[0]
    }


def test_read_where_keeps_dirs_without_stats(spark, tmp_path):
    """Directories committed before the stats tier (manifest carries no
    entry) are NEVER pruned — skipping must be a proof, not a guess."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 50))
    # simulate a legacy manifest: strip the stats map in place
    mp = t._manifest_path(0)
    m = json.load(open(mp))
    del m["stats"]
    os.unlink(mp)
    json.dump(m, open(mp, "w"))
    got = t.read(where=[("id", ">", 10_000)])
    assert got.count() == 0  # exact filter still applies
    assert len(got.inputFiles()) > 0  # but the dir was scanned, not skipped


def test_delete_where_rewrites_only_overlapping_dirs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 100))
    t.append(_keyed(spark, 100, 200))
    t.append(_keyed(spark, 200, 300))
    before = t.history()[-1]["dirs"]
    v = t.delete_where([("id", ">=", 150), ("id", "<", 160)])
    m = t.history()[-1]
    assert m["op"] == "delete" and m["version"] == v
    # dirs 0 and 2 carried AS-IS (same directory names — zero IO);
    # dir 1 replaced by exactly one rewritten directory
    assert before[0] in m["dirs"] and before[2] in m["dirs"]
    assert before[1] not in m["dirs"]
    assert m["rewrote"] == 1 and len(m["dirs"]) == 3
    assert _ids(t.read()) == set(range(0, 300)) - set(range(150, 160))
    # time travel still sees the pre-delete snapshot
    assert _ids(t.read(version=v - 1)) == set(range(0, 300))
    # the rewritten directory's stats were harvested on write
    new_dir = next(d for d in m["dirs"] if d not in before)
    assert m["stats"][new_dir]["cols"]["id"] == {
        "min": 100, "max": 199, "nulls": 0,
    }


def test_delete_where_conflicts_with_concurrent_commit(spark, tmp_path):
    """A commit landing between delete_where's snapshot resolution and
    its publish must fail the delete (serializable), not silently drop
    the racer's rows."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 10))
    real_publish = t._publish

    def racing_publish(build, **kw):
        t2 = SnapshotTable(spark, t.path)
        t2.append(_keyed(spark, 100, 110))  # the racer lands first
        return real_publish(build, **kw)

    t._publish = racing_publish
    with pytest.raises(CommitConflict):
        t.delete_where([("id", "<", 5)])
    # nothing lost: racer's rows and the would-be-deleted rows intact
    assert _ids(t.read()) == set(range(0, 10)) | set(range(100, 110))


def test_read_changes_append_only_feed(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 10))  # v0
    t.append(_keyed(spark, 10, 20))  # v1
    t.append(_keyed(spark, 20, 30))  # v2
    assert _ids(t.read_changes(0)) == set(range(10, 30))
    assert _ids(t.read_changes(0, 1)) == set(range(10, 20))
    assert t.read_changes(2).count() == 0  # empty range, schema intact
    t.replace(_keyed(spark, 0, 5))  # v3: history rewritten
    with pytest.raises(ValueError, match="not append"):
        t.read_changes(1)
    assert _ids(t.read_changes(3, 3)) == set()  # post-replace empty range ok


# -- optimize: clustering + file-level skipping ----------------------


def _nfiles(df):
    return len(set(df.inputFiles()))


def test_optimize_clusters_then_files_prune(spark, tmp_path):
    """Before optimize, ids are striped across every commit (mod 3) so
    NO directory- or file-level range proof exists and a point lookup
    scans everything; after optimize(by='id') the same lookup touches
    exactly the one file whose range holds the key."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for r in range(3):  # dir i holds ids ≡ i (mod 3): all dirs span 0..900
        t.append(
            spark.createDataFrame(
                [(i,) for i in range(r, 900, 3)], "id long"
            ).coalesce(1)
        )
    before = t.read(where=[("id", "=", 451)])
    assert _nfiles(before) == 3  # stats can't prune interleaved commits
    assert _ids(before) == {451}

    v = t.optimize(by="id", n_files=8)
    m = t.history()[-1]
    assert m["op"] == "optimize" and len(m["dirs"]) == 1
    assert len(m["stats"][m["dirs"][0]]["files"]) == 8
    after = t.read(where=[("id", "=", 451)])
    assert _nfiles(after) == 1  # file-level stats now prove 7 of 8 away
    assert _ids(after) == {451}
    # range scan touches only overlapping files, result identical
    rng = t.read(where=[("id", ">=", 100), ("id", "<", 220)])
    assert _nfiles(rng) <= 2
    assert _ids(rng) == set(range(100, 220))
    # and the rewrite changed no rows at all
    assert _ids(t.read()) == set(range(0, 900))
    assert _ids(t.read(version=v - 1)) == set(range(0, 900))  # time travel


def test_optimize_zorder_prunes_on_both_keys(spark, tmp_path):
    """Z-order on (x, y): a 64x64 grid. A lexicographic sort by x would
    leave y's per-file ranges spanning the whole domain (no y pruning);
    the Z-clustered layout must prune MOST files for a narrow range on
    EITHER key alone."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(x, y) for x in range(64) for y in range(64)], "x long, y long"
        )
    )
    t.optimize(by=["x", "y"], n_files=16, zorder=True)
    total = _nfiles(t.read())
    assert total == 16
    for col in ("x", "y"):
        got = t.read(where=[(col, ">=", 8), (col, "<", 16)])
        assert _nfiles(got) <= total // 2, f"no skipping on {col}"
        rows = {(r["x"], r["y"]) for r in got.collect()}
        assert rows == {
            (x, y)
            for x in range(64)
            for y in range(64)
            if 8 <= (x if col == "x" else y) < 16
        }


def test_optimize_conflicts_with_concurrent_commit(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 10))
    real_publish = t._publish

    def racing_publish(build, **kw):
        SnapshotTable(spark, t.path).append(_keyed(spark, 100, 110))
        return real_publish(build, **kw)

    t._publish = racing_publish
    with pytest.raises(CommitConflict):
        t.optimize(by="id", n_files=2)
    assert _ids(t.read()) == set(range(0, 10)) | set(range(100, 110))


def test_optimize_zorder_requires_stats_and_two_cols(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 10))
    with pytest.raises(ValueError, match="two or more"):
        t.optimize(by="id", zorder=True)
    with pytest.raises(ValueError, match="no numeric manifest stats"):
        t.optimize(by=["id", "nope"], zorder=True)


# -- schema evolution ------------------------------------------------


def test_schema_evolution_add_column(spark, tmp_path):
    """An append may ADD nullable columns; older directories read back
    with the new column null, WITHOUT a mergeSchema footer sweep (the
    manifest carries the committed schema). Time travel reproduces the
    historical schema, and a type change is refused."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1, 2]))  # id, v
    t.append(
        spark.createDataFrame(
            [(3, "r3", "fr")], "id long, v string, lang string"
        )
    )
    cur = t.read()
    assert cur.columns == ["id", "v", "lang"]
    got = {(r["id"], r["lang"]) for r in cur.collect()}
    assert got == {(1, None), (2, None), (3, "fr")}
    # historical schema is the historical schema
    assert t.read(version=0).columns == ["id", "v"]
    # stats-pruned reads see the evolved schema too
    assert t.read(where=[("id", "=", 1)]).columns == ["id", "v", "lang"]
    # change feed across the evolution reads consistently
    assert t.read_changes(0).columns == ["id", "v", "lang"]
    # type change: refused, table intact
    with pytest.raises(ValueError, match="cannot change column"):
        t.append(spark.createDataFrame([("x", "r")], "id string, v string"))
    assert t.current_version() == 1


def test_schema_evolution_survives_delete_and_optimize(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1, 2, 3]))
    t.append(
        spark.createDataFrame([(4, "r4", 9.5)], "id long, v string, score double")
    )
    t.delete_where([("id", "=", 2)])
    assert t.read().columns == ["id", "v", "score"]
    t.optimize(by="id", n_files=2)
    got = {(r["id"], r["score"]) for r in t.read().collect()}
    assert got == {(1, None), (3, None), (4, 9.5)}


def test_stats_survive_empty_part_files(spark, tmp_path):
    """Spark emits zero-row part files for near-empty dataframes;
    those must not erase the directory's stats (regression: the
    column-set intersection across files included empty files, which
    nondeterministically blanked stats and downgraded every
    stats-dependent path to worst-case)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # 3 rows across the session's full default parallelism: most
    # partitions are empty
    t.append(
        spark.createDataFrame([(i, f"r{i}") for i in [1, 2, 3]],
                              "id long, v string").repartition(32)
    )
    st = t.history()[-1]["stats"]
    (d,) = st.values()
    assert d["cols"]["id"] == {"min": 1, "max": 3, "nulls": 0}


def test_delete_rewrite_preserves_evolved_columns(spark, tmp_path):
    """A delete whose touched set straddles a schema evolution must
    rewrite through the manifest schema — an unpinned read would adopt
    one file's footer and silently null the newer columns."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(1, 11)], "id long, v string"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}", float(i)) for i in range(5, 16)],
            "id long, v string, score double",
        ).coalesce(1)
    )
    # id=7 lives in BOTH directories' ranges: both get rewritten
    t.delete_where([("id", "=", 7)])
    assert t.history()[-1]["rewrote"] == 2
    got = {(r["id"], r["score"]) for r in t.read().collect()}
    assert (7, None) not in got and (7, 7.0) not in got
    assert {(5, None), (5, 5.0), (15, 15.0), (1, None)} <= got


# -- keyed MERGE -----------------------------------------------------


def test_merge_upserts_and_carries_unaffected_dirs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 100))
    t.append(_keyed(spark, 100, 200))
    t.append(_keyed(spark, 200, 300))
    before = t.history()[-1]["dirs"]
    batch = spark.createDataFrame(
        [(150, "UPDATED"), (155, "UPDATED"), (1000, "INSERTED")],
        "id long, v string",
    )
    v = t.merge(batch, keys=["id"])
    m = t.history()[-1]
    assert m["op"] == "merge" and m["version"] == v
    # the envelope [150, 1000] misses dir 0 (0..99): carried AS-IS
    assert before[0] in m["dirs"] and m["rewrote"] == 2
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 301  # 300 originals - 0 lost + 1 insert
    assert rows[150] == "UPDATED" and rows[155] == "UPDATED"
    assert rows[1000] == "INSERTED" and rows[149] == "r149"
    # pre-merge state intact under time travel
    assert len(_ids(t.read(version=v - 1))) == 300


def test_merge_txn_replay_is_noop(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 10))
    batch = spark.createDataFrame([(5, "X")], "id long, v string")
    v = t.merge(batch, keys=["id"], txn="m-0")
    assert v is not None
    assert t.merge(batch, keys=["id"], txn="m-0") is None  # replay
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows[5] == "X" and len(rows) == 10


def test_merge_into_empty_table_is_append(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v = t.merge(_keyed(spark, 0, 5), keys=["id"])
    assert v == 0 and _ids(t.read()) == set(range(5))


def test_merge_conflicts_with_concurrent_commit(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 10))
    real_publish = t._publish

    def racing_publish(build, **kw):
        SnapshotTable(spark, t.path).append(_keyed(spark, 100, 110))
        return real_publish(build, **kw)

    t._publish = racing_publish
    with pytest.raises(CommitConflict):
        t.merge(
            spark.createDataFrame([(5, "X")], "id long, v string"),
            keys=["id"],
        )
    assert _ids(t.read()) == set(range(0, 10)) | set(range(100, 110))


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: a NULL predicate column makes the
    condition UNKNOWN, and UNKNOWN rows must SURVIVE the delete — in
    rewritten directories exactly as in stats-pruned ones (regression:
    the bare ~cond rewrite dropped them)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (None, "null-row"), (5, "target")],
            "id long, v string",
        ).coalesce(1)
    )
    t.delete_where([("id", "=", 5)])
    got = {(r["id"], r["v"]) for r in t.read().collect()}
    assert got == {(1, "a"), (None, "null-row")}


def test_merge_rejects_duplicate_key_batches(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 5))
    bad = spark.createDataFrame(
        [(1, "a"), (1, "b")], "id long, v string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge(bad, keys=["id"])
    assert _ids(t.read()) == set(range(5))  # table untouched


def test_optimize_zorder_rejects_four_columns(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 2, 3, 4)], "a long, b long, c long, d long"
        )
    )
    with pytest.raises(ValueError, match="at most 3 columns"):
        t.optimize(by=["a", "b", "c", "d"], zorder=True)


def test_maybe_compact_threshold_policy(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, [i]))
    assert t.maybe_compact(max_dirs=8) is None  # under threshold
    assert len(t._manifest(t.current_version())["dirs"]) == 4
    v = t.maybe_compact(max_dirs=3)
    assert v is not None
    assert len(t._manifest(v)["dirs"]) == 1
    assert _ids(t.read()) == {0, 1, 2, 3}


def test_lakehouse_roundtrip_integration(spark, tmp_path):
    """The round-5 pieces working AS ONE SYSTEM: CDC-fed clean table →
    keyed MERGE corrections → optimize clustering → stats-pruned read →
    auto-compaction threshold → vacuum, with time travel checked at
    the end across the whole history."""
    from data_engineer_challenge_spark.tables import load_table
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    raw = SnapshotTable(spark, str(tmp_path / "raw"))
    clean = SnapshotTable(spark, str(tmp_path / "clean"))

    # three CDC ticks of 15 docs each: clean appends raw's change feed
    rows = docs.limit(45).collect()
    for i in range(3):
        v = raw.append(spark.createDataFrame(rows[i * 15 : (i + 1) * 15], schema))
        clean.append(raw.read_changes(v - 1, v), txn=f"cdc-{v}")
    assert clean.read().count() == 45

    # a keyed correction lands transactionally
    fix = spark.createDataFrame(
        [(rows[0]["doc_id"], "corrected text payload")], schema
    )
    clean.merge(fix, keys=["doc_id"], txn="fix-1")
    assert clean.merge(fix, keys=["doc_id"], txn="fix-1") is None  # replay
    got = {
        r["text"]
        for r in clean.read(
            where=[("doc_id", "=", rows[0]["doc_id"])]
        ).collect()
    }
    assert got == {"corrected text payload"}

    # cluster + prove pruning on the clustered layout
    clean.optimize(by="doc_id", n_files=4)
    lo = min(r["doc_id"] for r in rows[:45])
    pruned = clean.read(where=[("doc_id", "=", lo)])
    assert len(set(pruned.inputFiles())) == 1
    assert pruned.count() == 1

    # compaction policy + vacuum keep the current state intact
    assert clean.maybe_compact(max_dirs=64) is None  # optimize left 1 dir
    pre_vacuum = clean.current_version()
    clean.vacuum(keep_versions=1, min_age_seconds=0)
    assert clean.read().count() == 45
    assert clean.versions() == [pre_vacuum]


def test_stats_pruning_never_lies_property(spark, tmp_path):
    """Hypothesis-style property (deterministic seeds, no Spark in the
    loop): for random per-file row sets and random predicate triples,
    a file pruned by _dir_may_match must contain NO matching row, and
    the kept set must cover every matching row — pruning is a proof,
    never a bet."""
    import random

    from data_engineer_challenge_spark.operators.snapshot import (
        _check_where,
        _dir_may_match,
    )

    rng = random.Random(42)
    ops = ["=", "<", "<=", ">", ">="]

    def matches(v, op, lit):
        if v is None:
            return False  # SQL: NULL never satisfies a comparison
        return {
            "=": v == lit, "<": v < lit, "<=": v <= lit,
            ">": v > lit, ">=": v >= lit,
        }[op]

    for trial in range(300):
        files = []
        for _ in range(rng.randint(1, 5)):
            vals = [
                rng.choice([None, rng.randint(-50, 50)])
                for _ in range(rng.randint(0, 8))
            ]
            nn = [v for v in vals if v is not None]
            cols = (
                {"x": {"min": min(nn), "max": max(nn),
                       "nulls": len(vals) - len(nn)}}
                if nn else {}
            )
            files.append((vals, {"rows": len(vals), "cols": cols}))
        where = _check_where(
            [("x", rng.choice(ops), rng.randint(-55, 55))
             for _ in range(rng.randint(1, 3))]
        )
        for vals, stats in files:
            may = _dir_may_match(stats, where)
            has_match = any(
                all(matches(v, op, lit) for _, op, lit in where)
                for v in vals
            )
            # soundness: pruned => provably no match
            assert may or not has_match, (trial, vals, where, stats)


def test_merge_on_timestamp_key_prunes_and_null_keys_insert(spark, tmp_path):
    """Date/timestamp merge keys must get the stats-pruned cost model
    too (the envelope renders to ISO strings, which the stats tier now
    stores), and null-key batch rows are plain inserts — not spurious
    'duplicate key' rejections."""
    import datetime as dt

    t = SnapshotTable(spark, str(tmp_path / "t"))
    d0 = dt.datetime(2024, 1, 1)
    for month in (1, 2, 3):
        t.append(
            spark.createDataFrame(
                [
                    (dt.datetime(2024, month, 1 + i), f"m{month}r{i}")
                    for i in range(10)
                ],
                "ts timestamp, v string",
            ).coalesce(1)
        )
    # timestamp stats landed as ISO strings
    st = t.history()[-1]["stats"]
    any_dir = next(iter(st.values()))
    assert any_dir["cols"]["ts"]["min"].startswith("202")

    before = t.history()[-1]["dirs"]
    batch = spark.createDataFrame(
        [
            (dt.datetime(2024, 2, 3), "UPDATED"),
            (None, "null-key-insert-a"),
            (None, "null-key-insert-b"),  # two null keys: NOT duplicates
        ],
        "ts timestamp, v string",
    )
    t.merge(batch, keys=["ts"])
    m = t.history()[-1]
    # the February envelope leaves January and March carried as-is
    assert before[0] in m["dirs"] and before[2] in m["dirs"]
    assert m["rewrote"] == 1
    rows = {r["v"] for r in t.read().collect()}
    assert "UPDATED" in rows and "m2r2" not in rows
    assert {"null-key-insert-a", "null-key-insert-b"} <= rows
    assert len(rows) == 30 - 1 + 1 + 2


def test_read_where_prunes_on_timestamp_column(spark, tmp_path):
    import datetime as dt

    t = SnapshotTable(spark, str(tmp_path / "t"))
    for month in (1, 2):
        t.append(
            spark.createDataFrame(
                [(dt.datetime(2024, month, 1 + i), i) for i in range(5)],
                "ts timestamp, x long",
            ).coalesce(1)
        )
    dirs = t.history()[-1]["dirs"]
    got = t.read(where=[("ts", ">=", "2024-02-01 00:00:00")])
    assert {os.path.basename(os.path.dirname(f)) for f in got.inputFiles()} == {
        dirs[1]
    }
    assert got.count() == 5


def test_restore_zero_copy_rollback(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_keyed(spark, 0, 10))  # v0: good
    t.replace(_keyed(spark, 500, 503))  # v1: the bad deploy
    v = t.restore(0)
    assert v == 2
    assert _ids(t.read()) == set(range(10))
    # zero-copy: the restored version lists v0's directories verbatim
    assert t._manifest(v)["dirs"] == t._manifest(0)["dirs"]
    assert t._manifest(v)["restored_from"] == 0
    # the bad version stays inspectable (history preserved)
    assert _ids(t.read(version=1)) == {500, 501, 502}
    # stats + skipping survive the restore
    got = t.read(where=[("id", "=", 3)])
    assert _ids(got) == {3}
    # restoring past the vacuum horizon is refused
    t.replace(_keyed(spark, 900, 901))
    t.vacuum(keep_versions=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError):  # manifest AND dirs gone
        t.restore(0)


def test_streaming_snapshot_merge_exactly_once(spark, tmp_path):
    """Keyed streaming upsert into the transactional table: first wave
    inserts, second wave updates + inserts, a crashed-commit replay
    (fresh checkpoint over the same files) converges instead of
    duplicating or flapping, and time travel sees each batch boundary."""
    from pyspark.sql import types as T

    from data_engineer_challenge_spark.streaming.ingest import (
        ingest_stream_snapshot_merge,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    src = str(tmp_path / "src")
    _df(spark, [1, 2, 3]).write.parquet(src)
    t = SnapshotTable(spark, str(tmp_path / "t"))

    ingest_stream_snapshot_merge(
        spark, src, schema, t, keys=["id"], checkpoint_dir=str(tmp_path / "c1")
    )
    assert {(r["id"], r["v"]) for r in t.read().collect()} == {
        (1, "r1"), (2, "r2"), (3, "r3"),
    }
    v_first = t.current_version()

    # wave 2: update id=2, insert id=9 (plus an in-batch dup of id=9
    # that must resolve deterministically, not explode the merge)
    spark.createDataFrame(
        [(2, "UPDATED"), (9, "r9"), (9, "zzz")], schema
    ).write.mode("append").parquet(src)
    ingest_stream_snapshot_merge(
        spark, src, schema, t, keys=["id"], checkpoint_dir=str(tmp_path / "c1")
    )
    rows = {(r["id"], r["v"]) for r in t.read().collect()}
    assert rows == {(1, "r1"), (2, "UPDATED"), (3, "r3"), (9, "r9")}

    # crashed-commit replay: whole stream re-runs with a FRESH
    # checkpoint over the same files — txn ids make it a no-op
    before_versions = t.versions()
    ingest_stream_snapshot_merge(
        spark, src, schema, t, keys=["id"], checkpoint_dir=str(tmp_path / "c2")
    )
    assert {(r["id"], r["v"]) for r in t.read().collect()} == rows
    assert t.versions() == before_versions  # nothing committed

    # batch boundaries are versions: pre-wave-2 state reproduces
    assert {(r["id"], r["v"]) for r in t.read(version=v_first).collect()} == {
        (1, "r1"), (2, "r2"), (3, "r3"),
    }


def test_envelope_literal_normalizes_os_local_timestamps():
    """ADVICE r5: PySpark collect() hands the driver NAIVE datetimes in
    the OS-local timezone, while footer stats are naive UTC — on a
    non-UTC driver an unnormalized envelope shifts by the UTC offset
    and merge could 'prove' an overlapping directory disjoint. Both
    aware and naive OS-local values must render as the UTC instant."""
    import datetime as dt
    import os as _os
    import time as _time

    from data_engineer_challenge_spark.operators.snapshot import (
        envelope_literal,
    )

    # aware: any offset converts onto the UTC instant
    aware = dt.datetime(2024, 6, 1, 14, 30, tzinfo=dt.timezone(dt.timedelta(hours=2)))
    assert envelope_literal(aware) == "2024-06-01 12:30:00"

    # naive: interpreted as OS-local (what fromtimestamp produced)
    old_tz = _os.environ.get("TZ")
    try:
        _os.environ["TZ"] = "America/New_York"  # UTC-4 on this date
        _time.tzset()
        naive_local = dt.datetime(2024, 6, 1, 8, 30)  # 12:30 UTC
        assert envelope_literal(naive_local) == "2024-06-01 12:30:00"
    finally:
        if old_tz is None:
            _os.environ.pop("TZ", None)
        else:
            _os.environ["TZ"] = old_tz
        _time.tzset()


def test_stats_reject_non_finite_floats(spark, tmp_path):
    """A NaN min/max makes every comparison False, flipping pruning
    proofs — the stats tier must DROP the column (keep the directory)
    rather than record NaN, and the manifest must stay valid JSON."""
    import math

    from data_engineer_challenge_spark.operators.snapshot import (
        _stat_value,
        envelope_literal,
    )

    assert _stat_value(float("nan")) is None
    assert _stat_value(float("inf")) is None
    assert envelope_literal(float("nan")) is None
    assert _stat_value(1.5) == 1.5

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, float("nan")), (2, 3.0)], "id long, x double"
        ).coalesce(1)
    )
    m = t._manifest(t.current_version())
    (dstats,) = m["stats"].values()
    # id keeps stats; x (NaN-poisoned, if the writer recorded min/max
    # at all) must not carry a non-finite bound
    assert "id" in dstats["cols"]
    xst = dstats["cols"].get("x")
    if xst is not None:
        assert math.isfinite(xst["min"]) and math.isfinite(xst["max"])
    # and a predicate on x never wrongly prunes the directory
    got = {r["id"] for r in t.read(where=[("x", "<", 100.0)]).collect()}
    assert got == {2}
    json.dumps(m)  # manifest must be standard JSON (no NaN tokens)


def test_optimize_zorder_survives_empty_commit(spark, tmp_path):
    """ADVICE r5: a zero-row commit (empty streaming batch, IVM's
    empty-delta cursor advance) must not wedge optimize(zorder) —
    empty directories constrain no range and are skipped."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, i * 2) for i in range(100)], "a long, b long"
        ).coalesce(1)
    )
    t.append(spark.createDataFrame([], "a long, b long"))  # zero rows
    v = t.optimize(["a", "b"], zorder=True, n_files=2)
    assert v is not None
    assert {r["a"] for r in t.read().collect()} == set(range(100))


def test_snapshot_writes_stats_bearing_timestamps_without_conf_leak(
    spark, tmp_path
):
    """ADVICE r5: commits must carry footer timestamp stats (INT96
    would silently disable time-column pruning) WITHOUT the
    constructor or the write permanently mutating the shared session
    conf — the encoding override is scoped to the commit write."""
    import datetime as dt

    key = "spark.sql.parquet.outputTimestampType"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "INT96")  # hostile session default
        t = SnapshotTable(spark, str(tmp_path / "t"))
        assert spark.conf.get(key) == "INT96"  # ctor: no mutation
        t.append(
            spark.createDataFrame(
                [(1, dt.datetime(2024, 1, 1, 12))], "id long, ts timestamp"
            ).coalesce(1)
        )
        assert spark.conf.get(key) == "INT96"  # write: restored
        # and the commit still recorded usable timestamp stats
        (dstats,) = t._manifest(t.current_version())["stats"].values()
        assert dstats["cols"]["ts"]["min"].startswith("2024-01-01 12:00")
    finally:
        spark.conf.set(key, saved)


def test_ivm_cursor_survives_txn_window_eviction(spark, tmp_path, monkeypatch):
    """ADVICE r5: the IVM cursor must NOT reset to 'process everything'
    when 256+ foreign commits on the target evict every {prefix}-N id
    from the rolling txn window — that silent reset double-counts all
    history into the view. The dedicated untrimmed cursors map keeps
    progress exact."""
    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import txn_cursor

    monkeypatch.setattr(SnapshotTable, "_TXN_WINDOW", 3)
    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm = IncrementalAgg(spark, src, view, group_cols=["k"], sum_cols=["v"])
    src.append(spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, v double"))
    ivm.tick()
    cursor_before = txn_cursor(view, "ivm")
    assert cursor_before == src.current_version()
    # 5 foreign commits on the VIEW evict every ivm-N txn id
    for i in range(5):
        view.append(
            spark.createDataFrame([(100 + i, 1, 0.0)],
                                  "k long, n_rows long, sum_v double"),
            txn=f"other-{i}",
        )
    assert not any(
        x.startswith("ivm-") for x in view._manifest(view.current_version())["txns"]
    )
    # the cursor survives eviction...
    assert txn_cursor(view, "ivm") == cursor_before
    # ...so an idle tick stays a no-op instead of re-folding history
    assert ivm.tick() is None
    # and the next real tick folds ONLY the delta: group 1 must not
    # double-count its historical rows
    src.append(spark.createDataFrame([(1, 5.0)], "k long, v double"))
    ivm.tick()
    got = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in view.read().collect()
        if r["k"] < 100
    }
    assert got == {(1, 2, 7.0), (2, 1, 3.0)}


def test_merge_with_deletes_single_commit(spark, tmp_path):
    """merge(deletes=) removes matched keys in the SAME atomic commit
    as the upserts (Delta's WHEN MATCHED DELETE): one version, one
    history entry, stats-carried dirs outside the envelope untouched;
    a key in both channels raises."""
    schema = "id long, v string"
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1, 2, 3]).coalesce(1))
    before = t.current_version()
    v = t.merge(
        spark.createDataFrame([(4, "r4"), (2, "UP")], schema),
        keys=["id"],
        deletes=spark.createDataFrame([(3,)], "id long"),
    )
    assert v == before + 1  # ONE commit for upserts + deletes
    assert {(r["id"], r["v"]) for r in t.read().collect()} == {
        (1, "r1"), (2, "UP"), (4, "r4"),
    }
    with pytest.raises(ValueError, match="both batch and deletes"):
        t.merge(
            spark.createDataFrame([(5, "x")], schema),
            keys=["id"],
            deletes=spark.createDataFrame([(5,)], "id long"),
        )
    # delete-only merge (empty batch) works too
    t.merge(
        spark.createDataFrame([], schema),
        keys=["id"],
        deletes=spark.createDataFrame([(1,)], "id long"),
    )
    assert _ids(t.read()) == {2, 4}


def test_read_changes_signed_retractions(spark, tmp_path):
    """The signed feed nets each directory's endpoint presence: +1 for
    added rows, -1 for removed rows, survivors cancel, pure rewrites
    net zero, and a replace retracts the old table wholesale."""
    from pyspark.sql import functions as SF

    t = SnapshotTable(spark, str(tmp_path / "t"))

    def signed(frm, to=None):
        df = t.read_changes_signed(frm, to)
        return {
            (r["id"], r["__sign"]) for r in df.collect()
        }

    t.append(_df(spark, [1, 2]).coalesce(1))          # v0
    t.append(_df(spark, [3]).coalesce(1))              # v1
    assert signed(-1, 1) == {(1, 1), (2, 1), (3, 1)}
    assert signed(0, 1) == {(3, 1)}
    t.delete_where([("id", "=", 1)])                   # v2: rewrite dir0
    # survivor 2 cancels (+1 rewritten, -1 old); 1 is retracted
    net = (
        t.read_changes_signed(1, 2)
        .groupBy("id").agg(SF.sum("__sign").alias("s"))
        .collect()
    )
    assert {(r["id"], r["s"]) for r in net if r["s"] != 0} == {(1, -1)}
    t.compact()                                        # v3: pure rewrite
    net = (
        t.read_changes_signed(2, 3)
        .groupBy("id").agg(SF.sum("__sign").alias("s"))
        .where(SF.col("s") != 0).collect()
    )
    assert net == []
    t.replace(_df(spark, [9]).coalesce(1))             # v4
    net = {
        (r["id"], r["s"])
        for r in t.read_changes_signed(3, 4)
        .groupBy("id").agg(SF.sum("__sign").alias("s"))
        .where(SF.col("s") != 0).collect()
    }
    assert net == {(2, -1), (3, -1), (9, 1)}
    # empty range: empty frame with the table schema + __sign
    empty = t.read_changes_signed(4, 4)
    assert empty.count() == 0 and "__sign" in empty.columns


def test_read_changes_signed_raises_past_vacuum(spark, tmp_path):
    import shutil

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [1]).coalesce(1))
    t.replace(_df(spark, [2]).coalesce(1))
    # the retraction directory (v0's, dropped by the replace) is gone
    (old_dir,) = t._manifest(0)["dirs"]
    shutil.rmtree(os.path.join(t._data_dir(), old_dir))
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read_changes_signed(0, 1).collect()


def test_read_changes_signed_random_walk_matches_model(spark, tmp_path):
    """Property: for EVERY version pair (a, b) along a seeded random
    append/delete/merge/compact/optimize walk, the sign-weighted
    multiset of read_changes_signed(a, b) must equal
    multiset(version b) − multiset(version a) — the exact contract the
    subtractive IVM fold consumes. Checked per row id with counts
    (duplicates matter)."""
    import random
    from collections import Counter

    from pyspark.sql import functions as SF

    rng = random.Random(1234)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    next_id = 0
    snapshots: dict[int, Counter] = {}
    model: Counter = Counter()

    def commit_state(v):
        assert v is not None
        snapshots[v] = Counter(model)

    for step in range(14):
        op = rng.choice(["append", "append", "delete", "merge", "compact", "optimize"])
        if op == "append":
            rows = [next_id + i for i in range(rng.randint(1, 3))]
            next_id += len(rows)
            commit_state(t.append(_df(spark, rows).coalesce(1)))
            model.update(rows)
            snapshots[max(snapshots)] = Counter(model)
        elif op == "delete" and model:
            cut = rng.choice(sorted(model))
            v = t.delete_where([("id", "<=", cut)])
            model = Counter({k: c for k, c in model.items() if k > cut})
            commit_state(v)
            snapshots[v] = Counter(model)
        elif op == "merge" and model:
            up = rng.sample(sorted(model), min(2, len(model)))
            new = [next_id]
            next_id += 1
            v = t.merge(_df(spark, up + new).coalesce(1), keys=["id"])
            for k in up + new:
                model[k] = 1
            commit_state(v)
            snapshots[v] = Counter(model)
        elif op == "compact" and model:
            commit_state(t.compact())
            snapshots[max(snapshots)] = Counter(model)
        elif op == "optimize" and len(model) >= 2:
            commit_state(t.optimize(["id"], n_files=2))
            snapshots[max(snapshots)] = Counter(model)

    versions = sorted(snapshots)
    assert len(versions) >= 8
    # every (a, b) pair, plus the from-scratch (-1, b) ranges
    pairs = [(-1, b) for b in versions] + [
        (a, b) for i, a in enumerate(versions) for b in versions[i:]
    ]
    for a, b in pairs:
        net = {
            r["id"]: r["s"]
            for r in t.read_changes_signed(a, b)
            .groupBy("id")
            .agg(SF.sum("__sign").alias("s"))
            .collect()
            if r["s"] != 0
        }
        start = snapshots.get(a, Counter())
        end = snapshots[b]
        want = {
            k: end.get(k, 0) - start.get(k, 0)
            for k in set(start) | set(end)
            if end.get(k, 0) - start.get(k, 0) != 0
        }
        assert net == want, (a, b, net, want)
