"""Streaming surface tests: snapshot-diff change detection, the polling
daemon's trigger/lineage behavior (SURVEY §5.3 streaming plan), and the
exactly-once ingest ticks of ``streaming/ingest.py`` and
``streaming/warc_ingest.py``."""

from __future__ import annotations

import os
import time

import pytest

from data_engineer_challenge_spark.streaming.daemon import CdwDaemon
from data_engineer_challenge_spark.streaming.snapshot_diff import (
    SnapshotState,
    diff_snapshots,
    take_snapshot,
)

from .fixtures import XLSX_HEADER, build_pdf, build_xlsx

REG_ROWS = [
    XLSX_HEADER,
    ["Durand", "Anne", "25/07/1942", "F", None, "00230580", "1 rue A", "+33 1", "75001", "Paris", "France", None],
    ["Martin", "Luc", "03/02/1980", "M", None, "12345678", "2 rue B", "+33 2", "69001", "Lyon", "France", None],
]


def test_snapshot_diff(tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a_1.pdf").write_bytes(b"x")
    (d / "b_2.docx").write_bytes(b"y")
    (d / "skip.txt").write_bytes(b"z")
    s1 = take_snapshot(str(d))
    assert set(s1) == {"a_1.pdf", "b_2.docx"}

    (d / "c_3.pdf").write_bytes(b"n")
    os.utime(d / "a_1.pdf", ns=(1, 1))
    (d / "b_2.docx").unlink()
    diff = diff_snapshots(s1, take_snapshot(str(d)))
    assert diff.new == ("c_3.pdf",)
    assert diff.modified == ("a_1.pdf",)
    assert diff.deleted == ("b_2.docx",)


def test_snapshot_state_persists(tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a_1.pdf").write_bytes(b"x")
    state_path = str(tmp_path / "state.json")
    st = SnapshotState.load(state_path)
    assert st.poll("docs", str(d)).new == ("a_1.pdf",)
    st.save()
    st2 = SnapshotState.load(state_path)  # restart survives
    assert not st2.poll("docs", str(d)).changed


@pytest.fixture()
def daemon_env(spark, tmp_path):
    (tmp_path / "export_patient.xlsx").write_bytes(build_xlsx(REG_ROWS))
    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "00230580_1.pdf").write_bytes(build_pdf(["CR du 02/02/2002", "dr alpha"]))
    daemon = CdwDaemon(
        spark,
        warehouse_root=str(tmp_path / "wh"),
        registry_path=str(tmp_path / "export_patient.xlsx"),
        documents_dir=str(docs),
    )
    return daemon, tmp_path


def test_daemon_trigger_lineage(daemon_env, spark):
    daemon, root = daemon_env
    docs_dir = root / "docs"

    r1 = daemon.tick()  # first batch force-loads both (script.py:76-79)
    assert r1.patients_fired and r1.documents_fired
    assert (r1.upload_id_patient, r1.upload_id_document) == (1, 1)
    assert daemon.wh.read("DWH_PATIENT").count() == 2
    assert daemon.wh.read("DWH_DOCUMENT").count() == 1

    r2 = daemon.tick()  # nothing changed → nothing fires
    assert not r2.patients_fired and not r2.documents_fired
    assert (r2.upload_id_patient, r2.upload_id_document) == (1, 1)

    # new document + orphan → only the document pipeline fires
    (docs_dir / "12345678_2.pdf").write_bytes(build_pdf(["le 03/03/2003", "dr beta"]))
    (docs_dir / "99999999_3.pdf").write_bytes(build_pdf(["le 04/04/2004", "dr gamma"]))
    r3 = daemon.tick()
    assert r3.documents_fired and not r3.patients_fired
    assert r3.upload_id_document == 2
    assert r3.rejects == ["99999999_3.pdf"]
    docs = {r["ID_DOC_SOURCE"]: r for r in daemon.wh.read("DWH_DOCUMENT").collect()}
    assert set(docs) == {"1", "2"}
    assert docs["2"]["UPLOAD_ID"] == 2 and docs["1"]["UPLOAD_ID"] == 2  # full reprocess

    # registry mtime bump → patient pipeline fires
    time.sleep(0.01)
    (root / "export_patient.xlsx").write_bytes(build_xlsx(REG_ROWS))
    r4 = daemon.tick()
    assert r4.patients_fired and r4.upload_id_patient == 2

    # deletion detected, warehouse rows preserved (reference parity)
    (docs_dir / "12345678_2.pdf").unlink()
    r5 = daemon.tick()
    assert r5.doc_changes[2] == ("12345678_2.pdf",)
    assert daemon.wh.read("DWH_DOCUMENT").count() == 2


def test_daemon_failed_tick_keeps_trigger_armed(daemon_env, spark):
    """Offsets commit AFTER the batch: a tick that throws mid-batch
    must leave the change trigger armed so a supervisor's retry
    re-sees the same files (the old poll-then-process order advanced
    the in-memory snapshot first and silently lost the change)."""
    daemon, root = daemon_env
    daemon.tick()  # first batch: 1 document ingested
    assert daemon.wh.read("DWH_DOCUMENT").count() == 1

    # a new document arrives, but the batch blows up mid-extraction
    (root / "docs" / "12345678_9.pdf").write_bytes(
        build_pdf(["le 05/05/2005", "dr delta"])
    )
    boom = daemon.extractor

    def exploding(name, data):
        raise RuntimeError("transient extraction failure")

    daemon.extractor = exploding
    with pytest.raises(Exception):
        daemon.tick()
    daemon.extractor = boom

    r = daemon.tick()  # the retry must still see the new file
    assert r.documents_fired
    assert daemon.wh.read("DWH_DOCUMENT").count() == 2


def test_binary_source_matches_any_extension_case(spark, tmp_path):
    """The daemon's snapshot listing matches extensions in any letter
    case, and every listed file reaches extraction: a SCAN.PDF drop
    that fires the daemon is never silently skipped."""
    from data_engineer_challenge_spark.sources.binary_docs import (
        document_paths,
        extract_documents,
    )

    d = tmp_path / "docs"
    d.mkdir()
    (d / "00230580_1.pdf").write_bytes(build_pdf(["le 01/01/2001", "dr a"]))
    (d / "12345678_2.PDF").write_bytes(build_pdf(["le 02/02/2002", "dr b"]))
    (d / "99999999_3.Pdf").write_bytes(build_pdf(["le 03/03/2003", "dr c"]))
    (d / "skip.txt").write_bytes(b"z")
    listed = take_snapshot(str(d))
    assert set(listed) == {"00230580_1.pdf", "12345678_2.PDF", "99999999_3.Pdf"}
    texts = {
        r["filename"]: r["text"]
        for r in extract_documents(
            document_paths(spark, str(d), listed)
        ).collect()
    }
    assert set(texts) == set(listed)
    assert all(texts.values())


def test_daemon_changed_only_mode(spark, tmp_path):
    (tmp_path / "export_patient.xlsx").write_bytes(build_xlsx(REG_ROWS))
    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "00230580_1.pdf").write_bytes(build_pdf(["CR du 02/02/2002", "dr alpha"]))
    daemon = CdwDaemon(
        spark,
        warehouse_root=str(tmp_path / "wh"),
        registry_path=str(tmp_path / "export_patient.xlsx"),
        documents_dir=str(docs),
        changed_only=True,
    )
    daemon.tick()
    (docs / "12345678_2.pdf").write_bytes(build_pdf(["le 03/03/2003", "dr beta"]))
    r = daemon.tick()
    assert r.documents_fired
    rows = {r["ID_DOC_SOURCE"]: r["UPLOAD_ID"] for r in daemon.wh.read("DWH_DOCUMENT").collect()}
    # incremental: only the new file reprocessed — old row keeps its lineage
    assert rows == {"1": 1, "2": 2}


def _changed_only_daemon(spark, root, extractor=None):
    if not (root / "export_patient.xlsx").exists():
        (root / "export_patient.xlsx").write_bytes(build_xlsx(REG_ROWS))
    (root / "docs").mkdir(exist_ok=True)
    kw = {} if extractor is None else {"extractor": extractor}
    return CdwDaemon(
        spark,
        warehouse_root=str(root / "wh"),
        registry_path=str(root / "export_patient.xlsx"),
        documents_dir=str(root / "docs"),
        changed_only=True,
        **kw,
    )


def test_daemon_changed_only_extracts_exactly_the_diff(spark, tmp_path):
    """A changed-only tick reads and extracts the diff's new and
    modified files and nothing else — not the files already ingested.
    An upper-case ``SCAN.PDF``-style extension dropped later is still
    ingested, since the files come from the trigger's own snapshot."""
    from data_engineer_challenge_spark.sources.extractors import extract_text

    log = tmp_path / "extracted.log"

    def recording(name, data):
        # runs in the Python workers: record through the file system
        with open(log, "a") as fh:
            fh.write(name + "\n")
        return extract_text(name, data)

    def extracted():
        names = log.read_text().split() if log.exists() else []
        log.unlink(missing_ok=True)
        return sorted(names)

    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "00230580_1.pdf").write_bytes(build_pdf(["CR du 02/02/2002", "dr alpha"]))
    (docs / "12345678_2.pdf").write_bytes(build_pdf(["le 03/03/2003", "dr beta"]))
    daemon = _changed_only_daemon(spark, tmp_path, recording)
    daemon.tick()
    assert extracted() == ["00230580_1.pdf", "12345678_2.pdf"]  # first tick: all

    (docs / "12345678_3.pdf").write_bytes(build_pdf(["le 04/04/2004", "dr gamma"]))
    (docs / "00230580_4.PDF").write_bytes(build_pdf(["le 05/05/2005", "dr delta"]))
    (docs / "00230580_1.pdf").write_bytes(build_pdf(["CR du 06/06/2006", "dr alpha"]))
    os.utime(docs / "00230580_1.pdf", ns=(1, 1))
    r = daemon.tick()
    assert r.doc_changes[:2] == (("00230580_4.PDF", "12345678_3.pdf"), ("00230580_1.pdf",))
    assert extracted() == ["00230580_1.pdf", "00230580_4.PDF", "12345678_3.pdf"]
    rows = {r["ID_DOC_SOURCE"]: r for r in daemon.wh.read("DWH_DOCUMENT").collect()}
    assert set(rows) == {"1", "2", "3", "4"}
    assert rows["4"]["UPLOAD_ID"] == 2 and rows["2"]["UPLOAD_ID"] == 1
    assert str(rows["1"]["DOCUMENT_DATE"]).startswith("2006-06-06")

    assert not daemon.tick().documents_fired
    assert extracted() == []


def test_daemon_file_deleted_before_extraction_fails_the_tick(spark, tmp_path, monkeypatch):
    """A file listed by the trigger but gone when its bytes are read
    fails the tick loudly (it never silently drops out of the batch);
    nothing commits, and the armed trigger's retry converges on the
    files that are still there."""
    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "00230580_1.pdf").write_bytes(build_pdf(["CR du 02/02/2002", "dr alpha"]))
    daemon = _changed_only_daemon(spark, tmp_path)
    daemon.tick()

    (docs / "12345678_2.pdf").write_bytes(build_pdf(["le 03/03/2003", "dr beta"]))
    (docs / "12345678_3.pdf").write_bytes(build_pdf(["le 04/04/2004", "dr gamma"]))
    peek = daemon.state.peek

    def peek_then_delete(key, *args, **kw):
        out = peek(key, *args, **kw)
        if key == "documents":
            (docs / "12345678_3.pdf").unlink(missing_ok=True)
        return out

    monkeypatch.setattr(daemon.state, "peek", peek_then_delete)
    with pytest.raises(Exception, match="12345678_3.pdf"):
        daemon.tick()
    assert daemon.wh.read("DWH_DOCUMENT").count() == 1
    assert daemon.upload_id_document == 1  # the failed tick committed nothing

    r = daemon.tick()  # the retry (its state reloaded, peek unpatched)
    assert r.documents_fired and r.doc_changes[0] == ("12345678_2.pdf",)
    assert r.upload_id_document == 2
    assert {r["ID_DOC_SOURCE"] for r in daemon.wh.read("DWH_DOCUMENT").collect()} == {"1", "2"}
    assert not daemon.tick().documents_fired


def _document_tables(wh):
    docs = {
        r["ID_DOC_SOURCE"]: r.asDict()
        for r in wh.read("DWH_DOCUMENT").drop("UPDATE_DATE").collect()
    }
    quarantine = {tuple(r) for r in wh.read("QUARANTINE_DOCUMENTS").collect()}
    return docs, quarantine


# the replayed tick's drop (a new file, an orphan, a rewrite of the
# first tick's file) and the files that land between crash and retry
_DROP_A = {
    "12345678_2.pdf": ["le 03/03/2003", "dr beta"],
    "99999999_3.pdf": ["le 04/04/2004", "dr orphan"],
    "00230580_1.pdf": ["CR du 05/05/2005", "dr alpha bis"],
}
_DROP_B = {
    "00230580_5.pdf": ["le 06/06/2006", "dr epsilon"],
    "88888888_6.pdf": ["le 07/07/2007", "dr orphan bis"],
}


def _drop(root, files):
    for name, lines in files.items():
        (root / "docs" / name).write_bytes(build_pdf(lines))
        os.utime(root / "docs" / name, ns=(2, 2))


def _first_tick_then_drop_a(spark, root):
    root.mkdir()
    daemon = _changed_only_daemon(spark, root)
    _drop(root, {"00230580_1.pdf": ["CR du 02/02/2002", "dr alpha"]})
    os.utime(root / "docs" / "00230580_1.pdf", ns=(1, 1))
    daemon.tick()
    _drop(root, _DROP_A)
    return daemon


@pytest.fixture(scope="module")
def clean_document_tables(spark, tmp_path_factory):
    """The tables a fault-free run builds when its second tick sees
    drop A, or drops A and B (``late``); built once per variant."""
    built = {}

    def get(late):
        if late not in built:
            root = tmp_path_factory.mktemp("clean") / "run"
            daemon = _first_tick_then_drop_a(spark, root)
            if late:
                _drop(root, _DROP_B)
            daemon.tick()
            built[late] = _document_tables(daemon.wh)
        return built[late]

    return get


@pytest.mark.parametrize(
    "fault,retry,late",
    [
        ("quarantine", "in_process", False),
        ("quarantine", "restart", True),
        ("save", "in_process", True),
        ("save", "restart", False),
    ],
)
def test_daemon_document_tick_replay_converges(
    spark, tmp_path, clean_document_tables, fault, retry, late
):
    """A document tick that crashes after its DWH_DOCUMENT commit —
    before the quarantine merge, or before the stream state is saved —
    is replayed by the retry (in process, or by a restarted daemon) to
    the warehouse a clean run builds, even when more files land between
    the crash and the retry: same rows and quarantine, unique
    DOCUMENT_NUMs, and no number committed by the crashed tick
    changes."""
    want_docs, want_quarantine = clean_document_tables(late)
    assert want_quarantine and len(want_docs) == 2 + late

    root = tmp_path / "crash"
    daemon = _first_tick_then_drop_a(spark, root)
    if fault == "quarantine":
        merge = daemon.wh.merge_upsert

        def crash_before_quarantine(table, *args, **kw):
            if table == "QUARANTINE_DOCUMENTS":
                raise RuntimeError("crash before the quarantine merge")
            return merge(table, *args, **kw)

        daemon.wh.merge_upsert = crash_before_quarantine
    else:
        def crash_before_save():
            raise RuntimeError("crash before state.save()")

        daemon.state.save = crash_before_save
    with pytest.raises(RuntimeError, match="crash before"):
        daemon.tick()
    committed = {
        r["ID_DOC_SOURCE"]: r["DOCUMENT_NUM"]
        for r in daemon.wh.read("DWH_DOCUMENT").collect()
    }
    assert set(committed) == {"1", "2"}  # the DWH_DOCUMENT commit landed
    if late:
        _drop(root, _DROP_B)
    if retry == "restart":
        daemon = _changed_only_daemon(spark, root)
    elif fault == "quarantine":
        del daemon.wh.merge_upsert  # the fault was in the crashed process only
    r = daemon.tick()
    assert r.documents_fired and r.upload_id_document == 2

    got_docs, got_quarantine = _document_tables(daemon.wh)
    nums = [d["DOCUMENT_NUM"] for d in got_docs.values()]
    assert len(set(nums)) == len(nums)
    assert {k: got_docs[k]["DOCUMENT_NUM"] for k in committed} == committed
    strip = lambda t: {k: {c: v for c, v in d.items() if c != "DOCUMENT_NUM"} for k, d in t.items()}
    assert strip(got_docs) == strip(want_docs)
    assert got_quarantine == want_quarantine
    assert not daemon.tick().documents_fired  # the replay committed its offsets


def test_daemon_steady_ticks_reuse_compiled_code(spark, tmp_path):
    """A polling daemon runs the same plans every tick, so once each
    kind of tick has run, a later registry or document tick of the same
    shape finds its generated classes in Spark's codegen cache and
    compiles almost nothing. Both kinds' classes must fit in the cache
    at once: at Spark's default size (100 classes) each tick evicted
    what the other needed and recompiled 54-61 classes every time."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    registry = tmp_path / "export_patient.xlsx"
    daemon = _changed_only_daemon(spark, tmp_path)
    _drop(tmp_path, {"00230580_1.pdf": ["CR du 02/02/2002", "dr alpha"],
                     "99999999_2.pdf": ["le 03/03/2003", "dr orphan"]})
    daemon.tick()  # bootstrap: creates every table, quarantine included

    per_tick = {"registry": [], "document": []}
    for i in range(3):
        # a registry revision: same rows, one city changed
        rows = [*REG_ROWS[:2], [*REG_ROWS[2][:9], f"Lyon {i}", *REG_ROWS[2][10:]]]
        registry.write_bytes(build_xlsx(rows))
        os.utime(registry, ns=(10 + i, 10 + i))
        before = compiles.getCount()
        r = daemon.tick()
        assert r.patients_fired and not r.documents_fired
        per_tick["registry"].append(compiles.getCount() - before)

        # a drop: one matched document and one orphan
        _drop(tmp_path, {f"00230580_{10 + i}.pdf": [f"le 0{i + 1}/04/2004", "dr beta"],
                         f"99999999_{20 + i}.pdf": [f"le 0{i + 1}/05/2005", "dr orphan"]})
        before = compiles.getCount()
        r = daemon.tick()
        assert r.documents_fired and r.rejects == [f"99999999_{20 + i}.pdf"]
        per_tick["document"].append(compiles.getCount() - before)

    assert daemon.wh.read("DWH_DOCUMENT").count() == 4
    assert per_tick["registry"][-1] <= 8 and per_tick["document"][-1] <= 8, per_tick


def test_daemon_quarantine_table(daemon_env, spark):
    daemon, root = daemon_env
    daemon.tick()
    (root / "docs" / "55555555_9.pdf").write_bytes(build_pdf(["le 05/05/2005", "dr delta"]))
    daemon.tick()
    q = {r["filename"]: r for r in daemon.wh.read("QUARANTINE_DOCUMENTS").collect()}
    assert "55555555_9.pdf" in q
    assert q["55555555_9.pdf"]["reason"] == "NO_MATCHING_PATIENT"


def test_daemon_restart_resumes_counters(daemon_env, spark):
    """A restarted daemon must resume batch/upload counters from the
    committed stream state: resetting them would re-stamp warehouse
    rows with regressed UPLOAD_ID lineage and collide quarantine keys
    from earlier runs — and a restart with committed offsets is NOT a
    'first' batch, so nothing force-reloads."""
    from data_engineer_challenge_spark.streaming.daemon import CdwDaemon

    daemon, root = daemon_env
    r1 = daemon.tick()
    assert r1.batch_number == 1 and r1.upload_id_patient == 1

    # a second tick with a registry touch advances the patient counter
    import os, time

    time.sleep(0.01)
    os.utime(str(root / "export_patient.xlsx"))
    r2 = daemon.tick()
    assert r2.upload_id_patient == 2

    # "restart": a NEW daemon over the same warehouse root
    daemon2 = CdwDaemon(
        spark,
        warehouse_root=str(root / "wh"),
        registry_path=str(root / "export_patient.xlsx"),
        documents_dir=str(root / "docs"),
    )
    assert daemon2.batch_number == r2.batch_number
    assert daemon2.upload_id_patient == 2
    r3 = daemon2.tick()  # nothing changed on disk
    assert r3.batch_number == r2.batch_number + 1
    assert not r3.patients_fired and not r3.documents_fired  # no force-reload
    assert r3.upload_id_patient == 2  # counter resumed, not reset


def test_snapshot_state_format_versioning(tmp_path):
    """SnapshotState.load must tell the three on-disk generations
    apart by the explicit v-marker, not shape-sniffing: a LEGACY file
    that happens to track a directory literally named 'snapshots' must
    keep every directory's offsets."""
    import json

    # current format round-trips with the marker
    p = str(tmp_path / "v2.json")
    st = SnapshotState.load(p)
    st.snapshots["docs"] = {"a.pdf": 1}
    st.counters["batch"] = 7
    st.save()
    with open(p) as f:
        assert json.load(f)["v"] == 2
    st2 = SnapshotState.load(p)
    assert st2.snapshots == {"docs": {"a.pdf": 1}} and st2.counters == {"batch": 7}

    # legacy (pre-counters): whole document is {dir: {file: mtime}},
    # including a directory named 'snapshots'
    legacy = {"snapshots": {"a.pdf": 1}, "other": {"b.pdf": 2}}
    lp = str(tmp_path / "legacy.json")
    with open(lp, "w") as f:
        json.dump(legacy, f)
    st3 = SnapshotState.load(lp)
    assert st3.snapshots == legacy and st3.counters == {}

    # marker-less intermediate shape ({"snapshots":..., "counters":...})
    mid = {"snapshots": {"docs": {"a.pdf": 1}}, "counters": {"batch": 3}}
    mp = str(tmp_path / "mid.json")
    with open(mp, "w") as f:
        json.dump(mid, f)
    st4 = SnapshotState.load(mp)
    assert st4.snapshots == {"docs": {"a.pdf": 1}} and st4.counters == {"batch": 3}


def test_ingest_batch_passage_dedup_exactly_once(spark, tmp_path):
    """The passage-dedup ingest tick: cross-batch passages are cut at
    any alignment; replays no-op through the id guard (a replayed doc
    would otherwise self-match and gut its own text); a crash between
    MERGE and index append heals on the next tick and the healed
    windows count against later batches."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.operators.passage import (
        WindowHashIndex,
    )
    from data_engineer_challenge_spark.streaming.ingest import (
        ingest_batch_passage_dedup,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    idx = WindowHashIndex(spark, str(tmp_path / "xs"))
    passage = " ".join(f"p{i}" for i in range(40))

    b1 = spark.createDataFrame(
        [(0, "lead words " + passage + " tail words")],
        "doc_id long, text string",
    )
    r1 = ingest_batch_passage_dedup(spark, b1, wh, "docs", idx)
    assert r1 == {"docs_in": 1, "docs_new": 1, "docs_merged": 1,
                  "tokens_cut": 0, "healed": 0}

    # replay of batch 1: id guard must no-op (no self-match gutting)
    r1b = ingest_batch_passage_dedup(spark, b1, wh, "docs", idx)
    assert r1b["docs_new"] == 0
    t0 = wh.read("docs").where(F.col("doc_id") == 0).collect()[0]["text"]
    assert "p0" in t0.split()  # original text intact after replay

    # batch 2 copies the passage at an odd offset -> cut
    b2 = spark.createDataFrame(
        [(1, "seven odd lead tokens precede the theft " + passage + " end")],
        "doc_id long, text string",
    )
    r2 = ingest_batch_passage_dedup(spark, b2, wh, "docs", idx)
    assert r2["docs_new"] == 1 and r2["tokens_cut"] >= 32
    t1 = wh.read("docs").where(F.col("doc_id") == 1).collect()[0]["text"]
    assert "p0" not in t1.split() and "seven" in t1.split()

    # simulate a crash between MERGE and index append: land a doc in
    # the warehouse directly, bypassing the index
    orphan_passage = " ".join(f"q{i}" for i in range(40))
    wh.merge_upsert(
        "docs",
        spark.createDataFrame(
            [(2, "orphan " + orphan_passage + " row")],
            "doc_id long, text string",
        ),
        ["doc_id"],
    )
    # next tick heals the lag, and the healed windows cut from THIS
    # batch too (heal runs before the probe)
    b3 = spark.createDataFrame(
        [(3, "three lead words " + orphan_passage + " finale")],
        "doc_id long, text string",
    )
    r3 = ingest_batch_passage_dedup(spark, b3, wh, "docs", idx)
    assert r3["healed"] == 1
    assert r3["tokens_cut"] >= 32
    t3 = wh.read("docs").where(F.col("doc_id") == 3).collect()[0]["text"]
    assert "q0" not in t3.split() and "three" in t3.split()


def test_curation_refresh_delta_tick(spark, tmp_path):
    """VERDICT r9 #1 — the delta-aware refresh. Pins: (1) every tick
    commits a selection BIT-IDENTICAL (rows and schema, compared as
    committed SnapshotTable versions) to the full batch funnel over
    the corpus's current state; (2) after a small append the corpus
    TABLE is read ∝ delta — the tick's inputFiles are a subset of the
    delta commit's files, disjoint from the base commit; (3) a pure
    copy-on-write retraction re-scores NOTHING (carried survivors
    skipped, docs_scored == 0) yet keeper handoff and model shrink
    still land exactly; (4) a crash between the state appends and the
    selection commit retries to convergence without double-appending
    state; (5) state compaction reclaims superseded rows and changes
    no answer; (6) a caught-up tick is a no-op."""
    import os as _os

    import pytest as _pytest

    from data_engineer_challenge_spark.operators.snapshot import (
        SnapshotTable,
    )
    from data_engineer_challenge_spark.plans.text import curation_funnel
    from data_engineer_challenge_spark.streaming.ingest import (
        curation_refresh_delta_tick,
        curation_state_compact,
    )
    from data_engineer_challenge_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"))
    corpus.append(docs.where("doc_id < 300"), txn="load-1")
    sel = SnapshotTable(spark, str(tmp_path / "sel"))
    ref = SnapshotTable(spark, str(tmp_path / "ref"))
    state = str(tmp_path / "state")

    def assert_matches_full(tag):
        ref.replace(curation_funnel(corpus.read()), txn=f"ref-{tag}")
        a, b = sel.read(), ref.read()
        assert str(a.schema) == str(b.schema)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )

    r1 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r1["version"] is not None and r1["docs_scored"] == 300
    assert_matches_full("t1")

    # (2) small append: reads ∝ delta (inputFiles-pinned), still exact
    base_files = set(corpus.read().inputFiles())
    crafted = spark.createDataFrame(
        [(9001, "en", "!!!"), (9002, "en", "!!!")],
        "doc_id long, lang string, text string",
    )
    corpus.append(
        docs.where("doc_id >= 300 and doc_id < 330").unionByName(crafted),
        txn="load-2",
    )
    r2 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r2["docs_scored"] == 32
    delta_files = set(
        corpus.read_changes_signed(
            r2["cursor_from"], r2["cursor_to"]
        ).inputFiles()
    )
    assert set(r2["corpus_files"]) <= delta_files
    assert not (set(r2["corpus_files"]) & base_files)
    assert_matches_full("t2")

    # (3) retraction: the rewrite re-emits carried survivors on both
    # sides of the signed feed — the tick must skip them all (score
    # NOTHING) while the keeper handoff (9001 was the "!!!" keeper)
    # and the shrunken DSIR model still match the full recompute
    corpus.delete_where([("doc_id", "=", 9001)])
    corpus.delete_where([("doc_id", "<", 20)])
    r3 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r3["docs_scored"] == 0
    assert_matches_full("t3")

    # (4) crash window: stats+grams commit, selection commit dies;
    # the retry must no-op the state appends and land the identical
    # selection
    stats = SnapshotTable(spark, _os.path.join(state, "stats"))
    grams = SnapshotTable(spark, _os.path.join(state, "grams"))
    corpus.append(docs.where("doc_id >= 330 and doc_id < 345"), txn="load-3")
    real_replace = sel.replace

    def boom(df, txn=None):
        raise RuntimeError("simulated crash before the selection commit")

    sel.replace = boom
    with _pytest.raises(RuntimeError, match="simulated crash"):
        curation_refresh_delta_tick(spark, corpus, sel, state)
    del sel.replace
    assert sel.replace.__func__ is real_replace.__func__  # restored
    sn, gn = stats.read().count(), grams.read().count()
    r4 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r4["version"] is not None and r4["stats_replayed"] is True
    assert (stats.read().count(), grams.read().count()) == (sn, gn)
    assert_matches_full("t4")

    # (5) compaction: superseded/tombstoned rows reclaimed, answers
    # untouched on the next refresh
    before = (stats.read().count(), grams.read().count())
    curation_state_compact(stats, grams, txn="compact-1")
    after = (stats.read().count(), grams.read().count())
    assert after[0] < before[0] and after[1] <= before[1]
    corpus.append(docs.where("doc_id >= 345 and doc_id < 360"), txn="load-4")
    assert curation_refresh_delta_tick(spark, corpus, sel, state)[
        "docs_scored"
    ] == 15
    assert_matches_full("t5")

    # (6) caught up: no-op
    assert curation_refresh_delta_tick(spark, corpus, sel, state) == {
        "version": None, "selected": None, "fired": False,
    }

    # (7) crash, then the corpus ADVANCES before the retry: the wider
    # delta re-scores the crashed range under the newer version (the
    # (doc_id, __v) join serves exactly the newest rows), the dup
    # guard's cursor exemption stays quiet, and the mix is exact
    corpus.append(docs.where("doc_id >= 360 and doc_id < 370"), txn="load-5")
    sel.replace = boom
    with _pytest.raises(RuntimeError, match="simulated crash"):
        curation_refresh_delta_tick(spark, corpus, sel, state)
    del sel.replace
    corpus.append(docs.where("doc_id >= 370 and doc_id < 380"), txn="load-6")
    r7 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r7["version"] is not None and r7["docs_scored"] == 20
    assert_matches_full("t7")

    # (8) corpus-contract guard: re-appending an already-live doc_id
    # with no retraction in between means the corpus genuinely holds
    # two rows under one id — the tick fails loudly instead of
    # silently diverging from the (now undefined) batch funnel
    from pyspark.sql import functions as F

    corpus.append(
        docs.where("doc_id = 25").select(
            "doc_id",
            "lang",
            F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        ),
        txn="dup-1",
    )
    with _pytest.raises(ValueError, match="duplicate doc_ids"):
        curation_refresh_delta_tick(spark, corpus, sel, state)


def test_curation_delta_carried_dup_guard(spark, tmp_path):
    """ADVICE r10: the carried-survivor skip anti-joins by doc_id
    alone, so a delta window holding BOTH a carried (identical) row
    and a distinct extra + row for one doc_id used to silently drop
    the extra row from scoring — and the plain dup guard exempted the
    doc because it has a − row. The tick must fail loudly on this
    branch of the unique-id-contract violation instead."""
    import pytest as _pytest

    from data_engineer_challenge_spark.operators.snapshot import (
        SnapshotTable,
    )
    from data_engineer_challenge_spark.streaming.ingest import (
        curation_refresh_delta_tick,
    )
    from data_engineer_challenge_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"))
    # ONE file so the rewrite below re-emits every survivor as a
    # carried pair (the guard's trigger needs doc 7 carried)
    corpus.append(docs.where("doc_id < 60").coalesce(1), txn="load-1")
    sel = SnapshotTable(spark, str(tmp_path / "sel"))
    state = str(tmp_path / "state")
    assert curation_refresh_delta_tick(spark, corpus, sel, state)[
        "version"
    ] is not None

    # one window = a copy-on-write rewrite (doc 7 re-emitted carried)
    # PLUS a fresh duplicate append for doc 7 under new text
    corpus.delete_where([("doc_id", "=", 5)])
    corpus.append(
        docs.where("doc_id = 7").select(
            "doc_id",
            "lang",
            F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        ),
        txn="dup-2",
    )
    with _pytest.raises(ValueError, match="carried"):
        curation_refresh_delta_tick(spark, corpus, sel, state)


def test_curation_delta_narrow_guard_equivalence(spark, tmp_path):
    """r15 (VERDICT r14 #1): the carried-survivor guard compares
    NARROW (doc_id, xxhash64(all columns), null-bitmap) rows instead
    of whole rows, so the delta's text never crosses the guard's
    exchange. This pins the equivalence cases the hash argument rests
    on:

    - byte-identical carried rows still skip re-scoring (a pure
      retraction scores ZERO docs — the driver row's tick-2 assert);
    - a rewrite that changes only WHICH column is null re-scores (the
      null bitmap distinguishes what xxhash64's null-skipping alone
      would collide: ("x", NULL) vs (NULL, "x"));
    - a rewrite that changes a value re-scores (hash differs);
    - and the state-log appends land ONE file per commit, not one
      per upstream partition (the r15 rebalance — tick reads would
      otherwise schedule ticks x partitions tiny files)."""
    import os

    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.localrel import local_rows_df
    from data_engineer_challenge_spark.operators.snapshot import (
        SnapshotTable,
    )
    from data_engineer_challenge_spark.streaming.ingest import (
        curation_refresh_delta_tick,
    )

    rows = [
        (1, "en", "alpha beta gamma"),
        (2, None, "delta epsilon"),  # lang null
        (3, "en", None),  # text null
        (4, "fr", "zeta eta theta"),
    ]
    docs = local_rows_df(spark, rows, "doc_id long, lang string, text string")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"))
    corpus.append(docs.repartition(8), txn="b0")  # multi-partition load
    sel = SnapshotTable(spark, str(tmp_path / "sel"))
    state = str(tmp_path / "state")
    r1 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r1["fired"] and r1["docs_scored"] == 4

    # every state-log commit holds ONE data file despite the 8-way load
    for log in ("stats", "grams"):
        data = os.path.join(state, log, "_data")
        for c in os.listdir(data):
            files = [
                f
                for f in os.listdir(os.path.join(data, c))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (log, c, files)

    # pure retraction: every survivor re-emits byte-identical -> the
    # narrow keys match and NOTHING re-scores
    corpus.delete_where([("doc_id", "=", 4)])
    r2 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r2["fired"] and r2["docs_scored"] == 0

    # null-position flip: doc 2 (lang NULL) rewrites to text NULL with
    # the same non-null value moving columns — xxhash64 skips nulls so
    # the 64-bit hashes COLLIDE by construction; the null bitmap must
    # still force a re-score
    corpus.delete_where([("doc_id", "=", 2)])
    corpus.append(
        local_rows_df(
            spark,
            [(2, "delta epsilon", None)],
            "doc_id long, lang string, text string",
        ),
        txn="b2",
    )
    r3 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r3["fired"] and r3["docs_scored"] == 1

    # value rewrite: carried hash differs -> re-scores
    corpus.delete_where([("doc_id", "=", 1)])
    corpus.append(
        local_rows_df(
            spark,
            [(1, "en", "alpha beta gamma v2")],
            "doc_id long, lang string, text string",
        ),
        txn="b3",
    )
    r4 = curation_refresh_delta_tick(spark, corpus, sel, state)
    assert r4["fired"] and r4["docs_scored"] == 1


def test_curation_state_vacuum(spark, tmp_path):
    """r11: state-log retention composes with the delta refresh. The
    tick's housekeeping now vacuums the logs after each fold (600 s
    age guard — a no-op at test speed, exercised here explicitly with
    min_age_seconds=0): superseded log VERSIONS leave the disk, the
    rolling txn map survives the manifest prune (a replayed tick
    still no-ops), and the next refresh stays bit-identical to the
    batch funnel."""
    from data_engineer_challenge_spark.operators.snapshot import (
        SnapshotTable,
    )
    from data_engineer_challenge_spark.plans.text import curation_funnel
    from data_engineer_challenge_spark.streaming.ingest import (
        curation_refresh_delta_tick,
    )
    from data_engineer_challenge_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"))
    corpus.append(docs.where("doc_id < 200"), txn="load-1")
    sel = SnapshotTable(spark, str(tmp_path / "sel"))
    state = str(tmp_path / "state")
    # compact_every=2 so housekeeping (fold + vacuum) fires during
    # the rewrite walk below
    curation_refresh_delta_tick(
        spark, corpus, sel, state, compact_every=2
    )
    for t in range(1, 4):  # three rewrite ticks: superseded rows accrete
        corpus.delete_where([("doc_id", "<", 10)])
        corpus.append(
            docs.where("doc_id < 10").select(
                "doc_id",
                "lang",
                F.concat(F.col("text"), F.lit(f" v{t}")).alias("text"),
            ),
            txn=f"rw-{t}",
        )
        r = curation_refresh_delta_tick(
            spark, corpus, sel, state, compact_every=2
        )
        assert r["fired"] and r["docs_scored"] == 10

    stats = SnapshotTable(spark, str(tmp_path / "state" / "stats"))
    grams = SnapshotTable(spark, str(tmp_path / "state" / "grams"))
    pre_rows = (stats.read().count(), grams.read().count())
    pre_versions = len(stats.versions())
    # the age-guarded in-tick vacuum swept nothing at test speed;
    # sweep explicitly like a long-running deployment would converge
    removed = stats.vacuum(keep_versions=1, min_age_seconds=0)
    removed += grams.vacuum(keep_versions=1, min_age_seconds=0)
    assert removed, "nothing reclaimed — the walk left no history?"
    assert len(stats.versions()) == 1 < pre_versions
    assert (stats.read().count(), grams.read().count()) == pre_rows

    # post-vacuum: the next refresh is still exact, and a caught-up
    # tick still no-ops (the rolling txn map survived the prune)
    corpus.append(docs.where("doc_id >= 200 and doc_id < 230"), txn="b2")
    r = curation_refresh_delta_tick(
        spark, corpus, sel, state, compact_every=2
    )
    assert r["fired"] and r["docs_scored"] == 30
    want = sorted(map(tuple, curation_funnel(corpus.read()).collect()))
    assert sorted(map(tuple, sel.read().collect())) == want
    assert curation_refresh_delta_tick(
        spark, corpus, sel, state, compact_every=2
    ) == {"version": None, "selected": None, "fired": False}


def test_curation_refresh_delta_randomized_ops(spark, tmp_path):
    """Seeded randomized-operation equivalence: a corpus driven
    through an arbitrary interleaving of appends, takedowns, and
    rewrites (delete + re-append under a new version) must keep every
    delta refresh bit-identical to the batch funnel — the staged
    tests pin chosen corners; this sweeps a deterministic random walk
    over the operation space (fixed seed: reproducible, no flake)."""
    import random as _random

    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.snapshot import (
        SnapshotTable,
    )
    from data_engineer_challenge_spark.plans.text import curation_funnel
    from data_engineer_challenge_spark.streaming.ingest import (
        curation_refresh_delta_tick,
    )
    from data_engineer_challenge_spark.tables import load_table

    rng = _random.Random(20260815)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"))
    sel = SnapshotTable(spark, str(tmp_path / "sel"))
    state = str(tmp_path / "state")
    pool = list(range(0, 400))
    in_corpus: set = set()
    next_batch = 0

    def append_new(n):
        nonlocal next_batch
        fresh = [i for i in pool if i not in in_corpus][:n]
        if not fresh:
            return
        in_corpus.update(fresh)
        next_batch += 1
        corpus.append(
            docs.where(F.col("doc_id").isin(fresh)),
            txn=f"op-{next_batch}",
        )

    def takedown(n):
        nonlocal next_batch
        victims = rng.sample(sorted(in_corpus), min(n, len(in_corpus)))
        for v in victims:
            in_corpus.discard(v)
            corpus.delete_where([("doc_id", "=", int(v))])

    def rewrite(n):
        nonlocal next_batch
        victims = rng.sample(sorted(in_corpus), min(n, len(in_corpus)))
        if not victims:
            return
        for v in victims:
            corpus.delete_where([("doc_id", "=", int(v))])
        next_batch += 1
        corpus.append(
            docs.where(F.col("doc_id").isin(victims)).select(
                "doc_id",
                "lang",
                F.concat(F.col("text"), F.lit(" rewritten")).alias(
                    "text"
                ),
            ),
            txn=f"op-{next_batch}",
        )

    append_new(120)  # seed corpus
    ops = [lambda: append_new(rng.randint(5, 40)),
           lambda: takedown(rng.randint(1, 5)),
           lambda: rewrite(rng.randint(1, 6))]
    compacted = False
    for step in range(5):
        rng.choice(ops)()
        # compact_every=2: the tick's own housekeeping fires mid-walk,
        # so the fold's answer-invisibility is swept too
        r = curation_refresh_delta_tick(
            spark, corpus, sel, state, compact_every=2
        )
        if r["fired"]:
            compacted = compacted or r["state_compacted"]
            got = sorted(map(tuple, sel.read().collect()))
            want = sorted(
                map(tuple, curation_funnel(corpus.read()).collect())
            )
            assert got == want, f"diverged at step {step}"
    assert compacted  # the trigger actually fired during the walk


def test_crawl_to_mix_fully_incremental(spark, tmp_path):
    """r10 capstone: the continuous pipeline is incremental END TO END —
    raw drops → change-feed dedup ingest (the raw table's change feed,
    probed against a MinHashIndex) → delta-aware curation refresh over
    the clean corpus → committed training mix. Pins: each refresh's
    mix is bit-identical to the batch funnel over clean's CURRENT
    state; the second tick scores only the second wave's dedup
    survivors (cost ∝ what actually entered the corpus); a takedown
    (clean.delete_where) propagates into the next mix while scoring
    NOTHING (carried survivors skipped) — the right-to-erasure flow
    reaching the training mix itself."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.dedup_index import (
        MinHashIndex,
    )
    from data_engineer_challenge_spark.operators.snapshot import (
        SnapshotTable,
    )
    from data_engineer_challenge_spark.plans.text import curation_funnel
    from data_engineer_challenge_spark.streaming.ingest import (
        curation_refresh_delta_tick,
    )
    from data_engineer_challenge_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    raw = SnapshotTable(spark, str(tmp_path / "raw"))
    clean = SnapshotTable(spark, str(tmp_path / "clean"))
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.8)
    idx.build(docs.limit(0))
    sel = SnapshotTable(spark, str(tmp_path / "sel"))
    state = str(tmp_path / "state")

    def ingest_changes(since):
        """Append raw's rows committed after version ``since`` to
        clean, minus near-duplicates of what clean already holds."""
        fresh = raw.read_changes(since, raw.current_version())
        dups = idx.probe(fresh).select(F.col("new_id").alias("doc_id"))
        fresh = fresh.join(dups, "doc_id", "left_anti").localCheckpoint()
        clean.append(fresh)
        idx.append(fresh)
        idx.release()

    def mix_matches_clean():
        full = curation_funnel(clean.read())
        assert sorted(map(tuple, sel.read().collect())) == sorted(
            map(tuple, full.collect())
        )

    # wave 1: crawl lands, dedup-ingests, the first refresh scores all
    raw.append(docs.where("doc_id < 150"), txn="crawl-1")
    ingest_changes(-1)
    r1 = curation_refresh_delta_tick(spark, clean, sel, state)
    assert r1["docs_scored"] == clean.read().count()
    mix_matches_clean()

    # wave 2: new docs + a near-dup the index drops; the refresh pays
    # only for what survived INTO the corpus
    t0 = docs.where("doc_id = 3").collect()[0]["text"]
    wave2 = docs.where("doc_id >= 150 and doc_id < 200").unionByName(
        spark.createDataFrame(
            [(900001, "en", t0.rsplit(" ", 1)[0] + " zzz")],
            "doc_id long, lang string, text string",
        )
    )
    v1 = raw.current_version()
    raw.append(wave2, txn="crawl-2")
    n_before = clean.read().count()
    ingest_changes(v1)
    survivors = clean.read().count() - n_before
    clean_ids = {
        r["doc_id"] for r in clean.read().select("doc_id").collect()
    }
    assert 900001 not in clean_ids  # the near-dup was dropped at ingest
    assert 0 < survivors <= 50
    r2 = curation_refresh_delta_tick(spark, clean, sel, state)
    assert r2["docs_scored"] == survivors
    mix_matches_clean()

    # takedown: erase a document from clean; the next refresh scores
    # NOTHING (the rewrite's carried rows skip) yet the mix drops it
    victim = sel.read().orderBy(F.desc("log_weight")).first()["doc_id"]
    clean.delete_where([("doc_id", "=", int(victim))])
    r3 = curation_refresh_delta_tick(spark, clean, sel, state)
    assert r3["docs_scored"] == 0
    assert victim not in {
        r["doc_id"] for r in sel.read().select("doc_id").collect()
    }
    mix_matches_clean()


def test_writer_lock_second_process_fails_fast(spark, tmp_path):
    """The single-writer contract is enforced, not prose (r8 ADVICE):
    while another PROCESS holds an index root's writer lock, every
    mutation (append / maybe_compact) raises immediately instead of
    racing the compaction swap's rename window."""
    import subprocess
    import sys
    import textwrap

    import pytest

    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lazy dogs sleep all day")],
        "doc_id long, text string",
    )
    idx = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=8)
    idx.build(docs)

    # a genuinely separate process takes the flock and holds it until
    # told to exit (flock conflicts are per open-file-description, so
    # an in-test thread would not model the cross-process case)
    holder = subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent("""
            import fcntl, os, sys
            fd = os.open(sys.argv[1], os.O_CREAT | os.O_RDWR, 0o644)
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            print("held", flush=True)
            sys.stdin.readline()
        """), str(tmp_path / "tidx" / ".writer.lock")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        with pytest.raises(RuntimeError, match="writer lock"):
            idx.append(docs, txn="t2")
        with pytest.raises(RuntimeError, match="writer lock"):
            idx.maybe_compact(max_files_per_bucket=0)
    finally:
        holder.stdin.write("\n")
        holder.stdin.flush()
        holder.wait(timeout=30)
    # lock released -> mutations proceed again
    assert idx.maybe_compact(max_files_per_bucket=0) >= 1


def test_probe_interleaved_with_compaction(spark, tmp_path):
    """The supported same-process topology (module contract in all
    four index docstrings): probes CREATED after the last compaction
    never error and keep identical answers, across many
    append→compact→probe ticks — the exact interleaving the ingest
    loops run. Also pins that a fully-materialized result survives a
    later compaction (collect() before the swap, reuse after)."""
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )

    idx = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=8)
    idx.build(
        spark.createDataFrame(
            [(0, "alpha beta gamma shared")], "doc_id long, text string"
        )
    )
    want = None
    for tick in range(1, 7):
        batch = spark.createDataFrame(
            [(tick, f"alpha tick{tick} shared words")],
            "doc_id long, text string",
        )
        # materialize a probe BEFORE the mutation (rows, not a lazy
        # frame — the contract is about when frames are CREATED)
        pre = {(r["doc_id"], round(r["score"], 6))
               for r in idx.probe(("alpha",), topk=100).collect()}
        assert len(pre) == tick
        idx.append(batch, txn=f"t{tick}")
        idx.maybe_compact(max_files_per_bucket=0)  # compact EVERY tick
        post = {(r["doc_id"], round(r["score"], 6))
                for r in idx.probe(("alpha",), topk=100).collect()}
        assert len(post) == tick + 1
        want = post
    # a final fresh probe after the last compaction: stable
    got = {(r["doc_id"], round(r["score"], 6))
           for r in idx.probe(("alpha",), topk=100).collect()}
    assert got == want


