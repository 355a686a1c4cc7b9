"""Streaming surface tests: snapshot-diff change detection, the polling
daemon's trigger/lineage behavior (SURVEY §5.3 streaming plan), and
Structured Streaming windowed aggs vs their batch equivalents."""

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
from data_engineer_challenge_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
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
    """pathGlobFilter is case-sensitive but the snapshot trigger
    lower()s names — the source must ingest SCAN.PDF etc. so a change
    that fires the daemon is never silently skipped."""
    from data_engineer_challenge_spark.sources.binary_docs import (
        read_binary_documents,
    )

    d = tmp_path / "docs"
    d.mkdir()
    (d / "00230580_1.pdf").write_bytes(build_pdf(["le 01/01/2001", "dr a"]))
    (d / "12345678_2.PDF").write_bytes(build_pdf(["le 02/02/2002", "dr b"]))
    (d / "99999999_3.Pdf").write_bytes(build_pdf(["le 03/03/2003", "dr c"]))
    (d / "skip.txt").write_bytes(b"z")
    names = {
        r["filename"] for r in read_binary_documents(spark, str(d)).collect()
    }
    assert names == {"00230580_1.pdf", "12345678_2.PDF", "99999999_3.Pdf"}


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


@pytest.mark.parametrize("builder", [tumbling_counts, sliding_counts, session_counts])
def test_stream_windows_match_batch(spark, tmp_path, builder):
    from data_engineer_challenge_spark.schemas import TESTDATA
    from data_engineer_challenge_spark.tables import load_table

    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    batch.write.parquet(str(tmp_path / "stream_src"))

    stream = (
        spark.readStream.schema(TESTDATA["events"])
        .parquet(str(tmp_path / "stream_src"))
    )
    name = f"sink_{builder.__name__}"
    q = (
        builder(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    finally:
        q.stop()
    want = {tuple(r) for r in builder(batch).collect()}
    assert got == want and len(got) > 0


def test_daemon_quarantine_table(daemon_env, spark):
    daemon, root = daemon_env
    daemon.tick()
    (root / "docs" / "55555555_9.pdf").write_bytes(build_pdf(["le 05/05/2005", "dr delta"]))
    daemon.tick()
    q = {r["filename"]: r for r in daemon.wh.read("QUARANTINE_DOCUMENTS").collect()}
    assert "55555555_9.pdf" in q
    assert q["55555555_9.pdf"]["reason"] == "NO_MATCHING_PATIENT"


def test_watermark_drops_late_rows_append_mode(spark, tmp_path):
    """The 100 TB state-bounding claim, proven: in append mode with a
    2 h watermark, an event arriving behind the watermark is DROPPED
    from its window (the window never materializes), while on-time
    windows finalize with exactly their on-time rows. maxFilesPerTrigger
    forces one file per micro-batch so the watermark advances between
    arrivals like a real stream."""
    import time as _time

    from pyspark.sql import Row, types as T

    from data_engineer_challenge_spark.streaming.windows import tumbling_counts

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    import datetime

    def ev(i, hhmm):
        h, m = hhmm
        return Row(
            event_id=i,
            ts=datetime.datetime(2024, 3, 1, h, m),
            user_id=1,
            event_type="click",
            value=1.0,
            props=None,
        )

    src = tmp_path / "late_src"
    src.mkdir()
    # Two subtleties this test pins (both verified empirically):
    # (1) the late criterion is WINDOW END <= watermark, not event
    #     time — an 08:00 row after a 08:45 wm is still accepted
    #     because its window runs to 09:00;
    # (2) the drop filter uses the watermark as of the PREVIOUS
    #     batch's close, so the late row must arrive two batches
    #     after the data that advanced the wm past its window.
    waves = [
        [ev(1, (10, 30)), ev(2, (10, 45))],  # wm after this batch: 08:45
        [ev(4, (13, 0))],                    # wm 08:45 active; after: 11:00
        [ev(3, (6, 30))],                    # window end 07:00 < wm -> DROPPED
        [ev(5, (16, 0))],                    # advances wm -> windows close
    ]
    for i, wave in enumerate(waves):
        spark.createDataFrame(wave, schema).coalesce(1).write.parquet(
            str(src / f"wave{i}")
        )
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        tumbling_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["window_start"].hour, r["n_events"])
            for r in spark.sql("SELECT * FROM late_sink").collect()
        }
        dropped = sum(
            (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        q.stop()
    assert (10, 2) in rows, rows       # on-time window finalized intact
    assert (13, 1) in rows, rows       # the later fresh row landed
    assert all(h != 6 for h, _ in rows), rows  # the late row was dropped
    assert dropped == 1, dropped       # and the engine COUNTED the drop


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


def test_streaming_heavy_hitter_candidates(spark, tmp_path):
    """Streaming MG summaries across real micro-batches: candidates
    after the final batch must cover every key whose GLOBAL count
    exceeds n/capacity even when its occurrences are spread over
    batches (the cross-batch survival guarantee), with per-shard state
    bounded by the capacity."""
    import time as _time

    from data_engineer_challenge_spark.streaming.stateful import (
        streaming_heavy_hitter_candidates,
    )

    schema = "user_id long"
    src = tmp_path / "hh_src"
    src.mkdir()
    # 3 waves: key 1 heavy but SPREAD (never dominant in one wave),
    # key 2 heavy in one wave, long-tail noise keys everywhere
    waves = [
        [(1,)] * 120 + [(10_000 + i,) for i in range(300)],
        [(1,)] * 120 + [(2,)] * 300 + [(20_000 + i,) for i in range(300)],
        [(1,)] * 120 + [(30_000 + i,) for i in range(300)],
    ]
    for i, wave in enumerate(waves):
        spark.createDataFrame(wave, schema).coalesce(1).write.parquet(
            str(src / f"wave{i}")
        )
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    cap = 16
    q = (
        streaming_heavy_hitter_candidates(stream, "user_id", capacity=cap)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("hh_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        # the memory sink accumulates one emission per (shard, batch);
        # the union of ALL emitted keys is a superset of the final
        # shard summaries — still bounded (batches x shards x capacity)
        # and candidate completeness is all the downstream exact
        # verify pass needs
        cand = {
            r["key"] for r in spark.sql("SELECT key FROM hh_sink").collect()
        }
    finally:
        q.stop()
    n = sum(len(w) for w in waves)
    exact_heavy = {1, 2}  # 360 and 300 of 1560 rows; threshold 97.5
    assert exact_heavy <= cand
    # state boundedness: no single emission carries more than capacity
    per = spark.sql(
        "SELECT shard, COUNT(DISTINCT key) AS k FROM hh_sink GROUP BY shard"
    ).collect()
    assert all(r["k"] <= cap * 3 for r in per)  # ≤ capacity per batch emission


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join (view followed by click within
    1 h, same user) must produce exactly the rows the identical
    predicate yields on the static frames — and the watermark +
    range condition must let the engine actually evict join state
    (asserted via the state-operator metrics)."""
    from data_engineer_challenge_spark.schemas import TESTDATA
    from data_engineer_challenge_spark.streaming.joins import interval_join
    from data_engineer_challenge_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    views_b = ev.where("event_type = 'view'").select("user_id", "ts", "event_id")
    clicks_b = ev.where("event_type = 'click'").select(
        "user_id", "ts", "event_id"
    )
    want = {
        (r["l_event_id"], r["r_event_id"])
        for r in interval_join(views_b, clicks_b, key="user_id").collect()
    }
    assert want  # fixture has attributable pairs

    src = str(tmp_path / "ev_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(TESTDATA["events"]).parquet(src)
    views_s = stream.where("event_type = 'view'").select(
        "user_id", "ts", "event_id"
    )
    clicks_s = stream.where("event_type = 'click'").select(
        "user_id", "ts", "event_id"
    )
    q = (
        interval_join(views_s, clicks_s, key="user_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["l_event_id"], r["r_event_id"])
            for r in spark.sql(
                "SELECT l_event_id, r_event_id FROM ssj_sink"
            ).collect()
        }
        stateful = [p for p in q.recentProgress if p["stateOperators"]]
        assert stateful  # the join really carries watermarked state
    finally:
        q.stop()
    assert got == want


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    from data_engineer_challenge_spark.schemas import TESTDATA
    from data_engineer_challenge_spark.streaming.joins import enrich_with_dim
    from data_engineer_challenge_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(0, 100, 2)],  # odd ids missing
        "user_id long, segment string",
    )
    want = {
        (r["event_id"], r["segment"])
        for r in enrich_with_dim(ev, dim, "user_id")
        .select("event_id", "segment")
        .collect()
    }
    assert any(s is None for _, s in want)  # left join kept orphans

    src = str(tmp_path / "enrich_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(TESTDATA["events"]).parquet(src)
    q = (
        enrich_with_dim(stream, dim, "user_id")
        .select("event_id", "segment")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.sql("SELECT * FROM enrich_sink").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_enrich_with_dim_key_in_cols_and_empty_list(spark):
    from data_engineer_challenge_spark.streaming.joins import enrich_with_dim
    from data_engineer_challenge_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    dim = spark.createDataFrame(
        [(1, "s1")], "user_id long, segment string"
    )
    # key listed in dim_cols must not create a duplicate column
    out = enrich_with_dim(ev, dim, "user_id", dim_cols=["user_id", "segment"])
    assert out.columns.count("user_id") == 1 and "segment" in out.columns
    assert out.count() == ev.count()
    # explicitly-empty dim_cols attaches nothing (not everything)
    bare = enrich_with_dim(ev, dim, "user_id", dim_cols=[])
    assert "segment" not in bare.columns


def test_enrichment_picks_up_dim_refresh_between_batches(spark, tmp_path):
    """Stream-static composition with the transactional dim: the
    enrichment join re-resolves the SnapshotTable's CURRENT version
    per micro-batch, so a dim replace between batches changes
    enrichment from that batch on — no query restart."""
    import time as _time

    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable
    from data_engineer_challenge_spark.streaming.joins import enrich_with_dim

    dim = SnapshotTable(spark, str(tmp_path / "dim"))
    dim.append(
        spark.createDataFrame([(7, "old-segment")], "user_id long, segment string")
    )

    schema = "event_id long, user_id long"
    src = tmp_path / "esrc"
    src.mkdir()
    spark.createDataFrame([(1, 7)], schema).coalesce(1).write.parquet(
        str(src / "w0")
    )
    _time.sleep(1.1)
    spark.createDataFrame([(2, 7)], schema).coalesce(1).write.parquet(
        str(src / "w1")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    seen = []

    def enrich_batch(batch_df, batch_id):
        out = enrich_with_dim(batch_df, dim.read(), "user_id")
        seen.extend((r["event_id"], r["segment"]) for r in out.collect())
        if batch_id == 0:
            dim.replace(
                spark.createDataFrame(
                    [(7, "new-segment")], "user_id long, segment string"
                )
            )

    q = (
        stream.writeStream.foreachBatch(enrich_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(seen) == [(1, "old-segment"), (2, "new-segment")]


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """Left-outer attribution (VERDICT r5 #3): an impression with no
    click in its window must surface null-extended ONCE the watermark
    proves the window closed; a window still open at end-of-stream is
    withheld (a late click could still arrive). Stream output must
    equal the batch left join restricted to closed windows, and the
    join state must actually shrink (rows evicted on watermark)."""
    import datetime as dt

    from data_engineer_challenge_spark.streaming.joins import interval_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    schema = "user_id long, ts timestamp, event_id long"
    # user 1: view matched by a click 30 min later
    # user 2: view never clicked -> must surface (2, null) once closed
    # user 3: view at +20h — window still open at end -> withheld
    views = [
        [(1, ts(0), 100), (2, ts(0), 200)],
        [(3, ts(20), 300)],           # wave 2 pushes the watermark
        [(9, ts(40), 900)],           # wave 3 forces the closing batch
    ]
    clicks = [
        [(1, ts(0.5), 101)],
        [(8, ts(20), 801)],           # watermark pusher on the right
        [(8, ts(40), 802)],
    ]
    vdir, cdir = tmp_path / "views", tmp_path / "clicks"
    for i, wave in enumerate(views):
        spark.createDataFrame(wave, schema).coalesce(1).write.parquet(
            str(vdir / f"w{i}")
        )
    for i, wave in enumerate(clicks):
        spark.createDataFrame(wave, schema).coalesce(1).write.parquet(
            str(cdir / f"w{i}")
        )

    from pyspark.sql.types import _parse_datatype_string

    sch = _parse_datatype_string(schema)
    views_s = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(vdir / "*"))
    )
    clicks_s = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(cdir / "*"))
    )
    q = (
        interval_join(views_s, clicks_s, key="user_id", how="left_outer")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("loj_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["l_event_id"], r["r_event_id"])
            for r in spark.sql(
                "SELECT l_event_id, r_event_id FROM loj_sink"
            ).collect()
        }
        stateful = [p for p in q.recentProgress if p["stateOperators"]]
        assert stateful
        removed = sum(
            op.get("numRowsRemoved", 0)
            for p in stateful
            for op in p["stateOperators"]
        )
        assert removed > 0  # watermark really evicted buffered rows
    finally:
        q.stop()

    # batch twin on the same frames, restricted to closed windows:
    # final watermark = max event time (40h) - 2h delay = 38h; every
    # view with ts + 1h < 38h is closed (users 1, 2, 3), the 40h
    # pusher view (user 9) is still open and withheld
    views_b = spark.createDataFrame(sum(views, []), schema)
    clicks_b = spark.createDataFrame(sum(clicks, []), schema)
    batch = interval_join(views_b, clicks_b, key="user_id", how="left_outer")
    closed = batch.where("l_ts + INTERVAL 1 HOUR < timestamp'2024-01-02 14:00:00'")
    want = {
        (r["l_event_id"], r["r_event_id"]) for r in closed.collect()
    }
    assert want == {(100, 101), (200, None), (300, None)}
    assert got == want


def test_streaming_ivm_view_stays_fresh_and_exactly_once(spark, tmp_path):
    """ingest_stream_ivm: the aggregate view is maintained per
    micro-batch; a fresh-checkpoint replay of the whole stream (the
    crashed-driver shape) commits nothing on either table; a source
    delete between runs folds subtractively on the next tick."""
    from pyspark.sql import functions as SF
    from pyspark.sql import types as T

    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable
    from data_engineer_challenge_spark.streaming.ingest import (
        ingest_stream_ivm,
    )

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    src_dir = str(tmp_path / "files")
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 5.0)], schema
    ).coalesce(1).write.parquet(src_dir)
    table = SnapshotTable(spark, str(tmp_path / "table"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    ivm = IncrementalAgg(
        spark, table, view, group_cols=["k"], sum_cols=["v"], n_buckets=8
    )

    def check():
        got = {
            (r["k"], r["n_rows"], r["sum_v"])
            for r in ivm.read_view().collect()
        }
        want = {
            (r["k"], r["n_rows"], r["sum_v"])
            for r in table.read()
            .groupBy("k")
            .agg(SF.count("*").alias("n_rows"), SF.sum("v").alias("sum_v"))
            .collect()
        }
        assert got == want, (got, want)

    ingest_stream_ivm(spark, src_dir, schema, table, ivm, str(tmp_path / "c0"))
    check()
    tv, vv = table.current_version(), view.current_version()

    # fresh-checkpoint replay over the same files: both tables untouched
    ingest_stream_ivm(spark, src_dir, schema, table, ivm, str(tmp_path / "c1"))
    assert (table.current_version(), view.current_version()) == (tv, vv)

    # out-of-band source delete + a new wave, resuming the ORIGINAL
    # checkpoint (normal operation — txn ids are batch ids, so they
    # are only meaningful within one checkpoint lineage): the next
    # run's ticks fold the retraction AND the new rows
    table.delete_where([("k", "=", 2)])
    spark.createDataFrame([(3, 9.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    ingest_stream_ivm(spark, src_dir, schema, table, ivm, str(tmp_path / "c0"))
    check()
    got = {r["k"] for r in ivm.read_view().collect()}
    assert got == {1, 3}  # group 2 retired subtractively


def test_dedup_within_watermark_matches_batch(spark, tmp_path):
    """Watermark-bounded streaming dedup: duplicates planted as exact
    full-row copies in a SECOND file (so they arrive in a later
    micro-batch) are suppressed, the surviving row set equals the
    batch keyed dedup, and the query really carries a dedup state
    operator (the bounded-state claim is in the metrics, not just the
    rows)."""
    from data_engineer_challenge_spark.schemas import TESTDATA
    from data_engineer_challenge_spark.streaming.dedup import (
        dedup_within_watermark,
    )
    from data_engineer_challenge_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    src = str(tmp_path / "dedup_src")
    ev.coalesce(1).write.parquet(src)
    # replayed subset: exact full-row copies => any kept row is
    # byte-identical, so set equality against batch dedup is exact
    ev.where("event_id % 7 = 0").coalesce(1).write.mode("append").parquet(src)

    want = {
        tuple(r)
        for r in dedup_within_watermark(ev, ["event_id"]).collect()
    }

    stream = (
        spark.readStream.schema(TESTDATA["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("event_id", "user_id", "event_type", "ts")
    )
    q = (
        dedup_within_watermark(stream, ["event_id"], watermark="365 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            tuple(r) for r in spark.sql("SELECT * FROM dedup_sink").collect()
        }
        stateful = [p for p in q.recentProgress if p["stateOperators"]]
        assert stateful, "dedup must run through a state operator"
        op_names = {
            s.get("operatorName")
            for p in stateful
            for s in p["stateOperators"]
        }
        assert "dedupeWithinWatermark" in op_names
    finally:
        q.stop()
    assert got == want and len(got) == ev.count()


def test_streaming_sketch_rollup_exact_and_replay_proof(spark, tmp_path):
    """The streaming distinct-sketch sink: events arrive one file per
    micro-batch, each batch appends per-(type, day) sketches, and the
    union over ALL sketch rows still equals the exact distinct count
    (mergeability under arbitrary batch slicing — groups straddle
    batches, so a group owns multiple sketch rows). Then the
    idempotence wall: re-appending identical sketches under a FRESH
    txn (simulating a replay that defeated the txn layer) must not
    move a single estimate."""
    import pyspark.sql.functions as SF

    from data_engineer_challenge_spark.operators.sketches import (
        build_distinct_sketches,
        merge_distinct_estimate,
    )
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable
    from data_engineer_challenge_spark.streaming.ingest import (
        ingest_stream_distinct_sketches,
    )
    from data_engineer_challenge_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    shaped_cols = [
        "event_type", SF.date_trunc("day", "ts").alias("day"), "user_id",
    ]
    # two files => two micro-batches; the second is an OVERLAPPING
    # subset (an at-least-once redelivery): its groups end up owning
    # two sketch rows each, which the union must absorb exactly
    src = str(tmp_path / "sk_src")
    for pred in ("true", "event_id % 3 = 0"):
        ev.where(pred).select(*shaped_cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    tab = SnapshotTable(spark, str(tmp_path / "sk_tab"))
    ingest_stream_distinct_sketches(
        spark,
        src,
        ev.select(*shaped_cols).schema,
        tab,
        value_col="user_id",
        group_cols=["event_type", "day"],
        checkpoint_dir=str(tmp_path / "sk_ckpt"),
        max_files_per_trigger=1,
    )

    def estimates():
        return {
            r["event_type"]: r["n_distinct"]
            for r in merge_distinct_estimate(
                tab.read(), ["event_type"]
            ).collect()
        }

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(SF.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = estimates()
    assert est == exact
    # the redelivered subset's groups own TWO sketch rows each
    n_groups = ev.select("event_type", SF.date_trunc("day", "ts")).distinct().count()
    assert tab.read().count() > n_groups

    # idempotence wall
    tab.append(
        build_distinct_sketches(
            ev.select(*shaped_cols), "user_id", ["event_type", "day"]
        ),
        txn="rogue-replay",
    )
    assert estimates() == est


def test_stream_quantile_sketch_rollup(spark, tmp_path):
    """The quantile twin of the HLL sketch sink: DISJOINT micro-batches
    append per-(group, batch) centroid sketches, the merged read-path
    estimate equals the batch-built answer over all rows (exact
    regime), and the txn wall makes a replayed batch id a no-op —
    which is the ONLY wall here: centroid sketches are additive, so a
    rogue re-append under a fresh txn id WOULD move the count (pinned
    below, the documented contrast with HLL's algebraic idempotence)."""
    import pyspark.sql.functions as SF

    from data_engineer_challenge_spark.operators.quantiles import (
        build_quantile_sketches,
        quantile_estimates,
    )
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable
    from data_engineer_challenge_spark.streaming.ingest import (
        ingest_stream_quantile_sketches,
    )
    from data_engineer_challenge_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    shaped_cols = [
        "event_type", SF.date_trunc("day", "ts").alias("day"), "value",
    ]
    src = str(tmp_path / "qk_src")
    for pred in ("event_id % 2 = 0", "event_id % 2 = 1"):  # disjoint
        ev.where(pred).select(*shaped_cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    tab = SnapshotTable(spark, str(tmp_path / "qk_tab"))
    ingest_stream_quantile_sketches(
        spark,
        src,
        ev.select(*shaped_cols).schema,
        tab,
        value_col="value",
        group_cols=["event_type", "day"],
        checkpoint_dir=str(tmp_path / "qk_ckpt"),
        max_files_per_trigger=1,
    )

    def estimates():
        return {
            r["event_type"]: (r["n_values"], r["p50"], r["p90"])
            for r in quantile_estimates(
                tab.read(), ["event_type"], {"p50": 0.5, "p90": 0.9}
            ).collect()
        }

    direct = {
        r["event_type"]: (r["n_values"], r["p50"], r["p90"])
        for r in quantile_estimates(
            build_quantile_sketches(
                ev.select(*shaped_cols), "value", ["event_type", "day"]
            ),
            ["event_type"],
            {"p50": 0.5, "p90": 0.9},
        ).collect()
    }
    est = estimates()
    assert est == direct and len(est) > 0

    # txn wall: replaying an ALREADY-COMMITTED batch id is a no-op
    before = tab.current_version()
    tab.append(
        build_quantile_sketches(
            ev.where("event_id % 2 = 0").select(*shaped_cols),
            "value",
            ["event_type", "day"],
        ),
        txn="qk-0",
    )
    assert tab.current_version() == before and estimates() == est

    # and the contract boundary: a re-append under a FRESH txn id
    # double-counts (additive sketches have no algebraic second wall)
    tab.append(
        build_quantile_sketches(
            ev.where("event_id % 2 = 0").select(*shaped_cols),
            "value",
            ["event_type", "day"],
        ),
        txn="rogue-replay",
    )
    doubled = estimates()
    assert any(
        doubled[k][0] > est[k][0] for k in est
    ), "fresh-txn re-append should have moved counts"


def test_stream_stream_full_outer_interval_join(spark, tmp_path):
    """Full-outer reconciliation: unmatched rows surface null-extended
    from BOTH streams once the watermark proves their window closed —
    unmatched views when ``l_ts + within`` passes, unmatched clicks
    (the orphaned-click audit row left_outer silently drops) when
    their own event time passes. Stream output must equal the batch
    full join restricted to closed windows on the respective side."""
    import datetime as dt

    from data_engineer_challenge_spark.streaming.joins import interval_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    schema = "user_id long, ts timestamp, event_id long"
    # user 1: matched pair; user 2: view never clicked; user 4: click
    # never viewed (the row only full_outer surfaces); the +40h wave
    # pushes the watermark far enough to close every earlier window
    views = [
        [(1, ts(0), 100), (2, ts(0), 200)],
        [(9, ts(40), 900)],           # wave 2 pushes the watermark
        [(9, ts(41), 901)],           # wave 3 forces the closing batch
    ]
    clicks = [
        [(1, ts(0.5), 101), (4, ts(1), 401)],
        [(8, ts(40), 801)],
        [(8, ts(41), 802)],
    ]
    vdir, cdir = tmp_path / "views", tmp_path / "clicks"
    for i, wave in enumerate(views):
        spark.createDataFrame(wave, schema).coalesce(1).write.parquet(
            str(vdir / f"w{i}")
        )
    for i, wave in enumerate(clicks):
        spark.createDataFrame(wave, schema).coalesce(1).write.parquet(
            str(cdir / f"w{i}")
        )

    from pyspark.sql.types import _parse_datatype_string

    sch = _parse_datatype_string(schema)
    views_s = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(vdir / "*"))
    )
    clicks_s = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(cdir / "*"))
    )
    q = (
        interval_join(views_s, clicks_s, key="user_id", how="full_outer")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("foj_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["l_event_id"], r["r_event_id"])
            for r in spark.sql(
                "SELECT l_event_id, r_event_id FROM foj_sink"
            ).collect()
        }
        stateful = [p for p in q.recentProgress if p["stateOperators"]]
        assert stateful
        # full-outer evictions leave the store by EMITTING the outer
        # row, which Spark does not count in numRowsRemoved (unlike
        # the left-outer path) — the observable eviction signal is
        # the state total SHRINKING once the watermark passes
        totals = [
            op["numRowsTotal"]
            for p in stateful
            for op in p["stateOperators"]
        ]
        assert totals[-1] < max(totals)  # state really shrank
    finally:
        q.stop()

    # batch twin: final watermark = 41h - 2h delay = 39h. Left rows
    # close when l_ts + 1h < 39h; right rows close when r_ts < 39h.
    # The 40/41h pushers on both sides are still open and withheld.
    views_b = spark.createDataFrame(sum(views, []), schema)
    clicks_b = spark.createDataFrame(sum(clicks, []), schema)
    batch = interval_join(views_b, clicks_b, key="user_id", how="full_outer")
    wm = "timestamp'2024-01-02 15:00:00'"
    closed = batch.where(
        f"(l_ts IS NOT NULL AND l_ts + INTERVAL 1 HOUR < {wm})"
        f" OR (l_ts IS NULL AND r_ts < {wm})"
    )
    want = {
        (r["l_event_id"], r["r_event_id"]) for r in closed.collect()
    }
    assert want == {(100, 101), (200, None), (None, 401)}
    assert got == want


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


# ------------------------------------------- end-to-end capstone (r7)


def test_streaming_capstone_end_to_end_exactly_once(spark, tmp_path):
    """VERDICT r6 #7 — the full streaming composition in ONE sequence:
    WARC segment ingestion with passage dedup (warc_ingest_tick +
    WindowHashIndex) -> clean-corpus staging (exact dedup + length
    filter over the warehouse) -> continuously maintained IVM stats
    view (ingest_stream_ivm), with the driver KILLED and restarted at
    two different seams mid-sequence:

    1. inside a WARC tick, after the batch landed but before the
       offset commit (state.save raises) — the restarted tick re-sees
       the segment and the id guard + keyed MERGE converge it;
    2. inside the IVM stream's foreachBatch, after the source append
       but before the view fold (ivm.tick raises) — the restarted
       stream replays the batch, the txn record absorbs the re-append,
       and the tick's durable cursor folds the missed version.

    Every piece is individually crash-tested elsewhere; this test
    proves the COMPOSITION is exactly-once: after all crashes the
    warehouse equals the converged text, the stats source holds each
    clean doc exactly once, and the view equals the static aggregate."""
    import glob as globmod
    import os
    import shutil

    from pyspark.sql import functions as SF
    from pyspark.sql import types as T

    from data_engineer_challenge_spark.operators.dedup import keep_first_dedup
    from data_engineer_challenge_spark.operators.ivm import IncrementalAgg
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
    from data_engineer_challenge_spark.operators.passage import WindowHashIndex
    from data_engineer_challenge_spark.operators.snapshot import SnapshotTable
    from data_engineer_challenge_spark.streaming.ingest import ingest_stream_ivm
    from data_engineer_challenge_spark.streaming.snapshot_diff import SnapshotState
    from data_engineer_challenge_spark.streaming.warc_ingest import warc_ingest_tick
    from tests.test_web_sources import _html, _segment

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    clean_src = str(tmp_path / "clean_src")
    os.makedirs(clean_src)
    boiler = " ".join(f"boiler{i}" for i in range(40))
    unique_b = (
        "a distinct article describing medieval bridge construction "
        "techniques with stone arches keystones and wooden falsework "
        "scaffolding over wide rivers in autumn"
    )

    def reopen():
        """Everything the driver holds in memory, rebuilt from disk —
        the restart."""
        return (
            SnapshotState.load(str(tmp_path / "offsets.json")),
            ParquetWarehouse(spark, str(tmp_path / "wh")),
            WindowHashIndex(spark, str(tmp_path / "pidx")),
        )

    def reopen_ivm():
        table = SnapshotTable(spark, str(tmp_path / "stats_src"))
        view = SnapshotTable(spark, str(tmp_path / "stats_view"))
        ivm = IncrementalAgg(
            spark, table, view, group_cols=["host"],
            sum_cols=["n_tokens"], n_buckets=8,
        )
        return table, view, ivm

    def clean_stage(docs):
        """The clean-corpus stages over the warc-shaped warehouse
        table: whitespace-normalized exact dedup (keep lowest doc_id)
        + token-length filter + the host rollup key."""
        norm = SF.trim(SF.regexp_replace(SF.lower("text"), r"\s+", " "))
        scored = docs.select(
            "doc_id",
            "source",
            SF.md5(norm.cast("binary")).alias("fp"),
            SF.size(
                SF.regexp_extract_all(SF.lower("text"), SF.lit("[a-z0-9]+"), 0)
            ).cast("long").alias("n_tokens"),
        )
        kept = keep_first_dedup(scored, ["fp"], ["doc_id"])
        return kept.filter(SF.col("n_tokens") >= 8).select(
            "doc_id",
            SF.regexp_extract("source", "//([^/]+)", 1).alias("host"),
            "n_tokens",
        )

    def stage_clean_delta(wh):
        """Stage ONLY the clean docs not yet staged, as flat parquet
        files the stream source tracks. Crash-idempotent without
        markers: a replay recomputes the delta against what already
        reached clean_src, so each doc is staged at most once no
        matter where a previous attempt died."""
        cleaned = clean_stage(wh.read("web_docs"))
        staged = globmod.glob(os.path.join(clean_src, "*.parquet"))
        if staged:
            prev = spark.read.parquet(*staged).select("doc_id")
            cleaned = cleaned.join(prev, "doc_id", "left_anti")
        if cleaned.count() == 0:
            return
        tmp = str(tmp_path / "stage_tmp")
        cleaned.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in globmod.glob(os.path.join(tmp, "part-*.parquet")):
            shutil.move(f, os.path.join(clean_src, os.path.basename(f)))

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
    ])

    def run_stats_stream(table, ivm):
        ingest_stream_ivm(
            spark, clean_src, schema, table, ivm,
            str(tmp_path / "ckpt"), txn_prefix="stats",
        )

    def check_invariants():
        state, wh, pidx = reopen()
        table, view, ivm = reopen_ivm()
        # stats source holds each clean doc EXACTLY once
        want = {
            (r["doc_id"], r["host"], r["n_tokens"])
            for r in clean_stage(wh.read("web_docs")).collect()
        }
        got_rows = table.read().collect()
        got = {(r["doc_id"], r["host"], r["n_tokens"]) for r in got_rows}
        assert got == want, (got, want)
        assert len(got_rows) == len(want)  # no duplicate appends
        # the maintained view equals the static aggregate
        view_rows = {
            (r["host"], r["n_rows"], r["sum_n_tokens"])
            for r in ivm.read_view().collect()
        }
        static = {
            (r["host"], r["n_rows"], r["sum_n_tokens"])
            for r in table.read().groupBy("host").agg(
                SF.count("*").alias("n_rows"),
                SF.sum("n_tokens").alias("sum_n_tokens"),
            ).collect()
        }
        assert view_rows == static, (view_rows, static)

    # ---- phase 1: normal tick, stage, stream -------------------------
    (warc_dir / "a.warc").write_bytes(_segment([
        ("doc-a", "http://x.example/a", _html("lead words " + boiler + " tail")),
        ("doc-b", "http://x.example/b", _html(unique_b)),
    ]))
    state, wh, pidx = reopen()
    r1 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", passage_index=pidx
    )
    assert r1.fired and r1.docs_merged == 2
    stage_clean_delta(wh)
    table, view, ivm = reopen_ivm()
    run_stats_stream(table, ivm)
    check_invariants()

    # ---- phase 2: tick CRASHES after landing, before offset commit ---
    (warc_dir / "b.warc").write_bytes(_segment([
        # boiler repeat -> passage index cuts it before the row lands
        # the non-boiler remainder must clear the clean stage's
        # 8-token length filter, or doc-c never reaches the stats
        # stream and phase 3 has no batch to crash
        ("doc-c", "http://y.example/c",
         _html("three fresh lead tokens here in a longer piece "
               + boiler + " with its own proper ending")),
        # exact duplicate of doc-b -> clean stage drops it
        ("doc-d", "http://y.example/d", _html(unique_b)),
        # too short -> length filter drops it
        ("doc-e", "http://y.example/e", _html("tiny page")),
    ]))
    state, wh, pidx = reopen()

    def dead_save():
        raise RuntimeError("driver killed before offset commit")

    state.save = dead_save
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="offset commit"):
        warc_ingest_tick(
            spark, str(warc_dir), state, wh, "web_docs", passage_index=pidx
        )

    # restart: fresh objects from disk; the segment is re-seen and the
    # replay converges (id guard stops self-matching; MERGE is keyed)
    state, wh, pidx = reopen()
    r2 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", passage_index=pidx
    )
    assert r2.fired and r2.segments == ("b.warc",)
    rows = {r["doc_id"]: r["text"] for r in wh.read("web_docs").collect()}
    assert "boiler0" in rows["<urn:uuid:doc-a>"].split()      # owner intact
    assert "boiler0" not in rows["<urn:uuid:doc-c>"].split()  # repeat cut
    assert "three" in rows["<urn:uuid:doc-c>"].split()

    # ---- phase 3: IVM stream CRASHES between append and view fold ----
    stage_clean_delta(wh)
    table, view, ivm = reopen_ivm()
    real_tick = ivm.tick

    def dead_tick():
        raise RuntimeError("driver killed before view fold")

    ivm.tick = dead_tick
    with _pytest.raises(Exception, match="view fold"):
        run_stats_stream(table, ivm)
    ivm.tick = real_tick

    # restart the stream on the SAME checkpoint: the batch replays,
    # the txn record absorbs the re-append, the cursor folds the
    # missed version
    table, view, ivm = reopen_ivm()
    run_stats_stream(table, ivm)
    check_invariants()
    # doc-d (exact dup) and doc-e (too short) never reached the stats
    # source; doc-c landed exactly once with the boiler cut
    ids = {r["doc_id"] for r in reopen_ivm()[0].read().collect()}
    assert ids == {
        "<urn:uuid:doc-a>", "<urn:uuid:doc-b>", "<urn:uuid:doc-c>"
    }

    # ---- phase 4: one more NORMAL wave end to end after the crashes --
    (warc_dir / "c.warc").write_bytes(_segment([
        ("doc-f", "http://z.example/f",
         _html("an entirely new final article about terraced rice "
               "irrigation canals and bamboo aqueduct engineering")),
    ]))
    state, wh, pidx = reopen()
    r3 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", passage_index=pidx
    )
    assert r3.fired and r3.docs_merged == 1
    stage_clean_delta(wh)
    table, view, ivm = reopen_ivm()
    run_stats_stream(table, ivm)
    check_invariants()
    hosts = {
        r["host"]: r["n_rows"] for r in reopen_ivm()[2].read_view().collect()
    }
    assert hosts == {"x.example": 2, "y.example": 1, "z.example": 1}


def test_vector_index_tick_exactly_once_answers(spark, tmp_path):
    """The embeddings drop-directory tick: new parquet drops append to
    the persisted IVF index; a state-loss full reprocess re-appends
    everything, yet probe answers are identical (per-candidate fold)
    and compaction restores physical uniqueness."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.ann_index import (
        IVFVectorIndex,
    )
    from data_engineer_challenge_spark.plans.ivf_centroids import CENTROIDS
    from data_engineer_challenge_spark.streaming.ingest import (
        vector_index_tick,
    )
    from data_engineer_challenge_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    drops = tmp_path / "drops"
    drops.mkdir()
    # single-FILE drops (the mtime snapshot diff watches files, the
    # realistic shape for an upstream embedding job's output)
    emb.where("vec_id % 2 = 0").toPandas().to_parquet(
        str(drops / "d0.parquet"), index=False
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    idx = IVFVectorIndex(spark, str(tmp_path / "ivf"), CENTROIDS)

    r1 = vector_index_tick(spark, str(drops), state, idx)
    assert r1["fired"] and r1["files"] == ("d0.parquet",)

    # quiet tick
    assert not vector_index_tick(spark, str(drops), state, idx)["fired"]

    emb.where("vec_id % 2 = 1").toPandas().to_parquet(
        str(drops / "d1.parquet"), index=False
    )
    r2 = vector_index_tick(spark, str(drops), state, idx)
    assert r2["fired"] and r2["files"] == ("d1.parquet",)

    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    want = [tuple(r) for r in idx.probe(queries, k=5, n_probe=2)
            .orderBy("q_id", "rank").collect()]

    # state loss: both drops reprocess; answers unchanged, and the
    # tick's own compaction call eventually restores uniqueness
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    r3 = vector_index_tick(spark, str(drops), lost, idx)
    assert r3["fired"] and set(r3["files"]) == {"d0.parquet", "d1.parquet"}
    got = [tuple(r) for r in idx.probe(queries, k=5, n_probe=2)
           .orderBy("q_id", "rank").collect()]
    assert got == want
    assert idx.maybe_compact(max_files_per_list=0) >= 1
    posts = spark.read.parquet(str(tmp_path / "ivf" / "postings"))
    assert posts.count() == emb.count()
    got2 = [tuple(r) for r in idx.probe(queries, k=5, n_probe=2)
            .orderBy("q_id", "rank").collect()]
    assert got2 == want


def test_vector_index_tick_modified_drop_supersedes_stale_vectors(
    spark, tmp_path
):
    """Regression (r8 ADVICE): a MODIFIED drop file is an update, not
    a replay — before the ``latest/`` roster, the probe's per-candidate
    max fold scored an updated id against BOTH its old and new vectors
    (serving the stale one whenever it scored higher), and compaction
    kept an arbitrary copy. Pin the fixed semantics: after a modify,
    (1) a probe of the OLD vector's inverted list no longer returns
    the id at all — even though the replacement re-assigned to a
    different cid= list — (2) a probe of the NEW list scores the new
    vector, (3) compaction physically reclaims the stale rows, and
    (4) a state-loss reprocess of the modified file leaves answers
    bit-identical."""
    import os
    import time

    import pandas as pd

    from data_engineer_challenge_spark.operators.ann_index import (
        IVFVectorIndex,
    )
    from data_engineer_challenge_spark.streaming.ingest import (
        vector_index_tick,
    )

    drops = tmp_path / "drops"
    drops.mkdir()
    d0 = drops / "d0.parquet"

    def write_drop(rows):
        pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
            str(d0), index=False
        )

    # two orthogonal inverted lists; id 1 starts in list A (x-axis)
    centroids = [[1.0, 0.0], [0.0, 1.0]]
    write_drop([
        (1, [1.0, 0.05]),
        (2, [0.9, 0.1]),
        (3, [0.05, 1.0]),
    ])
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    idx = IVFVectorIndex(spark, str(tmp_path / "ivf"), centroids)
    assert vector_index_tick(spark, str(drops), state, idx)["fired"]

    q = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])],
        "q_id long, embedding array<double>",
    )
    before = {
        (r["q_id"], r["c_id"]): round(r["cos_sim"], 6)
        for r in idx.probe(q, k=3, n_probe=1).collect()
    }
    assert (10, 1) in before and (11, 1) not in before

    # modify the drop: id 1's vector moves to list B's neighborhood
    # (ids 2 and 3 unchanged — a partial re-embedding run)
    write_drop([
        (1, [0.02, 1.0]),
        (2, [0.9, 0.1]),
        (3, [0.05, 1.0]),
    ])
    os.utime(str(d0), ns=(time.time_ns(), time.time_ns()))
    r = vector_index_tick(spark, str(drops), state, idx)
    assert r["fired"] and r["files"] == ("d0.parquet",)

    after = {
        (r["q_id"], r["c_id"]): round(r["cos_sim"], 6)
        for r in idx.probe(q, k=3, n_probe=1).collect()
    }
    # (1) stale row masked: the x-axis probe reads list A only, where
    # id 1's old vector still physically sits — it must not surface
    assert (10, 1) not in after
    # (2) the y-axis probe scores the NEW vector
    assert (11, 1) in after and after[(11, 1)] > 0.99
    # unchanged ids keep their scores
    assert after[(10, 2)] == before[(10, 2)]

    # (3) compaction reclaims the stale cross-list row
    assert idx.maybe_compact(max_files_per_list=0) >= 1
    posts = spark.read.parquet(str(tmp_path / "ivf" / "postings"))
    assert posts.count() == 3
    assert {
        (r["q_id"], r["c_id"]): round(r["cos_sim"], 6)
        for r in idx.probe(q, k=3, n_probe=1).collect()
    } == after

    # (4) state loss: the modified file reprocesses as "new" with the
    # same mtime ordinal — bit-identical rows, answers unchanged
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    assert vector_index_tick(spark, str(drops), lost, idx)["fired"]
    assert {
        (r["q_id"], r["c_id"]): round(r["cos_sim"], 6)
        for r in idx.probe(q, k=3, n_probe=1).collect()
    } == after


def test_vector_index_tick_deletion_drop_lists(spark, tmp_path):
    """r9: the takedown flow — a second watched directory of deletion
    lists. Pins: ids in a delete list vanish from probes after the
    tick (ordinal = the list file's mtime_ns); a state-loss full
    reprocess replays BOTH directories and converges (tombstones
    no-op by value); a doc re-added at a later ordinal after its
    takedown serves again; compaction reclaims removed rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.ann_index import (
        IVFVectorIndex,
    )
    from data_engineer_challenge_spark.streaming.ingest import (
        vector_index_tick,
    )

    drops = tmp_path / "drops"
    dels = tmp_path / "deletes"
    drops.mkdir()
    dels.mkdir()
    pd.DataFrame(
        [(1, [1.0, 0.05]), (2, [0.9, 0.1]), (3, [0.05, 1.0])],
        columns=["vec_id", "embedding"],
    ).to_parquet(str(drops / "d0.parquet"), index=False)
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    idx = IVFVectorIndex(
        spark, str(tmp_path / "ivf"), [[1.0, 0.0], [0.0, 1.0]]
    )
    r1 = vector_index_tick(
        spark, str(drops), state, idx, delete_dir=str(dels)
    )
    assert r1["fired"] and r1["deleted"] == 0

    q = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])],
        "q_id long, embedding array<double>",
    )

    def served():
        return {
            r["c_id"] for r in idx.probe(q, k=3, n_probe=2).collect()
        }

    assert served() == {1, 2, 3}

    # takedown list arrives; quiet drop dir
    import time as _time

    _time.sleep(0.01)
    pd.DataFrame([(2,)], columns=["vec_id"]).to_parquet(
        str(dels / "takedown-0.parquet"), index=False
    )
    r2 = vector_index_tick(
        spark, str(drops), state, idx, delete_dir=str(dels)
    )
    assert r2["fired"] and r2["deleted"] == 1 and r2["vectors"] == 0
    assert served() == {1, 3}

    # state loss: both directories fully reprocess; answers unchanged
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    r3 = vector_index_tick(
        spark, str(drops), lost, idx, delete_dir=str(dels)
    )
    assert r3["fired"] and set(r3["delete_files"]) == {
        "takedown-0.parquet"
    }
    assert served() == {1, 3}

    # compaction reclaims; the store physically forgets the id
    idx.maybe_compact(max_files_per_list=0)
    posts = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "ivf" / "postings")
    )
    assert {r["vec_id"] for r in posts.select("vec_id").collect()} == {1, 3}

    # re-add later (modified drop => supersede at a newer mtime):
    # the id serves again — takedown is an ordering fact, not a ban
    _time.sleep(0.01)
    pd.DataFrame(
        [(1, [1.0, 0.05]), (2, [0.88, 0.12]), (3, [0.05, 1.0])],
        columns=["vec_id", "embedding"],
    ).to_parquet(str(drops / "d0.parquet"), index=False)
    import os as _os

    now = _time.time_ns()
    _os.utime(str(drops / "d0.parquet"), ns=(now, now))
    r4 = vector_index_tick(
        spark, str(drops), state, idx, delete_dir=str(dels)
    )
    assert r4["fired"] and r4["vectors"] == 3
    assert served() == {1, 2, 3}


def test_curation_refresh_tick(spark, tmp_path):
    """The continuous-curation loop's selection step (r9): each
    refresh runs the batch funnel over the warehouse's CURRENT corpus
    and commits the mix as a SnapshotTable version. Pins: (1) the
    committed selection equals the funnel run directly on the same
    corpus; (2) a replayed refresh txn is a silent no-op (one version,
    not two); (3) after the corpus grows, a new refresh commits a new
    version while TIME TRAVEL still reproduces the old mix exactly —
    the auditable training-data lineage claim."""
    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.operators.snapshot import (
        SnapshotTable,
    )
    from data_engineer_challenge_spark.plans.text import curation_funnel
    from data_engineer_challenge_spark.streaming.ingest import (
        curation_refresh_tick,
    )
    from data_engineer_challenge_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.merge_upsert("docs", docs.where("doc_id < 300"), ["doc_id"])
    sel = SnapshotTable(spark, str(tmp_path / "selection"))

    r1 = curation_refresh_tick(spark, wh, "docs", sel, txn="curate-1")
    assert r1["version"] is not None and r1["selected"] > 0
    want1 = sorted(
        map(tuple, curation_funnel(wh.read("docs")).collect())
    )
    assert sorted(map(tuple, sel.read().collect())) == want1

    # (2) replayed refresh: no new version
    r2 = curation_refresh_tick(spark, wh, "docs", sel, txn="curate-1")
    assert r2["version"] is None
    assert sel.current_version() == r1["version"]

    # (3) corpus grows; a fresh refresh commits a NEW version and the
    # old mix stays readable at its version
    wh.merge_upsert("docs", docs.where("doc_id >= 300"), ["doc_id"])
    r3 = curation_refresh_tick(spark, wh, "docs", sel, txn="curate-2")
    assert r3["version"] == r1["version"] + 1
    want2 = sorted(
        map(tuple, curation_funnel(wh.read("docs")).collect())
    )
    assert sorted(map(tuple, sel.read().collect())) == want2
    assert want2 != want1  # the mix genuinely moved with the corpus
    assert sorted(
        map(tuple, sel.read(version=r1["version"]).collect())
    ) == want1


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
    """r10 capstone: the continuous pipeline is now incremental END TO
    END — raw drops → change-feed dedup ingest
    (:func:`refresh_from_changes`) → delta-aware curation refresh over
    the clean corpus → committed training mix. Pins: each refresh's
    mix is bit-identical to the batch funnel over clean's CURRENT
    state; the second tick scores only the second wave's dedup
    survivors (cost ∝ what actually entered the corpus); a takedown
    (clean.delete_where) propagates into the next mix while scoring
    NOTHING (carried survivors skipped) — the right-to-erasure flow
    reaching the training mix itself."""
    from data_engineer_challenge_spark.operators.dedup_index import (
        MinHashIndex,
    )
    from data_engineer_challenge_spark.operators.snapshot import (
        SnapshotTable,
    )
    from data_engineer_challenge_spark.plans.text import curation_funnel
    from data_engineer_challenge_spark.streaming.ingest import (
        curation_refresh_delta_tick,
        refresh_from_changes,
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

    def mix_matches_clean():
        full = curation_funnel(clean.read())
        assert sorted(map(tuple, sel.read().collect())) == sorted(
            map(tuple, full.collect())
        )

    # wave 1: crawl lands, dedup-ingests, the first refresh scores all
    raw.append(docs.where("doc_id < 150"), txn="crawl-1")
    assert refresh_from_changes(spark, raw, clean, idx) is not None
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
    raw.append(wave2, txn="crawl-2")
    n_before = clean.read().count()
    assert refresh_from_changes(spark, raw, clean, idx) is not None
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
    from pyspark.sql import functions as F

    victim = sel.read().orderBy(F.desc("log_weight")).first()["doc_id"]
    clean.delete_where([("doc_id", "=", int(victim))])
    r3 = curation_refresh_delta_tick(spark, clean, sel, state)
    assert r3["docs_scored"] == 0
    assert victim not in {
        r["doc_id"] for r in sel.read().select("doc_id").collect()
    }
    mix_matches_clean()


def test_vector_index_tick_ordinal_interleaving(spark, tmp_path):
    """r9 ADVICE (medium): adds and deletes must APPLY in ascending
    ordinal order across both watched directories. The wedge case: a
    takedown list with an OLDER mtime_ns than a same-tick supersede
    re-add of the same id — the old all-adds-then-all-deletes order
    made delete() see an out-ranked first-time tombstone mid-tick and
    abort before state.commit, so every retry re-wedged (and
    re-appended duplicate supersede rows). Pins: the tick applies
    ordinal order (delete first, then the newer re-add wins), commits,
    and a state-loss replay converges on the same answers. Also pins
    the add-only flavor: two modified files superseding one id whose
    FILENAME order opposes mtime order."""
    import os as _os
    import time as _time

    import pandas as pd

    from data_engineer_challenge_spark.operators.ann_index import (
        IVFVectorIndex,
    )
    from data_engineer_challenge_spark.streaming.ingest import (
        vector_index_tick,
    )

    drops = tmp_path / "drops"
    dels = tmp_path / "deletes"
    drops.mkdir()
    dels.mkdir()
    pd.DataFrame(
        [(1, [1.0, 0.05]), (2, [0.9, 0.1]), (3, [0.05, 1.0])],
        columns=["vec_id", "embedding"],
    ).to_parquet(str(drops / "d0.parquet"), index=False)
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    idx = IVFVectorIndex(
        spark, str(tmp_path / "ivf"), [[1.0, 0.0], [0.0, 1.0]]
    )
    assert vector_index_tick(
        spark, str(drops), state, idx, delete_dir=str(dels)
    )["fired"]

    q = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])],
        "q_id long, embedding array<double>",
    )

    def scores():
        return {
            (r["q_id"], r["c_id"]): r["cos_sim"]
            for r in idx.probe(q, k=3, n_probe=2).collect()
        }

    # same tick: takedown of id 2 stamped OLDER than the supersede
    # re-add of id 2 (filename sort also runs adds before deletes —
    # only ordinal order makes this land correctly)
    now = _time.time_ns()
    pd.DataFrame([(2,)], columns=["vec_id"]).to_parquet(
        str(dels / "takedown.parquet"), index=False
    )
    _os.utime(str(dels / "takedown.parquet"), ns=(now, now))
    pd.DataFrame(
        [(1, [1.0, 0.05]), (2, [0.05, 0.98]), (3, [0.05, 1.0])],
        columns=["vec_id", "embedding"],
    ).to_parquet(str(drops / "d0.parquet"), index=False)
    _os.utime(str(drops / "d0.parquet"), ns=(now + 10_000, now + 10_000))

    r = vector_index_tick(
        spark, str(drops), state, idx, delete_dir=str(dels)
    )
    assert r["fired"] and r["deleted"] == 1 and r["vectors"] == 3
    after = scores()
    # the re-add (newer ordinal) out-ranks the takedown: id 2 serves
    # its NEW vector; the old x-axis vector is gone
    assert after[(11, 2)] > 0.9
    assert after.get((10, 2), 0.0) < 0.2  # old x-axis vector is gone

    # state-loss replay walks the same ordinal order and converges
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    r2 = vector_index_tick(
        spark, str(drops), lost, idx, delete_dir=str(dels)
    )
    assert r2["fired"]
    assert {k: round(v, 6) for k, v in scores().items()} == {
        k: round(v, 6) for k, v in after.items()
    }

    # add-only flavor: two files re-modified in one tick window, both
    # superseding id 9; the name order ("a-" before "b-") OPPOSES the
    # mtime order — ordinal application must let b-old land first and
    # a-new win, where filename order tripped append()'s regression
    # guard instead
    for name, vec, ts in (
        ("a-new.parquet", [0.1, 0.97], now + 40_000),
        ("b-old.parquet", [0.97, 0.1], now + 30_000),
    ):
        pd.DataFrame(
            [(9, vec)], columns=["vec_id", "embedding"]
        ).to_parquet(str(drops / name), index=False)
        _os.utime(str(drops / name), ns=(ts, ts))
    assert vector_index_tick(
        spark, str(drops), state, idx, delete_dir=str(dels)
    )["fired"]
    # both were NEW files (plain appends); now re-modify both so they
    # take the supersede path with the adversarial name/mtime order
    for name, vec, ts in (
        ("a-new.parquet", [0.0, 1.0], now + 80_000),
        ("b-old.parquet", [1.0, 0.0], now + 60_000),
    ):
        pd.DataFrame(
            [(9, vec)], columns=["vec_id", "embedding"]
        ).to_parquet(str(drops / name), index=False)
        _os.utime(str(drops / name), ns=(ts, ts))
    r3 = vector_index_tick(
        spark, str(drops), state, idx, delete_dir=str(dels)
    )
    assert r3["fired"] and r3["vectors"] == 2
    final = scores()
    assert final[(11, 9)] > 0.99  # a-new (highest mtime) serves


def test_vector_index_tick_growth_rebucket(spark, tmp_path, monkeypatch):
    """VERDICT r8 #2, the tick-level contract: a store built small and
    grown past the (monkeypatched) threshold ACROSS TICKS retrains its
    quantizer k ∝ N inside the tick, per-list size comes back to the
    target, full-width probe answers are identical (no row lost), and
    the NEXT tick keeps appending into the new layout."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators import ann_index
    from data_engineer_challenge_spark.operators.ann_index import (
        IVFVectorIndex,
    )
    from data_engineer_challenge_spark.plans.ivf_centroids import CENTROIDS
    from data_engineer_challenge_spark.streaming.ingest import (
        vector_index_tick,
    )
    from data_engineer_challenge_spark.tables import load_table

    monkeypatch.setattr(ann_index, "IVF_AUTO_MIN_N", 200)
    monkeypatch.setattr(ann_index, "IVF_TARGET_LIST_SIZE", 25)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    drops = tmp_path / "drops"
    drops.mkdir()
    emb.where("vec_id < 80").toPandas().to_parquet(
        str(drops / "d0.parquet"), index=False
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    small = [list(c) for c in CENTROIDS[:2]]
    idx = IVFVectorIndex(spark, str(tmp_path / "ivf"), small)

    r1 = vector_index_tick(spark, str(drops), state, idx)
    assert r1["fired"] and r1["rebucketed"] is False  # under min_n

    emb.where("vec_id >= 80 and vec_id < 300").toPandas().to_parquet(
        str(drops / "d1.parquet"), index=False
    )
    r2 = vector_index_tick(spark, str(drops), state, idx)
    # 300 rows ≥ 200 and mean list 150 > 2×25 → the tick rebuckets
    assert r2["fired"] and r2["rebucketed"] is True
    assert idx.meta["k"] == 12  # ceil(300 / 25)

    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    full_before = [
        tuple(r)
        for r in idx.probe(queries, k=5, n_probe=idx.meta["k"])
        .orderBy("q_id", "rank")
        .collect()
    ]

    # next tick appends into the NEW layout without complaint
    emb.where("vec_id >= 300").toPandas().to_parquet(
        str(drops / "d2.parquet"), index=False
    )
    r3 = vector_index_tick(spark, str(drops), state, idx)
    assert r3["fired"]
    posts = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "ivf" / "postings")
    )
    assert posts.count() == 500
    sizes = posts.groupBy("cid").count().collect()
    assert sum(r["count"] for r in sizes) / len(sizes) <= 2 * 25 + 20
    # the pre-growth rows still answer exactly under the new layout
    full_after = [
        tuple(r)
        for r in idx.probe(
            queries.where("q_id < 300"), k=5, n_probe=idx.meta["k"]
        )
        .orderBy("q_id", "rank")
        .collect()
    ]
    # rank-5 lists over a larger corpus can shift; compare rank-1
    # self-hits, the exactness witness that survives corpus growth
    before_r1 = {
        t[0]: t[1] for t in full_before if t[3] == 1 and t[0] < 300
    }
    assert before_r1
    assert {t[0]: t[1] for t in full_after if t[3] == 1} == before_r1


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


def test_vector_tick_reselects_serving_after_rebucket(
    spark, tmp_path, monkeypatch
):
    """r13 (VERDICT r12 #3): when a tick's growth triggers a rebucket
    and a recall_target is configured, the tick re-runs the held-out
    sweep against the NEW quantizer and persists the measured widths
    — the serving hint can no longer silently drift while the store
    doubles. Quiet-growth ticks skip the sweep (serving is None)."""
    from data_engineer_challenge_spark.operators import ann_index
    from data_engineer_challenge_spark.operators.ann_index import (
        IVFVectorIndex,
    )
    from data_engineer_challenge_spark.plans.ivf_centroids import CENTROIDS
    from data_engineer_challenge_spark.streaming.ingest import (
        vector_index_tick,
    )
    from data_engineer_challenge_spark.tables import load_table

    monkeypatch.setattr(ann_index, "IVF_AUTO_MIN_N", 200)
    monkeypatch.setattr(ann_index, "IVF_TARGET_LIST_SIZE", 25)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    drops = tmp_path / "drops"
    drops.mkdir()
    emb.where("vec_id < 80").toPandas().to_parquet(
        str(drops / "d0.parquet"), index=False
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    path = str(tmp_path / "ivf")
    idx = IVFVectorIndex(spark, path, [list(c) for c in CENTROIDS[:2]])

    r1 = vector_index_tick(
        spark, str(drops), state, idx, recall_target=0.9
    )
    assert r1["fired"] and not r1["rebucketed"]
    assert r1["serving"] is None  # no growth event: no sweep cost

    emb.where("vec_id >= 80").toPandas().to_parquet(
        str(drops / "d1.parquet"), index=False
    )
    r2 = vector_index_tick(
        spark, str(drops), state, idx, recall_target=0.9
    )
    assert r2["fired"] and r2["rebucketed"]
    assert r2["serving"] is not None
    assert r2["serving"]["recall"] >= 0.9
    assert idx.n_probe_hint == r2["serving"]["n_probe"]
    # the persisted hint survives a fresh open
    assert (
        IVFVectorIndex.open(spark, path).n_probe_hint
        == r2["serving"]["n_probe"]
    )
