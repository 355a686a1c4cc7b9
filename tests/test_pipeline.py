"""End-to-end CDW pipeline tests over a synthetic corpus mirroring
FIXTURES.md: xlsx registry + pdf/docx documents → warehouse tables,
with the reference's golden semantics plus idempotence and
stable-document-number properties (SURVEY §5.2-5.3)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
from data_engineer_challenge_spark.pipeline import run_document_batch, run_patient_batch
from data_engineer_challenge_spark.schemas import DWH_DOCUMENT, DWH_PATIENT
from data_engineer_challenge_spark.sources.binary_docs import (
    document_paths,
    extract_documents,
)
from data_engineer_challenge_spark.sources.xlsx import read_patient_registry
from data_engineer_challenge_spark.streaming.snapshot_diff import take_snapshot

from .fixtures import XLSX_HEADER, build_docx, build_pdf, build_xlsx

ROWS = [
    XLSX_HEADER,
    ["Durand", "Anne", "25/07/1942", "F", None, "00230580", "1 rue A", "+33 1", "75001", "Paris", "France", None],
    ["Martin", "Luc", "03/02/1980", "M", None, "12345678", "2 rue B", "+33 2", "69001", "Lyon", "France", "10/01/2020"],
    # exact dedup-key duplicate of row 1 under a DIFFERENT hospital id
    # (the real file's pattern: rows 4827/4828) — must be dropped
    ["Durand", "Anne", "25/07/1942", "F", None, "99230580", "1 rue A", "+33 1", "75001", "Paris", "France", None],
    ["Petit", "Zoe", "09/09/1999", "F", None, "00000042", "3 rue C", "+33 3", "13001", "Marseille", None, None],
]

DOCX_TEXT_RUNS = ["Compte rendu", "Né le 01/01/1940", "Vu le 12/05/2018", "dr mamy nova"]
PDF_LINES = ["Rapport du 17/10/2011", "signé Dr Hassan"]
PDF_ORPHAN = ["Aucun patient 01/03/2019", "Dr Personne"]


def _drop_files(spark, directory):
    """(filename, text) of a drop directory as the daemon reads it: its
    snapshot listing, extracted through ``document_paths``."""
    directory = str(directory)
    return extract_documents(
        document_paths(spark, directory, take_snapshot(directory))
    )


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    (d / "export_patient.xlsx").write_bytes(build_xlsx(ROWS))
    (d / "docs").mkdir()
    (d / "docs" / "00230580_321654.docx").write_bytes(build_docx(textbox_runs=DOCX_TEXT_RUNS))
    (d / "docs" / "12345678_111222.pdf").write_bytes(build_pdf(PDF_LINES))
    (d / "docs" / "77777777_999.pdf").write_bytes(build_pdf(PDF_ORPHAN))
    (d / "docs" / "12345678_broken.pdf").write_bytes(b"not a pdf at all")
    (d / "docs" / "ignored.txt").write_text("not scanned")
    return d


@pytest.fixture(scope="module")
def warehouse(spark, corpus_dir, tmp_path_factory):
    wh = ParquetWarehouse(spark, str(tmp_path_factory.mktemp("wh")))
    registry = read_patient_registry(spark, str(corpus_dir / "export_patient.xlsx"))
    run_patient_batch(wh, registry, upload_id=1)
    files = _drop_files(spark, corpus_dir / "docs")
    rejects = run_document_batch(wh, files, upload_id=1)
    return wh, rejects


def test_patient_table(warehouse, spark):
    wh, _ = warehouse
    patients = {r["LASTNAME"]: r for r in wh.read("DWH_PATIENT", DWH_PATIENT).collect()}
    assert len(patients) == 3  # dup row dropped
    assert patients["Durand"]["PATIENT_NUM"] == 1  # file order, gap-free
    assert patients["Martin"]["PATIENT_NUM"] == 2
    assert patients["Petit"]["PATIENT_NUM"] == 3
    assert patients["Durand"]["BIRTH_DATE"] == dt.date(1942, 7, 25)
    assert patients["Martin"]["DEATH_CODE"] == "1"
    assert patients["Martin"]["DEATH_DATE"] == dt.date(2020, 1, 10)
    assert patients["Durand"]["DEATH_CODE"] == "0"
    assert patients["Petit"]["RESIDENCE_COUNTRY"] is None


def test_ipphist_keeps_first_occurrence(warehouse):
    wh, _ = warehouse
    hist = {r["HOSPITAL_PATIENT_ID"]: r for r in wh.read("DWH_PATIENT_IPPHIST").collect()}
    assert "00230580" in hist and "99230580" not in hist  # keep-FIRST
    assert all(r["MASTER_PATIENT_ID"] == 1 for r in hist.values())
    assert all(r["ORIGIN_PATIENT_ID"] == "SIH" for r in hist.values())


def test_document_extraction_golden(warehouse):
    wh, _ = warehouse
    docs = {r["ID_DOC_SOURCE"]: r for r in wh.read("DWH_DOCUMENT", DWH_DOCUMENT).collect()}
    assert set(docs) == {"321654", "111222"}  # orphan + broken dropped

    d = docs["321654"]  # docx: birthdate 1940 skipped, textbox dedup
    assert d["DOCUMENT_ORIGIN_CODE"] == "RADIOLOGIE_SOFTWARE"
    assert d["DOCUMENT_TYPE"] == "docx"
    assert d["DOCUMENT_DATE"] == dt.date(2018, 5, 12)
    assert d["AUTHOR"] == "Dr Mamy Nova"
    assert d["PATIENT_NUM"] == 1
    # duplicated textbox runs collapsed once
    assert d["DISPLAYED_TEXT"].count("Compte rendu") == 1

    p = docs["111222"]
    assert p["DOCUMENT_ORIGIN_CODE"] == "DOSSIER_PATIENT"
    assert p["DOCUMENT_DATE"] == dt.date(2011, 10, 17)
    assert p["AUTHOR"] == "Dr Hassan"
    assert p["PATIENT_NUM"] == 2
    assert {d["EXTRACTCONTEXT_DONE_FLAG"] for d in docs.values()} == {0}


def test_rejects_branch(warehouse):
    _, rejects = warehouse
    assert [r["HOSPITAL_PATIENT_ID"] for r in rejects.collect()] == ["77777777"]


def test_patient_numbers_stable_under_registry_insert(spark, tmp_path):
    """PATIENT_NUM is a surrogate the warehouse merges on: inserting a
    row mid-registry must NOT renumber existing patients (the dense
    1..N of a naive reload would shift every later row and the MERGE
    would cross-overwrite people). Existing patients keep their
    number; the new person extends the sequence."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    reg_path = tmp_path / "export_patient.xlsx"
    reg_path.write_bytes(build_xlsx(ROWS))
    run_patient_batch(wh, read_patient_registry(spark, str(reg_path)), upload_id=1)
    before = {
        r["LASTNAME"]: r["PATIENT_NUM"] for r in wh.read("DWH_PATIENT").collect()
    }
    assert sorted(before.values()) == [1, 2, 3]

    rows2 = ROWS[:2] + [
        ["Nouveau", "Max", "01/01/2001", "M", None, "55555555", "9 rue X",
         "+33 9", "31000", "Toulouse", "France", None],
    ] + ROWS[2:]
    reg_path.write_bytes(build_xlsx(rows2))
    run_patient_batch(wh, read_patient_registry(spark, str(reg_path)), upload_id=2)

    after = {
        r["LASTNAME"]: r["PATIENT_NUM"] for r in wh.read("DWH_PATIENT").collect()
    }
    assert {k: after[k] for k in before} == before  # nobody renumbered
    assert after["Nouveau"] == 4  # sequence extended, not recycled
    # the IPP map stays one-to-one: no stale (IPP, old-number) pairs
    ipp = wh.read("DWH_PATIENT_IPPHIST").collect()
    assert len({r["HOSPITAL_PATIENT_ID"] for r in ipp}) == len(ipp)


def test_document_business_key_collision_no_fanout(spark, tmp_path):
    """'0123_7.pdf' and '0123_7.docx' share the merge business key
    (PATIENT_NUM, ID_DOC_SOURCE): the batch must keep exactly one row
    for it — deterministically — and re-runs must not double the
    table (the fan-out the keyed MERGE contract forbids)."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    reg_path = tmp_path / "export_patient.xlsx"
    reg_path.write_bytes(build_xlsx(ROWS))
    run_patient_batch(wh, read_patient_registry(spark, str(reg_path)), upload_id=1)

    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "00230580_7.pdf").write_bytes(build_pdf(["le 01/01/2010", "dr pdf"]))
    (docs / "00230580_7.docx").write_bytes(
        build_docx(textbox_runs=["le 02/02/2010", "dr docx"])
    )
    for upload in (1, 2):
        files = _drop_files(spark, docs)
        run_document_batch(wh, files, upload_id=upload)
        rows = wh.read("DWH_DOCUMENT").collect()
        assert len(rows) == 1, f"fan-out on upload {upload}"
        # keep-first by filename: .docx sorts before .pdf
        assert rows[0]["DOCUMENT_TYPE"] == "docx"


def test_idempotent_reruns_and_stable_doc_nums(warehouse, spark, corpus_dir):
    wh, _ = warehouse
    before = {
        r["ID_DOC_SOURCE"]: r["DOCUMENT_NUM"]
        for r in wh.read("DWH_DOCUMENT").collect()
    }
    registry = read_patient_registry(spark, str(corpus_dir / "export_patient.xlsx"))
    run_patient_batch(wh, registry, upload_id=2)
    files = _drop_files(spark, corpus_dir / "docs")
    run_document_batch(wh, files, upload_id=2)

    docs = wh.read("DWH_DOCUMENT").collect()
    assert len(docs) == len(before)
    after = {r["ID_DOC_SOURCE"]: r["DOCUMENT_NUM"] for r in docs}
    assert after == before  # numbers survive re-processing
    assert {r["UPLOAD_ID"] for r in docs} == {2}  # but rows were updated
    assert wh.read("DWH_PATIENT").count() == 3

    # drop a NEW document for an existing patient: old numbers stay,
    # the new row continues the sequence
    (corpus_dir / "docs" / "00000042_555.pdf").write_bytes(
        build_pdf(["Visite du 05/05/2021", "dr qui"])
    )
    files3 = _drop_files(spark, corpus_dir / "docs")
    run_document_batch(wh, files3, upload_id=3)
    final = {r["ID_DOC_SOURCE"]: r["DOCUMENT_NUM"] for r in wh.read("DWH_DOCUMENT").collect()}
    assert {k: v for k, v in final.items() if k in before} == before
    assert final["555"] == max(before.values()) + 1


def test_roundtrip_export_property(warehouse, spark):
    """SURVEY §5.2.2: re-deriving the export (patient ⋈ ipphist) yields
    one row per loaded patient with matching hospital IDs."""
    wh, _ = warehouse
    patient = wh.read("DWH_PATIENT", DWH_PATIENT)
    hist = wh.read("DWH_PATIENT_IPPHIST")
    export = patient.join(hist, "PATIENT_NUM").select(
        "LASTNAME", "HOSPITAL_PATIENT_ID"
    )
    rows = {(r["LASTNAME"], r["HOSPITAL_PATIENT_ID"]) for r in export.collect()}
    assert rows == {
        ("Durand", "00230580"), ("Martin", "12345678"), ("Petit", "00000042")
    }
