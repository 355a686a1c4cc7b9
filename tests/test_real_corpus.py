"""Golden end-to-end parity on the REAL reference corpus
(FIXTURES.md §3): the pure-stdlib extractors + Spark metadata
expressions must reproduce the reference's (ORIGIN_CODE, DOCUMENT_DATE,
AUTHOR) for all 15 actual clinical documents. Skipped when the
read-only reference checkout is absent."""

from __future__ import annotations

import datetime as dt
import os

import pytest

REF_DIR = "/root/reference/fichiers source"

GOLDEN = {
    "00230580_321654.docx": ("RADIOLOGIE_SOFTWARE", dt.date(2018, 5, 12), "Dr Mamy Nova"),
    "12558924_090879.pdf": ("DOSSIER_PATIENT", dt.date(2011, 10, 17), "Dr Hassan"),
    "12856116_789456.pdf": ("DOSSIER_PATIENT", dt.date(2018, 10, 26), "Dr Abricot"),
    "12881736_102323.pdf": ("DOSSIER_PATIENT", dt.date(2015, 2, 10), "Dr Bilingue"),
    "12907356_009988.pdf": ("DOSSIER_PATIENT", dt.date(2018, 10, 29), "Dr Pomme"),
    "12943224_976094.pdf": ("DOSSIER_PATIENT", dt.date(2016, 3, 12), "Dr Hu Love"),
    "12979092_645329.pdf": ("DOSSIER_PATIENT", dt.date(2002, 2, 2), "Dr Mozza"),
    "15156792_111222.pdf": ("DOSSIER_PATIENT", dt.date(2018, 10, 26), "Dr Abricot"),
    "15172164_897653.pdf": ("DOSSIER_PATIENT", dt.date(2001, 1, 17), "Dr Strauss"),
    "15202908_371185.pdf": ("DOSSIER_PATIENT", dt.date(2018, 2, 14), "Dr Frank Einstein"),
    "15208032_937629.pdf": ("DOSSIER_PATIENT", dt.date(2018, 5, 12), None),
    "15228528_019322.pdf": ("DOSSIER_PATIENT", dt.date(2018, 10, 1), "Dr Hu Love"),
    "15259272_135409.pdf": ("DOSSIER_PATIENT", dt.date(2012, 12, 12), "Dr Mozza"),
    "17068044_89787.docx": ("RADIOLOGIE_SOFTWARE", dt.date(2017, 1, 10), "Dr Bobo"),
    "17073168_12345.docx": ("RADIOLOGIE_SOFTWARE", dt.date(2018, 10, 21), "Dr Arthur Delapalme"),
}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DIR), reason="reference corpus not mounted"
)


def test_real_corpus_golden_metadata(spark):
    """Snapshot listing → stdlib extraction UDF → Spark F2/F3/P13
    expressions, against the reference's real files end-to-end."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.functions import (
        document_origin_code,
        extract_author,
        extract_document_date,
        filename_extension,
    )
    from data_engineer_challenge_spark.sources.binary_docs import (
        document_paths,
        extract_documents,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        take_snapshot,
    )

    files = extract_documents(
        document_paths(spark, REF_DIR, take_snapshot(REF_DIR))
    )
    out = {
        r["filename"]: r
        for r in files.select(
            "filename",
            document_origin_code(filename_extension("filename")).alias("origin"),
            extract_document_date("text").alias("doc_date"),
            extract_author("text").alias("author"),
        ).collect()
    }
    assert set(out) == set(GOLDEN)
    for fn, (want_origin, want_date, want_author) in GOLDEN.items():
        r = out[fn]
        assert r["origin"] == want_origin, fn
        assert r["doc_date"] == want_date, fn
        assert r["author"] == want_author, fn


def test_real_registry_loads(spark, tmp_path):
    """The real 4,828-row Excel loads through the registry entry point
    with keep-first dedup to 4,826 patients (BASELINE.md measured
    values)."""
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
    from data_engineer_challenge_spark.pipeline import run_patient_batch
    from data_engineer_challenge_spark.sources.xlsx import read_patient_registry

    xlsx = os.path.join(REF_DIR, "export_patient.xlsx")
    registry = read_patient_registry(spark, xlsx, sheet_name="Export Worksheet")
    assert registry.count() == 4828
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    run_patient_batch(wh, registry, upload_id=1)
    n = wh.read("DWH_PATIENT").count()
    assert n == 4826  # two same-person re-registrations dropped (J1)
    ipphist = wh.read("DWH_PATIENT_IPPHIST")
    assert ipphist.count() == 4826
    ids = ipphist.select("HOSPITAL_PATIENT_ID").distinct().count()
    assert ids == 4826


def test_real_corpus_full_pipeline(spark, tmp_path):
    """The switch-over proof: both reference entry points run over the
    REAL corpus into the warehouse — every real document lands in
    DWH_DOCUMENT linked to a real patient."""
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
    from data_engineer_challenge_spark.pipeline import (
        run_document_batch,
        run_patient_batch,
    )
    from data_engineer_challenge_spark.sources.binary_docs import (
        document_paths,
        extract_documents,
    )
    from data_engineer_challenge_spark.sources.xlsx import read_patient_registry
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        take_snapshot,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    registry = read_patient_registry(
        spark, os.path.join(REF_DIR, "export_patient.xlsx"), "Export Worksheet"
    )
    run_patient_batch(wh, registry, upload_id=1)
    files = extract_documents(
        document_paths(spark, REF_DIR, take_snapshot(REF_DIR))
    )
    rejects = run_document_batch(wh, files, upload_id=1)

    docs = wh.read("DWH_DOCUMENT").collect()
    assert len(docs) == 15 and rejects.count() == 0
    assert all(r["PATIENT_NUM"] is not None for r in docs)
    assert sorted(r["DOCUMENT_NUM"] for r in docs) == list(range(1, 16))
    by_id = {r["ID_DOC_SOURCE"]: r for r in docs}
    assert by_id["937629"]["AUTHOR"] is None  # the no-author document
    assert by_id["321654"]["AUTHOR"] == "Dr Mamy Nova"
    assert len(by_id["321654"]["DISPLAYED_TEXT"]) > 1000
