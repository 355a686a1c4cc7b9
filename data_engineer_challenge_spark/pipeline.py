"""The two reference entry-point dataflows as composable Spark plans
(SURVEY.md §3): patient registry load and clinical document load.

Differences from the reference, all deliberate (SURVEY §2.2/§2.5):
- keep-first dedup and dense IDs use explicit source order
  (``__row_idx``) instead of pandas index order;
- ``PATIENT_NUM`` is gap-free after dedup (the reference leaves gaps);
- ``DOCUMENT_NUM`` is stable across runs: keyed rows keep their number,
  new rows extend the sequence (the reference renumbers from listdir
  order every run — upsert hazard K3);
- ``MASTER_PATIENT_ID`` is a null-aware int (reference wrote str with
  an unreachable '0' branch, exo_1.py:105);
- per-document point lookups are one broadcast hash join (S6→J4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import (
    death_code,
    document_origin_code,
    extract_author,
    extract_document_date,
    filename_doc_id,
    filename_extension,
    filename_ipp,
    master_patient_flag,
    parse_fr_date,
)
from .localrel import local_rows_df
from .operators.dedup import keep_first_dedup
from .operators.ids import dense_ids, extend_ids
from .operators.merge import ParquetWarehouse
from .schemas import DWH_DOCUMENT, DWH_PATIENT, DWH_PATIENT_IPPHIST

PATIENT_DEDUP_KEYS = ["NOM", "PRENOM", "DATE_NAISSANCE", "ADRESSE", "TEL"]

def _null_str():
    # built lazily: constructing a Column requires an active SparkContext
    return F.lit(None).cast("string")


def shape_patients(registry: DataFrame, upload_id: int) -> tuple[DataFrame, DataFrame]:
    """Registry rows (+ ``__row_idx``) → (DWH_PATIENT, DWH_PATIENT_IPPHIST)
    for a FIRST load: dedup then dense 1..N numbering.

    Incremental loads must keep prior numbers — use
    :func:`run_patient_batch`, which routes existing patients through
    the stable-identity join before projecting with
    :func:`_project_patient_tables`.
    """
    deduped = keep_first_dedup(registry, PATIENT_DEDUP_KEYS, ["__row_idx"])
    with_ids = dense_ids(deduped, "PATIENT_NUM", ["__row_idx"])
    return _project_patient_tables(with_ids, upload_id)


def _project_patient_tables(
    with_ids: DataFrame, upload_id: int
) -> tuple[DataFrame, DataFrame]:
    """Numbered registry rows → the two table projections (SURVEY
    P1+P2 share one scan instead of the reference's double iterrows,
    exo_1.py:123-131)."""
    patient = with_ids.select(
        "PATIENT_NUM",
        F.col("NOM").alias("LASTNAME"),
        F.col("PRENOM").alias("FIRSTNAME"),
        parse_fr_date("DATE_NAISSANCE").alias("BIRTH_DATE"),
        F.col("SEXE").alias("SEX"),
        F.col("NOM_JEUNE_FILLE").alias("MAIDEN_NAME"),
        F.col("ADRESSE").alias("RESIDENCE_ADDRESS"),
        F.col("TEL").alias("PHONE_NUMBER"),
        F.col("CP").alias("ZIP_CODE"),
        F.col("VILLE").alias("RESIDENCE_CITY"),
        parse_fr_date("DATE_MORT").alias("DEATH_DATE"),
        F.col("PAYS").alias("RESIDENCE_COUNTRY"),
        _null_str().alias("RESIDENCE_LATITUDE"),
        _null_str().alias("RESIDENCE_LONGITUDE"),
        death_code(parse_fr_date("DATE_MORT")).alias("DEATH_CODE"),
        F.current_date().alias("UPDATE_DATE"),
        _null_str().alias("BIRTH_COUNTRY"),
        _null_str().alias("BIRTH_CITY"),
        _null_str().alias("BIRTH_ZIP_CODE"),
        F.lit(None).cast("double").alias("BIRTH_LATITUDE"),
        F.lit(None).cast("double").alias("BIRTH_LONGITUDE"),
        F.lit(upload_id).cast("long").alias("UPLOAD_ID"),
    )
    ipphist = with_ids.select(
        "PATIENT_NUM",
        "HOSPITAL_PATIENT_ID",
        F.lit("SIH").alias("ORIGIN_PATIENT_ID"),
        master_patient_flag("HOSPITAL_PATIENT_ID").alias("MASTER_PATIENT_ID"),
        F.lit(upload_id).cast("long").alias("UPLOAD_ID"),
    )
    return patient, ipphist


def resolve_patients(files: DataFrame, ipphist: DataFrame) -> DataFrame:
    """(filename, text) rows → readable documents with their parsed
    keys and ``PATIENT_NUM``, null when the IPP matches no patient.

    One broadcast left join against the lowest ``PATIENT_NUM`` per IPP:
    if an IPP ever maps to two patients the lowest wins
    DETERMINISTICALLY (an arbitrary survivor would re-resolve the same
    document to a different patient across runs and break stable
    numbering). Matched documents and rejects are both filters of this
    one result, so a caller that caches it resolves each document once.
    """
    parsed = (
        files.filter(F.col("text").isNotNull() & (F.col("text") != ""))  # P10
        .withColumn("HOSPITAL_PATIENT_ID", filename_ipp("filename"))
        .withColumn("ID_DOC_SOURCE", filename_doc_id("filename"))
        .withColumn("DOCUMENT_TYPE", filename_extension("filename"))
    )
    lowest = ipphist.groupBy("HOSPITAL_PATIENT_ID").agg(
        F.min("PATIENT_NUM").alias("PATIENT_NUM")
    )
    return parsed.join(F.broadcast(lowest), "HOSPITAL_PATIENT_ID", "left")


def shape_documents(
    resolved: DataFrame, upload_id: int, start_doc_num: int = 0
) -> tuple[DataFrame, DataFrame]:
    """:func:`resolve_patients` rows → (DWH_DOCUMENT rows, rejects).

    Rejects = readable documents whose IPP matches no patient (a null
    ``PATIENT_NUM``) — the reference logs a warning and drops them
    (exo_2.py:255-258); here they come back as (filename,
    HOSPITAL_PATIENT_ID) rows for a quarantine sink.
    """
    matched = resolved.filter(F.col("PATIENT_NUM").isNotNull())
    rejects = resolved.filter(F.col("PATIENT_NUM").isNull()).select(
        "filename", "HOSPITAL_PATIENT_ID"
    )

    # one row per business key: '0123_7.pdf' and '0123_7.docx' parse to
    # the same (patient, ID_DOC_SOURCE); without this the stable-number
    # join fans out and the table doubles per batch. First by filename
    # = deterministic (and keeps .docx before .pdf, matching the
    # reference's listdir-order last-write-wins only by accident — the
    # contract here is determinism, not which file wins)
    matched = keep_first_dedup(
        matched, ["PATIENT_NUM", "ID_DOC_SOURCE"], ["filename"]
    )

    numbered = extend_ids(
        matched, "DOCUMENT_NUM", start_doc_num, ["HOSPITAL_PATIENT_ID", "ID_DOC_SOURCE"]
    )
    docs = numbered.select(
        "DOCUMENT_NUM",
        "PATIENT_NUM",
        _null_str().alias("ENCOUNTER_NUM"),
        _null_str().alias("TITLE"),
        document_origin_code("DOCUMENT_TYPE").alias("DOCUMENT_ORIGIN_CODE"),
        extract_document_date("text").alias("DOCUMENT_DATE"),
        "ID_DOC_SOURCE",
        "DOCUMENT_TYPE",
        F.col("text").alias("DISPLAYED_TEXT"),
        extract_author("text").alias("AUTHOR"),
        _null_str().alias("UNIT_CODE"),
        F.lit(None).cast("int").alias("UNIT_NUM"),
        F.lit(None).cast("int").alias("DEPARTMENT_NUM"),
        F.lit(0).alias("EXTRACTCONTEXT_DONE_FLAG"),
        F.lit(0).alias("EXTRACTCONCEPT_DONE_FLAG"),
        F.lit(0).alias("ENRGENE_DONE_FLAG"),
        F.lit(0).alias("ENRICHTEXT_DONE_FLAG"),
        F.current_date().alias("UPDATE_DATE"),
        F.lit(upload_id).cast("long").alias("UPLOAD_ID"),
    )
    return docs, rejects


# ---------------------------------------------------------------------------
# Batch entry points (SURVEY §3 entry points 1 and 2)
# ---------------------------------------------------------------------------


def run_patient_batch(wh: ParquetWarehouse, registry: DataFrame, upload_id: int) -> None:
    """Entry point 1 (exo_1.py:173-214): shape + MERGE both tables.

    Stable identity (the patient-side analogue of the document
    numbering below): ``PATIENT_NUM`` is a surrogate, so merging on it
    is only sound if the same person keeps the same number across
    batches. Rows whose demographic key (the dedup key set) already
    exists in DWH_PATIENT reuse their stored number; genuinely new
    patients extend the sequence from the current max. Without this, a
    registry edit that shifts ``__row_idx`` would renumber everyone
    and the MERGE would cross-overwrite patients (the reference's K3
    hazard, reintroduced at upsert time).
    """
    deduped = keep_first_dedup(registry, PATIENT_DEDUP_KEYS, ["__row_idx"])
    if wh.exists("DWH_PATIENT"):
        existing = wh.read("DWH_PATIENT", DWH_PATIENT)
        start = existing.agg(F.max("PATIENT_NUM")).first()[0] or 0
        # stored demographic key, renamed to avoid column capture;
        # null-safe equality — registry fields are nullable
        known = existing.select(
            F.col("PATIENT_NUM").alias("__known_num"),
            F.col("LASTNAME").alias("__k_nom"),
            F.col("FIRSTNAME").alias("__k_prenom"),
            F.col("BIRTH_DATE").alias("__k_naissance"),
            F.col("RESIDENCE_ADDRESS").alias("__k_adresse"),
            F.col("PHONE_NUMBER").alias("__k_tel"),
        )
        cond = (
            F.col("NOM").eqNullSafe(F.col("__k_nom"))
            & F.col("PRENOM").eqNullSafe(F.col("__k_prenom"))
            & parse_fr_date("DATE_NAISSANCE").eqNullSafe(F.col("__k_naissance"))
            & F.col("ADRESSE").eqNullSafe(F.col("__k_adresse"))
            & F.col("TEL").eqNullSafe(F.col("__k_tel"))
        )
        kept = (
            deduped.join(known, cond, "inner")
            .withColumn("PATIENT_NUM", F.col("__known_num"))
            .drop(*[c for c in known.columns])
        )
        fresh = extend_ids(
            deduped.join(known, cond, "left_anti"),
            "PATIENT_NUM",
            start,
            ["__row_idx"],
        )
        with_ids = kept.unionByName(fresh.select(*kept.columns))
    else:
        with_ids = dense_ids(deduped, "PATIENT_NUM", ["__row_idx"])
    with_ids = with_ids.cache()
    try:
        patient, ipphist = _project_patient_tables(with_ids, upload_id)
        wh.merge_upsert("DWH_PATIENT", patient, ["PATIENT_NUM"])
        wh.merge_upsert(
            "DWH_PATIENT_IPPHIST", ipphist, ["PATIENT_NUM", "HOSPITAL_PATIENT_ID"]
        )
    finally:
        with_ids.unpersist()


def run_document_batch(
    wh: ParquetWarehouse, files: DataFrame, upload_id: int
) -> DataFrame:
    """Entry point 2 (exo_2.py:311-339): extract, resolve patients,
    number stably, MERGE on the business key. Returns the rejects as a
    driver-local frame.

    Stable numbering: rows whose (PATIENT_NUM, ID_DOC_SOURCE) already
    exist keep their DOCUMENT_NUM; genuinely new rows continue the
    sequence from the current max.

    The resolved documents are cached: the MERGE's write job extracts
    and resolves them once, and the rejects read the cache.
    """
    ipphist = wh.read("DWH_PATIENT_IPPHIST", DWH_PATIENT_IPPHIST)
    resolved = resolve_patients(files, ipphist).cache()
    try:
        docs, rejects = shape_documents(resolved, upload_id)
        bk = ["PATIENT_NUM", "ID_DOC_SOURCE"]
        if wh.exists("DWH_DOCUMENT"):
            existing = wh.read("DWH_DOCUMENT", DWH_DOCUMENT)
            known = existing.select(*bk, F.col("DOCUMENT_NUM").alias("__keep_num"))
            # the numbering base is a one-row aggregate joined into the
            # plan, not a separate action whose result would be inlined
            # as a literal (new generated code every tick)
            base = existing.agg(
                F.coalesce(F.max("DOCUMENT_NUM"), F.lit(0)).alias("__base")
            )
            # one left join, so the batch is planned (and read from the
            # cache) once: known keys keep their number, and the fresh
            # rows, ordered first, number on from the max in key order.
            # No broadcast hint: known grows with the warehouse (every
            # document ever loaded) — let AQE pick broadcast while it is
            # small and fall back to a shuffle join when it is not
            fresh_first = Window.orderBy(F.col("__keep_num").isNotNull(), *bk)
            docs = (
                docs.drop("DOCUMENT_NUM")
                .join(known, bk, "left")
                .crossJoin(base)
                .withColumn(
                    "DOCUMENT_NUM",
                    F.coalesce(
                        "__keep_num", F.row_number().over(fresh_first) + F.col("__base")
                    ).cast("long"),
                )
                .select(*[f.name for f in DWH_DOCUMENT.fields])
            )
        wh.merge_upsert("DWH_DOCUMENT", docs, bk)
        rejected = [tuple(r) for r in rejects.collect()]
    finally:
        resolved.unpersist()
    return local_rows_df(wh.spark, rejected, "filename string, HOSPITAL_PATIENT_ID string")
