"""The polling daemon (SURVEY.md §3 entry point 3; script.py:60-131)
as a bounded, testable micro-batch driver.

Each tick mirrors the reference's trigger logic: the registry file
fires the patient pipeline when its mtime changes (or on the first
batch); the document directory fires the document pipeline on any
new/modified/deleted file (or on the first batch). Upload IDs are
separate counters incremented per *fired* pipeline (T5).

Parity note (SURVEY §2.7 T4): like the reference, a document trigger
reprocesses the whole directory — the MERGE is idempotent so this is
correct; ``changed_only=True`` switches to incremental processing of
just the diff's new and modified files (the optimization the reference
never built), so a tick reads and extracts O(change) files, not every
file ever dropped. Either way the files come from the snapshot the
trigger already listed: the tick runs no Spark directory listing, and
a file deleted between that listing and its extraction fails the tick
(the trigger stays armed and the retry's diff no longer holds it).
Deletions are detected and reported but never delete warehouse rows
(the reference's upsert cannot delete either).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..operators.merge import ParquetWarehouse
from ..pipeline import run_document_batch, run_patient_batch
from ..sources.binary_docs import ExtractFn, document_paths, extract_documents
from ..sources.extractors import extract_text
from ..sources.xlsx import read_patient_registry
from .snapshot_diff import SnapshotState


@dataclass
class TickReport:
    batch_number: int
    patients_fired: bool = False
    documents_fired: bool = False
    upload_id_patient: int = 0
    upload_id_document: int = 0
    doc_changes: tuple[tuple[str, ...], tuple[str, ...], tuple[str, ...]] = ((), (), ())
    rejects: list[str] = field(default_factory=list)


class CdwDaemon:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        registry_path: str,
        documents_dir: str,
        sheet_name: str | None = None,
        extractor: ExtractFn = extract_text,
        changed_only: bool = False,
    ):
        self.spark = spark
        self.wh = ParquetWarehouse(spark, warehouse_root)
        self.registry_path = registry_path
        self.documents_dir = documents_dir
        self.sheet_name = sheet_name
        self.extractor = extractor
        self.changed_only = changed_only
        self._load_state(os.path.join(warehouse_root, "_stream_state.json"))

    def _load_state(self, path: str) -> None:
        """(Re)load the persisted stream state: offsets and counters.

        Counters resume from the committed stream state: a restart
        that reset them would re-stamp rows with regressed UPLOAD_ID
        lineage and collide (filename, upload_id) quarantine keys
        from earlier runs; resumed counters also mean a restart is
        NOT a "first" batch, so the everything-is-new reload only
        happens on a genuinely fresh warehouse."""
        self.state = SnapshotState.load(path)
        self.batch_number = self.state.counters.get("batch_number", 0)
        self.upload_id_patient = self.state.counters.get("upload_id_patient", 0)
        self.upload_id_document = self.state.counters.get("upload_id_document", 0)

    def tick(self) -> TickReport:
        """One polling cycle (script.py:68-117).

        Snapshot offsets commit AFTER the batches succeed (peek →
        process → commit+save): a tick that throws mid-batch leaves
        the change trigger armed, so a supervisor's retry re-sees the
        same diff instead of silently dropping it. A failed tick also
        returns the daemon to its last persisted state, counters
        included, so an in-process retry replays the tick with the
        same upload ids a restarted daemon would use. A retry may
        re-run an already-succeeded pipeline from the same tick — the
        MERGE is idempotent, so replay heals, never corrupts (tested
        with faults at each commit boundary of a document tick).
        """
        try:
            return self._tick()
        except BaseException:
            self._load_state(self.state.path)
            raise

    def _tick(self) -> TickReport:
        self.batch_number += 1
        first = self.batch_number == 1
        report = TickReport(batch_number=self.batch_number)

        registry_diff, registry_snap = self.state.peek(
            "registry", os.path.dirname(self.registry_path), (".xlsx",)
        )
        registry_changed = os.path.basename(self.registry_path) in (
            registry_diff.new + registry_diff.modified
        )
        if first or registry_changed:
            self.upload_id_patient += 1
            registry = read_patient_registry(
                self.spark, self.registry_path, self.sheet_name
            )
            run_patient_batch(self.wh, registry, self.upload_id_patient)
            report.patients_fired = True

        doc_diff, doc_snap = self.state.peek("documents", self.documents_dir)
        report.doc_changes = (doc_diff.new, doc_diff.modified, doc_diff.deleted)
        if first or doc_diff.changed:
            self.upload_id_document += 1
            names = (
                doc_diff.new + doc_diff.modified
                if self.changed_only and not first
                else tuple(doc_snap)
            )
            files = extract_documents(
                document_paths(self.spark, self.documents_dir, names),
                self.extractor,
            )
            rejects = run_document_batch(self.wh, files, self.upload_id_document)
            report.documents_fired = True
            report.rejects = [r["filename"] for r in rejects.collect()]
            if report.rejects:
                # §2.9: quarantine sink instead of the reference's
                # log-and-forget warning (exo_2.py:255-258)
                from pyspark.sql import functions as F

                from ..localrel import local_rows_df

                quarantined = (
                    local_rows_df(
                        self.spark,
                        [(f,) for f in report.rejects],
                        "filename string",
                    )
                    .withColumn("upload_id", F.lit(self.upload_id_document))
                    .withColumn("reason", F.lit("NO_MATCHING_PATIENT"))
                )
                self.wh.merge_upsert(
                    "QUARANTINE_DOCUMENTS", quarantined, ["filename", "upload_id"]
                )

        report.upload_id_patient = self.upload_id_patient
        report.upload_id_document = self.upload_id_document
        # both batches succeeded: commit the offsets AND counters,
        # then persist
        self.state.commit("registry", registry_snap)
        self.state.commit("documents", doc_snap)
        self.state.counters["batch_number"] = self.batch_number
        self.state.counters["upload_id_patient"] = self.upload_id_patient
        self.state.counters["upload_id_document"] = self.upload_id_document
        self.state.save()
        return report

    def run(self, max_batches: int | None = None, interval_s: float = 30.0) -> None:
        """The unbounded loop (script.py:68, sleep at 117); bounded via
        ``max_batches`` for tests."""
        fired = 0
        while max_batches is None or fired < max_batches:
            self.tick()
            fired += 1
            if max_batches is None or fired < max_batches:
                time.sleep(interval_s)
