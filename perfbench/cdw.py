"""cdw_ingest: the paper's incremental ingestion loop.

A seeded registry (the reference export's 4,828-row shape, with planted
duplicate patients) and a first document drop are bootstrapped, then
one client drives ``CdwDaemon.tick()`` in a closed loop with no poll
sleep: every ``REGISTRY_EVERY``-th tick follows a registry revision,
the others a drop of ``DOCS_PER_TICK`` PDF/DOCX files (some with
unmatched IPPs, some rewriting ingested keys).
"""

from __future__ import annotations

import gc
import os
import random
import statistics
import time

from perfbench import gen
from perfbench.trace import per_op_kind

REGISTRY_EVERY = 2  # op i is a registry revision when i % 2 == 1
BOOTSTRAPS = 3
WARMUP_TICKS = 2

PER_LAYER = {
    "streaming.snapshot_diff.peek_ms": "ms",
    "streaming.daemon.state_save_ms": "ms",
    "sources.xlsx.read_s": "s",
    "pipeline.run_patient_batch_s": "s",
    "sources.binary_docs.extract_s": "s",
    "pipeline.run_document_batch_s": "s",
    "operators.merge.merge_upsert_s.DWH_DOCUMENT": "s",
    "operators.merge.merge_upsert_s.DWH_PATIENT": "s",
    "operators.merge.merge_upsert_s.DWH_PATIENT_IPPHIST": "s",
    "operators.merge.merge_upsert_s.QUARANTINE_DOCUMENTS": "s",
    "operators.merge.rows_rewritten_per_row_changed": "ratio",
    "spark.jobs_per_doc_tick": "count",
    "spark.jobs_per_registry_tick": "count",
    "spark.task_s_per_doc_tick": "s",
    "spark.shuffle_bytes_per_doc_tick": "bytes",
    "spark.files_written_per_doc_tick": "count",
}


def _install_spans(tracer) -> None:
    """Spans around the daemon's calls into each layer. The daemon
    binds its collaborators by name, so they are wrapped where it
    looks them up."""
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
    from data_engineer_challenge_spark.streaming import daemon
    from data_engineer_challenge_spark.streaming.snapshot_diff import SnapshotState

    def materialize(files):
        # extraction is lazy and first runs inside the MERGE; in the
        # traced run it is cached and counted on its own so its cost
        # is attributed to the source layer
        files = files.cache()
        files.count()
        return files

    tracer.wrap(SnapshotState, "peek", "streaming.snapshot_diff.peek")
    tracer.wrap(SnapshotState, "save", "streaming.daemon.state_save")
    tracer.wrap(daemon, "read_patient_registry", "sources.xlsx.read")
    tracer.wrap(daemon, "run_patient_batch", "pipeline.run_patient_batch")
    tracer.wrap(daemon, "extract_documents", "sources.binary_docs.extract", on_result=materialize)
    tracer.wrap(daemon, "run_document_batch", "pipeline.run_document_batch")
    tracer.wrap(ParquetWarehouse, "merge_upsert",
                lambda self, table, *a, **k: f"operators.merge.merge_upsert.{table}")


def _files_written_since(root: str, t_ns: int) -> int:
    n = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith("part-") and os.stat(os.path.join(dirpath, f)).st_mtime_ns >= t_ns:
                n += 1
    return n


def _check_warehouse(wh, dropper, registry, doc_nums_before) -> list[str]:
    """Compare the warehouse with the planted truth; returns the
    failed checks."""
    fails = []
    ipp_of = {r["PATIENT_NUM"]: r["HOSPITAL_PATIENT_ID"]
              for r in wh.read("DWH_PATIENT_IPPHIST").select("PATIENT_NUM", "HOSPITAL_PATIENT_ID").collect()}
    docs = wh.read("DWH_DOCUMENT").select(
        "ID_DOC_SOURCE", "DOCUMENT_NUM", "PATIENT_NUM", "DOCUMENT_DATE", "AUTHOR").collect()
    got = {r["ID_DOC_SOURCE"]: r for r in docs}
    if len(got) != len(docs) or set(got) != set(dropper.matched):
        fails.append("DWH_DOCUMENT rows != planted matched business keys")
    nums = [r["DOCUMENT_NUM"] for r in docs]
    if len(set(nums)) != len(nums):
        fails.append("DOCUMENT_NUM not unique")
    if any(got.get(k) is None or got[k]["DOCUMENT_NUM"] != n for k, n in doc_nums_before.items()):
        fails.append("DOCUMENT_NUM changed across ticks")
    bad = [k for k, p in dropper.matched.items() if k in got and (
        got[k]["DOCUMENT_DATE"] != p.date or got[k]["AUTHOR"] != p.author
        or ipp_of.get(got[k]["PATIENT_NUM"]) != p.ipp)]
    if bad:
        fails.append(f"{len(bad)} documents with wrong date/author/patient, e.g. {bad[:3]}")
    quarantined = {r["filename"] for r in wh.read("QUARANTINE_DOCUMENTS").select("filename").collect()}
    if quarantined != dropper.unmatched:
        fails.append("quarantine != planted unmatched files")
    patients = wh.read("DWH_PATIENT").select("LASTNAME", "FIRSTNAME", "RESIDENCE_CITY").collect()
    if len(patients) != registry.n_patients:
        fails.append(f"patients {len(patients)} != registry rows - duplicates {registry.n_patients}")
    if {(r["LASTNAME"], r["FIRSTNAME"]): r["RESIDENCE_CITY"] for r in patients} != registry.cities:
        fails.append("patient cities differ from the latest registry revision")
    return fails


def run(ctx):
    from data_engineer_challenge_spark.streaming.daemon import CdwDaemon

    from perfbench.run import Result

    rng = random.Random(ctx.seed)
    root = ctx.work / "cdw"
    docs_dir, reg_path = root / "drop", root / "export_patient.xlsx"
    docs_dir.mkdir(parents=True)
    registry = gen.make_registry(rng)
    reg_path.write_bytes(registry.xlsx())
    dropper = gen.DocumentDropper(rng, str(docs_dir), registry.kept_ipps)
    dropper.drop()
    # the bootstrap (first load of the registry and drop into an empty
    # warehouse) runs BOOTSTRAPS times, each into a fresh warehouse;
    # setup_s takes the median and the loop goes on with the last one
    boot_s = []
    for b in range(BOOTSTRAPS):
        t = time.perf_counter()
        daemon = CdwDaemon(ctx.spark, str(root / f"wh{b}"), str(reg_path), str(docs_dir), changed_only=True)
        daemon.tick()
        boot_s.append(time.perf_counter() - t)
    setup_s = ctx.session_s + statistics.median(boot_s)
    if ctx.trace:
        _install_spans(ctx.tracer)

    revision = 0
    attempted = failed = 0

    def one_op(i: int, record: bool) -> tuple[str, float, int]:
        """Prepare and run one tick; returns (kind, seconds, docs)."""
        nonlocal registry, revision, attempted, failed
        if i % REGISTRY_EVERY == 1:
            revision += 1
            registry = gen.revise_registry(rng, registry, revision)
            before = reg_path.stat().st_mtime_ns
            reg_path.write_bytes(registry.xlsx())
            if reg_path.stat().st_mtime_ns == before:
                os.utime(reg_path, ns=(before + 1, before + 1))
            kind, n_docs, expect_rejects = "registry", 0, None
        else:
            seen = set(dropper.unmatched)
            n_docs = dropper.drop()
            kind, expect_rejects = "doc", sorted(dropper.unmatched - seen)
        t_ns = time.time_ns()
        t = time.perf_counter()
        ok = True
        try:
            with ctx.tracer.op(i, kind):
                report = daemon.tick()
        except Exception as exc:  # a failed tick is a failed op; the loop goes on
            print(f"cdw_ingest: tick {i} failed: {exc!r}")
            ok, report = False, None
        dt = time.perf_counter() - t
        if ok and kind == "doc":
            ok = report.documents_fired and sorted(report.rejects) == expect_rejects
        elif ok:
            ok = report.patients_fired and not report.documents_fired
        if record:
            attempted += 1
            failed += not ok
            if ctx.tracer.enabled and kind == "doc":
                files_written.append(_files_written_since(daemon.wh.root, t_ns))
        return kind, dt, n_docs

    files_written: list[int] = []
    # warm-up, discarded: tick times keep falling over the first few
    # ticks of a JVM as the plans' code gets compiled
    for i in range(WARMUP_TICKS):
        one_op(i, record=False)
    doc_nums_before = {r["ID_DOC_SOURCE"]: r["DOCUMENT_NUM"]
                       for r in daemon.wh.read("DWH_DOCUMENT").select("ID_DOC_SOURCE", "DOCUMENT_NUM").collect()}
    # the harness's own objects are long-lived: keep the collector from
    # rescanning them inside measured ticks
    gc.collect()
    gc.freeze()

    doc_s, reg_s, untraced_doc_s, docs_done = [], [], [], 0
    start = time.perf_counter()
    i = WARMUP_TICKS
    # a traced run measures its first tick of each kind untraced, for the
    # overhead; past the deadline a run goes on only until each tick kind
    # was measured (traced, in a traced run)
    n_untraced = REGISTRY_EVERY if ctx.trace else 0
    while time.perf_counter() - start < ctx.seconds or not doc_s or not reg_s:
        ctx.tracer.enabled = ctx.trace and i - WARMUP_TICKS >= n_untraced
        kind, dt, n_docs = one_op(i, record=True)
        if ctx.trace and not ctx.tracer.enabled:
            if kind == "doc":
                untraced_doc_s.append(dt)
        elif kind == "registry":
            reg_s.append(dt)
        else:
            doc_s.append(dt)
            docs_done += n_docs
        i += 1
    ctx.tracer.enabled = False

    fails = _check_warehouse(daemon.wh, dropper, registry, doc_nums_before)
    for f in fails:
        print(f"cdw_ingest: check failed: {f}")
    failed += len(fails)

    res = Result(
        setup_s=setup_s,
        op_ms=[1000 * s for s in doc_s],
        aux_ms=[1000 * s for s in reg_s],
        items_per_s=docs_done / sum(doc_s) if doc_s else 0.0,
        attempted=attempted + len(fails),
        failed=failed,
        correct=not fails and failed == 0,
        untraced_op_ms=[1000 * s for s in untraced_doc_s],
    )
    if ctx.trace:
        res.layers = _span_layers(ctx.tracer)
        n_doc = sum(1 for s in ctx.tracer.spans if s.name == "op.doc")
        n_reg = sum(1 for s in ctx.tracer.spans if s.name == "op.registry")
        if files_written:
            res.layers["spark.files_written_per_doc_tick"] = sum(files_written) / len(files_written)
        res.finish = lambda stats: _spark_layers(stats, n_doc, n_reg, docs_done)
    return res


def _span_layers(tracer) -> dict[str, float]:
    def med(name, scale):
        d = tracer.durations(name)
        return scale * statistics.median(d) if d else 0.0

    out = {
        "streaming.snapshot_diff.peek_ms": med("streaming.snapshot_diff.peek", 1000),
        "streaming.daemon.state_save_ms": med("streaming.daemon.state_save", 1000),
        "sources.xlsx.read_s": med("sources.xlsx.read", 1),
        "pipeline.run_patient_batch_s": med("pipeline.run_patient_batch", 1),
        "sources.binary_docs.extract_s": med("sources.binary_docs.extract", 1),
        "pipeline.run_document_batch_s": med("pipeline.run_document_batch", 1),
    }
    for table in ("DWH_DOCUMENT", "DWH_PATIENT", "DWH_PATIENT_IPPHIST", "QUARANTINE_DOCUMENTS"):
        out[f"operators.merge.merge_upsert_s.{table}"] = med(f"operators.merge.merge_upsert.{table}", 1)
    return out


def _spark_layers(stats, n_doc: int, n_reg: int, docs_done: int) -> dict[str, float]:
    doc = per_op_kind(stats, "doc", n_doc)
    reg = per_op_kind(stats, "registry", n_reg)
    rewritten = sum(st.records_written for (_, kind, name), st in stats.items()
                    if kind == "doc" and name == "operators.merge.merge_upsert.DWH_DOCUMENT")
    return {
        "spark.jobs_per_doc_tick": doc.jobs,
        "spark.jobs_per_registry_tick": reg.jobs,
        "spark.task_s_per_doc_tick": doc.task_s,
        "spark.shuffle_bytes_per_doc_tick": doc.shuffle_bytes,
        "operators.merge.rows_rewritten_per_row_changed": rewritten / docs_done if docs_done else 0.0,
    }
