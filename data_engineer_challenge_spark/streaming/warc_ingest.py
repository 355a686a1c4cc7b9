"""Continuous WARC-segment ingestion: the Common Crawl shape of the
reference's document-directory daemon (SURVEY §2.7 T1-T5 generalized
to the web-corpus source tier in sources/warc.py).

Each tick mirrors the snapshot-diff contract the daemon uses for
PDF/DOCX drops — mtime-diff the segment directory, process only the
new/modified ``*.warc(.gz)`` files, commit the offset AFTER the batch
(peek/commit, never poll) — and lands extracted HTML documents through
exactly-once machinery: keyed MERGE into the warehouse (idempotent
under replay), optional cross-batch near-dup dedup via the persisted
MinHashIndex with the MERGE-before-index-append ordering (the reverse
order loses a crashed batch forever; this order merely re-appends
postings, which changes probe cost, never answers), and an
optional continuously-maintained BM25 text index (InvertedTextIndex)
fed by a post-MERGE warehouse read-back under a segment-derived txn
guard, so search freshness survives the same crash matrix.

Scale shape: WARC segments are immutable ~1 GiB files — each batch is
one binaryFile task per new segment, HTML parsing and boilerplate
removal run inside the Arrow pass (payloads never shuffle), and only
the ~10x-smaller extracted text reaches the MERGE. Restart recovery:
state loss reprocesses every segment, and the keyed MERGE + probe
converge it to the identical table — the daemon's documented
reprocess-converges property, inherited unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..operators.merge import ParquetWarehouse
from ..sources.warc import warc_html_documents
from .ingest import _dedup_batch
from .snapshot_diff import SnapshotState

_WARC_EXTS = (".warc", ".warc.gz")


@dataclass
class WarcTickReport:
    fired: bool
    segments: tuple[str, ...] = ()
    docs_extracted: int = 0
    docs_merged: int = 0
    docs_rejected: int = 0
    #: docs dropped by the source-reputation gate (never scored)
    docs_blocked: int = 0
    #: hosts on this tick's derived blocklist
    blocked_hosts: int = 0


def warc_ingest_tick(
    spark: SparkSession,
    warc_dir: str,
    state: SnapshotState,
    wh: ParquetWarehouse,
    table: str,
    index=None,  # operators.dedup_index.MinHashIndex | None
    passage_index=None,  # operators.passage.WindowHashIndex | None
    text_index=None,  # operators.text_index.InvertedTextIndex | None
    quality_scorer=None,  # Callable[[DataFrame], DataFrame] | None
    main_content: bool = True,
    state_key: str = "warc",
    source_gate: bool = False,
    gate_min_docs: int = 20,
    gate_reject_ppm: int = 500_000,
    compact_budget: int | str | None = "auto",
) -> WarcTickReport:
    """Process the segment files that changed since the last committed
    tick; no-op (fired=False) when nothing changed.

    Deleted segments are ignored by design: a crawl archive is
    append-only, and the warehouse keeps documents whose source
    segment was archived away (same no-delete contract as the
    reference's upsert daemon)."""
    import os

    from pyspark.sql import functions as F

    diff, snapshot = state.peek(state_key, warc_dir, _WARC_EXTS)
    changed = tuple(sorted((*diff.new, *diff.modified)))
    if not changed:
        return WarcTickReport(fired=False)
    paths = [os.path.join(warc_dir, name) for name in changed]
    docs = warc_html_documents(
        spark, paths, main_content=main_content,
        with_segment=text_index is not None,
    )
    # eager: extraction (gzip + HTML parse of every new segment) runs
    # ONCE — the probe, the survivor anti-join, and the report count
    # below would otherwise each re-parse the segments from bytes
    batch = _dedup_batch(docs, ["doc_id"]).localCheckpoint()
    # extracted = what the crawl yielded, BEFORE any filter stage —
    # the report's funnel reads extracted >= merged + rejected
    n_extracted = batch.count()
    n_rejected = 0
    n_blocked = 0
    n_blocked_hosts = 0
    if source_gate and quality_scorer is not None:
        # Source-reputation gate (the domain-level crawl filter, run
        # CONTINUOUSLY): hosts whose RUNNING reject rate — derived
        # from the two keyed tables every prior tick already
        # committed, so the numbers are replay-idempotent by
        # construction, no new counter state to double-add — exceeds
        # ``gate_reject_ppm`` at ``gate_min_docs`` volume have their
        # documents dropped HERE, before the scorer spends a gram
        # pass on them (the cheapest-filter-first discipline, one
        # broadcast hash join on the host). Blocked docs land in a
        # keyed table (idempotent under replay) so the decision is
        # auditable and reversible — unblocking a host is a re-ingest
        # of its blocked rows, not a re-crawl.
        from ..functions.urls import url_host

        rej_t = f"{table}_quality_rejects"

        def _per_host(df, col):
            return (
                df.select(url_host(F.col("source")).alias("__host"))
                .groupBy("__host")
                .agg(F.count(F.lit(1)).alias(col))
            )

        if wh.exists(rej_t):
            rej = _per_host(wh.read(rej_t), "n_rej")
            if wh.exists(table):
                stats = rej.join(
                    _per_host(wh.read(table), "n_acc"),
                    "__host",
                    "full_outer",
                ).na.fill(0, ["n_rej", "n_acc"])
            else:
                stats = rej.withColumn("n_acc", F.lit(0))
            total = F.col("n_rej") + F.col("n_acc")
            # integer ppm compare — the gate can't sit on a float edge
            blocklist = stats.where(
                (total >= gate_min_docs)
                & (1_000_000 * F.col("n_rej") > gate_reject_ppm * total)
            ).select("__host")
            n_blocked_hosts = blocklist.count()
            if n_blocked_hosts:
                keyed_b = batch.withColumn(
                    "__host", url_host(F.col("source"))
                )
                blocked = (
                    keyed_b.join(F.broadcast(blocklist), "__host")
                    .drop("__host")
                    .localCheckpoint()
                )
                n_blocked = blocked.count()
                if n_blocked:
                    wh.merge_upsert(
                        f"{table}_source_blocked", blocked, ["doc_id"]
                    )
                    batch = (
                        keyed_b.join(
                            F.broadcast(blocklist), "__host", "left_anti"
                        )
                        .drop("__host")
                        .localCheckpoint()
                    )
    if quality_scorer is not None:
        # the CCNet-stage placement: quality scoring runs FIRST (the
        # cheapest filter — one map pass + broadcast dot product),
        # before the dedup probes spend work on documents the filter
        # discards. The scorer contract: input columns preserved, plus
        # quality_score (double) + is_kept (boolean) — e.g.
        # plans.text.with_quality_score (the frozen classifier).
        # Rejects land in a keyed quarantine table with their scores
        # (the rejects-branch discipline, operators/quality.py):
        # MERGE-keyed on doc_id, so a state-loss reprocess re-rejects
        # idempotently instead of duplicating quarantine rows.
        scored = quality_scorer(batch).localCheckpoint()  # two consumers
        rejected = scored.where(~F.col("is_kept"))
        n_rejected = rejected.count()
        if n_rejected:
            wh.merge_upsert(
                f"{table}_quality_rejects",
                rejected.drop("is_kept"),
                ["doc_id"],
            )
        batch = (
            scored.where(F.col("is_kept"))
            .drop("quality_score", "is_kept")
            .localCheckpoint()
        )
    seg_map = None
    if text_index is not None:
        seg_map = batch.select("doc_id", "segment")
        batch = batch.drop("segment")
    if index is not None:
        # the MinHash index's Arrow kernel requires integral ids; WARC
        # record ids are urn strings, so probe/append run on an
        # xxhash64 surrogate. A surrogate collision (~n²/2⁶⁴) could
        # only fold two docs' postings into one index id — a probe
        # accelerator artifact that can cost an extra candidate
        # verify, never a lost warehouse row (MERGE keys on the real
        # doc_id).
        keyed = batch.withColumn("__iid", F.xxhash64("doc_id"))
        dups = index.probe(keyed, id_col="__iid", text_col="text").select(
            F.col("new_id").alias("__iid")
        )
        # eager pin before the index mutates (a lazy survivor plan
        # re-evaluated after index.append would self-match every row
        # and merge an empty batch)
        fresh = keyed.join(dups, "__iid", "left_anti").localCheckpoint()
    else:
        fresh = batch  # already pinned by its own localCheckpoint
    n_fresh = fresh.count()
    # MERGE first, index second (crash between the two replays as
    # probe-miss -> idempotent re-MERGE -> append: converges)
    if passage_index is not None:
        # the RefinedWeb passage stage: spans the retained corpus
        # already holds (boilerplate repeated across pages/segments)
        # are cut BEFORE the row lands. ingest_batch_passage_dedup
        # owns the whole crash matrix here — its id guard makes
        # replayed docs no-op (a replay would otherwise self-match its
        # own indexed windows and gut the text), its heal step closes
        # a MERGE-then-crash index lag, and it MERGEs before appending
        from ..operators.passage import self_dedup
        from .ingest import ingest_batch_passage_dedup

        # IN-BATCH pass first: the index probe only reports
        # batch-vs-INDEX duplication, so boilerplate repeated WITHIN
        # this tick's segments (shared chrome across pages of one
        # crawl segment) must be cut by the batch keep-first kernel
        # before the probe — otherwise both variants' windows would
        # be indexed and the repeat lands uncut. Same kernel as
        # docs_exact_substring_dedup (operators/passage.self_dedup),
        # so the one-shot and streaming semantics cannot drift.
        # Empty-text docs drop here (the P10 contract the passage
        # path documents); pin before the index mutates below.
        payload = fresh.drop("__iid")
        sd = self_dedup(
            payload, "doc_id", "text", w=passage_index.meta["window"]
        ).select(
            "doc_id", F.col("dedup_text").alias("text")
        )
        precut = payload.drop("text").join(sd, "doc_id").localCheckpoint()
        rep = ingest_batch_passage_dedup(
            spark, precut, wh, table, passage_index
        )
        # the passage tick's id guard drops replayed docs and the
        # kernel drops empty-text docs — report what actually landed
        n_fresh = rep["docs_merged"]
    else:
        wh.merge_upsert(table, fresh.drop("__iid"), ["doc_id"])
    # wh.exists guard: a quality gate that rejected an entire first
    # batch leaves the warehouse table uncreated — nothing to read
    # back (and nothing the index owes)
    if text_index is not None and wh.exists(table):
        # BM25 search stays fresh as the crawl ingests: append the
        # warehouse rows for THIS batch's ids, read back post-MERGE —
        # not the in-flight frame. Read-back is the replay armor: a
        # crash after any MERGE above and before this append leaves
        # the retry's dedup guards dropping those docs from the
        # in-flight path, but the warehouse already holds their rows
        # (with the passage-cut text when that stage ran), so the
        # re-read still surfaces them here. One txn PER SEGMENT NAME
        # (segments are immutable — the module contract), so both a
        # crashed-tick retry and a state-loss full reprocess re-derive
        # already-committed txns and no-op instead of re-counting the
        # corpus stats. Long-id surrogate: the minhash caveat verbatim
        # — a collision can misattribute a search hit, never lose a
        # warehouse row. A doc_id recurring in a LATER tick's
        # different segment anti-joins away against the index's
        # ``docs/`` roster (r8 ADVICE fix) — the index keeps the
        # FIRST-indexed text's postings (keep-first, the dedup
        # family's rule) and n_docs/sum_dl stay exact, instead of
        # double-counting the doc and mixing old- and new-text
        # postings in the per-term max fold.
        wh_rows = wh.read(table)
        # ONE roster read for the whole tick: batch is keep-first
        # deduped on doc_id, so a doc_id maps to exactly one segment —
        # nothing an earlier iteration rosters can recur in a later one
        already = text_index.indexed_ids().select(
            F.col("doc_id").alias("__tid")
        )
        for seg in changed:
            seg_ids = seg_map.where(
                F.col("segment").endswith("/" + seg)
            ).select("doc_id")
            landed = (
                wh_rows.join(seg_ids, "doc_id", "semi")
                .withColumn("__tid", F.xxhash64("doc_id"))
                .join(already, "__tid", "left_anti")
            )
            # txn keyed by (segment, mtime_ns) — CONTENT-addressed, the
            # vector tick's ordinal discipline: a replay of the same
            # file re-derives the committed txn and no-ops, while a
            # MODIFIED segment (new mtime) is a fresh txn whose landed
            # set is exactly its not-yet-rostered docs. A name-only key
            # made append()'s committed-txn roster backfill unsound for
            # modified segments: a NEW doc arriving under an old txn's
            # name would be rostered without ever being indexed —
            # permanently unsearchable (r8 review finding).
            #
            # Legacy-key fallback (r8 ADVICE): a store built before the
            # content-addressed keys holds ``warctext-<seg>`` txns and
            # (pre-roster stores) no docs/ — a state-loss reprocess
            # would re-append every segment, duplicating postings and
            # double-counting n_docs/sum_dl. If the legacy txn is
            # committed, append under THAT key instead: it no-ops and
            # backfills the roster with this segment's ids (keep-first
            # — the index family's rule; the legacy content stays, a
            # post-upgrade modification of such a segment is
            # indistinguishable from its original and also keeps
            # first).
            txn = f"warctext-{seg}@{snapshot[seg]}"
            if text_index.txn_committed(f"warctext-{seg}"):
                txn = f"warctext-{seg}"
            text_index.append(
                landed, id_col="__tid", text_col="text", txn=txn
            )
    if index is not None:
        index.append(fresh, id_col="__iid", text_col="text")
        index.release()
    # amortized small-file housekeeping AFTER the batch landed: a
    # 30 s-cadence loop writes one file-set per tick per index store,
    # and without this the probes' file-listing cost grows with tick
    # count even when partition pruning works. Compaction is
    # answer-preserving (membership folds) and crash-safe (a crash
    # here heals on the next open); running it before the offset
    # commit is fine — a crash between land and commit replays the
    # batch idempotently regardless.
    # ``compact_budget`` bounds buckets folded per store per tick
    # (fattest-first — r13, VERDICT r12 #2): a uniform tick touches
    # ~every bucket, so an unbounded pass periodically rewrites the
    # whole store in ONE tick instead of amortizing.
    if index is not None:
        index.maybe_compact(budget=compact_budget)
        # growth maintenance (r9): past the production-sized
        # per-bucket row target the hash-partitioned layout re-buckets
        # crash-safely (compaction.commit_relayout) — bucket counts
        # must scale with the corpus or probe cost grows ∝ N/buckets.
        # No-op below the threshold (the trigger check is one
        # parquet-metadata count).
        index.maybe_rebucket()
    if passage_index is not None:
        passage_index.maybe_compact(budget=compact_budget)
        passage_index.maybe_rebucket()
    if text_index is not None:
        text_index.maybe_compact(budget=compact_budget)
        text_index.maybe_rebucket()
    # offset commits only after the batch landed: a throw above leaves
    # the trigger armed and the retry re-sees the same segments
    state.commit(state_key, snapshot)
    state.save()
    return WarcTickReport(
        fired=True,
        segments=changed,
        docs_extracted=n_extracted,
        docs_merged=n_fresh,
        docs_rejected=n_rejected,
        docs_blocked=n_blocked,
        blocked_hosts=n_blocked_hosts,
    )
