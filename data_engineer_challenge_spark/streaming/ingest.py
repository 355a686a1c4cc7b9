"""Exactly-once streaming ingest into the warehouse
(SURVEY.md §2.7 — the foreachBatch + MERGE pattern).

Structured Streaming's checkpoint gives at-least-once batch delivery;
the keyed MERGE makes the sink idempotent, so replays after failure
produce no duplicates — the standard exactly-once recipe without a
transactional table format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import keep_first_dedup
from ..operators.merge import ParquetWarehouse


def _dedup_batch(batch_df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic in-batch keep-first dedup: collisions resolve by
    the row's non-key values as a total order, so a replayed batch
    commits the SAME row the crashed original would have — values, not
    just counts, must be replay-stable for exactly-once claims."""
    others = sorted(c for c in batch_df.columns if c not in keys)
    return keep_first_dedup(
        batch_df, keys, [F.struct(*others)] if others else keys
    )


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    wh: ParquetWarehouse,
    table: str,
    keys: list[str],
    checkpoint_dir: str,
) -> None:
    """Drain all currently-available files from ``source_dir`` into
    ``wh.table`` via keyed MERGE micro-batches (trigger availableNow —
    bounded, so callers/tests control the lifecycle).

    In-batch key collisions resolve DETERMINISTICALLY (keep-first by
    the row's non-key values as a total order): ``dropDuplicates``
    would keep whichever row survives the shuffle, so a replayed batch
    could commit a different row than the crashed original — values
    must be replay-stable for the exactly-once claim to hold, not just
    row counts."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        wh.merge_upsert(table, _dedup_batch(batch_df, keys), keys)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ingest_documents_deduped(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    wh: ParquetWarehouse,
    table: str,
    index,  # operators.dedup_index.MinHashIndex
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming document ingest with CROSS-BATCH near-dup dedup: each
    micro-batch probes the persisted MinHash index for near-duplicates
    of anything already ingested, drops them, appends the survivors'
    postings to the index, and MERGEs the survivors into the warehouse.

    Exactly-once story: the checkpoint gives at-least-once batches; the
    keyed MERGE is idempotent and COMMITS BEFORE the index append (see
    the ordering comment below — the reverse order permanently loses a
    batch that crashes between the two); index.append on a replayed
    batch writes duplicate postings, which cost probe work but cannot
    change RESULTS. So replays converge (the weaker, documented
    guarantee: the index is an accelerator whose duplicated postings
    are healed by compaction, not a second source of truth)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # exact in-batch dedup first (deterministic keep-first) — the
        # index only answers cross-batch questions
        batch = _dedup_batch(batch_df, [id_col])
        dups = index.probe(batch, id_col=id_col, text_col=text_col).select(
            F.col("new_id").alias(id_col)
        )
        # localCheckpoint, not cache: `fresh`'s lazy plan READS the
        # index's postings (through probe), and index.append MUTATES
        # them — a later re-evaluation (cache miss, eviction) would see
        # the batch's own just-appended postings, match every survivor
        # against itself, and silently merge an EMPTY batch. The eager
        # checkpoint pins the survivor set before the index changes.
        fresh = batch.join(dups, id_col, "left_anti").localCheckpoint()
        # MERGE first, index second: a crash between the two then
        # replays as probe-miss -> idempotent re-MERGE -> append, and
        # the batch converges. The reverse order loses the batch
        # forever: the replay's probe would self-match every row
        # against its own already-appended postings, hand MERGE an
        # empty survivor set, and the rows would exist in the index
        # but never reach the warehouse.
        wh.merge_upsert(table, fresh, [id_col])
        index.append(fresh, id_col=id_col, text_col=text_col)
        # this batch's probe cache is finished once fresh is
        # merged+indexed; release it TARGETED (not clearCache — the
        # session may hold unrelated caches owned by other components,
        # and a stream that evicted them every micro-batch would force
        # their recomputation session-wide)
        index.release()

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ingest_stream_snapshot_merge(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    table,  # operators.snapshot.SnapshotTable
    keys: list[str],
    checkpoint_dir: str,
    txn_prefix: str = "merge",
    max_files_per_trigger: int | None = None,
) -> None:
    """Exactly-once KEYED upsert ingest into a SnapshotTable — the
    transactional counterpart of :func:`ingest_stream` (which merges
    into the directory-swap warehouse). Each micro-batch dedupes
    in-batch keys deterministically, then MERGEs under txn
    ``{txn_prefix}-{batch_id}``:

    - replayed batches are silent no-ops (the txn map), so
      at-least-once delivery becomes exactly-once;
    - readers see each batch's updates atomically (never a
      half-merged table) and can time-travel to any pre-batch state;
    - the stats-pruned copy-on-write keeps per-batch cost ∝ the key
      range the batch touches, the steady-state streaming shape."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # bound each micro-batch to N source files — availableNow then
        # drains the backlog as SEVERAL batches (each its own txn +
        # table version) instead of one catch-all batch, the knob that
        # keeps per-commit memory ∝ batch, not backlog
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(
            _dedup_batch(batch_df, keys), keys=keys,
            txn=f"{txn_prefix}-{batch_id}",
        )

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def refresh_from_changes(
    spark: SparkSession,
    raw,  # operators.snapshot.SnapshotTable (append-only source)
    clean,  # operators.snapshot.SnapshotTable (deduped output)
    index,  # operators.dedup_index.MinHashIndex
    id_col: str = "doc_id",
    text_col: str = "text",
    txn_prefix: str = "cdc",
) -> int | None:
    """One tick of a CHANGE-FEED-driven incremental corpus refresh: the
    batch composition of the round's transactional pieces, no streaming
    runtime needed.

    - **Cursor**: the last processed ``raw`` version is recovered from
      ``clean``'s own manifest txn map (txn ids are
      ``{txn_prefix}-{raw_version}``), so the pipeline's progress is
      committed atomically WITH its output — no side files whose loss
      or staleness could desync cursor and data.
    - **Delta**: ``raw.read_changes(cursor, current)`` hands over
      exactly the rows new commits introduced — cost ∝ new data, never
      a rescan of the raw table.
    - **Dedup**: in-batch keep-first, then a :class:`MinHashIndex`
      probe drops near-duplicates of anything already ingested.
    - **Exactly-once**: the survivors append under txn
      ``{txn_prefix}-{current}``; a replayed tick (crash after append,
      before/during index update) is a silent no-op on ``clean`` and
      merely re-appends index postings — which changes probe cost, not
      probe answers (the same converging order as
      :func:`ingest_documents_deduped`, for the same reason).

    The index lags ``clean`` by design and self-heals: a crash between
    the clean append and the index update cannot lose survivors,
    because the next tick re-derives the index's backlog FROM CLEAN'S
    OWN CHANGE FEED (clean is append-only, so ``clean.read_changes``
    over the unindexed version range IS exactly the survivor set) and
    re-appends it before processing anything new. The index-progress
    marker is a best-effort side file under the index directory — if
    it is lost the heal re-appends postings it already has, which
    changes probe cost, never probe answers. Correctness (no lost
    rows, no duplicate rows, exact cursor) rides entirely on the two
    manifests.

    Returns the committed ``clean`` version, or None if there was
    nothing new (or a replay already committed this delta)."""
    import json as _json
    import os as _os

    cur = raw.current_version()
    if cur is None:
        return None
    marker = _os.path.join(index.path, f"_consumed_{txn_prefix}.json")

    def _mark(clean_version: int) -> None:
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"clean_version": clean_version}, f)
        _os.replace(tmp, marker)

    cv = clean.current_version()
    if cv is not None:
        # heal: index everything clean committed that the index may
        # not have seen (crash window, lost marker — both converge)
        indexed_v = -1
        if _os.path.exists(marker):
            with open(marker) as f:
                indexed_v = _json.load(f)["clean_version"]
        if indexed_v < cv:
            gap = clean.read_changes(indexed_v, cv)
            index.append(gap, id_col=id_col, text_col=text_col)
            index.release()
            _mark(cv)
    from ..operators.snapshot import txn_cursor

    cursor = txn_cursor(clean, txn_prefix)
    if cursor >= cur:
        return None  # nothing new
    batch = _dedup_batch(raw.read_changes(cursor, cur), [id_col])
    dups = index.probe(batch, id_col=id_col, text_col=text_col).select(
        F.col("new_id").alias(id_col)
    )
    # eager pin for the same reason ingest_documents_deduped does it:
    # `fresh` reads the index's postings through probe, and
    # index.append below mutates them — a lazy re-evaluation would
    # self-match every survivor and append an empty delta
    fresh = batch.join(dups, id_col, "left_anti").localCheckpoint()
    v = clean.append(fresh, txn=f"{txn_prefix}-{cur}")
    if v is not None:
        index.append(fresh, id_col=id_col, text_col=text_col)
        index.release()
        _mark(v)
    return v


def ingest_stream_snapshot_append(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    table,  # operators.snapshot.SnapshotTable
    checkpoint_dir: str,
    txn_prefix: str = "ingest",
) -> None:
    """Exactly-once APPEND-ONLY ingest into a SnapshotTable — the
    transactional-sink variant of :func:`ingest_stream` for tables
    with no natural merge key (event logs, raw captures). The
    checkpoint replays batches at-least-once; the manifest's txn
    record (``{txn_prefix}-{batch_id}``) makes each batch's append
    idempotent, so replays are no-ops instead of duplicate rows, and
    readers only ever see whole committed batches (snapshot
    isolation), never a half-written directory."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.append(batch_df, txn=f"{txn_prefix}-{batch_id}")

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ingest_stream_ivm(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    table,  # operators.snapshot.SnapshotTable (the raw source table)
    ivm,  # operators.ivm.IncrementalAgg maintaining a view OVER table
    checkpoint_dir: str,
    txn_prefix: str = "ingest",
) -> None:
    """Exactly-once ingest WITH a continuously maintained aggregate
    view: each micro-batch appends into the source SnapshotTable
    (txn-idempotent, as :func:`ingest_stream_snapshot_append`) and
    then folds the new source versions into the IVM view in the same
    foreachBatch — the dashboard table is delta-fresh after every
    batch without ever re-scanning the source.

    Crash-safety needs no two-phase dance: a replayed batch's append
    is absorbed by the source txn record, and the tick's own durable
    cursor (the view manifest's untrimmed ``cursors`` map) makes the
    fold idempotent — a crash BETWEEN append and tick simply leaves
    the cursor behind by one version, and the next batch's tick folds
    both versions. Progress on both tables commits atomically with
    their data; correctness never depends on the Spark checkpoint
    agreeing with either manifest.

    Caveat (all batch-id-txn sinks share it, Delta's txnAppId
    included): txn ids derive from BATCH ids, which restart at 0 in a
    fresh checkpoint — so ``txn_prefix`` is bound to one checkpoint
    lineage. Re-pointing a NEW checkpoint at a table previously fed
    under the same prefix absorbs the new batches as replays; use a
    new prefix (or the same checkpoint) when resuming."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def append_and_fold(batch_df: DataFrame, batch_id: int) -> None:
        table.append(batch_df, txn=f"{txn_prefix}-{batch_id}")
        ivm.tick()

    q = (
        stream.writeStream.foreachBatch(append_and_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ingest_stream_distinct_sketches(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    table,  # operators.snapshot.SnapshotTable (the sketch rollup)
    value_col: str,
    group_cols: list[str],
    checkpoint_dir: str,
    lg_k: int | None = None,
    txn_prefix: str = "sk",
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain a persisted distinct-count sketch rollup from a stream:
    each micro-batch folds its rows into one HLL sketch per group
    (operators/sketches.py) and APPENDS the sketch rows — never
    updates. A group seen in many batches simply owns many sketch
    rows; the read path unions them, and union is register-wise max,
    so the rollup is correct under any batch slicing.

    Exactly-once here is double-walled: the per-batch txn id makes a
    replayed batch a silent no-op on the table — and even if a replay
    somehow re-appended its sketches (say, a checkpoint rebuilt under
    a fresh txn prefix), HLL union is IDEMPOTENT (max of the same
    registers twice is itself), so the ESTIMATES are already
    replay-proof before the transactional layer does anything. State:
    the stream carries none at all — no watermark, no GroupState; the
    sketch rows in the table are the state, a few KB per group-batch."""
    from ..operators.sketches import DEFAULT_LG_K, build_distinct_sketches

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        table.append(
            build_distinct_sketches(
                batch_df,
                value_col,
                group_cols,
                lg_k if lg_k is not None else DEFAULT_LG_K,
            ),
            txn=f"{txn_prefix}-{batch_id}",
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ingest_batch_passage_dedup(
    spark: SparkSession,
    batch: DataFrame,
    wh: ParquetWarehouse,
    table: str,
    index,  # operators.passage.WindowHashIndex
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """One exactly-once ingest tick with ARBITRARY-ALIGNMENT passage
    dedup: spans the retained corpus already holds are cut from each
    incoming document before it lands (operators/passage — the
    incremental ExactSubstr tier), and the index stores windows of the
    KEPT text, so future batches dedup against what the corpus
    actually retains.

    Crash matrix (the MinHashIndex ingest discipline, adapted):

    - The id guard (anti-join against the table's existing keys) makes
      replays no-ops — essential HERE, not just an optimization: a
      replayed document's own windows are in the index by then, so
      re-probing it would self-match, gut its text, and an unguarded
      re-MERGE would overwrite the good row.
    - MERGE lands before the index append. Crash between the two: the
      retry's id guard skips the doc, and the HEAL step (table ids ∖
      index roster → re-append windows from the table's own retained
      text) closes the index lag — convergent, never lossy.
    - Index appends are blind membership adds; replaying one only
      duplicates rows, answers unchanged.

    Empty-text documents drop out (the passage kernel tokenizes
    non-empty docs only) — deliberately the reference's P10 contract
    (exo_2.py:249-251 skips empty documents); filter upstream if they
    must land. A table with rows but an EMPTY index roster heals by
    indexing the whole table — i.e. opening a fresh WindowHashIndex
    over an existing corpus bootstraps it automatically.

    Returns ``{"docs_in", "docs_new", "docs_merged", "tokens_cut",
    "healed"}`` — ``docs_new`` counts the docs that passed the id
    guard, ``docs_merged`` the rows that actually landed in the
    warehouse (empty-text docs drop between the two per the P10
    contract above, so callers reporting "merged" must use
    ``docs_merged``, not ``docs_new``)."""
    from pyspark.sql import functions as F

    batch = _dedup_batch(batch, [id_col])
    existing = (
        wh.read(table).select(F.col(id_col)) if wh.exists(table) else None
    )
    # heal BEFORE probing: windows a crashed tick failed to index must
    # count against this batch too, not only future ones
    healed = 0
    if existing is not None:
        tbl = wh.read(table)
        roster = index.indexed_ids().select(
            F.col("doc_id").alias("__idx_id")
        )
        # pin before the index mutates: the anti-join reads the index
        # roster (docs/) that index.append below writes to, and the
        # unpinned plan would otherwise be evaluated three times
        # (count + the two writes inside append) — the same
        # pin-before-index-mutation discipline every other frame in
        # this function follows
        lag = tbl.join(
            roster,
            tbl[id_col].cast("string") == F.col("__idx_id"),
            "left_anti",
        ).localCheckpoint()
        healed = lag.count()
        if healed:
            index.append(lag, id_col=id_col, text_col=text_col)
    new = (
        batch
        if existing is None
        else batch.join(existing, id_col, "left_anti")
    ).localCheckpoint()  # pin: three consumers below
    n_in = batch.count()
    n_new = new.count()
    if n_new == 0:
        return {"docs_in": n_in, "docs_new": 0, "docs_merged": 0,
                "tokens_cut": 0, "healed": healed}
    cut = index.probe(new, id_col=id_col, text_col=text_col)
    merged = (
        new.drop(text_col)
        .join(
            cut.select(
                F.col("doc_id").alias(id_col),
                F.col("dedup_text").alias(text_col),
                "n_tokens_cut",
            ),
            id_col,
        )
        .localCheckpoint()  # pin before the index mutates
    )
    stats = merged.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens_cut").alias("cut")
    ).collect()[0]
    wh.merge_upsert(table, merged.drop("n_tokens_cut"), [id_col])
    index.append(merged, id_col=id_col, text_col=text_col)
    return {
        "docs_in": n_in,
        "docs_new": n_new,
        "docs_merged": int(stats["n"]),
        "tokens_cut": int(stats["cut"] or 0),
        "healed": healed,
    }


def curation_refresh_tick(
    spark: SparkSession,
    wh: ParquetWarehouse,
    table: str,
    selection,  # operators.snapshot.SnapshotTable
    txn: str,
    scorer=None,
    topk: int | None = None,
    prepare=None,
) -> dict:
    """Periodic derived-selection refresh — the step that closes the
    continuous-curation loop: the ingest ticks keep the corpus table
    current (WARC extraction, quality quarantine, passage/minhash
    dedup, index maintenance); this tick re-runs the BATCH curation
    funnel (``plans/text.curation_funnel``: quality gate → exact dedup
    → DSIR over survivors) over the warehouse's CURRENT corpus and
    commits the selected training mix as a new ``SnapshotTable``
    version. The selection history is then time-travelable — "exactly
    which documents were in the mix at version N" is one
    ``selection.read(version=N)`` — which is the auditable
    training-data lineage a 100 TB pipeline owes its downstream
    training runs.

    Exactly-once per refresh identity: ``txn`` (e.g.
    ``f"curate-{source_offset}"``) rides the snapshot's rolling txn
    map, so a crashed-and-retried refresh converges on ONE committed
    version instead of stacking identical ones; the funnel itself is
    deterministic, so the retry's content is bit-identical anyway.
    ``wh.read(table)`` must carry the documents contract the funnel
    scores (``doc_id``, ``lang``, ``text``) — or ``prepare`` adapts
    it: a callable ``docs -> docs`` applied before the funnel, e.g.
    deriving ``lang`` for a crawl table via the marker-word language
    ID (crawled corpora carry no labels; the enrichment is part of
    the curation, so it belongs inside the refresh and is replayed
    deterministically with it). ``scorer``/``topk`` forward to
    :func:`curation_funnel`.

    Cost shape: one funnel pass over the corpus per refresh (stage 1's
    broadcast scorer dominates — SCALE.md's funnel rows), one tiny
    commit (the selection is topk rows). Refresh cadence is the
    caller's knob — every N ingest ticks, not every tick.

    When the corpus lives in a :class:`SnapshotTable` instead of a
    warehouse table, use :func:`curation_refresh_delta_tick` (r10): it
    commits the bit-identical selection while scoring only the
    documents the corpus CHANGED since the last refresh — this
    full-recompute form remains for keyed warehouse tables, whose
    MERGE rewrites carry no row-level change feed to drive a delta."""
    from ..plans.text import curation_funnel

    docs = wh.read(table)
    if prepare is not None:
        docs = prepare(docs)
    kwargs = {} if topk is None else {"topk": topk}
    sel = curation_funnel(docs, scorer=scorer, **kwargs)
    version = selection.replace(sel, txn=txn)
    return {
        "version": version,  # None => replayed txn, no new commit
        "selected": selection.read().count(),
    }


def curation_refresh_delta_tick(
    spark: SparkSession,
    corpus,  # operators.snapshot.SnapshotTable (the corpus source)
    selection,  # operators.snapshot.SnapshotTable (the committed mix)
    state_dir: str,
    txn_prefix: str = "curate",
    scorer=None,
    topk: int | None = None,
    prepare=None,
    compact_every: int | None = 16,
) -> dict:
    """Delta-aware continuous-curation refresh (VERDICT r9 #1):
    re-selects the training mix like :func:`curation_refresh_tick`,
    but pays the expensive per-document work — quality scoring,
    tokenization, gram hashing — only for documents the corpus
    CHANGED since the last refresh, while committing a selection
    **bit-identical** to running the full batch funnel
    (``plans/text.curation_funnel``) over the corpus's current state.

    How the funnel decomposes incrementally:

    - **Stage 1 (score)** is a pure per-document map: quality score,
      keep/reject gate, exact-dedup fingerprint, and the hashed-gram
      bucket histogram of each document depend on that document's
      text alone. They are computed ONCE, for delta documents only
      (``corpus.read_changes_signed`` — additions score, retractions
      just tombstone), and persisted in two append-only state logs
      under ``state_dir``: ``stats`` (doc_id, lang, fingerprint,
      quality_score, is_kept, __dead, __v — one NARROW row per
      document version, no text) and ``grams`` (doc_id, b, c, __v —
      the per-doc bucket histogram of gate-kept docs). ``__v`` is the
      corpus version that delivered the row; a document's current
      truth is its highest-``__v`` stats row, and its current grams
      are the rows whose ``__v`` matches it exactly — so re-scored
      documents never double-count and crashed-tick re-scores
      converge by construction.
    - **Stage 2 (exact dedup keep-first)** is a group-wide min over
      (fingerprint → lowest kept doc_id). Group membership shifts
      with any change (a retracted keeper hands its group to the
      next survivor), so survivorship is recomputed each refresh —
      but over the NARROW stats log (ids and 32-char fingerprints,
      no text): at 100 TB of text this metadata pass is ~3 orders of
      magnitude less IO than the scoring pass it replaces.
    - **Stage 3 (DSIR)** has a global model: bucket counts over
      survivors and their totals. The counts fold exactly from the
      persisted integer histograms of the CURRENT survivor set, and
      the bucket weights are then the literal ``_dsir_ratio``
      expression over those counts — identical longs in, identical
      doubles out. Per-document log-weights are re-aggregated from
      the histograms against the new broadcast weight table with
      exact decimal arithmetic (``c × decimal(w)`` summed ==
      instance-wise decimal sum, same scale, same final cast), so
      they match the batch funnel bit-for-bit.

    Why the re-rank is not ∝ delta (and cannot exactly be): DSIR's
    totals ``t_r/t_t`` enter every bucket's weight, so ANY delta
    moves EVERY document's weight — an exact refresh is Ω(survivor
    histograms) by construction. What the delta path removes is the
    text-dependent term: re-tokenizing and re-scoring the corpus.
    The remaining passes touch only derived integer/metadata state
    (the corpus TABLE is read ∝ delta — pin with the returned
    ``corpus_files``). The sub-floor alternative — carrying forward
    log-weights computed under each document's historical model —
    is the "model drift" approximation; this implementation chooses
    exactness and documents the floor instead.

    Exactly-once / crash convergence: all three commits (stats
    append, grams append, selection replace) share txn
    ``{txn_prefix}-{corpus_version}``. The appends are computed from
    the corpus delta alone, so a retry re-derives them bit-identically
    and they no-op; the ranking reads the logs AFTER those commits,
    so whichever side of a crash the retry lands on, it ranks the
    same committed state. The cursor is recovered from
    ``selection``'s own txn map (:func:`txn_cursor`) — progress
    commits atomically with the output, the
    :func:`refresh_from_changes` discipline. If the corpus advanced
    again before a crashed refresh retried, the retry's wider delta
    re-scores the earlier documents under the newer version — the
    (doc_id, __v) join then serves exactly the newest rows.

    ``prepare`` adapts the delta rows before scoring (e.g. deriving
    ``lang`` for a crawl table) and therefore MUST be a deterministic
    per-row transform — it sees only changed documents, so any
    cross-document logic would diverge from the batch funnel.
    ``scorer``/``topk`` forward as in :func:`curation_refresh_tick`.

    State maintenance: superseded (older-``__v``) and tombstoned rows
    accumulate in the logs; the tick runs its own housekeeping (the
    index-tick ``maybe_compact`` discipline) — every ``compact_every``
    appended log versions it folds both logs down to live rows via
    :func:`curation_state_compact`, AFTER the selection commit
    (housekeeping last; a crash in between just defers the fold to
    the next tick, txn-idempotently). ``compact_every=None`` leaves
    compaction entirely to the caller. Answers never depend on it."""
    import os

    from ..operators.snapshot import SnapshotTable, txn_cursor
    from ..plans.helpers import OUT
    from ..plans.text import (
        _dsir_ratio,
        _FUNNEL_TOPK,
        _gram_features,
        exact_fingerprint,
        with_quality_score,
    )

    cur = corpus.current_version()
    cursor = txn_cursor(selection, txn_prefix)
    if cur is None or cursor >= cur:
        return {"version": None, "selected": None, "fired": False}
    txn = f"{txn_prefix}-{cur}"
    stats = SnapshotTable(spark, os.path.join(state_dir, "stats"))
    grams = SnapshotTable(spark, os.path.join(state_dir, "grams"))

    delta = corpus.read_changes_signed(cursor, cur)
    corpus_files = tuple(sorted(delta.inputFiles()))
    plus_raw = delta.where(F.col("__sign") == 1).drop("__sign")
    minus_raw = delta.where(F.col("__sign") == -1).drop("__sign")
    # copy-on-write rewrites (delete_where / compaction) re-emit every
    # CARRIED survivor of a rewritten directory as -old +new with
    # identical content; they cancel — skip re-scoring them (the
    # doc's existing stats/grams rows at an older __v remain its
    # latest truth). Only rows whose every column survived unchanged
    # are skipped; a genuine rewrite (any column moved) still scores.
    #
    # NARROW guard rows (r15, VERDICT r14 #1, guide §2.3/§8): the set
    # comparison itself never needs the text — it only needs to DECIDE
    # equality — so both sides project to (doc_id, xxhash64(all
    # columns), null-bitmap) before the intersect. The delta's text is
    # read once per side to compute the hash but never shuffled; at
    # 100 TB the guard's exchange drops from the corpus-delta's bytes
    # to ~20 bytes/row. Equivalence to whole-row null-safe equality:
    # identical rows hash identically (deterministic functions), the
    # null bitmap distinguishes rows that differ only in WHICH columns
    # are null (xxhash64 skips null inputs, so ("a", NULL) and
    # (NULL, "a") would otherwise collide), and two DIFFERENT rows
    # with equal doc_id, bitmap and hash are a genuine 2^-64 xxhash64
    # collision — whose failure direction here is skipping a re-score
    # of a changed doc, the same exposure every hash-fingerprint dedup
    # stage in this pipeline already accepts (test-pinned in
    # tests/test_streaming.py). Rows the hash treats as DIFFERENT but
    # whole-row equality would not (float ±0.0 flips) merely re-score
    # deterministically — never wrong, just not skipped.
    cols = plus_raw.columns
    if len(cols) > 63:  # bitmap long overflows — whole-row fallback
        _nb = F.concat_ws(
            ",", *[F.col(c).isNull().cast("int").cast("string") for c in cols]
        )
    else:
        _nb = F.lit(0).cast("long")
        for _i, _c in enumerate(cols):
            _nb = _nb + F.when(
                F.col(_c).isNull(), F.lit(1 << _i).cast("long")
            ).otherwise(F.lit(0).cast("long"))

    def _narrow(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.xxhash64(*[F.col(c) for c in cols]).alias("__h"),
            _nb.alias("__nb"),
        )

    plus_n = _narrow(plus_raw)
    carried = plus_n.intersect(_narrow(minus_raw))
    # dup-guard, carried branch (ADVICE r10): the skip below anti-
    # joins by doc_id ALONE, so a window holding BOTH a carried row
    # and a distinct extra + row for one doc_id would silently drop
    # the extra row from scoring — and the n_dup guard exempts the
    # doc because it has a − row. That window means the corpus holds
    # two live rows under one doc_id (the carried survivor plus the
    # fresh append) — the same unique-id-contract violation — so fail
    # loudly here too: any + row for a carried doc_id beyond the
    # carried row itself (a distinct row, or a duplicate copy of the
    # carried one) trips it. exceptAll is bag semantics: it removes
    # exactly one instance per carried row, leaving the violators.
    # Runs over the SAME narrow projections as the intersect, so the
    # count is identical row-for-row to the old full-row form under
    # the hash-equality argument above.
    n_mixed = (
        plus_n.join(
            carried.select("doc_id").distinct(), "doc_id"
        )
        .exceptAll(carried)
        .count()
    )
    if n_mixed:
        raise ValueError(
            f"corpus delta carries {n_mixed} extra + row(s) for "
            "doc_id(s) that the same window also carries unchanged "
            "(copy-on-write survivors) — the corpus now holds "
            "duplicate live rows under one doc_id, which voids the "
            "funnel's unique-id contract; rewrite documents via "
            "delete_where+append (or replace), don't append next to "
            "a carried survivor"
        )
    plus = plus_raw.join(carried.select("doc_id"), "doc_id", "left_anti")
    # corpus-contract guard: a + row with NO matching − for a doc a
    # COMPLETED refresh already scored alive means the append-only
    # corpus now holds TWO live rows under one doc_id — the funnel's
    # unique-id contract is violated and its behavior (gram double
    # counting) is undefined, so bit-identity would break SILENTLY.
    # Fail loudly instead. Exemptions by construction: a legitimate
    # rewrite/update emits -old +new (has a −); a re-add after
    # takedown hits a DEAD stats row; and a crashed-refresh retry's
    # re-delivered docs carry stats rows only at __v > cursor (their
    # txn never advanced the cursor), so only genuinely duplicate
    # appends trip this.
    if stats.current_version() is not None:
        from pyspark.sql.window import Window as _WG

        prior_live = (
            stats.read()
            .where(F.col("__v") <= F.lit(int(cursor)))
            .withColumn(
                "__rn",
                F.row_number().over(
                    _WG.partitionBy("doc_id").orderBy(
                        F.col("__v").desc()
                    )
                ),
            )
            .where("__rn = 1")
            .where(~F.col("__dead"))
            .select("doc_id")
        )
        n_dup = (
            plus_raw.select("doc_id")
            .distinct()
            .join(
                minus_raw.select("doc_id").distinct(),
                "doc_id",
                "left_anti",
            )
            .join(prior_live, "doc_id")
            .count()
        )
        if n_dup:
            raise ValueError(
                f"corpus appended {n_dup} doc_id(s) that earlier "
                "commits already hold live rows for (no retraction in "
                "between) — the corpus now contains duplicate doc_ids,"
                " which voids the funnel's unique-id contract; rewrite"
                " documents via delete_where+append (or replace), "
                "don't re-append their ids"
            )
    if prepare is not None:
        plus = prepare(plus)
    scorer = with_quality_score if scorer is None else scorer
    # pin: consumed by the stats append, the grams append, and the
    # minus anti-join below — fully consumed in-call, so persist (the
    # releasable choice; an evicted partition recomputes from the
    # delta read deterministically)
    scored = (
        scorer(plus)
        .select(
            "doc_id",
            "lang",
            "text",
            exact_fingerprint().alias("fingerprint"),
            "quality_score",
            "is_kept",
        )
        .persist()
    )
    try:
        # retractions: minus docs NOT present on the + side of the
        # same range (a rewrite emits -old +new; the + row — scored
        # or carried — is the doc's truth)
        minus = (
            minus_raw.select("doc_id")
            .distinct()
            .join(plus_raw.select("doc_id"), "doc_id", "left_anti")
        )
        new_stats = scored.select(
            "doc_id",
            "lang",
            "fingerprint",
            "quality_score",
            "is_kept",
            F.lit(False).alias("__dead"),
            F.lit(int(cur)).cast("long").alias("__v"),
        ).unionByName(
            minus.select(
                "doc_id",
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("string").alias("fingerprint"),
                F.lit(None).cast("double").alias("quality_score"),
                F.lit(False).alias("is_kept"),
                F.lit(True).alias("__dead"),
                F.lit(int(cur)).cast("long").alias("__v"),
            )
        )
        n_scored = stats_appended = None
        # rebalance before the state-log appends (r15, guide §6): the
        # un-hinted append wrote ONE FILE PER UPSTREAM PARTITION — 32
        # files per commit for a few thousand NARROW rows (the scoring
        # cache's partition count leaks into the write; AQE's
        # parallelismFirst coalescing never merges below core count).
        # Every later ranking read then lists/schedules ticks×32 tiny
        # files and the manifest stats walk pays 32 footer reads per
        # commit. The rebalance is an AQE advisory-sized shuffle of
        # ids+fingerprints (~1% of the delta's text bytes — this is
        # exactly the r14 partitioned-write fix applied to the state
        # logs); the blanket _write_commit_dir rebalance stays
        # reverted because CORPUS commits carry text (measured
        # regression, r14).
        stats_appended = stats.append(new_stats.hint("rebalance"), txn=txn)
        new_grams = (
            _gram_features(
                scored.where("is_kept").select("doc_id", "lang", "text")
            )
            .groupBy("doc_id", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("__v", F.lit(int(cur)).cast("long"))
        )
        grams.append(new_grams.hint("rebalance"), txn=txn)
        n_scored = scored.count()
    finally:
        scored.unpersist()

    # ---- rank the COMMITTED state (identical on any retry path) ----
    from pyspark.sql.window import Window as _W

    live = (
        stats.read()
        .withColumn(
            "__rn",
            F.row_number().over(
                _W.partitionBy("doc_id").orderBy(F.col("__v").desc())
            ),
        )
        .where("__rn = 1")
        .drop("__rn")
        .where(~F.col("__dead") & F.col("is_kept"))
    )
    surv = (
        live.withColumn(
            "__rn",
            F.row_number().over(
                _W.partitionBy("fingerprint").orderBy("doc_id")
            ),
        )
        .where("__rn = 1")
        .select("doc_id", "lang", "quality_score", "__v")
        # pin: consumed by the grams join AND the final quality join —
        # both INSIDE this call, so persist (releasable), not
        # localCheckpoint (the checkpoint-vs-persist rule: checkpointed
        # frames are invisible to the cache manager and can never be
        # freed; lineage here never outlives the call)
        .persist()
    )
    sgrams = grams.read().join(
        surv.select("doc_id", "lang", "__v"), ["doc_id", "__v"]
    )
    model = (
        sgrams.groupBy("b")
        .agg(
            F.sum("c").alias("c_r"),
            F.sum(F.when(F.col("lang") == "en", F.col("c"))).alias("c_t"),
        )
        # small (≤ _DSIR_BUCKETS rows); pinned for the totals fold —
        # the _dsir_rank discipline, releasable like surv
        .persist()
    )
    ratio = _dsir_ratio(model)
    # exact-decimal weighted sum: c × decimal(w) summed over a doc's
    # buckets equals the batch funnel's instance-wise decimal sum
    # exactly (decimal × integer is exact; 9+28+1 = 38 keeps Spark on
    # the lossless multiply path, and both sums land on decimal(38,10)
    # before the identical (38,4) → double result cast)
    w_dec = F.col("w").cast("decimal(28,10)")
    c_dec = F.col("c").cast("decimal(9,0)")
    rank = (
        sgrams.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            # coalesce-with-literal pins nullable=false, matching the
            # batch funnel's count(1); the sum is never null (every
            # group has rows), so the value is untouched
            F.coalesce(F.sum("c"), F.lit(0)).alias("n_feats"),
            F.sum(c_dec * w_dec).cast(OUT).cast("double").alias("log_weight"),
        )
    )
    out = (
        rank.join(surv.select("doc_id", "lang", "quality_score"), "doc_id")
        .select(
            "doc_id", "lang", "quality_score", "n_feats", "log_weight"
        )
        .orderBy(F.desc("log_weight"), "doc_id")
        .limit(_FUNNEL_TOPK if topk is None else topk)
    )
    try:
        version = selection.replace(out, txn=txn)
    finally:
        surv.unpersist()
        model.unpersist()
    compacted = False
    if compact_every:
        # versions since the last fold (a replace commit), walk capped
        # at compact_every manifest reads — driver-side, tiny
        sv = stats.current_version()
        since = 0
        while since < compact_every and sv - since >= 0:
            if stats._manifest(sv - since)["op"] == "replace":
                break
            since += 1
        if since >= compact_every:
            curation_state_compact(
                stats, grams, txn=f"{txn_prefix}-compact-{cur}"
            )
            # retention follows the fold (r11): the compaction above
            # replaces the logs' CURRENT version with live rows, but
            # SnapshotTable keeps superseded versions on disk for time
            # travel — which these internal state logs never use
            # beyond the rolling txn map (carried in EVERY manifest,
            # so replay no-ops survive the prune). Sweep history down
            # to the newest few versions; the 600 s age guard keeps
            # any in-flight writer safe, answers are untouched (the
            # tick reads only the current version), and a crash here
            # just defers the sweep to the next housekeeping pass.
            stats.vacuum(keep_versions=4)
            grams.vacuum(keep_versions=4)
            compacted = True
    return {
        "version": version,  # None => replayed txn, no new commit
        "fired": True,
        "cursor_from": cursor,
        "cursor_to": cur,
        "docs_scored": n_scored,
        "stats_replayed": stats_appended is None,
        "state_compacted": compacted,
        "selected": selection.read().count(),
        "corpus_files": corpus_files,
    }


def curation_state_compact(stats, grams, txn: str) -> dict:
    """Fold the delta refresh's append-only state logs down to live
    rows: ``stats`` keeps each document's highest-``__v`` row and
    drops tombstoned documents; ``grams`` keeps exactly the rows
    whose (doc_id, __v) matches a surviving stats row. Pure space
    reclamation — every read in
    :func:`curation_refresh_delta_tick` already masks superseded and
    dead rows, so answers are identical before and after; both
    replaces share ``txn`` so a crashed compaction retries to the
    same end state (a crash between the two replaces leaves answers
    correct, only the second log's space unreclaimed until retry)."""
    from pyspark.sql.window import Window as _W

    live = (
        stats.read()
        .withColumn(
            "__rn",
            F.row_number().over(
                _W.partitionBy("doc_id").orderBy(F.col("__v").desc())
            ),
        )
        .where("__rn = 1")
        .drop("__rn")
        .where(~F.col("__dead"))
        .localCheckpoint()  # lineage crosses the stats replace below
    )
    sv = stats.replace(live, txn=txn)
    gv = grams.replace(
        grams.read().join(
            live.select("doc_id", "__v"), ["doc_id", "__v"], "left_semi"
        ),
        txn=txn,
    )
    return {"stats_version": sv, "grams_version": gv}


def vector_index_tick(
    spark: SparkSession,
    drop_dir: str,
    state,  # streaming.snapshot_diff.SnapshotState
    index,  # operators.ann_index.IVFVectorIndex
    exts: tuple[str, ...] = (".parquet",),
    state_key: str = "vectors",
    delete_dir: str | None = None,
    compact_budget: int | str | None = "auto",
    recall_target: float | None = None,
    rebucket_stage_rows: int | None = None,
) -> dict:
    """Continuous ANN-index maintenance over a vector drop directory —
    the fourth member of the index family joins the ingest loop
    (MinHashIndex and WindowHashIndex ride the WARC tick, the
    InvertedTextIndex its txn-guarded read-back; this tick does the
    embeddings). Each fire appends the new/modified parquet drops'
    vectors to the persisted IVF index (map-only assignment,
    partitioned append into ``cid=`` lists) and compacts fat lists.

    Exactly-once ANSWERS without txn machinery: a crashed-tick replay
    or a state-loss full reprocess re-appends bit-identical rows —
    each file's rows are stamped with the file's mtime_ns as their
    version ordinal, which a replay reproduces exactly — and the
    probe's per-candidate fold tolerates the duplicates until the
    next compaction physically removes them. There is no corpus-stats
    row to drift (contrast ``InvertedTextIndex``, whose N/avgdl
    needed the txn guard). Offsets commit only after the append
    lands, so a crash mid-tick re-arms the same drops.

    MODIFIED drops are genuine updates, not replays: they append with
    ``supersede=True`` so the index's ``latest/`` roster masks every
    earlier version of those ids from probes and compaction reclaims
    the stale rows (r8 ADVICE fix — previously the probe scored an
    updated id against both its old and new vectors and served
    whichever scored higher). The file's mtime_ns is the version
    order, so a later re-modification always outranks — and a
    REGRESSED ordinal (clock skew, mtime-preserving copy) now fails
    the append loudly instead of silently masking the update
    (``IVFVectorIndex.append``'s roster guard, r8 ADVICE). Removing
    ids by omitting them from a modified file is not supported (drops
    are add/update only).

    Growth maintenance (r9): after compaction the tick also calls
    ``index.maybe_rebucket()`` — a store built small that grows past
    ``IVF_AUTO_MIN_N`` across ticks retrains its quantizer k ∝ N and
    re-buckets crash-safely, so list sizes (and probe cost) stay
    bounded instead of fattening ∝ N/k forever (VERDICT r8 #2). The
    tick's index handle serves the new quantizer immediately;
    later processes reopen via ``IVFVectorIndex.open``.

    Deletion drop-lists (r9): ``delete_dir`` watches a SECOND
    directory whose parquet files carry ids to REMOVE (the index's id
    column) — the takedown/right-to-erasure flow a training-data
    pipeline owes its sources. Each list's mtime_ns is its tombstone
    ordinal, so the whole replay discipline carries over: a
    crashed-tick retry re-derives the identical tombstones and
    no-ops (even when a later re-add has legitimately out-ranked
    them — ``delete``'s replay-aware guard), a regenerated list
    carries a higher ordinal, and ordering between adds and deletes
    is decided by ORDINALS, not processing order. Removal is
    O(deleted ids) at tick time; compaction reclaims rows."""
    import os as _os

    diff, snapshot = state.peek(state_key, drop_dir, exts)
    changed = tuple(sorted((*diff.new, *diff.modified)))
    del_files: tuple = ()
    dsnap = None
    if delete_dir is not None:
        ddiff, dsnap = state.peek(
            state_key + ":deletes", delete_dir, exts
        )
        del_files = tuple(sorted((*ddiff.new, *ddiff.modified)))
    if not changed and not del_files:
        # an IN-FLIGHT staged rebucket still advances on a no-op tick
        # (r14): the multi-tick protocol must not stall when the drop
        # stream drains — otherwise probes would serve the pre-growth
        # layout indefinitely on a quiet store. Ordinary maintenance
        # keeps the historical no-op contract (do nothing).
        from ..operators.ann_index import _STAGE_MANIFEST

        if rebucket_stage_rows is not None and _os.path.exists(
            _os.path.join(index.path, _STAGE_MANIFEST)
        ):
            rebucketed = index.maybe_rebucket(
                stage_rows=rebucket_stage_rows,
                recall_target=recall_target,
            )
            serving = (
                getattr(index, "staged_serving", None)
                if rebucketed
                else None
            )
            return {
                "fired": False,
                "files": (),
                "vectors": 0,
                "deleted": 0,
                "rebucketed": rebucketed,
                "rebucket_phase": getattr(
                    index, "rebucket_phase", None
                ),
                "compacted": 0,
                "serving": serving,
            }
        return {"fired": False, "files": (), "vectors": 0, "deleted": 0}
    modified = set(diff.modified)
    # Adds and deletes APPLY in ascending ordinal (mtime_ns) order
    # across BOTH directories (r9 ADVICE, medium): processing all
    # adds then all deletes let a same-tick supersede out-rank an
    # OLDER takedown list mid-tick, tripping ``delete``'s guards and
    # aborting before ``state.commit`` — and every retry re-ran the
    # same order, a permanent wedge that also re-appended duplicate
    # supersede rows. The same hazard held among add files alone:
    # filename sort could oppose mtime order for two files
    # superseding one id. Ordinal-sorted application makes the
    # docstring's claim ("ordering is decided by ordinals, not
    # processing order") true by construction. Ties: adds before
    # deletes — the roster fold already breaks an equal-ordinal tie
    # toward the tombstone, and applying the add first keeps
    # ``append``'s equal-ordinal tombstone guard replay-exempt.
    work = [("add", name, snapshot[name]) for name in changed]
    if dsnap is not None:
        work += [("del", name, dsnap[name]) for name in del_files]
    work.sort(key=lambda t: (t[2], t[0] != "add", t[1]))
    n = 0
    n_del = 0
    for kind, name, ordinal in work:  # driver-bounded: files-per-tick
        if kind == "add":
            vecs = spark.read.parquet(_os.path.join(drop_dir, name))
            n += vecs.count()
            index.append(
                vecs, ordinal=ordinal, supersede=name in modified
            )
        else:
            ids = spark.read.parquet(_os.path.join(delete_dir, name))
            n_del += ids.count()
            index.delete(ids, ordinal=ordinal)
    # budgeted: a uniform drop fattens ~every cid= list at once, so
    # an unbounded pass is a periodic whole-store rewrite stalling
    # the loop (~122 s bursts in the r12 21-tick table vs ~10 s
    # steady). Fattest-first keeps per-tick maintenance ≤ budget
    # rewrites; deferred lists rise to the top next tick (r13,
    # VERDICT r12 #2).
    compacted = index.maybe_compact(budget=compact_budget)
    # rebucket_stage_rows bounds the GROWTH event the same way
    # compact_budget bounds folds (r14, VERDICT r13 #3): instead of
    # one whole-store retrain+rewrite tick, the rebucket advances one
    # budgeted phase per tick (plan → n stages → swap) and probes
    # serve the old layout until the final atomic swap — rebucketed
    # goes True only on the swap tick, so the reselect_serving hook
    # below still fires exactly once per completed rebucket.
    # recall_target only forwards in STAGED mode (the plan tick runs
    # the sweep once and the receipt installs at the swap); in
    # one-shot mode the post-hoc reselect_serving below is the single
    # sweep — forwarding would run the identical ladder twice per
    # growth tick (r14 review finding)
    rebucketed = index.maybe_rebucket(
        stage_rows=rebucket_stage_rows,
        recall_target=(
            recall_target if rebucket_stage_rows is not None else None
        ),
    )
    # serving-config refresh (r13, VERDICT r12 #3): a rebucket changes
    # list geometry, so a hint chosen for the OLD quantizer silently
    # drifts recall (0.656 at the end of the r12 21-tick walk while
    # n_probe stayed at its build-time value). Re-run the held-out
    # sweep against the new quantizer and persist the measured widths
    # as the store's serving hint — rebuckets are rare growth events,
    # so the sweep cost amortizes; cadence callers can also invoke
    # index.reselect_serving directly.
    serving = None
    if rebucketed and recall_target is not None:
        # staged protocol (r14): the sweep already ran at PLAN time
        # (it depends only on quantizer + live rows, never the file
        # layout) and its measured receipt traveled in the manifest —
        # installing the hints at the swap costs nothing. One-shot
        # rebuckets keep the post-hoc reselect.
        staged = getattr(index, "staged_serving", None)
        if rebucket_stage_rows is not None and staged is not None:
            serving = staged
        else:
            serving = index.reselect_serving(recall_target)
    state.commit(state_key, snapshot)
    if dsnap is not None:
        state.commit(state_key + ":deletes", dsnap)
    state.save()
    return {
        "fired": True,
        "files": changed,
        "vectors": n,
        "deleted": n_del,
        "delete_files": del_files,
        "rebucketed": rebucketed,
        "rebucket_phase": getattr(index, "rebucket_phase", None),
        "compacted": compacted,
        "serving": serving,
    }
