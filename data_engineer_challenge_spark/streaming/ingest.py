"""Exactly-once ingest ticks (SURVEY.md §2.7).

- ``ingest_stream_snapshot_merge``: the foreachBatch + MERGE pattern
  into a SnapshotTable (``events_stream_upsert``). Structured
  Streaming's checkpoint gives at-least-once batch delivery; the keyed,
  txn-guarded MERGE makes the sink idempotent, so replays after failure
  produce no duplicates.
- ``ingest_batch_passage_dedup``: one passage-deduped warehouse ingest
  (the WARC loop, ``streaming/warc_ingest.py``).
- ``curation_refresh_delta_tick`` / ``curation_state_compact``: the
  delta-aware curation refresh and its state-log housekeeping.
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
    """Exactly-once KEYED upsert ingest into a SnapshotTable. Each
    micro-batch dedupes in-batch keys deterministically, then MERGEs
    under txn ``{txn_prefix}-{batch_id}``:

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
    re-selects the training mix (``plans/text.curation_funnel`` over
    the corpus, committed with ``selection.replace``), but pays the
    expensive per-document work — quality scoring, tokenization, gram
    hashing — only for documents the corpus
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
    commits atomically with the output. If the corpus advanced
    again before a crashed refresh retried, the retry's wider delta
    re-scores the earlier documents under the newer version — the
    (doc_id, __v) join then serves exactly the newest rows.

    ``prepare`` adapts the delta rows before scoring (e.g. deriving
    ``lang`` for a crawl table) and therefore MUST be a deterministic
    per-row transform — it sees only changed documents, so any
    cross-document logic would diverge from the batch funnel.
    ``scorer``/``topk`` forward to the funnel.

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


