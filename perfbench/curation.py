"""corpus_curation: the LLM-data batch path.

One pass over a seeded corpus with planted exact and near duplicates
and a language mix: ``curation_funnel`` (quality gate, exact dedup,
DSIR selection), MinHash-LSH near-duplicate pairs, and a commit of the
selection as a new ``SnapshotTable`` version. Passes repeat in a
closed loop over the same corpus.
"""

from __future__ import annotations

import dataclasses
import os
import random
import statistics
import time

from perfbench import gen, serving
from perfbench.trace import per_op_kind

N_DOCS = 8_000
WARMUP_DOCS = 1_000  # the warm-up passes run over their own smaller corpus
WARMUP_PASSES = 2
BOOTSTRAPS = 3
SELECTION_SCHEMA = "doc_id long, lang string, quality_score double, n_feats long, log_weight double"

PER_LAYER = {
    "plans.text.curation_funnel_s": "s",
    "operators.text_dedup.minhash_pairs_s": "s",
    "operators.snapshot.commit_s": "s",
    "operators.text_dedup.candidates_per_verified_pair": "ratio",
    "spark.jobs_per_pass": "count",
    "spark.task_s_per_pass": "s",
    "spark.shuffle_bytes_per_pass": "bytes",
    "spark.spill_bytes_per_pass": "bytes",
}


def _write_corpus(corpus: gen.Corpus, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*corpus.rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    pq.write_table(table, path)


def _oracle_selection(path: str) -> list[tuple]:
    """The registered DuckDB oracle of ``docs_curation_funnel`` run over
    the generated corpus."""
    import duckdb

    from data_engineer_challenge_spark.plans.text import funnel_sql

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return [tuple(r) for r in con.execute(funnel_sql("documents")).fetchall()]
    finally:
        con.close()


def _same_selection(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got), sorted(want)):
        if g[0] != w[0] or g[1] != w[1] or g[3] != w[3]:
            return False
        if any(abs(a - b) > 1e-9 * max(1.0, abs(b)) for a, b in ((g[2], w[2]), (g[4], w[4]))):
            return False
    return True


def _check_pairs(pairs: set[tuple[int, int]], corpus: gen.Corpus) -> list[str]:
    fails = []
    found = sum(1 for p in corpus.near_pairs if p in pairs)
    if found < 0.98 * len(corpus.near_pairs):
        fails.append(f"near-dup recall {found}/{len(corpus.near_pairs)} < 0.98")
    fam = corpus.family
    stray = [p for p in pairs if fam.get(p[0], p[0]) != fam.get(p[1], p[1])]
    if stray:
        fails.append(f"{len(stray)} MinHash pairs outside any planted family, e.g. {stray[:3]}")
    return fails


class CurationPass:
    """One curation pass over a corpus written to parquet: funnel,
    MinHash pairs, snapshot commit of the selection."""

    def __init__(self, ctx, corpus: gen.Corpus, path: str, table_path: str):
        """Opens the corpus written at ``path`` and a snapshot table at
        ``table_path``: the program's bootstrap."""
        from data_engineer_challenge_spark.operators.snapshot import SnapshotTable

        self.spark, self.tracer, self.corpus, self.path = ctx.spark, ctx.tracer, corpus, path
        self.docs = self.spark.read.parquet(path)
        self.table = SnapshotTable(self.spark, table_path)

    def __call__(self, i: int) -> tuple[float, float, list[tuple], set]:
        """Runs pass ``i``: (pass s, MinHash stage s, selection, pairs)."""
        from data_engineer_challenge_spark.localrel import local_rows_df
        from data_engineer_challenge_spark.operators.text_dedup import minhash_candidate_pairs, release_cached
        from data_engineer_challenge_spark.plans.text import curation_funnel

        tracer = self.tracer
        t = time.perf_counter()
        with tracer.op(i, "pass"):
            with tracer.span("plans.text.curation_funnel"):
                selection = [tuple(r) for r in curation_funnel(self.docs).collect()]
            t_mh = time.perf_counter()
            with tracer.span("operators.text_dedup.minhash_pairs"):
                pairs = {(r[0], r[1]) for r in minhash_candidate_pairs(self.docs, "doc_id", "text").collect()}
                release_cached()
            mh_s = time.perf_counter() - t_mh
            with tracer.span("operators.snapshot.commit"):
                self.table.replace(local_rows_df(self.spark, selection, SELECTION_SCHEMA), txn=f"pass-{i}")
        return time.perf_counter() - t, mh_s, selection, pairs

    def check(self, selection: list[tuple], pairs: set) -> list[str]:
        fails = []
        if not _same_selection(selection, _oracle_selection(self.path)):
            fails.append("funnel selection != DuckDB oracle")
        fails += _check_pairs(pairs, self.corpus)
        if {tuple(r) for r in self.table.read().collect()} != set(selection):
            fails.append("committed snapshot != selection")
        return fails

    def layers(self, pairs: set) -> dict[str, float]:
        """Span medians, plus LSH wasted work measured once outside the
        timed passes: every band-collision candidate is what the
        operator returns at threshold 0 (each candidate's Jaccard is
        >= 0)."""
        from data_engineer_challenge_spark.operators.text_dedup import minhash_candidate_pairs, release_cached

        def med(name):
            d = self.tracer.durations(name)
            return statistics.median(d) if d else 0.0

        n_cand = minhash_candidate_pairs(self.docs, "doc_id", "text", threshold=0.0).count()
        release_cached()
        return {
            "plans.text.curation_funnel_s": med("plans.text.curation_funnel"),
            "operators.text_dedup.minhash_pairs_s": med("operators.text_dedup.minhash_pairs"),
            "operators.snapshot.commit_s": med("operators.snapshot.commit"),
            "operators.text_dedup.candidates_per_verified_pair": n_cand / max(len(pairs), 1),
        }


def spark_layers(stats, n_passes: int) -> dict[str, float]:
    p = per_op_kind(stats, "pass", n_passes)
    return {"spark.jobs_per_pass": p.jobs, "spark.task_s_per_pass": p.task_s,
            "spark.shuffle_bytes_per_pass": p.shuffle_bytes,
            "spark.spill_bytes_per_pass": p.spill_bytes}


def run(ctx):
    from perfbench.run import Result

    tracer = ctx.tracer
    rng = random.Random(ctx.seed)
    corpus, warm_corpus = gen.make_corpus(rng, N_DOCS), gen.make_corpus(rng, WARMUP_DOCS)
    path, warm_path = str(ctx.work / "corpus.parquet"), str(ctx.work / "warmup.parquet")
    _write_corpus(corpus, path)
    _write_corpus(warm_corpus, warm_path)
    # the bootstrap runs BOOTSTRAPS times, each with a fresh snapshot
    # table; setup_s takes the median and the loop uses the last one
    boot_s = []
    for b in range(BOOTSTRAPS):
        t = time.perf_counter()
        one_pass = CurationPass(ctx, corpus, path, str(ctx.work / f"selection{b}"))
        boot_s.append(time.perf_counter() - t)
    setup_s = ctx.session_s + statistics.median(boot_s)

    # warm-up, discarded: the first pass of a JVM runs twice as long as
    # the next and the second still slower than the rest; a smaller
    # corpus compiles the same plans for less
    warm_pass = CurationPass(ctx, warm_corpus, warm_path, str(ctx.work / "warmup-selection"))
    for w in range(WARMUP_PASSES):
        warm_pass(-1 - w)
    first_sel = first_pairs = None
    pass_s, mh_s, untraced_s = [], [], []
    attempted = failed = 0
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < ctx.seconds:
        tracer.enabled = ctx.trace and time.perf_counter() - start >= ctx.seconds / 2
        try:
            dt, dmh, sel, pairs = one_pass(i)
            if first_sel is None:
                # the first measured pass is the reference the others
                # must reproduce; the checks compare it with the truth
                first_sel, first_pairs = sel, pairs
            ok = sel == first_sel and pairs == first_pairs
        except Exception as exc:  # a failed pass is a failed op
            print(f"corpus_curation: pass {i} failed: {exc!r}")
            ok = False
        attempted += 1
        failed += not ok
        if ok:
            (untraced_s if ctx.trace and not tracer.enabled else pass_s).append(dt)
            mh_s.append(dmh)
        i += 1
    traced_passes = sum(1 for s in tracer.spans if s.name == "op.pass")
    tracer.enabled = False
    if ctx.trace and traced_passes == 0:
        # a pass is longer than half a run: trace one more
        tracer.enabled = True
        dt, _, sel, pairs = one_pass(i)
        tracer.enabled = False
        attempted += 1
        failed += not (sel == first_sel and pairs == first_pairs)
        pass_s.append(dt)
        traced_passes = 1

    fails = one_pass.check(first_sel, first_pairs) if first_sel is not None else ["no pass completed"]
    for f in fails:
        print(f"corpus_curation: check failed: {f}")
    res = Result(
        setup_s=setup_s,
        op_ms=[1000 * s for s in pass_s],
        aux_ms=[1000 * s for s in mh_s],
        items_per_s=N_DOCS / statistics.median(pass_s) if pass_s else 0.0,
        attempted=attempted + len(fails),
        failed=failed + len(fails),
        correct=not fails and failed == 0,
        untraced_op_ms=[1000 * s for s in untraced_s],
    )
    if ctx.trace and first_pairs is not None:
        res.layers = one_pass.layers(first_pairs)
        # the index-serving layers are measured here too, by a traced
        # search_serving loop on its own seeded inputs (see NOTES.md)
        srv = serving.run(dataclasses.replace(ctx, work=ctx.work / "serving"))
        res.layers.update(srv.layers)
        res.attempted += srv.attempted
        res.failed += srv.failed
        res.correct = res.correct and srv.correct
        res.finish = lambda stats: {**spark_layers(stats, traced_passes), **srv.finish(stats)}
    return res
