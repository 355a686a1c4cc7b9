"""search_serving: single-query probes beside writes on persisted indexes.

An ``InvertedTextIndex``, a ``MinHashIndex`` and a PQ-coded
``IVFVectorIndex`` are built once over a seeded corpus. One client
then sends a seeded mix of in-process ``probe_local`` calls (BM25
terms, near-duplicate texts, vectors); every ``WRITE_EVERY`` probes it
appends a small document/vector batch to all three stores through
Spark. A write changes each store's fingerprint, so the next probe of
each index reloads its resident cache.
"""

from __future__ import annotations

import gc
import random
import time

import numpy as np

from perfbench import gen
from perfbench.trace import per_op_kind

N_DOCS = 5_000
WRITE_DOCS = 20
# each window of WRITE_EVERY probes holds exactly this many of each
# kind, in seeded order, so every run sees the same mix
PROBE_MIX = (("text", 12), ("dedup", 9), ("vector", 9))
# probes per write: the first probe of each of the three indexes after
# a write reloads, so ~1 probe in 10 is such a probe
WRITE_EVERY = sum(n for _, n in PROBE_MIX)
NEAR_DUP_QUERY_EDIT = 0.03
PARITY_SAMPLES = 1  # per index: probe_local answers re-asked of Spark
K, N_PROBE, SHORTLIST = 10, 2, 60

INDEXES = {"text": "operators.text_index", "dedup": "operators.dedup_index", "vector": "operators.ann_index"}

PER_LAYER = {"spark.jobs_per_write": "count"}
for _layer in INDEXES.values():
    PER_LAYER[f"{_layer}.probe_local_ms"] = "ms"
    PER_LAYER[f"{_layer}.first_probe_after_write_ms"] = "ms"
    PER_LAYER[f"{_layer}.append_s"] = "s"


class Stores:
    """The three Spark-side index handles plus their local serving
    handles."""

    def __init__(self, spark, work, docs, vecs):
        from data_engineer_challenge_spark.operators.ann_index import IVFVectorIndex
        from data_engineer_challenge_spark.operators.dedup_index import MinHashIndex
        from data_engineer_challenge_spark.operators.text_index import InvertedTextIndex
        from data_engineer_challenge_spark.plans.ivf_centroids import CENTROIDS
        from data_engineer_challenge_spark.plans.pq_codebooks import CODEBOOKS

        self.spark = spark
        self.text = InvertedTextIndex(spark, str(work / "text_index"))
        self.dedup = MinHashIndex(spark, str(work / "dedup_index"))
        self.vector = IVFVectorIndex(spark, str(work / "ann_index"), CENTROIDS, pq_codebooks=CODEBOOKS)
        self.text.build(docs)
        self.dedup.build(docs)
        self.vector.build(vecs)
        self.local = {
            "text": InvertedTextIndex.open_local(self.text.path),
            "dedup": MinHashIndex.open_local(self.dedup.path),
            "vector": IVFVectorIndex.open_local(self.vector.path),
        }

    def probe(self, kind: str, query):
        local = self.local[kind]
        if kind == "text":
            return local.probe_local(query, topk=K)
        if kind == "dedup":
            return local.probe_local(query)
        return local.probe_local(query, k=K, n_probe=N_PROBE, shortlist=SHORTLIST)

    def spark_probe(self, kind: str, query):
        """The same question through the Spark batch path."""
        from data_engineer_challenge_spark.localrel import local_rows_df

        if kind == "text":
            rows = self.text.probe(query, topk=K).orderBy("rank").collect()
            return [(r["doc_id"], r["score"], r["rank"]) for r in rows]
        if kind == "dedup":
            one = local_rows_df(self.spark, [(-1, query)], "doc_id long, text string")
            rows = self.dedup.probe(one).collect()
            self.dedup.release()
            return {(r["dup_of"], r["jaccard"]) for r in rows}
        q = local_rows_df(self.spark, [(0, query)], "q_id long, embedding array<float>")
        rows = self.vector.probe_adc(q, k=K, n_probe=N_PROBE, shortlist=SHORTLIST).orderBy("rank").collect()
        return [(r["c_id"], r["cos_sim"], r["rank"]) for r in rows]

    def write(self, tracer, n: int, docs, vecs) -> None:
        with tracer.span("operators.text_index.append"):
            self.text.append(docs, txn=f"write-{n}")
        with tracer.span("operators.dedup_index.append"):
            self.dedup.append(docs)
        with tracer.span("operators.ann_index.append"):
            self.vector.append(vecs, ordinal=n)


def run(ctx):
    from data_engineer_challenge_spark.localrel import local_rows_df
    from data_engineer_challenge_spark.plans.ivf_centroids import CENTROIDS

    from perfbench.run import Result

    spark, tracer = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    vocab = gen.vocabulary()
    corpus = gen.make_corpus(rng, N_DOCS)
    texts = corpus.texts()
    vectors = gen.make_vectors(rng, sorted(texts), CENTROIDS)
    docs_schema, vec_schema = "doc_id long, text string", "vec_id long, embedding array<float>"

    def frames(ids):
        return (local_rows_df(spark, [(i, texts[i]) for i in ids], docs_schema),
                local_rows_df(spark, [(i, vectors[i].tolist()) for i in ids], vec_schema))

    t = time.perf_counter()
    stores = Stores(spark, ctx.work, *frames(sorted(texts)))
    setup_s = ctx.session_s + time.perf_counter() - t

    kinds = [k for k, _ in PROBE_MIX]
    window = [k for k, n in PROBE_MIX for _ in range(n)]
    next_id = N_DOCS + 1
    n_writes = 0

    def make_query(kind):
        """(query, id of the indexed doc a near-dup query was made from)."""
        target = rng.randrange(1, next_id)
        if kind == "text":
            words = texts[target].lower().split()
            return tuple(sorted(set(rng.sample(words, 3)), key=words.index)), None
        if kind == "dedup":
            return gen.perturb(rng, texts[target], NEAR_DUP_QUERY_EDIT, vocab), target
        # float32 values, as the stored and Spark-side vectors are
        noise = np.asarray([rng.gauss(0.0, 0.05) for _ in range(len(vectors[target]))])
        return (vectors[target] + noise).astype(np.float32).tolist(), None

    def do_write():
        nonlocal next_id, n_writes
        n_writes += 1
        new = gen.make_corpus(rng, WRITE_DOCS, first_id=next_id)
        texts.update(new.texts())
        vectors.update(gen.make_vectors(rng, sorted(new.texts()), CENTROIDS))
        ids = sorted(new.texts())
        next_id += WRITE_DOCS
        t = time.perf_counter()
        with tracer.op(n_writes, "write"):
            stores.write(tracer, n_writes, *frames(ids))
        return time.perf_counter() - t

    # each probe: (kind, latency s, first after a write?)
    probes: list[tuple[str, float, bool]] = []
    untraced_probes: list[float] = []
    writes: list[float] = []
    untraced_writes: list[float] = []
    dirty = dict.fromkeys(kinds, False)
    attempted = failed = 0
    missed_near_dups = 0

    def do_probe(op_id, kind, record):
        nonlocal attempted, failed, missed_near_dups
        query, source = make_query(kind)
        t = time.perf_counter()
        try:
            with tracer.op(op_id, kind, jobs=False):
                with tracer.span(f"{INDEXES[kind]}.probe_local", jobs=False):
                    ans = stores.probe(kind, query)
            ok = True
        except Exception as exc:  # a failed probe is a failed op
            print(f"search_serving: probe failed: {exc!r}")
            ok, ans = False, []
        dt = time.perf_counter() - t
        if ok and source is not None and source not in {d for d, _ in ans}:
            missed_near_dups += 1
            ok = False
        first, dirty[kind] = dirty[kind], False
        if record:
            attempted += 1
            failed += not ok
            if ctx.trace and not tracer.enabled:
                untraced_probes.append(dt)
            else:
                probes.append((kind, dt, first))
        return dt

    # warm-up, discarded: probe windows on the fresh stores and around
    # one write (the first append of a JVM runs far slower than the rest)
    for warm in range(2):
        rng.shuffle(window)
        for kind in window:
            do_probe(-1, kind, record=False)
        if not warm:
            do_write()
            dirty = dict.fromkeys(kinds, True)
    # the harness's own objects are long-lived: keep the collector from
    # rescanning them inside measured probes
    gc.collect()
    gc.freeze()

    start = time.perf_counter()
    op_id = 0
    # past the deadline only until a write was measured (a traced run:
    # traced) and the probe window after it is complete
    while time.perf_counter() - start < ctx.seconds or not writes or op_id % (WRITE_EVERY + 1) != WRITE_EVERY:
        tracer.enabled = ctx.trace and time.perf_counter() - start >= ctx.seconds / 2
        if op_id % (WRITE_EVERY + 1) == WRITE_EVERY:
            try:
                dt = do_write()
                ok = True
            except Exception as exc:  # a failed write is a failed op
                print(f"search_serving: write failed: {exc!r}")
                dt, ok = 0.0, False
            attempted += 1
            failed += not ok
            if ok and (tracer.enabled or not ctx.trace):
                writes.append(dt)
            elif ok:
                untraced_writes.append(dt)
            dirty = dict.fromkeys(kinds, True)
        else:
            pos = op_id % (WRITE_EVERY + 1)
            if pos == 0:
                rng.shuffle(window)
            do_probe(op_id, window[pos], record=True)
        op_id += 1
    tracer.enabled = False
    busy_s = sum(dt for _, dt, _ in probes) + sum(untraced_probes) + sum(writes) + sum(untraced_writes)

    if missed_near_dups:
        print(f"search_serving: {missed_near_dups} near-dup probes missed the doc they were made from")
    fails = []
    for kind in kinds:
        for _ in range(PARITY_SAMPLES):
            query, _ = make_query(kind)
            got = stores.probe(kind, query)
            want = stores.spark_probe(kind, query)
            if (set(got) if kind == "dedup" else got) != want:
                fails.append(f"{kind} probe_local != Spark probe for {str(query)[:60]}")
    for f in fails:
        print(f"search_serving: check failed: {f}")

    res = Result(
        setup_s=setup_s,
        op_ms=[1000 * dt for _, dt, _ in probes],
        aux_ms=[1000 * dt for dt in writes],
        items_per_s=(len(probes) + len(untraced_probes) + len(writes) + len(untraced_writes)) / busy_s,
        attempted=attempted + len(fails),
        failed=failed + len(fails),
        correct=not fails and failed == 0,
        untraced_op_ms=[1000 * dt for dt in untraced_probes],
    )
    if ctx.trace:
        from statistics import median

        for kind, layer in INDEXES.items():
            warm = [dt for k, dt, first in probes if k == kind and not first]
            cold = [dt for k, dt, first in probes if k == kind and first]
            res.layers[f"{layer}.probe_local_ms"] = 1000 * median(warm) if warm else 0.0
            res.layers[f"{layer}.first_probe_after_write_ms"] = 1000 * median(cold) if cold else 0.0
            app = tracer.durations(f"{layer}.append")
            res.layers[f"{layer}.append_s"] = median(app) if app else 0.0
        traced_writes = sum(1 for s in tracer.spans if s.name == "op.write")
        res.finish = lambda stats: {"spark.jobs_per_write": per_op_kind(stats, "write", traced_writes).jobs}
    return res
