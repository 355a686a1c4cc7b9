"""Persisted IVF vector index with partition-pruned probes — the
similarity-search counterpart of ``operators/dedup_index.MinHashIndex``.

The batch operator (``similarity.ivf_topk``) re-assigns the whole
corpus to centroids per run — right for one-shot jobs, wrong for a
serving/refresh loop where each tick must answer "nearest neighbors of
these NEW queries" without touching the historical vectors again. This
index stores the corpus ONCE, laid out for the probe pattern:

- ``postings/cid=<centroid>/`` — each vector's row written under its
  nearest-centroid partition (Spark ``partitionBy``), so an inverted
  list IS a partition directory.
- ``meta/`` — the frozen coarse quantizer's fingerprint + layout
  parameters, validated on reopen: probing with a different centroid
  set would silently read the wrong inverted lists (same guard as
  MinHashIndex's banding parameters).

``probe(queries)`` selects each query's ``n_probe`` nearest centroids
against the broadcast centroid table, collects the union of touched
centroid ids (bounded by ``len(centroids)`` — same driver-bounded
shape as the warehouse's touched-bucket lists), and reads ONLY those
``cid=`` partitions (non-empty ``PartitionFilters``, plan-pinned).
The index side is never shuffled; only the probed lists' candidate
rows flow into the per-query top-k window.

At 100 TB: the quantizer is trained offline on a sample and shipped as
a constant (plans/ivf_centroids.py posture); index build is a map-only
assignment + partitioned write; a probe touches ``n_probe/k`` of the
data in the best case and never more than the probed partitions.

Reference scope: the reference engine has no vector surface at all
(SURVEY §2.10 — driven by BASELINE.json's "similarity search").

Concurrency contract: single writer per index root, enforced — every
mutation (build/append/maybe_compact) holds the advisory
``compaction.writer_lock`` flock for the call, so a second writer
process fails fast instead of racing the parked-previous swap; probe
frames must be created after the last compaction (same-process
sequential use, the ingest loops' topology).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import similarity as _sim
from ..localrel import local_rows_df
from .compaction import locked_writer, probe_local_retry, writer_lock
from .similarity import _require_long_ids, cosine, nearest_centroid


#: scale-aware quantizer defaults (the SemDeDup ARROW_ASSIGN_MIN_K
#: posture — an auto-switch with the frozen small-corpus shape
#: preserved below the threshold, so the sf0.01/sf0.1 oracle rows
#: never change):
#:
#: - below IVF_AUTO_MIN_N vectors the caller's (frozen, sample-trained)
#:   quantizer is the right shape — retraining k≈16 centroids on a
#:   2,000-row corpus buys nothing and would break oracle replay.
#: - past it, k ∝ N with a TARGET LIST SIZE: k = ceil(N / 256) keeps
#:   every inverted list ~constant-sized, so per-query probe work is
#:   O(n_probe · 256) regardless of corpus scale — the property the
#:   frozen-k config loses (its lists grow with N, which is exactly
#:   SCALE.md's measured 12x wall at 30x).
#: - n_probe from the probed-fraction rule: cover ~10% of the lists
#:   (the measured sweep's knee — recall >= 0.95 on corpora with
#:   cluster structure, 0.59 FLOOR on the deliberately structureless
#:   synthetic rotations; production tunes this against a measured
#:   recall target exactly like SCALE.md's sweep does).
IVF_AUTO_MIN_N = 50_000
IVF_TARGET_LIST_SIZE = 256
IVF_PROBE_LIST_FRACTION = 0.1

#: maybe_rebucket trigger: retrain when the mean list has fattened past
#: this multiple of the target size (the store was built/last-bucketed
#: for a smaller corpus and has since grown via append)
IVF_REBUCKET_GROWTH = 2.0


#: staged-rebucket layout (r14, VERDICT r13 #3): the growth event's
#: whole-store rewrite spreads across budgeted ticks instead of one
#: ~130 s stall. `.rebucket/manifest.json` carries the protocol
#: state; `.rebucket-postings/` accumulates the new layout. Both are
#: deliberately OUTSIDE the compaction family's `.compact-*` /
#: `.old-*` namespaces so generic `heal` never sweeps an in-flight
#: staging between ticks (heal drops stray `.compact-*` on every
#: open; the staging dir must survive arbitrarily many opens).
_STAGE_DIR = ".rebucket-postings"
_STAGE_MANIFEST = os.path.join(".rebucket", "manifest.json")
#: slice selector seed — pmod(xxhash64(seed, id), n_stages) picks
#: each staging tick's rows; any fixed value works (slices only need
#: to be deterministic and exhaustive)
_STAGE_SLICE_SEED = 1413


def _resolve_staged_rebucket(path: str) -> None:
    """Reconcile a STAGED rebucket's cross-tick state at open (r14).
    The staged protocol (:meth:`IVFVectorIndex.maybe_rebucket` with
    ``stage_rows``) is resumable by design — an in-flight manifest +
    staging dir must SURVIVE opens so later ticks continue the
    rewrite. Only two terminal states need repair here:

    - manifest present and the committed meta already carries the
      manifest's quantizer md5: the swap committed and only the
      cleanup crashed — drop manifest + any staging leftover;
    - staging dir present with NO manifest: unreferenced debris from
      a crashed cleanup — drop it.

    Every mid-protocol crash (half-written stage slice, swap windows)
    is covered without action: an unadvanced manifest replays its
    stage — duplicate rows are bit-identical and fold away exactly
    like replayed appends — and the swap itself reuses the one-shot
    park-and-swap whose windows :func:`_resolve_rebucket` + generic
    heal already roll forward or back."""
    man = os.path.join(path, _STAGE_MANIFEST)
    staging = os.path.join(path, _STAGE_DIR)
    if os.path.exists(man):
        with open(man) as f:
            want = json.load(f)["new_md5"]
        meta_path = os.path.join(path, "meta", "meta.json")
        got = None
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                got = json.load(f).get("centroids_md5")
        if got == want:
            shutil.rmtree(os.path.dirname(man), ignore_errors=True)
            shutil.rmtree(staging, ignore_errors=True)
    elif os.path.isdir(staging):
        shutil.rmtree(staging, ignore_errors=True)


def _resolve_rebucket(path: str) -> None:
    """Roll an in-flight :meth:`IVFVectorIndex.maybe_rebucket` forward
    or back. The rebucket swap has ONE window the generic compaction
    ``heal`` cannot see: postings renamed to the new layout but the
    meta commit (``meta.json.new`` → ``meta.json``) not yet landed —
    probing old-quantizer centroids against new-layout lists would
    read the wrong inverted lists. The new postings dir carries its
    quantizer's md5 in a ``.quantizer_md5`` dotfile, so on open we can
    tell WHICH layout is live: if it matches the staged meta, commit
    the meta (roll forward); otherwise drop the staged meta (roll
    back — generic heal then restores the parked previous postings if
    the swap itself crashed mid-rename)."""
    staged = os.path.join(path, "meta", "meta.json.new")
    if not os.path.exists(staged):
        return
    with open(staged) as f:
        want = json.load(f)["centroids_md5"]
    marker = os.path.join(path, "postings", ".quantizer_md5")
    got = None
    if os.path.exists(marker):
        with open(marker) as f:
            got = f.read().strip()
    if got == want:
        os.replace(staged, os.path.join(path, "meta", "meta.json"))
    else:
        os.remove(staged)


class IVFVectorIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: list[list[float]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        pq_codebooks: list[list[list[float]]] | None = None,
        pq_residual: bool = False,
        opq_rotation: list[list[float]] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.centroids = [[float(v) for v in c] for c in centroids]
        self.id_col = id_col
        self.vec_col = vec_col
        #: optional product-quantization codebooks (operators/pq.py):
        #: postings then ALSO carry m small code columns, and
        #: :meth:`probe_adc` serves the IVF-PQ shape — the ADC stage's
        #: scan projects ONLY the codes (parquet column pruning, the
        #: Spark-native form of FAISS's compressed lists), full vectors
        #: load for the shortlist's rescore rows alone. Part of the
        #: layout fingerprint: ADC-probing a store coded with other
        #: codebooks would score garbage.
        self.pq_codebooks = (
            None
            if pq_codebooks is None
            else [[[float(v) for v in cw] for cw in cb] for cb in pq_codebooks]
        )
        self.meta = {
            "k": len(self.centroids),
            "dim": len(self.centroids[0]),
            "centroids_md5": hashlib.md5(
                json.dumps(self.centroids).encode()
            ).hexdigest(),
            "id_col": id_col,
            "vec_col": vec_col,
        }
        #: residual coding (IVFADC, Jégou et al. §IV.B): PQ codes
        #: cover ``vec - centroid[cell]`` instead of the raw vector;
        #: probe_adc restores the dropped term exactly as ``⟨q, c⟩``
        #: per (query, probed cell). Part of the meta fingerprint —
        #: ADC over residual codes with raw LUT semantics (or vice
        #: versa) would score garbage. The key is only written when
        #: set so pre-existing raw-coded stores reopen unchanged.
        if pq_residual and pq_codebooks is None:
            raise ValueError("pq_residual requires pq_codebooks")
        self.pq_residual = bool(pq_residual)
        if self.pq_codebooks is not None:
            self.meta["pq_md5"] = hashlib.md5(
                json.dumps(self.pq_codebooks).encode()
            ).hexdigest()
            if self.pq_residual:
                self.meta["pq_residual"] = True
        #: optional OPQ pre-rotation (operators/opq.py, r14): the
        #: store holds ROTATED vectors — build/append rotate incoming
        #: rows once (Arrow map pass) and every probe rotates its
        #: queries identically, so all serving math happens in the
        #: rotated space where the PQ codebooks were trained;
        #: orthogonality preserves cosine, so answers are comparable
        #: with an unrotated store over the same data. Part of the
        #: meta fingerprint — probing a rotated store with unrotated
        #: queries (or vice versa) would score garbage. Centroids and
        #: codebooks passed alongside MUST be trained in the rotated
        #: space (maybe_rebucket retrains on stored — already rotated
        #: — rows, so maintenance stays consistent automatically).
        self.opq_rotation = (
            None
            if opq_rotation is None
            else [[float(v) for v in row] for row in opq_rotation]
        )
        if self.opq_rotation is not None:
            if len(self.opq_rotation) != self.meta["dim"]:
                raise ValueError(
                    f"opq_rotation is {len(self.opq_rotation)}x"
                    f"{len(self.opq_rotation[0])} but the quantizer "
                    f"dim is {self.meta['dim']}"
                )
            self.meta["opq_md5"] = hashlib.md5(
                json.dumps(self.opq_rotation).encode()
            ).hexdigest()
        #: suggested probe width for this quantizer (populated by
        #: maybe_rebucket / the persisted
        #: quantizer file; None for stores whose caller decides
        #: n_probe out of band)
        self.n_probe_hint: int | None = None
        #: suggested ADC shortlist width for coded stores (populated
        #: by a staged maybe_rebucket with a recall_target)
        self.adc_shortlist_hint: int | None = None
        # repair a crashed rebucket/compaction BEFORE the meta check
        # and before any probe can read a half-swapped inverted list
        from .compaction import heal

        with writer_lock(self.path, blocking=True):
            # blocking: never unpark another process's in-flight
            # compaction swap (writer_lock docstring)
            _resolve_rebucket(path)
            _resolve_staged_rebucket(path)
            heal(path)
            heal(self._postings_dir())
            meta_path = os.path.join(path, "meta", "meta.json")
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    stored = json.load(f)
                if stored != self.meta:
                    raise ValueError(
                        f"IVFVectorIndex at {path!r} was built with "
                        f"{stored}; reopening with {self.meta} would "
                        "probe the wrong inverted lists (a rebucketed "
                        "store reopens via IVFVectorIndex.open)"
                    )
            else:
                # pin parameters BEFORE any data exists (crash-mid-
                # build guard, same rationale as MinHashIndex)
                os.makedirs(os.path.dirname(meta_path), exist_ok=True)
                tmp = meta_path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(self.meta, f)
                os.replace(tmp, meta_path)
            # persist the FULL quantizer beside its fingerprint (keyed
            # by md5, immutable once written) so a rebucketed store —
            # whose retrained centroids no caller holds as constants —
            # can reopen via :meth:`open`; backfills on reopen of
            # pre-r9 stores for free (the ctor has the full values)
            qf = self._quantizer_file(self.meta["centroids_md5"])
            if not os.path.exists(qf):
                tmp = qf + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(
                        {"centroids": self.centroids, "n_probe": None}, f
                    )
                os.replace(tmp, qf)
            else:
                with open(qf) as f:
                    quant = json.load(f)
                self.n_probe_hint = quant.get("n_probe")
                self.adc_shortlist_hint = quant.get("adc_shortlist")
            # persist the PQ codebooks like the quantizer (md5-keyed,
            # immutable) so open() restores the full ADC capability
            if self.pq_codebooks is not None:
                pf = os.path.join(
                    self.path, "meta", f"pq-{self.meta['pq_md5']}.json"
                )
                if not os.path.exists(pf):
                    tmp = pf + ".tmp"
                    with open(tmp, "w") as f:
                        json.dump(self.pq_codebooks, f)
                    os.replace(tmp, pf)
            # persist the OPQ rotation the same way (md5-keyed,
            # immutable) so open()/open_local restore rotated serving
            if self.opq_rotation is not None:
                rf = os.path.join(
                    self.path,
                    "meta",
                    f"opq-{self.meta['opq_md5']}.json",
                )
                if not os.path.exists(rf):
                    tmp = rf + ".tmp"
                    with open(tmp, "w") as f:
                        json.dump(self.opq_rotation, f)
                    os.replace(tmp, rf)

    def _quantizer_file(self, md5: str) -> str:
        return os.path.join(self.path, "meta", f"quantizer-{md5}.json")

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "IVFVectorIndex":
        """Reopen an existing index from its PERSISTED quantizer — the
        only way to reopen a store that ``maybe_rebucket`` has
        retrained (its centroids exist nowhere but the store). Rolls a
        crashed rebucket forward/back first, so the quantizer read is
        always consistent with the live postings layout."""
        with writer_lock(path, blocking=True):
            _resolve_rebucket(path)
            _resolve_staged_rebucket(path)
        meta_path = os.path.join(path, "meta", "meta.json")
        if not os.path.exists(meta_path):
            raise ValueError(f"no IVFVectorIndex at {path!r}")
        with open(meta_path) as f:
            meta = json.load(f)
        qf = os.path.join(
            path, "meta", f"quantizer-{meta['centroids_md5']}.json"
        )
        if not os.path.exists(qf):
            raise ValueError(
                f"IVFVectorIndex at {path!r} predates persisted "
                "quantizers — reopen once with the build-time centroids "
                "to backfill"
            )
        with open(qf) as f:
            quant = json.load(f)
        pq = None
        if "pq_md5" in meta:
            with open(
                os.path.join(path, "meta", f"pq-{meta['pq_md5']}.json")
            ) as f:
                pq = json.load(f)
        opq = None
        if "opq_md5" in meta:
            with open(
                os.path.join(
                    path, "meta", f"opq-{meta['opq_md5']}.json"
                )
            ) as f:
                opq = json.load(f)
        idx = cls(
            spark,
            path,
            quant["centroids"],
            id_col=meta["id_col"],
            vec_col=meta["vec_col"],
            pq_codebooks=pq,
            pq_residual=meta.get("pq_residual", False),
            opq_rotation=opq,
        )
        idx.n_probe_hint = quant.get("n_probe") or idx.n_probe_hint
        idx.adc_shortlist_hint = (
            quant.get("adc_shortlist") or idx.adc_shortlist_hint
        )
        return idx

    @classmethod
    def open_local(cls, path: str) -> "IVFVectorIndex":
        """Reopen for DRIVER-SIDE SERVING ONLY — no SparkSession, no
        JVM (r12, the tools/serve_query.py entry): the handle supports
        :meth:`probe_local` (pure pyarrow + numpy) and nothing that
        plans a Spark job. ``open()``'s crash-healing, meta/quantizer/
        codebook restoration, and layout fingerprints all run
        identically — they are filesystem + JSON operations; ``spark``
        is only ever STORED by the constructor, so a ``None`` session
        is safe until a batch method would first touch it (and every
        batch method's first touch raises AttributeError loudly rather
        than serving anything wrong)."""
        return cls.open(None, path)  # type: ignore[arg-type]

    def _postings_dir(self) -> str:
        return os.path.join(self.path, "postings")

    def _centroid_df(self) -> DataFrame:
        return local_rows_df(
            self.spark,
            [(i, c) for i, c in enumerate(self.centroids)],
            "cid int, centroid array<double>",
        )

    def _rotated(self, df: DataFrame) -> DataFrame:
        """Apply the store's OPQ rotation to an INCOMING frame (new
        rows at build/append, queries at probe) — one Arrow map pass,
        no-op for unrotated stores. Never applied to frames derived
        from the store itself (_live_folded and friends are already
        in the rotated space)."""
        if self.opq_rotation is None:
            return df
        from .opq import rotate_vectorized

        return rotate_vectorized(
            df, self.opq_rotation, vec_col=self.vec_col
        )

    def _assigned(self, corpus: DataFrame) -> DataFrame:
        _require_long_ids(corpus, self.id_col, "IVFVectorIndex")
        if len(self.centroids) >= _sim.ARROW_ASSIGN_MIN_K:
            # production cell counts: the bit-identical Arrow kernel
            # (similarity.ARROW_ASSIGN_MIN_K — the expression argmax
            # inlines one struct per centroid and dominates the build
            # past the measured k~160 crossover)
            from .similarity import assign_cells_vectorized

            out = assign_cells_vectorized(
                corpus,
                self.centroids,
                id_col=self.id_col,
                vec=self.vec_col,
            ).select(
                self.id_col, self.vec_col, F.col("cell").alias("cid")
            )
        else:
            out = corpus.select(
                self.id_col,
                self.vec_col,
                nearest_centroid(
                    F.col(self.vec_col), self.centroids
                ).alias("cid"),
            )
        if self.pq_codebooks is not None:
            # PQ codes ride the same map-only projection (no extra
            # pass). r10: through the Arrow encode kernel (vec + cid
            # passed through, one Python stage) — bit-identical to
            # the literal-argmin expressions (test-pinned), without
            # their one-time codegen compile that dominated
            # ivfpq_index_build at interactive scales
            from .pq import encode_pq_vectorized

            out = encode_pq_vectorized(
                out,
                self.pq_codebooks,
                id_col=self.id_col,
                vec=self.vec_col,
                passthrough=(self.vec_col, "cid"),
                # residual stores code (vec - centroid[cid]) — the
                # cid is already in the projection, so residual
                # encoding stays the same single Arrow stage
                residual_centroids=(
                    self.centroids if self.pq_residual else None
                ),
            )
        return out

    def _latest_dir(self) -> str:
        return os.path.join(self.path, "latest")

    def _mixed_marker(self) -> str:
        return os.path.join(self.path, "meta", "mixed_schema")

    def _uniform_marker(self) -> str:
        return os.path.join(self.path, "meta", "ordinal_uniform")

    def _mark_mixed_if_needed(self) -> None:
        """Before an append lands: if any existing data file lacks
        ``__ord`` (a pre-ordinal store), the store is about to hold
        MIXED file schemas — drop a marker so every later read merges
        footers (r8 ADVICE: keying the mergeSchema decision on
        ``latest/`` alone missed pre-ordinal stores that receive
        plain, non-supersede appends). r9 ADVICE hardening: sniffing
        only the first file of the first non-empty list missed stores
        that became mixed BEFORE this marker logic existed (a
        post-ordinal file can sort first), so the scan now keeps
        reading footers until a pre-ordinal file is found or every
        data file is cleared. Either verdict is cached forever in one
        of two markers — ``append`` always stamps ``__ord``, so a
        store verified uniform can never become mixed later — keeping
        the per-append cost at zero after the one-time scan."""
        marker = self._mixed_marker()
        if os.path.exists(marker) or os.path.exists(
            self._uniform_marker()
        ):
            return
        pdir = self._postings_dir()
        if not os.path.isdir(pdir):
            return
        import pyarrow.parquet as pq

        from .compaction import _data_files

        mixed = False
        for d in sorted(os.listdir(pdir)):
            if not d.startswith("cid="):
                continue
            for fn in sorted(_data_files(os.path.join(pdir, d))):
                if "__ord" not in pq.read_schema(
                    os.path.join(pdir, d, fn)
                ).names:
                    mixed = True
                    break
            if mixed:
                break
        target = marker if mixed else self._uniform_marker()
        os.makedirs(os.path.dirname(target), exist_ok=True)
        tmp = target + ".tmp"
        with open(tmp, "w") as f:
            f.write("1")
        os.replace(tmp, target)

    def _read_postings(self) -> DataFrame:
        """Postings reader; ``mergeSchema`` iff the store holds mixed
        file schemas — a roster exists (some append superseded) or the
        mixed-schema marker is set (a pre-ordinal store received ANY
        post-ordinal append). Default single-file schema inference
        could otherwise pick a pre-ordinal file, dropping ``__ord``
        and degrading both the probe's supersession mask and
        ``maybe_compact``'s ordinal fold (r8 review + ADVICE). The
        footer-merge cost is paid only by stores that actually hold
        updates or straddle the format change."""
        reader = self.spark.read
        if os.path.isdir(self._latest_dir()) or os.path.exists(
            self._mixed_marker()
        ):
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(self._postings_dir())

    def _roster(self) -> DataFrame | None:
        """Supersession/tombstone roster: each UPDATED or DELETED id's
        latest committed action as ``(__rid, __rord, __rdel)`` —
        ``None`` when no update/delete was ever recorded (the
        overwhelmingly common case, keeping the plain append/probe
        plan untouched). The per-id fold is a struct max on
        ``(ordinal, delete-flag)``: the highest ordinal wins, and at
        an equal ordinal the tombstone wins (deterministic; real
        callers' mtime_ns ordinals never collide). O(updated ids),
        not O(corpus): plain adds never roster."""
        if not os.path.isdir(self._latest_dir()):
            return None
        ros = self.spark.read.option("mergeSchema", "true").parquet(
            self._latest_dir()
        )
        if "__rdel" not in ros.columns:  # no tombstone ever written
            ros = ros.withColumn("__rdel", F.lit(False))
        return (
            ros.groupBy("__rid")
            .agg(
                F.max(
                    F.struct(
                        F.col("__rord"),
                        F.coalesce(F.col("__rdel"), F.lit(False)).alias(
                            "__rdel"
                        ),
                    )
                ).alias("__r")
            )
            .select(
                "__rid",
                F.col("__r.__rord").alias("__rord"),
                F.col("__r.__rdel").alias("__rdel"),
            )
        )

    def _live(self, posts: DataFrame, roster=None) -> DataFrame:
        """Mask superseded and DELETED rows: a row is live iff its id
        has no roster entry, or its ordinal is strictly above the
        roster's latest action, or equals it and that action is an add
        (a supersede's own rows) rather than a tombstone. This holds
        even when an update moved the vector to a DIFFERENT ``cid=``
        list than its stale predecessor — the stale row is dropped by
        ordinal, not by colliding with its replacement in the same
        list — and a later re-add at a higher ordinal resurrects a
        deleted id. Callers that apply the mask repeatedly (compaction
        folds, once per fat list) pass a precomputed pinned ``roster``
        so the roster scan runs once, not once per list."""
        if "__ord" not in posts.columns:  # store predates ordinals
            posts = posts.withColumn("__ord", F.lit(0).cast("long"))
        if roster is None:
            roster = self._roster()
        if roster is None:
            return posts
        ord_ = F.coalesce(F.col("__ord"), F.lit(0))
        keep = (
            F.col("__rord").isNull()
            | (ord_ > F.col("__rord"))
            | ((ord_ == F.col("__rord")) & ~F.col("__rdel"))
        )
        return (
            posts.join(
                roster,
                posts[self.id_col] == F.col("__rid"),
                "left",
            )
            .where(keep)
            .drop("__rid", "__rord", "__rdel")
        )

    @locked_writer
    def build(self, corpus: DataFrame) -> None:
        """Nearest-centroid assignment + one partitioned write: each
        inverted list lands in its own ``cid=`` directory. The
        pre-write shuffle ON cid bounds the file count at one file per
        list — without it every input task writes a fragment into
        every list it touches (k × tasks small files: 7,500 at k=235
        on 32 tasks, which the first scaled 30x build measured as the
        dominant cost), and probe listing pays for it forever."""
        self._assigned(self._rotated(corpus)).withColumn(
            "__ord", F.lit(0).cast("long")
        ).repartition(F.col("cid")).write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(self._postings_dir())

    @staticmethod
    def scaled_quantizer(
        corpus: DataFrame,
        small_centroids: list[list[float]],
        small_n_probe: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        iters: int = 4,
        sample_mod: int | None = 8,
        seed: int = 42,
        recall_target: float | None = None,
    ) -> tuple[list[list[float]], int]:
        """The scale-aware quantizer DECISION (r8, VERDICT r7 #2):
        below ``IVF_AUTO_MIN_N`` vectors, the caller's frozen
        sample-trained quantizer and ``small_n_probe`` — the exact
        registered shape, so oracle replay at sf0.01/sf0.1 is
        untouched. Past it, retrain k ∝ N (one list per
        ``IVF_TARGET_LIST_SIZE`` vectors, via the deterministic seeded
        k-means on a hash-sample — the Arrow assignment kernel engages
        automatically past ARROW_ASSIGN_MIN_K) and derive n_probe from
        the probed-fraction rule (``IVF_PROBE_LIST_FRACTION`` of
        lists). Constant list size is what keeps per-query probe work
        flat as the corpus grows — the module constants' docstring
        carries the measured evidence.

        Deterministic by construction (seeded init, fixed iterations,
        hash-sample), so callers may MEMOIZE the result per corpus —
        production trains the quantizer offline once and ships it as a
        constant; re-deriving it per query would charge every probe an
        offline cost (the registered plans-layer path does exactly
        this). ``recall_target`` swaps the fixed probed-fraction rule
        for the measured one: :meth:`select_n_probe` sweeps a held-out
        query set against exact brute force and returns the smallest
        swept width meeting the target (VERDICT r8 #4) — only applied
        past the threshold; the frozen small-corpus shape keeps its
        registered ``small_n_probe`` untouched. Returns
        ``(centroids, n_probe)``."""
        import math

        n = corpus.count()
        if n < IVF_AUTO_MIN_N:
            return small_centroids, small_n_probe
        from .similarity import kmeans_centroids

        k = max(
            len(small_centroids),
            math.ceil(n / IVF_TARGET_LIST_SIZE),
        )
        cents = kmeans_centroids(
            corpus,
            vec=vec_col,
            id_col=id_col,
            k=k,
            iters=iters,
            seed=seed,
            sample_mod=sample_mod,
        )
        if recall_target is not None:
            n_probe = IVFVectorIndex.select_n_probe(
                corpus,
                cents,
                recall_target,
                id_col=id_col,
                vec_col=vec_col,
            )
        else:
            n_probe = max(1, math.ceil(IVF_PROBE_LIST_FRACTION * k))
        return cents, n_probe

    @classmethod
    def build_scaled(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        small_centroids: list[list[float]],
        small_n_probe: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        iters: int = 4,
        sample_mod: int | None = 8,
        seed: int = 42,
    ) -> tuple["IVFVectorIndex", int]:
        """:meth:`scaled_quantizer` + build. Returns
        ``(index, n_probe)``."""
        cents, n_probe = cls.scaled_quantizer(
            corpus,
            small_centroids,
            small_n_probe,
            id_col=id_col,
            vec_col=vec_col,
            iters=iters,
            sample_mod=sample_mod,
            seed=seed,
        )
        idx = cls(spark, path, cents, id_col=id_col, vec_col=vec_col)
        idx.build(corpus)
        return idx, n_probe

    @locked_writer
    def append(
        self, new: DataFrame, ordinal: int = 0, supersede: bool = False
    ) -> None:
        """Incremental add — new vectors assign map-only and append
        into their lists' partitions; no existing data is touched.
        Replayed appends leave duplicate rows that probe's
        per-candidate fold tolerates and ``maybe_compact`` removes.

        ``ordinal`` stamps the rows' version (callers use a
        deterministic monotonic source — the drop file's mtime_ns —
        so a crashed-tick replay re-stamps bit-identically).
        ``supersede=True`` declares these rows UPDATES of previously
        appended ids: the batch's ``(id, ordinal)`` pairs also land in
        the ``latest/`` roster, and every earlier row of those ids —
        including rows sitting in a different ``cid=`` list because
        the new vector re-assigned — is masked from probes /
        semantic_dedup and reclaimed by compaction. Without it the old
        code served max(cos_sim) over old AND new vectors for an
        updated id (r8 ADVICE finding). Removing ids by omitting them
        from a modified drop file is NOT supported — drops are
        add/update only; explicit removals go through :meth:`delete`
        (roster tombstones, r9)."""
        if supersede and not ordinal:
            raise ValueError(
                "supersede=True requires a nonzero ordinal to order "
                "the update against the rows it replaces"
            )
        self._mark_mixed_if_needed()
        assigned = self._assigned(self._rotated(new)).withColumn(
            "__ord", F.lit(int(ordinal)).cast("long")
        )
        pinned = False
        if supersede:
            # pin: guard + two writes below consume the same batch.
            # persist, not localCheckpoint — fully consumed inside
            # this call, so it can be RELEASED (the logreg r8 ADVICE
            # discipline); an evicted partition recomputes from the
            # caller's source deterministically.
            assigned = assigned.persist()
            pinned = True
            # ordinal-regression guard (r8 ADVICE): a superseding batch
            # whose ordinal is STRICTLY BELOW an id's rostered maximum
            # would append rows the roster instantly masks — the update
            # silently lost, the stale vector served forever (mtime_ns
            # regressed: clock skew, cp -p / rsync -t restore, archive
            # extraction). Fail loudly instead. Equal ordinals stay
            # allowed — a crashed-tick REPLAY re-appends the same batch
            # at the same ordinal by design (bit-identical rows).
            ros = self._roster()
            if ros is not None:
                regressed = (
                    assigned.select(
                        F.col(self.id_col).alias("__rid")
                    )
                    .distinct()
                    .join(ros, "__rid")
                    .where(F.col("__rord") > F.lit(int(ordinal)))
                    .count()
                )
                if regressed:
                    raise ValueError(
                        f"supersede append at ordinal {ordinal} "
                        f"regresses {regressed} id(s) already rostered "
                        "at a higher ordinal — the version source "
                        "(file mtime_ns) moved backwards (clock skew / "
                        "mtime-preserving copy?); the update would be "
                        "silently masked"
                    )
                # equal-ordinal tombstone (r9 ADVICE): the roster fold
                # breaks an ordinal TIE toward the delete (struct max
                # on (__rord, __rdel)), so a fresh supersede append at
                # exactly a deleted id's tombstone ordinal would be
                # accepted and then silently masked forever — the
                # precise loss mode the strictly-greater check above
                # exists to prevent, reachable when an add file and a
                # takedown list share an mtime_ns (archive extraction,
                # coarse-mtime filesystems). Raise — UNLESS a
                # non-delete roster row of the same id already sits at
                # this ordinal: then this append was rostered before
                # (a crashed add-then-delete tick replaying) and the
                # masking is the tie's legitimate, already-committed
                # outcome, so re-appending must no-op, not wedge.
                raw = self.spark.read.option(
                    "mergeSchema", "true"
                ).parquet(self._latest_dir())
                if "__rdel" not in raw.columns:
                    raw = raw.withColumn("__rdel", F.lit(False))
                at_ord = raw.where(
                    F.col("__rord") == F.lit(int(ordinal))
                )
                rdel = F.coalesce(F.col("__rdel"), F.lit(False))
                tied = (
                    assigned.select(
                        F.col(self.id_col).alias("__rid")
                    )
                    .distinct()
                    .join(at_ord.where(rdel).select("__rid"), "__rid")
                    .join(
                        at_ord.where(~rdel).select("__rid"),
                        "__rid",
                        "left_anti",
                    )
                    .count()
                )
                if tied:
                    raise ValueError(
                        f"supersede append at ordinal {ordinal} ties "
                        f"{tied} id(s)' tombstone ordinal — the "
                        "roster fold breaks ties toward the delete, "
                        "so the update would be silently masked; "
                        "re-stamp the add with a fresh (higher) "
                        "ordinal"
                    )
            # roster FIRST: a crash between the two writes then masks
            # the updated ids entirely (absent until the replay lands)
            # instead of serving the stale vector — the same
            # fail-toward-silence choice the txn'd text index makes
            assigned.select(
                F.col(self.id_col).alias("__rid"),
                F.col("__ord").alias("__rord"),
                F.lit(False).alias("__rdel"),
            ).write.mode("append").parquet(self._latest_dir())
        # shuffle on cid before the write (the build() rationale):
        # one file per touched list per append, instead of
        # tasks × lists fragments for compaction to mop up
        try:
            assigned.repartition(F.col("cid")).write.mode(
                "append"
            ).partitionBy("cid").parquet(self._postings_dir())
        finally:
            if pinned:
                assigned.unpersist()

    @locked_writer
    def delete(self, ids: DataFrame, ordinal: int) -> None:
        """Tombstone deletes (r9 — closes the documented
        add/update-only limitation): the batch's ids land in the
        ``latest/`` roster flagged as deletes at ``ordinal``, and every
        stored row of those ids at-or-below that ordinal vanishes from
        probes, ADC probes and semantic_dedup (the :meth:`_live` mask);
        the next compaction reclaims the rows physically. No postings
        are touched — a delete is O(deleted ids). A LATER re-add at a
        higher ordinal resurrects the id (roster folds to the latest
        action); a replayed delete at the same ordinal is a no-op by
        value; a delete whose ordinal is already OUT-RANKED by the
        id's rostered maximum is skipped as a no-op (r9 ADVICE — the
        fold keeps the higher-ordinal action either way, so the
        losing tombstone could never mask anything; raising here
        permanently wedged a tick whose takedown list carried an
        older mtime than an already-applied action, e.g. archive
        extraction with preserved timestamps). ``ids``: any frame
        carrying the index's id column."""
        if not ordinal:
            raise ValueError(
                "delete requires a nonzero ordinal to order the "
                "tombstone against the rows it removes"
            )
        # persist (consumed twice inside: guard + write), released
        # before returning — the logreg r8 ADVICE discipline
        batch = (
            ids.select(F.col(self.id_col).cast("long").alias("__rid"))
            .distinct()
            .persist()
        )
        fresh = batch
        try:
            if os.path.isdir(self._latest_dir()):
                # replay awareness BEFORE the regression guard: ids
                # whose identical tombstone (same ordinal) is already
                # recorded are a crashed-tick REPLAY — skipped, and
                # crucially EXEMPT from the guard, because a genuine
                # later action (a supersede re-add at a higher
                # ordinal) may have legitimately out-ranked the
                # replayed tombstone between the crash and the retry;
                # raising there would wedge the tick forever.
                raw = self.spark.read.option(
                    "mergeSchema", "true"
                ).parquet(self._latest_dir())
                if "__rdel" not in raw.columns:
                    raw = raw.withColumn("__rdel", F.lit(False))
                same = raw.where(
                    F.coalesce(F.col("__rdel"), F.lit(False))
                    & (F.col("__rord") == F.lit(int(ordinal)))
                ).select("__rid")
                # out-ranked first-time tombstones (r9 ADVICE): an id
                # whose rostered maximum already EXCEEDS this ordinal
                # is a semantic no-op either way — the fold keeps the
                # higher action and ``_live`` never consults the
                # losing row — so SKIP it rather than raise. The old
                # loud failure (append's regression rationale) wedged
                # a tick forever when a takedown list's preserved
                # mtime predated an action applied in an earlier tick
                # (no replay exemption could apply: the tombstone was
                # never recorded), and unlike a lost append there is
                # nothing to lose: the delete is out-voted by design.
                ros = self._roster()
                outranked = (
                    ros.where(F.col("__rord") > F.lit(int(ordinal)))
                    .select("__rid")
                )
                fresh = (
                    batch.join(same, "__rid", "left_anti")
                    .join(outranked, "__rid", "left_anti")
                    .persist()
                )
                if fresh.count() == 0:
                    return  # replays and/or out-ranked no-ops only
            fresh.select(
                "__rid",
                F.lit(int(ordinal)).cast("long").alias("__rord"),
                F.lit(True).alias("__rdel"),
            ).write.mode("append").parquet(self._latest_dir())
        finally:
            if fresh is not batch:
                fresh.unpersist()
            batch.unpersist()

    @locked_writer
    def maybe_compact(
        self,
        max_files_per_list: int = 8,
        budget: int | str | None = None,
    ) -> int:
        """Streaming-loop housekeeping (the index-family discipline):
        fat ``cid=`` inverted lists rewrite as ONE file sorted by id,
        duplicate rows from replayed appends physically fold away
        (latest-ordinal-per-id — probe's fold makes them invisible
        even before this runs), and rows superseded by an update —
        including stale rows whose replacement re-assigned to another
        list — reclaim via the roster. Crash-safe parked-previous
        swap; a crashed compaction heals on the next call.

        ``budget`` bounds the lists folded PER CALL (fattest-first;
        see ``compact_partitioned``) so a uniform drop that fattens
        every list at once cannot trigger a whole-store rewrite in
        one tick (r13, VERDICT r12 #2)."""
        import os as _os

        from .compaction import compact_flat, compact_partitioned

        pdir = self._postings_dir()
        if not _os.path.isdir(pdir):
            return 0
        # postings carry the caller's corpus columns, so the row
        # schema is discovered from the store itself (cid lives in
        # the directory name, not the rows)
        schema = self._read_postings().drop("cid").schema
        if "__ord" in schema.fieldNames():
            # cid joins the window keys per the r14 fold contract: the
            # batched fold sees every eligible list at once, and the
            # per-list latest-ordinal rule must stay per-list (a
            # superseded id's stale row in ANOTHER list is the
            # roster's job, exactly as before)
            w = Window.partitionBy("cid", self.id_col).orderBy(
                F.col("__ord").desc()
            )
            # roster computed ONCE per compaction pass and pinned —
            # the fold runs per fat list, and an unpinned roster would
            # re-list + re-aggregate latest/ for each of them
            ros = self._roster()
            if ros is not None:
                ros = ros.localCheckpoint()

            def fold(df: DataFrame) -> DataFrame:
                kept = (
                    df.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") == 1)
                    .drop("__rn")
                )
                return self._live(kept, roster=ros) if ros is not None else kept

        else:  # store predates ordinals

            def fold(df: DataFrame) -> DataFrame:
                return df.dropDuplicates(["cid", self.id_col])

        done = compact_partitioned(
            self.spark,
            pdir,
            "cid",
            schema,
            fold,
            [self.id_col],
            max_files=max_files_per_list,
            budget=budget,
        )
        if _os.path.isdir(self._latest_dir()):
            compact_flat(
                self.spark,
                self._latest_dir(),
                # explicit schema incl. the tombstone flag: pre-r9
                # roster files lack it and read as null -> false
                "__rid long, __rord long, __rdel boolean",
                lambda df: df.groupBy("__rid")
                .agg(
                    F.max(
                        F.struct(
                            F.col("__rord"),
                            F.coalesce(
                                F.col("__rdel"), F.lit(False)
                            ).alias("__rdel"),
                        )
                    ).alias("__r")
                )
                .select(
                    "__rid",
                    F.col("__r.__rord").alias("__rord"),
                    F.col("__r.__rdel").alias("__rdel"),
                ),
                ["__rid"],
                max_files=max_files_per_list,
            )
        return done

    def _live_folded(self) -> DataFrame:
        """Current live rows, one per id: latest-ordinal fold +
        supersession mask (exactly what a probe would score), with the
        stored ``cid`` dropped — the caller is about to re-derive it."""
        posts = self._read_postings()
        if "__ord" in posts.columns:
            w = Window.partitionBy(self.id_col).orderBy(
                F.col("__ord").desc()
            )
            kept = (
                posts.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
            return self._live(kept).drop("cid")
        return posts.dropDuplicates([self.id_col]).drop("cid")

    @locked_writer
    def maybe_rebucket(
        self,
        min_n: int | None = None,
        target_list_size: int | None = None,
        growth_factor: float | None = None,
        iters: int = 4,
        sample_mod: int | None = 8,
        seed: int = 42,
        recall_target: float | None = None,
        stage_rows: int | None = None,
    ) -> bool:
        """Growth-triggered quantizer retrain + full re-bucket — the
        maintenance operation ``build_scaled`` decides only ONCE
        (VERDICT r8 #2): a store built under ``IVF_AUTO_MIN_N`` that
        grows past it via ``append`` otherwise keeps its small quantizer
        forever, and list sizes (hence probe cost) grow ∝ N/k. Fires when the
        corpus is past ``min_n`` AND the mean list holds more than
        ``growth_factor × target_list_size`` rows; retrains
        k = ⌈N/target⌉ centroids on the LIVE rows (deterministic
        seeded k-means on the hash-sample), re-assigns every live row,
        and swaps the new layout in crash-safely:

        - new postings (carrying their quantizer md5 in a
          ``.quantizer_md5`` dotfile) build in a ``.compact-`` sibling;
        - the new meta stages as ``meta.json.new`` and the retrained
          quantizer persists under ``meta/quantizer-<md5>.json``;
        - the postings dirs swap via the parked-previous renames the
          compaction family uses, then one atomic ``os.replace``
          commits the meta. A crash in ANY window resolves on next
          open (:func:`_resolve_rebucket` + generic heal): the store
          is always entirely-old or entirely-new.

        The latest/ roster survives as-is (live rows already carry
        ordinals ≥ their roster entries, so the mask stays a no-op
        until the next update). Replay-duplicate and superseded rows
        are physically dropped by the fold — a rebucket is also a full
        compaction. ``recall_target`` forwards to
        :meth:`select_n_probe` for the stored probe-width hint;
        without it the probed-fraction rule applies. Returns True iff
        a rebucket happened; ``self`` then serves the NEW quantizer.

        ``stage_rows`` (r14, VERDICT r13 #3) turns the growth event
        into a BUDGETED multi-tick protocol instead of one
        whole-store stall — the compaction budget's own discipline
        applied to the rebucket. With it set, each call advances ONE
        phase and probes keep serving the OLD layout until the final
        atomic swap:

        - **plan** (trigger tick): retrain the quantizer + persist
          it, write `.rebucket/manifest.json` sizing
          ``n_stages = ⌈n_live / stage_rows⌉``; no data rewritten.
          With ``recall_target`` set, the FULL serving sweep
          (n_probe ladder + ADC width for coded stores) also runs
          here — both sweeps depend only on (quantizer, live rows),
          never the file layout, so the expensive read-only ladders
          ride the plan tick while probes keep serving the committed
          store; the measured receipt travels in the manifest and
          installs at the swap (``self.staged_serving``).
        - **stage i** (next ``n_stages`` calls): re-assign + write
          only the live rows with ``pmod(xxhash64(seed, id),
          n_stages) == i`` — ≈``stage_rows`` rows of assign + IO per
          tick — appended into `.rebucket-postings/cid=`.
        - **swap** (final call): catch-up delta (live rows appended
          since their slice's tick, found by an ids-only
          ``(id, __ord)`` anti-join against the staging), then the
          SAME park-and-swap + atomic meta commit as the one-shot
          path. Returns True; ``self`` serves the new quantizer.

        Rows superseded/deleted AFTER their slice staged leave stale
        copies in the new layout exactly like ordinary appends do —
        the surviving roster masks them and the next compaction
        reclaims them — so probe answers after the swap match the
        one-shot rebucket's. A crashed stage tick replays its slice
        (bit-identical duplicate rows, folded away); the manifest
        advances only after the slice lands. Phase taken this call is
        recorded on ``self.rebucket_phase``."""
        import math
        import shutil

        min_n = IVF_AUTO_MIN_N if min_n is None else min_n
        tls = (
            IVF_TARGET_LIST_SIZE
            if target_list_size is None
            else target_list_size
        )
        growth = (
            IVF_REBUCKET_GROWTH if growth_factor is None else growth_factor
        )
        self.rebucket_phase: str | None = None
        # an in-flight staged manifest continues REGARDLESS of mode or
        # trigger state: the plan tick already decided; later calls
        # finish what it started (a one-shot caller joining mid-flight
        # would otherwise race the staging's park-and-swap)
        if os.path.exists(os.path.join(self.path, _STAGE_MANIFEST)):
            return self._staged_rebucket_continue()
        pdir = self._postings_dir()
        if not os.path.isdir(pdir):
            return False
        # trigger check on the raw row count — driver-side parquet
        # footer sum, no Spark job (r14); replay dupes inflate it
        # slightly, never enough to matter against a 2x growth
        # threshold
        from .compaction import dir_row_count

        n_raw = dir_row_count(pdir)
        if n_raw < min_n or n_raw <= growth * tls * self.meta["k"]:
            return False
        if stage_rows is not None:
            return self._staged_rebucket_plan(
                tls=tls,
                iters=iters,
                sample_mod=sample_mod,
                seed=seed,
                recall_target=recall_target,
                stage_rows=stage_rows,
            )
        # localCheckpoint, not persist: the swap below RENAMES the
        # postings paths this frame's lineage reads — an evicted
        # persisted partition recomputed post-swap would hit missing
        # files; the checkpoint truncates lineage. Blocks free when
        # the frame is GC'd (ContextCleaner); rebuckets are rare
        # growth events, not a per-tick loop.
        live = self._live_folded().localCheckpoint()
        try:
            n_live = live.count()
            k_new = max(self.meta["k"], math.ceil(n_live / tls))
            from .similarity import kmeans_centroids

            cents = kmeans_centroids(
                live,
                vec=self.vec_col,
                id_col=self.id_col,
                k=k_new,
                iters=iters,
                seed=seed,
                sample_mod=sample_mod,
            )
            if recall_target is not None:
                n_probe = self.select_n_probe(
                    live.select(
                        F.col(self.id_col), F.col(self.vec_col)
                    ),
                    cents,
                    recall_target,
                    id_col=self.id_col,
                    vec_col=self.vec_col,
                )
            else:
                n_probe = max(
                    1, math.ceil(IVF_PROBE_LIST_FRACTION * k_new)
                )
            new_md5 = hashlib.md5(
                json.dumps(cents).encode()
            ).hexdigest()
            new_meta = dict(
                self.meta,
                k=k_new,
                dim=len(cents[0]),
                centroids_md5=new_md5,
            )
            # ---- prep (live store untouched throughout) ----
            tmp = os.path.join(self.path, ".compact-postings")
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)
            if "__ord" not in live.columns:
                live = live.withColumn("__ord", F.lit(0).cast("long"))
            old_cents = self.centroids
            self.centroids = cents  # _assigned reads self.centroids
            try:
                # _assigned projects (id, vec, cid) — join each row's
                # ordinal back by id so the supersession contract
                # survives the rewrite (live rows keep ordinals ≥
                # their roster entries; dropping them would zero every
                # updated id under the surviving roster's mask)
                self._assigned(live).join(
                    live.select(self.id_col, "__ord"), self.id_col
                ).repartition(F.col("cid")).write.mode(
                    "overwrite"
                ).partitionBy("cid").parquet(tmp)
            except BaseException:
                self.centroids = old_cents
                raise
            with open(os.path.join(tmp, ".quantizer_md5"), "w") as f:
                f.write(new_md5)
            qf = self._quantizer_file(new_md5)
            qtmp = qf + ".tmp"
            with open(qtmp, "w") as f:
                json.dump({"centroids": cents, "n_probe": n_probe}, f)
            os.replace(qtmp, qf)
            staged = os.path.join(self.path, "meta", "meta.json.new")
            stmp = staged + ".tmp"
            with open(stmp, "w") as f:
                json.dump(new_meta, f)
            os.replace(stmp, staged)
            # ---- swap ----
            parked = os.path.join(self.path, ".old-postings")
            os.rename(pdir, parked)
            os.rename(tmp, pdir)
            os.replace(
                staged, os.path.join(self.path, "meta", "meta.json")
            )
            shutil.rmtree(parked)
            old_qf = self._quantizer_file(self.meta["centroids_md5"])
            if old_qf != qf and os.path.exists(old_qf):
                os.remove(old_qf)
            mixed = self._mixed_marker()
            if os.path.exists(mixed):  # rewrite made schemas uniform
                os.remove(mixed)
            self.meta = new_meta
            self.n_probe_hint = n_probe
            return True
        finally:
            # checkpointed frames are invisible to the cache manager
            # (unpersist() would be a no-op — the logreg r8 ADVICE
            # lesson); dropping the reference lets the ContextCleaner
            # free the blocks on GC
            del live

    # ---- staged rebucket (r14, VERDICT r13 #3) --------------------
    # Private helpers behind maybe_rebucket(stage_rows=...); callers
    # never invoke these directly (the @locked_writer wrapper on
    # maybe_rebucket holds the store lock for whichever phase runs).

    def _stage_manifest_path(self) -> str:
        return os.path.join(self.path, _STAGE_MANIFEST)

    def _staging_dir(self) -> str:
        return os.path.join(self.path, _STAGE_DIR)

    def _write_stage_slice(self, frame: DataFrame, new_cents) -> None:
        """Assign ``frame``'s rows under the NEW quantizer (same
        ``_assigned`` projection as every other write path — PQ codes
        included, residual-coded against the new centroid when the
        store is residual) and APPEND them into the staging layout.
        Append, not overwrite: successive stage ticks share the same
        ``cid=`` partition dirs, and a crashed tick's replay lands
        bit-identical duplicates the probe fold tolerates (the
        store-wide replay discipline)."""
        if "__ord" not in frame.columns:
            frame = frame.withColumn("__ord", F.lit(0).cast("long"))
        old_cents = self.centroids
        self.centroids = new_cents  # _assigned reads self.centroids
        try:
            out = self._assigned(frame).join(
                frame.select(self.id_col, "__ord"), self.id_col
            )
        finally:
            self.centroids = old_cents
        out.repartition(F.col("cid")).write.mode("append").partitionBy(
            "cid"
        ).parquet(self._staging_dir())

    def _staged_rebucket_plan(
        self,
        tls: int,
        iters: int,
        sample_mod: int | None,
        seed: int,
        recall_target: float | None,
        stage_rows: int,
    ) -> bool:
        """Phase 1: retrain + persist the new quantizer and open the
        manifest. No store data is touched — a crash before the
        manifest lands leaves only an orphan (md5-keyed, immutable)
        quantizer file."""
        import math

        from .similarity import kmeans_centroids

        live = self._live_folded().persist()
        serving = None
        adc = None
        try:
            n_live = live.count()
            k_new = max(self.meta["k"], math.ceil(n_live / tls))
            cents = kmeans_centroids(
                live,
                vec=self.vec_col,
                id_col=self.id_col,
                k=k_new,
                iters=iters,
                seed=seed,
                sample_mod=sample_mod,
            )
            if recall_target is not None:
                # the FULL serving sweep runs HERE, not at the swap
                # (r14): both sweeps depend only on (quantizer, live
                # rows) — never the file layout — so the expensive
                # read-only ladders ride the plan tick while probes
                # keep serving the committed store, and the swap tick
                # stays a bounded install. The measured receipt
                # travels in the manifest.
                lv = live.select(
                    F.col(self.id_col), F.col(self.vec_col)
                )
                n_probe, recall = self._sweep_n_probe(
                    lv,
                    cents,
                    recall_target,
                    id_col=self.id_col,
                    vec_col=self.vec_col,
                )
                if self.pq_codebooks is not None:
                    adc = self.select_adc_width(
                        lv,
                        self.pq_codebooks,
                        recall_target,
                        id_col=self.id_col,
                        vec_col=self.vec_col,
                        residual_centroids=(
                            cents if self.pq_residual else None
                        ),
                    )
                serving = {
                    "n_probe": n_probe,
                    "recall": recall,
                    "adc_shortlist": adc,
                }
            else:
                n_probe = max(
                    1, math.ceil(IVF_PROBE_LIST_FRACTION * k_new)
                )
        finally:
            live.unpersist()
        new_md5 = hashlib.md5(json.dumps(cents).encode()).hexdigest()
        qf = self._quantizer_file(new_md5)
        quant = {"centroids": cents, "n_probe": n_probe}
        if adc is not None:
            quant["adc_shortlist"] = adc
        with open(qf + ".tmp", "w") as f:
            json.dump(quant, f)
        os.replace(qf + ".tmp", qf)
        man = {
            "new_md5": new_md5,
            "k": k_new,
            "dim": len(cents[0]),
            "n_probe": n_probe,
            "serving": serving,
            "n_stages": max(1, math.ceil(n_live / stage_rows)),
            "next_stage": 0,
            "n_live_plan": n_live,
        }
        mp = self._stage_manifest_path()
        os.makedirs(os.path.dirname(mp), exist_ok=True)
        with open(mp + ".tmp", "w") as f:
            json.dump(man, f)
        os.replace(mp + ".tmp", mp)
        self.rebucket_phase = f"plan k={k_new} stages={man['n_stages']}"
        return False

    def _staged_rebucket_continue(self) -> bool:
        """Phase 2/3: advance one stage slice, or — all slices landed
        — catch up the delta and run the one-shot path's
        park-and-swap. Slices read the CURRENT live fold, so a row
        appended after the plan tick stages with its newest version
        if its slice hasn't run yet; everything else is caught by the
        swap's ``(id, __ord)`` anti-join delta."""
        mp = self._stage_manifest_path()
        with open(mp) as f:
            man = json.load(f)
        with open(self._quantizer_file(man["new_md5"])) as f:
            new_cents = json.load(f)["centroids"]
        n_stages, i = man["n_stages"], man["next_stage"]
        if i < n_stages:
            live = self._live_folded()
            sl = live.where(
                F.pmod(
                    F.xxhash64(
                        F.lit(_STAGE_SLICE_SEED), F.col(self.id_col)
                    ),
                    F.lit(n_stages),
                )
                == F.lit(i)
            )
            self._write_stage_slice(sl, new_cents)
            man["next_stage"] = i + 1
            with open(mp + ".tmp", "w") as f:
                json.dump(man, f)
            os.replace(mp + ".tmp", mp)
            self.rebucket_phase = f"stage {i + 1}/{n_stages}"
            return False
        # ---- swap tick ----
        staging = self._staging_dir()
        live = self._live_folded()
        if "__ord" not in live.columns:
            live = live.withColumn("__ord", F.lit(0).cast("long"))
        try:
            from .compaction import _data_files

            has_staged = os.path.isdir(staging) and any(
                _data_files(os.path.join(staging, d))
                for d in os.listdir(staging)
                if os.path.isdir(os.path.join(staging, d))
            )
            if has_staged:
                # mergeSchema: a mid-staging append can change the
                # vector dtype (float↔double — the mixed-marker case),
                # leaving slices staged before and after it with
                # different schemas; the delta only needs (id, __ord),
                # which are stable, but the read itself must merge
                staged_keys = (
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(staging)
                    .select(self.id_col, "__ord")
                    .distinct()
                )
                delta = live.join(
                    staged_keys, [self.id_col, "__ord"], "left_anti"
                )
            else:
                delta = live  # every slice was empty (shrunk store)
            # checkpoint the DELTA, not live (r14 review): the write
            # path consumes its frame twice (_assigned + the __ord
            # join), so pinning is needed — but pinning the whole
            # live fold made the swap tick O(store) in storage; the
            # delta is typically tiny (rows appended since their
            # slice's tick). Eager: it must materialize BEFORE the
            # renames below invalidate the lineage's source paths.
            delta = delta.localCheckpoint()
            self._write_stage_slice(delta, new_cents)
            with open(os.path.join(staging, ".quantizer_md5"), "w") as f:
                f.write(man["new_md5"])
            new_meta = dict(
                self.meta,
                k=man["k"],
                dim=man["dim"],
                centroids_md5=man["new_md5"],
            )
            staged_meta = os.path.join(
                self.path, "meta", "meta.json.new"
            )
            with open(staged_meta + ".tmp", "w") as f:
                json.dump(new_meta, f)
            os.replace(staged_meta + ".tmp", staged_meta)
            # the one-shot path's park-and-swap, verbatim
            pdir = self._postings_dir()
            parked = os.path.join(self.path, ".old-postings")
            os.rename(pdir, parked)
            os.rename(staging, pdir)
            os.replace(
                staged_meta, os.path.join(self.path, "meta", "meta.json")
            )
            shutil.rmtree(parked)
            old_qf = self._quantizer_file(self.meta["centroids_md5"])
            if old_qf != self._quantizer_file(man["new_md5"]) and (
                os.path.exists(old_qf)
            ):
                os.remove(old_qf)
            # UNLIKE the one-shot rewrite (single job → uniform
            # schemas → marker cleared), staged slices written before
            # and after a dtype-changing append leave a genuinely
            # mixed new layout — keep the marker as-is; the next
            # whole-store rewrite clears it when it unifies
            shutil.rmtree(os.path.dirname(mp), ignore_errors=True)
            self.meta = new_meta
            self.centroids = new_cents
            self.n_probe_hint = man["n_probe"]
            serving = man.get("serving")
            if serving and serving.get("adc_shortlist") is not None:
                self.adc_shortlist_hint = serving["adc_shortlist"]
            #: the plan tick's measured sweep receipt (None when the
            #: plan ran without a recall_target)
            self.staged_serving = serving
            self.rebucket_phase = "swap"
            return True
        finally:
            del live

    @staticmethod
    def select_n_probe(
        corpus: DataFrame,
        centroids: list[list[float]],
        recall_target: float,
        k: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 7,
        max_queries: int = 64,
    ) -> int:
        """Recall-targeted probe-width selection (VERDICT r8 #4): the
        10%-of-lists rule is a fixed heuristic; this makes the
        measured lever — SCALE.md's own sweep showed recall rising
        linearly in n_probe — a library call. A deterministic held-out
        query set (the ``max_queries`` rows with the smallest
        ``xxhash64(seed, id)`` — same device as k-means init, so
        replays pick identical queries) is scored exactly by brute
        force once, then a doubling ladder of n_probe values is swept
        through the fused IVF kernel until top-k recall meets
        ``recall_target``; returns the first (smallest swept) width
        that does, or the full list count if none short of exact
        search suffices. Offline-decision cost: one exact pass + at
        most ⌈log2 k⌉ IVF passes over the corpus — callers memoize
        alongside the quantizer itself."""
        return IVFVectorIndex._sweep_n_probe(
            corpus,
            centroids,
            recall_target,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            max_queries=max_queries,
        )[0]

    @staticmethod
    def _sweep_n_probe(
        corpus: DataFrame,
        centroids: list[list[float]],
        recall_target: float,
        k: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 7,
        max_queries: int = 64,
    ) -> tuple[int, float]:
        """:meth:`select_n_probe`'s sweep, also returning the recall
        MEASURED at the returned width on the held-out set — so the
        staged :meth:`maybe_rebucket` plan can persist a receipt
        alongside the hint without re-running the sweep."""
        from .similarity import (
            brute_force_topk_vectorized,
            ivf_topk_vectorized,
        )

        # persist, not localCheckpoint: fully consumed inside this
        # function, so it can be RELEASED before returning (the logreg
        # r8 ADVICE discipline — checkpointed frames can never be)
        queries = (
            corpus.select(
                F.col(id_col).alias("q_id"),
                F.col(vec_col).alias("embedding"),
            )
            .withColumn("__h", F.xxhash64(F.lit(seed), F.col("q_id")))
            .orderBy("__h")
            .limit(max_queries)
            .drop("__h")
            .persist()
        )
        try:
            cand = corpus.select(
                F.col(id_col).alias("c_id"),
                F.col(vec_col).alias("embedding"),
            )
            exact = {
                (r["q_id"], r["c_id"])
                for r in brute_force_topk_vectorized(
                    queries, cand, k=k
                ).collect()
            }
            if not exact:
                return 1, 1.0
            n_probe = 1
            k_total = len(centroids)
            while True:
                got = {
                    (r["q_id"], r["c_id"])
                    for r in ivf_topk_vectorized(
                        queries,
                        cand,
                        centroids=centroids,
                        n_probe=min(n_probe, k_total),
                        k=k,
                    ).collect()
                }
                recall = len(got & exact) / len(exact)
                if recall >= recall_target or n_probe >= k_total:
                    return min(n_probe, k_total), recall
                n_probe *= 2
        finally:
            queries.unpersist()

    @staticmethod
    def select_adc_width(
        corpus: DataFrame,
        codebooks: list[list[list[float]]],
        recall_target: float,
        k: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 7,
        max_queries: int = 64,
        residual_centroids: list[list[float]] | None = None,
    ) -> int:
        """Recall-targeted ADC shortlist width (VERDICT r9 #3 — the
        :meth:`select_n_probe` twin for the PQ tier): the registered
        width (60) is a fixed constant; this makes it a measured
        decision. The same deterministic held-out query set (smallest
        ``xxhash64(seed, id)`` — replays pick identical queries) is
        scored exactly by brute force once; ADC scores over the full
        corpus are computed ONCE through the Arrow kernels and
        pinned; then a doubling ladder of shortlist widths (starting
        at ``k``) replays only the cheap tail — top-width cut, exact
        rescore of the shortlist rows, top-``k`` — until final
        recall@k meets ``recall_target``. Returns the first (smallest
        swept) width that does, or the corpus size if none short of
        rescoring everything suffices (at which point the rescore IS
        exact search).

        Orthogonality: this measures the SHORTLIST-width recall of
        the corpus-scan ADC form (the ``emb_pq_adc_knn`` semantics —
        ADC desc / id ties, exact-cosine rescore). ``probe_adc``
        composes it with the probe width, whose own recall knob is
        :meth:`select_n_probe`; the two sweeps are the two
        independent levers of IVF-PQ recall. Offline-decision cost:
        one exact pass + one encode/score pass + at most ⌈log₂ N/k⌉
        shortlist tails — callers memoize like the quantizer."""
        from .pq import (
            adc_score_cross_vectorized,
            encode_pq_vectorized,
            np_adc_luts,
        )
        from .similarity import brute_force_topk_vectorized

        queries = (
            corpus.select(
                F.col(id_col).alias("q_id"),
                F.col(vec_col).alias("embedding"),
            )
            .withColumn("__h", F.xxhash64(F.lit(seed), F.col("q_id")))
            .orderBy("__h")
            .limit(max_queries)
            .drop("__h")
            .persist()
        )
        scored = None
        try:
            cand = corpus.select(
                F.col(id_col).alias("c_id"),
                F.col(vec_col).alias("embedding"),
            )
            exact = {
                (r["q_id"], r["c_id"])
                for r in brute_force_topk_vectorized(
                    queries, cand, k=k
                ).collect()
            }
            if not exact:
                return k
            qrows = queries.collect()
            luts = {
                r["q_id"]: np_adc_luts(list(r["embedding"]), codebooks)
                for r in qrows
            }
            if residual_centroids is None:
                codes = encode_pq_vectorized(
                    corpus, codebooks, id_col=id_col, vec=vec_col
                )
                scored = adc_score_cross_vectorized(
                    codes, luts, len(codebooks), id_col=id_col
                ).persist()
            else:
                # residual-coded width selection: assign cells, encode
                # residuals (one Arrow stage), carry each candidate's
                # cell through the cross kernel, and restore the
                # coarse term via a broadcast (query, cell) scalar
                # join — the probe_adc residual semantics, measured
                # on the corpus-scan grid
                cents = residual_centroids
                if len(cents) >= _sim.ARROW_ASSIGN_MIN_K:
                    from .similarity import assign_cells_vectorized

                    assigned = assign_cells_vectorized(
                        corpus, cents, id_col=id_col, vec=vec_col
                    )
                else:
                    assigned = corpus.select(
                        F.col(id_col),
                        F.col(vec_col),
                        nearest_centroid(
                            F.col(vec_col), cents
                        ).alias("cell"),
                    )
                codes = encode_pq_vectorized(
                    assigned,
                    codebooks,
                    id_col=id_col,
                    vec=vec_col,
                    passthrough=("cell",),
                    residual_centroids=cents,
                    cell_col="cell",
                )
                # ⟨q, c⟩ for the |Q| × k grid via the kernels'
                # per-dimension-sequential accumulation (one numpy
                # sweep, bit-identical to the scalar fold the dot
                # expression evaluates — r11 review: the hand-rolled
                # triple loop was millions of interpreted ops at
                # production cell counts)
                import numpy as _np

                qm = _np.array(
                    [list(r["embedding"]) for r in qrows],
                    dtype=_np.float64,
                )
                cm = _np.array(cents, dtype=_np.float64)
                qc = _np.zeros((len(qrows), len(cents)))
                for i in range(qm.shape[1]):
                    qc = qc + qm[:, i][:, None] * cm[:, i][None, :]
                qc_rows = [
                    (r["q_id"], i, float(qc[a, i]))
                    for a, r in enumerate(qrows)
                    for i in range(len(cents))
                ]
                qcf = local_rows_df(
                    corpus.sparkSession,
                    qc_rows,
                    "q_id long, cell int, __qc double",
                )
                scored = (
                    adc_score_cross_vectorized(
                        codes,
                        luts,
                        len(codebooks),
                        id_col=id_col,
                        passthrough=("cell",),
                    )
                    .join(F.broadcast(qcf), ["q_id", "cell"])
                    .select(
                        "q_id",
                        "c_id",
                        (F.col("__adc") + F.col("__qc")).alias(
                            "__adc"
                        ),
                    )
                    .persist()
                )
            n_corpus = corpus.count()
            wsl = Window.partitionBy("q_id").orderBy(
                F.col("__adc").desc(), F.col("c_id")
            )
            wr = Window.partitionBy("q_id").orderBy(
                F.col("cos_sim").desc(), F.col("c_id")
            )
            width = k
            while True:
                short = (
                    scored.withColumn(
                        "__sr", F.row_number().over(wsl)
                    )
                    .where(F.col("__sr") <= min(width, n_corpus))
                    .select("q_id", "c_id")
                )
                rescored = (
                    F.broadcast(
                        short.join(
                            queries.select(
                                "q_id",
                                F.col("embedding").alias("__qv"),
                            ),
                            "q_id",
                        )
                    )
                    .join(
                        cand.select(
                            "c_id", F.col("embedding").alias("__cv")
                        ),
                        "c_id",
                    )
                    .select(
                        "q_id",
                        "c_id",
                        cosine(
                            F.col("__qv"), F.col("__cv")
                        ).alias("cos_sim"),
                    )
                )
                got = {
                    (r["q_id"], r["c_id"])
                    for r in rescored.withColumn(
                        "rank", F.row_number().over(wr)
                    )
                    .where(F.col("rank") <= k)
                    .collect()
                }
                if len(got & exact) / len(exact) >= recall_target:
                    return min(width, n_corpus)
                if width >= n_corpus:
                    return n_corpus
                width *= 2
        finally:
            queries.unpersist()
            if scored is not None:
                scored.unpersist()

    def probe(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 2,
        query_id: str = "q_id",
    ) -> DataFrame:
        """Exact-cosine top-k within each query's ``n_probe`` nearest
        inverted lists. Returns ``(query_id, c_id, cos_sim, rank)`` with
        the same ordering semantics as ``similarity.ivf_topk`` (ties
        break on corpus id), so the two share an oracle for identical
        parameters. The scan reads only touched ``cid=`` partitions."""
        q = self._rotated(queries).select(
            F.col(query_id), F.col(self.vec_col).alias("__qv")
        )
        qc = q.crossJoin(F.broadcast(self._centroid_df())).select(
            query_id,
            "__qv",
            "cid",
            cosine(F.col("__qv"), F.col("centroid")).alias("__csim"),
        )
        wq = Window.partitionBy(query_id).orderBy(
            F.col("__csim").desc(), F.col("cid")
        )
        probes = qc.withColumn("__pr", F.row_number().over(wq)).filter(
            F.col("__pr") <= n_probe
        ).select(query_id, "__qv", "cid")
        # union of touched lists: ≤ len(centroids) ints, driver-bounded
        touched = [r["cid"] for r in probes.select("cid").distinct().collect()]
        postings = self._live(
            self._read_postings().where(
                F.col("cid").isin(touched)
            )
        )
        scored = F.broadcast(probes).join(postings, "cid").select(
            query_id,
            F.col(self.id_col).alias("c_id"),
            cosine(F.col("__qv"), F.col(self.vec_col)).alias("cos_sim"),
        )
        # per-(query, candidate) fold: a replayed append leaves
        # bit-identical duplicate rows in a list, and an unfolded
        # row_number would hand one candidate two of the k slots —
        # max collapses them (single-row no-op otherwise), making
        # probe answers replay-TOLERANT like the other three indexes.
        # Map-side combine pre-shrinks before the rank shuffle.
        scored = scored.groupBy(query_id, "c_id").agg(
            F.max("cos_sim").alias("cos_sim")
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("cos_sim").desc(), F.col("c_id")
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    def probe_adc(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 2,
        shortlist: int = 60,
        query_id: str = "q_id",
        vectorized: bool = True,
    ) -> DataFrame:
        """IVF-PQ serving (the FAISS production shape, index-resident):
        the probed lists' candidates rank by ADC over the STORED PQ
        codes — the candidate scan projects ONLY ``(id, code*)``, so
        parquet column pruning never reads a full vector for the
        shortlist stage (plan-pinned: ReadSchema excludes the vector
        column — Spark's native form of FAISS's compressed lists) —
        and only each query's ``shortlist`` ADC survivors load their
        full vectors for the exact-cosine rescore. Same output
        contract as :meth:`probe` (``q_id, c_id, cos_sim, rank``;
        ranks exact over the rescored set). With every list probed,
        answers are decision-identical to the registered
        ``emb_pq_adc_knn`` corpus scan for the same shortlist
        (pinned in tests — the index changes WHERE bytes are read).
        Replay-duplicate rows fold per (query, candidate) max exactly
        like :meth:`probe`.

        ``vectorized`` (default, VERDICT r9 #2) scores the shortlist
        stage through the Arrow ADC kernel
        (:func:`~.pq.adc_score_pairs_vectorized`): per-query LUTs are
        built driver-side (the query frame is the caller-bounded
        small side this method already collects touched cells from)
        and each candidate batch is ``m`` numpy gathers — removing
        the ``m × ksub`` literal-expression tree whose one-time
        codegen compile dominated serving latency (measured: ~flat in
        data, seconds per JVM). ``vectorized=False`` keeps the pure
        expression form; the two are bit-identical (test-pinned), so
        answers never depend on the switch."""
        if "pq_md5" not in self.meta:
            raise ValueError(
                "probe_adc needs a PQ-coded store — build the index "
                "with pq_codebooks=..."
            )
        from .pq import (
            adc_luts,
            adc_score,
            adc_score_pairs_vectorized,
            np_adc_luts,
        )

        from .similarity import dot as _dot

        m = len(self.pq_codebooks)
        residual = self.pq_residual
        q = self._rotated(queries).select(
            F.col(query_id), F.col(self.vec_col).alias("__qv")
        )
        # residual stores restore the coarse term of the ADC proxy as
        # one ⟨q, centroid⟩ scalar per (query, probed cell) — computed
        # here where query × centroid pairs already exist for probe
        # ranking, so the correction costs no extra pass
        qc = q.crossJoin(F.broadcast(self._centroid_df())).select(
            query_id,
            "__qv",
            "cid",
            cosine(F.col("__qv"), F.col("centroid")).alias("__csim"),
            *(
                [_dot(F.col("__qv"), F.col("centroid")).alias("__qc")]
                if residual
                else []
            ),
        )
        wq = Window.partitionBy(query_id).orderBy(
            F.col("__csim").desc(), F.col("cid")
        )
        plan = qc.withColumn("__pr", F.row_number().over(wq)).filter(
            F.col("__pr") <= n_probe
        )
        code_cols = [f"code{s}" for s in range(m)]
        if vectorized:
            # ONE driver collect (queries × n_probe rows, caller-
            # bounded) hands back everything the serving pass needs:
            # the touched cells, each query's numpy LUT, and the
            # (query, cell) probe pairs — the expression path below
            # pays a separate job for the touched-cell collect AND
            # re-evaluates the centroid ranking inside the join
            sel_cols = [query_id, "__qv", "cid"] + (
                ["__qc"] if residual else []
            )
            rows = plan.select(*sel_cols).collect()
            luts = {}
            qcids = []
            for r in rows:
                qid = r[query_id]
                if qid not in luts:
                    luts[qid] = np_adc_luts(
                        list(r["__qv"]), self.pq_codebooks
                    )
                if residual:
                    qcids.append((qid, r["cid"], float(r["__qc"])))
                else:
                    qcids.append((qid, r["cid"]))
            touched = sorted({c[1] for c in qcids})
            # the probe frame's query-id type is copied from the
            # caller's schema (ADVICE r10: a hardcoded `long` broke
            # string-keyed query frames that the expression path
            # accepts); the ADC kernel passes ids through untouched
            q_type = queries.schema[query_id].dataType.simpleString()
            probes = local_rows_df(
                self.spark,
                qcids,
                f"{query_id} {q_type}, cid int"
                + (", __qc double" if residual else ""),
            )
        else:
            probes = plan.select(
                query_id,
                "__qv",
                "cid",
                *(["__qc"] if residual else []),
                *[
                    lut.alias(f"lut{s}")
                    for s, lut in enumerate(
                        adc_luts(F.col("__qv"), self.pq_codebooks)
                    )
                ],
            )
            touched = [
                r["cid"]
                for r in probes.select("cid").distinct().collect()
            ]
        posts = self._read_postings().where(F.col("cid").isin(touched))
        ord_cols = ["__ord"] if "__ord" in posts.columns else []
        # codes-only scan: the vector column is never projected here
        codes = self._live(
            posts.select(self.id_col, "cid", *ord_cols, *code_cols)
        )
        if vectorized:
            pairs = (
                F.broadcast(probes)
                .join(codes, "cid")
                .select(
                    query_id,
                    F.col(self.id_col).alias("c_id"),
                    *(["__qc"] if residual else []),
                    *code_cols,
                )
            )
            scored = adc_score_pairs_vectorized(
                pairs,
                luts,
                m,
                q_col=query_id,
                id_col="c_id",
                passthrough=("__qc",) if residual else (),
            )
            if residual:
                # restore the coarse term AFTER the full LUT sum —
                # the same add position as the expression path below,
                # so the two stay bit-identical
                scored = scored.select(
                    query_id,
                    "c_id",
                    (F.col("__adc") + F.col("__qc")).alias("__adc"),
                )
            scored = scored.groupBy(query_id, "c_id").agg(
                F.max("__adc").alias("__adc")
            )
        else:
            adc_expr = adc_score(m)
            if residual:
                adc_expr = adc_expr + F.col("__qc")
            scored = (
                F.broadcast(probes.drop("__qv"))
                .join(codes, "cid")
                .select(
                    query_id,
                    F.col(self.id_col).alias("c_id"),
                    adc_expr.alias("__adc"),
                )
                .groupBy(query_id, "c_id")
                .agg(F.max("__adc").alias("__adc"))
            )
        wsl = Window.partitionBy(query_id).orderBy(
            F.col("__adc").desc(), F.col("c_id")
        )
        short = (
            scored.withColumn("__sr", F.row_number().over(wsl))
            .where(F.col("__sr") <= shortlist)
            .select(query_id, "c_id")
        )
        # rescore: full vectors for the shortlist rows only, read from
        # the same touched lists; superseded versions mask via _live,
        # surviving duplicates are bit-identical replay copies —
        # dropDuplicates collapses them
        vecs = (
            self._live(
                posts.select(
                    self.id_col,
                    F.col(self.vec_col).alias("__cv"),
                    *ord_cols,
                )
            )
            .select(F.col(self.id_col).alias("c_id"), "__cv")
            .dropDuplicates(["c_id"])
        )
        rescored = (
            F.broadcast(short.join(q, query_id))
            .join(vecs, "c_id")
            .select(
                query_id,
                "c_id",
                cosine(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
            )
        )
        wr = Window.partitionBy(query_id).orderBy(
            F.col("cos_sim").desc(), F.col("c_id")
        )
        return (
            rescored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
        )

    def _local_store_state(self) -> tuple:
        """Cheap fingerprint of the persisted store's mutable parts
        (postings + roster dirs) — the resident-cell cache key; ONE
        shared implementation (compaction.dir_fingerprint). Any
        append/delete/compaction/rebucket touches one of these, so a
        changed state drops the cache (and triggers the cross-process
        quantizer reload in probe_local)."""
        from .compaction import dir_fingerprint

        return dir_fingerprint(self._postings_dir(), self._latest_dir())

    def _local_roster(self):
        """The _roster fold in pandas: per updated/deleted id, the
        latest action as (ordinal, tombstone) — max on the pair,
        tombstone winning ordinal ties (True > False)."""
        import os

        import numpy as np
        import pandas as pd
        import pyarrow.parquet as papq

        from .compaction import _data_files

        latest = self._latest_dir()
        if not os.path.isdir(latest):
            return None
        frames = []
        for fn in _data_files(latest):
            tab = papq.read_table(os.path.join(latest, fn))
            r = {
                "__rid": tab.column("__rid").to_pandas(),
                "__rord": tab.column("__rord").to_pandas(),
            }
            if "__rdel" in tab.schema.names:
                rd = tab.column("__rdel").to_pandas()
                r["__rdel"] = np.where(rd.isna(), False, rd).astype(
                    bool
                )
            else:
                r["__rdel"] = np.zeros(len(tab), dtype=bool)
            frames.append(pd.DataFrame(r))
        if not frames:
            return None
        return (
            pd.concat(frames, ignore_index=True)
            .sort_values(
                ["__rid", "__rord", "__rdel"], kind="stable"
            )
            .groupby("__rid", as_index=False)
            .last()
        )

    def _load_cell_local(self, cid: int, roster):
        """One ``cid=`` list read via pyarrow and LIVE-masked
        (_live's rule in numpy: keep rows with no roster entry, or
        strictly above the id's latest ordinal, or at it when that
        action was an add), returned as resident numpy arrays:
        ``(ids, codes m×n, vecs n×dim float64)``."""
        import os

        import numpy as np
        import pyarrow.parquet as papq

        from .compaction import _data_files

        m = len(self.pq_codebooks)
        d = os.path.join(self._postings_dir(), f"cid={cid}")
        ids, ords, codes, vecs = [], [], [], []
        for fn in _data_files(d):
            tab = papq.read_table(os.path.join(d, fn))
            n = len(tab)
            if n == 0:
                continue
            ids.append(
                np.asarray(tab.column(self.id_col), dtype=np.int64)
            )
            if "__ord" in tab.schema.names:
                o = tab.column("__ord").to_pandas()
                ords.append(
                    np.where(o.isna(), 0, o).astype(np.int64)
                )
            else:
                ords.append(np.zeros(n, dtype=np.int64))
            codes.append(
                np.stack(
                    [
                        np.asarray(
                            tab.column(f"code{s}"), dtype=np.int64
                        )
                        for s in range(m)
                    ]
                )
            )
            vecs.append(
                np.array(
                    tab.column(self.vec_col).to_pylist(),
                    dtype=np.float64,
                )
            )
        if not ids:
            dim = len(self.centroids[0])
            return (
                np.empty(0, dtype=np.int64),
                np.empty((m, 0), dtype=np.int64),
                np.empty((0, dim), dtype=np.float64),
            )
        id_a = np.concatenate(ids)
        ord_a = np.concatenate(ords)
        code_a = np.concatenate(codes, axis=1)
        vec_a = np.concatenate(vecs, axis=0)
        if roster is not None:
            ros = roster.set_index("__rid")
            ridx = ros.index.get_indexer(id_a)
            has = ridx >= 0
            rord = np.zeros(len(id_a), dtype=np.int64)
            rdel = np.zeros(len(id_a), dtype=bool)
            rord[has] = ros["__rord"].to_numpy()[ridx[has]]
            rdel[has] = ros["__rdel"].to_numpy()[ridx[has]]
            keep = (
                ~has
                | (ord_a > rord)
                | ((ord_a == rord) & ~rdel)
            )
            id_a = id_a[keep]
            code_a = code_a[:, keep]
            vec_a = vec_a[keep]
        return (id_a, code_a, vec_a)

    @probe_local_retry("_plc_state")
    def probe_local(
        self,
        qvec,
        k: int = 10,
        n_probe: int = 2,
        shortlist: int = 60,
    ) -> list[tuple[int, float, int]]:
        """Single-query point serving OUTSIDE Spark (r12, VERDICT r11
        #3): score one query against the persisted store entirely on
        the driver — the probed ``cid=`` lists live as RESIDENT numpy
        arrays (read once via pyarrow, live-masked, cached on the
        index object — the FAISS in-RAM-index posture; any store
        mutation drops the cache via a directory-state fingerprint),
        :func:`~.pq.np_adc_luts` builds the ADC tables, and the
        rescore is numpy — no Spark job, no JVM round-trip.
        Interactive lookup is not Spark's regime (EXPLAIN.md's
        serving-posture note); this is the executable form of that
        posture, for the point-lookup latency class the reference
        served from sqlite (exo_2.py:204-217).

        Bit-identical to :meth:`probe_adc`'s answer for the same
        (query, k, n_probe, shortlist) — pinned in tests — because
        every float takes the same op sequence: probe selection and
        rescore cosines are the ``cosine()`` expression's 0.0-seeded
        sequential folds (scalar loop / per-dimension-sequential
        accumulation, the brute_force_topk_vectorized discipline),
        the ADC sum is the kernel's left-associated ``m``-gather add
        chain with the residual coarse term restored AFTER the full
        sum, and the live/supersession mask replays ``_live``'s
        roster rule (highest ordinal wins; tombstone wins ties).
        Returns ``[(c_id, cos_sim, rank)]``.

        Cost model: first touch of a list pays its pyarrow read
        (cold ∝ the probed fraction of the store); thereafter the
        query costs ``m`` LUT gathers over the resident codes plus a
        ``shortlist``-row rescore — milliseconds, vs seconds of
        Spark job overhead for the same single query (measured in
        SCALE.md). For fleets of queries, use :meth:`probe_adc` —
        the batch path amortizes one scan across all queries."""
        if "pq_md5" not in self.meta:
            raise ValueError(
                "probe_local needs a PQ-coded store — build the index "
                "with pq_codebooks=..."
            )
        import math

        import numpy as np

        from .pq import np_adc_luts

        q = [float(x) for x in qvec]
        if self.opq_rotation is not None:
            # same op sequence as the batch path's rotate kernel:
            # float64 matmul then a float32 round-trip, so the local
            # probe scores the bit-identical rotated query
            q = [
                float(v)
                for v in (
                    np.asarray(q, dtype=np.float64)
                    @ np.asarray(self.opq_rotation, dtype=np.float64)
                ).astype(np.float32)
            ]

        def _sdot(a, b):
            # the dot() expression's exact op order: 0.0-seeded
            # sequential float64 fold in array order
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + float(x) * float(y)
            return acc

        qn = _sdot(q, q)
        state = self._local_store_state()
        if getattr(self, "_plc_state", None) != state:
            # CROSS-PROCESS rebucket check (r13 review): the store
            # mutated under this handle, and if the mutation was a
            # rebucket, the resident centroids/quantizer no longer
            # describe the cid= layout — reload meta + quantizer +
            # serving hints from their persisted files before any
            # cell arithmetic (the in-process case is caught by the
            # identity check below).
            meta_path = os.path.join(self.path, "meta", "meta.json")
            with open(meta_path) as f:
                stored = json.load(f)
            if stored.get("centroids_md5") != self.meta.get(
                "centroids_md5"
            ):
                with open(
                    self._quantizer_file(stored["centroids_md5"])
                ) as f:
                    quant = json.load(f)
                self.meta = stored
                self.centroids = quant["centroids"]
                self.n_probe_hint = (
                    quant.get("n_probe") or self.n_probe_hint
                )
                self.adc_shortlist_hint = (
                    quant.get("adc_shortlist")
                    or self.adc_shortlist_hint
                )
        if (
            getattr(self, "_plc_state", None) != state
            or getattr(self, "_plc_cent_src", None) is not self.centroids
        ):
            # one guard invalidates EVERYTHING resident: the cells,
            # the roster, and the centroid matrix. The identity check
            # on self.centroids catches an in-process maybe_rebucket
            # that retrained the SAME k (r12 review: a length-keyed
            # cache served stale centroids against the new layout).
            self._plc_state = state
            self._plc_cent_src = self.centroids
            self._plc_cells = {}
            self._plc_roster = self._local_roster()
            C = np.asarray(self.centroids, dtype=np.float64)
            cn = np.zeros(len(C))
            for i in range(C.shape[1]):
                cn += C[:, i] * C[:, i]
            self._plc_cent_mat = C
            self._plc_cent_norms = cn
        # centroid ranking, vectorized in the scalar fold's exact op
        # order: per-dimension-sequential accumulation across the
        # centroid matrix is the same add sequence per centroid as
        # the 0.0-seeded scalar loop (the kernel discipline)
        C = self._plc_cent_mat
        cn = self._plc_cent_norms
        dots = np.zeros(len(C))
        for i in range(C.shape[1]):
            dots += q[i] * C[:, i]
        csim = dots / np.sqrt(qn * cn)
        # (csim desc, cid asc) — row_number's order in probe_adc.
        # NaN (a zero-norm centroid or query) maps to +inf first:
        # Spark sorts NaN GREATEST, numpy sorts it last — without the
        # substitution the two paths would rank degenerate cells
        # differently (r12 review).
        order_c = np.lexsort(
            (np.arange(len(C)), -np.where(np.isnan(csim), np.inf, csim))
        )
        probed = [int(c) for c in order_c[:n_probe]]
        residual = self.pq_residual
        luts = np_adc_luts(q, self.pq_codebooks)
        m = len(self.pq_codebooks)
        cells = []
        for cid in probed:
            cell = self._plc_cells.get(cid)
            if cell is None:
                cell = self._load_cell_local(cid, self._plc_roster)
                self._plc_cells[cid] = cell
            cells.append((cid, cell))

        ids_parts, adc_parts = [], []
        for cid, (ids, codes, vecs) in cells:
            if not len(ids):
                continue
            # the kernel's left-associated m-gather add chain
            acc = luts[0][codes[0]]
            for s in range(1, m):
                acc = acc + luts[s][codes[s]]
            if residual:
                # coarse term restored AFTER the full LUT sum — the
                # probe_adc add position; dots[cid] IS the _dot(q,
                # centroid) expression's sequential fold
                acc = acc + float(dots[cid])
            ids_parts.append(ids)
            adc_parts.append(acc)
        if not ids_parts:
            return []
        all_ids = np.concatenate(ids_parts)
        all_adc = np.concatenate(adc_parts)
        all_vecs = np.concatenate(
            [vecs for _cid, (_ids, _codes, vecs) in cells if len(_ids)],
            axis=0,
        )
        # replay-duplicate fold (probe_adc's groupBy max) + the
        # (adc desc, id asc) shortlist cut, fully vectorized: in
        # (adc desc, id asc) order, each id's FIRST occurrence
        # carries its max adc, and the first `shortlist` distinct
        # ids are exactly the top-shortlist of the max-folded frame
        # (a later duplicate never raises a max); np.unique's
        # return_index gives those first occurrences.
        order = np.lexsort(
            (all_ids, -np.where(np.isnan(all_adc), np.inf, all_adc))
        )
        ordered_ids = all_ids[order]
        _, first_idx = np.unique(ordered_ids, return_index=True)
        first_idx.sort()
        top = order[first_idx[:shortlist]]
        # rescore the shortlist rows (each row IS one live id's
        # vector; surviving replay copies are bit-identical, so the
        # first occurrence matches dropDuplicates): per-dimension-
        # sequential accumulation, the cosine() expression's op order
        dim = len(q)
        sel_ids = all_ids[top]
        V = all_vecs[top].astype(np.float64, copy=False)
        dot = np.zeros(len(sel_ids))
        cnorm = np.zeros(len(sel_ids))
        for i in range(dim):
            dot += q[i] * V[:, i]
            cnorm += V[:, i] * V[:, i]
        cos = dot / np.sqrt(qn * cnorm)
        # NaN-greatest final rank, matching Spark's desc order on
        # degenerate (zero-norm) vectors
        out = sorted(
            zip(sel_ids.tolist(), cos.tolist()),
            key=lambda t: (
                -(float("inf") if t[1] != t[1] else t[1]),
                t[0],
            ),
        )
        return [
            (int(cid_), cs, rank + 1)
            for rank, (cid_, cs) in enumerate(out[:k])
        ]

    def semantic_dedup(
        self,
        threshold: float = 0.35,
        order_col: str | None = None,
        order_desc: bool = False,
    ) -> DataFrame:
        """SemDeDup over the INDEX (the 100 TB form of
        ``similarity.semantic_dedup``): the stored ``cid`` partition
        value IS the cell assignment, so the three argmax projections
        the standalone operator spends per run cost nothing here —
        one build amortizes assignment across every later dedup,
        probe, and refresh, and ``append`` keeps the index current
        without touching historical lists. The dominance/audit stage
        is literally shared code (``similarity._dominance_audit``) —
        same rule, same output frame ``(id, cell, dup_of, is_kept)``,
        decision-identical to the standalone operator on the same
        corpus and centroids (pinned in tests) — so the quality keep
        rule (``order_col``/``order_desc``) works here too, against a
        column stored in the postings."""
        from .similarity import _dominance_audit, norm_sq

        posts = self._live(self._read_postings())
        assigned = posts.select(
            F.col(self.id_col),
            F.col(self.vec_col).alias("__v"),
            F.col("cid").alias("cell"),
            *([F.col(order_col).alias("__o")] if order_col else []),
        ).withColumn("__n2", norm_sq(F.col("__v")))
        return _dominance_audit(
            assigned,
            id_col=self.id_col,
            threshold=threshold,
            has_order=bool(order_col),
            order_desc=order_desc,
        )
