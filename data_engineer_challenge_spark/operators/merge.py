"""Warehouse tables + MERGE upsert (SURVEY.md §2.5 K1-K4, §4.3.4).

The reference upserts by UPDATE-every-row-then-INSERT-anti-join
(exo_1.py:206-209) against SQLite. The Spark-native equivalent is
``MERGE INTO`` on a transactional table format; Delta isn't on this
classpath, so ``ParquetWarehouse`` implements the observable MERGE
semantics over plain parquet: matched keys take the source row,
unmatched target rows survive, new source rows append — one anti-join
plus a union, staged to a new directory and swapped in with a crash
window that degrades to the previous snapshot (never an empty table).
The partition-pruned MERGE path has a different, per-partition crash
window — see ``_merge_pruned``; replaying the micro-batch heals it.

Tables created with ``overwrite_partitioned`` get a Delta-style
key-hash partition layout (``__pkey=N`` directories): ``merge_upsert``
then rewrites ONLY the partitions containing touched keys — at 100 TB
a streaming micro-batch touches a handful of keys, and the full-table
rewrite is the scale-killer. Untouched partition files stay
byte-identical (tested).

On a cluster with Delta/Iceberg available, ``merge_upsert`` is the
single seam to replace with a real ``MERGE INTO``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: derived partition column for the pruned-MERGE layout
PKEY = "__pkey"
_META = "_wh_meta.json"  # leading underscore: invisible to parquet scans


def _pkey_col(keys: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


class ParquetWarehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _live_path(self, table: str) -> str:
        """The readable snapshot: the table dir, or the ``.old`` one a
        crashed swap left behind (degrade to the previous snapshot,
        never to a missing table)."""
        final = self.path(table)
        if not os.path.isdir(final) and os.path.isdir(final + ".old"):
            return final + ".old"
        return final

    def exists(self, table: str) -> bool:
        return os.path.isdir(self._live_path(table))

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(self._live_path(table))
        return df.drop(PKEY) if PKEY in df.columns else df

    def overwrite(self, table: str, df: DataFrame) -> None:
        self._stage_and_swap(table, df)

    def overwrite_partitioned(
        self, table: str, df: DataFrame, keys: Sequence[str], n_buckets: int = 16
    ) -> None:
        """Write the table in the key-hash-partitioned layout that
        makes merge_upsert partition-pruned. ``n_buckets`` bounds the
        number of ``__pkey=N`` directories; size it so one bucket's
        rewrite fits comfortably in a merge's time budget (more buckets
        = finer pruning, more small files)."""
        out = df.withColumn(PKEY, _pkey_col(keys, n_buckets))
        self._stage_and_swap(
            table,
            out,
            # rebalance on the partition key before the partitioned
            # write (r14, guide §6): without it every upstream task
            # writes a part-file into every __pkey dir it touches —
            # tasks × buckets files per write (measured 512 files /
            # 1.97 s vs 16 files / 0.69 s at sf0.1). AQE sizes the
            # post-shuffle partitions, so at 100 TB a fat bucket
            # splits into several advisory-sized files instead of
            # pinning one task per bucket.
            writer=lambda d, p: d.hint("rebalance", PKEY)
            .write.partitionBy(PKEY)
            .mode("overwrite")
            .parquet(p),
            meta={"partition_keys": list(keys), "n_buckets": n_buckets},
        )

    def _meta(self, table: str) -> dict | None:
        mp = os.path.join(self._live_path(table), _META)
        if os.path.isfile(mp):
            with open(mp) as fh:
                return json.load(fh)
        return None

    def _recover_swap(self, table: str) -> None:
        """Heal a crashed :meth:`_stage_and_swap`: if only the ``.old``
        snapshot survived (crash between the two renames), restore it
        as the live table. Reads degrade through :meth:`_live_path`
        without this, but in-place paths (the pruned MERGE) operate on
        ``path(table)`` directly and need the real directory back.

        If BOTH directories survived (crash between the final rename
        and the ``.old`` cleanup), the ``.old`` copy is stale — drop
        it here, because the pruned-merge path never goes through
        :meth:`_stage_and_swap`'s own leftover cleanup and would
        otherwise carry a full shadow copy of the table forever."""
        final = self.path(table)
        old = final + ".old"
        if os.path.isdir(old):
            if os.path.isdir(final):
                shutil.rmtree(old)  # stale: the swap completed
            else:
                os.rename(old, final)
        # sweep staging leftovers from crashed/failed attempts — they
        # only ever become live via rename, so any still on disk is
        # garbage (single-writer model, same as the swap protocol)
        parent, base = os.path.split(final)
        for entry in os.listdir(parent or "."):
            if entry.startswith(base + ".staging-"):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        self._recover_partitions(final)

    def _recover_partitions(self, final: str) -> None:
        """Heal a crashed per-partition swap (:meth:`_merge_pruned`):
        the old partition content is parked as a hidden
        ``.old-__pkey=N`` dir before the new dir renames in, so a crash
        between the two renames leaves the partition missing but its
        previous snapshot intact — restore it here. A parked dir next
        to a LIVE partition means the swap completed and the park is
        stale — drop it. Hidden (dot-prefixed) dirs are invisible to
        Spark's partition discovery, so readers never see them."""
        if not os.path.isdir(final):
            return
        prefix = ".old-" + PKEY + "="
        for entry in os.listdir(final):
            if not entry.startswith(prefix):
                continue
            parked = os.path.join(final, entry)
            live = os.path.join(final, entry[len(".old-"):])
            if os.path.isdir(live):
                shutil.rmtree(parked)
            else:
                os.rename(parked, live)

    def _check_unique_source(
        self, source: DataFrame, keys: Sequence[str], table: str
    ) -> None:
        """Real ``MERGE INTO`` raises when several source rows match
        one target row; silently unioning both copies would leave the
        table with duplicate keys forever. One small aggregation over
        the (micro-batch-sized) source."""
        dup = (
            source.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key_vals = {k: dup[0][k] for k in keys}
            raise ValueError(
                f"merge_upsert into {table!r}: source has multiple rows "
                f"for key {key_vals} — dedup the source first (e.g. "
                "keep_first_dedup); a keyed MERGE must see at most one "
                "source row per key"
            )

    def merge_upsert(
        self, table: str, source: DataFrame, keys: Sequence[str]
    ) -> None:
        """MERGE semantics (K4): WHEN MATCHED UPDATE SET *,
        WHEN NOT MATCHED INSERT *. Idempotent: merging the same source
        twice leaves the table unchanged (tested), which is also the
        crash-recovery contract of the pruned path — see
        :meth:`_merge_pruned`.

        On a partitioned table (see :meth:`overwrite_partitioned`) only
        the ``__pkey`` partitions containing source keys are read and
        rewritten — partition pruning on the scan, dynamic partition
        overwrite on the write; untouched partition files are not
        rewritten. A partitioned table must be merged on its partition
        keys: anything else would silently rewrite the table without
        its layout, so it raises. Unpartitioned tables use the full
        staged rewrite. A source with duplicate keys raises (real
        MERGE INTO semantics) instead of silently breaking the
        table's key invariant.

        On both paths the source plan runs once: it is cached, the
        duplicate-key guard's action fills the cache and the write
        reads it back (tested with a row-counting UDF)."""
        self._recover_swap(table)
        meta = self._meta(table) if self.exists(table) else None
        if meta is not None:
            if list(keys) != meta["partition_keys"]:
                raise ValueError(
                    f"table {table!r} is partitioned on "
                    f"{meta['partition_keys']} but merge_upsert was "
                    f"called with keys {list(keys)}; merging on other "
                    "keys would drop the partition layout (rebuild via "
                    "overwrite_partitioned if the key change is "
                    "intentional)"
                )
            self._merge_pruned(table, source, keys, meta["n_buckets"])
            return
        # the guard's action fills the cache and the write reads it:
        # the source plan runs once, and the rows written are the rows
        # checked even when the source is non-deterministic
        src = source.cache()
        try:
            self._check_unique_source(src, keys, table)
            if not self.exists(table):
                self._stage_and_swap(table, src)
                return
            target = self.read(table)
            kept = target.join(src.select(*keys), on=list(keys), how="left_anti")
            self._stage_and_swap(table, kept.unionByName(src))
        finally:
            src.unpersist()

    def _merge_pruned(
        self, table: str, source: DataFrame, keys: Sequence[str], n_buckets: int
    ) -> None:
        """Crash contract: the commit swaps one partition directory at
        a time, so — unlike :meth:`_stage_and_swap`'s whole-table
        ``.old`` window — a crash mid-commit leaves some touched
        partitions merged and others on their previous content. No
        partition is ever half-written and no crash instant can
        destroy previous content (the old dir is parked hidden before
        the new one renames in; :meth:`_recover_partitions` restores
        or discards parks — in-process on a mid-commit error, else on
        the next merge), and the merge is idempotent on the keys, so
        replaying the same micro-batch converges to the fully-merged
        table (tested). Readers are NOT isolated from an in-flight
        commit: between the two renames a concurrent read misses that
        partition entirely (the park is dot-hidden) — durability, not
        snapshot isolation; single-writer, reader-sees-commit-boundary
        deployments need the transactional formats below. This
        per-partition window is the price of not rewriting 100 TB per
        batch; a transactional format (Delta/Iceberg) closes it with a
        metadata commit.

        The merged rows are written ONCE, partitioned, to a staging
        dir (reading and overwriting the same files in one job is
        illegal), then each touched ``__pkey=N`` dir renames into
        place — O(touched) metadata ops. The earlier form paid a
        second full Spark job (unpartitioned staging, re-read, dynamic
        partition overwrite) that rewrote every merged row twice and
        inherited the committer's delete-before-rename loss window."""
        final = self.path(table)
        # the micro-batch is used twice (touched-bucket scan, then the
        # union) — cache it rather than recompute the source plan
        src = source.withColumn(PKEY, _pkey_col(keys, n_buckets)).cache()
        try:
            self._check_unique_source(src, keys, table)
            touched = sorted(r[0] for r in src.select(PKEY).distinct().collect())
            if not touched:
                return  # empty micro-batch (a streaming replay tick):
                # nothing to merge, and an empty staging dir would fail
                # schema inference on the re-read
            if not any(e.startswith(f"{PKEY}=") for e in os.listdir(final)):
                # table was created EMPTY (no partition dirs yet —
                # the create-then-stream-into lifecycle): nothing to
                # anti-join against, and parquet schema inference
                # would fail on the part-file-less directory. Append
                # the whole batch as the first partitions.
                src.hint("rebalance", PKEY).write.mode("append").partitionBy(
                    PKEY
                ).parquet(final)
                return
            # partition pruning: only touched __pkey dirs are scanned
            tgt = self.spark.read.parquet(final).filter(F.col(PKEY).isin(touched))
            kept = tgt.drop(PKEY).join(
                src.select(*keys), on=list(keys), how="left_anti"
            )
            merged = kept.withColumn(PKEY, _pkey_col(keys, n_buckets)).unionByName(src)
            # materialize to staging first — never read and overwrite
            # the same partition files in one job. merged only carries
            # pkeys from `touched`, so staging holds exactly the
            # touched partition dirs.
            staging = f"{final}.staging-{uuid.uuid4().hex[:8]}"
            # one ~file per touched bucket instead of tasks × buckets
            # (the overwrite_partitioned writer's rationale)
            merged.hint("rebalance", PKEY).write.mode("overwrite").partitionBy(
                PKEY
            ).parquet(staging)
            try:
                for entry in os.listdir(staging):
                    if not entry.startswith(PKEY + "="):
                        continue
                    dst = os.path.join(final, entry)
                    parked = os.path.join(final, ".old-" + entry)
                    if os.path.isdir(dst):
                        os.rename(dst, parked)
                    os.rename(os.path.join(staging, entry), dst)
                    if os.path.isdir(parked):
                        shutil.rmtree(parked)
            except BaseException:
                # a non-crash failure mid-loop (ENOSPC, EACCES) must not
                # leave a parked partition invisible to readers until
                # some future merge happens to heal it — restore in
                # process, then surface the error
                self._recover_partitions(final)
                raise
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        finally:
            src.unpersist()

    def _stage_and_swap(
        self, table: str, df: DataFrame, writer=None, meta: dict | None = None
    ) -> None:
        final = self.path(table)
        old = final + ".old"
        staging = f"{final}.staging-{uuid.uuid4().hex[:8]}"
        # writing the staging dir materializes the plan (which may read
        # the current table) BEFORE the old data is moved aside; a
        # failed write must not leak a table-sized staging copy (a
        # hard crash can still leak one — _recover_swap sweeps those)
        try:
            if writer is None:
                df.write.mode("overwrite").parquet(staging)
            else:
                writer(df, staging)
            if meta is not None:
                with open(os.path.join(staging, _META), "w") as fh:
                    json.dump(meta, fh)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if os.path.isdir(old):
            shutil.rmtree(old)  # leftover from a previous crashed swap
        if os.path.isdir(final):
            os.rename(final, old)  # keep the previous snapshot until
        os.rename(staging, final)  # the new one is in place
        if os.path.isdir(old):
            shutil.rmtree(old)


def scd2_upsert(
    wh: ParquetWarehouse,
    table: str,
    source: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    batch_id: int,
) -> None:
    """Slowly-changing-dimension type-2 upsert: instead of overwriting
    (the reference's UPDATE loop loses history, exo_1.py:134-155), each
    change closes the current row and appends a new version.

    Table gains: __version (per-key ordinal), __valid_from_batch,
    __valid_to_batch (null = current), __is_current.

    One pass: join current rows to the source on the key; unchanged
    rows stay; changed rows are closed (valid_to = batch) and a new
    version appends; brand-new keys start at version 1.

    Scale contract: each batch rewrites the FULL history table —
    right for the dimension-sized tables SCD2 exists for (patients,
    products), wrong for a fact table; facts belong in
    :meth:`ParquetWarehouse.merge_upsert`'s partition-pruned path.
    """
    from pyspark.sql import functions as F

    src = source.select(*keys, *compare_cols).dropDuplicates(list(keys))

    if not wh.exists(table):
        initial = (
            src.withColumn("__version", F.lit(1).cast("int"))
            .withColumn("__valid_from_batch", F.lit(batch_id).cast("long"))
            .withColumn("__valid_to_batch", F.lit(None).cast("long"))
            .withColumn("__is_current", F.lit(True))
        )
        wh.overwrite(table, initial)
        return

    target = wh.read(table)
    history = target.filter(~F.col("__is_current"))
    current = target.filter(F.col("__is_current"))

    cmp_src = src.select(
        *[F.col(k) for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("__new_vals"),
    )
    joined = current.join(cmp_src, on=list(keys), how="full_outer")
    old_vals = F.struct(*[F.col(c) for c in compare_cols])

    # eqNullSafe: plain struct == yields NULL when a field is null on
    # either side, which would silently drop the row from every branch
    unchanged = joined.filter(
        F.col("__new_vals").isNotNull()
        & F.col("__version").isNotNull()
        & old_vals.eqNullSafe(F.col("__new_vals"))
    ).select(*target.columns)

    # rows whose key vanished from the source stay current (the CDW
    # feed is a full snapshot but absence != deletion, SURVEY §2.7)
    vanished = joined.filter(F.col("__new_vals").isNull()).select(*target.columns)

    changed = joined.filter(
        F.col("__new_vals").isNotNull()
        & F.col("__version").isNotNull()
        & ~old_vals.eqNullSafe(F.col("__new_vals"))
    )
    closed = changed.select(
        *[F.col(c) for c in target.columns if c != "__valid_to_batch" and c != "__is_current"],
        F.lit(batch_id).cast("long").alias("__valid_to_batch"),
        F.lit(False).alias("__is_current"),
    ).select(*target.columns)
    reopened = changed.select(
        *[F.col(k) for k in keys],
        *[F.col("__new_vals").getField(c).alias(c) for c in compare_cols],
        (F.col("__version") + 1).cast("int").alias("__version"),
        F.lit(batch_id).cast("long").alias("__valid_from_batch"),
        F.lit(None).cast("long").alias("__valid_to_batch"),
        F.lit(True).alias("__is_current"),
    ).select(*target.columns)

    brand_new = joined.filter(
        F.col("__new_vals").isNotNull() & F.col("__version").isNull()
    ).select(
        *[F.col(k) for k in keys],
        *[F.col("__new_vals").getField(c).alias(c) for c in compare_cols],
        F.lit(1).cast("int").alias("__version"),
        F.lit(batch_id).cast("long").alias("__valid_from_batch"),
        F.lit(None).cast("long").alias("__valid_to_batch"),
        F.lit(True).alias("__is_current"),
    ).select(*target.columns)

    result = history.unionByName(unchanged).unionByName(vanished).unionByName(
        closed
    ).unionByName(reopened).unionByName(brand_new)
    wh.overwrite(table, result)
