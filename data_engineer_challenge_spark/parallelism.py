"""Conditional work-spreading for the Arrow/expression kernels (r14,
guide §2.4 — remove shuffles outright).

Several operators repartition their input to ``defaultParallelism``
before a per-row hashing/scoring kernel. The repartition exists for
ONE reason: a small input (one parquet file at the bench scale factors)
scans as a single task, and without the spread the kernel runs
one-core. But the repartition was unconditional, so at 100 TB — where
the scan already yields thousands of partitions — every one of those
operators paid a full shuffle of its payload (document text, embedding
vectors) purely to fix a local-mode parallelism problem that no longer
exists. Every kernel behind these call sites is row-deterministic
(hashes, signatures, codecs), so partitioning never changes results —
only where rows are computed.

:func:`spread` keeps the local behavior (below-parallelism inputs
still spread, bench timings unchanged) and removes the scale shuffle
(an input already at/above ``defaultParallelism`` passes through
untouched — plan-pinned by tests/test_operators.py).

Probe discipline (r15, ADVICE r14): the r14 probe was
``df.rdd.getNumPartitions()`` — with AQE on, ``.rdd`` finalizes the
adaptive plan, which EXECUTES every upstream query stage; those
shuffle/broadcast jobs are not reused by the later action, so any
call site feeding a non-scan frame paid its upstream work twice. The
probe is now plan-shaped and job-free: a frame whose optimized plan
is a narrow chain (project/filter) over a file relation gets its scan
parallelism ESTIMATED from the file sizes against the session's split
settings (the same arithmetic Spark's FilePartition packing uses);
anything else — upstream exchanges, cached inputs, local relations —
falls back to the unconditional repartition (the pre-r14 behavior,
always correct, never double-executes).

Pitfall: a filter on a kernel's OUTPUT placed after the spread is
pushed below its repartition. ``spread(df, k).withColumn("h",
kernel(c)).filter(size("h") > 0)`` optimizes to a filter that runs
``kernel`` on the scan's tasks (one task for a single-file input),
under the exchange, and the projection runs it again above it. Either
filter on a frame cached after the kernel (Catalyst cannot push past
the cache; ``operators/text_dedup.cached_shingles``) or filter on a
predicate over the input columns only.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame

#: optimized-logical-plan node names that keep a frame "scan-shaped":
#: nothing below them changes the scan's partitioning and nothing
#: above them introduces an exchange. Generate (explode) and the
#: map-in-batch nodes are partition-preserving maps.
_NARROW_NODES = frozenset(
    {"Project", "Filter", "Generate", "MapInArrow", "MapInPandas"}
)
_LEAF_NODES = frozenset({"LogicalRelation", "Relation"})


def _scan_parallelism(df: DataFrame) -> int | None:
    """Estimated scan partition count for a narrow-chain-over-files
    frame, or None when the plan is not that shape (caller then
    repartitions unconditionally). Driver-side only: walks the
    optimized logical plan (no job — optimization is planning, not
    execution) and stats the input files locally."""
    try:
        jplan = df._jdf.queryExecution().optimizedPlan()
        stack = [jplan]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            kids = node.children()
            n_kids = kids.size()
            if n_kids == 0:
                if name not in _LEAF_NODES:
                    return None
            elif name not in _NARROW_NODES or n_kids != 1:
                return None
            for i in range(n_kids):
                stack.append(kids.apply(i))
        files = df.inputFiles()
        if not files:
            return None
        sess = df.sparkSession
        conf = sess._jsparkSession.sessionState().conf()
        max_split = int(conf.filesMaxPartitionBytes())
        open_cost = int(conf.filesOpenCostInBytes())
        total = 0
        for f in files:
            path = f[7:] if f.startswith("file:") and f[5:7] == "//" else f
            if path.startswith("file:"):
                path = path[5:]
            total += os.path.getsize(path) + open_cost
        # Spark's split sizing: bytes-per-core caps the split when the
        # input is small, bounded below by openCost and above by
        # maxPartitionBytes; partitions ≈ packed total / split size
        par = sess.sparkContext.defaultParallelism
        bytes_per_core = total / max(par, 1)
        split = min(max_split, max(open_cost, int(bytes_per_core)))
        return max(1, math.ceil(total / max(split, 1)))
    except Exception:
        return None  # no proof — fall back to the unconditional path


def spread(
    df: DataFrame, *key_cols: str, min_partitions: int | None = None
) -> DataFrame:
    """``df`` repartitioned by ``key_cols`` to ``min_partitions``
    (default ``defaultParallelism``) unless a job-free probe proves
    its scan parallelism is already at/above that — identity then."""
    par = (
        min_partitions
        if min_partitions is not None
        else df.sparkSession.sparkContext.defaultParallelism
    )
    est = _scan_parallelism(df)
    if est is not None and est >= par:
        return df
    return df.repartition(par, *key_cols)
