"""Join operators (SURVEY.md §2.3 J3-J5, §2.1 S6).

The reference resolves each document to a patient with one SQL point
query per document (exo_2.py:204-217, N round-trips) and computes
insert sets with pandas ``~isin`` (exo_1.py:199-204). Both are joins:
a broadcast hash equi-join and a left-anti join. Expressed
declaratively, Catalyst picks broadcast vs shuffle by size/AQE stats.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookup_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast_dim: bool = True,
    dedup_dim: bool = True,
) -> DataFrame:
    """Replace N point-lookups with one hash join.

    ``dedup_dim`` mirrors the reference's ``fetchone`` (exo_2.py:217):
    only one dimension row per key may survive or the join fans out.
    ``dropDuplicates`` keeps whichever row survives the shuffle —
    acceptable only when the caller knows the dim is already unique
    per key; a deterministic survivor is an aggregate (the document
    pipeline's lowest ``PATIENT_NUM`` per IPP). ``broadcast_dim`` is
    right whenever the dim fits in executor memory (ipphist ≈ 4.8 k
    rows always does); at 100 TB a huge dim falls back to sort-merge
    by passing False.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if dedup_dim:
        dim = dim.dropDuplicates(keys)
    if broadcast_dim:
        dim = F.broadcast(dim)
    return facts.join(dim, on=keys, how=how)


def anti_join(df: DataFrame, existing: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``df`` whose key is absent from ``existing`` (J3)."""
    keys = [on] if isinstance(on, str) else list(on)
    return df.join(existing, on=keys, how="left_anti")


def semi_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``df`` whose key exists in ``other`` (EXISTS)."""
    keys = [on] if isinstance(on, str) else list(on)
    return df.join(other, on=keys, how="left_semi")
