"""Join operators (SURVEY.md §2.3 J3-J5, §2.1 S6).

The reference resolves each document to a patient with one SQL point
query per document (exo_2.py:204-217, N round-trips) and computes
insert sets with pandas ``~isin`` (exo_1.py:199-204). Both are joins:
a broadcast hash equi-join (``pipeline.resolve_patients``) and a
left-anti join. Expressed declaratively, Catalyst picks broadcast vs
shuffle by size/AQE stats.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def anti_join(df: DataFrame, existing: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``df`` whose key is absent from ``existing`` (J3)."""
    keys = [on] if isinstance(on, str) else list(on)
    return df.join(existing, on=keys, how="left_anti")


def semi_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``df`` whose key exists in ``other`` (EXISTS)."""
    keys = [on] if isinstance(on, str) else list(on)
    return df.join(other, on=keys, how="left_semi")
