"""Fuzzy record linkage (SURVEY.md §2.10 — the capability the
reference declared but never built: requirements.txt pins jellyfish +
recordlinkage, and its crude 5-column exact dedup J1 silently performs
record linkage, exo_1.py:32-34 / SURVEY §2.3).

Shape: blocking join (never all-pairs) → cheap JVM-side similarity
scores (levenshtein, soundex, prefix overlap) → threshold. All
built-in functions — no Python in the pair loop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def linkage_candidates(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_levenshtein: int = 3,
) -> DataFrame:
    """Candidate duplicate pairs: equi-join on the blocking key, score
    with edit distance and phonetic (soundex) agreement."""
    sel = [F.col(c) for c in block_cols] + [
        F.col(id_col),
        F.col(name_col).alias("__name"),
        F.soundex(F.upper(F.col(name_col))).alias("__sdx"),
    ]
    a = df.select(*sel).toDF(*block_cols, "id_a", "name_a", "sdx_a")
    b = df.select(*sel).toDF(*block_cols, "id_b", "name_b", "sdx_b")
    pairs = a.join(b, list(block_cols)).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("edit_distance", F.levenshtein("name_a", "name_b"))
        .withColumn("soundex_match", (F.col("sdx_a") == F.col("sdx_b")).cast("int"))
        .filter(F.col("edit_distance") <= max_levenshtein)
        .select(*block_cols, "id_a", "id_b", "name_a", "name_b",
                "edit_distance", "soundex_match")
    )
