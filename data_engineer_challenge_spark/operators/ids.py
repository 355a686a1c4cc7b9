"""Stable identifier assignment (SURVEY.md §2.2 P8-P9, §4.3.2).

The reference assigns ``PATIENT_NUM = pandas index + 1`` and
``DOCUMENT_NUM`` from per-run ``os.listdir`` position — IDs that shift
whenever the input changes (the K3 upsert hazard). Here IDs are a
deterministic function of a declared business ordering; the CDW
tables number new rows on from the stored max in the same plan
(``pipeline._numbering_base``) instead of renumbering.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dense_ids(
    df: DataFrame, id_col: str, order_by: Sequence[Column | str]
) -> DataFrame:
    """Dense sequential IDs 1..N by an explicit total order.

    A global ``row_number`` funnels every row through one partition —
    fine for dimension-sized data only.
    """
    w = Window.orderBy(*order_by)
    return df.withColumn(id_col, F.row_number().over(w).cast("long"))


