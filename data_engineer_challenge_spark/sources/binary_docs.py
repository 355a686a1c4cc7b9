"""Binary document source (SURVEY.md §2.1 S2-S4).

:func:`document_paths` is a driver-local ``(path, filename)`` frame
over names the caller already listed (the daemon's snapshot diff,
``streaming/snapshot_diff.take_snapshot``, which replaces the
reference's listdir + endswith, exo_2.py:18-35), so a tick neither
lists the directory in Spark nor reads the files it did not change.

:func:`extract_documents` takes that frame into an Arrow-batched
``mapInPandas`` — the engine's JVM↔Python boundary for documents
(SURVEY §4.3.3). The Python worker reads each file itself, so the
bytes never cross from the JVM at all. The extractor is injected as a
plain ``(filename, bytes) -> str`` callable so environments with real
PDF libraries can swap one in without touching the plan.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..localrel import local_rows_df
from .extractors import extract_text

ExtractFn = Callable[[str, bytes], str]


def document_paths(
    spark: SparkSession, directory: str, names: Iterable[str]
) -> DataFrame:
    """(path, filename) for the given file names in ``directory``, as
    a driver-local frame: no listing job, no file read until
    :func:`extract_documents` runs."""
    return local_rows_df(
        spark,
        [(os.path.join(directory, n), n) for n in sorted(names)],
        "path string, filename string",
    )


def _read_bytes(path: str) -> bytes:
    # a file deleted after it was listed raises here, failing the
    # batch, instead of dropping out of it unseen
    with open(path, "rb") as fh:
        return fh.read()


def extract_documents(
    binary_df: DataFrame, extractor: ExtractFn = extract_text
) -> DataFrame:
    """(filename, text) via mapInPandas: the extractor runs per file
    inside the Python worker, which reads the bytes of each
    :func:`document_paths` row from disk."""

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "filename": pdf["filename"],
                    "text": [
                        extractor(name, _read_bytes(path))
                        for name, path in zip(pdf["filename"], pdf["path"])
                    ],
                }
            )

    return binary_df.select("filename", "path").mapInPandas(
        extract_batches, schema="filename string, text string"
    )
