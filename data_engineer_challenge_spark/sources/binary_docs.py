"""Binary document source (SURVEY.md §2.1 S2-S4).

Two ways in, one extraction loop:

- :func:`read_binary_documents` is the batch entry point: a
  ``binaryFile`` scan with a glob filter (listing-time, replacing the
  reference's listdir + endswith, exo_2.py:18-35) that carries each
  file's bytes in a ``content`` column.
- :func:`document_paths` is the streaming entry point: a driver-local
  ``(path, filename)`` frame over names the caller already listed (the
  daemon's snapshot diff), so a tick neither lists the directory in
  Spark nor reads the files it did not change.

:func:`extract_documents` takes either frame into an Arrow-batched
``mapInPandas`` — the engine's JVM↔Python boundary for documents
(SURVEY §4.3.3). Given paths instead of bytes, the Python worker reads
each file itself, so the bytes never cross from the JVM at all. The
extractor is injected as a plain ``(filename, bytes) -> str`` callable
so environments with real PDF libraries can swap one in without
touching the plan.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import local_rows_df
from .extractors import extract_text

ExtractFn = Callable[[str, bytes], str]


def _case_insensitive_glob(extensions: tuple[str, ...]) -> str:
    """Hadoop glob matching the extensions in ANY letter case via
    per-character ``[xX]`` classes — ``pathGlobFilter`` is
    case-sensitive, while the snapshot-diff trigger matches
    ``name.lower().endswith(...)``; without this a ``SCAN.PDF`` drop
    would fire the daemon's batch but never be ingested."""
    alts = ",".join(
        "".join(f"[{c}{c.upper()}]" if c.isalpha() else c for c in ext)
        for ext in extensions
    )
    return f"*.{{{alts}}}"


def read_binary_documents(
    spark: SparkSession,
    directory: str,
    extensions: tuple[str, ...] = ("pdf", "docx"),
) -> DataFrame:
    """(path, filename, content) for every matching file, matching
    extensions case-insensitively — consistent with the change trigger
    (streaming/snapshot_diff.take_snapshot) and the reference's
    ``.lower().endswith`` check (exo_2.py:18-35)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", _case_insensitive_glob(extensions))
        .load(directory)
    )
    return df.select(
        "path",
        F.element_at(F.split("path", "/"), -1).alias("filename"),
        "content",
    )


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
    inside the Python worker. ``binary_df`` is either
    :func:`read_binary_documents`' (path, filename, content) — Arrow
    batches of bytes cross to Python once — or :func:`document_paths`'
    (path, filename), whose bytes the worker reads from disk. Output
    keeps only what downstream needs so the huge ``content`` column
    never shuffles."""
    has_content = "content" in binary_df.columns
    source_col = "content" if has_content else "path"

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["content"] if has_content else map(_read_bytes, pdf["path"])
            yield pd.DataFrame(
                {
                    "filename": pdf["filename"],
                    "text": [
                        extractor(name, data)
                        for name, data in zip(pdf["filename"], blobs)
                    ],
                }
            )

    return binary_df.select("filename", source_col).mapInPandas(
        extract_batches, schema="filename string, text string"
    )
