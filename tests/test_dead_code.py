"""Every top-level definition of the package serves live code.

AST and text only, no Spark. Each top-level function and class of
``data_engineer_challenge_spark`` that is not a ``@register``ed query
must be named, as a whole word, in some ``.py`` file of the package,
``perfbench/``, ``tools/``, ``bench.py`` or ``__spark_entry__.py``,
outside its own definition. Tests do not count: a definition that only
tests call checks nothing the queries, the benchmark or the daemon run.

Two lists name the exceptions, each entry with its reason:

- ``TEST_SUPPORT``: definitions that tests of live code need as their
  fixture or reader; deleting one would leave that live code unchecked.
- ``TEST_ONLY``: definitions that only their own tests call, kept for
  now and to be deleted together with those tests. The list may only
  shrink; a new definition never belongs on it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "data_engineer_challenge_spark"

TEST_SUPPORT = {
    "encode_jpeg": "the only JPEG source for decode_jpeg's tests "
    "(operators/jpeg.py); no JPEG encoder library is installed",
    "merge_distinct_estimate": "reads back build_distinct_sketches "
    "(operators/sketches.py) in the HLL tests",
    "train_opq": "builds the rotation (with sample_vectors) for "
    "IVFVectorIndex's rotated-mode tests (operators/ann_index.py)",
}

TEST_ONLY = {
    "unicode_canonicalize": "test_functions",
    "dedup_by_url": "test_web_sources",
    "exact_dedup": "test_operators",
    "host_graph": "test_web_sources",
    "extract_features": "test_multimodal",
    "sample_frames": "test_multimodal",
    "media_profile": "test_multimodal",
    "audio_match_pairs": "test_multimodal",
    "run_checks": "test_formats_quality",
    "check_unique_key": "test_formats_quality",
    "check_referential": "test_formats_quality",
    "quantization_error": "test_operators",
    "salted_join": "test_scale_patterns",
    "dedup_within_watermark": "test_streaming",
    "ingest_stream_ivm": "test_streaming",
    "ingest_stream_distinct_sketches": "test_streaming",
    "interval_join": "test_streaming",
    "enrich_with_dim": "test_streaming",
    "running_user_totals": "test_warehouse_advanced",
    "streaming_heavy_hitter_candidates": "test_streaming",
    "tumbling_counts": "test_streaming",
    "sliding_counts": "test_streaming",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _live_files() -> list[Path]:
    return [
        *sorted(PACKAGE.rglob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
        *sorted((REPO / "tools").rglob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]


def _is_registered(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def unreferenced_definitions() -> list[str]:
    """``path:line name`` of every top-level, unregistered package
    definition whose name no live file mentions outside the definition
    itself."""
    mentions: dict[str, list[tuple[Path, int]]] = {}
    defs = []
    for path in _live_files():
        src = path.read_text()
        for lineno, line in enumerate(src.splitlines(), 1):
            for word in set(_WORD.findall(line)):
                mentions.setdefault(word, []).append((path, lineno))
        if PACKAGE not in path.parents:
            continue
        for node in ast.parse(src).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not _is_registered(node):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs.append((path, node.name, first, node.end_lineno))
    return [
        f"{path.relative_to(REPO)}:{first} {name}"
        for path, name, first, last in defs
        if not any(
            p != path or not first <= line <= last
            for p, line in mentions.get(name, ())
        )
    ]


def test_every_definition_serves_live_code():
    found = unreferenced_definitions()
    dead = [d for d in found if d.split()[-1] not in {*TEST_SUPPORT, *TEST_ONLY}]
    assert not dead, (
        "definitions no query, benchmark, daemon or tool uses; delete "
        f"them with their tests: {dead}"
    )


def test_exception_lists_name_only_unreferenced_definitions():
    """An allowlisted name that live code now uses, or that no longer
    exists, must leave its list."""
    found = {d.split()[-1] for d in unreferenced_definitions()}
    stale = sorted({*TEST_SUPPORT, *TEST_ONLY} - found)
    assert not stale, f"remove from the exception lists: {stale}"
