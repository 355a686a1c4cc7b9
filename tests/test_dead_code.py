"""Every top-level definition of the package is reachable from live code.

AST only, no Spark. A top-level function or class of
``data_engineer_challenge_spark`` is live when a chain of uses leads to
it from a root:

- **roots:** every ``@register``ed query, all module-level code of the
  package (dunder hooks such as ``plans/text.__getattr__`` included),
  and every identifier used in ``perfbench/``, ``tools/``, ``bench.py``
  and ``__spark_entry__.py``;
- **edges:** the ``Name``, ``Attribute`` and import-alias identifiers in
  a live definition's body, plus string constants shaped like an
  identifier (they cover ``getattr`` and ``_SPLIT_EXPORTS``-style
  lookups). Docstrings and comments are not uses.

Names resolve by spelling, so an identifier reaches every top-level
definition of that name in any module. Tests are not roots: a definition
that only tests call checks nothing the queries, the benchmark or the
daemon run. Module-level import statements bind names without using
them, so a re-export alone keeps nothing alive.

Two lists name the exceptions, each entry with its reason. Their names
are roots too, so the helpers they call need no entry of their own:

- ``TEST_SUPPORT``: definitions that tests of live code need as their
  fixture, reader or reference implementation; deleting one would leave
  that live code unchecked.
- ``TEST_ONLY``: definitions that only their own tests call, kept for
  now and to be deleted together with those tests. The list may only
  shrink; a new definition never belongs on it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "data_engineer_challenge_spark"

TEST_SUPPORT = {
    "encode_jpeg": "the only JPEG source for decode_jpeg's tests "
    "(operators/jpeg.py); no JPEG encoder library is installed",
    "encode_png": "the PNG source for decode_png's tests "
    "(operators/codecs.py)",
    "merge_distinct_estimate": "reads back build_distinct_sketches "
    "(operators/sketches.py) in the HLL tests",
    "train_opq": "builds the rotation for IVFVectorIndex's rotated-mode "
    "tests (operators/ann_index.py)",
    "sample_vectors": "the training sample train_opq's callers pass it",
    "train_bpe": "regenerates plans/bpe_merges.MERGES (provenance test)",
    "corpus_word_freqs": "the word counts train_bpe regenerates "
    "plans/bpe_merges.MERGES from",
    "bpe_token_counts": "the per-task-memo reference that "
    "bpe_token_counts_distinct is pinned bit-identical to",
    "train_logreg_hashed": "regenerates plans/quality_weights.py "
    "(provenance test)",
    "quality_gram_feats": "the features train_logreg_hashed "
    "regenerates plans/quality_weights.py from",
    "train_pq_codebooks": "regenerates plans/pq_codebooks.py and "
    "plans/pq_residual_codebooks.py (provenance tests)",
    "ivf_topk": "the literal-expression IVF form the vectorized kernels "
    "are pinned bit-identical to",
    "_winnow_fingerprints_expr": "the expression form the winnowing "
    "kernel is pinned bit-identical to",
}

TEST_ONLY = {
    "unicode_canonicalize": "test_functions",
    "dedup_by_url": "test_web_sources",
    "exact_dedup": "test_operators",
    "host_graph": "test_web_sources",
    "warc_link_graph": "test_web_sources",
    "simhash64": "test_text_dedup",
    "extract_features": "test_multimodal",
    "sample_frames": "test_multimodal",
    "media_profile": "test_multimodal",
    "audio_match_pairs": "test_multimodal",
    "run_checks": "test_formats_quality",
    "check_unique_key": "test_formats_quality",
    "check_referential": "test_formats_quality",
    "quantization_error": "test_operators",
    "salted_join": "test_scale_patterns",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_registered(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def _is_dunder(name: str) -> bool:
    """Module hooks such as ``__getattr__`` run when Python calls them."""
    return len(name) > 4 and name.startswith("__") and name.endswith("__")


def _docstrings(tree: ast.AST) -> set[int]:
    """``id`` of every docstring constant in ``tree``."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                first.value, ast.Constant
            ):
                out.add(id(first.value))
    return out


def _uses(nodes: list[ast.AST], docstrings: set[int]) -> set[str]:
    """Identifiers that ``nodes`` use: names, attributes, import
    aliases and identifier-shaped string constants."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.split(".")[-1])
                if node.asname:
                    out.add(node.asname)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
                and id(node) not in docstrings
            ):
                out.add(node.value)
    return out


def _scan() -> tuple[dict[str, list[tuple[str, set[str]]]], set[str]]:
    """Package definitions by name (``path:line`` and the identifiers
    each uses), and the identifiers the roots use."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        module_code = []
        for node in tree.body:
            if (
                isinstance(node, _DEFS)
                and not _is_registered(node)
                and not _is_dunder(node.name)
            ):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                where = f"{path.relative_to(REPO)}:{first}"
                defs.setdefault(node.name, []).append((where, _uses([node], docs)))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                module_code.append(node)
        roots |= _uses(module_code, docs)
    for path in [
        *sorted((REPO / "perfbench").rglob("*.py")),
        *sorted((REPO / "tools").rglob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]:
        tree = ast.parse(path.read_text())
        roots |= _uses([tree], _docstrings(tree))
    return defs, roots


def _reachable(defs, roots: set[str]) -> set[str]:
    live, todo = set(), [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in live:
            continue
        live.add(name)
        for _, used in defs[name]:
            todo.extend(n for n in used if n in defs and n not in live)
    return live


def unreachable_definitions(extra_roots=frozenset()) -> list[str]:
    """``path:line name`` of every top-level, unregistered package
    definition that no chain of uses reaches from the roots (plus
    ``extra_roots``)."""
    defs, roots = _scan()
    live = _reachable(defs, roots | set(extra_roots))
    return sorted(
        f"{where} {name}"
        for name, sites in defs.items()
        if name not in live
        for where, _ in sites
    )


def test_every_definition_serves_live_code():
    dead = unreachable_definitions({*TEST_SUPPORT, *TEST_ONLY})
    assert not dead, (
        "definitions no query, benchmark, daemon or tool reaches; delete "
        f"them with their tests: {dead}"
    )


def test_exception_lists_name_only_unreferenced_definitions():
    """An allowlisted name that live code now reaches, or that no
    longer exists, must leave its list."""
    found = {d.split()[-1] for d in unreachable_definitions()}
    stale = sorted({*TEST_SUPPORT, *TEST_ONLY} - found)
    assert not stale, f"remove from the exception lists: {stale}"
