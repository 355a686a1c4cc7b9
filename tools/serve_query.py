"""Point-serving CLI — answer ONE query from a persisted index with
NO SparkSession and NO JVM.

Vector mode (r12, VERDICT r11 #3 — IVF-PQ store):

    python tools/serve_query.py --store /path/to/ivfpq \\
        --vec "0.12,-0.3,..." [--k 10] [--n-probe 8] [--shortlist 60]

Text mode (r13, VERDICT r12 #4 — InvertedTextIndex store):

    python tools/serve_query.py --store /path/to/textidx \\
        --terms "quick,brown,fox" [--topk 20] [--k1 1.2] [--b 0.75]

Dedup mode (r13 — MinHashIndex store; "is this one document a
near-dup of anything indexed?"):

    python tools/serve_query.py --store /path/to/mhidx \\
        --text "raw document text ..."      (or @file.txt)

Passage-cut mode (r13 — WindowHashIndex store; trim the spans the
corpus already holds out of one document):

    python tools/serve_query.py --store /path/to/whidx \\
        --cut-text "raw document text ..."  (or @file.txt)

Each prints one JSON line: {"results": [[id, score, rank], ...],
"wall_ms": ..., ...config...}. Answers are bit-identical to the
cluster's `probe_adc` / `probe` for the same config (pinned in
tests). `--n-probe` defaults to the store's persisted `n_probe` hint
when one exists (written by maybe_rebucket), else
2. The process imports pyspark's MODULE (a plain Python import) but
never starts a session — serving latency is the pyarrow read (first
touch) + resident-numpy scoring measured in SCALE.md's point-serving
table."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--store",
        required=True,
        help="IVFVectorIndex path (--vec) or InvertedTextIndex path "
        "(--terms)",
    )
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument(
        "--vec",
        help="query vector: comma-separated floats, or @file.json "
        "holding a JSON array",
    )
    mode.add_argument(
        "--terms",
        help="comma-separated normal-form query terms (lowercase "
        "[a-z0-9]+ — what word_tokens emits)",
    )
    mode.add_argument(
        "--text",
        help="raw document text (or @file.txt) to near-dup-check "
        "against a MinHashIndex store",
    )
    mode.add_argument(
        "--cut-text",
        help="raw document text (or @file.txt) to passage-trim "
        "against a WindowHashIndex store",
    )
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--n-probe",
        type=int,
        default=None,
        help="lists to probe (default: the store's persisted hint, "
        "else 2)",
    )
    ap.add_argument(
        "--shortlist",
        type=int,
        default=None,
        help="ADC shortlist width (default: the store's persisted "
        "adc_shortlist hint, else 60)",
    )
    ap.add_argument("--topk", type=int, default=20)
    ap.add_argument("--k1", type=float, default=None)
    ap.add_argument("--b", type=float, default=None)
    args = ap.parse_args()

    if args.cut_text is not None:
        from data_engineer_challenge_spark.operators.passage import (
            WindowHashIndex,
        )

        text = args.cut_text
        if text.startswith("@"):
            with open(text[1:]) as f:
                text = f.read()
        widx = WindowHashIndex.open_local(args.store)
        t0 = time.perf_counter()
        pres = widx.probe_local(text)
        wall_ms = round((time.perf_counter() - t0) * 1000, 1)
        if pres is None:
            print(json.dumps({"empty_document": True, "wall_ms": wall_ms}))
            return
        n_tokens, n_cut, dedup_text = pres
        print(
            json.dumps(
                {
                    "n_tokens": n_tokens,
                    "n_tokens_cut": n_cut,
                    "dedup_text": dedup_text,
                    "wall_ms": wall_ms,
                    "window": widx.meta["window"],
                }
            )
        )
        return

    if args.text is not None:
        from data_engineer_challenge_spark.operators.dedup_index import (
            MinHashIndex,
        )

        text = args.text
        if text.startswith("@"):
            with open(text[1:]) as f:
                text = f.read()
        midx = MinHashIndex.open_local(args.store)
        t0 = time.perf_counter()
        dres = midx.probe_local(text)
        wall_ms = round((time.perf_counter() - t0) * 1000, 1)
        print(
            json.dumps(
                {
                    "results": [[d, j] for d, j in dres],
                    "wall_ms": wall_ms,
                    "threshold": midx.meta["threshold"],
                    "is_duplicate": bool(dres),
                }
            )
        )
        return

    if args.terms is not None:
        from data_engineer_challenge_spark.operators.text_index import (
            B,
            K1,
            InvertedTextIndex,
        )

        # normalize exactly like the indexer's word_tokens (r13
        # advice): an uppercase or punctuated term would hash to an
        # arbitrary bucket and silently score zero — "no results" —
        # instead of matching what indexing stored for the same word.
        # One input term can normalize to several tokens ("data-set"
        # → data, set); order is preserved (BM25's fixed-order sum).
        import re as _re

        from data_engineer_challenge_spark.functions.tokenize import (
            TOKEN_RE,
        )

        terms = tuple(
            tok
            for t in args.terms.split(",")
            for tok in _re.findall(TOKEN_RE, t.lower())
        )
        if not terms:
            ap.error(
                "--terms needs at least one term containing [a-z0-9]"
            )
        tidx = InvertedTextIndex.open_local(args.store)
        k1 = args.k1 if args.k1 is not None else K1
        b = args.b if args.b is not None else B
        t0 = time.perf_counter()
        tres = tidx.probe_local(terms, k1=k1, b=b, topk=args.topk)
        wall_ms = round((time.perf_counter() - t0) * 1000, 1)
        print(
            json.dumps(
                {
                    "results": [[d, s, r] for d, s, r in tres],
                    "wall_ms": wall_ms,
                    "terms": list(terms),
                    "k1": k1,
                    "b": b,
                    "topk": args.topk,
                }
            )
        )
        return

    if args.vec.startswith("@"):
        with open(args.vec[1:]) as f:
            vec = [float(x) for x in json.load(f)]
    else:
        vec = [float(x) for x in args.vec.split(",")]

    from data_engineer_challenge_spark.operators.ann_index import (
        IVFVectorIndex,
    )

    idx = IVFVectorIndex.open_local(args.store)
    # identity check, not truthiness: an explicit --n-probe 0 must
    # error, never be silently replaced by the store hint (r13 review)
    if args.n_probe is not None and args.n_probe <= 0:
        ap.error("--n-probe must be positive")
    n_probe = (
        args.n_probe
        if args.n_probe is not None
        else (idx.n_probe_hint or 2)
    )
    # BOTH serving levers default to the store's persisted hints
    # (r13 review): a staged maybe_rebucket persists adc_shortlist
    # precisely because a hand-picked width silently under-recalls a
    # rebucketed coded store (SCALE.md: hints 0.914 vs shortlist=2048's 0.657)
    if args.shortlist is not None and args.shortlist <= 0:
        ap.error("--shortlist must be positive")
    shortlist = (
        args.shortlist
        if args.shortlist is not None
        else (idx.adc_shortlist_hint or 60)
    )
    t0 = time.perf_counter()
    res = idx.probe_local(
        vec, k=args.k, n_probe=n_probe, shortlist=shortlist
    )
    wall_ms = round((time.perf_counter() - t0) * 1000, 1)
    print(
        json.dumps(
            {
                "results": [[c, s, r] for c, s, r in res],
                "wall_ms": wall_ms,
                "n_probe": n_probe,
                "shortlist": shortlist,
            }
        )
    )


if __name__ == "__main__":
    main()
