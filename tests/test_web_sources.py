"""HTML extraction + WARC source tests.

Fixtures are synthesized in-test (the container has no web corpus):
hand-built HTML pages exercising charset sniffing, entity decoding,
skip-tags, block segmentation, and the jusText-lite boilerplate
classifier; hand-built WARC files (plain + per-record-gzip, the
Common Crawl layout) exercising record framing, HTTP envelope
parsing, chunked bodies, and the end-to-end Spark pipeline."""

from __future__ import annotations

import gzip

import pytest

from data_engineer_challenge_spark.sources.extractors import extract_text
from data_engineer_challenge_spark.sources.html import (
    html_bytes_to_text,
    html_main_content,
    sniff_charset,
)
from data_engineer_challenge_spark.sources.warc import (
    http_response_body,
    parse_warc,
    read_warc_records,
    warc_html_documents,
)

# ---------------------------------------------------------------- HTML

_PAGE = b"""<!doctype html>
<html><head><title>Great Article</title>
<style>body { color: red }</style>
<script>var x = "<p>not text</p>";</script>
</head>
<body>
<nav><a href="/">Home</a> | <a href="/about">About</a> | <a href="/contact">Contact</a></nav>
<h1>Great Article</h1>
<p>This is the first real paragraph of the article body, long enough
to clear the good-block threshold, with &amp; entities and
<b>inline</b> markup that must not split the block.</p>
<p>Second paragraph, also comfortably long enough to be classified as
good content by the link-density and length heuristic rules.</p>
<div><a href="/a">Related one</a> <a href="/b">Related two</a>
<a href="/c">Related three</a></div>
<footer>Copyright</footer>
</body></html>
"""


def test_visible_text_skips_script_style_head():
    text = html_bytes_to_text(_PAGE)
    assert "color: red" not in text
    assert "not text" not in text
    assert "var x" not in text
    assert "first real paragraph" in text
    assert "& entities" in text  # entity decoded
    assert "inline markup" in text  # inline tag did not split the block


def test_block_segmentation_one_line_per_block():
    lines = html_bytes_to_text(_PAGE).splitlines()
    # nav links land in one block; each <p> is its own line
    assert any(l.startswith("Home") for l in lines)
    first = next(l for l in lines if "first real paragraph" in l)
    second = next(l for l in lines if "Second paragraph" in l)
    assert first != second


def test_main_content_drops_nav_and_footer_keeps_heading():
    main = html_main_content(_PAGE)
    assert "first real paragraph" in main
    assert "Second paragraph" in main
    # heading promoted by adjacency to a good block
    assert "Great Article" in main
    assert "Home" not in main  # nav menu: high link density
    assert "Related one" not in main  # link list
    assert "Copyright" not in main  # short, isolated


def test_charset_sniffing_meta_and_bom():
    latin = "<html><head><meta charset=iso-8859-1></head><body><p>caf\xe9 au lait, tr\xe8s long paragraphe pour d\xe9passer le seuil de quatre-vingts caract\xe8res du classificateur</p></body></html>".encode(
        "iso-8859-1"
    )
    assert sniff_charset(latin) == "iso-8859-1"
    assert "café au lait" in html_bytes_to_text(latin)
    assert sniff_charset(b"\xef\xbb\xbfrest") == "utf-8"
    # unknown charset name falls back, never raises
    assert sniff_charset(b'<meta charset="no-such-cs">') == "utf-8"


def test_malformed_html_never_raises():
    soup = b"<p>unclosed <b>bold <div>next</p><script>boom"
    out = html_bytes_to_text(soup)
    assert "unclosed bold" in out
    assert "boom" not in out  # unclosed script swallows to EOF
    assert html_bytes_to_text(b"") == ""
    assert html_main_content(b"\x00\xff\xfe\x01") is not None


def test_extract_text_dispatches_html():
    assert "first real paragraph" in extract_text("page.HTML", _PAGE)
    assert extract_text("page.html", b"") == ""


# ---------------------------------------------------------------- WARC


def _warc_record(
    rtype: str,
    rid: str,
    uri: str,
    payload: bytes,
    ctype: str = "application/http; msgtype=response",
) -> bytes:
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2026-08-14T00:00:00Z\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode()
    return headers + payload + b"\r\n\r\n"


def _http_payload(body: bytes, ctype: str = "text/html; charset=utf-8", status: int = 200) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n"
        f"\r\n"
    ).encode() + body


_ARTICLE = (
    b"<html><body><h1>Doc One</h1><p>A genuinely long first paragraph "
    b"of article text that easily exceeds the eighty character good-"
    b"block threshold used by the classifier.</p></body></html>"
)


def _build_warc() -> bytes:
    recs = [
        _warc_record(
            "warcinfo", "info-1", "", b"software: test\r\n",
            ctype="application/warc-fields",
        ),
        _warc_record(
            "request", "req-1", "http://example.com/one",
            b"GET /one HTTP/1.1\r\nHost: example.com\r\n\r\n",
            ctype="application/http; msgtype=request",
        ),
        _warc_record(
            "response", "resp-1", "http://example.com/one",
            _http_payload(_ARTICLE),
        ),
        _warc_record(
            "response", "resp-2", "http://example.com/two",
            _http_payload(b"{}", ctype="application/json"),
        ),
        _warc_record(
            "response", "resp-404", "http://example.com/gone",
            _http_payload(b"<html><body><p>gone</p></body></html>", status=404),
        ),
    ]
    return b"".join(recs)


def test_parse_warc_plain_and_record_gzip():
    raw = _build_warc()
    plain = list(parse_warc(raw))
    assert len(plain) == 5
    assert plain[0]["headers"]["warc-type"] == "warcinfo"
    # Common Crawl layout: each record its own gzip member, concatenated
    gz = b"".join(gzip.compress(chunk) for chunk in _records_bytes())
    assert [r["headers"]["warc-record-id"] for r in parse_warc(gz)] == [
        r["headers"]["warc-record-id"] for r in plain
    ]
    # truncated tail loses the last record only
    truncated = raw[: len(raw) - 10]
    assert len(list(parse_warc(truncated))) == 4


def _records_bytes() -> list[bytes]:
    whole = _build_warc()
    out, pos = [], 0
    while pos < len(whole):
        nxt = whole.find(b"WARC/1.0", pos + 1)
        if nxt < 0:
            out.append(whole[pos:])
            break
        out.append(whole[pos:nxt])
        pos = nxt
    return out


def test_http_response_body_chunked():
    chunked = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/plain\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
    )
    status, headers, body = http_response_body(chunked)
    assert status == 200 and body == b"hello world"
    with pytest.raises(ValueError):
        http_response_body(b"not http at all")


def test_read_warc_records_spark(spark, tmp_path):
    (tmp_path / "a.warc").write_bytes(_build_warc())
    (tmp_path / "b.warc.gz").write_bytes(
        b"".join(gzip.compress(chunk) for chunk in _records_bytes())
    )
    recs = read_warc_records(spark, str(tmp_path))
    rows = recs.collect()
    # responses only, from both files
    assert len(rows) == 6
    assert {r["warc_type"] for r in rows} == {"response"}
    one = next(r for r in rows if r["target_uri"] == "http://example.com/one")
    assert one["http_status"] == 200
    assert one["content_type"].startswith("text/html")
    assert bytes(one["body"]) == _ARTICLE


def test_warc_html_documents_end_to_end(spark, tmp_path):
    (tmp_path / "a.warc").write_bytes(_build_warc())
    docs = warc_html_documents(spark, str(tmp_path)).collect()
    # json + 404 responses filtered out; one clean HTML doc survives
    assert len(docs) == 1
    d = docs[0]
    assert d["source"] == "http://example.com/one"
    assert "genuinely long first paragraph" in d["text"]
    assert d["n_chars"] == len(d["text"])
    # boilerplate tier kept the heading (adjacent to good block)
    assert "Doc One" in d["text"]


# ------------------------------------------------------------- fuzzing

from hypothesis import given, settings, strategies as st

_tag = st.sampled_from(
    ["p", "div", "a", "b", "script", "style", "h1", "li", "br", "span",
     "table", "td", "foo"]
)
_frag = st.one_of(
    st.text(max_size=40),
    _tag.map(lambda t: f"<{t}>"),
    _tag.map(lambda t: f"</{t}>"),
    _tag.map(lambda t: f"<{t} class='x' href=y>"),
    st.sampled_from(["&amp;", "&nbsp;", "&#65;", "&bogus;", "<!--", "-->",
                     "<!doctype html>", "<![CDATA[x]]>", "<?php ?>"]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_frag, max_size=30).map("".join))
def test_html_extraction_total_on_tag_soup(soup):
    """Both tiers are TOTAL functions of arbitrary tag soup: never
    raise, always return str, and the main-content tier only ever
    emits lines the full-text tier also contains (it is a filter,
    never a rewriter)."""
    data = soup.encode("utf-8", "surrogatepass")
    full = html_bytes_to_text(data)
    main = html_main_content(data)
    assert isinstance(full, str) and isinstance(main, str)
    full_lines = set(full.splitlines())
    for line in main.splitlines():
        assert line in full_lines


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200))
def test_html_extraction_total_on_random_bytes(data):
    assert isinstance(html_bytes_to_text(data), str)
    assert isinstance(html_main_content(data), str)
    # WARC parser is total on garbage too: yields zero or more records
    assert isinstance(list(parse_warc(data)), list)


# ------------------------------------------------ continuous ingestion

_LONG_A = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "sleepy badgers watch from the riverbank under a pale october "
    "moon and count the barges drifting slowly toward the harbour"
)
_LONG_A_NEARDUP = _LONG_A.replace("october", "november")
_LONG_C = (
    "completely different content about distributed query engines "
    "partitioning shuffles broadcast joins and adaptive execution "
    "strategies for very large analytical workloads at petabyte scale"
)


def _html(body_text: str) -> bytes:
    return f"<html><body><p>{body_text}</p></body></html>".encode()


def _segment(docs: list[tuple[str, str, bytes]]) -> bytes:
    return b"".join(
        _warc_record("response", rid, uri, _http_payload(body))
        for rid, uri, body in docs
    )


def test_warc_ingest_ticks_dedup_and_converge(spark, tmp_path):
    from data_engineer_challenge_spark.operators.dedup_index import MinHashIndex
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
    from data_engineer_challenge_spark.streaming.snapshot_diff import SnapshotState
    from data_engineer_challenge_spark.streaming.warc_ingest import warc_ingest_tick

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment(
            [
                ("doc-a", "http://x/a", _html(_LONG_A)),
                ("doc-b", "http://x/b", _html("a second unrelated article describing medieval bridge construction techniques with stone arches keystones and wooden falsework scaffolding over wide rivers")),
            ]
        )
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    idx = MinHashIndex(spark, str(tmp_path / "idx"), threshold=0.8)

    r1 = warc_ingest_tick(spark, str(warc_dir), state, wh, "web_docs", index=idx)
    assert r1.fired and r1.segments == ("a.warc",)
    assert r1.docs_extracted == 2 and r1.docs_merged == 2

    # quiet tick: nothing changed -> not fired
    r2 = warc_ingest_tick(spark, str(warc_dir), state, wh, "web_docs", index=idx)
    assert not r2.fired

    # new segment: one near-dup of doc-a (dropped), one genuinely new
    import gzip as _gzip

    (warc_dir / "b.warc.gz").write_bytes(
        _gzip.compress(
            _segment(
                [
                    ("doc-a2", "http://y/a", _html(_LONG_A_NEARDUP)),
                    ("doc-c", "http://y/c", _html(_LONG_C)),
                ]
            )
        )
    )
    r3 = warc_ingest_tick(spark, str(warc_dir), state, wh, "web_docs", index=idx)
    assert r3.fired and r3.segments == ("b.warc.gz",)
    assert r3.docs_extracted == 2
    assert r3.docs_merged == 1  # near-dup of doc-a dropped by the index
    ids = {r["doc_id"] for r in wh.read("web_docs").select("doc_id").collect()}
    assert ids == {"<urn:uuid:doc-a>", "<urn:uuid:doc-b>", "<urn:uuid:doc-c>"}

    # restart with committed offsets: no-op
    state2 = SnapshotState.load(str(tmp_path / "offsets.json"))
    assert not warc_ingest_tick(
        spark, str(warc_dir), state2, wh, "web_docs", index=idx
    ).fired

    # state LOSS: everything reprocesses, and the keyed MERGE + probe
    # converge the table to the identical row set (daemon contract)
    lost = SnapshotState.load(str(tmp_path / "fresh-offsets.json"))
    r4 = warc_ingest_tick(spark, str(warc_dir), lost, wh, "web_docs", index=idx)
    assert r4.fired and set(r4.segments) == {"a.warc", "b.warc.gz"}
    after = {r["doc_id"] for r in wh.read("web_docs").select("doc_id").collect()}
    assert after == ids
    assert wh.read("web_docs").count() == 3


def test_warc_tick_maintains_text_index(spark, tmp_path):
    """The continuously-maintained BM25 index: each tick appends the
    landed warehouse rows under per-segment txn ids, so (1) search
    finds newly-crawled docs immediately, (2) a state-loss reprocess
    re-derives committed txns and the corpus stats DON'T double-count,
    and (3) the crash window 'MERGE landed, text append didn't' heals
    on the replay because the append reads the warehouse back rather
    than the in-flight frame."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        SnapshotState,
    )
    from data_engineer_challenge_spark.streaming.warc_ingest import (
        warc_ingest_tick,
    )

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment([("doc-a", "http://x/a", _html(_LONG_A))])
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    tidx = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=16)

    r1 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", text_index=tidx
    )
    assert r1.fired and r1.docs_merged == 1
    # search finds the crawled doc under its xxhash64 surrogate id
    hit = tidx.probe(("riverbank",), topk=5).collect()
    want_tid = wh.read("web_docs").select(
        F.xxhash64("doc_id")
    ).collect()[0][0]
    assert [r["doc_id"] for r in hit] == [want_tid]

    # crash window: segment b's MERGE lands but its text append never
    # runs (simulated by ticking WITHOUT the text index)
    (warc_dir / "b.warc").write_bytes(
        _segment([("doc-c", "http://y/c", _html(_LONG_C))])
    )
    r2 = warc_ingest_tick(spark, str(warc_dir), state, wh, "web_docs")
    assert r2.fired and r2.docs_merged == 1
    assert not tidx.probe(("petabyte",), topk=5).collect()  # missed

    # the replay (state loss -> full reprocess) heals it: segment a's
    # txn is committed and no-ops, segment b's append reads the
    # warehouse row back; corpus stats count each doc exactly once
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    r3 = warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs", text_index=tidx
    )
    assert r3.fired and set(r3.segments) == {"a.warc", "b.warc"}
    assert len(tidx.probe(("petabyte",), topk=5).collect()) == 1
    stats = (
        spark.read.schema("txn string, n_docs long, sum_dl long")
        .parquet(str(tmp_path / "tidx" / "stats"))
        .groupBy("txn")
        .agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n").alias("total"))
        .collect()[0]["total"]
    )
    assert stats == wh.read("web_docs").count() == 2

    # the streamed index serves the phrase path too: conjunctive
    # candidates for an adjacent pair unique to doc-a resolve to its
    # surrogate id
    cand = {r["doc_id"] for r in
            tidx.conjunctive_candidates(("lazy", "dog")).collect()}
    assert cand == {want_tid}

    # a further replay changes nothing (every txn committed)
    lost2 = SnapshotState.load(str(tmp_path / "fresh2.json"))
    warc_ingest_tick(
        spark, str(warc_dir), lost2, wh, "web_docs", text_index=tidx
    )
    stats2 = (
        spark.read.schema("txn string, n_docs long, sum_dl long")
        .parquet(str(tmp_path / "tidx" / "stats"))
        .groupBy("txn")
        .agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n").alias("total"))
        .collect()[0]["total"]
    )
    assert stats2 == 2


def test_warc_tick_legacy_txn_key_state_loss_no_double_count(
    spark, tmp_path
):
    """r8 ADVICE: an index built before the content-addressed txn keys
    holds name-only ``warctext-<seg>`` txns and (pre-roster stores) no
    docs/ — a state-loss reprocess used to re-append every such
    segment, duplicating postings and double-counting n_docs/sum_dl.
    The tick now recognizes the committed legacy key, no-ops the
    append under it (backfilling the roster), while NEW segments keep
    the content-addressed keys."""
    import shutil

    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        SnapshotState,
    )
    from data_engineer_challenge_spark.streaming.warc_ingest import (
        warc_ingest_tick,
    )

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment([("doc-a", "http://x/a", _html(_LONG_A))])
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    tidx = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=16)
    assert warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", text_index=tidx
    ).fired

    # forge a pre-r8 store: strip the @mtime suffix from the committed
    # txn keys and remove the docs/ roster entirely
    stats_dir = str(tmp_path / "tidx" / "stats")
    stats_schema = "txn string, n_docs long, sum_dl long"
    legacy_rows = [
        (r["txn"].split("@")[0], r["n_docs"], r["sum_dl"])
        for r in spark.read.schema(stats_schema).parquet(stats_dir).collect()
    ]
    shutil.rmtree(stats_dir)
    spark.createDataFrame(legacy_rows, stats_schema).coalesce(
        1
    ).write.parquet(stats_dir)
    shutil.rmtree(str(tmp_path / "tidx" / "docs"))
    n_postings = spark.read.parquet(
        str(tmp_path / "tidx" / "postings")
    ).count()

    # state loss: full reprocess against the legacy store
    tidx2 = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=16)
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    assert warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs", text_index=tidx2
    ).fired
    txns = {
        r["txn"]
        for r in spark.read.schema(stats_schema).parquet(stats_dir).collect()
    }
    assert txns == {"warctext-a.warc"}  # no second, @-keyed txn
    total = (
        spark.read.schema(stats_schema)
        .parquet(stats_dir)
        .groupBy("txn")
        .agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n").alias("total"))
        .collect()[0]["total"]
    )
    assert total == 1  # corpus stats exact, not doubled
    assert (
        spark.read.parquet(str(tmp_path / "tidx" / "postings")).count()
        == n_postings
    )  # postings not duplicated
    want_tid = wh.read("web_docs").select(F.xxhash64("doc_id")).collect()[0][0]
    roster = {r["doc_id"] for r in tidx2.indexed_ids().collect()}
    assert roster == {want_tid}  # backfilled from the legacy no-op

    # a NEW post-upgrade segment still lands under a content key
    (warc_dir / "b.warc").write_bytes(
        _segment([("doc-c", "http://y/c", _html(_LONG_C))])
    )
    assert warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs", text_index=tidx2
    ).fired
    txns2 = {
        r["txn"]
        for r in spark.read.schema(stats_schema).parquet(stats_dir).collect()
    }
    assert any(t.startswith("warctext-b.warc@") for t in txns2)
    assert len(tidx2.probe(("petabyte",), topk=5).collect()) == 1


def test_warc_tick_recurring_doc_id_keeps_first_and_exact_stats(
    spark, tmp_path
):
    """Regression (r8 ADVICE): a doc_id recurring in a LATER tick's
    different segment used to append its warehouse row again under the
    new segment's txn — double-counting n_docs/sum_dl and, since the
    MERGE had replaced the doc's text, mixing old- and new-text
    postings in the per-term max fold (scoring a document matching
    NEITHER version). The docs/ roster anti-join pins the fix:
    keep-first postings, exact corpus stats."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        SnapshotState,
    )
    from data_engineer_challenge_spark.streaming.warc_ingest import (
        warc_ingest_tick,
    )

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment([("doc-a", "http://x/a", _html(_LONG_A))])
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    tidx = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=16)
    assert warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", text_index=tidx
    ).docs_merged == 1

    # the same doc_id re-crawled in a later segment with NEW text
    (warc_dir / "c.warc").write_bytes(
        _segment([("doc-a", "http://x/a", _html(_LONG_C))])
    )
    warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", text_index=tidx
    )
    # the warehouse holds the replacement text (keyed MERGE semantics)
    assert wh.read("web_docs").count() == 1
    assert "petabyte" in wh.read("web_docs").collect()[0]["text"]

    # ...but the INDEX keeps the first-indexed version: old-text terms
    # still resolve, new-text terms don't (keep-first, never a mix)
    tid = wh.read("web_docs").select(F.xxhash64("doc_id")).collect()[0][0]
    assert [r["doc_id"] for r in tidx.probe(("riverbank",), topk=5)
            .collect()] == [tid]
    assert not tidx.probe(("petabyte",), topk=5).collect()

    # corpus stats count the doc exactly ONCE across both txns
    stats = (
        spark.read.schema("txn string, n_docs long, sum_dl long")
        .parquet(str(tmp_path / "tidx" / "stats"))
        .groupBy("txn")
        .agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n").alias("total"))
        .collect()[0]["total"]
    )
    assert stats == 1

    # state-loss reprocess: both txns committed -> everything no-ops,
    # stats unchanged (the roster backfill on no-op is idempotent)
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs", text_index=tidx
    )
    stats2 = (
        spark.read.schema("txn string, n_docs long, sum_dl long")
        .parquet(str(tmp_path / "tidx" / "stats"))
        .groupBy("txn")
        .agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n").alias("total"))
        .collect()[0]["total"]
    )
    assert stats2 == 1


# -------------------------------------------------- URL canonicalization


def test_normalize_url_rules(spark):
    from data_engineer_challenge_spark.functions.urls import normalize_url

    cases = [
        # scheme/host case, www, fragment
        ("HTTP://WWW.Example.COM/Path#frag", "http://example.com/Path"),
        # default ports drop, non-default kept
        ("https://example.com:443/a", "https://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        # empty path, trailing slash
        ("https://example.com", "https://example.com/"),
        ("https://example.com/a/", "https://example.com/a"),
        ("https://example.com/", "https://example.com/"),
        # tracking params drop, survivors sort; all-tracking -> no query
        (
            "https://example.com/p?utm_source=x&b=2&a=1&fbclid=zz",
            "https://example.com/p?a=1&b=2",
        ),
        ("https://example.com/p?utm_campaign=x", "https://example.com/p"),
        # ref is tracking junk only as a PARAM NAME, not a value
        ("https://example.com/p?ref=home&q=1", "https://example.com/p?q=1"),
        ("not a url at all", None),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r["n"] for r in df.select(normalize_url("u").alias("n")).collect()]
    for (raw, want), actual in zip(cases, got):
        assert actual == want, f"{raw!r}: {actual!r} != {want!r}"


def test_dedup_by_url_keeps_first_and_malformed(spark):
    from data_engineer_challenge_spark.functions.urls import dedup_by_url

    rows = [
        (1, "https://www.example.com/a?utm_source=x", "first"),
        (2, "http://example.com:8080/a", "different-port"),
        (3, "https://example.com/a/", "dup-of-1"),
        (4, "%%%garbage%%%", "malformed-kept"),
        (5, "%%%garbage%%%", "malformed-kept-too"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    kept = {r["doc_id"] for r in dedup_by_url(df).collect()}
    assert kept == {1, 2, 4, 5}


# ------------------------------------------------------- link graph


def test_html_links_resolution_and_filtering():
    from data_engineer_challenge_spark.sources.html import html_links

    page = (
        b'<html><head><base href="https://ex.com/dir/"></head><body>'
        b'<a href="page2">rel</a> <a href="/abs">abs</a>'
        b'<a href="https://other.org/x">ext</a> <a href="#sec">frag</a>'
        b'<a href="javascript:void(0)">js</a> <a href="mailto:a@b">m</a>'
        b'<a href="page2">dup</a></body></html>'
    )
    assert html_links(page) == [
        "https://ex.com/dir/page2",
        "https://ex.com/abs",
        "https://other.org/x",
    ]
    # no <base>: resolves against the fetch URL
    assert html_links(b'<a href="/only">x</a>', base_url="http://b.net/p") == [
        "http://b.net/only"
    ]
    assert html_links(b"\xff\x00garbage") == []


def _linked_page(links: list[str]) -> bytes:
    body = "".join(f'<a href="{l}">l</a>' for l in links)
    return f"<html><body>{body}</body></html>".encode()


def test_warc_link_graph_and_pagerank_composition(spark, tmp_path):
    """The full crawl-analytics loop: WARC segments -> per-page link
    extraction -> canonical URLs -> edge list -> fixed-point PageRank.
    hub.example links to both leaves; every page links back to hub, so
    hub must out-rank the leaves."""
    from data_engineer_challenge_spark.operators.graph import pagerank
    from data_engineer_challenge_spark.sources.warc import warc_link_graph

    recs = [
        (
            "hub",
            "https://hub.example/",
            _linked_page(
                ["https://a.example/page/", "https://b.example/page"]
            ),
        ),
        (
            "a",
            "https://a.example/page",
            _linked_page(["https://hub.example/?utm_source=x"]),
        ),
        (
            "b",
            "https://b.example/page",
            _linked_page(["https://HUB.example:443/"]),
        ),
    ]
    seg = b"".join(
        _warc_record("response", rid, uri, _http_payload(body))
        for rid, uri, body in recs
    )
    (tmp_path / "crawl.warc").write_bytes(seg)

    edges = warc_link_graph(spark, str(tmp_path))
    got = {(r["src_url"], r["dst_url"]) for r in edges.collect()}
    # trailing slash + utm + case + default port all canonicalized
    assert got == {
        ("https://hub.example/", "https://a.example/page"),
        ("https://hub.example/", "https://b.example/page"),
        ("https://a.example/page", "https://hub.example/"),
        ("https://b.example/page", "https://hub.example/"),
    }

    ranks = {
        r["node"]: r["rank_fp"]
        for r in pagerank(
            edges, src="src_url", dst="dst_url", iterations=8
        ).collect()
    }
    assert ranks["https://hub.example/"] > ranks["https://a.example/page"]
    assert ranks["https://a.example/page"] == ranks["https://b.example/page"]


# --------------------------------------- review-fix regressions (r6)


def test_parse_warc_resyncs_past_corrupt_record():
    """One corrupt record loses itself, never the rest of the segment."""
    good1 = _warc_record("response", "r1", "http://a/", _http_payload(b"one"))
    good2 = _warc_record("response", "r2", "http://b/", _http_payload(b"two"))

    bad_len = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"Content-Length: NOTANUMBER\r\n\r\n"
    )
    ids = [
        r["headers"]["warc-record-id"]
        for r in parse_warc(good1 + bad_len + good2)
    ]
    assert ids == ["<urn:uuid:r1>", "<urn:uuid:r2>"]

    stray = b"\x00\x01 stray inter-record garbage"
    ids = [
        r["headers"]["warc-record-id"]
        for r in parse_warc(good1 + stray + b"\r\n" + good2)
    ]
    assert ids == ["<urn:uuid:r1>", "<urn:uuid:r2>"]


def test_http_response_body_decodes_content_encoding():
    import zlib

    body = b"<html><body><p>hello compressed world</p></body></html>"
    gz = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n"
    ) + gzip.compress(body)
    status, headers, out = http_response_body(gz)
    assert (status, out) == (200, body)

    fl = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
    ) + zlib.compress(body)
    assert http_response_body(fl)[2] == body

    raw_deflate = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
    ) + zlib.compress(body)[2:-4]
    assert http_response_body(raw_deflate)[2] == body

    # wrong-but-present header: raw bytes survive, nothing raises
    lie = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gzip"
    assert http_response_body(lie)[2] == b"not gzip"


def test_warc_gzip_encoded_html_extracts_text(spark, tmp_path):
    """A Content-Encoding: gzip page must reach the documents table as
    text, not as replacement-char mojibake."""
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Encoding: gzip\r\n\r\n"
    ) + gzip.compress(_ARTICLE)
    seg = _warc_record("response", "gz-1", "http://gz.example/", payload)
    (tmp_path / "enc.warc").write_bytes(seg)
    rows = warc_html_documents(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert "genuinely long first paragraph" in rows[0]["text"]


def test_html_links_relative_base_resolves_against_page_url():
    from data_engineer_challenge_spark.sources.html import html_links

    page = (
        b'<html><head><base href="/en/"></head>'
        b'<body><a href="page2">x</a></body></html>'
    )
    assert html_links(page, base_url="https://site.com/a/b") == [
        "https://site.com/en/page2"
    ]


def test_read_warc_records_explicit_list_ignores_case(spark, tmp_path):
    """A mixed-case segment chosen by the ingest snapshot must not be
    silently dropped by the directory glob."""
    seg = _warc_record(
        "response", "mc-1", "http://mc.example/", _http_payload(_ARTICLE)
    )
    p = tmp_path / "seg01.Warc.gz"
    p.write_bytes(gzip.compress(seg))
    rows = read_warc_records(spark, [str(p)]).collect()
    assert [r["record_id"] for r in rows] == ["<urn:uuid:mc-1>"]


# ------------------------------------------------- host-level rollup


def test_url_host_and_registered_domain_values(spark):
    from data_engineer_challenge_spark.functions.urls import (
        registered_domain,
        url_host,
    )

    rows = [
        ("https://WWW.Example.COM/a", "example.com", "example.com"),
        ("https://news.bbc.co.uk/x", "news.bbc.co.uk", "bbc.co.uk"),
        ("http://a.b.deep.example.com/", "a.b.deep.example.com", "example.com"),
        ("http://localhost:8080/", "localhost", "localhost"),
        ("http://shop.com.au/", "shop.com.au", "shop.com.au"),
        ("http://x.shop.com.au/", "x.shop.com.au", "shop.com.au"),
        ("not a url", None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in rows], ["u"])
    got = df.select(
        url_host("u").alias("h"), registered_domain("u").alias("d")
    ).collect()
    for (u, eh, ed), r in zip(rows, got):
        assert r["h"] == eh, u
        assert r["d"] == ed, u


def test_host_graph_rollup_drops_intra_host(spark):
    from data_engineer_challenge_spark.operators.graph import host_graph

    edges = spark.createDataFrame(
        [
            ("https://a.com/1", "https://b.com/x"),
            ("https://a.com/2", "https://b.com/y"),
            ("https://www.a.com/3", "https://b.com/z"),
            ("https://a.com/1", "https://a.com/2"),  # intra-host: dropped
            ("https://b.com/x", "https://sub.a.com/"),
            ("bogus", "https://b.com/x"),  # malformed: dropped
        ],
        ["src_url", "dst_url"],
    )
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph(edges).collect()
    }
    assert got == {
        ("a.com", "b.com"): 3,
        ("b.com", "sub.a.com"): 1,
    }
    dom = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph(edges, by_domain=True).collect()
    }
    # sub.a.com folds into a.com; the b->sub edge becomes b.com->a.com
    assert dom == {("a.com", "b.com"): 3, ("b.com", "a.com"): 1}


def test_warc_ingest_with_passage_dedup(spark, tmp_path):
    """WARC tick + WindowHashIndex: a boilerplate passage repeated in a
    LATER segment's otherwise-new page is cut before the row lands (the
    RefinedWeb passage stage), and state-loss reprocessing converges —
    the passage tick's id guard keeps replayed docs from self-matching
    their own indexed windows."""
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
    from data_engineer_challenge_spark.operators.passage import WindowHashIndex
    from data_engineer_challenge_spark.streaming.snapshot_diff import SnapshotState
    from data_engineer_challenge_spark.streaming.warc_ingest import warc_ingest_tick

    boiler = " ".join(f"boiler{i}" for i in range(40))
    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment([("doc-a", "http://x/a", _html("lead words " + boiler + " tail"))])
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    pidx = WindowHashIndex(spark, str(tmp_path / "pidx"))

    r1 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", passage_index=pidx
    )
    assert r1.fired and r1.docs_merged == 1

    (warc_dir / "b.warc").write_bytes(
        _segment([
            ("doc-b", "http://y/b",
             _html("three fresh lead tokens here " + boiler + " own ending")),
        ])
    )
    r2 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", passage_index=pidx
    )
    assert r2.fired and r2.docs_merged == 1
    rows = {r["doc_id"]: r["text"] for r in wh.read("web_docs").collect()}
    assert "boiler0" in rows["<urn:uuid:doc-a>"].split()      # first owner intact
    assert "boiler0" not in rows["<urn:uuid:doc-b>"].split()  # repeat cut
    assert "three" in rows["<urn:uuid:doc-b>"].split()

    # state loss: reprocess everything; the id guard must keep both
    # docs' stored text IDENTICAL (no self-match gutting)
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs", passage_index=pidx
    )
    after = {r["doc_id"]: r["text"] for r in wh.read("web_docs").collect()}
    assert after == rows


def test_warc_tick_passage_and_text_index_compose(spark, tmp_path):
    """The full-loop composition (passage dedup + text index in ONE
    tick): the repeated span is cut before the row lands, and the text
    index — fed by the post-MERGE warehouse read-back — indexes the
    CUT text, so a term pair living only inside the cut span is not
    searchable on the later doc while its fresh tail is. A state-loss
    reprocess leaves the warehouse, the search results, and the corpus
    stats all unchanged."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.operators.passage import (
        WindowHashIndex,
    )
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        SnapshotState,
    )
    from data_engineer_challenge_spark.streaming.warc_ingest import (
        warc_ingest_tick,
    )

    boiler = " ".join(f"boiler{i}" for i in range(40))
    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment([("doc-a", "http://x/a",
                   _html("lead words " + boiler + " tail"))])
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    pidx = WindowHashIndex(spark, str(tmp_path / "pidx"))
    tidx = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=16)

    warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs",
        passage_index=pidx, text_index=tidx,
    )
    (warc_dir / "b.warc").write_bytes(
        _segment([("doc-b", "http://y/b",
                   _html("three fresh lead tokens here " + boiler
                         + " own ending"))])
    )
    warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs",
        passage_index=pidx, text_index=tidx,
    )
    rows = {r["doc_id"]: r["text"] for r in wh.read("web_docs").collect()}
    assert "boiler0" not in rows["<urn:uuid:doc-b>"].split()  # cut landed

    tids = {
        r["doc_id"]: r["__tid"]
        for r in wh.read("web_docs")
        .select("doc_id", F.xxhash64("doc_id").alias("__tid"))
        .collect()
    }
    # the cut span's terms are searchable ONLY on their first owner —
    # the index holds the warehouse's (cut) text, not the raw crawl
    cand = {r["doc_id"] for r in
            tidx.conjunctive_candidates(("boiler0", "boiler1")).collect()}
    assert cand == {tids["<urn:uuid:doc-a>"]}
    # doc-b's fresh tail is searchable
    hit = {r["doc_id"] for r in tidx.probe(("ending",), topk=5).collect()}
    assert hit == {tids["<urn:uuid:doc-b>"]}

    def stats_total():
        return (
            spark.read.schema("txn string, n_docs long, sum_dl long")
            .parquet(str(tmp_path / "tidx" / "stats"))
            .groupBy("txn").agg(F.max("n_docs").alias("n"))
            .agg(F.sum("n")).collect()[0][0]
        )

    assert stats_total() == 2

    # state loss: full reprocess; texts, search answers, stats stable
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs",
        passage_index=pidx, text_index=tidx,
    )
    after = {r["doc_id"]: r["text"] for r in wh.read("web_docs").collect()}
    assert after == rows
    assert stats_total() == 2
    cand2 = {r["doc_id"] for r in
             tidx.conjunctive_candidates(("boiler0", "boiler1")).collect()}
    assert cand2 == cand


def test_warc_ingest_intra_tick_passage_dedup(spark, tmp_path):
    """Passages repeated WITHIN one tick's batch (boilerplate shared
    across pages of the same segment) are cut by the in-batch
    keep-first pass BEFORE the index probe — the probe alone only sees
    batch-vs-index duplication, so without the pre-pass both variants
    would land uncut and both sets of windows would be indexed."""
    from data_engineer_challenge_spark.operators.merge import ParquetWarehouse
    from data_engineer_challenge_spark.operators.passage import WindowHashIndex
    from data_engineer_challenge_spark.streaming.snapshot_diff import SnapshotState
    from data_engineer_challenge_spark.streaming.warc_ingest import warc_ingest_tick

    boiler = " ".join(f"chrome{i}" for i in range(40))
    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    # ONE segment, two pages sharing the boilerplate passage
    (warc_dir / "a.warc").write_bytes(
        _segment([
            ("doc-a", "http://x/a", _html("first page body " + boiler + " end")),
            ("doc-b", "http://x/b",
             _html("second page other words " + boiler + " close")),
        ])
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    pidx = WindowHashIndex(spark, str(tmp_path / "pidx"))
    r1 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", passage_index=pidx
    )
    assert r1.fired and r1.docs_merged == 2
    rows = {r["doc_id"]: r["text"] for r in wh.read("web_docs").collect()}
    # keep-first: doc-a (smaller id) keeps the passage, doc-b loses it
    ka, kb = rows["<urn:uuid:doc-a>"].split(), rows["<urn:uuid:doc-b>"].split()
    assert ("chrome0" in ka) != ("chrome0" in kb)  # exactly one owner
    assert "first" in ka and "second" in kb        # own content intact


def test_warc_tick_quality_quarantine_stage(spark, tmp_path):
    """The CCNet-stage composition (r8): the tick scores every
    extracted doc with the frozen learned classifier BEFORE the dedup
    probes, merges only the keepers, and quarantines rejects (with
    their scores) into a keyed <table>_quality_rejects — idempotent
    under a state-loss full reprocess. Kept/rejected must agree
    exactly with the standalone scorer on the same extractions."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.plans.text import (
        with_quality_score,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        SnapshotState,
    )
    from data_engineer_challenge_spark.streaming.warc_ingest import (
        warc_ingest_tick,
    )

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment(
            [
                ("doc-a", "http://x/a", _html(_LONG_A)),
                ("doc-b", "http://x/b", _html(_LONG_A_NEARDUP)),
                ("doc-c", "http://y/c", _html(_LONG_C)),
            ]
        )
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    r = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs",
        quality_scorer=with_quality_score,
    )
    assert r.fired and r.docs_extracted == 3
    assert r.docs_merged + r.docs_rejected == 3

    # ground truth: the standalone frozen scorer over the same docs
    want = {
        row["doc_id"]: row["is_kept"]
        for row in with_quality_score(
            wh.read("web_docs").select("doc_id", "text").unionByName(
                wh.read("web_docs_quality_rejects")
                .select("doc_id", "text")
                if wh.exists("web_docs_quality_rejects")
                else spark.createDataFrame([], "doc_id string, text string")
            )
        ).collect()
    }
    kept_ids = {r["doc_id"] for r in wh.read("web_docs").collect()}
    assert kept_ids == {d for d, k in want.items() if k}
    if r.docs_rejected:
        rej = wh.read("web_docs_quality_rejects")
        assert {row["doc_id"] for row in rej.collect()} == {
            d for d, k in want.items() if not k
        }
        assert "quality_score" in rej.columns

    # state-loss reprocess: same merge + same quarantine, no dupes
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    r2 = warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs",
        quality_scorer=with_quality_score,
    )
    assert r2.fired
    assert {row["doc_id"] for row in wh.read("web_docs").collect()} == kept_ids
    if r.docs_rejected:
        rej2 = wh.read("web_docs_quality_rejects")
        assert rej2.count() == r.docs_rejected  # keyed MERGE, no dupes


def test_warc_tick_full_stack_composition(spark, tmp_path):
    """ALL four optional stages in ONE tick — quality gate + MinHash
    near-dup index + passage index + BM25 text index — the full
    production tick. Pins the stage interactions: the quality gate
    runs FIRST (rejects never reach any dedup probe, any index, or
    the warehouse), the surviving docs flow through passage dedup and
    the read-back text index, the corpus stats count exactly the
    KEPT-and-merged docs, and a state-loss reprocess converges the
    warehouse, the quarantine table and the search results
    bit-identically."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.dedup_index import (
        MinHashIndex,
    )
    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.operators.passage import (
        WindowHashIndex,
    )
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        SnapshotState,
    )
    from data_engineer_challenge_spark.streaming.warc_ingest import (
        warc_ingest_tick,
    )

    # deterministic scorer for the INTERACTION test (the frozen
    # classifier's integration is pinned by
    # test_warc_tick_quality_quarantine_stage; its sharply-calibrated
    # weights keep almost nothing on arbitrary planted text, which
    # would leave the downstream stages unexercised here): keep docs
    # with >= 10 tokens, scorer contract intact
    def length_scorer(df):
        n = F.size(F.split(F.col("text"), " "))
        return df.withColumn(
            "quality_score", n.cast("double")
        ).withColumn("is_kept", n >= 30)

    boiler = " ".join(f"boiler{i}" for i in range(40))
    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment([
            ("doc-a", "http://x/a",
             _html("lead words " + boiler + " riverbank tail")),
            # clears the HTML good-block threshold but falls under
            # the 30-token gate: rejected, must never reach any index
            ("doc-spam", "http://x/spam",
             _html("genuinely low value spam paragraph repeating "
                   "nothing interesting whatsoever beyond filler "
                   "characters and padding words")),
        ])
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    midx = MinHashIndex(spark, str(tmp_path / "midx"))
    pidx = WindowHashIndex(spark, str(tmp_path / "pidx"))
    tidx = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=16)

    def tick(st):
        return warc_ingest_tick(
            spark, str(warc_dir), st, wh, "web_docs",
            index=midx, passage_index=pidx, text_index=tidx,
            quality_scorer=length_scorer,
        )

    r1 = tick(state)
    assert r1.fired
    assert r1.docs_extracted == 2
    assert (r1.docs_merged, r1.docs_rejected) == (1, 1)

    # a later segment: a fresh page re-using the boilerplate span
    (warc_dir / "b.warc").write_bytes(
        _segment([
            ("doc-b", "http://y/b",
             _html("petabyte fresh tokens here " + boiler + " own end")),
        ])
    )
    r2 = tick(state)
    assert r2.fired
    assert (r2.docs_merged, r2.docs_rejected) == (1, 0)

    rows = {r["doc_id"]: r["text"] for r in wh.read("web_docs").collect()}
    rejected = {
        r["doc_id"] for r in wh.read("web_docs_quality_rejects").collect()
    }
    # every extracted doc landed exactly once, in exactly one place
    assert set(rows) == {"<urn:uuid:doc-a>", "<urn:uuid:doc-b>"}
    assert rejected == {"<urn:uuid:doc-spam>"}
    # stage interaction: the passage stage cut the repeated span from
    # the later doc, and the text index (fed by the post-MERGE
    # read-back) reflects the CUT text — while the rejected doc is
    # invisible to search entirely
    assert "boiler0" in rows["<urn:uuid:doc-a>"].split()
    assert "boiler0" not in rows["<urn:uuid:doc-b>"].split()
    hit = {r["doc_id"] for r in tidx.probe(("boiler0",), topk=5).collect()}
    a_tid = wh.read("web_docs").where(
        F.col("doc_id") == "<urn:uuid:doc-a>"
    ).select(F.xxhash64("doc_id")).collect()[0][0]
    assert hit == {a_tid}
    assert not tidx.probe(("spam",), topk=5).collect()
    # corpus stats == exactly the kept-and-merged docs
    stats = (
        spark.read.schema("txn string, n_docs long, sum_dl long")
        .parquet(str(tmp_path / "tidx" / "stats"))
        .groupBy("txn").agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert stats == len(rows)

    # state-loss reprocess: everything converges bit-identically
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    assert tick(lost).fired
    after = {r["doc_id"]: r["text"] for r in wh.read("web_docs").collect()}
    assert after == rows
    assert {
        r["doc_id"]
        for r in wh.read("web_docs_quality_rejects").collect()
    } == rejected
    stats2 = (
        spark.read.schema("txn string, n_docs long, sum_dl long")
        .parquet(str(tmp_path / "tidx" / "stats"))
        .groupBy("txn").agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert stats2 == stats


def test_warc_modified_segment_new_doc_still_indexed(spark, tmp_path):
    """Regression (r8 review): a MODIFIED segment re-delivering its old
    doc plus a NEW one used to hit the committed name-keyed txn —
    append() no-op'd AND roster-backfilled the new doc's id, leaving
    it in the warehouse but permanently unsearchable. The txn is now
    content-keyed (segment@mtime_ns): the modified file is a fresh
    txn, the old doc anti-joins away against the roster (keep-first),
    the new doc indexes, and corpus stats count each doc exactly
    once."""
    import os
    import time

    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.operators.text_index import (
        InvertedTextIndex,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        SnapshotState,
    )
    from data_engineer_challenge_spark.streaming.warc_ingest import (
        warc_ingest_tick,
    )

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    seg = warc_dir / "a.warc"
    seg.write_bytes(
        _segment([("doc-a", "http://x/a", _html(_LONG_A))])
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    tidx = InvertedTextIndex(spark, str(tmp_path / "tidx"), t_buckets=16)
    assert warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", text_index=tidx
    ).docs_merged == 1

    # the segment is REWRITTEN in place: old doc + a brand-new one
    seg.write_bytes(
        _segment([
            ("doc-a", "http://x/a", _html(_LONG_A)),
            ("doc-new", "http://x/new", _html(_LONG_C)),
        ])
    )
    os.utime(str(seg), ns=(time.time_ns(), time.time_ns()))
    r2 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", text_index=tidx
    )
    # the plain path keyed-MERGEs both rows (doc-a idempotently
    # re-upserts); the INDEX must still only ingest the new doc
    assert r2.fired and r2.docs_merged == 2

    # the NEW doc is searchable (this was the silent loss)
    tids = {
        r["doc_id"]: r[1]
        for r in wh.read("web_docs")
        .select("doc_id", F.xxhash64("doc_id"))
        .collect()
    }
    hit = [r["doc_id"] for r in tidx.probe(("petabyte",), topk=5).collect()]
    assert hit == [tids["<urn:uuid:doc-new>"]]
    # the re-delivered old doc kept its first-indexed postings
    hit_a = [r["doc_id"] for r in tidx.probe(("riverbank",), topk=5).collect()]
    assert hit_a == [tids["<urn:uuid:doc-a>"]]
    # corpus stats: each doc counted exactly once across all txns
    stats = (
        spark.read.schema("txn string, n_docs long, sum_dl long")
        .parquet(str(tmp_path / "tidx" / "stats"))
        .groupBy("txn").agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert stats == 2

    # state-loss reprocess: both content-keyed txns committed -> no-op
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs", text_index=tidx
    )
    stats2 = (
        spark.read.schema("txn string, n_docs long, sum_dl long")
        .parquet(str(tmp_path / "tidx" / "stats"))
        .groupBy("txn").agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert stats2 == 2


def test_warc_tick_source_reputation_gate(spark, tmp_path):
    """Continuous domain-level gating (the crawl pipelines' source
    blocklist, derived ONLINE from the tick's own committed tables):
    (a) tick 1 — no history, nothing blocked, a spam host's documents
    are rejected by the scorer into the keyed quarantine; (b) tick 2 —
    the host's running reject rate now exceeds the ppm threshold at
    the volume floor, so its NEW documents are blocked BEFORE scoring
    (they would PASS the scorer — the point: a gated source's docs
    cost one hash join, and the gate is a reputation decision, not a
    per-doc quality one), landing in the keyed blocked table while a
    good host ingests normally; (c) a state-loss full reprocess
    converges the MAIN table exactly, and the spam docs stay out of
    it (rejected ∪ blocked covers them) — the gate derives from keyed
    tables, so replay cannot double-count reputation."""
    from pyspark.sql import functions as F

    from data_engineer_challenge_spark.operators.merge import (
        ParquetWarehouse,
    )
    from data_engineer_challenge_spark.streaming.snapshot_diff import (
        SnapshotState,
    )
    from data_engineer_challenge_spark.streaming.warc_ingest import (
        warc_ingest_tick,
    )

    def scorer(df):
        n = F.size(F.split(F.col("text"), " "))
        return df.withColumn(
            "quality_score", n.cast("double")
        ).withColumn("is_kept", n >= 30)

    long_txt = " ".join(f"word{i} interesting content" for i in range(20))
    # long enough to clear the HTML extractor's good-block threshold,
    # still under the scorer's 30-token keep gate
    short_txt = (
        "genuinely low value spam paragraph repeating nothing "
        "interesting whatsoever beyond filler characters and padding "
        "words for threshold clearance purposes"
    )
    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(
        _segment(
            [
                (f"spam-{i}", f"http://spamhost.example/p{i}",
                 _html(short_txt + f" variant{i}"))
                for i in range(3)
            ]
            + [
                (f"good-{i}", f"http://goodhost.example/a{i}",
                 _html(long_txt + f" article{i}"))
                for i in range(3)
            ]
        )
    )
    state = SnapshotState.load(str(tmp_path / "offsets.json"))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    kw = dict(
        quality_scorer=scorer,
        source_gate=True,
        gate_min_docs=3,
        gate_reject_ppm=500_000,
    )
    r1 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", **kw
    )
    assert r1.fired and r1.docs_blocked == 0 and r1.blocked_hosts == 0
    assert r1.docs_rejected == 3 and r1.docs_merged == 3

    # tick 2: spamhost's new docs are LONG (the scorer would keep
    # them) — only the reputation gate can stop them
    (warc_dir / "b.warc").write_bytes(
        _segment(
            [
                (f"spam-new-{i}", f"http://spamhost.example/n{i}",
                 _html(long_txt + f" laundered{i}"))
                for i in range(2)
            ]
            + [
                ("good-new", "http://goodhost.example/new",
                 _html(long_txt + " fresh article")),
            ]
        )
    )
    r2 = warc_ingest_tick(
        spark, str(warc_dir), state, wh, "web_docs", **kw
    )
    assert r2.fired
    assert r2.blocked_hosts == 1
    assert r2.docs_blocked == 2
    assert r2.docs_rejected == 0  # blocked docs never reached scoring
    assert r2.docs_merged == 1
    main_ids = {r["doc_id"] for r in wh.read("web_docs").collect()}
    assert not any("spam" in d for d in main_ids)
    blocked = wh.read("web_docs_source_blocked")
    assert {r["doc_id"] for r in blocked.collect()} == {
        "<urn:uuid:spam-new-0>", "<urn:uuid:spam-new-1>",
    }

    # state-loss reprocess: MAIN table converges; spam never enters it
    lost = SnapshotState.load(str(tmp_path / "fresh.json"))
    r3 = warc_ingest_tick(
        spark, str(warc_dir), lost, wh, "web_docs", **kw
    )
    assert r3.fired
    assert {
        r["doc_id"] for r in wh.read("web_docs").collect()
    } == main_ids
    covered = {
        r["doc_id"]
        for r in wh.read("web_docs_quality_rejects").collect()
    } | {r["doc_id"] for r in wh.read("web_docs_source_blocked").collect()}
    assert len([d for d in covered if "spam" in d]) == 5
