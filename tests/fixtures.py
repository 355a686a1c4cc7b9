"""Synthetic clinical-corpus builders (FIXTURES.md §1-2): real .xlsx /
.docx zip containers and minimal PDFs, authored with stdlib only."""

from __future__ import annotations

import io
import zipfile

XLSX_HEADER = [
    "NOM", "PRENOM", "DATE_NAISSANCE", "SEXE", "NOM_JEUNE_FILLE",
    "HOSPITAL_PATIENT_ID", "ADRESSE", "TEL", "CP", "VILLE", "PAYS", "DATE_MORT",
]


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def build_xlsx(rows: list[list[str | None]], sheet_name: str = "Export Worksheet") -> bytes:
    """Single-sheet xlsx with inline strings."""
    def cell_xml(row_i: int, col_i: int, val: str | None) -> str:
        if val is None:
            return ""
        col = ""
        n = col_i + 1
        while n:
            n, rem = divmod(n - 1, 26)
            col = chr(65 + rem) + col
        return (
            f'<c r="{col}{row_i + 1}" t="inlineStr"><is><t>{_esc(val)}</t></is></c>'
        )

    rows_xml = "".join(
        f'<row r="{i + 1}">' + "".join(cell_xml(i, j, v) for j, v in enumerate(row)) + "</row>"
        for i, row in enumerate(rows)
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{rows_xml}</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{_esc(sheet_name)}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def build_docx(
    paragraphs: list[str] | None = None,
    table_cells: list[list[str]] | None = None,
    textbox_runs: list[str] | None = None,
) -> bytes:
    """DOCX with optional textbox (duplicated runs, as
    mc:Choice/mc:Fallback produce in real files), a table, paragraphs."""
    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

    def para(text: str) -> str:
        return f'<w:p><w:r><w:t xml:space="preserve">{_esc(text)}</w:t></w:r></w:p>'

    body_parts: list[str] = []
    if textbox_runs:
        runs = "".join(para(t) for t in textbox_runs)
        # two txbxContent copies with identical runs — the seen-set
        # dedup in the extractor must collapse them
        tx = f"<w:txbxContent>{runs}</w:txbxContent>"
        body_parts.append(f"<w:p><w:r><w:pict>{tx}{tx}</w:pict></w:r></w:p>")
    if table_cells:
        rows = "".join(
            "<w:tr>" + "".join(f"<w:tc>{para(c)}</w:tc>" for c in row) + "</w:tr>"
            for row in table_cells
        )
        body_parts.append(f"<w:tbl>{rows}</w:tbl>")
    for p in paragraphs or []:
        body_parts.append(para(p))

    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{w}"><w:body>' + "".join(body_parts) + "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    return buf.getvalue()


def build_pdf(lines: list[str]) -> bytes:
    """Minimal single-page PDF, uncompressed content stream, one Tj per
    line."""
    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content = "BT /F1 12 Tf 50 750 Td " + " ".join(
        f"({esc(line)}) Tj 0 -14 Td" for line in lines
    ) + " ET"
    content_b = content.encode("latin-1")
    parts = [b"%PDF-1.4\n"]
    parts.append(
        b"1 0 obj << /Length " + str(len(content_b)).encode() + b" >>\nstream\n"
        + content_b + b"\nendstream\nendobj\n"
    )
    parts.append(b"%%EOF\n")
    return b"".join(parts)


def write_corpus_layouts(root, corpus, n_files: int) -> tuple[str, str]:
    """Writes a ``perfbench.gen.Corpus`` twice under ``root``, the way
    the benchmark writes it: as one parquet file with one row group,
    and split in ``n_files`` files. Returns both paths."""
    import os

    from perfbench.curation import _write_corpus
    from perfbench.gen import Corpus

    one = os.path.join(str(root), "one.parquet")
    _write_corpus(corpus, one)
    many = os.path.join(str(root), "many")
    os.makedirs(many)
    step = -(-len(corpus.rows) // n_files)
    for i in range(n_files):
        part = Corpus(corpus.rows[i * step:(i + 1) * step], set(), {})
        _write_corpus(part, os.path.join(many, f"part-{i:03d}.parquet"))
    return one, many


def plan_subtrees(plan: str, marker: str) -> list[str]:
    """The node lines below every node of a Spark plan tree string
    whose line contains ``marker`` (one string per such node, its
    subtree's lines joined)."""
    import re

    lines = plan.splitlines()

    def depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        return m.start() if m else -1

    out = []
    for i, line in enumerate(lines):
        if marker in line:
            d, sub = depth(line), []
            for below in lines[i + 1:]:
                if depth(below) <= d:
                    break
                sub.append(below)
            out.append("\n".join(sub))
    return out
