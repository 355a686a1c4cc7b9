"""Seeded input generators for every workload.

Every input the program sees is built here from one ``random.Random``
seeded by ``--seed``; the program receives only the generated files
(xlsx registry, PDF/DOCX drops, parquet corpora) and query values.
The generators also return the planted ground truth that the
workloads check outputs against.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

from tests.fixtures import XLSX_HEADER, build_docx, build_pdf, build_xlsx

# ---------------------------------------------------------------------------
# cdw_ingest: patient registry + document drops
# ---------------------------------------------------------------------------

REGISTRY_ROWS = 4828  # the reference export's row count
DUPLICATE_SHARE = 0.02  # registry rows repeating an earlier patient's key
DOCS_PER_TICK = 50
DOCX_SHARE = 0.25
UNMATCHED_SHARE = 0.10  # drops whose IPP matches no patient
REDROP_SHARE = 0.10  # drops rewriting an already-ingested key
REVISION_EDIT_SHARE = 0.02  # registry rows edited by one revision
REVISION_NEW_PATIENTS = 25

_SYLLABLES = ["ber", "dan", "mar", "lou", "ti", "ne", "ro", "sa", "vi", "gal",
              "mon", "ta", "du", "pre", "chon", "la", "fer", "bo", "ri", "que"]
_CITIES = [("75001", "Paris"), ("69001", "Lyon"), ("13001", "Marseille"),
           ("31000", "Toulouse"), ("33000", "Bordeaux"), ("59000", "Lille"),
           ("44000", "Nantes"), ("67000", "Strasbourg")]
_FILLER = ["patient", "examen", "clinique", "normal", "suivi", "traitement",
           "consultation", "bilan", "sang", "tension", "poids", "service",
           "hospitalisation", "imagerie", "resultat", "stable", "douleur"]


def _word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n))


def _fr_date(d: dt.date) -> str:
    return d.strftime("%d/%m/%Y")


def _rand_date(rng: random.Random, y0: int, y1: int) -> dt.date:
    return dt.date(rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28))


@dataclass
class Registry:
    """The registry's rows plus what the warehouse must hold after a
    load: ``kept_ipps`` are the IPPs of first occurrences (the rows the
    keep-first dedup retains), ``cities`` the expected city per
    (LASTNAME, FIRSTNAME)."""

    rows: list[list[str | None]]
    kept_ipps: list[str]
    n_duplicates: int
    cities: dict[tuple[str, str], str] = field(default_factory=dict)

    @property
    def n_patients(self) -> int:
        return len(self.rows) - self.n_duplicates

    def xlsx(self) -> bytes:
        return build_xlsx([XLSX_HEADER, *self.rows])


def make_registry(rng: random.Random, n_rows: int = REGISTRY_ROWS) -> Registry:
    ipps = [f"{v:08d}" for v in rng.sample(range(10_000_000, 80_000_000), n_rows)]
    n_dup = int(n_rows * DUPLICATE_SHARE)
    dup_rows = set(rng.sample(range(n_rows // 2, n_rows), n_dup))
    rows: list[list[str | None]] = []
    kept_ipps: list[str] = []
    cities: dict[tuple[str, str], str] = {}
    for i in range(n_rows):
        cp, city = rng.choice(_CITIES)
        if i in dup_rows:
            # same dedup key (NOM, PRENOM, DATE_NAISSANCE, ADRESSE, TEL)
            # as an earlier first occurrence, under another IPP
            # sources sit below n_rows // 2, where no duplicate is
            src = rows[rng.randrange(i // 2)]
            row = [src[0], src[1], src[2], src[3], None, ipps[i], src[6],
                   src[7], cp, city, "France", None]
        else:
            nom = f"{_word(rng, 3).capitalize()}{i}"
            prenom = _word(rng, 2).capitalize()
            death = _fr_date(_rand_date(rng, 2005, 2023)) if rng.random() < 0.05 else None
            row = [nom, prenom, _fr_date(_rand_date(rng, 1930, 2015)),
                   rng.choice("MF"), None, ipps[i], f"{i} rue {_word(rng, 2)}",
                   f"+33 6{rng.randrange(10**8):08d}", cp, city, "France", death]
            kept_ipps.append(ipps[i])
            cities[(row[0], row[1])] = city
        rows.append(row)
    return Registry(rows, kept_ipps, n_dup, cities)


def revise_registry(rng: random.Random, reg: Registry, revision: int) -> Registry:
    """One registry revision: city edits on a share of first-occurrence
    rows (non-key fields, so patients keep their number) plus new
    patients appended at the end."""
    rows = [list(r) for r in reg.rows]
    cities = dict(reg.cities)
    kept_set = set(reg.kept_ipps)
    keyed = [i for i, r in enumerate(rows) if r[5] in kept_set]
    for i in rng.sample(keyed, int(len(rows) * REVISION_EDIT_SHARE)):
        cp, city = rng.choice(_CITIES)
        rows[i][8], rows[i][9] = cp, city
        cities[(rows[i][0], rows[i][1])] = city
    kept = list(reg.kept_ipps)
    used = {r[5] for r in rows}
    for k in range(REVISION_NEW_PATIENTS):
        ipp = f"{rng.randrange(80_000_000, 90_000_000):08d}"
        while ipp in used:
            ipp = f"{rng.randrange(80_000_000, 90_000_000):08d}"
        used.add(ipp)
        cp, city = rng.choice(_CITIES)
        nom = f"Rev{revision}{_word(rng, 2).capitalize()}{k}"
        row = [nom, _word(rng, 2).capitalize(), _fr_date(_rand_date(rng, 1930, 2015)),
               rng.choice("MF"), None, ipp, f"{k} allee {_word(rng, 2)}",
               f"+33 7{rng.randrange(10**8):08d}", cp, city, "France", None]
        rows.append(row)
        kept.append(ipp)
        cities[(row[0], row[1])] = city
    return Registry(rows, kept, reg.n_duplicates, cities)


@dataclass
class PlantedDoc:
    filename: str
    ipp: str
    doc_id: str
    date: dt.date
    author: str  # as the warehouse must store it ("Dr Xxx [Yyy]")


class DocumentDropper:
    """Writes seeded PDF/DOCX drops and tracks the expected warehouse:
    ``matched`` maps ID_DOC_SOURCE to its latest planted content,
    ``unmatched`` holds the filenames quarantine must hold."""

    def __init__(self, rng: random.Random, docs_dir: str, ipps: list[str]):
        self.rng = rng
        self.docs_dir = docs_dir
        self.ipps = ipps
        self.matched: dict[str, PlantedDoc] = {}
        self.unmatched: set[str] = set()
        self._next_id = 1
        self._orphan_ipps = [f"{v:08d}" for v in rng.sample(range(90_000_000, 99_999_999), 500)]

    def _content(self, date: dt.date) -> tuple[list[str], str]:
        rng = self.rng
        name = " ".join(_word(rng, 2) for _ in range(rng.randint(1, 2)))
        birth = _fr_date(_rand_date(rng, 1930, 1999))
        filler = [" ".join(rng.choice(_FILLER) for _ in range(12)) for _ in range(rng.randint(3, 8))]
        lines = [f"Compte rendu du {_fr_date(date)}", f"Ne le {birth}", *filler, f"dr {name}"]
        return lines, "Dr " + " ".join(w.capitalize() for w in name.split())

    def _write(self, filename: str, lines: list[str]) -> None:
        data = build_docx(lines) if filename.endswith(".docx") else build_pdf(lines)
        with open(f"{self.docs_dir}/{filename}", "wb") as fh:
            fh.write(data)

    def drop(self, n: int = DOCS_PER_TICK) -> int:
        """Write one drop; returns how many files carry a matched key
        (each lands in DWH_DOCUMENT as an insert or an update)."""
        rng = self.rng
        n_orphan = round(n * UNMATCHED_SHARE)
        n_redrop = min(round(n * REDROP_SHARE), len(self.matched))
        redrops = rng.sample(sorted(self.matched), n_redrop)
        for doc_id in redrops:
            old = self.matched[doc_id]
            date = _rand_date(rng, 2005, 2024)
            lines, author = self._content(date)
            self._write(old.filename, lines)
            self.matched[doc_id] = PlantedDoc(old.filename, old.ipp, doc_id, date, author)
        n_new = n - n_redrop
        # exact shares per drop, so every tick carries the same mix
        docx = set(rng.sample(range(n_new), round(n_new * DOCX_SHARE)))
        for k in range(n_new):
            doc_id = str(self._next_id)
            self._next_id += 1
            ext = "docx" if k in docx else "pdf"
            orphan = k < n_orphan
            ipp = rng.choice(self._orphan_ipps if orphan else self.ipps)
            filename = f"{ipp}_{doc_id}.{ext}"
            date = _rand_date(rng, 2005, 2024)
            lines, author = self._content(date)
            self._write(filename, lines)
            if orphan:
                self.unmatched.add(filename)
            else:
                self.matched[doc_id] = PlantedDoc(filename, ipp, doc_id, date, author)
        return n - n_orphan


# ---------------------------------------------------------------------------
# corpus_curation / search_serving: text corpus with planted duplicates
# ---------------------------------------------------------------------------

EXACT_DUP_SHARE = 0.08  # copies of an earlier doc (case/space changes only)
NEAR_DUP_SHARE = 0.06  # copies of an earlier doc with 3% of words replaced
NEAR_DUP_EDIT = 0.03
LANG_MIX = [("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12)]
# the project's test corpus vocabulary (the quality classifier was
# trained on it) plus seeded pseudo-words for realistic diversity
_CORE = ("hash order table window row batch big group a spark filter sort join "
         "line data column key merge agg small scan vector stream value customer "
         "slow part fast query the").split()


@dataclass
class Corpus:
    rows: list[tuple[int, str, str, str, int]]  # documents schema
    near_pairs: set[tuple[int, int]]  # (base id, near-dup id), base < near
    family: dict[int, int]  # doc id -> id of the doc it was copied from

    def texts(self) -> dict[int, str]:
        return {r[0]: r[1] for r in self.rows}


def vocabulary() -> list[str]:
    """The corpus vocabulary: fixed, not seeded, so every seed draws
    documents from the same word distribution."""
    fixed = random.Random(0)
    extra = {_word(fixed, fixed.randint(2, 3)) for _ in range(400)}
    return _CORE + sorted(extra)


def make_corpus(rng: random.Random, n_docs: int, first_id: int = 1) -> Corpus:
    vocab = vocabulary()
    weights = [6.0] * len(_CORE) + [1.0] * (len(vocab) - len(_CORE))
    langs, lang_w = zip(*LANG_MIX)
    rows, near, family = [], set(), {}
    words_of: list[list[str]] = []
    for i in range(n_docs):
        doc_id = first_id + i
        roll = rng.random()
        if i > 20 and roll < EXACT_DUP_SHARE:
            j = rng.randrange(i)
            words = words_of[j]
            text = "  ".join(words).upper() if rng.random() < 0.5 else " ".join(words) + " "
            lang = rows[j][2]
            family[doc_id] = family.get(first_id + j, first_id + j)
        elif i > 20 and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            j = rng.randrange(i)
            words = list(words_of[j])
            for pos in rng.sample(range(len(words)), max(1, int(len(words) * NEAR_DUP_EDIT))):
                words[pos] = rng.choice(vocab)
            text = " ".join(words)
            lang = rows[j][2]
            base = family.get(first_id + j, first_id + j)
            family[doc_id] = base
            near.add((first_id + j, doc_id))
        else:
            words = rng.choices(vocab, weights, k=rng.randint(40, 120))
            text = " ".join(words)
            lang = rng.choices(langs, lang_w)[0]
        words_of.append(words)
        rows.append((doc_id, text, lang, f"src{rng.randrange(20)}", len(text)))
    return Corpus(rows, near, family)


def perturb(rng: random.Random, text: str, share: float, vocab: list[str]) -> str:
    words = text.split()
    for pos in rng.sample(range(len(words)), max(1, int(len(words) * share))):
        words[pos] = rng.choice(vocab)
    return " ".join(words)


def make_vectors(rng: random.Random, ids: list[int], centroids: list[list[float]]) -> dict:
    """One 64-d float32 vector (a numpy array) per id, drawn around the
    project's frozen IVF centroids so the inverted lists fill
    unevenly, as real embeddings do."""
    import numpy as np

    gen = np.random.default_rng(rng.randrange(2**32))
    cents = np.asarray(centroids, dtype=np.float64)
    pick = gen.integers(0, len(cents), len(ids))
    vecs = (cents[pick] + gen.normal(0.0, 0.35, (len(ids), cents.shape[1]))).astype(np.float32)
    return dict(zip(ids, vecs))
