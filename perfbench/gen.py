"""Seeded input generators. The same seed always gives the same inputs;
the program under test receives only the files written here.

- ``write_text_corpus``: ``documents`` and ``embeddings`` parquet tables
  with the package's test schema (the test-data layout: doc ids 0..n-1,
  word-salad texts of 10-99 tokens, 64-dim float embeddings), with planted
  exact and near duplicates so every dedup query has real work.
- ``EtlCycleInputs``: per-cycle workbook, invoice list and invoice files
  for the reference's Excel -> CSV -> SQL -> invoice-search chain, plus
  the truth each cycle must reproduce.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field

import numpy as np

VOCAB = (
    "data table row column key value query join scan filter sort group "
    "agg window batch stream line order customer part hash merge spark "
    "fast slow big small vector index shard cache page block record field"
).split()
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
LANGS = ("en", "en", "en", "es", "de", "fr", "zh")
EMBED_DIM = 64


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _salad(rng: np.random.Generator, n_tokens: int) -> list[str]:
    words = []
    for _ in range(n_tokens):
        r = rng.random()
        if r < 0.15:
            words.append(STOPWORDS[rng.integers(len(STOPWORDS))])
        else:
            words.append(VOCAB[rng.integers(len(VOCAB))])
    if rng.random() < 0.3:  # some punctuation for the quality score
        i = int(rng.integers(len(words)))
        words[i] = words[i] + ("," if rng.random() < 0.5 else ".")
    return words


def write_text_corpus(out_dir: str, seed: int, n_docs: int = 500) -> dict:
    """documents.parquet + embeddings.parquet under ``out_dir``.

    About 12% of documents are near copies of an original (10% of tokens
    replaced) and 4% exact copies with case and spacing changes. Copies
    are only ever made of originals, so near-dup components stay small
    stars and the transitive-closure oracle stays cheap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 1)
    texts: list[str] = []
    originals: list[int] = []
    kinds = {"near": 0, "exact": 0}
    for i in range(n_docs):
        r = rng.random()
        if len(originals) > 10 and r < 0.12:
            words = texts[originals[int(rng.integers(len(originals)))]].split()
            for j in range(len(words)):
                if rng.random() < 0.10:
                    words[j] = VOCAB[rng.integers(len(VOCAB))]
            kinds["near"] += 1
        elif len(originals) > 10 and r < 0.16:
            words = texts[originals[int(rng.integers(len(originals)))]].upper().split()
            kinds["exact"] += 1
            texts.append("  ".join(words))
            continue
        else:
            words = _salad(rng, int(rng.integers(10, 100)))
            originals.append(i)
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [LANGS[int(x)] for x in rng.integers(len(LANGS), size=n_docs)],
                pa.string(),
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    erng = _rng(seed, 2)
    centers = erng.normal(size=(10, EMBED_DIM))
    labels = erng.integers(10, size=n_docs)
    vecs = (centers[labels] + 0.6 * erng.normal(size=(n_docs, EMBED_DIM)))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.5).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_docs, **kinds}


# ---------------------------------------------------------------------------
# etl_cycle inputs
# ---------------------------------------------------------------------------

#: sheet -> (columns, primary key, datetime column)
SHEETS: dict[str, tuple[list[str], str, str]] = {
    "Invoices": (
        ["invnum", "SubFolder", "FileName", "CustomerRef", "InvoiceDate"],
        "invnum",
        "InvoiceDate",
    ),
    "Customers": (["CustomerId", "Name", "Segment", "Since"], "CustomerId", "Since"),
    "Orders": (["OrderId", "CustomerId", "Amount", "OrderDate"], "OrderId", "OrderDate"),
}
POISON_VALUES = ("n/a", "tbd", 9.9e9)   # not a number / outside the DateTime range
SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")


@dataclass
class CycleTruth:
    """What one changed cycle must produce."""

    loaded: dict[str, int] = field(default_factory=dict)        # sheet -> rows
    quarantined: dict[str, set] = field(default_factory=dict)   # sheet -> pks
    found_with_file: set = field(default_factory=set)           # copied
    found_without_file: set = field(default_factory=set)        # DB row, no file
    missing: set = field(default_factory=set)                   # no DB row
    cells: int = 0                                              # workbook cells

    @property
    def invoices(self) -> int:
        return len(self.found_with_file | self.found_without_file | self.missing)


class EtlCycleInputs:
    """Per-cycle inputs for the etl_cycle workload, derived from
    (seed, cycle). Every changed cycle has the same shape: ``rows`` rows
    per sheet with ~1% poison cells, and ``invoices`` invoice numbers of
    which ~75% have a database row and a file, ~10% a row but no file,
    ~10% no row at all, plus every quarantined invoice row."""

    def __init__(self, root: str, seed: int, rows: int, invoices: int):
        self.root = root
        self.seed = seed
        self.rows = rows
        self.invoices = invoices
        self.workbook = os.path.join(root, "inbox", "book.xlsx")
        self.invoice_csv = os.path.join(root, "invoices", "invoices.csv")
        self.src_root = os.path.join(root, "documents")
        self.dst_root = os.path.join(root, "delivered")
        for d in ("inbox", "invoices", "documents", "delivered"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    def write_cycle(self, cycle: int) -> CycleTruth:
        """Drop cycle ``cycle``'s workbook (with a fixed, increasing mtime
        so the watermark sees a change), invoice list and invoice files."""
        from etl_excel_csv_sql_spark.io import xlsx

        rng = _rng(self.seed, 1000 + cycle)
        truth = CycleTruth()
        sheets: dict[str, list[list]] = {}
        good_invoices: list[str] = []
        for sheet, (cols, pk, dt_col) in SHEETS.items():
            rows: list[list] = [list(cols)]
            poisoned: set = set()
            for i in range(self.rows):
                key = f"{sheet[0]}{cycle:03d}-{i:05d}"
                serial = float(40000 + int(rng.integers(0, 8000))) + (
                    int(rng.integers(0, 96)) / 96.0
                )
                if rng.random() < 0.01:
                    serial = POISON_VALUES[int(rng.integers(len(POISON_VALUES)))]
                    poisoned.add(key)
                if sheet == "Invoices":
                    row = [key, f"c{cycle:03d}/d{i % 16:02d}", f"{key}.pdf",
                           f"CUST-{int(rng.integers(1, 500)):04d}", serial]
                    if key not in poisoned:
                        good_invoices.append(key)
                elif sheet == "Customers":
                    row = [key, f"Customer {i}", SEGMENTS[i % len(SEGMENTS)], serial]
                else:
                    row = [key, f"C{cycle:03d}-{int(rng.integers(self.rows)):05d}",
                           round(float(rng.integers(100, 10_000_000)) / 100, 2), serial]
                rows.append(row)
                truth.cells += len(row)
            truth.cells += len(cols)
            truth.loaded[sheet] = self.rows - len(poisoned)
            truth.quarantined[sheet] = poisoned
            sheets[sheet] = rows
        xlsx.write_workbook(self.workbook, sheets)
        mtime = 1_700_000_000 + 60 * cycle
        os.utime(self.workbook, (mtime, mtime))

        # invoice list: a seeded sample of the good invoice rows, every
        # quarantined one, and numbers the database never had
        pick = rng.permutation(len(good_invoices))
        n_file = int(self.invoices * 0.75)
        n_nofile = int(self.invoices * 0.10)
        with_file = [good_invoices[i] for i in pick[:n_file]]
        without_file = [good_invoices[i] for i in pick[n_file:n_file + n_nofile]]
        unknown = [f"X{cycle:03d}-{k:05d}" for k in range(
            self.invoices - n_file - n_nofile - len(truth.quarantined["Invoices"]))]
        truth.found_with_file = set(with_file)
        truth.found_without_file = set(without_file)
        truth.missing = set(unknown) | truth.quarantined["Invoices"]
        listing = sorted(truth.found_with_file | truth.found_without_file | truth.missing)
        with open(self.invoice_csv, "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh)
            w.writerow(["InvoiceNumber", "Found"])
            for inv in listing:
                w.writerow([inv, ""])
        for inv in with_file:
            i = int(inv.split("-")[1])
            folder = os.path.join(self.src_root, f"c{cycle:03d}", f"d{i % 16:02d}")
            os.makedirs(folder, exist_ok=True)
            with open(os.path.join(folder, f"{inv}.pdf"), "wb") as fh:
                fh.write(f"%PDF-1.4 invoice {inv}\n".encode() * 8)
        return truth
