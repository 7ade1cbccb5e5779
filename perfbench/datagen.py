"""Benchmark inputs: the repository's fixed test fixture, plus the few
files it lacks, derived from it with a seed.

``fixture/sf0.01`` and ``fixture/sf0.001`` are byte-identical copies of
the repository's TPC-H-ish test fixtures (``TESTDATA.md``; checksums in
``fixture/SHA256SUMS``), the data the registered queries and their
DuckDB oracles are validated on. They live inside the benchmark so a run
reads nothing outside its checkout. What the fixture lacks is derived
here from its own rows: a copy of ``documents`` with planted exact and
near duplicates. The ingest uploads and the stream chunk files are cut
from the fixture's ``documents`` and ``events`` by ``ingest.py``.

The same seed always yields the same derived files.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = Path(__file__).resolve().parent / "fixture"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def fixture_dir(sf: str) -> Path:
    return FIXTURE / f"sf{sf}"


def load(sf: str, name: str) -> pa.Table:
    return pq.read_table(fixture_dir(sf) / f"{name}.parquet")


def plant_duplicates(rng, docs: pa.Table, exact_share: float,
                     near_share: float, edit_share: float = 0.05):
    """Overwrite a share of the documents in the second half of the
    corpus with copies of documents from the first half:
    ``exact_share`` verbatim, ``near_share`` with ``edit_share`` of
    their tokens replaced by tokens of the corpus. ``n_chars`` follows
    the new text. Returns (table, facts)."""
    texts = docs.column("text").to_pylist()
    n = len(texts)
    vocab = sorted({w for t in texts for w in t.split(" ")})
    n_exact = int(round(n * exact_share))
    n_near = int(round(n * near_share))
    targets = rng.choice(np.arange(n // 2, n), n_exact + n_near, replace=False)
    for i, t in enumerate(targets):
        src = texts[int(rng.integers(0, n // 2))]
        if i >= n_exact:
            toks = src.split(" ")
            k = max(1, int(round(len(toks) * edit_share)))
            for j in rng.choice(len(toks), k, replace=False):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            src = " ".join(toks)
        texts[t] = src
    text = pa.array(texts, pa.string())
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pc.cast(pc.utf8_length(text), pa.int64()))
    return docs, {"docs": n, "planted_exact": n_exact, "planted_near": n_near}


def write_tables(out_dir: str | Path, seed: int, sf: str,
                 exact_share: float, near_share: float) -> dict:
    """Copy the fixture's tables to ``out_dir``, ``documents`` with
    planted duplicates; returns the row counts and the planted counts."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name in TABLES:
        src = fixture_dir(sf) / f"{name}.parquet"
        if name != "documents":
            shutil.copyfile(src, out / src.name)
        rows[name] = pq.read_metadata(src).num_rows
    docs, facts = plant_duplicates(np.random.default_rng(seed),
                                   load(sf, "documents"), exact_share, near_share)
    pq.write_table(docs, out / "documents.parquet")
    return {**rows, **facts}
