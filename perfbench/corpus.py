"""Seeded slices of the project's ``sf0.1`` test tables for ``curate_corpus``.

``data/documents.parquet`` and ``data/events.parquet`` are byte-for-byte
copies of the ``sf0.1`` ``documents`` (5,000 rows) and ``events``
(100,000 rows) tables the project's benchmark runs on. A full pass of the
five keys over them takes about 18 s warm on a 4-core machine, too long
for a run, so each run reads a fifth of them, chosen by the seed:

- documents: 5% of the ``sf0.1`` documents are near duplicates (a
  prefix of another document plus the word ``dup``). A uniform sample
  would keep both sides of a pair only one time in 25, so the slice is
  drawn as near-duplicate *families* (the duplicate and its source) at
  the same 5% rate, filled up with other documents;
- events: a uniform sample, in the table's (time) order.

Rows are copied unchanged, ``doc_id`` and ``event_id`` included. The same
seed always gives the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DUP_SUFFIX = " dup"


def dup_families(texts: list[str]) -> list[tuple[int, int]]:
    """(duplicate row, source row) for every near duplicate whose source
    is in the table: the source is the first other row whose text starts
    with the duplicate's text less its suffix."""
    out = []
    for i, t in enumerate(texts):
        if not t.endswith(DUP_SUFFIX):
            continue
        prefix = t[:-len(DUP_SUFFIX)]
        for j, s in enumerate(texts):
            if j != i and not s.endswith(DUP_SUFFIX) and (
                    s == prefix or s.startswith(prefix + " ")):
                out.append((i, j))
                break
    return out


def sample_documents(docs: pa.Table, n: int,
                     rng: np.random.Generator) -> pa.Table:
    """``n`` rows of ``docs`` whose near-duplicate share is the table's."""
    texts = docs.column("text").to_pylist()
    fams = dup_families(texts)
    n_dups = sum(t.endswith(DUP_SUFFIX) for t in texts)
    want = round(n * n_dups / len(texts))
    rows: set[int] = set()
    for k in rng.permutation(len(fams))[:want]:
        rows.update(fams[k])
    others = [i for i, t in enumerate(texts)
              if i not in rows and not t.endswith(DUP_SUFFIX)]
    rows.update(int(i) for i in rng.choice(others, size=n - len(rows),
                                           replace=False))
    return docs.take(sorted(rows))


def sample_events(events: pa.Table, n: int,
                  rng: np.random.Generator) -> pa.Table:
    return events.take(np.sort(rng.choice(events.num_rows, size=n,
                                          replace=False)))


def write_tables(out_dir: str, seed: int, docs: int, events: int) -> None:
    """Write the two slices under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": sample_documents(
            pq.read_table(os.path.join(DATA, "documents.parquet")), docs, rng),
        "events": sample_events(
            pq.read_table(os.path.join(DATA, "events.parquet")), events, rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
