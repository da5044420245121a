"""Seeded benchmark inputs, written under ``perfbench/.data/<kind>-<scale>-seed<n>/``.

The program only ever sees the files written here. Transcripts come from the
package's own generator (``generate_transcripts(scale, seed)``) so their
shape, planted duplicates, skew and late events are the program's documented
fixture; the document corpus is generated here because the package has no
generator for it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".data")

# The 31-word vocabulary of the documents fixture: 30 uniform content words
# plus the marker word that the planted near-duplicates append.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_WORD = "dup"


def input_dir(kind: str, scale: float, seed: int) -> str:
    """Directory of one input set, keyed by (scale, seed)."""
    return os.path.join(DATA_ROOT, f"{kind}-{scale:g}-seed{seed}")


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_transcripts(scale: float, seed: int, n_arrival_files: int = 0) -> dict:
    """Generate transcripts at ``scale`` and write them as one parquet file.

    With ``n_arrival_files`` > 0 the table is also cut, in generation row
    order, into that many arrival files under ``arrivals/`` (row order keeps
    the generator's late events late). Returns the paths and the counts the
    checks need."""
    from mapping_analysis_spark.data.transcripts import generate_transcripts

    table = generate_transcripts(scale, seed)
    d = _fresh_dir(input_dir("transcripts", scale, seed))
    path = os.path.join(d, "transcripts.parquet")
    pq.write_table(table, path)
    arrivals = None
    if n_arrival_files:
        arrivals = os.path.join(d, "arrivals")
        os.makedirs(arrivals)
        n = table.num_rows
        for i in range(n_arrival_files):
            lo, hi = n * i // n_arrival_files, n * (i + 1) // n_arrival_files
            pq.write_table(
                table.slice(lo, hi - lo),
                os.path.join(arrivals, f"arrival_{i:03d}.parquet"),
            )
    return {
        "dir": d,
        "path": path,
        "arrivals": arrivals,
        "n_turns": table.num_rows,
        "n_conversations": pc.count_distinct(table["conv_id"]).as_py(),
    }


def generate_documents(
    n_docs: int, n_planted: int, seed: int
) -> tuple[pa.Table, set[tuple[int, int]]]:
    """A corpus shaped like the documents fixture: words drawn uniformly from
    its 30 content words, 10..100 words per document (p10/p50/p90 ≈ 19/54/90),
    and ``n_planted`` near-duplicates, each a copy of a distinct original with
    the marker word appended. Returns the table and the planted pairs as
    (smaller id, larger id)."""
    rng = np.random.default_rng(seed)
    dup_ids = rng.choice(n_docs, size=n_planted, replace=False)
    is_dup = np.zeros(n_docs, dtype=bool)
    is_dup[dup_ids] = True
    originals = rng.choice(np.flatnonzero(~is_dup), size=n_planted, replace=False)
    texts: list[str | None] = [None] * n_docs
    for i in np.flatnonzero(~is_dup):
        k = int(rng.integers(10, 101))
        texts[i] = " ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), k))
    for d, o in zip(dup_ids, originals):
        texts[d] = f"{texts[o]} {DUP_WORD}"
    table = pa.table(
        {"doc_id": pa.array(np.arange(n_docs), pa.int64()), "text": pa.array(texts)}
    )
    planted = {(int(min(d, o)), int(max(d, o))) for d, o in zip(dup_ids, originals)}
    return table, planted


def write_documents(n_docs: int, n_planted: int, seed: int) -> dict:
    table, planted = generate_documents(n_docs, n_planted, seed)
    d = _fresh_dir(input_dir("documents", n_docs, seed))
    path = os.path.join(d, "documents.parquet")
    pq.write_table(table, path)
    return {"dir": d, "path": path, "n_docs": n_docs, "planted": planted}
