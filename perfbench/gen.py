"""Seeded ingest batches for the benchmark.

Every workload reads the repo's sf0.1 test tables (TESTDATA.md) as they
are, from `perfbench/data/sf0.1` (byte-identical copies, listed in its
SHA256SUMS).
The only generated input is the ingest workload's `batches.parquet`:
500-doc batches, each a seeded mix of planted near-duplicates (a corpus
doc's words re-ordered, so its token set is unchanged) and all-new docs
(a corpus doc's words, each carrying a doc-unique salt). The same seed
gives byte-identical batches and another seed gives different ones. Its
`expect_dup` column is the reference answer, computed here from token sets
alone (see `reference_flags`).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BATCH_DOCS = 500
PLANTED_SHARE = 0.4


def batches(seed: int, corpus_text: list, n_batches: int,
            first_id: int) -> pa.Table:
    """`n_batches` ingest batches of BATCH_DOCS docs with fresh doc ids.

    Each batch plants PLANTED_SHARE of its docs, at seeded positions: a
    planted doc is a random corpus doc with its words shuffled (same token
    set); an all-new doc is a random corpus doc's words, in a shuffled
    order, each suffixed with a doc-unique salt (same length, no shared
    token)."""
    r = np.random.default_rng([seed, 1])
    ids, bno, text = [], [], []
    for b in range(n_batches):
        planted = set(r.choice(BATCH_DOCS, int(BATCH_DOCS * PLANTED_SHARE),
                               replace=False).tolist())
        for j in range(BATCH_DOCS):
            doc_id = first_id + b * BATCH_DOCS + j
            words = corpus_text[int(r.integers(0, len(corpus_text)))].split(" ")
            r.shuffle(words)
            if j not in planted:
                words = [f"{w}zq{doc_id}" for w in words]
            ids.append(doc_id)
            bno.append(b)
            text.append(" ".join(words))
    expect = reference_flags(corpus_text, text)
    return pa.table({"batch": pa.array(bno, pa.int32()), "doc_id": ids,
                     "text": text, "expect_dup": expect})


def reference_flags(corpus_text: list, batch_text: list) -> list:
    """Whether each batch doc duplicates a corpus doc, by exact token-set
    equality: the batches hold only Jaccard-1 copies and Jaccard-0 salted
    docs, so equality decides the 0.9-threshold flag without MinHash.
    Survivors of earlier batches carry doc-unique salts, so they never
    match a later batch doc."""
    seen = {frozenset(t.split(" ")) for t in corpus_text}
    return [frozenset(t.split(" ")) in seen for t in batch_text]


def write_batches(seed: int, data_dir: str, out_dir: str, n_batches: int) -> int:
    """Write `out_dir/batches.parquet` against the corpus in
    `data_dir/documents.parquet`; returns its row count."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text"])
    b = batches(seed, docs.column("text").to_pylist(), n_batches,
                first_id=max(docs.column("doc_id").to_pylist()) + 10_000_000)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(b, os.path.join(out_dir, "batches.parquet"))
    return b.num_rows
