"""Seeded low-entropy documents with planted duplicates.

The table has the shape of the sf0.1 ``documents`` table the engine's
query suite runs on: 5,000 ``(doc_id, text)`` rows of about 300
characters, each a word soup over a vocabulary of 30 words. With
so few words almost every document holds almost the whole vocabulary,
so the SimHash fingerprints (distinct-token features) collapse onto a
few values and SimHash blocking floods verify with pairs that are not
duplicates. That is the property the ``docs_low_entropy`` workload
exists to exercise.

Planted structure, each on its own base document:

* near duplicates: the base text with the word ``dup`` appended;
* exact duplicates: the base text under a new id;
* decoys: the base's words in a shuffled order. Same token set, so the
  same SimHash, but not a duplicate: a decoy that gets merged is a
  correctness failure.

The generator runs in the benchmark process with numpy only, so the
same seed gives the same table byte for byte.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB = tuple(
    """
    spark batch stream query table column value order group merge join
    filter hash sort scan window data row part key line agg vector
    fast slow big small customer the a
    """.split()
)

N_DOCS = 5_000
MIN_WORDS, MAX_WORDS = 8, 98
N_NEAR, N_EXACT, N_DECOY = 250, 25, 50


@dataclass(frozen=True)
class LowEntropyDocs:
    doc_id: list[int]
    text: list[str]
    # planted duplicate pairs (a, b) with a < b, as string ids
    dup_pairs: list[tuple[str, str]]
    decoy_pairs: list[tuple[str, str]]


def _pair(x: int, y: int) -> tuple[str, str]:
    a, b = sorted((str(x), str(y)))
    return a, b


def generate(seed: int, n_docs: int = N_DOCS) -> LowEntropyDocs:
    rng = np.random.default_rng(seed)
    n_planted = N_NEAR + N_EXACT + N_DECOY
    n_base = n_docs - n_planted
    vocab = np.array(VOCAB)
    words = [
        list(rng.choice(vocab, size=int(rng.integers(MIN_WORDS, MAX_WORDS + 1))))
        for _ in range(n_base)
    ]
    texts = [" ".join(w) for w in words]
    # the i-th row gets doc id ids[i]: planted rows are scattered over
    # the id range instead of sitting at its end
    ids = [int(i) for i in rng.permutation(n_docs)]
    bases = [int(b) for b in rng.choice(n_base, size=n_planted, replace=False)]
    dup_pairs, decoy_pairs = [], []
    for j, base in enumerate(bases):
        row = n_base + j
        if j < N_NEAR:
            texts.append(texts[base] + " dup")
            dup_pairs.append(_pair(ids[base], ids[row]))
        elif j < N_NEAR + N_EXACT:
            texts.append(texts[base])
            dup_pairs.append(_pair(ids[base], ids[row]))
        else:
            shuffled = list(words[base])
            while shuffled == words[base]:
                shuffled = [str(w) for w in rng.permutation(words[base])]
            texts.append(" ".join(shuffled))
            decoy_pairs.append(_pair(ids[base], ids[row]))
    return LowEntropyDocs(ids, texts, dup_pairs, decoy_pairs)


def write_parquet(docs: LowEntropyDocs, path: str) -> None:
    """One parquet file, like the sf0.1 table: the engine's sign-input
    spread decision reads its file metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array(docs.doc_id, pa.int64()),
            "text": pa.array(docs.text, pa.string()),
        }
    )
    pq.write_table(table, path)
