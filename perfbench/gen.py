"""Seeded raw-text documents for the ``text_dedup`` workload.

``text_documents`` is a pure function of its arguments: the same seed
gives byte-identical frames. The program under test only ever sees the
frames (written to parquet), never the seed. The documents have a Zipf
vocabulary, planted near-duplicate clusters, and a share of documents
that carry one shared boilerplate span (the hot buckets of the shingle
joins). The planted-HMM sequences of ``stream_detect`` come from the
package's own ``sources.synthetic.generate_sequences``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from bigdata_event_stream_detection_spark.sources.synthetic import (
    DEFAULT_SOURCES,
)

WORDS_PER_DOC = 60         # mean; lengths are uniform in [30, 90]
ZIPF_A = 1.2
CLUSTER_SHARE = 0.1        # share of docs in planted near-dup clusters
CLUSTER_SIZE = 3
EDIT_SHARE = 0.01          # share of a copy's words replaced
BOILERPLATE_SHARE = 0.1    # share of docs carrying the shared span
BOILERPLATE_WORDS = 12


_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _word(rank: int) -> str:
    """A distinct letters-only word per Zipf rank."""
    out = []
    r = rank
    while True:
        out.append(_LETTERS[r % 26])
        r //= 26
        if r == 0:
            break
    return "q" + "".join(out)


def text_documents(n_docs: int, seed: int):
    """Raw-text ``documents`` (doc_id long, source, text) plus the
    planted near-duplicate pairs ``[(doc1, doc2), ...]`` with doc1 < doc2.

    The vocabulary is whatever a Zipf(``ZIPF_A``) draw of the corpus's
    tokens produces; it is not capped.
    """
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(WORDS_PER_DOC // 2, WORDS_PER_DOC * 3 // 2 + 1,
                        n_docs)
    ranks = rng.zipf(ZIPF_A, int(lens.sum())) - 1
    uniq, inv = np.unique(ranks, return_inverse=True)
    vocab = np.asarray([_word(int(r)) for r in uniq], dtype=object)
    words = vocab[inv]
    offs = np.concatenate([[0], np.cumsum(lens)])
    docs = [list(words[offs[i]:offs[i + 1]]) for i in range(n_docs)]

    # planted near-duplicate clusters: a base doc and CLUSTER_SIZE - 1
    # copies, each with ~EDIT_SHARE of its words replaced
    n_clusters = int(n_docs * CLUSTER_SHARE) // CLUSTER_SIZE
    members = rng.permutation(n_docs)[:n_clusters * CLUSTER_SIZE]
    planted = []
    for c in range(n_clusters):
        ids = sorted(int(x) for x in
                     members[c * CLUSTER_SIZE:(c + 1) * CLUSTER_SIZE])
        base = docs[ids[0]]
        for j in ids[1:]:
            copy = list(base)
            n_edit = max(1, int(len(copy) * EDIT_SHARE))
            for pos in rng.choice(len(copy), n_edit, replace=False):
                copy[pos] = vocab[rng.integers(len(vocab))]
            docs[j] = copy
        planted.extend((x, y) for i, x in enumerate(ids) for y in ids[i + 1:])

    # one shared boilerplate span on a share of the docs
    span = [_word(10_000_000 + i) for i in range(BOILERPLATE_WORDS)]
    for i in np.flatnonzero(rng.random(n_docs) < BOILERPLATE_SHARE):
        docs[i] = docs[i] + span

    sources = np.asarray(DEFAULT_SOURCES, dtype=object)[
        rng.integers(0, len(DEFAULT_SOURCES), n_docs)]
    pdf = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "source": sources,
        "text": [" ".join(d).capitalize() + "." for d in docs],
    })
    return pdf, sorted(planted)
