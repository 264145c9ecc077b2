#!/usr/bin/env python
"""Generate an OPEN-VOCABULARY Zipf documents fixture — the evidence
the closed 31-word synthetic corpus cannot provide (FIXTURES.md blind
spot): every vocabulary-bounding knob in the repo (`train_bpe
min_count/max_vocab`, `lm_bigram_quality min_count/broadcast_bigrams`,
`lm_quality_pruned`, `heavy_hitters`' CMS candidate gate) exists for
corpora whose DISTINCT-token count grows like web text. This fixture
makes those knobs measurable in wall-clock/row-count terms (the
table is in SCALE.md; its registry-query rows re-run with
``python tools/profile_queries.py <out_dir> out.json <query>``).

Shape: ``n_docs`` documents of ``words_per_doc`` tokens drawn from a
``vocab``-word vocabulary under a Zipf(s=1.07) rank-frequency law (the
classical fit for natural-language word frequencies). Words are
letter-only (the repo tokenizer splits on non-letters, so digit-bearing
ids would dissolve) — fixed-width base-26 codes. Deterministic seed.

    python tools/gen_zipf.py [out_dir] [n_docs] [words_per_doc] [vocab]
    # default /root/repo/localdata/zipf, 50000 docs x 100 words,
    # 100k vocab => 5M tokens
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260815
ZIPF_S = 1.07
N_SOURCES = 20
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def b26(i: int, width: int) -> str:
    out = []
    for _ in range(width):
        out.append(ALPHA[i % 26])
        i //= 26
    return "".join(reversed(out))


def generate(out_dir: str, n_docs: int = 50_000,
             words_per_doc: int = 100, vocab: int = 100_000) -> None:
    os.makedirs(out_dir, exist_ok=True)
    width = 1
    while 26 ** width < vocab:
        width += 1
    words = np.array([b26(i, width) for i in range(vocab)])
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    rng = np.random.default_rng(SEED)
    idx = rng.choice(vocab, size=n_docs * words_per_doc, p=p)
    texts = [" ".join(words[idx[i * words_per_doc:
                              (i + 1) * words_per_doc]])
             for i in range(n_docs)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "source": pa.array([f"src{i % N_SOURCES}"
                            for i in range(n_docs)]),
        "lang": pa.array(["en"] * n_docs),
        "text": pa.array(texts),
    })
    pq.write_table(table, f"{out_dir}/documents.parquet",
                   compression="snappy")
    n_distinct = len(np.unique(idx))
    print(f"wrote {out_dir}/documents.parquet: {n_docs} docs x "
          f"{words_per_doc} words, vocab drawn {n_distinct}/{vocab} "
          f"distinct (Zipf s={ZIPF_S})")


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else \
        "/root/repo/localdata/zipf"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    wpd = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    vocab = int(sys.argv[4]) if len(sys.argv) > 4 else 100_000
    generate(out, n_docs, wpd, vocab)
