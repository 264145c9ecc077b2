"""Seeded input generators, one per workload.

Every generator is a pure function of its seed (and, for the catalog
and arrival generators, of the vendored base fixture under
``perfbench/fixture``): the same seed writes byte-identical files, a
different seed writes different ones. Each returns a small dict of
input facts (bytes, files, rows, ...) that the run prints with its
result.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "fixture")
CATALOG = ("region", "nation", "customer", "supplier", "part",
           "orders", "lineitem", "events", "documents", "embeddings")
# Rows of these tables are permuted by the seed; the dimension tables
# are copied unchanged (they are broadcast, their order never matters).
FACT_TABLES = ("orders", "lineitem", "events", "documents", "embeddings")

_WORD_RE = re.compile(r"[A-Za-z]+")


def _write_parquet(table: pa.Table, path: str) -> None:
    # One row group and no statistics-dependent options: the bytes are a
    # function of the rows alone.
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


# ---------------------------------------------------------------------------
# mr_text: a plaintext corpus shaped like the reference's pg-*.txt set.

# The map side hash-partitions whole files by their path, which holds
# the checkout and the seed. With 48 files the balance over 4 partitions,
# and so the job time, moves little with the path; with 12 it moved the
# pass time by 20% from seed to seed.
MR_FILES = 48
MR_VOCAB = 30_000
MR_ZIPF_S = 1.07
MR_MEAN_FILE_BYTES = 212_500


# The most frequent ranks are the same words in every seed, as in real
# English text. Hash partitioning sends each hot key to one reducer, so
# seeded hot keys would make the reduce-side skew, and with it the job
# time, depend on the seed.
COMMON_WORDS = (
    "the of and to a in that is was he for it with as his on be at by "
    "had not are but from or have an they which one you were her all she "
    "there would their we him been has when who will more no if out so "
    "said what up its about into than them can only other new some could "
    "time these two may then do first any my now such like our over man "
    "me even most made after also did many before must through back years "
    "where much your way well down should because each just those people "
    "how too little state good very make world still own see men work long"
).split()


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct ASCII-letter words: ``COMMON_WORDS`` first, then
    seeded words of lengths 2-11."""
    letters = np.array(list("etaoinshrdlucmfwypvbgkjqxz"))
    # English-like letter frequencies, so words look like words.
    freq = np.array([12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3,
                     4.0, 2.8, 2.8, 2.4, 2.4, 2.2, 2.0, 2.0, 1.9, 1.5,
                     1.0, 0.8, 0.2, 0.2, 0.1, 0.07])
    freq = freq / freq.sum()
    words = dict.fromkeys(COMMON_WORDS)
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(2, 12, size=n)
        chars = rng.choice(letters, size=int(lens.sum()), p=freq)
        pos = 0
        for ln in lens:
            words.setdefault("".join(chars[pos:pos + ln]), None)
            pos += ln
    return np.array(list(words)[:size])


def make_mr_corpus(seed: int, out_dir: str) -> dict:
    """Write ``MR_FILES`` whole-text files ``pg-<i>.txt`` to ``out_dir``.

    Tokens are drawn from a Zipf(``MR_ZIPF_S``) law over a seeded
    ``MR_VOCAB``-word vocabulary; sentences start with a capital (the
    tokenizer is case-sensitive, so this adds keys the way real text
    does), end with punctuation, and wrap into ~70-column lines with a
    blank line between paragraphs."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocabulary(rng, MR_VOCAB)
    cap_vocab = np.char.capitalize(vocab)
    ranks = np.arange(1, MR_VOCAB + 1, dtype=np.float64)
    p = ranks ** -MR_ZIPF_S
    p /= p.sum()
    # File sizes range over 0.5-1.5x the mean like the pg-*.txt set, but
    # their token counts do not depend on the seed: the map side
    # partitions files by name, so seeded sizes would make its balance,
    # and the job time, depend on the seed.
    sizes = np.linspace(0.5, 1.5, MR_FILES) * MR_MEAN_FILE_BYTES
    total = 0
    for i, target in enumerate(sizes):
        # ~6.5 bytes per token including the separator
        n_tok = int(target // 6.5)
        idx = rng.choice(MR_VOCAB, size=n_tok, p=p)
        sent_len = rng.integers(6, 24, size=n_tok // 6 + 1)
        starts = np.cumsum(np.concatenate([[0], sent_len]))
        starts = starts[starts < n_tok]
        words = vocab[idx].astype(object)
        words[starts] = cap_vocab[idx[starts]]
        ends = np.append(starts[1:] - 1, n_tok - 1)
        punct = rng.choice(np.array([".", ".", ".", "?", "!", ";"]),
                           size=len(ends))
        words[ends] = words[ends] + punct
        lines, line, width, para = [], [], 0, 0
        for w in words:
            line.append(w)
            width += len(w) + 1
            if width >= 70:
                lines.append(" ".join(line))
                line, width = [], 0
                para += 1
                if para >= 12:
                    lines.append("")
                    para = 0
        if line:
            lines.append(" ".join(line))
        data = ("\n".join(lines) + "\n").encode("ascii")
        with open(os.path.join(out_dir, f"pg-{i}.txt"), "wb") as f:
            f.write(data)
        total += len(data)
    return {"files": MR_FILES, "bytes": total, "vocab_size": MR_VOCAB}


def mr_oracle(corpus_dir: str, uri_of) -> dict[str, bytes]:
    """Sequential wc and indexer over the corpus, rendered as the sorted
    ``key value`` lines the text sink writes (the reference's
    ``sort mr-out* | cmp`` check). ``uri_of(path)`` maps a local file to
    the filename string Spark's whole-file reader hands the map
    function."""
    counts: dict[str, int] = {}
    postings: dict[str, set[str]] = {}
    for name in sorted(os.listdir(corpus_dir)):
        path = os.path.join(corpus_dir, name)
        with open(path, encoding="ascii") as f:
            words = _WORD_RE.findall(f.read())
        uri = uri_of(path)
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        for w in set(words):
            postings.setdefault(w, set()).add(uri)
    wc = sorted(f"{w} {n}" for w, n in counts.items())
    idx = sorted(f"{w} {len(d)} {','.join(sorted(d))}"
                 for w, d in postings.items())
    return {"wc": ("\n".join(wc) + "\n").encode(),
            "indexer": ("\n".join(idx) + "\n").encode(),
            "distinct_keys": len(counts)}


# ---------------------------------------------------------------------------
# analytics_sweep: the fixture catalog with each fact table's rows
# permuted by the seed.

def make_permuted_catalog(seed: int, out_dir: str,
                          fixture_dir: str = FIXTURE_DIR) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    rows = nbytes = 0
    for name in CATALOG:
        table = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        if name in FACT_TABLES:
            table = table.take(rng.permutation(table.num_rows))
        path = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(table, path)
        rows += table.num_rows
        nbytes += os.path.getsize(path)
    return {"files": len(CATALOG), "rows": rows, "bytes": nbytes}


# ---------------------------------------------------------------------------
# stream_ingest: the documents table as arrival files, each holding its
# rows in seeded order.

def make_arrivals(seed: int, out_dir: str, n_files: int,
                  fixture_dir: str = FIXTURE_DIR) -> dict:
    """Write ``n_files`` equal arrival files ``arrival-<i>.parquet``
    (one micro-batch each under ``maxFilesPerTrigger=1``) holding every
    document exactly once.

    Which documents share a file does not depend on the seed, only their
    order does: which near-duplicates meet in a batch decides how many
    jobs the dedup step runs (121 against 140 over two batches for two
    seeded splits), which would make the drain time depend on the seed."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(fixture_dir, "documents.parquet"))
    rng = np.random.default_rng([seed, 3])
    nbytes = 0
    for i, part in enumerate(np.array_split(np.arange(docs.num_rows),
                                            n_files)):
        path = os.path.join(out_dir, f"arrival-{i:05d}.parquet")
        _write_parquet(docs.take(rng.permutation(part)), path)
        nbytes += os.path.getsize(path)
    return {"files": n_files, "rows": docs.num_rows, "bytes": nbytes,
            "rows_per_file": docs.num_rows // n_files}
