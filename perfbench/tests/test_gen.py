import hashlib
import os

import pytest

import gen


def digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [
    gen.make_mr_corpus,
    gen.make_permuted_catalog,
    lambda seed, out: gen.make_arrivals(seed, out, n_files=2),
], ids=["mr_corpus", "permuted_catalog", "arrivals"])
def test_generator_is_a_function_of_its_seed(make, tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    info = make(7, a)
    assert make(7, b) == info
    assert digest(a) == digest(b)
    make(8, c)
    assert digest(a) != digest(c)


def test_arrivals_hold_every_document_once(tmp_path):
    import pyarrow.parquet as pq

    gen.make_arrivals(3, str(tmp_path), n_files=4)
    ids = [i for f in sorted(os.listdir(tmp_path))
           for i in pq.read_table(tmp_path / f).column("doc_id").to_pylist()]
    docs = pq.read_table(os.path.join(gen.FIXTURE_DIR, "documents.parquet"))
    assert sorted(ids) == sorted(docs.column("doc_id").to_pylist())
    assert ids != sorted(ids)  # permuted


def test_mr_oracle_counts_words(tmp_path):
    (tmp_path / "pg-0.txt").write_text("The cat. the CAT, the\n")
    (tmp_path / "pg-1.txt").write_text("cat dog\n")
    got = gen.mr_oracle(str(tmp_path), lambda p: os.path.basename(p))
    assert got["wc"] == b"CAT 1\nThe 1\ncat 2\ndog 1\nthe 2\n"
    assert got["indexer"].splitlines()[2] == b"cat 2 pg-0.txt,pg-1.txt"
    assert got["distinct_keys"] == 5
