"""The same seed gives byte-identical inputs; another seed, other ones."""

import hashlib

import numpy as np
import pytest

from perfbench import gen


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(p.tobytes())
        elif hasattr(p, "to_csv"):
            h.update(p.to_csv(index=False).encode())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()


CASES = {
    "vectors": lambda s: gen.vectors(s, 500, 16, 8),
    "curation_docs": lambda s: gen.curation_docs(s, 60),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_same_seed_same_bytes(name):
    make = CASES[name]
    assert digest(*make(7)) == digest(*make(7))
    assert digest(*make(7)) != digest(*make(8))


def test_curation_shards_are_distinct_corpora():
    a, _, _ = gen.curation_docs(7, 40, shard=0)
    b, _, _ = gen.curation_docs(7, 40, shard=1)
    assert set(a["text"]).isdisjoint(set(b["text"]))


def test_vectors_shape_and_planted_queries():
    X, Q, src = gen.vectors(3, 400, 20, 16)
    assert X.dtype == np.float32 and X.shape == (400, 16)
    assert Q.shape == (20, 16)
    assert (src[:10] >= 0).all() and (src[10:] == -1).all()
    # planted near-duplicates sit next to their source row
    assert np.abs(Q[:10] - X[src[:10]]).max() < 0.1


def test_curation_plants_point_at_real_documents():
    docs, bench, plants = gen.curation_docs(5, 100)
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert docs["doc_id"].is_unique and len(bench) > 0
    for doc, src in plants["exact"]:
        assert text[doc].strip(" ").lower() == text[src].strip(" ").lower()
    for doc, src in plants["near"]:
        a, b = text[doc].split(" "), text[src].split(" ")
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1
