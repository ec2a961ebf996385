"""Unit tests for the seeded input generators (no Spark needed).

Run with ``python3 -m pytest perfbench/tests -q``."""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def test_same_seed_same_inputs():
    assert gen.lineitem(3, n=1_000).equals(gen.lineitem(3, n=1_000))
    assert gen.document_template(3, 200) == gen.document_template(3, 200)
    a = gen.order_batches(3, [0.0, 0.3, 0.0], 100)
    b = gen.order_batches(3, [0.0, 0.3, 0.0], 100)
    assert all(x.equals(y) for x, y in zip(a, b))


def test_lineitem_follows_the_fixture_ranges():
    t = gen.lineitem(5, n=40_000)
    keys = t.column("l_orderkey").to_numpy()
    assert keys.min() >= 0 and keys.max() < 10_000
    assert abs(np.corrcoef(keys, np.arange(len(keys)))[0, 1]) < 0.05  # random row order
    lines = t.column("l_linenumber").to_numpy()
    assert set(np.unique(lines)) == set(range(1, 8))
    days = (t.column("l_shipdate").cast("int64").to_numpy() - gen.EPOCH_US_1995) // gen.DAY_US
    assert days.min() >= 1 and days.max() <= 2_499  # 1995-01-02 .. 2001-11-04


def test_order_batches_overlap_and_unique_keys():
    batches = gen.order_batches(7, [0.0, 0.3, 0.0, 0.3], 1_000)
    seen = set()
    for i, t in enumerate(batches):
        keys = t.column("o_orderkey").to_pylist()
        assert len(keys) == len(set(keys)) == (2_000 if i == 0 else 1_000)
        old = len(seen.intersection(keys))
        assert old == (300 if i in (1, 3) else 0)
        seen.update(keys)


def test_document_template_near_duplicate_share_is_fixed():
    for seed in (1, 2):
        docs = gen.document_template(seed, 1_000)
        copies = [d for d in docs if d.endswith(" " + gen.DUP_TOKEN)]
        assert len(copies) == round(1_000 * gen.DUP_SHARE)
        originals = set(docs) - set(copies)
        assert all(c[: -len(gen.DUP_TOKEN) - 1] in originals for c in copies)
        lens = [len(d.split()) for d in docs if d not in copies]
        assert min(lens) >= 10 and max(lens) <= 99
        assert set(" ".join(docs).split()) <= set(gen.VOCAB) | {gen.DUP_TOKEN}


def test_replicas_keep_within_batch_cosines():
    template = gen.embedding_template(4, 50)
    a = gen.embedding_batch(template, 1, 0, seed=9)
    b = gen.embedding_batch(template, 2, 0, seed=9)

    def gram(t):
        x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        return x @ x.T

    assert np.allclose(gram(a), gram(b), atol=1e-5)
    assert np.allclose(np.diag(gram(a)), 1.0, atol=1e-5)
