"""Seeded input generators for the component benchmark.

Every table is generated from ``numpy.random.default_rng(seed)`` alone,
so one seed always gives byte-identical inputs. The generators follow the
rules measured on the engine's sf0.1 fixtures (``fixture_profile.py``
prints the comparison for a fixture directory): same columns and types,
same value ranges, cardinalities and row order, and for ``documents`` /
``embeddings`` the same vocabulary, text lengths and near-duplicate rule.
Batches of documents and embeddings are replicas of one seeded template,
built with the replica perturbations of ``bench.py``'s sf1 builder
(a tag token every 4 tokens; a Haar-random rotation), so near-duplicate
density is the same in every batch. Nothing here imports Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EPOCH_US_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
DAY_US = 86_400 * 1_000_000

# the fixture's document vocabulary; "dup" marks its near-duplicates
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_TOKEN = "dup"
# fixture: 255 of 5000 documents are an earlier document plus " dup"
DUP_SHARE = 0.051
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]  # fixture: en 2059/5000


def lineitem(seed: int, n: int = 600_000) -> pa.Table:
    """sf0.1-shaped lineitem: independent uniform columns in random row
    order, ``l_orderkey`` over the orders key range (n/4 keys)."""
    rng = np.random.default_rng(seed)
    days = rng.integers(1, 2_500, size=n).astype(np.int64)  # 1995-01-02..2001-11-04
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, size=n, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, size=n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, size=n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(EPOCH_US_1995 + days * DAY_US, type=pa.timestamp("us")),
    })


ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)


def orders(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """sf0.1-shaped orders rows for the given keys (one row per key)."""
    n = len(keys)
    days = rng.integers(0, 2_405, size=n).astype(np.int64)  # 1995-01-01..2001-08-01
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 15_000, size=n, dtype=np.int64),
        "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, size=n), 2),
        "o_orderdate": pa.array(EPOCH_US_1995 + days * DAY_US, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(ORDER_PRIORITY[rng.integers(0, 5, n)]),
    })


def order_batches(seed: int, overlaps: list[float], batch_rows: int) -> list[pa.Table]:
    """Writer input batches, one per entry of ``overlaps``, over the
    fixture's dense key range 0..150k (wider when more keys are needed).

    Keys are unique within a batch. A batch draws ``overlaps[i]`` of its
    keys from keys written by earlier batches and the rest from keys never
    seen, so an upsert updates and inserts in a fixed ratio. Batch 0 is
    twice as large (the initial replace)."""
    rng = np.random.default_rng(seed)
    n_keys = max(150_000, batch_rows * (len(overlaps) + 1))
    key_space = rng.permutation(np.arange(n_keys, dtype=np.int64))
    fresh_at = 0
    seen: list[np.ndarray] = []
    out = []
    for b, share in enumerate(overlaps):
        rows = 2 * batch_rows if b == 0 else batch_rows
        n_old = int(round(rows * share)) if seen else 0
        new = key_space[fresh_at: fresh_at + rows - n_old]
        fresh_at += len(new)
        old = (
            rng.choice(np.concatenate(seen), size=n_old, replace=False)
            if n_old else np.empty(0, dtype=np.int64)
        )
        seen.append(new)
        out.append(orders(rng, rng.permutation(np.concatenate([new, old]))))
    return out


def document_template(seed: int, n_docs: int) -> list[str]:
    """Base corpus by the fixture's rule: each document is 10..99 tokens
    drawn uniformly from ``VOCAB``, and a fixed ``DUP_SHARE`` of them are
    an original document plus the token ``dup`` (Jaccard above 0.8 with
    their original). Copies are taken from originals only, so every
    duplicate group is a star and the number of copies does not depend on
    the seed."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 100, size=n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    docs, at = [], 0
    for k in lens:
        docs.append(" ".join(words[at: at + k]))
        at += k
    copies = rng.choice(np.arange(1, n_docs), size=int(round(n_docs * DUP_SHARE)),
                        replace=False)
    originals = np.setdiff1d(np.arange(n_docs), copies)
    for i in copies:
        docs[i] = f"{docs[int(rng.choice(originals))]} {DUP_TOKEN}"
    return docs


def replica_texts(template: list[str], batch_no: int) -> list[str]:
    """Replica ``batch_no`` of the template (``bench.py``'s sf1 method):
    a fixed-width ``zzrepNNNN`` tag is interleaved every 4 tokens, so every
    batch has the same duplicate structure and text lengths, while the
    cross-batch Jaccard of one template doc falls far below 0.8."""
    texts = []
    for t in template:
        toks = t.split()
        chunks = [" ".join(toks[i: i + 4]) for i in range(0, len(toks), 4)]
        texts.append(f" zzrep{batch_no:04d} ".join(chunks))
    return texts


def document_batch(
    template: list[str], batch_no: int, first_id: int,
    carry: float = 0.0, seed: int = 0,
) -> pa.Table:
    """Replica ``batch_no`` of the template with ``ids first_id..``. A
    seeded ``carry`` share of its docs are replaced by the fixture's
    near-duplicate of a previous-batch doc (that doc plus ``dup``), so
    the incremental screen has cross-batch duplicates to find in the seen
    store at a constant rate."""
    texts = replica_texts(template, batch_no)
    rng = np.random.default_rng([seed, batch_no])
    if carry and batch_no:
        prev = replica_texts(template, batch_no - 1)
        for i in np.flatnonzero(rng.random(len(texts)) < carry):
            texts[i] = f"{prev[int(rng.integers(0, len(prev)))]} {DUP_TOKEN}"
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embedding_template(seed: int, n: int, dim: int = 64, labels: int = 10):
    """Vectors by the fixture's rule: isotropic unit vectors with labels
    drawn uniformly from ``0..labels-1``. Returns
    ``(vectors float32[n, dim], label int32[n])``."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    label = rng.integers(0, labels, size=n).astype(np.int32)
    return vecs.astype(np.float32), label


def embedding_batch(template, batch_no: int, first_id: int, seed: int) -> pa.Table:
    """Replica ``batch_no`` (``bench.py``'s sf1 method): a seeded
    Haar-random rotation of the template keeps every within-batch cosine
    (constant near-dup density) and decorrelates batches from each other."""
    vecs, label = template
    dim = vecs.shape[1]
    q, _ = np.linalg.qr(np.random.default_rng([seed, batch_no]).standard_normal((dim, dim)))
    rot = (vecs.astype(np.float64) @ q.T).astype(np.float32)
    n = len(label)
    return pa.table({
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.array(list(rot), type=pa.list_(pa.float32())),
        "label": label + np.int32(batch_no * 1000),
    })
