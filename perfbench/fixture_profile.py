"""Compare the benchmark's generated inputs with the engine's fixtures.

Usage, from the root of a checkout::

    python3 perfbench/fixture_profile.py --fixtures <sf0.1 dir> --seed 1

Prints, side by side for a fixture directory (``lineitem``, ``orders``,
``documents`` and ``embeddings`` Parquet files) and for the generators in
``gen.py``, the properties the workloads depend on: per-column ranges,
distinct counts and means, row order, Parquet and CSV bytes per row; text
lengths, vocabulary, exact and MinHash near-duplicate shares; vector norms
and within-bucket cosine pairs at the semantic threshold. The benchmark
itself never reads the fixtures. Nothing here starts Spark.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from workloads import LlmCurate  # noqa: E402

NORM_SQL = (r"md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),"
            r" '\s+', ' ', 'g')))")


def table_profile(con, view: str, tmp: str) -> dict:
    out = {"rows": con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]}
    columns = [r[:2] for r in con.execute(f"DESCRIBE SELECT * FROM {view}").fetchall()]
    for name, typ in columns:
        mean = f"avg({name})" if typ in ("BIGINT", "INTEGER", "DOUBLE") else "NULL"
        lo, hi, nd, mu = con.execute(
            f"SELECT min({name}), max({name}), approx_count_distinct({name}), {mean} FROM {view}"
        ).fetchone()
        out[name] = f"{lo}..{hi} ~{nd} distinct" + (f" mean {mu:.4g}" if mu is not None else "")
    first = columns[0][0]
    out[f"corr({first}, row order)"] = round(con.execute(
        f"SELECT corr({first}, rn) FROM (SELECT {first}, row_number() OVER () AS rn FROM {view})"
    ).fetchone()[0], 3)
    for fmt, opts in (("parquet", "FORMAT parquet, COMPRESSION snappy"),
                      ("csv", "FORMAT csv, HEADER true, FORCE_QUOTE *")):
        path = os.path.join(tmp, f"p.{fmt}")
        con.execute(f"COPY (SELECT * FROM {view}) TO '{path}' ({opts})")
        out[f"{fmt} bytes/row"] = round(os.path.getsize(path) / out["rows"], 1)
    return out


def docs_profile(con, view: str, threshold: float) -> dict:
    from component_iceberg_spark.plans.queries_text import QUALITY_SCORE_SQL, _minhash_cte_body

    n = con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {view}")
    # words, not counting the replica tags
    toks = "len(list_filter(string_split(trim(text), ' '), w -> w NOT LIKE 'zzrep%'))"
    avg_t, lo_t, hi_t, chars = con.execute(
        f"SELECT avg({toks}), min({toks}), max({toks}), avg(length(text)) FROM documents"
    ).fetchone()
    exact = con.execute(f"SELECT count(*) - count(DISTINCT {NORM_SQL}) FROM documents").fetchone()[0]
    pairs, dropped = con.execute(
        f"WITH {_minhash_cte_body()} SELECT count(*), count(DISTINCT doc_b) FROM pairs"
    ).fetchone()
    vocab = con.execute(
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(lower(text), ' ')) AS w "
        "FROM documents) WHERE w NOT LIKE 'zzrep%'").fetchone()[0]
    keep = con.execute(
        f"SELECT avg(CASE WHEN round({QUALITY_SCORE_SQL}, 6) >= {threshold} THEN 1 ELSE 0 END) "
        "FROM documents").fetchone()[0]
    return {
        "docs": n, "words mean/min/max": f"{avg_t:.1f}/{lo_t}/{hi_t}",
        "chars mean": round(chars, 1), "vocabulary": vocab,
        "exact dups/doc": round(exact / n, 4), "near-dup pairs/doc": round(pairs / n, 4),
        "near-dup dropped/doc": round(dropped / n, 4),
        f"quality >= {threshold} kept": round(keep, 3),
    }


def emb_profile(vecs: np.ndarray, label: np.ndarray, threshold: float) -> dict:
    """Within-bucket pairs as the semantic dedup forms them: buckets are
    the nearest first-of-label centroids."""
    X = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    Xn = X / norms[:, None]
    first = {}
    for i in np.lexsort((np.arange(len(label)), label)):
        first.setdefault(label[i], i)
    cents = sorted(first.values())
    bucket = np.argmax(Xn @ Xn[cents].T, axis=1)
    pairs = 0
    for b in np.unique(bucket):
        m = Xn[bucket == b]
        pairs += int(np.triu(np.round(m @ m.T, 6) >= threshold, 1).sum())
    _, counts = np.unique(label, return_counts=True)
    return {
        "vectors": len(X), "dim": X.shape[1], "norm mean/sd": f"{norms.mean():.3f}/{norms.std():.3f}",
        "labels": len(counts), "label share max": round(counts.max() / len(X), 3),
        f"bucket pairs >= {threshold}/vec": round(pairs / len(X), 4),
    }


def show(title: str, fixture: dict, generated: dict) -> None:
    print(f"\n## {title}\n")
    print("| property | fixture | generated |\n|---|---|---|")
    for k in fixture:
        print(f"| {k} | {fixture[k]} | {generated.get(k, '')} |")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--fixtures", required=True, help="directory of the sf0.1 Parquet fixtures")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    with tempfile.TemporaryDirectory() as tmp:
        def fixture(name: str) -> str:
            return f"read_parquet('{os.path.join(args.fixtures, name + '.parquet')}')"

        def generated(name: str, table) -> str:
            path = os.path.join(tmp, f"gen_{name}.parquet")
            pq.write_table(table, path)
            return f"read_parquet('{path}')"

        show("lineitem", table_profile(con, fixture("lineitem"), tmp),
             table_profile(con, generated("lineitem", gen.lineitem(args.seed)), tmp))
        batches = gen.order_batches(args.seed, [0.0] * 9, 8_000)
        orders = generated("orders", pa.concat_tables(batches))
        show("orders (generated: the 80k rows of nine writer batches)",
             table_profile(con, fixture("orders"), tmp), table_profile(con, orders, tmp))

        wl = LlmCurate
        template = gen.document_template(args.seed, wl.DOCS)
        batch = generated("docs", gen.document_batch(template, 1, 10**6, wl.CARRY, args.seed))
        show(f"documents (generated: one {wl.DOCS}-doc batch, tags included)",
             docs_profile(con, fixture("documents"), wl.QUALITY_MIN),
             docs_profile(con, batch, wl.QUALITY_MIN))

        t = pq.read_table(os.path.join(args.fixtures, "embeddings.parquet"))
        fx = emb_profile(np.array(t.column("embedding").to_pylist()),
                         t.column("label").to_numpy(), wl.SEM_THRESHOLD)
        e = gen.embedding_batch(gen.embedding_template(args.seed + 1, wl.VECS), 1, 10**6, args.seed)
        show(f"embeddings (generated: one {wl.VECS}-vector batch)", fx,
             emb_profile(np.array(e.column("embedding").to_pylist()),
                         e.column("label").to_numpy(), wl.SEM_THRESHOLD))
    return 0


if __name__ == "__main__":
    sys.exit(main())
