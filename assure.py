#!/usr/bin/env python3
"""Full-registry assurance sweep: every registered query driven against
its DuckDB oracle at the gate SF (default /root/testdata/sf0.01), the
same comparison the external correctness gate runs — but over the WHOLE
registry, not the ~50-query gate window. Writes ASSURANCE_LOCAL.json
(per-query status + totals) as the durable local-evidence artifact for
queries whose turn in the rotating gate window hasn't come up yet. The
artifact carries the git SHA it measured and whether the working tree
differed from it, so a stale artifact shows itself.

Usage: python assure.py  [SPARK_GRAFT_ASSURE_SF=<fixture dir>]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ROOT = os.path.dirname(os.path.abspath(__file__))
SF = os.environ.get("SPARK_GRAFT_ASSURE_SF", "/root/testdata/sf0.01")
OUT = os.path.join(ROOT, "ASSURANCE_LOCAL.json")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def git_stamp() -> dict:
    """HEAD's SHA and whether the working tree differs from it (this
    artifact itself excluded)."""

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip()

    return {
        "git_sha": git("rev-parse", "HEAD") or None,
        "git_dirty": bool(
            git("status", "--porcelain", "--", ".",
                f":!{os.path.basename(OUT)}")
        ),
    }


def main() -> int:
    import duckdb

    from component_iceberg_spark.plans import load_all
    from component_iceberg_spark.session import get_spark
    from tests.conftest import compare_with_oracle

    spark = get_spark("assure")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    stamp = git_stamp()
    statuses: dict[str, str] = {}
    t0 = time.time()
    fail = 0
    for name, q in load_all().items():
        try:
            df = q.fn(spark, SF)
            if q.oracle is None:
                rows = df.collect()
                assert len(df.columns) > 0
                statuses[name] = f"rows_only({len(rows)})"
            else:
                compare_with_oracle(df, con, q.oracle, name=name)
                statuses[name] = "exact"
        except Exception as e:  # noqa: BLE001 — every failure must surface
            fail += 1
            statuses[name] = f"FAIL: {type(e).__name__}: {e}"[:300]
            print(f"FAIL {name}: {e}", file=sys.stderr, flush=True)
    result = {
        **stamp,
        "sf": SF,
        "total": len(statuses),
        "exact": sum(1 for v in statuses.values() if v == "exact"),
        "rows_only": sum(
            1 for v in statuses.values() if v.startswith("rows_only")
        ),
        "fail": fail,
        "wall_sec": round(time.time() - t0, 1),
        "queries": statuses,
    }
    with open(OUT, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v for k, v in result.items() if k != "queries"}))
    return 1 if fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
