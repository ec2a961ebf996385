"""The three workloads: set-up (input staging), the timed closed loop and
the output checks.

Each workload drives the engine only through public entry points:
``component.run_extractor`` / ``run_writer`` / ``sync_action``, public
``SnapCatalog`` methods, ``streaming.events.screen_batch_incremental``
and ``operators.*`` functions. One client, one process: the next
operation starts only after the previous one (and its check) finished.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
import traceback

import numpy as np
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gen
import oracle
import spans
from spans import walk_delta, warehouse_walk


class Run:
    """The timed loop's bookkeeping: one entry per operation."""

    def __init__(self, spark, rec, counters, warehouse: str):
        self.spark = spark
        self.rec = rec
        self.counters = counters  # None in the untraced run
        self.warehouse = warehouse
        self.ops: list[dict] = []

    @property
    def traced(self) -> bool:
        return self.counters is not None

    def op(self, kind: str, fn):
        """Time ``fn()`` as one operation. An exception is recorded as a
        failed operation and re-raised as ``OpFailed``."""
        i = len(self.ops)
        entry = {"kind": kind, "wall_s": None, "rows": 0, "ok": True}
        if self.traced:
            before = warehouse_walk(self.warehouse)
            self.counters.begin(f"op{i}")
        self.rec.op_id = i
        t0 = time.perf_counter()
        try:
            with self.rec.span("op." + kind):
                result = fn()
        except Exception:
            entry.update(ok=False, error=traceback.format_exc(limit=4))
            result = None
        entry["wall_s"] = time.perf_counter() - t0
        self.rec.op_id = None
        if self.traced:
            entry["spark"] = self.counters.end(f"op{i}")
            entry["walk"] = walk_delta(before, warehouse_walk(self.warehouse))
            entry["conflicts"] = int(
                "CommitConflict" in entry.get("error", "")
            )
        self.ops.append(entry)
        if not entry["ok"]:
            raise OpFailed(entry["error"])
        return result, entry

    def check(self, entry: dict, fn) -> None:
        """Run an output check (untimed); a failed or raising check marks
        the operation failed."""
        t0 = time.perf_counter()
        try:
            problem = fn()
        except Exception:
            problem = traceback.format_exc(limit=4)
        entry["check_s"] = time.perf_counter() - t0
        if problem:
            entry.update(ok=False, error=f"check failed: {problem}")
            raise OpFailed(entry["error"])


class OpFailed(Exception):
    pass


def run_units(units, n: int, cap: float) -> None:
    """Run the first ``n`` units of work (callables) in order, and none
    after ``cap`` has passed. Every run of a workload covers the same
    units, so the set of operations each metric is taken over does not
    change with machine speed; ``cap`` only cuts a run on a machine far
    slower than the one the unit sizes were measured on."""
    for unit in itertools.islice(units, n):
        if time.perf_counter() > cap:
            return
        unit()


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# --------------------------------------------------------------------------
# extract_timetravel
# --------------------------------------------------------------------------

LI_PROJ = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"]
PREVIEWS = {
    "preview_flags": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    ),
    "preview_top": (
        "SELECT count(*) AS n, max(l_extendedprice) AS mx FROM lineitem "
        "WHERE l_quantity >= 25"
    ),
}


class ExtractTimetravel:
    """Read-only: a 10-commit lineitem table read back through the
    extractor at the latest or an older snapshot, all columns or a
    projection, limit 100 or the 100k cap, ordered CSV or Parquet, with
    metadata sync actions interleaved."""

    name = "extract_timetravel"
    namespace, table = "lake", "lineitem"
    UNIT_S = 3.6  # nominal wall of one block and its checks on 4 cores

    def __init__(self, spark, scratch: str, seed: int, con):
        self.spark, self.scratch, self.seed, self.con = spark, scratch, seed, con
        self.data = gen.lineitem(seed)
        rng = np.random.default_rng([seed, 1])
        small = rng.integers(29_500, 30_501, size=3)  # snapshots 0-2 fit the cap
        w = rng.uniform(0.9, 1.1, size=7)
        big = np.floor(w / w.sum() * (self.data.num_rows - small.sum())).astype(int)
        big[-1] = self.data.num_rows - small.sum() - big[:-1].sum()
        self.sizes = [int(x) for x in np.concatenate([small, big])]

    def stage(self, n_units: int) -> None:
        from component_iceberg_spark.io.snaptable import SnapCatalog

        d = os.path.join(self.scratch, "stage")
        _fresh_dir(d)
        self.warehouse = os.path.join(d, "warehouse")
        cat = SnapCatalog(self.warehouse)
        self.slices, self.sids, at = [], [], 0
        for i, n in enumerate(self.sizes):
            path = os.path.join(d, f"commit{i}.parquet")
            pq.write_table(self.data.slice(at, n), path)
            at += n
            self.slices.append(path)
            df = self.spark.read.parquet(path)
            if i == 0:
                sid = cat.create_or_replace(self.namespace, self.table, df)
            else:
                sid = cat.append(self.namespace, self.table, df)
            self.sids.append(sid)
        self.cum_rows = list(itertools.accumulate(self.sizes))
        self.out_dir = os.path.join(d, "out")
        # the reference rows of every snapshot, tagged with their commit
        self.con.execute(
            "CREATE OR REPLACE TABLE li AS SELECT * EXCLUDE (filename), "
            "CAST(regexp_extract(filename, 'commit([0-9]+)', 1) AS INT) AS commit_no "
            f"FROM read_parquet({oracle.files_sql(self.slices)}, filename = true)")

    def _snap_sql(self, k: int) -> str:
        return f"(SELECT * EXCLUDE (commit_no) FROM li WHERE commit_no <= {k})"

    def user_bytes(self) -> int:
        return oracle.parquet_size(
            self.con, self._snap_sql(len(self.slices) - 1),
            os.path.join(self.scratch, "user_bytes.parquet"),
        )

    def warm_up(self) -> None:
        """One untimed ordered CSV export, snapshot listing and preview:
        the paths the staging commits did not already warm."""
        run = Run(self.spark, spans.Recorder(False), None, self.warehouse)
        self._extract(run, 0, False, 100, "csv")
        self._sync(run, "list_snapshots")
        self._sync(run, "preview_flags")

    def _cfg(self, snapshot_id=None, **kw):
        from component_iceberg_spark.config import CatalogConfig, ExtractorConfig, Source

        return ExtractorConfig(
            catalog=CatalogConfig(warehouse=self.warehouse),
            source=Source(self.namespace, self.table, snapshot_id), **kw,
        )

    # per block of 4 extracts, the sync actions interleaved with them
    SYNCS = ("list_snapshots", "list_columns", "list_columns", "preview")

    def loop(self, run: Run, n: int, cap: float) -> None:
        """Blocks of 8 operations: 4 extractor configs, each followed by a
        sync action. The 16 configs (limit × snapshot × format ×
        projection, as bits) fall into the four cosets of {0000, 1100,
        0011, 1111}; each coset is balanced on every setting, so every
        block has the same mix, and four consecutive blocks hold the full
        factorial. Cosets come in a fixed order (their row counts differ,
        so a run of fewer than four blocks must always take the same
        ones); the seed orders the configs and sync actions inside a
        block. The older snapshot cycles 0, 1, 2 separately
        for each limit and the preview query alternates by block, so every
        run exports the same numbers of rows."""
        dims = ((100, 100_000), ("latest", "older"), ("csv", "parquet"), (False, True))
        group = ((0, 0, 0, 0), (1, 1, 0, 0), (0, 0, 1, 1), (1, 1, 1, 1))
        older = {100: 0, 100_000: 0}  # older-snapshot reads so far, per limit
        reps = ((0, 0, 0, 0), (1, 0, 0, 0), (0, 0, 1, 0), (1, 0, 1, 0))
        previews = sorted(PREVIEWS)

        def block(b: int) -> None:
            rng = np.random.default_rng([self.seed, 100, b])
            coset = [tuple(x ^ y for x, y in zip(reps[b % 4], h)) for h in group]
            syncs = rng.permutation(len(self.SYNCS))
            for i, j in enumerate(rng.permutation(4)):
                limit, snap, fmt, project = (dims[d][coset[j][d]] for d in range(4))
                if snap == "latest":
                    k = len(self.sids) - 1
                else:
                    k = older[limit] % 3
                    older[limit] += 1
                self._extract(run, k, project, limit, fmt)
                action = self.SYNCS[syncs[i]]
                self._sync(run, previews[b % 2] if action == "preview" else action)

        run_units((lambda b=b: block(b) for b in itertools.count()), n, cap)

    def _extract(self, run: Run, k: int, project: bool, limit: int, fmt: str) -> None:
        from component_iceberg_spark import component as C
        from component_iceberg_spark.config import (
            SELECT_COLUMNS, DataSelection, ExtractorDestination,
        )

        name = f"op{len(run.ops)}"
        cfg = self._cfg(
            None if k == len(self.sids) - 1 else self.sids[k],
            data_selection=(
                DataSelection(SELECT_COLUMNS, list(LI_PROJ)) if project else DataSelection()
            ),
            destination=ExtractorDestination(
                parquet_output=fmt == "parquet", file_name=name, table_name=name,
            ),
            limit=limit,
        )
        res, entry = run.op("extract", lambda: C.run_extractor(run.spark, cfg, self.out_dir))
        entry["bytes_csv"] = (
            sum(os.path.getsize(p) for p in _files(res.path, ".csv")) if fmt == "csv" else 0
        )

        def check():
            snap = self._snap_sql(k)
            types = oracle.column_types(self.con, snap)
            if project:
                types = {c: types[c] for c in LI_PROJ}
            if [c for c, _t, _b in res.columns] != list(types):
                return f"columns {res.columns}"
            got = oracle.output_sql(res.path, fmt, types)
            ref = f"(SELECT {', '.join(types)} FROM {snap})"
            n = oracle.count(self.con, got)
            entry["rows"] = n
            want = min(limit, self.cum_rows[k])
            if n != want:
                return f"{n} rows, want {want}"
            if limit >= self.cum_rows[k]:  # full export: exact multiset
                bad = oracle.multiset_diff(self.con, got, ref)
            else:  # capped: which rows is unspecified, but all from the snapshot
                bad = oracle.count(self.con, f"(SELECT * FROM {got} EXCEPT ALL SELECT * FROM {ref})")
            return f"{bad} rows differ" if bad else None

        run.check(entry, check)
        shutil.rmtree(res.path, ignore_errors=True)

    def _sync(self, run: Run, action: str) -> None:
        from component_iceberg_spark import component as C

        kw = {"namespace": self.namespace, "table": self.table}
        if action in PREVIEWS:
            kw.update(query=PREVIEWS[action], limit=100)
            res, entry = run.op("sync", lambda: C.sync_action(
                run.spark, self._cfg(), "query_preview", **kw))
        else:
            res, entry = run.op("sync", lambda: C.sync_action(
                run.spark, self._cfg(), action, **kw))
        entry["rows"] = len(res)

        def check():
            if action == "list_snapshots":
                return None if [r[0] for r in res] == self.sids else f"snapshots {res}"
            if action == "list_columns":
                names = [r[0] for r in res]
                return None if names == self.data.column_names else f"columns {names}"
            sql = PREVIEWS[action].replace("FROM lineitem", f"FROM {self._snap_sql(len(self.slices) - 1)} AS lineitem")
            want = sorted(self.con.execute(sql).fetchall())
            return None if sorted(res) == want else f"{sorted(res)} != {want}"

        run.check(entry, check)

    def finish(self, run: Run) -> None:
        pass


def _files(path: str, suffix: str) -> list[str]:
    return [
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(suffix) and not f.startswith(".")
    ]


# --------------------------------------------------------------------------
# ingest_mutate
# --------------------------------------------------------------------------

BASE_TYPES = {"INTEGER": "bigint", "FLOAT": "double", "STRING": "string",
              "TIMESTAMP": "timestamp"}
ORDER_BASE = {"o_orderkey": "INTEGER", "o_custkey": "INTEGER",
              "o_orderstatus": "STRING", "o_totalprice": "FLOAT",
              "o_orderdate": "TIMESTAMP", "o_orderpriority": "STRING"}
DUCK_TYPES = {"INTEGER": "BIGINT", "FLOAT": "DOUBLE", "STRING": "VARCHAR",
              "TIMESTAMP": "TIMESTAMP"}


class IngestMutate:
    """Keboola ``in/tables`` CSV batches with typed manifests, committed
    by the writer (replace, then appends and upserts), with low-density
    (merge-on-read) and high-density (copy-on-write) row-level deletes
    and updates, a readback extract after each mutation and a final
    compaction."""

    name = "ingest_mutate"
    namespace, table = "kbc", "orders"
    UNIT_S = 6.5  # nominal wall of one cycle and its checks on 4 cores
    BATCH_ROWS = 8_000
    UPSERT_OVERLAP = 0.3
    # batch i >= 1: upsert, append, upsert, append, ...
    KINDS = ("upsert", "append")

    def __init__(self, spark, scratch: str, seed: int, con, small: bool = False):
        self.spark, self.scratch, self.seed, self.con = spark, scratch, seed, con
        if small:
            self.BATCH_ROWS = 200

    def _kind(self, b: int) -> str:
        return "replace" if b == 0 else self.KINDS[(b - 1) % len(self.KINDS)]

    def stage(self, n_units: int) -> None:
        """The replace batch and the two batches of each of ``n_units``
        cycles."""
        d = os.path.join(self.scratch, "stage")
        _fresh_dir(d)
        tables = os.path.join(d, "in", "tables")
        os.makedirs(tables)
        overlaps = [self.UPSERT_OVERLAP if self._kind(b) == "upsert" else 0.0
                    for b in range(1 + 2 * n_units)]
        self.batches = []
        opts = pacsv.WriteOptions(quoting_style="all_valid")
        for b, t in enumerate(gen.order_batches(self.seed, overlaps, self.BATCH_ROWS)):
            path = os.path.join(tables, f"orders_{b:03d}.csv")
            pacsv.write_csv(t, path, write_options=opts)
            with open(path + ".manifest", "w") as f:
                json.dump({
                    "primary_key": ["o_orderkey"], "delimiter": ",", "enclosure": '"',
                    "columns": t.column_names,
                    "schema": [{"name": c, "data_type": {"base": {"type": ORDER_BASE[c]}}}
                               for c in t.column_names],
                }, f)
            self.batches.append(path)
        self.warehouse = os.path.join(d, "warehouse")
        self.out_dir = os.path.join(d, "out")

    def _csv_sql(self, path: str) -> str:
        cols = "{" + ", ".join(f"'{c}': '{DUCK_TYPES[t]}'" for c, t in ORDER_BASE.items()) + "}"
        return (f"read_csv('{path}', header = true, quote = '\"', escape = '\"', "
                f"auto_detect = false, columns = {cols})")

    def user_bytes(self) -> int:
        return oracle.parquet_size(self.con, "t", os.path.join(self.scratch, "user_bytes.parquet"))

    def warm_up(self) -> None:
        """The replace, one cycle and the compaction on 200-row batches in a
        throwaway directory, so JIT compilation of the writer, mutation,
        deletion-vector and reader paths lands in set-up."""
        d = os.path.join(self.scratch, "warm")
        wl = IngestMutate(self.spark, d, self.seed, self.con, small=True)
        wl.stage(1)
        run = Run(self.spark, spans.Recorder(False), None, wl.warehouse)
        wl.loop(run, 1, float("inf"))  # a failing operation raises OpFailed
        wl.finish(run)
        shutil.rmtree(d)

    def _catalog(self):
        from component_iceberg_spark.config import CatalogConfig

        return CatalogConfig(warehouse=self.warehouse)

    def _write(self, run: Run, b: int) -> None:
        from component_iceberg_spark import component as C
        from component_iceberg_spark.config import CsvInput, WriterConfig, WriterDestination

        kind = self._kind(b)
        path = self.batches[b]
        with open(path + ".manifest") as f:
            man = json.load(f)
        cfg = WriterConfig(
            catalog=self._catalog(),
            destination=WriterDestination(
                self.namespace, self.table, mode=kind, primary_key=man["primary_key"]),
            input_csv=CsvInput(
                path=path, columns=man["columns"],
                column_types={s["name"]: BASE_TYPES[s["data_type"]["base"]["type"]]
                              for s in man["schema"]},
                delimiter=man["delimiter"], enclosure=man["enclosure"],
            ),
        )
        _res, entry = run.op(f"write_{kind}", lambda: C.run_writer(run.spark, cfg))
        entry["rows"] = self.BATCH_ROWS * (2 if b == 0 else 1)
        entry["bytes_csv"] = os.path.getsize(path)
        src = self._csv_sql(path)
        if kind == "replace":
            self.con.execute(f"CREATE OR REPLACE TABLE t AS SELECT * FROM {src}")
        else:
            if kind == "upsert":
                self.con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
            self.con.execute(f"INSERT INTO t SELECT * FROM {src}")

    def _mutate(self, run: Run, kind: str, pred: str, assign: dict | None) -> None:
        from component_iceberg_spark.io.snaptable import SnapCatalog

        cat = SnapCatalog(self.warehouse)
        if assign is None:
            run.op(kind, lambda: cat.delete_where_auto(
                run.spark, self.namespace, self.table, pred))
            self.con.execute(f"DELETE FROM t WHERE {pred}")
        else:
            run.op(kind, lambda: cat.update_where_auto(
                run.spark, self.namespace, self.table, pred, assign))
            sets = ", ".join(f"{c} = {e}" for c, e in assign.items())
            self.con.execute(f"UPDATE t SET {sets} WHERE {pred}")

    def _readback(self, run: Run) -> None:
        from component_iceberg_spark import component as C
        from component_iceberg_spark.config import ExtractorConfig, ExtractorDestination, Source

        name = f"op{len(run.ops)}"
        cfg = ExtractorConfig(
            catalog=self._catalog(), source=Source(self.namespace, self.table),
            destination=ExtractorDestination(parquet_output=True, file_name=name),
            limit=10**9,
        )
        res, entry = run.op("readback", lambda: C.run_extractor(run.spark, cfg, self.out_dir))
        if run.traced:
            from component_iceberg_spark.io.snaptable import SnapCatalog

            entry["live_data_files"] = SnapCatalog(self.warehouse).entries(
                run.spark, self.namespace, self.table).count()

        def check():
            types = {c: DUCK_TYPES[t] for c, t in ORDER_BASE.items()}
            got = oracle.output_sql(res.path, "parquet", types)
            entry["rows"] = oracle.count(self.con, got)
            bad = oracle.multiset_diff(self.con, got, "t")
            return f"{bad} rows differ from the replay" if bad else None

        run.check(entry, check)
        shutil.rmtree(res.path, ignore_errors=True)

    def loop(self, run: Run, n: int, cap: float) -> None:
        """The replace and its readback, then ``n`` cycles of six
        operations: upsert, append, a low-density statement
        (merge-on-read), readback, a high-density statement
        (copy-on-write), readback. Even cycles delete low and update high,
        odd cycles update low and delete high. Predicate residues are
        seeded."""
        def first() -> None:
            self._write(run, 0)
            self._readback(run)

        def cycle(c: int) -> None:
            rng = np.random.default_rng([self.seed, 200, c])
            r_low, r_high = (int(x) for x in rng.integers(0, 89, size=2))
            b = 1 + 2 * c
            self._write(run, b)
            self._write(run, b + 1)
            if c % 2 == 0:
                self._mutate(run, "delete_low", f"o_orderkey % 97 = {r_low}", None)
            else:
                self._mutate(run, "update_low", f"o_orderkey % 89 = {r_low}",
                             {"o_orderpriority": "'0-BENCH'"})
            self._readback(run)
            if c % 2 == 0:
                self._mutate(run, "update_high", f"o_custkey % 3 = {r_high % 3}",
                             {"o_totalprice": "o_totalprice + 1.0"})
            else:
                self._mutate(run, "delete_high", f"o_custkey % 4 = {r_high % 4}", None)
            self._readback(run)

        n = min(n, (len(self.batches) - 1) // 2)
        run_units(itertools.chain([first], (lambda c=c: cycle(c) for c in itertools.count())),
                  n + 1, cap)

    def finish(self, run: Run) -> None:
        from component_iceberg_spark.io.snaptable import SnapCatalog

        cat = SnapCatalog(self.warehouse)
        _res, entry = run.op("compact", lambda: cat.compact(run.spark, self.namespace, self.table))
        entry["rows"] = self.con.execute("SELECT count(*) FROM t").fetchone()[0]
        self._readback(run)


# --------------------------------------------------------------------------
# llm_curate
# --------------------------------------------------------------------------


class LlmCurate:
    """Per batch of new documents and embeddings: quality filter, exact
    dedup, the incremental near-dup screen against a growing seen store
    (one commit per batch) and semantic dedup of the batch's embeddings."""

    name = "llm_curate"
    namespace, table = "curate", "seen"
    UNIT_S = 7.5  # nominal wall of one batch and its checks on 4 cores
    DOCS, VECS = 400, 2_000  # VECS: the fixture's embeddings row count
    # share of each batch that near-duplicates a previous-batch doc: the
    # fixture's within-corpus near-duplicate share
    CARRY = gen.DUP_SHARE
    QUALITY_MIN = 0.7  # drops documents of fewer than about 20 words
    SEM_THRESHOLD = 0.40  # the registry's ``dedup_semantic`` threshold

    def __init__(self, spark, scratch: str, seed: int, con):
        self.spark, self.scratch, self.seed, self.con = spark, scratch, seed, con
        self.docs_template = gen.document_template(seed, self.DOCS)
        self.emb_template = gen.embedding_template(seed + 1, self.VECS)
        self.screened: list[str] = []
        self.timed_docs = 0  # documents the screen saw in timed batches
        # drops counted from the engine's outputs: exact, near and semantic
        self.dropped = 0

    def stage(self, n_units: int) -> None:
        """Batch 0 (the warm-up) and one batch per unit."""
        d = os.path.join(self.scratch, "stage")
        _fresh_dir(d)
        self.docs, self.embs = [], []
        for b in range(1 + n_units):
            docs = gen.document_batch(self.docs_template, b, b * 10**6, self.CARRY, self.seed)
            p = os.path.join(d, f"docs_{b:03d}.parquet")
            pq.write_table(docs, p)
            self.docs.append(p)
            emb = gen.embedding_batch(self.emb_template, b, b * 10**6, self.seed)
            p = os.path.join(d, f"emb_{b:03d}.parquet")
            pq.write_table(emb, p)
            self.embs.append(p)
        self.warehouse = os.path.join(d, "warehouse")
        self.work = os.path.join(d, "work")

    def user_bytes(self) -> int:
        return oracle.parquet_size(
            self.con, f"read_parquet({oracle.files_sql(self.screened)})",
            os.path.join(self.scratch, "user_bytes.parquet"),
        )

    def warm_up(self) -> None:
        """Batch 0 runs untimed: it creates the seen store and moves JIT
        compilation and Python-worker start-up into set-up, so every timed
        batch takes the same (append) path."""
        self._batch(Run(self.spark, spans.Recorder(False), None, self.warehouse), 0)

    def loop(self, run: Run, n: int, cap: float) -> None:
        """One operation is one batch through all four steps."""
        run_units((lambda b=b: self._batch(run, b) for b in range(1, len(self.docs))), n, cap)

    def _batch(self, run: Run, b: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from component_iceberg_spark.io.snaptable import SnapCatalog
        from component_iceberg_spark.operators import dedup as D
        from component_iceberg_spark.operators import similarity as S
        from component_iceberg_spark.operators import text as X
        from component_iceberg_spark.plans.queries_text import QUALITY_SCORE_SQL
        from component_iceberg_spark.streaming import events as E

        spark, rec = run.spark, run.rec
        q_path = os.path.join(self.work, f"quality_{b:03d}")
        e_path = os.path.join(self.work, f"exact_{b:03d}")
        cat = SnapCatalog(self.warehouse)

        def steps():
            # 1. quality filter
            docs = spark.read.parquet(self.docs[b])
            kept = docs.filter(F.round(X.quality_score("text"), 6) >= self.QUALITY_MIN)
            with rec.span("operators.text"):
                kept.write.mode("overwrite").parquet(q_path)
            # 2. exact dedup: keep each fingerprint's smallest id
            d = spark.read.parquet(q_path)
            reps = D.exact_dedup(d, "doc_id", X.fingerprint(F.col("text")))
            kept = d.join(reps.select(F.col("rep_doc_id").alias("doc_id")), "doc_id", "left_semi")
            with rec.span("operators.dedup"):
                kept.write.mode("overwrite").parquet(e_path)
            # 3. incremental near-dup screen against the seen store
            E.screen_batch_incremental(
                cat, spark.read.parquet(e_path), namespace=self.namespace,
                seen_table=self.table)
            # 4. semantic dedup of the batch's embeddings
            e = spark.read.parquet(self.embs[b])
            w = Window.partitionBy("label").orderBy("vec_id")
            cent = (e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
                    .select(F.col("vec_id").alias("cent_id"),
                            F.col("embedding").alias("cent_vec"),
                            S.norm(F.col("embedding")).alias("cent_norm")))
            assigned = S.nearest_assign(
                e.select("vec_id", S.as_double(F.col("embedding")).alias("embedding")),
                cent, "vec_id", "embedding", "bucket", keep=("embedding",))
            pairs = S.bucketed_threshold_pairs(
                assigned, "bucket", "vec_id", "embedding", self.SEM_THRESHOLD, few_buckets=True)
            with rec.span("operators.similarity"):
                return D.connected_components(pairs, "pa", "pb").collect()

        clusters, entry = run.op("batch", steps)
        entry["rows"] = pq.ParquetFile(self.docs[b]).metadata.num_rows + pq.ParquetFile(
            self.embs[b]).metadata.num_rows
        self.screened.append(f"{e_path}/*.parquet")

        src = f"read_parquet('{self.docs[b]}')"
        want_q = (f"(SELECT * FROM {src} WHERE round({QUALITY_SCORE_SQL}, 6) "
                  f">= {self.QUALITY_MIN})")
        norm = r"md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))"
        want_e = (f"(SELECT * FROM {want_q} WHERE doc_id IN "
                  f"(SELECT min(doc_id) FROM {want_q} GROUP BY {norm}))")
        got_c = {(int(r["doc"]), int(r["cluster_id"])) for r in clusters}

        def check():
            bad = _diff(self.con, f"read_parquet('{q_path}/*.parquet')", want_q)
            if bad:
                return f"quality filter: {bad}"
            bad = _diff(self.con, f"read_parquet('{e_path}/*.parquet')", want_e)
            if bad:
                return f"exact dedup: {bad}"
            want_c = semantic_clusters(self.embs[b], self.SEM_THRESHOLD)
            if got_c != want_c:
                return f"semantic dedup: {len(got_c ^ want_c)} cluster memberships differ"
            return None

        run.check(entry, check)
        if b:
            n_exact = _parquet_rows(e_path)
            self.timed_docs += n_exact
            self.dropped += _parquet_rows(q_path) - n_exact + sum(1 for d, c in got_c if d != c)

    def finish(self, run: Run) -> None:
        """The admitted set equals the screen's drop rule replayed in SQL:
        a doc is dropped iff a verified MinHash near-duplicate with a
        smaller id (earlier batch, or earlier in its own batch) exists."""
        from component_iceberg_spark.plans.queries_text import _minhash_cte_body
        from component_iceberg_spark.streaming import events as E
        from component_iceberg_spark.io.snaptable import SnapCatalog

        if not self.screened:
            return
        cat = SnapCatalog(self.warehouse)
        got = {r[0] for r in E.admitted_docs(cat, run.spark, self.namespace, self.table)
               .select("doc_id").collect()}
        self.con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
            f"read_parquet({oracle.files_sql(self.screened)})")
        want = {r[0] for r in self.con.execute(
            f"WITH {_minhash_cte_body()} SELECT doc_id FROM documents "
            f"WHERE doc_id NOT IN (SELECT doc_b FROM pairs)").fetchall()}
        # batch 0 (ids below 10**6) is the warm-up's
        self.dropped += self.timed_docs - sum(1 for d in got if d >= 10**6)
        if got != want:
            run.ops[-1].update(
                ok=False, error=f"admitted set differs from the SQL replay in "
                f"{len(got ^ want)} docs")


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in _files(path, ".parquet"))


def _diff(con, got_sql: str, want_sql: str):
    bad = oracle.multiset_diff(con, f"(SELECT * FROM {got_sql})", want_sql)
    return f"{bad} rows differ" if bad else None


def semantic_clusters(path: str, threshold: float) -> set[tuple[int, int]]:
    """numpy replay of the semantic dedup: nearest first-of-label centroid
    by cosine, within-bucket pairs at cosine >= threshold (rounded to 6
    places), connected components labelled by their minimum id. Returns
    ``(vec_id, cluster_id)`` for every vector that has a pair."""
    t = pq.read_table(path)
    ids = t.column("vec_id").to_numpy()
    label = t.column("label").to_numpy()
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    order = np.lexsort((ids, label))
    first = {}
    for i in order:
        first.setdefault(label[i], i)
    cents = sorted(first.values(), key=lambda i: ids[i])
    bucket = np.array(cents)[np.argmax(Xn @ Xn[cents].T, axis=1)]
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for bkt in np.unique(bucket):
        members = np.flatnonzero(bucket == bkt)
        sims = np.round(Xn[members] @ Xn[members].T, 6)
        for a, c in zip(*np.nonzero(np.triu(sims >= threshold, k=1))):
            ra, rc = find(ids[members[a]]), find(ids[members[c]])
            parent.setdefault(ids[members[a]], ids[members[a]])
            parent.setdefault(ids[members[c]], ids[members[c]])
            if ra != rc:
                parent[max(ra, rc)] = min(ra, rc)
    return {(int(x), int(find(x))) for x in parent}


WORKLOADS = {w.name: w for w in (ExtractTimetravel, IngestMutate, LlmCurate)}
