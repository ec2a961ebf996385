"""Unit tests for the benchmark's own arithmetic (no Spark needed).

Run with ``python3 -m pytest perfbench/tests -q``."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import spans as T  # noqa: E402


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "parent": parent, "start": start, "end": end,
            "name": name, "op": 0}


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    p, v, n = T.tail_percentile(xs)
    assert (p, v, n) == (90, 90, 100)
    assert sum(1 for x in xs if x > v) == 10


def test_tail_percentile_small_sample_counts():
    p, v, n = T.tail_percentile(list(range(20)))
    assert n == 20 and p == 50 and v == 9
    assert sum(1 for x in range(20) if x > v) >= 10
    p, v, _ = T.tail_percentile(list(range(11)))
    assert p == 9 and v == 0
    p, v, _ = T.tail_percentile([3.0] * 10)
    assert p is None and v == 3.0


def test_tail_percentile_is_order_free():
    import random

    xs = [random.Random(7).random() for _ in range(57)]
    assert T.tail_percentile(xs) == T.tail_percentile(sorted(xs, reverse=True))


def test_self_time_subtracts_children_union():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps span 1: union is 1..6
        _span(3, 1, 1.5, 2.0),   # grandchild: counts for span 1 only
    ]
    st = T.self_times(spans)
    assert abs(st[0] - 5.0) < 1e-12
    assert abs(st[1] - 2.5) < 1e-12
    assert abs(st[2] - 3.0) < 1e-12
    assert abs(st[3] - 0.5) < 1e-12


def test_self_times_of_disjoint_tree_sum_to_root():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 5.0, 6.0),
        _span(3, 1, 1.5, 2.0),
    ]
    assert abs(sum(T.self_times(spans).values()) - 10.0) < 1e-12


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 1.5, 3.0)]
    assert abs(T.self_times(spans)[0] - 1.5) < 1e-12


def test_layer_self_seconds_groups_by_name():
    spans = [
        _span(0, None, 0.0, 4.0, "op"),
        _span(1, 0, 0.0, 1.0, "io.read"),
        _span(2, 0, 2.0, 3.0, "io.read"),
    ]
    got = T.layer_self_seconds(spans)
    assert got == {"op": 2.0, "io.read": 2.0}


def test_union_length():
    assert T.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert T.union_length([]) == 0.0


def test_warehouse_walk_splits_data_delete_meta(tmp_path):
    tbl = tmp_path / "ns" / "t"
    (tbl / "data" / "commit-1").mkdir(parents=True)
    (tbl / "snapshots").mkdir()
    (tbl / "deletes").mkdir()
    (tbl / "data" / "commit-1" / "part-0.parquet").write_bytes(b"x" * 100)
    (tbl / "data" / "commit-1" / ".part-0.parquet.crc").write_bytes(b"c" * 8)
    (tbl / "data" / "commit-1" / "_SUCCESS").write_bytes(b"")
    (tbl / "deletes" / "dv-1.parquet").write_bytes(b"d" * 30)
    (tbl / "snapshots" / "1.json").write_bytes(b"{}" * 5)
    (tbl / "_current").write_bytes(b"1")
    w = T.warehouse_walk(str(tmp_path))
    assert w == {"data_files": 1, "data_bytes": 100, "delete_files": 1,
                 "delete_bytes": 30, "meta_bytes": 8 + 0 + 10 + 1}
    assert sum(v for k, v in w.items() if k.endswith("bytes")) == 149


def test_walk_delta_floors_at_zero():
    a = {"data_files": 3, "data_bytes": 10, "meta_bytes": 5}
    b = {"data_files": 1, "data_bytes": 40, "meta_bytes": 7}
    assert T.walk_delta(a, b) == {"data_files": 0, "data_bytes": 30, "meta_bytes": 2}


def test_parse_sql_metric_units():
    import sparkstats as S

    head = "total (min, med, max (stageId: taskId))\n"
    assert S.parse_sql_metric(head + "8.3 s (2.0 s, 2.1 s, 2.2 s)") == 8.3
    assert abs(S.parse_sql_metric(head + "43 ms (5 ms, 12 ms, 14 ms)") - 0.043) < 1e-12
    assert S.parse_sql_metric(head + "2.0 KiB (1 B)") == 2048.0
    assert S.parse_sql_metric("17") == 17.0
