"""Traced-run wrappers around the engine's public entry points.

Only the traced run installs these. Each wrapper opens a span named
after the layer (module) it belongs to and calls the original. The
engine's code is not modified: attributes are swapped on the imported
modules and on ``SnapCatalog``, and :func:`install` returns the function
that puts the originals back.
"""

from __future__ import annotations

import functools


def _targets():
    from component_iceberg_spark import component
    from component_iceberg_spark.io import csv_io
    from component_iceberg_spark.io.snaptable import SnapCatalog
    from component_iceberg_spark.operators import dedup, scan, similarity, text
    from component_iceberg_spark.streaming import events

    snap = [
        ("read", "io.snaptable.read"), ("snapshots", "io.snaptable.read"),
        ("schema", "io.snaptable.read"),
        ("create_or_replace", "io.snaptable.commit"),
        ("append", "io.snaptable.commit"), ("upsert", "io.snaptable.commit"),
        ("delete_where_auto", "io.snaptable.mutate"),
        ("update_where_auto", "io.snaptable.mutate"),
        ("compact", "io.snaptable.maintain"),
    ]
    return [
        *[(component, f, "component") for f in ("run_extractor", "run_writer", "sync_action")],
        *[(SnapCatalog, f, layer) for f, layer in snap],
        (csv_io, "read_csv_typed", "io.csv_io.read"),
        (csv_io, "write_csv", "io.csv_io.write"),
        *[(scan, f, "operators.scan") for f in ("scan_projection", "scan_limit")],
        *[(text, f, "operators.text") for f in ("quality_score", "fingerprint")],
        *[(dedup, f, "operators.dedup") for f in (
            "exact_dedup", "corpus_minhash_profile", "screened_drop_ids",
            "connected_components",
        )],
        *[(similarity, f, "operators.similarity") for f in (
            "nearest_assign", "bucketed_threshold_pairs",
        )],
        (events, "screen_batch_incremental", "streaming.events.screen"),
    ]


def install(rec):
    """Wrap every target so calls record a span in ``rec``; returns the
    undo function."""
    saved = []
    for owner, attr, layer in _targets():
        orig = owner.__dict__[attr]
        fn = orig

        def make(fn=fn, layer=layer):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with rec.span(layer):
                    return fn(*a, **kw)
            return wrapper

        setattr(owner, attr, make())
        saved.append((owner, attr, orig))

    def undo():
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)

    return undo
