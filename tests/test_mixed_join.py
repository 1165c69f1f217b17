"""Mixed-geometry spatial join vs a brute-force kernel oracle (no cells,
no index — partitioning/dedup bugs can't hide in the oracle)."""

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402


def test_mixed_docs_join_matches_bruteforce(spark, sf_dir):
    from nettopologysuite_spark.engine.docs import (
        docs_spatial_join_mixed,
        extract_geom_wkb,
        synthesize_docs_mixed,
    )
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.relate import relate_predicate

    pack = E._octagon_pack(E._nation_keys(spark, sf_dir))
    got = {
        (r["doc_id"], r["span_idx"], r["poly_id"])
        for r in docs_spatial_join_mixed(spark, sf_dir, pack, E.GRID).collect()
    }
    # brute force on the driver
    rows = extract_geom_wkb(synthesize_docs_mixed(spark, sf_dir)).collect()
    pgeoms = pack.geoms()
    expect = set()
    for r in rows:
        g = wkb_loads(bytes(r["geom_wkb"]))
        for pid, poly in pgeoms.items():
            if relate_predicate(g, poly, "intersects"):
                expect.add((r["doc_id"], r["span_idx"], pid))
    assert got == expect
    # each pair exactly once (reference-cell dedup)
    all_rows = [
        (r["doc_id"], r["span_idx"], r["poly_id"])
        for r in docs_spatial_join_mixed(spark, sf_dir, pack, E.GRID).collect()
    ]
    assert len(all_rows) == len(set(all_rows))


def test_mixed_docs_join_covers_contains_matches_bruteforce(spark, sf_dir):
    """covers/contains (pack polygon ⟶ row geometry, the container-first
    convention of pip_refine_udf) through the batched covers/contains path
    vs the relate kernel per pair."""
    from nettopologysuite_spark.engine.docs import (
        docs_spatial_join_mixed,
        extract_geom_wkb,
        synthesize_docs_mixed,
    )
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.predicates import evaluate_predicate

    pack = E._octagon_pack(E._nation_keys(spark, sf_dir))
    rows = extract_geom_wkb(synthesize_docs_mixed(spark, sf_dir)).collect()
    pgeoms = pack.geoms()
    for predicate in ("covers", "contains"):
        got = {
            (r["doc_id"], r["span_idx"], r["poly_id"])
            for r in docs_spatial_join_mixed(
                spark, sf_dir, pack, E.GRID, predicate=predicate
            ).collect()
        }
        expect = set()
        for r in rows:
            g = wkb_loads(bytes(r["geom_wkb"]))
            for pid, poly in pgeoms.items():
                if evaluate_predicate(predicate, poly, g):
                    expect.add((r["doc_id"], r["span_idx"], pid))
        assert got == expect, predicate
