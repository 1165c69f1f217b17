"""Physical-plan quality gates: the engine must produce the plans it
promises — broadcast cell joins, filter/column pushdown into scans, native
whole-stage-codegen tiling, sort-merge with salting where requested."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_rdd_scans(df) -> list[str]:
    """Lineages of the plan's RDD scans that hold a Python RDD. A list of
    rows handed to ``createDataFrame`` becomes ``parallelize`` → ``Scan
    ExistingRDD``, and every scan of it re-runs Python worker tasks. A
    checkpoint prints as ``Scan ExistingRDD`` too, but its lineage is cut
    at the stored blocks, so only the lineage tells the two apart."""
    found = []

    def walk(node):
        if node.getClass().getSimpleName() == "LogicalRDD":
            lineage = node.rdd().toDebugString()
            if "PythonRDD" in lineage:
                found.append(lineage)
        children = node.children().iterator()
        while children.hasNext():
            walk(children.next())

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


def test_pip_join_is_broadcast(spark, sf_dir):
    df = E.q_pip_convex_join(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:500]
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("name", ["docs_pip_join", "pip_convex_join", "pip_join_adaptive",
                                  "pip_join_salted", "centroid_agg"])
def test_convex_pip_refine_is_native(spark, sf_dir, name):
    """Against the convex octagon pack the half-plane refine is a native
    expression: no point-PIP join plan holds a Python node."""
    plan = _plan(E.queries()[name](spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan[:800]


def test_generic_pip_refine_is_one_udf(spark, sf_dir):
    """The rectangle pack is generic: its refine stays the one pandas UDF."""
    plan = _plan(E.q_pip_rect_join(spark, sf_dir))
    assert plan.count("ArrowEvalPython") == 1, plan[:800]
    assert "BatchEvalPython" not in plan


def test_tile_assign_is_pure_codegen(spark, sf_dir):
    df = E.q_tile_assign(spark, sf_dir)
    plan = _plan(df)
    # no Python evaluation anywhere in the tiling projection
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "ExistingRDD" not in plan
    # '*(n)' prefixes mark whole-stage-codegen stages in the compact form
    assert "*(" in plan


def test_scan_pushdown(spark, sf_dir):
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = events.filter(F.col("event_id") < 100).select("event_id")
    plan = q.queryExecution if False else q._jdf.queryExecution().toString()
    # filter reaches the parquet scan; only the needed column is read
    assert "PushedFilters: [" in plan and "LessThan(event_id,100)" in plan, plan[-800:]
    assert "ReadSchema: struct<event_id:bigint>" in plan


def test_within_distance_refine_is_native(spark, sf_dir):
    df = E.q_within_dist_join(spark, sf_dir)
    plan = _plan(df)
    # the squared-distance refinement stays JVM-side, and the centre list
    # is a LocalRelation, not a Python-fed RDD scan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "ExistingRDD" not in plan


def test_poly_poly_join_shape(spark, sf_dir):
    df = E.q_poly_poly_join(spark, sf_dir)
    plan = _plan(df)
    # the big×big path: NATIVE equi-join on cell_id (shuffled-hash; AQE may
    # convert to broadcast at runtime from true sizes — never from the
    # meaningless compile-time stats below a Python UDF), envelope-overlap +
    # reference-cell dedup inside the join condition (JVM), and exactly TWO
    # Python crossings: the vectorized envelope UDF per side feeding the
    # native sequence()-explode, and the refine above the join
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan[:800]
    assert "FLOOR" in plan  # native ref-cell arithmetic in the join condition
    assert plan.count("ArrowEvalPython") == 3  # env × 2 sides + refine
    # the cover explode is native sequence(), not a Python array UDF
    assert "sequence(greatest(" in plan, plan[:800]


def test_within_dist_df_join_is_native(spark, sf_dir):
    """Table-driven within-distance join: native cover explode + equi-join +
    codegen distance refine — zero Python in the whole plan."""
    plan = _plan(E.q_within_dist_join_df(spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "ExistingRDD" not in plan
    assert "sequence(" in plan  # native cover explode


def test_geo_dedup_is_pure_codegen(spark, sf_dir):
    plan = _plan(E.q_geo_dedup(spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_media_stats_is_native(spark, sf_dir):
    plan = _plan(E.q_media_stats(spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_embed_dedup_is_native(spark, sf_dir):
    """LSH signatures and the exact cosine re-check are JVM higher-order
    expressions, and the candidate pairs come from a checkpointed bucket
    table — zero Python in the plan."""
    plan = _plan(E.q_embed_dedup(spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_text_scoring_is_native_single_split(spark, sf_dir):
    """lang_id/doc_quality: no Python, and marker counts come from ONE
    split (array filters), not per-marker replace scans."""
    for q in (E.q_lang_id, E.q_doc_quality):
        plan = _plan(q(spark, sf_dir))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "replace" not in plan.lower().replace("regexp_replace", "")


def test_poly_poly_contains_shape(spark, sf_dir):
    """Containment big×big join: same native candidate machinery as
    poly_poly_join, refine through the vectorized batch-covers kernel —
    exactly 3 Python crossings (2 envelope UDFs + 1 vectorized refine),
    zero per-pair Python."""
    df = E.q_poly_poly_contains(spark, sf_dir)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan[:800]
    assert "FLOOR" in plan
    assert plan.count("ArrowEvalPython") == 3
    assert "sequence(greatest(" in plan, plan[:800]


def test_within_dist_join_geom_shape(spark, sf_dir):
    """Extended within-distance join: native cell equi-join, codegen
    envelope-distance prefilter, exactly 3 Python crossings."""
    df = E.q_within_dist_join_geom(spark, sf_dir)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan[:800]
    assert plan.count("ArrowEvalPython") == 3
    assert "sequence(greatest(" in plan, plan[:800]


def test_poly_poly_touches_shape(spark, sf_dir):
    """Touches big×big join: same native candidate machinery, refine through
    the batched DE-9IM composition (intersects ∧ ¬interior/interior) —
    exactly 3 Python crossings (2 envelope UDFs + 1 vectorized refine),
    zero per-pair Python on the pure-polygonal workload."""
    df = E.q_poly_poly_touches(spark, sf_dir)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan[:800]
    assert plan.count("ArrowEvalPython") == 3
    assert "sequence(greatest(" in plan, plan[:800]


def test_python_rdd_scan_gate_sees_a_list_built_frame(spark):
    """The gate below is only as good as its detector: a list of rows is a
    Python-fed RDD scan, an Arrow-built table and a checkpoint are not."""
    from nettopologysuite_spark.engine.session import local_frame

    listed = spark.createDataFrame([(1, "a")], "k long, v string")
    assert "Scan ExistingRDD" in _plan(listed)
    assert _python_rdd_scans(listed)
    assert not _python_rdd_scans(local_frame(spark, [(1, "a")], "k long, v string"))
    assert not _python_rdd_scans(spark.range(3).localCheckpoint())


@pytest.mark.parametrize("name", list(E.queries()))
def test_no_python_fed_rdd_scan(spark, sf_dir, name):
    """No query scans a driver-built table through Python worker tasks:
    every such table is an Arrow ``LocalRelation`` (``local_frame``)."""
    df = E.queries()[name](spark, sf_dir)
    try:
        assert _python_rdd_scans(df) == []
    finally:
        spark.catalog.clearCache()


def test_grouped_pandas_functions_infer_their_eval_type(spark, sf_dir):
    """Every ``applyInPandas`` function annotates all its parameters, so
    PySpark does not warn "Cannot infer the eval type from type hints"
    while it builds hull_agg, union_area and raster_polygonize; the union
    over more partials than its fan-in also builds the tree-round reduce."""
    import warnings

    from nettopologysuite_spark.engine.aggregates import distributed_union
    from nettopologysuite_spark.engine.session import local_frame

    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        for name in ("hull_agg", "union_area", "raster_polygonize"):
            E.queries()[name](spark, sf_dir)
        distributed_union(local_frame(spark, [(b"",)], "geom_wkb binary"),
                          reduce_partitions=64)
    spark.catalog.clearCache()
    assert [str(w.message) for w in seen
            if "Cannot infer the eval type" in str(w.message)] == []


def _is_filter_node(line: str) -> bool:
    return line.lstrip(" :+-").lstrip("*(0123456789) ").startswith("Filter ")


def test_window_dedup_splits_each_text_once(spark, sf_dir):
    """window_dedup's window-count test is part of the explode's array, so
    no Filter evaluates ``split`` next to the scan: a Filter on the token
    count would be pushed below widen_input's repartition as a second split
    of every text."""
    plan = _plan(E.q_window_dedup(spark, sf_dir))
    assert [ln for ln in plan.splitlines()
            if _is_filter_node(ln) and "split(" in ln] == [], plan[:1500]


def test_minhash_bucket_rows_shuffle_once(spark, sf_dir, monkeypatch):
    """bucket_pairs' self-join reads one shuffle of the exploded bucket
    rows: when the join shuffles (broadcasts are switched off here; the
    test corpus is small enough to broadcast), the final adaptive plan of a
    MinHash call's candidate pairs holds one hashpartitioning(band, sig)
    Exchange, and its other side reuses it."""
    from nettopologysuite_spark.engine import dedup

    seen = []
    real = dedup._pair_counts
    monkeypatch.setattr(dedup, "_pair_counts",
                        lambda pairs, sets: seen.append(pairs) or real(pairs, sets))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        dedup.minhash_lsh_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        cand = seen[0]
        assert cand.collect()
    finally:
        spark.conf.set(key, old)
    plan = _plan(cand)
    assert plan.startswith("AdaptiveSparkPlan isFinalPlan=true"), plan[:200]
    final = plan.split("== Initial Plan ==")[0]
    shuffles = [ln for ln in final.splitlines() if "hashpartitioning(band" in ln]
    assert sum("ReusedExchange" not in ln for ln in shuffles) == 1, final
    assert sum("ReusedExchange" in ln for ln in shuffles) == 1, final
