"""DBSCAN, ST_ClusterWithin and k-means correctness: brute-force
references plus degenerate inputs."""

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nettopologysuite_spark.engine.cluster import dbscan  # noqa: E402


def _brute_dbscan(ids, xs, ys, eps, min_pts):
    """Reference DBSCAN with deterministic min-label clusters and
    min-cluster border assignment (the engine's documented tie rule)."""
    n = len(ids)
    d2 = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
    nbr = d2 <= eps * eps
    deg = nbr.sum(axis=1)  # includes self
    core = deg >= min_pts
    # CC over core-core adjacency
    label = {i: None for i in range(n)}
    comp = {}
    for i in range(n):
        if not core[i] or label[i] is not None:
            continue
        stack = [i]
        members = []
        seen = {i}
        while stack:
            u = stack.pop()
            members.append(u)
            for v in np.flatnonzero(nbr[u] & core):
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        cl = min(ids[m] for m in members)
        for m in members:
            label[m] = cl
        comp[cl] = members
    out = {}
    for i in range(n):
        if core[i]:
            out[ids[i]] = (label[i], True)
        else:
            cands = [label[j] for j in np.flatnonzero(nbr[i] & core)]
            out[ids[i]] = (min(cands) if cands else None, False)
    return out


def test_dbscan_matches_brute_force(spark):
    rng = np.random.default_rng(7)
    # three dense blobs + scattered noise + a bridge point
    blobs = [
        rng.normal((10, 10), 0.3, (20, 2)),
        rng.normal((30, 30), 0.3, (15, 2)),
        rng.normal((50, 10), 0.3, (12, 2)),
    ]
    noise = rng.uniform(0, 60, (25, 2))
    pts = np.concatenate(blobs + [noise])
    ids = np.arange(len(pts), dtype=np.int64)
    eps, min_pts = 1.0, 4
    want = _brute_dbscan(ids, pts[:, 0], pts[:, 1], eps, min_pts)

    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, pts)],
        "pid long, x double, y double",
    )
    got = {r["pid"]: (r["cluster_id"], r["is_core"])
           for r in dbscan(df, eps=eps, min_pts=min_pts).collect()}
    assert got == want
    # sanity: all three blobs clustered, some noise present
    clusters = {c for c, _ in got.values() if c is not None}
    assert len(clusters) >= 3
    assert any(c is None for c, _ in got.values())


def test_dbscan_all_native_plan(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0), (2, 0.1, 0.0), (3, 9.0, 9.0)],
                               "pid long, x double, y double")
    out = dbscan(df, eps=0.5, min_pts=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    got = {r["pid"]: (r["cluster_id"], r["is_core"]) for r in out.collect()}
    assert got == {1: (1, True), 2: (1, True), 3: (None, False)}


def test_dbscan_no_core_points_and_isolated_cores(spark):
    """No point reaches min_pts → every point is noise (the core-edge set
    is empty). min_pts=1 → every point is core through its own self-pair,
    and an isolated core labels itself."""
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.25, 0.0), (3, 9.0, 9.0)],
        "pid long, x double, y double",
    )
    got = {r["pid"]: (r["cluster_id"], r["is_core"])
           for r in dbscan(df, eps=0.5, min_pts=5).collect()}
    assert got == {1: (None, False), 2: (None, False), 3: (None, False)}
    got = {r["pid"]: (r["cluster_id"], r["is_core"])
           for r in dbscan(df, eps=0.5, min_pts=1).collect()}
    assert got == {1: (1, True), 2: (1, True), 3: (3, True)}


def test_cluster_within_no_pairs(spark):
    """No two points within eps → the pair graph is empty and every point
    is its own cluster."""
    from nettopologysuite_spark.engine.cluster import cluster_within

    df = spark.createDataFrame(
        [(5, 0.0, 0.0), (2, 3.0, 0.0), (8, 0.0, 3.0)],
        "pid long, x double, y double",
    )
    got = {r["pid"]: r["cluster_id"]
           for r in cluster_within(df, eps=1.0).collect()}
    assert got == {5: 5, 2: 2, 8: 8}


def test_kmeans_non_finite_centre(spark):
    """A NaN coordinate poisons its cluster's centre; the next iteration
    must still build its SQL (a NaN centre once rendered as `nanD`) and
    return one row per point."""
    from nettopologysuite_spark.engine.cluster import kmeans

    rows = [(0, float("nan"), 0.0), (1, 10.0, 10.0), (2, 10.5, 10.0),
            (3, 11.0, 10.0), (4, 30.0, 30.0)]
    df = spark.createDataFrame(rows, "pid long, x double, y double")
    got = {r["pid"]: r["cluster_id"] for r in kmeans(df, k=2).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert set(got.values()) <= {0, 1}


def test_kmeans_properties(spark):
    """Deterministic Lloyd: every point's assigned center is its argmin
    (ties → lowest id), centroids are fixpoints at convergence, inertia is
    no worse than random assignment, and reruns are identical."""
    import numpy as np

    from nettopologysuite_spark.engine.cluster import kmeans

    rng = np.random.default_rng(3)
    blobs = np.concatenate([
        rng.normal((10, 10), 1.0, (40, 2)),
        rng.normal((40, 15), 1.0, (35, 2)),
        rng.normal((25, 40), 1.0, (30, 2)),
    ])
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(blobs)]
    df = spark.createDataFrame(rows, "pid long, x double, y double")
    out1 = {r["pid"]: r["cluster_id"] for r in kmeans(df, k=3).collect()}
    out2 = {r["pid"]: r["cluster_id"] for r in kmeans(df, k=3).collect()}
    assert out1 == out2, "kmeans must be deterministic"
    assert set(out1.values()) == {0, 1, 2}
    # centers implied by the labels; every point must be closest to ITS
    # center (argmin property of a converged Lloyd assignment)
    pts = {i: (x, y) for i, x, y in rows}
    centers = {}
    for c in set(out1.values()):
        mem = [pts[i] for i, ci in out1.items() if ci == c]
        centers[c] = (sum(m[0] for m in mem) / len(mem),
                      sum(m[1] for m in mem) / len(mem))
    for i, c in out1.items():
        x, y = pts[i]
        d_own = (x - centers[c][0]) ** 2 + (y - centers[c][1]) ** 2
        for c2, (cx, cy) in centers.items():
            d2 = (x - cx) ** 2 + (y - cy) ** 2
            assert d_own <= d2 + 1e-9, (i, c, c2)
    # three well-separated blobs → the partition recovers them exactly
    labels = [out1[i] for i in range(len(rows))]
    assert len(set(labels[:40])) == 1
    assert len(set(labels[40:75])) == 1
    assert len(set(labels[75:])) == 1


def test_cluster_within_matches_brute_force(spark):
    """Transitive within-eps closure equals a python BFS closure; the
    refactored _eps_pairs keeps dbscan's behavior (regression via the
    existing dbscan brute-force test running in the same suite)."""
    import numpy as np

    from nettopologysuite_spark.engine.cluster import cluster_within

    rng = np.random.default_rng(11)
    pts = np.concatenate([
        rng.normal((5, 5), 0.4, (15, 2)),
        rng.normal((20, 5), 0.4, (10, 2)),
        np.array([[40.0, 40.0]]),  # singleton
        # a chain bridging two spots pairwise within eps
        np.array([[30.0, 30.0], [30.7, 30.0], [31.4, 30.0], [32.1, 30.0]]),
    ])
    ids = np.arange(len(pts), dtype=np.int64)
    eps = 1.0
    d2 = (pts[:, 0][:, None] - pts[:, 0][None, :]) ** 2 + \
         (pts[:, 1][:, None] - pts[:, 1][None, :]) ** 2
    nbr = d2 <= eps * eps
    want = {}
    for i in range(len(pts)):
        if i in want:
            continue
        stack, seen = [i], {i}
        while stack:
            u = stack.pop()
            for v in np.flatnonzero(nbr[u]):
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        cl = min(int(ids[m]) for m in seen)
        for m in seen:
            want[m] = cl
    df = spark.createDataFrame(
        [(int(i), float(p[0]), float(p[1])) for i, p in zip(ids, pts)],
        "pid long, x double, y double",
    )
    got = {r["pid"]: r["cluster_id"]
           for r in cluster_within(df, eps=eps).collect()}
    assert got == {int(k): v for k, v in want.items()}
    assert got[25] == 25  # the singleton labels itself


def test_eps_pairs_half_matches_brute_force(spark):
    """The forward half-neighborhood candidate join must produce every
    unordered within-eps pair exactly once (self-pairs as (a, a)) — the
    r6 halved-volume replacement for the 3x3 explode."""
    from pyspark.sql import functions as F

    from nettopologysuite_spark.engine.cluster import _eps_pairs_half

    rng = np.random.default_rng(11)
    pts = rng.uniform(0, 8, (60, 2))
    ids = np.arange(len(pts), dtype=np.int64)
    eps = 0.75
    d2 = (pts[:, 0][:, None] - pts[:, 0][None, :]) ** 2 + (
        pts[:, 1][:, None] - pts[:, 1][None, :]
    ) ** 2
    want = {
        (int(min(i, j)), int(max(i, j)))
        for i in ids for j in ids
        if d2[i, j] <= eps * eps
    }
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, pts)],
        "pid long, x double, y double",
    )
    rows = _eps_pairs_half(df, eps, "pid", "x", "y").collect()
    got = [(min(r["a"], r["b"]), max(r["a"], r["b"])) for r in rows]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == want


def _group_jobs(spark, group, action):
    """Spark jobs ``action()`` starts, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dbscan_spark_job_budget(spark):
    """DBSCAN over ~1k points (10 per unit², so one large component and
    about 4k ε-pairs, far below ``graph.LOCAL_MAX_EDGES``) takes the
    driver path. Building the frame runs 5 jobs (the adaptive query
    stages of the eager pair checkpoint, then one collect of it) and
    collecting it 2 more, on ``local[4]`` with 8 shuffle partitions. An
    eager job added to either fails here rather than only in a traced
    benchmark run."""
    rng = np.random.default_rng(1501)
    pts = rng.uniform(0, 10, (1000, 2))
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pid long, x double, y double",
    ).localCheckpoint(eager=True)
    out = []
    jobs = _group_jobs(spark, "dbscan-budget",
                       lambda: out.extend(dbscan(df, 0.5, 3).collect()))
    assert len(out) == 1000
    assert jobs == 7, jobs
