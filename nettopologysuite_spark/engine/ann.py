"""Approximate nearest neighbour and near-duplicate search over embedding
columns.

LSH path (``ann_lsh_topk``, ``knn_graph``, ``embed_cosine_dedup``):
random-hyperplane LSH. One linear JVM-side pass computes sign bits per
vector (sign of ⟨quantized embedding, integer hyperplane⟩ — Spark
higher-order functions, zero Python), packed into band buckets by
``lsh.band_buckets`` — 8×4-bit bands for the ANN query and the kNN graph
(recall banding), 4×8-bit bands for the embedding dedup (selectivity
banding). Candidates are bare id pairs: the ANN query joins its few query
buckets (broadcast) against all buckets, the kNN graph and the dedup take
every pair sharing a bucket from ``lsh.bucket_pairs``. One scorer
(``_pair_cosine``) re-ranks candidates by exact quantized cosine, joining
each vector's quantized array and norm back by id, and one window
(``_top_k``) keeps the k best per query.

IVF path (``ivf_topk``): inverted lists over deterministic coarse
centroids, see its docstring. ``project_embeddings`` is the
Johnson-Lindenstrauss compression ahead of either index.

Everything is exact integer arithmetic on floor(x·1024) quantized values, so
an external SQL engine reproduces the result bit-for-bit (the driver oracle
recomputes the same definition; the brute-force kNN bounds its recall in
pytest). The brute-force baseline lives in ``__spark_entry__.q_knn_embedding``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lsh import band_buckets, bucket_pairs

DIM = 64
N_PLANES = 32
BANDS = 8  # 4 bits per band: many narrow bands — RECALL banding for the
# ANN query, whose true top-k neighbours on this corpus are only weakly
# similar (cos 0.26–0.39; see test_ann.py). Collision for a cos≈0.31
# neighbour ≈ 1-(1-0.6⁴)⁸ ≈ 0.67 while the exact re-rank still runs on
# candidates only. The DEDUP banding below is the opposite tradeoff.
DEDUP_PLANES = 32  # 4 bands × 8 bits — near-dup banding (see embed_cosine_dedup)
DEDUP_BANDS = 4
#: hot-bucket cap of the kNN graph and the embedding dedup (see
#: ``lsh.bucket_pairs``); their oracles replicate it
MAX_BUCKET = 10_000
_LCG = 2654435761


def hyperplanes(dim: int = DIM, n_planes: int = N_PLANES) -> list[list[int]]:
    """Deterministic small-integer hyperplanes in [-8, 7] (LCG + xor-fold) —
    embedded as literals in both the Spark plan and the SQL oracle.

    The xor-fold is load-bearing: the bare LCG residue ``(seed*_LCG) % 16``
    is DEGENERATE here because ``_LCG ≡ 1 (mod 16)`` and ``p·dim ≡ 0 (mod
    16)`` — every plane p collapsed to the same vector ``(1+d) % 16 - 8``,
    so all the "independent" sign bits were one bit and the LSH had exactly
    two buckets (candidates ≈ half of ALL pairs — brute force in disguise).
    Folding the high half of the 32-bit product in first decorrelates the
    planes (verified: all planes distinct, per-band buckets spread over the
    full value range, candidate volume halved on the fixture)."""
    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            x = ((1 + p * dim + d) * _LCG) % (1 << 32)
            x ^= x >> 16
            row.append((x % 16) - 8)
        out.append(row)
    return out


def _sig_cols(emb_col: str, planes: list[list[int]], bands: int = BANDS):
    """One integer column per band: sign bits packed (all JVM codegen)."""
    bits = []
    for plane in planes:
        arr = "array(" + ", ".join(f"{h}D" for h in plane) + ")"
        dot = (
            f"aggregate(zip_with({emb_col}, {arr}, "
            f"(x, h) -> floor(CAST(x AS DOUBLE) * 1024D) * h), 0D, (a, v) -> a + v)"
        )
        # coalesce mirrors the DuckDB oracle's COALESCE(dot, 0): a NULL
        # embedding must land in the same bucket on both engines
        bits.append(f"(CASE WHEN coalesce({dot}, 0D) >= 0 THEN 1 ELSE 0 END)")
    n_per_band = len(planes) // bands
    return [
        F.expr("(" + " + ".join(
            f"({bits[b * n_per_band + i]} * {1 << i})" for i in range(n_per_band)
        ) + ")")
        for b in range(bands)
    ]


def _pair_cosine(pairs: DataFrame, emb: DataFrame, id_col: str,
                 emb_col: str) -> DataFrame:
    """(d1, d2) id pairs → (d1, d2, sim), the exact cosine of the two
    floor(x·1024)-quantized vectors. Each vector's quantized array and norm
    are computed once per ROW and joined back by id, so embedding arrays
    never travel with the candidate generation. A zero quantized norm gives
    sim NULL (``try_divide``: 0/0 is NULL in DuckDB too, and ANSI mode would
    raise DIVIDE_BY_ZERO), as does a NULL embedding."""
    qe = f"transform({emb_col}, x -> floor(CAST(x AS DOUBLE) * 1024D))"
    qv = emb.select(
        F.col(id_col),
        F.expr(qe).alias("qv"),
        F.expr(f"sqrt(aggregate({qe}, 0D, (a, v) -> a + v * v))").alias("nrm"),
    )
    return (
        pairs
        .join(qv.select(F.col(id_col).alias("d1"), F.col("qv").alias("v1"),
                        F.col("nrm").alias("n1")), "d1")
        .join(qv.select(F.col(id_col).alias("d2"), F.col("qv").alias("v2"),
                        F.col("nrm").alias("n2")), "d2")
        .select("d1", "d2", F.expr(
            "try_divide(aggregate(zip_with(v1, v2, (x, y) -> x * y), 0D, "
            "(a, v) -> a + v), n1 * n2)"
        ).alias("sim"))
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, nbr_id, sim) → (q_id, rank, nbr_id, sim): the k best
    neighbours per query by sim descending (NULL last, as in DuckDB), ties
    by nbr_id."""
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "nbr_id", "sim")
    )


def ann_lsh_topk(emb: DataFrame, n_queries: int, k: int,
                 id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Top-k by exact quantized cosine among LSH-bucket candidates of each
    query (query set = ids < n_queries). Returns (q_id, rank, nbr_id, sim).

    The query buckets are few, so they broadcast against the whole bucket
    table; the candidates are distinct bare (query, neighbour) id pairs,
    scored once each. No hot-bucket cap: the oracle has none."""
    buckets = band_buckets(emb, id_col, _sig_cols(emb_col, hyperplanes()))
    qb = buckets.filter(F.col(id_col) < n_queries) \
        .select(F.col(id_col).alias("d1"), "band", "sig")
    pairs = (
        buckets.join(F.broadcast(qb), ["band", "sig"])
        .filter(F.col(id_col) != F.col("d1"))
        .select("d1", F.col(id_col).alias("d2"))
        .distinct()
    )
    scored = _pair_cosine(pairs, emb, id_col, emb_col)
    return _top_k(scored.select(F.col("d1").alias("q_id"),
                                F.col("d2").alias("nbr_id"), "sim"), k)


def embed_cosine_dedup(emb: DataFrame, threshold_pct: int = 40,
                       id_col: str = "vec_id",
                       emb_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (d1, d2, sim), d1 < d2: LSH
    bucket candidates (``lsh.bucket_pairs``), exact quantized cosine ≥
    threshold on candidates only.

    The 100-TB dedup shape: one linear signature pass (JVM higher-order
    functions), candidate pairs on BARE IDS (never the embedding arrays),
    then ``_pair_cosine`` on the distinct candidates. Like every LSH dedup,
    candidacy is approximate (a qualifying pair missing every band is not
    reported); the oracle mirrors the identical candidacy definition, so
    the result is bit-reproducible.

    Scale knob: candidate volume is Σ_buckets c². Bands here are 8-bit
    (4 × 8 of 32 planes) — NEAR-DUP banding: a random pair collides per
    band with ≈ 2⁻⁸ (≈1.5% of all pairs over 4 bands, measured 30× fewer
    candidates than 4-bit bands on the fixture) while a true near-dup at
    cos 0.95 still collides with ≈ 89% probability. The ANN query keeps
    4-bit bands because its corpus's true neighbours are only weakly
    similar. Wider bands → exponentially more buckets, exactly as MinHash
    raises its band count; the plan shape is unchanged."""
    sig = _sig_cols(emb_col, hyperplanes(n_planes=DEDUP_PLANES), DEDUP_BANDS)
    pairs = bucket_pairs(band_buckets(emb, id_col, sig), id_col, MAX_BUCKET)
    return _pair_cosine(pairs, emb, id_col, emb_col) \
        .filter(F.col("sim") * 100 >= threshold_pct)


def knn_graph(emb: DataFrame, k: int, id_col: str = "vec_id",
              emb_col: str = "embedding") -> DataFrame:
    """kNN GRAPH over the whole embedding table — every vector's top-k
    most-similar LSH-bucket candidates by exact quantized cosine, the
    primitive under SemDeDup-style semantic dedup and kNN-graph
    clustering. Returns (q_id, rank, nbr_id, sim).

    Scale shape: the ``embed_cosine_dedup`` candidate dataflow with the
    ``ann_lsh_topk`` banding. Exact quantized cosine is SYMMETRIC, so each
    unordered candidate pair is scored once and the graph's two
    orientations explode from the scored row. Candidacy is LSH-approximate
    exactly as ``ann_lsh_topk`` (recall floor pytest-pinned there); the SQL
    oracle mirrors the same candidacy, so results are bit-reproducible.
    """
    buckets = band_buckets(emb, id_col, _sig_cols(emb_col, hyperplanes()))
    scored = _pair_cosine(bucket_pairs(buckets, id_col, MAX_BUCKET),
                          emb, id_col, emb_col)
    both = scored.select(
        F.explode(F.array(
            F.struct(F.col("d1").alias("q_id"), F.col("d2").alias("nbr_id")),
            F.struct(F.col("d2").alias("q_id"), F.col("d1").alias("nbr_id")),
        )).alias("e"),
        "sim",
    ).select("e.q_id", "e.nbr_id", "sim")
    return _top_k(both, k)


# ---------------------------------------------------------------------------
# DuckDB twins of the LSH operators
# ---------------------------------------------------------------------------


def _sql_buckets(planes: list[list[int]], bands: int, capped: bool) -> str:
    """Leading CTEs ending in ``bk`` (vec_id, embedding, band, val): the
    SQL twin of ``band_buckets`` over ``_sig_cols``, shared by every LSH
    oracle so the bit-reproducibility contract has exactly one definition
    per engine. ``capped`` keeps only buckets of at most ``MAX_BUCKET``
    rows, as ``lsh.bucket_pairs`` does."""
    bits = []
    for plane in planes:
        arr = "[" + ", ".join(f"CAST({h} AS DOUBLE)" for h in plane) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(list_transform(e.embedding, "
            f"x -> floor(CAST(x AS DOUBLE) * 1024)), {arr}), p -> p[1] * p[2]))"
        )
        bits.append(f"(CASE WHEN COALESCE({dot}, 0) >= 0 THEN 1 ELSE 0 END)")
    n_per_band = len(planes) // bands
    sig = [
        "(" + " + ".join(
            f"({bits[b * n_per_band + i]} * {1 << i})" for i in range(n_per_band)
        ) + ")"
        for b in range(bands)
    ]
    out = (
        "WITH s AS (SELECT e.vec_id, e.embedding, "
        + ", ".join(f"{sig[b]} AS band{b}" for b in range(bands))
        + " FROM embeddings e), "
        + ("bk0" if capped else "bk") + " AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, embedding, {b} AS band, band{b} AS val FROM s"
            for b in range(bands)
        )
        + "), "
    )
    if capped:
        out += (
            "bkc AS (SELECT band, val FROM bk0 GROUP BY band, val "
            f"HAVING COUNT(*) <= {MAX_BUCKET}), "
            "bk AS (SELECT bk0.* FROM bk0 JOIN bkc USING (band, val)), "
        )
    return out


def _sql_cosine(a: str, b: str) -> str:
    """Exact quantized cosine of the embedding columns ``a`` and ``b``."""
    return (
        "  list_sum(list_transform(list_zip("
        f"    list_transform({a}, x -> floor(CAST(x AS DOUBLE) * 1024)), "
        f"    list_transform({b}, x -> floor(CAST(x AS DOUBLE) * 1024))), "
        "    p -> p[1] * p[2])) "
        f"  / (sqrt(list_sum(list_transform({a}, x -> floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024)))) "
        f"   * sqrt(list_sum(list_transform({b}, x -> floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024))))) AS sim "
    )


def _sql_top_k(k: int) -> str:
    """The ``_top_k`` window over a ``scored`` (q_id, nbr_id, sim) CTE."""
    return (
        "SELECT q_id, rank, nbr_id, sim FROM ("
        "SELECT q_id, nbr_id, sim, ROW_NUMBER() OVER ("
        "PARTITION BY q_id ORDER BY sim DESC, nbr_id ASC) AS rank FROM scored) t "
        f"WHERE rank <= {k}"
    )


def ann_lsh_oracle_sql(n_queries: int, k: int) -> str:
    """The identical definition in ANSI SQL (DuckDB) over the embeddings
    view — bit-for-bit comparable with :func:`ann_lsh_topk`."""
    return (
        _sql_buckets(hyperplanes(), BANDS, capped=False)
        + f"qb AS (SELECT vec_id AS q_id, embedding AS q_emb, band, val FROM bk "
        f"WHERE vec_id < {n_queries}), "
        "cand AS (SELECT DISTINCT qb.q_id, qb.q_emb, bk.vec_id AS nbr_id, "
        "bk.embedding AS n_emb FROM bk JOIN qb ON bk.band = qb.band "
        "AND bk.val = qb.val AND bk.vec_id <> qb.q_id), "
        "scored AS (SELECT q_id, nbr_id, " + _sql_cosine("q_emb", "n_emb")
        + "FROM cand) " + _sql_top_k(k)
    )


def embed_cosine_dedup_oracle_sql(threshold_pct: int = 40) -> str:
    """The identical definition in ANSI SQL (DuckDB) over the embeddings
    view — bit-for-bit comparable with :func:`embed_cosine_dedup`."""
    return (
        _sql_buckets(hyperplanes(n_planes=DEDUP_PLANES), DEDUP_BANDS, capped=True)
        + "cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2, "
        "a.embedding AS e1, b.embedding AS e2 FROM bk a JOIN bk b "
        "ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id), "
        "scored AS (SELECT d1, d2, " + _sql_cosine("e1", "e2") + "FROM cand) "
        f"SELECT d1, d2, sim FROM scored WHERE sim * 100 >= {threshold_pct}"
    )


def knn_graph_oracle_sql(k: int) -> str:
    """The identical kNN-graph definition in ANSI SQL (DuckDB)."""
    return (
        _sql_buckets(hyperplanes(), BANDS, capped=True)
        + "cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS nbr_id, "
        "a.embedding AS q_emb, b.embedding AS n_emb FROM bk a JOIN bk b "
        "ON a.band = b.band AND a.val = b.val AND a.vec_id <> b.vec_id), "
        "scored AS (SELECT q_id, nbr_id, " + _sql_cosine("q_emb", "n_emb")
        + "FROM cand) " + _sql_top_k(k)
    )


# ---------------------------------------------------------------------------
# IVF-Flat (inverted-file) ANN — the partitioned scale path
# ---------------------------------------------------------------------------

IVF_MAX_NLIST = 4096  # hard cap: centroid broadcast ≤ ~2 MB at dim 64
IVF_NPROBE = 2


def _ceil_sqrt(n: int) -> int:
    """Exact integer ceil(sqrt(n)) — no float round-off at perfect squares."""
    import math

    if n <= 1:
        return 1
    r = math.isqrt(n)
    return r if r * r >= n else r + 1


def ivf_nlist(n: int) -> int:
    """Coarse-quantizer size: ⌈√n⌉ capped at :data:`IVF_MAX_NLIST`.

    The cap is the scale contract — nlist never grows past a constant, so
    the centroid broadcast stays bounded and the assignment join is a
    linear scan × O(1) broadcast rows, at any corpus size. √n below the
    cap balances list length (n/nlist) against probe cost (nlist), the
    standard IVF sizing rule."""
    return max(1, min(IVF_MAX_NLIST, _ceil_sqrt(n)))


def _cent_hash(id_col: str) -> str:
    """Deterministic 32-bit LCG + xor-fold over the id — the centroid
    pseudo-random sampling key, identical expression in Spark SQL and the
    DuckDB oracle (pure BIGINT arithmetic)."""
    lcg = f"(({id_col} * {_LCG}) % 4294967296)"
    return f"(CAST({lcg} AS BIGINT) ^ CAST(shiftright({lcg}, 16) AS BIGINT))"


def ivf_topk(emb: DataFrame, n_queries: int, k: int,
             nprobe: int = IVF_NPROBE,
             id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Top-k by exact quantized cosine among the candidates of an
    IVF-Flat index: vectors partition into inverted lists by their nearest
    coarse centroid; each query probes its ``nprobe`` nearest lists and
    re-ranks exactly within them. Returns (q_id, rank, nbr_id, sim).

    The coarse quantizer is a DETERMINISTIC HASH SAMPLE of the dataset:
    the ⌈√n⌉ ids with the smallest LCG hash (capped at
    :data:`IVF_MAX_NLIST`) become centroids. nlist is therefore
    INDEPENDENT of n beyond the √n growth and never exceeds the cap, so
    the centroid broadcast is bounded (≤ ~2 MB) and the assignment join is
    one linear scan against O(1) broadcast rows — the plan survives 100 TB.
    Selection itself is ``orderBy(hash).limit(nlist)``, which Spark
    executes as TakeOrderedAndProject (per-partition partial top-k, no
    global sort). The index structure, dataflow, and cost model match
    trained-k-means IVF (one broadcast assignment pass, one
    list-partitioned shuffle, candidates ≈ nprobe/nlist of the data);
    swapping in trained centroids touches only the ``cents`` table.
    Everything is exact integer arithmetic on floor(x·1024), reproduced
    bit-for-bit by the DuckDB oracle (same hash, same ⌈√n⌉ rule).

    Each vector's quantized array and norm are computed ONCE and carried
    through the n×nlist assignment join (not re-derived per pair) —
    measured ~3× on the assignment pass; the per-pair values are
    bit-identical to the oracle's inline form (same per-element ops,
    merely factored out of the pair loop)."""
    qarr = f"transform({emb_col}, x -> floor(CAST(x AS DOUBLE) * 1024D))"
    qnorm = f"sqrt(aggregate({qarr}, 0D, (a, v) -> a + v * v))"
    quant = (
        emb.select(F.col(id_col), F.expr(qarr).alias("_q"),
                   F.expr(f"coalesce({qnorm}, 0D)").alias("_n"))
    )
    nlist = ivf_nlist(emb.count())
    cents = (
        quant.withColumn("_h", F.expr(_cent_hash(id_col)))
        .orderBy("_h", id_col)   # TakeOrderedAndProject: partial top-k
        .limit(nlist)
        .select(F.col(id_col).alias("cid"), F.col("_q").alias("_cq"),
                F.col("_n").alias("_cn"))
    )
    def pair_sim(q: str, n: str) -> str:
        return (
            f"(CASE WHEN {n} = 0D OR _cn = 0D THEN -2D ELSE "
            f"aggregate(zip_with({q}, _cq, (x, y) -> x * y), 0D, (a, v) -> a + v) "
            f"/ ({n} * _cn) END)"
        )
    # inverted lists: every vector → nearest centroid (broadcast, codegen)
    aw = Window.partitionBy(id_col).orderBy(
        F.col("_csim").desc(), F.col("cid").asc()
    )
    assigned = (
        quant.join(F.broadcast(cents))
        .withColumn("_csim", F.expr(pair_sim("_q", "_n")))
        .withColumn("_crk", F.row_number().over(aw))
        .filter(F.col("_crk") == 1)
        .select(F.col(id_col), F.col("_q"), F.col("_n"), "cid")
    )
    # query probes: nprobe nearest lists per query
    qw = Window.partitionBy("q_id").orderBy(
        F.col("_csim").desc(), F.col("cid").asc()
    )
    probes = (
        quant.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), F.col("_q").alias("_qq"),
                F.col("_n").alias("_qn"))
        .join(F.broadcast(cents))
        .withColumn("_csim", F.expr(pair_sim("_qq", "_qn")))
        .withColumn("_crk", F.row_number().over(qw))
        .filter(F.col("_crk") <= nprobe)
        .select("q_id", "_qq", "_qn", "cid")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col(id_col) != F.col("q_id"))
    )
    nbr_sim = (
        "(CASE WHEN _qn = 0D OR _n = 0D THEN -2D ELSE "
        "aggregate(zip_with(_qq, _q, (x, y) -> x * y), 0D, (a, v) -> a + v) "
        "/ (_qn * _n) END)"
    )
    return _top_k(cand.select(
        "q_id", F.col(id_col).alias("nbr_id"), F.expr(nbr_sim).alias("sim")
    ), k)


_SQL_QDOT = ("list_sum(list_transform(list_zip("
             "list_transform({a}, x -> floor(CAST(x AS DOUBLE) * 1024)), "
             "list_transform({b}, x -> floor(CAST(x AS DOUBLE) * 1024))), "
             "p -> p[1] * p[2]))")
_SQL_QNORM = ("sqrt(list_sum(list_transform({a}, x -> "
              "floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024))))")


def _sim_sql(a: str, b: str) -> str:
    dot = _SQL_QDOT.format(a=a, b=b)
    na = _SQL_QNORM.format(a=a)
    nb = _SQL_QNORM.format(a=b)
    return (f"(CASE WHEN COALESCE({na}, 0) = 0 OR COALESCE({nb}, 0) = 0 "
            f"THEN -2 ELSE ({dot}) / ({na} * {nb}) END)")


def ivf_oracle_sql(n_queries: int, k: int, nprobe: int = IVF_NPROBE) -> str:
    """The identical IVF definition in DuckDB SQL — bit-for-bit comparable
    with :func:`ivf_topk` (same LCG hash sample, same ⌈√n⌉-capped nlist)."""
    lcg = f"((vec_id * {_LCG}) % 4294967296)"
    h = f"xor({lcg}, {lcg} >> 16)"
    return (
        f"WITH eh AS (SELECT vec_id, embedding, {h} AS h FROM embeddings), "
        "cents AS (SELECT vec_id AS cid, embedding AS c_emb FROM ("
        "  SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rk, "
        "  COUNT(*) OVER () AS nn FROM eh) t "
        f"WHERE rk <= GREATEST(1, LEAST({IVF_MAX_NLIST}, "
        "CAST(CEIL(SQRT(nn)) AS BIGINT)))), "
        "assigned AS (SELECT vec_id, embedding, cid FROM ("
        "  SELECT e.vec_id, e.embedding, c.cid, ROW_NUMBER() OVER ("
        "    PARTITION BY e.vec_id ORDER BY "
        + _sim_sql("e.embedding", "c.c_emb")
        + " DESC, c.cid ASC) AS crk FROM embeddings e CROSS JOIN cents c) t "
        "WHERE crk = 1), "
        f"probes AS (SELECT q_id, q_emb, cid FROM ("
        f"  SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cid, "
        f"  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY "
        + _sim_sql("e.embedding", "c.c_emb")
        + f" DESC, c.cid ASC) AS crk "
        f"  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < {n_queries}) t "
        f"WHERE crk <= {nprobe}), "
        "cand AS (SELECT p.q_id, p.q_emb, a.vec_id AS nbr_id, "
        "a.embedding AS n_emb FROM assigned a JOIN probes p ON a.cid = p.cid "
        "AND a.vec_id <> p.q_id), "
        "scored AS (SELECT q_id, nbr_id, "
        + _sim_sql("q_emb", "n_emb")
        + " AS sim FROM cand) " + _sql_top_k(k)
    )


# ---------------------------------------------------------------------------
# random-projection dimensionality reduction (pre-ANN compression)
# ---------------------------------------------------------------------------

PROJ_DIM = 16


def project_embeddings(emb: DataFrame, out_dim: int = PROJ_DIM,
                       id_col: str = "vec_id",
                       emb_col: str = "embedding") -> DataFrame:
    """Deterministic random projection to ``out_dim`` components — the
    standard Johnson-Lindenstrauss compression ahead of ANN indexing /
    storage (4× smaller vectors at a bounded distance distortion). The
    projection matrix reuses the integer LCG hyperplane family (embedded
    as literals in the plan AND the SQL oracle), inputs quantize on
    floor(x·1024), so every component is an exact integer any engine
    reproduces bit-for-bit. One linear JVM-side pass, zero Python."""
    planes = hyperplanes(DIM, out_dim)
    comps = []
    for j, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"{h}D" for h in plane) + ")"
        comps.append(
            f"aggregate(zip_with({emb_col}, {arr}, "
            f"(x, h) -> floor(CAST(x AS DOUBLE) * 1024D) * h), 0D, (a, v) -> a + v)"
        )
    arr_df = emb.select(
        F.col(id_col),
        F.expr("array(" + ", ".join(comps) + ")").alias("proj"),
    )
    # flat (id, comp, value) rows: scalar columns diff cleanly across
    # engines and store naturally in columnar formats
    return arr_df.select(
        id_col, F.posexplode("proj").alias("comp", "value")
    )


def project_oracle_sql(out_dim: int = PROJ_DIM) -> str:
    planes = hyperplanes(DIM, out_dim)
    comps = []
    for plane in planes:
        arr = "[" + ", ".join(str(h) for h in plane) + "]"
        comps.append(
            f"list_sum(list_transform(list_zip("
            f"list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1024)), "
            f"{arr}), p -> p[1] * p[2]))"
        )
    return (
        "WITH p AS (SELECT vec_id, [" + ", ".join(comps) + "] AS proj "
        "FROM embeddings) "
        "SELECT vec_id, CAST(i.i AS INT) AS comp, proj[i.i + 1] AS value "
        f"FROM p JOIN generate_series(0, {out_dim - 1}) i(i) ON TRUE"
    )
