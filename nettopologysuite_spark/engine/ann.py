"""Approximate nearest neighbour over embedding columns.

Scale path: random-hyperplane LSH. One linear JVM-side pass computes sign
bits per vector (sign of ⟨quantized embedding, integer hyperplane⟩ — Spark
higher-order functions, zero Python), packed into LSH band buckets —
8×4-bit bands for the ANN query (recall banding) and 4×8-bit bands for the
embedding dedup (selectivity banding); candidate pairs come from a bucket
equi-join against the query signatures; the exact cosine re-rank runs only
on candidates. At 100 TB this
is the standard sweep: one scan to signatures, one shuffle-free broadcast
bucket join (query side is small), exact re-rank on a vanishing fraction.

Everything is exact integer arithmetic on floor(x·1024) quantized values, so
an external SQL engine reproduces the result bit-for-bit (the driver oracle
recomputes the same definition; the brute-force kNN bounds its recall in
pytest). The brute-force baseline lives in ``__spark_entry__.q_knn_embedding``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIM = 64
N_PLANES = 32
BANDS = 8  # 4 bits per band: many narrow bands — RECALL banding for the
# ANN query, whose true top-k neighbours on this corpus are only weakly
# similar (cos 0.26–0.39; see test_ann.py). Collision for a cos≈0.31
# neighbour ≈ 1-(1-0.6⁴)⁸ ≈ 0.67 while the exact re-rank still runs on
# candidates only. The DEDUP banding below is the opposite tradeoff.
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
    cols = []
    for b in range(bands):
        terms = [
            f"({bits[b * n_per_band + i]} * {1 << i})" for i in range(n_per_band)
        ]
        cols.append(F.expr("(" + " + ".join(terms) + ")").alias(f"band{b}"))
    return cols


def ann_lsh_topk(emb: DataFrame, n_queries: int, k: int,
                 id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Top-k by exact quantized cosine among LSH-bucket candidates of each
    query (query set = ids < n_queries). Returns (q_id, rank, nbr_id, sim)."""
    planes = hyperplanes()
    sig = emb.select(F.col(id_col), F.col(emb_col), *_sig_cols(emb_col, planes))
    buckets = sig.select(
        id_col, emb_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("val"))
            for b in range(BANDS)
        ])).alias("bk"),
    ).select(id_col, emb_col, "bk.band", "bk.val")
    qb = (
        buckets.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb"),
                "band", "val")
    )
    cand = (
        buckets.join(F.broadcast(qb), ["band", "val"])
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", "q_emb", F.col(id_col).alias("nbr_id"), F.col(emb_col).alias("n_emb"))
        .dropDuplicates(["q_id", "nbr_id"])
    )
    qdot = "aggregate(zip_with(q_emb, n_emb, (x, y) -> floor(CAST(x AS DOUBLE) * 1024D) * floor(CAST(y AS DOUBLE) * 1024D)), 0D, (a, v) -> a + v)"
    qn = "sqrt(aggregate(transform(q_emb, x -> floor(CAST(x AS DOUBLE) * 1024D)), 0D, (a, v) -> a + v * v))"
    nn = "sqrt(aggregate(transform(n_emb, x -> floor(CAST(x AS DOUBLE) * 1024D)), 0D, (a, v) -> a + v * v))"
    scored = cand.withColumn("sim", F.expr(f"({qdot}) / ({qn} * {nn})"))
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "nbr_id", "sim")
    )


DEDUP_PLANES = 32  # 4 bands × 8 bits — near-dup banding (see docstring)
DEDUP_BANDS = 4


def embed_cosine_dedup(emb: DataFrame, threshold_pct: int = 40,
                       id_col: str = "vec_id", emb_col: str = "embedding",
                       n_planes: int = DEDUP_PLANES,
                       bands: int = DEDUP_BANDS,
                       max_bucket: int | None = 10_000) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: LSH-bucket self-join for
    candidates, exact quantized cosine ≥ threshold on candidates only.

    The 100-TB dedup shape: one linear signature pass (JVM higher-order
    functions), a bucket self-join on BARE IDS (candidate dedup shuffles id
    pairs only — never the embedding arrays), then embeddings join back by
    id for the exact re-check on the deduped candidates. Quantized vectors
    and norms are computed once per ROW, not per pair. Like every LSH
    dedup, candidacy is approximate (a qualifying pair missing every band is
    not reported); the oracle mirrors the identical candidacy definition, so
    the result is bit-reproducible.

    Scale knob: candidate volume is Σ_buckets c². Bands here are 8-bit
    (4 × 8 of 32 planes) — NEAR-DUP banding: a random pair collides per
    band with ≈ 2⁻⁸ (≈1.5% of all pairs over 4 bands, measured 30× fewer
    candidates than 4-bit bands on the fixture) while a true near-dup at
    cos 0.95 still collides with ≈ 89% probability. The ANN query keeps
    4-bit bands because its corpus's true neighbours are only weakly
    similar. Wider bands → exponentially more buckets, exactly as MinHash
    raises its band count; the plan shape is unchanged."""
    planes = hyperplanes(n_planes=n_planes)
    sig = emb.select(F.col(id_col), *_sig_cols(emb_col, planes, bands))
    buckets = sig.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("val"))
            for b in range(bands)
        ])).alias("bk"),
    ).select(id_col, "bk.band", "bk.val")
    # one signature pass + parallel pair generation from the checkpointed
    # bucket table (see _bucket_pairs; the former lazy plan re-ran the
    # 32-plane signature scan once per reference). Same candidate set.
    pairs = _bucket_pairs(buckets, id_col, max_bucket)
    qe = f"transform({emb_col}, x -> floor(CAST(x AS DOUBLE) * 1024D))"
    qv = emb.select(
        F.col(id_col),
        F.expr(qe).alias("qv"),
        F.expr(f"sqrt(aggregate({qe}, 0D, (a, v) -> a + v * v))").alias("nrm"),
    )
    scored = (
        pairs
        .join(qv.select(F.col(id_col).alias("d1"), F.col("qv").alias("v1"),
                        F.col("nrm").alias("n1")), "d1")
        .join(qv.select(F.col(id_col).alias("d2"), F.col("qv").alias("v2"),
                        F.col("nrm").alias("n2")), "d2")
        .withColumn("sim", F.expr(
            "aggregate(zip_with(v1, v2, (x, y) -> x * y), 0D, (a, v) -> a + v)"
            " / (n1 * n2)"
        ))
    )
    return (
        scored.filter(F.col("sim") * 100 >= threshold_pct)
        .select("d1", "d2", "sim")
    )


def _sig_sql_exprs(planes: list[list[int]], bands: int, tbl: str) -> list[str]:
    """DuckDB band-signature expressions — the single SQL twin of
    ``_sig_cols``; shared by both oracle builders so the bit-reproducibility
    contract has exactly one definition per engine."""
    bits = []
    for plane in planes:
        arr = "[" + ", ".join(f"CAST({h} AS DOUBLE)" for h in plane) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(list_transform({tbl}.embedding, "
            f"x -> floor(CAST(x AS DOUBLE) * 1024)), {arr}), p -> p[1] * p[2]))"
        )
        bits.append(f"(CASE WHEN COALESCE({dot}, 0) >= 0 THEN 1 ELSE 0 END)")
    n_per_band = len(planes) // bands
    return [
        "(" + " + ".join(
            f"({bits[b * n_per_band + i]} * {1 << i})" for i in range(n_per_band)
        ) + ")"
        for b in range(bands)
    ]


def embed_cosine_dedup_oracle_sql(threshold_pct: int = 40,
                                  n_planes: int = DEDUP_PLANES,
                                  bands: int = DEDUP_BANDS,
                                  max_bucket: int = 10_000) -> str:
    """The identical definition in ANSI SQL (DuckDB) over the embeddings
    view — bit-for-bit comparable with :func:`embed_cosine_dedup`."""
    BANDS = bands  # local name for the shared query body below
    e_bands = _sig_sql_exprs(hyperplanes(n_planes=n_planes), bands, "e")
    return (
        "WITH s AS (SELECT e.vec_id, e.embedding, "
        + ", ".join(f"{e_bands[b]} AS band{b}" for b in range(BANDS))
        + " FROM embeddings e), "
        "bk0 AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, embedding, {b} AS band, band{b} AS val FROM s"
            for b in range(BANDS)
        )
        + "), "
        "bkc AS (SELECT band, val FROM bk0 GROUP BY band, val "
        f"HAVING COUNT(*) <= {max_bucket}), "
        "bk AS (SELECT bk0.* FROM bk0 JOIN bkc USING (band, val)), "
        "cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2, "
        "a.embedding AS e1, b.embedding AS e2 FROM bk a JOIN bk b "
        "ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id), "
        "scored AS (SELECT d1, d2, "
        "  list_sum(list_transform(list_zip("
        "    list_transform(e1, x -> floor(CAST(x AS DOUBLE) * 1024)), "
        "    list_transform(e2, x -> floor(CAST(x AS DOUBLE) * 1024))), "
        "    p -> p[1] * p[2])) "
        "  / (sqrt(list_sum(list_transform(e1, x -> floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024)))) "
        "   * sqrt(list_sum(list_transform(e2, x -> floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024))))) AS sim "
        "FROM cand) "
        f"SELECT d1, d2, sim FROM scored WHERE sim * 100 >= {threshold_pct}"
    )


def ann_lsh_oracle_sql(n_queries: int, k: int) -> str:
    """The identical definition in ANSI SQL (DuckDB) over the embeddings
    view — bit-for-bit comparable with :func:`ann_lsh_topk`."""
    e_bands = _sig_sql_exprs(hyperplanes(), BANDS, "e")
    return (
        "WITH s AS (SELECT e.vec_id, e.embedding, "
        + ", ".join(f"{e_bands[b]} AS band{b}" for b in range(BANDS))
        + " FROM embeddings e), "
        "bk AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, embedding, {b} AS band, band{b} AS val FROM s"
            for b in range(BANDS)
        )
        + "), "
        f"qb AS (SELECT vec_id AS q_id, embedding AS q_emb, band, val FROM bk "
        f"WHERE vec_id < {n_queries}), "
        "cand AS (SELECT DISTINCT qb.q_id, qb.q_emb, bk.vec_id AS nbr_id, "
        "bk.embedding AS n_emb FROM bk JOIN qb ON bk.band = qb.band "
        "AND bk.val = qb.val AND bk.vec_id <> qb.q_id), "
        "scored AS (SELECT q_id, nbr_id, "
        "  list_sum(list_transform(list_zip("
        "    list_transform(q_emb, x -> floor(CAST(x AS DOUBLE) * 1024)), "
        "    list_transform(n_emb, x -> floor(CAST(x AS DOUBLE) * 1024))), "
        "    p -> p[1] * p[2])) "
        "  / (sqrt(list_sum(list_transform(q_emb, x -> floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024)))) "
        "   * sqrt(list_sum(list_transform(n_emb, x -> floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024))))) AS sim "
        "FROM cand) "
        f"SELECT q_id, rank, nbr_id, sim FROM ("
        f"SELECT q_id, nbr_id, sim, ROW_NUMBER() OVER ("
        f"PARTITION BY q_id ORDER BY sim DESC, nbr_id ASC) AS rank FROM scored) t "
        f"WHERE rank <= {k}"
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
    from pyspark.sql import Window

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
    scored = cand.select(
        "q_id", F.col(id_col).alias("nbr_id"), F.expr(nbr_sim).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "nbr_id", "sim")
    )


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
        + " AS sim FROM cand) "
        f"SELECT q_id, rank, nbr_id, sim FROM ("
        f"SELECT q_id, nbr_id, sim, ROW_NUMBER() OVER ("
        f"PARTITION BY q_id ORDER BY sim DESC, nbr_id ASC) AS rank FROM scored) t "
        f"WHERE rank <= {k}"
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


def _bucket_pairs(buckets: DataFrame, id_col: str,
                  max_bucket: int | None) -> DataFrame:
    """DISTINCT unordered candidate pairs (d1 < d2) from an LSH bucket
    table: the (id, band, val) rows materialize ONCE (eager checkpoint —
    the former lazy plan re-executed the 32-plane signature scan for every
    reference: cap sizes, both self-join sides), then the pairs come from
    a bucket SELF-JOIN on the checkpointed narrow table.

    The self-join — not in-bucket collect_list+explode — is deliberate:
    these LSH buckets are FAT by construction (a 4-bit band holds ~n/16 of
    the table), so in-bucket generation caps parallelism at the bucket
    count and serializes each bucket's c²/2 explode in one task (measured
    1.7x SLOWER at 10x scale), while the join's pair generation streams
    inside ordinary shuffle partitions with AQE skew-splitting as backstop.
    MinHash keeps the in-bucket form: its buckets are near-dup cliques
    bounded by a 1k cap, the opposite shape.

    ``max_bucket`` drops buckets above the cap (candidate volume is
    Σ_buckets c²; a degenerate mega-bucket would swamp the join). Dropped
    buckets cost recall, never correctness, and the SQL oracles replicate
    the identical bound (HAVING COUNT(*) <= cap) so results stay
    bit-reproducible."""
    bk = buckets.localCheckpoint(eager=True)
    if max_bucket is not None:
        sizes = bk.groupBy("band", "val").agg(
            F.count(F.lit(1)).alias("_bsz")
        ).filter(F.col("_bsz") <= max_bucket).drop("_bsz")
        bk = bk.join(sizes, ["band", "val"], "left_semi")
    right = bk.select(F.col(id_col).alias("_id2"), "band", "val")
    return (
        bk.join(right, ["band", "val"])
        .filter(F.col(id_col) < F.col("_id2"))
        .select(F.col(id_col).alias("d1"), F.col("_id2").alias("d2"))
        .distinct()
    )


def knn_graph(emb: DataFrame, k: int, id_col: str = "vec_id",
              emb_col: str = "embedding",
              max_bucket: int | None = 10_000) -> DataFrame:
    """kNN GRAPH over the whole embedding table — every vector's top-k
    most-similar LSH-bucket candidates by exact quantized cosine, the
    primitive under SemDeDup-style semantic dedup and kNN-graph
    clustering. Returns (q_id, rank, nbr_id, sim).

    Scale shape (the ``embed_cosine_dedup`` candidate dataflow + the
    ``ann_lsh_topk`` re-rank): one JVM signature pass, candidate
    generation as a bucket SELF-join on BARE IDS (embedding arrays never
    shuffle during candidate generation), per-row quantized arrays and
    norms computed once and joined back by id, dense top-k window per
    query. Candidacy is LSH-approximate exactly as ``ann_lsh_topk``
    (recall floor pytest-pinned there); the SQL oracle mirrors the same
    candidacy, so results are bit-reproducible.
    """
    planes = hyperplanes()
    sig = emb.select(F.col(id_col), *_sig_cols(emb_col, planes))
    buckets = sig.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("val"))
            for b in range(BANDS)
        ])).alias("bk"),
    ).select(id_col, "bk.band", "bk.val")
    # ONE signature pass (see _bucket_pairs — the former lazy plan scanned
    # the embedding table four times), parallel pair generation via the
    # checkpointed bucket self-join
    upairs = _bucket_pairs(buckets, id_col, max_bucket)
    qe = f"transform({emb_col}, x -> floor(CAST(x AS DOUBLE) * 1024D))"
    qv = emb.select(
        F.col(id_col),
        F.expr(qe).alias("qv"),
        F.expr(f"sqrt(aggregate({qe}, 0D, (a, v) -> a + v * v))").alias("nrm"),
    )
    # exact quantized cosine is SYMMETRIC, so each unordered pair is scored
    # once and the kNN graph's two orientations explode from the scored row
    # — half the re-rank joins and half the higher-order dot products of
    # the per-orientation form, bit-identical sim per direction
    scored_u = (
        upairs
        .join(qv.select(F.col(id_col).alias("d1"), F.col("qv").alias("v1"),
                        F.col("nrm").alias("n1")), "d1")
        .join(qv.select(F.col(id_col).alias("d2"), F.col("qv").alias("v2"),
                        F.col("nrm").alias("n2")), "d2")
        .withColumn("sim", F.expr(
            "aggregate(zip_with(v1, v2, (x, y) -> x * y), 0D, (a, v) -> a + v)"
            " / (n1 * n2)"
        ))
    )
    scored = scored_u.select(
        F.explode(F.array(
            F.struct(F.col("d1").alias("q_id"), F.col("d2").alias("nbr_id")),
            F.struct(F.col("d2").alias("q_id"), F.col("d1").alias("nbr_id")),
        )).alias("e"),
        "sim",
    ).select("e.q_id", "e.nbr_id", "sim")
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(),
                                           F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "nbr_id", "sim")
    )


def knn_graph_oracle_sql(k: int, max_bucket: int = 10_000) -> str:
    """The identical kNN-graph definition in ANSI SQL (DuckDB)."""
    e_bands = _sig_sql_exprs(hyperplanes(), BANDS, "e")
    return (
        "WITH s AS (SELECT e.vec_id, e.embedding, "
        + ", ".join(f"{e_bands[b]} AS band{b}" for b in range(BANDS))
        + " FROM embeddings e), "
        "bk0 AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, embedding, {b} AS band, band{b} AS val FROM s"
            for b in range(BANDS)
        )
        + "), "
        "bkc AS (SELECT band, val FROM bk0 GROUP BY band, val "
        f"HAVING COUNT(*) <= {max_bucket}), "
        "bk AS (SELECT bk0.* FROM bk0 JOIN bkc USING (band, val)), "
        "cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS nbr_id, "
        "a.embedding AS q_emb, b.embedding AS n_emb FROM bk a JOIN bk b "
        "ON a.band = b.band AND a.val = b.val AND a.vec_id <> b.vec_id), "
        "scored AS (SELECT q_id, nbr_id, "
        "  list_sum(list_transform(list_zip("
        "    list_transform(q_emb, x -> floor(CAST(x AS DOUBLE) * 1024)), "
        "    list_transform(n_emb, x -> floor(CAST(x AS DOUBLE) * 1024))), "
        "    p -> p[1] * p[2])) "
        "  / (sqrt(list_sum(list_transform(q_emb, x -> floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024)))) "
        "   * sqrt(list_sum(list_transform(n_emb, x -> floor(CAST(x AS DOUBLE) * 1024) * floor(CAST(x AS DOUBLE) * 1024))))) AS sim "
        "FROM cand) "
        f"SELECT q_id, rank, nbr_id, sim FROM ("
        f"SELECT q_id, nbr_id, sim, ROW_NUMBER() OVER ("
        f"PARTITION BY q_id ORDER BY sim DESC, nbr_id ASC) AS rank FROM scored) t "
        f"WHERE rank <= {k}"
    )
