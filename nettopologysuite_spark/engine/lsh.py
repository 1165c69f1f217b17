"""Locality-sensitive-hashing candidacy — the one candidate stage behind
MinHash near-duplicate pairs, embedding near-duplicate pairs, the kNN
graph and LSH ANN.

- ``band_buckets``: per-band signature columns → (id, band, sig) rows.
- ``bucket_pairs``: the distinct unordered pairs (d1 < d2) that share a
  bucket. It owns the hot-bucket cap and the dropped-bucket counter
  (``last_metrics``).

The bucket id lists materialize once (one eager checkpoint, which also
carries the counter's ``observe``) and the pairs come from a self-join of
the lists exploded back to rows, whose pair generation streams. Generating
each bucket's pairs from its own list instead (no join) measured level to
slower on every bucket size tried: see CHANGES.md.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

#: hot-bucket metrics of the last ``bucket_pairs`` call: dropped_buckets
#: (buckets over the cap) and max_bucket_size (largest bucket of ≥ 2 ids,
#: dropped or kept)
last_metrics: dict = {}


def band_buckets(df: DataFrame, id_col: str, bands: list[Column]) -> DataFrame:
    """(id, band, sig): one row per id and band, ``band`` the band's index
    in ``bands`` and ``sig`` its value."""
    return df.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), c.alias("sig"))
            for b, c in enumerate(bands)
        ])).alias("_bk"),
    ).select(id_col, "_bk.band", "_bk.sig")


def _observed(obs: Observation) -> dict:
    """The observation's metrics, or {} when the observed node never ran.

    Relies on classic (non-Connect) PySpark 4.1: adaptive execution prunes
    a subtree it has seen to be empty, observed node included, and the
    JVM observation then holds an empty row, which ``Observation.get``
    fails to convert (``PythonSQLUtils.toPyRow: assertion failed``).
    ``Observation.get`` reads the same ``_jo`` handle; the empty-input
    cases of ``tests/test_lsh_degenerate.py`` pin this behaviour."""
    return obs.get if obs._jo.getRow().length() else {}


def bucket_pairs(buckets: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """Distinct candidate pairs (d1, d2), d1 < d2, of ids sharing a bucket
    of ``buckets`` (id, band, sig).

    Buckets of more than ``max_bucket`` rows are dropped: candidate volume
    is Σ c² over buckets, and one degenerate bucket would swamp it. A
    dropped bucket costs recall, never correctness, and the SQL oracles
    replicate the same rule (``HAVING COUNT(*) <= cap``). The drops are
    counted by an ``observe`` on the eager checkpoint of the bucket lists,
    so the counter costs no extra Spark job, and ``last_metrics`` is set
    before this function returns."""
    obs = Observation()
    size = F.size("ids")
    lists = (
        buckets.groupBy("band", "sig")
        .agg(F.collect_list(id_col).alias("ids"))
        .where(size > 1)
        .observe(
            obs,
            F.count(F.when(size > max_bucket, 1)).alias("dropped_buckets"),
            F.max(size).alias("max_bucket_size"),
        )
        .where(size <= max_bucket)
        .localCheckpoint(eager=True)
    )
    # no bucket at all leaves the maximum NULL, or the whole row unset
    m = {"dropped_buckets": 0, "max_bucket_size": 0}
    m.update((k, v) for k, v in _observed(obs).items() if v is not None)
    last_metrics.clear()
    last_metrics.update(m)
    if m["dropped_buckets"]:
        log.warning(
            "lsh: dropped %s bucket(s) over max_bucket=%s (largest bucket: %s ids)",
            m["dropped_buckets"], max_bucket, m["max_bucket_size"],
        )
    # both join sides are the same plan, so a shuffle on (band, sig) runs
    # once and the other side reuses it; renaming a side before the join
    # made the two plans differ and shuffled the rows twice
    rows = lists.select("band", "sig", F.explode("ids").alias("d"))
    left, right = rows.alias("l"), rows.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band")) & (F.col("l.sig") == F.col("r.sig")),
    ).select(F.col("l.d").alias("d1"), F.col("r.d").alias("d2"))
    # the self-join yields both orders and self-pairs; the oracles pair
    # d1 < d2 only
    return pairs.where(F.col("d1") < F.col("d2")).select("d1", "d2").distinct()
