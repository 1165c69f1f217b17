"""Structured Streaming forms of the tiling + dedup operators.

The reference is batch/in-memory (SURVEY §2.8: streaming entirely absent),
but a training-data pipeline ingests continuously; these are the streaming
re-expressions of the engine's two cheapest-to-state operators, built on
the SAME kernels/expressions as the batch paths so batch and stream agree:

- ``stream_tile_counts``: event-time windowed per-cell counts over a file
  stream of point rows. Tile assignment is the identical codegen projection
  as the batch ``tiling.cell_col``; the window + watermark bound state (late
  rows beyond the watermark are dropped — the documented trade; at 100 TB
  the analog is a Kafka source with the same plan).
- ``stream_dedup_docs``: streaming exact dedup — ``dropDuplicates`` on the
  content hash with a watermark so the dedup state ages out instead of
  growing forever (the streaming form of ``engine/dedup.exact_dedup``;
  within the watermark horizon duplicates are suppressed exactly).

Both run off any file-source directory (parquet), checkpoint to a caller
directory, and resume incrementally from the checkpoint's offset log —
pytest restarts a query over a grown source dir and checks only the delta
was read (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..kernels.cells import Grid
from ..engine.tiling import cell_col


def _await_or_raise(q, timeout_s: int) -> None:
    """awaitTermination returns False on timeout with the query STILL
    RUNNING — silently returning then would hand back a partial sink and
    leave an orphan holding the checkpoint. Stop it and fail loudly."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming drain exceeded {timeout_s}s; query stopped, sink partial"
        )


def stream_tile_counts(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str,
    grid: Grid,
    ts: str = "ts",
    x: str = "x",
    y: str = "y",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-(event-time window, cell) counts over a streaming point source.

    The watermark caps aggregation state: a window finalizes once event
    time passes its end + watermark, and later-arriving rows for it are
    dropped. ``update``/``append`` output modes both work; the pytest gate
    uses availableNow + update for deterministic batch-equivalence."""
    src = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withColumn("cell_id", cell_col(grid, x, y))
        .withWatermark(ts, watermark)
    )
    return src.groupBy(F.window(F.col(ts), window), F.col("cell_id")).agg(
        F.count("*").alias("n")
    ).select(
        F.col("window.start").alias("w_start"), "cell_id", "n"
    )


def stream_tile_assign(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str,
    grid: Grid,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Stateless streaming tile assignment — the identical codegen cell
    projection as the batch path, over a file stream. Pairs with a file
    sink + checkpoint for exactly-once incremental ingest (the resume
    gate): a restarted query replays from the committed source offsets and
    writes only the delta."""
    return (
        spark.readStream.schema(schema).parquet(src_dir)
        .withColumn("cell_id", cell_col(grid, x, y))
    )


def run_to_parquet(stream_df: DataFrame, out_dir: str, checkpoint_dir: str,
                   timeout_s: int = 120) -> None:
    """Drain available input into a parquet file sink (exactly-once via the
    checkpoint's offset + commit logs), then stop."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_s)


def stream_dedup_docs(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str,
    ts: str = "ts",
    text_col: str = "text",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content hash within
    the watermark horizon passes through; subsequent duplicates are
    suppressed. State is keyed by (hash) and aged out by the watermark —
    bounded memory at any stream length."""
    src = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withColumn("_h", F.md5(F.col(text_col)))
        .withWatermark(ts, watermark)
    )
    return src.dropDuplicatesWithinWatermark(["_h"]).drop("_h")


def stream_cell_envelopes(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str,
    grid: Grid,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Custom stateful streaming operator: per-cell RUNNING envelope +
    count via ``applyInPandasWithState`` — the streaming form of the batch
    ``envelope_agg`` (EnvelopeCombiner analog), with explicit keyed state
    the built-in windowed aggregates cannot express (state is the running
    min/max over the whole stream, not per window; emission is one updated
    row per cell per micro-batch).

    State per key is five doubles — bounded by the number of distinct
    cells, not the stream length. For state expiry on idle cells, swap
    ``NoTimeout`` for ``ProcessingTimeTimeout`` and emit+clear on timeout;
    the pytest gate uses the running form for batch-equivalence."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = 0
        minx = miny = float("inf")
        maxx = maxy = float("-inf")
        if state.exists:
            n, minx, miny, maxx, maxy = state.get
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            minx = min(minx, float(pdf[x].min()))
            miny = min(miny, float(pdf[y].min()))
            maxx = max(maxx, float(pdf[x].max()))
            maxy = max(maxy, float(pdf[y].max()))
        state.update((n, minx, miny, maxx, maxy))
        yield pd.DataFrame(
            {"cell_id": [key[0]], "n": [n], "minx": [minx], "miny": [miny],
             "maxx": [maxx], "maxy": [maxy]}
        )

    src = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withColumn("cell_id", cell_col(grid, x, y))
    )
    return src.groupBy("cell_id").applyInPandasWithState(
        update,
        outputStructType="cell_id long, n long, minx double, miny double, "
                         "maxx double, maxy double",
        stateStructType="n long, minx double, miny double, maxx double, maxy double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_updates_to_parquet(stream_df: DataFrame, out_dir: str,
                           checkpoint_dir: str, timeout_s: int = 120) -> None:
    """Drain an UPDATE-mode stream (e.g. a stateful operator's emissions)
    through ``foreachBatch`` into parquet, one ``batch=<id>`` partition
    directory per micro-batch — the recoverable update-mode sink (the
    plain file sink is append-only; memory sinks cannot recover).

    foreachBatch alone is at-least-once: a crash between the data write
    and the commit-log record makes the restart REPLAY that batch. The
    deterministic per-batch directory + ``overwrite`` makes the replay
    idempotent (it rewrites the same partition), restoring exactly-once
    output; keyed state is restored from the checkpoint's state store."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_s)


def run_available_now(stream_df: DataFrame, checkpoint_dir: str,
                      output_mode: str = "update", timeout_s: int = 120) -> list:
    """Drain everything currently available into an in-memory sink and
    return the rows — the deterministic test/driver harness for the
    streaming operators (processes all pending files in micro-batches,
    commits offsets to ``checkpoint_dir``, then stops; a later call resumes
    from those offsets and reads only new files)."""
    import uuid

    name = "s" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_s)
    spark = stream_df.sparkSession
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    # the memory sink holds a full result copy per query name for the
    # session's lifetime — drop it so repeated drains don't accumulate
    spark.catalog.dropTempView(name)
    return rows


def stream_stream_tile_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    schema: StructType | str,
    grid: Grid,
    ts: str = "ts",
    x: str = "x",
    y: str = "y",
    id_col: str = "pid",
    join_interval: str = "1 minute",
    watermark: str = "2 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream spatial join: two point streams equi-joined on their
    grid cell, with an event-time band |r.ts − l.ts| ≤ ``join_interval``.

    The tile assignment is the identical codegen projection as the batch
    path, so a cell match is exactly the batch join's blocking step. Both
    sides carry watermarks and the join condition carries the time band —
    together they bound the state store: a buffered row is evictable once
    the other side's watermark passes its timestamp + interval (Spark's
    stream-stream inner-join state cleanup), giving O(rate × horizon)
    state at any stream length instead of unbounded buffering.

    ``max_files_per_trigger`` throttles the file source (one micro-batch
    per file batch) — used by the state-bound gate to force watermark
    progression across micro-batches.
    """

    def _side(src: str, tag: str) -> DataFrame:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return (
            reader.parquet(src)
            .withColumn("cell_id", cell_col(grid, x, y))
            .select(
                F.col(id_col).alias(f"{tag}_{id_col}"),
                F.col(ts).alias(f"{tag}_ts"),
                F.col("cell_id").alias(f"{tag}_cell"),
            )
            .withWatermark(f"{tag}_ts", watermark)
        )

    lt = _side(left_dir, "l")
    rt = _side(right_dir, "r")
    cond = (
        (F.col("l_cell") == F.col("r_cell"))
        & (F.col("r_ts") >= F.expr(f"l_ts - INTERVAL {join_interval}"))
        & (F.col("r_ts") <= F.expr(f"l_ts + INTERVAL {join_interval}"))
    )
    return (
        lt.join(rt, cond, "inner")
        .select(
            F.col(f"l_{id_col}"), F.col(f"r_{id_col}"),
            F.col("l_cell").alias("cell_id"), "l_ts", "r_ts",
        )
    )


def stream_pip_join(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str,
    pack,
    grid: Grid,
    predicate: str = "covers",
    x: str = "x",
    y: str = "y",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-static spatial ENRICHMENT join: a point stream against the
    broadcast polygon pack — ``engine.joins.pip_join_points`` applied to
    the stream reader, the most common ingest shape (tag each arriving
    event with its containing zones). Stateless: the tile-assign
    projection, broadcast cover relation and exact refine (native for a
    convex pack, the prepared-PIP UDF otherwise) are the batch path's own,
    so batch and stream agree row-for-row (pytest gate), and a restart
    resumes from the source offsets with no state store at all."""
    from ..engine.joins import pip_join_points

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return pip_join_points(reader.parquet(src_dir), pack, grid, predicate, x, y)


def stream_near_dedup(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str,
    ts: str = "ts",
    text_col: str = "text",
    watermark: str = "10 minutes",
    num_hashes: int = 16,
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: the first document of each
    MinHash-LSH bucket within the watermark horizon passes; later
    bucket-mates (near-duplicates) are suppressed.

    The signature is computed STATELESSLY in-row — the doc's word-bigram
    set from ``dedup.word_bigram_set`` (the batch shingling), Kirsch–
    Mitzenmacher double hashing (two xxhash64 bases + i·h2 adds, exactly
    the batch ``minhash_lsh_pairs`` functions), ``array_min`` per
    function — so the only stateful operator is the built-in
    watermark-bounded dedup on the single-band bucket key. Single-band
    identity is the streaming trade: recall tunes with ``num_hashes`` (all
    r rows must match), and the batch multi-band + exact-verify pipeline
    remains the offline sweep; state is one entry per distinct bucket
    inside the watermark — bounded regardless of stream length.
    """
    from ..engine.dedup import word_bigram_set

    P = (1 << 31) - 1
    src = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withColumn("_ws", F.split(F.trim(F.col(text_col)), r"\s+"))
        .withColumn("_grams", word_bigram_set("_ws"))
        .withColumn("_h1", F.transform(F.col("_grams"),
                                       lambda g: F.pmod(F.xxhash64(g), F.lit(P))))
        .withColumn("_h2", F.transform(F.col("_grams"),
                                       lambda g: F.pmod(F.xxhash64(F.lit(1), g), F.lit(P))))
    )
    sig_cols = [
        F.array_min(
            F.zip_with(
                F.col("_h1"), F.col("_h2"),
                lambda a, b: F.pmod(a + F.lit(i) * b, F.lit(P)),
            )
        )
        for i in range(num_hashes)
    ]
    src = src.withColumn("_bucket", F.xxhash64(*sig_cols)).withWatermark(ts, watermark)
    return src.dropDuplicatesWithinWatermark(["_bucket"]).drop(
        "_ws", "_grams", "_h1", "_h2", "_bucket"
    )
