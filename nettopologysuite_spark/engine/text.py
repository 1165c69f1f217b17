"""Text-analysis operators (all native Spark expressions, JVM-side).

- quality scoring: length / punctuation / stopword / token ratios
- language-ID: stopword-hit heuristic with deterministic arg-max
- fingerprinting: normalized-text hash
- token counting: whitespace tokenization (BPE-ish regex variant included)

Each has an ANSI-SQL twin in ``__spark_entry__.oracle_sql`` computing
bit-identical values (integer counts, exact dyadic ratios).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LANG_MARKERS = {
    "en": ["the", "and"],
    "de": ["der", "und"],
    "fr": ["le", "et"],
    "es": ["el", "y"],
}


def widen_input(df: DataFrame, threshold_div: int = 1) -> DataFrame:
    """Raise the parallelism of a narrow-file scan before CPU-heavy per-row
    stages (shingle explodes, hashing, decode): a small corpus arrives as
    one or two scan partitions, which serializes the whole map side in one
    task regardless of core count. Conditional and scale-adaptive: inputs
    that already carry at least target/``threshold_div`` partitions pass
    through untouched (the 100 TB case, where a re-shuffle would be a real
    cost). ``threshold_div`` > 1 is for stages whose per-row work is cheap
    and vectorized (e.g. fixed-length WKB assembly): there the exchange
    only pays for itself against a truly degenerate 1-2-partition scan —
    measured at 1 scan partition (win) and ~10 scan partitions (loss) on
    the within-distance geometry join."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, target // threshold_div):
        return df
    return df.repartition(target)


def _words_col(text_col: str):
    """ONE tokenization pass shared by every marker count: split on
    whitespace (the per-marker REPLACE-scan pattern re-read the full text
    once per marker — 16 scans across lang_id + doc_quality)."""
    t = F.col(text_col)
    return F.split(F.trim(t), r"\s+")


def _marker_count(words, targets: list[str]):
    """Number of tokens equal to any target word — a JVM higher-order
    filter over the already-split array, no further text traffic."""
    return F.size(F.filter(words, lambda w: w.isin(*targets))).cast("long")


# BPE-ish pre-tokenization: letter runs, digit runs, single non-alnum marks
# (the RE2-safe core of GPT-2's split pattern — no lookahead, portable to
# DuckDB's regexp engine for the oracle)
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def doc_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc char/token/punctuation counts (the token-counting operator):
    whitespace tokens + BPE-ish subtoken count."""
    t = F.col(text_col)
    n_tokens = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )
    return docs.select(
        id_col,
        F.length(t).alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[.!?,;]", ""))).alias("n_punct"),
        F.regexp_count(t, F.lit(BPE_TOKEN_RE)).cast("long").alias("n_subtokens"),
    )


def doc_quality(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = F.col(text_col)
    n_tokens = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.col("_words"))
    )
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[.!?,;]", ""))
    all_markers = [m for ms in LANG_MARKERS.values() for m in ms]
    n_stop = _marker_count(F.col("_words"), all_markers)
    return docs.withColumn("_words", _words_col(text_col)).select(
        id_col,
        F.length(t).alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
        # exact dyadic-safe score: integer counts only
        (n_tokens * 1000 + n_stop * 10 - n_punct).alias("quality_i"),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic stopword-count argmax with fixed tiebreak order."""
    scores = {
        lang: _marker_count(F.col("_words"), ms)
        for lang, ms in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    out = docs.withColumn("_words", _words_col(text_col)).select(
        id_col, *[scores[l].alias(f"sc_{l}") for l in langs]
    )
    return out.withColumn(
        "lang_pred",
        F.when(sum(F.col(f"sc_{l}") for l in langs) == 0, F.lit("und")).otherwise(
            _argmax_expr(langs)
        ),
    )


def _argmax_expr(langs):
    best = F.lit(langs[0])
    best_score = F.col(f"sc_{langs[0]}")
    for lang in langs[1:]:
        cond = F.col(f"sc_{lang}") > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, F.col(f"sc_{lang}")).otherwise(best_score)
    return best


def doc_fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonicalized-content fingerprint: lowercase, collapse whitespace, md5."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return docs.select(id_col, F.md5(F.trim(norm)).alias("fingerprint"))


def sample_per_source(docs: DataFrame, k: int,
                      id_col: str = "doc_id",
                      strat_col: str = "source") -> DataFrame:
    """Deterministic stratified sample: the k smallest md5(id) per stratum —
    the exact-reproducible "reservoir" every training-data pipeline needs
    (re-running the pipeline, or any other engine, draws the SAME sample).
    One shuffle on the stratum key; rank arithmetic is a window over each
    stratum, never a global sort."""
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(strat_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        docs.withColumn("smp_rank", F.row_number().over(w))
        .filter(F.col("smp_rank") <= k)
        .select(id_col, strat_col, "smp_rank")
    )


def length_quantiles(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     strat_col: str = "source") -> DataFrame:
    """EXACT per-stratum length quantiles (nearest-rank definition:
    value at rank ⌈p·n⌉, ties broken by id) — the corpus-profiling
    aggregate behind length filtering. percentile_approx would differ
    between engines; rank selection is bit-reproducible. One shuffle +
    one window pass."""
    from pyspark.sql import Window

    ln = F.length(F.col(text_col)).alias("_len")
    w = Window.partitionBy(strat_col).orderBy(F.col("_len").asc(),
                                              F.col(id_col).asc())
    ranked = (
        docs.select(strat_col, id_col, ln)
        .withColumn("_rn", F.row_number().over(w))
    )
    picks = {p: F.expr(f"CAST(({p} * _n + 99) DIV 100 AS BIGINT)")
             for p in (50, 90, 99)}
    counted = ranked.withColumn(
        "_n", F.count("*").over(Window.partitionBy(strat_col))
    )
    return (
        counted.groupBy(strat_col)
        .agg(
            F.max("_n").alias("n_docs"),
            *[
                F.max(F.when(F.col("_rn") == picks[p], F.col("_len")))
                .alias(f"p{p}")
                for p in (50, 90, 99)
            ],
        )
        .select(strat_col, "n_docs", "p50", "p90", "p99")
    )


def word_ngrams(docs: DataFrame, n: int = 3, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(_id, gram) DISTINCT word n-grams — native split/transform/explode.
    Texts shorter than n words contribute their whole token string as one
    gram (so every doc participates).

    Fused index-explode form (no per-row array of gram strings — the same
    Generate+Project fusion as the dedup shingles). NOT widened: the
    token-level explode here is cheap enough that the extra repartition
    measured slower on the decontaminate pipeline (r6 A/B: 0.9-1.1 s fused
    vs 1.3-1.6 s fused+widen warm at sf0.1)."""
    concat_expr = " || ' ' || ".join(f"_ws[_i + {j}]" for j in range(n))
    return (
        # NULL text has no grams (the index sequence below would still
        # yield one NULL gram for it)
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_ws"),
        )
        .select(
            "_id", "_ws",
            F.explode(
                F.expr(f"sequence(0, greatest(size(_ws) - {n}, 0))")
            ).alias("_i"),
        )
        .select(
            "_id",
            F.expr(
                f"CASE WHEN size(_ws) < {n} THEN array_join(_ws, ' ') "
                f"ELSE {concat_expr} END"
            ).alias("gram"),
        )
        .distinct()
    )


def doc_repetition(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Repetition-quality markers in the Gopher / MassiveText style (Rae
    et al. 2021, App. A quality heuristics): per document, the duplicate-
    word fraction and the top-bigram fraction, as EXACT integer parts-per-
    million (floor), so an external SQL engine reproduces them bit-for-bit.

    Zero-shuffle design: both markers compute INSIDE one JVM row
    projection — ``array_distinct`` for the duplicate-word count, and the
    top-bigram multiplicity as the longest run of equal adjacent elements
    in the SORTED bigram array, folded with a single ``aggregate`` lambda.
    No explode, no groupBy: at 100 TB the marker pass is a pure map over
    the corpus (the gram-explode formulation pays an n_tokens× row blowup
    plus a shuffle for the same numbers).
    """
    # the token array materializes in ITS OWN projection, referenced many
    # times below — CollapseProject keeps multi-referenced non-cheap
    # aliases, so split() runs once per row. Referencing the raw split
    # expression inside a transform() lambda instead re-evaluates the
    # split PER ELEMENT (measured 4.1 s vs 0.35 s for the bigram pass at
    # sf0.1 — the classic higher-order-function O(n²) trap).
    docs = docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_ws")
    )
    words = F.col("_ws")
    n = F.size(words)
    d = F.size(F.array_distinct(words))
    dup_ppm = F.when(n > 0, ((n - d).cast("long") * F.lit(1000000))
                     .cast("long") / n).otherwise(F.lit(0))
    dup_ppm = F.floor(dup_ppm).cast("long")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, n - 1), F.slice(words, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sb = F.array_sort(bigrams)
    best = F.aggregate(
        sb,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    top_ppm = F.when(
        n >= 2, F.floor(best.cast("long") * F.lit(1000000) / (n - 1))
    ).otherwise(F.lit(0)).cast("long")
    return docs.select(
        id_col,
        n.cast("long").alias("n_words"),
        dup_ppm.alias("dup_word_ppm"),
        top_ppm.alias("top_bigram_ppm"),
    )


def pack_sequences(docs: DataFrame, ctx_len: int = 256,
                   text_col: str = "text", id_col: str = "doc_id",
                   bucket_width: int = 4096) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM pretraining
    data layout: documents are concatenated in deterministic ``id`` order
    into one global token stream, which is cut into fixed-``ctx_len``
    training chunks; a document crossing a chunk boundary is split.

    Returns one row per (chunk, doc) intersection:
    (chunk_id, doc_id, tok_start, tok_end, chunk_pos) with token indices
    half-open within the doc and ``chunk_pos`` the doc's start offset
    inside the chunk — exactly what an example-assembly pass consumes.

    Scale shape: the global running offset is NOT a single-partition
    ``Window.orderBy`` over the corpus (the classic packing anti-pattern —
    one reducer sees every row). It is a two-level prefix sum: docs bucket
    by ``id DIV bucket_width`` (order-preserving ranges), per-bucket token
    totals prefix-sum on a bounded frame (#buckets rows), and the
    within-bucket cumsum runs as a partitioned window — every stage
    parallel, one bounded broadcast back. Chunk fan-out is a native
    ``sequence()`` explode. Zero Python.
    """
    from pyspark.sql import Window

    t = F.trim(F.col(text_col))
    n_tok = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")
    d = docs.select(F.col(id_col).alias("_id"), n_tok.alias("_n")).withColumn(
        "_b", F.expr(f"_id DIV {bucket_width}")
    )
    btot = d.groupBy("_b").agg(F.sum("_n").alias("_bt"))
    bprefix = btot.withColumn(
        "_boff",
        F.coalesce(
            F.sum("_bt").over(
                Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_b", "_boff")
    local = Window.partitionBy("_b").orderBy("_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        d.withColumn("_loff", F.coalesce(F.sum("_n").over(local), F.lit(0)))
        .join(F.broadcast(bprefix), "_b")
        .withColumn("_off", F.col("_boff") + F.col("_loff"))
    )
    C = F.lit(ctx_len).cast("long")
    spans = (
        off.filter(F.col("_n") > 0)
        .withColumn(
            "chunk_id",
            F.explode(
                F.sequence(
                    F.expr(f"_off DIV {ctx_len}"),
                    F.expr(f"(_off + _n - 1) DIV {ctx_len}"),
                )
            ),
        )
    )
    return spans.select(
        F.col("chunk_id").cast("long"),
        F.col("_id").alias(id_col),
        F.greatest(F.lit(0).cast("long"),
                   F.col("chunk_id") * C - F.col("_off")).alias("tok_start"),
        F.least(F.col("_n"),
                (F.col("chunk_id") + 1) * C - F.col("_off")).alias("tok_end"),
        F.greatest(F.lit(0).cast("long"),
                   F.col("_off") - F.col("chunk_id") * C).alias("chunk_pos"),
    )


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 3,
                  threshold_pct: int = 30, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: per corpus doc, the count and share of
    its distinct word n-grams that appear ANYWHERE in the benchmark set —
    the standard eval-leak filter before training. Returns
    (doc_id, n_grams, n_contaminated, flagged) with the flag in exact
    integer arithmetic (contaminated·100 ≥ threshold·total).

    Shape at 100 TB: the benchmark gram vocabulary is tiny relative to the
    corpus → distinct once, broadcast; the corpus grams stream through one
    explode + broadcast semi-probe + per-doc aggregate — a single shuffle
    on doc_id."""
    bgrams = (
        word_ngrams(bench, n, text_col, id_col)
        .select("gram").distinct()
        .withColumn("_hit", F.lit(1))
    )
    grams = word_ngrams(docs, n, text_col, id_col)
    marked = grams.join(F.broadcast(bgrams), "gram", "left")
    return (
        marked.groupBy("_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_contaminated"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_grams"),
            F.col("n_contaminated"),
            (F.col("n_contaminated") * 100 >= F.col("n_grams") * threshold_pct)
            .alias("flagged"),
        )
    )
