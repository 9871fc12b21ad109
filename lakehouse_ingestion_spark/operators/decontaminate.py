"""Train/eval decontamination — flag training documents that share word
n-grams with a held-out evaluation set.

The standard training-data hygiene pass (GPT-3 appendix C / PaLM-style):
an eval example "contaminates" a training document when enough of its
n-grams appear verbatim in the document. At 100 TB the asymmetry is the
whole design: the eval set is tiny (thousands of examples) and the train
side is the corpus, so the eval n-gram set broadcasts to every executor
and the corpus is touched exactly once — explode its distinct shingles,
hash-join against the broadcast set map-side, and aggregate per doc_id
(partial counts collapse before the one shuffle). Nothing scales with
|eval| x |train|.

Shingling reuses ``functions.similarity.shingles`` (the near-dup basis),
so one tokenization definition serves dedup, Jaccard verification, and
decontamination — and the DuckDB oracle mirror already exists for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.functions.similarity import shingles


def eval_ngram_set(
    eval_df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word-n-gram set of the eval corpus: one column
    ``shingle``. Small by contract (eval sets are human-curated);
    callers broadcast it."""
    return (
        eval_df.select(F.explode(shingles(text_col, n)).alias("shingle"))
        .distinct()
    )


def eval_ngram_pairs(
    eval_df: DataFrame,
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    n: int = 3,
) -> DataFrame:
    """Distinct (eval_id, shingle) pairs of the eval corpus — the shared
    eval-side index for a pipeline that runs BOTH hygiene passes (r13,
    guide §2.3): build it once (materialize/checkpoint it), hand it to
    ``contamination_report(eval_ngrams=...)`` as-is and to
    ``decontaminate(eval_ngrams=pairs.select("shingle").distinct())``,
    and the eval set is exploded+deduped once per run instead of once
    per operator call."""
    return (
        eval_df.select(
            F.col(eval_id_col).alias("eval_id"),
            F.explode(shingles(text_col, n)).alias("shingle"),
        ).distinct()
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: int = 2,
    eval_ngrams: DataFrame | None = None,
) -> DataFrame:
    """Per training document: how many of its distinct n-grams appear in
    the eval set (``n_overlap``) and whether that crosses ``threshold``
    (``contaminated`` — drop or downweight these before training).

    Every training doc appears in the output (n_overlap = 0 when clean):
    the follow-up filter is the caller's policy decision, and silent row
    loss in a hygiene pass is how eval leakage survives review.

    ``eval_ngrams``: optional precomputed distinct-``shingle`` frame
    (``eval_ngram_set``'s output, or ``eval_ngram_pairs(...).select
    ("shingle").distinct()``) so a run that also builds
    ``contamination_report`` explodes the eval set ONCE (r13, guide
    §2.3). Must match ``eval_ngram_set(eval_df, text_col, n)`` exactly
    or the overlap counts change; any column besides ``shingle`` (the
    ``(eval_id, shingle)`` pairs frame, say) raises, since every extra
    row per shingle would count as one more overlap.
    """
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    if eval_ngrams is not None and eval_ngrams.columns != ["shingle"]:
        raise ValueError(
            "eval_ngrams must be the distinct-shingle frame (columns "
            f"['shingle']), got {eval_ngrams.columns}"
        )
    ev = F.broadcast(
        eval_ngrams
        if eval_ngrams is not None
        else eval_ngram_set(eval_df, text_col, n)
    )
    hits = (
        train.select(id_col, F.explode(shingles(text_col, n)).alias("shingle"))
        .join(ev, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    n: int = 3,
    threshold: int = 2,
    eval_ngrams: DataFrame | None = None,
) -> DataFrame:
    """Per EVAL EXAMPLE contamination audit — the other direction of
    :func:`decontaminate` (GPT-3 appendix C reports contamination per
    benchmark, not per training doc): for each eval example, how many
    training documents collide with it and how badly.

    Returns one row per eval example:

    - ``n_dirty_docs``: training docs sharing >= ``threshold`` distinct
      n-grams with THIS example (the docs a clean-eval rerun would drop);
    - ``n_hit_docs``: training docs sharing >= 1 n-gram (the loose
      upper bound reviewers ask about);
    - ``max_overlap``: the worst single document's distinct-n-gram
      overlap with this example — "is this a verbatim copy or a stock
      phrase?".

    Every eval example appears (zeros when clean): a hygiene report that
    silently drops clean rows cannot certify the benchmark.

    Scale: identical asymmetry to :func:`decontaminate` — the
    per-example n-gram frame is eval-sized and broadcasts; the corpus is
    exploded ONCE and hash-joined map-side; the (eval_id, doc) overlap
    aggregate is bounded by actual collisions, and the final per-example
    rollup is eval-sized.  Nothing scales with |eval| x |train|.

    ``eval_ngrams``: optional precomputed (eval_id, shingle) pairs frame
    (``eval_ngram_pairs``'s output) — see :func:`decontaminate`.
    """
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    ev = F.broadcast(
        eval_ngrams
        if eval_ngrams is not None
        else eval_ngram_pairs(eval_df, text_col, eval_id_col, n)
    )
    per_doc = (
        train.select(id_col, F.explode(shingles(text_col, n)).alias("shingle"))
        .join(ev, "shingle")
        .groupBy("eval_id", id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    rolled = per_doc.groupBy("eval_id").agg(
        F.sum((F.col("n_overlap") >= threshold).cast("long")).alias(
            "n_dirty_docs"
        ),
        F.count(F.lit(1)).alias("n_hit_docs"),
        F.max("n_overlap").alias("max_overlap"),
    )
    # both sides of the presentation join are eval-sized; broadcasting
    # the rollup keeps the join shuffle-free (the statistics are opaque
    # to Catalyst behind the aggregate, so hint it)
    return (
        eval_df.select(F.col(eval_id_col).alias("eval_id"))
        .join(F.broadcast(rolled), "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce("n_dirty_docs", F.lit(0).cast("long")).alias(
                "n_dirty_docs"
            ),
            F.coalesce("n_hit_docs", F.lit(0).cast("long")).alias(
                "n_hit_docs"
            ),
            F.coalesce("max_overlap", F.lit(0).cast("long")).alias(
                "max_overlap"
            ),
        )
    )
