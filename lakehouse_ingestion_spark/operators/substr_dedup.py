"""Exact-substring duplication analysis (ExactSubstr-style).

"Deduplicating Training Data Makes Language Models Better" (Lee et
al., ACL 2022) shows that repeated SUBSTRINGS — not just whole
near-duplicate documents — measurably hurt LMs, and dedups at the
50-token-span level with a suffix array. A distributed suffix array is
the wrong tool on Spark; the same spans fall out of shingle algebra:

1. explode k-token shingles WITH POSITION (map-only; one row per
   token, ~k× the token count in shuffle bytes only for the 8-byte
   ``xxhash64`` of each shingle, never the text);
2. count shingle-hash occurrences corpus-wide — ONE shuffle,
   map-side partial aggregation, and frequency skew (the classic
   boilerplate shingle) partial-aggregates before it moves;
3. a shingle occurring ≥ 2 times anywhere marks its k-token span
   duplicated; join the (tiny) duplicated-hash set back and merge
   overlapping spans per document with gaps-and-islands windowing —
   the window is per-document (keyed shuffle, bounded partitions),
   never global.

Output is an AUDIT frame (span counts + duplicated-token fraction per
doc), not a rewrite: curation pipelines threshold or strip on it, and
the span bounds are exact so a downstream ``substring`` cut can remove
precisely the duplicated text.

``ngram_novelty`` reuses the same shingle pass for the cumulative
corpus-redundancy curve: for each document, the fraction of its
distinct shingles never seen in any earlier document (by id order) —
the standard "how much new text does each increment add" curation
statistic.

100-TB posture: two shuffles for spans (count, per-doc window); for
novelty one pair-distinct, one shingle-keyed introducer pass (partial-
aggregated + AQE-skew-split join by default), one per-doc aggregate —
the exploded corpus is traversed ONCE; all keys high-cardinality;
nothing driver-sized; hash collisions (64-bit) are ~n²/2⁶⁵ false
duplicate marks — negligible and conservative (flags, never deletes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..util import maybe_round


def _doc_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, pos, sh) rows: 64-bit hash of each k-token shingle at token
    position ``pos`` (0-based). Docs shorter than k yield no rows.

    Formulation: posexplode the tokens (generated codegen — CHEAPER
    than materializing the token array as a row), then k-1 ``lead``
    expressions over one per-doc window compose each shingle, hashed
    with a single multi-arg ``xxhash64``. Measured at sf1 against two
    array-side alternatives: a ``transform(sequence(...))`` lambda that
    slices the token array re-evaluates the tokenization PER POSITION
    (HOF lambdas sit outside common-subexpression elimination; 69 s),
    and the chained ``zip_with`` shingle idiom pays ~3 s of interpreted
    HOF machinery vs ~2 s for this explode+lead shape — which also
    leaves the output partitioned AND sorted by (doc, pos), exactly
    what ``duplicated_spans``'s per-doc span windows reuse."""
    if k < 1:
        raise ValueError(f"shingle size k must be >= 1, got {k}")
    tk = tokens(F.lower(F.col(text_col)))
    out = df.select(F.col(id_col), F.posexplode(tk).alias("pos", "__w0"))
    w = Window.partitionBy(id_col).orderBy("pos")
    cols = [F.col("__w0")]
    for off in range(1, k):
        out = out.withColumn(f"__w{off}", F.lead("__w0", off).over(w))
        cols.append(F.col(f"__w{off}"))
    if k > 1:
        # the longest lead is null iff the shingle would run off the
        # doc's end (shorter leads are then null too)
        out = out.where(cols[-1].isNotNull())
    return out.select(id_col, "pos", F.xxhash64(*cols).alias("sh"))


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
    pin: bool = False,
) -> DataFrame:
    """Per-document maximal duplicated spans (token ranges).

    A position opens a duplicated k-token window iff its shingle occurs
    at least ``min_occurrences`` times corpus-wide (within-document
    repeats count — a doc that repeats itself is duplication too, per
    ExactSubstr). Overlapping/adjacent windows merge into maximal
    spans. Returns one row per span: ``(id, span_start, span_end)``,
    token-indexed inclusive. Docs with no duplication emit no rows
    (aggregate with a left join; see ``dup_stats``).

    With ``pin=True`` (r12) the returned frame is EAGERLY materialized
    (localCheckpoint — jobs run at call time) and the positional
    shingle explode is cached for the duration of the call: the explode
    feeds both the corpus-wide count and the hit join, and the span
    frame itself is read up to three times by
    ``strip_duplicated_spans`` — without the pin the explode+lead
    shingle pass re-ran once per read (the q_strip_spans before-plan
    held 16 scan subtrees; 4 after — only the final assembly joins
    still scan the input). Callers of the pinned form release
    the returned frame with ``checkpoint.release_local_checkpoint``
    after its final action. The default stays lazy: single-read
    consumers (``dup_stats``) keep a fully inspectable plan and skip
    the checkpoint blocks.
    """
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be >= 2, got {min_occurrences}"
        )
    ex = _doc_shingles(df, text_col, id_col, k)
    if pin:
        ex = ex.persist()
    dup_hashes = (
        ex.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_occurrences)
        .select("sh")
    )
    hits = ex.join(dup_hashes, "sh").select(
        id_col, "pos", (F.col("pos") + (k - 1)).alias("__end")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn("__prev_max_end", F.max("__end").over(w))
        .withColumn(
            "__new_island",
            F.when(
                F.col("__prev_max_end").isNull()
                | (F.col("pos") > F.col("__prev_max_end") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__island",
            F.sum("__new_island").over(
                Window.partitionBy(id_col)
                .orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("__end").alias("span_end"),
        )
        .drop("__island")
    )
    if pin:
        spans = spans.localCheckpoint(eager=True)
        ex.unpersist()
    return spans


def dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
    round_to: int | None = None,
) -> DataFrame:
    """Per-document duplication summary over ``duplicated_spans``:
    ``n_dup_spans``, ``dup_tokens`` (tokens inside duplicated spans)
    and ``dup_token_frac`` (of the doc's token count; 0.0 when clean —
    every input row survives)."""
    spans = duplicated_spans(df, text_col, id_col, k, min_occurrences)
    agg = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("dup_tokens"),
    )
    n_tok = F.size(tokens(F.lower(F.col(text_col)))).cast("long")
    return (
        df.join(agg, id_col, "left")
        .withColumn(
            "n_dup_spans", F.coalesce("n_dup_spans", F.lit(0)).cast("long")
        )
        .withColumn("dup_tokens", F.coalesce("dup_tokens", F.lit(0).cast("long")))
        .withColumn("__n_tok", n_tok)
        .withColumn(
            "dup_token_frac",
            F.when(
                F.col("__n_tok") > 0,
                maybe_round(F.col("dup_tokens") / F.col("__n_tok"), round_to),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__n_tok")
    )


def strip_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """The removal half of ExactSubstr (Lee et al., ACL 2022 §4.2 cuts
    the duplicated spans; ``duplicated_spans`` only audits them):
    rewrite ``text_col`` with every duplicated span's tokens removed.

    Only documents that HAVE spans are rebuilt — their text becomes the
    surviving tokens joined by single spaces (tokenization is
    whitespace-normalizing by construction); clean documents pass
    through byte-identical. Adds ``n_stripped_tokens``.

    Plan shape (all JVM): spans explode to their covered positions
    (rows = duplicated tokens, the quantity being removed — never the
    corpus), anti-join against the positional token explode on
    (id, pos) equality (no range join), ordered rebuild via
    ``array_sort(collect_list(struct(pos, w)))``. Docs reduced to ZERO
    tokens keep an empty string (curation length rules then drop them).
    """
    # pin=True: the span frame feeds three joins below and its shingle
    # pass fed two — re-pinned per call, released with the returned
    # frame (see duplicated_spans)
    spans = duplicated_spans(df, text_col, id_col, k, min_occurrences, pin=True)
    covered = spans.select(
        id_col,
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    )
    toks = df.join(spans.select(id_col).distinct(), id_col, "semi").select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "__w"),
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "__w"))).alias("__kw"))
        .select(
            id_col,
            F.array_join(F.expr("transform(__kw, x -> x.__w)"), " ").alias(
                "__new_text"
            ),
        )
    )
    out = (
        df.join(spans.groupBy(id_col).agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("__cut")
        ), id_col, "left")
        .join(rebuilt, id_col, "left")
        .withColumn(
            "n_stripped_tokens", F.coalesce("__cut", F.lit(0).cast("long"))
        )
        .withColumn(
            text_col,
            F.when(F.col("__cut").isNotNull(), F.coalesce("__new_text", F.lit("")))
            .otherwise(F.col(text_col)),
        )
        .drop("__cut", "__new_text")
    )
    # a doc whose every token sat in spans has no surviving rows in
    # `kept` -> rebuilt misses it -> the coalesce('') above applies
    return out


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    round_to: int | None = None,
) -> DataFrame:
    """Fraction of each doc's DISTINCT k-shingles first introduced by
    that doc (ids define corpus order; a shingle's introducer is the
    minimum id containing it). 1.0 = all-new text, 0.0 = pure rehash.
    Docs with fewer than k tokens score NULL (no shingles — length
    rules own them). Adds ``n_shingles`` and ``novelty``."""
    # Single linear pipeline over the shingle explode — no branch
    # recomputes it: distinct (id, sh) pairs, each pair tagged with its
    # shingle's introducer (min id), then ONE per-doc aggregate
    # producing both n_shingles (pair count) and novel (pairs where
    # this doc IS the introducer). The introducer is a groupBy(sh).min
    # that partial-aggregates BEFORE its shuffle, joined back on sh —
    # AQE skew-join splits a corpus-hot shingle key across tasks. 2.91 s
    # at sf1 median-of-5 (DuckDB oracle 1.3 s).
    # Measured and rejected at sf1: a min() window over
    # partitionBy(sh) at 2.65 s (a window partition is never split, so
    # ONE task buffers every doc containing a boilerplate shingle),
    # previous two-branch form 2.95 s
    # (each branch re-ran the explode + per-doc lead window),
    # distinct-then-two-branches 2.92-3.15 s, persisted shared frame
    # 3.45 s warm, collect_set + sentinel single-shuffle 3.24 s, and
    # every array-side formulation 43-71 s (higher-order lambdas are
    # CodegenFallback — interpreted per element — regardless of lambda
    # body). The 1.62 s explode+lead shingle derivation (also the
    # measured-cheapest form; see _doc_shingles) is >half of the total
    # and is the remaining floor vs the oracle.
    dsh = _doc_shingles(df, text_col, id_col, k).select(id_col, "sh").distinct()
    intro = dsh.groupBy("sh").agg(F.min(id_col).alias("__fid"))
    tagged = dsh.join(intro, "sh")
    per_doc = (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col(id_col) == F.col("__fid"), 1).otherwise(0)
            ).alias("__novel"),
        )
        .withColumn(
            "novelty",
            F.when(
                F.col("n_shingles") > 0,
                maybe_round(F.col("__novel") / F.col("n_shingles"), round_to),
            ),
        )
        .select(id_col, "n_shingles", "novelty")
    )
    return df.join(per_doc, id_col, "left").withColumn(
        "n_shingles", F.coalesce("n_shingles", F.lit(0)).cast("long")
    )
