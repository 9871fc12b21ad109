"""Deduplication operators (SURVEY.md D5).

Reference declares Silver dedup by business key (``docs/00-architecture-
overview.md:226``, ``schemas/payments/transactions/README.md:66``). Two
flavors:

- ``dedup_exact``: drop fully-identical or key-identical rows
  nondeterministically (``dropDuplicates``) — cheapest, one shuffle on key.
- ``dedup_latest_by_key``: deterministic winner per key by ordering columns
  (e.g. latest event_time, then a unique tiebreaker) via one window — the
  production-correct variant, single shuffle, SQL-expressible
  (= ``row_number() over (partition by key order by ...desc) = 1``).

Scale: both shuffle on the key once. For skewed keys enable AQE skew
handling (on by default in session.py). ``dedup_latest_by_key`` avoids the
classic two-shuffle groupBy+join-back pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import FINGERPRINT_FNS


def dedup_exact(df: DataFrame, key_columns: list[str] | None = None) -> DataFrame:
    """Hash-based exact dedup. No keys -> whole-row dedup."""
    return df.dropDuplicates(key_columns) if key_columns else df.dropDuplicates()


def dedup_by_content(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    normalize: bool = True,
    keep_fingerprint: bool = False,
) -> DataFrame:
    """Exact content dedup: one survivor (minimum ``id_col``) per
    normalized-text fingerprint.

    ``hash_fn`` picks the fingerprint: ``xxhash64`` (default — JVM-cheap
    8-byte hash; the sf10 hash-scan rows are md5-bound, see BASELINE.md),
    ``md5`` (cross-engine stable, what the ``dedup_exact`` oracle query
    mirrors), or ``rolling`` (locality-friendly polynomial).

    Scale: ``min_by`` aggregation — partial aggregation collapses each
    map partition to one row per fingerprint BEFORE the single shuffle,
    so a corpus-wide boilerplate document never concentrates on one
    reducer. Deterministic winner (min id), unlike ``dropDuplicates``.
    """
    try:
        fp = FINGERPRINT_FNS[hash_fn](F.col(text_col), normalize=normalize)
    except KeyError:
        raise ValueError(
            f"hash_fn must be one of {sorted(FINGERPRINT_FNS)}, got {hash_fn!r}"
        ) from None
    row = F.struct(*[F.col(c) for c in df.columns])
    out = df.groupBy(fp.alias("__fp")).agg(
        F.min_by(row, F.col(id_col)).alias("__w")
    )
    cols = [F.col(f"__w.{c}").alias(c) for c in df.columns]
    if keep_fingerprint:
        cols.append(F.col("__fp").cast("string").alias("fingerprint"))
    return out.select(*cols)


def dedup_latest_by_key(
    df: DataFrame,
    key_columns: list[str],
    order_by: list[Column | str],
    keep: str = "first",
) -> DataFrame:
    """Deterministic dedup: keep the first row per key under ``order_by``.

    ``order_by`` should end with a unique tiebreaker for full determinism
    (e.g. ``[F.desc("ts"), F.desc("event_id")]``).
    ``keep="last"`` inverts the ordering; it requires plain-string
    ``order_by`` (a pre-built Column's direction can't be flipped).
    """
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    if keep == "last":
        if not all(isinstance(c, str) for c in order_by):
            raise ValueError("keep='last' requires plain-string order_by columns")
        cols = [F.col(c).desc() for c in order_by]
    else:
        cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*key_columns).orderBy(*cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_by_priority(
    df: DataFrame,
    priorities: dict[str, int],
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    normalize: bool = True,
    default_priority: int = 0,
    provenance: bool = True,
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Cross-source canonicalization: when the SAME content appears in
    several corpora (a curated dump and a crawl, two crawl snapshots),
    keep the copy from the highest-priority source — not an arbitrary
    or min-id winner — and carry the provenance.

    ``priorities`` maps source name -> rank (higher wins; unknown
    sources get ``default_priority``); ties break to the smallest
    ``id_col`` (any orderable type — string doc ids included), so the
    winner is total and deterministic.  With
    ``provenance`` the survivors carry ``n_copies`` (rows merged) and
    ``n_sources`` (distinct sources seen) — the duplication facts
    mixture weighting and dedup audits need.

    Scale: the same ONE-exchange shape as :func:`dedup_by_content` —
    ``max_by`` over a (priority, -id) struct plus the provenance
    counters ride a single fingerprint-keyed aggregation with map-side
    partials; the priority mapping is a pure CASE projection (config-
    sized, no join).

    ``fingerprint_col`` takes a PRECOMPUTED fingerprint column instead
    of hashing ``text_col`` here — ingest pipelines that already carry
    a content hash (or fan one row out into several source rows, as
    q_source_canonical does) skip a second normalize+hash pass over
    the corpus.
    """
    if fingerprint_col is not None:
        fp: Column = F.col(fingerprint_col)
    else:
        try:
            fp = FINGERPRINT_FNS[hash_fn](F.col(text_col), normalize=normalize)
        except KeyError:
            raise ValueError(
                f"hash_fn must be one of {sorted(FINGERPRINT_FNS)}, got {hash_fn!r}"
            ) from None
    prio: Column = F.lit(int(default_priority))
    for name, rank in sorted(priorities.items()):
        prio = F.when(F.col(source_col) == name, F.lit(int(rank))).otherwise(prio)
    # min_by ordering: (-priority, id) under MIN semantics -> highest
    # priority, then SMALLEST id.  The negation lands on the priority
    # rank (always a config int), NOT on the id — so string doc ids
    # order naturally instead of failing at analysis time.
    ordering = F.struct((-prio).alias("np"), F.col(id_col).alias("i"))
    row = F.struct(*[F.col(c) for c in df.columns])
    aggs = [F.min_by(row, ordering).alias("__w")]
    if provenance:
        aggs += [
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct(F.col(source_col)).alias("n_sources"),
        ]
    out = df.groupBy(fp.alias("__fp")).agg(*aggs)
    cols = [F.col(f"__w.{c}").alias(c) for c in df.columns]
    if provenance:
        cols += [F.col("n_copies"), F.col("n_sources")]
    return out.select(*cols)


def event_window_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    min_gap_seconds: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Drop events that repeat their key within ``min_gap_seconds`` of
    the PREVIOUS same-key event — double-click suppression, retry
    collapse, at-least-once delivery cleanup over event streams landed
    in batch.

    Semantics are lag-based (each event compares to its immediate
    predecessor in (ts, tiebreak) order), not debounce-chained (compare
    to the last KEPT event): lag is a pure window expression both Spark
    and a SQL oracle evaluate identically, while the chained form is
    inherently sequential state.  A burst of N rapid-fire duplicates
    keeps only the first when gaps are all short, same as debounce; the
    two differ only when gaps straddle the threshold — document the
    choice, don't hide it.

    Scale: ONE hash exchange on ``key_cols`` + per-key sort — the same
    shape as ``dedup_latest_by_key``; no global window, no self-join.
    ``tiebreak`` columns make the within-key order total (pass an event
    id) so results are deterministic under equal timestamps.
    """
    if min_gap_seconds <= 0:
        raise ValueError(
            f"min_gap_seconds must be positive, got {min_gap_seconds}"
        )
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (tiebreak or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap_ok = (
        prev_ts.isNull()
        | (
            F.col(ts_col).cast("double") - prev_ts.cast("double")
            >= F.lit(float(min_gap_seconds))
        )
    )
    return df.withColumn("__keep", gap_ok).filter("__keep").drop("__keep")
