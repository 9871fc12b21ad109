"""Small scale-posture utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# partition column of every epoch-keyed state log
EPOCH_COL = "_epoch"


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Cheap partition estimate for file-scan frames: how many splits the
    reader will create given ``spark.sql.files.maxPartitionBytes``.
    Returns None when the frame isn't a plain local-file scan (non-file
    sources, object stores) — callers fall back to the exact (but ~70 ms)
    ``df.rdd.getNumPartitions()`` probe. ``inputFiles()`` is metadata-only
    (~3 ms); stat-ing local files is microseconds."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f.removeprefix("file:")
        if not os.path.isfile(p):
            return None
        total += os.path.getsize(p)
    conf = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"
    )
    max_bytes = _byte_string(conf)
    # each file opens at least one split; big files split by max_bytes
    return max(len(files), -(-total // max_bytes))


_BYTE_SUFFIXES = {
    "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _byte_string(s: str, default: int = 134_217_728) -> int:
    """Spark byte-string conf ('128m', '1g', '134217728b', plain int) ->
    bytes; mirrors JavaUtils.byteStringAsBytes for the common suffixes."""
    t = str(s).strip().lower()
    num = t.rstrip("kmgtb")
    suffix = t[len(num):]
    try:
        return int(num) * _BYTE_SUFFIXES.get(suffix, 1)
    except ValueError:
        return default


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow input out to the cluster before CPU-heavy per-row work.

    A single small parquet file arrives as ONE partition; any expensive
    per-row pipeline (interpreted higher-order functions, pandas UDFs)
    then runs single-threaded. At real scale inputs are already split by
    ``spark.sql.files.maxPartitionBytes``, so this is a no-op there; the
    round-robin shuffle only triggers when the input has fewer partitions
    than the target.

    The partition probe prefers a metadata-only estimate from
    ``inputFiles()`` + file sizes (~3 ms) over ``df.rdd.getNumPartitions()``
    (~70-200 ms: it converts the whole logical plan to an RDD); the exact
    probe remains the fallback for frames that aren't local file scans.
    Intended for freshly-read (narrow) frames: a frame that already went
    through a wider repartition upstream would be estimated by its SCAN
    splits and could be needlessly re-shuffled down to ``target``.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    current = est if est is not None else df.rdd.getNumPartitions()
    if current < target:
        return df.repartition(target)
    return df


def maybe_round(col, digits: "int | None"):
    """``F.round(col, digits)`` when ``digits`` is set; the raw column
    when ``None``.

    Why None is the default for integer-ratio outputs (dup_token_frac,
    novelty, top-k frequency, repetition ratios): dividing the same two
    integers is exactly rounded IEEE — byte-identical in every engine —
    while ``round(x, d)`` can TIE whenever ``x`` is binary-exact at the
    midpoint (x = odd / 2^(d+1), e.g. 3/128 at d=6 -> 23437.5e-6), and
    Spark (HALF_UP) and DuckDB (half-even) break ties in opposite
    directions. Rounding stays opt-in for human-facing reports; keep it
    OUT of oracle-hashed queries (CORRECTNESS corr_panel, round-6)."""
    return F.round(col, digits) if digits is not None else col


def read_parquet_if_exists(
    spark,
    path: str,
    *,
    schema=None,
    absent: tuple[str, ...] = ("PATH_NOT_FOUND",),
    match_message: bool = False,
) -> DataFrame | None:
    """``spark.read.parquet(path)`` (with ``schema`` when given), or None
    when the path holds nothing yet: the bootstrap read of a state store
    or ledger. Only an AnalysisException whose condition is in ``absent``
    (or, with ``match_message``, whose message names it) means "nothing
    yet"; any other failure surfaces, so an unreadable store is never
    mistaken for an empty one."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if (e.getCondition() or "") in absent or (
            match_message and any(a in str(e) for a in absent)
        ):
            return None
        raise


def latest(df: DataFrame, keys: list[str], cols: list[str]) -> DataFrame:
    """The latest row per ``keys`` of a state table: ``max_by(col,
    _epoch)`` for each of ``cols`` when ``df`` is an epoch-partitioned
    delta log (latest epoch wins), else ``keys`` and ``cols`` as they
    are (a flat table holds one row per key)."""
    if EPOCH_COL not in df.columns:
        return df.select(*keys, *cols)
    return df.groupBy(*keys).agg(
        *(F.max_by(c, F.col(EPOCH_COL)).alias(c) for c in cols)
    )
