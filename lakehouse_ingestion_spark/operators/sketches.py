"""Mergeable sketches: distinct counts (HLL) and quantiles (t-digest).

The missing piece of incremental Gold maintenance
(``operators/incremental.py``): count/sum/min/max merge trivially, but
``count_distinct`` does not — yesterday's distinct count plus today's
cannot be added. The standard fix is to store a SKETCH per group
instead of a number: HyperLogLog sketches union without double counting
(the union estimates the distinct count of the union within the
sketch's error bound), so

- fine-grained sketches (per nation, per day) roll up to any coarser
  grain (per region, per month) WITHOUT rescanning raw data;
- incremental maintenance is ``hll_union_agg(old_sketch, delta_sketch)``
  — the same state-merge shape as ``merge_aggregate_state``.

Spark 4 ships the DataSketches functions natively
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``);
everything here is a thin declarative layer keeping the sketch column
opaque binary, exactly how a state table would store it.

Accuracy: lgConfigK=12 (default) gives ~1.6% relative standard error;
the estimate-vs-exact contract is asserted in the oracle query (the
emitted ``est_ok`` boolean) and in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_sketches(
    df: DataFrame,
    group_by: list[str],
    value_col: str,
    sketch_col: str = "sketch",
    lg_config_k: int = 12,
) -> DataFrame:
    """One HLL sketch of ``value_col``'s distinct values per group —
    the state-table row format for incremental distinct counting."""
    return df.groupBy(*group_by).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_config_k)).alias(sketch_col)
    )


def rollup_sketches(
    sketches: DataFrame,
    to_group_by: list[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Union fine-grained sketches up to a coarser grouping (possibly
    ``[]`` for a global sketch). Lossless in the HLL sense: values shared
    by fine groups are not double counted, and the estimate stays within
    the sketch's error bound of the coarse-grain distinct count. The
    union is NOT bit-identical to the sketch built at the coarse grain
    directly; estimates can differ by a few counts with merge order."""
    agg = F.hll_union_agg(sketch_col).alias(sketch_col)
    if to_group_by:
        return sketches.groupBy(*to_group_by).agg(agg)
    return sketches.agg(agg)


def merge_sketch_state(
    state: DataFrame | None,
    delta_sketches: DataFrame,
    group_by: list[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Fold a delta batch's sketches into the sketch state table (same
    contract as ``incremental.merge_aggregate_state``)."""
    if state is None:
        return delta_sketches
    return (
        state.unionByName(delta_sketches)
        .groupBy(*group_by)
        .agg(F.hll_union_agg(sketch_col).alias(sketch_col))
    )


def estimate(sketches: DataFrame, sketch_col: str = "sketch") -> DataFrame:
    """Read-time finalization: replace the sketch column with its
    distinct-count estimate."""
    return sketches.withColumn(
        "estimate", F.hll_sketch_estimate(sketch_col)
    ).drop(sketch_col)


# ---------------------------------------------------------------------------
# Mergeable quantile sketches (t-digest, merging/bucketed variant)
# ---------------------------------------------------------------------------
#
# The quantile companion to the HLL surface above, completing incremental
# Gold maintenance (operators/incremental.py loudly REJECTS percentiles and
# points here): exact percentiles don't merge, so the state table stores a
# t-digest per group — a bounded list of (mean, weight) centroids at
# cosine-spaced RANK boundaries (Dunning & Ertl, "Computing extremely
# accurate quantiles using t-digests", 2019; the fixed-boundary merging
# formulation). Properties:
#
# - mergeable: concat two digests' centroids, re-sort by mean, re-bucket —
#   fine-grained digests (per nation, per day) roll up to coarser grains
#   without rescanning raw data, and a delta batch's digest folds into
#   yesterday's state;
# - bounded: at most ``compression`` centroids (doubles), regardless of
#   input size;
# - rank-accurate: the cosine spacing puts narrow bins at the tails, so
#   p95/p99 estimates carry LESS rank error than the interior; worst-case
#   interior rank error is ~pi/(2*compression) per digestion (~0.4% at the
#   default 400), a couple of bin widths after a merge chain.
#
# The scale shape is classic partial aggregation: ``tdigest_partials`` is a
# MAP-ONLY pass (mapInPandas, vectorized numpy) producing one digest per
# group per partition — raw values NEVER shuffle; ``merge_digests`` shuffles
# only the tiny digest rows. The estimate-vs-exact contract is asserted in
# the oracle queries (rank-error bound emitted as a boolean both engines
# must agree is literally true) and in tests.

_TD_FIELDS = (
    "td_n bigint, td_min double, td_max double, "
    "td_means array<double>, td_weights array<double>"
)


def _td_compress(means, weights, n_bins):
    """Merge sorted (mean, weight) centroids down to <= n_bins centroids at
    cosine-spaced rank boundaries. Pure numpy, deterministic."""
    import numpy as np

    tot = float(weights.sum())
    if len(means) <= 1 or tot <= 0.0:
        return means, weights
    mid = np.cumsum(weights) - weights / 2.0
    j = np.arange(1, n_bins)
    bounds = (1.0 - np.cos(np.pi * j / n_bins)) / 2.0 * tot
    idx = np.searchsorted(bounds, mid, side="right")
    w = np.bincount(idx, weights=weights, minlength=n_bins)
    m = np.bincount(idx, weights=weights * means, minlength=n_bins)
    keep = w > 0
    return m[keep] / w[keep], w[keep]


def _td_estimate(means, weights, mn, mx, q):
    """Quantile estimate from a digest: linear interpolation over centroid
    mid-ranks, clamped to the exact min/max at the extremes."""
    import numpy as np

    tot = float(weights.sum())
    if tot <= 0.0:
        return None
    target = q * tot
    mid = np.cumsum(weights) - weights / 2.0
    if target <= mid[0]:
        return float(
            mn + (means[0] - mn) * (target / mid[0]) if mid[0] > 0 else means[0]
        )
    if target >= mid[-1]:
        span = tot - mid[-1]
        return float(
            means[-1] + (mx - means[-1]) * ((target - mid[-1]) / span)
            if span > 0
            else mx
        )
    return float(np.interp(target, mid, means))


def tdigest_partials(
    df: DataFrame,
    group_by: list[str],
    value_col: str,
    compression: int = 400,
) -> DataFrame:
    """Map-only partial digests: one t-digest of ``value_col`` per group
    per input partition. Raw values never shuffle — only these bounded
    digest rows do (follow with ``merge_digests``). NULL values are
    skipped (they carry no quantile information)."""
    if compression < 8:
        raise ValueError(f"compression must be >= 8, got {compression}")
    if not group_by:
        raise ValueError("group_by must be non-empty")
    schema_prefix = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in group_by
    )
    out_schema = f"{schema_prefix}, {_TD_FIELDS}"
    gcols = list(group_by)
    vcol = value_col
    n_bins = int(compression)

    def _gen(batches):
        import numpy as _np
        import pandas as _pd

        acc: dict = {}
        for pdf in batches:
            pdf = pdf.dropna(subset=[vcol])
            if len(pdf) == 0:
                continue
            for key, sub in pdf.groupby(gcols, dropna=False, sort=False):
                if not isinstance(key, tuple):
                    key = (key,)
                v = _np.sort(sub[vcol].to_numpy(dtype="float64"))
                w = _np.ones(len(v), dtype="float64")
                if key in acc:
                    ms, ws, mn, mx, n = acc[key]
                    order = _np.argsort(
                        _np.concatenate([ms, v]), kind="stable"
                    )
                    allm = _np.concatenate([ms, v])[order]
                    allw = _np.concatenate([ws, w])[order]
                    ms, ws = _td_compress(allm, allw, n_bins)
                    acc[key] = (
                        ms,
                        ws,
                        min(mn, float(v[0])),
                        max(mx, float(v[-1])),
                        n + len(v),
                    )
                else:
                    ms, ws = _td_compress(v, w, n_bins)
                    acc[key] = (ms, ws, float(v[0]), float(v[-1]), len(v))
        if not acc:
            return
        rows = {
            c: [k[i] for k in acc] for i, c in enumerate(gcols)
        }
        rows["td_n"] = [int(v[4]) for v in acc.values()]
        rows["td_min"] = [v[2] for v in acc.values()]
        rows["td_max"] = [v[3] for v in acc.values()]
        rows["td_means"] = [v[0].tolist() for v in acc.values()]
        rows["td_weights"] = [v[1].tolist() for v in acc.values()]
        yield _pd.DataFrame(rows)

    return df.select(*gcols, vcol).mapInPandas(_gen, out_schema)


def merge_digests(
    partials: DataFrame,
    to_group_by: list[str],
    compression: int = 400,
) -> DataFrame:
    """Merge digest rows up to a (possibly coarser) grouping: concat
    centroids, re-sort, re-bucket. Input and output are both the bounded
    digest row format, so this chains — per-partition partials -> per-day
    state -> per-month rollup — without ever touching raw data."""
    if not to_group_by:
        raise ValueError("to_group_by must be non-empty")
    schema_prefix = ", ".join(
        f"`{c}` {partials.schema[c].dataType.simpleString()}" for c in to_group_by
    )
    out_schema = f"{schema_prefix}, {_TD_FIELDS}"
    gcols = list(to_group_by)
    n_bins = int(compression)

    def _merge(key, pdf):
        import numpy as _np
        import pandas as _pd

        allm = _np.concatenate([_np.asarray(x, dtype="float64") for x in pdf["td_means"]])
        allw = _np.concatenate(
            [_np.asarray(x, dtype="float64") for x in pdf["td_weights"]]
        )
        order = _np.argsort(allm, kind="stable")
        ms, ws = _td_compress(allm[order], allw[order], n_bins)
        out = {c: [key[i]] for i, c in enumerate(gcols)}
        out["td_n"] = [int(pdf["td_n"].sum())]
        out["td_min"] = [float(pdf["td_min"].min())]
        out["td_max"] = [float(pdf["td_max"].max())]
        out["td_means"] = [ms.tolist()]
        out["td_weights"] = [ws.tolist()]
        return _pd.DataFrame(out)

    return partials.groupBy(*gcols).applyInPandas(_merge, out_schema)


def merge_digest_quantiles(
    partials: DataFrame,
    to_group_by: list[str],
    quantiles: dict[str, float],
    compression: int = 400,
) -> DataFrame:
    """Fused merge + estimate: roll digest rows up to ``to_group_by``
    and emit the requested quantile estimates in the SAME
    ``applyInPandas`` pass — one Python boundary crossing instead of two
    (r13, guide §4: the separate ``merge_digests`` -> ``digest_quantile``
    chain paid an extra ArrowEvalPython node whose only job was to
    re-read the centroid arrays the merge had just written out).

    ``quantiles`` maps output column name -> q in [0, 1]. Arithmetic is
    BIT-IDENTICAL to ``digest_quantile(merge_digests(...))``: the merged
    centroids never round-trip through Arrow between merge and estimate,
    but both legs are float64 end to end, so the doubles agree exactly
    (pinned by ``tests/test_r13_opt.py``).
    """
    if not to_group_by:
        raise ValueError("to_group_by must be non-empty")
    for name, q in quantiles.items():
        if not 0.0 <= float(q) <= 1.0:
            raise ValueError(f"quantile {name} must be in [0,1], got {q}")
    schema_prefix = ", ".join(
        f"`{c}` {partials.schema[c].dataType.simpleString()}" for c in to_group_by
    )
    qcols = {name: float(q) for name, q in quantiles.items()}
    out_schema = schema_prefix + "".join(
        f", `{name}` double" for name in qcols
    )
    gcols = list(to_group_by)
    n_bins = int(compression)

    def _merge_est(key, pdf):
        import numpy as _np
        import pandas as _pd

        allm = _np.concatenate(
            [_np.asarray(x, dtype="float64") for x in pdf["td_means"]]
        )
        allw = _np.concatenate(
            [_np.asarray(x, dtype="float64") for x in pdf["td_weights"]]
        )
        order = _np.argsort(allm, kind="stable")
        ms, ws = _td_compress(allm[order], allw[order], n_bins)
        mn = float(pdf["td_min"].min())
        mx = float(pdf["td_max"].max())
        out = {c: [key[i]] for i, c in enumerate(gcols)}
        for name, q in qcols.items():
            out[name] = [_td_estimate(ms, ws, mn, mx, q)]
        return _pd.DataFrame(out)

    return partials.groupBy(*gcols).applyInPandas(_merge_est, out_schema)


def quantile_sketches(
    df: DataFrame,
    group_by: list[str],
    value_col: str,
    compression: int = 400,
) -> DataFrame:
    """One t-digest of ``value_col`` per group — partial build + merge,
    the state-table row format for incremental quantile tracking."""
    return merge_digests(
        tdigest_partials(df, group_by, value_col, compression),
        group_by,
        compression,
    )


def digest_quantile(q: float, col_prefix: str = "td"):
    """Column expression estimating quantile ``q`` from digest columns
    ``{prefix}_min/_max/_means/_weights`` (vectorized pandas UDF; digest
    frames are group-sized, so this is driver-cheap)."""
    from pyspark.sql.types import DoubleType

    qq = float(q)
    if not 0.0 <= qq <= 1.0:
        raise ValueError(f"quantile must be in [0,1], got {q}")

    @F.pandas_udf(DoubleType())
    def _est(mn, mx, means, weights):
        import numpy as _np
        import pandas as _pd

        return _pd.Series(
            [
                _td_estimate(
                    _np.asarray(ms, dtype="float64"),
                    _np.asarray(ws, dtype="float64"),
                    mni,
                    mxi,
                    qq,
                )
                for mni, mxi, ms, ws in zip(mn, mx, means, weights)
            ],
            dtype="float64",
        )

    return _est(
        F.col(f"{col_prefix}_min"),
        F.col(f"{col_prefix}_max"),
        F.col(f"{col_prefix}_means"),
        F.col(f"{col_prefix}_weights"),
    )
