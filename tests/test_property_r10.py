"""Property tests for the round-10 operators: event-window dedup vs a
sequential reference, and value-based quantile bucket monotonicity.
(The top-p coverage/minimality properties live in
test_property_selection.py.)"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakehouse_ingestion_spark.operators.dedup import event_window_dedup
from lakehouse_ingestion_spark.operators.stats import quantile_buckets_agg

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# -------------------------------------------------------- event dedup


@settings(**_SETTINGS)
@given(
    ts=st.lists(st.integers(0, 50), min_size=0, max_size=40),
    gap=st.sampled_from([1, 3, 10]),
)
def test_event_window_dedup_matches_sequential_lag(spark, ts, gap):
    """The keyed lag window equals a sequential scan comparing each
    event to its immediate predecessor in (ts, id) order."""
    rows = [(1, float(t), i) for i, t in enumerate(ts)]
    df = spark.createDataFrame(rows, "k long, ts double, id long")
    got = {
        r["id"]
        for r in event_window_dedup(
            df, ["k"], "ts", gap, tiebreak=["id"]
        ).collect()
    }
    expect = set()
    prev = None
    for t, i in sorted((t, i) for i, t in enumerate(ts)):
        if prev is None or t - prev >= gap:
            expect.add(i)
        prev = t
    assert got == expect


# --------------------------------------------------- quantile buckets


@settings(**_SETTINGS)
@given(
    vals=st.lists(st.integers(-20, 20), min_size=1, max_size=50),
    k=st.sampled_from([1, 2, 4, 7]),
)
def test_quantile_buckets_agg_monotone_and_tie_stable(spark, vals, k):
    """Bucket is non-decreasing in value, spans 1..<=k, and equal
    values always share a bucket."""
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = sorted(
        ((r["v"], r["q_bucket"]) for r in quantile_buckets_agg(df, "v", k).collect()),
    )
    buckets = [b for _, b in out]
    assert buckets == sorted(buckets)  # monotone in value
    assert all(1 <= b <= k for b in buckets)
    by_val: dict[int, set] = {}
    for v, b in out:
        by_val.setdefault(v, set()).add(b)
    assert all(len(bs) == 1 for bs in by_val.values())
