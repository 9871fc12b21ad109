"""Config-driven maintained-ANN-index sink.

Declarative face of ``streaming/ann_index.ann_index_epoch``: a
streaming (or batch) job whose TARGET is the IVF index itself — each
micro-batch of ``(id, vector)`` rows is admitted with one map-only
assignment pass, and the postings land cell-partitioned for
partition-pruned serving (``streaming/ann_index.search_index``):

```yaml
target:
  format: ann_index
  options:
    path: /data/ann/index               # index_dir (state root)
    centroids_path: /data/ann/seeds     # parquet (cid long, cv array<double>)
    id_col: vec_id                      # default
    vec_col: v                          # default
    retrain_every: 100                  # optional: Lloyd refine + fold
    dim: 64                             #   required with retrain_every
    retrain_iterations: 1               # optional
```

``centroids_path`` seeds the index on the first-ever epoch only; after
that the persisted centroid state is authoritative (retrained sets
survive restarts). Replay, crash, and cadence semantics are the
streaming module's (ledgered epochs, dynamic partition overwrite,
retrain-at-commit-point).
"""

from __future__ import annotations

from lakehouse_ingestion_spark.sinks.base import sink


@sink("ann_index")
@sink("ivf_index")
def _ann_index(
    df, opts, epoch, *, centroids_path, id_col="vec_id", vec_col="v",
    retrain_every=None, dim=None, retrain_iterations=1,
):
    from lakehouse_ingestion_spark.streaming.ann_index import ann_index_epoch

    seeds = df.sparkSession.read.parquet(centroids_path).select("cid", "cv")
    ann_index_epoch(
        df,
        epoch,
        index_dir=opts.target,
        init_centroids=seeds,
        id_col=id_col,
        vec_col=vec_col,
        retrain_every=None if retrain_every is None else int(retrain_every),
        dim=None if dim is None else int(dim),
        retrain_iterations=int(retrain_iterations),
    )
