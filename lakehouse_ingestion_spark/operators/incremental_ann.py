"""Maintained IVF index: incremental ANN over a growing corpus.

``ann.ivf_topk`` fuses assignment + scoring into ONE corpus pass — the
right shape for a one-shot job, the wrong one for continuous ingest: at
100 TB every serving batch re-reads and re-assigns the entire corpus to
answer a 10-row request, and no filter can prune the scan because the
cell of each corpus row is only known *inside* the pass. The maintained
shape (the ingest-time-artifact posture of ``incremental_dedup``'s LSH
index and ``graph.incremental_components``' label state):

- **postings** — ``(id, v, cell)`` parquet partitioned BY CELL. ``cell``
  is the vector's nearest centroid, computed with the exact rounding /
  tie-break contract of ``ann._probe_cells`` (cosine rounded
  half-away-from-zero at 6 dp desc, then cid asc) so maintained and
  one-shot formulations agree row-for-row.
- **append** (``assign_postings`` → ``mode("append")``) — a new batch
  computes its cells with one BLAS matmul per Arrow batch against the
  broadcast centroid matrix. Map-only, batch-sized, zero shuffle: the
  corpus is never rescanned to admit a batch.
- **search** (``search_postings``) — probe lists come driver-side from
  the (tiny, K-row) centroid set, and the scan filters
  ``cell IN (probes)`` BEFORE reading: parquet partition pruning cuts
  the read to ~nprobe/K of the corpus bytes. Scoring is the ANN
  family's one top-k kernel (``ann._topk_search``) with the fourth of
  its candidate masks: the stored ``cell`` is in the query's probe
  list. The only shuffle ranks the ``partitions x queries x ~k``
  sliver.
- **retrain** (``retrain_postings``) — Lloyd refinement + full
  reassignment on a cadence (corpus-sized BY DESIGN, like compaction);
  postings carry their vectors, so even retraining never returns to the
  raw corpus.

The reference has no ANN surface (its engine is Bronze ingestion —
SURVEY.md §2); this completes the repo's incremental LLM-pipeline tier
(near-dup index, connected-component labels, now the ANN index).
Equality with one-shot ``ivf_topk``, append-order invariance, retrain
parity, and the pruned read are pinned in tests/test_incremental_ann.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import (
    _centroids_to_driver,
    _in_probes,
    _probe_cells,
    _require_integral_id,
    _topk_search,
    kmeans_refine,
)


def assign_postings(
    vectors: DataFrame,
    centroids: "DataFrame | pd.DataFrame",
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Index rows for a corpus or batch: ``(id, v, cell)`` with ``cell``
    the nearest centroid. One matmul per Arrow batch against the
    broadcast K-row centroid matrix — map-only, so appending a batch to
    the index costs exactly the batch.

    The vector rides along into the postings so the search (and any
    later retrain) reads ONLY the index — the raw corpus table is never
    needed again.
    """
    _require_integral_id(vectors, id_col, "assign_postings")
    cent_ids, cent_mat = _centroids_to_driver(centroids, "cid", "cv")
    bc = vectors.sparkSession.sparkContext.broadcast((cent_ids, cent_mat))

    def _assign(batches):
        c_ids, c_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            cells = _probe_cells(m, c_ids, c_mat, 1)[:, 0]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().astype("int64"),
                    vec_col: pdf[vec_col],
                    "cell": cells,
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        _assign, f"{id_col} long, {vec_col} array<double>, cell long"
    )


def append_postings(
    batch: DataFrame,
    centroids: "DataFrame | pd.DataFrame",
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> None:
    """Admit a batch into a persisted index: assign + append, partitioned
    by cell so ``search_postings``' ``cell IN (...)`` filter prunes at
    the directory level. Append-only — replay/redelivery policy belongs
    to the caller's ledger (``streaming/multi_sink`` has the machinery),
    same as the other maintained indexes."""
    assign_postings(batch, centroids, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(index_path)


def read_postings(spark, index_path: str, vec_col: str = "v") -> DataFrame:
    """Open a persisted index. Partition discovery types ``cell`` as int;
    normalize to long so downstream schemas match ``assign_postings``."""
    df = spark.read.parquet(index_path)
    return df.withColumn("cell", F.col("cell").cast("long"))


def search_postings(
    postings: DataFrame,
    queries: "DataFrame | pd.DataFrame",
    centroids: "DataFrame | pd.DataFrame",
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors per query over a maintained index.
    Returns (q_id, neighbor_id, cos_sim, rk) — same contract as
    ``ivf_topk`` with the same centroids/k/nprobe, minus the corpus
    pass: the probe lists are computed driver-side, the postings scan is
    filtered to the union of probed cells (partition-pruned read), and
    the kernel's mask reads the stored ``cell`` column instead of
    assigning cells in the pass.
    """

    def _probes(q_mat, postings):
        cent_ids, cent_mat = _centroids_to_driver(centroids, "cid", "cv")
        probes = _probe_cells(q_mat, cent_ids, cent_mat, nprobe)
        # the pruning filter: a plain IN over the partition column, pushed
        # to the file listing (PartitionFilters) — the whole point of the
        # maintained layout
        probed = sorted({int(c) for c in probes.ravel()})
        return probes, postings.where(F.col("cell").isin(probed))

    def _stored_cell_probed(probes, pdf, m):
        return _in_probes(pdf["cell"].to_numpy().astype("int64"), probes)

    return _topk_search(
        "search_postings", postings, queries, k, id_col, vec_col,
        mask=_stored_cell_probed,
        prepare=_probes,
        mask_cols=("cell",),
        exclude_same_id=exclude_same_id,
    )


def retrain_postings(
    postings: DataFrame,
    centroids: "DataFrame | pd.DataFrame",
    dim: int,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "v",
    round_to: int | None = 6,
) -> tuple[DataFrame, DataFrame]:
    """Cadence maintenance: Lloyd-refine the centroids over the indexed
    vectors, then reassign every posting to the refined cells. Returns
    ``(refined_centroids, new_postings)`` — the caller overwrites the
    index (partitioned by the NEW cells) and swaps the centroid table.

    Corpus-sized by design — this is the compaction analog that keeps
    per-batch appends cheap between retrains; it reads vectors FROM the
    postings, so even maintenance never rescans the raw corpus.
    """
    vecs = postings.select(id_col, vec_col)
    refined = kmeans_refine(
        vecs,
        centroids,
        dim=dim,
        iterations=iterations,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
    )
    return refined, assign_postings(vecs, refined, id_col, vec_col)
