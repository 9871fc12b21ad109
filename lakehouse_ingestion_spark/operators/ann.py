"""Similarity search: ONE top-k scoring kernel plus four candidate masks.

``_topk_search`` is the only per-batch top-k body in the engine. It
collects the (small) query set driver-side, broadcasts the normalised
query matrix once, and runs one ``mapInPandas`` over the corpus: per
Arrow batch one BLAS matmul scores every row against every query, the
caller's candidate mask blanks the rows a query may not see, and a
local partition cut keeps ~k rows per query before anything
leaves the executor. Scores are rounded to 6 dp and ranked in one
``row_number`` window, so the only shuffle ranks the
``partitions x queries x ~k`` sliver. The search paths differ only in
their mask:

- ``brute_force_topk`` — no mask, every corpus row is a candidate;
- ``lsh_topk`` — the corpus row's random-hyperplane sign bucket equals
  the query's (driver-computed) bucket;
- ``ivf_topk`` — the corpus row's nearest centroid cell, assigned in the
  same pass, is in the query's ``nprobe`` probe list;
- ``incremental_ann.search_postings`` — the stored ``cell`` of a posting
  is in the query's probe list (the scan below is partition-pruned to
  the union of probed cells).

IVF (inverted-file) design, MLlib-style: the centroid set is tiny (K
rows) and lives DRIVER-SIDE as a numpy matrix between steps — exactly
how Spark MLlib's KMeans keeps cluster centers. Cell assignment is a
map-only vectorized pass (one matmul per Arrow batch, centroid matrix
broadcast); nothing N-sized ever shuffles for assignment. Lloyd
refinement needs one aggregation job per iteration.

Determinism contract (for the DuckDB oracle): cell assignment and top-k
both order by (cosine rounded to 6 dp desc, id asc) — no float-tie
ambiguity across engines.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_ASSIGN_ROUND = 6  # rounding for assignment tie-stability across engines
_SIGN_ROUND = 9  # dot-product rounding before LSH sign tests
_TOPK_SCHEMA = "q_id long, neighbor_id long, cos_sim double"


def _round_half_away(a: np.ndarray, digits: int) -> np.ndarray:
    """SQL-``ROUND``-compatible half-away-from-zero rounding.  ``np.round``
    is half-to-even; Spark and DuckDB round halves away from zero — the
    difference matters exactly at cross-engine tie boundaries."""
    scale = 10.0**digits
    return np.copysign(np.floor(np.abs(a) * scale + 0.5), a) / scale


def _normalized(mat: np.ndarray) -> np.ndarray:
    norm = np.linalg.norm(mat, axis=1, keepdims=True)
    norm[norm == 0.0] = 1.0
    return mat / norm


def _require_integral_id(df: DataFrame, id_col: str, op: str) -> None:
    """The fused mapInPandas search paths coerce ids with
    ``.astype('int64')`` and emit a hardcoded ``long`` id schema; a
    string/UUID id column would be silently mangled (or crash deep in
    numpy). Fail loudly at the API boundary instead."""
    dt = df.schema[id_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"{op} requires an integral id column; {id_col!r} is {dt} — "
            "add a surrogate integer key (e.g. zipWithIndex/"
            "monotonically_increasing_id + dense rank) before the search"
        )


def _centroids_to_driver(
    centroids: "DataFrame | pd.DataFrame",
    centroid_id_col: str,
    centroid_vec_col: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Collect the (tiny) centroid set as (ids asc, K x dim matrix).
    Ascending id order makes stable argsorts break cosine ties toward
    the lower cell id — the cross-engine contract."""
    cpd = (
        centroids
        if isinstance(centroids, pd.DataFrame)
        else centroids.select(centroid_id_col, centroid_vec_col).toPandas()
    )
    cpd = cpd.sort_values(centroid_id_col)
    ids = cpd[centroid_id_col].to_numpy().astype("int64")
    mat = np.stack(cpd[centroid_vec_col].to_numpy()).astype("float64")
    return ids, mat


def _probe_cells(
    vec_mat: np.ndarray, cent_ids: np.ndarray, cent_mat: np.ndarray, nprobe: int
) -> np.ndarray:
    """(n, nprobe) nearest-cell ids per vector; ties toward lower cell id
    (stable sort over cell-asc columns)."""
    sims = _round_half_away(
        _normalized(vec_mat) @ _normalized(cent_mat).T, _ASSIGN_ROUND
    )
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    return cent_ids[order]


def _in_probes(cells: np.ndarray, probes: np.ndarray) -> np.ndarray:
    """(queries, batch) mask: each row's cell is in the query's own
    ``(queries, nprobe)`` probe list."""
    return (cells[None, None, :] == probes[:, :, None]).any(axis=1)


def _topk_search(
    op: str,
    corpus: DataFrame,
    queries: "DataFrame | pd.DataFrame",
    k: int,
    id_col: str,
    vec_col: str,
    mask: Callable | None = None,
    prepare: Callable | None = None,
    mask_cols: tuple[str, ...] = (),
    exclude_same_id: bool = False,
) -> DataFrame:
    """The ANN family's one top-k pass: exact cosine top-k per query over
    the candidates ``mask`` admits. Returns (q_id, neighbor_id, cos_sim,
    rk).

    ``queries`` is a DataFrame or, when the caller already holds the
    request driver-side, a pandas frame (columns id_col, vec_col) — no
    collect job then. Query ids must be integral: the broadcast and the
    output schema are ``long``, and a float id would be truncated.

    ``prepare(q_mat, corpus) -> (state, corpus)`` runs once on the
    driver with the raw query matrix: ``state`` (sign buckets, probe
    lists, centroids) rides in the one query broadcast, and the returned
    corpus may be narrowed (a partition-pruning filter). On the
    executors ``mask(state, pdf, m)`` gives the ``(queries, batch)``
    candidate mask of an Arrow batch ``pdf`` with vectors ``m``; it may
    read the ``mask_cols`` besides id_col and vec_col. No mask makes
    every row a candidate. ``exclude_same_id`` also drops candidates
    whose id equals the query id.

    Determinism: the local cut keeps every candidate within
    ``eps = 1e-6`` of the k-th raw score; rounding to 6 dp is monotone
    and moves a value by at most half that, so no row that could enter
    the global top-k after rounding is dropped early. Masked slots
    score -2 and the cut is clamped at -1.5 (a cosine is >= -1), so
    they are never emitted.
    """
    _require_integral_id(corpus, id_col, op)
    spark = corpus.sparkSession
    qpd = (
        queries[[id_col, vec_col]]
        if isinstance(queries, pd.DataFrame)
        else queries.select(id_col, vec_col).toPandas()
    )
    if qpd.empty:
        # np.stack on zero arrays raises; an empty query set is a valid
        # (if degenerate) request and returns an empty frame
        return spark.createDataFrame([], f"{_TOPK_SCHEMA}, rk int")
    if not pd.api.types.is_integer_dtype(qpd[id_col]):
        raise TypeError(
            f"{op} requires integral ids; the queries' {id_col!r} is "
            f"{qpd[id_col].dtype} (the broadcast/mapInPandas schema is long)"
        )
    q_ids = qpd[id_col].to_numpy().astype("int64")
    q_mat = np.stack(qpd[vec_col].to_numpy()).astype("float64")
    state = None
    if prepare is not None:
        state, corpus = prepare(q_mat, corpus)
    bq = spark.sparkContext.broadcast((q_ids, _normalized(q_mat), state))
    eps = 10.0 ** (-_ASSIGN_ROUND)

    def _score(batches):
        qids, q_n, state = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy().astype("int64")
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            keep = (
                np.ones((len(qids), len(ids)), dtype=bool)
                if mask is None
                else mask(state, pdf, m)
            )
            if exclude_same_id:
                keep &= ids[None, :] != qids[:, None]
            sims = np.where(keep, q_n @ _normalized(m).T, -2.0)
            n = sims.shape[1]
            cut = np.full(sims.shape[0], -1.5)
            if n > k:
                cut = np.maximum(
                    np.partition(sims, n - k, axis=1)[:, n - k] - eps, cut
                )
            qi, ni = np.nonzero(sims >= cut[:, None])
            yield pd.DataFrame(
                {
                    "q_id": qids[qi],
                    "neighbor_id": ids[ni],
                    "cos_sim": sims[qi, ni],
                }
            )

    scored = (
        corpus.select(id_col, vec_col, *mask_cols)
        .mapInPandas(_score, _TOPK_SCHEMA)
        .withColumn("cos_sim", F.round("cos_sim", _ASSIGN_ROUND))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame | pd.DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Exact cosine top-k per query: the shared kernel with no candidate
    mask. Returns (q_id, neighbor_id, cos_sim, rk), ordered by (cosine
    rounded to 6 dp desc, neighbor_id asc).

    The query set is broadcast as one normalized float64 matrix (top-k
    search presumes a small query set; the corpus side stays fully
    distributed and never shuffles until the final
    ``partitions x queries x ~k``-row candidate window). ``queries`` may
    be a pandas DataFrame (columns id_col, vec_col) when the caller
    already holds the query set driver-side — a top-k search request IS
    a driver-side input, so skipping the collect job is the normal
    serving shape.
    """
    return _topk_search("brute_force_topk", corpus, queries, k, id_col, vec_col)


def ivf_assign(
    vectors: DataFrame,
    centroids: "DataFrame | pd.DataFrame",
    id_col: str = "vec_id",
    vec_col: str = "v",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cv",
    nprobe: int = 1,
) -> DataFrame:
    """Rank centroid cells per vector; keep the ``nprobe`` nearest.
    Returns (id_col, cell, cell_rank). ``nprobe=1`` builds the index
    assignment; ``nprobe>1`` builds a query probe list.

    Map-only: the centroid matrix is collected driver-side (K rows) and
    broadcast; each Arrow batch computes its cells with one matmul. No
    shuffle touches the N-row side — the round-2 formulation (crossJoin
    against broadcast centroids + a per-id ranking window) shuffled and
    sorted N*K rows per call, which is pure waste when K fits in a
    register file."""
    _require_integral_id(vectors, id_col, "ivf_assign")
    cent_ids, cent_mat = _centroids_to_driver(
        centroids, centroid_id_col, centroid_vec_col
    )
    bc = vectors.sparkSession.sparkContext.broadcast((cent_ids, cent_mat))

    def _assign(batches):
        c_ids, c_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy().astype("int64")
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            cells = _probe_cells(m, c_ids, c_mat, nprobe)  # (n, nprobe)
            n, p = cells.shape
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, p),
                    "cell": cells.ravel(),
                    "cell_rank": np.tile(np.arange(1, p + 1), n),
                }
            )

    return vectors.mapInPandas(
        _assign, f"{id_col} long, cell long, cell_rank int"
    )


def kmeans_refine(
    vectors: DataFrame,
    centroids: "DataFrame | pd.DataFrame",
    dim: int,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "v",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cv",
    round_to: int | None = 6,
) -> DataFrame:
    """Lloyd k-means refinement of IVF centroids, MLlib-style.

    Centroids live driver-side between iterations (K x dim doubles — a
    few KB). Each iteration is ONE Spark job: a map-only vectorized
    assignment (matmul per Arrow batch against the broadcast centroid
    matrix) emitting (cell, vector), then ``dim`` built-in ``avg``
    aggregates per cell — partial aggregation map-side, so only
    ``tasks x K x dim`` partials cross the wire. The K-row result is
    collected, empty cells keep their previous centroid (the classic
    guard), and the loop continues with zero lineage growth — no
    caching, no recompute-on-reuse hazard (the round-2 DataFrame-chained
    formulation needed an eager cache per iteration to avoid 2x
    recompute; driver-resident centroids dissolve the problem).

    Tie-break matches ``ivf_assign`` and the DuckDB oracle: cosine
    rounded to 6 dp desc, then cell id asc.

    ``round_to`` pins centroid components to a fixed decimal precision
    (half-away-from-zero on the binary double, matching ``ROUND`` in SQL
    engines) so a cross-engine oracle reproduces the refined centroids.

    Each iteration emits per-Arrow-batch partial aggregates
    ``(cell index, member count, component sums)`` — ``batches x K``
    tiny rows — which are combined into means on the driver: the same
    partial-sum/merge tree any distributed ``avg`` builds, without a
    shuffle stage or a ``dim``-wide codegen'd aggregate (measured 3.4 s
    of compile+exec for 64 ``avg`` columns vs ~0.4 s for this shape).
    """
    sc = vectors.sparkSession.sparkContext
    cent_ids, cent_mat = _centroids_to_driver(
        centroids, centroid_id_col, centroid_vec_col
    )

    for _ in range(iterations):
        bc = sc.broadcast((cent_ids, cent_mat))

        def _partials(batches, _bc=bc):
            c_ids, c_mat = _bc.value
            k_cells = len(c_ids)
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                cells = _probe_cells(m, c_ids, c_mat, 1)[:, 0]
                # cell ids -> dense [0, K) index for bincount/add.at
                idx = np.searchsorted(c_ids, cells)
                counts = np.bincount(idx, minlength=k_cells)
                sums = np.zeros((k_cells, m.shape[1]))
                np.add.at(sums, idx, m)
                nz = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "j": nz,
                        "n": counts[nz],
                        "s": list(sums[nz]),
                    }
                )

        parts = vectors.mapInPandas(
            _partials, "j long, n long, s array<double>"
        ).collect()
        counts = np.zeros(len(cent_ids))
        sums = np.zeros_like(cent_mat)
        for r in parts:
            counts[r["j"]] += r["n"]
            sums[r["j"]] += np.asarray(r["s"])
        live = counts > 0
        means = sums[live] / counts[live, None]
        if round_to is not None:
            means = _round_half_away(means, round_to)
        cent_mat = cent_mat.copy()
        cent_mat[live] = means

    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in zip(cent_ids, cent_mat)],
        f"{centroid_id_col} long, {centroid_vec_col} array<double>",
    )


def lsh_topk(
    corpus: DataFrame,
    queries: "DataFrame | pd.DataFrame",
    planes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
    exclude_same_id: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors per query among corpus vectors sharing the
    query's random-hyperplane sign bucket (the bucket convention of
    ``functions/similarity.lsh_bucket``: bit j set iff dot(v, plane_j)
    >= 0). Returns (q_id, neighbor_id, cos_sim, rk).

    The query buckets are computed driver-side; in the kernel's single
    corpus pass each Arrow batch computes its own buckets with one
    matmul against the plane matrix and masks on equality — the
    interpreted higher-order-function formulation (bucket fold per row +
    cosine fold per candidate pair) was the slowest plan in the ANN
    family, and the corpus never needs to shuffle for a bucket equi-join
    anyway."""
    plane_mat = np.asarray(planes, dtype="float64")  # (P, dim)
    pow2 = 2.0 ** np.arange(plane_mat.shape[0])

    def _buckets(m: np.ndarray) -> np.ndarray:
        # BLAS matmul sums in a different order than the oracle's
        # sequential fold; for a near-zero plane dot the ulp difference
        # could flip the sign bit (and the bucket has no rounding to
        # absorb it, unlike cosine scores). Round half-away at 9 dp
        # before the sign test — `lsh_bucket` and the DuckDB mirror
        # apply the same ROUND, so all three engines agree unless the
        # true dot sits within an ulp of a .5 boundary at 1e-9.
        d = _round_half_away(m @ plane_mat.T, _SIGN_ROUND)
        return (d >= 0.0) @ pow2  # (n,) packed sign bits

    def _same_bucket(q_buckets, pdf, m):
        return q_buckets[:, None] == _buckets(m)[None, :]

    return _topk_search(
        "lsh_topk", corpus, queries, k, id_col, vec_col,
        mask=_same_bucket,
        prepare=lambda q_mat, corpus: (_buckets(q_mat), corpus),
        exclude_same_id=exclude_same_id,
    )


def ivf_topk(
    vectors: DataFrame,
    queries: "DataFrame | pd.DataFrame",
    centroids: "DataFrame | pd.DataFrame",
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors per query among vectors indexed in the
    query's ``nprobe`` nearest cells. Returns
    (q_id, neighbor_id, cos_sim, rk).

    The probe lists are computed driver-side from the (K-row) centroid
    set; in the kernel's single corpus pass each Arrow batch assigns its
    rows to cells (matmul vs the broadcast centroid matrix) and masks
    them against each query's probe list — so the only shuffle in the
    whole search ranks the ``partitions x queries x ~k`` sliver. The
    round-2 formulation ran two assignment windows (N*K-row shuffles)
    plus a candidate equi-join; at 100 TB the corpus never needs to move
    at all, and now it doesn't.

    ``exclude_same_id`` removes candidates whose id equals the query id —
    correct when queries are drawn FROM the corpus (self-match
    suppression); set False when queries and corpus are distinct datasets
    whose id spaces overlap (an equal id is then a different vector)."""

    def _probes(q_mat, corpus):
        cent_ids, cent_mat = _centroids_to_driver(centroids, "cid", "cv")
        probes = _probe_cells(q_mat, cent_ids, cent_mat, nprobe)
        return (probes, cent_ids, cent_mat), corpus

    def _assigned_cell_probed(state, pdf, m):
        probes, c_ids, c_mat = state
        return _in_probes(_probe_cells(m, c_ids, c_mat, 1)[:, 0], probes)

    return _topk_search(
        "ivf_topk", vectors, queries, k, id_col, vec_col,
        mask=_assigned_cell_probed,
        prepare=_probes,
        exclude_same_id=exclude_same_id,
    )
