"""Blocked all-pairs cosine join tests (operators/similarity_join.py)."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.operators.similarity_join import (
    cosine_allpairs_blocked,
)


def _expected(vecs: dict[int, list[float]], threshold: float) -> dict[tuple, float]:
    out = {}
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, vb = np.array(vecs[a]), np.array(vecs[b])
        sim = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if round(sim, 6) >= threshold:
            out[(a, b)] = round(sim, 6)
    return out


def test_matches_bruteforce(spark):
    rng = np.random.default_rng(7)
    vecs = {i: rng.normal(size=8).tolist() for i in range(40)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_allpairs_blocked(df, "vec_id", "embedding", 0.3, num_blocks=4).collect()
    }
    exp = _expected(vecs, 0.3)
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6


def test_cross_block_pair_direction(spark):
    # ids chosen so the smaller id hashes to the LARGER block id
    # (id 9 -> block 1, id 12 -> block 0 with num_blocks=4... pick exact):
    # num_blocks=4: id 3 -> block 3, id 4 -> block 0; pair (3, 4) crosses
    # blocks with min-id in the higher block — the regression case.
    v = [1.0, 0.0]
    df = spark.createDataFrame(
        [(3, v), (4, v)], "vec_id long, embedding array<double>"
    )
    rows = cosine_allpairs_blocked(df, "vec_id", "embedding", 0.5, num_blocks=4).collect()
    assert [(r["id_a"], r["id_b"], r["cos_sim"]) for r in rows] == [(3, 4, 1.0)]


def test_empty_and_zero_vectors(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    # zero-norm vector yields nan sim -> excluded, not an error
    assert cosine_allpairs_blocked(df, "vec_id", "embedding", 0.1).count() == 0


def test_ivf_topk_finds_in_cell_neighbors(spark):
    from lakehouse_ingestion_spark.operators.ann import ivf_assign, ivf_topk

    # two well-separated clusters around orthogonal axes
    base = {
        0: [1.0, 0.0, 0.0],   # centroid A
        1: [0.0, 1.0, 0.0],   # centroid B
        10: [0.9, 0.1, 0.0],  # query near A
        20: [0.95, 0.05, 0.0],
        21: [0.8, 0.2, 0.0],
        22: [0.05, 0.9, 0.0],
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in base.items()], "vec_id long, v array<double>"
    )
    cent = emb.filter("vec_id < 2").selectExpr("vec_id as cid", "v as cv")
    vectors = emb.filter("vec_id >= 20")
    queries = emb.filter("vec_id = 10")

    # assignment: 20, 21 -> cell 0; 22 -> cell 1
    assign = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(vectors, cent, vec_col="v").collect()
    }
    assert assign == {20: 0, 21: 0, 22: 1}

    # nprobe=1: only cell-0 members are candidates, ranked by cosine
    out = ivf_topk(vectors, queries, cent, k=3, nprobe=1).collect()
    assert [(r["q_id"], r["neighbor_id"], r["rk"]) for r in out] == [
        (10, 20, 1),
        (10, 21, 2),
    ]


def test_brute_force_topk_matches_numpy(spark):
    from lakehouse_ingestion_spark.operators.ann import brute_force_topk

    rng = np.random.default_rng(11)
    corpus = {i: rng.normal(size=8) for i in range(5, 80)}
    queries = {i: rng.normal(size=8) for i in range(3)}
    cdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in corpus.items()], "vec_id long, v array<double>"
    ).repartition(7)  # several partitions: exercises the local-top-k merge
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in queries.items()], "vec_id long, v array<double>"
    )
    k = 4
    got = [
        (r["q_id"], r["rk"], r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk(cdf, qdf, k=k).collect()
    ]
    exp = []
    for qid, qv in queries.items():
        sims = sorted(
            (
                (
                    round(
                        float(
                            qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))
                        ),
                        6,
                    ),
                    cid,
                )
                for cid, cv in corpus.items()
            ),
            key=lambda t: (-t[0], t[1]),
        )
        for rk, (s, cid) in enumerate(sims[:k], start=1):
            exp.append((qid, rk, cid, s))
    assert sorted(got) == sorted(exp)


def test_brute_force_topk_pandas_queries_and_zero_vec(spark):
    import pandas as pd

    from lakehouse_ingestion_spark.operators.ann import brute_force_topk

    cdf = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, v array<double>",
    )
    qpd = pd.DataFrame({"vec_id": [100], "v": [[1.0, 1.0]]})
    rows = brute_force_topk(cdf, qpd, k=2).collect()
    # zero-norm corpus vector scores 0.0 (not nan/error); top-2 of 3 kept
    assert [(r["q_id"], r["neighbor_id"], r["rk"]) for r in rows] == [
        (100, 2, 1),
        (100, 3, 2),
    ]


@pytest.mark.slow
def test_kmeans_refinement_improves_recall(spark):
    """recall@k of IVF search vs brute-force ground truth, before and
    after one Lloyd refinement pass. Seeds are drawn from a single true
    cluster (worst case); refinement must not hurt and must clear a
    recall floor on well-clustered data."""
    from lakehouse_ingestion_spark.operators.ann import (
        brute_force_topk,
        ivf_topk,
        kmeans_refine,
    )

    rng = np.random.default_rng(5)
    dim, k = 16, 5
    centers = rng.normal(size=(4, dim)) * 5.0
    corpus = {
        100 + i: (centers[i % 4] + rng.normal(size=dim) * 0.3) for i in range(80)
    }
    queries = {i: (centers[i % 4] + rng.normal(size=dim) * 0.3) for i in range(8)}
    cdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in corpus.items()], "vec_id long, v array<double>"
    )
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in queries.items()], "vec_id long, v array<double>"
    )
    # degenerate seeds: 4 corpus points from the SAME true cluster
    seed_ids = [100, 104, 108, 112]  # all cluster 0
    seeds = cdf.filter(F.col("vec_id").isin(seed_ids)).selectExpr(
        "vec_id as cid", "v as cv"
    )

    truth = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk(cdf, qdf, k=k).collect()
    }

    def recall(cents):
        got = {
            (r["q_id"], r["neighbor_id"])
            for r in ivf_topk(
                cdf, qdf, cents, k=k, nprobe=1, exclude_same_id=False
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_seed = recall(seeds)
    r_refined = recall(kmeans_refine(cdf, seeds, dim=dim, iterations=2))
    print(f"recall@{k}: seeds={r_seed:.3f} refined={r_refined:.3f}")
    assert r_refined >= r_seed
    assert r_refined >= 0.7


def test_kmeans_refine_empty_cell_keeps_seed(spark):
    from lakehouse_ingestion_spark.operators.ann import kmeans_refine

    # both vectors are nearest seed 0; seed 1's cell is empty and must
    # survive refinement with its original centroid
    vec = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1])], "vec_id long, v array<double>"
    )
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])], "cid long, cv array<double>"
    )
    out = {r["cid"]: r["cv"] for r in kmeans_refine(vec, seeds, dim=2).collect()}
    assert out[1] == [-1.0, 0.0]
    assert out[0] == [0.95, 0.05]


@pytest.mark.parametrize(
    "path", ["brute_force_topk", "lsh_topk", "ivf_topk", "search_postings"]
)
def test_brute_force_topk_empty_and_nonint_queries(spark, path):
    """Every search path runs the one top-k kernel: an empty query set
    answers 0 rows of the 4-column schema, and non-integral query ids
    raise instead of being truncated by the ``long`` broadcast."""
    import pandas as pd

    from lakehouse_ingestion_spark.operators.ann import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )
    from lakehouse_ingestion_spark.operators.incremental_ann import (
        assign_postings,
        search_postings,
    )

    cdf = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    cents = pd.DataFrame({"cid": [0, 1], "cv": [[1.0, 0.0], [0.0, 1.0]]})
    search = {
        "brute_force_topk": lambda q, k: brute_force_topk(cdf, q, k=k),
        "lsh_topk": lambda q, k: lsh_topk(cdf, q, [[1.0, 0.0]], k=k),
        "ivf_topk": lambda q, k: ivf_topk(cdf, q, cents, k=k, nprobe=1),
        "search_postings": lambda q, k: search_postings(
            assign_postings(cdf, cents), q, cents, k=k, nprobe=1
        ),
    }[path]
    # empty query set: valid degenerate request, not an np.stack crash
    empty = pd.DataFrame({"vec_id": pd.Series([], dtype="int64"), "v": []})
    assert search(empty, 2).count() == 0
    out = search(cdf.filter("vec_id < 0"), 2)
    assert out.count() == 0
    assert out.schema.simpleString() == (
        "struct<q_id:bigint,neighbor_id:bigint,cos_sim:double,rk:int>"
    )
    # a float id would come back as q_id 1 and, with exclude_same_id,
    # suppress corpus row 1, the query's true nearest neighbour
    frac = pd.DataFrame({"vec_id": [1.9], "v": [[1.0, 0.1]]})
    with pytest.raises(TypeError, match="integral ids"):
        search(frac, 1)
    # non-integral ids fail loudly, not with a numpy cast error
    bad = pd.DataFrame({"vec_id": ["a"], "v": [[1.0, 0.0]]})
    with pytest.raises(TypeError, match="integral ids"):
        search(bad, 1)


def test_kmeans_refine_honors_round_to(spark):
    from lakehouse_ingestion_spark.operators.ann import kmeans_refine

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(9)],
        "vec_id long, v array<double>",
    )
    seeds = spark.createDataFrame(
        [(0, [0.1, 1.0]), (1, [2.0, 1.0])], "cid int, cv array<double>"
    )
    # round_to=None must run end-to-end with unrounded assignment + means
    out = {
        r["cid"]: r["cv"]
        for r in kmeans_refine(vecs, seeds, dim=2, round_to=None).collect()
    }
    assert set(out) == {0, 1}
    # unrounded means keep full precision (mean of {0,1} memberships)
    assert all(len(v) == 2 for v in out.values())


def test_lsh_topk_matches_hof_bucket_formulation(spark):
    """lsh_topk's matmul sign buckets + BLAS scoring must reproduce the
    declarative lsh_bucket equi-join + cosine_similarity formulation."""
    import pandas as pd

    from lakehouse_ingestion_spark.functions.similarity import (
        cosine_similarity,
        lsh_bucket,
        random_hyperplanes,
    )
    from lakehouse_ingestion_spark.operators.ann import lsh_topk
    from pyspark.sql.window import Window

    rng = np.random.default_rng(11)
    dim, planes = 16, random_hyperplanes(16, 4, seed=5)
    vecs = {i: rng.normal(size=dim).tolist() for i in range(60)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, v array<double>"
    )
    q = df.filter(F.col("vec_id") < 5)
    corpus = df.filter(F.col("vec_id") >= 5)

    got = {
        (r["q_id"], r["rk"]): (r["neighbor_id"], r["cos_sim"])
        for r in lsh_topk(corpus, q, planes, k=3).collect()
    }

    qb = q.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        lsh_bucket("v", planes).alias("bucket"),
    )
    cb = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        lsh_bucket("v", planes).alias("bucket"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    want = {
        (r["q_id"], r["rk"]): (r["neighbor_id"], r["cos_sim"])
        for r in qb.join(cb, "bucket")
        .withColumn("cos_sim", F.round(cosine_similarity("qv", "cv"), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    assert got == want


def test_ann_paths_reject_nonintegral_ids(spark):
    """The fused mapInPandas paths emit a hardcoded ``long`` id schema;
    a string id column must fail loudly at the API boundary, not get
    silently mangled by ``.astype('int64')``."""
    import pandas as pd
    import pytest

    from lakehouse_ingestion_spark.operators.ann import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        lsh_topk,
    )

    corpus = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "vec_id string, v array<double>"
    )
    cents = pd.DataFrame({"cid": [0], "cv": [[1.0, 0.0]]})
    qs = pd.DataFrame({"vec_id": [0], "v": [[1.0, 0.0]]})
    with pytest.raises(TypeError, match="integral id"):
        ivf_assign(corpus, cents)
    with pytest.raises(TypeError, match="integral id"):
        ivf_topk(corpus, qs, cents)
    with pytest.raises(TypeError, match="integral id"):
        lsh_topk(corpus, qs, [[1.0, 0.0]])
    with pytest.raises(TypeError, match="integral id"):
        brute_force_topk(corpus, qs)
