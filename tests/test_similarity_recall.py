"""ANN quality: IVF and LSH recall@5 against the exact brute-force answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_glue_spark.extensions import similarity
from dbt_glue_spark.sources.registry import load_table


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(similarity.knn_bruteforce(emb, q, k=5))
    ivf = _topk_sets(similarity.knn_ivf(emb, q, k=5, n_centroids=8, nprobe=3))
    recall = sum(len(exact[k] & ivf.get(k, set())) for k in exact) / (5 * len(exact))
    assert recall >= 0.5, f"IVF recall@5 too low: {recall}"
    # probing ALL cells must reproduce the exact answer
    full = _topk_sets(similarity.knn_ivf(emb, q, k=5, n_centroids=8, nprobe=8))
    assert full == exact


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(similarity.knn_bruteforce(emb, q, k=5))
    lsh = _topk_sets(similarity.knn_lsh(emb, q, k=5, planes=4, dim=64))
    hits = sum(len(exact[k] & lsh.get(k, set())) for k in exact)
    assert hits > 0  # same-bucket probing finds a nonzero share of true NNs


# ---- recall_at_k ------------------------------------------------------------

_DEG = [0, 10, 25, 45, 70, 100, 140, 190]  # vec_id i sits at _DEG[i] degrees


def _fan(spark, n=len(_DEG)):
    """Unit 2-d vectors at distinct angles (no cosine ties) plus vec_id 99
    with a NULL embedding."""
    import math

    rows = [
        (i, [math.cos(math.radians(d)), math.sin(math.radians(d))])
        for i, d in enumerate(_DEG[:n])
    ]
    return spark.createDataFrame(rows + [(99, None)], "vec_id long, embedding array<double>")


def _recall_rows(df, k):
    return {r.query_id: (r.n_exact, r.n_hits, r[f"recall_at_{k}"]) for r in df.collect()}


def test_recall_at_k_matches_exact_and_counts_hits(spark):
    corpus = _fan(spark)
    queries = corpus.filter(F.col("vec_id").isin(0, 3, 99))
    exact = similarity.knn_bruteforce(corpus, queries, k=3)
    # nearest by angle: 0° → 10°, 25°, 45°; 45° → 25°, 70°, 10°
    assert _topk_sets(exact) == {0: {1, 2, 3}, 3: {2, 4, 1}}

    out = similarity.recall_at_k(corpus, queries, exact, k=3)
    assert out.columns == ["query_id", "n_exact", "n_hits", "recall_at_3"]
    types = [f.dataType.simpleString() for f in out.schema.fields]
    assert types[1:] == ["bigint", "bigint", "double"]
    # approx == exact: full recall; the NULL-embedding query gets no row
    assert _recall_rows(out, 3) == {0: (3, 3, 1.0), 3: (3, 3, 1.0)}

    # drop query 0's true neighbour 3, add the false neighbour 7
    approx = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 7), (3, 2), (3, 4), (3, 1)], "query_id long, neighbor_id long"
    )
    got = _recall_rows(similarity.recall_at_k(corpus, queries, approx, k=3), 3)
    assert got == {0: (3, 2, 0.666667), 3: (3, 3, 1.0)}

    # an index that answers nothing still reports every query, at recall 0
    got = _recall_rows(similarity.recall_at_k(corpus, queries, exact.limit(0), k=3), 3)
    assert got == {0: (3, 0, 0.0), 3: (3, 0, 0.0)}


def test_recall_at_k_denominator_is_exact_count(spark):
    # 3 vectors: each query has only 2 other neighbours, so n_exact = 2 < k
    corpus = _fan(spark, n=3)
    queries = corpus.filter(F.col("vec_id") == 0)
    approx = spark.createDataFrame([(0, 1)], "query_id long, neighbor_id long")
    got = _recall_rows(similarity.recall_at_k(corpus, queries, approx, k=3), 3)
    assert got == {0: (2, 1, 0.5)}


# ---- k-means ---------------------------------------------------------------


def _blob_df(spark):
    # two tight 3-d blobs far apart; ids interleaved so init picks one
    # seed from each blob is NOT guaranteed — separation must come from
    # the iterations, not the init.
    rows = []
    for i in range(20):
        rows.append((i * 2, [0.0 + 0.01 * i, 0.0, 0.0]))          # blob A
        rows.append((i * 2 + 1, [10.0, 10.0 + 0.01 * i, 10.0]))   # blob B
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_kmeans_separates_two_blobs(spark):
    from dbt_glue_spark.extensions.clustering import kmeans_assign

    out = kmeans_assign(_blob_df(spark), k=2, max_iter=5).collect()
    by_blob = {0: set(), 1: set()}
    for r in out:
        by_blob[r.vec_id % 2].add(r.cluster_id)
    # every even id in one cluster, every odd id in the other
    assert len(by_blob[0]) == 1 and len(by_blob[1]) == 1
    assert by_blob[0] != by_blob[1]


def test_kmeans_inertia_monotone_and_deterministic(spark):
    from dbt_glue_spark.extensions.clustering import kmeans_assign, kmeans_inertia

    df = _blob_df(spark)
    inertias = [
        kmeans_inertia(kmeans_assign(df, k=2, max_iter=it)) for it in (1, 3, 5)
    ]
    assert inertias[0] >= inertias[1] >= inertias[2]
    # bit-reproducible re-run
    again = kmeans_inertia(kmeans_assign(df, k=2, max_iter=5))
    assert again == inertias[2]


def test_semantic_dedup_drops_one_of_a_near_pair(spark):
    from dbt_glue_spark.extensions.clustering import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),     # near-dup pair with id 1 (cos ≈ 0.9998)
        (1, [1.0, 0.02, 0.0]),
        (2, [0.5, 0.9, 0.0]),     # same region, cos vs 0/1 ≈ 0.49 — kept
        (10, [-8.0, -8.0, 8.0]),  # far blob: own cluster, no dups
        (11, [-8.0, -8.1, 8.0]),
    ]
    # ids 10/11 are near-dups of each other too (cos ≈ 1.0) — expect one
    # drop per pair, so 5 - 2 = 3 survivors, and id 2 always survives
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    kept1 = sorted(r.vec_id for r in semantic_dedup(df, k=2, max_iter=4, threshold=0.95).collect())
    kept2 = sorted(r.vec_id for r in semantic_dedup(df, k=2, max_iter=4, threshold=0.95).collect())
    assert kept1 == kept2  # deterministic
    assert len(kept1) == 3
    assert 2 in kept1
    assert len({0, 1} & set(kept1)) == 1  # exactly one of the near pair
    assert len({10, 11} & set(kept1)) == 1


def test_cluster_representatives_are_argmin(spark):
    from dbt_glue_spark.extensions.clustering import (
        cluster_representatives,
        kmeans_assign,
    )

    assigned = kmeans_assign(_blob_df(spark), k=2, max_iter=5)
    reps = {r.cluster_id: r for r in cluster_representatives(assigned).collect()}
    assert len(reps) == 2
    for row in assigned.collect():
        rep = reps[row.cluster_id]
        assert rep.sq_dist <= row.sq_dist or rep.vec_id == row.vec_id


# ---- PageRank --------------------------------------------------------------


def test_pagerank_uniform_on_symmetric_cycle(spark):
    from dbt_glue_spark.extensions.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    for v in ranks.values():
        assert abs(v - 1 / 3) < 1e-9


def test_pagerank_star_center_dominates_and_sums_to_one(spark):
    from dbt_glue_spark.extensions.graph import pagerank

    spokes = [(f"s{i}", "hub") for i in range(5)]
    edges = spark.createDataFrame(spokes, "src string, dst string")
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks["hub"] > max(v for k, v in ranks.items() if k != "hub") * 3


def test_mmr_rerank_diversifies_against_near_duplicates(spark):
    from dbt_glue_spark.extensions.similarity import knn_bruteforce, mmr_rerank

    # corpus: a query direction q, two near-identical vectors hugging q,
    # and one moderately-relevant but distinct direction. Pure top-k
    # returns both near-dups first; MMR must demote the second dup below
    # the distinct vector.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # the query
        (1, [0.99, 0.14, 0.0, 0.0]),        # near-dup A (most relevant)
        (2, [0.99, 0.141, 0.0, 0.0]),       # near-dup B (~= A)
        (3, [0.7, 0.0, 0.71, 0.0]),         # relevant but distinct
        (4, [0.0, 0.0, 0.0, 1.0]),          # irrelevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    topk = {
        r["rk"]: r["neighbor_id"]
        for r in knn_bruteforce(emb, q, k=3).collect()
    }
    assert (topk[1], topk[2]) == (1, 2)  # plain cosine ranks the dup 2nd
    sel = {
        r["sel_rank"]: r["neighbor_id"]
        for r in mmr_rerank(
            emb, q, n_candidates=4, k=3, lam=0.5, mu=0.5
        ).collect()
    }
    assert sel[1] == 1          # first pick = pure argmax relevance
    assert sel[2] == 3          # diversity demotes the near-dup
    # at lam=mu=0.5 even the irrelevant-but-orthogonal vector outranks
    # the near-dup: mmr(dup) = 0.5*0.99 - 0.5*1.0 < 0 = mmr(orthogonal)
    assert sel[3] == 4


def test_quantization_error_bound_and_recall(spark):
    import math

    from dbt_glue_spark.extensions.similarity import (
        knn_bruteforce,
        knn_quantized,
        quantize_embeddings,
    )

    # deterministic synthetic vectors, mixed signs and magnitudes
    rows = [
        (i, [math.sin(0.1 * i * (d + 1)) * (1 + d % 3) for d in range(16)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qz = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    for i, vec in rows:
        q, s = qz[i]["q"], qz[i]["scale"]
        assert all(-127 <= c <= 127 for c in q)
        # reconstruction error bound: |x - q*s| <= s/2 per component
        for x, c in zip(vec, q):
            assert abs(x - c * s) <= s / 2 + 1e-12
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, emb.filter("vec_id < 5"), k=5).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_quantized(emb, emb.filter("vec_id < 5"), k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, (recall, exact ^ quant)


def test_quantize_all_zero_vector_is_zero_codes(spark):
    from dbt_glue_spark.extensions.similarity import quantize_embeddings

    emb = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [1.0] + [0.0] * 7)],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    assert rows[0]["q"] == [0] * 8 and rows[0]["scale"] == 0.0
    assert rows[1]["q"][0] == 127
