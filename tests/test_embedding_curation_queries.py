"""Direct tests for the queries in plans/embedding_curation_queries.py
(embedding-side curation).

Each spec is proven against its DuckDB oracle with the exact compare of
tools/check_parity.py; each operator also gets hand-computed,
brute-force or property checks — semantic keep-best's component
structure and argmax law (NULL quality, ties), the contamination census
against a brute-force derivation, IVF recall bounds and consistency, the
bucketing-recall identity at k=1, and the class card's accounting
identities against keep-best.
"""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.plans import embedding_curation_queries
from dbt_glue_spark.plans.catalog import SPECS
from tools.check_parity import compare

SPECS_HERE = {
    n: s for n, s in SPECS().items() if s.fn.__module__ == embedding_curation_queries.__name__
}


# The parity sweep and every test over 10 s on 4 cores are slow-only
# (`pytest -m slow`); the hand checks run in the default set.
@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(SPECS_HERE))
def test_oracle_parity(spark, sf_dir, name):
    err = compare(spark, SPECS_HERE[name], sf_dir)
    assert err is None, err


# ---------------------------------------------------------------------------
# semantic_keep_best: brute-force component + argmax law
# ---------------------------------------------------------------------------


def _vec(*xs):
    return [float(x) for x in xs]


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0 or nb == 0:
        return None
    return math.floor(d / (na * nb) * 10000 + 0.5) / 10000


def _brute_semantic_classes(rows, assigned, threshold):
    """Independent derivation: connected components (union-find) over
    within-cluster cosine ≥ threshold pairs."""
    cluster = dict(assigned)
    vecs = {i: v for i, v, _q in rows if v is not None}
    parent = {i: i for i in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in itertools.combinations(sorted(vecs), 2):
        if cluster[i] != cluster[j]:
            continue
        s = _cos(vecs[i], vecs[j])
        if s is not None and s >= threshold:
            parent[find(j)] = find(i)
    classes = {}
    for i in vecs:
        classes.setdefault(find(i), []).append(i)
    return classes


def test_semantic_keep_best_matches_brute_force(spark):
    """Two tight paraphrase groups + one orthogonal singleton: survivors
    are the quality argmax per component, singletons keep themselves,
    NULL quality loses to any real score, ties break to the lowest id."""
    from dbt_glue_spark.extensions.clustering import (
        kmeans_assign,
        semantic_keep_best,
    )

    rows = [
        # the 3 lowest ids SEED k-means — one per direction, so the
        # clusters land one-per-group and the later variants join them
        (0, _vec(1, 0, 0, 0), 5),            # group A seed
        (1, _vec(0, 1, 0, 0), 7),            # group B seed
        (2, _vec(0, 0, 1, 0), 1),            # orthogonal singleton seed
        (3, _vec(0.99, 0.01, 0, 0), 9),      # A: best quality -> survivor
        (4, _vec(0.98, 0.02, 0, 0), None),   # A: NULL quality loses
        (5, _vec(0.01, 0.99, 0, 0), 7),      # B: tie -> lowest id (1) wins
        # NULL vector: excluded entirely
        (30, None, 99),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, q long"
    )
    got = {
        r.keep_id: (r.n_members, r.best_score)
        for r in semantic_keep_best(df, "q", k=3, max_iter=4).collect()
    }
    assigned = [
        (r.vec_id, r.cluster_id)
        for r in kmeans_assign(df, k=3, max_iter=4).collect()
    ]
    classes = _brute_semantic_classes(rows, assigned, 0.30)
    want = {}
    quality = {i: q for i, _v, q in rows}
    for members in classes.values():
        best = min(members, key=lambda i: (-(quality[i] if quality[i] is not None else -1), i))
        scores = [quality[i] if quality[i] is not None else -1 for i in members]
        want[best] = (len(members), max(scores))
    assert got == want
    assert 30 not in {k for k in got}  # NULL vector never a survivor
    assert got[3] == (3, 9)            # group A: argmax beats NULL + lower q
    assert got[1] == (2, 7)            # group B: tie law -> lowest id
    assert got[2] == (1, 1)            # singleton keeps itself


def test_semantic_keep_best_total_accounting(spark, sf_dir):
    """Σ n_members over survivors == non-NULL-vector corpus size, and
    keep_ids are distinct members of their own classes."""
    from dbt_glue_spark.extensions.clustering import semantic_keep_best
    from dbt_glue_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", ((F.col("vec_id") * 7) % 100).alias("q")
    )
    out = semantic_keep_best(emb, "q", k=10, max_iter=6).collect()
    n_nonnull = emb.filter(F.col("embedding").isNotNull()).count()
    assert sum(r.n_members for r in out) == n_nonnull
    keep_ids = [r.keep_id for r in out]
    assert len(keep_ids) == len(set(keep_ids))


# ---------------------------------------------------------------------------
# semantic_contamination: brute-force hand case + split laws
# ---------------------------------------------------------------------------


def test_semantic_contamination_hand_case(spark):
    """Eval vector near two train paraphrases → n_hits 2 with the max
    cosine; an orthogonal eval vector never surfaces; NULL train vectors
    are excluded."""
    from dbt_glue_spark.extensions.clustering import semantic_contamination

    train = spark.createDataFrame(
        [
            (0, _vec(1, 0, 0, 0)),
            (1, _vec(0.95, 0.05, 0, 0)),
            (2, _vec(0, 1, 0, 0)),
            (3, None),
        ],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, _vec(0.99, 0.01, 0, 0)), (101, _vec(0, 0, 1, 0))],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.eval_id: (r.n_hits, r.max_sim)
        for r in semantic_contamination(
            train, ev, k=2, max_iter=4, threshold=0.30
        ).collect()
    }
    assert set(got) == {100}
    n_hits, max_sim = got[100]
    assert n_hits == 2
    want = max(
        _cos(_vec(0.99, 0.01, 0, 0), _vec(1, 0, 0, 0)),
        _cos(_vec(0.99, 0.01, 0, 0), _vec(0.95, 0.05, 0, 0)),
    )
    assert abs(max_sim - want) < 1e-9


def test_semantic_contamination_output_bounded_by_eval(spark, sf_dir):
    """Every output row is an eval id; n_hits never exceeds the train
    corpus size."""
    spec = SPECS_HERE["ext_semantic_contamination"]
    rows = spec.fn(spark, sf_dir).collect()
    from dbt_glue_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_train = emb.filter(
        (F.col("vec_id") % 10 != 0) & F.col("embedding").isNotNull()
    ).count()
    for r in rows:
        assert r.eval_id % 10 == 0
        assert 1 <= r.n_hits <= n_train
        assert r.max_sim >= 0.30


# ---------------------------------------------------------------------------
# ivf_recall_audit: bounds + brute-force recall identity
# ---------------------------------------------------------------------------


def test_ivf_recall_bounds_and_identity(spark, sf_dir):
    spec = SPECS_HERE["ext_ivf_recall_audit"]
    rows = spec.fn(spark, sf_dir).collect()
    assert rows  # the 10-query probe set exists at every sf
    for r in rows:
        assert 0 <= r.n_hits <= r.n_exact
        assert abs(r.recall_at_5 - round(r.n_hits / r.n_exact, 6)) < 1e-6


def test_ivf_recall_is_one_when_nprobe_covers_all_cells(spark, sf_dir):
    """nprobe == n_centroids probes every cell — IVF degenerates to brute
    force and recall must be exactly 1 for every query."""
    from dbt_glue_spark.extensions import similarity
    from dbt_glue_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.knn_bruteforce(emb, queries, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.knn_ivf(
            emb, queries, k=5, n_centroids=4, nprobe=4
        ).collect()
    }
    assert full == exact


# ---------------------------------------------------------------------------
# semantic_dedup_recall: identities
# ---------------------------------------------------------------------------


def test_semantic_dedup_recall_bounds(spark, sf_dir):
    spec = SPECS_HERE["ext_semantic_dedup_recall"]
    row = spec.fn(spark, sf_dir).collect()[0]
    assert row.n_bucketed_pairs <= row.n_true_pairs
    if row.n_true_pairs > 0:
        assert row.recall_ppm == (row.n_bucketed_pairs * 1_000_000) // row.n_true_pairs
        assert 0 <= row.recall_ppm <= 1_000_000


def test_semantic_dedup_recall_is_total_at_k1(spark, sf_dir):
    """With k=1 every pair is within-cluster — the bucketed count must
    equal the exact all-pairs truth (recall 1e6 exactly)."""
    from dbt_glue_spark.extensions import clustering, similarity
    from dbt_glue_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_true = similarity.all_pairs_cosine(emb, threshold=0.30, buckets=0).count()
    _m, pairs = clustering.within_cluster_pairs(emb, k=1, max_iter=2, threshold=0.30)
    n_found = pairs.count()
    assert n_found == n_true


# ---------------------------------------------------------------------------
# semantic_class_card: accounting identities vs keep-best
# ---------------------------------------------------------------------------


def test_semantic_class_card_accounting(spark, sf_dir):
    """Σ n_vectors == non-NULL corpus; Σ n_classes == number of keep-best
    survivors (same clustering, same edges, same components); dup_ppm is
    the exact bigint formula."""
    from dbt_glue_spark.sources.registry import load_table

    card = SPECS_HERE["ext_semantic_class_card"].fn(spark, sf_dir).collect()
    keep = SPECS_HERE["ext_semantic_keep_best"].fn(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    n_nonnull = emb.filter(F.col("embedding").isNotNull()).count()
    assert sum(r.n_vectors for r in card) == n_nonnull
    assert sum(r.n_classes for r in card) == len(keep)
    for r in card:
        assert 1 <= r.n_classes <= r.n_vectors
        assert r.dup_ppm == ((r.n_vectors - r.n_classes) * 1_000_000) // r.n_vectors


# ---------------------------------------------------------------------------
# plan shape + empty-input gates
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_staged13_plans_have_no_cartesian_product(spark, sf_dir):
    """The candidate joins are equi-joins on cluster_id / cell; the only
    tolerated nested-loop is the broadcast k-row centroid assign and the
    1-row recall cross-join — never a CartesianProduct."""
    for name, spec in sorted(SPECS_HERE.items()):
        plan = (
            spec.fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name


@pytest.mark.slow
def test_staged13_specs_survive_empty_embeddings(spark, sf_dir, tmp_path):
    """Every staged spec must degrade cleanly on a zero-row embeddings
    table (at 100 TB a pruned partition routinely hands an operator zero
    rows) — and still agree with its oracle there."""
    import os

    from dbt_glue_spark.sources.registry import TABLES, load_table

    out = str(tmp_path / "sf_empty13")
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    for name, spec in sorted(SPECS_HERE.items()):
        err = compare(spark, spec, out)
        assert err is None, (name, err)


# ---------------------------------------------------------------------------
# quantized recall + embedding frontier (second tranche)
# ---------------------------------------------------------------------------


def test_quantized_recall_bounds_and_identity(spark, sf_dir):
    spec = SPECS_HERE["ext_quantized_recall_audit"]
    rows = spec.fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_hits <= r.n_exact
        assert abs(r.recall_at_5 - round(r.n_hits / r.n_exact, 6)) < 1e-6


def test_embedding_frontier_stream_equals_batch_twin(spark, tmp_path):
    """The emitted new-bucket set must equal the batch anti-join exactly,
    regardless of file arrival order (Kappa equivalence)."""
    from dbt_glue_spark.extensions.similarity import sign_bucket
    from dbt_glue_spark.sources.registry import load_table
    from dbt_glue_spark.streaming.pipelines import embedding_frontier_stream

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    nn = emb.filter(F.col("embedding").isNotNull())
    ledger = nn.filter(F.col("vec_id") % 2 == 0).select(
        sign_bucket(F.col("embedding"), 64, 8).alias("bucket")
    )
    stage = str(tmp_path / "embs")
    emb.select("vec_id", "embedding").repartition(5).write.mode(
        "overwrite"
    ).parquet(stage)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        embedding_frontier_stream(stream, ledger, planes=8)
        .writeStream.format("memory")
        .queryName("t_embfrontier")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r.bucket for r in spark.table("t_embfrontier").collect()}
    batch = (
        nn.select(sign_bucket(F.col("embedding"), 64, 8).alias("bucket"))
        .distinct()
        .join(ledger.distinct(), "bucket", "left_anti")
    )
    want = {r.bucket for r in batch.collect()}
    assert got == want and got  # genuinely new buckets exist at 8 planes


def test_embedding_frontier_planes_mismatch_yields_disjoint_keys(spark):
    """Regression for the staging bug this tranche caught: a stream
    bucketed at planes=P anti-joined against a ledger bucketed at
    planes=Q != P matches NOTHING (different key widths) — every bucket
    leaks through as 'new'. The pipeline's planes parameter must match
    the ledger's construction; this pins the failure shape so a config
    drift is caught by count, not silence."""
    from dbt_glue_spark.extensions.similarity import sign_bucket
    from dbt_glue_spark.sources.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    nn = emb.filter(F.col("embedding").isNotNull())
    l8 = nn.select(sign_bucket(F.col("embedding"), 64, 8).alias("bucket")).distinct()
    b4 = nn.select(sign_bucket(F.col("embedding"), 64, 4).alias("bucket")).distinct()
    leaked = b4.join(l8, "bucket", "left_anti").count()
    assert leaked == b4.count()  # nothing matches across widths


# ---------------------------------------------------------------------------
# purity + IVF cell card (third tranche)
# ---------------------------------------------------------------------------


def test_semantic_purity_hand_case_and_tie_law(spark):
    """Labels aligned with the cluster directions → purity exactly 1e6;
    a mixed cluster votes by count with ties to the LOWEST label; NULL
    labels count in n_vectors but not the vote."""
    from dbt_glue_spark.extensions.clustering import kmeans_assign

    rows = [
        (0, _vec(1, 0, 0, 0), 7),
        (1, _vec(0, 1, 0, 0), 3),
        (2, _vec(0.99, 0.01, 0, 0), 7),
        (3, _vec(0.98, 0.02, 0, 0), None),   # unlabeled, same cluster as 0
        (4, _vec(0.01, 0.99, 0, 0), 5),      # tie in cluster of 1: {3,5}
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    from dbt_glue_spark.plans.embedding_curation_queries import ext_semantic_purity

    # rebuild the spec logic on the hand frame via the same operators
    assigned = kmeans_assign(df, k=2, max_iter=4)
    lab = assigned.select("vec_id", "cluster_id").join(
        df.select("vec_id", "label"), "vec_id"
    )
    per = (
        lab.filter(F.col("label").isNotNull())
        .groupBy("cluster_id", "label")
        .agg(F.count("*").alias("c"))
    )
    maj = (
        per.groupBy("cluster_id")
        .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
        .select(
            "cluster_id",
            (-F.col("m.nl")).cast("int").alias("majority_label"),
            F.col("m.c").alias("n_majority"),
        )
    )
    got = {r.cluster_id: (r.majority_label, r.n_majority) for r in maj.collect()}
    clusters = {r.vec_id: r.cluster_id for r in assigned.collect()}
    cx = clusters[0]  # x-direction cluster: labels {7,7}, one NULL
    cy = clusters[1]  # y-direction cluster: labels {3,5} tie -> 3
    assert got[cx] == (7, 2)
    assert got[cy] == (3, 1)


def test_semantic_purity_accounting(spark, sf_dir):
    from dbt_glue_spark.sources.registry import load_table

    rows = SPECS_HERE["ext_semantic_purity"].fn(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    n_nonnull = emb.filter(F.col("embedding").isNotNull()).count()
    assert sum(r.n_vectors for r in rows) == n_nonnull
    for r in rows:
        assert r.n_labeled <= r.n_vectors
        if r.n_labeled > 0:
            assert 1 <= r.n_majority <= r.n_labeled
            assert r.purity_ppm == (r.n_majority * 1_000_000) // r.n_labeled
        else:
            assert r.majority_label is None and r.purity_ppm is None


def test_ivf_cell_card_accounting(spark, sf_dir):
    """Σ n_vectors == non-NULL corpus; shares are the exact bigint ppm
    formula and sum to ≤ 1e6 (floor rounding) within k crumbs."""
    from dbt_glue_spark.sources.registry import load_table

    rows = SPECS_HERE["ext_ivf_cell_card"].fn(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    n_nonnull = emb.filter(F.col("embedding").isNotNull()).count()
    total = sum(r.n_vectors for r in rows)
    assert total == n_nonnull
    for r in rows:
        assert r.share_ppm == (r.n_vectors * 1_000_000) // total
    s = sum(r.share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= s <= 1_000_000


# ---------------------------------------------------------------------------
# incremental admission + embedding drift (fourth tranche)
# ---------------------------------------------------------------------------


def test_semantic_incremental_every_new_vector_visible(spark, sf_dir):
    """Visible-exclusion law: every odd-id non-NULL vector gets exactly
    one row; admitted ⟺ zero exemplar hits."""
    from dbt_glue_spark.sources.registry import load_table

    rows = SPECS_HERE["ext_semantic_dedup_incremental"].fn(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    n_new = emb.filter(
        (F.col("vec_id") % 2 == 1) & F.col("embedding").isNotNull()
    ).count()
    assert len(rows) == n_new
    for r in rows:
        assert r.vec_id % 2 == 1
        assert r.admitted == (r.n_exemplar_hits == 0)


def test_semantic_incremental_hand_case(spark):
    """A new vector beside a ledger exemplar is rejected with the hit
    count; an orthogonal new vector is admitted; NULL vectors drop."""
    from dbt_glue_spark.extensions.clustering import kmeans_assign
    from dbt_glue_spark.functions.scalars import half_up_round
    from dbt_glue_spark.functions.vectors import cosine_sim

    rows = [
        (0, _vec(1, 0, 0, 0)),       # ledger exemplar, x-direction
        (2, _vec(0, 1, 0, 0)),       # ledger exemplar, y-direction
        (1, _vec(0.99, 0.01, 0, 0)), # new: dup of exemplar 0 -> rejected
        (3, _vec(0, 0, 1, 0)),       # new: orthogonal -> admitted
        (5, None),                   # new NULL: excluded entirely
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = kmeans_assign(df, k=2, max_iter=4)
    vecs = df.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    m = assigned.select(F.col("vec_id").alias("id"), "cluster_id").join(vecs, "id")
    new = m.filter(F.col("id") % 2 == 1).select(
        F.col("id").alias("vec_id"), "cluster_id", F.col("v").alias("nv")
    )
    led = m.filter(F.col("id") % 2 == 0).select("cluster_id", F.col("v").alias("xv"))
    hits = (
        new.join(led, "cluster_id")
        .withColumn("sim", half_up_round(cosine_sim(F.col("nv"), F.col("xv")), 4))
        .filter(F.col("sim") >= 0.30)
        .groupBy("vec_id")
        .agg(F.count("*").alias("h"))
    )
    out = {
        r.vec_id: r.h
        for r in new.select("vec_id").join(hits, "vec_id", "left").collect()
    }
    assert set(out) == {1, 3}
    assert out[1] == 1 and out[3] is None


def test_embedding_drift_accounting(spark, sf_dir):
    """Σ n_ref/n_cur == per-side corpus; shares are the exact bigint
    formula; shift is the absolute difference; TV = Σ shift / 2 lands
    in [0, 1e6]."""
    from dbt_glue_spark.sources.registry import load_table

    rows = SPECS_HERE["ext_embedding_drift"].fn(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    n_ref = emb.filter(F.col("vec_id") % 2 == 0).count()
    n_cur = emb.filter(F.col("vec_id") % 2 == 1).count()
    assert sum(r.n_ref for r in rows) == n_ref
    assert sum(r.n_cur for r in rows) == n_cur
    for r in rows:
        assert r.ref_share_ppm == (r.n_ref * 1_000_000) // n_ref
        assert r.cur_share_ppm == (r.n_cur * 1_000_000) // n_cur
        assert r.shift_ppm == abs(r.ref_share_ppm - r.cur_share_ppm)
    tv = sum(r.shift_ppm for r in rows) // 2
    assert 0 <= tv <= 1_000_000
