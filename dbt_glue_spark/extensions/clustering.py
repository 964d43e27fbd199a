"""Distributed k-means over embedding columns — the clustering step of a
corpus curation pipeline (topic bucketing, diversity sampling, outlier
surfacing) expressed as pure DataFrame ops.

Iterative-algorithm discipline (same as dedup.dup_clusters): constant-size
plans via localCheckpoint per round, no vector data ever collected to the
driver. The per-round dataflow is

  assign:  vectors ⋈ broadcast(centroids)  (k rows — map-side, no shuffle)
           → argmin over squared L2 via a struct-min (deterministic
             tie-break on centroid id)
  update:  posexplode → groupBy (cluster, dim) decimal-mean → re-assemble
           with array_sort (one shuffle of |N|·d narrow rows)

All arithmetic is double with sequential array folds and decimal dimension
sums, so results are bit-reproducible run-to-run and layout-independent;
that is what lets the ``ext_kmeans_embeddings`` oracle (``_KMEANS_CTE``,
a recursive CTE) replay all 6 Lloyd rounds to exact equality.

This module is the one Lloyd's k-means: :func:`lloyd_centroids` trains
the checkpointed centroid frame, :func:`nearest_centroid` buckets vectors
into it, and :func:`cluster_edges` is the within-cluster cosine edge. The
IVF codebook of ``similarity.knn_ivf`` and the semantic-dedup family
below all run on them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_glue_spark.functions.scalars import half_up_round
from dbt_glue_spark.functions.vectors import cosine_pairs


def _sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance, sequential fold → deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def id_vectors(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """The ``(id, v)`` frame every k-means entry point consumes: NULL
    vectors excluded (no geometry; oracle twins filter ``embedding IS NOT
    NULL``), the vector cast to ``array<double>``."""
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )


def centroid_scores(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Every (vector, centroid) pair of ``vecs ⋈ broadcast(cents)`` (k
    rows — map-side, no shuffle) with ``s = struct(d2, cid)``: ordering
    on ``s`` is the squared-L2 distance with ties broken on the LOWER
    centroid id, the one ranking both the nearest-centroid step and the
    IVF probe use."""
    return vecs.join(F.broadcast(cents)).select(
        *vecs.columns,
        F.struct(_sqdist(F.col("v"), F.col("c")).alias("d2"), F.col("cid").alias("cid")).alias("s"),
    )


def nearest_centroid(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Bucket ``vecs`` (``id``, ``v`` and any other columns, carried
    through) into their nearest centroid by struct-min over
    :func:`centroid_scores` — deterministic tie-break on the lower
    centroid id. Returns ``(id, v, ..., cluster_id, sq_dist)``."""
    rest = [c for c in vecs.columns if c != "id"]
    return (
        centroid_scores(vecs, cents)
        .groupBy("id")
        .agg(F.min("s").alias("best"), *[F.first(c).alias(c) for c in rest])
        .select(
            "id", *rest,
            F.col("best.cid").alias("cluster_id"),
            F.col("best.d2").alias("sq_dist"),
        )
    )


def lloyd_centroids(vecs: DataFrame, k: int, max_iter: int) -> DataFrame:
    """Lloyd's k-means training over an ``(id, v, ...)`` frame; returns
    the checkpointed ``(cid, c)`` centroid frame after ``max_iter``
    rounds.

    Deterministic throughout: init takes the ``k`` lowest-id vectors as
    seed centroids (no RNG); assignment breaks distance ties on the lower
    centroid id; centroid means go through decimal so shuffle order can't
    perturb them. A cluster that loses all members drops out (k shrinks)
    rather than being re-seeded, keeping the algorithm a pure function of
    its input. An empty input trains an empty (still typed) frame.
    """
    vecs = vecs.select("id", "v")
    # global window is intentional: numbering runs over the k-row seed
    # frame (already limited), never the corpus
    w = Window.orderBy("id")
    centroids = (
        vecs.orderBy("id")
        .limit(k)
        .select((F.row_number().over(w) - 1).alias("cid"), F.col("v").alias("c"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        centroids = (
            nearest_centroid(vecs, centroids)
            .select(F.col("cluster_id").alias("cid"), F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                (F.sum(F.col("x").cast("decimal(28,12)")) / F.count("*"))
                .cast("double")
                .alias("m")
            )
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s.m).alias("c"))
            .localCheckpoint()
        )
    return centroids


def kmeans_buckets(vecs: DataFrame, k: int, max_iter: int) -> DataFrame:
    """Train :func:`lloyd_centroids` and bucket ``vecs`` against them:
    ``(id, v, ..., cluster_id, sq_dist)`` — the vectors ride the
    assignment, so no consumer joins them back in."""
    return nearest_centroid(vecs, lloyd_centroids(vecs, k, max_iter))


def cluster_edges(
    a: DataFrame, b: DataFrame, threshold: float, cond: Column | None = None
) -> DataFrame:
    """The within-cluster edge: the pair kernel
    ``vectors.cosine_pairs`` (``a ⋈ b``, aliased ``a``/``b``) on
    ``cluster_id`` and ``cond``, kept where its ``sim`` — the cosine of
    ``a.v`` and ``b.v`` rounded 4 dp half-up (the catalog float rule, so
    an ULP can never flip an edge) — is ≥ ``threshold``.

    100 TB shape: the equi-join on cluster_id bounds candidate volume at
    Σ n_c² (size ``k`` so clusters fit a shuffle partition), never
    corpus².
    """
    on = F.col("a.cluster_id") == F.col("b.cluster_id")
    if cond is not None:
        on = on & cond
    return cosine_pairs(a, b, on).filter(F.col("sim") >= F.lit(threshold))


def kmeans_assign(
    df: DataFrame,
    k: int = 10,
    max_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means (:func:`kmeans_buckets`); returns (id, cluster_id,
    sq_dist).

    100 TB plan: centroids are k rows — every assign round is a broadcast
    nested-loop over k, i.e. map-side linear scan; the only shuffle per
    round is the (cluster, dim) mean, whose output is k·d rows. Rounds are
    O(max_iter) scans — exactly Spark MLlib's dataflow, minus RNG.

    NULL vectors are excluded (no geometry; oracle twins filter
    ``embedding IS NOT NULL``).
    """
    return kmeans_buckets(id_vectors(df, id_col, vec_col), k, max_iter).select(
        F.col("id").alias(id_col), "cluster_id", "sq_dist"
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 10,
    max_iter: int = 6,
    threshold: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): k-means-bucket the
    embedding space, compare pairs ONLY within a cluster, and for every
    within-cluster pair with cosine ≥ ``threshold`` drop the member
    farther from its centroid (the less prototypical duplicate; ties
    break to the higher id). Returns the kept rows (id, cluster_id).

    This is the scale story that makes semantic dedup tractable at all:
    the pair join is an equi-join on cluster_id, so candidate volume is
    Σ n_c² over clusters instead of n² over the corpus — with k sized so
    clusters fit comfortably in a shuffle partition, the quadratic term
    is bounded per-partition and embarrassingly parallel. Everything
    deterministic: k-means is RNG-free (lowest-id seeds, struct-min
    ties), cosine is a sequential fold rounded half-up 4 dp, and the
    drop rule compares 6 dp-rounded distances so an ULP wobble can never
    flip a victim choice.

    Extends aws-samples/dbt-glue (no dedup surface in the reference);
    complements the syntactic family in extensions/dedup.py — minhash
    catches near-verbatim text, this catches paraphrases living close in
    embedding space.
    """
    m = (
        kmeans_buckets(id_vectors(df, id_col, vec_col), k, max_iter)
        .select("id", "cluster_id", half_up_round(F.col("sq_dist"), 6).alias("d2"), "v")
        .localCheckpoint()  # cut the 6-round lineage before the self-join
    )
    victim = (
        F.when(F.col("a.d2") > F.col("b.d2"), F.col("a.id"))
        .when(F.col("a.d2") < F.col("b.d2"), F.col("b.id"))
        .otherwise(F.greatest(F.col("a.id"), F.col("b.id")))
    )
    dropped = (
        cluster_edges(m, m, threshold, F.col("a.id") < F.col("b.id"))
        .select(victim.alias("id"))
        .distinct()
    )
    return m.join(dropped, "id", "left_anti").select(
        F.col("id").alias(id_col), "cluster_id"
    )


def within_cluster_pairs(
    df: DataFrame,
    k: int = 10,
    max_iter: int = 6,
    threshold: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Shared semantic-candidate stage: k-means bucket the space, then
    emit the within-cluster cosine ≥ ``threshold`` pairs (4 dp half-up —
    the catalog float rule, so an ULP can never flip an edge).

    Returns ``(m, pairs)``: ``m`` is the checkpointed
    ``(id, cluster_id, v)`` assignment frame (localCheckpoint cuts the
    Lloyd lineage before the self-join — one assignment evaluation,
    reused by every downstream consumer), ``pairs`` is
    ``(id_a, id_b)`` with ``id_a < id_b``.

    Shared by :func:`semantic_keep_best`, the staged recall/class-card
    specs, and the weak-scaling probe; the edge itself is
    :func:`cluster_edges`.
    """
    m = (
        kmeans_buckets(id_vectors(df, id_col, vec_col), k, max_iter)
        .select("id", "cluster_id", "v")
        .localCheckpoint()
    )
    pairs = cluster_edges(m, m, threshold, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    return m, pairs


def semantic_keep_best(
    df: DataFrame,
    quality_col: str,
    k: int = 10,
    max_iter: int = 6,
    threshold: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup with QUALITY-ARGMAX survivor selection — the
    embedding-space twin of ``dedup.cluster_keep_best`` (and the
    keep-best upgrade of :func:`semantic_dedup`, whose drop rule keeps
    the most PROTOTYPICAL member): semantic classes are the connected
    components of the within-k-means-cluster cosine ≥ ``threshold``
    graph, and each class keeps its highest-``quality_col`` member
    (NULL quality loses to any real score via a −1 coalesce; ties break
    to the lowest id — the keep_best contract shared by the exact/
    near-dup/paired variants).

    Why keep-best and not most-prototypical: dropping a high-quality
    paraphrase for a low-quality one closer to the centroid silently
    degrades the corpus quality distribution — the same FineWeb/
    RefinedWeb argument ``exact_dedup_keep_best`` documents for the
    syntactic family.

    Composition (every stage an existing discipline):

    1. :func:`kmeans_buckets` buckets the space (RNG-free, decimal
       means) — candidate pairs are per-cluster quadratic, never
       corpus-quadratic;
    2. :func:`cluster_edges`: within-cluster cosine ≥ threshold pairs
       (4 dp half-up — the catalog float rule, so an ULP can't flip an
       edge);
    3. ``dedup.dup_clusters`` pointer-doubling components over V(E) —
       vectors with no semantic-dup edge stay singletons;
    4. ONE groupBy per class with the argmax riding
       ``min(struct(-q, id))`` — no window, no join-back.

    Output: survivor manifest (keep_id, n_members, best_score), one row
    per semantic class, singletons included. A class whose members ALL
    have NULL quality reports best_score = −1 (the coalesce sentinel) —
    the ``exact_dedup_keep_best`` family convention, mirrored by its
    oracle's ``COALESCE(q, -1)``; consumers aggregating best_score must
    treat −1 as "no real score", same as everywhere else in the
    keep-best family.

    100 TB shape: stage-2's equi-join on cluster_id bounds candidate
    volume at Σ n_c² (size k so clusters fit a shuffle partition); the
    component loop runs over V(E) only; the final groupBy moves
    (bigint, bigint, bigint) rows once. Extends aws-samples/dbt-glue
    (no dedup surface in the reference; SemDeDup per Abbas et al. 2023).
    """
    from dbt_glue_spark.extensions.dedup import dup_clusters, keep_best_by

    m, pairs = within_cluster_pairs(
        df, k=k, max_iter=max_iter, threshold=threshold,
        id_col=id_col, vec_col=vec_col,
    )
    quality = df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q"))
    comps = dup_clusters(m.select(F.col("id").alias(id_col)), pairs, id_col).select(F.col(id_col).alias("id"), F.col("cluster_id").alias("__class"))
    scored = m.select("id").join(quality, "id").join(comps, "id")
    return keep_best_by(scored, ["__class"], "id", "__q")


def semantic_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 10,
    max_iter: int = 6,
    threshold: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark-contamination census — the semantic
    twin of ``dedup.contamination_pairs`` / ``crossmodal.
    paired_contamination``: for every eval vector, how many TRAIN
    vectors sit cosine ≥ ``threshold`` near it (``n_hits``) and how
    close the nearest one is (``max_sim``, 4 dp half-up). Syntactic
    decontamination misses paraphrase leaks; this is the check a
    benchmark runs in embedding space before trusting its scores.

    Both sides are k-means-bucketed into ONE shared cluster space
    (Lloyd over the union — deterministic, so the oracle can replay
    it); candidate comparisons are the within-cluster eval×train
    equi-join, never eval×corpus. Caller contract: the two id spaces
    must be disjoint (the union feeds lowest-id-seeded k-means; a
    collision would merge two distinct vectors' identities). Only
    contaminated eval vectors surface (n_hits ≥ 1).

    NULL vectors on either side are excluded (no geometry — the
    kmeans/cosine NULL contract).

    100 TB shape: train collapses to its cluster-bucketed projection
    once; the census join moves each train vector to exactly one
    cluster's comparisons; output is bounded by the eval set, which is
    benchmark-sized by definition.
    """
    def side(d: DataFrame, is_eval: int) -> DataFrame:
        return id_vectors(d, id_col, vec_col).withColumn("__is_eval", F.lit(is_eval))

    # the eval flag rides the bucketing frame (Lloyd trains on (id, v) only)
    m = (
        kmeans_buckets(side(train, 0).unionByName(side(eval_df, 1)), k, max_iter)
        .select("id", "cluster_id", "v", "__is_eval")
        .localCheckpoint()  # cut the Lloyd lineage before the self-join
    )
    hits = cluster_edges(
        m.filter(F.col("__is_eval") == 1), m.filter(F.col("__is_eval") == 0), threshold
    )
    return hits.groupBy(F.col("a.id").alias("eval_id")).agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.max("sim").alias("max_sim"),
    )


def kmeans_inertia(assigned: DataFrame) -> float:
    """Total within-cluster squared distance (decimal-summed, exact)."""
    row = assigned.agg(
        F.sum(F.col("sq_dist").cast("decimal(28,12)")).cast("double").alias("i")
    ).collect()[0]
    return float(row.i)


def cluster_representatives(assigned: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Diversity sampling: the single member closest to its centroid per
    cluster (min sq_dist, id tie-break) — the "pick one exemplar per
    topic" step after k-means bucketing.

    One k-row aggregate over the assignment output: min-struct argmin, no
    window, no shuffle beyond the k-group agg.
    """
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(F.col("sq_dist"), F.col(id_col).alias("id"))
            ).alias("best")
        )
        .select(
            "cluster_id",
            F.col("best.id").alias(id_col),
            F.col("best.sq_dist").alias("sq_dist"),
        )
    )


def _pc1_state(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    rounds: int,
    round_digits: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared power-iteration core: returns (centered (id,pos,xc) frame —
    persisted, the working set — and the converged 64-row direction
    (pos, vv))."""
    from dbt_glue_spark.extensions.dedup import _persist

    dims = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    mu = dims.groupBy("pos").agg(
        (F.sum(F.col("x").cast("decimal(28,10)")) / F.count("*"))
        .cast("double")
        .alias("m")
    )
    cd = _persist(
        dims.join(F.broadcast(mu), "pos").select(
            "id", "pos", (F.col("x") - F.col("m")).alias("xc")
        )
    )
    v = mu.select("pos", F.lit(0.125).alias("vv")).localCheckpoint(eager=True)
    for _ in range(rounds):
        s = (
            cd.join(F.broadcast(v), "pos")
            .groupBy("id")
            .agg(
                F.sum((F.col("xc") * F.col("vv")).cast("decimal(28,10)"))
                .cast("double")
                .alias("s")
            )
        )
        w = (
            cd.join(s, "id")
            .groupBy("pos")
            .agg(
                F.sum((F.col("s") * F.col("xc")).cast("decimal(28,10)"))
                .cast("double")
                .alias("w")
            )
        )
        n2 = w.agg(
            F.sum((F.col("w") * F.col("w")).cast("decimal(28,10)"))
            .cast("double")
            .alias("n2")
        )
        v = (
            w.join(F.broadcast(n2))
            .select(
                "pos",
                half_up_round(F.col("w") / F.sqrt(F.col("n2")), round_digits).alias(
                    "vv"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return cd, v


def power_iteration_pc1(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Top principal component by distributed power iteration: center the
    embedding matrix, iterate v ← normalize(Aᵀ(Av)) ``rounds`` times from
    a fixed all-0.125 start, and return each vector's projection onto the
    converged direction — (id, pc1_score). PC1 projections drive
    embedding whitening, dominant-direction removal (the all-but-the-top
    trick for sentence embeddings), drift monitoring, and 1-d curriculum
    ordering — the linear-algebra step of a curation pipeline.

    Determinism (the kmeans/pagerank discipline): every matrix-vector sum
    accumulates CAST(product AS DECIMAL(28,10)) — order-free, identical
    on any engine/partitioning; the per-round normalization is one double
    sqrt+divide from exact inputs, then half-up rounding re-quantizes v
    so error cannot accumulate across rounds. Fixed init ⇒ fixed sign.
    The oracle replays every round unrolled with the same literals.

    100 TB plan: one posexplode staging pass (the (id, pos, xc) frame is
    the working set, persisted + hash-partitioned by id); per round Av is
    a broadcast of the 64-row v into a keyed aggregate, and Aᵀs is one
    id-keyed join + (pos)-keyed aggregate of 64 rows — per-round cost is
    O(n·d) map work with d-row and n-row shuffles, the RowMatrix dataflow
    (MLlib gramian, minus RNG). localCheckpoint per round keeps the plan
    constant-size.
    """
    cd, v = _pc1_state(df, id_col, vec_col, rounds, round_digits)
    return (
        cd.join(F.broadcast(v), "pos")
        .groupBy("id")
        .agg(
            half_up_round(
                F.sum((F.col("xc") * F.col("vv")).cast("decimal(28,10)")).cast(
                    "double"
                ),
                round_digits,
            ).alias("pc1_score")
        )
        .select(F.col("id").alias(id_col), "pc1_score")
    )


def remove_dominant_direction(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """All-but-the-top post-processing (Mu & Viswanath 2018): project the
    centered embeddings off their dominant direction and report, per
    vector, the original norm, residual norm, and PC1 projection. Sentence
    /document embeddings concentrate a large share of their energy in one
    or two dominant directions that encode frequency, not meaning —
    removing them measurably improves similarity search, and the
    orig/resid norm pair is the monitoring signal for how anisotropic the
    embedding column has become.

    Same determinism and plan as :func:`power_iteration_pc1` (shared
    iteration), plus one final id-keyed join computing the residual —
    decimal-accumulated norms, half-up rounded. The residual uses the
    ROUNDED pc1_score (the quantized model value, not an internal
    double), so the oracle replays it exactly.
    """
    # re-run the shared iteration; cd/v persistence makes the second pass
    # over the staged frames cheap
    cd, v = _pc1_state(df, id_col, vec_col, rounds, round_digits)
    scores = (
        cd.join(F.broadcast(v), "pos")
        .groupBy("id")
        .agg(
            half_up_round(
                F.sum((F.col("xc") * F.col("vv")).cast("decimal(28,10)")).cast(
                    "double"
                ),
                round_digits,
            ).alias("pc1_score")
        )
    )
    resid = (
        cd.join(F.broadcast(v), "pos")
        .join(scores, "id")
        .select(
            "id",
            "xc",
            (F.col("xc") - F.col("pc1_score") * F.col("vv")).alias("r"),
            "pc1_score",
        )
    )
    return (
        resid.groupBy("id", "pc1_score")
        .agg(
            half_up_round(
                F.sqrt(
                    F.sum((F.col("xc") * F.col("xc")).cast("decimal(28,10)")).cast(
                        "double"
                    )
                ),
                round_digits,
            ).alias("orig_norm"),
            half_up_round(
                F.sqrt(
                    F.sum((F.col("r") * F.col("r")).cast("decimal(28,10)")).cast(
                        "double"
                    )
                ),
                round_digits,
            ).alias("resid_norm"),
        )
        .select(F.col("id").alias(id_col), "pc1_score", "orig_norm", "resid_norm")
    )


def label_separation(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fisher-style class-separation audit over a labeled embedding column:
    per label — member count, within-class scatter Σ‖x−μ_l‖², squared
    distance of the class centroid to the global centroid ‖μ_l−μ‖², the
    between-class term n_l·‖μ_l−μ‖², and their ratio. The label-quality /
    embedding-quality gate of a classifier-training pipeline: labels whose
    between/within ratio is low are either noisy or not linearly separated
    in this embedding space.

    Determinism discipline (same as kmeans_assign): centroids are decimal
    per-dimension means; every scatter sum quantizes its per-dim term to
    DECIMAL(28,12) before aggregation, so the distributed sums are
    order-free and bit-identical in the DuckDB oracle.

    100 TB shape: one posexplode pass over the vectors; the scatter
    aggregate shuffles (label, pos, x) narrow rows with map-side partial
    aggregation; everything after the first groupBy is ≤ labels×dims rows.
    No vector ever reaches the driver.
    """
    # NULL vectors excluded up front: posexplode would silently drop them
    # from the scatter sums while groupBy counts kept them — inconsistent
    # n_vecs vs w_ss (and a divergence from the oracle's IS NOT NULL scan)
    df = df.filter(F.col(vec_col).isNotNull())
    dims = df.select(
        F.col(label_col).alias("lbl"), F.col(vec_col).cast("array<double>").alias("v")
    ).select("lbl", F.posexplode("v").alias("pos", "x"))
    lm = dims.groupBy("lbl", "pos").agg(
        (F.sum(F.col("x").cast("decimal(28,12)")) / F.count("*"))
        .cast("double")
        .alias("m")
    )
    gm = dims.groupBy("pos").agg(
        (F.sum(F.col("x").cast("decimal(28,12)")) / F.count("*"))
        .cast("double")
        .alias("gmean")
    )
    within = (
        dims.join(lm, ["lbl", "pos"])
        .groupBy("lbl")
        .agg(
            F.sum(
                ((F.col("x") - F.col("m")) * (F.col("x") - F.col("m"))).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("w_ss")
        )
    )
    between = (
        lm.join(gm, "pos")
        .groupBy("lbl")
        .agg(
            F.sum(
                ((F.col("m") - F.col("gmean")) * (F.col("m") - F.col("gmean"))).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("c_d2")
        )
    )
    counts = df.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count("*").cast("bigint").alias("n_vecs")
    )
    return (
        counts.join(within, "lbl")
        .join(between, "lbl")
        .select(
            F.col("lbl").alias(label_col),
            "n_vecs",
            half_up_round(F.col("w_ss"), 6).alias("within_ss"),
            half_up_round(F.col("c_d2"), 6).alias("centroid_dist2"),
            half_up_round(F.col("n_vecs") * F.col("c_d2"), 6).alias("between_ss"),
            half_up_round(
                (F.col("n_vecs") * F.col("c_d2")) / F.col("w_ss"), 6
            ).alias("separation_ratio"),
        )
    )


def embedding_dim_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    var_threshold: float = 1e-4,
) -> DataFrame:
    """Per-dimension embedding statistics: mean, variance, and a
    collapsed flag (variance below ``var_threshold``) — the dimensional-
    collapse detector for embedding pipelines (dead dimensions waste
    index space and signal a degenerate encoder; Jing et al. 2022).

    Decimal-quantized sums of x and x² keep the distributed moments
    order-free; variance is the exact-expression m2 − m² of those two
    reproducible doubles. One posexplode pass, (pos, x) narrow shuffle
    with map-side partial agg, ≤ dims output rows.
    """
    # NULL vectors excluded (no geometry; oracle filters IS NOT NULL)
    dims = df.filter(F.col(vec_col).isNotNull()).select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x")
    )
    agg = dims.groupBy("dim").agg(
        (F.sum(F.col("x").cast("decimal(28,12)")) / F.count("*"))
        .cast("double")
        .alias("m"),
        (F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")) / F.count("*"))
        .cast("double")
        .alias("msq"),
    )
    var = F.col("msq") - F.col("m") * F.col("m")
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        half_up_round(F.col("m"), 6).alias("mean"),
        half_up_round(var, 6).alias("variance"),
        (var < F.lit(var_threshold)).alias("collapsed"),
    )
