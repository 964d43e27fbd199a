"""Embedding-side curation queries.

The embeddings table already carries kNN (brute/LSH/IVF/quantized),
k-means, SemDeDup-style prototypical dedup (``ext_semantic_dedup``) and
an LSH recall audit; this module adds:

- ``ext_semantic_keep_best`` — semantic dedup with QUALITY-ARGMAX
  survivor selection (``clustering.semantic_keep_best``): semantic
  classes = connected components of the within-k-means-cluster
  cosine ≥ 0.30 graph; each class keeps its best-quality member —
  the embedding-space twin of ``ext_cluster_keep_best`` (the
  existing ``semantic_dedup`` keeps the most PROTOTYPICAL member,
  which can silently drop high-quality paraphrases);
- ``ext_semantic_contamination`` — the paraphrase-leak census
  (``clustering.semantic_contamination``): per eval vector, how many
  train vectors sit cosine ≥ 0.30 near it in the shared k-means
  cluster space (syntactic decontamination misses paraphrases);
- ``ext_ivf_recall_audit`` — per-query recall@5 of the IVF index
  against exact brute force, upgrading the recall-vs-brute-force
  claim on ``ext_knn_ivf`` ("stays pytest-verified") to a CATALOG
  query with a DuckDB oracle — the rebuild-time monitoring query a
  production IVF index runs (the LSH twin is ``ext_ann_recall_audit``);
- ``ext_semantic_dedup_recall`` — the bucketing-honesty audit: of ALL
  cosine ≥ 0.30 pairs (exact all-pairs truth over a sampled slice —
  here the whole sf table), what fraction the within-cluster equi-join
  candidate generation finds (pairs crossing a k-means boundary are
  the recall loss SemDeDup accepts for its Σ n_c² candidate bound);
- ``ext_semantic_class_card`` — the per-cluster dedup data card:
  vectors, semantic classes, duplicate fraction per k-means cluster
  (exact ppm) — where in embedding space the corpus is redundant;
- ``ext_quantized_recall_audit`` — recall@5 of the int8-quantized
  index vs float brute force, completing the recall-audit family
  (LSH / IVF / quantized) — what a rebuild measures before trading
  4× memory for quantization error;
- ``streaming_embedding_frontier`` — the ingestion-side Kappa twin
  (``streaming.embedding_frontier_stream``): new LSH sign-buckets
  (8 hyperplanes — 256 possible, so the even-id ledger leaves
  genuinely new buckets at every sf) emitted exactly once against a
  static seen-bucket ledger; the oracle replays the hyperplane
  literals in SQL, so the compare is exact, not structural;
- ``ext_semantic_purity`` — per-cluster majority-label ppm over the
  labeled members (first catalog use of ``embeddings.label`` for
  clustering evaluation; NULL labels visible in n_vectors, out of
  the vote; ties to the lowest label);
- ``ext_ivf_cell_card`` — the IVF index-health census: per-cell
  vector count + exact ppm share of the inverted file (a skewed
  file makes nprobe cost unpredictable — the retrain/split signal);
- ``ext_semantic_dedup_incremental`` — incremental semantic
  admission: new vectors (odd ids) admitted iff no kept exemplar
  (even ids — the persisted ledger) sits at cosine ≥ 0.30 in the
  shared cluster space; the embedding twin of minhash_incremental's
  new-vs-ledger discipline, every new vector visible;
- ``ext_embedding_drift`` — reference-vs-current slice shares per
  k-means cluster in exact ppm + absolute shift (Σ shift/2 = total
  variation, no floats) — the embedding-space twin of the scalar
  PSI/JS monitors, exact instead of log-based.

Oracle style: every entry replays the SAME deterministic Lloyd
construction the Spark side runs (RNG-free lowest-id seeds, struct-min
ties, decimal centroid means — the ``_KMEANS_CTE`` recursive-CTE
discipline established by ``ext_kmeans_embeddings``), then mirrors the
downstream censuses exactly: component structure via recursive
transitive closure (the ``_CLUSTERS_SQL`` idiom), cosines through the
shared 4 dp half-up formula, quality = ``(vec_id * 7) % 100`` (id
arithmetic — exogenous, collision-bearing, closed-form), integer ppm
via bigint division. No floats cross engines un-rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_glue_spark.plans import streams
from dbt_glue_spark.plans.catalog import register
from dbt_glue_spark.plans.extension_queries import (
    _IVF_CTE,
    _KMEANS_CTE,
    _bucket_sql,
    _cos_sql,
)
from dbt_glue_spark.sources.registry import load_table


# Shared oracle tails over the replayed Lloyd assignment: m = (id, cid,
# v [, q]) and the within-cluster cosine≥0.30 edge set + its transitive
# closure. Kept as constants so the five oracles stay readably diffable.
_M_CTE = """
    , m AS (
      SELECT a2.id, (a2.best).cid AS cid, e2.v,
             CAST((a2.id * 7) % 100 AS BIGINT) AS q
      FROM assign a2 JOIN e e2 USING (id)
    )
"""

def _cos_closure_sql(a: str, b: str) -> str:
    """4 dp half-up cosine that is ERROR-FREE on any input — for oracles
    whose edge filter sits under a RECURSIVE closure. The canonical
    ``_cos_sql`` guards zero norms with a CASE whose guard ITSELF calls
    ``list_inner_product``, which hard-errors on NULL lists; under a
    recursive CTE DuckDB's evaluation can reach that call on rows the
    non-recursive plan never feeds it (observed on the nulls/dirty axes:
    identical edges CTE fine standalone, InvalidInput once ``reach``
    consumes it).

    Spark-law mirror, case by case: a NULL list, a NULL ELEMENT, or
    unequal lengths all make Spark's sequential ``F.aggregate`` fold
    return NULL (NULL poisons the fold; ``zip_with`` pads the shorter
    side with NULL). DuckDB's ``list_sum`` has AGGREGATE semantics —
    it SKIPS NULLs — so the bare arithmetic form would compute a
    partial dot product there instead of NULL; the CASE guard below
    pins those rows to NULL explicitly. The guard is error-free even
    if DuckDB evaluates both CASE branches eagerly (everything in the
    ELSE propagates NULL; NULLIF absorbs zero norms). Edge set verified
    identical to ``_cos_sql`` on sf0.001/sf0.01 and every pathological
    axis."""
    null_el = (
        f"({a} IS NULL OR {b} IS NULL OR len({a}) <> len({b})"
        f" OR len(list_filter({a}, x -> x IS NULL)) > 0"
        f" OR len(list_filter({b}, x -> x IS NULL)) > 0)"
    )
    return (
        f"CASE WHEN {null_el} THEN NULL ELSE "
        f"FLOOR(list_sum(list_transform(list_zip({a}, {b}), p -> p[1]*p[2]))"
        f" / NULLIF(sqrt(list_sum(list_transform({a}, x -> x*x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x*x))), 0)"
        f" * 10000 + 0.5) / 10000 END"
    )


_EDGES_CLOSURE_CTE = (
    """
    , edges AS MATERIALIZED (
      SELECT x.id AS id_a, y.id AS id_b
      FROM m x JOIN m y ON x.cid = y.cid AND x.id < y.id
      WHERE """
    + _cos_closure_sql("x.v", "y.v")
    + """ >= 0.30
    ),
    sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    classes AS (
      SELECT m.id, CAST(LEAST(m.id, COALESCE(MIN(r.b), m.id)) AS BIGINT)
               AS class_id
      FROM m LEFT JOIN reach r ON r.a = m.id
      GROUP BY m.id
    )
"""
)


@register(
    "ext_semantic_keep_best",
    _KMEANS_CTE
    + _M_CTE
    + _EDGES_CLOSURE_CTE
    + """
    , ranked AS (
      SELECT c.class_id, m.id, m.q,
             row_number() OVER (PARTITION BY c.class_id
                                ORDER BY m.q DESC, m.id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY c.class_id) AS n,
             MAX(m.q) OVER (PARTITION BY c.class_id) AS bq
      FROM classes c JOIN m ON m.id = c.id
    )
    SELECT CAST(id AS BIGINT) AS keep_id,
           CAST(n AS BIGINT) AS n_members,
           CAST(bq AS BIGINT) AS best_score
    FROM ranked WHERE rn = 1
    """,
    doc="Semantic dedup with quality-argmax survivor selection "
    "(clustering.semantic_keep_best): semantic classes are connected "
    "components of the within-k-means-cluster cosine>=0.30 graph; each "
    "class keeps its best-quality member (q = (vec_id*7)%100, ties to "
    "lowest id). The embedding-space twin of ext_cluster_keep_best; "
    "oracle replays Lloyd (recursive CTE), the edge set, the transitive "
    "closure, and the argmax window exactly. Candidates bounded per "
    "cluster (sum n_c^2, never corpus^2); components over V(E) only; "
    "the argmax rides min(struct(-q,id)) on ONE groupBy.",
)
def ext_semantic_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        ((F.col("vec_id") * 7) % 100).alias("q"),
    )
    return clustering.semantic_keep_best(
        emb, "q", k=10, max_iter=6, threshold=0.30
    )


@register(
    "ext_semantic_contamination",
    _KMEANS_CTE
    + _M_CTE
    + """
    , hits AS (
      SELECT ev.id AS eval_id,
             """
    + _cos_sql("ev.v", "tr.v")
    + """ AS sim
      FROM m ev JOIN m tr ON ev.cid = tr.cid
      WHERE ev.id % 10 = 0 AND tr.id % 10 <> 0
    )
    SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_hits, MAX(sim) AS max_sim
    FROM hits WHERE sim >= 0.30
    GROUP BY eval_id
    """,
    doc="Embedding-space benchmark-contamination census "
    "(clustering.semantic_contamination): eval slice = vec_id%10==0, "
    "train = the rest; per eval vector the count of train vectors at "
    "cosine>=0.30 within the SHARED k-means cluster space, plus the "
    "nearest hit (4dp). The paraphrase-leak check syntactic "
    "decontamination misses. Union-trained Lloyd is deterministic, so "
    "the oracle replays clustering + census exactly. Train moves to "
    "one cluster's comparisons each; output bounded by the eval set.",
)
def ext_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 10 != 0)
    ev = emb.filter(F.col("vec_id") % 10 == 0)
    return clustering.semantic_contamination(
        train, ev, k=10, max_iter=6, threshold=0.30
    )


@register(
    "ext_ivf_recall_audit",
    _IVF_CTE
    + """
    , approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, c.id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY """
    + _cos_sql("q.v", "c.v")
    + """ DESC, c.id) AS rk
        FROM probes p
        JOIN cells c ON c.cell = p.cell
        JOIN e q ON q.id = p.query_id
        WHERE c.id <> p.query_id
      ) t WHERE rk <= 5
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.id AS query_id, c.id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.id
                 ORDER BY """
    + _cos_sql("q.v", "c.v")
    + """ DESC, c.id) AS rk
        FROM (SELECT id, v FROM e WHERE id < 10) q, e c
        WHERE c.id <> q.id
      ) t WHERE rk <= 5
    )
    SELECT ex.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           FLOOR(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000.0
             AS recall_at_5
    FROM exact ex
    LEFT JOIN approx a ON a.query_id = ex.query_id
                       AND a.neighbor_id = ex.neighbor_id
    GROUP BY ex.query_id
    """,
    doc="IVF index-quality audit: per-query recall@5 of the IVF index "
    "(8 centroids, 3 Lloyd rounds, nprobe=3 — the ext_knn_ivf "
    "construction) against exact brute force — the rebuild-time "
    "monitoring query a production vector index runs; upgrades "
    "ext_knn_ivf's 'recall stays pytest-verified' to a catalog oracle. "
    "Probe cost only: the corpus is scanned for 10 sampled queries, "
    "never joined corpus^2; the codebook is k rows broadcast.",
)
def ext_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = similarity.knn_ivf(emb, queries, k=5, n_centroids=8, nprobe=3)
    return similarity.recall_at_k(emb, queries, approx, k=5)


@register(
    "ext_semantic_dedup_recall",
    _KMEANS_CTE
    + _M_CTE
    + """
    , t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM (
        SELECT 1 FROM e x JOIN e y ON x.id < y.id
        WHERE """
    + _cos_sql("x.v", "y.v")
    + """ >= 0.30
      )
    ),
    f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_found FROM (
        SELECT 1 FROM m x JOIN m y ON x.cid = y.cid AND x.id < y.id
        WHERE """
    + _cos_sql("x.v", "y.v")
    + """ >= 0.30
      )
    )
    SELECT n_true AS n_true_pairs, n_found AS n_bucketed_pairs,
           CASE WHEN n_true = 0 THEN NULL
                ELSE CAST((n_found * 1000000) // n_true AS BIGINT)
           END AS recall_ppm
    FROM t, f
    """,
    doc="Semantic-dedup bucketing-honesty audit: of ALL cosine>=0.30 "
    "pairs (exact all-pairs truth), the fraction the within-k-means-"
    "cluster candidate join finds — pairs straddling a cluster boundary "
    "are the recall loss SemDeDup trades for its per-cluster quadratic "
    "bound. Exact bigint ppm. The semantic twin of ext_lsh_recall_audit "
    "(two 1-row aggregates cross-joined, nothing driver-side); at "
    "100 TB the truth side runs on a sampled slice — here the sf table "
    "IS the slice.",
)
def ext_semantic_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering, similarity

    emb = load_table(spark, sf_dir, "embeddings")
    true_pairs = similarity.all_pairs_cosine(emb, threshold=0.30, buckets=0)
    _m, found = clustering.within_cluster_pairs(emb, k=10, max_iter=6, threshold=0.30)
    nt = true_pairs.agg(F.count("*").cast("bigint").alias("n_true_pairs"))
    nf = found.agg(F.count("*").cast("bigint").alias("n_bucketed_pairs"))
    return nt.crossJoin(nf).select(
        "n_true_pairs",
        "n_bucketed_pairs",
        F.when(
            F.col("n_true_pairs") > 0,
            F.expr("(n_bucketed_pairs * 1000000) div n_true_pairs"),
        )
        .cast("bigint")
        .alias("recall_ppm"),
    )


@register(
    "ext_semantic_class_card",
    _KMEANS_CTE
    + _M_CTE
    + _EDGES_CLOSURE_CTE
    + """
    SELECT m.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(DISTINCT c.class_id) AS BIGINT) AS n_classes,
           CAST(((COUNT(*) - COUNT(DISTINCT c.class_id)) * 1000000)
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM m JOIN classes c ON c.id = m.id
    GROUP BY m.cid
    """,
    doc="Per-cluster semantic-dedup data card: vectors, semantic classes "
    "(connected components of the within-cluster cosine>=0.30 graph), "
    "and the duplicate fraction in exact ppm — WHERE in embedding space "
    "the corpus is redundant (the card that decides which topic buckets "
    "get aggressive semantic dedup). ONE k-row groupBy over the "
    "component labels; components never span clusters, so the card is "
    "exact. Oracle replays Lloyd + closure + census.",
)
def ext_semantic_class_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering
    from dbt_glue_spark.extensions.dedup import dup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    m, pairs = clustering.within_cluster_pairs(emb, k=10, max_iter=6, threshold=0.30)
    comps = dup_clusters(
        m.select(F.col("id").alias("vec_id")), pairs, "vec_id", 50
    ).select(F.col("vec_id").alias("id"), F.col("cluster_id").alias("__class"))
    return (
        m.select("id", "cluster_id")
        .join(comps, "id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.count_distinct("__class").cast("bigint").alias("n_classes"),
        )
        .select(
            "cluster_id",
            "n_vectors",
            "n_classes",
            F.expr("((n_vectors - n_classes) * 1000000) div n_vectors")
            .cast("bigint")
            .alias("dup_ppm"),
        )
    )


# Quantized-index recall: the int8 replay CTE from ext_knn_quantized,
# extended with the exact float brute-force side and the recall join —
# the third index tier (brute/LSH/IVF/quantized) gets its rebuild-time
# monitoring query, completing the recall-audit family.
_QUANT_CTE = """
    WITH fl AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    base AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax
      FROM fl
    ),
    qz AS (
      SELECT vec_id,
             CASE WHEN amax > 0
                  THEN list_transform(
                         v, x -> CAST(FLOOR(x * 127 / amax + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
      FROM base
    ),
    prq AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 10),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             list_sum([qq[i] * c.q[i]
                       for i in generate_series(1, len(qq))]) AS dotq,
             sqrt(CAST(list_sum([qq[i] * qq[i]
                    for i in generate_series(1, len(qq))]) AS DOUBLE))
             * sqrt(CAST(list_sum([c.q[i] * c.q[i]
                    for i in generate_series(1, len(c.q))]) AS DOUBLE)) AS nn
      FROM prq, qz c WHERE c.vec_id <> query_id
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY
            FLOOR(CASE WHEN nn > 0 THEN CAST(dotq AS DOUBLE) / nn END
                  * 10000 + 0.5) / 10000 DESC, neighbor_id) AS rk
        FROM scored) t
      WHERE rk <= 5
    )
"""


@register(
    "ext_quantized_recall_audit",
    _QUANT_CTE
    + """
    , exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY """
    + _cos_sql("q.v", "c.v")
    + """ DESC, c.vec_id) AS rk
        FROM (SELECT vec_id, v FROM fl WHERE vec_id < 10) q, fl c
        WHERE c.vec_id <> q.vec_id
      ) t WHERE rk <= 5
    )
    SELECT ex.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           FLOOR(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000.0
             AS recall_at_5
    FROM exact ex
    LEFT JOIN approx a ON a.query_id = ex.query_id
                       AND a.neighbor_id = ex.neighbor_id
    GROUP BY ex.query_id
    """,
    doc="Quantized-index quality audit: per-query recall@5 of the int8 "
    "symmetric-quantized kNN (similarity.knn_quantized — amax/127 "
    "scale, half-up codes, exact integer dot products) against float "
    "brute force — what an index rebuild measures before trading 4x "
    "memory for quantization error. Completes the recall-audit family "
    "(LSH: ext_ann_recall_audit; IVF: ext_ivf_recall_audit). Probe "
    "cost only: corpus scanned per 10-query probe set, never corpus^2.",
)
def ext_quantized_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = similarity.knn_quantized(emb, queries, k=5)
    return similarity.recall_at_k(emb, queries, approx, k=5)


@register(
    "streaming_embedding_frontier",
    f"""
    WITH base AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
    ),
    b AS (
      SELECT vec_id, {_bucket_sql('embedding::DOUBLE[]', planes=8)} AS bk
      FROM base
    ),
    led AS (SELECT DISTINCT bk FROM b WHERE vec_id % 2 = 0),
    cls AS (SELECT bk, COUNT(*) AS class_size FROM b GROUP BY bk),
    new_cls AS (
      SELECT c.class_size
      FROM cls c LEFT JOIN led l ON c.bk = l.bk
      WHERE l.bk IS NULL
    )
    SELECT CAST(class_size AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes
    FROM new_cls GROUP BY class_size
    """,
    doc="Streaming embedding-space frontier (streaming.embedding_"
    "frontier_stream): the full embeddings table streams in (4-file "
    "parquet source, availableNow) against a seen-bucket ledger built "
    "from the even vec_ids; every LSH sign-bucket containing only odd "
    "ids is NEW and must be emitted exactly once, in any file arrival "
    "order — the monitor that notices the corpus entering a new region "
    "of embedding space at ingestion. The spec joins the emitted "
    "buckets back to the batch bucket manifest and reports the "
    "class-size census of the new buckets; the oracle replays the "
    "hyperplane buckets in SQL (the _bucket_sql literals), so the "
    "compare is exact, not structural. Bucketing is a map-only "
    "Catalyst expression per micro-batch; frontier state is one "
    "<=2^planes-entry string set (8 planes: 256 possible, so the "
    "even-id ledger leaves genuinely new buckets at every sf).",
)
def streaming_embedding_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions.similarity import sign_bucket
    from dbt_glue_spark.streaming.pipelines import embedding_frontier_stream

    emb = load_table(spark, sf_dir, "embeddings")
    nonnull = emb.filter(F.col("embedding").isNotNull())
    ledger = nonnull.filter(F.col("vec_id") % 2 == 0).select(
        sign_bucket(F.col("embedding"), 64, 8).alias("bucket")
    )
    # normalize the staged element type: sf dirs store float elements,
    # pathological axes double — cast on write so every axis stages the
    # same stream schema (sign_bucket casts to double either way, so
    # bucket values are unchanged)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    with streams.staged(vecs, 4) as stream:
        emitted = streams.to_memory(
            embedding_frontier_stream(stream, ledger, planes=8),
            "append",
            "streaming_embedding_frontier",
        )
    manifest = nonnull.select(
        sign_bucket(F.col("embedding"), 64, 8).alias("bucket")
    ).groupBy("bucket").agg(F.count("*").alias("class_size"))
    return (
        emitted.join(manifest, "bucket")
        .groupBy("class_size")
        .agg(F.count("*").cast("bigint").alias("n_classes"))
        .select(F.col("class_size").cast("bigint"), "n_classes")
    )


@register(
    "ext_semantic_purity",
    _KMEANS_CTE
    + """
    , lab AS (
      SELECT a2.id, (a2.best).cid AS cid, e3.label
      FROM assign a2 JOIN embeddings e3 ON e3.vec_id = a2.id
    ),
    per AS (
      SELECT cid, label, COUNT(*) AS c
      FROM lab WHERE label IS NOT NULL GROUP BY cid, label
    ),
    tot AS (
      SELECT cid, COUNT(*) AS n_vectors, COUNT(label) AS n_labeled
      FROM lab GROUP BY cid
    ),
    maj AS (
      SELECT cid, label AS majority_label, c AS n_majority FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY cid ORDER BY c DESC, label ASC) AS rn
        FROM per) t
      WHERE rn = 1
    )
    SELECT t.cid AS cluster_id,
           CAST(t.n_vectors AS BIGINT) AS n_vectors,
           CAST(t.n_labeled AS BIGINT) AS n_labeled,
           CAST(m.majority_label AS INT) AS majority_label,
           CAST(m.n_majority AS BIGINT) AS n_majority,
           CASE WHEN t.n_labeled = 0 THEN NULL
                ELSE CAST((m.n_majority * 1000000) // t.n_labeled AS BIGINT)
           END AS purity_ppm
    FROM tot t LEFT JOIN maj m USING (cid)
    """,
    doc="Cluster-label purity audit: per k-means cluster, the majority "
    "label's exact ppm share of the labeled members (ties to the lowest "
    "label; NULL labels counted in n_vectors, excluded from the vote; "
    "an unlabeled cluster reports NULL purity) — the clustering-quality "
    "card a labeled slice buys: low purity means the embedding space "
    "does not separate the label classes k-means is being trusted to "
    "bucket. First catalog use of embeddings.label for clustering "
    "evaluation (label_separation covers the Fisher-ratio view). ONE "
    "(cluster,label) groupBy + a k-row argmax — no shuffle wider than "
    "k*|labels| rows.",
)
def ext_semantic_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = clustering.kmeans_assign(emb, k=10, max_iter=6)
    lab = assigned.select(F.col("vec_id"), "cluster_id").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    per = (
        lab.filter(F.col("label").isNotNull())
        .groupBy("cluster_id", "label")
        .agg(F.count("*").alias("c"))
    )
    maj = (
        per.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("c"), (-F.col("label")).alias("nl"))
            ).alias("__m")
        )
        .select(
            "cluster_id",
            (-F.col("__m.nl")).cast("int").alias("majority_label"),
            F.col("__m.c").cast("bigint").alias("n_majority"),
        )
    )
    tot = lab.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.count("label").cast("bigint").alias("n_labeled"),
    )
    return tot.join(maj, "cluster_id", "left").select(
        "cluster_id",
        "n_vectors",
        "n_labeled",
        "majority_label",
        "n_majority",
        F.when(
            F.col("n_labeled") > 0,
            F.expr("(n_majority * 1000000) div n_labeled"),
        )
        .cast("bigint")
        .alias("purity_ppm"),
    )


@register(
    "ext_ivf_cell_card",
    _IVF_CTE
    + """
    , census AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM cells
      GROUP BY cell
    ),
    total AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n FROM census)
    SELECT c.cell, c.n_vectors,
           CAST((c.n_vectors * 1000000) // t.n AS BIGINT) AS share_ppm
    FROM census c, total t
    """,
    doc="IVF index-health card: per-cell vector count and exact ppm "
    "share of the inverted file (8 centroids, 3 Lloyd rounds — the "
    "ext_knn_ivf codebook). A skewed inverted file makes nprobe cost "
    "unpredictable (one hot cell dominates every probe) — this is the "
    "census a production index reads after every rebuild to decide "
    "whether to retrain or split cells. ONE k-row groupBy + a 1-row "
    "broadcast total; oracle replays codebook training + assignment.",
)
def ext_ivf_cell_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    cells = clustering.kmeans_buckets(clustering.id_vectors(emb), k=8, max_iter=3)
    census = cells.groupBy(F.col("cluster_id").alias("cell")).agg(
        F.count("*").cast("bigint").alias("n_vectors")
    )
    total = census.agg(F.sum("n_vectors").cast("bigint").alias("__n"))
    return census.crossJoin(F.broadcast(total)).select(
        "cell",
        "n_vectors",
        F.expr("(n_vectors * 1000000) div __n").cast("bigint").alias("share_ppm"),
    )


@register(
    "ext_semantic_dedup_incremental",
    _KMEANS_CTE
    + """
    , m2 AS (
      SELECT a2.id, (a2.best).cid AS cid, e2.v
      FROM assign a2 JOIN e e2 USING (id)
    ),
    hits AS (
      SELECT nv.id AS vec_id, COUNT(*) AS h
      FROM m2 nv JOIN m2 ex ON nv.cid = ex.cid
      WHERE nv.id % 2 = 1 AND ex.id % 2 = 0
        AND """
    + _cos_sql("nv.v", "ex.v")
    + """ >= 0.30
      GROUP BY nv.id
    )
    SELECT nv.id AS vec_id,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS n_exemplar_hits,
           (h.h IS NULL) AS admitted
    FROM m2 nv LEFT JOIN hits h ON h.vec_id = nv.id
    WHERE nv.id % 2 = 1
    """,
    doc="Incremental semantic admission — the embedding twin of "
    "ext_minhash_incremental's new-vs-ledger discipline: each NEW "
    "vector (odd vec_id) is admitted iff NO kept exemplar (even "
    "vec_id — the ledger a previous dedup cycle persisted) sits at "
    "cosine>=0.30 in its shared k-means cluster; rejected vectors "
    "surface with their exemplar hit count (visible exclusion — every "
    "new vector gets a row). New-new duplicates are deliberately NOT "
    "resolved here (that is the next full keep-best cycle's job — the "
    "incremental contract trades one cycle of intra-batch redundancy "
    "for never re-deduplicating the corpus). 100 TB shape: the ledger "
    "moves to one cluster's comparisons each; cost is new-batch-sized, "
    "never corpus x corpus.",
)
def ext_semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    m = (
        clustering.kmeans_buckets(clustering.id_vectors(emb), k=10, max_iter=6)
        .select("id", "cluster_id", "v")
        .localCheckpoint()
    )
    new = m.filter(F.col("id") % 2 == 1)
    hits = (
        clustering.cluster_edges(new, m.filter(F.col("id") % 2 == 0), 0.30)
        .groupBy(F.col("a.id").alias("vec_id"))
        .agg(F.count("*").cast("bigint").alias("__h"))
    )
    return new.select(F.col("id").alias("vec_id")).join(hits, "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("__h"), F.lit(0)).cast("bigint").alias(
            "n_exemplar_hits"
        ),
        F.col("__h").isNull().alias("admitted"),
    )


@register(
    "ext_embedding_drift",
    _KMEANS_CTE
    + """
    , m2 AS (
      SELECT a2.id, (a2.best).cid AS cid FROM assign a2
    ),
    per AS (
      SELECT cid,
             CAST(COUNT(*) FILTER (WHERE id % 2 = 0) AS BIGINT) AS n_ref,
             CAST(COUNT(*) FILTER (WHERE id % 2 = 1) AS BIGINT) AS n_cur
      FROM m2 GROUP BY cid
    ),
    tot AS (
      SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc
      FROM per
    )
    SELECT p.cid AS cluster_id, p.n_ref, p.n_cur,
           CAST((p.n_ref * 1000000) // NULLIF(t.tr, 0) AS BIGINT)
             AS ref_share_ppm,
           CAST((p.n_cur * 1000000) // NULLIF(t.tc, 0) AS BIGINT)
             AS cur_share_ppm,
           CAST(ABS((p.n_ref * 1000000) // NULLIF(t.tr, 0)
                    - (p.n_cur * 1000000) // NULLIF(t.tc, 0)) AS BIGINT)
             AS shift_ppm
    FROM per p, tot t
    """,
    doc="Embedding-space distribution drift card: reference slice (even "
    "vec_id) vs current slice (odd) bucketed into ONE shared k-means "
    "space; per cluster the exact ppm share of each side and the "
    "absolute share shift — summing shift_ppm/2 gives total-variation "
    "drift in ppm with no floating point anywhere (the embedding-space "
    "twin of the scalar PSI/JS monitors in extensions/audit.py, exact "
    "instead of log-based). The monitor a curation pipeline reads to "
    "notice topic mixture moving between crawls. ONE k-row census + a "
    "1-row broadcast total.",
)
def ext_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_glue_spark.extensions import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = clustering.kmeans_assign(emb, k=10, max_iter=6)
    per = assigned.groupBy("cluster_id").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    tot = per.agg(
        F.sum("n_ref").cast("bigint").alias("__tr"),
        F.sum("n_cur").cast("bigint").alias("__tc"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "cluster_id",
        "n_ref",
        "n_cur",
        F.expr("(n_ref * 1000000) div __tr").cast("bigint").alias(
            "ref_share_ppm"
        ),
        F.expr("(n_cur * 1000000) div __tc").cast("bigint").alias(
            "cur_share_ppm"
        ),
        F.expr(
            "abs((n_ref * 1000000) div __tr - (n_cur * 1000000) div __tc)"
        )
        .cast("bigint")
        .alias("shift_ppm"),
    )
