"""Similarity search over embedding columns (array<float>).

Driver-mandated extension (not in the reference). Two tiers:

- ``knn_bruteforce`` — exact top-k cosine. The query side is broadcast
  (small set of probe vectors); the corpus side streams through a single
  narrow scan — no shuffle of the corpus at all. This is the correct
  baseline even at 100 TB when |queries| is small: cost = one pass.
- ``knn_lsh`` / ``all_pairs_cosine(buckets>0)`` — random-hyperplane LSH:
  corpus and queries are bucketed by sign-pattern of projections onto
  deterministic pseudo-random hyperplanes; only same-bucket pairs are
  scored. Turns the corpus-side cross join into an equi-join Catalyst
  shuffles on the bucket key. Recall < 1.0 by construction; band multiple
  tables for higher recall.

Every approximate index (``knn_lsh``, ``knn_ivf``, ``knn_quantized``) is
audited by the one operator ``recall_at_k``: its top-k answer
left-joined to the exact ``knn_bruteforce`` answer on (query, neighbor)
and folded to per-query recall@k.

All vector math is Catalyst higher-order functions in double precision
(functions/vectors.py) — no Python UDF in any hot path. Every joined
pair is scored by the one pair kernel ``vectors.cosine_pairs`` over
``clustering.id_vectors`` frames, which takes each norm once per row
before the join, and every kNN operator ranks through the one top-k
tail :func:`_top_k`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_glue_spark.extensions import clustering
from dbt_glue_spark.functions.scalars import half_up_round
from dbt_glue_spark.functions.vectors import cosine_pairs, dot


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane (pure function of
    (dim, plane_idx) — identical on every executor and every engine)."""
    # xorshift-free LCG so the oracle can reproduce it if ever needed
    vals = []
    state = 2654435761 * (plane_idx + 1) % (2**32)
    for _ in range(dim):
        state = (1103515245 * state + 12345) % (2**31)
        vals.append((state / float(2**31)) * 2.0 - 1.0)
    return vals


def sign_bucket(vec: Column, dim: int, planes: int) -> Column:
    """LSH bucket id: concatenated signs of <vec, hyperplane_i>."""
    bits = []
    for p in range(planes):
        d = dot(vec, F.array(*map(F.lit, _hyperplane(dim, p))))
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _top_k(scored: DataFrame, k: int, sim_col: str = "sim") -> DataFrame:
    """The one kNN tail over scored ``a``(corpus)/``b``(query) pairs:
    drop self-matches, rank each query's neighbors by ``sim_col``
    descending (NULLs last), ties to the lower neighbor id, keep the top
    ``k``. Returns (query_id, neighbor_id, ``sim_col``, rk)."""
    w = Window.partitionBy("query_id").orderBy(F.desc(sim_col), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("a.id") != F.col("b.id"))
        .select(F.col("b.id").alias("query_id"), F.col("a.id").alias("neighbor_id"), sim_col)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast the (small) query set against the corpus scan; rank with a
    window partitioned by query id. Ties broken by neighbor id so results
    are total-ordered and engine-stable. Self-matches excluded.

    Returns (query_id, neighbor_id, sim) — sim half-up rounded so the
    DuckDB oracle (same formula) hashes identically.

    Rows with a NULL vector are excluded on both sides — no geometry, no
    similarity (and DuckDB's list_inner_product hard-errors on NULL, so
    the oracles filter `embedding IS NOT NULL` to the same effect).
    """
    c = clustering.id_vectors(corpus, id_col, vec_col)
    q = clustering.id_vectors(queries, id_col, vec_col)
    return _top_k(cosine_pairs(c, F.broadcast(q), digits=round_digits), k)


def recall_at_k(corpus: DataFrame, queries: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Index-quality audit: per-query recall@k of an approximate top-k
    answer against exact brute force — the rebuild-time check a
    production vector index runs on a sampled probe set.

    The exact side is ``knn_bruteforce(corpus, queries, k=k)``; ``approx``
    is any (query_id, neighbor_id, …) top-k frame over the same inputs.
    Each exact (query, neighbor) row is left-joined to ``approx`` and
    counted a hit when the approximate index also returned it, so a
    query with no approximate answer still gets its row (recall 0) and a
    query with no geometry (NULL vector) gets none.

    Returns (query_id, n_exact bigint, n_hits bigint, recall_at_<k>):
    ``n_exact`` is the denominator — below ``k`` when the corpus holds
    fewer than k other vectors — and the recall is half-up rounded to
    6 dp.
    """
    exact = knn_bruteforce(corpus, queries, k=k).select("query_id", "neighbor_id")
    approx = approx.select(F.col("query_id"), F.col("neighbor_id").alias("a_neighbor"))
    joined = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["a_neighbor"]),
        "left",
    ).select(exact["query_id"].alias("qid"), "neighbor_id", "a_neighbor")
    return (
        joined.groupBy("qid")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.when(F.col("a_neighbor").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            F.col("qid").alias("query_id"),
            "n_exact",
            "n_hits",
            half_up_round(F.col("n_hits") / F.col("n_exact"), 6).alias(f"recall_at_{k}"),
        )
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    dim: int = 64,
    planes: int = 6,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: score only same-LSH-bucket (query, corpus) pairs.

    The bucket equi-join replaces the broadcast cross join — this is the
    scale path when the query set itself is large (e.g. corpus-vs-corpus).
    2^planes buckets; expected candidate fraction 2^-planes per table pair.
    """
    # NULL vectors excluded (no geometry) — matches the oracle scan filter
    def bucketed(df: DataFrame) -> DataFrame:
        v = clustering.id_vectors(df, id_col, vec_col)
        return v.withColumn("__b", sign_bucket(F.col("v"), dim, planes))

    on = F.col("a.__b") == F.col("b.__b")
    return _top_k(cosine_pairs(bucketed(corpus), bucketed(queries), on, round_digits), k)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    round_digits: int = 4,
) -> DataFrame:
    """IVF approximate kNN: partition the corpus into centroid cells, probe
    only the ``nprobe`` nearest cells per query.

    The scale path when LSH recall is insufficient: corpus is bucketed once
    (an equi-join key materializes the inverted file), queries fan out to
    nprobe cells → candidate fraction ≈ nprobe/n_centroids. Recall tunes
    with nprobe. All vector math stays in Catalyst expressions.

    The codebook is the shared Lloyd's k-means of ``extensions.clustering``
    (``n_centroids`` lowest-id seeds, 3 rounds, decimal means): the corpus
    cells are its bucketing frame, and each query's probes are the
    ``nprobe`` first centroids in the same (distance, cid) order the
    nearest-centroid step takes the minimum of. An empty corpus trains no
    centroid, so no query probes a cell and the result is empty.
    """
    # NULL vectors excluded (no geometry) — matches the oracle scan filter
    corpus = clustering.id_vectors(corpus, id_col, vec_col)
    centroids = clustering.lloyd_centroids(corpus, n_centroids, 3)
    corpus_cells = clustering.nearest_centroid(corpus, centroids).select(
        "id", "v", F.col("cluster_id").alias("cell")
    )
    # query → nprobe nearest cells
    wq = Window.partitionBy("id").orderBy(F.asc("s.d2"), F.asc("s.cid"))
    probes = (
        clustering.centroid_scores(clustering.id_vectors(queries, id_col, vec_col), centroids)
        .withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= nprobe)
        .select("id", "v", F.col("s.cid").alias("cell"))
    )
    on = F.col("a.cell") == F.col("b.cell")
    return _top_k(cosine_pairs(corpus_cells, F.broadcast(probes), on, round_digits), k)


def all_pairs_cosine(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    buckets: int = 0,
    dim: int = 64,
    round_digits: int = 4,
) -> DataFrame:
    """All pairs with cosine ≥ threshold. buckets=0 → exact (self cross
    join, only viable for small/filtered inputs); buckets=p → LSH-bucketed
    equi-join (approximate, scale path).

    Returns (id_a, id_b, sim), id_a < id_b.

    NULL vectors are excluded (no geometry; oracle twin filters
    ``embedding IS NOT NULL``).
    """
    base = clustering.id_vectors(df, id_col, vec_col)
    if buckets > 0:
        base = base.withColumn("__b", sign_bucket(F.col("v"), dim, buckets))
        cond = (F.col("a.__b") == F.col("b.__b")) & (F.col("a.id") < F.col("b.id"))
    else:
        cond = F.col("a.id") < F.col("b.id")
    return (
        cosine_pairs(base, base, cond, round_digits)
        .filter(F.col("sim") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "sim")
    )


def centroid_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = -0.15,
) -> DataFrame:
    """Embedding sanity gate: cosine of every vector to the corpus
    centroid, flagging vectors below ``threshold`` as outliers — the
    cheap screen for corrupt/zeroed/mis-normalized embeddings (and, on
    real model embeddings, gross domain outliers) run before any
    ANN/clustering stage trusts the column.

    Scale shape: one posexplode pass builds the per-dimension centroid
    (|dim| rows — broadcasts anywhere), a second aggregates per-vector
    dot/norm against it; the corpus never shuffles full vectors, only
    (id, dim, value) triples into a map-side-combined sum. Decimal-cast
    accumulation keeps every sum order-independent, so the score is
    bit-identical across engines and partitionings.
    """
    pos = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    cent = pos.groupBy("dim").agg(
        (F.sum(F.col("v").cast("decimal(28,10)")) / F.count("*"))
        .cast("double")
        .alias("c")
    )
    j = pos.join(F.broadcast(cent), "dim")
    per = j.groupBy("id").agg(
        F.sum((F.col("v") * F.col("c")).cast("decimal(28,10)"))
        .cast("double")
        .alias("dot"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,10)"))
        .cast("double")
        .alias("nv"),
    )
    nc = cent.agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(28,10)"))
        .cast("double")
        .alias("nc")
    )
    # try_divide: an all-zero/corrupt vector has nv=0 → 0/0, which under
    # ANSI mode (Spark 4 default) would abort the whole job — one corrupt
    # embedding must not kill the scan. try_divide yields NULL instead.
    sim = half_up_round(
        F.try_divide(F.col("dot"), F.sqrt(F.col("nv") * F.col("nc"))), 4
    )
    # Undefined cosine is exactly the case this gate screens for, so it
    # counts as an outlier rather than silently passing as NULL.
    undefined = sim.isNull() | F.isnan(sim)
    return per.crossJoin(F.broadcast(nc)).select(
        F.col("id").alias(id_col),
        sim.alias("centroid_sim"),
        F.when(undefined, F.lit(True)).otherwise(sim < threshold).alias("outlier"),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_candidates: int = 20,
    k: int = 8,
    lam: float = 0.7,
    mu: float = 0.3,
    round_digits: int = 4,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from each query's top-``n``
    cosine candidates, greedily select ``k`` results maximizing
    ``lam·sim(d,q) − mu·max_{s∈selected} sim(d,s)`` — the standard
    diversity-aware retrieval step (RAG context assembly, diverse
    exemplar picking). ``mu`` is passed explicitly rather than computed
    as ``1−lam`` so both engines evaluate the same double literal.

    Determinism: candidate and pairwise sims are half-up rounded doubles,
    the MMR expression is the same literal arithmetic on both engines,
    and every argmax tie-breaks on neighbor_id.

    100 TB shape (r13 form): candidates come from knn_bruteforce
    (broadcast queries, zero corpus shuffle); their vectors ride back in
    via ONE broadcast join (candidates are ≤ |queries|·n rows, so the
    corpus side streams map-side); the greedy k-round selection AND the
    per-query ≤ n² pair-sim matrix both run once per query inside a
    grouped Arrow map. Re-ranking B queries is therefore ONE shuffle of
    (id, id, sim, vector) candidate rows + an embarrassingly parallel
    per-group loop — the r12 form additionally paid two candidate⋈emb
    joins, a query_id-keyed n² pair self-join and a second cogroup
    exchange; the r11 form ran k sequential cluster-wide join rounds
    with a localCheckpoint barrier each (8 jobs per call — measured
    4.1 s for 4 queries × 20 candidates at sf0.1). The candidate sims
    crossing the Python boundary are the JVM's already-rounded doubles,
    and the pair sims are computed by a bit-exact Python replica of the
    identical JVM expression chain (sequential IEEE folds, correctly-
    rounded sqrt, half-up floor rounding with Spark's floor→long
    conversion semantics) — see the inline notes at _cos/_hur; the
    selection arithmetic (lam·sim − mu·pen on IEEE doubles, NULL
    semantics, id tie-breaks) replicates the original join formulation
    exactly.
    """
    # NOT persisted: cand's references sit on the identical knn window
    # subtree — AQE stage reuse covers them (r12 A/B medians 4.5 s cached
    # vs 4.0 s not, under heavy box noise; consistent with every other
    # persist A/B)
    cand = knn_bruteforce(
        corpus, queries, vec_col, id_col, k=n_candidates,
        round_digits=round_digits,
    ).select("query_id", "neighbor_id", "sim")
    # r13 (guide §2.4): the per-query n² pair-sim matrix is no longer a
    # JVM self-join — the candidate VECTORS ride into the cogrouped
    # greedy (one broadcast join back onto the corpus: candidates are
    # ≤ |queries|·n rows, bounded by the knn broadcast contract, so the
    # corpus side streams map-side and is never shuffled), and the ≤ n²
    # pair sims are computed inside the Arrow group by a bit-exact
    # replica of the JVM expression chain (see _cos/_hur below). This
    # removes the two candidate⋈emb joins, the query_id-keyed pair
    # self-join and the second cogroup exchange — the former plan's
    # SortMergeJoin pair (6 printed Exchanges → 3, 2 cogroup inputs →
    # 1); the Python boundary now carries n·d floats per query instead
    # of n² pre-rounded sims (1280 vs ≤1200 values at n=20, d=64 — a
    # wash in bytes, two fewer shuffles in passes). Corpus ids are
    # unique by contract (vec_id is the embeddings key); a duplicated id
    # would duplicate candidate rows here where the old shape deduped
    # them implicitly.
    emb = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    candv = emb.join(
        F.broadcast(cand), F.col("__id") == F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "sim", "__v")

    qt = cand.schema["query_id"].dataType.simpleString()
    nt = cand.schema["neighbor_id"].dataType.simpleString()
    out_schema = f"query_id {qt}, sel_rank int, neighbor_id {nt}, sim double"
    kk, lam_, mu_ = int(k), float(lam), float(mu)
    scale_ = float(10 ** int(round_digits))

    def _hur(x: float) -> float | None:
        # bit-exact replica of functions.scalars.half_up_round on a
        # Python float (an IEEE double, same as the JVM's):
        # floor(x·10^d + 0.5) / 10^d with Spark's floor(double)→long
        # conversion semantics (Math.floor then Double.toLong: NaN → 0,
        # ±∞ saturates to Long.{MAX,MIN}_VALUE).
        import math

        y = x * scale_ + 0.5
        if math.isnan(y):
            f = 0
        elif y >= 9223372036854775808.0:  # 2^63
            f = 9223372036854775807
        elif y <= -9223372036854775808.0:
            f = -9223372036854775808
        else:
            f = math.floor(y)
        return f / scale_

    def _cos(a, b) -> float | None:
        # bit-exact replica of functions.vectors.cosine_sim ∘ cast to
        # double: sequential left-to-right folds (same IEEE add/mul
        # order as the Catalyst `aggregate` expression), sqrt is
        # correctly rounded in both runtimes, and the n > 0 predicate is
        # False for NaN in Python exactly as a NaN SQL predicate is
        # not-true. Returns None where the JVM returns NULL. Arrays of
        # unequal length: zip_with pads with NULL → NULL dot → NULL sim
        # JVM-side; replicated explicitly. A NULL element arrives here
        # as NaN (Arrow float path) and poisons the folds into NaN →
        # None, matching the JVM's NULL-poisoned fold → NULL.
        import math

        if a is None or b is None or len(a) != len(b):
            return None
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        n = math.sqrt(na) * math.sqrt(nb)
        if n > 0:
            return _hur(dot / n)
        return None

    def _greedy(cdf):
        # One query's greedy MMR selection over its candidate list; the
        # pair-sim matrix is computed here from the candidates' vectors
        # via the bit-exact _cos replica (≤ n² pairs × d flops, trivial
        # per group). Floats are the JVM's already-rounded doubles, so
        # lam·sim − mu·pen here is the identical IEEE expression the
        # join formulation evaluated.
        #
        # NULL/NaN contract (r12 ADVICE, documented choice): pd.isna maps
        # BOTH SQL NULL and NaN to None, i.e. ranked last. cosine_sim
        # yields NULL (never NaN) for zero-magnitude or NaN-element
        # vectors — `when(n > 0, …)` returns NULL on a false or NaN
        # predicate — so a NaN sim is unreachable except under double
        # OVERFLOW (|component| ≳ 1e154, where dot and norms are both
        # +Inf and Inf/Inf = NaN). This implementation deliberately
        # treats that overflow NaN like NULL (undefined geometry, ranked
        # last) rather than replicating Spark's NaN-sorts-greatest; the
        # bigmag pathological-parity axis gates the behavior vs the
        # oracle.
        import pandas as pd

        n = len(cdf)
        if n == 0:
            return cdf.iloc[0:0][["query_id", "neighbor_id", "sim"]].assign(
                sel_rank=pd.array([], dtype="int32")
            )[["query_id", "sel_rank", "neighbor_id", "sim"]]
        ids = cdf["neighbor_id"].tolist()
        sims = [None if pd.isna(v) else float(v) for v in cdf["sim"]]
        vecs = [
            None if v is None else [float(x) for x in v] for v in cdf["__v"]
        ]
        pair: dict = {}
        for ai in range(n):
            for bi in range(n):
                if ai == bi:
                    continue
                pair[(ids[ai], ids[bi])] = _cos(vecs[ai], vecs[bi])

        def argbest(items):
            # items: (idx, value) — max by (non-NULL first, value), tie
            # by min id: Spark's row_number over (desc value, asc id)
            # with default NULLS LAST under desc.
            best = None
            for i, v in items:
                if best is None:
                    best = (i, v)
                    continue
                bi, bv = best
                key_v = (v is not None, v if v is not None else 0.0)
                key_b = (bv is not None, bv if bv is not None else 0.0)
                if key_v > key_b or (key_v == key_b and ids[i] < ids[bi]):
                    best = (i, v)
            return best[0]

        first = argbest(list(enumerate(sims)))
        selected = [first]
        for _t in range(2, kk + 1):
            scored = []
            for j in range(n):
                if j in selected:
                    continue
                # inner-join semantics: a candidate enters the round's
                # pick only if it has >= 1 pair row with a selected id;
                # pen = SQL max (ignores NULLs, NULL if all NULL)
                pens = [
                    pair[(ids[j], ids[s])]
                    for s in selected
                    if (ids[j], ids[s]) in pair
                ]
                if not pens:
                    continue
                nn = [p for p in pens if p is not None]
                pen = max(nn) if nn else None
                mmr = (
                    None
                    if (sims[j] is None or pen is None)
                    else lam_ * sims[j] - mu_ * pen
                )
                scored.append((j, mmr))
            if not scored:
                break
            selected.append(argbest(scored))
        out = cdf.iloc[selected][["query_id", "neighbor_id", "sim"]].copy()
        out.insert(
            1,
            "sel_rank",
            pd.array(range(1, len(selected) + 1), dtype="int32"),
        )
        return out

    return candv.groupBy("query_id").applyInPandas(_greedy, out_schema)


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale ``amax/127`` with codes ``floor(x·127/amax + 0.5)`` — the
    standard memory/bandwidth shrink (4×+ vs float32) applied to ANN
    indexes before sharding them across a cluster. The explicit floor
    formula is the half-up rounding both engines compute identically;
    all-zero vectors quantize to zero codes with scale 0.

    Narrow projection, no shuffle — pipelines with the scan at any scale.
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(
        amax > 0,
        F.transform(
            v,
            lambda x: F.floor(x * F.lit(127.0) / amax + F.lit(0.5)).cast(
                "long"
            ),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    return df.select(
        F.col(id_col),
        q.alias("q"),
        (amax / F.lit(127.0)).alias("scale"),
    )


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def knn_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Top-k cosine neighbors scored on int8 codes: integer dot products
    and integer squared norms (exact in any order — products are ≤127²·dim,
    far below 2^53), one double division at the end. Same broadcast-probe /
    zero-corpus-shuffle plan as ``knn_bruteforce``; the corpus-side payload
    is ~4× smaller, which is the point at 100 TB — the quantized index fits
    4× more vectors per executor and per broadcast.
    """
    # each side's integer norm once per row, before the join
    def side(df: DataFrame, name: str) -> DataFrame:
        q = F.col("q")
        return quantize_embeddings(df, vec_col, id_col).select(
            F.col(id_col).alias("id"), q, F.sqrt(_int_dot(q, q).cast("double")).alias("__n")
        ).alias(name)

    norms = F.col("a.__n") * F.col("b.__n")
    dotq = _int_dot(F.col("a.q"), F.col("b.q")).cast("double")
    qsim = half_up_round(F.when(norms > 0, dotq / norms), round_digits).alias("qsim")
    scored = side(corpus, "a").join(F.broadcast(side(queries, "b"))).select("a.id", "b.id", qsim)
    return _top_k(scored, k, "qsim")


def projection_signs(dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic ±1 sign matrix for sparse random projection
    (Achlioptas 2003): row j = signs of hyperplane (dim, 1000+j) — the
    plane-index offset keeps the projection decorrelated from the LSH
    bucket planes (indices 0..planes). Pure function of (dim, out_dim):
    identical on every executor and embeddable as literals in oracle SQL
    (the LSH hyperplane pattern)."""
    return [
        [1.0 if v >= 0 else -1.0 for v in _hyperplane(dim, 1000 + j)]
        for j in range(out_dim)
    ]


def random_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 8,
    dim: int = 64,
    round_digits: int = 6,
    as_array: bool = False,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce ``dim``-d embeddings
    to ``out_dim`` components p_j = Σ_i sign_ji · v_i — the standard
    pre-shrink before ANN / clustering when the embedding column dominates
    shuffle and index size (a ±1 matrix needs no float weights and
    preserves pairwise distances to ~1/sqrt(out_dim) distortion).

    Determinism: components cast to double (exact from float32), each
    product is an exact sign flip, accumulation is the sequential
    left-to-right ``aggregate`` fold — bit-identical to the oracle's
    left-associated ``+`` chain — and each output is half-up rounded.

    100 TB shape: a pure per-row projection — no shuffle, no UDF, stays
    in whole-stage codegen; downstream joins/windows then carry
    out_dim/dim of the payload. ``as_array=True`` packs the components
    into one array column ready to feed knn_* / kmeans_* operators.
    """
    comps = [
        half_up_round(dot(F.col(vec_col), F.array(*map(F.lit, row))), round_digits).alias(f"p{j}")
        for j, row in enumerate(projection_signs(dim, out_dim))
    ]
    out = df.select(F.col(id_col), *comps)
    if as_array:
        # a NULL input vector must stay a NULL vector, not an array of
        # NULL components: F.array(p0..p7) of NULLs is a NON-NULL array,
        # which would slip past downstream isNotNull geometry filters
        # (knn_* rank padding with NULL sims)
        out = out.select(
            F.col(id_col),
            F.when(
                F.col(f"p0").isNull(), F.lit(None).cast("array<double>")
            )
            .otherwise(F.array(*[F.col(f"p{j}") for j in range(out_dim)]))
            .alias("proj"),
        )
    return out
