"""Lexical retrieval operators for training-data curation: TF-IDF term
weighting and BM25 ranked search over the documents table.

These are the scoring primitives a corpus pipeline uses for quality-aware
sampling, topic filtering, and query-based corpus auditing ("show me the
docs that look like X") at 100 TB.

Determinism note (cross-engine oracle parity): both scores use RATIONAL
idf variants instead of the textbook ``ln``-based ones. IEEE-754 requires
+,-,*,/ to be correctly rounded — so integer-derived ratios like
``(N+1)/(df+1)`` are bit-identical in Spark and DuckDB — but ``ln`` comes
from each engine's libm and may differ in the last ulp. Rational idf keeps
the ORDERING of classic idf (strictly decreasing in df) with zero
transcendental calls. Per-doc BM25 term sums go through decimal so the
(non-associative) double additions can't reorder across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_glue_spark.functions.scalars import half_up_round, jaccard
from dbt_glue_spark.functions.text import shingle_postings, words


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope: Column | None = None,
) -> DataFrame:
    """Top-``k`` terms per document by tf-idf.

    idf is the rational ``(N+1)/(df+1)`` (smoothed, ln-free — see module
    docstring); score = tf * idf, ranked per doc with the term string as
    tie-break.

    100 TB plan: document frequencies MUST come from the full corpus, so
    the ``scope`` filter (which docs to emit terms for) applies only to the
    tf branch — the df branch is a full explode→groupBy(term) whose output
    is |vocab| rows, shuffled once on the term key where the (already
    term-partitioned) tf side joins it. The per-doc top-k window
    repartitions by doc_id only the scoped slice.
    """
    # NOT persisted (r12 A/B: 0.85 s vs 1.20 s cached): the regex
    # lexer explode is map-only codegen — recomputing it per branch
    # beats caching the exploded token rows
    tokens = docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("tok"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    df_t = tokens.distinct().groupBy("tok").agg(F.count("*").alias("df"))
    if scope is not None:
        tf_toks = docs.filter(scope).select(
            F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
        )
    else:
        tf_toks = tokens
    tf = tf_toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    scored = (
        tf.join(df_t, "tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (
                (F.col("n_docs") + F.lit(1)).cast("double")
                / (F.col("df") + F.lit(1)).cast("double")
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            id_col,
            "tok",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            half_up_round(F.col("score"), 6).alias("tfidf"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranking of ``docs`` against a bag of ``query_terms``.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with the rational idf (N − df + 0.5)/(df + 0.5) (ln-free, same ordering
    as the textbook Robertson idf for df < N/2 — see module docstring).

    100 TB plan (r12-opt one-pass form): ONE lexer explode feeds ONE
    map-side-combining groupBy(id) carrying dl plus a conditional tf
    column per query term (|query| is a literal handful, so the row
    stays narrow); N, avgdl and every per-term df collapse into a
    single 1-row aggregate over that per-doc frame, broadcast back; the
    per-doc term sum is the identical decimal(18,9)-quantized
    arithmetic evaluated columnwise (decimal addition is exact, so the
    column order cannot reorder the sum). The former shape — a
    persisted token frame feeding three divergent aggregations plus a
    tf⋈df⋈dl join chain — paid three exchanges and a cache barrier for
    the same numbers. Output is top-k via TakeOrderedAndProject — no
    global sort.
    """
    import functools

    # order-preserving dedupe: duplicate query terms would collide on
    # the per-term column names (the old (id, tok) groupBy deduped them
    # implicitly)
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    if not terms:
        # empty query: no term can hit, so the result is the empty
        # (id, bm25) frame — the pre-r12 join-chain shape returned this
        # gracefully, while reduce() over zero per-term columns raises
        # (r12 ADVICE guard)
        return docs.select(
            F.col(id_col), F.lit(None).cast("double").alias("bm25")
        ).limit(0)
    toks = docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("tok"))
    # one exchange: per-doc length + per-term conditional tfs in one
    # partial-aggregated pass (docs with zero alpha tokens produce no
    # toks rows and are absent, exactly as the old dl frame)
    perdoc = toks.groupBy(id_col).agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("tok") == F.lit(t), True)).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # N, avgdl, and df per term (docs where the conditional tf is ≥1 —
    # identical to the old distinct-docs-per-term count) in ONE 1-row agg
    stats = perdoc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("bigint")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    scored = perdoc.join(F.broadcast(stats))

    def term_score(i: int) -> Column:
        # bit-identical to the old per-row expression: bigint-derived
        # rational idf, double norm, decimal(18,9) quantization
        idf = (F.col("n_docs") - F.col(f"__df{i}") + F.lit(0.5)) / (
            F.col(f"__df{i}") + F.lit(0.5)
        )
        tf_d = F.col(f"__tf{i}").cast("double")
        norm = tf_d + F.lit(k1) * (
            F.lit(1.0)
            - F.lit(b)
            + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
        )
        return F.when(
            F.col(f"__tf{i}") > 0,
            (idf * (tf_d * F.lit(k1 + 1.0)) / norm).cast("decimal(18,9)"),
        )

    zero = F.lit(0).cast("decimal(18,9)")
    total = functools.reduce(
        lambda a, b_: a + b_,
        [F.coalesce(term_score(i), zero) for i in range(len(terms))],
    )
    any_hit = functools.reduce(
        lambda a, b_: a | b_,
        [F.col(f"__tf{i}") > 0 for i in range(len(terms))],
    )
    return (
        scored.filter(any_hit)
        .select(F.col(id_col), total.cast("double").alias("bm25_raw"))
        .select(
            id_col, half_up_round(F.col("bm25_raw"), 6).alias("bm25")
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(topk)
    )


def hard_negatives(
    docs: DataFrame,
    query_terms: list[str],
    topk: int = 20,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: take the
    BM25 top-``topk`` for the query, call rank 1 the positive, and keep
    the remaining candidates that are NOT near-duplicates of the positive
    (n-gram Jaccard < ``jaccard_threshold``) — lexically close but
    non-duplicate documents, exactly the negatives that make an embedding
    model learn more than term overlap. Near-dups of the positive are
    FALSE negatives (they'd teach the model to push away paraphrases of
    the answer), which is why the dedup filter is part of the miner, not
    an afterthought.

    Returns (neg_rank, id, bm25, jaccard_to_pos) re-ranked 1..m.

    100 TB plan: the corpus-sized work is bm25_search (one explode pass,
    top-k via TakeOrderedAndProject); everything after operates on the
    ≤topk candidate rows — the shingle comparison joins candidate
    shingles against ONE positive's shingle set (broadcast), so the
    dedup check costs O(topk · doc length) regardless of corpus size.
    """
    from pyspark.sql import Window

    from dbt_glue_spark.extensions.dedup import _persist

    ranked = bm25_search(
        docs, query_terms, topk=topk, id_col=id_col, text_col=text_col
    )
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    # the window runs over the ≤topk surviving rows only
    ranked = _persist(ranked.withColumn("rk", F.row_number().over(w)))
    cand_docs = docs.join(
        F.broadcast(ranked.select(id_col, "rk", "bm25")), id_col, "inner"
    )
    sh = _persist(
        shingle_postings(
            cand_docs, text_col, [F.col(id_col), F.col("rk"), F.col("bm25")], shingle_n
        )
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    pos_sh = sh.filter(F.col("rk") == 1).select(F.col("h").alias("h"))
    # agg over the (possibly empty) positive shingle set: ALWAYS one row,
    # pos_sh = 0 when the positive has < shingle_n tokens. The previous
    # sizes-join produced an EMPTY frame in that case, and the cross join
    # below then silently returned zero negatives.
    pos_size = sh.filter(F.col("rk") == 1).agg(F.count("*").alias("pos_sh"))
    inter = (
        sh.filter(F.col("rk") > 1)
        .join(F.broadcast(pos_sh), "h", "inner")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_common"))
    )
    # A candidate with < shingle_n tokens has no row in `sizes` → n_sh
    # coalesces to 0 instead of nulling the jaccard (which dropped it).
    # Both sets empty ⇒ jaccard defined as 0 (disjoint-by-vacuity: a short
    # doc is certainly not a near-duplicate of the positive).
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    n_sh = F.coalesce(F.col("n_sh"), F.lit(0))
    denom = n_sh + F.col("pos_sh") - n_common
    cands = (
        ranked.filter(F.col("rk") > 1)
        .join(sizes, id_col, "left")
        .join(inter, id_col, "left")
        .join(F.broadcast(pos_size))
        .select(
            id_col,
            "bm25",
            F.when(denom == 0, F.lit(0.0))
            .otherwise(jaccard(n_common, n_sh, "pos_sh"))
            .alias("jaccard_to_pos"),
        )
        .filter(F.col("jaccard_to_pos") < jaccard_threshold)
    )
    w2 = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return cands.select(
        F.row_number().over(w2).cast("int").alias("neg_rank"),
        id_col,
        "bm25",
        "jaccard_to_pos",
    )


def rank_agreement_rbo(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010), truncated at depth ``k``:
    RBO = Σ_{d=1..k} (1−p)·p^(d−1)·|A_{1..d} ∩ B_{1..d}|/d between two
    rankings — the ranker-agreement audit an IR pipeline runs when it
    swaps scoring functions or rebuilds an index (how much did the
    ranking actually change, weighted toward the top).

    Inputs are top-k frames with 1-based ``rank_col``. A common doc at
    ranks (ra, rb) enters every depth ≥ max(ra, rb), so the overlap
    curve is a ≤k-row cumulative join — all post-ranking work is O(k²)
    rows regardless of corpus size.

    Determinism: p-powers are embedded as Python float literals (libm
    ``pow`` differs across engines; literals don't), multiplication is
    left-associated identically in the oracle, and the ≤k term sum is
    decimal-quantized (order-free).
    """
    from dbt_glue_spark.functions.scalars import half_up_round

    omp = 1.0 - p
    powers = F.array(*[F.lit(p**i) for i in range(k)])
    a2 = a.select(F.col(id_col).alias("id"), F.col(rank_col).alias("ra"))
    b2 = b.select(F.col(id_col).alias("id"), F.col(rank_col).alias("rb"))
    per_m = (
        a2.join(b2, "id")
        .select(F.greatest("ra", "rb").alias("m"))
        .groupBy("m")
        .agg(F.count("*").alias("c"))
    )
    depths = a.sparkSession.range(1, k + 1).select(
        F.col("id").cast("int").alias("d")
    )
    xd = (
        depths.join(per_m, per_m.m <= depths.d, "left")
        .groupBy("d")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("x"))
    )
    term = (
        (F.lit(omp) * F.element_at(powers, F.col("d")))
        * F.col("x").cast("double")
    ) / F.col("d").cast("double")
    return (
        xd.select(
            term.cast("decimal(28,12)").alias("t"),
            F.when(F.col("d") == k, F.col("x")).alias("xk"),
        )
        .agg(
            F.max("xk").cast("bigint").alias("overlap_at_k"),
            F.sum("t").cast("double").alias("__rbo"),
        )
        .select(
            F.lit(k).cast("int").alias("k"),
            "overlap_at_k",
            half_up_round(F.col("__rbo"), 6).alias("rbo"),
        )
    )


def reciprocal_rank_fusion(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    c: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): fuse N rankings by
    score(d) = Σ_r 1/(c + rank_r(d)) — the standard hybrid-search
    combiner (BM25 ⊕ dense ⊕ heuristic lists) that needs no score
    calibration because it only consumes ranks. ``c=60`` is the
    published default.

    Output: fused top-k with the fused score, the number of source lists
    the doc appeared in, and the fused rank (ties broken by id).

    Determinism: each addend 1/(c+rank) is one IEEE division of exact
    ints; the per-doc sum is decimal-quantized (order-free across any
    number of input lists). All work after the input rankings is
    O(N·topk) rows.
    """
    from dbt_glue_spark.functions.scalars import half_up_round

    stacked = None
    for r in rankings:
        part = r.select(
            F.col(id_col).alias("id"),
            (
                F.lit(1.0)
                / (F.lit(c) + F.col(rank_col)).cast("double")
            ).cast("decimal(28,12)").alias("contrib"),
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    fused = stacked.groupBy("id").agg(
        F.sum("contrib").cast("double").alias("__score"),
        F.count("*").cast("bigint").alias("n_lists"),
    )
    top = fused.orderBy(F.desc("__score"), F.asc("id")).limit(topk)
    from pyspark.sql import Window

    # topk-row frame: global window numbers a LIMITed ranking, never the corpus
    w = Window.orderBy(F.desc("__score"), F.asc("id"))
    return top.withColumn("fused_rank", F.row_number().over(w)).select(
        F.col("id").alias(id_col),
        half_up_round(F.col("__score"), 8).alias("rrf_score"),
        "n_lists",
        "fused_rank",
    )


def query_expansion(
    docs: DataFrame,
    query_terms: list[str],
    topk_docs: int = 10,
    topk_terms: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM1-lite): take the
    BM25 top-``topk_docs`` for the query, count their terms (query terms
    excluded), weight by the rational smoothed idf (N+1)/(df+1), and
    return the ``topk_terms`` strongest expansion candidates — the
    recall-boosting second pass of a retrieval pipeline.

    100 TB plan: the corpus pays one lexer pass for document frequencies
    (the tfidf df branch — |vocab|-row output); the feedback branch is a
    semi-join of the token table against ``topk_docs`` ids (broadcast),
    so expansion-side work is O(topk_docs · doclen). Top terms via
    TakeOrderedAndProject on the unrounded weight, term tie-break.
    """
    from dbt_glue_spark.extensions.dedup import _persist
    from dbt_glue_spark.functions.scalars import half_up_round

    terms = [t.lower() for t in query_terms]
    toks = _persist(
        docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("tok"))
    )
    top = bm25_search(docs, terms, topk=topk_docs, id_col=id_col, text_col=text_col)
    fb = (
        toks.join(F.broadcast(top.select(id_col)), id_col, "left_semi")
        .filter(~F.col("tok").isin(terms))
    )
    cnt = fb.groupBy("tok").agg(F.count("*").cast("bigint").alias("cnt"))
    df_all = (
        toks.select(id_col, "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    corpus = dl.agg(F.count("*").alias("n_docs"))
    idf = (F.col("n_docs") + F.lit(1)).cast("double") / (
        F.col("df") + F.lit(1)
    ).cast("double")
    weighted = (
        cnt.join(df_all, "tok")
        .join(F.broadcast(corpus))
        .select(
            "tok", "cnt", (F.col("cnt").cast("double") * idf).alias("__wt")
        )
    )
    return (
        weighted.orderBy(F.desc("__wt"), F.asc("tok"))
        .limit(topk_terms)
        .select(
            F.col("tok").alias("term"),
            F.col("cnt").alias("n_feedback_occurrences"),
            half_up_round(F.col("__wt"), 6).alias("weight"),
        )
    )


def ndcg_at_k(
    ranking: DataFrame,
    relevance: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """nDCG@k (Järvelin & Kekäläinen 2002): DCG of the ranking under
    graded relevance, normalized by the ideal DCG of the k most relevant
    documents corpus-wide — the standard offline ranking-quality metric.

    ``ranking`` is a top-k frame with 1-based ranks; ``relevance`` maps
    ids to integer gains (missing ids gain 0). Discounts 1/log2(d+1) are
    embedded as Python float literals — log2 comes from libm and is not
    cross-engine portable, literals are. DCG/IDCG term sums are
    decimal-quantized; the single final division is one IEEE op.

    100 TB shape: the DCG branch joins the ≤k-row ranking (broadcast)
    against relevance; the IDCG branch is a corpus-wide top-k by gain via
    TakeOrderedAndProject. Nothing else scales with corpus size.
    """
    import math

    from dbt_glue_spark.functions.scalars import half_up_round

    discs = F.array(*[F.lit(1.0 / math.log2(d + 1)) for d in range(1, k + 1)])
    r2 = ranking.select(F.col(id_col).alias("id"), F.col(rank_col).alias("d"))
    rel2 = relevance.select(F.col(id_col).alias("id"), F.col(rel_col).alias("rel"))
    # inner join ≡ left join here: a ranked doc with no relevance row
    # contributes 0 to DCG — and inner lets the k-row ranking broadcast
    # (Spark cannot broadcast the preserved side of an outer join)
    dcg = (
        rel2.join(F.broadcast(r2), "id")
        .select(
            (
                F.col("rel").cast("double") * F.element_at(discs, F.col("d"))
            ).cast("decimal(28,12)").alias("t")
        )
        .agg(
            F.coalesce(F.sum("t").cast("double"), F.lit(0.0)).alias("dcg")
        )
    )
    from pyspark.sql import Window

    ideal_topk = rel2.orderBy(F.desc("rel"), F.asc("id")).limit(k)
    # k-row frame: the global window numbers a LIMITed selection
    w = Window.orderBy(F.desc("rel"), F.asc("id"))
    idcg = (
        ideal_topk.withColumn("d", F.row_number().over(w))
        .select(
            (
                F.col("rel").cast("double") * F.element_at(discs, F.col("d"))
            ).cast("decimal(28,12)").alias("t")
        )
        # coalesce like the DCG branch: an empty relevance set means an
        # ideal gain of ZERO, not NULL (sum-over-nothing)
        .agg(F.coalesce(F.sum("t").cast("double"), F.lit(0.0)).alias("idcg"))
    )
    return (
        dcg.join(F.broadcast(idcg))
        .select(
            F.lit(k).cast("int").alias("k"),
            half_up_round(F.col("dcg"), 6).alias("dcg"),
            half_up_round(F.col("idcg"), 6).alias("idcg"),
            half_up_round(
                F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("ndcg"),
        )
    )


def average_precision_at_k(
    ranking: DataFrame,
    relevance: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """AP@k (average precision, binary relevance): mean of precision@d at
    each relevant rank d, normalized by min(R, k) where R = total
    relevant docs corpus-wide — the rank-sensitive companion of
    recall@k, and the per-query term of MAP.

    ``relevance`` rows mark relevant ids (presence = relevant). Entirely
    rational arithmetic: precision@d = cum_rel/d over a ≤k-row window,
    the term sum is decimal-quantized, one final IEEE division by
    min(R, k). The only corpus-sized work is R (a 1-row count) and the
    relevance semi-join against the k-row ranking (broadcast).
    """
    from pyspark.sql import Window

    from dbt_glue_spark.functions.scalars import half_up_round

    r2 = ranking.select(F.col(id_col).alias("id"), F.col(rank_col).alias("d"))
    rel_ids = relevance.select(F.col(id_col).alias("id")).distinct()
    flagged = r2.join(
        rel_ids.withColumn("__rel", F.lit(1)), "id", "left"
    ).select("d", F.coalesce("__rel", F.lit(0)).alias("isrel"))
    # ≤k-row frame: the running sum numbers a LIMITed ranking
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    terms = flagged.withColumn("cum", F.sum("isrel").over(w)).select(
        (
            (F.col("cum").cast("double") / F.col("d").cast("double"))
            * F.col("isrel").cast("double")
        ).cast("decimal(28,12)").alias("t")
    )
    total_rel = rel_ids.agg(F.count("*").cast("bigint").alias("n_rel"))
    return (
        terms.agg(
            F.coalesce(F.sum("t").cast("double"), F.lit(0.0)).alias("__num")
        )
        .join(F.broadcast(total_rel))
        .select(
            F.lit(k).cast("int").alias("k"),
            F.col("n_rel"),
            half_up_round(
                F.when(
                    F.least(F.col("n_rel"), F.lit(k)) > 0,
                    F.col("__num")
                    / F.least(F.col("n_rel"), F.lit(k)).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ap"),
        )
    )
