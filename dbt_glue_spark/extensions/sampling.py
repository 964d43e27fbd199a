"""Deterministic sampling operators for training-data curation.

`df.sample()` is seed-dependent *per partition layout*: the same seed gives
different rows after a repartition, an AQE re-plan, or a file split change —
useless for reproducible dataset releases. These operators derive the
sampling decision from a content hash instead, so the sample is a pure
function of the data: stable across runs, partitionings, engines (the
DuckDB oracle reproduces it bit-for-bit), and incremental loads (a doc's
in/out decision never changes as the corpus grows).

Scale shape: each operator is a stateless projection + filter (hash
samplers, splits), a window keyed by a stratum, shard or bucket
(stratified, quota and per-group weighted samplers, shuffle, curriculum),
a top-(k+1) TakeOrderedAndProject (the global weighted sampler) or a
map-side-combined aggregate down to ≤ |groups| or |buckets| rows
(mixture, budget and retention planning); ``cluster_safe_split`` adds a
projection on top of ``dedup.dup_clusters``. No driver collect, no
global sort, no state. A per-group weighted sampler is its global
kernel keyed by the group (``by``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_glue_spark.extensions.sketches import hash_fraction as _hash_frac


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep rows whose md5(key) falls in the first ``fraction`` of hash
    space. Deterministic, repartition-proof, and consistent across
    incremental loads (membership depends only on the key's bytes).
    """
    return df.filter(_hash_frac(F.col(key_col)) < fraction)


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    fraction: float,
) -> DataFrame:
    """Exact per-stratum fraction: rank rows inside each stratum by hash of
    the key and keep the first ceil(fraction × |stratum|).

    Unlike ``hash_sample`` (binomial per stratum), the per-group sample
    size is exact — the guarantee dataset-balance work needs (e.g. equal
    language representation). One window shuffle on the strata key; the
    hash ordering keeps the choice deterministic and unique-key tie-broken.
    """
    w = Window.partitionBy(*strata_cols).orderBy(
        _hash_frac(F.col(key_col)).asc(), F.col(key_col).asc()
    )
    cw = Window.partitionBy(*strata_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(cw))
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * fraction))
        .drop("__rn", "__n")
    )


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
) -> DataFrame:
    """Deterministic three-way split: adds a ``split`` column
    ('train'/'val'/'test') from the md5 hash fraction of ``key_col``.

    Content-hash membership means the assignment is a pure function of the
    key — stable across runs, engines, partitionings, and corpus growth
    (adding documents never reassigns existing ones), which is exactly what
    leakage-free ML splits require. Narrow projection, no shuffle.
    """
    return df.withColumn(
        "split", _hash_split(F.col(key_col), val_fraction, test_fraction)
    )


def _hash_split(key, val_fraction: float, test_fraction: float):
    """'train'/'val'/'test' from the md5 hash fraction of ``key``.

    ValueError, not assert: user-facing argument validation must survive
    python -O (asserts are stripped, and an invalid split would silently
    produce all-val/test output). Each fraction is checked individually:
    a negative fraction can pass the sum check yet silently shift the
    split boundaries."""
    for name, frac in (("val_fraction", val_fraction), ("test_fraction", test_fraction)):
        if not 0.0 <= frac < 1.0:
            raise ValueError(f"{name} must be in [0, 1), got {frac}")
    if not val_fraction + test_fraction < 1.0:
        raise ValueError(
            "val_fraction + test_fraction must be < 1, got "
            f"{val_fraction} + {test_fraction}"
        )
    frac = _hash_frac(key)
    train_hi = 1.0 - val_fraction - test_fraction
    return (
        F.when(frac < F.lit(train_hi), F.lit("train"))
        .when(frac < F.lit(train_hi + val_fraction), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Data-mixture sampling: keep each group at its own rate — the
    "target mixture" step of training-set assembly (downsample the crawl,
    keep curated sources whole). Same content-hash membership as
    ``hash_sample``, so a document's in/out decision is a pure function of
    its key and its group's rate: stable across runs, partitionings, and
    corpus growth, and composable with incremental loads. Groups absent
    from ``rates`` get ``default_rate`` (0.0 = drop).

    Stateless projection + filter — no shuffle, scan-bounded at any scale.
    """
    rate = F.lit(float(default_rate))
    for g, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, F.lit(float(r))).otherwise(rate)
    return df.filter(_hash_frac(F.col(key_col)) < rate)


def corpus_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic seeded global shuffle → (id, shard, pos_in_shard).

    The shuffle-before-training step for a dataset release: every row gets
    a pseudo-random but fully reproducible position, derived only from
    (seed, id) — stable across partitionings, engines, and re-runs, unlike
    ``df.orderBy(rand(seed))`` whose layout-dependent sampling makes
    releases unreproducible.

    Scale shape: NO global sort/row_number (a total order over 100 TB is
    one executor's problem). The hash key assigns each row to one of
    ``n_shards`` shards; position is a row_number window *within* the
    shard. Readers consume shard-by-shard (shard order + pos order = the
    shuffled order). At 100 TB pick n_shards ≈ corpus/250 MB so each
    shard's window fits an executor; the window cost is one hash shuffle.
    """
    key = _hash_frac(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    keyed = df.select(F.col(id_col)).withColumn("__k", key).withColumn(
        "shard", F.floor(F.col("__k") * n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("__k", id_col)
    return keyed.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


def mixture_weights(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain mixture statistics + temperature-scaled sampling weight.

    The planning step before mixture_sample: for each domain (source),
    token counts, corpus share, and a sqrt-temperature weight
    ``mix_weight = sqrt(n_tokens / max_domain_tokens)`` — the alpha=0.5
    upsampling of small domains used in multilingual/multidomain training
    recipes. Max-normalized (not sum-normalized) so every number is a
    ratio of exact integer aggregates → bit-identical across engines: a
    sum over per-domain doubles would be accumulation-order-dependent.

    One tokenize pass + one groupBy; the 1-row totals frame broadcasts.
    """
    from dbt_glue_spark.functions.scalars import half_up_round
    from dbt_glue_spark.functions.text import tokenize_once

    staged = tokenize_once(df, text_col, [F.col(group_col)])
    per = staged.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("toks")).cast("bigint").alias("n_tokens"),
    )
    totals = per.agg(
        F.sum("n_tokens").cast("bigint").alias("__tot"),
        F.max("n_tokens").alias("__mx"),
    )
    return per.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_docs",
        "n_tokens",
        half_up_round(F.col("n_tokens") / F.col("__tot"), 6).alias("token_share"),
        half_up_round(F.sqrt(F.col("n_tokens") / F.col("__mx")), 6).alias(
            "mix_weight"
        ),
    )


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents always
    land on the SAME side of the split.

    A per-document hash split sends a fraction of near-dup PAIRS across
    the train/eval boundary — textbook contamination: the model trains on
    a near-copy of an eval document and the benchmark leaks. Assignment
    here is per dup COMPONENT: the split is the hash of the cluster
    representative (min member id), inherited by every member, so a whole
    transitive near-dup group moves as one unit. Singletons have
    ``cluster_id = own id``, so they get EXACTLY the same assignment as
    the plain ``train_val_test_split`` — the two splits agree everywhere
    except where agreement would leak.

    Returns (id, cluster_id, split).

    100 TB shape: components run over V(E) only (``dup_clusters``), and
    the non-dup majority labels itself in one narrow join — the split
    adds a projection on top. Stable under corpus growth as long as
    cluster representatives are stable (the min-id rule keeps a cluster's
    rep unchanged unless an even older member joins it).
    """
    from dbt_glue_spark.extensions.dedup import dup_clusters

    # built (and its fractions checked) before dup_clusters runs a job
    split = _hash_split(F.col("cluster_id"), val_fraction, test_fraction)
    comp = dup_clusters(df, pairs, id_col)
    return comp.select(F.col(id_col), "cluster_id", split.alias("split"))


def quota_sample(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_col: str,
) -> DataFrame:
    """Exact-quota stratified sampling: EXACTLY ``min(k, |stratum|)`` rows
    per stratum, selected by content-hash order — the balanced eval-set /
    annotation-batch builder (fraction-based ``stratified_sample`` cannot
    hit an exact per-group count). Selection order is md5 of the key, so
    the chosen set is a pure function of the data: stable across runs,
    engines, and layout, and adding NEW rows to a stratum only displaces
    picks that hash later — the sample churns minimally under growth.

    100 TB shape: one window keyed by the strata columns (never a global
    sort) ranking by (hash, key); the quota filter prunes before anything
    downstream. For very hot strata the window sorts only within that
    stratum, and rank ≤ k means TakeOrdered-style early pruning per
    partition is available to the planner.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*strata_cols).orderBy(
        _hash_frac(F.col(key_col)).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .withColumn("sample_rank", F.col("__rk").cast("bigint"))
        .drop("__rk")
    )


def mixture_resample(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Plan-and-apply mixture resampling in one dataflow: compute the
    sqrt-temperature mixture weights (:func:`mixture_weights`) and apply
    them as per-group content-hash keep rates, reporting per group the
    target rate and the achieved fraction. Closes the loop between the
    planning operator and :func:`mixture_sample` WITHOUT a driver
    round-trip — rates flow as a broadcast join of the ≤ groups-row
    weight frame, never through a collected dict, so the whole mixture
    step stays inside one distributed plan (the scale-correct form for
    pipelines where weights must track the current corpus).

    The largest domain (weight 1.0) keeps everything; membership is the
    hash_sample content-hash rule — stable across runs, partitionings,
    and corpus growth.
    """
    from dbt_glue_spark.functions.scalars import half_up_round

    w = mixture_weights(df, group_col, text_col).select(group_col, "mix_weight")
    joined = df.join(F.broadcast(w), group_col)
    kept = (_hash_frac(F.col(key_col)) < F.col("mix_weight")).cast("int")
    return (
        joined.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.min("mix_weight").alias("target_rate"),
        )
        .select(
            group_col,
            "n_docs",
            "n_kept",
            "target_rate",
            half_up_round(
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("achieved_rate"),
        )
    )


#: canonical priority space: hash space 16^13 scaled by the 1000 priority
#: quantum. 16^13·1000 = 2^55·125 — exact as int64 AND as an IEEE double,
#: so the estimator's single float division is engine-identical.
_PRIORITY_SPACE = 16**13 * 1000


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 256,
    seed: str = "7",
) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup, JACM 54(6) 2007): a
    weight-sensitive sample of ``k`` rows without replacement, plus the
    estimator weight that makes any subset-sum estimate unbiased.

    Model: each row draws a deterministic uniform u = md5(seed:key)/16^13
    and gets canonical priority q = w/u; the k largest q win, and with
    τ = the (k+1)-th largest q, ``est_weight = max(w, τ)`` satisfies
    E[Σ_{i∈sample, i∈S} est_i] = Σ_{i∈S} w_i for every fixed subset S —
    the standard sketch for weighted subset-sum analytics over a tiny
    sample. Heavy rows (w ≥ τ) are ALWAYS included, the long tail is
    sampled ∝ w.

    Exactness discipline: ranking on q = w/u directly would put pow/log
    or float division on the oracle boundary. Instead rows are ranked
    ASCENDING on the integer ``priority = ((h+1)·1000) div w`` (h the
    int64 md5 hash, w clamped ≥ 1) — an exact int64 floor division,
    order-equivalent to q descending up to the 1000-quantum, identical in
    any engine; ties (only when w ≫ 1000 collapses quanta) break on the
    key. The single float step — est_weight = max(w, 16^13·1000/τ) — is
    one IEEE division of exactly-representable integers, half-up 4 dp.
    Overflow: (h+1)·1000 ≤ 16^13·1000 < 2^63 always; any int64 weight is
    safe (it only divides).

    100 TB shape: ``orderBy(priority).limit(k+1)`` plans
    TakeOrderedAndProject — per-partition partial top-(k+1), one O(p·k)
    merge, NO global sort and no corpus shuffle. The k+1 survivors host
    the only window, which also carries τ: nothing is joined or
    broadcast.

    Output: key, weight (bigint), priority (bigint), est_weight (double).
    Corpora with ≤ k rows return every row with est_weight = weight
    (inclusion probability 1, no τ).
    """
    pri = priority_frame(df, key_col, weight_col, seed)
    top = pri.orderBy(*priority_order(key_col)).limit(k + 1)
    return priority_sample_finalize(top, key_col, k)


def _seeded_hash(key_col: str, seed: str):
    """int64 md5 hash of ``seed:key`` — the deterministic uniform every
    weighted sampler draws (the DLT priority and the A-ExpJ variate)."""
    from dbt_glue_spark.extensions.sketches import hash_int

    return hash_int(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))


def _sample_weight(weight_col: str):
    """Sampling weight as bigint clamped ≥ 1 (NULL counts as 1)."""
    return F.greatest(
        F.coalesce(F.col(weight_col).cast("bigint"), F.lit(1)), F.lit(1)
    )


def priority_frame(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    seed: str = "7",
    by: Sequence[str] = (),
) -> DataFrame:
    """(*by, key, weight, priority) frame of :func:`weighted_sample`'s
    exact integer priority space — shared by the one-shot sampler, the
    per-group sampler (``by=[group]``) and the streaming ledger sink
    (:func:`streaming.pipelines.priority_sample_stream_sink`), which
    must rank identically for the streamed sample to equal the batch
    one. See :func:`weighted_sample` for the exactness discipline."""
    return df.select(
        *by,
        F.col(key_col),
        _sample_weight(weight_col).alias("weight"),
        ((_seeded_hash(key_col, seed) + F.lit(1)) * F.lit(1000)).alias("__num"),
    ).select(
        *by,
        key_col,
        "weight",
        F.expr("__num DIV weight").cast("bigint").alias("priority"),
    )


def priority_order(key_col: str) -> tuple:
    """The one priority-sample ranking: ``priority`` then the key, both
    ascending with NULLs LAST (the DuckDB oracles' order) — a NULL key
    hashes to a NULL priority and must never take a slot ahead of a real
    row."""
    return F.col("priority").asc_nulls_last(), F.col(key_col).asc_nulls_last()


def priority_sample_finalize(
    top: DataFrame, key_col: str, k: int, by: Sequence[str] = ()
) -> DataFrame:
    """Turn a priority frame into the k-row sample per ``by`` key (one
    global sample for ``by=()``) with the unbiased DLT estimator weight:
    rank by (priority, key) within the key, τ = the (k+1)-th priority
    if present, est_weight = max(w, PRIORITY_SPACE/τ). Fewer than k+1
    rows ⇒ no τ ⇒ every row kept at est_weight = weight (inclusion
    probability 1). τ is a max over the same window partition, so a
    NULL ``by`` key is a stratum of its own and nothing is joined.

    ``top`` may be pre-cut to the bottom-(k+1) by priority (the carried
    sample state — bottom-k merge is associative, so a union of
    bottom-(k+1)s re-topped is exactly the one-shot bottom-(k+1))."""
    from dbt_glue_spark.functions.scalars import half_up_round

    wnd = Window.partitionBy(*by).orderBy(*priority_order(key_col))
    ranked = top.select("*", F.row_number().over(wnd).alias("__rn")).filter(
        F.col("__rn") <= k + 1
    )
    tau = F.max(F.when(F.col("__rn") == k + 1, F.col("priority"))).over(
        Window.partitionBy(*by)
    )
    est = F.when(tau.isNull(), F.col("weight").cast("double")).otherwise(
        F.greatest(
            F.col("weight").cast("double"),
            F.lit(float(_PRIORITY_SPACE)) / tau.cast("double"),
        )
    )
    return (
        ranked.select(
            *by,
            key_col,
            "weight",
            "priority",
            half_up_round(est, 4).alias("est_weight"),
            "__rn",
        )
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_sample_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int = 64,
    seed: str = "7",
) -> DataFrame:
    """Stratified priority sampling: an independent Duffield–Lund–Thorup
    weight-sensitive sample of ``k`` rows per group, each with its own
    per-group threshold τ and unbiased subset-sum estimator — the
    per-source / per-language quota counterpart of :func:`weighted_sample`
    (same integer priority space, same exactness discipline; see that
    docstring for the estimator math).

    It is the global sampler's kernel keyed by the group:
    :func:`priority_frame` and :func:`priority_sample_finalize` with
    ``by=[group_col]``, so each group's sample equals
    :func:`weighted_sample` run on that group's rows alone.

    NULL contract: a NULL group is a stratum of its own (window
    partitioning groups NULLs together; nothing joins on the group).

    100 TB shape: the global top-k becomes a rank window PARTITIONED BY
    GROUP — parallel across strata, per-partition state bounded by the
    group's rows, no global sort and no driver collection. τ stays inside
    each window partition (a conditional max over the k+1 ranked rows),
    so nothing is broadcast at all.

    Output: group, key, weight (bigint), priority (bigint),
    est_weight (double). Groups with ≤ k rows return all rows with
    est_weight = weight.
    """
    by = [group_col]
    return priority_sample_finalize(
        priority_frame(df, key_col, weight_col, seed, by), key_col, k, by
    )


#: 16^13 = 2^52: (h+1)/2^52 with h+1 <= 2^52 is an EXACT binary division —
#: the A-ExpJ uniform is the same IEEE double in any engine.
_U_DEN = float(16**13)


def ppswor_sample_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int = 64,
    seed: str = "7",
) -> DataFrame:
    """Per-group weighted sampling WITHOUT replacement via A-ExpJ
    (Efraimidis–Spirakis 2006) exponential priorities — the PPSWOR
    (probability-proportional-to-size, without replacement) quota
    sampler. Complements :func:`weighted_sample_by_group`: that is the
    Duffield–Lund–Thorup PRIORITY sample (max(w, τ) estimator, its own
    inclusion law); this draws the classic sequential-weighted-sampling
    distribution — row i survives round r with probability
    w_i / Σ_remaining w — which is what quota specs ("64 docs per
    source, ∝ length, no repeats") usually mean.

    Model: each row draws the deterministic uniform
    u = (md5₅₂(seed:key)+1)/2⁵² (an EXACT double — the numerator has
    ≤ 52 bits, the denominator is a power of two) and the exponential
    race variate e = −ln(u)/w ~ Exp(w); the k smallest e per group win.
    Bottom-k-by-Exp(w) is distributionally identical to k sequential
    weighted draws (the Gumbel/exponential-race argument in
    Efraimidis–Spirakis; Cohen's bottom-k sketches).

    Estimator: with τ_g = the (k+1)-th smallest e in group g, the
    Horvitz–Thompson-style subset-sum weight conditioned on τ is
    est = w / (1 − exp(−w·τ)) (inclusion probability of i given τ is
    P[Exp(w_i) < τ]); groups with ≤ k rows keep every row at est = w.

    Float determinism: u is exact; e is two IEEE ops on exact inputs
    (one libm ln, one division) — engine-identical in practice, with a
    last-ULP tie flipping sample membership only if two keys land
    within ~1e-16 relative (P ≈ n²/2·10⁻¹⁶ — and deterministic per
    fixed corpus, so the ×-profile parity gates would catch it);
    est_weight's exp/division round half-up 4 dp. Ties break on key.

    100 TB shape: mirrors weighted_sample_by_group — the only window is
    rank PARTITIONED BY GROUP (parallel across strata, state bounded by
    the group), τ is a conditional max inside the same partition,
    nothing broadcasts, nothing collects.

    NULL contract (r8 ADVICE): rows with a NULL ``key_col`` are EXCLUDED
    before ranking — a NULL key has no deterministic uniform (md5 of
    NULL → NULL → NULL __e), and Spark's ASC NULLS FIRST would rank it
    rn=1 so it always stole a sample slot with NULL est math, while SQL
    engines defaulting to NULLS LAST never picked it. Matches the NULL
    contracts used across the sampling family (hash/stratified samplers
    key on non-NULL ids).

    Output: group, key, weight (bigint), est_weight (double 4 dp).
    """
    from dbt_glue_spark.functions.scalars import half_up_round

    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    df = df.filter(F.col(key_col).isNotNull())
    h = _seeded_hash(key_col, seed)
    w = _sample_weight(weight_col)
    e = -F.log((h + F.lit(1)).cast("double") / F.lit(_U_DEN)) / w.cast("double")
    pri = df.select(
        F.col(group_col), F.col(key_col), w.alias("weight"), e.alias("__e")
    )
    wnd = Window.partitionBy(group_col).orderBy(
        F.col("__e").asc(), F.col(key_col).asc()
    )
    ranked = pri.select("*", F.row_number().over(wnd).alias("__rn")).filter(
        F.col("__rn") <= k + 1
    )
    tw = Window.partitionBy(group_col)
    tau = F.max(F.when(F.col("__rn") == k + 1, F.col("__e"))).over(tw)
    est = F.when(tau.isNull(), F.col("weight").cast("double")).otherwise(
        F.col("weight").cast("double")
        / (F.lit(1.0) - F.exp(-F.col("weight").cast("double") * tau))
    )
    return (
        ranked.select(
            group_col,
            key_col,
            "weight",
            half_up_round(est, 4).alias("est_weight"),
            "__rn",
        )
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def token_budget_allocation(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    quality_col: str,
    budget: int,
    max_epochs: int = 1,
) -> DataFrame:
    """Per-source token-budget allocator: turn per-source quality scores
    and a GLOBAL token budget into per-source token allocations and
    sampling rates with EXACT integer accounting — the operator that
    converts DSIR/quality-classifier scores into an actual training
    mixture (VERDICT r8 staged-tier brief; composes with
    :func:`ppswor_sample_by_group`, which then draws each source's
    allocation without replacement).

    Inputs are row-level: ``tokens_col`` (tokens this row contributes,
    bigint) and ``quality_col`` (non-negative integer source weight,
    e.g. a classifier score in ppm — integer by contract so every share
    below is EXACT bigint arithmetic; a float score is pre-scaled by
    the caller). Rows with a NULL group are excluded (the stratified
    NULL contract); NULL tokens/quality count as 0.

    Allocation law (deterministic, closed-form, no iteration):

    1. per source i: n_i = Σ tokens, w_i = max of the row weights
       (a source has ONE quality score; max tolerates dirty rows);
       W = Σ w_i over sources with headroom, weighted shares use
       d_i = w_i · n_i (quality × size — a tiny brilliant source
       cannot absorb the whole budget, a huge junk source cannot
       either);
    2. round 1: a_i = min(cap_i, ⌊B · d_i / D⌋) — exact bigint floor
       division, D = Σ d_i, cap_i = max_epochs · n_i (max_epochs=1 is
       the classic no-repeat mixture; >1 is the data-constrained
       repeat law, Muennighoff et al. 2023 — rate_ppm > 10⁶ = epochs);
    3. round 2 (single proportional redistribution, documented — NOT
       iterated waterfilling): leftover L = B − Σ a_i goes to sources
       with headroom h_i = cap_i − a_i by the same share law over
       D' = Σ d_i restricted to h_i > 0: b_i = min(h_i, ⌊L · d_i / D'⌋);
    4. exact crumb fill: the still-unallocated R = L − Σ b_i is poured
       greedily into remaining headroom h'_i = h_i − b_i in
       (round-2 remainder L·d_i mod D' DESC, group key ASC) order —
       c_i = clamp(R − Σ_{j before i} h'_j, 0, h'_i), a clamped
       EXCLUSIVE cumulative sum, so Σ(a+b+c) == min(B, Σ cap_i) EXACTLY
       (a single largest-remainder +1 pass is NOT exact here: a source
       capped in round 2 strands more than one token). Round 4 moves
       only the crumbs rounds 1–2 left behind — the mixture stays
       proportional-with-caps.

    Output: (group, n_tokens, weight, alloc_tokens, rate_ppm) where
    rate_ppm = alloc·10⁶ DIV n (the per-source sampling rate a
    downstream sampler applies). All columns exact integers — the
    oracle replays every step bit-for-bit.

    100 TB shape: one map-side-combining groupBy collapses the corpus
    to |sources| rows; everything after (three 1-row totals joined
    broadcast-style, one rank window over the |sources|-row frame) is
    bounded by the source count, not the corpus.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0: {budget}")
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1: {max_epochs}")
    per = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.coalesce(F.sum(F.col(tokens_col).cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce(F.max(F.col(quality_col).cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias("weight"),
        )
    )
    d = F.col("weight").cast("decimal(38,0)") * F.col("n_tokens")
    # per-source CAP: max_epochs=1 is sample-without-repeats (the classic
    # budget mixture); max_epochs=E is the data-constrained-scaling law
    # (Muennighoff et al. 2023) — a source may be repeated up to E epochs
    # before the allocator spills budget to the next source, so
    # Σ alloc == min(B, E·Σ n) exactly and rate_ppm > 10⁶ reads as epochs
    per = per.withColumn("__d", d).withColumn(
        "__cap",
        (F.lit(int(max_epochs)).cast("bigint") * F.col("n_tokens")).cast(
            "bigint"
        ),
    )
    tot = per.agg(F.sum("__d").cast("decimal(38,0)").alias("__dsum"))
    B = F.lit(int(budget)).cast("bigint")
    # bigint/bigint with `/` is fractional in Spark — integral `div`
    # keeps every share an exact floor division. All share PRODUCTS ride
    # decimal(38,0): w·n, B·d and L·d overflow int64 inside the 100 TB
    # envelope (B·d ~ 1e13·1e16 = 1e29; int64 tops out at 9.2e18), and
    # ANSI Spark would abort the job — measured, SCALE.md round-9
    # "numeric-magnitude axis". Quotients (token counts) stay bigint.
    r1 = per.join(F.broadcast(tot)).select(
        "*",
        F.when(
            F.col("__dsum") > 0,
            F.least(
                F.col("__cap"),
                F.expr(f"(CAST({budget} AS DECIMAL(38,0)) * __d) div __dsum"),
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("__a1"),
    )
    r1 = r1.withColumn("__h", (F.col("__cap") - F.col("__a1")).cast("bigint"))
    t2 = r1.agg(
        (B - F.sum("__a1")).cast("bigint").alias("__lred"),
        F.sum(F.when(F.col("__h") > 0, F.col("__d")).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("__d2sum"),
    )
    r2 = r1.join(F.broadcast(t2)).select(
        "*",
        F.when(
            (F.col("__h") > 0) & (F.col("__d2sum") > 0),
            F.least(F.col("__h"), F.expr("(CAST(__lred AS DECIMAL(38,0)) * __d) div __d2sum")),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("__b"),
        # __rem is ONLY a sort key (crumb order); it ranges up to
        # __d2sum ≈ Σ w·n, far past int64 at scale — keep it decimal
        F.when(
            (F.col("__h") > 0) & (F.col("__d2sum") > 0),
            F.expr("(CAST(__lred AS DECIMAL(38,0)) * __d) % __d2sum"),
        )
        .otherwise(F.lit(-1))
        .cast("decimal(38,0)")
        .alias("__rem"),
    )
    r2 = r2.withColumn(
        "__h2", (F.col("__h") - F.col("__b")).cast("bigint")
    )
    # __L is per-row-constant (broadcast of a 1-row agg): first() reads it
    t3 = r2.agg((F.first("__lred") - F.sum("__b")).cast("bigint").alias("__rfin"))
    # exact crumb fill: clamped EXCLUSIVE cumsum of remaining headroom in
    # (remainder DESC, group ASC) order — rows without headroom have
    # __h2 = 0 and absorb nothing wherever they sort
    wrank = Window.orderBy(F.col("__rem").desc(), F.col(group_col).asc())
    cum_before = F.coalesce(
        F.sum("__h2").over(wrank.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("bigint")
    out = (
        r2.withColumn("__cum", cum_before)
        .join(F.broadcast(t3))
        .select(
            group_col,
            "n_tokens",
            "weight",
            (
                F.col("__a1")
                + F.col("__b")
                + F.least(
                    F.col("__h2"),
                    F.greatest(F.col("__rfin") - F.col("__cum"), F.lit(0)),
                )
            )
            .cast("bigint")
            .alias("alloc_tokens"),
        )
        .select(
            group_col,
            "n_tokens",
            "weight",
            "alloc_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000) div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("rate_ppm"),
        )
    )
    return out


def temperature_mixture(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget: int,
    weight_scale: int = 1000,
) -> DataFrame:
    """Temperature-scaled multinomial source mixture (the multilingual-
    LM sampling law, Conneau et al. 2020 XLM-R §3.1 / Raffel et al. T5):
    per-source sampling probability p_i ∝ n_i^α flattens the natural
    size distribution so low-resource sources are up-sampled.

    α is FIXED at 0.5 — n_i^0.5 = sqrt(n_i), and IEEE-754 requires sqrt
    to be exactly rounded, so Spark (JVM) and any oracle engine (libm)
    produce the BIT-IDENTICAL double for the same bigint input; the
    weight is then frozen to an integer w_i = ⌊sqrt(n_i)·scale⌋ and
    every downstream share is exact bigint arithmetic (the catalog
    float-determinism rules). An arbitrary α needs pow(), which is NOT
    exactly rounded and diverges across engines in the last ulp — a
    deployment wanting α≠0.5 pre-computes w_i upstream and uses
    :func:`token_budget_allocation` with those weights.

    Returns one row per source: (group, n_tokens, weight,
    p_ppm = ⌊10⁶·w_i/W⌋, alloc_tokens = ⌊B·w_i/W⌋,
    epochs_ppm = ⌊10⁶·alloc/n⌋ — the oversampling factor: >10⁶ means
    the source repeats within the budget, the signal that α is too
    flat for the corpus). Allocation here is NOT capped at n_i — by
    design, temperature sampling repeats small sources; cap behavior
    is :func:`token_budget_allocation`'s job.

    NULL groups are excluded (stratified NULL contract); NULL/negative
    token counts clamp to 0 (sqrt domain).

    100 TB shape: ONE map-side-combining groupBy collapses the corpus
    to |sources| rows; the scalar total W joins back via a 1-row
    broadcast cross join; everything after is bounded by |sources|.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0: {budget}")
    if weight_scale < 1:
        raise ValueError(f"weight_scale must be >= 1: {weight_scale}")
    per = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.coalesce(
                F.sum(F.col(tokens_col).cast("bigint")), F.lit(0).cast("bigint")
            ).alias("n_tokens")
        )
        .withColumn(
            "weight",
            F.floor(
                F.sqrt(F.greatest(F.col("n_tokens"), F.lit(0)).cast("double"))
                * F.lit(weight_scale)
            ).cast("bigint"),
        )
    )
    total = per.agg(F.sum("weight").cast("bigint").alias("__w_total"))
    share = F.when(
        F.col("__w_total") > 0,
        F.expr("(CAST(weight AS DECIMAL(38,0)) * 1000000) div __w_total"),
    ).otherwise(F.lit(0))
    alloc = F.when(
        F.col("__w_total") > 0,
        F.expr(f"(CAST({int(budget)} AS DECIMAL(38,0)) * weight) div __w_total"),
    ).otherwise(F.lit(0))
    return (
        per.crossJoin(F.broadcast(total))
        .withColumn("p_ppm", share.cast("bigint"))
        .withColumn("alloc_tokens", alloc.cast("bigint"))
        .select(
            group_col,
            "n_tokens",
            "weight",
            "p_ppm",
            "alloc_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000) div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("epochs_ppm"),
        )
    )


def threshold_retention(
    df: DataFrame,
    score_col: str,
    size_col: str,
    bucket_width: int,
) -> DataFrame:
    """Quality-threshold retention sweep: for every score threshold on a
    fixed grid (multiples of ``bucket_width``), how many documents and
    tokens survive a ``score >= threshold`` filter? The tuning curve
    behind every quality-filter deployment (FineWeb-Edu threshold
    ablations): pick the cutoff by reading tokens-retained against the
    target budget instead of re-scanning the corpus once per candidate
    threshold.

    One corpus scan total: documents collapse into score buckets
    (⌊score/width⌋, exact floor division for any sign via pmod), and the
    retention at threshold b·width is a reverse cumulative sum over the
    tiny bucket frame — |buckets| rows, NOT |thresholds| corpus scans.

    Returns one row per occupied bucket, ascending:
    (threshold, docs_kept, tokens_kept, docs_ppm, tokens_ppm) where
    *_kept counts rows with score >= threshold and *_ppm are exact
    ⌊10⁶·kept/total⌋ shares of the scanned corpus. NULL scores are
    excluded; NULL sizes count 0 tokens (the row still counts as a doc).

    100 TB shape: ONE map-side-combining groupBy(bucket); the window
    cumsum and the totals run on |buckets| rows in a single partition —
    bounded state by construction (buckets ∝ score range / width).
    """
    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1: {bucket_width}")
    w = int(bucket_width)
    # floor division for any sign: (score - pmod(score, w)) / w is exact
    bucket = F.expr(
        f"(CAST(`{score_col}` AS BIGINT) - pmod(CAST(`{score_col}` AS BIGINT), {w}))"
        f" DIV {w}"
    )
    buckets = (
        df.filter(F.col(score_col).isNotNull())
        .select(
            bucket.alias("__bucket"),
            F.coalesce(F.col(size_col).cast("bigint"), F.lit(0)).alias("__sz"),
        )
        .groupBy("__bucket")
        .agg(
            F.count("*").cast("bigint").alias("__docs"),
            F.sum("__sz").cast("bigint").alias("__toks"),
        )
    )
    rev = Window.orderBy(F.col("__bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.orderBy(F.col("__bucket")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        buckets.select(
            (F.col("__bucket") * w).cast("bigint").alias("threshold"),
            F.sum("__docs").over(rev).cast("bigint").alias("docs_kept"),
            F.sum("__toks").over(rev).cast("bigint").alias("tokens_kept"),
            F.sum("__docs").over(tot).cast("bigint").alias("__tot_docs"),
            F.sum("__toks").over(tot).cast("bigint").alias("__tot_toks"),
        )
        .select(
            "threshold",
            "docs_kept",
            "tokens_kept",
            F.expr("(CAST(docs_kept AS DECIMAL(38,0)) * 1000000) div __tot_docs")
            .cast("bigint")
            .alias("docs_ppm"),
            F.when(
                F.col("__tot_toks") > 0,
                F.expr("(CAST(tokens_kept AS DECIMAL(38,0)) * 1000000) div __tot_toks"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("tokens_ppm"),
        )
        .orderBy("threshold")
    )


def curriculum_stages(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    n_stages: int = 4,
    bucket_width: int = 100,
) -> DataFrame:
    """Curriculum-learning stage assignment: within each source, rank
    documents by quality (score DESC, id ASC — a pure function of the
    data) and cut the ranking into ``n_stages`` near-equal stages, so a
    trainer can feed stage 0 (cleanest) first and anneal toward the tail
    — the data-ordering half of curriculum pretraining (Bengio et al.
    2009; quality-ordered variants in FineWeb-Edu ablations).

    ``stage = ((rank-1) · n_stages) DIV n_group`` — exact bigint floor
    arithmetic; stage sizes differ by at most one document per source.

    NULL contract: rows with a NULL group, score, or id are excluded
    up front (a NULL score carries no curriculum position — the
    stratified-family contract; oracles mirror the filter).

    100 TB shape: the per-source rank needs NO monolithic per-source
    window (the hot profile makes one source 90 % of the corpus — a
    plain ``partitionBy(source)`` window serializes it on one task).
    Rows bucket by (source, ⌊score/bucket_width⌋) — order-consistent
    with (score DESC) since the bucket is monotone in score; per-bucket
    counts roll into exclusive prefix offsets on the tiny (source ×
    buckets) frame — the ONLY cross-bucket window; rank = offset +
    row_number within (source, bucket). The sorted-neighborhood
    distributed-rank discipline (dedup.sorted_neighborhood_pairs)
    applied to curriculum ordering. A hot (source, bucket) only widens
    its own row_number partition; shrink ``bucket_width`` to split it.
    """
    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1: {n_stages}")
    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1: {bucket_width}")
    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(score_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(score_col).cast("bigint").alias("__q"),
        F.col(id_col).cast("bigint").alias("__id"),
    )
    # exact floor division for ANY sign (Spark DIV truncates toward 0;
    # the pmod identity makes it a true floor — the threshold_retention
    # bucketing discipline)
    w = int(bucket_width)
    bk = F.expr(f"(__q - pmod(__q, {w})) DIV {w}").cast("bigint")
    base = base.withColumn("__bk", bk)
    counts = base.groupBy("__g", "__bk").agg(
        F.count("*").cast("bigint").alias("__cnt")
    )
    # exclusive prefix sum in (bucket DESC) order — higher scores rank
    # first; frame is |sources| x |score buckets|, never the corpus
    woff = (
        Window.partitionBy("__g")
        .orderBy(F.col("__bk").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy("__g")
    offsets = counts.select(
        "__g",
        "__bk",
        F.coalesce(F.sum("__cnt").over(woff), F.lit(0))
        .cast("bigint")
        .alias("__off"),
        F.sum("__cnt").over(wtot).cast("bigint").alias("__n"),
    )
    wr = Window.partitionBy("__g", "__bk").orderBy(
        F.col("__q").desc(), F.col("__id").asc()
    )
    ranked = base.join(offsets, ["__g", "__bk"]).select(
        F.col("__g"),
        F.col("__id"),
        F.col("__q"),
        (F.row_number().over(wr) + F.col("__off")).cast("bigint").alias("rank"),
        F.col("__n"),
    )
    return ranked.select(
        F.col("__g").alias(group_col),
        F.col("__id").alias(id_col),
        F.col("__q").alias("score"),
        "rank",
        F.expr(f"((rank - 1) * {int(n_stages)}) DIV __n")
        .cast("bigint")
        .alias("stage"),
    )
