"""Mergeable sketch operators, engine-portable by construction.

KMV (k-minimum-values) distinct-count sketch: keep the k smallest hash
values of a column; estimate |distinct| ≈ (k-1) / k-th smallest hash with
hashes scaled to [0,1). Because the hash is md5 (identical everywhere) and
"k smallest" is order-free, the estimate — unlike HLL implementations — is
bit-reproducible across engines and partitionings, so the DuckDB oracle
checks it exactly.

Numeric discipline: the hash fraction uses the first 13 hex chars = 52
bits, inside the exact-integer range of a double, and the divisor is a
power of two — both engines compute the identical float, no rounding gap.

Scale shape: project → distinct (one hash shuffle of (group, 8-byte h)
pairs, the same cost COUNT(DISTINCT) pays) → per-group sorted rank kept to
k rows. Nothing collects more than k values per group into one buffer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_glue_spark.functions.scalars import half_up_round

#: 13 hex chars = 52 bits — exact in IEEE double on every engine
_PREFIX_LEN = 13
_SPACE = float(16**_PREFIX_LEN)


def hash_fraction(col) -> "F.Column":
    """Uniform [0,1) double from md5(col), bit-identical across engines."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, _PREFIX_LEN), 16, 10).cast(
        "double"
    ) / F.lit(_SPACE)


def hash_int(col) -> "F.Column":
    """Uniform BIGINT in [0, 16^13) from md5(col) — the integer form of
    :func:`hash_fraction` for operators whose downstream math must stay in
    exact int64 (priority-sampling floor-division keys). 16^13 = 2^52, so
    the value is exact both as int64 and as a double."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, _PREFIX_LEN), 16, 10).cast(
        "bigint"
    )


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 256,
    group_by: list[str] | None = None,
) -> DataFrame:
    """KMV estimate of COUNT(DISTINCT col), optionally per group.

    Exact when |distinct| < k (the estimator sees every hash); error
    ~1/sqrt(k-2) above. Output: group cols + ``approx_distinct`` (double,
    half-up rounded to 4 dp).

    Why not approx_count_distinct: Spark's HLL++ and any other engine's HLL
    disagree bucket-by-bucket, so results aren't reproducible across
    engines (or even Spark versions) — KMV over md5 is, at the same
    O(k)-memory mergeable-sketch contract.
    """
    keys = group_by or []
    hashed = df.select(
        *keys, hash_fraction(F.col(col)).alias("__h")
    ).distinct()
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col("__h").asc())
        topk = hashed.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= k
        )
        sk = topk.groupBy(*keys).agg(
            F.count("*").alias("__nk"),
            F.max(F.when(F.col("__rn") == k, F.col("__h"))).alias("__kth"),
        )
    else:
        # Ungrouped: a Window.partitionBy() row_number would funnel every
        # distinct hash (the full vocabulary at 100 TB) through ONE
        # partition. orderBy+limit compiles to TakeOrderedAndProject —
        # per-partition top-k, then a k-row merge on the driver — the
        # scale-safe shape for a global smallest-k.
        topk = hashed.orderBy(F.col("__h").asc()).limit(k)
        sk = topk.groupBy().agg(
            F.count("*").alias("__nk"),
            F.max("__h").alias("__maxh"),
        ).select(
            "__nk",
            F.when(F.col("__nk") == k, F.col("__maxh")).alias("__kth"),
        )
    est = F.when(F.col("__nk") < k, F.col("__nk").cast("double")).otherwise(
        (F.lit(k) - 1) / F.col("__kth")
    )
    return sk.select(*keys, half_up_round(est, 4).alias("approx_distinct"))


def _duck_hash_fraction(col: str) -> str:
    """DuckDB expression mirroring :func:`hash_fraction` digit-by-digit."""
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring(md5(CAST({col} AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {float(16 ** (_PREFIX_LEN - 1 - i))!r}"
        for i in range(_PREFIX_LEN)
    )
    return f"({digits}) / {_SPACE!r}"


def _duck_hash_int(col: str) -> str:
    """DuckDB expression mirroring :func:`hash_int` digit-by-digit.

    Pure BIGINT arithmetic (integer digit weights, no division) so the
    result is bit-identical to Spark's ``conv(md5, 16, 10)`` int64 and
    safe inside further exact floor-division math."""
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring(md5(CAST({col} AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (_PREFIX_LEN - 1 - i)}"
        for i in range(_PREFIX_LEN)
    )
    return f"CAST(({digits}) AS BIGINT)"


def kmv_oracle_sql(
    source: str, col: str, k: int = 256, group_by: list[str] | None = None
) -> str:
    """DuckDB SQL computing the identical KMV estimate (for parity gates)."""
    keys = ", ".join(group_by) if group_by else ""
    sel_keys = f"{keys}, " if keys else ""
    part = f"PARTITION BY {keys} " if keys else ""
    grp = f"GROUP BY {keys}" if keys else ""
    return f"""
    WITH hashed AS (
      SELECT DISTINCT {sel_keys}{_duck_hash_fraction(col)} AS h FROM {source}
    ),
    ranked AS (
      SELECT {sel_keys}h, row_number() OVER ({part}ORDER BY h) AS rn FROM hashed
    ),
    sk AS (
      SELECT {sel_keys}COUNT(*) AS nk,
             MAX(CASE WHEN rn = {k} THEN h END) AS kth
      FROM ranked WHERE rn <= {k} {grp}
    )
    SELECT {sel_keys}
           FLOOR((CASE WHEN nk < {k} THEN CAST(nk AS DOUBLE)
                       ELSE {k - 1} / kth END) * 1e4 + 0.5) / 1e4
             AS approx_distinct
    FROM sk
    """


def kmv_set_ops(
    df: DataFrame,
    col: str,
    group_col: str,
    k: int = 128,
) -> DataFrame:
    """Pairwise set algebra between per-group KMV sketches: for every
    group pair (a < b), estimate |A∪B|, Jaccard(A,B) and |A∩B| of the
    distinct values of ``col`` — the WIMBD-style "how much vocabulary do
    two crawl sources share" audit, answered from O(k)-size sketches.

    Estimators (Beyer et al. 2007 / Cohen & Kaplan 2007):

    - union: KMV over the k smallest of sketch(A) ∪ sketch(B) — valid
      because the k smallest of the union of two k-smallest sets ARE the
      k smallest of A∪B;
    - Jaccard: fraction of those union-sketch members present in BOTH
      sketches (each union-sketch row is a uniform sample of A∪B);
    - intersection: Jaccard × union estimate. Exact when |A∪B| < k.

    100 TB shape: ONE corpus-sized shuffle (the distinct (group, 8-byte
    hash) projection — the same cost a per-group COUNT(DISTINCT) pays),
    then every pairwise term runs over k-row sketches: with S sources the
    algebra costs O(S²·k) rows total, independent of corpus size. The
    sketches are mergeable, so per-shard sketches can be folded first.

    Engine-portable like :func:`kmv_distinct`: md5-fraction hashes are
    bit-identical everywhere, "k smallest" is order-free, and a value in
    both groups hashes identically — so membership flags, counts, and the
    final doubles replay exactly in the DuckDB oracle.
    """
    hashed = df.select(
        F.col(group_col).alias("g"), hash_fraction(F.col(col)).alias("h")
    ).distinct()
    w = Window.partitionBy("g").orderBy(F.col("h").asc())
    # localCheckpoint: the sketch frame is referenced five times below
    # (pair enumeration, both union branches, both membership probes) —
    # without materializing these ≤ groups×k rows, Spark re-runs the
    # corpus-sized distinct+top-k once per reference.
    sk = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("g", "h")
        .localCheckpoint(eager=True)
    )
    groups = sk.select("g").distinct()
    pairs = (
        groups.select(F.col("g").alias("ga"))
        .join(groups.select(F.col("g").alias("gb")), F.col("ga") < F.col("gb"))
    )
    ska = sk.select(F.col("g").alias("ga"), "h")
    skb = sk.select(F.col("g").alias("gb"), "h")
    union_rows = (
        pairs.join(ska, "ga")
        .select("ga", "gb", "h")
        .union(pairs.join(skb, "gb").select("ga", "gb", "h"))
        .distinct()
    )
    wu = Window.partitionBy("ga", "gb").orderBy(F.col("h").asc())
    uk = union_rows.withColumn("rn", F.row_number().over(wu)).filter(
        F.col("rn") <= k
    )
    flagged = (
        uk.join(ska.withColumn("in_a", F.lit(1)), ["ga", "h"], "left")
        .join(skb.withColumn("in_b", F.lit(1)), ["gb", "h"], "left")
    )
    agg = flagged.groupBy("ga", "gb").agg(
        F.count("*").alias("nk"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth"),
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1).otherwise(0)
        ).alias("n_both"),
    )
    union_est = F.when(F.col("nk") < k, F.col("nk").cast("double")).otherwise(
        (F.lit(k) - 1) / F.col("kth")
    )
    jacc = F.col("n_both").cast("double") / F.col("nk").cast("double")
    return agg.select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        half_up_round(union_est, 4).alias("union_distinct_est"),
        half_up_round(jacc, 6).alias("jaccard_est"),
        half_up_round(union_est * jacc, 4).alias("intersection_est"),
    )


def kmv_set_ops_oracle_sql(source: str, col: str, group_col: str, k: int = 128) -> str:
    """DuckDB SQL replaying :func:`kmv_set_ops` exactly (same hash, same
    k-smallest ranks, same membership flags, same float expressions)."""
    return f"""
    WITH hashed AS (
      SELECT DISTINCT {group_col} AS g, {_duck_hash_fraction(col)} AS h FROM {source}
    ),
    sk AS (
      SELECT g, h FROM (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hashed
      ) WHERE rn <= {k}
    ),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb
      FROM (SELECT DISTINCT g FROM sk) a JOIN (SELECT DISTINCT g FROM sk) b
        ON a.g < b.g
    ),
    u AS (
      SELECT DISTINCT p.ga, p.gb, s.h
      FROM pairs p JOIN sk s ON s.g = p.ga OR s.g = p.gb
    ),
    uk AS (
      SELECT ga, gb, h,
             row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
      FROM u
    ),
    fl AS (
      SELECT uk.ga, uk.gb, uk.h, uk.rn,
             EXISTS(SELECT 1 FROM sk WHERE sk.g = uk.ga AND sk.h = uk.h) AS in_a,
             EXISTS(SELECT 1 FROM sk WHERE sk.g = uk.gb AND sk.h = uk.h) AS in_b
      FROM uk WHERE rn <= {k}
    ),
    agg AS (
      SELECT ga, gb, COUNT(*) AS nk,
             MAX(CASE WHEN rn = {k} THEN h END) AS kth,
             SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS n_both
      FROM fl GROUP BY ga, gb
    ),
    est AS (
      SELECT ga, gb,
             CASE WHEN nk < {k} THEN CAST(nk AS DOUBLE)
                  ELSE {k - 1} / kth END AS union_est,
             CAST(n_both AS DOUBLE) / CAST(nk AS DOUBLE) AS jacc
      FROM agg
    )
    SELECT ga AS source_a, gb AS source_b,
           FLOOR(union_est * 1e4 + 0.5) / 1e4 AS union_distinct_est,
           FLOOR(jacc * 1e6 + 0.5) / 1e6 AS jaccard_est,
           FLOOR(union_est * jacc * 1e4 + 0.5) / 1e4 AS intersection_est
    FROM est
    """


# ---- count-min sketch ------------------------------------------------------

#: power-of-two width ⇒ floor(fraction · width) is an exact double op
_CM_WIDTH = 256
_CM_DEPTH = 4


def _cm_bucket(col, row: int) -> "F.Column":
    """Bucket of ``col`` in sketch row ``row``: floor(md5-fraction · w)."""
    salted = F.concat(F.lit(f"{row}:"), col.cast("string"))
    return F.floor(hash_fraction(salted) * F.lit(_CM_WIDTH)).cast("int")


def countmin_build(
    df: DataFrame,
    col: str,
    depth: int = _CM_DEPTH,
    width: int = _CM_WIDTH,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch of the frequency of ``col`` values:
    (row_idx, bucket, cnt) with depth×width cells total.

    Mergeable (cell-wise +) and engine-portable: buckets come from the md5
    fraction (see module docstring), counts are exact bigints. At 100 TB
    the build is ``depth`` map-side projections of the input collapsing
    into a depth×width-row aggregate — the shuffle carries only
    (row, bucket) pairs, and the sketch itself is ~4 KB regardless of
    input size: THE constant-memory alternative to an exact groupBy when
    only approximate per-item counts are needed.

    ``weight_col`` builds the IDENTICAL sketch from pre-aggregated
    (value, count) rows — cell cnt = Σ weights = the instance count —
    so a caller that already holds per-value counts pays ``depth`` md5s
    per DISTINCT value instead of per instance (r12-opt: the md5 bucket
    arithmetic, not the shuffle, is this operator's cost at any scale).
    """
    if width < 1 or width & (width - 1):
        raise ValueError(f"width must be a power of two (exact double math): {width}")
    # ONE scan: posexplode of the depth-wide bucket array (position = row
    # index) — a union of depth branches would read the input depth times.
    stacked = df.select(
        F.posexplode(
            F.array(*[_cm_bucket(F.col(col), j) for j in range(depth)])
        ).alias("row_idx", "bucket"),
        *([F.col(weight_col).alias("__w")] if weight_col else []),
    )
    agg = (
        F.sum("__w").cast("bigint") if weight_col else F.count("*").cast("bigint")
    )
    return stacked.groupBy("row_idx", "bucket").agg(agg.alias("cnt"))


def countmin_estimate(
    sketch: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = _CM_DEPTH,
    width: int = _CM_WIDTH,
) -> DataFrame:
    """Point-estimate frequencies for ``items[col]`` from a count-min
    sketch: min over rows of the item's cell — an upper bound on the true
    count (classic CM overestimate guarantee, exact equality when no
    collisions). The sketch side is depth×width rows → broadcast; lookups
    never shuffle the item side."""
    probes = items.select(
        F.col(col),
        F.posexplode(
            F.array(*[_cm_bucket(F.col(col), j) for j in range(depth)])
        ).alias("row_idx", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("cm_count"))
    )


def _duck_cm_bucket(expr: str, row: int) -> str:
    """DuckDB mirror of :func:`_cm_bucket`."""
    salted = "'" + str(row) + ":' || " + expr
    return f"CAST(FLOOR({_duck_hash_fraction(salted)} * {_CM_WIDTH}) AS INT)"


# ---- Bloom filter ----------------------------------------------------------

_BLOOM_BITS = 1 << 16  # power of two ⇒ floor(fraction · bits) exact
_BLOOM_K = 4


def _bloom_pos(col, j: int, bits: int = _BLOOM_BITS) -> "F.Column":
    salted = F.concat(F.lit(f"b{j}:"), col.cast("string"))
    return F.floor(hash_fraction(salted) * F.lit(bits)).cast("bigint")


def bloom_build(
    df: DataFrame, col: str, bits: int = _BLOOM_BITS, k: int = _BLOOM_K
) -> DataFrame:
    """Bloom filter of ``df[col]`` as the set of SET bit positions
    (≤ min(k·|values|, bits) rows of one bigint).

    md5-fraction positions → engine-portable and layout-invariant; the
    position-set representation is mergeable by UNION. At 100 TB this is
    the "have we seen this key" primitive for cross-batch dedup and
    build-side join pruning: the whole filter is ≤ ``bits`` rows (64 KB
    here) regardless of input size, so it always broadcasts.
    """
    if bits < 1 or bits & (bits - 1):
        raise ValueError(f"bits must be a power of two (exact double math): {bits}")
    # ONE scan: explode the k positions per value — a union of k branches
    # would read the build side k times.
    return df.select(
        F.explode(
            F.array(*[_bloom_pos(F.col(col), j, bits) for j in range(k)])
        ).alias("pos")
    ).distinct()


def bloom_probe(
    bloom: DataFrame,
    probe: DataFrame,
    col: str,
    bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Rows of ``probe`` whose ``col`` MIGHT be in the built set (all k bit
    positions present — no false negatives, deterministic false positive
    set). The filter side broadcasts; the probe side is never shuffled:
    this is the semi-join pre-prune that cuts shuffle input before an
    exact join at scale."""
    probed = probe
    marks = []
    for j in range(k):
        b = bloom.select(F.col("pos").alias(f"__p{j}"))
        probed = probed.join(
            F.broadcast(b),
            _bloom_pos(F.col(col), j, bits) == F.col(f"__p{j}"),
            "left",
        )
        marks.append(F.col(f"__p{j}").isNotNull())
    keep = marks[0]
    for m in marks[1:]:
        keep = keep & m
    return probed.filter(keep).drop(*[f"__p{j}" for j in range(k)])


def _duck_bloom_pos(expr: str, j: int, bits: int = _BLOOM_BITS) -> str:
    salted = "'b" + str(j) + ":' || " + expr
    return f"CAST(FLOOR({_duck_hash_fraction(salted)} * {bits}) AS BIGINT)"


# ---- HyperLogLog ------------------------------------------------------------

_HLL_P = 8  #: register-index bits → m = 256 registers (~6.5% std error)
_HLL_M = 1 << _HLL_P


def _hll_alpha_c(m: int) -> float:
    """alpha_m · m² · 2^53 as ONE Python float literal, so both engines
    evaluate the estimate as a single ``C / S`` division of identical
    operands (no cross-engine multiply-ordering gap)."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << 53)


def hll_distinct(
    df: DataFrame,
    col: str,
    group_by: list[str] | None = None,
    p: int = _HLL_P,
) -> DataFrame:
    """HyperLogLog distinct-count estimate, optionally per group — the
    fixed-memory counterpart of :func:`kmv_distinct` (m registers of one
    byte vs KMV's k hashes; HLL wins when many groups each need a sketch).

    Engine-portable by construction, unlike every stock HLL (Spark's
    approx_count_distinct, DuckDB's approx_count_distinct — both
    implementation-defined and mutually incompatible):

    - register index  = first p bits of md5 (2 hex chars for p=8),
    - rho             = leading-zero count of the next 52 bits + 1,
      computed as ``53 - bitlength(v)`` where v is the 13-hex-char value —
      exact integer ops on both engines (``bin()`` is zero-stripped in
      both Spark and DuckDB),
    - register sum    = Σ 2^(53-M_j) accumulated as BIGINT (≤ 2^61), so
      the sum is EXACT and partition-order-free — summing 2^-M_j doubles
      directly would round differently per shuffle layout,
    - estimate        = C / S with C one shared float literal.

    Raw HLL estimator only (no linear-counting small-range correction:
    that needs ln(), which rounds differently across engines — see
    module docstring; below ~2.5·m distinct use KMV, exact under k).

    Scale shape: project → two partial-agg trees (max per register, sum
    per group). The shuffle carries (group, register:int, rho:int) — a
    constant 256 rows per group survive the first tree. No windows, no
    driver state. Reference has no sketch surface; this extends
    aws-samples/dbt-glue per SURVEY §2.14.
    """
    m = 1 << p
    hexes = p // 4  # register hex chars (p=8 → 2)
    keys = group_by or []
    h = F.md5(F.col(col).cast("string"))
    reg = F.conv(F.substring(h, 1, hexes), 16, 10).cast("int")
    v = F.conv(F.substring(h, hexes + 1, _PREFIX_LEN), 16, 10).cast("bigint")
    rho = F.when(v == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(v)))
    regs = (
        df.select(*keys, reg.alias("__reg"), rho.alias("__rho"))
        .groupBy(*keys, "__reg")
        .agg(F.max("__rho").alias("__M"))
    )
    # 2^(53-M) via pow: exponent ∈ [0,52] ⇒ pow is an exact power of two
    # in double, cast back to bigint losslessly (shiftleft can't take a
    # column shift amount).
    term = F.pow(F.lit(2.0), F.lit(53) - F.col("__M")).cast("bigint")
    sk = regs.groupBy(*keys).agg(
        F.sum(term).alias("__sp"), F.count("*").alias("__r")
    )
    full = F.col("__sp") + (F.lit(m) - F.col("__r")) * F.lit(1 << 53).cast("bigint")
    est = F.lit(_hll_alpha_c(m)) / full.cast("double")
    return sk.select(*keys, half_up_round(est, 4).alias("approx_distinct"))


def _duck_hex_int(col: str, start: int, n: int) -> str:
    """DuckDB BIGINT from ``n`` hex chars of md5(col) starting at 1-based
    ``start`` — exact-integer mirror of the Spark conv/substring pair."""
    digits = " + ".join(
        f"CAST(instr('0123456789abcdef', substring(md5(CAST({col} AS VARCHAR)), {start + i}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return f"({digits})"


def hll_oracle_sql(
    source: str, col: str, group_by: list[str] | None = None, p: int = _HLL_P
) -> str:
    """DuckDB SQL computing the identical HLL estimate (for parity gates)."""
    m = 1 << p
    hexes = p // 4
    keys = ", ".join(group_by) if group_by else ""
    sel_keys = f"{keys}, " if keys else ""
    grp1 = f"GROUP BY {keys}, reg" if keys else "GROUP BY reg"
    grp2 = f"GROUP BY {keys}" if keys else ""
    c = _hll_alpha_c(m)
    return f"""
    WITH hashed AS (
      SELECT {sel_keys}
             {_duck_hex_int(col, 1, hexes)} AS reg,
             {_duck_hex_int(col, hexes + 1, _PREFIX_LEN)} AS v
      FROM {source}
    ),
    regs AS (
      SELECT {sel_keys}reg,
             MAX(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS M
      FROM hashed {grp1}
    ),
    sk AS (
      SELECT {sel_keys}
             SUM(CAST(POWER(2.0, 53 - M) AS BIGINT)) AS sp,
             COUNT(*) AS r
      FROM regs {grp2}
    )
    SELECT {sel_keys}
           FLOOR(({c!r} / CAST(sp + ({m} - r) * {1 << 53} AS DOUBLE)) * 1e4 + 0.5) / 1e4
             AS approx_distinct
    FROM sk
    """


# ---- histogram quantile sketch ---------------------------------------------

_HIST_BUCKETS = 256


def histogram_quantiles(
    df: DataFrame,
    col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    buckets: int = _HIST_BUCKETS,
) -> DataFrame:
    """Approximate quantiles from a fixed-width histogram: (q, estimate).

    One output row PER DISTINCT quantile in ``qs`` (r12 ADVICE: the
    one-pass walk groups by q, so a duplicated entry in ``qs`` yields one
    row, not two — ``qs`` is deduped explicitly below to make that the
    documented contract rather than a groupBy accident).

    Two passes — exact (min, max, n), then a ``buckets``-cell count
    histogram; each quantile is linearly interpolated inside the first
    bucket whose cumulative count reaches q·n. Every step is IEEE
    +−×÷/floor on values both engines compute identically, so unlike
    percentile_approx (GK sketch, implementation-defined) the result is
    bit-reproducible and oracle-checkable. The histogram is mergeable
    (cell-wise +) — with KMV (distinct), count-min (frequency) and Bloom
    (membership) this completes the constant-memory sketch quartet: at
    100 TB both passes are partial-aggregate trees over ≤``buckets`` cells,
    and the quantile walk happens on a ``buckets``-row frame.
    """
    from dbt_glue_spark.extensions.dedup import _persist

    # order-preserving dedupe (see docstring contract)
    qs = tuple(dict.fromkeys(qs))
    c = F.col(col).cast("double")
    # persisted: the 1-row stats frame is broadcast into BOTH the
    # histogram pass and the quantile-literal frame below; unpersisted,
    # each broadcast re-ran the full min/max/count scan of the input
    stats = _persist(
        df.agg(
            F.min(c).alias("lo"), F.max(c).alias("hi"), F.count("*").alias("n")
        )
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(buckets))
    hist = (
        df.join(F.broadcast(stats))
        .select(
            # constant column ⇒ width 0: everything lands in bucket 0 and
            # every quantile interpolates to lo (the constant) — without
            # the guard the width division ANSI-aborts the whole sketch
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor((c - F.col("lo")) / width).cast("int"),
                    F.lit(buckets - 1),
                )
            )
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    # global window is intentional here: the cumulative runs over the
    # ≤`buckets`-row histogram, never the data — one partition of ≤256
    # rows IS the sketch contract (the "No Partition Defined" warning it
    # logs is about data-scale windows and does not apply)
    wdw = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.select("bucket", "cnt", F.sum("cnt").over(wdw).alias("cum"))
    # ONE pass over the ≤`buckets`-row cdf for ALL quantiles (was: one
    # cdf branch per quantile, each re-running the histogram pass — the
    # r12 before-plan printed 24 Exchange nodes for a 2-pass sketch):
    # the quantile literals ride the cached 1-row stats frame, each q
    # keeps its first bucket with cum ≥ q·n via min(struct(bucket, ..)),
    # and the interpolation arithmetic is the IDENTICAL expression on
    # the identical values, so the result is bit-equal to the per-branch
    # form (orderBy(bucket).limit(1) ≡ min over bucket).
    qf = stats.select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        "lo",
        "hi",
        "n",
    )
    hit = cdf.join(F.broadcast(qf)).filter(F.col("cum") >= F.col("q") * F.col("n"))
    pick = hit.groupBy("q").agg(
        F.min(
            F.struct("bucket", "cnt", "cum", "lo", "hi", "n")
        ).alias("s")
    )
    return pick.select(
        F.col("q"),
        half_up_round(
            F.col("s.lo")
            + (
                F.col("s.bucket")
                + (F.col("q") * F.col("s.n") - (F.col("s.cum") - F.col("s.cnt")))
                / F.col("s.cnt")
            )
            * ((F.col("s.hi") - F.col("s.lo")) / F.lit(float(buckets))),
            6,
        ).alias("estimate"),
    )


def kmv_estimate_from_hashes(ledger: DataFrame, k: int = 256) -> DataFrame:
    """KMV estimate from an externally-maintained hash ledger (the ≤k-row
    ``h`` table kept by streaming kmv_stream_sink): same estimator and
    rounding as :func:`kmv_distinct`, so a streamed ledger and a one-shot
    batch build yield the identical ``approx_distinct``."""
    sk = (
        ledger.groupBy()
        .agg(F.count("*").alias("__nk"), F.max("h").alias("__maxh"))
        .select("__nk", F.when(F.col("__nk") == k, F.col("__maxh")).alias("__kth"))
    )
    est = F.when(F.col("__nk") < k, F.col("__nk").cast("double")).otherwise(
        (F.lit(k) - 1) / F.col("__kth")
    )
    return sk.select(half_up_round(est, 4).alias("approx_distinct"))


def join_size_estimate(
    a: DataFrame,
    a_col: str,
    b: DataFrame,
    b_col: str,
    depth: int = _CM_DEPTH,
    width: int = _CM_WIDTH,
) -> DataFrame:
    """Equi-join cardinality estimate from count-min sketches (the
    AMS/count-min inner-product estimator): |A ⋈ B| = Σ_k f_A(k)·f_B(k)
    is estimated by min over sketch rows of Σ_bucket cmA·cmB — an upper
    bound that is exact when no bucket collides. This is the
    cost-based-optimizer primitive for join planning over pre-computed
    per-table sketches: two ~4 KB summaries answer "how big is this
    join" without touching either table — at 100 TB the difference
    between planning from stats and running the join to learn it was
    huge.

    Returns one row: (est_join_size, true_join_size) — the true value is
    computed from the per-key count join (not a materialized join) so
    the estimator's quality is part of the result (audit contract, like
    ext_ann_recall_audit).
    """
    ska = countmin_build(a.select(F.col(a_col).alias("k")), "k", depth, width)
    skb = countmin_build(b.select(F.col(b_col).alias("k")), "k", depth, width)
    per_row = (
        ska.withColumnRenamed("cnt", "ca")
        .join(skb.withColumnRenamed("cnt", "cb"), ["row_idx", "bucket"])
        .groupBy("row_idx")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    est = per_row.agg(F.min("dot").cast("bigint").alias("est_join_size"))
    ca = a.groupBy(F.col(a_col).alias("k")).agg(F.count("*").alias("na"))
    cb = b.groupBy(F.col(b_col).alias("k")).agg(F.count("*").alias("nb"))
    true_sz = (
        ca.join(cb, "k")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("true_join_size"))
        .select(F.coalesce("true_join_size", F.lit(0)).alias("true_join_size"))
    )
    return est.join(F.broadcast(true_sz))
