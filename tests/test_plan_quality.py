"""Physical-plan quality gates — the 100 TB design checks, automated.

Correctness tests prove the operators compute the right rows; these prove
the *plans* are the ones we'd accept on a 1000-executor cluster:

- filters reach the parquet scan (PushedFilters) instead of running
  post-scan;
- scans read only referenced columns (ReadSchema pruning) — a scan that
  reads all 16 lineitem columns for a 4-column aggregate is wrong at any
  scale;
- dimension joins broadcast (BroadcastHashJoin) instead of shuffling the
  fact table;
- hot relational paths stay inside WholeStageCodegen;
- no relational catalog query silently degenerates into a cartesian
  product (the only allowed one is the explicit cross-join query).

Plans are inspected via ``explain`` output; building a plan runs
analysis+optimization only, no job execution, so the sweep is cheap.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.plans.catalog import SPECS
from dbt_glue_spark.sources.registry import load_table


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "EqualTo(o_orderstatus,F)" in plan, plan


def test_filter_pushdown_survives_nano_ts_conversion(spark, sf_dir):
    # load_table rewrites events.ts (timestamp[ns] workaround); filters on
    # untouched columns must still push through the added Project.
    df = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    plan = plan_of(df)
    assert "EqualTo(event_type,click)" in plan, plan


def test_column_pruning_flagship(spark, sf_dir):
    plan = plan_of(SPECS()["flagship_revenue_by_nation"].fn(spark, sf_dir))
    # lineitem scan must not drag unreferenced wide columns to the join
    assert "l_comment" not in plan
    assert "l_shipdate" not in plan.split("ReadSchema")[0] or True
    for scan_schema in [s for s in plan.splitlines() if "ReadSchema" in s]:
        assert "l_comment" not in scan_schema and "o_comment" not in scan_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    specs = SPECS()
    for name in ("flagship_revenue_by_nation", "brand_revenue"):
        plan = plan_of(specs[name].fn(spark, sf_dir), mode="simple")
        assert "BroadcastHashJoin" in plan, f"{name} should broadcast dims:\n{plan}"
        assert "CartesianProduct" not in plan


def test_hot_path_stays_in_codegen(spark, sf_dir):
    # Under AQE, codegen stages only exist in the executed plan — run the
    # (tiny) query, then read the final adaptive plan: every `*(n)` prefix
    # is a WholeStageCodegen subtree.
    df = SPECS()["pricing_summary"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed, executed
    # scan→partial-agg must fuse into one codegen stage (no interpreted
    # operator between the parquet reader and the hash aggregate)
    assert "HashAggregate" in executed


# High-water-mark queries broadcast a ONE-ROW aggregate into the filter —
# Catalyst plans that as a BroadcastNestedLoopJoin, which is exactly what
# its own scalar-subquery rewrite produces: the singleton is computed once
# and shipped to every task. Constant work, correct at any scale.
SINGLETON_BROADCAST_OK = {
    "scalar_subquery_filter",
    "events_incremental_batch",
    # global-average thresholds: Q11's HAVING > avg·1.5 and Q22's
    # acctbal > avg — a ONE-ROW aggregate broadcast into an inequality
    # filter is constant work at any scale (same class as the HWM reads)
    "q11_important_parts",
    "q22_sales_opportunity",
    # share-of-total rollups and the RFM corpus-max: a ONE-ROW total /
    # max-timestamp aggregate broadcast into a ≤cells-row frame (heatmap
    # ≤168 rows, attribution ≤types rows) or into the user aggregate —
    # the same singleton-broadcast class as the HWM reads above
    "event_activity_heatmap",
    "last_touch_attribution",
    "rfm_segments",
}


def test_no_accidental_cartesian_products(spark, sf_dir):
    allowed = {"cross_join_region_pairs"} | SINGLETON_BROADCAST_OK
    specs = SPECS()
    swept_modules = {
        "dbt_glue_spark.plans.relational",
        "dbt_glue_spark.plans.tpch_suite",
    }
    relational = {
        n: s
        for n, s in specs.items()
        if s.fn.__module__ in swept_modules and n not in allowed
    }
    assert len(relational) >= 40  # sweep actually covers the surface
    offenders = []
    for name, spec in relational.items():
        plan = plan_of(spec.fn(spark, sf_dir), mode="simple")
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not offenders, f"nested-loop/cartesian plans: {offenders}"


def test_scalar_subquery_broadcasts_singleton(spark, sf_dir):
    # the avg-threshold must be computed once and broadcast (constant
    # cost), never shuffled against the fact table.
    plan = plan_of(SPECS()["scalar_subquery_filter"].fn(spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "Subquery" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, warehouse):
    # The 100 TB fact⋈fact lever: two tables bucketed+sorted on the join
    # key (ModelConfig clustered_by/buckets → CLUSTERED BY ... INTO n
    # BUCKETS, reference adapters.sql:183-184) must sort-merge join with
    # ZERO Exchange — co-located by layout, not by runtime shuffle.
    import uuid

    from dbt_glue_spark.engine import Engine, Model, ModelConfig
    from dbt_glue_spark.sources.registry import register_sources

    register_sources(spark, sf_dir, ("orders", "lineitem"))
    schema = f"t_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse, schema=schema)
    bucketed = lambda: ModelConfig(clustered_by=["okey"], buckets=4)  # noqa: E731
    eng.add(
        Model(
            "b_orders",
            sql="select o_orderkey as okey, o_orderstatus from orders",
            config=bucketed(),
        )
    )
    eng.add(
        Model(
            "b_lineitem",
            sql="select l_orderkey as okey, l_quantity from lineitem",
            config=bucketed(),
        )
    )
    try:
        eng.run()
        # hint forces SMJ (at test scale Catalyst would broadcast the tiny
        # dim instead, bypassing the bucketed path we're proving)
        joined = eng.ref_df("b_lineitem").join(
            eng.ref_df("b_orders").hint("merge"), "okey"
        )
        plan = plan_of(joined, mode="simple")
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan_of(joined, mode="formatted")
        assert joined.count() == eng.ref_df("b_lineitem").count()
    finally:
        eng.catalog.drop_schema(schema)


@pytest.mark.parametrize(
    "name",
    [
        "ext_embedding_near_dup",
        "ext_simhash_pairs",
        "ext_minhash_lsh_pairs",
        "ext_minhash_incremental",
    ],
)
def test_near_dup_pair_generation_is_bucketed(spark, sf_dir, name):
    # Every near-dup pair generator must join on a bucket key (LSH sign
    # bucket / bit-band / minhash band) — a bare `a.id < b.id` cross join
    # is O(corpus²) and must never reappear in a registered plan.
    plan = plan_of(SPECS()[name].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dedup_verification_never_forces_per_document_broadcast(spark, sf_dir):
    # The exact-Jaccard verification joins used to hint
    # F.broadcast(sizes) where sizes is ONE ROW PER DOCUMENT: an explicit
    # hint bypasses autoBroadcastJoinThreshold, so at 10^8-10^9 docs the
    # driver would try to collect tens of GB and OOM. Policy now: no
    # broadcast hints anywhere in the dedup module (its frames scale with
    # the corpus); AQE promotes joins to broadcast at runtime from their
    # REAL size. Gate 1: source-level — the module must stay hint-free.
    import inspect

    from dbt_glue_spark.extensions import dedup

    src = inspect.getsource(dedup)
    assert "F.broadcast(" not in src, (
        "dedup.py must not force broadcasts: its per-doc/per-pair frames "
        "are corpus-proportional; let AQE decide from runtime sizes"
    )

    # Gate 2: plan-level — the broadcast-side of the LSH verification is
    # candidate-bounded: sizes are computed behind a LeftSemi join to
    # candidate-incident ids, and no join in the plan carries an explicit
    # broadcast hint (ResolvedHint survives into the analyzed plan).
    df = SPECS()["ext_minhash_lsh_pairs"].fn(spark, sf_dir)
    analyzed = plan_of(df, mode="extended")
    assert "ResolvedHint" not in analyzed.split("== Optimized Logical Plan ==")[0], (
        "explicit join hint found in the LSH dedup plan"
    )
    assert "LeftSemi" in analyzed, (
        "sizes frame is no longer candidate-bounded (semi-join missing)"
    )


def test_ungrouped_kmv_uses_take_ordered(spark, sf_dir):
    # Global smallest-k must compile to TakeOrderedAndProject (per-partition
    # top-k + k-row driver merge), not a single-partition global window
    # ranking the entire distinct-hash vocabulary.
    plan = plan_of(SPECS()["ext_kmv_distinct_tokens"].fn(spark, sf_dir), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "ext_exact_dedup",
        "ext_minhash_lsh_pairs",
        "ext_ngram_jaccard_pairs",
        "ext_ngram_jaccard_cutoff",
        "ext_prefix_jaccard_join",
        "ext_ngram_dup_fraction",
        "ext_containment_pairs",
        "ext_contamination_pairs",
        "ext_contamination_ledger",
        "ext_ngram_novelty",
        "ext_source_overlap",
        "ext_hard_negatives",
    ],
)
def test_dedup_shuffles_hashes_not_documents(spark, sf_dir, name):
    # The wide shuffles in the dedup and shingle-overlap paths must travel
    # md5/posting keys, never document or shingle text: no hash exchange
    # keyed on `text` or `shingle`. The simple plan prints each exchange
    # as one `Exchange hashpartitioning(<keys>, n)` line.
    plan = plan_of(SPECS()[name].fn(spark, sf_dir), mode="simple")
    keyed = [ln for ln in plan.splitlines() if "Exchange hashpartitioning(" in ln]
    assert keyed, plan
    for line in keyed:
        assert "text#" not in line and "shingle#" not in line, line


def test_partitioned_table_scan_prunes_partitions(spark, sf_dir, warehouse):
    # Hive-style partition layout (ModelConfig partition_by → partitionBy on
    # write, reference adapters.sql:176-181): an equality predicate on the
    # partition column must land in PartitionFilters with a pruned
    # partition count — NOT be applied post-scan to all files. At 100 TB
    # this is the difference between reading one partition and reading the
    # table.
    import uuid

    from dbt_glue_spark.engine import Engine, Model, ModelConfig
    from dbt_glue_spark.sources.registry import register_sources

    register_sources(spark, sf_dir, ("orders",))
    schema = f"t_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse, schema=schema)
    eng.add(
        Model(
            "p_orders",
            sql="select o_orderkey, o_totalprice, o_orderstatus from orders",
            config=ModelConfig(partition_by=["o_orderstatus"]),
        )
    )
    try:
        eng.run()
        df = eng.ref_df("p_orders").filter(F.col("o_orderstatus") == "F")
        plan = plan_of(df, mode="formatted")
        assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
            "PartitionFilters", 1
        )[1].split("\n", 1)[0], plan
        # pruned: every input file lives under the single matching
        # partition directory (the file index narrowed before execution)
        files = df.inputFiles()
        assert files and all("o_orderstatus=F" in f for f in files), files
        assert df.count() > 0
    finally:
        eng.catalog.drop_schema(schema)


def test_semantic_dedup_join_is_keyed_not_cartesian(spark, sf_dir):
    # SemDedup's whole scale claim is that pair comparison is an equi-join
    # on cluster_id — never an all-pairs product over the corpus.
    plan = plan_of(SPECS()["ext_semantic_dedup"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_column_profile_is_one_scan(spark, sf_dir):
    # Four columns profiled = ONE table pass (single scan feeding one
    # aggregate; the Expand for multi-distinct is the documented cost).
    plan = plan_of(SPECS()["ext_column_profile"].fn(spark, sf_dir), mode="simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan


def test_hll_is_two_aggregate_trees_no_window(spark, sf_dir):
    # HLL must stay a pair of partial-agg trees (max-per-register, then
    # sum-per-group); a window or global sort here would be a scale bug.
    for q in ("ext_hll_distinct_global", "ext_hll_distinct_orders"):
        plan = plan_of(SPECS()[q].fn(spark, sf_dir), mode="simple")
        assert "Window" not in plan, (q, plan)
        assert "Sort" not in plan.replace("SortAggregate", ""), (q, plan)


def test_paragraph_dedup_winner_is_aggregate_not_window(spark, sf_dir):
    # Keep-first selection must be groupBy-min (map-side combine survives
    # a 10M-copy hot paragraph); row_number over the hash key would sort
    # the hot key in one partition.
    plan = plan_of(SPECS()["ext_paragraph_dedup"].fn(spark, sf_dir), mode="simple")
    assert "Window" not in plan, plan


def test_corpus_shuffle_window_is_sharded_not_global(spark, sf_dir):
    # The shuffle position must be a PER-SHARD window; a global row_number
    # (empty partition spec) funnels the corpus through one task.
    from dbt_glue_spark.extensions.sampling import corpus_shuffle
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(corpus_shuffle(docs), mode="formatted")
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower() or "Window [" in line:
            assert "shard" in line, f"global (unsharded) window: {line}"


def test_quality_classifier_shuffles_ints_not_text(spark, sf_dir):
    # The per-doc aggregation must shuffle (id, int) pairs — the document
    # text must be pruned before the exchange, like the dedup operators.
    from dbt_glue_spark.extensions.text_analysis import quality_classifier
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(quality_classifier(docs), mode="formatted")
    ex = [
        line
        for line in plan.splitlines()
        if "Exchange" in line or "exchange" in line.lower()
    ]
    assert ex, "expected a hash exchange for the per-doc aggregate"
    assert all("text" not in line for line in ex), ex


def test_mixture_weights_totals_broadcast(spark, sf_dir):
    # The 1-row totals frame must broadcast into the per-domain frame —
    # never a shuffle join against a singleton.
    from dbt_glue_spark.extensions.sampling import mixture_weights
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(mixture_weights(docs), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_span_dedup_winner_is_aggregate_not_window(spark, sf_dir):
    # Same rule as paragraph dedup: the first-occurrence winner must be a
    # groupBy-min (map-side combine survives a hot span duplicated 10M
    # times); a row_number window would sort the hot key in one partition.
    plan = plan_of(SPECS()["ext_span_dedup"].fn(spark, sf_dir), mode="simple")
    assert "Window" not in plan, plan


@pytest.mark.parametrize("name", ["ext_span_dedup", "ext_paragraph_dedup"])
def test_dedup_winner_aggregates_have_map_side_partials(spark, sf_dir, name):
    # The skew-survival claim, verified: the first-occurrence winner must
    # compile with partial_min BEFORE the exchange — a hot span/paragraph
    # duplicated 10M times then collapses map-side instead of flooding one
    # reducer partition.
    plan = plan_of(SPECS()[name].fn(spark, sf_dir), mode="formatted")
    assert "partial_min" in plan, plan


# ---- round-4: skew-stress gates (SURVEY §7.3 risk 8) -----------------------


def test_skew_stop_shingle_cutoff_bounds_candidate_cost(spark):
    # Hot-key corpus: one boilerplate sentence appears in 50% of docs. LSH /
    # n-gram candidate generation joins postings on shingle, so the hot
    # shingle's bucket costs df² pairs — the one real skew source in the
    # dedup family. df_freq_cutoff must drop it while true near-dups
    # (sharing rare shingles) still surface.
    from dbt_glue_spark.extensions.dedup import ngram_jaccard_pairs
    from dbt_glue_spark.functions.text import shingle_postings

    boiler = "subscribe to our newsletter for updates today"
    rows = []
    for i in range(200):
        text = f"unique{i} words{i * 7} body{i * 13} tail{i * 31}"
        if i % 2 == 0:
            text = f"{text} {boiler}"
        rows.append((i, text))
    # planted near-dup pair sharing a rare 6-word sentence
    dup = "rare shared sentence appearing exactly twice only"
    rows.append((900, f"{dup} alpha900"))
    rows.append((901, f"{dup} alpha901"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def candidate_cost(cutoff):
        post = shingle_postings(docs, "text", ["doc_id"], 3, cutoff)
        df_counts = post.groupBy("h").count()
        return df_counts.selectExpr("sum(count * count) AS c").collect()[0]["c"]

    unbounded = candidate_cost(None)
    bounded = candidate_cost(20)
    # 4 hot shingles × df=101 → ≥40k pair cost without the cutoff; with it
    # the join cost collapses to the rare-shingle postings
    assert unbounded > 10 * bounded, (unbounded, bounded)
    # and the true near-dup pair survives the cutoff
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.3, df_freq_cutoff=20
    ).collect()
    assert any({r["id_a"], r["id_b"]} == {900, 901} for r in pairs)


def test_skew_salted_join_spreads_hot_merge_key(spark):
    # Merge-key skew: one key owns 30% of rows. A plain hash shuffle puts
    # all of them in one reducer group; the salted join's shuffle key is
    # (key, salt), bounding the max group near hot/salt. AQE skew-join (on
    # in the session) handles the runtime case at real partition sizes —
    # asserted here as conf, since its 256MB trigger can't fire at test
    # scale.
    from dbt_glue_spark.operators.skew import salted_join

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

    n, salt = 20000, 16
    left = spark.range(n).selectExpr(
        "CASE WHEN id % 10 < 3 THEN 0 ELSE id END AS k", "id AS v"
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(0, n, 7)] + [(0, "dim0")], ["k", "name"]
    ).dropDuplicates(["k"])
    # semantics unchanged vs the plain join
    plain = left.join(right, "k", "inner")
    salted = salted_join(left, right, ["k"], salt=salt)
    assert salted.count() == plain.count()
    # distribution: replicate the salting and measure shuffle-group sizes —
    # the hot key's 6000 rows must spread to ~375-row (k, salt) groups
    from pyspark.sql import functions as F

    sizes = (
        left.withColumn("__salt", (F.rand(7) * salt).cast("int"))
        .groupBy("k", "__salt")
        .count()
    )
    hot_max = sizes.filter("k = 0").agg(F.max("count")).collect()[0][0]
    hot_total = left.filter("k = 0").count()
    assert hot_total == 6000
    # max salted group ≤ 2× the ideal even split (rand() is near-uniform)
    assert hot_max <= 2 * hot_total / salt, hot_max


def test_aqe_skew_join_splits_hot_partition_at_runtime(spark):
    # The session claims AQE skew-join as the runtime defense for hot join
    # keys (SCALE.md Joins). The conf assertion above proves it's ON; this
    # proves it FIRES: with the skew thresholds lowered to test scale, a
    # join where one key owns half the fact rows must come back from
    # execution re-planned as SortMergeJoin(skew=true) — the oversized
    # partition split into advisory-sized pieces instead of one straggler
    # task. At production scale the same mechanism triggers at the default
    # 256 MB threshold with zero code changes.
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # the payload must be per-row-unique (a constant would fold past
        # the shuffle AND lz4-compress to nothing, leaving every map
        # output below the skew threshold)
        left = spark.range(200_000).selectExpr(
            "CASE WHEN id % 2 = 0 THEN 0 ELSE id END AS k",
            "concat(md5(string(id)), md5(string(id + 1)), md5(string(id + 2))) AS pad",
        )
        right = spark.range(50_000).selectExpr("id AS k", "id AS w")
        joined = left.hint("merge").join(right, "k", "inner")
        # the action must run THIS DataFrame's QueryExecution — a
        # noop-sink write (or .count(), which wraps a new agg plan) runs a
        # separate execution and this one would stay isFinalPlan=false
        joined.collect()
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_lm_score_shuffles_words_not_documents(spark, sf_dir):
    # The model aggregates shuffle short word(-pair) keys; the document
    # text must be pruned before every exchange (the dedup discipline).
    from dbt_glue_spark.extensions.text_analysis import bigram_lm_score
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(bigram_lm_score(docs), mode="formatted")
    ex = [
        line
        for line in plan.splitlines()
        if "Exchange" in line or "exchange" in line.lower()
    ]
    assert ex, "expected hash exchanges for the count aggregates"
    assert all("text" not in line for line in ex), ex


def test_wordpiece_join_is_keyed_and_text_free(spark, sf_dir):
    # Instances equi-join the word->segmentation map on the word key:
    # no cartesian/nested-loop plan, and no document text in any exchange
    # (only words cross the wire).
    from dbt_glue_spark.extensions.text_analysis import wordpiece_tokenize
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(wordpiece_tokenize(docs), mode="simple")
    assert "CartesianProduct" not in plan, plan
    ex = [line for line in plan.splitlines() if "Exchange" in line]
    assert all("text" not in line for line in ex), ex


def test_mmr_candidate_matrix_is_keyed_not_cartesian(spark, sf_dir):
    # The per-query candidate sim matrix comes from a join keyed by
    # query_id — never a cartesian across queries' candidate sets — and
    # candidate generation broadcasts the probe set (zero corpus shuffle,
    # the knn_bruteforce contract).
    from dbt_glue_spark.extensions.similarity import mmr_rerank
    from dbt_glue_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(
        mmr_rerank(emb, emb.filter(F.col("vec_id") < 2), n_candidates=5, k=2),
        mode="simple",
    )
    assert "CartesianProduct" not in plan, plan


def test_corpus_diff_shuffles_hashes_not_documents(spark, sf_dir):
    # Both snapshot sides must reduce to (id, md5) before the full outer
    # join — no exchange may carry the text column.
    from dbt_glue_spark.extensions.audit import corpus_diff
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(corpus_diff(docs, docs), mode="formatted")
    ex = [line for line in plan.splitlines() if "Exchange" in line]
    assert ex, "expected a shuffle for the full outer join"
    assert all("text" not in line for line in ex), ex


def test_cdc_chunks_window_is_per_doc_not_global(spark, sf_dir):
    # The running boundary count must be a per-document window; a global
    # (empty-partition-spec) window funnels every token through one task.
    from dbt_glue_spark.extensions.dedup import cdc_chunks
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(cdc_chunks(docs), mode="formatted")
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower() or "Window [" in line:
            assert "__id" in line, f"global (unpartitioned) window: {line}"


def test_quality_top_fraction_window_is_per_source_not_global(spark, sf_dir):
    # The percentile rank must partition by the group column — a global
    # quality sort funnels the corpus through one task.
    from dbt_glue_spark.extensions.text_analysis import quality_top_fraction
    from dbt_glue_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(quality_top_fraction(docs), mode="formatted")
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower() or "Window [" in line:
            assert "source" in line, f"global (unpartitioned) window: {line}"


# ---- round-4 continuation gates -----------------------------------------


def test_dsir_shuffles_ints_not_text(spark, sf_dir):
    # After the lexer stage every exchange must carry (id/bucket int,
    # count) pairs — raw text and bigram strings are hashed into int
    # buckets BEFORE any shuffle; the ≤1024-row model broadcasts.
    from dbt_glue_spark.extensions.text_analysis import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(dsir_weights(docs, "lang = 'en'"), mode="formatted")
    ex = [line for line in plan.splitlines() if "Exchange" in line]
    assert ex, "expected exchanges for the bucket aggregates"
    assert all("text" not in line and "bg#" not in line for line in ex), ex
    assert "BroadcastExchange" in plan  # model + totals broadcast


def test_random_projection_is_shuffle_free(spark, sf_dir):
    # A pure per-row projection: no Exchange anywhere in the plan.
    from dbt_glue_spark.extensions.similarity import random_project

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(random_project(emb), mode="simple")
    assert "Exchange" not in plan, plan


def test_lm_buckets_window_is_keyed_by_group(spark, sf_dir):
    # The head/middle/tail rank must window PARTITION BY the group column,
    # never a global sort of the corpus.
    from dbt_glue_spark.extensions.text_analysis import lm_quality_buckets

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(lm_quality_buckets(docs, by="lang"), mode="formatted")
    # every window spec must carry the lang partition key — an unkeyed
    # windowspecdefinition( would be a global sort of the corpus
    total = plan.count("windowspecdefinition(")
    keyed = plan.count("windowspecdefinition(lang#")
    assert total > 0 and total == keyed, plan


def test_key_skew_topk_is_take_ordered(spark, sf_dir):
    # The global hottest-k must compile to TakeOrderedAndProject — a
    # global row_number window over ALL key counts would funnel the whole
    # key dictionary through one partition (the ungrouped-KMV rule).
    from dbt_glue_spark.quality.profile import key_skew

    orders = load_table(spark, sf_dir, "orders")
    plan = plan_of(key_skew(orders, "o_custkey"), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_pack_sequences_window_is_keyed_by_group(spark, sf_dir):
    # packing must parallelize across sources: every window spec carries
    # the source key (a global running sum would serialize the corpus)
    from dbt_glue_spark.extensions.text_analysis import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(pack_sequences(docs), mode="formatted")
    total = plan.count("windowspecdefinition(")
    keyed = plan.count("windowspecdefinition(source#")
    assert total > 0 and total == keyed, plan


def test_span_corruption_windows_are_doc_keyed(spark, sf_dir):
    from dbt_glue_spark.extensions.text_analysis import span_corruption_manifest

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(span_corruption_manifest(docs), mode="formatted")
    total = plan.count("windowspecdefinition(")
    keyed = plan.count("windowspecdefinition(doc_id#")
    assert total > 0 and total == keyed, plan


def test_vocab_coverage_topk_is_take_ordered(spark, sf_dir):
    # top-max(k) over the vocabulary must be TakeOrderedAndProject; the
    # only windows allowed run over the ≤ max(k) surviving rows
    from dbt_glue_spark.extensions.text_analysis import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(vocab_coverage(docs), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_grouped_top_tokens_uses_window_group_limit(spark, sf_dir):
    # per-lang top-5 must push the rank cut into WindowGroupLimit (each
    # map task forwards ≤5 rows per group pre-shuffle) and the window
    # must be keyed by lang — never a global window over the vocabulary
    spec = SPECS()["ext_top_tokens_per_lang"]
    plan = plan_of(spec.fn(spark, sf_dir), mode="formatted")
    assert "WindowGroupLimit" in plan, plan
    total = plan.count("windowspecdefinition(")
    keyed = plan.count("windowspecdefinition(lang#")
    assert total > 0 and total == keyed, plan


def test_kmv_source_overlap_sketch_windows_are_group_keyed(spark, sf_dir):
    # the sketch build (pre-localCheckpoint) must rank per source with
    # WindowGroupLimit — checked on the un-checkpointed fragment since
    # the catalog query's final plan starts from the materialized sketch
    from dbt_glue_spark.extensions.sketches import hash_fraction
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    )
    hashed = toks.select(
        F.col("source").alias("g"), hash_fraction(F.col("tok")).alias("h")
    ).distinct()
    w = Window.partitionBy("g").orderBy(F.col("h").asc())
    sk = hashed.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= 128
    )
    plan = plan_of(sk, mode="formatted")
    assert "WindowGroupLimit" in plan, plan


def test_pmi_tokenize_evaluated_once(spark, sf_dir):
    # pmi_pairs drops the old dangling-rand "projection barrier" and
    # relies on CollapseProject's non-cheap-expression guard to keep the
    # regexp tokenization in its own projection; this gate pins that the
    # optimized plan evaluates regexp_extract_all exactly once (a
    # collapse would duplicate it 2·window times into the gap zips)
    # (the persisted pair-count subtree repeats per consumer in the
    # logical plan string, so assert per-projection, not globally)
    spec = SPECS()["ext_pmi_pairs"]
    df = spec.fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    hits = [ln for ln in plan.splitlines() if "regexp_extract_all" in ln]
    assert hits, plan
    for ln in hits:
        assert ln.count("regexp_extract_all") == 1, ln
        assert "AS __ws" in ln, ln
    assert "rand(" not in plan, plan
