"""Empirical scaling probe for the dedup/LSH family beyond sf0.1.

The 100 TB claims for MinHash-LSH / span dedup / dup clusters are
plan-shape-verified (bucketed joins, map-side partials, V(E)-only
iteration); this probe adds the empirical leg: wall time at 2x/8x/32x
the sf0.1 documents corpus (10k → 160k docs), with the per-step scaling
exponent fit between the two largest points (where compute dominates the
fixed session/scan overhead).

Corpus construction: replicate sf0.1 documents f times. Replica r > 0
rewrites every word with an ``r``-suffix, so (a) each replica keeps the
ORIGINAL corpus's internal duplication structure — the dup *rate* stays
constant as the corpus grows, like a real larger crawl; (b) cross-replica
similarity is zero — replication adds no artificial near-dup mass; and
(c) the shingle vocabulary grows with the corpus — posting-list sizes
stay realistic. Each scaled corpus is materialized to parquet scratch so
every timed run pays a real scan, not a cached lineage.

Usage: python tools/scale_probe.py [--factors=2,8,32] [--probe=dedup|mmr|staged|staged8|staged9|staged10|staged11|staged12|staged13]
Prints one JSON line: per-op seconds per factor + fitted exponents.
A near-linear operator shows exponent ≈ 1 (ratio bound 1.5x of linear
per SCALE.md policy); quadratic blowup would show ≈ 2.

``--probe=mmr`` scales the QUERY set against a fixed corpus instead of
scaling the corpus: mmr_rerank's k greedy rounds are joins keyed by
query_id, so a batch of B queries must re-rank in one pass of k rounds
(cost ∝ B·n² per round), i.e. exponent ≈ 1 in B. The corpus-side cost
(knn_bruteforce candidate generation) is one broadcast-probe scan per
batch regardless of B.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from dbt_glue_spark.extensions import dedup, text_analysis
from dbt_glue_spark.session import get_spark
from dbt_glue_spark.sources.registry import load_table


def build_scaled(spark, sf_dir: str, factor: int, out_dir: str) -> str:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reps = []
    for r in range(factor):
        if r == 0:
            reps.append(docs)
        else:
            # word → word␟<r>: per-replica vocabulary, zero cross-replica
            # shingle overlap, identical intra-replica dup structure.
            # The \x1f separator closes a suffix-collision hole a bare
            # numeric suffix has (base "x1" + replica 2 == base "x" +
            # replica 12 would create cross-replica overlap that grows
            # with the factor)
            reps.append(
                docs.select(
                    (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda w: F.concat(w, F.lit("\x1f" + str(r))),
                        ),
                        " ",
                    ).alias("text"),
                )
            )
    scaled = reps[0]
    for p in reps[1:]:
        scaled = scaled.unionByName(p)
    path = os.path.join(out_dir, f"docs_x{factor}")
    scaled.repartition(32).write.mode("overwrite").parquet(path)
    return path


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 3)


def probe_mmr(spark, sf_dir: str, factors: list[int]) -> tuple[dict, dict]:
    """Query-set scaling for the retrieval re-rank family: corpus fixed
    (the full embeddings table), query batch = ``25·factor`` vectors.
    Base 25 puts even the smallest batch well past fixed session
    overhead; 32× = 800 queries stays under the corpus size at sf0.1."""
    from dbt_glue_spark.extensions import similarity
    from dbt_glue_spark.extensions.retrieval import bm25_search

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    # warmup: one tiny re-rank pays codegen/broadcast machinery
    similarity.mmr_rerank(emb, emb.filter(F.col("vec_id") < 5)).write.format(
        "noop"
    ).mode("overwrite").save()
    bm25_search(docs, ["spark", "window"]).write.format("noop").mode(
        "overwrite"
    ).save()
    dedup.release_caches()
    for f_ in factors:
        queries = emb.filter(F.col("vec_id") < 25 * f_)
        rows[str(f_)] = queries.count()

        def run_mmr():
            similarity.mmr_rerank(emb, queries).write.format("noop").mode(
                "overwrite"
            ).save()

        def run_knn():
            similarity.knn_bruteforce(emb, queries, k=20).write.format(
                "noop"
            ).mode("overwrite").save()

        for name, fn in [
            ("mmr_rerank_queries", run_mmr),
            ("knn_bruteforce_queries", run_knn),
        ]:
            results.setdefault(name, {})[str(f_)] = timed(fn)
            dedup.release_caches()
    return results, rows


def probe_staged(spark, sf_dir: str, factors: list[int]) -> tuple[dict, dict]:
    """Weak-scaling probe for the round-7 staged family. Replication
    keeps intra-replica structure constant and makes replicas disjoint
    (suffixed words / offset order+part keys / offset users), so a
    near-linear operator fits exponent ≈ 1 exactly like the dedup probe:

    - prefix_jaccard_pairs: replica-disjoint shingle vocabularies keep
      document frequencies flat, so prefix postings and candidates grow
      ∝ corpus;
    - pmi_pairs / token_gini: pair space and per-doc histograms are
      replica-local;
    - basket_lift_pairs / triangle_counts: the co-purchase graph is a
      disjoint union of replica graphs — edges, wedges and triangles all
      grow ∝ factor;
    - sequence_ngrams: per-user streams are replica-local.
    """
    from dbt_glue_spark.extensions import associations, graph
    from dbt_glue_spark.extensions.text_analysis import pmi_pairs, token_gini

    scratch = tempfile.mkdtemp(prefix="dgs_staged_probe_")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    try:
        li0 = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        ev0 = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        # warmup: codegen + shuffle machinery per operator
        warm = load_table(spark, sf_dir, "documents").limit(500)
        dedup.prefix_jaccard_pairs(warm).write.format("noop").mode("overwrite").save()
        pmi_pairs(warm).write.format("noop").mode("overwrite").save()
        token_gini(warm).write.format("noop").mode("overwrite").save()
        wl = li0.limit(5000)
        associations.basket_lift_pairs(wl, "l_orderkey", "l_partkey").write.format(
            "noop"
        ).mode("overwrite").save()
        graph.triangle_counts(
            associations.copurchase_edges(wl, "l_orderkey", "l_partkey")
        ).write.format("noop").mode("overwrite").save()
        associations.sequence_ngrams(
            ev0.limit(5000), "user_id", ["ts", "event_id"], "event_type"
        ).write.format("noop").mode("overwrite").save()
        dedup.release_caches()
        for f_ in factors:
            dpath = build_scaled(spark, sf_dir, f_, scratch)
            docs = spark.read.parquet(dpath)
            li = (
                spark.range(f_)
                .crossJoin(li0)
                .select(
                    (F.col("l_orderkey") + F.col("id") * 1_000_000_000).alias(
                        "l_orderkey"
                    ),
                    (F.col("l_partkey") + F.col("id") * 100_000_000).alias(
                        "l_partkey"
                    ),
                )
            )
            lpath = os.path.join(scratch, f"li_x{f_}")
            li.repartition(32).write.mode("overwrite").parquet(lpath)
            li = spark.read.parquet(lpath)
            ev = (
                spark.range(f_)
                .crossJoin(ev0)
                .select(
                    (F.col("event_id") + F.col("id") * 1_000_000_000).alias(
                        "event_id"
                    ),
                    (F.col("user_id") + F.col("id") * 10_000_000).alias("user_id"),
                    "ts",
                    "event_type",
                )
            )
            epath = os.path.join(scratch, f"ev_x{f_}")
            ev.repartition(32).write.mode("overwrite").parquet(epath)
            ev = spark.read.parquet(epath)
            rows[str(f_)] = docs.count()

            def run_prefix():
                dedup.prefix_jaccard_pairs(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_pmi():
                pmi_pairs(docs).write.format("noop").mode("overwrite").save()

            def run_gini():
                token_gini(docs).write.format("noop").mode("overwrite").save()

            def run_lift():
                associations.basket_lift_pairs(
                    li, "l_orderkey", "l_partkey"
                ).write.format("noop").mode("overwrite").save()

            def run_tri():
                graph.triangle_counts(
                    associations.copurchase_edges(li, "l_orderkey", "l_partkey")
                ).write.format("noop").mode("overwrite").save()

            def run_seq():
                associations.sequence_ngrams(
                    ev, "user_id", ["ts", "event_id"], "event_type"
                ).write.format("noop").mode("overwrite").save()

            for name, fn in [
                ("prefix_jaccard_pairs", run_prefix),
                ("pmi_pairs", run_pmi),
                ("token_gini", run_gini),
                ("basket_lift_pairs", run_lift),
                ("triangle_counts", run_tri),
                ("sequence_ngrams", run_seq),
            ]:
                results.setdefault(name, {})[str(f_)] = timed(fn)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return results, rows


def probe_staged8(spark, sf_dir: str, factors: list[int]) -> tuple[dict, dict]:
    """Weak-scaling probe for the round-8 staged pool (same replication
    scheme as :func:`build_scaled` — per-replica vocabularies keep the
    dup rate constant and cross-replica overlap zero):

    - exact_substring_spans: stride-1 seeds grow ∝ corpus tokens, the
      md5-keyed winner groupBy is map-side-combining, both island
      windows are doc-keyed → exponent ≈ 1 expected (the honest
      O(tokens) of ExactSubstr);
    - compact_band_ledger: ledger rows ∝ docs, two band/id-keyed
      equi-joins → exponent ≈ 1.
    """
    scratch = tempfile.mkdtemp(prefix="dgs_staged8_probe_")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    try:
        warm = load_table(spark, sf_dir, "documents").limit(500).select(
            "doc_id", "text"
        )
        dedup.exact_substring_spans(warm).write.format("noop").mode(
            "overwrite"
        ).save()
        waug = warm.unionByName(
            warm.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zq")).alias("text"),
            )
        )
        wmap = waug.select(
            F.col("doc_id").alias("id"),
            F.when(F.col("doc_id") >= 1_000_000, F.col("doc_id") - 1_000_000)
            .otherwise(F.col("doc_id"))
            .alias("leader"),
        )
        dedup.compact_band_ledger(
            dedup.minhash_band_ledger(waug), wmap
        ).write.format("noop").mode("overwrite").save()
        dedup.release_caches()
        for f_ in factors:
            path = build_scaled(spark, sf_dir, f_, scratch)
            docs = spark.read.parquet(path)
            rows[str(f_)] = docs.count()

            def run_ess():
                dedup.exact_substring_spans(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_compact():
                aug = docs.unionByName(
                    docs.filter(F.col("doc_id") % 5 == 0).select(
                        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
                    )
                )
                gmap = aug.select(
                    F.col("doc_id").alias("id"),
                    F.when(
                        F.col("doc_id") >= 1_000_000_000,
                        F.col("doc_id") - 1_000_000_000,
                    )
                    .otherwise(F.col("doc_id"))
                    .alias("leader"),
                )
                dedup.compact_band_ledger(
                    dedup.minhash_band_ledger(aug), gmap
                ).write.format("noop").mode("overwrite").save()

            for name, fn in [
                ("exact_substring_spans", run_ess),
                ("ledger_compaction", run_compact),
            ]:
                results.setdefault(name, {})[str(f_)] = timed(fn)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return results, rows


def probe_staged9(spark, sf_dir: str, factors: list[int]) -> tuple[dict, dict]:
    """Weak-scaling probe for the round-9 staged pool (same replication
    scheme — per-replica vocabularies, constant dup structure):

    - psi_js_drift: two histogram scans collapsing to ≤32 rows at the
      map side; everything after is constant-size → exponent ≈ 1 (pure
      scan cost);
    - ppswor_sample_by_group: one scan + rank window PARTITIONED BY
      GROUP (groups scale with the corpus here, per-group state is
      bounded) → exponent ≈ 1;
    - contamination_check_incremental: train postings grow ∝ corpus,
      the eval ledger is built from the fixed base replica only (the
      production shape: eval suites don't grow with training data) →
      exponent ≈ 1 on the batch side;
    - vocab_growth / ngram_novelty: one tokenize/shingle pass + min-
      bucket groupBys; cumulative windows ride the 20-row bucket frame
      → exponent ≈ 1;
    - minhash_lsh_capped: the mega-bucket cap bounds every bucket
      self-join at cap² — per-replica vocabularies keep buckets small
      here, so this matches the uncapped exponent (the cap's value
      shows on the textskew axis, not this one).
    """
    from dbt_glue_spark.extensions import audit, sampling, text_analysis as ta

    scratch = tempfile.mkdtemp(prefix="dgs_staged9_probe_")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}

    def enrich(docs):
        return docs.select(
            "doc_id",
            "text",
            F.length("text").cast("bigint").alias("n_chars"),
            F.concat(F.lit("src"), (F.col("doc_id") % 10).cast("string")).alias(
                "source"
            ),
        )

    try:
        warm = enrich(
            load_table(spark, sf_dir, "documents").limit(500).select(
                "doc_id", "text"
            )
        )
        ev_w = warm.filter(F.col("doc_id") % 19 == 0)
        audit.psi_js_drift(
            warm.select(F.col("n_chars").alias("v")),
            warm.select((F.col("n_chars") + 7).alias("v")),
            "v",
        ).write.format("noop").mode("overwrite").save()
        sampling.ppswor_sample_by_group(
            warm, "source", "doc_id", "n_chars", k=32
        ).write.format("noop").mode("overwrite").save()
        dedup.contamination_check_incremental(
            warm, dedup.contamination_ledger(ev_w), min_common=2
        ).write.format("noop").mode("overwrite").save()
        ta.vocab_growth(warm).write.format("noop").mode("overwrite").save()
        ta.ngram_novelty(warm).write.format("noop").mode("overwrite").save()
        dedup.minhash_lsh_pairs(warm, max_band_bucket=64).write.format(
            "noop"
        ).mode("overwrite").save()
        dedup.containment_pairs(warm, df_freq_cutoff=20).write.format(
            "noop"
        ).mode("overwrite").save()
        dedup.release_caches()
        for f_ in factors:
            path = build_scaled(spark, sf_dir, f_, scratch)
            docs = enrich(spark.read.parquet(path))
            rows[str(f_)] = docs.count()
            # fixed eval suite: the BASE replica's src0-style slice only
            ledger = dedup.contamination_ledger(
                docs.filter(
                    (F.col("doc_id") < 10_000_000) & (F.col("doc_id") % 19 == 0)
                )
            )

            def run_psi():
                audit.psi_js_drift(
                    docs.select(F.col("n_chars").alias("v")),
                    docs.select((F.col("n_chars") + 7).alias("v")),
                    "v",
                ).write.format("noop").mode("overwrite").save()

            def run_ppswor():
                sampling.ppswor_sample_by_group(
                    docs, "source", "doc_id", "n_chars", k=32
                ).write.format("noop").mode("overwrite").save()

            def run_contam():
                dedup.contamination_check_incremental(
                    docs, ledger, min_common=2
                ).write.format("noop").mode("overwrite").save()

            def run_vg():
                ta.vocab_growth(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_nn():
                ta.ngram_novelty(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_capped():
                dedup.minhash_lsh_pairs(
                    docs, max_band_bucket=64
                ).write.format("noop").mode("overwrite").save()

            def run_containment():
                dedup.containment_pairs(
                    docs, df_freq_cutoff=20
                ).write.format("noop").mode("overwrite").save()

            for name, fn in [
                ("psi_js_drift", run_psi),
                ("ppswor_sample", run_ppswor),
                ("contamination_ledger", run_contam),
                ("vocab_growth", run_vg),
                ("ngram_novelty", run_nn),
                ("minhash_lsh_capped", run_capped),
                ("containment_pairs", run_containment),
            ]:
                results.setdefault(name, {})[str(f_)] = timed(fn)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return results, rows


def probe_staged10(spark, sf_dir: str, factors: list[int]) -> tuple[dict, dict]:
    """Weak-scaling probe for the round-10 staged pool (same replication
    scheme — per-replica vocabularies, constant dup structure):

    - url_dedup: map-only canonicalization + one canonical-URL groupBy
      with map-side combine (the exact-dedup shape) → exponent ≈ 1;
    - domain_caps: one rank window partitioned by domain; domains scale
      with the corpus here (replica-suffixed ids spread g=doc_id%40 into
      new value ranges), per-domain state bounded → exponent ≈ 1;
    - token_budget_alloc: one map-side-combining groupBy collapses the
      corpus to |sources| rows; everything after is bounded by the
      source count → exponent ≈ 1 (pure scan cost);
    - gopher_quality_flags: ONE map-only whole-stage-codegen projection
      (no shuffle, no explode — plan-gated in tests) → the purest
      scan-bound exponent in the repo.
    """
    from dbt_glue_spark.extensions import chat, sampling, web
    from dbt_glue_spark.extensions import text_analysis as ta

    scratch = tempfile.mkdtemp(prefix="dgs_staged10_probe_")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}

    def synth_url(doc_id):
        g = doc_id % 4000
        suffix = F.when(g % 5 == 0, F.lit("co.uk")).otherwise(F.lit("com"))
        hostlo = F.concat(
            F.lit("www.sub"), (g % 3).cast("string"), F.lit(".src"),
            (g % 97).cast("string"), F.lit("ex."), suffix,
        )
        return F.concat(
            F.when(doc_id % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(doc_id % 3 == 0, F.upper(hostlo)).otherwise(hostlo),
            F.when(doc_id % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/docs/"), g.cast("string"),
            F.when(doc_id % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(doc_id % 3 == 0, F.lit("?utm_source=feed&b=2&a=1"))
            .otherwise(F.lit("?a=1&b=2")),
        )

    def enrich(docs):
        return docs.select(
            "doc_id",
            "text",
            F.length("text").cast("bigint").alias("n_chars"),
            (F.length("text") % 1000).cast("bigint").alias("q"),
            F.concat(F.lit("src"), (F.col("doc_id") % 10).cast("string")).alias(
                "source"
            ),
            synth_url(F.col("doc_id")).alias("url"),
        )

    try:
        warm = enrich(
            load_table(spark, sf_dir, "documents").limit(500).select(
                "doc_id", "text"
            )
        )
        web.url_dedup(warm).write.format("noop").mode("overwrite").save()
        web.domain_caps(warm, cap=8).write.format("noop").mode("overwrite").save()
        sampling.token_budget_allocation(
            warm, "source", "n_chars", "q", 30_000
        ).write.format("noop").mode("overwrite").save()
        ta.gopher_quality_flags(warm).write.format("noop").mode(
            "overwrite"
        ).save()
        dedup.release_caches()
        for f_ in factors:
            path = build_scaled(spark, sf_dir, f_, scratch)
            docs = enrich(spark.read.parquet(path))
            rows[str(f_)] = docs.count()

            def run_urldedup():
                web.url_dedup(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_caps():
                web.domain_caps(docs, cap=8).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_tba():
                sampling.token_budget_allocation(
                    docs, "source", "n_chars", "q", 30_000
                ).write.format("noop").mode("overwrite").save()

            def run_gopher():
                ta.gopher_quality_flags(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_linededup():
                # word-chunked 8-word lines, the catalog construction
                words = F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                    lambda x: x != F.lit(""),
                )
                ww = docs.select("doc_id", words.alias("__words")).filter(
                    F.size("__words") > 0
                )
                nl = (F.size("__words") + F.lit(7)).cast("int") - (
                    (F.size("__words") + F.lit(7)) % 8
                ).cast("int")
                lines = ww.select(
                    "doc_id",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(0), (nl / 8).cast("int") - F.lit(1)),
                            lambda i: F.array_join(
                                F.slice(F.col("__words"), i * 8 + 1, 8), " "
                            ),
                        )
                    ).alias("line"),
                )
                dedup.line_dedup(lines, max_doc_freq=2).write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_tempmix():
                sampling.temperature_mixture(
                    docs, "source", "n_chars", 50_000
                ).write.format("noop").mode("overwrite").save()

            def run_sweep():
                sampling.threshold_retention(
                    docs, "q", "n_chars", 100
                ).write.format("noop").mode("overwrite").save()

            def run_frontier():
                ledger = docs.filter(F.col("doc_id") % 3 == 0)
                batch = docs.filter(F.col("doc_id") % 3 != 0)
                web.url_frontier_new(batch, ledger).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_domq():
                web.domain_quality(
                    docs, "url", "q", min_docs=5, threshold_micro=480_000_000
                ).write.format("noop").mode("overwrite").save()

            def run_keepbest():
                dedup.exact_dedup_keep_best(
                    docs, "text", "doc_id", "q"
                ).write.format("noop").mode("overwrite").save()

            def run_epochplan():
                sampling.token_budget_allocation(
                    docs, "source", "n_chars", "q", 30_000, max_epochs=4
                ).write.format("noop").mode("overwrite").save()

            def run_fertility():
                ta.tokenizer_fertility(docs, "source", "text").write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_curriculum():
                sampling.curriculum_stages(
                    docs, "source", "q", "doc_id", 4
                ).write.format("noop").mode("overwrite").save()

            # chat tier: turns/pairs derive from doc_id exactly like the
            # staged specs, so conversations and pairs scale WITH the
            # corpus (weak scaling; every op is conv/pair/hash-keyed)
            def _turns():
                d = F.col("doc_id")
                return docs.select(
                    F.expr("doc_id div 6").alias("conv_id"),
                    (d % 6).alias("turn_idx"),
                    F.when(d % 29 == 0, F.lit(None).cast("string"))
                    .when(d % 23 == 0, F.lit("system"))
                    .when(d % 17 == 0, F.lit("user"))
                    .when((d % 6) % 2 == 0, F.lit("user"))
                    .otherwise(F.lit("assistant"))
                    .alias("role"),
                    "text",
                )

            def _pairs():
                d = F.col("doc_id")
                base = docs.select(
                    F.expr("doc_id div 2").alias("pair_id"),
                    (d % 2).alias("side"),
                    "source",
                    (((d % 9973) * 31) % 1000).alias("q2"),
                    "text",
                )
                e = base.filter(F.col("side") == 0).select(
                    "pair_id", "source",
                    F.col("text").alias("t0"), F.col("q2").alias("q0"),
                )
                o = base.filter(F.col("side") == 1).select(
                    "pair_id", F.col("text").alias("t1"), F.col("q2").alias("q1"),
                )
                return e.join(o, "pair_id").select(
                    "pair_id",
                    "source",
                    F.when(F.col("q0") >= F.col("q1"), F.col("t0"))
                    .otherwise(F.col("t1"))
                    .alias("chosen_text"),
                    F.when(F.col("q0") >= F.col("q1"), F.col("t1"))
                    .otherwise(F.col("t0"))
                    .alias("rejected_text"),
                )

            def run_chat_validate():
                chat.validate_turns(_turns()).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_chat_truncate():
                chat.truncation_plan(_turns(), max_tokens=64).write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_resp_dedup():
                chat.response_dedup(_turns()).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_pair_audit():
                chat.preference_pair_audit(_pairs()).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_length_bias():
                chat.preference_length_bias(_pairs()).write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_chat_render():
                chat.render_conversations(_turns()).write.format(
                    "noop"
                ).mode("overwrite").save()

            for name, fn in [
                ("url_dedup", run_urldedup),
                ("domain_caps", run_caps),
                ("token_budget_alloc", run_tba),
                ("gopher_quality_flags", run_gopher),
                ("line_dedup", run_linededup),
                ("temperature_mixture", run_tempmix),
                ("threshold_retention", run_sweep),
                ("url_frontier_ledger", run_frontier),
                ("domain_quality", run_domq),
                ("dedup_keep_best", run_keepbest),
                ("epoch_repeat_plan", run_epochplan),
                ("tokenizer_fertility", run_fertility),
                ("curriculum_stages", run_curriculum),
                ("chat_turn_validation", run_chat_validate),
                ("chat_truncation_plan", run_chat_truncate),
                ("chat_response_dedup", run_resp_dedup),
                ("preference_pair_audit", run_pair_audit),
                ("preference_length_bias", run_length_bias),
                ("chat_render", run_chat_render),
            ]:
                results.setdefault(name, {})[str(f_)] = timed(fn)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return results, rows


def probe_staged11(spark, sf_dir: str, factors: list[int]) -> tuple[dict, dict]:
    """Weak-scaling probe for the round-11 multimodal-dedup pool.

    Media corpora are synthesized directly (500·factor rows per kind)
    with HASHED group words, so perceptual/fingerprint classes grow in
    COUNT (~8 members each) while the corpus grows — the weak-scaling
    shape where the pair truth stays linear. (The catalog specs' fixed
    32-codeword corpus is deliberately dupheavy-shaped for closed-form
    oracles; scaling THAT would measure quadratic output, not the
    operators.) Every corpus is materialized to parquet scratch so timed
    runs pay a real binary-column scan; expected exponents ≈ 1 — the
    dominant cost is the Arrow-batched Python decode stage, which is
    embarrassingly parallel, and every shuffle carries 8-byte hashes.
    """
    import hashlib
    import io
    import wave as _wave

    import numpy as np
    import pandas as pd

    from dbt_glue_spark.extensions import multimodal_dedup as md
    from dbt_glue_spark.plans.media_dedup_queries import synth_pattern_png

    def word(tag: str, n: int) -> int:
        return int.from_bytes(
            hashlib.md5(f"{tag}:{n}".encode()).digest()[:8], "big"
        )

    def synth_audio(gid: int, amp: int, win: int = 256) -> bytes:
        parts = []
        for j in range(4):
            k = 3 + word("a", gid * 4 + j) % 100  # bins 3..102 < win/2
            t = np.arange(4 * win)
            parts.append(np.round(amp * np.sin(2 * np.pi * k * t / win)))
        x = np.concatenate(parts).astype("<i2")
        buf = io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(x.tobytes())
        return buf.getvalue()

    def synth(i: int, kind: str) -> bytes:
        gid = i // 8  # 8 members per class, class count ∝ corpus
        if kind == "image":
            return synth_pattern_png(word("i", gid), (i % 7) * 3)
        if kind == "audio":
            return synth_audio(gid, 4000 + 1000 * (i % 7))
        from dbt_glue_spark.extensions.multimodal import video_encode

        nf = 2 + gid % 3 - (1 if i % 3 == 0 else 0)
        return video_encode(
            [
                synth_pattern_png(word(f"v{f}", gid), (i % 7) * 3)
                for f in range(nf)
            ],
            2,
        )

    def build_media(factor: int, kind: str, out: str) -> str:
        ids = spark.range(0, 500 * factor, 1, 32).select(
            F.col("id").alias("media_id")
        )

        def run(batches):
            for pdf in batches:
                rows = [
                    (int(i), kind, synth(int(i), kind))
                    for i in pdf["media_id"]
                ]
                yield pd.DataFrame(
                    rows, columns=["media_id", "kind", "content"]
                )

        path = os.path.join(out, f"media_{kind}_x{factor}")
        ids.mapInPandas(
            run, "media_id long, kind string, content binary"
        ).write.mode("overwrite").parquet(path)
        return path

    scratch = tempfile.mkdtemp(prefix="dgs_staged11_probe_")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    try:
        # warmup: pandas/Arrow + codegen machinery for each pipeline
        warm_img = spark.read.parquet(build_media(1, "image", scratch))
        warm_aud = spark.read.parquet(build_media(1, "audio", scratch))
        warm_vid = spark.read.parquet(build_media(1, "video", scratch))
        md.image_dhash_dedup(warm_img).write.format("noop").mode(
            "overwrite"
        ).save()
        md.image_near_dup_pairs(warm_img).write.format("noop").mode(
            "overwrite"
        ).save()
        md.video_near_dup_pairs(warm_vid, max_df=100_000).write.format(
            "noop"
        ).mode("overwrite").save()
        # default max_df: the synthetic tone alphabet saturates (~126 FFT
        # bins), so UNCAPPED runs measure stop-landmark Σdf² blowup (r12
        # probe: exponent 2.28, ~5× junk pairs), not the operator — the
        # df cutoff is the shipped control for exactly this regime
        md.audio_fingerprint_pairs(warm_aud).write.format(
            "noop"
        ).mode("overwrite").save()
        md.decode_audit(warm_img).write.format("noop").mode("overwrite").save()
        dedup.release_caches()
        for f_ in factors:
            img = spark.read.parquet(build_media(f_, "image", scratch))
            aud = spark.read.parquet(build_media(f_, "audio", scratch))
            vid = spark.read.parquet(build_media(f_, "video", scratch))
            rows[str(f_)] = img.count() + aud.count() + vid.count()

            def run_dedup():
                md.image_dhash_dedup(img).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_pairs():
                md.image_near_dup_pairs(img).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_video():
                md.video_near_dup_pairs(vid, max_df=100_000).write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_audio():
                # shipped default max_df (see warmup comment)
                md.audio_fingerprint_pairs(aud).write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_audit():
                mixed = img.unionByName(aud).unionByName(vid)
                md.decode_audit(mixed).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_clusters():
                md.image_dup_clusters(img).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_scenes():
                md.video_scene_changes(vid).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_snippet():
                # fixed 8-query batch against the growing corpus — the
                # lookup-side weak-scaling shape (queries broadcast)
                queries = aud.limit(8)
                md.audio_snippet_match(
                    aud, queries, max_df=100_000
                ).write.format("noop").mode("overwrite").save()

            def run_keyframes():
                md.video_keyframes(vid).write.format("noop").mode(
                    "overwrite"
                ).save()

            for name, fn in [
                ("image_dhash_dedup", run_dedup),
                ("image_near_dup_pairs", run_pairs),
                ("video_near_dup_pairs", run_video),
                ("audio_fingerprint_pairs", run_audio),
                ("media_decode_audit", run_audit),
                ("image_dup_clusters", run_clusters),
                ("video_scene_changes", run_scenes),
                ("audio_snippet_match", run_snippet),
                ("video_keyframes", run_keyframes),
            ]:
                results.setdefault(name, {})[str(f_)] = timed(fn)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return results, rows


def probe_staged12(spark, sf_dir: str, factors: list[int]) -> tuple[dict, dict]:
    """Weak-scaling probe for the round-12 cross-modal pair pool.

    Pair corpora are synthesized directly (500·factor rows) with HASHED
    group words, so joint (caption, image) classes grow in COUNT (~8
    members each) while the corpus grows — the weak-scaling shape where
    the census/pair truth stays linear (the catalog specs' fixed
    codeword corpus is deliberately dupheavy-shaped for closed-form
    oracles). Caption law mirrors the staged corpus: a boilerplate
    caption every 13th row (the spam axis crossing classes), two
    caption variants per class (the divergence axis). Materialized to
    parquet scratch so timed runs pay a real binary-column scan;
    expected exponents ≈ 1 — the dominant cost is the Arrow-batched
    decode stage, and every shuffle carries 8/16-byte hashes.
    """
    import hashlib

    import pandas as pd

    from dbt_glue_spark.extensions import crossmodal as cm
    from dbt_glue_spark.plans.media_dedup_queries import synth_pattern_png

    def word(tag: str, n: int) -> int:
        return int.from_bytes(
            hashlib.md5(f"{tag}:{n}".encode()).digest()[:8], "big"
        )

    def build_pairs(factor: int, out: str) -> str:
        ids = spark.range(0, 500 * factor, 1, 32).select(
            F.col("id").alias("pair_id")
        )

        def run(batches):
            for pdf in batches:
                rows = []
                for i in pdf["pair_id"]:
                    i = int(i)
                    gid = i // 8
                    png = synth_pattern_png(word("i", gid), (i % 7) * 3)
                    cap = (
                        "stock photo of the day"
                        if i % 13 == 0
                        else f"cap {gid} {i % 2}"
                    )
                    rows.append((i, cap, png, (i * 7) % 50))
                yield pd.DataFrame(
                    rows,
                    columns=["pair_id", "caption", "content", "quality"],
                )

        path = os.path.join(out, f"pairs_x{factor}")
        ids.mapInPandas(
            run,
            "pair_id long, caption string, content binary, quality long",
        ).write.mode("overwrite").parquet(path)
        return path

    def typed_frame(factor: int):
        # mixture-card input is JVM-only (no media): pair_type by id%3,
        # caption token count 1 + id%9, constant per-type weights
        ids = spark.range(0, 500 * factor, 1, 32)
        return ids.select(
            F.element_at(
                F.array(
                    F.lit("image_caption"),
                    F.lit("audio_transcript"),
                    F.lit("video_caption"),
                ),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("pair_type"),
            F.trim(
                F.repeat(F.lit("tok "), (F.col("id") % 9 + 1).cast("int"))
            ).alias("caption"),
            F.element_at(
                F.array(F.lit(600000), F.lit(250000), F.lit(150000)),
                (F.col("id") % 3 + 1).cast("int"),
            )
            .cast("bigint")
            .alias("weight"),
        )

    scratch = tempfile.mkdtemp(prefix="dgs_staged12_probe_")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    try:
        warm = spark.read.parquet(build_pairs(1, scratch))
        cm.caption_consistency_audit(warm).write.format("noop").mode(
            "overwrite"
        ).save()
        cm.caption_spam_census(warm).write.format("noop").mode(
            "overwrite"
        ).save()
        cm.paired_keep_best(warm).write.format("noop").mode(
            "overwrite"
        ).save()
        cm.modality_mixture_card(typed_frame(1), budget=10_000).write.format(
            "noop"
        ).mode("overwrite").save()
        dedup.release_caches()
        for f_ in factors:
            pairs = spark.read.parquet(build_pairs(f_, scratch))
            rows[str(f_)] = pairs.count()

            def run_consistency():
                cm.caption_consistency_audit(pairs).write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_spam():
                cm.caption_spam_census(pairs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_keepbest():
                cm.paired_keep_best(pairs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_card():
                cm.modality_mixture_card(
                    typed_frame(f_), budget=10_000
                ).write.format("noop").mode("overwrite").save()

            def run_completeness():
                cm.pair_completeness_audit(pairs).write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_alignment():
                # synthetic 16-dim embeddings from id arithmetic — the
                # audit is a map-only cosine + tiny groupBy; what scales
                # is the projection over the growing pair count
                ids = spark.range(0, 500 * f_, 1, 32)
                vec = lambda salt: F.transform(  # noqa: E731
                    F.sequence(F.lit(1), F.lit(16)),
                    lambda d: F.cos(
                        (F.col("id") * d + F.lit(salt)).cast("double")
                    ),
                )
                embp = ids.select(
                    F.col("id").alias("pair_id"),
                    vec(0).alias("caption_vec"),
                    vec(3).alias("image_vec"),
                )
                cm.pair_alignment_audit(embp).write.format("noop").mode(
                    "overwrite"
                ).save()

            for name, fn in [
                ("caption_consistency", run_consistency),
                ("caption_spam", run_spam),
                ("paired_keep_best", run_keepbest),
                ("modality_mixture_card", run_card),
                ("pair_completeness", run_completeness),
                ("pair_alignment", run_alignment),
            ]:
                results.setdefault(name, {})[str(f_)] = timed(fn)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return results, rows


def probe_staged13(spark, sf_dir: str, factors: list[int]) -> tuple[dict, dict]:
    """Weak-scaling probe for the round-13 embedding-curation pool.

    Embedding corpora are synthesized directly (500·factor rows, 64-dim)
    with HASHED group directions: semantic classes grow in COUNT (~8
    members each, members at cosine ≈ 0.999; cross-class directions
    near-orthogonal in expectation) while the corpus grows. k-means k
    scales with the corpus (k = 10·factor — the SemDeDup contract: size
    k so per-cluster candidate volume stays bounded), which makes the
    broadcast centroid-assign term n·k — SemDeDup's documented scale
    cost (FAISS-accelerated in the paper; map-side zero-shuffle fused
    arithmetic here, so cluster wall-clock divides by cores). Expect
    near-linear exponents for the censuses and a super-linear assign
    term surfacing at the largest factors — that term is the algorithm,
    not an implementation defect; SCALE.md adjudicates the reading.
    ``semantic_dedup_recall`` is probed in its documented 100 TB shape:
    the all-pairs TRUTH side runs on a FIXED 1000-row labeled slice
    while the bucketed side sweeps the full corpus.
    """
    import hashlib
    import math as _math

    import pandas as pd

    from dbt_glue_spark.extensions import clustering, similarity
    from dbt_glue_spark.functions.scalars import half_up_round
    from dbt_glue_spark.functions.vectors import cosine_sim

    def unit_dir(gid: int) -> list[float]:
        # 64 INDEPENDENT bytes (4 chained digests), not a tiled 16-byte
        # digest: tiling preserves cosine, so tiled directions behave
        # like random 16-dim vectors (cross-class cosine std ~0.25 ->
        # ~10-15% spurious >=0.30 edges chaining classes together) and
        # break the ~8-member-class weak-scaling premise
        h = b"".join(
            hashlib.md5(f"dir:{gid}:{c}".encode()).digest() for c in range(4)
        )
        raw = [(h[d] / 255.0) * 2.0 - 1.0 for d in range(64)]
        n = _math.sqrt(sum(x * x for x in raw)) or 1.0
        return [x / n for x in raw]

    def synth_vec(i: int) -> list[float]:
        gid, member = i // 8, i % 8
        v = list(unit_dir(gid))
        # tiny member perturbation on one dim: same-class cosine ~0.999
        v[member % 64] += 0.01 * (member + 1)
        return v

    def build_emb(factor: int, out: str) -> str:
        ids = spark.range(0, 500 * factor, 1, 32).select(
            F.col("id").alias("vec_id")
        )

        def run(batches):
            for pdf in batches:
                rows = [
                    (int(i), synth_vec(int(i)), (int(i) * 7) % 100)
                    for i in pdf["vec_id"]
                ]
                yield pd.DataFrame(
                    rows, columns=["vec_id", "embedding", "q"]
                )

        path = os.path.join(out, f"emb_x{factor}")
        ids.mapInPandas(
            run, "vec_id long, embedding array<double>, q long"
        ).write.mode("overwrite").parquet(path)
        return path

    scratch = tempfile.mkdtemp(prefix="dgs_staged13_probe_")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    try:
        warm = spark.read.parquet(build_emb(1, scratch))
        clustering.semantic_keep_best(warm, "q", k=10, max_iter=2).write.format(
            "noop"
        ).mode("overwrite").save()
        dedup.release_caches()
        for f_ in factors:
            emb = spark.read.parquet(build_emb(f_, scratch))
            rows[str(f_)] = emb.count()
            k = 10 * f_

            def run_keep_best():
                clustering.semantic_keep_best(
                    emb, "q", k=k, max_iter=4
                ).write.format("noop").mode("overwrite").save()

            def run_contamination():
                clustering.semantic_contamination(
                    emb.filter(F.col("vec_id") % 10 != 0),
                    emb.filter(F.col("vec_id") % 10 == 0),
                    k=k,
                    max_iter=4,
                ).write.format("noop").mode("overwrite").save()

            def run_ivf_recall():
                # the catalog spec's recall join: (query_id, neighbor)
                # hit-matching, not a per-query cross product
                queries = emb.filter(F.col("vec_id") < 10)
                exact = similarity.knn_bruteforce(emb, queries, k=5).select(
                    "query_id", "neighbor_id"
                )
                approx = similarity.knn_ivf(
                    emb, queries, k=5, n_centroids=16, nprobe=4
                ).select(F.col("query_id"), F.col("neighbor_id").alias("a_n"))
                exact.join(
                    approx,
                    (exact["query_id"] == approx["query_id"])
                    & (exact["neighbor_id"] == approx["a_n"]),
                    "left",
                ).write.format("noop").mode("overwrite").save()

            def run_dedup_recall_sliced():
                # documented 100 TB shape: truth on a FIXED labeled slice;
                # candidate side via the shared within_cluster_pairs helper
                # (the operator's own construction, one source of truth)
                sl = emb.filter(F.col("vec_id") < 1000)
                similarity.all_pairs_cosine(
                    sl, threshold=0.30, buckets=0
                ).count()
                _m, found = clustering.within_cluster_pairs(
                    emb, k=k, max_iter=4, threshold=0.30
                )
                found.write.format("noop").mode("overwrite").save()

            def run_quantized_recall():
                queries = emb.filter(F.col("vec_id") < 10)
                exact = similarity.knn_bruteforce(emb, queries, k=5).select(
                    "query_id", "neighbor_id"
                )
                approx = similarity.knn_quantized(emb, queries, k=5).select(
                    F.col("query_id"), F.col("neighbor_id").alias("a_n")
                )
                exact.join(
                    approx,
                    (exact["query_id"] == approx["query_id"])
                    & (exact["neighbor_id"] == approx["a_n"]),
                    "left",
                ).write.format("noop").mode("overwrite").save()

            for name, fn in [
                ("semantic_keep_best", run_keep_best),
                ("semantic_contamination", run_contamination),
                ("ivf_recall_audit", run_ivf_recall),
                ("quantized_recall_audit", run_quantized_recall),
                ("semantic_dedup_recall_sliced", run_dedup_recall_sliced),
            ]:
                results.setdefault(name, {})[str(f_)] = timed(fn)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return results, rows


def main() -> None:
    factors = [2, 8, 32]
    probe = "dedup"
    for a in sys.argv[1:]:
        if a.startswith("--factors"):
            factors = [int(x) for x in a.split("=", 1)[1].split(",")]
        if a.startswith("--probe"):
            probe = a.split("=", 1)[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    if probe == "mmr":
        results, rows = probe_mmr(spark, sf_dir, factors)
        _emit(factors, results, rows)
        return
    if probe == "staged":
        results, rows = probe_staged(spark, sf_dir, factors)
        _emit(factors, results, rows)
        return
    if probe == "staged8":
        results, rows = probe_staged8(spark, sf_dir, factors)
        _emit(factors, results, rows)
        return
    if probe == "staged9":
        results, rows = probe_staged9(spark, sf_dir, factors)
        _emit(factors, results, rows)
        return
    if probe == "staged10":
        results, rows = probe_staged10(spark, sf_dir, factors)
        _emit(factors, results, rows)
        return
    if probe == "staged11":
        results, rows = probe_staged11(spark, sf_dir, factors)
        _emit(factors, results, rows)
        return
    if probe == "staged12":
        results, rows = probe_staged12(spark, sf_dir, factors)
        _emit(factors, results, rows)
        return
    if probe == "staged13":
        results, rows = probe_staged13(spark, sf_dir, factors)
        _emit(factors, results, rows)
        return
    scratch = tempfile.mkdtemp(prefix="dgs_scale_probe_")
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    try:
        # warmup: codegen + shuffle machinery for every probed operator so
        # the first timed factor doesn't carry one-off JVM costs
        warm = load_table(spark, sf_dir, "documents").limit(500)
        dedup.minhash_lsh_pairs(warm).write.format("noop").mode("overwrite").save()
        dedup.span_dedup(warm).write.format("noop").mode("overwrite").save()
        dedup.dup_clusters(warm, dedup.minhash_lsh_pairs(warm)).write.format(
            "noop"
        ).mode("overwrite").save()
        text_analysis.bigram_lm_score(warm).write.format("noop").mode(
            "overwrite"
        ).save()
        dedup.cdc_chunks(warm).write.format("noop").mode("overwrite").save()
        warm2 = warm.withColumn("lang", (F.col("doc_id") % 2 == 0).cast("string"))
        text_analysis.dsir_weights(warm2, "lang = 'true'").write.format("noop").mode("overwrite").save()
        dedup.ngram_dup_fraction(warm).write.format("noop").mode("overwrite").save()
        from dbt_glue_spark.extensions.sketches import kmv_set_ops

        warm3 = warm.select(
            (F.col("doc_id") % 20).cast("string").alias("source"),
            F.explode(F.split(F.col("text"), r"\s+")).alias("tok"),
        )
        kmv_set_ops(warm3, "tok", "source").write.format("noop").mode(
            "overwrite"
        ).save()
        dedup.release_caches()
        for f_ in factors:
            path = build_scaled(spark, sf_dir, f_, scratch)
            docs = spark.read.parquet(path)
            rows[str(f_)] = docs.count()

            def run_lsh():
                dedup.minhash_lsh_pairs(docs, threshold=0.5).write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_span():
                dedup.span_dedup(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_clusters():
                pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
                dedup.dup_clusters(docs, pairs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_lm():
                text_analysis.bigram_lm_score(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_cdc():
                dedup.cdc_chunks(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            # dsir needs a target predicate: even doc_ids play the
            # in-domain exemplar set (stable fraction at every factor)
            docs_t = docs.withColumn(
                "lang", (F.col("doc_id") % 2 == 0).cast("string")
            )

            def run_dsir():
                text_analysis.dsir_weights(docs_t, "lang = 'true'").write.format(
                    "noop"
                ).mode("overwrite").save()

            def run_dupfrac():
                dedup.ngram_dup_fraction(docs).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_kmv_overlap():
                from dbt_glue_spark.extensions.sketches import kmv_set_ops

                toks = docs.select(
                    # sources cut across replicas: group count stays fixed
                    # while docs/source grows with the corpus, like a crawl
                    (F.col("doc_id") % 20).cast("string").alias("source"),
                    F.explode(F.split(F.col("text"), r"\s+")).alias("tok"),
                )
                kmv_set_ops(toks, "tok", "source").write.format("noop").mode(
                    "overwrite"
                ).save()

            for name, fn in [
                ("minhash_lsh_pairs", run_lsh),
                ("span_dedup", run_span),
                ("dup_clusters", run_clusters),
                ("bigram_lm_score", run_lm),
                ("cdc_chunks", run_cdc),
                ("dsir_weights", run_dsir),
                ("ngram_dup_fraction", run_dupfrac),
                ("kmv_source_overlap", run_kmv_overlap),
            ]:
                results.setdefault(name, {})[str(f_)] = timed(fn)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    _emit(factors, results, rows)


def _emit(factors: list[int], results: dict, rows: dict) -> None:
    import math

    exponents = {}
    if len(factors) >= 2:
        a, b = str(factors[-2]), str(factors[-1])
        ratio_n = factors[-1] / factors[-2]
        for name, t in results.items():
            if t.get(a) and t.get(b):
                exponents[name] = round(math.log(t[b] / t[a]) / math.log(ratio_n), 3)
    print(
        json.dumps(
            {"rows": rows, "seconds": results, "exponent_largest_step": exponents}
        )
    )


if __name__ == "__main__":
    main()
