"""Skew-degradation probe: clean sf0.1 vs a FULL-SIZE hot-key mutation.

The parity axes (gen_pathological --variant=hot) prove CORRECTNESS under
90 % key skew on 300-row samples; this probe measures RUNTIME
degradation at full sf0.1 when 90 % of every FK/group key collapses to
one value — the shape where a naive single-partition window or unsalted
shuffle degrades superlinearly. Probed: the window / as-of / groupBy
family keyed on the skewed columns, plus an unkeyed control.

A ratio near 1 means the operator's cost is insensitive to key
distribution (map-side partials, AQE skew handling, bounded windows); a
large ratio flags a single-partition hot spot that would become a
straggler at 100 TB. Results and adjudications live in SCALE.md
("Round-6 skew-degradation probe").

A second axis, ``--axis=textskew``, probes the CONTENT-side hot shape
(gen_pathological --variant=textskew: 90 % shared boilerplate prefix +
~1 % mega-documents) against the text heavyweights the key-hot axis is
insensitive to by construction — exact-substring seed exchange,
sorted-neighborhood prefix blocks, prefix-Jaccard stop-shingle
postings, minhash banding. Note the textskew mutation ADDS tokens
(~63/doc + 64×-boilerplate mega-docs), so ratios fold real extra work
in with skew sensitivity — adjudicate against the corpus token count
(reported as ``token_ratio``), not 1.0.

Usage: python tools/skew_probe.py [sf_dir] [--reps=3] [--axis=hot|textskew|dupheavy]
Prints one JSON line: {query: {"clean": s, "hot": s, "ratio": r}}.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TOOLS))
sys.path.insert(0, _TOOLS)

from gen_pathological import mutate_dupheavy, mutate_hot, mutate_textskew  # noqa: E402
from scale_probe import _force, warm  # noqa: E402

from dbt_glue_spark.plans.catalog import SPECS  # noqa: E402
from dbt_glue_spark.session import get_spark  # noqa: E402
from dbt_glue_spark.sources.registry import TABLES, load_table  # noqa: E402

# Window/as-of/groupBy queries keyed on the columns the hot variant skews
# (user_id, custkey, suppkey, lang, source), plus events_hourly as the
# unkeyed control — its group key (hour) is untouched by the mutation.
PROBED = [
    "sessionize_events_batch",       # window by user_id
    "window_top_orders_per_customer",  # window by o_custkey
    "asof_join_clicks_purchases",    # as-of union-window by user_id
    "last_touch_attribution",        # as-of by user_id + type rollup
    "rfm_segments",                  # groupBy user_id
    "ext_top_tokens_per_lang",       # window per lang (90% en)
    "ext_quality_top_per_source",    # window per source (90% src7)
    "q5_local_supplier_volume",      # join chain incl. suppkey/custkey
    "events_hourly",                 # control: group key untouched
    # round-7 promoted heavyweights with skew-sensitive shapes (VERDICT
    # r6 item 6): hot l_partkey=7 turns the co-purchase graph into one
    # hub — the exact stress Suri–Vassilvitskii degree-ordering and the
    # C(basket,2) pair generation exist for; hot o_custkey=7 piles the
    # interval-island keyed windows onto one key.
    "ext_basket_lift",               # pair gen from hot-item baskets
    "ext_triangle_parts",            # power-law hub triangle counting
    "ext_interval_islands",          # keyed lag/sum windows by custkey
]

# Text heavyweights probed on the content-side textskew axis (VERDICT r7
# item 5): the key-hot axis mutates FK/group keys, which these are
# insensitive to by construction.
PROBED_TEXT = [
    "ext_exact_substring_spans",     # hot seed hash owns ~90% of seeds
    "ext_sorted_neighborhood",       # one 2-char prefix block dominates
    "ext_prefix_jaccard_join",       # stop-shingle postings, df ~ corpus
    "ext_minhash_lsh_pairs",         # banded signatures over near-dup mass
    "ext_minhash_lsh_capped",        # same, mega-bucket cap engaged (r9 staged)
    "ext_span_dedup",                # shared-prefix span collapse
    "ext_ngram_dup_fraction",        # n-gram repeat audit on boilerplate
    "ext_text_stats",                # control: per-doc map-only stats
]


# Dedup heavyweights probed on the dupheavy axis (round-9 session 3):
# ~85 % of documents collapse onto five near-dup canonicals, so giant md5
# groups, an over-cap LSH mega-bucket (star policy engaged) and a
# quadratic TRUE pair answer. Adjudicate pair operators against the
# reported dup_ratio (their output IS quadratic in the dup mass); the
# capped/star and cluster paths must stay near-linear.
PROBED_DUP = [
    "ext_exact_dedup",               # giant hash groups, map-side combine
    "ext_dedup_apply",               # end-to-end capped pipeline (star)
    "ext_minhash_lsh_capped",        # star policy over the mega-bucket
    "ext_dup_clusters",              # one giant component, propagation rounds
    "ext_exact_substring_spans",     # every canonical window corpus-hot
    "ext_ngram_dup_fraction",        # df ~ dup mass on canonical shingles
    "ext_prefix_jaccard_join",       # quadratic TRUE answer — positional filter
    "ext_text_stats",                # control: per-doc map-only stats
]


AXES = {
    "hot": (mutate_hot, PROBED),
    "textskew": (mutate_textskew, PROBED_TEXT),
    "dupheavy": (mutate_dupheavy, PROBED_DUP),
}
USAGE = "usage: python tools/skew_probe.py [sf_dir] [--reps=3] [--axis=hot|textskew|dupheavy]"


def main(argv: list[str]) -> None:
    sf_dir, reps, axis = "/root/testdata/sf0.1", 3, "hot"
    for a in argv:
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--axis="):
            axis = a.split("=", 1)[1]
        elif a.startswith("--"):
            raise SystemExit(f"unknown argument {a!r}; {USAGE}")
        else:
            sf_dir = a
    if axis not in AXES:
        raise SystemExit(f"unknown --axis={axis}; {USAGE}")
    mutator, probed = AXES[axis]
    spark = get_spark("skew_probe")
    spark.sparkContext.setLogLevel("ERROR")

    hot_dir = tempfile.mkdtemp(prefix="dgs_skew_probe_")
    try:
        token_ratio = None
        dup_ratio = None
        for t in TABLES:
            mutator(load_table(spark, sf_dir, t), rows=None).write.mode(
                "overwrite"
            ).parquet(os.path.join(hot_dir, f"{t}.parquet"))
        if axis == "dupheavy":
            # report the duplicated-document fraction so quadratic-truth
            # pair operators are adjudicated against it
            from pyspark.sql import functions as F

            d = load_table(spark, hot_dir, "documents").filter(
                F.col("text").isNotNull()
            )
            grp = d.groupBy(F.md5("text")).count()
            dup_docs = (
                grp.filter(F.col("count") >= 2)
                .agg(F.sum("count"))
                .collect()[0][0]
                or 0
            )
            dup_ratio = round(dup_docs / max(d.count(), 1), 3)
        if axis == "textskew":
            # the mutation adds real tokens: report the corpus blow-up so
            # runtime ratios are adjudicated against it, not against 1.0
            def _toks(d):
                from pyspark.sql import functions as F

                return (
                    load_table(spark, d, "documents")
                    .agg(F.sum(F.size(F.split("text", r"\s+"))))
                    .collect()[0][0]
                )

            token_ratio = round(_toks(hot_dir) / _toks(sf_dir), 2)

        specs = SPECS()
        results: dict[str, dict] = {}
        warm(specs[name].fn(spark, d) for name in probed for d in (sf_dir, hot_dir))
        for name in probed:
            secs = {}
            for label, d in (("clean", sf_dir), ("hot", hot_dir)):
                samples = []
                for _ in range(reps):
                    t0 = time.time()
                    _force(specs[name].fn(spark, d))
                    samples.append(time.time() - t0)
                secs[label] = round(statistics.median(samples), 3)
            clean, hot = secs["clean"], secs["hot"]
            results[name] = {
                "clean": clean,
                "hot": hot,
                "ratio": round(hot / clean, 2) if clean else None,
            }
            print(name, results[name], file=sys.stderr)
        out = {"sf_dir": sf_dir, "reps": reps, "axis": axis, "results": results}
        if token_ratio is not None:
            out["token_ratio"] = token_ratio
        if dup_ratio is not None:
            out["dup_ratio"] = dup_ratio
        print(json.dumps(out))
    finally:
        shutil.rmtree(hot_dir, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
