"""Weak-scaling probe: per-operator wall time at growing input factors.

The 100 TB claims for the dedup/LSH family and the staged pools are
plan-shape-verified (bucketed joins, map-side partials, V(E)-only
iteration); this probe adds the empirical leg. A *family* is a builder
that makes its inputs at a factor, plus a table of named cases, each a
function from those inputs to the DataFrame it times. One runner does
the rest: it forces every case once, untimed, on the family's small
warm inputs (so the first timed point carries no one-off codegen or JVM
cost), then per factor builds the inputs, forces each case with a noop
write, times it and frees the dedup caches. The scaling exponent is fit
between the two largest factors, where compute dominates the fixed
session/scan overhead.

Document families replicate the ``$SPARK_GRAFT_SF_DIR`` documents
(default sf0.1) f times (:func:`replicate`). Replica r > 0 rewrites
every word with an ``r``-suffix, so (a) each replica keeps the ORIGINAL
corpus's internal duplication structure — the dup *rate* stays constant
as the corpus grows, like a real larger crawl; (b) cross-replica
similarity is zero — replication adds no artificial near-dup mass; and
(c) the shingle vocabulary grows with the corpus — posting-list sizes
stay realistic. Media, pair and embedding families synthesize 500·f
rows with hashed group words instead. Every scaled input is
materialized to parquet scratch so every timed run pays a real scan,
not a cached lineage.

Usage: python tools/scale_probe.py [--probe=NAME] [--factors=2,8,32]

NAME is one of dedup (default), mmr, staged, staged8 … staged13,
dupweak, dupgrowth. Prints one JSON line: input rows per factor,
seconds and output rows per case per factor, and the fitted exponents.
A near-linear operator shows exponent ≈ 1 (ratio bound 1.5x of linear
per SCALE.md policy); quadratic blowup would show ≈ 2.
"""

from __future__ import annotations

import hashlib
import io
import json
import math
import os
import shutil
import sys
import tempfile
import time
import wave
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from functools import partial
from types import SimpleNamespace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dbt_glue_spark.extensions import (  # noqa: E402
    associations,
    audit,
    chat,
    clustering,
    dedup,
    graph,
    sampling,
    similarity,
    web,
)
from dbt_glue_spark.extensions import crossmodal as cm  # noqa: E402
from dbt_glue_spark.extensions import multimodal_dedup as md  # noqa: E402
from dbt_glue_spark.extensions import text_analysis as ta  # noqa: E402
from dbt_glue_spark.extensions.multimodal import video_encode  # noqa: E402
from dbt_glue_spark.extensions.sketches import kmv_set_ops  # noqa: E402
from dbt_glue_spark.plans.media_dedup_queries import synth_pattern_png  # noqa: E402
from dbt_glue_spark.session import get_spark  # noqa: E402
from dbt_glue_spark.sources.registry import load_table  # noqa: E402

WARM = 0  # the factor a builder reads as "the family's small warm-up inputs"
WARM_DOCS = 500


@dataclass(frozen=True)
class Family:
    """``build(spark, sf_dir, factor, scratch)`` returns the inputs (a
    namespace) and their row count; each ``(name, case)`` maps those
    inputs to the DataFrame that is timed."""

    build: Callable[[object, str, int, str], tuple[SimpleNamespace, int]]
    cases: list[tuple[str, Callable[[SimpleNamespace], DataFrame]]]


def _force(df: DataFrame) -> int:
    """Run ``df`` with a noop write; return its row count, observed on
    the same job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["n"]


def warm(frames: Iterable[DataFrame]) -> None:
    """Force every frame once, untimed, then free the dedup caches: each
    plan compiles its own WholeStageCodegen, so the first timed run of a
    frame that was not warmed pays its compile and JVM warm-up time. Pass
    a generator so each frame is built just before it is forced."""
    for df in frames:
        _force(df)
    dedup.release_caches()


def run(spark, sf_dir: str, factors: list[int], family: Family) -> tuple[dict, dict, dict]:
    """Warm every case, then time every case at every factor. Returns
    (seconds, input rows, output rows), keyed by case and factor."""
    scratch = tempfile.mkdtemp(prefix="dgs_scale_probe_")
    seconds: dict[str, dict[str, float]] = {}
    out_rows: dict[str, dict[str, int]] = {}
    rows: dict[str, int] = {}
    try:
        small, _ = family.build(spark, sf_dir, WARM, scratch)
        warm(case(small) for _name, case in family.cases)
        for f_ in factors:
            inputs, rows[str(f_)] = family.build(spark, sf_dir, f_, scratch)
            for name, case in family.cases:
                t0 = time.time()
                out_rows.setdefault(name, {})[str(f_)] = _force(case(inputs))
                seconds.setdefault(name, {})[str(f_)] = round(time.time() - t0, 3)
                dedup.release_caches()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return seconds, rows, out_rows


# ---- inputs ----------------------------------------------------------------


def replicate(docs: DataFrame, factor: int, shared_vocab: bool = False) -> DataFrame:
    """``factor`` replicas of a (doc_id, text) frame; replica r > 0 has
    its doc ids offset by r·10⁷.

    By default replica r rewrites word → word␟r: per-replica vocabulary,
    zero cross-replica shingle overlap, identical intra-replica dup
    structure. The \\x1f separator closes a suffix-collision hole a bare
    numeric suffix has (base "x1" + replica 2 == base "x" + replica 12
    would create cross-replica overlap that grows with the factor). With
    ``shared_vocab`` the replicas keep the text, so duplicate families
    grow in SIZE with the factor instead of in count.
    """
    out = docs
    for r in range(1, factor):
        text = F.col("text")
        if not shared_vocab:
            text = F.array_join(
                F.transform(
                    F.split(text, " "), lambda w: F.concat(w, F.lit("\x1f" + str(r)))
                ),
                " ",
            )
        out = out.unionByName(
            docs.select(
                (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
                text.alias("text"),
            )
        )
    return out


def _materialize(spark, df: DataFrame, path: str) -> DataFrame:
    df.repartition(32).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _documents(spark, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _scaled_docs(
    spark, base: DataFrame, factor: int, scratch: str, shared_vocab: bool = False
) -> DataFrame:
    """``base`` at ``factor``: a 500-row slice at WARM, else
    :func:`replicate` materialized to parquet scratch."""
    if factor == WARM:
        return base.limit(WARM_DOCS)
    tag = "growth" if shared_vocab else "docs"
    return _materialize(
        spark, replicate(base, factor, shared_vocab), os.path.join(scratch, f"{tag}_x{factor}")
    )


def _enrich(docs: DataFrame, web_cols: bool = False) -> DataFrame:
    """Length and source columns (plus a score ``q`` and a synthetic
    ``url`` with ``web_cols``), all derived from the document itself."""
    cols = [
        "doc_id",
        "text",
        F.length("text").cast("bigint").alias("n_chars"),
        F.concat(F.lit("src"), (F.col("doc_id") % 10).cast("string")).alias("source"),
    ]
    if web_cols:
        cols += [
            (F.length("text") % 1000).cast("bigint").alias("q"),
            _synth_url(F.col("doc_id")).alias("url"),
        ]
    return docs.select(*cols)


def _synth_url(doc_id):
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


def _docs_family(enrich: Callable[[DataFrame], DataFrame] = lambda d: d):
    def build(spark, sf_dir, factor, scratch):
        docs = enrich(_scaled_docs(spark, _documents(spark, sf_dir), factor, scratch))
        return SimpleNamespace(docs=docs), docs.count()

    return build


def _staged_inputs(spark, sf_dir, factor, scratch):
    li0 = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ev0 = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    docs = _scaled_docs(spark, _documents(spark, sf_dir), factor, scratch)
    if factor == WARM:
        li, ev = li0.limit(5000), ev0.limit(5000)
    else:
        # replica r offsets order/part keys and users: the co-purchase
        # graph and the event streams are disjoint unions of replicas
        rep = spark.range(factor)
        li = _materialize(
            spark,
            rep.crossJoin(li0).select(
                (F.col("l_orderkey") + F.col("id") * 1_000_000_000).alias("l_orderkey"),
                (F.col("l_partkey") + F.col("id") * 100_000_000).alias("l_partkey"),
            ),
            os.path.join(scratch, f"li_x{factor}"),
        )
        ev = _materialize(
            spark,
            rep.crossJoin(ev0).select(
                (F.col("event_id") + F.col("id") * 1_000_000_000).alias("event_id"),
                (F.col("user_id") + F.col("id") * 10_000_000).alias("user_id"),
                "ts",
                "event_type",
            ),
            os.path.join(scratch, f"ev_x{factor}"),
        )
    return SimpleNamespace(docs=docs, li=li, ev=ev), docs.count()


def _staged9_inputs(spark, sf_dir, factor, scratch):
    docs = _enrich(_scaled_docs(spark, _documents(spark, sf_dir), factor, scratch))
    # fixed eval suite: the BASE replica's every-19th doc only (the
    # production shape: eval suites don't grow with training data)
    ledger = dedup.contamination_ledger(
        docs.filter((F.col("doc_id") < 10_000_000) & (F.col("doc_id") % 19 == 0))
    )
    return SimpleNamespace(docs=docs, ledger=ledger), docs.count()


def _dupheavy_family(shared_vocab: bool):
    def build(spark, sf_dir, factor, scratch):
        base = os.path.join(scratch, "dupheavy")
        if not os.path.exists(base):
            from tools.gen_pathological import mutate_dupheavy

            mutate_dupheavy(load_table(spark, sf_dir, "documents"), rows=None).select(
                "doc_id", "text"
            ).repartition(8).write.parquet(base)
        docs = _scaled_docs(spark, spark.read.parquet(base), factor, scratch, shared_vocab)
        return SimpleNamespace(docs=docs), docs.count()

    return build


# synthesized families: 500·factor rows (500 to warm up), group words
# hashed so classes of ~8 members grow in COUNT with the corpus


def _synth_rows(factor: int) -> int:
    return 500 * max(factor, 1)


def _word(tag: str, n: int) -> int:
    return int.from_bytes(hashlib.md5(f"{tag}:{n}".encode()).digest()[:8], "big")


def _synth(spark, factor: int, scratch: str, name: str, row: Callable, schema: str) -> DataFrame:
    """``row(i)`` for i < 500·factor, built in Python workers and
    materialized to parquet scratch; the first schema field is the id."""
    cols = [field.split()[0] for field in schema.split(",")]

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([row(int(i)) for i in pdf[cols[0]]], columns=cols)

    path = os.path.join(scratch, f"{name}_x{factor}")
    spark.range(0, _synth_rows(factor), 1, 32).select(
        F.col("id").alias(cols[0])
    ).mapInPandas(gen, schema).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _synth_audio(gid: int, amp: int, win: int = 256) -> bytes:
    parts = []
    for j in range(4):
        k = 3 + _word("a", gid * 4 + j) % 100  # bins 3..102 < win/2
        t = np.arange(4 * win)
        parts.append(np.round(amp * np.sin(2 * np.pi * k * t / win)))
    x = np.concatenate(parts).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def _media_row(kind: str, i: int) -> tuple:
    gid = i // 8  # 8 members per class, class count ∝ corpus
    if kind == "image":
        content = synth_pattern_png(_word("i", gid), (i % 7) * 3)
    elif kind == "audio":
        content = _synth_audio(gid, 4000 + 1000 * (i % 7))
    else:
        nf = 2 + gid % 3 - (1 if i % 3 == 0 else 0)
        content = video_encode(
            [synth_pattern_png(_word(f"v{f}", gid), (i % 7) * 3) for f in range(nf)], 2
        )
    return i, kind, content


def _media_inputs(spark, sf_dir, factor, scratch):
    img, aud, vid = (
        _synth(
            spark, factor, scratch, f"media_{kind}", partial(_media_row, kind),
            "media_id long, kind string, content binary",
        )
        for kind in ("image", "audio", "video")
    )
    return SimpleNamespace(img=img, aud=aud, vid=vid), img.count() + aud.count() + vid.count()


def _pair_row(i: int) -> tuple:
    # a boilerplate caption every 13th row (the spam axis crossing
    # classes), two caption variants per class (the divergence axis)
    gid = i // 8
    png = synth_pattern_png(_word("i", gid), (i % 7) * 3)
    cap = "stock photo of the day" if i % 13 == 0 else f"cap {gid} {i % 2}"
    return i, cap, png, (i * 7) % 50


def _pair_inputs(spark, sf_dir, factor, scratch):
    pairs = _synth(
        spark, factor, scratch, "pairs", _pair_row,
        "pair_id long, caption string, content binary, quality long",
    )
    ids = spark.range(0, _synth_rows(factor), 1, 32)
    # mixture-card input is JVM-only (no media): pair_type by id%3,
    # caption token count 1 + id%9, constant per-type weights
    typed = ids.select(
        F.element_at(
            F.array(F.lit("image_caption"), F.lit("audio_transcript"), F.lit("video_caption")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("pair_type"),
        F.trim(F.repeat(F.lit("tok "), (F.col("id") % 9 + 1).cast("int"))).alias("caption"),
        F.element_at(
            F.array(F.lit(600000), F.lit(250000), F.lit(150000)),
            (F.col("id") % 3 + 1).cast("int"),
        )
        .cast("bigint")
        .alias("weight"),
    )

    # synthetic 16-dim embeddings from id arithmetic: the alignment audit
    # is a map-only cosine + tiny groupBy over the growing pair count
    def vec(salt):
        return F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda d: F.cos((F.col("id") * d + F.lit(salt)).cast("double")),
        )

    emb = ids.select(
        F.col("id").alias("pair_id"), vec(0).alias("caption_vec"), vec(3).alias("image_vec")
    )
    return SimpleNamespace(pairs=pairs, typed=typed, emb=emb), pairs.count()


def _unit_dir(gid: int) -> list[float]:
    # 64 INDEPENDENT bytes (4 chained digests), not a tiled 16-byte
    # digest: tiling preserves cosine, so tiled directions behave like
    # random 16-dim vectors (cross-class cosine std ~0.25 -> ~10-15%
    # spurious >=0.30 edges chaining classes together) and break the
    # ~8-member-class weak-scaling premise
    h = b"".join(hashlib.md5(f"dir:{gid}:{c}".encode()).digest() for c in range(4))
    raw = [(h[d] / 255.0) * 2.0 - 1.0 for d in range(64)]
    n = math.sqrt(sum(x * x for x in raw)) or 1.0
    return [x / n for x in raw]


def _emb_row(i: int) -> tuple:
    gid, member = i // 8, i % 8
    v = _unit_dir(gid)
    # tiny member perturbation on one dim: same-class cosine ~0.999
    v[member % 64] += 0.01 * (member + 1)
    return i, v, (i * 7) % 100


def _emb_inputs(spark, sf_dir, factor, scratch):
    emb = _synth(
        spark, factor, scratch, "emb", _emb_row, "vec_id long, embedding array<double>, q long"
    )
    # k scales with the corpus (the SemDeDup contract: per-cluster
    # candidate volume stays bounded); the recall audits take the
    # catalog specs' fixed 10-vector probe set
    probes = emb.filter(F.col("vec_id") < 10)
    return SimpleNamespace(emb=emb, k=10 * max(factor, 1), probes=probes), emb.count()


def _mmr_inputs(spark, sf_dir, factor, scratch):
    emb = load_table(spark, sf_dir, "embeddings")
    # batch of 25·factor query vectors against the fixed corpus (5 to warm up)
    queries = emb.filter(F.col("vec_id") < (25 * factor or 5))
    return SimpleNamespace(emb=emb, queries=queries), queries.count()


# ---- cases -------------------------------------------------------------------


def _dsir(docs):
    # even doc_ids play the in-domain exemplar set (stable fraction at
    # every factor)
    return ta.dsir_weights(
        docs.withColumn("lang", (F.col("doc_id") % 2 == 0).cast("string")), "lang = 'true'"
    )


def _kmv_overlap(docs):
    toks = docs.select(
        # sources cut across replicas: group count stays fixed while
        # docs/source grows with the corpus, like a crawl
        (F.col("doc_id") % 20).cast("string").alias("source"),
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok"),
    )
    return kmv_set_ops(toks, "tok", "source")


def _lsh_clusters(docs):
    return dedup.dup_clusters(docs, dedup.minhash_lsh_pairs(docs, threshold=0.5))


def _ledger_compaction(docs):
    # every 5th doc gains a near-copy (id + 10⁹) led by its original
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zq")).alias("text"),
        )
    )
    leader = aug.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") >= 1_000_000_000, F.col("doc_id") - 1_000_000_000)
        .otherwise(F.col("doc_id"))
        .alias("leader"),
    )
    return dedup.compact_band_ledger(dedup.minhash_band_ledger(aug), leader)


def _line_dedup(docs):
    # word-chunked 8-word lines, the catalog construction
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"), lambda x: x != F.lit("")
    )
    ww = docs.select("doc_id", words.alias("__words")).filter(F.size("__words") > 0)
    nl = (F.size("__words") + F.lit(7)).cast("int") - (
        (F.size("__words") + F.lit(7)) % 8
    ).cast("int")
    lines = ww.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (nl / 8).cast("int") - F.lit(1)),
                lambda i: F.array_join(F.slice(F.col("__words"), i * 8 + 1, 8), " "),
            )
        ).alias("line"),
    )
    return dedup.line_dedup(lines, max_doc_freq=2)


def _url_frontier(docs):
    ledger = docs.filter(F.col("doc_id") % 3 == 0)
    return web.url_frontier_new(docs.filter(F.col("doc_id") % 3 != 0), ledger)


# chat tier: turns/pairs derive from doc_id exactly like the staged
# specs, so conversations and pairs scale WITH the corpus (every op is
# conv/pair/hash-keyed)
def _turns(docs):
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


def _preference_pairs(docs):
    d = F.col("doc_id")
    base = docs.select(
        F.expr("doc_id div 2").alias("pair_id"),
        (d % 2).alias("side"),
        "source",
        (((d % 9973) * 31) % 1000).alias("q2"),
        "text",
    )
    e = base.filter(F.col("side") == 0).select(
        "pair_id", "source", F.col("text").alias("t0"), F.col("q2").alias("q0")
    )
    o = base.filter(F.col("side") == 1).select(
        "pair_id", F.col("text").alias("t1"), F.col("q2").alias("q1")
    )
    first_wins = F.col("q0") >= F.col("q1")
    return e.join(o, "pair_id").select(
        "pair_id",
        "source",
        F.when(first_wins, F.col("t0")).otherwise(F.col("t1")).alias("chosen_text"),
        F.when(first_wins, F.col("t1")).otherwise(F.col("t0")).alias("rejected_text"),
    )


def _dedup_recall_sliced(i):
    # documented 100 TB shape: the all-pairs truth side on a FIXED
    # 1000-row labeled slice; the candidate side via the operator's own
    # within_cluster_pairs over the full corpus
    sl = i.emb.filter(F.col("vec_id") < 1000)
    similarity.all_pairs_cosine(sl, threshold=0.30, buckets=0).count()
    return clustering.within_cluster_pairs(i.emb, k=i.k, max_iter=4, threshold=0.30)[1]


FAMILIES: dict[str, Family] = {
    # the dedup/LSH family (SCALE.md round-4)
    "dedup": Family(
        _docs_family(),
        [
            ("minhash_lsh_pairs", lambda i: dedup.minhash_lsh_pairs(i.docs, threshold=0.5)),
            ("span_dedup", lambda i: dedup.span_dedup(i.docs)),
            ("dup_clusters", lambda i: _lsh_clusters(i.docs)),
            ("bigram_lm_score", lambda i: ta.bigram_lm_score(i.docs)),
            ("cdc_chunks", lambda i: dedup.cdc_chunks(i.docs)),
            ("dsir_weights", lambda i: _dsir(i.docs)),
            ("ngram_dup_fraction", lambda i: dedup.ngram_dup_fraction(i.docs)),
            ("kmv_source_overlap", lambda i: _kmv_overlap(i.docs)),
        ],
    ),
    # QUERY-set scaling against a fixed corpus: mmr_rerank's k greedy
    # rounds are joins keyed by query_id, so a batch of B queries
    # re-ranks in one pass of k rounds (cost ∝ B·n² per round), i.e.
    # exponent ≈ 1 in B; knn_bruteforce is one broadcast-probe scan
    "mmr": Family(
        _mmr_inputs,
        [
            ("mmr_rerank_queries", lambda i: similarity.mmr_rerank(i.emb, i.queries)),
            ("knn_bruteforce_queries", lambda i: similarity.knn_bruteforce(i.emb, i.queries, k=20)),
        ],
    ),
    # round-7 pool: replica-disjoint vocabularies keep document
    # frequencies flat (prefix postings ∝ corpus), pair spaces and
    # per-doc histograms are replica-local, the co-purchase graph is a
    # disjoint union (edges, wedges, triangles ∝ factor), per-user
    # streams are replica-local
    "staged": Family(
        _staged_inputs,
        [
            ("prefix_jaccard_pairs", lambda i: dedup.prefix_jaccard_pairs(i.docs)),
            ("pmi_pairs", lambda i: ta.pmi_pairs(i.docs)),
            ("token_gini", lambda i: ta.token_gini(i.docs)),
            (
                "basket_lift_pairs",
                lambda i: associations.basket_lift_pairs(i.li, "l_orderkey", "l_partkey"),
            ),
            (
                "triangle_counts",
                lambda i: graph.triangle_counts(
                    associations.copurchase_edges(i.li, "l_orderkey", "l_partkey")
                ),
            ),
            (
                "sequence_ngrams",
                lambda i: associations.sequence_ngrams(
                    i.ev, "user_id", ["ts", "event_id"], "event_type"
                ),
            ),
        ],
    ),
    # round-8 pool: stride-1 seeds ∝ corpus tokens with a map-side
    # combining winner groupBy and doc-keyed island windows (the honest
    # O(tokens) of ExactSubstr); ledger rows ∝ docs through two band/id
    # keyed equi-joins
    "staged8": Family(
        _docs_family(),
        [
            ("exact_substring_spans", lambda i: dedup.exact_substring_spans(i.docs)),
            ("ledger_compaction", lambda i: _ledger_compaction(i.docs)),
        ],
    ),
    # round-9 pool: scan-bound histograms collapsing to ≤32 rows, a rank
    # window per group (groups ∝ corpus), train postings ∝ corpus against
    # a fixed eval ledger, bucketed cumulative windows; the 64-cap only
    # shows on the textskew axis, so capped LSH matches uncapped here
    "staged9": Family(
        _staged9_inputs,
        [
            (
                "psi_js_drift",
                lambda i: audit.psi_js_drift(
                    i.docs.select(F.col("n_chars").alias("v")),
                    i.docs.select((F.col("n_chars") + 7).alias("v")),
                    "v",
                ),
            ),
            (
                "ppswor_sample",
                lambda i: sampling.ppswor_sample_by_group(
                    i.docs, "source", "doc_id", "n_chars", k=32
                ),
            ),
            (
                "contamination_ledger",
                lambda i: dedup.contamination_check_incremental(i.docs, i.ledger, min_common=2),
            ),
            ("vocab_growth", lambda i: ta.vocab_growth(i.docs)),
            ("ngram_novelty", lambda i: ta.ngram_novelty(i.docs)),
            ("minhash_lsh_capped", lambda i: dedup.minhash_lsh_pairs(i.docs, max_band_bucket=64)),
            ("containment_pairs", lambda i: dedup.containment_pairs(i.docs, df_freq_cutoff=20)),
        ],
    ),
    # round-10 pool: map-only canonicalization + one map-side-combining
    # groupBy, rank windows per domain (domains ∝ corpus), source-count
    # bounded tails, and gopher_quality_flags as ONE map-only projection
    # (the purest scan-bound exponent in the repo)
    "staged10": Family(
        _docs_family(partial(_enrich, web_cols=True)),
        [
            ("url_dedup", lambda i: web.url_dedup(i.docs)),
            ("domain_caps", lambda i: web.domain_caps(i.docs, cap=8)),
            (
                "token_budget_alloc",
                lambda i: sampling.token_budget_allocation(
                    i.docs, "source", "n_chars", "q", 30_000
                ),
            ),
            ("gopher_quality_flags", lambda i: ta.gopher_quality_flags(i.docs)),
            ("line_dedup", lambda i: _line_dedup(i.docs)),
            (
                "temperature_mixture",
                lambda i: sampling.temperature_mixture(i.docs, "source", "n_chars", 50_000),
            ),
            (
                "threshold_retention",
                lambda i: sampling.threshold_retention(i.docs, "q", "n_chars", 100),
            ),
            ("url_frontier_ledger", lambda i: _url_frontier(i.docs)),
            (
                "domain_quality",
                lambda i: web.domain_quality(
                    i.docs, "url", "q", min_docs=5, threshold_micro=480_000_000
                ),
            ),
            (
                "dedup_keep_best",
                lambda i: dedup.exact_dedup_keep_best(i.docs, "text", "doc_id", "q"),
            ),
            (
                "epoch_repeat_plan",
                lambda i: sampling.token_budget_allocation(
                    i.docs, "source", "n_chars", "q", 30_000, max_epochs=4
                ),
            ),
            ("tokenizer_fertility", lambda i: ta.tokenizer_fertility(i.docs, "source", "text")),
            (
                "curriculum_stages",
                lambda i: sampling.curriculum_stages(i.docs, "source", "q", "doc_id", 4),
            ),
            ("chat_turn_validation", lambda i: chat.validate_turns(_turns(i.docs))),
            ("chat_truncation_plan", lambda i: chat.truncation_plan(_turns(i.docs), max_tokens=64)),
            ("chat_response_dedup", lambda i: chat.response_dedup(_turns(i.docs))),
            (
                "preference_pair_audit",
                lambda i: chat.preference_pair_audit(_preference_pairs(i.docs)),
            ),
            (
                "preference_length_bias",
                lambda i: chat.preference_length_bias(_preference_pairs(i.docs)),
            ),
            ("chat_render", lambda i: chat.render_conversations(_turns(i.docs))),
        ],
    ),
    # round-11 multimodal-dedup pool over synthesized media (the catalog
    # specs' fixed 32-codeword corpus is dupheavy-shaped for closed-form
    # oracles; scaling THAT would measure quadratic output): the
    # dominant cost is the embarrassingly parallel Arrow-batched decode,
    # and every shuffle carries 8-byte hashes
    "staged11": Family(
        _media_inputs,
        [
            ("image_dhash_dedup", lambda i: md.image_dhash_dedup(i.img)),
            ("image_near_dup_pairs", lambda i: md.image_near_dup_pairs(i.img)),
            ("video_near_dup_pairs", lambda i: md.video_near_dup_pairs(i.vid, max_df=100_000)),
            # shipped default max_df: the synthetic tone alphabet
            # saturates (~126 FFT bins), so UNCAPPED runs measure
            # stop-landmark Σdf² blowup (exponent 2.28, ~5× junk pairs),
            # not the operator — the df cutoff is the shipped control
            ("audio_fingerprint_pairs", lambda i: md.audio_fingerprint_pairs(i.aud)),
            (
                "media_decode_audit",
                lambda i: md.decode_audit(i.img.unionByName(i.aud).unionByName(i.vid)),
            ),
            ("image_dup_clusters", lambda i: md.image_dup_clusters(i.img)),
            ("video_scene_changes", lambda i: md.video_scene_changes(i.vid)),
            # fixed 8-query batch against the growing corpus (queries
            # broadcast): the lookup-side weak-scaling shape
            (
                "audio_snippet_match",
                lambda i: md.audio_snippet_match(i.aud, i.aud.limit(8), max_df=100_000),
            ),
            ("video_keyframes", lambda i: md.video_keyframes(i.vid)),
        ],
    ),
    # round-12 cross-modal pair pool over synthesized (caption, image)
    # pairs: joint classes grow in count, the decode stage dominates and
    # every shuffle carries 8/16-byte hashes
    "staged12": Family(
        _pair_inputs,
        [
            ("caption_consistency", lambda i: cm.caption_consistency_audit(i.pairs)),
            ("caption_spam", lambda i: cm.caption_spam_census(i.pairs)),
            ("paired_keep_best", lambda i: cm.paired_keep_best(i.pairs)),
            ("modality_mixture_card", lambda i: cm.modality_mixture_card(i.typed, budget=10_000)),
            ("pair_completeness", lambda i: cm.pair_completeness_audit(i.pairs)),
            ("pair_alignment", lambda i: cm.pair_alignment_audit(i.emb)),
        ],
    ),
    # round-13 embedding-curation pool over synthesized 64-dim vectors:
    # near-linear censuses, plus the broadcast centroid-assign term n·k
    # (k = 10·factor) surfacing super-linearly at the largest factors —
    # SemDeDup's documented scale cost, the algorithm and not a defect;
    # SCALE.md adjudicates the reading
    "staged13": Family(
        _emb_inputs,
        [
            (
                "semantic_keep_best",
                lambda i: clustering.semantic_keep_best(i.emb, "q", k=i.k, max_iter=4),
            ),
            (
                "semantic_contamination",
                lambda i: clustering.semantic_contamination(
                    i.emb.filter(F.col("vec_id") % 10 != 0),
                    i.emb.filter(F.col("vec_id") % 10 == 0),
                    k=i.k,
                    max_iter=4,
                ),
            ),
            (
                "ivf_recall_audit",
                lambda i: similarity.recall_at_k(
                    i.emb,
                    i.probes,
                    similarity.knn_ivf(i.emb, i.probes, k=5, n_centroids=16, nprobe=4),
                    k=5,
                ),
            ),
            (
                "quantized_recall_audit",
                lambda i: similarity.recall_at_k(
                    i.emb, i.probes, similarity.knn_quantized(i.emb, i.probes, k=5), k=5
                ),
            ),
            ("semantic_dedup_recall_sliced", _dedup_recall_sliced),
        ],
    ),
}

# star-policy capped MinHash-LSH (and the production pairs → dup_clusters
# composition) on the dupheavy mutation (85 % of docs mirror five
# near-identical canonicals). dupweak: disjoint-vocabulary replicas, so
# family SIZE stays fixed and family COUNT grows ∝ factor. dupgrowth:
# shared-vocabulary replicas, so family size grows ∝ factor; the star
# emits O(family) candidates where the uncapped join would emit
# O(family²). Factor 1 is the unreplicated mutated corpus.
_DUP_CASES = [
    ("lsh_capped", lambda i: dedup.minhash_lsh_pairs(i.docs, threshold=0.5)),
    ("lsh_plus_clusters", lambda i: _lsh_clusters(i.docs)),
]
FAMILIES["dupweak"] = Family(_dupheavy_family(shared_vocab=False), _DUP_CASES)
FAMILIES["dupgrowth"] = Family(_dupheavy_family(shared_vocab=True), _DUP_CASES)


def main(argv: list[str]) -> None:
    factors, probe = [2, 8, 32], "dedup"
    for a in argv:
        if a.startswith("--factors="):
            factors = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--probe="):
            probe = a.split("=", 1)[1]
        else:
            raise SystemExit(f"unknown argument {a!r}; usage: --probe=NAME --factors=2,8,32")
    if probe not in FAMILIES:
        raise SystemExit(f"unknown --probe={probe}; one of {', '.join(FAMILIES)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the mapInPandas synthesizers run in Python workers, which inherit
    # the process environment, not this interpreter's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    _emit(factors, *run(spark, sf_dir, factors, FAMILIES[probe]))


def _emit(factors: list[int], results: dict, rows: dict, out_rows: dict) -> None:
    exponents = {}
    if len(factors) >= 2:
        a, b = str(factors[-2]), str(factors[-1])
        ratio_n = factors[-1] / factors[-2]
        for name, t in results.items():
            if t.get(a) and t.get(b):
                exponents[name] = round(math.log(t[b] / t[a]) / math.log(ratio_n), 3)
    print(
        json.dumps(
            {
                "rows": rows,
                "seconds": results,
                "exponent_largest_step": exponents,
                "out_rows": out_rows,
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1:])
