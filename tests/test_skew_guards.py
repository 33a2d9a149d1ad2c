"""Skew-guard stress: make the 100 TB safety valves actually fire.

Round-3 verdict: at sf0.1 the hot-shingle cap never triggers (max df 25 vs
cap 1000), so the guards were pure insurance cost — plan-audited but never
exercised. These tests synthesize the skew the guards exist for:

- a corpus where EVERY document shares one shingle (df = corpus size), the
  exact shape that makes the shingle self-join d^2 on one key at 100 TB;
- an embedding set where most vectors land in one LSH bucket.

and assert three things per guard: it fires, it bounds the join-group /
candidate size, and the operator's *output* at the query threshold is
unchanged vs the uncapped oracle formulation.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.observability import QueryMetricsCollector
from stream_cdc_spark.operators import dedup, similarity

HOT_PHRASE = "omnipresent boilerplate header"  # one trigram in every doc
N_DOCS = 240
N_PLANTED = 10
CAP = 50


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """240 docs, each: the shared hot phrase + 8 unique filler tokens.
    Docs (i, 10_000+i) for i < N_PLANTED are exact duplicates — the only
    true near-dup pairs. Every other pair shares exactly the one hot
    shingle, so an uncapped self-join materializes C(240,2)+ candidate
    rows from a key that carries zero dedup signal."""
    rows = []
    for i in range(N_DOCS):
        filler = " ".join(f"tok{i}x{j}" for j in range(8))
        rows.append((i, f"{HOT_PHRASE} {filler}"))
    for i in range(N_PLANTED):
        rows.append((10_000 + i, rows[i][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_hot_shingle_guard_fires_and_bounds_candidates(spark, skewed_docs):
    sh = dedup.shingles(skewed_docs)
    filtered = dedup.stop_shingle_filter(sh, CAP)

    # the guard fired: the hot shingle (df = 250) is gone and no surviving
    # join group exceeds the cap — this is the per-task input bound
    max_df_after = (
        filtered.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df").alias("m")).first()["m"]
    )
    assert max_df_after <= CAP

    # candidate-row bound: the self-join over the capped shingle set emits
    # only the planted pairs, vs >= C(240,2) rows uncapped
    def _candidates(s):
        a, b = s.alias("a"), s.alias("b")
        return a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        ).count()

    capped_rows = _candidates(filtered)
    uncapped_rows = _candidates(sh)
    assert uncapped_rows >= (N_DOCS * (N_DOCS - 1)) // 2  # the d^2 blow-up
    assert capped_rows <= N_PLANTED * 12  # planted dups' shingles only


def test_hot_shingle_guard_output_unchanged_vs_uncapped(spark, skewed_docs):
    """q24's contract under the guard: identical pair set AND identical
    jaccard values at the query threshold, capped vs uncapped. (Planted
    exact-dups share every shingle, so removing the hot one leaves their
    jaccard at 1.0; all other pairs sit at ~1/13 — far under 0.5.)"""
    capped = dedup.ngram_jaccard_pairs(
        skewed_docs, threshold=0.5, max_shingle_df=CAP
    )
    uncapped = dedup.ngram_jaccard_pairs(
        skewed_docs, threshold=0.5, max_shingle_df=None
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    want = {(r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped.collect()}
    assert got == want
    assert len(got) == N_PLANTED


def test_sampled_hot_detector_agrees_with_exact(spark, skewed_docs):
    """The 1/128-style sampled detector must flag the same hot shingle and
    produce the same filtered relation as the exact full-shuffle count
    (the hot key here is hot enough to survive any sample rate)."""
    sh = dedup.shingles(skewed_docs)
    exact = dedup.stop_shingle_filter(sh, CAP)
    for rate in (4096, 2048, 512):
        sampled = dedup.stop_shingle_filter(sh, CAP, detect_rate_4096=rate)
        assert sorted(map(tuple, sampled.collect())) == sorted(
            map(tuple, exact.collect())
        ), f"rate {rate}"


def test_hot_shingle_guard_cuts_shuffle_volume(spark, skewed_docs):
    """End-to-end on the real operator: the capped plan moves materially
    fewer rows through its operators than the uncapped one (the insurance
    premium buys a d^2 saving when the skew is real)."""
    collector = QueryMetricsCollector(spark)
    capped_df = dedup.ngram_jaccard_pairs(
        skewed_docs, threshold=0.5, max_shingle_df=CAP
    )
    uncapped_df = dedup.ngram_jaccard_pairs(
        skewed_docs, threshold=0.5, max_shingle_df=None
    )
    capped = collector.measure("capped", lambda: capped_df)
    uncapped = collector.measure("uncapped", lambda: uncapped_df)
    cr = capped.sums.get("operator_rows", 0)
    ur = uncapped.sums.get("operator_rows", 0)
    # the uncapped join alone emits >= 28k extra rows; detection overhead
    # in the capped plan is ~2k shingle-count rows
    assert ur - cr > 20_000, (cr, ur)


# ---------------------------------------------------------------------------
# LSH hot-bucket split under a skewed embedding distribution
# ---------------------------------------------------------------------------

DIM = 16
MAX_BUCKET = 30


@pytest.fixture(scope="module")
def skewed_vectors(spark):
    """300 vectors clustered around one direction (same 8-bit LSH bucket
    for most), plus 5 planted exact-duplicate pairs. A hot key 100x the
    median bucket population, per the round-3 skew-stress ask."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=DIM)
    base /= np.linalg.norm(base)
    rows = []
    for i in range(300):
        # 0.08 spread concentrates ~1/3 of the corpus in one 8-bit bucket
        # (measured: hot bucket 92 vs median ~1) while leaving enough
        # angular diversity for refinement planes to separate
        v = base + 0.08 * rng.normal(size=DIM)
        rows.append((i, [float(x) for x in v]))
    for i in range(5):
        rows.append((10_000 + i, rows[i][1]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_split_hot_buckets_bounds_population(spark, skewed_vectors):
    b = skewed_vectors.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        similarity.lsh_bucket(F.col("embedding"), DIM, 8, seed=42).alias("bucket"),
    )
    def _max_bucket(df):
        return (
            df.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m")).first()["m"]
        )

    before = _max_bucket(b)
    assert before > 3 * MAX_BUCKET  # the skew is real before the guard
    after = _max_bucket(
        similarity.split_hot_buckets(b, DIM, MAX_BUCKET, seed=42, rounds=2)
    )
    # two refinement rounds add 16 independent sign-bits: the hot cluster
    # fragments to the configured bound (measured 92 -> 29 on this seed;
    # exact-duplicate rows could never separate, a documented residual)
    assert after <= MAX_BUCKET, (before, after)


def test_near_dup_recall_survives_hot_bucket_split(spark, skewed_vectors):
    """With the guard forced on (max_bucket far below the cluster size),
    every planted exact-duplicate pair is still recovered — the second
    seed pass covers split-apart pairs."""
    pairs = similarity.embedding_near_dup_pairs(
        skewed_vectors, dim=DIM, threshold=0.999, max_bucket=MAX_BUCKET
    )
    got = _pair_set(pairs)
    assert {(i, 10_000 + i) for i in range(5)} <= got


# ---------------------------------------------------------------------------
# AQE skew-join: the runtime guard for skew the static guards don't own
# ---------------------------------------------------------------------------


def test_aqe_skew_join_splits_hot_partition(spark):
    """Joins outside the banded operators rely on AQE's skew-join split
    (session.py enables adaptive execution engine-wide). Build a 90%-one-
    key fact joined sort-merge against a dim, with thresholds scaled down
    so local data looks like the production regime: the final adaptive
    plan must carry SortMergeJoin(skew=true) — the hot partition was
    split across tasks — and the result must equal the unsplit join."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def build():
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 300_000, 3).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        return (
            fact.join(dim, "k")
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("s"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = build()
        skewed = j.collect()
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "skew=true" in plan, "AQE did not split the hot partition"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert skewed == build().collect()  # split changes the plan, not the answer
