"""Mergeable-sketch quality gates (operators/sketches.py).

The registry entries `sketch_distinct_rollup` and `sketch_quantiles` are
oracle-verified only in the exact regime (DataSketches state has no SQL
twin), so these tests cover the rest: merge-identity (lossless union) and
bounded relative error vs the exact answer in the approx regime (accuracy
< group size).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.sketches import (
    approx_quantiles_per_group,
    distinct_count_rollup,
    hll_rollup,
    hll_sketch_table,
    sketch_rse,
)


@pytest.fixture(scope="module")
def events(spark):
    # 3 groups × 40k rows; ndv per group ~12k — deep into HLL's estimating
    # regime (sparse-mode exactness ends around 2^lgk/4)
    df = spark.range(120_000).select(
        (F.col("id") % 3).alias("grp"),
        (F.col("id") % 7).alias("day"),
        F.xxhash64(F.col("id") % 36_041).alias("user"),
    )
    df.cache().count()
    yield df
    df.unpersist()


def test_hll_merge_identity(events):
    """Union of daily sketches must estimate EXACTLY what a direct sketch
    over the same rows estimates — HLL merge is lossless, not just close."""
    direct = {
        r["grp"]: r["ndv_estimate"]
        for r in hll_rollup(
            hll_sketch_table(events, ["grp"], "user"), ["grp"]
        ).collect()
    }
    merged = {
        r["grp"]: r["ndv_estimate"]
        for r in distinct_count_rollup(
            events, ["grp", "day"], ["grp"], "user"
        ).collect()
    }
    assert merged == direct


def test_hll_error_bound(events):
    exact = {
        r["grp"]: r["ndv"]
        for r in events.groupBy("grp")
        .agg(F.countDistinct("user").alias("ndv"))
        .collect()
    }
    est = {
        r["grp"]: r["ndv_estimate"]
        for r in distinct_count_rollup(
            events, ["grp", "day"], ["grp"], "user", lgk=12
        ).collect()
    }
    bound = 5 * sketch_rse(12)  # 5σ ≈ 8% at lgk=12
    for g, ndv in exact.items():
        rel = abs(est[g] - ndv) / ndv
        assert rel <= bound, f"group {g}: est {est[g]} vs exact {ndv} ({rel:.3f})"


def test_coarse_must_refine_fine():
    # the validation needs no Spark session
    with pytest.raises(ValueError, match="not in fine_cols"):
        distinct_count_rollup(None, ["a"], ["a", "b"], "v")


def test_quantile_rank_error_bound(spark):
    """GK sketch at accuracy A on n rows: rank error ≤ n/A. With values
    0..n-1 rank error equals value error, so the bound is directly
    checkable."""
    n, acc = 10_000, 100
    df = spark.range(n).select(F.lit(1).alias("g"), F.col("id").alias("v"))
    row = approx_quantiles_per_group(
        df, ["g"], "v", [0.25, 0.5, 0.75], accuracy=acc
    ).first()
    for p, got in zip([0.25, 0.5, 0.75], row["quantiles"]):
        true_rank = p * n
        assert abs(got - true_rank) <= n / acc + 1, (
            f"p={p}: got {got}, true {true_rank}"
        )


def test_quantile_exact_regime(spark):
    """accuracy ≥ n ⇒ rank error 0: the sketch returns exact discrete
    quantiles (the regime the driver's oracle gate runs in)."""
    n = 1_000
    df = spark.range(n).select((F.col("id") % 2).alias("g"), F.col("id").alias("v"))
    rows = approx_quantiles_per_group(
        df, ["g"], "v", [0.5], accuracy=10_000
    ).collect()
    for r in rows:
        vals = sorted(
            x["v"] for x in df.where(F.col("g") == r["g"]).select("v").collect()
        )
        assert r["quantiles"][0] in vals
        rank = vals.index(r["quantiles"][0])
        assert abs(rank - 0.5 * len(vals)) <= 1
