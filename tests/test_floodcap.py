"""Partial-agg flood-bucket cap (operators/floodcap.py).

The cap replaced the rank-window bucket caps in the three LSH
blockers (VERDICT r5 top item): `row_number over partitionBy(bucket)`
ships every member of a flooded bucket to one reducer before the cap
applies; the flood cap counts map-side and filters with a
deterministic hash-prefix sample, so no Window appears anywhere in
the near-dup plans.
"""

import pyspark.sql.functions as F
import pytest

from pdf_to_text_extraction_service_spark.operators.floodcap import (
    cap_flooded_buckets,
)


def test_under_cap_buckets_are_exact(spark):
    df = spark.createDataFrame(
        [(b, i) for b in range(3) for i in range(b + 2)],
        "bucket int, id long",
    )
    out = cap_flooded_buckets(df, ["bucket"], "id", max_bucket=4)
    assert sorted(out.collect()) == sorted(df.collect())


def test_flooded_bucket_sampled_deterministically(spark):
    rows = [(0, i) for i in range(1000)] + [(1, i) for i in range(5)]
    df = spark.createDataFrame(rows, "bucket int, id long")
    out1 = sorted(cap_flooded_buckets(df, ["bucket"], "id", 50).collect())
    out2 = sorted(cap_flooded_buckets(
        df.repartition(13), ["bucket"], "id", 50).collect())
    # deterministic across physical layouts
    assert out1 == out2
    kept0 = [r for r in out1 if r["bucket"] == 0]
    kept1 = [r for r in out1 if r["bucket"] == 1]
    # the small bucket is exact; the flood keeps ~max_bucket
    # (binomial n=1000 p=0.05 — 6 sigma ≈ ±41)
    assert len(kept1) == 5
    assert 10 <= len(kept0) <= 100
    # different seed → different sample (sanity that the seed is live)
    alt = cap_flooded_buckets(df, ["bucket"], "id", 50, seed=99)
    assert sorted(alt.collect()) != out1 or len(kept0) == 0


def test_floodcap_plan_is_partial_agg_no_window(spark):
    df = spark.range(10_000).select(
        (F.col("id") % 3).alias("bucket"), F.col("id"))
    out = cap_flooded_buckets(df, ["bucket"], "id", 16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert "Window" not in plan and "row_number" not in plan


def test_floodcap_rejects_bad_cap(spark):
    df = spark.range(3).select(F.lit(0).alias("b"), F.col("id"))
    with pytest.raises(ValueError):
        cap_flooded_buckets(df, ["b"], "id", 0)


def _executed_plans(spark, action) -> list[str]:
    """Physical plan descriptions of every SQL execution ``action``
    runs, read back from the SQL status store (kept with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    action()
    return [e.physicalPlanDescription() for e in executions()
            if e.executionId() > last]


@pytest.mark.parametrize("op", ["minhash", "simhash", "embedding"])
def test_neardup_plans_have_no_bucket_window(spark, op):
    """Each LSH blocker's executed plans must show the partial-agg
    flood count and no Window (the r5 skew-funnel fix).  The blockers
    checkpoint their pair output before returning, so the plans are
    the ones the call itself ran."""
    if op == "minhash":
        from pdf_to_text_extraction_service_spark.operators.neardup import (
            minhash_lsh_pairs,
        )
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon {i % 4}")
             for i in range(40)],
            "doc_id long, text string",
        )
        plans = _executed_plans(
            spark, lambda: minhash_lsh_pairs(docs, max_bucket=8))
    elif op == "simhash":
        from pdf_to_text_extraction_service_spark.operators.neardup import (
            simhash_pairs,
        )
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon {i % 4}")
             for i in range(40)],
            "doc_id long, text string",
        )
        plans = _executed_plans(
            spark, lambda: simhash_pairs(docs, max_bucket=8))
    else:
        from pdf_to_text_extraction_service_spark.operators.similarity import (
            embedding_neardup_pairs,
        )
        vecs = spark.createDataFrame(
            [(i, [float(i % 5), 1.0, 2.0]) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        plans = _executed_plans(
            spark, lambda: embedding_neardup_pairs(vecs, max_bucket=8))
    assert plans
    assert any("partial_count" in plan for plan in plans)
    for plan in plans:
        assert "Window" not in plan and "row_number" not in plan


def test_minhash_flood_bounded_and_exact_below_cap(spark):
    """10^5 byte-identical docs flood every band bucket; the flood
    cap keeps the candidate join bounded (~cap² pairs max) and the
    job completes without a single-reducer window stage."""
    from pdf_to_text_extraction_service_spark.operators.neardup import (
        minhash_lsh_pairs,
    )

    n = 100_000
    docs = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("hot boilerplate text repeated everywhere").alias("text"),
        )
        .repartition(16)
    )
    pairs = minhash_lsh_pairs(docs, max_bucket=64)
    cnt = pairs.count()
    # expected kept ≈ 64 per bucket → ≤ ~C(100,2) pairs, never ~n²/2
    assert 0 < cnt < 10_000
    # determinism across layouts
    cnt2 = minhash_lsh_pairs(docs.repartition(7), max_bucket=64).count()
    assert cnt == cnt2
