from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from zparse_spark.operators.stats import (
    approx_quantiles,
    column_profile,
    group_stats_grouping_sets,
    histogram,
    tdigest_quantiles,
)


def test_column_profile(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    prof = {r["column"]: r for r in column_profile(li, ["l_quantity", "l_returnflag"]).collect()}
    assert prof["l_quantity"]["n_rows"] == li.count()
    assert prof["l_quantity"]["null_rate"] == 0.0
    assert prof["l_quantity"]["min"] >= 0
    assert prof["l_quantity"]["max"] >= prof["l_quantity"]["min"]
    assert prof["l_returnflag"]["avg"] is None  # non-numeric


def test_histogram_covers_all_rows(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    h = histogram(li, "l_extendedprice", 900.0, 100900.0, 20)
    assert h.agg(F.sum("n")).collect()[0][0] == li.count()
    assert h.count() <= 20


def test_tdigest_matches_exact_quantiles(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    vals = np.array([r[0] for r in li.select("l_quantity").collect()], dtype=float)
    got = tdigest_quantiles(li, "l_quantity", [0.25, 0.5, 0.75, 0.99])
    for p, v in got.items():
        exact = np.quantile(vals, p)
        spread = vals.max() - vals.min()
        assert abs(v - exact) <= max(0.02 * spread, 1e-9), (p, v, exact)


def test_approx_quantiles_runs(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = approx_quantiles(li, "l_quantity", [0.5]).collect()[0]
    assert row["q50"] > 0


def test_grouping_sets_one_pass(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    g = group_stats_grouping_sets(li, ["l_returnflag", "l_linestatus"], "l_quantity")
    rows = g.collect()
    # cube of 2 dims → 4 grouping levels; the ALL/ALL row equals the table
    allall = [r for r in rows if r["l_returnflag"] == "ALL" and r["l_linestatus"] == "ALL"]
    assert len(allall) == 1 and allall[0]["n"] == li.count()


def test_column_profile_decimal_columns(spark):
    from decimal import Decimal

    from pyspark.sql import functions as F

    df = spark.range(10).select(
        (F.col("id") + 1).cast("decimal(10,2)").alias("amount"), F.col("id").alias("k")
    )
    prof = {r["column"]: r for r in column_profile(df, ["amount", "k"]).collect()}
    assert prof["amount"]["min"] == 1.0 and prof["amount"]["max"] == 10.0
    assert abs(prof["amount"]["avg"] - 5.5) < 1e-9


def test_tdigest_df_variant_is_lazy_and_composable(spark, sf_dir):
    """The (prob, value) DataFrame form must compose into larger plans
    (the dict API is now a collect of this frame): schema contract,
    row-per-prob, and join composability without an eager action."""
    from zparse_spark.operators.stats import tdigest_quantiles_df

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qdf = tdigest_quantiles_df(li, "l_quantity", [0.25, 0.5, 0.75])
    assert qdf.columns == ["prob", "value"]
    labeled = qdf.join(
        spark.range(1).select(F.lit("lineitem").alias("table")), how="cross"
    )
    rows = {r["prob"]: (r["value"], r["table"]) for r in labeled.collect()}
    assert set(rows) == {0.25, 0.5, 0.75}
    assert all(v > 0 and t == "lineitem" for v, t in rows.values())


def test_ks_drift_scores_hand_case(spark):
    """Two groups on a 10-bin [0,10) grid: A holds one value per bin,
    B piles everything into bin 0. Hand KS for both groups is 9/20
    (B's CDF is 1 everywhere vs global (11+b)/20; A's max gap is at
    bin 0). Also: identical groups drift to ~0."""
    from zparse_spark.operators.stats import ks_drift_scores

    rows = [("A", float(v)) for v in range(10)] + [("B", 0.0) for _ in range(10)]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {
        r["grp"]: r["ks"]
        for r in ks_drift_scores(df, "v", "grp", lo=0.0, hi=10.0, n_bins=10).collect()
    }
    assert abs(got["A"] - 9 / 20) < 1e-12
    assert abs(got["B"] - 9 / 20) < 1e-12

    same = spark.createDataFrame(
        [(g, float(v)) for g in ("X", "Y") for v in range(10)], "grp string, v double"
    )
    got2 = ks_drift_scores(same, "v", "grp", lo=0.0, hi=10.0, n_bins=10).collect()
    assert all(abs(r["ks"]) < 1e-12 for r in got2)

    # nulls are ignored, out-of-range values clamp into edge bins
    clamp = spark.createDataFrame(
        [("Z", -5.0), ("Z", 99.0), ("Z", None), ("W", 5.0)], "grp string, v double"
    )
    out = {
        r["grp"]: r["ks"]
        for r in ks_drift_scores(clamp, "v", "grp", lo=0.0, hi=10.0, n_bins=10).collect()
    }
    assert set(out) == {"Z", "W"} and 0.0 <= out["Z"] <= 1.0


def test_wasserstein_drift_hand_case_and_brute_force(spark):
    """X134. Hand case: A uniform over 10 bins, B all in bin 0 on a
    [0,10) 10-bin grid (step 1). Global CDF at bin b is (11+b)/20;
    B's CDF is 1 everywhere, A's is (b+1)/10. Hand EMD:
      emd(B) = sum_b (1 - (11+b)/20) = sum_{b=0..9} (9-b)/20 = 45/20 = 2.25
      emd(A) = sum_b |(b+1)/10 - (11+b)/20| = sum_b (9-b)/20 = 2.25
    (symmetric: each group is half the global mass). Identical groups
    drift to 0. Also cross-checked against the brute-force definition
    on random data, and the wide-small-shift case KS under-ranks."""
    from zparse_spark.operators.stats import (
        ks_drift_scores,
        wasserstein_drift_scores,
    )

    rows = [("A", float(v)) for v in range(10)] + [("B", 0.0) for _ in range(10)]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {
        r["grp"]: r["emd"]
        for r in wasserstein_drift_scores(
            df, "v", "grp", lo=0.0, hi=10.0, n_bins=10
        ).collect()
    }
    assert abs(got["A"] - 2.25) < 1e-6
    assert abs(got["B"] - 2.25) < 1e-6

    same = spark.createDataFrame(
        [(g, float(v)) for g in ("X", "Y") for v in range(10)], "grp string, v double"
    )
    assert all(
        abs(r["emd"]) < 1e-12
        for r in wasserstein_drift_scores(
            same, "v", "grp", lo=0.0, hi=10.0, n_bins=10
        ).collect()
    )

    # brute-force definition on random data: emd = step * sum_b |cdfg - cdfG|
    import random

    rng = random.Random(42)
    data = [
        (g, rng.uniform(0, 10) + (3.0 if g == "B" else 0.0))
        for g in ("A", "B")
        for _ in range(200)
    ]
    rdf = spark.createDataFrame(data, "grp string, v double")
    n_bins, lo, hi = 16, 0.0, 16.0
    step = (hi - lo) / n_bins

    def brute(grp):
        vals = [min(max(int((v - lo) / step), 0), n_bins - 1) for g, v in data if g == grp]
        allv = [min(max(int((v - lo) / step), 0), n_bins - 1) for _, v in data]
        tot, gtot = len(vals), len(allv)
        emd, cg, cG = 0.0, 0, 0
        for b in range(n_bins):
            cg += sum(1 for x in vals if x == b)
            cG += sum(1 for x in allv if x == b)
            emd += abs(cg / tot - cG / gtot)
        return emd * step

    got2 = {
        r["grp"]: r["emd"]
        for r in wasserstein_drift_scores(
            rdf, "v", "grp", lo=lo, hi=hi, n_bins=n_bins
        ).collect()
    }
    assert abs(got2["A"] - brute("A")) < 1e-5
    assert abs(got2["B"] - brute("B")) < 1e-5

    # the case EMD exists for: a wide small shift (every bin displaced a
    # little) carries more mass-distance than a narrow large one, while
    # KS scores the narrow spike higher.
    wide = [("W", float(b) + 0.0) for b in range(10) for _ in range(10)]
    shifted = [("S", min(float(b) + 3.0, 9.0)) for b in range(10) for _ in range(10)]
    spike = [("K", float(b)) for b in range(10) for _ in range(9)] + [
        ("K", 0.0) for _ in range(10)
    ]
    mdf = spark.createDataFrame(wide + shifted + spike, "grp string, v double")
    emds = {
        r["grp"]: r["emd"]
        for r in wasserstein_drift_scores(
            mdf, "v", "grp", lo=0.0, hi=10.0, n_bins=10
        ).collect()
    }
    kss = {
        r["grp"]: r["ks"]
        for r in ks_drift_scores(mdf, "v", "grp", lo=0.0, hi=10.0, n_bins=10).collect()
    }
    assert emds["S"] > emds["K"]  # shift moves more mass-distance
    assert kss["S"] > 0 and emds["W"] < emds["S"]


def test_cms_sketch_guarantee_and_merge_monoid(spark):
    """X135. (a) est >= exact for EVERY value (counters only add);
    (b) with width >= cardinality and no collisions est == exact;
    (c) merge monoid: sketch(A ∪ B) is cell-identical to
    merge(sketch(A), sketch(B)); (d) estimates off the merged sketch
    equal estimates off the one-shot sketch; (e) nulls are ignored."""
    from zparse_spark.operators.stats import cms_estimate, cms_merge, cms_sketch

    rows_a = [(f"u{i % 7}",) for i in range(70)] + [(None,)]
    rows_b = [(f"u{i % 13}",) for i in range(65)]
    a = spark.createDataFrame(rows_a, "v string")
    b = spark.createDataFrame(rows_b, "v string")
    both = a.unionByName(b)
    W, D = 8, 4  # 13 distinct values vs 8 buckets: collisions certain

    exact = {
        r["v"]: r["n"]
        for r in both.filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    sk = cms_sketch(both, "v", width=W, depth=D)
    est = {
        r["v"]: r["cms_est"]
        for r in cms_estimate(sk, both, "v", width=W, depth=D).collect()
    }
    assert set(est) == set(exact)
    assert all(est[v] >= exact[v] for v in exact)  # never underestimates
    assert sum(est.values()) > 0

    # wide sketch, tiny domain: exact (md5 buckets of 13 keys into 2^20
    # cells collide with prob ~8e-5 per pair per row — and the check is
    # deterministic, not probabilistic: these 13 literals don't collide)
    skw = cms_sketch(both, "v", width=1 << 20, depth=3)
    estw = {
        r["v"]: r["cms_est"]
        for r in cms_estimate(skw, both, "v", width=1 << 20, depth=3).collect()
    }
    assert estw == exact

    # monoid: cell-identical union
    merged = cms_merge(
        cms_sketch(a, "v", width=W, depth=D), cms_sketch(b, "v", width=W, depth=D)
    )
    cells_one = {(r["d"], r["bucket"]): r["n"] for r in sk.collect()}
    cells_two = {(r["d"], r["bucket"]): r["n"] for r in merged.collect()}
    assert cells_one == cells_two
    est_m = {
        r["v"]: r["cms_est"]
        for r in cms_estimate(merged, both, "v", width=W, depth=D).collect()
    }
    assert est_m == est


def test_heavy_hitters_exact_vs_full_groupby(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.stats import heavy_hitters

    # skewed domain: 'a' 60%, 'b' 25%, tail of 30 singletons + nulls
    rows = [("a",)] * 60 + [("b",)] * 25 + [(f"t{i}",) for i in range(30)] + [(None,)] * 5
    df = spark.createDataFrame(rows, "v string").repartition(7)
    k = 4  # threshold n/(k+1) = 115/5 = 23 -> {a, b}
    got = {r["v"]: r["freq"] for r in heavy_hitters(df, "v", k=k).collect()}
    exact = {
        r["v"]: r["n"]
        for r in df.filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * (k + 1) > 115)
        .collect()
    }
    assert got == exact == {"a": 60, "b": 25}


def test_heavy_hitters_superset_guarantee_adversarial(spark):
    """Uniform-ish domain right at the threshold boundary: output must
    equal the exact HAVING set for several k (no false negatives — the
    MG union-of-partitions superset guarantee)."""
    from pyspark.sql import functions as F

    from zparse_spark.operators.stats import heavy_hitters

    rows = [(f"v{i % 13}",) for i in range(997)]
    df = spark.createDataFrame(rows, "v string").repartition(5)
    n = 997
    for k in (3, 8, 12, 20):
        got = {r["v"]: r["freq"] for r in heavy_hitters(df, "v", k=k).collect()}
        exact = {
            r["v"]: r["n"]
            for r in df.groupBy("v")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") * (k + 1) > n)
            .collect()
        }
        assert got == exact, f"k={k}"


def test_iqr_outliers_hand_case(spark):
    """Quartiles of 1..11 are exact (Q1=3.5, Q3=8.5, IQR=5); with k=1
    the fences are [-1.5, 13.5] so planted 100/-50 are the only
    outliers — and an all-inlier group reports nulls, not rows lost."""
    from zparse_spark.operators.stats import iqr_outliers

    rows = [("a", float(v)) for v in range(1, 12)] + [("a", 100.0), ("a", -50.0)]
    rows += [("b", float(v)) for v in range(1, 12)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(4)
    out = {r["g"]: r for r in iqr_outliers(df, "v", ["g"], k=1.0).collect()}
    a = out["a"]
    # 13 values in group a: Q1 = v[3] = 3 (pos 0.25*12=3), Q3 = v[9] = 9
    assert (a["q1"], a["q3"]) == (3.0, 9.0)
    assert (a["lo_fence"], a["hi_fence"]) == (-3.0, 15.0)
    assert a["n_outliers"] == 2 and a["min_outlier"] == -50.0 and a["max_outlier"] == 100.0
    b = out["b"]
    assert b["n_outliers"] == 0 and b["min_outlier"] is None and b["max_outlier"] is None
    assert (b["q1"], b["q3"]) == (3.5, 8.5)


def test_iqr_outliers_ungrouped(spark):
    from zparse_spark.operators.stats import iqr_outliers

    df = spark.createDataFrame([(float(v),) for v in range(1, 101)] + [(1000.0,)], "v double")
    r = iqr_outliers(df, "v").collect()[0]
    assert r["n_outliers"] == 1 and r["max_outlier"] == 1000.0


def test_iqr_outliers_null_group_key(spark):
    from zparse_spark.operators.stats import iqr_outliers

    rows = [(None, float(v)) for v in range(1, 12)] + [(None, 500.0), ("a", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in iqr_outliers(df, "v", ["g"], k=1.0).collect()}
    assert None in out and out[None].n_outliers == 1 and out[None].max_outlier == 500.0
    assert out["a"].n_rows == 1


def test_heavy_hitters_batch_boundary_merge(spark):
    """Multi-batch pass 1 (arrow batch size forced tiny): the per-batch
    merge + truncate must preserve the superset guarantee when the heavy
    value's occurrences are concentrated in LATE batches (an early
    truncation that over-decremented would evict it for good). Output
    still equals the exact HAVING set."""
    from pyspark.sql import functions as F

    from zparse_spark.operators.stats import heavy_hitters

    # one partition -> one MG sketch crossing ~16 batches of 64 rows;
    # 'hot' is absent from the first half, then dominates
    rows = [(f"noise{i}",) for i in range(500)] + [("hot",)] * 400 + [("warm",)] * 124
    df = spark.createDataFrame(rows, "v string").coalesce(1)
    n = len(rows)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        for k in (2, 5):
            got = {r["v"]: r["freq"] for r in heavy_hitters(df, "v", k=k).collect()}
            exact = {
                r["v"]: r["n"]
                for r in df.groupBy("v")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") * (k + 1) > n)
                .collect()
            }
            assert got == exact, f"k={k}"
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_correlation_matrix_hand_case(spark):
    """y = 2x exactly -> corr 1; z anti-correlated with x -> corr -1;
    covariances match the numpy sample covariance."""
    import numpy as np

    from zparse_spark.operators.stats import correlation_matrix

    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    rows = [(x, 2 * x, 10 - x) for x in xs]
    df = spark.createDataFrame(rows, "x double, y double, z double").repartition(3)
    out = {(r["col_x"], r["col_y"]): r for r in correlation_matrix(df, ["x", "y", "z"]).collect()}
    assert set(out) == {("x", "y"), ("x", "z"), ("y", "z")}
    assert out[("x", "y")]["corr"] == 1.0
    assert out[("x", "z")]["corr"] == -1.0
    assert out[("y", "z")]["corr"] == -1.0
    assert out[("x", "y")]["cov"] == round(float(np.cov(xs, [2 * x for x in xs], ddof=1)[0][1]), 6)
    assert out[("x", "z")]["cov"] == -2.5


def test_correlation_matrix_single_plan_no_python(spark):
    """All pairs ride one aggregate: exactly one scan, no BatchEvalPython."""
    from zparse_spark.operators.stats import correlation_matrix

    df = spark.createDataFrame([(1.0, 2.0), (3.0, 1.0)], "a double, b double")
    plan = correlation_matrix(df, ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_robust_group_anomalies_planted_outlier(spark):
    """19 groups with means in [99, 117] + one planted at 5000: only the
    planted group flags; z is the Iglewicz-Hoaglin modified z-score."""
    from zparse_spark.operators.stats import robust_group_anomalies

    rows = []
    for g in range(19):
        for v in (g + 90.0, g + 100.0, g + 110.0):  # mean = g + 100
            rows.append((f"g{g:02d}", v))
    rows += [("planted", 5000.0)] * 3
    df = spark.createDataFrame(rows, "grp string, v double").repartition(4)
    out = {r["grp"]: r for r in robust_group_anomalies(df, "grp", "v").collect()}
    assert len(out) == 20
    assert out["planted"]["is_anomaly"] == 1 and out["planted"]["robust_z"] > 3.5
    assert all(out[f"g{g:02d}"]["is_anomaly"] == 0 for g in range(19))
    # interpolated median of the 20 means (100..118, 5000) = 109.5; MAD
    # interpolates the sorted |diff|s (planted's 4890.5 is the max) at 9.5
    med = 109.5
    diffs = sorted(abs(m - med) for m in [g + 100.0 for g in range(19)] + [5000.0])
    mad_val = (diffs[9] + diffs[10]) / 2.0
    assert mad_val == 5.0
    expect_z = round((5000.0 - med) / (1.4826 * mad_val), 6)
    assert out["planted"]["robust_z"] == expect_z


def test_robust_group_anomalies_zero_mad(spark):
    """All group means identical -> MAD 0 -> robust_z and is_anomaly NULL
    (no scale to judge against), never a divide-by-zero."""
    from zparse_spark.operators.stats import robust_group_anomalies

    rows = [("a", 5.0), ("a", 15.0), ("b", 10.0), ("c", 8.0), ("c", 12.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = robust_group_anomalies(df, "grp", "v").collect()
    assert all(r["robust_z"] is None and r["is_anomaly"] is None for r in out)


def test_drift_timeline_hand_case(spark):
    """Day 1: 3a+1b. Day 2: identical mix (psi ~ 0). Day 3: all b, and
    category a VANISHES — the dense grid keeps a at n=0 so its lost mass
    contributes drift instead of dropping out of the sum."""
    import math

    from zparse_spark.operators.stats import drift_timeline

    rows = (
        [("2024-01-01 05:00:00", "a")] * 3 + [("2024-01-01 06:00:00", "b")]
        + [("2024-01-02 05:00:00", "a")] * 3 + [("2024-01-02 23:00:00", "b")]
        + [("2024-01-03 01:00:00", "b")] * 4
    )
    df = spark.createDataFrame(rows, "ts string, cat string").select(
        F.col("ts").cast("timestamp").alias("ts"), "cat"
    )
    out = {str(r["bucket"]): r for r in drift_timeline(df, "ts", "cat").collect()}
    assert len(out) == 2  # first day has no predecessor
    d2 = out["2024-01-02 00:00:00"]
    assert (d2["n_rows"], d2["n_rows_prev"]) == (4, 4) and d2["psi"] == 0.0
    d3 = out["2024-01-03 00:00:00"]
    eps = 1e-6
    expect = 0.0
    for pc, pp in ((0.0 + eps, 0.75 + eps), (1.0 + eps, 0.25 + eps)):
        expect += (pc - pp) * math.log(pc / pp)
    assert d3["psi"] == round(expect, 6) and d3["psi"] > 1.0
    assert str(d3["prev_bucket"]) == "2024-01-02 00:00:00"


def test_drift_timeline_skips_missing_days(spark):
    """Comparison is vs the previous PRESENT bucket (monitoring
    semantics: vs the last snapshot), not calendar-adjacent days."""
    from zparse_spark.operators.stats import drift_timeline

    rows = [("2024-01-01 01:00:00", "a"), ("2024-01-09 01:00:00", "a")]
    df = spark.createDataFrame(rows, "ts string, cat string").select(
        F.col("ts").cast("timestamp").alias("ts"), "cat"
    )
    out = drift_timeline(df, "ts", "cat").collect()
    assert len(out) == 1
    assert str(out[0]["bucket"]) == "2024-01-09 00:00:00"
    assert str(out[0]["prev_bucket"]) == "2024-01-01 00:00:00"
    assert out[0]["psi"] == 0.0


def test_benford_deviation_conforming_and_degenerate(spark):
    """A log-uniform sample follows Benford closely (chi2 small); a
    constant column concentrates all mass on one digit (chi2 huge).
    Digit extraction is string-based: exact powers of ten classify
    correctly, |v|<1 and NULL rows are excluded, negatives use |v|."""
    import math

    from zparse_spark.operators.stats import benford_deviation

    # deterministic log-uniform: v = 10^(i/997 * 3) for i in 0..996
    rows = [(10.0 ** (3.0 * i / 997.0),) for i in range(997)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_deviation(df, "v").collect()}
    assert set(out) == set(range(1, 10))
    assert sum(r["n"] for r in out.values()) == 997
    for d in range(1, 10):
        assert abs(out[d]["p_obs"] - math.log10(1 + 1 / d)) < 0.01
        assert out[d]["p_benford"] == round(math.log10(1 + 1 / d), 6)
    assert out[1]["chi2_total"] < 20.0

    const = spark.createDataFrame([(900.0,)] * 50 + [(-0.5,), (None,)], "v double")
    out2 = {r["digit"]: r for r in benford_deviation(const, "v").collect()}
    assert out2[9]["n"] == 50 and out2[1]["n"] == 0  # |v|<1 and NULL excluded
    assert out2[9]["chi2_total"] > 500.0

    # exact powers of ten: 1000.0 must be digit 1, never digit 9/10 garbage
    pw = spark.createDataFrame([(1000.0,), (10.0,), (1.0,)], "v double")
    out3 = {r["digit"]: r["n"] for r in benford_deviation(pw, "v").collect()}
    assert out3[1] == 3


def test_mutual_information_hand_cases(spark):
    """Perfect dependency: y = f(x) -> MI = H(Y), U(Y|X) = 1.
    Independence: balanced grid -> MI = 0. Degenerate marginal
    (single x) -> U(X|Y) NULL, never divide-by-zero."""
    import math

    from zparse_spark.operators.stats import mutual_information

    # perfect: x in {a,b} each 4x, y = upper(x)
    perfect = spark.createDataFrame(
        [("a", "A")] * 4 + [("b", "B")] * 4, "x string, y string"
    ).repartition(3)
    r = mutual_information(perfect, "x", "y").collect()[0]
    assert r["n_rows"] == 8 and r["n_x"] == 2 and r["n_y"] == 2
    assert r["mi"] == round(math.log(2), 6) == r["h_x"] == r["h_y"]
    assert r["u_x_given_y"] == 1.0 and r["u_y_given_x"] == 1.0

    # independent: every (x, y) combination equally likely
    indep = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(3)], "x string, y string"
    )
    r2 = mutual_information(indep, "x", "y").collect()[0]
    assert r2["mi"] == 0.0 and r2["u_x_given_y"] == 0.0

    # degenerate: one x category, two y
    degen = spark.createDataFrame([("k", "p"), ("k", "q")], "x string, y string")
    r3 = mutual_information(degen, "x", "y").collect()[0]
    assert r3["h_x"] == 0.0 and r3["u_x_given_y"] is None
    assert r3["mi"] == 0.0 and r3["u_y_given_x"] == 0.0


def test_mutual_information_null_category(spark):
    """NULL x is a real category: y null exactly when x='m' gives the
    same MI as any perfect two-category dependency."""
    import math

    from zparse_spark.operators.stats import mutual_information

    df = spark.createDataFrame(
        [("m", None)] * 3 + [("n", "v")] * 3, "x string, y string"
    )
    r = mutual_information(df, "x", "y").collect()[0]
    assert r["mi"] == round(math.log(2), 6) and r["u_y_given_x"] == 1.0


def test_profile_snapshot_diff_statuses(spark):
    """All five statuses from hand-built snapshots, plus the zero-distinct
    ratio edge (old 0 vs new >0 is drift with NULL ratio)."""
    from zparse_spark.operators.stats import profile_snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "x", None), (2, "b", "x", None), (3, "c", "y", None)],
        "id long, keep string, cat string, allnull string",
    )
    new = spark.createDataFrame(
        [("1", "a", "x", "p", 10), ("2", "b", None, "q", 11), ("3", "c", None, "r", 12)],
        "id string, keep string, cat string, allnull string, fresh long",
    )
    got = {r["column"]: r for r in profile_snapshot_diff(old, new).collect()}
    assert got["id"]["status"] == "type_changed"
    assert got["keep"]["status"] == "stable"
    # cat: null rate 0 -> 2/3 (> 0.05) AND distinct 2 -> 1 (ratio 0.5 at the
    # boundary, not < 0.5) — the null-rate leg fires
    assert got["cat"]["status"] == "drifted"
    assert got["cat"]["null_rate_delta"] == round(2 / 3, 6)
    # allnull: distinct 0 -> 3 with no finite ratio is drift by definition
    assert got["allnull"]["status"] == "drifted" and got["allnull"]["distinct_ratio"] is None
    assert got["fresh"]["status"] == "added" and got["fresh"]["old_type"] is None
    # removed side: drop a column from new
    got2 = {r["column"]: r for r in profile_snapshot_diff(old, new.drop("cat")).collect()}
    assert got2["cat"]["status"] == "removed" and got2["cat"]["new_type"] is None
    # distinct-ratio leg alone: same null rates, cardinality collapses 3 -> 1
    old3 = spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
    new3 = spark.createDataFrame([("a",), ("a",), ("a",)], "v string")
    d3 = {r["column"]: r for r in profile_snapshot_diff(old3, new3).collect()}
    assert d3["v"]["status"] == "drifted" and d3["v"]["distinct_ratio"] == round(1 / 3, 6)


def test_zorder_value_matches_reference(spark):
    """Bit interleave vs a pure-python Morton reference, plus the hand
    case x=0b101, y=0b011 → 0b011011 = 27."""
    from zparse_spark.operators.layout import zorder_value

    def ref(x, y, bits):
        out = 0
        for b in range(bits):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    assert ref(5, 3, 3) == 27
    df = spark.range(200).selectExpr(
        "CAST(pmod(xxhash64(id, 1), 256) AS LONG) AS x",
        "CAST(pmod(xxhash64(id, 2), 256) AS LONG) AS y",
    )
    got = df.select("x", "y", zorder_value([F.col("x"), F.col("y")], bits=8).alias("z")).collect()
    assert all(r["z"] == ref(r["x"], r["y"], 8) for r in got)


def test_zorder_clustering_locality(spark):
    """The point of the layout: single-dimension clustering prunes only
    its own dimension (x-stripe → 1 partition, y-stripe → all 16); the
    z-curve prunes BOTH (≈4 each on the idealized 64×64/16-range model)
    and a 2-D box collapses to ~1 — observed via spark_partition_id."""
    from zparse_spark.operators.layout import cluster_by_zorder, zorder_value

    grid = spark.range(64 * 64).selectExpr("id % 64 AS x", "CAST(id / 64 AS LONG) AS y")
    z = cluster_by_zorder(grid, zorder_value([F.col("x"), F.col("y")], bits=6), n_ranges=16)
    xclustered = grid.repartitionByRange(16, "x")

    def parts_touched(df, pred):
        return (
            df.withColumn("_p", F.spark_partition_id())
            .filter(pred)
            .select("_p")
            .distinct()
            .count()
        )

    xstripe, ystripe = "x >= 8 AND x < 12", "y >= 40 AND y < 44"
    box = f"{xstripe} AND {ystripe}"
    # sampled range boundaries can split the ideal counts once; allow +2
    assert parts_touched(z, box) <= 3
    zx, zy = parts_touched(z, xstripe), parts_touched(z, ystripe)
    rx, ry = parts_touched(xclustered, xstripe), parts_touched(xclustered, ystripe)
    assert zx <= 6 and zy <= 6          # balanced pruning on both dims
    assert ry >= 12 and rx <= 2         # 1-D layout: all-or-nothing
    assert zx + zy < rx + ry


def test_rank_bucketize_contract(spark):
    from zparse_spark.operators.layout import rank_bucketize

    df = spark.range(1000).selectExpr("CAST(id * id AS DOUBLE) AS v").unionByName(
        spark.sql("SELECT CAST(NULL AS DOUBLE) AS v")
    )
    b = rank_bucketize(df, "v", bits=4)
    rows = df.select("v", b.alias("b")).collect()
    assert all(0 <= r["b"] < 16 for r in rows)
    # monotone in v; NULL lands in bucket 0
    nn = sorted((r["v"], r["b"]) for r in rows if r["v"] is not None)
    assert all(b1 <= b2 for (_, b1), (_, b2) in zip(nn, nn[1:]))
    assert [r["b"] for r in rows if r["v"] is None] == [0]
    # buckets are roughly equi-depth despite the quadratic skew
    from collections import Counter
    depth = Counter(r["b"] for r in rows if r["v"] is not None)
    assert max(depth.values()) < 3 * (1000 / 16)


def test_tdigest_grouped_rank_accuracy(spark):
    """Per-group digests: rank error within the t-digest bound on a
    skewed two-group fixture, NaN for the all-null group, one row per
    (group, prob)."""
    from zparse_spark.operators.stats import tdigest_quantiles_grouped

    df = spark.range(1, 2001).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
        "CASE WHEN id % 2 = 0 THEN CAST(id AS DOUBLE) ELSE CAST(id * id AS DOUBLE) END AS v",
    ).unionByName(
        spark.createDataFrame([("c", None)], "g string, v double")
    )
    probs = [0.1, 0.5, 0.9]
    td = tdigest_quantiles_grouped(df, "v", "g", probs)
    rows = td.collect()
    assert sorted((r["g"], r["prob"]) for r in rows) == sorted(
        (g, p) for g in ("a", "b", "c") for p in probs
    )
    import math

    # empty group: NaN survives Arrow as NaN or NULL depending on version —
    # either way the value is "undefined", never a number
    assert all(
        r["value"] is None or math.isnan(r["value"]) for r in rows if r["g"] == "c"
    )
    # rank gate per group (the guarantee the sketch carries)
    got = {(r["g"], r["prob"]): r["value"] for r in rows if r["g"] != "c"}
    data = {g: [] for g in ("a", "b")}
    for r in df.filter("g != 'c'").collect():
        data[r["g"]].append(r["v"])
    for (g, p), v in got.items():
        xs = sorted(data[g])
        rank = sum(1 for x in xs if x <= v) / len(xs)
        assert abs(rank - p) <= 0.02, (g, p, rank)


def test_inclusion_coefficient_hand_case(spark):
    from zparse_spark.operators.stats import inclusion_coefficient

    child = spark.createDataFrame(
        [(1,), (2,), (2,), (9,), (8,), (None,)], "k long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    r = inclusion_coefficient(child, "k", parent, "k").first()
    # distinct non-null child = {1,2,8,9}; matched = {1,2}
    assert (r["n_child_distinct"], r["n_matched"]) == (4, 2)
    assert r["inclusion"] == 0.5
    assert r["examples"] == ["8", "9"]
    # full inclusion
    r2 = inclusion_coefficient(parent, "k", parent, "k").first()
    assert r2["inclusion"] == 1.0 and r2["examples"] == []


def test_key_candidate_score_hand_case(spark):
    from zparse_spark.operators.stats import key_candidate_score

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, None), (2, None)],
        "k long, s string",
    )
    one = key_candidate_score(df, ["k"]).first()
    assert (one["n_rows"], one["n_distinct"], one["n_null_combos"]) == (5, 2, 0)
    assert one["uniqueness"] == 0.4
    two = key_candidate_score(df, ["k", "s"]).first()
    # distinct combos: (1,a),(1,b),(2,a),(2,NULL) -> 4; null combos: 2 rows
    assert (two["n_distinct"], two["n_null_combos"]) == (4, 2)
    assert two["uniqueness"] == 0.8


def test_clamp_outliers(spark):
    """Numeric repair: values clamp to the same fences iqr_outliers
    detects with; NULLs pass through; grouped fences independent; the
    flag marks exactly the clamped rows."""
    from zparse_spark.operators.stats import clamp_outliers, iqr_outliers

    rows = [("a", float(v)) for v in range(1, 12)] + [("a", 100.0), ("a", -50.0)]
    rows += [("b", float(v)) for v in range(1, 12)] + [("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = clamp_outliers(df, "v", ["g"], k=1.0).collect()
    fa = {r["g"]: r for r in iqr_outliers(df, "v", ["g"], k=1.0).collect()}
    for r in out:
        if r["v"] is None:
            assert r["v_clamped"] is None and r["v_was_clamped"] is False
            continue
        lo, hi = fa[r["g"]]["lo_fence"], fa[r["g"]]["hi_fence"]
        assert lo <= r["v_clamped"] <= hi
        assert r["v_was_clamped"] == (r["v"] < lo or r["v"] > hi)
    a100 = [r for r in out if r["g"] == "a" and r["v"] == 100.0][0]
    assert a100["v_clamped"] == fa["a"]["hi_fence"] and a100["v_was_clamped"]
    assert sum(r["v_was_clamped"] for r in out) == 2


def test_timeseries_anomalies_planted_spike(spark):
    import datetime as dt

    from zparse_spark.operators.stats import timeseries_anomalies

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # key 'a': constant 5/day for 7 days, then a 50-event spike on day 8
    for d in range(7):
        for _ in range(5):
            rows.append((eid, base + dt.timedelta(days=d), "a")); eid += 1
    for _ in range(50):
        rows.append((eid, base + dt.timedelta(days=7), "a")); eid += 1
    # key 'b': linear ramp 1..8 — never anomalous
    for d in range(8):
        for _ in range(d + 1):
            rows.append((eid, base + dt.timedelta(days=d), "b")); eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {
        (r.event_type, r.day): r
        for r in timeseries_anomalies(df, lookback_days=7, z_threshold=3.0).collect()
    }
    spike = out[("a", dt.date(2024, 3, 8))]
    # constant baseline -> zero variance -> NULL z even for the spike
    assert spike.z is None and spike.is_anomaly is None
    ramp = out[("b", dt.date(2024, 3, 8))]
    # baseline 1..7: mean 4, var_samp 28/6; z = (8-4)/sqrt(28/6)
    import math

    assert abs(ramp.z - round(4 / math.sqrt(28 / 6), 6)) < 1e-9
    assert ramp.is_anomaly is False
    # short history yields NULL z
    assert out[("a", dt.date(2024, 3, 4))].z is None


def test_timeseries_anomalies_silent_day_is_scored(spark):
    import datetime as dt

    from zparse_spark.operators.stats import timeseries_anomalies

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # 10/day for 7 days, then day 8 completely silent, day 9 back to 10
    for d in [0, 1, 2, 3, 4, 5, 6, 8]:
        for _ in range(10 + d % 2):  # 10/11 alternation -> nonzero variance
            rows.append((eid, base + dt.timedelta(days=d), "a")); eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r.day: r for r in timeseries_anomalies(df).collect()}
    silent = out[dt.date(2024, 3, 8)]
    assert silent.n == 0 and silent.is_anomaly is True and silent.z < -3


def test_volume_trend_exact_hand_case(spark):
    import datetime as dt

    from zparse_spark.operators.stats import volume_trend

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # key 'up': counts 1,2,3,4,5 over 5 days -> slope exactly 1.0,
    # mean 3 -> rel_slope = 1/3
    for d in range(5):
        for _ in range(d + 1):
            rows.append((eid, base + dt.timedelta(days=d), "up")); eid += 1
    # key 'gap': 10 on day 0 and day 4 only -> silent days count as 0
    for d in (0, 4):
        for _ in range(10):
            rows.append((eid, base + dt.timedelta(days=d), "gap")); eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r.event_type: r for r in volume_trend(df).collect()}
    up = out["up"]
    assert up.n_days == 5 and up.total == 15
    assert abs(up.slope_per_day - 1.0) < 1e-9
    assert abs(up.rel_slope - round(1.0 / 3.0, 6)) < 1e-9
    # gap: y = 10,0,0,0,10 -> Sxy = 0*10+4*10 = 40, Sx=10, Sy=20, Sxx=30
    # slope = (5*40 - 10*20)/(5*30 - 100) = 0/50 = 0
    assert out["gap"].slope_per_day == 0.0


def test_volume_trend_single_day_is_null(spark):
    import datetime as dt

    from zparse_spark.operators.stats import volume_trend

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 1), "a"), (2, dt.datetime(2024, 3, 1), "a")],
        "event_id long, ts timestamp, event_type string",
    )
    r = volume_trend(df).collect()[0]
    assert r.n_days == 1 and r.slope_per_day is None and r.rel_slope is None


def test_null_cooccurrence_hand_case(spark):
    from zparse_spark.operators.stats import null_cooccurrence

    # 8 rows: a null on {1,2,3,4}, b null on {3,4,5}, c never null
    rows = []
    for i in range(8):
        rows.append(
            (
                None if i in (1, 2, 3, 4) else float(i),
                None if i in (3, 4, 5) else str(i),
                i,
            )
        )
    df = spark.createDataFrame(rows, "a double, b string, c long")
    out = {(r.col_a, r.col_b): r for r in null_cooccurrence(df, ["a", "b", "c"]).collect()}
    ab = out[("a", "b")]
    assert (ab.n_null_a, ab.n_null_b, ab.n_both) == (4, 3, 2)
    assert abs(ab.jaccard - round(2 / 5, 6)) < 1e-9
    assert abs(ab.lift - round(2 * 8 / 12, 6)) < 1e-9
    ac = out[("a", "c")]
    # c never null: zero denominators yield NULL, never divide-by-zero
    assert ac.n_both == 0 and ac.jaccard is not None and ac.lift is None
    assert abs(ac.jaccard - 0.0) < 1e-9  # union is 4, intersection 0
    bc = out[("b", "c")]
    assert bc.n_null_b == 0 and bc.lift is None


def test_null_cooccurrence_single_exchange(spark):
    from zparse_spark.operators.stats import null_cooccurrence

    df = spark.createDataFrame([(1.0, "x", 1)] * 16, "a double, b string, c long")
    plan = (
        null_cooccurrence(df, ["a", "b", "c"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one global aggregate: the single-partition exchange only
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_file_sizing_plan(spark):
    from zparse_spark.operators.layout import file_sizing_plan

    from tests.conftest import make_docs

    # p0: two docs, 100+36 chars of text + 64/span overhead
    docs = make_docs(
        spark,
        [
            ("1", [("text", "x" * 100, None, 0), ("image", "", "m1", 200)], "p0"),
            ("2", [("text", "y" * 36, None, 0)], "p0"),
            ("3", None, "p1"),   # NULL spans: zero bytes, still planned
            ("4", [], "p1"),
        ],
    )
    out = {r.partition: r for r in file_sizing_plan(docs, target_mb=200 / (1024 * 1024)).collect()}
    p0 = out["p0"]
    # est = (100+64) + (0+64) + (36+64) = 328 -> ceil(328/200) = 2 files
    assert (p0.n_docs, p0.est_bytes, p0.recommended_files, p0.rows_per_file) == (2, 328, 2, 1)
    p1 = out["p1"]
    assert (p1.n_docs, p1.est_bytes, p1.recommended_files, p1.rows_per_file) == (2, 0, 1, 2)


def test_inter_arrival_stats_hand_case(spark):
    import datetime as dt

    from zparse_spark.operators.stats import inter_arrival_stats

    base = dt.datetime(2024, 3, 1)
    rows = []
    # user 1, type 'a': events at 0, 10, 30, 60 -> gaps 10, 20, 30
    for i, off in enumerate([0, 10, 30, 60]):
        rows.append((i, 1, base + dt.timedelta(seconds=off), "a"))
    # user 2, type 'a': events at 0, 5 -> gap 5 (cross-user gaps NOT mixed)
    rows.append((10, 2, base, "a"))
    rows.append((11, 2, base + dt.timedelta(seconds=5), "a"))
    # type 'b': single event per user -> no gaps, no output row
    rows.append((20, 1, base, "b"))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = {r.event_type: r for r in inter_arrival_stats(df).collect()}
    a = out["a"]
    # gaps multiset {10, 20, 30, 5}: q1 = 8.75, median = 15, q3 = 22.5
    assert a.n_gaps == 4
    assert abs(a.q1_s - 8.75) < 1e-9 and abs(a.median_s - 15.0) < 1e-9
    assert abs(a.q3_s - 22.5) < 1e-9
    assert "b" not in out


def test_inter_arrival_subsecond_gap_floors(spark):
    import datetime as dt

    from zparse_spark.operators.stats import inter_arrival_stats

    base = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [
            (1, 1, base, "a"),
            (2, 1, base + dt.timedelta(microseconds=1_999_999), "a"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    r = inter_arrival_stats(df).collect()[0]
    assert r.median_s == 1.0  # floor(1.999999), never round-to-2


def test_suggest_check_constraints(spark):
    from zparse_spark.operators.stats import suggest_check_constraints

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 12.0, "b"), (3, 14.0, "a"), (4, None, "a"),
         (5, 16.0, None), (6, 18.0, "b"), (7, 20.0, "a"), (8, 22.0, "b")],
        "id long, v double, cat string",
    )
    out = {
        (r.column, r.family): r
        for r in suggest_check_constraints(
            df, numeric_cols=["id", "v"], categorical_cols=["cat"], max_domain=5
        ).collect()
    }
    # id 1..8: q1=2.75, q3=6.25, iqr=3.5 -> fences -2.5 / 11.5
    rid = out[("id", "numeric_range")]
    assert rid.suggested_predicate == "id IS NULL OR id BETWEEN -2.5000 AND 11.5000"
    assert rid.n_support == 8 and rid.null_share == 0.0
    assert ("id", "not_null") in out  # fully observed -> enforceable
    # v has a null -> no not_null suggestion, null_share recorded
    assert ("v", "not_null") not in out
    assert out[("v", "numeric_range")].null_share == 0.125
    cat = out[("cat", "categorical_domain")]
    assert cat.suggested_predicate == "cat IS NULL OR cat IN ('a', 'b')"
    assert ("cat", "not_null") not in out
    # suggestions are VALID Spark SQL predicates and the observed data
    # passes its own suggestion (ANSI CHECK semantics: NULL passes)
    from pyspark.sql import functions as F

    for r in out.values():
        failed = df.filter(~F.coalesce(F.expr(r.suggested_predicate), F.lit(True)))
        assert failed.count() == 0, r.suggested_predicate


def test_suggest_check_constraints_high_cardinality_skipped(spark):
    from zparse_spark.operators.stats import suggest_check_constraints

    df = spark.createDataFrame([(i, str(i)) for i in range(50)], "id long, s string")
    fams = {
        (r.column, r.family)
        for r in suggest_check_constraints(
            df, numeric_cols=[], categorical_cols=["s"], max_domain=20
        ).collect()
    }
    assert ("s", "categorical_domain") not in fams  # never collects the domain


def test_cusum_matches_recursive_definition(spark):
    import datetime as dt

    from zparse_spark.operators.stats import cusum_shift_detection

    base = dt.datetime(2024, 3, 1)
    # stable 5/day for 10 days, then a sustained +4 shift for 10 days —
    # small enough that no single day trips a z-score
    counts = [5] * 10 + [9] * 10
    rows = []
    eid = 0
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(days=d), "a")); eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    slack, h = 1.0, 8.0
    out = {r.day: r for r in cusum_shift_detection(df, slack=slack, threshold=h).collect()}
    # recursive reference: c+_t = max(0, c+_{t-1} + n_t - mean - slack)
    mean = sum(counts) / len(counts)
    cu = cd = 0.0
    for d, n in enumerate(counts):
        cu = max(0.0, cu + n - mean - slack)
        cd = max(0.0, cd + mean - n - slack)
        got = out[dt.date(2024, 3, 1 + d)]
        assert abs(got.cusum_up - round(cu, 6)) < 1e-6, (d, got.cusum_up, cu)
        assert abs(got.cusum_down - round(cd, 6)) < 1e-6, (d, got.cusum_down, cd)
        assert got.alarm == (cu > h or cd > h)
    # the sustained shift alarms eventually; the stable prefix never does
    assert not out[dt.date(2024, 3, 5)].alarm
    assert out[dt.date(2024, 3, 20)].alarm


def test_column_category_profile_hand_case(spark):
    import math

    from zparse_spark.operators.stats import column_category_profile

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1 + [(None,)],
        "x string",
    )
    r = column_category_profile(df, ["x"]).collect()[0]
    assert (r.column, r.n, r.n_distinct) == ("x", 10, 3)
    assert r.gini_impurity == round(1 - (36 + 9 + 1) / 100, 9)
    want_h = round(
        math.log(10.0)
        - (round(6 * math.log(6.0), 6) + round(3 * math.log(3.0), 6) + 0.0) / 10,
        6,
    )
    assert r.entropy_nats == want_h
    # degenerate single-value column: zero gini, zero entropy
    one = spark.createDataFrame([("z",)] * 5, "x string")
    r1 = column_category_profile(one, ["x"]).collect()[0]
    assert r1.gini_impurity == 0.0 and r1.entropy_nats == 0.0


def test_sketch_merge_equals_oneshot_estimate(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.stats import (
        sketch_distinct_by_group,
        sketch_merge_estimate,
    )

    df = spark.createDataFrame(
        [(i % 7, f"v{i % 400}") for i in range(4000)], "g int, v string"
    )
    sk = sketch_distinct_by_group(df, "v", ["g"])
    merged = sketch_merge_estimate(sk).collect()[0].estimate
    oneshot = (
        df.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("v").cast("string"), F.lit(14))
            ).alias("e")
        ).collect()[0].e
    )
    # merging per-group sketches must equal sketching the rows once
    assert merged == oneshot
    # and the estimate is within HLL tolerance of the exact 400
    assert abs(merged - 400) / 400 < 0.05
    # exact leg rides along per group
    assert {r.g: r.n_exact for r in sk.collect()}[0] == len(
        {f"v{i % 400}" for i in range(4000) if i % 7 == 0}
    )


# ---------------------------------------------------------------------------
# equidepth_bins
# ---------------------------------------------------------------------------


def test_equidepth_matches_numpy_and_partitions_rows(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from zparse_spark.operators.stats import equidepth_bins

    vals = [float(x) for x in range(1, 101)] + [50.0] * 25  # tie block
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r.bin: r for r in equidepth_bins(df, "v", n_bins=4).collect()}
    bs = np.percentile(np.array(vals), [25, 50, 75], method="linear")
    want = {}
    for v in vals:
        b = int(sum(v > x for x in bs))
        want[b] = want.get(b, 0) + 1
    assert {b: r.n_rows for b, r in out.items()} == want
    assert sum(r.n_rows for r in out.values()) == len(vals)
    # boundary columns mirror the quantiles; open ends are NULL
    assert out[0].lo is None and out[3].hi is None
    assert out[1].lo == round(float(bs[0]), 6) and out[1].hi == round(float(bs[1]), 6)
    # right-closed: a value equal to a boundary sits in the LOWER bin
    assert out[max(want)].min_v > float(bs[-1])


def test_equidepth_grouped_and_validation(spark):
    import pytest
    from pyspark.sql import functions as F

    from zparse_spark.operators.stats import equidepth_bins

    df = spark.range(0, 300).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    out = equidepth_bins(df, "v", n_bins=5, group_cols=["g"])
    per = {(r.g, r.bin): r.n_rows for r in out.collect()}
    # each group has 100 evenly spread values -> 5 exact bins of 20
    assert all(n == 20 for n in per.values()) and len(per) == 15
    with pytest.raises(ValueError):
        equidepth_bins(df, "v", n_bins=1)


def test_length_histogram_buckets_and_edges(spark):
    import pytest

    from zparse_spark.operators.stats import length_histogram

    rows = [("", "x"), ("a", None), ("ab", "yy"), ("abc", "yy"),
            ("abcd", "zzzz"), ("a" * 17, "w")]
    df = spark.createDataFrame(rows, "s string, t string")
    out = {(r["column"], r.bucket): r for r in length_histogram(df, ["s", "t"]).collect()}
    # s: lens 0,1 -> bucket 0; 2,3 -> 1; 4 -> 2; 17 -> 4
    assert out[("s", 0)].n_rows == 2 and out[("s", 0)].min_len == 0
    assert out[("s", 1)].n_rows == 2 and out[("s", 1)].max_len == 3
    assert out[("s", 2)].n_rows == 1
    assert out[("s", 4)].min_len == 17  # power-of-two edge: 16 <= 17 < 32
    # t: NULL excluded; lens 1,1 -> bucket 0 (x, w); 2,2 -> 1; 4 -> 2
    assert out[("t", 0)].n_rows == 2
    assert out[("t", 1)].n_rows == 2
    assert out[("t", 2)].n_rows == 1
    assert sum(r.n_rows for k, r in out.items() if k[0] == "t") == 5
    with pytest.raises(ValueError):
        length_histogram(df, [])


def test_pattern_profile_signatures_and_truncation(spark):
    import pytest

    from zparse_spark.operators.stats import pattern_profile

    rows = [
        ("A-12", "x" * 40),
        ("B-34", "short"),
        ("C-56", None),
        ("dd",   "short"),
    ]
    df = spark.createDataFrame(rows, "id string, t string")
    out = {(r["column"], r.signature): r for r in pattern_profile(df, ["id", "t"]).collect()}
    assert out[("id", "A-99")].n_rows == 3
    assert out[("id", "A-99")].example == "A-12"  # min, not arbitrary
    assert out[("id", "aa")].n_rows == 1
    # >16 chars truncates with the marker; NULL is its own signature
    assert ("t", "a" * 16 + "…") in out
    assert out[("t", "<null>")].n_rows == 1
    assert out[("t", "aaaaa")].n_rows == 2
    # ranks: per-column, count desc then signature asc
    assert out[("id", "A-99")].rank == 1 and out[("t", "aaaaa")].rank == 1
    with pytest.raises(ValueError):
        pattern_profile(df, [])


def test_join_cardinality_profile_exact(spark):
    from zparse_spark.operators.stats import join_cardinality_profile

    l = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("c",), (None,)], "k string"
    )
    r = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("d",), (None,)], "k string"
    )
    rows = join_cardinality_profile(l, "k", r, "k", top_n=5).collect()
    by_key = {x.key: x for x in rows if x.kind == "key"}
    total = next(x for x in rows if x.kind == "total")
    # exact contributions: a -> 3*2=6, b -> 1*1=1; c/d unmatched; NULL never
    assert by_key["a"].n_pairs == 6 and by_key["a"].rank == 1
    assert by_key["b"].n_pairs == 1 and by_key["b"].rank == 2
    assert set(by_key) == {"a", "b"}
    assert total.n_pairs == 7  # == actual inner-join row count
    assert total.n_left == 2  # matched distinct keys
    actual = l.filter("k is not null").join(r, "k").count()
    assert total.n_pairs == actual


def test_sampled_audit_wilson_bounds(spark):
    import math

    import pytest

    from zparse_spark.operators.stats import sampled_audit

    rows = [(i, "p1" if i % 2 == 0 else "p2", i % 5 == 0) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id bigint, part string, bad boolean")
    out = {r.partition: r for r in sampled_audit(
        df, "part", F.col("bad"), fraction=1.0, key_col="doc_id"
    ).collect()}
    # fraction=1.0 keeps every row: exact counts, Wilson vs hand formula
    r = out["p1"]
    assert r.n_sampled == 200 and r.n_violations == 40
    p, n, z = 40 / 200, 200.0, 1.96
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert r.p_hat == round(p, 6)
    assert r.wilson_lo == round(max(0.0, center - half), 6)
    assert r.wilson_hi == round(min(1.0, center + half), 6)
    assert 0.0 <= r.wilson_lo < p < r.wilson_hi <= 1.0
    # deterministic subsample: same fraction+seed -> identical selection
    a = sampled_audit(df, "part", "bad", 0.3, key_col="doc_id", seed=1).collect()
    b = sampled_audit(df, "part", "bad", 0.3, key_col="doc_id", seed=1).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    assert sum(x.n_sampled for x in a) < 400
    with pytest.raises(ValueError):
        sampled_audit(df, "part", "bad", 0.0)


def test_k_anonymity_audit_hand_case(spark):
    """X137: classes below k flagged; classes meeting k but with a
    single sensitive value flagged for l-diversity; healthy classes
    absent; NULL QI values form their own class."""
    from zparse_spark.operators.stats import k_anonymity_audit

    rows = (
        # class (US, A): size 3 >= k, 2 sensitive values -> healthy
        [("US", "A", "x"), ("US", "A", "y"), ("US", "A", "x")]
        # class (US, B): size 1 < k -> flagged
        + [("US", "B", "x")]
        # class (DE, A): size 3 >= k but l == 1 -> flagged
        + [("DE", "A", "z")] * 3
        # class (NULL, A): size 1 -> flagged as its own class
        + [(None, "A", "x")]
    )
    df = spark.createDataFrame(rows, "nation string, seg string, s string")
    out = {
        (r["nation"], r["seg"]): (r["class_size"], r["l_diversity"])
        for r in k_anonymity_audit(df, ["nation", "seg"], k=3, sensitive="s").collect()
    }
    assert out == {
        ("US", "B"): (1, 1),
        ("DE", "A"): (3, 1),
        (None, "A"): (1, 1),
    }

    # without a sensitive column: only the size criterion applies
    out2 = {
        (r["nation"], r["seg"]): r["class_size"]
        for r in k_anonymity_audit(df, ["nation", "seg"], k=3).collect()
    }
    assert out2 == {("US", "B"): 1, (None, "A"): 1}


def test_profile_partials_merge_law(spark):
    """X140: finalize(merge(partials(A) ∪ partials(B))) equals the
    direct whole-table profile; merging any unit split gives the same
    answer; non-numeric columns carry NULL extrema/avg."""
    from zparse_spark.operators.stats import (
        column_profile_partials,
        merge_column_profile_partials,
    )

    rows = [
        ("u1", 10, "en"),
        ("u1", 20, None),
        ("u2", None, "de"),
        ("u2", 40, "de"),
        ("u3", 5, "fr"),
    ]
    df = spark.createDataFrame(rows, "unit string, n int, lang string")

    direct = merge_column_profile_partials(
        column_profile_partials(df.withColumn("one", F.lit("x")), ["n", "lang"], "one")
    )
    via_units = merge_column_profile_partials(
        column_profile_partials(df, ["n", "lang"], "unit")
    )
    d = {r["column"]: tuple(r)[1:] for r in direct.collect()}
    u = {r["column"]: tuple(r)[1:] for r in via_units.collect()}
    assert d == u
    assert u["n"] == (5, 4, 5.0, 40.0, 18.75, 0.2)
    assert u["lang"] == (5, 4, None, None, None, 0.2)

    # incremental: merge(old partials ∪ new unit's partials) == profile of grown table
    grown = df.unionByName(
        spark.createDataFrame([("u4", 100, "en")], "unit string, n int, lang string")
    )
    inc = merge_column_profile_partials(
        column_profile_partials(df, ["n", "lang"], "unit").unionByName(
            column_profile_partials(
                grown.filter(F.col("unit") == "u4"), ["n", "lang"], "unit"
            )
        )
    )
    full = merge_column_profile_partials(
        column_profile_partials(grown, ["n", "lang"], "unit")
    )
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))


def test_null_rate_drift_flags_and_degenerate(spark):
    """X145: a partition with inflated nulls flags, matching partitions
    don't; degenerate pooled rates (no nulls anywhere) flag any deviant
    partition with z NULL instead of dividing by zero."""
    from zparse_spark.operators.stats import null_rate_drift

    # one small poisoned partition among nine healthy big ones, so the
    # pooled rate stays near the healthy 10% and only 'a' deviates
    rows = [("a", 1 if i % 2 else None) for i in range(100)]  # 50% nulls
    for p in "bcdefghij":
        rows += [(p, 1 if i % 10 else None) for i in range(400)]  # 10%
    df = spark.createDataFrame(rows, "p string, v int")
    out = {r["partition"]: r for r in null_rate_drift(df, "v", "p", 4.0).collect()}
    assert "a" in out and out["a"]["z"] > 4.0
    assert all(p not in out for p in "bcdefghij")

    clean = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "p string, v int"
    )
    assert null_rate_drift(clean, "v", "p").collect() == []

    # degenerate pooled rate 0 stays 0 everywhere -> nothing flags, no crash
    one_null = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 1), ("b", 2)], "p string, v int"
    )
    got = {r["partition"]: r for r in null_rate_drift(one_null, "v", "p").collect()}
    # pooled = 0.5: both partitions deviate strongly but n is tiny; with
    # n_rows=2 z = +-2 < 4 -> empty at the default threshold
    assert got == {} or all(r["z"] is not None for r in got.values())


def test_chi2_independence_hand_case(spark):
    """2x2 hand case: o = [[10, 20], [20, 10]] -> chi2 = 20*... verified
    against the textbook formula including the zero-cell densification."""
    import math

    from zparse_spark.operators.stats import chi2_independence

    rows = (
        [("x", "u")] * 10 + [("x", "v")] * 20 + [("y", "u")] * 20 + [("y", "v")] * 10
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    out = chi2_independence(df, "a", "b").collect()[0]
    # margins 30/30, cols 30/30, n=60 -> every e = 15; chi2 = 4*(5^2/15)
    want_chi2 = 4 * 25 / 15
    want_g2 = 2 * (
        10 * math.log(10 / 15) + 20 * math.log(20 / 15) + 20 * math.log(20 / 15) + 10 * math.log(10 / 15)
    )
    assert out["n"] == 60 and out["r"] == 2 and out["c"] == 2 and out["dof"] == 1
    assert abs(out["chi2"] - round(want_chi2, 6)) < 1e-9
    assert abs(out["g2"] - round(want_g2, 6)) < 1e-9
    assert abs(out["cramers_v"] - round(math.sqrt(want_chi2 / 60), 6)) < 1e-9


def test_chi2_zero_cell_densified(spark):
    """A category pair never observed still contributes its expected
    count to chi2 (the full-grid contract)."""
    from zparse_spark.operators.stats import chi2_independence

    rows = [("x", "u")] * 5 + [("x", "v")] * 5 + [("y", "u")] * 5  # (y,v) absent
    df = spark.createDataFrame(rows, ["a", "b"])
    out = chi2_independence(df, "a", "b").collect()[0]
    # e(y,v) = 5*10/15... wait margins: ra(x)=10, ra(y)=5; cb(u)=10, cb(v)=5; n=15
    # e(y,v) = 5*5/15 = 5/3; zero cell contributes (0-5/3)^2/(5/3) = 5/3
    assert out["chi2"] > 0
    # grid has 4 cells, 3 observed; dof = 1
    assert out["dof"] == 1 and out["n"] == 15


def test_skipping_audit_range_beats_hash(spark):
    """A value-clustered layout prunes to ~1 file per probe; a key-hash
    layout touches many files for the same probes."""
    from zparse_spark.operators.layout import skipping_audit, zone_maps

    rows = [(i, float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "v"])
    ranged = df.select(F.lit("range").alias("layout"), (F.col("v") / 100).cast("int").alias("f"), "v")
    hashed = df.select(F.lit("hash").alias("layout"), (F.col("k") % 10).alias("f"), "v")
    zm = (
        ranged.unionByName(hashed)
        .groupBy("layout", "f")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"), F.count("v").alias("n_rows"))
        .withColumnRenamed("f", "file_id")
    )
    probes = df.filter(F.col("k") % 97 == 0).select(F.col("v").alias("p"))
    out = {r["layout"]: r for r in skipping_audit(zm, probes, layout_col="layout").collect()}
    assert out["range"]["avg_files_hit"] == 1.0
    # every hash file spans ~the whole range; only the extreme probe
    # (v=0, below 9 of the 10 file minima) prunes anything
    assert out["hash"]["avg_files_hit"] > 8.0
    assert out["range"]["n_files"] == 10 and out["hash"]["n_probes"] == 11
    # zone_maps helper agrees with the inline groupBy
    zh = zone_maps(hashed, "v", "f")
    assert zh.count() == 10


def test_compaction_bins_packing_properties(spark):
    """Scan packing: bins fill to the target in size-desc order, overflow
    bounded by one file, deterministic under repartition."""
    from zparse_spark.operators.layout import compaction_bins

    rows = [("p1", i, b) for i, b in enumerate([900, 800, 300, 200, 100, 50])] + [
        ("p2", 0, 5000)  # single jumbo file: its own over-target bin
    ]
    df = spark.createDataFrame(rows, ["partition", "file_id", "bytes"])
    out = {(r["partition"], r["bin"]): r for r in compaction_bins(df, 1000).collect()}
    # p1 order: 900,800,300,200,100,50; exclusive prefixes 0,900,1700,2000,2200,2300
    # bins: 0 -> [900,800(pre 900<1000? floor(900/1000)=0)], pre 1700 -> bin1...
    assert out[("p1", 0)]["n_files"] == 2 and out[("p1", 0)]["bin_bytes"] == 1700
    assert out[("p1", 1)]["bin_bytes"] == 300
    assert out[("p1", 2)]["n_files"] == 3 and out[("p1", 2)]["bin_bytes"] == 350
    assert out[("p2", 0)]["over_target"] is True and out[("p2", 0)]["n_files"] == 1
    rep = {
        (r["partition"], r["bin"]): r["bin_bytes"]
        for r in compaction_bins(df.repartition(5), 1000).collect()
    }
    assert rep == {k: v["bin_bytes"] for k, v in out.items()}


def test_contribution_analysis_hand_case(spark):
    """Hand case: type A rises 100->300, B falls 200->100; total
    300->400. A explains (300-100)/100 = 2.0 of the +100 move, B
    explains -1.0; shares and JS terms match the formula."""
    import math

    from zparse_spark.operators.stats import contribution_analysis

    rows = [
        ("A", 100.0, "ref"), ("B", 200.0, "ref"),
        ("A", 300.0, "cur"), ("B", 100.0, "cur"),
    ]
    df = spark.createDataFrame(rows, ["d", "m", "period"])
    out = {r["value"]: r for r in contribution_analysis(df, "d", "m").collect()}
    a, b = out["A"], out["B"]
    assert a["explains_frac"] == 2.0 and b["explains_frac"] == -1.0
    assert abs(a["share_ref"] - round(1 / 3, 6)) < 1e-9
    assert abs(a["share_cur"] - 0.75) < 1e-9
    p, q = 1 / 3, 0.75
    js = 0.5 * (p * math.log(2 * p / (p + q)) + q * math.log(2 * q / (p + q)))
    assert abs(a["js_surprise"] - round(js, 6)) < 1e-9


def test_contribution_analysis_birth_and_death(spark):
    """A value absent from one period stays in the ranking with measure
    0 there (births/deaths are the strongest root causes)."""
    from zparse_spark.operators.stats import contribution_analysis

    rows = [("A", 10.0, "ref"), ("A", 10.0, "cur"), ("NEW", 30.0, "cur"), ("OLD", 5.0, "ref")]
    df = spark.createDataFrame(rows, ["d", "m", "period"])
    out = {r["value"]: r for r in contribution_analysis(df, "d", "m").collect()}
    assert out["NEW"]["measure_ref"] == 0.0 and out["NEW"]["measure_cur"] == 30.0
    assert out["OLD"]["measure_cur"] == 0.0
    # totals 15 -> 40: NEW explains 30/25, OLD explains -5/25
    assert out["NEW"]["explains_frac"] == 1.2 and out["OLD"]["explains_frac"] == -0.2


def test_category_drift_births_deaths_and_null(spark):
    """Births/deaths only (shared categories not emitted); NULL is a
    trackable category like any other."""
    from zparse_spark.operators.stats import category_drift

    ref = spark.createDataFrame([("a",), ("a",), ("b",)], ["c"])
    cur = spark.createDataFrame([("a",), ("x",), ("x",), (None,)], ["c"])
    out = {(r["status"], r["value"]): (r["n"], r["share"]) for r in category_drift(cur, ref, "c").collect()}
    assert out[("new", "x")] == (2, 0.5)
    assert out[("new", None)] == (1, 0.25)
    assert out[("gone", "b")] == (1, round(1 / 3, 6))
    assert ("new", "a") not in out and ("gone", "a") not in out


def test_seasonal_volume_anomaly_flags_weekday_outlier(spark):
    """Three normal Mondays at ~100 plus one at 10: the crash Monday
    flags against its weekday baseline while an always-low Sunday does
    not (seasonality-aware, unlike a global z-score)."""
    import datetime as dt

    from zparse_spark.operators.stats import seasonal_volume_anomaly

    rows = []
    # Mondays 2024-01-01, 08, 15, 22: 100,100,100,10 events
    for d, n in [(1, 100), (8, 100), (15, 100), (22, 10)]:
        rows += [(dt.datetime(2024, 1, d, 12, 0),)] * n
    # Sundays 07, 14, 21: always 5 events (low but NORMAL for Sundays)
    for d in (7, 14, 21):
        rows += [(dt.datetime(2024, 1, d, 12, 0),)] * 5
    df = spark.createDataFrame(rows, ["ts"])
    out = {str(r["day"]): r for r in seasonal_volume_anomaly(df).collect()}
    assert out["2024-01-22"]["flagged"] is True
    assert out["2024-01-22"]["baseline_med"] == 100.0  # median of 100,100,100,10
    assert all(not out[f"2024-01-{d:02d}"]["flagged"] for d in (7, 14, 21))
    assert out["2024-01-01"]["flagged"] is False


def test_theil_sen_ignores_one_corrupted_day(spark):
    """A perfect +2/day ramp with ONE crashed day: least squares bends,
    the pairwise-slope median stays exactly 2.0 (the operator's reason
    to exist). Also checks the pair count over the densified grid."""
    import datetime as dt

    from zparse_spark.operators.stats import theil_sen_trend, volume_trend

    rows = []
    for i in range(11):  # days 0..10, count = 10 + 2*i, day 9 crashed to 0
        n = 0 if i == 9 else 10 + 2 * i
        rows += [(dt.datetime(2024, 3, 1 + i, 9, 0), "a")] * n
    df = spark.createDataFrame(rows, ["ts", "event_type"])
    ts = {r["event_type"]: r for r in theil_sen_trend(df).collect()}
    assert ts["a"]["n_pairs"] == 55  # C(11,2) on the dense grid
    assert ts["a"]["ts_slope_per_day"] == 2.0
    ls = {r["event_type"]: r for r in volume_trend(df).collect()}
    assert ls["a"]["slope_per_day"] != 2.0  # LS is dragged by the crash


def test_mahalanobis_flags_off_ridge_point(spark):
    """y = 10x cloud plus one point at (25, 10): both marginals are
    in-range (x mid-cloud, y equals the smallest cloud y) but the pair
    is far off the covariance ridge — only it crosses the threshold."""
    from zparse_spark.operators.stats import mahalanobis_outliers

    rows = [(float(x), 10.0 * x, "g") for x in range(1, 51)]
    rows.append((25.0, 10.0, "g"))
    df = spark.createDataFrame(rows, ["x", "y", "grp"])
    out = mahalanobis_outliers(df, "x", "y", "grp", threshold=13.8155).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_rows"] == 51
    assert r["n_outliers"] == 1
    assert r["max_md2"] > 13.8155


def test_mahalanobis_null_rows_and_singular_covariance(spark):
    """NULL coordinates are excluded from both the moments and the
    scan; a PERFECTLY collinear cloud (singular covariance — the case
    that used to divide by zero under ANSI) yields NULL md² for every
    row: zero outliers, NULL max, no crash."""
    from zparse_spark.operators.stats import mahalanobis_outliers

    rows = [(float(x), 2.0 * x + 1.0, "g") for x in range(1, 21)]
    rows += [(None, 5.0, "g"), (3.0, None, "g")]
    df = spark.createDataFrame(rows, "x double, y double, grp string")
    r = mahalanobis_outliers(df, "x", "y", "grp").collect()[0]
    assert r["n_rows"] == 20
    assert r["n_outliers"] == 0
    assert r["max_md2"] is None


def test_volume_acf_weekly_pattern_and_constant_series(spark):
    """A strictly 7-periodic daily series has lag-7 ACF exactly 1.0
    (every pair identical) and lag-1 well below it; a constant series
    has zero variance -> NULL ACF instead of a division blow-up."""
    import datetime as dt

    from zparse_spark.operators.stats import volume_acf

    rows = []
    d0 = dt.datetime(2024, 1, 1, 12, 0)
    for i in range(28):
        rows += [(d0 + dt.timedelta(days=i), "weekly")] * (10 + (i % 7) * 3)
        rows += [(d0 + dt.timedelta(days=i), "flat")] * 5
    df = spark.createDataFrame(rows, ["ts", "event_type"])
    out = {(r["event_type"], r["lag"]): r for r in volume_acf(df, lags=(1, 7)).collect()}
    assert out[("weekly", 7)]["acf"] == 1.0
    assert out[("weekly", 7)]["n_pairs"] == 21
    assert out[("weekly", 1)]["acf"] < 0.9
    assert out[("flat", 1)]["acf"] is None  # zero variance
    assert out[("flat", 7)]["acf"] is None


def test_impute_group_median_audit(spark):
    from zparse_spark.operators.stats import impute_group_median

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 9.0), ("a", None), ("a", None),
        ("b", None), ("b", None),
        ("c", 4.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in impute_group_median(df, "v", "g").collect()}
    assert out["a"]["n_rows"] == 5 and out["a"]["n_null"] == 2
    assert out["a"]["median_used"] == 2.0
    assert out["a"]["mean_before"] == 4.0  # (1+2+9)/3
    assert out["a"]["mean_after"] == 3.2  # (12 + 2*2)/5
    assert out["b"]["median_used"] is None and out["b"]["mean_after"] is None
    assert out["c"]["n_null"] == 0 and out["c"]["mean_after"] == 4.0


def test_expire_snapshots_plan_boundaries(spark):
    """Files whose newest reference is exactly cutoff-1 are
    reclaimable; exactly cutoff are retained; a file referenced only
    once is handled; n_refs and first/last are exact."""
    from zparse_spark.operators.layout import expire_snapshots_plan

    rows = [
        (0, "dead_old", 100), (1, "dead_old", 100), (4, "dead_old", 100),
        (4, "edge_dead", 200),
        (5, "edge_live", 300),
        (2, "spans", 400), (7, "spans", 400),
        (9, "young", 500),
    ]
    df = spark.createDataFrame(rows, "snapshot_id int, file_id string, bytes long")
    out = {r["file_id"]: r for r in expire_snapshots_plan(df, 5).collect()}
    assert out["dead_old"]["reclaimable"] is True
    assert out["dead_old"]["n_refs"] == 3 and out["dead_old"]["last_ref"] == 4
    assert out["edge_dead"]["reclaimable"] is True
    assert out["edge_live"]["reclaimable"] is False
    assert out["spans"]["reclaimable"] is False  # retained snapshot 7 still refs it
    assert out["young"]["reclaimable"] is False


def test_zone_overlap_depth_disjoint_and_nested(spark):
    """Disjoint ranges → depth 0; a file spanning everything overlaps
    all others; touching endpoints count as overlap (closed ranges —
    a point probe at the boundary hits both files)."""
    from zparse_spark.operators.layout import zone_overlap_depth

    rows = [
        ("L", 0, 0.0, 10.0, 5),
        ("L", 1, 10.0, 20.0, 5),   # touches file 0 at 10.0
        ("L", 2, 30.0, 40.0, 5),   # disjoint from 0 and 1
        ("L", 3, 0.0, 100.0, 5),   # spans everything
    ]
    df = spark.createDataFrame(rows, "layout string, file_id int, mn double, mx double, n_rows long")
    out = {r["file_id"]: r["overlap_depth"] for r in zone_overlap_depth(df).collect()}
    assert out == {0: 2, 1: 2, 2: 1, 3: 3}


def test_ewma_control_chart_exact_dyadic(spark):
    """Hand-checkable first days: day0 ewma = y0; day1 ewma =
    (2*y1 + y0)/3; day2 = (4*y2 + 2*y1 + y0)/7. A level shift at day 8
    shows a large positive residual that decays as the level absorbs."""
    import datetime as dt

    from zparse_spark.operators.stats import ewma_control_chart

    counts = [8, 12, 10, 10, 10, 10, 10, 10, 40, 40, 40]
    rows = []
    for i, n in enumerate(counts):
        rows += [(dt.datetime(2024, 5, 1 + i, 10, 0), "a")] * n
    df = spark.createDataFrame(rows, ["ts", "event_type"])
    out = {str(r["day"]): r for r in ewma_control_chart(df, window_days=30).collect()}
    assert out["2024-05-01"]["ewma"] == 8.0
    assert out["2024-05-01"]["residual"] is None
    assert out["2024-05-02"]["ewma"] == round((2 * 12 + 8) / 3, 6)
    assert out["2024-05-03"]["ewma"] == round((4 * 10 + 2 * 12 + 8) / 7, 6)
    shift_day, next_day = out["2024-05-09"], out["2024-05-10"]
    assert shift_day["residual"] > 29  # 40 vs ~10 baseline
    assert 0 < next_day["residual"] < shift_day["residual"]  # absorbing


def test_gini_concentration_extremes_and_ties(spark):
    """All-equal values → Gini 0; one entity holding everything →
    (n-1)/n; tie order cannot matter (equal values commute)."""
    from zparse_spark.operators.stats import gini_concentration

    rows = (
        [("eq", 100)] * 4
        + [("conc", 0), ("conc", 0), ("conc", 0), ("conc", 1000)]
        + [("single", 7)]
    )
    df = spark.createDataFrame(rows, "g string, cents long")
    out = {r["g"]: r for r in gini_concentration(df, "cents", "g").collect()}
    assert out["eq"]["gini"] == 0.0
    assert out["conc"]["gini"] == 0.75  # (n-1)/n with n=4
    assert out["single"]["gini"] is None  # n=1: undefined, not a crash


def test_simpson_audit_detects_planted_paradox(spark):
    """Textbook Simpson construction: within each of two groups y falls
    as x rises (r_group < 0), but group B sits at both higher x AND
    higher y, so the pooled correlation is positive — every group must
    flag sign_flip. Degenerate group (zero x-variance) gets NULL r and
    NULL flag, never an error."""
    from zparse_spark.operators.stats import simpson_audit

    rows = (
        # group A: x in 0..9, y = 100 - 5x  (falling)
        [("A", x, 100 - 5 * x) for x in range(10)]
        # group B: x in 100..109, y = 1000 - 5*(x-100)  (falling, but
        # far above/right of A -> pooled slope is positive)
        + [("B", 100 + x, 1000 - 5 * x) for x in range(10)]
        + [("C", 5, 17), ("C", 5, 23)]  # zero x-variance
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: r for r in simpson_audit(df, "x", "y", "g").collect()}
    assert out["A"]["r_group"] == -1.0 and out["B"]["r_group"] == -1.0
    assert out["A"]["r_pooled"] > 0.9
    assert out["A"]["sign_flip"] is True and out["B"]["sign_flip"] is True
    assert out["C"]["r_group"] is None and out["C"]["sign_flip"] is None


def test_simpson_audit_moments_exact_at_cents_scale(spark):
    """The decimal(38,0) moment path: 100k-cent values whose squared
    sums overflow BIGINT must still produce a finite 6dp r (regression
    for the long-overflow first cut)."""
    from zparse_spark.operators.stats import simpson_audit

    n = 500
    rows = [("g", i, 10_000_000 + 7 * i) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = simpson_audit(df, "y", "y", "g").collect()[0]
    assert out["r_group"] == 1.0  # perfectly self-correlated, exactly


def test_magnitude_profile_flags_units_mixup(spark):
    """A 50/50 dollars-vs-cents mixture (3 decades apart) flags; a
    clean single-decade group does not; sub-unit values fold to decade
    -1; zeros/NULLs are excluded from the mass."""
    from zparse_spark.operators.stats import magnitude_profile

    rows = (
        [("mixed", 500.0)] * 5 + [("mixed", 500_000.0)] * 5
        + [("clean", 420.0)] * 9 + [("clean", 980.0)]
        + [("tiny", 0.25)] * 3 + [("tiny", 2.5)]
        + [("clean", 0.0), ("clean", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in magnitude_profile(df, "v", "g").collect()}
    m = out["mixed"]
    assert m["split_flag"] is True
    assert {m["top_decade"], m["second_decade"]} == {2, 5}
    assert m["top_share"] == 0.5 and m["second_share"] == 0.5
    c = out["clean"]
    assert c["split_flag"] is False and c["n_values"] == 10  # 0/NULL excluded
    t = out["tiny"]
    assert t["top_decade"] == -1 and t["split_flag"] is False


def test_mwu_drift_hand_cases(spark):
    """Exact hand cases on a 4-bin grid: complete separation gives
    r = ±1 with U at its extremes; a fully-tied table has zero
    tie-corrected variance -> z NULL (never a divide blow-up)."""
    from zparse_spark.operators.stats import mwu_drift_scores

    sep = spark.createDataFrame(
        [("A", 0.5), ("A", 1.5), ("B", 2.5), ("B", 3.5)],
        "g string, v double",
    )
    out = {r["g"]: r for r in mwu_drift_scores(sep, "v", "g", 0.0, 4.0, 4).collect()}
    assert int(out["A"]["two_u"]) == 0 and out["A"]["r_rank_biserial"] == -1.0
    assert int(out["B"]["two_u"]) == 8 and out["B"]["r_rank_biserial"] == 1.0
    assert out["A"]["z"] < 0 < out["B"]["z"]

    tied = spark.createDataFrame(
        [("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 1.0)],
        "g string, v double",
    )
    t = {r["g"]: r for r in mwu_drift_scores(tied, "v", "g", 0.0, 4.0, 4).collect()}
    assert int(t["A"]["two_u"]) == 4  # U = nA*nB/2: pure midrank ties
    assert t["A"]["r_rank_biserial"] == 0.0 and t["A"]["z"] is None


def test_median_ci_hand_case(spark):
    """n=25 values 1..25: median 13; rank convention gives
    l = floor(12.5 - 4.9) = 7, u = ceil(13.5 + 4.9) = 19 -> the CI is
    the 7th/19th order stats = 7 and 19 exactly (values from the
    data). Singleton group -> NULL bounds, median still emitted."""
    from zparse_spark.operators.stats import median_ci

    rows = [("g", float(i)) for i in range(1, 26)] + [("s", 42.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in median_ci(df, "v", "g").collect()}
    g = out["g"]
    assert g["median"] == 13.0 and g["ci_lo"] == 7.0 and g["ci_hi"] == 19.0
    s = out["s"]
    assert s["median"] == 42.0 and s["ci_lo"] is None and s["ci_hi"] is None


def test_changepoint_day_localizes_planted_shift(spark):
    """20 days at 10/day, then 20 at 30/day: the argmax split must be
    day 20 exactly (the regime edge), with the SSE reduction equal to
    the closed form n_l*n_r/n*(mean_r-mean_l)^2 = 10*20*20/40 = 4000.
    A short series (< 3 days) emits nothing."""
    import datetime

    from zparse_spark.operators.stats import changepoint_day

    rows = []
    for d in range(40):
        per = 10 if d < 20 else 30
        for k in range(per):
            rows.append(("g", datetime.datetime(2024, 3, 1 + d % 28, k % 24, 0, 0)
                         + datetime.timedelta(days=28 * (d // 28))))
    rows += [("tiny", datetime.datetime(2024, 3, 1)), ("tiny", datetime.datetime(2024, 3, 2))]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r["g"]: r for r in changepoint_day(df, "ts", "g").collect()}
    assert out["g"]["change_day"] == datetime.date(2024, 3, 20)
    assert out["g"]["sse_reduction"] == 4000.0
    assert "tiny" not in out
