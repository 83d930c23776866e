"""Round-15 pins: the X362 O(1)-driver sigma machinery (round-14
verdict "What's wrong #1"), the bounded_distinct guard, and the two
round-14 advisory fixes (n>=3 ngram slice, haar pmod for pre-1970
buckets). DuckDB oracle parity for the same queries still runs in
tests/test_llm_operators.py at both SFs."""
import datetime
import math

import pytest

from pyspark.sql import functions as F


# ------------------------------------------------------------ _ad_g / _harmonic
def test_harmonic_exact_asymptotic_boundary():
    """Euler–Maclaurin agrees with the exact partial sum to >=13
    significant digits straddling the switch point."""
    from swivel_spark_prep_spark.operators.evalmetrics import (
        _HARMONIC_EXACT_MAX,
        _harmonic,
    )

    for m in (_HARMONIC_EXACT_MAX, _HARMONIC_EXACT_MAX + 1, 500, 10_000):
        exact = sum(1.0 / i for i in range(1, m + 1))
        assert abs(_harmonic(m) - exact) / exact < 1e-13


def test_ad_g_exact_vs_distributed_boundary(spark):
    """The driver-exact running-sum path (N <= 1e4) and the distributed
    spark.range aggregate agree to >=10 significant digits at the
    boundary — the round-14 verdict's required agreement pin."""
    from swivel_spark_prep_spark.operators import evalmetrics as em

    n = em._AD_G_EXACT_MAX  # exact path at n, distributed just above
    g_exact = em._ad_g(spark, n)
    # force the distributed path at the SAME n by lowering the switch
    old = em._AD_G_EXACT_MAX
    try:
        em._AD_G_EXACT_MAX = n - 1
        g_dist = em._ad_g(spark, n)
    finally:
        em._AD_G_EXACT_MAX = old
    assert abs(g_dist - g_exact) / abs(g_exact) < 1e-10
    # and g converges toward pi^2/6 from below as N grows (sanity)
    assert 1.0 < g_exact < math.pi ** 2 / 6


def test_ad_ksample_large_n_uses_distributed_sigma(spark):
    """Above the threshold the sigma path allocates nothing O(N) on the
    driver; the statistic still matches a driver-exact replay."""
    from swivel_spark_prep_spark.operators import evalmetrics as em

    n_side = 6000  # N = 12000 > _AD_G_EXACT_MAX -> distributed g
    rows = [("a", float(i % 97)) for i in range(n_side)] + [
        ("b", float((i * 7) % 101)) for i in range(n_side)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    r = em.ad_ksample(df, "x", "g").collect()[0]
    assert r["n"] == 2 * n_side and r["sigma"] is not None
    # replay sigma with the exact O(N) reference arithmetic
    har = [0.0] * (r["n"] + 1)
    for i in range(1, r["n"] + 1):
        har[i] = har[i - 1] + 1.0 / i
    h = har[r["n"] - 1]
    g = sum(
        (har[r["n"] - 1] - har[r["n"] - j]) / j for j in range(2, r["n"])
    )
    k, nn, hh = 2, r["n"], 1.0 / n_side + 1.0 / n_side
    a = (4 * g - 6) * (k - 1) + (10 - 6 * g) * hh
    b = (2 * g - 4) * k * k + 8 * h * k + (2 * g - 14 * h - 4) * hh \
        - 8 * h + 4 * g - 6
    c = (6 * h + 2 * g - 2) * k * k + (4 * h - 4 * g + 6) * k \
        + (2 * h - 6) * hh + 4 * h
    d = (2 * h + 6) * k * k - 4 * h * k
    var = (a * nn**3 + b * nn**2 + c * nn + d) / (
        (nn - 1) * (nn - 2) * (nn - 3)
    )
    assert abs(r["sigma"] - math.sqrt(var)) < 5e-7  # output rounds at 6dp


def test_ad_ksample_degenerate_n_yields_null_sigma(spark):
    """N <= 3 degenerates the variance denominator — NULL sigma/t like
    every sibling test, never ZeroDivisionError (round-14 advisory)."""
    from swivel_spark_prep_spark.operators.evalmetrics import ad_ksample

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "g string, x double"
    )
    r = ad_ksample(df, "x", "g").collect()[0]
    assert r["n"] == 2 and r["sigma"] is None and r["t_stat"] is None


# ------------------------------------------------------- bounded_distinct
def test_bounded_distinct_guard(spark):
    from swivel_spark_prep_spark.cache import bounded_distinct

    df = spark.range(500).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    assert sorted(bounded_distinct(df, "g", cap=10)) == list(range(7))
    with pytest.raises(ValueError, match="exceeds 50 distinct"):
        bounded_distinct(df, "v", cap=50)


def test_ad_ksample_unbounded_group_column_raises(spark):
    """The k-bounded contract is now machine-enforced: a value column
    miscalled as the group column raises instead of flooding the
    driver (round-14 verdict "What's wrong #2")."""
    from swivel_spark_prep_spark.operators.evalmetrics import ad_ksample

    df = spark.range(5000).select(
        F.col("id").cast("string").alias("g"),
        (F.col("id") % 10).cast("double").alias("x"),
    )
    with pytest.raises(ValueError, match="bounded_distinct"):
        ad_ksample(df, "x", "g")


# ---------------------------------------------- cross_source_ngram_overlap
def test_ngram_overlap_trigram_short_docs_safe(spark):
    """n >= 3 with documents shorter than n-1 tokens used to hand
    slice() a negative length (runtime crash); now those docs simply
    contribute zero n-grams, matching the DuckDB twin's empty-safe
    range (round-14 advisory)."""
    from swivel_spark_prep_spark.operators.textstats import (
        cross_source_ngram_overlap,
    )

    df = spark.createDataFrame(
        [
            ("s1", "a"),                # 1 token < n-1: zero trigrams
            ("s1", "a b"),              # 2 tokens: zero trigrams
            ("s1", "a b c d"),          # trigrams: "a b c", "b c d"
            ("s2", "a b c"),            # trigram: "a b c" (shared)
        ],
        "source string, text string",
    )
    out = {
        r["source"]: r
        for r in cross_source_ngram_overlap(df, n=3).collect()
    }
    assert out["s1"]["n_grams"] == 2 and out["s1"]["shared_grams"] == 1
    assert out["s2"]["n_grams"] == 1 and out["s2"]["shared_grams"] == 1


# ---------------------------------------------------------- haar_energy
def test_haar_energy_pre_1970_sign_not_degenerate(spark):
    """Negative bucket indices (pre-1970 timestamps): pmod keeps the
    Haar half-block sign alternating, so equal counts in sibling
    half-blocks cancel exactly (the buggy dividend-sign % made sign
    constantly -1 and d collapsed to a block sum; round-14 advisory)."""
    from swivel_spark_prep_spark.operators.timeseries import haar_energy

    b = datetime.datetime(1969, 12, 31, 0, 0)  # buckets t = -24 … -1
    rows = []
    eid = 0
    for t in range(24):
        for _ in range(5):  # constant rate: every detail coeff cancels
            rows.append((b + datetime.timedelta(hours=t, minutes=1), eid))
            eid += 1
    df = spark.createDataFrame(rows, "ts timestamp, id long")
    out = {r["level"]: r["energy"] for r in haar_energy(df, "ts", levels=3).collect()}
    assert out[1] == 0.0 and out[2] == 0.0
    # and a planted period-2 alternation shows up at level 1 only
    rows2 = []
    for t in range(24):
        for _ in range(5 + 3 * (t % 2)):
            rows2.append((b + datetime.timedelta(hours=t, minutes=1), eid))
            eid += 1
    df2 = spark.createDataFrame(rows2, "ts timestamp, id long")
    out2 = {r["level"]: r["energy"] for r in haar_energy(df2, "ts", levels=3).collect()}
    assert out2[1] > 0 and out2[1] > 10 * out2[2]


# ------------------------------------------------------ jonckheere_terpstra
def _jt_brute(samples):
    """Brute-force JT + tie-corrected moments (Hollander-Wolfe)."""
    import collections

    jt = 0.0
    for a in range(len(samples)):
        for b in range(a + 1, len(samples)):
            for x in samples[a]:
                for y in samples[b]:
                    jt += 1.0 if x < y else (0.5 if x == y else 0.0)
    ns = [len(s) for s in samples]
    n = sum(ns)
    pooled = [x for s in samples for x in s]
    ties = collections.Counter(pooled).values()
    mean = (n * n - sum(v * v for v in ns)) / 4.0
    a_p = (n * (n - 1) * (2 * n + 5)
           - sum(v * (v - 1) * (2 * v + 5) for v in ns)
           - sum(t * (t - 1) * (2 * t + 5) for t in ties))
    b_p = (sum(v * (v - 1) * (v - 2) for v in ns)
           * sum(t * (t - 1) * (t - 2) for t in ties))
    c_p = (sum(v * (v - 1) for v in ns)
           * sum(t * (t - 1) for t in ties))
    var = (a_p / 72.0 + b_p / (36.0 * n * (n - 1) * (n - 2))
           + c_p / (8.0 * n * (n - 1)))
    return jt, mean, var


def test_jonckheere_terpstra_brute_force_and_direction(spark):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        jonckheere_terpstra,
    )

    # tied, interleaved samples — exercises the tie corrections
    s = [[1.0, 3.0, 3.0, 5.0], [2.0, 3.0, 6.0, 6.0], [4.0, 6.0, 7.0, 7.0]]
    rows = [(f"g{i}", v) for i, smp in enumerate(s) for v in smp]
    df = spark.createDataFrame(rows, "g string, x double")
    r = jonckheere_terpstra(df, "x", "g").collect()[0]
    jt, mean, var = _jt_brute(s)
    assert r["jt"] == jt and r["mean"] == mean
    assert abs(r["sigma"] - var ** 0.5) < 1e-6
    # strictly increasing trend across groups -> strongly positive z
    up = [(f"g{i}", float(10 * i + j)) for i in range(3) for j in range(20)]
    z_up = jonckheere_terpstra(
        spark.createDataFrame(up, "g string, x double"), "x", "g"
    ).collect()[0]["z"]
    assert z_up > 5
    with pytest.raises(ValueError):
        jonckheere_terpstra(
            spark.createDataFrame([("a", 1.0)], "g string, x double"),
            "x", "g",
        )


# ---------------------------------------------------------- ansari_bradley
def test_ansari_bradley_brute_force_and_direction(spark):
    from swivel_spark_prep_spark.operators.evalmetrics import ansari_bradley

    a = [1.0, 4.0, 4.0, 9.0, 12.0]
    b = [5.0, 6.0, 6.0, 7.0, 8.0, 8.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, x double")
    r = ansari_bradley(df, "x", "g", "a", "b").collect()[0]
    # brute-force midrank folded scores
    pooled = sorted(a + b)
    n = len(pooled)
    import collections

    ranks = {}
    i = 0
    for v, cnt in sorted(collections.Counter(pooled).items()):
        ranks[v] = i + (cnt + 1) / 2.0
        i += cnt
    s = {v: min(rk, n + 1 - rk) for v, rk in ranks.items()}
    ab = sum(s[v] for v in a)
    ls = sum(s[v] for v in pooled)
    ls2 = sum(s[v] ** 2 for v in pooled)
    na, nb = float(len(a)), float(len(b))
    mean = na * ls / n
    var = na * nb * (n * ls2 - ls * ls) / (n * n * (n - 1))
    assert r["ab_stat"] == ab and r["mean"] == round(mean, 6)
    assert abs(r["sigma"] - var ** 0.5) < 1e-6
    # sample a spans the extremes (more dispersed) -> small scores -> z < 0
    assert r["z"] < 0
    # scale-shifted twin: b wider than a -> z > 0
    r2 = ansari_bradley(df, "x", "g", "b", "a").collect()[0]
    assert r2["z"] > 0


# ------------------------------------------------------------ mmd_quadratic
def test_mmd_quadratic_matches_numpy_and_detects_shift(spark):
    """MMD2 == ||E_A[xx^T] - E_B[xx^T]||_F^2 (numpy replay), zero for
    identical slices, and larger under a planted covariance change."""
    import numpy as np

    from swivel_spark_prep_spark.operators.similarity import mmd_quadratic

    rng = np.random.RandomState(7)
    a = rng.randn(40, 8)
    b = rng.randn(40, 8) * 2.0  # planted scale (covariance) shift
    rows = [("a", v.tolist()) for v in a] + [("b", v.tolist()) for v in b]
    df = spark.createDataFrame(rows, "g string, v array<double>")
    r = mmd_quadratic(df, "v", "g", "a", "b").collect()[0]
    ma, mb = (a.T @ a) / len(a), (b.T @ b) / len(b)
    want = float(((ma - mb) ** 2).sum())
    assert r["n_a"] == 40 and r["n_b"] == 40 and r["d"] == 8
    assert abs(r["mmd2"] - want) < 1e-6
    # identical slices -> exactly zero
    same = spark.createDataFrame(
        [("a", v.tolist()) for v in a] + [("b", v.tolist()) for v in a],
        "g string, v array<double>",
    )
    assert mmd_quadratic(same, "v", "g", "a", "b").collect()[0]["mmd2"] == 0.0
    # same distribution scores far below the planted shift
    c = rng.randn(40, 8)
    null = spark.createDataFrame(
        [("a", v.tolist()) for v in a] + [("b", v.tolist()) for v in c],
        "g string, v array<double>",
    )
    r0 = mmd_quadratic(null, "v", "g", "a", "b").collect()[0]
    assert r0["mmd2"] < r["mmd2"] / 3


# ------------------------------------------------------ cka_quantization
def test_cka_quantization_lossless_and_structure(spark):
    """Integer vectors with max|v| = 127 quantize losslessly (scale=1)
    -> CKA exactly 1; real float vectors stay near 1 (int8 keeps the
    structure) and the statistic is scale-insensitive by construction."""
    import numpy as np

    from swivel_spark_prep_spark.operators.similarity import (
        cka_quantization_audit,
    )

    rng = np.random.RandomState(11)
    ints = rng.randint(-127, 128, size=(30, 6)).astype(float)
    ints[0, 0] = 127.0  # pin scale = 1 for at least one row's max
    df = spark.createDataFrame(
        [(v.tolist(),) for v in ints], "embedding array<double>"
    )
    r = cka_quantization_audit(df).collect()[0]
    # every row whose max|v| divides its entries evenly is exact; with
    # integer entries and scale = max/127 the reconstruction error is
    # <= scale/2 ~ tiny relative to the structure: CKA ~ 1
    assert r["n"] == 30 and r["d"] == 6 and r["cka"] > 0.999
    floats = rng.randn(50, 6)
    df2 = spark.createDataFrame(
        [(v.tolist(),) for v in floats], "embedding array<double>"
    )
    assert cka_quantization_audit(df2).collect()[0]["cka"] > 0.99


# -------------------------------------------------------- youden_thresholds
def test_youden_hand_computed_perfect_and_best(spark):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        youden_thresholds,
    )

    # perfectly separable: all positives >= 10, negatives < 10
    rows = [(float(v), v >= 10) for v in [1, 2, 3, 10, 11, 12]]
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = {r["threshold"]: r for r in youden_thresholds(df, "s", "y").collect()}
    assert out[10.0]["sensitivity"] == 1.0 and out[10.0]["specificity"] == 1.0
    assert out[10.0]["j"] == 1.0
    assert all(r["best_threshold"] == 10.0 for r in out.values())
    # threshold at the minimum: everything predicted positive
    assert out[1.0]["sensitivity"] == 1.0 and out[1.0]["specificity"] == 0.0
    # ties in J break toward the LOWEST threshold
    tie = spark.createDataFrame(
        [(1.0, False), (2.0, True)], "s double, y boolean"
    )
    assert youden_thresholds(tie, "s", "y").collect()[0]["best_threshold"] == 2.0


# --------------------------------------------------------------- lift_table
def test_lift_table_hand_computed(spark):
    from swivel_spark_prep_spark.operators.evalmetrics import lift_table

    # 20 rows, scores 20..1, positives exactly the top 5 scores
    rows = [(i, float(20 - i), 20 - i > 15) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, s double, y boolean")
    out = {r["bucket"]: r for r in lift_table(df, "s", "y", "id", buckets=4).collect()}
    assert [out[b]["n"] for b in range(4)] == [5, 5, 5, 5]
    assert out[0]["positives"] == 5 and out[1]["positives"] == 0
    assert out[0]["response_rate"] == 1.0
    assert out[0]["lift"] == 4.0  # base rate 0.25
    assert out[0]["cum_capture"] == 1.0 and out[3]["cum_capture"] == 1.0
    with pytest.raises(ValueError):
        lift_table(df, "s", "y", "id", buckets=1)


# ------------------------------------------------------------ msprt_monitor
def test_msprt_detects_mean_shift_and_stays_valid_under_null(spark):
    from swivel_spark_prep_spark.operators.timeseries import msprt_monitor

    b = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 10 calm days around 10, then 10 days shifted to 14
    for day in range(20):
        for i in range(50):
            v = 10.0 + (i % 5) + (4.0 if day >= 10 else 0.0)
            rows.append((b + datetime.timedelta(days=day, minutes=i), v))
            eid += 1
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = sorted(
        msprt_monitor(df, "ts", "value").collect(), key=lambda r: r["bucket"]
    )
    # p is a running min by construction (always-valid)
    ps = [r["p_always_valid"] for r in out]
    assert all(a >= c for a, c in zip(ps, ps[1:]))
    # significant after the shift, not before it
    assert ps[9] > 0.2 and ps[-1] < 0.01
    # null stream: no rejection at the end
    null_rows = [
        (b + datetime.timedelta(days=d, minutes=i), 10.0 + (i % 5))
        for d in range(20)
        for i in range(50)
    ]
    ndf = spark.createDataFrame(null_rows, "ts timestamp, value double")
    nout = sorted(
        msprt_monitor(ndf, "ts", "value").collect(), key=lambda r: r["bucket"]
    )
    assert nout[-1]["p_always_valid"] > 0.2


# ------------------------------------------------------------------ gwet_ac1
def test_gwet_ac1_published_example_and_paradox(spark):
    """Gwet 2008's motivating property: under skewed prevalence with
    high raw agreement, kappa-family chance correction collapses while
    AC1 stays high. Pinned with a hand-computed 2-rater fixture."""
    from swivel_spark_prep_spark.operators.evalmetrics import gwet_ac1

    # 2 raters, 10 items: agree 'a' on 9, split on 1
    rows = []
    for i in range(9):
        rows += [(i, "a"), (i, "a")]
    rows += [(9, "a"), (9, "b")]
    df = spark.createDataFrame(rows, "item long, c string")
    r = gwet_ac1(df, "item", "c").collect()[0]
    # hand: pa = 9/10; pi_a = (9*1 + 0.5)/10 = .95, pi_b = .05
    # pe = (1/(2-1))*(0.95*0.05 + 0.05*0.95) = 0.095
    # ac1 = (0.9 - 0.095)/(1 - 0.095) = 0.889503
    assert r["n_items"] == 10 and r["q"] == 2
    assert r["p_a"] == 0.9 and r["p_e"] == 0.095
    assert abs(r["ac1"] - (0.9 - 0.095) / (1 - 0.095)) < 1e-6
    # single-rated items contribute nothing (no pairable values)
    df2 = df.unionAll(
        spark.createDataFrame([(99, "a")], "item long, c string")
    )
    r2 = gwet_ac1(df2, "item", "c").collect()[0]
    assert r2["n_items"] == 10 and r2["p_a"] == r["p_a"]
    # perfect agreement -> ac1 == 1
    perf = spark.createDataFrame(
        [(i, "a") for i in range(5)] * 2 + [(i, "b") for i in range(5, 8)] * 2,
        "item long, c string",
    )
    assert gwet_ac1(perf, "item", "c").collect()[0]["ac1"] == 1.0


# ------------------------------------------------------------------ runs_test
def test_rate_runs_test_hand_computed(spark):
    from swivel_spark_prep_spark.operators.timeseries import rate_runs_test

    b = datetime.datetime(2024, 1, 1)
    # 12 days: 6 high then 6 low -> 2 runs (strong clumping, z < 0)
    rows = []
    for d in range(12):
        for _ in range(20 if d < 6 else 5):
            rows.append((b + datetime.timedelta(days=d, minutes=1),))
    df = spark.createDataFrame(rows, "ts timestamp")
    r = rate_runs_test(df, "ts").collect()[0]
    assert r["n_days"] == 12 and r["n_above"] == 6 and r["n_below"] == 6
    assert r["runs"] == 2
    # E[R] = 2*36/12 + 1 = 7, Var = 72*(72-12)/(144*11)
    assert r["mean"] == 7.0
    assert abs(r["sigma"] - math.sqrt(72 * 60 / (144 * 11))) < 1e-6
    assert r["z"] < -2
    # perfect alternation -> R = n, z > 0
    rows2 = []
    for d in range(12):
        for _ in range(20 if d % 2 == 0 else 5):
            rows2.append((b + datetime.timedelta(days=d, minutes=1),))
    r2 = rate_runs_test(spark.createDataFrame(rows2, "ts timestamp"), "ts").collect()[0]
    assert r2["runs"] == 12 and r2["z"] > 2


# -------------------------------------------------------- turning_point_test
def test_turning_points_hand_computed(spark):
    from swivel_spark_prep_spark.operators.timeseries import (
        turning_point_test,
    )

    b = datetime.datetime(2024, 1, 1)
    # monotone ramp: zero turning points, z strongly negative
    rows = []
    for t in range(30):
        for _ in range(t + 1):
            rows.append((b + datetime.timedelta(hours=t, minutes=1),))
    df = spark.createDataFrame(rows, "ts timestamp")
    r = turning_point_test(df, "ts").collect()[0]
    assert r["n_buckets"] == 30 and r["turning_points"] == 0
    assert r["mean"] == round(2 * 28 / 3, 6)
    assert abs(r["sigma"] - math.sqrt((16 * 30 - 29) / 90)) < 1e-6
    assert r["z"] < -4
    # sawtooth: every interior point is a turn
    rows2 = []
    for t in range(30):
        for _ in range(10 if t % 2 == 0 else 3):
            rows2.append((b + datetime.timedelta(hours=t, minutes=1),))
    r2 = turning_point_test(
        spark.createDataFrame(rows2, "ts timestamp"), "ts"
    ).collect()[0]
    assert r2["turning_points"] == 28 and r2["z"] > 2


# ----------------------------------------------------------- hellinger_drift
def test_hellinger_identical_and_disjoint(spark):
    from swivel_spark_prep_spark.operators.quality import hellinger_drift

    # slice identical to pooled -> BC=1, H=0 (single source IS the pool)
    df = spark.createDataFrame(
        [("a", float(v)) for v in [10, 120, 250, 250]], "g string, x double"
    )
    r = hellinger_drift(df, "x", "g").collect()[0]
    assert r["bc"] == 1.0 and r["hellinger"] == 0.0
    assert r["bhattacharyya_d"] == 0.0
    # two disjoint slices: each overlaps the pool only on its own half
    # -> BC = sqrt(1/2) for equal-size slices, H = sqrt(1 - BC)
    d2 = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 510.0), ("b", 520.0)],
        "g string, x double",
    )
    out = {r["group"]: r for r in hellinger_drift(d2, "x", "g").collect()}
    want_bc = math.sqrt(0.5)
    for g in ("a", "b"):
        assert abs(out[g]["bc"] - want_bc) < 1e-6
        assert abs(out[g]["hellinger"] - math.sqrt(1 - want_bc)) < 1e-6


# ------------------------------------------------------- schnabel_vocab
def test_schnabel_hand_computed(spark):
    from swivel_spark_prep_spark.operators.textstats import (
        schnabel_vocab_estimate,
    )

    # occasions s1: {a b c d}, s2: {c d e f}, s3: {a e g}
    docs = spark.createDataFrame(
        [("s1", "a b c d"), ("s2", "c d e f"), ("s3", "a e g")],
        "source string, text string",
    )
    out = {r["group"]: r for r in schnabel_vocab_estimate(docs).collect()}
    assert out["s1"]["c_t"] == 4 and out["s1"]["m_t"] == 0 and out["s1"]["r_t"] == 0
    assert out["s2"]["c_t"] == 4 and out["s2"]["m_t"] == 4 and out["s2"]["r_t"] == 2
    assert out["s3"]["c_t"] == 3 and out["s3"]["m_t"] == 6 and out["s3"]["r_t"] == 2
    # N_hat = (4*0 + 4*4 + 3*6)/(0+2+2+1) = 34/5
    assert abs(out["s1"]["n_hat"] - 34 / 5) < 1e-6


# ------------------------------------------------- seasonal_trend_strength
def test_seasonal_strength_separates_regimes(spark):
    from swivel_spark_prep_spark.operators.timeseries import (
        seasonal_trend_strength,
    )

    b = datetime.datetime(2024, 1, 1)

    def series(fn, days=10):
        rows = []
        for t in range(24 * days):
            for _ in range(max(1, fn(t))):
                rows.append((b + datetime.timedelta(hours=t, minutes=1),))
        return spark.createDataFrame(rows, "ts timestamp")

    seasonal = seasonal_trend_strength(
        series(lambda t: 10 + round(6 * math.cos(2 * math.pi * t / 24))), "ts"
    ).collect()[0]
    trending = seasonal_trend_strength(
        series(lambda t: 3 + t // 12), "ts"
    ).collect()[0]
    assert seasonal["seasonal_strength"] > 0.8
    assert seasonal["seasonal_strength"] > seasonal["trend_strength"] + 0.3
    assert trending["trend_strength"] > 0.8
    assert trending["trend_strength"] > trending["seasonal_strength"]
    with pytest.raises(ValueError):
        seasonal_trend_strength(series(lambda t: 1), "ts", period=1)


# ------------------------------------------------- kuiper_watson_uniformity
def test_kuiper_watson_rotation_invariance_and_detection(spark):
    """The defining property KS lacks: rotating every phase by a
    constant leaves V and U^2 unchanged; a planted midnight-straddling
    peak scores the same as the identical peak at noon."""
    from swivel_spark_prep_spark.operators.timeseries import (
        kuiper_watson_uniformity,
    )

    b = datetime.datetime(2024, 1, 1)

    def mk(offset_hours):
        rows = []
        for d in range(20):
            for m in range(60):  # one dense hour per day at the offset
                rows.append(
                    (b + datetime.timedelta(days=d, hours=offset_hours,
                                            minutes=m % 60),)
                )
            for h in range(24):  # thin uniform background
                rows.append((b + datetime.timedelta(days=d, hours=h,
                                                    minutes=7),))
        return spark.createDataFrame(rows, "ts timestamp")

    noon = kuiper_watson_uniformity(mk(12), "ts").collect()[0]
    # same peak straddling midnight (23:30-00:30 via offset 23.5h)
    midn = kuiper_watson_uniformity(mk(23.5), "ts").collect()[0]
    assert abs(noon["kuiper_v"] - midn["kuiper_v"]) < 0.02
    assert abs(noon["watson_u2"] - midn["watson_u2"]) < 0.05
    # both detect the peak decisively
    assert noon["kuiper_stat"] > 1.747 and noon["watson_u2"] > 0.187
    # uniform stream: both stats stay below the critical values
    uni = spark.createDataFrame(
        [(b + datetime.timedelta(days=d, hours=h, minutes=m),)
         for d in range(5) for h in range(24) for m in (11, 37)],
        "ts timestamp",
    )
    r0 = kuiper_watson_uniformity(uni, "ts").collect()[0]
    assert r0["kuiper_stat"] < 1.747 and r0["watson_u2"] < 0.187


# ----------------------------------------------------------- power_divergence
def test_power_divergence_matches_brute_force(spark):
    import math as m

    from swivel_spark_prep_spark.operators.evalmetrics import (
        power_divergence,
    )

    # hand table: rows a/b, cols x/y with an EMPTY (b, y) cell
    counts = {("a", "x"): 30, ("a", "y"): 10, ("b", "x"): 20}
    rows = [(r, c) for (r, c), k in counts.items() for _ in range(k)]
    df = spark.createDataFrame(rows, "r string, c string")
    out = power_divergence(df, "r", "c").collect()[0]
    n = 60.0
    rt = {"a": 40.0, "b": 20.0}
    ct = {"x": 50.0, "y": 10.0}
    chi2 = g2 = cr = 0.0
    lam = 2.0 / 3.0
    for r in rt:
        for c in ct:
            e = rt[r] * ct[c] / n
            o = float(counts.get((r, c), 0))
            chi2 += (o - e) ** 2 / e
            if o > 0:
                g2 += 2 * o * m.log(o / e)
                cr += 2.0 / (lam * (lam + 1)) * o * ((o / e) ** lam - 1)
    assert out["n"] == 60 and out["dof"] == 1
    assert abs(out["chi2"] - chi2) < 1e-6
    assert abs(out["g2"] - g2) < 1e-6
    assert abs(out["cressie_read"] - cr) < 1e-6
    # CR(2/3) sits between G2 and chi2 for this table
    lo, hi = sorted([out["g2"], out["chi2"]])
    assert lo <= out["cressie_read"] <= hi
    with pytest.raises(ValueError):
        power_divergence(df, "r", "c", lambda_=1.0)


# ----------------------------------------------------------- trend-report CLI
def test_cli_trend_report(spark, tmp_path, capsys):
    import json

    from swivel_spark_prep_spark import cli

    b = datetime.datetime(2024, 1, 1)
    rows = []
    n_rows = 0
    for d in range(16):
        # the RATE doubles and the VALUE shifts at day 8: runs sees the
        # rate pattern (2 runs), the mSPRT sees the mean shift
        for i in range(20 if d < 8 else 40):
            v = 10.0 + (i % 3) + (5.0 if d >= 8 else 0.0)
            rows.append((b + datetime.timedelta(days=d, minutes=i), v))
            n_rows += 1
    src = str(tmp_path / "stream")
    spark.createDataFrame(rows, "ts timestamp, value double").write.parquet(src)
    rc = cli.main(["trend-report", "--input", src, "--value", "value"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_rows"] == n_rows
    assert rep["runs"]["n_days"] == 16 and rep["runs"]["runs"] == 2
    assert rep["turning_points"]["n_buckets"] >= 16
    assert 0.0 <= rep["strength"]["trend_strength"] <= 1.0
    # the planted day-8 level shift is decisively flagged by the mSPRT
    assert rep["msprt_min_p"] < 0.01
    assert rep["msprt_final"]["p_always_valid"] < 0.01
    # empty input -> rc 2 (the survival-report guard convention)
    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "ts timestamp, value double").write.parquet(empty)
    assert cli.main(["trend-report", "--input", empty]) == 2


# -------------------------------------------------------------- stream_msprt
def test_stream_msprt_always_valid_and_sticky(spark, tmp_path):
    """stream_msprt: the running max of log-lambda across micro-batches
    equals the single-pass max over the concatenated stream (so p is
    identical), rejection is sticky once p <= alpha, and state is one
    row per batch."""
    import glob
    import math
    import shutil

    from swivel_spark_prep_spark.streaming import stream_msprt

    mu0, sigma2 = 10.0, 4.0
    # batch 0 on-baseline, batch 1 strongly shifted (rejects),
    # batch 2 back on baseline (decision must stick, p must not rise)
    batches = [
        [(i, 10.0 + (i % 3) - 1.0) for i in range(30)],
        [(100 + i, 16.0 + (i % 3)) for i in range(40)],
        [(200 + i, 10.0 + (i % 3) - 1.0) for i in range(30)],
    ]
    schema = "t long, x double"
    replay = tmp_path / "replay"
    replay.mkdir()
    for b, rows in enumerate(batches):
        raw = tmp_path / f"raw{b}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(raw))
        part = glob.glob(str(raw / "part-*.parquet"))[0]
        shutil.copy(part, str(replay / f"{b:02d}.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    from swivel_spark_prep_spark import cache

    persisted_before = len(cache._PERSISTED)
    q = stream_msprt(
        stream,
        ["t"],
        "x",
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        mu0=mu0,
        sigma2=sigma2,
        alpha=0.05,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # each batch releases what its prefix-kernel call persisted
    assert len(cache._PERSISTED) == persisted_before
    snaps = [
        spark.read.parquet(str(tmp_path / "out" / f"batch_id={b}"))
        .collect()[0]
        for b in range(3)
    ]
    # single-pass reference over the concatenated stream (batches
    # arrive in order; within a batch order_cols sorts by t)
    all_rows = []
    for rows in batches:
        all_rows.extend(v for _, v in sorted(rows))
    s = 0.0
    mx = float("-inf")
    first_cross = None
    for i, v in enumerate(all_rows, start=1):
        s += v
        dev = s / i - mu0
        ll = -0.5 * math.log(1 + i) + i * i * dev * dev / (
            2 * sigma2 * (1 + i)
        )
        if ll >= -math.log(0.05) and first_cross is None:
            first_cross = i
        mx = max(mx, ll)
    assert snaps[2]["n_obs"] == len(all_rows)
    assert abs(snaps[2]["max_log_lambda"] - mx) < 1e-9
    assert snaps[2]["p_always_valid"] == round(min(1.0, math.exp(-mx)), 6)
    # batch 0: on-baseline, not rejected; batch 1 rejects at first_cross
    assert not snaps[0]["rejected"] and snaps[0]["p_always_valid"] > 0.05
    assert snaps[1]["rejected"] and snaps[1]["cross_n"] == first_cross
    # sticky through the back-on-baseline batch; p never rises
    assert snaps[2]["rejected"] and snaps[2]["cross_n"] == first_cross
    assert (
        snaps[0]["p_always_valid"]
        >= snaps[1]["p_always_valid"]
        >= snaps[2]["p_always_valid"]
    )
    # one-row state per batch
    st = spark.read.parquet(str(tmp_path / "state" / "msprt" / "batch_id=2"))
    assert st.count() == 1


# ------------------------------------------------------ permutation_entropy
def test_permutation_entropy_regimes(spark):
    from swivel_spark_prep_spark.operators.timeseries import (
        permutation_entropy,
    )

    b = datetime.datetime(2024, 1, 1)

    def series(fn, hours=240):
        rows = []
        for t in range(hours):
            for _ in range(max(1, fn(t))):
                rows.append((b + datetime.timedelta(hours=t, minutes=1),))
        return spark.createDataFrame(rows, "ts timestamp")

    # strictly increasing ramp: ONE ordinal pattern -> H = 0
    ramp = permutation_entropy(series(lambda t: t + 1), "ts").collect()[0]
    assert ramp["distinct_patterns"] == 1 and ramp["entropy"] == 0.0
    # period-3 sawtooth 1,5,3,1,5,3,...: exactly 3 patterns, each 1/3
    saw = permutation_entropy(
        series(lambda t: [1, 5, 3][t % 3]), "ts"
    ).collect()[0]
    assert saw["distinct_patterns"] == 3
    # 238 windows split 80/79/79 across the 3 patterns -> within 1e-3
    assert abs(saw["entropy"] - math.log(3)) < 1e-3
    assert abs(saw["h_norm"] - math.log(3) / math.log(6)) < 1e-3
    # pseudo-noise (md5-keyed): all 6 patterns, h_norm near 1
    import hashlib

    def h(t):
        return 5 + int(hashlib.md5(str(t).encode()).hexdigest()[:4], 16) % 17

    noise = permutation_entropy(series(h), "ts").collect()[0]
    assert noise["distinct_patterns"] == 6 and noise["h_norm"] > 0.9


# --------------------------------------------------------------- hurst_rs
def test_hurst_rs_separates_persistence(spark):
    from swivel_spark_prep_spark.operators.timeseries import hurst_rs

    b = datetime.datetime(2024, 1, 1)

    def series(vals):
        rows = []
        for t, v in enumerate(vals):
            for _ in range(max(1, int(v))):
                rows.append((b + datetime.timedelta(hours=t, minutes=1),))
        return spark.createDataFrame(rows, "ts timestamp")

    # persistent: slow 64-hour square wave -> within-block drift, H high
    persistent = [20 if (t // 64) % 2 == 0 else 5 for t in range(512)]
    # anti-persistent: strict alternation -> H low
    alternating = [20 if t % 2 == 0 else 5 for t in range(512)]
    hp = hurst_rs(series(persistent), "ts").collect()[0]["hurst"]
    ha = hurst_rs(series(alternating), "ts").collect()[0]["hurst"]
    assert hp > ha + 0.3
    assert ha < 0.35
    with pytest.raises(ValueError):
        hurst_rs(series(alternating), "ts", scales=(8,))


# ------------------------------------------------------ concentration_profile
def test_concentration_profile_hand_computed(spark):
    from swivel_spark_prep_spark.operators.quality import (
        concentration_profile,
    )

    rows = (
        [("en", "s1")] * 50 + [("en", "s2")] * 30 + [("en", "s3")] * 20
        + [("de", "s1")] * 100  # fully concentrated
    )
    df = spark.createDataFrame(rows, "lang string, source string")
    out = {r["slice"]: r for r in concentration_profile(df, "source", "lang").collect()}
    want = 0.5 ** 2 + 0.3 ** 2 + 0.2 ** 2
    assert abs(out["en"]["hhi"] - want) < 1e-6
    assert abs(out["en"]["effective_groups"] - 1 / want) < 1e-4
    assert out["en"]["top_share"] == 0.5 and out["en"]["n_groups"] == 3
    assert out["de"]["hhi"] == 1.0 and out["de"]["effective_groups"] == 1.0


# ------------------------------------------------- lexical_richness_classics
def test_lexical_richness_hand_computed(spark):
    """Hand-computed spectrum: tokens a a a b b c -> N=6, V=3,
    V1={c}, V2={b}; K = 1e4*(9+4+1-6)/36, S = 1/3,
    R = 100 ln 6/(1-1/3), W = 6^(3^-0.165)."""
    from swivel_spark_prep_spark.operators.textstats import (
        lexical_richness_classics,
    )

    df = spark.createDataFrame(
        [("en", "a a a b"), ("en", "b c")], "lang string, text string"
    )
    r = lexical_richness_classics(df, "lang").collect()[0]
    assert r["n_tokens"] == 6 and r["v_types"] == 3
    assert r["v1"] == 1 and r["v2"] == 1
    assert abs(r["yule_k"] - 1e4 * (14 - 6) / 36) < 1e-4
    assert abs(r["sichel_s"] - 1 / 3) < 1e-6
    assert abs(r["honore_r"] - 100 * math.log(6) / (1 - 1 / 3)) < 1e-4
    assert abs(r["brunet_w"] - 6 ** (3 ** -0.165)) < 1e-4
    # all-hapax group: R hits its pole -> NULL, everything else defined
    hap = spark.createDataFrame(
        [("de", "x y z")], "lang string, text string"
    )
    r2 = lexical_richness_classics(hap, "lang").collect()[0]
    assert r2["honore_r"] is None and r2["sichel_s"] == 0.0
    # repeat-heavy text scores HIGHER K than diverse text (the screen)
    rep = lexical_richness_classics(
        spark.createDataFrame([("en", "the the the the a a")],
                              "lang string, text string"), "lang"
    ).collect()[0]
    div = lexical_richness_classics(
        spark.createDataFrame([("en", "one two three four five six")],
                              "lang string, text string"), "lang"
    ).collect()[0]
    assert rep["yule_k"] > div["yule_k"]
