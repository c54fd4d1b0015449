"""Tests for operators/stats.py: exact-integer chi2 contingency and
fixed-range histograms."""

import pytest
from pyspark.sql import functions as F

from spork_spark.operators import _scalable, chi2_contingency, histogram


def test_chi2_independent_uniform_is_zero(spark):
    # perfectly independent 2x2 with equal margins: O == E everywhere
    rows = [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    out = chi2_contingency(df, "a", "b").collect()
    assert len(out) == 4
    assert all(r.contrib_e6 == 0 for r in out)
    assert all(r.n_ab == 5 for r in out)


def test_chi2_matches_textbook_value(spark):
    # 2x2: [[10, 0], [0, 10]] -> chi2 = N = 20 exactly
    rows = [("x", "p")] * 10 + [("y", "q")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    out = chi2_contingency(df, "a", "b").collect()
    assert len(out) == 4                     # zero cells included
    total = sum(r.contrib_e6 for r in out)
    assert total == 20 * 10 ** 6             # exact: no truncation here
    zero = [r for r in out if r.n_ab == 0]
    assert len(zero) == 2 and all(r.contrib_e6 == 5 * 10 ** 6
                                  for r in zero)


def test_chi2_excludes_null_levels(spark):
    rows = [("x", "p"), (None, "p"), ("x", None)]
    df = spark.createDataFrame(rows, "a string, b string")
    out = chi2_contingency(df, "a", "b").collect()
    assert len(out) == 1 and out[0].n_ab == 1


def test_histogram_buckets_and_clamping(spark):
    rows = [("g", -5.0), ("g", 0.0), ("g", 4.99), ("g", 5.0),
            ("g", 99.99), ("g", 150.0), ("g", None)]
    df = spark.createDataFrame(rows, "t string, v double")
    out = {r.bucket: r for r in
           histogram(df, "t", "v", lo=0, hi=100, n_buckets=20).collect()}
    assert out[0].cnt == 3          # -5 clamped, 0.0, 4.99
    assert out[1].cnt == 1          # 5.0 lands in [5, 10)
    assert out[19].cnt == 2         # 99.99 and 150 clamped
    assert out[0].bucket_lo == 0.0 and out[0].bucket_hi == 5.0
    assert sum(r.cnt for r in out.values()) == 6     # null excluded


def test_histogram_rejects_uneven_width(spark):
    df = spark.createDataFrame([("g", 1.0)], "t string, v double")
    with pytest.raises(ValueError):
        histogram(df, "t", "v", lo=0, hi=100, n_buckets=7)


def test_equifreq_bins_balanced_no_ties(spark):
    from spork_spark.operators import equifreq_bins
    df = spark.createDataFrame([(float(i),) for i in range(100)],
                               "value double")
    out = {r.bin: r for r in equifreq_bins(df, "value", 4).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(out[b].cnt == 25 for b in out)
    assert out[0].lo_cents == 0 and out[0].hi_cents == 2400
    assert out[3].lo_cents == 7500 and out[3].hi_cents == 9900


def test_equifreq_bins_value_is_deterministic_under_ties(spark):
    """Every occurrence of a value lands in ONE bin (train/serve
    consistency) — a heavy tie swallows its whole mass."""
    from spork_spark.operators import equifreq_bins
    rows = [(1.0,)] * 90 + [(2.0,), (3.0,)] * 5
    df = spark.createDataFrame(rows, "value double")
    out = {r.bin: r for r in equifreq_bins(df, "value", 10).collect()}
    assert out[0].cnt == 90 and out[0].lo_cents == out[0].hi_cents == 100
    assert 9 in out                    # the tail still reaches the top bin
    assert sum(r.cnt for r in out.values()) == 100


def test_equifreq_bins_scalable_path_parity(spark, monkeypatch):
    """Fence forced low: equifreq_bins must route the cumulative count
    through the range-partitioned prefix sum and return byte-identical
    bins to the single-window path."""
    from spork_spark.operators import equifreq_bins
    rows = [(float(i % 37),) for i in range(500)] + [(1.0,)] * 40
    df = spark.createDataFrame(rows, "value double")
    key = lambda r: (r.bin, r.lo_cents, r.hi_cents, r.n_values, r.cnt)  # noqa: E731
    small = sorted(key(r) for r in equifreq_bins(df, "value", 7).collect())
    monkeypatch.setattr(_scalable, "CARDINALITY_FENCE", 3)
    big = sorted(key(r) for r in equifreq_bins(df, "value", 7).collect())
    assert big == small
    assert sum(c for *_, c in small) == 540


def test_group_mode_long_with_tiebreak(spark):
    from spork_spark.operators import group_mode
    rows = [("a", 5), ("a", 5), ("a", 9), ("a", 9), ("a", 1),  # tie 5/9 -> 5
            ("b", -3), ("b", -3), ("b", 7), ("c", None), ("c", 2)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    out = {r.g: (r.mode, r.cnt) for r in group_mode(df, "g", "v").collect()}
    assert out == {"a": (5, 2), "b": (-3, 2), "c": (2, 1)}


def test_group_mode_string_fallback(spark):
    from spork_spark.operators import group_mode
    rows = [("a", "x"), ("a", "x"), ("a", "m"), ("a", "m"), ("a", "z")]
    df = spark.createDataFrame(rows, "g string, v string")
    out = group_mode(df, "g", "v").collect()
    assert (out[0].mode, out[0].cnt) == ("m", 2)   # smallest tied value


def test_group_mad_exact_halves(spark):
    from spork_spark.operators import group_mad
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 100.0),
            ("b", 5.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.g: r for r in group_mad(df, "g", "v").collect()}
    # a: cents [100,200,300,10000] -> median 250.0; devs [150,50,50,9750]
    #    -> mad 100.0 (interpolated between 50 and 150)
    assert out["a"].median_cents == 250.0 and out["a"].mad_cents == 100.0
    # b: median 600.0, devs [100,100] -> mad 100.0
    assert out["b"].median_cents == 600.0 and out["b"].mad_cents == 100.0
    assert out["a"].n == 4 and out["b"].n == 2


def test_group_gini_known_values(spark):
    from spork_spark.operators import group_gini
    rows = [("eq", v) for v in [5.0, 5.0, 5.0, 5.0]]          # equality: 0
    rows += [("conc", v) for v in [0.0, 0.0, 0.0, 100.0]]     # one holder
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.g: r for r in group_gini(df, "g", "v").collect()}
    assert out["eq"].gini_e6 == 0
    # G = (2*4*10000 - 5*10000)/(4*10000) = 0.75
    assert out["conc"].gini_e6 == 750000
    assert out["conc"].sum_cents == 10000


def test_group_gini_degenerate_and_negative(spark):
    import pytest
    from spork_spark.operators import group_gini
    df = spark.createDataFrame([("a", 3.0)], "g string, v double")
    r = group_gini(df, "g", "v").collect()[0]
    assert r.gini_e6 is None                      # single value
    neg = spark.createDataFrame([("a", -1.0)], "g string, v double")
    with pytest.raises(ValueError):
        group_gini(neg, "g", "v")


def test_abc_classes_boundaries(spark):
    from spork_spark.operators import abc_classes
    # totals: k1=70, k2=20, k3=6, k4=4  (grand 100)
    rows = [("k1", 70.0), ("k2", 20.0), ("k3", 6.0), ("k4", 4.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r.k: r for r in abc_classes(df, "k", "v").collect()}
    # exclusive prefixes: k1=0 (<80% -> A), k2=70 (<80% -> A),
    # k3=90 (<95% -> B), k4=96 (-> C)
    assert out["k1"].abc_class == "A" and out["k2"].abc_class == "A"
    assert out["k3"].abc_class == "B"
    assert out["k4"].abc_class == "C"
    assert out["k4"].cum_before_cents == 9600


def test_abc_classes_tie_deterministic(spark):
    from spork_spark.operators import abc_classes
    rows = [("b", 50.0), ("a", 50.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r.k: r.cum_before_cents for r in
           abc_classes(df, "k", "v").collect()}
    assert out["a"] == 0 and out["b"] == 5000   # ties order by key asc


def test_abc_classes_scalable_path_parity(spark, monkeypatch):
    """Fence forced low: abc_classes must route through the
    range-partitioned prefix sum and return byte-identical classes."""
    from spork_spark.operators import abc_classes
    rows = [(f"k{i:03d}", float(101 - i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "k string, v double")
    small = {(r.k, r.total_cents, r.cum_before_cents, r.abc_class)
             for r in abc_classes(df, "k", "v").collect()}
    monkeypatch.setattr(_scalable, "CARDINALITY_FENCE", 3)
    big = {(r.k, r.total_cents, r.cum_before_cents, r.abc_class)
           for r in abc_classes(df, "k", "v").collect()}
    assert big == small


def test_abc_classes_scalable_tie_deterministic(spark, monkeypatch):
    """Ties on total_cents must keep the key tiebreak across range
    partition boundaries (order includes __k)."""
    from spork_spark.operators import abc_classes
    rows = [(f"k{i:02d}", 10.0) for i in range(20)]
    monkeypatch.setattr(_scalable, "CARDINALITY_FENCE", 3)
    df = spark.createDataFrame(rows, "k string, v double")
    out = sorted((r.k, r.cum_before_cents)
                 for r in abc_classes(df, "k", "v").collect())
    assert [c for _, c in out] == [i * 1000 for i in range(20)]


def test_exclusive_prefix_sum_across_partitions(spark):
    """The two-pass core over more than one range partition: two sums
    (a value and a row count) over tied values with a key tiebreak
    must equal a prefix sum computed in Python. Coalescing is off so
    AQE cannot fold the small input into one partition."""
    rows = [(i, (i * 7) % 5) for i in range(60)]
    df = spark.createDataFrame(rows, "k long, v long")
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        out, n_parts = _scalable.exclusive_prefix_sum(
            df, [F.col("v").desc(), F.col("k")],
            {"pre": F.col("v"), "pos": F.lit(1)})
        got = sorted((r.k, r.pre, r.pos) for r in out.collect())
    finally:
        spark.conf.set(conf, old)
    assert n_parts > 1
    want, pre = [], 0
    for pos, (k, v) in enumerate(sorted(rows, key=lambda r: (-r[1], r[0]))):
        want.append((k, pre, pos))
        pre += v
    assert got == sorted(want)
