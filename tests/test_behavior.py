"""Funnel + SCD2 (operators/behavior.py): ordering semantics, run
collapse, interval close."""

import datetime as dt

import pytest

from spork_spark.operators.behavior import funnel, scd2_from_log


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_funnel_strict_order(spark):
    rows = [
        # u1 converts fully, in order
        (1, _ts(1), "view"), (1, _ts(2), "click"), (1, _ts(3), "purchase"),
        # u2 clicks BEFORE viewing — the click must not count
        (2, _ts(1), "click"), (2, _ts(2), "view"),
        # u3 stalls after view
        (3, _ts(1), "view"),
        # u4 purchase without click — does not reach step 3
        (4, _ts(1), "view"), (4, _ts(2), "purchase"),
        # u5 never views — not even step 1
        (5, _ts(1), "purchase"),
    ]
    df = spark.createDataFrame(rows, "u bigint, ts timestamp, t string")
    got = {r.step_idx: (r.step, r.n_users) for r in
           funnel(df, "u", "ts", "t",
                  ["view", "click", "purchase"]).collect()}
    assert got == {1: ("view", 4), 2: ("click", 1), 3: ("purchase", 1)}


def test_funnel_same_timestamp_not_after(spark):
    # strictly-after: a click at the exact view instant does not convert
    rows = [(1, _ts(1), "view"), (1, _ts(1), "click")]
    df = spark.createDataFrame(rows, "u bigint, ts timestamp, t string")
    got = {r.step_idx: r.n_users
           for r in funnel(df, "u", "ts", "t", ["view", "click"]).collect()}
    assert got == {1: 1, 2: 0}


def test_funnel_empty_steps_raises(spark):
    df = spark.createDataFrame([(1, _ts(1), "view")],
                               "u bigint, ts timestamp, t string")
    with pytest.raises(ValueError):
        funnel(df, "u", "ts", "t", [])


def test_scd2_runs_collapse_and_close(spark):
    rows = [
        (1, _ts(1), "a"), (1, _ts(2), "a"),      # unchanged → collapses
        (1, _ts(3), "b"),                        # change → closes 'a'
        (1, _ts(4), "a"),                        # back to 'a' → NEW run
        (2, _ts(5), "x"),                        # other key independent
    ]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp, v string")
    got = sorted((r.k, r.v, r.valid_from, r.valid_to) for r in
                 scd2_from_log(df, "k", "ts", ["v"]).collect())
    assert got == [
        (1, "a", _ts(1), _ts(3)),
        (1, "a", _ts(4), None),
        (1, "b", _ts(3), _ts(4)),
        (2, "x", _ts(5), None),
    ]


def test_scd2_multi_attr_any_change_opens_run(spark):
    rows = [(1, _ts(1), "a", 10), (1, _ts(2), "a", 20),  # second attr moves
            (1, _ts(3), "a", 20)]                        # unchanged
    df = spark.createDataFrame(rows, "k bigint, ts timestamp, "
                                     "v string, n bigint")
    got = sorted((r.v, r.n, r.valid_from, r.valid_to) for r in
                 scd2_from_log(df, "k", "ts", ["v", "n"]).collect())
    assert got == [("a", 10, _ts(1), _ts(2)), ("a", 20, _ts(2), None)]


def test_scd2_null_attr_runs(spark):
    # null == null (null-safe): consecutive nulls collapse into one run
    rows = [(1, _ts(1), None), (1, _ts(2), None), (1, _ts(3), "x")]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp, v string")
    got = {(r.v, r.valid_from, r.valid_to) for r in
           scd2_from_log(df, "k", "ts", ["v"]).collect()}
    assert got == {(None, _ts(1), _ts(3)), ("x", _ts(3), None)}


def test_funnel_leaves_no_cached_tables(spark):
    """funnel() must unpersist every per-step table it caches (round-4
    advice: long-lived sessions accumulated cached blocks)."""
    from spork_spark.operators.behavior import funnel
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "a"), (3, 1, "a"), (3, 3, "b"),
         (3, 4, "c")],
        "u bigint, ts bigint, t string")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    out = {r.step: r.n_users
           for r in funnel(df, "u", "ts", "t", ["a", "b", "c"]).collect()}
    assert out == {"a": 3, "b": 2, "c": 1}
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after == before


def test_sessionize_gap_splits_sessions(spark):
    from spork_spark.operators.behavior import sessionize
    rows = [(1, "2024-01-01 10:00:00", 1), (1, "2024-01-01 10:10:00", 2),
            (1, "2024-01-01 11:30:00", 3),      # 80 min gap -> new
            (2, "2024-01-01 09:00:00", 4)]
    df = spark.createDataFrame(rows, "u bigint, ts string, eid bigint") \
              .selectExpr("u", "cast(ts as timestamp) ts", "eid")
    out = {(r.u, r.eid): r.session_seq for r in
           sessionize(df, "u", "ts", gap_seconds=1800,
                      tiebreak_col="eid").collect()}
    assert out == {(1, 1): 1, (1, 2): 1, (1, 3): 2, (2, 4): 1}


def test_sessionize_boundary_gap_not_new_session(spark):
    """A gap of EXACTLY gap_seconds stays in the same session (strict
    >), pinned so the oracle comparison can't drift."""
    from spork_spark.operators.behavior import sessionize
    rows = [(1, "2024-01-01 10:00:00", 1), (1, "2024-01-01 10:30:00", 2),
            (1, "2024-01-01 11:00:00.000001", 3)]
    df = spark.createDataFrame(rows, "u bigint, ts string, eid bigint") \
              .selectExpr("u", "cast(ts as timestamp) ts", "eid")
    out = [r.session_seq for r in
           sessionize(df, "u", "ts", gap_seconds=1800,
                      tiebreak_col="eid").orderBy("eid").collect()]
    assert out == [1, 1, 2]       # 30:00.000001 exceeds; 30:00 does not


def test_sessionize_single_exchange_plan(spark):
    from spork_spark.operators.behavior import sessionize
    df = spark.createDataFrame([(1, "2024-01-01 10:00:00", 1)],
                               "u bigint, ts string, eid bigint") \
              .selectExpr("u", "cast(ts as timestamp) ts", "eid")
    plan = sessionize(df, "u", "ts")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_transition_matrix_counts_and_probs(spark):
    from spork_spark.operators import transition_matrix
    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
            (2, 1, "a"), (2, 2, "b")]
    df = spark.createDataFrame(rows, "u bigint, t bigint, s string") \
              .selectExpr("u", "cast(t as timestamp) ts", "s")
    got = {(r.from_state, r.to_state): (r.cnt, r.prob_e6) for r in
           transition_matrix(df, "u", "ts", "s").collect()}
    # a->b happens 3x (u1 twice, u2 once); b->a once; a total=3, b total=1
    assert got[("a", "b")] == (3, 1_000_000)
    assert got[("b", "a")] == (1, 1_000_000)
    assert len(got) == 2            # first events excluded


def test_transition_matrix_integer_division(spark):
    from spork_spark.operators import transition_matrix
    rows = [(1, i, "a" if i % 3 else "b") for i in range(1, 8)]
    df = spark.createDataFrame(rows, "u bigint, t bigint, s string") \
              .selectExpr("u", "cast(t as timestamp) ts", "s")
    out = transition_matrix(df, "u", "ts", "s").collect()
    for r in out:
        assert r.prob_e6 <= 1_000_000
    by_from = {}
    for r in out:
        by_from.setdefault(r.from_state, []).append(r)
    for rows_ in by_from.values():
        tot = sum(r.cnt for r in rows_)
        for r in rows_:
            assert r.prob_e6 == r.cnt * 1_000_000 // tot


def test_growth_accounting_decomposition(spark):
    import pyspark.sql.functions as F
    from spork_spark.operators import growth_accounting
    rows = [(1, "2024-01-01"), (2, "2024-01-01"),
            (1, "2024-01-02"), (3, "2024-01-02"),
            (1, "2024-01-02"),                    # same (user, day) dup
            (2, "2024-01-04")]
    df = spark.createDataFrame(rows, "user_id bigint, ts string") \
              .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {str(r.day): r for r in growth_accounting(df).collect()}
    d1, d2, d4 = out["2024-01-01"], out["2024-01-02"], out["2024-01-04"]
    assert (d1.n_active, d1.n_new, d1.n_returning, d1.cum_users) == (2, 2, 0, 2)
    assert (d2.n_active, d2.n_new, d2.n_returning, d2.cum_users) == (2, 1, 1, 3)
    assert (d4.n_active, d4.n_new, d4.n_returning, d4.cum_users) == (1, 0, 1, 3)


def test_rfm_segments_orientation_and_determinism(spark):
    import pyspark.sql.functions as F
    from spork_spark.operators import rfm_segments
    rows = []
    # u1: recent, frequent, big spender; u2: stale, rare, tiny
    rows += [(1, f"2024-01-{d:02d}", 50.0) for d in range(20, 29)]
    rows += [(2, "2024-01-01", 0.5)]
    rows += [(3, "2024-01-15", 10.0), (3, "2024-01-16", 10.0)]
    df = spark.createDataFrame(rows, "user_id bigint, ts string, value double") \
              .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.user_id: r for r in rfm_segments(df, n_bins=3).collect()}
    u1, u2 = out[1], out[2]
    assert u1.recency_days == 0 and u2.recency_days == 27
    assert u1.frequency == 9 and u1.monetary_cents == 45000
    # orientation: 3 is always best
    assert u1.recency_days_score > u2.recency_days_score
    assert u1.frequency_score > u2.frequency_score
    assert u1.monetary_cents_score > u2.monetary_cents_score
    assert u1.segment == "333" and u2.segment == "111"
    # determinism: same metrics -> same scores on rerun
    again = {r.user_id: r.segment
             for r in rfm_segments(df.repartition(7), n_bins=3).collect()}
    assert again == {u: out[u].segment for u in out}


def test_conversion_times_first_a_to_first_b_after(spark):
    import pyspark.sql.functions as F
    from spork_spark.operators import conversion_times
    rows = [
        (1, "2024-01-01 00:00:00", "signup"),
        (1, "2024-01-01 00:01:40", "purchase"),    # 100 s
        (1, "2024-01-02 00:00:00", "purchase"),    # later: ignored
        (2, "2024-01-01 00:00:00", "purchase"),    # BEFORE signup: no
        (2, "2024-01-01 01:00:00", "signup"),      # started, no convert
        (3, "2024-01-01 00:00:00", "signup"),
        (3, "2024-01-01 00:05:00", "purchase"),    # 300 s
        (4, "2024-01-05 00:00:00", "purchase")]    # never signed up
    df = spark.createDataFrame(rows, "user_id bigint, ts string, event_type string") \
              .withColumn("ts", F.col("ts").cast("timestamp"))
    r = conversion_times(df, "user_id", "ts", "event_type",
                         "signup", "purchase").collect()[0]
    assert (r.n_started, r.n_converted) == (3, 2)
    assert r.p50_s == 200.0                        # median of {100, 300}
    assert r.p90_s == 280.0                        # interpolated, exact


def test_rfm_segments_scalable_path_parity_and_plan(spark, monkeypatch):
    """Above the cardinality fence, score maps must switch to the
    range-partitioned prefix sum with an UN-hinted join (no broadcast
    of a potentially user-cardinality map) and produce IDENTICAL
    scores to the small-path window."""
    import pyspark.sql.functions as F
    from spork_spark.operators import _scalable, rfm_segments
    rows = []
    for u in range(1, 41):          # 40 users, distinct freq/monetary
        rows += [(u, f"2024-01-{(u % 28) + 1:02d}", float(u))] * (u % 7 + 1)
    df = spark.createDataFrame(
        rows, "user_id bigint, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    small = {r.user_id: r.segment for r in rfm_segments(df).collect()}
    monkeypatch.setattr(_scalable, "CARDINALITY_FENCE", 2)
    big_df = rfm_segments(df)
    big = {r.user_id: r.segment for r in big_df.collect()}
    plan = big_df._jdf.queryExecution().executedPlan().toString()
    # score-map joins must not be broadcast above the fence (the only
    # broadcasts left are the 1-row mx/tot stats frames), so at least
    # one score-map join surfaces as a shuffle join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert big == small
