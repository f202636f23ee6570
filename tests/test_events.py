"""Sessionization semantics (operators/events.py) on crafted event
streams."""

from __future__ import annotations

import datetime as dt

from graphiti_spark.operators.events import sessionize


def _ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )


def test_sessionize_gap_rule_and_aggregates(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: two sessions split by a 31-min gap (30 min = keep)
        (1, at(0), 1, "view", 1.00, '{"k": 1}'),
        (2, at(30), 1, "error", 2.50, '{"k": 7}'),
        (3, at(61), 1, "purchase", 0.25, '{"k": 3}'),
        # user 2: single event
        (4, at(5), 2, "signup", 10.00, '{"k": 0}'),
    ]
    out = {
        (r.user_id, r.session_id): r
        for r in sessionize(_ev(spark, rows), gap_minutes=30).collect()
    }
    assert set(out) == {(1, 1), (1, 3), (2, 4)}
    s1 = out[(1, 1)]
    assert (s1.n_events, s1.n_errors, s1.value_cents, s1.max_k) == (2, 1, 350, 7)
    assert s1.session_start == t0 and s1.session_end == at(30)
    s2 = out[(1, 3)]
    assert (s2.n_events, s2.value_cents, s2.max_k) == (1, 25, 3)
    assert out[(2, 4)].n_events == 1


def test_sessionize_single_shuffle(spark):
    df = sessionize(_ev(spark, [(1, dt.datetime(2024, 1, 1), 1, "x", 0.0, "{}")]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # one user_id shuffle, reused


def test_funnel_strict_order(spark):
    import datetime as dt

    from graphiti_spark.operators.events import funnel

    t0 = dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # user 1 completes view -> click in order
        (1, at(0), 1, "view", 0.0, "{}"),
        (2, at(1), 1, "click", 0.0, "{}"),
        # user 2 clicked BEFORE viewing: reaches step 1 only
        (3, at(0), 2, "click", 0.0, "{}"),
        (4, at(1), 2, "view", 0.0, "{}"),
        # user 3 view+click at the SAME instant: tie does not advance
        (5, at(0), 3, "view", 0.0, "{}"),
        (6, at(0), 3, "click", 0.0, "{}"),
        # user 4 never viewed
        (7, at(0), 4, "click", 0.0, "{}"),
    ]
    out = {
        (r.step_idx, r.step_name): r.n_users
        for r in funnel(_ev(spark, rows), steps=("view", "click")).collect()
    }
    assert out == {(1, "view"): 3, (2, "click"): 1}


def test_funnel_emits_zero_rows_for_empty_steps(spark):
    """A step no user reaches must still emit a row with n_users=0 —
    the oracle's COUNT(*) always yields one row per step, and the
    driver's row-count gate compares them (ADVICE r3 #1)."""
    from graphiti_spark.operators.events import funnel

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0, 1, "view", 0.0, "{}")]
    out = {
        (r.step_idx, r.step_name): r.n_users
        for r in funnel(
            _ev(spark, rows), steps=("view", "click", "signup")
        ).collect()
    }
    assert out == {(1, "view"): 1, (2, "click"): 0, (3, "signup"): 0}


def test_cohort_retention_matrix(spark):
    from graphiti_spark.operators.events import cohort_retention

    def at(y, m, d):
        return dt.datetime(y, m, d, 12, 0, 0)

    rows = [
        # user 1: cohort 2024-01, active again in 02 and 04 (twice in
        # 02 — must count once)
        (1, at(2024, 1, 5), 1, "view", 0.0, "{}"),
        (2, at(2024, 2, 5), 1, "view", 0.0, "{}"),
        (3, at(2024, 2, 20), 1, "view", 0.0, "{}"),
        (4, at(2024, 4, 1), 1, "view", 0.0, "{}"),
        # user 2: cohort 2024-02 only
        (5, at(2024, 2, 9), 2, "view", 0.0, "{}"),
    ]
    out = {
        (r.cohort_month, r.activity_month): r.n_users
        for r in cohort_retention(_ev(spark, rows)).collect()
    }
    assert out == {
        ("2024-01", "2024-01"): 1,
        ("2024-01", "2024-02"): 1,
        ("2024-01", "2024-04"): 1,
        ("2024-02", "2024-02"): 1,
    }


def test_rolling_active_users_windows(spark):
    from graphiti_spark.operators.events import rolling_active_users

    def at(y, m, d):
        return dt.datetime(y, m, d, 3, 0, 0)

    rows = [
        # user 1 on day 1 and day 3 (same user twice inside one
        # trailing window → counted once); user 2 on day 1 only
        (1, at(2024, 1, 1), 1, "view", 0.0, "{}"),
        (2, at(2024, 1, 3), 1, "view", 0.0, "{}"),
        (3, at(2024, 1, 1), 2, "view", 0.0, "{}"),
        # user 3 far later: day 20 (gap > window → days 9..19 silent)
        (4, at(2024, 1, 20), 3, "view", 0.0, "{}"),
    ]
    out = {
        r.day.isoformat(): (r.n_active_1d, r.n_active_wd)
        for r in rolling_active_users(_ev(spark, rows), window_days=7).collect()
    }
    assert out["2024-01-01"] == (2, 2)
    assert out["2024-01-03"] == (1, 2)  # u1 active today, u2 trailing
    assert out["2024-01-07"] == (0, 2)  # gap day covered by trailing
    assert out["2024-01-09"] == (0, 1)  # day 3 + 6 still covers u1
    assert "2024-01-10" not in out      # window expired, nothing active
    assert out["2024-01-20"] == (1, 1)
    # clamped at dmax: no observation days past the last active day
    assert max(out) == "2024-01-20"
