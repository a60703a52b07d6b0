"""Property-based tests for the round-8 operators: brute-force Python
oracles over random instances (pure-python planner properties run at
full hypothesis volume; Spark round-trips keep example counts low)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SPARK_SETTINGS = dict(max_examples=6, deadline=None,
                      suppress_health_check=[
                          HealthCheck.function_scoped_fixture])


# ---------- pure-python planner properties (fast, high volume) ----------

hist_st = st.dictionaries(st.integers(1, 40), st.integers(1, 50),
                          min_size=1, max_size=10)


@settings(max_examples=200, deadline=None)  # first call pays the import
@given(hist=hist_st, bands=st.integers(1, 8),
       ppd=st.floats(0.5, 64.0))
def test_adaptive_cap_work_within_budget_or_floor(hist, bands, ppd):
    from graphraft_spark.ops.dedup import adaptive_bucket_cap

    cap = adaptive_bucket_cap(hist, bands, pairs_per_doc=ppd)
    assert cap >= 1

    def work(c):
        return sum(n * (s * (s - 1) // 2 if s <= c else s - 1)
                   for s, n in hist.items())

    memberships = sum(s * n for s, n in hist.items())
    budget = ppd * memberships / bands
    # chosen cap fits the budget unless even the all-star floor doesn't
    if work(cap) > budget:
        assert cap == 1
    # maximality: the next larger observed size must bust the budget
    bigger = [s for s in hist if s > cap]
    if bigger and work(min(bigger)) <= budget:
        raise AssertionError("cap not maximal")


# ---------- Spark round-trip properties ----------

events_st = st.lists(
    st.tuples(st.integers(0, 2),          # key
              st.integers(0, 40),         # ts
              st.floats(-5, 5, allow_nan=False)),
    min_size=1, max_size=16)


@settings(**SPARK_SETTINGS)
@given(rows=events_st, step=st.sampled_from([3, 7, 10]))
def test_resample_ffill_matches_bruteforce(spark, rows, step):
    from graphraft_spark.ops.temporal import resample_ffill

    df = spark.createDataFrame(rows, "k int, ts_sec long, value double")
    got = {(r.k, r.bucket_ts): (r.value_ffill, r.is_observed)
           for r in resample_ffill(df, key="k", step=step).collect()}

    want = {}
    by_key = {}
    for k, ts, v in rows:
        by_key.setdefault(k, []).append((ts, v))
    for k, obs in by_key.items():
        buckets = {}
        for ts, v in obs:
            b = (ts // step) * step
            buckets[b] = max(buckets.get(b, -math.inf), v)
        lo, hi = min(buckets), max(buckets)
        last = None
        t = lo
        while t <= hi:
            if t in buckets:
                last = buckets[t]
            want[(k, t)] = (last, t in buckets)
            t += step
    assert {k: (round(a, 9) if a is not None else None, b)
            for k, (a, b) in got.items()} \
        == {k: (round(a, 9) if a is not None else None, b)
            for k, (a, b) in want.items()}


basket_st = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 4)),
    min_size=1, max_size=20, unique=True)


@settings(**SPARK_SETTINGS)
@given(memb=basket_st)
def test_bipartite_project_matches_bruteforce(spark, memb):
    from graphraft_spark.graph.algos import bipartite_project

    df = spark.createDataFrame(memb, "src int, dst int")
    got = {(r.a, r.b): r.weight
           for r in bipartite_project(df, left="src",
                                      right="dst").collect()}
    baskets = {}
    for item, basket in memb:
        baskets.setdefault(basket, set()).add(item)
    want = {}
    for items in baskets.values():
        s = sorted(items)
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want


cand_st = st.lists(
    st.tuples(st.integers(0, 2),                       # prompt
              st.integers(0, 99),                      # candidate id
              st.integers(-10, 10)),                   # reward
    min_size=1, max_size=15, unique_by=lambda t: (t[0], t[1]))


@settings(**SPARK_SETTINGS)
@given(rows=cand_st)
def test_dpo_pairs_extremes_and_margin(spark, rows):
    from graphraft_spark.ops.preference import dpo_pairs

    df = spark.createDataFrame(
        [(p, f"c{c:02d}", float(r)) for p, c, r in rows],
        "prompt_id int, candidate string, reward double")
    got = {r.prompt_id: r for r in dpo_pairs(df, min_margin=2.0).collect()}

    by_p = {}
    for p, c, r in rows:
        by_p.setdefault(p, []).append((f"c{c:02d}", float(r)))
    for p, cands in by_p.items():
        if len(cands) < 2:
            assert p not in got
            continue
        chosen = min(cands, key=lambda t: (-t[1], t[0]))
        rest = [t for t in cands if t != chosen]
        rejected = max(rest, key=lambda t: (-t[1], t[0]))
        margin = chosen[1] - rejected[1]
        if margin < 2.0:
            assert p not in got
        else:
            r = got[p]
            assert (r.chosen, r.rejected) == (chosen[0], rejected[0])
            assert r.margin == margin
