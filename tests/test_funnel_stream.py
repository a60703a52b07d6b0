"""Incremental funnel maintenance: affected-only recompute must equal
the one-shot batch funnel (including under out-of-order/late events
that RE-ANCHOR a user), replay idempotently, and touch only the
batch's users."""

from datetime import datetime

from graphraft_spark.ops.funnel import funnel
from graphraft_spark.streaming.funnel_stream import (
    append_events,
    read_funnel,
    refresh_funnel,
)

STEPS = ["A", "B"]


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, datetime(2024, 1, d, h), t) for u, d, h, t in rows],
        "user_id bigint, ts timestamp_ntz, event_type string")


def _dirs(tmp_path):
    return str(tmp_path / "log"), str(tmp_path / "funnel")


def _state(spark, funnel_dir):
    return {r["user"]: (r["t1"], r["t2"], r["converted"])
            for r in read_funnel(spark, funnel_dir).collect()}


def test_incremental_equals_batch_with_late_reanchor(spark, tmp_path):
    log_dir, funnel_dir = _dirs(tmp_path)
    b0 = _ev(spark, [(1, 5, 0, "A"), (1, 6, 0, "B"), (2, 5, 0, "A")])
    # late batch: user 1 gets an A EARLIER than the current anchor
    # (re-anchors t1 d5→d2; B at d6 still binds) and a B at d3 that the
    # new anchor now binds FIRST — binding must move to d3.
    b1 = _ev(spark, [(1, 2, 0, "A"), (1, 3, 0, "B")])
    append_events(b0, 0, log_dir)
    refresh_funnel(spark, log_dir, funnel_dir, 0, STEPS)
    append_events(b1, 1, log_dir)
    refresh_funnel(spark, log_dir, funnel_dir, 1, STEPS)

    want = {r["user"]: (r["t1"], r["t2"], r["converted"])
            for r in funnel(b0.unionByName(b1), STEPS).collect()}
    assert _state(spark, funnel_dir) == want
    d = lambda day: int(datetime(2024, 1, day).timestamp() * 1_000_000)
    assert _state(spark, funnel_dir)[1] == (d(2), d(3), True)


def test_refresh_touches_only_batch_users(spark, tmp_path):
    log_dir, funnel_dir = _dirs(tmp_path)
    append_events(_ev(spark, [(1, 1, 0, "A"), (2, 1, 0, "A")]), 0, log_dir)
    n0 = refresh_funnel(spark, log_dir, funnel_dir, 0, STEPS)
    append_events(_ev(spark, [(2, 2, 0, "B")]), 1, log_dir)
    n1 = refresh_funnel(spark, log_dir, funnel_dir, 1, STEPS)
    assert n0 == 2 and n1 == 1      # epoch 1 recomputes user 2 only
    st = _state(spark, funnel_dir)
    assert st[2][2] is True and st[1][2] is False


def test_epoch_replay_is_idempotent(spark, tmp_path):
    log_dir, funnel_dir = _dirs(tmp_path)
    b0 = _ev(spark, [(1, 1, 0, "A"), (1, 2, 0, "B")])
    append_events(b0, 0, log_dir)
    refresh_funnel(spark, log_dir, funnel_dir, 0, STEPS)
    before = _state(spark, funnel_dir)
    # at-least-once delivery: the same epoch replays wholesale
    append_events(b0, 0, log_dir)
    refresh_funnel(spark, log_dir, funnel_dir, 0, STEPS)
    assert _state(spark, funnel_dir) == before


def test_empty_funnel_dir_reads_empty(spark, tmp_path):
    assert read_funnel(spark, str(tmp_path / "nope")).count() == 0
