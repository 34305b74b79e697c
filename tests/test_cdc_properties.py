"""Property-based check of the changelog→state core: for ANY sequence of
insert/update/delete events and ANY micro-batch chunking, incremental
``apply_changelog`` must produce the same final state as a naive
one-key-dict replay (and as a single-shot ``latest_state``)."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_streaming_etl_spark.sources.cdc import CdcSource, latest_state

from tests.test_cdc import ORDER_SCHEMA, raw_df

KEYS = ["o1", "o2", "o3"]
STATUSES = ["created", "payed", "closed"]

event_st = st.tuples(
    st.sampled_from(["c", "u", "d"]),
    st.sampled_from(KEYS),
    st.sampled_from(STATUSES),
    st.floats(min_value=1.0, max_value=9.0, allow_nan=False),
)


def _envelope(op, key, status, amount, ts):
    row = {
        "id": key,
        "user_id": "u",
        "amount": amount,
        "status": status,
        "ctime": "2020-07-30 10:00:00",
    }
    before = row if op == "d" else None
    after = None if op == "d" else row
    return json.dumps(
        {"before": before, "after": after, "source": None, "op": op, "ts_ms": ts}
    )


def _model(events):
    state = {}
    for op, key, status, amount in events:
        if op == "d":
            state.pop(key, None)
        else:
            state[key] = (status, amount)
    return state


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    events=st.lists(event_st, min_size=1, max_size=10),
    n_chunks=st.integers(min_value=1, max_value=3),
)
def test_apply_changelog_equals_model(spark, events, n_chunks):
    src = CdcSource("orders", ORDER_SCHEMA, "id")
    lines = [
        _envelope(op, key, status, amount, ts)
        for ts, (op, key, status, amount) in enumerate(events, start=1)
    ]
    # Single-shot reduction.
    single = latest_state(src.parse(raw_df(spark, lines)), "id")
    # Incremental reduction over an arbitrary chunking. Each chunk's ts_ms
    # counts from 1 again: a later chunk must beat state even when its
    # ts_ms is lower.
    size = max(1, len(lines) // n_chunks)
    state = None
    for i in range(0, len(lines), size):
        chunk_lines = [
            _envelope(op, key, status, amount, ts)
            for ts, (op, key, status, amount) in enumerate(events[i : i + size], start=1)
        ]
        chunk = src.parse(raw_df(spark, chunk_lines))
        state = src.snapshot_then_changelog(state, chunk) if state is not None else None
        if state is None:
            from flink_streaming_etl_spark.sources.cdc import apply_changelog

            state = apply_changelog(None, chunk, ["id"])
    want = _model(events)
    got_single = {r["id"]: (r["status"], r["amount"]) for r in single.collect()}
    got_incr = {r["id"]: (r["status"], r["amount"]) for r in state.collect()}
    assert got_single == want
    assert got_incr == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    events_a=st.lists(event_st, min_size=0, max_size=8),
    events_b=st.lists(event_st, min_size=0, max_size=8),
)
def test_emit_changelog_round_trip_property(spark, events_a, events_b):
    """For ANY two states reachable from event sequences, emitting the diff
    changelog and replaying it onto the first state reproduces the second
    exactly — emit is apply's true inverse, not just on hand-picked cases."""
    from flink_streaming_etl_spark.sources.cdc import apply_changelog, emit_changelog

    src = CdcSource("orders", ORDER_SCHEMA, "id")

    def build(events):
        if not events:
            return None
        lines = [
            _envelope(op, key, status, amount, ts)
            for ts, (op, key, status, amount) in enumerate(events, start=1)
        ]
        return apply_changelog(None, src.parse(raw_df(spark, lines)), ["id"])

    old, new = build(events_a), build(events_b)
    if new is None:
        return  # emit targets a concrete new state; deletion-to-empty is
        # covered by the example test via explicit d-ops
    log = emit_changelog(old, new, "id", ts_ms=7)
    replayed = apply_changelog(old, log, ["id"])
    got = {r["id"]: (r["status"], r["amount"]) for r in replayed.collect()}
    want = {r["id"]: (r["status"], r["amount"]) for r in new.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Round 10: the retractable TopK / COUNT(DISTINCT) accumulators under
# ARBITRARY valid changelogs. Unlike apply_changelog (upsert semantics,
# robust to malformed sequences), the signed-delta accumulators require
# the Debezium contract: faithful before-images, c only on dead keys,
# u/d only on live ones — so the generator tracks model state and emits
# only valid envelopes, exercising every transition (insert, in-place
# update, group-moving update, delete, reinsert) across arbitrary
# chunkings.

VKEYS = ["o1", "o2", "o3", "o4"]
VUSERS = ["u1", "u2"]


@st.composite
def valid_changelog(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    state, events = {}, []
    for _ in range(n):
        live = sorted(state)
        if live and draw(st.booleans()):
            key = draw(st.sampled_from(live))
            if draw(st.booleans()):  # delete
                events.append(("d", key, state.pop(key), None))
                continue
            new = (
                draw(st.sampled_from(STATUSES)),
                draw(st.sampled_from(VUSERS)),
                draw(st.floats(min_value=1.0, max_value=9.0, allow_nan=False)),
            )
            events.append(("u", key, state[key], new))
            state[key] = new
        else:
            dead = [k for k in VKEYS if k not in state]
            if not dead:
                continue
            key = draw(st.sampled_from(dead))
            new = (
                draw(st.sampled_from(STATUSES)),
                draw(st.sampled_from(VUSERS)),
                draw(st.floats(min_value=1.0, max_value=9.0, allow_nan=False)),
            )
            events.append(("c", key, None, new))
            state[key] = new
    return events


def _venv(op, key, before, after, ts):
    def row(v):
        if v is None:
            return None
        status, user, amount = v
        return {"id": key, "user_id": user, "amount": amount,
                "status": status, "ctime": "2020-07-30 10:00:00"}

    return json.dumps({"before": row(before), "after": row(after),
                       "source": None, "op": op, "ts_ms": ts})


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=valid_changelog(), n_chunks=st.integers(min_value=1, max_value=2))
def test_retractable_topk_and_distinct_equal_recompute(spark, events, n_chunks):
    from pyspark.sql import functions as F

    from flink_streaming_etl_spark.sources.cdc import apply_changelog
    from flink_streaming_etl_spark.streaming.incremental import (
        IncrementalDistinctCount,
    )
    from flink_streaming_etl_spark.streaming.topk import IncrementalTopK

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    lines = [_venv(op, k, b, a, ts)
             for ts, (op, k, b, a) in enumerate(events, start=1)]
    topk = IncrementalTopK(pk="id", group_cols=["status"], order_col="amount", k=2)
    dc = IncrementalDistinctCount(
        key_exprs=lambda img: [img["status"]], value=lambda img: img["user_id"]
    )
    state = None
    size = max(1, len(lines) // n_chunks)
    for bi, i in enumerate(range(0, len(lines), size)):
        chunk = src.parse(raw_df(spark, lines[i : i + size]))
        topk.apply(chunk, batch_id=bi)
        dc.apply(chunk, batch_id=bi)
        state = apply_changelog(state, chunk, "id")
        got_t = sorted(tuple(r) for r in topk.result().collect())
        want_t = sorted(tuple(r) for r in topk.recompute().collect())
        assert got_t == want_t, f"topk batch {bi}"
        got_d = sorted((r["k0"], r["distinct_cnt"]) for r in dc.result().collect())
        want_d = sorted(
            (r["status"], r["d"])
            for r in state.groupBy("status")
            .agg(F.count_distinct("user_id").alias("d"))
            .collect()
        )
        assert got_d == want_d, f"distinct batch {bi}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=valid_changelog())
def test_compact_changelog_law(spark, events):
    """Compaction law: applying the compacted log from empty equals
    applying the full log; the compacted log carries at most one
    envelope per key, and net no-op keys (created-and-deleted, or
    net-unchanged updates) vanish entirely."""
    from flink_streaming_etl_spark.sources.cdc import (
        CdcSource,
        apply_changelog,
        compact_changelog,
    )

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    lines = [_venv(op, k, b, a, ts)
             for ts, (op, k, b, a) in enumerate(events, start=1)]
    log = src.parse(raw_df(spark, lines))
    compacted = compact_changelog(log, "id")

    def rows(state):
        if state is None:
            return []
        return sorted(tuple(r) for r in state.collect())

    full = apply_changelog(None, log, "id")
    via_compact = apply_changelog(None, compacted, "id")
    assert rows(full) == rows(via_compact)

    envs = compacted.collect()
    keys = [(r["before"] or r["after"])["id"] for r in envs]
    assert len(keys) == len(set(keys))  # ≤ 1 envelope per key
    # live keys appear as c (log starts from empty); dead keys vanish
    live = {r["id"] for r in full.collect()}
    assert {k for k in keys} <= live | set()
    for r in envs:
        assert r["op"] in ("c", "u", "d")


def test_compact_changelog_midstream_branches(spark):
    """Branches the from-empty generator can't reach: a log whose first
    per-key op is u or d (key predates the log), plus a net-unchanged
    update pair that must vanish."""
    from flink_streaming_etl_spark.sources.cdc import (
        CdcSource,
        apply_changelog,
        compact_changelog,
    )

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    A = ("payed", "u1", 5.0)
    B = ("payed", "u1", 7.0)
    lines = [
        # o1: u then u → one net u (first before, last after)
        _venv("u", "o1", A, B, 1),
        _venv("u", "o1", B, ("closed", "u1", 7.0), 2),
        # o2: u then back → net-unchanged, must vanish
        _venv("u", "o2", A, B, 3),
        _venv("u", "o2", B, A, 4),
        # o3: straight delete of a pre-log key
        _venv("d", "o3", A, None, 5),
        # o4: u then d → one net d carrying the FIRST before-image
        _venv("u", "o4", A, B, 6),
        _venv("d", "o4", B, None, 7),
    ]
    log = src.parse(raw_df(spark, lines))
    envs = {(r["before"] or r["after"])["id"]: r
            for r in compact_changelog(log, "id").collect()}
    assert set(envs) == {"o1", "o3", "o4"}  # o2 vanished
    assert envs["o1"]["op"] == "u"
    assert envs["o1"]["before"]["amount"] == 5.0  # first B
    assert envs["o1"]["after"]["status"] == "closed"  # last A
    assert envs["o3"]["op"] == "d" and envs["o3"]["after"] is None
    assert envs["o4"]["op"] == "d"
    assert envs["o4"]["before"]["amount"] == 5.0  # first B, not the mid image

    # the law against a consistent PRIOR state (keys predate the log)
    prior_lines = [_venv("c", k, None, A, 0) for k in ("o1", "o2", "o3", "o4")]
    prior = apply_changelog(None, src.parse(raw_df(spark, prior_lines)), "id")
    full = apply_changelog(prior, log, "id")
    via = apply_changelog(prior, compact_changelog(log, "id"), "id")
    assert sorted(tuple(r) for r in full.collect()) == sorted(
        tuple(r) for r in via.collect()
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=valid_changelog(), n_chunks=st.integers(min_value=1, max_value=2))
def test_retractable_collect_equals_recompute(spark, events, n_chunks):
    """Round 11: IncrementalCollect under arbitrary contract-valid
    changelogs and chunkings — including NULL group keys (status
    'closed' is mapped to NULL consistently in both images, so the
    faithful-before-image contract holds and the NULL group sees real
    inserts/updates/deletes). The same relabeling stresses the null-safe
    touched-group probes of IncrementalTopK."""
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from flink_streaming_etl_spark.streaming.topk import IncrementalTopK

    def _nenv(op, key, before, after, ts):
        def row(v):
            if v is None:
                return None
            status, user, amount = v
            return {"id": key, "user_id": user, "amount": amount,
                    "status": None if status == "closed" else status,
                    "ctime": "2020-07-30 10:00:00"}

        return json.dumps({"before": row(before), "after": row(after),
                           "source": None, "op": op, "ts_ms": ts})

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    lines = [_nenv(op, k, b, a, ts)
             for ts, (op, k, b, a) in enumerate(events, start=1)]
    ic = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"])
    tk = IncrementalTopK(pk="id", group_cols=["status"], order_col="amount", k=2)
    size = max(1, len(lines) // n_chunks)
    key = lambda rows: sorted(  # noqa: E731 — None-safe sort
        rows, key=lambda t: tuple(str(x) for x in t)
    )
    for bi, i in enumerate(range(0, len(lines), size)):
        chunk = src.parse(raw_df(spark, lines[i : i + size]))
        ic.apply(chunk, batch_id=bi)
        tk.apply(chunk, batch_id=bi)
        got = key(tuple(r) for r in ic.result().collect())
        want = key(tuple(r) for r in ic.recompute().collect())
        assert got == want, f"collect batch {bi}"
        got_t = key(tuple(r) for r in tk.result().collect())
        want_t = key(tuple(r) for r in tk.recompute().collect())
        assert got_t == want_t, f"topk batch {bi}"


# ---------------------------------------------------------------------------
# Round 11: the join COMPOSITIONS under arbitrary TWO-SIDED contract-
# valid changelogs — fact (orders) and dimension (customers) streams
# interleave freely; every transition (insert/update/delete on either
# side, fk to a not-yet-existing or already-deleted customer, multiple
# ops on one key inside one batch) exercises the signed delta algebra
# ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR and both downstream folds (SUM/COUNT, LISTAGG).

CUST_KEYS = ["u1", "u2", "u3"]
AREAS = ["EU", "US"]


@st.composite
def valid_two_sided_changelog(draw):
    n = draw(st.integers(min_value=2, max_value=12))
    orders, custs = {}, {}
    events = []  # (side, op, key, before, after)
    for _ in range(n):
        if draw(st.booleans()):  # customer side
            state, keys, side = custs, CUST_KEYS, "R"
            mk = lambda: (draw(st.sampled_from(["ann", "bob", "eve"])),  # noqa: E731
                          draw(st.sampled_from(AREAS)))
        else:
            state, keys, side = orders, VKEYS, "L"
            mk = lambda: (draw(st.sampled_from(STATUSES)),  # noqa: E731
                          draw(st.sampled_from(CUST_KEYS)),
                          draw(st.floats(min_value=1.0, max_value=9.0,
                                         allow_nan=False)))
        live = sorted(state)
        if live and draw(st.booleans()):
            key = draw(st.sampled_from(live))
            if draw(st.booleans()):
                events.append((side, "d", key, state.pop(key), None))
            else:
                new = mk()
                events.append((side, "u", key, state[key], new))
                state[key] = new
        else:
            dead = [k for k in keys if k not in state]
            if not dead:
                continue
            key = draw(st.sampled_from(dead))
            new = mk()
            events.append((side, "c", key, None, new))
            state[key] = new
    return events


def _order_row(key, v):
    if v is None:
        return None
    status, user, amount = v
    return {"id": key, "user_id": user, "amount": amount, "status": status,
            "ctime": "2020-07-30 10:00:00"}


def _cust_row(key, v):
    if v is None:
        return None
    name, area = v
    return {"id": key, "name": name, "area": area}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=valid_two_sided_changelog(), n_chunks=st.integers(min_value=1, max_value=2))
def test_join_compositions_equal_recompute_two_sided(spark, events, n_chunks):
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from flink_streaming_etl_spark.streaming.incremental_join import (
        IncrementalJoin,
        IncrementalJoinAgg,
        IncrementalJoinCollect,
    )

    cust_schema = StructType([StructField("id", StringType()),
                              StructField("name", StringType()),
                              StructField("area", StringType())])
    lsrc = CdcSource("orders", ORDER_SCHEMA, "id")
    rsrc = CdcSource("customers", cust_schema, "id")

    def mk():
        join = IncrementalJoin(left_pk="id", right_pk="id",
                               left_key="user_id", right_key="id")
        return join

    agg = IncrementalJoinAgg(
        mk(), group_cols={"user_id": "user_id"},
        amount=F.col("amount"), predicate=F.col("status") != "closed",
    )
    jc = IncrementalJoinCollect(
        mk(), group_cols=["area"], value_cols=["id"],
    )
    plain = mk()

    def norm(df):
        if df is None:
            return []
        return sorted((tuple(r) for r in df.collect()),
                      key=lambda t: tuple(str(x) for x in t))

    size = max(1, len(events) // n_chunks)
    for bi, i in enumerate(range(0, len(events), size)):
        batch = events[i : i + size]
        llines = [json.dumps({"before": _order_row(k, b), "after": _order_row(k, a),
                              "source": None, "op": op, "ts_ms": i + j})
                  for j, (s, op, k, b, a) in enumerate(batch) if s == "L"]
        rlines = [json.dumps({"before": _cust_row(k, b), "after": _cust_row(k, a),
                              "source": None, "op": op, "ts_ms": i + j})
                  for j, (s, op, k, b, a) in enumerate(batch) if s == "R"]
        lc = lsrc.parse(raw_df(spark, llines)) if llines else None
        rc = rsrc.parse(raw_df(spark, rlines)) if rlines else None
        if lc is None and rc is None:
            continue
        plain.apply(lc, rc, batch_id=bi)
        agg.apply(lc, rc, batch_id=bi)
        jc.apply(lc, rc, batch_id=bi)
        assert norm(plain.result()) == norm(plain.recompute()), f"join b{bi}"
        assert norm(agg.result()) == norm(agg.recompute()), f"agg b{bi}"
        assert norm(jc.result()) == norm(jc.recompute()), f"collect b{bi}"
