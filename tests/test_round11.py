"""Round-11 additions: bounded streaming data-quality state, the
rfm_segmentation approx-threshold scale regime, retractable
LISTAGG/COLLECT, touched-bucket state saves, and the r10 ADVICE fixes."""

import pyspark.sql
import pytest
from pyspark.sql import functions as F

from flink_streaming_etl_spark.catalog import load_tables
from tests.conftest import SF_SMOKE


def _tables(spark):
    return load_tables(spark, SF_SMOKE, register=False)


# ---------------------------------------------------------------------------
# DataQualityAccumulator: bounded state, O(1) driver transfer (r10 verdict #1)


def test_data_quality_accumulator_driver_transfer_is_scalar(spark, monkeypatch):
    """add_batch must never collect a row set to the driver — only
    scalar aggregates (first()/count()). The seen-key state lives as a
    distributed relation, so driver memory is O(1) in corpus size."""
    from flink_streaming_etl_spark.streaming.data_quality import (
        DataQualityAccumulator,
    )

    t = _tables(spark)
    orders, customer = t["orders"], t["customer"]
    dim = {r["c_custkey"] for r in customer.select("c_custkey").collect()}
    batch = spark.createDataFrame(orders.limit(40).collect(), orders.schema)

    acc = DataQualityAccumulator(dim_keys=dim)

    def _no_collect(self):
        raise AssertionError("add_batch collected a row set to the driver")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", _no_collect)
    monkeypatch.setattr(pyspark.sql.DataFrame, "toLocalIterator", _no_collect)
    acc.add_batch(batch, batch_id=0)
    acc.add_batch(batch, batch_id=1)  # second batch exercises the seen join
    monkeypatch.undo()

    assert acc.n_rows == 80
    # every key of batch 1 was already seen -> all 40 rows are dups, plus
    # 0 within-batch dups in batch 0
    assert acc.violations["orderkey_unique"] == 40
    # internal state is a DataFrame relation, not a Python set
    assert isinstance(acc._seen, pyspark.sql.DataFrame)
    assert not hasattr(acc, "seen_keys")


def test_data_quality_accumulator_null_keys_match_batch(spark):
    """NULL o_orderkey rows all count as uniqueness violations, exactly
    the batch operator's n_rows - count_distinct(key) rule (ADVICE r10),
    and n_custkey NULLs as completeness violations."""
    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.streaming.data_quality import (
        DataQualityAccumulator,
    )

    t = _tables(spark)
    orders, customer = t["orders"], t["customer"]
    rows = orders.orderBy("o_orderkey").limit(20).collect()
    nulled = [
        # three NULL-keyed rows, split across batches
        {**rows[0].asDict(), "o_orderkey": None},
        {**rows[1].asDict(), "o_orderkey": None},
        {**rows[2].asDict(), "o_orderkey": None},
    ]
    b0 = rows[:10] + [pyspark.sql.Row(**nulled[0])]
    b1 = rows[10:] + [pyspark.sql.Row(**nulled[1]), pyspark.sql.Row(**nulled[2])]
    dim = {r["c_custkey"] for r in customer.select("c_custkey").collect()}

    acc = DataQualityAccumulator(dim_keys=dim)
    acc.add_batch(spark.createDataFrame(b0, orders.schema), batch_id=0)
    acc.add_batch(spark.createDataFrame(b1, orders.schema), batch_id=1)

    union = spark.createDataFrame(b0 + b1, orders.schema)
    want = sorted(tuple(r) for r in an.data_quality_report(union, customer).collect())
    got = sorted(tuple(r) for r in acc.result(spark).collect())
    assert got == want
    assert acc.violations["orderkey_unique"] == 3  # the three NULL rows


# ---------------------------------------------------------------------------
# rfm_segmentation two-regime scale guard (r10 verdict #2)


def _rfm_synth(spark):
    """Two segments x 8 customers, all three metrics distinct within a
    segment and n_seg % 4 == 0 — the configuration where rank quartiles
    and threshold quartiles agree EXACTLY (no boundary ties)."""
    orders, customers = [], []
    ok = 0
    for s, seg in enumerate(["AUTOMOBILE", "BUILDING"]):
        for i in range(1, 9):
            ck = s * 100 + i
            customers.append((ck, seg))
            # frequency = i orders; last date advances with i (distinct
            # recency); per-order price grows with i (distinct monetary)
            for j in range(i):
                ok += 1
                orders.append(
                    (ok, ck, f"1995-0{s + 1}-{i:02d}", float(100 * i + j + 1))
                )
    o = spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderdate string, o_totalprice double"
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    c = spark.createDataFrame(customers, "c_custkey long, c_mktsegment string")
    return o, c


def test_rfm_approx_regime_matches_exact_away_from_boundaries(spark):
    from flink_streaming_etl_spark.operators import analytics as an

    o, c = _rfm_synth(spark)
    exact = {r["c_custkey"]: tuple(r) for r in an.rfm_segmentation(o, c, approx=False).collect()}
    approx = {r["c_custkey"]: tuple(r) for r in an.rfm_segmentation(o, c, approx=True).collect()}
    assert exact == approx
    assert len(exact) == 16


def test_rfm_approx_plan_has_no_window_sort(spark):
    """The scale regime's plan must contain NO window operator — the
    quartile assignment is a broadcast join + map-side CASE."""
    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.plans import plan_text

    t = _tables(spark)
    plan = plan_text(an.rfm_segmentation(t["orders"], t["customer"], approx=True))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_rfm_auto_guard_selects_by_size(spark, monkeypatch):
    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.plans import plan_text

    o, c = _rfm_synth(spark)
    monkeypatch.setattr(an, "RFM_EXACT_MAX_ROWS", 0)
    big = an.rfm_segmentation(o, c)  # auto -> approx above the cap
    assert "Window" not in plan_text(big)
    monkeypatch.setattr(an, "RFM_EXACT_MAX_ROWS", 10**9)
    small = an.rfm_segmentation(o, c)  # auto -> exact under the cap
    assert "Window" in plan_text(small)


# ---------------------------------------------------------------------------
# IncrementalCollect: retractable LISTAGG/COLLECT (r10 verdict #3)


def _collect_rows(df):
    return sorted(
        (tuple(r[c] for c in ("status", "items", "n_items")) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t),
    )


def test_incremental_collect_equals_recompute_after_every_prefix(spark):
    """±delta LISTAGG: equality-vs-recompute after every changelog
    prefix, including retraction of a MID-LIST element and a cross-group
    move."""
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    B = lambda lines: src.parse(raw_df(spark, lines))  # noqa: E731
    batches = [
        [env("c", order("o1", "u1", 10.0, "payed"), ts=1),
         env("c", order("o2", "u2", 20.0, "payed"), ts=2),
         env("c", order("o3", "u3", 30.0, "payed"), ts=3),
         env("c", order("o4", "u4", 40.0, "created"), ts=4)],
        # retract the MID-list element (o2 sorts between o1 and o3)
        [env("d", before=order("o2", "u2", 20.0, "payed"), ts=5)],
        # cross-group move: o3 leaves payed, joins created
        [env("u", order("o3", "u3", 30.0, "created"),
             before=order("o3", "u3", 30.0, "payed"), ts=6)],
        # the whole created group drains away
        [env("d", before=order("o3", "u3", 30.0, "created"), ts=7),
         env("d", before=order("o4", "u4", 40.0, "created"), ts=8)],
    ]
    inc = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"])
    for i, lines in enumerate(batches):
        inc.apply(B(lines), batch_id=i)
        assert _collect_rows(inc.result()) == _collect_rows(inc.recompute()), i
    assert _collect_rows(inc.result()) == [("payed", "o1", 1)]
    # replay no-op
    assert inc.apply(B(batches[-1]), batch_id=3) is None
    assert _collect_rows(inc.result()) == [("payed", "o1", 1)]


def test_incremental_collect_matches_batch_listagg_kernel(spark):
    """On an insert-only changelog the maintained relation is exactly
    the batch LISTAGG aggregate over the same rows."""
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    lines = [env("c", order(f"o{i}", f"u{i % 3}", float(i), "payed" if i % 2 else "created"), ts=i)
             for i in range(1, 11)]
    inc = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"])
    inc.apply(src.parse(raw_df(spark, lines)), batch_id=0)
    batch = (
        inc.state.groupBy("status")
        .agg(
            F.array_join(F.sort_array(F.collect_list(F.col("id").cast("string"))), ",").alias("items"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    assert _collect_rows(inc.result()) == _collect_rows(batch)


def test_incremental_collect_state_survives_restart(spark, tmp_path):
    """Durable-state round trip under a persistent checkpoint, the
    streaming/state_store.py contract (same drive as IncrementalTopK's)."""
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from tests.test_cdc import ORDER_SCHEMA, env, order

    d = tmp_path / "orders"
    d.mkdir()
    (d / "b0.jsonl").write_text(
        "\n".join([env("c", order("o1", "u1", 10.0, "payed"), ts=1),
                   env("c", order("o2", "u2", 20.0, "payed"), ts=2)])
    )
    src = CdcSource("orders", ORDER_SCHEMA, "id")
    ck = str(tmp_path / "ck")
    c1 = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"],
                            state_dir=str(tmp_path / "st"))
    c1.attach(src.stream_changelog(spark, str(d)), checkpoint_root=ck).awaitTermination(120)
    del c1  # the restart

    (d / "b1.jsonl").write_text(
        "\n".join([env("d", before=order("o1", "u1", 10.0, "payed"), ts=3),
                   env("c", order("o3", "u3", 30.0, "created"), ts=4)])
    )
    c2 = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"],
                            state_dir=str(tmp_path / "st"))
    assert c2.restore(spark)
    assert c2.last_batch_id == 0
    c2.attach(src.stream_changelog(spark, str(d)), checkpoint_root=ck).awaitTermination(120)
    assert _collect_rows(c2.result()) == _collect_rows(c2.recompute())
    assert _collect_rows(c2.result()) == [("created", "o3", 1), ("payed", "o2", 1)]


def test_incremental_topk_and_collect_null_group(spark):
    """A NULL group key is a real group (ADVICE r10): its slice
    refreshes on touch, so result() == recompute() holds with NULLs."""
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from flink_streaming_etl_spark.streaming.topk import IncrementalTopK
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    B = lambda lines: src.parse(raw_df(spark, lines))  # noqa: E731
    batches = [
        [env("c", order("o1", "u1", 10.0, None), ts=1),
         env("c", order("o2", "u2", 20.0, None), ts=2),
         env("c", order("o3", "u3", 30.0, "payed"), ts=3)],
        # retraction INSIDE the NULL group — r10's na.drop shape left
        # this group's maintained slice stale
        [env("d", before=order("o2", "u2", 20.0, None), ts=4)],
    ]
    tk = IncrementalTopK(pk="id", group_cols=["status"], order_col="amount", k=1)
    ic = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"])
    for i, lines in enumerate(batches):
        tk.apply(B(lines), batch_id=i)
        ic.apply(B(lines), batch_id=i)
        assert _topk_rows_r11(tk.result()) == _topk_rows_r11(tk.recompute()), i
        assert _collect_rows(ic.result()) == _collect_rows(ic.recompute()), i
    assert (None, "o1", 1) in _collect_rows(ic.result())


def _topk_rows_r11(df):
    return sorted(
        (tuple((r[c] is None, r[c]) for c in ("status",)), r["rank"], r["id"])
        for r in df.collect()
    )


# ---------------------------------------------------------------------------
# IncrementalJoinAgg composed durable state (ADVICE r10, both mediums)


def _mk_join_agg(state_dir=None):
    from flink_streaming_etl_spark.streaming.incremental_join import (
        IncrementalJoin,
        IncrementalJoinAgg,
    )

    join = IncrementalJoin(
        left_pk="id", right_pk="id", left_key="user_id", right_key="id"
    )
    agg = IncrementalJoinAgg(
        join,
        group_cols={"user_id": "user_id", "cday": F.substring("ctime", 1, 10)},
        amount=F.col("amount"),
        predicate=F.col("status") != "closed",
        state_dir=state_dir,
    )
    return agg


def test_join_agg_single_store_restores_join_and_agg(spark, tmp_path):
    """ONE store (state_dir on the agg only, no join store) round-trips
    the whole composition: agg state, the join's three relations, the
    join batch-id guard — no separate join.restore needed, and no
    cross-store crash window exists because there is only one meta flip."""
    from tests.test_round9 import _join_scenario, _rows

    L, R, batches = _join_scenario(spark)
    agg1 = _mk_join_agg(str(tmp_path / "st"))
    for i, (ll, rr) in enumerate(batches[:2]):
        agg1.apply(L(ll), R(rr), batch_id=i)
    del agg1  # restart

    agg2 = _mk_join_agg(str(tmp_path / "st"))
    assert agg2.restore(spark)
    assert agg2.join.last_batch_id == 1  # restored through the agg store
    for i, (ll, rr) in enumerate(batches[2:], start=2):
        agg2.apply(L(ll), R(rr), batch_id=i)
    assert _rows(agg2.result()) == _rows(agg2.recompute())

    agg3 = _mk_join_agg(None)
    for i, (ll, rr) in enumerate(batches):
        agg3.apply(L(ll), R(rr), batch_id=i)
    assert _rows(agg2.result()) == _rows(agg3.result())


def test_join_agg_saves_even_when_deltas_empty(spark, tmp_path):
    """A dimension-only first batch emits NO join deltas but advances the
    join's right state — the composed save must still run, or a restart
    would lose that state (the r10 shape saved only on non-empty deltas)."""
    from tests.test_round9 import _join_scenario

    L, R, batches = _join_scenario(spark)
    agg1 = _mk_join_agg(str(tmp_path / "st"))
    agg1.apply(L(batches[0][0]), R(batches[0][1]), batch_id=0)  # dim side only
    assert agg1.result() is None  # genuinely no aggregate yet
    del agg1

    agg2 = _mk_join_agg(str(tmp_path / "st"))
    assert agg2.restore(spark)
    assert agg2.join.right_state is not None
    assert agg2.join.right_state.count() == 2
    assert agg2.join.last_batch_id == 0


def test_join_agg_side_seen_guard_is_durable(spark, tmp_path):
    """ADVICE r10 medium #1: the foreachBatch per-side replay guard must
    survive a crash between state save and streaming-checkpoint commit —
    the replayed delivery after restore must be a no-op, not a double
    fold."""
    from tests.test_round9 import _join_scenario, _rows

    L, R, batches = _join_scenario(spark)
    agg1 = _mk_join_agg(str(tmp_path / "st"))
    # simulate the attach() path: guard bump, then apply without batch_id
    agg1._side_seen = {"l": -1, "r": -1}
    agg1._side_seen["r"] = 0
    agg1.apply(None, R(batches[0][1]))
    agg1._side_seen["l"] = 0
    agg1.apply(L(batches[1][0]), None)
    want = _rows(agg1.result())
    del agg1  # crash AFTER state save, BEFORE the checkpoint commit

    agg2 = _mk_join_agg(str(tmp_path / "st"))
    assert agg2.restore(spark)
    assert agg2._side_seen == {"l": 0, "r": 0}  # guards came back
    # at-least-once replay of the last delivery: the restored guard skips
    if not 0 <= agg2._side_seen["l"]:  # the attach() guard, verbatim
        raise AssertionError("guard should skip")
    assert _rows(agg2.result()) == want
    # and a FRESH batch still folds correctly on top
    agg2._side_seen["l"] = 1
    agg2._side_seen["r"] = 1
    agg2.apply(L(batches[2][0]), R(batches[2][1]))
    assert _rows(agg2.result()) == _rows(agg2.recompute())


# ---------------------------------------------------------------------------
# hard_negative_mining SQL honors n_planes (ADVICE r10 low)


def test_hard_negative_mining_sql_n_planes_parity(spark):
    """Spark and SQL twins called with a NON-default plane count must
    compare the same candidate sets."""
    import duckdb

    from flink_streaming_etl_spark.operators import similarity as sim
    from tests.oracle import compare, duck_connection

    emb = load_tables(spark, SF_SMOKE, register=False)["embeddings"]
    con = duck_connection(SF_SMOKE)
    got = sim.hard_negative_mining(emb, n_planes=4)
    ok, msg = compare(got, con, sim.hard_negative_mining_sql(n_planes=4))
    assert ok, msg
    assert "CASE WHEN v[5]" not in sim.hard_negative_mining_sql(n_planes=4)


# ---------------------------------------------------------------------------
# Touched-bucket state saves (r10 verdict #4)


def test_bucketed_state_save_rewrites_only_touched_buckets(spark, tmp_path):
    """IncrementalDistinctCount's corpus-scale ref_state relation is
    saved incrementally: a batch's save writes files only for the
    buckets its pairs hash into; untouched buckets keep pointing at the
    version directory that last wrote them."""
    import os

    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.incremental import (
        IncrementalDistinctCount,
    )
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    B = lambda lines: src.parse(raw_df(spark, lines))  # noqa: E731
    acc = IncrementalDistinctCount(
        key_exprs=lambda img: [img["status"]],
        value=lambda img: img["user_id"],
        state_dir=str(tmp_path / "st"),
    )
    b0 = [env("c", order(f"o{i}", f"u{i}", float(i), "payed"), ts=i) for i in range(1, 9)]
    acc.apply(B(b0), batch_id=0)
    root = str(tmp_path / "st")
    v0 = os.path.join(root, "ref_state.buckets", "v0")
    n_v0 = len([d for d in os.listdir(v0) if d.startswith("_bucket=")])
    assert n_v0 >= 2  # eight pairs spread over several buckets

    # batch 1 touches ONE pair -> at most one bucket's files rewritten
    acc.apply(B([env("c", order("o9", "u9", 9.0, "payed"), ts=9)]), batch_id=1)
    v1 = os.path.join(root, "ref_state.buckets", "v1")
    n_v1 = len([d for d in os.listdir(v1) if d.startswith("_bucket=")])
    assert n_v1 == 1
    assert os.path.isdir(v0)  # untouched buckets still owned by v0

    # restore equals the in-memory state
    acc2 = IncrementalDistinctCount(
        key_exprs=lambda img: [img["status"]],
        value=lambda img: img["user_id"],
        state_dir=str(tmp_path / "st"),
    )
    assert acc2.restore(spark)
    want = sorted(tuple(r) for r in acc.ref_state.collect())
    got = sorted(tuple(r) for r in acc2.ref_state.collect())
    assert got == want
    assert sorted(tuple(r) for r in acc2.result().collect()) == sorted(
        tuple(r) for r in acc.result().collect()
    )


def test_bucketed_state_crash_mid_save_keeps_previous_version(spark, tmp_path):
    """Data-then-pointer holds for bucketed relations too: a newer
    version directory without a meta flip is invisible."""
    import os

    from flink_streaming_etl_spark.streaming.state_store import (
        AccumulatorStateStore,
        BucketedState,
    )

    store = AccumulatorStateStore(str(tmp_path / "st"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    store.save(1, {}, bucketed={"rel": BucketedState(df1, ["k"], n_buckets=4)})

    # crash mid-save of v2: bucket files written, meta NOT flipped
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    from pyspark.sql import functions as SF

    (df2.withColumn("_bucket", SF.pmod(SF.hash("k"), SF.lit(4)))
        .write.mode("overwrite").partitionBy("_bucket")
        .parquet(os.path.join(store.root, "rel.buckets", "v2")))

    bid, rels, _ = store.load(spark)
    assert bid == 1
    assert sorted(tuple(r) for r in rels["rel"].collect()) == [(1, "a"), (2, "b")]

    # a SUCCESSFUL save supersedes and prunes stale version dirs
    store.save(
        2, {},
        bucketed={"rel": BucketedState(df2, ["k"], n_buckets=4,
                                        touched=df1.unionByName(df2).select("k"))},
    )
    bid, rels, _ = store.load(spark)
    assert bid == 2
    assert sorted(tuple(r) for r in rels["rel"].collect()) == [(3, "c")]


# ---------------------------------------------------------------------------
# IncrementalJoinCollect: join -> LISTAGG in ±delta mode


def _jc_rows(df):
    if df is None:
        return []
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t),
    )


def test_join_collect_equals_recompute_after_every_prefix(spark):
    """The composed join->LISTAGG chain equals its recompute after every
    changelog prefix of BOTH sides — including dimension-side updates,
    fact deletes and cross-group moves rippling into per-group lists."""
    from flink_streaming_etl_spark.streaming.incremental_join import (
        IncrementalJoin,
        IncrementalJoinCollect,
    )
    from tests.test_round9 import _join_scenario

    L, R, batches = _join_scenario(spark)
    join = IncrementalJoin(left_pk="id", right_pk="id",
                           left_key="user_id", right_key="id")
    jc = IncrementalJoinCollect(
        join, group_cols=["area"], value_cols=["id"],
        predicate=F.col("status") != "closed",
    )
    for i, (ll, rr) in enumerate(batches):
        jc.apply(L(ll), R(rr), batch_id=i)
        assert _jc_rows(jc.result()) == _jc_rows(jc.recompute()), f"batch {i}"
    # replay no-op
    before = _jc_rows(jc.result())
    jc.apply(L(batches[-1][0]), R(batches[-1][1]), batch_id=len(batches) - 1)
    assert _jc_rows(jc.result()) == before


def test_join_collect_state_survives_restart(spark, tmp_path):
    """ONE store round-trips the join+collect composition."""
    from flink_streaming_etl_spark.streaming.incremental_join import (
        IncrementalJoin,
        IncrementalJoinCollect,
    )
    from tests.test_round9 import _join_scenario

    def mk(root=None):
        join = IncrementalJoin(left_pk="id", right_pk="id",
                               left_key="user_id", right_key="id")
        return IncrementalJoinCollect(
            join, group_cols=["area"], value_cols=["id"], state_dir=root,
        )

    L, R, batches = _join_scenario(spark)
    root = str(tmp_path / "st")
    jc1 = mk(root)
    for i, (ll, rr) in enumerate(batches[:2]):
        jc1.apply(L(ll), R(rr), batch_id=i)
    del jc1

    jc2 = mk(root)
    assert jc2.restore(spark)
    assert jc2.join.last_batch_id == 1
    for i, (ll, rr) in enumerate(batches[2:], start=2):
        jc2.apply(L(ll), R(rr), batch_id=i)
    assert _jc_rows(jc2.result()) == _jc_rows(jc2.recompute())

    jc3 = mk(None)
    for i, (ll, rr) in enumerate(batches):
        jc3.apply(L(ll), R(rr), batch_id=i)
    assert _jc_rows(jc2.result()) == _jc_rows(jc3.result())


# ---------------------------------------------------------------------------
# Idle-state retention (T5) for the r10/r11 accumulators


def test_idle_retention_evicts_and_restarts_fresh(spark):
    """Flink TTL semantics on IncrementalTopK / IncrementalCollect /
    IncrementalDistinctCount: a group untouched for retention_batches is
    evicted from state AND result together (result()==recompute() still
    holds on what remains), and a reappearing group starts fresh."""
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from flink_streaming_etl_spark.streaming.incremental import (
        IncrementalDistinctCount,
    )
    from flink_streaming_etl_spark.streaming.topk import IncrementalTopK
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    B = lambda lines: src.parse(raw_df(spark, lines))  # noqa: E731

    tk = IncrementalTopK(pk="id", group_cols=["status"], order_col="amount",
                         k=2, retention_batches=2)
    ic = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"],
                            retention_batches=2)
    dc = IncrementalDistinctCount(
        key_exprs=lambda img: [img["status"]], value=lambda img: img["user_id"],
        retention_batches=2,
    )
    batches = [
        # b0: two groups
        [env("c", order("o1", "u1", 10.0, "payed"), ts=1),
         env("c", order("o2", "u2", 20.0, "created"), ts=2)],
        # b1, b2: only 'payed' is touched -> 'created' goes idle
        [env("c", order("o3", "u3", 30.0, "payed"), ts=3)],
        [env("c", order("o4", "u4", 40.0, "payed"), ts=4)],
    ]
    for i, lines in enumerate(batches):
        for acc in (tk, ic, dc):
            acc.apply(B(lines), batch_id=i)

    # 'created' (idle since b0, horizon 2) is gone from every maintained
    # relation AND its backing state; equality pins hold on the remainder
    assert {r["status"] for r in tk.result().collect()} == {"payed"}
    assert {r["status"] for r in tk.state.collect()} == {"payed"}
    assert _topk_rows_r11(tk.result()) == _topk_rows_r11(tk.recompute())
    assert _collect_rows(ic.result()) == [("payed", "o1,o3,o4", 3)]
    assert _collect_rows(ic.result()) == _collect_rows(ic.recompute())
    assert [(r["k0"], r["distinct_cnt"]) for r in dc.result().collect()] == [("payed", 3)]

    # the evicted group reappears -> starts FRESH (o2 is forgotten)
    back = [env("c", order("o5", "u5", 50.0, "created"), ts=5)]
    for acc in (tk, ic, dc):
        acc.apply(B(back), batch_id=3)
    assert _collect_rows(ic.result()) == [
        ("created", "o5", 1), ("payed", "o1,o3,o4", 3)]
    got_d = sorted((r["k0"], r["distinct_cnt"]) for r in dc.result().collect())
    assert got_d == [("created", 1), ("payed", 3)]
    assert _topk_rows_r11(tk.result()) == _topk_rows_r11(tk.recompute())


def test_idle_retention_clock_survives_restart(spark, tmp_path):
    """The retention bookkeeping (touch stamps + batch clock) is part of
    the durable state: after a restore, a group idle across the restart
    boundary is still evicted on schedule."""
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.topk import IncrementalTopK
    from tests.test_cdc import ORDER_SCHEMA, env, order

    d = tmp_path / "orders"
    d.mkdir()
    (d / "b0.jsonl").write_text(
        "\n".join([env("c", order("o1", "u1", 10.0, "payed"), ts=1),
                   env("c", order("o2", "u2", 20.0, "created"), ts=2)])
    )
    src = CdcSource("orders", ORDER_SCHEMA, "id")
    ck = str(tmp_path / "ck")
    t1 = IncrementalTopK(pk="id", group_cols=["status"], order_col="amount",
                         k=2, state_dir=str(tmp_path / "st"), retention_batches=2)
    t1.attach(src.stream_changelog(spark, str(d)), checkpoint_root=ck).awaitTermination(120)
    del t1

    (d / "b1.jsonl").write_text(env("c", order("o3", "u3", 30.0, "payed"), ts=3))
    (d / "b2.jsonl").write_text(env("c", order("o4", "u4", 40.0, "payed"), ts=4))
    t2 = IncrementalTopK(pk="id", group_cols=["status"], order_col="amount",
                         k=2, state_dir=str(tmp_path / "st"), retention_batches=2)
    assert t2.restore(spark)
    assert t2._retention.n_batches == 1  # the clock came back
    t2.attach(src.stream_changelog(spark, str(d)), checkpoint_root=ck).awaitTermination(120)
    assert {r["status"] for r in t2.result().collect()} == {"payed"}
    assert _topk_rows_r11(t2.result()) == _topk_rows_r11(t2.recompute())


# ---------------------------------------------------------------------------
# k_anonymity_report


def test_k_anonymity_report_semantics(spark):
    """Known micro-corpus: class sizes and at-risk flags are exact."""
    from flink_streaming_etl_spark.operators import analytics as an

    rows = [
        (1, "A", 1), (2, "A", 1), (3, "A", 1),   # class (A,1) size 3
        (4, "A", 2),                              # class (A,2) size 1
        (5, "B", 1), (6, "B", 1),                 # class (B,1) size 2
        (7, None, 1), (8, None, 1),               # NULLs group together
    ]
    c = spark.createDataFrame(
        rows, "c_custkey long, c_mktsegment string, c_nationkey int"
    )
    got = {r["class_size"]: (r["n_classes"], r["n_rows"], r["at_risk"])
           for r in an.k_anonymity_report(c, k=3).collect()}
    assert got == {3: (1, 3, False), 1: (1, 1, True), 2: (2, 4, True)}


def test_retention_eviction_reaches_durable_buckets(spark, tmp_path):
    """Evicted pairs live in buckets the evicting batch may not touch —
    the save must rewrite those buckets too, or a restore resurrects
    evicted state from stale bucket files."""
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.incremental import (
        IncrementalDistinctCount,
    )
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    B = lambda lines: src.parse(raw_df(spark, lines))  # noqa: E731

    def mk():
        return IncrementalDistinctCount(
            key_exprs=lambda img: [img["status"]],
            value=lambda img: img["user_id"],
            state_dir=str(tmp_path / "st"),
            retention_batches=2,
        )

    acc = mk()
    acc.apply(B([env("c", order("o1", "u1", 10.0, "payed"), ts=1),
                 env("c", order("o2", "u2", 20.0, "created"), ts=2)]), batch_id=0)
    acc.apply(B([env("c", order("o3", "u3", 30.0, "payed"), ts=3)]), batch_id=1)
    # b2 touches only 'payed' -> 'created' evicts; its refcount rows sat
    # in buckets this batch's pairs do not hash into
    acc.apply(B([env("c", order("o4", "u4", 40.0, "payed"), ts=4)]), batch_id=2)
    want_ref = sorted(tuple(r) for r in acc.ref_state.collect())
    assert all(r[0] == "payed" for r in want_ref)

    acc2 = mk()
    assert acc2.restore(spark)
    got_ref = sorted(tuple(r) for r in acc2.ref_state.collect())
    assert got_ref == want_ref  # no resurrected 'created' rows
    got = sorted((r["k0"], r["distinct_cnt"]) for r in acc2.result().collect())
    assert got == [("payed", 3)]


def test_data_quality_accumulator_state_survives_restart(spark, tmp_path):
    """T6 for the streaming data-quality gate: seen keys + counters are
    durable, so a cross-restart duplicate key is still caught and the
    replayed batch is a no-op."""
    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.streaming.data_quality import (
        DataQualityAccumulator,
    )

    t = _tables(spark)
    orders, customer = t["orders"], t["customer"]
    dim = {r["c_custkey"] for r in customer.select("c_custkey").collect()}
    rows = orders.orderBy("o_orderkey").limit(20).collect()
    b0, b1 = rows[:10], rows[10:] + [rows[0]]  # dup crosses the restart

    a1 = DataQualityAccumulator(dim_keys=dim, state_dir=str(tmp_path / "st"))
    a1.add_batch(spark.createDataFrame(b0, orders.schema), batch_id=0)
    del a1  # restart

    a2 = DataQualityAccumulator(dim_keys=dim, state_dir=str(tmp_path / "st"))
    assert a2.restore(spark)
    assert a2.last_batch_id == 0 and a2.n_rows == 10
    a2.add_batch(spark.createDataFrame(b0, orders.schema), batch_id=0)  # replay
    assert a2.n_rows == 10
    a2.add_batch(spark.createDataFrame(b1, orders.schema), batch_id=1)

    union = spark.createDataFrame(b0 + b1, orders.schema)
    want = sorted(tuple(r) for r in an.data_quality_report(union, customer).collect())
    got = sorted(tuple(r) for r in a2.result(spark).collect())
    assert got == want
    assert a2.violations["orderkey_unique"] == 1  # caught across restart
