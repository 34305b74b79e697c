"""Round-12 pins.

Fold-then-commit replay guards for the six pre-CEP accumulators (r11
verdict #1 — the wave-6 diagnosis applied everywhere): a batch that
fails MID-FOLD and is retried under the SAME epoch id must re-fold
(at-least-once), never be skipped as an already-seen replay. Before this
round these accumulators committed ``last_batch_id`` (and some state)
BEFORE folding, so a same-epoch retry was silently lost. Each test arms
a one-shot failure at a different point of the fold (kernel, durable
save, composed-agg merge), asserts nothing committed, retries under the
same epoch id, and pins the final answer against a never-failed run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _flaky_once(fn, exc=RuntimeError("transient executor loss")):
    armed = {"on": True}

    def wrapper(*a, **kw):
        if armed["on"]:
            armed["on"] = False
            raise exc
        return fn(*a, **kw)

    return wrapper


# -- IncrementalTopK: failure inside the rank kernel ---------------------


def test_topk_failed_fold_retry_is_not_a_replay(spark):
    from flink_streaming_etl_spark.streaming.topk import IncrementalTopK
    from tests.test_round10 import _topk_rows, _topk_scenario

    B, batches = _topk_scenario(spark)

    def mk():
        return IncrementalTopK(
            pk="id", group_cols=["status"], order_col="amount", k=2
        )

    clean = mk()
    for i, lines in enumerate(batches):
        clean.apply(B(lines), batch_id=i)

    acc = mk()
    acc.apply(B(batches[0]), batch_id=0)
    committed = _topk_rows(acc.result())
    acc._rank = _flaky_once(acc._rank)
    with pytest.raises(RuntimeError):
        acc.apply(B(batches[1]), batch_id=1)
    # nothing committed: guard, state and result all at batch 0
    assert acc.last_batch_id == 0
    assert _topk_rows(acc.result()) == committed
    # retry under the SAME epoch id re-folds
    assert acc.apply(B(batches[1]), batch_id=1) is not None
    for i, lines in enumerate(batches[2:], start=2):
        acc.apply(B(lines), batch_id=i)
    assert _topk_rows(acc.result()) == _topk_rows(clean.result())
    assert _topk_rows(acc.result()) == _topk_rows(acc.recompute())


# -- IncrementalCollect: failure inside the listagg kernel ---------------


def test_collect_failed_fold_retry_is_not_a_replay(spark):
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")

    def B(lines):
        return src.parse(raw_df(spark, lines))

    batches = [
        [env("c", order("o1", "u1", 10.0, "payed"), ts=1),
         env("c", order("o2", "u1", 20.0, "payed"), ts=2)],
        [env("c", order("o3", "u2", 30.0, "created"), ts=3),
         env("d", before=order("o1", "u1", 10.0, "payed"), ts=4)],
    ]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    clean = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"])
    for i, lines in enumerate(batches):
        clean.apply(B(lines), batch_id=i)

    acc = IncrementalCollect(pk="id", group_cols=["status"], value_cols=["id"])
    acc.apply(B(batches[0]), batch_id=0)
    committed = rows(acc.result())
    acc._aggregate = _flaky_once(acc._aggregate)
    with pytest.raises(RuntimeError):
        acc.apply(B(batches[1]), batch_id=1)
    assert acc.last_batch_id == 0
    assert rows(acc.result()) == committed
    assert acc.apply(B(batches[1]), batch_id=1) is not None
    assert rows(acc.result()) == rows(clean.result())
    assert rows(acc.result()) == rows(acc.recompute())


# -- IncrementalDistinctCount: failure in the durable save ---------------


def test_distinct_count_failed_save_retry_is_not_a_replay(spark, tmp_path):
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.incremental import (
        IncrementalDistinctCount,
    )
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")

    def B(lines):
        return src.parse(raw_df(spark, lines))

    batches = [
        [env("c", order("o1", "u1", 10.0, "payed"), ts=1),
         env("c", order("o2", "u2", 20.0, "payed"), ts=2)],
        [env("c", order("o3", "u3", 30.0, "payed"), ts=3),
         env("d", before=order("o1", "u1", 10.0, "payed"), ts=4)],
    ]

    def mk(root=None):
        return IncrementalDistinctCount(
            key_exprs=lambda img: [img["status"]],
            value=lambda img: img["user_id"],
            state_dir=root,
        )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    clean = mk()
    for i, lines in enumerate(batches):
        clean.apply(B(lines), batch_id=i)

    acc = mk(str(tmp_path / "st"))
    acc.apply(B(batches[0]), batch_id=0)
    committed = rows(acc.result())
    acc._store.save = _flaky_once(acc._store.save)
    with pytest.raises(RuntimeError):
        acc.apply(B(batches[1]), batch_id=1)
    # the fold completed but the SAVE failed — still nothing commits
    assert acc.last_batch_id == 0
    assert rows(acc.result()) == committed
    assert acc.apply(B(batches[1]), batch_id=1) is not None
    assert rows(acc.result()) == rows(clean.result())
    # and the durable state from the retried save restores to the same
    fresh = mk(str(tmp_path / "st"))
    assert fresh.restore(spark)
    assert fresh.last_batch_id == 1
    assert rows(fresh.result()) == rows(clean.result())


# -- IncrementalJoin: failure in the durable save ------------------------


def test_incremental_join_failed_save_retry_is_not_a_replay(spark, tmp_path):
    from flink_streaming_etl_spark.streaming.incremental_join import (
        IncrementalJoin,
    )
    from tests.test_round9 import _join_scenario, _rows

    L, R, batches = _join_scenario(spark)

    def mk(root=None):
        return IncrementalJoin(
            left_pk="id", right_pk="id", left_key="user_id", right_key="id",
            state_dir=root,
        )

    clean = mk()
    for i, (ll, rr) in enumerate(batches):
        clean.apply(L(ll), R(rr), batch_id=i)

    acc = mk(str(tmp_path / "st"))
    acc.apply(L(batches[0][0]), R(batches[0][1]), batch_id=0)
    acc._store.save = _flaky_once(acc._store.save)
    with pytest.raises(RuntimeError):
        acc.apply(L(batches[1][0]), R(batches[1][1]), batch_id=1)
    assert acc.last_batch_id == 0
    # retry under the same epoch id re-folds; rest of the changelog lands
    assert acc.apply(L(batches[1][0]), R(batches[1][1]), batch_id=1) is not None
    for i, (ll, rr) in enumerate(batches[2:], start=2):
        acc.apply(L(ll), R(rr), batch_id=i)
    assert _rows(acc.result()) == _rows(clean.result())
    assert _rows(acc.result()) == _rows(acc.recompute())


# -- IncrementalJoinAgg: failure in the AGG fold AFTER the join fold -----


def test_join_agg_failure_after_join_fold_retries_whole_batch(spark, tmp_path):
    """The exact crash window of r11 verdict #1: the join half of the
    composition succeeds, the aggregate half fails — before this round
    the join had already committed its replay guard, so the same-epoch
    retry skipped the batch and the aggregate undercounted forever."""
    from flink_streaming_etl_spark.streaming.incremental_join import (
        IncrementalJoin,
        IncrementalJoinAgg,
    )
    from tests.test_round9 import _join_scenario, _rows

    L, R, batches = _join_scenario(spark)

    def mk(root=None):
        join = IncrementalJoin(
            left_pk="id", right_pk="id", left_key="user_id", right_key="id",
        )
        agg = IncrementalJoinAgg(
            join,
            group_cols={"user_id": "user_id",
                        "cday": F.substring("ctime", 1, 10)},
            amount=F.col("amount"),
            predicate=F.col("status") != "closed",
            state_dir=root,
        )
        return join, agg

    _, clean = mk()
    for i, (ll, rr) in enumerate(batches):
        clean.apply(L(ll), R(rr), batch_id=i)

    join, agg = mk(str(tmp_path / "st"))
    agg.apply(L(batches[0][0]), R(batches[0][1]), batch_id=0)
    agg.apply(L(batches[1][0]), R(batches[1][1]), batch_id=1)
    agg._signed_group_deltas = _flaky_once(agg._signed_group_deltas)
    with pytest.raises(RuntimeError):
        agg.apply(L(batches[2][0]), R(batches[2][1]), batch_id=2)
    # the join fold succeeded, but NOTHING committed — join guard and
    # join state are still at batch 1
    assert join.last_batch_id == 1
    assert _rows(join.result()) == _rows(join.recompute())
    # same-epoch retry folds the batch through BOTH layers exactly once
    agg.apply(L(batches[2][0]), R(batches[2][1]), batch_id=2)
    for i, (ll, rr) in enumerate(batches[3:], start=3):
        agg.apply(L(ll), R(rr), batch_id=i)
    assert _rows(agg.result()) == _rows(clean.result())
    assert _rows(agg.result()) == _rows(agg.recompute())
    # the composed durable state restores to the committed answer
    join2, agg2 = mk(str(tmp_path / "st"))
    assert agg2.restore(spark)
    assert _rows(agg2.result()) == _rows(clean.result())


# -- DataQualityAccumulator: failure in the durable save -----------------


def test_data_quality_failed_save_retry_is_not_a_replay(spark, tmp_path):
    from flink_streaming_etl_spark.streaming.data_quality import (
        DataQualityAccumulator,
    )
    from tests.test_round10 import _tables

    t = _tables(spark)
    orders, customer = t["orders"], t["customer"]
    dim = {r["c_custkey"] for r in customer.select("c_custkey").collect()}

    rows = orders.orderBy("o_orderkey").collect()
    n = len(rows)
    batches = [rows[: n // 2], rows[n // 2 :] + [rows[0]]]  # cross-batch dup

    clean = DataQualityAccumulator(dim_keys=dim)
    for i, rs in enumerate(batches):
        clean.add_batch(spark.createDataFrame(rs, orders.schema), batch_id=i)
    want = sorted(tuple(r) for r in clean.result(spark).collect())

    acc = DataQualityAccumulator(dim_keys=dim, state_dir=str(tmp_path / "st"))
    acc.add_batch(spark.createDataFrame(batches[0], orders.schema), batch_id=0)
    n_rows_before = acc.n_rows
    acc._store.save = _flaky_once(acc._store.save)
    with pytest.raises(RuntimeError):
        acc.add_batch(spark.createDataFrame(batches[1], orders.schema), batch_id=1)
    # counters, seen relation and guard all still at batch 0
    assert acc.last_batch_id == 0
    assert acc.n_rows == n_rows_before
    acc.add_batch(spark.createDataFrame(batches[1], orders.schema), batch_id=1)
    got = sorted(tuple(r) for r in acc.result(spark).collect())
    assert got == want
    assert acc.violations["orderkey_unique"] == 1  # folded exactly once


# -- EventPathAccumulator: failure at the end of the driver fold ---------


def test_event_path_failed_fold_retry_is_not_a_replay(spark):
    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.streaming.paths import EventPathAccumulator
    from tests.test_round10 import _tables

    ev = _tables(spark)["events"]
    want = sorted(
        (r["path"], r["n_sessions"])
        for r in an.top_event_paths(ev, top_n=10**9).collect()
    )

    ordered = ev.orderBy("ts", "event_id").collect()
    n = len(ordered)
    cuts = [ordered[: n // 2], ordered[n // 2 :]]
    acc = EventPathAccumulator()
    acc.add_batch(spark.createDataFrame(cuts[0], ev.schema), batch_id=0)
    open_before = dict(acc.open)
    counts_before = dict(acc.counts)
    # fail at the LAST step of the fold — everything already computed,
    # nothing may commit
    acc._evict = _flaky_once(acc._evict)
    with pytest.raises(RuntimeError):
        acc.add_batch(spark.createDataFrame(cuts[1], ev.schema), batch_id=1)
    assert acc.last_batch_id == 0 and acc.n_batches == 1
    assert dict(acc.open) == open_before and dict(acc.counts) == counts_before
    # same-epoch retry folds exactly once
    acc.add_batch(spark.createDataFrame(cuts[1], ev.schema), batch_id=1)
    got = sorted(tuple(r) for r in acc.result(spark).collect())
    assert got == want


# -- CEP accumulators: externalized state, O(matches) driver transfer ----


def test_cep_tail_state_is_distributed_and_driver_transfer_is_matches_only(
    spark, monkeypatch
):
    """r11 verdict #2: the pending tails live as a DISTRIBUTED relation
    (tails_rel), never a driver dict, and the only rows that cross to
    the driver during a fold are the batch's finalized matches. The
    never-evicted `_bucket` cache is gone entirely; retention eviction
    removes a key's row from BOTH state relations."""
    from pyspark.sql import DataFrame
    # patch the CLASSIC subclass — sessions hand out classic DataFrames,
    # whose collect overrides the base class's
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from flink_streaming_etl_spark.operators import cep
    from flink_streaming_etl_spark.streaming.cep import CepAccumulator
    from tests.test_cep import _synth_stream

    df, _ = _synth_stream(spark, 12, n_users=3, n_per_user=30)
    want = sorted(tuple(r) for r in cep.cep_greedy_matches(df).collect())

    ordered = df.orderBy("ts", "event_id").collect()
    n = len(ordered)
    cuts = [ordered[: n // 2], ordered[n // 2 :]]
    acc = CepAccumulator(retention_batches=2)
    got = []
    orig_collect = ClassicDataFrame.collect
    for i, rows in enumerate(cuts):
        batch = spark.createDataFrame(rows, df.schema)
        transferred = []

        def spy(self):
            out = orig_collect(self)
            transferred.append(len(out))
            return out

        monkeypatch.setattr(ClassicDataFrame, "collect", spy)
        try:
            matches = acc.add_batch(batch, batch_id=i)
        finally:
            monkeypatch.setattr(ClassicDataFrame, "collect", orig_collect)
        # driver transfer this fold == the finalized matches, nothing else
        assert sum(transferred) == len(matches), (transferred, len(matches))
        got.extend(matches)
    assert sorted(got) == want
    # state shape: distributed relations, no driver dict caches
    assert acc.tails_rel is None or isinstance(acc.tails_rel, DataFrame)
    assert not hasattr(acc, "_bucket") and not hasattr(acc, "_last_active")
    # retention bookkeeping is a relation too, one row per live key
    keys = {r["user_id"] for r in acc.active_rel.collect()}
    assert keys <= {0, 1, 2}


def test_cep_retention_evicts_from_both_state_relations(spark):
    """A key idle past the horizon disappears from tails_rel AND
    active_rel (the r11 leak was exactly a per-key structure surviving
    eviction)."""
    from pyspark.sql import functions as SF

    from flink_streaming_etl_spark.streaming.cep import CepAccumulator

    _US = 1_000_000
    base = 1_800_000_000 * _US

    def batch(uid, t0):
        # ONE click: the greedy pattern is (click, click), so a lone
        # click stays PENDING (a pair would complete and consume)
        rows = [(uid * 100, t0, uid, "click")]
        return spark.createDataFrame(
            rows, "event_id long, us long, user_id long, event_type string"
        ).select("event_id", SF.timestamp_micros(SF.col("us")).alias("ts"),
                 "user_id", "event_type")

    acc = CepAccumulator(retention_batches=2)
    acc.add_batch(batch(1, base), batch_id=0)       # key 1 has pending tails
    assert 1 in acc.tails
    acc.add_batch(batch(2, base + 10**9), batch_id=1)
    acc.add_batch(batch(3, base + 2 * 10**9), batch_id=2)
    acc.add_batch(batch(4, base + 3 * 10**9), batch_id=3)  # key 1 now idle
    assert 1 not in acc.tails
    assert 1 not in {r["user_id"] for r in acc.active_rel.collect()}


def test_cep_on_matches_df_delivers_distributed(spark):
    """The on_matches_df delivery path: the sink receives the batch's
    matches as a DataFrame (no driver materialization inside add_batch,
    which returns []); concatenated sink deliveries equal the batch
    operator; a sink failure before commit redelivers on the same-epoch
    retry."""
    import pytest as _pytest

    from flink_streaming_etl_spark.operators import cep
    from flink_streaming_etl_spark.streaming.cep import CepAccumulator
    from tests.test_cep import _synth_stream

    df, _ = _synth_stream(spark, 13, n_users=2, n_per_user=30)
    want = sorted(tuple(r) for r in cep.cep_greedy_matches(df).collect())
    ordered = df.orderBy("ts", "event_id").collect()
    n = len(ordered)
    cuts = [ordered[: n // 2], ordered[n // 2 :]]

    sunk = []
    boom = {"armed": True}

    def sink_df(mdf):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("sink outage")
        sunk.extend(tuple(r) for r in mdf.collect())

    acc = CepAccumulator()
    with _pytest.raises(RuntimeError):
        acc.add_batch(spark.createDataFrame(cuts[0], df.schema), 0,
                      on_matches_df=sink_df)
    assert acc.last_batch_id is None and sunk == []
    for i, rows in enumerate(cuts):
        out = acc.add_batch(spark.createDataFrame(rows, df.schema), i,
                            on_matches_df=sink_df)
        assert out == []  # distributed path never returns driver tuples
    assert sorted(sunk) == want
    with _pytest.raises(ValueError):
        acc.add_batch(spark.createDataFrame(cuts[0], df.schema), 5,
                      on_matches=lambda m: None, on_matches_df=sink_df)


def test_cep_attach_on_matches_df_file_stream(spark, tmp_path):
    """The file-replay attach path rewired through the DISTRIBUTED
    delivery channel (r11 verdict next-step #6): matches flow to the
    sink as DataFrames, never through a driver tuple list."""
    import json as _json
    import os

    from pyspark.sql import functions as SF

    from flink_streaming_etl_spark.operators import cep
    from flink_streaming_etl_spark.streaming.cep import CepAccumulator
    from tests.test_cep import _synth_stream

    df, _ = _synth_stream(spark, 55, n_users=2, n_per_user=30)
    want = sorted(tuple(r) for r in cep.cep_greedy_matches(df).collect())
    ordered = df.orderBy("ts", "event_id").collect()
    src = tmp_path / "cep_src"
    src.mkdir()
    third = len(ordered) // 3
    chunks = [ordered[:third], ordered[third: 2 * third], ordered[2 * third:]]
    for i, ch in enumerate(chunks):
        path = src / f"{i:03d}.json"
        with open(path, "w") as f:
            for r in ch:
                f.write(_json.dumps({
                    "event_id": r["event_id"],
                    "ts": r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"),
                    "user_id": r["user_id"],
                    "event_type": r["event_type"],
                }) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts string, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", SF.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    )
    # parquet-appending sink: the distributed discipline — the matches
    # DataFrame lands in storage without driver materialization
    out_dir = str(tmp_path / "matches_out")

    def sink_df(mdf):
        mdf.write.mode("append").parquet(out_dir)

    acc = CepAccumulator()
    q = acc.attach(
        stream,
        on_matches_df=sink_df,
        checkpointLocation=str(tmp_path / "cep_ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    assert got == want


# -- Touched-bucket saves for the remaining corpus-scale relations -------
# (r11 verdict #3: files rewritten ∝ touched buckets, restore exact)


def _bucket_dirs(root, name, vid):
    import os

    p = os.path.join(root, f"{name}.buckets", f"v{vid}")
    if not os.path.isdir(p):
        return []
    return [d for d in os.listdir(p) if d.startswith("_bucket=")]


def test_data_quality_seen_saves_touched_buckets(spark, tmp_path):
    from flink_streaming_etl_spark.streaming.data_quality import (
        DataQualityAccumulator,
    )
    from tests.test_round10 import _tables

    t = _tables(spark)
    orders, customer = t["orders"], t["customer"]
    dim = {r["c_custkey"] for r in customer.select("c_custkey").collect()}
    rows = orders.orderBy("o_orderkey").collect()
    root = str(tmp_path / "st")
    acc = DataQualityAccumulator(dim_keys=dim, state_dir=root)
    acc.add_batch(spark.createDataFrame(rows[:100], orders.schema), batch_id=0)
    assert len(_bucket_dirs(root, "seen", 0)) >= 2
    # batch 1: ONE genuinely new key -> at most one bucket rewritten
    acc.add_batch(spark.createDataFrame([rows[100]], orders.schema), batch_id=1)
    assert len(_bucket_dirs(root, "seen", 1)) == 1
    # batch 2: only ALREADY-SEEN keys -> the relation is unchanged, and
    # the save rewrites ZERO buckets
    acc.add_batch(spark.createDataFrame(rows[:5], orders.schema), batch_id=2)
    assert len(_bucket_dirs(root, "seen", 2)) == 0
    # restore equals live state (n_rows, violations, seen relation)
    acc2 = DataQualityAccumulator(dim_keys=dim, state_dir=root)
    assert acc2.restore(spark)
    assert acc2.n_rows == acc.n_rows
    assert dict(acc2.violations) == dict(acc.violations)
    assert sorted(r[0] for r in acc2._seen.collect()) == sorted(
        r[0] for r in acc._seen.collect()
    )


def test_incremental_collect_saves_touched_buckets(spark, tmp_path):
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.collect import IncrementalCollect
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    B = lambda lines: src.parse(raw_df(spark, lines))  # noqa: E731
    root = str(tmp_path / "st")
    acc = IncrementalCollect(
        pk="id", group_cols=["status"], value_cols=["id"],
        state_dir=root,
    )
    b0 = [env("c", order(f"o{i}", f"u{i}", float(i), f"s{i}"), ts=i)
          for i in range(1, 9)]
    acc.apply(B(b0), batch_id=0)
    assert len(_bucket_dirs(root, "state", 0)) >= 2
    assert len(_bucket_dirs(root, "agg", 0)) >= 2
    # ONE new pk in ONE group -> one state bucket, one agg bucket
    acc.apply(B([env("c", order("o9", "u9", 9.0, "s1"), ts=9)]), batch_id=1)
    assert len(_bucket_dirs(root, "state", 1)) == 1
    assert len(_bucket_dirs(root, "agg", 1)) == 1
    # restore equals live state
    acc2 = IncrementalCollect(
        pk="id", group_cols=["status"], value_cols=["id"],
        state_dir=root,
    )
    assert acc2.restore(spark)
    assert sorted(tuple(r) for r in acc2.result().collect()) == sorted(
        tuple(r) for r in acc.result().collect()
    )
    assert sorted(tuple(r) for r in acc2.state.collect()) == sorted(
        tuple(r) for r in acc.state.collect()
    )


def test_incremental_join_saves_touched_buckets(spark, tmp_path):
    import os

    from flink_streaming_etl_spark.streaming.incremental_join import (
        IncrementalJoin,
    )
    from tests.test_round9 import _join_scenario, _rows

    L, R, batches = _join_scenario(spark)
    root = str(tmp_path / "st")
    acc = IncrementalJoin(
        left_pk="id", right_pk="id", left_key="user_id", right_key="id",
        state_dir=root,
    )
    for i, (ll, rr) in enumerate(batches):
        acc.apply(L(ll), R(rr), batch_id=i)
    # batch 5 (version 5) was dimension-side only: the LEFT state's save
    # rewrote zero buckets (untouched side -> empty touched relation)
    assert len(_bucket_dirs(root, "left_state", 5)) == 0
    # batch 1 (version 1) was dimension-side only too: inserts landed in
    # right_state (buckets written), none in left_state
    assert len(_bucket_dirs(root, "right_state", 1)) >= 1
    assert len(_bucket_dirs(root, "left_state", 1)) == 0
    # the deleted dimension key's bucket is marked empty in the meta map
    # (its bucket was touched by the batch-5 delete and ended bare)
    import json

    with open(os.path.join(root, "meta.json")) as f:
        meta = json.load(f)
    assert "empty" in meta["bucketed"]["right_state"]["map"].values()
    # restore equals live state (multiset result + both latest states)
    acc2 = IncrementalJoin(
        left_pk="id", right_pk="id", left_key="user_id", right_key="id",
        state_dir=root,
    )
    assert acc2.restore(spark)
    assert _rows(acc2.result()) == _rows(acc.result())
    assert _rows(acc2.recompute()) == _rows(acc.recompute())


# -- Generalized DEFINE predicates (r11 verdict next-step #4) -----------


def test_cep_define_matches_four_step_pattern(spark):
    """PATTERN (LOW UP+ DN+ TAIL) with DEFINE LOW AS value < 50,
    UP AS value > PREV(value), DN AS value < PREV(value),
    TAIL AS event_type = 'purchase' — predicated single variables on
    BOTH flanks of the quantified runs, plus the WITHIN filter."""
    from datetime import datetime, timedelta

    from flink_streaming_etl_spark.operators.cep import (
        DefineStep,
        cep_define_matches,
    )

    t0 = datetime(2024, 3, 1, 12, 0, 0)

    def series(uid, vals_types, hours_apart=1):
        return [
            (uid * 100 + i, t0 + timedelta(hours=i * hours_apart), uid, ty, v)
            for i, (v, ty) in enumerate(vals_types)
        ]

    shape = [(10.0, "view"), (20.0, "click"), (30.0, "click"),
             (25.0, "click"), (40.0, "purchase")]
    rows = (
        series(1, shape)                                      # full match
        + series(2, shape[:-1] + [(40.0, "click")])           # tail not purchase
        # LOW fails: the only up-run's preceding row is 60 >= 50, and the
        # dn-run ends the series so TAIL has no row either
        + series(3, [(60.0, "view"), (70.0, "click"), (80.0, "click"),
                     (75.0, "click"), (40.0, "purchase")])
        + series(4, shape, hours_apart=30)                    # spans 120h
    )
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double",
    )
    steps = [
        DefineStep("low", lambda c: c["value"] < 50),
        DefineStep("up", lambda c: c["value"] > c["prev_value"], "+"),
        DefineStep("dn", lambda c: c["value"] < c["prev_value"], "+"),
        DefineStep("tail", lambda c: c["event_type"] == "purchase"),
    ]
    # user 3's dn-run ends in a purchase satisfying dn — an absorption
    # boundary, so the validated entry point ROUTES to the NFA (r14);
    # on THIS data backtracking and the greedy reading agree, so the
    # routed result and the validate=False greedy kernel coincide —
    # assert both engines end to end
    with pytest.warns(UserWarning, match="greedy absorption"):
        out = {
            r["user_id"]: r for r in cep_define_matches(ev, steps).collect()
        }
    greedy = {
        r["user_id"]: r
        for r in cep_define_matches(ev, steps, validate=False).collect()
    }
    assert {u: tuple(r) for u, r in out.items()} == {
        u: tuple(r) for u, r in greedy.items()
    }
    # users 1 and 4 match (no WITHIN); user 2 fails TAIL, user 3 fails LOW
    assert set(out) == {1, 4}
    m = out[1]
    assert m["low_first_event_id"] == 100 and m["low_n"] == 1
    assert m["up_first_event_id"] == 101 and m["up_last_event_id"] == 102
    assert m["up_n"] == 2 and m["dn_n"] == 1
    assert m["dn_first_event_id"] == 103
    assert m["tail_first_event_id"] == 104 and m["tail_n"] == 1
    assert m["low_first_value"] == 10.0 and m["up_last_value"] == 30.0
    assert m["dn_last_value"] == 25.0 and m["tail_last_value"] == 40.0
    assert m["end_us"] - m["start_us"] == 4 * 3600 * 1_000_000
    # WITHIN 24h drops user 4's 120-hour span (greedy tier — the routed
    # NFA path is covered above)
    within = {
        r["user_id"]
        for r in cep_define_matches(
            ev, steps, within_hours=24, validate=False
        ).collect()
    }
    assert within == {1}


def test_cep_vshape_equals_define_kernel_reexpression(spark):
    """The v-shape entry is now a thin wrapper over cep_define_matches;
    its unchanged DuckDB oracle pins the re-expression exactly."""
    from flink_streaming_etl_spark.operators import cep
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare, duck_connection

    from flink_streaming_etl_spark.catalog import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"]
    con = duck_connection(SF_SMOKE)
    try:
        ok, msg = compare(cep.cep_vshape_matches(ev), con, cep.CEP_VSHAPE_SQL)
        assert ok, msg
    finally:
        con.close()


# -- The seven simpler accumulators: same-epoch retry after a failed
#    Spark phase must re-fold (the r11 verdict #1 discipline, swept
#    across EVERY accumulator in the package, not just the six named)


def test_simple_accumulators_failed_fold_retry_is_not_a_replay(spark, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from flink_streaming_etl_spark.streaming.anomaly import (
        AnomalyZScoreAccumulator,
    )
    from flink_streaming_etl_spark.streaming.heavy_hitters import (
        MisraGriesAccumulator,
    )
    from flink_streaming_etl_spark.streaming.histogram import (
        ValueHistogramAccumulator,
    )
    from flink_streaming_etl_spark.streaming.kmv import KmvDistinctAccumulator
    from flink_streaming_etl_spark.streaming.media_dedup import (
        MediaChunkDedupAccumulator,
    )
    from flink_streaming_etl_spark.streaming.text_dedup import (
        BloomTextDedupAccumulator,
    )
    from flink_streaming_etl_spark.streaming.transitions import (
        EventTransitionAccumulator,
    )
    from tests.test_round10 import _tables

    t = _tables(spark)
    ev = t["events"].orderBy("event_id").limit(200).collect()
    docs = t["documents"].orderBy("doc_id").limit(60).collect()
    ev_b = [spark.createDataFrame(ev[:100], t["events"].schema),
            spark.createDataFrame(ev[100:], t["events"].schema)]
    doc_b = [spark.createDataFrame(docs[:30], t["documents"].schema),
             spark.createDataFrame(docs[30:], t["documents"].schema)]

    def state(acc):
        if isinstance(acc, MisraGriesAccumulator):
            return (acc.n_total, acc.max_undercount, dict(acc.counts))
        if isinstance(acc, BloomTextDedupAccumulator):
            return sorted(tuple(r) for r in acc.kept_ids(spark).collect())
        return sorted(tuple(r) for r in acc.result(spark).collect())

    # failure injection point per accumulator: the dict-folding ones
    # collect their batch aggregates; the round-13 externalized ones
    # (media/text dedup) never collect in the fold — fail their state
    # checkpointing instead (same "Spark phase dies mid-fold" scenario)
    cases = [
        (lambda: MisraGriesAccumulator(cap=50), doc_b, "collect"),
        (lambda: AnomalyZScoreAccumulator(), ev_b, "collect"),
        (lambda: ValueHistogramAccumulator(), ev_b, "collect"),
        (lambda: KmvDistinctAccumulator(k=16), doc_b, "collect"),
        (lambda: MediaChunkDedupAccumulator(), doc_b, "localCheckpoint"),
        (lambda: BloomTextDedupAccumulator(), doc_b, "localCheckpoint"),
        (lambda: EventTransitionAccumulator(), ev_b, "collect"),
    ]
    originals = {
        "collect": ClassicDataFrame.collect,
        "localCheckpoint": ClassicDataFrame.localCheckpoint,
    }
    for mk, batches, inject in cases:
        orig_fn = originals[inject]
        clean = mk()
        for i, b in enumerate(batches):
            clean.add_batch(b, batch_id=i)
        want = state(clean)

        acc = mk()
        acc.add_batch(batches[0], batch_id=0)
        # arm a one-shot failure in the Spark phase of the NEXT fold
        armed = {"on": True}

        def flaky(self, *a, **kw):
            if armed["on"]:
                armed["on"] = False
                raise RuntimeError("transient executor loss")
            return orig_fn(self, *a, **kw)

        monkeypatch.setattr(ClassicDataFrame, inject, flaky)
        try:
            with pytest.raises(RuntimeError):
                acc.add_batch(batches[1], batch_id=1)
            # guard did NOT commit: the same-epoch retry re-folds
            assert acc.last_batch_id == 0, type(acc).__name__
            acc.add_batch(batches[1], batch_id=1)
        finally:
            monkeypatch.setattr(ClassicDataFrame, inject, orig_fn)
        assert acc.last_batch_id == 1, type(acc).__name__
        assert state(acc) == want, type(acc).__name__
        # and a genuine replay is still a no-op
        acc.add_batch(batches[1], batch_id=1)
        assert state(acc) == want, type(acc).__name__
