"""Round 13: the four externalized streaming accumulators (r12 verdict
task #1) — distributed state relations, O(results) driver transfer
(collect-spy pinned), durable BucketedState save/restore — plus the
native ``applyInPandasWithState`` transition twin (task #6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_streaming_etl_spark.api import load_tables
from tests.conftest import SF_SMOKE


def _tables(spark):
    return load_tables(spark, SF_SMOKE, register=False)


class _CollectSpy:
    """Counts rows transferred through ClassicDataFrame.collect."""

    def __init__(self, monkeypatch):
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        self.calls: list[int] = []
        self._cls = ClassicDataFrame
        self._orig = ClassicDataFrame.collect
        self._mp = monkeypatch

    def __enter__(self):
        orig = self._orig
        calls = self.calls

        def spy(df):
            out = orig(df)
            calls.append(len(out))
            return out

        self._mp.setattr(self._cls, "collect", spy)
        return self

    def __exit__(self, *exc):
        self._mp.setattr(self._cls, "collect", self._orig)


def _doc_batches(spark, n_batches=2, limit=60):
    t = _tables(spark)
    docs = t["documents"].orderBy("doc_id").limit(limit).collect()
    cut = len(docs) // n_batches
    return [
        spark.createDataFrame(docs[i * cut : (i + 1) * cut if i < n_batches - 1 else None],
                              t["documents"].schema)
        for i in range(n_batches)
    ]


def _event_batches(spark, n_batches=2, limit=300):
    t = _tables(spark)
    ev = t["events"].orderBy("ts", "event_id").limit(limit).collect()
    cut = len(ev) // n_batches
    return [
        spark.createDataFrame(ev[i * cut : (i + 1) * cut if i < n_batches - 1 else None],
                              t["events"].schema)
        for i in range(n_batches)
    ]


# ---------------------------------------------------------------------------
# Collect-spy pins: driver transfer per fold is O(results), never O(state)


def test_text_dedup_fold_never_collects(spark, monkeypatch):
    """The r12-verdict bottleneck is gone: a BloomTextDedupAccumulator
    fold moves ZERO rows to the driver — decisions and owner state are
    relations."""
    from pyspark.sql import DataFrame

    from flink_streaming_etl_spark.streaming.text_dedup import (
        BloomTextDedupAccumulator,
    )

    acc = BloomTextDedupAccumulator()
    for i, b in enumerate(_doc_batches(spark)):
        with _CollectSpy(monkeypatch) as spy:
            acc.add_batch(b, batch_id=i)
        assert spy.calls == [], spy.calls
    assert isinstance(acc.owner_rel, DataFrame)
    assert isinstance(acc.kept_rel, DataFrame)
    assert not hasattr(acc, "bloom") and "first_owner" not in vars(acc)


def test_media_dedup_fold_never_collects(spark, monkeypatch):
    from pyspark.sql import DataFrame

    from flink_streaming_etl_spark.streaming.media_dedup import (
        MediaChunkDedupAccumulator,
    )

    acc = MediaChunkDedupAccumulator()
    for i, b in enumerate(_doc_batches(spark)):
        with _CollectSpy(monkeypatch) as spy:
            acc.add_batch(b, batch_id=i)
        assert spy.calls == [], spy.calls
    assert isinstance(acc.owner_rel, DataFrame)
    assert isinstance(acc.pairs_rel, DataFrame)
    assert "owners" not in vars(acc) and "pairs" not in vars(acc)


def test_transitions_driver_transfer_is_matrix_bounded(spark, monkeypatch):
    """The per-user state never crosses to the driver — only the two
    |types|²-bounded (from, to) aggregates do."""
    from pyspark.sql import DataFrame

    from flink_streaming_etl_spark.streaming.transitions import (
        EventTransitionAccumulator,
    )

    batches = _event_batches(spark)
    n_types = _tables(spark)["events"].select("event_type").distinct().count()
    bound = n_types * n_types
    acc = EventTransitionAccumulator()
    for i, b in enumerate(batches):
        with _CollectSpy(monkeypatch) as spy:
            acc.add_batch(b, batch_id=i)
        assert len(spy.calls) <= 2 and all(c <= bound for c in spy.calls), spy.calls
    assert isinstance(acc.last_rel, DataFrame)
    assert "last_event" not in vars(acc) and "last_active" not in vars(acc)


def test_paths_driver_transfer_is_path_bounded(spark, monkeypatch):
    """Open-session state AND the closed-path counts stay distributed
    (r14 extended the pin to the counts fold — r13 verdict #2): the
    fold performs ZERO driver collects; only top_paths(k) collects, and
    exactly k rows."""
    from pyspark.sql import DataFrame

    from flink_streaming_etl_spark.streaming.paths import EventPathAccumulator

    batches = _event_batches(spark)
    acc = EventPathAccumulator()
    for i, b in enumerate(batches):
        with _CollectSpy(monkeypatch) as spy:
            acc.add_batch(b, batch_id=i)
        assert len(spy.calls) == 0, spy.calls
    assert isinstance(acc.open_rel, DataFrame)
    assert isinstance(acc.counts_rel, DataFrame)
    assert "last_active" not in vars(acc) and "open" not in vars(acc)
    # the counts dict is a diagnostic PROPERTY, not fold state
    assert "counts" not in vars(acc)
    with _CollectSpy(monkeypatch) as spy:
        top = acc.top_paths(spark, k=3)
    assert spy.calls == [len(top)] and len(top) <= 3
    # top_paths is the head of the full distribution
    full = sorted(acc.counts.items(), key=lambda kv: (-kv[1], kv[0]))
    assert top == full[: len(top)]


# ---------------------------------------------------------------------------
# The media window-algebra fold vs the sequential reference algorithm:
# randomized batch splits, LOW owner caps (hot cutoffs inside batches),
# and re-delivery — the exact per-media loop the relations replaced.


def _media_brute(batches, cap, min_shared):
    """Pure-Python replica of the pre-r13 sequential fold: process each
    batch's media in ascending id order against the live owner map."""
    owners: dict = {}
    pairs: dict = {}
    for rows in batches:
        by_media: dict = {}
        for mid, ch in rows:
            by_media.setdefault(mid, set()).add(ch)
        for mid in sorted(by_media):
            shared: dict = {}
            for ch in by_media[mid]:
                own = owners.get(ch)
                if own is not None and len(own) <= cap:
                    for prior in own:
                        if prior != mid:
                            shared[prior] = shared.get(prior, 0) + 1
            for prior, n in shared.items():
                if n >= min_shared:
                    pairs[(min(prior, mid), max(prior, mid))] = n
            for ch in by_media[mid]:
                own = owners.setdefault(ch, [])
                if len(own) <= cap and mid not in own:
                    own.append(mid)
    return pairs


def test_media_window_algebra_equals_sequential_fold(spark):
    """Randomized splits + owner_cap=2 + re-delivery: the relation-side
    fold reproduces the sequential loop exactly, including mid-batch hot
    cutoffs (the e + rank−1 − cum_already invariant)."""
    import random

    from flink_streaming_etl_spark.operators.multimodal import (
        documents_as_media,
    )
    from flink_streaming_etl_spark.streaming.media_dedup import (
        MediaChunkDedupAccumulator,
    )

    blocks = ["".join(f"{c}{i:03d}" for i in range(16)) for c in "wxyz"]
    rng = random.Random(4242)
    docs = [
        (mid, rng.choice(blocks) + rng.choice(blocks) + f"tail-{mid}")
        for mid in range(1, 25)
    ]
    docs += docs[3:7]  # re-delivered media (same ids, later batches)

    for trial in range(3):
        order = docs[:]
        rng.shuffle(order)
        cuts = sorted(rng.sample(range(1, len(order)), 3))
        batches = [
            order[a:b]
            for a, b in zip([0] + cuts, cuts + [len(order)])
            if order[a:b]
        ]
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            [(m, t, "en", "s", len(t)) for m, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        acc = MediaChunkDedupAccumulator(min_shared=2, owner_cap=2)
        chunk_batches = []
        for i, rows in enumerate(batches):
            df = mk(rows)
            chunk_batches.append(
                [(r["media_id"], r["chash"])
                 for r in acc._batch_chunks(df).collect()]
            )
            acc.add_batch(df, batch_id=i)
        want = {
            k: v
            for k, v in _media_brute(chunk_batches, cap=2, min_shared=2).items()
            if v >= 2
        }
        got = {
            (r["a_id"], r["b_id"]): r["shared_chunks"]
            for r in acc.result(spark).collect()
        }
        assert got == want, (trial, len(batches))


# ---------------------------------------------------------------------------
# Durable save/restore (BucketedState) for the four externalized twins


def test_text_dedup_store_restore(spark, tmp_path):
    from flink_streaming_etl_spark.streaming.text_dedup import (
        BloomTextDedupAccumulator,
    )

    b0, b1 = _doc_batches(spark)
    root = str(tmp_path / "td")
    acc = BloomTextDedupAccumulator(store_root=root, spark=spark)
    acc.add_batch(b0, batch_id=0)
    acc.add_batch(b1, batch_id=1)
    want = sorted(tuple(r) for r in acc.kept_ids(spark).collect())

    fresh = BloomTextDedupAccumulator(store_root=root, spark=spark)
    assert sorted(tuple(r) for r in fresh.kept_ids(spark).collect()) == want
    # the restored replay guard skips the already-folded batch
    fresh.add_batch(b1, batch_id=1)
    assert sorted(tuple(r) for r in fresh.kept_ids(spark).collect()) == want


def test_media_dedup_store_restore(spark, tmp_path):
    from flink_streaming_etl_spark.streaming.media_dedup import (
        MediaChunkDedupAccumulator,
    )

    b0, b1 = _doc_batches(spark)
    root = str(tmp_path / "md")
    acc = MediaChunkDedupAccumulator(store_root=root, spark=spark)
    acc.add_batch(b0, batch_id=0)
    acc.add_batch(b1, batch_id=1)
    want = sorted(tuple(r) for r in acc.result(spark).collect())

    fresh = MediaChunkDedupAccumulator(store_root=root, spark=spark)
    assert sorted(tuple(r) for r in fresh.result(spark).collect()) == want
    fresh.add_batch(b1, batch_id=1)  # replay: no-op
    assert sorted(tuple(r) for r in fresh.result(spark).collect()) == want


def test_transitions_store_restore(spark, tmp_path):
    from flink_streaming_etl_spark.streaming.transitions import (
        EventTransitionAccumulator,
    )

    b0, b1 = _event_batches(spark)
    root = str(tmp_path / "tr")
    acc = EventTransitionAccumulator(store_root=root, spark=spark)
    acc.add_batch(b0, batch_id=0)
    acc.add_batch(b1, batch_id=1)
    want = sorted(tuple(r) for r in acc.result(spark).collect())

    fresh = EventTransitionAccumulator(store_root=root, spark=spark)
    assert sorted(tuple(r) for r in fresh.result(spark).collect()) == want
    fresh.add_batch(b1, batch_id=1)  # replay: no-op
    assert sorted(tuple(r) for r in fresh.result(spark).collect()) == want


def test_paths_store_restore(spark, tmp_path):
    from flink_streaming_etl_spark.streaming.paths import EventPathAccumulator

    b0, b1 = _event_batches(spark)
    root = str(tmp_path / "pa")
    acc = EventPathAccumulator(store_root=root, spark=spark)
    acc.add_batch(b0, batch_id=0)
    acc.add_batch(b1, batch_id=1)
    want = sorted(tuple(r) for r in acc.result(spark).collect())

    fresh = EventPathAccumulator(store_root=root, spark=spark)
    assert sorted(tuple(r) for r in fresh.result(spark).collect()) == want
    fresh.add_batch(b1, batch_id=1)  # replay: no-op
    assert sorted(tuple(r) for r in fresh.result(spark).collect()) == want


# ---------------------------------------------------------------------------
# Retention still behaves after externalization (relation-side eviction)


def test_text_dedup_retention_relation_side(spark):
    from flink_streaming_etl_spark.streaming.text_dedup import (
        BloomTextDedupAccumulator,
    )

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    acc = BloomTextDedupAccumulator(retention_batches=1)
    acc.add_batch(mk([(0, "same prefix body here", "en", "s", 20)]), batch_id=0)
    acc.add_batch(mk([(10, "unrelated filler one", "en", "s", 20)]), batch_id=1)
    acc.add_batch(mk([(11, "unrelated filler two", "en", "s", 20)]), batch_id=2)
    # the fp idled past the horizon → evicted from the owner relation
    assert all(r["last_seen"] > 1 for r in acc.owner_rel.collect())
    acc.add_batch(mk([(5, "same prefix body here", "en", "s", 20)]), batch_id=3)
    assert acc.kept[5]


# ---------------------------------------------------------------------------
# DEFINE-fragment validation (r12 verdict task #3 + ADVICE r12)


def _define_events(spark, vals_types, uid=1):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (uid * 100 + i, t0 + timedelta(hours=i), uid, ty, v)
        for i, (v, ty) in enumerate(vals_types)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )


def test_define_rejects_overlapping_quantified_predicates(spark):
    """Two '+'-quantified DEFINEs that co-fire on a row are outside the
    exclusive fragment: since r14 the entry point ROUTES to the
    backtracking NFA (performance-tier warning, never silently-wrong
    labels); strict=True still rejects with ValueError."""
    from flink_streaming_etl_spark.operators.cep import (
        DefineStep,
        cep_define_matches,
        cep_define_matches_nfa,
    )

    ev = _define_events(
        spark, [(1.0, "view"), (5.0, "click"), (20.0, "click"), (3.0, "view")]
    )
    steps = [
        DefineStep("a", lambda c: c["value"] > 0, "+"),       # fires on all
        DefineStep("b", lambda c: c["value"] > 10, "+"),      # overlaps a
    ]
    with pytest.warns(UserWarning, match="exclusive fragment"):
        routed = sorted(tuple(r) for r in cep_define_matches(ev, steps).collect())
    want = sorted(tuple(r) for r in cep_define_matches_nfa(ev, steps).collect())
    assert routed == want
    with pytest.raises(ValueError, match="exclusive fragment"):
        cep_define_matches(ev, steps, strict=True).collect()
    # validate=False accepts the documented first-variable-wins reading
    cep_define_matches(ev, steps, validate=False).collect()


def test_define_routes_greedy_absorption_boundary_to_nfa(spark):
    """The ADVICE r12 scenario: a '1'-step row absorbed into the
    neighbouring maximal '+' run (tail purchase with value < prev after
    dn+). Detected precisely at the run boundary; since r14 the entry
    point returns the NFA's backtracking matches (the one the greedy
    kernel provably misses) with a performance-tier warning, and
    ValueError under strict=True."""
    from flink_streaming_etl_spark.operators.cep import (
        DefineStep,
        cep_define_matches,
    )

    # dn-run = (30 → 20 → 10-purchase); the purchase row satisfies BOTH
    # dn (10 < 20) and tail (purchase), and no row follows it
    ev = _define_events(
        spark,
        [(5.0, "view"), (30.0, "click"), (20.0, "click"), (10.0, "purchase")],
    )
    steps = [
        DefineStep("low", lambda c: c["value"] < 50),
        DefineStep("up", lambda c: c["value"] > c["prev_value"], "+"),
        DefineStep("dn", lambda c: c["value"] < c["prev_value"], "+"),
        DefineStep("tail", lambda c: c["event_type"] == "purchase"),
    ]
    with pytest.warns(UserWarning, match="greedy absorption"):
        got = cep_define_matches(ev, steps).collect()
    # the routed result IS the backtracking match the greedy reading
    # misses (pinned against the brute-force expectations below)
    assert len(got) == 1
    m = got[0]
    assert m["low_first_event_id"] == 100 and m["up_first_event_id"] == 101
    assert m["dn_first_event_id"] == 102 and m["dn_n"] == 1
    assert m["tail_first_event_id"] == 103 and m["tail_last_value"] == 10.0
    with pytest.raises(ValueError, match="greedy absorption"):
        cep_define_matches(ev, steps, strict=True).collect()
    # validate=False keeps the documented greedy no-backtracking reading
    assert cep_define_matches(ev, steps, validate=False).count() == 0


def test_define_exclusive_pattern_passes_validation_silently(spark):
    """The flagship peak pattern (rise/drop are exclusive; the anchor is
    an undefined positional variable) validates clean — no warning, no
    error, same matches."""
    import warnings as _w

    from flink_streaming_etl_spark.operators.cep import (
        cep_define_peak_matches,
    )

    ev = _tables(spark)["events"]
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        n = cep_define_peak_matches(ev).count()
    assert n >= 0
    assert not [w for w in caught if "greedy absorption" in str(w.message)]


# ---------------------------------------------------------------------------
# CEP default delivery is the distributed path (r12 verdict task #2)


def test_cep_attach_default_path_never_collects_matches(spark, tmp_path, monkeypatch):
    """attach() with NO callback folds through the distributed
    on_matches_df path: the whole file-replay run performs ZERO
    driver collects (matches are never materialized), and the state
    still advances correctly."""
    import json as _json

    from flink_streaming_etl_spark.streaming.cep import CepAccumulator
    from tests.test_cep import _synth_stream

    df, _ = _synth_stream(spark, 131, n_users=2, n_per_user=24)
    ordered = df.orderBy("ts", "event_id").collect()
    src = tmp_path / "cep_src"
    src.mkdir()
    half = len(ordered) // 2
    for i, ch in enumerate((ordered[:half], ordered[half:])):
        with open(src / f"{i:03d}.json", "w") as f:
            for r in ch:
                f.write(
                    _json.dumps(
                        {
                            "event_id": r["event_id"],
                            "ts": r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"),
                            "user_id": r["user_id"],
                            "event_type": r["event_type"],
                        }
                    )
                    + "\n"
                )
    stream = (
        spark.readStream.schema(
            "event_id long, ts string, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    )
    acc = CepAccumulator()
    with _CollectSpy(monkeypatch) as spy:
        q = acc.attach(stream, checkpointLocation=str(tmp_path / "ckpt"))
        q.processAllAvailable()
        q.stop()
    assert spy.calls == [], spy.calls
    assert acc.last_batch_id == 1 and acc.tails_rel is not None


# ---------------------------------------------------------------------------
# Distributed timeout side-output delivery (mirrors on_matches_df)


def test_relaxed_cep_on_timeouts_df_never_collects(spark, monkeypatch):
    """With a distributed timeout sink, the timed-out-partial side
    output reaches the sink as a DataFrame and the fold performs ZERO
    driver collects; the delivered rows equal the collect path's."""
    import datetime as dt

    from flink_streaming_etl_spark.streaming.cep import RelaxedCepAccumulator

    _US = 1_000_000
    base = 1_700_000_000 * _US
    h = 3600 * _US

    def batch(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, us long, event_type string"
        ).select(
            "event_id",
            F.timestamp_micros(F.col("us")).alias("ts"),
            "user_id",
            "event_type",
        )

    b0 = [(1, 1, base, "view"), (2, 1, base + h, "click")]
    b1 = [(3, 1, base + 30 * h, "error")]  # start expired by now

    ref = RelaxedCepAccumulator()
    ref.add_batch(batch(b0), 0)
    ref.add_batch(batch(b1), 1)
    want = sorted(ref.last_timeouts)
    assert want, "scenario must produce a timeout"

    sunk_dfs: list = []
    acc = RelaxedCepAccumulator(on_timeouts_df=sunk_dfs.append)
    with _CollectSpy(monkeypatch) as spy:
        acc.add_batch(batch(b0), 0, on_matches_df=lambda df: None)
        acc.add_batch(batch(b1), 1, on_matches_df=lambda df: None)
    assert spy.calls == [], spy.calls
    assert acc.last_timeouts == []
    # the sink's DataFrames were checkpointed pre-delivery: reading them
    # AFTER the spy window proves the fold itself moved nothing
    sunk = [
        (r["user_id"], r["start_event_id"], r["start_us"], r["reason"])
        for df in sunk_dfs
        for r in df.collect()
    ]
    assert sorted(sunk) == want


# ---------------------------------------------------------------------------
# Backtracking fragment: PATTERN (A+ B) with overlapping DEFINEs
# (r12 verdict task #3 stretch) — closed form vs brute-force NFA


def _nfa_backtrack_matches(rows, a_pred, b_pred):
    """Brute-force SQL:2016 reference: greedy A+ with backtracking,
    AFTER MATCH SKIP PAST LAST ROW. ``rows`` sorted by (ts, event_id);
    preds take (rows, i) and may look at rows[i-1]."""
    out, i, n = [], 0, len(rows)
    while i < n:
        if a_pred(rows, i):
            e = i
            while e + 1 < n and a_pred(rows, e + 1):
                e += 1
            t = None
            for p in range(min(e + 1, n - 1), i, -1):  # greedy: largest first
                if b_pred(rows, p):
                    t = p
                    break
            if t is not None:
                out.append((i, t))
                i = t + 1
                continue
        i += 1
    return out


def test_backtrack_matches_equal_brute_force_nfa(spark):
    """The closed form (one match per maximal A-run, at the largest
    B-position in [a+1, e+1]) IS greedy-with-backtracking: equality with
    a row-by-row NFA over randomized multi-user streams where every B
    row also satisfies A (the overlap the exclusive fragment rejects)."""
    import random
    from datetime import datetime, timedelta

    from flink_streaming_etl_spark.operators.cep import cep_backtrack_matches

    rng = random.Random(1313)
    t0 = datetime(2024, 5, 1)
    rows = []
    eid = 0
    for uid in range(6):
        for i in range(rng.randrange(15, 40)):
            eid += 1
            rows.append(
                (
                    eid,
                    t0 + timedelta(minutes=10 * i),
                    uid,
                    rng.choice(["view", "click", "purchase", "purchase"]),
                    float(rng.randrange(0, 40)),
                )
            )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    got = sorted(
        (r["user_id"], r["start_event_id"], r["end_event_id"], r["n_a"])
        for r in cep_backtrack_matches(ev, within_hours=None).collect()
    )

    a_pred = lambda rs, i: i > 0 and rs[i][4] > rs[i - 1][4]  # noqa: E731
    b_pred = (  # noqa: E731
        lambda rs, i: rs[i][3] == "purchase" and i > 0 and rs[i][4] > rs[i - 1][4]
    )
    want = []
    by_user: dict = {}
    for r in sorted(rows, key=lambda r: (r[1], r[0])):
        by_user.setdefault(r[2], []).append(r)
    for uid, urows in by_user.items():
        for s, t in _nfa_backtrack_matches(urows, a_pred, b_pred):
            want.append((uid, urows[s][0], urows[t][0], t - s))
    assert got == sorted(want)
    assert got, "synthetic stream must contain matches"


def test_backtrack_matches_oracle_parity(spark):
    """Exact DuckDB parity for the registry entry at the gate SF —
    an overlapping-DEFINE pattern with a green cross-engine oracle."""
    from flink_streaming_etl_spark.operators import cep
    from tests.oracle import compare, duck_connection

    ev = _tables(spark)["events"]
    con = duck_connection(SF_SMOKE)
    try:
        ok, msg = compare(
            cep.cep_backtrack_matches(ev), con, cep.CEP_BACKTRACK_SQL
        )
        assert ok, msg
    finally:
        con.close()


def test_backtrack_finds_matches_the_exclusive_kernel_cannot(spark):
    """Witness that backtracking is REQUIRED: on a rising run ending in
    a rising purchase, the exclusive-fragment kernel's positional join
    (purchase expected at run end + 1) finds nothing, while the
    backtracking kernel reports the match."""
    from flink_streaming_etl_spark.operators.cep import (
        DefineStep,
        cep_backtrack_matches,
        cep_define_matches,
    )

    # 5 → 10 → 20-purchase: the rising run is rows 101-102 (row 100 has
    # no PREV), and the purchase IS the run's last rise
    ev = _define_events(
        spark, [(5.0, "view"), (10.0, "click"), (20.0, "purchase")]
    )
    got = cep_backtrack_matches(ev, within_hours=None).collect()
    assert len(got) == 1 and got[0]["n_a"] == 1
    assert got[0]["start_event_id"] == 101 and got[0]["end_event_id"] == 102

    steps = [
        DefineStep("up", lambda c: c["value"] > c["prev_value"], "+"),
        DefineStep(
            "tail",
            lambda c: (c["event_type"] == "purchase")
            & (c["value"] > c["prev_value"]),
        ),
    ]
    # the greedy reading (validate=False) absorbs the purchase into the
    # run and misses it; the validated entry point detects exactly that
    # and routes to the NFA, which agrees with the closed form (r14)
    assert cep_define_matches(ev, steps, validate=False).count() == 0
    with pytest.warns(UserWarning, match="greedy absorption"):
        routed = cep_define_matches(ev, steps).collect()
    assert len(routed) == 1
    assert routed[0]["up_first_event_id"] == 101
    assert routed[0]["tail_first_event_id"] == 102


def test_nfa_engine_equals_closed_form_on_corpus(spark):
    """Two INDEPENDENT implementations of the same overlapping pattern —
    the closed-form run algebra and the general backtracking NFA — agree
    row-for-row on the events table."""
    from flink_streaming_etl_spark.operators.cep import (
        cep_backtrack_matches,
        cep_nfa_backtrack_matches,
    )

    ev = _tables(spark)["events"]
    a = sorted(tuple(r) for r in cep_backtrack_matches(ev).collect())
    b = sorted(tuple(r) for r in cep_nfa_backtrack_matches(ev).collect())
    assert a == b and a


def test_nfa_engine_handles_mixed_pattern_backtracking(spark):
    """The general NFA finds the mixed-pattern match the exclusive
    kernel's validation warns it must miss: LOW UP+ DN+ TAIL where the
    TAIL purchase is the dn-run's own last row."""
    from flink_streaming_etl_spark.operators.cep import (
        DefineStep,
        cep_define_matches,
        cep_define_matches_nfa,
    )

    ev = _define_events(
        spark,
        [(5.0, "view"), (30.0, "click"), (20.0, "click"), (10.0, "purchase")],
    )
    steps = [
        DefineStep("low", lambda c: c["value"] < 50),
        DefineStep("up", lambda c: c["value"] > c["prev_value"], "+"),
        DefineStep("dn", lambda c: c["value"] < c["prev_value"], "+"),
        DefineStep("tail", lambda c: c["event_type"] == "purchase"),
    ]
    got = cep_define_matches_nfa(ev, steps).collect()
    assert len(got) == 1
    m = got[0]
    # backtracking gives the dn run's last row back to TAIL
    assert m["low_first_event_id"] == 100 and m["up_first_event_id"] == 101
    assert m["dn_first_event_id"] == 102 and m["dn_n"] == 1
    assert m["tail_first_event_id"] == 103 and m["tail_last_value"] == 10.0
    # the entry point now ROUTES here (r14): same single match through
    # cep_define_matches, with the performance-tier warning; the greedy
    # reading stays available behind validate=False
    with pytest.warns(UserWarning, match="greedy absorption"):
        assert cep_define_matches(ev, steps).count() == 1
    assert cep_define_matches(ev, steps, validate=False).count() == 0


def test_nfa_engine_equals_exclusive_kernel_on_separated_peaks(spark):
    """On an exclusive-fragment pattern whose matches are WELL-SEPARATED
    (flat rows between peaks, none at a partition edge) the two engines
    coincide exactly. Separation matters: the run-algebra kernel anchors
    each run positionally without consuming rows, so back-to-back peaks
    sharing an anchor row (a W-shape) are a DOCUMENTED divergence from
    the NFA's AFTER MATCH SKIP PAST LAST ROW — flats remove the overlap."""
    from datetime import datetime, timedelta

    from flink_streaming_etl_spark.operators.cep import (
        DefineStep,
        cep_define_matches,
        cep_define_matches_nfa,
    )

    t0 = datetime(2024, 6, 1)
    rows, eid = [], 0
    # per user: flat, flat, rise, rise, drop, flat, rise, drop, drop, flat
    shape = [10.0, 10.0, 12.0, 14.0, 13.0, 13.0, 20.0, 15.0, 9.0, 9.0]
    for uid in range(3):
        for i, v in enumerate(shape):
            eid += 1
            rows.append((eid, t0 + timedelta(minutes=5 * i), uid, "view",
                         v + uid))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    steps = [
        DefineStep("base"),
        DefineStep("rise", lambda c: c["value"] > c["prev_value"], "+"),
        DefineStep("drop", lambda c: c["value"] < c["prev_value"], "+"),
    ]
    a = sorted(
        tuple(r) for r in cep_define_matches(ev, steps, validate=False).collect()
    )
    b = sorted(tuple(r) for r in cep_define_matches_nfa(ev, steps).collect())
    assert a == b
    assert len(a) == 6  # two separated peaks per user


# ---------------------------------------------------------------------------
# Real media decode: PPM/P6 (r12 verdict task #7)


def test_ppm_parser_spec_compliance():
    """The decoder is a real netpbm P6 parser: '#' header comments,
    arbitrary whitespace, exact raster length — and it REJECTS malformed
    payloads instead of falling back to byte stats."""
    from flink_streaming_etl_spark.operators.multimodal import _parse_ppm

    raster = bytes(range(27))
    w, h, mx, r = _parse_ppm(
        b"P6\n# comment line\n3 3\n# another\n255\n" + raster
    )
    assert (w, h, mx) == (3, 3, 255) and r == raster
    with pytest.raises(ValueError, match="P6"):
        _parse_ppm(b"P5\n3 3\n255\n" + raster)
    with pytest.raises(ValueError, match="truncated"):
        _parse_ppm(b"P6\n3 3\n255\n" + raster[:-1])


def test_media_ppm_features_known_values(spark):
    """Hand-checked decode: a 3-char text tiles to a raster whose R/G/B
    channels are each a constant byte; an empty text is a black image."""
    from flink_streaming_etl_spark.operators.multimodal import (
        media_ppm_features,
    )

    docs = spark.createDataFrame(
        [(1, "abc", "en", "s", 3), (2, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["media_id"]: r for r in media_ppm_features(docs).collect()}
    # 'abc' tiled: position i holds ord('abc'[i % 3]); channel = i % 3
    assert got[1]["mean_r"] == float(ord("a"))
    assert got[1]["mean_g"] == float(ord("b"))
    assert got[1]["mean_b"] == float(ord("c"))
    assert got[2]["mean_r"] == got[2]["mean_g"] == got[2]["mean_b"] == 0.0
    assert got[1]["width"] == 8 and got[1]["n_pixels"] == 64


def test_media_resize_is_a_real_ppm_roundtrip(spark):
    """Resize = decode → nearest-neighbor sample → re-encode: the output
    payloads are themselves valid P6 images the real decoder re-reads;
    constant-channel inputs stay constant through the roundtrip."""
    from flink_streaming_etl_spark.operators.multimodal import (
        _parse_ppm,
        documents_as_ppm,
        media_resize_report,
        ppm_resize,
    )

    docs = spark.createDataFrame(
        [(1, "abc", "en", "s", 3), (2, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    resized = {r["media_id"]: r for r in
               ppm_resize(documents_as_ppm(docs)).collect()}
    w, h, mx, raster = _parse_ppm(bytes(resized[1]["payload"]))
    assert (w, h, mx) == (4, 4, 255) and len(raster) == 48
    got = {r["media_id"]: r for r in media_resize_report(docs).collect()}
    # 'abc' tiling is channel-constant, so any pixel sample preserves it
    assert got[1]["mean_r"] == float(ord("a"))
    assert got[1]["mean_g"] == float(ord("b"))
    assert got[1]["mean_b"] == float(ord("c"))
    assert got[1]["n_pixels"] == 16 and got[2]["mean_r"] == 0.0


def test_media_frames_parses_real_pnm_stream(spark):
    """The 3-frame stream is parsed by REPEATED header parsing; frames
    0 and 2 are sampled. Frame 2 tiles from offset 34 ≡ 1 (mod 3), so
    its channels rotate: (b, c, a) for text 'abc'."""
    from flink_streaming_etl_spark.operators.multimodal import (
        media_frames_report,
    )

    docs = spark.createDataFrame(
        [(1, "abc", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["frame_idx"]: r for r in media_frames_report(docs).collect()}
    assert set(got) == {0, 2}
    assert got[0]["mean_r"] == float(ord("a"))
    assert got[2]["mean_r"] == float(ord("b"))
    assert got[2]["mean_g"] == float(ord("c"))
    assert got[2]["mean_b"] == float(ord("a"))


def test_media_resize_and_frames_oracle_parity(spark):
    from flink_streaming_etl_spark.operators import multimodal as mm
    from tests.oracle import compare, duck_connection

    docs = _tables(spark)["documents"]
    con = duck_connection(SF_SMOKE)
    try:
        ok, msg = compare(
            mm.media_resize_report(docs), con, mm.MEDIA_RESIZE_REPORT_SQL
        )
        assert ok, ("resize", msg)
        ok, msg = compare(
            mm.media_frames_report(docs), con, mm.MEDIA_FRAMES_REPORT_SQL
        )
        assert ok, ("frames", msg)
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Native executor-resident state: applyInPandasWithState twin (task #6)


def test_stateful_transitions_equals_foreachbatch_twin(spark, tmp_path):
    """The applyInPandasWithState transform, run over a file-replayed
    stream of the events table, accumulates the SAME transition matrix
    as the foreachBatch accumulator (and hence the batch operator)."""
    from flink_streaming_etl_spark.operators.analytics import (
        event_transition_report,
    )
    from flink_streaming_etl_spark.streaming.transitions import (
        StatefulEventTransitions,
    )

    ev = _tables(spark)["events"].orderBy("ts", "event_id").limit(400)
    src_dir = tmp_path / "src"
    # two replay files = two micro-batches, globally (ts, event_id)
    # ordered → per-user batch-monotone (the S6 contract)
    rows = ev.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, ev.schema).select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "user_id",
            "event_type",
            "value",
        ).coalesce(1).write.json(str(src_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(
            "event_id long, ts string, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir / "*"))
        .withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    )
    st = StatefulEventTransitions()
    q = st.attach(
        stream, checkpointLocation=str(tmp_path / "ckpt")
    )
    q.processAllAvailable()  # the twin's query never ends on its own
    q.stop()

    want = sorted(
        tuple(r) for r in event_transition_report(ev).collect()
    )
    got = sorted(tuple(r) for r in st.result(spark).collect())
    assert got == want


def test_stateful_paths_equals_foreachbatch_closed_counts(spark, tmp_path):
    """The second native-state template: gap-session paths on
    applyInPandasWithState (open session = GroupState). Over a
    file-replayed stream its CLOSED-path counts equal the foreachBatch
    accumulator's after the same batches (open sessions live in engine
    state vs the open relation — both excluded)."""
    from flink_streaming_etl_spark.streaming.paths import (
        EventPathAccumulator,
        StatefulEventPaths,
    )

    ev = _tables(spark)["events"].orderBy("ts", "event_id").limit(400)
    rows = ev.collect()
    half = len(rows) // 2
    src_dir = tmp_path / "src"
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, ev.schema).select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "user_id",
            "event_type",
        ).coalesce(1).write.json(str(src_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(
            "event_id long, ts string, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir / "*"))
        .withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    )
    st = StatefulEventPaths()
    q = st.attach(stream, checkpointLocation=str(tmp_path / "ckpt"))
    q.processAllAvailable()  # the twin's query never ends on its own
    q.stop()

    acc = EventPathAccumulator()
    acc.add_batch(spark.createDataFrame(rows[:half], ev.schema), batch_id=0)
    acc.add_batch(spark.createDataFrame(rows[half:], ev.schema), batch_id=1)
    assert dict(st.counts) == dict(acc.counts)
    assert st.counts, "replay must close at least one session"
