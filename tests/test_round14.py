"""Round 14 (r13 verdict): NFA scan bounds + out-of-fragment routing,
relation-side path counts, quantified-CEP timeout side output,
executor-resident state for the corpus-scale dedup accumulators, and the
engine-keyed-state ±delta pilot."""

from __future__ import annotations

import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from flink_streaming_etl_spark.api import load_tables
from tests.conftest import SF_SMOKE


def _tables(spark):
    return load_tables(spark, SF_SMOKE, register=False)


def _define_events(spark, vals_types, uid=1, step_minutes=60):
    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (uid * 1000 + i, t0 + timedelta(minutes=step_minutes * i), uid, ty, v)
        for i, (v, ty) in enumerate(vals_types)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )


# ---------------------------------------------------------------------------
# Task 3: the NFA scan is memoized and boundable (r13 verdict #4)


def test_nfa_scan_memoization_survives_pathological_key():
    """One key, adversarial history: five all-true '+' steps and an
    impossible tail — the naive scan is O(n^5) per start (heat-death
    territory at n=400); the memoized scan completes in seconds."""
    from flink_streaming_etl_spark.operators.cep import _nfa_scan

    n = 400
    flags = [[True] * n for _ in range(5)] + [[False] * n]
    quants = ["+"] * 5 + ["1"]
    t0 = time.monotonic()
    out = _nfa_scan(flags, quants)
    assert out == []  # tail never matches → no match from any start
    assert time.monotonic() - t0 < 30.0


def test_nfa_scan_budget_overflow_semantics():
    """The per-key work cap: 'raise' (default) surfaces the hot key,
    'truncate' keeps the matches completed before the budget point."""
    from flink_streaming_etl_spark.operators.cep import (
        NfaScanBudgetExceeded,
        _nfa_scan,
    )

    n = 50
    # A B with B true only at even positions: many small matches
    flags = [[True] * n, [i % 2 == 0 for i in range(n)]]
    quants = ["1", "1"]
    full = _nfa_scan(flags, quants)
    assert len(full) > 3
    with pytest.raises(NfaScanBudgetExceeded):
        _nfa_scan(flags, quants, budget=10)
    part = _nfa_scan(flags, quants, budget=10, on_budget="truncate")
    # truncation keeps an exact PREFIX of the full match list
    assert part == full[: len(part)] and len(part) < len(full)


def test_nfa_within_prune_bounds_scan_and_backtracks_inside_window(spark):
    """within_mode juxtaposition on one stream: 'filter' (the oracle
    semantics) finds the greedy match, sees it over-WITHIN, and drops
    it; 'prune' (FlinkCEP window semantics) never extends past the
    horizon, so backtracking reports the shorter in-window completion."""
    from flink_streaming_etl_spark.operators.cep import (
        DefineStep,
        cep_define_matches_nfa,
    )

    # rising hourly values; purchases at index 3 and 10
    rows = [
        (float(i), "purchase" if i in (3, 10) else "view") for i in range(11)
    ]
    ev = _define_events(spark, rows)
    steps = [
        DefineStep("up", lambda c: c["value"] > c["prev_value"], "+"),
        DefineStep(
            "tail",
            lambda c: (c["event_type"] == "purchase")
            & (c["value"] > c["prev_value"]),
        ),
    ]
    filt = cep_define_matches_nfa(ev, steps, within_hours=5).collect()
    assert filt == []  # greedy binds the index-10 purchase → span 9 h → drop
    pruned = sorted(
        cep_define_matches_nfa(
            ev, steps, within_hours=5, within_mode="prune"
        ).collect(),
        key=lambda r: r["start_us"],
    )
    # first match backtracks to the index-3 purchase (horizon caps the
    # run); the freed tail then yields a second in-window match ending
    # at the index-10 purchase — matches 'filter' mode provably misses
    assert [r["tail_first_event_id"] for r in pruned] == [1003, 1010]
    assert all(r["end_us"] - r["start_us"] <= 5 * 3600 * 1000000 for r in pruned)
    # no WITHIN → the two modes coincide exactly
    a = sorted(
        tuple(r)
        for r in cep_define_matches_nfa(ev, steps, within_hours=None).collect()
    )
    b = sorted(
        tuple(r)
        for r in cep_define_matches_nfa(
            ev, steps, within_hours=None, within_mode="prune"
        ).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# Task 1: executor-resident GroupState twins of the corpus-scale-state
# dedup accumulators (r13 verdict #1) — per-fold cost O(batch) point
# updates against the engine's keyed state store, pinned equal to the
# foreachBatch twins on arbitrary chunkings and across engine restarts.

_DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows], _DOC_SCHEMA
    )


def _write_doc_files(spark, src_dir, chunks):
    """One JSON file per chunk → one micro-batch per chunk under
    maxFilesPerTrigger=1 (file order = write order)."""
    for i, rows in enumerate(chunks):
        _mk_docs(spark, rows).coalesce(1).write.json(
            str(src_dir / f"b{i:03d}")
        )


def _doc_stream(spark, src_dir):
    return (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir / "*"))
    )


_TEXT_ROWS = [
    (1, "alpha text one two three"),
    (2, "beta body of text"),
    (3, "alpha text one two three"),      # dups 1 (cross-batch)
    (4, "gamma distinct content"),
    (5, "beta body of text"),             # dups 2
    (6, "delta unique line"),
    (7, "alpha text one two three"),      # dups 1 again (intra-batch w/ 6)
]


@pytest.mark.parametrize(
    "cuts", [((0, 2), (2, 5), (5, 7)), ((0, 7),), ((0, 1), (1, 4), (4, 6), (6, 7))]
)
def test_stateful_text_dedup_equals_foreachbatch_twin(spark, tmp_path, cuts):
    """Arbitrary chunkings: the GroupState twin's decision stream folds
    to exactly the foreachBatch accumulator's decision log."""
    from flink_streaming_etl_spark.streaming.text_dedup import (
        BloomTextDedupAccumulator,
        StatefulBloomTextDedup,
    )

    chunks = [_TEXT_ROWS[a:b] for a, b in cuts]
    acc = BloomTextDedupAccumulator()
    for i, rows in enumerate(chunks):
        acc.add_batch(_mk_docs(spark, rows), batch_id=i)
    want = acc.kept

    src = tmp_path / "src"
    _write_doc_files(spark, src, chunks)
    decisions: dict = {}

    def sink(df):
        for r in df.collect():
            decisions[r["doc_id"]] = r["kept"]

    st = StatefulBloomTextDedup()
    q = st.attach(
        _doc_stream(spark, src),
        on_decisions_df=sink,
        checkpointLocation=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert decisions == want
    assert not all(decisions.values()), "corpus must contain duplicates"


def test_stateful_text_dedup_restart_restores_owners(spark, tmp_path):
    """Engine-owned durability: a NEW instance resumed from the same
    checkpointLocation dedups post-restart docs against the owners
    registered before the restart."""
    from flink_streaming_etl_spark.streaming.text_dedup import (
        StatefulBloomTextDedup,
    )

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    _write_doc_files(spark, src, [_TEXT_ROWS[:2]])
    got: dict = {}

    def sink(df):
        for r in df.collect():
            got[r["doc_id"]] = r["kept"]

    st = StatefulBloomTextDedup()
    q = st.attach(_doc_stream(spark, src), on_decisions_df=sink,
                  checkpointLocation=ckpt)
    q.processAllAvailable()
    q.stop()
    assert got == {1: True, 2: True}

    # restart: doc 8 duplicates doc 1's text, doc 9 is fresh — written
    # AFTER the first run, so only the resumed query sees it
    _mk_docs(
        spark, [(8, "alpha text one two three"), (9, "fresh words")]
    ).coalesce(1).write.json(str(src / "b900"))
    st2 = StatefulBloomTextDedup()
    q2 = st2.attach(_doc_stream(spark, src), on_decisions_df=sink,
                    checkpointLocation=ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert got[8] is False and got[9] is True


def test_stateful_media_dedup_equals_foreachbatch_twin(spark, tmp_path):
    """The GroupState media twin reproduces the foreachBatch twin's
    accumulated duplicate pairs over a multi-batch replay (the round-8
    handover corpus: cross-batch and intra-batch dups)."""
    from flink_streaming_etl_spark.streaming.media_dedup import (
        MediaChunkDedupAccumulator,
        StatefulMediaChunkDedup,
    )

    blk_a = "".join(f"a{i:03d}" for i in range(64))  # 4 aligned chunks
    blk_b = "".join(f"b{i:03d}" for i in range(64))
    rows = [
        (1, blk_a + "tail-one"),
        (2, blk_b + "two-suffix"),
        (3, blk_a + "tail-three"),
        (4, "other content entirely " * 10),
        (5, blk_b + "trailer-five"),
        (6, blk_a + "tail-six"),
        (7, blk_a + "tail-seven"),
    ]
    chunks = [rows[:2], rows[2:5], rows[5:]]

    acc = MediaChunkDedupAccumulator()
    for i, c in enumerate(chunks):
        acc.add_batch(_mk_docs(spark, c), batch_id=i)
    want = acc.pairs
    assert want, "corpus must contain duplicate pairs"

    src = tmp_path / "src"
    _write_doc_files(spark, src, chunks)
    pairs: dict = {}

    def sink(df):
        for r in df.collect():
            pairs[(r["a_id"], r["b_id"])] = r["shared_chunks"]

    st = StatefulMediaChunkDedup()
    q = st.attach(
        _doc_stream(spark, src),
        on_pairs_df=sink,
        checkpointLocation=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert pairs == want


def test_stateful_media_fold_equals_sequential_brute(spark):
    """The per-chash GroupState fold IS the sequential owner-list loop:
    randomized splits + owner_cap=2 against the pure-Python replica
    (the r13 window-algebra pin, applied to the r14 executor fold).
    Exercised directly on the fold function — no stream needed."""
    import random

    import pandas as pd

    from flink_streaming_etl_spark.streaming.media_dedup import (
        _media_chunk_fold,
    )
    from tests.test_round13 import _media_brute

    class _FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    rng = random.Random(99)
    chashes = [f"c{i}" for i in range(6)]
    all_rows = [
        (rng.randrange(1, 15), rng.choice(chashes)) for _ in range(120)
    ]
    cuts = sorted(rng.sample(range(1, len(all_rows)), 3))
    batches = [
        all_rows[a:b]
        for a, b in zip([0] + cuts, cuts + [len(all_rows)])
        if all_rows[a:b]
    ]
    cap = 2
    fold = _media_chunk_fold(cap)
    states: dict = {}
    got: dict = {}
    for rows in batches:
        by_ch: dict = {}
        for mid, ch in rows:
            by_ch.setdefault(ch, []).append(mid)
        contribs: dict = {}
        for ch, mids in by_ch.items():
            st = states.setdefault(ch, _FakeState())
            pdf = pd.DataFrame({"media_id": mids, "chash": ch})
            for out in fold((ch,), iter([pdf]), st):
                for r in out.itertuples(index=False):
                    k = (int(r.a_id), int(r.b_id))
                    contribs[k] = contribs.get(k, 0) + int(r.n)
        for k, n in contribs.items():
            if n >= 2:  # min_shared
                got[k] = n
    want = {
        k: v
        for k, v in _media_brute(
            [list(dict.fromkeys(b)) for b in batches], cap=cap, min_shared=2
        ).items()
        if v >= 2
    }
    assert got == want


# ---------------------------------------------------------------------------
# Streaming NEAR-dup dedup (r14 extension): MinHash-LSH incremental
# new-vs-corpus dedup — the near-dup tier beside text_dedup's exact tier.


def test_streaming_neardup_single_batch_equals_dedup_apply(spark):
    """Fed the whole corpus as ONE batch, the accumulator's kept set is
    exactly dedup_apply's kept corpus (the intra-batch tier IS the batch
    operator's keep-first rule)."""
    from flink_streaming_etl_spark.operators.dedup import dedup_apply
    from flink_streaming_etl_spark.streaming.neardup import (
        MinHashNearDupAccumulator,
    )

    docs = _tables(spark)["documents"]
    acc = MinHashNearDupAccumulator()
    acc.add_batch(docs, batch_id=0)
    got = sorted(r["doc_id"] for r in acc.kept_ids(spark).collect())
    want = sorted(r["doc_id"] for r in dedup_apply(docs).collect())
    assert got == want
    assert len(got) < docs.count(), "corpus must contain near-dups"


def _nd_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_streaming_neardup_sequential_cross_batch(spark):
    """The chain scenario (a~b, b~c, a≁c) exercises the documented
    order-dependence: sequentially delivered, c SURVIVES (its only match
    b was never admitted to the corpus); in one batch, c drops through
    the keep-first pair rule. Owners recorded deterministically."""
    from flink_streaming_etl_spark.streaming.neardup import (
        MinHashNearDupAccumulator,
    )

    base = [f"w{i}" for i in range(31)]
    t_a = " ".join(base)
    mid = list(base); mid[10] = "CHANGED1"
    t_b = " ".join(mid)
    far = list(mid); far[20] = "CHANGED2"
    t_c = " ".join(far)
    rows = [(1, t_a), (2, t_b), (3, t_c), (4, "entirely different words here")]

    # sequential delivery: b drops against a; c survives (b not kept)
    seq = MinHashNearDupAccumulator(threshold=0.85)
    seq.add_batch(_nd_docs(spark, rows[:1]), batch_id=0)
    seq.add_batch(_nd_docs(spark, rows[1:2]), batch_id=1)
    seq.add_batch(_nd_docs(spark, rows[2:]), batch_id=2)
    assert seq.kept == {1: True, 2: False, 3: True, 4: True}
    assert seq.owners == {2: 1}

    # one batch: keep-first pair semantics — c drops via its pair with b
    one = MinHashNearDupAccumulator(threshold=0.85)
    one.add_batch(_nd_docs(spark, rows), batch_id=0)
    assert one.kept == {1: True, 2: False, 3: False, 4: True}
    assert one.owners == {2: 1, 3: 2}


def test_streaming_neardup_store_restore(spark, tmp_path):
    """Durable BucketedState: a fresh accumulator restored from the
    store still drops a later near-dup against the pre-restart corpus,
    and replays of a committed batch are no-ops."""
    from flink_streaming_etl_spark.streaming.neardup import (
        MinHashNearDupAccumulator,
    )

    base = [f"t{i}" for i in range(31)]
    t_a = " ".join(base)
    mod = list(base); mod[5] = "X"
    t_dup = " ".join(mod)
    root = str(tmp_path / "nd")
    acc = MinHashNearDupAccumulator(
        threshold=0.85, store_root=root, spark=spark
    )
    acc.add_batch(_nd_docs(spark, [(1, t_a)]), batch_id=0)

    fresh = MinHashNearDupAccumulator(
        threshold=0.85, store_root=root, spark=spark
    )
    fresh.add_batch(_nd_docs(spark, [(2, t_dup)]), batch_id=1)
    assert fresh.kept == {1: True, 2: False} and fresh.owners == {2: 1}
    # replay of the committed batch is a no-op
    fresh.add_batch(_nd_docs(spark, [(2, t_dup)]), batch_id=1)
    assert fresh.kept == {1: True, 2: False}


def test_streaming_neardup_retention_evicts_idle_owners(spark):
    """T5: an owner unprobed for retention_batches folds leaves the
    index — a later near-dup of it is KEPT (fresh-corpus semantics);
    the decision log keeps history."""
    from flink_streaming_etl_spark.streaming.neardup import (
        MinHashNearDupAccumulator,
    )

    base = [f"r{i}" for i in range(31)]
    t_a = " ".join(base)
    mod = list(base); mod[7] = "Y"
    t_dup = " ".join(mod)
    acc = MinHashNearDupAccumulator(threshold=0.85, retention_batches=1)
    acc.add_batch(_nd_docs(spark, [(1, t_a)]), batch_id=0)
    # two folds of unrelated docs age doc 1 out of the index
    acc.add_batch(_nd_docs(spark, [(5, "unrelated alpha beta gamma")]), 1)
    acc.add_batch(_nd_docs(spark, [(6, "another disjoint text body")]), 2)
    acc.add_batch(_nd_docs(spark, [(2, t_dup)]), batch_id=3)
    assert acc.kept[2] is True  # the owner was evicted — no drop
    assert acc.kept[1] is True  # history survives in the decision log


# ---------------------------------------------------------------------------
# Streaming EMBEDDING-cosine dedup (r14 extension): the SemDeDup-style
# semantic tier beside the exact and MinHash streaming dedups.


def test_streaming_embedding_dedup_single_batch_equals_batch_apply(spark):
    """Fed the whole corpus as ONE batch (exact tier), the accumulator's
    kept set is exactly embedding_dedup_apply's kept corpus."""
    from flink_streaming_etl_spark.operators.similarity import (
        embedding_dedup_apply,
    )
    from flink_streaming_etl_spark.streaming.embedding_dedup import (
        EmbeddingNearDupAccumulator,
    )

    emb = _tables(spark)["embeddings"]
    acc = EmbeddingNearDupAccumulator(threshold=0.4)
    acc.add_batch(emb, batch_id=0)
    got = sorted(r["vec_id"] for r in acc.kept_ids(spark).collect())
    want = sorted(r["vec_id"] for r in embedding_dedup_apply(emb).collect())
    assert got == want
    assert len(got) < emb.count(), "corpus must contain semantic dups"


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, v, "l") for i, v in rows],
        "vec_id long, embedding array<double>, label string",
    )


def test_streaming_embedding_dedup_sequential_and_retention(spark):
    """Chain a~b, b~c, a≁c at threshold 0.9 (25°-apart unit vectors):
    sequential delivery keeps c (its only match b was never admitted);
    with retention the evicted owner stops blocking later dups."""
    import math

    from flink_streaming_etl_spark.streaming.embedding_dedup import (
        EmbeddingNearDupAccumulator,
    )

    deg = lambda d: [math.cos(math.radians(d)), math.sin(math.radians(d))]  # noqa: E731
    rows = [(1, deg(0)), (2, deg(25)), (3, deg(50)), (4, [0.0, -1.0])]

    seq = EmbeddingNearDupAccumulator(threshold=0.9)
    for i, r in enumerate(rows):
        seq.add_batch(_emb(spark, [r]), batch_id=i)
    assert seq.kept == {1: True, 2: False, 3: True, 4: True}
    assert seq.owners == {2: 1}

    # one batch: keep-first pair semantics — c drops via its pair with b
    one = EmbeddingNearDupAccumulator(threshold=0.9)
    one.add_batch(_emb(spark, rows), batch_id=0)
    assert one.kept == {1: True, 2: False, 3: False, 4: True}
    assert one.owners == {2: 1, 3: 2}

    # retention: after two idle folds the vec-1 owner ages out, so a
    # fresh near-dup of it is kept (fresh-corpus semantics)
    ret = EmbeddingNearDupAccumulator(threshold=0.9, retention_batches=1)
    ret.add_batch(_emb(spark, [(1, deg(0))]), batch_id=0)
    ret.add_batch(_emb(spark, [(8, [0.0, 1.0])]), batch_id=1)
    ret.add_batch(_emb(spark, [(9, [-1.0, 0.0])]), batch_id=2)
    ret.add_batch(_emb(spark, [(5, deg(10))]), batch_id=3)
    assert ret.kept[5] is True and ret.kept[1] is True


def test_streaming_embedding_dedup_bucket_tier_is_recall_bounded(spark):
    """The n_planes sign-LSH tier only PREFILTERS: every drop it makes
    is a genuine ≥-threshold pair (subset of the exact tier's drops),
    so its kept set is a superset of the exact kept set."""
    from flink_streaming_etl_spark.streaming.embedding_dedup import (
        EmbeddingNearDupAccumulator,
    )

    emb = _tables(spark)["embeddings"]
    exact = EmbeddingNearDupAccumulator(threshold=0.4)
    exact.add_batch(emb, batch_id=0)
    lsh = EmbeddingNearDupAccumulator(threshold=0.4, n_planes=4)
    lsh.add_batch(emb, batch_id=0)
    kept_exact = {k for k, v in exact.kept.items() if v}
    kept_lsh = {k for k, v in lsh.kept.items() if v}
    assert kept_exact <= kept_lsh
    # every LSH drop is a real drop with the same or a later owner
    exact_owner = exact.owners
    for vid, owner in lsh.owners.items():
        assert vid in exact_owner and owner >= exact_owner[vid]


def test_streaming_embedding_dedup_store_restore(spark, tmp_path):
    """Durable BucketedState: a restored accumulator drops a later
    near-dup against the pre-restart corpus; replays are no-ops."""
    import math

    from flink_streaming_etl_spark.streaming.embedding_dedup import (
        EmbeddingNearDupAccumulator,
    )

    deg = lambda d: [math.cos(math.radians(d)), math.sin(math.radians(d))]  # noqa: E731
    root = str(tmp_path / "ed")
    acc = EmbeddingNearDupAccumulator(
        threshold=0.9, store_root=root, spark=spark
    )
    acc.add_batch(_emb(spark, [(1, deg(0))]), batch_id=0)

    fresh = EmbeddingNearDupAccumulator(
        threshold=0.9, store_root=root, spark=spark
    )
    fresh.add_batch(_emb(spark, [(2, deg(10))]), batch_id=1)
    assert fresh.kept == {1: True, 2: False} and fresh.owners == {2: 1}
    fresh.add_batch(_emb(spark, [(2, deg(10))]), batch_id=1)  # replay no-op
    assert fresh.kept == {1: True, 2: False}


def test_dedup_cascade_tiers_partition_and_attribute(spark):
    """Exact → near cascade: identical docs die at the exact tier,
    near-dups of kept docs at the near tier (including cross-batch),
    uniques survive; exact-tier drops never reach the near tier's log
    or index; the tier census adds up."""
    from flink_streaming_etl_spark.streaming.dedup_cascade import DedupCascade

    base = [f"c{i}" for i in range(31)]
    t_a = " ".join(base)
    mod = list(base); mod[4] = "EDITED"
    t_near = " ".join(mod)
    b0 = [
        (1, t_a),
        (2, t_a),            # exact dup of 1 (same prefix fingerprint)
        (3, t_near),         # near-dup of 1 (fails exact, dies at near)
        (4, "a completely different body of words"),
    ]
    # edit INSIDE the 8-token prefix so the exact fingerprint differs
    mod2 = list(base); mod2[2] = "LATER"
    b1 = [(5, " ".join(mod2))]  # cross-batch near-dup of kept doc 1

    cas = DedupCascade(threshold=0.85)
    cas.add_batch(_nd_docs(spark, b0), batch_id=0)
    cas.add_batch(_nd_docs(spark, b1), batch_id=1)

    dec = {
        r["doc_id"]: (r["kept"], r["tier"])
        for r in cas.decisions(spark).collect()
    }
    assert dec == {
        1: (True, None),
        2: (False, "exact"),
        3: (False, "near"),
        4: (True, None),
        5: (False, "near"),
    }
    # the exact-tier drop never entered the near tier
    assert 2 not in cas.near.kept
    assert sorted(r["doc_id"] for r in cas.kept_ids(spark).collect()) == [1, 4]
    census = {r["tier"]: r["n"] for r in cas.tier_census(spark).collect()}
    assert census == {None: 2, "exact": 1, "near": 2}


def test_new_dedup_accumulators_fold_never_collects(spark, monkeypatch):
    """House discipline for the r14 accumulators: the fold path performs
    ZERO driver collects — state stays relation-side; only the
    diagnostic accessors collect."""
    from tests.test_round13 import _CollectSpy

    from flink_streaming_etl_spark.streaming.embedding_dedup import (
        EmbeddingNearDupAccumulator,
    )
    from flink_streaming_etl_spark.streaming.neardup import (
        MinHashNearDupAccumulator,
    )

    base = [f"s{i}" for i in range(31)]
    docs0 = _nd_docs(spark, [(1, " ".join(base)), (2, "other body")])
    mod = list(base); mod[3] = "Z"
    docs1 = _nd_docs(spark, [(3, " ".join(mod))])
    nd = MinHashNearDupAccumulator(threshold=0.85)
    with _CollectSpy(monkeypatch) as spy:
        nd.add_batch(docs0, batch_id=0)
        nd.add_batch(docs1, batch_id=1)
    assert spy.calls == [], spy.calls
    assert nd.kept[3] is False  # the fold really decided something

    ed = EmbeddingNearDupAccumulator(threshold=0.9)
    with _CollectSpy(monkeypatch) as spy:
        ed.add_batch(_emb(spark, [(1, [1.0, 0.0])]), batch_id=0)
        ed.add_batch(_emb(spark, [(2, [0.99, 0.05])]), batch_id=1)
    assert spy.calls == [], spy.calls
    assert ed.kept[2] is False


# ---------------------------------------------------------------------------
# Task 7: engine-keyed-state ±delta pilot — NativeDistinctCount vs
# IncrementalDistinctCount (equality, restart, retention).


def _dc_batches(spark):
    """The round-10 cancellable-orders changelog (inserts, partial and
    full retraction, group-vanishing update, same-batch churn)."""
    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    lines = [
        [env("c", order("o1", "u1", 10.0, "payed"), ts=1),
         env("c", order("o2", "u1", 20.0, "payed"), ts=2),
         env("c", order("o3", "u2", 30.0, "payed"), ts=3),
         env("c", order("o4", "u3", 40.0, "created"), ts=4)],
        [env("d", before=order("o1", "u1", 10.0, "payed"), ts=5)],
        [env("d", before=order("o2", "u1", 20.0, "payed"), ts=6)],
        [env("u", order("o4", "u3", 40.0, "payed"),
             before=order("o4", "u3", 40.0, "created"), ts=7)],
        [env("c", order("o5", "u4", 5.0, "payed"), ts=8),
         env("d", before=order("o5", "u4", 5.0, "payed"), ts=9)],
    ]
    return [src.parse(raw_df(spark, ls)) for ls in lines]


def _dc_stream_setup(spark, tmp_path, batches, start=0):
    src_dir = tmp_path / "src"
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(str(src_dir / f"b{start + i:03d}"))
    return (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )


def _dc_sink(counts: dict):
    def sink(df):
        for r in df.collect():
            if r["distinct_cnt"] > 0:
                counts[r["k0"]] = r["distinct_cnt"]
            else:
                counts.pop(r["k0"], None)

    return sink


def test_native_distinct_count_equals_foreachbatch_twin(spark, tmp_path):
    """Engine-keyed GroupState distinct count == IncrementalDistinctCount
    over the full retraction scenario."""
    from flink_streaming_etl_spark.streaming.incremental import (
        IncrementalDistinctCount,
    )
    from flink_streaming_etl_spark.streaming.native_state import (
        NativeDistinctCount,
    )

    batches = _dc_batches(spark)
    inc = IncrementalDistinctCount(
        key_exprs=lambda img: [img["status"]],
        value=lambda img: img["user_id"],
    )
    for i, b in enumerate(batches):
        inc.apply(b, batch_id=i)
    want = sorted(
        (r["k0"], r["distinct_cnt"]) for r in inc.result().collect()
    )

    counts: dict = {}
    nat = NativeDistinctCount(
        key_exprs=lambda img: [img["status"]],
        value=lambda img: img["user_id"],
    )
    q = nat.attach(
        _dc_stream_setup(spark, tmp_path, batches),
        on_counts_df=_dc_sink(counts),
        checkpointLocation=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(counts.items()) == want
    assert want == [("payed", 2)]  # the scenario's known endpoint


def test_native_distinct_count_restart_restores_refcounts(spark, tmp_path):
    """Stop after the insert batches, resume a NEW instance from the
    same checkpoint: the restored refcounts make the partial retraction
    keep distinct=2 and the full retraction drop it — engine-owned
    durability, no BucketedState."""
    from flink_streaming_etl_spark.streaming.native_state import (
        NativeDistinctCount,
    )

    batches = _dc_batches(spark)
    counts: dict = {}
    mk = lambda: NativeDistinctCount(  # noqa: E731
        key_exprs=lambda img: [img["status"]],
        value=lambda img: img["user_id"],
    )
    ckpt = str(tmp_path / "ckpt")
    q = mk().attach(
        _dc_stream_setup(spark, tmp_path, batches[:1]),
        on_counts_df=_dc_sink(counts),
        checkpointLocation=ckpt,
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(counts.items()) == [("created", 1), ("payed", 2)]

    for i, b in enumerate(batches[1:], start=1):
        b.coalesce(1).write.parquet(str(tmp_path / "src" / f"b{i:03d}"))
    q2 = mk().attach(
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src" / "*")),
        on_counts_df=_dc_sink(counts),
        checkpointLocation=ckpt,
    )
    q2.processAllAvailable()
    q2.stop()
    assert sorted(counts.items()) == [("payed", 2)]


def test_native_distinct_count_ttl_evicts_idle_groups(spark, tmp_path):
    """Idle-group retention through the engine's ProcessingTimeTimeout:
    a group untouched past the TTL is evicted (0-row removal signal); a
    reappearing group starts fresh — Flink state-TTL semantics."""
    import time as _t

    from flink_streaming_etl_spark.sources.cdc import CdcSource
    from flink_streaming_etl_spark.streaming.native_state import (
        NativeDistinctCount,
    )
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    b0 = src.parse(raw_df(spark, [
        env("c", order("o1", "u1", 1.0, "payed"), ts=1),
        env("c", order("o2", "u2", 1.0, "created"), ts=2),
    ]))
    b1 = src.parse(raw_df(spark, [
        env("c", order("o3", "u9", 1.0, "created"), ts=3),
    ]))
    counts: dict = {}
    nat = NativeDistinctCount(
        key_exprs=lambda img: [img["status"]],
        value=lambda img: img["user_id"],
        retention_ms=1500,
    )

    def wait_for(cond, deadline_s=120.0):
        # a ProcessingTimeTimeout query triggers continuous (empty)
        # batches so expiries can fire — processAllAvailable never sees
        # it quiesce; the harness polls the sink instead
        end = _t.time() + deadline_s
        while _t.time() < end:
            if cond():
                return
            _t.sleep(0.5)
        raise AssertionError(f"condition not reached; counts={counts}")

    q = nat.attach(
        _dc_stream_setup(spark, tmp_path, [b0]),
        on_counts_df=_dc_sink(counts),
        checkpointLocation=str(tmp_path / "ckpt"),
    )
    wait_for(lambda: sorted(counts.items())
             == [("created", 1), ("payed", 1)])
    # idle past the 1.5 s TTL: the live query's trigger loop fires the
    # expiries for BOTH idle groups (0-row removal signals)
    wait_for(lambda: counts == {})
    b1.coalesce(1).write.parquet(str(tmp_path / "src" / "b001"))
    # the reappearing group starts FRESH (u2's refcounts are gone) —
    # Flink state-TTL semantics
    wait_for(lambda: counts == {"created": 1})
    q.stop()
    assert counts == {"created": 1}


# ---------------------------------------------------------------------------
# Task 6: quantified-CEP dead-partial side output (mirrors the relaxed
# accumulator's r13 on_timeouts_df path)

_US = 1_000_000
_H = 3600 * _US


def _ev_batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, us long, event_type string, value double",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def test_quantified_cep_timeout_reasons(spark):
    """One batch, three users, all three dead-partial reasons: a
    completed A B+ C past WITHIN (over_within), an interrupted run
    (broken), and — after a second batch ages it out — an expired
    pending start. Matched and still-pending starts never report."""
    from flink_streaming_etl_spark.streaming.cep import (
        QuantifiedCepAccumulator,
    )

    base = 1_700_000_000 * _US
    b0 = [
        # user 1: complete but 30 h span → over_within
        (10, 1, base, "view", 1.0),
        (11, 1, base + _H, "click", 2.0),
        (12, 1, base + 30 * _H, "purchase", 3.0),
        # user 2: A run interrupted by error → broken
        (20, 2, base, "view", 1.0),
        (21, 2, base + _H, "click", 2.0),
        (22, 2, base + 2 * _H, "error", 0.0),
        # user 3: trailing A + run → pending, must NOT report yet
        (30, 3, base, "view", 1.0),
        (31, 3, base + _H, "click", 2.0),
        # user 4: complete within bound → emitted, never reports
        (40, 4, base, "view", 1.0),
        (41, 4, base + _H, "click", 2.0),
        (42, 4, base + 2 * _H, "purchase", 3.0),
    ]
    acc = QuantifiedCepAccumulator()
    matches = acc.add_batch(_ev_batch(spark, b0), 0)
    assert [m[0] for m in matches] == [4]
    got = sorted(acc.last_timeouts)
    assert got == [
        (1, 10, base, "over_within"),
        (2, 20, base, "broken"),
    ]
    # batch 1: user 3's newest row moves 30 h past its pending A
    b1 = [(32, 3, base + 30 * _H, "error", 0.0)]
    acc.add_batch(_ev_batch(spark, b1), 1)
    assert acc.last_timeouts == [(3, 30, base, "expired")]


def test_quantified_cep_on_timeouts_df_never_collects(spark, monkeypatch):
    """With a distributed timeout sink the quantified fold performs ZERO
    driver collects and the sink receives the same rows the collect
    path reports — the r13 relaxed-CEP pin, mirrored (r13 verdict #6)."""
    from tests.test_round13 import _CollectSpy

    from flink_streaming_etl_spark.streaming.cep import (
        QuantifiedCepAccumulator,
    )

    base = 1_700_000_000 * _US
    b0 = [
        (1, 1, base, "view", 1.0),
        (2, 1, base + _H, "click", 2.0),
    ]
    b1 = [(3, 1, base + 30 * _H, "error", 0.0)]

    ref = QuantifiedCepAccumulator()
    ref.add_batch(_ev_batch(spark, b0), 0)
    assert ref.last_timeouts == []  # pending start must not pre-report
    ref.add_batch(_ev_batch(spark, b1), 1)
    want = sorted(ref.last_timeouts)
    assert want, "scenario must produce a timeout"

    sunk_dfs: list = []
    acc = QuantifiedCepAccumulator(on_timeouts_df=sunk_dfs.append)
    with _CollectSpy(monkeypatch) as spy:
        acc.add_batch(_ev_batch(spark, b0), 0, on_matches_df=lambda df: None)
        acc.add_batch(_ev_batch(spark, b1), 1, on_matches_df=lambda df: None)
    assert spy.calls == [], spy.calls
    assert acc.last_timeouts == []
    sunk = [
        (r["user_id"], r["start_event_id"], r["start_us"], r["reason"])
        for df in sunk_dfs
        for r in df.collect()
    ]
    assert sorted(sunk) == want


def test_quantified_timeout_streaming_equals_batch_report(spark):
    """Streamed dead-partial reports ∪ pending-as-end_of_stream == the
    batch report over the full table (ids exactly; reasons equal except
    the documented broken→expired reclassification — the batch view
    classifies with end-of-history knowledge)."""
    from flink_streaming_etl_spark.operators.cep import (
        cep_quantified_timeout_report,
    )
    from flink_streaming_etl_spark.streaming.cep import (
        QuantifiedCepAccumulator,
    )

    ev = _tables(spark)["events"].orderBy("ts", "event_id").limit(400)
    rows = ev.collect()
    want = {
        (r["user_id"], r["start_event_id"]): r["reason"]
        for r in cep_quantified_timeout_report(ev).collect()
    }

    acc = QuantifiedCepAccumulator()
    streamed: dict = {}
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    for i, c in enumerate(chunks):
        acc.add_batch(spark.createDataFrame(c, ev.schema), batch_id=i)
        for (uid, eid, _us, reason) in acc.last_timeouts:
            streamed[(uid, eid)] = reason
    # before the flush: everything but the pending (end_of_stream) rows
    pend_ids = {k for k, v in want.items() if v == "end_of_stream"}
    assert set(streamed) == set(want) - pend_ids
    # flush reports exactly the pending starts as end_of_stream (r14) —
    # the stream now covers the batch report's id set completely
    assert acc.flush(spark) == []
    for (uid, eid, _us, reason) in acc.last_timeouts:
        streamed[(uid, eid)] = reason
    assert set(streamed) == set(want)
    for k, r in streamed.items():
        assert r == want[k] or (r == "broken" and want[k] == "expired"), (
            k, r, want[k],
        )
    assert acc.tails_rel is None  # flush cleared the carried state
    assert streamed and pend_ids, "slice must produce dead AND pending"


def test_nfa_budget_raises_end_to_end(spark):
    """The budget threads through the Spark entry point: a tiny per-key
    cap fails the job with the documented error, truncate completes."""
    from flink_streaming_etl_spark.operators.cep import (
        DefineStep,
        cep_define_matches_nfa,
    )

    ev = _define_events(spark, [(float(i % 7), "view") for i in range(60)])
    steps = [
        DefineStep("up", lambda c: c["value"] > c["prev_value"], "+"),
        DefineStep("dn", lambda c: c["value"] < c["prev_value"], "+"),
    ]
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        cep_define_matches_nfa(ev, steps, scan_budget_per_key=5).collect()
    assert "NFA scan exceeded" in str(ei.value)
    got = cep_define_matches_nfa(
        ev, steps, scan_budget_per_key=5, on_budget="truncate"
    ).collect()
    full = cep_define_matches_nfa(ev, steps).collect()
    assert len(got) <= len(full)
