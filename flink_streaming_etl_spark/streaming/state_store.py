"""Durable accumulator state: parquet-backed save/restore, and the one
durable-fold protocol every streaming accumulator shares.

Why: the accumulators keep their state as localCheckpoint'd DataFrames —
session-local. With a PERSISTENT Structured Streaming checkpoint, a
restarted stream resumes from the last committed batch id, so a fresh
accumulator (empty state, empty replay guard) would silently fold only
the NEW batches onto nothing — wrong answers, not a crash. Durable state
must therefore travel WITH the streaming checkpoint: save after every
folded batch, restore before re-attach.

Durable-fold protocol (:class:`DurableFold`). Every accumulator under
``streaming/`` except ``rules.py`` is one: the relation-side dedup folds
(text, media, MinHash, embedding), event paths and transitions, the CEP
matchers, the ±delta changelog folds (``IncrementalDistinctCount``,
``IncrementalTopK``, ``IncrementalCollect``), the data-quality gate, the
incremental join and its two compositions (``IncrementalJoinAgg``,
``IncrementalJoinCollect``), and the driver-side sketches (anomaly,
heavy hitters, histogram, KMV — empty ``_STATE``, no store). Each
declares its state once, as ``_STATE``: relation name → bucket key
columns, each relation held in the attribute ``_ATTR.format(name)``.
The base class owns everything else:

- a store under ``store_root``, restored by :meth:`DurableFold.restore`
  (at construction when ``spark`` is given), else lazily on the first
  fold;
- the replay guard: a batch id at or below ``last_batch_id`` is a replay
  of a committed batch and folds nothing;
- idle-state retention (T5, Flink's state TTL) as one fold step: with
  ``retention_batches`` set, a fold that names its touched groups
  stamps them in the ``retention_touch`` relation with the committed
  fold clock ``n_batches``; groups idle past the horizon leave every
  state relation, their keys join the touched set (so their buckets are
  rewritten and a restore cannot resurrect them), and a group that
  reappears starts fresh;
- fold-then-commit (T6): a fold builds its new relations in locals; the
  durable save runs next (every relation bucketed on its keys into
  ``_N_BUCKETS`` buckets, only the buckets of the fold's touched keys
  rewritten; a relation the fold did not touch keeps its buckets), then
  the relations, ``n_batches`` and ``last_batch_id`` commit. A fold or
  save that fails leaves memory, store, retention stamps and clock at
  the previous batch, so a same-epoch retry re-folds instead of being
  skipped as a replay; a crash between save and commit restores the
  saved state on restart;
- store versions: a save counter (``_save_seq``), or the fold's batch id
  for the ``_BATCH_VERSIONS`` families (whose folds without an id are
  then not saved);
- ``attach``: foreachBatch onto the fold (``availableNow`` for the
  ``_AVAILABLE_NOW`` families); the joins wire two streams with durable
  per-side guards.

Meta ``extra`` holds ``last_batch_id`` and ``n_batches`` plus whatever
the fold passes (the transitions' ``counts`` matrix, the data-quality
counters, the joins' per-side guards).

Layout (one root per accumulator):

    <root>/b<id>/<relation>.parquet     plain relations as of batch <id>
    <root>/<name>.buckets/v<id>/_bucket=<b>/   bucketed relation slices
    <root>/meta.json                    {"last_batch_id", "relations",
                                         "bucketed", "extra"}

Write protocol: relation data first (new b<id> / v<id> directories,
never overwriting live files in place), meta.json last (atomic rename) —
a crash mid-save leaves the previous meta pointing at the previous
complete version, never a torn state. Superseded version directories are
pruned best-effort after the meta flip. On a cluster the same protocol
targets an object store / DBFS path; a transactional table format
(Delta/Iceberg) would subsume the manual version flip, but the two-phase
"data then pointer" shape is the same.

Save cost: a bucketed relation is hash-partitioned on its keys into
stable buckets, and a save rewrites ONLY the buckets the batch touched —
meta.json keeps, per bucket, a pointer to the version directory that
owns its current bytes (Flink's incremental RocksDB checkpoints make the
same trade: per-batch upload ∝ changed SSTs, not total state). Untouched
buckets are never read or written; files-rewritten ∝ touched buckets is
pinned in tests/test_round11.py and tests/test_round12.py.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

#: bucket-map value marking a touched bucket that ended the batch empty
_EMPTY = "empty"


def group_match(left: DataFrame, right: DataFrame, cols: list[str]):
    """Null-safe group-key equality (a NULL group is a real group)."""
    cond = None
    for c in cols:
        e = left[c].eqNullSafe(right[c])
        cond = e if cond is None else cond & e
    return cond


def all_but(col: str) -> Callable[[DataFrame], list[str]]:
    """Bucket keys of a relation keyed by every column except ``col``
    (its measure), for relations whose columns a fold decides."""
    return lambda df: [c for c in df.columns if c != col]


class BucketedState:
    """Descriptor for a bucket-partitioned durable relation.

    ``key_cols`` feed the stable bucket hash ``pmod(hash(keys), n)``;
    ``touched`` is a (batch-bounded) relation of the keys this batch
    changed — only their buckets are rewritten. ``touched=None`` means
    rewrite everything (a full snapshot, e.g. on first save of restored
    foreign state)."""

    def __init__(
        self,
        df: DataFrame,
        key_cols: list[str],
        n_buckets: int = 16,
        touched: DataFrame | None = None,
    ):
        self.df = df
        self.key_cols = list(key_cols)
        self.n_buckets = int(n_buckets)
        self.touched = touched

    def bucket_expr(self) -> F.Column:
        return F.pmod(
            F.hash(*[F.col(k) for k in self.key_cols]), F.lit(self.n_buckets)
        )


class AccumulatorStateStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        #: per-relation bucket pointer maps, carried across saves and
        #: re-seeded from an existing meta.json (a fresh handle on an
        #: existing root must not orphan untouched buckets)
        self._bucket_map: dict[str, dict] = {}
        self._n_buckets: dict[str, int] = {}
        if os.path.exists(self._meta_path()):
            try:
                with open(self._meta_path()) as f:
                    meta = json.load(f)
                for name, info in meta.get("bucketed", {}).items():
                    self._bucket_map[name] = dict(info["map"])
                    self._n_buckets[name] = int(info["n_buckets"])
            except (OSError, ValueError, KeyError) as e:
                # the first save rewrites the meta from this handle's view
                log.warning(
                    "unreadable state meta %s (%s); starting from a fresh root",
                    self._meta_path(), e,
                )

    def _meta_path(self) -> str:
        return os.path.join(self.root, "meta.json")

    def save(
        self,
        batch_id: int,
        relations: dict[str, DataFrame | None],
        extra: dict | None = None,
        bucketed: dict[str, BucketedState] | None = None,
    ) -> None:
        vdir = os.path.join(self.root, f"b{batch_id}")
        names = []
        for name, df in relations.items():
            if df is None:
                continue
            df.write.mode("overwrite").parquet(os.path.join(vdir, f"{name}.parquet"))
            names.append(name)

        for name, spec in (bucketed or {}).items():
            self._save_bucketed(name, spec, batch_id)

        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "last_batch_id": int(batch_id),
                    "relations": names,
                    "bucketed": {
                        name: {"n_buckets": self._n_buckets[name], "map": m}
                        for name, m in self._bucket_map.items()
                    },
                    "extra": extra or {},
                },
                f,
            )
        os.replace(tmp, self._meta_path())  # the atomic pointer flip
        self._prune(batch_id)

    def _save_bucketed(self, name: str, spec: BucketedState, batch_id: int) -> None:
        if spec.touched is None:
            touched = list(range(spec.n_buckets))
        else:
            # ≤ n_buckets rows cross to the driver — bucket ids, never keys
            touched = sorted(
                r["b"]
                for r in spec.touched.select(spec.bucket_expr().alias("b"))
                .distinct()
                .collect()
            )
        out = os.path.join(self.root, f"{name}.buckets", f"v{batch_id}")
        # a failed earlier save under this version may have left buckets
        shutil.rmtree(out, ignore_errors=True)
        if spec.df is not None and touched:
            # ONE write job; hive-partitioned so only the touched buckets'
            # files materialize, one leaf dir per non-empty touched bucket
            (
                spec.df.withColumn("_bucket", spec.bucket_expr())
                .filter(F.col("_bucket").isin([int(b) for b in touched]))
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(out)
            )
        written = set()
        if os.path.isdir(out):
            written = {
                d.split("=", 1)[1]
                for d in os.listdir(out)
                if d.startswith("_bucket=")
            }
        bmap = self._bucket_map.setdefault(name, {})
        self._n_buckets[name] = spec.n_buckets
        for b in touched:
            bmap[str(b)] = int(batch_id) if str(b) in written else _EMPTY

    def _prune(self, batch_id: int) -> None:
        """Best-effort removal of superseded version dirs (failures leave
        garbage, never a bad pointer)."""
        for d in os.listdir(self.root):
            if d.startswith("b") and d[1:].isdigit() and d != f"b{batch_id}":
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        for name, bmap in self._bucket_map.items():
            broot = os.path.join(self.root, f"{name}.buckets")
            if not os.path.isdir(broot):
                continue
            live = {f"v{vid}" for vid in bmap.values() if vid != _EMPTY}
            for d in os.listdir(broot):
                if d.startswith("v") and d not in live:
                    shutil.rmtree(os.path.join(broot, d), ignore_errors=True)

    def load(
        self, spark: SparkSession
    ) -> tuple[int, dict[str, DataFrame], dict] | None:
        """Return (last_batch_id, {name: relation}, extra) or None if
        never saved. Bucketed relations come back merged into the same
        dict (absent when every bucket is empty)."""
        if not os.path.exists(self._meta_path()):
            return None
        with open(self._meta_path()) as f:
            meta = json.load(f)
        bid = int(meta["last_batch_id"])
        vdir = os.path.join(self.root, f"b{bid}")
        rels = {
            name: spark.read.parquet(os.path.join(vdir, f"{name}.parquet"))
            # localCheckpoint: detach from the files so a later save's
            # prune can't invalidate the in-memory state
            .localCheckpoint(eager=True)
            for name in meta["relations"]
        }
        for name, info in meta.get("bucketed", {}).items():
            paths = [
                os.path.join(
                    self.root, f"{name}.buckets", f"v{vid}", f"_bucket={b}"
                )
                for b, vid in info["map"].items()
                if vid != _EMPTY
            ]
            if paths:
                # leaf dirs read directly, so the _bucket partition column
                # never enters the relation's schema
                rels[name] = spark.read.parquet(*paths).localCheckpoint(eager=True)
        return bid, rels, meta.get("extra", {})




class DurableFold:
    """Base of every streaming accumulator: store, restore, replay
    guard, idle retention, bucketed save, commit and attach (see the
    module docstring). Subclasses declare ``_STATE`` and fold."""

    _N_BUCKETS = 64
    #: state relation name → its bucket key columns, or a callable that
    #: derives them from the relation (see :func:`all_but`)
    _STATE: dict[str, list[str] | Callable[[DataFrame], list[str]]] = {}
    #: the attribute holding relation ``name``
    _ATTR = "{}_rel"
    #: store versions are the folds' batch ids instead of a save counter
    _BATCH_VERSIONS = False
    #: ``attach`` drains what is available and stops (availableNow)
    _AVAILABLE_NOW = False
    #: idle-state retention horizon in folds; None keeps every group
    retention_batches: int | None = None
    n_batches = 0
    last_batch_id: int | None = None

    def __init__(self, store_root: str | None, spark: SparkSession | None = None):
        for name in self._STATE:
            # a relation already reachable (a composed join's) stays as is
            if not hasattr(self, self._ATTR.format(name)):
                setattr(self, self._ATTR.format(name), None)
        self._save_seq = 0
        self.store = (
            AccumulatorStateStore(store_root) if store_root is not None else None
        )
        self._restored = self.store is None
        if self.store is not None and spark is not None:
            self.restore(spark)

    @property
    def _store(self) -> AccumulatorStateStore | None:
        """The store under its older name (``state_dir`` families)."""
        return self.store

    @property
    def _retention(self) -> DurableFold | None:
        """Holder of the retention clock (``n_batches``): the fold itself
        when retention is on."""
        return None if self.retention_batches is None else self

    def restore(self, spark: SparkSession) -> bool:
        """Load the last saved state; True if something was restored."""
        self._restored = True
        loaded = None if self.store is None else self.store.load(spark)
        if loaded is None:
            return False
        bid, rels, extra = loaded
        self._save_seq = bid
        self.last_batch_id = extra.get("last_batch_id", bid)
        self.n_batches = int(extra.get("n_batches", 0))
        for name in self._STATE:
            setattr(self, self._ATTR.format(name), rels.get(name))
        self._on_restore(spark, extra)
        return True

    def _on_restore(self, spark: SparkSession, extra: dict) -> None:
        """Rebuild state kept outside ``_STATE`` from a restored store."""

    def _replayed(self, spark: SparkSession, batch_id: int | None) -> bool:
        """Restore if still pending; True when ``batch_id`` is already
        committed (the fold must then do nothing)."""
        if not self._restored:
            self.restore(spark)
        return (
            batch_id is not None
            and self.last_batch_id is not None
            and batch_id <= self.last_batch_id
        )

    def _retain(self, groups: DataFrame, n: int, state: dict, touched: dict) -> None:
        """The retention step of fold ``n``: stamp ``groups`` (the fold's
        touched group keys) and evict the groups idle past the horizon
        from every relation of ``state``, adding their keys to
        ``touched``. Works on the fold's locals, so it commits with them."""
        cols = groups.columns
        stamps = getattr(self, self._ATTR.format("retention_touch"))
        marked = groups.withColumn("_last_batch", F.lit(n))
        if stamps is not None:
            marked = stamps.join(
                groups, group_match(stamps, groups, cols), "anti"
            ).unionByName(marked)
        stamps = marked.localCheckpoint(eager=True)
        state["retention_touch"], touched["retention_touch"] = stamps, groups
        horizon = n - self.retention_batches
        if horizon <= 0:
            return
        idle = stamps.filter(F.col("_last_batch") <= horizon).select(*cols)
        if not idle.take(1):  # group-bounded relation, cheap action
            return
        idle = idle.localCheckpoint(eager=True)
        for name, rel in state.items():
            if name == "retention_touch" or rel is None:
                continue
            on = group_match(rel, idle, cols)
            gone = rel.join(F.broadcast(idle), on, "semi")
            touched[name] = touched[name].unionByName(
                gone.select(*self._keys(name, rel))
            )
            state[name] = rel.join(F.broadcast(idle), on, "anti").localCheckpoint(
                eager=True
            )
        state["retention_touch"] = stamps.filter(
            F.col("_last_batch") > horizon
        ).localCheckpoint(eager=True)
        touched["retention_touch"] = groups.unionByName(idle)

    def _keys(self, name: str, rel: DataFrame | None) -> list[str]:
        keys = self._STATE[name]
        if not callable(keys):
            return keys
        return [] if rel is None else keys(rel)

    def _save_state(
        self,
        last_bid: int | None,
        n_batches: int,
        state: dict[str, DataFrame | None],
        touched: dict[str, DataFrame | None],
        extra: dict | None = None,
    ) -> None:
        """Save the ``touched`` relations of ``state`` under a fresh store
        version: only their touched keys' buckets are rewritten (all of
        them when the touched keys are None); the other relations keep
        their buckets."""
        if self.store is None:
            return
        seq = last_bid if self._BATCH_VERSIONS else self._save_seq + 1
        bucketed = {
            name: BucketedState(
                state[name],
                self._keys(name, t if state[name] is None else state[name]),
                n_buckets=self._N_BUCKETS,
                touched=t,
            )
            for name, t in touched.items()
        }
        self.store.save(
            seq,
            {},
            extra={"last_batch_id": last_bid, "n_batches": n_batches, **(extra or {})},
            bucketed=bucketed,
        )
        self._save_seq = seq

    def _commit(
        self,
        batch_id: int | None,
        state: dict[str, DataFrame | None] | None = None,
        touched: dict[str, DataFrame | None] | None = None,
        extra: dict | None = None,
        groups: DataFrame | None = None,
    ) -> None:
        """Run the retention step over ``groups`` (when retention is on),
        save the fold's relations, then commit them with ``n_batches``
        and ``last_batch_id``."""
        state, touched = dict(state or {}), dict(touched or {})
        n = self.n_batches + 1
        if groups is not None and self.retention_batches is not None:
            self._retain(groups, n, state, touched)
        last_bid = self.last_batch_id if batch_id is None else int(batch_id)
        if batch_id is not None or not self._BATCH_VERSIONS:
            self._save_state(last_bid, n, state, touched, extra)
        for name, df in state.items():
            setattr(self, self._ATTR.format(name), df)
        self.n_batches = n
        self.last_batch_id = last_bid

    def _foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.add_batch(batch, int(batch_id))

    def attach(
        self, stream: DataFrame, checkpoint_root: str | None = None, **start_kwargs
    ):
        """Wire onto a streaming DataFrame via foreachBatch and start;
        ``checkpoint_root`` is the query's checkpoint location."""
        w = stream.writeStream.outputMode("append").foreachBatch(self._foreach_batch)
        if checkpoint_root is not None:
            w = w.option("checkpointLocation", checkpoint_root)
        if self._AVAILABLE_NOW:
            w = w.trigger(availableNow=True)
        return w.start(**start_kwargs)
