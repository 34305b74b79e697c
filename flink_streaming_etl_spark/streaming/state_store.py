"""Durable accumulator state: parquet-backed save/restore for the
streaming accumulators, and the one durable-fold protocol that the
relation-side accumulators share.

Why: the accumulators keep their state as localCheckpoint'd DataFrames —
session-local. With a PERSISTENT Structured Streaming checkpoint, a
restarted stream resumes from the last committed batch id, so a fresh
accumulator (empty state, empty replay guard) would silently fold only
the NEW batches onto nothing — wrong answers, not a crash. Durable state
must therefore travel WITH the streaming checkpoint: save after every
folded batch, restore before re-attach.

Durable-fold protocol (:class:`DurableFold`). The relation-side
accumulators (text, media, MinHash and embedding dedup, event paths and
transitions, the CEP matchers) declare their state once, as ``_STATE``:
name → (schema, key columns), each relation held in ``<name>_rel``.
The base class owns everything else:

- a store under ``store_root``, restored when ``spark`` is given, else
  lazily on the first fold;
- the replay guard: a batch id at or below ``last_batch_id`` is a replay
  of a committed batch and folds nothing;
- fold-then-commit (T6): a fold builds its new relations in locals; the
  durable save runs next (every relation bucketed on its keys into
  ``_N_BUCKETS`` buckets, only the buckets of the fold's touched keys
  rewritten, an empty frame of the schema standing in for absent state),
  then ``<name>_rel``, ``n_batches`` and ``last_batch_id`` commit. A
  fold or save that fails leaves memory and store at the previous batch,
  so a same-epoch retry re-folds instead of being skipped as a replay;
  a crash between save and commit restores the saved state on restart;
- a store version counter (``_save_seq``) apart from batch ids, so a
  save that is not a fold (CEP's flush) gets a fresh version directory;
- ``attach``: foreachBatch onto ``add_batch``.

Meta ``extra`` holds ``last_batch_id`` and ``n_batches`` plus whatever
the fold passes (the transitions' ``counts`` matrix).

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

Save cost: a PLAIN relation is rewritten wholesale per batch — fine for
k-bounded or group-bounded state (top-k buffers, per-group counts). For
state that grows with the CORPUS (IncrementalDistinctCount's live-pair
reference counts), pass it as a :class:`BucketedState` instead: the
relation is hash-partitioned on its key into ``n_buckets`` stable
buckets, and a save rewrites ONLY the buckets the batch touched —
meta.json keeps, per bucket, a pointer to the version directory that
owns its current bytes (Flink's incremental RocksDB checkpoints make
the same trade: per-batch upload ∝ changed SSTs, not total state).
Untouched buckets are never read or written; files-rewritten ∝ touched
buckets is pinned in tests/test_round11.py.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: bucket-map value marking a touched bucket that ended the batch empty
_EMPTY = "empty"


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
            except (OSError, ValueError, KeyError):
                pass  # unreadable meta behaves like a fresh root

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
        bexpr = spec.bucket_expr()
        if spec.touched is None:
            touched = list(range(spec.n_buckets))
        else:
            # ≤ n_buckets rows cross to the driver — bucket ids, never keys
            touched = sorted(
                r["b"]
                for r in spec.touched.select(bexpr.alias("b")).distinct().collect()
            )
        out = os.path.join(self.root, f"{name}.buckets", f"v{batch_id}")
        if spec.df is not None and touched:
            # ONE write job; hive-partitioned so only the touched buckets'
            # files materialize, one leaf dir per non-empty touched bucket
            (
                spec.df.withColumn("_bucket", bexpr)
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
    """Base of the relation-side accumulators: store, restore, replay
    guard, bucketed save and commit (see the module docstring).
    Subclasses declare ``_STATE`` and implement ``add_batch``."""

    _N_BUCKETS = 64
    #: state relation name → (schema, bucket key columns); the relation
    #: lives in ``<name>_rel``
    _STATE: dict[str, tuple[StructType, list[str]]] = {}

    def __init__(self, store_root: str | None, spark: SparkSession | None):
        for name in self._STATE:
            setattr(self, f"{name}_rel", None)
        self.n_batches = 0
        self.last_batch_id: int | None = None
        self._save_seq = 0
        self.store = (
            AccumulatorStateStore(store_root) if store_root is not None else None
        )
        self._restored = self.store is None
        if self.store is not None and spark is not None:
            self._restore(spark)

    def _restore(self, spark: SparkSession) -> None:
        self._restored = True
        loaded = self.store.load(spark)
        if loaded is None:
            return
        bid, rels, extra = loaded
        self._save_seq = bid
        self.last_batch_id = extra.get("last_batch_id", bid)
        self.n_batches = int(extra.get("n_batches", 0))
        for name in self._STATE:
            if name in rels:
                setattr(self, f"{name}_rel", rels[name])
        self._on_restore(spark, extra)

    def _on_restore(self, spark: SparkSession, extra: dict) -> None:
        """Rebuild state kept outside ``_STATE`` from a restored store."""

    def _replayed(self, spark: SparkSession, batch_id: int | None) -> bool:
        """Restore if still pending; True when ``batch_id`` is already
        committed (the fold must then do nothing)."""
        if not self._restored:
            self._restore(spark)
        return (
            batch_id is not None
            and self.last_batch_id is not None
            and batch_id <= self.last_batch_id
        )

    def _save_state(
        self,
        spark: SparkSession,
        last_bid: int | None,
        n_batches: int,
        state: dict[str, DataFrame | None],
        touched: dict[str, DataFrame | None],
        extra: dict | None = None,
    ) -> None:
        """Save ``state`` under a fresh store version; a relation whose
        ``touched`` keys are None is written in full."""
        if self.store is None:
            return
        seq = self._save_seq + 1
        self.store.save(
            seq,
            {},
            extra={
                "last_batch_id": last_bid,
                "n_batches": n_batches,
                **(extra or {}),
            },
            bucketed={
                name: BucketedState(
                    state[name]
                    if state[name] is not None
                    else spark.createDataFrame([], schema),
                    keys,
                    n_buckets=self._N_BUCKETS,
                    touched=touched[name],
                )
                for name, (schema, keys) in self._STATE.items()
            },
        )
        self._save_seq = seq

    def _commit(
        self,
        spark: SparkSession,
        batch_id: int | None,
        state: dict[str, DataFrame],
        touched: dict[str, DataFrame],
        extra: dict | None = None,
    ) -> None:
        """Save the folded relations (when the batch has an id), then
        commit them with ``n_batches`` and ``last_batch_id``."""
        n = self.n_batches + 1
        if batch_id is not None:
            self._save_state(spark, batch_id, n, state, touched, extra)
        for name, df in state.items():
            setattr(self, f"{name}_rel", df)
        self.n_batches = n
        if batch_id is not None:
            self.last_batch_id = int(batch_id)

    def attach(self, stream: DataFrame, **start_kwargs):
        """Wire onto a streaming DataFrame via foreachBatch and start."""
        return (
            stream.writeStream.outputMode("append")
            .foreachBatch(lambda batch, bid: self.add_batch(batch, bid))
            .start(**start_kwargs)
        )
