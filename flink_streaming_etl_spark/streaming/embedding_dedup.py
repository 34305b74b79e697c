"""Streaming EMBEDDING-cosine near-dup dedup: new-batch-vs-seen-corpus
semantic dedup maintained across micro-batches — the embedding tier of
the streaming dedup family (text_dedup.py = exact fingerprints,
neardup.py = MinHash-LSH text near-dups; this is the SemDeDup-style
``embedding_neardup`` → ``embedding_dedup_apply`` pipeline
(operators/similarity.py:137,172) run as a daily loop).

Semantics (deterministic, the neardup.py two-tier shape):

* CROSS-batch (sequential): a batch vector DROPS iff its exact cosine
  against any previously-KEPT corpus vector is ≥ threshold; owner = the
  smallest matching kept vec_id.
* INTRA-batch: among cross survivors, the batch operator's keep-first
  rule — a vector drops iff it is the larger id of a ≥-threshold pair;
  owner = its smallest ≥-threshold lower neighbor. Fed the whole corpus
  as ONE batch this reproduces ``embedding_dedup_apply``'s kept set
  exactly (pinned in tests/test_round14.py).

Scoring tiers:

* ``n_planes=None`` (default): EXACT — the batch×kept-state cross join
  and the survivor self-join score every pair with the JVM-side scalar
  cosine fold (`vec_dot`, whole-stage codegen; q6-floored — the same
  value definition as the batch GEMM kernel). Per-fold cross cost is
  |batch|·|kept| pair evaluations — the pin tier.
* ``n_planes=p``: the SCALE tier — sign-bit LSH orthant buckets
  (`ann_lsh_bucketed`'s dial) prefilter candidates on BOTH tiers before
  the exact cosine verify; candidate volume drops ~2^p× at the
  documented recall trade (same-orthant pairs only). Grow p
  logarithmically with the kept corpus (SCALE.md §ann_lsh_bucketed).

State, fully distributed: ``vec_rel`` (vec_id, v, norm, last_seen) —
the kept-corpus index; ``kept_rel`` (vec_id, kept, owner) — the
decision log. Idle retention (T5) ages kept vectors that go unmatched
for ``retention_batches`` folds out of the index (decisions stay —
history, not index). Durability, replay guard and fold-then-commit
(T6) follow :class:`~flink_streaming_etl_spark.streaming.state_store
.DurableFold`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_etl_spark.ckpt import eager_checkpoint
from flink_streaming_etl_spark.functions import q6, vec_dot, vec_norm
from flink_streaming_etl_spark.operators.similarity import (
    _as_double,
    _bucket_expr_spark,
)
from flink_streaming_etl_spark.streaming.state_store import DurableFold


class EmbeddingNearDupAccumulator(DurableFold):
    """Incremental new-vs-corpus embedding-cosine dedup with
    distributed state."""

    _STATE = {
        "vec": ["vec_id"],
        "kept": ["vec_id"],
    }

    def __init__(
        self,
        threshold: float = 0.4,
        n_planes: int | None = None,
        retention_batches: int | None = None,
        store_root: str | None = None,
        spark: SparkSession | None = None,
    ):
        self.threshold = float(threshold)
        self.n_planes = n_planes
        self.retention_batches = retention_batches
        super().__init__(store_root, spark)

    # -- streaming side ---------------------------------------------------

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if self.n_planes is None:
            # exact tier: one shared pseudo-bucket → full pair join
            return df.withColumn("_bkt", F.lit(""))
        return df.withColumn("_bkt", _bucket_expr_spark(self.n_planes))

    def add_batch(
        self, batch_embeddings: DataFrame, batch_id: int | None = None
    ) -> None:
        """Fold one micro-batch: score batch vectors against the kept
        index (exact or bucket-prefiltered), decide keep/drop, extend
        the index with the kept vectors — all relation-side."""
        spark = batch_embeddings.sparkSession
        if self._replayed(spark, batch_id):
            return
        n = self.n_batches + 1
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))

        eb = self._with_bucket(
            _as_double(batch_embeddings.dropDuplicates(["vec_id"]))
            .withColumn("norm", vec_norm(F.col("v")))
        ).localCheckpoint(eager=True)  # reused: cross, intra, state fold

        cos_ok = lambda va, na, vb, nb: (  # noqa: E731
            q6(vec_dot(va, vb) / (na * nb)) >= F.lit(self.threshold)
        )

        # -- cross tier: batch vs the kept index --------------------------
        if self.vec_rel is not None:
            owners = self._with_bucket(
                self.vec_rel.select(
                    F.col("vec_id").alias("_owner"),
                    "v",
                    F.col("norm").alias("_no"),
                )
            ).select("_owner", F.col("v").alias("_vo"), "_no", "_bkt")
            matched = (
                eb.join(owners, "_bkt")
                .filter(
                    cos_ok(
                        F.col("v"), F.col("norm"), F.col("_vo"), F.col("_no")
                    )
                )
                .select("vec_id", "_owner")
            )
            dropped_cross = (
                matched.groupBy("vec_id")
                .agg(F.min("_owner").alias("owner"))
                .localCheckpoint(eager=True)  # reused: decisions + filter
            )
            touched_owners = matched.select(
                F.col("_owner").alias("vec_id")
            ).distinct()
        else:
            dropped_cross = spark.createDataFrame(
                [], "vec_id long, owner long"
            )
            touched_owners = None

        # -- intra tier: keep-first among cross survivors ------------------
        surv = eb.join(dropped_cross, "vec_id", "anti")
        lo = surv.select(
            F.col("vec_id").alias("_low"),
            F.col("v").alias("_vl"),
            F.col("norm").alias("_nl"),
            "_bkt",
        )
        dropped_intra = (
            surv.join(lo, "_bkt")
            .filter(F.col("_low") < F.col("vec_id"))
            .filter(
                cos_ok(F.col("v"), F.col("norm"), F.col("_vl"), F.col("_nl"))
            )
            .groupBy("vec_id")
            .agg(F.min("_low").alias("owner"))
        )
        dropped = dropped_cross.unionByName(dropped_intra).localCheckpoint(
            eager=True
        )

        # -- decisions -----------------------------------------------------
        batch_ids = eb.select("vec_id")
        dec = batch_ids.join(dropped, "vec_id", "left").select(
            "vec_id", F.col("owner").isNull().alias("kept"), "owner"
        )
        if self.kept_rel is not None:
            new_kept_rel = self.kept_rel.join(
                batch_ids, "vec_id", "anti"
            ).unionByName(dec)
        else:
            new_kept_rel = dec
        new_kept_rel = eager_checkpoint(new_kept_rel.coalesce(width))

        # -- index fold ----------------------------------------------------
        add_vecs = (
            eb.join(dec.filter(F.col("kept")), "vec_id", "semi")
            .select(
                "vec_id", "v", "norm", F.lit(n).cast("long").alias("last_seen")
            )
        )
        if self.vec_rel is not None:
            carried = self.vec_rel
            if touched_owners is not None:
                untouched = carried.join(touched_owners, "vec_id", "anti")
                restamped = (
                    carried.join(touched_owners, "vec_id", "semi")
                    .select("vec_id", "v", "norm")
                    .withColumn("last_seen", F.lit(n).cast("long"))
                )
                carried = untouched.unionByName(restamped)
            new_vec = carried.unionByName(add_vecs)
        else:
            new_vec = add_vecs
        evicted = None
        if self.retention_batches is not None:
            horizon = n - self.retention_batches
            if horizon > 0:
                evicted = (
                    new_vec.filter(F.col("last_seen") <= horizon)
                    .select("vec_id")
                    .localCheckpoint(eager=True)
                )
                new_vec = new_vec.filter(F.col("last_seen") > horizon)
        new_vec = eager_checkpoint(new_vec.coalesce(width))

        touched = batch_ids
        if touched_owners is not None:
            touched = touched.unionByName(touched_owners)
        if evicted is not None:
            touched = touched.unionByName(evicted)
        self._commit(
            batch_id,
            {"vec": new_vec, "kept": new_kept_rel},
            {"vec": touched, "kept": touched},
        )

    # -- query side -------------------------------------------------------

    @property
    def kept(self) -> dict:
        """Diagnostic/test accessor: {vec_id: kept} — collects."""
        if self.kept_rel is None:
            return {}
        return {r["vec_id"]: r["kept"] for r in self.kept_rel.collect()}

    @property
    def owners(self) -> dict:
        """Diagnostic/test accessor: {dropped vec_id: owner} — collects."""
        if self.kept_rel is None:
            return {}
        return {
            r["vec_id"]: r["owner"]
            for r in self.kept_rel.filter(~F.col("kept")).collect()
        }

    def kept_ids(self, spark: SparkSession) -> DataFrame:
        """Vec ids decided KEEP so far, as a relation."""
        if self.kept_rel is None:
            return spark.createDataFrame([], "vec_id long")
        return self.kept_rel.filter(F.col("kept")).select("vec_id")
