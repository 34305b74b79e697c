"""Streaming NEAR-duplicate dedup: new-batch-vs-seen-corpus MinHash-LSH
dedup maintained across micro-batches — the near-dup tier of the
streaming dedup family (text_dedup.py is the exact prefix-fingerprint
tier; this is the `minhash_lsh_pairs` → `dedup_apply` pipeline run as a
daily loop, reference batch ops: operators/dedup.py:343,536).

Semantics (deterministic, two tiers per fold):

* CROSS-batch (sequential): a batch doc DROPS iff it LSH-matches and
  exact-Jaccard-verifies (≥ threshold) against any previously-KEPT
  corpus doc; the recorded owner is the smallest matching kept doc id.
* INTRA-batch: among the cross-tier survivors, the batch operator
  family's keep-first rule (`neardup_drop_list`): a doc drops iff it is
  the LARGER id of a verified pair; owner = its smallest verified lower
  neighbor. Fed the whole corpus as ONE batch this reproduces
  ``dedup_apply``'s kept set exactly (pinned in tests/test_round14.py).

Chunking sensitivity is inherent and documented: near-dup dedup is
order-dependent on CHAINS (a~b, b~c, a≁c). Single-batch: c drops (its
lower neighbor b exists in the pair list). Split [a,b | c]: b drops
against a, c survives — c's only match was never admitted to the
corpus. Both are valid greedy dedups of the chain; the streaming result
is the sequential reading over the delivered batch order, which is the
property a daily-ingest dedup actually wants (drop only against what
the corpus actually KEPT).

State, fully distributed (the r13/r14 discipline):

- ``band_rel`` (band_key, doc_id, last_seen): LSH band keys of KEPT
  docs — the candidate-probe index (N_BANDS rows per kept doc).
- ``sh_rel`` (doc_id, sh): the sorted 60-bit shingle-hash arrays of
  KEPT docs — the exact-verify substrate (state ∝ kept-corpus tokens;
  the same order as the corpus text itself, the price of EXACT
  verification — signature-only verify would be 8 longs/doc but
  estimator-grade).
- ``kept_rel`` (doc_id, kept, owner): the decision log.

Candidate generation is bucket-joined (never all-pairs), verification
touches candidates only — the batch operator's scale shape, per fold.
Idle retention (T5): kept docs whose bands go unprobed for
``retention_batches`` folds age out of BOTH index relations (the
decision log keeps their rows — decisions are history, not index).
Durability, replay guard and fold-then-commit (T6) follow
:class:`~flink_streaming_etl_spark.streaming.state_store.DurableFold`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_etl_spark.ckpt import eager_checkpoint
from flink_streaming_etl_spark.operators.dedup import (
    N_BANDS,
    _word_shingle_rows,
    minhash_signatures,
)
from flink_streaming_etl_spark.functions import q6
from flink_streaming_etl_spark.streaming.state_store import DurableFold


def _banded(documents: DataFrame) -> DataFrame:
    """(doc_id, band_key) — the batch operator's banding, verbatim."""
    sigs = minhash_signatures(documents)
    bands = F.array(
        *[
            F.concat_ws(
                ":", F.lit(bi), F.col(f"m{2 * bi}"), F.col(f"m{2 * bi + 1}")
            )
            for bi in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("band_key"))


def _hash_arrays(documents: DataFrame) -> DataFrame:
    """(doc_id, sh): sorted distinct 60-bit shingle hashes — the
    _hash_array_rel construction WITHOUT its corpus-identity persist
    cache (a fold's batch is ephemeral; caching by id would pin one
    relation per batch forever)."""
    rows = _word_shingle_rows(documents).withColumn(
        "h", F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    )
    return rows.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("h")).alias("sh")
    )


def _jaccard_ok(sh_a, sh_b, threshold: float):
    common = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - common
    return q6(common.cast("double") / union) >= F.lit(threshold)


class MinHashNearDupAccumulator(DurableFold):
    """Incremental new-vs-corpus MinHash-LSH near-dup dedup with
    distributed state."""

    _STATE = {
        "band": ["band_key"],
        "sh": ["doc_id"],
        "kept": ["doc_id"],
    }

    def __init__(
        self,
        threshold: float = 0.05,
        retention_batches: int | None = None,
        store_root: str | None = None,
        spark: SparkSession | None = None,
    ):
        self.threshold = float(threshold)
        self.retention_batches = retention_batches
        super().__init__(store_root, spark)

    # -- streaming side ---------------------------------------------------

    def add_batch(
        self, batch_documents: DataFrame, batch_id: int | None = None
    ) -> None:
        """Fold one micro-batch: bucket-probe the kept-corpus index,
        exact-verify candidates, decide keep/drop, extend the index with
        the kept docs — all relation-side."""
        spark = batch_documents.sparkSession
        if self._replayed(spark, batch_id):
            return
        n = self.n_batches + 1
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))

        docs = batch_documents.dropDuplicates(["doc_id"])
        sh_b = _hash_arrays(docs).localCheckpoint(eager=True)  # reused 3x
        banded_b = _banded(docs).localCheckpoint(eager=True)   # reused 3x

        # -- cross tier: batch docs vs the kept-corpus index ------------
        if self.band_rel is not None:
            cand = (
                banded_b.join(
                    self.band_rel.select(
                        "band_key", F.col("doc_id").alias("_owner")
                    ),
                    "band_key",
                )
                .select("doc_id", "_owner")
                .dropDuplicates(["doc_id", "_owner"])
            )
            verified = (
                cand.join(sh_b, "doc_id")
                .join(
                    self.sh_rel.select(
                        F.col("doc_id").alias("_owner"),
                        F.col("sh").alias("_sh_o"),
                    ),
                    "_owner",
                )
                .filter(_jaccard_ok(F.col("sh"), F.col("_sh_o"), self.threshold))
            )
            dropped_cross = (
                verified.groupBy("doc_id")
                .agg(F.min("_owner").alias("owner"))
                .localCheckpoint(eager=True)  # reused: decisions + filter
            )
        else:
            dropped_cross = spark.createDataFrame(
                [], "doc_id long, owner long"
            )

        # -- intra tier: keep-first among the cross survivors ------------
        surv_bands = banded_b.join(dropped_cross, "doc_id", "anti")
        a, b = surv_bands.alias("a"), surv_bands.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("_low"),
                F.col("b.doc_id").alias("doc_id"),
            )
            .dropDuplicates(["_low", "doc_id"])
        )
        pairs = (
            pairs.join(sh_b, "doc_id")
            .join(
                sh_b.select(
                    F.col("doc_id").alias("_low"), F.col("sh").alias("_sh_l")
                ),
                "_low",
            )
            .filter(_jaccard_ok(F.col("sh"), F.col("_sh_l"), self.threshold))
        )
        dropped_intra = pairs.groupBy("doc_id").agg(
            F.min("_low").alias("owner")
        )
        dropped = dropped_cross.unionByName(dropped_intra).localCheckpoint(
            eager=True
        )  # reused: decisions, kept filter

        # -- decisions ----------------------------------------------------
        batch_ids = sh_b.select("doc_id")
        dec = (
            batch_ids.join(dropped, "doc_id", "left")
            .select(
                "doc_id",
                F.col("owner").isNull().alias("kept"),
                "owner",
            )
        )
        if self.kept_rel is not None:
            new_kept_rel = self.kept_rel.join(
                batch_ids, "doc_id", "anti"
            ).unionByName(dec)
        else:
            new_kept_rel = dec
        new_kept_rel = eager_checkpoint(new_kept_rel.coalesce(width))

        # -- index fold ---------------------------------------------------
        kept_ids = dec.filter(F.col("kept")).select("doc_id")
        add_bands = banded_b.join(kept_ids, "doc_id", "semi").select(
            "band_key", "doc_id", F.lit(n).cast("long").alias("last_seen")
        )
        add_sh = sh_b.join(kept_ids, "doc_id", "semi")
        touched_bands = banded_b.select("band_key").distinct()
        if self.band_rel is not None:
            untouched = self.band_rel.join(touched_bands, "band_key", "anti")
            restamped = (
                self.band_rel.join(touched_bands, "band_key", "semi")
                .select("band_key", "doc_id")
                .withColumn("last_seen", F.lit(n).cast("long"))
            )
            new_band = untouched.unionByName(restamped).unionByName(add_bands)
        else:
            new_band = add_bands
        # idle retention (T5): unprobed kept docs age out of the index
        evicted_docs = None
        if self.retention_batches is not None:
            horizon = n - self.retention_batches
            if horizon > 0:
                evicted_docs = (
                    new_band.groupBy("doc_id")
                    .agg(F.max("last_seen").alias("_ls"))
                    .filter(F.col("_ls") <= horizon)
                    .select("doc_id")
                    .localCheckpoint(eager=True)
                )
                new_band = new_band.join(evicted_docs, "doc_id", "anti")
        new_band = eager_checkpoint(new_band.coalesce(width))

        new_sh = (
            self.sh_rel.unionByName(add_sh)
            if self.sh_rel is not None
            else add_sh
        )
        if evicted_docs is not None:
            new_sh = new_sh.join(evicted_docs, "doc_id", "anti")
        new_sh = eager_checkpoint(new_sh.coalesce(width))

        touched_docs = batch_ids
        if evicted_docs is not None:
            touched_docs = touched_docs.unionByName(evicted_docs)
        self._commit(
            batch_id,
            {"band": new_band, "sh": new_sh, "kept": new_kept_rel},
            {"band": touched_bands, "sh": touched_docs, "kept": touched_docs},
        )

    # -- query side -------------------------------------------------------

    @property
    def kept(self) -> dict:
        """Diagnostic/test accessor: {doc_id: kept} — collects."""
        if self.kept_rel is None:
            return {}
        return {r["doc_id"]: r["kept"] for r in self.kept_rel.collect()}

    @property
    def owners(self) -> dict:
        """Diagnostic/test accessor: {dropped doc_id: owner} — collects."""
        if self.kept_rel is None:
            return {}
        return {
            r["doc_id"]: r["owner"]
            for r in self.kept_rel.filter(~F.col("kept")).collect()
        }

    def kept_ids(self, spark: SparkSession) -> DataFrame:
        """Doc ids decided KEEP so far, as a relation."""
        if self.kept_rel is None:
            return spark.createDataFrame([], "doc_id long")
        return self.kept_rel.filter(F.col("kept")).select("doc_id")
