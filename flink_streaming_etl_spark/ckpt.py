"""Stats-sane local checkpointing for ITERATED relations.

``DataFrame.localCheckpoint`` truncates lineage but (since SPARK-39834)
the resulting ``LogicalRDD`` carries the ORIGIN plan's estimated
statistics. Catalyst's size-only estimator defaults a join's
``sizeInBytes`` to the PRODUCT of its children's, so a loop that
checkpoints a self-join every round (connected components) doubles the
DIGIT COUNT of the inherited ``sizeInBytes`` BigInt each round — and a
streaming accumulator that feeds one fold's checkpointed state into the
next fold's joins compounds it ACROSS folds. The numbers stay
mathematically finite but the driver ends up spending seconds per plan
walk in BigInteger Toom-Cook multiplication
(observed: CEP fold time escalating 3 s → 30 s within six folds, with
jstack showing ``SizeInBytesOnlyStatsPlanVisitor`` under
``BigInteger.multiply``).

:func:`eager_checkpoint` breaks the feedback: it materializes the plan
into the block cache first, so the checkpoint's origin stats are the
cache's ACTUAL byte size (real, small), then checkpoints and drops the
cache pin. Two materializations instead of one — the right trade for
any relation that re-enters a join in a later iteration or fold; plain
``localCheckpoint(eager=True)`` remains correct for terminal results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint whose LogicalRDD inherits REAL (cache-measured)
    statistics instead of the origin plan's estimate product."""
    sl = df.storageLevel
    if sl.useMemory or sl.useDisk:
        # the caller (or a concurrent query — CacheManager keys entries
        # by logical plan) already cached this plan: reuse it and do NOT
        # unpersist, or we would silently drop their shared cache entry
        df.count()
        return df.localCheckpoint(eager=True)
    cached = df.persist()
    try:
        cached.count()  # materialize: InMemoryRelation now has real stats
        return cached.localCheckpoint(eager=True)
    finally:
        cached.unpersist()


# Measured note (round 13): an "amortized" variant — plain localCheckpoint
# most rounds, a full eager reset every K rounds — was benchmarked on an
# iterated self-join at sf0.1 (the CEP pointer-doubling closure, since
# deleted). It was SLOWER than eager_checkpoint every round (~4.7-5.7 s
# vs ~3.0-3.7 s steady-state): the win of eager_checkpoint is not only
# bounded BigInt stats arithmetic but PLAN QUALITY — real cache-measured
# sizes let Catalyst broadcast the smaller side of the next round's
# self-join, which the inflated inherited estimates forbid. Iterated
# relations should therefore always use eager_checkpoint.
