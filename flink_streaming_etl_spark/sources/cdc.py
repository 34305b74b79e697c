"""CDC source: changelog → latest-state materialization.

The core design decision (SURVEY.md §7): Spark's Structured Streaming has no
native retract-stream relational algebra, so we *materialize-then-recompute*:
reduce the changelog to the latest row per primary key (deletes drop the
key), then run plain relational queries on the materialized state. This
reproduces Flink's retraction results exactly — same final table after any
changelog prefix (flink-ddl.sql:213's cancellable-order daily stats).

Latest-state reduction is one shuffle on the PK (max_by over monotonically
ordered (ts_ms, seq)); at scale this is the same keyed repartition Flink's
changelog operators do, and parquet/Delta state tables keep it incremental
per micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from flink_streaming_etl_spark.sources.debezium import parse_envelopes


def latest_state(
    changelog: DataFrame,
    primary_key: list[str] | str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Reduce an envelope changelog to the live latest row per PK.

    ``changelog`` must have columns (before, after, op, ts_ms) as produced
    by :func:`parse_envelopes`; ``order_cols`` defaults to (ts_ms, _seq)
    where _seq is the within-batch arrival order (Kafka offset analog).
    """
    if isinstance(primary_key, str):
        primary_key = [primary_key]
    order_cols = order_cols or ["ts_ms", "_seq"]
    if "_seq" in order_cols and "_seq" not in changelog.columns:
        changelog = changelog.withColumn("_seq", F.monotonically_increasing_id())

    img = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    rows = changelog.filter(F.col("op").isin("c", "u", "d", "r")).select(
        img.alias("_row"), "op", *order_cols
    )
    w = Window.partitionBy(*[F.col(f"_row.{k}") for k in primary_key]).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "d"))
        .select("_row.*")
    )


def apply_changelog(
    state: DataFrame | None,
    changelog: DataFrame,
    primary_key: list[str] | str,
) -> DataFrame:
    """Merge a new changelog chunk into an existing latest-state table:
    new-chunk rows win over prior state for the same PK (upsert), deletes
    remove keys. This is the per-micro-batch MERGE of SURVEY.md §7.

    One key-partitioned window over state rows ∪ chunk row images: per PK
    the first row by (generation, ``ts_ms``, arrival ``_seq``), all
    descending, wins, so any chunk row beats state whatever its
    ``ts_ms``; a winning tombstone (``d``) drops the key. The order and
    flag columns carry reserved ``_cdc_`` names because a row schema may
    itself contain ``ts_ms``."""
    if isinstance(primary_key, str):
        primary_key = [primary_key]
    if "_seq" not in changelog.columns:
        changelog = changelog.withColumn("_seq", F.monotonically_increasing_id())
    meta = ["_cdc_del", "_cdc_gen", "_cdc_ts", "_cdc_seq"]
    img = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    rows = changelog.filter(F.col("op").isin("c", "u", "d", "r")).select(
        img.alias("_row"),
        (F.col("op") == "d").alias("_cdc_del"),
        F.lit(1).alias("_cdc_gen"),
        F.col("ts_ms").alias("_cdc_ts"),
        F.col("_seq").alias("_cdc_seq"),
    ).select("_row.*", *meta)
    if state is not None:
        # allowMissingColumns = schema evolution: a column added upstream
        # (Debezium ALTER TABLE event) appears only in the new chunk — old
        # state rows read NULL for it; a column dropped upstream persists
        # with NULLs on new rows. Same additive-merge policy as lake
        # mergeSchema; PK columns must never change (enforced by the
        # partitionBy failing loudly if they vanish).
        old = state.select(
            "*",
            F.lit(False).alias("_cdc_del"),
            F.lit(0).alias("_cdc_gen"),
            F.lit(None).alias("_cdc_ts"),
            F.lit(None).alias("_cdc_seq"),
        )
        rows = old.unionByName(rows, allowMissingColumns=True)
    w = Window.partitionBy(*primary_key).orderBy(*[F.col(c).desc() for c in meta[1:]])
    return (
        rows.withColumn("_cdc_rn", F.row_number().over(w))
        .filter((F.col("_cdc_rn") == 1) & ~F.col("_cdc_del"))
        .drop("_cdc_rn", *meta)
    )


def scd2_history(
    changelog: DataFrame,
    primary_key: list[str] | str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an envelope changelog:
    one row per VERSION of each key with ``valid_from_ms`` /
    ``valid_to_ms`` / ``is_current`` — the audit-dimension complement to
    :func:`latest_state` (which keeps only the live row). Semantics:

    - ``c``/``u``/``r`` open a new version at the event's ``ts_ms``;
    - ``d`` closes the previous version at its ``ts_ms`` and emits no row
      (a deleted key has no current version);
    - ``valid_to_ms`` of each version is the NEXT event's ``ts_ms`` for
      the same key (half-open intervals [from, to)); the last undeleted
      version has ``valid_to_ms`` NULL and ``is_current`` true.

    One key-partitioned window pass (lead), the same shuffle shape as
    ``latest_state`` — history volume equals changelog volume, so scale
    follows the changelog, never the key count. Reference parity: the
    reference's Flink CDC pipeline keeps only latest state
    (flink-ddl.sql upsert sinks); SCD2 is the standard warehouse
    extension a user of that pipeline asks for first.

    Ordering caveat (shared with ``latest_state``): the default ``_seq``
    tie-break is ``monotonically_increasing_id`` — partition-local, not
    global arrival order. Single-partition replays (file fixtures, one
    Kafka partition per key — Debezium's per-key ordering guarantee)
    order correctly; a multi-partition source with same-``ts_ms`` events
    for one key must pass an explicit ``order_cols`` (e.g. the Kafka
    offset column), else same-millisecond versions can chain in
    partition order rather than arrival order.
    """
    if isinstance(primary_key, str):
        primary_key = [primary_key]
    order_cols = order_cols or ["ts_ms", "_seq"]
    if "_seq" in order_cols and "_seq" not in changelog.columns:
        changelog = changelog.withColumn("_seq", F.monotonically_increasing_id())
    img = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    rows = changelog.filter(F.col("op").isin("c", "u", "d", "r")).select(
        img.alias("_row"), "op", "ts_ms", *[c for c in order_cols if c != "ts_ms"]
    )
    w = Window.partitionBy(*[F.col(f"_row.{k}") for k in primary_key]).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    versioned = rows.select(
        "_row",
        "op",
        F.col("ts_ms").alias("valid_from_ms"),
        F.lead("ts_ms").over(w).alias("valid_to_ms"),
    )
    return versioned.filter(F.col("op") != "d").select(
        "_row.*",
        "valid_from_ms",
        "valid_to_ms",
        F.col("valid_to_ms").isNull().alias("is_current"),
    )


class CdcSource:
    """A named CDC table: replayable changelog (JSONL of Debezium envelopes)
    → typed latest-state DataFrame.

    Batch mode reads the whole file (test oracle path); streaming mode is
    the same parser over ``readStream`` (file or Kafka source — the
    reference's own Kafka+debezium-json path, README.md:132-150).
    """

    def __init__(
        self,
        name: str,
        row_schema: StructType,
        primary_key: list[str] | str,
        mongo: bool = False,
    ):
        self.name = name
        self.row_schema = row_schema
        self.primary_key = [primary_key] if isinstance(primary_key, str) else list(primary_key)
        self.mongo = mongo

    def parse(self, raw: DataFrame, value_col: str = "value") -> DataFrame:
        return parse_envelopes(raw, self.row_schema, value_col=value_col, mongo=self.mongo)

    def evolve(self, new_row_schema: StructType) -> "CdcSource":
        """Schema evolution (the Debezium schema-change-event analog): a new
        source parsing envelopes with the widened schema. Old envelopes
        lacking the added fields parse them as NULL (from_json is
        permissive), and :func:`apply_changelog` merges old-schema state
        with new-schema chunks additively — so the handover needs no state
        rewrite: swap the source, keep streaming."""
        return CdcSource(self.name, new_row_schema, self.primary_key, mongo=self.mongo)

    def read_changelog(self, spark: SparkSession, path: str) -> DataFrame:
        raw = spark.read.text(os.fspath(path)).withColumnRenamed("value", "value")
        return self.parse(raw)

    def read_state(self, spark: SparkSession, path: str) -> DataFrame:
        return latest_state(self.read_changelog(spark, path), self.primary_key)

    def stream_changelog(
        self, spark: SparkSession, path: str | None = None, topic: str | None = None
    ) -> DataFrame:
        """Streaming changelog: file replay by default; the live Kafka
        connector (the reference's primary data path, README.md:132-150)
        when ``SPARK_GRAFT_KAFKA=host:9092`` is set — one env var away from
        live, no code change. Topic defaults to the Debezium convention
        ``cdc.<table>`` (sample/cdc.orders.change-log-mysql.json)."""
        bootstrap = os.environ.get("SPARK_GRAFT_KAFKA")
        if bootstrap:
            return kafka_changelog(
                spark, self, bootstrap, topic or f"cdc.{self.name}"
            )
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(os.fspath(path))
        )
        return self.parse(raw)

    def snapshot_then_changelog(
        self, snapshot: DataFrame, changelog: DataFrame
    ) -> DataFrame:
        """The mysql-cdc snapshot→binlog handover (S1, README.md:347: "not
        one row more, not one row less"): bootstrap from a consistent
        snapshot (JDBC/parquet read of the source table), then apply the
        binlog tail ON TOP — changelog rows win over snapshot rows for the
        same key, deletes remove keys. Any changelog prefix replayed after
        the snapshot yields the same state as replaying everything, which
        is exactly the exactly-once handover guarantee expressed as
        idempotent state."""
        return apply_changelog(snapshot, changelog, self.primary_key)


def decode_kafka_records(source: CdcSource, records: DataFrame) -> DataFrame:
    """Kafka record batch (binary key/value) → parsed envelopes + PK key.

    The Kafka message key is the primary-key struct (S6, golden sample
    cdc.orders.change-log-mysql.json:1-15) — it survives as a `key` column
    so stateful stages can repartition by PK without re-parsing the value.
    Shared by the live connector below and the broker-free tests."""
    raw = records.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )
    return parse_envelopes(
        raw, source.row_schema, mongo=source.mongo, extra_cols=["key"]
    )


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    group_id_prefix: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The Kafka source option set, as a pure function so the construction
    is unit-testable without a broker (the jar/broker only enter at
    ``.load()``). Mirrors the reference's connector options
    (flink-ddl.sql:12-18 / flink-mongodb.sql:6-14): bootstrap servers,
    topic subscribe, earliest startup, consumer group."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # Kafka headers carry Debezium transaction metadata downstream
        "includeHeaders": "true",
        # bounded micro-batches: at 100 TB backfill this is the knob that
        # keeps a batch within executor memory (reference relies on Flink
        # backpressure; Spark's equivalent is admission control here)
        "failOnDataLoss": "false",
    }
    if group_id_prefix:
        opts["groupIdPrefix"] = group_id_prefix
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_changelog(
    spark: SparkSession,
    source: CdcSource,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka + debezium-json source (reference README.md:132-150:
    `scan.startup.mode='earliest-offset'`, group id, ISO-8601 timestamps).
    The record decoding is `decode_kafka_records` (broker-free tested); this
    wrapper only binds it to the live connector."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers,
        topic,
        starting_offsets,
        group_id_prefix=f"flink-etl-spark-{source.name}",
    ).items():
        reader = reader.option(k, v)
    return decode_kafka_records(source, reader.load())


def emit_changelog(
    old: DataFrame | None,
    new: DataFrame,
    primary_key: list[str] | str,
    ts_ms: int = 0,
) -> DataFrame:
    """The engine as CDC *producer*: diff two keyed states into a Debezium-
    shaped changelog (op c/u/d with before/after row images) — the inverse
    of :func:`apply_changelog`, closing the loop so a downstream consumer
    (another pipeline, a Kafka topic) can ingest OUR sink the same way we
    ingest MySQL's. Round-trip law (tested):
    ``apply_changelog(old, emit_changelog(old, new, pk), pk) == new``
    (modulo column order / NULL-filled dropped columns when the schemas
    differ — the same additive policy ``apply_changelog`` uses via
    ``allowMissingColumns``).

    Change detection is an exact null-safe struct comparison — no string
    casts, no separator/sentinel encoding — so values containing control
    characters (plausible in text pipelines) or literal sentinel bytes
    can never make a changed row compare equal.

    Schema evolution: each side is projected over the UNION of the two
    column sets, missing columns filled with typed NULLs, mirroring
    ``apply_changelog``'s additive policy — so a changelog can be emitted
    across an additive schema change, not just same-schema states.

    Scale: one full-outer sort-merge join on the PK — the same single
    exchange as the upsert MERGE itself; unchanged rows are filtered
    before the envelope is built, so output ∝ churn, not state size.
    """
    if isinstance(primary_key, str):
        primary_key = [primary_key]
    if old is None:  # bootstrap: every row is an insert
        cols = new.columns
        after_struct = F.struct(*[F.col(c) for c in cols])
        row_type = new.select(after_struct).schema[0].dataType
        return new.select(
            F.lit(None).cast(row_type).alias("before"),
            after_struct.alias("after"),
            F.lit("c").alias("op"),
            F.lit(ts_ms).cast("long").alias("ts_ms"),
        )
    # Union of the two schemas, new-side order first (additive evolution:
    # added columns appear after the surviving ones; dropped columns tail).
    cols = list(new.columns) + [c for c in old.columns if c not in new.columns]

    def _project(df: DataFrame, other: DataFrame, prefix: str) -> DataFrame:
        have = set(df.columns)
        sel = [
            F.col(c).alias(f"{prefix}{c}")
            if c in have
            else F.lit(None).cast(other.schema[c].dataType).alias(f"{prefix}{c}")
            for c in cols
        ]
        return df.select(sel)

    o = _project(old, new, "_o_")
    n = _project(new, old, "_n_")
    cond = [o[f"_o_{k}"].eqNullSafe(n[f"_n_{k}"]) for k in primary_key]
    j = o.join(n, cond, "full_outer")

    in_old = F.col(f"_o_{primary_key[0]}").isNotNull()
    in_new = F.col(f"_n_{primary_key[0]}").isNotNull()
    changed = ~F.struct(*[F.col(f"_o_{c}") for c in cols]).eqNullSafe(
        F.struct(*[F.col(f"_n_{c}") for c in cols])
    )
    op = (
        F.when(~in_old, F.lit("c"))
        .when(~in_new, F.lit("d"))
        .when(changed, F.lit("u"))
    )
    before = F.struct(*[F.col(f"_o_{c}").alias(c) for c in cols])
    after = F.struct(*[F.col(f"_n_{c}").alias(c) for c in cols])
    return (
        j.select(
            F.when(in_old, before).alias("before"),
            F.when(in_new, after).alias("after"),
            op.alias("op"),
            F.lit(ts_ms).cast("long").alias("ts_ms"),
        )
        .filter(F.col("op").isNotNull())
    )


def compact_changelog(
    changelog: DataFrame, primary_key: list[str] | str
) -> DataFrame:
    """Kafka-log-compaction at the envelope level: reduce a changelog to
    at most ONE net envelope per key, such that applying the compacted
    log produces the same state as applying the full log (law tested
    property-based in tests/test_cdc_properties.py).

    Per key, ordered by (ts_ms, _seq): keep the FIRST op's before-image
    B and the LAST op's after-image A, then:

    - created-and-deleted within the log (first op c, last op d) → no
      envelope at all (the net no-op compaction exists to eliminate);
    - last op d (key predates the log) → one ``d`` with before = B;
    - first op c → one ``c`` with after = A;
    - otherwise → one ``u`` (B, A) — DROPPED when B ≡ A (exact null-safe
      struct comparison, the emit_changelog discipline), since a
      net-unchanged key needs no envelope.

    Same contract as the ±delta consumers: per-key in-order envelopes
    with faithful images. Scale: one key-partitioned window pass over
    the log — this is what a Kafka compacted topic does to our
    emit_changelog output, expressed as an operator so a downstream
    consumer can be fed the compacted form directly.
    """
    if isinstance(primary_key, str):
        primary_key = [primary_key]
    log = changelog.filter(F.col("op").isin("c", "u", "d", "r"))
    if "_seq" not in log.columns:
        log = log.withColumn("_seq", F.monotonically_increasing_id())
    key = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    keyed = log.select(
        *[key.getField(k).alias(f"_k{i}") for i, k in enumerate(primary_key)],
        "before", "after", "op", "ts_ms", "_seq",
    )
    knames = [f"_k{i}" for i in range(len(primary_key))]
    w = Window.partitionBy(*knames).orderBy("ts_ms", "_seq")
    wdesc = Window.partitionBy(*knames).orderBy(F.col("ts_ms").desc(), F.col("_seq").desc())
    ranked = keyed.select(
        *knames, "before", "after", "op", "ts_ms",
        F.row_number().over(w).alias("_rn_first"),
        F.row_number().over(wdesc).alias("_rn_last"),
    )
    first = ranked.filter(F.col("_rn_first") == 1).select(
        *knames,
        F.col("before").alias("_b"),
        F.col("op").alias("_op_first"),
    )
    last = ranked.filter(F.col("_rn_last") == 1).select(
        *knames,
        F.col("after").alias("_a"),
        F.col("op").alias("_op_last"),
        F.col("ts_ms").alias("_ts"),
    )
    net = first.join(last, knames)
    created = F.col("_op_first") == "c"
    deleted = F.col("_op_last") == "d"
    op = (
        F.when(created & deleted, F.lit(None).cast("string"))
        .when(deleted, F.lit("d"))
        .when(created, F.lit("c"))
        .when(F.col("_b").eqNullSafe(F.col("_a")), F.lit(None).cast("string"))
        .otherwise(F.lit("u"))
    )
    # c → (None, A); d → (B, None); u → (B, A)
    out = (
        net.withColumn("_op", op)
        .filter(F.col("_op").isNotNull())
        .select(
            F.when(F.col("_op") == "c", F.lit(None)).otherwise(F.col("_b")).alias("before"),
            F.when(F.col("_op") == "d", F.lit(None)).otherwise(F.col("_a")).alias("after"),
            F.col("_op").alias("op"),
            F.col("_ts").alias("ts_ms"),
        )
    )
    return out
