"""The reference's §4 incremental ETL, composed end-to-end (T1-T8).

Reference basis: ``Seccion_4_Logica_ETL/ETL_Prueba_Tecnica.ipynb``
cells 15-18 (nb:256-385) DESIGN this pipeline in prose — watermark
extraction (nb:269), monitored landing folders (nb:270), validation
with a reject table + motive (nb:277), staging→UPSERT per batch
(nb:287), control ledger ``etl_control`` (nb:372/356), DLQ (nb:373),
checkpoint/resume (nb:375), retry (nb:372). The engine realizes every
element with Structured Streaming; this module is the COMPOSITION —
one callable that wires landing dir → event-time normalization →
validation/DLQ → idempotent upsert → control ledger, resumable from
its checkpoint.

Execution model (and why it scales): the stream source lists only NEW
files since the checkpoint (O(new data) per run, never O(target));
validation and reject routing are map-side; the merge cost is the
sink's — ``foreach_batch_upsert_partitioned`` rewrites only the
partitions incoming keys touch, which is the 100 TB shape (the
whole-target variant is kept for small dimension-style targets).
Restart safety is three independent layers: Spark's checkpoint makes
file ingestion exactly-once per *source file*; the ``etl_control``
batchId ledger makes the merge idempotent even if a crash lands
between sink commit and checkpoint commit (the classic
foreachBatch at-least-once window); and the sink writes each merge to
a staged dir and swaps it in, sweeping a killed swap's leftovers on
entry, so the target always holds the old or the new data.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from prueba_tecnica_analista_etl_spark.sources.tables import (
    normalize_event_time,
)
from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
    DATA,
    foreach_batch_upsert,
    foreach_batch_upsert_partitioned,
    run_with_retry,
)


def incremental_etl(
    spark: SparkSession,
    landing_dir: str,
    schema,
    target: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    rules: dict[str, Column] | None = None,
    partition_col: str | None = None,
    max_files_per_trigger: int = 1,
    time_col: str = "ts",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    retry_attempts: int = 3,
) -> None:
    """Drain the landing dir into ``target`` and return when caught up.

    Each invocation processes everything that arrived since the last
    one (availableNow trigger) — the batch-cadence operational mode the
    reference's §4 describes (a scheduled run that picks up new files).
    Re-invoking after a crash resumes from ``checkpoint_dir``:
    already-ingested files are not re-read; a replayed batch that
    COMPLETED (ledger row present) is skipped outright, and a replayed
    in-flight batch re-runs idempotently — the merge by the J4
    join-rewrite, the DLQ by the batch-scoped overwrite write.

    ``partition_col`` selects the partition-scoped sink (rewrites only
    touched partitions — the at-scale default); ``None`` uses the
    whole-target merge (fine for small targets). ``retry_attempts``
    wraps each micro-batch in :func:`run_with_retry` (T8): transient
    failures back off 1x/2x/4x… before failing the query. ``transform`` is the
    §4 enrichment/standardization stage (nb:280) — a narrow
    DataFrame→DataFrame step applied before validation, e.g. deriving
    the partition column from event time; it must be map-side
    (deterministic, no aggregation) to keep replay idempotent.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )
    stream = normalize_event_time(stream, time_col)
    if transform is not None:
        stream = transform(stream)
    if partition_col is not None:
        process = foreach_batch_upsert_partitioned(
            spark, target, keys, partition_col, rules=rules
        )
    else:
        process = foreach_batch_upsert(spark, target, keys, rules=rules)
    if retry_attempts > 1:
        # T8 wired into the running pipeline, not just exported: a
        # transient per-batch failure gets 1x/2x/4x... backoff retries
        # INSIDE the foreachBatch call (safe — the ledger makes an
        # already-committed attempt a no-op); the last failure
        # re-raises and fails the query, as before.
        inner = process

        def process(b: DataFrame, bid: int) -> None:
            run_with_retry(
                lambda: inner(b, bid), attempts=retry_attempts
            )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def target_frame(spark: SparkSession, target: str) -> DataFrame:
    """The merged target as a batch frame (reads ``{target}/{DATA}``,
    the sink's single source of truth for the layout)."""
    import os

    return spark.read.parquet(os.path.join(target, DATA))
