"""Stateful streaming upsert sinks (T5/T7/T8): the reference's
staging→UPSERT procedure per micro-batch, via ``foreachBatch``.

Both sinks run one micro-batch frame and differ only in merge scope:
:func:`foreach_batch_upsert` rewrites the whole target,
:func:`foreach_batch_upsert_partitioned` only the partitions the
batch's keys fall in. Per micro-batch the frame

1. skips a batch id the ``etl_control`` ledger already holds
   (reference design ``nb:372``/``nb:356``), so at-least-once delivery
   is effectively-once in the sink;
2. persists the batch once for the reject split, the DLQ write and
   the merge;
3. routes rows failing the caller's rules (T6) to
   ``{target}/_rejects/batch_id=<n>`` with a ``reject_reason`` column,
   OVERWRITING that batch's dir, so a replayed in-flight batch
   replaces its own partial output instead of appending a duplicate;
4. sweeps the leftovers of a killed earlier swap, merges with the J4
   join-rewrite, writes the result whole to a staged dir and swaps it
   in (``_swap``: the metastore-free equivalent of the reference's
   re-runnable DROP+ADD idempotency — every crash point leaves the old
   or the new data);
5. appends (batch_id, estado, filas) to the ledger; ``filas`` is the
   row count of what the merge wrote, counted during the write by an
   ``Observation``.

A warm batch of the plain (non-CDC) whole-target sink with rejects
runs 9 Spark jobs:

1. the ledger probe: one filtered ``collect`` of the batch id;
2. the reject probe: ``isEmpty`` on the persisted batch (one job on a
   single-file batch; it also fills the cache);
3. the DLQ write;
4. the base read's schema inference (the on-disk schema stays the
   source of truth);
5. the merge's batch dedup shuffle (the ``first()`` aggregate);
6. the merge's key-distinct shuffle for the anti-join's build side;
7. the broadcast of those keys;
8. the write of the merged rows;
9. the ledger append: one row built on the JVM, one file.

A batch without rejects skips job 3; the first batch has no ledger
or base to read.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable, Sequence
from typing import TypeVar

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark._swap import staged, swap, sweep
from prueba_tecnica_analista_etl_spark.operators.dedupe import keep_first
from prueba_tecnica_analista_etl_spark.operators.quality import split_rejects
from prueba_tecnica_analista_etl_spark.operators.upsert import (
    cdc_apply,
    upsert,
)

CONTROL = "_etl_control"
REJECTS = "_rejects"
DATA = "data"
_CONTROL_SCHEMA = "batch_id long, estado string, filas long"


_R = TypeVar("_R")


def run_with_retry(
    fn: Callable[[], _R],
    attempts: int = 3,
    backoff_s: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> _R:
    """Driver-side retry with exponential backoff (T8, reference design
    ``nb:372``): transient failures (executor loss, storage hiccups)
    get ``attempts`` tries with 1×, 2×, 4×… ``backoff_s`` waits; the
    idempotent batch ledger makes a retried ``process(batch, id)`` a
    safe no-op for work that already committed. Last failure re-raises
    so the caller's control table records the batch as failed, not
    silently skipped."""
    last: BaseException | None = None
    for i in range(attempts):
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 - retry then re-raise
            last = ex
            if i < attempts - 1:
                sleep(backoff_s * (2**i))
    assert last is not None
    raise last


def _paths(target: str) -> tuple[str, str, str]:
    return (
        os.path.join(target, DATA),
        os.path.join(target, CONTROL),
        os.path.join(target, REJECTS),
    )


def _write_rejects(rejected: DataFrame, rej_path: str, batch_id: int) -> None:
    """Idempotent DLQ write: each batch owns ``{rej}/batch_id=<n>`` and
    OVERWRITES it, so a replayed in-flight batch (crash between the
    reject write and the ledger commit) replaces its own partial dir
    rather than appending duplicates. ``spark.read.parquet(rej_path)``
    surfaces ``batch_id`` as a partition column.

    Legacy migration: a pre-partitioning ``_rejects`` dir holds flat
    append-mode files; mixing flat files with ``batch_id=`` dirs makes
    partition discovery fail ('conflicting directory structures'), so
    any flat parquet files are first moved into ``batch_id=-1`` (the
    unattributed-legacy bucket) — a pure file move, done once."""
    if os.path.isdir(rej_path):
        flat = [
            e
            for e in os.scandir(rej_path)
            if e.is_file() and e.name.endswith(".parquet")
        ]
        if flat:
            legacy = os.path.join(rej_path, "batch_id=-1")
            os.makedirs(legacy, exist_ok=True)
            for e in flat:
                shutil.move(e.path, legacy)
    rejected.write.mode("overwrite").parquet(
        os.path.join(rej_path, f"batch_id={batch_id}")
    )


def read_control(spark: SparkSession, target: str) -> DataFrame | None:
    """The ``etl_control`` ledger of ``target``: one
    ``(batch_id long, estado string, filas long)`` row per committed
    batch, or None before the ledger dir exists. The schema is pinned,
    not inferred, so a ledger with no committed file (a first append
    killed before its commit leaves only ``_temporary/``) reads as
    empty instead of failing schema inference."""
    ctrl = _paths(target)[1]
    if not os.path.exists(ctrl):
        return None
    return spark.read.schema(_CONTROL_SCHEMA).parquet(ctrl)


def _sink(
    spark: SparkSession,
    target: str,
    split: Callable[[DataFrame], tuple[DataFrame, DataFrame | None]],
    merge: Callable[[DataFrame], int],
) -> Callable[[DataFrame, int], None]:
    """The micro-batch frame both sinks share. ``split(batch)`` returns
    the rows to merge and the rejected rows (None without rules);
    ``merge(rows)`` writes and swaps in the merged target and returns
    the ``filas`` the ledger records."""
    data_path, ctrl_path, rej_path = _paths(target)

    def process(batch: DataFrame, batch_id: int) -> None:
        ctrl = read_control(spark, target)
        # one job whatever the ledger's file count: limit/take/isEmpty
        # would scan its partitions in growing rounds
        if ctrl is not None and (
            ctrl.filter(ctrl.batch_id == batch_id).select("batch_id").collect()
        ):
            return  # replayed batch → already merged (idempotent)

        # the batch feeds the reject split, the DLQ write and the
        # merge — persist once instead of re-evaluating the source
        # (and the rules) for each action
        src = batch.persist()
        try:
            rows, rejected = split(src)
            if rejected is not None and not rejected.isEmpty():
                _write_rejects(rejected, rej_path, batch_id)
            sweep(target)
            sweep(data_path)
            n = merge(rows)
            # built on the JVM: one partition, one ledger file, no
            # Python-worker round trip
            spark.range(1, numPartitions=1).select(
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                F.lit("OK").alias("estado"),
                F.lit(int(n)).cast("long").alias("filas"),
            ).write.mode("append").parquet(ctrl_path)
        finally:
            src.unpersist()

    return process


def _split_upserts(
    batch: DataFrame, keys: Sequence[str], rules: dict[str, Column] | None
) -> tuple[DataFrame, DataFrame | None]:
    """Plain-upsert intake: rule failures split off, then the batch is
    made unique on the keys — upsert()'s precondition, which an
    at-least-once source can break WITHIN one batch (e.g. overlapping
    landing files). The survivor pick is arbitrary: duplicates are
    redeliveries of the same row."""
    rejected = None
    if rules:
        batch, rejected = split_rejects(batch, rules)
    return batch.dropDuplicates(list(keys)), rejected


def foreach_batch_upsert(
    spark: SparkSession,
    target: str,
    keys: Sequence[str],
    rules: dict[str, Column] | None = None,
    op_col: str | None = None,
    delete_value: str = "D",
    cdc_order: Sequence[Column | str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` callback. Usage::

        stream.writeStream.foreachBatch(
            foreach_batch_upsert(spark, target, ["event_id"])
        ).trigger(availableNow=True).start()

    ``op_col`` switches the sink from pure upsert to CDC-APPLY: the
    stream is an ordered change log whose ``op_col`` may carry
    ``delete_value`` rows, each micro-batch is compacted to its final
    op per key under ``cdc_order`` (descending change-time — REQUIRED
    with ``op_col``, because 'last op wins' is meaningless without a
    total order), deletes remove target keys, everything else merges
    as usual, and the ``op_col`` never reaches the target schema.
    With ``rules``, validation applies to the FINAL non-delete op per
    key (post-compaction); delete markers bypass rules entirely —
    they carry no payload to validate — and a rejected final upsert
    leaves its key untouched instead of applying a superseded op.
    This is the streaming materialization of a Debezium/Kafka-compact
    changefeed, sharing the sink's idempotency ledger (a replayed
    batch re-applies the same compacted ops — a fixpoint).

    Scale note: this variant reads and REWRITES the whole target every
    micro-batch — O(|target|) per batch, fine for harness-sized targets
    but a scale-killer against a 100 TB base. At scale use
    :func:`foreach_batch_upsert_partitioned` (rewrites only the
    partitions containing incoming keys) or a bucketed/Delta target.
    """
    if op_col is not None and cdc_order is None:
        raise ValueError("op_col requires cdc_order (last-op order)")
    data_path = _paths(target)[0]

    def split(batch: DataFrame) -> tuple[DataFrame, DataFrame | None]:
        if op_col is None:
            return _split_upserts(batch, keys, rules)
        # CDC: compaction runs FIRST (the survivor MUST be the newest
        # op) and rules see only the FINAL non-delete op per key.
        # Delete markers bypass validation by design (they typically
        # carry NULL payload columns, which ordinary rules would
        # quarantine — silently losing the delete); and a rejected
        # final upsert quarantines its key untouched rather than
        # resurrecting a superseded older op.
        batch = keep_first(batch, keys, cdc_order)
        if not rules:
            return batch, None
        is_delete = F.col(op_col).eqNullSafe(delete_value)
        accepted, rejected = split_rejects(batch.filter(~is_delete), rules)
        return accepted.unionByName(batch.filter(is_delete)), rejected

    def merge(batch: DataFrame) -> int:
        if os.path.exists(data_path):
            base = spark.read.parquet(data_path)
            if op_col is not None:
                merged = cdc_apply(
                    base,
                    batch.select(*base.columns, op_col),
                    keys,
                    op_col=op_col,
                    delete_value=delete_value,
                )
            else:
                merged = upsert(base, batch.select(*base.columns), keys)
        elif op_col is not None:
            # first batch: the target is born from the surviving
            # (non-delete) final ops.  eqNullSafe, matching
            # cdc_apply's contract — a NULL op is an upsert, and
            # `!= delete_value` would evaluate NULL and silently
            # drop it on exactly (and only) the batch where the
            # target does not exist yet.
            merged = batch.filter(
                ~F.col(op_col).eqNullSafe(delete_value)
            ).drop(op_col)
        else:
            merged = batch
        # filas = the rows written, counted during the write
        obs = Observation()
        tmp = staged(data_path)
        merged.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(tmp)
        swap(data_path, tmp)
        return obs.get["n"]

    return _sink(spark, target, split, merge)


def foreach_batch_upsert_partitioned(
    spark: SparkSession,
    target: str,
    keys: Sequence[str],
    partition_col: str,
    rules: dict[str, Column] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Partition-scoped streaming upsert (the 100 TB shape of T5).

    The target is laid out as ``data/{partition_col}={v}/…`` and each
    micro-batch rewrites ONLY the partitions its keys fall in: the base
    is read partition-pruned to the batch's partition values, merged
    with the J4 join-rewrite, written to a staged dir, and the touched
    partition dirs are swapped in one by one. Untouched partitions'
    files are never opened, let alone rewritten — per-batch cost is
    O(|touched partitions| + |batch|), not O(|target|). A crash
    between two partition swaps leaves some partitions merged and no
    ledger row; the replayed batch merges again, which is a fixpoint.

    ``partition_col`` must be a stable function of the key columns
    (e.g. a date or hash-bucket of the key), otherwise a key could move
    between partitions and survive in two places.

    The ``filas`` ledger column records rows in the REWRITTEN slice
    (counting the whole target would be the O(|target|) scan this
    variant exists to avoid).
    """
    data_path = _paths(target)[0]

    def merge(batch: DataFrame) -> int:
        vals = [
            r[0] for r in batch.select(partition_col).distinct().collect()
        ]
        # isin() never matches NULL (SQL three-valued logic), but a
        # NULL partition value lands in __HIVE_DEFAULT_PARTITION__
        # and its dir IS swapped below — without the explicit
        # isNull branch the base rows of that partition would be
        # excluded from the merge and silently dropped by the swap.
        nonnull = [v for v in vals if v is not None]
        touched = (
            F.col(partition_col).isin(nonnull) if nonnull else F.lit(False)
        )
        if len(nonnull) < len(vals):
            touched = touched | F.col(partition_col).isNull()
        if os.path.exists(data_path):
            base_slice = (
                spark.read.option("basePath", data_path)
                .parquet(data_path)
                .filter(touched)
            )
            merged = upsert(
                base_slice, batch.select(*base_slice.columns), keys
            )
        else:
            merged = batch
        # filas = the rewritten slice's rows, counted during the write
        obs = Observation()
        tmp = staged(data_path)
        merged.observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.partitionBy(partition_col).mode("overwrite").parquet(tmp)
        os.makedirs(data_path, exist_ok=True)
        for d in sorted(os.listdir(tmp)):
            if d.startswith(f"{partition_col}="):
                swap(os.path.join(data_path, d), os.path.join(tmp, d))
        shutil.rmtree(tmp, ignore_errors=True)
        return obs.get["n"]

    return _sink(
        spark, target, lambda b: _split_upserts(b, keys, rules), merge
    )
