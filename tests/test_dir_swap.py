"""Crash safety of every writer that replaces a live directory.

Each writer is run once to create the old data, then run again with
the rename that moves the new data into place failing — either as an
error the writer sees (the old data must stay live) or as a killed
process (nothing undoes the half-done swap). Re-running the same
operation must then give the new data, readable, with no staged or
set-aside dir left anywhere.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "prueba_tecnica_analista_etl_spark",
)


class InjectedFault(OSError):
    pass


@contextmanager
def failing_rename_in(is_live: Callable[[str], bool], times: int | None):
    """Fail the next ``times`` renames onto a live dir (every one while
    active when ``times`` is None: the process died mid-swap)."""
    real = os.rename
    left = [times]

    def rename(src, dst, *args, **kwargs):
        if is_live(os.path.abspath(os.fspath(dst))) and left[0] != 0:
            if left[0] is not None:
                left[0] -= 1
            raise InjectedFault(f"injected: rename onto {dst}")
        return real(src, dst, *args, **kwargs)

    os.rename = rename
    try:
        yield
    finally:
        os.rename = real


def hidden_dirs(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, _ in os.walk(root)
        for n in dirs
        if n.startswith(".")
    )


def rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def n_parquet(path: str) -> int:
    return sum(1 for n in os.listdir(path) if n.endswith(".parquet"))


@dataclass
class Writer:
    parent: str  # the dir whose listing must not grow
    is_live: Callable[[str], bool]
    run: Callable[[], object]  # the replacing operation under test
    read: Callable[[], object]  # the content a reader sees
    new: object  # read() after a clean run


def _frame(spark, ids, tag):
    return spark.createDataFrame(
        [(i, i % 3, f"{tag}{i}") for i in ids], "id long, p long, v string"
    )


def _sink(spark, root, partitioned):
    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        foreach_batch_upsert,
        foreach_batch_upsert_partitioned,
    )

    target = os.path.join(root, "target")
    data = os.path.join(target, "data")
    if partitioned:
        process = foreach_batch_upsert_partitioned(spark, target, ["id"], "p")
        is_live = lambda p: os.path.dirname(p) == data  # noqa: E731
    else:
        process = foreach_batch_upsert(spark, target, ["id"])
        is_live = lambda p: p == data  # noqa: E731
    process(_frame(spark, range(12), "a"), 0)
    new = sorted(
        [(i, i % 3, "a%d" % i) for i in range(6)]
        + [(i, i % 3, "b%d" % i) for i in range(6, 16)]
    )
    return Writer(
        parent=target,
        is_live=is_live,
        run=lambda: process(_frame(spark, range(6, 16), "b"), 1),
        read=lambda: rows(
            spark.read.option("basePath", data)
            .parquet(data)
            .select("id", "p", "v")
        ),
        new=new,
    )


def _compact(spark, root, partitioned):
    from prueba_tecnica_analista_etl_spark.sources.files import (
        compact_parquet,
        compact_partitioned,
    )

    path = os.path.join(root, "t")
    df = _frame(spark, range(40), "a").repartition(4)
    if partitioned:
        df.write.partitionBy("p").parquet(path)
        df.write.partitionBy("p").mode("append").parquet(path)
        leaves = sorted(n for n in os.listdir(path) if "=" in n)

        def read():
            return rows(spark.read.parquet(path).select("id", "p", "v")), [
                n_parquet(os.path.join(path, leaf)) for leaf in leaves
            ]

        return Writer(
            parent=path,
            is_live=lambda p: os.path.dirname(p) == path,
            run=lambda: compact_partitioned(spark, path, 1 << 30),
            read=read,
            new=(read()[0], [1] * len(leaves)),
        )
    df.write.parquet(path)

    def read():
        return rows(spark.read.parquet(path)), n_parquet(path)

    return Writer(
        parent=root,
        is_live=lambda p: p == path,
        run=lambda: compact_parquet(spark, path, 1 << 30),
        read=read,
        new=(read()[0], 1),
    )


def _ivf(spark, root):
    import random

    from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
        ivf_drift_census,
        ivf_rebalance,
        ivf_write_index,
    )

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    path = os.path.join(root, "idx")
    ivf_write_index(emb, path, k=4, iters=2)

    def read():
        ids = rows(
            spark.read.parquet(os.path.join(path, "data")).select("vec_id")
        )
        return ids, ivf_drift_census(spark, path)["rows"]

    return Writer(
        parent=root,
        is_live=lambda p: p == path,
        run=lambda: ivf_rebalance(spark, path, k=4, iters=2),
        read=read,
        new=read(),
    )


def _export(spark, root):
    from prueba_tecnica_analista_etl_spark.sources.export import (
        export_training_shards,
        verify_training_shards,
    )

    path = os.path.join(root, "shards")
    export_training_shards(_frame(spark, range(30), "a"), path, "id", 3)
    b = _frame(spark, range(20, 50), "b")

    def read():
        data = spark.read.parquet(os.path.join(path, "data"))
        return (
            rows(data.select("id", "p", "v")),
            verify_training_shards(spark, path),
        )

    return Writer(
        parent=root,
        is_live=lambda p: p == path,
        run=lambda: export_training_shards(b, path, "id", 3),
        read=read,
        new=(rows(b), {}),
    )


WRITERS = {
    "upsert_sink": lambda s, r: _sink(s, r, partitioned=False),
    "upsert_sink_partitioned": lambda s, r: _sink(s, r, partitioned=True),
    "compact_parquet": lambda s, r: _compact(s, r, partitioned=False),
    "compact_partitioned": lambda s, r: _compact(s, r, partitioned=True),
    "ivf_rebalance": _ivf,
    "export_training_shards": _export,
}


@pytest.mark.parametrize("mode", ["error", "kill"])
@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_failed_rename_in_keeps_old_or_new(spark, tmp_path, writer, mode):
    root = str(tmp_path)
    w = WRITERS[writer](spark, root)
    old = w.read()
    listing = sorted(os.listdir(w.parent))

    with failing_rename_in(w.is_live, 1 if mode == "error" else None):
        with pytest.raises(InjectedFault):
            w.run()
    if mode == "error":
        assert w.read() == old, "a failed rename-in must leave the old data"

    w.run()
    assert w.read() == w.new
    assert hidden_dirs(root) == []
    assert sorted(os.listdir(w.parent)) == listing


def test_swap_protocol_has_one_owner():
    """The replace-a-live-directory protocol lives only in ``_swap``:
    the per-writer copies it replaced stay deleted, and no writer
    renames directories itself."""
    gone = re.compile(
        r"\b(_swap_in|_recover|_recover_partitioned|_recover_compaction"
        r"|_CMP_TMP|_CMP_OLD)\b"
    )
    found = []
    for d, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    found += [f"{f}: {m}" for m in gone.findall(fh.read())]
    assert found == []

    for rel in (
        "streaming/upsert_sink.py",
        "sources/files.py",
        "operators/ivf_index.py",
        "sources/export.py",
    ):
        with open(os.path.join(PKG, rel)) as fh:
            assert not re.search(r"\bos\.rename\b", fh.read()), rel
