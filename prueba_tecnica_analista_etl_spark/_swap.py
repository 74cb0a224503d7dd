"""Crash-safe replacement of a live directory.

Every writer that replaces a live directory (the streaming upsert
sinks, parquet compaction, the IVF rebalance, the shard export) does
it the same way:

1. :func:`sweep` the parent on entry, repairing what an earlier
   killed run left behind;
2. write the new contents whole to :func:`staged` ``(live)``;
3. :func:`swap` it in: move the live dir aside, rename the staged dir
   in, delete the set-aside copy.

At every point a complete copy exists: the live dir, or its set-aside
copy when a writer dies between the two renames. A rename-in that
raises puts the set-aside copy straight back, so readers keep seeing
the old data. :func:`sweep` restores a set-aside copy whose live dir
is missing and removes every other leftover.

Leftovers are siblings of the live dir named
``.<live>.swap-{new,old}-<token>``. The leading dot hides them from
Spark's partition discovery, so a swap may run on a leaf inside a
table root (``.../data/day=X``) while readers scan the table.
"""

from __future__ import annotations

import os
import re
import shutil
import time

_LEFTOVER = re.compile(r"\.(?P<live>.+)\.swap-(?P<kind>new|old)-[0-9a-f]+")


def _sibling(live: str, kind: str) -> str:
    parent, name = os.path.split(os.path.abspath(live))
    return os.path.join(parent, f".{name}.swap-{kind}-{time.time_ns():016x}")


def staged(live: str) -> str:
    """A fresh path to write the replacement of ``live`` into."""
    return _sibling(live, "new")


def swap(live: str, staged_dir: str) -> None:
    """Replace ``live`` (which may not exist yet) by ``staged_dir``."""
    aside = _sibling(live, "old")
    had = os.path.exists(live)
    if had:
        os.rename(live, aside)
    try:
        os.rename(staged_dir, live)
    except BaseException:
        if had:
            os.rename(aside, live)
        raise
    shutil.rmtree(aside, ignore_errors=True)


def sweep(parent: str, name: str | None = None) -> None:
    """Repair ``parent`` after a killed swap: restore the newest
    set-aside copy of each missing live dir, remove all other
    leftovers. ``name`` limits the sweep to one live dir's leftovers,
    leaving concurrent writers of its siblings alone."""
    try:
        names = sorted(os.listdir(parent), reverse=True)
    except FileNotFoundError:
        return
    for n in names:
        m = _LEFTOVER.fullmatch(n)
        if m is None or (name is not None and m["live"] != name):
            continue
        path = os.path.join(parent, n)
        live = os.path.join(parent, m["live"])
        if m["kind"] == "old" and not os.path.exists(live):
            os.rename(path, live)
        else:
            shutil.rmtree(path, ignore_errors=True)
