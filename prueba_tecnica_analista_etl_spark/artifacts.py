"""Per-corpus staged artifacts: memoized, disk-backed, built once.

Shared intermediates of a corpus (the candidate-pair frame, the
trained IVF quantizer, the per-doc unigram score frame, rank
histograms) are ARTIFACTS: computed once per corpus and reused by
every consumer and every later process until the corpus changes. The
module serves three artifact shapes through ONE private lookup,
:func:`_lookup`:

* :func:`corpus_artifact` -- a DataFrame, persisted as parquet plus a
  schema sidecar (so empty frames and exact types round-trip), and
  served ``localCheckpoint``-ed;
* :func:`census_artifact` -- a driver-side census value (histogram
  offsets, bitset words, probe vectors: O(model), never O(rows)),
  persisted as a pickle;
* :func:`artifact_directory` -- an artifact that IS a directory tree
  (the on-disk IVF index, replay landing folders), populated by
  ``build(tmp)`` and atomically renamed into place.

Each shape supplies only a ``load(path)`` and a ``make(path)``; the
lookup owns everything else, in this order:

1. **memo** -- one dict keyed ``(session id or None, corpus dir,
   record name, corpus fingerprint)``. Sessions are held by WEAK
   reference, and entries of collected sessions are swept on every
   lookup. Directory entries are session-less and count as a hit only
   while their directory still exists.
2. **per-key build lock with a double-check** -- concurrent consumers
   of one key build once; the loser of the race waits and then reads
   the winner's memo entry. The entry is published BEFORE the key's
   lock is dropped, so a caller arriving in between cannot miss both.
3. **disk** -- ``<root>/<corpus-tag>/<record>-<fp8>/``: ``load`` it if
   present (a corrupt copy is removed and rebuilt), else ``make`` it
   (timed through :func:`_record_build`). Writes go to a tmp sibling
   and are renamed into place, so a reader never sees a half-written
   artifact and a concurrent writer that loses the rename discards its
   tmp. Older generations of the same record are then evicted.

The root is :func:`artifact_root` (a per-user cache directory, or
``$PTAE_ARTIFACT_DIR``). It lives OUTSIDE the corpus: test corpora are
read-only, and a sidecar inside the corpus would perturb the
fingerprint that keys it. With the store disabled
(``PTAE_ARTIFACT_DIR=""``, or a root that cannot be created), and for
a corpus whose fingerprint cannot be taken (``-1``), the same path
runs against a process-private temp root that is removed at exit, so
nothing is persisted for later processes.

Keying: the corpus fingerprint (file sizes + mtimes) makes a corpus
REGENERATED under the same path miss and rebuild instead of answering
stale; disk paths also carry ``_STORE_VERSION``, bumped whenever an
artifact builder's semantics change. Corpus tags whose source
directory no longer exists, and roots of older store versions, are
swept once per process, so the store is self-bounding.

:func:`clear_artifacts` is the explicit invalidation path. Only SMALL
post-aggregation frames belong here: persisting a pre-shuffle
exploded frame would trade cheap recompute for materialization I/O.
"""

from __future__ import annotations

import atexit
import contextlib
import json
import os
import pickle
import re
import shutil
import tempfile
import threading
import time
import uuid
import weakref
import zlib
from hashlib import sha1
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The one memo: (id(spark) or None, sf_dir, record, fingerprint) ->
# (weak session ref or None, value).
_MEMO: dict[tuple, tuple["weakref.ref[SparkSession] | None", object]] = {}
_MISS = object()  # load() sentinel: no usable copy on disk

# Bump when any artifact BUILDER's semantics change: the disk paths
# carry it, so persisted artifacts from an older engine revision are
# invisible to (not silently served to) the new code.
# v2: sign_bits moved to the integer-grid signature — ann probe/scored
#     artifacts changed meaning.
# v3: the near-dup family moved from xxhash64 to engine-neutral
#     md5_60 hashing — cached minhash-pair and LSH-truth artifacts
#     changed meaning.
# v4: the streaming near-dup gate's accepted index (rooted inside the
#     documents landing-dir artifact) split into keys/docs frames —
#     a v3 landing dir would resume a sink in the old flat layout.
# v5: the sign-LSH retune (16-bit long -> 128-bit word signatures)
#     renamed every ann probe/scored/census artifact; the old-name v4
#     entries are unreachable dead weight — start clean.
_STORE_VERSION = "v5"

# Disk store root override / kill-switch. Unset -> a per-user cache
# dir; set to a path -> that path; set to "" -> no persistent store
# (a process-private temp root instead).
_ROOT_ENV = "PTAE_ARTIFACT_DIR"
_GC_DONE = False
_PRIVATE_ROOT: str | None = None


# The fingerprint itself is memoized for a short TTL: the walk+stat is
# O(files) per artifact LOOKUP, and one pass issues hundreds of
# lookups against an unchanging directory. Two seconds is far below
# any real regenerate-then-query gap; clear_artifacts and
# invalidate_corpus drop the memo, so the explicit invalidation paths
# never serve a stale fingerprint.
_FP_TTL_S = 2.0
_FP_MEMO: dict[str, tuple[float, int]] = {}


def _corpus_fingerprint(sf_dir: str) -> int:
    """Cheap content fingerprint of a corpus directory: CRC over every
    file's (relative path, size, mtime_ns), O(files) stat calls and no
    data reads -- memoized for _FP_TTL_S seconds per directory. Folded
    into every artifact key so a corpus REGENERATED under the same
    path misses and rebuilds instead of answering from the old corpus
    (stale bloom bitsets dropping true semi-join matches, stale rank
    histograms). A rewrite followed by a lookup within _FP_TTL_S can
    still hit the old generation, so corpus-WRITING helpers call
    :func:`invalidate_corpus` right after the write."""
    now = time.monotonic()
    with _LOCK:
        hit = _FP_MEMO.get(sf_dir)
        if hit is not None and now - hit[0] < _FP_TTL_S:
            return hit[1]
    crc = 0
    try:
        for root, dirs, files in os.walk(sf_dir):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(root, name)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                rec = f"{os.path.relpath(p, sf_dir)}:{st.st_size}:{st.st_mtime_ns}"
                crc = zlib.crc32(rec.encode(), crc)
    except OSError:
        return -1
    with _LOCK:
        _FP_MEMO[sf_dir] = (now, crc)
    return crc


def invalidate_corpus(path: str) -> None:
    """Drop the fingerprint memo for any corpus CONTAINING (or equal
    to, or contained in) ``path`` -- called by every helper that
    WRITES into a directory tree (versioned commits, compaction,
    z-order rewrites, shard export), so the TTL staleness window
    never spans a rewrite. Containment matters both ways: a writer
    deep inside a corpus changes that corpus's fingerprint, and a
    writer rewriting a whole tree invalidates any memoized
    subdirectory."""
    ap = os.path.abspath(path)
    with _LOCK:
        for k in [
            k
            for k in _FP_MEMO
            if os.path.abspath(k) == ap
            or ap.startswith(os.path.abspath(k) + os.sep)
            or os.path.abspath(k).startswith(ap + os.sep)
        ]:
            _FP_MEMO.pop(k, None)


# Consumers run CONCURRENTLY: _LOCK guards the dicts, and a per-key
# build lock (keyed like _MEMO, fingerprint included, so a regenerated
# corpus builds under its own lock) makes "built once per corpus" hold
# under races. Cross-PROCESS races are resolved by the disk rename.
_LOCK = threading.Lock()
_BUILD_LOCKS: dict[tuple, threading.Lock] = {}

# Measured one-time build cost per record name (seconds, cumulative
# across corpora in this process); `bench.py --price-builds` reports
# it. Recording is passive: a perf_counter pair around each build.
BUILD_SECONDS: dict[str, float] = {}


def _record_build(name: str, seconds: float) -> None:
    with _LOCK:
        BUILD_SECONDS[name] = BUILD_SECONDS.get(name, 0.0) + seconds


# ---------------------------------------------------------------- disk


def artifact_root() -> str | None:
    """The persistent store root, or None when disabled
    (``PTAE_ARTIFACT_DIR=""`` or an uncreatable root). Default: a
    per-user cache directory. First use per process sweeps corpus tags
    whose source directory vanished and roots of older store
    versions."""
    global _GC_DONE
    root = os.environ.get(_ROOT_ENV)
    if root == "":
        return None
    if root is None:
        root = os.path.join(
            os.path.expanduser("~"),
            ".cache",
            "prueba_tecnica_analista_etl_spark",
            f"artifacts-{_STORE_VERSION}",
        )
    try:
        os.makedirs(root, exist_ok=True)
    except OSError:
        return None
    if not _GC_DONE:
        _GC_DONE = True
        _gc_vanished_corpora(root)
        _gc_stale_versions(root)
    return root


def _private_root() -> str:
    """Process-private temp root, used when nothing may persist;
    created on first use and removed at process exit."""
    global _PRIVATE_ROOT
    with _LOCK:
        if _PRIVATE_ROOT is None:
            _PRIVATE_ROOT = tempfile.mkdtemp(prefix="ptae_artifacts_")
            atexit.register(shutil.rmtree, _PRIVATE_ROOT, ignore_errors=True)
        return _PRIVATE_ROOT


def _gc_stale_versions(root: str) -> None:
    """Remove sibling store roots from strictly OLDER _STORE_VERSIONs
    (the default layout is .../artifacts-v<N>): this revision can never
    read them, so they are pure disk debt.

    Strictly-older only, compared numerically: an unparseable or
    NEWER version is left alone, so a checkout on v2 sharing a $HOME
    with one on v3 cannot wipe v3's store out from under it."""
    m = re.fullmatch(r"v(\d+)", _STORE_VERSION)
    if m is None:  # defensive: unversioned scheme — prune nothing
        return
    mine = int(m.group(1))
    parent, base = os.path.split(os.path.abspath(root))
    if base != f"artifacts-{_STORE_VERSION}":
        return  # custom root via env var: not ours to prune
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for n in names:
        sib = re.fullmatch(r"artifacts-v(\d+)", n)
        if sib and int(sib.group(1)) < mine:
            shutil.rmtree(os.path.join(parent, n), ignore_errors=True)


def _gc_vanished_corpora(root: str) -> None:
    try:
        tags = os.listdir(root)
    except OSError:
        return
    for tag in tags:
        marker = os.path.join(root, tag, "_corpus_path")
        try:
            with open(marker) as fh:
                src = fh.read().strip()
        except OSError:
            continue
        if src and not os.path.isdir(src):
            shutil.rmtree(os.path.join(root, tag), ignore_errors=True)


def _sanitize(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "_", name)


def _corpus_tag(sf_dir: str) -> str:
    ap = os.path.abspath(sf_dir)
    base = _sanitize(os.path.basename(ap)) or "corpus"
    return f"{base}-{sha1(ap.encode()).hexdigest()[:10]}"


def _disk_dir(root: str, sf_dir: str, name: str, fp: int) -> str:
    """Stable on-disk path for one artifact generation; writes the
    corpus-path marker (for the vanished-corpus GC) on first use."""
    tag_dir = os.path.join(root, _corpus_tag(sf_dir))
    os.makedirs(tag_dir, exist_ok=True)
    marker = os.path.join(tag_dir, "_corpus_path")
    if not os.path.exists(marker):
        try:
            with open(marker + ".tmp", "w") as fh:
                fh.write(os.path.abspath(sf_dir))
            os.replace(marker + ".tmp", marker)
        except OSError:
            pass
    return os.path.join(tag_dir, f"{_sanitize(name)}-{fp & 0xFFFFFFFF:08x}")


def _evict_superseded_disk(final: str) -> None:
    """Remove older generations of the same artifact: siblings sharing
    the name prefix but a different fingerprint suffix (plus any
    orphaned ``.tmp-*`` from a crashed writer)."""
    parent, base = os.path.split(final)
    prefix = base.rsplit("-", 1)[0] + "-"
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for n in names:
        if n == base or not n.startswith(prefix):
            continue
        if re.fullmatch(re.escape(prefix) + r"[0-9a-f]{8}(\.tmp-.*)?", n):
            shutil.rmtree(os.path.join(parent, n), ignore_errors=True)


def _publish(final: str, fill: Callable[[str], None]) -> bool:
    """Populate a fresh tmp sibling of ``final`` with ``fill(tmp)`` and
    rename it into place. A failing ``fill`` removes the tmp and
    re-raises; on a lost rename race the tmp is discarded and the
    winner's copy stands. Returns True iff ``final`` exists afterwards."""
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        os.makedirs(tmp)
        fill(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return os.path.isdir(final)


# -------------------------------------------------------------- lookup


def _serves(key: tuple, spark: SparkSession | None) -> bool:
    """Whether the memo entry under ``key`` may be returned to
    ``spark``. Session-less entries are directory paths: one removed
    under us (a name-scoped clear, another process) is a miss."""
    hit = _MEMO.get(key)
    if hit is None:
        return False
    ref, value = hit
    return os.path.isdir(value) if ref is None else ref() is spark


def _lookup(
    spark: SparkSession | None,
    sf_dir: str,
    record: str,
    load: Callable[[str], object],
    make: Callable[[str], object],
) -> object:
    """The one memo -> lock -> disk -> build path behind every shape.
    ``load(path)`` returns the persisted artifact or ``_MISS``;
    ``make(path)`` builds it, persists it where it can, and returns
    the value to serve."""
    fp = _corpus_fingerprint(sf_dir)
    key = (None if spark is None else id(spark), sf_dir, record, fp)
    with _LOCK:
        for k in [
            k
            for k, (ref, _) in _MEMO.items()
            if ref is not None and ref() is None
        ]:
            del _MEMO[k]
        if _serves(key, spark):
            return _MEMO[key][1]
        build_lock = _BUILD_LOCKS.setdefault(key, threading.Lock())
    with build_lock:
        try:
            # Double-check: a concurrent builder may have published
            # while this thread waited on the build lock.
            with _LOCK:
                if _serves(key, spark):
                    return _MEMO[key][1]
            root = (artifact_root() if fp != -1 else None) or _private_root()
            path = _disk_dir(root, sf_dir, record, fp)
            value = load(path)
            if value is _MISS:
                t0 = time.perf_counter()
                value = make(path)
                _record_build(record, time.perf_counter() - t0)
                _evict_superseded_disk(path)
            with _LOCK:
                # a superseded generation can never hit again and
                # would pin its blocks for the session's lifetime
                for k in [k for k in _MEMO if k[:3] == key[:3] and k != key]:
                    del _MEMO[k]
                _MEMO[key] = (
                    None if spark is None else weakref.ref(spark),
                    value,
                )
        finally:
            # only after the publish above, so no caller can take a
            # fresh lock and still miss the memo
            with _LOCK:
                if _BUILD_LOCKS.get(key) is build_lock:
                    del _BUILD_LOCKS[key]
    return value


# -------------------------------------------------------------- shapes


def corpus_artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the artifact frame ``name`` for ``(spark, sf_dir)``,
    building it with ``build()`` once per corpus. The frame is
    persisted as parquet plus a schema sidecar. The served frame is
    always ``localCheckpoint``-ed: in-session reuse skips the lineage,
    and it stays valid if its generation's files are later removed
    under a live consumer. A frame that cannot round-trip parquet is
    served from the checkpoint of ``build()`` alone."""

    def load(path: str) -> object:
        schema_p = os.path.join(path, "_schema.json")
        data_p = os.path.join(path, "data")
        if not (os.path.isfile(schema_p) and os.path.isdir(data_p)):
            return _MISS
        try:
            with open(schema_p) as fh:
                schema = T.StructType.fromJson(json.load(fh))
            # checkpointing here surfaces a corrupt copy inside the
            # build lock, where it can still be rebuilt
            return spark.read.schema(schema).parquet(data_p).localCheckpoint()
        except Exception:
            shutil.rmtree(path, ignore_errors=True)
            return _MISS

    def make(path: str) -> DataFrame:
        built = build()

        def fill(tmp: str) -> None:
            built.write.parquet(os.path.join(tmp, "data"))
            with open(os.path.join(tmp, "_schema.json"), "w") as fh:
                fh.write(built.schema.json())

        try:
            df = load(path) if _publish(path, fill) else _MISS
        except Exception:
            df = _MISS
        return built.localCheckpoint() if df is _MISS else df

    return _lookup(spark, sf_dir, name, load, make)


def census_artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], object],
) -> object:
    """Return the driver-side census VALUE ``name`` for ``(spark,
    sf_dir)`` -- bucket histograms, bitset words, min/max bounds --
    building it with ``build()`` once per corpus and persisting it as
    a pickle. Only census-sized objects belong here: everything stored
    must be O(buckets|bits|model), never O(rows)."""

    def load(path: str) -> object:
        p = os.path.join(path, "value.pkl")
        if not os.path.isfile(p):
            return _MISS
        try:
            with open(p, "rb") as fh:
                return pickle.load(fh)
        except Exception:
            shutil.rmtree(path, ignore_errors=True)
            return _MISS

    def make(path: str) -> object:
        value = build()

        def fill(tmp: str) -> None:
            with open(os.path.join(tmp, "value.pkl"), "wb") as fh:
                pickle.dump(value, fh)

        with contextlib.suppress(Exception):
            _publish(path, fill)
        return value

    return _lookup(spark, sf_dir, f"census:{name}", load, make)


def artifact_directory(
    sf_dir: str,
    name: str,
    build: Callable[[str], None],
) -> str:
    """Return the path of the DIRECTORY artifact ``name`` for
    ``sf_dir``: ``build(tmp_path)`` populates a fresh tmp directory
    once per corpus, which is atomically renamed to the stable
    fingerprinted path (rename preserves file mtimes, so replay
    landing dirs keep their stamped arrival order)."""

    def load(path: str) -> object:
        return path if os.path.isdir(path) else _MISS

    def make(path: str) -> str:
        if not _publish(path, build):
            raise OSError(f"artifact publish failed: {path}")
        return path

    return _lookup(None, sf_dir, f"dir:{name}", load, make)


# -------------------------------------------------------- invalidation


def clear_artifacts(
    spark: SparkSession | None = None, name: str | None = None
) -> None:
    """Drop memoized artifacts -- all of them, one session's, one
    artifact name's (every shape), or the intersection. The explicit
    invalidation path for callers that rewrite a corpus under the
    same directory.

    Disk scope: a NAME-scoped clear also removes that artifact's
    stored generations (the artifact's definition is void, which no
    fingerprint can detect); a bare ``clear_artifacts()`` wipes the
    whole store; a session-only clear leaves disk alone (disk is
    session-independent, so a later lookup is served from it)."""
    records = None if name is None else {name, f"census:{name}", f"dir:{name}"}
    with _LOCK:
        _FP_MEMO.clear()
        for k in [
            k
            for k in _MEMO
            if (spark is None or k[0] == id(spark))
            and (records is None or k[2] in records)
        ]:
            del _MEMO[k]
    if records is None and spark is not None:
        return
    stems = None if records is None else {_sanitize(r) + "-" for r in records}
    for root in {artifact_root(), _PRIVATE_ROOT} - {None}:
        try:
            tags = os.listdir(root)
        except OSError:
            continue
        for tag in tags:
            tag_dir = os.path.join(root, tag)
            if stems is None:
                shutil.rmtree(tag_dir, ignore_errors=True)
                continue
            try:
                entries = os.listdir(tag_dir)
            except OSError:
                continue
            for n in entries:
                if any(n.startswith(s) for s in stems):
                    shutil.rmtree(os.path.join(tag_dir, n), ignore_errors=True)
