"""Shared artifacts: one ``@artifact`` declaration per memoized value
that several registry keys share — an eagerly checkpointed frame
(shingles, LSH pair lists, unit vectors), a driver-side model (IVF,
PQ, PCA), a guard's pre-flight profile, or the TB marts.

Decorating the builder is the whole declaration::

    @artifact("ivf_model", parents={"unit_vectors"}, warm=True,
              extra=lambda: (N_CENTROIDS, _LLOYD_ITERS))
    def ivf_centroids_cached(spark, sf_dir): ...

* **One memo store.** A value is keyed on its name, the Spark
  application id, ``sf_dir`` with its snapshot fingerprint, ``extra()``
  (hyperparameters, read per call so a monkeypatched constant moves
  the key) and the accessor's arguments after ``sf_dir``. The
  application id, not ``id(spark)``: Python recycles object ids, so an
  id-keyed entry could serve checkpoint frames bound to a stopped
  session. ``snapshot=False`` artifacts (the corpus-independent TB
  marts) key on the application alone. Entries of other applications,
  and entries of the same artifact and ``sf_dir`` under an older
  fingerprint (whatever their ``extra``), are evicted on access.
* **Single-flight builds.** The first caller builds; a concurrent
  caller of the same key waits on that build's future, so nothing is
  built twice. A failed build (``ScaleRefusal`` included) reaches
  every waiter and is not memoized: the next call rebuilds. Waiting
  cannot deadlock, because a caller only waits on a build that has
  already started and builds only call their acyclic parents.
* **Parents** name the artifacts the build consumes and must be
  declared first, so declaration order is a build order.
  ``registry.ARTIFACT_PARENTS`` and ``key_artifact_deps`` are views of
  them. They are declared rather than traced because
  tools/scale_probe.py needs its skip list before anything builds;
  tests/test_artifact_deps.py checks them against the accessor calls
  each build reaches.
* **warm** says how ``registry.warm_shared_artifacts`` pre-builds the
  artifact: ``True`` calls the accessor, a function ``(spark, sf_dir)``
  runs instead (a guard that must refuse first), ``False`` leaves it to
  its first consumer (the profile and pre-flight memos).
"""

from __future__ import annotations

import functools
import threading
import time
from collections.abc import Callable
from concurrent.futures import Future
from pathlib import Path

# guards the store's bookkeeping only; builds run outside it
_LOCK = threading.Lock()
# (name, app, sf_dir, fingerprint, extra, args) -> Future of the value
_STORE: dict[tuple, Future] = {}
_WAITED = threading.local()


class Artifact:
    """The record one ``@artifact`` declaration leaves in ``ARTIFACTS``."""

    def __init__(self, name, parents, warm, snapshot, build):
        self.name = name
        self.parents = frozenset(parents)
        self.warm = warm
        self.snapshot = snapshot
        self.build = build
        self.accessor: Callable = build

    def warm_up(self, spark, sf_dir: str) -> None:
        if callable(self.warm):
            self.warm(spark, sf_dir)
        elif self.snapshot:
            self.accessor(spark, sf_dir)
        else:
            self.accessor(spark)

    def clear(self) -> None:
        """Drop every memoized value of this artifact."""
        with _LOCK:
            for k in [k for k in _STORE if k[0] == self.name]:
                del _STORE[k]


# declaration order: every artifact follows its parents
ARTIFACTS: dict[str, Artifact] = {}


def artifact(
    name: str,
    *,
    parents=(),
    warm: bool | Callable = False,
    extra: Callable[[], tuple] | None = None,
    snapshot: bool = True,
):
    """Declare the decorated builder a shared artifact and return its
    memoized, single-flight accessor (same name and signature:
    ``(spark, sf_dir, *args)``, or ``(spark)`` when ``snapshot`` is
    False)."""

    def deco(build):
        assert name not in ARTIFACTS, f"artifact {name} declared twice"
        unknown = set(parents) - set(ARTIFACTS)
        assert not unknown, f"{name}: parents {unknown} must be declared first"
        rec = Artifact(name, parents, warm, snapshot, build)

        @functools.wraps(build)
        def accessor(spark, *args):
            if snapshot:
                sf_dir, fp, key_args = args[0], snapshot_fingerprint(args[0]), args[1:]
            else:
                sf_dir, fp, key_args = None, None, args
            app = spark.sparkContext.applicationId
            key = (name, app, sf_dir, fp, extra() if extra else (), key_args)
            return _memo(key, lambda: rec.build(spark, *args))

        rec.accessor = accessor
        ARTIFACTS[name] = rec
        return accessor

    return deco


def _memo(key: tuple, build: Callable[[], object]):
    name, app, sf_dir, fp = key[:4]
    me = threading.get_ident()
    with _LOCK:
        for k in [
            k
            for k in _STORE
            if k[1] != app or (k[0] == name and k[2] == sf_dir and k[3] != fp)
        ]:
            del _STORE[k]
        fut = _STORE.get(key)
        owner = fut is None
        if owner:
            fut = _STORE[key] = Future()
            fut.builder = me
    if not owner:
        if fut.builder == me and not fut.done():
            raise RuntimeError(f"artifact {name} requires itself")
        t0 = time.perf_counter()
        try:
            return fut.result()  # re-raises the build's exception
        finally:
            _WAITED.s = blocked_seconds() + time.perf_counter() - t0
    try:
        val = build()
    except BaseException as exc:
        with _LOCK:
            if _STORE.get(key) is fut:
                del _STORE[key]
        fut.set_exception(exc)
        raise
    fut.set_result(val)
    return val


def blocked_seconds() -> float:
    """Seconds the calling thread has spent waiting on other threads'
    builds — what ``warm_shared_artifacts`` subtracts from an
    artifact's seconds."""
    return getattr(_WAITED, "s", 0.0)


def release_snapshot(sf_dir: str) -> int:
    """Drop every memoized artifact built from ``sf_dir``, then GC so
    the freed DataFrames' pinned localCheckpoint blocks can actually
    leave the unified memory pool (localCheckpoint blocks are NOT
    evictable under pressure — they only release when the owning RDD
    is garbage-collected and the ContextCleaner drops its blocks).

    Why this exists: a multi-corpus session (tools/scale_probe.py
    timing a base and a big corpus back to back) otherwise carries the
    base corpus's checkpointed shingle/minhash/unit-vector frames as
    dead weight while the big corpus's shared artifacts build — at
    sf30skew base + sf100skew big that cross-side pinning exhausted a
    64 g pool mid-build ([UNABLE_TO_ACQUIRE_MEMORY] in the minhash
    localCheckpoint) even though each side alone fits comfortably.
    Returns the number of entries dropped. Single-corpus sessions
    (bench.py, the driver gate, pytest) never need to call this."""
    import gc

    with _LOCK:
        dropped = [k for k in _STORE if k[2] == sf_dir]
        for k in dropped:
            del _STORE[k]
    if dropped:
        # Python-side refs gone; collect so py4j finalizers enqueue the
        # JVM-side DataFrame/RDD releases that let the ContextCleaner
        # unpin the checkpoint blocks
        gc.collect()
    return len(dropped)


def snapshot_fingerprint(sf_dir: str) -> tuple:
    """Cheap content fingerprint of a corpus snapshot directory:
    sorted (relative name, size, mtime_ns) of every parquet file under
    it — a pure-metadata stat walk, no data read. Folding this into a
    memo key means a REWRITE of the parquet tables within one Spark
    application invalidates the cached checkpoint/model instead of
    silently serving the stale artifact (ADVICE r5 #4)."""
    root = Path(sf_dir)
    if not root.exists():
        return ("<missing>",)
    return tuple(
        sorted(
            (str(p.relative_to(root)), p.stat().st_size, p.stat().st_mtime_ns)
            for p in root.rglob("*.parquet")
            if p.is_file()
        )
    )
