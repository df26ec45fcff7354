"""Reuse policy: every piece of state the engine keeps across calls.

**Per-call scratch** (``track`` / ``release_tracked`` /
``tracking_scope``). A query that persists an intermediate feeding
several legs of its OWN returned plan cannot unpersist it before the
caller materializes that lazy plan, and in a long shared session those
blocks would pile up for the application lifetime (the r2 late-suite
OOM). Queries call ``track(df.persist())``; harness loops call
``release_tracked()`` after materializing each result. Threaded
harnesses use ``tracking_scope()`` so one thread's release never
unpersists frames another thread's query still needs.

**Memo store** (``memo`` / ``peek`` / ``put`` / ``release``). Every value
reused ACROSS calls is an entry keyed by ``(applicationId, namespace,
key, fingerprint)``:

- ``applicationId`` is unique per SparkContext lifetime (``id(spark)`` is
  reused by CPython after GC and could serve a dead session's frame). The
  first insert under a new application drops every other application's
  entries in all namespaces.
- Values derived from source files carry ``staging.source_fingerprint``
  of those files, so a rewritten fixture gets a fresh entry. If the
  fingerprint raises ``OSError`` the value is built and not stored.
  Content-addressed keys (uuid commit dirs, staged paths) need none.
- Dropping an entry — ``release``, that sweep, LRU eviction (each
  namespace is capped by a constant at its call site), or a new
  fingerprint for its key — unpersists the DataFrames it owns, including
  frames ``put`` while its ``memo`` build ran.
- Hits and misses are counted per namespace (``counts``).

Why the reuse is safe and what it saves. A memoized DataFrame is a lazy
plan, not rows, unless its site persists it on purpose: every action
still scans the parquet inputs.

- ``plan``: builders declared ``@register(..., memo=True)``. Rebuilding
  one re-ran hundreds of py4j constructions and an analysis pass for an
  identical plan — 41 s of the 124 s warm bench at sf0.1. Eligible only
  if the second build launches zero Spark jobs and writes nothing, so
  convergence loops, scenario/sink roundtrips and streams are not
  declared. Scratch frames the builder tracked are re-persisted at their
  storage level and re-tracked on every hit.
- ``table``: ``spark.read.parquet`` costs ~110 ms of driver time per call
  (schema inference, listing, DataSource resolution).
- ``commit_schema`` / ``read_plan``: table data files sit in
  uuid-addressed, write-once commit dirs, so a commit's schema and a read
  plan over a file list never change. A known schema cuts reader creation
  from ~180 ms to ~70 ms per commit group at sf0.1.
- ``staged_read``: staged paths are content-addressed and immutable;
  re-reading one costs ~0.3-0.4 s of listing and footers at sf0.1.
- ``pipeline`` / ``pipeline_full``: the pipeline queries share one EP2
  classify chain (~8 jobs each unshared) and its persisted star frames
  (23 warm jobs → 8 on the full-groups aggregation).
"""

from __future__ import annotations

import threading
from collections import Counter, OrderedDict
from contextlib import contextmanager
from typing import Any, Callable, Hashable, Iterable

from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
_SCOPED = threading.local()  # .stack: list[list[DataFrame]] per thread
_BUILDS = threading.local()  # .stack: frames owned by memo builds in flight

# namespace -> (application, key) -> (fingerprint, value, owned frames)
_MEMO: dict[str, OrderedDict] = {}
_HITS: Counter = Counter()
_MISSES: Counter = Counter()
_LIVE_APP: str | None = None


def _stack(local: threading.local) -> list:
    if not hasattr(local, "stack"):
        local.stack = []
    return local.stack


def _current_list() -> list[DataFrame]:
    stack = _stack(_SCOPED)
    return stack[-1] if stack else _TRACKED


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame for later bulk release: into
    the innermost :func:`tracking_scope` on this thread if one is
    active, else the process-global list."""
    with _LOCK:
        _current_list().append(df)
    return df


def _drain(frames: Iterable[DataFrame]) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass


def release_tracked() -> None:
    """Unpersist every frame in the CURRENT tracking context (the active
    scope on this thread, else the global list). Safe to call
    repeatedly."""
    with _LOCK:
        frames = list(_current_list())
        _current_list().clear()
    _drain(frames)


@contextmanager
def tracking_scope():
    """Collect every ``track()`` on this thread into a private list and
    unpersist exactly those frames on exit."""
    frames: list[DataFrame] = []
    with _LOCK:
        _stack(_SCOPED).append(frames)
    try:
        yield frames
    finally:
        with _LOCK:
            _SCOPED.stack.pop()
            pending = list(frames)
            frames.clear()
        _drain(pending)


def _lookup(app: str, namespace: str, key: Hashable, fp: Hashable):
    with _LOCK:
        entries = _MEMO.get(namespace, {})
        entry = entries.get((app, key))
        if entry is not None and entry[0] == fp:
            entries.move_to_end((app, key))
            _HITS[namespace] += 1
            return True, entry[1]
        _MISSES[namespace] += 1
        return False, None


def _insert(app, namespace, key, fp, value, frames, cap: int) -> None:
    global _LIVE_APP
    dropped = []
    with _LOCK:
        if app != _LIVE_APP:
            for entries in _MEMO.values():
                for k in [k for k in entries if k[0] != app]:
                    dropped.append(entries.pop(k))
            _LIVE_APP = app
        entries = _MEMO.setdefault(namespace, OrderedDict())
        if (app, key) in entries:
            dropped.append(entries.pop((app, key)))
        entries[(app, key)] = (fp, value, tuple(frames))
        while len(entries) > cap:
            dropped.append(entries.popitem(last=False)[1])
    _drain(f for entry in dropped for f in entry[2])


def memo(
    spark: SparkSession,
    namespace: str,
    key: Hashable,
    build: Callable[[], Any],
    *,
    cap: int,
    fingerprint: Callable[[], Hashable] | None = None,
    frames: Callable[[Any], Iterable[DataFrame]] | None = None,
) -> Any:
    """The value under ``(application, namespace, key, fingerprint())``;
    on a miss ``build()`` it and store it, owning ``frames(value)``."""
    app = spark.sparkContext.applicationId
    try:
        fp = fingerprint() if fingerprint is not None else None
    except OSError:  # the source cannot be keyed: build, store nothing
        with _LOCK:
            _MISSES[namespace] += 1
        return build()
    hit, value = _lookup(app, namespace, key, fp)
    if hit:
        return value
    held: list[DataFrame] = []
    _stack(_BUILDS).append(held)
    try:
        value = build()
    finally:
        _BUILDS.stack.pop()
    owned = [*(frames(value) if frames is not None else ()), *held]
    _insert(app, namespace, key, fp, value, owned, cap)
    return value


def peek(spark: SparkSession, namespace: str, key: Hashable) -> Any:
    """The value stored under ``key`` (no fingerprint), or None."""
    return _lookup(spark.sparkContext.applicationId, namespace, key, None)[1]


def put(spark: SparkSession, namespace: str, key: Hashable, value: Any, *,
        cap: int, frames: Iterable[DataFrame] = ()) -> None:
    """Store ``value`` under ``key`` (no fingerprint), owning ``frames``;
    the ``memo`` build in flight on this thread, if any, owns them too."""
    frames = tuple(frames)
    if _stack(_BUILDS):
        _BUILDS.stack[-1].extend(frames)
    _insert(spark.sparkContext.applicationId, namespace, key, None, value, frames, cap)


def release(namespace: str | None = None) -> None:
    """Drop every entry of ``namespace`` (default: all), unpersisting the
    frames they own."""
    with _LOCK:
        names = list(_MEMO) if namespace is None else [namespace]
        dropped = [e for n in names for e in _MEMO.pop(n, {}).values()]
    _drain(f for entry in dropped for f in entry[2])


def counts(namespace: str) -> tuple[int, int]:
    """(hits, misses) of ``namespace`` since the process started."""
    with _LOCK:
        return _HITS[namespace], _MISSES[namespace]


def keys(namespace: str) -> list[tuple[str, Hashable]]:
    """The ``(application, key)`` pairs stored in ``namespace``."""
    with _LOCK:
        return list(_MEMO.get(namespace, ()))
