"""Session-artifact registry: one store for everything a driver builds once
per Spark application and reuses across calls — prepared plans, trained
models, persisted intermediate frames and on-disk indexes.

``cached(spark, key, build, release)`` is the only lookup and ``release()``
the only teardown. Keys are tuples whose first element names the artifact
kind (``("plan", sf_dir, name)``, ``("bm25_index", sf_dir)``, ...).

Ownership: PySpark runs one SparkContext per process, so the store belongs
to one application at a time. A lookup from a different application first
releases every entry the previous one left, so a long-lived driver never
keeps a stopped session's plans, persisted frames or index directories
alive. The store assumes the single-threaded driver every caller here is.
"""

from __future__ import annotations

import functools
import inspect
import logging
from collections.abc import Callable, Hashable
from typing import Any

_log = logging.getLogger(__name__)

# key -> (value, release callable or None), all owned by application _owner
_ENTRIES: dict[Hashable, tuple[Any, Callable[[Any], object] | None]] = {}
_owner: str | None = None


def cached(
    spark: Any,
    key: Hashable,
    build: Callable[[], Any],
    release: Callable[[Any], object] | None = None,
) -> Any:
    """The artifact stored under ``key`` for ``spark``'s application,
    built with ``build()`` on the first lookup.

    ``release(value)`` runs once when the entry is dropped, by ``release()``
    or by a lookup from another application. Pass what the call site owns:
    unpersist the frames it persisted, ``shutil.rmtree`` the directory it
    wrote. The default drops the reference only. The registry never infers
    a release from the value's type: an unpersisted frame can share its
    logical plan with a persisted one, and Spark's CacheManager dedupes by
    plan, so unpersisting it would uncache the other's data.

    Self-join caveat: a memoized frame is the SAME object for every caller.
    Joining two lookups of it on column objects (``a.x == b.x``) is a
    self-join with shared expression ids and fails as AMBIGUOUS_SELF_JOIN;
    join such frames on column names, or alias them first.
    """
    _claim(spark.sparkContext.applicationId)
    if key not in _ENTRIES:
        _ENTRIES[key] = (build(), release)
    return _ENTRIES[key][0]


def _claim(app: str) -> None:
    """Make ``app`` the owner, first releasing a previous owner's entries."""
    global _owner
    if app != _owner:
        release()
        _owner = app


def release() -> None:
    """Drop every entry, running each one's release callable."""
    for key in list(_ENTRIES):
        value, free = _ENTRIES.pop(key)
        if free is None:
            continue
        try:
            free(value)
        except Exception:  # noqa: BLE001 - keep releasing the rest
            # typically the owning session has already stopped
            _log.debug("release of %r failed", key, exc_info=True)


def memoized_plan(fn: Callable[..., Any]) -> Callable[..., Any]:
    """Memoize a lazy-plan function ``fn(spark, ...)`` through ``cached``,
    keyed on its qualified name and bound arguments (defaults applied, so
    positional and keyword spellings of one call share an entry).

    Plan objects only: every execution of the returned frame recomputes
    from its sources. See ``cached`` for the self-join caveat.
    """
    sig = inspect.signature(fn)
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapped(spark: Any, *args: Any, **kwargs: Any) -> Any:
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (name, *list(bound.arguments.values())[1:])
        return cached(spark, key, lambda: fn(spark, *args, **kwargs))

    return wrapped
