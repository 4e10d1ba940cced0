"""Session memos: one builder result shared by every query of a Spark
application that reads the same table snapshot.

Several query families share an expensive intermediate (a pinned pair
frame, trained centroids, an ANN index piece). ``@session_memo(table)``
turns a builder ``build(spark, sf_dir) -> value`` into a memo keyed by
``(applicationId, sf_dir, table_fingerprint(sf_dir, table))``: a new
application or a different scale factor builds afresh, and rewriting
the table's files within one application misses instead of serving a
stale value. Each memo has one lock with double-checked locking, so
concurrent first requests (the thread pools that overlap independent
builds) run one build and all receive the identical object.

``memo.clear()`` drops every stored value and frees each DataFrame in
it (a frame, or dict/tuple/list values holding frames) with
``unpersist_checkpoint``. ``clear_session_memos()`` clears every
registered memo except the ``snapshot=True`` ones: their values are a
fixed artifact of the table snapshot, computed once per snapshot and
read warm ever after, so bench passes keep them.

Builders keep their own checkpointing; no builder may call its own
memo (one plain lock per memo would deadlock).
"""

from __future__ import annotations

import functools
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.io import table_fingerprint, unpersist_checkpoint

_MISSING = object()


class SessionMemo:
    """A memoized builder; call it like the builder itself."""

    def __init__(self, build: Callable[[SparkSession, str], Any], table: str, snapshot: bool):
        functools.update_wrapper(self, build)
        self.build = build
        self.table = table
        self.snapshot = snapshot
        self._values: dict[tuple[str, str, str], Any] = {}
        self._lock = threading.Lock()

    def __call__(self, spark: SparkSession, sf_dir: str) -> Any:
        key = (
            spark.sparkContext.applicationId,
            sf_dir,
            table_fingerprint(sf_dir, self.table),
        )
        value = self._values.get(key, _MISSING)
        if value is _MISSING:
            with self._lock:
                value = self._values.get(key, _MISSING)
                if value is _MISSING:
                    value = self._values[key] = self.build(spark, sf_dir)
        return value

    def clear(self) -> None:
        """Drop every stored value and free the checkpoint blocks of the
        frames it holds."""
        with self._lock:
            values = list(self._values.values())
            self._values.clear()
        for value in values:
            _free(value)


def _free(value: Any) -> None:
    if isinstance(value, DataFrame):
        unpersist_checkpoint(value)
    elif isinstance(value, dict):
        for v in value.values():
            _free(v)
    elif isinstance(value, (list, tuple)):
        for v in value:
            _free(v)


#: qualified builder name -> memo, in definition order.
MEMOS: dict[str, SessionMemo] = {}


def session_memo(table: str, *, snapshot: bool = False):
    """Decorator: memoize ``build(spark, sf_dir)`` per application,
    data dir and ``table`` fingerprint, and register it for
    :func:`clear_session_memos`."""

    def wrap(build: Callable[[SparkSession, str], Any]) -> SessionMemo:
        memo = SessionMemo(build, table, snapshot)
        MEMOS[f"{build.__module__}.{build.__qualname__}"] = memo
        return memo

    return wrap


def clear_session_memos() -> None:
    """Clear every registered memo except the ``snapshot`` ones."""
    for memo in MEMOS.values():
        if not memo.snapshot:
            memo.clear()
