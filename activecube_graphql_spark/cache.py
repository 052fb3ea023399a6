"""The engine's one cache discipline: :class:`Memo`, a bounded,
thread-safe LRU behind every engine memo (metadata and analyzed plans,
never query results), :func:`file_identity`, the one rule for whether a
source changed, and :func:`frame_over`, the one way a memoized plan
becomes a DataFrame again. Every cache of data-derived state and its
validity key:

* ``Cube.plan_cache``: query spec + identity of every source path.
* ``sources.registry._PARQUET_RELATIONS``: session + file identity.
* ``operators.dedup._MASS_MEMO`` / ``_ROUTE_MEMO``: plan fingerprint +
  identity of every input file; a plan with a non-file leaf (in-memory
  rows) is not memoized.
* ``introspection._SCHEMA_CACHE``: cubes + database + identity of every
  table they read.
* rollup and hot/cold split parquet (``plans.preagg`` / ``segments``):
  a ``/tmp`` directory named by :func:`identity_tag` of the source.
* ``driver_queries._CUBES``: none; it holds cube objects, not data."""

import hashlib
import os
import stat
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse
from typing import Any, Callable, Hashable, Optional

from pyspark.sql import DataFrame, SparkSession

#: entries per memo: far above any serving workload's working set, it
#: only bounds a long-lived process that keeps seeing new keys
CAPACITY = 128


class Memo:
    """Bounded LRU. The lock guards lookup and insert, never ``fn`` (a
    compute may be slow or re-enter another memo). Two threads missing
    one key both compute; the first insert wins and both get it. An
    exception from ``fn`` stores nothing."""

    def __init__(self) -> None:
        self._data: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get_or_compute(self, key: Hashable, fn: Callable[[], Any]) -> Any:
        with self._lock:
            if key in self._data:
                self._data.move_to_end(key)
                return self._data[key]
        value = fn()
        with self._lock:
            value = self._data.setdefault(key, value)
            self._data.move_to_end(key)
            while len(self._data) > CAPACITY:
                self._data.popitem(last=False)
        return value

    def __contains__(self, key: Hashable) -> bool:
        """Membership without touching recency."""
        with self._lock:
            return key in self._data

    def __len__(self) -> int:
        return len(self._data)

    def clear(self) -> None:
        with self._lock:
            self._data.clear()


def file_identity(path: str) -> Optional[tuple]:
    """``(abspath, size, mtime_ns)`` of a file, or None when it can't be
    stat'd. A directory folds in ``(relative path, size, mtime_ns)`` of
    every file under it: its own stat does not change when a part file
    is rewritten in place. ``path`` may be a ``file:`` URI, as
    ``DataFrame.inputFiles()`` returns; other schemes can't be stat'd."""
    if path.startswith("file:"):
        path = unquote(urlparse(path).path)
    try:
        st = os.stat(path)
    except OSError:
        return None
    path = os.path.abspath(path)
    if not stat.S_ISDIR(st.st_mode):
        return (path, st.st_size, st.st_mtime_ns)
    files = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for name in sorted(names):
            full = os.path.join(root, name)
            try:
                fst = os.stat(full)
            except OSError:
                return None
            files.append((os.path.relpath(full, path),
                          fst.st_size, fst.st_mtime_ns))
    return (path, tuple(files))


def identity_tag(path: str) -> str:
    """A short digest of :func:`file_identity`, naming an on-disk cache
    built from ``path``. Raises FileNotFoundError when ``path`` has no
    identity: a cache named by nothing could never be invalidated."""
    ident = file_identity(path)
    if ident is None:
        raise FileNotFoundError(f"no file identity for {path!r}")
    return hashlib.md5(repr(ident).encode()).hexdigest()[:16]


def frame_over(spark: SparkSession, plan: Any) -> DataFrame:
    """A new DataFrame (``Dataset.ofRows``) over a memoized analyzed
    logical plan, so a memo hands out plans and never a DataFrame that
    a caller may already have executed (collecting an executed frame
    again reuses its shuffle files: rows from before a rewrite).

    The Dataset gets a clone of ``plan``; a clone stays marked analyzed,
    so nothing is analyzed again. The clone's root drops the Dataset-id
    tag it copied: every Dataset adds its id to that tag's set on its
    root (the ambiguous-self-join check reads it), and on the memoized
    root the set would grow by one id per hit for the life of the entry
    and be written from concurrent field threads."""
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    root = plan.clone()
    root.unsetTagValue(dataset.DATASET_ID_TAG())
    return DataFrame(dataset.ofRows(spark._jsparkSession, root), spark)
