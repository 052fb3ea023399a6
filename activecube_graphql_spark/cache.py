"""The engine's one memo discipline: :class:`Memo`, a bounded,
thread-safe LRU behind every engine memo (metadata and analyzed plans,
never query results), and :func:`file_identity`, the stale-proof key
for source files."""

import os
import stat
import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable, Optional

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
    is rewritten in place."""
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
