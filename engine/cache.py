"""Input-keyed caches: the one memo every engine module uses.

Keys. An entry lives in a slot: the realpath of each input file or
directory plus the caller's extra parts (a column name, a tag). The slot's
version is each input's (st_mtime_ns, st_size), or None for an input that
cannot be stat'ed. A lookup whose version differs from the stored one
misses, so a rewritten input is never answered from its old entry.

Validation. A fixture is a directory a build fills from the inputs.
Its lookup names the outputs the build leaves, relative to the directory
(``batch{i}.parquet``, Spark's ``_SUCCESS``, a ``CURRENT`` pointer); a hit
with any of them missing rebuilds.

Fixture directories. Every build gets a fresh ``tmpdirs.scratch_dir``, so
the process-exit sweep removes it; a build that raises removes its own
directory first. A value replaced in its slot (an input changed, an
expected output went missing) is superseded: the newest superseded value
per slot is kept, because a lazy plan returned before the rebuild may
still read its files, and older ones are evicted.

Bounds and scope. A Cache holds at most ``max_entries`` slots, and with a
``weigh`` function at most ``max_bytes`` of values; the oldest slot goes
first. Evicting a value calls the cache's ``on_evict`` (rmtree for fixture
directories, unpersist for persisted relations) and that callback is the
only per-cache behaviour. Spark handles (DataFrames, Broadcasts, persisted
relations) are scoped to their application: a lookup passing ``spark=``
from another application id first drops every entry without ``on_evict``,
as a stopped context's handles need no release. The id is read once per
session object, so a hit costs only the ``stat`` calls.

This module imports no pyspark at module level: Python workers import it.
"""

from __future__ import annotations

import os
import shutil
import weakref
from collections.abc import Callable, Iterable

from engine import tmpdirs

_APP_IDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def app_id(spark) -> str:
    """The session's applicationId, read over Py4J once per session object."""
    got = _APP_IDS.get(spark)
    if got is None:
        got = _APP_IDS[spark] = spark.sparkContext.applicationId
    return got


def _version(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class Cache:
    """Bounded memo keyed on input files; see the module docstring."""

    def __init__(
        self,
        max_entries: int = 64,
        *,
        max_bytes: int | None = None,
        weigh: Callable[[object], int] | None = None,
        on_evict: Callable[[object], None] | None = None,
    ) -> None:
        self.max_entries = max_entries
        self.max_bytes = max_bytes
        self._weigh = weigh
        self._on_evict = on_evict
        self._live: dict[tuple, tuple] = {}  # slot -> (version, value)
        self._superseded: dict[tuple, object] = {}  # slot -> value
        self._app: str | None = None

    def __len__(self) -> int:
        return len(self._live)

    def get(
        self,
        inputs: Iterable[str],
        build: Callable[[], object],
        *extra,
        spark=None,
        expect: Iterable[str] = (),
    ):
        """The value for (inputs, extra), calling ``build()`` on a miss."""
        if spark is not None:
            self._scope(spark)
        inputs = tuple(inputs)
        slot = (tuple(os.path.realpath(p) for p in inputs), extra)
        version = tuple(_version(p) for p in inputs)
        hit = self._live.get(slot)
        if (
            hit is not None
            and hit[0] == version
            and all(os.path.exists(os.path.join(hit[1], e)) for e in expect)
        ):
            return hit[1]
        value = build()
        if hit is not None:
            older = self._superseded.pop(slot, None)
            if older is not None:
                self._evict(older)
            self._superseded[slot] = hit[1]
        self._store(slot, (version, value))
        return value

    def put(self, value, *extra, spark=None) -> None:
        """Store ``value`` under ``extra``, evicting the value it replaces."""
        if spark is not None:
            self._scope(spark)
        slot = ((), extra)
        old = self._live.pop(slot, None)
        if old is not None and old[1] is not value:
            self._evict(old[1])
        self._store(slot, ((), value))

    def _scope(self, spark) -> None:
        app = app_id(spark)
        if app != self._app:
            self._live.clear()
            self._superseded.clear()
            self._app = app

    def _held(self) -> int:
        return sum(self._weigh(v) for _, v in self._live.values())

    def _store(self, slot: tuple, entry: tuple) -> None:
        if self.max_bytes is not None and self._weigh(entry[1]) > self.max_bytes:
            return  # could never fit: serve it uncached
        self._live.pop(slot, None)
        self._live[slot] = entry
        while len(self._live) > self.max_entries or (
            self.max_bytes is not None and self._held() > self.max_bytes
        ):
            oldest = next(iter(self._live))
            self._evict(self._live.pop(oldest)[1])
            if oldest in self._superseded:
                self._evict(self._superseded.pop(oldest))

    def _evict(self, value) -> None:
        if self._on_evict is not None:
            self._on_evict(value)


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


_FIXTURES = Cache(on_evict=_rmtree)


def fixture(
    prefix: str,
    inputs: Iterable[str],
    expect: Iterable[str],
    build: Callable[[str], None],
    *extra,
) -> str:
    """A scratch directory that ``build(dir)`` filled from ``inputs``,
    shared by every call with the same prefix, inputs and extra parts
    until an input changes or an ``expect`` output goes missing."""

    def make() -> str:
        d = tmpdirs.scratch_dir(prefix)
        try:
            build(d)
        except BaseException:
            _rmtree(d)
            raise
        return d

    return _FIXTURES.get(inputs, make, prefix, *extra, expect=tuple(expect))


def replay_fixture(
    prefix: str, inputs: Iterable[str], n: int, parts: Callable[[], list]
) -> str:
    """A fixture of ``n`` single-file batches ``batch{i}.parquet``, one per
    DataFrame of ``parts()``, with mtimes in list order: a file stream
    source with maxFilesPerTrigger=1 replays them as ``n`` micro-batches in
    that order."""

    def build(d: str) -> None:
        for i, part in enumerate(parts()):
            tmp = os.path.join(d, f"_part{i}")
            part.coalesce(1).write.parquet(tmp)
            name = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dest = os.path.join(d, f"batch{i}.parquet")
            os.rename(os.path.join(tmp, name), dest)
            _rmtree(tmp)
            os.utime(dest, (1_000_000 + i * 1000,) * 2)

    return fixture(prefix, inputs, [f"batch{i}.parquet" for i in range(n)], build)
